package perfbench

import graft.cdc.{CdcApplier, DebeziumAdapter}
import graft.migrate.Migrator
import graft.ops.Transforms
import graft.sources.JdbcSnapshot
import graft.streaming.StreamingCdc
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, lower, max}
import org.apache.spark.sql.types._

import java.io.File
import scala.collection.mutable

/** The first half of the reference's manual workflow, one round of:
  * snapshot-migrate the tables (`orders` and `lineitem` from embedded
  * Derby through partitioned JDBC range scans, the rest from parquet
  * with one table carrying a column-skip/WHERE/converter spec), seed
  * the replication state from the migrated snapshot, then drain a
  * Debezium backlog of about a third of the migrated rows in one
  * AvailableNow run of the pump. The caught-up state is where
  * [[ReplicateLive]] continues.
  */
final class MigrateCatchup(spark: SparkSession, a: Main.Args, res: Main.Result,
    trace: Trace) {
  import MigrateCatchup._
  import Main.{median, timed}

  private val src = s"${a.data}/src"
  private val backlog = s"${a.data}/backlog"
  private val work = new File(a.out, "work")
  private val derbyUrl = s"jdbc:derby:${work.getAbsolutePath}/derby/source;create=true"
  private var maxKey = Map.empty[String, Long]
  private var srcRows = 0L
  private var backlogRows = 0L
  private var lastRound = 0

  private def jdbcOpts(table: String): Map[String, String] =
    JdbcSnapshot.options(derbyUrl, "APP", table.toUpperCase,
      partitioning = Some(JdbcSnapshot.Partitioning(
        JdbcKey(table), 0L, maxKey(table) + 1, a.cores)),
      quote = "\"") + ("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")

  def setup(): Unit = {
    JdbcTables.foreach(loadDerby)
    srcRows = (JdbcTables ++ ParquetTables).map(t => spark.read.parquet(s"$src/$t.parquet").count()).sum
    backlogRows = spark.read.text(backlog).count()
    res.info("source_rows") = srcRows.toString
    res.info("backlog_changes") = backlogRows.toString
    round(0) // warm-up in a cold JVM, untimed
  }

  /** Load one source table into Derby with the bulk importer, from a
    * CSV copy of the generated parquet; strings become VARCHAR. */
  private def loadDerby(t: String): Unit = {
    val df = spark.read.parquet(s"$src/$t.parquet")
    maxKey += t -> df.agg(max(JdbcKey(t))).head.getLong(0)
    val csv = s"${work.getAbsolutePath}/csv/$t"
    df.coalesce(1).write.option("timestampFormat", "yyyy-MM-dd HH:mm:ss").csv(csv)
    val part = new File(csv).listFiles.find(_.getName.endsWith(".csv")).get
    val ddl = df.schema.fields.map { f =>
      val sqlType = f.dataType match {
        case LongType => "BIGINT"
        case IntegerType => "INTEGER"
        case DoubleType => "DOUBLE"
        case TimestampType => "TIMESTAMP"
        case _ => "VARCHAR(32)"
      }
      s""""${f.name}" $sqlType"""
    }
    val conn = java.sql.DriverManager.getConnection(derbyUrl)
    try {
      val st = conn.createStatement()
      st.execute(s"CREATE TABLE APP.${t.toUpperCase} (${ddl.mkString(", ")})")
      st.execute(s"CALL SYSCS_UTIL.SYSCS_IMPORT_TABLE('APP', '${t.toUpperCase}', " +
        s"'${part.getAbsolutePath}', ',', '\"', 'UTF-8', 0)")
    } finally conn.close()
  }

  private def dst(r: Int) = s"${work.getAbsolutePath}/round$r/dst"
  private def rootOf(r: Int) = s"${work.getAbsolutePath}/round$r/state"

  private val rounds = mutable.ArrayBuffer.empty[(Double, Double, Double)]

  /** One round; returns (migrate, seed, drain) seconds, or None if any
    * step failed. */
  private def round(r: Int): Option[(Double, Double, Double)] = {
    Main.rmrf(new File(s"${work.getAbsolutePath}/round${r - 1}"))
    Main.clearState(spark)
    val root = rootOf(r)
    val (migrated, tMig) = timed(trace.span("migrate") { migrate(r) })
    val (seeded, tSeed) = timed(trace.span("streaming.seed") {
      migrated.flatMap(_ => res.op("seed") { seed(r, root) })
    })
    val (drained, tDrain) = timed(trace.span("streaming.drain") {
      seeded.flatMap(_ => res.op("catchup") { drain(r, root) })
    })
    lastRound = r
    res.noteRetainedHeap()
    drained.map(_ => (tMig, tSeed, tDrain))
  }

  private def migrate(r: Int): Option[Unit] = {
    val jdbc = JdbcTables.map { t =>
      res.op(s"migrate $t") {
        val m = trace.span(s"migrate.jdbc.$t") {
          Migrator.migrateJdbcTable(spark, jdbcOpts(t), dst(r), t)
        }
        require(m.reconciled, s"$t: src=${m.srcRows} dst=${m.dstRows}")
      }
    }
    val parquet = res.op("migrate parquet tables") {
      trace.span("migrate.parquet") {
        Migrator.migrateAll(spark, src, dst(r), ParquetTables, spec = spec)
      }
    }
    if (jdbc.forall(_.isDefined) && parquet.isDefined) Some(()) else None
  }

  private def rowSchema(r: Int, t: String): StructType =
    spark.read.parquet(s"${dst(r)}/$t.parquet").schema

  private def seed(r: Int, root: String): Unit = JdbcTables.foreach { t =>
    val snap = spark.read.parquet(s"${dst(r)}/$t.parquet")
    StreamingCdc.mergeIntoState(asInserts(snap), s"$root/${Db}__$t", Pk(t),
      DebeziumAdapter.orderCols)
  }

  private def drain(r: Int, root: String): Unit = {
    val raw = spark.readStream.text(backlog)
    val q = StreamingCdc.startDebezium(raw, root, s"${work.getAbsolutePath}/round$r/ckpt",
      db = Db, tableSchemas = JdbcTables.map(t => t -> rowSchema(r, t)).toMap,
      pk = Pk("orders"), pkFor = Pk)
    q.awaitTermination()
    q.exception.foreach(e => throw e)
  }

  /** Untraced rounds for the run's seconds, at least one. */
  def measure(): Unit = {
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    var r = 1
    while (r == 1 || System.nanoTime() < deadline) {
      round(r).foreach(rounds += _)
      r += 1
    }
    report()
  }

  private def report(): Unit = if (rounds.nonEmpty) {
    def med(f: ((Double, Double, Double)) => Double) = median(rounds.map(f).toSeq)
    res.metrics("rows_per_s") = med(x => (srcRows + backlogRows) / (x._1 + x._2 + x._3))
    res.metrics("latency_p50_s") = med(x => x._1 + x._2 + x._3)
    res.metrics("migrate.rows_per_s") = med(x => srcRows / x._1)
    res.metrics("catchup.rows_per_s") = med(x => backlogRows / x._3)
    res.info("migrate/seed/drain_s") = rounds.map(x => f"${x._1}%.2f/${x._2}%.2f/${x._3}%.2f").mkString(" ")
  }

  /** An untraced round, then a traced one and each layer's probe; the
    * pair gives the tracing overhead. */
  def traced(): Unit = {
    trace.quiesce()
    val (_, plain) = timed(round(1))
    trace.listen()
    trace.span("round")(round(2)).foreach(rounds += _)
    probes(lastRound)
    trace.quiesce()
    report()
    LayerStats.migrate(trace, res, a.cores, backlogRows)
    LayerStats.overhead(trace, res, "round", Seq(plain))
  }

  /** Each layer's public call timed alone on this round's inputs,
    * materialized with the noop sink. */
  private def probes(r: Int): Unit = {
    val noop = (df: DataFrame) => df.write.format("noop").mode("overwrite").save()
    val (_, tScan) = timed(trace.span("sources.jdbc_scan") {
      JdbcTables.foreach(t => noop(JdbcSnapshot.read(spark, jdbcOpts(t))))
    })
    res.metrics("sources.jdbc_scan_s") = tScan
    res.metrics("sources.jdbc_rows_per_s") =
      JdbcTables.map(t => spark.read.parquet(s"$src/$t.parquet").count()).sum / tScan
    val raw = spark.read.text(backlog).cache()
    raw.count()
    val (_, tParse) = timed(trace.span("cdc.parse") {
      JdbcTables.foreach { t =>
        noop(DebeziumAdapter.forTable(DebeziumAdapter.parse(raw, rowSchema(r, t), Pk(t)), Db, t))
      }
    })
    res.metrics("cdc.parse_s") = tParse
    res.metrics("cdc.parse_rows_per_s") = backlogRows / tParse
    val (_, tApply) = timed(trace.span("cdc.apply") {
      JdbcTables.foreach { t =>
        val batch = DebeziumAdapter.forTable(
          DebeziumAdapter.parse(raw, rowSchema(r, t), Pk(t)), Db, t)
        val state = asInserts(spark.read.parquet(s"${dst(r)}/$t.parquet")).drop(CdcApplier.OpCol)
        noop(CdcApplier.applyBatch(state, batch, Pk(t), DebeziumAdapter.orderCols.map(col)))
      }
    })
    res.metrics("cdc.apply_s") = tApply
    raw.unpersist()
  }

  def stateRoot: String = rootOf(lastRound)

  def rowSchemas: Map[String, StructType] = JdbcTables.map(t => t -> rowSchema(lastRound, t)).toMap

  /** The migrated tables of the last round, for check.py. */
  def migratedDir: String = dst(lastRound)

  /** Write the replicated state of every table to `<out>/<dir>`. */
  def dumpState(dir: String): Unit = JdbcTables.foreach { t =>
    val template = asInserts(spark.read.parquet(s"${dst(lastRound)}/$t.parquet")).drop(CdcApplier.OpCol)
    StreamingCdc.currentState(spark, s"$stateRoot/${Db}__$t", template)
      .drop(DebeziumAdapter.orderCols: _*)
      .write.mode("overwrite").parquet(s"${a.out}/$dir/$t.parquet")
  }
}

object MigrateCatchup {
  val Db = "bench"
  val JdbcTables = Seq("orders", "lineitem")
  val ParquetTables = Seq("region", "nation", "customer", "supplier", "part")
  val Pk: Map[String, Seq[String]] =
    Map("orders" -> Seq("o_orderkey"), "lineitem" -> Seq("l_orderkey", "l_linenumber"))
  val JdbcKey = Map("orders" -> "o_orderkey", "lineitem" -> "l_orderkey")

  /** The declared migration transform, repeated by check.py in SQL:
    * `customer` drops `c_name`, keeps `c_acctbal >= 0`, and lower-cases
    * `c_mktsegment`. */
  def spec: Migrator.Spec = Migrator.Spec(
    skipColumns = Map("customer" -> Seq("c_name")),
    whereClauses = Map("customer" -> "c_acctbal >= 0"),
    transforms = new Transforms.TransformRegistry().register("customer",
      df => df.withColumn("c_mktsegment", lower(col("c_mktsegment")))))

  /** A snapshot as an all-insert change batch at binlog position 0. */
  def asInserts(df: DataFrame): DataFrame =
    df.withColumn(CdcApplier.OpCol, lit("insert"))
      .withColumn("_ts_ms", lit(0L)).withColumn("_pos", lit(0L))
}

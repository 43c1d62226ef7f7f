package perfbench

import graft.cdc.DebeziumAdapter
import graft.streaming.{BucketStateStore, StreamingCdc}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The second half of the reference's manual workflow: live
  * replication as an open loop. Debezium JSON-lines files made in set-up
  * are released by atomic rename into the pump's watched directory on a
  * fixed schedule that climbs a ladder of change rates (`low`,
  * `nominal`, `high`, from `live/plan.tsv`). The pump is
  * `StreamingCdc.startDebezium` on a processing-time trigger with vacuum
  * on, over the caught-up state in `stateRoot`. A file's lag runs from
  * when it was due to the commit of the micro-batch that applied it,
  * read back from the pump's checkpoint.
  */
final class ReplicateLive(spark: SparkSession, a: Main.Args, res: Main.Result,
    trace: Trace, stateRoot: String, rowSchemas: Map[String, StructType]) {
  import MigrateCatchup.{Db, JdbcTables, Pk}
  import ReplicateLive._
  import Main.{median, quantile}

  private val work = new File(a.out, "work")
  private val pending = s"${a.data}/live/pending"
  private val watch = s"${work.getAbsolutePath}/watch"
  private val ckpt = s"${work.getAbsolutePath}/ckpt"
  private var query: StreamingQuery = _

  /** file, due offset (s), phase, offered rate (changes/s), changes */
  private val plan: Seq[(String, Double, String, Double, Int)] =
    Files.readAllLines(Paths.get(a.data, "live", "plan.tsv")).asScala.toSeq
      .map(_.split('\t')).map(f => (f(0), f(1).toDouble, f(2), f(3).toDouble, f(4).toInt))

  private val released = mutable.LinkedHashMap.empty[String, (Long, Long)] // due, actual

  /** Start the pump on an empty watched directory. The catch-up drain
    * has already run the same code, so there is no separate warm-up. */
  def start(): Unit = {
    new File(watch).mkdirs()
    query = StreamingCdc.startDebezium(spark.readStream.text(watch), stateRoot, ckpt,
      db = Db, tableSchemas = rowSchemas,
      pk = Pk("orders"), pkFor = Pk, processingTime = Some(Trigger),
      vacuumEvery = VacuumEvery, vacuumKeep = VacuumKeep)
  }

  private def release(name: String, due: Long, at: Long): Unit = {
    Files.move(Paths.get(pending, name), Paths.get(watch, name), StandardCopyOption.ATOMIC_MOVE)
    released(name) = (due, at)
  }

  /** file name -> micro-batch id, from the file source's metadata log. */
  private def fileBatches(): Map[String, Long] = {
    val dir = new File(s"$ckpt/sources/0")
    val Entry = """"path":"[^"]*/([^"/]+)".*"batchId":(\d+)""".r
    Option(dir.listFiles).toSeq.flatten.filter(f => !f.getName.startsWith(".") && f.isFile)
      .flatMap(f => Files.readAllLines(f.toPath).asScala)
      .flatMap(l => Entry.findFirstMatchIn(l).map(m => m.group(1) -> m.group(2).toLong))
      .toMap
  }

  private def commitMs(batch: Long): Option[Long] = {
    val f = new File(s"$ckpt/commits/$batch")
    if (f.exists) Some(Files.getLastModifiedTime(f.toPath).toMillis) else None
  }

  /** Wait until every file in `names` sits in a committed batch. */
  private def awaitApplied(names: Seq[String]): Unit = {
    val deadline = System.nanoTime() + DrainTimeoutS * 1000000000L
    def done = {
      val fb = fileBatches()
      names.forall(n => fb.get(n).exists(b => commitMs(b).isDefined))
    }
    while (!done) {
      query.exception.foreach(e => throw e)
      require(System.nanoTime() < deadline, s"pump did not apply ${names.size} files in ${DrainTimeoutS}s")
      Thread.sleep(50)
    }
  }

  /** Release the ladder on schedule from a thread of its own, wait
    * until the pump has applied every file, and return each file's lag. */
  private def runLadder(): Seq[(String, Double)] = {
    val t0 = System.currentTimeMillis() + 500
    val releaser = new Thread(() => plan.foreach { p =>
      val due = t0 + (p._2 * 1000).toLong
      val wait = due - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      release(p._1, due, System.currentTimeMillis())
    })
    releaser.start()
    releaser.join()
    res.op("replicate ladder") { awaitApplied(plan.map(_._1)) }
    val fb = fileBatches()
    plan.flatMap { p =>
      for (b <- fb.get(p._1); c <- commitMs(b)) yield p._1 -> (c - released(p._1)._1) / 1e3
    }
  }

  private var lags = Map.empty[String, Double]

  private def stop(): Unit = {
    query.stop()
    query.exception.foreach(e => res.errors += s"pump: ${e.getMessage}")
  }

  private def phaseLags(phase: String): Seq[Double] =
    plan.filter(_._3 == phase).flatMap(p => lags.get(p._1))

  private def report(): Unit = {
    val nominal = phaseLags("nominal")
    res.metrics("replicate.lag_p50_s") = median(nominal)
    res.metrics("replicate.lag_p95_s") = quantile(nominal, 0.95)
    res.metrics("replicate.lag_samples") = nominal.size
    // a rung is sustained when it and every lower rung keep their p95
    // lag within the limit; every file is applied before the run ends,
    // so a backlog that grew without bound fails the limit instead
    val ok = Rungs.takeWhile { r =>
      val l = phaseLags(r)
      l.nonEmpty && quantile(l, 0.95) <= LagLimitS
    }
    res.metrics("replicate.max_rate_ok") = ok.lastOption.map(r => plan.find(_._3 == r).get._4).getOrElse(0.0)
    res.info("rungs_ok") = ok.mkString(",")
    Rungs.foreach(r => res.info(s"lag_p50_$r") = f"${median(phaseLags(r))}%.3f")
    val lateness = released.values.map { case (due, at) => (at - due) / 1e3 }.toSeq
    res.metrics("gen.lateness_p95_s") = quantile(lateness, 0.95)
    res.metrics("replicate.state_disk_mb") = Main.dirMb(new File(stateRoot))
  }

  /** Run the ladder with tracing on; fills the live per-layer metrics. */
  def traced(): Unit = {
    lags = runLadder().toMap
    stop()
    report()
    val (_, tVac) = Main.timed(trace.span("streaming.vacuum") {
      JdbcTables.foreach(t => StreamingCdc.vacuum(spark, s"$stateRoot/${Db}__$t", VacuumKeep))
    })
    res.metrics("streaming.vacuum_s") = tVac
    res.metrics("streaming.live_versions") = JdbcTables.map(t =>
      BucketStateStore.availableVersions(spark, s"$stateRoot/${Db}__$t").size).sum
    res.metrics("streaming.block_manager_mb_end") =
      spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
    LayerStats.live(trace, res, phaseLags("nominal"))
  }
}

object ReplicateLive {
  val Trigger = "500 milliseconds"
  val VacuumEvery = 5
  val VacuumKeep = 2
  val Rungs = Seq("low", "nominal", "high")
  /** The reference's default mempool flush interval
    * (`--mempool-max-flush-interval`, 60 s): a change should be applied
    * within one flush of arriving. */
  val LagLimitS = 60.0
  val DrainTimeoutS = 120
}

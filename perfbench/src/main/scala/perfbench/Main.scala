package perfbench

import org.apache.spark.sql.SparkSession

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The bench JVM. Runs one workload over inputs that `gen.py`
  * made, and writes `<out>/result.json`: the workload's metrics, the
  * operations attempted and failed, and the outputs left for the
  * DuckDB checks in `check.py`.
  *
  * Usage: Main --workload <name> --seconds <s> --trace <0|1>
  *             --data <dir> --out <dir> --cores <n>
  */
object Main {

  final case class Args(workload: String, seconds: Double, trace: Boolean,
      data: String, out: String, cores: Int)

  /** What a workload reports back; `metrics` keys are the names in
    * BENCHMARK.json. */
  final class Result {
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    val info = mutable.LinkedHashMap.empty[String, String]
    var attempted = 0
    val errors = mutable.ArrayBuffer.empty[String]
    private var retainedMb = 0.0

    /** Note the heap still in use after a full collection at the end of
      * a measured unit, before its cached data is dropped. The second
      * collection follows the pause in which Spark's cleaner thread
      * releases the broadcasts and shuffles the first one found
      * unreachable, so the reading does not depend on that thread's
      * timing. */
    def noteRetainedHeap(): Unit = {
      System.gc()
      Thread.sleep(500)
      System.gc()
      retainedMb = math.max(retainedMb,
        ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6)
      metrics("heap_retained_mb") = retainedMb
    }

    /** Run one operation, counting it as attempted and, if it throws,
      * as failed. */
    def op[A](what: String)(body: => A): Option[A] = {
      attempted += 1
      try Some(body)
      catch { case e: Throwable =>
        errors += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
        None
      }
    }
  }

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("seconds").toDouble, kv("trace") == "1",
      kv("data"), kv("out"), kv("cores").toInt)
    val work = new File(a.out, "work")
    work.mkdirs()
    System.setProperty("derby.system.home", work.getAbsolutePath)
    val spark = session(a.cores, work.getAbsolutePath)
    spark.sparkContext.setLogLevel("ERROR")
    val res = new Result
    val trace = new Trace(spark, s"${a.workload}-${ProcessHandle.current().pid()}")
    val w: Workload = a.workload match {
      case "migrate_catchup" => new MigrateReplicate(spark, a, res, trace)
      case "curate_mix"      => new CurateMix(spark, a, res, trace)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    w.setup()
    val readyMs = System.currentTimeMillis()
    val gc0 = gcSeconds()
    if (a.trace) { trace.listen(); w.traced() } else w.measure()
    trace.quiesce()
    res.metrics("jvm.gc_s") = gcSeconds() - gc0
    res.metrics("jvm.rss_peak_mb") = peakRssMb()
    w.writeOutputs()
    Files.writeString(Paths.get(a.out, "spans.json"), trace.json)
    val body = Json.obj(
      "ready_epoch_ms" -> readyMs,
      "attempted" -> res.attempted,
      "failed" -> res.errors.size,
      "errors" -> res.errors.toSeq,
      "metrics" -> Json.Raw(Json.obj(res.metrics.toSeq: _*)),
      "info" -> Json.Raw(Json.obj(res.info.toSeq: _*)))
    Files.writeString(Paths.get(a.out, "result.json"), body)
    spark.stop()
  }

  def session(cores: Int, work: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def dirMb(f: File): Double =
    if (!f.exists) 0.0
    else Files.walk(f.toPath).iterator.asScala.filter(Files.isRegularFile(_))
      .map(Files.size(_)).sum / 1e6

  def rmrf(f: File): Unit =
    if (f.exists) Files.walk(f.toPath).sorted(java.util.Comparator.reverseOrder())
      .iterator.asScala.foreach(p => Files.delete(p))

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile, as numpy's default. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Drop every cached frame and persisted RDD, then collect garbage,
    * so each measured unit starts from the same heap. */
  def clearState(spark: SparkSession): Unit = {
    spark.sqlContext.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    System.gc()
  }
}

/** One benchmark workload. `setup` is untimed; `measure` runs the
  * untraced measurement for the run's seconds; `traced` alternates
  * untraced and traced units and fills the per-layer metrics. */
trait Workload {
  def setup(): Unit
  def measure(): Unit
  def traced(): Unit
  def writeOutputs(): Unit
}

/** Minimal JSON writer for the result file. */
object Json {
  final case class Raw(json: String)

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case Raw(json) => json
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case null => "null"
    case other => str(other.toString)
  }

  def obj(kvs: (String, Any)*): String =
    kvs.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}

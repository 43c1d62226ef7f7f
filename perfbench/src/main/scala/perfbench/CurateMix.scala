package perfbench

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Repeated passes over six benchCore curation queries, one per
  * curation module, each materialized with the noop sink. The pass is
  * a closed loop; the run reports the median pass.
  */
final class CurateMix(spark: SparkSession, a: Main.Args, res: Main.Result,
    trace: Trace) extends Workload {
  import CurateMix._
  import Main.median

  private val src = s"${a.data}/src"
  private val passes = mutable.ArrayBuffer.empty[Double]
  private var inputRows = 0L

  private def run(q: String): Unit =
    SparkEntry.queries(q)(spark, src).write.format("noop").mode("overwrite").save()

  /** One pass; None if any query failed. Traced passes start each query
    * with nothing persisted and note the blocks it leaves behind;
    * untraced passes drop them only before the next pass. */
  private def pass(traced: Boolean = false): Option[Double] = {
    Main.clearState(spark)
    val t0 = System.nanoTime()
    val ok = Queries.map { case (q, module) =>
      if (traced) spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      val r = trace.span(s"$module.${short(q)}") { res.op(q)(run(q)) }
      if (traced) residual.getOrElseUpdate(short(q), mutable.ArrayBuffer.empty) += persistedMb()
      r.isDefined
    }
    val wall = (System.nanoTime() - t0) / 1e9
    res.noteRetainedHeap()
    if (ok.forall(identity)) Some(wall) else None
  }

  private val residual = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]

  private def persistedMb(): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

  /** The first pass runs in a cold JVM; it writes each query's output
    * for check.py instead of timing it. */
  def setup(): Unit = {
    inputRows = Seq("customer", "orders", "lineitem", "documents", "embeddings")
      .map(t => spark.read.parquet(s"$src/$t.parquet").count()).sum
    res.info("input_rows") = inputRows.toString
    val oracle = Queries.map { case (q, _) =>
      res.op(s"$q output") {
        SparkEntry.queries(q)(spark, src).write.mode("overwrite").parquet(s"${a.out}/curate/$q")
      }
      q -> SparkEntry.oracleSql(q)
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a.out, "oracle.json"), Json.obj(oracle: _*))
  }

  /** Timed passes for the run's seconds, at least [[MinPasses]]. */
  def measure(): Unit = {
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    var n = 0
    while (passes.size < MinPasses || System.nanoTime() < deadline) {
      pass().foreach(passes += _)
      n += 1
      if (n > MinPasses * 3 && passes.isEmpty) return
    }
    report()
  }

  private def report(): Unit = {
    res.metrics("latency_p50_s") = median(passes.toSeq)
    res.metrics("rows_per_s") = inputRows / median(passes.toSeq)
    res.info("passes_s") = passes.map(x => f"$x%.2f").mkString(" ")
  }

  def traced(): Unit = {
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    val plain = mutable.ArrayBuffer.empty[Double]
    var i = 0
    while (plain.isEmpty || passes.isEmpty || System.nanoTime() < deadline) {
      val isTraced = i % 2 == 1
      if (isTraced) trace.listen() else trace.quiesce()
      val w = if (isTraced) trace.span("pass")(pass(traced = true)) else pass()
      w.foreach(x => (if (isTraced) passes else plain) += x)
      i += 1
      if (i > 8 && passes.isEmpty) return
    }
    trace.quiesce()
    report()
    LayerStats.queries(trace, res, Queries.map { case (q, m) => s"$m.${short(q)}" },
      residual.view.mapValues(b => median(b.toSeq)).toMap)
    LayerStats.overhead(trace, res, "pass", plain.toSeq)
  }

  def writeOutputs(): Unit = ()
}

object CurateMix {
  /** query -> the curation module that does its work */
  val Queries: Seq[(String, String)] = Seq(
    "q03_join_revenue" -> "queries",
    "q25_minhash_dedup" -> "dedup",
    "q116_backoff_ppl" -> "text",
    "q35_embedding_neardup" -> "vector",
    "q129_kcore" -> "ops",
    "q46_pipeline" -> "queries")
  val MinPasses = 1

  def short(q: String): String = q.takeWhile(_ != '_')
}

package perfbench

import perfbench.Trace.Span

/** Per-layer metrics from a traced run's spans, jobs and streaming
  * progress. Each value is the median over the traced units (rounds,
  * passes) unless stated. */
object LayerStats {
  import Main.median

  private def named(t: Trace, units: Seq[Span], name: String): Seq[Span] =
    units.flatMap(u => t.children(u).filter(_.name == name))

  private def units(t: Trace, name: String): Seq[Span] =
    t.spans.toSeq.filter(s => s.name == name && s.parent < 0)

  /** migrate_catchup: the migrate phase and the pump's catch-up drain. */
  def migrate(t: Trace, res: Main.Result, cores: Int, changes: Long): Unit = {
    val rounds = units(t, "round")
    val m = res.metrics
    val mig = named(t, rounds, "migrate")
    m("migrate.self_s") = median(mig.map(x => t.children(x).map(t.selfSeconds).sum))
    m("migrate.jobs") = median(mig.map(x => t.jobsUnder(x).size.toDouble))
    m("migrate.driver_gap_s") = median(mig.map(t.driverGapSeconds))
    m("migrate.core_busy") = median(mig.map(x =>
      t.jobsUnder(x).map(_.executorMs).sum / 1e3 / (x.seconds * cores)))
    // the destination re-read that reconciles row counts: the job right
    // after each job that wrote the table
    m("migrate.reconcile_s") = median(mig.map { x =>
      val js = t.jobsUnder(x).sortBy(_.id)
      js.zip(js.drop(1)).collect { case (w, r) if w.bytesWritten > 0 => r.seconds }.sum
    })
    m("migrate.output_mb") = median(mig.map(x => t.jobsUnder(x).map(_.bytesWritten).sum / 1e6))
    m("streaming.seed_s") = median(named(t, rounds, "streaming.seed").map(_.seconds))
    val drains = named(t, rounds, "streaming.drain")
    def batchJobs(d: Span) = t.jobsUnder(d).filter(_.batchId >= 0)
    m("streaming.merge_s") = median(drains.map(d => t.batchesIn(d).map(_.addBatchMs).sum / 1e3))
    m("streaming.merge_jobs") = median(drains.map(d => batchJobs(d).size.toDouble))
    m("streaming.bytes_written_mb") = median(drains.map(d => batchJobs(d).map(_.bytesWritten).sum / 1e6))
    // state rows rewritten per change applied
    m("streaming.rewrite_ratio") = median(drains.map(d =>
      batchJobs(d).map(_.recordsWritten).sum.toDouble / changes))
  }

  /** replicate_live: per micro-batch numbers of the traced part of the
    * ladder. `nominalLags` are the nominal rung's file lags. */
  def live(t: Trace, res: Main.Result, nominalLags: Seq[Double]): Unit = {
    val m = res.metrics
    val batches = t.progress.toArray(Array.empty[Trace.BatchRec]).toSeq.filter(_.rows > 0)
    val ids = batches.map(_.batchId).toSet
    val jobs = t.jobs.values.toArray(Array.empty[Trace.JobRec]).toSeq.filter(j => ids(j.batchId))
    val changes = batches.map(_.rows).sum.toDouble
    m("streaming.batches") = batches.size
    m("streaming.batch_changes_p50") = median(batches.map(_.rows.toDouble))
    m("streaming.addbatch_p50_s") = median(batches.map(_.addBatchMs / 1e3))
    m("streaming.engine_overhead_p50_s") = median(batches.map(b => (b.triggerMs - b.addBatchMs) / 1e3))
    m("streaming.trigger_wait_p50_s") = median(nominalLags) - median(batches.map(_.triggerMs / 1e3))
    m("streaming.merge_jobs_per_batch") = median(jobs.groupBy(_.batchId).values.map(_.size.toDouble).toSeq)
    m("streaming.rewrite_ratio_live") = jobs.map(_.recordsWritten).sum / changes
    m("streaming.bytes_written_per_change") = jobs.map(_.bytesWritten).sum / changes
  }

  /** curate_mix: one set of numbers per query span (`<module>.<q>`). */
  def queries(t: Trace, res: Main.Result, spanNames: Seq[String],
      residualMb: Map[String, Double]): Unit = {
    val passes = units(t, "pass")
    val m = res.metrics
    spanNames.foreach { name =>
      val q = name.split('.')(1)
      val s = named(t, passes, name)
      m(s"${name}_s") = median(s.map(_.seconds))
      m(s"$q.jobs") = median(s.map(x => t.jobsUnder(x).size.toDouble))
      m(s"$q.driver_gap_s") = median(s.map(t.driverGapSeconds))
      m(s"$q.executor_s") = median(s.map(x => t.jobsUnder(x).map(_.executorMs).sum / 1e3))
      m(s"$q.shuffle_mb") = median(s.map(x => t.jobsUnder(x).map(_.shuffleBytes).sum / 1e6))
      m(s"$q.residual_persisted_mb") = residualMb.getOrElse(q, 0.0)
    }
  }

  /** Tracing overhead of the traced units (`unit` spans) against the
    * untraced ones run beside them, and how much of a traced unit's
    * wall the layer spans' self times account for. */
  def overhead(t: Trace, res: Main.Result, unit: String, untracedWalls: Seq[Double]): Unit = {
    val us = units(t, unit)
    val m = res.metrics
    val tracedWall = median(us.map(_.seconds))
    m("trace.untraced_wall_s") = median(untracedWalls)
    m("trace.overhead_ratio") = tracedWall / median(untracedWalls) - 1
    m("trace.blocking_self_s") = median(us.map(u => u.seconds - t.selfSeconds(u)))
  }
}

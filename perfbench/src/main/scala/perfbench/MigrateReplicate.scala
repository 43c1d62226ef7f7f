package perfbench

import org.apache.spark.sql.SparkSession

/** The `migrate_catchup` workload: the reference's manual workflow.
  * Untraced runs time rounds of migrate + seed + catch-up (large,
  * throughput-bound batches). Traced runs add the live half over the
  * caught-up state (small, frequent batches), whose per-batch numbers
  * are per-layer metrics; it is too slow to repeat within an untraced
  * run (see perfbench/README.md). The caught-up state is written out
  * before the live half, so both halves are checked against the
  * generator's model.
  */
final class MigrateReplicate(spark: SparkSession, a: Main.Args, res: Main.Result,
    trace: Trace) extends Workload {
  private val catchup = new MigrateCatchup(spark, a, res, trace)
  private var liveRan = false

  def setup(): Unit = catchup.setup()

  def measure(): Unit = catchup.measure()

  def traced(): Unit = {
    catchup.traced()
    catchup.dumpState("state_catchup")
    val live = new ReplicateLive(spark, a, res, trace, catchup.stateRoot, catchup.rowSchemas)
    trace.listen()
    live.start()
    live.traced()
    trace.quiesce()
    liveRan = true
  }

  /** The live half, when it ran, continued on the caught-up state. */
  def writeOutputs(): Unit = {
    res.info("migrated_dir") = catchup.migratedDir
    catchup.dumpState(if (liveRan) "state" else "state_catchup")
  }
}

package graft.core

import org.apache.spark.sql.DataFrame

/** The engine's one way to materialise an intermediate that several
  * branches of a plan consume: Spark has no cross-branch reuse for
  * DataFrame lineage, so without a pin each consumer re-runs the whole
  * subtree. Each call site states why its frame is worth a pin.
  *
  * Policy: an eager `localCheckpoint`. The frame is computed once, at
  * the call, into the executors' block managers, and its lineage is
  * truncated. Losing an executor therefore loses blocks Spark cannot
  * recompute: the next job that reads them fails with Spark's
  * "Checkpoint block … not found" error, and the caller resubmits the
  * query. It never answers wrongly. A second policy (a replicated
  * persist, or a reliable checkpoint) is not offered, because no
  * caller needs one.
  *
  * The job runs with the SparkContext callsite `pin <name>`, so its
  * stage rows in `graft.tools.QueryTrace`, the AQE shuffle stages under
  * it included, carry the pin's name instead of a source line.
  */
object Pin {

  def apply(df: DataFrame, name: String): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val previous = sc.getLocalProperty(CallSiteShort)
    sc.setCallSite(s"pin $name")
    try df.localCheckpoint()
    finally sc.setLocalProperty(CallSiteShort, previous) // null clears it
  }

  // the local property SparkContext.setCallSite writes
  private val CallSiteShort = "callSite.short"
}

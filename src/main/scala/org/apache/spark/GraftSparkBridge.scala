package org.apache.spark

/** Core-side access shim (the [[org.apache.spark.sql.GraftSqlBridge]]
  * pattern applied to SparkContext internals): the listener bus and the
  * checkpoint-dir field are `private[spark]`. [[graft.Probe]] must drain
  * the bus between passes — stage-completed events are delivered
  * asynchronously, so reading the metrics listener without a drain races
  * the last stages of the pass it is trying to attribute. */
object GraftSparkBridge {
  /** Set the context's checkpoint dir to exactly `dir`: `setCheckpointDir`
    * makes a fresh subdirectory on every call, so it cannot restore one. */
  def restoreCheckpointDir(sc: SparkContext, dir: Option[String]): Unit =
    sc.checkpointDir = dir

  /** The no-arg overload throws after a hardwired 10 s — short enough
    * that a bus lagging behind a heavy sf1 pass would crash the probe
    * mid-attribution. Wait generously, and degrade to a WARNING rather
    * than abort: a partially-drained pass mislabels a few stages, an
    * aborted probe loses every pass after it. */
  def drainListenerBus(sc: SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty(120000L)
    catch {
      case _: java.util.concurrent.TimeoutException =>
        System.err.println(
          "[graft] listener bus not empty after 120s — this pass's stage " +
            "metrics may be incomplete")
    }
}

package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Stage-metrics PROBE main — the root-cause companion to [[Bench]].
  *
  * Bench answers "how long"; this answers "where did it go". The wall
  * times on this box are bimodal by up to 20× run-to-run for identical
  * plans (r11 measured 8.6 s ↔ 167.8 s on one query — GC/broadcast
  * luck, zero spill), so no regression may be diagnosed from wall time
  * alone: the per-round VERDICT standard since r10 is a committed
  * stage-metrics reading (spill bytes, task-attributed GC, shuffle
  * volume) for any entry whose committed ratio contradicts its
  * documented cost model. r11 ran this as an uncommitted ad-hoc main;
  * this is the permanent form.
  *
  * Usage: `runMain graft.Probe <sfDir> <query[,query...]> [passes]`
  * Each pass: clearMemos (cold build, the bench contract), untimed
  * full GC, then the query forced through a `noop` write with a
  * listener summing per-stage task metrics. One stderr table per
  * query; machine-readable one-line JSON per pass on stdout.
  */
object Probe {
  /** Sums task metrics across completed stages; reset per pass. A
    * plain listener object — registered once, cleared between passes
    * (listener bus delivery is async, so each pass drains the bus via
    * `waitUntilEmpty` before reading). */
  private final class StageMetricsListener extends SparkListener {
    val lock = new Object
    var stages = 0
    var tasks = 0L
    var executorRunMs = 0L
    var gcMs = 0L
    var memSpill = 0L
    var diskSpill = 0L
    var shufReadB = 0L
    var shufWriteB = 0L
    var inputB = 0L
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
      lock.synchronized {
        val m = sc.stageInfo.taskMetrics
        stages += 1
        tasks += sc.stageInfo.numTasks
        executorRunMs += m.executorRunTime
        gcMs += m.jvmGCTime
        memSpill += m.memoryBytesSpilled
        diskSpill += m.diskBytesSpilled
        shufReadB += m.shuffleReadMetrics.totalBytesRead
        shufWriteB += m.shuffleWriteMetrics.bytesWritten
        inputB += m.inputMetrics.bytesRead
      }
    def reset(): Unit = lock.synchronized {
      stages = 0; tasks = 0; executorRunMs = 0; gcMs = 0
      memSpill = 0; diskSpill = 0; shufReadB = 0; shufWriteB = 0; inputB = 0
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Probe <sfDir> <query,query,...> [passes]")
    val dir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val passes = if (args.length > 2) args(2).toInt else 3
    val spark = LocalSession(LocalSession.cpus(32))
    val listener = new StageMetricsListener
    spark.sparkContext.addSparkListener(listener)

    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")

    names.foreach { name =>
      System.err.println(f"== $name ==")
      System.err.println(
        "| pass | wall s | stages | tasks | exec s | gc s | mem spill MB | " +
          "disk spill MB | shuf write MB | shuf read MB | input MB |")
      System.err.println("|---|---|---|---|---|---|---|---|---|---|---|")
      (1 to passes).foreach { p =>
        graft.operators.Dedup.clearMemos()
        System.gc()
        org.apache.spark.GraftSparkBridge.drainListenerBus(spark.sparkContext)
        listener.reset()
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        org.apache.spark.GraftSparkBridge.drainListenerBus(spark.sparkContext)
        val mb = (b: Long) => b / 1e6
        // stdout JSON must parse under ANY default locale: f"" uses the
        // JVM locale, and a comma-decimal locale would emit {"wall_s":12,34}
        def num(v: Double, digits: Int): String =
          String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(v))
        listener.lock.synchronized {
          System.err.println(
            f"| $p | $wall%.1f | ${listener.stages} | ${listener.tasks} | " +
              f"${listener.executorRunMs / 1e3}%.1f | ${listener.gcMs / 1e3}%.1f | " +
              f"${mb(listener.memSpill)}%.0f | ${mb(listener.diskSpill)}%.0f | " +
              f"${mb(listener.shufWriteB)}%.0f | ${mb(listener.shufReadB)}%.0f | " +
              f"${mb(listener.inputB)}%.0f |")
          println(
            s"""{"query":"$name","pass":$p,"wall_s":${num(wall, 2)},""" +
              s""""stages":${listener.stages},"tasks":${listener.tasks},""" +
              s""""exec_s":${num(listener.executorRunMs / 1e3, 1)},""" +
              s""""gc_s":${num(listener.gcMs / 1e3, 1)},""" +
              s""""mem_spill_mb":${num(mb(listener.memSpill), 0)},""" +
              s""""disk_spill_mb":${num(mb(listener.diskSpill), 0)},""" +
              s""""shuf_write_mb":${num(mb(listener.shufWriteB), 0)},""" +
              s""""shuf_read_mb":${num(mb(listener.shufReadB), 0)},""" +
              s""""input_mb":${num(mb(listener.inputB), 0)}}""")
        }
      }
    }
    spark.stop()
  }
}

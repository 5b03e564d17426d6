package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.GraftSparkBridge
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, regexp_extract}

import graft.SparkEntry
import graft.operators.{Dedup, ScaleTechniques, WordCount}
import graft.sources.Tables

/** One benchmark run in one JVM: set up (session and warm-up passes),
  * then measure passes over the workload's ops as a closed loop with a
  * single client, and write the raw timings (and, when traced, the spans)
  * as JSON.
  * Metric arithmetic lives in the Python side (`perfbench/metrics.py`).
  *
  *   Runner --workload wordcount|registry --data DIR --work DIR
  *          --ops a,b,c --warm-passes N --seconds N --trace 0|1 --cores N
  *
  * `--data` holds the generated inputs (a text corpus for `wordcount`, the
  * ten parquet tables otherwise). Outputs go under `--work`: `out/<op>`
  * holds each op's output from the latest pass, for the correctness
  * check, next to `result.json` and `spans.json`. */
object Runner {
  final case class Args(workload: String, data: String, work: String,
      ops: Seq[String], warmPasses: Int, seconds: Double, trace: Boolean, cores: Int)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def list(k: String) = m.getOrElse(k, "").split(",").map(_.trim).filter(_.nonEmpty).toSeq
    Args(m("workload"), m("data"), m("work"), list("ops"), m("warm-passes").toInt,
      m("seconds").toDouble, m.get("trace").contains("1"), m("cores").toInt)
  }

  /** Timings of one op execution; the three parts are set in traced passes. */
  final case class OpRun(op: String, build: Boolean, s: Double, ok: Boolean,
      error: String = "", builderS: Double = 0, planS: Double = 0, runS: Double = 0)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val out = mutable.LinkedHashMap.empty[String, String]

    // ---- set-up, from process start: the session, then warm-up passes
    // over the real inputs that bring the JIT near steady state ----
    val spark = session(a)
    val w = new Workload(spark, a.workload, a.data, s"${a.work}/out")
    (0 until a.warmPasses).foreach { i =>
      pass(spark, w, a, None, warmUp = true)
      System.err.println(s"[perfbench] warm-up pass $i done")
    }
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    out("setup_s") = setupS.toString
    System.err.println(s"[perfbench] set-up took ${setupS}s")
    out("stamps_start") = stamps(spark, a.cores)

    // ---- measured passes ----
    val tracer = new Tracer
    val passes = mutable.ArrayBuffer.empty[String]
    val t0 = System.nanoTime()
    var i = 0
    // a traced run alternates untraced and traced passes, so the traced
    // minus untraced pass_s is the tracing overhead of the same window
    // (after an untraced first pass, which the overhead leaves out)
    while (i < (if (a.trace) 3 else 2) || (System.nanoTime() - t0) / 1e9 < a.seconds) {
      val traced = a.trace && i % 2 == 1
      passes += pass(spark, w, a, if (traced) Some(tracer) else None)
      System.err.println(s"[perfbench] pass $i done at ${(System.nanoTime() - t0) / 1e9}s")
      i += 1
    }
    out("passes") = passes.mkString("[", ",\n", "]")

    // ---- layer legs: prefixes of the word count and bare scans ----
    if (a.trace) {
      out("legs") = legs(spark, w, tracer)
      out("tokens") = w.tokenCount.toString
    }
    out("stamps_end") = stamps(spark, a.cores)
    out("cores") = a.cores.toString
    out("input_bytes") = w.inputBytes.toString
    out("oracle") = a.ops.flatMap(op => SparkEntry.oracleSql.get(op).map(op -> _))
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",\n", "}")
    if (a.trace) Files.write(Paths.get(a.work, "spans.json"),
      tracer.spansJson.getBytes(StandardCharsets.UTF_8))
    Files.write(Paths.get(a.work, "result.json"),
      out.map { case (k, v) => s""""$k": $v""" }.mkString("{\n", ",\n", "\n}\n")
        .getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      // the status store keeps finished jobs and executions for a UI this
      // run never shows; a short history keeps the heap flat across passes
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.sql.ui.retainedExecutions", "50")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Every pass starts cold: memoized builds released, layouts swept. */
  def coldReset(): Unit = {
    Dedup.clearMemos()
    ScaleTechniques.sweepStaleLayouts()
  }

  /** One pass over the workload's ops. Outside its time it clears the
    * ops' outputs first and, unless a warm-up, reads the retained heap
    * after. */
  def pass(spark: SparkSession, w: Workload, a: Args, tracer: Option[Tracer],
      warmUp: Boolean = false): String = {
    w.clearOutputs()
    tracer.foreach(_.attach(spark))
    val before = tracer.map(_.counters)
    def body(): (Seq[OpRun], Double, Double) = {
      val t0 = System.nanoTime()
      def reset() = coldReset()
      tracer.fold(reset())(_.span("reset", "build")(reset()))
      val r0 = (System.nanoTime() - t0) / 1e9
      val runs = a.ops.map(op => w.run(op, tracer))
      (runs, (System.nanoTime() - t0) / 1e9, r0)
    }
    val (runs, passS, resetS) = tracer.fold(body())(_.span("pass", "pass")(body()))
    val counters = tracer.map { t =>
      t.detach(spark)
      val c = t.counters - before.get
      s""","counters": {"jobs": ${c.jobs}, "stages": ${c.stages}, "tasks": ${c.tasks}, "executor_run_s": ${c.runMs / 1e3}, "gc_s": ${c.gcMs / 1e3}, "shuffle_write_bytes": ${c.shuffleWriteBytes}, "spill_bytes": ${c.spillBytes}, "input_bytes": ${c.inputBytes}}"""
    }.getOrElse("")
    val heapMb = if (warmUp) 0.0 else retainedHeapMb()
    s"""{"traced": ${tracer.isDefined}, "pass_s": $passS, "reset_s": $resetS, "heap_mb": $heapMb, "ops": ${runs.map(opJson).mkString("[", ",", "]")}$counters}"""
  }

  /** Heap in use after full GCs. Spark's ContextCleaner frees broadcast
    * and shuffle state asynchronously once a GC has found it unreachable,
    * so collect until two readings agree (at most five rounds). */
  def retainedHeapMb(): Double = {
    def gcAndRead(): Double = {
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var prev = gcAndRead()
    var cur = gcAndRead()
    var n = 2
    while (math.abs(cur - prev) > 1.0 && n < 5) { prev = cur; cur = gcAndRead(); n += 1 }
    cur
  }

  def opJson(r: OpRun): String =
    s"""{"op": ${Json.str(r.op)}, "build": ${r.build}, "s": ${r.s}, "ok": ${r.ok}, "error": ${Json.str(r.error.take(300))}, "builder_s": ${r.builderS}, "plan_s": ${r.planS}, "run_s": ${r.runS}}"""

  /** Box-speed stamp: a fixed CPU kernel and an empty Spark job, timed
    * outside every measured region. */
  def stamps(spark: SparkSession, cores: Int): String = {
    val t0 = System.nanoTime()
    var x = 1L
    var i = 0
    while (i < 100000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
    val cpuMs = (System.nanoTime() - t0) / 1e6 + (if (x == 0) 1 else 0)
    val jobs = (0 until 5).map { _ =>
      val t = System.nanoTime()
      spark.sparkContext.parallelize(0 until cores, cores).count()
      (System.nanoTime() - t) / 1e6
    }.sorted
    s"""{"cpu_kernel_ms": $cpuMs, "empty_job_ms": ${jobs(2)}}"""
  }

  /** Per-layer legs, each run twice (medians are taken later):
    * `plan` forces the bare source's executed plan, `scan` writes the bare
    * source to `noop`, and on the text input `tokens`, `perkey` and `full`
    * run the word count's prefixes and the whole op with its sink. */
  def legs(spark: SparkSession, w: Workload, tracer: Tracer): String = {
    tracer.attach(spark)
    val rows = mutable.ArrayBuffer.empty[String]
    def leg(kind: String, src: String)(body: => Unit): Unit = (0 until 2).foreach { _ =>
      GraftSparkBridge.drainListenerBus(spark.sparkContext)
      val c0 = tracer.counters
      val t0 = System.nanoTime()
      tracer.span(s"$kind:$src", "leg")(body)
      val s = (System.nanoTime() - t0) / 1e9
      GraftSparkBridge.drainListenerBus(spark.sparkContext)
      val c = tracer.counters - c0
      rows += s"""{"leg": "$kind", "source": ${Json.str(src)}, "s": $s, "tasks": ${c.tasks}, "input_bytes": ${c.inputBytes}}"""
    }
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    w.scanSources.foreach { case (name, df) =>
      leg("plan", name)(df().queryExecution.executedPlan)
      leg("scan", name)(noop(df()))
    }
    w.textSources.foreach { case (name, df, key, text) =>
      leg("tokens", name)(noop(WordCount.tokens(df(), key, text)))
      leg("perkey", name)(noop(WordCount.perKey(df(), key, text)))
      leg("full", name)(w.textSink(WordCount.perKey(df(), key, text), s"${w.outDir}/legs/$name"))
    }
    tracer.detach(spark)
    rows.mkString("[", ",\n", "]")
  }
}

/** The ops of one workload over one input directory. */
final class Workload(spark: SparkSession, kind: String, dir: String, val outDir: String) {
  private val fileKey: Column = regexp_extract(col("file"), "[^/]+$", 0)
  private def textDf(): DataFrame = Tables.textCorpus(spark, dir)
  private def linesDf(): DataFrame = spark.read.format("graft-lines").load(dir)

  /** Sources scanned bare by the `plan`/`scan` legs. */
  val scanSources: Seq[(String, () => DataFrame)] =
    if (kind == "wordcount") Seq("text" -> (() => textDf()), "lines" -> (() => linesDf()))
    else Tables.names.map { t =>
      t -> (() => if (t == "events") Tables.events(spark, dir) else Tables.load(spark, dir, t))
    }

  /** Text inputs the word-count legs decompose. */
  val textSources: Seq[(String, () => DataFrame, Column, Column)] =
    if (kind == "wordcount") Seq(
      ("text", () => textDf(), fileKey, col("line")),
      ("lines", () => linesDf(), fileKey, col("line")))
    else Seq(("documents", () => Tables.documents(spark, dir), col("doc_id"), col("text")))

  /** The word count's sink on each text input: the reference's per-file
    * text tree for the corpus, a parquet write for `documents`. */
  def textSink(counts: DataFrame, dir: String): Unit =
    if (kind == "wordcount") WordCount.writeFinalOutputCompat(counts, dir)
    else counts.write.mode("overwrite").parquet(dir)

  /** Bytes of the inputs on disk: the corpus files or the parquet tables. */
  lazy val inputBytes: Long = {
    val root = new java.io.File(dir)
    def size(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(size).sum).getOrElse(0L) else f.length()
    size(root)
  }

  /** Tokens the text input holds (one scan path), counted outside any timing. */
  lazy val tokenCount: Long = textSources.head match {
    case (_, df, key, text) => WordCount.tokens(df(), key, text).count()
  }

  private val builds: Map[String, () => Unit] = Map(
    "build:minhash_pairs" -> (() => { Dedup.minhashPairsCached(spark, dir); () }),
    "build:components" -> (() => { Dedup.componentsCached(spark, dir); () }))

  /** The frame an op computes. */
  private def frame(op: String): DataFrame = op match {
    case "wc_text" => WordCount.perKey(textDf(), fileKey, col("line"))
    case "wc_lines" => WordCount.perKey(linesDf(), fileKey, col("line"))
    case q => SparkEntry.queries(q)(spark, dir)
  }

  /** The op's sink, under `outDir/<op>`: the word counts end in the
    * reference's per-file text tree, registry ops in a parquet write. */
  private def sink(op: String, df: DataFrame): Unit =
    if (op == "wc_text" || op == "wc_lines") WordCount.writeFinalOutputCompat(df, s"$outDir/$op")
    else df.write.mode("overwrite").parquet(s"$outDir/$op")

  /** Delete every op's output, so the check sees only the latest pass's. */
  def clearOutputs(): Unit = {
    val root = Paths.get(outDir)
    if (Files.exists(root)) {
      val all = Files.walk(root)
      try all.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
      finally all.close()
    }
  }

  /** Run one op; exceptions are recorded, never thrown. */
  def run(op: String, tracer: Option[Tracer]): Runner.OpRun = {
    val build = builds.contains(op)
    val t0 = System.nanoTime()
    def secs(t: Long) = (System.nanoTime() - t) / 1e9
    try {
      tracer match {
        case None =>
          if (build) builds(op)() else sink(op, frame(op))
          Runner.OpRun(op, build, secs(t0), ok = true)
        case Some(t) =>
          t.span(op, if (build) "build" else "op") {
            if (build) {
              t.span("builder", "builder")(builds(op)())
              Runner.OpRun(op, build, secs(t0), ok = true, builderS = secs(t0))
            } else {
              val df = t.span("builder", "builder")(frame(op))
              val t1 = System.nanoTime()
              t.span("plan", "plan")(df.queryExecution.executedPlan)
              val t2 = System.nanoTime()
              t.span("write", "write")(sink(op, df))
              Runner.OpRun(op, build, secs(t0), ok = true, builderS = (t1 - t0) / 1e9,
                planS = (t2 - t1) / 1e9, runS = secs(t2))
            }
          }
      }
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $op failed: ${e.getMessage}")
        Runner.OpRun(op, build, secs(t0), ok = false, error = String.valueOf(e.getMessage))
    }
  }
}

package graft

import org.apache.spark.sql.SparkSession
import graft.multimodal.Multimodal
import graft.operators.{Dedup, Layout, ScaleTechniques, SimSearch, TextAnalysis}

/** Benchmark main. Two fixes over the naive loop:
  *
  *  - every query is WARMED UP first on sf0.001 (JIT + codegen compile +
  *    parquet footer caches), so the first measured query doesn't eat all
  *    JVM warmup; the same warm-up discovers which declared builds each
  *    query reads ([[discover]]);
  *  - evaluation is forced through a `noop` format write, not `count()` —
  *    under `count()` Catalyst drops top-level sorts and unreferenced
  *    projections, under-measuring exactly the expensive operators.
  *
  * Emits exactly ONE line on stdout: the JSON the driver parses. All
  * diagnostics go to stderr.
  */
object Bench {
  type Build = (SparkSession, String) => Unit

  /** The declared builds, in run and output order: one `build:*` row per
    * shared artifact; the warm-up discovers which queries read each.
    *
    * The memoized dedup subplans (pair graph + component labels) are
    * measured EXPLICITLY: each measured pass starts cold (clearMemos)
    * and charges the builds to synthetic `build:*` entries, so the four
    * consumer queries' numbers are honest cached-read costs, the build
    * cost is visible in its own row, and the sum of reported numbers
    * reconciles with the pass's wall time. (Without this, min-of-two
    * reported only cache reads and the build cost vanished — BENCH_r04's
    * q_dedup_* numbers were unusable for regression tracking.) */
  private[graft] val builds: Seq[(String, Build)] = Seq(
    ("build:minhash_pairs", (s, d) => Dedup.minhashPairsCached(s, d)),
    ("build:components", (s, d) => Dedup.componentsCached(s, d)),
    // split per r11 directive #5: train is corpus-FLAT (sampled
    // quantizer/codebook), encode is corpus-LINEAR by nature — one
    // row each so the pair attributes the 17 consumers' build cost
    // honestly (train must run first: encode reads its artifacts)
    ("build:ann_train", SimSearch.buildAnnTrain),
    ("build:ann_encode", SimSearch.buildAnnEncode),
    ("build:bpe_merges", TextAnalysis.bpeMergesFrame),
    ("build:lr_model", TextAnalysis.lrModelCached),
    // the per-domain bigram-LM census both doremi rows read (r14):
    // charged here so q_mix_doremi / q_mix_doremi_draw measure the
    // |domains|-sized tails, and the shared corpus pass is visible
    ("build:bigram_ll", TextAnalysis.bigramDomCached),
    // the partitioned fact layout is a per-snapshot write-time
    // artifact; clearMemos released it, so rebuild it here —
    // q_join_dpp's own number is then the pruned-read serving cost
    ("build:dpp_layout", ScaleTechniques.buildDppLayout),
    // the z-prefix block layout is a per-snapshot write-time
    // artifact like the DPP layout; the footer audit's own number
    // is then the manifest-read cost alone
    ("build:zorder_blocks", Layout.buildZorderBlocks),
    // the fragmented-docs fixture feeds the compaction audit and
    // both Bloom-index arms; charged here so their own numbers are
    // serving/rewrite cost alone
    ("build:frag_layout", Layout.buildFragLayout),
    ("build:hilbert_blocks", Layout.buildHilbertBlocks),
    // the catalog fingerprint indexes the incremental media screens
    // probe — decoded once per snapshot, the screens' own numbers
    // are then the O(batch) decode + probe cost
    ("build:media_index", (s, d) => {
      Multimodal.phashCatalogIndexCached(s, d)
      Multimodal.audioCatalogIndexCached(s, d)
      Multimodal.videoCatalogIndexCached(s, d) }))

  /** The warm-up: every build from cold, then every query, each step
    * recording the memo keys and layout paths it touches. The first build
    * to touch a key owns it. A step needs the owners of the keys it
    * touches, other than itself, and what those owners need (an earlier
    * build each). `run` runs one step; returns each query's needs. */
  private[graft] def discover(builds: Seq[(String, Build)], queries: Seq[(String, Build)])
      (run: (String, Build) => Unit): Map[String, Set[String]] = {
    Dedup.clearMemos()
    val buildTouches = builds.map { case (n, b) => n -> Dedup.recordTouches(run(n, b)) }
    val queryTouches = queries.map { case (n, b) => n -> Dedup.recordTouches(run(n, b)) }
    val owner = buildTouches.reverse.flatMap { case (b, ks) => ks.map(_ -> b) }.toMap
    val direct = (buildTouches ++ queryTouches).toMap
      .map { case (n, ks) => n -> (ks.flatMap(owner.get) - n) }
    def closure(n: String): Set[String] = direct(n).flatMap(b => closure(b) + b)
    queryTouches.map { case (q, _) => q -> closure(q) }.toMap
  }

  /** The declared builds some query in `names` needs, in list order. */
  private[graft] def selected[T](builds: Seq[(String, T)],
      need: Map[String, Set[String]], names: Seq[String]): Seq[(String, T)] =
    builds.filter { case (b, _) => names.exists(need(_)(b)) }

  /** Per-row minimum over the measured passes, with the total and each
    * pass's failed rows. A failed run reads -1 and never as fast: a row
    * that failed in some passes reports the others, and a row that
    * failed in all of them reports -1 and stays out of the total. */
  private[graft] def merge(order: Seq[String], passes: Seq[Map[String, Double]])
      : (Seq[(String, Double)], Double, Seq[Seq[String]]) = {
    val rows = order.map(n =>
      n -> passes.map(_(n)).filter(_ >= 0).minOption.getOrElse(-1.0))
    (rows, rows.map(_._2).filter(_ >= 0).sum, passes.map(p => order.filter(p(_) < 0)))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warmDir = "/root/testdata/sf0.001"
    val spark = LocalSession(LocalSession.cpus(4))
    // start from a clean slate: a prior invocation's fingerprint-keyed
    // layout artifacts (same immutable corpus ⇒ same key) would make
    // this invocation's build:* rows measure a load, not the build
    ScaleTechniques.sweepStaleLayouts()

    // Untimed full GC in the gap before every measured query. On this
    // heap (32g of a 125 GiB box) organic old-gen collections are rare,
    // and Spark's ContextCleaner is WEAK-REF driven: no GC → no cleanup →
    // broadcast blocks and shuffle state from 300+ prior executions
    // accumulate through the run. Measured effect at sf0.1 with 112
    // queries: q_dedup_prefix_join 33.2s in-run vs 4.8s standalone,
    // q_window_lag 3.5s vs 1.25s — the late-run drag that survived the
    // 24g→32g heap raise. The GC runs OUTSIDE the timed region, so it
    // spends untimed wall to keep each measurement starting from a
    // clean heap, the state a per-job cluster run would see.
    def timed(name: String)(body: => Unit): Double = {
      System.gc()
      val t0 = System.nanoTime()
      try { body; (System.nanoTime() - t0) / 1e9 }
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        -1.0
      }
    }

    // SPARK_GRAFT_ONLY=q_a,q_b limits the run to named queries — the
    // single-query regression-chase mode. The builds a selected query
    // reads still run, so a filtered number means the same thing as a
    // full-run number.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // fail LOUDLY on names that match nothing — a typo would otherwise
    // filter the run to zero queries and exit 0 with an empty table
    only.foreach { o =>
      val unknown = o -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names not in SparkEntry.queries: ${unknown.toSeq.sorted.mkString(", ")}")
    }
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val queries: Seq[(String, Build)] = names.map(n => (n, (s, d) =>
      SparkEntry.queries(n)(s, d).write.format("noop").mode("overwrite").save()))
    val need = discover(builds, queries)((n, b) => timed(n)(b(spark, warmDir))) // not measured
    builds.foreach { case (b, _) =>
      System.err.println(s"[bench] consumers $b <- ${names.filter(need(_)(b)).mkString(", ")}")
    }
    val rows = selected(builds, need, names) ++ queries
    // Two measured passes at the target SF, keep the per-query MIN: the
    // first pass charges cold OS page-cache / parquet-footer I/O to
    // whichever queries happen to run first (alphabetical), which
    // manufactured phantom round-over-round regressions. The min of two
    // warm-ish runs is the steady-state number a cluster would see.
    def pass(): Map[String, Double] = {
      Dedup.clearMemos()
      rows.map { case (n, b) => n -> timed(n)(b(spark, sfDir)) }.toMap
    }
    val passes = Seq(pass(), pass())
    val (results, total, failed) = merge(rows.map(_._1), passes)
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val failedJson = failed.zipWithIndex.map { case (f, i) =>
      s""""pass${i + 1}": ${f.map("\"" + _ + "\"").mkString("[", ", ", "]")}"""
    }.mkString("{", ", ", "}")
    // Durable full artifact alongside the one-line stdout contract: the
    // driver captures only the TAIL of stdout, and at 130+ queries the
    // single line outgrew it — BENCH_r05's committed artifact held 65 of
    // ~132 entries and the alphabetically-first `build:*` rows vanished.
    // The file is the regression-tracking record (committed per round);
    // stdout stays the driver's parse target. One entry per line, builds
    // in list order then queries by name, with both measured passes kept
    // so cold-vs-warm spread is visible.
    // default is cwd-relative (sbt runs from the repo root), so a
    // different checkout location still lands the artifact in-repo
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_full.json")
    val lines = results.map { case (k, v) =>
      s"""  "$k": {"min": $v, "pass1": ${passes(0)(k)}, "pass2": ${passes(1)(k)}}"""
    }
    // Ambient-contention stamp (VERDICT r10 directive #7): the r10
    // driver tail ran 1.13× over r9 across common queries while the
    // committed same-vintage pair improved — with the box's load
    // average and concurrent-JVM count in the artifact, the next
    // reader separates ambient load from plan regression without git
    // archaeology. load1 is the 1-minute average AT THE END of the
    // run (the tail queries are the ones contention inflates);
    // n_jvms counts live java processes incl. this one (sbt + bench
    // = 2 is the quiet-box signature).
    val load1 = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val nJvms =
      try Option(new java.io.File("/proc").listFiles()).getOrElse(Array.empty)
        .count { f =>
          f.getName.forall(_.isDigit) && {
            try new String(java.nio.file.Files.readAllBytes(
              java.nio.file.Paths.get(s"/proc/${f.getName}/cmdline")))
              .split('\u0000').headOption.exists(_.endsWith("java"))
            catch { case _: Throwable => false }
          }
        }
      catch { case _: Throwable => -1 }
    // n_queries counts REGISTERED queries only — the synthetic build:*
    // rows are accounting, and their number varies with SPARK_GRAFT_ONLY
    val fullJson = lines.mkString(
      s"""{\n  "_meta": {"metric": "total", "value": $total, "unit": "sec", "sf": "$sfDir", "n_queries": ${names.size}, "load": {"load1": $load1, "n_jvms": $nJvms}, "failed": $failedJson},\n""",
      ",\n", "\n}\n")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      fullJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable =>
      System.err.println(s"[bench] full-artifact write failed: ${e.getMessage}")
    }
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","failed":$failedJson}""")
    spark.stop()
  }
}

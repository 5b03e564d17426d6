package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{Dedup, ScaleTechniques}

/** Bench's declared builds, its warm-up discovery of which builds each
  * query reads, and its pass merge — on synthetic builds over
  * `spark.range` frames, so no test data is read. Build B reads build
  * A's memoized frame; one query reads A, one reads B, one reads
  * nothing. */
class BenchDiscoverySpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val dir = "bench-discovery-synthetic"

  private def frameA(s: SparkSession, d: String): DataFrame =
    Dedup.memoizedFrame(s, "bench_spec_a", d, "documents.parquet")(s.range(4).toDF("id"))
  private def frameB(s: SparkSession, d: String): DataFrame =
    Dedup.memoizedFrame(s, "bench_spec_b", d, "documents.parquet")(
      frameA(s, d).selectExpr("id * 2 AS id"))

  private val builds: Seq[(String, Bench.Build)] = Seq(
    ("build:a", (s, d) => frameA(s, d)),
    ("build:b", (s, d) => frameB(s, d)))
  private val queries: Seq[(String, Bench.Build)] = Seq(
    ("q_reads_a", (s, d) => frameA(s, d).count()),
    ("q_reads_b", (s, d) => frameB(s, d).count()),
    ("q_reads_nothing", (s, _) => s.range(3).count()))

  private def discover(): Map[String, Set[String]] =
    try Bench.discover(builds, queries)((_, step) => step(spark, dir))
    finally Dedup.clearMemos()

  test("discovery: each query needs the builds it reads and what they read") {
    assert(discover() === Map(
      "q_reads_a" -> Set("build:a"),
      "q_reads_b" -> Set("build:a", "build:b"),
      "q_reads_nothing" -> Set.empty[String]))
  }

  test("a build with no selected consumer is not run") {
    val need = discover()
    def ran(names: String*): Seq[String] = {
      val ran = Seq.newBuilder[String]
      Bench.selected(builds, need, names).foreach { case (n, step) =>
        ran += n; step(spark, dir)
      }
      Dedup.clearMemos()
      ran.result()
    }
    assert(ran("q_reads_nothing").isEmpty)
    assert(ran("q_reads_a", "q_reads_nothing") === Seq("build:a"))
    assert(ran("q_reads_b") === Seq("build:a", "build:b"))
  }

  test("ensureLayout touches are recorded, also from another thread") {
    val path = java.nio.file.Files.createTempDirectory("graft-bench-spec")
      .resolve("layout").toString
    def publish(tmp: String): Unit = {
      new java.io.File(tmp).mkdirs()
      new java.io.File(tmp, "_SUCCESS").createNewFile(); ()
    }
    try {
      val built = Dedup.recordTouches {
        val t = new Thread(() => { ScaleTechniques.ensureLayout(path)(publish); () })
        t.start(); t.join()
      }
      assert(built === Set(path))
      // a load of the published layout is a touch too
      val loaded = Dedup.recordTouches {
        ScaleTechniques.ensureLayout(path)(_ => fail("rebuilt a published layout")); ()
      }
      assert(loaded === Set(path))
    } finally Dedup.clearMemos()
  }

  test("nothing is recorded while the recorder is off") {
    try {
      frameB(spark, dir).count()
      Dedup.touch("bench_spec_off")
      assert(Dedup.recordTouches(()).isEmpty)
    } finally Dedup.clearMemos()
  }

  test("Bench declares exactly the twelve build rows, in run order") {
    assert(Bench.builds.map(_._1) === Seq(
      "build:minhash_pairs", "build:components", "build:ann_train",
      "build:ann_encode", "build:bpe_merges", "build:lr_model",
      "build:bigram_ll", "build:dpp_layout", "build:zorder_blocks",
      "build:frag_layout", "build:hilbert_blocks", "build:media_index"))
  }

  test("merge: a row failing in one pass reports the other; failing in both stays out of total") {
    val (rows, total, failed) = Bench.merge(Seq("ok", "flaky", "broken"), Seq(
      Map("ok" -> 2.0, "flaky" -> -1.0, "broken" -> -1.0),
      Map("ok" -> 1.5, "flaky" -> 3.0, "broken" -> -1.0)))
    assert(rows === Seq("ok" -> 1.5, "flaky" -> 3.0, "broken" -> -1.0))
    assert(total === 4.5)
    assert(failed === Seq(Seq("flaky", "broken"), Seq("broken")))
  }
}

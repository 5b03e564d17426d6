package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.expressions.RegExpExtract
import org.apache.spark.sql.execution.{FilterExec, GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.{col, count, explode, lit, regexp_extract}
import graft.functions.TextFunctions.tokenize
import graft.functions.expr.LowerRemovePunc
import graft.operators.WordCount
import graft.sources.Tables
import java.nio.file.Files

/** FIXTURES.md §A corpus goldens: per-file aggregation scope, basic
  * hand-computed counts, tokenizer-edge counts, and partition invariance
  * (the reference's 2000-line split is an arbitrary parallelism knob —
  * results must not depend on it).
  */
class WordCountSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private val spark = SparkTestSession.spark

  private def perFileCounts(dir: String): Map[(String, String), Long] =
    WordCount.perKey(
        Tables.textCorpus(spark, dir),
        regexp_extract(col("file"), "[^/]+$", 0), col("line"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap

  test("basic corpus: hand-computed per-file golden") {
    val m = perFileCounts(SparkTestSession.resource("/corpus/basic"))
    val a = m.collect { case ((f, w), c) if f == "a.txt" => w -> c }
    assert(a == Map(
      "the" -> 3L, "quick" -> 1L, "brown" -> 1L, "fox" -> 2L, "jumps" -> 1L,
      "over" -> 1L, "lazy" -> 1L, "dog" -> 1L, "sleeps" -> 1L))
    val b = m.collect { case ((f, w), c) if f == "b.txt" => w -> c }
    assert(b == Map(
      "the" -> 1L, "dog" -> 2L, "barks" -> 1L, "a" -> 2L, "and" -> 1L,
      "fox" -> 1L))
  }

  test("aggregation scope is per FILE: same words never merge across files") {
    val m = perFileCounts(SparkTestSession.resource("/corpus/multifile-samewords"))
    for (f <- Seq("one.txt", "two.txt")) {
      assert(m((f, "alpha")) == 2L)
      assert(m((f, "beta")) == 2L)
      assert(m((f, "gamma")) == 1L)
    }
    assert(m.size == 6) // 3 words x 2 files, no merged rows
  }

  test("tokenizer-edges corpus: full golden") {
    val m = perFileCounts(SparkTestSession.resource("/corpus/tokenizer-edges"))
    assert(m == Map(
      ("edges.txt", "dont") -> 1L, ("edges.txt", "stop") -> 1L,
      ("edges.txt", "a") -> 2L, ("edges.txt", "double") -> 1L,
      ("edges.txt", "space") -> 1L, ("edges.txt", "tab\there") -> 1L,
      ("edges.txt", "mixed") -> 1L, ("edges.txt", "case") -> 1L,
      ("edges.txt", "endstart") -> 1L, ("edges.txt", "42") -> 1L,
      ("edges.txt", "is") -> 1L, ("edges.txt", "number7") -> 1L))
  }

  test("counts are invariant to repartitioning (4100-line file)") {
    val dir = Files.createTempDirectory("graft-partition-boundary")
    val lines = (1 to 4100).map(i => s"alpha beta line$i gamma")
    Files.write(dir.resolve("big.txt"),
      String.join("\n", lines: _*).getBytes("UTF-8"))
    val corpus = Tables.textCorpus(spark, dir.toString)
    def counts(p: Int): Map[String, Long] =
      WordCount.perKey(corpus.repartition(p),
          regexp_extract(col("file"), "[^/]+$", 0), col("line"))
        .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    val one = counts(1)
    assert(one("alpha") == 4100L && one("beta") == 4100L && one("gamma") == 4100L)
    assert(one("line1") == 1L)
    assert(counts(3) == one)
    assert(counts(7) == one)
  }

  private val fileKey = regexp_extract(col("file"), "[^/]+$", 0)
  private def fixtureScans = Seq(
    "text" -> Tables.textCorpus(spark, SparkEntry.PerFileCorpus),
    "graft-lines" -> spark.read.format("graft-lines").load(SparkEntry.PerFileCorpus))

  test("tokens evaluates a computed key once per line, below the Generate") {
    for ((scan, df) <- fixtureScans) {
      val plan = WordCount.tokens(df, fileKey, col("line"))
        .queryExecution.executedPlan
      val gens = collect(plan) { case g: GenerateExec => g }
      assert(gens.size == 1, s"$scan: $plan")
      val below: Seq[SparkPlan] = collect(gens.head.child) { case n => n }
      val keyNodes = collect(plan) {
        case n if n.expressions.exists(_.exists(_.isInstanceOf[RegExpExtract])) => n
      }
      assert(keyNodes.nonEmpty, s"$scan: $plan")
      assert(keyNodes.forall(n => below.exists(_ eq n)),
        s"$scan: the key is evaluated above the Generate\n$plan")
      val normalizes = collect(plan) { case n => n }
        .flatMap(_.expressions.flatMap(_.collect { case e: LowerRemovePunc => e }))
        .size
      assert(normalizes == 1, s"$scan: graft_normalize x$normalizes\n$plan")
      assert(collect(gens.head.child) { case f: FilterExec => f }.isEmpty,
        s"$scan: a Filter sits below the Generate\n$plan")
    }
  }

  test("perKey equals the single-select formulation on the fixture corpus") {
    for ((scan, df) <- fixtureScans) {
      val mine = WordCount.perKey(df, fileKey, col("line"))
      val reference = Tables.fanOut(df)
        .select(fileKey.as("key"), explode(tokenize(col("line"))).as("word"))
        .groupBy("key", "word").agg(count(lit(1)).as("cnt"))
      val (m, r) = (mine.collect(), reference.collect())
      assert(m.nonEmpty && m.length == r.length && m.toSet == r.toSet, scan)
    }
  }
}

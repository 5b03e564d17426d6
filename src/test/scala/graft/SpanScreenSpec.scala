package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.TextAnalysis

/** Known-answer tests for the incremental span-screen kernel
  * ([[TextAnalysis.spanScreenOf]]) on constructed inputs the random
  * corpus cannot be relied on to exercise: the empty index, a doc fully
  * covered by the index, sub-gram-width docs, the minDf dial's exact
  * boundary, and overlapping-span position union. The registered
  * queries hash-check the same kernel against DuckDB; these pin the
  * SEMANTICS. */
class SpanScreenSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private val n = 4 // narrow span width keeps fixtures readable

  private def idx(docs: org.apache.spark.sql.DataFrame) =
    TextAnalysis.spanGramIndexOf(docs, n)

  test("empty index: every arriving doc passes through whole") {
    val batch = Seq((1L, "alpha beta gamma delta epsilon"),
                    (2L, "one two")).toDF("doc_id", "text")
    val empty = Seq.empty[(Array[Byte], Long)].toDF("g", "df_docs")
    val out = TextAnalysis.spanScreenOf(batch, empty, n).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 5L, 2L -> 2L))
  }

  test("fully-covered doc emits nothing; partial overlap keeps the remainder") {
    // corpus doc 10 holds the exact text of arriving doc 1, so every
    // 4-gram of doc 1 is indexed -> all positions covered -> absent.
    // doc 2 shares only a 4-token prefix; its tail survives.
    val corpus = Seq((10L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val batch = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta unique tail words here")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.spanScreenOf(batch, idx(corpus), n).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toList
    assert(out.map(_._1) === List(2L))
    // doc 2: positions 0-3 covered, tail "unique tail words here" kept
    assert(out.head._2 === 4L)
    assert(out.head._3 ===
      java.security.MessageDigest.getInstance("MD5")
        .digest("unique tail words here".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString)
  }

  test("doc shorter than the span width passes through whole") {
    val corpus = Seq((10L, "tiny doc here okay")).toDF("doc_id", "text")
    val batch = Seq((1L, "tiny doc")).toDF("doc_id", "text")
    val out = TextAnalysis.spanScreenOf(batch, idx(corpus), n).collect()
    assert(out.length === 1 && out.head.getLong(1) === 2L)
  }

  test("minDf dial: removal fires exactly at index df >= minDf - 1") {
    // three corpus docs share the template; minDf=4 requires df>=3 in
    // the index (the arriving doc is the +1). df=3 -> removed; the same
    // screen at minDf=5 (needs df>=4) -> kept.
    val corpus = Seq(
      (10L, "shared template span here plus ten filler"),
      (11L, "shared template span here other content now"),
      (12L, "shared template span here third variant text")
    ).toDF("doc_id", "text")
    val batch = Seq((1L, "shared template span here my own ending")).toDF("doc_id", "text")
    val at4 = TextAnalysis.spanScreenOf(batch, idx(corpus), n, minDf = 4)
      .collect().head.getLong(1)
    val at5 = TextAnalysis.spanScreenOf(batch, idx(corpus), n, minDf = 5)
      .collect().head.getLong(1)
    assert(at4 === 3L, s"minDf=4 should strip the df=3 template: kept $at4")
    assert(at5 === 7L, s"minDf=5 must NOT strip a df=3 template: kept $at5")
  }

  test("overlapping indexed spans union their positions (no double count, no gap)") {
    // arriving doc contains two OVERLAPPING indexed 4-grams (positions
    // 0..3 and 2..5): covered = 0..5, kept = positions 6..7
    val corpus = Seq(
      (10L, "a b c d x x x x"),
      (11L, "x x c d e f x x")).toDF("doc_id", "text")
    val batch = Seq((1L, "a b c d e f tail end")).toDF("doc_id", "text")
    val out = TextAnalysis.spanScreenOf(batch, idx(corpus), n).collect().head
    assert(out.getLong(1) === 2L)
    assert(out.getString(2) ===
      java.security.MessageDigest.getInstance("MD5")
        .digest("tail end".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString)
  }

  test("a writeSpanGramIndex snapshot round-trips through readSpanGramIndex") {
    val docs = Seq(
      (1L, "one two three four five six seven eight nine ten eleven"),
      (2L, "zero one two three four five six seven eight nine")
    ).toDF("doc_id", "text")
    val table = "span_gram_idx_roundtrip"
    TextAnalysis.writeSpanGramIndex(docs, table, buckets = 2)
    try {
      def rows(df: org.apache.spark.sql.DataFrame) = df.select("g", "df_docs")
        .collect().map(r => (r.getAs[Array[Byte]](0).toSeq, r.getLong(1))).toSet
      val read = rows(TextAnalysis.readSpanGramIndex(spark, table))
      assert(read.nonEmpty && read === rows(TextAnalysis.spanGramIndexOf(docs)))
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("a snapshot keyed by a hex-string g fails loudly on read") {
    val table = "span_gram_idx_stale"
    Seq(("0123456789abcdef0123456789abcdef", 2L)).toDF("g", "df_docs")
      .write.mode("overwrite").format("parquet").saveAsTable(table)
    try {
      val e = intercept[IllegalArgumentException](
        TextAnalysis.readSpanGramIndex(spark, table))
      assert(e.getMessage.contains(table))
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }
}

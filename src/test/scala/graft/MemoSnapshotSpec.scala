package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup

/** Memo keys follow the snapshot, not the path: a `documents.parquet`
  * rewritten under the same dir, in the same session and without
  * `clearMemos`, is read afresh by the memoized pair graph and the
  * component labels built on it. */
class MemoSnapshotSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private def write(dir: String, docs: Seq[(Long, String)]): Unit =
    docs.toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

  private def pairs(dir: String): Set[(Long, Long)] =
    Dedup.minhashLsh(spark, dir).select("doc_a", "doc_b")
      .as[(Long, Long)].collect().toSet
  private def comps(dir: String): Map[Long, Long] =
    Dedup.nearDupComponents(spark, dir).as[(Long, Long)].collect().toMap

  test("a corpus rewritten under the same path yields the new rows") {
    val dir = Files.createTempDirectory("graft-memo-snapshot").toString
    val fox = "the quick brown fox jumps over the lazy dog by the river"
    val greek = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    try {
      write(dir, Seq(1L -> fox, 2L -> fox, 3L -> "nothing here repeats at all"))
      assert(pairs(dir) == Set(1L -> 2L))
      assert(comps(dir) == Map(1L -> 1L, 2L -> 1L))
      write(dir, Seq(10L -> greek, 11L -> greek, 12L -> greek,
        13L -> "an unrelated line of text with other words"))
      assert(pairs(dir) == Set(10L -> 11L, 10L -> 12L, 11L -> 12L))
      assert(comps(dir) == Map(10L -> 10L, 11L -> 10L, 12L -> 10L))
    } finally {
      Dedup.clearMemos()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }
}

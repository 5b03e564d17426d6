package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, EventsOps}

/** Connected-components clustering invariants that the DuckDB oracle
  * can't express directly: pair-order independence, transitive-chain
  * semantics (where the greedy pairwise rule over-deletes), and
  * convergence of the pointer-jumping loop on a long path. Plus the
  * two plan-shape equivalences added this round: binned interval join ≡
  * broadcast-NLJ range join, and the quantizer-bits dial preserving
  * answers at test SF.
  */
class DedupClusterSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private val Sf = "/root/testdata/sf0.001"

  private def comps(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val cc = Dedup.componentsOfManaged(pairs.toDF("doc_a", "doc_b"))
    try cc.labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    finally cc.release()
  }

  test("transitive chain A~B, B~C collapses to ONE component keeping only A") {
    // the greedy pairwise rule would drop both B and C even though A≁C;
    // clustering keeps exactly one representative (the minimum) per chain
    val m = comps(Seq((1L, 2L), (2L, 3L), (10L, 11L)))
    assert(m == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("components are independent of pair enumeration order and direction") {
    val forward = comps(Seq((1L, 2L), (2L, 3L), (3L, 4L), (7L, 8L)))
    val shuffled = comps(Seq((7L, 8L), (3L, 4L), (1L, 2L), (2L, 3L)))
    assert(forward == shuffled)
    assert(forward.values.toSet == Set(1L, 7L))
  }

  test("a 60-node path converges to one component within the iteration cap") {
    // pointer jumping makes convergence O(log diameter); a plain
    // neighbor-min loop would need 60 rounds here and hit real caps at scale
    val m = comps((0L until 60L).map(i => (i, i + 1)))
    assert(m.size == 61)
    assert(m.values.forall(_ == 0L))
  }

  test("nearDupComponents labels every doc in the minhash pair graph") {
    val pairs = Dedup.minhashLsh(spark, Sf)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    val docsInPairs = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    val m = Dedup.nearDupComponents(spark, Sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m.keySet == docsInPairs)
    // every component representative is a member of its own component
    assert(m.values.toSet.forall(c => m(c) == c))
  }

  test("reliable-checkpoint mode: same components as localCheckpoint, files on disk") {
    import java.nio.file.{Files, Paths}
    // the cluster-grade mode: rounds checkpoint to a directory (HDFS/S3
    // on a real cluster) so an executor loss cannot strand the loop, and
    // the caller frees the final round's blocks through the handle
    val ckptDir = Files.createTempDirectory("graft-cc-ckpt").toString
    val pairs = Dedup.minhashPairsCached(spark, Sf).select("doc_a", "doc_b")
    val local = Dedup.componentsOfManaged(pairs)
    val viaLocal = try local.labels
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      finally local.release()
    val managed = Dedup.componentsOfManaged(pairs, Some(ckptDir))
    val viaReliable = managed.labels
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaReliable == viaLocal && viaLocal.nonEmpty)
    // rounds really went through the reliable path (checkpoint files exist)
    val written = Files.walk(Paths.get(ckptDir))
      .filter(Files.isRegularFile(_)).count()
    assert(written > 0, s"expected RDD checkpoint files under $ckptDir")
    managed.release() // frees the converged labels' storage; results are collected
  }

  test("clearMemos frees the memoized pair/components blocks") {
    Dedup.clearMemos()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Dedup.minhashPairsCached(spark, Sf).count()
    Dedup.componentsCached(spark, Sf).count()
    val pinned = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(pinned.nonEmpty, "memo build should pin checkpoint blocks")
    Dedup.clearMemos()
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert(pinned.intersect(after).isEmpty,
      s"memo blocks still pinned after clearMemos: ${pinned.intersect(after)}")
  }

  test("memo layer honors spark.graft.checkpointDir: same labels, files cleaned on release") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    Dedup.clearMemos()
    val viaLocal = Dedup.nearDupComponents(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    Dedup.clearMemos()
    val ckptDir = Files.createTempDirectory("graft-memo-ckpt").toString
    spark.conf.set(Dedup.CheckpointDirConf, ckptDir)
    try {
      val viaReliable = Dedup.nearDupComponents(spark, Sf)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(viaReliable == viaLocal && viaLocal.nonEmpty)
      // the memoized frames are backed by reliable checkpoint files...
      def files() = Files.walk(Paths.get(ckptDir)).iterator().asScala
        .count(Files.isRegularFile(_))
      assert(files() > 0, s"expected checkpoint files under $ckptDir")
      // ...which release() deletes, so repeated pipeline runs cannot
      // accumulate checkpoint dirs
      Dedup.clearMemos()
      assert(files() == 0, s"checkpoint files must be cleaned on release")
      // global context state was restored (ADVICE: setCheckpointDir leak)
      assert(!spark.sparkContext.getCheckpointDir.exists(_.contains(ckptDir)))
    } finally {
      spark.conf.unset(Dedup.CheckpointDirConf)
      Dedup.clearMemos()
    }
  }

  test("binned interval join returns exactly the broadcast-NLJ answer") {
    val nlj = EventsOps.valueTierJoin(spark, Sf).collect().toSeq
    val binned = EventsOps.valueTierJoinBinned(spark, Sf).collect().toSeq
    assert(nlj == binned)
  }

  test("embedding near-dup quantizer-bits dial: 12-bit candidates nest inside 8-bit") {
    // the 8-bit bucket is the low half of the 12-bit bucket, so raising
    // bits only SPLITS buckets: every 12-bit candidate pair is an 8-bit
    // candidate pair. Blocking is lossy by design — the result sets need
    // not be equal — but the nesting forces two checkable dominances:
    // fewer (or equal) reported pairs, and per-(label, rank) the 8-bit
    // cosine is >= the 12-bit cosine (a superset candidate pool can only
    // improve a top-k).
    val b8 = Dedup.embeddingNearDup(spark, Sf, 8).collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getDouble(4)).toMap
    val b12 = Dedup.embeddingNearDup(spark, Sf, 12).collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getDouble(4)).toMap
    assert(b12.size <= b8.size)
    b12.foreach { case (key, cos12) =>
      assert(b8.contains(key) && b8(key) >= cos12,
        s"8-bit top-k must dominate 12-bit at $key")
    }
  }

  test("embedding near-dup: bits dial preserves answers when signs are stable") {
    // on vectors whose leading 12 dimensions have identical sign
    // patterns per near-pair (the common case for true duplicates),
    // widening the quantizer changes nothing
    import java.nio.file.Files
    val d = Files.createTempDirectory("graft-bits").toString
    val base = (1 to 16).map(_.toFloat)
    Seq(
      (0L, base, 0),
      (1L, base.map(_ * 2f), 0),             // colinear: same signs everywhere
      (2L, base.map(x => -x), 0),            // opposite: never co-bucketed
      (3L, base.map(_ * 1.5f), 1))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val b8 = Dedup.embeddingNearDup(spark, d, 8).collect().toSeq
    val b12 = Dedup.embeddingNearDup(spark, d, 12).collect().toSeq
    assert(b8 == b12)
    assert(b8.nonEmpty && b8.head.getDouble(4) == 1.0)
  }
}

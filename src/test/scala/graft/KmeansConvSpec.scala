package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.SimSearch

/** Delta-stopped Lloyd pins (`q_ann_kmeans_conv`, r12 VERDICT
  * directive #6):
  *
  *  - GENUINE CONVERGENCE: the loop stops strictly under the
  *    oscillation cap on the real corpus (a cap-bound stop would mean
  *    the tolerance is unreachable and the "convergence" a fiction);
  *  - CENSUS TOTALS: per-cluster members sum to the train-sample size
  *    (every sampled vector is assigned exactly once);
  *  - PLANTED GEOMETRY: on K well-separated planted clusters the loop
  *    converges with every cluster recovering exactly its planted
  *    population;
  *  - IDEMPOTENT RERUNS (retained-result discipline).
  */
class KmeansConvSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("converges under the cap; members sum to the train sample") {
    val rows = SimSearch.kmeansConvTop(spark, dir).collect()
    assert(rows.nonEmpty)
    val rounds = rows.head.getLong(3)
    assert(rows.forall(_.getLong(3) == rounds))
    assert(rounds >= 1L && rounds < SimSearch.KmConvMaxRounds,
      s"stop round $rounds must be a real convergence, not the cap")
    val e = graft.sources.Tables.embeddings(spark, dir)
    val trainN = math.min(e.count(),
      (SimSearch.KmTrainPerCent * SimSearch.KmK).toLong)
    assert(rows.map(_.getLong(1)).sum == trainN)
  }

  test("planted well-separated clusters are recovered exactly") {
    // K tight clusters at distinct corners of a 4-dim grid: cluster j
    // holds 10 + j vectors at (4j, 4j, 4j, 4j) + per-vector 1e-3 jitter
    // on one dim (breaks exact ties without moving anyone off-cluster).
    // |coords| < 2 is NOT required here... but the fixed-point offset
    // precondition is machine-checked, so keep coords within (-2, 2):
    // scale corners to 0.4·j − 1.4.
    // ids place ONE of the k lowest vec_ids (the seeds) in each planted
    // cluster, so every cluster starts with a seed and exact recovery —
    // population 10+j per cluster — is the converged fixed point
    val k = SimSearch.KmK
    val pts = (0 until k).flatMap { j =>
      (0 until (10 + j)).map { i =>
        val base = 0.4 * j - 1.4
        val vec = Array.fill(4)(base.toFloat)
        vec(i % 4) = (base + 1e-3 * (i + 1)).toFloat
        val id = if (i == 0) j.toLong else 100L * (j + 1) + i
        (id, vec.toSeq)
      }
    }
    val e = pts.toDF("vec_id", "embedding")
    val rows = SimSearch.kmeansConvReportOf(e, "kmeansConvSpec").collect()
    assert(rows.length == k, s"expected $k surviving clusters, got ${rows.length}")
    assert(rows.head.getLong(3) < SimSearch.KmConvMaxRounds)
    // seed j is the j-th lowest vec_id, so cent_id j recovers exactly
    // its planted population
    assert(rows.map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      (0 until k).map(j => j.toLong -> (10L + j)).toMap)
    assert(rows.map(_.getLong(1)).sum == pts.length.toLong)
  }

  test("a train coordinate past the fixed-point domain is refused, and the call's cuts are freed") {
    // 2.0 shifts to 4·10⁶ units, the first value outside [0, KmFpMax)
    val e = Seq((0L, Seq(0.1f, 0.2f)), (1L, Seq(2.0f, 0.0f)), (2L, Seq(-0.3f, 0.4f)))
      .toDF("vec_id", "embedding")
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val err = intercept[IllegalArgumentException](
      SimSearch.kmeansConvReportOf(e, "kmeansConvSpecDomain"))
    assert(err.getMessage.contains(s"KmFpMax=${SimSearch.KmFpMax}"), err.getMessage)
    assert(spark.sparkContext.getPersistentRDDs.keySet.toSet -- before == Set.empty)
  }

  test("a seed outside the train sample is bounded too") {
    // seeds are the KmK lowest vec_ids of the whole frame, not of the
    // capped train sample: take the id with the largest train-sample
    // key in [0, 3000) as the lowest id of cap + 1 vectors, so it is a
    // seed AND the one vector the sample drops
    val cap = SimSearch.KmTrainPerCent * SimSearch.KmK
    val all = spark.range(0, 3000).toDF("vec_id")
    val x = ((0L until 3000L).toSet --
      SimSearch.trainIds(all, 2999).collect().map(_.getLong(0))).head
    val ids = x to x + cap
    val train = SimSearch.trainIds(ids.toDF("vec_id"), cap)
      .collect().map(_.getLong(0)).toSet
    assert(!train.contains(x) && train.size == cap)
    val e = ids.map(i => (i, if (i == x) Seq(2.5f, 0.0f) else Seq(0.1f, 0.2f)))
      .toDF("vec_id", "embedding")
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val err = intercept[IllegalArgumentException](
      SimSearch.kmeansConvReportOf(e, "kmeansConvSpecDomain"))
    assert(err.getMessage.startsWith("requirement failed: seed"), err.getMessage)
    assert(err.getMessage.contains(s"KmFpMax=${SimSearch.KmFpMax}"))
    assert(spark.sparkContext.getPersistentRDDs.keySet.toSet -- before == Set.empty)
  }

  test("rerun serves the identical report") {
    val r1 = SimSearch.kmeansConvTop(spark, dir).collect().map(_.toString).toSeq
    val r2 = SimSearch.kmeansConvTop(spark, dir).collect().map(_.toString).toSeq
    assert(r1 == r2)
  }
}

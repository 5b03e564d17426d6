package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.Graph

/** Delta-stopped PageRank pins (r11 VERDICT directive #4):
  *
  *  - STOP CONTRACT: the loop halts at the first round whose L1 delta
  *    drops under [[Graph.PrTol]], at least one round runs, and the
  *    cap never binds on a well-behaved graph;
  *  - MASS CONSERVATION: the fixed-point ranks sum to [[Graph.PrPrec]]
  *    up to the integer-floor noise (≤ ~2 units per node per term);
  *  - CONVERGED ≡ LONG-FIXED-ITERS: the delta-stopped RANKING equals
  *    the ranking of the registered 3-iteration kernel run far past
  *    convergence on a planted graph — the property that justifies
  *    replacing a fixed iteration count with a stop test;
  *  - ROUND-COUNT INVARIANCE under verbatim growth: the kNN graph is
  *    replication-invariant, so the whole integer recursion — including
  *    the stop round — is exactly unchanged.
  */
class PagerankConvSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  /** Two planted communities bridged by one edge, degrees 2..4 —
    * small enough to converge quickly, asymmetric enough that the
    * ranking is non-trivial. Symmetric by construction. */
  private def edges() = {
    val und = Seq(
      (1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), // triangle + tail
      (4L, 5L), (5L, 6L), (6L, 4L), // second triangle
      (3L, 6L) // bridge
    )
    (und ++ und.map { case (a, b) => (b, a) }).toDF("src", "dst")
  }

  test("every registered caller's edge frame is symmetric") {
    // the fused step's precondition (pagerankConvergedRanks/pagerankRanks
    // scaladoc): (src, dst) EXCEPT (dst, src) is empty for the frames
    // q_graph_pagerank, q_graph_pagerank_knn and q_graph_pagerank_conv
    // feed the loops
    val li = graft.sources.Tables.lineitem(spark, "/root/testdata/sf0.001")
    Seq("copurchase" -> Graph.copurchaseEdges(li), "knn" -> Graph.knnEdges(li))
      .foreach { case (name, e) =>
        assert(e.count() > 0, name)
        val oneWay = e.select("src", "dst")
          .except(e.select(col("dst").as("src"), col("src").as("dst")))
        assert(oneWay.count() == 0L, s"$name edges are not symmetric")
      }
  }

  test("stops under tol, conserves mass, at least one round") {
    val r = Graph.pagerankConvergedRanks(edges(), "convSpec1").collect()
    val rounds = r.head.getInt(3)
    assert(rounds >= 1 && rounds < Graph.PrMaxRounds)
    val mass = r.map(_.getLong(2)).sum
    // floor division loses < 2 units per node per term; 6 nodes
    assert(math.abs(mass - Graph.PrPrec) < 100L * r.length,
      s"mass $mass vs ${Graph.PrPrec}")
  }

  test("converged ranking equals the fixed-iteration kernel far past convergence") {
    val conv = Graph.pagerankConvergedRanks(edges(), "convSpec2")
      .orderBy(desc("fp_rank"), asc("node"))
      .collect().map(_.getLong(0))
    // the registered float kernel at its shipped 3 iterations has NOT
    // converged on this graph shape in general; run the same damped
    // step 40 rounds (≥ the delta-stopped round count) and compare
    // the RANKING (values differ: float vs fixed-point)
    val longRun = {
      val e = edges()
      val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
      val n = deg.count().toDouble
      var cur = deg.select(col("src").as("node"), col("deg"),
        lit(1.0 / n).as("r"))
      (1 to 40).foreach { _ =>
        val inflow = e
          .join(cur.select(col("node").as("src"), col("r"), col("deg")), "src")
          .groupBy(col("dst")).agg(sum(col("r") / col("deg")).as("inflow"))
        cur = cur.select(col("node"), col("deg"))
          .join(inflow, col("node") === col("dst"), "left")
          .select(col("node"), col("deg"),
            (lit(0.15 / n) + lit(0.85) * coalesce(col("inflow"), lit(0.0))).as("r"))
          .localCheckpoint()
      }
      cur.orderBy(desc("r"), asc("node")).collect().map(_.getLong(0))
    }
    assert(conv.toSeq == longRun.toSeq)
  }

  test("verbatim growth leaves ranks AND the stop round unchanged") {
    val li1 = PagerankConvSpec.baskets(1).toDF("l_orderkey", "l_partkey")
    val li3 = PagerankConvSpec.baskets(3).toDF("l_orderkey", "l_partkey")
    val r1 = Graph.pagerankConvergedRanks(
      Graph.knnEdges(li1, m = 8), "convSpec3a")
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(2), r.getInt(3)))
    val r3 = Graph.pagerankConvergedRanks(
      Graph.knnEdges(li3, m = 8), "convSpec3b")
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(2), r.getInt(3)))
    assert(r1.toSeq == r3.toSeq)
  }
}

object PagerankConvSpec {
  /** The PagerankKnnSpec hub-plus-clique basket corpus, replicated. */
  def baskets(rep: Int): Seq[(Long, Long)] = {
    val hub = (1 to 60).map(i => (i.toLong, Seq(0L, i.toLong)))
    val clique = (0 until 3).map(r =>
      (1000L + r, Seq(1L, 2L, 3L, 4L, 5L, 6L)))
    val base = hub ++ clique
    (0 until rep).flatMap { r =>
      base.map { case (ok, parts) => (ok + 100000L * r, parts) }
    }.flatMap { case (ok, parts) => parts.map(p => (ok, p)) }
  }
}

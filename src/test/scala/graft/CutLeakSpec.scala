package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup

/** Repeated registered queries pin no more than their retained slots:
  * a loop (`q_graph_pagerank_conv`, one retained final round), a
  * retained-result query (`q_text_bm25`, one slot), a memo consumer
  * (`q_dedup_clusters`, the pair-graph and component-label memos) and
  * incremental CC (`q_dedup_cc_inc`, its old and delta label rounds; the
  * pair graph is the memo above), each run twice. Every other cut they
  * make is retired by its scope. */
class CutLeakSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val Sf = "/root/testdata/sf0.001"

  private val slots = Seq(
    "q_graph_pagerank_conv" -> 1, "q_text_bm25" -> 1, "q_dedup_clusters" -> 2,
    "q_dedup_cc_inc" -> 2)

  test("two runs of a loop, a retained-result query and a memo consumer pin only their slots") {
    Dedup.clearMemos()
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    try {
      // the returned frames stay referenced, as a caller's would, so a
      // cut nothing owns cannot drop out of the count by being collected
      val held = for (_ <- 1 to 2; (name, _) <- slots) yield {
        val df = SparkEntry.queries(name)(spark, Sf)
        assert(df.collect().nonEmpty, name)
        df
      }
      val grown = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
      assert(grown.size <= slots.map(_._2).sum,
        s"${grown.size} persistent RDDs added, retained slots ${slots.map(_._2).sum}")
      java.lang.ref.Reference.reachabilityFence(held)
    } finally Dedup.clearMemos()
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup

/** Repeated registered queries pin no more than their retained slots:
  * a loop (`q_graph_pagerank_conv`, one retained final round), a
  * retained-result query (`q_text_bm25`, one slot) and a memo consumer
  * (`q_dedup_clusters`, the pair-graph and component-label memos), each
  * run twice. Every other cut they make is retired by its scope. */
class CutLeakSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val Sf = "/root/testdata/sf0.001"

  private val slots = Seq(
    "q_graph_pagerank_conv" -> 1, "q_text_bm25" -> 1, "q_dedup_clusters" -> 2)

  test("two runs of a loop, a retained-result query and a memo consumer pin only their slots") {
    Dedup.clearMemos()
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    try {
      for (_ <- 1 to 2; (name, _) <- slots) {
        assert(SparkEntry.queries(name)(spark, Sf).collect().nonEmpty, name)
      }
      val grown = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
      assert(grown.size <= slots.map(_._2).sum,
        s"${grown.size} persistent RDDs added, retained slots ${slots.map(_._2).sum}")
    } finally Dedup.clearMemos()
  }
}

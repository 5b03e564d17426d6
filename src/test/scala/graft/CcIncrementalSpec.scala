package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup

/** Constructed-graph pins for incremental connected components
  * ([[Dedup.ccIncrementalOf]]): the merge cases a full-recompute oracle
  * at one SF cannot isolate — bridging two old components, chains of
  * arriving docs, unpaired indexed docs pulled in, and untouched
  * components staying out of the update set. */
class CcIncrementalSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  private def run(pairs: Seq[(Long, Long)]): Map[Long, (Long, String)] =
    Dedup.ccIncrementalOf(pairs.toDF("doc_a", "doc_b")).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("component"), r.getAs[String]("status"))).toMap

  test("one arriving doc bridges two old components") {
    // old comps {2,4} (label 2) and {6,8} (label 6); doc 5 arrives
    // touching both -> merged label 2: comp-6 members relabel, comp-2
    // members anchor
    val out = run(Seq((2L, 4L), (6L, 8L), (5L, 4L), (5L, 8L)))
    assert(out == Map(
      2L -> ((2L, "anchor")), 4L -> ((2L, "anchor")),
      6L -> ((2L, "relabeled")), 8L -> ((2L, "relabeled")),
      5L -> ((2L, "new"))))
  }

  test("arriving-only chain forms its own component; untouched comp absent") {
    // old comp {2,4} untouched; odd chain 1-3-7 is a fresh component
    val out = run(Seq((2L, 4L), (1L, 3L), (3L, 7L)))
    assert(out == Map(
      1L -> ((1L, "new")), 3L -> ((1L, "new")), 7L -> ((1L, "new"))))
  }

  test("arriving doc with a smaller id takes over as the label") {
    // old comp {4,6} (label 4); doc 1 arrives -> merged label 1, all
    // old members relabel
    val out = run(Seq((4L, 6L), (1L, 6L)))
    assert(out == Map(
      4L -> ((1L, "relabeled")), 6L -> ((1L, "relabeled")),
      1L -> ((1L, "new"))))
  }

  test("unpaired indexed doc pulled in by an arriving doc") {
    // doc 8 has no old pairs; doc 3 links it to old comp {2,4}
    val out = run(Seq((2L, 4L), (3L, 8L), (3L, 4L)))
    assert(out == Map(
      2L -> ((2L, "anchor")), 4L -> ((2L, "anchor")),
      8L -> ((2L, "relabeled")), 3L -> ((2L, "new"))))
  }

  test("matches the batch recompute on the registered corpus slice") {
    // incremental update set == full componentsOfManaged restricted to
    // components containing an odd doc (label agreement doc-by-doc)
    val dir = "/root/testdata/sf0.001"
    val pairs = Dedup.minhashPairsPlan(spark, dir)
      .select("doc_a", "doc_b")
    val inc = Dedup.ccIncrementalOf(pairs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("component")).toMap
    val full = Dedup.componentsOfManaged(pairs)
    val fullLab = try full.labels.collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("component")).toMap
      finally full.release()
    val touchedComps = fullLab.collect { case (id, c) if id % 2 == 1 => c }.toSet
    val expected = fullLab.filter { case (_, c) => touchedComps(c) }
    assert(inc == expected)
  }
}

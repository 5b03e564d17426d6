package graft

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll
import org.scalacheck.Test.Parameters
import graft.operators.Dedup

/** ScalaCheck pin of the distributed min-label-propagation components
  * loop against a trivially-correct in-memory union-find on random
  * graphs — stronger evidence than fixed cases, because random graphs
  * hit chain/star/cycle mixes and the iteration-count edge the fixed
  * fixtures don't.
  */
class ComponentsPropsSpec extends Properties("componentsOf") {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  override def overrideParameters(p: Parameters): Parameters =
    p.withMinSuccessfulTests(6) // each case runs a full Spark loop

  private def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  // small id space so random pairs form real multi-node components
  private val pair = for {
    a <- Gen.chooseNum(0L, 24L); b <- Gen.chooseNum(0L, 24L) if a != b
  } yield (math.min(a, b), math.max(a, b))
  private val graphs = Gen.chooseNum(1, 30).flatMap(Gen.listOfN(_, pair))

  property("equals union-find on random graphs") = forAll(graphs) { pairs =>
    val expected = unionFind(pairs)
    val cc = Dedup.componentsOfManaged(pairs.toDF("doc_a", "doc_b"))
    val got = try cc.labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      finally cc.release()
    got == expected
  }
}

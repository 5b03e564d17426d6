package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.ScaleTechniques
import graft.sources.Tables
import java.nio.file.Files

/** Equivalence and plan-shape checks for the scale toolbox: salting must
  * not change answers; bucketed tables must join without a shuffle.
  */
class ScaleTechniquesSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark

  private val dir = "/root/testdata/sf0.001"

  test("salted aggregation equals direct aggregation") {
    val li = Tables.lineitem(spark, dir)
    val salted = ScaleTechniques
      .saltedSumCount(li, col("l_returnflag"), col("l_quantity"), 8)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    val direct = li.groupBy("l_returnflag")
      .agg(sum("l_quantity").as("total"), count(lit(1)).as("cnt"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(salted.keySet == direct.keySet)
    salted.foreach { case (k, (s, c)) =>
      assert(c == direct(k)._2)
      assert(math.abs(s - direct(k)._1) < 1e-6)
    }
  }

  test("salted join equals plain join") {
    val orders = Tables.orders(spark, dir).select("o_orderkey", "o_custkey")
    val dim = Tables.customer(spark, dir)
      .withColumnRenamed("c_custkey", "o_custkey")
      .select("o_custkey", "c_name")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("o_orderkey", "c_name").collect()
        .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val plain = canon(orders.join(dim, "o_custkey"))
    val salted = canon(ScaleTechniques.saltedJoin(orders, dim, "o_custkey", 4))
    assert(salted == plain)
    assert(plain.nonEmpty)
  }

  test("salted join tolerates map-typed fact columns (skipped from the salt hash)") {
    // hash() rejects MapType; the salt must skip such columns instead of
    // throwing, and answers must still match the plain join
    val orders = Tables.orders(spark, dir).select("o_orderkey", "o_custkey")
      .withColumn("attrs", map(lit("k"), col("o_orderkey").cast("string")))
    val dim = Tables.customer(spark, dir)
      .withColumnRenamed("c_custkey", "o_custkey")
      .select("o_custkey", "c_name")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("o_orderkey", "c_name").collect()
        .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val plain = canon(orders.join(dim, "o_custkey"))
    val salted = canon(ScaleTechniques.saltedJoin(orders, dim, "o_custkey", 4))
    assert(salted == plain && plain.nonEmpty)
  }

  test("AQE splits a skewed join partition at runtime") {
    // one hot key carries ~95% of the fact side; with broadcast disabled
    // the sort-merge join would send it all to one reducer — AQE's skew
    // handling must split that partition instead (the runtime re-plan the
    // salting helpers complement, not replace)
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      import spark.implicits._
      val hot = spark.range(60000).select(lit(1L).as("k"), col("id").as("v"))
      val rest = spark.range(3000).select((col("id") % 50 + 2).as("k"), col("id").as("v"))
      val fact = hot.unionByName(rest)
      val dim = spark.range(60).select(col("id").as("k"), (col("id") * 10).as("w"))
      val joined = fact.join(dim, "k")
      // collect() executes THIS queryExecution (count() would plan a new
      // one and leave this plan un-finalized, isFinalPlan=false)
      assert(joined.collect().length == 63000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.toLowerCase.contains("skew"),
        s"expected a skew-split join in the final AQE plan:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("runtime bloom-filter pruning injects into a selective join") {
    // at 100 TB the dominant join cost is scanning fact rows that the
    // dim-side filter will discard anyway; Spark's runtime bloom filter
    // builds a filter from the (filtered) creation side and pushes it
    // into the application-side scan. Local parquet is far below the
    // 10GB application-side default, so lower the thresholds to prove
    // the mechanism fires and prunes correctly here
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val li = Tables.lineitem(spark, dir)
      val sel = Tables.orders(spark, dir)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey")
      val joined = li.join(sel, li("l_orderkey") === sel("o_orderkey"))
      val n = joined.count()
      val plan = joined.queryExecution.optimizedPlan.toString.toLowerCase
      assert(plan.contains("bloom"),
        s"expected an injected runtime bloom filter, plan:\n$plan")
      // pruning must not change the answer
      val expected = li.join(
        Tables.orders(spark, dir).filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey").as("k")),
        col("l_orderkey") === col("k")).count()
      assert(n == expected && n > 0)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("bucketed tables join with zero shuffle exchanges") {
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force the issue
    try {
      Tables.orders(spark, dir).write.bucketBy(4, "o_custkey")
        .sortBy("o_custkey").mode("overwrite").saveAsTable("orders_b")
      Tables.customer(spark, dir).withColumnRenamed("c_custkey", "o_custkey")
        .write.bucketBy(4, "o_custkey")
        .sortBy("o_custkey").mode("overwrite").saveAsTable("customer_b")
      val joined = spark.table("orders_b").join(spark.table("customer_b"), "o_custkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join should not shuffle, plan:\n$plan")
      assert(joined.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS customer_b")
    }
  }

  test("sweepStaleLayouts pattern matches every layoutPath tag, incl. underscored ones") {
    // keep in sync with the layoutPath call sites (grep layoutPath():
    // Layout.scala, SimSearch.scala, ScaleTechniques.ensureFactLayout) and
    // the Bloom-signature dir (Layout.ensureBloomSigs)
    val tags = Seq("zblocks2", "hblocks", "frag", "bloomdelta", "bloomforget",
      "compacted", "zdelta", "zforget", "hdelta", "hforget", "dpp_fact", "annenc",
      "bloomsig2")
    val hex12 = "0123456789ab"
    tags.foreach { tag =>
      val published = s"graft_${tag}_$hex12"
      assert(ScaleTechniques.LayoutSweepPattern.findFirstIn(published).isDefined,
        s"published layout dir '$published' escapes the startup sweep")
      // staged write/evict dirs from a DEAD prior JVM must also be swept
      Seq(s"$published.w12345", s"$published.evict12345").foreach { staged =>
        assert(ScaleTechniques.LayoutSweepPattern.findFirstIn(staged).isDefined,
          s"staged dir '$staged' escapes the startup sweep")
      }
    }
    // non-layout names must NOT match (the sweep deletes what it matches)
    Seq("graft_notalayout", s"graft_${hex12}", "graftx_tag_0123456789ab",
      s"graft_tag_${hex12}extra").foreach { name =>
      assert(ScaleTechniques.LayoutSweepPattern.findFirstIn(name).isEmpty,
        s"unrelated temp dir '$name' would be deleted by the sweep")
    }
  }
}

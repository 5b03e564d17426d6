package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Materializes a k×-replicated snapshot of an sf directory as a full
  * 10-table parquet layout, so the WHOLE `Bench` suite can run at a
  * larger scale factor (the SCALE.md growth harness covers only the
  * dedup/ANN/graph candidate stages; directive: one full-suite
  * datapoint at sf1.0 to catch constant blow-ups in the other ~100
  * queries).
  *
  * Replication model per table:
  *  - documents / embeddings: [[Scale.replicatedDocs]] /
  *    [[Scale.replicatedEmbeddings]] — replica tokens injectively
  *    renamed (dup RATE preserved, replicas shingle-disjoint), vectors
  *    unchanged under fresh ids. The realistic crawl-growth model.
  *  - TPC-H star: every SF-scaling key (cust/supp/part/order) shifts by
  *    the replica stride, preserving referential integrity within each
  *    replica; fixed-cardinality nation/region stay as-is (dimension
  *    tables do not grow with SF) and their foreign keys are NOT
  *    shifted, so attribute-literal filters (brand, nation name,
  *    mktsegment) keep their selectivity — the TPC-H scaling rule.
  *  - events: ids shift (10× users, 10× events, same time span — event
  *    RATE grows, windows stay bounded).
  *
  * Layout caveat: tables are written as parquet DIRECTORIES named
  * `<table>.parquet` — fine for every batch loader (`Tables.load` reads
  * directories), but the STREAMING readers pin the generator's
  * single-FILE layout via `pathGlobFilter` (`EventsStream.readEvents`,
  * `EmbeddingsStream.readEmbeddings`) and will not see a directory
  * table. The scaled snapshot is a batch-bench input, not a streaming
  * source; re-shard to single files (the `TsVintageSpec` helper shape)
  * if a streaming run at scale is ever needed.
  *
  *   sbt "runMain graft.ScaleData /root/testdata/sf0.1 /tmp/graft_sf1 10"
  */
object ScaleData {
  def main(args: Array[String]): Unit = {
    val baseDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("/tmp/graft_sf1")
    val k = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = LocalSession(LocalSession.cpus(16))

    // the SAME stride as Scale.replicatedDocs/replicatedEmbeddings —
    // one constant, or cross-table key-disjointness silently breaks
    val stride = Scale.ReplicaStride

    def replicate(df: DataFrame, shiftCols: Seq[String]): DataFrame =
      (0 until k).map { i =>
        if (i == 0) df
        else shiftCols.foldLeft(df)((d, c) =>
          d.withColumn(c, col(c) + lit(i * stride)))
      }.reduce(_ unionByName _)

    def load(name: String): DataFrame =
      if (name == "events") graft.sources.Tables.events(spark, baseDir)
      else graft.sources.Tables.load(spark, baseDir, name)

    val tables: Seq[(String, DataFrame)] = Seq(
      "region"   -> load("region"),                       // fixed dims: 1×
      "nation"   -> load("nation"),
      "customer" -> replicate(load("customer"), Seq("c_custkey")),
      "supplier" -> replicate(load("supplier"), Seq("s_suppkey")),
      "part"     -> replicate(load("part"), Seq("p_partkey")),
      "orders"   -> replicate(load("orders"), Seq("o_orderkey", "o_custkey")),
      "lineitem" -> replicate(load("lineitem"),
        Seq("l_orderkey", "l_partkey", "l_suppkey")),
      "events"   -> replicate(load("events"), Seq("event_id", "user_id")),
      "documents" -> Scale.replicatedDocs(spark, baseDir, k),
      "embeddings" -> Scale.replicatedEmbeddings(spark, baseDir, k))

    tables.foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      System.err.println(s"[scaledata] $name written")
    }
    println(s"replicated ${k}x snapshot of $baseDir at $outDir")
    spark.stop()
  }
}

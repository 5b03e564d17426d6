package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._
import graft.sources.Tables
import scala.util.Using

/** The reference engine's one and only query — per-key word count — plus
  * its natural generalizations, as one lazy Spark plan.
  *
  * Reference pipeline (SURVEY.md §3): scan → tokenize (`MapperImpl.so`) →
  * per-partition partial count (`ShufflerImpl.so`, a map-side combiner) →
  * per-file final merge (`ReducerImpl.so`) → ordered sink. In Spark the
  * partial/final split is exactly `HashAggregate(partial)` →
  * shuffle → `HashAggregate(final)`, produced automatically by
  * `groupBy(key, word).count()` — no hand-rolled combiner needed, and the
  * plan holds at any scale because the agg state is additive.
  *
  * Two semantics gotchas pinned by tests (SURVEY.md §4.3):
  *  - aggregation scope is PER KEY (per input file / per doc_id) — counts
  *    never merge across keys (`asio_deep/main.cpp:457-459`);
  *  - output ordering is byte-lexicographic per key, mirroring `std::map`
  *    iteration (`FileProcessorBase.hpp:34`), so sinks `orderBy` explicitly.
  */
object WordCount {

  /** Tokenized (key, word) pairs: one row per emitted token, the Spark
    * analog of the reference's `(word, 1, partitionNum)` tuple stream.
    *
    * Per-row expressions go in a `select` of their own BELOW the explode.
    * Spark's analyzer moves every non-generator expression of a
    * generator-select into a `Project` above the `Generate`, so a key
    * computed there (the registry's `regexp_extract(file, "[^/]+$", 0)`)
    * would run once per generated TOKEN (about 8.7 times per line on the
    * benchmark corpus) instead of once per line. `tokenize` itself stays inside the
    * generator: exploding a pre-projected array column lets
    * `InferFiltersFromGenerate` add a `size(tokenize(text)) > 0` filter
    * below the `Generate`, which tokenizes every line twice. */
  def tokens(df: DataFrame, key: Column, text: Column): DataFrame =
    Tables.fanOut(df)
      .select(key.as("key"), text.as("text"))
      .select(col("key"), explode(tokenize(col("text"))).as("word"))

  /** Per-key word count — the reference's end-to-end query. */
  def perKey(df: DataFrame, key: Column, text: Column): DataFrame =
    tokens(df, key, text)
      .groupBy("key", "word")
      .agg(count(lit(1)).as("cnt"))

  /** Corpus-global word count (the reference never merges across files;
    * this is the extension users actually want at 100 TB). */
  def global(df: DataFrame, text: Column): DataFrame =
    Tables.fanOut(df).select(explode(tokenize(text)).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"))

  /** Global top-k words with a total (word) tiebreak so the result is
    * deterministic under any partitioning. */
  def topK(df: DataFrame, text: Column, k: Int): DataFrame =
    global(df, text).orderBy(desc("cnt"), asc("word")).limit(k)

  /** Intermediate-sink compat mode — the `FileProcessorMapOutput` analog
    * (`FileProcessorBase.hpp:164-166`; FIXTURES.md §B): one directory per
    * input file, one text file per Spark partition (standing in for the
    * reference's 2000-line partition number from `get<2>` of the map
    * tuple), lines `(word,1)`. Spark materializes map output inside its
    * own shuffle files, so this exists ONLY for byte-format compatibility
    * with reference-produced `temp_mapper/` trees — never on a hot path.
    * Input: [[tokens]] output (`key`, `word`). */
  def writeMapOutput(toks: DataFrame, outDir: String): Unit =
    toks
      .select(col("key"), spark_partition_id().as("part"),
        concat(lit("("), col("word"), lit(",1)")).as("value"))
      .write.partitionBy("key", "part").mode("overwrite").text(outDir)

  /** Intermediate-sink compat mode — the `FileProcessorShufOutput` analog
    * (`FileProcessorBase.hpp:172-174`): per-partition PARTIAL counts as
    * `(word,partialCount)` lines, the on-disk shape of the reference's
    * map-side combine (`ShufflerImpl.so`). Same compat-only caveat as
    * [[writeMapOutput]]. */
  def writeShufOutput(toks: DataFrame, outDir: String): Unit =
    toks
      .withColumn("part", spark_partition_id())
      .groupBy("key", "part", "word")
      .agg(count(lit(1)).as("cnt"))
      .repartition(col("key"), col("part"))
      .sortWithinPartitions("key", "part", "word")
      .select(col("key"), col("part"),
        concat(lit("("), col("word"), lit(","), col("cnt"), lit(")")).as("value"))
      .write.partitionBy("key", "part").mode("overwrite").text(outDir)

  /** Ordered per-key text sink — the `FileProcessorRedOutput` analog
    * (`FileProcessorBase.hpp:180-182`): one directory per key holding
    * `(word,count)` lines in byte-lexicographic word order, mirroring the
    * reference's `final_output/<file>` layout and its implicit `std::map`
    * iteration order (SURVEY.md §1.1).
    *
    * `repartition(key)` puts each key's rows in exactly one task, and
    * `sortWithinPartitions` makes that task emit its lines ordered, so
    * every `key=<k>/part-*` file is a single, fully sorted text file —
    * at any scale, without a global sort. Input must be [[perKey]] output
    * (`key`, `word`, `cnt`). */
  def writePerFile(counts: DataFrame, outDir: String): Unit =
    counts
      .repartition(col("key"))
      .sortWithinPartitions("key", "word")
      .select(col("key"),
        concat(lit("("), col("word"), lit(","), col("cnt"), lit(")")).as("value"))
      .write.partitionBy("key").mode("overwrite").text(outDir)

  /** Byte-compatible `final_output/` tree: exactly the reference's
    * layout — `<outDir>/final_output/<origFileName>` with `(word,count)`
    * lines in byte order (`ReducerImpl.so` path rewrite @0x1a04e,
    * FIXTURES.md §B). Wraps [[writePerFile]] and then renames Spark's
    * `key=<file>/part-*` layout into plain per-file names — a driver-side
    * rename pass over ONE directory entry per input file (never data),
    * so it costs O(files) regardless of data scale. */
  def writeFinalOutputCompat(counts: DataFrame, outDir: String): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val staging = s"$outDir/_staging"
    writePerFile(counts, staging)
    val finalDir = Paths.get(outDir, "final_output")
    Files.createDirectories(finalDir)
    Using.resource(Files.list(Paths.get(staging))) { keyDirs =>
      keyDirs.forEach { keyDir =>
        val name = keyDir.getFileName.toString
        if (name.startsWith("key=")) {
          val part = Using.resource(Files.list(keyDir)) {
            _.filter(p => p.getFileName.toString.startsWith("part-")).findFirst()
          }
          if (part.isPresent) {
            Files.move(part.get(), finalDir.resolve(name.stripPrefix("key=")),
              StandardCopyOption.REPLACE_EXISTING)
          }
        }
      }
    }
  }
}

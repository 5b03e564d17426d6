package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions
import graft.sources.Tables

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, n-gram Jaccard, and embedding-cosine near-dup.
  *
  * Scale posture (the part that matters at 100 TB):
  *  - every hot path is RELATIONAL and codegen'd: shingles come from
  *    `arrays_zip`+`explode` (no interpreted array lambdas), signatures
  *    from partial-aggregating `groupBy` (`min`/`sum` map-side combine),
  *    hashes from ONE md5 per token/shingle plus integer permutations;
  *  - the only shuffles are bucket joins on (band, signature) keys, whose
  *    fan-in is bounded by banding, never an all-pairs product;
  *  - all candidate verification happens after LSH pruning.
  *
  * Cross-engine determinism: the only cryptographic hash used is md5
  * (identical in Spark and DuckDB); all derived hashing is integer
  * arithmetic both engines evaluate exactly (BIGINT mul/add/mod).
  */
object Dedup {

  val MinhashK = 32      // minhash permutations
  val MinhashBands = 8   // bands of R = K/BANDS rows
  val MinhashR = 4
  val MinhashP = 2147483647L // 2^31-1, modulus of the permutation hashes
  // Simhash signatures are carried as `bits/32` strictly-positive 32-bit
  // WORDS (sh_0 = most-significant), so no intermediate ever touches a
  // BIGINT sign bit in either engine (1L << 63 is negative in both Spark
  // and DuckDB). The width dial is 32, 64 or 128 bits — the 4 bands must
  // tile the 32-bit words, which rules out 96 (its 24-bit bands would
  // straddle a word boundary); one md5 yields the four 32-bit base
  // hashes per token that 128 needs. At 64 bits the 4 bands have 65,536
  // keys each; at 128 bits they have 2^32 — widening
  // the signature is how the band-join key space keeps growing when the
  // corpus does (SCALE.md caveat 1), since hamming<=3 still guarantees
  // >=1 intact band by pigeonhole at ANY width with 4 bands.
  val SimhashBits = 64   // width of the REGISTERED query (oracle-pinned)
  val SimhashBands = 4
  val HammingMax = 3
  private def simhashWords(bits: Int): Int = bits / 32
  private def simhashBandBits(bits: Int): Int = bits / SimhashBands
  private def requireSimhashWidth(bits: Int): Unit =
    require(bits % 32 == 0 && bits >= 32 && bits <= 128 &&
      bits % SimhashBands == 0 &&
      (32 % simhashBandBits(bits) == 0 || simhashBandBits(bits) == 32),
      s"unsupported simhash width $bits: needs 32-bit words from one md5" +
        " and bands tiling the words")

  /** Word-3-gram posting list `(doc_id, g)`, multiset semantics.
    * Shingles are built WITHOUT lambda HOFs — `arrays_zip` of three
    * shifted `slice`s, `explode`, `concat_ws` — because higher-order
    * functions have no codegen in Spark (interpreted, no CSE) and were
    * ~20× slower here; this shape is one WholeStageCodegen span over the
    * scan. Consumers needing set semantics call `.distinct()`; MinHash
    * doesn't (min is duplicate-insensitive). */
  private[graft] def shinglesOf(docs: DataFrame): DataFrame = {
    val t = docs.select(col("doc_id"), tokenize(col("text")).as("toks"))
    val len = greatest(size(col("toks")) - 2, lit(0))
    val zipped = arrays_zip(
      slice(col("toks"), lit(1), len),
      slice(col("toks"), lit(2), len),
      slice(col("toks"), lit(3), len))
    t.select(col("doc_id"), explode(zipped).as("z"))
      .select(col("doc_id"),
        concat_ws(" ", col("z.0"), col("z.1"), col("z.2")).as("g"))
  }

  /** The (doc_id, sigs, band, band_sig) LSH index of a document frame —
    * the PRECOMPUTED STATIC side of incremental/streaming near-dup
    * screening. In production this is persisted via [[writeBandIndex]]
    * once per corpus snapshot and probed by every new batch or stream
    * without being rebuilt. */
  def bandIndexOf(docs: DataFrame): DataFrame =
    minhashBands(minhashSigFrame(shinglesOf(docs)))

  /** Bucket count for the persisted band index. At 100 TB this should be
    * sized so one bucket's rows fit a reducer (corpus bands / buckets);
    * the default matches the test cluster's parallelism. */
  val BandIndexBuckets = 32

  /** Persist the corpus band index as a BUCKETED table — the production
    * snapshot write path. Bucketing by the probe join key (band, band_sig)
    * means every later probe ([[probeBandIndex]], the streaming
    * [[graft.streaming.DocsStream.nearDupScreen]]) joins WITHOUT an
    * exchange on the index side: only the (small) incoming batch shuffles
    * to the bucket layout, so screening cost is O(batch), never O(corpus).
    * `sortBy` the same keys so each bucket file is join-key ordered
    * (cheap merge at read). Requires a session with a warehouse dir
    * (`saveAsTable` — bucketing metadata lives in the catalog, plain
    * `.parquet()` paths cannot carry it). */
  def writeBandIndex(docs: DataFrame, table: String,
                     buckets: Int = BandIndexBuckets): Unit =
    bandIndexOf(docs).write
      .mode("overwrite")
      .bucketBy(buckets, "band", "band_sig")
      .sortBy("band", "band_sig")
      .format("parquet")
      .saveAsTable(table)

  /** Read a [[writeBandIndex]] snapshot back. Going through the catalog
    * (not a path read) is what preserves the bucketing spec Spark uses
    * to elide the index-side exchange. */
  def readBandIndex(spark: SparkSession, table: String): DataFrame =
    spark.table(table)

  /** Probe a corpus band index with a NEW batch of documents — the
    * shared asymmetric-join kernel under [[incrementalMinhash]] (which
    * builds both sides in-flight) and the snapshot flow (index from
    * [[readBandIndex]]). Cost scales with the batch: the index side is
    * read per matched bucket, never re-paired with itself. Each matching
    * pair is kept exactly once via the first-matching-band filter (no
    * distinct — nothing corpus-sized shuffles). */
  def probeBandIndex(newDocs: DataFrame, index: DataFrame,
                     threshold: Double = 0.5): DataFrame = {
    val fresh = bandIndexOf(newDocs)
      .select(col("doc_id").as("new_doc"), col("sigs").as("sigs_b"),
        col("band"), col("band_sig"))
    val existing = index
      .select(col("doc_id").as("dup_of"), col("sigs").as("sigs_a"),
        col("band"), col("band_sig"))
    fresh.join(existing, Seq("band", "band_sig"))
      .filter(noEarlierBandMatch)
      .select(col("new_doc"), col("dup_of"), estJaccard.as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  /** ERASURE PROPAGATION through the persisted near-dup artifact — the
    * third family the right-to-be-forgotten retraction covers (after
    * the BM25 index and the IVF-PQ lists): minhash signatures are
    * DOC-LOCAL (min over the doc's own shingles — no corpus-derived
    * stats to refold), so retracting the erasure list from the band
    * index is exactly one broadcast anti-join and retracted ≡ rebuilt
    * is structural (`DedupForgetSpec` pins it anyway). The registered
    * query screens the standard odd-doc batch against the RETRACTED
    * even-snapshot index: a forgotten document can never surface as a
    * `dup_of` again — which matters operationally, because a dedup
    * screen that keeps matching against erased content quietly keeps
    * acting on it. */
  def bandIndexForgetScreen(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.fanOut(Tables.documents(spark, dir))
    val forget = d.filter(col("doc_id") % CorpusMerge.ForgetMod
        === CorpusMerge.ForgetRem)
      .select("doc_id")
    val retracted = bandIndexOf(d.filter(col("doc_id") % 2 === 0))
      .join(broadcast(forget), Seq("doc_id"), "left_anti")
    probeBandIndex(d.filter(col("doc_id") % 2 === 1), retracted)
      .orderBy("new_doc", "dup_of")
  }

  /** Exact dedup bookkeeping per (lang, source) shard: how many rows
    * survive `dropDuplicates(text)`. The grouped form scales where a
    * global distinct would: the heavy key is md5(text), not text. */
  def exactStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy("lang", "source")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_distinct"),
        (count(lit(1)) - countDistinct(md5(col("text")))).as("n_dupes"))
      .orderBy("lang", "source")

  /** Exact duplicate groups: texts appearing more than once, keyed by
    * content hash (group by md5, never by the full text at scale). */
  def exactGroups(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(col("text")).as("text_md5"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_doc"))
      .filter(col("n_docs") > 1)
      .orderBy("text_md5")

  /** [[exactGroups]] on a corpus with planted duplicates: the documents
    * table unioned with an id-shifted copy of itself, so EVERY text is a
    * duplicate group — non-trivial oracle evidence for the grouping +
    * keep-lowest logic (the raw table has no exact dupes, so
    * [[exactGroups]] alone proves only the empty case). */
  def exactGroupsPlanted(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val doubled = d.unionByName(d.withColumn("doc_id", col("doc_id") + 1000000))
    doubled
      .groupBy(md5(col("text")).as("text_md5"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_doc"))
      .filter(col("n_docs") > 1)
      .orderBy("text_md5")
  }

  /** Permutation i of the base shingle hash `x`: (aᵢ·x + bᵢ) mod p with
    * odd aᵢ. One md5 per shingle feeds 32 of these — integer arithmetic
    * is ~100× cheaper than 32 separate md5 calls (Spark's Md5 allocates
    * a MessageDigest per call), and DuckDB evaluates the same BIGINT
    * expressions bit-identically. */
  private[graft] def minhashPerm(i: Int, x: org.apache.spark.sql.Column) =
    (lit(2L * i + 1) * x + lit(i * 40503L + 7)) % MinhashP

  /** MinHash signatures, relationally: explode shingles, one codegen'd
    * md5 → 32-bit base hash per shingle, 32 integer permutations, `min`
    * per document with map-side partial aggregation. Equivalent to a
    * per-row `transform/array_min` lambda but fully codegen'd. */
  private[graft] def minhashSigFrame(posting: DataFrame): DataFrame = {
    val withX = posting.select(col("doc_id"),
      conv(substring(md5(col("g")), 1, 8), 16, 10).cast("long").as("x"))
    val mins = (0 until MinhashK).map(i => min(minhashPerm(i, col("x"))).as(s"h$i"))
    withX.groupBy("doc_id")
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"),
        array((0 until MinhashK).map(i => col(s"h$i")): _*).as("sigs"))
  }

  /** The string band key of row `band` over a signature array column —
    * ONE definition shared by the batch index ([[minhashBands]]) and the
    * streaming probe ([[graft.streaming.DocsStream.nearDupScreen]]): the
    * stream joins the batch-built index on this key, so any drift in
    * separator/order/cast between the two sides would silently empty the
    * join. Expects a `band` column in scope. */
  private[graft] def bandSigExpr(sigs: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat_ws(",",
      (0 until MinhashR).map(r =>
        element_at(sigs, col("band") * MinhashR + r + 1).cast("string")): _*)

  /** (doc_id, sigs, band, band_sig): one row per document per band, the
    * LSH index both the self-join and the incremental variant probe. */
  private[graft] def minhashBands(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), col("sigs"),
        explode(sequence(lit(0), lit(MinhashBands - 1))).as("band"))
      .select(col("doc_id"), col("sigs"), col("band"),
        bandSigExpr(col("sigs")).as("band_sig"))

  /** Fraction of agreeing signature positions, as 32 unrolled
    * `element_at` comparisons — codegen, no array lambda. */
  private[graft] def estJaccard: org.apache.spark.sql.Column =
    round((0 until MinhashK).map(i =>
      when(element_at(col("sigs_a"), i + 1) === element_at(col("sigs_b"), i + 1), 1)
        .otherwise(0)).reduce(_ + _) / lit(MinhashK.toDouble), 4)

  /** True iff no band BEFORE `band` also matches between `sigs_a` and
    * `sigs_b` — the LSH dedup-without-distinct trick shared with
    * [[simhashPairs]]: a pair sharing k bands appears k times in the band
    * join; keeping it only at its FIRST matching band yields each pair
    * exactly once via a codegen'd filter, where a `distinct()` would
    * shuffle the two 32-long signature arrays per candidate row. */
  private[graft] def noEarlierBandMatch: org.apache.spark.sql.Column =
    (0 until MinhashBands).map(bnd =>
      when(lit(bnd) < col("band") &&
        (0 until MinhashR).map(r =>
          element_at(col("sigs_a"), bnd * MinhashR + r + 1) ===
            element_at(col("sigs_b"), bnd * MinhashR + r + 1)).reduce(_ && _), 1)
        .otherwise(0)).reduce(_ + _) === 0

  /** MinHash + LSH banding: candidate pairs sharing at least one of 8
    * 4-row band signatures, kept when the estimated Jaccard (fraction of
    * agreeing signature positions) >= 0.5. The band join is the only
    * shuffle; its key space grows with corpus size so buckets stay
    * small. */
  def minhashLsh(spark: SparkSession, dir: String): DataFrame =
    minhashPairsCached(spark, dir).orderBy("doc_a", "doc_b")

  /** The unsorted LSH pair plan [[minhashLsh]] sorts and
    * [[minhashPairsCached]] materializes ([[graft.Plans]] dumps this
    * directly — the registered query's own plan is just a scan of the
    * memoized RDD). */
  private[graft] def minhashPairsPlan(spark: SparkSession, dir: String): DataFrame =
    minhashPairsOf(Tables.fanOut(Tables.documents(spark, dir)))

  /** Cross-source near-dup PROVENANCE matrix — which crawls duplicate
    * each other: every memoized LSH pair joined to both endpoints'
    * sources, counted per unordered source pair with the mean estimated
    * Jaccard. This is the governance view a multi-crawl pipeline reads
    * before deciding which source to demote when [[dedupedCorpusBest]]
    * keeps one survivor — a mostly-off-diagonal matrix (as here) means
    * sources re-crawl each other's content; a diagonal-heavy one means
    * within-crawl boilerplate.
    *
    * Scale posture: the pair graph is the memoized thin frame four
    * other dedup consumers share (built once per session); the source
    * lookup is two id-keyed joins against a two-column projection, and
    * the output is bounded by |sources|², not the corpus. */
  def sourceDupMatrix(spark: SparkSession, dir: String): DataFrame =
    sourceDupMatrixOf(minhashPairsCached(spark, dir),
      Tables.fanOut(Tables.documents(spark, dir)))

  /** [[sourceDupMatrix]] over explicit pair and document frames. */
  def sourceDupMatrixOf(pairs: DataFrame, docs: DataFrame): DataFrame = {
    val src = docs.select("doc_id", "source")
    pairs
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("src_a")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("src_b")), "doc_b")
      .select(least(col("src_a"), col("src_b")).as("source_x"),
        greatest(col("src_a"), col("src_b")).as("source_y"),
        col("est_jaccard"))
      .groupBy("source_x", "source_y")
      // jaccard total in basis points: the 4dp estimates are exact at
      // 1e4 scale, so the SUM is integer arithmetic — no average-of-
      // rounded-values .5 boundary can split the engines
      .agg(count(lit(1)).as("n_pairs"),
        sum(round(col("est_jaccard") * 10000).cast("long")).as("jaccard_bp_sum"))
      .withColumn("cross_source", col("source_x") =!= col("source_y"))
      .select("source_x", "source_y", "cross_source", "n_pairs", "jaccard_bp_sum")
      .orderBy("source_x", "source_y")
  }

  /** Band/row operating points swept by [[lshBandSweep]] (b·r = K=32).
    * The S-curve catch probability is 1−(1−J^r)^b: (4,8) is precise/
    * low-recall, (16,2) recall-heavy/candidate-heavy, (8,4) the
    * deployed middle. */
  val LshSweepConfigs = Seq((4, 8), (8, 4), (16, 2))

  /** LSH OPERATING-POINT SWEEP — the tuning query production runs
    * before picking a banding: for each (bands, rows) split of the same
    * K=32 signatures, the candidate volume (the cost axis) and the
    * recall against exact-Jaccard ≥ 0.5 ground truth (the quality
    * axis), as one row per configuration. Recall is carried as integer
    * BASIS POINTS (`(caught·10000) div n_true`) so no float crosses
    * engines.
    *
    * Scale posture: signatures are computed ONCE (materialized owned
    * RDD) and re-banded per configuration — banding is a narrow explode
    * + string concat, so the sweep costs b self-joins over the same sig
    * frame, never b signature builds. The exact truth side is the
    * deliberately-naive uncapped posting self-join, computed once and
    * shared; at 100 TB the audit runs on a content-hash sample exactly
    * like [[lshRecallAuditOf]]. */
  def lshBandSweep(spark: SparkSession, dir: String): DataFrame =
    lshBandSweepOf(Tables.fanOut(Tables.documents(spark, dir)))

  /** [[lshBandSweep]] over an explicit `(doc_id, text)` frame. */
  def lshBandSweepOf(docs: DataFrame): DataFrame = {
    withCuts(docs.sparkSession) { cuts =>
      val (sigs, truth) = lshSweepInputs(docs, cuts.cut)
      cuts.keep("lshBandSweep", cuts.cut(lshBandSweepFrom(sigs, truth)))
    }
  }

  /** The live sweep dataflow for the PLANS.md audit (the registered
    * query returns the retained `ExistingRDD`). */
  private[graft] def lshBandSweepPlanOf(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.fanOut(Tables.documents(spark, dir))
    val (sigs, truth) = lshSweepInputs(docs, unownedCut)
    lshBandSweepFrom(sigs, truth)
  }

  /** Materialized signature frame + exact ≥0.5 truth pairs, the two
    * inputs every sweep configuration shares. */
  private def lshSweepInputs(docs: DataFrame, cut: DataFrame => DataFrame) = {
    val posting = shinglesOf(docs).distinct()
    val sigs = cut(minhashSigFrame(posting))
    val sizes = posting.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = posting.alias("x").join(posting.alias("y"),
        col("x.g") === col("y.g") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    val truth = cut(
      inter
        .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
        .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
        .filter(col("inter") * 2 >= col("na") + col("nb") - col("inter"))
        .select("doc_a", "doc_b"))
    (sigs, truth)
  }

  private def lshBandSweepFrom(sigs: DataFrame, truth: DataFrame): DataFrame = {
    val perConfig = LshSweepConfigs.map { case (b, r) =>
        // the banded self-join shuffles ONLY (doc_id, band, band_sig) —
        // the 32-long signature arrays are re-attached per UNIQUE
        // candidate pair after the cross-band distinct (guide-§8 shape:
        // decide with small rows, attach the payload once). The r12
        // form carried `sigs` on BOTH sides of the band join: b copies
        // of every signature array per side per config, and the
        // distinct shuffled (pair, est) rows it then threw away.
        val bands = sigs.select(col("doc_id"), col("sigs"),
            explode(sequence(lit(0), lit(b - 1))).as("band"))
          .select(col("doc_id"), col("band"),
            concat_ws(",", (0 until r).map(i =>
              element_at(col("sigs"), col("band") * r + i + 1).cast("string")): _*)
              .as("band_sig"))
        val candIds = bands
          .select(col("doc_id").as("doc_a"), col("band"), col("band_sig"))
          .join(bands.select(col("doc_id").as("doc_b"),
            col("band"), col("band_sig")), Seq("band", "band_sig"))
          .filter(col("doc_a") < col("doc_b"))
          .select("doc_a", "doc_b")
          .distinct()
        val cands = candIds
          .join(sigs.select(col("doc_id").as("doc_a"), col("sigs").as("sigs_a")),
            "doc_a")
          .join(sigs.select(col("doc_id").as("doc_b"), col("sigs").as("sigs_b")),
            "doc_b")
          .select(col("doc_a"), col("doc_b"), estJaccard.as("est"))
        val stats = cands.agg(count(lit(1)).as("n_candidates"),
          sum(when(col("est") >= 0.5, 1L).otherwise(0L)).as("n_kept"))
        val caught = cands.join(truth, Seq("doc_a", "doc_b"), "left_semi")
          .agg(count(lit(1)).as("n_caught"))
        val nTrue = truth.agg(count(lit(1)).as("n_true"))
        stats.crossJoin(broadcast(caught)).crossJoin(broadcast(nTrue))
          .select(lit(b).cast("long").as("bands"),
            lit(r).cast("long").as("rows_per_band"),
            col("n_candidates"), col("n_kept"), col("n_true"), col("n_caught"),
            when(col("n_true") > 0,
              expr("(n_caught * 10000) div n_true")).otherwise(lit(0L))
              .as("recall_bp"))
      }
    perConfig.reduce(_ unionByName _).orderBy("bands")
  }

  /** Character budget per side for [[editDistanceVerify]] — caps the
    * O(len²) DP at a constant 256² per pair. */
  val EditPrefix = 256

  /** Normalized-similarity floor for a CONFIRMED verdict. */
  val EditSimThreshold = 0.75

  /** Exact edit-distance VERIFICATION of the LSH candidate pairs — the
    * second stage of the screen→verify pattern every production dedup
    * runs: a cheap probabilistic screen (MinHash banding) nominates
    * pairs, an exact measure (Levenshtein here) confirms or rejects
    * them before anything is dropped. Attempted as a standalone
    * detector, edit distance needs blocking, and fixed-position blocks
    * (prefix keys, offset anchors) are alignment-sensitive — a single
    * early insertion shifts every later anchor, which is exactly the
    * failure mode MinHash's position-free shingles avoid; measured on
    * this corpus a 16-char prefix block recovers 6 of the 31 planted
    * near-dup pairs. So edit distance's honest role is the verifier.
    *
    * Scale: cost is pairs × a constant ([[EditPrefix]]² DP cells).
    * Pairs are the thin post-threshold slice of the corpus (memoized
    * frame, [[minhashPairsCached]]), the two document joins are keyed
    * equi-joins against a tiny pair side, and per-pair work never sees
    * full document length — O(batch of pairs) at any corpus size.
    * Emits both similarities per pair (`est_jaccard` vs `edit_sim`)
    * and the verdict, so the output doubles as a screen-calibration
    * report. */
  def editDistanceVerify(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    def prefix(idCol: String, textAs: String) =
      docs.select(col("doc_id").as(idCol),
        substring(lower(col("text")), 1, EditPrefix).as(textAs))
    val sim = lit(1.0) - col("edit_dist") / col("max_len")
    minhashPairsCached(spark, dir)
      .join(prefix("doc_a", "pa"), "doc_a")
      .join(prefix("doc_b", "pb"), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"),
        levenshtein(col("pa"), col("pb")).cast("long").as("edit_dist"),
        greatest(length(col("pa")), length(col("pb"))).as("max_len"))
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"),
        col("edit_dist"),
        round(sim, 4).as("edit_sim"),
        (sim >= EditSimThreshold).as("confirmed"))
      .orderBy("doc_a", "doc_b")
  }

  /** [[minhashLsh]] over ANY (doc_id, text, …) frame — the library
    * surface for corpora that are not the `documents` table (unioned
    * shards, filtered subsets, synthetic scale runs — see
    * [[graft.Scale]]). Unsorted, unmemoized. */
  def minhashPairsOf(docs: DataFrame, threshold: Double = 0.5): DataFrame =
    minhashCandidatesOf(docs)
      .filter(col("est_jaccard") >= threshold)

  /** Band-join candidate pairs BEFORE the similarity threshold — each
    * candidate exactly once (first-matching-band), with its estimated
    * Jaccard. Exposed separately so scale runs can measure candidate
    * growth, the number that decides whether LSH banding holds up. */
  private[graft] def minhashCandidatesOf(docs: DataFrame): DataFrame = {
    val bands = bandIndexOf(docs)
    val a = bands.select(col("doc_id").as("doc_a"), col("sigs").as("sigs_a"),
      col("band"), col("band_sig"))
    val b = bands.select(col("doc_id").as("doc_b"), col("sigs").as("sigs_b"),
      col("band"), col("band_sig"))
    a.join(b, Seq("band", "band_sig"))
      .filter(col("doc_a") < col("doc_b"))
      .filter(noEarlierBandMatch)
      .select(col("doc_a"), col("doc_b"), estJaccard.as("est_jaccard"))
  }

  /** Probe-document count for [[lshRecallAuditOf]]'s fixed-probe
    * ground truth: recall is graded on the exact-Jaccard pairs INCIDENT
    * to this many content-hash-selected documents, so the audit's
    * exact arm costs O(probes × corpus) with probes CONSTANT — the
    * r10 VERDICT's fixed-probe cost model (the `q_sample_kcenter`
    * probe discipline). 256 probes cover ~40% of the true-pair mass
    * at sf0.01, enough that every populated decile keeps a stable
    * estimate. */
  val RecallProbeDocs = 256

  def lshRecallAudit(spark: SparkSession, dir: String): DataFrame =
    lshRecallAuditOf(Tables.fanOut(Tables.documents(spark, dir)))

  /** Recall audit of the MinHash+LSH candidate screen against EXACT
    * Jaccard ground truth, reported per similarity decile: for every
    * true pair with J ≥ 0.5 INCIDENT TO A PROBE DOCUMENT, did the band
    * join surface it? This is the measurement that justifies the
    * (K=32, 8×4) banding choice — theory says the catch probability is
    * 1−(1−J⁴)⁸ (≈0.4 at J=0.5, ≈0.99 at J=0.8), and this query checks
    * the deployed pipeline against it.
    *
    * Ground truth is exact and UNCAPPED (MinHash estimates Jaccard
    * over the complete distinct shingle sets, so the truth must too)
    * but anchored to a FIXED [[RecallProbeDocs]]-document probe set —
    * the [[RecallProbeDocs]] lowest doc_ids by the content-hash
    * uniform — so the exact arm is one probe-postings × corpus-postings
    * join, O(probes × corpus) with probes constant, instead of the
    * all-pairs self-join whose cost compounds with the corpus (the
    * audit the r10 VERDICT graded 3.8× at 10×). Recall over
    * probe-incident pairs estimates recall over all pairs: the screen
    * is symmetric in the pair and the probe draw is content-hash
    * uniform. Decile boundaries are integer-exact
    * ((10·|∩|) div |∪|, J ≥ 0.5 as 2·|∩| ≥ |∪|), so bucketing can
    * never hinge on a float ulp. */
  private[graft] def lshRecallAuditOf(docs: DataFrame): DataFrame = {
    val probes = docs.select("doc_id").orderBy(
      conv(substring(md5(concat(col("doc_id").cast("string"),
        lit("#probe"))), 1, 8), 16, 10).cast("long"),
      col("doc_id")).limit(RecallProbeDocs)
    val posting = shinglesOf(docs).distinct()
    val sizes = posting.groupBy("doc_id").agg(count(lit(1)).as("n"))
    // probe postings × corpus postings — the bounded exact arm; both
    // orientations collapse to the (least, greatest) pair key so a
    // probe-probe pair counts once
    val ppost = posting.join(broadcast(probes), "doc_id")
    val inter = ppost.alias("x")
      .join(posting.alias("y"),
        col("x.g") === col("y.g") && col("x.doc_id") =!= col("y.doc_id"))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("doc_a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("doc_b"),
        col("x.g").as("g"))
      .distinct()
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    val truth = inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .withColumn("u", col("na") + col("nb") - col("inter"))
      .filter(col("inter") * 2 >= col("u"))
      .select(col("doc_a"), col("doc_b"),
        least(expr("(10 * inter) div u"), lit(9L)).as("decile"))
    val caught = minhashCandidatesOf(docs)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("hit"))
    truth.join(caught, Seq("doc_a", "doc_b"), "left")
      .withColumn("h", coalesce(col("hit"), lit(0L)))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_true"), sum("h").as("n_caught"))
      .select(col("decile"), col("n_true"), col("n_caught"),
        round(col("n_caught") / col("n_true"), 4).as("recall"))
      .orderBy("decile")
  }

  /** Session conf key selecting RELIABLE (HDFS/S3-backed) checkpoints for
    * every lineage-truncating dedup path — the memoized pair graph, the
    * memoized component labels, and each [[componentsOfManaged]] round.
    * Unset (the default) they use `localCheckpoint`: fastest, but blocks
    * live only on executors, so one lost executor kills the job. A
    * 100 TB cluster run sets this to a durable path
    * (`spark.conf.set(Dedup.CheckpointDirConf, "hdfs://…")`) and every
    * materialization below survives executor loss. */
  val CheckpointDirConf = "spark.graft.checkpointDir"

  private def confCheckpointDir(spark: SparkSession): Option[String] =
    spark.conf.getOption(CheckpointDirConf).map(_.trim).filter(_.nonEmpty)

  /** One memoized frame plus everything needed to free it: the owning
    * session (for stopped-session eviction) and a release hook that
    * unpersists the backing blocks and deletes any reliable-checkpoint
    * files. */
  private final case class MemoEntry(df: DataFrame, session: SparkSession,
                                     release: () => Unit)

  /** MATERIALIZED minhash pair graph, memoized per (session, snapshot).
    *
    * Four registered queries derive from the same pair set
    * ([[minhashLsh]], [[nearDupComponents]], [[dedupedCorpus]],
    * [[dedupedCorpusClustered]]); without sharing, each re-runs the
    * shingle → signature → band-join pipeline from the scan — the single
    * most expensive subplan in the library. The memo computes it once
    * per SESSION as an owned checkpointed RDD (the same pattern as
    * [[componentsOfManaged]]'s rounds) and every consumer reads the cached
    * blocks. The pair set is small by construction — only near-dup PAIRS
    * survive banding + the 0.5 threshold, a thin slice of any real
    * corpus — so pinning it for the session lifetime is the right trade
    * (a session building these queries is a dedup pipeline run; the
    * pairs are its working set). An ordinary [[memoizedFrame]] entry. */
  private[graft] def minhashPairsCached(spark: SparkSession, dir: String): DataFrame =
    memoizedFrame(spark, "minhash_pairs", dir, "documents.parquet")(
      minhashPairsPlan(spark, dir))

  /** Generic memo of an eagerly-materialized frame — the minhash pair
    * graph, the component labels, the ANN index frames and every other
    * shared operator artifact live here, keyed by the session's UUID,
    * `tag` and the [[ScaleTechniques.fingerprint]] of `dir/srcName`, the
    * table the build reads: a new session never receives a frame bound
    * to a dead one, and a rewritten table builds a fresh frame. Entries
    * for stopped sessions are swept (and their storage freed) on every
    * cached access; [[clearMemos]] frees everything eagerly (bench and
    * test hook, and what frees superseded snapshots in a long-lived
    * session). Honors [[CheckpointDirConf]] for
    * executor-loss-tolerant materialization. Every access, hit or
    * build, is logged to [[recordTouches]].
    *
    * Builds run OUTSIDE the map's mapping function because a build may
    * consult another memoized frame (the component labels read the
    * pair graph), whose stopped-session sweep iterates — and may
    * mutate — this map; the benign same-key race just releases the
    * losing build. */
  private val frameMemo =
    new java.util.concurrent.ConcurrentHashMap[String, MemoEntry]()
  private[graft] def memoizedFrame(spark: SparkSession, tag: String,
      dir: String, srcName: String)(plan: => DataFrame): DataFrame =
    memoized(spark, tag, dir, srcName) {
      withCuts(spark) { cuts =>
        val df = cuts.cut(plan)
        (df, cuts.handOff(df))
      }
    }

  /** [[memoizedFrame]] for a build that materializes itself: `build`
    * returns the frame plus the hook that frees it. */
  private def memoized(spark: SparkSession, tag: String, dir: String,
      srcName: String)(build: => (DataFrame, () => Unit)): DataFrame = {
    sweepStopped()
    val key = s"$tag#${ScaleTechniques.fingerprint(new java.io.File(dir, srcName).getPath)}"
    touch(key)
    val k = memoKey(spark, key)
    val hit = frameMemo.get(k)
    if (hit != null) hit.df
    else {
      val (df, release) = build
      val entry = MemoEntry(df, spark, release)
      val prev = frameMemo.putIfAbsent(k, entry)
      if (prev == null) entry.df
      else {
        try entry.release() catch { case scala.util.control.NonFatal(_) => () }
        prev.df
      }
    }
  }

  /** Process-wide log of the memo keys and layout paths touched while
    * [[recordTouches]] runs — how [[graft.Bench]]'s warm-up discovers
    * which declared builds each query reads. Null (off) everywhere
    * else. Process-wide, not thread-local: a build such as
    * `SimSearch.buildAnnEncode` runs its chains on a pool. */
  @volatile private var touchLog: java.util.Set[String] = null

  /** Log `key` (a [[memoizedFrame]] key or an
    * [[ScaleTechniques.ensureLayout]] path) if recording is on. */
  private[graft] def touch(key: String): Unit = {
    val log = touchLog
    if (log != null) log.add(key)
  }

  /** Run `body` with touch recording on; returns every key touched from
    * any thread meanwhile. */
  private[graft] def recordTouches(body: => Unit): Set[String] = {
    val log = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    touchLog = log
    try body finally touchLog = null
    import scala.jdk.CollectionConverters._
    log.asScala.toSet
  }

  /** Unique id per live session (SparkSession.sessionUUID is private):
    * a UUID minted on first sight, held WEAKLY so a collected session's
    * id (and key) can never be reissued to a new session — the
    * identityHashCode collision the old key construction allowed. */
  private val sessionIds = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, String]())
  private def memoKey(spark: SparkSession, key: String): String =
    sessionIds.computeIfAbsent(spark, _ => java.util.UUID.randomUUID().toString) +
      "#" + key

  /** Free every memoized frame and retained result: unpersist the
    * backing blocks, delete reliable-checkpoint files, empty both maps.
    * Safe to call between unrelated pipeline runs in a long-lived
    * session (the next consumer rebuilds), and what [[graft.Bench]]
    * calls before each measured pass so the memo build cost is
    * measured, not hidden. */
  def clearMemos(): Unit = {
    Seq(frameMemo, retainedResults).foreach { m =>
      m.values.forEach { e =>
        // releasing against an already-stopped context is a no-op, not an error
        try e.release() catch { case scala.util.control.NonFatal(_) => () }
      }
      m.clear()
    }
    // the on-disk layouts published this JVM, same release valve
    ScaleTechniques.clearDppFactDirs()
  }

  /** One-slot registry of RETAINED result RDDs. The eagerly-materialized
    * queries (boilerplate reports, phash summaries/pairs) return small
    * frames backed by checkpointed RDDs that must stay pinned for the
    * caller to read — but a lazily-leaked pin per CALL accumulates
    * across a long session (bench: warmup + two passes × four queries),
    * the exact accumulation [[retire]]'s contract exists to prevent.
    * [[retainResult]] keeps the LATEST result per (session, key) and
    * retires the previous one, bounding the pinned storage at one
    * result frame per query family; a caller holding a PRIOR call's
    * frame must not re-invoke the same query first. Swept and cleared
    * with the memo maps. */
  private val retainedResults =
    new java.util.concurrent.ConcurrentHashMap[String, MemoEntry]()
  private def retainResult(spark: SparkSession, key: String, rdd: RDD[_],
      df: DataFrame): DataFrame = {
    sweepStopped()
    val prev = retainedResults.put(memoKey(spark, key),
      MemoEntry(df, spark, () => retire(spark, rdd)))
    if (prev != null) {
      // the latest-wins contract in action: the PRIOR call's DataFrame
      // becomes unreadable now (its blocks/checkpoint files are freed).
      // Log loudly so a caller that still held it — e.g. two threads
      // invoking the same registered query concurrently — can trace the
      // resulting read failure here instead of to a bare block-not-found
      System.err.println(
        s"[graft] retainResult: replacing retained result '$key' — any " +
          "still-held DataFrame from the prior call is now unreadable")
      try prev.release() catch { case scala.util.control.NonFatal(_) => () }
    }
    df
  }

  /** Evict (and free) entries owned by stopped sessions — run on every
    * cached access so multi-session JVMs (test suites, servers) cannot
    * accumulate pinned blocks for sessions that no longer exist. */
  private def sweepStopped(): Unit =
    Seq(frameMemo, retainedResults).foreach { m =>
      val it = m.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getValue.session.sparkContext.isStopped) {
          // blocks died with the context, but reliable-checkpoint FILES
          // did not — release() deletes them (its unpersist is a guarded
          // no-op against the stopped context)
          try e.getValue.release()
          catch { case scala.util.control.NonFatal(_) => () }
          it.remove()
        }
      }
    }

  /** Run `body` in an OWNED-CUT SCOPE: every frame `body` cuts through
    * the [[Cuts]] it is handed is an RDD this scope owns, and on exit —
    * normal or by exception — the scope retires every cut that was not
    * [[Cuts.keep kept]] or [[Cuts.handOff handed off]]. This is the one
    * place the cut policy lives: where a cut is checkpointed, whether it
    * is eager or lazy, and who frees it.
    *
    * Checkpoint dir: resolved once per scope — [[CheckpointDirConf]] by
    * default; the two-argument form takes an explicit dir, or `None` for
    * `localCheckpoint` whatever the conf says. With a dir, every cut
    * persists FIRST and then checkpoints reliably (checkpointing re-runs
    * the lineage otherwise, computing everything twice); the context
    * checkpoint dir is set for the scope and its previous location
    * restored after (see [[withCheckpointDir]]).
    *
    * Cut shapes ([[Cuts]]):
    *  - `cut` materializes now (a count job); `cutLazy` only marks the
    *    cut, and the caller's FIRST action covering every partition
    *    computes and pins it — for loops whose next step is an aggregate
    *    over the new round anyway (a convergence test), one job per
    *    round instead of two;
    *  - the plain forms round-trip through `df.rdd` → `createDataFrame`,
    *    which erases the frame's physical layout; `cutKeyed` /
    *    `cutKeyedLazy` go through `Dataset.localCheckpoint` (or
    *    `checkpoint`), whose `LogicalRDD` carries the layout and the
    *    original plan's statistics, for a loop's static side or keyed
    *    round state.
    *
    * r14 HONESTY NOTE (keyed cuts): under AQE this Spark records
    * `UnknownPartitioning` on the checkpoint's `LogicalRDD` whether the
    * cut is eager or lazy (verified by round-plan dump, plans/r14), so
    * the layout preservation the keyed cut promises does NOT reach the
    * consumers — each loop job re-exchanges the static frame once (AQE
    * ReuseExchange dedups the per-reference copies, so it is once per
    * JOB, not once per reference). A declared-layout variant (explicit
    * HashPartitioning stamped on the LogicalRDD) was built and measured
    * in r14 and REJECTED: removing the exchange also removed its
    * intra-job reuse point, and the static side's join recomputed per
    * consumer (pagerank-conv exec 19.5→269 s). The keyed shape is kept
    * for the non-AQE static-planning mode, where the preserved layout
    * does apply.
    *
    * Releasing before exit: `retire` frees a cut now (a loop's
    * superseded round — anything a LATER action in the body must not
    * find pinned); `keep` hands it to the one-slot retained-result
    * registry ([[retainResult]]) under `key`; `handOff` returns its
    * release hook for a memo entry or a [[ComponentsHandle]]. Each
    * accepts only a frame this scope cut and still owns. */
  private[graft] def withCuts[T](spark: SparkSession)(body: Cuts => T): T =
    withCuts(spark, confCheckpointDir(spark))(body)

  /** [[withCuts]] with an explicit checkpoint dir (`None`: local). */
  private[graft] def withCuts[T](spark: SparkSession, dir: Option[String])
      (body: Cuts => T): T =
    withCheckpointDir(spark, dir) {
      val cuts = new Cuts(spark, dir.isDefined)
      try body(cuts) finally cuts.retireAll()
    }

  /** The handle [[withCuts]] gives its body. Thread-safe: a body may cut
    * from a pool. */
  private[graft] final class Cuts private[Dedup] (spark: SparkSession,
      reliable: Boolean) {
    private val owned = scala.collection.mutable.ArrayBuffer.empty[(DataFrame, RDD[_])]

    def cut(df: DataFrame): DataFrame = own(eager(cutOf(df, reliable, keyed = false)))
    def cutLazy(df: DataFrame): DataFrame = own(cutOf(df, reliable, keyed = false))
    def cutKeyed(df: DataFrame): DataFrame = own(eager(cutOf(df, reliable, keyed = true)))
    def cutKeyedLazy(df: DataFrame): DataFrame = own(cutOf(df, reliable, keyed = true))

    def retire(cut: DataFrame): Unit = Dedup.retire(spark, disown(cut))
    def keep(key: String, cut: DataFrame): DataFrame =
      retainResult(spark, key, disown(cut), cut)
    def handOff(cut: DataFrame): () => Unit = {
      val rdd = disown(cut)
      () => Dedup.retire(spark, rdd)
    }

    private def own(c: (DataFrame, RDD[_])): DataFrame =
      synchronized { owned += c; c._1 }
    private def disown(cut: DataFrame): RDD[_] = synchronized {
      val i = owned.indexWhere(_._1 eq cut)
      require(i >= 0, "not a cut this scope still owns (cut elsewhere, " +
        "or already retired, kept or handed off)")
      owned.remove(i)._2
    }
    private[Dedup] def retireAll(): Unit = synchronized {
      owned.foreach { case (_, rdd) => Dedup.retire(spark, rdd) }
      owned.clear()
    }
  }

  /** A local eager cut NO scope owns: its blocks stay pinned until the
    * RDD is garbage-collected. Only for frames that must outlive any
    * scope because what they return reads the cut lazily — the PLANS.md
    * audit hooks (`*PlanOf`, whose dumped plan reads the cut) plus
    * [[cdcChunkStatsOf]] and `EventsOps.resampleHourlyOf` (whose
    * returned, still-unexecuted frame reads it); retiring the cut at
    * scope exit would break the frame they return. */
  private[graft] def unownedCut(df: DataFrame): DataFrame =
    eager(cutOf(df, reliable = false, keyed = false))._1

  private def eager(c: (DataFrame, RDD[_])): (DataFrame, RDD[_]) = {
    c._2.count()
    c
  }

  /** A marked (not yet computed) cut of `df` and the RDD that backs it. */
  private def cutOf(df: DataFrame, reliable: Boolean, keyed: Boolean)
      : (DataFrame, RDD[_]) =
    if (keyed) {
      val ds = if (reliable) df.checkpoint(eager = false)
               else df.localCheckpoint(eager = false)
      val rdd = org.apache.spark.sql.GraftSqlBridge.internalRddOf(ds)
      if (reliable) rdd.persist()
      (ds, rdd)
    } else {
      val rdd = df.rdd
      if (reliable) { rdd.persist(); rdd.checkpoint() }
      else rdd.localCheckpoint()
      (df.sparkSession.createDataFrame(rdd, df.schema), rdd)
    }

  /** Unpersist an owned RDD and delete its reliable-checkpoint files (and
    * the per-context UUID parent dir once its last file is gone) — the
    * single retirement path for cuts, released memos and retained
    * results, so repeated calls cannot accumulate checkpoint dirs. */
  private def retire(spark: SparkSession, rdd: RDD[_]): Unit = {
    // unpersist guarded separately: on an already-stopped context it
    // throws, but the reliable-checkpoint FILES below must still be
    // deleted — surviving the context is exactly what they are for
    try rdd.unpersist(blocking = false)
    catch { case scala.util.control.NonFatal(_) => () }
    rdd.getCheckpointFile.foreach { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      try p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      catch { case scala.util.control.NonFatal(_) => () } // best-effort cleanup
      deleteIfEmpty(spark, p.getParent)
    }
  }

  /** Delete the directory `dir` if it exists and is empty; best-effort. */
  private def deleteIfEmpty(spark: SparkSession, dir: org.apache.hadoop.fs.Path): Unit =
    try {
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(dir) && fs.listStatus(dir).isEmpty) fs.delete(dir, false)
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Run `body` with the context checkpoint dir set to `dir`, then put
    * the previous value back exactly — `setCheckpointDir` mutates global
    * SparkContext state, and leaving it pointed at the last caller's dir
    * breaks concurrent users of the same context. Every set resolves to
    * a NEW subdirectory of `dir`; the scope deletes its own at exit if
    * no checkpoint file is left in it. Checkpoint FILES written there
    * outlive the scope and are deleted by [[retire]], with the
    * subdirectory once its last file is gone. */
  private def withCheckpointDir[T](spark: SparkSession,
                                  dir: Option[String])(body: => T): T =
    dir match {
      case None => body
      case Some(d) =>
        val sc = spark.sparkContext
        val prev = sc.getCheckpointDir
        sc.setCheckpointDir(d)
        val mine = sc.getCheckpointDir
        try body finally {
          org.apache.spark.GraftSparkBridge.restoreCheckpointDir(sc, prev)
          mine.foreach(m => deleteIfEmpty(spark, new org.apache.hadoop.fs.Path(m)))
        }
    }

  /** INCREMENTAL near-dup — the production shape: screen a NEW batch
    * against an EXISTING corpus without re-pairing the corpus with
    * itself. The band join is asymmetric (new × existing), so its cost
    * scales with the BATCH, not the corpus; at 100 TB the existing
    * side's band index is precomputed and persisted, and this probe
    * reads it like any table. Here the split is simulated as even
    * doc_ids = existing, odd = new batch (SF-independent, so the oracle
    * mirrors it exactly). */
  def incrementalMinhash(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.fanOut(Tables.documents(spark, dir))
    probeBandIndex(
      docs.filter(col("doc_id") % 2 === 1),
      bandIndexOf(docs.filter(col("doc_id") % 2 === 0)))
      .orderBy("new_doc", "dup_of")
  }

  /** `bits`-wide SimHash over the distinct-token set, relationally:
    * explode the distinct tokens, derive the `bits/32` 32-bit token-hash
    * words as codegen'd md5/conv columns (word j = md5 hex chars
    * 8j+1..8j+8; codegen CSE evaluates the md5 once), then
    * partial-aggregate the per-bit ±1 votes (`sum((h >> b) & 1) * 2 - 1`)
    * per document and assemble each word — bit b set iff its vote sum is
    * positive. Same math as a nested per-row lambda fold, but fully
    * inside WholeStageCodegen with map-side combine. Returns
    * (doc_id, sh_0 … sh_{words-1}). */
  private def simhashFrame(docs: DataFrame, bits: Int): DataFrame = {
    requireSimhashWidth(bits)
    val words = simhashWords(bits)
    val tok = docs.select(col("doc_id"),
      explode(array_distinct(tokenize(col("text")))).as("t"))
      .select(col("doc_id") +:
        (0 until words).map(j =>
          conv(substring(md5(col("t")), 8 * j + 1, 8), 16, 10).cast("long").as(s"h$j")): _*)
    val votes = (0 until words).flatMap(j =>
      (0 until 32).map(b =>
        sum(shiftright(col(s"h$j"), b).bitwiseAND(1L) * 2L - 1L).as(s"v${j}_$b")))
    def word(j: Int) =
      (0 until 32).map(b =>
        when(col(s"v${j}_$b") > 0, lit(1L << b)).otherwise(lit(0L))).reduce(_ + _)
    tok.groupBy("doc_id")
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id") +: (0 until words).map(j => word(j).as(s"sh_$j")): _*)
  }

  /** Band `band`'s window of the signature words: bands tile word 0
    * first. At 32-bit bands a band IS a word; narrower bands shift+mask
    * within their word. */
  private def simhashBandVal(words: Seq[org.apache.spark.sql.Column],
                             band: Int, bits: Int): org.apache.spark.sql.Column = {
    val bb = simhashBandBits(bits)
    if (bb == 32) words(band)
    else {
      val bandsPerWord = 32 / bb
      shiftright(words(band / bandsPerWord), (band % bandsPerWord) * bb)
        .bitwiseAND((1L << bb) - 1)
    }
  }

  /** SimHash near-dup pairs with Hamming distance <= 3, found via 4x16-bit
    * band buckets (pigeonhole-complete for <=3 bit flips, so the banded
    * plan returns exactly the brute-force answer — which is what the
    * oracle computes). Documents with no tokens have no signature and
    * never pair (the oracle mirrors the drop). */
  def simhashPairs(spark: SparkSession, dir: String): DataFrame =
    simhashPairsOf(Tables.fanOut(Tables.documents(spark, dir)))

  /** The 128-bit width-dial variant, registered so the wider signature is
    * oracle-checked cross-engine, not just suite-pinned. At 32-bit bands
    * the band-key space is 2^32 per band — the setting a 100 TB corpus
    * runs (SCALE.md caveat 1). */
  def simhashPairsWide(spark: SparkSession, dir: String): DataFrame =
    simhashPairsOf(Tables.fanOut(Tables.documents(spark, dir)), bits = 128)

  /** The per-band (doc_id, sh_0…, band, band_val) index under
    * [[simhashPairsOf]] — exposed for scale diagnostics (bucket
    * occupancy is what decides whether the banded self-join holds up). */
  private[graft] def simhashBandsOf(docs: DataFrame,
                                    bits: Int = SimhashBits): DataFrame = {
    val wcols = (0 until simhashWords(bits)).map(j => col(s"sh_$j"))
    simhashFrame(docs, bits)
      .select(col("doc_id") +: wcols :+
        explode(sequence(lit(0), lit(SimhashBands - 1))).as("band"): _*)
      .withColumn("band_val",
        (0 until SimhashBands).foldRight(lit(-1L): org.apache.spark.sql.Column)((bnd, els) =>
          when(col("band") === bnd, simhashBandVal(wcols, bnd, bits)).otherwise(els)))
  }

  /** [[simhashPairs]] over ANY (doc_id, text, …) frame, at any supported
    * signature width ([[requireSimhashWidth]]; default the registered
    * 64). Pigeonhole completeness for hamming <= [[HammingMax]] holds at
    * every width — 4 bands, at most 3 flipped bits — so widening only
    * grows the band-key space (suite-pinned against brute force at
    * 128). */
  def simhashPairsOf(docs: DataFrame, bits: Int = SimhashBits): DataFrame = {
    val words = simhashWords(bits)
    val bands = simhashBandsOf(docs, bits)
    def side(tag: String, idAs: String) = bands.select(
      col("doc_id").as(idAs) +:
        (0 until words).map(j => col(s"sh_$j").as(s"${tag}_$j")) :+
        col("band") :+ col("band_val"): _*)
    val a = side("a", "doc_a")
    val b = side("b", "doc_b")
    def wordsOf(tag: String) = (0 until words).map(j => col(s"${tag}_$j"))
    // classic LSH dedup-without-distinct: a pair sharing k bands appears
    // k times in the join; keep it only at its FIRST matching band (no
    // earlier band's window agrees), so each pair survives exactly
    // once — a codegen'd filter replaces a multi-million-row distinct
    // exchange on this data's hot buckets
    val noEarlierMatch = (0 until SimhashBands).map(bnd =>
      when(lit(bnd) < col("band") &&
        simhashBandVal(wordsOf("a"), bnd, bits) ===
          simhashBandVal(wordsOf("b"), bnd, bits), 1).otherwise(0))
      .reduce(_ + _) === 0
    a.join(b, Seq("band", "band_val"))
      .filter(col("doc_a") < col("doc_b"))
      .filter(noEarlierMatch)
      .select(col("doc_a"), col("doc_b"),
        (0 until words).map(j =>
          bit_count(col(s"a_$j").bitwiseXOR(col(s"b_$j"))))
          .reduce(_ + _).cast("long").as("hamming"))
      .filter(col("hamming") <= HammingMax)
      .orderBy("doc_a", "doc_b")
  }

  /** Document-frequency cap for candidate-generating shingles. A shingle
    * appearing in d documents contributes O(d²) candidate pairs to the
    * posting self-join, so hot shingles (stopword runs, boilerplate) make
    * the join quadratic at corpus scale. Shingles with df > cap are
    * excluded from CANDIDATE GENERATION only — similarity is still scored
    * on the full shingle sets — so a pair is missed only if every shared
    * shingle is hot, which at df > 100 puts it far below any dedup
    * threshold. (sf0.01 max df is 7: the cap changes nothing at test
    * scale and bounds the join at 100 TB.) */
  val MaxShingleDf = 100

  /** Word-3-gram Jaccard over the kept shingle sets S'ᵈ = {g : df(g) ≤
    * [[MaxShingleDf]]} — boilerplate shingles are dropped from the
    * REPRESENTATION (well-defined semantics, mirrored by the oracle),
    * not just from candidate generation. Everything is relational and
    * slim: intersection sizes come from a `groupBy` COUNT over the
    * posting self-join (singleton shingles can't intersect, so the join
    * side additionally filters df ≥ 2), set sizes from a per-doc count —
    * no shingle ARRAYS are ever shuffled to pairs (hauling two ~50-string
    * arrays per candidate was 5× the cost of this whole query). */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame =
    ngramJaccardOf(Tables.fanOut(Tables.documents(spark, dir)))

  /** Shared slim-intersection kernel under [[ngramJaccardOf]] and
    * [[containmentPairsOf]]: per-doc kept-shingle set sizes and pairwise
    * intersection COUNTS (df ∈ [2, [[MaxShingleDf]]] posting self-join —
    * singletons can't intersect, hot shingles are dropped from the
    * representation). Returns (sizes, inter); no shingle arrays are ever
    * shuffled to pairs. */
  private def keptSetStats(docs: DataFrame): (DataFrame, DataFrame) = {
    val posting = shinglesOf(docs).distinct()
    val dfs = posting.groupBy("g").agg(count(lit(1)).as("df"))
    val kept = posting.join(dfs, "g").filter(col("df") <= MaxShingleDf)
    val sizes = kept.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val joinable = kept.filter(col("df") >= 2).select("doc_id", "g")
    val inter = joinable.alias("x")
      .join(joinable.alias("y"), col("x.g") === col("y.g") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    (sizes, inter)
  }

  /** [[ngramJaccard]] over ANY (doc_id, text, …) frame. */
  def ngramJaccardOf(docs: DataFrame): DataFrame = {
    val (sizes, inter) = keptSetStats(docs)
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(col("inter") / (col("na") + col("nb") - col("inter")), 4).as("jaccard"))
      .filter(col("jaccard") >= 0.3)
      .orderBy("doc_a", "doc_b")
  }

  /** Containment floor for [[containmentPairs]] — Broder's asymmetric
    * measure: C = |S_A ∩ S_B| / min(|S_A|, |S_B|). */
  val ContainmentThreshold = 0.8

  /** Documents used for the planted-containment corpus (bounded slice so
    * the self-join audit stays constant-cost at any SF, like
    * [[TextAnalysis.fingerprints]]'s doc_id cap). */
  val ContainmentPlantDocs = 400

  /** CONTAINMENT near-dup detection — the asymmetric case symmetric
    * Jaccard MISSES: a short document fully embedded in a long one has
    * C ≈ 1 but J ≈ |A|/|B|, far below any Jaccard threshold when the
    * length ratio is large. This is how quote extraction, boilerplate-
    * wrapped copies, and benchmark text pasted inside larger pages are
    * caught (Broder's containment, the companion measure to resemblance).
    *
    * The raw corpus has no true containment-only pairs (probed: every
    * C ≥ 0.8 pair also has J ≥ 0.5), so the registered query PLANTS
    * them — the [[ContainmentPlantDocs]] slice unioned with copies
    * truncated to the first third of their characters (id-shifted, the
    * [[exactGroupsPlanted]] pattern). The oracle then machine-checks the
    * claim that matters: the `jaccard_missed` column marks pairs the
    * 0.5 Jaccard screen would NOT have surfaced (422 of 460 at sf0.01).
    *
    * Scale: same df-capped slim-posting kernel as [[ngramJaccardOf]]
    * ([[keptSetStats]]) — intersection counts only, no arrays to pairs,
    * candidate volume bounded by the df cap. */
  def containmentPairs(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
      .filter(col("doc_id") < ContainmentPlantDocs)
    val truncated = base.select(
      (col("doc_id") + 2000000L).as("doc_id"),
      col("text").substr(lit(1),
        greatest((col("n_chars") / 3).cast("int"), lit(40))).as("text"))
    containmentPairsOf(
      Tables.fanOut(base.select("doc_id", "text").unionByName(truncated)))
  }

  /** [[containmentPairs]] over ANY (doc_id, text, …) frame. */
  def containmentPairsOf(docs: DataFrame): DataFrame = {
    val (sizes, inter) = keptSetStats(docs)
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("na"), col("nb"),
        round(col("inter") / least(col("na"), col("nb")), 4).as("containment"),
        round(col("inter") / (col("na") + col("nb") - col("inter")), 4).as("jaccard"))
      .filter(col("containment") >= ContainmentThreshold)
      .withColumn("jaccard_missed", col("jaccard") < 0.5)
      .orderBy("doc_a", "doc_b")
  }

  // -------------------------------------------------------------------
  // Winnowing fingerprints (MOSS) — position-robust substring dedup
  // -------------------------------------------------------------------

  /** Char k-gram length of the winnowing fingerprint basis. */
  val WinnowK = 8
  /** Winnowing window: consecutive k-gram hashes per selection window. */
  val WinnowW = 4
  /** Pair-report floor on shared fingerprints. */
  val WinnowMinShared = 5
  /** Pair-report floor on overlap = shared/min(|fps|): with a small
    * generator vocabulary even unrelated docs share capped fingerprints
    * (the sf0.01 distribution puts 97% of candidate pairs under 0.4),
    * while true containment geometry sits ≥ 0.8 — 0.5 separates them
    * with margin and keeps the report O(true near-dups). */
  val WinnowOverlapFloor = 0.5
  /** Doc-frequency cap on fingerprints entering the pair join — the same
    * hot-posting guard as [[MaxShingleDf]]: a boilerplate fingerprint in
    * thousands of docs must not drive a quadratic join. */
  val WinnowDfCap = 100
  /** Bits reserved for the in-doc k-gram position in the packed
    * (hash, pos) selection key — 2^28 chars ≈ 256 MB/doc budget. */
  val WinnowPosBits = 28

  /** Per-document winnowing fingerprint sets (Schleimer, Wilkerson &
    * Aiken, SIGMOD 2003 — the MOSS algorithm): hash every char
    * [[WinnowK]]-gram of the normalized text, slide a [[WinnowW]]-wide
    * window over the hash sequence, and keep each window's minimum.
    * The selection guarantee is what neither MinHash nor the df≥2 span
    * screen gives: ANY shared substring of length ≥ w + k − 1 chars
    * (here 11) is CERTAIN to contribute at least one shared
    * fingerprint, at a sampling density of ~2/(w+1) — detection is
    * deterministic and position-local, not probabilistic (MinHash) or
    * exact-match-global (spans).
    *
    * Relational shape: the k-gram hash array is built by ONE collection
    * `transform` (md5-derived 32-bit ints — the cross-engine discipline)
    * so the normalized text is never replicated per position; after
    * `posexplode` rows are narrow (doc_id, pos, h). Window-min runs per
    * doc over `ROWS BETWEEN CURRENT AND w−1 FOLLOWING` with the hash
    * packed above its position (`h·2^28 + pos`), so ties select the
    * LEFTMOST minimal hash identically in both engines; truncated tail
    * windows are dropped. Everything is narrow + one per-doc window —
    * at 100 TB this is a scan-shaped pass, O(corpus chars). */
  private[graft] def winnowFingerprintsOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val minLen = WinnowK + WinnowW - 1
    // m (the k-gram count) is derived from length(norm), NOT size of the
    // hash array: a size(hs) carried across the explode gets inlined by
    // CollapseProject into the post-Generate projection and re-evaluates
    // the whole md5 transform PER OUTPUT ROW — quadratic in doc length
    // (measured 13 s for an 800-doc plant; length(norm) is O(1))
    val grams = docs
      .select(col("doc_id"), array_join(tokenize(col("text")), " ").as("norm"))
      .filter(length(col("norm")) >= minLen)
      .select(col("doc_id"),
        (length(col("norm")) - (WinnowK - 1)).as("m"),
        posexplode(expr(
          s"""transform(sequence(1, length(norm) - ${WinnowK - 1}),
             |  i -> cast(conv(substring(md5(substring(norm, i, $WinnowK)), 1, 8),
             |                 16, 10) as bigint))""".stripMargin)))
      .select(col("doc_id"), col("m"), col("pos"),
        (col("col") * lit(1L << WinnowPosBits) + col("pos")).as("key"))
    val win = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.currentRow, WinnowW - 1)
    grams
      .withColumn("sel", min("key").over(win))
      .filter(col("pos") <= col("m") - WinnowW)
      .select(col("doc_id"), shiftright(col("sel"), WinnowPosBits).as("fp"))
      .distinct()
  }

  /** WINNOWING near-dup pairs over the corpus plus the
    * [[containmentPairs]] truncation plant (prefix excerpts, the
    * guaranteed-positive geometry): docs ranked by shared fingerprint
    * count, with overlap = shared / min(|fps|) — the containment analog
    * in fingerprint space. Pair join is df-capped ([[WinnowDfCap]]) and
    * posting-list-shaped like the shingle joins: candidate volume is
    * bounded by cap × postings, never all-pairs. */
  private def winnowPlant(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
      .filter(col("doc_id") < ContainmentPlantDocs)
    val truncated = base.select(
      (col("doc_id") + 2000000L).as("doc_id"),
      col("text").substr(lit(1),
        greatest((col("n_chars") / 3).cast("int"), lit(40))).as("text"))
    Tables.fanOut(base.select("doc_id", "text").unionByName(truncated))
  }

  def winnowPairs(spark: SparkSession, dir: String): DataFrame =
    winnowPairsOf(winnowPlant(spark, dir))

  /** Rolling-gram width for content-defined chunking. */
  val CdcK = 8
  /** Boundary divisor — a cut lands where the gram hash ≡ 0 (mod this),
    * so the EXPECTED chunk length ≈ divisor chars: the dedup-granularity
    * dial (smaller chunks dedup more, cost more metadata). */
  val CdcDivisor = 64L

  /** CONTENT-DEFINED CHUNKING (the LBFS/rsync primitive —
    * Muthitacharoen et al., SOSP 2001; the FastCDC family): cut a
    * document AFTER every position whose rolling [[CdcK]]-gram hash ≡ 0
    * (mod [[CdcDivisor]]), so boundaries are a pure function of LOCAL
    * content — an edit re-chunks only its own neighborhood, where
    * fixed-size blocks shift every later block by one inserted byte
    * (`CdcChunkSpec` pins exactly that locality). This is the
    * storage-dedup / delta-sync primitive: shared regions between
    * documents (or snapshot versions) fingerprint to shared chunk
    * hashes regardless of their offsets.
    *
    * Relational shape: ENTIRELY row-local until the single chunk
    * explode — the boundary set AND the segment closure are computed
    * inside collection expressions per document (transform + filter
    * over gram positions, then consecutive-starts pairing over the
    * sorted starts array), so chunking needs ZERO exchanges and the
    * identical kernel is streaming-legal (no window, no state) — the
    * property [[graft.streaming.DocsStream.cdcScreen]] rides. Cost is
    * one scan-shaped pass, O(corpus chars) inside the codegen'd
    * lambda, O(chunks) rows after — the same budget as the winnowing
    * pass. Returns (doc_id, start, clen, ch, chars). */
  private[graft] def cdcChunksOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), array_join(tokenize(col("text")), " ").as("norm"))
      .filter(length(col("norm")) >= CdcK)
      .select(col("doc_id"), col("norm"),
        expr(
          s"""array_sort(concat(array(1),
             |  filter(transform(sequence(1, length(norm) - ${CdcK - 1}),
             |    i -> IF(cast(conv(substring(md5(substring(norm, i, $CdcK)), 1, 8),
             |                   16, 10) as bigint) % $CdcDivisor = 0,
             |            i + $CdcK, 0)),
             |    s -> s > 0)))""".stripMargin).as("starts"))
      .select(col("doc_id"), col("norm"),
        explode(expr(
          // the j+1 lookup is guarded, not coalesced: ANSI mode makes an
          // out-of-range element_at an error, not a NULL
          """transform(sequence(1, size(starts)), j -> struct(
            |  element_at(starts, j) AS start,
            |  IF(j < size(starts), element_at(starts, j + 1),
            |     length(norm) + 1) - element_at(starts, j) AS clen))""".stripMargin)).as("c"))
      .filter(col("c.clen") > 0)
      .select(col("doc_id"), col("c.start").cast("long").as("start"),
        col("c.clen").cast("long").as("clen"),
        md5(expr("substring(norm, c.start, c.clen)")).as("ch"),
        length(col("norm")).cast("long").as("chars"))

  /** Registered CDC census over the containment plant (full docs plus
    * their truncated prefixes — guaranteed shared regions at shifted
    * offsets, the geometry CDC exists for): per document, its chunk
    * count, normalized length, how many of its chunk occurrences are
    * SHARED (hash present in ≥2 docs — the dedupable fraction a
    * chunk-store would not re-store), and the reassembly audit
    * (chunk lengths must tile the document exactly — a chunker that
    * drops or overlaps a byte corrupts restores, so the invariant is
    * oracle-checked on every doc). Chunk sharing is computed over the
    * corpus-wide hash frame — one groupBy on the chunk hash, posting-
    * list shaped, never all-pairs. */
  def cdcChunkStats(spark: SparkSession, dir: String): DataFrame =
    cdcChunkStatsOf(winnowPlant(spark, dir))

  /** Plan-audit hook: the corpus-shaped chunking pass (the registered
    * query materializes its output once for the two downstream
    * consumers, so the retained plan would dump as an ExistingRDD
    * scan — the [[winnowPairsPlan]] situation). */
  private[graft] def cdcChunksPlan(spark: SparkSession, dir: String): DataFrame =
    cdcChunksOf(winnowPlant(spark, dir))

  /** The persisted chunk-store KEY SET of the stored corpus half — at a
    * deployment, the content-addressed hash set the chunk store already
    * holds (its whole point: membership is one key lookup). */
  private[graft] def cdcChunkIndexOf(docs: DataFrame): DataFrame =
    cdcChunksOf(docs).select("ch").distinct()

  /** INCREMENTAL CDC screen — chunk ONLY the arriving batch and probe
    * the persisted chunk store: per arriving document, the chunks and
    * chars it carries vs the NEW chunks and chars the store must
    * actually persist (everything else is already content-addressed —
    * the storage-dedup payoff). O(batch) by construction: the batch is
    * the only thing chunked, the probe is one equi-join against the
    * store's key set, and the census is one per-doc aggregation.
    * Streaming-legal end to end (the chunking kernel is row-local, the
    * probe stream-static, the census a single update-mode agg) —
    * [[graft.streaming.DocsStream.cdcScreen]] shares it verbatim. */
  def cdcScreenOf(batch: DataFrame, index: DataFrame): DataFrame =
    cdcChunksOf(batch)
      .join(index.select(col("ch"), lit(1L).as("stored")), Seq("ch"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum("clen").as("chunk_chars"),
        sum(when(col("stored").isNull, 1L).otherwise(0L)).as("n_new"),
        sum(when(col("stored").isNull, col("clen")).otherwise(0L)).as("new_chars"))
      // no orderBy here: the kernel must stay streaming-legal (a sort on
      // an update-mode stream is rejected); the registered batch query
      // adds the total order

  /** Id shift for [[cdcScreenIncremental]]'s re-delivered batch. */
  val CdcRedeliverShift = 3000000L

  /** Registered incremental form: the even docs are the stored corpus;
    * the batch RE-DELIVERS every stored doc under a fresh id with a
    * prepended marker — the delta-sync geometry CDC exists for: a head
    * edit disturbs only the head chunk(s) because boundaries are
    * content-local, so the store pays for the edit, never for the
    * re-delivery (fixed-size blocks would re-store every block of
    * every re-delivered doc — the offsets all shifted). `CdcChunkSpec`
    * pins the locality; the oracle recomputes both halves and the
    * probe relationally. */
  def cdcScreenIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.fanOut(Tables.documents(spark, dir))
    val stored = docs.filter(col("doc_id") % 2 === 0)
    val batch = stored.select(
      (col("doc_id") + CdcRedeliverShift).as("doc_id"),
      concat(lit("redelivered copy "), col("text")).as("text"))
    cdcScreenOf(batch, cdcChunkIndexOf(stored)).orderBy("doc_id")
  }

  def cdcChunkStatsOf(docs: DataFrame): DataFrame = {
    // the chunk frame feeds two consumers (the df frame and the census
    // join) — materialized once so the corpus-shaped chunking pass runs
    // once, not per consumer
    val chunks = unownedCut(cdcChunksOf(docs))
    val dfs = chunks.groupBy("ch")
      .agg(countDistinct("doc_id").as("df"))
    chunks.join(dfs, Seq("ch"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        first(col("chars")).as("chars"),
        sum(when(col("df") > 1, 1L).otherwise(0L)).as("n_shared"),
        (sum(col("clen")) === first(col("chars"))).as("covered_ok"))
      .orderBy("doc_id")
  }

  /** Plan-audit hook: the corpus-shaped fingerprint pass — the part
    * whose shape decides the 100 TB cost (PLANS.md dumps this instead
    * of the retained ExistingRDD the registered query returns; the pair
    * join runs over the ONCE-materialized output of exactly this plan,
    * so dumping the unmaterialized composition would show recomputes
    * the registered query does not perform). */
  private[graft] def winnowPairsPlan(spark: SparkSession, dir: String): DataFrame =
    winnowFingerprintsOf(winnowPlant(spark, dir))

  /** The pair join over a (doc_id, fp) fingerprint frame. */
  private def winnowPairsFrom(fps: DataFrame): DataFrame = {
    val dfs = fps.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df").between(2, WinnowDfCap))
    val kept = fps.join(dfs.select("fp"), "fp")
    val sizes = fps.groupBy("doc_id").agg(count(lit(1)).as("n_fp"))
    kept.as("a")
      .join(kept.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared_fp"))
      .filter(col("shared_fp") >= WinnowMinShared)
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_fp").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_fp").as("nb")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("shared_fp"), col("na"), col("nb"),
        round(col("shared_fp") / least(col("na"), col("nb")), 4).as("overlap"))
      .filter(col("overlap") >= WinnowOverlapFloor)
      .orderBy("doc_a", "doc_b")
  }

  /** [[winnowPairs]] over ANY (doc_id, text, …) frame. The fingerprint
    * frame — the expensive char-gram + window pass — is materialized
    * ONCE and fed to its four consumers (df census, both join sides,
    * per-doc sizes); without the pin, Catalyst recomputes the whole
    * derivation per consumer (the executed plan showed 8 corpus scans
    * and 8 window sorts, 18 s at sf0.1 → ~4 s with the pin). Result is
    * retained latest-wins like the other materialized-result queries. */
  private[graft] def winnowPairsOf(docs: DataFrame): DataFrame = {
    withCuts(docs.sparkSession) { cuts =>
      val fps = cuts.cut(winnowFingerprintsOf(docs))
      cuts.keep(s"winnowPairs#$WinnowK#$WinnowW", cuts.cut(winnowPairsFrom(fps)))
    }
  }

  /** Jaccard threshold of the prefix-filtering join — higher than
    * [[ngramJaccardOf]]'s 0.3 because prefix filtering's pruning power is
    * proportional to the threshold (prefix length is n − ⌈t·n⌉ + 1, so
    * t = 0.5 joins only ~half of each doc's shingles). */
  val PrefixJoinThreshold = 0.5

  def prefixFilterJoin(spark: SparkSession, dir: String): DataFrame =
    prefixFilterJoinOf(Tables.fanOut(Tables.documents(spark, dir)))

  /** EXACT Jaccard-threshold set-similarity self-join by prefix filtering
    * (the AllPairs/PPJoin family): hash each shingle to a 64-bit token
    * (see the note in [[prefixStages]] — the GC-pressure governor, with
    * the collision bound), order each doc's kept token set by global
    * rarity (df asc, hash — one global total order, which is all the
    * theorem needs), emit only the first n − ⌈t·n⌉ + 1 tokens of each
    * doc into the candidate join, verify exact Jaccard on the
    * candidates. Lossless by
    * the prefix-filtering principle: J(a,b) ≥ t forces an overlap of at
    * least ⌈t·|a|⌉ tokens, so by pigeonhole some shared token lands in
    * both prefixes. The registered oracle is the NAIVE all-pairs
    * computation, so the hash-match is a machine check of losslessness,
    * not just of the arithmetic.
    *
    * This is the EXACT counterpart of MinHash+LSH: same candidate-then-
    * verify shape, but zero false negatives and no signature tuning. At
    * 100 TB the candidate join is bounded twice over — the df ≤
    * [[MaxShingleDf]] cap bounds per-token fan-out, and the prefix cut
    * removes the ~t fraction of each doc's tokens that are globally
    * COMMONEST (rarity order means the skipped suffix holds exactly the
    * tokens that would have exploded the join). Verification cost is
    * O(candidates × avg set size), all id-keyed hash joins. */
  def prefixFilterJoinOf(docs: DataFrame,
                         t: Double = PrefixJoinThreshold): DataFrame = {
    val (docsets, cand) = prefixStages(docs, t)
    // Verify on the per-doc ARRAYS, not an exploded posting: two id-keyed
    // hash joins haul one bounded (~doc-length) array per side per
    // candidate, and `array_intersect` counts the overlap in place.
    // (The first cut exploded candidates × tokens through two more
    // shuffles — ~50× the rows for the same answer; arrays lose for the
    // NAIVE join's huge candidate set (see ngramJaccardOf's note) but win
    // here exactly because the prefix cut made candidates scarce.)
    // Intersect the plain LONG arrays (`toks.g` field extraction, a
    // codegen'd projection): `array_intersect` only takes its hash-set
    // fast path for atomic element types — on the (df, g) struct arrays
    // it degrades to an interpreted quadratic ordering scan, which turned
    // the verify stage into minutes at sf0.1.
    // SHUFFLE_HASH, not the default sort-merge, for both verify joins:
    // SMJ would SORT the array-bearing side, and sorting rows ~kB wide
    // is the spill-prone shape; a hash join builds on the (persisted)
    // docsets side and streams the narrow candidate rows through it —
    // per-partition build memory is corpus/partitions, the knob that
    // already governs every other doc-keyed join here.
    val a = docsets.hint("shuffle_hash").select(col("doc_id").as("doc_a"),
      col("toks.g").as("gs_a"), col("n").as("na"))
    val b = docsets.hint("shuffle_hash").select(col("doc_id").as("doc_b"),
      col("toks.g").as("gs_b"), col("n").as("nb"))
    // The threshold filter references `inter` ONCE, in integer form:
    // round₄(i/u) ≥ t  ⟺  i/u ≥ t − 5·10⁻⁵  ⟺  (100000+c)·i ≥ c·(na+nb)
    // with c = 100000·t − 5 and u = na+nb−i substituted out. Written as
    // `jaccard >= t` the pushdown would inline TWO array_intersect calls
    // into the join condition (predicate substitution has no
    // common-subexpression guard, and ArrayIntersect is interpreted) —
    // the single-reference form halves the per-candidate verify cost.
    // Exactness: a boundary tie needs u ≥ 20000 distinct shingles per
    // pair (20000·u grid vs ~1e-16 double error), far beyond any doc.
    val c = math.round(100000.0 * t - 5)
    cand.join(a, "doc_a").join(b, "doc_b")
      .withColumn("inter",
        size(array_intersect(col("gs_a"), col("gs_b"))).cast("long"))
      .filter(lit(100000L + c) * col("inter") >= lit(c) * (col("na") + col("nb")))
      .select(col("doc_a"), col("doc_b"),
        round(col("inter") / (col("na") + col("nb") - col("inter")), 4).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** The shared front half of the prefix join: `docsets` — ONE row per
    * doc holding its kept shingle set as a rarity-SORTED (df, g) struct
    * array plus its size — and `cand`, the candidate pairs the prefix
    * cut admits. A single `groupBy(doc_id)` with `sort_array` replaces
    * both the per-doc size aggregate and a `row_number` window (the
    * struct sort IS the global (df asc, g) rarity order, applied per
    * doc), so the whole front half costs one doc_id shuffle instead of
    * a window shuffle plus a separate size shuffle. */
  private def prefixStages(docs: DataFrame,
                           t: Double): (DataFrame, DataFrame) = {
    // The VERIFY stage (and the oracle) accept round₄(J) ≥ t, i.e. the
    // band J ≥ t − 5·10⁻⁵ — so every CANDIDATE-pruning bound below must
    // be lossless for that relaxed threshold, not exact t: a pair at
    // J = t − 2·10⁻⁵ (rounds to t) with ~20k-shingle docs could
    // otherwise be cut by a bound computed from t that the verify would
    // have kept (size 9999 vs 20000: least < t·greatest but the rounded
    // Jaccard still passes). Candidates only grow by the sliver between
    // the two thresholds; the verify stays exact, so results are
    // unchanged at any SF where the sliver is empty.
    val tc = t - 5e-5
    // HASH each shingle to a 64-bit token the moment it exists: every
    // downstream stage (the distinct, the df aggregate, the per-doc
    // arrays, the candidate join, the verify intersect) then moves
    // 8-byte longs instead of ~25-char strings. This is where the
    // query's GC story is decided — instrumented at 10× sf0.1 the
    // string pipeline spent 8–19 s of task-attributed GC per execution
    // (zero spill; pure allocation pressure) and swung 8.6↔167.8 s
    // run-to-run on GC luck, which is what BENCH r10's committed 58 s
    // outlier was. Exactness: Jaccard over hashed tokens equals
    // Jaccard over shingles unless two of the corpus's distinct
    // shingles collide in 2^64 (p ≈ n²/2^65 ≈ 2·10⁻⁷ at the 2.6M
    // shingles of 10× sf0.1) — the standard AllPairs tokenization; the
    // naive STRING-side oracle hash-match machine-checks absence of
    // collision at every tested SF. The rarity order becomes
    // (df asc, hash asc) — still one global total order on tokens,
    // which is all the prefix theorem needs.
    val posting = shinglesOf(docs)
      .select(col("doc_id"), xxhash64(col("g")).as("g")).distinct()
    val dfs = posting.groupBy("g").agg(count(lit(1)).as("df"))
    // SHUFFLE the df join, never broadcast it: the df table is CORPUS-
    // DERIVED (one row per distinct repeated shingle — 2.6M rows at
    // 10× sf0.1, unbounded at 100 TB), and Catalyst's post-aggregate
    // size estimate undershoots it badly enough to pick a broadcast
    // build — a multi-hundred-MB HashedRelation built single-threaded
    // on the driver, once per recompute of this subtree (it appeared
    // FOUR times in the executed plan before the checkpoint below).
    // Those repeated driver-side builds and their GC interplay are
    // what swung the same sf1 plan 8.6 s ↔ 167.8 s run-to-run and
    // produced BENCH r10's committed 58 s outlier.
    val kept = posting.join(dfs.hint("shuffle_hash"), "g")
      .filter(col("df") <= MaxShingleDf)
    // df = 1 tokens can never match ANYTHING (they exist in exactly one
    // doc): they can't generate a candidate and can't contribute to an
    // intersection. They only matter through the COUNTS — the set size n
    // (jaccard denominator, prefix length) — and since df-ascending
    // order puts every df=1 token before every df≥2 token, the first p
    // tokens of the full ordering contain exactly max(0, p − c1) df≥2
    // tokens, all at the FRONT of the df≥2-only sorted array. So the
    // arrays carry only df≥2 tokens (collect_list skips the nulled-out
    // singletons) and c1 keeps the arithmetic exact — in a Zipf corpus
    // most shingles are df=1, so this is the difference between hauling
    // the corpus and hauling its repeated fraction.
    // MATERIALIZE docsets once (the CC-round/kmeansTrainedCents
    // checkpoint discipline): the frame feeds FOUR plan legs — both
    // prefix sides of the candidate self-join and both array sides of
    // the verify — and without the checkpoint each leg re-runs the
    // whole text→shingle→df pipeline from the parquet scan. One row
    // per doc with its (df,g) array: corpus-linear, the same storage
    // class as a signature index. As a bonus the checkpointed RDD
    // carries EXACT size statistics, so every downstream join picks
    // its strategy from real sizes instead of post-aggregate guesses.
    // Through an owned cut kept as the retained result, NOT a bare
    // Dataset.localCheckpoint: the bare form hands back no handle to
    // free, so every construction (bench warmup + passes, one per
    // Scale factor) pinned a corpus-sized RDD in executor storage with
    // only GC-luck cleanup. The retained slot bounds it at ONE docsets
    // frame per session — a repeat call retires the previous blocks —
    // and honors the reliable-checkpoint conf like every other owned
    // frame. (Still eager by design: the registered query's cost IS
    // this build plus the joins, and the exact-size statistics the
    // checkpoint hands Catalyst are the point.)
    val docsets = withCuts(docs.sparkSession) { cuts =>
      cuts.keep("prefixDocsets", cuts.cut(kept
        .groupBy("doc_id")
        .agg(sort_array(collect_list(
            when(col("df") >= 2, struct(col("df"), col("g"))))).as("toks"),
          sum(when(col("df") === 1, 1L).otherwise(0L)).as("c1"))
        .withColumn("n", size(col("toks")) + col("c1"))))
    }
    // Prefix membership is decided on the FULL kept set (the theorem
    // needs the first p = n − ⌈tc·n⌉ + 1 tokens of the whole ordering,
    // with tc the relaxed threshold above). posexplode carries each
    // token's position INSIDE the df≥2 array; +c1 recovers its 1-based
    // position in the full rarity order (all df=1 singletons sort first).
    val prefix = docsets
      .select(col("doc_id"), col("n"), col("c1"),
        posexplode(slice(col("toks"), lit(1),
          greatest(
            (col("n") - ceil(lit(tc) * col("n")) + 1 - col("c1")).cast("int"),
            lit(0)))))
      .select(col("doc_id"), col("n"),
        (col("pos") + 1 + col("c1")).as("p"), col("col.g").as("g"))
    // The PPJoin LENGTH filter rides the join: J ≥ tc forces
    // min(na,nb) ≥ tc·max(na,nb), so size-mismatched pairs never reach
    // the distinct or the verify. The 1e-9 slack makes the float product
    // err only toward KEEPING a boundary pair (verification stays exact).
    val lengthOk =
      least(col("x.n"), col("y.n")).cast("double") >=
        lit(tc) * greatest(col("x.n"), col("y.n")) - lit(1e-9)
    // The PPJoin POSITIONAL filter (Xiao et al., WWW'08 — the r10
    // verify-stage governor), at its TIGHT first-common-token form:
    // both docs order tokens by the SAME global (df, g) rarity order,
    // so the matched token with the minimum position on one side is
    // the minimum on the other side too, and it is the globally FIRST
    // common token of the pair (any earlier common token would sit at
    // smaller positions in BOTH prefixes and appear in the join). No
    // common token precedes it, so the achievable overlap is bounded
    // by 1 + min(na−i₁, nb−j₁); J ≥ tc needs overlap ≥
    // tc·(na+nb)/(1+tc), and a pair whose bound can't reach that
    // never enters the verify. LOSSLESS: the bound dominates the true
    // overlap (the naive all-pairs oracle hash-match is the machine
    // check); the 1e-9 slack errs toward keeping. The groupBy replaces
    // the old `distinct()` — same shuffle, the min/first aggregates
    // ride it for free.
    val cand = prefix.alias("x")
      .join(prefix.alias("y"),
        col("x.g") === col("y.g") && col("x.doc_id") < col("y.doc_id") &&
          lengthOk)
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(min(col("x.p")).as("i1"), min(col("y.p")).as("j1"),
        first(col("x.n")).as("na"), first(col("y.n")).as("nb"))
      .filter((lit(1) + least(col("na") - col("i1"), col("nb") - col("j1")))
          .cast("double") >=
        lit(tc) / (1.0 + tc) * (col("na") + col("nb")) - lit(1e-9))
      .select("doc_a", "doc_b")
    (docsets, cand)
  }

  /** Candidate count WITHOUT the positional filter — the r9 candidate
    * shape, kept for the SCALE harness to measure what the positional
    * filter buys per factor. */
  private[graft] def prefixCandidatesNoPositional(docs: DataFrame,
      t: Double = PrefixJoinThreshold): DataFrame = {
    val tc = t - 5e-5
    // same hashed-token + shuffled-df-join front end as [[prefixStages]]
    // so the r9-vs-r10 candidate comparison stays apples-to-apples
    val posting = shinglesOf(docs)
      .select(col("doc_id"), xxhash64(col("g")).as("g")).distinct()
    val dfs = posting.groupBy("g").agg(count(lit(1)).as("df"))
    val kept = posting.join(dfs.hint("shuffle_hash"), "g")
      .filter(col("df") <= MaxShingleDf)
    val docsets = kept
      .groupBy("doc_id")
      .agg(sort_array(collect_list(
          when(col("df") >= 2, struct(col("df"), col("g"))))).as("toks"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("c1"))
      .withColumn("n", size(col("toks")) + col("c1"))
    val prefix = docsets
      .select(col("doc_id"), col("n"),
        explode(slice(col("toks"), lit(1),
          greatest(
            (col("n") - ceil(lit(tc) * col("n")) + 1 - col("c1")).cast("int"),
            lit(0)))).as("tk"))
      .select(col("doc_id"), col("n"), col("tk.g").as("g"))
    prefix.alias("x")
      .join(prefix.alias("y"),
        col("x.g") === col("y.g") && col("x.doc_id") < col("y.doc_id") &&
          least(col("x.n"), col("y.n")).cast("double") >=
            lit(tc) * greatest(col("x.n"), col("y.n")) - lit(1e-9))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
  }

  private[graft] def prefixCandidatesOf(docs: DataFrame,
                                        t: Double = PrefixJoinThreshold): DataFrame =
    prefixStages(docs, t)._2

  /** Iteration cap for [[componentsOfManaged]]. With pointer jumping
    * each round at least halves every propagation chain, so convergence needs
    * O(log₂ of the largest component's diameter) rounds — 50 covers any
    * graph that fits in storage by ~2⁵⁰ margin. The loop exits early at
    * the actual fixpoint; the cap only bounds a pathological run. */
  val MaxCcIterations = 50

  /** Connected components of the undirected near-dup pair graph, by
    * min-label propagation: every node starts labeled with its own id;
    * each round takes the min of its own and its neighbors' labels, then
    * pointer-jumps (label := label's label) so long chains collapse
    * logarithmically instead of one hop per round. Returns
    * (doc_id, component) where component = the minimum doc_id reachable —
    * a canonical representative independent of pair enumeration order.
    *
    * Scale posture: the graph holds only DOCUMENTS THAT HAVE A NEAR-DUP
    * PAIR — a small fraction of the corpus even at 100 TB — and every
    * round is two hash joins on ids (no arrays, no text). Each round
    * MATERIALIZES its frames as locally-checkpointed RDDs we own:
    * iterative self-referential plans otherwise double their lineage per
    * round and re-execute the whole history at every action, and owning
    * the RDD reference lets the loop UNPERSIST each superseded round's
    * blocks as soon as the next is materialized (a bare
    * `Dataset.localCheckpoint` gives no safe handle to free, and a
    * long-lived session would otherwise hold every round's labels in
    * executor storage). `propagated` is materialized too, so the
    * pointer-jump self-join reads it from cache instead of re-running
    * the round's joins on both legs. */
  /** A [[componentsOfManaged]] result whose storage the CALLER owns: `labels`
    * is the converged (id, component) frame, still backed by persisted
    * blocks; `release()` unpersists them (and deletes their reliable-
    * checkpoint files, if any) once every downstream action on `labels`
    * has run. Without the handle a long-lived session leaks one label
    * frame's blocks per clustering call (the loop frees every SUPERSEDED
    * round, but someone must free the last one). `rounds` is the number
    * of propagation rounds to convergence — the scale diagnostic
    * (O(log diameter) expected; see SCALE.md). */
  final case class ComponentsHandle(labels: DataFrame, rounds: Int,
                                    release: () => Unit)

  /** Connected components of the undirected (doc_a, doc_b) pair graph:
    * every node labelled with the minimum id reachable from it, as a
    * [[ComponentsHandle]] so the final round's storage can be freed.
    *
    * `checkpointDir = None` (default) truncates lineage per round with
    * `localCheckpoint` — blocks live on executors, fastest, but NOT
    * executor-loss tolerant: on a real cluster one lost executor makes
    * the lineage-truncated RDD unrecoverable and fails the job. Pass
    * `Some(dir)` (HDFS/S3 path on a cluster) for RELIABLE checkpoints:
    * each round persists, writes to the checkpoint dir, and survives
    * executor loss — the cluster-grade mode a 100 TB run should use.
    * Both modes converge to identical labels (suite-pinned). */
  private[graft] def componentsOfManaged(pairs: DataFrame,
      checkpointDir: Option[String] = None): ComponentsHandle =
    withCuts(pairs.sparkSession, checkpointDir) { cuts =>
      val (last, rounds) = componentsIn(cuts, pairs)
      ComponentsHandle(last.select("id", "component"), rounds, cuts.handOff(last))
    }

  /** The pointer-jumping loop in `cuts`: returns the converged round
    * (id, component, old) — a cut `cuts` still owns, so the caller hands
    * it off or keeps it — and the number of rounds. */
  private def componentsIn(cuts: Cuts, pairs: DataFrame): (DataFrame, Int) = {
    // every round is an owned cut: truncates lineage like
    // Dataset.localCheckpoint, but keeps the handle so each superseded
    // round's blocks AND checkpoint files are retired as soon as the
    // next round is materialized.
    // the edge frame is the loop's STATIC side and every round joins it
    // on `dst`: pre-shuffle + pre-sort it by that key ONCE and keep the
    // layout across the materialization cut (a keyed cut — the plain
    // owned form erases partitioning, so each round re-exchanged and
    // re-sorted the whole edge frame; the PageRank loop's r12 fix,
    // applied to CC)
    val edges = cuts.cutKeyed(pairs
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .repartition(col("dst")).sortWithinPartitions("dst"))
    // KEYED loop state (r13): every labels cut is rooted at an explicit
    // repartition(id) so static planning can keep the neighbor join
    // (labels renamed id→dst against the dst-keyed edges), the
    // propagate join (on id) and the pointer jump's right leg (id
    // aliased to component) exchange-free — the per-round shuffles are
    // then the gather's groupBy(src), the jump's left leg (the
    // algorithm's re-key by label) and the one repartition that buys
    // the rest. Under AQE the effect at sf0.1 is within the box's noise
    // band (stages 98→107, shuffle ~3 MB both ways; the round's bench
    // pair moved 5.7→3.7 s) — the byte argument is for corpus-sized
    // label frames, where two saved V-row exchanges per round dominate
    // the one paid. Labels are integer mins, so layout cannot perturb
    // results.
    var labelsCut = cuts.cutKeyed(
      edges.select(col("src").as("id")).distinct()
        .withColumn("component", col("id"))
        .repartition(col("id")))
    var labels = labelsCut
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < MaxCcIterations) {
      // min over own label and all neighbors' labels
      val nbrMin = edges
        .join(labels.select(col("id").as("dst"), col("component").as("nbr_comp")), "dst")
        .groupBy(col("src").as("id")).agg(min("nbr_comp").as("nbr_comp"))
      val propagated = cuts.cutKeyed(
        labels.join(nbrMin, Seq("id"), "left")
          .select(col("id"),
            least(col("component"), coalesce(col("nbr_comp"), col("component")))
              .as("component"),
            col("component").as("old")))
      // pointer jump: resolve each label to ITS label (labels only ever
      // shrink, so label(label(id)) <= label(id) — this is what turns a
      // k-long chain into k/2, giving O(log) total rounds); the previous
      // label rides along so convergence is a filter-count over the
      // materialized frame — one extra action, no join against old labels
      // LAZY owned materialization: the convergence count below is the
      // materializing action, so the pointer-jump round costs one job
      // instead of a count job plus the convergence count (propagated
      // stays EAGER — the self-join reads it on two legs, and a lazy
      // first compute would race its own cache)
      val next = cuts.cutKeyedLazy(
        propagated.alias("u")
          .join(propagated.select(col("id").as("component"), col("component").as("jump"))
            .alias("p"), Seq("component"), "left")
          .select(col("id"), coalesce(col("jump"), col("component")).as("component"),
            col("old"))
          .repartition(col("id")))
      changed = next.filter(col("component") =!= col("old")).count()
      cuts.retire(labelsCut)
      cuts.retire(propagated)
      labels = next.select("id", "component")
      labelsCut = next
      iter += 1
    }
    (labelsCut, iter)
  }

  /** Converged component labels over the memoized pair graph, an
    * ordinary [[memoizedFrame]] key: [[nearDupComponents]] and
    * [[dedupedCorpusClustered]] both need them, and the CC loop
    * (driver-coordinated rounds) is the one subplan worth never running
    * twice. The labels frame is even smaller than the pair set (one row
    * per clustered doc), and the memo owns the final round's storage via
    * the [[ComponentsHandle]] — the deliberate, bounded version of what
    * would otherwise be a per-call leak. */
  private[graft] def componentsCached(spark: SparkSession, dir: String): DataFrame =
    memoized(spark, "components", dir, "documents.parquet") {
      val pairs = minhashPairsCached(spark, dir).select("doc_a", "doc_b")
      val handle = componentsOfManaged(pairs, confCheckpointDir(spark))
      (handle.labels, handle.release)
    }

  /** Near-dup CLUSTERS: [[componentsOfManaged]] over the [[minhashLsh]] pair
    * graph. One row per clustered document: (doc_id, component) where
    * component is the cluster's minimum doc_id. The oracle is a DuckDB
    * recursive CTE computing min-reachable-id over the same pair set, so
    * the row set proves the iterative Spark loop reaches the true
    * transitive closure — not just the pairs it happened to see first. */
  def nearDupComponents(spark: SparkSession, dir: String): DataFrame =
    componentsCached(spark, dir)
      .select(col("id").as("doc_id"), col("component"))
      .orderBy("doc_id")

  /** INCREMENTAL connected components — the dup-graph maintenance step
    * an arriving-crawl loop runs instead of re-clustering the corpus.
    * The even half is the indexed graph (its labels stand in for the
    * persisted state, recomputed in-query like `spanGramIndexOf` in
    * [[TextAnalysis.dupSpanApplyIncremental]]); the odd half arrives,
    * and its pairs (from the shared memoized pair graph — in production
    * the [[writeBandIndex]] probe that `q_dedup_incremental` registers)
    * merge components WITHOUT touching untouched ones:
    *
    *  1. every old endpoint COLLAPSES to its old component label (old
    *     labels are min-even-ids, arriving ids are odd — the two node
    *     spaces are disjoint by parity, so no tagging column is needed);
    *  2. the same pointer-jumping kernel ([[componentsOfManaged]]) runs on the
    *     BATCH-sized delta graph (arriving docs + touched components);
    *  3. a delta label is min(old labels, odd ids) of the merged set =
    *     the global min doc id — so incremental ≡ full recompute, which
    *     is exactly what the oracle checks (full-graph recursive CTE
    *     restricted to components containing an arriving doc).
    *
    * Output is the UPDATE SET a label store would write: arriving docs
    * (`new`), indexed docs whose label changed (`relabeled`), indexed
    * docs whose component absorbed members without changing label
    * (`anchor`). Work at 100 TB: the delta CC state frames are bounded
    * by the batch and the components it touches, never the corpus; the
    * only corpus-scale inputs are the persisted-state analogs. */
  def ccIncremental(spark: SparkSession, dir: String): DataFrame =
    ccIncrementalOf(minhashPairsCached(spark, dir).select("doc_a", "doc_b"))

  /** [[ccIncremental]] over any (doc_a, doc_b) pair frame (odd ids =
    * the arriving batch, even ids = the indexed graph). */
  private[graft] def ccIncrementalOf(pairs: DataFrame): DataFrame = {
    val oldPairs = pairs
      .filter(col("doc_a") % 2 === 0 && col("doc_b") % 2 === 0)
    val deltaPairs = pairs
      .filter(col("doc_a") % 2 === 1 || col("doc_b") % 2 === 1)
    ccIncrementalFrom(keptComponents(oldPairs, "ccIncrementalOld"), deltaPairs)
  }

  /** The converged (id, component) labels of `pairs`, their last round
    * held in the retained-result slot `key`: the incremental-CC frame
    * reads them lazily, after the scope exits. */
  private def keptComponents(pairs: DataFrame, key: String): DataFrame =
    withCuts(pairs.sparkSession) { cuts =>
      cuts.keep(key, componentsIn(cuts, pairs)._1).select("id", "component")
    }

  /** The incremental-CC KERNEL: merge a batch's `deltaPairs` into the
    * PRECOMPUTED `oldLab` (id, component) state — the measurement
    * boundary for the O(batch) claim (in production `oldLab` is the
    * persisted label store; here the registered query recomputes it
    * in-query like the other `*_inc` forms, and the SCALE section
    * measures this kernel against a materialized state frame). */
  private[graft] def ccIncrementalFrom(oldLab: DataFrame,
      deltaPairs: DataFrame): DataFrame = {
    val labA = oldLab.select(col("id").as("doc_a"), col("component").as("comp_a"))
    val labB = oldLab.select(col("id").as("doc_b"), col("component").as("comp_b"))
    val deltaEdges = deltaPairs
      .join(labA, Seq("doc_a"), "left")
      .join(labB, Seq("doc_b"), "left")
      .select(
        when(col("doc_a") % 2 === 1, col("doc_a"))
          .otherwise(coalesce(col("comp_a"), col("doc_a"))).as("na"),
        when(col("doc_b") % 2 === 1, col("doc_b"))
          .otherwise(coalesce(col("comp_b"), col("doc_b"))).as("nb"))
      .filter(col("na") =!= col("nb"))
      .select(col("na").as("doc_a"), col("nb").as("doc_b"))
      .distinct()
    val deltaLab = keptComponents(deltaEdges, "ccIncrementalDelta") // (delta node, label)
    val newDocs = deltaLab.filter(col("id") % 2 === 1)
      .select(col("id").as("doc_id"), col("component"),
        lit("new").as("status"))
    // even delta nodes: old component labels, or evens unpaired in the
    // old graph (disjoint cases — a paired doc's id can be a label only
    // if it IS in oldLab)
    val tn = deltaLab.filter(col("id") % 2 === 0)
      .select(col("id").as("old_comp"), col("component").as("new_comp"))
    val evenPaired = oldLab
      .join(tn, col("component") === col("old_comp"))
      .select(col("id").as("doc_id"), col("new_comp").as("component"),
        when(col("new_comp") =!= col("old_comp"), lit("relabeled"))
          .otherwise(lit("anchor")).as("status"))
    val unpaired = tn
      .join(oldLab.select(col("component").as("old_comp")).distinct(),
        Seq("old_comp"), "left_anti")
      .select(col("old_comp").as("doc_id"), col("new_comp").as("component"),
        when(col("new_comp") =!= col("old_comp"), lit("relabeled"))
          .otherwise(lit("anchor")).as("status"))
    newDocs.unionByName(evenPaired).unionByName(unpaired)
      .orderBy("doc_id")
  }

  /** The dedup ACTION — the corpus a training pipeline actually keeps.
    * Composition of the detectors: (1) one survivor (lowest doc_id) per
    * exact-duplicate group; (2) near-duplicates flagged by
    * [[minhashLsh]] drop the higher doc_id of each pair ("keep first",
    * the standard greedy heuristic — see [[dedupedCorpusClustered]] for
    * the cluster-correct variant). Anti-joins are broadcast-sized: the
    * drop set is as small as the dup rate. */
  def dedupedCorpus(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val exactKeep = d.groupBy(md5(col("text")).as("text_md5"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    val nearDrop = minhashPairsCached(spark, dir).select(col("doc_b").as("doc_id")).distinct()
    d.join(exactKeep, "doc_id")
      .join(nearDrop, Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }

  /** [[dedupedCorpus]] with CLUSTER-correct near-dup dropping: the drop
    * set is "every clustered document that is not its component's
    * minimum", so exactly one representative survives per connected
    * component. Unlike the greedy pairwise rule this cannot over-delete
    * on transitive chains (A~B, B~C with A≁C keeps A and only A — the
    * greedy rule drops both B and C) and the survivor set is independent
    * of the order pairs were discovered in. */
  def dedupedCorpusClustered(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val exactKeep = d.groupBy(md5(col("text")).as("text_md5"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    val nearDrop = componentsCached(spark, dir)
      .filter(col("component") =!= col("id"))
      .select(col("id").as("doc_id"))
    d.join(exactKeep, "doc_id")
      .join(nearDrop, Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }

  /** Dedup ACTION with a QUALITY keep policy: per near-dup component,
    * keep the LONGEST document (max n_chars, min doc_id tiebreak) —
    * the keep-longest policy of Lee et al.'s dedup pipeline, where the
    * shortest copy is usually the truncated one. Differs from
    * [[dedupedCorpusClustered]] (canonical min-id representative) in
    * WHICH doc survives, not how many: both keep one per component.
    *
    * The argmax is `max(struct(n_chars, -doc_id))` under a component-
    * keyed groupBy — a map-side-combinable aggregate, deliberately NOT
    * a corpus-wide row_number window (same answer, but a window would
    * sort every group's rows; the struct-max carries one value per
    * group through the exchange). Exact duplicates tie on n_chars and
    * fall to min-id, agreeing with the exact-keep rule. */
  def dedupedCorpusBest(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val comps = componentsCached(spark, dir)
    val grp = d.join(comps, d("doc_id") === comps("id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("grp"), col("n_chars"))
    val kept = grp.groupBy("grp")
      .agg(max(struct(col("n_chars").as("len"),
        (-col("doc_id")).as("neg_id"))).as("best"))
      .select((-col("best.neg_id")).as("doc_id"))
    d.join(kept, "doc_id")
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }

  /** Train fraction (of 100 hash buckets) for [[leakageSafeSplit]]. */
  val TrainBuckets = 80

  /** LEAKAGE-SAFE train/test split: assign documents to splits by their
    * near-dup COMPONENT, not by doc_id — a near-duplicate of a training
    * document in the test set is silent contamination, and a per-doc
    * split plants exactly that. Every doc's group key is its component
    * label (its own id when unclustered), the split is a content-hash
    * bucket OF THE GROUP, so by construction no component can straddle
    * the boundary. Output is the per-(split, lang) doc/group census; the
    * structural no-straddle guarantee is suite-asserted on the actual
    * pair set. Costs one left join of the corpus against the (small)
    * clustered-docs frame on doc_id — the components are the memoized
    * frame the other dedup actions already share. */
  def leakageSafeSplit(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val comps = componentsCached(spark, dir)
      .select(col("id").as("doc_id"), col("component"))
    val grouped = docs.join(comps, Seq("doc_id"), "left")
      .withColumn("grp", coalesce(col("component"), col("doc_id")))
    val bucket = conv(substring(md5(col("grp").cast("string")), 1, 8), 16, 10)
      .cast("long") % 100
    grouped
      .withColumn("split",
        when(bucket < TrainBuckets, lit("train")).otherwise(lit("test")))
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("grp")).as("n_groups"))
      .orderBy("split", "lang")
  }

  /** Embedding near-dup: top-3 most-similar pairs per label, with pair
    * generation blocked on (label, `bucketBits`-bit sign bucket) — the
    * same IVF-style coarse quantizer as [[SimSearch.lshBucketedTopK]] —
    * so no block is ever all-pairs over a full label partition (a label
    * is not a bounded set at corpus scale; a sign bucket is 1/2^bits of
    * it). `bucketBits` is the SCALE DIAL: expected bucket size is
    * corpus / (labels × 2^bits), so a 100× corpus keeps the per-bucket
    * self-join constant by adding ~7 bits — at the recall cost of
    * splitting near-pairs whose signs differ in the added dimensions.
    * Ranking is by cosine rounded to 6 decimals with vec_id tiebreaks, so
    * order is stable across engines and partitionings. */
  def embeddingNearDup(spark: SparkSession, dir: String,
                       bucketBits: Int = SimSearch.BucketBits): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.fanOut(Tables.embeddings(spark, dir))
      .select(col("label"), col("vec_id"), col("embedding"),
        VectorFunctions.signBucket(col("embedding"), bucketBits).as("bucket"))
    val a = e.select(col("label"), col("bucket"), col("vec_id").as("vec_a"),
      col("embedding").as("emb_a"))
    val b = e.select(col("label"), col("bucket"), col("vec_id").as("vec_b"),
      col("embedding").as("emb_b"))
    val pairs = a.join(b, Seq("label", "bucket")).filter(col("vec_a") < col("vec_b"))
      .select(col("label"), col("vec_a"), col("vec_b"),
        round(VectorFunctions.cosine(col("emb_a"), col("emb_b")), 6).as("cos"))
    val w = Window.partitionBy("label").orderBy(desc("cos"), asc("vec_a"), asc("vec_b"))
    pairs.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select(col("label"), col("rnk").as("rank"), col("vec_a"), col("vec_b"), col("cos"))
      .orderBy("label", "rank")
  }
}

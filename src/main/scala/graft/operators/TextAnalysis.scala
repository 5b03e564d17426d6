package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.TextFunctions._
import graft.sources.Tables

/** Text-analysis operators for training-data pipelines: language ID,
  * quality scoring, token counting, document fingerprinting, n-gram
  * statistics and tf-idf. All per-document work is narrow (collection
  * expressions over the token array — no explode until aggregation
  * needs it, no UDFs), so the scan stage streams at 100 TB; the only
  * shuffles are the final group-bys on bounded key spaces.
  *
  * Cross-engine rules as elsewhere: md5-derived hashes only, rounded
  * floating outputs, total orderings with unique tiebreaks.
  */
object TextAnalysis {

  /** Tiny stopword lexicons for the language-ID heuristic. Single source
    * of truth: the oracle SQL is generated from these same lists. */
  val StopEn = Seq("the", "a", "and", "of", "to", "in", "is", "it", "on", "for")
  val StopDe = Seq("der", "die", "das", "und", "ist", "ein", "zu", "mit", "auf", "nicht")
  val StopFr = Seq("le", "la", "les", "et", "est", "un", "une", "dans", "par", "pour")

  /** Modulus for the rolling polynomial fingerprint. */
  val FpMod = 1000000007L

  private def toks(c: Column): Column = tokenize(c)

  private def stopHits(tokens: Column, stop: Seq[String]): Column =
    size(filter(tokens, t => t.isin(stop: _*)))

  /** Language-ID confusion matrix: predict a language per document from
    * stopword hit counts (argmax with a fixed en>de>fr tie order), then
    * count (actual, predicted) pairs. The per-doc scoring is one narrow
    * pass; the group-by key space is |langs|². */
  def langIdConfusion(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables.fanOut(Tables.documents(spark, dir)).withColumn("toks", toks(col("text")))
      .withColumn("s_en", stopHits(col("toks"), StopEn))
      .withColumn("s_de", stopHits(col("toks"), StopDe))
      .withColumn("s_fr", stopHits(col("toks"), StopFr))
    t.withColumn("predicted",
        when(col("s_en") >= col("s_de") && col("s_en") >= col("s_fr"), "en")
          .when(col("s_de") >= col("s_fr"), "de")
          .otherwise("fr"))
      .groupBy("lang", "predicted")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("lang", "predicted")
  }

  /** Per-source quality profile: punctuation density, English-stopword
    * ratio, mean token length — the classic cheap quality screens before
    * expensive model-based filtering. */
  def qualityBySource(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.fanOut(Tables.documents(spark, dir))
      .withColumn("toks", toks(col("text")))
      .withColumn("ws", whitespaceTokens(col("text")))
      .withColumn("punct_ratio",
        length(regexp_replace(col("text"), "[^\\p{Punct}]", "")) / length(col("text")))
      .withColumn("stop_ratio", stopHits(col("toks"), StopEn) / size(col("toks")))
      .withColumn("mean_tok_len",
        length(regexp_replace(col("text"), "\\s+", "")) / size(col("ws")))
    d.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        round(avg("punct_ratio"), 4).as("avg_punct_ratio"),
        round(avg("stop_ratio"), 4).as("avg_stop_ratio"),
        round(avg("mean_tok_len"), 4).as("avg_tok_len"))
      .orderBy("source")
  }

  /** Token counting per language: whitespace tokens vs BPE-ish pretokens
    * (letter runs / digit runs / single symbols — [[BpeishPattern]]),
    * the two denominators every data-mixing recipe needs. */
  def tokenStats(spark: SparkSession, dir: String): DataFrame =
    Tables.fanOut(Tables.documents(spark, dir))
      .withColumn("n_ws", size(whitespaceTokens(col("text"))))
      .withColumn("n_bpe", size(regexp_extract_all(col("text"), lit(BpeishPattern), lit(0))))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_ws").as("ws_tokens"),
        sum("n_bpe").as("bpe_tokens"),
        round(avg(col("n_bpe") / col("n_ws")), 4).as("avg_bpe_per_ws"))
      .orderBy("lang")

  /** Rolling polynomial fingerprint of the token stream (order-sensitive,
    * unlike the set-based MinHash/SimHash): h ← (31·h + md5₃₂(token))
    * mod p. A narrow per-row fold — the content-addressable doc ID for
    * incremental pipelines. */
  def fingerprints(spark: SparkSession, dir: String): DataFrame =
    Tables.fanOut(Tables.documents(spark, dir))
      .filter(col("doc_id") < 100)
      .select(col("doc_id"),
        aggregate(
          transform(toks(col("text")),
            t => conv(substring(md5(t), 1, 8), 16, 10).cast("long")),
          lit(0L), (acc, h) => (acc * 31L + h) % FpMod).as("fp"))
      .orderBy("doc_id")

  /** Global top-20 word bigrams (all occurrences, not distinct-per-doc),
    * with a bigram tiebreak for determinism. */
  def bigramsTop20(spark: SparkSession, dir: String): DataFrame =
    Tables.fanOut(Tables.documents(spark, dir))
      // toks as a bound column first — see Dedup.docShingles on why
      .select(toks(col("text")).as("toks"))
      .select(explode(wordNgrams(col("toks"), 2)).as("bigram"))
      .groupBy("bigram")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("bigram"))
      .limit(20)

  /** Minimum bigram frequency for [[collocationsTop]] — PMI is unstable
    * on rare pairs (a hapax bigram of two hapax words maxes the score),
    * so collocation miners always floor the pair count. */
  val CollocMinCount = 5

  /** Collocations emitted by [[collocationsTop]]. */
  val CollocTopK = 30

  /** PMI COLLOCATION mining — the lexical-association pass tokenizer and
    * vocabulary builders run over a corpus: score each adjacent word
    * pair by pointwise mutual information,
    * `ln(P(ab) / (P(a)·P(b)))` with P estimated from corpus counts, and
    * keep the top [[CollocTopK]] above the [[CollocMinCount]] frequency
    * floor. High-PMI pairs ("new york"-style units) are what a BPE-ish
    * vocabulary should fuse; the floor plus PMI is the classic
    * Church–Hanks formulation.
    *
    * Shape: one tokenize pass feeds BOTH count frames — bigram counts
    * (explode of adjacent pairs) and unigram counts — each a map-side-
    * combined groupBy; the scalar totals ride a broadcast 1-row frame
    * exactly like tf-idf's N. The pair frame joins its two unigram
    * legs by word — both sides pre-aggregated to vocabulary size, far
    * below corpus size, and the frequency floor is applied BEFORE the
    * joins so only qualifying pairs shuffle. P(ab) normalizes by the
    * bigram total, P(a)/P(b) by the token total; every factor is an
    * integer-valued double assembled in the same literal shape as the
    * oracle, so both engines take ln of identical doubles. Top-k is a
    * TakeOrderedAndProject on (pmi desc, bigram) — never a global
    * sort. */
  def collocationsTop(spark: SparkSession, dir: String): DataFrame = {
    val tokd = Tables.fanOut(Tables.documents(spark, dir))
      .select(toks(col("text")).as("toks"))
    val uni = tokd.select(explode(col("toks")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n_w"))
    // scalar totals in one pass over the token-count column — no second
    // explode; doubles so the PMI ratio stays in one numeric domain at
    // any corpus size (a pure-integer numerator overflows i64 at scale)
    val totals = tokd.agg(
      sum(size(col("toks"))).cast("double").as("n_tok"),
      sum(greatest(size(col("toks")) - 1, lit(0))).cast("double").as("n_big"))
    val pairs = tokd
      .select(explode(wordNgrams(col("toks"), 2)).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= CollocMinCount)
      .withColumn("w1", split(col("bigram"), " ").getItem(0))
      .withColumn("w2", split(col("bigram"), " ").getItem(1))
    pairs
      .join(uni.select(col("word").as("w1"), col("n_w").as("n_a")), "w1")
      .join(uni.select(col("word").as("w2"), col("n_w").as("n_b")), "w2")
      .crossJoin(broadcast(totals))
      .select(col("bigram"), col("n_ab"), col("n_a"), col("n_b"),
        round(log(
          col("n_ab").cast("double") * col("n_tok") * col("n_tok") /
            (col("n_big") * col("n_a") * col("n_b"))), 4).as("pmi"))
      .orderBy(desc("pmi"), asc("bigram"))
      .limit(CollocTopK)
  }

  /** Merge candidates emitted by [[bpeMergeStep]]. */
  val BpeTopK = 20

  /** One BPE TRAINING STEP — the inner loop of byte-pair-encoding
    * tokenizer training: count every adjacent character pair across the
    * corpus (weighted by word frequency) and emit the top merge
    * candidates. Real BPE training repeats this step, re-segmenting
    * after each merge; one step is the representative relational kernel
    * (the re-segmentation loop is a driver-side fold over this exact
    * frame, just like the CC/PageRank iteration pattern).
    *
    * Shape: pair generation runs over the DISTINCT-WORD frame, not the
    * token stream — the classic BPE optimization (count each word once,
    * weight by frequency), which shrinks the explode input from corpus
    * token count to vocabulary size. Pairs come from a collection
    * lambda over substring windows (codegen-friendly, no UDF), and the
    * weighted count is one map-side-combined groupBy on a key space
    * bounded by |alphabet|². Top-k is a TakeOrderedAndProject. */
  def bpeMergeStep(spark: SparkSession, dir: String): DataFrame = {
    val words = Tables.fanOut(Tables.documents(spark, dir))
      .select(explode(toks(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n_w"))
      .filter(length(col("word")) >= 2)
    words
      .select(col("n_w"), explode(expr(
        "transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))"))
        .as("pair"))
      .groupBy("pair").agg(sum("n_w").as("freq"))
      .orderBy(desc("freq"), asc("pair"))
      .limit(BpeTopK)
  }

  // -------------------------------------------------------------------
  // Iterated BPE tokenizer TRAINING — the full count→argmax→merge loop
  // -------------------------------------------------------------------

  /** Merge rounds learned by [[bpeTrain]]. */
  val BpeTrainRounds = 10

  /** Words the trainer segments: lowercase ASCII-alphanumeric tokens of
    * length ≥ 2 (the corpus tokenizer already lowercases and strips
    * punctuation; the ASCII filter keeps the symbol alphabet — and the
    * `|` segment delimiter — collision-free in both engines). */
  val BpeWordPattern = "^[a-z0-9]+$"

  /** Vocabulary frame `(word, n_w, seg)`: each distinct trainable word
    * with its corpus frequency and initial character-level segmentation.
    * Segmentations are stored as delimiter strings — `"low"` is
    * `"|l||o||w|"` — with every token wrapped in its OWN `|…|` pair, so
    * one merge round is a single literal `replace` (see [[bpeMergesOf]])
    * instead of an array fold. Counting each distinct word once and
    * weighting by frequency is the classic BPE optimization: every
    * subsequent round's work is O(vocabulary), not O(corpus tokens). */
  private[graft] def bpeVocab(docs: DataFrame): DataFrame =
    docs.select(explode(toks(col("text"))).as("word"))
      .filter(col("word").rlike(BpeWordPattern) && length(col("word")) >= 2)
      .groupBy("word").agg(count(lit(1)).as("n_w"))
      .withColumn("seg", concat(lit("|"), array_join(
        expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"),
        "||"), lit("|")))

  /** Adjacent-symbol-pair frequencies of a `(n_w, seg)` segmentation
    * frame: one map-side-combined groupBy on a key space bounded by the
    * (current) symbol vocabulary squared — the per-round count step. */
  private def bpePairCounts(cur: DataFrame): DataFrame =
    cur.withColumn("t", split(expr("substring(seg, 2, length(seg) - 2)"), "\\|\\|"))
      .filter(size(col("t")) >= 2)
      .select(col("n_w"), explode(expr(
        """transform(sequence(1, size(t) - 1),
          |  i -> named_struct('lhs', element_at(t, i), 'rhs', element_at(t, i + 1)))"""
          .stripMargin)).as("p"))
      .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
      .agg(sum("n_w").as("freq"))

  /** The BPE training loop (Sennrich et al., ACL 2016): repeat `rounds`
    * times — count adjacent symbol pairs across the segmented
    * vocabulary, pick the most frequent pair (ties broken
    * lexicographically, so the learned merge table is deterministic and
    * engine-independent), and merge every adjacent occurrence.
    *
    * Merge application is ONE literal `replace(seg, "|l||r|", "|lr|")`
    * over the delimiter representation. Because every token carries its
    * own `|…|` wrapper, occurrences never share delimiter characters,
    * and single-pass leftmost non-overlapping `replace` — identical
    * semantics in Spark and DuckDB — is EXACTLY the per-word scan real
    * BPE trainers perform: a run `[a,a,a,a]` merges to `[aa,aa]`, never
    * `[aa,a,a]` or a re-scanned `[aaa,a]`. (A newly formed symbol can
    * never chain into the same rule within a round, since `lr` is
    * strictly longer than `l`.)
    *
    * Loop discipline is the CC/PageRank pattern: each round's
    * vocabulary frame is materialized as an owned RDD and its
    * predecessor retired, so lineage stays one round deep and in-flight
    * state is one |vocab|-row frame regardless of round count. The only
    * driver-side data is the argmax — ONE row per round. Returns the
    * merge table `(round, lhs, rhs, merged, freq)`; stops early if the
    * vocabulary is fully merged (tiny corpora — real ones never are). */
  private[graft] def bpeMergesOf(docs: DataFrame, rounds: Int)
      : Seq[(Long, String, String, String, Long)] = {
    Dedup.withCuts(docs.sparkSession) { cuts =>
      var cur = cuts.cut(bpeVocab(docs))
      val merges = scala.collection.mutable.ArrayBuffer
        .empty[(Long, String, String, String, Long)]
      var round = 1
      var exhausted = false
      while (round <= rounds && !exhausted) {
        val top = bpePairCounts(cur)
          .orderBy(desc("freq"), asc("lhs"), asc("rhs")).limit(1).collect()
        if (top.isEmpty) exhausted = true
        else {
          val (lhs, rhs) = (top(0).getString(0), top(0).getString(1))
          merges += ((round.toLong, lhs, rhs, lhs + rhs, top(0).getLong(2)))
          // lhs/rhs are alphanumeric by construction (BpeWordPattern
          // closure: merged symbols stay alphanumeric), so inlining them
          // into the literal-replace SQL is injection-safe
          val next = cuts.cut(cur.withColumn("seg",
            expr(s"replace(seg, '|$lhs||$rhs|', '|$lhs$rhs|')")))
          cuts.retire(cur)
          cur = next
          round += 1
        }
      }
      merges.toSeq
    }
  }

  /** Memoized merge table for the registered BPE queries: trained once
    * per (session, corpus), shared by [[bpeTrain]] and [[bpeApply]] —
    * the same train-once/serve-many contract as the ANN index frames.
    * [[graft.Bench]] forces this build in its `build:*` accounting. */
  private[graft] def bpeMergesFrame(spark: SparkSession, dir: String): DataFrame =
    Dedup.memoizedFrame(spark, "bpe_merges", dir, "documents.parquet") {
      import spark.implicits._
      bpeMergesOf(Tables.fanOut(Tables.documents(spark, dir)), BpeTrainRounds)
        .toDF("round", "lhs", "rhs", "merged", "freq")
    }

  /** Plan-audit hook: one training round's count→argmax step over the
    * initial vocabulary segmentation — the plan PLANS.md audits instead
    * of the memoized ExistingRDD the registered query returns (the
    * minhash/DSIR discipline). */
  private[graft] def bpeRoundPlan(spark: SparkSession, dir: String): DataFrame =
    bpePairCounts(bpeVocab(Tables.fanOut(Tables.documents(spark, dir))))
      .orderBy(desc("freq"), asc("lhs"), asc("rhs")).limit(1)

  /** ITERATED BPE TOKENIZER TRAINING — the [[BpeTrainRounds]]-round
    * count→argmax→merge loop over the corpus vocabulary, emitting the
    * learned merge table in order. [[bpeMergeStep]] is the single
    * relational kernel; this is the full trainer built from it, the way
    * distributed tokenizer training actually runs: per-round work is one
    * bounded-key aggregation over a vocabulary-sized frame, the argmax
    * is a 1-row TakeOrdered, and the driver accumulates only the N merge
    * rows. At 100 TB the corpus is touched exactly once (the initial
    * vocabulary count); every round after that is O(|vocab|). */
  def bpeTrain(spark: SparkSession, dir: String): DataFrame =
    bpeMergesFrame(spark, dir).orderBy("round")

  /** BPE tokenizer APPLICATION — segment the corpus with the trained
    * merge table and report per-language compression: the
    * chars-per-token number tokenizer work actually optimizes. Merges
    * apply IN LEARNED ORDER (the subword-nmt discipline) as a chain of
    * [[BpeTrainRounds]] literal replaces over the vocabulary frame —
    * one lazy plan, no per-round actions — then documents join their
    * words' token counts back by equi-join (vocabulary-sized build
    * side; Catalyst broadcasts it while it fits, shuffles when a 100 TB
    * vocabulary doesn't). Untrainable words (non-ASCII scripts) are out
    * of scope by [[BpeWordPattern]] and excluded from both engines'
    * censuses identically. */
  def bpeApply(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.fanOut(Tables.documents(spark, dir))
    val merges = bpeMergesFrame(spark, dir).collect()
      .sortBy(_.getLong(0))
    val vocabTok = merges.foldLeft(bpeVocab(docs)) { (df, m) =>
      val (lhs, rhs) = (m.getString(1), m.getString(2))
      df.withColumn("seg", expr(s"replace(seg, '|$lhs||$rhs|', '|$lhs$rhs|')"))
    }.select(col("word"),
      size(split(expr("substring(seg, 2, length(seg) - 2)"), "\\|\\|"))
        .cast("long").as("n_t"))
    docs.select(col("doc_id"), col("lang"), explode(toks(col("text"))).as("word"))
      .filter(col("word").rlike(BpeWordPattern) && length(col("word")) >= 2)
      .join(vocabTok, "word")
      .groupBy("lang").agg(
        countDistinct("doc_id").as("n_docs"),
        count(lit(1)).as("n_words"),
        sum(length(col("word"))).cast("long").as("n_chars"),
        sum(col("n_t")).as("bpe_tokens"))
      .withColumn("compression",
        round(col("n_chars").cast("double") / col("bpe_tokens"), 4))
      .orderBy("lang")
  }

  /** The quality-filter ACTION: the documents a pipeline keeps after the
    * cheap screens — bounded punctuation density, a minimum English-
    * stopword ratio, and a token-count range. Pure narrow filtering; the
    * thresholds are ordinary columns so Catalyst pushes what it can to
    * the scan. */
  def qualityFiltered(spark: SparkSession, dir: String): DataFrame =
    Tables.fanOut(Tables.documents(spark, dir))
      .withColumn("toks", toks(col("text")))
      .withColumn("n_ws", size(whitespaceTokens(col("text"))))
      .withColumn("punct_ratio",
        length(regexp_replace(col("text"), "[^\\p{Punct}]", "")) / length(col("text")))
      .withColumn("stop_ratio", stopHits(col("toks"), StopEn) / size(col("toks")))
      .filter(col("punct_ratio") < 0.1 &&
        col("stop_ratio") >= 0.05 &&
        col("n_ws").between(10, 500))
      .select("doc_id", "lang", "source")
      .orderBy("doc_id")

  /** Deterministic hash-based stratified sampling — the data-mixing
    * primitive: per-language sampling rates (10% for `en`, 30%
    * otherwise) decided by a CONTENT-hash bucket, not `rand()`, so the
    * sample is reproducible across runs, engines, partitionings, and
    * re-ingests of the same document. Pure narrow filter + bounded-key
    * group-by; at 100 TB the filter runs in the scan stage. */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val bucket = conv(substring(md5(col("text")), 1, 8), 16, 10)
      .cast("long") % 100
    Tables.documents(spark, dir)
      .withColumn("bucket", bucket)
      .filter(when(col("lang") === "en", col("bucket") < 10)
        .otherwise(col("bucket") < 30))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_sampled"))
      .orderBy("lang", "source")
  }

  /** Per-language take for [[weightedSample]]. */
  val WeightedK = 20

  /** WEIGHTED sampling without replacement (Efraimidis–Spirakis A-Res):
    * per language, the [[WeightedK]] documents with the largest key
    * ln(u)/w, where w is the document's weight (n_chars — longer docs
    * proportionally likelier, the standard size-weighted training-mix
    * draw) and u ∈ (0,1) is a CONTENT-hash uniform, not `rand()` — the
    * same md5-bucket trick as [[stratifiedSample]], so the draw is
    * reproducible across runs, engines, and partitionings. ln(u)/w
    * orders identically to the textbook u^(1/w) and stays in a
    * numerically tame range. Narrow per-row scoring in the scan stage +
    * one rank window per language; at corpus scale the window input is
    * cut first by a per-partition top-k (WindowGroupLimit pushes k below
    * the exchange), so the shuffle carries ≤ k rows per partition, not
    * the corpus. */
  def weightedSample(spark: SparkSession, dir: String): DataFrame = {
    // u in (0,1): 32-bit md5 prefix, +0.5 to dodge exact 0 (ln(0) = -inf
    // would still order correctly, but keep the key finite).
    val u = (conv(substring(md5(col("text")), 1, 8), 16, 10).cast("double") + 0.5) /
      lit(4294967296.0)
    val key = log(u) / col("n_chars")
    val byLang = Window.partitionBy("lang")
      .orderBy(desc("key"), asc("doc_id"))
    Tables.documents(spark, dir)
      // the key stays internal (exact BIGINT/strings only cross the
      // oracle hash); doc_id breaks the (measure-zero) double ties.
      .select(col("doc_id"), col("lang"), col("n_chars"), key.as("key"))
      .withColumn("rnk", row_number().over(byLang))
      .filter(col("rnk") <= WeightedK)
      .select(col("lang"), col("rnk"), col("doc_id"), col("n_chars"))
      .orderBy("lang", "rnk")
  }

  /** Plant modulus for [[unicodeNormCensus]]: every 4th doc gets a
    * DECOMPOSED suffix (" cafe" + U+0301 — é as e + combining acute). */
  val NfcPlantMod = 4

  /** UNICODE NORMALIZATION census — NFC canonicalization over the
    * corpus via the native codegen [[graft.functions.expr.NfcNormalize]]
    * expression, reported per language: docs changed by composition and
    * characters removed. Web text mixes composed and decomposed forms of
    * the same grapheme, which silently breaks md5 dedup keys, BPE
    * merges, and n-gram overlap — canonicalize-first is the rule, and
    * this census is how a pipeline measures whether a crawl needs it.
    * The synthetic corpus is pure ASCII, so a deterministic decomposed
    * plant ([[NfcPlantMod]]) provides the guaranteed-positive geometry,
    * expressed identically in both engines. Row-local work only: the
    * kernel short-circuits on already-normalized text (no allocation),
    * and the census is one bounded-key group-by. */
  def unicodeNormCensus(spark: SparkSession, dir: String): DataFrame = {
    val t2 = when(col("doc_id") % NfcPlantMod === 0,
      concat(col("text"), lit(" cafe\u0301"))).otherwise(col("text"))
    Tables.fanOut(Tables.documents(spark, dir))
      .select(col("lang"), t2.as("t2"))
      .withColumn("norm", graft.functions.TextFunctions.nfc(col("t2")))
      .groupBy("lang").agg(
        count(lit(1)).as("n_docs"),
        sum((col("norm") =!= col("t2")).cast("long")).as("changed"),
        sum(length(col("t2")) - length(col("norm"))).as("chars_removed"))
      .orderBy("lang")
  }

  /** Per-source document cap for [[domainCapSample]]. */
  val DomainCapK = 20

  /** PER-DOMAIN CAP — the FineWeb/Gopher-style guard against any single
    * source dominating the mixture: keep at most [[DomainCapK]]
    * documents per `source`, chosen in content-hash order (an unbiased,
    * reproducible draw — the [[stratifiedSample]] discipline) with a
    * doc_id tiebreak for planted duplicate texts. The rank filter
    * compiles to a partial/final `WindowGroupLimit`, so each source's
    * candidates are pruned to K map-side BEFORE the shuffle: output —
    * and shuffled volume — is O(|sources| × K), independent of corpus
    * size, which is what makes a per-domain cap runnable as a routine
    * pre-mixing pass at 100 TB. */
  def domainCapSample(spark: SparkSession, dir: String): DataFrame = {
    val bySource = Window.partitionBy("source")
      .orderBy(md5(col("text")), col("doc_id"))
    Tables.fanOut(Tables.documents(spark, dir))
      .withColumn("rk", row_number().over(bySource).cast("long"))
      .filter(col("rk") <= DomainCapK)
      .select(col("source"), col("rk"), col("doc_id"), col("lang"))
      .orderBy("source", "rk")
  }

  /** Per-language token budget for [[tokenBudgetSample]]. */
  val BudgetTokens = 8000L

  /** TOKEN-BUDGET selection — "give me ~N tokens per language": documents
    * stream in content-hash order (deterministic, unbiased by doc_id or
    * arrival) and are kept while the per-language running token sum fits
    * the budget. The hash order makes the selected set a reproducible
    * uniform sample of the language regardless of partitioning or
    * engine. One running-sum window per language; at corpus scale the
    * same selection runs as a two-pass hash-threshold (estimate the
    * cutoff hash from a token-count quantile sketch, then a narrow
    * filter) — the window form is the exact spec that path must match.
    * Reports the census, not the docs: per lang, docs kept and tokens
    * actually used. */
  def tokenBudgetSample(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        size(whitespaceTokens(col("text"))).cast("long").as("n_tokens"),
        md5(col("text")).as("h"))
    val w = Window.partitionBy("lang").orderBy(asc("h"), asc("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d.withColumn("cum", sum("n_tokens").over(w))
      .filter(col("cum") <= BudgetTokens)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("tokens_used"))
      .orderBy("lang")
  }

  /** Context-window capacity and shard fan-out for [[packSequences]]. */
  val PackCapacity = 4096L
  val PackShards = 8

  /** Greedy sequence packing, SHARDED: documents stream per
    * (lang, shard = doc_id % [[PackShards]]) in doc_id order, and a new
    * pack starts every [[PackCapacity]] tokens — bin =
    * floor(tokens-before-this-doc / capacity), a running-sum window, so
    * assignment is deterministic and engine-independent (no bin-packing
    * heuristic with tie ambiguity). The shard dimension is what makes
    * the plan scale: a LANGUAGE is not a bounded set at corpus scale, so
    * a per-lang-only running sum would funnel a whole language through
    * one window partition — sharding caps every window partition at
    * 1/shards of a language, and the shard count is the parallelism
    * dial (packs never need global order, only order within a pack).
    * Emits per-pack document and token counts — the shape a training
    * loader consumes. */
  def packSequences(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.fanOut(Tables.documents(spark, dir))
      .select(col("doc_id"), col("lang"),
        (col("doc_id") % PackShards).as("shard"),
        size(whitespaceTokens(col("text"))).cast("long").as("n_tokens"))
    val w = Window.partitionBy("lang", "shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d.withColumn("cum", sum("n_tokens").over(w))
      .withColumn("bin",
        floor((col("cum") - col("n_tokens")) / lit(PackCapacity.toDouble)).cast("long"))
      .groupBy("lang", "shard", "bin")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("tokens"))
      .orderBy("lang", "shard", "bin")
  }

  /** Context-length candidates for [[packSweep]], tokens: the dial a
    * training stack actually argues about, from short-context to the
    * registered [[PackCapacity]] and beyond. */
  val PackSweepCaps: Seq[Long] = Seq(512L, 1024L, 2048L, 4096L, 8192L)

  /** The CONTEXT-LENGTH CALIBRATION sweep over [[packSequences]]'
    * concatenate-and-chunk packing — the lsh/cap/epoch-sweep discipline
    * on the sequence-length dial: per candidate capacity, the pack
    * count and the DOCUMENT FRAGMENTATION rate (docs whose token span
    * straddles a pack boundary and therefore train split across
    * sequences with truncated attention — the real cost of short
    * contexts under GPT-style packing, since concat-and-chunk pads
    * almost nothing). A doc spanning tokens [cum−n, cum−1] of its
    * (lang, shard) stream straddles iff its start and end land in
    * different capacity-sized bins — pure integer division, identical
    * in both engines. Every arm filters from the ONE windowed
    * running-sum frame (the same sharded window as the registered
    * packer — the cum is capacity-independent), so the sweep costs one
    * tokenize pass + |capacities| row-local projections. Measured
    * here: straddle rate ~halves per capacity doubling (≈ mean-doc-
    * tokens / capacity), which is the curve that justifies long-context
    * packing budgets. */
  def packSweep(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.fanOut(Tables.documents(spark, dir))
      .select(col("doc_id"), col("lang"),
        (col("doc_id") % PackShards).as("shard"),
        size(whitespaceTokens(col("text"))).cast("long").as("n_tokens"))
    val w = Window.partitionBy("lang", "shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d.withColumn("cum", sum("n_tokens").over(w))
      .filter(col("n_tokens") > 0)
      .select(col("lang"), col("shard"), col("n_tokens"), col("cum"),
        explode(array(PackSweepCaps.map(lit): _*)).as("capacity"))
      .withColumn("bin", expr("(cum - n_tokens) div capacity"))
      .withColumn("straddle",
        expr("((cum - 1) div capacity) <> ((cum - n_tokens) div capacity)"))
      .groupBy("capacity")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("tokens"),
        countDistinct(col("lang"), col("shard"), col("bin")).as("n_packs"),
        sum(when(col("straddle"), 1L).otherwise(0L)).as("straddled_docs"))
      .withColumn("straddle_ppm",
        expr("(straddled_docs * 1000000) div n_docs"))
      .orderBy("capacity")
  }

  /** Email / phone patterns for [[piiRedactionStats]] — deliberately in
    * the Java∩RE2 common subset (no lookarounds, no shorthand classes)
    * so Spark and the DuckDB oracle match identically. */
  val EmailRe = "[a-z0-9.]+@[a-z0-9.]+"
  val PhoneRe = "[0-9]{3}-[0-9]{3}-[0-9]{4}"

  /** Planted PII fixture rows: the synthetic corpus contains no emails
    * or phone numbers, so without planting the redaction query would
    * only ever prove the zero case (the r1 empty-dedup trap). Single
    * source of truth — the oracle VALUES clause is generated from this
    * list. */
  val PiiPlanted: Seq[(Long, String, String)] = Seq(
    (9000001L, "planted", "contact me at alice@example.com or bob.smith@corp.io today"),
    (9000002L, "planted", "call 555-123-4567 and email carol@test.org"),
    (9000003L, "planted", "numbers 12-34-56 but nothing sensitive here"))

  /** The PII-redaction ACTION, summarized: per source, how many
    * emails/phones were struck and the total redacted length (computed
    * by actually applying the `regexp_replace` chain — the same
    * expression a pipeline would write back). Narrow per-row regex
    * work in the scan stage; the group-by key space is |sources|. */
  def piiRedactionStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val planted = PiiPlanted.toDF("doc_id", "source", "text")
    val redacted = regexp_replace(
      regexp_replace(col("text"), EmailRe, "<EMAIL>"), PhoneRe, "<PHONE>")
    Tables.documents(spark, dir).select("doc_id", "source", "text")
      .unionByName(planted)
      .select(col("source"),
        size(regexp_extract_all(col("text"), lit(EmailRe), lit(0))).cast("long").as("n_emails"),
        size(regexp_extract_all(col("text"), lit(PhoneRe), lit(0))).cast("long").as("n_phones"),
        length(redacted).cast("long").as("len_redacted"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_emails").as("emails_redacted"),
        sum("n_phones").as("phones_redacted"),
        sum("len_redacted").as("total_len_redacted"))
      .orderBy("source")
  }

  /** Tf-idf top-3 terms for the first 10 documents: tf from the per-doc
    * word count, df from the distinct (doc, word) pairs, idf = ln(N/df).
    * The corpus-size scalar joins in as a broadcast single-row frame —
    * no driver-side collect. */
  def tfidfTop(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.fanOut(Tables.documents(spark, dir))
    val tf = docs.select(col("doc_id"), explode(toks(col("text"))).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val scored = tf.join(df, "word").crossJoin(broadcast(n))
      .filter(col("doc_id") < 10)
      .select(col("doc_id"), col("word"),
        round(col("tf") * log(col("n").cast("double") / col("df")), 4).as("score"))
    val w = Window.partitionBy("doc_id").orderBy(desc("score"), asc("word"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select("doc_id", "rank", "word", "score")
      .orderBy("doc_id", "rank")
  }

  /** N-gram width for [[decontaminate]] and the eval-slice modulus.
    * Real pipelines screen on 8-13-gram overlap; 5 fits this corpus's
    * ~25-50-token documents while keeping accidental collisions nil. */
  val DecontamN = 5
  val EvalMod = 31

  /** Benchmark DECONTAMINATION — the screen every serious training
    * pipeline runs before the quality filters: drop training documents
    * sharing any [[DecontamN]]-gram with the evaluation set, so the
    * model is never trained on (near-copies of) its own benchmarks.
    * Returns each contaminated training doc with the number of distinct
    * eval documents it overlaps.
    *
    * The corpus is planted (docs plus an id-shifted copy, as in
    * [[Dedup.exactGroupsPlanted]]) and the eval slice is
    * `doc_id % EvalMod == 0` of the originals, so every eval doc has an
    * exact copy in training and the oracle exercises real contamination
    * rather than the empty set.
    *
    * Scale posture: the eval side is a benchmark suite — thousands of
    * documents, not billions — so its distinct-gram set is broadcast-
    * sized and the join costs one narrow pass over the training grams;
    * the aggregation key space is only the CONTAMINATED docs. The
    * output feeds a broadcast anti-join to produce the cleaned corpus
    * (same shape as [[Dedup.dedupedCorpus]]'s drop set). */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.fanOut(Tables.documents(spark, dir))
    val corpus = d.unionByName(d.withColumn("doc_id", col("doc_id") + 1000000L))
    val isEval = col("doc_id") % EvalMod === 0 && col("doc_id") < 1000000L
    def grams(df: DataFrame, idAs: String) = df
      .select(col("doc_id").as(idAs), toks(col("text")).as("toks"))
      .select(col(idAs), explode(array_distinct(wordNgrams(col("toks"), DecontamN))).as("g"))
    grams(corpus.filter(!isEval), "doc_id")
      .join(broadcast(grams(corpus.filter(isEval), "eval_doc")), "g")
      .select("doc_id", "eval_doc").distinct()
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_eval_docs"))
      .orderBy("doc_id")
  }

  /** Threshold on the top-bigram fraction above which a document is
    * flagged repetitive (the Gopher/MassiveText-style rule; compared on
    * the ROUNDED value so both engines decide boundary cases
    * identically). */
  val TopBigramMax = 0.18

  /** Per-document REPETITION signals — the other half of the quality
    * screen: `dup_token_frac` (fraction of token occurrences that repeat
    * an earlier token) and `top_bigram_frac` (share of the most frequent
    * bigram among all bigram occurrences), with the repetitive flag.
    * Boilerplate, keyboard-mash and template spam score high on both;
    * the rule-based screen drops them before any model-based scoring.
    * Two bounded aggregations per doc — the (doc, bigram) key space is
    * each document's own bigrams, never a global vocabulary. */
  def repetitionStats(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.fanOut(Tables.documents(spark, dir))
      .select(col("doc_id"), toks(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_toks"),
        size(array_distinct(col("toks"))).cast("long").as("n_dist"), col("toks"))
    val bigramCounts = d.select(col("doc_id"), explode(wordNgrams(col("toks"), 2)).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
    val r = bigramCounts.groupBy("doc_id")
      .agg(max("c").as("top_c"), sum("c").as("nb"))
    d.join(r, "doc_id")
      .select(col("doc_id"), col("n_toks"),
        round((col("n_toks") - col("n_dist")) / col("n_toks"), 4).as("dup_token_frac"),
        round(col("top_c") / col("nb"), 4).as("top_bigram_frac"),
        (round(col("top_c") / col("nb"), 4) > TopBigramMax).as("flag_repetitive"))
      .orderBy("doc_id")
  }

  /** Per-document token-distribution Shannon entropy — the information-
    * density quality signal that separates natural prose (high entropy)
    * from template spam and keyboard mash (low), complementary to
    * [[repetitionStats]]'s count-based fractions. Computed from the
    * per-doc term counts via the sufficient-statistics identity
    * H = log2(n) − (Σ c·log2 c)/n, so the whole thing is two bounded
    * aggregations — (doc, term) then doc — with no per-doc collection
    * and map-side partials at every step. Rounded to 4 decimals so both
    * engines decide identically despite sum-order float drift. Docs with
    * zero tokens have no distribution and are dropped (oracle mirrors). */
  def tokenEntropy(spark: SparkSession, dir: String): DataFrame =
    tokenEntropyOf(Tables.fanOut(Tables.documents(spark, dir)))

  /** [[tokenEntropy]] over any (doc_id, text, …) frame. */
  def tokenEntropyOf(docs: DataFrame): DataFrame = {
    val t = docs.select(col("doc_id"), explode(toks(col("text"))).as("w"))
    t.groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_toks"), sum(col("c") * log2(col("c"))).as("clog"))
      .select(col("doc_id"), col("n_toks"),
        round(log2(col("n_toks")) - col("clog") / col("n_toks"), 4).as("entropy"))
      .orderBy("doc_id")
  }

  /** Corpus COMPOSITION report — the governance table every training-
    * data pipeline publishes with a release: per (source, lang) document
    * and token counts, mean document length, and each cell's share of
    * the corpus. The mixing weights that downsample overrepresented
    * sources are read straight off `doc_share`/`token_share`. One
    * narrow pass then a groupBy on the |sources|×|langs| key space; the
    * corpus totals are a 1-row aggregate broadcast back over the cells
    * (no single-partition window at 100 TB). */
  def corpusComposition(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.fanOut(Tables.documents(spark, dir))
      .select(col("source"), col("lang"), col("n_chars"),
        size(toks(col("text"))).cast("long").as("n_toks"))
    val cells = d.groupBy("source", "lang").agg(
      count(lit(1)).as("n_docs"),
      sum("n_toks").as("total_tokens"),
      round(avg("n_chars"), 2).as("avg_chars"))
    val totals = d.agg(count(lit(1)).as("tot_docs"), sum("n_toks").as("tot_toks"))
    cells.crossJoin(broadcast(totals))
      .select(col("source"), col("lang"), col("n_docs"), col("total_tokens"),
        col("avg_chars"),
        round(col("n_docs") / col("tot_docs"), 4).as("doc_share"),
        round(col("total_tokens") / col("tot_toks"), 4).as("token_share"))
      .orderBy("source", "lang")
  }

  /** Chunk geometry for [[chunkSequences]]: window of 16 tokens advancing
    * by 12 — a 4-token overlap, the miniature of the 2048/1792-style
    * sliding windows training prep uses so no span is ever split across
    * a context boundary without also appearing whole in one chunk. */
  val ChunkSize = 16
  val ChunkStride = 12

  /** Context-window CHUNKING — split every document into fixed-size
    * overlapping token windows, the step that turns cleaned documents
    * into model-ready sequences (the counterpart of [[packSequences]],
    * which bins short docs; this splits long ones). Chunk starts are
    * 0, stride, 2·stride, …: every token is covered, consecutive chunks
    * overlap by size − stride, the last chunk may be short (kept — at
    * real scale a min-length filter composes after). All per-doc work is
    * collection expressions over the token array (`transform` +
    * `slice`), so the scan stage stays narrow and nothing shuffles but
    * the final oracle ordering; chunk identity crosses engines as the
    * md5 of the joined tokens. */
  def chunkSequences(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.fanOut(Tables.documents(spark, dir))
      .select(col("doc_id"), toks(col("text")).as("toks"))
      .filter(size(col("toks")) >= 1)
    val nChunks = floor((size(col("toks")) - 1) / lit(ChunkStride)).cast("int")
    d.select(col("doc_id"),
        posexplode(transform(sequence(lit(0), nChunks),
          i => slice(col("toks"), i * ChunkStride + 1, lit(ChunkSize)))))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_idx"),
        size(col("col")).cast("long").as("chunk_tokens"),
        md5(concat_ws(" ", col("col"))).as("chunk_md5"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** N-gram width for [[dupSpanCoverage]]. Must be wide enough that a
    * shared span implies real shared provenance, not vocabulary chance:
    * at the library's 3-token shingle width this corpus's small
    * vocabulary marks ~92% of positions "duplicated" (pure collision
    * noise), while at 8 tokens — the low end of the 8-13 range
    * production screens use — only the planted near-dup passages fire
    * (47/500 docs, 9% mean coverage at sf0.01). */
  val SpanN = 8

  /** Cross-document DUPLICATE-SPAN coverage — the substring-level dedup
    * signal (Lee et al., "Deduplicating Training Data Makes Language
    * Models Better"): for each document, the fraction of token positions
    * covered by some [[SpanN]]-gram that also appears in ANOTHER
    * document. Document-level dedup misses boilerplate spans embedded in
    * otherwise-unique pages; this measures exactly that, and a pipeline
    * drops or trims docs above a coverage threshold.
    *
    * Plan shape: gram occurrences keep their start position
    * (`posexplode`), the shared-gram set is a groupBy-HAVING on the gram
    * key, and membership is a co-partitioned equi-join (each occurrence
    * row matches at most once — no posting self-join, so no quadratic
    * blowup on hot grams). Coverage is the distinct union of the covered
    * positions, counted per doc — interval union done relationally. */
  def dupSpanCoverage(spark: SparkSession, dir: String): DataFrame =
    dupSpanCoverageOf(Tables.fanOut(Tables.documents(spark, dir)))

  /** [[dupSpanCoverage]] over any (doc_id, text, …) frame at any span
    * width. */
  /** Positioned [[SpanN]]-gram occurrences (doc_id, pos, g) under
    * [[dupSpanCoverageOf]] — exposed for scale diagnostics. */
  private[graft] def spanGramsOf(docs: DataFrame, n: Int = SpanN): DataFrame =
    docs.select(col("doc_id"), toks(col("text")).as("toks"))
      .filter(size(col("toks")) >= 1)
      .select(col("doc_id"), posexplode(wordNgrams(col("toks"), n)))
      .select(col("doc_id"), col("pos"), col("col").as("g"))

  /** The cross-document shared-gram set under [[dupSpanCoverageOf]]. */
  private[graft] def sharedSpanGramsOf(grams: DataFrame): DataFrame =
    grams.groupBy("g")
      .agg(countDistinct("doc_id").as("df_docs"))
      .filter(col("df_docs") >= 2)
      .select("g")

  def dupSpanCoverageOf(docs: DataFrame, n: Int = SpanN): DataFrame = {
    val d = docs.select(col("doc_id"), toks(col("text")).as("toks"))
      .filter(size(col("toks")) >= 1)
    val grams = spanGramsOf(docs, n)
    val shared = sharedSpanGramsOf(grams)
    val covered = grams.join(shared, "g")
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (n - 1))).as("t"))
      .distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("dup_positions"))
    d.select(col("doc_id"), size(col("toks")).cast("long").as("n_toks"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_toks"),
        coalesce(col("dup_positions"), lit(0L)).as("dup_positions"),
        round(coalesce(col("dup_positions"), lit(0L)) / col("n_toks"), 4)
          .as("dup_span_frac"))
      .orderBy("doc_id")
  }

  /** Document-frequency threshold for [[boilerplateStrip]]: a span
    * repeated across ≥ this many documents is boilerplate, not content.
    * Calibrated against the measured organic ceiling (max cross-doc
    * 8-gram df is 3 at sf0.01; the planted footers hit df=25) — at
    * production scale this is a per-corpus percentile, the same dial. */
  val BoilerMinDf = 10

  /** Planted per-source boilerplate footers — the synthetic corpus has
    * no boilerplate (the zero-case trap [[PiiPlanted]] documents), so
    * EVEN-numbered sources get a canonical footer appended in the crawl
    * view and odd sources stay clean: the report must prove both the
    * hit and the clean case. Single source of truth — the oracle's
    * VALUES clause is generated from this list. Each footer embeds its
    * source name, so no 8-gram is shared ACROSS sources. */
  val BoilerFooters: Seq[(String, String)] =
    (0 until 20 by 2).map(i => s"src$i" ->
      s"all rights reserved src$i archive subscribe to the src$i newsletter terms apply")

  /** CCNet/C4-style BOILERPLATE REMOVAL — the crawl-cleaning action
    * that runs before any quality or dedup stage: spans repeated
    * near-verbatim across many pages of a site (footers, nav, cookie
    * banners) carry no training signal and poison n-gram statistics.
    * CCNet drops duplicated paragraphs by hash; this corpus is
    * structureless (no newlines), so the unit falls back to the
    * [[SpanN]]-gram span machinery of [[dupSpanCoverageOf]] — same
    * grams, but thresholded at [[BoilerMinDf]] documents (removal)
    * instead of 2 (measurement), and aggregated per SOURCE, the
    * governance grain a crawl pipeline acts on.
    *
    * Plan shape: the gram-df groupBy is the one corpus-wide shuffle
    * (key space = distinct grams); the surviving boilerplate set is
    * bounded by total-occurrences/[[BoilerMinDf]] — high-df-few-keys by
    * definition — so AQE broadcasts the membership join; coverage is
    * the distinct union of covered positions (≤ corpus tokens), and
    * everything after is |sources|-sized. No stage is quadratic in
    * documents or grams. */
  def boilerplateStrip(spark: SparkSession, dir: String): DataFrame =
    boilerplateStripOf(
      crawlViewOf(Tables.fanOut(Tables.documents(spark, dir))))

  /** The planted crawl view: [[BoilerFooters]] appended per source —
    * shared by the registered query and the Scale growth harness. */
  private[graft] def crawlViewOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val footers = broadcast(BoilerFooters.toDF("source", "footer"))
    docs.join(footers, Seq("source"), "left")
      .select(col("doc_id"), col("source"),
        when(col("footer").isNull, col("text"))
          .otherwise(concat_ws(" ", col("text"), col("footer"))).as("text"))
  }

  /** [[boilerplateStrip]] over any (doc_id, source, text) frame.
    *
    * The tokenized frame and the exploded gram frame are each consumed
    * by MULTIPLE downstream branches (grams: df-agg + membership join;
    * d: gram build + per-source token totals) — lazily shared, Spark
    * re-derives the subtree once per consumer, and the executed r5 plan
    * showed THREE tokenize+8-gram-explode passes over the corpus plus a
    * fourth plain-tokenize scan, making this the bench's most expensive
    * query. Same hazard [[graft.operators.Graph.pagerankRanks]]
    * documents, same fix: materialize both frames through Dedup's
    * owned-RDD machinery (localCheckpoint, or reliable checkpoint when
    * `spark.graft.checkpointDir` is set), compute the |sources|-sized
    * report eagerly, and retire the corpus-sized pins before returning
    * so repeated calls can't accumulate block storage. */
  def boilerplateStripOf(docs: DataFrame, n: Int = SpanN,
                         minDf: Int = BoilerMinDf): DataFrame = {
    Dedup.withCuts(docs.sparkSession) { cuts =>
      val d = cuts.cut(
        docs.select(col("doc_id"), col("source"), toks(col("text")).as("toks"))
          .filter(size(col("toks")) >= 1))
      // source rides the projection (not a join-back onto a second scan);
      // grams persist as md5 DIGESTS, not 8-word strings — every
      // consumer (df agg, membership join, per-source distinct) needs
      // only gram IDENTITY (the oracle hashes the same strings, so
      // collisions — ~1e-13 per pair — are mirrored exactly). Since r14
      // the digest is the fused BINARY kernel ([[wordNgramMd5]]): same
      // MD5 over the same bytes (binary ≡ unhex(hex) — a bijection, so
      // every groupBy/join/countDistinct is unchanged), but the gram
      // build allocates per-gram only the 16-byte digest instead of an
      // interpreted-lambda slice + joined string + hex string — the
      // r13-graded GC-band variance of this query was allocation rate
      // (guide §5), and the key width halves again on top
      val grams = cuts.cut(
        d.select(col("doc_id"), col("source"),
            posexplode(wordNgramMd5(col("toks"), n)))
          .select(col("doc_id"), col("source"), col("pos"), col("col").as("g")))
      val boiler = grams.groupBy("g")
        .agg(countDistinct("doc_id").as("df_docs"))
        .filter(col("df_docs") >= minDf)
        .select("g")
      val hits = grams.join(boiler, "g")
      val removed = hits
        .select(col("doc_id"),
          explode(sequence(col("pos"), col("pos") + (n - 1))).as("t"))
        .distinct()
        .groupBy("doc_id").agg(count(lit(1)).as("removed"))
      val perSource = d
        .select(col("doc_id"), col("source"), size(col("toks")).cast("long").as("n_toks"))
        .join(removed, Seq("doc_id"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_toks").as("tokens_total"),
          sum(coalesce(col("removed"), lit(0L))).as("tokens_removed"))
      val gramsPerSource = hits.groupBy("source")
        .agg(countDistinct("g").as("boiler_grams"))
      val out = cuts.cut(
        perSource.join(gramsPerSource, Seq("source"), "left")
          .select(col("source"), col("n_docs"), col("tokens_total"),
            coalesce(col("boiler_grams"), lit(0L)).as("boiler_grams"),
            col("tokens_removed"),
            round(col("tokens_removed") / col("tokens_total"), 4).as("removed_frac"))
          .orderBy("source"))
      // key carries the dials: two registered queries share this body
      // at different thresholds, and a shared key would let one retire
      // the other's still-in-use result under Verify's thread pool
      cuts.keep(s"boilerplateStrip#$n#$minDf", out)
    }
  }

  /** The boilerplate-removal ACTION to [[boilerplateStrip]]'s report:
    * per document, the text REBUILT from the positions no boilerplate
    * span covers — what actually flows to the next pipeline stage. The
    * oracle hash-matches the md5 of every cleaned text, so the engines
    * must agree on the exact surviving token sequence, not just counts.
    * Rebuild is one corpus-token-sized groupBy: kept (pos, token) rows
    * fold back via an ordered `array_sort(collect_list(struct))` — the
    * same deterministic-rebuild discipline as the PCA folds. */
  def boilerplateApply(spark: SparkSession, dir: String): DataFrame =
    boilerplateApplyOf(crawlViewOf(Tables.fanOut(Tables.documents(spark, dir))))

  def boilerplateApplyOf(docs: DataFrame, n: Int = SpanN,
                         minDf: Int = BoilerMinDf): DataFrame = {
    // same dual-consumption hazard and fix as [[boilerplateStripOf]]:
    // `grams` feeds the df-agg AND the membership join, `d` feeds the
    // gram build AND the kept-token rebuild — materialize both, retire
    // the corpus-sized pins once the per-doc digest is computed
    Dedup.withCuts(docs.sparkSession) { cuts =>
      val d = cuts.cut(
        docs.select(col("doc_id"), toks(col("text")).as("toks"))
          .filter(size(col("toks")) >= 1))
      // fused binary md5 gram digests, as in [[boilerplateStripOf]]
      val grams = cuts.cut(
        d.select(col("doc_id"), posexplode(wordNgramMd5(col("toks"), n)))
          .select(col("doc_id"), col("pos"), col("col").as("g")))
      val boiler = grams.groupBy("g")
        .agg(countDistinct("doc_id").as("df_docs"))
        .filter(col("df_docs") >= minDf)
        .select("g")
      val covered = grams.join(boiler, "g")
        .select(col("doc_id"),
          explode(sequence(col("pos"), col("pos") + (n - 1))).as("pos"))
        .distinct()
      val kept = d.select(col("doc_id"), posexplode(col("toks")))
        .select(col("doc_id"), col("pos"), col("col").as("tok"))
        .join(covered, Seq("doc_id", "pos"), "left_anti")
      val out = cuts.cut(
        kept.groupBy("doc_id")
          .agg(count(lit(1)).as("n_kept"),
            md5(concat_ws(" ",
              transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
                x => x.getField("tok")))).as("cleaned_md5"))
          .orderBy("doc_id"))
      // dialed key — see boilerplateStripOf (q_text_boilerplate_apply
      // and q_dedup_span_apply share this body at different minDf)
      cuts.keep(s"boilerplateApply#$n#$minDf", out)
    }
  }

  /** The Lee-et-al EXACT-SUBSTRING DEDUP ACTION (arXiv:2107.06499 §4.1):
    * rebuild every document with its cross-document duplicate spans
    * removed — any [[SpanN]]-gram occurring in ≥2 documents goes, the
    * df=2 position of the SAME strip machinery [[boilerplateApplyOf]]
    * runs at [[BoilerMinDf]] (measurement: [[dupSpanCoverageOf]];
    * template removal: df≥10; dedup action: df≥2 — this completes the
    * measure/act × duplicate/boilerplate grid). Unlike document-level
    * dedup, this keeps the UNIQUE remainder of partially-copied pages —
    * the paper's argument for substring-level removal. Same oracle
    * discipline: md5 over every rebuilt text. */
  def dupSpanApply(spark: SparkSession, dir: String): DataFrame =
    boilerplateApplyOf(Tables.fanOut(Tables.documents(spark, dir)), SpanN, 2)

  /** Lee et al.'s VARIABLE-LENGTH threshold (arXiv:2107.06499 §4.1
    * uses 50 BPE tokens): only maximal duplicated runs of at least
    * this many tokens are stripped by [[dupSpanApplyMaximal]]. */
  val SpanDedupMinLen = 50

  /** VARIABLE-LENGTH exact-substring dedup at the Lee-et-al 50-token
    * threshold — the fixed-gram [[dupSpanApply]] upgraded to the
    * paper's semantics: adjacent duplicated [[SpanN]]-gram starts merge
    * into MAXIMAL runs (a duplicated substring of L tokens yields
    * starts at every position of its L−n+1 window, so a maximal run of
    * m consecutive starts covers m+n−1 tokens), and only runs of
    * ≥ [[SpanDedupMinLen]] tokens are stripped — a 49-token repeat
    * survives, a 50-token repeat goes (suite-pinned). Chained coverage
    * across DIFFERENT partner documents merges into one run (the
    * standard gram-chaining approximation of the paper's suffix-array
    * maximal matches — strictly more conservative than per-partner
    * matching would be for the threshold test, never less).
    *
    * Plan shape: the run merge is the gaps-and-islands window
    * (pos − row_number over (doc_id, pos)) — doc-local partitions, so
    * the window never sees more rows than the longest document;
    * everything else is the [[boilerplateApplyOf]] machinery (one
    * gram-df shuffle, broadcast-bounded shared set, md5-pinned
    * rebuilds). Docs stripped to zero tokens vanish from the output in
    * BOTH engines (full-document duplicates at ≥ minLen — the
    * document-level dedup family's jurisdiction). */
  def dupSpanApplyMaximal(spark: SparkSession, dir: String): DataFrame =
    dupSpanApplyMaximalOf(Tables.fanOut(Tables.documents(spark, dir)))

  def dupSpanApplyMaximalOf(docs: DataFrame, n: Int = SpanN,
      minLen: Int = SpanDedupMinLen): DataFrame = {
    Dedup.withCuts(docs.sparkSession) { cuts =>
      cuts.keep(s"dupSpanMaximal#$n#$minLen",
        cuts.cut(spanMaximalBuild(docs, n, minLen, cuts.cut)))
    }
  }

  /** Plan-audit hook: the live maximal-run dataflow over the
    * materialized tokenized/gram frames (the registered query returns
    * a retained `ExistingRDD`). */
  private[graft] def dupSpanMaximalPlanOf(spark: SparkSession, dir: String): DataFrame =
    spanMaximalBuild(Tables.fanOut(Tables.documents(spark, dir)),
      SpanN, SpanDedupMinLen, Dedup.unownedCut)

  private def spanMaximalBuild(docs: DataFrame, n: Int, minLen: Int,
      cut: DataFrame => DataFrame): DataFrame = {
    val d = cut(
      docs.select(col("doc_id"), toks(col("text")).as("toks"))
        .filter(size(col("toks")) >= 1))
    val grams = cut(
      d.select(col("doc_id"), posexplode(wordNgramMd5(col("toks"), n)))
        .select(col("doc_id"), col("pos"), col("col").as("g")))
    val shared = grams.groupBy("g")
      .agg(countDistinct("doc_id").as("df_docs"))
      .filter(col("df_docs") >= 2)
      .select("g")
    // gaps-and-islands: consecutive duplicated gram starts share
    // (pos − row_number), each island is one maximal duplicated run
    val wi = Window.partitionBy("doc_id").orderBy("pos")
    val runs = grams.join(shared, "g")
      .select("doc_id", "pos")
      .withColumn("island", col("pos") - row_number().over(wi))
      .groupBy("doc_id", "island")
      .agg(min("pos").as("run_start"),
        (max("pos") + lit(n - 1)).as("run_end"))
      .filter(col("run_end") - col("run_start") + 1 >= minLen)
    val covered = runs.select(col("doc_id"),
      explode(sequence(col("run_start"), col("run_end"))).as("pos"))
    val nRuns = runs.groupBy("doc_id")
      .agg(count(lit(1)).as("runs_stripped"))
    val kept = d.select(col("doc_id"), posexplode(col("toks")))
      .select(col("doc_id"), col("pos"), col("col").as("tok"))
      .join(covered, Seq("doc_id", "pos"), "left_anti")
    kept.groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        md5(concat_ws(" ",
          transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
            x => x.getField("tok")))).as("cleaned_md5"))
      .join(nRuns, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("runs_stripped"), lit(0L)).as("runs_stripped"),
        col("n_kept"), col("cleaned_md5"))
      .orderBy("doc_id")
  }

  /** The persisted GRAM-DF INDEX of a corpus — the static side of
    * INCREMENTAL span dedup: (g, df_docs) for every [[SpanN]]-gram md5
    * digest, the frame a production pipeline snapshots once per corpus
    * refresh and every arriving batch screens against (the span-level
    * twin of [[graft.operators.Dedup.bandIndexOf]]). Key space =
    * distinct grams; one corpus pass, one groupBy shuffle — paid at
    * snapshot time, NEVER per batch. */
  def spanGramIndexOf(docs: DataFrame, n: Int = SpanN): DataFrame =
    docs.select(col("doc_id"), toks(col("text")).as("toks"))
      .filter(size(col("toks")) >= 1)
      .select(col("doc_id"), explode(wordNgramMd5(col("toks"), n)).as("g"))
      .groupBy("g").agg(countDistinct("doc_id").as("df_docs"))

  /** Persist / reload a [[spanGramIndexOf]] snapshot as a table
    * BUCKETED by the probe key `g` — the same snapshot discipline as
    * [[graft.operators.Dedup.writeBandIndex]]: a bucketed index side
    * joins every later screen without an exchange, so screening cost
    * is O(batch) no matter the corpus size. */
  def writeSpanGramIndex(docs: DataFrame, table: String,
      buckets: Int = graft.operators.Dedup.BandIndexBuckets): Unit =
    spanGramIndexOf(docs).write
      .mode("overwrite")
      .bucketBy(buckets, "g")
      .sortBy("g")
      .format("parquet")
      .saveAsTable(table)

  /** Fails loudly on a snapshot whose `g` is not the 16-byte binary
    * digest: a pre-r14 snapshot keyed `g` by a hex string, which joins
    * against the binary probe without error and screens nothing. */
  def readSpanGramIndex(spark: SparkSession, table: String): DataFrame = {
    val idx = spark.table(table)
    val g = idx.schema.find(_.name == "g").map(_.dataType)
    require(g.contains(org.apache.spark.sql.types.BinaryType),
      s"span-gram index table $table: g is ${g.fold("missing")(_.simpleString)}, " +
        "expected binary; rewrite it with writeSpanGramIndex")
    idx
  }

  /** INCREMENTAL span-dedup SCREEN — [[dupSpanApply]]'s arriving-batch
    * form: rebuild each NEW document with every span already present
    * in the INDEXED corpus removed, without recomputing corpus df. A
    * span in an arriving doc is a cross-document duplicate when the
    * index holds its gram with df_docs ≥ minDf − 1 existing documents
    * — the arriving doc itself is the +1 that meets the batch
    * criterion (minDf=2 ⇒ membership; minDf=[[BoilerMinDf]] ⇒ the
    * incremental boilerplate screen, same dial as the batch grid).
    * New-vs-new duplicates inside one batch resolve at the next index
    * refresh — the standard incremental-dedup trade, as for
    * [[graft.operators.Dedup.probeBandIndex]].
    *
    * Scale shape: every frame here is BATCH-sized (tokenize, gram
    * explode, position union, rebuild); the corpus appears only as the
    * index equi-join on `g`, and a [[writeSpanGramIndex]] snapshot
    * joins bucket-local with no index-side exchange. O(batch), never
    * O(corpus) — the batch `dupSpanApply` pays the corpus-wide gram-df
    * shuffle on every run; this pays it once per snapshot. */
  def spanScreenOf(newDocs: DataFrame, index: DataFrame, n: Int = SpanN,
      minDf: Int = 2): DataFrame = {
    val d = newDocs.select(col("doc_id"), toks(col("text")).as("toks"))
      .filter(size(col("toks")) >= 1)
    val grams = d.select(col("doc_id"), posexplode(wordNgramMd5(col("toks"), n)))
      .select(col("doc_id"), col("pos"), col("col").as("g"))
    val dup = index.filter(col("df_docs") >= minDf - 1).select("g")
    val covered = grams.join(dup, "g")
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (n - 1))).as("pos"))
      .distinct()
    val kept = d.select(col("doc_id"), posexplode(col("toks")))
      .select(col("doc_id"), col("pos"), col("col").as("tok"))
      .join(covered, Seq("doc_id", "pos"), "left_anti")
    kept.groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        md5(concat_ws(" ",
          transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
            x => x.getField("tok")))).as("cleaned_md5"))
      .orderBy("doc_id")
  }

  /** The registered incremental form: even doc_ids are the indexed
    * corpus, odd doc_ids the arriving batch (the same SF-independent
    * split as `q_dedup_incremental`, so the oracle mirrors it
    * exactly). In production the even side is a [[writeSpanGramIndex]]
    * snapshot read back bucketed; building it in-flight here keeps the
    * query self-contained — the screen itself is identical. */
  def dupSpanApplyIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.fanOut(Tables.documents(spark, dir))
    spanScreenOf(docs.filter(col("doc_id") % 2 === 1),
      spanGramIndexOf(docs.filter(col("doc_id") % 2 === 0)))
  }

  /** The incremental BOILERPLATE screen — [[spanScreenOf]] at the
    * [[BoilerMinDf]] dial over the planted crawl view: arriving pages
    * are rebuilt with every template span the indexed crawl already
    * holds in ≥ [[BoilerMinDf]]−1 pages removed (the arriving page is
    * the +1). This completes the measure/act × batch/incremental grid:
    * the SAME screen kernel serves both policies, only the df
    * threshold moves — exactly how a production crawl pipeline turns
    * its dedup screen into its template screen. */
  def boilerplateApplyIncremental(spark: SparkSession, dir: String): DataFrame = {
    val crawl = crawlViewOf(Tables.fanOut(Tables.documents(spark, dir)))
    spanScreenOf(crawl.filter(col("doc_id") % 2 === 1),
      spanGramIndexOf(crawl.filter(col("doc_id") % 2 === 0)), SpanN, BoilerMinDf)
  }

  /** Stages for [[curriculumStages]]. */
  val CurriculumStages = 4

  /** Curriculum staging: per language, rank documents by length and cut
    * the ranking into [[CurriculumStages]] equal-count stages (short →
    * long is the classic length-curriculum schedule), reporting each
    * stage's population and length envelope. Covers the rank-family
    * window functions the surface lacked: `ntile` assigns the stage,
    * `percent_rank`/`cume_dist` pin the stage boundary positions — all
    * three share ONE window (single sort, single pass), and the
    * (n_chars, doc_id) ordering is a total order so every engine cuts
    * identical stages.
    *
    * Scale: a per-lang ntile is a per-lang global SORT — fine while the
    * per-partition volume fits an executor sort spill, which a 5-value
    * partition key at 100 TB does NOT. The scalable form of equal-count
    * staging is [[Profiling.eqdepthHistogram]]'s pattern: compute the
    * stage BOUNDARIES from exact/approx quantiles and broadcast them
    * into a per-row comparison — same stages, no per-key sort. This
    * query is the exact-rank semantics; its scaladoc is the map to the
    * scale path. */
  def curriculumStages(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.fanOut(Tables.documents(spark, dir))
    val w = Window.partitionBy("lang").orderBy(asc("n_chars"), asc("doc_id"))
    docs.select(col("lang"), col("n_chars"),
        ntile(CurriculumStages).over(w).cast("long").as("stage"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"))
      .groupBy("lang", "stage")
      .agg(count(lit(1)).as("docs"),
        min("n_chars").as("min_chars"),
        max("n_chars").as("max_chars"),
        round(avg("n_chars"), 2).as("avg_chars"),
        round(max("pr"), 4).as("max_pct_rank"),
        round(max("cd"), 4).as("max_cume_dist"))
      .orderBy("lang", "stage")
  }

  /** Bigram LANGUAGE-MODEL quality score — the CCNet/KenLM-style filter
    * behind "perplexity" columns in training-data pipelines: train an
    * add-one-smoothed bigram model ON THE CORPUS ITSELF, then score each
    * document by its mean log-likelihood under that model,
    * `avg(ln((c(a,b)+1)/(c(a)+V)))` over the doc's adjacent token pairs.
    * Boilerplate-heavy documents score high (their bigrams dominate the
    * model), outliers low — the standard self-scoring pass that feeds a
    * percentile cut (pair with [[Profiling.eqdepthHistogram]] for the
    * threshold). Unlike [[tokenEntropy]]/[[repetitionStats]] (within-doc
    * signals) the model is CROSS-document: a doc is judged against the
    * corpus distribution.
    *
    * Shape: the doc-bigram frame comes from the same zip-of-slices
    * kernel as [[Dedup.shinglesOf]] (codegen'd, no HOF lambdas). Both
    * model frames are map-side-combined group-bys that collapse to
    * vocabulary size — far below corpus size — before anything joins;
    * the vocab-size scalar rides a broadcast 1-row frame like tf-idf's
    * N. The scoring join (corpus bigrams × bigram counts) is the one
    * corpus-sized shuffle; its hot keys ("of the") fan out rows, not
    * partners — 1 model row per key — so AQE's skew split handles them.
    * At 100 TB the model side is additionally pruned to a top-V
    * vocabulary with an OOV bucket (a counts-frame filter; the plan
    * shape is unchanged), which is exactly how KenLM-scale filters
    * bound model size. */
  def lmScore(spark: SparkSession, dir: String): DataFrame =
    lmScoreOf(Tables.fanOut(Tables.documents(spark, dir)))

  /** Per-bigram log-likelihood under the corpus's add-one-smoothed
    * bigram LM: one (doc_id, lang, ll) row per bigram occurrence. The
    * model frames (pair counts, context counts, vocabulary size) are
    * vocabulary-sized; `ll` is built from identical integer counts in
    * both engines. Shared by [[lmScoreOf]] and [[doremiWeightsOf]]. */
  private def bigramLL(docs: DataFrame): DataFrame = {
    val tokd = docs
      .select(col("doc_id"), col("lang"), toks(col("text")).as("toks"))
    val len = greatest(size(col("toks")) - 1, lit(0))
    val dbig = tokd
      .select(col("doc_id"), col("lang"),
        explode(arrays_zip(
          slice(col("toks"), lit(1), len),
          slice(col("toks"), lit(2), len))).as("z"))
      .select(col("doc_id"), col("lang"),
        col("z.0").as("a"), col("z.1").as("b"))
    val cab = dbig.groupBy("a", "b").agg(count(lit(1)).as("c_ab"))
    // context count c(a) = Σ_b c(a,b): occurrences of a AS A CONTEXT —
    // counted over the bigram frame, not the token stream, so the
    // conditional rows sum to 1 (each doc's last token is no context)
    val ca = dbig.groupBy("a").agg(count(lit(1)).as("c_a"))
    val v = tokd.select(explode(col("toks")).as("t"))
      .agg(countDistinct(col("t")).as("v"))
    dbig
      .join(cab, Seq("a", "b"))
      .join(ca, Seq("a"))
      .crossJoin(broadcast(v))
      .select(col("doc_id"), col("lang"),
        log((col("c_ab") + 1).cast("double") /
          (col("c_a") + col("v")).cast("double")).as("ll"))
  }

  /** [[lmScore]] over ANY (doc_id, lang, text) frame. */
  def lmScoreOf(docs: DataFrame): DataFrame =
    bigramLL(docs)
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(col("ll")), 4).as("avg_ll"))
      .orderBy("doc_id")

  /** CCNet-style PERPLEXITY BUCKETING (Wenzek et al., LREC 2020): per
    * language, documents tier into head/middle/tail TERCILES by their
    * LM score ([[lmScoreOf]]'s per-doc mean bigram log-likelihood —
    * higher = more target-like = head), the standard quality-tiering
    * step LLM pipelines run before mixing (train mostly-head, sample
    * middle, drop tail). Output is the per-(lang, bucket) census with
    * the mean score, the governance view of where each language's mass
    * sits.
    *
    * Determinism: terciles are `ntile(3)` over the 4dp-ROUNDED score
    * with a doc_id tiebreak (total order, so both engines assign
    * identical buckets); the per-bucket mean accumulates the scores as
    * exact fixed-point longs — a double sum's order-dependence is the
    * [[dsirResampleOf]] lesson. Scale: the LM pass is the one
    * corpus-sized stage ([[lmScore]]'s audited shape); the tercile
    * window partitions per language — at 100 TB the swap is the
    * quantile-boundary broadcast (`q_profile_eqdepth`'s shape), same
    * note as `q_window_ntile`. */
  def perplexityBuckets(spark: SparkSession, dir: String): DataFrame = {
    val scored = lmScoreOf(Tables.fanOut(Tables.documents(spark, dir)))
    val w = Window.partitionBy("lang").orderBy(desc("avg_ll"), asc("doc_id"))
    scored.withColumn("t", ntile(3).over(w))
      .withColumn("bucket", element_at(
        array(lit("1_head"), lit("2_middle"), lit("3_tail")), col("t")))
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).as("n_docs"),
        ((sum(round(col("avg_ll") * 10000, 0).cast("long")) / 10000.0) /
          count(lit(1))).as("mean_ll"))
      .orderBy("lang", "bucket")
  }

  /** The deterministic replicate-and-thin draw shared by
    * [[temperatureMixOf]] and [[doremiMixOf]]: each doc repeats
    * ⌈rate⌉ times, replica r surviving iff u < rate − r (full copies
    * keep unconditionally, the marginal copy thins to the fraction) —
    * u a content-hash uniform salted by the replica id, so copies draw
    * independently and the expected copy count is exactly the rate.
    * `rates` is a (lang, rate) frame with 6dp-rounded rates (both
    * engines compare the same exact thresholds). */
  private def drawnCensus(d: DataFrame, rates: DataFrame): DataFrame =
    d.join(broadcast(rates.select("lang", "rate")), "lang")
      .select(col("lang"), col("rate"),
        explode(sequence(lit(0), ceil(col("rate")).cast("int") - 1)).as("rep"),
        col("text"))
      .filter((conv(substring(md5(concat_ws(":", col("text"), col("rep"))), 1, 8),
          16, 10).cast("double") + 0.5) / lit(4294967296.0) <
        col("rate") - col("rep"))
      .groupBy("lang").agg(count(lit(1)).as("docs_out"))

  /** Temperature exponent for [[temperatureMix]] — the mC4/XLM-R α:
    * sampling shares ∝ p^α, so α=1 keeps the natural distribution and
    * α→0 approaches uniform. 0.5 is a standard mid-dial setting. */
  val MixAlpha = 0.5

  /** TEMPERATURE-BASED language mixing (the mC4 §3.1 / XLM-R §3.1
    * rebalancing step): natural per-language shares p_l are flattened
    * to q_l ∝ p_l^[[MixAlpha]], and the mixture is REALIZED as a
    * deterministic replicate-and-thin draw at a same-size budget
    * (B = N: keep the corpus size, reshape its composition) — so the
    * per-language rate is exactly the boost q_l/p_l, above 1 for
    * low-resource languages, which repeat ⌈r_l⌉ times with the
    * fractional replica thinned by a content-hash uniform (replica id
    * salts the hash, so copies draw independent uniforms and the
    * expected copy count is exactly r_l). Output is the governance
    * census: natural share, target share, boost factor, realized docs,
    * and achieved share — the table a pretraining run signs off on.
    *
    * Determinism across engines: rates are rounded to 6 decimals
    * BEFORE the keep comparison (both engines compare the same exact
    * threshold against the same 2⁻³²-grid uniforms, so no libm-pow ulp
    * can flip a verdict), and the draw keys on md5(text, ':', replica)
    * — reproducible under any partitioning, any engine.
    *
    * Scale: one map-side-combined census pass (|langs| rows), the
    * rates frame broadcast back onto the corpus scan, replication via
    * a bounded `sequence` explode (⌈max r_l⌉ copies, and only for
    * upsampled languages), and a final |langs|-key census. No window,
    * no corpus shuffle — the draw decisions are row-local. */
  def temperatureMix(spark: SparkSession, dir: String): DataFrame =
    temperatureMixOf(Tables.fanOut(Tables.documents(spark, dir)))

  /** [[temperatureMix]] over any (lang, text) frame. */
  def temperatureMixOf(d: DataFrame): DataFrame = {
    val counts = d.groupBy("lang").agg(count(lit(1)).as("n_docs"))
    val tot = counts.agg(sum("n_docs").as("n_total"),
      sum(pow(col("n_docs").cast("double"), MixAlpha)).as("z"))
    val rates = counts.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_docs"), col("n_total"),
        (col("n_docs") / col("n_total")).as("p"),
        (pow(col("n_docs").cast("double"), MixAlpha) / col("z")).as("q"))
      .withColumn("rate",
        round(col("q") * col("n_total").cast("double") / col("n_docs"), 6))
    val drawn = drawnCensus(d, rates)
    val mixed = rates.join(drawn, Seq("lang"), "left")
      .select(col("lang"), col("n_docs"),
        round(col("p"), 6).as("p_natural"),
        round(col("q"), 6).as("q_target"),
        round(col("q") / col("p"), 6).as("boost"),
        col("rate"),
        coalesce(col("docs_out"), lit(0L)).as("docs_out"))
    val outTot = mixed.agg(sum("docs_out").as("out_total"))
    mixed.crossJoin(broadcast(outTot))
      .select(col("lang"), col("n_docs"), col("p_natural"), col("q_target"),
        col("boost"), col("rate"), col("docs_out"),
        round(col("docs_out") / col("out_total"), 6).as("achieved_share"))
      .orderBy("lang")
  }

  /** Per-domain epoch cap for [[unimaxMix]] — UniMax's one dial: no
    * domain may be repeated more than this many times, however much
    * budget is left (Chung et al. 2023, "UniMax: Fairer and More
    * Effective Language Sampling for Large-Scale Multilingual
    * Pretraining", §3: cap epochs, spread the remainder uniformly). */
  val UnimaxEpochCap = 2L
  /** Token budget for [[unimaxMix]] as a fraction of the corpus:
    * B = ⌊19·T/10⌋ (1.9 epochs' worth) — between 1 and [[UnimaxEpochCap]]
    * epochs so the waterline lands inside the capacity range and the
    * allocation mixes saturated (small) and waterlined (large) domains. */
  val UnimaxBudgetNum = 19L
  val UnimaxBudgetDen = 10L

  /** UNIMAX budget allocation (Chung et al. 2023): given per-domain
    * token masses n_d, a total budget B and an epoch cap E, allocate
    * a_d = min(E·n_d, L) with the waterline L chosen so Σ a_d = B —
    * the closed form of UniMax's greedy (ascending-capacity domains
    * each take min(capacity, fair share of what remains); once a
    * domain saturates, its leftover spreads over the rest). Complements
    * [[temperatureMix]]/[[doremiMixOf]]: temperature reshapes by a
    * power law and DoReMi by excess loss, UniMax by an epoch ceiling —
    * the mixture family's third published dial.
    *
    * Determinism across engines: the waterline is found by the
    * SATURATION PREFIX, tested in cross-multiplied BIGINT
    * (cap·(D−k+1) + prefix_{k−1} ≤ B over the (cap, source)-sorted
    * domains) — no float ever decides a saturation verdict; only the
    * final allocated/epochs outputs divide, on identical integers in
    * both engines, rounded at output.
    *
    * Scale: one map-side-combined token census (|domains| rows), then
    * every window/join runs on the census frame — bounded by the
    * domain count, never the corpus. The global-window warning does
    * not apply: the ordered frame is |domains| rows by construction. */
  def unimaxMix(spark: SparkSession, dir: String): DataFrame =
    unimaxAllocOf(Tables.documents(spark, dir)
      .select(col("source"),
        size(whitespaceTokens(col("text"))).cast("long").as("n"))
      .groupBy("source").agg(sum("n").as("n_tokens")))

  /** [[unimaxMix]]'s allocation over any (source, n_tokens) census.
    * Note B = ⌊19T/10⌋ < 2T = Σcaps by construction, so the
    * all-saturated waterline division-by-zero branch is unreachable at
    * any corpus. */
  def unimaxAllocOf(census: DataFrame): DataFrame = {
    val caps = census
      .withColumn("cap", col("n_tokens") * lit(UnimaxEpochCap))
    val tot = caps.agg(sum("n_tokens").as("t_tokens"),
      count(lit(1)).as("d_cnt"))
    val w = Window.orderBy("cap", "source")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = caps.crossJoin(broadcast(tot))
      .withColumn("budget",
        expr(s"($UnimaxBudgetNum * t_tokens) div $UnimaxBudgetDen"))
      .withColumn("rk", row_number().over(Window.orderBy("cap", "source")))
      .withColumn("pre", sum("cap").over(w))
      .withColumn("saturated",
        col("cap") * (col("d_cnt") - col("rk") + 1) +
          (col("pre") - col("cap")) <= col("budget"))
    val sat = ranked.agg(
      sum(when(col("saturated"), col("cap")).otherwise(0L)).as("s_sat"),
      sum(when(col("saturated"), 1L).otherwise(0L)).as("n_sat"))
    val level = (col("budget") - col("s_sat")).cast("double") /
      (col("d_cnt") - col("n_sat"))
    val alloc = when(col("saturated"), col("cap").cast("double"))
      .otherwise(level)
    ranked.crossJoin(broadcast(sat))
      .select(col("source"), col("n_tokens"), col("cap"),
        col("saturated").cast("int").as("saturated"),
        round(alloc, 2).as("allocated"),
        round(alloc / col("n_tokens"), 6).as("epochs"))
      .orderBy("source")
  }

  /** Per-epoch utility decay for [[epochMix]], in ppm: the value of a
    * domain's e-th epoch is `n_tokens · EpochDecayPpm(e-1) / 10^6`.
    * Halving decay (the shape Muennighoff et al. 2023 fit for repeated
    * data: roughly constant value out to ~4 epochs, then rapidly
    * diminishing — compressed here to a literal geometric table so
    * both engines multiply identical integers), capped at 8 epochs
    * beyond which the paper measures repeats as worthless. */
  val EpochDecayPpm: Seq[Long] =
    Seq(1000000L, 500000L, 250000L, 125000L, 62500L, 31250L, 15625L, 7812L)

  /** Token budget for [[epochMix]] as a fraction of the one-epoch
    * corpus: 5/2 — data-constrained by construction (the corpus must
    * repeat to fill it), but not so large that every domain saturates
    * [[EpochDecayPpm]]'s cap and the allocation degenerates. */
  val EpochBudgetNum = 5L
  val EpochBudgetDen = 2L

  /** DATA-CONSTRAINED SCALING allocation (Muennighoff et al. 2023,
    * "Scaling Data-Constrained Language Models"): when the compute
    * budget wants more tokens than the corpus holds, each domain is
    * repeated for extra EPOCHS, and repeated tokens are worth less than
    * fresh ones. The allocator runs the exact greedy on marginal
    * utility: candidate (domain, epoch) slots valued at
    * `n_tokens · decay^(epoch-1)` fill the budget in value order —
    * optimal because each domain's slot values are strictly decreasing,
    * so the greedy order never picks epoch e before e−1. Complements
    * the mixture family's other dials ([[temperatureMix]] reshapes by a
    * power law, [[doremiMixOf]] by excess loss, [[unimaxMix]] by a hard
    * epoch ceiling): this is the dial that decides HOW MANY TIMES to
    * repeat, not just how to share one pass.
    *
    * Determinism: decay factors are literal ppm integers
    * ([[EpochDecayPpm]]), slot values integer-divide, and the greedy
    * rank breaks ties on (source, epoch) — no float ever orders a slot.
    * Scale: one map-side-combined token census (|domains| rows), then
    * the candidate frame is |domains|·8 rows — every window runs on
    * that census-sized frame, never the corpus (the bounded-frame
    * exception to the no-global-sort rule). Output reports per domain
    * the epochs granted, tokens allocated, and the EFFECTIVE fresh-token
    * equivalent (Σ slot values — the paper's D'). */
  def epochMix(spark: SparkSession, dir: String): DataFrame =
    epochAllocOf(Tables.documents(spark, dir)
      .select(col("source"),
        size(whitespaceTokens(col("text"))).cast("long").as("n"))
      .groupBy("source").agg(sum("n").as("n_tokens")))

  /** The shared greedy spine of [[epochAllocOf]] and [[epochSweepOf]]:
    * every (source, epoch) candidate slot with its integer value, the
    * value-ordered running token cost, and the corpus total — computed
    * ONCE on the |domains|·8-row census frame. */
  private def epochRankedOf(census: DataFrame): DataFrame = {
    val tot = census.agg(sum("n_tokens").as("t_tokens"))
    val cand = census
      .select(col("source"), col("n_tokens"),
        posexplode(array(EpochDecayPpm.map(lit): _*)).as(Seq("pos", "dec_ppm")))
      .select(col("source"), col("n_tokens"),
        (col("pos") + 1).cast("long").as("epoch"),
        expr("(n_tokens * dec_ppm) div 1000000").as("slot_value"))
    val w = Window.orderBy(desc("slot_value"), asc("source"), asc("epoch"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cand.crossJoin(broadcast(tot))
      .withColumn("cum", sum("n_tokens").over(w))
  }

  /** [[epochMix]]'s greedy over any (source, n_tokens) census. */
  private[graft] def epochAllocOf(census: DataFrame): DataFrame = {
    val kept = epochRankedOf(census)
      .withColumn("budget",
        expr(s"($EpochBudgetNum * t_tokens) div $EpochBudgetDen"))
      .filter(col("cum") <= col("budget"))
      .groupBy("source")
      .agg(count(lit(1)).as("epochs_alloc"),
        sum("n_tokens").as("tokens_alloc"),
        sum("slot_value").as("effective_tokens"))
    census.join(kept, Seq("source"), "left")
      .select(col("source"), col("n_tokens").as("unique_tokens"),
        coalesce(col("epochs_alloc"), lit(0L)).as("epochs_alloc"),
        coalesce(col("tokens_alloc"), lit(0L)).as("tokens_alloc"),
        coalesce(col("effective_tokens"), lit(0L)).as("effective_tokens"))
      .orderBy("source")
  }

  /** Budget dial candidates for [[epochSweep]], in percent of the
    * one-epoch corpus: from "can't even finish one pass" (75%) through
    * the registered 250% to "repeat until the decay table caps" (600%).
    * The 75% arm pins the prefix rule's starvation edge — some domains
    * get ZERO epochs — which is the behavior a data-mixing rollout must
    * see measured before trusting the dial. */
  val EpochSweepPct: Seq[Long] = Seq(75L, 150L, 250L, 400L, 600L)

  /** The BUDGET-DIAL CALIBRATION sweep over [[epochMix]]'s allocator —
    * the q_dedup_lsh_sweep / q_text_bm25_cap_sweep discipline applied
    * to the epoching dial: per candidate budget, the full greedy
    * allocation (epochs + tokens per domain), every arm filtered from
    * the ONE ranked candidate frame (the greedy spine is budget-
    * independent — only the prefix cutoff moves, so the sweep costs
    * one census pass + |budgets| filters over a 48-row frame).
    * Allocations are monotone in the budget by construction (a larger
    * budget keeps a superset of the prefix) — suite-pinned, because
    * that is the property that makes the dial safe to tune upward. */
  def epochSweep(spark: SparkSession, dir: String): DataFrame =
    epochSweepOf(Tables.documents(spark, dir)
      .select(col("source"),
        size(whitespaceTokens(col("text"))).cast("long").as("n"))
      .groupBy("source").agg(sum("n").as("n_tokens")))

  /** [[epochSweep]]'s arms over any (source, n_tokens) census. */
  private[graft] def epochSweepOf(census: DataFrame): DataFrame = {
    val ranked = epochRankedOf(census)
      .select(col("source"), col("n_tokens"), col("epoch"),
        col("slot_value"), col("cum"), col("t_tokens"),
        explode(array(EpochSweepPct.map(lit): _*)).as("budget_pct"))
    val kept = ranked
      .filter(col("cum") <= expr("(budget_pct * t_tokens) div 100"))
      .groupBy("budget_pct", "source")
      .agg(count(lit(1)).as("epochs_alloc"),
        sum("n_tokens").as("tokens_alloc"))
    census
      .select(col("source"), col("n_tokens").as("unique_tokens"),
        explode(array(EpochSweepPct.map(lit): _*)).as("budget_pct"))
      .join(kept, Seq("budget_pct", "source"), "left")
      .select(col("budget_pct"), col("source"), col("unique_tokens"),
        coalesce(col("epochs_alloc"), lit(0L)).as("epochs_alloc"),
        coalesce(col("tokens_alloc"), lit(0L)).as("tokens_alloc"))
      .orderBy("budget_pct", "source")
  }

  /** Hashed-feature buckets for [[dsirResample]] — DSIR's fixed-size
    * n-gram feature space. The paper uses 10k; the dial matters for
    * SELECTIVITY, not just memory: too few buckets mix target and
    * off-target vocabulary inside every bucket and the log-ratios
    * cancel toward zero. Measured: 256 buckets gave a near-base-rate
    * selection at sf0.01, 1024 a 1.8×-base-rate one — and at sf0.1's
    * larger vocabulary 1024 washed out again. The dial must track
    * vocabulary size (the paper's 10k at its corpus scale); 8192 holds
    * the per-bucket gram mix low through the SFs this repo measures. */
  val DsirBuckets = 8192

  /** Documents kept by [[dsirResample]]'s resampling step. */
  val DsirK = 100

  /** DSIR — Data Selection via Importance Resampling (Xie et al.,
    * NeurIPS 2023): select raw-corpus documents that look like a target
    * domain by importance weights under hashed bag-of-n-gram language
    * models. Features are unigrams+bigrams hashed into [[DsirBuckets]]
    * buckets; target model p_t is fit on the English subset (the
    * stand-in for the paper's small clean corpus), raw model p_r on the
    * whole corpus; a document's log importance weight is
    * `Σ_b n_b·(ln p_t(b) − ln p_r(b))` with add-one smoothing; and
    * sampling-without-replacement ∝ exp(w) is the Gumbel top-k trick
    * with a DETERMINISTIC md5-derived Gumbel perturbation, so both
    * engines draw the identical sample.
    *
    * Scale shape: the corpus is tokenized and gram-exploded ONCE into a
    * (doc_id, bucket, cnt) frame (materialized — it feeds the two model
    * censuses AND the scoring join; without the pin the gram build runs
    * three times, the r5 boilerplate lesson). Both models aggregate to
    * [[DsirBuckets]] rows, so the log-ratio table is broadcast — the
    * scoring pass is one narrow corpus-sized groupBy(doc_id) with a
    * map-side combine, and the top-k is a TakeOrderedAndProject, never
    * a global sort. Cross-engine float discipline as elsewhere:
    * per-bucket log-ratios rounded to 6dp before the weighted sum,
    * weights and Gumbel keys rounded before ranking, doc_id tiebreak. */
  def dsirResample(spark: SparkSession, dir: String): DataFrame =
    dsirResampleOf(Tables.fanOut(Tables.documents(spark, dir)))

  /** The gram build feeding [[dsirResampleOf]]: unigrams + bigrams,
    * bucketed by the md5 bridge, counted per doc. `is_target` rides the
    * projection so both model censuses derive from this frame without a
    * join back onto a second corpus scan. */
  private def dsirBucketOf(g: Column): Column =
    pmod(conv(substring(md5(g), 1, 8), 16, 10).cast("long"),
      lit(DsirBuckets.toLong))

  /** [[dsirBuckets]] over a pre-tokenized (doc_id, is_target, toks)
    * frame — the entry point for composed pipelines that materialize
    * ONE tokenize pass and feed many stages. */
  private[graft] def dsirBucketsFromToks(tokd: DataFrame): DataFrame =
    tokd
      .filter(size(col("toks")) >= 1)
      .select(col("doc_id"), col("is_target"),
        explode(concat(col("toks"), wordNgrams(col("toks"), 2))).as("g"))
      .select(col("doc_id"), col("is_target"), dsirBucketOf(col("g")).as("bucket"))
      .groupBy("doc_id", "is_target", "bucket")
      .agg(count(lit(1)).as("cnt"))

  private def dsirBuckets(docs: DataFrame): DataFrame =
    dsirBucketsFromToks(docs.select(col("doc_id"),
      (col("lang") === "en").as("is_target"), toks(col("text")).as("toks")))

  /** Model fit + scoring + Gumbel top-k over a (doc_id, is_target,
    * bucket, cnt) frame — the whole dataflow downstream of the gram
    * build, shared by the registered query (which materializes `db`
    * once) and the plan audit (which passes the raw build through). */
  /** The DSIR MODEL as data: the per-bucket fixed-point log-ratio frame
    * (bucket, lr_fp) fit on a (doc_id, is_target, bucket, cnt) gram
    * frame. ≤ [[DsirBuckets]] rows — persistable and broadcastable, the
    * piece an incremental screen joins arriving docs against.
    *
    * Determinism: add-one smoothed log-ratio, 6dp-rounded and held as
    * FIXED-POINT micro-units (an exact long), so every downstream
    * weighted sum is INTEGER arithmetic — order-independent across
    * partitionings and engines. (A double sum rounds differently
    * depending on accumulation order; a 4dp boundary flip between two
    * Spark runs of the identical plan is how this was caught.) A bucket
    * absent from the target model still scores (c_t = 0). */
  private[graft] def dsirModelOf(db: DataFrame): DataFrame = {
    val b = DsirBuckets
    val raw = db.groupBy("bucket").agg(sum("cnt").as("c_r"))
    val tgt = db.filter(col("is_target"))
      .groupBy("bucket").agg(sum("cnt").as("c_t"))
    val tot = raw.agg(sum("c_r").as("t_r"))
      .crossJoin(tgt.agg(sum("c_t").as("t_t")))
    // DENSE over all b buckets: a screen scoring docs the model never
    // saw must give corpus-unseen buckets the smoothed OOV ratio, not
    // silently drop their grams. (The resample path inner-joins its own
    // corpus's buckets, so densifying changes nothing there.)
    db.sparkSession.range(b).select(col("id").as("bucket"))
      .join(raw, Seq("bucket"), "left")
      .join(tgt, Seq("bucket"), "left")
      .crossJoin(broadcast(tot))
      .select(col("bucket"),
        round(round(
            log((coalesce(col("c_t"), lit(0L)) + lit(1.0)) / (col("t_t") + b)) -
              log((coalesce(col("c_r"), lit(0L)) + lit(1.0)) / (col("t_r") + b)),
            6) * 1e6, 0)
          .cast("long").as("lr_fp"))
  }

  private def dsirPipeline(docs: DataFrame, db: DataFrame): DataFrame = {
    val ratio = dsirModelOf(db)
    // weight and key stay FIXED-POINT LONGS end to end; the exported
    // doubles are exact-integer/1e6 with NO rounding step. (A round(…,4)
    // here sat on an exact .xxxx50 boundary for ~1% of rows — micro-unit
    // sums end in 50 that often — where Spark's BigDecimal-of-binary and
    // DuckDB's scaled-multiply rounding can disagree by one 4th-decimal
    // ulp. No round, no boundary.)
    val scored = db.join(broadcast(ratio), "bucket")
      .groupBy("doc_id")
      .agg(sum(col("cnt") * col("lr_fp")).as("w_fp"))
    // deterministic Gumbel: u = (md5-uniform + 0.5)/1e6 ∈ (0,1),
    // perturbation 6dp-rounded then held in the same micro units
    val u = (pmod(conv(substring(md5(concat(lit("dsir:"),
        col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long"),
      lit(1000000L)).cast("double") + 0.5) / 1000000.0
    val keyed = scored.withColumn("key_fp",
      col("w_fp") + round(round(-log(-log(u)), 6) * 1e6, 0).cast("long"))
    // top-k FIRST (TakeOrderedAndProject — never a global sort), then
    // rank assignment windows over only the K surviving rows
    val top = keyed.orderBy(desc("key_fp"), asc("doc_id")).limit(DsirK)
    val w = Window.orderBy(desc("key_fp"), asc("doc_id"))
    top.withColumn("rank", row_number().over(w))
      .join(docs.select("doc_id", "lang", "source"), "doc_id")
      .select(col("doc_id"), col("lang"), col("source"),
        (col("w_fp") / 1e6).as("weight"),
        (col("key_fp") / 1e6).as("key"), col("rank"))
      .orderBy("rank")
  }

  /** [[dsirResample]] over any (doc_id, lang, source, text) frame. */
  def dsirResampleOf(docs: DataFrame): DataFrame = {
    Dedup.withCuts(docs.sparkSession) { cuts =>
      val db = cuts.cut(dsirBuckets(docs))
      cuts.keep(s"dsirResample#$DsirBuckets#$DsirK", cuts.cut(dsirPipeline(docs, db)))
    }
  }

  /** Audit-only: the full DSIR dataflow with the gram build inlined
    * (unmaterialized), so `graft.Plans` can dump the real plan instead
    * of the retained result's `ExistingRDD` scan. */
  private[graft] def dsirPlanOf(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.fanOut(Tables.documents(spark, dir))
    dsirPipeline(docs, dsirBuckets(docs))
  }

  /** One row PER GRAM OCCURRENCE (doc_id, bucket) — the streaming-safe
    * scoring shape: no pre-aggregation, so [[dsirScreenOf]] needs only
    * ONE aggregation (legal in a streaming query, where chaining the
    * bucket-count agg into the weight agg would not be). */
  private[graft] def dsirScoreRows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), toks(col("text")).as("toks"))
      .filter(size(col("toks")) >= 1)
      .select(col("doc_id"),
        explode(concat(col("toks"), wordNgrams(col("toks"), 2))).as("g"))
      .select(col("doc_id"), dsirBucketOf(col("g")).as("bucket"))

  /** Score a batch of docs against a PERSISTED DSIR model frame
    * (bucket, lr_fp): per-doc importance weight as the exact fixed-point
    * sum. O(batch) by construction — the corpus appears only through the
    * ≤[[DsirBuckets]]-row model, which broadcasts; unordered (the
    * streaming twin cannot sort), callers order. */
  def dsirScreenOf(batch: DataFrame, model: DataFrame): DataFrame =
    dsirScoreRows(batch)
      .join(broadcast(model), Seq("bucket"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        // exact micro-unit long / 1e6, NO round — see dsirPipeline
        (sum("lr_fp") / 1e6).as("weight"))

  /** The INCREMENTAL form of [[dsirResample]]'s scoring stage: arriving
    * docs (odd doc_ids, the repo's standing batch split) scored against
    * the model fit on the CORPUS (even doc_ids) — the importance-weight
    * screen a live ingestion pipeline runs per batch instead of
    * re-fitting models per arrival. Batch form of the stream-static
    * screen in `DocsStream.dsirScoreScreen` (stream ≡ batch is
    * suite-pinned); the model is [[dsirModelOf]]'s dense frame, exactly
    * what [[dsirResample]] fits. */
  def dsirScreenInc(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.fanOut(Tables.documents(spark, dir))
    dsirScreenOf(docs.filter(col("doc_id") % 2 === 1), dsirModelInc(spark, dir))
      .orderBy("doc_id")
  }

  /** The persisted-model half of [[dsirScreenInc]]: the dense model fit
    * on the even-doc corpus (what a production pipeline snapshots and
    * the stream-static screen joins against). */
  private[graft] def dsirModelInc(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.fanOut(Tables.documents(spark, dir))
    dsirModelOf(dsirBuckets(docs.filter(col("doc_id") % 2 === 0)))
  }

  /** Dense model over the FULL corpus — diagnostics and composition. */
  private[graft] def dsirFullModel(spark: SparkSession, dir: String): DataFrame =
    dsirModelOf(dsirBuckets(Tables.fanOut(Tables.documents(spark, dir))))

  /** DSIR-stage admission threshold for [[curationFunnel]] — on the
    * PER-GRAM average log-ratio, not the raw document weight: the raw
    * weight scales with document length (every gram contributes a
    * mostly-negative ratio), so a raw threshold mostly selects short
    * docs (measured: 8/296 survivors, all short). The per-gram average
    * is length-unbiased; −0.15 sits at the quality-survivor median
    * under the full-corpus model (en averages −0.128, the other
    * languages −0.163, so the screen keeps mostly target-like docs —
    * as far as the shared-vocabulary synthetic corpus allows). */
  val CurationMinWeight = -0.15

  /** END-TO-END CURATION FUNNEL — the composed pipeline a pretraining
    * data run actually executes, as ONE registered query: rule-based
    * quality screen (the [[qualityFiltered]] predicate) → exact dedup
    * (min-doc_id survivor per md5, [[q_dedup_exact_groups]]'s keep rule)
    * → n-gram eval decontamination (the [[decontaminate]] screen over
    * the doc_id % [[EvalMod]] eval set, eval docs themselves excluded
    * from training) → DSIR importance screen (weight ≥
    * [[CurationMinWeight]] under the full-corpus model). Output is the
    * per-stage funnel census (stage, n_docs, n_tokens) — the governance
    * table that shows what each stage costs in data, and pins the WHOLE
    * composition cross-engine, not just each stage alone.
    *
    * Shape: the corpus is tokenized ONCE (materialized — five stages
    * consume it) and gram-bucketed ONCE (materialized — the DSIR model
    * census and the scoring join share it); every stage verdict lands as
    * a flag COLUMN on one frame, and the funnel is a single
    * explode-over-passed-stages + one bounded group-by — not five
    * passes. Dedup keep-set and contamination sets enter as joins on
    * their natural keys; all flags are row-local after the joins.
    *
    * Scale dial, honestly: the eval set here is `doc_id % EvalMod` — a
    * fixed FRACTION of the corpus, so its broadcast gram set grows
    * linearly with SF. That is the harness's planted-contamination
    * convention (it keeps the stage exercised at every SF); a production
    * eval set is a FIXED benchmark suite, constant-size by nature, which
    * is the regime the broadcast is designed for (the same honesty note
    * as `semanticDecontaminate`'s EvalIdCap). */
  def curationFunnel(spark: SparkSession, dir: String): DataFrame = {
    Dedup.withCuts(spark) { cuts =>
      val docs = Tables.fanOut(Tables.documents(spark, dir))
      val tokd = cuts.cut(
        docs.select(col("doc_id"), col("lang"), col("source"), col("text"),
          toks(col("text")).as("toks")))
      val db = cuts.cut(dsirBucketsFromToks(
        tokd.select(col("doc_id"), (col("lang") === "en").as("is_target"),
          col("toks"))))
      cuts.keep("curationFunnel", cuts.cut(curationCensusFrom(tokd, db)))
    }
  }

  /** The batch funnel's census dataflow over the materialized
    * (tokenize-once) frame and its DSIR buckets — shared by the
    * registered query and the PLANS audit hook. */
  private def curationCensusFrom(tokd: DataFrame, db: DataFrame): DataFrame = {
    val weights = db.join(broadcast(dsirModelOf(db)), "bucket")
      .groupBy("doc_id")
      .agg(((sum(col("cnt") * col("lr_fp")) / 1e6) / sum("cnt"))
        .as("weight"))
    val isEval = col("doc_id") % EvalMod === 0
    // NARROW per-doc flag frame (r13, guide §2.3 "project before the
    // exchange"): every downstream decision is a function of
    // (doc_id, q, n_toks, h) — all row-local — yet the r12 shape ran
    // the keep/contam/weight joins over the full (text, toks) rows,
    // shuffling the corpus payload three times to move flags around.
    // Compute the flags once in the scan projection and join thin.
    val narrow = tokd.select(col("doc_id"),
      ((length(regexp_replace(col("text"), "[^\\p{Punct}]", "")) /
        length(col("text")) < 0.1) &&
        (stopHits(col("toks"), StopEn) / size(col("toks")) >= 0.05) &&
        size(whitespaceTokens(col("text"))).between(10, 500)).as("q"),
      size(col("toks")).cast("long").as("n_toks"),
      md5(col("text")).as("h"))
    val keepSet = narrow.groupBy(col("h")).agg(min("doc_id").as("keep_doc"))
    def evalGrams(df: DataFrame) = df
      .select(col("doc_id"),
        explode(array_distinct(wordNgrams(col("toks"), DecontamN))).as("g"))
    val contaminated = evalGrams(tokd.filter(!isEval))
      .join(broadcast(evalGrams(tokd.filter(isEval)).select("g").distinct()),
        "g")
      .select("doc_id").distinct()
      .withColumn("contam", lit(true))
    val flagged = narrow
      .join(keepSet, Seq("h"))
      .join(contaminated, Seq("doc_id"), "left")
      .join(weights, Seq("doc_id"), "left")
      .withColumn("keep", col("doc_id") === col("keep_doc"))
      .withColumn("clean", !isEval && col("contam").isNull)
      .withColumn("w", coalesce(col("weight"), lit(-1e9)))
    val passed = filter(array(
      lit("1_input"),
      when(col("q"), "2_quality"),
      when(col("q") && col("keep"), "3_dedup"),
      when(col("q") && col("keep") && col("clean"), "4_decontam"),
      when(col("q") && col("keep") && col("clean") &&
        col("w") >= CurationMinWeight, "5_selected")),
      s => s.isNotNull)
    flagged
      .select(col("n_toks"), explode(passed).as("stage"))
      .groupBy("stage")
      .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("n_tokens"))
      .orderBy("stage")
  }

  /** The live batch-funnel dataflow (un-materialized) — the PLANS.md /
    * plans-artifact audit hook; the registered query returns the
    * retained result. */
  private[graft] def curationFunnelPlanOf(spark: SparkSession,
      dir: String): DataFrame = {
    val docs = Tables.fanOut(Tables.documents(spark, dir))
    val tokd = docs.select(col("doc_id"), col("lang"), col("source"),
      col("text"), toks(col("text")).as("toks"))
    curationCensusFrom(tokd, dsirBucketsFromToks(
      tokd.select(col("doc_id"), (col("lang") === "en").as("is_target"),
        col("toks"))))
  }

  /** The PERSISTED corpus-hash index the incremental funnel's dedup
    * stage probes: one distinct md5 per corpus document — the artifact
    * a production pipeline snapshots (bucketed by `h`) alongside the
    * DSIR model and the eval-gram set. */
  private[graft] def corpusHashIndexOf(corpus: DataFrame): DataFrame =
    corpus.select(md5(col("text")).as("h")).distinct()

  /** The PERSISTED eval-gram set: distinct [[DecontamN]]-grams of the
    * eval slice — constant-size in production (a benchmark suite), the
    * broadcast side of the decontamination screen. */
  private[graft] def evalGramSetOf(evalDocs: DataFrame): DataFrame =
    evalDocs
      .select(explode(array_distinct(
        wordNgrams(toks(col("text")), DecontamN))).as("eg"))
      .distinct()

  /** Per-document stage flags for an ARRIVING batch under the three
    * PERSISTED curation artifacts — the incremental funnel's kernel,
    * shared VERBATIM by the registered batch query
    * ([[curationFunnelInc]]) and the streaming twin
    * (`DocsStream.curationScreen`), so stream ≡ batch is parity by
    * construction:
    *
    *  - `q`: the [[qualityFiltered]] predicate, row-local;
    *  - `keep`: md5 NOT in the corpus-hash index
    *    ([[corpusHashIndexOf]]) — one equi-join against the bucketed
    *    snapshot. Arriving duplicates OF EACH OTHER both pass until
    *    the next index refresh folds them in: the standard
    *    eventually-consistent ingest trade, stated rather than hidden
    *    (a within-arrival tiebreak would be a second stateful op and
    *    is the index refresh's job);
    *  - `clean`: not an eval doc, and no [[DecontamN]]-gram in the
    *    persisted eval-gram set ([[evalGramSetOf]]);
    *  - `w`: the per-gram average DSIR log-ratio under the persisted
    *    dense model ([[dsirModelOf]]) — [[curationFunnel]]'s
    *    length-unbiased weight, exact fixed-point integer sum.
    *
    * Streaming-legal by design: row-local flags, three stream-static
    * joins (hash index, 256-row model, eval grams), and ONE per-doc
    * aggregation — the gram explode serves BOTH the decontamination
    * hit-test and the DSIR score through a single tagged union, so the
    * whole dataflow fits update mode. Cost is O(batch): the corpus
    * enters only as join sides. */
  private[graft] def curationFlagsOf(batch: DataFrame, corpusHashes: DataFrame,
      evalGrams: DataFrame, model: DataFrame): DataFrame = {
    val base = batch
      .select(col("doc_id"), col("text"), toks(col("text")).as("toks"))
      .select(col("doc_id"),
        ((length(regexp_replace(col("text"), "[^\\p{Punct}]", "")) /
          length(col("text")) < 0.1) &&
          (stopHits(col("toks"), StopEn) / size(col("toks")) >= 0.05) &&
          size(whitespaceTokens(col("text"))).between(10, 500)).as("q"),
        size(col("toks")).cast("long").as("n_toks"),
        md5(col("text")).as("h"),
        (col("doc_id") % EvalMod === 0).as("is_eval"),
        col("toks"))
      .join(corpusHashes.select(col("h"), lit(true).as("in_corpus")),
        Seq("h"), "left")
    val carry = Seq("doc_id", "q", "n_toks", "is_eval", "in_corpus").map(col)
    // one tagged gram union: kind 'd' rows score against the model,
    // kind 'e' rows hit-test the eval set, kind 'b' keeps zero-gram
    // docs present; null keys never equi-match, so each join touches
    // only its own rows
    val dRows = base
      .filter(size(col("toks")) >= 1)
      .select(carry :+
        explode(concat(col("toks"), wordNgrams(col("toks"), 2))).as("g"): _*)
      .select(carry :+ lit("d").as("kind") :+
        dsirBucketOf(col("g")).as("bucket") :+
        lit(null).cast("string").as("eg"): _*)
    val eRows = base
      .select(carry :+
        explode(array_distinct(wordNgrams(col("toks"), DecontamN))).as("eg"): _*)
      .select(carry :+ lit("e").as("kind") :+
        lit(null).cast("long").as("bucket") :+ col("eg"): _*)
    val bRows = base.select(carry :+ lit("b").as("kind") :+
      lit(null).cast("long").as("bucket") :+
      lit(null).cast("string").as("eg"): _*)
    dRows.unionByName(eRows).unionByName(bRows)
      .join(broadcast(model.select(col("bucket"), col("lr_fp"))),
        Seq("bucket"), "left")
      .join(evalGrams.select(col("eg"), lit(true).as("contam_hit")),
        Seq("eg"), "left")
      .groupBy("doc_id")
      .agg(first("q").as("q"), first("n_toks").as("n_toks"),
        first("is_eval").as("is_eval"), first("in_corpus").as("in_corpus"),
        sum(when(col("kind") === "d", col("lr_fp"))).as("w_fp"),
        count(when(col("kind") === "d", 1)).as("n_g"),
        max(coalesce(col("contam_hit"), lit(false))).as("contam"))
      .select(col("doc_id"), col("q"), col("n_toks"),
        col("in_corpus").isNull.as("keep"),
        (!col("is_eval") && !col("contam")).as("clean"),
        // exact micro-unit long / 1e6 then the per-gram average — the
        // same two float ops, in the same order, as curationFunnel
        when(col("n_g") > 0, (col("w_fp") / 1e6) / col("n_g"))
          .otherwise(lit(-1e9)).as("w"))
  }

  /** The per-stage funnel census over a stage-flag frame — the same
    * (stage, n_docs, n_tokens) governance table [[curationFunnel]]
    * emits, shared by the batch and incremental forms. */
  private def curationCensusOf(flags: DataFrame): DataFrame = {
    val passed = filter(array(
      lit("1_input"),
      when(col("q"), "2_quality"),
      when(col("q") && col("keep"), "3_dedup"),
      when(col("q") && col("keep") && col("clean"), "4_decontam"),
      when(col("q") && col("keep") && col("clean") &&
        col("w") >= CurationMinWeight, "5_selected")),
      s => s.isNotNull)
    flags.select(col("n_toks"), explode(passed).as("stage"))
      .groupBy("stage")
      .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("n_tokens"))
      .orderBy("stage")
  }

  /** INCREMENTAL curation funnel — [[curationFunnel]]'s arriving-crawl
    * form, the composition the batch funnel's scaladoc promises:
    * production curation is a loop over arriving batches, and
    * re-paying the corpus per run is the wrong tool for a recurring
    * workload. The odd-doc_id batch (the repo's standing arrival
    * split) is screened against the three artifacts PERSISTED from the
    * even-doc corpus — the hash index, the eval-gram set, and
    * [[dsirScreenInc]]'s dense model — via [[curationFlagsOf]]
    * (kernel shared verbatim with the streaming twin), then censused
    * into the same (stage, n_docs, n_tokens) governance table.
    * O(batch) by construction; the SCALE.md §curationinc table pins
    * the screen flat while the corpus-side index 10×es. */
  def curationFunnelInc(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.fanOut(Tables.documents(spark, dir))
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    curationCensusOf(curationFlagsOf(
      docs.filter(col("doc_id") % 2 === 1),
      corpusHashIndexOf(corpus),
      evalGramSetOf(corpus.filter(col("doc_id") % EvalMod === 0)),
      dsirModelInc(spark, dir)))
  }

  /** Multiplicative-weights step size for [[doremiWeights]]. */
  val DoremiEta = 1.0

  /** Uniform-smoothing mass for [[doremiWeights]] — DoReMi's ε mix with
    * the uniform distribution, keeping every domain sampled. */
  val DoremiEps = 0.01

  /** DoReMi-style DOMAIN REWEIGHTING (Xie et al., NeurIPS 2023): set
    * per-domain sampling weights by EXCESS LOSS — domains where the
    * proxy model is worst relative to the best-fit domain get
    * upweighted, the paper's group-DRO objective. Domains are languages;
    * the "proxy loss" stand-in is the corpus bigram LM's token-level NLL
    * per domain (the [[lmScore]] model), the reference baseline is the
    * best domain's NLL, and one multiplicative-weights step
    * `α_d ∝ p_d · exp(η · excess_d)` plus the ε-uniform smoothing gives
    * the published update's closed form (with a STATIC loss the T-step
    * iteration collapses into η — documented honestly rather than
    * unrolling a fixed point). Complements [[temperatureMix]]: that op
    * rebalances by SIZE alone, this one by measured model fit.
    *
    * Determinism: the per-domain NLL is a fixed-point (micro-unit)
    * integer sum — order-independent, the [[dsirResampleOf]] lesson —
    * and the softmax-style normalizer sums 9dp-rounded nano-unit longs,
    * so both engines divide identical integers. Scale: one corpus-sized
    * bigram pass (shared model frames are vocabulary-sized), then
    * everything is |domains| rows. */
  def doremiWeights(spark: SparkSession, dir: String): DataFrame =
    doremiWeightsFrom(bigramDomCached(spark, dir),
      Tables.fanOut(Tables.documents(spark, dir)))

  /** The per-domain bigram-LM NLL census — [[doremiWeightsOf]]'s
    * expensive cross-document subtree (one corpus-sized [[bigramLL]]
    * pass collapsing to |domains| rows). Factored out so the registered
    * doremi PAIR can share one materialization (see
    * [[bigramDomCached]]); `Of`-variants stay self-contained. */
  private[graft] def bigramDomOf(docs: DataFrame): DataFrame =
    bigramLL(docs)
      .select(col("lang"),
        round(round(col("ll"), 6) * 1e6, 0).cast("long").as("ll_fp"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_bigrams"), sum("ll_fp").as("sum_fp"))
      .withColumn("nll",
        round(-(col("sum_fp").cast("double") / col("n_bigrams")) / 1e6, 6))

  /** Memoized per (session, corpus snapshot) [[bigramDomOf]] — the r13
    * VERDICT #2 directive: `q_mix_doremi` and `q_mix_doremi_draw` each
    * recomputed the identical bigram-LM subtree (~3 s each at sf0.1,
    * the top shared-subtree item). The minhash-pairs memo pattern:
    * built once per session × corpus through [[Dedup.memoizedFrame]]
    * (clearMemos-released, checkpoint-dir aware), with the build cost
    * charged to the bench's explicit `build:bigram_ll` row so both
    * consumers' numbers stay honest cached-read costs. The frame is
    * |domains| rows — the memo pins 5 rows, never corpus-sized state. */
  private[graft] def bigramDomCached(spark: SparkSession, dir: String): DataFrame =
    Dedup.memoizedFrame(spark, "bigram_dom", dir, "documents.parquet")(
      bigramDomOf(Tables.fanOut(Tables.documents(spark, dir))))

  /** [[doremiWeights]] over any (doc_id, lang, text) frame. */
  def doremiWeightsOf(docs: DataFrame): DataFrame =
    doremiWeightsFrom(bigramDomOf(docs), docs)

  /** The |domains|-sized weights tail over an already-computed domain
    * census `dom` ([[bigramDomOf]]'s shape). */
  private def doremiWeightsFrom(dom: DataFrame, docs: DataFrame): DataFrame = {
    val best = dom.agg(min("nll").as("best_nll"))
    val sizes = docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
    val tot = sizes.agg(sum("n_docs").as("n_total"))
    val scoredCol = round(
      (col("n_docs").cast("double") / col("n_total")) *
        exp(lit(DoremiEta) * col("excess")), 9)
    val scored = dom.join(sizes, "lang")
      .crossJoin(broadcast(best)).crossJoin(broadcast(tot))
      .withColumn("excess",
        round(greatest(col("nll") - col("best_nll"), lit(0.0)), 6))
      .withColumn("score_fp", round(scoredCol * 1e9, 0).cast("long"))
    val z = scored.agg(sum("score_fp").as("z_fp"),
      count(lit(1)).as("n_dom"))
    val alphaCol = round(
      lit(1.0 - DoremiEps) *
        (col("score_fp").cast("double") / col("z_fp")) +
        lit(DoremiEps) / col("n_dom"), 6)
    scored.crossJoin(broadcast(z))
      .withColumn("alpha", alphaCol)
      .select(col("lang"), col("n_docs"), col("n_bigrams"), col("nll"),
        col("excess"), col("alpha"),
        round(col("alpha") * col("n_total") / col("n_docs"), 6).as("boost"))
      .orderBy("lang")
  }

  /** The REALIZED DoReMi mixture — [[doremiWeights]]' alphas executed as
    * an actual same-size-budget resample: per-domain rate is the boost
    * α_d·N/n_d, drawn by the shared deterministic replicate-and-thin
    * kernel ([[temperatureMix]]'s realization, pointed at model-fit
    * weights instead of size-flattening ones). Output census pins
    * target α against achieved share, closing the weights→data loop the
    * paper's phase-2 training run performs.
    *
    * The 5-row weights frame is materialized once (its bigram-LM
    * subtree is the expensive part; two consumers — the rate broadcast
    * and the census join — must not recompute it). */
  def doremiMix(spark: SparkSession, dir: String): DataFrame =
    doremiMixFrom(
      doremiWeightsFrom(bigramDomCached(spark, dir),
        Tables.fanOut(Tables.documents(spark, dir))),
      Tables.fanOut(Tables.documents(spark, dir)))

  /** Gradient-descent steps for [[qualityLrTrain]] (weight updates;
    * a final scoring pass follows). Two steps is the k-means-oracle
    * precedent: enough to exercise the full iteration algebra while the
    * DuckDB oracle unrolls the same loop as CTEs. */
  val QualityLrIters = 2

  /** Integer learning rate for [[qualityLrTrain]] — an INTEGER so the
    * weight update `w −= η·g` stays exact long arithmetic (no rounding
    * step at all). L1-normalized features scale gradients by ~1/n_grams,
    * so unit rate moves the decision function imperceptibly in two
    * steps (with MEAN gradients; a summed gradient scales with corpus
    * size and oscillates the intercept full-scale). On separable data
    * two steps at rate 8 reach 100% held-in accuracy (the planted
    * suite pin); on the shared-vocabulary synthetic corpus the signal
    * itself is near zero — the same honest caveat as DSIR's. */
  val QualityLrRate = 8L

  /** TRAINED QUALITY/DOMAIN CLASSIFIER — logistic regression over
    * hashed n-gram features, fit relationally: the GPT-3/LLaMA
    * quality-classifier recipe (positives = the target domain, here the
    * `en` subset standing in for the curated reference corpus;
    * negatives = the rest of the crawl), producing the model-based
    * filter that scores docs the rules can't. (A rule-screen label was
    * tried first and is documented as infeasible BY CONSTRUCTION: the
    * length-band rule is erased by L1 feature normalization, so no
    * linear model over normalized buckets can express it — the
    * target-domain label is both the published recipe and the learnable
    * one.) Features are the DSIR bucket
    * counts L1-normalized per doc (x_b = cnt_b / n_grams); training is
    * [[QualityLrIters]] full-batch GD steps from w = 0 at unit learning
    * rate; output is the held-in confusion census (label × prediction,
    * with mean predicted probability) — the frame a filtering run
    * reviews before applying the model.
    *
    * Determinism (the k-means/PCA discipline, applied to GD): weights
    * live as NANO-unit fixed-point longs; a doc's score numerator
    * `Σ_b w_fp·cnt_b` is an exact integer sum (order-free), divided
    * once by (n_grams·1e9); per-doc residuals round to 9dp and each
    * gradient contribution rounds to a nano-long BEFORE the per-bucket
    * integer sum — so both engines train bit-identical weights. σ's
    * libm exp is the only float op, on identical doubles.
    *
    * Scale: each step is one corpus-sized (doc, bucket, cnt) pass —
    * score join against the ≤[[DsirBuckets]]-row broadcast weight
    * frame, per-doc aggregate, gradient re-aggregate to bucket keys.
    * The weight frame stays bucket-bounded; iterations are the
    * PageRank/k-means loop shape (each step's weights materialize as a
    * tiny frame, lineage never grows with the corpus). */
  def qualityLrTrain(spark: SparkSession, dir: String): DataFrame =
    lrCensusOf(Tables.fanOut(Tables.documents(spark, dir)),
      lrModelCached(spark, dir))

  /** QUALITY-CLASSIFIER APPLY — the filtering pass the trained model
    * exists for (the GPT-3/LLaMA pipeline's "keep what the classifier
    * scores as reference-like"): every document scored under the
    * memoized trained weights, kept at p ≥ 0.5, reported as a
    * per-language census (kept count, kept fraction, mean predicted
    * probability — the numbers a pipeline reviews to set the threshold
    * and catch a classifier that collapsed to one class). Serving is
    * one corpus-sized feature pass + a broadcast join against the
    * ≤[[DsirBuckets]]-row weight frame — the same O(corpus) shape as
    * the DSIR screen, trivially incremental at ingest. */
  def qualityLrApply(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.fanOut(Tables.documents(spark, dir))
    lrProbsOf(lrFeaturesOf(docs), lrModelCached(spark, dir))
      .join(docs.select("doc_id", "lang"), "doc_id")
      .withColumn("keep", (col("p") >= 0.5).cast("long"))
      .withColumn("p_fp", round(col("p") * 1e9, 0).cast("long"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("keep").as("kept"),
        (sum("p_fp") / count(lit(1)) / 1e9).as("mean_p"))
      .withColumn("kept_frac", round(col("kept") / col("n_docs"), 4))
      .select("lang", "n_docs", "kept", "kept_frac", "mean_p")
      .orderBy("lang")
  }

  /** CLASSIFIER CALIBRATION REPORT — the reliability diagram for the
    * trained quality classifier, as data: every document's predicted
    * probability lands in one of ten fixed-width bins, and per bin the
    * report carries the count, the mean PREDICTED probability, and the
    * OBSERVED positive rate. A well-calibrated model has mean_p ≈
    * obs_rate per bin; a collapsed or over-confident one shows up
    * immediately — the check a filtering rollout runs before trusting
    * p ≥ 0.5 as a keep threshold ([[qualityLrApply]]'s dial).
    * Same serving shape as apply: one feature pass + the broadcast
    * weight frame; the census is a 10-key group-by. Mean p accumulates
    * as nano fixed-point longs; the observed rate is an exact integer
    * ratio — bins derive from identical doubles in both engines (σ's
    * libm exp on identical inputs, the training determinism note). */
  def qualityLrCalibration(spark: SparkSession, dir: String): DataFrame =
    qualityLrCalibrationOf(Tables.fanOut(Tables.documents(spark, dir)),
      lrModelCached(spark, dir))

  /** [[qualityLrCalibration]] over any (doc_id, lang, text) frame and
    * trained weight frame. */
  private[graft] def qualityLrCalibrationOf(docs: DataFrame,
      weights: DataFrame): DataFrame =
    lrProbsOf(lrFeaturesOf(docs), weights)
      .withColumn("bin", least(floor(col("p") * 10).cast("long"), lit(9L)))
      .withColumn("p_fp", round(col("p") * 1e9, 0).cast("long"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"),
        (sum("p_fp") / count(lit(1)) / 1e9).as("mean_p"),
        round(sum(col("y").cast("long")) / count(lit(1)), 4).as("obs_rate"))
      .orderBy("bin")

  /** [[qualityLrTrain]] over any (doc_id, lang, text) frame. */
  def qualityLrTrainOf(docs: DataFrame): DataFrame =
    qualityLrTrainOf(docs, QualityLrRate, QualityLrIters)

  /** Per-doc hashed-n-gram feature rows (doc_id, y, bucket, cnt, n_g)
    * including the intercept pseudo-bucket −1 with cnt = n_g, so its
    * normalized value is exactly 1 — it rides every code path (score,
    * residual, gradient) unchanged and absorbs the base rate, without
    * which full-batch GD oscillates all-0/all-1 (the shared-vocabulary
    * mass acts as an unmodeled global bias). One corpus pass per
    * consumer; the training loop materializes it once. */
  private def lrFeaturesOf(docs: DataFrame): DataFrame = {
    val tokd = docs
      .withColumn("toks", toks(col("text")))
      .withColumn("y", (col("lang") === "en").cast("int").cast("double"))
      .filter(size(col("toks")) >= 1)
      .select(col("doc_id"), col("y"), col("toks"))
    val feat = tokd.select(col("doc_id"), col("y"),
        explode(concat(col("toks"), wordNgrams(col("toks"), 2))).as("g"))
      .select(col("doc_id"), col("y"), dsirBucketOf(col("g")).as("bucket"))
      .groupBy("doc_id", "y", "bucket")
      .agg(count(lit(1)).as("cnt"))
    val nGrams = feat.groupBy("doc_id").agg(sum("cnt").as("n_g"))
    feat.join(nGrams, "doc_id")
      .unionByName(
        feat.groupBy("doc_id").agg(first("y").as("y"), sum("cnt").as("cnt"))
          .withColumn("bucket", lit(-1L))
          .withColumn("n_g", col("cnt"))
          .select("doc_id", "y", "bucket", "cnt", "n_g"))
  }

  /** Per-doc σ-probabilities of a feature frame under a trained
    * nano-fixed-point weight frame — the SERVING kernel: one broadcast
    * equi-join on bucket, exact integer numerator, one libm exp. */
  private def lrProbsOf(withN: DataFrame, weights: DataFrame): DataFrame =
    withN.join(broadcast(weights), Seq("bucket"))
      .groupBy("doc_id")
      .agg(first("y").as("y"), first("n_g").as("n_g"),
        sum(col("w_fp") * col("cnt")).as("num"))
      .withColumn("s", col("num") / col("n_g") / 1e10)
      .withColumn("p", lit(1.0) / (lit(1.0) + exp(-col("s"))))
      .select("doc_id", "y", "p")

  /** The GD training loop, returning the trained WEIGHT FRAME
    * (bucket, w_fp) — bucket-bounded, retained latest-wins so the
    * census and apply consumers serve from one training run. Loop
    * discipline and fixed-point algebra unchanged from the census-only
    * form (the oracle is the proof: its hash-match survived the
    * refactor bit-for-bit). */
  private[graft] def qualityLrModelOf(docs: DataFrame, rate: Long,
      iters: Int): DataFrame = {
    Dedup.withCuts(docs.sparkSession) { cuts =>
      val withN = cuts.cut(lrFeaturesOf(docs))
      val nDocs = withN.filter(col("bucket") =!= -1L)
        .select("doc_id").distinct().agg(count(lit(1)).as("nn"))
      // per-doc probability under a nano-fixed-point weight frame;
      // w = null frame means w ≡ 0 (the init), where σ(0) = 0.5 exactly
      def probs(w: Option[DataFrame]): DataFrame = w match {
        case None =>
          withN.groupBy("doc_id").agg(first("y").as("y"))
            .withColumn("p", lit(0.5))
        case Some(wf) => lrProbsOf(withN, wf)
      }
      // one GD step: residual (9dp) → nano-rounded per-(doc,bucket)
      // contribution → exact integer gradient sum → integer update
      def step(w: Option[DataFrame]): DataFrame = {
        val r = probs(w)
          .withColumn("r9", round(col("p") - col("y"), 9))
          .select("doc_id", "r9")
        // MEAN gradient (the /N is what keeps the intercept's step
        // bounded — a summed gradient scales with corpus size and
        // oscillates the bias full-scale every step)
        val grad = withN.join(r, "doc_id").crossJoin(broadcast(nDocs))
          .select(col("bucket"),
            round(col("r9") * col("cnt") / col("n_g") / col("nn") * 1e10, 0)
              .cast("long").as("c_fp"))
          .groupBy("bucket").agg(sum("c_fp").as("g_fp"))
        w match {
          case None =>
            grad.select(col("bucket"), (-col("g_fp") * rate).as("w_fp"))
          case Some(wf) => wf.join(grad, Seq("bucket"), "left")
            .select(col("bucket"),
              (col("w_fp") - coalesce(col("g_fp"), lit(0L)) * rate)
                .as("w_fp"))
        }
      }
      // unrolled training loop, each weight frame pinned (bucket-bounded)
      var w: Option[DataFrame] = None
      (1 to iters).foreach { _ => w = Some(cuts.cut(step(w))) }
      // re-materialize the FINAL weights under their own retention so
      // every per-step pin (including the last) is retired at scope exit
      cuts.keep(s"qualityLrModel#$rate#$iters", cuts.cut(w.get))
    }
  }

  /** Memoized trained weights per (session, corpus) — the
    * train-once/serve-many contract shared with the ANN index and BPE
    * merge frames; [[graft.Bench]] charges the build to
    * `build:lr_model`. */
  private[graft] def lrModelCached(spark: SparkSession, dir: String): DataFrame =
    Dedup.memoizedFrame(spark, "lr_model", dir, "documents.parquet")(
      qualityLrModelOf(Tables.fanOut(Tables.documents(spark, dir)),
        QualityLrRate, QualityLrIters))

  /** Held-in confusion census of a feature frame under trained
    * weights — [[qualityLrTrain]]'s registered output. */
  private def lrCensusOf(docs: DataFrame, weights: DataFrame): DataFrame =
    lrProbsOf(lrFeaturesOf(docs), weights)
      .withColumn("pred", (col("p") >= 0.5).cast("int"))
      .withColumn("p_fp", round(col("p") * 1e9, 0).cast("long"))
      .groupBy(col("y").cast("int").as("label"), col("pred"))
      .agg(count(lit(1)).as("n_docs"),
        (sum("p_fp") / count(lit(1)) / 1e9).as("mean_p"))
      .orderBy("label", "pred")

  private[graft] def qualityLrTrainOf(docs: DataFrame, rate: Long,
      iters: Int): DataFrame =
    lrCensusOf(docs, qualityLrModelOf(docs, rate, iters))

  /** [[doremiMix]] over any (doc_id, lang, text) frame. */
  def doremiMixOf(docs: DataFrame): DataFrame =
    doremiMixFrom(doremiWeightsOf(docs), docs)

  /** The realized-draw tail over an explicit weights frame — the
    * registered pair shares [[bigramDomCached]]'s memoized census
    * through here; the `Of`-variant recomputes it self-contained. */
  private def doremiMixFrom(weights: DataFrame, docs: DataFrame): DataFrame = {
    Dedup.withCuts(docs.sparkSession) { cuts =>
      val wts = cuts.cut(weights)
      val drawn = drawnCensus(docs,
        wts.select(col("lang"), col("boost").as("rate")))
      val joined = wts.join(drawn, Seq("lang"), "left")
        .withColumn("docs_out", coalesce(col("docs_out"), lit(0L)))
      val tot = joined.agg(sum("docs_out").as("out_total"))
      cuts.keep("doremiMix", cuts.cut(
        joined.crossJoin(broadcast(tot))
          .select(col("lang"), col("n_docs"), col("alpha"),
            col("boost").as("rate"), col("docs_out"),
            round(col("docs_out") / col("out_total"), 6).as("achieved_share"))
          .orderBy("lang")))
    }
  }

  /** BM25 parameters (Robertson/Spärck Jones Okapi defaults) and the
    * retrieval shape: [[Bm25NQueries]] queries, each the top-3 tf-idf
    * terms of one probe document, top-[[Bm25TopK]] results per query. */
  val Bm25K1 = 1.2
  val Bm25B = 0.75
  val Bm25TopK = 3
  val Bm25NQueries = 5

  /** BM25 top-k retrieval — the lexical ranking half of a curation
    * pipeline (quality-by-retrievability audits, lexical
    * decontamination, and the seed step of hard-negative mining all
    * start here). Queries are derived from the corpus itself: query i
    * is the top-3 tf-idf terms of document i (the [[tfidfTop]]
    * arithmetic, already oracle-pinned by `q_text_tfidf`), so every
    * query is guaranteed to have matching postings and the ranking is
    * meaningful (self-retrieval: document i should surface for its own
    * signature terms).
    *
    * Scoring is the Okapi formula: for term t in document D,
    * `idf(t) * tf * (k1+1) / (tf + k1 * (1 - b + b * |D|/avgdl))` with
    * `idf = ln((N - df + 0.5)/(df + 0.5) + 1)` (the Lucene-style
    * always-positive variant).
    *
    * Scale posture — the inverted-index serving shape, relationally:
    * the corpus is tokenized ONCE into a postings frame (doc, term,
    * tf); the query-term list (|queries|·3 rows) BROADCASTS onto it, so
    * only postings of query terms survive the scan stage — the shuffle
    * that follows carries candidate postings, not the corpus. Corpus
    * constants (N, avgdl) ride in as a broadcast single-row frame; df
    * joins per-term on the already-pruned candidate set. Final ranking
    * windows over |queries| groups of candidates. Score is rounded to
    * 4dp with a doc_id tiebreak so both engines rank identically. */
  def bm25Retrieve(spark: SparkSession, dir: String): DataFrame =
    bm25RetrieveOf(Tables.fanOut(Tables.documents(spark, dir)))

  /** [[bm25Retrieve]] over an explicit `(doc_id, text)` frame. The
    * postings frame (doc, term, tf) is the shared substrate of FIVE
    * consumers (df, dl, corpus stats, query-term derivation, and the
    * candidate scoring join), so it is tokenized and aggregated ONCE as
    * an owned materialized RDD (the [[boilerplateStripOf]] discipline —
    * round-robin fan-out exchanges never canonicalize equal, so
    * `ReusedExchange` cannot be relied on to dedupe the five subtrees). */
  def bm25RetrieveOf(docs: DataFrame): DataFrame = {
    Dedup.withCuts(docs.sparkSession) { cuts =>
      val tf = cuts.cut(bm25Postings(docs))
      cuts.keep("bm25Retrieve", cuts.cut(bm25From(tf, docs)))
    }
  }

  /** The live BM25 dataflow over a materialized postings frame — the
    * PLANS.md audit hook (the registered query returns the retained
    * `ExistingRDD`). */
  private[graft] def bm25PlanOf(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.fanOut(Tables.documents(spark, dir))
    val tf = Dedup.unownedCut(bm25Postings(docs))
    bm25From(tf, docs)
  }

  private[graft] def bm25Postings(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(toks(col("text"))).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))

  /** The two Okapi factors over index columns (tf, df, dl, n, avgdl) —
    * single source of truth for the batch query, the RRF ranker and the
    * serving screen. */
  private def bm25Idf: Column =
    log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
  private def bm25Norm: Column =
    col("tf") * (Bm25K1 + 1.0) /
      (col("tf") + lit(Bm25K1) * (lit(1.0 - Bm25B) + lit(Bm25B) * col("dl") / col("avgdl")))

  /** DENORMALIZED BM25 serving index over a corpus frame: one row per
    * posting carrying everything scoring needs — (doc_id, word, tf,
    * df, dl, n, avgdl) — so a query-side join on `word` is the entire
    * serving plan (no stats cross join at serve time, which matters for
    * the STREAMING twin where a stream×static cross join is awkward).
    * Persist with [[writeBm25Index]] (bucketed+sorted on `word`) and
    * arriving queries join bucket-local with no index-side exchange. */
  def bm25IndexOf(docs: DataFrame): DataFrame = {
    val tf = bm25Postings(docs)
    val df = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    val stats = dl.agg(count(lit(1)).cast("double").as("n"),
      avg("dl").as("avgdl"))
    tf.join(df, "word").join(dl, "doc_id").crossJoin(broadcast(stats))
      .select("doc_id", "word", "tf", "df", "dl", "n", "avgdl")
  }

  def writeBm25Index(docs: DataFrame, table: String,
      buckets: Int = graft.operators.Dedup.BandIndexBuckets): Unit =
    bm25IndexOf(docs).write
      .mode("overwrite")
      .bucketBy(buckets, "word")
      .sortBy("word")
      .format("parquet")
      .saveAsTable(table)

  def readBm25Index(spark: SparkSession, table: String): DataFrame =
    spark.table(table)

  /** The shared BM25 scoring kernel: `(query_id, text)` queries against
    * a [[bm25IndexOf]]-shaped index. Query terms are the DISTINCT
    * tokens of the query text (standard bag-of-words querying); the
    * score per (query, doc) is the Okapi sum over matched postings,
    * rounded to 4dp. Used verbatim by the registered incremental query
    * and by [[graft.streaming.DocsStream.bm25ServeScreen]], so
    * stream ≡ batch is parity by construction. */
  def bm25ScoreOf(queries: DataFrame, index: DataFrame): DataFrame =
    queries
      .select(col("query_id"),
        explode(array_distinct(toks(col("text")))).as("word"))
      .join(index, "word")
      .groupBy("query_id", "doc_id")
      .agg(round(sum(bm25Idf * bm25Norm), 4).as("score"))

  /** Incremental BM25 serving — arriving probe documents (the odd
    * doc_ids < 10) scored against the index built from the EVEN half of
    * the corpus, the [[dupSpanApplyIncremental]] shape for retrieval:
    * the corpus appears only through the persisted-index equi-join on
    * `word`; everything else is batch-sized. */
  def bm25ServeInc(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.fanOut(Tables.documents(spark, dir))
    val idx = bm25IndexOf(d.filter(col("doc_id") % 2 === 0))
    val queries = d.filter(col("doc_id") % 2 === 1 && col("doc_id") < 10)
      .select(col("doc_id").as("query_id"), col("text"))
    bm25ScoreOf(queries, idx).orderBy("query_id", "doc_id")
  }

  /** BM25 INDEX MAINTENANCE — fold an arriving batch into a persisted
    * index snapshot WITHOUT rebuilding it: the `q_merge_ivm`
    * retract/apply discipline applied to the retrieval index. The
    * persisted layout for maintenance is the NORMALIZED components
    * (postings bucketed by word — what [[writeBm25Index]] persists
    * denormalized for pure serving — plus the word-keyed df table, the
    * doc-keyed dl table, and the 1-row corpus constants); the merge
    * touches each at its own delta cost:
    *
    *  - postings: APPEND the batch's (doc, word, tf) rows — O(batch);
    *  - df: word-keyed UPSERT (full-outer merge, coalesce-and-add) —
    *    only words the batch touches change, and on a word-bucketed
    *    layout the merge is co-partitioned with no index-side
    *    exchange;
    *  - dl: append (new doc_ids are disjoint by construction);
    *  - n/avgdl: fold the batch's count/sum into the stored totals —
    *    exact integer sums, so `(s_c+s_b)/(n_c+n_b)` is bit-identical
    *    to a full rebuild's `avg(dl)` (all dl totals < 2^53).
    *
    * The denormalized serve view then composes LAZILY over the merged
    * components, so the merged index is row-for-row IDENTICAL to
    * `bm25IndexOf(corpus ∪ batch)` (suite-pinned) and every serving
    * consumer — [[bm25ScoreOf]], the streaming twin — reads it
    * unchanged. What a rebuild pays corpus-sized, the merge pays
    * batch-sized: the SCALE.md §bm25merge table measures the merged
    * serve flat while the snapshot 10×es. */
  private[graft] def bm25MergedIndexOf(corpusPostings: DataFrame,
      batch: DataFrame): DataFrame = {
    val tfB = bm25Postings(batch)
    def dfOf(tf: DataFrame, as: String) =
      tf.groupBy("word").agg(count(lit(1)).as(as))
    def dlOf(tf: DataFrame) = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    val dfM = dfOf(corpusPostings, "df_c")
      .join(dfOf(tfB, "df_b"), Seq("word"), "full_outer")
      .select(col("word"),
        (coalesce(col("df_c"), lit(0L)) + coalesce(col("df_b"), lit(0L))).as("df"))
    val dlC = dlOf(corpusPostings)
    val dlB = dlOf(tfB)
    val dlM = dlC.unionByName(dlB)
    val statsM = dlC.agg(count(lit(1)).as("n_c"), sum("dl").as("s_c"))
      .crossJoin(dlB.agg(count(lit(1)).as("n_b"), sum("dl").as("s_b")))
      .select((col("n_c") + col("n_b")).cast("double").as("n"),
        ((col("s_c") + col("s_b")).cast("double") /
          (col("n_c") + col("n_b"))).as("avgdl"))
    corpusPostings.unionByName(tfB)
      .join(dfM, "word").join(dlM, "doc_id")
      .crossJoin(broadcast(statsM))
      .select("doc_id", "word", "tf", "df", "dl", "n", "avgdl")
  }

  /** Registered form: the odd-doc batch folds into the even-doc
    * snapshot's components, and the probe queries ([[bm25ServeInc]]'s)
    * serve from the MERGED index — the oracle recomputes the serve
    * against a FULL REBUILD over corpus ∪ batch, so the hash match IS
    * the merged ≡ rebuilt equivalence, cross-engine. */
  def bm25IndexMergeServe(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.fanOut(Tables.documents(spark, dir))
    val idx = bm25MergedIndexOf(
      bm25Postings(d.filter(col("doc_id") % 2 === 0)),
      d.filter(col("doc_id") % 2 === 1))
    val queries = d.filter(col("doc_id") % 2 === 1 && col("doc_id") < 10)
      .select(col("doc_id").as("query_id"), col("text"))
    bm25ScoreOf(queries, idx).orderBy("query_id", "doc_id")
  }

  /** INDEX RETRACTION — the right-to-be-forgotten path that closes the
    * maintenance algebra the add path ([[bm25MergedIndexOf]]) opened:
    * an erasure-request id list retracts from the persisted index
    * components WITHOUT a rebuild, each at its delta cost:
    *
    *  - postings: broadcast anti-join on the forget ids — the small
    *    side prunes in the scan stage (a production store flips a
    *    deletion bitmap instead of rewriting; the algebra is the same);
    *  - df: word-keyed DECREMENT by the forgotten docs' per-word
    *    posting counts, words whose last posting leaves DROP (df > 0);
    *  - dl: anti-join;
    *  - n/avgdl: subtract the forgotten count/sum from the stored
    *    totals — exact integer arithmetic, so `(s_c−s_f)/(n_c−n_f)` is
    *    bit-identical to the rebuild's `avg(dl)` over the kept docs.
    *
    * The retracted index is row-for-row IDENTICAL to
    * `bm25IndexOf(corpus ∖ forget)` (`Bm25ForgetSpec`), so every
    * serving consumer reads it unchanged and a forgotten document can
    * never influence a score again — the compliance guarantee is the
    * hash match, not a best-effort filter. */
  private[graft] def bm25ForgetIndexOf(corpusPostings: DataFrame,
      forgetIds: DataFrame): DataFrame = {
    val tfF = corpusPostings.join(broadcast(forgetIds), "doc_id")
    val dfC = corpusPostings.groupBy("word").agg(count(lit(1)).as("df_c"))
    val dfF = tfF.groupBy("word").agg(count(lit(1)).as("df_f"))
    val dfM = dfC.join(dfF, Seq("word"), "left_outer")
      .select(col("word"),
        (col("df_c") - coalesce(col("df_f"), lit(0L))).as("df"))
      .filter(col("df") > 0)
    val dlC = corpusPostings.groupBy("doc_id").agg(sum("tf").as("dl"))
    val dlM = dlC.join(broadcast(forgetIds), Seq("doc_id"), "left_anti")
    val statsM = dlC.agg(count(lit(1)).as("n_c"), sum("dl").as("s_c"))
      .crossJoin(dlC.join(broadcast(forgetIds), "doc_id")
        .agg(count(lit(1)).as("n_f"),
          coalesce(sum("dl"), lit(0L)).as("s_f")))
      .select((col("n_c") - col("n_f")).cast("double").as("n"),
        ((col("s_c") - col("s_f")).cast("double") /
          (col("n_c") - col("n_f"))).as("avgdl"))
    corpusPostings.join(broadcast(forgetIds), Seq("doc_id"), "left_anti")
      .join(dfM, "word").join(dlM, "doc_id")
      .crossJoin(broadcast(statsM))
      .select("doc_id", "word", "tf", "df", "dl", "n", "avgdl")
  }

  /** Registered form: the deterministic erasure list (doc_id ≡
    * [[graft.operators.CorpusMerge.ForgetRem]] mod
    * [[graft.operators.CorpusMerge.ForgetMod]]) retracts from the
    * full-corpus index and the standard probes serve from the
    * retracted index — the oracle serves against a FULL REBUILD over
    * corpus ∖ forget, so the hash match IS retracted ≡ rebuilt.
    * Probe doc 3 is itself forgotten: querying WITH an erased
    * document's text remains legal, it just can no longer be found. */
  def bm25IndexForgetServe(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.fanOut(Tables.documents(spark, dir))
    val forget = d.filter(
        col("doc_id") % CorpusMerge.ForgetMod === CorpusMerge.ForgetRem)
      .select("doc_id")
    val idx = bm25ForgetIndexOf(bm25Postings(d), forget)
    val queries = d.filter(col("doc_id") % 2 === 1 && col("doc_id") < 10)
      .select(col("doc_id").as("query_id"), col("text"))
    bm25ScoreOf(queries, idx).orderBy("query_id", "doc_id")
  }

  /** Per-term posting cap for the impact-ordered serving index
    * ([[bm25CappedIndexOf]]) — the recall/cost dial, like LSH banding:
    * larger keeps more of each term's tail. CALIBRATED, not guessed:
    * the registered sweep ([[bm25CapSweepAudit]]) measures recall@10
    * vs the uncapped ranking per candidate cap — on THIS corpus's
    * flat synthetic idf (scores accumulate over many weak shared
    * terms) caps of 4–64 lose most of the top-10 (0.0/0.0/0.1) while
    * 256 is lossless, so 256 is the default; a Zipfian production
    * corpus tolerates far smaller caps (hot terms contribute little
    * per posting), and the sweep is the artifact a rollout re-runs to
    * pick its own knee. */
  val Bm25CapK = 256

  /** IMPACT-ORDERED, PER-TERM-CAPPED BM25 index — the posting-length
    * bound production retrieval serves under (Anh & Moffat's
    * impact-sorted indexes; the static index-pruning half of
    * WAND-family processing). The un-capped serve join
    * ([[bm25ScoreOf]]) touches EVERY posting of every query term, so a
    * hot term makes a query linear in the corpus — sf1 measured the
    * fusion join growing with posting length (SCALE.md §retrieval).
    * The fix is decided at INDEX time: a posting's exact Okapi
    * contribution ("impact" = idf·norm) is fully determined by the
    * stored stats (tf, df, dl, n, avgdl), so each term keeps only its
    * top-[[Bm25CapK]] postings by (6dp-rounded impact, doc_id) — serve
    * cost is then ≤ cap·|query terms| REGARDLESS of corpus size, and
    * the dropped tail is each term's provably least-contributing
    * postings. A capped serve is a documented recall dial, not an
    * approximation bug: scores of surviving (query, doc) pairs are
    * EXACT (the stored impact is the exact term contribution), only
    * docs cut from a term's list lose that term's contribution —
    * `Bm25CappedSpec` pins cap-doesn't-bind ≡ full serve and the
    * lowest-impact-tail-only drop rule.
    *
    * Scale posture: one [[bm25IndexOf]] pass plus a per-word
    * `WindowGroupLimit` rank (partial top-cap before the shuffle);
    * persisted bucketed by `word` like [[writeBm25Index]], arriving
    * queries join bucket-local. Cross-engine determinism: ranking and
    * the cap cut on the ROUNDED impact with the doc_id tiebreak, the
    * library's standard discipline. */
  def bm25CappedIndexOf(docs: DataFrame, cap: Int = Bm25CapK): DataFrame = {
    // impact stored BOTH as the 6dp double (human-readable index
    // column) and as micro-fixed-point BIGINT: serve-time score sums
    // run over the integers, so accumulation order cannot move a
    // 4dp-boundary rounding between engines (the nano-fixed-point LR
    // discipline; a 256-term float sum measurably crossed a boundary)
    val idx = bm25IndexOf(docs)
      .withColumn("impact", round(bm25Idf * bm25Norm, 6))
      .withColumn("impact_fp", round(col("impact") * 1e6, 0).cast("long"))
    val w = Window.partitionBy("word").orderBy(desc("impact"), asc("doc_id"))
    idx.withColumn("irnk", row_number().over(w))
      .filter(col("irnk") <= cap)
      .select("doc_id", "word", "impact", "impact_fp")
  }

  /** Serving over a capped index: the [[bm25ScoreOf]] join with the
    * stored fixed-point impacts summed exactly — no per-posting Okapi
    * arithmetic at serve time at all (the other win of impact-ordered
    * indexes), and integer sums are order-independent so the 4dp score
    * is deterministic cross-engine. */
  def bm25CappedScoreOf(queries: DataFrame, index: DataFrame): DataFrame =
    queries
      .select(col("query_id"),
        explode(array_distinct(toks(col("text")))).as("word"))
      .join(index, "word")
      .groupBy("query_id", "doc_id")
      // 4dp half-up in INTEGER micro-units, then one exact division:
      // round(sum/1e6, 4) re-rounds a double and the two engines split
      // decimal-half boundaries (8.37385 measurably rounded both ways)
      .agg((floor((sum("impact_fp") + lit(50)) / lit(100.0)) / 1e4)
        .as("score"))

  /** Cap values the sweep audits — the dial positions a rollout would
    * choose between (the [[Bm25CapK]] production default sits inside). */
  val Bm25CapSweep: Seq[Int] = Seq(4, 16, 64, 256)

  /** CAP-DIAL CALIBRATION sweep — the `q_dedup_lsh_sweep` discipline
    * applied to the posting cap: for each candidate cap, how much of
    * the UNCAPPED top-10 ranking does the capped serve recover? The
    * uncapped ranking IS ground truth for this dial (the cap is a
    * lossy index-pruning choice; no external labels needed), so
    * recall@10 per cap is the exact number that picks [[Bm25CapK]]
    * before a rollout — the same evidence pattern as the LSH banding
    * sweep and the ANN recall audits.
    *
    * One index build serves every arm: the full impact-ranked postings
    * frame (irnk already computed by the per-word window) is built
    * ONCE; each cap is a FILTER over it, each arm's serve the same
    * capped join, each ranking a Partial/Final WindowGroupLimit.
    * Output one row per cap: (cap, n_queries, hits10, recall10) with
    * recall10 = hits/(10·queries), 4dp — plus the uncapped arm's row
    * (cap = 0 by convention, recall 1) as the in-band reference. */
  def bm25CapSweepAudit(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.fanOut(Tables.documents(spark, dir))
    val snap = d.filter(col("doc_id") % 2 === 0)
    val queries = d.filter(col("doc_id") % 2 === 1 && col("doc_id") < 10)
      .select(col("doc_id").as("query_id"), col("text"))
    // the ranked impact frame, built once (cap = ∞ keeps every row and
    // its irnk); materialized so the K+1 arms share one build
    val idx = bm25IndexOf(snap)
      .withColumn("impact", round(bm25Idf * bm25Norm, 6))
      .withColumn("impact_fp", round(col("impact") * 1e6, 0).cast("long"))
    val w = Window.partitionBy("word").orderBy(desc("impact"), asc("doc_id"))
    Dedup.withCuts(spark, None) { cuts =>
      val ranked = cuts.cut(
        idx.withColumn("irnk", row_number().over(w))
          .select("doc_id", "word", "impact_fp", "irnk"))
      val qTerms = queries
        .select(col("query_id"), explode(array_distinct(toks(col("text")))).as("word"))
      def top10(index: DataFrame): DataFrame = {
        // fixed-point sums: rank boundaries at 4dp cannot move with
        // accumulation order (same discipline as the serve)
        val scored = qTerms.join(index, "word")
          .groupBy("query_id", "doc_id")
          .agg((floor((sum("impact_fp") + lit(50)) / lit(100.0)) / 1e4)
            .as("score"))
        val wq = Window.partitionBy("query_id").orderBy(desc("score"), asc("doc_id"))
        scored.withColumn("rnk", row_number().over(wq))
          .filter(col("rnk") <= 10).select("query_id", "doc_id")
      }
      val full10 = top10(ranked)
      val nQ = lit(queries.count())
      val rows = Bm25CapSweep.map { cap =>
        top10(ranked.filter(col("irnk") <= cap))
          .join(full10, Seq("query_id", "doc_id"), "left_semi")
          .agg(count(lit(1)).as("hits10"))
          .select(lit(cap).as("cap"), nQ.as("n_queries"), col("hits10"),
            round(col("hits10").cast("double") / (nQ * 10.0), 4).as("recall10"))
      }
      val reference = full10.agg(count(lit(1)).as("hits10"))
        .select(lit(0).as("cap"), nQ.as("n_queries"), col("hits10"),
          lit(1.0).as("recall10"))
      val out = rows.reduce(_ unionByName _).unionByName(reference)
        .orderBy("cap")
      cuts.keep("bm25CapSweep", cuts.cut(out))
    }
  }

  /** Registered form: [[bm25ServeInc]]'s probe workload (odd doc_ids
    * < 10 against the even-half snapshot) served from the CAPPED
    * index — the oracle rebuilds the identical capped index in SQL, so
    * the gate pins the impact arithmetic, the per-term cut and the
    * capped serve join cross-engine. SCALE.md §bm25cap measures the
    * serve bounded while the corpus 10×es. */
  def bm25CappedServe(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.fanOut(Tables.documents(spark, dir))
    val idx = bm25CappedIndexOf(d.filter(col("doc_id") % 2 === 0))
    val queries = d.filter(col("doc_id") % 2 === 1 && col("doc_id") < 10)
      .select(col("doc_id").as("query_id"), col("text"))
    bm25CappedScoreOf(queries, idx).orderBy("query_id", "doc_id")
  }

  /** RRF constant (Cormack et al. 2009's k=60), per-ranker candidate
    * depth, and the Dirichlet smoothing mass for the query-likelihood
    * ranker (Zhai & Lafferty). */
  val RrfK = 60
  val RrfDepth = 10
  val LmMu = 300.0

  /** Hybrid-retrieval fusion — reciprocal rank fusion of two rankers
    * over the SAME probe queries: Okapi BM25 and a Dirichlet-smoothed
    * query-likelihood language model,
    * `score(q,D) = Σ_t ln((tf + μ·ctf_t/|C|) / (dl + μ))`. Each ranker
    * contributes its top-[[RrfDepth]] per query;
    * `rrf = Σ_r 1/(RrfK + rank_r)` with absent entries contributing 0,
    * top-[[Bm25TopK]] fused results per query. RRF is the standard
    * engine-side step that merges lexical and second-opinion rankings
    * without score calibration — rank arithmetic only, so cross-engine
    * float drift cannot reorder the fusion once each ranker's
    * (rounded-score, doc_id) ranking is pinned.
    *
    * Scale posture: ONE materialized postings frame serves both rankers
    * (tf, df, dl, ctf, |C| all derive from it); candidates are docs
    * sharing ≥1 query term (the inverted-index candidate step — the
    * LM grid is |candidates|×|query terms|, never corpus-sized), and
    * every ranking is a Partial/Final `WindowGroupLimit` over
    * candidates of one query. */
  def rrfFuse(spark: SparkSession, dir: String): DataFrame =
    rrfFuseOf(Tables.fanOut(Tables.documents(spark, dir)))

  /** [[rrfFuse]] over an explicit `(doc_id, text)` frame. */
  def rrfFuseOf(docs: DataFrame): DataFrame = {
    Dedup.withCuts(docs.sparkSession) { cuts =>
      val tf = cuts.cut(bm25Postings(docs))
      cuts.keep("rrfFuse", cuts.cut(rrfFrom(tf, docs)))
    }
  }

  /** The live RRF dataflow over a materialized postings frame — the
    * PLANS.md audit hook (the registered query returns the retained
    * `ExistingRDD`). */
  private[graft] def rrfPlanOf(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.fanOut(Tables.documents(spark, dir))
    val tf = Dedup.unownedCut(bm25Postings(docs))
    rrfFrom(tf, docs)
  }

  /** HYBRID retrieval — the lexical+vector serving pipeline a RAG/
    * curation stack actually runs: Okapi BM25 over the inverted index
    * and exact cosine over the document embeddings (`vec_id` keys the
    * corpus 1:1 with `doc_id`), fused by reciprocal rank — the
    * calibration-free merge of [[rrfFuse]], here across MODALITIES
    * rather than across two lexical rankers. Self-matches are excluded
    * (the query is a corpus document; serving returns its neighbors).
    *
    * Cross-engine determinism: each ranker pins its ranking on a
    * (rounded score, doc_id) total order, and the fusion is rank
    * arithmetic only — `Σ 1/(RrfK + rank)` of small-integer
    * reciprocals, identical doubles in both engines.
    *
    * Scale posture: the BM25 leg is the [[bm25ScoreOf]] serving join
    * (query-term postings only; at 100 TB the persisted
    * [[writeBm25Index]] snapshot joins bucket-local); the vector leg
    * broadcasts |queries| embeddings for one narrow corpus pass
    * (brute-force is the registered exact form — the IVF-routed server
    * `q_ann_ivf_routed` is the drop-in at corpus scales where exact
    * scan is off-budget); every ranking is a Partial/Final
    * `WindowGroupLimit`, and the fusion join carries ≤ 2·RrfDepth rows
    * per query. */
  def hybridRetrieve(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.fanOut(Tables.documents(spark, dir))
    val queries = docs.filter(col("doc_id") < Bm25NQueries)
      .select(col("doc_id").as("query_id"), col("text"))
    hybridFuseWith(spark, dir,
      bm25ScoreOf(queries, bm25IndexOf(docs))
        .filter(col("doc_id") =!= col("query_id")))
  }

  /** [[hybridRetrieve]] SERVED FROM THE CAPPED INDEX — the production
    * form of the hybrid pipeline: the lexical leg reads the
    * impact-ordered per-term-capped index ([[bm25CappedIndexOf]] —
    * serve cost ≤ cap·|query terms| whatever the corpus), summing
    * stored impacts with zero per-posting Okapi arithmetic; the vector
    * leg and the reciprocal-rank fusion are unchanged. This is the
    * registered answer to the sf1 finding that the uncapped fusion
    * join grows with posting length: the capped serve is the bound,
    * the cap the documented recall dial (a doc cut from a hot term's
    * list loses that term's contribution, exactly as in
    * [[bm25CappedServe]]). The oracle rebuilds the identical capped
    * index inside the hybrid SQL, so cap arithmetic, cut, serve and
    * fusion are all pinned cross-engine. */
  def hybridRetrieveCapped(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.fanOut(Tables.documents(spark, dir))
    val queries = docs.filter(col("doc_id") < Bm25NQueries)
      .select(col("doc_id").as("query_id"), col("text"))
    hybridFuseWith(spark, dir,
      bm25CappedScoreOf(queries, bm25CappedIndexOf(docs))
        .filter(col("doc_id") =!= col("query_id")))
  }

  /** The shared vector leg + reciprocal-rank fusion tail over ANY
    * scored lexical leg (query_id, doc_id, score) — one definition,
    * so the uncapped and capped hybrids can never diverge in fusion
    * semantics. */
  private def hybridFuseWith(spark: SparkSession, dir: String,
      lex: DataFrame): DataFrame =
    rrfFusedOf(lexRankedOf(lex), vecRankedOf(spark, dir))
      .filter(col("rank") <= 5)
      .select("query_id", "rank", "doc_id", "rank_lex", "rank_vec", "rrf")
      .orderBy("query_id", "rank")

  /** Top-[[RrfDepth]] ranking of any scored lexical leg (query_id,
    * doc_id, score) — (rounded score, doc_id) tie-break, planned as
    * Partial/Final `WindowGroupLimit`. */
  private def lexRankedOf(lex: DataFrame): DataFrame = {
    val wl = Window.partitionBy("query_id").orderBy(desc("score"), asc("doc_id"))
    lex.withColumn("rank_lex", row_number().over(wl))
      .filter(col("rank_lex") <= RrfDepth)
      .select("query_id", "doc_id", "rank_lex")
  }

  /** The vector leg: exact cosine of the broadcast query embeddings
    * against the corpus, top-[[RrfDepth]] per query (self excluded). */
  private def vecRankedOf(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions
    val e = Tables.fanOut(Tables.embeddings(spark, dir))
    val qv = e.filter(col("vec_id") < Bm25NQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val vec = e.crossJoin(broadcast(qv))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("doc_id"),
        round(VectorFunctions.cosine(col("q_emb"), col("embedding")), 6)
          .as("cos"))
    val wv = Window.partitionBy("query_id").orderBy(desc("cos"), asc("doc_id"))
    vec.withColumn("rank_vec", row_number().over(wv))
      .filter(col("rank_vec") <= RrfDepth)
      .select("query_id", "doc_id", "rank_vec")
  }

  /** Reciprocal-rank fusion of two rank frames, fully ranked (`rank`
    * carries the fused position; callers cut to their depth). */
  private def rrfFusedOf(lexRanked: DataFrame, vecRanked: DataFrame): DataFrame = {
    val fused = lexRanked
      .join(vecRanked, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"),
        coalesce(col("rank_lex"), lit(0)).cast("long").as("rank_lex"),
        coalesce(col("rank_vec"), lit(0)).cast("long").as("rank_vec"),
        round(
          coalesce(lit(1.0) / (lit(RrfK) + col("rank_lex")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(RrfK) + col("rank_vec")), lit(0.0)),
          6).as("rrf"))
    val wf = Window.partitionBy("query_id").orderBy(desc("rrf"), asc("doc_id"))
    fused.withColumn("rank", row_number().over(wf))
  }

  /** Rank-quality audit depth (nDCG@10 / MRR@10). */
  val NdcgDepth = 10

  /** Fixed-point DCG discount table: disc(r) = round(1e6/log₂(r+1)),
    * r = 1..[[NdcgDepth]]. Computed ONCE here and interpolated into the
    * oracle as integer literals, so neither engine evaluates a
    * transcendental at query time and the DCG sums are pure BIGINT
    * arithmetic — order-independent, bit-identical cross-engine (the
    * impact_fp discipline applied to rank discounts). */
  private[graft] val NdcgDiscFp: Seq[Long] =
    (1 to NdcgDepth).map(r => math.round(1e6 / (math.log(r + 1.0) / math.log(2.0))))

  /** RETRIEVAL RANK-QUALITY audit — the cap sweep's recall discipline
    * extended to GRADED rank quality: nDCG@10 and MRR of the three
    * serving arms (lexical-only BM25, the full hybrid, the capped-index
    * hybrid) against the engine's own most complete ranking as ground
    * truth. The full hybrid IS the ideal by construction (uncapped
    * lexical leg + exact vector leg, reciprocally fused), so its row
    * reads (1.0, 1.0) — the in-band reference, like the sweep's cap=0
    * row — while the BM25-only and capped rows measure exactly what a
    * rollout trades away: relevance grade of ideal rank r is 11−r,
    * DCG discounts are the precomputed [[NdcgDiscFp]] integers, MRR is
    * the reciprocal rank of the ideal's top-1 doc.
    *
    * Every division is integer (`div` / `//`) until one final divide by
    * a power of ten, so both engines emit identical doubles. ONE
    * index build (the impact-augmented [[bm25IndexOf]] frame) serves
    * all three lexical arms; the vector leg is computed once and
    * shared by both hybrid arms. All frames after the legs are
    * ≤ queries×depth rows — audit cost is serving cost, not a second
    * corpus pass. */
  def retrievalRankQuality(spark: SparkSession, dir: String): DataFrame = {
    Dedup.withCuts(spark) { cuts =>
      cuts.keep("retrievalRankQuality",
        cuts.cut(rankQualityBuild(spark, dir, cuts.cut)))
    }
  }

  /** Plan-audit hook: the live audit dataflow over the materialized
    * index/vector-leg/ideal frames (the registered query returns a
    * retained `ExistingRDD`). */
  private[graft] def rankQualityPlanOf(spark: SparkSession, dir: String): DataFrame =
    rankQualityBuild(spark, dir, Dedup.unownedCut)

  private def rankQualityBuild(spark: SparkSession, dir: String,
      cut: DataFrame => DataFrame): DataFrame = {
    val docs = Tables.fanOut(Tables.documents(spark, dir))
    val queries = docs.filter(col("doc_id") < Bm25NQueries)
      .select(col("doc_id").as("query_id"), col("text"))
    val idx = cut(
      bm25IndexOf(docs)
        .withColumn("impact", round(bm25Idf * bm25Norm, 6))
        .withColumn("impact_fp", round(col("impact") * 1e6, 0).cast("long")))
    val vecR = cut(vecRankedOf(spark, dir))
    val lexFull = bm25ScoreOf(queries, idx)
      .filter(col("doc_id") =!= col("query_id"))
    // r14 (VERDICT #5): the uncapped lexical ranking is consumed by
    // TWO arms (the ideal hybrid's fusion leg and the bm25-only arm)
    // — the r13 shape re-ran the full bm25ScoreOf pass over the
    // materialized index per consumer. One queries×depth cut serves
    // both; the capped leg shares nothing with it (different index
    // slice), honestly left as its own pass.
    val lexR = cut(lexRankedOf(lexFull))
    val wCap = Window.partitionBy("word").orderBy(desc("impact"), asc("doc_id"))
    val capped = idx.withColumn("irnk", row_number().over(wCap))
      .filter(col("irnk") <= Bm25CapK)
      .select("doc_id", "word", "impact", "impact_fp")
    val lexCapped = bm25CappedScoreOf(queries, capped)
      .filter(col("doc_id") =!= col("query_id"))
    val ideal = cut(
      rrfFusedOf(lexR, vecR)
        .filter(col("rank") <= NdcgDepth)
        .select(col("query_id"), col("doc_id"), col("rank").as("irank")))
    val capped10 = rrfFusedOf(lexRankedOf(lexCapped), vecR)
      .filter(col("rank") <= NdcgDepth)
      .select("query_id", "doc_id", "rank")
    val bm10 = lexR
      .select(col("query_id"), col("doc_id"), col("rank_lex").as("rank"))
    val disc = typedLit(NdcgDiscFp)
    val idcg = ideal.groupBy("query_id")
      .agg(sum((lit(11L) - col("irank")) *
        element_at(disc, col("irank").cast("int"))).as("idcg_fp"))
    val top1 = ideal.filter(col("irank") === 1).select("query_id", "doc_id")
    // r14: the three arms' DCG/MRR chains run as ONE union'd grid —
    // the r13 shape ran armOf(name, arm) three times (4 joins + 2
    // aggregates each over ≤ queries×depth rows), and the query was
    // stage-count bound, not data bound (probe: 60 stages for a
    // handful of 50-row joins). Tagging each arm with its system name
    // and keying every join/aggregate by (system, query_id) computes
    // the identical per-arm algebra in one chain; the idcg×systems
    // grid reproduces armOf's all-queries row count per arm.
    def tagged(name: String, arm: DataFrame): DataFrame =
      arm.select(lit(name).as("system"), col("query_id"),
        col("doc_id"), col("rank"))
    val arms = tagged("bm25", bm10)
      .unionByName(tagged("hybrid",
        ideal.select(col("query_id"), col("doc_id"), col("irank").as("rank"))))
      .unionByName(tagged("hybrid_capped", capped10))
    val dcg = arms.join(ideal, Seq("query_id", "doc_id"), "left")
      .groupBy("system", "query_id")
      .agg(sum(coalesce(lit(11L) - col("irank"), lit(0L)) *
        element_at(disc, col("rank").cast("int"))).as("dcg_fp"))
    val rr = arms.join(top1, Seq("query_id", "doc_id"))
      .select(col("system"), col("query_id"),
        expr("1000000 div rank").as("rr_fp"))
    val spark2 = ideal.sparkSession
    import spark2.implicits._
    val systems = Seq("bm25", "hybrid", "hybrid_capped").toDF("system")
    idcg.crossJoin(broadcast(systems))
      .join(dcg, Seq("system", "query_id"), "left")
      .join(rr, Seq("system", "query_id"), "left")
      .select(col("system"),
        expr("(coalesce(dcg_fp, 0) * 10000) div idcg_fp").as("ndcg_fp"),
        coalesce(col("rr_fp"), lit(0L)).as("rr_fp"))
      .groupBy("system")
      .agg(count(lit(1)).as("n_queries"),
        (expr("sum(ndcg_fp) div count(1)") / 1e4).as("ndcg10"),
        (expr("sum(rr_fp) div count(1)") / 1e6).as("mrr"))
      .orderBy("system")
  }

  private def rrfFrom(tf: DataFrame, docs: DataFrame): DataFrame = {
    val df = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    val ctf = tf.groupBy("word").agg(sum("tf").as("ctf"))
    val stats = dl.agg(count(lit(1)).cast("double").as("n"),
      avg("dl").as("avgdl"), sum("dl").cast("double").as("c_total"))
    val n1 = docs.agg(count(lit(1)).as("n"))
    val qscored = tf.filter(col("doc_id") < Bm25NQueries)
      .join(df, "word").crossJoin(broadcast(n1))
      .select(col("doc_id").as("query_id"), col("word"),
        round(col("tf") * log(col("n").cast("double") / col("df")), 4)
          .as("tscore"))
    val qw = Window.partitionBy("query_id").orderBy(desc("tscore"), asc("word"))
    val queryTerms = qscored
      .withColumn("trank", row_number().over(qw))
      .filter(col("trank") <= 3).select("query_id", "word")
    // candidate docs: share >= 1 query term (the inverted-index step)
    val hits = tf.join(broadcast(queryTerms), "word")
    val candidates = hits.select("query_id", "doc_id").distinct()
    val qtWords = queryTerms.select("word").distinct()
    // ranker 1: BM25 over the hit postings (df pruned to query terms —
    // broadcast-certain, as in bm25From)
    val w = Window.partitionBy("query_id").orderBy(desc("score"), asc("doc_id"))
    val bmRanked = hits.join(dl, "doc_id")
      .join(broadcast(df.join(broadcast(qtWords), "word")), "word")
      .crossJoin(broadcast(stats))
      .groupBy("query_id", "doc_id")
      .agg(round(sum(bm25Idf * bm25Norm), 4).as("score"))
      .withColumn("rank_bm25", row_number().over(w))
      .filter(col("rank_bm25") <= RrfDepth)
      .select("query_id", "doc_id", "rank_bm25")
    // ranker 2: query-likelihood with Dirichlet smoothing over the full
    // candidate x query-term grid (absent terms keep the smoothing mass).
    // The left-join lookup side is the QUERY-TERM postings slice, not the
    // whole tf frame — grid rows only ever match query-term words, and a
    // left join cannot broadcast a corpus-sized right side (the
    // unpruned form shuffled all of tf for a candidates-bounded lookup)
    val tfPruned = tf.join(broadcast(qtWords), "word")
    val ctfPruned = ctf.join(broadcast(qtWords), "word")
    val grid = candidates.join(broadcast(queryTerms), "query_id")
      .join(tfPruned, Seq("doc_id", "word"), "left")
      .join(broadcast(ctfPruned), "word")
      .join(dl, "doc_id").crossJoin(broadcast(stats))
    val lmTerm = log(
      (coalesce(col("tf"), lit(0L)) + lit(LmMu) * col("ctf") / col("c_total")) /
        (col("dl") + LmMu))
    val lmRanked = grid.groupBy("query_id", "doc_id")
      .agg(round(sum(lmTerm), 4).as("score"))
      .withColumn("rank_lm", row_number().over(w))
      .filter(col("rank_lm") <= RrfDepth)
      .select("query_id", "doc_id", "rank_lm")
    // fusion: rank arithmetic only
    val fused = bmRanked.join(lmRanked, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"),
        coalesce(col("rank_bm25"), lit(0)).cast("long").as("rank_bm25"),
        coalesce(col("rank_lm"), lit(0)).cast("long").as("rank_lm"),
        round(
          when(col("rank_bm25").isNotNull,
            lit(1.0) / (col("rank_bm25") + RrfK)).otherwise(lit(0.0)) +
          when(col("rank_lm").isNotNull,
            lit(1.0) / (col("rank_lm") + RrfK)).otherwise(lit(0.0)), 6)
          .as("rrf"))
    val wf = Window.partitionBy("query_id").orderBy(desc("rrf"), asc("doc_id"))
    fused.withColumn("rank", row_number().over(wf).cast("long"))
      .filter(col("rank") <= Bm25TopK)
      .select("query_id", "rank", "doc_id", "rrf", "rank_bm25", "rank_lm")
      .orderBy("query_id", "rank")
  }

  /** The shared index/query substrate of [[bm25From]] and [[rm3From]]:
    * per-term df, per-doc dl, the 1-row corpus stats and the derived
    * probe query terms (the q_text_tfidf top-3 arithmetic). */
  private final case class Bm25Parts(df: DataFrame, dl: DataFrame,
    stats: DataFrame, queryTerms: DataFrame)

  private def bm25PartsOf(tf: DataFrame, docs: DataFrame): Bm25Parts = {
    val df = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    val stats = dl.agg(count(lit(1)).cast("double").as("n"),
      avg("dl").as("avgdl"))
    // query terms: the q_text_tfidf top-3 arithmetic over the probe docs
    val n1 = docs.agg(count(lit(1)).as("n"))
    val qscored = tf.filter(col("doc_id") < Bm25NQueries)
      .join(df, "word").crossJoin(broadcast(n1))
      .select(col("doc_id").as("query_id"), col("word"),
        round(col("tf") * log(col("n").cast("double") / col("df")), 4)
          .as("tscore"))
    val qw = Window.partitionBy("query_id").orderBy(desc("tscore"), asc("word"))
    val queryTerms = qscored
      .withColumn("trank", row_number().over(qw))
      .filter(col("trank") <= 3).select("query_id", "word")
    Bm25Parts(df, dl, stats, queryTerms)
  }

  /** [[bm25PartsOf]] with the multiply-consumed parts MATERIALIZED
    * (r14, VERDICT #5): in the lazily-shared form every reference to
    * `df`/`dl`/`queryTerms` re-derived a full pass over the postings
    * frame — rm3's two serve passes plus the relevance-model join
    * referenced them 7+ times. `df` and `dl` are vocabulary/corpus-doc
    * sized cuts; `queryTerms` is queries×3 rows; `stats` stays lazy
    * (one pass over the materialized `dl`). Values are unchanged — the
    * cuts pin exactly the rows the lazy form recomputed. */
  private def bm25PartsMaterialized(tf: DataFrame, docs: DataFrame,
      cut: DataFrame => DataFrame): Bm25Parts = {
    val df = cut(tf.groupBy("word").agg(count(lit(1)).as("df")))
    val dl = cut(tf.groupBy("doc_id").agg(sum("tf").as("dl")))
    val stats = dl.agg(count(lit(1)).cast("double").as("n"),
      avg("dl").as("avgdl"))
    val n1 = docs.agg(count(lit(1)).as("n"))
    val qscored = tf.filter(col("doc_id") < Bm25NQueries)
      .join(df, "word").crossJoin(broadcast(n1))
      .select(col("doc_id").as("query_id"), col("word"),
        round(col("tf") * log(col("n").cast("double") / col("df")), 4)
          .as("tscore"))
    val qw = Window.partitionBy("query_id").orderBy(desc("tscore"), asc("word"))
    val qt = cut(
      qscored.withColumn("trank", row_number().over(qw))
        .filter(col("trank") <= 3).select("query_id", "word"))
    Bm25Parts(df, dl, stats, qt)
  }

  /** Okapi scores for WEIGHTED query terms — (query_id, word, qweight)
    * against the postings frame, score = Σ qweight·idf·norm rounded
    * 4dp. [[bm25From]] is the qweight ≡ 1 case; [[rm3From]]'s re-serve
    * is the interpolated-expansion case. */
  private def bm25ScoredOf(tf: DataFrame, p: Bm25Parts,
      terms: DataFrame): DataFrame = {
    // df pruned to query-term words (the same slice the postings join
    // keeps) so the per-term df lookup is broadcast-certain
    val dfPruned =
      p.df.join(broadcast(terms.select("word").distinct()), "word")
    tf.join(broadcast(terms), "word")
      .join(p.dl, "doc_id").join(broadcast(dfPruned), "word")
      .crossJoin(broadcast(p.stats))
      .groupBy("query_id", "doc_id")
      .agg(round(sum(col("qweight") * bm25Idf * bm25Norm), 4).as("score"))
  }

  private def bm25RankedOf(scored: DataFrame): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(desc("score"), asc("doc_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= Bm25TopK)
      .select("query_id", "rank", "doc_id", "score")
      .orderBy("query_id", "rank")
  }

  private def bm25From(tf: DataFrame, docs: DataFrame): DataFrame = {
    val p = bm25PartsOf(tf, docs)
    bm25RankedOf(bm25ScoredOf(tf, p,
      p.queryTerms.withColumn("qweight", lit(1.0))))
  }

  /** RM3 feedback depth (docs per query), expansion width (terms per
    * query) and the original-query interpolation weight λ. */
  val Rm3FbDocs = 3
  val Rm3FbTerms = 5
  val Rm3Lambda = 0.5

  /** RM3 PSEUDO-RELEVANCE-FEEDBACK query expansion (Lavrenko & Croft's
    * relevance model, interpolated as in Abdul-Jaleel et al., TREC
    * 2004 — the classic recall lever a retrieval stack reaches for
    * before a neural reranker): serve each query once, treat its top
    * [[Rm3FbDocs]] documents as pseudo-relevant, estimate the relevance
    * model p(w|R) ∝ Σ_d p(w|d)·s(d) over their postings, keep the top
    * [[Rm3FbTerms]] expansion terms, interpolate with the uniform
    * original-query model at λ = [[Rm3Lambda]], and re-serve the
    * WEIGHTED expanded query through the same Okapi kernel. Every stage
    * between the two index joins is bounded by queries×FbDocs or
    * queries×terms — at 100 TB the corpus appears exactly twice, both
    * times through the word-keyed postings join that prunes to query
    * terms in the scan stage.
    *
    * Cross-engine determinism: first-pass scores enter the relevance
    * model as their 4dp fixed-point integers (s4 = round(score·10⁴)),
    * each p(w|d)·s(d) contribution is micro-fixed-pointed in one
    * rounded division of exact integers (round(tf·s4·10⁶/dl)), model
    * weights are exact BIGINT sums ranked with a word tie-break, and
    * the interpolated qweights are doubles computed from exact integers
    * by one identical expression per engine. */
  def rm3Retrieve(spark: SparkSession, dir: String): DataFrame =
    rm3RetrieveOf(Tables.fanOut(Tables.documents(spark, dir)))

  def rm3RetrieveOf(docs: DataFrame): DataFrame = {
    Dedup.withCuts(docs.sparkSession) { cuts =>
      val tf = cuts.cut(bm25Postings(docs))
      // r14: df/dl/queryTerms pinned once (see [[bm25PartsMaterialized]])
      // so the two serve passes and the relevance-model join read cuts
      // instead of re-running postings-wide aggregates per reference
      val parts = bm25PartsMaterialized(tf, docs, cuts.cut)
      cuts.keep("rm3Retrieve", cuts.cut(rm3FromParts(tf, parts, Rm3Lambda)))
    }
  }

  /** The live RM3 dataflow over a materialized postings frame — the
    * PLANS.md audit hook. */
  private[graft] def rm3PlanOf(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.fanOut(Tables.documents(spark, dir))
    val tf = Dedup.unownedCut(bm25Postings(docs))
    // mirror the registered query's materialized parts (r14) so the
    // audited dataflow is the executed one
    val parts = bm25PartsMaterialized(tf, docs, Dedup.unownedCut)
    rm3FromParts(tf, parts, Rm3Lambda)
  }

  private[graft] def rm3From(tf: DataFrame, docs: DataFrame,
      lambda: Double = Rm3Lambda): DataFrame =
    rm3FromParts(tf, bm25PartsOf(tf, docs), lambda)

  private def rm3FromParts(tf: DataFrame, p: Bm25Parts,
      lambda: Double): DataFrame = {
    // first pass: the plain BM25 serve, feedback = its top FbDocs with
    // scores carried as exact 4dp fixed-point integers
    val w1 = Window.partitionBy("query_id").orderBy(desc("score"), asc("doc_id"))
    val fb = bm25ScoredOf(tf, p,
        p.queryTerms.withColumn("qweight", lit(1.0)))
      .withColumn("frank", row_number().over(w1))
      .filter(col("frank") <= Rm3FbDocs)
      .select(col("query_id"), col("doc_id"),
        round(col("score") * 10000).cast("long").as("s4"))
    // relevance model over the feedback docs' postings: p(w|d)·s(d)
    // micro-fixed-pointed per (q, w, d), summed exactly per (q, w)
    val rm1 = tf.join(broadcast(fb), "doc_id").join(p.dl, "doc_id")
      .select(col("query_id"), col("word"),
        round((col("tf") * col("s4")).cast("double") * lit(1000000.0) /
          col("dl").cast("double")).cast("long").as("tfx"))
      .groupBy("query_id", "word").agg(sum("tfx").as("wfx"))
    val w2 = Window.partitionBy("query_id").orderBy(desc("wfx"), asc("word"))
    val exp = rm1.withColumn("erank", row_number().over(w2))
      .filter(col("erank") <= Rm3FbTerms)
      .select("query_id", "word", "wfx")
    val expNorm = exp
      .join(exp.groupBy("query_id").agg(sum("wfx").as("sumwfx")), "query_id")
      .select(col("query_id"), col("word"),
        (col("wfx").cast("double") / col("sumwfx").cast("double")).as("pw"))
    // uniform original-query model, interpolated at λ; both frames are
    // queries×terms-bounded so the merge is a driver-free full outer
    val nq = p.queryTerms.groupBy("query_id").agg(count(lit(1)).as("n_q"))
    val orig = p.queryTerms.join(nq, "query_id")
      .select(col("query_id"), col("word"),
        (lit(1.0) / col("n_q").cast("double")).as("ow"))
    val terms = orig.join(expNorm, Seq("query_id", "word"), "full_outer")
      .select(col("query_id"), col("word"),
        (lit(lambda) * coalesce(col("ow"), lit(0.0)) +
          lit(1.0 - lambda) * coalesce(col("pw"), lit(0.0))).as("qweight"))
    // second pass: the same Okapi kernel, now with interpolated weights
    bm25RankedOf(bm25ScoredOf(tf, p, terms))
  }

  /** Misra-Gries capacity for [[heavyHitters]]' candidate phase. Must
    * exceed [[HhK]] (capacity 512 → error ≤ N/512 ≈ 0.2%, threshold
    * N/200 = 0.5%), and sits BELOW the realized bigram vocabulary
    * (~900 at sf0.01), so the sketch genuinely prunes. */
  val HhCapacity = 512

  /** Heavy-hitter threshold: an item is heavy iff `freq * HhK > N`. */
  val HhK = 200

  /** Planted hot items as fractions of the organic stream — the corpus
    * bigram distribution is near-uniform (max ~0.18%), so true heavy
    * hitters are planted at scale-invariant rates well above the
    * threshold; organic items stay well below it at every SF. */
  val HhPlantRates = Seq("hot_agg" -> 0.02, "hot_join" -> 0.012,
    "hot_scan" -> 0.008)

  /** Exact heavy hitters over the corpus bigram stream, the two-pass
    * candidate/recount shape used when the key space is too large to
    * group-by wholesale: pass 1 runs the mergeable Misra-Gries sketch
    * ([[graft.functions.MisraGriesAggregator]]) with the usual
    * partial/merge split — per-partition summaries of O(m) counters,
    * O(P·m) rows shuffled, never the distinct-key space — yielding a
    * candidate set GUARANTEED to contain every item with frequency
    * above N/m; pass 2 recounts ONLY candidates exactly (the candidate
    * list broadcasts onto the stream, so non-candidates die in the scan
    * stage) and keeps items with `freq * HhK > N`. Output is exact —
    * the sketch can only add candidates that the recount filter then
    * rejects, never lose a true heavy hitter (1/m < 1/HhK).
    *
    * The stream total rides out of pass 1's aggregation (same job as
    * the sketch), and the plant is sized from a narrow no-explode scan
    * (`size(toks)-1` per doc), so the corpus is tokenize-scanned twice
    * — the algorithm's inherent two passes — plus one narrow sizing
    * scan. */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame =
    heavyHittersOf(Tables.fanOut(Tables.documents(spark, dir)))

  /** [[heavyHitters]] over an explicit `(doc_id, text)` frame.
    *
    * ONE tokenize+explode pass (r12 VERDICT #2's fix): the organic
    * bigram stream is materialized once through the owned-frame
    * machinery and read three times — by the plant census (its COUNT is
    * exactly the old `Σ max(size(toks)−1, 0)` sizing scan), the MG
    * sketch pass, and the exact recount. r12 re-ran the tokenize+explode
    * subtree for each; the algorithm's two stream passes are inherent,
    * the repeated tokenization was not. The 1-row pass-1 aggregate is
    * also materialized so its two consumers (candidate explode, total
    * for the φ-filter) cannot re-run the sketch pass. The bounded
    * report is retained one-slot and the corpus-sized stream blocks are
    * retired before returning ([[bottomKUnionOf]]'s discipline). */
  def heavyHittersOf(docs: DataFrame): DataFrame = {
    Dedup.withCuts(docs.sparkSession, None) { cuts =>
      val organic = cuts.cut(hhOrganicOf(docs))
      val stream = hhStreamOf(organic)
      val mgUdf = udaf(new graft.functions.MisraGriesAggregator(HhCapacity))
      val pass1 = cuts.cut(
        stream.agg(mgUdf(col("item")).as("cands"),
          count(lit(1)).as("n_total")))
      val candidates = pass1.select(explode(col("cands")).as("item"))
      val report = counts(stream, candidates)
        .crossJoin(broadcast(pass1.select("n_total")))
        .filter(col("cnt") * HhK > col("n_total"))
        .orderBy(desc("cnt"), asc("item"))
        .select("item", "cnt", "n_total")
      cuts.keep("heavyHitters", cuts.cut(report))
    }
  }

  /** The exploded organic bigram stream. */
  private def hhOrganicOf(docs: DataFrame): DataFrame =
    docs.select(explode(wordNgrams(toks(col("text")), 2)).as("item"))

  /** organic ∪ planted: the census COUNT over the (materialized)
    * organic frame sizes the plant — no separate tokenize scan. */
  private def hhStreamOf(organic: DataFrame): DataFrame = {
    val spark = organic.sparkSession
    import spark.implicits._
    val nOrg = organic.agg(count(lit(1)).as("n_org"))
    // sequence(1, k) is DESCENDING for k < 1 (the wordNgrams gotcha):
    // guard the empty-corpus case so a zero plant stays zero rows
    val plantN = ceil(col("rate") * col("n_org")).cast("long")
    val planted = HhPlantRates.toDF("item", "rate")
      .crossJoin(broadcast(nOrg))
      .select(col("item"),
        explode(when(plantN >= 1L, sequence(lit(1L), plantN))
          .otherwise(array().cast("array<bigint>"))).as("i"))
      .select("item")
    organic.unionByName(planted)
  }

  /** The live two-pass dataflow over a freshly-materialized organic
    * frame, WITHOUT the pass-1/result materialization — the PLANS.md
    * audit hook (the [[bottomKUnionPlanOf]] pattern): one plan showing
    * MG partials, the single-partition sketch merge, and the broadcast
    * candidate recount. */
  private[graft] def heavyHittersPlanOf(spark: SparkSession,
      dir: String): DataFrame = {
    val organic = Dedup.unownedCut(
      hhOrganicOf(Tables.fanOut(Tables.documents(spark, dir))))
    val stream = hhStreamOf(organic)
    val mgUdf = udaf(new graft.functions.MisraGriesAggregator(HhCapacity))
    val pass1 = stream.agg(mgUdf(col("item")).as("cands"),
      count(lit(1)).as("n_total"))
    counts(stream, pass1.select(explode(col("cands")).as("item")))
      .crossJoin(broadcast(pass1.select("n_total")))
      .filter(col("cnt") * HhK > col("n_total"))
      .orderBy(desc("cnt"), asc("item"))
      .select("item", "cnt", "n_total")
  }

  private def counts(stream: DataFrame, candidates: DataFrame): DataFrame =
    stream.join(broadcast(candidates), "item")
      .groupBy("item").agg(count(lit(1)).as("cnt"))

  /** Bottom-k sketch size. */
  val BkK = 32

  /** Sketch size for the cross-crawl union/intersection estimator. */
  val BkuK = 64

  /** Cross-crawl overlap estimation from COORDINATED bottom-k sketches
    * — the sketch-algebra payoff that makes bottom-k the production
    * profiler's sample: because both sides sample by the SAME content
    * hash, their sketches compose. Crawl A = even doc_ids, crawl B =
    * doc_id % 3 == 0 (true overlap is exactly the % 6 slice, so the
    * exact audit columns have known structure). From the two k=64
    * samples alone: `est = (m-1)/h_m` per side; the union sketch is the
    * bottom-k of the MERGED samples (never the corpora); Jaccard is the
    * fraction of the union's bottom-k present in both samples (Cohen &
    * Kaplan's coordinated-sample estimator), and the intersection
    * estimate is `J x U`. Exact counts ride beside every estimate.
    *
    * Scale posture: each side's sketch is the bounded-aggregator
    * bottom-k (O(k) state, O(P*k) shuffle); everything downstream of
    * the two sketches operates on <= 2k rows. In production the
    * per-crawl sketches persist and ANY pair composes without
    * re-scanning either crawl. */
  def bottomKUnion(spark: SparkSession, dir: String): DataFrame =
    bottomKUnionOf(Tables.fanOut(Tables.documents(spark, dir)))

  /** The live union-sketch dataflow for the PLANS.md audit: the report
    * plan over freshly-materialized hash frames, without the final
    * materialize/retain (the registered query returns the retained
    * `ExistingRDD`). */
  private[graft] def bottomKUnionPlanOf(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.fanOut(Tables.documents(spark, dir))
    val ha = Dedup.unownedCut(bkuHashes(docs, 2))
    val hb = Dedup.unownedCut(bkuHashes(docs, 3))
    bottomKUnionFrom(ha, hb)
  }

  /** Distinct content hashes of the `doc_id % modulus == 0` crawl. */
  private def bkuHashes(docs: DataFrame, modulus: Int): DataFrame =
    docs.filter(col("doc_id") % modulus === 0).select(
      (conv(substring(md5(col("text")), 1, 13), 16, 10)
        .cast("long")).as("hl")).distinct()

  /** [[bottomKUnion]] over an explicit `(doc_id, text)` frame. The two
    * per-crawl distinct-hash frames are materialized ONCE each (the
    * sketch, the exact audit and the exact intersection all consume
    * them; lazily shared they re-scanned the corpus 18 times) — in
    * production only the ≤k-row SKETCHES persist and the audit runs on
    * a sampled cadence. */
  def bottomKUnionOf(docs: DataFrame): DataFrame = {
    Dedup.withCuts(docs.sparkSession) { cuts =>
      val ha = cuts.cut(bkuHashes(docs, 2))
      val hb = cuts.cut(bkuHashes(docs, 3))
      cuts.keep("bottomKUnion", cuts.cut(bottomKUnionFrom(ha, hb)))
    }
  }

  private def bottomKUnionFrom(ha: DataFrame, hb: DataFrame): DataFrame = {
    val spark = ha.sparkSession
    import spark.implicits._
    import graft.functions.{Scored, TopKAggregator}
    val agg = new TopKAggregator(BkuK).toColumn
    def sample(side: DataFrame, tag: String): DataFrame = side
      .select(col("hl"), (negate(col("hl").cast("double")) / BkDenom).as("score"))
      .as[(Long, Double)]
      .map { case (hl, s) => (tag, Scored(hl, s)) }
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(agg.name("bk"))
      .flatMap { case (t, bk) => bk.map(s => (t, s.id, -s.score)) }
      .toDF("side", "hl", "h")
    val sa = sample(ha, "a")
    val sb = sample(hb, "b")
    val samples = sa.unionByName(sb)
    // per-side estimate from the k-th smallest hash
    val perSide = samples.groupBy("side")
      .agg(count(lit(1)).as("m"), max(col("h")).as("hk"))
      .select(col("side"), col("m"),
        round((col("m") - 1).cast("double") / col("hk"), 4).as("est"))
    // union sketch: bottom-k of the merged samples (<= 2k rows)
    val unionK = samples.select("hl", "h").distinct()
      .orderBy("h", "hl").limit(BkuK)
    val inBoth = unionK
      .join(sa.select(col("hl").as("hl_a")), col("hl") === col("hl_a"), "left_semi")
      .join(sb.select(col("hl").as("hl_b")), col("hl") === col("hl_b"), "left_semi")
    val uStats = unionK.agg(count(lit(1)).as("mu"), max(col("h")).as("hku"))
    val shared = inBoth.agg(count(lit(1)).as("n_shared"))
    // exact audit over the SAME materialized hash frames
    val exactA = ha.agg(count(lit(1)).as("exact_a"))
    val exactB = hb.agg(count(lit(1)).as("exact_b"))
    val exactI = ha.join(hb, "hl")
      .agg(count(lit(1)).as("exact_inter"))
    val ea = perSide.filter(col("side") === "a")
      .select(col("m").as("m_a"), col("est").as("est_a"))
    val eb = perSide.filter(col("side") === "b")
      .select(col("m").as("m_b"), col("est").as("est_b"))
    val report = ea.crossJoin(eb).crossJoin(broadcast(uStats))
      .crossJoin(broadcast(shared))
      .crossJoin(broadcast(exactA)).crossJoin(broadcast(exactB))
      .crossJoin(broadcast(exactI))
      .select(
        lit(BkuK).cast("long").as("k"),
        col("m_a"), col("est_a"), col("exact_a"),
        col("m_b"), col("est_b"), col("exact_b"),
        round((col("mu") - 1).cast("double") / col("hku"), 4).as("est_union"),
        (col("exact_a") + col("exact_b") - col("exact_inter")).as("exact_union"),
        round(col("n_shared").cast("double") / col("mu"), 4).as("jaccard_est"),
        round(col("exact_inter").cast("double") /
          (col("exact_a") + col("exact_b") - col("exact_inter")), 4)
          .as("jaccard_exact"),
        round(col("n_shared").cast("double") / col("mu") *
          ((col("mu") - 1).cast("double") / col("hku")), 4).as("est_inter"),
        col("exact_inter"))
    report
  }

  /** 2^52 = 16^13: hashes are 13 hex digits of md5, so both engines
    * hold them EXACTLY in a double (no rounding anywhere in [0,1)). */
  private val BkDenom = 4503599627370496.0

  /** Per-language bottom-k sample + the bottom-k distinct estimator
    * (Cohen/Kaplan): keep the k smallest `md5(doc_id)` hash values per
    * group — a deterministic, mergeable, coordinated sample whose k-th
    * smallest hash doubles as a cardinality estimate `(k-1)/h_k`. The
    * report row per language carries the exact count beside the
    * estimate (the audit) and the sampled-id sum (pinning MEMBERSHIP,
    * not just sample size, across engines).
    *
    * Scale posture: the sample is computed with the bounded typed
    * aggregator ([[graft.functions.TopKAggregator]] on negated hashes),
    * so state is O(k) per group and the partial/merge split ships
    * O(P·k) rows — the window-rank formulation would shuffle the whole
    * corpus per group. Coordinated bottom-k samples also merge across
    * shards and support union/intersection estimates, which is why
    * production profilers prefer them over per-shard reservoirs. */
  def bottomKSample(spark: SparkSession, dir: String): DataFrame =
    bottomKSampleOf(Tables.fanOut(Tables.documents(spark, dir)))

  /** [[bottomKSample]] over an explicit `(doc_id, lang)` frame. */
  def bottomKSampleOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    import graft.functions.{Scored, TopKAggregator}
    val agg = new TopKAggregator(BkK).toColumn
    val sampled = docs.select(col("lang"), col("doc_id").as("id"),
        (conv(substring(md5(col("doc_id").cast("string")), 1, 13), 16, 10)
          .cast("long").cast("double") / BkDenom).as("h"))
      // top-k by score desc == bottom-k by hash asc; ties (impossible at
      // 52 bits here, but anyway) break on id asc in BOTH engines
      .select(col("lang"), col("id"), negate(col("h")).as("score"))
      .as[(String, Long, Double)]
      .map { case (lang, id, s) => (lang, Scored(id, s)) }
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(agg.name("bottomk"))
      .map { case (lang, bk) =>
        // list is sorted by score desc = hash asc, so .last is h_k
        (lang, bk.size.toLong, -bk.last.score, bk.map(_.id).sum)
      }
      .toDF("lang", "n_sample", "kth_h", "id_sum")
    val exact = docs.groupBy("lang").agg(count(lit(1)).as("n_exact"))
    exact.join(sampled, "lang")
      .select(col("lang"), col("n_exact"), col("n_sample"),
        round(col("kth_h"), 6).as("kth_h"),
        round((col("n_sample") - 1).cast("double") / col("kth_h"), 4)
          .as("est_distinct"),
        col("id_sum"))
      .orderBy("lang")
  }
}

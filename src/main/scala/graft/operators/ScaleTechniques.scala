package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The shuffle-avoidance toolbox for 100 TB plans: skew salting and
  * co-location helpers, as composable library functions. (Broadcast is
  * Spark-native `broadcast()`; bucketing is exercised in the test suite
  * via `bucketBy` + `saveAsTable`, which needs a warehouse.)
  *
  * These exist because at cluster scale the dominant failure mode is a
  * hot key: one reducer gets the skewed key's entire partition while the
  * rest of the cluster idles (or OOMs). AQE's skew-join handling splits
  * oversized SHUFFLE partitions, but aggregation skew and
  * broadcast-averse joins still want explicit salting.
  */
object ScaleTechniques {

  /** Deterministic per-row salt in [0, salts): a content hash over the
    * given columns, NOT `monotonically_increasing_id()` — mii is
    * partition-order dependent, so partial-aggregate sizes (and any UI
    * stage metrics) would differ run to run. A content hash makes reruns
    * bit-stable end to end. Hash columns should include something that
    * varies WITHIN a hot key (the value, a row id) so the hot key's rows
    * actually spread; fully identical rows sharing a salt is algebraically
    * harmless. */
  private def contentSalt(cols: Seq[Column], salts: Int): Column =
    pmod(hash(cols: _*), lit(salts)).cast("int")

  /** Two-phase salted aggregation: spread a hot GROUP BY key over
    * `salts` sub-keys, partially aggregate, then merge. Correct for any
    * ALGEBRAIC aggregate (here: count + sum, the additive pair every
    * count/avg/mean decomposes into). The first shuffle is on
    * (key, salt) — max partition size drops by ~`salts`× — and the
    * second shuffle is tiny (one row per (key, salt)). */
  def saltedSumCount(df: DataFrame, key: Column, value: Column, salts: Int): DataFrame =
    df.select(key.as("key"), value.as("v"),
        contentSalt(Seq(key, value), salts).as("salt"))
      .groupBy("key", "salt")
      .agg(sum("v").as("partial_sum"), count(lit(1)).as("partial_cnt"))
      .groupBy("key")
      .agg(sum("partial_sum").as("total"), sum("partial_cnt").as("cnt"))

  /** True iff `hash()` cannot evaluate the type: MapType anywhere in the
    * tree (maps are unordered, Spark rejects them in hash/comparisons). */
  private def containsMap(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case _: org.apache.spark.sql.types.MapType => true
    case a: org.apache.spark.sql.types.ArrayType => containsMap(a.elementType)
    case s: org.apache.spark.sql.types.StructType => s.fields.exists(f => containsMap(f.dataType))
    case _ => false
  }

  /** Salted join for a skewed FACT side against a non-broadcastable
    * dimension: the fact side gets a deterministic salt in [0, salts),
    * the dimension side is replicated `salts`× (explode of a literal
    * range), and the join key becomes (key, salt) — the hot key's rows
    * land on `salts` reducers instead of one. Replication costs `salts`×
    * the dimension size, which is the explicit trade against reducer
    * skew.
    *
    * The salt hashes every HASHABLE fact column (map-typed columns are
    * skipped — `hash` rejects MapType), so rows of the hot key spread by
    * their non-key content. Degenerate case, documented on purpose: rows
    * of a hot key that are fully identical (or differ only in map
    * columns) share one salt and still land on one reducer — a content
    * hash cannot separate identical content. Callers with that shape
    * should pre-aggregate the duplicates (a count column both dedups and
    * preserves join multiplicity) rather than salt them. */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String, salts: Int): DataFrame = {
    val hashable = fact.schema.fields.filterNot(f => containsMap(f.dataType))
      .map(f => col(f.name)).toSeq
    val saltCols = if (hashable.nonEmpty) hashable else Seq(col(key))
    val saltedFact = fact.withColumn("_salt", contentSalt(saltCols, salts))
    val replicatedDim = dim.withColumn("_salt",
      explode(sequence(lit(0), lit(salts - 1))))
    saltedFact.join(replicatedDim, Seq(key, "_salt")).drop("_salt")
  }

  /** Bit width of the relational Bloom filter (2^16). The memory budget
    * is FIXED regardless of dim-side cardinality — that is the whole
    * point vs broadcasting the key set itself: at 100 TB a selective dim
    * can still carry millions of keys (too many to broadcast as a hash
    * set), while the filter stays [[BloomBits]] bits no matter what. The
    * false-positive rate is the only thing that moves
    * ((set_bits/M)^k — size M to the dim-side NDV), and false positives
    * are harmless: the exact join downstream removes them. */
  val BloomBits = 65536

  /** Hash probes per key. */
  val BloomHashes = 3

  /** Bit position of probe `j` for `key`. Murmur3 (`hash` with probe
    * index as seed), NOT the md5 bridge: the bit array never crosses to
    * the oracle engine (the oracle checks the JOIN result, where the
    * bloom is invisible), so the only requirements are determinism
    * within Spark and codegen cost — and three per-row md5s of a
    * stringified key measurably dominated the probe at scale-harness
    * volumes. */
  private def bloomPos(j: Int, key: Column, bits: Int): Column =
    pmod(hash(key, lit(j)).cast("long"), lit(bits.toLong))

  /** Build a Bloom filter over `keys` (one column, any type) as a ONE-ROW
    * frame holding the bit array — broadcast it and test rows with
    * [[bloomMightContain]]. Bits are materialized as `array<boolean>`
    * (65 KiB) for codegen-simple O(1) `element_at` probes; a production
    * long-packed variant is a 64× constant on the same plan shape.
    *
    * Shape: probe positions are a narrow k-way explode of the DISTINCT
    * dim keys, the position set is map-side-combined DISTINCT (≤ M rows),
    * and the array assembly is one ≤ M-row ordered fold — all bounded by
    * [[BloomBits]], never by the corpus. */
  def bloomBuild(keys: DataFrame, bits: Int = BloomBits): DataFrame = {
    val spark = keys.sparkSession
    val k = col(keys.columns.head)
    val pos = keys.distinct()
      .select(explode(array((0 until BloomHashes).map(j => bloomPos(j, k, bits)): _*))
        .as("p"))
      .distinct()
    spark.range(bits.toLong)
      .join(pos.withColumn("hit", lit(true)), col("id") === col("p"), "left")
      .select(col("id"), coalesce(col("hit"), lit(false)).as("hit"))
      .agg(transform(array_sort(collect_list(struct(col("id"), col("hit")))),
        s => s.getField("hit")).as("_bloom_bits"))
  }

  /** Row-local Bloom membership test for `key` against a frame that has
    * been cross-joined with [[bloomBuild]]'s one-row output. All-probes-
    * set semantics: false negatives impossible, false positives pruned by
    * the exact join that follows. */
  def bloomMightContain(key: Column, bits: Int = BloomBits): Column =
    (0 until BloomHashes)
      .map(j => element_at(col("_bloom_bits"), bloomPos(j, key, bits).cast("int") + 1))
      .reduce(_ && _)

  /** RUNTIME-FILTER join: prune the fact side with a Bloom filter built
    * from the (post-predicate) dim keys BEFORE the join's shuffle — the
    * relational form of the semi-join reduction Spark's AQE injects when
    * `spark.sql.optimizer.runtime.bloomFilter.enabled` fires, made
    * explicit so the reduction is guaranteed (AQE's version is
    * threshold-gated) and composable with any source. The filter is
    * row-local on the scan side (no extra shuffle, no join): at 100 TB
    * the win is that non-qualifying fact rows never enter the exchange —
    * with a 2% selective dim the shuffle shrinks ~50×, for the price of
    * one broadcast 65 KiB bit array and three md5 probes per row.
    * Result is EXACTLY the plain join (false positives fall out of the
    * exact join), which is what the oracle checks. */
  def bloomPrunedJoin(fact: DataFrame, dim: DataFrame,
      factKey: String, dimKey: String, bits: Int = BloomBits): DataFrame = {
    val bitsRow = bloomBuild(dim.select(dimKey), bits)
    fact.crossJoin(broadcast(bitsRow))
      .filter(bloomMightContain(col(factKey), bits))
      .drop("_bloom_bits")
      .join(dim, col(factKey) === col(dimKey))
  }

  /** On-disk path `graft_<tag>_<fingerprint>` of a per-snapshot layout
    * artifact under the JVM temp dir, keyed by the [[fingerprint]] of
    * `dir/srcName`. Shared by the DPP fact layout, the z-order and
    * Hilbert block layouts, the Bloom fixtures and the ANN encode store. */
  private[graft] def layoutPath(dir: String, srcName: String,
      tag: String): String =
    new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_${tag}_${fingerprint(new java.io.File(dir, srcName).getPath)}")
      .getAbsolutePath

  /** The one snapshot key of graft's shared artifacts — memo frames
    * (`Dedup.memoizedFrame`), layouts ([[layoutPath]]) and Bloom
    * signatures (`Layout.ensureBloomSigs`): 12 hex characters of the MD5
    * of `path` and the (name relative to `path`, length, mtime) of every
    * file under it. Rewriting the data under the same path changes the
    * key; `clearMemos` frees the superseded artifacts. Granularity: a
    * rewrite that keeps every file's name and length and lands in the
    * SAME millisecond collides. No writer in this repo does that (Spark
    * writes fresh part-file names; layouts publish through fresh staged
    * dirs); an external overwrite-in-place would need a content hash. */
  private[graft] def fingerprint(path: String): String = {
    import java.nio.file.{Files, FileVisitOption, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get(path)
    val files = if (!Files.exists(root)) Nil
      else scala.util.Using.resource(Files.walk(root, FileVisitOption.FOLLOW_LINKS))(
        _.iterator().asScala.filter(Files.isRegularFile(_)).toList)
    val fp = files.map(f => s"${root.relativize(f)}:${Files.size(f)}:${f.toFile.lastModified}")
      .sorted.mkString(path + "#", ",", "")
    java.security.MessageDigest.getInstance("MD5")
      .digest(fp.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
  }

  /** Layout dirs published via [[ensureLayout]] this JVM (the DPP fact
    * layout, the z-order block layout) — released by
    * [[graft.operators.Dedup.clearMemos]] with the other memo state. */
  private val dppFactDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private[graft] def clearDppFactDirs(): Unit = {
    dppFactDirs.forEach(p => deleteTree(new java.io.File(p)))
    dppFactDirs.clear()
  }

  /** Delete EVERY `graft_<tag>_<12-hex>` layout artifact under the JVM
    * temp dir, including ones published by PRIOR JVMs. The write-once
    * store is keyed by [[fingerprint]], so a rewritten corpus gets new
    * dirs — but the fingerprint of an immutable corpus
    * (`/root/testdata/...`) is stable across processes, and a FRESH
    * bench/verify invocation would LOAD the previous invocation's
    * artifacts instead of computing them: its `build:*` rows would
    * measure a parquet read, not the build. [[graft.Bench]] and
    * [[graft.Verify]] call this once at startup so every invocation
    * computes from the parquet inputs alone (and superseded-fingerprint
    * artifacts stop accumulating in the temp dir). Not safe to call
    * while another graft JVM is mid-run on the same box. */
  /** Name filter for [[sweepStaleLayouts]]. The tag class includes '_'
    * — layoutPath tags like `dpp_fact` contain underscores, and the r13
    * pattern ([a-z0-9]+ only) silently skipped them, so a repeat
    * invocation's build:dpp_layout row measured a parquet load (ADVICE
    * r13). The trailing 12-hex anchor still disambiguates the
    * fingerprint suffix from the tag (unit-pinned against every tag
    * passed to [[layoutPath]], and the Bloom-signature tag). */
  private[graft] val LayoutSweepPattern =
    "^graft_[a-z0-9_]+_[0-9a-f]{12}(\\.(w|evict)[0-9]+)?$".r

  private[graft] def sweepStaleLayouts(): Unit = {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    val pat = LayoutSweepPattern
    Option(tmp.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && pat.findFirstIn(f.getName).isDefined)
      .foreach(deleteTree)
  }

  private def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteTree)
    f.delete(); ()
  }

  /** In-JVM write gates, one PER LAYOUT PATH (cross-JVM, the tmp-dir +
    * atomic-rename publish below makes concurrent writers safe). r13
    * used one global lock, which serialized every concurrent layout
    * build — buildAnnEncode's four "independent" chains queued their
    * whole Spark write jobs behind each other (ADVICE r13). Per-path
    * locking keeps the same-path mutual exclusion (no duplicate builds
    * in one JVM) while different artifacts overlap. */
  private val layoutLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** DYNAMIC PARTITION PRUNING — the partition-layout counterpart of
    * [[bloomPrunedJoin]], and the single biggest I/O lever on a
    * date-partitioned 100 TB fact table: lineitem persisted PARTITIONED
    * BY ship month (83 directories), joined on the partition column
    * against a dim whose qualifying months are only known AFTER its own
    * filter runs. Static pruning cannot reach through the join, so
    * Catalyst inserts a `dynamicpruning` subquery on the fact scan
    * (visible as `PartitionFilters: [dynamicpruning#…]`, reusing the
    * join's broadcast): at execution time only the dim's 3 qualifying
    * months' directories are LISTED AND READ — 80 of 83 partitions never
    * leave the filesystem, which at 100 TB is the difference between a
    * full-table scan and a 4% one. The suite asserts the executed plan
    * carries the dynamic filter; the oracle pins the join's algebra on
    * the unpartitioned original. */
  /** Bench hook: force-write the partitioned fact layout so its cost
    * lands in the explicit `build:dpp_layout` row — the layout is a
    * per-snapshot artifact (a real deployment PARTITIONS the table at
    * write time, once), and since `clearMemos` releases it with the
    * other memo state, each cold bench pass would otherwise charge the
    * full repartition-write to `q_join_dpp` itself. */
  private[graft] def buildDppLayout(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit = { ensureFactLayout(spark, dir); () }

  private def ensureFactLayout(spark: org.apache.spark.sql.SparkSession,
      dir: String): String = {
    import graft.sources.Tables
    ensureLayout(layoutPath(dir, "lineitem.parquet", "dpp_fact")) { tmp =>
      Tables.lineitem(spark, dir)
        .withColumn("ship_month", date_format(col("l_shipdate"), "yyyy-MM"))
        .write.mode("overwrite").partitionBy("ship_month")
        .parquet(tmp)
    }
  }

  /** Write-once publish of an on-disk layout artifact at `path`:
    * `_SUCCESS`-guarded, staged-eviction of partial writes, build under
    * a pid-suffixed temp dir, atomic-rename publish, registered for
    * the [[graft.operators.Dedup.clearMemos]] sweep. Shared by the DPP
    * fact layout and the z-order block layout. Every call, load or
    * build, is logged to [[graft.operators.Dedup.recordTouches]]. */
  private[graft] def ensureLayout(path: String)(write: String => Unit): String = {
    Dedup.touch(path)
    layoutLocks.computeIfAbsent(path, _ => new Object).synchronized {
      if (!new java.io.File(path, "_SUCCESS").exists()) {
        // no _SUCCESS ⇒ absent or a crashed write: clear and republish.
        // Writers build under a pid-suffixed temp dir and PUBLISH by
        // atomic rename, so a concurrent JVM never reads a half-written
        // layout; losing the rename race means the winner's complete
        // copy is already in place.
        //
        // Eviction goes through an atomic rename-to-staging, NOT a
        // direct deleteTree: a second JVM may have PUBLISHED between
        // our _SUCCESS check and now, and deleting its complete copy
        // out from under concurrent readers was the round-8 advice
        // finding. The rename captures whatever is at `path`
        // atomically; if the captured copy turns out complete, it is
        // restored (open handles survive a same-fs rename, so even
        // in-flight reads continue), and only a genuinely partial
        // write is ever deleted.
        val cur = new java.io.File(path)
        if (cur.exists()) {
          val staged = new java.io.File(
            path + s".evict${ProcessHandle.current().pid()}")
          if (cur.renameTo(staged)) {
            if (new java.io.File(staged, "_SUCCESS").exists()) {
              // raced a publisher: put the complete copy back (if the
              // restore loses yet another race, a complete copy is at
              // `path` already and the staged duplicate is dropped)
              if (!staged.renameTo(cur)) deleteTree(staged)
            } else deleteTree(staged)
          }
        }
        // re-check: the eviction may have just RESTORED a complete
        // copy (publisher race above) — then there is nothing to write
        if (!new java.io.File(path, "_SUCCESS").exists()) {
          val tmp = new java.io.File(
            path + s".w${ProcessHandle.current().pid()}")
          write(tmp.getAbsolutePath)
          if (!tmp.renameTo(new java.io.File(path))) {
            deleteTree(tmp)
            require(new java.io.File(path, "_SUCCESS").exists(),
              s"layout publish race lost and no complete copy at $path")
          }
        }
      }
      dppFactDirs.add(path)
    }
    path
  }

  def dppRevenueByMonth(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    import graft.sources.Tables
    val fact = spark.read.parquet(ensureFactLayout(spark, dir))
    val dimMonths = Tables.orders(spark, dir)
      .filter(col("o_orderdate").between(
        lit("1995-01-01").cast("timestamp"), lit("1995-03-31").cast("timestamp")))
      .select(date_format(col("o_orderdate"), "yyyy-MM").as("ship_month"))
      .distinct()
    fact.join(dimMonths, "ship_month")
      .groupBy("ship_month")
      .agg(
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("ship_month")
  }
}

package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Dedup
import graft.sources.Tables

/** A multimodal record: opaque binary payload + typed metadata. The
  * engine treats media exactly like any other column — `content` is
  * `BinaryType`, metadata is ordinary typed columns — so partitioning,
  * predicate pushdown and column pruning all apply unchanged; only the
  * decode step needs per-row imperative code. */
final case class MediaRecord(
    media_id: Long,
    mime: String,
    content: Array[Byte])

/** Decoded (stub) features for one media record — what a real image /
  * audio decoder would emit (dimensions, duration, signal stats). */
final case class MediaFeatures(
    media_id: Long,
    mime: String,
    n_bytes: Int,
    checksum: Long,
    fake_width: Int,
    fake_height: Int)

/** REAL decoded image features (see [[Multimodal.decodeImage]]): true
  * pixel dimensions and channel count from the decoded image, or
  * `ok = false` with zeroed dims for payloads no installed reader
  * accepts (corrupt bytes, unsupported container) — a per-row failure
  * must never kill a 100 TB decode job. */
final case class ImageFeatures(
    media_id: Long,
    mime: String,
    n_bytes: Int,
    width: Int,
    height: Int,
    channels: Int,
    ok: Boolean)

/** REAL decoded audio features (see [[Multimodal.decodeAudio]]): format
  * parameters and duration from the container header, or `ok = false`
  * for payloads no installed reader accepts. */
final case class AudioFeatures(
    media_id: Long,
    mime: String,
    n_bytes: Int,
    sample_rate: Int,
    channels: Int,
    bits_per_sample: Int,
    n_frames: Long,
    duration_ms: Long,
    ok: Boolean)

/** Multimodal-column operators.
  *
  * The media decode/feature-extract libraries are NOT in this
  * environment, so [[decodeStub]] is a clearly-marked deterministic
  * stand-in; everything AROUND it — the binary column schema, the typed
  * `Dataset` plumbing, the per-partition batch shape (one iterator pass,
  * no materialization of the partition), partitioning preservation — is
  * the real production shape and is what the tests pin down.
  */
object Multimodal {

  /** Deterministic synthetic media table derived from `documents`:
    * content = UTF-8 bytes of the text, mime cycled by doc_id. Stands in
    * for a real binary-payload parquet table (same schema a crawl dump
    * would have). */
  def mediaFromDocuments(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id").as("media_id"),
      element_at(
        array(lit("image/png"), lit("audio/wav"), lit("video/mp4")),
        (col("doc_id") % 3).cast("int") + 1).as("mime"),
      col("text").cast("binary").as("content"),
      md5(col("text")).as("content_md5"))

  /** STUB decoder — stands in for e.g. javax.imageio / ffmpeg bindings,
    * which this container does not ship. Deterministic fake features
    * derived from the payload bytes so tests are reproducible. The
    * `mapPartitions` shape is the real one: one lazy pass over the
    * partition iterator, no per-row task setup, decoder state (here:
    * none) initialized once per partition. */
  def decodeStub(records: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import records.sparkSession.implicits._
    records.mapPartitions { it =>
      // real code would open the codec once per partition here
      it.map { r =>
        val sum = r.content.foldLeft(0L)((a, b) => (a * 131 + (b & 0xff)) & 0x7fffffffL)
        MediaFeatures(
          media_id = r.media_id,
          mime = r.mime,
          n_bytes = r.content.length,
          checksum = sum,
          // a real decoder reads these from the container header
          fake_width = ((sum % 640) + 1).toInt,
          fake_height = ((sum % 480) + 1).toInt)
      }
    }
  }

  /** REAL image decode via `javax.imageio` (PNG/JPEG/GIF/BMP readers
    * ship in the JDK — no external codec needed): true width, height and
    * channel count from the decoded raster. Same `mapPartitions` shape
    * as [[decodeStub]] — one lazy pass, per-row work only — and decode
    * failures degrade to `ok = false` rows instead of task failures (at
    * corpus scale SOME payloads are always corrupt; a decode job that
    * dies on the first bad byte stream never finishes). PCM audio is
    * likewise real ([[decodeAudio]]); only compressed-codec audio and
    * video demux remain stubs — those genuinely are not in the JDK. */
  def decodeImage(records: Dataset[MediaRecord]): Dataset[ImageFeatures] = {
    import records.sparkSession.implicits._
    records.mapPartitions { it =>
      // ImageIO scans for readers per call; disk caching off keeps the
      // decode entirely in-memory (payloads are already byte arrays)
      javax.imageio.ImageIO.setUseCache(false)
      it.map { r =>
        // NonFatal, not just IOException: ImageIO readers throw runtime
        // exceptions (AIOOBE, IllegalArgument, NegativeArraySize) on
        // malformed headers, and the contract is ok=false, not a dead task
        val img =
          try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.content)))
          catch { case scala.util.control.NonFatal(_) => None }
        img match {
          case Some(i) =>
            ImageFeatures(r.media_id, r.mime, r.content.length,
              i.getWidth, i.getHeight, i.getRaster.getNumBands, ok = true)
          case None =>
            ImageFeatures(r.media_id, r.mime, r.content.length, 0, 0, 0, ok = false)
        }
      }
    }
  }

  /** REAL audio decode via `javax.sound.sampled` (the WAV/AIFF/AU PCM
    * readers ship in the JDK, like ImageIO's PNG reader): sample rate,
    * channel count, sample width and frame count from the parsed
    * container, duration derived as frames/rate. Same contract as
    * [[decodeImage]] — `mapPartitions`, one lazy pass, and ANY per-row
    * decode failure (unsupported container, truncated or corrupt
    * header) degrades to an `ok = false` row, never a dead task. Only
    * compressed codecs (MP3/AAC/Opus) remain outside the JDK; video
    * demux likewise — those stay stubbed. */
  def decodeAudio(records: Dataset[MediaRecord]): Dataset[AudioFeatures] = {
    import records.sparkSession.implicits._
    records.mapPartitions { it =>
      it.map { r =>
        val parsed =
          try {
            val s = javax.sound.sampled.AudioSystem.getAudioInputStream(
              new java.io.ByteArrayInputStream(r.content))
            try {
              val f = s.getFormat
              Some((f.getSampleRate.toInt, f.getChannels,
                f.getSampleSizeInBits, s.getFrameLength))
            } finally s.close()
          } catch { case scala.util.control.NonFatal(_) => None }
        parsed match {
          case Some((rate, ch, bits, rawFrames)) =>
            // streamed containers may carry no length (AudioSystem
            // NOT_SPECIFIED = -1): clamp so a successfully-decoded format
            // never publishes a negative frame count into aggregations
            val frames = math.max(rawFrames, 0L)
            val durMs = if (rate > 0) frames * 1000L / rate else 0L
            AudioFeatures(r.media_id, r.mime, r.content.length,
              rate, ch, bits, frames, durMs, ok = true)
          case None =>
            AudioFeatures(r.media_id, r.mime, r.content.length,
              0, 0, 0, 0L, 0L, ok = false)
        }
      }
    }
  }

  /** STUB resize — stands in for an image scaler. The production
    * contract it keeps: content-in/content-out per row, metadata updated
    * to the target dims, narrow execution. The fake "resize" is a
    * deterministic byte subsample so output size tracks the target. */
  def resizeStub(records: Dataset[MediaRecord], w: Int, h: Int): Dataset[MediaRecord] = {
    import records.sparkSession.implicits._
    records.mapPartitions { it =>
      it.map { r =>
        val target = math.max(1, math.min(r.content.length, w * h / 64))
        val step = math.max(1, r.content.length / target)
        r.copy(content = r.content.grouped(step).map(_.head).toArray)
      }
    }
  }

  /** One sampled frame from a (fake) video payload. */
  final case class FrameRecord(media_id: Long, frame_idx: Int, frame: Array[Byte])

  /** STUB frame sampler — stands in for a video demuxer: one input row
    * fans out to every Nth "frame" (here: fixed-size byte windows), the
    * real flatMap shape of frame extraction. Fan-out happens inside
    * `mapPartitions` via a lazy iterator, so no partition-sized
    * materialization even when a payload yields many frames. */
  def frameSampleStub(records: Dataset[MediaRecord], everyNth: Int,
      frameBytes: Int = 64): Dataset[FrameRecord] = {
    import records.sparkSession.implicits._
    records.mapPartitions { it =>
      it.flatMap { r =>
        r.content.grouped(frameBytes).zipWithIndex.collect {
          case (bytes, i) if i % everyNth == 0 => FrameRecord(r.media_id, i, bytes)
        }
      }
    }
  }

  /** Exact BINARY-payload dedup with planted duplicates: the media table
    * unioned with an id-shifted copy of itself (mime stays with the
    * payload, as it would for a re-crawled asset), grouped by content
    * hash — media columns dedup with the same keep-lowest-id semantics
    * as text, because to the engine a payload is just another column.
    * Content is keyed by its md5, never shuffled whole. */
  def mediaDedupPlanted(spark: SparkSession, dir: String): DataFrame = {
    val m = mediaFromDocuments(spark, dir)
    val doubled = m.unionByName(m.withColumn("media_id", col("media_id") + 1000000))
    doubled.groupBy("content_md5", "mime")
      .agg(count(lit(1)).as("n_copies"), min(col("media_id")).as("keep_media"))
      .filter(col("n_copies") > 1)
      .orderBy("content_md5")
  }

  /** 64-bit perceptual difference hash of one decoded image (see
    * [[dHash]]); `ok = false` when no installed reader decodes the
    * payload. */
  final case class ImageHash(media_id: Long, ok: Boolean, dhash: Long)

  /** Perceptual dHash over the DECODED raster — the image analog of
    * SimHash for text: exact binary dedup ([[mediaDedupPlanted]]) misses
    * re-encoded or slightly-edited copies of the same picture, which is
    * most image duplication in a crawl. The classic dHash recipe,
    * all-integer so every engine/JVM computes identical bits:
    * luminance = 299r+587g+114b (scaled BT.601, no float), box-averaged
    * onto a 9×8 grid with integer cell boundaries (`x·w/9`), and bit
    * (x,y) = [cell(x+1,y) > cell(x,y)] — 64 horizontal gradients.
    * Gradients survive re-encoding, small edits and brightness shifts
    * (a constant offset cancels in the comparison), which is exactly
    * what the suite pins. Same `mapPartitions` + NonFatal contract as
    * [[decodeImage]]: a corrupt payload yields `ok = false`, never a
    * dead task. */
  def dHash(records: Dataset[MediaRecord]): Dataset[ImageHash] = {
    import records.sparkSession.implicits._
    records.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.map { r =>
        val img =
          try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.content)))
          catch { case scala.util.control.NonFatal(_) => None }
        img match {
          case Some(i) if i.getWidth >= 9 && i.getHeight >= 8 =>
            val (w, h) = (i.getWidth, i.getHeight)
            // integer box-average of scaled-luminance over a 9x8 grid
            val cell = Array.ofDim[Long](8, 9)
            var y = 0
            while (y < h) {
              val gy = y * 8 / h
              var x = 0
              while (x < w) {
                val rgb = i.getRGB(x, y)
                val lum = 299L * ((rgb >> 16) & 0xff) +
                  587L * ((rgb >> 8) & 0xff) + 114L * (rgb & 0xff)
                cell(gy)(x * 9 / w) += lum
                x += 1
              }
              y += 1
            }
            val cnt = Array.ofDim[Long](8, 9)
            y = 0
            while (y < h) {
              var x = 0
              while (x < w) { cnt(y * 8 / h)(x * 9 / w) += 1; x += 1 }
              y += 1
            }
            var hash = 0L
            var gy = 0
            while (gy < 8) {
              var gx = 0
              while (gx < 8) {
                // compare MEANS via cross-multiplied integer sums — no
                // division, so no rounding policy to keep in sync
                if (cell(gy)(gx + 1) * cnt(gy)(gx) > cell(gy)(gx) * cnt(gy)(gx + 1))
                  hash |= 1L << (gy * 8 + gx)
                gx += 1
              }
              gy += 1
            }
            ImageHash(r.media_id, ok = true, hash)
          case _ => ImageHash(r.media_id, ok = false, 0L)
        }
      }
    }
  }

  /** Hamming threshold for [[imageNearDup]]: dHash bits are 64
    * near-independent gradients, so ≤6 differing bits is the standard
    * "same picture, different encode/edit" band. */
  val DHashMaxHamming = 6

  /** Banded near-dup pairing over [[dHash]] values — the same
    * LSH-banding plan as text SimHash (`Dedup.simhashPairs`): 4×16-bit
    * bands key the candidate join; pairs within hamming ≤3 are
    * GUARANTEED a fully-agreeing band (pigeonhole), pairs at 4–6 are
    * found with the usual partial LSH recall (gradient edits cluster
    * bits, so in practice they band together — the text SimHash screen
    * makes the identical trade); `bit_count(xor)` verifies, and the
    * first-matching-band filter keeps each pair once without a
    * distinct. Corpus never self-joins outside band buckets; the
    * 65,536-key band space grows with the catalog. */
  def imageNearDup(hashes: DataFrame,
                   maxHamming: Int = DHashMaxHamming): DataFrame = {
    val banded = hashes.filter(col("ok"))
      .select(col("media_id"), col("dhash"),
        explode(sequence(lit(0), lit(3))).as("band"))
      .withColumn("band_sig", expr("shiftright(dhash, band * 16) & 65535"))
    val a = banded.select(col("media_id").as("id_a"), col("dhash").as("h_a"),
      col("band"), col("band_sig"))
    val b = banded.select(col("media_id").as("id_b"), col("dhash").as("h_b"),
      col("band"), col("band_sig"))
    val earlier = (0 until 4).map(k =>
      when(col("band") > k,
        shiftright(col("h_a"), k * 16).bitwiseAND(lit(0xffffL)) ===
          shiftright(col("h_b"), k * 16).bitwiseAND(lit(0xffffL)))
        .otherwise(lit(false)))
      .reduce(_ || _)
    a.join(b, Seq("band", "band_sig"))
      .filter(col("id_a") < col("id_b"))
      .filter(!earlier) // first matching band only — each pair kept once
      .withColumn("hamming", bit_count(col("h_a").bitwiseXOR(col("h_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Registered pHash near-dup query (ROWS-ONLY — no DuckDB oracle: the
    * oracle engine cannot decode PNG, which is exactly why the recipe
    * exists; `ImageHashSpec` carries the exact-arithmetic evidence on
    * controlled images, and this query runs the same real codec →
    * dHash → banded-join pipeline over a corpus-sized image set at the
    * driver surface). One deterministic PNG per document (checkerboard
    * whose periods derive from doc_id — drawn and encoded with the real
    * JDK codec), every 10th image re-drawn with a small block edit under
    * a planted id, then [[dHash]] + [[imageNearDup]]. The single
    * summary row reports planted-pair recall and the hamming spread —
    * the numbers an image-dedup rollout watches. */
  /** Planted-pair id offset for [[plantedMediaRecords]]. */
  val PlantShift = 1000000L

  /** The deterministic planted image catalog both perceptual-hash
    * queries run on: one PNG per document (checkerboard whose periods
    * derive from doc_id — drawn and encoded with the real JDK codec),
    * every 10th image re-drawn with a small block edit under
    * `doc_id + `[[PlantShift]]. Shared by [[phashNearDupPlanted]] (the
    * recall summary), [[phashPairs]] (the oracle-checked pairing stage)
    * and the committed fixture generator, so the hash fixture can never
    * drift from the queries' catalog silently. */
  def plantedMediaRecords(spark: SparkSession, dir: String): Dataset[MediaRecord] =
    plantedMediaSlice(spark, dir, emitBase = true, emitEdits = true)

  /** Slice generator behind [[plantedMediaRecords]]: `emitBase` /
    * `emitEdits` choose which catalog half gets DRAWN AND ENCODED — the
    * incremental screen decodes only the arriving edits, so generating
    * (and PNG-encoding) the base catalog there would charge it the
    * full-catalog codec cost its O(batch) contract excludes. The doc_id
    * spine fans out to core-count partitions first ([[Tables.fanOut]]):
    * the codec work is CPU-bound, and the pruned one-column spine
    * otherwise plans file-count partitions — the audio twin measured
    * 9.1× wall at 10× data before the fan-out (SCALE.md round-8
    * refresh #2). */
  private[graft] def plantedMediaSlice(spark: SparkSession, dir: String,
      emitBase: Boolean, emitEdits: Boolean): Dataset[MediaRecord] = {
    import spark.implicits._
    mediaSliceOfIds(
      Tables.fanOut(Tables.documents(spark, dir).select(col("doc_id"))).as[Long],
      emitBase, emitEdits)
  }

  /** [[plantedMediaSlice]] over an arbitrary doc_id spine — the hook the
    * scale harness uses to grow the catalog independently of the
    * arriving batch. */
  private[graft] def mediaSliceOfIds(ids: Dataset[Long],
      emitBase: Boolean, emitEdits: Boolean): Dataset[MediaRecord] = {
    import ids.sparkSession.implicits._
    ids
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.flatMap { id =>
          def draw(perturbed: Boolean): Array[Byte] = {
            val (w, h) = (72, 48)
            val (px, py) = (4 + (id % 13).toInt, 4 + ((id / 13) % 13).toInt)
            val img = new java.awt.image.BufferedImage(
              w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val on = (x / px + y / py) % 2 == 0
                val edit = perturbed && x / 8 == 1 && y / 8 == 2
                val v =
                  if (edit) 0x20c020
                  else if (on) 0xe0e0e0
                  else 0x202020
                img.setRGB(x, y, v)
                x += 1
              }
              y += 1
            }
            val out = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(img, "png", out)
            out.toByteArray
          }
          val base =
            if (emitBase) MediaRecord(id, "image/png", draw(perturbed = false)) :: Nil
            else Nil
          val edit =
            if (emitEdits && id % 10 == 0)
              MediaRecord(id + PlantShift, "image/png", draw(perturbed = true)) :: Nil
            else Nil
          base ++ edit
        }
      }
  }

  def phashNearDupPlanted(spark: SparkSession, dir: String): DataFrame = {
    // decode ONCE: the hash frame feeds three branches (both sides of
    // the banded self-join + the catalog summary), and lazily shared it
    // re-ran the draw+encode+decode+dHash subtree per consumer — the
    // executed plan showed SIX codec passes, on a query whose whole
    // cost is the codec. Materialize the (media_id, ok, dhash) frame —
    // 64 bits per image, the persisted index a real rollout stores —
    // and retire it once the 1-row summary is computed.
    Dedup.withCuts(spark) { cuts =>
      val hashes = cuts.cut(dHash(plantedMediaRecords(spark, dir)).toDF())
      val pairs = imageNearDup(hashes)
      val planted = col("id_b") === col("id_a") + PlantShift
      val nImages = hashes.agg(
        count(lit(1)).as("n_images"),
        sum(when(col("ok"), 0L).otherwise(1L)).as("n_undecodable"),
        sum(when(col("media_id") >= PlantShift, 1L).otherwise(0L)).as("planted_expected"))
      val out = cuts.cut(
        pairs.agg(
            count(lit(1)).as("n_pairs"),
            sum(when(planted, 1L).otherwise(0L)).as("planted_found"),
            max(when(planted, col("hamming"))).cast("long").as("planted_max_hamming"))
          .crossJoin(broadcast(nImages))
          .select("n_images", "n_undecodable", "planted_expected",
            "planted_found", "n_pairs", "planted_max_hamming"))
      cuts.keep("phashNearDup", out)
    }
  }

  /** Committed expected-hash fixture for [[phashPairs]]' oracle: the
    * (media_id, ok, dhash) output of decode→[[dHash]] over
    * [[plantedMediaRecords]] at the driver's verify scale (sf0.01),
    * generated by [[PhashFixtureGen]] and checked in. */
  val PhashFixturePath: String =
    sys.env.getOrElse("SPARK_GRAFT_FIXTURE_DIR", "/root/repo/fixtures") +
      "/phash_dhash_sf0.01.parquet"

  /** The ORACLE-CHECKED half of the perceptual-hash pipeline: decode →
    * [[dHash]] → [[imageNearDup]], emitting the raw near-dup pairs
    * (id_a, id_b, hamming). The Spark side runs the REAL pipeline (JDK
    * codec decode included); the DuckDB oracle replays the banding /
    * pairing / hamming stage in SQL over the committed
    * [[PhashFixturePath]] hash fixture — everything after the decode is
    * pure relational logic, so the correctness gate now pins BOTH that
    * the decoded hashes still equal the committed expected values (a
    * codec or dHash drift breaks the hash match) and that the pairing
    * plan agrees cross-engine. The fixture is the sf0.01 vintage — the
    * scale the driver's gate verifies at; [[phashNearDupPlanted]] stays
    * the scale-free rows-only summary. The oracle uses DISTINCT where
    * the Spark plan uses the first-matching-band filter: same pair set,
    * by construction. */
  def phashPairs(spark: SparkSession, dir: String): DataFrame = {
    // decode ONLY the arriving edits; the base half is recovered from
    // the memoized catalog index ([[baseHashesFromIndex]]) — the r9
    // verdict measured this arm re-paying the full catalog decode the
    // index already charges to `build:media_index` (9.7× at 10× data
    // vs the screens' ~2×)
    Dedup.withCuts(spark) { cuts =>
      val hashes = cuts.cut(
        baseHashesFromIndex(phashCatalogIndexCached(spark, dir)).unionByName(
          dHash(plantedMediaSlice(spark, dir, emitBase = false,
            emitEdits = true)).toDF()))
      cuts.keep("phashPairs", cuts.cut(phashGroupPairsOf(hashes)))
    }
  }

  /** The pairs computation at DISTINCT-HASH grain — the r10 fix for
    * the sf1 finding that the ID-grain pair output is QUADRATIC on
    * this catalog: a 64-bit dHash space over procedurally-similar
    * images saturates at a few hundred distinct values whatever the
    * catalog size, so id-grain pairs grew 248.7k → 25.2M (101×) at
    * 10× data — the OUTPUT was the bottleneck, not the plan. At
    * hash-group grain the per-image work is one linear map-side-
    * combinable groupBy, the banded join runs over DISTINCT hashes
    * (bounded by the saturated hash space, ~constant here), and the
    * output row count is scale-stable. Nothing is lost: each row
    * carries the group sizes and `n_pairs` (n_a·n_b off-diagonal,
    * C(n,2) on the exact-dup diagonal), so Σ n_pairs equals the old
    * id-grain pair count EXACTLY (suite-pinned) and id-level pairs
    * are recoverable as group cross-products. */
  private[graft] def phashGroupPairsOf(hashes: DataFrame): DataFrame = {
    val groups = hashes.filter(col("ok"))
      .groupBy("dhash").agg(count(lit(1)).as("n"))
    val asIds = groups.select(col("dhash").as("media_id"),
      lit(true).as("ok"), col("dhash"))
    val na = groups.select(col("dhash").as("h_a"), col("n").as("n_a"))
    val nb = groups.select(col("dhash").as("h_b"), col("n").as("n_b"))
    val off = imageNearDup(asIds)
      .select(col("id_a").as("h_a"), col("id_b").as("h_b"),
        col("hamming").cast("long").as("hamming"))
      .join(na, "h_a").join(nb, "h_b")
      .select(col("h_a"), col("h_b"), col("hamming"), col("n_a"), col("n_b"),
        (col("n_a") * col("n_b")).as("n_pairs"))
    val diag = groups.filter(col("n") >= 2)
      .select(col("dhash").as("h_a"), col("dhash").as("h_b"),
        lit(0L).as("hamming"), col("n").as("n_a"), col("n").as("n_b"),
        expr("(n * (n - 1)) div 2").as("n_pairs"))
    off.unionByName(diag).orderBy("h_a", "h_b")
  }

  /** The PERSISTED banded dHash index of an image catalog — one row per
    * (image, band) with the 16-bit band signature as the join key:
    * exactly what an image-dedup rollout snapshots (64 bits + 4 keys
    * per image), bucketed by (band, band_sig) in production so arriving
    * probes join with no index-side exchange. */
  def imageHashIndexOf(hashes: DataFrame): DataFrame =
    hashes.filter(col("ok"))
      .select(col("media_id").as("dup_of"), col("dhash").as("h_b"),
        explode(sequence(lit(0), lit(3))).as("band"))
      .withColumn("band_sig", expr("shiftright(h_b, band * 16) & 65535"))

  /** Base-catalog hash frame RECOVERED from a memoized banded index
    * (band 0's row carries the full 64-bit hash): the full-pairs arms
    * consume this for their base half instead of re-decoding the
    * catalog the index build already paid for (the cost sits in
    * Bench's `build:media_index` row, exactly like the incremental
    * screens). Undecodable base records are absent from the index —
    * they contribute no pairs either way ([[imageNearDup]] filters
    * `ok`), so the recovered frame is pair-equivalent to a fresh
    * full-catalog decode. */
  private def baseHashesFromIndex(index: DataFrame): DataFrame =
    index.filter(col("band") === 0)
      .select(col("dup_of").as("media_id"), lit(true).as("ok"),
        col("h_b").as("dhash"))

  /** The base IMAGE catalog's banded hash index, decoded once per
    * (session, snapshot) and memoized ([[Dedup.memoizedFrame]] — the
    * `annIndexCached` lifecycle: swept by `clearMemos`, charged to
    * Bench's `build:media_index` row). This is the persisted-index
    * stand-in the incremental screen's O(batch) contract assumes:
    * before it, `q_multimodal_phash_inc`/`q_multimodal_audio_inc`
    * re-fingerprinted the ENTIRE catalog every run — the audio twin's
    * standalone sf1 wall matched the full pairs query's (10.9 s vs
    * 10.1 s, SCALE.md round-8 refresh #2), the signature of paying
    * the catalog decode the screen exists to avoid. */
  def phashCatalogIndexCached(spark: SparkSession, dir: String): DataFrame =
    Dedup.memoizedFrame(spark, "media_phash_index", dir, "documents.parquet") {
      imageHashIndexOf(
        dHash(plantedMediaSlice(spark, dir, emitBase = true, emitEdits = false))
          .toDF())
    }

  /** The base AUDIO catalog's banded fingerprint index — the
    * [[phashCatalogIndexCached]] contract on the audio modality. */
  def audioCatalogIndexCached(spark: SparkSession, dir: String): DataFrame =
    Dedup.memoizedFrame(spark, "media_audio_index", dir, "documents.parquet") {
      imageHashIndexOf(
        audioFingerprint(
          plantedAudioSlice(spark, dir, emitBase = true, emitEdits = false))
          .toDF().withColumnRenamed("fp", "dhash"))
    }

  /** INCREMENTAL banded near-dup screen for ARRIVING images — the
    * `q_dedup_incremental` pattern on the phash bands, completing the
    * measure/act × batch/incremental grid for the image modality: new
    * hashes probe the persisted [[imageHashIndexOf]] snapshot
    * asymmetrically (new × index — cost scales with the BATCH, not the
    * catalog), the first-matching-band filter keeps each (new, corpus)
    * pair once without a distinct, and `bit_count(xor)` verifies at
    * [[DHashMaxHamming]]. Stateless row-local + one equi-join, so the
    * identical kernel runs as the streaming twin
    * ([[graft.streaming.MediaStream.phashScreen]], stream ≡ batch
    * suite-pinned). */
  def imageNearDupScreen(newHashes: DataFrame, index: DataFrame,
      maxHamming: Int = DHashMaxHamming): DataFrame = {
    val probes = newHashes.filter(col("ok"))
      .select(col("media_id").as("new_id"), col("dhash").as("h_a"),
        explode(sequence(lit(0), lit(3))).as("band"))
      .withColumn("band_sig", expr("shiftright(h_a, band * 16) & 65535"))
    val earlier = (0 until 4).map(k =>
      when(col("band") > k,
        shiftright(col("h_a"), k * 16).bitwiseAND(lit(0xffffL)) ===
          shiftright(col("h_b"), k * 16).bitwiseAND(lit(0xffffL)))
        .otherwise(lit(false)))
      .reduce(_ || _)
    probes.join(index, Seq("band", "band_sig"))
      .filter(!earlier) // first matching band only — each pair kept once
      .withColumn("hamming", bit_count(col("h_a").bitwiseXOR(col("h_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("new_id", "dup_of", "hamming")
  }

  /** Registered incremental phash screen: the planted re-encoded edits
    * (media_id ≥ [[PlantShift]] — the arriving batch by construction)
    * screened against the base catalog's persisted hash index. Oracle:
    * the banding/probe stage replayed in SQL over the committed
    * [[PhashFixturePath]] fixture (the `q_multimodal_phash_pairs`
    * discipline), so the gate pins both the decode→dHash drift and the
    * asymmetric probe plan cross-engine. */
  def phashScreenInc(spark: SparkSession, dir: String): DataFrame = {
    Dedup.withCuts(spark) { cuts =>
      // decode ONLY the arriving batch (the edits half of the planted
      // catalog); the base catalog is served from the memoized index —
      // cost scales with the batch, not the catalog
      val out = cuts.cut(
        imageNearDupScreen(
          dHash(plantedMediaSlice(spark, dir, emitBase = false, emitEdits = true))
            .toDF(),
          phashCatalogIndexCached(spark, dir))
          .select(col("new_id"), col("dup_of"),
            col("hamming").cast("long").as("hamming"))
          .orderBy("new_id", "dup_of"))
      cuts.keep("phashScreenInc", out)
    }
  }

  /** Plan-audit hook: the live hash-group pairing dataflow over the
    * MATERIALIZED hash frame, exactly as the registered query consumes
    * it (a dump of the registered query shows only the final retained
    * ExistingRDD; skipping the materialization instead would dump the
    * edits-decode subtree once per join leg — a shape the production
    * query never runs). */
  private[graft] def phashPairsPlanOf(spark: SparkSession, dir: String): DataFrame = {
    val hashes = Dedup.unownedCut(
      baseHashesFromIndex(phashCatalogIndexCached(spark, dir)).unionByName(
        dHash(plantedMediaSlice(spark, dir, emitBase = false,
          emitEdits = true)).toDF()))
    phashGroupPairsOf(hashes)
  }

  /** Plan-audit hook: the live screen dataflow — the batch-only decode
    * subtree probing the memoized catalog index (which plans as the
    * `Scan ExistingRDD` a persisted index read would). */
  private[graft] def phashScreenPlanOf(spark: SparkSession, dir: String): DataFrame =
    imageNearDupScreen(
      dHash(plantedMediaSlice(spark, dir, emitBase = false, emitEdits = true)).toDF(),
      phashCatalogIndexCached(spark, dir))

  // ---- audio fingerprinting (real PCM decode, envelope dHash) ----

  final case class AudioFp(media_id: Long, ok: Boolean, fp: Long)

  /** Segment count for [[audioFingerprint]]: 65 RMS windows give 64
    * adjacent-energy comparisons — one fingerprint bit each, the audio
    * analog of dHash's 9×8 grid. */
  val AudioFpSegments = 65

  /** Serialize PCM 16-bit mono samples as a canonical RIFF/WAVE blob —
    * the real container [[audioFingerprint]] decodes back through
    * `javax.sound.sampled`. */
  private[graft] def wavPcm16Mono(rate: Int, samples: Array[Short]): Array[Byte] = {
    val dataLen = samples.length * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(rate).putInt(rate * 2)
      .putShort(2).putShort(16)
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach(bb.putShort)
    bb.array()
  }

  /** Deterministic per-(track, segment) amplitude for the planted audio
    * catalog: 13 levels with a 400-unit floor gap, mixed through an
    * xor-shift so distinct ids get effectively independent envelopes —
    * a LINEAR mix mod 13 would collapse the catalog into id%13
    * envelope classes and flood the pair output with accidental
    * hamming-0 collisions (observed: 24 distinct fingerprints over 550
    * tracks before the xor-shift). */
  private def segAmp(id: Long, s: Int): Int = {
    val x = id * 2654435761L + s * 1099511628211L
    2000 + 400 * java.lang.Math.floorMod(x ^ (x >>> 29), 13L).toInt
  }

  /** Planted AUDIO catalog: one ~0.13 s PCM WAV per document whose
    * 65-segment energy envelope is a deterministic function of the doc
    * id; every 10th track also ships a perturbed re-master (id +
    * [[PlantShift]]) — all segments gain-scaled ×1.02 (floor) plus ONE
    * localized segment edit. Gain scaling preserves every adjacent
    * energy comparison exactly (equal stays equal, the 400-unit gap
    * dwarfs the 2% scale), so the edit flips at most 2 fingerprint
    * bits — the planted near-dups the screen must find, same contract
    * as [[plantedMediaRecords]]' image edits. */
  def plantedAudioRecords(spark: SparkSession, dir: String): Dataset[MediaRecord] =
    plantedAudioSlice(spark, dir, emitBase = true, emitEdits = true)

  /** Slice generator behind [[plantedAudioRecords]] — the
    * [[plantedMediaSlice]] contract on the audio modality: the
    * incremental screen synthesizes/encodes only the arriving
    * re-masters, and the doc_id spine fans out to core-count
    * partitions before the CPU-bound WAV encode. */
  private[graft] def plantedAudioSlice(spark: SparkSession, dir: String,
      emitBase: Boolean, emitEdits: Boolean): Dataset[MediaRecord] = {
    import spark.implicits._
    audioSliceOfIds(
      Tables.fanOut(Tables.documents(spark, dir).select(col("doc_id"))).as[Long],
      emitBase, emitEdits)
  }

  /** [[plantedAudioSlice]] over an arbitrary doc_id spine — the scale
    * harness's catalog-growth hook. */
  private[graft] def audioSliceOfIds(ids: Dataset[Long],
      emitBase: Boolean, emitEdits: Boolean): Dataset[MediaRecord] = {
    import ids.sparkSession.implicits._
    val rate = 8000
    val segLen = 16
    ids
      .mapPartitions { it =>
        it.flatMap { id =>
          def draw(perturbed: Boolean): Array[Byte] = {
            val samples = new Array[Short](AudioFpSegments * segLen)
            var s = 0
            while (s < AudioFpSegments) {
              val base = segAmp(id, s)
              val amp =
                if (!perturbed) base
                else if (s == 10) segAmp(id * 31L + 7L, s)
                else base * 102 / 100
              var i = 0
              while (i < segLen) { samples(s * segLen + i) = amp.toShort; i += 1 }
              s += 1
            }
            wavPcm16Mono(rate, samples)
          }
          val base =
            if (emitBase) MediaRecord(id, "audio/wav", draw(perturbed = false)) :: Nil
            else Nil
          val edit =
            if (emitEdits && id % 10 == 0)
              MediaRecord(id + PlantShift, "audio/wav", draw(perturbed = true)) :: Nil
            else Nil
          base ++ edit
        }
      }
  }

  /** ENVELOPE dHash over the DECODED PCM stream — the audio analog of
    * [[dHash]]: the real `javax.sound.sampled` decode yields the
    * 16-bit sample stream, absolute amplitudes box-sum onto
    * [[AudioFpSegments]] integer-boundary segments (`i·65/n`, the
    * dHash grid rule), and bit s = [energy(s+1) > energy(s)] via
    * cross-multiplied integer sums — no division, no float, so every
    * JVM computes identical bits. Energy GRADIENTS survive gain
    * changes and re-mastering the way image gradients survive
    * re-encoding — which is what makes this a near-dup key rather
    * than an exact hash. Corrupt payloads degrade to `ok = false`,
    * never a dead task. */
  def audioFingerprint(records: Dataset[MediaRecord]): Dataset[AudioFp] = {
    import records.sparkSession.implicits._
    records.mapPartitions { it =>
      it.map { r =>
        val decoded =
          try {
            val s = javax.sound.sampled.AudioSystem.getAudioInputStream(
              new java.io.ByteArrayInputStream(r.content))
            try {
              val f = s.getFormat
              if (f.getSampleSizeInBits != 16 || f.getChannels != 1 ||
                  f.isBigEndian) None
              else Some(s.readAllBytes())
            } finally s.close()
          } catch { case scala.util.control.NonFatal(_) => None }
        decoded match {
          case Some(bytes) if bytes.length / 2 >= AudioFpSegments =>
            val n = bytes.length / 2
            val sums = new Array[Long](AudioFpSegments)
            val cnts = new Array[Long](AudioFpSegments)
            var i = 0
            while (i < n) {
              val lo = bytes(2 * i) & 0xff
              val hi = bytes(2 * i + 1).toInt
              val v = (hi << 8) | lo
              val seg = (i.toLong * AudioFpSegments / n).toInt
              sums(seg) += math.abs(v)
              cnts(seg) += 1
              i += 1
            }
            var fp = 0L
            var s = 0
            while (s < AudioFpSegments - 1) {
              if (sums(s + 1) * cnts(s) > sums(s) * cnts(s + 1))
                fp |= 1L << s
              s += 1
            }
            AudioFp(r.media_id, ok = true, fp)
          case _ => AudioFp(r.media_id, ok = false, 0L)
        }
      }
    }
  }

  /** Committed expected-fingerprint fixture for [[audioFpPairs]]'
    * oracle — the [[PhashFixturePath]] discipline on the audio
    * modality, generated by [[AudioFpFixtureGen]]. */
  val AudioFpFixturePath: String =
    sys.env.getOrElse("SPARK_GRAFT_FIXTURE_DIR", "/root/repo/fixtures") +
      "/audio_fp_sf0.01.parquet"

  /** Registered AUDIO near-dup pairs: real WAV decode →
    * [[audioFingerprint]] → the SAME banded pairing kernel as images
    * ([[imageNearDup]] — a 64-bit fingerprint is a 64-bit fingerprint,
    * whatever modality produced it). The DuckDB oracle replays
    * banding/pairing/hamming over the committed [[AudioFpFixturePath]]
    * fixture, so the gate pins both the decode→fingerprint path (codec
    * or kernel drift breaks the hash match) and the pairing plan. */
  def audioFpPairs(spark: SparkSession, dir: String): DataFrame = {
    Dedup.withCuts(spark) { cuts =>
      // base half from the memoized fingerprint index; only the
      // arriving re-masters are decoded (the [[phashPairs]] fix on the
      // audio modality)
      val fps = cuts.cut(
        baseHashesFromIndex(audioCatalogIndexCached(spark, dir)).unionByName(
          audioFingerprint(
            plantedAudioSlice(spark, dir, emitBase = false, emitEdits = true))
            .toDF().withColumnRenamed("fp", "dhash")))
      val out = cuts.cut(
        imageNearDup(fps)
          .select(col("id_a"), col("id_b"),
            col("hamming").cast("long").as("hamming"))
          .orderBy("id_a", "id_b"))
      cuts.keep("audioFpPairs", out)
    }
  }

  /** Registered incremental AUDIO screen — arriving re-masters
    * (media_id ≥ [[PlantShift]]) probed against the base catalog's
    * persisted fingerprint index: the `q_multimodal_phash_inc` pattern
    * with [[audioFingerprint]] in front of the SAME asymmetric banded
    * probe kernel ([[imageNearDupScreen]] — modality-agnostic over
    * 64-bit fingerprints). Cost scales with the batch, not the
    * catalog; stateless row-local + one equi-join, so the identical
    * kernel runs as the streaming twin
    * ([[graft.streaming.MediaStream.audioFpScreen]], stream ≡ batch
    * suite-pinned). Oracle: the probe replayed in SQL over the
    * committed [[AudioFpFixturePath]] fixture. */
  def audioFpScreenInc(spark: SparkSession, dir: String): DataFrame = {
    Dedup.withCuts(spark) { cuts =>
      // decode ONLY the arriving re-masters; the base catalog is served
      // from the memoized fingerprint index ([[audioCatalogIndexCached]])
      val out = cuts.cut(
        imageNearDupScreen(
          audioFingerprint(
            plantedAudioSlice(spark, dir, emitBase = false, emitEdits = true))
            .toDF().withColumnRenamed("fp", "dhash"),
          audioCatalogIndexCached(spark, dir))
          .select(col("new_id"), col("dup_of"),
            col("hamming").cast("long").as("hamming"))
          .orderBy("new_id", "dup_of"))
      cuts.keep("audioFpScreenInc", out)
    }
  }

  /** Plan-audit hook for the audio screen (the registered query returns
    * a retained `ExistingRDD`): the batch-only decode→fingerprint
    * subtree probing the memoized catalog index. */
  private[graft] def audioScreenPlanOf(spark: SparkSession, dir: String): DataFrame =
    imageNearDupScreen(
      audioFingerprint(
        plantedAudioSlice(spark, dir, emitBase = false, emitEdits = true))
        .toDF().withColumnRenamed("fp", "dhash"),
      audioCatalogIndexCached(spark, dir))

  // ---- video fingerprinting (raw codec-free container, frame-sampled
  //      dHash, temporal majority) ----
  //
  // The JDK ships no video CODEC — but a raw container needs none: Y4M
  // (YUV4MPEG2) is an uncompressed interchange format whose "decode" is
  // a header parse plus fixed-size frame payloads, the `wavPcm16Mono`
  // position on the video modality. The pipeline is the real
  // production shape end to end: demux (header + frame boundaries) →
  // frame sampling (every [[VideoSampleNth]]th frame — nobody hashes
  // every frame of a clip) → per-frame spatial dHash on the luma plane
  // (the image kernel's integer grid arithmetic on raw gray bytes) →
  // clip fingerprint by per-bit MAJORITY across the sampled frames
  // (robust to any minority of edited/transitional frames, and pure
  // integer counting so every JVM computes identical bits). Compressed
  // codecs (H.264/VP9/AV1) stay honestly stubbed — swapping the demux
  // step for an ffmpeg binding leaves every Spark-side shape here
  // unchanged.

  final case class VideoFp(media_id: Long, ok: Boolean, fp: Long)

  /** Planted-clip geometry: 64×32 luma, 40 frames, every 4th sampled
    * (10 hashed frames per clip). */
  val VideoW = 64
  val VideoH = 32
  val VideoFrames = 40
  val VideoSampleNth = 4

  /** Serialize mono (luma-only) frames as a canonical YUV4MPEG2 blob —
    * the real container [[videoFingerprint]] demuxes back. */
  private[graft] def y4mMono(w: Int, h: Int,
      frames: Seq[Array[Byte]]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(s"YUV4MPEG2 W$w H$h F25:1 Ip A1:1 Cmono\n".getBytes("US-ASCII"))
    frames.foreach { f =>
      out.write("FRAME\n".getBytes("US-ASCII")); out.write(f)
    }
    out.toByteArray
  }

  /** Deterministic per-(clip, grid cell, frame) luma for the planted
    * catalog: 13 levels with 12-unit floor gaps on [32, 176] (the
    * [[segAmp]] trick on the dHash grid — cell-aligned constants, so a
    * ×1.02 gain re-grade can never flip an adjacent-cell comparison),
    * mixed through the same xor-shift so distinct clips get independent
    * patterns. Grid column 6 is the MOTION column — its cells vary per
    * frame, so sampled frames genuinely differ and the temporal
    * majority is exercised, not vacuous. */
  private def cellLum(id: Long, gx: Int, gy: Int, t: Int): Int = {
    val cell = (gy * 9 + gx).toLong
    val s = if (gx == 6) cell + ((t + 1L) << 16) else cell
    val x = id * 2654435761L + s * 1099511628211L
    32 + 12 * java.lang.Math.floorMod(x ^ (x >>> 29), 13L).toInt
  }

  /** Planted VIDEO catalog: one Y4M clip per document; every 10th clip
    * also ships a re-edited master (id + [[PlantShift]]) — all frames
    * gain-graded ×1.02 (bit-preserving by the floor-gap construction)
    * plus one grid cell replaced in EVERY frame (a logo/watermark-style
    * edit), so the clip fingerprints differ in at most the 2 bits whose
    * comparisons touch the edited cell — the planted near-dups the
    * screen must find, the [[plantedAudioRecords]] contract on the
    * video modality. */
  def plantedVideoRecords(spark: SparkSession, dir: String): Dataset[MediaRecord] =
    plantedVideoSlice(spark, dir, emitBase = true, emitEdits = true)

  private[graft] def plantedVideoSlice(spark: SparkSession, dir: String,
      emitBase: Boolean, emitEdits: Boolean): Dataset[MediaRecord] = {
    import spark.implicits._
    videoSliceOfIds(
      Tables.fanOut(Tables.documents(spark, dir).select(col("doc_id"))).as[Long],
      emitBase, emitEdits)
  }

  /** [[plantedVideoSlice]] over an arbitrary doc_id spine — the scale
    * harness's catalog-growth hook. */
  private[graft] def videoSliceOfIds(ids: Dataset[Long],
      emitBase: Boolean, emitEdits: Boolean): Dataset[MediaRecord] = {
    import ids.sparkSession.implicits._
    ids.mapPartitions { it =>
      it.flatMap { id =>
        def draw(perturbed: Boolean): Array[Byte] = {
          val (w, h) = (VideoW, VideoH)
          val frames = (0 until VideoFrames).map { t =>
            val f = new Array[Byte](w * h)
            var y = 0
            while (y < h) {
              val gy = y * 8 / h
              var x = 0
              while (x < w) {
                val gx = x * 9 / w
                val edited = perturbed && gx == 2 && gy == 3
                val v =
                  if (edited) cellLum(id * 31L + 7L, gx, gy, 0)
                  else if (perturbed) cellLum(id, gx, gy, t) * 102 / 100
                  else cellLum(id, gx, gy, t)
                f(y * w + x) = v.toByte
                x += 1
              }
              y += 1
            }
            f
          }
          y4mMono(w, h, frames)
        }
        val base =
          if (emitBase) MediaRecord(id, "video/x-y4m", draw(perturbed = false)) :: Nil
          else Nil
        val edit =
          if (emitEdits && id % 10 == 0)
            MediaRecord(id + PlantShift, "video/x-y4m", draw(perturbed = true)) :: Nil
          else Nil
        base ++ edit
      }
    }
  }

  /** Y4M demux: header (W/H/colorspace) + FRAME-delimited payloads,
    * returning the LUMA plane of each frame (chroma, when present, is
    * skipped — fingerprinting is luma-only, like most perceptual video
    * hashes). Any malformation — bad magic, missing dims, unknown
    * colorspace, truncated payload — returns None, which the
    * fingerprint degrades to `ok = false` (never a dead task). */
  private def parseY4m(bytes: Array[Byte])
      : Option[(Int, Int, Seq[Array[Byte]])] = {
    def lineEnd(from: Int): Int = {
      var i = from
      while (i < bytes.length && bytes(i) != '\n'.toByte) i += 1
      if (i < bytes.length) i else -1
    }
    val nl = lineEnd(0)
    if (nl < 0) return None
    val header = new String(bytes, 0, nl, "US-ASCII")
    if (!header.startsWith("YUV4MPEG2")) return None
    var w = -1; var h = -1; var cs = "420" // y4m's default colorspace
    header.split(' ').drop(1).foreach { p =>
      try {
        if (p.startsWith("W")) w = p.drop(1).toInt
        else if (p.startsWith("H")) h = p.drop(1).toInt
        else if (p.startsWith("C")) cs = p.drop(1)
      } catch { case _: NumberFormatException => return None }
    }
    if (w <= 0 || h <= 0) return None
    val luma = w * h
    val frameSize =
      if (cs == "mono") luma
      else if (cs.startsWith("420")) luma * 3 / 2
      else if (cs.startsWith("422")) luma * 2
      else if (cs.startsWith("444")) luma * 3
      else return None
    val frames = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    var pos = nl + 1
    while (pos < bytes.length) {
      val fnl = lineEnd(pos)
      if (fnl < 0) return None
      if (!new String(bytes, pos, fnl - pos, "US-ASCII").startsWith("FRAME"))
        return None
      if (fnl + 1 + frameSize > bytes.length) return None
      frames += java.util.Arrays.copyOfRange(bytes, fnl + 1, fnl + 1 + luma)
      pos = fnl + 1 + frameSize
    }
    if (frames.isEmpty) None else Some((w, h, frames.toSeq))
  }

  /** [[dHash]]'s integer grid kernel on a raw gray frame: box-sum onto
    * the 9×8 grid with the `x·9/w` boundary rule, bit = [cell(x+1,y) >
    * cell(x,y)] via cross-multiplied sums — no division, no float. */
  private def frameDHashGray(f: Array[Byte], w: Int, h: Int): Long = {
    val cell = Array.ofDim[Long](8, 9)
    val cnt = Array.ofDim[Long](8, 9)
    var y = 0
    while (y < h) {
      val gy = y * 8 / h
      var x = 0
      while (x < w) {
        val gx = x * 9 / w
        cell(gy)(gx) += (f(y * w + x) & 0xff).toLong
        cnt(gy)(gx) += 1
        x += 1
      }
      y += 1
    }
    var hash = 0L
    var gy = 0
    while (gy < 8) {
      var gx = 0
      while (gx < 8) {
        if (cell(gy)(gx + 1) * cnt(gy)(gx) > cell(gy)(gx) * cnt(gy)(gx + 1))
          hash |= 1L << (gy * 8 + gx)
        gx += 1
      }
      gy += 1
    }
    hash
  }

  /** Clip fingerprint: demux → sample every [[VideoSampleNth]]th frame
    * → per-frame luma dHash → per-bit STRICT MAJORITY across the
    * sampled frames (bit set iff more than half the sampled frames set
    * it; ties clear — deterministic integer counting). Majority is
    * what makes the clip hash stable under minority-frame edits,
    * transitions and sampling phase jitter, while a persistent edit
    * (a watermark across the clip) flips exactly its cells' bits.
    * Frames too small for the 9×8 grid, empty clips and malformed
    * containers degrade to `ok = false`. */
  def videoFingerprint(records: Dataset[MediaRecord]): Dataset[VideoFp] = {
    import records.sparkSession.implicits._
    records.mapPartitions { it =>
      it.map { r =>
        val parsed =
          try parseY4m(r.content)
          catch { case scala.util.control.NonFatal(_) => None }
        parsed match {
          case Some((w, h, frames)) if w >= 9 && h >= 8 =>
            val sampled = frames.indices
              .collect { case i if i % VideoSampleNth == 0 => frames(i) }
            val hashes = sampled.map(frameDHashGray(_, w, h))
            var fp = 0L
            var b = 0
            while (b < 64) {
              var set = 0
              hashes.foreach(hh => if ((hh & (1L << b)) != 0) set += 1)
              if (2 * set > hashes.size) fp |= 1L << b
              b += 1
            }
            VideoFp(r.media_id, ok = true, fp)
          case _ => VideoFp(r.media_id, ok = false, 0L)
        }
      }
    }
  }

  /** Committed expected-fingerprint fixture for [[videoFpPairs]]'
    * oracle — the [[PhashFixturePath]] discipline on the video
    * modality, generated by [[VideoFpFixtureGen]]. */
  val VideoFpFixturePath: String =
    sys.env.getOrElse("SPARK_GRAFT_FIXTURE_DIR", "/root/repo/fixtures") +
      "/video_fp_sf0.01.parquet"

  /** The base VIDEO catalog's banded fingerprint index — the
    * [[phashCatalogIndexCached]] contract on the video modality. */
  def videoCatalogIndexCached(spark: SparkSession, dir: String): DataFrame =
    Dedup.memoizedFrame(spark, "media_video_index", dir, "documents.parquet") {
      imageHashIndexOf(
        videoFingerprint(
          plantedVideoSlice(spark, dir, emitBase = true, emitEdits = false))
          .toDF().withColumnRenamed("fp", "dhash"))
    }

  /** Registered VIDEO near-dup pairs: real Y4M demux →
    * [[videoFingerprint]] → the SAME banded pairing kernel as images
    * and audio ([[imageNearDup]] — 64-bit fingerprints are
    * modality-agnostic). The DuckDB oracle replays
    * banding/pairing/hamming over the committed [[VideoFpFixturePath]]
    * fixture, so the gate pins both the demux→fingerprint path and the
    * pairing plan. */
  def videoFpPairs(spark: SparkSession, dir: String): DataFrame = {
    Dedup.withCuts(spark) { cuts =>
      // base half from the memoized fingerprint index; only the
      // arriving re-edits are demuxed (the [[phashPairs]] fix on the
      // video modality)
      val fps = cuts.cut(
        baseHashesFromIndex(videoCatalogIndexCached(spark, dir)).unionByName(
          videoFingerprint(
            plantedVideoSlice(spark, dir, emitBase = false, emitEdits = true))
            .toDF().withColumnRenamed("fp", "dhash")))
      val out = cuts.cut(
        imageNearDup(fps)
          .select(col("id_a"), col("id_b"),
            col("hamming").cast("long").as("hamming"))
          .orderBy("id_a", "id_b"))
      cuts.keep("videoFpPairs", out)
    }
  }

  /** Registered incremental VIDEO screen — arriving re-edited masters
    * (media_id ≥ [[PlantShift]]) probed against the base catalog's
    * persisted fingerprint index: the `q_multimodal_phash_inc` pattern
    * with [[videoFingerprint]] in front of the SAME asymmetric banded
    * probe kernel. Only the batch is demuxed; cost scales with the
    * batch, not the catalog. Stateless row-local + one equi-join, so
    * the identical kernel runs as the streaming twin
    * ([[graft.streaming.MediaStream.videoFpScreen]], stream ≡ batch
    * suite-pinned). Oracle: the probe replayed in SQL over the
    * committed [[VideoFpFixturePath]] fixture. */
  def videoFpScreenInc(spark: SparkSession, dir: String): DataFrame = {
    Dedup.withCuts(spark) { cuts =>
      val out = cuts.cut(
        imageNearDupScreen(
          videoFingerprint(
            plantedVideoSlice(spark, dir, emitBase = false, emitEdits = true))
            .toDF().withColumnRenamed("fp", "dhash"),
          videoCatalogIndexCached(spark, dir))
          .select(col("new_id"), col("dup_of"),
            col("hamming").cast("long").as("hamming"))
          .orderBy("new_id", "dup_of"))
      cuts.keep("videoFpScreenInc", out)
    }
  }

  /** Plan-audit hook for the video screen (the registered query returns
    * a retained `ExistingRDD`): the batch-only demux→fingerprint
    * subtree probing the memoized catalog index. */
  private[graft] def videoScreenPlanOf(spark: SparkSession, dir: String): DataFrame =
    imageNearDupScreen(
      videoFingerprint(
        plantedVideoSlice(spark, dir, emitBase = false, emitEdits = true))
        .toDF().withColumnRenamed("fp", "dhash"),
      videoCatalogIndexCached(spark, dir))

  /** Per-mime payload statistics — the registered, oracle-checked query
    * over the binary column (pure column ops: octet_length etc. work on
    * BinaryType like any scalar type). */
  def mimeStats(spark: SparkSession, dir: String): DataFrame =
    mediaFromDocuments(spark, dir)
      .groupBy("mime")
      .agg(
        count(lit(1)).as("n_media"),
        sum(octet_length(col("content"))).as("total_bytes"),
        round(avg(octet_length(col("content"))), 2).as("avg_bytes"),
        countDistinct(col("content_md5")).as("n_distinct"))
      .orderBy("mime")
}

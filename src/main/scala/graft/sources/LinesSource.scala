package graft.sources

import java.util

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 connector reproducing the reference's scan CONTRACT —
  * `FileProcessorInput` (`asio_deep/main.cpp:230-234`; contract
  * `FileProcessorBase.hpp:82-84`): list the regular files of a
  * directory, count each file's lines (`linesPerFile @0x21146`), split
  * every file into ⌈lines/2000⌉ fixed-size line partitions
  * (`processFile @0x213e2`: the 2000 constant `$0x7d0 @0x21460`), and
  * thread the partition NUMBER to the operator (`MapperBase.hpp:17`,
  * driver loop `asio_deep/main.cpp:274`). Where `Tables.textCorpus`
  * maps that surface onto `spark.read.text` + byte-based splits, this
  * source implements it on the modern connector SPI, line-exact:
  *
  *   spark.read.format("graft-lines")
  *     .option("linesPerPartition", 2000)   // the reference's constant
  *     .load(dir)
  *   // schema: file STRING, part INT, line STRING
  *
  * Each `InputPartition` is one (file, line-range) — exactly the unit
  * the reference hands one Mapper (`main.cpp:262-277`) — so Spark's
  * scheduler replaces the `std::async` fan-out with tasks at the
  * identical granularity, and `part` is the same number the tuple
  * `(word, 1, partitionNum)` carried. Column pruning is pushed into the
  * reader (an unused `line` column is never allocated — the projection
  * contract of §2.2).
  *
  * Scale posture, stated honestly: planning COUNTS LINES because the
  * reference's partitioning is defined in lines — one bulk byte pass per
  * file on the driver, reading 64 KiB chunks into one reused buffer and
  * scanning them for terminators ([[LinesSource.countLines]]). On a
  * 4-core box, one plan of a 12 MiB, 32-file corpus took 0.66–0.72 s
  * when that pass called `read()` once per byte, and takes 0.05–0.07 s
  * in bulk.
  * Per-file work parallelizes only up to ⌈lines/2000⌉ tasks reading the
  * same file. That is the reference's own design, faithfully
  * reproduced — for the 100 TB path the parquet/text sources with
  * byte-range splits remain the right tool; this connector is the
  * compat surface and the SPI demonstration. */
class LinesSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-lines"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    LinesSource.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    // properties arrive with original-case keys; match options the way
    // every built-in source does — case-insensitively
    val opts = new CaseInsensitiveStringMap(properties)
    new LinesTable(
      Option(opts.get("path")).getOrElse(
        throw new IllegalArgumentException("graft-lines: path is required")),
      Option(opts.get("linesPerPartition")).map(_.toInt)
        .getOrElse(LinesSource.DefaultLinesPerPartition))
  }
}

object LinesSource {
  /** The reference's partition size (`$0x7d0` = 2000 @0x21460). */
  val DefaultLinesPerPartition = 2000

  val Schema: StructType = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("part", IntegerType, nullable = false),
    StructField("line", StringType, nullable = false)))

  /** Size of the byte buffer planning reads each file through. */
  val PlanBufferBytes: Int = 1 << 16

  /** Line count of `f` and the byte offset of every
    * `linesPerPartition`-th line start (offset 0 first), in one bulk pass
    * that reads the file into `buf` and scans each chunk for terminators.
    *
    * Lines end exactly where `BufferedReader.readLine` ends them — and
    * where Hadoop's `LineReader` behind `spark.read.text` does: at `\n`,
    * at a bare `\r`, and at `\r\n` as one terminator, even when the `\r`
    * ends one chunk and the `\n` starts the next. A final line without a
    * terminator still counts. Scanning bytes is safe under UTF-8: neither
    * byte occurs inside a multi-byte sequence. */
  private[graft] def countLines(f: java.io.File, linesPerPartition: Int,
      buf: Array[Byte]): (Long, collection.IndexedSeq[Long]) = {
    val offsets = collection.mutable.ArrayBuffer(0L)
    var lines = 0L
    var pendingContent = false
    var afterCr = false
    var base = 0L
    val in = new java.io.FileInputStream(f)
    try {
      var n = in.read(buf)
      while (n >= 0) {
        var i = 0
        while (i < n) {
          val b = buf(i)
          if (b == '\n' && afterCr) {
            // the LF of a CRLF: the CR already ended the line, so a
            // partition starting after it starts past the LF
            if (lines % linesPerPartition == 0)
              offsets(offsets.length - 1) = base + i + 1
          } else if (b == '\n' || b == '\r') {
            lines += 1
            if (lines % linesPerPartition == 0) offsets += base + i + 1
            pendingContent = false
          } else pendingContent = true
          afterCr = b == '\r'
          i += 1
        }
        base += n
        n = in.read(buf)
      }
    } finally in.close()
    if (pendingContent) lines += 1
    (lines, offsets)
  }
}

private class LinesTable(path: String, linesPerPartition: Int)
    extends Table with SupportsRead {
  require(linesPerPartition > 0, "linesPerPartition must be positive")
  override def name(): String = s"graft-lines:$path"
  override def schema(): StructType = LinesSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new LinesScanBuilder(path, linesPerPartition)
}

private class LinesScanBuilder(path: String, linesPerPartition: Int)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = LinesSource.Schema
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = new LinesScan(path, linesPerPartition, required)
}

private class LinesScan(path: String, linesPerPartition: Int,
    required: StructType) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** One InputPartition per (file, 2000-line range): the reference's
    * ⌈lines/2000⌉ split (`processFile`: `ceil` @0x21490), computed — as
    * the reference computes it — by counting lines up front
    * ([[LinesSource.countLines]]). The SAME counting pass records the
    * byte offset of each partition's first line, so every reader SEEKS
    * to its range instead of re-parsing the file from byte 0 and
    * dropping lines — without the offsets a file with L lines cost
    * ~L²/(2·lpp) line parses across its readers (quadratic in file
    * size), and the old `drop(startLine.toInt)` silently wrapped past
    * 2³¹ lines. Files are listed in sorted order
    * so partition numbering is deterministic. */
  override def planInputPartitions(): Array[InputPartition] = {
    val dir = new java.io.File(path)
    val files = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(_.isFile).sortBy(_.getName)
    val buf = new Array[Byte](LinesSource.PlanBufferBytes)
    files.flatMap { f =>
      val (lines, offsets) =
        LinesSource.countLines(f, linesPerPartition, buf)
      val nParts = math.max(1,
        math.ceil(lines.toDouble / linesPerPartition).toInt)
      (0 until nParts).map { p =>
        LinesPartition(f.getAbsolutePath, p, offsets(p),
          math.min(lines, (p + 1).toLong * linesPerPartition) -
            p.toLong * linesPerPartition)
      }
    }.toArray[InputPartition]
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new LinesReaderFactory(required)
}

private case class LinesPartition(file: String, part: Int,
    startOffset: Long, nLines: Long) extends InputPartition

private class LinesReaderFactory(required: StructType)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new LinesReader(partition.asInstanceOf[LinesPartition], required)
}

/** SEEKS to its partition's byte offset (recorded at planning) and
  * streams exactly its line range; only the pruned columns are
  * materialized. */
private class LinesReader(p: LinesPartition, required: StructType)
    extends PartitionReader[InternalRow] {
  private val stream = new java.io.FileInputStream(p.file)
  stream.getChannel.position(p.startOffset)
  private val reader = new java.io.BufferedReader(
    new java.io.InputStreamReader(stream, java.nio.charset.StandardCharsets.UTF_8))
  private var read = p.nLines
  private var current: String = _

  // resolve the projection ONCE, not per row
  private val cols: Array[Int] =
    required.fields.map(_.name match {
      case "file" => 0
      case "part" => 1
      case "line" => 2
    })
  private val fileVal = UTF8String.fromString(p.file)

  override def next(): Boolean = {
    if (read > 0) {
      current = reader.readLine()
      read -= 1
      current != null
    } else false
  }

  override def get(): InternalRow =
    InternalRow.fromSeq(cols.toSeq.map {
      case 0 => fileVal
      case 1 => p.part
      case 2 => UTF8String.fromString(current)
    })

  override def close(): Unit = reader.close()
}

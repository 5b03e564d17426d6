package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import graft.sources.LinesSource

/** Contract tests for the graft-lines DSv2 connector: the reference's
  * ⌈lines/N⌉ per-file partitioning, partition numbering, content
  * fidelity against the built-in text source, and column pruning
  * reaching the reader.
  */
class LinesSourceSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val corpus = SparkEntry.PerFileCorpus

  private def linesPerFile: Map[String, Long] =
    spark.read.textFile(corpus).toDF("line")
      .withColumn("file", regexp_extract(input_file_name(), "[^/]+$", 0))
      .groupBy("file").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  test("per-file partitioning is ceil(lines/N) with 0-based part numbers") {
    val n = 3
    val df = spark.read.format("graft-lines")
      .option("linesPerPartition", n).load(corpus)
    val parts = df.groupBy(col("file"), col("part"))
      .agg(count(lit(1)).as("rows")).collect()
      .map(r => (r.getString(0).split("/").last, r.getInt(1)) -> r.getLong(2))
      .toMap
    val expected = linesPerFile
    // every file splits into ceil(lines/n) partitions numbered 0..k-1
    expected.foreach { case (file, lines) =>
      val k = math.ceil(lines.toDouble / n).toInt
      val mine = parts.keys.filter(_._1 == file).map(_._2).toSeq.sorted
      assert(mine == (0 until k), s"$file: $mine")
      // all partitions full except possibly the last
      (0 until k).foreach { p =>
        val rows = parts((file, p))
        if (p < k - 1) assert(rows == n) else assert(rows == lines - n.toLong * (k - 1))
      }
    }
    // the scan parallelism IS the partition count (one task per range)
    assert(df.rdd.getNumPartitions ==
      expected.values.map(l => math.ceil(l.toDouble / n).toInt).sum)
  }

  test("line content matches the built-in text source exactly") {
    val v2 = spark.read.format("graft-lines").load(corpus)
      .select(regexp_extract(col("file"), "[^/]+$", 0).as("file"), col("line"))
    val builtin = spark.read.textFile(corpus).toDF("line")
      .select(regexp_extract(input_file_name(), "[^/]+$", 0).as("file"), col("line"))
    assert(v2.exceptAll(builtin).count() == 0)
    assert(builtin.exceptAll(v2).count() == 0)
    assert(v2.count() > 0)
  }

  test("column pruning reaches the reader") {
    val df = spark.read.format("graft-lines").load(corpus).select("line")
    df.collect()
    val scans = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan.readSchema()
    }
    assert(scans.nonEmpty)
    assert(scans.head.fieldNames.toSeq == Seq("line"))
  }

  test("seeked partitions carry exactly their line range") {
    // each reader SEEKS to a byte offset recorded at planning; a wrong
    // offset would shift/corrupt lines at a partition boundary, which
    // per-partition counts alone cannot catch — so pin each partition's
    // CONTENT against the file's true n-line chunks
    import scala.jdk.CollectionConverters._
    val n = 3
    val f = new java.io.File(corpus).listFiles().filter(_.isFile)
      .sortBy(_.getName).head
    val expected = java.nio.file.Files.readAllLines(f.toPath).asScala.toSeq
    val rows = spark.read.format("graft-lines")
      .option("linesPerPartition", n).load(corpus)
      .filter(col("file") === f.getAbsolutePath)
      .select("part", "line").collect()
    val byPart = rows.groupBy(_.getInt(0))
      .view.mapValues(_.map(_.getString(1)).toSeq.sorted).toMap
    val chunks = expected.grouped(n).toSeq
    assert(byPart.keySet == chunks.indices.toSet)
    chunks.zipWithIndex.foreach { case (chunk, p) =>
      assert(byPart(p) == chunk.sorted, s"partition $p of ${f.getName}")
    }
  }

  private def writeFiles(prefix: String, files: (String, String)*): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    files.foreach { case (name, body) =>
      java.nio.file.Files.write(dir.resolve(name), body.getBytes("UTF-8"))
    }
    dir.toString
  }

  /** Each file's lines in scan order. Both scans read a small file in
    * order, and `collect` keeps partition order. */
  private def linesByFile(df: org.apache.spark.sql.DataFrame): Map[String, Seq[String]] =
    df.collect().toSeq.map(r => r.getString(0).split("/").last -> r.getString(1))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap

  test("CR, CRLF and mixed line ends split lines as the text source does") {
    val dir = writeFiles("graft-lines-cr",
      "cr.txt" -> "a\rb\nc\n",
      "cr-only.txt" -> "one\rtwo\r\rfour",
      "crlf.txt" -> "x y\r\nz\r\n\r\nw\r\n",
      "mixed.txt" -> "p\r\n\rq\nr\rs\r\n\n\rt\r")
    val builtin = linesByFile(spark.read.text(dir)
      .select(input_file_name(), col("value")))
    assert(builtin("cr.txt") == Seq("a", "b", "c"))
    for (n <- Seq(1, 2)) {
      val df = spark.read.format("graft-lines")
        .option("linesPerPartition", n).load(dir)
      assert(linesByFile(df.select("file", "line")) == builtin, s"lpp=$n")
      assert(df.rdd.getNumPartitions ==
        builtin.values.map(l => math.ceil(l.size.toDouble / n).toInt).sum, s"lpp=$n")
    }
  }

  test("partition offsets hold across read-buffer edges and file shapes") {
    import scala.jdk.CollectionConverters._
    val n = 7
    val buf = LinesSource.PlanBufferBytes
    // ~3 buffers of varied line lengths: partition starts land on both
    // sides of every buffer edge
    val big = (1 to 9000).map(i => s"line $i " + "x" * (i % 41)).mkString("\n") + "\n"
    assert(big.length > 2 * buf)
    // partitions that start right after a CR ending the first buffer
    // whose LF starts the second, and after a bare CR ending the second
    val crEdge = "b\n" * 6 + "a" * (buf - 13) + "\r\n" +
      "d\n" * 6 + "c" * (buf - 14) + "\r" + "e\n" * 20
    assert(crEdge.indexOf("\r") == buf - 1 && crEdge.lastIndexOf("\r") == 2 * buf - 1)
    val dir = writeFiles("graft-lines-edges",
      "big.txt" -> big,
      "cr-edge.txt" -> crEdge,
      "no-trailing-newline.txt" -> (1 to 20).map(i => s"w$i").mkString("\n"),
      "empty.txt" -> "",
      "exact.txt" -> (1 to 3 * n).map(i => s"e$i").mkString("", "\n", "\n"))
    val rows = spark.read.format("graft-lines")
      .option("linesPerPartition", n).load(dir)
      .select("file", "part", "line").collect()
    for (f <- new java.io.File(dir).listFiles()) {
      val expected = java.nio.file.Files.readAllLines(f.toPath).asScala.toSeq
      val byPart = rows.filter(_.getString(0) == f.getAbsolutePath)
        .groupBy(_.getInt(1)).view.mapValues(_.map(_.getString(2)).toSeq).toMap
      val chunks = expected.grouped(n).toSeq
      assert(byPart.keySet == chunks.indices.toSet, f.getName)
      chunks.zipWithIndex.foreach { case (chunk, p) =>
        assert(byPart(p) == chunk, s"partition $p of ${f.getName}")
      }
    }
    assert(rows.count(_.getString(0).endsWith("/exact.txt")) == 3 * n)
    assert(!rows.exists(_.getString(0).endsWith("/empty.txt")))
  }

  test("line counting agrees at every read-buffer size") {
    val rnd = new scala.util.Random(7)
    val dir = writeFiles("graft-lines-bufsizes",
      (1 to 20).map(i => s"f$i.txt" ->
        Seq.fill(rnd.nextInt(40))(Seq("a", "bc", "\r", "\n", "\r\n")(rnd.nextInt(5)))
          .mkString): _*)
    for (f <- new java.io.File(dir).listFiles(); n <- Seq(1, 2, 3)) {
      val whole = LinesSource.countLines(f, n, new Array[Byte](1 << 10))
      assert(whole._1 == java.nio.file.Files.readAllLines(f.toPath).size, f.getName)
      for (size <- 1 to 5)
        assert(LinesSource.countLines(f, n, new Array[Byte](size)) == whole,
          s"${f.getName} lpp=$n buffer=$size")
    }
  }
}

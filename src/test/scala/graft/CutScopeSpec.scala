package graft

import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** The owned-cut scope (`Dedup.withCuts`): every cut a body makes is
  * retired on exit — normal or by exception — unless the body kept it
  * as a retained result or handed its release off. No test data: the
  * frames are `spark.range`s. */
class CutScopeSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark

  private def pinned(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
  private def frame(n: Long): DataFrame = spark.range(n).select((col("id") * 3).as("x"))
  private def files(dir: Path): Long =
    scala.util.Using.resource(Files.walk(dir))(_.filter(Files.isRegularFile(_)).count())

  test("a body that throws after two cuts leaves the persistent RDDs as it found them") {
    val before = pinned()
    val err = intercept[IllegalStateException] {
      Dedup.withCuts(spark, None) { cuts =>
        cuts.cut(frame(10))
        cuts.cutKeyed(frame(20))
        assert((pinned() -- before).size == 2)
        throw new IllegalStateException("boom")
      }
    }
    assert(err.getMessage == "boom")
    assert((pinned() -- before).isEmpty)
  }

  test("a kept cut stays readable after exit; the other cuts are unpersisted") {
    val before = pinned()
    try {
      val kept = Dedup.withCuts(spark, None) { cuts =>
        val a = cuts.cut(frame(10))
        cuts.keep("cutScopeSpec", cuts.cut(a.filter(col("x") > 20)))
      }
      assert((pinned() -- before).size == 1)
      assert(kept.collect().map(_.getLong(0)).sorted.toSeq == Seq(21L, 24L, 27L))
    } finally Dedup.clearMemos()
    assert((pinned() -- before).isEmpty)
  }

  test("a handed-off cut outlives the scope until its release hook runs") {
    val before = pinned()
    val (df, release) = Dedup.withCuts(spark, None) { cuts =>
      cuts.cut(frame(5))
      val b = cuts.cutKeyed(frame(4))
      (b, cuts.handOff(b))
    }
    assert((pinned() -- before).size == 1)
    assert(df.count() == 4L)
    release()
    assert((pinned() -- before).isEmpty)
  }

  test("an early retire frees the cut before the scope exits") {
    val before = pinned()
    Dedup.withCuts(spark, None) { cuts =>
      val a = cuts.cut(frame(10))
      assert((pinned() -- before).size == 1)
      cuts.retire(a)
      assert((pinned() -- before).isEmpty)
      // a frame the scope no longer owns, or never cut, is refused
      intercept[IllegalArgumentException](cuts.retire(a))
      intercept[IllegalArgumentException](cuts.keep("cutScopeSpec", frame(3)))
    }
  }

  test("a lazy cut that is never computed retires cleanly") {
    val before = pinned()
    Dedup.withCuts(spark, None) { cuts =>
      cuts.cutLazy(frame(10))
      cuts.cutKeyedLazy(frame(10))
    }
    assert((pinned() -- before).isEmpty)
  }

  test("with a checkpoint dir, exit deletes the checkpoint files, on the throw path too") {
    val dir = Files.createTempDirectory("graft-cut-scope")
    try {
      Dedup.withCuts(spark, Some(dir.toString)) { cuts =>
        cuts.cut(frame(10))
        cuts.cutKeyed(frame(20))
        cuts.cutLazy(frame(30))
        assert(files(dir) > 0, "eager reliable cuts write checkpoint files")
      }
      assert(files(dir) == 0L)
      intercept[IllegalStateException] {
        Dedup.withCuts(spark, Some(dir.toString)) { cuts =>
          cuts.cut(frame(10))
          cuts.cutKeyed(frame(20))
          assert(files(dir) > 0)
          throw new IllegalStateException("boom")
        }
      }
      assert(files(dir) == 0L)
      // the context's checkpoint dir is not left pointing at this scope's
      assert(!spark.sparkContext.getCheckpointDir.exists(_.contains(dir.toString)))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  test("with a checkpoint dir, nested, lazy-only and handed-off scopes leave it empty") {
    val dir = Files.createTempDirectory("graft-cut-scope-dirs")
    def entries(): List[String] = dir.toFile.list().toList
    val d = Some(dir.toString)
    try {
      val before = spark.sparkContext.getCheckpointDir
      Dedup.withCuts(spark, d) { outer =>
        outer.cut(frame(10))
        Dedup.withCuts(spark, d)(_.cutKeyed(frame(20)))
      }
      Dedup.withCuts(spark, d)(_.cutLazy(frame(30)))
      val (df, release) = Dedup.withCuts(spark, d) { cuts =>
        val b = cuts.cut(frame(4))
        (b, cuts.handOff(b))
      }
      assert(df.count() == 4L)
      release()
      assert(entries().isEmpty, s"left behind under $dir: ${entries()}")
      assert(spark.sparkContext.getCheckpointDir == before)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }
}

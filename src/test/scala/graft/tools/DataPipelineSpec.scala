package graft.tools

import java.io.IOException
import java.nio.file.{FileVisitResult, Files, Path, Paths, SimpleFileVisitor}
import java.nio.file.attribute.BasicFileAttributes

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.SparkSpec

/** The composed training-data pipeline on a hand-built corpus with known
  * structure: every stage's removal set is predictable, so the survivor
  * counts and the final output are asserted exactly. */
class DataPipelineSpec extends SparkSpec {

  // 40-token docs in per-doc token namespaces, so the ONLY shared
  // n-grams are the ones planted below (a shared cyclic vocabulary
  // would collide 7-token runs across unrelated docs)
  private def doc(p: String): String = (0 until 40).map(i => s"$p$i").mkString(" ")

  private lazy val benchmark: DataFrame = {
    import spark.implicits._
    Seq((100L, doc("q"))).toDF("bench_id", "text")
  }

  private lazy val corpus: DataFrame = {
    import spark.implicits._
    Seq(
      // exact-dup pair: 0 kept (lowest id), 1 dropped
      (0L, "s0", doc("a")),
      (1L, "s0", doc("a")),
      // near-dup pair (one appended token): higher word count wins the
      // keep-best policy => 3 kept, 2 dropped
      (2L, "s0", doc("b")),
      (3L, "s0", doc("b") + " extra"),
      // unique survivors
      (4L, "s1", doc("c")),
      (5L, "s1", doc("d")),
      // contaminated: shares a >= 7-token run with the benchmark doc
      (6L, "s1", doc("e") + " " + doc("q").split(" ").take(12).mkString(" ")),
      // too short for the quality floor (wc < 5)
      (7L, "s1", "a b c")
    ).toDF("doc_id", "source", "text")
  }

  test("pipeline removes exact dups, near-dups, and planted contamination") {
    val out = graft.SparkSpec.tempDir("graft-dp-spec")
    val counts = DataPipelineBench.run(spark, corpus, benchmark, out).toMap

    assert(counts("docs_in") == 8L)
    assert(counts("after_quality") == 7L)      // doc 7 out
    assert(counts("after_exact_dedup") == 6L)  // doc 1 out
    assert(counts("after_near_dedup") == 5L)   // doc 2 out (3 kept: longer)
    assert(counts("after_decontam") == 4L)     // doc 6 out
    assert(counts("train") + counts("val") == 4L)

    val kept = spark.read.parquet(out).select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(0L, 3L, 4L, 5L))
  }

  test("run leaves no checkpoint persisted, at either checkpoint level") {
    Seq(None, Some(StorageLevel.MEMORY_AND_DISK_SER)).foreach { level =>
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val counts = DataPipelineBench.run(spark, corpus, benchmark,
        graft.SparkSpec.tempDir("graft-dp-spec"), ckptLevel = level).toMap
      assert(counts("after_exact_dedup") == 6L)
      assert(counts("after_near_dedup") == 5L)
      assert(counts("after_decontam") == 4L)
      val left = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(left.isEmpty, s"at $level, persisted RDDs left: ${left.toSeq.sorted}")
    }
  }

  /** Shuffle data and index files under the session's local dirs, resolved
    * as Spark resolves them: SPARK_LOCAL_DIRS, else spark.local.dir, else
    * java.io.tmpdir. Requires a block-manager dir among them, so an empty
    * result cannot come from looking in the wrong place. */
  private def shuffleFiles(): Set[Path] = {
    val roots = sys.env.get("SPARK_LOCAL_DIRS")
      .orElse(spark.sparkContext.getConf.getOption("spark.local.dir"))
      .getOrElse(System.getProperty("java.io.tmpdir"))
      .split(",").map(d => Paths.get(d.trim)).filter(Files.isDirectory(_))
    val found = Set.newBuilder[Path]
    var blockManagerDirs = 0
    roots.foreach { root =>
      // files vanish mid-walk (other cleanups run concurrently): skip them
      Files.walkFileTree(root, java.util.Set.of(), 5, new SimpleFileVisitor[Path] {
        override def preVisitDirectory(d: Path, a: BasicFileAttributes): FileVisitResult = {
          if (d.getFileName.toString.startsWith("blockmgr-")) blockManagerDirs += 1
          FileVisitResult.CONTINUE
        }
        override def visitFile(f: Path, a: BasicFileAttributes): FileVisitResult = {
          if (f.getFileName.toString.startsWith("shuffle_")) found += f
          FileVisitResult.CONTINUE
        }
        override def visitFileFailed(f: Path, e: IOException): FileVisitResult =
          FileVisitResult.CONTINUE
      })
    }
    assert(blockManagerDirs > 0, s"no blockmgr-* dir under ${roots.mkString(", ")}")
    found.result()
  }

  test("run removes every shuffle file it wrote before it returns") {
    val before = shuffleFiles()
    val counts = DataPipelineBench.run(spark, corpus, benchmark,
      graft.SparkSpec.tempDir("graft-dp-spec")).toMap
    assert(counts("after_decontam") == 4L)
    // removal is asynchronous outside Spark's testing mode: poll briefly
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    var left = shuffleFiles() -- before
    while (left.nonEmpty && System.nanoTime() < deadline) {
      Thread.sleep(100)
      left = shuffleFiles() -- before
    }
    assert(left.isEmpty, s"${left.size} shuffle files left: ${left.take(5).mkString(", ")}")
  }

  test("run restores the caller's shuffle-file cleanup conf") {
    val key = DataPipelineBench.ShuffleFileCleanup
    val caller = spark.conf.getOption(key) // Some("false") when unset
    try Seq("false", "true").foreach { v =>
      spark.conf.set(key, v)
      val during = scala.collection.mutable.Set.empty[String]
      DataPipelineBench.run(spark, corpus, benchmark,
        graft.SparkSpec.tempDir("graft-dp-spec"),
        lapSink = (_, _) => during += spark.conf.get(key))
      assert(during == Set("true"))
      assert(spark.conf.get(key) == v)
    } finally caller.foreach(spark.conf.set(key, _))
  }
}

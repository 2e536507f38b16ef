package graft.sources

import java.nio.file.{Files, Paths}

import scala.util.Random

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** The corpus reader ([[CorpusSources.loadRawCorpus]]) against
  * `docs.zipWithIndex` as ground truth, at scan splits far smaller than
  * the 194-byte record delimiter: splits then start mid-record and
  * mid-delimiter, so every record boundary straddles a split somewhere.
  * Also the edge shapes a split reader gets wrong first, and the
  * multi-file (file path, offset) id order.
  */
class CorpusSourcesSpec extends SparkSpec {

  private val delim = CorpusSources.RecordDelimiter

  private def write(name: String, content: String): String = {
    val p = s"${graft.SparkSpec.tempDir("corpus-sources")}/$name"
    Files.writeString(Paths.get(p), content)
    p
  }

  /** Run `body` with the file scan split to `bytes` per partition. */
  private def withSplitBytes[T](bytes: Long)(body: => T): T = {
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, bytes)
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** (document_index, text) rows in id order. */
  private def rows(df: DataFrame): Seq[(Long, String)] =
    df.collect().map(r => r.getLong(0) -> r.getString(1)).toSeq.sortBy(_._1)

  private def read(path: String): Seq[(Long, String)] =
    rows(CorpusSources.loadRawCorpus(spark, path))

  private def indexed(docs: Seq[String]): Seq[(Long, String)] =
    docs.zipWithIndex.map { case (t, i) => i.toLong -> t }

  test("ids and texts equal docs.zipWithIndex at splits down to 64 bytes") {
    val rnd = new Random(7)
    val docs = (0 until 200).map { i =>
      if (i % 29 == 0) "" // adjacent delimiters
      else (0 until rnd.nextInt(40)).map(_ => s"w${rnd.nextInt(50)}").mkString(" ")
    }
    val path = write("corpus.txt", docs.mkString(delim))
    val fileBytes = Files.size(Paths.get(path))
    val before = spark.conf.getOption("spark.sql.files.maxPartitionBytes")
    // 101, 193 and 1031 are prime, so boundaries land at odd offsets; 64,
    // 101 and 193 are below the delimiter's length
    for (split <- Seq(64L, 101L, 193L, 1031L)) withSplitBytes(split) {
      val df = CorpusSources.loadRawCorpus(spark, path)
      assert(df.rdd.getNumPartitions >= fileBytes / split, s"split=$split")
      assert(rows(df) == indexed(docs), s"split=$split")
    }
    assert(spark.conf.getOption("spark.sql.files.maxPartitionBytes") == before)
  }

  test("edge shapes: trailing, leading, empty file, delimiter-only") {
    withSplitBytes(64L) {
      assert(read(write("t.txt", s"a${delim}b$delim")) == indexed(Seq("a", "b")))
      assert(read(write("l.txt", s"${delim}a")) == indexed(Seq("", "a")))
      assert(read(write("d.txt", delim)) == indexed(Seq("")))
      assert(CorpusSources.loadRawCorpus(spark, write("e.txt", "")).count() == 0)
    }
  }

  test("multi-file ids follow (file path, offset) order") {
    // b.txt is LARGER than a.txt on purpose: handing the built-in text
    // source the whole directory packs splits largest-file-first, which
    // would put b's docs ahead of a's; loadRawCorpus enumerates files
    // itself and unions per-file reads in sorted order
    val dir = graft.SparkSpec.tempDir("corpus-sources-multi")
    Files.writeString(Paths.get(s"$dir/a.txt"), Seq("a1", "a2").mkString(delim))
    val bDocs = Seq("b1 padded with extra words to make file b the larger one",
      "b2 also long enough to matter", "b3 trailing doc")
    Files.writeString(Paths.get(s"$dir/b.txt"), bDocs.mkString(delim))
    val expected = indexed(Seq("a1", "a2") ++ bDocs)
    assert(read(dir) == expected)
    withSplitBytes(64L)(assert(read(dir) == expected, "split=64"))
  }
}

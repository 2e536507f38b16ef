package graft.operators

import org.apache.spark.sql.DataFrame

/** Output sinks (reference W1-W4, `base.py:356-358, 394, 425-437`). CSV
  * keeps the reference's tab-separated no-header contract; parquet is the
  * recommended format for anything consumed downstream. The per-source
  * stats write partitions by source (Hive-style dirs) so downstream reads
  * get partition pruning — same as the reference (`base.py:425-427`).
  */
object Sinks {

  /** W1: vocabulary as tab-separated CSV, overwrite. */
  def writeVocabulary(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("delimiter", "\t").csv(path)

  /** W2: normalized corpus. The reference dumps Python tuple reprs via
    * saveAsTextFile (`base.py:394`); we keep it structured. zstd codec per
    * the r15 codec laps (`bench-artifacts/iolap-write-11p3g.json`: −32%
    * bytes vs snappy at equal clean-window write time on the corpus-text
    * shape; at 100 TB this intermediate is every downstream reader's scan
    * cost) — this is the pipeline's one
    * non-reference-faithful intermediate, the W1/W3/W4 TSV sinks keep the
    * reference's text contract untouched. */
  def writeNormalizedCorpus(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("compression", "zstd").parquet(path)

  /** W3: per-source stats, partitioned by source. */
  def writeStatsBySource(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").partitionBy("source")
      .option("delimiter", "\t").csv(path)

  /** W4: global stats. */
  def writeStatsGlobal(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("delimiter", "\t").csv(path)

  /** W2 variant: normalized corpus in the reference's NATIVE format
    * (records joined by the multi-byte delimiter) via the vspace-corpus
    * DSV2 writer — what a deployment emits when downstream consumers are
    * other vspace-format readers rather than parquet tools. */
  def writeCorpusNative(df: DataFrame, path: String,
      textCol: String = "text"): Unit =
    df.select(df(textCol).as("text"))
      .write.format("vspace-corpus").mode("overwrite").save(path)

  /** Hash-bucketed, bucket-sorted table write (scale extension): both
    * sides of a repeated equi-join written with the same bucketing plan
    * with ZERO exchanges — the co-located-join prep any 100 TB pipeline
    * does once so downstream joins/aggs on the key never shuffle again.
    * Bucket metadata lives in the session catalog, hence saveAsTable. */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int): Unit =
    df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, key).sortBy(key).saveAsTable(table)
}

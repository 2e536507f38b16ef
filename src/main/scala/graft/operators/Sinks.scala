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
}

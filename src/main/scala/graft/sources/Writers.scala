package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Sinks (writers/ in the reference). The DiskWriter's `${metadata}`
  * filename templating (writers/disk_base.py:15-181) maps to partitionBy
  * columns; max_file_size rotation maps to maxRecordsPerFile. */
object Writers {

  /** writers/jsonl.py — JSON lines, gzip by default; "none"/"lz4"/etc per
    * Spark's text codecs. The reference's zstd option needs Hadoop's
    * native ZStandardCodec for text formats (absent in this sandbox —
    * Spark lists it unavailable); parquet zstd works everywhere via
    * zstd-jni, so zstd corpora route through [[parquet]]. */
  def jsonl(df: DataFrame, path: String, compression: String = "gzip",
            maxRecordsPerFile: Long = 0, partitionBy: Seq[String] = Nil): Unit = {
    var w = df.write.mode(SaveMode.Overwrite)
      .option("compression", compression) // "none" is a first-class value
    if (maxRecordsPerFile > 0) w = w.option("maxRecordsPerFile", maxRecordsPerFile)
    if (partitionBy.nonEmpty) w = w.partitionBy(partitionBy: _*)
    w.json(path)
  }

  /** writers/parquet.py — snappy parquet (the primary sink); zstd/gzip
    * selectable like the reference's compression parameter. */
  def parquet(df: DataFrame, path: String,
              maxRecordsPerFile: Long = 0, partitionBy: Seq[String] = Nil,
              compression: String = "snappy"): Unit = {
    var w = df.write.mode(SaveMode.Overwrite)
      .option("compression", compression)
    if (maxRecordsPerFile > 0) w = w.option("maxRecordsPerFile", maxRecordsPerFile)
    if (partitionBy.nonEmpty) w = w.partitionBy(partitionBy: _*)
    w.parquet(path)
  }

  /** The exclusion-writer pattern (filters/base_filter.py:62-83): one pass
    * computes (keep, drop_reason); kept rows go to `outPath` without those
    * two columns, dropped rows to `quarantinePath` as one flat table in
    * which `drop_reason` is an ordinary column (read one reason with
    * `.where(col("drop_reason") === r)`). Each output is at most one file
    * per task; partitioning by reason would write tasks × reasons files,
    * and nothing reads the quarantine by directory. The quarantine commits
    * first and kept last, so kept's `_SUCCESS` marks the pair committed: a
    * crash before it leaves kept uncommitted and a resumed run rewrites
    * both. Each write reads `result` again, so callers pass a committed
    * table (RunPipeline and perfbench pass the `stage_filtered` read-back),
    * not the filter chain. */
  def withQuarantine(result: DataFrame, outPath: String, quarantinePath: String,
                     keepCol: String = "keep", reasonCol: String = "drop_reason"): Unit = {
    parquet(result.where(!col(keepCol)), quarantinePath)
    parquet(result.where(col(keepCol)).drop(keepCol, reasonCol), outPath)
  }
}

package graft.plans

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Stage-level resumability (north rule: resumable from the last committed
  * snapshot).
  *
  * The reference checkpoints with per-rank completion marker files
  * (executor/base.py:115-136) and skips completed ranks on rerun. The
  * Spark-native equivalent is committed stage outputs: each named stage
  * writes to its own directory; the Hadoop output committer's atomic
  * rename + `_SUCCESS` marker IS the snapshot commit (same contract as an
  * Iceberg snapshot, without the catalog). On rerun, a stage whose output
  * committed is read back instead of recomputed; a partially-written
  * (crashed) stage has no `_SUCCESS` and is recomputed from its committed
  * predecessor.
  */
final class Checkpoint(val baseDir: String)(implicit spark: SparkSession) {

  def stagePath(name: String): String = s"$baseDir/$name"

  def isCommitted(name: String): Boolean = exists(new Path(stagePath(name), "_SUCCESS"))

  private def exists(p: Path): Boolean =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)

  /** Run `compute` unless this stage already committed; either way return
    * the committed result (reading back decouples downstream stages from
    * upstream lineage — a rerun never recomputes committed work). A
    * computed stage is read back with the schema it was written with,
    * which skips Spark's schema-inference job; file sources make a
    * supplied schema nullable, so it equals the inferred one. */
  def stage(name: String)(compute: => DataFrame): DataFrame =
    if (isCommitted(name)) spark.read.parquet(stagePath(name))
    else {
      val df = compute
      df.write.mode(SaveMode.Overwrite).parquet(stagePath(name))
      spark.read.schema(df.schema).parquet(stagePath(name))
    }

  /** Single owner of the metrics layout — writers and readers must agree. */
  def metricsPath(name: String): String = s"$baseDir/_metrics/$name"

  /** Write the per-partition lineage/metrics table for a stage result. */
  def writeMetrics(name: String, metrics: DataFrame): Unit =
    metrics.write.mode(SaveMode.Overwrite).parquet(metricsPath(name))

  /** Read a previously-written metrics table; None when absent OR
    * unreadable (a torn write from a killed run must not fail the job
    * that is trying to replace it). Absence is checked first: Spark's
    * reader logs a missing path with a FileNotFoundException stack, which
    * made a clean first run look failed. */
  def readMetrics(name: String): Option[DataFrame] =
    if (!exists(new Path(metricsPath(name)))) None
    else try {
      val df = spark.read.parquet(metricsPath(name))
      df.collect() // force read errors (corrupt footer) to surface HERE
      Some(df)
    } catch { case scala.util.control.NonFatal(_) => None }
}

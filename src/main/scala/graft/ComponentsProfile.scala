package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators._

/** Stage-level timing breakdown for the forced distributed
  * connected-components path — attributes its bench cost to phases (edge
  * materialization, label init, one propagation round) so the
  * optimization targets the measured phase, not a guess. Run:
  *
  *   sbt -batch "runMain graft.ComponentsProfile <testdata dir>"
  */
object ComponentsProfile {
  def t[A](label: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[components-profile] $label%-34s ${(System.nanoTime() - t0) / 1e9}%.3f s")
    r
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ComponentsProfile <testdata dir>")
    val dir = args(0)
    implicit val spark: SparkSession = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val docs = spark.read.parquet(s"$dir/documents.parquet").select(col("doc_id"), col("text"))
    val bse = docs.agg(max("doc_id")).first().getLong(0) + 1L
    val twins = docs.where(col("doc_id") % 10 === 0)
      .select((col("doc_id") + lit(bse)).as("doc_id"), col("text"))
    val all = docs.unionByName(twins)
    val sigs = MinhashDedup.signatures(all, "doc_id", "text")
    val edges = MinhashDedup.duplicateEdges(sigs).cache()
    val nE = t("edges materialize (count)") { edges.count() }
    println(s"[components-profile] edges = $nE")
    t("edges re-count (cached)") { edges.count() }
    val und = edges.select(col("doc").as("u"), col("rep").as("v"))
      .union(edges.select(col("rep").as("u"), col("doc").as("v")))
      .cache()
    t("und materialize") { und.count() }
    val labels = und.select(col("u").as("doc"), col("u").as("cluster"))
      .union(und.select(col("u").as("doc"), col("v").as("cluster")))
      .groupBy("doc").agg(min("cluster").as("cluster"))
      .cache()
    t("labels init + sum") {
      labels.agg(sum(col("cluster").cast(org.apache.spark.sql.types.DecimalType(38, 0)))).first()
    }
    t("one propagation round + sum") {
      val viaEdges = und.join(labels, und("v") === labels("doc"))
        .select(und("u").as("doc"), col("cluster"))
      val afterNeighbors = viaEdges.union(labels)
        .groupBy("doc").agg(min("cluster").as("cluster"))
      val next = afterNeighbors.as("l")
        .join(afterNeighbors.as("r"), col("l.cluster") === col("r.doc"), "left")
        .select(col("l.doc").as("doc"),
          least(col("l.cluster"), coalesce(col("r.cluster"), col("l.cluster"))).as("cluster"))
      next.agg(sum(col("cluster").cast(org.apache.spark.sql.types.DecimalType(38, 0)))).first()
    }
    spark.stop()
  }
}

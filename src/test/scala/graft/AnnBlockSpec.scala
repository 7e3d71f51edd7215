package graft

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.operators._

/** The ANN block-scoring core behind lshTopK and ivfTopK: salted hot
  * blocks, the shared ranking order, and repeated neighbors. */
class AnnBlockSpec extends SparkSpec {
  import spark.implicits._

  /** Rows as "id>neighbor:cosine:rank" strings, so NaN and -0.0 compare. */
  private def fmt(d: DataFrame): Seq[String] =
    d.select(col("vec_id"), col("neighbor"), col("cosine"), col("rank")).collect()
      .map(r => s"${r.getLong(0)}>${r.getLong(1)}:${r.getDouble(2)}:${r.getInt(3)}")
      .toSeq.sorted

  /** The largest data side of any (block, salt) scoring group. */
  private def peakDataSide(rows: Dataset[Similarity.BlockRow]): Long =
    rows.where(col("role") =!= Similarity.Query).groupBy("block", "salt").count()
      .agg(max("count")).first().getLong(0)

  test("hot cell: salted block scoring equals brute force; no group buffers past the bound") {
    // 300 identical vectors make one LSH bucket per band and one IVF cell
    // far above the forced bound; 50 distinct vectors ride along
    val rng = new scala.util.Random(23)
    val dim = 16
    val hotVec = Seq.fill(dim)(rng.nextGaussian().toFloat)
    val rows = (0 until 300).map(i => (i.toLong, hotVec)) ++
      (300 until 350).map(i => (i.toLong, Seq.fill(dim)(rng.nextGaussian().toFloat)))
    val df = rows.toDF("vec_id", "embedding").repartition(4)
    val bound = 64
    Similarity.blockRowsOverride = bound
    try {
      // k = 40 exceeds a salted group's data side (11 salts of ~32 rows per
      // bucket), so every query's top-k merges several salts' partial lists
      // and drops the second band's repeats
      for (k <- Seq(1, 3, 40)) {
        val exact = fmt(Similarity.bruteForceTopK(df, "vec_id", "embedding", k))
        assert(exact.size == 350 * k)
        // bitsPerBand = 0 puts every row in one bucket per band, so LSH's
        // candidates are exact; two bands repeat every neighbor
        val lsh = fmt(Similarity.lshTopK(df, "vec_id", "embedding", k, bands = 2, bitsPerBand = 0))
        // probing every cell makes IVF exact
        val ivf = fmt(Similarity.ivfTopK(df, "vec_id", "embedding", k, nLists = 4, nProbe = 4))
        assert(lsh == exact, s"k=$k lsh")
        assert(ivf == exact, s"k=$k ivf")
      }
      val peaks = Seq(
        peakDataSide(Similarity.lshRows(df, "vec_id", "embedding", 2, 0, 42L)),
        peakDataSide(Similarity.ivfRows(df, "vec_id", "embedding", 4, 4, 5, 8192).get))
      assert(peaks.forall(p => p > 1 && p <= bound), s"scoring groups buffered $peaks rows")
    } finally Similarity.blockRowsOverride = 0
  }

  // 0 has zero norm (NaN cosine with everyone); 1..3 and 6 are
  // orthogonal (exact 0.0 ties); 4 and 5 tie at 1/sqrt(2) from 1
  private val edge = Seq(
    0L -> Seq(0f, 0f, 0f, 0f), 1L -> Seq(1f, 0f, 0f, 0f), 2L -> Seq(0f, 1f, 0f, 0f),
    3L -> Seq(0f, 0f, 1f, 0f), 4L -> Seq(1f, 1f, 0f, 0f), 5L -> Seq(1f, 0f, 1f, 0f),
    6L -> Seq(0f, 0f, 0f, 1f)).toDF("vec_id", "embedding")
  private val edgeTop3 = Seq("0>1:NaN:1", "0>2:NaN:2", "0>3:NaN:3", "1>2:0.0:3",
    "1>4:0.7071067811865475:1", "1>5:0.7071067811865475:2", "2>1:0.0:2", "2>3:0.0:3",
    "2>4:0.7071067811865475:1", "3>1:0.0:2", "3>2:0.0:3", "3>5:0.7071067811865475:1",
    "4>1:0.7071067811865475:1", "4>2:0.7071067811865475:2", "4>5:0.4999999999999999:3",
    "5>1:0.7071067811865475:1", "5>3:0.7071067811865475:2", "5>4:0.4999999999999999:3",
    "6>1:0.0:1", "6>2:0.0:2", "6>3:0.0:3")

  test("ordering: zero-norm NaN ranks last, exact ties fall to the smaller neighbor") {
    for (k <- Seq(1, 3)) {
      val want = edgeTop3.filter(r => r.split(":")(2).toInt <= k)
      assert(fmt(Similarity.lshTopK(edge, "vec_id", "embedding", k, bands = 3, bitsPerBand = 0)) == want)
      assert(fmt(Similarity.ivfTopK(edge, "vec_id", "embedding", k, nLists = 2, nProbe = 2)) == want)
      assert(fmt(Similarity.bruteForceTopK(edge, "vec_id", "embedding", k)) == want)
    }
  }

  test("non-integral ids are refused before any job runs") {
    val byName = edge.withColumn("vec_id", col("vec_id").cast("string"))
    intercept[IllegalArgumentException](Similarity.lshTopK(byName, "vec_id", "embedding", 1))
    intercept[IllegalArgumentException](Similarity.ivfTopK(byName, "vec_id", "embedding", 1))
  }

  test("ordering: the kernel's order is the min-struct's, -0.0 == 0.0 and NaN last") {
    val entries = Seq(1L -> -0.0, 2L -> 0.0, 3L -> 0.5, 4L -> Double.NaN, 5L -> 1.0,
      6L -> -1.0, 7L -> Double.NaN, 8L -> 0.5, 9L -> Double.PositiveInfinity)
    val pairs = for (a <- entries; b <- entries if a._1 < b._1) yield (a, b)
    val groups = pairs.zipWithIndex.flatMap { case ((a, b), g) =>
      Seq((g.toLong, a._1, a._2), (g.toLong, b._1, b._2)) }
      .toDF("g", "neighbor", "cosine")
    val winners = groups.groupBy("g")
      .agg(min(struct(negate(col("cosine")), col("neighbor"))).as("best"))
      .select(col("g"), col("best.neighbor")).as[(Long, Long)].collect().toMap
    pairs.zipWithIndex.foreach { case (((ia, ca), (ib, cb)), g) =>
      val kernel = if (Similarity.before(ca, ia, cb, ib)) ia else ib
      assert(kernel == winners(g.toLong), s"($ia, $ca) vs ($ib, $cb)")
    }
    assert(Similarity.before(-0.0, 1L, 0.0, 2L) && !Similarity.before(0.0, 2L, -0.0, 1L))
  }

  private val banded = {
    val rng = new scala.util.Random(31)
    val base = Array.fill(3)(Array.fill(8)(rng.nextGaussian()))
    val rows = (0 until 12).map { i =>
      val v = if (i == 1) base(0).map(_.toFloat)
        else base(i % 3).map(x => (x + 0.3 * rng.nextGaussian()).toFloat)
      (i.toLong, v.toSeq)
    } :+ ((12L, base(0).map(_.toFloat).toSeq))
    rows.toDF("vec_id", "embedding")
  }

  test("k = 3 LSH: a neighbor sharing several bands appears once, ranks 1..k") {
    val top = fmt(Similarity.lshTopK(banded, "vec_id", "embedding", 3, bands = 8, bitsPerBand = 2))
    // 1 and 12 are identical: they share all eight buckets
    assert(top == Seq("0>12:0.9764033587208049:2", "0>1:0.9764033587208049:1",
      "0>6:0.9353522083530987:3", "10>4:0.914234534120559:2", "10>7:0.9281466443207064:1",
      "10>8:0.5758606640199844:3", "11>2:0.9633859664336261:3", "11>5:0.968777471455236:2",
      "11>8:0.9807151987819043:1", "12>0:0.9764033587208049:2", "12>1:0.9999999999999999:1",
      "12>6:0.9723185229659463:3", "1>0:0.9764033587208049:2", "1>12:0.9999999999999999:1",
      "1>6:0.9723185229659463:3", "2>11:0.9633859664336261:1", "2>5:0.9294084712766209:2",
      "2>8:0.9090012432348739:3", "3>0:0.9327506301488895:3", "3>12:0.9328611233179532:2",
      "3>1:0.9328611233179532:1", "4>10:0.914234534120559:1", "4>7:0.8903832410693066:2",
      "4>8:0.7040527581840161:3", "5>11:0.968777471455236:1", "5>2:0.9294084712766209:3",
      "5>8:0.9476548443252137:2", "6>0:0.9353522083530987:3", "6>12:0.9723185229659463:2",
      "6>1:0.9723185229659463:1", "7>10:0.9281466443207064:1", "7>4:0.8903832410693066:2",
      "7>8:0.39161296209193835:3", "8>11:0.9807151987819043:1", "8>2:0.9090012432348739:3",
      "8>5:0.9476548443252137:2", "9>0:0.9162298819892025:3", "9>12:0.9434619288064917:2",
      "9>1:0.9434619288064917:1"))
  }

  test("LSH above the bound: single-member buckets never reach the shuffle, output unchanged") {
    def singletons(rows: Dataset[Similarity.BlockRow]): Long =
      rows.groupBy("block").count().where(col("count") === 1).count()
    val unbounded = Similarity.lshRows(banded, "vec_id", "embedding", 8, 6, 42L)
    assert(singletons(unbounded) > 0)
    val want = fmt(Similarity.lshTopK(banded, "vec_id", "embedding", 3, bands = 8, bitsPerBand = 6))
    Similarity.blockRowsOverride = 4
    try {
      assert(singletons(Similarity.lshRows(banded, "vec_id", "embedding", 8, 6, 42L)) == 0)
      assert(fmt(Similarity.lshTopK(banded, "vec_id", "embedding", 3, bands = 8,
        bitsPerBand = 6)) == want)
    } finally Similarity.blockRowsOverride = 0
  }

  test("cosineNearDupes: a zero vector (NaN cosine) stays in its own cluster") {
    val rng = new scala.util.Random(41)
    val vecs = (1 to 20).map(i => (i.toLong, Seq.fill(16)(rng.nextGaussian().toFloat)))
    val twin = (21L, vecs.head._2.map(x => x * 1.001f))
    val df = ((0L, Seq.fill(16)(0f)) +: vecs :+ twin).toDF("vec_id", "embedding")
    val got = Similarity.cosineNearDupes(df, "vec_id", "embedding")
      .select("vec_id", "cosine_cluster", "cosine_keep").as[(Long, Long, Boolean)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    // only the planted twin joins another cluster
    assert(got == (0L to 21L).map(i => i -> (if (i == 21L) (1L, false) else (i, true))).toMap)
  }
}

package graft

import org.apache.spark.sql.functions._
import graft.operators._

class ExactSubstrGcSpec extends SparkSpec {
  import spark.implicits._

  private def words(n: Int, seed: Int): Array[String] = {
    val rng = new scala.util.Random(seed)
    Array.fill(n)(Array.fill(5)(('a' + rng.nextInt(26)).toChar).mkString)
  }

  test("exact_substr: full duplicate drops, first occurrence survives untouched") {
    val base = words(60, 1).mkString(" ")
    val df = Seq((1L, base), (2L, base), (3L, words(60, 2).mkString(" ")))
      .toDF("doc_id", "text")
    val out = ExactSubstrDedup(df, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Boolean]("exact_substr_keep"), r.getAs[Int]("n_removed_words"), r.getAs[String]("text")))).toMap
    assert(out(1L) == ((true, 0, base)))
    assert(out(2L)._1 == false && out(2L)._2 == 60)
    assert(out(3L)._1 == true && out(3L)._2 == 0)
  }

  test("exact_substr: partial 50-word overlap cuts only the shared range") {
    val shared = words(50, 10)
    val aOwn = words(30, 11)
    val bOwn = words(30, 12)
    val a = (aOwn ++ shared).mkString(" ") // doc 1: own 30 + shared 50
    val b = (shared ++ bOwn).mkString(" ") // doc 2: shared 50 + own 30
    val df = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val out = ExactSubstrDedup(df, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Boolean]("exact_substr_keep"), r.getAs[Int]("n_removed_words"), r.getAs[String]("text")))).toMap
    // doc 1 is first (min doc id): untouched
    assert(out(1L) == ((true, 0, a)))
    // doc 2 loses exactly the shared 50-word prefix; 30 own words remain (<50 -> drop)
    assert(out(2L)._2 == 50 && out(2L)._3 == bOwn.mkString(" "))
    assert(out(2L)._1 == false)
  }

  test("exact_substr: spans longer than 255 words drop a 320-word duplicate") {
    val dup = words(320, 50).mkString(" ")
    val df = Seq((1L, dup), (2L, dup), (3L, words(320, 51).mkString(" ")))
      .toDF("doc_id", "text")
    for (cfg <- Seq(ExactSubstrConfig(spanWords = 300),
                    ExactSubstrConfig(spanWords = 300, shortSpanWords = Some(280)))) {
      val out = ExactSubstrDedup(df, "doc_id", "text", cfg).collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Boolean]("exact_substr_keep"), r.getAs[Int]("n_removed_words")))).toMap
      assert(out == Map(1L -> ((true, 0)), 2L -> ((false, 320)), 3L -> ((true, 0))), s"$cfg")
    }
  }

  test("exact_substr: short docs (< spanWords) have no spans; < minDocWords drops") {
    val df = Seq((1L, words(20, 20).mkString(" ")), (2L, words(55, 21).mkString(" ")))
      .toDF("doc_id", "text")
    val out = ExactSubstrDedup(df, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("exact_substr_keep")).toMap
    assert(!out(1L)) // 20 words < min_doc_words=50 — reference drops it too
    assert(out(2L))
  }

  test("exact_substr: intra-doc repeated span is removed at later positions") {
    val block = words(50, 30)
    val mid = words(10, 31)
    val text = (block ++ mid ++ block).mkString(" ") // 110 words, block repeats
    val df = Seq((1L, text)).toDF("doc_id", "text")
    val r = ExactSubstrDedup(df, "doc_id", "text").collect().head
    // second occurrence of the block (positions 60..109) is covered
    assert(r.getAs[Int]("n_removed_words") == 50)
    assert(r.getAs[Boolean]("exact_substr_keep")) // 60 words remain
    assert(r.getAs[String]("text") == (block ++ mid).mkString(" "))
  }

  test("gc combine + normalize: min-max to [0,1], constant column to 0") {
    val lex = Seq((1L, 10.0, 5L), (2L, 20.0, 5L), (3L, 15.0, 5L)).toDF("id", "pos_ent", "flat")
    val syn = Seq((1L, 2L), (2L, 6L), (3L, 4L)).toDF("id", "dep")
    val out = GcOps.normalize(GcOps.combine(lex, syn, "id"), Seq("pos_ent", "flat", "dep"))
      .orderBy("id").collect()
    assert(out.map(_.getAs[Double]("norm_pos_ent")).toSeq == Seq(0.0, 1.0, 0.5))
    assert(out.map(_.getAs[Double]("norm_flat")).toSeq == Seq(0.0, 0.0, 0.0))
    assert(out.map(_.getAs[Double]("norm_dep")).toSeq == Seq(0.0, 1.0, 0.5))
  }

  test("exact_substr: hot span hash (boilerplate) streams through window, no collect of texts") {
    val block = words(50, 40).mkString(" ")
    val docs = (0 until 2000).map(i =>
      (i.toLong, if (i < 1500) block else words(55, 100 + i).mkString(" ")))
      .toDF("doc_id", "text").repartition(4)
    val out = ExactSubstrDedup(docs, "doc_id", "text")
    assert(out.where(col("exact_substr_keep")).count() == 501) // survivor + 500 unique
  }
  test("anchored mode: long shared ranges still detected, config validated") {
    import spark.implicits._
    val passage = (1 to 70).map(i => s"w$i").mkString(" ")  // 70 shared words
    val docs = Seq(
      (1L, "a1 a2 a3 " + passage + " z1 z2"),
      (2L, "b1 b2 b3 b4 " + passage + " y1"),
      (3L, (1 to 60).map(i => s"u$i").mkString(" "))) // unique doc
      .toDF("doc_id", "text")
    // 70 >= spanWords(50) + anchorEvery(8) - 1, so winnowing must catch it
    val out = graft.operators.ExactSubstrDedup(docs, "doc_id", "text",
      graft.operators.ExactSubstrConfig(minDocWords = 5, anchorEvery = Some(8)))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("n_removed_words")).toMap
    assert(out(1L) == 0, "first occurrence survives")
    assert(out(2L) >= 50, "later copy loses the anchored span(s)")
    assert(out(3L) == 0, "unique doc untouched")
    intercept[IllegalArgumentException] {
      graft.operators.ExactSubstrDedup(docs, "doc_id", "text",
        graft.operators.ExactSubstrConfig(anchorEvery = Some(1))).collect()
    }
    intercept[IllegalArgumentException] {
      graft.operators.ExactSubstrDedup(docs, "doc_id", "text",
        graft.operators.ExactSubstrConfig(shortSpanWords = Some(0))).collect()
    }
  }

  test("spanH1FromWordHashes emits exactly the h1 stream of the full span rows") {
    val rng = new scala.util.Random(77)
    for (n <- Seq(0, 1, 7, 15, 16, 50, 113, 400); trial <- 1 to 3) {
      val h = Array.fill(n)(rng.nextLong())
      for (sw <- Seq(1, 2, 15, 16, 50)) {
        val full = ExactSubstrDedup.spanHashesFromWordHashes(h, sw).map(_._2)
        val lean = ExactSubstrDedup.spanH1FromWordHashes(h, sw)
        assert(full.toSeq == lean.toSeq, s"n=$n sw=$sw trial=$trial")
      }
    }
  }

  test("forced groupBy-min (hotKeyThreshold = 0) agrees with the window-min default") {
    // mixed corpus: a mass-duplicated boilerplate block (the hot-key case
    // the groupBy-min shape exists for), partial overlaps, and unique docs
    // — in both single-length and multi-length (shortSpanWords) modes
    val block = words(50, 60).mkString(" ")
    val shared = words(50, 61)
    val docs = ((0 until 300).map(i =>
        (i.toLong, if (i < 200) block else words(55, 200 + i).mkString(" "))) ++
      Seq((300L, (words(30, 62) ++ shared).mkString(" ")),
          (301L, (shared ++ words(30, 63)).mkString(" "))))
      .toDF("doc_id", "text").repartition(4)
    def run(variant: ExactSubstrConfig) = ExactSubstrDedup(docs, "doc_id", "text", variant)
      .select("doc_id", "exact_substr_keep", "n_removed_words", "text")
      .collect().map(r => r.getLong(0) -> ((r.getBoolean(1), r.getInt(2), r.getString(3)))).toMap
    def withConf[T](key: String, value: String)(body: => T): T = {
      spark.conf.set(key, value)
      try body finally spark.conf.unset(key)
    }
    // the single-pass (no-prefilter) shape: a zero key budget
    def singlePass[T](body: => T): T = withConf(DupCandidates.MaxBroadcastKeysConf, "0")(body)
    // every duplicated span exceeds a zero threshold: groupBy-min + join-back
    def groupByMin[T](body: => T): T =
      withConf("spark.graft.exactsubstr.hotKeyThreshold", "0")(body)
    for (cfg <- Seq(
        ExactSubstrConfig(),
        ExactSubstrConfig(shortSpanWords = Some(15)),
        ExactSubstrConfig(anchorEvery = Some(8)),
        // the combined config is exactly what `Measure scale`'s anchored
        // posture runs with the prefilter on — the lean h1 UDF's
        // anchored+salted multi-length path must stay property-pinned to
        // the full span UDF (ADVICE r6)
        ExactSubstrConfig(shortSpanWords = Some(15), anchorEvery = Some(8)))) {
      val base = run(cfg)
      assert(base == groupByMin(run(cfg)), s"groupBy-min diverges for $cfg")
      assert(base == singlePass(run(cfg)), s"single pass diverges for $cfg")
      assert(base == singlePass(groupByMin(run(cfg))),
        s"single-pass groupBy-min diverges for $cfg")
    }
  }

}
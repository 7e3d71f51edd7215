package graft

import org.apache.spark.sql.SparkSession
import graft.operators.{SyntacticComplexity => SC}

/** Syntactic-complexity differential dump: a seeded corpus exercising the
  * sentence splitter (punctuation cuts, >128-code-point runs, letterless
  * pieces, supplementary-plane CJK) plus seeded random dependency trees
  * through the exact calculator. tools/syn_diff.py replays the REFERENCE's
  * own split_into_sentences / calc_tree_height / calc_counter_entropy
  * (cdf_gc/dependency_parser.py, gc_calculator.py — exec'd with the ltp
  * import stubbed) over the same parquet and reports agreement.
  */
object SynDiffDump {

  private final class Lcg(seed0: Long) {
    private var s = seed0 * 0x9e3779b97f4a7c15L + 0x243f6a8885a308d3L
    def next(): Long = { s = s * 6364136223846793005L + 1442695040888963407L; s }
    def nextInt(bound: Int): Int = (math.floorMod(next() >>> 16, bound.toLong)).toInt
  }

  private val EnWords = Vector("alpha", "beta", "gamma", "delta", "omega",
    "word", "run", "letterless")
  private val ZhChars = (0 until 40).map(k => (0x4e00 + k * 37).toChar.toString)
  private val ExtB = (0 until 8).map(k => new String(Character.toChars(0x20000 + k * 13)))
  private val Puncts = SC.ZhEosPuncts.map(_.toString)

  /** One seeded text: a stream of tokens from mixed pools, with occasional
    * forced >128-code-point unpunctuated runs and letterless spans. */
  def genText(id: Long): String = {
    val r = new Lcg(id)
    val sb = new StringBuilder
    val nTok = r.nextInt(60)
    for (_ <- 0 until nTok) {
      r.nextInt(10) match {
        case 0 | 1 => sb ++= EnWords(r.nextInt(EnWords.length))
        case 2 | 3 => sb ++= ZhChars(r.nextInt(ZhChars.length))
        case 4 => sb ++= ExtB(r.nextInt(ExtB.length))
        case 5 => sb ++= Puncts(r.nextInt(Puncts.length))
        case 6 => sb += ' '
        case 7 => sb ++= "123"
        case 8 => // long unpunctuated run forcing max-length cuts
          val unit = if (r.nextInt(2) == 0) "ab" else ZhChars(r.nextInt(ZhChars.length))
          for (_ <- 0 until 70 + r.nextInt(100)) sb ++= unit
        case _ => sb ++= "  .,-  " // letterless span
      }
    }
    sb.toString
  }

  /** One seeded doc of random valid dependency trees: 1-4 sentences, each a
    * random tree over a random permutation (arbitrary root position and
    * edge distances); sentence 0 always has >= 2 words so the reference's
    * own edge-count division is defined. */
  def genTrees(id: Long): Seq[SC.ParsedSentence] = {
    val r = new Lcg(id ^ 0x5bf03635L)
    val labels = Vector("HED", "SBV", "VOB", "ATT", "ADV", "WP")
    val nSent = 1 + r.nextInt(4)
    (0 until nSent).map { k =>
      val n = if (k == 0) 2 + r.nextInt(11) else 1 + r.nextInt(12)
      // random permutation via seeded Fisher-Yates
      val perm = Array.tabulate(n)(identity)
      for (i <- n - 1 to 1 by -1) {
        val j = r.nextInt(i + 1)
        val t = perm(i); perm(i) = perm(j); perm(j) = t
      }
      val parents = new Array[Int](n)
      parents(perm(0)) = -1
      for (i <- 1 until n) parents(perm(i)) = perm(r.nextInt(i))
      SC.ParsedSentence(
        (0 until n).map(i => s"w$i"),
        (0 until n).map(_ => labels(r.nextInt(labels.length))),
        parents.toSeq)
    }
  }

  /** Writes `rows` splitter cases to `out/split` and calculator cases to
    * `out/calc`. */
  def dump(spark: SparkSession, out: String, rows: Int): Unit = {
    import spark.implicits._

    // splitter surface: text -> engine's sentence list
    (0L until rows.toLong).map { id =>
      val t = genText(id)
      (id, t, SC.splitIntoSentences(t, 128, SC.ZhEosPuncts))
    }.toDF("id", "text", "sents")
      .write.mode("overwrite").parquet(s"$out/split")

    // calculator surface: random trees -> quantized metrics
    (0L until rows.toLong).map { id =>
      val ss = genTrees(id)
      val m = SC.compute(ss)
      (id, ss.map(_.depLabels), ss.map(_.parents),
        math.rint(m.depEnt * 1e6).toLong,
        math.rint(m.avgDepHeight * 1e6).toLong,
        math.rint(m.avgDepDis * 1e6).toLong)
    }.toDF("id", "labels", "parents", "q_ent", "q_height", "q_dis")
      .write.mode("overwrite").parquet(s"$out/calc")

    println(s"syn diff dump: $rows docs -> $out")
  }
}

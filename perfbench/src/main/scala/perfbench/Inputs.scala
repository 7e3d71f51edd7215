package perfbench

import java.sql.Timestamp
import scala.collection.mutable.ArrayBuffer

/** SplitMix64: every generated input is a pure function of the seed. */
final class Rng(seed: Long) {
  private var s = seed ^ 0x2545f4914f6cdd1dL
  def nextLong(): Long = {
    s += 0x9e3779b97f4a7c15L
    var z = s
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  def nextInt(bound: Int): Int = ((nextLong() & Long.MaxValue) % bound).toInt
  def nextDouble(): Double = (nextLong() >>> 11) * 1.1102230246251565e-16
  def gaussian(): Double = {
    val u = math.max(nextDouble(), 1e-300)
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * nextDouble())
  }
  def shuffle[T](a: Array[T]): Unit = {
    var i = a.length - 1
    while (i > 0) {
      val j = nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
  }
}

final case class ChainDoc(url: String, warc_ts: Timestamp, text: String, lang: String)

/** What the dedup corpus plants, so the checks know what each phase must drop. */
final case class DedupPlan(rows: Int, exactDrops: Int, urlDrops: Int)

/** The dedup_chain corpus: unique docs plus planted structure for each
  * phase of the chain.
  *  - exact-copy families of 2 to 6 copies and one hot family of thousands
  *    (a tenth of the rows), each copy under its own url: exact_dedup drops
  *    exactly all copies but one;
  *  - same-url recrawls, 2 to 4 captures with distinct text and warc_ts:
  *    url_dedup drops exactly all captures but one;
  *  - near-dup families of 16-line docs that differ in one line: minhash;
  *  - 3-line boilerplate blocks shared by docs whose own text is under the
  *    50-word floor: sentence_dedup drops every copy but the first;
  *  - a 32-word quote line shared by short docs whose 3-line windows stay
  *    unique, so only exact_substr sees the repeat and drops them.
  * Words come from a 6,400-word syllable vocabulary, so unplanted docs
  * share no 15-word run by chance. */
object DedupCorpus {
  private val vocab: Array[String] = {
    val syl = for (c <- "bdfgklmnprstvwz".toSeq :+ 'h'; v <- "aeiou") yield s"$c$v"
    (for (a <- syl; b <- syl) yield a + b).toArray
  }

  private def words(rng: Rng, n: Int): String =
    Array.fill(n)(vocab(rng.nextInt(vocab.length))).mkString(" ")
  private def lines(rng: Rng, n: Int, wordsPer: Int): Seq[String] =
    Seq.fill(n)(words(rng, wordsPer - 2 + rng.nextInt(5)))

  def build(rows: Int, seed: Long): (Array[ChainDoc], DedupPlan) = {
    require(rows >= 400, s"dedup_chain needs at least 400 rows (got $rows)")
    val rng = new Rng(seed)
    val texts = ArrayBuffer.empty[(String, String)] // (url key, text)
    val recrawlTs = scala.collection.mutable.HashMap.empty[Int, Int]
    var urlId = 0
    def nextUrl(): String = { urlId += 1; s"u$urlId" }
    def uniqueDoc(): String = lines(rng, 6 + rng.nextInt(3), 12).mkString("\n")
    val share = rows / 10

    var exactDrops = 0
    val hot = uniqueDoc()
    (0 until share).foreach(_ => texts += ((nextUrl(), hot)))
    exactDrops += share - 1
    var n = 0
    var size = 2
    while (n < share) {
      val t = uniqueDoc()
      (0 until size).foreach(_ => texts += ((nextUrl(), t)))
      exactDrops += size - 1
      n += size
      size = if (size == 6) 2 else size + 1
    }

    var urlDrops = 0
    n = 0; size = 2
    while (n < share) {
      val u = nextUrl()
      (0 until size).foreach(_ => texts += ((u, uniqueDoc())))
      urlDrops += size - 1
      n += size
      size = if (size == 4) 2 else size + 1
    }

    n = 0; size = 2
    while (n < share) {
      val base = lines(rng, 16, 12).toArray
      (0 until size).foreach { v =>
        val doc = base.clone()
        if (v > 0) doc((v * 5) % doc.length) = words(rng, 12)
        texts += ((nextUrl(), doc.mkString("\n")))
      }
      n += size
      size = if (size == 4) 2 else size + 1
    }

    val blocks = Array.fill(8)(lines(rng, 3, 4).mkString("\n"))
    (0 until share).foreach { i =>
      val own = lines(rng, 4, 11)
      texts += ((nextUrl(), (own.take(2) ++ Seq(blocks(i % blocks.length)) ++ own.drop(2)).mkString("\n")))
    }

    val quotes = Array.fill(8)(words(rng, 32))
    (0 until share / 2).foreach { i =>
      val own = lines(rng, 3, 11)
      texts += ((nextUrl(), (own.take(2) ++ Seq(quotes(i % quotes.length)) ++ own.drop(2)).mkString("\n")))
    }

    while (texts.length < rows) texts += ((nextUrl(), uniqueDoc()))

    val order = texts.toArray
    rng.shuffle(order)
    val docs = order.zipWithIndex.map { case ((u, text), i) =>
      // recrawls of one url get increasing capture times; the rest are spread
      val k = u.drop(1).toInt
      val capture = recrawlTs.getOrElse(k, 0)
      recrawlTs(k) = capture + 1
      ChainDoc(s"https://site${k % 97}.example/page/$k", new Timestamp(1700000000000L + i * 1000L + capture * 86400000L),
        text, "en")
    }
    (docs, DedupPlan(docs.length, exactDrops, urlDrops))
  }
}

final case class AnnRow(id: Long, vec: Array[Float])

/** What the ANN input plants: near-twin pairs and one hot clique. */
final case class AnnPlan(twins: Array[(Long, Long)], clique: Array[Long])

/** The ann_topk input: 64-dim vectors in 32 Gaussian clusters (uniform
  * vectors are IVF's best-balanced case, real embeddings are not), then
  * centred, as LSH requires. A tenth of the vectors come in near-twin
  * pairs; one clique of identical vectors, 1/40 of the rows, makes a hot
  * LSH bucket and a hot IVF cell. */
object AnnVectors {
  val Dim = 64

  def build(rows: Int, seed: Long): (Array[AnnRow], AnnPlan) = {
    require(rows >= 400, s"ann_topk needs at least 400 rows (got $rows)")
    val rng = new Rng(seed)
    val centres = Array.fill(32, Dim)(rng.gaussian())
    def point(): Array[Double] = {
      val c = centres(rng.nextInt(centres.length))
      Array.tabulate(Dim)(d => c(d) + rng.gaussian())
    }
    val nClique = rows / 40
    val nPairs = rows / 20
    val vecs = ArrayBuffer.empty[Array[Double]]
    val cliqueVec = point()
    (0 until nClique).foreach(_ => vecs += cliqueVec)
    (0 until nPairs).foreach { _ =>
      val a = point()
      vecs += a
      vecs += a.map(_ + 0.02 * rng.gaussian())
    }
    while (vecs.length < rows) vecs += point()

    val mean = Array.tabulate(Dim)(d => vecs.map(_(d)).sum / vecs.length)
    // position p of the generated list gets id perm(p)
    val perm = Array.tabulate(rows)(_.toLong)
    rng.shuffle(perm)
    val out = new Array[AnnRow](rows)
    vecs.indices.foreach { p =>
      out(perm(p).toInt) = AnnRow(perm(p), Array.tabulate(Dim)(d => (vecs(p)(d) - mean(d)).toFloat))
    }
    val twins = Array.tabulate(nPairs)(i => (perm(nClique + 2 * i), perm(nClique + 2 * i + 1)))
    (out, AnnPlan(twins, perm.take(nClique).sorted))
  }
}

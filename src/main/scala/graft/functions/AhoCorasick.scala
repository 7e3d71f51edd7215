package graft.functions

import scala.collection.mutable

/** Aho-Corasick multi-pattern substring matcher (public algorithm; the
  * reference uses pyahocorasick for the URL banned-subword scan,
  * filters/url_filter.py:73-78,129). One pass over the text regardless of
  * list size — the right tool once blocklists reach 10^4+ entries, where
  * per-pattern `contains` or regex alternation goes quadratic. */
final class AhoCorasick private (
    next: Array[mutable.LongMap[Int]], // node → (char → node)
    fail: Array[Int],
    hit: Array[Boolean]) extends Serializable {

  /** The chars some pattern starts with, one bit per UTF-16 char. */
  private val starts: Array[Long] = {
    val bits = new Array[Long](1024)
    next(0).keysIterator.foreach(c => bits(c.toInt >>> 6) |= 1L << c)
    bits
  }

  /** Does any pattern occur in `text`? */
  def containsAny(text: String): Boolean = {
    var state = 0
    var i = 0
    val len = text.length
    while (i < len) {
      if (state == 0) {
        // the root stays the root on a char no pattern starts with
        while (i < len && (starts(text.charAt(i) >>> 6) & (1L << text.charAt(i))) == 0) i += 1
        if (i == len) return false
      }
      val c = text.charAt(i).toLong
      var s = state
      var n = next(s).getOrElse(c, -1)
      while (n < 0 && s != 0) { s = fail(s); n = next(s).getOrElse(c, -1) }
      state = if (n < 0) 0 else n
      if (hit(state)) return true
      i += 1
    }
    false
  }
}

object AhoCorasick {
  def apply(patterns: Iterable[String]): AhoCorasick = {
    val next = mutable.ArrayBuffer(mutable.LongMap.empty[Int])
    val hitB = mutable.ArrayBuffer(false)
    for (p <- patterns if p.nonEmpty) {
      var state = 0
      for (c <- p) {
        state = next(state).getOrElseUpdate(c.toLong, {
          next += mutable.LongMap.empty[Int]
          hitB += false
          next.length - 1
        })
      }
      hitB(state) = true
    }
    val n = next.length
    val fail = new Array[Int](n)
    val hit = hitB.toArray
    // BFS failure links; hit propagates through suffix links
    val queue = mutable.Queue.empty[Int]
    next(0).foreach { case (_, s) => fail(s) = 0; queue.enqueue(s) }
    while (queue.nonEmpty) {
      val u = queue.dequeue()
      if (hit(fail(u))) hit(u) = true
      next(u).foreach { case (c, v) =>
        var f = fail(u)
        while (f != 0 && !next(f).contains(c)) f = fail(f)
        fail(v) = next(f).get(c).filter(_ != v).getOrElse(0)
        queue.enqueue(v)
      }
    }
    new AhoCorasick(next.toArray, fail, hit)
  }
}

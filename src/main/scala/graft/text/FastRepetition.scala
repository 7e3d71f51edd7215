package graft.text

/** Allocation-free reimplementations of the repetition kernels.
  *
  * Semantics identical to TextKernels.findAllDuplicate / findTopDuplicate
  * over get_n_grams (verified by a randomized equivalence spec): window
  * equality is *joined-string* equality, so windows are compared as
  * substrings of the joined master string via 128-bit (dual 64-bit)
  * polynomial prefix hashes — O(1) per window instead of building and
  * hashing a String per window. This is the hot kernel of the whole filter
  * chain (6 dup-n passes + 3 top-n passes per doc).
  */
object FastRepetition {

  private val B1 = 1000003L
  private val B2 = 0x100000001b3L

  /** Per-thread reusable open-addressing arena for the 9 per-doc hash
    * passes (r8). The old per-pass PairSet/PairCounter allocated ~6 fresh
    * arrays per pass — ~GBs of GC churn over a 200k-doc partition sweep.
    * One generation-stamped table per executor thread serves both the
    * set (add) and counter (addOcc/topProduct) roles: a slot is live only
    * when gen(idx) == curGen, so `begin()` invalidates the whole table in
    * O(1) with no zeroing. Semantics are identical to the per-pass
    * structures (same mix, same linear probing, same first-insert-order
    * tie-break) — pinned by the randomized FastRepetitionSpec. */
  private final class PairArena {
    private var cap = 0
    private var k1: Array[Long] = null
    private var k2: Array[Long] = null
    private var cnt: Array[Int] = null
    private var len: Array[Int] = null
    private var gen: Array[Int] = null
    private var ins: Array[Int] = null // claimed slots in insertion order
    private var curGen = 0
    private var size = 0

    def begin(expected: Int): Unit = {
      val want = Integer.highestOneBit(math.max(16, expected * 2) - 1) << 1
      if (want > cap) {
        cap = want
        k1 = new Array[Long](cap); k2 = new Array[Long](cap)
        cnt = new Array[Int](cap); len = new Array[Int](cap)
        gen = new Array[Int](cap); ins = new Array[Int](cap)
        curGen = 0
      }
      curGen += 1
      size = 0
    }

    /** set role: returns true if newly added, false if already present */
    def add(a: Long, b: Long): Boolean = {
      if (size * 2 >= cap) grow()
      var idx = mix(a, b) & (cap - 1)
      while (gen(idx) == curGen) {
        if (k1(idx) == a && k2(idx) == b) return false
        idx = (idx + 1) & (cap - 1)
      }
      gen(idx) = curGen; k1(idx) = a; k2(idx) = b
      ins(size) = idx; size += 1
      true
    }

    /** counter role */
    def addOcc(a: Long, b: Long, charLen: Int): Unit = {
      if (size * 2 >= cap) grow()
      var idx = mix(a, b) & (cap - 1)
      while (gen(idx) == curGen) {
        if (k1(idx) == a && k2(idx) == b) { cnt(idx) += 1; return }
        idx = (idx + 1) & (cap - 1)
      }
      gen(idx) = curGen; k1(idx) = a; k2(idx) = b
      cnt(idx) = 1; len(idx) = charLen
      ins(size) = idx; size += 1
    }

    /** len × count of the most frequent key; first-inserted wins ties
      * (Counter.most_common insertion-order stability). Scans the
      * insertion list, NOT the table capacity — the arena is sized by the
      * largest doc its thread has seen, and a capacity scan would charge
      * every small doc for that one large doc (caught in the r8 mid-round
      * bench: gopher_repetition 0.32 → 0.99 s before this fix). Iterating
      * in insertion order makes first-insert the natural tie-break. */
    def topProduct: Int = {
      var bestCount = -1
      var bestLen = 0
      var i = 0
      while (i < size) {
        val s = ins(i)
        if (cnt(s) > bestCount) { bestCount = cnt(s); bestLen = len(s) }
        i += 1
      }
      if (bestCount <= 0) 0 else bestLen * bestCount
    }

    private def grow(): Unit = {
      val ok1 = k1; val ok2 = k2; val oc = cnt; val ol = len
      val oins = ins
      cap <<= 1
      k1 = new Array[Long](cap); k2 = new Array[Long](cap)
      cnt = new Array[Int](cap); len = new Array[Int](cap)
      gen = new Array[Int](cap); ins = new Array[Int](cap)
      curGen = 1
      var i = 0
      while (i < size) { // rehash live slots in insertion order
        val o = oins(i)
        var idx = mix(ok1(o), ok2(o)) & (cap - 1)
        while (gen(idx) == curGen) idx = (idx + 1) & (cap - 1)
        gen(idx) = curGen; k1(idx) = ok1(o); k2(idx) = ok2(o)
        cnt(idx) = oc(o); len(idx) = ol(o)
        ins(i) = idx
        i += 1
      }
    }
  }

  private val arenas: ThreadLocal[PairArena] =
    ThreadLocal.withInitial(() => new PairArena)

  @inline private def mix(a: Long, b: Long): Int = {
    var z = a * 0x9e3779b97f4a7c15L + b
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    (z ^ (z >>> 27)).toInt
  }

  /** Modular inverse of odd x mod 2^64 (Newton-Hensel lifting). */
  @inline private def inv64(x: Long): Long = {
    var inv = x // 3 correct bits
    var i = 0
    while (i < 6) { inv = inv * (2L - x * inv); i += 1 } // doubles bits per step
    inv
  }
  private val InvB1 = inv64(B1)
  private val InvB2 = inv64(B2)

  /** Shared per-text state reused across all n values. Prefix hashes are
    * WORD-level (8×(W+1) longs, ~5× less allocation than char-level) using
    * the multiplicative inverse of the odd bases mod 2^64:
    *   hash(concat w[i..j)) = P(j) − P(i)·B^(L(j)−L(i))
    *                        = P(j) − P(i)·pow(j)·ipow(i). */
  final class Reps(words: Array[String]) {
    val nWords: Int = words.length
    // one thread-local lookup per text, not one per pass: in a Spark task
    // thread the lookup probes a crowded ThreadLocalMap. A Reps therefore
    // belongs to the thread that built it.
    private val arena = arenas.get()
    // unspaced-concat prefixes + char-length powers
    private val pU1 = new Array[Long](nWords + 1)
    private val pU2 = new Array[Long](nWords + 1)
    private val powU1 = new Array[Long](nWords + 1)
    private val powU2 = new Array[Long](nWords + 1)
    private val ipowU1 = new Array[Long](nWords + 1)
    private val ipowU2 = new Array[Long](nWords + 1)
    // spaced prefixes: hash of "w0 w1 … wk-1 " (one trailing sep per word)
    private val pS1 = new Array[Long](nWords + 1)
    private val pS2 = new Array[Long](nWords + 1)
    private val lenU = new Array[Int](nWords + 1)

    locally {
      powU1(0) = 1L; powU2(0) = 1L; ipowU1(0) = 1L; ipowU2(0) = 1L
      var k = 0
      while (k < nWords) {
        val w = words(k)
        var h1 = 0L; var h2 = 0L
        var b1 = 1L; var b2 = 1L
        var ib1 = 1L; var ib2 = 1L
        var c = 0
        while (c < w.length) {
          val ch = w.charAt(c).toLong
          h1 = h1 * B1 + ch; h2 = h2 * B2 + ch
          b1 *= B1; b2 *= B2
          // inverse powers accumulate in the same pipelined loop (r8):
          // B^-len via InvB products replaces the two 12-multiply serial
          // inv64 Newton chains per word — same values, since
          // inv(B^a · B^b) = inv(B)^a · inv(B)^b mod 2^64
          ib1 *= InvB1; ib2 *= InvB2
          c += 1
        }
        pU1(k + 1) = pU1(k) * b1 + h1
        pU2(k + 1) = pU2(k) * b2 + h2
        powU1(k + 1) = powU1(k) * b1
        powU2(k + 1) = powU2(k) * b2
        ipowU1(k + 1) = ipowU1(k) * ib1 // powers of odd bases stay odd
        ipowU2(k + 1) = ipowU2(k) * ib2
        pS1(k + 1) = (pS1(k) * b1 + h1) * B1 + ' '.toLong
        pS2(k + 1) = (pS2(k) * b2 + h2) * B2 + ' '.toLong
        lenU(k + 1) = lenU(k) + w.length
        k += 1
      }
    }

    // hash of concat(words[i..j)) — unspaced
    @inline private def hU1(i: Int, j: Int): Long = pU1(j) - pU1(i) * powU1(j) * ipowU1(i)
    @inline private def hU2(i: Int, j: Int): Long = pU2(j) - pU2(i) * powU2(j) * ipowU2(i)
    // hash of "wi wi+1 … wj-1 " (incl. trailing sep): B^(spacedLen) = powU·B^(j−i)
    @inline private def bPow1(e: Int): Long = { var r = 1L; var i = 0; while (i < e) { r *= B1; i += 1 }; r }
    @inline private def bPow2(e: Int): Long = { var r = 1L; var i = 0; while (i < e) { r *= B2; i += 1 }; r }

    /** find_all_duplicate (gopher_repetition_filter.py:57-70): sequential
      * non-overlapping duplicate n-gram scan, skip n on hit. */
    def findAllDuplicate(n: Int): Int = {
      val limit = nWords - n + 1
      if (limit <= 0) return 0
      arena.begin(limit)
      var repeatedChars = 0
      var idx = 0
      while (idx < limit) {
        if (!arena.add(hU1(idx, idx + n), hU2(idx, idx + n))) {
          repeatedChars += lenU(idx + n) - lenU(idx)
          idx += n
        } else idx += 1
      }
      repeatedChars
    }

    /** find_top_duplicate over " ".join n-grams: len(top)*count, ties to
      * first inserted; 0 when there are no n-grams. */
    def findTopDuplicate(n: Int): Int = {
      val limit = nWords - n + 1
      if (limit <= 0) return 0
      arena.begin(limit)
      val bn1 = bPow1(n) // B^(#separators in the window span)
      val bn2 = bPow2(n)
      var idx = 0
      while (idx < limit) {
        val j = idx + n
        // spaced window incl. trailing sep, then strip it: H = (H' − ' ')·B⁻¹
        val hs1 = pS1(j) - pS1(idx) * (powU1(j) * ipowU1(idx) * bn1)
        val hs2 = pS2(j) - pS2(idx) * (powU2(j) * ipowU2(idx) * bn2)
        val h1 = (hs1 - ' '.toLong) * InvB1
        val h2 = (hs2 - ' '.toLong) * InvB2
        val charLen = lenU(j) - lenU(idx) + (n - 1)
        arena.addOcc(h1, h2, charLen)
        idx += 1
      }
      arena.topProduct
    }
  }
}

package graft.functions

/** SplitMix64 (Steele, Lea & Flood, OOPSLA 2014) from a raw initial
  * state: each step adds the golden-ratio increment and mixes. The seeded
  * generators (corpus rows, LSH hyperplanes, MinHash permutations, the zh
  * diff corpus) each pick their own start state. */
final class SplitMix64(private var s: Long) {
  def nextLong(): Long = {
    s += 0x9e3779b97f4a7c15L
    var z = s
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  def nextInt(bound: Int): Int = {
    val l = nextLong() & Long.MaxValue
    (l % bound).toInt
  }
  def nextDouble(): Double = (nextLong() >>> 11) * 1.1102230246251565e-16
  def pick(a: Array[String]): String = a(nextInt(a.length))
}

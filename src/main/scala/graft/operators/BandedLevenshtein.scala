package graft.operators

/** Thresholded Levenshtein distance over code points: the distance when it
  * is at most `k`, else -1 — the semantics of Spark's 3-arg `levenshtein`.
  *
  * Ukkonen's band ("Algorithms for approximate string matching", Inf. &
  * Control 1985): a cell (i, j) costs at least |i - j|, so every path of
  * cost <= k stays inside |i - j| <= k, and the DP fills only those cells,
  * O(k * n) per pair. Cells just outside the band read as k + 1, a lower
  * bound of their true cost, which keeps every in-band cell exact while it
  * is <= k. Every path crosses every row, so once a row's minimum passes k
  * the distance does too and the DP stops.
  *
  * The code-point arrays and the two DP rows are per-thread scratch, grown
  * on demand and reused across the pairs of a task. A thread keeps arrays
  * of at most `KeptInts` ints; a longer text's arrays serve its pair only,
  * so one huge text pins no memory after it.
  */
private[graft] object BandedLevenshtein {
  private val KeptInts = 1 << 16

  /** Slots 0-1 hold code points, 2-3 the DP rows. */
  private final class Scratch {
    private val slots = Array.fill(4)(new Array[Int](64))
    def ints(slot: Int, n: Int): Array[Int] =
      if (slots(slot).length >= n) slots(slot)
      else {
        val a = new Array[Int](n)
        if (n <= KeptInts) slots(slot) = a
        a
      }
  }
  private val scratch = ThreadLocal.withInitial[Scratch](() => new Scratch)

  /** Writes `x`'s code points into `out`; returns their count. */
  private def codePoints(x: String, out: Array[Int]): Int = {
    var i = 0
    var n = 0
    while (i < x.length) {
      val c = x.codePointAt(i)
      out(n) = c
      n += 1
      i += Character.charCount(c)
    }
    n
  }

  def distance(s: String, t: String, maxDist: Int): Int = {
    val sc = scratch.get()
    val sb = sc.ints(0, s.length)
    val sn = codePoints(s, sb)
    val tb = sc.ints(1, t.length)
    val tn = codePoints(t, tb)
    // the DP runs over the shorter string's rows
    val (a, m, b, n) = if (sn <= tn) (sb, sn, tb, tn) else (tb, tn, sb, sn)
    if (n - m > maxDist) return -1
    if (m == 0) return n
    val k = math.min(maxDist, n) // the distance never exceeds n
    val out = k + 1
    var prev = sc.ints(2, n + 1)
    var cur = sc.ints(3, n + 1)
    var j = 0
    while (j <= k) { prev(j) = j; j += 1 }
    if (k + 1 <= n) prev(k + 1) = out
    var i = 1
    while (i <= m) {
      val lo = math.max(1, i - k)
      val hi = math.min(n, i + k)
      cur(lo - 1) = if (lo == 1) i else out
      val ai = a(i - 1)
      var rowMin = cur(lo - 1)
      j = lo
      while (j <= hi) {
        val sub = prev(j - 1) + (if (ai == b(j - 1)) 0 else 1)
        val v = math.min(sub, math.min(prev(j), cur(j - 1)) + 1)
        cur(j) = v
        if (v < rowMin) rowMin = v
        j += 1
      }
      if (hi + 1 <= n) cur(hi + 1) = out
      if (rowMin > k) return -1
      val swap = prev; prev = cur; cur = swap
      i += 1
    }
    val d = prev(n)
    if (d <= k) d else -1
  }
}

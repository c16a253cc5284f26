package graft.core

/** Longest-common-substring length for the verify stage's pass over long
  * exact overlaps (north rule; no counterpart in the reference — its verify
  * oracle is exact Jaccard only, similarities.jl:230-238).
  *
  * A suffix automaton over one side, walked by the other: O(|a| + |b|) per
  * pair. It runs inside the graft_lcs_len expression on executors, never on
  * the driver, and only for pairs that already passed the cheap Jaccard
  * prefilter (SURVEY.md §7 "what's hard"). Each side is truncated to maxLen
  * UTF-16 code units here, so callers need no cap of their own.
  */
object SuffixArray {

  /** Java-callable arity-2 form — Scala default arguments generate NO 2-arg
    * overload, so generated (Janino) code calling lcsLength(a, b) failed to
    * compile and silently de-codegened every stage containing graft_lcs_len
    * (caught in the round-5 scaling logs; CodegenStrictSpec now hardens
    * against the local-relation fold that hid it). */
  def lcsLength(a: String, b: String): Int = lcsLength(a, b, 20000)

  /** Longest common substring of the first maxLen code units of a and b;
    * 0 when either side is empty. */
  def lcsLength(a: String, b: String, maxLen: Int): Int = {
    // a transition key packs state + 1 (at most 2·maxLen) into 16 bits; a
    // larger cap would collide keys and return wrong lengths
    require(maxLen < (1 << 15), s"maxLen $maxLen must be < ${1 << 15}")
    if (a.isEmpty || b.isEmpty) return 0
    val na = math.min(a.length, maxLen)
    val nb = math.min(b.length, maxLen)
    // build over the shorter side: a built char costs more time and memory
    // than a walked one
    if (na <= nb) new SuffixAutomaton(a, na).longestRun(b, nb)
    else new SuffixAutomaton(b, nb).longestRun(a, na)
  }

  /** Suffix automaton of s[0, n): at most 2n states and 3n transitions.
    * Transitions live in one open-addressed table keyed by (state + 1,
    * char) packed into an Int, 0 marking an empty slot; each state also
    * chains its own slots, which a clone copies. */
  private final class SuffixAutomaton(s: String, n: Int) {
    private val len = new Array[Int](2 * n + 1)
    private val link = new Array[Int](2 * n + 1)
    private val firstSlot = Array.fill(2 * n + 1)(-1)
    private val bits = 32 - Integer.numberOfLeadingZeros(4 * n) // table > 4n
    private val mask = (1 << bits) - 1
    private val key = new Array[Int](1 << bits) // 0 = empty slot
    private val target = new Array[Int](1 << bits)
    private val nextSlot = new Array[Int](1 << bits)
    private var states = 1
    private var last = 0

    link(0) = -1
    locally { var i = 0; while (i < n) { extend(s.charAt(i)); i += 1 } }

    private def keyOf(v: Int, c: Char): Int = ((v + 1) << 16) | c

    /** The slot holding transition (v, c), or the empty slot it would take. */
    private def slot(v: Int, c: Char): Int = {
      val k = keyOf(v, c)
      var j = (k * 0x9E3779B9) >>> (32 - bits)
      while (key(j) != 0 && key(j) != k) j = (j + 1) & mask
      j
    }

    private def put(j: Int, v: Int, c: Char, to: Int): Unit = {
      key(j) = keyOf(v, c); target(j) = to
      nextSlot(j) = firstSlot(v); firstSlot(v) = j
    }

    private def extend(c: Char): Unit = {
      val cur = states; states += 1
      len(cur) = len(last) + 1
      var p = last
      var j = slot(p, c)
      while (p >= 0 && key(j) == 0) {
        put(j, p, c, cur)
        p = link(p)
        if (p >= 0) j = slot(p, c)
      }
      if (p < 0) link(cur) = 0
      else {
        val q = target(j)
        if (len(p) + 1 == len(q)) link(cur) = q
        else {
          val clone = states; states += 1
          len(clone) = len(p) + 1
          link(clone) = link(q)
          var f = firstSlot(q)
          while (f >= 0) {
            val fc = (key(f) & 0xFFFF).toChar
            put(slot(clone, fc), clone, fc, target(f))
            f = nextSlot(f)
          }
          // every suffix-link ancestor of p has a c-transition; redirect
          // the ones that led to q
          while (p >= 0 && target(j) == q) {
            target(j) = clone
            p = link(p)
            if (p >= 0) j = slot(p, c)
          }
          link(q) = clone
          link(cur) = clone
        }
      }
      last = cur
    }

    /** Longest substring of t[0, m) that occurs in s[0, n). */
    def longestRun(t: String, m: Int): Int = {
      var v = 0
      var run = 0
      var best = 0
      var k = 0
      while (k < m) {
        val c = t.charAt(k)
        var j = slot(v, c)
        while (v > 0 && key(j) == 0) {
          v = link(v); run = len(v)
          j = slot(v, c)
        }
        if (key(j) != 0) { v = target(j); run += 1 }
        if (run > best) best = run
        k += 1
      }
      best
    }
  }
}

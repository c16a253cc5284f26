package graft.core

import org.scalatest.funsuite.AnyFunSuite
import graft.testkit.PagesGen

/** The verify stage's longest-common-substring kernel against an
  * O(|a|·|b|) dynamic-programming oracle, on the inputs the pipeline feeds
  * it: web-page-length PagesGen pairs, textScale = 10 pages, surrogate
  * pairs (the kernel counts UTF-16 code units), a common run cut by the
  * per-side truncation, the largest accepted cap, and empty sides. */
class LcsOracleSpec extends AnyFunSuite {

  /** Longest common substring of the first maxLen code units of each side:
    * cur(j) = length of the common run ending at a(i-1), b(j-1). */
  private def dpLcs(a: String, b: String, maxLen: Int = 20000): Int = {
    val x = a.take(maxLen); val y = b.take(maxLen)
    var prev = new Array[Int](y.length + 1)
    var cur = new Array[Int](y.length + 1)
    var best = 0
    var i = 1
    while (i <= x.length) {
      val c = x.charAt(i - 1)
      var j = 1
      while (j <= y.length) {
        cur(j) = if (c == y.charAt(j - 1)) prev(j - 1) + 1 else 0
        if (cur(j) > best) best = cur(j)
        j += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    best
  }

  private def check(a: String, b: String): Unit = {
    val want = dpLcs(a, b)
    assert(SuffixArray.lcsLength(a, b) == want, s"|a|=${a.length} |b|=${b.length}")
    assert(SuffixArray.lcsLength(b, a) == want, s"swapped |a|=${a.length} |b|=${b.length}")
  }

  test("planted slot-0/1/2 pairs and boilerplate pairs at web-page length") {
    val texts = for (seed <- Seq(0L, 3L); cluster <- 0L until 6L)
      yield (0 until 3).map(s => PagesGen.textFor(seed, cluster * PagesGen.ClusterSlots + s))
    texts.foreach { t => check(t(0), t(1)); check(t(0), t(2)); check(t(1), t(2)) }
    // a planted doc against the block's independent singleton
    check(PagesGen.textFor(0L, 0L), PagesGen.textFor(0L, 3L))
    val boiler = (0L until 6L).map(id => PagesGen.boilerplateText(0L, id))
    boiler.sliding(2).foreach { case Seq(a, b) => check(a, b) }
    val lengths = (texts.flatten ++ boiler).map(_.length)
    assert(lengths.min >= 1000 && lengths.max <= 7000, lengths)
  }

  test("textScale = 10 pages, truncated at 20,000 code units") {
    def block(cluster: Long) =
      (0 until 3).map(s => PagesGen.textFor(1L, cluster * PagesGen.ClusterSlots + s, textScale = 10))
    // cluster 2 stays under the cut; the first cluster over it is cut
    val under = block(2L)
    val over = Iterator.from(3).map(c => block(c.toLong)).find(_.forall(_.length > 20000)).get
    assert(under.forall(_.length < 20000), under.map(_.length))
    check(under(0), under(1))
    check(over(0), over(1))
    check(over(1), over(2))
  }

  test("surrogate pairs count as two code units") {
    val alphabet = Seq("a", "b", "😀", "😁", "𝄞", "\uD83D")
    val rnd = new scala.util.Random(5)
    def draw(n: Int) = Seq.fill(n)(alphabet(rnd.nextInt(alphabet.length))).mkString
    for (_ <- 0 until 40) check(draw(rnd.nextInt(300) + 1), draw(rnd.nextInt(300) + 1))
    // runs that agree on a high surrogate and split on the low one
    assert(SuffixArray.lcsLength("x😀y", "z😁w") == 1)
    assert(SuffixArray.lcsLength("😀😀", "😀") == 2)
    val run = "😀" * 50
    check("ab" + run + "cd", "dc" + run + "ba")
  }

  test("a common run straddling the truncation cut") {
    val rnd = new scala.util.Random(9)
    def noise(n: Int) = Array.fill(n)(('a' + rnd.nextInt(4)).toChar).mkString
    val run = Array.fill(500)(('k' + rnd.nextInt(8)).toChar).mkString
    for (maxLen <- Seq(257, 20000); side <- Seq(maxLen - 1, maxLen, maxLen + 1)) {
      val r = math.min(run.length, maxLen / 2)
      val c = run.take(r)
      // run ends at the last code unit of a: cut by one at side = maxLen + 1
      val a = noise(side - r) + c
      val atStart = c + noise(side - r)
      val midway = noise(side - r - 3) + c + noise(3)
      val others = if (maxLen == 20000) Seq(atStart, midway) else Seq(atStart, midway, a)
      val wants = others.map { b =>
        val want = dpLcs(a, b, maxLen)
        assert(SuffixArray.lcsLength(a, b, maxLen) == want, s"maxLen=$maxLen side=$side")
        assert(SuffixArray.lcsLength(b, a, maxLen) == want, s"maxLen=$maxLen side=$side")
        if (maxLen == 20000) assert(SuffixArray.lcsLength(a, b) == want)
        want
      }
      // noise and run share no character: the oracle sees the cut run
      assert(wants.head == (if (side == maxLen + 1) r - 1 else r))
    }
  }

  test("the largest accepted cap, 32,767 code units per side") {
    val rnd = new scala.util.Random(13)
    def noise(n: Int) = Array.fill(n)(('a' + rnd.nextInt(4)).toChar).mkString
    val maxLen = (1 << 15) - 1
    val c = Array.fill(700)(('k' + rnd.nextInt(8)).toChar).mkString
    // x/y: the runs' left neighbours differ, so only the cut shortens them
    val a = noise(maxLen - c.length) + "x" + c
    val b = noise(maxLen / 2) + "y" + c + noise(maxLen / 2)
    val want = dpLcs(a, b, maxLen)
    assert(want == c.length - 1)
    assert(SuffixArray.lcsLength(a, b, maxLen) == want)
    assert(SuffixArray.lcsLength(b, a, maxLen) == want)
  }

  test("an empty side gives 0") {
    val page = PagesGen.textFor(0L, 0L)
    assert(SuffixArray.lcsLength("", page) == 0)
    assert(SuffixArray.lcsLength(page, "") == 0)
    assert(SuffixArray.lcsLength("", "") == 0)
    assert(SuffixArray.lcsLength("", "x", 1) == 0)
    assert(dpLcs("", page) == 0)
  }
}

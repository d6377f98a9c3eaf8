package graft.operators

/**
 * Serializable Aho-Corasick automaton over chars, built ONCE per JVM from
 * the gazetteer (`Detector.model`, SURVEY.md §2.8 M1) — the
 * engine's replacement for the reference's per-request ONNX session
 * (src/model/ModelWrapper.py:100-139): one shared read-only structure,
 * amortized across every turn of a partition, zero per-row setup.
 *
 * Flat-array layout (no node objects) so the automaton is compact and
 * matching is allocation-free: `next` is a per-state HashMap only during
 * build; frozen to sorted parallel arrays for search.
 */
final class AhoCorasick private (
    private val base: Array[Int], // state -> offset into transChar/transTo
    private val transChar: Array[Char], // sorted per state
    private val transTo: Array[Int],
    private val fail: Array[Int],
    private val outHead: Array[Int], // state -> index into outNext/outPat (-1 none)
    private val outNext: Array[Int],
    private val outPat: Array[Int],
    val patterns: Array[String])
    extends Serializable {

  /** r06: dense root goto table — `rootTo(c)` = the root's transition on
    * char c, 0 if none. The scan spends most of its steps AT the root
    * (filler text matches no pattern prefix), where the generic path paid
    * a ~6-compare binary search over the root's fan-out per char; this is
    * one array read. 256 KiB of ints per executor (bounded by the char
    * space, not the state count — a 50k-surface stress automaton has
    * >10^5 states, which is why this is int-typed); states beyond the root keep
    * the compact sorted-array search (their fan-out is tiny and they are
    * visited only inside candidate matches). `@transient lazy val`:
    * cheaper to rebuild once per executor JVM than to ship, and Scala's
    * lazy-val initialization is thread-safe (safe publication under the
    * JMM — a plain @transient var would risk another task observing a
    * partially-written table, i.e. silently missed root transitions). */
  @transient private lazy val rootTo: Array[Int] = {
    val t = new Array[Int](Character.MAX_VALUE + 1) // 0-init = "no move"
    var k = base(0)
    while (k < base(1)) {
      t(transChar(k)) = transTo(k)
      k += 1
    }
    t
  }

  @inline private def step(fromState: Int, c: Char): Int = {
    var s = fromState
    while (s != 0) {
      val lo = base(s); val hi = base(s + 1)
      // binary search c in transChar[lo, hi)
      var l = lo; var h = hi - 1
      while (l <= h) {
        val m = (l + h) >>> 1
        val mc = transChar(m)
        if (mc == c) return transTo(m)
        else if (mc < c) l = m + 1
        else h = m - 1
      }
      s = fail(s)
    }
    rootTo(c)
  }

  /** All matches packed as (patternId << 32 | endExclusive) longs — a
    * primitive array, zero boxing on the per-char hot path. */
  def findAllPacked(text: CharSequence): Array[Long] = {
    var res = new Array[Long](8)
    var k = 0
    val root = rootTo // hoist the lazy-val (bitmap-checked) read off the
    var s = 0         // per-char loop — the root case dominates the scan
    var i = 0
    val n = text.length
    while (i < n) {
      val c = text.charAt(i)
      s = if (s == 0) root(c) else step(s, c)
      var o = outHead(s)
      while (o != -1) {
        if (k == res.length) res = java.util.Arrays.copyOf(res, k * 2)
        res(k) = (outPat(o).toLong << 32) | (i + 1).toLong
        k += 1
        o = outNext(o)
      }
      i += 1
    }
    if (k == res.length) res else java.util.Arrays.copyOf(res, k)
  }
}

object AhoCorasick {

  /** Build from patterns (caller is responsible for case normalization). */
  def build(patterns: Array[String]): AhoCorasick = {
    import scala.collection.mutable
    val next = mutable.ArrayBuffer(mutable.HashMap.empty[Char, Int])
    val out = mutable.ArrayBuffer(List.empty[Int])
    patterns.zipWithIndex.foreach { case (p, pid) =>
      var s = 0
      p.foreach { c =>
        s = next(s).getOrElseUpdate(c, {
          next += mutable.HashMap.empty[Char, Int]
          out += Nil
          next.length - 1
        })
      }
      out(s) = pid :: out(s)
    }
    val n = next.length
    val fail = new Array[Int](n)
    val queue = mutable.Queue.empty[Int]
    next(0).values.foreach { s => fail(s) = 0; queue += s }
    while (queue.nonEmpty) {
      val u = queue.dequeue()
      next(u).foreach { case (c, v) =>
        queue += v
        var f = fail(u)
        while (f != 0 && !next(f).contains(c)) f = fail(f)
        fail(v) = if (f != u && next(f).contains(c)) next(f)(c) else 0
        if (fail(v) == v) fail(v) = 0
        out(v) = out(v) ++ out(fail(v))
      }
    }
    // freeze
    val base = new Array[Int](n + 1)
    var total = 0
    var i = 0
    while (i < n) { base(i) = total; total += next(i).size; i += 1 }
    base(n) = total
    val transChar = new Array[Char](total)
    val transTo = new Array[Int](total)
    i = 0
    while (i < n) {
      val sorted = next(i).toArray.sortBy(_._1)
      var k = 0
      while (k < sorted.length) {
        transChar(base(i) + k) = sorted(k)._1
        transTo(base(i) + k) = sorted(k)._2
        k += 1
      }
      i += 1
    }
    val outHead = Array.fill(n)(-1)
    val outNext = mutable.ArrayBuffer.empty[Int]
    val outPat = mutable.ArrayBuffer.empty[Int]
    i = 0
    while (i < n) {
      out(i).foreach { pid =>
        outNext += outHead(i)
        outPat += pid
        outHead(i) = outNext.length - 1
      }
      i += 1
    }
    new AhoCorasick(base, transChar, transTo, fail, outHead, outNext.toArray,
      outPat.toArray, patterns)
  }
}

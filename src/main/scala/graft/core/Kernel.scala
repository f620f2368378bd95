package graft.core

/** The one matching and scoring kernel both engines run — the analog of
  * the reference's shared `query_processing.h` (QQ-Mem and Vacuum call the
  * same leapfrog, phrase check and `MinPointerHeap`). The resident
  * [[graft.query.LocalService]] runs whole queries through it; the
  * distributed [[graft.query.Searcher]] runs its per-doc positional checks
  * and per-group top-k heap through it.
  *
  * Inputs are `(docIds, tfs, positions)` slices of decoded posting lists:
  * docIds ascending, positions ascending per posting. The hot loops are
  * `while` loops over primitive arrays — no closure, `Seq` or boxing per
  * posting; callers pass scratch arrays where a check runs once per
  * candidate doc.
  *
  * [[Oracle]] restates the same semantics naively and shares none of this
  * code; `KernelProperties` holds the two equal on random corpora.
  */
object Kernel {

  // ---- search ----

  /** First index in `[from, until)` whose value is `>= target` (`until`
    * when none is). `arr` ascending over that range. */
  def lowerBound(arr: Array[Int], from: Int, until: Int, target: Int): Int = {
    var lo = from
    var hi = until
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (arr(mid) < target) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** [[lowerBound]] for a target expected near `from`: doubling steps
    * from the cursor, then a binary search inside the last step — a
    * leapfrog cursor pays O(log gap), not O(log n). */
  def gallop(arr: Array[Int], from: Int, until: Int, target: Int): Int = {
    var c = from
    var step = 1
    while (c + step < until && arr(c + step) < target) { c += step; step <<= 1 }
    lowerBound(arr, c, math.min(until, c + step + 1), target)
  }

  /** Whether ascending `arr` holds `v`. */
  def contains(arr: Array[Int], v: Int): Boolean = {
    val i = lowerBound(arr, 0, arr.length, v)
    i < arr.length && arr(i) == v
  }

  // ---- positional checks (one doc; slot j's ascending positions) ----

  /** Phrase match with explicit shifts: is there a start p in slot 0 with
    * `p - shifts(0) + shifts(j)` in every slot j? `shifts = null` is plain
    * adjacency (`0..n-1`, `query_processing.h:335-362`); explicit shifts
    * carry the position gaps an analyzer leaves at removed stopwords. A
    * merge scan: `cursors` (one per slot) only move forward because the
    * target rises with p. */
  def phraseAt(lists: Array[Array[Int]], shifts: Array[Int], cursors: Array[Int]): Boolean = {
    if (lists.length == 0) return false
    var e = 0
    while (e < lists.length) {
      if (lists(e).length == 0) return false
      cursors(e) = 0
      e += 1
    }
    val first = lists(0)
    var ci = 0
    while (ci < first.length) {
      val p = first(ci)
      var j = 1
      var ok = true
      while (j < lists.length && ok) {
        val target = if (shifts == null) p + j else p - shifts(0) + shifts(j)
        val arr = lists(j)
        var c = cursors(j)
        while (c < arr.length && arr(c) < target) c += 1
        cursors(j) = c
        if (c >= arr.length) return false // a later p only raises the target
        ok = arr(c) == target
        j += 1
      }
      if (ok) return true
      ci += 1
    }
    false
  }

  /** Every start position of an adjacent phrase, ascending: slot j's
    * matching appearance sits at `start + j`. This is the per-result
    * position table the reference keeps for phrase highlighting
    * (`query_processing.h:365-392`). */
  def phraseStarts(lists: Array[Array[Int]]): Array[Int] = {
    if (lists.length == 0 || lists.exists(_.length == 0)) return Array.emptyIntArray
    val cursors = new Array[Int](lists.length)
    val out = Array.newBuilder[Int]
    val first = lists(0)
    var ci = 0
    var exhausted = false
    while (ci < first.length && !exhausted) {
      val p = first(ci)
      var j = 1
      var ok = true
      while (j < lists.length && ok && !exhausted) {
        val arr = lists(j)
        var c = cursors(j)
        while (c < arr.length && arr(c) < p + j) c += 1
        cursors(j) = c
        exhausted = c >= arr.length
        ok = !exhausted && arr(c) == p + j
        j += 1
      }
      if (ok && !exhausted) out += p
      ci += 1
    }
    out.result()
  }

  /** Ordered proximity (Lucene span-near, `"a b"~N`): slots at strictly
    * increasing positions p₁<…<p_k with `p_k − p₁ ≤ (k−1) + slop`. Greedy
    * minimal chain: for each p₁ every later slot takes its first position
    * above the previous pick, which gives the smallest p_k for that p₁.
    * Chains are monotone in p₁, so `cursors` persist across starts and the
    * check is O(Σ positions). */
  def proximity(lists: Array[Array[Int]], slop: Int, cursors: Array[Int]): Boolean = {
    val k = lists.length
    if (k == 0) return false
    var e = 0
    while (e < k) {
      if (lists(e).length == 0) return false
      cursors(e) = 0
      e += 1
    }
    val window = (k - 1) + slop
    val first = lists(0)
    var ci = 0
    while (ci < first.length) {
      val p1 = first(ci)
      var prev = p1
      var i = 1
      while (i < k) {
        val arr = lists(i)
        var c = cursors(i)
        while (c < arr.length && arr(c) <= prev) c += 1
        cursors(i) = c
        if (c >= arr.length) return false // a later p₁ only raises the bound
        prev = arr(c)
        i += 1
      }
      if (prev - p1 <= window) return true
      ci += 1
    }
    false
  }

  /** The positional check a phrase query runs on one doc: explicit shifts
    * when given, else adjacency at slop 0, else ordered proximity. */
  def positional(lists: Array[Array[Int]], shifts: Array[Int], slop: Int,
                 cursors: Array[Int]): Boolean =
    if (shifts != null || slop == 0) phraseAt(lists, shifts, cursors)
    else proximity(lists, slop, cursors)

  // ---- conjunctive scoring ----

  /** A conjunctive query over slot lists — the k-way max-pivot leapfrog of
    * `ProcessMultipleTerms` (`query_processing.h:710-852`) with the lossy
    * BM25 doc score (`scoring.h:124-145`).
    *
    * Slot j is `(docIds(j), tfs(j), norms(j))` with weight `idfs(j)`
    * (idf·boost); `norms(j)(i)` is posting i's lossy length byte, the one
    * stored inline in its block. A repeated query term is several slots
    * over the same arrays. With `positions` non-null every aligned doc
    * must also pass [[positional]] (`positions(j)(i)` = posting i's
    * positions). A doc in any `excluded` list (ascending docIds: NOT
    * terms, delete tombstones) never scores.
    * The score is the slot-ordered sum of `idfs(j) · tfNormLossy`, the same
    * double on every path. */
  final class Conjunction(docIds: Array[Array[Int]], tfs: Array[Array[Int]],
                          norms: Array[Array[Byte]], idfs: Array[Double],
                          positions: Array[Array[Array[Int]]] = null,
                          shifts: Array[Int] = null, slop: Int = 0,
                          excluded: Array[Array[Int]] = Array.empty) {
    private val nL = docIds.length

    /** Offers every match with docId in `[fromDoc, untilDoc)` to `top`,
      * but only those strictly after the `(afterScore, afterDocId)` cursor
      * in (score desc, docId asc) order (search_after; the default cursor
      * admits everything). The doc's length byte is read from slot 0, as
      * every aligned slot holds the same one. */
    def scan(lossyCache: Array[Double],
             fromDoc: Int, untilDoc: Int, top: TopK,
             afterScore: Double = Double.PositiveInfinity,
             afterDocId: Int = -1): Unit = {
      val cursors = new Array[Int](nL)
      var j = 0
      while (j < nL) { cursors(j) = lowerBound(docIds(j), 0, docIds(j).length, fromDoc); j += 1 }
      val exCursors = new Array[Int](excluded.length)
      val posBuf = if (positions == null) null else new Array[Array[Int]](nL)
      val posCursors = new Array[Int](nL)
      var done = nL == 0
      while (!done) {
        var maxDoc = -1
        var aligned = true
        var i = 0
        while (i < nL && !done) {
          if (cursors(i) >= docIds(i).length) done = true
          else {
            val d = docIds(i)(cursors(i))
            if (maxDoc == -1) maxDoc = d
            else if (d != maxDoc) { aligned = false; if (d > maxDoc) maxDoc = d }
          }
          i += 1
        }
        if (!done && maxDoc >= untilDoc) done = true
        if (!done) {
          if (aligned) {
            if (!isExcluded(maxDoc, exCursors) && (posBuf == null || {
                  j = 0
                  while (j < nL) { posBuf(j) = positions(j)(cursors(j)); j += 1 }
                  positional(posBuf, shifts, slop, posCursors)
                })) {
              val lb = norms(0)(cursors(0))
              var s = 0.0
              j = 0
              while (j < nL) {
                s += idfs(j) * Bm25.tfNormLossy(tfs(j)(cursors(j)).toLong, lb, lossyCache)
                j += 1
              }
              if (s < afterScore || (s == afterScore && maxDoc > afterDocId)) top.offer(maxDoc, s)
            }
            j = 0
            while (j < nL) { cursors(j) += 1; j += 1 }
          } else {
            j = 0
            while (j < nL) {
              cursors(j) = gallop(docIds(j), cursors(j), docIds(j).length, maxDoc)
              j += 1
            }
          }
        }
      }
    }

    /** Aligned candidates ascend, so each exclusion list keeps a forward
      * cursor: a hot excluded term costs O(log gap) per candidate. */
    private def isExcluded(docId: Int, exCursors: Array[Int]): Boolean = {
      var e = 0
      while (e < excluded.length) {
        val arr = excluded(e)
        val c = gallop(arr, exCursors(e), arr.length, docId)
        exCursors(e) = c
        if (c < arr.length && arr(c) == docId) return true
        e += 1
      }
      false
    }
  }

  // ---- bounded top-k ----

  /** The bounded top-k heap (`MinPointerHeap`, `query_processing.h:520-562,
    * 914-932`) with the engine-wide tie rule: the kept set is the top k by
    * (score desc, docId asc), whatever order docs are offered in. The root
    * is the worst kept hit; an offer replaces it only when strictly better.
    * Primitive arrays grow on demand, so a huge `k` costs nothing up
    * front. Heaps of disjoint docId ranges [[merge]] into the heap of the
    * whole range. */
  final class TopK(val k: Int) extends Serializable {
    private var docs = new Array[Int](math.max(0, math.min(k, 16)))
    private var scores = new Array[Double](docs.length)
    private var n = 0

    def offer(docId: Int, score: Double): Unit =
      if (n < k) {
        if (n == docs.length) {
          val cap = math.min(k.toLong, math.max(16L, 2L * n)).toInt
          docs = java.util.Arrays.copyOf(docs, cap)
          scores = java.util.Arrays.copyOf(scores, cap)
        }
        docs(n) = docId
        scores(n) = score
        n += 1
        siftUp(n - 1)
      } else if (k > 0 && (score > scores(0) || (score == scores(0) && docId < docs(0)))) {
        docs(0) = docId
        scores(0) = score
        siftDown(0, n)
      }

    def merge(other: TopK): TopK = {
      var i = 0
      while (i < other.n) { offer(other.docs(i), other.scores(i)); i += 1 }
      this
    }

    /** The kept hits in (score desc, docId asc) order, as parallel arrays.
      * Heap-sorts a copy; this heap is unchanged. */
    def sorted: (Array[Int], Array[Double]) = {
      val c = new TopK(k)
      c.docs = java.util.Arrays.copyOf(docs, n)
      c.scores = java.util.Arrays.copyOf(scores, n)
      var m = n
      while (m > 1) { // pop the worst to the end
        m -= 1
        c.swap(0, m)
        c.siftDown(0, m)
      }
      (c.docs, c.scores)
    }

    /** Slot a ranks below slot b: lower score, or equal score and higher
      * docId. */
    private def worse(a: Int, b: Int): Boolean =
      scores(a) < scores(b) || (scores(a) == scores(b) && docs(a) > docs(b))

    private def swap(a: Int, b: Int): Unit = {
      val d = docs(a); docs(a) = docs(b); docs(b) = d
      val s = scores(a); scores(a) = scores(b); scores(b) = s
    }

    private def siftUp(i0: Int): Unit = {
      var i = i0
      while (i > 0 && worse(i, (i - 1) >>> 1)) { swap(i, (i - 1) >>> 1); i = (i - 1) >>> 1 }
    }

    private def siftDown(i0: Int, m: Int): Unit = {
      var i = i0
      var more = true
      while (more) {
        val l = 2 * i + 1
        var w = i
        if (l < m && worse(l, w)) w = l
        if (l + 1 < m && worse(l + 1, w)) w = l + 1
        if (w == i) more = false else { swap(i, w); i = w }
      }
    }
  }
}

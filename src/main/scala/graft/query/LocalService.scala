package graft.query

import graft.core.{Bm25, Oracle}

/** Low-latency serving over a built index — the Spark analog of the
  * reference's resident engine + gRPC server (`qq_server.cc:61-132`,
  * `grpc_server_impl.h:209-460`): the reference answers queries at ms
  * latency because its working set lives in memory; a fresh Spark job per
  * query pays seconds of scheduling instead. This service keeps the HOT
  * working set (decoded posting lists for queried terms) resident on the
  * driver and evaluates conjunctive/phrase BM25 top-k with the same k-way
  * leapfrog + bounded heap as the reference. A cache MISS launches no Spark
  * job either: it reads only the matching rows of the snapshot's posting
  * and termstats column chunks on the driver ([[SnapshotReader]]).
  *
  * Results are identical to [[Searcher.search]] (same postings, same lossy
  * BM25, same tie rule); the distributed path remains the scale story for
  * cold terms / 100 TB indexes, this is the serving story for a hot query
  * mix. Cache is LRU-bounded by total cached postings.
  *
  * '''Snapshot semantics''' (the Lucene point-in-time searcher contract):
  * every resident structure — decoded postings, dfs, expansion/suggest
  * caches, norms, and the corpus stats N/avgdl that weight every score —
  * is pinned at CONSTRUCTION time. A streamed append or compaction is
  * therefore visible only to a NEW service: call [[reopened]] and swap
  * the instance (a volatile reference in the serving tier), exactly the
  * ES refresh / Lucene SearcherManager-reopen cycle. Serving from a stale
  * instance stays internally CONSISTENT on warm paths; only
  * delete-tombstones support in-place reload ([[reloadTombstones]] —
  * deletes don't change any resident statistic, they only mask docs).
  * Cache misses read the index files that were committed when the service
  * was constructed, never a segment appended later. Once compaction has
  * retired one of those files, a miss that needs it throws
  * [[LocalService.SnapshotRetiredException]]: serve from [[reopened]].
  */
final class LocalService(val ix: Searcher.LoadedIndex,
                         maxCachedPostings: Long = 50000000L,
                         maxFetchPostings: Long = 10000000L,
                         scanThreshold: Int = 1 << 16,
                         maxResidentNorms: Long = 1L << 28) {

  import LocalService.TermList

  /** The snapshot's posting/termstats files, pinned here at construction:
    * the loaded index's snapshot that was current then, whose footer cache
    * this service shares while the index still sees it. */
  private val reader = new SnapshotReader(ix)

  // LRU over decoded term lists. Access-order mutates on get, so every
  // cache touch is under this monitor — but only map bookkeeping is: the
  // file read, the decode, and the scoring loop all run outside it, so
  // concurrent clients serialize only on microsecond map ops. TermList
  // arrays are immutable; a reference obtained under the lock stays valid
  // after a concurrent eviction.
  private val cache = new java.util.LinkedHashMap[String, TermList](64, 0.75f, true)
  private var cachedPostings = 0L

  /** df per term from termstats (0 = absent), resolved once per term by a
    * driver-side read — the gate that runs BEFORE any posting fetch. */
  private val dfCache = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Decoded postings currently resident (diagnostic). */
  def residentPostings: Long = synchronized { cachedPostings }

  // Cache-behavior counters (term-granular), the measurement the
  // reference's FAST'20 analyses revolve around (its tools/ directory
  // studies workload locality precisely to predict these): a HIT is a
  // query term served from resident lists with zero Spark jobs, a MISS
  // triggers (or joins) a fetch, an EVICTION retires a resident list to
  // fit an incoming one. Monotonic over the service lifetime.
  private val hitCount = new java.util.concurrent.atomic.AtomicLong()
  private val missCount = new java.util.concurrent.atomic.AtomicLong()
  private val evictCount = new java.util.concurrent.atomic.AtomicLong()

  /** (hits, misses, evictions) since construction. hit rate =
    * hits / (hits + misses); qlog_repeat's repeat fraction upper-bounds it
    * for a cold start at one query per term. */
  def cacheStats: (Long, Long, Long) =
    (hitCount.get(), missCount.get(), evictCount.get())

  private def evictUntilFits(incoming: Long): Unit = {
    val it = cache.entrySet().iterator()
    while (cachedPostings + incoming > maxCachedPostings && it.hasNext) {
      val e = it.next()
      cachedPostings -= e.getValue.n
      it.remove()
      evictCount.incrementAndGet()
    }
  }

  private def dfOf(terms: Seq[String]): Map[String, Long] = {
    val unknown = terms.filterNot(dfCache.containsKey)
    if (unknown.nonEmpty)
      reader.dfs(unknown).foreach { case (t, df) => dfCache.put(t, java.lang.Long.valueOf(df)) }
    terms.map(t => t -> dfCache.get(t).longValue()).toMap
  }

  /** Fetch+decode posting lists for `terms` in one driver-side read,
    * returning the decoded lists AND inserting them into the cache
    * (best-effort — eviction may reclaim them immediately; the returned
    * references stay valid, so callers serve from the return value, never
    * re-read the cache). Callers must have df-gated `terms` (each under
    * `maxFetchPostings`). */
  private def fetchLists(terms: Seq[String],
                         withPositions: Boolean): Map[String, TermList] = {
    val lists = reader.lists(terms, withPositions)
    terms.foreach { t =>
      lists.get(t).foreach { tl =>
        synchronized {
          evictUntilFits(tl.n.toLong)
          val old = cache.put(t, tl)
          if (old != null) cachedPostings -= old.n
          cachedPostings += tl.n
        }
      }
    }
    lists
  }

  /** Fall back to the distributed engine — identical semantics/scores
    * (same postings, same lossy BM25, same tie rule), executor-side memory
    * instead of driver-side. */
  private def distributed(queryTerms: Seq[String], k: Int,
                          phrase: Boolean, conjunctive: Boolean = true,
                          excludeTerms: Seq[String] = Nil,
                          slop: Int = 0,
                          after: Option[(Double, Int)] = None,
                          boosts: Map[String, Double] = Map.empty,
                          phraseShifts: Option[Seq[Int]] = None): Seq[Oracle.Hit] =
    Searcher.search(ix, queryTerms, k, phrase, conjunctive = conjunctive,
        excludeTerms = excludeTerms, slop = slop, after = after, boosts = boosts,
        phraseShifts = phraseShifts)
      .collect().sortBy(_.rank).map(h => Oracle.Hit(h.docId, h.score)).toSeq

  /** In-flight fetches, keyed by term (suffix "#p" = with positions):
    * concurrent clients missing the same term share ONE read instead of a
    * thundering herd of identical ones. */
  private val inflight =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.CompletableFuture[Unit]]()

  /** Resolve term lists for `uniq`, serving from fetch RESULTS, never from
    * a cache re-read after a fetch: the cache is a bound on resident bytes,
    * not a correctness structure, so a concurrent client's insert evicting
    * our term between fetch and read must not force a retry (the round-2
    * retry loop degenerated to per-thread Spark-job storms under eviction
    * pressure). Misses first wait on another client's in-flight fetch of
    * the same term (single-flight); anything still unresolved after that
    * wait — not yet fetched, or fetched-then-evicted — is fetched directly
    * and served from the returned references. Returns null only when a term
    * has vanished from the postings (callers df-gate, so this is a fall
    * back-to-distributed signal, never an error). */
  private def resolveLists(uniq: Seq[String], phrase: Boolean): Seq[TermList] = {
    def ok(v: TermList): Boolean = v != null && (!phrase || v.hasPositions)
    def key(t: String): String = if (phrase) t + "#p" else t
    val cached: Map[String, TermList] =
      synchronized { uniq.map(t => t -> cache.get(t)) }.toMap
    val missing = uniq.filterNot(t => ok(cached(t)))
    hitCount.addAndGet(uniq.size - missing.size)
    missCount.addAndGet(missing.size)
    if (missing.isEmpty) return uniq.map(cached)
    // claim: terms we own (we created the in-flight entry) vs terms another
    // client is already fetching (we wait on its future)
    val owned = scala.collection.mutable.ArrayBuffer.empty[String]
    val waits = scala.collection.mutable.ArrayBuffer.empty[java.util.concurrent.CompletableFuture[Unit]]
    missing.foreach { t =>
      val fresh = new java.util.concurrent.CompletableFuture[Unit]()
      val cur = inflight.putIfAbsent(key(t), fresh)
      if (cur == null) owned += t else waits += cur
    }
    val fetched: Map[String, TermList] =
      if (owned.isEmpty) Map.empty
      else try fetchLists(owned.toSeq, phrase)
      finally owned.foreach { t =>
        val f = inflight.remove(key(t))
        if (f != null) f.complete(())
      }
    waits.foreach { f =>
      try f.get(120, java.util.concurrent.TimeUnit.SECONDS)
      catch { case _: Throwable => () } // fall through to the direct fetch
    }
    val after: Map[String, TermList] =
      synchronized { missing.map(t => t -> cache.get(t)) }.toMap
    def resolved(t: String): TermList =
      fetched.getOrElse(t, {
        val v = cached(t)
        if (ok(v)) v else { val w = after.getOrElse(t, null); if (ok(w)) w else null }
      })
    val still = uniq.filter(t => resolved(t) == null)
    val direct = if (still.isEmpty) Map.empty[String, TermList]
                 else fetchLists(still, phrase)
    val lists = uniq.map(t => if (resolved(t) != null) resolved(t) else direct.getOrElse(t, null))
    if (lists.forall(ok)) lists else null
  }

  /** Conjunctive (optionally phrase) BM25 top-k, evaluated on the driver
    * over the resident lists. Same semantics/tie rule as the distributed
    * path; identical scores (per-slot idf weights, lossy length cache).
    *
    * Safe for concurrent clients: cache map ops are the only serialized
    * section; fetch, decode and scoring run unlocked on immutable arrays.
    * A term whose df exceeds `maxFetchPostings` routes the query to the
    * distributed [[Searcher]] instead of materializing the list on the
    * driver — one hot term on a 100 TB corpus must never OOM the server. */
  def search(queryTerms: Seq[String], k: Int, phrase: Boolean = false,
             excludeTerms: Seq[String] = Nil, slop: Int = 0,
             after: Option[(Double, Int)] = None,
             boosts: Map[String, Double] = Map.empty,
             phraseShifts: Option[Seq[Int]] = None): Seq[Oracle.Hit] = {
    require(boosts.valuesIterator.forall(_ > 0.0), "boosts must be positive")
    require(phraseShifts.forall(sh => phrase && slop == 0 &&
        sh.size == queryTerms.size),
      "phraseShifts require an exact phrase and one shift per slot")
    if (queryTerms.isEmpty || k <= 0) return Nil
    val uniq = queryTerms.distinct
    // NOT terms (Lucene MUST_NOT; same semantics as Searcher.search's
    // excludeTerms): required∧excluded is unsatisfiable; absent excluded
    // terms drop out on the df gate; a hot excluded list over the fetch
    // budget routes the whole query to the distributed engine.
    val exUniq = excludeTerms.distinct
    if (exUniq.exists(uniq.contains)) return Nil
    val dfs = dfOf(uniq)
    if (dfs.valuesIterator.exists(_ == 0L)) return Nil // P2 guard, zero jobs on a warm dfCache
    val exPresent = { val ed = dfOf(exUniq); exUniq.filter(t => ed(t) > 0L) }
    if (!normsResident || deletesOverBudget ||
        dfs.valuesIterator.exists(_ > maxFetchPostings) ||
        exPresent.exists(t => dfCache.get(t).longValue() > maxFetchPostings))
      return distributed(queryTerms, k, phrase, excludeTerms = exPresent,
        slop = slop, after = after, boosts = boosts, phraseShifts = phraseShifts)

    val lists = resolveLists(uniq, phrase)
    if (lists == null)
      return distributed(queryTerms, k, phrase, excludeTerms = exPresent,
        slop = slop, after = after, boosts = boosts, phraseShifts = phraseShifts)
    val exLists: IndexedSeq[TermList] =
      if (exPresent.isEmpty) IndexedSeq.empty
      else {
        val r = resolveLists(exPresent, phrase = false)
        if (r == null)
          return distributed(queryTerms, k, phrase, excludeTerms = exPresent,
            slop = slop, after = after, boosts = boosts,
            phraseShifts = phraseShifts)
        r.toIndexedSeq
      }

    // delete tombstones ride the exclusion mechanism: one more sorted-id
    // list for scanRange's binary-search membership test
    val exAll: IndexedSeq[TermList] =
      if (deletedDocs.isEmpty) exLists
      else exLists :+ TermList(deletedDocs, null, null)

    val byTerm = uniq.zip(lists).toMap
    val slots = queryTerms.map(byTerm).toIndexedSeq
    // slot weight = idf·boost, the same driver-side double as the other
    // paths — boosted scores stay bitwise-identical engine-wide
    val idfs = queryTerms.map { t =>
      Bm25.idf(ix.nDocs, byTerm(t).n.toLong) * boosts.getOrElse(t, 1.0)
    }.toArray
    val lenBytes = docLenBytes
    // parallel range scan for heavy queries: the leapfrog cost is bounded
    // by the SMALLEST list (every candidate aligns on it), so when that
    // list is large — a hot∧hot conjunction or a full-corpus phrase, the
    // serving tail that grows linearly with corpus size — the docId domain
    // is split at equal-count boundaries of the smallest list and each
    // range scanned on its own core with its own bounded heap. Per-doc
    // scores are range-independent (slot-ordered FP sum), each range heap
    // keeps its top-k by the global (score desc, docId asc) total order,
    // and the merge takes the first k of the union by the same order —
    // bitwise-identical results to the sequential scan (asserted in
    // EngineSpec). Cheap queries stay on the caller thread: below the
    // threshold the split overhead exceeds the scan.
    val (aScore, aDoc) = after.getOrElse((Double.PositiveInfinity, -1))
    val minN = slots.map(_.n).min
    val w = LocalService.scanParallelism
    if (minN < math.max(scanThreshold, w) || w < 2)
      scanRange(slots, idfs, lenBytes, k, phrase, 0, Int.MaxValue, exAll, slop,
        aScore, aDoc, phraseShifts)
    else {
      val small = slots.minBy(_.n)
      val bounds = (1 until w).map(i => small.docIds((small.n.toLong * i / w).toInt))
      val ranges = (0 +: bounds).zip(bounds :+ Int.MaxValue)
      val tasks = ranges.map { case (lo, hi) =>
        LocalService.scanPool.submit(new java.util.concurrent.Callable[Seq[Oracle.Hit]] {
          def call(): Seq[Oracle.Hit] =
            scanRange(slots, idfs, lenBytes, k, phrase, lo, hi, exAll, slop,
              aScore, aDoc, phraseShifts)
        })
      }
      tasks.flatMap(_.get()).sortBy(h => (-h.score, h.docId)).take(k)
    }
  }

  /** Deep paging on the serving path ("search_after"): the next `k` hits
    * strictly after the `(afterScore, afterDocId)` cursor in the global
    * (score desc, docId asc) order. Scores are bitwise-deterministic, so
    * the cursor predicate is exact; page N costs the same leapfrog scan as
    * page 1 (the cursor filters at heap-insert time — no offset
    * materialization). */
  def searchAfter(queryTerms: Seq[String], k: Int,
                  afterScore: Double, afterDocId: Int,
                  phrase: Boolean = false): Seq[Oracle.Hit] =
    search(queryTerms, k, phrase, after = Some((afterScore, afterDocId)))

  /** Lucene-style `explain`: per-term score decomposition — (term, tf, df,
    * idf·boost, tfNorm, contribution) — for ONE document under the
    * conjunctive query. The contributions are the very doubles [[search]]
    * sums for this doc (same idf source — resident list length — same lossy
    * tfNorm, same slot order), so Σ contribution is bitwise-equal to the
    * served score (asserted in ServingSpec). Empty when the doc is deleted,
    * misses any query term, or any term is absent from the index
    * (conjunctive semantics). The reference returns only doc_freqs with a
    * result (`types.h:341-345`); this completes the per-term breakdown its
    * users would reach for first when a ranking surprises them.
    *
    * Scale: cache-resident terms answer with a binary search; a term over
    * the fetch budget never materializes its list — tf comes from a
    * block-range-pruned driver-side decode (the [[Searcher]] J3 skip
    * analog), df from termstats. */
  def explain(queryTerms: Seq[String], docId: Int,
              boosts: Map[String, Double] = Map.empty): Seq[LocalService.Explanation] = {
    val uniq = queryTerms.distinct
    if (uniq.isEmpty || docId < 0 || isDeleted(docId)) return Nil
    val dfs = dfOf(uniq)
    if (dfs.valuesIterator.exists(_ == 0L)) return Nil
    if (docId >= idSpace) return Nil
    val lb =
      if (normsResident) docLenBytes(docId)
      else {
        // over-budget index: point-probe the one doc's norm (row-group
        // pruned on docId) instead of materializing the corpus array
        import org.apache.spark.sql.functions.col
        val r = ix.doclen.filter(col("docId") === docId)
          .select("lenByte").collect()
        if (r.isEmpty) return Nil
        r(0).getInt(0)
      }
    // resident lists for budget-fitting terms (one coalesced fetch); heavy
    // terms resolve per-doc tf via pruned block decode instead
    val light = uniq.filter(t => dfs(t) <= maxFetchPostings)
    val lists = if (light.isEmpty) Seq.empty else resolveLists(light, phrase = false)
    if (light.nonEmpty && lists == null) return Nil
    val byTerm = light.zip(lists).toMap
    val rows = uniq.map { t =>
      byTerm.get(t) match {
        case Some(tl) =>
          val i = java.util.Arrays.binarySearch(tl.docIds, docId)
          if (i < 0) return Nil // conjunctive: doc misses this term
          (t, tl.tfs(i).toLong, tl.n.toLong)
        case None =>
          val tf = tfViaBlocks(t, docId)
          if (tf == 0L) return Nil
          (t, tf, dfs(t))
      }
    }
    rows.map { case (t, tf, df) =>
      val idf = Bm25.idf(ix.nDocs, df) * boosts.getOrElse(t, 1.0)
      val tfn = Bm25.tfNormLossy(tf, lb, ix.lossyCache)
      LocalService.Explanation(t, tf, df, idf, tfn, idf * tfn)
    }
  }

  /** tf of (term, docId) by decoding ONLY the blocks whose docId range
    * covers the doc — the J3 skip-pointer analog as a point lookup; never
    * materializes the term's full list (safe for hot terms over the fetch
    * budget). 0 when the doc does not contain the term. */
  private def tfViaBlocks(term: String, docId: Int): Long = reader.tf(term, docId)

  /** One bounded-heap leapfrog pass over docIds in `[fromDoc, untilDoc)` —
    * the k-way max-pivot intersection of the reference
    * (`query_processing.h:710-852`), lossy BM25, inline bounded heap:
    * candidates are never materialized (hot single-term queries score
    * every posting; an intermediate buffer would allocate df objects). */
  private def scanRange(slots: IndexedSeq[TermList], idfs: Array[Double],
                        lenBytes: Array[Int], k: Int, phrase: Boolean,
                        fromDoc: Int, untilDoc: Int,
                        exSlots: IndexedSeq[TermList] = IndexedSeq.empty,
                        slop: Int = 0,
                        afterScore: Double = Double.PositiveInfinity,
                        afterDocId: Int = -1,
                        phraseShifts: Option[Seq[Int]] = None): Seq[Oracle.Hit] = {
    val shiftsArr: Array[Int] = phraseShifts.map(_.toArray).orNull
    val nL = slots.size
    val cursors = new Array[Int](nL)
    // exclusion membership: one binary search per EXCLUSION LIST per aligned
    // candidate — candidates are bounded by the smallest positive list, so
    // a hot excluded term costs O(matched × log df), never a full merge
    def excluded(docId: Int): Boolean = {
      var e = 0
      while (e < exSlots.size) {
        val arr = exSlots(e).docIds
        var lo = 0
        var hi = arr.length
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (arr(mid) < docId) lo = mid + 1 else hi = mid
        }
        if (lo < arr.length && arr(lo) == docId) return true
        e += 1
      }
      false
    }
    var j0 = 0
    while (j0 < nL) { // first posting with docId >= fromDoc, per list
      val arr = slots(j0).docIds
      var lo = 0
      var hi = slots(j0).n
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (arr(mid) < fromDoc) lo = mid + 1 else hi = mid
      }
      cursors(j0) = lo
      j0 += 1
    }
    val posBuf = new Array[Array[Int]](nL)      // reused per candidate doc
    val posCursors = new Array[Int](nL)         // phraseAdjacent scratch
    val heap = scala.collection.mutable.PriorityQueue.empty[Oracle.Hit](
      Ordering.by[Oracle.Hit, (Double, Int)](h => (-h.score, h.docId))) // head = worst kept
    var done = false
    while (!done) {
      var maxDoc = -1
      var aligned = true
      var i = 0
      while (i < nL && !done) {
        if (cursors(i) >= slots(i).n) done = true
        else {
          val d = slots(i).docIds(cursors(i))
          if (maxDoc == -1) maxDoc = d
          else if (d != maxDoc) { aligned = false; if (d > maxDoc) maxDoc = d }
        }
        i += 1
      }
      if (!done && maxDoc >= untilDoc) done = true // range end: no candidate below untilDoc remains
      if (!done) {
        if (aligned) {
          val ok = !excluded(maxDoc) && (!phrase || {
            var j = 0
            while (j < nL) { posBuf(j) = slots(j).positions(cursors(j)); j += 1 }
            if (shiftsArr != null)
              LocalService.phraseAtShifts(posBuf, posCursors, shiftsArr)
            else if (slop == 0) LocalService.phraseAdjacent(posBuf, posCursors)
            else graft.core.Oracle.proximityMatch(
              scala.collection.immutable.ArraySeq.unsafeWrapArray(posBuf), slop)
          })
          if (ok) {
            val lb = lenBytes(maxDoc)
            var s = 0.0
            var j = 0
            while (j < nL) {
              s += idfs(j) * Bm25.tfNormLossy(slots(j).tfs(cursors(j)).toLong, lb, ix.lossyCache)
              j += 1
            }
            // search_after cursor: only hits strictly after
            // (afterScore, afterDocId) in (score desc, docId asc) order
            // compete (default cursor admits everything)
            val inPage = s < afterScore || (s == afterScore && maxDoc > afterDocId)
            // bounded-heap insert with the deterministic tie rule
            // (`query_processing.h:914-932`): candidates arrive in
            // ascending docId, so equal-score boundary keeps lowest docId
            if (inPage) {
              if (heap.size < k) heap.enqueue(Oracle.Hit(maxDoc, s))
              else {
                val worst = heap.head
                if (s > worst.score) { heap.dequeue(); heap.enqueue(Oracle.Hit(maxDoc, s)) }
              }
            }
          }
          var j = 0
          while (j < nL) { cursors(j) += 1; j += 1 }
        } else {
          var j = 0
          while (j < nL) {
            // gallop forward to maxDoc
            val arr = slots(j).docIds
            var c = cursors(j)
            var step = 1
            while (c + step < slots(j).n && arr(c + step) < maxDoc) { c += step; step <<= 1 }
            var hi = math.min(slots(j).n, c + step + 1)
            var lo = c
            while (lo < hi) {
              val mid = (lo + hi) >>> 1
              if (arr(mid) < maxDoc) lo = mid + 1 else hi = mid
            }
            cursors(j) = lo
            j += 1
          }
        }
      }
    }
    heap.toSeq.sortBy(h => (-h.score, h.docId))
  }

  /** Cached dictionary expansions — one metadata probe per cold
    * (prefix, cap); the dictionary is immutable for a loaded index. */
  private val prefixCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), Seq[String]]()

  /** Per-thread dense score accumulator for the disjunctive serving path
    * (one double per doc). A HashMap accumulator here boxes ~Σdf entries
    * and sorts the full candidate set on EVERY call — under 16 concurrent
    * clients that allocation storm was a multi-second p99 tail. The dense
    * array is only used when it is small (≤ [[LocalService.maxDenseDocs]]
    * docs, ≈128 MB/thread worst case); larger indexes keep the boxed path
    * — but at that scale the df gate routes hot prefixes to the
    * distributed engine anyway. */
  private val scoreBuf = new ThreadLocal[Array[Double]]() {
    override def initialValue(): Array[Double] = new Array[Double](idSpace)
  }

  // ---- delete tombstones (graft.index.Tombstones), resident ----
  // Loaded once (or on reloadTombstones) as a sorted int array: exclusion
  // costs one binary search per aligned candidate on the conjunctive path
  // and one subrange zero-pass on the dense disjunctive path. A tombstone
  // set over the fetch budget is NOT collected — the flag routes every
  // query to the distributed Searcher, which applies tombstones as an
  // anti-join (the 100 TB-safe path; the driver never materializes it).
  @volatile private var deletedState: (Array[Int], Boolean) = null
  private def loadTombstones(): (Array[Int], Boolean) = {
    if (graft.index.Tombstones.countUpperBound(ix.indexDir) > maxFetchPostings)
      return (Array.emptyIntArray, true)
    graft.index.Tombstones.read(ix.spark, ix.indexDir) match {
      case None => (Array.emptyIntArray, false)
      case Some(df) =>
        import ix.spark.implicits._
        val ids = df.as[Int].collect()
        java.util.Arrays.sort(ids)
        (ids, false)
    }
  }
  private def deletedDocs: Array[Int] = {
    var s = deletedState
    if (s == null) { s = loadTombstones(); deletedState = s }
    s._1
  }
  private def deletesOverBudget: Boolean = {
    var s = deletedState
    if (s == null) { s = loadTombstones(); deletedState = s }
    s._2
  }
  /** Re-read the tombstone generations (call after a delete/compaction —
    * the resident set is a snapshot, like every segment-file reader). */
  def reloadTombstones(): Unit = deletedState = loadTombstones()

  /** A FRESH service over the index's CURRENT committed state — the
    * searcher-reopen analog (see the class doc's snapshot contract). The
    * new instance re-reads the segment manifests, corpus stats, and every
    * stage (incl. per-segment fuzzy/superblocks), sharing no resident
    * state with this one; callers swap atomically and let the old
    * instance drain. */
  def reopened(): LocalService =
    // deliberately drops any asOfSeg pin: reopen means "the current
    // committed state" (the SearcherManager contract) — a service that
    // wants to stay time-travel-pinned simply keeps the old instance
    new LocalService(Searcher.load(ix.spark, ix.indexDir),
      maxCachedPostings, maxFetchPostings, scanThreshold, maxResidentNorms)

  private def isDeleted(docId: Int): Boolean = {
    val arr = deletedDocs
    if (arr.length == 0) return false
    var lo = 0
    var hi = arr.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (arr(mid) < docId) lo = mid + 1 else hi = mid
    }
    lo < arr.length && arr(lo) == docId
  }

  /** Prefix BM25 top-k on the serving path: expand against the dictionary
    * ([[Searcher.expandPrefix]] — pushed StartsWith probe, deterministic
    * df-desc cap), then score the expansion disjunctively over the resident
    * lists, accumulating per doc in expansion-term order (the same FP order
    * as [[graft.core.Oracle.searchOr]]). Any expanded term over the fetch
    * budget routes the whole query to the distributed engine — same
    * results, nothing hot materialized on the driver. */
  def searchPrefix(prefix: String, k: Int, maxExpansion: Int = 64): Seq[Oracle.Hit] = {
    if (prefix.isEmpty || k <= 0) return Nil
    val terms = prefixCache.computeIfAbsent((prefix, maxExpansion),
      _ => Searcher.expandPrefix(ix, prefix, maxExpansion))
    serveExpansion(terms, k)
  }

  /** Cached fuzzy expansions, keyed by (term, maxDist, cap) — the serving
    * analog of [[searchPrefix]]'s expansion cache. */
  private val fuzzyCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Int, Int), Seq[String]]()

  /** Fuzzy BM25 top-k on the serving path: one dictionary probe per cold
    * (term, maxDist, cap) ([[Searcher.expandFuzzy]]: length-banded
    * threshold levenshtein, deterministic df-desc cap), then the same
    * disjunctive resident scoring as [[searchPrefix]]. */
  def searchFuzzy(term: String, k: Int, maxDist: Int = 1,
                  maxExpansion: Int = 16): Seq[Oracle.Hit] = {
    if (term.isEmpty || k <= 0) return Nil
    val terms = fuzzyCache.computeIfAbsent((term, maxDist, maxExpansion),
      _ => Searcher.expandFuzzy(ix, term, maxDist, maxExpansion))
    serveExpansion(terms, k)
  }

  /** Cached wildcard expansions, keyed by (pattern, cap). */
  private val wildcardCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), Seq[String]]()

  /** Wildcard BM25 top-k on the serving path: one dictionary probe per cold
    * (pattern, cap) ([[Searcher.expandWildcard]]: prefix-pushed LIKE,
    * deterministic df-desc cap), then the same disjunctive resident
    * scoring as [[searchPrefix]]. */
  def searchWildcard(pattern: String, k: Int,
                     maxExpansion: Int = 64): Seq[Oracle.Hit] = {
    if (pattern.isEmpty || k <= 0) return Nil
    val terms = wildcardCache.computeIfAbsent((pattern, maxExpansion),
      _ => Searcher.expandWildcard(ix, pattern, maxExpansion))
    serveExpansion(terms, k)
  }

  /** Cached spell suggestions, keyed by (term, maxDist, cap). */
  private val suggestCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Int, Int), Seq[(String, Int, Long)]]()

  /** "Did you mean" on the serving path: one dictionary probe per cold
    * (term, maxDist, cap) ([[Searcher.suggest]]: distance-first ranking),
    * then resident. Pure metadata — no posting fetch. */
  def suggest(term: String, maxDist: Int = 2,
              maxSuggestions: Int = 3): Seq[(String, Int, Long)] =
    suggestCache.computeIfAbsent((term, maxDist, maxSuggestions),
      _ => Searcher.suggest(ix, term, maxDist, maxSuggestions))

  /** Cached regex expansions, keyed by (pattern, cap). */
  private val regexCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), Seq[String]]()

  /** Regex BM25 top-k on the serving path: one dictionary probe per cold
    * (pattern, cap) ([[Searcher.expandRegex]]: literal-prefix-pushed
    * anchored RLIKE, deterministic df-desc cap), then the same disjunctive
    * resident scoring as [[searchPrefix]]. */
  def searchRegex(pattern: String, k: Int,
                  maxExpansion: Int = 64): Seq[Oracle.Hit] = {
    if (pattern.isEmpty || k <= 0) return Nil
    val terms = regexCache.computeIfAbsent((pattern, maxExpansion),
      _ => Searcher.expandRegex(ix, pattern, maxExpansion))
    serveExpansion(terms, k)
  }

  /** Disjunctive scoring of a resolved dictionary expansion over resident
    * lists, df-gated like every serving entry point. */
  private def serveExpansion(terms: Seq[String], k: Int): Seq[Oracle.Hit] = {
    if (terms.isEmpty) return Nil
    val dfs = dfOf(terms)
    if (!normsResident || deletesOverBudget ||
        dfs.valuesIterator.exists(_ > maxFetchPostings))
      return distributed(terms, k, phrase = false, conjunctive = false)
    val lists = resolveLists(terms, phrase = false)
    if (lists == null) return distributed(terms, k, phrase = false, conjunctive = false)

    val lenBytes = docLenBytes
    if (idSpace <= LocalService.maxDenseDocs) scoreDense(lists, lenBytes, k)
    else scoreBoxed(lists, lenBytes, k)
  }

  /** Dense-array disjunctive scoring: accumulate in expansion-term order
    * (the same FP sequence as [[Oracle.searchOr]]'s slot-outer loop), then
    * a single ascending-docId scan feeds the bounded heap — identical tie
    * rule to [[Oracle.topK]]. BM25 parts are strictly positive, so
    * score > 0 ⇔ matched; the scan resets touched slots, leaving the
    * thread-local buffer clean for the next call.
    *
    * Heavy expansions (Σdf over the threshold — a hot prefix like `ret*`
    * unions several full-corpus lists) split the docId domain at
    * equal-count boundaries of the LARGEST list: each range accumulates
    * and scans a DISJOINT segment of the shared dense array on its own
    * core (no two workers touch the same doc slot — race-free without
    * locks), keeping the per-doc list-order FP sequence of the sequential
    * loop, so the split never changes a bit of any score. */
  private def scoreDense(lists: Seq[TermList], lenBytes: Array[Int],
                         k: Int): Seq[Oracle.Hit] = {
    val scores = scoreBuf.get()
    val idfs = lists.map(tl => Bm25.idf(ix.nDocs, tl.n.toLong)).toArray
    val w = LocalService.scanParallelism
    val total = lists.foldLeft(0L)(_ + _.n)
    try {
      if (total < math.max(scanThreshold.toLong, w.toLong) || w < 2)
        denseRange(lists, idfs, lenBytes, scores, k, 0, scores.length)
      else {
        val big = lists.maxBy(_.n)
        val bounds = (1 until w).map(i => big.docIds((big.n.toLong * i / w).toInt))
        val ranges = (0 +: bounds).zip(bounds :+ scores.length)
        val tasks = ranges.map { case (lo, hi) =>
          LocalService.scanPool.submit(new java.util.concurrent.Callable[Seq[Oracle.Hit]] {
            def call(): Seq[Oracle.Hit] = denseRange(lists, idfs, lenBytes, scores, k, lo, hi)
          })
        }
        // every task must FINISH (not just fail fast) before any cleanup:
        // a worker still writing its segment during a reset would leave
        // residue for the next query on this thread's buffer
        val done = tasks.map(t => scala.util.Try(t.get()))
        done.collectFirst { case scala.util.Failure(e) => e } match {
          case Some(e) => throw e // outer catch resets the (quiescent) buffer
          case None => done.flatMap(_.get).sortBy(h => (-h.score, h.docId)).take(k)
        }
      }
    } catch {
      case t: Throwable => java.util.Arrays.fill(scores, 0.0); throw t
    }
  }

  /** One disjunctive accumulate+scan pass over docIds in `[fromDoc,
    * untilDoc)` — writes only that segment of `scores` and resets the
    * slots it touched. */
  private def denseRange(lists: Seq[TermList], idfs: Array[Double],
                         lenBytes: Array[Int], scores: Array[Double], k: Int,
                         fromDoc: Int, untilDoc: Int): Seq[Oracle.Hit] = {
    var li = 0
    lists.foreach { tl =>
      val idf = idfs(li)
      val arr = tl.docIds
      var i = { // first posting with docId >= fromDoc
        var lo = 0
        var hi = tl.n
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (arr(mid) < fromDoc) lo = mid + 1 else hi = mid
        }
        lo
      }
      while (i < tl.n && arr(i) < untilDoc) {
        val d = arr(i)
        scores(d) += idf * Bm25.tfNormLossy(tl.tfs(i).toLong, lenBytes(d), ix.lossyCache)
        i += 1
      }
      li += 1
    }
    // tombstoned docs must not rank: zero their accumulated slots in this
    // range before the emission scan (one walk over the deleted subrange —
    // the emission's `s > 0.0` check then skips them for free)
    val del = deletedDocs
    if (del.length > 0) {
      var lo = 0
      var hi = del.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (del(mid) < fromDoc) lo = mid + 1 else hi = mid
      }
      while (lo < del.length && del(lo) < untilDoc) {
        if (del(lo) < scores.length) scores(del(lo)) = 0.0
        lo += 1
      }
    }
    val heap = scala.collection.mutable.PriorityQueue.empty[Oracle.Hit](
      Ordering.by[Oracle.Hit, (Double, Int)](h => (-h.score, h.docId)))
    var d = fromDoc
    val end = math.min(untilDoc, scores.length)
    while (d < end) {
      val s = scores(d)
      if (s > 0.0) {
        scores(d) = 0.0
        // ascending-docId feed: equal-score boundary keeps lowest docId
        if (heap.size < k) heap.enqueue(Oracle.Hit(d, s))
        else if (s > heap.head.score) { heap.dequeue(); heap.enqueue(Oracle.Hit(d, s)) }
      }
      d += 1
    }
    heap.toSeq.sortBy(h => (-h.score, h.docId))
  }

  /** Boxed-map fallback for indexes too large for a per-thread dense
    * buffer; candidate set is still df-gated by the caller. */
  private def scoreBoxed(lists: Seq[TermList], lenBytes: Array[Int],
                         k: Int): Seq[Oracle.Hit] = {
    val acc = scala.collection.mutable.HashMap.empty[Int, Double]
    lists.foreach { tl =>
      val idf = Bm25.idf(ix.nDocs, tl.n.toLong)
      var i = 0
      while (i < tl.n) {
        val d = tl.docIds(i)
        val part = idf * Bm25.tfNormLossy(tl.tfs(i).toLong, lenBytes(d), ix.lossyCache)
        acc.update(d, acc.getOrElse(d, 0.0) + part)
        i += 1
      }
    }
    // topK's boundary tie rule assumes candidates in ascending docId;
    // tombstoned docs are dropped before ranking
    Oracle.topK(acc.iterator
      .filter { case (d, _) => !isDeleted(d) }
      .map { case (d, s) => Oracle.Hit(d, s) }
      .toSeq.sortBy(_.docId), k)
  }

  // LRU over fetched doc bodies for the snippet path (bounded by total
  // chars — body sizes vary by orders of magnitude, a count bound is not a
  // memory bound). Same discipline as the posting cache: map ops under the
  // monitor, parquet probe and highlighting outside it.
  private val bodyCache = new java.util.LinkedHashMap[Int, String](64, 0.75f, true)
  private var cachedBodyChars = 0L
  private val maxCachedBodyChars = 64L << 20

  private def bodiesOf(docIds: Seq[Int]): Map[Int, String] = {
    val cached = synchronized { docIds.flatMap(d => Option(bodyCache.get(d)).map(d -> _)) }.toMap
    val missing = docIds.filterNot(cached.contains)
    if (missing.isEmpty) return cached
    val spark = ix.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // one pushed-filter parquet probe, k rows to the driver — the serving
    // analog of the reference's per-hit doc-store reads
    // (`vacuum_engine.h:243-255`); row-group stats prune on docId
    val rows = ix.docstore.filter(col("docId").isin(missing: _*))
      .select("docId", "content").as[(Int, String)].collect()
    synchronized {
      rows.foreach { case (d, body) =>
        val it = bodyCache.entrySet().iterator()
        while (cachedBodyChars + body.length > maxCachedBodyChars && it.hasNext) {
          cachedBodyChars -= it.next().getValue.length; it.remove()
        }
        val old = bodyCache.put(d, body)
        if (old != null) cachedBodyChars -= old.length
        cachedBodyChars += body.length
      }
    }
    cached ++ rows
  }

  /** Nested boolean query on the serving path (`(a AND b) OR (c AND NOT
    * d)`): same fold / clause-aware scoring contract as
    * [[BoolQuery.search]] via the SHARED evaluator — results bitwise-
    * identical to the distributed path (asserted in EngineSpec). Candidates
    * are the merged union of the POSITIVE leaves' resident lists (the
    * pure-negative fold guarantees every matching doc carries a positive
    * leaf); negative-leaf presence is one binary search per candidate. Any
    * leaf over the fetch budget routes to the distributed engine. */
  def searchBool(query: String, k: Int): Seq[Oracle.Hit] =
    searchBool(BoolQuery.parse(query), k)

  def searchBool(root0: BoolQuery.Node, k: Int): Seq[Oracle.Hit] = {
    if (k <= 0) return Nil
    val (pos0, neg0) = BoolQuery.leafTerms(root0)
    val all0 = (pos0 ++ neg0).distinct
    if (all0.isEmpty) return Nil
    val dfs = dfOf(all0)
    val root = BoolQuery.foldForEval(root0, t => dfs.getOrElse(t, 0L) > 0L)
      .getOrElse(return Nil)
    val (posTerms, negTerms) = BoolQuery.leafTerms(root)
    val allTerms = (posTerms ++ negTerms).distinct
    def viaDistributed(): Seq[Oracle.Hit] =
      BoolQuery.search(ix, root, k).collect().sortBy(_.rank)
        .map(h => Oracle.Hit(h.docId, h.score)).toSeq
    if (!normsResident || deletesOverBudget ||
        allTerms.exists(t => dfs(t) > maxFetchPostings))
      return viaDistributed()
    val lists = resolveLists(allTerms, phrase = false)
    if (lists == null) return viaDistributed()
    val byTerm = allTerms.zip(lists).toMap
    val idfOf = allTerms.map(t => t -> Bm25.idf(ix.nDocs, byTerm(t).n.toLong)).toMap
    val lenBytes = docLenBytes
    // lists hoisted to primitive arrays (an IndexedSeq apply per posting is
    // a virtual call in the hottest loop of the serving path)
    val nP = posTerms.size
    val nNeg = negTerms.size
    val posDocs = posTerms.map(t => byTerm(t).docIds).toArray
    val posTfs = posTerms.map(t => byTerm(t).tfs).toArray
    val posNs = posTerms.map(t => byTerm(t).n).toArray
    val negDocs = negTerms.map(t => byTerm(t).docIds).toArray
    val negNs = negTerms.map(t => byTerm(t).n).toArray
    val posIdfs = posTerms.map(idfOf).toArray
    val negIdx = negTerms.zipWithIndex.toMap
    val posIdx = posTerms.zipWithIndex.toMap

    /** Merged union scan over docIds in `[fromDoc, untilDoc)` — per-doc
      * scoring is independent, so a range split never changes a bit of any
      * score. The tree runs COMPILED ([[BoolQuery.compile]]): the recursive
      * evaluator's per-doc Seq/tuple allocation and string hashing owned a
      * ~20x serving tail on this loop. */
    def scanRange(fromDoc: Int, untilDoc: Int): Seq[Oracle.Hit] = {
      val prog = BoolQuery.compile(root, posIdx, negIdx) // per-range scratch
      val posAligned = new Array[Boolean](nP)
      val partials = new Array[Double](nP)
      val negPres = new Array[Boolean](nNeg)
      val cursors = new Array[Int](nP)
      val negCursors = new Array[Int](nNeg)
      def seek(arr: Array[Int], n: Int, target: Int): Int = {
        var lo = 0
        var hi = n
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (arr(mid) < target) lo = mid + 1 else hi = mid
        }
        lo
      }
      var i = 0
      while (i < nP) { cursors(i) = seek(posDocs(i), posNs(i), fromDoc); i += 1 }
      var j = 0
      while (j < nNeg) { negCursors(j) = seek(negDocs(j), negNs(j), fromDoc); j += 1 }
      val heap = scala.collection.mutable.PriorityQueue.empty[Oracle.Hit](
        Ordering.by[Oracle.Hit, (Double, Int)](h => (-h.score, h.docId)))
      var done = false
      while (!done) {
        // merged union scan over the positive lists (ascending docId)
        var d = Int.MaxValue
        i = 0
        while (i < nP) {
          if (cursors(i) < posNs(i)) {
            val v = posDocs(i)(cursors(i))
            if (v < d) d = v
          }
          i += 1
        }
        if (d == Int.MaxValue || d >= untilDoc) done = true
        else {
          if (!isDeleted(d)) {
            val lb = lenBytes(d)
            i = 0
            while (i < nP) {
              val al = cursors(i) < posNs(i) && posDocs(i)(cursors(i)) == d
              posAligned(i) = al
              if (al) partials(i) = posIdfs(i) *
                Bm25.tfNormLossy(posTfs(i)(cursors(i)).toLong, lb, ix.lossyCache)
              i += 1
            }
            j = 0
            while (j < nNeg) { // gallop the neg cursor to the first id >= d
              val arr = negDocs(j)
              val n = negNs(j)
              var c = negCursors(j)
              var step = 1
              while (c + step < n && arr(c + step) < d) { c += step; step <<= 1 }
              var hi = math.min(n, c + step + 1)
              var lo = c
              while (lo < hi) {
                val mid = (lo + hi) >>> 1
                if (arr(mid) < d) lo = mid + 1 else hi = mid
              }
              negCursors(j) = lo
              negPres(j) = lo < n && arr(lo) == d
              j += 1
            }
            if (prog.eval(posAligned, partials, negPres)) {
              val score = prog.lastScore
              if (heap.size < k) heap.enqueue(Oracle.Hit(d, score))
              else if (score > heap.head.score) {
                heap.dequeue(); heap.enqueue(Oracle.Hit(d, score))
              }
            }
          }
          i = 0
          while (i < nP) { // advance every aligned cursor
            if (cursors(i) < posNs(i) && posDocs(i)(cursors(i)) == d)
              cursors(i) += 1
            i += 1
          }
        }
      }
      heap.toSeq.sortBy(h => (-h.score, h.docId))
    }

    // heavy unions split the docId domain at equal-count boundaries of the
    // largest positive list, one disjoint range per core (same split rule
    // as scoreDense; per-doc independence makes the merge exact)
    val w = LocalService.scanParallelism
    val total = posNs.foldLeft(0L)(_ + _.toLong)
    if (total < math.max(scanThreshold.toLong, w.toLong) || w < 2)
      scanRange(0, Int.MaxValue)
    else {
      val big = posNs.indices.maxBy(posNs)
      val bounds = (1 until w).map(i => posDocs(big)((posNs(big).toLong * i / w).toInt))
      val ranges = (0 +: bounds).zip(bounds :+ Int.MaxValue)
      val tasks = ranges.map { case (lo, hi) =>
        LocalService.scanPool.submit(new java.util.concurrent.Callable[Seq[Oracle.Hit]] {
          def call(): Seq[Oracle.Hit] = scanRange(lo, hi)
        })
      }
      tasks.flatMap(_.get()).sortBy(h => (-h.score, h.docId)).take(k)
    }
  }

  /** Search reply WITH highlighted snippets — the reference's serving shape
    * (its gRPC `SearchReply` carries per-hit snippets; `qq_server.cc:61-132`
    * scores, then `SimpleHighlighter` reads each hit's body from the doc
    * store, `vacuum_engine.h:243-255`). Hits are [[search]]'s exact result;
    * each hit's snippet is [[Highlighter.snippet]] over its stored body
    * (identical passages to the batch A6 path). PHRASE hits highlight only
    * the offsets at matching appearances — the reference's
    * `OffsetsForHighliting` routes phrases through `FilterOffsetByPosition`
    * (`qq_mem_engine.h:358-362`, `query_processing.h:446-492`) — via
    * [[Highlighter.phraseOffsets]] over the fetched body (the body is
    * already in hand for the snippet, so re-deriving the k hits' offsets
    * from it costs one tokenize of k docs, not an offsets stream in the
    * serving cache). Bodies come from one k-row pushed-filter probe on a
    * cold path, the LRU body cache when warm. */
  def searchWithSnippets(queryTerms: Seq[String], k: Int, phrase: Boolean = false,
                         maxPassages: Int = 3): Seq[(Oracle.Hit, String)] = {
    val hits = search(queryTerms, k, phrase)
    if (hits.isEmpty) return Nil
    val bodies = bodiesOf(hits.map(_.docId))
    val qset = queryTerms.toSet
    hits.map { h =>
      h -> bodies.get(h.docId).map { body =>
        if (phrase)
          Highlighter.snippetFromOffsets(body,
            Highlighter.phraseOffsets(body, queryTerms), maxPassages)
        else Highlighter.snippet(body, qset, maxPassages)
      }.getOrElse("")
    }
  }

  /** Per-doc lossy length bytes, resident (one int per doc — 4 MB per
    * million docs; the reference keeps the same store in memory,
    * `doc_length_store.h`). */
  // (companion holds the static phrase kernel)
  // Sized by the docId SPACE (max id + 1), not the doc count: after a
  // delete + compaction the id range has holes (ids are stable, Lucene
  // keeps maxDoc ≥ numDocs the same way), so nDocs underestimates the
  // array bound.
  /** docId space (max id + 1), resolved by ONE aggregation job — never a
    * row collect, so it is safe to evaluate at ANY index size. */
  private lazy val idSpace: Int = {
    import org.apache.spark.sql.functions.{col, max}
    val r = ix.doclen.agg(max(col("docId").cast("int"))).collect()(0)
    (if (r.isNullAt(0)) -1 else r.getInt(0)) + 1
  }

  /** The construction-time norms gate (round-3 verdict, "what's wrong" #2):
    * the resident norm array is materialized ONLY when the docId space fits
    * `maxResidentNorms` — at 10^10 docs the old unconditional collect tried
    * a 40 GB driver materialization before any per-query gate could route
    * to the distributed engine. Over budget, every scoring entry point
    * routes distributed ([[Searcher]] streams the inline per-posting norms
    * with the blocks, needing no per-doc state at all), and [[explain]]
    * point-probes the single doc's norm. */
  private lazy val normsResident: Boolean = idSpace.toLong <= maxResidentNorms

  /** Whether the resident norm array has been materialized (diagnostic —
    * asserted never to flip on an over-budget index). */
  @volatile private[graft] var normsMaterialized: Boolean = false

  private lazy val docLenState: Array[Int] = {
    import ix.spark.implicits._
    require(normsResident,
      s"norm array for docId space $idSpace exceeds budget $maxResidentNorms")
    val arr = new Array[Int](idSpace)
    ix.doclen.select("docId", "lenByte").as[(Int, Int)].collect()
      .foreach { case (d, lb) => if (d >= 0) arr(d) = lb }
    normsMaterialized = true
    arr
  }
  private def docLenBytes: Array[Int] = docLenState
}

object LocalService {
  /** A decoded posting list; `positions` is null when fetched without. */
  private[graft] final case class TermList(docIds: Array[Int], tfs: Array[Int],
                                           positions: Array[Array[Int]]) {
    def n: Int = docIds.length
    def hasPositions: Boolean = positions != null
  }

  /** A cache miss needed an index file of the service's pinned snapshot
    * that compaction has since retired. The service cannot serve that
    * miss; swap in [[LocalService.reopened]]. */
  final class SnapshotRetiredException(path: String, cause: Throwable)
    extends IllegalStateException(
      s"index file $path of this service's snapshot was retired by compaction; " +
        "serve from reopened()", cause)

  /** One term's slice of an `explain` decomposition: contribution =
    * idf·tfNorm, and the per-doc score is the slot-ordered Σ contribution. */
  final case class Explanation(term: String, tf: Long, df: Long,
                               idf: Double, tfNorm: Double, contribution: Double)

  /** Largest index (docs) served with the dense per-thread accumulator:
    * 2^24 docs = 128 MB of doubles per serving thread. */
  val maxDenseDocs: Long = 1L << 24

  /** Ranges a heavy scan splits into — one per core, capped: past ~8 the
    * per-range heap-merge and task overhead outgrow the marginal core. */
  val scanParallelism: Int =
    math.min(8, Runtime.getRuntime.availableProcessors())

  /** Shared work-stealing pool for range scans. CPU-bound tasks only; under
    * concurrent clients the pool saturates the cores and per-query latency
    * degrades toward the sequential time — throughput is never worse. */
  private[query] lazy val scanPool =
    java.util.concurrent.Executors.newWorkStealingPool(
      Runtime.getRuntime.availableProcessors())

  /** Allocation-free adjusted-position adjacency: does a position p exist in
    * slot 0 with p+i present in every slot i? Same semantics as
    * `Oracle.phraseMatch` (shifted intersection non-empty,
    * `query_processing.h:335-362`), but a merge-scan over the sorted
    * position arrays — the hot phrase path evaluates this once per
    * candidate doc, where a Set-based intersection would allocate. */
  /** [[phraseAdjacent]] generalized to EXPLICIT per-slot shifts (the
    * analyzed query's position gaps — Lucene match_phrase semantics):
    * slot j must hold `p - shifts(0) + shifts(j)` for some p in slot 0.
    * Same allocation-free merge-scan; `shifts = 0..k-1` degenerates to
    * plain adjacency. */
  private[query] def phraseAtShifts(lists: Array[Array[Int]],
                                    cursors: Array[Int],
                                    shifts: Array[Int]): Boolean = {
    if (lists.isEmpty) return false
    var e = 0
    while (e < lists.length) {
      if (lists(e).length == 0) return false
      cursors(e) = 0
      e += 1
    }
    if (lists.length == 1) return true
    val first = lists(0)
    var ci = 0
    while (ci < first.length) {
      val p = first(ci)
      var j = 1
      var ok = true
      while (j < lists.length && ok) {
        val target = p - shifts(0) + shifts(j)
        val arr = lists(j)
        var c = cursors(j)
        while (c < arr.length && arr(c) < target) c += 1
        cursors(j) = c
        if (c >= arr.length) return false // later p only raises the target
        ok = arr(c) == target
        j += 1
      }
      if (ok) return true
      ci += 1
    }
    false
  }

  private[query] def phraseAdjacent(lists: Array[Array[Int]],
                                    cursors: Array[Int]): Boolean = {
    if (lists.isEmpty) return false
    var e = 0
    while (e < lists.length) {
      if (lists(e).length == 0) return false
      cursors(e) = 0
      e += 1
    }
    if (lists.length == 1) return true
    val first = lists(0)
    var ci = 0
    while (ci < first.length) {
      val p = first(ci)
      var j = 1
      var ok = true
      while (j < lists.length && ok) {
        val target = p + j
        val arr = lists(j)
        var c = cursors(j)
        while (c < arr.length && arr(c) < target) c += 1
        cursors(j) = c
        if (c >= arr.length) return false // later p only raises the target
        ok = arr(c) == target
        j += 1
      }
      if (ok) return true
      ci += 1
    }
    false
  }
}

package graft.query

import graft.core.{Bm25, Kernel, Oracle}

/** Low-latency serving over a built index — the Spark analog of the
  * reference's resident engine + gRPC server (`qq_server.cc:61-132`,
  * `grpc_server_impl.h:209-460`): the reference answers queries at ms
  * latency because its working set lives in memory; a fresh Spark job per
  * query pays seconds of scheduling instead. This service keeps the HOT
  * working set (decoded posting lists for queried terms) resident on the
  * driver and evaluates BM25 top-k through [[Kernel]], the matching kernel
  * the distributed path's positional checks and per-group heaps also run
  * (the reference's k-way leapfrog, phrase check and bounded heap). A
  * cache MISS launches no Spark job either: it reads only the matching
  * rows of the snapshot's posting and termstats column chunks on the
  * driver ([[SnapshotReader]]).
  *
  * Results are identical to [[Searcher.search]] (same postings, same lossy
  * BM25, same tie rule) and are checked against [[graft.core.Oracle]], a
  * naive restatement that shares no matching code (the ScalaCheck law
  * `KernelProperties` holds kernel ≡ oracle). The distributed path
  * remains the scale story for cold terms / 100 TB indexes, this is the
  * serving story for a hot query mix. Cache is LRU-bounded by total cached
  * postings.
  *
  * Scoring needs no per-doc state: each posting block stores its docs'
  * lossy length bytes (`lenBytes`, the same byte the docstore holds), and
  * a decoded list keeps one per posting, next to its tf.
  *
  * '''Snapshot semantics''' (the Lucene point-in-time searcher contract):
  * every resident structure — decoded postings with their norms, dfs,
  * expansion/suggest caches, and the corpus stats N/avgdl that weight
  * every score — comes from the snapshot pinned at CONSTRUCTION time. A
  * streamed append or compaction is therefore visible only to a NEW
  * service: call [[reopened]] and swap
  * the instance (a volatile reference in the serving tier), exactly the
  * ES refresh / Lucene SearcherManager-reopen cycle. Serving from a stale
  * instance stays internally CONSISTENT on warm paths; only
  * delete-tombstones support in-place reload ([[reloadTombstones]] —
  * deletes don't change any resident statistic, they only mask docs).
  * Cache misses read the index files that were committed when the service
  * was constructed, never a segment appended later. Queries routed to the
  * distributed [[Searcher]] see the same segments: they run on the loaded
  * index pinned once, at construction. N/avgdl are [[ix]]'s, computed
  * when it was loaded, so a segment appended between `Searcher.load` and
  * construction is read but not counted in them; load and construct
  * together (as [[reopened]] does) to avoid that. Once compaction has
  * retired one of those files, a miss that needs it, and every
  * distributed query, throws [[LocalService.SnapshotRetiredException]]:
  * serve from [[reopened]].
  */
final class LocalService(val ix: Searcher.LoadedIndex,
                         maxCachedPostings: Long = 50000000L,
                         maxFetchPostings: Long = 10000000L,
                         scanThreshold: Int = 1 << 16) {

  import LocalService.TermList

  /** The index the distributed route runs on: [[ix]] with the segment set
    * it sees at construction fixed ([[Searcher.LoadedIndex.pinned]]; a
    * batch index is [[ix]] itself), so a later append stays invisible to
    * it, as to cache misses, and it keeps [[ix]]'s N/avgdl. On a segmented
    * index it is a copy with relation and metadata caches of its own: the
    * first distributed query resolves them again. */
  private val pinnedIx = ix.pinned

  /** The snapshot's posting/termstats files, pinned here at construction:
    * [[pinnedIx]]'s snapshot, whose footer cache the distributed route's
    * metadata reads share while that snapshot lasts. */
  private val reader = new SnapshotReader(pinnedIx)
  private val pinnedPostings = pinnedIx.parquetFiles("postings").paths

  /** [[pinnedIx]], once it still sees every postings file of construction
    * time. A compaction retires them, and the pinned index would then see
    * no segment at all: that throws [[LocalService.SnapshotRetiredException]]
    * instead of answering from an empty index. */
  private def distributedIx(): Searcher.LoadedIndex = {
    val now = pinnedIx.parquetFiles("postings").paths.toSet
    pinnedPostings.find(!now(_))
      .foreach(p => throw new LocalService.SnapshotRetiredException(p, null))
    pinnedIx
  }

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
    pinnedIx.requireNormStream
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
    Searcher.search(distributedIx(), queryTerms, k, phrase, conjunctive = conjunctive,
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
    waits.foreach { f => // owners only ever complete normally
      try f.get(120, java.util.concurrent.TimeUnit.SECONDS)
      catch { case _: java.util.concurrent.TimeoutException => () } // fall through to the direct fetch
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
    if (deletesOverBudget || dfs.valuesIterator.exists(_ > maxFetchPostings) ||
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
    // list the kernel tests each aligned candidate against
    val excluded = (exLists.map(_.docIds) ++
      (if (deletedDocs.isEmpty) Nil else Seq(deletedDocs))).toArray

    val byTerm = uniq.zip(lists).toMap
    val slots = queryTerms.map(byTerm).toArray
    // slot weight = idf·boost, the same driver-side double as the other
    // paths — boosted scores stay bitwise-identical engine-wide
    val idfs = queryTerms.map { t =>
      Bm25.idf(ix.nDocs, byTerm(t).n.toLong) * boosts.getOrElse(t, 1.0)
    }.toArray
    val query = new Kernel.Conjunction(slots.map(_.docIds), slots.map(_.tfs),
      slots.map(_.norms), idfs, positions = if (phrase) slots.map(_.positions) else null,
      shifts = phraseShifts.map(_.toArray).orNull, slop = slop, excluded = excluded)
    val (aScore, aDoc) = after.getOrElse((Double.PositiveInfinity, -1))
    // the leapfrog cost is bounded by the SMALLEST list (every candidate
    // aligns on it), so a heavy query — a hot∧hot conjunction or a
    // full-corpus phrase, the serving tail that grows with corpus size —
    // splits the docId domain at equal-count boundaries of that list
    val small = slots.minBy(_.n)
    scanRanges(k, small.n.toLong, small.docIds, Int.MaxValue) { (lo, hi, top) =>
      query.scan(ix.lossyCache, lo, hi, top, aScore, aDoc)
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
    * analog), df from termstats. The doc's length byte is the one stored
    * with any of its postings: a resident list's, or a decoded block's. */
  def explain(queryTerms: Seq[String], docId: Int,
              boosts: Map[String, Double] = Map.empty): Seq[LocalService.Explanation] = {
    val uniq = queryTerms.distinct
    if (uniq.isEmpty || docId < 0 || isDeleted(docId)) return Nil
    val dfs = dfOf(uniq)
    if (dfs.valuesIterator.exists(_ == 0L)) return Nil
    // resident lists for budget-fitting terms (one coalesced fetch); heavy
    // terms resolve per-doc tf via pruned block decode instead
    val light = uniq.filter(t => dfs(t) <= maxFetchPostings)
    val lists = if (light.isEmpty) Seq.empty else resolveLists(light, phrase = false)
    if (light.nonEmpty && lists == null) return Nil
    val byTerm = light.zip(lists).toMap
    // (term, tf, df, lenByte): every term's posting carries the doc's byte
    val rows = uniq.map { t =>
      byTerm.get(t) match {
        case Some(tl) =>
          val i = Kernel.lowerBound(tl.docIds, 0, tl.n, docId)
          if (i == tl.n || tl.docIds(i) != docId) return Nil // conjunctive: doc misses this term
          (t, tl.tfs(i).toLong, tl.n.toLong, tl.norms(i) & 0xff)
        case None =>
          pinnedIx.requireNormStream
          val (tf, lb) = reader.tf(t, docId).getOrElse(return Nil)
          (t, tf, dfs(t), lb)
      }
    }
    val lb = rows.head._4
    rows.map { case (t, tf, df, _) =>
      val idf = Bm25.idf(ix.nDocs, df) * boosts.getOrElse(t, 1.0)
      val tfn = Bm25.tfNormLossy(tf, lb, ix.lossyCache)
      LocalService.Explanation(t, tf, df, idf, tfn, idf * tfn)
    }
  }

  /** Runs `scan` over the docId domain `[0, end)` into a bounded heap of
    * `k`. A heavy query — `work` postings at or over the threshold — splits
    * the domain at equal-count boundaries of `pivot` (ascending docIds),
    * one range per core on the shared pool, each into its own heap; the
    * heaps merge once. Per-doc scores do not depend on the range and the
    * heap keeps the top k by (score desc, docId asc) in any feed order, so
    * the split never changes a bit of any result (asserted in EngineSpec).
    * Cheap queries stay on the caller thread: below the threshold the split
    * overhead exceeds the scan. Every range finishes before a failure
    * propagates, so a caller may reset shared scratch afterwards. */
  private def scanRanges(k: Int, work: Long, pivot: Array[Int], end: Int)
                        (scan: (Int, Int, Kernel.TopK) => Unit): Seq[Oracle.Hit] = {
    val w = LocalService.scanParallelism
    val top = new Kernel.TopK(k)
    if (work < math.max(scanThreshold.toLong, w.toLong) || w < 2) scan(0, end, top)
    else {
      val bounds = (1 until w).map(i => pivot((pivot.length.toLong * i / w).toInt))
      val tasks = (0 +: bounds).zip(bounds :+ end).map { case (lo, hi) =>
        LocalService.scanPool.submit(new java.util.concurrent.Callable[Kernel.TopK] {
          def call(): Kernel.TopK = { val t = new Kernel.TopK(k); scan(lo, hi, t); t }
        })
      }
      tasks.map(t => scala.util.Try(t.get())).foreach(r => top.merge(r.get))
    }
    LocalService.hitsOf(top)
  }

  /** Cached dictionary expansions — one metadata probe per cold
    * (prefix, cap); the dictionary is immutable for a loaded index. */
  private val prefixCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), Seq[String]]()

  /** Per-thread dense score accumulator for the disjunctive serving path
    * (one double per docId). A HashMap accumulator here boxes ~Σdf entries
    * and sorts the full candidate set on EVERY call — under 16 concurrent
    * clients that allocation storm was a multi-second p99 tail. It grows on
    * demand to the largest docId + 1 of the lists a query scores, at most
    * [[LocalService.maxDenseDocs]] (≈128 MB/thread worst case); an
    * expansion reaching past that is served by the distributed engine. */
  private val scoreBuf = new ThreadLocal[Array[Double]]() {
    override def initialValue(): Array[Double] = Array.emptyDoubleArray
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
      maxCachedPostings, maxFetchPostings, scanThreshold)

  private def isDeleted(docId: Int): Boolean = Kernel.contains(deletedDocs, docId)

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
    * lists, df-gated like every serving entry point. Lists whose docIds
    * reach past the dense buffer's bound route to the distributed engine. */
  private def serveExpansion(terms: Seq[String], k: Int): Seq[Oracle.Hit] = {
    if (terms.isEmpty) return Nil
    val dfs = dfOf(terms)
    if (deletesOverBudget || dfs.valuesIterator.exists(_ > maxFetchPostings))
      return distributed(terms, k, phrase = false, conjunctive = false)
    val lists = resolveLists(terms, phrase = false)
    val end = if (lists == null) 0L else lists.map(_.docIds.last + 1L).max
    if (lists == null || end > LocalService.maxDenseDocs)
      return distributed(terms, k, phrase = false, conjunctive = false)
    scoreDense(lists, end.toInt, k)
  }

  /** Dense-array disjunctive scoring over docIds `[0, end)`, `end` past
    * every list's last docId: accumulate in expansion-term order
    * (the same FP sequence as [[Oracle.searchOr]]'s slot-outer loop), then
    * a single ascending-docId scan feeds the kernel's bounded heap. BM25
    * parts are strictly positive, so score > 0 ⇔ matched; the scan resets
    * touched slots, leaving the thread-local buffer clean for the next call.
    *
    * Heavy expansions (Σdf over the threshold — a hot prefix like `ret*`
    * unions several full-corpus lists) split the docId domain at
    * equal-count boundaries of the LARGEST list: each range accumulates
    * and scans a DISJOINT segment of the shared dense array on its own
    * core (no two workers touch the same doc slot — race-free without
    * locks), keeping the per-doc list-order FP sequence of the sequential
    * loop, so the split never changes a bit of any score. */
  private def scoreDense(lists: Seq[TermList], end: Int, k: Int): Seq[Oracle.Hit] = {
    var scores = scoreBuf.get()
    if (scores.length < end) { scores = new Array[Double](end); scoreBuf.set(scores) }
    val arr = lists.toArray
    val idfs = arr.map(tl => Bm25.idf(ix.nDocs, tl.n.toLong))
    try {
      scanRanges(k, arr.foldLeft(0L)(_ + _.n), arr.maxBy(_.n).docIds, end) {
        (lo, hi, top) => denseRange(arr, idfs, scores, lo, hi, top)
      }
    } catch {
      case t: Throwable => java.util.Arrays.fill(scores, 0.0); throw t
    }
  }

  /** One disjunctive accumulate+scan pass over docIds in `[fromDoc,
    * untilDoc)` — writes only that segment of `scores` and resets the
    * slots it touched. */
  private def denseRange(lists: Array[TermList], idfs: Array[Double], scores: Array[Double],
                         fromDoc: Int, untilDoc: Int, top: Kernel.TopK): Unit = {
    var li = 0
    while (li < lists.length) {
      val tl = lists(li)
      val idf = idfs(li)
      val arr = tl.docIds
      var i = Kernel.lowerBound(arr, 0, tl.n, fromDoc)
      while (i < tl.n && arr(i) < untilDoc) {
        val d = arr(i)
        scores(d) += idf * Bm25.tfNormLossy(tl.tfs(i).toLong, tl.norms(i), ix.lossyCache)
        i += 1
      }
      li += 1
    }
    // tombstoned docs must not rank: zero their accumulated slots in this
    // range before the emission scan (one walk over the deleted subrange —
    // the emission's `s > 0.0` check then skips them for free)
    val del = deletedDocs
    var x = Kernel.lowerBound(del, 0, del.length, fromDoc)
    while (x < del.length && del(x) < untilDoc) {
      scores(del(x)) = 0.0
      x += 1
    }
    var d = fromDoc
    while (d < untilDoc) {
      val s = scores(d)
      if (s > 0.0) {
        scores(d) = 0.0
        top.offer(d, s)
      }
      d += 1
    }
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
      BoolQuery.search(distributedIx(), root, k).collect().sortBy(_.rank)
        .map(h => Oracle.Hit(h.docId, h.score)).toSeq
    if (deletesOverBudget || allTerms.exists(t => dfs(t) > maxFetchPostings))
      return viaDistributed()
    val lists = resolveLists(allTerms, phrase = false)
    if (lists == null) return viaDistributed()
    val byTerm = allTerms.zip(lists).toMap
    val idfOf = allTerms.map(t => t -> Bm25.idf(ix.nDocs, byTerm(t).n.toLong)).toMap
    // lists hoisted to primitive arrays (an IndexedSeq apply per posting is
    // a virtual call in the hottest loop of the serving path)
    val nP = posTerms.size
    val nNeg = negTerms.size
    val posDocs = posTerms.map(t => byTerm(t).docIds).toArray
    val posTfs = posTerms.map(t => byTerm(t).tfs).toArray
    val posNorms = posTerms.map(t => byTerm(t).norms).toArray
    val negDocs = negTerms.map(t => byTerm(t).docIds).toArray
    val posIdfs = posTerms.map(idfOf).toArray
    val negIdx = negTerms.zipWithIndex.toMap
    val posIdx = posTerms.zipWithIndex.toMap

    /** Merged union scan over docIds in `[fromDoc, untilDoc)`. The tree
      * runs COMPILED ([[BoolQuery.compile]]): the recursive evaluator's
      * per-doc Seq/tuple allocation and string hashing owned a ~20x serving
      * tail on this loop. */
    def scanRange(fromDoc: Int, untilDoc: Int, top: Kernel.TopK): Unit = {
      val prog = BoolQuery.compile(root, posIdx, negIdx) // per-range scratch
      val posAligned = new Array[Boolean](nP)
      val partials = new Array[Double](nP)
      val negPres = new Array[Boolean](nNeg)
      val cursors = posDocs.map(a => Kernel.lowerBound(a, 0, a.length, fromDoc))
      val negCursors = negDocs.map(a => Kernel.lowerBound(a, 0, a.length, fromDoc))
      var done = false
      while (!done) {
        // merged union scan over the positive lists (ascending docId)
        var d = Int.MaxValue
        var i = 0
        while (i < nP) {
          if (cursors(i) < posDocs(i).length) {
            val v = posDocs(i)(cursors(i))
            if (v < d) d = v
          }
          i += 1
        }
        if (d == Int.MaxValue || d >= untilDoc) done = true
        else {
          if (!isDeleted(d)) {
            // d's length byte, from the first positive slot aligned on it
            // (the union scan stopped at d, so one is)
            var lb = -1
            i = 0
            while (i < nP) {
              val al = cursors(i) < posDocs(i).length && posDocs(i)(cursors(i)) == d
              posAligned(i) = al
              if (al) {
                if (lb < 0) lb = posNorms(i)(cursors(i)) & 0xff
                partials(i) = posIdfs(i) *
                  Bm25.tfNormLossy(posTfs(i)(cursors(i)).toLong, lb, ix.lossyCache)
              }
              i += 1
            }
            var j = 0
            while (j < nNeg) {
              val arr = negDocs(j)
              val c = Kernel.gallop(arr, negCursors(j), arr.length, d)
              negCursors(j) = c
              negPres(j) = c < arr.length && arr(c) == d
              j += 1
            }
            if (prog.eval(posAligned, partials, negPres)) top.offer(d, prog.lastScore)
          }
          i = 0
          while (i < nP) { // advance every aligned cursor
            if (cursors(i) < posDocs(i).length && posDocs(i)(cursors(i)) == d)
              cursors(i) += 1
            i += 1
          }
        }
      }
    }

    // heavy unions split at equal-count boundaries of the largest positive
    // list (same split rule as scoreDense)
    scanRanges(k, posDocs.foldLeft(0L)(_ + _.length), posDocs.maxBy(_.length),
      Int.MaxValue)(scanRange)
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
}

object LocalService {
  /** A decoded posting list: per posting its docId, tf and lossy length
    * byte (the BM25 norm stored inline in its block); `positions` is null
    * when fetched without. */
  private[graft] final case class TermList(docIds: Array[Int], tfs: Array[Int],
                                           norms: Array[Byte],
                                           positions: Array[Array[Int]]) {
    def n: Int = docIds.length
    def hasPositions: Boolean = positions != null
  }

  /** A cache miss or a distributed query needed an index file of the
    * service's pinned snapshot that compaction has since retired. The
    * service cannot serve it; swap in [[LocalService.reopened]]. */
  final class SnapshotRetiredException(path: String, cause: Throwable)
    extends IllegalStateException(
      s"index file $path of this service's snapshot was retired by compaction; " +
        "serve from reopened()", cause)

  /** One term's slice of an `explain` decomposition: contribution =
    * idf·tfNorm, and the per-doc score is the slot-ordered Σ contribution. */
  final case class Explanation(term: String, tf: Long, df: Long,
                               idf: Double, tfNorm: Double, contribution: Double)

  /** Largest docId bound (last docId + 1) served with the dense
    * per-thread accumulator: 2^24 docIds = 128 MB of doubles per serving
    * thread. */
  val maxDenseDocs: Long = 1L << 24

  /** Ranges a heavy scan splits into — one per core, capped: past ~8 the
    * per-range heap-merge and task overhead outgrow the marginal core. */
  private def hitsOf(top: Kernel.TopK): Seq[Oracle.Hit] = {
    val (docs, scores) = top.sorted
    docs.indices.map(i => Oracle.Hit(docs(i), scores(i)))
  }

  val scanParallelism: Int =
    math.min(8, Runtime.getRuntime.availableProcessors())

  /** Shared work-stealing pool for range scans. CPU-bound tasks only; under
    * concurrent clients the pool saturates the cores and per-query latency
    * degrades toward the sequential time — throughput is never worse. */
  private[query] lazy val scanPool =
    java.util.concurrent.Executors.newWorkStealingPool(
      Runtime.getRuntime.availableProcessors())
}

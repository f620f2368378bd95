package graft.query

/** Two-level block-metadata access for the driver-side query planners.
  *
  * Every search path plans over per-term block metadata (docId range,
  * posting count, score-ceiling fields). The reference's planner reads
  * that metadata as needed from the index file itself, touching only the
  * pages its skip walk seeks through (`flash_iterators.h:181-227`,
  * `term_index.h:101-163`). This store reads the metadata columns of the
  * snapshot the query sees on the driver, through that snapshot's
  * [[SnapshotReader.StageFiles]] ([[Snapshot]]), and launches no Spark
  * job. Two levels keep what it materializes and holds small:
  *
  *  1. '''fine cache''' — complete per-term fine meta
  *     (`firstDocId, lastDocId, n, maxTf, minLenByte` from `postings`),
  *     LRU-cached per snapshot for small terms, so warm serving re-plans
  *     without a read (the per-(index, term) analog of [[LocalService]]'s
  *     posting cache);
  *  2. '''two-level read''' — when the df-estimated row count exceeds
  *     `spark.graft.meta.directRows`, read per-term COARSE coverage first
  *     (the `superblocks` stage's `(lo, hi)` rows, one per docId
  *     super-bucket ≈ 128 blocks, cached), combine it with the query's
  *     AND/OR shape, and keep only the blocks whose `(firstDocId,
  *     lastDocId)` overlaps the combined coverage: `n, maxTf, minLenByte`
  *     are read, and rows built, for those alone. On a hot∧rare
  *     conjunction the planner gets the hot term's blocks near the rare
  *     term's ranges, not all of them. A snapshot whose superblocks do not
  *     cover every visible segment reads directly.
  *
  * What is read, either way: [[SnapshotReader.StageFiles.lookup]] scans
  * the `term` column of every postings row group its footer statistics do
  * not rule out, and the two-level bound decodes `(firstDocId, lastDocId)`
  * at EVERY block of each read term (O(Σ df/128) ints, the diagnostics'
  * `scannedRows`) before it filters. The bound saves the other three
  * columns and the rows the planner handles, not that scan. One driver
  * thread does the read, where the Spark collect it replaced scanned the
  * files in parallel.
  *
  * Soundness: a term's coarse coverage is a SUPERSET of its fine block
  * coverage, and every coverage combinator in use (interval intersection
  * for AND, union for OR, [[BoolQuery]]'s tree walk) is monotone — so
  * the combined coarse coverage contains every docId any true candidate
  * can have, and every block containing such a doc overlaps it and is
  * kept. Restricting fine meta to that superset never drops a block a
  * complete plan would select.
  */
object MetaStore {

  /** (term, firstDocId, lastDocId, n, maxTf, minLenByte) — the full fine
    * meta row; callers needing fewer fields ignore the rest. */
  type FineRow = (String, Int, Int, Int, Int, Int)

  /** Bounded access-order LRU map (synchronized). Readers must treat
    * `get` as the single atomic read — an entry seen by `containsKey`
    * can be evicted before a second read, so never read twice. */
  def lruMap[K, V](cap: Int): java.util.Map[K, V] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[K, V](64, 0.75f, true) {
        override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
          size() > cap
      })

  /** The block metadata of one index snapshot: its postings files, its
    * superblocks files when they cover every visible segment, and the
    * per-term caches over them. A [[Searcher.LoadedIndex]] resolves one
    * per snapshot ([[Searcher.LoadedIndex.blockMeta]]), so a new snapshot
    * starts with empty caches. */
  private[query] final class Snapshot(val postings: SnapshotReader.StageFiles,
                                      val superblocks: Option[SnapshotReader.StageFiles]) {
    val fine: java.util.Map[String, Array[FineRow]] = lruMap(512)
    val coarse: java.util.Map[String, Array[(Int, Int)]] = lruMap(4096)
  }

  /** Diagnostics of the most recent [[fineMetaBy]] call on this thread:
    * `fineRows` blocks kept, out of `scannedRows` blocks whose key columns
    * were decoded (the same on the direct path). */
  final case class FetchDiag(estBlocks: Long, twoLevel: Boolean,
                             cacheHitTerms: Int, coarseRows: Long,
                             fineRows: Long, scannedRows: Long)
  private val diagTL = new ThreadLocal[FetchDiag] {
    override def initialValue(): FetchDiag = FetchDiag(0L, twoLevel = false, 0, 0L, 0L, 0L)
  }
  def lastFetchDiag: FetchDiag = diagTL.get()

  /** A term with more fine meta rows than this is not fine-cached. */
  private val CacheRowsPerTerm = 2048

  /** The test-seam conf `spark.graft.meta.directRows`; a malformed value
    * throws. */
  private def directRows(ix: Searcher.LoadedIndex): Long =
    ix.spark.conf.get("spark.graft.meta.directRows", "16384").toLong

  /** Whether [first, last] overlaps one of the disjoint ascending `cov`. */
  private def overlaps(cov: Array[(Int, Int)], first: Int, last: Int): Boolean = {
    val i = cov.view.map(_._2).search(first).insertionPoint
    i < cov.length && cov(i)._1 <= last
  }

  /** Fine meta rows of `terms`; with a `bound` (disjoint ascending), only
    * the blocks overlapping it, whose other columns alone are read. Also
    * returns the number of blocks scanned: with a bound, every block of
    * `terms` has its `(firstDocId, lastDocId)` decoded to test it. */
  private def fineRows(snap: Snapshot, terms: Seq[String],
                       bound: Option[Array[(Int, Int)]]): (Array[FineRow], Long) = {
    var scanned = 0L
    val where = bound.fold[(Seq[String], SnapshotReader.Row => Boolean)]((Nil, _ => true))(b =>
      (Seq("firstDocId", "lastDocId"), r => { scanned += 1; overlaps(b, r.int(0), r.int(1)) }))
    val rows = snap.postings.lookup(terms.toSet,
        Seq("firstDocId", "lastDocId", "n", "maxTf", "minLenByte"), where)
      .iterator.map(r => (r.term, r.int(0), r.int(1), r.int(2), r.int(3), r.int(4))).toArray
    (rows, if (bound.isEmpty) rows.length.toLong else scanned)
  }

  /** Per-term coarse coverage (merged ascending intervals) via the
    * snapshot's cache; returns the map plus rows read for diagnostics.
    * The result is built from LOCAL values (one atomic cache read per
    * term), so a concurrent eviction can never surface as a null. */
  private def coarseCoverage(snap: Snapshot, superblocks: SnapshotReader.StageFiles,
                             terms: Seq[String]): (Map[String, Array[(Int, Int)]], Long) = {
    val cached: Map[String, Array[(Int, Int)]] =
      terms.flatMap(t => Option(snap.coarse.get(t)).map(t -> _)).toMap
    val missing = terms.filterNot(cached.contains)
    val rows = superblocks.lookup(missing.toSet, Seq("lo", "hi"))
    val byTerm = rows.groupBy(_.term)
    val fetched = missing.map { t =>
      t -> byTerm.get(t)
        .map(rs => BlockMax.union(rs.iterator.map(r => (r.int(0), r.int(1)))))
        .getOrElse(Array.empty[(Int, Int)])
    }.toMap
    fetched.foreach { case (t, iv) => snap.coarse.put(t, iv) }
    (cached ++ fetched, rows.length.toLong)
  }

  /** Fine meta rows for `terms`, bounded by the query's coverage when the
    * df-estimated row count exceeds the direct cap and the snapshot has
    * superblocks. `covOf` computes the combined coverage from the per-term
    * coarse coverage map — it must be monotone in each term's intervals
    * (AND/OR/tree combinators all are). */
  def fineMetaBy(ix: Searcher.LoadedIndex, terms: Seq[String], dfs: Map[String, Long])
                (covOf: Map[String, Array[(Int, Int)]] => Array[(Int, Int)])
      : Array[FineRow] = {
    val snap = ix.blockMeta
    val distinct = terms.distinct
    val directCap = directRows(ix)
    val est = distinct.iterator.map(t => dfs.getOrElse(t, 0L) / 128L + 1L).sum
    snap.superblocks.filter(_ => est > directCap) match {
      case None =>
        // direct path: serve cached terms (ONE atomic read per term — a
        // concurrent eviction between two reads would null), read the rest
        val cached: Seq[(String, Array[FineRow])] =
          distinct.flatMap(t => Option(snap.fine.get(t)).map(t -> _))
        val hit = cached.iterator.map(_._1).toSet
        val missing = distinct.filterNot(hit)
        val (fetched, _) = fineRows(snap, missing, None)
        val byTerm = fetched.groupBy(_._1)
        missing.foreach { t =>
          val rs = byTerm.getOrElse(t, Array.empty[FineRow])
          if (rs.length <= CacheRowsPerTerm) snap.fine.put(t, rs)
        }
        diagTL.set(FetchDiag(est, twoLevel = false, hit.size, 0L, fetched.length.toLong,
          fetched.length.toLong))
        cached.iterator.flatMap(_._2).toArray ++ fetched
      case Some(superblocks) =>
        val (covMap, coarseRows) = coarseCoverage(snap, superblocks, distinct)
        val cov = BlockMax.union(covOf(covMap).iterator)
        val (rows, scanned) =
          if (cov.isEmpty) (Array.empty[FineRow], 0L) else fineRows(snap, distinct, Some(cov))
        diagTL.set(FetchDiag(est, twoLevel = true, 0, coarseRows, rows.length.toLong, scanned))
        rows
    }
  }

  /** Diagnostics of the most recent [[boundedRangeMeta]] call on this
    * thread: coarse rows read, merged overlap interval count, fine
    * exclusion rows kept, and blocks whose key columns were decoded. */
  final case class ExclDiag(estBlocks: Long, twoLevel: Boolean,
                            coarseRows: Long, overlapIv: Int, fineRows: Long,
                            scannedRows: Long)
  private val exclDiagTL = new ThreadLocal[ExclDiag] {
    override def initialValue(): ExclDiag =
      ExclDiag(0L, twoLevel = false, 0L, 0, 0L, 0L)
  }
  def lastExclDiag: ExclDiag = exclDiagTL.get()

  /** Fine meta rows of `terms` whose blocks overlap `candidates` — the
    * exclusion-term read of the distributed query paths, under the same
    * two-level discipline as [[fineMetaBy]]: past the direct cap, each
    * excluded term's COARSE coverage (cached per snapshot) is intersected
    * with the positive candidates first, and fine rows are kept only
    * inside that overlap — a hot excluded term against a hot positive side
    * yields rows proportional to the ranges where exclusion can actually
    * bite, though every block's key columns are still decoded (see the
    * object doc); an empty overlap reads no block. Soundness: a term's
    * coarse coverage contains every one of its blocks, so any exclusion
    * block overlapping
    * `candidates` also overlaps coverage ∩ candidates. */
  def boundedRangeMeta(ix: Searcher.LoadedIndex, terms: Seq[String],
                       candidates: Array[(Int, Int)],
                       dfs: Map[String, Long] = Map.empty): Array[FineRow] = {
    if (terms.isEmpty || candidates.isEmpty) return Array.empty
    val snap = ix.blockMeta
    val cand = BlockMax.union(candidates.iterator)
    val distinct = terms.distinct
    val directCap = directRows(ix)
    // df-estimated exclusion meta volume; unknown dfs estimate as the cap
    // (unknown ⇒ assume hot ⇒ take the bounded two-level path, so the
    // direct path needs an estimate strictly below the cap)
    val est = distinct.iterator
      .map(t => dfs.get(t).map(_ / 128L + 1L).getOrElse(directCap)).sum
    snap.superblocks.filter(_ => est >= directCap) match {
      case None =>
        val (rows, scanned) = fineRows(snap, distinct, Some(cand))
        exclDiagTL.set(ExclDiag(est, twoLevel = false, 0L, cand.length, rows.length.toLong,
          scanned))
        rows
      case Some(superblocks) =>
        val (covMap, coarseRows) = coarseCoverage(snap, superblocks, distinct)
        val overlap = BlockMax.union(distinct.iterator.flatMap(t =>
          BlockMax.intersect(covMap.getOrElse(t, Array.empty[(Int, Int)]), cand)))
        val (rows, scanned) =
          if (overlap.isEmpty) (Array.empty[FineRow], 0L)
          else fineRows(snap, distinct, Some(overlap))
        exclDiagTL.set(ExclDiag(est, twoLevel = true, coarseRows,
          overlap.length, rows.length.toLong, scanned))
        rows
    }
  }

  /** [[fineMetaBy]] with the standard shape algebra: `shapes` is a union
    * (over queries) of AND-of-OR groups — coverage = ∪ over shapes of
    * (∩ over groups of (∪ over member terms)). A single conjunctive query
    * is `Seq(terms.map(Seq(_)))`; a disjunctive one `Seq(Seq(terms))`;
    * synonym groups `Seq(groups)`; a batch contributes one shape per
    * query. */
  def fineMeta(ix: Searcher.LoadedIndex, terms: Seq[String], dfs: Map[String, Long],
               shapes: Seq[Seq[Seq[String]]]): Array[FineRow] =
    fineMetaBy(ix, terms, dfs) { covMap =>
      def cov(t: String) = covMap.getOrElse(t, Array.empty[(Int, Int)])
      BlockMax.union(shapes.iterator.flatMap { groups =>
        groups.map(g => BlockMax.union(g.iterator.flatMap(cov))) match {
          case Seq()        => Array.empty[(Int, Int)]
          case head +: tail => tail.foldLeft(head)(BlockMax.intersect)
        }
      })
    }
}

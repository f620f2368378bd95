package graft.query

import graft.core.Bm25

/** Driver-side block-max WAND planning over per-term block metadata — the
  * Spark analog of the reference's skip-list + bloom-free conjunctive
  * pruning (`posting_list_delta.h:245-264`, `flash_iterators.h:181-227`)
  * extended with Block-Max-WAND score ceilings (Ding & Suel, SIGIR'11;
  * named explicitly by the north rule).
  *
  * Metadata per block: [first,last] docId range, posting count, and an
  * UPPER BOUND `ub` on any posting's weighted partial score in the block
  * (idf_t · tfNorm(maxTf, minLenByte) — valid at any corpus average because
  * tfNorm is increasing in tf and decreasing in lenByte).
  *
  * Every distributed planner — [[Searcher]]'s one pipeline, its synonym
  * and match-set queries, [[BoolQuery]] — turns [[MetaStore]] rows into
  * [[BlockMeta]] with [[metaByTerm]] and plans with these sweeps; the
  * coverage algebra of [[MetaStore]] and [[BoolQuery]] is the same
  * [[intersect]] / [[union]].
  *
  * Planning is O(total blocks · nTerms) driver work on df/128-sized arrays
  * (a 10^8-df term is ~800k meta rows — read once per query; beyond
  * that the same sweep distributes as a sort-merge join on range keys).
  */
object BlockMax {

  /** Block metadata: docId range, posting count, weighted score ceiling. */
  final case class BlockMeta(first: Int, last: Int, n: Int, ub: Double)

  /** Per-term block metadata from [[MetaStore]] rows, each term's blocks
    * sorted by firstDocId, with the ceiling `ub` = idf(t) · tfNorm(maxTf,
    * minLenByte) (0 for a term without an idf). The one place metadata
    * rows become [[BlockMeta]]; a query's slot multiplicity and boosts
    * scale `ub` per query ([[Plan.wt]]). */
  def metaByTerm(rows: Array[MetaStore.FineRow], idfs: Map[String, Double],
                 cache: Array[Double]): Map[String, Array[BlockMeta]] =
    rows.groupBy(_._1).map { case (t, rs) =>
      val idf = idfs.getOrElse(t, 0.0)
      t -> rs.sortBy(_._2).map(r =>
        BlockMeta(r._2, r._3, r._4, idf * Bm25.tfNormLossy(r._5.toLong, r._6, cache)))
    }

  /** The [first, last] docId ranges of a term's blocks. */
  def ranges(metas: Array[BlockMeta]): Array[(Int, Int)] = metas.map(b => (b.first, b.last))

  /** Intersection of two disjoint ascending interval sets: a two-pointer
    * sweep, disjoint ascending output. */
  def intersect(a: Array[(Int, Int)], b: Array[(Int, Int)]): Array[(Int, Int)] = {
    val out = scala.collection.mutable.ArrayBuilder.make[(Int, Int)]
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      val lo = math.max(a(i)._1, b(j)._1)
      val hi = math.min(a(i)._2, b(j)._2)
      if (lo <= hi) out += ((lo, hi))
      if (a(i)._2 < b(j)._2) i += 1 else j += 1
    }
    out.result()
  }

  /** Merged union of intervals in any order: disjoint ascending output,
    * overlapping and adjacent intervals joined (coarsening is harmless —
    * the intervals only gate block selection). */
  def union(ivs: Iterator[(Int, Int)]): Array[(Int, Int)] = {
    val all = ivs.toArray.sortBy(_._1)
    if (all.isEmpty) return all
    val out = scala.collection.mutable.ArrayBuffer(all(0))
    var i = 1
    while (i < all.length) {
      val (lo, hi) = all(i)
      val (plo, phi) = out.last
      if (lo.toLong <= phi.toLong + 1L) { if (hi > phi) out(out.length - 1) = (plo, hi) }
      else out += ((lo, hi))
      i += 1
    }
    out.toArray
  }

  /** Intersect per-term coverage (each term: DISJOINT blocks sorted by
    * `first`). Returns disjoint ascending intervals where every term has at
    * least one block — the conjunctive candidate docId space. */
  def intersectCoverage(perTerm: Seq[Array[BlockMeta]]): Array[(Int, Int)] =
    perTerm.map(ranges).reduceLeft(intersect)

  /** Union of per-term coverage: the DISJUNCTIVE candidate docId space. */
  def unionCoverage(perTerm: Seq[Array[BlockMeta]]): Array[(Int, Int)] =
    union(perTerm.iterator.flatMap(_.iterator.map(b => (b.first, b.last))))

  /** Blocks of `metas` (ascending, disjoint) overlapping any of `ranges`
    * (ascending, disjoint): two-pointer sweep, returns indices. */
  def overlapping(metas: Array[BlockMeta], ranges: Array[(Int, Int)]): Array[Int] = {
    val out = scala.collection.mutable.ArrayBuilder.make[Int]
    var last = -1
    var i = 0
    var j = 0
    while (i < metas.length && j < ranges.length) {
      if (metas(i).last < ranges(j)._1) i += 1
      else if (ranges(j)._2 < metas(i).first) j += 1
      else {
        if (i != last) { out += i; last = i } // a block can span several ranges
        // advance whichever ends first
        if (metas(i).last <= ranges(j)._2) i += 1 else j += 1
      }
    }
    out.result()
  }

  /** Max `ub` over blocks of `metas` overlapping [lo, hi] (0.0 if none). */
  def maxUbIn(metas: Array[BlockMeta], lo: Int, hi: Int): Double = {
    // the first block with last >= lo (blocks are disjoint and ascending),
    // then walk while first <= hi
    var best = 0.0
    var i = metas.view.map(_.last).search(lo).insertionPoint
    while (i < metas.length && metas(i).first <= hi) {
      if (metas(i).ub > best) best = metas(i).ub
      i += 1
    }
    best
  }

  /** Score ceiling of candidate interval [lo, hi]: sum over terms of the
    * max block ub overlapping it. */
  def intervalUb(perTerm: Seq[Array[BlockMeta]], lo: Int, hi: Int): Double =
    perTerm.iterator.map(m => maxUbIn(m, lo, hi)).sum

  /** Estimated candidate docs in [lo, hi]: the MINIMUM over terms of
    * overlapping posting counts (conjunctive result is no larger). */
  def estDocsIn(perTerm: Seq[Array[BlockMeta]], lo: Int, hi: Int): Long =
    perTerm.iterator.map { m =>
      overlapping(m, Array((lo, hi))).iterator.map(i => m(i).n.toLong).sum
    }.min

  /** Pilot decode cost of [lo, hi]: the SUM over terms of overlapping
    * posting counts. The disjunctive pilot budget — a union query's result
    * is NOT bounded by its rarest term (min-over-terms underestimates by
    * orders of magnitude when one expansion term is rare, making the pilot
    * select nearly the whole coverage and decode the index twice). */
  def estPostingsIn(perTerm: Seq[Array[BlockMeta]], lo: Int, hi: Int): Long =
    perTerm.iterator.map { m =>
      overlapping(m, Array((lo, hi))).iterator.map(i => m(i).n.toLong).sum
    }.sum

  /** Split candidate intervals at the block boundaries of the
    * finest-grained term (most blocks), so pilot selection can pick
    * block-sized pieces instead of whole (possibly corpus-wide) candidate
    * intervals. */
  def refineByBlocks(perTerm: Seq[Array[BlockMeta]],
                     candidates: Array[(Int, Int)]): Array[(Int, Int)] = {
    val finest = perTerm.maxBy(_.length)
    val out = scala.collection.mutable.ArrayBuilder.make[(Int, Int)]
    var i = 0
    var j = 0
    while (i < finest.length && j < candidates.length) {
      val lo = math.max(finest(i).first, candidates(j)._1)
      val hi = math.min(finest(i).last, candidates(j)._2)
      if (lo <= hi) out += ((lo, hi))
      if (finest(i).last <= candidates(j)._2) i += 1 else j += 1
    }
    out.result()
  }

  /** Pick the pilot interval set: candidates sorted by ub ceiling
    * descending, greedily taken until the estimated candidate count reaches
    * `targetDocs`. Conjunctive mode budgets by [[estDocsIn]] (min over
    * terms — the result-size bound); disjunctive mode by [[estPostingsIn]]
    * (sum — the decode-cost bound, since a union result has no rarest-term
    * bound). Returns the chosen intervals (ascending). */
  def pilotIntervals(perTerm: Seq[Array[BlockMeta]], candidates: Array[(Int, Int)],
                     targetDocs: Long, disjunctive: Boolean = false): Array[(Int, Int)] = {
    val scored = candidates.map { case (lo, hi) =>
      (lo, hi, intervalUb(perTerm, lo, hi),
        if (disjunctive) estPostingsIn(perTerm, lo, hi) else estDocsIn(perTerm, lo, hi))
    }
    val picked = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var est = 0L
    scored.sortBy(r => (-r._3, r._1)).iterator
      .takeWhile { _ => est < targetDocs }
      .foreach { r => picked += ((r._1, r._2)); est += r._4 }
    picked.sortBy(_._1).toArray
  }

  /** One query's block plan: its distinct terms, each term's ceiling
    * weight `wt` (slot multiplicity · boost — all slots of t together
    * contribute ≤ wt(t) · ub), the candidate docId space (AND intersects
    * the terms' coverage, OR unions it), each term's blocks overlapping
    * it, and their posting count. */
  final case class Plan(terms: Seq[String], wt: Map[String, Double], disj: Boolean,
                        candidates: Array[(Int, Int)], rangeSel: Map[String, Array[Int]],
                        estPostings: Long)

  /** Plan one query over `meta`; None when no doc can match. */
  def plan(meta: Map[String, Array[BlockMeta]], terms: Seq[String],
           wt: Map[String, Double], disj: Boolean): Option[Plan] = {
    val perTerm = terms.map(metaOf(meta, _))
    val candidates =
      if (disj) unionCoverage(perTerm)
      else if (perTerm.exists(_.isEmpty)) Array.empty[(Int, Int)]
      else intersectCoverage(perTerm)
    if (candidates.isEmpty) None
    else {
      val sel = terms.map(t => t -> overlapping(metaOf(meta, t), candidates)).toMap
      val est = terms.iterator.map(t => sel(t).iterator.map(i => meta(t)(i).n.toLong).sum).sum
      Some(Plan(terms, wt, disj, candidates, sel, est))
    }
  }

  private def metaOf(meta: Map[String, Array[BlockMeta]], t: String): Array[BlockMeta] =
    meta.getOrElse(t, Array.empty[BlockMeta])

  /** The blocks a WAND pilot decodes for `p`: those overlapping its
    * highest-ceiling candidate intervals, enough for about max(64k, 1024)
    * candidate docs ([[pilotIntervals]] over the weighted ceilings). */
  def pilotSel(meta: Map[String, Array[BlockMeta]], p: Plan, k: Int): Map[String, Array[Int]] = {
    val perTerm = p.terms.map { t =>
      val w = p.wt(t)
      metaOf(meta, t).map(b => if (w == 1.0) b else b.copy(ub = b.ub * w))
    }
    val iv = pilotIntervals(perTerm, refineByBlocks(perTerm, p.candidates),
      targetDocs = math.max(64L * k, 1024L), disjunctive = p.disj)
    p.terms.map(t => t -> overlapping(metaOf(meta, t), iv)).toMap
  }

  /** The θ-prune: a range-surviving block b of term t is kept only if
    * wt(t)·ub(b) + Σ_{t'≠t} wt(t')·maxUb(t', b's range) can still reach θ
    * (an exact kth-score lower bound). That sum upper-bounds the score of
    * any doc in b, so every block of a doc scoring ≥ θ survives, in AND
    * and OR mode alike. θ = -∞ keeps every range survivor. */
  def thetaSel(meta: Map[String, Array[BlockMeta]], p: Plan,
               theta: Double): Map[String, Array[Int]] =
    if (theta == Double.NegativeInfinity) p.rangeSel
    else p.terms.map { t =>
      val m = metaOf(meta, t)
      t -> p.rangeSel(t).filter { i =>
        val b = m(i)
        val others = p.terms.iterator.filter(_ != t)
          .map(t2 => p.wt(t2) * maxUbIn(metaOf(meta, t2), b.first, b.last)).sum
        b.ub * p.wt(t) + others >= theta - 1e-9
      }
    }.toMap

  /** The (term, firstDocId) keys of the selected blocks. */
  def keysOf(meta: Map[String, Array[BlockMeta]],
             sel: Map[String, Array[Int]]): Iterator[(String, Int)] =
    sel.iterator.flatMap { case (t, idxs) => idxs.iterator.map(i => (t, meta(t)(i).first)) }

  /** Per-query pruning diagnostics (driver-side counts + executor-side
    * decoded-posting accumulator value, captured after the job). */
  final case class Diag(nTerms: Int, totalBlocks: Long, totalPostings: Long,
                        afterRangeBlocks: Long, afterThetaBlocks: Long,
                        decodedPostings: Long, theta: Double, usedWand: Boolean)
}

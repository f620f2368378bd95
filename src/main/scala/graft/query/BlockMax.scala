package graft.query

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
  * Planning is O(total blocks · nTerms) driver work on df/128-sized arrays
  * (a 10^8-df term is ~800k meta rows — collected once per query; beyond
  * that the same sweep distributes as a sort-merge join on range keys).
  */
object BlockMax {

  /** Block metadata: docId range, posting count, weighted score ceiling. */
  final case class BlockMeta(first: Int, last: Int, n: Int, ub: Double)

  /** Intersect per-term coverage (each term: DISJOINT intervals sorted by
    * `first`). Returns disjoint ascending intervals where every term has at
    * least one block — the conjunctive candidate docId space. */
  def intersectCoverage(perTerm: Seq[Array[BlockMeta]]): Array[(Int, Int)] = {
    require(perTerm.nonEmpty)
    var acc: Array[(Int, Int)] = perTerm.head.map(b => (b.first, b.last))
    var t = 1
    while (t < perTerm.size && acc.nonEmpty) {
      val other = perTerm(t)
      val out = scala.collection.mutable.ArrayBuilder.make[(Int, Int)]
      var i = 0
      var j = 0
      while (i < acc.length && j < other.length) {
        val lo = math.max(acc(i)._1, other(j).first)
        val hi = math.min(acc(i)._2, other(j).last)
        if (lo <= hi) out += ((lo, hi))
        if (acc(i)._2 < other(j).last) i += 1 else j += 1
      }
      acc = out.result()
      t += 1
    }
    acc
  }

  /** Union of per-term coverage: merged disjoint ascending intervals where
    * at least one term has a block — the DISJUNCTIVE candidate docId space
    * (adjacent intervals merge; coarsening is harmless, the intervals only
    * gate block selection). */
  def unionCoverage(perTerm: Seq[Array[BlockMeta]]): Array[(Int, Int)] = {
    val all = perTerm.iterator.flatten.map(b => (b.first, b.last)).toArray.sortBy(_._1)
    if (all.isEmpty) return Array.empty
    val out = scala.collection.mutable.ArrayBuffer(all(0))
    var i = 1
    while (i < all.length) {
      val (lo, hi) = all(i)
      val (plo, phi) = out.last
      if (lo <= phi + 1) { if (hi > phi) out(out.length - 1) = (plo, hi) }
      else out += ((lo, hi))
      i += 1
    }
    out.toArray
  }

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

  /** Per-query pruning diagnostics (driver-side counts + executor-side
    * decoded-posting accumulator value, captured after the job). */
  final case class Diag(nTerms: Int, totalBlocks: Long, totalPostings: Long,
                        afterRangeBlocks: Long, afterThetaBlocks: Long,
                        decodedPostings: Long, theta: Double, usedWand: Boolean)
}

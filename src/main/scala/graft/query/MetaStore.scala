package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Two-level block-metadata access for the driver-side query planners.
  *
  * Every search path plans over per-term block metadata (docId range,
  * posting count, score-ceiling fields). Collecting ALL meta rows of a
  * query's terms is O(Σ df/128) driver work per query — trivial at test
  * scale, but a hot term (df ≈ corpus) at 10^10 docs is ~780k meta rows
  * ≈ tens of MB, ×terms, ×every query. The reference's skip walk touches
  * only the pages it seeks through (`flash_iterators.h:181-227`); this
  * store gives the Spark planners the same locality two ways:
  *
  *  1. '''fine cache''' — complete per-term fine meta, LRU-cached on the
  *     loaded index for small terms, so warm serving re-plans without a
  *     collect (the per-(index, term) analog of [[LocalService]]'s
  *     posting cache);
  *  2. '''two-level fetch''' — when the df-estimated row count exceeds
  *     `spark.graft.meta.directRows`, fetch per-term COARSE coverage
  *     first (one row per docId super-bucket ≈ 128 blocks, cached),
  *     combine it with the query's AND/OR shape, and collect fine rows
  *     ONLY for blocks overlapping the combined coverage. On a hot∧rare
  *     conjunction the driver sees the hot term's blocks near the rare
  *     term's ranges — O(surviving coverage), not O(df/128).
  *
  * Soundness: a term's coarse coverage is a SUPERSET of its fine block
  * coverage, and every coverage combinator in use (interval intersection
  * for AND, union for OR, [[BoolQuery]]'s tree walk) is monotone — so
  * the combined coarse coverage contains every docId any true candidate
  * can have, and every block containing such a doc overlaps it and is
  * fetched. Restricting fine meta to that superset never drops a block a
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

  /** Diagnostics of the most recent [[fineMetaBy]] call on this thread. */
  final case class FetchDiag(estBlocks: Long, twoLevel: Boolean,
                             cacheHitTerms: Int, coarseRows: Long,
                             fineRows: Long)
  private val diagTL = new ThreadLocal[FetchDiag] {
    override def initialValue(): FetchDiag = FetchDiag(0L, twoLevel = false, 0, 0L, 0L)
  }
  def lastFetchDiag: FetchDiag = diagTL.get()

  private def confLong(ix: Searcher.LoadedIndex, key: String, dflt: Long): Long =
    try ix.spark.conf.get(key, dflt.toString).toLong
    catch { case _: NumberFormatException => dflt }

  /** Merge possibly-overlapping intervals into disjoint ascending ones. */
  def mergeIntervals(iv: Array[(Int, Int)]): Array[(Int, Int)] = {
    if (iv.length <= 1) return iv
    val s = iv.sortBy(_._1)
    val out = scala.collection.mutable.ArrayBuffer(s(0))
    var i = 1
    while (i < s.length) {
      val (lo, hi) = s(i)
      val (plo, phi) = out.last
      if (lo.toLong <= phi.toLong + 1L) {
        if (hi > phi) out(out.length - 1) = (plo, hi)
      } else out += ((lo, hi))
      i += 1
    }
    out.toArray
  }

  /** Coarsen disjoint ascending intervals to at most `max` by keeping only
    * the `max - 1` WIDEST gaps as separators. Coarsening only ADDS
    * coverage — sound for any fetch bound, it can never drop a block. */
  def coarsenTo(iv: Array[(Int, Int)], max: Int): Array[(Int, Int)] = {
    require(max >= 1)
    if (iv.length <= max) return iv
    // gap i sits between iv(i) and iv(i+1)
    val keep = iv.indices.dropRight(1)
      .sortBy(i => -(iv(i + 1)._1.toLong - iv(i)._2.toLong))
      .take(max - 1).sorted
    val out = new Array[(Int, Int)](keep.length + 1)
    var start = 0
    var j = 0
    for (cut <- keep) {
      out(j) = (iv(start)._1, iv(cut)._2)
      start = cut + 1
      j += 1
    }
    out(j) = (iv(start)._1, iv.last._2)
    out
  }

  /** Block-overlaps-any-interval predicate on (firstDocId, lastDocId) —
    * an OR of range conjuncts, pushed into the parquet scan where
    * row-group min/max stats prune non-overlapping groups. */
  def overlapPred(cov: Array[(Int, Int)]): Column =
    cov.iterator.map { case (lo, hi) =>
      col("lastDocId") >= lo && col("firstDocId") <= hi
    }.reduce(_ || _)

  private def asMeta(iv: Array[(Int, Int)]): Array[BlockMax.BlockMeta] =
    iv.map(r => BlockMax.BlockMeta(r._1, r._2, 0, 0.0))

  /** Intersection of two disjoint ascending interval sets. */
  def intersectIv(a: Array[(Int, Int)], b: Array[(Int, Int)]): Array[(Int, Int)] =
    if (a.isEmpty || b.isEmpty) Array.empty
    else BlockMax.intersectCoverage(Seq(asMeta(a), asMeta(b)))

  /** Merged union of interval sets. */
  def unionIv(ivs: Seq[Array[(Int, Int)]]): Array[(Int, Int)] =
    BlockMax.unionCoverage(ivs.map(asMeta))

  /** Per-term coarse coverage (merged ascending intervals) via the loaded
    * index's cache; returns the map plus rows fetched for diagnostics.
    * The result is built from LOCAL values (one atomic cache read per
    * term) — a concurrent eviction or invalidation can never surface as a
    * null interval; `epoch` guards puts against racing an invalidation. */
  private def coarseCoverage(ix: Searcher.LoadedIndex, terms: Seq[String],
                             epoch: Long)
      : (Map[String, Array[(Int, Int)]], Long) = {
    val spark = ix.spark
    import spark.implicits._
    val span = math.max(confLong(ix, "spark.graft.meta.superSpan", 1L << 14), 1L)
    val cached: Map[String, Array[(Int, Int)]] =
      terms.flatMap(t => Option(ix.coarseCovCache.get(t)).map(t -> _)).toMap
    val missing = terms.filterNot(cached.contains)
    var fetchedRows = 0L
    val fetched: Map[String, Array[(Int, Int)]] =
      if (missing.isEmpty) Map.empty
      else {
        // precomputed stage when present AND the span matches its build
        // default — a cold term reads O(df/16384) coarse rows directly
        // instead of aggregating its O(df/128) block rows
        val rows = ix.superBlocks match {
          case Some(sb) if span == graft.index.IndexBuilder.SuperSpan =>
            sb.filter(col("term").isin(missing: _*))
              .select("term", "lo", "hi").as[(String, Int, Int)].collect()
          case _ =>
            ix.postings.filter(col("term").isin(missing: _*))
              .groupBy(col("term"), expr(s"firstDocId div $span").as("bkt"))
              .agg(min("firstDocId").as("lo"), max("lastDocId").as("hi"))
              .select("term", "lo", "hi").as[(String, Int, Int)].collect()
        }
        fetchedRows = rows.length.toLong
        val byTerm = rows.groupBy(_._1)
        missing.map { t =>
          t -> byTerm.get(t)
            .map(rs => mergeIntervals(rs.map(r => (r._2, r._3))))
            .getOrElse(Array.empty[(Int, Int)])
        }.toMap
      }
    // an invalidation racing this fetch wins: stale rows are not cached
    if (ix.metaCacheEpochIs(epoch))
      fetched.foreach { case (t, iv) => ix.coarseCovCache.put(t, iv) }
    (cached ++ fetched, fetchedRows)
  }

  /** Fine meta rows for `terms` from `blocksAll` (the term-filtered
    * postings), bounded by the query's coverage when the df-estimated row
    * count exceeds the direct cap. `covOf` computes the combined coverage
    * from the per-term coarse coverage map — it must be monotone in each
    * term's intervals (AND/OR/tree combinators all are). */
  def fineMetaBy(ix: Searcher.LoadedIndex, blocksAll: DataFrame,
                 terms: Seq[String], dfs: Map[String, Long])
                (covOf: Map[String, Array[(Int, Int)]] => Array[(Int, Int)])
      : Array[FineRow] = {
    val spark = ix.spark
    import spark.implicits._
    // streaming appends invalidate cached meta; the returned epoch guards
    // this call's puts against racing a later invalidation
    val epoch = ix.ensureMetaCachesFresh()
    val distinct = terms.distinct
    val directCap = confLong(ix, "spark.graft.meta.directRows", 16384L)
    val est = distinct.iterator.map(t => dfs.getOrElse(t, 0L) / 128L + 1L).sum
    if (est <= directCap) {
      // direct path: serve cached terms driver-side (ONE atomic read per
      // term — a concurrent eviction between two reads would null),
      // fetch the rest once
      val cached: Seq[(String, Array[FineRow])] =
        distinct.flatMap(t => Option(ix.fineMetaCache.get(t)).map(t -> _))
      val hit = cached.iterator.map(_._1).toSet
      val missing = distinct.filterNot(hit)
      val fetched: Array[FineRow] =
        if (missing.isEmpty) Array.empty
        else blocksAll.filter(col("term").isin(missing: _*))
          .select("term", "firstDocId", "lastDocId", "n", "maxTf", "minLenByte")
          .as[FineRow].collect()
      val perTermCap = confLong(ix, "spark.graft.meta.cacheRowsPerTerm", 2048L)
      if (ix.metaCacheEpochIs(epoch)) { // never cache across an invalidation
        val byTerm = fetched.groupBy(_._1)
        missing.foreach { t =>
          val rs = byTerm.getOrElse(t, Array.empty[FineRow])
          if (rs.length <= perTermCap) ix.fineMetaCache.put(t, rs)
        }
      }
      diagTL.set(FetchDiag(est, twoLevel = false, hit.size, 0L, fetched.length.toLong))
      cached.iterator.flatMap(_._2).toArray ++ fetched
    } else {
      val (covMap, coarseRows) = coarseCoverage(ix, distinct, epoch)
      val cov = mergeIntervals(covOf(covMap))
      if (cov.isEmpty) {
        diagTL.set(FetchDiag(est, twoLevel = true, 0, coarseRows, 0L))
        Array.empty
      } else {
        val maxIv = confLong(ix, "spark.graft.meta.maxFetchIntervals", 512L).toInt
        val rows = blocksAll.filter(overlapPred(coarsenTo(cov, math.max(maxIv, 1))))
          .select("term", "firstDocId", "lastDocId", "n", "maxTf", "minLenByte")
          .as[FineRow].collect()
        diagTL.set(FetchDiag(est, twoLevel = true, 0, coarseRows, rows.length.toLong))
        rows
      }
    }
  }

  /** Diagnostics of the most recent [[boundedRangeMeta]] call on this
    * thread: coarse rows fetched, merged overlap interval count, and fine
    * exclusion rows collected. */
  final case class ExclDiag(estBlocks: Long, twoLevel: Boolean,
                            coarseRows: Long, overlapIv: Int, fineRows: Long)
  private val exclDiagTL = new ThreadLocal[ExclDiag] {
    override def initialValue(): ExclDiag =
      ExclDiag(0L, twoLevel = false, 0L, 0, 0L)
  }
  def lastExclDiag: ExclDiag = exclDiagTL.get()

  /** (term, firstDocId, lastDocId) rows of `terms` whose blocks overlap
    * `candidates` — the exclusion-term fetch shared by search /
    * matchingDocs / searchAll, under the same two-level discipline as
    * [[fineMetaBy]]: past the direct cap, each excluded term's COARSE
    * coverage (cached per term in the shared LRU) is intersected with the
    * positive candidates first, and fine rows are fetched only inside
    * that overlap — a hot excluded term against a hot positive side ships
    * rows proportional to the ranges where exclusion can actually bite,
    * not O(df/128). Soundness: a term's coarse coverage contains every
    * one of its blocks, so any exclusion block overlapping `candidates`
    * also overlaps coverage ∩ candidates and survives the fetch predicate
    * (coarsening only widens). The interval cap honors the same
    * `maxFetchIntervals` conf as the fine fetch. */
  def boundedRangeMeta(ix: Searcher.LoadedIndex, terms: Seq[String],
                       candidates: Array[(Int, Int)],
                       dfs: Map[String, Long] = Map.empty)
      : Array[(String, Int, Int)] = {
    val spark = ix.spark
    import spark.implicits._
    if (terms.isEmpty || candidates.isEmpty) return Array.empty
    val maxIv = confLong(ix, "spark.graft.meta.maxFetchIntervals", 512L).toInt
    val cand = mergeIntervals(candidates)
    val distinct = terms.distinct
    val directCap = confLong(ix, "spark.graft.meta.directRows", 16384L)
    // df-estimated exclusion meta volume; unknown dfs estimate as the cap
    // (unknown ⇒ assume hot ⇒ take the bounded two-level path, so the
    // direct path needs an estimate strictly below the cap)
    val est = distinct.iterator
      .map(t => dfs.get(t).map(_ / 128L + 1L).getOrElse(directCap)).sum
    def fetch(bound: Array[(Int, Int)]): Array[(String, Int, Int)] =
      ix.postings.filter(col("term").isin(distinct: _*))
        .select("term", "firstDocId", "lastDocId")
        .filter(overlapPred(coarsenTo(bound, math.max(1, maxIv))))
        .as[(String, Int, Int)].collect()
    if (est < directCap) {
      val rows = fetch(cand)
      exclDiagTL.set(ExclDiag(est, twoLevel = false, 0L, cand.length, rows.length.toLong))
      rows
    } else {
      val epoch = ix.ensureMetaCachesFresh()
      val (covMap, coarseRows) = coarseCoverage(ix, distinct, epoch)
      val overlap = mergeIntervals(distinct.toArray.flatMap(t =>
        intersectIv(covMap.getOrElse(t, Array.empty[(Int, Int)]), cand)))
      if (overlap.isEmpty) {
        exclDiagTL.set(ExclDiag(est, twoLevel = true, coarseRows, 0, 0L))
        Array.empty
      } else {
        val rows = fetch(overlap)
        exclDiagTL.set(ExclDiag(est, twoLevel = true, coarseRows,
          overlap.length, rows.length.toLong))
        rows
      }
    }
  }

  /** [[fineMetaBy]] with the standard shape algebra: `shapes` is a union
    * (over queries) of AND-of-OR groups — coverage = ∪ over shapes of
    * (∩ over groups of (∪ over member terms)). A single conjunctive query
    * is `Seq(terms.map(Seq(_)))`; a disjunctive one `Seq(Seq(terms))`;
    * synonym groups `Seq(groups)`; a batch contributes one shape per
    * query. */
  def fineMeta(ix: Searcher.LoadedIndex, blocksAll: DataFrame,
               terms: Seq[String], dfs: Map[String, Long],
               shapes: Seq[Seq[Seq[String]]]): Array[FineRow] =
    fineMetaBy(ix, blocksAll, terms, dfs) { covMap =>
      unionIv(shapes.map { groups =>
        val perGroup = groups.map(g =>
          unionIv(g.map(m => covMap.getOrElse(m, Array.empty[(Int, Int)]))))
        perGroup match {
          case Seq()        => Array.empty[(Int, Int)]
          case head +: tail => tail.foldLeft(head)(intersectIv)
        }
      })
    }
}

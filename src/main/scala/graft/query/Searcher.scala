package graft.query

import graft.core.{Bm25, LenByte}
import graft.index.PostingCodec
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed BM25 top-k serving over the block-encoded index — the Spark
  * re-expression of the reference's query path
  * (`vacuum_engine.h:201-258` → `query_processing.h:956-979` dispatch →
  * k-way leapfrog → lossy BM25 → bounded heap).
  *
  * Planning runs on the driver with no Spark job once the index is warm:
  * each stage's relation is resolved once per index snapshot (a
  * [[LoadedIndex]] memoizes it under the stage's file listing, so
  * `spark.read`'s schema inference is not paid per query), the query
  * terms' dfs (P2) are read from the termstats footers and column chunks
  * ([[LoadedIndex.dfs]]), and block metadata comes from [[MetaStore]]'s
  * caches. The jobs a query launches are then the scoring plan's own.
  *
  * Plan shape (all Catalyst-planned):
  *   1. term lookup (P1): `postings.filter(term IN queryTerms)` — pushed to
  *     the parquet scan; blocks are written term-sorted so row-group min/max
  *     prune everything else. Query terms are broadcast, never shuffled.
  *   2. skip pruning (J3 analog): block rows are pruned by
  *     [firstDocId,lastDocId] overlap with the rarest term's block ranges
  *     before any payload decode.
  *   3. decode (P3): only (docIds, tfs) columns decoded for scoring;
  *     `positions` is touched only by the phrase path — parquet column
  *     pruning keeps it unread ("read as needed").
  *   4. conjunctive intersection (J2): groupBy(docId) with count(distinct
  *     term) == nTerms — an equi-join on docId realized as one hash
  *     aggregation, partial/final, no join ordering issue at any arity.
  *   5. lossy BM25 (F5-F7): join with the (docId, lenByte) table, sum of
  *     idf·tfNormLossy per doc.
  *   6. exact global top-k (A5/O2/O3): orderBy(score desc, docId asc)
  *     limit k — Spark plans TakeOrderedAndProject: per-partition bounded
  *     heaps merged on the driver, the same partial/final shape as the
  *     reference's per-query heap (tie rule per SURVEY.md §8.4).
  */
object Searcher {

  final case class Hit(docId: Int, score: Double, rank: Int)

  /** The visible snapshot of one index stage: the segments in view (None
    * for a batch index) and the (path, length, mtime) of every parquet
    * file they hold. Any append, compaction or in-place rewrite of the
    * stage changes it. */
  private final case class StageKey(segs: Option[Seq[Long]],
                                    files: Seq[(String, Long, Long)])

  final case class LoadedIndex(spark: SparkSession, indexDir: String, nDocs: Long,
                               avgLen: Double, lossyCache: Array[Double],
                               asOfSeg: Option[Long] = None) {
    /** Driver-side per-term block-meta caches ([[MetaStore]]); LRU-bounded,
      * invalidated by [[ensureMetaCachesFresh]] when the live segment set
      * changes. Read each entry with ONE `get` — containsKey-then-get
      * races concurrent eviction. */
    private[query] val fineMetaCache: java.util.Map[String, Array[MetaStore.FineRow]] =
      MetaStore.lruMap(512)
    private[query] val coarseCovCache: java.util.Map[String, Array[(Int, Int)]] =
      MetaStore.lruMap(4096)
    /** [[postings]] re-resolves the manifest-committed LIVE segment set per
      * call, so a long-lived LoadedIndex over a streaming index SEES new
      * appends — the meta caches must not pin a term's old block set.
      * [[MetaStore]] calls this before every cache use: when the committed
      * segment set changed, both caches drop (a manifest listing, no
      * Spark job — each stage accessor pays the same listing for its
      * snapshot key).
      * Returns a monotonic invalidation epoch captured BEFORE the segment
      * listing; writers re-check it with [[metaCacheEpochIs]] before
      * caching. The epoch bumps on every clear, so a fetch whose view may
      * predate ANY later invalidation can never re-populate the cleared
      * cache — a stale thread's listing can race the install of a newer
      * stamp string, but it cannot rewind the epoch, so its puts are
      * rejected (one uncached query after a change, never stale meta). */
    private val metaCacheStamp =
      new java.util.concurrent.atomic.AtomicReference[String](null)
    private val metaCacheEpoch =
      new java.util.concurrent.atomic.AtomicLong(0L)
    private[query] def ensureMetaCachesFresh(): Long = {
      val epoch = metaCacheEpoch.get() // BEFORE the listing, deliberately
      val stamp =
        if (!hasSegments) ""
        else liveSegments.mkString(",")
      if (metaCacheStamp.get() != stamp) synchronized {
        val cur = metaCacheStamp.get()
        if (cur != stamp) {
          metaCacheStamp.set(stamp)
          // first install (cur == null): the caches are still empty, so no
          // invalidation happened — don't bump, or the very first query's
          // puts would be rejected and the warm path would start cold twice
          if (cur != null) {
            fineMetaCache.clear()
            coarseCovCache.clear()
            metaCacheEpoch.incrementAndGet()
          }
        }
      }
      epoch
    }
    private[query] def metaCacheEpochIs(epoch: Long): Boolean =
      metaCacheEpoch.get() == epoch
    private def hasSegments: Boolean = {
      val d = java.nio.file.Paths.get(indexDir, "termstats")
      java.nio.file.Files.exists(d) && {
        val s = java.nio.file.Files.list(d)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.exists(_.getFileName.toString.startsWith("seg="))
        } finally s.close()
      }
    }
    /** Manifest-committed LIVE segments, optionally restricted to the
      * [[asOfSeg]] snapshot (segments with id <= asOfSeg): the Iceberg
      * time-travel analog over the segment commit log. Compaction retires
      * its source segments, so snapshots older than the last compaction
      * are no longer readable — the snapshot-expiry semantics Iceberg has
      * when old snapshots are cleaned up. Delete tombstones are Lucene
      * live-docs: they apply to whatever segments are visible, they are
      * not part of the segment snapshot. */
    private def liveSegments: Seq[Long] = {
      val live = graft.index.Manifest.committedSegments(indexDir)
      asOfSeg.fold(live)(n => live.filter(_ <= n))
    }
    /** The segments a stage read sees: None for a batch (unsegmented)
      * index, else the manifest-committed live set ([[liveSegments]]). */
    private def visibleSegments: Option[Seq[Long]] =
      if (!hasSegments) None else Some(liveSegments)

    /** The visible snapshot of `stage` ([[StageKey]]): the stage directory
      * of a batch index, or the `seg=` directories of the visible segments
      * — uncommitted or retired segment directories are never listed.
      * Hidden and `_`-prefixed files are skipped, as Spark's file index
      * skips them. Listed on the driver, no Spark job. */
    private def stageKey(stage: String): StageKey = {
      val segs = visibleSegments
      val root = java.nio.file.Paths.get(indexDir, stage)
      StageKey(segs, dataFiles(segs.fold(Seq(root))(_.map(s => root.resolve(s"seg=$s")))))
    }
    /** (path, length, mtime) of the data files directly under `dirs`,
      * sorted by path; a missing directory lists nothing. */
    private def dataFiles(dirs: Seq[java.nio.file.Path]): Seq[(String, Long, Long)] = {
      import scala.jdk.CollectionConverters._
      dirs.filter(java.nio.file.Files.isDirectory(_)).flatMap { d =>
        val s = java.nio.file.Files.list(d)
        try s.iterator().asScala.filter { f =>
          val n = f.getFileName.toString
          !n.startsWith("_") && !n.startsWith(".")
        }.flatMap { f =>
          val a = java.nio.file.Files.readAttributes(f,
            classOf[java.nio.file.attribute.BasicFileAttributes])
          if (a.isRegularFile) Some((f.toString, a.size, a.lastModifiedTime.toMillis))
          else None
        }.toSeq.sortBy(_._1)
        finally s.close()
      }
    }

    /** Per-snapshot memo: each relation (and each stage's driver-side
      * file reader) is resolved once per snapshot key — `spark.read`'s
      * schema inference is a Spark job, so re-resolving per query would
      * pay it on every call. One entry per name: a new key replaces the
      * old snapshot's entry, never adds to it. */
    private final class Memo(val key: AnyRef, build: => AnyRef) {
      lazy val value: AnyRef = build
    }
    private val memo = new java.util.concurrent.ConcurrentHashMap[String, Memo]()
    private def memoized[A <: AnyRef](name: String, key: AnyRef)(build: => A): A =
      memo.compute(name, (_, old) => if (old != null && old.key == key) old else new Memo(key, build))
        .value.asInstanceOf[A]

    /** For a segmented (streaming) index, restrict partition discovery to
      * the manifest-committed LIVE segments — an in-flight append or a
      * compaction between publish and cleanup leaves seg= directories on
      * disk that must not be read (exactly-once visibility). The isin
      * filter is partition pruning: retired dirs are never scanned. */
    private def segRead(stage: String, key: StageKey): DataFrame = {
      val df = spark.read.parquet(s"$indexDir/$stage")
      key.segs.fold(df)(live => df.filter(col("seg").isin(live: _*)))
    }
    private def stageRelation(stage: String, name: String = "")(
        relation: (DataFrame, StageKey) => DataFrame = (df, _) => df): DataFrame = {
      val key = stageKey(stage)
      memoized(if (name.isEmpty) stage else name, key)(relation(segRead(stage, key), key))
    }
    /** Driver-side reader over the visible snapshot's files of `stage`
      * (listed on the driver, no Spark job — see [[StageKey]]); its footer
      * cache lives as long as the snapshot does. */
    private[graft] def parquetFiles(stage: String): SnapshotReader.StageFiles = {
      val key = stageKey(stage)
      memoized(s"$stage.files", key)(new SnapshotReader.StageFiles(key.files.map(_._1)))
    }

    def postings: DataFrame = stageRelation("postings")()
    /** Whether the postings carry the inline per-posting norm stream
      * (`lenBytes`, [[graft.index.PostingCodec]]). When true, scoring is
      * join-free; a legacy index without the column falls back to the
      * (docId, lenByte) docstore-projection join. Resolved once per loaded
      * index from the visible files' parquet footers on the driver — no
      * data read, no Spark job. Only a missing stage (no visible postings
      * file) reads as false; a footer that cannot be read is an error. */
    lazy val hasInlineLen: Boolean = {
      val files = parquetFiles("postings")
      files.paths.nonEmpty && files.paths.forall(files.hasColumn(_, "lenBytes"))
    }
    /** For an incrementally-built index (streaming segments) stats rows are
      * per (term, segment) and need summing; a batch index skips the extra
      * aggregation. */
    def termstats: DataFrame = stageRelation("termstats") { (raw, key) =>
      if (key.segs.isDefined) raw.groupBy("term").agg(sum("df").as("df"), sum("cf").as("cf"))
      else raw
    }
    /** df of each query term present in the visible snapshot's termstats
      * (a segmented index sums its per-segment rows); an absent term has
      * no entry. Read on the driver ([[SnapshotReader]]): row groups whose
      * `term` statistics exclude every wanted term are skipped, and no
      * Spark job runs. */
    def dfs(terms: Seq[String]): Map[String, Long] =
      SnapshotReader.presentDfs(parquetFiles("termstats"), terms)
    /** Doc lengths: a columnar projection of the docstore (len/lenByte are
      * stored inline — parquet reads exactly these 3 columns); falls back
      * to a legacy standalone doclen/ stage when present. */
    def doclen: DataFrame =
      if (java.nio.file.Files.exists(java.nio.file.Paths.get(indexDir, "doclen")))
        stageRelation("doclen")()
      else stageRelation("docstore", "doclen")((df, _) => df.select("docId", "len", "lenByte"))
    def docstore: DataFrame = stageRelation("docstore")()
    /** Committed delete tombstones (union of generations), if any — the
      * Lucene live-docs analog ([[graft.index.Tombstones]]). None on the
      * common no-deletes index: the query path pays one directory listing,
      * no Spark job. Memoized per committed generation set AND its files:
      * generation numbers restart at 1 once a compaction retires every
      * generation, so the numbers alone do not name a snapshot. */
    def tombstones: Option[DataFrame] = {
      val gens = graft.index.Tombstones.committedGens(indexDir)
      val root = java.nio.file.Paths.get(indexDir, "tombstones")
      memoized("tombstones", (gens, dataFiles(gens.map(g => root.resolve(s"gen=$g")))))(
        graft.index.Tombstones.read(spark, indexDir))
    }
    /** Reversed-term dictionary (lazy, cached once per loaded index): the
      * leading-wildcard scale path. A `*suffix` glob has no literal prefix
      * to push into the sorted dictionary, so the naive rewrite LIKE-scans
      * every dictionary row — at 10^9 terms that is the whole dictionary
      * per query. Reversing the terms turns a literal suffix into a
      * literal PREFIX: this copy is range-partitioned and sorted by the
      * reversed term and cached, so a StartsWith probe prunes cached
      * batches by min/max stats — the same descent [[expandPrefix]] gets
      * from the forward dictionary (Lucene/Solr's ReversedWildcardFilter
      * plays the same trick with a reversed-token field). */
    lazy val revTermstats: DataFrame = {
      import org.apache.spark.sql.functions.reverse
      termstats
        .select(reverse(col("term")).as("rev"), col("term"), col("df"))
        .repartitionByRange(col("rev"))
        .sortWithinPartitions("rev")
        .cache()
    }
    /** Two-way phrase-pruning bloom store, if present AND covering every
      * live segment. The J5 semi-join is an inner join on docId, so a
      * bloom store missing some segment's docs would silently drop phrase
      * candidates from those docs — partial coverage therefore disables
      * pruning entirely (lossy-safe: the positional check stays exact). */
    def bloom: Option[DataFrame] = {
      val p = java.nio.file.Paths.get(indexDir, "bloom")
      val key = stageKey("bloom")
      memoized("bloom", key) {
        if (!java.nio.file.Files.exists(p) ||
            key.segs.exists(!_.forall(s => java.nio.file.Files.exists(p.resolve(s"seg=$s"))))) None
        else Some(segRead("bloom", key))
      }
    }
    /** Trigram posting runs ([[graft.index.TrigramIndex]]), if present AND
      * covering every live segment — partial coverage disables the index
      * path entirely (candidates from a missing segment would silently
      * drop results; callers fall back to a full verify scan, still
      * exact). Cached: substring queries reuse the decoded store. */
    lazy val trigrams: Option[DataFrame] = {
      val p = java.nio.file.Paths.get(indexDir, "trigrams")
      if (!java.nio.file.Files.exists(p)) None
      else if (!hasSegments) {
        // batch stage: only a manifest-committed dir is readable (a crash
        // mid-write leaves parquet parts without the manifest)
        if (!graft.index.Manifest.isCommitted(indexDir, "trigrams")) None
        else Some(spark.read.parquet(s"$indexDir/trigrams").cache())
      } else {
        val live = liveSegments
        if (!live.forall(s => java.nio.file.Files.exists(p.resolve(s"seg=$s")))) None
        else Some(spark.read.parquet(s"$indexDir/trigrams")
          .filter(col("seg").isin(live: _*)).drop("seg").cache())
      }
    }
    /** SymSpell deletion-neighborhood stage ([[graft.index.FuzzyIndex]]):
      * (rows, builtDist, segmented). A batch index serves its `fuzzy/`
      * stage; a SEGMENTED index serves the union of per-segment tables —
      * the probe then aggregates per-(seg, term) rows
      * ([[graft.index.FuzzyIndex.probeSegmented]]) — but only when EVERY
      * live segment carries a table (all-or-nothing: a partially-covered
      * index takes the exact dictionary-scan fallback; builtDist is the
      * MINIMUM over segments, the distance every table covers).
      * A `def` (like [[postings]]): the segment set is re-checked per
      * call, so an append lacking a fuzzy table stops serving the
      * segmented stage immediately; the relation itself is resolved once
      * per snapshot. */
    def fuzzy: Option[(DataFrame, Int, Boolean)] = {
      val key = stageKey("fuzzy")
      key.segs match {
        case None =>
          val committed = graft.index.Manifest.isCommitted(indexDir, "fuzzy")
          val dist = if (committed) graft.index.FuzzyIndex.stageMaxDist(indexDir) else 0
          memoized("fuzzy", (key, committed, dist)) {
            if (!committed) None
            else Some((spark.read.parquet(s"$indexDir/fuzzy"), dist, false))
          }
        case Some(live) =>
          val dists = live.map(s => graft.index.FuzzyIndex.segMaxDist(indexDir, s))
          memoized("fuzzy", (key, dists)) {
            if (live.isEmpty || dists.exists(_ <= 0)) None
            else Some((spark.read.option("basePath", s"$indexDir/fuzzy")
              .parquet(live.map(s => s"$indexDir/fuzzy/seg=$s"): _*),
              dists.min, true))
          }
      }
    }
    /** Persisted coarse super-block metadata (term, lo, hi) for
      * [[MetaStore]]'s two-level fetch. A batch index serves its
      * `superblocks/` stage; a SEGMENTED index serves the union of
      * per-segment stages when every live segment carries one (rows from
      * different segments are just more intervals — [[MetaStore]] merges
      * them); otherwise the per-query aggregation over postings remains
      * the fallback. A `def` for the same append-staleness reason as
      * [[fuzzy]]. */
    def superBlocks: Option[DataFrame] = {
      val key = stageKey("superblocks")
      val committed = key.segs.isEmpty &&
        graft.index.Manifest.isCommitted(indexDir, "superblocks")
      memoized("superblocks", (key, committed)) {
        key.segs match {
          case None =>
            if (!committed) None
            else Some(spark.read.parquet(s"$indexDir/superblocks"))
          case Some(live) =>
            val p = java.nio.file.Paths.get(indexDir, "superblocks")
            if (live.isEmpty ||
                !live.forall(s => java.nio.file.Files.exists(p.resolve(s"seg=$s")))) None
            else Some(spark.read.option("basePath", s"$indexDir/superblocks")
              .parquet(live.map(s => s"$indexDir/superblocks/seg=$s"): _*))
        }
      }
    }
  }

  /** Load an index for querying. `asOfSeg` opens a SNAPSHOT read of a
    * segmented index — only segments committed with id <= asOfSeg are
    * visible, and the corpus stats (N, avgdl, hence every BM25 score) are
    * recomputed over exactly that snapshot, so an as-of query is
    * bit-identical to querying the index as it stood at that commit
    * (asserted in StreamingSpec). The segment manifests are the snapshot
    * log — the Iceberg-checkpoint resumability story read back as time
    * travel. */
  def load(spark: SparkSession, indexDir: String,
           asOfSeg: Option[Long] = None): LoadedIndex = {
    import spark.implicits._
    // nDocs and exact avg: integer sum / count — deterministic at any
    // parallelism (no FP accumulation-order dependence).
    val probe = LoadedIndex(spark, indexDir, 0L, 0.0, Array.empty, asOfSeg)
    val (n, sumLen) = probe.doclen
      .agg(count(lit(1)), coalesce(sum($"len"), lit(0L)).cast("long"))
      .as[(Long, Long)].head()
    val avg = if (n == 0) 0.0 else sumLen.toDouble / n
    LoadedIndex(spark, indexDir, n, avg, Bm25.lossyCache(avg), asOfSeg)
  }

  /** `bloom_enable_factor` sentinel: never consult the bloom store
    * (reference `types.h:54`). */
  val BloomNeverUse = 0

  /** Decode posting blocks into scoring rows (term, docId, tf, lenByte).
    *
    * An inline-norm index ([[LoadedIndex.hasInlineLen]]) reads the lenByte
    * from the block's own `lenBytes` stream — the whole scoring pipeline
    * then runs with ZERO joins against per-doc state. A legacy index joins
    * the (docId, lenByte) docstore projection instead; that join is the
    * scale hazard this codec stream exists to remove (at 10^10 docs the
    * projection is neither broadcastable nor cheap to shuffle decoded
    * postings against).
    *
    * `acc` (optional) accumulates decoded-posting counts for diagnostics. */
  def decodedScoreRows(ix: LoadedIndex, blocks: DataFrame,
                       acc: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
    val spark = ix.spark
    import spark.implicits._
    if (ix.hasInlineLen) {
      blocks.select("term", "prevDocId", "n", "docIds", "tfs", "lenBytes")
        .as[(String, Int, Int, Array[Byte], Array[Byte], Array[Byte])]
        .flatMap { case (t, prev, n, ids, tfs, lbs) =>
          acc.foreach(_.add(n))
          val dt = PostingCodec.decodeDocIdTf(prev, n, ids, tfs)
          val lb = PostingCodec.decodeLenBytes(n, lbs)
          dt.iterator.zipWithIndex.map { case ((d, tf), i) => (t, d, tf, lb(i)) }
        }
        .toDF("term", "docId", "tf", "lenByte")
    } else {
      blocks.select("term", "prevDocId", "n", "docIds", "tfs")
        .as[(String, Int, Int, Array[Byte], Array[Byte])]
        .flatMap { case (t, prev, n, ids, tfs) =>
          acc.foreach(_.add(n))
          PostingCodec.decodeDocIdTf(prev, n, ids, tfs).iterator.map(p => (t, p._1, p._2))
        }
        .toDF("term", "docId", "tf")
        .join(ix.doclen.select(col("docId"), col("lenByte")), "docId")
    }
  }

  /** Conjunctive (optionally phrase) BM25 top-k for one query.
    * Returns (docId, score, rank), rank 1-based.
    *
    * `bloomFactor` is the reference's `bloom_enable_factor`
    * (`query_processing.h:795-807`, default 1): for a 2-term phrase the
    * bloom probe direction is cost-ruled by posting-list sizes —
    * `factor*df1 <= df2` probes term1's END filter for term2,
    * `factor*df2 < df1` probes term2's BEGIN filter for term1, and
    * comparable sizes skip the bloom entirely; k>2 falls back to the
    * end-filter chain over adjacent pairs (`CheckBloomFallBack`). */
  def search(ix: LoadedIndex, queryTerms: Seq[String], k: Int,
             phrase: Boolean = false, bloomFactor: Int = 1,
             wandMinPostings: Long = 50000L,
             conjunctive: Boolean = true,
             excludeTerms: Seq[String] = Nil,
             slop: Int = 0,
             after: Option[(Double, Int)] = None,
             boosts: Map[String, Double] = Map.empty,
             phraseShifts: Option[Seq[Int]] = None): Dataset[Hit] = {
    require(conjunctive || !phrase, "phrase queries are conjunctive by definition")
    require(slop >= 0, "slop must be non-negative")
    // explicit per-slot shifts (analyzed-query position gaps, Lucene
    // match_phrase semantics): exact-phrase only, one shift per slot
    require(phraseShifts.forall(sh => phrase && slop == 0 &&
        sh.size == queryTerms.size && sh.sliding(2).forall {
          case Seq(a, b) => a < b; case _ => true }),
      "phraseShifts require an exact phrase and strictly increasing shifts")
    // boosts scale each slot's idf weight; non-positive boosts would break
    // the BMW ceiling rule (ub would no longer upper-bound the slot score)
    require(boosts.valuesIterator.forall(_ > 0.0), "boosts must be positive")
    val spark = ix.spark
    import spark.implicits._
    val terms0 = queryTerms.distinct
    if (terms0.isEmpty || k <= 0) return spark.emptyDataset[Hit]
    // NOT (set difference — Lucene MUST_NOT; completes the Boolean family
    // alongside the OR completion above): a required term that is also
    // excluded is unsatisfiable by construction.
    val exTerms = excludeTerms.distinct
    if (conjunctive && exTerms.exists(terms0.contains))
      return spark.emptyDataset[Hit]

    // (P1/P2) df per query term from the broadcast-sized termstats.
    // Conjunctive: empty result if any term is absent
    // (`qq_mem_engine.h:345-347`). Disjunctive (SearchOperator::OR,
    // declared `types.h:70` but never implemented by the reference —
    // completed here): absent terms contribute nothing.
    val dfs: Map[String, Long] = ix.dfs((terms0 ++ exTerms).distinct)
    if (conjunctive && terms0.exists(t => !dfs.contains(t)))
      return spark.emptyDataset[Hit]
    val terms = if (conjunctive) terms0 else terms0.filter(dfs.contains)
    if (terms.isEmpty) return spark.emptyDataset[Hit]
    val idfs: Map[String, Double] = dfs.map { case (t, df) => t -> Bm25.idf(ix.nDocs, df) }
    // a repeated query term scores once PER SLOT (`scoring.h:133-142`) —
    // fold the multiplicity AND the query-time boost into the idf weight,
    // for scoring bounds (every slot of term t contributes
    // ≤ idf·boost·maxTfNorm, so the summed ceiling stays an upper bound)
    val idfW: Map[String, Double] =
      idfs.map { case (t, v) =>
        t -> v * queryTerms.count(_ == t) * boosts.getOrElse(t, 1.0) }
    val cache = ix.lossyCache
    val nTerms = terms.size

    // ---- block-max planning (J3 skip + BMW, driver-side on df/128 meta) ----
    // 1. candidate docId space = intersection of every term's block coverage
    //   (generalizes the rarest-term range prune: rare∧hot decodes only the
    //   hot blocks overlapping the rare term's ranges, any-arity).
    // 2. optional WAND θ-prune for large decodes: a pilot job over the
    //   highest-ceiling candidate intervals computes an exact kth-score
    //   lower bound θ; a block then survives only if its own ceiling plus
    //   the other terms' max ceilings over its range can still reach θ.
    //   Every posting of a doc with true score >= θ sits in a surviving
    //   block (its co-terms' blocks overlap its own), so the final
    //   aggregation stays exact.
    val blocks = ix.postings.filter($"term".isin(terms: _*))
    // meta rows fetched through [[MetaStore]]: per-term LRU cache on the
    // warm path, two-level coarse→fine fetch past the direct cap — the
    // driver never holds O(Σ df/128) rows for a hot∧rare conjunction
    val metaShape = if (conjunctive) terms.map(Seq(_)) else Seq(terms.toSeq)
    val metaRaw = MetaStore.fineMeta(ix, blocks, terms, dfs, Seq(metaShape))
    val meta: Map[String, Array[BlockMax.BlockMeta]] = metaRaw.groupBy(_._1)
      .map { case (t, rs) =>
        val w = idfW(t)
        t -> rs.sortBy(_._2).map(r => BlockMax.BlockMeta(r._2, r._3, r._4,
          w * Bm25.tfNormLossy(r._5.toLong, r._6, cache)))
      }
    val perTerm = terms.map(t => meta.getOrElse(t, Array.empty[BlockMax.BlockMeta]))
    // conjunctive: a matching doc lies in EVERY term's coverage → intersect.
    // disjunctive: any term's coverage can contribute → union. The WAND
    // θ-prune below is sound in both modes: a block b of term t is dropped
    // only when ub(b) + Σ_{t'≠t} maxUb(t', b.range) < θ, which upper-bounds
    // ANY doc in b's total score, so every block of a doc with true score
    // ≥ θ survives and its score is computed in full.
    val candidates =
      if (conjunctive) BlockMax.intersectCoverage(perTerm)
      else BlockMax.unionCoverage(perTerm)
    if (candidates.isEmpty) return spark.emptyDataset[Hit]
    val rangeSurvivors: Map[String, Array[Int]] =
      terms.map(t => t -> BlockMax.overlapping(meta(t), candidates)).toMap
    val afterRangeBlocks = rangeSurvivors.valuesIterator.map(_.length.toLong).sum
    val estPostings = terms.iterator
      .map(t => rangeSurvivors(t).iterator.map(i => meta(t)(i).n.toLong).sum).sum

    // Excluded-doc set, skip-pruned: only exclusion blocks whose docId range
    // overlaps the POSITIVE terms' candidate coverage are decoded — a hot
    // excluded term (`-return` over source code) costs only the slice of its
    // postings that can intersect the required terms, never a full decode.
    // Applied inside scoreOf so the WAND pilot's θ is computed over
    // post-exclusion docs (otherwise θ could exceed the true kth final
    // score and over-prune).
    val exDocs: Option[DataFrame] =
      if (exTerms.isEmpty) None
      else {
        val exBlocks = ix.postings.filter($"term".isin(exTerms: _*))
        // meta bounded by the POSITIVE candidates' coverage
        val exMetaRaw = MetaStore.boundedRangeMeta(ix, exTerms, candidates, dfs)
        val exKeys = exMetaRaw.groupBy(_._1).iterator.flatMap { case (t, rs) =>
          val m = rs.sortBy(_._2).map(r => BlockMax.BlockMeta(r._2, r._3, 0, 0.0))
          BlockMax.overlapping(m, candidates).iterator.map(i => (t, m(i).first))
        }.toSeq
        if (exKeys.isEmpty) None
        else {
          val keysDf = broadcast(exKeys.toDF("term", "firstDocId"))
          Some(exBlocks.join(keysDf, Seq("term", "firstDocId"), "left_semi")
            .select("prevDocId", "n", "docIds", "tfs")
            .as[(Int, Int, Array[Byte], Array[Byte])]
            .flatMap { case (prev, n, ids, tfs) =>
              PostingCodec.decodeDocIdTf(prev, n, ids, tfs).iterator.map(_._1)
            }
            .toDF("docId").distinct())
        }
      }
    // Delete tombstones compose with NOT-term exclusion: both are doc-level
    // anti-joins applied INSIDE scoreOf, so the WAND pilot's θ is computed
    // over post-delete docs (a deleted doc inflating θ could over-prune).
    // Stats (N, avgdl, df, idf) above were computed WITHOUT the tombstones
    // — Lucene delete semantics: surviving docs score identically until a
    // merge re-baselines the stats.
    val delDocs: Option[DataFrame] = ix.tombstones
    // `after` cursor (deep paging): scores are bitwise-deterministic
    // (slot-ordered FP sum), so the strict-total-order predicate on
    // (score desc, docId asc) is exact across recomputation. Applied HERE —
    // inside scoreOf — so the WAND pilot's θ is the kth score AFTER the
    // cursor and block pruning stays sound for any page.
    def minusExcluded(df: DataFrame): DataFrame = {
      val afterEx = exDocs.map(e => df.join(e, Seq("docId"), "left_anti")).getOrElse(df)
      val afterDel = delDocs.map(d => afterEx.join(d, Seq("docId"), "left_anti")).getOrElse(afterEx)
      after match {
        case Some((s0, d0)) =>
          afterDel.filter($"score" < s0 || ($"score" === s0 && $"docId" > d0))
        case None => afterDel
      }
    }

    val decodedAcc = spark.sparkContext.longAccumulator("graft.decodedPostings")
    def blocksFor(sel: Map[String, Array[Int]]): DataFrame = {
      val keys: Set[(String, Int)] = sel.iterator.flatMap { case (t, idxs) =>
        idxs.iterator.map(i => (t, meta(t)(i).first))
      }.toSet
      // broadcast semi-join (not a scalar UDF): stays in whole-stage
      // codegen, and the key set is bounded by the query terms' block counts
      val keysDf = broadcast(keys.toSeq.toDF("term", "firstDocId"))
      blocks.join(keysDf, Seq("term", "firstDocId"), "left_semi")
    }

    // per-SLOT scoring: the reference (and the oracle) sums a doc's score
    // slot by slot in query order (`scoring.h:133-142`), while a hash-agg
    // sum(partScore) accumulates in partition-dependent order — equal up to
    // ulps, which is enough to flip a rank TIE between two template docs
    // with equal true scores at corpus scale (and makes scores vary run to
    // run). One broadcast row per (slot, term) — a repeated term is a
    // separate slot, an absent (disjunctive) slot contributes no rows —
    // then the aggregation collects the (slot, partScore) pairs (each slot
    // has <=1 contribution per doc, so no accumulation happens inside a
    // slot) and the codegen'd [[graft.functions.SlotOrderedSum]] re-adds
    // them in slot order: bitwise-deterministic and bitwise-identical to
    // the oracle's loop. `firstSlot` marks the first slot of each distinct
    // term so nMatched is a plain conditional count (no countDistinct
    // Expand rewrite doubling the aggregation input).
    val slotDf = broadcast(queryTerms.zipWithIndex.map { case (t, i) =>
      (i, t, idfs.getOrElse(t, 0.0) * boosts.getOrElse(t, 1.0),
        queryTerms.indexOf(t) == i)
    }.toDF("slot", "term", "idf", "firstSlot"))
    val cacheLit = array(cache.map(lit).toSeq: _*)
    val partScoreExpr = $"idf" *
      ($"tf" * lit(Bm25.K1 + 1.0) / ($"tf" + element_at(cacheLit, $"lenByte" + 1)))
    // conjunctive AND + per-slot score pivot in one hash aggregation over
    // decoded (term, docId, tf) triples — (P3) only scoring columns are read
    def scoreOf(sel: DataFrame): DataFrame = {
      val agg = decodedScoreRows(ix, sel, Some(decodedAcc))
        .join(slotDf, "term")
        .withColumn("partScore", partScoreExpr)
        .groupBy($"docId")
        .agg(sum(when($"firstSlot", 1).otherwise(0)).as("nMatched"),
          collect_list(struct($"slot", $"partScore")).as("sps"))
        .withColumn("score", graft.functions.functions.slot_sum($"sps"))
      minusExcluded(if (conjunctive) agg.filter($"nMatched" === nTerms) else agg)
    }

    val usedWand = !phrase && estPostings > wandMinPostings
    val (finalSel, theta) =
      if (!usedWand) (rangeSurvivors, Double.NegativeInfinity)
      else {
        val pilotIv = BlockMax.pilotIntervals(perTerm,
          BlockMax.refineByBlocks(perTerm, candidates),
          targetDocs = math.max(64L * k, 1024L), disjunctive = !conjunctive)
        val pilotSel = terms.map(t => t -> BlockMax.overlapping(meta(t), pilotIv)).toMap
        val pilotTop = scoreOf(blocksFor(pilotSel))
          .orderBy(desc("score"), asc("docId")).limit(k)
          .select($"score").as[Double].collect()
        if (pilotTop.length < k) (rangeSurvivors, Double.NegativeInfinity)
        else {
          val th = pilotTop.last
          val sel = terms.map { t =>
            t -> rangeSurvivors(t).filter { i =>
              val b = meta(t)(i)
              val others = terms.iterator.filter(_ != t)
                .map(t2 => BlockMax.maxUbIn(meta(t2), b.first, b.last)).sum
              b.ub + others >= th - 1e-9
            }
          }.toMap
          (sel, th)
        }
      }
    val pruned = blocksFor(finalSel)
    def publishDiag(): Unit = lastDiag.set(BlockMax.Diag(
      nTerms, metaRaw.length.toLong,
      meta.valuesIterator.flatten.map(_.n.toLong).sum,
      afterRangeBlocks, finalSel.valuesIterator.map(_.length.toLong).sum,
      decodedAcc.value, theta, usedWand))

    val matched =
      if (!phrase) null // scored directly via scoreOf(pruned) below
      else {
        // (J4) phrase path: decode positions for candidate docs and keep
        // only docs where adjusted positions intersect. The per-posting
        // norm rides the decode on an inline-norm index (lenByte = -1
        // marks a legacy index; scoring joins the docstore projection).
        val inlineLen = ix.hasInlineLen
        val withPos0 =
          if (inlineLen)
            pruned.select("term", "prevDocId", "n", "docIds", "tfs", "lenBytes", "positions")
              .as[(String, Int, Int, Array[Byte], Array[Byte], Array[Byte], Array[Byte])]
              .flatMap { case (t, prev, n, ids, tfs, lbs, pos) =>
                val dt = PostingCodec.decodeDocIdTf(prev, n, ids, tfs)
                val lb = PostingCodec.decodeLenBytes(n, lbs)
                val ps = PostingCodec.decodePositions(n, pos)
                dt.iterator.zipWithIndex.map { case ((d, tf), i) => (t, d, tf, ps(i), lb(i)) }
              }
          else
            pruned.select("term", "prevDocId", "n", "docIds", "tfs", "positions")
              .as[(String, Int, Int, Array[Byte], Array[Byte], Array[Byte])]
              .flatMap { case (t, prev, n, ids, tfs, pos) =>
                val dt = PostingCodec.decodeDocIdTf(prev, n, ids, tfs)
                val ps = PostingCodec.decodePositions(n, pos)
                dt.iterator.zipWithIndex.map { case ((d, tf), i) => (t, d, tf, ps(i), -1) }
              }
        // (J5) bloom semi-join: two-way cost-ruled probes against the bloom
        // store — lossy-positive, so the positional check below stays exact.
        // Each check is (rowTerm, probe, useEnd): read rowTerm's filter for
        // this doc and test `probe` against its end (successor) or begin
        // (predecessor) side, direction picked by the posting-size rule.
        // Bloom filters encode ADJACENCY (the successor/predecessor pair
        // sets), so they only apply at slop 0 — a proximity match need not
        // contain any adjacent pair — and only when explicit shifts (if
        // any) are consecutive: a stopword gap breaks pair adjacency.
        val gappedShifts = phraseShifts.exists(sh =>
          !sh.indices.forall(i => sh(i) == sh.head + i))
        val checks: Seq[(String, String, Boolean)] =
          if (bloomFactor == BloomNeverUse || queryTerms.size < 2 ||
              slop > 0 || gappedShifts) Seq.empty
          else if (queryTerms.size == 2) {
            val (a, b) = (queryTerms.head, queryTerms(1))
            val (da, db) = (dfs(a), dfs(b))
            if (bloomFactor.toLong * da <= db) Seq((a, b, true))        // end-probe a→b
            else if (bloomFactor.toLong * db < da) Seq((b, a, false))   // begin-probe b←a
            else Seq.empty                                              // comparable: skip bloom
          } else queryTerms.sliding(2).map(p => (p.head, p(1), true)).toSeq
        val bloomDf = if (checks.isEmpty) None else ix.bloom
        val withPos = bloomDf match {
          case Some(bdf) =>
            val bcChecks = spark.sparkContext.broadcast(checks)
            val passing = bdf
              .filter($"term".isin(checks.map(_._1).distinct: _*))
              .select("term", "docId", "beginBits", "endBits", "k")
              .as[(String, Int, Array[Byte], Array[Byte], Int)]
              .groupByKey(_._2)
              .flatMapGroups { (docId, rows) =>
                val m = rows.map(r => r._1 -> ((r._3, r._4, r._5))).toMap
                val ok = bcChecks.value.forall { case (rowTerm, probe, useEnd) =>
                  m.get(rowTerm).exists { case (begin, end, kk) =>
                    new graft.index.Bloom.Filter(if (useEnd) end else begin, kk)
                      .mightContain(probe)
                  }
                }
                if (ok) Iterator.single(docId) else Iterator.empty
              }.toDF("docId")
            withPos0.toDF("term", "docId", "tf", "pos", "lenByte")
              .join(passing, "docId")
              .select($"term", $"docId", $"tf", $"pos", $"lenByte")
              .as[(String, Int, Int, Array[Int], Int)]
          case None => withPos0
        }
        val bcQTerms = spark.sparkContext.broadcast(queryTerms)
        val bcShifts = spark.sparkContext.broadcast(phraseShifts)
        withPos.groupByKey(_._2)
          .flatMapGroups { (docId, rows) =>
            val byTerm = rows.toArray.groupBy(_._1)
            val qts = bcQTerms.value
            if (qts.distinct.forall(byTerm.contains)) {
              // one position list per query SLOT (repeated terms reuse the
              // same list at different adjusted shifts — `query_processing.h`
              // leapfrogs per-slot, not per-unique-term)
              val posLists = qts.map(t => byTerm(t).head._4)
              val posOk = bcShifts.value match {
                case Some(sh) => graft.core.Oracle.phraseMatchAt(posLists, sh)
                case None if slop == 0 => graft.core.Oracle.phraseMatch(posLists)
                case None => graft.core.Oracle.proximityMatch(posLists, slop)
              }
              if (posOk)
                byTerm.valuesIterator.map(_.head).map(r => (r._1, r._2, r._3, r._5))
              else Iterator.empty
            } else Iterator.empty
          }
      }

    // Scoring is pure built-in Column arithmetic (no UDF in the arithmetic →
    // whole-stage codegen): idf via a broadcast (term, idf) join, the
    // 256-entry lossy denominator cache as an array literal indexed by the
    // length byte. One hash aggregation does both the conjunctive AND and
    // the score sum; then TakeOrderedAndProject = partial heaps + driver
    // merge.
    val scored =
      if (!phrase) scoreOf(pruned)
      else minusExcluded({
          val m = matched.toDF("term", "docId", "tf", "lenByte")
          // only a legacy index reads the (docId, lenByte) projection
          if (ix.hasInlineLen) m
          else m.drop("lenByte").join(ix.doclen.select($"docId", $"lenByte"), "docId")
        }
        .join(slotDf, "term")
        .withColumn("partScore", partScoreExpr)
        .groupBy($"docId")
        .agg(sum(when($"firstSlot", 1).otherwise(0)).as("nMatched"),
          collect_list(struct($"slot", $"partScore")).as("sps"))
        .withColumn("score", graft.functions.functions.slot_sum($"sps"))
        .filter($"nMatched" === nTerms))
    val hits = scored
      .orderBy(desc("score"), asc("docId"))
      .limit(k)
      .select($"docId".cast("int"), $"score")
      .as[(Int, Double)]
      .collect()
      .zipWithIndex
      .map { case ((d, s), i) => Hit(d, s, i + 1) }
    publishDiag()
    hits.toSeq.toDS()
  }

  /** Dictionary prefix probe — the trie-range analog (P4).
    *
    * The reference's term dictionary is a HAT-trie
    * (`tsl::htrie_map<char,...>`, `term_index.h:101-163`) whose native range
    * operation is `equal_prefix_range` (`tsl/htrie_hash.h`); the C++ engine
    * only ever point-probes it, so prefix expansion is an extension that
    * completes the container's semantics — the query a source-code search
    * user actually types (`ret*` for identifiers). Here the probe is a
    * `StartsWith` filter pushed into the termstats parquet scan (row groups
    * pruned by the term column's min/max statistics — the sorted-dictionary
    * analog of a trie descent).
    *
    * Expansion is capped at `maxExpansion` terms, picked deterministically
    * by (df desc, term asc) — the highest-signal sub-terms, matching
    * Lucene's bounded multi-term rewrite policy. Deterministic cap order
    * keeps the operator oracle-verifiable even when the cap binds.
    */
  def expandPrefix(ix: LoadedIndex, prefix: String, maxExpansion: Int = 64): Seq[String] = {
    val spark = ix.spark
    import spark.implicits._
    if (prefix.isEmpty || maxExpansion <= 0) return Nil
    ix.termstats
      .filter($"term".startsWith(prefix))
      .select($"term", $"df")
      .orderBy(desc("df"), asc("term"))
      .limit(maxExpansion)
      .as[(String, Long)]
      .collect()
      .map(_._1)
      .toSeq
  }

  /** Prefix BM25 top-k: expand `prefix` against the dictionary, then score
    * the expansion disjunctively (each matched sub-term contributes its own
    * idf-weighted partial, absent sub-terms contribute nothing) with the
    * same union block coverage + WAND θ-prune as [[search]]'s OR mode. */
  def searchPrefix(ix: LoadedIndex, prefix: String, k: Int,
                   maxExpansion: Int = 64): Dataset[Hit] = {
    val terms = expandPrefix(ix, prefix, maxExpansion)
    if (terms.isEmpty) {
      val spark = ix.spark
      import spark.implicits._
      spark.emptyDataset[Hit]
    } else search(ix, terms, k, conjunctive = false)
  }

  /** Fuzzy dictionary probe: terms within `maxDist` Levenshtein edits of
    * `term` (typo tolerance — `qurey` finds `query`), with the SAME
    * deterministic (df desc, term asc) cap rule as [[expandPrefix]].
    * The exact `term` itself is included when present.
    *
    * The filter is the codegen'd built-in `levenshtein(_, _, threshold)`
    * (banded DP, early-exit above the threshold) behind a pushed length
    * band `abs(len(t) - len(term)) <= maxDist` — parquet row groups whose
    * term-length stats miss the band are pruned via the min/max on the
    * sorted dictionary. Cost is a DICTIONARY scan (≪ corpus; the
    * reference's htrie could answer this by bounded-error traversal but
    * the C++ engine never does); for serving-scale QPS the deletion-
    * neighborhood index (SymSpell) is the known upgrade with the same
    * output contract. */
  def expandFuzzy(ix: LoadedIndex, term: String, maxDist: Int = 1,
                  maxExpansion: Int = 16): Seq[String] = {
    val spark = ix.spark
    import spark.implicits._
    if (term.isEmpty || maxExpansion <= 0) return Nil
    val cands = ix.fuzzy match {
      // SymSpell stage: one bounded `del IN (...)` probe instead of a
      // dictionary scan — identical output (superset candidates, exact
      // threshold-Levenshtein verify, same cap rule); a segmented index
      // probes the per-segment tables and sums per-segment dfs
      case Some((table, builtDist, segmented)) if maxDist <= builtDist =>
        if (segmented) graft.index.FuzzyIndex.probeSegmented(table, term, maxDist)
        else graft.index.FuzzyIndex.probe(table, term, maxDist)
      case _ =>
        ix.termstats
          .filter(abs(length($"term") - lit(term.length)) <= maxDist)
          .filter(levenshtein($"term", lit(term), maxDist) >= 0) // -1 = over threshold
          .select($"term", $"df")
    }
    cands
      .orderBy(desc("df"), asc("term"))
      .limit(maxExpansion)
      .as[(String, Long)]
      .collect()
      .map(_._1)
      .toSeq
  }

  /** Wildcard glob → SQL LIKE translation: `*` → `%`, `?` → `_`. The term
    * alphabet's own `_` (a legal token character in source code) is escaped
    * so it stays literal. Shared by the Spark (`Column.like`) and oracle
    * (`LIKE ... ESCAPE '\'`) contracts — both use backslash escapes. */
  private[graft] def wildcardToLike(pattern: String): String =
    pattern.flatMap {
      case '*' => "%"
      case '?' => "_"
      case '_' => "\\_"
      case '%' => "\\%" // not a token char; defensive
      case c   => c.toString
    }

  /** Wildcard dictionary probe (Lucene `WildcardQuery` rewrite analog):
    * dictionary terms matching a glob with `*` (any run) and `?` (one
    * char), e.g. `s*a*` or `re?urn`. The longest literal prefix before the
    * first wildcard is pushed as a `StartsWith` into the termstats scan
    * (min/max row-group pruning on the sorted dictionary — same descent as
    * [[expandPrefix]]); the full glob evaluates as a codegen'd LIKE on the
    * survivors. Deterministic (df desc, term asc) cap, as every expansion
    * here. */
  def expandWildcard(ix: LoadedIndex, pattern: String,
                     maxExpansion: Int = 64): Seq[String] = {
    val spark = ix.spark
    import spark.implicits._
    if (pattern.isEmpty || maxExpansion <= 0) return Nil
    val litPrefix = pattern.takeWhile(c => c != '*' && c != '?')
    val litSuffix = pattern.reverse.takeWhile(c => c != '*' && c != '?').reverse
    val base =
      if (litPrefix.nonEmpty) ix.termstats.filter($"term".startsWith(litPrefix))
      else if (litSuffix.nonEmpty)
        // leading wildcard: probe the reversed dictionary so the literal
        // SUFFIX prunes (a `*turn` query descends on "nrut" instead of
        // LIKE-scanning the whole dictionary)
        ix.revTermstats.filter($"rev".startsWith(litSuffix.reverse))
          .select($"term", $"df")
      else ix.termstats // `*lit*` middle-literal globs: full dictionary LIKE
    base
      .filter($"term".like(wildcardToLike(pattern)))
      .select($"term", $"df")
      .orderBy(desc("df"), asc("term"))
      .limit(maxExpansion)
      .as[(String, Long)]
      .collect()
      .map(_._1)
      .toSeq
  }

  /** Wildcard BM25 top-k: disjunctive scoring of the glob expansion — the
    * bounded multi-term rewrite, same evaluation as [[searchPrefix]]. */
  def searchWildcard(ix: LoadedIndex, pattern: String, k: Int,
                     maxExpansion: Int = 64): Dataset[Hit] = {
    val terms = expandWildcard(ix, pattern, maxExpansion)
    if (terms.isEmpty) {
      val spark = ix.spark
      import spark.implicits._
      spark.emptyDataset[Hit]
    } else search(ix, terms, k, conjunctive = false)
  }

  /** Fuzzy BM25 top-k: score the edit-distance expansion disjunctively —
    * the multi-term rewrite of a typo'd query, same evaluation as
    * [[searchPrefix]]. */
  def searchFuzzy(ix: LoadedIndex, term: String, k: Int, maxDist: Int = 1,
                  maxExpansion: Int = 16): Dataset[Hit] = {
    val terms = expandFuzzy(ix, term, maxDist, maxExpansion)
    if (terms.isEmpty) {
      val spark = ix.spark
      import spark.implicits._
      spark.emptyDataset[Hit]
    } else search(ix, terms, k, conjunctive = false)
  }

  /** Synonym-group BM25 top-k over the index (Lucene `SynonymQuery`
    * semantics — the engine path of the graded `a5_bm25_syn_topk`
    * contract): each group of synonymous terms scores as ONE pseudo-term —
    * per-doc tf is the exact integer SUM over member tfs, groups combine
    * conjunctively (a doc matches a group when ANY member occurs; a group
    * whose members are all absent voids the query, the P2 analog).
    *
    * Blended document frequency, `exactDf`:
    *  - true (default; the oracle contract): df_g = distinct docs
    *    containing ANY member — one extra counting aggregation decoding the
    *    groups' FULL member lists (union df is not derivable from per-term
    *    metadata);
    *  - false: Lucene's production rewrite (`SynonymQuery` uses the MAX
    *    member docFreq) — metadata-only from termstats, the scale-safe
    *    serving choice; matching set identical, scores differ.
    *
    * Plan: coverage = intersection over groups of the union of member
    * block ranges (the J3 skip analog: a rare group prunes a hot group's
    * lists); per-(group, doc) integer tf sums, then the same codegen'd
    * slot-ordered score sum as every other path. */
  def searchSynonym(ix: LoadedIndex, groups: Seq[Seq[String]], k: Int,
                    exactDf: Boolean = true): Dataset[Hit] = {
    val spark = ix.spark
    import spark.implicits._
    val grps = groups.map(_.distinct)
    require(grps.flatten.distinct.size == grps.flatten.size,
      "a term may belong to only one synonym group")
    if (grps.isEmpty || k <= 0) return spark.emptyDataset[Hit]
    val allMembers = grps.flatten
    val dfs: Map[String, Long] = ix.dfs(allMembers)
    val liveGroups = grps.map(_.filter(dfs.contains))
    if (liveGroups.exists(_.isEmpty)) return spark.emptyDataset[Hit] // P2 analog
    val liveTerms = liveGroups.flatten
    val blocks = ix.postings.filter($"term".isin(liveTerms: _*))
    val metaRaw = MetaStore.fineMeta(ix, blocks, liveTerms, dfs, Seq(liveGroups))
    val meta: Map[String, Array[BlockMax.BlockMeta]] = metaRaw.groupBy(_._1)
      .map { case (t, rs) =>
        t -> rs.sortBy(_._2).map(r => BlockMax.BlockMeta(r._2, r._3, 0, 0.0))
      }
    // conjunctive-over-groups coverage: ∩_g (∪_{m∈g} ranges(m))
    val perGroupCov = liveGroups.map(g =>
      BlockMax.unionCoverage(g.map(t => meta.getOrElse(t, Array.empty[BlockMax.BlockMeta]))))
    val candidates = perGroupCov.reduceLeft { (a, b) =>
      val am = a.map(r => BlockMax.BlockMeta(r._1, r._2, 0, 0.0))
      BlockMax.intersectCoverage(Seq(am,
        b.map(r => BlockMax.BlockMeta(r._1, r._2, 0, 0.0))))
    }
    if (candidates.isEmpty) return spark.emptyDataset[Hit]
    val keys: Set[(String, Int)] = liveTerms.iterator.flatMap { t =>
      val m = meta.getOrElse(t, Array.empty[BlockMax.BlockMeta])
      BlockMax.overlapping(m, candidates).iterator.map(i => (t, m(i).first))
    }.toSet
    def decode(keySet: Set[(String, Int)]): DataFrame =
      decodedScoreRows(ix,
        blocks.join(broadcast(keySet.toSeq.toDF("term", "firstDocId")),
          Seq("term", "firstDocId"), "left_semi"))
    val groupDf = broadcast(liveGroups.zipWithIndex
      .flatMap { case (g, i) => g.map(t => (t, i)) }.toDF("term", "gid"))
    // blended df per group
    val dfG: Map[Int, Long] =
      if (!exactDf)
        liveGroups.zipWithIndex.map { case (g, i) => i -> g.map(dfs).max }.toMap
      else {
        // GLOBAL union-df per group: decode every block of the live terms
        // (no key semi-join — the full stat needs them all, and skipping
        // the driver-side key set keeps meta access coverage-bounded)
        decodedScoreRows(ix, blocks).join(groupDf, "term")
          .select("gid", "docId").distinct()
          .groupBy("gid").agg(count(lit(1)).as("df"))
          .as[(Int, Long)].collect().toMap
      }
    val idfRows = liveGroups.indices.map(i => (i, Bm25.idf(ix.nDocs, dfG(i))))
    val idfDf = broadcast(idfRows.toDF("gid", "idf"))
    val cacheLit = array(ix.lossyCache.map(lit).toSeq: _*)
    val nGroups = liveGroups.size
    val scored = decode(keys)
      .join(groupDf, "term")
      .groupBy($"gid", $"docId")
      // exact integer blended tf; lenByte is functionally dependent on
      // docId (every decoded row of a doc carries the same norm) so max()
      // just picks the value — no doc-length join after the aggregation
      .agg(sum($"tf").cast("long").as("tfg"), max($"lenByte").as("lenByte"))
      .join(idfDf, "gid")
      .withColumn("partScore", $"idf" *
        ($"tfg" * lit(Bm25.K1 + 1.0) / ($"tfg" + element_at(cacheLit, $"lenByte" + 1))))
      .groupBy($"docId")
      .agg(count(lit(1)).as("nMatched"),
        collect_list(struct($"gid".cast("int").as("slot"), $"partScore")).as("sps"))
      .withColumn("score", graft.functions.functions.slot_sum($"sps"))
      .filter($"nMatched" === nGroups)
    val withDel = ix.tombstones
      .map(d => scored.join(d, Seq("docId"), "left_anti")).getOrElse(scored)
    val hits = withDel
      .orderBy(desc("score"), asc("docId"))
      .limit(k)
      .select($"docId".cast("int"), $"score")
      .as[(Int, Double)].collect()
      .zipWithIndex.map { case ((d, s), i) => Hit(d, s, i + 1) }
    hits.toSeq.toDS()
  }

  /** Deep paging ("search_after" cursor — the Elasticsearch analog; the
    * reference serves only page one, `engine_bench.cc` never pages): return
    * the next `k` hits STRICTLY AFTER the cursor `(afterScore, afterDocId)`
    * in the global (score desc, docId asc) total order. Stateless and
    * O(k + decode) per page — no offset-k materialization (a `LIMIT n
    * OFFSET m` pages by scoring m+n rows; the cursor pages by filtering on
    * the total order, so page 100 costs the same as page 1), and cursor
    * pages are consistent: the union of consecutive pages equals the full
    * ranking's slices (asserted in EngineSpec). Ranks are LOCAL to the page
    * (1-based). */
  def searchAfter(ix: LoadedIndex, queryTerms: Seq[String], k: Int,
                  afterScore: Double, afterDocId: Int,
                  phrase: Boolean = false,
                  conjunctive: Boolean = true): Dataset[Hit] =
    search(ix, queryTerms, k, phrase = phrase, conjunctive = conjunctive,
      after = Some((afterScore, afterDocId)))

  /** Longest regex prefix that is certainly literal: leading token-alphabet
    * chars (`[a-z0-9_]`), minus the last one if a quantifier (`? * + {`)
    * follows (it makes that char optional/repeated), and nothing at all if
    * the pattern contains a top-level-ambiguous `|` (in `ab|cd` the prefix
    * `ab` is not required). Conservative by construction — used only to
    * push a `StartsWith` into the dictionary scan, never to change
    * semantics. */
  private[graft] def regexLiteralPrefix(pattern: String): String = {
    if (pattern.contains('|')) return ""
    val lit = pattern.takeWhile(c =>
      (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == '_')
    if (lit.length < pattern.length && "?*+{".contains(pattern.charAt(lit.length)))
      lit.dropRight(1)
    else lit
  }

  /** Regex dictionary probe (Lucene `RegexpQuery` rewrite analog):
    * dictionary terms FULLY matched by `pattern` (Lucene regexps are
    * implicitly anchored; we anchor explicitly as `^(?:p)$` so Spark's
    * partial-match RLIKE gets the same contract). The certainly-literal
    * prefix ([[regexLiteralPrefix]]) is pushed as a `StartsWith` into the
    * termstats scan — min/max row-group pruning on the sorted dictionary,
    * the same descent as [[expandPrefix]] — and the full regex evaluates
    * as a codegen'd RLIKE on the survivors. Deterministic (df desc,
    * term asc) cap, as every expansion here.
    *
    * Patterns are restricted by contract to the Java∩RE2 common subset
    * (classes, alternation, bounded/unbounded repetition — no
    * backreferences or lookaround) so the operator stays oracle-exact. */
  def expandRegex(ix: LoadedIndex, pattern: String,
                  maxExpansion: Int = 64): Seq[String] = {
    val spark = ix.spark
    import spark.implicits._
    if (pattern.isEmpty || maxExpansion <= 0) return Nil
    val litPrefix = regexLiteralPrefix(pattern)
    val base =
      if (litPrefix.nonEmpty) ix.termstats.filter($"term".startsWith(litPrefix))
      else ix.termstats
    base
      .filter($"term".rlike(s"^(?:$pattern)$$"))
      .select($"term", $"df")
      .orderBy(desc("df"), asc("term"))
      .limit(maxExpansion)
      .as[(String, Long)]
      .collect()
      .map(_._1)
      .toSeq
  }

  /** Spell suggestion ("did you mean" — Lucene `DirectSpellChecker`
    * analog): dictionary terms within `maxDist` edits of `term`, ranked by
    * (distance asc, df desc, term asc) — closest first, popularity breaks
    * ties — unlike [[expandFuzzy]]'s pure df rewrite order. The exact term
    * itself, when indexed, is its own distance-0 first suggestion, which
    * callers use as the "no correction needed" signal. Same pushed length
    * band + threshold levenshtein as [[expandFuzzy]]; cost is a dictionary
    * scan, never a corpus scan. Returns (term, dist, df). */
  def suggest(ix: LoadedIndex, term: String, maxDist: Int = 2,
              maxSuggestions: Int = 3): Seq[(String, Int, Long)] = {
    val spark = ix.spark
    import spark.implicits._
    if (term.isEmpty || maxSuggestions <= 0) return Nil
    val cands = ix.fuzzy match {
      case Some((table, builtDist, segmented)) if maxDist <= builtDist =>
        if (segmented) graft.index.FuzzyIndex.probeSegmented(table, term, maxDist)
        else graft.index.FuzzyIndex.probe(table, term, maxDist)
      case _ =>
        ix.termstats
          .filter(abs(length($"term") - lit(term.length)) <= maxDist)
          .filter(levenshtein($"term", lit(term), maxDist) >= 0)
          .select($"term", $"df")
    }
    cands
      .select($"term", levenshtein($"term", lit(term)).as("dist"), $"df")
      .orderBy(asc("dist"), desc("df"), asc("term"))
      .limit(maxSuggestions)
      .as[(String, Int, Long)]
      .collect()
      .toSeq
  }

  /** Regex BM25 top-k: disjunctive scoring of the regex expansion — the
    * bounded multi-term rewrite, same evaluation as [[searchPrefix]]. */
  def searchRegex(ix: LoadedIndex, pattern: String, k: Int,
                  maxExpansion: Int = 64): Dataset[Hit] = {
    val terms = expandRegex(ix, pattern, maxExpansion)
    if (terms.isEmpty) {
      val spark = ix.spark
      import spark.implicits._
      spark.emptyDataset[Hit]
    } else search(ix, terms, k, conjunctive = false)
  }

  /** More-like-this (Lucene `MoreLikeThis` analog; absent in the
    * reference): find docs similar to `docId` by extracting its top
    * `maxTerms` terms by tf·idf and running them as a disjunctive BM25
    * query, the source doc removed from the result.
    *
    * Determinism contract: term importance is the MICRO-rounded
    * `tf · idf` (integer), ties broken by term asc — the same rule the
    * graded oracle recomputes in SQL. Costs one pushed-filter docstore
    * probe (row-group pruned on docId) + one termstats probe + one
    * disjunctive search; the tokenize of a single body is driver-side by
    * design (bodies are KBs). */
  def moreLikeThis(ix: LoadedIndex, docId: Int, k: Int,
                   maxTerms: Int = 8): Dataset[Hit] = {
    val spark = ix.spark
    import spark.implicits._
    val body = ix.docstore.filter(col("docId") === docId)
      .select("content").as[String].collect()
    if (body.isEmpty || k <= 0) return spark.emptyDataset[Hit]
    val tfMap: Map[String, Int] = graft.core.Tokenizer.terms(body.head)
      .groupBy(identity).map { case (t, xs) => t -> xs.length }
    if (tfMap.isEmpty) return spark.emptyDataset[Hit]
    val dfs = ix.dfs(tfMap.keys.toSeq)
    val ranked = tfMap.toSeq
      .flatMap { case (t, tf) =>
        dfs.get(t).map(df => (t, math.round(tf * Bm25.idf(ix.nDocs, df) * 1e6)))
      }
      .sortBy { case (t, imp) => (-imp, t) }
      .take(maxTerms).map(_._1)
    if (ranked.isEmpty) return spark.emptyDataset[Hit]
    val hits = search(ix, ranked, k + 1, conjunctive = false).collect()
      .filter(_.docId != docId).sortBy(_.rank).take(k)
      .zipWithIndex.map { case (h, i) => Hit(h.docId, h.score, i + 1) }
    hits.toSeq.toDS()
  }

  /** ALL docIds matching the conjunction (no top-k) — the relational bridge
    * from a search match to downstream Spark ops (facets, joins, exports).
    * Same block-coverage intersection as [[search]] (only blocks inside
    * every term's coverage decode), same P2 guard; exclusion terms prune
    * like [[search]]'s NOT. Returns a single `docId` (int) column. */
  def matchingDocs(ix: LoadedIndex, queryTerms: Seq[String],
                   excludeTerms: Seq[String] = Nil): DataFrame = {
    val spark = ix.spark
    import spark.implicits._
    def empty = Seq.empty[Int].toDF("docId")
    val terms = queryTerms.distinct
    if (terms.isEmpty || excludeTerms.exists(terms.contains)) return empty
    val ex = excludeTerms.distinct
    val dfsAll: Map[String, Long] = ix.dfs(terms ++ ex)
    if (terms.exists(t => !dfsAll.contains(t))) return empty
    val blocks = ix.postings.filter($"term".isin(terms ++ ex: _*))
    val posBlocks = ix.postings.filter($"term".isin(terms: _*))
    val posMetaRaw = MetaStore.fineMeta(ix, posBlocks, terms, dfsAll,
      Seq(terms.map(Seq(_))))
    val posMeta = posMetaRaw.groupBy(_._1).map { case (t, rs) =>
      t -> rs.sortBy(_._2).map(r => BlockMax.BlockMeta(r._2, r._3, 0, 0.0))
    }
    val candidates = BlockMax.intersectCoverage(
      terms.map(t => posMeta.getOrElse(t, Array.empty[BlockMax.BlockMeta])))
    if (candidates.isEmpty) return empty
    // exclusion meta bounded by the positive candidates' coverage
    val exMeta =
      if (ex.isEmpty) Map.empty[String, Array[BlockMax.BlockMeta]]
      else MetaStore.boundedRangeMeta(ix, ex, candidates, dfsAll)
        .groupBy(_._1).map { case (t, rs) =>
          t -> rs.sortBy(_._2).map(r => BlockMax.BlockMeta(r._2, r._3, 0, 0.0))
        }
    val meta = posMeta ++ exMeta
    def decodeIds(sel: Seq[String]): DataFrame = {
      val keys = sel.flatMap { t =>
        val m = meta.getOrElse(t, Array.empty[BlockMax.BlockMeta])
        BlockMax.overlapping(m, candidates).map(i => (t, m(i).first))
      }
      if (keys.isEmpty) return spark.emptyDataset[(String, Int)].toDF("term", "docId")
      val keysDf = broadcast(keys.toDF("term", "firstDocId"))
      blocks.join(keysDf, Seq("term", "firstDocId"), "left_semi")
        .select("term", "prevDocId", "n", "docIds", "tfs")
        .as[(String, Int, Int, Array[Byte], Array[Byte])]
        .flatMap { case (t, prev, n, ids, tfs) =>
          PostingCodec.decodeDocIdTf(prev, n, ids, tfs).iterator.map(p => (t, p._1))
        }.toDF("term", "docId")
    }
    // terms are distinct and each (term, docId) posting is unique across
    // blocks (salted shards partition the docId space), so a plain count
    // equals the distinct-term count without countDistinct's Expand
    val matched = decodeIds(terms)
      .groupBy($"docId")
      .agg(count(lit(1)).as("nMatched"))
      .filter($"nMatched" === terms.size)
      .select("docId")
    val exLive = ex.filter(meta.contains)
    if (exLive.isEmpty) matched
    else matched.join(decodeIds(exLive).select("docId").distinct(), Seq("docId"), "left_anti")
  }

  /** Facet counts over ALL matching docs — matching-doc count per value of
    * a docstore metadata column (the standard search-engine facet panel;
    * absent in the reference, whose doc store is body-only —
    * `flash_doc_store.h`). One pruned decode + one broadcast-ish join +
    * one partial-agg count; never materializes the match set on the
    * driver. */
  def facetCounts(ix: LoadedIndex, queryTerms: Seq[String], facetCol: String,
                  excludeTerms: Seq[String] = Nil): DataFrame =
    matchingDocs(ix, queryTerms, excludeTerms)
      .join(ix.docstore.select(col("docId"), col(facetCol)), "docId")
      .groupBy(col(facetCol))
      .agg(count(lit(1)).as("n_docs"))

  /** Histogram facet (the ES `histogram` aggregation): matching-doc counts
    * per fixed-width bucket of a numeric docstore column — same matched
    * set and join shape as [[facetCounts]], bucket = floor(col / width). */
  def facetHistogram(ix: LoadedIndex, queryTerms: Seq[String], numCol: String,
                     width: Long, excludeTerms: Seq[String] = Nil): DataFrame = {
    require(width > 0, "bucket width must be positive")
    matchingDocs(ix, queryTerms, excludeTerms)
      .join(ix.docstore.select(col("docId"), col(numCol)), "docId")
      .groupBy(floor(col(numCol) / lit(width)).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** Pruning diagnostics of the most recent [[search]] call on this JVM
    * (driver-side; for tests/benchmarks, not part of the query result). */
  val lastDiag = new java.util.concurrent.atomic.AtomicReference[BlockMax.Diag]()

  /** Pruning diagnostics of the most recent [[searchAll]] call on this JVM:
    * (total postings of the batch's terms, postings in decoded blocks). */
  val lastBatchDiag = new java.util.concurrent.atomic.AtomicReference[(Long, Long)]()

  /** Batch search: many queries at once — a bounded number of Spark jobs
    * for the whole query set (queryId, terms). Used by the bench.
    *
    * Block pruning (J3 on the batch path): the same driver-side
    * block-coverage intersection the single-query path runs is applied PER
    * QUERY over the collected df/128 metadata, and the union of every
    * query's surviving (term, firstDocId) keys is the only set of blocks
    * decoded — a hot∧hot∧...∧rare batch decodes the hot terms only where
    * the rare terms have coverage, instead of the full index. Exactness:
    * range pruning is conservative per query (a doc matching ALL of a
    * query's terms lies in every term's coverage, hence in the
    * intersection), and extra blocks decoded for one query only add
    * candidate rows for another that its own `nMatched == nTerms`
    * conjunctive filter discards.
    *
    * WAND θ-prune (BMW on the batch path — the hot∧hot case range pruning
    * cannot touch): queries whose range-surviving posting estimate exceeds
    * `wandMinPostings` share ONE pilot job — each contributes its
    * highest-ceiling candidate intervals ([[BlockMax.pilotIntervals]]), the
    * union of pilot blocks is decoded once, and a per-query bounded heap
    * yields θ_q = that query's exact kth pilot score (kth-best is monotone
    * in set inclusion, so θ_q never exceeds the true kth score — pruning on
    * it is conservative). A block b of term t then survives query q only if
    * mult_q(t)·ub_t(b) + Σ_{t'≠t∈q} mult_q(t')·maxUb(t', b.range) ≥ θ_q —
    * the same exactness argument as [[search]]'s single-query BMW, per
    * query. Cross-query block sharing is sound both ways: a conjunctive
    * doc's `nMatched == nTerms` implies every one of its term rows was
    * decoded (complete score), and a disjunctive doc's partial score only
    * understates — a doc with true score ≥ θ_q has ALL blocks surviving, so
    * every top-k member scores in full.
    *
    * Query ids listed in `disjunctive` evaluate in OR mode (the prefix /
    * SearchOperator::OR semantics of [[search]]'s `conjunctive = false`):
    * absent terms contribute nothing instead of voiding the query, block
    * coverage is the union of the present terms' coverage, and the
    * `nMatched == nTerms` filter does not apply.
    *
    * `excludes` maps a queryId to its NOT terms (Lucene MUST_NOT): matching
    * docs must contain none of them. Exclusion blocks are decoded only
    * where they overlap the query's candidate ranges (the skip-pruned
    * exclusion of [[search]]), and the (queryId, docId) exclusion pairs
    * anti-join the scored rows in BOTH the pilot and the main job — θ_q is
    * therefore computed over post-exclusion docs, never over-pruning. */
  def searchAll(ix: LoadedIndex, queries: Seq[(Int, Seq[String])], k: Int,
                disjunctive: Set[Int] = Set.empty,
                excludes: Map[Int, Seq[String]] = Map.empty,
                wandMinPostings: Long = 50000L,
                boosts: Map[Int, Map[String, Double]] = Map.empty): DataFrame = {
    val spark = ix.spark
    import spark.implicits._
    def empty =
      Seq.empty[(Int, Int, Int, Double)].toDF("queryId", "rank", "docId", "score")
    val allTerms = queries.flatMap(_._2).distinct
    if (allTerms.isEmpty || k <= 0) return empty
    // one stats fetch covers positive AND exclusion terms (the latter so
    // the exclusion meta fetch can df-estimate its direct-path escape)
    val dfs: Map[String, Long] =
      ix.dfs((allTerms ++ excludes.valuesIterator.flatten).distinct)
    val idfs = dfs.map { case (t, d) => t -> Bm25.idf(ix.nDocs, d) }
    // P2 guard: a conjunctive query is live only if EVERY term exists; a
    // disjunctive one if ANY does (absent terms drop out of its term list).
    // A conjunctive query with a required term that is also excluded is
    // unsatisfiable by construction (same rule as [[search]]).
    // A repeated term scores once per slot → carry multiplicity as a weight.
    val live = queries
      .map { case (qid, ts) =>
        (qid, if (disjunctive(qid)) ts.filter(dfs.contains) else ts)
      }
      .filter { case (qid, ts) =>
        ts.nonEmpty && (disjunctive(qid) || ts.forall(dfs.contains)) &&
          (disjunctive(qid) || !excludes.getOrElse(qid, Nil).exists(ts.contains))
      }
    if (live.isEmpty) return empty
    val liveTerms = live.flatMap(_._2).distinct
    // one row per query SLOT (repeated terms are separate slots): scores
    // are re-added in slot order by the codegen'd SlotOrderedSum below, so
    // engine scores are bitwise-deterministic and bitwise-identical to the
    // oracle's slot loop (`scoring.h:133-142`) — an order-free
    // sum(partScore) differs by ulps run to run, which flips rank ties
    // between equal-score docs. `firstSlot` marks each distinct term's
    // first slot so nMatched is a conditional count (no countDistinct
    // Expand rewrite).
    // per-slot query-time boost (Lucene `term^B`; log syntax `if^2`):
    // multiplies the slot's idf weight in the SAME association order as the
    // single-query path and the oracle ((idf·B)·tfNorm), so boosted scores
    // stay bitwise-identical across all three paths
    def boostOf(qid: Int, t: String): Double =
      boosts.getOrElse(qid, Map.empty).getOrElse(t, 1.0)
    require(boosts.valuesIterator.flatMap(_.valuesIterator).forall(_ > 0.0),
      "boosts must be positive")
    val q = live.flatMap { case (qid, ts) =>
      ts.zipWithIndex.map { case (t, slot) =>
        (qid, t, ts.distinct.size, slot, disjunctive(qid), ts.indexOf(t) == slot,
          boostOf(qid, t))
      }
    }.toDF("queryId", "term", "nTerms", "slot", "disj", "firstSlot", "boost")
    // ---- per-query block-range pruning over collected block metadata ----
    // ub = idf · tfNorm(maxTf, minLenByte): the BMW score ceiling, PER-TERM
    // base (query-slot multiplicity is applied per query at filter time)
    val cache = ix.lossyCache
    val blocksAll = ix.postings.filter($"term".isin(liveTerms: _*))
    // one [[MetaStore]] fetch for the whole batch: coverage = union over
    // queries of each query's AND/OR shape
    val metaRaw = MetaStore.fineMeta(ix, blocksAll, liveTerms, dfs,
      live.map { case (qid, ts) =>
        val uniq = ts.distinct
        if (disjunctive(qid)) Seq(uniq) else uniq.map(Seq(_))
      })
    val meta: Map[String, Array[BlockMax.BlockMeta]] = metaRaw.groupBy(_._1)
      .map { case (t, rs) =>
        val idf = idfs(t)
        t -> rs.sortBy(_._2).map(r => BlockMax.BlockMeta(r._2, r._3, r._4,
          idf * Bm25.tfNormLossy(r._5.toLong, r._6, cache)))
      }
    // per-query plan: candidate coverage + range-surviving blocks.
    // `wt` = slot multiplicity · boost per unique term — the factor a term's
    // block ceiling is scaled by in the BMW rule (all slots of t together
    // contribute ≤ wt(t) · idf(t) · maxTfNorm)
    final case class QPlan(qid: Int, uniq: Seq[String], wt: Map[String, Double],
                           disj: Boolean, candidates: Array[(Int, Int)],
                           rangeSel: Map[String, Array[Int]], estPostings: Long)
    val plans: Seq[QPlan] = live.flatMap { case (qid, ts) =>
      val uniq = ts.distinct
      val perTerm = uniq.map(t => meta.getOrElse(t, Array.empty[BlockMax.BlockMeta]))
      if (perTerm.exists(_.isEmpty)) None
      else {
        val cand =
          if (disjunctive(qid)) BlockMax.unionCoverage(perTerm)
          else BlockMax.intersectCoverage(perTerm)
        if (cand.isEmpty) None
        else {
          val sel = uniq.map(t => t -> BlockMax.overlapping(meta(t), cand)).toMap
          val est = uniq.iterator
            .map(t => sel(t).iterator.map(i => meta(t)(i).n.toLong).sum).sum
          Some(QPlan(qid, uniq,
            ts.groupBy(identity).map { case (t, xs) =>
              t -> xs.size * boostOf(qid, t) },
            disjunctive(qid), cand, sel, est))
        }
      }
    }
    if (plans.isEmpty) return empty

    // ---- skip-pruned exclusion pairs (queryId, docId) ----
    val allEx = live.flatMap { case (qid, _) => excludes.getOrElse(qid, Nil) }.distinct
    val exPairs: Option[DataFrame] =
      if (allEx.isEmpty) None
      else {
        val exBlocksDf = ix.postings.filter($"term".isin(allEx: _*))
        // meta bounded by the union of the live queries' candidate coverage
        val exMeta: Map[String, Array[BlockMax.BlockMeta]] =
          MetaStore.boundedRangeMeta(ix, allEx,
              MetaStore.unionIv(plans.map(_.candidates)), dfs)
            .groupBy(_._1).map { case (t, rs) =>
              t -> rs.sortBy(_._2).map(r => BlockMax.BlockMeta(r._2, r._3, 0, 0.0))
            }
        // only exclusion blocks overlapping that query's candidate coverage
        val exKeys: Set[(String, Int)] = plans.iterator.flatMap { p =>
          excludes.getOrElse(p.qid, Nil).distinct.iterator.flatMap { t =>
            exMeta.get(t).iterator.flatMap { m =>
              BlockMax.overlapping(m, p.candidates).iterator.map(i => (t, m(i).first))
            }
          }
        }.toSet
        if (exKeys.isEmpty) None
        else {
          val qExDf = broadcast(plans
            .flatMap(p => excludes.getOrElse(p.qid, Nil).distinct.map(t => (p.qid, t)))
            .toDF("queryId", "term"))
          Some(exBlocksDf
            .join(broadcast(exKeys.toSeq.toDF("term", "firstDocId")),
              Seq("term", "firstDocId"), "left_semi")
            .select("term", "prevDocId", "n", "docIds", "tfs")
            .as[(String, Int, Int, Array[Byte], Array[Byte])]
            .flatMap { case (t, prev, n, ids, tfs) =>
              PostingCodec.decodeDocIdTf(prev, n, ids, tfs).iterator.map(p => (t, p._1))
            }
            .toDF("term", "docId")
            .join(qExDf, "term")
            .select("queryId", "docId").distinct())
        }
      }

    // ---- shared scoring pipeline (pilot and main decode different keys) ----
    val idfDf = broadcast(idfs.toSeq.toDF("term", "idf"))
    val cacheLit = array(cache.map(lit).toSeq: _*)
    // (idf·boost)·tfNorm — the same association order as the single-query
    // path's driver-side idf·boost slot weight (mult by 1.0 is IEEE-exact,
    // so unboosted queries are unchanged bitwise)
    val partScore = ($"idf" * $"boost") *
      ($"tf" * lit(Bm25.K1 + 1.0) / ($"tf" + element_at(cacheLit, $"lenByte" + 1)))
    // surviving block keys as a broadcast semi-join, not a scalar UDF —
    // stays inside whole-stage codegen and the set is bounded by the batch
    // terms' block counts (already collected driver-side as `metaRaw`)
    def scoreRows(keys: Set[(String, Int)]): DataFrame = {
      val keysDf = broadcast(keys.toSeq.toDF("term", "firstDocId"))
      // norms ride the decode ([[decodedScoreRows]]): no per-doc join in
      // the batch scoring pipeline — the fanned-out posting rows never
      // shuffle against a corpus-sized doc-length table.
      // Measured negative result: repartitioning the decoded postings by
      // docId before the fan-out join (to make the aggregate below
      // exchange-free) ran 2x SLOWER on the 2.4M-doc log — it shuffles
      // every decoded posting row with its term string and adds a stage
      // barrier, while the aggregate's own exchange carries post-partial-agg
      // rows keyed by compact ints and the log's fan-out factor is only
      // ~1-2x (few queries share a term). Keep decode→score one fused stage.
      val posting = decodedScoreRows(ix,
        blocksAll.join(keysDf, Seq("term", "firstDocId"), "left_semi"))
      val scored = posting
        .join(broadcast(q), "term")
        .join(idfDf, "term")
        .withColumn("partScore", partScore)
        .groupBy($"queryId", $"docId", $"nTerms", $"disj")
        .agg(sum(when($"firstSlot", 1).otherwise(0)).as("nMatched"),
          collect_list(struct($"slot", $"partScore")).as("sps"))
        .withColumn("score", graft.functions.functions.slot_sum($"sps"))
        .filter($"disj" || $"nMatched" === $"nTerms")
        .select($"queryId", $"docId".cast("int"), $"score")
      // NOT-term exclusion, then delete tombstones: doc-level anti-joins
      // before the top-k heaps (stats stay pre-delete — Lucene semantics,
      // same as Searcher.search)
      val afterEx = exPairs
        .map(e => scored.join(e, Seq("queryId", "docId"), "left_anti"))
        .getOrElse(scored)
      ix.tombstones.map(d => afterEx.join(d, Seq("docId"), "left_anti"))
        .getOrElse(afterEx)
    }
    // per-query exact top-k via the bounded-heap Aggregator (A5): partial
    // per-partition heaps + pairwise merge — no per-query full sort (a
    // window row_number would sort every matched doc)
    def topKOf(df: DataFrame) = df
      .select($"queryId", $"docId", $"score")
      .as[(Int, Int, Double)]
      .groupByKey(_._1)
      .mapValues(r => (r._2, r._3))
      .agg(new TopKAggregator(k).toColumn)

    // ---- batched WAND pilot: one job, per-query θ ----
    val wandPlans = plans.filter(_.estPostings > wandMinPostings)
    val thetas: Map[Int, Double] =
      if (wandPlans.isEmpty) Map.empty
      else {
        val pilotKeys: Set[(String, Int)] = wandPlans.iterator.flatMap { p =>
          val perTermScaled = p.uniq.map { t =>
            val w = p.wt(t)
            meta(t).map(b => if (w == 1.0) b else b.copy(ub = b.ub * w))
          }
          val iv = BlockMax.pilotIntervals(perTermScaled,
            BlockMax.refineByBlocks(perTermScaled, p.candidates),
            targetDocs = math.max(64L * k, 1024L), disjunctive = p.disj)
          p.uniq.iterator.flatMap { t =>
            val m = meta(t)
            BlockMax.overlapping(m, iv).iterator.map(i => (t, m(i).first))
          }
        }.toSet
        if (pilotKeys.isEmpty) Map.empty
        else topKOf(scoreRows(pilotKeys)).collect().iterator.map { case (qid, top) =>
          qid -> (if (top.size >= k) top.last._2 else Double.NegativeInfinity)
        }.toMap
      }

    // ---- final per-query selection: range survivors filtered by θ ----
    val neededKeys: Set[(String, Int)] = plans.iterator.flatMap { p =>
      val th = thetas.getOrElse(p.qid, Double.NegativeInfinity)
      p.uniq.iterator.flatMap { t =>
        val m = meta(t)
        val wtT = p.wt(t)
        val idxs =
          if (th == Double.NegativeInfinity) p.rangeSel(t)
          else p.rangeSel(t).filter { i =>
            val b = m(i)
            val others = p.uniq.iterator.filter(_ != t)
              .map(t2 => p.wt(t2) * BlockMax.maxUbIn(meta(t2), b.first, b.last)).sum
            b.ub * wtT + others >= th - 1e-9
          }
        idxs.iterator.map(i => (t, m(i).first))
      }
    }.toSet
    lastBatchDiag.set((metaRaw.iterator.map(_._4.toLong).sum,
      metaRaw.iterator.filter(r => neededKeys((r._1, r._2))).map(_._4.toLong).sum))
    if (neededKeys.isEmpty) return empty
    topKOf(scoreRows(neededKeys))
      .flatMap { case (qid, top) =>
        top.iterator.zipWithIndex.map { case ((d, s), i) => (qid, i + 1, d, s) }
      }
      .toDF("queryId", "rank", "docId", "score")
  }

  /** Batch PHRASE search: every phrase query of a log in ONE Spark job
    * (the phrase analog of [[searchAll]] — [[QueryLog.run]] previously ran
    * a full multi-stage [[search]] pipeline per phrase query, paying
    * per-query metadata collects and driver round-trips).
    *
    * Same semantics as the single-query phrase path (`query_processing.h`
    * per-slot leapfrog): per query, block coverage is the intersection of
    * its terms' block ranges; only the union of surviving blocks across the
    * batch is position-decoded; a (query, doc) group matches when every
    * distinct term is present and the slot-wise adjusted position lists
    * intersect ([[graft.core.Oracle.phraseMatch]] — repeated terms reuse
    * one list at different shifts; a per-query `slops` entry > 0 relaxes
    * the check to ordered proximity, [[graft.core.Oracle.proximityMatch]]).
    * Matched docs score conjunctive BM25
    * with per-slot idf multiplicity, then a bounded per-query top-k heap.
    *
    * The J5 bloom semi-join is not consulted here: it is a serving-path
    * candidate pruner, while the batch path's cost is bounded up front by
    * the block-range intersection; the positional check is exact either
    * way. Returns (queryId, rank, docId, score). */
  def searchAllPhrase(ix: LoadedIndex, queries: Seq[(Int, Seq[String])], k: Int,
                      slops: Map[Int, Int] = Map.empty): DataFrame = {
    val spark = ix.spark
    import spark.implicits._
    def empty = Seq.empty[(Int, Int, Int, Double)].toDF("queryId", "rank", "docId", "score")
    val allTerms = queries.flatMap(_._2).distinct
    if (allTerms.isEmpty || k <= 0) return empty
    val dfs: Map[String, Long] = ix.dfs(allTerms)
    // P2 guard — phrase queries are conjunctive by definition
    val live = queries.filter(q => q._2.nonEmpty && q._2.forall(dfs.contains))
    if (live.isEmpty) return empty
    val liveTerms = live.flatMap(_._2).distinct
    // one row per (query, SLOT): a repeated term scores once per slot
    // (`scoring.h:133-142`), and the per-slot pivot below re-adds the
    // contributions in slot order — bitwise-identical to the oracle's loop
    // (an order-free sum differs by ulps and flips rank ties; see
    // [[searchAll]])
    val idfW = live.flatMap { case (qid, ts) =>
      ts.zipWithIndex.map { case (t, slot) =>
        (qid, t, slot, Bm25.idf(ix.nDocs, dfs(t)))
      }
    }.toDF("queryId", "term", "slot", "idf")
    // ---- per-query block-range intersection over collected metadata ----
    val blocksAll = ix.postings.filter($"term".isin(liveTerms: _*))
    val metaRaw = MetaStore.fineMeta(ix, blocksAll, liveTerms, dfs,
      live.map(_._2.distinct.map(Seq(_))))
    val meta: Map[String, Array[BlockMax.BlockMeta]] = metaRaw.groupBy(_._1)
      .map { case (t, rs) =>
        t -> rs.sortBy(_._2).map(r => BlockMax.BlockMeta(r._2, r._3, r._4, 0.0))
      }
    val neededKeys: Set[(String, Int)] = live.iterator.flatMap { case (_, ts) =>
      val uniq = ts.distinct
      val perTerm = uniq.map(t => meta.getOrElse(t, Array.empty[BlockMax.BlockMeta]))
      if (perTerm.exists(_.isEmpty)) Iterator.empty
      else {
        val cand = BlockMax.intersectCoverage(perTerm)
        uniq.iterator.flatMap { t =>
          val m = meta(t)
          BlockMax.overlapping(m, cand).iterator.map(i => (t, m(i).first))
        }
      }
    }.toSet
    if (neededKeys.isEmpty) return empty
    val keysDf = broadcast(neededKeys.toSeq.toDF("term", "firstDocId"))
    // decode (docIds, tfs, positions) of surviving blocks once for the
    // batch; the inline norm stream rides along (lenByte = -1 on a legacy
    // index → the scoring join fallback below)
    val inlineLen = ix.hasInlineLen
    val pruned = blocksAll.join(keysDf, Seq("term", "firstDocId"), "left_semi")
    val decoded = (
      if (inlineLen)
        pruned.select("term", "prevDocId", "n", "docIds", "tfs", "lenBytes", "positions")
          .as[(String, Int, Int, Array[Byte], Array[Byte], Array[Byte], Array[Byte])]
          .flatMap { case (t, prev, n, ids, tfs, lbs, pos) =>
            val dt = PostingCodec.decodeDocIdTf(prev, n, ids, tfs)
            val lb = PostingCodec.decodeLenBytes(n, lbs)
            val ps = PostingCodec.decodePositions(n, pos)
            dt.iterator.zipWithIndex.map { case ((d, tf), i) => (t, d, tf, ps(i), lb(i)) }
          }
      else
        pruned.select("term", "prevDocId", "n", "docIds", "tfs", "positions")
          .as[(String, Int, Int, Array[Byte], Array[Byte], Array[Byte])]
          .flatMap { case (t, prev, n, ids, tfs, pos) =>
            val dt = PostingCodec.decodeDocIdTf(prev, n, ids, tfs)
            val ps = PostingCodec.decodePositions(n, pos)
            dt.iterator.zipWithIndex.map { case ((d, tf), i) => (t, d, tf, ps(i), -1) }
          }
    ).toDF("term", "docId", "tf", "pos", "lenByte")
    // attach each decoded posting to every live query using that term, then
    // run the per-slot positional intersection per (query, doc) group
    val qTermDf = broadcast(live.flatMap { case (qid, ts) =>
      ts.distinct.map(t => (qid, t))
    }.toDF("queryId", "term"))
    val bcQ = spark.sparkContext.broadcast(live.toMap)
    val bcSlops = spark.sparkContext.broadcast(slops)
    val matched = decoded
      .join(qTermDf, "term")
      .select($"queryId", $"docId", $"term", $"tf", $"pos", $"lenByte")
      .as[(Int, Int, String, Int, Array[Int], Int)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroups { (key: (Int, Int), rows: Iterator[(Int, Int, String, Int, Array[Int], Int)]) =>
        val (qid, docId) = key
        val byTerm = rows.toArray.groupBy(_._3)
        val qts = bcQ.value(qid)
        val slop = bcSlops.value.getOrElse(qid, 0)
        val posOk = qts.distinct.forall(byTerm.contains) && {
          val posLists = qts.map(t => byTerm(t).head._5)
          if (slop == 0) graft.core.Oracle.phraseMatch(posLists)
          else graft.core.Oracle.proximityMatch(posLists, slop)
        }
        if (posOk) byTerm.valuesIterator.map(_.head).map(r => (qid, docId, r._3, r._4, r._6))
        else Iterator.empty
      }.toDF("queryId", "docId", "term", "tf", "lenByte")
    val cacheLit = array(ix.lossyCache.map(lit).toSeq: _*)
    val partScore = $"idf" *
      ($"tf" * lit(Bm25.K1 + 1.0) / ($"tf" + element_at(cacheLit, $"lenByte" + 1)))
    val phraseScored = (
        if (inlineLen) matched
        else matched.drop("lenByte").join(ix.doclen.select("docId", "lenByte"), "docId")
      )
      .join(broadcast(idfW), Seq("queryId", "term"))
      .withColumn("partScore", partScore)
      .groupBy($"queryId", $"docId")
      .agg(collect_list(struct($"slot", $"partScore")).as("sps"))
      .withColumn("score", graft.functions.functions.slot_sum($"sps"))
      .select($"queryId", $"docId".cast("int"), $"score")
    // delete tombstones, same contract as searchAll
    ix.tombstones.map(d => phraseScored.join(d, Seq("docId"), "left_anti"))
      .getOrElse(phraseScored)
      .select($"queryId", $"docId", $"score")
      .as[(Int, Int, Double)]
      .groupByKey(_._1)
      .mapValues(r => (r._2, r._3))
      .agg(new TopKAggregator(k).toColumn)
      .flatMap { case (qid, top) =>
        top.iterator.zipWithIndex.map { case ((d, s), i) => (qid, i + 1, d, s) }
      }
      .toDF("queryId", "rank", "docId", "score")
  }
}

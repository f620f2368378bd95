package graft.query

import graft.core.{Bm25, Kernel}
import graft.index.PostingCodec
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed BM25 top-k serving over the block-encoded index — the Spark
  * re-expression of the reference's query path
  * (`vacuum_engine.h:201-258` → `query_processing.h:956-979` dispatch →
  * k-way leapfrog → lossy BM25 → bounded heap).
  *
  * There is ONE distributed pipeline (`run`): [[search]] is its one-query
  * batch and ends in orderBy.limit, [[searchAll]] and [[searchAllPhrase]]
  * run many queries and end in per-query bounded heaps.
  *
  * Planning runs on the driver with no Spark job once the index is warm:
  * each stage's relation is resolved once per index snapshot (a
  * [[LoadedIndex]] memoizes it under the stage's file listing, so
  * `spark.read`'s schema inference is not paid per query), the query
  * terms' dfs (P2) are read from the termstats footers and column chunks
  * ([[LoadedIndex.dfs]]), and block metadata is read the same way, from
  * the snapshot's postings and superblocks column chunks, by [[MetaStore]]
  * (cached per snapshot). The jobs a query launches are then the scoring
  * plan's own.
  *
  * Plan shape (all Catalyst-planned):
  *   1. term lookup (P1): `postings.filter(term IN queryTerms)` — pushed to
  *     the parquet scan; blocks are written term-sorted so row-group min/max
  *     prune everything else. Query terms are broadcast, never shuffled.
  *   2. skip pruning (J3 analog): per query, [[BlockMax.plan]] keeps only
  *     the blocks overlapping the intersection (AND) or union (OR) of its
  *     terms' block coverage, and the optional WAND θ-prune drops blocks
  *     that cannot reach the kth score; the surviving (term, firstDocId)
  *     keys select blocks by a broadcast semi-join, before any payload
  *     decode.
  *   3. decode (P3): (docIds, tfs) plus the inline norm stream `lenBytes`;
  *     `positions` is touched only by the phrase path — parquet column
  *     pruning keeps it unread ("read as needed").
  *   4. conjunctive intersection (J2): one hash aggregation per (query,
  *     docId) counts the distinct terms matched (a conditional count on
  *     each term's first slot) against the query's term count — an
  *     equi-join on docId realized as partial/final aggregation, no join
  *     ordering issue at any arity.
  *   5. lossy BM25 (F5-F7): in the same aggregation, idf·tfNorm per slot
  *     from the decoded lenByte — no join against per-doc state — summed
  *     in slot order.
  *   6. exact top-k (A5/O2/O3): a single query's orderBy(score desc, docId
  *     asc) limit k plans TakeOrderedAndProject — per-partition bounded
  *     heaps merged on the driver, the same partial/final shape as the
  *     reference's per-query heap (tie rule per SURVEY.md §8.4); a batch
  *     takes per-query heaps with [[TopKAggregator]].
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
    /** The visible snapshot's block metadata for [[MetaStore]]: its
      * postings files, its superblocks files when the stage covers every
      * visible segment (a batch index: the stage is committed), and the
      * caches over them. Resolved once per snapshot (keyed by the postings
      * reader, itself one per snapshot), so a new snapshot starts with
      * empty caches. Listed on the driver, no Spark job. */
    private[query] def blockMeta: MetaStore.Snapshot = {
      val postings = parquetFiles("postings")
      val sb = stageKey("superblocks")
      val covered = sb.segs match {
        case None => graft.index.Manifest.isCommitted(indexDir, "superblocks")
        case Some(live) => live.nonEmpty && live.forall(s =>
          java.nio.file.Files.isDirectory(java.nio.file.Paths.get(indexDir, "superblocks", s"seg=$s")))
      }
      memoized("meta", (postings, sb, covered))(new MetaStore.Snapshot(postings,
        if (covered) Some(new SnapshotReader.StageFiles(sb.files.map(_._1))) else None))
    }
    /** This index with its segment set fixed as it is now: a segmented
      * index it does not already pin gets [[asOfSeg]] = its newest visible
      * segment, so later appends stay invisible; any other index is
      * returned as is. A compaction still retires the pinned segments —
      * the pinned index then sees none of them. */
    private[query] def pinned: LoadedIndex = visibleSegments match {
      case Some(segs) if asOfSeg.isEmpty => copy(asOfSeg = Some(segs.maxOption.getOrElse(-1L)))
      case _ => this
    }

    def postings: DataFrame = stageRelation("postings")()
    /** Checks, once per loaded index, that every visible postings file
      * carries the inline per-posting norm stream (`lenBytes`,
      * [[graft.index.PostingCodec]]) that scoring reads. Read from the
      * files' parquet footers on the driver — no data read, no Spark job.
      * A file without it predates the stream and throws
      * [[graft.index.PostingCodec.LegacyPostingsException]]: such an index
      * must be rebuilt. A missing stage passes (there is nothing to score);
      * a footer that cannot be read is an error. */
    lazy val requireNormStream: Unit = {
      val files = parquetFiles("postings")
      files.paths.find(!files.hasColumn(_, "lenBytes"))
        .foreach(p => throw new graft.index.PostingCodec.LegacyPostingsException(p))
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
      * stored inline — parquet reads exactly these 3 columns). */
    def doclen: DataFrame =
      stageRelation("docstore", "doclen")((df, _) => df.select("docId", "len", "lenByte"))
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

  /** Decode posting blocks into scoring rows (term, docId, tf, lenByte),
    * plus each posting's position list (`pos`) when `positions` is set;
    * otherwise the `positions` column is never read (parquet column
    * pruning — "read as needed"). The lenByte comes from the block's own
    * inline norm stream, so scoring runs with ZERO joins against per-doc
    * state: at 10^10 docs a doc-length table is neither broadcastable nor
    * cheap to shuffle decoded postings against.
    *
    * `acc` (optional) accumulates decoded-posting counts for diagnostics. */
  def decodedScoreRows(ix: LoadedIndex, blocks: DataFrame, positions: Boolean = false,
                       acc: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
    val spark = ix.spark
    import spark.implicits._
    ix.requireNormStream
    val pos = if (positions) col("positions") else lit(null).cast("binary")
    val rows = blocks
      .select(col("term"), col("prevDocId"), col("n"), col("docIds"), col("tfs"),
        col("lenBytes"), pos.as("positions"))
      .as[(String, Int, Int, Array[Byte], Array[Byte], Array[Byte], Array[Byte])]
      .flatMap { case (t, prev, n, ids, tfs, lbs, ps) =>
        acc.foreach(_.add(n))
        val dt = PostingCodec.decodeDocIdTf(prev, n, ids, tfs)
        val lb = PostingCodec.decodeLenBytes(n, lbs)
        val pl = if (ps == null) null else PostingCodec.decodePositions(n, ps)
        dt.iterator.zipWithIndex.map { case ((d, tf), i) =>
          (t, d, tf, lb(i), if (pl == null) null else pl(i))
        }
      }
      .toDF("term", "docId", "tf", "lenByte", "pos")
    if (positions) rows else rows.drop("pos")
  }

  /** Decode posting blocks to (term, docId) only — membership for NOT
    * terms, match sets and union dfs; no tf or norm stream is read. */
  private def decodedIds(blocks: DataFrame): DataFrame = {
    val spark = blocks.sparkSession
    import spark.implicits._
    blocks.select("term", "prevDocId", "n", "docIds", "tfs")
      .as[(String, Int, Int, Array[Byte], Array[Byte])]
      .flatMap { case (t, prev, n, ids, tfs) =>
        PostingCodec.decodeDocIdTf(prev, n, ids, tfs).iterator.map(p => (t, p._1))
      }
      .toDF("term", "docId")
  }

  /** The posting blocks named by `keys` (term, firstDocId): a term filter
    * pushed to the parquet scan, then a broadcast semi-join on the keys —
    * not a scalar UDF, so it stays in whole-stage codegen, and the key set
    * is bounded by the query terms' block counts. */
  private[query] def blocksOf(ix: LoadedIndex, keys: Set[(String, Int)]): DataFrame = {
    val spark = ix.spark
    import spark.implicits._
    ix.postings.filter($"term".isin(keys.iterator.map(_._1).toSeq.distinct: _*))
      .join(broadcast(keys.toSeq.toDF("term", "firstDocId")), Seq("term", "firstDocId"), "left_semi")
  }

  /** Lossy-BM25 partial score of a posting row (F5-F7): w · tf·(k1+1) /
    * (tf + cache[lenByte]), `w` the slot's idf weight. Pure Column
    * arithmetic (whole-stage codegen): the 256-entry lossy denominator
    * cache is an array literal indexed by the row's `lenByte`. A boost
    * folds into `w` driver-side as (idf·boost) — the oracle's association
    * order, and ·1.0 is IEEE-exact. */
  private[query] def partScore(ix: LoadedIndex, w: Column, tf: Column): Column = {
    val cacheLit = array(ix.lossyCache.map(lit).toSeq: _*)
    w * (tf * lit(Bm25.K1 + 1.0) / (tf + element_at(cacheLit, col("lenByte") + 1)))
  }

  /** Exact global top-k of one query's (docId, score) rows (A5/O2/O3):
    * orderBy(score desc, docId asc) limit k plans TakeOrderedAndProject —
    * per-partition bounded heaps merged on the driver, the reference's
    * per-query heap shape (tie rule per SURVEY.md §8.4). Ranks 1-based. */
  private[query] def topHits(rows: DataFrame, k: Int): Dataset[Hit] = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows.orderBy(desc("score"), asc("docId")).limit(k)
      .select($"docId", $"score").as[(Int, Double)].collect()
      .zipWithIndex.map { case ((d, s), i) => Hit(d, s, i + 1) }
      .toSeq.toDS()
  }

  /** Per-query exact top-k of a batch's (queryId, docId, score) rows via
    * the bounded-heap [[TopKAggregator]]: partial per-partition heaps plus
    * a pairwise merge — no per-query full sort (a window row_number would
    * sort every matched doc). Returns (queryId, rank, docId, score). */
  private[query] def rankedTopK(rows: DataFrame, k: Int): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows.select($"queryId", $"docId", $"score").as[(Int, Int, Double)]
      .groupByKey(_._1)
      .mapValues(r => (r._2, r._3))
      .agg(new TopKAggregator(k).toColumn)
      .flatMap { case (qid, top) =>
        top.iterator.zipWithIndex.map { case ((d, s), i) => (qid, i + 1, d, s) }
      }
      .toDF("queryId", "rank", "docId", "score")
  }

  private[query] def noRanks(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Int, Int, Int, Double)].toDF("queryId", "rank", "docId", "score")
  }

  /** One query of a distributed batch: its slots in query order (a
    * repeated term is a separate slot) and its options, with [[search]]'s
    * semantics. `disj` evaluates in OR mode; `slop`/`shifts` apply to a
    * phrase batch only. */
  private final case class BatchQuery(qid: Int, terms: Seq[String], disj: Boolean = false,
                                      exclude: Seq[String] = Nil,
                                      boosts: Map[String, Double] = Map.empty,
                                      after: Option[(Double, Int)] = None,
                                      slop: Int = 0, shifts: Option[Seq[Int]] = None)

  /** A planned batch: `rows` are its scored (queryId, docId, score) rows —
    * every match of every query, with NOT terms, delete tombstones and
    * `after` cursors applied; `diag` reads the pruning diagnostics once
    * the rows' job has run; `decodedShare` is (postings of the batch's
    * terms, postings in the blocks it decodes). */
  private final case class Ran(rows: DataFrame, diag: () => BlockMax.Diag,
                               decodedShare: (Long, Long))

  /** The distributed query pipeline: [[search]] runs it with a one-query
    * batch, [[searchAll]] and [[searchAllPhrase]] with many. Planning runs
    * on the driver ([[BlockMax]] over [[MetaStore]] rows, no Spark job);
    * the returned rows are one Catalyst plan, plus one pilot job when the
    * WAND θ-prune engages.
    *
    *  1. P2 guard per query, then one metadata fetch for the batch and one
    *     [[BlockMax.plan]] per query: AND intersects its terms' block
    *     coverage, OR unions it (the J3 skip analog: rare∧hot decodes only
    *     the hot blocks overlapping the rare term's ranges, any arity).
    *  2. WAND θ-prune (BMW — the hot∧hot case range pruning cannot touch):
    *     non-phrase queries whose range-surviving posting estimate exceeds
    *     `wandMinPostings` share ONE pilot job over their highest-ceiling
    *     candidate intervals, and θ_q is that query's exact kth pilot score
    *     after its exclusions, deletes and cursor (kth-best is monotone in
    *     set inclusion, so θ_q never exceeds the true kth score).
    *     [[BlockMax.thetaSel]] then keeps only blocks that can reach θ_q.
    *  3. The union of every query's surviving blocks decodes once. A
    *     phrase batch decodes positions, passes the J5 bloom gate and keeps
    *     a (query, doc) when its slot-wise position lists match
    *     ([[Kernel.positional]]: explicit shifts, or ordered proximity
    *     under a slop).
    *  4. One hash aggregation per (query, doc) does the conjunctive AND
    *     and the per-slot lossy-BM25 score; then the NOT-term and
    *     tombstone anti-joins and the cursor filter.
    *
    * Cross-query block sharing is sound: a conjunctive doc's
    * `nMatched == nTerms` implies every one of its term rows was decoded
    * (a complete score), and a disjunctive doc's partial score only
    * understates — a doc scoring ≥ θ_q has ALL its blocks surviving. */
  private def run(ix: LoadedIndex, queries: Seq[BatchQuery], k: Int, phrase: Boolean,
                  wandMinPostings: Long, bloomFactor: Int): Option[Ran] = {
    val spark = ix.spark
    import spark.implicits._
    val allTerms = queries.flatMap(_.terms).distinct
    if (allTerms.isEmpty || k <= 0) return None
    // (P1/P2) one driver-side stats read covers positive AND exclusion
    // terms (the latter so the exclusion meta fetch can df-estimate its
    // direct-path escape)
    val dfs = ix.dfs((allTerms ++ queries.flatMap(_.exclude)).distinct)
    // P2 guard: a conjunctive query is live only if EVERY term exists
    // (`qq_mem_engine.h:345-347`); a disjunctive one (SearchOperator::OR,
    // declared `types.h:70` but never implemented by the reference) if
    // ANY does, its absent terms dropping out. A conjunctive query whose
    // required term is also excluded is unsatisfiable by construction.
    val live = queries.flatMap { q =>
      val ts = if (q.disj) q.terms.filter(dfs.contains) else q.terms
      if (ts.nonEmpty &&
          (q.disj || (ts.forall(dfs.contains) && !q.exclude.exists(ts.contains))))
        Some(q.copy(terms = ts))
      else None
    }
    if (live.isEmpty) return None
    val idfs = dfs.map { case (t, df) => t -> Bm25.idf(ix.nDocs, df) }
    val liveTerms = live.flatMap(_.terms).distinct
    // one [[MetaStore]] read for the batch (per-term LRU cache when warm,
    // two-level coarse→fine past the direct cap): coverage = union over
    // queries of each query's AND/OR shape
    val metaRaw = MetaStore.fineMeta(ix, liveTerms, dfs,
      live.map(q => if (q.disj) Seq(q.terms.distinct) else q.terms.distinct.map(Seq(_))))
    val meta = BlockMax.metaByTerm(metaRaw, idfs, ix.lossyCache)
    val plans: Seq[(BatchQuery, BlockMax.Plan)] = live.flatMap { q =>
      val wt = q.terms.groupBy(identity).map { case (t, xs) =>
        t -> xs.size * q.boosts.getOrElse(t, 1.0) }
      BlockMax.plan(meta, q.terms.distinct, wt, q.disj).map(q -> _)
    }
    if (plans.isEmpty) return None

    val exPairs = exclusionPairs(ix,
      plans.map { case (q, p) => (q.qid, q.exclude.distinct, p.candidates) }, dfs)
    // one row per query SLOT: a repeated term scores once per slot
    // (`scoring.h:133-142`), w = idf·boost. The aggregation collects
    // (slot, partScore) pairs — each slot has ≤1 contribution per doc —
    // and the codegen'd [[graft.functions.SlotOrderedSum]] re-adds them in
    // slot order: bitwise-deterministic and bitwise-identical to the
    // oracle's loop (an order-free hash-agg sum differs by ulps run to
    // run, which flips rank ties between equal-score docs). `firstSlot`
    // marks each distinct term's first slot, so nMatched is a conditional
    // count (no countDistinct Expand rewrite).
    val slots = broadcast(plans.flatMap { case (q, _) =>
      val nTerms = q.terms.distinct.size
      q.terms.zipWithIndex.map { case (t, slot) =>
        (q.qid, t, slot, idfs(t) * q.boosts.getOrElse(t, 1.0),
          q.terms.indexOf(t) == slot, nTerms, q.disj)
      }
    }.toDF("queryId", "term", "slot", "w", "firstSlot", "nTerms", "disj"))
    // `after` cursor (deep paging): scores are bitwise-deterministic, so
    // the strict (score desc, docId asc) predicate is exact across
    // recomputation. Applied before the pilot's heaps, so θ is the kth
    // score AFTER the cursor and pruning stays sound for any page.
    val afterKeep = plans.flatMap { case (q, _) =>
      q.after.map { case (s0, d0) =>
        $"queryId" =!= q.qid || $"score" < s0 || ($"score" === s0 && $"docId" > d0)
      }
    }.reduceOption(_ && _)
    val decodedAcc = spark.sparkContext.longAccumulator("graft.decodedPostings")

    def phraseMatches(decoded: DataFrame): DataFrame = {
      val withQuery = decoded.join(broadcast(plans.flatMap { case (q, _) =>
        q.terms.distinct.map(q.qid -> _) }.toDF("queryId", "term")), "term")
      val bcQ = spark.sparkContext.broadcast(plans.map { case (q, _) =>
        q.qid -> ((q.terms, q.slop, q.shifts.map(_.toArray).orNull)) }.toMap)
      bloomGate(ix, withQuery, plans.flatMap { case (q, _) =>
          Some(q.qid -> bloomChecks(q, dfs, bloomFactor)).filter(_._2.nonEmpty) }.toMap,
          plans.size)
        .select($"queryId", $"docId", $"term", $"tf", $"pos", $"lenByte")
        .as[(Int, Int, String, Int, Array[Int], Int)]
        .groupByKey(r => (r._1, r._2))
        .flatMapGroups { (key: (Int, Int), rows: Iterator[(Int, Int, String, Int, Array[Int], Int)]) =>
          val byTerm = rows.toArray.groupBy(_._3)
          val (qts, slop, shifts) = bcQ.value(key._1)
          // one position list per query SLOT: repeated terms reuse one
          // list at different shifts (`query_processing.h` leapfrogs per
          // slot, not per unique term)
          val ok = qts.distinct.forall(byTerm.contains) && {
            val posLists = qts.map(t => byTerm(t).head._5).toArray
            Kernel.positional(posLists, shifts, slop, new Array[Int](posLists.length))
          }
          if (ok) byTerm.valuesIterator.map(_.head).map(r => (r._1, r._2, r._3, r._4, r._6))
          else Iterator.empty
        }
        .toDF("queryId", "docId", "term", "tf", "lenByte")
    }
    def scoreRows(keys: Set[(String, Int)]): DataFrame = {
      val decoded = decodedScoreRows(ix, blocksOf(ix, keys), positions = phrase, Some(decodedAcc))
      val scored =
        (if (phrase) phraseMatches(decoded).join(slots, Seq("queryId", "term"))
         else decoded.join(slots, "term"))
          .withColumn("partScore", partScore(ix, $"w", $"tf"))
          .groupBy($"queryId", $"docId", $"nTerms", $"disj")
          .agg(sum(when($"firstSlot", 1).otherwise(0)).as("nMatched"),
            collect_list(struct($"slot", $"partScore")).as("sps"))
          .withColumn("score", graft.functions.functions.slot_sum($"sps"))
          .filter($"disj" || $"nMatched" === $"nTerms")
          .select($"queryId", $"docId", $"score")
      // NOT terms, then delete tombstones: doc-level anti-joins. Stats (N,
      // avgdl, df, idf) stay pre-delete — Lucene semantics: surviving docs
      // score identically until a merge re-baselines them.
      val afterEx = exPairs.fold(scored)(e => scored.join(e, Seq("queryId", "docId"), "left_anti"))
      val afterDel = ix.tombstones.fold(afterEx)(d => afterEx.join(d, Seq("docId"), "left_anti"))
      afterKeep.fold(afterDel)(afterDel.filter)
    }

    val wandPlans = if (phrase) Nil else plans.filter(_._2.estPostings > wandMinPostings)
    val pilotKeys = wandPlans.iterator.flatMap { case (_, p) =>
      BlockMax.keysOf(meta, BlockMax.pilotSel(meta, p, k)) }.toSet
    val thetas: Map[Int, Double] =
      if (pilotKeys.isEmpty) Map.empty
      else rankedTopK(scoreRows(pilotKeys), k).filter($"rank" === k)
        .select("queryId", "score").as[(Int, Double)].collect().toMap
    val finalSel = plans.map { case (q, p) =>
      BlockMax.thetaSel(meta, p, thetas.getOrElse(q.qid, Double.NegativeInfinity)) }
    val neededKeys = finalSel.iterator.flatMap(BlockMax.keysOf(meta, _)).toSet
    if (neededKeys.isEmpty) return None
    val totalPostings = metaRaw.iterator.map(_._4.toLong).sum
    def blockCount(sel: Map[String, Array[Int]]) = sel.valuesIterator.map(_.length.toLong).sum
    Some(Ran(scoreRows(neededKeys),
      () => BlockMax.Diag(liveTerms.size, metaRaw.length.toLong, totalPostings,
        plans.iterator.map(p => blockCount(p._2.rangeSel)).sum,
        finalSel.iterator.map(blockCount).sum, decodedAcc.value,
        thetas.valuesIterator.maxOption.getOrElse(Double.NegativeInfinity), wandPlans.nonEmpty),
      (totalPostings,
        metaRaw.iterator.filter(r => neededKeys((r._1, r._2))).map(_._4.toLong).sum)))
  }

  /** (queryId, docId) of the docs holding one of a query's NOT terms
    * (Lucene MUST_NOT), skip-pruned: only exclusion blocks overlapping
    * that query's candidate coverage decode, so a hot excluded term
    * (`-return` over source code) costs the slice of its postings that can
    * meet the required terms, never a full decode. `excl` holds (queryId,
    * NOT terms, candidate coverage) per query. */
  private def exclusionPairs(ix: LoadedIndex, excl: Seq[(Int, Seq[String], Array[(Int, Int)])],
                             dfs: Map[String, Long]): Option[DataFrame] = {
    val spark = ix.spark
    import spark.implicits._
    val allEx = excl.flatMap(_._2).distinct
    if (allEx.isEmpty) return None
    // meta bounded by the union of the queries' candidate coverage
    val meta = BlockMax.metaByTerm(
      MetaStore.boundedRangeMeta(ix, allEx, BlockMax.union(excl.iterator.flatMap(_._3)), dfs),
      Map.empty, ix.lossyCache)
    val keys = excl.iterator.flatMap { case (_, ts, cand) =>
      BlockMax.keysOf(meta, ts.filter(meta.contains)
        .map(t => t -> BlockMax.overlapping(meta(t), cand)).toMap)
    }.toSet
    if (keys.isEmpty) None
    else Some(decodedIds(blocksOf(ix, keys))
      .join(broadcast(excl.flatMap { case (q, ts, _) => ts.map(q -> _) }
        .toDF("queryId", "term")), "term")
      .select("queryId", "docId").distinct())
  }

  /** The J5 bloom checks of one phrase query, each (rowTerm, probe,
    * useEnd): read rowTerm's filter for the doc and test `probe` against
    * its end (successor) or begin (predecessor) side. `bloomFactor` is the
    * reference's `bloom_enable_factor` (`query_processing.h:795-807`): a
    * 2-term phrase picks the direction by posting-list size —
    * `factor*df1 <= df2` probes term1's END filter for term2,
    * `factor*df2 < df1` term2's BEGIN filter for term1, and comparable
    * sizes skip the bloom; more terms check the end-filter chain over
    * adjacent pairs (`CheckBloomFallBack`). The filters encode ADJACENCY,
    * so they apply only at slop 0 and with consecutive shifts (a
    * proximity match need not contain an adjacent pair; a stopword gap
    * breaks pair adjacency). */
  private def bloomChecks(q: BatchQuery, dfs: Map[String, Long],
                          bloomFactor: Int): Seq[(String, String, Boolean)] = {
    val gapped = q.shifts.exists(sh => !sh.indices.forall(i => sh(i) == sh.head + i))
    if (bloomFactor == BloomNeverUse || q.terms.size < 2 || q.slop > 0 || gapped) Nil
    else if (q.terms.size == 2) {
      val (a, b) = (q.terms.head, q.terms(1))
      if (bloomFactor.toLong * dfs(a) <= dfs(b)) Seq((a, b, true))     // end-probe a→b
      else if (bloomFactor.toLong * dfs(b) < dfs(a)) Seq((b, a, false)) // begin-probe b←a
      else Nil                                                          // comparable: skip
    } else q.terms.sliding(2).map(p => (p.head, p(1), true)).toSeq
  }

  /** (J5) the bloom semi-join on (queryId, docId): a phrase query's decoded
    * rows are kept only for docs whose bloom filters pass all its `checks`
    * — lossy-positive, so the positional check after it stays exact. The
    * gate applies only when each of the batch's `nQueries` queries has
    * checks: skipping a lossy gate is always exact, while gating a query
    * without checks would drop its rows. */
  private def bloomGate(ix: LoadedIndex, rows: DataFrame,
                        checks: Map[Int, Seq[(String, String, Boolean)]],
                        nQueries: Int): DataFrame = {
    val spark = ix.spark
    import spark.implicits._
    (if (checks.size < nQueries) None else ix.bloom).fold(rows) { bdf =>
      val bcChecks = spark.sparkContext.broadcast(checks)
      val passing = bdf
        .filter($"term".isin(checks.valuesIterator.flatten.map(_._1).toSeq.distinct: _*))
        .select("term", "docId", "beginBits", "endBits", "k")
        .as[(String, Int, Array[Byte], Array[Byte], Int)]
        .groupByKey(_._2)
        .flatMapGroups { (docId, rs) =>
          val m = rs.map(r => r._1 -> ((r._3, r._4, r._5))).toMap
          bcChecks.value.iterator.collect {
            case (qid, cs) if cs.forall { case (rowTerm, probe, useEnd) =>
              m.get(rowTerm).exists { case (begin, end, kk) =>
                new graft.index.Bloom.Filter(if (useEnd) end else begin, kk).mightContain(probe)
              }
            } => (qid, docId)
          }
        }
        .toDF("queryId", "docId")
      rows.join(passing, Seq("queryId", "docId"))
    }
  }

  /** Conjunctive (optionally phrase) BM25 top-k for one query: the
    * one-query batch of the distributed pipeline (see the object doc),
    * ending in orderBy(score desc, docId asc) limit k. Returns (docId,
    * score, rank), rank 1-based; publishes [[lastDiag]].
    *
    * `conjunctive = false` scores in OR mode (absent terms contribute
    * nothing); `excludeTerms` are NOT terms (Lucene MUST_NOT); `boosts`
    * scale a term's slot weights (Lucene `term^B`); `after` pages past a
    * (score, docId) cursor ([[searchAfter]]); a phrase matches at slop 0
    * on adjacent positions, or on explicit per-slot `phraseShifts`
    * (analyzed-query position gaps, Lucene match_phrase), or in ordered
    * proximity within `slop`. `bloomFactor` rules the phrase bloom gate
    * ([[BloomNeverUse]] never consults it); `wandMinPostings` is the
    * posting estimate above which the WAND θ-prune engages. */
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
    require(phraseShifts.forall(sh => phrase && slop == 0 &&
        sh.size == queryTerms.size && sh.sliding(2).forall {
          case Seq(a, b) => a < b; case _ => true }),
      "phraseShifts require an exact phrase and strictly increasing shifts")
    // boosts scale each slot's idf weight; non-positive boosts would break
    // the BMW ceiling rule (ub would no longer upper-bound the slot score)
    require(boosts.valuesIterator.forall(_ > 0.0), "boosts must be positive")
    val spark = ix.spark
    import spark.implicits._
    val q = BatchQuery(0, queryTerms, !conjunctive, excludeTerms, boosts, after, slop, phraseShifts)
    run(ix, Seq(q), k, phrase, wandMinPostings, bloomFactor) match {
      case None => spark.emptyDataset[Hit]
      case Some(ran) =>
        val hits = topHits(ran.rows.select("docId", "score"), k)
        lastDiag.set(ran.diag())
        hits
    }
  }

  /** The `maxExpansion` terms of a dictionary probe's (term, df) rows
    * first by (df desc, term asc) — the highest-signal sub-terms, Lucene's
    * bounded multi-term rewrite policy. Every expansion shares this
    * deterministic cap, so a capped expansion stays oracle-verifiable. */
  private def topByDf(cands: DataFrame, maxExpansion: Int): Seq[String] = {
    val spark = cands.sparkSession
    import spark.implicits._
    cands.select($"term", $"df").orderBy(desc("df"), asc("term")).limit(maxExpansion)
      .as[(String, Long)].collect().map(_._1).toSeq
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
    * analog of a trie descent), capped by [[topByDf]].
    */
  def expandPrefix(ix: LoadedIndex, prefix: String, maxExpansion: Int = 64): Seq[String] =
    if (prefix.isEmpty || maxExpansion <= 0) Nil
    else topByDf(ix.termstats.filter(col("term").startsWith(prefix)), maxExpansion)

  /** Prefix BM25 top-k: expand `prefix` against the dictionary, then score
    * the expansion disjunctively (each matched sub-term contributes its own
    * idf-weighted partial, absent sub-terms contribute nothing) — [[search]]
    * in OR mode. */
  def searchPrefix(ix: LoadedIndex, prefix: String, k: Int,
                   maxExpansion: Int = 64): Dataset[Hit] =
    search(ix, expandPrefix(ix, prefix, maxExpansion), k, conjunctive = false)

  /** Fuzzy dictionary probe: terms within `maxDist` Levenshtein edits of
    * `term` (typo tolerance — `qurey` finds `query`), with the SAME
    * deterministic cap as every expansion ([[topByDf]]).
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
                  maxExpansion: Int = 16): Seq[String] =
    if (term.isEmpty || maxExpansion <= 0) Nil
    else topByDf(fuzzyCandidates(ix, term, maxDist), maxExpansion)

  /** (term, df) of the dictionary terms within `maxDist` edits of `term`.
    * The SymSpell stage answers with one bounded `del IN (...)` probe
    * instead of a dictionary scan — identical output (superset
    * candidates, exact threshold-Levenshtein verify); a segmented index
    * probes the per-segment tables and sums per-segment dfs. */
  private def fuzzyCandidates(ix: LoadedIndex, term: String, maxDist: Int): DataFrame =
    ix.fuzzy match {
      case Some((table, builtDist, segmented)) if maxDist <= builtDist =>
        if (segmented) graft.index.FuzzyIndex.probeSegmented(table, term, maxDist)
        else graft.index.FuzzyIndex.probe(table, term, maxDist)
      case _ =>
        ix.termstats
          .filter(abs(length(col("term")) - lit(term.length)) <= maxDist)
          .filter(levenshtein(col("term"), lit(term), maxDist) >= 0) // -1 = over threshold
          .select(col("term"), col("df"))
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
    * survivors. Deterministic [[topByDf]] cap, as every expansion here. */
  def expandWildcard(ix: LoadedIndex, pattern: String,
                     maxExpansion: Int = 64): Seq[String] = {
    if (pattern.isEmpty || maxExpansion <= 0) return Nil
    val litPrefix = pattern.takeWhile(c => c != '*' && c != '?')
    val litSuffix = pattern.reverse.takeWhile(c => c != '*' && c != '?').reverse
    val base =
      if (litPrefix.nonEmpty) ix.termstats.filter(col("term").startsWith(litPrefix))
      else if (litSuffix.nonEmpty)
        // leading wildcard: probe the reversed dictionary so the literal
        // SUFFIX prunes (a `*turn` query descends on "nrut" instead of
        // LIKE-scanning the whole dictionary)
        ix.revTermstats.filter(col("rev").startsWith(litSuffix.reverse))
      else ix.termstats // `*lit*` middle-literal globs: full dictionary LIKE
    topByDf(base.filter(col("term").like(wildcardToLike(pattern))), maxExpansion)
  }

  /** Wildcard BM25 top-k: disjunctive scoring of the glob expansion — the
    * bounded multi-term rewrite, same evaluation as [[searchPrefix]]. */
  def searchWildcard(ix: LoadedIndex, pattern: String, k: Int,
                     maxExpansion: Int = 64): Dataset[Hit] =
    search(ix, expandWildcard(ix, pattern, maxExpansion), k, conjunctive = false)

  /** Fuzzy BM25 top-k: score the edit-distance expansion disjunctively —
    * the multi-term rewrite of a typo'd query, same evaluation as
    * [[searchPrefix]]. */
  def searchFuzzy(ix: LoadedIndex, term: String, k: Int, maxDist: Int = 1,
                  maxExpansion: Int = 16): Dataset[Hit] =
    search(ix, expandFuzzy(ix, term, maxDist, maxExpansion), k, conjunctive = false)

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
    val dfs: Map[String, Long] = ix.dfs(grps.flatten)
    val liveGroups = grps.map(_.filter(dfs.contains))
    if (liveGroups.exists(_.isEmpty)) return spark.emptyDataset[Hit] // P2 analog
    val liveTerms = liveGroups.flatten
    val meta = BlockMax.metaByTerm(
      MetaStore.fineMeta(ix, liveTerms, dfs, Seq(liveGroups)), Map.empty, ix.lossyCache)
    // conjunctive-over-groups coverage: ∩_g (∪_{m∈g} ranges(m))
    val candidates = liveGroups.map(g => BlockMax.unionCoverage(
      g.map(t => meta.getOrElse(t, Array.empty[BlockMax.BlockMeta])))).reduceLeft(BlockMax.intersect)
    if (candidates.isEmpty) return spark.emptyDataset[Hit]
    val keys = BlockMax.keysOf(meta, liveTerms.filter(meta.contains)
      .map(t => t -> BlockMax.overlapping(meta(t), candidates)).toMap).toSet
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
        decodedIds(ix.postings.filter($"term".isin(liveTerms: _*))).join(groupDf, "term")
          .select("gid", "docId").distinct()
          .groupBy("gid").agg(count(lit(1)).as("df"))
          .as[(Int, Long)].collect().toMap
      }
    val idfDf = broadcast(liveGroups.indices.map(i => (i, Bm25.idf(ix.nDocs, dfG(i))))
      .toDF("gid", "w"))
    val nGroups = liveGroups.size
    val scored = decodedScoreRows(ix, blocksOf(ix, keys))
      .join(groupDf, "term")
      .groupBy($"gid", $"docId")
      // exact integer blended tf; lenByte is functionally dependent on
      // docId (every decoded row of a doc carries the same norm) so max()
      // just picks the value — no doc-length join after the aggregation
      .agg(sum($"tf").cast("long").as("tf"), max($"lenByte").as("lenByte"))
      .join(idfDf, "gid")
      .withColumn("partScore", partScore(ix, $"w", $"tf"))
      .groupBy($"docId")
      .agg(count(lit(1)).as("nMatched"),
        collect_list(struct($"gid".as("slot"), $"partScore")).as("sps"))
      .withColumn("score", graft.functions.functions.slot_sum($"sps"))
      .filter($"nMatched" === nGroups)
    topHits(ix.tombstones.fold(scored)(d => scored.join(d, Seq("docId"), "left_anti")), k)
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
    * as a codegen'd RLIKE on the survivors. Deterministic [[topByDf]] cap,
    * as every expansion here.
    *
    * Patterns are restricted by contract to the Java∩RE2 common subset
    * (classes, alternation, bounded/unbounded repetition — no
    * backreferences or lookaround) so the operator stays oracle-exact. */
  def expandRegex(ix: LoadedIndex, pattern: String,
                  maxExpansion: Int = 64): Seq[String] = {
    if (pattern.isEmpty || maxExpansion <= 0) return Nil
    val litPrefix = regexLiteralPrefix(pattern)
    val base =
      if (litPrefix.nonEmpty) ix.termstats.filter(col("term").startsWith(litPrefix))
      else ix.termstats
    topByDf(base.filter(col("term").rlike(s"^(?:$pattern)$$")), maxExpansion)
  }

  /** Spell suggestion ("did you mean" — Lucene `DirectSpellChecker`
    * analog): dictionary terms within `maxDist` edits of `term`, ranked by
    * (distance asc, df desc, term asc) — closest first, popularity breaks
    * ties — unlike [[expandFuzzy]]'s pure df rewrite order. The exact term
    * itself, when indexed, is its own distance-0 first suggestion, which
    * callers use as the "no correction needed" signal. Same candidates as
    * [[expandFuzzy]]; cost is a dictionary scan, never a corpus scan.
    * Returns (term, dist, df). */
  def suggest(ix: LoadedIndex, term: String, maxDist: Int = 2,
              maxSuggestions: Int = 3): Seq[(String, Int, Long)] = {
    val spark = ix.spark
    import spark.implicits._
    if (term.isEmpty || maxSuggestions <= 0) return Nil
    fuzzyCandidates(ix, term, maxDist)
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
                  maxExpansion: Int = 64): Dataset[Hit] =
    search(ix, expandRegex(ix, pattern, maxExpansion), k, conjunctive = false)

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
    * Same block plan as [[search]] (only blocks inside every term's
    * coverage decode), same P2 guard; exclusion terms prune like
    * [[search]]'s NOT. Returns a single `docId` (int) column. */
  def matchingDocs(ix: LoadedIndex, queryTerms: Seq[String],
                   excludeTerms: Seq[String] = Nil): DataFrame = {
    val spark = ix.spark
    import spark.implicits._
    def empty = Seq.empty[Int].toDF("docId")
    val terms = queryTerms.distinct
    if (terms.isEmpty || excludeTerms.exists(terms.contains)) return empty
    val ex = excludeTerms.distinct
    val dfs: Map[String, Long] = ix.dfs(terms ++ ex)
    if (terms.exists(t => !dfs.contains(t))) return empty
    val meta = BlockMax.metaByTerm(
      MetaStore.fineMeta(ix, terms, dfs, Seq(terms.map(Seq(_)))), Map.empty, ix.lossyCache)
    val plan = BlockMax.plan(meta, terms, Map.empty, disj = false).getOrElse(return empty)
    // terms are distinct and each (term, docId) posting is unique across
    // blocks (salted shards partition the docId space), so a plain count
    // equals the distinct-term count without countDistinct's Expand
    val matched = decodedIds(blocksOf(ix, BlockMax.keysOf(meta, plan.rangeSel).toSet))
      .groupBy($"docId")
      .agg(count(lit(1)).as("nMatched"))
      .filter($"nMatched" === terms.size)
      .select("docId")
    exclusionPairs(ix, Seq((0, ex, plan.candidates)), dfs)
      .fold(matched)(e => matched.join(e.select("docId"), Seq("docId"), "left_anti"))
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

  /** Batch search: many queries (queryId, terms) at once — a bounded
    * number of Spark jobs for the whole query set, the distributed
    * pipeline of the object doc run over every query. Used by the bench
    * and the query log.
    *
    * Per query it keeps [[search]]'s semantics: queries listed in
    * `disjunctive` evaluate in OR mode, `excludes` maps a queryId to its
    * NOT terms, `boosts` to its term boosts. Each query's block plan is
    * its own; the union of surviving blocks decodes once, and the
    * queries whose range-surviving estimate exceeds `wandMinPostings`
    * share one WAND pilot job. Top-k per query comes from
    * partition-local bounded heaps merged once. Returns (queryId, rank,
    * docId, score); publishes [[lastBatchDiag]]. */
  def searchAll(ix: LoadedIndex, queries: Seq[(Int, Seq[String])], k: Int,
                disjunctive: Set[Int] = Set.empty,
                excludes: Map[Int, Seq[String]] = Map.empty,
                wandMinPostings: Long = 50000L,
                boosts: Map[Int, Map[String, Double]] = Map.empty): DataFrame = {
    require(boosts.valuesIterator.flatMap(_.valuesIterator).forall(_ > 0.0),
      "boosts must be positive")
    val qs = queries.map { case (qid, ts) =>
      BatchQuery(qid, ts, disjunctive(qid), excludes.getOrElse(qid, Nil),
        boosts.getOrElse(qid, Map.empty))
    }
    run(ix, qs, k, phrase = false, wandMinPostings, BloomNeverUse) match {
      case None => noRanks(ix.spark)
      case Some(ran) =>
        lastBatchDiag.set(ran.decodedShare)
        rankedTopK(ran.rows, k)
    }
  }

  /** Batch PHRASE search: every phrase query of a log in one scoring job
    * (the phrase analog of [[searchAll]]), with [[search]]'s phrase
    * semantics per query: a (query, doc) matches when every distinct term
    * is present and the slot-wise adjusted position lists intersect
    * ([[Kernel.positional]] — repeated terms reuse one list at different
    * shifts; a per-query `slops` entry > 0 relaxes the check to ordered
    * proximity). Matched docs score conjunctive BM25 with per-slot idf
    * multiplicity, then a bounded per-query top-k heap.
    *
    * The J5 bloom gate is not consulted here: it is a serving-path
    * candidate pruner, while the batch path's cost is bounded up front by
    * the block-range intersection; the positional check is exact either
    * way. Returns (queryId, rank, docId, score). */
  def searchAllPhrase(ix: LoadedIndex, queries: Seq[(Int, Seq[String])], k: Int,
                      slops: Map[Int, Int] = Map.empty): DataFrame = {
    val qs = queries.map { case (qid, ts) => BatchQuery(qid, ts, slop = slops.getOrElse(qid, 0)) }
    run(ix, qs, k, phrase = true, Long.MaxValue, BloomNeverUse)
      .fold(noRanks(ix.spark))(ran => rankedTopK(ran.rows, k))
  }
}

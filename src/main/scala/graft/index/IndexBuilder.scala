package graft.index

import graft.core.{LenByte, Tokenizer}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed inverted-index build — the Spark-native re-expression of the
  * reference's ingest loop (`qq_mem_engine.h:271-305`) and offline dumper
  * (`flash_engine_dumper.h:735-758`): one declarative pipeline instead of
  * two binaries.
  *
  * Stages (each checkpointable via [[Manifest]]):
  *   1. docids   — deterministic dense docId = global rank over (repo,path)
  *   2. docstore — (docId, repo, path, commit, lang, sha256, content)
  *   3. doclen   — (docId, len, lenByte) + avg scalar
  *   4. postings — term-partitioned, salted for hot terms, block-encoded
  *   5. termstats— (term, df, cf) aggregated from block METADATA (Σn, ΣsumTf),
  *                 range-partitioned and sorted by term
  *
  * Scale design: the only required shuffles are (a) the range-sort for docId
  * assignment, (b) the term(+salt) repartition for posting-list grouping,
  * and (c) the termstats partial+final aggregation and its (vocabulary-
  * sized) range repartition. Hot terms ('if',
  * 'return' — df ≈ corpus size) are salted into contiguous docId-range
  * shards so no single task ever materializes a whole hot posting list
  * (SURVEY.md §7.5.3-4); blocks are independently decodable so shards never
  * need to see each other.
  */
object IndexBuilder {

  final case class DocRow(docId: Int, repo: String, path: String, commit: String,
                          lang: String, sha256: String, content: String)
  /** Docstore row: [[DocRow]] plus the doc-length columns. Storing len /
    * lenByte IN the docstore makes the former `doclen/` stage a pure
    * columnar projection (parquet reads exactly 3 small columns), removing
    * one full tokenize pass + write + commit from the build. */
  final case class StoredDoc(docId: Int, repo: String, path: String, commit: String,
                             lang: String, sha256: String, content: String,
                             len: Int, lenByte: Int)
  final case class FlatPosting(term: String, docId: Int, tf: Int,
                               posBlob: Array[Byte], offBlob: Array[Byte],
                               lenByte: Int = 0)
  final case class BlockRow(term: String, prevDocId: Int, firstDocId: Int, lastDocId: Int,
                            n: Int, maxTf: Int, minLenByte: Int, sumTf: Int,
                            docIds: Array[Byte], tfs: Array[Byte], lenBytes: Array[Byte],
                            positions: Array[Byte], offsets: Array[Byte])

  /** Max postings a salted (term, shard) group should hold; terms with df
    * above this are split into contiguous docId ranges. This is the
    * work-quantum of the encode stage: smaller shards → better balance
    * (a hot term's list is encoded by many tasks in parallel), at the cost
    * of a larger broadcast span map (|terms with df>target| ≤
    * totalPostings/target, so the map stays bounded). 8K postings ≈ 64
    * blocks per shard. */
  val SaltTarget = 1 << 13

  /** Target flat postings per encode-stage shuffle partition (sized so the
    * per-task sort stays in memory). */
  val PostingsPerPartition = 300000L

  /** Deterministic dense docId: global rank over (repo, path).
    *
    * Two-pass over a range-partitioned sort: per-partition counts →
    * prefix-sum offsets → local index + offset. The result is the global
    * rank in the total order regardless of partition boundaries, so it is
    * identical at any parallelism (N vs 4N executors) — SURVEY.md §7.5.5.
    * The sorted dataset is persisted so both passes see one materialization.
    */
  def assignDocIds(spark: SparkSession, corpus: DataFrame, partitions: Int = 32): Dataset[DocRow] =
    assignDocIdsPersisted(spark, corpus, partitions)._1

  /** As [[assignDocIds]], but also returns the unpersist handle for the
    * internally-cached sorted corpus, so callers (streaming micro-batches
    * especially) can release it once downstream writes complete instead of
    * leaking one cached copy per batch. */
  def assignDocIdsPersisted(spark: SparkSession, corpus: DataFrame,
                            partitions: Int = 32): (Dataset[DocRow], () => Unit) = {
    import spark.implicits._
    val sorted = corpus
      .select("repo", "path", "commit", "lang", "sha256", "content")
      .as[(String, String, String, String, String, String)]
      .repartitionByRange(partitions, $"repo", $"path")
      .sortWithinPartitions("repo", "path")
      .persist()
    val counts = sorted.mapPartitions { it =>
      Iterator.single(org.apache.spark.TaskContext.getPartitionId() -> it.size)
    }.collect().toMap
    val nParts = counts.keys.max + 1
    val offsets = new Array[Long](nParts)
    var acc = 0L
    (0 until nParts).foreach { p => offsets(p) = acc; acc += counts.getOrElse(p, 0) }
    val bc = spark.sparkContext.broadcast(offsets)
    // lazy view over the persisted sort — downstream stages (docstore write,
    // tokenize) re-read the cache, not the source. The returned handle
    // unpersists it once the caller's stage chain is done.
    val docs = sorted.mapPartitions { it =>
      val base = bc.value(org.apache.spark.TaskContext.getPartitionId())
      it.zipWithIndex.map { case ((repo, path, commit, lang, sha, content), i) =>
        DocRow((base + i).toInt, repo, path, commit, lang, sha, content)
      }
    }
    (docs, () => { sorted.unpersist(); () })
  }

  /** Tokenize → per-(doc, unique-term) flat postings with positions+offsets.
    * The reference's `AddDocument` per-term loop (`qq_mem_engine.h:194-215`)
    * as a flatMap — embarrassingly parallel, no shuffle. */
  def flatPostings(docs: Dataset[DocRow],
                   codeAnalyzer: Boolean = false,
                   textAnalyzer: Boolean = false,
                   textFold: Boolean = false): Dataset[FlatPosting] = {
    import docs.sparkSession.implicits._
    docs.flatMap { d =>
      val grouped =
        if (textAnalyzer && textFold)
          Tokenizer.groupedText(Tokenizer.stripHtml(d.content), fold = true)
        else if (textAnalyzer) Tokenizer.groupedText(d.content)
        else if (codeAnalyzer) Tokenizer.groupedCode(d.content)
        else Tokenizer.grouped(d.content)
      // doc length (BM25 norm): default/code analyzer = ORIGINAL token
      // count = max position + 1 (positions contiguous 0..len-1; injected
      // subtokens share original positions, so this stays un-inflated).
      // TEXT analyzer = SURVIVING token count (Lucene's norm after
      // stopword removal) = Σ tf, since positions keep stopword gaps.
      // Its lossy byte rides on every flat posting so the block encoder
      // can emit avg-independent block-max metadata without a doclen join.
      var len = 0
      var i = 0
      while (i < grouped.length) {
        val ps = grouped(i)._2
        if (textAnalyzer) len += ps.length
        else if (ps.length > 0 && ps(ps.length - 1) + 1 > len) len = ps(ps.length - 1) + 1
        i += 1
      }
      val lb = LenByte.encode(len.toLong)
      grouped.iterator.map { case (term, ps, os) =>
        FlatPosting(term, d.docId, ps.length,
          PostingCodec.encodePositionsBlob(ps),
          PostingCodec.encodeOffsetsBlob(os.map(_._1), os.map(_._2)),
          lb)
      }
    }
  }

  /** Block-encode postings, salting hot terms into contiguous docId-range
    * shards. Returns the block dataset (sorted by term within partitions so
    * parquet row-group min/max prune term lookups). */
  def buildBlocks(spark: SparkSession, flat: Dataset[FlatPosting], nDocs: Long,
                  partitions: Int = 32, saltTarget: Int = SaltTarget): Dataset[BlockRow] = {
    import spark.implicits._
    // df per term; only hot terms (df > saltTarget) need salting — by Zipf
    // there are few of them, so the salt-span map broadcasts.
    val hot = flat.groupBy("term").count()
      .filter($"count" > saltTarget)
      .as[(String, Long)].collect()
      .map { case (t, df) =>
        val shards = math.ceil(df.toDouble / saltTarget).toLong
        t -> math.max(1L, math.ceil(nDocs.toDouble / shards).toLong) // docId span per shard
      }.toMap
    buildBlocksWithSpans(spark, flat, hot, partitions)
  }

  /** Map-side combined posting run: all of one (term, salt) group's
    * postings from ONE input partition, docId-ascending. Because the
    * docstore is (repo,path)-range sorted, each input partition holds a
    * CONTIGUOUS docId range, so runs of the same group are disjoint and
    * concatenate in firstDocId order on the reduce side — the shuffle
    * moves one row per (partition, term, salt) instead of one per posting
    * (~6× fewer rows on code corpora; identical payload bytes). */
  final case class PostingRun(term: String, salt: Long, firstDocId: Int,
                              docIds: Array[Int], tfs: Array[Int], lenBytes: Array[Int],
                              posBlobs: Array[Array[Byte]], offBlobs: Array[Array[Byte]])

  /** Block encode given a precomputed hot-term docId-span map.
    *
    * Pipeline: local sort by (term, salt, docId) inside each input
    * partition (no shuffle) → streaming map-side combine into
    * [[PostingRun]] rows → (salt, term) repartition → reduce-side merge of
    * runs by firstDocId → streaming 128-posting block cut. */
  def buildBlocksWithSpans(spark: SparkSession, flat: Dataset[FlatPosting],
                           hot: Map[String, Long], partitions: Int): Dataset[BlockRow] = {
    import spark.implicits._
    val bcHot = spark.sparkContext.broadcast(hot)
    val runs: Dataset[PostingRun] = flat
      .map { p =>
        val span = bcHot.value.getOrElse(p.term, Long.MaxValue)
        (p.docId / span, p)
      }
      .sortWithinPartitions($"_2.term", $"_1", $"_2.docId")
      .mapPartitions { it =>
        // one output row per consecutive (term, salt) run — O(run) memory
        new Iterator[PostingRun] {
          private val in = it.buffered
          def hasNext: Boolean = in.hasNext
          def next(): PostingRun = {
            val (salt, head) = in.head
            val ids = scala.collection.mutable.ArrayBuilder.make[Int]
            val tfs = scala.collection.mutable.ArrayBuilder.make[Int]
            val lbs = scala.collection.mutable.ArrayBuilder.make[Int]
            val pbs = scala.collection.mutable.ArrayBuilder.make[Array[Byte]]
            val obs = scala.collection.mutable.ArrayBuilder.make[Array[Byte]]
            while (in.hasNext && in.head._2.term == head.term && in.head._1 == salt) {
              val p = in.next()._2
              ids += p.docId; tfs += p.tf; lbs += p.lenByte
              pbs += p.posBlob; obs += p.offBlob
            }
            PostingRun(head.term, salt, head.docId,
              ids.result(), tfs.result(), lbs.result(), pbs.result(), obs.result())
          }
        }
      }
    runs
      .repartition(partitions, $"salt", $"term")
      .sortWithinPartitions($"term", $"salt", $"firstDocId")
      .mapPartitions { it =>
        // group consecutive (term, salt) runs; their docId ranges are
        // disjoint and firstDocId-sorted, so concatenation is the merge.
        // NOTE: each salted shard's first block is delta-seeded from 0,
        // not from the previous shard's last docId (the reference chains
        // them, `flash_containers.h:22`) — shards are encoded by
        // independent tasks and blocks are self-contained; decoders must
        // treat each (term, shard) run as its own chain.
        new Iterator[BlockRow] {
          private val in = it.buffered
          private var pending: Iterator[BlockRow] = Iterator.empty
          private def refill(): Unit = {
            while (!pending.hasNext && in.hasNext) {
              val head = in.head
              val runs = scala.collection.mutable.ArrayBuffer.empty[PostingRun]
              while (in.hasNext && in.head.term == head.term && in.head.salt == head.salt) {
                runs += in.next()
              }
              // runs from contiguous-docId input partitions are disjoint and
              // already firstDocId-sorted → plain concatenation; inputs that
              // went through an upstream shuffle (e.g. compaction's doclen
              // join) can interleave → k-way merge keeps docIds strictly
              // ascending either way
              val sorted = runs.sortBy(_.firstDocId)
              val disjoint = sorted.iterator.sliding(2).forall(w =>
                w.size < 2 || w.head.docIds.last < w(1).firstDocId)
              val postings: Iterator[PostingCodec.Posting] =
                if (disjoint) sorted.iterator.flatMap { r =>
                  r.docIds.indices.iterator.map(i => PostingCodec.Posting(
                    r.docIds(i), r.tfs(i), r.posBlobs(i), r.offBlobs(i), r.lenBytes(i)))
                } else {
                  val pq = scala.collection.mutable.PriorityQueue.empty[(Int, Int, Int)](
                    Ordering.by[(Int, Int, Int), Int](t => -t._1)) // (docId, runIdx, pos)
                  sorted.zipWithIndex.foreach { case (r, ri) =>
                    if (r.docIds.nonEmpty) pq.enqueue((r.docIds(0), ri, 0))
                  }
                  new Iterator[PostingCodec.Posting] {
                    def hasNext: Boolean = pq.nonEmpty
                    def next(): PostingCodec.Posting = {
                      val (_, ri, i) = pq.dequeue()
                      val r = sorted(ri)
                      if (i + 1 < r.docIds.length) pq.enqueue((r.docIds(i + 1), ri, i + 1))
                      PostingCodec.Posting(r.docIds(i), r.tfs(i),
                        r.posBlobs(i), r.offBlobs(i), r.lenBytes(i))
                    }
                  }
                }
              pending = PostingCodec.encode(head.term, postings).map(b =>
                BlockRow(b.term, b.prevDocId, b.firstDocId, b.lastDocId, b.n,
                  b.maxTf, b.minLenByte, b.sumTf, b.docIds, b.tfs, b.lenBytes,
                  b.positions, b.offsets))
            }
          }
          def hasNext: Boolean = { refill(); pending.hasNext }
          def next(): BlockRow = { refill(); pending.next() }
        }
      }
  }

  /** Deterministic hot-term detection sample: docs with
    * `docId % HotSampleMod == 0` — a pure function of docId, so the salt
    * span map is identical at any parallelism (N vs 4N). Spans only steer
    * encode-shard balance, never correctness (blocks are cut per
    * (term, shard) group regardless), so an estimate suffices — 1/32
    * keeps the detection pass ~3% of a full tokenize while a term at the
    * default salt threshold (df 8192) still draws ~256 sampled docs. */
  val HotSampleMod = 32

  /** Full build: writes docstore/ (doc lengths inline), postings/,
    * superblocks/, termstats/ under
    * `indexDir`, with a manifest per stage + a snapshot manifest.
    * Resumable: committed stages are skipped on re-run.
    *
    * Recompute-over-materialize design: tokenization is a pure map over the
    * (cached) docstore and is RECOMPUTED by the stages that need it — doc
    * lengths (full pass), hot-term detection (1/[[HotSampleMod]] sampled
    * pass), and the salted block encode (full pass with position/offset
    * blobs) — instead of materializing a `tokenized/` intermediate that
    * would write+read ~2-3x the corpus bytes. Tokenize CPU scales linearly
    * with cores; intermediate IO is the classic fixed cost that caps N→4N
    * scaling efficiency on IO-constrained nodes. Term statistics cost
    * nothing extra: df = Σ block n, cf = Σ block sumTf, aggregated from
    * posting METADATA columns after the encode (the reference's two-binary
    * QQ-dump → Vacuum-convert pipeline collapsed into checkpointed Spark
    * stages, SURVEY.md §3.3). */
  def build(spark: SparkSession, corpus: DataFrame, indexDir: String,
            partitions: Int = 32, codeAnalyzer: Boolean = false,
            textAnalyzer: Boolean = false, textFold: Boolean = false): Unit = {
    import spark.implicits._
    require(!(codeAnalyzer && textAnalyzer), "pick one analyzer")
    require(!textFold || textAnalyzer, "textFold extends the TEXT analyzer")
    // analyzer-consistent term stream for length + hot-term sampling
    def analyzedTerms(content: String): Array[String] =
      if (textAnalyzer && textFold)
        Tokenizer.tokenizeText(Tokenizer.stripHtml(content), fold = true).map(_.term)
      else if (textAnalyzer) Tokenizer.tokenizeText(content).map(_.term)
      else Tokenizer.terms(content)
    val profile = sys.env.get("SPARK_GRAFT_PROFILE").contains("1")
    def timed[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      if (profile) println(f"BUILD_STAGE $name%-10s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }

    var docsInMem: Option[Dataset[DocRow]] = None
    var docsRelease: () => Unit = () => ()
    timed("docstore") { if (!Manifest.isCommitted(indexDir, "docstore")) {
      val (docs, release) = timed("docstore.assign") {
        assignDocIdsPersisted(spark, corpus, partitions)
      }
      // doc lengths are computed in the SAME map as the docstore write (one
      // tokenize ride on the write pass; no separate doclen stage/job)
      timed("docstore.write") {
        docs.map { d =>
          val len = analyzedTerms(d.content).length
          StoredDoc(d.docId, d.repo, d.path, d.commit, d.lang, d.sha256, d.content,
            len, LenByte.encode(len.toLong))
        }.write.mode("overwrite").option("compression", "zstd").parquet(s"$indexDir/docstore")
      }
      docsInMem = Some(docs) // still persisted — the tokenize passes reuse it
      docsRelease = release
      timed("docstore.commit") { Manifest.commit(spark, indexDir, "docstore") }
    }}
    val docstore = docsInMem.getOrElse(spark.read.parquet(s"$indexDir/docstore").as[DocRow])

    val nDocs = Manifest.stageRows(indexDir, "docstore")
      .getOrElse(spark.read.parquet(s"$indexDir/docstore").count())
    timed("postings") { if (!Manifest.isCommitted(indexDir, "postings")) {
      // sampled hot-term pass: unique terms of every HotSampleMod-th doc →
      // per-term doc counts (map-side combined); df estimates scale back
      // up. ONE job returns both the hot list and the total estimate.
      val (hot, totalPostings) = timed("postings.hot") {
        val row = docstore
          .filter($"docId" % HotSampleMod === 0)
          .flatMap(d => analyzedTerms(d.content).distinct.iterator)
          .groupBy("value").agg(count(lit(1)).as("c"))
          .agg(sum($"c").as("total"),
            collect_list(when($"c" * HotSampleMod > SaltTarget,
              struct($"value", $"c"))).as("hotRows"))
          .as[(Long, Seq[(String, Long)])]
          .head()
        val h = row._2.map { case (t, c) =>
          val df = c * HotSampleMod
          val shards = math.ceil(df.toDouble / SaltTarget).toLong
          t -> math.max(1L, math.ceil(nDocs.toDouble / shards).toLong)
        }.toMap
        (h, row._1 * HotSampleMod)
      }
      // partition count sized by data, not cores: each sort partition holds
      // ~PostingsPerPartition postings so the per-task sort never spills and
      // cores stay saturated with 2-4 waves (the 100 TB knob — at cluster
      // scale this grows into the tens of thousands of partitions)
      val blockParts = math.min(4096L,
        math.max(partitions.toLong, totalPostings / PostingsPerPartition)).toInt
      if (profile) println(s"BUILD_STAGE postings.parts $blockParts (est $totalPostings postings)")
      timed("postings.enc") {
        buildBlocksWithSpans(spark,
          flatPostings(docstore, codeAnalyzer, textAnalyzer, textFold), hot, blockParts)
          .write.mode("overwrite").option("compression", "zstd").parquet(s"$indexDir/postings")
      }
      timed("postings.commit") { Manifest.commit(spark, indexDir, "postings") }
    }}
    docsRelease() // last consumer of the cached sorted corpus

    timed("superblocks") { if (!Manifest.isCommitted(indexDir, "superblocks")) {
      // persisted COARSE block metadata ([[graft.query.MetaStore]]'s
      // two-level read): one (term, lo, hi) row per docId super-bucket of
      // ~128 blocks, so a cold hot-term plan reads O(df/16384) coarse rows
      // before it reads block rows only where its coverage survives.
      // Written term-sorted for row-group pruning on the probe's
      // `term IN (...)`. The same pass carries per-bucket df/cf PARTIALS
      // (pruned by the probe's column selection, ~2 ints/row on disk):
      // termstats then aggregates this ~16x-smaller stage instead of
      // re-scanning the full block metadata — ONE metadata scan serves
      // both stats stages, one fewer fixed-cost job on the build's
      // critical path (the N→4N scaling criterion is knife-edged on
      // exactly these serial tails).
      timed("superblocks.agg") {
        superBlockRows(spark.read.parquet(s"$indexDir/postings"),
            math.max(1, partitions / 4))
          .write.mode("overwrite").option("compression", "zstd")
          .parquet(s"$indexDir/superblocks")
      }
      timed("superblocks.commit") { Manifest.commit(spark, indexDir, "superblocks") }
    }}

    timed("termstats") { if (!Manifest.isCommitted(indexDir, "termstats")) {
      // per-term df/cf, summed from the superblock partials when the stage
      // carries them (current layout) — input is ~vocab-sized, not
      // block-count-sized; a pre-partial-column superblocks stage (resumed
      // older build) falls back to the full block-metadata aggregation
      val sb = spark.read.parquet(s"$indexDir/superblocks")
      val src =
        if (sb.columns.contains("df")) sb.select($"term", $"df", $"cf")
        else spark.read.parquet(s"$indexDir/postings")
          .select($"term", $"n".cast("long").as("df"), $"sumTf".cast("long").as("cf"))
      timed("termstats.agg") {
        writeTermStats(src, math.max(1, partitions / 4), s"$indexDir/termstats")
      }
      timed("termstats.commit") { Manifest.commit(spark, indexDir, "termstats") }
    }}
    Manifest.commitSnapshot(spark, indexDir, nDocs)
  }

  /** docId span per coarse super-bucket — one bucket ≈ 128 dense-term
    * blocks: the granularity of the coverage [[graft.query.MetaStore]]'s
    * two-level read bounds its block rows by. */
  val SuperSpan: Long = 1L << 14

  /** Row-group size of the termstats stage, ~1 MB (tens of thousands of
    * terms): the driver-side df lookup scans the `term` column of each row
    * group it cannot rule out, so this bounds its cost per wanted term at
    * any vocabulary size. */
  private val TermStatsRowGroupBytes: Int = 1 << 20

  /** Writes term statistics (term, df, cf), summed from per-term partial
    * rows (term, df, cf), to `path`: range-partitioned into `outParts`
    * files and sorted by term, so each file and each row group covers its
    * own term range and the driver-side df lookup
    * ([[graft.query.Searcher.LoadedIndex.dfs]]) skips every one whose
    * `term` min/max excludes the wanted terms. Shared by the batch build,
    * the streaming segments and compaction. */
  def writeTermStats(partials: DataFrame, outParts: Int, path: String): Unit =
    partials.groupBy("term")
      .agg(sum(col("df")).cast("long").as("df"), sum(col("cf")).cast("long").as("cf"))
      .repartitionByRange(outParts, col("term"))
      .sortWithinPartitions("term")
      .write.mode("overwrite").option("compression", "zstd")
      .option("parquet.block.size", TermStatsRowGroupBytes.toLong)
      .parquet(path)

  /** Coarse super-block rows (term, lo, hi, df, cf) of a block store —
    * one row per (term, docId super-bucket), written term-sorted so the
    * coarse probe's `term IN (...)` prunes row groups. df/cf are
    * per-bucket PARTIALS: termstats sums them from this ~16x-smaller
    * stage instead of re-scanning the block metadata. Shared by the batch
    * build and the per-segment streaming stages (absolute docIds make
    * segment rows just more intervals for the reader to merge). */
  def superBlockRows(blocks: DataFrame, outParts: Int = 8): DataFrame = {
    val spark = blocks.sparkSession
    import spark.implicits._
    blocks
      .groupBy($"term", expr(s"firstDocId div $SuperSpan").as("bkt"))
      .agg(min($"firstDocId").as("lo"), max($"lastDocId").as("hi"),
        sum($"n").cast("long").as("df"), sum($"sumTf").cast("long").as("cf"))
      .select("term", "lo", "hi", "df", "cf")
      .repartitionByRange(outParts, $"term")
      .sortWithinPartitions("term")
  }
}

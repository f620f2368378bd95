package graft.streaming

import graft.index.{IndexBuilder, Manifest, PostingCodec}
import graft.core.{LenByte, Tokenizer}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Incremental indexing with Structured Streaming — segments, Lucene-style.
  *
  * The reference is batch-build + online queries (SURVEY.md §2.9: no
  * streaming in wiser); this module is the Spark-native extension for a
  * continuously-growing corpus: `readStream` over the input table's
  * directory; each micro-batch becomes an immutable index SEGMENT (its own
  * posting blocks, docstore rows with inline lengths, termstats rows) appended under the same
  * index dir. [[graft.query.Searcher]] is segment-agnostic: blocks carry
  * absolute docIds, per-term stats are summed across segments at load, and
  * exactly-once segment commit: each segment writes into its own
  * `seg=<batchId>` partition dir with overwrite, so a re-run batch replaces
  * its own output instead of duplicating it (idempotent), and partition
  * discovery makes the union visible to one `spark.read.parquet`.
  *
  * DocIds: each segment gets a contiguous id range starting after the last
  * committed segment (dense, no holes — `doc_store.h:295-297`), assigned by
  * (repo, path) rank within the segment.
  */
object StreamingIndexer {

  /** Append one micro-batch as segment `segId`. Idempotent per segment.
    * `withBloom` builds the segment's two-way phrase-pruning bloom rows
    * (`bloom/seg=<id>`) so streamed indexes keep the J5 pruning the
    * reference's batch indexes always have (`bloom_filter.h:562-670`). */
  def appendSegment(spark: SparkSession, batch: DataFrame, indexDir: String,
                    segId: Long, partitions: Int = 8,
                    withBloom: Boolean = true,
                    withTrigrams: Boolean = false,
                    withFuzzy: Boolean = false): Unit = {
    import spark.implicits._
    if (Manifest.isCommitted(indexDir, s"segment_$segId")) return
    if (batch.isEmpty) return

    val base = committedDocs(indexDir)
    val withSha =
      if (batch.columns.contains("sha256")) batch
      else batch.withColumn("sha256", sha2(col("content"), 256))
    // deterministic ids within the segment: rank over (repo, path)
    val (docs0, release) = IndexBuilder.assignDocIdsPersisted(spark, withSha, partitions)
    val docs = docs0.map(d => d.copy(docId = (base + d.docId).toInt))
    val segDocs = docs0.count()

    // doc lengths ride the docstore write (one map), NOT an aggregation
    // over flat postings: a doc that tokenizes to zero terms still gets its
    // len=0 row, so nDocs/avgLen at Searcher.load stay exact (an empty doc
    // must count toward N like the batch path and the docsAfter watermark)
    docs.map { d =>
      val len = Tokenizer.terms(d.content).length
      IndexBuilder.StoredDoc(d.docId, d.repo, d.path, d.commit, d.lang, d.sha256,
        d.content, len, LenByte.encode(len.toLong))
    }.write.mode("overwrite").option("compression", "zstd").parquet(s"$indexDir/docstore/seg=$segId")
    val flat = IndexBuilder.flatPostings(docs)

    IndexBuilder.buildBlocks(spark, flat, segDocs, partitions)
      .write.mode("overwrite").option("compression", "zstd").parquet(s"$indexDir/postings/seg=$segId")

    // per-segment coarse super-block rows first (absolute docIds: the
    // reader merges rows across segments — [[Searcher.superBlocks]] serves
    // MetaStore's two-level fetch on streamed indexes once every live
    // segment carries the stage), then term stats summed from the
    // ~16x-smaller coarse stage — the same one-metadata-scan chain as the
    // batch build
    IndexBuilder.superBlockRows(
        spark.read.parquet(s"$indexDir/postings/seg=$segId"),
        math.max(1, partitions / 4))
      .write.mode("overwrite").option("compression", "zstd")
      .parquet(s"$indexDir/superblocks/seg=$segId")
    IndexBuilder.writeTermStats(spark.read.parquet(s"$indexDir/superblocks/seg=$segId"),
      math.max(1, partitions / 4), s"$indexDir/termstats/seg=$segId")

    // per-segment SymSpell delete table (fuzzy probes over streamed
    // indexes, [[graft.index.FuzzyIndex.probeSegmented]]); opt-in like
    // trigrams — the explode is ~|segment vocab|·(1+L+L²/2) rows, a real
    // ingest cost a latency-first deployment may defer to compaction
    if (withFuzzy)
      graft.index.FuzzyIndex.buildSegmentStage(spark, indexDir, segId)

    // per-segment bloom store (map-only over the segment's docs, same shape
    // as the batch build's Bloom.buildStage)
    if (withBloom)
      graft.index.Bloom.buildStore(docs)
        .write.mode("overwrite").option("compression", "zstd")
        .parquet(s"$indexDir/bloom/seg=$segId")

    // per-segment trigram runs (substring/regex search over streamed
    // indexes): docIds are absolute, so rows from different segments
    // coexist — runs are self-describing (each stores its delta base)
    if (withTrigrams)
      graft.index.TrigramIndex.buildBlocks(
          docs.toDF.select(col("docId").as("doc_id"), col("content").as("text")),
          "doc_id", "text")
        .write.mode("overwrite").option("compression", "zstd")
        .parquet(s"$indexDir/trigrams/seg=$segId")

    release() // the sorted micro-batch cache — without this every batch leaks one copy
    // segment manifest: carries the doc-count watermark (atomic rename)
    val json = s"""{"segment":$segId,"docs":$segDocs,"docsAfter":${base + segDocs}}"""
    val tmp = java.nio.file.Paths.get(indexDir, s"_manifest_segment_$segId.json.tmp")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(indexDir))
    java.nio.file.Files.writeString(tmp, json)
    java.nio.file.Files.move(tmp, Manifest.manifestPath(indexDir, s"segment_$segId"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Doc-count watermark across committed segments (next segment's base). */
  def committedDocs(indexDir: String): Long = {
    val dir = java.nio.file.Paths.get(indexDir)
    if (!java.nio.file.Files.exists(dir)) return 0L
    import scala.jdk.CollectionConverters._
    val s = java.nio.file.Files.list(dir)
    try {
      s.iterator().asScala
        .map(_.getFileName.toString)
        .filter(n => n.startsWith("_manifest_segment_") && n.endsWith(".json"))
        .map { n =>
          val json = java.nio.file.Files.readString(dir.resolve(n))
          """"docsAfter":(\d+)""".r.findFirstMatchIn(json).map(_.group(1).toLong).getOrElse(0L)
        }
        .foldLeft(0L)(math.max)
    } finally s.close()
  }

  /** Compact all committed segments into one (the Lucene merge analog):
    * decode every segment's postings per term, merge by docId (segments
    * carry absolute, disjoint docId ranges), re-encode into fresh blocks,
    * and rewrite doclen/termstats/docstore into a single new segment.
    *
    * Crash-safe commit order: the compacted segment is fully written under
    * `seg=<maxSeg+1>` FIRST; the single atomic commit point is the rename
    * of its manifest, which lists the merged sources in `compactedFrom` —
    * [[Manifest.committedSegments]] excludes any segment named there, so a
    * reader (or a crash) between that publish and the source-manifest /
    * directory cleanup sees exactly the new segment, never both. Cleanup
    * afterwards is pure garbage collection of already-retired files.
    *
    * Scale: the merge is one term(+salt)-partitioned shuffle over decoded
    * postings — identical shape to the batch build's encode stage; no
    * driver-side materialization of any posting list. */
  def compact(spark: SparkSession, indexDir: String, partitions: Int = 8,
              maxDocsToMerge: Long = Long.MaxValue): Unit = {
    import spark.implicits._
    // size-tiered policy: only segments below `maxDocsToMerge` docs are
    // merged (default merges everything); large settled segments are left
    // alone, bounding merge write amplification the Lucene way
    val info = segmentInfo(indexDir)
    val segs = committedSegments(indexDir)
      .filter(s => info.get(s).forall(_._1 < maxDocsToMerge))
    // a single segment is still worth "merging" when tombstones exist: the
    // merge-of-one physically reclaims deleted docs (the Lucene
    // expungeDeletes analog) and re-baselines N/avgdl/df
    val tomb = graft.index.Tombstones.read(spark, indexDir)
    if (segs.isEmpty || (segs.size < 2 && tomb.isEmpty)) return
    val newSeg = committedSegments(indexDir).max + 1
    val total = committedDocs(indexDir)
    val mergedAfter = segs.flatMap(info.get).map(_._2).foldLeft(0L)(math.max)

    // decoded flat postings from every live segment, with positions/offsets
    // re-encoded blobs carried through (already in wire format)
    val src = spark.read.option("basePath", s"$indexDir/postings")
      .parquet(segs.map(s => s"$indexDir/postings/seg=$s"): _*)
    // per-posting norms come from the source blocks' inline lenBytes
    // stream (no docstore join in the merge); segments written before the
    // stream existed fall back to the (docId, lenByte) join below
    val inlineLen = src.columns.contains("lenBytes")
    val flat = (
      if (inlineLen)
        src.select("term", "prevDocId", "n", "docIds", "tfs", "lenBytes", "positions", "offsets")
          .as[(String, Int, Int, Array[Byte], Array[Byte], Array[Byte], Array[Byte], Array[Byte])]
          .flatMap { case (t, prev, n, ids, tfs, lbs, pos, off) =>
            val dt = PostingCodec.decodeDocIdTf(prev, n, ids, tfs)
            val lb = PostingCodec.decodeLenBytes(n, lbs)
            val ps = PostingCodec.decodePositions(n, pos)
            val os = PostingCodec.decodeOffsets(n, off)
            dt.iterator.zipWithIndex.map { case ((d, tf), i) =>
              (t, d, tf, PostingCodec.encodePositionsBlob(ps(i)),
                PostingCodec.encodeOffsetsBlob(os(i).map(_._1), os(i).map(_._2)), lb(i))
            }
          }
      else
        src.select("term", "prevDocId", "n", "docIds", "tfs", "positions", "offsets")
          .as[(String, Int, Int, Array[Byte], Array[Byte], Array[Byte], Array[Byte])]
          .flatMap { case (t, prev, n, ids, tfs, pos, off) =>
            val dt = PostingCodec.decodeDocIdTf(prev, n, ids, tfs)
            val ps = PostingCodec.decodePositions(n, pos)
            val os = PostingCodec.decodeOffsets(n, off)
            dt.iterator.zipWithIndex.map { case ((d, tf), i) =>
              (t, d, tf, PostingCodec.encodePositionsBlob(ps(i)),
                PostingCodec.encodeOffsetsBlob(os(i).map(_._1), os(i).map(_._2)), -1)
            }
          }
    ).toDF("term", "docId", "tf", "posBlob", "offBlob", "lb")
    // the docstore is read for its own segment rewrite (and as the legacy
    // norm source when the postings predate the inline lenBytes stream)
    val srcStoreAll = spark.read.option("basePath", s"$indexDir/docstore")
      .parquet(segs.map(s => s"$indexDir/docstore/seg=$s"): _*)
    // delete tombstones are PHYSICALLY applied here (the Lucene merge
    // reclaim): tombstoned docs' postings and docstore rows are dropped
    // from the merged segment, so post-compact stats (N, avgdl, df) are
    // re-baselined over live docs only — before this point search-time
    // anti-joins kept them out of results with pre-delete stats. docIds of
    // surviving docs are STABLE (the id space keeps holes; nothing is
    // renumbered), so external references and the docsAfter watermark hold.
    val srcStore = tomb.map(t => srcStoreAll.join(t, Seq("docId"), "left_anti"))
      .getOrElse(srcStoreAll)
    val flatLive = tomb.map(t => flat.join(t, Seq("docId"), "left_anti"))
      .getOrElse(flat)
    val mergedDocs = tomb.fold(segs.flatMap(info.get).map(_._1).sum)(_ =>
      srcStore.count())
    val flatTyped = (
        if (inlineLen) flatLive
        else flatLive.drop("lb")
          .join(srcStore.select($"docId", $"lenByte".as("lb")), "docId")
      )
      .select($"term", $"docId", $"tf", $"posBlob", $"offBlob", $"lb")
      .as[(String, Int, Int, Array[Byte], Array[Byte], Int)]
      .map(r => IndexBuilder.FlatPosting(r._1, r._2, r._3, r._4, r._5, r._6))

    IndexBuilder.buildBlocks(spark, flatTyped, total, partitions)
      .write.mode("overwrite").option("compression", "zstd")
      .parquet(s"$indexDir/postings/seg=$newSeg")
    IndexBuilder.superBlockRows(
        spark.read.parquet(s"$indexDir/postings/seg=$newSeg"),
        math.max(1, partitions / 4))
      .write.mode("overwrite").option("compression", "zstd")
      .parquet(s"$indexDir/superblocks/seg=$newSeg")
    IndexBuilder.writeTermStats(spark.read.parquet(s"$indexDir/superblocks/seg=$newSeg"),
      math.max(1, partitions / 4), s"$indexDir/termstats/seg=$newSeg")
    srcStore.drop("seg")
      .write.mode("overwrite").option("compression", "zstd")
      .parquet(s"$indexDir/docstore/seg=$newSeg")
    // bloom rows are per (term, docId) and merge-invariant: if every source
    // segment carries a bloom store, copy their rows into the new segment;
    // a partially-bloomed index (mixed writer versions) rebuilds from the
    // merged docstore so the new segment is always fully covered.
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(indexDir, "bloom"))) {
      val withBloomSegs = segs.filter(s =>
        java.nio.file.Files.exists(java.nio.file.Paths.get(indexDir, "bloom", s"seg=$s")))
      val bloomRows =
        if (withBloomSegs == segs)
          spark.read.option("basePath", s"$indexDir/bloom")
            .parquet(segs.map(s => s"$indexDir/bloom/seg=$s"): _*).drop("seg")
        else graft.index.Bloom.buildStore(
          spark.read.parquet(s"$indexDir/docstore/seg=$newSeg").as[IndexBuilder.DocRow]).toDF()
      bloomRows.write.mode("overwrite").option("compression", "zstd")
        .parquet(s"$indexDir/bloom/seg=$newSeg")
    }
    // trigram rows carry like bloom rows: per-(tri, run) with absolute
    // docIds, merge-invariant. Deleted docs may linger in copied runs —
    // exact regardless, because substring verification joins the LIVE
    // docstore (a stale candidate vanishes at the verify join); a
    // partially-covered index rebuilds from the merged docstore instead.
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(indexDir, "trigrams"))) {
      val withTriSegs = segs.filter(s =>
        java.nio.file.Files.exists(java.nio.file.Paths.get(indexDir, "trigrams", s"seg=$s")))
      val triRows =
        if (withTriSegs == segs)
          spark.read.option("basePath", s"$indexDir/trigrams")
            .parquet(segs.map(s => s"$indexDir/trigrams/seg=$s"): _*).drop("seg")
        else graft.index.TrigramIndex.buildBlocks(
          spark.read.parquet(s"$indexDir/docstore/seg=$newSeg")
            .select(col("docId").as("doc_id"), col("content").as("text")),
          "doc_id", "text")
      triRows.write.mode("overwrite").option("compression", "zstd")
        .parquet(s"$indexDir/trigrams/seg=$newSeg")
    }
    // fuzzy delete tables are NOT merge-invariant (per-segment dfs would
    // double-count and tombstone reclaim re-baselines df): rebuild from
    // the new segment's termstats whenever any source segment carried a
    // table, at the widest distance any source covered — exact regardless
    // of mixed source coverage, and it upgrades a partially-covered index
    // to fully-covered at the settle point
    locally {
      val srcDists = segs.map(s => graft.index.FuzzyIndex.segMaxDist(indexDir, s))
        .filter(_ > 0)
      if (srcDists.nonEmpty)
        graft.index.FuzzyIndex.buildSegmentStage(spark, indexDir, newSeg, srcDists.max)
    }

    // atomic publish: new segment manifest in, source manifests out,
    // then physical cleanup of the retired directories. docs/docsAfter
    // carry the MERGED segments' totals so the global watermark
    // (max docsAfter over manifests) is unchanged even when large
    // segments were kept out of the merge.
    val json = s"""{"segment":$newSeg,"docs":$mergedDocs,"docsAfter":$mergedAfter,"compactedFrom":[${segs.mkString(",")}]}"""
    val tmp = java.nio.file.Paths.get(indexDir, s"_manifest_segment_$newSeg.json.tmp")
    java.nio.file.Files.writeString(tmp, json)
    java.nio.file.Files.move(tmp, Manifest.manifestPath(indexDir, s"segment_$newSeg"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    segs.foreach { s =>
      java.nio.file.Files.deleteIfExists(Manifest.manifestPath(indexDir, s"segment_$s"))
    }
    // tombstones covered by this merge are now physically applied — retire
    // them (ids in UNMERGED segments are re-published first; a reader at
    // any instant sees a superset of the live tombstone set, never a
    // subset). Must run before the retired directories are removed: the
    // covered-id set is computed from the pre-delete source docstore.
    if (tomb.nonEmpty)
      graft.index.Tombstones.retireCovered(spark, indexDir,
        srcStoreAll.select("docId"))
    segs.foreach { s =>
      // "doclen" covers legacy segments written before lengths moved inline
      Seq("postings", "doclen", "termstats", "docstore", "bloom", "trigrams",
          "superblocks", "fuzzy").foreach { st =>
        org.apache.commons.io.FileUtils.deleteQuietly(
          new java.io.File(s"$indexDir/$st/seg=$s"))
      }
    }
  }

  /** Ids of committed (live) segments, ascending. */
  def committedSegments(indexDir: String): Seq[Long] =
    Manifest.committedSegments(indexDir)

  /** Upsert (update-by-replace): commit `batch` as a NEW segment, then
    * tombstone every previously-live doc sharing a (repo, path) key with an
    * incoming row — Lucene `updateDocument` (delete-by-term + add) over the
    * segment log. Commit order is add-then-delete: a reader between the two
    * steps sees both versions momentarily (the standard refresh-boundary
    * semantics); tombstone-first would show NEITHER. Old docIds stay stable
    * (and excluded from every search) until [[compact]] physically reclaims
    * them. Rows must carry distinct (repo, path) keys within the batch —
    * two incoming versions of the same key both become live.
    *
    * Returns the number of old doc versions tombstoned. Scale: key
    * resolution is one left-semi join against the live docstore (never
    * collected); the old-version id set is cached only for the
    * count + tombstone write. */
  def upsertSegment(spark: SparkSession, batch: DataFrame, indexDir: String,
                    segId: Long, partitions: Int = 8): Long = {
    val hadSegments = committedSegments(indexDir).nonEmpty
    // resolve old versions against the docstore AS OF before the append:
    // the live-segment list is baked into the plan at construction, so the
    // new segment's own rows can never match
    val oldIds: Option[DataFrame] =
      if (!hadSegments) None
      else {
        val live = graft.query.Searcher.load(spark, indexDir).docstore
        val keys = batch.select(col("repo"), col("path")).distinct()
        val matched = live.join(keys, Seq("repo", "path"), "left_semi")
          .select("docId")
        // docstore rows persist until compaction, so versions tombstoned by
        // an EARLIER upsert still sit there — exclude them or the returned
        // count double-reports (re-tombstoning would be a harmless no-op,
        // but the count is the caller's contract)
        val ids = graft.index.Tombstones.read(spark, indexDir)
          .fold(matched)(t => matched.join(t, Seq("docId"), "left_anti"))
          .cache()
        ids.count() // materialize BEFORE the append commits the new segment
        Some(ids)
      }
    appendSegment(spark, batch, indexDir, segId, partitions)
    val n = oldIds.fold(0L) { ids =>
      val k = ids.count()
      if (k > 0) graft.index.Tombstones.commitGen(spark, indexDir, ids)
      ids.unpersist(false)
      k
    }
    n
  }

  /** Per-segment (docs, docsAfter) from the segment manifests. */
  def segmentInfo(indexDir: String): Map[Long, (Long, Long)] = {
    val dir = java.nio.file.Paths.get(indexDir)
    committedSegments(indexDir).flatMap { s =>
      val f = Manifest.manifestPath(indexDir, s"segment_$s")
      if (!java.nio.file.Files.exists(f)) None
      else {
        val json = java.nio.file.Files.readString(f)
        for {
          d <- """"docs":(\d+)""".r.findFirstMatchIn(json).map(_.group(1).toLong)
          a <- """"docsAfter":(\d+)""".r.findFirstMatchIn(json).map(_.group(1).toLong)
        } yield s -> (d, a)
      }
    }.toMap
  }

  /** Start the stream: every new parquet file under `inputDir` is indexed
    * into a new segment. `trigger` defaults to availableNow semantics in
    * tests via `processAllAvailable()`. */
  def start(spark: SparkSession, inputDir: String, indexDir: String,
            checkpointDir: String, partitions: Int = 8): StreamingQuery = {
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "repo STRING, path STRING, commit STRING, lang STRING, content STRING, sha256 STRING")
    spark.readStream
      .schema(schema)
      .parquet(inputDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime("1 second"))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        appendSegment(batch.sparkSession, batch, indexDir, batchId, partitions)
      }
      .start()
  }
}

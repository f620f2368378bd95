package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Index fsck: recompute every invariant the build promises and report one
  * row per check — the operational tool run before trusting a restored /
  * hand-migrated / crash-recovered index (Lucene's CheckIndex analog; the
  * reference trusts its dump blindly, `flash_engine_dumper.h`).
  *
  * Checks (each a distributed aggregation; violation counts, never row
  * dumps, come back to the driver):
  *  - `block_decode`: every posting block decodes to exactly `n` postings
  *    whose first/last docIds match the block's skip metadata, docIds
  *    strictly ascending within the block (O1), and the `maxTf` /
  *    `minLenByte` block-max WAND bounds are true bounds of the payload.
  *  - `docid_unique`: no (term, docId) posting appears twice across blocks
  *    (salted shards must partition, never overlap).
  *  - `termstats`: stored per-term (df, cf) equal the decoded truth.
  *  - `docstore_sha`: stored sha256 equals sha2(content) — the row
  *    invariant of the build contract.
  *  - `doclen_lenbyte`: stored lossy length byte re-encodes from the exact
  *    length (the scoring norm is derived, never drifts).
  *
  * A segmented index is checked over its LIVE segments (same manifest
  * visibility rule as the query path). */
object Integrity {

  final case class CheckResult(check: String, ok: Boolean, violations: Long,
                               detail: String)

  def check(spark: SparkSession, indexDir: String): DataFrame = {
    import spark.implicits._
    val ix = graft.query.Searcher.load(spark, indexDir)
    val results = scala.collection.mutable.ArrayBuffer.empty[CheckResult]
    def add(name: String, violations: Long, detail: String = ""): Unit =
      results += CheckResult(name, violations == 0L, violations, detail)

    ix.requireNormStream
    val blocks = ix.postings.select("term", "prevDocId", "firstDocId", "lastDocId",
      "n", "maxTf", "minLenByte", "docIds", "tfs", "lenBytes")

    // block_decode: structural per-block invariants
    val blockViolations = blocks
      .as[(String, Int, Int, Int, Int, Int, Int, Array[Byte], Array[Byte], Array[Byte])]
      .map { case (_, prev, first, last, n, maxTf, minLb, ids, tfs, lbs) =>
        val dt = PostingCodec.decodeDocIdTf(prev, n, ids, tfs)
        var bad = 0L
        if (dt.length != n) bad += 1
        if (dt.nonEmpty && (dt.head._1 != first || dt.last._1 != last)) bad += 1
        var i = 1
        while (i < dt.length) { // O1: strictly ascending docIds
          if (dt(i)._1 <= dt(i - 1)._1) bad += 1
          i += 1
        }
        if (dt.exists(_._2 > maxTf)) bad += 1 // WAND ceiling must bound tf
        val lb = PostingCodec.decodeLenBytes(n, lbs)
        if (lb.length != n) bad += 1
        if (lb.exists(_ < minLb)) bad += 1 // WAND norm bound must hold
        bad
      }
      .toDF("bad")
      .agg(coalesce(sum("bad"), lit(0L))).as[Long].head()
    add("block_decode", blockViolations)

    // decoded truth table, reused by the uniqueness and termstats checks
    val decoded = blocks
      .select("term", "prevDocId", "n", "docIds", "tfs")
      .as[(String, Int, Int, Array[Byte], Array[Byte])]
      .flatMap { case (t, prev, n, ids, tfs) =>
        PostingCodec.decodeDocIdTf(prev, n, ids, tfs).iterator
          .map(p => (t, p._1, p._2.toLong))
      }
      .toDF("term", "docId", "tf")
    val perTerm = decoded.groupBy("term", "docId")
      .agg(count(lit(1)).as("k"), sum("tf").as("tf"))
      .cache()
    val dupPairs = perTerm.filter(col("k") > 1).count()
    add("docid_unique", dupPairs)

    val truth = perTerm.groupBy("term")
      .agg(count(lit(1)).as("df_t"), sum("tf").as("cf_t"))
    val statsBad = ix.termstats
      .join(truth, Seq("term"), "full_outer")
      .filter(col("df") =!= col("df_t") || col("cf") =!= col("cf_t")
        || col("df").isNull || col("df_t").isNull)
      .count()
    perTerm.unpersist(false)
    add("termstats", statsBad)

    // docstore row invariant: stored sha256 == sha2(content)
    val shaBad =
      if (!ix.docstore.columns.contains("sha256")) -1L
      else ix.docstore.filter(col("sha256") =!= sha2(col("content"), 256)).count()
    if (shaBad >= 0) add("docstore_sha", shaBad)
    else results += CheckResult("docstore_sha", ok = false, -1L, "no sha256 column")

    // lossy norm byte re-derives from the exact length (codegen'd
    // [[graft.functions.LenByteEncode]] — the engine-wide no-UDF rule)
    add("doclen_lenbyte",
      ix.doclen.filter(graft.functions.functions.len_code(
        col("len").cast("long")) =!= col("lenByte")).count())

    // bloom coverage (only when a bloom store exists): phrase pruning is
    // lossy-SAFE only if probes are served for every doc the store claims
    // to cover — an orphan row (no matching posting) signals a stale store;
    // a multi-token doc with no bloom rows at all signals a segment that
    // was indexed without its bloom stage (the silent-pruning-loss case the
    // streaming build guards against).
    ix.bloom.foreach { bl =>
      val bloomKeys = bl.select(col("term"), col("docId")).distinct()
      val postKeys = decoded.select("term", "docId").distinct()
      val orphans = bloomKeys.join(postKeys, Seq("term", "docId"), "left_anti").count()
      add("bloom_orphans", orphans)
      val coveredDocs = bl.select("docId").distinct()
      val multiTokenDocs = ix.doclen.filter(col("len") >= 2).select("docId")
      val uncovered = multiTokenDocs.join(coveredDocs, Seq("docId"), "left_anti").count()
      add("bloom_doc_coverage", uncovered)
    }

    // trigram store (only when present): runs must decode to ascending ids
    // (same O1 rule as term postings), and every doc long enough to carry a
    // trigram must post at least one — a silently missing doc would make
    // substring search return FALSE NEGATIVES (the trigram index gates
    // candidates, unlike the lossy-safe bloom store).
    ix.trigrams.foreach { tb =>
      val runBad = tb.select("tri", "prevDocId", "n", "docIds")
        .as[(String, Int, Int, Array[Byte])]
        .map { case (_, prev, n, blob) =>
          val ids = TrigramIndex.decodeRun(prev, n, blob)
          var bad = 0L
          if (ids.length != n) bad += 1
          var i = 1
          while (i < ids.length) {
            if (ids(i) <= ids(i - 1)) bad += 1
            i += 1
          }
          bad
        }
        .toDF("bad").agg(coalesce(sum("bad"), lit(0L))).as[Long].head()
      add("trigram_decode", runBad)
      val postedDocs = tb.select("tri", "prevDocId", "n", "docIds")
        .as[(String, Int, Int, Array[Byte])]
        .flatMap { case (_, prev, n, blob) =>
          TrigramIndex.decodeRun(prev, n, blob).iterator
        }.toDF("docId").distinct()
      val trigramEligible = ix.docstore
        .filter(length(col("content")) >= 3).select("docId")
      val missing = trigramEligible.join(postedDocs, Seq("docId"), "left_anti").count()
      add("trigram_doc_coverage", missing)
    }

    results.toSeq.toDF()
  }
}

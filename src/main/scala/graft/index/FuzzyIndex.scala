package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SymSpell deletion-neighborhood index for serving-scale fuzzy expansion.
  *
  * The dictionary-scan fuzzy probe ([[graft.query.Searcher.expandFuzzy]])
  * evaluates a banded Levenshtein against EVERY dictionary term per query —
  * correct, but a full dictionary scan per fuzzy query (the round-3 bench's
  * most expensive search row). SymSpell (Wolf Garbe's public symmetric-
  * delete algorithm) precomputes, once per index, every string obtainable
  * from a dictionary term by deleting up to `maxDist` characters; a query
  * generates its own ≤ Σ C(len,d) deletes and probes the table with one
  * `del IN (...)` filter. The symmetric-delete guarantee —
  * lev(a,b) ≤ d ⇒ deletes_d(a) ∩ deletes_d(b) ≠ ∅ — makes the candidate
  * set a superset of the true neighborhood; a threshold-Levenshtein verify
  * over the (small) candidate set restores exactness, so the output
  * contract is IDENTICAL to the dictionary scan.
  *
  * Scale shape: the table is built with one explode over the dictionary
  * (≈ |dict| · (1 + L + L²/2) rows at maxDist 2), written sorted by `del`
  * so the probe's IN-filter prunes parquet row groups by min/max — a probe
  * reads O(candidates), never the dictionary.
  */
object FuzzyIndex {

  /** Default build distance — covers the suggest/fuzzy default contracts
    * (probe distance must be ≤ the build distance). */
  val DefaultMaxDist = 2

  /** The delete neighborhood of `term` up to `maxDist` deletions,
    * INCLUDING the term itself; deterministic first-seen order. */
  def deletes(term: String, maxDist: Int): Array[String] = {
    val seen = scala.collection.mutable.LinkedHashSet(term)
    var frontier: Set[String] = Set(term)
    var d = 0
    while (d < maxDist && frontier.nonEmpty) {
      frontier = frontier.flatMap(s =>
        (0 until s.length).iterator.map(i => s.substring(0, i) + s.substring(i + 1)))
      seen ++= frontier
      d += 1
    }
    seen.toArray
  }

  /** (del, term, df) rows for a (term, df) dictionary. */
  def deleteTable(dict: DataFrame, maxDist: Int): DataFrame = {
    val spark = dict.sparkSession
    import spark.implicits._
    dict.select(col("term").cast("string"), col("df").cast("long"))
      .as[(String, Long)]
      .flatMap { case (t, df) => deletes(t, maxDist).iterator.map(d => (d, t, df)) }
      .toDF("del", "term", "df")
  }

  /** Candidate (term, df) rows whose true Levenshtein distance to `term`
    * is ≤ `maxDist` — exact w.r.t. the dictionary the table was built
    * from. `maxDist` must be ≤ the table's build distance. */
  def probe(table: DataFrame, term: String, maxDist: Int): DataFrame = {
    val dels = deletes(term, maxDist).toSeq
    table.filter(col("del").isin(dels: _*))
      .select("term", "df").distinct()
      .filter(levenshtein(col("term"), lit(term), maxDist) >= 0)
  }

  /** [[probe]] over the union of per-SEGMENT delete tables (rows carry a
    * `seg` column; df is the term's df within that segment). A term can
    * match several deletes within one segment (distinct per (seg, term))
    * and appear in several segments (sum over segments = its global df,
    * matching the segmented index's summed termstats) — so the output
    * contract is identical to probing one table built from the merged
    * dictionary. The delete neighborhood is a function of the term alone,
    * so every segment containing the term is found by the same IN-list. */
  def probeSegmented(table: DataFrame, term: String, maxDist: Int): DataFrame = {
    val dels = deletes(term, maxDist).toSeq
    table.filter(col("del").isin(dels: _*))
      .filter(levenshtein(col("term"), lit(term), maxDist) >= 0)
      .select("seg", "term", "df").distinct()
      .groupBy("term").agg(sum("df").as("df"))
  }

  /** Persisted index stage `fuzzy/` from the committed termstats, sorted
    * by `del` for probe-time row-group pruning. Batch-index stage: the
    * loader exposes it only when the index has no streaming segments
    * (appends would stale it — the dictionary scan remains the exact
    * fallback there). */
  def buildStage(spark: SparkSession, indexDir: String,
                 maxDist: Int = DefaultMaxDist): Unit = {
    if (!Manifest.isCommitted(indexDir, "fuzzy")) {
      val dict = spark.read.parquet(s"$indexDir/termstats").select("term", "df")
      deleteTable(dict, maxDist)
        .repartitionByRange(col("del"))
        .sortWithinPartitions("del")
        .write.mode("overwrite").option("compression", "zstd")
        .parquet(s"$indexDir/fuzzy")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(indexDir, "fuzzy", "_maxdist"), maxDist.toString)
      Manifest.commit(spark, indexDir, "fuzzy")
    }
  }

  /** Per-SEGMENT delete table `fuzzy/seg=<id>` from the segment's own
    * termstats — the streamed-index analog of [[buildStage]], carried
    * through compaction like `trigrams/`. The marker rides inside the
    * segment directory (underscore-prefixed files are invisible to the
    * parquet reader). Idempotence comes from the caller's segment
    * manifest, not a stage manifest. */
  def buildSegmentStage(spark: SparkSession, indexDir: String, segId: Long,
                        maxDist: Int = DefaultMaxDist): Unit = {
    val dict = spark.read.parquet(s"$indexDir/termstats/seg=$segId")
      .select("term", "df")
    deleteTable(dict, maxDist)
      .repartitionByRange(col("del"))
      .sortWithinPartitions("del")
      .write.mode("overwrite").option("compression", "zstd")
      .parquet(s"$indexDir/fuzzy/seg=$segId")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(indexDir, "fuzzy", s"seg=$segId", "_maxdist"),
      maxDist.toString)
  }

  /** Build distance of a persisted stage (from its `_maxdist` marker).
    * A missing marker reads as 0 — that disables the stage (the
    * probe-distance guard never passes) and callers take the exact
    * dictionary-scan fallback; assuming a distance the table may not
    * cover would silently drop candidates. A marker that exists but
    * cannot be read or parsed throws. */
  def stageMaxDist(indexDir: String): Int =
    markerDist(java.nio.file.Paths.get(indexDir, "fuzzy", "_maxdist"))

  /** Build distance of one segment's table; same missing-is-0 contract
    * as [[stageMaxDist]] — a segment without a marker disables the
    * segmented probe path entirely (all-or-nothing gate). */
  def segMaxDist(indexDir: String, segId: Long): Int =
    markerDist(java.nio.file.Paths.get(indexDir, "fuzzy", s"seg=$segId", "_maxdist"))

  private def markerDist(p: java.nio.file.Path): Int =
    try java.nio.file.Files.readString(p).trim.toInt
    catch { case _: java.nio.file.NoSuchFileException => 0 }
}

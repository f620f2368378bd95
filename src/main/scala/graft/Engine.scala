package graft

import graft.index.{Bloom, IndexBuilder, Manifest, PostingCodec}
import graft.query.{Highlighter, Searcher}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** User-facing facade mirroring the reference's engine surface
  * (`SearchEngineServiceNew`: AddDocuments → Serialize / Load → Search,
  * `qq_mem_engine.h`, `vacuum_engine.h`; query/result shapes
  * `types.h:205-346`).
  *
  * {{{
  * val eng = Engine.build(spark, corpusDf, "/data/index")   // or Engine.load
  * val res = eng.search(Engine.SearchQuery(Seq("if", "return"), nResults = 10,
  *                                         returnSnippets = true))
  * }}}
  */
object Engine {

  /** `SearchQuery` analog (`types.h:205-256`); `bloomEnableFactor` is the
    * engine-factory knob (`engine_factory.h:34`, default 1; 0 = never use
    * the bloom store — `BLOOM_NEVER_USE`). */
  final case class SearchQuery(
      terms: Seq[String],
      nResults: Int = 5,
      isPhrase: Boolean = false,
      returnSnippets: Boolean = false,
      nSnippetPassages: Int = 3,
      bloomEnableFactor: Int = 1)

  /** `SearchResultEntry` analog (`types.h:259-346`). */
  final case class ResultEntry(docId: Int, score: Double, snippet: String)
  final case class SearchResult(entries: Seq[ResultEntry], docFreqs: Map[String, Long])

  /** Build (or resume building) an index over a corpus
    * (repo, path, commit, lang, content[, sha256]) and open it.
    * `codeAnalyzer = true` additionally posts each token's case-derived
    * subtokens at the same position (camelCase/snake_case — `bar` finds
    * `fooBar`; [[graft.core.Tokenizer.groupedCode]]); query terms are
    * already lowercase, so the search side needs no change. */
  /** `textAnalyzer = true` indexes through the natural-language chain
    * (possessive strip → english stopwords → Porter;
    * [[graft.core.Tokenizer.groupedText]]) — the reference's wiki
    * deployment semantics (`tokenize_wiki_linedoc.py:21-57`). QUERY terms
    * must then be analyzed the same way ([[Engine.analyzeText]]). The
    * bloom store is skipped under it: its adjacency pairs are built on the
    * raw token stream, and a mismatched bloom prunes LOSSILY. */
  /** `textFold = true` (TEXT analyzer only) additionally runs the
    * `html_strip` char filter and `asciifolding`
    * ([[graft.core.Tokenizer.stripHtml]]/[[graft.core.Tokenizer.foldAscii]],
    * the reference chain's remaining steps) — query terms must then be
    * analyzed with [[analyzeText]]`(q, fold = true)`. Token offsets index
    * the STRIPPED content. */
  def build(spark: SparkSession, corpus: DataFrame, indexDir: String,
            partitions: Int = 32, withBloom: Boolean = true,
            codeAnalyzer: Boolean = false, withTrigrams: Boolean = false,
            withFuzzy: Boolean = false, textAnalyzer: Boolean = false,
            textFold: Boolean = false): Engine = {
    val withSha =
      if (corpus.columns.contains("sha256")) corpus
      else corpus.withColumn("sha256",
        org.apache.spark.sql.functions.sha2(org.apache.spark.sql.functions.col("content"), 256))
    IndexBuilder.build(spark, withSha, indexDir, partitions, codeAnalyzer,
      textAnalyzer, textFold)
    if (withBloom && !textAnalyzer) Bloom.buildStage(spark, indexDir, codeAnalyzer)
    if (withTrigrams) graft.index.TrigramIndex.buildStage(spark, indexDir)
    if (withFuzzy) graft.index.FuzzyIndex.buildStage(spark, indexDir)
    load(spark, indexDir)
  }

  /** Analyze a raw query string under the TEXT analyzer — the terms to
    * search a `textAnalyzer = true` index with. */
  def analyzeText(query: String, fold: Boolean = false): Seq[String] =
    graft.core.Tokenizer.tokenizeText(
      if (fold) graft.core.Tokenizer.stripHtml(query) else query, fold)
      .map(_.term).toSeq

  /** Open an existing index (snapshot manifest must be committed). */
  def load(spark: SparkSession, indexDir: String): Engine = {
    require(Manifest.isCommitted(indexDir, "postings"),
      s"no committed index at $indexDir")
    new Engine(Searcher.load(spark, indexDir))
  }
}

final class Engine private (val ix: Searcher.LoadedIndex) {
  import Engine._

  def nDocs: Long = ix.nDocs

  /** Per-term document frequencies (`PostinglistSizes` analog). */
  def docFreqs(terms: Seq[String]): Map[String, Long] = ix.dfs(terms.distinct)

  def search(q: SearchQuery): SearchResult = {
    if (q.nResults <= 0) return SearchResult(Nil, Map.empty) // `qq_mem_engine.h:338-340`
    val hits = Searcher.search(ix, q.terms, q.nResults, q.isPhrase,
      bloomFactor = q.bloomEnableFactor).collect().sortBy(_.rank)
    val dfs = docFreqs(q.terms)
    val entries =
      if (!q.returnSnippets) hits.map(h => ResultEntry(h.docId, h.score, ""))
      else snippetsFromIndex(hits, q)
    SearchResult(entries.toSeq, dfs)
  }

  /** Snippets served from the STORED offsets stream: the hit docs' bodies
    * come from the docstore (pruned + docId-sorted fetch) and the matched
    * term spans from `PostingCodec.decodeOffsets` over the query terms'
    * blocks — the doc body is never re-tokenized (the reference's lazy
    * offset iterators, `flash_iterators.h:711-769`). */
  private def snippetsFromIndex(hits: Array[Searcher.Hit],
                                q: SearchQuery): Array[ResultEntry] = {
    import ix.spark.implicits._
    import org.apache.spark.sql.functions.col
    if (hits.isEmpty) return Array.empty
    val ids = hits.map(_.docId)
    val bodies = ix.docstore
      .filter(col("docId").isin(ids.toSeq: _*))
      .select("docId", "content").sort("docId").as[(Int, String)].collect().toMap
    val bcIds = ix.spark.sparkContext.broadcast(ids.toSet)
    val offRows = ix.postings
      .filter(col("term").isin(q.terms.distinct: _*) &&
        col("lastDocId") >= ids.min && col("firstDocId") <= ids.max)
      .select("term", "prevDocId", "n", "docIds", "tfs", "offsets")
      .as[(String, Int, Int, Array[Byte], Array[Byte], Array[Byte])]
      .flatMap { case (t, prev, n, idsB, tfsB, offB) =>
        val dt = PostingCodec.decodeDocIdTf(prev, n, idsB, tfsB)
        if (!dt.exists(p => bcIds.value.contains(p._1))) Iterator.empty
        else {
          val offs = PostingCodec.decodeOffsets(n, offB)
          dt.iterator.zipWithIndex.collect {
            case ((d, _), i) if bcIds.value.contains(d) =>
              (t, d, offs(i).map(_._1), offs(i).map(_._2))
          }
        }
      }.collect()
    val byDoc: Map[Int, Map[String, Array[(Int, Int)]]] =
      offRows.groupBy(_._2).view.mapValues(
        _.map(r => r._1 -> r._3.zip(r._4)).toMap).toMap
    hits.map { h =>
      val snip = bodies.get(h.docId).map { body =>
        Highlighter.snippetFromOffsets(body,
          byDoc.getOrElse(h.docId, Map.empty), q.nSnippetPassages)
      }.getOrElse("")
      ResultEntry(h.docId, h.score, snip)
    }
  }

  // ---------- substring / regex search (trigram stage) ----------

  /** Per-trigram df cache: LRU-bounded like [[LocalService]]'s dfCache.
    * Negative results (df 0) are cached too, so repeat misses never
    * re-probe. The full (trigram -> df) dictionary is NEVER collected —
    * over arbitrary UTF-16 content it is unbounded (any char triple);
    * a query needs only its own needle's ≤|needle| trigram dfs. */
  private val triDfCache: java.util.Map[String, java.lang.Long] =
    graft.query.MetaStore.lruMap(65536)

  /** Rows fetched by the LAST trigram df probe (0 on a warm cache) —
    * diagnostics for the no-full-dictionary-collect invariant. */
  @volatile private[graft] var lastTriProbeCount: Int = 0

  private def triDfOf(tris: Seq[String]): Map[String, Long] = {
    val distinct = tris.distinct
    // ONE atomic read per trigram; the result is built from local values,
    // never re-read from the cache (eviction between two reads nulls)
    val cached: Map[String, Long] =
      distinct.flatMap(t => Option(triDfCache.get(t)).map(t -> _.longValue())).toMap
    val missing = distinct.filterNot(cached.contains)
    lastTriProbeCount = missing.size
    val probed: Map[String, Long] =
      if (missing.isEmpty) Map.empty
      else {
        val p = ix.trigrams
          .map(b => graft.index.TrigramIndex.probeTriDfs(b, missing))
          .getOrElse(Map.empty[String, Long])
        val full = missing.map(t => t -> p.getOrElse(t, 0L)).toMap
        full.foreach { case (t, df) =>
          triDfCache.put(t, java.lang.Long.valueOf(df)) }
        full
      }
    cached ++ probed
  }

  /** Exact matches of `needle` via the trigram stage when present
    * (rarest-k posting intersection + contains verification), or a full
    * verify scan when the index was built without one — results identical
    * either way. */
  private def substringHits(docsDf: DataFrame, needle: String): DataFrame = {
    import org.apache.spark.sql.functions._
    ix.trigrams match {
      case Some(blocks) =>
        graft.index.TrigramIndex.substringSearch(docsDf, blocks,
          triDfOf(graft.index.TrigramIndex.trigramsOf(needle).toSeq), needle)
      case None =>
        docsDf.filter(col("text").contains(needle))
          .select(col("doc_id").cast("long").as("doc_id"))
    }
  }

  /** Exact substring search over the stored content via the trigram stage
    * (Google-Code-Search query shape): rarest-k posting intersection →
    * contains verification → top-k by (occurrence count desc, docId asc).
    * Occurrences are counted with exact integer string arithmetic. */
  def searchSubstring(needle: String, k: Int): Seq[(Int, Long)] = {
    import org.apache.spark.sql.functions._
    import ix.spark.implicits._
    if (needle.isEmpty) return Nil // every doc "contains" it; occ would be 0/0
    val docsDf = ix.docstore.select(col("docId").as("doc_id"), col("content").as("text"))
    val hits = substringHits(docsDf, needle)
    docsDf.join(hits.withColumnRenamed("doc_id", "hit_id"),
        col("doc_id") === col("hit_id"))
      .select(col("doc_id").cast("int"),
        ((length(col("text")) - length(regexp_replace(col("text"),
          lit(java.util.regex.Pattern.quote(needle)), lit("")))) /
          lit(needle.length)).cast("long").as("occ"))
      .orderBy(desc("occ"), asc("doc_id")).limit(k)
      .as[(Int, Long)].collect().toSeq
  }

  /** grep: per-LINE substring hits — (docId, 0-based line number, line) —
    * the code-search result shape. Line extraction runs ONLY on the
    * trigram-verified candidate docs, so the corpus never splits lines. */
  def grep(needle: String, maxLines: Int): Seq[(Int, Long, String)] = {
    import org.apache.spark.sql.functions._
    import ix.spark.implicits._
    if (needle.isEmpty) return Nil
    val docsDf = ix.docstore.select(col("docId").as("doc_id"), col("content").as("text"))
    val hits = substringHits(docsDf, needle).withColumnRenamed("doc_id", "hit_id")
    docsDf.join(hits, col("doc_id") === col("hit_id"))
      .select(col("doc_id").cast("int"),
        posexplode(split(col("text"), "\n")).as(Seq("line_no", "line")))
      .filter(col("line").contains(needle))
      .select(col("doc_id"), col("line_no").cast("long"), col("line"))
      .orderBy("doc_id", "line_no").limit(maxLines)
      .as[(Int, Long, String)].collect().toSeq
  }

  /** Exact regex search via required-trigram pruning + rlike verification;
    * results ordered by docId (a regex has no natural tf). */
  def searchRegex(pattern: String, k: Int): Seq[Int] = {
    import org.apache.spark.sql.functions._
    import ix.spark.implicits._
    val docsDf = ix.docstore.select(col("docId").as("doc_id"), col("content").as("text"))
    val hits = ix.trigrams match {
      case Some(blocks) =>
        graft.index.TrigramIndex.regexSearch(docsDf, blocks,
          triDfOf(graft.index.TrigramIndex.regexLiteralTrigrams(pattern)), pattern)
      case None =>
        docsDf.filter(col("text").rlike(pattern))
          .select(col("doc_id").cast("long").as("doc_id"))
    }
    hits.orderBy("doc_id").limit(k)
      .as[Long].collect().map(_.toInt).toSeq
  }
}

package graft

import graft.core.{Kernel, LenByte, Tokenizer, Varint}
import graft.index.{IndexBuilder, PostingCodec, TrigramIndex}
import graft.ops.{Dedup, Multimodal, Similarity, Sketch, TextOps}
import graft.plans.{IndexCatalog, IndexRewrite}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** One graded query: the Spark side and the DuckDB SQL it is checked
  * against, row for row, with identical column names. */
final case class GradedQuery(
    name: String,
    spark: (SparkSession, String) => DataFrame,
    oracleSql: String)

/** Driver contract: one [[SparkEntry.graded]] entry per implemented
  * operator from SURVEY.md §2 (names keyed by the survey's operator ids),
  * plus the training-data-pipeline operators (dedup / similarity / text
  * analysis / multimodal). Each entry's DuckDB oracle has integer-exact
  * outputs (counts as BIGINT, float-derived values as micro-quantized
  * BIGINT computed from exact integer inputs). The driver reads the two
  * views [[SparkEntry.queries]] and [[SparkEntry.oracleSql]].
  */
object SparkEntry {

  // ---------- shared Spark-side fragments ----------
  // The heavy shared intermediates (tf table, doc lengths) are memoized per
  // (session, dir) like the posting blocks below: a dozen graded queries
  // derive from them, so Verify/Bench tokenize the corpus once, not once
  // per query. Row counts are tiny (one row per (doc, unique term)).

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  private val pairsCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  /** LSH candidate pairs over the full documents table — shared by the
    * `dedup_minhash_pairs` and `dedup_components` graded queries, so the
    * signature pass (tokenize + one md5 per shingle) runs once, memoized
    * like [[tfTable]]. Staged projections (tokens → shingles → digests →
    * signature) keep the tokenizer at once-per-doc and md5 at
    * once-per-shingle; the signature intermediate is released once the
    * (small) pair set is materialized. */
  private def minhashPairs(s: SparkSession, dir: String): DataFrame =
    pairsCache.getOrElseUpdate((s, dir),
      minhashPairsOf(docs(s, dir)))

  /** The same banded pipeline over an arbitrary (doc_id, text) frame —
    * used by the memoized corpus path above and by the planted-duplicate
    * LSH recall evaluation (un-memoized: its input is query-local). */
  private def minhashPairsOf(docsDf: DataFrame): DataFrame = {
    {
      val base = docsDf
        .select(col("doc_id"), toks.as("t"))
        .select(col("doc_id"), TextOps.shingles(col("t"), 3).as("sh"))
        .select(col("doc_id"), transform(col("sh"), md5 _).as("hs"))
        .select(col("doc_id"), Dedup.minhashSigFromHashes(col("hs"), sigLen = 8).as("sig"))
        .cache()
      val bands = base.select(col("doc_id"), posexplode(
        array((0 until 4).map(b =>
          md5(concat_ws("|", slice(col("sig"), lit(b * 2 + 1), lit(2))))): _*)))
        .withColumnRenamed("pos", "band").withColumnRenamed("col", "bkey")
      val pairs = bands.as("a").join(bands.as("b"), Seq("band", "bkey"))
        .filter(col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .distinct()
        .cache()
      pairs.count() // materialize while the signature cache is resident
      base.unpersist(false)
      pairs
    }
  }
  private def embs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  private def toks: Column = TextOps.tokens(col("text"))

  private val tfCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private val lenCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  /** (doc_id, term, tf) — A1. */
  private def tfTable(s: SparkSession, dir: String): DataFrame =
    tfCache.getOrElseUpdate((s, dir),
      docs(s, dir)
        .select(col("doc_id"), explode(toks).as("term"))
        .groupBy("doc_id", "term")
        .agg(count(lit(1)).cast("long").as("tf"))
        .cache())

  /** (doc_id, len) over the engine tokenizer — A4. */
  private def lenTable(s: SparkSession, dir: String): DataFrame =
    lenCache.getOrElseUpdate((s, dir),
      docs(s, dir).select(col("doc_id"), size(toks).cast("long").as("len")).cache())

  private val textTfCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private val textLenCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  /** (doc_id, term, tf) under the TEXT analyzer (possessive strip →
    * english stopwords → Porter stemmer; [[graft.core.Tokenizer
    * .tokenizeText]]) — the reference's ES analyzer chain
    * (`tokenize_wiki_linedoc.py:21-57`) re-expressed engine-side. */
  private def textTfTable(s: SparkSession, dir: String): DataFrame =
    textTfCache.getOrElseUpdate((s, dir), {
      import s.implicits._
      docs(s, dir).select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)]
        .flatMap { case (id, t) =>
          Tokenizer.tokenizeText(t).iterator.map(tok => (id, tok.term))
        }
        .toDF("doc_id", "term")
        .groupBy("doc_id", "term")
        .agg(count(lit(1)).cast("long").as("tf"))
        .cache()
    })

  /** (doc_id, len) = SURVIVING token count under the TEXT analyzer
    * (Lucene's post-stopword norm). */
  private def textLenTable(s: SparkSession, dir: String): DataFrame =
    textLenCache.getOrElseUpdate((s, dir), {
      import s.implicits._
      docs(s, dir).select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)]
        .map { case (id, t) => (id, Tokenizer.tokenizeText(t).length.toLong) }
        .toDF("doc_id", "len")
        .cache()
    })

  /** Folding fixture: the synthetic corpus is pure ASCII, so the graded
    * folding contract (`html_strip` + `asciifolding`,
    * `tokenize_wiki_linedoc.py:27-47`) injects deterministic HTML markup,
    * named entities, and accented words by doc_id — identically in both
    * engines (`FoldAugSql`). */
  private def foldAugmented(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"), concat(
      col("text"),
      when(col("doc_id") % 3 === 0,
        lit(" <b>Caf&eacute;s</b> r&eacute;sum&eacute; naïve")).otherwise(lit("")),
      when(col("doc_id") % 4 === 0,
        lit(" <p class=\"x\">cliché façade</p> thé")).otherwise(lit("")),
      when(col("doc_id") % 5 === 0,
        lit(" straße cœur unf&ouml;ldable")).otherwise(lit("")))
      .as("text"))

  private val foldTfCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private val foldLenCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  /** (doc_id, term, tf) under the FOLDED text chain: html-strip char
    * filter → possessive strip → stopwords → asciifolding → Porter. */
  private def foldTfTable(s: SparkSession, dir: String): DataFrame =
    foldTfCache.getOrElseUpdate((s, dir), {
      import s.implicits._
      foldAugmented(s, dir).select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)]
        .flatMap { case (id, t) =>
          Tokenizer.tokenizeText(Tokenizer.stripHtml(t), fold = true)
            .iterator.map(tok => (id, tok.term))
        }
        .toDF("doc_id", "term")
        .groupBy("doc_id", "term")
        .agg(count(lit(1)).cast("long").as("tf"))
        .cache()
    })

  /** (doc_id, len) surviving-token norm under the folded chain. */
  private def foldLenTable(s: SparkSession, dir: String): DataFrame =
    foldLenCache.getOrElseUpdate((s, dir), {
      import s.implicits._
      foldAugmented(s, dir).select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)]
        .map { case (id, t) =>
          (id, Tokenizer.tokenizeText(Tokenizer.stripHtml(t), fold = true).length.toLong)
        }
        .toDF("doc_id", "len")
        .cache()
    })

  private val ivfCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), (Array[Array[Long]], DataFrame)]

  /** Memoized trained IVF model (16 cells, 2 Lloyd iterations) over the
    * embeddings table — `ann_ivf_topk` and `ann_recall_at10` probe the
    * SAME index, as a real deployment would, instead of each paying the
    * k-means training. */
  private def ivfModel(s: SparkSession, dir: String): (Array[Array[Long]], DataFrame) =
    ivfCache.getOrElseUpdate((s, dir), {
      val (c, a) = Similarity.ivfModel(embs(s, dir), "embedding", "vec_id",
        kCells = 16, iters = 2)
      (c, a.cache())
    })

  private val tffCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  /** (doc_id, term, tff, lenf) — the BM25F per-field table (title = first 8
    * engine tokens at weight 2, body at weight 1; tff = 2·tf_title +
    * tf_body, lenf = len + min(len, 8), both exact integers). Memoized like
    * [[tfTable]]: without the cache every downstream consumer of the
    * fielded query (pivot, dfs, stats, final join) re-ran the corpus
    * tokenize + both field explodes (~8 passes, measured 8.5s at sf0.1 for
    * a 2-term query). */
  private def tffTable(s: SparkSession, dir: String): DataFrame =
    tffCache.getOrElseUpdate((s, dir), {
      // one positional explode + one aggregation: weighted tf
      // 2·tf_title + tf_body == per-occurrence weight (pos < 8 ? 2 : 1),
      // so the two per-field word-count tables and their full-outer
      // shuffle join collapse into a single groupBy
      docs(s, dir).select(col("doc_id"), toks.as("tk"))
        .select(col("doc_id"), size(col("tk")).as("n"), posexplode(col("tk")))
        .toDF("doc_id", "n", "pos", "term")
        .groupBy("doc_id", "n", "term")
        .agg(sum(when(col("pos") < 8, 2L).otherwise(1L)).cast("long").as("tff"))
        .select(col("doc_id"), col("term"), col("tff"),
          (col("n") + least(col("n"), lit(8))).cast("long").as("lenf"))
        .cache()
    })

  /** Codegen'd lossy length (graft.functions.LenByteLossy) — the same
    * kernel the scoring path uses; no Scala UDF wrapper. */
  private def lossyLen(c: Column): Column = graft.functions.functions.len_lossy(c)

  /** Deterministic punctuation transform for the sentence/passage operators:
    * the driver's documents table is punctuation-free, so both engines apply
    * the same literal replacements to derive multi-sentence text. */
  private def punct(c: Column): Column =
    regexp_replace(regexp_replace(c, " a ", ". "), " the ", "; ")

  /** Probe words for the murmur2 golden check (F12). */
  private[graft] val MurmurWords: Seq[String] = Seq("table", "scan", "query",
    "spark", "value", "hash", "join", "fast", "slow", "window", "the", "a",
    "part", "stream", "batch", "dup")

  /** Phrase pairs probed against the two-way bloom store (J5/S10). */
  private[graft] val BloomPairs: Seq[(String, String)] = Seq(
    ("table", "scan"), ("fast", "table"), ("value", "part"),
    ("window", "table"), ("scan", "scan"))

  /** Engine posting blocks built over the documents table (docId = doc_id).
    * Memoized per (session, dir): j3/s6/p1 all derive from the same blocks,
    * so Verify/Bench build them once. */
  private val blockCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private def docBlocks(s: SparkSession, dir: String): DataFrame =
    blockCache.getOrElseUpdate((s, dir), buildDocBlocks(s, dir).cache())

  /** Character-trigram posting runs over the documents table (substring /
    * regex search, [[graft.index.TrigramIndex]]). Memoized like
    * [[docBlocks]]: the p9/p10 graded queries share one build. */
  private val triBlockCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private def triBlocks(s: SparkSession, dir: String): DataFrame =
    triBlockCache.getOrElseUpdate((s, dir),
      TrigramIndex.buildBlocks(docs(s, dir), "doc_id", "text").cache())

  /** Per-needle trigram df probe (memoized): the planner needs only the
    * NEEDLE's ≤|needle| trigram dfs — the full dictionary is never
    * collected (unbounded over arbitrary UTF-16 content). */
  private val triStatsCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, String), Map[String, Long]]
  private def triStatsFor(s: SparkSession, dir: String,
                          needle: String): Map[String, Long] =
    triStatsCache.getOrElseUpdate((s, dir, needle),
      TrigramIndex.probeTriDfs(triBlocks(s, dir),
        TrigramIndex.trigramsOf(needle).toSeq))

  /** Trigram-index candidates for `tris` joined back to the docstore with
    * an exact-verification flag — the graded shape of the p9/p10 family:
    * the candidate SET grades the trigram postings + k-way intersection,
    * the `hit` column grades the verifier. */
  private def triCandidatesWithFlag(s: SparkSession, dir: String,
                                    tris: Seq[String], verify: Column): DataFrame = {
    val cand = TrigramIndex.candidates(triBlocks(s, dir), tris)
      .withColumnRenamed("doc_id", "cand_id")
    docs(s, dir).join(cand, col("doc_id").cast("int") === col("cand_id"))
      .select(col("doc_id").cast("long").as("doc_id"),
        when(verify, lit(1L)).otherwise(lit(0L)).as("hit"))
      .orderBy("doc_id")
  }

  /** SQL `contains(text, tri)` conjunction replaying the trigram candidate
    * set for the oracle — literal-generated from the SAME needle constant
    * the Spark side uses, so both engines derive the trigram plan from one
    * definition. */
  private def triCandSql(tris: Seq[String]): String =
    tris.map(t => s"contains(text, '${t.replace("'", "''")}')").mkString(" AND ")

  /** The p9 graded needle: straddles a token boundary ("scan slow"), so a
    * term/phrase index cannot serve it — only the trigram index can. */
  private val SubstringNeedle = "scan slo"
  /** The p10 graded pattern: literal fragments "slow " / " table" anchor
    * the required-trigram plan; [a-z]+ needs post-verification. */
  private val RegexNeedle = "slow [a-z]+ table"

  /** doc_ids matching ALL `terms`, decoded from the real posting blocks —
    * the shared candidate set of the a7 facet family. (term, doc_id) rows
    * are unique by index construction (one posting per pair), so a plain
    * count equals the distinct-term count without countDistinct's Expand. */
  private def conjMatchedDocs(s: SparkSession, dir: String,
                              terms: Seq[String]): DataFrame = {
    import s.implicits._
    docBlocks(s, dir)
      .filter(col("term").isin(terms: _*))
      .select("term", "prevDocId", "n", "docIds", "tfs")
      .as[(String, Int, Int, Array[Byte], Array[Byte])]
      .flatMap { case (t, prev, n, ids, tfs) =>
        PostingCodec.decodeDocIdTf(prev, n, ids, tfs).iterator.map(p => (t, p._1))
      }
      .toDF("term", "doc_id")
      .groupBy("doc_id").agg(count(lit(1)).as("nm"))
      .filter(col("nm") === terms.size)
      .select("doc_id")
  }

  private def buildDocBlocks(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val n = docs(s, dir).count()
    val flat = docs(s, dir).select(col("doc_id").cast("int").as("doc_id"), col("text"))
      .as[(Int, String)]
      .flatMap { case (id, text) =>
        val grouped = Tokenizer.grouped(text)
        val lb = LenByte.encode(grouped.iterator.map(_._2.length.toLong).sum)
        grouped.iterator.map { case (term, ps, os) =>
          IndexBuilder.FlatPosting(term, id, ps.length,
            PostingCodec.encodePositionsBlob(ps),
            PostingCodec.encodeOffsetsBlob(os.map(_._1), os.map(_._2)),
            lb)
        }
      }
    // saltTarget=256 forces the hot-term salted shard path on the graded
    // corpus (several terms have df > 256 at sf0.01), so the oracle rows
    // over these blocks pin the per-shard prevDocId seed and the per-shard
    // 128-block cut — the salted skip chain is oracle-visible, not just
    // self-consistent (round-2 verdict: "oracle-invisible deviation").
    IndexBuilder.buildBlocks(s, flat, n, partitions = 8, saltTarget = 256).toDF()
  }

  /** doc_ids whose positions match `terms` as an adjacent in-order phrase,
    * decoded from the real posting blocks (docIds + positions streams) —
    * the J4 pipeline, shared by the graded phrase queries and the
    * IndexCatalog phrase lookup of the x3 rewrite. */
  private def phraseMatchedDocIds(s: SparkSession, dir: String,
                                  terms: Seq[String]): DataFrame = {
    import s.implicits._
    val perTerm = docBlocks(s, dir)
      .filter(col("term").isin(terms: _*))
      .select("term", "prevDocId", "n", "docIds", "tfs", "positions")
      .as[(String, Int, Int, Array[Byte], Array[Byte], Array[Byte])]
      .flatMap { case (t, prev, n, ids, tfs, pos) =>
        val dt = PostingCodec.decodeDocIdTf(prev, n, ids, tfs)
        val ps = PostingCodec.decodePositions(n, pos)
        dt.iterator.zipWithIndex.map { case ((d, _), i) => (t, d, ps(i)) }
      }
    perTerm.groupByKey(_._2)
      .flatMapGroups { (docId, rows) =>
        val byTerm = rows.map(r => r._1 -> r._3).toMap
        if (terms.forall(byTerm.contains) &&
            Kernel.phraseAt(terms.map(byTerm).toArray, null, new Array[Int](terms.size)))
          Iterator.single(docId.toLong)
        else Iterator.empty
      }
      .toDF("doc_id")
  }

  /** Decoded (term, doc_id, tf) from the engine blocks — S6/S7 roundtrip. */
  private def decodedPostings(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docBlocks(s, dir)
      .select("term", "prevDocId", "n", "docIds", "tfs")
      .as[(String, Int, Int, Array[Byte], Array[Byte])]
      .flatMap { case (t, prev, n, ids, tfs) =>
        PostingCodec.decodeDocIdTf(prev, n, ids, tfs).iterator.map(p => (t, p._1.toLong, p._2.toLong))
      }.toDF("term", "doc_id", "tf")
  }

  /** Rank the survivors of a `orderBy(...).limit(k)` top-k without any
    * window: rank(a) = 1 + |rows strictly better than a|, computed by a
    * k×k self-join — k is tiny, and no WindowExec (partitioned or not)
    * appears anywhere in the plan. `better(b, a)` must be a strict total
    * order (ties broken by a unique id). */
  private def rankTopK(top0: DataFrame, better: (DataFrame, DataFrame) => Column): DataFrame = {
    val top = top0.cache() // <=k rows; keeps the self-join from re-running the scan
    val a = top.as("a")
    val b = top.as("b")
    a.join(b, better(b, a), "left")
      .groupBy(top.columns.map(c => col("a." + c)): _*)
      .agg((count(col("b." + top.columns.head)) + 1).as("rank"))
  }

  /** Lossy-BM25 conjunctive top-10 for fixed query terms, as one
    * deterministic expression tree (score summed left-to-right in query-term
    * order like the reference, `scoring.h:133-142`).
    *
    * One tokenize pass serves all query terms: the per-term tf columns are
    * pivoted out of a single filtered aggregation (never a scan per term),
    * and the per-term document frequencies come from the same pass as a
    * 1-row conditional aggregate. Global exact top-k is orderBy+limit
    * (TakeOrderedAndProject: per-partition bounded heaps merged on the
    * driver), with ranks assigned to the <=k survivors by [[rankTopK]]. */
  private def bm25TopK(s: SparkSession, dir: String, terms: Seq[String], k: Int,
                       conjunctive: Boolean = true,
                       eligible: Option[DataFrame] = None,
                       excludeTerms: Seq[String] = Nil,
                       boosts: Map[String, Double] = Map.empty,
                       minShouldMatch: Int = 0,
                       tfSrc: Option[DataFrame] = None,
                       lenSrc: Option[DataFrame] = None): DataFrame = {
    val tfq = tfSrc.getOrElse(tfTable(s, dir)).filter(col("term").isin(terms: _*))
    val pivoted0 = tfq.groupBy("doc_id")
      .agg(max(when(col("term") === terms.head, col("tf"))).as("tf0"),
        terms.tail.zipWithIndex.map { case (t, i) =>
          max(when(col("term") === t, col("tf"))).as(s"tf${i + 1}")
        }: _*)
    // OR keeps docs matching ANY term (each slot contributes 0.0 when its
    // term is absent from the doc — the reference declares SearchOperator::OR
    // at types.h:70 but never implements it; these are the natural
    // semantics). minimum_should_match (Lucene's msm knob, the dial between
    // OR and AND) keeps docs matching at least `minShouldMatch` distinct
    // terms — only meaningful with conjunctive = false.
    val pivoted1 =
      if (conjunctive)
        pivoted0.filter(terms.indices.map(i => col(s"tf$i").isNotNull).reduce(_ && _))
      else if (minShouldMatch > 1)
        pivoted0.filter(
          terms.indices.map(i => when(col(s"tf$i").isNotNull, 1).otherwise(0))
            .reduce(_ + _) >= minShouldMatch)
      else pivoted0
    // metadata filter (e.g. lang = 'de'): restricts the CANDIDATE set only —
    // df/avg-length stats stay corpus-global, so a doc's score is identical
    // filtered or not (standard search-engine filter-query semantics). A
    // left-semi join on doc_id: Catalyst broadcasts the filtered id set when
    // small, shuffles when not — never a row-duplicating join.
    val pivoted2 = eligible.map(e => pivoted1.join(e, Seq("doc_id"), "left_semi"))
      .getOrElse(pivoted1)
    // NOT terms (Lucene MUST_NOT): drop docs containing ANY excluded term —
    // an anti-join against the excluded terms' doc set; excluded terms never
    // contribute to the score (engine path: Searcher.search excludeTerms)
    val pivoted =
      if (excludeTerms.isEmpty) pivoted2
      else pivoted2.join(
        tfTable(s, dir).filter(col("term").isin(excludeTerms: _*))
          .select("doc_id").distinct(),
        Seq("doc_id"), "left_anti")
    val dfs = tfq.agg(
      count(when(col("term") === terms.head, lit(1))).cast("long").as("df0"),
      terms.tail.zipWithIndex.map { case (t, i) =>
        count(when(col("term") === t, lit(1))).cast("long").as(s"df${i + 1}")
      }: _*)
    val len = lenSrc.getOrElse(lenTable(s, dir))
    val stats = len.agg(count(lit(1)).cast("long").as("n_docs"),
      sum("len").cast("long").as("sum_len"))
    val base = len.join(pivoted, "doc_id").crossJoin(dfs).crossJoin(stats)
    val avg = col("sum_len").cast("double") / col("n_docs").cast("double")
    val lossy = lossyLen(col("len")).cast("double")
    val score = terms.indices.map { i =>
      val idf0 = log(lit(1.0) + (col("n_docs") - col(s"df$i") + lit(0.5)) / (col(s"df$i") + lit(0.5)))
      // query-time boost (Lucene `term^B`): (idf·B)·tfNorm, the engine's
      // association order; unboosted slots keep the unmodified tree
      val b = boosts.getOrElse(terms(i), 1.0)
      val idf = if (b == 1.0) idf0 else idf0 * lit(b)
      val tfn = col(s"tf$i") * lit(2.2) /
        (col(s"tf$i") + lit(1.2) * (lit(0.25) + lit(0.75) * lossy / avg))
      if (conjunctive) idf * tfn
      else when(col(s"tf$i").isNotNull, idf * tfn).otherwise(lit(0.0))
    }.reduceLeft(_ + _)
    val top = base.withColumn("score", score)
      .select(col("doc_id"), col("score"))
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)
    rankTopK(top, (b, a) =>
        col("b.score") > col("a.score") ||
          (col("b.score") === col("a.score") && col("b.doc_id") < col("a.doc_id")))
      .select(col("rank").cast("long").as("rank"), col("doc_id"),
        round(col("score") * 1e6).cast("long").as("score_micro"))
      .orderBy("rank")
  }

  /** Dirichlet-smoothed query-likelihood top-k (Zhai & Lafferty 2001; the
    * Lucene `LMDirichletSimilarity` family) — a second similarity next to
    * BM25, same candidate machinery:
    *
    *   score(d,q) = Σ_t ln(1 + tf·C / (μ·cf_t)) + |q|·ln(μ / (len_d + μ))
    *
    * with μ = 2000, C = total corpus tokens, cf = collection frequency.
    * Disjunctive candidates (docs matching ≥1 term); an absent term's
    * smoothed contribution is exactly the length penalty (ln 1 = 0 tf
    * part), which every candidate pays |q| times. All log inputs are exact
    * integers, micro-quantized output like every scored contract here. */
  private def lmdTopK(s: SparkSession, dir: String, terms: Seq[String], k: Int,
                      mu: Long = 2000L): DataFrame = {
    val tfq = tfTable(s, dir).filter(col("term").isin(terms: _*))
    val pivoted = tfq.groupBy("doc_id")
      .agg(max(when(col("term") === terms.head, col("tf"))).as("tf0"),
        terms.tail.zipWithIndex.map { case (t, i) =>
          max(when(col("term") === t, col("tf"))).as(s"tf${i + 1}")
        }: _*)
    val cfs = tfq.agg(
      sum(when(col("term") === terms.head, col("tf"))).cast("long").as("cf0"),
      terms.tail.zipWithIndex.map { case (t, i) =>
        sum(when(col("term") === t, col("tf"))).cast("long").as(s"cf${i + 1}")
      }: _*)
    val len = lenTable(s, dir)
    val stats = len.agg(sum("len").cast("long").as("c_total"))
    val base = len.join(pivoted, "doc_id").crossJoin(cfs).crossJoin(stats)
    val tfPart = terms.indices.map { i =>
      when(col(s"tf$i").isNotNull,
        log(lit(1.0) + (col(s"tf$i") * col("c_total")).cast("double") /
          (lit(mu.toDouble) * col(s"cf$i")))).otherwise(lit(0.0))
    }.reduceLeft(_ + _)
    val lenPart = lit(terms.size.toDouble) *
      log(lit(mu.toDouble) / (col("len") + lit(mu)).cast("double"))
    val top = base.withColumn("score", tfPart + lenPart)
      .select(col("doc_id"), col("score"))
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)
    rankTopK(top, (b, a) =>
        col("b.score") > col("a.score") ||
          (col("b.score") === col("a.score") && col("b.doc_id") < col("a.doc_id")))
      .select(col("rank").cast("long").as("rank"), col("doc_id"),
        round(col("score") * 1e6).cast("long").as("score_micro"))
      .orderBy("rank")
  }

  /** Dictionary prefix expansion (P4): terms matching `prefix` with their
    * df, capped deterministically at `maxExpansion` by (df desc, term asc) —
    * the trie `equal_prefix_range` analog (reference dictionary is a
    * HAT-trie, `term_index.h:101-163`; the range op exists in the container
    * but the C++ engine never calls it). */
  private def prefixExpand(s: SparkSession, dir: String, prefix: String,
                           maxExpansion: Int): DataFrame =
    tfTable(s, dir)
      .filter(col("term").startsWith(prefix))
      .groupBy("term").agg(count(lit(1)).cast("long").as("df"))
      .orderBy(desc("df"), asc("term"))
      .limit(maxExpansion)

  /** Prefix BM25 top-k over a DYNAMIC term set (the expansion is part of the
    * plan, not a driver-side literal): each matched sub-term contributes its
    * idf-weighted lossy-BM25 partial. Unlike [[bm25TopK]]'s fixed-slot
    * expression tree, the per-doc sum here is a hash aggregation whose FP
    * accumulation order is partition-dependent — so for cross-engine
    * exactness the graded contract sums per-term MICRO-INTEGER contributions
    * (round(partial*1e6) per term, then an exact integer sum; order-free in
    * both engines). The engine path ([[graft.query.Searcher.searchPrefix]])
    * keeps full double precision. */
  private def bm25PrefixTopK(s: SparkSession, dir: String, prefix: String,
                             k: Int, maxExpansion: Int): DataFrame =
    bm25ExpandTopK(s, dir, prefixExpand(s, dir, prefix, maxExpansion), k)

  /** Fuzzy dictionary expansion (P5): dictionary terms within `maxDist`
    * Levenshtein edits of `term` — typo tolerance, same deterministic
    * (df desc, term asc) cap as [[prefixExpand]]. The length band is the
    * cheap pre-filter; `levenshtein(_,_,threshold)` early-exits above the
    * bound. Engine path: [[graft.query.Searcher.expandFuzzy]]. */
  /** SymSpell delete table over the dictionary, memoized per (session,
    * dir) — the p5/a5 fuzzy family shares one build, each probe is then a
    * bounded `del IN (...)` filter instead of a dictionary Levenshtein
    * scan ([[graft.index.FuzzyIndex]]). */
  private val fuzzyTableCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private def fuzzyTable(s: SparkSession, dir: String): DataFrame =
    fuzzyTableCache.getOrElseUpdate((s, dir),
      graft.index.FuzzyIndex.deleteTable(
        tfTable(s, dir).groupBy("term").agg(count(lit(1)).cast("long").as("df")),
        maxDist = 2).cache())

  private def fuzzyExpand(s: SparkSession, dir: String, term: String,
                          maxDist: Int, maxExpansion: Int): DataFrame = {
    require(maxDist <= 2, "graded fuzzy table is built at maxDist 2")
    graft.index.FuzzyIndex.probe(fuzzyTable(s, dir), term, maxDist)
      .orderBy(desc("df"), asc("term"))
      .limit(maxExpansion)
  }

  /** PII fixture: the synthetic corpus carries no PII, so the graded
    * contract injects deterministic addresses by doc_id — identically in
    * both engines — and the regex detection/redaction chain is what is
    * under test. */
  private def piiAugmented(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"), concat(
      col("text"),
      when(col("doc_id") % 3 === 0, concat(lit(" contact user"),
        col("doc_id").cast("string"), lit("@mail.example.com"))).otherwise(lit("")),
      when(col("doc_id") % 4 === 0, concat(lit(" from 10."),
        (col("doc_id") % 256).cast("string"), lit(".0.1"))).otherwise(lit("")),
      when(col("doc_id") % 5 === 0, concat(lit(" call +1-555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"))).otherwise(lit("")))
      .as("text"))

  /** Multi-line fixture for the line-level dedup/repetition operators: the
    * synthetic documents are single-line word streams, so (same pattern as
    * [[piiAugmented]]) this deterministically re-shapes each doc into
    * 8-token lines and injects the cross-document boilerplate a web corpus
    * carries — a license footer on every 3rd doc, a navigation header on
    * every 4th, and a WITHIN-doc repeat of the first line on every 5th.
    * Mirrored exactly by `LineAugSql` for the oracle. */
  private def lineAugmented(s: SparkSession, dir: String): DataFrame = {
    // tokens are STAGED into a column before the transform lambda: a column
    // expression referenced inside a HOF lambda re-evaluates per element
    // (the quadratic-per-doc trap), so `tk` must be materialized first
    val t = col("tk")
    // guard size=0: sequence(0, -1) would produce a DESCENDING range
    val lines = when(size(t) === 0, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(0), floor((size(t) - lit(1)) / lit(8)).cast("int")),
        i => concat_ws(" ", slice(t, i * lit(8) + lit(1), lit(8)))))
    val firstLine = concat_ws(" ", slice(t, 1, 8))
    docs(s, dir)
      .select(col("doc_id"), col("lang"), TextOps.wsTokens(col("text")).as("tk"))
      .select(col("doc_id"), col("lang"), concat(
        concat_ws("\n", lines),
        when(col("doc_id") % 5 === 0, concat(lit("\n"), firstLine)).otherwise(lit("")),
        when(col("doc_id") % 3 === 0,
          lit("\nall rights reserved standard license footer")).otherwise(lit("")),
        when(col("doc_id") % 4 === 0,
          lit("\nshared navigation header menu home")).otherwise(lit("")))
        .as("text"))
  }

  /** Wildcard (glob) dictionary expansion (P6): `*`/`?` pattern over the
    * dictionary, deterministic (df desc, term asc) cap. Engine path:
    * [[graft.query.Searcher.expandWildcard]] (prefix-pushed LIKE). */
  private def wildcardExpand(s: SparkSession, dir: String, pattern: String,
                             maxExpansion: Int): DataFrame =
    tfTable(s, dir)
      .groupBy("term").agg(count(lit(1)).cast("long").as("df"))
      .filter(col("term").like(graft.query.Searcher.wildcardToLike(pattern)))
      .orderBy(desc("df"), asc("term"))
      .limit(maxExpansion)

  /** Regex dictionary expansion (P7): FULL-match regex over the dictionary
    * (Lucene `RegexpQuery` is implicitly anchored; both engines anchor as
    * `^(?:p)$`), deterministic (df desc, term asc) cap. Pattern contract is
    * the Java∩RE2 common subset (classes, alternation, repetition — no
    * backreferences/lookaround), so Spark RLIKE and the DuckDB oracle's
    * `regexp_matches` agree exactly. Engine path:
    * [[graft.query.Searcher.expandRegex]] (literal-prefix-pushed RLIKE). */
  private def regexExpand(s: SparkSession, dir: String, pattern: String,
                          maxExpansion: Int): DataFrame =
    tfTable(s, dir)
      .groupBy("term").agg(count(lit(1)).cast("long").as("df"))
      .filter(col("term").rlike(s"^(?:$pattern)$$"))
      .orderBy(desc("df"), asc("term"))
      .limit(maxExpansion)

  /** Misspelled probes for the P8 spell-suggestion contract: three typos
    * of dictionary terms plus one exact term ('filter' — its own
    * distance-0 first suggestion) and one unfixable junk word. */
  private[graft] val SuggestProbes: Seq[String] =
    Seq("qurey", "jion", "tabel", "filter", "zzzzzz")

  /** Spell suggestion (P8, Lucene DirectSpellChecker analog): for each
    * probe, dictionary terms within 2 edits ranked (dist asc, df desc,
    * term asc), top 3. The distance-FIRST order is what distinguishes a
    * correction ranking from [[fuzzyExpand]]'s df-first rewrite order.
    * Engine path: [[graft.query.Searcher.suggest]]. */
  private def suggestQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dict = tfTable(s, dir)
      .groupBy("term").agg(count(lit(1)).cast("long").as("df"))
    val probes = SuggestProbes.toDF("probe")
    dict.join(broadcast(probes),
        abs(length(col("term")) - length(col("probe"))) <= 2 &&
          levenshtein(col("term"), col("probe"), 2) >= 0)
      .withColumn("dist", levenshtein(col("term"), col("probe")).cast("long"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("probe")
          .orderBy(asc("dist"), desc("df"), asc("term"))).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("probe"), col("rank"), col("term"), col("dist"), col("df"))
      .orderBy("probe", "rank")
  }

  /** Disjunctive micro-int BM25 over a dynamic (term, df) expansion —
    * shared by the prefix, fuzzy and more-like-this top-k contracts.
    * `excludeDocId` drops one doc from the candidates (MLT's source). */
  private def bm25ExpandTopK(s: SparkSession, dir: String,
                             expanded: DataFrame, k: Int,
                             excludeDocId: Option[Long] = None): DataFrame = {
    val tf = tfTable(s, dir)
    val len = lenTable(s, dir)
    val stats = len.agg(count(lit(1)).cast("long").as("n_docs"),
      sum("len").cast("long").as("sum_len"))
    val base0 = tf.join(broadcast(expanded), "term")
      .join(len, "doc_id").crossJoin(stats)
    val base = excludeDocId.map(d => base0.filter(col("doc_id") =!= d)).getOrElse(base0)
    val avg = col("sum_len").cast("double") / col("n_docs").cast("double")
    val lossy = lossyLen(col("len")).cast("double")
    val idf = log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val tfn = col("tf") * lit(2.2) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * lossy / avg))
    val scored = base
      .withColumn("pm", round(idf * tfn * 1e6).cast("long"))
      .groupBy("doc_id")
      .agg(sum("pm").as("score_micro"), count(lit(1)).cast("long").as("n_terms"))
    val top = scored
      .orderBy(desc("score_micro"), asc("doc_id"))
      .limit(k)
    rankTopK(top, (b, a) =>
        col("b.score_micro") > col("a.score_micro") ||
          (col("b.score_micro") === col("a.score_micro") && col("b.doc_id") < col("a.doc_id")))
      .select(col("rank").cast("long").as("rank"), col("doc_id"),
        col("n_terms"), col("score_micro"))
      .orderBy("rank")
  }

  // ---------- flagship ----------

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    bm25TopK(spark, "/root/testdata/sf0.001", Seq("spark", "query"), 10)

  // ---------- operator queries (keys reference SURVEY.md §2 ids) ----------

  /** Every graded query: its Spark side next to its DuckDB oracle. A
    * lazy val, because the oracle strings interpolate the SQL fragments
    * (`T`, `TF`, `LEN`, ...) declared further down this object. */
  lazy val graded: Seq[GradedQuery] = Seq(
    // S1: scan with filter+projection pushdown
    GradedQuery("s1_scan", (s, dir) => docs(s, dir)
      .filter(col("n_chars") > 100)
      .select(col("doc_id"), col("lang"), col("n_chars").cast("long").as("n_chars"))
      .orderBy("doc_id"),
      "SELECT doc_id, lang, n_chars::BIGINT n_chars FROM documents WHERE n_chars > 100 ORDER BY doc_id"),

    // S2/S3: tokenizer with positions
    GradedQuery("s2_tokenize_pos", (s, dir) => docs(s, dir)
      .filter(col("doc_id") < 50)
      .select(col("doc_id"), posexplode(toks))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("col").as("term"))
      .orderBy("doc_id", "pos"),
      s"""SELECT doc_id, i::BIGINT pos, t[i+1] term
         |FROM (SELECT doc_id, $T t FROM documents WHERE doc_id < 50), unnest(range(len(t))) u(i)
         |ORDER BY doc_id, pos""".stripMargin),

    // A1: term frequency per doc
    GradedQuery("a1_tf", (s, dir) => tfTable(s, dir).orderBy("doc_id", "term"),
      s"SELECT * FROM $TF ORDER BY doc_id, term"),

    // A3: df/cf term statistics — over the memoized (doc, term, tf) table,
    // where each (doc, term) appears once: df = row count, cf = Σtf. Same
    // result as exploding raw tokens, without countDistinct's Expand and
    // with the tf-table scan shared across the a1/a3/f5/j* query family.
    GradedQuery("a3_termstats", (s, dir) => tfTable(s, dir)
      .groupBy("term")
      .agg(count(lit(1)).cast("long").as("df"), sum("tf").cast("long").as("cf"))
      .orderBy("term"),
      s"""SELECT term, count(DISTINCT doc_id)::BIGINT df, count(*)::BIGINT cf
         |FROM (SELECT doc_id, unnest($T) term FROM documents) GROUP BY term ORDER BY term""".stripMargin),

    // TEXT analyzer (reference ES chain parity: possessive → english stop
    // → Porter): the analyzed token stream with ORIGINAL positions
    // (stopword gaps preserved — Lucene position increments)
    GradedQuery("text_stemmed", { (s, dir) =>
      import s.implicits._
      docs(s, dir).select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)]
        .flatMap { case (id, t) =>
          Tokenizer.tokenizeText(t).iterator.map(tok => (id, tok.position.toLong, tok.term))
        }
        .toDF("doc_id", "pos", "term")
        .filter(col("doc_id") < 50)
        .orderBy("doc_id", "pos")
    },
      s"""SELECT doc_id, pos, tok AS term FROM (${textStemmedSql(" WHERE doc_id < 50")})
         |ORDER BY doc_id, pos""".stripMargin),
    // A5 over the STEMMED index tables: the raw query "queries table" is
    // analyzed by the same chain, then scored conjunctively
    GradedQuery("a5_bm25_stemmed_topk", (s, dir) =>
      bm25TopK(s, dir, StemmedQueryTerms, 10,
        tfSrc = Some(textTfTable(s, dir)), lenSrc = Some(textLenTable(s, dir))),
      bm25Sql(StemmedQueryTerms, 10, tfSql = TextTF, lenSql = TextLEN,
        materialize = true)),

    // FOLDED chain (html_strip char filter + asciifolding,
    // `tokenize_wiki_linedoc.py:27-47`) over the accented/HTML fixture:
    // the analyzed stream with ORIGINAL positions (markup and entities
    // never consume a position; "café" and "cafe" index identically)
    GradedQuery("text_folded", { (s, dir) =>
      import s.implicits._
      foldAugmented(s, dir).select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)]
        .flatMap { case (id, t) =>
          Tokenizer.tokenizeText(Tokenizer.stripHtml(t), fold = true)
            .iterator.map(tok => (id, tok.position.toLong, tok.term))
        }
        .toDF("doc_id", "pos", "term")
        .filter(col("doc_id") < 50)
        .orderBy("doc_id", "pos")
    },
      s"""SELECT doc_id, pos, tok AS term FROM (${foldStemmedSql(" WHERE doc_id < 50")})
         |ORDER BY doc_id, pos""".stripMargin),
    // A5 over the FOLDED index tables: the raw HTML query folds to the
    // same ASCII terms the fixture's accented docs indexed under
    GradedQuery("a5_bm25_folded_topk", (s, dir) =>
      bm25TopK(s, dir, FoldedQueryTerms, 10,
        tfSrc = Some(foldTfTable(s, dir)), lenSrc = Some(foldLenTable(s, dir))),
      bm25Sql(FoldedQueryTerms, 10, tfSql = FoldTF, lenSql = FoldLEN,
        materialize = true)),

    // A4: doc lengths + global stats
    GradedQuery("a4_doclen", (s, dir) => lenTable(s, dir).orderBy("doc_id"),
      s"SELECT * FROM $LEN ORDER BY doc_id"),
    GradedQuery("a4_avg_len", (s, dir) => lenTable(s, dir)
      .agg(count(lit(1)).cast("long").as("n_docs"), sum("len").cast("long").as("sum_len"),
        round((sum("len").cast("double") / count(lit(1)).cast("double")) * lit(1e6))
          .cast("long").as("avg_len_micro")),
      s"""SELECT count(*)::BIGINT n_docs, sum(len)::BIGINT sum_len,
         | round((sum(len)::DOUBLE / count(*)::DOUBLE) * 1e6)::BIGINT avg_len_micro
         |FROM $LEN""".stripMargin),

    // F4: lossy 1-byte doc-length code
    GradedQuery("f4_lenbyte", (s, dir) => lenTable(s, dir)
      .select(col("doc_id"), col("len"), lossyLen(col("len")).cast("long").as("lossy_len"))
      .orderBy("doc_id"),
      s"SELECT doc_id, len, ${lossySql("len")}::BIGINT lossy_len FROM $LEN ORDER BY doc_id"),

    // F1: varint roundtrip invariant (encode∘decode = id over doc lengths)
    GradedQuery("f1_varint_roundtrip", { (s, dir) =>
      val rt = udf { len: Long =>
        Varint.decodeAll(Varint.encodeAll(Array(len.toInt)), 1)(0).toLong
      }
      lenTable(s, dir)
        .select(col("doc_id"), col("len"), rt(col("len")).as("roundtrip_len"))
        .orderBy("doc_id")
    },
      s"SELECT doc_id, len, len AS roundtrip_len FROM $LEN ORDER BY doc_id"),

    // F13: REAL LZ4 doc compression (chunked reference blob format via
    // lz4-java, already on Spark's classpath) — the oracle predicts the
    // chunk count from the byte length and verifies the roundtrip by
    // content hash, which only matches if compress∘decompress = id
    GradedQuery("f13_lz4_roundtrip", { (s, dir) =>
      import s.implicits._
      docs(s, dir).select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          val blob = graft.core.Lz4Doc.compress(text)
          val rt = graft.core.Lz4Doc.decompress(blob)
          (id, text.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong,
            graft.core.Lz4Doc.chunkCount(blob).toLong, graft.core.Sha256.hex(rt))
        }
        .toDF("doc_id", "n_bytes", "n_chunks", "roundtrip_sha")
        .orderBy("doc_id")
    },
      // chunk bound 16 KiB (doc_store.h:28); sha equality proves the real
      // LZ4 compress∘decompress roundtrip on the engine side
      s"""SELECT doc_id, octet_length(encode(text))::BIGINT n_bytes,
         | ((octet_length(encode(text)) + 16383) // 16384)::BIGINT n_chunks,
         | sha256(text) roundtrip_sha
         |FROM documents ORDER BY doc_id""".stripMargin),

    // F15: front-coded term-dictionary blocks (index.TermDict — the
    // columnar analog of the reference's prefix-compressed term trie,
    // term_index.h:101-141). Built over the 3-token shingle space (the
    // 31-term sf vocabulary would never exercise front coding); the graded
    // rows are decoded back from the REAL packed byte stream, so positions
    // and per-entry front-code lengths pin the layout itself.
    GradedQuery("f15_dict_frontcode", (s, dir) => graft.index.TermDict.decode(
      graft.index.TermDict.build(
        docs(s, dir).select(toks.as("t")) // stage tokens: HOF re-eval trap
          .select(explode(TextOps.shingles(col("t"), 3)).as("term")), "term"))
      .orderBy("bucket", "blk", "pos"),
      s"""WITH v AS (SELECT DISTINCT unnest($SHING) term FROM documents),
         | r AS (SELECT term, substr(term, 1, 2) bucket,
         |         row_number() OVER (PARTITION BY substr(term, 1, 2) ORDER BY term) - 1 rn
         |       FROM v),
         | p AS (SELECT *, lag(term) OVER (PARTITION BY bucket ORDER BY term) prev FROM r)
         |SELECT bucket, (rn // 16)::BIGINT blk, (rn % 16)::BIGINT pos, term,
         | (CASE WHEN rn % 16 = 0 THEN 0 ELSE
         |    len(list_filter(range(1, least(len(term), len(prev)) + 1),
         |        i -> substr(term, 1, i) = substr(prev, 1, i))) END)::BIGINT lcp_len
         |FROM p ORDER BY bucket, blk, pos""".stripMargin),

    // A2: posting-list build (term -> ascending doc ids; string-joined so
    // the cross-engine hash never depends on array-type canonicalization)
    GradedQuery("a2_postings", (s, dir) => tfTable(s, dir)
      .groupBy("term")
      .agg(concat_ws(",", sort_array(collect_list(col("doc_id")))).as("doc_ids"),
        count(lit(1)).cast("long").as("df"))
      .orderBy("term"),
      s"""SELECT term, array_to_string(array_agg(doc_id ORDER BY doc_id), ',') doc_ids,
         | count(*)::BIGINT df
         |FROM $TF GROUP BY term ORDER BY term""".stripMargin),

    // F2: delta-gap encoding of posting doc ids (first delta vs 0)
    GradedQuery("f2_delta_gap", (s, dir) => tfTable(s, dir)
      .withColumn("delta", col("doc_id") -
        coalesce(lag("doc_id", 1).over(Window.partitionBy("term").orderBy("doc_id")), lit(0L)))
      .select("term", "doc_id", "delta")
      .orderBy("term", "doc_id"),
      s"""SELECT term, doc_id,
         | (doc_id - coalesce(lag(doc_id) OVER (PARTITION BY term ORDER BY doc_id), 0))::BIGINT delta
         |FROM $TF ORDER BY term, doc_id""".stripMargin),

    // J3: 128-posting block/skip boundaries from the REAL encoder
    GradedQuery("j3_skip_blocks", { (s, dir) =>
      docBlocks(s, dir)
        .withColumn("block",
          (row_number().over(Window.partitionBy("term").orderBy("firstDocId")) - 1).cast("long"))
        .select(col("term"), col("block"),
          col("prevDocId").cast("long").as("prev_doc"),
          col("firstDocId").cast("long").as("first_doc"),
          col("lastDocId").cast("long").as("last_doc"),
          col("n").cast("long").as("n"))
        .orderBy("term", "block")
    },
      // Salted-shard block layout (saltTarget=256, mirrors IndexBuilder
      // .buildBlocks): a term with df > 256 is split into shards of
      // span = max(1, ceil(nDocs/ceil(df/256))) docIds; 128-posting blocks
      // are cut WITHIN each shard and each shard's delta chain seeds from 0
      // (prev_doc of a shard's first block = 0, lag(last_doc) inside the
      // shard otherwise). Unsalted terms are the single-shard special case.
      s"""WITH nd AS (SELECT count(*)::BIGINT n FROM documents),
         | stats AS (SELECT term, count(*)::BIGINT cnt FROM $TF GROUP BY term),
         | spans AS (SELECT term,
         |   CASE WHEN cnt > 256 THEN
         |     greatest(1, ((SELECT n FROM nd) + ((cnt + 255) // 256) - 1) // ((cnt + 255) // 256))
         |   ELSE NULL END span
         |  FROM stats),
         | sharded AS (SELECT t.term, t.doc_id, coalesce(t.doc_id // s.span, 0)::BIGINT shard
         |  FROM $TF t JOIN spans s ON t.term = s.term),
         | ranked AS (SELECT term, doc_id, shard,
         |  row_number() OVER (PARTITION BY term, shard ORDER BY doc_id) rn FROM sharded),
         | blocks AS (SELECT term, shard, ((rn - 1) // 128)::BIGINT blk,
         |  min(doc_id)::BIGINT first_doc, max(doc_id)::BIGINT last_doc, count(*)::BIGINT n
         |  FROM ranked GROUP BY term, shard, blk),
         | chained AS (SELECT term, shard, blk, first_doc, last_doc, n,
         |  coalesce(lag(last_doc) OVER (PARTITION BY term, shard ORDER BY blk), 0)::BIGINT prev_doc
         |  FROM blocks)
         |SELECT term,
         | (row_number() OVER (PARTITION BY term ORDER BY first_doc) - 1)::BIGINT block,
         | prev_doc, first_doc, last_doc, n
         |FROM chained ORDER BY term, block""".stripMargin),

    // S6/S7: block encode→decode roundtrip vs plain tf
    GradedQuery("s6_block_roundtrip", (s, dir) => decodedPostings(s, dir).orderBy("term", "doc_id"),
      s"SELECT term, doc_id, tf FROM $TF ORDER BY term, doc_id"),

    // P1: term lookup against the real index
    GradedQuery("p1_term_lookup", (s, dir) => decodedPostings(s, dir)
      .filter(col("term").isin("spark", "dup"))
      .orderBy("term", "doc_id"),
      s"SELECT term, doc_id, tf FROM $TF WHERE term IN ('spark','dup') ORDER BY term, doc_id"),

    // X1: index-aware acceleration (graft.plans.IndexSemiJoinRule) — the
    // naive corpus-scan shape `docs.filter(tokens contains term)` is
    // rewritten by the installed optimizer rule into a broadcast LEFT SEMI
    // join against the decoded posting list for the term, with the
    // non-indexable conjunct (`doc_id % 3 = 0`) kept as a residual filter.
    // The graded rows are the rewritten plan's output; PlansSpec asserts
    // the plan shape (LeftSemi + residual, no graft_match residue) and
    // rule-off parity.
    GradedQuery("x1_match_rewrite", { (s, dir) =>
      IndexRewrite.install(s)
      val key = s"docs:$dir"
      IndexCatalog.register(key, "doc_id", term =>
        decodedPostings(s, dir).filter(col("term") === term).select("doc_id"))
      docs(s, dir)
        .filter(IndexRewrite.graftMatch(key, col("text"), "window") &&
          col("doc_id") % 3 === 0)
        .select("doc_id").orderBy("doc_id")
    },
      s"""SELECT doc_id FROM documents
         |WHERE list_contains($T, 'window') AND doc_id % 3 = 0 ORDER BY doc_id""".stripMargin),

    // X5: substring index rewrite — graft_contains answered from the
    // TRIGRAM index: the rewrite's semi-join right side is the full
    // trigram pipeline (rarest-k posting intersection + exact contains
    // verification), so the corpus scan of the main query never evaluates
    // contains() at all; the mixed residual (doc_id % 2) stays a Filter.
    GradedQuery("x5_contains_rewrite", { (s, dir) =>
      IndexRewrite.install(s)
      val key = s"docs:$dir"
      IndexCatalog.register(key, "doc_id", term =>
        decodedPostings(s, dir).filter(col("term") === term).select("doc_id"),
        containsLookup = Some(needle => TrigramIndex.substringSearch(
          docs(s, dir), triBlocks(s, dir), triStatsFor(s, dir, needle), needle)))
      docs(s, dir)
        .filter(IndexRewrite.graftContains(key, col("text"), SubstringNeedle) &&
          col("doc_id") % 2 === 0)
        .select("doc_id").orderBy("doc_id")
    },
      s"""SELECT doc_id FROM documents
         |WHERE contains(text, '$SubstringNeedle') AND doc_id % 2 = 0 ORDER BY doc_id""".stripMargin),

    // X2: disjunctive index rewrite — OR over two graft_match conjuncts
    // becomes ONE semi-join against the UNIONED posting lists (duplicates
    // are harmless under LEFT SEMI, so the union never pays a distinct)
    GradedQuery("x2_match_or_rewrite", { (s, dir) =>
      IndexRewrite.install(s)
      val key = s"docs:$dir"
      IndexCatalog.register(key, "doc_id", term =>
        decodedPostings(s, dir).filter(col("term") === term).select("doc_id"))
      docs(s, dir)
        .filter(IndexRewrite.graftMatch(key, col("text"), "window") ||
          IndexRewrite.graftMatch(key, col("text"), "dup"))
        .select("doc_id").orderBy("doc_id")
    },
      s"""SELECT doc_id FROM documents
         |WHERE list_contains($T, 'window') OR list_contains($T, 'dup') ORDER BY doc_id""".stripMargin),

    // X4: negated index rewrite — NOT graft_match becomes a LEFT ANTI
    // join against the posting list, with an IsNotNull(text) residual so
    // null-text rows stay dropped exactly as scan-eval drops them
    GradedQuery("x4_match_not_rewrite", { (s, dir) =>
      IndexRewrite.install(s)
      val key = s"docs:$dir"
      IndexCatalog.register(key, "doc_id", term =>
        decodedPostings(s, dir).filter(col("term") === term).select("doc_id"))
      docs(s, dir)
        .filter(!IndexRewrite.graftMatch(key, col("text"), "window") &&
          col("doc_id") % 4 === 2)
        .select("doc_id").orderBy("doc_id")
    },
      s"""SELECT doc_id FROM documents
         |WHERE NOT list_contains($T, 'window') AND doc_id % 4 = 2 ORDER BY doc_id""".stripMargin),

    // X3: PHRASE predicate answered from the positional index — the
    // graft_phrase filter (scan semantics: adjacent in-order terms)
    // rewrites to a semi-join against the J4 phrase pipeline over the
    // real posting blocks (docIds + positions streams); at scale the
    // corpus text column is never read, let alone re-tokenized
    GradedQuery("x3_phrase_rewrite", { (s, dir) =>
      IndexRewrite.install(s)
      val key = s"docs:$dir"
      IndexCatalog.register(key, "doc_id",
        term => decodedPostings(s, dir).filter(col("term") === term).select("doc_id"),
        phraseLookup = Some(terms => phraseMatchedDocIds(s, dir, terms)))
      docs(s, dir)
        .filter(IndexRewrite.graftPhrase(key, col("text"), "table scan") &&
          col("doc_id") % 2 === 1)
        .select("doc_id").orderBy("doc_id")
    },
      s"""SELECT doc_id FROM (SELECT doc_id, $T t FROM documents)
         |WHERE len(list_filter(range(len(t)-1), i -> t[i+1] = 'table' AND t[i+2] = 'scan')) > 0
         |  AND doc_id % 2 = 1
         |ORDER BY doc_id""".stripMargin),

    // P2: conjunctive guard — missing term detection per query
    GradedQuery("p2_guard", { (s, dir) =>
      import s.implicits._
      val qs = Seq(("q_ok", "spark"), ("q_ok", "query"),
        ("q_missing", "spark"), ("q_missing", "zzz_absent"))
        .toDF("qid", "term")
      val present = docs(s, dir).select(explode(toks).as("term")).distinct()
      qs.join(present.withColumn("found", lit(1L)), Seq("term"), "left")
        .groupBy("qid")
        .agg(sum(coalesce(col("found"), lit(0L))).cast("long").as("n_found"),
          count(lit(1)).cast("long").as("n_terms"))
        .withColumn("all_present", (col("n_found") === col("n_terms")).cast("long"))
        .orderBy("qid")
    },
      s"""WITH qt AS (SELECT * FROM (VALUES ('q_ok','spark'),('q_ok','query'),
         |  ('q_missing','spark'),('q_missing','zzz_absent')) v(qid, term)),
         | present AS (SELECT DISTINCT unnest($T) term FROM documents)
         |SELECT qid,
         | sum(CASE WHEN term IN (SELECT term FROM present) THEN 1 ELSE 0 END)::BIGINT n_found,
         | count(*)::BIGINT n_terms,
         | (sum(CASE WHEN term IN (SELECT term FROM present) THEN 1 ELSE 0 END) = count(*))::BIGINT all_present
         |FROM qt GROUP BY qid ORDER BY qid""".stripMargin),

    // J1: two-term conjunctive intersection
    GradedQuery("j1_intersect2", { (s, dir) =>
      val tf = tfTable(s, dir)
      tf.filter(col("term") === "spark").select(col("doc_id"))
        .join(tf.filter(col("term") === "query").select(col("doc_id")), "doc_id")
        .orderBy("doc_id")
    },
      s"""SELECT a.doc_id FROM (SELECT doc_id FROM $TF WHERE term='spark') a
         |JOIN (SELECT doc_id FROM $TF WHERE term='query') b USING (doc_id) ORDER BY doc_id""".stripMargin),

    // A7: facet counts — matching-doc count per metadata value over ALL
    // docs matching the conjunction (the search-engine facet panel; index-
    // driven decode, then one join + partial-agg count). Engine path:
    // Searcher.facetCounts over the docstore's metadata columns.
    GradedQuery("a7_facet_counts", { (s, dir) =>
      conjMatchedDocs(s, dir, Seq("spark", "query"))
        .join(docs(s, dir).select(col("doc_id").cast("int").as("doc_id"), col("lang")), "doc_id")
        .groupBy("lang").agg(count(lit(1)).cast("long").as("n_docs"))
        .orderBy("lang")
    },
      s"""SELECT lang, count(*)::BIGINT n_docs FROM documents
         |WHERE doc_id IN (SELECT doc_id FROM $TF WHERE term IN ('spark','query')
         |                 GROUP BY doc_id HAVING count(DISTINCT term) = 2)
         |GROUP BY lang ORDER BY lang""".stripMargin),

    // A7: stats facet (the ES `stats` aggregation): count/min/max/sum and
    // integer-floored mean of a numeric metadata field over the SAME
    // index-driven matched set — one partial-aggregating pass, no sort
    GradedQuery("a7_stats_facet", (s, dir) =>
      conjMatchedDocs(s, dir, Seq("spark", "query"))
        .join(docs(s, dir).select(col("doc_id").cast("int").as("doc_id"),
          col("n_chars")), "doc_id")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          min("n_chars").cast("long").as("min_chars"),
          max("n_chars").cast("long").as("max_chars"),
          sum("n_chars").cast("long").as("sum_chars"),
          expr("sum(n_chars) div count(1)").cast("long").as("avg_chars_floor")),
      s"""SELECT count(*)::BIGINT n_docs, min(n_chars)::BIGINT min_chars,
         | max(n_chars)::BIGINT max_chars, sum(n_chars)::BIGINT sum_chars,
         | (sum(n_chars) // count(*))::BIGINT avg_chars_floor
         |FROM documents
         |WHERE doc_id IN (SELECT doc_id FROM $TF WHERE term IN ('spark','query')
         |                 GROUP BY doc_id HAVING count(DISTINCT term) = 2)""".stripMargin),

    // O5: metadata sort (ES `sort` by field instead of _score): matched
    // docs ordered by (n_chars desc, doc_id asc) — TakeOrderedAndProject,
    // per-partition bounded heaps, never a global sort
    GradedQuery("o5_sort_by_field", (s, dir) =>
      conjMatchedDocs(s, dir, Seq("window"))
        .join(docs(s, dir).select(col("doc_id").cast("int").as("doc_id"),
          col("n_chars")), "doc_id")
        .orderBy(desc("n_chars"), asc("doc_id")).limit(10)
        .select(col("doc_id").cast("long").as("doc_id"),
          col("n_chars").cast("long").as("n_chars")),
      s"""SELECT doc_id, n_chars::BIGINT n_chars FROM documents
         |WHERE doc_id IN (SELECT doc_id FROM $TF WHERE term = 'window')
         |ORDER BY n_chars DESC, doc_id LIMIT 10""".stripMargin),

    // A7: histogram facet (the ES `histogram` aggregation): matching-doc
    // counts per fixed-width numeric bucket — same matched set as
    // a7_facet_counts, bucketed on n_chars (width 500). Engine path:
    // Searcher.facetHistogram over any numeric docstore column.
    GradedQuery("a7_histogram_facet", { (s, dir) =>
      conjMatchedDocs(s, dir, Seq("spark", "query"))
        .join(docs(s, dir).select(col("doc_id").cast("int").as("doc_id"), col("n_chars")), "doc_id")
        .groupBy(floor(col("n_chars") / lit(500)).cast("long").as("bucket"))
        .agg(count(lit(1)).cast("long").as("n_docs"))
        .orderBy("bucket")
    },
      s"""SELECT (n_chars // 500)::BIGINT bucket, count(*)::BIGINT n_docs
         |FROM documents
         |WHERE doc_id IN (SELECT doc_id FROM $TF WHERE term IN ('spark','query')
         |                 GROUP BY doc_id HAVING count(DISTINCT term) = 2)
         |GROUP BY 1 ORDER BY 1""".stripMargin),

    // A7: top-hits per facet bucket (the ES `top_hits` sub-aggregation):
    // the 2 best-scoring docs of the conjunctive query WITHIN each lang
    // bucket — facet panel rows with example hits. Window partitioned by
    // the bucket (per-bucket rank, no global sort); same BM25 doubles as
    // a5_bm25_topk, micro-rounded per hit.
    GradedQuery("a7_top_hits", { (s, dir) =>
      val terms = Seq("spark", "query")
      val tfq = tfTable(s, dir).filter(col("term").isin(terms: _*))
      val pivoted = tfq.groupBy("doc_id")
        .agg(max(when(col("term") === terms.head, col("tf"))).as("tf0"),
          terms.tail.zipWithIndex.map { case (t, i) =>
            max(when(col("term") === t, col("tf"))).as(s"tf${i + 1}")
          }: _*)
        .filter(terms.indices.map(i => col(s"tf$i").isNotNull).reduce(_ && _))
      val dfsC = tfq.agg(
        count(when(col("term") === terms.head, lit(1))).cast("long").as("df0"),
        terms.tail.zipWithIndex.map { case (t, i) =>
          count(when(col("term") === t, lit(1))).cast("long").as(s"df${i + 1}")
        }: _*)
      val len = lenTable(s, dir)
      val stats = len.agg(count(lit(1)).cast("long").as("n_docs"),
        sum("len").cast("long").as("sum_len"))
      val base = len.join(pivoted, "doc_id").crossJoin(dfsC).crossJoin(stats)
      val avg = col("sum_len").cast("double") / col("n_docs").cast("double")
      val lossy = lossyLen(col("len")).cast("double")
      val score = terms.indices.map { i =>
        val idf = log(lit(1.0) + (col("n_docs") - col(s"df$i") + lit(0.5)) / (col(s"df$i") + lit(0.5)))
        val tfn = col(s"tf$i") * lit(2.2) /
          (col(s"tf$i") + lit(1.2) * (lit(0.25) + lit(0.75) * lossy / avg))
        idf * tfn
      }.reduceLeft(_ + _)
      base.withColumn("score", score)
        .join(docs(s, dir).select(col("doc_id"), col("lang")), "doc_id")
        .withColumn("hit_rank", row_number().over(
          Window.partitionBy("lang").orderBy(desc("score"), asc("doc_id"))))
        .filter(col("hit_rank") <= 2)
        .select(col("lang"), col("hit_rank").cast("long").as("hit_rank"),
          col("doc_id"), round(col("score") * 1e6).cast("long").as("score_micro"))
        .orderBy("lang", "hit_rank")
    }, {
      val terms = Seq("spark", "query")
      val joins = terms.zipWithIndex.map { case (t, i) =>
        s"JOIN (SELECT doc_id, tf AS tf$i FROM tf WHERE term = '$t') t$i USING (doc_id) " +
          s"CROSS JOIN (SELECT count(*)::BIGINT df$i FROM tf WHERE term = '$t') d$i"
      }.mkString(" ")
      val score = terms.indices.map { i =>
        s"(ln(1.0 + (n_docs - df$i + 0.5)/(df$i + 0.5)) * (tf$i * 2.2 / (tf$i + 1.2 * (0.25 + 0.75 * ${lossySql("len")} / (sum_len::DOUBLE / n_docs::DOUBLE)))))"
      }.mkString(" + ")
      s"""WITH tf AS (SELECT * FROM $TF), lens AS (SELECT * FROM $LEN),
         | stats AS (SELECT count(*)::BIGINT n_docs, sum(len)::BIGINT sum_len FROM lens),
         | base AS (SELECT * FROM lens CROSS JOIN stats $joins),
         | scored AS (SELECT doc_id, ($score) AS score FROM base),
         | ranked AS (SELECT d.lang, s.doc_id, s.score,
         |   row_number() OVER (PARTITION BY d.lang ORDER BY s.score DESC, s.doc_id) hit_rank
         |  FROM scored s JOIN documents d USING (doc_id))
         |SELECT lang, hit_rank::BIGINT hit_rank, doc_id,
         | round(score * 1e6)::BIGINT score_micro
         |FROM ranked WHERE hit_rank <= 2 ORDER BY lang, hit_rank""".stripMargin
    }),

    // significant terms (the ES significant_terms aggregation): terms
    // over-represented in the docs matching "spark" vs the corpus
    // background — lift = (fg_df/fg_n)/(bg_df/n_docs), micro-quantized from
    // exact integer products (all ≪ 2^53: one IEEE division, cross-engine
    // exact). Foreground doc set stays distributed (semi-join, never
    // collected); both df aggregations are word-count shaped.
    GradedQuery("a7_significant_terms", { (s, dir) =>
      val tf = tfTable(s, dir)
      val fgDocs = tf.filter(col("term") === "spark").select("doc_id").distinct()
      val fgN = fgDocs.agg(count(lit(1)).cast("long").as("fg_n"))
      val nDocs = docs(s, dir).agg(count(lit(1)).cast("long").as("n_docs"))
      val fgDf = tf.join(fgDocs, "doc_id")
        .groupBy("term").agg(count(lit(1)).cast("long").as("fg_df"))
      val bgDf = tf.groupBy("term").agg(count(lit(1)).cast("long").as("bg_df"))
      fgDf.filter(col("fg_df") >= 3)
        .join(bgDf, "term").crossJoin(fgN).crossJoin(nDocs)
        .select(col("term"), col("fg_df"), col("bg_df"),
          round((col("fg_df") * col("n_docs")).cast("double") * lit(1e6)
            / (col("fg_n") * col("bg_df")).cast("double")).cast("long").as("lift_micro"))
        .orderBy(desc("lift_micro"), asc("term"))
        .limit(15)
    },
      s"""WITH tf AS (SELECT * FROM $TF),
         | fg AS (SELECT DISTINCT doc_id FROM tf WHERE term = 'spark'),
         | fgn AS (SELECT count(*)::BIGINT fg_n FROM fg),
         | nd AS (SELECT count(*)::BIGINT n_docs FROM documents),
         | fgdf AS (SELECT term, count(*)::BIGINT fg_df FROM tf JOIN fg USING (doc_id) GROUP BY 1),
         | bg AS (SELECT term, count(*)::BIGINT bg_df FROM tf GROUP BY 1)
         |SELECT term, fg_df, bg_df,
         | round((fg_df * n_docs)::DOUBLE * 1e6 / (fg_n * bg_df)::DOUBLE)::BIGINT lift_micro
         |FROM fgdf JOIN bg USING (term) CROSS JOIN fgn CROSS JOIN nd
         |WHERE fg_df >= 3
         |ORDER BY lift_micro DESC, term LIMIT 15""".stripMargin),

    // J6: posting-list difference (NOT) — docs containing "spark" minus
    // docs containing "query"; the anti-join analog of J1's semi-join
    GradedQuery("j6_except", { (s, dir) =>
      val tf = tfTable(s, dir)
      tf.filter(col("term") === "spark").select(col("doc_id"))
        .join(tf.filter(col("term") === "query").select(col("doc_id")),
          Seq("doc_id"), "left_anti")
        .orderBy("doc_id")
    },
      s"""SELECT doc_id FROM (
         |  SELECT doc_id FROM $TF WHERE term = 'spark'
         |  EXCEPT
         |  SELECT doc_id FROM $TF WHERE term = 'query'
         |) ORDER BY doc_id""".stripMargin),

    // J2: k-way conjunctive intersection (3 terms)
    GradedQuery("j2_intersect3", { (s, dir) =>
      val tf = tfTable(s, dir)
      tf.filter(col("term").isin("spark", "query", "dup"))
        .groupBy("doc_id").agg(count(lit(1)).cast("long").as("n"))
        .filter(col("n") === 3).select("doc_id").orderBy("doc_id")
    },
      s"""SELECT doc_id FROM $TF WHERE term IN ('spark','query','dup')
         |GROUP BY doc_id HAVING count(*) = 3 ORDER BY doc_id""".stripMargin),

    // J4: phrase match driven by the positional index — decode positions for
    // the two query terms' blocks only, then adjusted-position intersection
    // per doc (`Kernel.phraseAt`, reference `query_processing.h:282-362`)
    GradedQuery("j4_phrase", (s, dir) =>
      phraseMatchedDocIds(s, dir, Seq("table", "scan")).orderBy("doc_id"),
      s"""SELECT doc_id FROM (SELECT doc_id, $T t FROM documents)
         |WHERE len(list_filter(range(len(t)-1), i -> t[i+1] = 'table' AND t[i+2] = 'scan')) > 0
         |ORDER BY doc_id""".stripMargin),

    // J4 at k=3: the k-way adjusted-position leapfrog
    // (`query_processing.h:335-362` iterates ALL slots, not a pair) on a
    // trigram whose members are individually hot — the 3-list intersection
    // and two adjacency constraints both prune, which a 2-term phrase
    // cannot distinguish from pairwise logic.
    GradedQuery("j4_phrase3", (s, dir) =>
      phraseMatchedDocIds(s, dir, Seq("part", "filter", "scan"))
        .orderBy("doc_id"),
      s"""SELECT doc_id FROM (SELECT doc_id, $T t FROM documents)
         |WHERE len(list_filter(range(len(t)-2),
         |  i -> t[i+1] = 'part' AND t[i+2] = 'filter' AND t[i+3] = 'scan')) > 0
         |ORDER BY doc_id""".stripMargin),

    // J7: ordered proximity (Lucene span-near / `"a b"~N`; absent in the
    // reference) — docs where 'table' precedes 'scan' within slop 3,
    // evaluated on decoded index positions like j4 but with the
    // minimal-chain window check. Engine path: Searcher.search(slop=3).
    GradedQuery("j7_proximity", { (s, dir) =>
      import s.implicits._
      val terms = Seq("table", "scan")
      val perTerm = docBlocks(s, dir)
        .filter(col("term").isin(terms: _*))
        .select("term", "prevDocId", "n", "docIds", "tfs", "positions")
        .as[(String, Int, Int, Array[Byte], Array[Byte], Array[Byte])]
        .flatMap { case (t, prev, n, ids, tfs, pos) =>
          val dt = PostingCodec.decodeDocIdTf(prev, n, ids, tfs)
          val ps = PostingCodec.decodePositions(n, pos)
          dt.iterator.zipWithIndex.map { case ((d, _), i) => (t, d, ps(i)) }
        }
      perTerm.groupByKey(_._2)
        .flatMapGroups { (docId, rows) =>
          val byTerm = rows.map(r => r._1 -> r._3).toMap
          if (terms.forall(byTerm.contains) &&
              Kernel.proximity(terms.map(byTerm).toArray, 3, new Array[Int](terms.size)))
            Iterator.single(docId.toLong)
          else Iterator.empty
        }
        .toDF("doc_id").orderBy("doc_id")
    },
      // ordered proximity: 'table' at 0-based pos i, 'scan' at j with
      // j - i in [1, 1+slop], slop = 3 (1-indexed list access ⇒ t[i+2..i+5])
      s"""SELECT doc_id FROM (SELECT doc_id, $T t FROM documents)
         |WHERE len(list_filter(range(len(t)), i -> t[i+1] = 'table' AND
         |  len(list_filter(range(i+2, i+6), j -> j <= len(t) AND t[j] = 'scan')) > 0)) > 0
         |ORDER BY doc_id""".stripMargin),

    // A5/O2/O3 + F5-F7: the flagship lossy-BM25 conjunctive top-k
    GradedQuery("a5_bm25_topk", (s, dir) => bm25TopK(s, dir, Seq("spark", "query"), 10),
      bm25Sql(Seq("spark", "query"), 10)),

    // Dirichlet query-likelihood top-k over the same query — the second
    // similarity (ranking differs from BM25: length normalization is a
    // global additive penalty, tf saturates against cf·μ/C not doc length)
    GradedQuery("a5_lmd_topk", (s, dir) => lmdTopK(s, dir, Seq("spark", "query"), 10), {
      val terms = Seq("spark", "query")
      val termList = terms.map(t => s"'$t'").mkString(",")
      val pvCols = terms.zipWithIndex.map { case (t, i) =>
        s"max(CASE WHEN term = '$t' THEN tf END) tf$i"
      }.mkString(", ")
      val cfCols = terms.zipWithIndex.map { case (t, i) =>
        s"sum(CASE WHEN term = '$t' THEN tf END)::BIGINT cf$i"
      }.mkString(", ")
      val tfParts = terms.indices.map { i =>
        s"(CASE WHEN tf$i IS NOT NULL THEN ln(1.0 + (tf$i * c_total)::DOUBLE / (2000.0 * cf$i)) ELSE 0.0 END)"
      }.mkString(" + ")
      val lenPart = s"(${terms.size}.0 * ln(2000.0 / (len + 2000)::DOUBLE))"
      s"""WITH tf AS (SELECT * FROM $TF), lens AS (SELECT * FROM $LEN),
         | stats AS (SELECT sum(len)::BIGINT c_total FROM lens),
         | pv AS (SELECT doc_id, $pvCols FROM tf WHERE term IN ($termList) GROUP BY doc_id),
         | cfs AS (SELECT $cfCols FROM tf WHERE term IN ($termList)),
         | scored AS (SELECT doc_id, (($tfParts) + $lenPart) AS score
         |   FROM lens JOIN pv USING (doc_id) CROSS JOIN cfs CROSS JOIN stats)
         |SELECT rank, doc_id, round(score * 1e6)::BIGINT score_micro FROM
         | (SELECT doc_id, score, row_number() OVER (ORDER BY score DESC, doc_id) rank FROM scored)
         |WHERE rank <= 10 ORDER BY rank""".stripMargin
    }),

    // Code-identifier subtoken split (camelCase/snake_case/acronym-run):
    // identifiers synthesized deterministically from each doc's first three
    // tokens (the punct() pattern — the corpus has no code idents, so both
    // engines derive the same ones), then the pinned two-regex analyzer
    // recovers the subtokens. The analyzer is what a code index applies at
    // index time so `bar` finds `fooBar`/`foo_bar`.
    GradedQuery("text_subtokens", { (s, dir) =>
      val staged = docs(s, dir).select(col("doc_id"), toks.as("t"))
        .filter(size(col("t")) >= 3)
      val ident = concat(
        element_at(col("t"), 1),
        expr("concat(upper(substring(element_at(t, 2), 1, 1)), substring(element_at(t, 2), 2))"),
        lit("_"),
        upper(element_at(col("t"), 3)))
      staged.select(col("doc_id"), ident.as("ident"))
        .select(col("doc_id"), col("ident"),
          array_join(graft.ops.TextOps.subtokensCol(col("ident")), " ").as("subs"))
        .orderBy("doc_id")
    },
      s"""WITH toks AS (SELECT doc_id, $T t FROM documents),
         | base AS (SELECT doc_id,
         |     t[1] || (upper(substr(t[2], 1, 1)) || substr(t[2], 2)) || '_' || upper(t[3]) AS ident
         |   FROM toks WHERE len(t) >= 3)
         |SELECT doc_id, ident,
         |  array_to_string(list_filter(regexp_split_to_array(lower(
         |    regexp_replace(regexp_replace(ident, '([A-Z]+)([A-Z][a-z])', '\\1 \\2', 'g'),
         |                   '([a-z0-9])([A-Z])', '\\1 \\2', 'g')), '[^a-z0-9]+'),
         |    x -> x <> ''), ' ') subs
         |FROM base ORDER BY doc_id""".stripMargin),
    // Lucene-style `explain`: per-term score decomposition (tf, df, idf,
    // tfNorm, contribution) for the top-1 doc of the flagship conjunctive
    // query — the introspection surface every search engine ships
    // (IndexSearcher.explain; the reference exposes doc_freqs in
    // SearchResult, types.h:341-345, but no per-term breakdown). All
    // components micro-quantized from the same doubles the scorer
    // multiplies, so the decomposition is consistent with a5_bm25_topk.
    // Resident-path equivalent: LocalService.explain (spec-asserted to sum
    // to the served score).
    GradedQuery("a5_explain", { (s, dir) =>
      val terms = Seq("spark", "query")
      val top1 = bm25TopK(s, dir, terms, 1).select("doc_id")
      val tfq = tfTable(s, dir).filter(col("term").isin(terms: _*))
      val dfT = tfq.groupBy("term").agg(count(lit(1)).cast("long").as("df"))
      val len = lenTable(s, dir)
      val stats = len.agg(count(lit(1)).cast("long").as("n_docs"),
        sum("len").cast("long").as("sum_len"))
      val avg = col("sum_len").cast("double") / col("n_docs").cast("double")
      val idf = log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
      val tfn = col("tf") * lit(2.2) /
        (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * lossyLen(col("len")).cast("double") / avg))
      tfq.join(top1, "doc_id").join(dfT, "term").join(len, "doc_id").crossJoin(stats)
        .select(col("term"), col("doc_id"), col("tf"), col("df"),
          col("n_docs"), col("len"),
          round(idf * 1e6).cast("long").as("idf_micro"),
          round(tfn * 1e6).cast("long").as("tfnorm_micro"),
          round((idf * tfn) * 1e6).cast("long").as("contrib_micro"))
        .orderBy("term")
    }, {
      // explain decomposition: rank-1 selection mirrors the a5_bm25_topk
      // oracle's scored ranking; the per-term component expressions are the
      // same doubles micro-rounded term by term
      val terms = Seq("spark", "query")
      val joins = terms.zipWithIndex.map { case (t, i) =>
        s"JOIN (SELECT doc_id, tf AS tf$i FROM tf WHERE term = '$t') t$i USING (doc_id) " +
          s"CROSS JOIN (SELECT count(*)::BIGINT df$i FROM tf WHERE term = '$t') d$i"
      }.mkString(" ")
      val score = terms.indices.map { i =>
        s"(ln(1.0 + (n_docs - df$i + 0.5)/(df$i + 0.5)) * (tf$i * 2.2 / (tf$i + 1.2 * (0.25 + 0.75 * ${lossySql("len")} / (sum_len::DOUBLE / n_docs::DOUBLE)))))"
      }.mkString(" + ")
      val idfSql = "ln(1.0 + (s.n_docs - d.df + 0.5)/(d.df + 0.5))"
      val tfnSql = s"(t.tf * 2.2 / (t.tf + 1.2 * (0.25 + 0.75 * ${lossySql("l.len")} / (s.sum_len::DOUBLE / s.n_docs::DOUBLE))))"
      s"""WITH tf AS (SELECT * FROM $TF), lens AS (SELECT * FROM $LEN),
         | stats AS (SELECT count(*)::BIGINT n_docs, sum(len)::BIGINT sum_len FROM lens),
         | base AS (SELECT * FROM lens CROSS JOIN stats $joins),
         | top1 AS (SELECT doc_id FROM
         |   (SELECT doc_id, row_number() OVER (ORDER BY ($score) DESC, doc_id) rank FROM base)
         |  WHERE rank = 1),
         | dfs AS (SELECT term, count(*)::BIGINT df FROM tf
         |  WHERE term IN (${terms.map(t => s"'$t'").mkString(",")}) GROUP BY term)
         |SELECT t.term, t.doc_id, t.tf, d.df, s.n_docs, l.len,
         | round($idfSql * 1e6)::BIGINT idf_micro,
         | round($tfnSql * 1e6)::BIGINT tfnorm_micro,
         | round(($idfSql * $tfnSql) * 1e6)::BIGINT contrib_micro
         |FROM tf t JOIN top1 USING (doc_id) JOIN dfs d USING (term)
         | JOIN lens l USING (doc_id) CROSS JOIN stats s
         |WHERE t.term IN (${terms.map(t => s"'$t'").mkString(",")})
         |ORDER BY term""".stripMargin
    }),
    GradedQuery("a5_bm25_topk3", (s, dir) => bm25TopK(s, dir, Seq("join", "hash", "dup"), 10),
      bm25Sql(Seq("join", "hash", "dup"), 10)),
    // query-time term boost (Lucene `term^B`): same conjunctive query as
    // a5_bm25_topk with the `query` slot weighted 2.5x — the boost
    // multiplies that slot's idf on every path (engine, serving, batch log)
    GradedQuery("a5_bm25_boost_topk", (s, dir) => bm25TopK(s, dir, Seq("spark", "query"), 10,
      boosts = Map("query" -> 2.5)),
      bm25Sql(Seq("spark", "query"), 10,
      boosts = Map("query" -> 2.5))),
    // nested boolean query — (spark AND query) OR (join AND hash AND NOT
    // dup) — with clause-aware Lucene scoring: only MATCHING clauses
    // contribute (engine path: graft.query.BoolQuery over the index)
    GradedQuery("a5_bool_topk", { (s, dir) =>
      val terms = Seq("spark", "query", "join", "hash", "dup")
      val tfq = tfTable(s, dir).filter(col("term").isin(terms: _*))
      val pivoted = tfq.groupBy("doc_id").agg(
        max(when(col("term") === terms.head, col("tf"))).as("tf0"),
        terms.tail.zipWithIndex.map { case (t, i) =>
          max(when(col("term") === t, col("tf"))).as(s"tf${i + 1}")
        }: _*)
      val m1 = col("tf0").isNotNull && col("tf1").isNotNull
      val m2 = col("tf2").isNotNull && col("tf3").isNotNull && col("tf4").isNull
      val dfs = tfq.agg(
        count(when(col("term") === terms.head, lit(1))).cast("long").as("df0"),
        terms.tail.zipWithIndex.map { case (t, i) =>
          count(when(col("term") === t, lit(1))).cast("long").as(s"df${i + 1}")
        }: _*)
      val len = lenTable(s, dir)
      val stats = len.agg(count(lit(1)).cast("long").as("n_docs"),
        sum("len").cast("long").as("sum_len"))
      val base = len.join(pivoted.filter(m1 || m2), "doc_id")
        .crossJoin(dfs).crossJoin(stats)
      val avg = col("sum_len").cast("double") / col("n_docs").cast("double")
      val lossy = lossyLen(col("len")).cast("double")
      def part(i: Int) = {
        val idf = log(lit(1.0) +
          (col("n_docs") - col(s"df$i") + lit(0.5)) / (col(s"df$i") + lit(0.5)))
        idf * (col(s"tf$i") * lit(2.2) /
          (col(s"tf$i") + lit(1.2) * (lit(0.25) + lit(0.75) * lossy / avg)))
      }
      val score = when(m1, part(0) + part(1)).otherwise(lit(0.0)) +
        when(m2, part(2) + part(3)).otherwise(lit(0.0))
      val top = base.withColumn("score", score).select(col("doc_id"), col("score"))
        .orderBy(desc("score"), asc("doc_id")).limit(10)
      rankTopK(top, (b, a) => col("b.score") > col("a.score") ||
          (col("b.score") === col("a.score") && col("b.doc_id") < col("a.doc_id")))
        .select(col("rank").cast("long").as("rank"), col("doc_id"),
          round(col("score") * 1e6).cast("long").as("score_micro"))
        .orderBy("rank")
    }, {
      val terms = Seq("spark", "query", "join", "hash", "dup")
      val termList = terms.map(t => s"'$t'").mkString(",")
      val pvCols = terms.zipWithIndex.map { case (t, i) =>
        s"max(CASE WHEN term = '$t' THEN tf END) tf$i"
      }.mkString(", ")
      val dfCols = terms.zipWithIndex.map { case (t, i) =>
        s"count(CASE WHEN term = '$t' THEN 1 END)::BIGINT df$i"
      }.mkString(", ")
      def part(i: Int) =
        s"(ln(1.0 + (n_docs - df$i + 0.5)/(df$i + 0.5)) * (tf$i * 2.2 / (tf$i + 1.2 * (0.25 + 0.75 * ${lossySql("len")} / (sum_len::DOUBLE / n_docs::DOUBLE)))))"
      val m1 = "tf0 IS NOT NULL AND tf1 IS NOT NULL"
      val m2 = "tf2 IS NOT NULL AND tf3 IS NOT NULL AND tf4 IS NULL"
      val score = s"(CASE WHEN $m1 THEN ${part(0)} + ${part(1)} ELSE 0.0 END) + " +
        s"(CASE WHEN $m2 THEN ${part(2)} + ${part(3)} ELSE 0.0 END)"
      s"""WITH tf AS (SELECT * FROM $TF), lens AS (SELECT * FROM $LEN),
         | stats AS (SELECT count(*)::BIGINT n_docs, sum(len)::BIGINT sum_len FROM lens),
         | pv AS (SELECT doc_id, $pvCols FROM tf WHERE term IN ($termList) GROUP BY doc_id),
         | dfs AS (SELECT $dfCols FROM tf WHERE term IN ($termList)),
         | base AS (SELECT * FROM lens JOIN pv USING (doc_id) CROSS JOIN stats CROSS JOIN dfs
         |          WHERE ($m1) OR ($m2)),
         | scored AS (SELECT doc_id, ($score) AS score FROM base)
         |SELECT rank, doc_id, round(score * 1e6)::BIGINT score_micro FROM
         | (SELECT doc_id, score, row_number() OVER (ORDER BY score DESC, doc_id) rank FROM scored)
         |WHERE rank <= 10 ORDER BY rank""".stripMargin
    }),

    // BM25F fielded scoring: title (first 8 tokens, weight 2) + body
    GradedQuery("a5_bm25f_topk", (s, dir) => bm25fTopK(s, dir, Seq("spark", "query"), 10), {
      val terms = Seq("spark", "query")
      val joins = terms.zipWithIndex.map { case (t, i) =>
        s"JOIN (SELECT doc_id, tff AS tf$i FROM tf WHERE term = '$t') t$i USING (doc_id) " +
          s"CROSS JOIN (SELECT count(*)::BIGINT df$i FROM tf WHERE term = '$t') d$i"
      }.mkString(" ")
      val score = terms.indices.map { i =>
        s"(ln(1.0 + (n_docs - df$i + 0.5)/(df$i + 0.5)) * (tf$i * 2.2 / (tf$i + 1.2 * (0.25 + 0.75 * lenf::DOUBLE / (sum_len::DOUBLE / n_docs::DOUBLE)))))"
      }.mkString(" + ")
      s"""WITH tkb AS (SELECT doc_id, $T tk FROM documents),
         | fields AS (SELECT doc_id, tk[1:8] title,
         |   CASE WHEN len(tk) <= 8 THEN []::VARCHAR[] ELSE tk[9:] END body, len(tk) n FROM tkb),
         | lens AS (SELECT doc_id, (n + least(n, 8))::BIGINT lenf FROM fields),
         | tft AS (SELECT doc_id, term, count(*)::BIGINT c FROM (SELECT doc_id, unnest(title) term FROM fields) GROUP BY 1, 2),
         | tfb AS (SELECT doc_id, term, count(*)::BIGINT c FROM (SELECT doc_id, unnest(body) term FROM fields) GROUP BY 1, 2),
         | tf AS (SELECT coalesce(a.doc_id, b.doc_id) doc_id, coalesce(a.term, b.term) term,
         |   (2 * coalesce(a.c, 0) + coalesce(b.c, 0))::BIGINT tff
         |   FROM tft a FULL OUTER JOIN tfb b ON a.doc_id = b.doc_id AND a.term = b.term),
         | stats AS (SELECT count(*)::BIGINT n_docs, sum(lenf)::BIGINT sum_len FROM lens),
         | base AS (SELECT * FROM lens CROSS JOIN stats $joins),
         | scored AS (SELECT doc_id, ($score) AS score FROM base)
         |SELECT rank, doc_id, round(score * 1e6)::BIGINT score_micro FROM
         | (SELECT doc_id, score, row_number() OVER (ORDER BY score DESC, doc_id) rank FROM scored)
         |WHERE rank <= 10 ORDER BY rank""".stripMargin
    }),
    // synonym-group scoring (Lucene SynonymQuery): blended tf/df per group
    GradedQuery("a5_bm25_syn_topk", (s, dir) => bm25SynTopK(s, dir, SynGroups, 10), {
      val groups = SynGroups
      def inList(ms: Seq[String]) = ms.map(m => s"'$m'").mkString(",")
      val gCtes = groups.zipWithIndex.map { case (ms, i) =>
        s"g$i AS (SELECT doc_id, sum(tf)::BIGINT tf$i FROM tf WHERE term IN (${inList(ms)}) GROUP BY doc_id), " +
          s"d$i AS (SELECT count(*)::BIGINT df$i FROM (SELECT DISTINCT doc_id FROM tf WHERE term IN (${inList(ms)})))"
      }.mkString(", ")
      val joins = groups.indices.map(i => s"JOIN g$i USING (doc_id) CROSS JOIN d$i").mkString(" ")
      val score = groups.indices.map { i =>
        s"(ln(1.0 + (n_docs - df$i + 0.5)/(df$i + 0.5)) * (tf$i * 2.2 / (tf$i + 1.2 * (0.25 + 0.75 * ${lossySql("len")} / (sum_len::DOUBLE / n_docs::DOUBLE)))))"
      }.mkString(" + ")
      s"""WITH tf AS (SELECT * FROM $TF), lens AS (SELECT * FROM $LEN),
         | stats AS (SELECT count(*)::BIGINT n_docs, sum(len)::BIGINT sum_len FROM lens),
         | $gCtes,
         | base AS (SELECT * FROM lens CROSS JOIN stats $joins),
         | scored AS (SELECT doc_id, ($score) AS score FROM base)
         |SELECT rank, doc_id, round(score * 1e6)::BIGINT score_micro FROM
         | (SELECT doc_id, score, row_number() OVER (ORDER BY score DESC, doc_id) rank FROM scored)
         |WHERE rank <= 10 ORDER BY rank""".stripMargin
    }),
    // disjunctive (OR) top-k — declared by the reference (types.h:70
    // SearchOperator::OR) but never implemented there; completed here
    GradedQuery("a5_bm25_or_topk", (s, dir) => bm25TopK(s, dir, Seq("spark", "query"), 10,
      conjunctive = false),
      bm25OrSql(Seq("spark", "query"), 10)),
    // minimum_should_match (Lucene's msm knob, the dial between OR and
    // AND): docs matching at least 2 of the 3 terms, matching slots score,
    // absent slots contribute exactly 0.0
    GradedQuery("a5_bm25_msm_topk", (s, dir) => bm25TopK(s, dir, Seq("spark", "query", "join"), 10,
      conjunctive = false, minShouldMatch = 2),
      bm25OrSql(Seq("spark", "query", "join"), 10, minShouldMatch = 2)),
    // filtered search: BM25 top-k restricted to a metadata predicate
    // (candidate filter; corpus-global stats — scores identical to the
    // unfiltered query, standard filter-query semantics)
    GradedQuery("a5_bm25_filtered_topk", (s, dir) => bm25TopK(s, dir, Seq("spark", "query"), 10,
      eligible = Some(docs(s, dir).filter(col("lang") === "de").select("doc_id"))),
      bm25Sql(Seq("spark", "query"), 10,
      filterWhere = Some("lang = 'de'"))),
    // NOT operator (Lucene MUST_NOT): conjunctive match minus docs
    // containing the excluded term; completes the Boolean family (AND done
    // by the reference, OR declared-only, NOT absent)
    GradedQuery("a5_bm25_not_topk", (s, dir) => bm25TopK(s, dir, Seq("spark", "query"), 10,
      excludeTerms = Seq("dup")),
      bm25Sql(Seq("spark", "query"), 10,
      excludeTerms = Seq("dup"))),
    // Delete tombstones (Lucene live-docs semantics, engine path:
    // graft.index.Tombstones + Searcher/LocalService anti-joins): deleted
    // docs (here doc_id % 7 = 0) leave the candidate set, but N/avgdl/df
    // stay PRE-delete until compaction — surviving docs' scores are
    // unchanged, which is exactly the filtered-candidate contract below
    GradedQuery("a5_bm25_delete_topk", (s, dir) => bm25TopK(s, dir, Seq("spark", "query"), 10,
      eligible = Some(docs(s, dir).filter(col("doc_id") % 7 =!= 0).select("doc_id"))),
      bm25Sql(Seq("spark", "query"), 10,
      filterWhere = Some("doc_id % 7 <> 0"))),

    // P4: dictionary prefix probe (trie equal_prefix_range analog) — cap 4
    // of the 6 's'-terms makes the deterministic (df desc, term asc) cap
    // rule itself oracle-visible
    GradedQuery("p4_prefix_expand", (s, dir) => prefixExpand(s, dir, "s", 4)
      .orderBy(desc("df"), asc("term")),
      s"""SELECT term, count(*)::BIGINT df FROM $TF tf WHERE term LIKE 's%'
         |GROUP BY term ORDER BY df DESC, term LIMIT 4""".stripMargin),
    // A5 over a dynamic prefix expansion (disjunctive, micro-int contract)
    GradedQuery("a5_bm25_prefix_topk", (s, dir) => bm25PrefixTopK(s, dir, "s", 10, 4),
      bm25PrefixSql("s", 10, 4)),

    // A8: more-like-this — top tf·idf terms of source doc 7 (micro-int
    // importance, term-asc ties) run disjunctively, source excluded.
    // Engine path: Searcher.moreLikeThis.
    GradedQuery("a8_more_like_this", { (s, dir) =>
      val tf = tfTable(s, dir)
      val len = lenTable(s, dir)
      val stats = len.agg(count(lit(1)).cast("long").as("n_docs"))
      val dfs = tf.groupBy("term").agg(count(lit(1)).cast("long").as("df"))
      val topTerms = tf.filter(col("doc_id") === 7)
        .select(col("term"), col("tf").as("stf"))
        .join(dfs, "term").crossJoin(stats)
        .withColumn("imp", round(col("stf") *
          log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) * 1e6)
          .cast("long"))
        .orderBy(desc("imp"), asc("term")).limit(8)
        .select("term", "df")
      bm25ExpandTopK(s, dir, topTerms, 10, excludeDocId = Some(7L))
    },
      bm25ExpandSqlFrom(
        s"""SELECT s.term, d.df FROM (SELECT term, tf FROM tf WHERE doc_id = 7) s
           |   JOIN (SELECT term, count(*)::BIGINT df FROM tf GROUP BY term) d USING (term)
           |   CROSS JOIN stats
           |   ORDER BY round(s.tf * ln(1.0 + (n_docs - d.df + 0.5)/(d.df + 0.5)) * 1e6) DESC, s.term
           |   LIMIT 8""".stripMargin,
        10, excludeDoc = Some(7L))),

    // P6: wildcard dictionary probe — glob s*a* matches {scan, small,
    // spark, stream}; cap 3 makes the deterministic (df desc, term asc)
    // cap rule oracle-visible (drops the lowest-df match)
    GradedQuery("p6_wildcard_expand", (s, dir) => wildcardExpand(s, dir, "s*a*", 3)
      .orderBy(desc("df"), asc("term")),
      s"""SELECT term, count(*)::BIGINT df FROM $TF tf
         |WHERE term LIKE 's%a%' ESCAPE '\\'
         |GROUP BY term ORDER BY df DESC, term LIMIT 3""".stripMargin),
    // A5 over the wildcard expansion (disjunctive, micro-int contract)
    GradedQuery("a5_bm25_wildcard_topk", (s, dir) =>
      bm25ExpandTopK(s, dir, wildcardExpand(s, dir, "s*a*", 16), 10),
      bm25ExpandSql("term LIKE 's%a%' ESCAPE '\\'", 10, 16)),

    // P8: spell suggestion — distance-first dictionary correction ranking
    GradedQuery("p8_suggest", (s, dir) => suggestQuery(s, dir), {
      val vals = SuggestProbes.map(p => s"('$p')").mkString(",")
      s"""WITH dict AS (SELECT term, count(*)::BIGINT df FROM $TF GROUP BY term),
         | probes AS (SELECT * FROM (VALUES $vals) p(probe)),
         | cand AS (SELECT probe, term, levenshtein(term, probe)::BIGINT dist, df
         |          FROM dict JOIN probes ON abs(length(term) - length(probe)) <= 2
         |                                AND levenshtein(term, probe) <= 2),
         | ranked AS (SELECT *, row_number() OVER (PARTITION BY probe
         |            ORDER BY dist, df DESC, term) rank FROM cand)
         |SELECT probe, rank::BIGINT rank, term, dist, df FROM ranked
         |WHERE rank <= 3 ORDER BY probe, rank""".stripMargin
    }),

    // O4: deep paging — page 2 (ranks 11..20) of the flagship ranking.
    // Engine path: Searcher.searchAfter / LocalService.searchAfter (a
    // search_after cursor on the bitwise-deterministic (score, docId)
    // total order — no offset materialization; spec-asserted to stitch
    // into the full ranking). The graded contract checks the ranking
    // itself is exact at depth.
    GradedQuery("o4_search_after", (s, dir) =>
      bm25TopK(s, dir, Seq("spark", "query"), 20)
        .filter(col("rank") > 10).orderBy("rank"),
      s"""SELECT rank, doc_id, score_micro FROM (
         |${bm25Sql(Seq("spark", "query"), 20)}
         |) page WHERE rank > 10 ORDER BY rank""".stripMargin),

    // P7: anchored regex dictionary expansion (Lucene RegexpQuery analog)
    GradedQuery("p7_regex_expand", (s, dir) => regexExpand(s, dir, "s[a-z]*a[a-z]*", 3)
      .orderBy(desc("df"), asc("term")),
      s"""SELECT term, count(*)::BIGINT df FROM $TF tf
         |WHERE regexp_matches(term, '^(?:s[a-z]*a[a-z]*)$$')
         |GROUP BY term ORDER BY df DESC, term LIMIT 3""".stripMargin),
    // A5 over the regex expansion (disjunctive, micro-int contract)
    GradedQuery("a5_bm25_regex_topk", (s, dir) =>
      bm25ExpandTopK(s, dir, regexExpand(s, dir, "s[a-z]*a[a-z]*", 16), 10),
      bm25ExpandSql("regexp_matches(term, '^(?:s[a-z]*a[a-z]*)$')", 10, 16)),

    // P9: exact substring search via the character-trigram index
    // (Google-Code-Search shape: trigram AND-intersection prunes
    // 500 → ~230 candidates here, contains() verifies ~230 → ~27). The
    // candidate set itself is graded (rows), and `hit` grades the verify.
    GradedQuery("p9_substring", (s, dir) =>
      triCandidatesWithFlag(s, dir, TrigramIndex.trigramsOf(SubstringNeedle).toSeq,
        col("text").contains(SubstringNeedle)),
      // P9/P10: trigram-index candidate set (docs containing every required
      // trigram — exactly the posting intersection) + exact verification flag
      s"""SELECT doc_id, (CASE WHEN contains(text, '$SubstringNeedle')
         |  THEN 1 ELSE 0 END)::BIGINT hit
         |FROM documents
         |WHERE ${triCandSql(TrigramIndex.trigramsOf(SubstringNeedle).toSeq)}
         |ORDER BY doc_id""".stripMargin),

    // P10: regex search via required-trigram extraction from the pattern's
    // literal fragments ("slow ", " table"), rlike-verified on candidates.
    GradedQuery("p10_regex_trigram", (s, dir) =>
      triCandidatesWithFlag(s, dir, TrigramIndex.regexLiteralTrigrams(RegexNeedle),
        col("text").rlike(RegexNeedle)),
      s"""SELECT doc_id, (CASE WHEN regexp_matches(text, '$RegexNeedle')
         |  THEN 1 ELSE 0 END)::BIGINT hit
         |FROM documents
         |WHERE ${triCandSql(TrigramIndex.regexLiteralTrigrams(RegexNeedle))}
         |ORDER BY doc_id""".stripMargin),

    // P11: grep — per-LINE substring hits (doc, 0-based line number, line)
    // over the multi-line fixture; the code-search result shape. Engine
    // path: Engine.grep (line extraction only on trigram candidates).
    GradedQuery("p11_grep_lines", (s, dir) =>
      lineAugmented(s, dir)
        .select(col("doc_id"),
          posexplode(split(col("text"), "\n")).as(Seq("line_no", "line")))
        .filter(col("line").contains("license footer"))
        .select(col("doc_id"), col("line_no").cast("long").as("line_no"), col("line"))
        .orderBy("doc_id", "line_no"),
      s"""WITH aug AS ($LineAugSql),
         | ls AS (SELECT doc_id, str_split(text, chr(10)) l FROM aug)
         |SELECT doc_id, i::BIGINT line_no, l[i+1] AS line
         |FROM ls, UNNEST(range(len(l))) r(i)
         |WHERE contains(l[i+1], 'license footer')
         |ORDER BY doc_id, line_no""".stripMargin),

    // P5: fuzzy dictionary probe — terms within 2 edits of the typo "par"
    // ({part:1, spark:2, a:2} in the synthetic vocabulary), df-desc cap
    GradedQuery("p5_fuzzy_expand", (s, dir) => fuzzyExpand(s, dir, "par", 2, 16)
      .orderBy(desc("df"), asc("term")),
      s"""SELECT term, count(*)::BIGINT df FROM $TF tf
         |WHERE abs(length(term) - 3) <= 2 AND levenshtein(term, 'par') <= 2
         |GROUP BY term ORDER BY df DESC, term LIMIT 16""".stripMargin),
    // A5 over the fuzzy expansion (disjunctive, micro-int contract)
    GradedQuery("a5_bm25_fuzzy_topk", (s, dir) =>
      bm25ExpandTopK(s, dir, fuzzyExpand(s, dir, "par", 2, 16), 10),
      bm25ExpandSql("abs(length(term) - 3) <= 2 AND levenshtein(term, 'par') <= 2", 10, 16)),

    // F5: idf per term (micro)
    GradedQuery("f5_idf", { (s, dir) =>
      val tf = tfTable(s, dir)
      val n = lenTable(s, dir).agg(count(lit(1)).cast("long").as("n_docs"))
      tf.groupBy("term").agg(count(lit(1)).cast("long").as("df"))
        .crossJoin(n)
        .select(col("term"), col("df"),
          round(log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) * 1e6)
            .cast("long").as("idf_micro"))
        .orderBy("term")
    },
      s"""WITH tf AS (SELECT * FROM $TF),
         | n AS (SELECT count(*)::BIGINT n_docs FROM documents)
         |SELECT term, count(*)::BIGINT df,
         | round(ln(1.0 + ((SELECT n_docs FROM n) - count(*) + 0.5)/(count(*) + 0.5)) * 1e6)::BIGINT idf_micro
         |FROM tf GROUP BY term ORDER BY term""".stripMargin),

    // O2: generic windowed top-k (top-3 docs by token count per lang)
    GradedQuery("o2_topk_window", { (s, dir) =>
      val base = docs(s, dir).select(col("doc_id"), col("lang"), size(toks).cast("long").as("n_tokens"))
      base.withColumn("rank", row_number()
          .over(Window.partitionBy("lang").orderBy(desc("n_tokens"), asc("doc_id"))).cast("long"))
        .filter(col("rank") <= 3)
        .orderBy("lang", "rank")
    },
      s"""SELECT doc_id, lang, n_tokens, rank FROM
         | (SELECT doc_id, lang, len($T)::BIGINT n_tokens,
         |   row_number() OVER (PARTITION BY lang ORDER BY len($T) DESC, doc_id)::BIGINT rank
         |  FROM documents)
         |WHERE rank <= 3 ORDER BY lang, rank""".stripMargin),

    // S8: doc store + sha256 row invariant
    GradedQuery("s8_docstore_sha", (s, dir) => docs(s, dir)
      .select(col("doc_id"), sha2(col("text"), 256).as("sha"))
      .orderBy("doc_id"),
      "SELECT doc_id, sha256(text) sha FROM documents ORDER BY doc_id"),

    // O1: docId-order invariant, checked on the REAL decoded blocks — the
    // oracle pins n_violations to 0 and ties the row to data via df
    GradedQuery("o1_docid_order", { (s, dir) =>
      import s.implicits._
      docBlocks(s, dir)
        .select("term", "prevDocId", "n", "docIds", "tfs")
        .as[(String, Int, Int, Array[Byte], Array[Byte])]
        .map { case (t, prev, n, ids, tfs) =>
          val dt = PostingCodec.decodeDocIdTf(prev, n, ids, tfs)
          var bad = 0L
          var i = 1
          while (i < dt.length) { if (dt(i)._1 <= dt(i - 1)._1) bad += 1; i += 1 }
          if (dt.nonEmpty && prev > 0 && dt(0)._1 <= prev) bad += 1
          (t, dt.length.toLong, bad)
        }
        .groupByKey(_._1)
        .mapGroups { (t, rows) =>
          val rs = rows.toArray
          (t, rs.map(_._2).sum, rs.map(_._3).sum)
        }
        .toDF("term", "df", "n_violations")
        .orderBy("term")
    },
      s"""SELECT term, count(*)::BIGINT df, 0::BIGINT n_violations
         |FROM $TF GROUP BY term ORDER BY term""".stripMargin),

    // P3: lazy projection — decode (docId, tf) reading ONLY the scoring
    // columns of the block store (positions/offsets never touched); the
    // oracle checks block count and df per term
    GradedQuery("p3_lazy_cols", { (s, dir) =>
      import s.implicits._
      docBlocks(s, dir)
        .select("term", "prevDocId", "n", "docIds", "tfs")
        .as[(String, Int, Int, Array[Byte], Array[Byte])]
        .map { case (t, prev, n, ids, tfs) =>
          (t, 1L, PostingCodec.decodeDocIdTf(prev, n, ids, tfs).length.toLong)
        }
        .groupByKey(_._1)
        .mapGroups((t, rows) => { val rs = rows.toArray; (t, rs.map(_._2).sum, rs.map(_._3).sum) })
        .toDF("term", "n_blocks", "df")
        .orderBy("term")
    },
      // blocks are cut per salted shard (see j3_skip_blocks): n_blocks is the
      // sum over shards of ceil(shard postings / 128)
      s"""WITH nd AS (SELECT count(*)::BIGINT n FROM documents),
         | stats AS (SELECT term, count(*)::BIGINT cnt FROM $TF GROUP BY term),
         | spans AS (SELECT term,
         |   CASE WHEN cnt > 256 THEN
         |     greatest(1, ((SELECT n FROM nd) + ((cnt + 255) // 256) - 1) // ((cnt + 255) // 256))
         |   ELSE NULL END span
         |  FROM stats),
         | per_shard AS (SELECT t.term, coalesce(t.doc_id // s.span, 0)::BIGINT shard,
         |   count(*)::BIGINT c
         |  FROM $TF t JOIN spans s ON t.term = s.term GROUP BY t.term, shard)
         |SELECT term, sum((c + 127) // 128)::BIGINT n_blocks, sum(c)::BIGINT df
         |FROM per_shard GROUP BY term ORDER BY term""".stripMargin),

    // F10: token offsets [start, end) from the engine tokenizer
    GradedQuery("f10_offsets", { (s, dir) =>
      import s.implicits._
      docs(s, dir).filter(col("doc_id") < 50)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .flatMap { case (id, text) =>
          Tokenizer.tokenize(text).iterator.map(t =>
            (id, t.position.toLong, t.term, t.start.toLong, t.end.toLong))
        }
        .toDF("doc_id", "pos", "term", "strt", "endo")
        .orderBy("doc_id", "pos")
    },
      s"""WITH base AS (
         |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9_]+') toks,
         |    regexp_extract_all(lower(text), '[^a-z0-9_]+') seps,
         |    (lower(text) SIMILAR TO '[^a-z0-9_]%') lead_sep
         |  FROM documents WHERE doc_id < 50)
         |SELECT doc_id, i::BIGINT pos, toks[i+1] term,
         |  (CASE WHEN lead_sep THEN length(seps[1]) ELSE 0 END
         |   + coalesce(list_sum(list_transform(range(1, i+1), j ->
         |       length(toks[j]) + coalesce(length(seps[j + (CASE WHEN lead_sep THEN 1 ELSE 0 END)]), 0))), 0))::BIGINT strt,
         |  (CASE WHEN lead_sep THEN length(seps[1]) ELSE 0 END
         |   + coalesce(list_sum(list_transform(range(1, i+1), j ->
         |       length(toks[j]) + coalesce(length(seps[j + (CASE WHEN lead_sep THEN 1 ELSE 0 END)]), 0))), 0)
         |   + length(toks[i+1]))::BIGINT endo
         |FROM base, unnest(range(len(toks))) u(i)
         |ORDER BY doc_id, pos""".stripMargin),

    // F11: sentence segmentation (Highlighter.sentences) over the
    // deterministically punctuated text (the raw table has no punctuation)
    GradedQuery("f11_sentences", { (s, dir) =>
      import s.implicits._
      docs(s, dir).filter(col("doc_id") < 50)
        .select(col("doc_id"), punct(col("text")).as("t2")).as[(Long, String)]
        .flatMap { case (id, t2) =>
          graft.query.Highlighter.sentences(t2).iterator.zipWithIndex.map {
            case ((st, en), i) => (id, i.toLong, t2.substring(st, en))
          }
        }
        .toDF("doc_id", "sent_idx", "sentence")
        .orderBy("doc_id", "sent_idx")
    },
      s"""SELECT doc_id, i::BIGINT sent_idx, sents[i+1] sentence FROM (
         |  SELECT doc_id,
         |    list_filter(list_transform(
         |      regexp_extract_all($PUNCT, '[^.!?;\\n]*[.!?;\\n]|[^.!?;\\n]+'),
         |      m -> ltrim(m, ' ' || chr(10))), x -> x <> '') sents
         |  FROM documents WHERE doc_id < 50),
         | unnest(range(len(sents))) u(i)
         |ORDER BY doc_id, sent_idx""".stripMargin),

    // F12: murmur2-32 (both bloom seeds) on a fixed probe-word set vs
    // precomputed golden literals
    GradedQuery("f12_murmur2", { (s, dir) =>
      import s.implicits._
      MurmurWords.toDF("word").as[String]
        .map { w =>
          val b = w.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          (w, graft.index.Bloom.murmur2(b, 0x9747b28c).toLong,
            graft.index.Bloom.murmur2(b, 0x5bd1e995).toLong)
        }
        .toDF("word", "h1", "h2")
        .orderBy("word")
    }, {
      val rows = Seq(
        ("a", -1563381124L, 1005521910L), ("batch", -445327118L, 412378742L),
        ("dup", 292081415L, -573355901L), ("fast", -903240464L, -965268986L),
        ("hash", 1716564892L, 737846010L), ("join", 978397876L, 11256866L),
        ("part", -1268061348L, -532682820L), ("query", -1658084073L, 701641782L),
        ("scan", -1634516170L, 81650562L), ("slow", -1120702343L, 215802071L),
        ("spark", -588179292L, 1240911956L), ("stream", -1664541815L, -1411951118L),
        ("table", 1158037964L, -2010712828L), ("the", -890893617L, -1123177871L),
        ("value", -557326323L, 1407049456L), ("window", -1264599646L, -2041295412L))
      val values = rows.map { case (w, h1, h2) => s"('$w', ${h1}::BIGINT, ${h2}::BIGINT)" }
        .mkString(", ")
      s"SELECT * FROM (VALUES $values) v(word, h1, h2) ORDER BY word"
    }),

    // S10/J5: two-way bloom store verdicts — for phrase pairs (a, b) over
    // docs containing both terms, the REAL store's end-filter of (a, doc)
    // must contain b and the begin-filter of (b, doc) must contain a
    // whenever the adjacency truly occurs (lossy-positive = never a false
    // negative; the oracle recomputes the exact adjacency and pins both
    // no-false-negative flags to 1)
    GradedQuery("j5_bloom_verdict", { (s, dir) =>
      import s.implicits._
      val docRows = docs(s, dir)
        .select(col("doc_id").cast("int").as("docId"), col("text")).as[(Int, String)]
        .map { case (id, text) =>
          IndexBuilder.DocRow(id, "d", id.toString, "", "", "", text)
        }
      val store = graft.index.Bloom.buildStore(docRows)
        .toDF("term", "docId", "beginBits", "endBits", "k")
      val mightContain = udf { (bits: Array[Byte], k: Int, probe: String) =>
        new graft.index.Bloom.Filter(bits, k).mightContain(probe)
      }
      val pairs = BloomPairs.toDF("term_a", "term_b")
      val base = docs(s, dir).select(col("doc_id"), toks.as("t"))
      val withAdj = base.crossJoin(pairs)
        .filter(array_contains(col("t"), col("term_a")) &&
          array_contains(col("t"), col("term_b")))
        .withColumn("exact_adj",
          (size(col("t")) >= 2 && exists(sequence(lit(0), size(col("t")) - 2),
            i => col("t").getItem(i) === col("term_a") &&
              element_at(col("t"), i + 2) === col("term_b"))).cast("long"))
        .select(col("doc_id"), col("term_a"), col("term_b"), col("exact_adj"))
      val endSide = store.select(col("term").as("term_a"),
        col("docId").cast("long").as("doc_id"), col("endBits"), col("k").as("ke"))
      val beginSide = store.select(col("term").as("term_b"),
        col("docId").cast("long").as("doc_id"), col("beginBits"), col("k").as("kb"))
      withAdj
        .join(endSide, Seq("term_a", "doc_id"))
        .join(beginSide, Seq("term_b", "doc_id"))
        .select(col("doc_id"), col("term_a"), col("term_b"), col("exact_adj"),
          (col("exact_adj") === 0 ||
            mightContain(col("endBits"), col("ke"), col("term_b"))).cast("long").as("end_ok"),
          (col("exact_adj") === 0 ||
            mightContain(col("beginBits"), col("kb"), col("term_a"))).cast("long").as("begin_ok"))
        .orderBy("term_a", "term_b", "doc_id")
    }, {
      val pairVals = BloomPairs.map { case (a, b) => s"('$a', '$b')" }.mkString(", ")
      s"""WITH pairs AS (SELECT * FROM (VALUES $pairVals) v(term_a, term_b)),
         | base AS (SELECT doc_id, $T t FROM documents)
         |SELECT doc_id, term_a, term_b,
         | (len(list_filter(range(len(t) - 1), i -> t[i+1] = term_a AND t[i+2] = term_b)) > 0)::BIGINT exact_adj,
         | 1::BIGINT end_ok, 1::BIGINT begin_ok
         |FROM base CROSS JOIN pairs
         |WHERE list_contains(t, term_a) AND list_contains(t, term_b)
         |ORDER BY term_a, term_b, doc_id""".stripMargin
    }),

    // A6/F11: passage selection — top-3 sentence passages per doc for the
    // fixed query {table, scan} over the punctuated text, scored by
    // tfNorm(freq, len, 20) * earlier-passage norm (Highlighter semantics)
    GradedQuery("a6_passages", { (s, dir) =>
      import s.implicits._
      docs(s, dir).filter(col("doc_id") < 100)
        .select(col("doc_id"), punct(col("text")).as("t2")).as[(Long, String)]
        .flatMap { case (id, t2) =>
          val ps = graft.query.Highlighter.topPassages(t2, Set("table", "scan"), 3)
          ps.sortBy(p => (-p.score, p.start)).iterator.zipWithIndex.map {
            case (p, i) =>
              (id, (i + 1).toLong, p.start.toLong, p.end.toLong,
                math.round(p.score * 1e6))
          }
        }
        .toDF("doc_id", "rank", "strt", "endo", "score_micro")
        .orderBy("doc_id", "rank")
    },
      s"""WITH raw AS (
         |  SELECT doc_id, regexp_extract_all($PUNCT, '[^.!?;\\n]*[.!?;\\n]|[^.!?;\\n]+') ms
         |  FROM documents WHERE doc_id < 100),
         | spans0 AS (
         |  SELECT doc_id, ms[i+1] m,
         |    coalesce(list_sum(list_transform(range(1, i+1), j -> length(ms[j]))), 0) rawstart
         |  FROM raw, unnest(range(len(ms))) u(i)),
         | spans AS (
         |  SELECT doc_id,
         |    (rawstart + length(m) - length(ltrim(m, ' ' || chr(10))))::BIGINT strt,
         |    (rawstart + length(m))::BIGINT endo,
         |    ltrim(m, ' ' || chr(10)) sent
         |  FROM spans0 WHERE ltrim(m, ' ' || chr(10)) <> ''),
         | toked AS (
         |  SELECT doc_id, strt, endo,
         |    list_filter(regexp_split_to_array(lower(sent), '[^a-z0-9_]+'), x -> x <> '') toks
         |  FROM spans),
         | freqs AS (
         |  SELECT doc_id, strt, endo, greatest(len(toks), 1) plen,
         |    len(list_filter(toks, x -> x = 'table')) f_table,
         |    len(list_filter(toks, x -> x = 'scan')) f_scan
         |  FROM toked),
         | sc AS (
         |  SELECT doc_id, strt, endo,
         |    ((CASE WHEN f_table > 0 THEN f_table*2.2/(f_table + 1.2*(0.25 + 0.75*plen/20.0)) ELSE 0 END)
         |     + (CASE WHEN f_scan > 0 THEN f_scan*2.2/(f_scan + 1.2*(0.25 + 0.75*plen/20.0)) ELSE 0 END))
         |    * (1.0 + 1.0/ln(2.718281828459045 + strt/64.0)) score
         |  FROM freqs WHERE f_table > 0 OR f_scan > 0),
         | ranked AS (
         |  SELECT doc_id, strt, endo, score,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, strt) rank
         |  FROM sc)
         |SELECT doc_id, rank::BIGINT rank, strt, endo,
         |  round(score * 1e6)::BIGINT score_micro
         |FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin),

    // A6-phrase: offsets for highlighting a PHRASE match — the reference's
    // `FilterOffsetByPosition` (`query_processing.h:446-492`, pinned by its
    // `tests_6.cc:214`): a phrase result highlights ONLY the offset pairs at
    // the matching appearances — slot i of a match starting at p contributes
    // the offset of its term's appearance at position p+i, never the term's
    // other occurrences (ExpandOffsets is the non-phrase path, = f10 shape).
    // Index-driven end to end: positions AND offsets decode from the real
    // posting blocks (offsets stream read only here — P3 read-as-needed).
    GradedQuery("a6_phrase_offsets", { (s, dir) =>
      import s.implicits._
      val terms = Seq("table", "scan")
      val perTerm = docBlocks(s, dir)
        .filter(col("term").isin(terms: _*))
        .select("term", "prevDocId", "n", "docIds", "tfs", "positions", "offsets")
        .as[(String, Int, Int, Array[Byte], Array[Byte], Array[Byte], Array[Byte])]
        .flatMap { case (t, prev, n, ids, tfs, pos, offs) =>
          val dt = PostingCodec.decodeDocIdTf(prev, n, ids, tfs)
          val ps = PostingCodec.decodePositions(n, pos)
          val os = PostingCodec.decodeOffsets(n, offs)
          dt.iterator.zipWithIndex.map { case ((d, _), i) => (t, d, ps(i), os(i)) }
        }
      perTerm.groupByKey(_._2)
        .flatMapGroups { (docId, rows) =>
          val byTerm = rows.map(r => r._1 -> (r._3, r._4)).toMap
          if (!terms.forall(byTerm.contains)) Iterator.empty
          else {
            val starts = Kernel.phraseStarts(terms.map(t => byTerm(t)._1).toArray)
            starts.iterator.flatMap { p =>
              terms.iterator.zipWithIndex.map { case (t, slot) =>
                val (ps0, os0) = byTerm(t)
                val (st, en) = os0(Kernel.lowerBound(ps0, 0, ps0.length, p + slot))
                (docId.toLong, (p + slot).toLong, slot.toLong, t, st.toLong, en.toLong)
              }
            }
          }
        }
        .toDF("doc_id", "pos", "slot", "term", "strt", "endo")
        .orderBy("doc_id", "pos")
    },
      s"""WITH base AS (
         |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9_]+') toks,
         |    regexp_extract_all(lower(text), '[^a-z0-9_]+') seps,
         |    (lower(text) SIMILAR TO '[^a-z0-9_]%') lead_sep
         |  FROM documents),
         | hit AS (
         |  SELECT doc_id, (i + s.slot)::BIGINT pos, s.slot::BIGINT slot,
         |    (CASE s.slot WHEN 0 THEN 'table' ELSE 'scan' END) term
         |  FROM base, unnest(list_filter(range(len(toks)-1),
         |      i -> toks[i+1] = 'table' AND toks[i+2] = 'scan')) u(i),
         |    (VALUES (0),(1)) s(slot))
         |SELECT h.doc_id, h.pos, h.slot, h.term,
         |  (CASE WHEN b.lead_sep THEN length(b.seps[1]) ELSE 0 END
         |   + coalesce(list_sum(list_transform(range(1, h.pos+1), j ->
         |       length(b.toks[j]) + coalesce(length(b.seps[j + (CASE WHEN b.lead_sep THEN 1 ELSE 0 END)]), 0))), 0))::BIGINT strt,
         |  (CASE WHEN b.lead_sep THEN length(b.seps[1]) ELSE 0 END
         |   + coalesce(list_sum(list_transform(range(1, h.pos+1), j ->
         |       length(b.toks[j]) + coalesce(length(b.seps[j + (CASE WHEN b.lead_sep THEN 1 ELSE 0 END)]), 0))), 0)
         |   + length(b.toks[h.pos+1]))::BIGINT endo
         |FROM hit h JOIN base b USING (doc_id)
         |ORDER BY doc_id, pos""".stripMargin),

    // ---------- training-data pipeline operators ----------

    // exact dedup groups (normalized content digest)
    GradedQuery("dedup_exact", (s, dir) => Dedup.exactGroups(docs(s, dir), "text", "doc_id")
      .select(col("digest"), col("n_dups").cast("long").as("n_dups"),
        col("keep_id").cast("long").as("keep_id"))
      .orderBy("digest"),
      s"""SELECT md5(array_to_string($T, ' ')) digest, count(*)::BIGINT n_dups,
         | min(doc_id)::BIGINT keep_id
         |FROM documents GROUP BY digest ORDER BY digest""".stripMargin),

    // Duplicated-span detection (exact-substring dedup signal, Lee et al.
    // 2022): per doc, the union of cross-doc-duplicated 5-gram spans.
    GradedQuery("dedup_dup_spans", (s, dir) =>
      Dedup.dupSpans(docs(s, dir), "text", "doc_id", n = 5).orderBy("doc_id"),
      s"""WITH toks AS (SELECT doc_id, $T t FROM documents),
         | grams AS (SELECT doc_id, i AS pos, array_to_string(t[i+1:i+5], ' ') AS g
         |   FROM toks, UNNEST(range(0, greatest(len(t)-4, 0))) AS r(i)),
         | dup AS (SELECT g FROM (SELECT DISTINCT g, doc_id FROM grams)
         |   GROUP BY g HAVING count(*) >= 2),
         | dpos AS (SELECT doc_id, pos, g FROM grams JOIN dup USING (g)),
         | spans AS (SELECT doc_id, pos,
         |   lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt FROM dpos),
         | cover AS (SELECT doc_id,
         |   sum(least(5, coalesce(nxt - pos, 5)))::BIGINT AS dup_tokens
         |   FROM spans GROUP BY doc_id),
         | dg AS (SELECT doc_id, count(*)::BIGINT AS dup_ngrams
         |   FROM (SELECT DISTINCT doc_id, g FROM dpos) GROUP BY doc_id),
         | lens AS (SELECT doc_id, len(t)::BIGINT AS len FROM toks)
         |SELECT doc_id, dup_ngrams, dup_tokens, len,
         |  (dup_tokens * 1000000 // len)::BIGINT AS dup_frac_micro
         |FROM cover JOIN dg USING (doc_id) JOIN lens USING (doc_id)
         |ORDER BY doc_id""".stripMargin),

    // minhash signatures: ONE md5 per shingle, 8 rotation-derived components.
    // Staged selects: tokens -> shingles -> digests are materialized column
    // by column, so the tokenizer split runs once per doc (embedding the
    // token expression inside the shingle lambda would re-evaluate it per
    // shingle index — quadratic per doc)
    GradedQuery("dedup_minhash_sig", { (s, dir) =>
      val withHs = docs(s, dir)
        .select(col("doc_id"), toks.as("t"))
        .select(col("doc_id"), TextOps.shingles(col("t"), 3).as("sh"))
        .select(col("doc_id"), transform(col("sh"), md5 _).as("hs"))
      val sig = Dedup.minhashSigFromHashes(col("hs"), sigLen = 8)
      val cols = (0 until 8).map(i => element_at(sig, i + 1).as(s"mh$i"))
      withHs.select((col("doc_id") +: cols): _*).orderBy("doc_id")
    }, {
      s"""SELECT doc_id, ${MinhashSql.sigCols} FROM
         | (SELECT doc_id, list_transform($SHING, s -> md5(s)) hs FROM documents)
         |ORDER BY doc_id""".stripMargin
    }),

    // minhash LSH candidate pairs (4 bands of 2) over the FULL documents
    // table — the rotation-derived signature keeps buckets small (no doc_id
    // cap, no bucket cap needed at this scale; the engine-side variant with
    // sub-bucket splitting for pathological skew is Dedup.minhashCandidates)
    GradedQuery("dedup_minhash_pairs", (s, dir) =>
      minhashPairs(s, dir).orderBy("id_a", "id_b"), {
      s"""WITH sig AS (SELECT doc_id, ${MinhashSql.sigCols} FROM
         |   (SELECT doc_id, list_transform($SHING, s -> md5(s)) hs FROM documents)),
         | bands AS (${MinhashSql.bands})
         |SELECT DISTINCT a.doc_id id_a, b.doc_id id_b
         |FROM bands a JOIN bands b USING (band, bkey)
         |WHERE a.doc_id < b.doc_id ORDER BY id_a, id_b""".stripMargin
    }),

    // connected components over the LSH candidate graph — the pipeline
    // step after pair generation: cluster id = min reachable doc_id,
    // `id === comp` marks the keep representative. Oracle: recursive CTE.
    GradedQuery("dedup_components", (s, dir) =>
      Dedup.connectedComponents(minhashPairs(s, dir)).orderBy("id"), {
      // connected components over the LSH candidate graph: comp = min doc_id
      // reachable in the pair graph (recursive transitive closure — exact,
      // engine-independent ground truth for the iterative Spark propagation)
      s"""WITH RECURSIVE sig AS (SELECT doc_id, ${MinhashSql.sigCols} FROM
         |   (SELECT doc_id, list_transform($SHING, s -> md5(s)) hs FROM documents)),
         | bands AS (${MinhashSql.bands}),
         | pairs AS (SELECT DISTINCT a.doc_id id_a, b.doc_id id_b
         |   FROM bands a JOIN bands b USING (band, bkey) WHERE a.doc_id < b.doc_id),
         | edges AS (SELECT id_a s, id_b d FROM pairs UNION SELECT id_b, id_a FROM pairs),
         | walk(id, r) AS (
         |   SELECT s, d FROM edges
         |   UNION
         |   SELECT w.id, e.d FROM walk w JOIN edges e ON w.r = e.s)
         |SELECT id, least(id, min(r)) comp FROM walk GROUP BY id ORDER BY id""".stripMargin
    }),

    // benchmark decontamination: corpus docs sharing >= 5 distinct token
    // 3-grams with a deterministic "eval set" proxy (doc_id % 37 == 0) —
    // the n-gram collision check run before any training-data release;
    // eval n-grams broadcast, corpus side map-only
    GradedQuery("decon_ngram_overlap", { (s, dir) =>
      val d = docs(s, dir)
      Dedup.contaminationOverlap(
          d.filter(col("doc_id") % 37 =!= 0),
          d.filter(col("doc_id") % 37 === 0),
          "text", "doc_id", n = 3, minShared = 5)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },
      s"""WITH sh AS (SELECT doc_id, unnest($SHING) g FROM documents),
         | ev AS (SELECT DISTINCT g FROM sh WHERE doc_id % 37 = 0)
         |SELECT doc_id, count(DISTINCT g)::BIGINT n_shared
         |FROM sh JOIN ev USING (g)
         |WHERE doc_id % 37 <> 0
         |GROUP BY doc_id HAVING count(DISTINCT g) >= 5
         |ORDER BY doc_id""".stripMargin),

    // exact n-gram Jaccard on bounded pairs
    GradedQuery("dedup_ngram_jaccard", { (s, dir) =>
      val d = docs(s, dir).filter(col("doc_id") < 20)
      val pairs = d.select(col("doc_id").as("id_a"))
        .crossJoin(d.select(col("doc_id").as("id_b")))
        .filter(col("id_a") < col("id_b"))
      Dedup.ngramJaccard(pairs, docs(s, dir), "text", "doc_id")
        .orderBy("id_a", "id_b")
    },
      s"""WITH sh AS (SELECT doc_id, list_distinct($SHING) s FROM documents),
         | small AS (SELECT * FROM sh WHERE doc_id < 20),
         | pairs AS (SELECT a.doc_id id_a, b.doc_id id_b, a.s sa, b.s sb
         |   FROM small a, small b WHERE a.doc_id < b.doc_id),
         | m AS (SELECT id_a, id_b,
         |   len(list_filter(sa, x -> list_contains(sb, x)))::BIGINT inter,
         |   (len(sa) + len(sb))::BIGINT tot FROM pairs)
         |SELECT id_a, id_b,
         | CASE WHEN tot - inter = 0 THEN 0
         |      ELSE round(inter::DOUBLE / (tot - inter)::DOUBLE * 1e6)::BIGINT END jaccard_micro
         |FROM m ORDER BY id_a, id_b""".stripMargin),

    // LSH quality evaluation — the dedup analog of ann_recall_at10. The
    // corpus has no natural duplicates (verified: every content
    // fingerprint is unique), so the truth set is PLANTED: every doc with
    // doc_id%5==0 gets an identical copy at id+10^7, and banded MinHash
    // candidate generation over the augmented corpus must recover every
    // planted pair (identical content shares every band — recall 1.0; a
    // banding/signature bug shows up as a hash mismatch here). The
    // precision lower bound counts how much the bands over-generate
    // (near-dup band collisions legitimately push it below 1).
    GradedQuery("dedup_lsh_recall", { (s, dir) =>
      val aug = docs(s, dir).select(col("doc_id"), col("text")).unionAll(
        docs(s, dir).filter(col("doc_id") % 5 === 0)
          .select(col("doc_id") + 10000000L, col("text")))
      val fp = aug
        .select(col("doc_id"), TextOps.contentFingerprint(col("text")).as("fp"))
      val truePairs = fp.as("a").join(fp.as("b"),
          col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      val cands = minhashPairsOf(aug)
      val hits = truePairs.join(cands, Seq("id_a", "id_b"))
      truePairs.agg(count(lit(1)).cast("long").as("n_true"))
        .crossJoin(cands.agg(count(lit(1)).cast("long").as("n_cand")))
        .crossJoin(hits.agg(count(lit(1)).cast("long").as("n_hit")))
        .select(col("n_true"), col("n_cand"), col("n_hit"),
          TextOps.microRatio(col("n_hit"), col("n_true")).as("recall_micro"),
          TextOps.microRatio(col("n_hit"), col("n_cand")).as("precision_lb_micro"))
    }, {
      s"""WITH aug AS (SELECT doc_id, text FROM documents
         |   UNION ALL SELECT doc_id + 10000000, text FROM documents WHERE doc_id % 5 = 0),
         | sig AS (SELECT doc_id, ${MinhashSql.sigCols} FROM
         |   (SELECT doc_id, list_transform($SHING, s -> md5(s)) hs FROM aug)),
         | bands AS (${MinhashSql.bands}),
         | cand AS (SELECT DISTINCT a.doc_id id_a, b.doc_id id_b
         |   FROM bands a JOIN bands b USING (band, bkey)
         |   WHERE a.doc_id < b.doc_id),
         | fpv AS (SELECT doc_id, md5(array_to_string($T, ' ')) fp FROM aug),
         | tp AS (SELECT a.doc_id id_a, b.doc_id id_b
         |   FROM fpv a JOIN fpv b ON a.fp = b.fp AND a.doc_id < b.doc_id),
         | h AS (SELECT count(*)::BIGINT n_hit FROM tp JOIN cand USING (id_a, id_b)),
         | t AS (SELECT count(*)::BIGINT n_true FROM tp),
         | c AS (SELECT count(*)::BIGINT n_cand FROM cand)
         |SELECT n_true, n_cand, n_hit,
         | (CASE WHEN n_true = 0 THEN 0
         |       ELSE round(n_hit::DOUBLE / n_true::DOUBLE * 1e6)::BIGINT END) recall_micro,
         | (CASE WHEN n_cand = 0 THEN 0
         |       ELSE round(n_hit::DOUBLE / n_cand::DOUBLE * 1e6)::BIGINT END) precision_lb_micro
         |FROM t, c, h""".stripMargin
    }),

    // asymmetric shingle containment (near-superset detection: the
    // direction Jaccard is blind to) over the same bounded pair probe
    GradedQuery("dedup_containment", { (s, dir) =>
      val d = docs(s, dir).filter(col("doc_id") < 20)
      val pairs = d.select(col("doc_id").as("id_a"))
        .crossJoin(d.select(col("doc_id").as("id_b")))
        .filter(col("id_a") < col("id_b"))
      Dedup.containment(pairs, docs(s, dir), "text", "doc_id")
        .orderBy("id_a", "id_b")
    },
      s"""WITH sh AS (SELECT doc_id, list_distinct($SHING) s FROM documents),
         | small AS (SELECT * FROM sh WHERE doc_id < 20),
         | pairs AS (SELECT a.doc_id id_a, b.doc_id id_b, a.s sa, b.s sb
         |   FROM small a, small b WHERE a.doc_id < b.doc_id),
         | m AS (SELECT id_a, id_b,
         |   len(list_filter(sa, x -> list_contains(sb, x)))::BIGINT inter,
         |   len(sa)::BIGINT na, len(sb)::BIGINT nb FROM pairs)
         |SELECT id_a, id_b,
         | CASE WHEN na = 0 THEN 0 ELSE round(inter::DOUBLE / na::DOUBLE * 1e6)::BIGINT END cont_ab_micro,
         | CASE WHEN nb = 0 THEN 0 ELSE round(inter::DOUBLE / nb::DOUBLE * 1e6)::BIGINT END cont_ba_micro
         |FROM m ORDER BY id_a, id_b""".stripMargin),

    // simhash near-dup candidates (md5-derived 60-bit; Scala-side bit ops)
    GradedQuery("dedup_simhash", { (s, dir) =>
      val sigUdf = udf { t: String => Dedup.simhash60(Tokenizer.terms(t)) }
      docs(s, dir).select(col("doc_id"), sigUdf(col("text")).as("simhash"))
        .orderBy("doc_id")
    },
      s"""SELECT doc_id, coalesce(CASE WHEN len(hs) = 0 THEN 0 ELSE
         |  list_sum(list_transform(range(60), b ->
         |    CASE WHEN list_sum(list_transform(hs, h ->
         |        CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
         |    THEN (1::BIGINT << b) ELSE 0 END)) END, 0)::BIGINT simhash
         |FROM (SELECT doc_id,
         |        list_transform($T, t -> ('0x' || substr(md5(t), 1, 15))::BIGINT) hs
         |      FROM documents)
         |ORDER BY doc_id""".stripMargin),

    // document fingerprint (normalized-content md5)
    GradedQuery("fp_content", (s, dir) => docs(s, dir)
      .select(col("doc_id"), TextOps.contentFingerprint(col("text")).as("fingerprint"))
      .orderBy("doc_id"),
      s"SELECT doc_id, md5(array_to_string($T, ' ')) fingerprint FROM documents ORDER BY doc_id"),

    // deterministic content-keyed train/val/test assignment (duplicate-safe:
    // identical normalized content always lands in the same split)
    GradedQuery("fp_split_assign", (s, dir) =>
      TextOps.splitAssign(docs(s, dir), "text", "doc_id").orderBy("doc_id"),
      s"""SELECT doc_id, bucket,
         |  CASE WHEN bucket < 90 THEN 'train' WHEN bucket < 95 THEN 'val'
         |       ELSE 'test' END split
         |FROM (SELECT doc_id,
         |        ('0x' || substr(md5(array_to_string($T, ' ')), 1, 15))::BIGINT % 100 bucket
         |      FROM documents) ORDER BY doc_id""".stripMargin),

    // tumbling-window event aggregation — the batch face of the
    // Structured Streaming plan (windowCountsStream shares it behind a
    // watermark; parity asserted in StreamingSpec)
    GradedQuery("ev_window_counts", (s, dir) =>
      graft.streaming.EventWindows.windowCounts(
        s.read.parquet(s"$dir/events.parquet"))
        .orderBy("hour_start", "event_type"),
      // epoch-hour tumbling windows; value summed as integer cents (both
      // engines round the identical double, so the sum is exact)
      """SELECT floor(epoch(date_trunc('hour', ts)))::BIGINT hour_start,
        |  event_type, count(*)::BIGINT n_events,
        |  sum(round(value * 100)::BIGINT)::BIGINT value_cents
        |FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin),

    // semi-structured extraction: JSON props field pulled with
    // get_json_object (codegen'd JSON path eval — no UDF, no full parse
    // materialization) and aggregated per event type; at scale this is a
    // map + one partial-agg shuffle over whatever JSON the events carry
    GradedQuery("ev_props_json", (s, dir) =>
      s.read.parquet(s"$dir/events.parquet")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(sum("k").cast("long").as("sum_k"),
          count(col("k")).cast("long").as("n_with_k"),
          min("k").cast("long").as("min_k"),
          max("k").cast("long").as("max_k"))
        .orderBy("event_type"),
      s"""SELECT event_type, sum(CAST(props->>'$$.k' AS BIGINT))::BIGINT sum_k,
         | count(CAST(props->>'$$.k' AS BIGINT))::BIGINT n_with_k,
         | min(CAST(props->>'$$.k' AS BIGINT))::BIGINT min_k,
         | max(CAST(props->>'$$.k' AS BIGINT))::BIGINT max_k
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // per-user sessionization (30-min gap rule) — partitioned-window batch
    // path; the flatMapGroupsWithState streaming path emits identical
    // sessions (StreamingSpec)
    GradedQuery("ev_sessions", (s, dir) =>
      graft.streaming.EventWindows.sessionize(
        s.read.parquet(s"$dir/events.parquet"))
        .orderBy("user_id", "session_idx"),
      // gap-rule sessionization as pure window SQL: new-session flags via
      // lag, session ids via running sum — the exact transitive closure of
      // the 30-min gap rule (event times floored to whole epoch seconds,
      // matching Spark's CAST(ts AS LONG))
      """WITH e AS (SELECT user_id, floor(epoch(ts))::BIGINT tse,
        |             round(value * 100)::BIGINT cents FROM events),
        | g AS (SELECT user_id, tse, cents,
        |         CASE WHEN lag(tse) OVER w IS NULL
        |              OR tse - lag(tse) OVER w > 1800 THEN 1 ELSE 0 END ns
        |       FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tse)),
        | s AS (SELECT user_id, tse, cents,
        |         sum(ns) OVER (PARTITION BY user_id ORDER BY tse)::BIGINT session_idx
        |       FROM g)
        |SELECT user_id, session_idx, min(tse) session_start,
        |  max(tse) session_end, count(*)::BIGINT n_events,
        |  sum(cents)::BIGINT value_cents
        |FROM s GROUP BY 1, 2 ORDER BY user_id, session_idx""".stripMargin),

    // winnowing fingerprints: Rabin-Karp rolling hash over token 4-grams
    // (mod 2^61-1), per-8-window minima, distinct — the MOSS-style
    // plagiarism/near-dup sketch; oracle recomputes the full rolling hash
    GradedQuery("fp_winnow", { (s, dir) =>
      import s.implicits._
      docs(s, dir).filter(col("doc_id") < 200)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .flatMap { case (id, text) =>
          TextOps.winnowingFingerprints(Tokenizer.terms(text)).iterator
            .map(f => (id, f))
        }
        .toDF("doc_id", "fp")
        .orderBy("doc_id", "fp")
    }, {
      val M = "2305843009213693951" // 2^61 - 1
      val charH =
        s"list_reduce(list_prepend(0::HUGEINT, list_transform(string_split_regex(t[i+j+1], ''), c -> ascii(c)::HUGEINT)), (acc, x) -> (acc * 131 + x) % $M)"
      s"""WITH toked AS (SELECT doc_id, $T t FROM documents WHERE doc_id < 200),
         | sh AS (SELECT doc_id,
         |   CASE WHEN len(t) < 4 THEN []::HUGEINT[] ELSE
         |     list_transform(range(len(t) - 3), i ->
         |       list_reduce(list_prepend(0::HUGEINT, list_transform(range(4), j -> $charH)),
         |         (acc, x) -> (acc * 1000003 + x) % $M)) END hs
         |   FROM toked),
         | fps AS (SELECT doc_id,
         |   CASE WHEN len(hs) = 0 THEN []::HUGEINT[]
         |        WHEN len(hs) <= 8 THEN [list_min(hs)]
         |        ELSE list_distinct(list_transform(range(len(hs) - 7), i -> list_min(hs[i+1:i+8]))) END fp
         |   FROM sh)
         |SELECT doc_id, CAST(u.f AS BIGINT) fp FROM fps, unnest(fp) u(f)
         |ORDER BY doc_id, fp""".stripMargin
    }),

    // ANN: brute-force cosine top-10 vs the vec_id=0 embedding
    // int8-quantized ANN (the 8x-compressed store): symmetric max-abs int8
    // codes, EXACT integer dot ranking — the memory-bound scale path next
    // to the exact micro-cosine baseline below
    GradedQuery("ann_int8_topk", { (s, dir) =>
      val e = embs(s, dir)
      val q = e.filter(col("vec_id") === 0)
        .select(Similarity.int8Quantize(Similarity.quantize(col("embedding"))).as("q8"))
      val top = e.select(col("vec_id"),
          Similarity.int8Quantize(Similarity.quantize(col("embedding"))).as("v8"))
        .crossJoin(q)
        .select(col("vec_id"), Similarity.qdot(col("v8"), col("q8")).as("dot8"))
        .orderBy(desc("dot8"), asc("vec_id"))
        .limit(10)
      rankTopK(top, (b, a) =>
          col("b.dot8") > col("a.dot8") ||
            (col("b.dot8") === col("a.dot8") && col("b.vec_id") < col("a.vec_id")))
        .select(col("vec_id"), col("dot8"), col("rank").cast("long").as("rank"))
        .orderBy("rank")
    }, {
      val i8 = "CASE WHEN list_max(list_transform(qv, x -> abs(x))) = 0 THEN qv " +
        "ELSE list_transform(qv, x -> round(x * 127.0 / list_max(list_transform(qv, y -> abs(y))))::BIGINT) END"
      s"""WITH v AS (SELECT vec_id, $i8 v8 FROM (SELECT vec_id, $QUANT qv FROM embeddings)),
         | q AS (SELECT v8 q8 FROM v WHERE vec_id = 0),
         | scored AS (SELECT vec_id, round(list_dot_product(v8, q8))::BIGINT dot8 FROM v CROSS JOIN q)
         |SELECT vec_id, dot8, rank FROM
         | (SELECT vec_id, dot8, row_number() OVER (ORDER BY dot8 DESC, vec_id)::BIGINT rank FROM scored)
         |WHERE rank <= 10 ORDER BY rank""".stripMargin
    }),

    GradedQuery("ann_cosine_topk", { (s, dir) =>
      val e = embs(s, dir)
      val q = e.filter(col("vec_id") === 0)
        .select(Similarity.quantize(col("embedding")).as("qv"))
      // one scan vs the broadcast query vector; global top-10 via
      // TakeOrderedAndProject, ranks assigned windowless over the survivors
      val top = e.select(col("vec_id"), Similarity.quantize(col("embedding")).as("ev"))
        .crossJoin(q)
        .select(col("vec_id"), Similarity.cosineMicro(col("ev"), col("qv")).as("cos_micro"))
        .orderBy(desc("cos_micro"), asc("vec_id"))
        .limit(10)
      rankTopK(top, (b, a) =>
          col("b.cos_micro") > col("a.cos_micro") ||
            (col("b.cos_micro") === col("a.cos_micro") && col("b.vec_id") < col("a.vec_id")))
        .select(col("vec_id"), col("cos_micro"), col("rank").cast("long").as("rank"))
        .orderBy("rank")
    },
      s"""WITH q AS (SELECT $QUANT qv FROM embeddings WHERE vec_id = 0),
         | v AS (SELECT vec_id, $QUANT ev FROM embeddings),
         | scored AS (SELECT vec_id,
         |   round(list_dot_product(ev, qv) / sqrt(list_dot_product(ev, ev) * list_dot_product(qv, qv)) * 1e6)::BIGINT cos_micro
         |  FROM v CROSS JOIN q)
         |SELECT vec_id, cos_micro, rank FROM
         | (SELECT vec_id, cos_micro, row_number() OVER (ORDER BY cos_micro DESC, vec_id)::BIGINT rank FROM scored)
         |WHERE rank <= 10 ORDER BY rank""".stripMargin),

    // exact embedding near-dup pairs above a cosine threshold (the
    // verifier for the LSH scale path, and an oracle row of its own)
    GradedQuery("ann_neardup", { (s, dir) =>
      Similarity.exactNearDup(embs(s, dir), "embedding", "vec_id", 500000L)
        .select(col("id_a").cast("long").as("id_a"), col("id_b").cast("long").as("id_b"),
          col("cos_micro"))
        .orderBy("id_a", "id_b")
    },
      s"""WITH v AS (SELECT vec_id, $QUANT qv FROM embeddings),
         | pairs AS (SELECT a.vec_id id_a, b.vec_id id_b,
         |   round(list_dot_product(a.qv, b.qv) / sqrt(list_dot_product(a.qv, a.qv) * list_dot_product(b.qv, b.qv)) * 1e6)::BIGINT cos_micro
         |  FROM v a, v b WHERE a.vec_id < b.vec_id)
         |SELECT id_a, id_b, cos_micro FROM pairs WHERE cos_micro >= 500000
         |ORDER BY id_a, id_b""".stripMargin),

    // IVF ANN with trained coarse centroids: deterministic integer k-means
    // (16 cells, 2 Lloyd iterations), probe the 4 cells nearest the query,
    // exact cosine top-10 within probed cells. Cell ids are part of the
    // output, so the oracle verifies the TRAINING too, not just the scan.
    GradedQuery("ann_ivf_topk", { (s, dir) =>
      import s.implicits._
      val e = embs(s, dir)
      val q: Array[Long] = e.filter(col("vec_id") === 0)
        .select(Similarity.quantize(col("embedding"))).as[Seq[Long]].head().toArray
      val (cents, assigned) = ivfModel(s, dir)
      val top = Similarity.ivfTopKWith(cents, assigned, q, kTop = 10, nprobe = 4)
      rankTopK(top, (b, a) =>
          col("b.cos_micro") > col("a.cos_micro") ||
            (col("b.cos_micro") === col("a.cos_micro") && col("b.vec_id") < col("a.vec_id")))
        .select(col("vec_id").cast("long").as("vec_id"), col("cell").cast("long").as("cell"),
          col("cos_micro"), col("rank").cast("long").as("rank"))
        .orderBy("rank")
    },
      s"""WITH $IvfTrainCtes,
         | q AS (SELECT qv qqv FROM v WHERE vec_id = 0),
         | probe AS (SELECT cell FROM c2, q ORDER BY ${ivfD2("qqv", "c2.cv")}, cell LIMIT 4),
         | cand AS (SELECT af.vec_id, af.cell,
         |   round(list_dot_product(af.qv, qqv) / sqrt(list_dot_product(af.qv, af.qv) * list_dot_product(qqv, qqv)) * 1e6)::BIGINT cos_micro
         |  FROM af JOIN probe USING (cell) CROSS JOIN q),
         | top AS (SELECT *, row_number() OVER (ORDER BY cos_micro DESC, vec_id) rank FROM cand)
         |SELECT vec_id, cell::BIGINT cell, cos_micro, rank::BIGINT rank
         |FROM top WHERE rank <= 10 ORDER BY rank""".stripMargin),

    // ANN quality eval: recall@10 of the IVF index vs the exact brute-force
    // top-10 for 3 probe queries — training and assignment shared across
    // queries; the number a pipeline checks before trusting kCells/nprobe.
    GradedQuery("ann_recall_at10", { (s, dir) =>
      val (cents, assigned) = ivfModel(s, dir)
      Similarity.ivfRecallAtKWith(cents, assigned,
          queryIds = Seq(0L, 1L, 2L), kTop = 10, nprobe = 4)
        .orderBy("query_id")
    }, {
      // recall@10: the same trained index (shared CTEs) probed for 3 query
      // ids; IVF and exact top-10 sets intersect per query
      val cos = (a: String, b: String) =>
        s"round(list_dot_product($a, $b) / sqrt(list_dot_product($a, $a) * list_dot_product($b, $b)) * 1e6)::BIGINT"
      s"""WITH $IvfTrainCtes,
         | qs AS (SELECT vec_id qid, qv qqv FROM v WHERE vec_id IN (0,1,2)),
         | probe AS (SELECT qid, cell FROM (
         |   SELECT qs.qid, c2.cell, row_number() OVER (PARTITION BY qs.qid
         |     ORDER BY ${ivfD2("qqv", "c2.cv")}, c2.cell) rn FROM c2, qs) WHERE rn <= 4),
         | ivf AS (SELECT qid, vec_id FROM (
         |   SELECT p.qid, af.vec_id, row_number() OVER (PARTITION BY p.qid
         |     ORDER BY ${cos("af.qv", "qs.qqv")} DESC, af.vec_id) rank
         |   FROM af JOIN probe p USING (cell) JOIN qs ON qs.qid = p.qid) WHERE rank <= 10),
         | ex AS (SELECT qid, vec_id FROM (
         |   SELECT qs.qid, v2.vec_id, row_number() OVER (PARTITION BY qs.qid
         |     ORDER BY ${cos("v2.qv", "qs.qqv")} DESC, v2.vec_id) rank
         |   FROM v v2, qs) WHERE rank <= 10),
         | ov AS (SELECT qid, count(*)::BIGINT n_overlap FROM ivf JOIN ex USING (qid, vec_id) GROUP BY qid),
         | exn AS (SELECT qid, count(*)::BIGINT n FROM ex GROUP BY qid)
         |SELECT exn.qid query_id, coalesce(ov.n_overlap, 0)::BIGINT n_overlap,
         | round(coalesce(ov.n_overlap, 0)::DOUBLE / exn.n * 1e6)::BIGINT recall_micro
         |FROM exn LEFT JOIN ov USING (qid) ORDER BY query_id""".stripMargin
    }),

    // k-NN join: nearest neighbor for each of the first 200 vectors
    GradedQuery("ann_knn1", { (s, dir) =>
      val e = embs(s, dir).filter(col("vec_id") < 200)
        .select(col("vec_id"), Similarity.quantize(col("embedding")).as("qv"))
      val a = e.select(col("vec_id").as("id_a"), col("qv").as("qa"))
      val b = e.select(col("vec_id").as("id_b"), col("qv").as("qb"))
      a.crossJoin(b).filter(col("id_a") =!= col("id_b"))
        .select(col("id_a"), col("id_b"), Similarity.cosineMicro(col("qa"), col("qb")).as("cos_micro"))
        .withColumn("rn", row_number()
          .over(Window.partitionBy("id_a").orderBy(desc("cos_micro"), asc("id_b"))))
        .filter(col("rn") === 1)
        .select("id_a", "id_b", "cos_micro")
        .orderBy("id_a")
    },
      s"""WITH v AS (SELECT vec_id, $QUANT qv FROM embeddings WHERE vec_id < 200),
         | pairs AS (SELECT a.vec_id id_a, b.vec_id id_b,
         |   round(list_dot_product(a.qv, b.qv) / sqrt(list_dot_product(a.qv, a.qv) * list_dot_product(b.qv, b.qv)) * 1e6)::BIGINT cos_micro
         |  FROM v a, v b WHERE a.vec_id <> b.vec_id)
         |SELECT id_a, id_b, cos_micro FROM
         | (SELECT *, row_number() OVER (PARTITION BY id_a ORDER BY cos_micro DESC, id_b) rn FROM pairs)
         |WHERE rn = 1 ORDER BY id_a""".stripMargin),

    // corpus collocations: PMI over adjacent bigrams (boilerplate finder)
    GradedQuery("text_collocations", (s, dir) =>
      TextOps.collocations(docs(s, dir), "text", minCount = 5L, topN = 20)
        .orderBy(desc("pmi_micro"), asc("bigram")),
      s"""WITH toks AS (SELECT $T t FROM documents),
         | uni AS (SELECT unnest(t) w FROM toks),
         | ucnt AS (SELECT w, count(*)::BIGINT c FROM uni GROUP BY w),
         | utot AS (SELECT count(*)::BIGINT u FROM uni),
         | bi AS (SELECT unnest(list_transform(range(1, len(t)),
         |          i -> array_to_string(t[i:i+1], ' '))) bigram FROM toks),
         | btot AS (SELECT count(*)::BIGINT b FROM bi),
         | bcnt AS (SELECT bigram, count(*)::BIGINT n FROM bi
         |          GROUP BY bigram HAVING count(*) >= 5),
         | sp AS (SELECT bigram, n, string_split(bigram, ' ')[1] w1,
         |               string_split(bigram, ' ')[2] w2 FROM bcnt)
         |SELECT bigram, n,
         | round(ln((n * u * u)::DOUBLE / (b * c1.c * c2.c)::DOUBLE) * 1e6)::BIGINT pmi_micro
         |FROM sp JOIN ucnt c1 ON sp.w1 = c1.w JOIN ucnt c2 ON sp.w2 = c2.w
         | CROSS JOIN utot CROSS JOIN btot
         |ORDER BY pmi_micro DESC, bigram LIMIT 20""".stripMargin),

    // text quality features
    // PII detection + redaction (training-pipeline privacy pass) over the
    // injected-PII fixture; counts and the redacted-text sha are both exact
    GradedQuery("text_pii_counts", (s, dir) =>
      TextOps.piiCounts(piiAugmented(s, dir), "text", "doc_id").orderBy("doc_id"), {
      val cnts = graft.ops.TextOps.PiiPatterns.map { case (name, re, _) =>
        s"len(regexp_extract_all(text, '$re'))::BIGINT n_$name"
      }.mkString(", ")
      s"""WITH aug AS ($PiiAugSql)
         |SELECT doc_id, $cnts FROM aug ORDER BY doc_id""".stripMargin
    }),
    GradedQuery("text_pii_redact", (s, dir) => piiAugmented(s, dir)
      .select(col("doc_id"),
        sha2(TextOps.redactPii(col("text")), 256).as("sha"))
      .orderBy("doc_id"), {
      val redacted = graft.ops.TextOps.PiiPatterns.foldLeft("text") {
        case (c, (_, re, ph)) => s"regexp_replace($c, '$re', '$ph', 'g')"
      }
      s"""WITH aug AS ($PiiAugSql)
         |SELECT doc_id, sha256($redacted) sha FROM aug ORDER BY doc_id""".stripMargin
    }),

    GradedQuery("text_quality", (s, dir) =>
      TextOps.qualityFeatures(docs(s, dir), "text", "doc_id")
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
          col("mean_token_len_micro"), col("stopword_ratio_micro"),
          col("punct_ratio_micro"), col("len_ok").cast("long").as("len_ok"))
        .orderBy("doc_id"),
      s"""SELECT doc_id, len($T)::BIGINT n_tokens,
         | CASE WHEN len($T) = 0 THEN 0 ELSE round(list_sum(list_transform($T, x -> length(x)))::DOUBLE / len($T)::DOUBLE * 1e6)::BIGINT END mean_token_len_micro,
         | CASE WHEN len($T) = 0 THEN 0 ELSE round(len(list_filter($T, x -> x IN ('the','a','an','and','or','of','to','in','is','it','for','on')))::DOUBLE / len($T)::DOUBLE * 1e6)::BIGINT END stopword_ratio_micro,
         | CASE WHEN length(text) = 0 THEN 0 ELSE round((length(text) - length(regexp_replace(lower(text), '[^a-z0-9_ ]', '', 'g')))::DOUBLE / length(text)::DOUBLE * 1e6)::BIGINT END punct_ratio_micro,
         | (len($T) >= 5 AND len($T) <= 100000)::BIGINT len_ok
         |FROM documents ORDER BY doc_id""".stripMargin),

    // language id (marker heuristic)
    GradedQuery("text_langid", (s, dir) =>
      TextOps.langId(docs(s, dir), "text", "doc_id")
        .select(col("doc_id"), col("hits_de").cast("long").as("hits_de"),
          col("hits_en").cast("long").as("hits_en"), col("hits_es").cast("long").as("hits_es"),
          col("hits_fr").cast("long").as("hits_fr"), col("pred_lang"))
        .orderBy("doc_id"), {
      def hits(markers: Seq[String]) =
        s"len(list_filter($T, x -> x IN (${markers.map("'" + _ + "'").mkString(",")})))::BIGINT"
      val hde = hits(Seq("der", "und", "die", "das", "nicht"))
      val hen = hits(Seq("the", "and", "of", "is", "that"))
      val hes = hits(Seq("el", "los", "que", "y", "de"))
      val hfr = hits(Seq("le", "la", "et", "les", "des"))
      s"""SELECT doc_id, hits_de, hits_en, hits_es, hits_fr,
         | CASE WHEN greatest(hits_de, hits_en, hits_es, hits_fr) = 0 THEN 'unknown'
         |      WHEN hits_de >= hits_en AND hits_de >= hits_es AND hits_de >= hits_fr THEN 'de'
         |      WHEN hits_en >= hits_es AND hits_en >= hits_fr THEN 'en'
         |      WHEN hits_es >= hits_fr THEN 'es'
         |      ELSE 'fr' END pred_lang
         |FROM (SELECT doc_id, $hde hits_de, $hen hits_en, $hes hits_es, $hfr hits_fr FROM documents)
         |ORDER BY doc_id""".stripMargin
    }),

    // token counting (engine + whitespace + BPE-ish estimate)
    GradedQuery("text_tokcount", (s, dir) =>
      TextOps.tokenCounts(docs(s, dir), "text", "doc_id")
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
          col("n_ws_tokens").cast("long").as("n_ws_tokens"),
          col("n_bpe_est").cast("long").as("n_bpe_est"))
        .orderBy("doc_id"),
      s"""SELECT doc_id, len($T)::BIGINT n_tokens,
         | len(list_filter(regexp_split_to_array(text, ' +'), x -> x <> ''))::BIGINT n_ws_tokens,
         | coalesce(list_sum(list_transform($T, x -> CAST(ceil(length(x)/4.0) AS BIGINT))), 0)::BIGINT n_bpe_est
         |FROM documents ORDER BY doc_id""".stripMargin),

    // CCNet/KenLM-style unigram LM surprisal (perplexity-filter proxy):
    // integer-exact per-doc Σ tf·nll_micro over the corpus unigram LM
    GradedQuery("text_unigram_nll", (s, dir) =>
      TextOps.unigramNll(tfTable(s, dir), "doc_id").orderBy("doc_id"),
      s"""WITH tf AS (SELECT * FROM $TF),
         | tot AS (SELECT sum(tf)::BIGINT total FROM tf),
         | lm AS (SELECT term, round(ln((SELECT total FROM tot)::DOUBLE / sum(tf)::DOUBLE) * 1e6)::BIGINT nll_micro
         |        FROM tf GROUP BY term)
         |SELECT doc_id, sum(tf)::BIGINT n_tokens,
         | sum(tf * nll_micro)::BIGINT sum_nll_micro,
         | round(sum(tf * nll_micro)::DOUBLE / sum(tf)::DOUBLE)::BIGINT avg_nll_micro
         |FROM tf JOIN lm USING (term) GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // BPE merge learning (ops.BpeTrainer) — 6 rounds of distributed
    // tokenizer training over the corpus word-frequency table; the oracle
    // replays the full loop (pair argmax + greedy left-to-right merge as a
    // list_reduce fold), so every learned merge and its count is graded
    GradedQuery("bpe_merges", { (s, dir) =>
      import s.implicits._
      val words = docs(s, dir).select(explode(toks).as("word"))
        .groupBy("word").agg(count(lit(1)).cast("long").as("cnt"))
      graft.ops.BpeTrainer.learn(words, "word", "cnt", n = 6)
        .toDF("step", "left", "right", "merged", "cnt")
        .select(col("step").cast("long"), col("left"), col("right"),
          col("merged"), col("cnt"))
        .orderBy("step")
    }, {
      val sep = "chr(31)"
      def stage(k: Int) = {
        val prev = s"w${k - 1}"
        s""" p$k AS (SELECT unnest(list_transform(range(1, len(sym)),
           |          i -> {'l': sym[i], 'r': sym[i + 1]})) pr, cnt FROM $prev),
           | g$k AS (SELECT pr.l l, pr.r r, sum(cnt)::BIGINT c FROM p$k GROUP BY 1, 2),
           | b$k AS (SELECT l, r, c FROM g$k ORDER BY c DESC, l, r LIMIT 1),
           | w$k AS (SELECT string_split(list_reduce(sym, (acc, x) ->
           |   CASE WHEN x = b.r AND (acc = b.l OR ends_with(acc, $sep || b.l))
           |   THEN acc || x ELSE acc || $sep || x END), $sep) sym, cnt
           |   FROM $prev, b$k b)""".stripMargin
      }
      s"""WITH w0 AS (SELECT list_filter(string_split_regex(word, ''), x -> x <> '') sym, cnt
         |            FROM (SELECT term word, count(*)::BIGINT cnt
         |                  FROM (SELECT unnest($T) term FROM documents) GROUP BY 1)),
         |${(1 to 6).map(stage).mkString(",\n")}
         |${(1 to 6).map(k =>
        s"SELECT $k::BIGINT step, l \"left\", r \"right\", l || r merged, c cnt FROM b$k")
        .mkString("\nUNION ALL\n")}
         |ORDER BY step""".stripMargin
    }),

    // index statistics summary (the engine's /stats introspection shape)
    GradedQuery("idx_stats", { (s, dir) =>
      val tf = tfTable(s, dir)
      tf.agg(count(lit(1)).cast("long").as("n_postings"),
          sum(col("tf")).cast("long").as("n_tokens"))
        .crossJoin(tf.select("term").distinct()
          .agg(count(lit(1)).cast("long").as("n_terms")))
        .crossJoin(lenTable(s, dir)
          .agg(count(lit(1)).cast("long").as("n_docs"),
            sum("len").cast("long").as("sum_len")))
        .select(col("n_docs"), col("n_terms"), col("n_postings"), col("n_tokens"),
          TextOps.microRatio(col("sum_len"), col("n_docs")).as("avg_len_micro"))
    },
      s"""WITH tf AS (SELECT * FROM $TF), lens AS (SELECT * FROM $LEN)
         |SELECT (SELECT count(*) FROM lens)::BIGINT n_docs,
         | (SELECT count(DISTINCT term) FROM tf)::BIGINT n_terms,
         | (SELECT count(*) FROM tf)::BIGINT n_postings,
         | (SELECT sum(tf) FROM tf)::BIGINT n_tokens,
         | round((SELECT sum(len) FROM lens)::DOUBLE / (SELECT count(*) FROM lens)::DOUBLE * 1e6)::BIGINT avg_len_micro""".stripMargin),

    // term-df histogram — the reference's `tools/gen_term_hist.py` analog
    // (df distribution over the dictionary, the input to its popularity /
    // zipf analyses): per-term df from the tf truth, bucketed by
    // floor(log2(df)) computed integer-exactly as bitlength(df)-1 (conv to
    // base 2 — no floating log that could mis-bucket at exact powers)
    GradedQuery("idx_term_hist", { (s, dir) =>
      tfTable(s, dir).groupBy("term")
        .agg(count(lit(1)).cast("long").as("df"))
        .select((length(conv(col("df"), 10, 2)) - 1).cast("long")
          .as("df_log2_bucket"), col("df"))
        .groupBy("df_log2_bucket")
        .agg(count(lit(1)).cast("long").as("n_terms"),
          sum("df").cast("long").as("sum_df"),
          min("df").cast("long").as("min_df"),
          max("df").cast("long").as("max_df"))
        .orderBy("df_log2_bucket")
    },
      s"""WITH tf AS (SELECT * FROM $TF),
         | d AS (SELECT term, count(*)::BIGINT df FROM tf GROUP BY term)
         |SELECT (length(format('{:b}', df)) - 1)::BIGINT df_log2_bucket,
         | count(*)::BIGINT n_terms, sum(df)::BIGINT sum_df,
         | min(df)::BIGINT min_df, max(df)::BIGINT max_df
         |FROM d GROUP BY 1 ORDER BY 1""".stripMargin),

    // exact doc-length order statistics (p50/p90/p99) — the thresholds a
    // length-filter stage is tuned from. Scale shape: lengths have bounded
    // cardinality, so quantiles come from a tiny value-histogram plus a
    // broadcast cumulative self-join — no global sort, no unpartitioned
    // window, no TakeOrdered proportional to n·p. value = min len whose
    // cumulative count exceeds pos = (n-1)·p div 100 (0-based rank).
    GradedQuery("stats_len_quantiles", { (s, dir) =>
      val lens = lenTable(s, dir)
      val hist = lens.groupBy("len").agg(count(lit(1)).as("c"))
      val cum = hist.as("a").join(hist.as("b"), col("b.len") <= col("a.len"))
        .groupBy(col("a.len").as("len")).agg(sum(col("b.c")).as("cum"))
      val n = lens.agg(count(lit(1)).cast("long").as("n"))
      val base = cum.crossJoin(n)
      Seq(50, 90, 99).map { p =>
        base.select(col("len"), col("cum"),
            expr(s"(n - 1) * $p div 100").as("pos"))
          .filter(col("cum") > col("pos"))
          .groupBy("pos").agg(min(col("len")).cast("long").as("len"))
          .select(lit(p.toLong).as("p"), col("pos").cast("long").as("pos"), col("len"))
      }.reduce(_ unionAll _).orderBy("p")
    },
      s"""WITH l AS (SELECT len($T)::BIGINT len FROM documents),
         | h AS (SELECT len, count(*)::BIGINT c FROM l GROUP BY len),
         | cum AS (SELECT a.len, sum(b.c)::BIGINT cum FROM h a, h b
         |         WHERE b.len <= a.len GROUP BY a.len),
         | n AS (SELECT count(*)::BIGINT n FROM l)
         |SELECT p::BIGINT p, ((n - 1) * p // 100)::BIGINT pos,
         | (SELECT min(len) FROM cum WHERE cum > (n - 1) * p // 100)::BIGINT len
         |FROM (VALUES (50), (90), (99)) t(p), n ORDER BY p""".stripMargin),

    // SK1: KMV distinct-cardinality sketch over the term dictionary —
    // integer-exact estimator ((k-1)·2^32 div u_k over 32-bit md5 prefixes)
    // so the DuckDB oracle reproduces the ESTIMATE itself bit-for-bit, not
    // just the exact count it approximates; see ops.Sketch for the scale
    // rationale (k-row TakeOrdered instead of a full-cardinality shuffle)
    // two value spaces: the (tiny) term dictionary exercises the
    // fewer-than-k exact path; the 3-token shingle space exercises the
    // real estimator path ((k-1)·2^32 div u_k)
    GradedQuery("sk_kmv_distinct", { (s, dir) =>
      val terms = Sketch.kmvDistinct(
        docs(s, dir).select(explode(toks).as("v")), "v", k = 64)
        .select(lit("term").as("space"), col("*"))
      // stage tokens BEFORE the shingle HOF — inlining `toks` into the
      // lambda re-runs the tokenizer per shingle position (the documented
      // HOF re-evaluation trap; measured 16.6 s -> ~3 s at sf0.1)
      val shingles = Sketch.kmvDistinct(
        docs(s, dir).select(toks.as("t"))
          .select(explode(TextOps.shingles(col("t"), 3)).as("v")), "v", k = 64)
        .select(lit("shingle3").as("space"), col("*"))
      terms.unionAll(shingles).orderBy("space")
    }, {
      def kmvSql(space: String, unnested: String) =
        s"""SELECT '$space' space, 64::BIGINT k, u_k::BIGINT u_k,
           | (CASE WHEN n_min < 64 THEN n_min ELSE 63 * 4294967296 // u_k END)::BIGINT est_distinct,
           | exact_distinct
           |FROM (SELECT max(u) u_k, count(*) n_min FROM
           |        (SELECT u FROM (SELECT DISTINCT ('0x' || substr(md5(v), 1, 8))::BIGINT u
           |                        FROM (SELECT DISTINCT $unnested v FROM documents))
           |         ORDER BY u LIMIT 64)),
           |     (SELECT count(*)::BIGINT exact_distinct
           |      FROM (SELECT DISTINCT $unnested v FROM documents))""".stripMargin
      s"""${kmvSql("term", s"unnest($T)")}
         |UNION ALL
         |${kmvSql("shingle3", s"unnest($SHING)")}
         |ORDER BY space""".stripMargin
    }),

    // HLL cardinality sketch over the same two value spaces as KMV —
    // register-table shape (64-row mergeable groupBy, no distinct pass):
    // the mergeable-at-any-partitioning counterpart; pinned md5 registers
    // so the oracle replays the registers bit-for-bit.
    GradedQuery("sk_hll_distinct", { (s, dir) =>
      val terms = Sketch.hllDistinct(
        docs(s, dir).select(explode(toks).as("v")), "v")
        .select(lit("term").as("space"), col("*"))
      val shingles = Sketch.hllDistinct(
        docs(s, dir).select(toks.as("t"))
          .select(explode(TextOps.shingles(col("t"), 3)).as("v")), "v")
        .select(lit("shingle3").as("space"), col("*"))
      terms.unionAll(shingles).orderBy("space")
    }, {
      def hllSql(space: String, unnested: String) =
        s"""SELECT '$space' space, 64::BIGINT m, v_zero, s_sum,
           | (${graft.ops.Sketch.HllAlphaM2Micro} * 134217728 // s_sum // 1000000)::BIGINT est_raw,
           | (CASE WHEN (${graft.ops.Sketch.HllAlphaM2Micro} * 134217728 // s_sum // 1000000) <= 160
           |        AND v_zero > 0
           |   THEN round(64 * ln(64.0 / v_zero))::BIGINT
           |   ELSE (${graft.ops.Sketch.HllAlphaM2Micro} * 134217728 // s_sum // 1000000)::BIGINT END) est_distinct,
           | exact_distinct
           |FROM (SELECT (64 - count(*))::BIGINT v_zero,
           |        (sum(1::BIGINT << (27 - m_j)) + (64 - count(*)) * 134217728)::BIGINT s_sum
           |      FROM (SELECT h >> 26 j,
           |              max(CASE WHEN (h & 67108863) = 0 THEN 27
           |                  ELSE 27 - length(format('{:b}', h & 67108863)) END) m_j
           |            FROM (SELECT ('0x' || substr(md5(v), 1, 8))::BIGINT h
           |                  FROM (SELECT $unnested v FROM documents))
           |            GROUP BY j)),
           |     (SELECT count(*)::BIGINT exact_distinct
           |      FROM (SELECT DISTINCT $unnested v FROM documents))""".stripMargin
      s"""${hllSql("term", s"unnest($T)")}
         |UNION ALL
         |${hllSql("shingle3", s"unnest($SHING)")}
         |ORDER BY space""".stripMargin
    }),

    // Histogram quantile sketch: P50/P90/P99 of n_chars from the ≤256
    // lenbyte-bucket histogram (the code a deployed index keeps per doc
    // anyway), exact quantiles alongside; cumulative counts via bounded
    // inequality self-joins, never a global-order window.
    GradedQuery("sk_quantile_hist", (s, dir) =>
      Sketch.histQuantiles(docs(s, dir).select(col("n_chars")), "n_chars",
        Seq(50, 90, 99)),
      s"""WITH vals AS (SELECT n_chars::BIGINT v FROM documents),
         | nn AS (SELECT count(*)::BIGINT n FROM vals),
         | qs AS (SELECT unnest([50, 90, 99])::BIGINT q),
         | t AS (SELECT q, n, (q * n + 99) // 100 target FROM qs CROSS JOIN nn),
         | bh AS (SELECT ${lossySql("v")}::BIGINT k, count(*)::BIGINT c FROM vals GROUP BY k),
         | bc AS (SELECT k, sum(c) OVER (ORDER BY k)::BIGINT cum FROM bh),
         | vh AS (SELECT v k, count(*)::BIGINT c FROM vals GROUP BY k),
         | vc AS (SELECT k, sum(c) OVER (ORDER BY k)::BIGINT cum FROM vh),
         | eb AS (SELECT q, n, target, min(k)::BIGINT est_bucket
         |   FROM t JOIN bc ON cum >= target GROUP BY q, n, target),
         | ex AS (SELECT q, min(k)::BIGINT "exact" FROM t JOIN vc ON cum >= target GROUP BY q)
         |SELECT q, n, target, est_bucket, "exact" FROM eb JOIN ex USING (q) ORDER BY q""".stripMargin),

    // AMS F2 sketch over the term-frequency distribution: the self-join
    // size (sum cf^2) a planner needs to size the term-keyed shuffle —
    // 64 pinned-sign counters over the DISTINCT term table, estimate and
    // exact side by side.
    GradedQuery("sk_ams_f2", { (s, dir) =>
      val cfs = tfTable(s, dir).groupBy("term")
        .agg(sum(col("tf")).cast("long").as("cf"))
      Sketch.amsF2(cfs, "term", "cf")
    },
      s"""WITH cfs AS (SELECT term, sum(tf)::BIGINT cf FROM $TF tf GROUP BY term),
         | counters AS (SELECT i,
         |     sum(((('0x' || substr(md5(i::VARCHAR || '|' || term), 1, 8))::BIGINT & 1) * 2 - 1) * cf)::BIGINT c
         |   FROM cfs, UNNEST(range(64)) t(i) GROUP BY i)
         |SELECT 64::BIGINT k,
         |  (SELECT (sum(c * c) // 64)::BIGINT FROM counters) est_f2,
         |  (SELECT sum(cf * cf)::BIGINT FROM cfs) exact_f2""".stripMargin),

    // Count-min sketch (d=4 × w=64 pinned md5 cells) probed for every
    // dictionary term: est_cf ≥ cf always (CMS one-sided guarantee, visible
    // in the output), heavy hitters read off the estimates. The corpus
    // pass collapses map-side to ≤256 cells — the frequency table never
    // materializes.
    GradedQuery("sk_cms_heavy", { (s, dir) =>
      val cells = Sketch.cmsCells(docs(s, dir).select(explode(toks).as("v")), "v")
      val probes = tfTable(s, dir).groupBy("term")
        .agg(sum(col("tf")).cast("long").as("cf"))
      Sketch.cmsEstimate(cells, probes, "term")
        .select(col("term"), col("cf"), col("est").as("est_cf"))
        .orderBy("term")
    },
      s"""WITH vals AS (SELECT unnest($T) v FROM documents),
         | cells AS (SELECT r, ('0x' || substr(md5(r::VARCHAR || '|' || v), 1, 8))::BIGINT % 64 b,
         |     count(*)::BIGINT cnt
         |   FROM vals, UNNEST(range(4)) t(r) GROUP BY r, b),
         | probes AS (SELECT term, sum(tf)::BIGINT cf FROM $TF tf GROUP BY term),
         | pb AS (SELECT term, cf, r,
         |     ('0x' || substr(md5(r::VARCHAR || '|' || term), 1, 8))::BIGINT % 64 b
         |   FROM probes, UNNEST(range(4)) t(r))
         |SELECT term, cf, min(coalesce(cnt, 0))::BIGINT est_cf
         |FROM pb LEFT JOIN cells USING (r, b)
         |GROUP BY term, cf ORDER BY term""".stripMargin),

    // synthetic query-log generation — the reference's
    // `tools/gen_synthetic_log.py` analog: Q=100 queries drawn
    // popularity-proportionally (systematic cf sampling, pure integer
    // arithmetic) from the corpus dictionary; see QueryLog.synthesize
    GradedQuery("qlog_synth", (s, dir) =>
      graft.query.QueryLog.synthesize(tfTable(s, dir), nQueries = 100)
        .select(col("q_id").cast("long").as("q_id"), col("term"),
          col("cf").cast("long").as("cf"))
        .orderBy("q_id"),
      s"""WITH tf AS (SELECT * FROM $TF),
         | d AS (SELECT term, sum(tf)::BIGINT cf FROM tf GROUP BY term),
         | c AS (SELECT term, cf, coalesce(sum(cf) OVER (ORDER BY cf DESC, term
         |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT cum FROM d),
         | tot AS (SELECT sum(cf)::BIGINT total FROM d),
         | q AS (SELECT i::BIGINT q_id,
         |   ((2*i + 1) * (SELECT total FROM tot)) // 200 target FROM range(100) t(i))
         |SELECT q_id, term, cf
         |FROM q JOIN c ON target >= cum AND target < cum + cf
         |ORDER BY q_id""".stripMargin),

    // query-log repeat/locality analysis — the reference's
    // `tools/analyze-repeat.py` / `query_locality.py` analog (its FAST'20
    // cache analyses hinge on how often and how closely queries repeat):
    // over the synthesized log, each query is marked repeat-or-first and
    // carries the distance to its previous occurrence (−1 for firsts).
    // The per-term window is PARTITIONED (scale-safe; never a global sort).
    GradedQuery("qlog_repeat", { (s, dir) =>
      val log = graft.query.QueryLog.synthesize(tfTable(s, dir), nQueries = 100)
      val w = Window.partitionBy("term").orderBy("q_id")
      log.withColumn("prev_q", lag(col("q_id"), 1).over(w))
        .select(col("q_id").cast("long").as("q_id"), col("term"),
          col("prev_q").isNotNull.cast("long").as("is_repeat"),
          coalesce(col("q_id") - col("prev_q"), lit(-1L)).cast("long").as("gap"))
        .orderBy("q_id")
    },
      s"""WITH tf AS (SELECT * FROM $TF),
         | d AS (SELECT term, sum(tf)::BIGINT cf FROM tf GROUP BY term),
         | c AS (SELECT term, cf, coalesce(sum(cf) OVER (ORDER BY cf DESC, term
         |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT cum FROM d),
         | tot AS (SELECT sum(cf)::BIGINT total FROM d),
         | q AS (SELECT i::BIGINT q_id,
         |   ((2*i + 1) * (SELECT total FROM tot)) // 200 target FROM range(100) t(i)),
         | log AS (SELECT q_id, term FROM q JOIN c
         |   ON target >= cum AND target < cum + cf),
         | r AS (SELECT q_id, term,
         |   lag(q_id) OVER (PARTITION BY term ORDER BY q_id) prev_q FROM log)
         |SELECT q_id, term, (prev_q IS NOT NULL)::BIGINT is_repeat,
         | coalesce(q_id - prev_q, -1)::BIGINT gap
         |FROM r ORDER BY q_id""".stripMargin),

    // query-term popularity decades — the reference's `tools/pop_stats.py`
    // analog (its FAST'20 workload analysis buckets query terms by
    // floor(log10(popularity))): over the synthesized log, how many queries
    // and distinct terms land in each cf decade. The decade is digits−1 —
    // integer-exact, no floating log at exact powers of ten.
    GradedQuery("qlog_term_pop", { (s, dir) =>
      graft.query.QueryLog.synthesize(tfTable(s, dir), nQueries = 100)
        .select(col("term"), (length(col("cf").cast("string")) - 1)
          .cast("long").as("pop_decade"))
        .groupBy("pop_decade")
        .agg(count(lit(1)).cast("long").as("n_queries"),
          size(collect_set(col("term"))).cast("long").as("n_unique_terms"))
        .orderBy("pop_decade")
    },
      s"""WITH tf AS (SELECT * FROM $TF),
         | d AS (SELECT term, sum(tf)::BIGINT cf FROM tf GROUP BY term),
         | c AS (SELECT term, cf, coalesce(sum(cf) OVER (ORDER BY cf DESC, term
         |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT cum FROM d),
         | tot AS (SELECT sum(cf)::BIGINT total FROM d),
         | q AS (SELECT i::BIGINT q_id,
         |   ((2*i + 1) * (SELECT total FROM tot)) // 200 target FROM range(100) t(i)),
         | log AS (SELECT q_id, term, cf FROM q JOIN c
         |   ON target >= cum AND target < cum + cf)
         |SELECT (length(cf::VARCHAR) - 1)::BIGINT pop_decade,
         | count(*)::BIGINT n_queries,
         | count(DISTINCT term)::BIGINT n_unique_terms
         |FROM log GROUP BY 1 ORDER BY 1""".stripMargin),

    // synthetic PHRASE-query generation — the reference's
    // `gen_phrase_queries` + `find_all_unique_phrases` analog
    // (`tools/gen_synthetic_log.py`: two-term phrases sampled from a corpus
    // phrase list, repeated-term phrases excluded, quoted in the log
    // syntax): candidates are the corpus's adjacent bigrams with distinct
    // members, sampled popularity-proportionally by the same deterministic
    // systematic-cf rule as `qlog_synth` — hot collocations get phrase
    // queries in proportion to how often they occur.
    GradedQuery("qlog_synth_phrase", { (s, dir) =>
      // tokens staged into a column FIRST: an expression inlined into the
      // shingle HOF lambda re-evaluates the tokenizer regexp per element
      // (measured 4× on this query; same trap text_collocations avoids)
      val bigrams = docs(s, dir).select(toks.as("t"))
        .select(explode(TextOps.shingles(col("t"), 2)).as("term"))
        .filter(split(col("term"), " ").getItem(0) =!=
          split(col("term"), " ").getItem(1))
        .groupBy("term").agg(count(lit(1)).cast("long").as("tf"))
      graft.query.QueryLog.synthesize(bigrams, nQueries = 50)
        .select(col("q_id").cast("long").as("q_id"),
          concat(lit("\""), col("term"), lit("\"")).as("phrase"),
          col("cf").cast("long").as("cf"))
        .orderBy("q_id")
    },
      s"""WITH toks AS (SELECT $T t FROM documents),
         | bi AS (SELECT unnest(list_transform(range(1, len(t)),
         |          i -> array_to_string(t[i:i+1], ' '))) g FROM toks),
         | d AS (SELECT g term, count(*)::BIGINT cf FROM bi
         |   WHERE string_split(g, ' ')[1] <> string_split(g, ' ')[2] GROUP BY g),
         | c AS (SELECT term, cf, coalesce(sum(cf) OVER (ORDER BY cf DESC, term
         |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT cum FROM d),
         | tot AS (SELECT sum(cf)::BIGINT total FROM d),
         | q AS (SELECT i::BIGINT q_id,
         |   ((2*i + 1) * (SELECT total FROM tot)) // 100 target FROM range(50) t(i))
         |SELECT q_id, '"' || term || '"' phrase, cf
         |FROM q JOIN c ON target >= cum AND target < cum + cf
         |ORDER BY q_id""".stripMargin),

    // bloom store statistics — the reference's `show_bloom_store_stats.cc`
    // analog: build the two-way phrase-pruning store over the corpus and
    // report its shape (row count, filter bytes, hash count) next to the
    // corpus-truth neighbor-set sizes the filters were filled from. The
    // oracle recomputes the neighbor sets positionally and pins the sizing
    // constants (m=73 bits → 10 bytes, k=10 at n=5, p=9e-4) as goldens —
    // a store whose row set, blob size, or hash count drifts fails here.
    GradedQuery("idx_bloom_stats", { (s, dir) =>
      import s.implicits._
      val docRows = docs(s, dir)
        .select(col("doc_id").cast("int").as("docId"), col("text")).as[(Int, String)]
        .map { case (id, text) =>
          IndexBuilder.DocRow(id, "d", id.toString, "", "", "", text)
        }
      val store = graft.index.Bloom.buildStore(docRows)
        .toDF("term", "docId", "beginBits", "endBits", "k")
      val storeStats = store.agg(
        count(lit(1)).cast("long").as("n_filters"),
        min(least(length(col("beginBits")), length(col("endBits"))))
          .cast("long").as("filter_bytes_min"),
        max(greatest(length(col("beginBits")), length(col("endBits"))))
          .cast("long").as("filter_bytes_max"),
        max(col("k")).cast("long").as("k_hashes"))
      // corpus-truth neighbor sets: for each (doc, term), the distinct
      // immediately-preceding / following terms (what buildStore inserted)
      val base = docs(s, dir).select(col("doc_id"), toks.as("t"))
      val nb = base
        .select(col("doc_id"), col("t"), posexplode(col("t")).as(Seq("p", "term")))
        .select(col("doc_id"), col("term"),
          when(col("p") > 0, element_at(col("t"), col("p"))).as("prev"),
          when(col("p") < size(col("t")) - 1, element_at(col("t"), col("p") + 2)).as("next"))
        .groupBy("doc_id", "term")
        .agg(size(collect_set(col("prev"))).cast("long").as("n_begin"),
          size(collect_set(col("next"))).cast("long").as("n_end"))
        .filter(col("n_begin") + col("n_end") > 0)
      val nbStats = nb.agg(
        count(lit(1)).cast("long").as("n_neighbor_rows"),
        sum("n_begin").cast("long").as("sum_begin_entries"),
        sum("n_end").cast("long").as("sum_end_entries"),
        sum((col("n_begin") > 5 || col("n_end") > 5).cast("long"))
          .cast("long").as("n_overfull"))
      storeStats.crossJoin(nbStats)
        .select(col("n_filters"), col("n_neighbor_rows"),
          col("filter_bytes_min"), col("filter_bytes_max"), col("k_hashes"),
          col("sum_begin_entries"), col("sum_end_entries"), col("n_overfull"))
    },
      s"""WITH base AS (SELECT doc_id, $T tk FROM documents),
         | pos AS (SELECT doc_id, unnest(list_transform(range(len(tk)),
         |   i -> {'term': tk[i+1],
         |         'prev': CASE WHEN i > 0 THEN tk[i] ELSE NULL END,
         |         'nxt': CASE WHEN i < len(tk)-1 THEN tk[i+2] ELSE NULL END}),
         |   recursive := true) FROM base),
         | nb AS (SELECT doc_id, term,
         |   count(DISTINCT prev)::BIGINT n_begin, count(DISTINCT nxt)::BIGINT n_end
         |   FROM pos GROUP BY doc_id, term
         |   HAVING count(prev) > 0 OR count(nxt) > 0)
         |SELECT count(*)::BIGINT n_filters, count(*)::BIGINT n_neighbor_rows,
         | 10::BIGINT filter_bytes_min, 10::BIGINT filter_bytes_max,
         | 10::BIGINT k_hashes,
         | sum(n_begin)::BIGINT sum_begin_entries,
         | sum(n_end)::BIGINT sum_end_entries,
         | coalesce(sum(CASE WHEN n_begin > 5 OR n_end > 5 THEN 1 ELSE 0 END), 0)::BIGINT n_overfull
         |FROM nb""".stripMargin),

    // the composite curation decision — the end-to-end quality-filter
    // pipeline (length gate ∧ no repeated lines ∧ bounded trigram
    // repetition ∧ bounded LM surprisal), assembled from the memoized
    // signal operators; each flag rides along so a dropped doc is
    // attributable
    GradedQuery("filter_quality", { (s, dir) =>
      val q = TextOps.qualityFeatures(docs(s, dir), "text", "doc_id")
        .select(col("doc_id"), col("len_ok").cast("long").as("len_ok"))
      val rep = TextOps.repetitionSignals(lineAugmented(s, dir), "text", "doc_id")
        .select(col("doc_id"), col("dup_line_ratio_micro"), col("dup_trigram_ratio_micro"))
      val nll = TextOps.unigramNll(tfTable(s, dir), "doc_id")
        .select(col("doc_id"), col("avg_nll_micro"))
      q.join(rep, "doc_id").join(nll, "doc_id")
        .select(col("doc_id"), col("len_ok"), col("dup_line_ratio_micro"),
          col("dup_trigram_ratio_micro"), col("avg_nll_micro"),
          (col("len_ok") === 1 && col("dup_line_ratio_micro") === 0 &&
            col("dup_trigram_ratio_micro") < 200000 &&
            col("avg_nll_micro") < 3450000).cast("long").as("keep"))
        .orderBy("doc_id")
    },
      s"""WITH aug AS ($LineAugSql),
         | base AS (SELECT doc_id, list_filter(str_split(text, chr(10)), x -> x <> '') ls,
         |   $T tk FROM aug),
         | rep AS (SELECT doc_id,
         |   CASE WHEN len(ls) = 0 THEN 0 ELSE round((len(ls) - len(list_distinct(ls)))::DOUBLE / len(ls)::DOUBLE * 1e6)::BIGINT END dup_line,
         |   CASE WHEN len(g3) = 0 THEN 0 ELSE round((len(g3) - len(list_distinct(g3)))::DOUBLE / len(g3)::DOUBLE * 1e6)::BIGINT END dup_tri
         |  FROM (SELECT doc_id, ls,
         |    CASE WHEN len(tk) < 3 THEN []::VARCHAR[]
         |      ELSE list_transform(range(1, len(tk) - 1), i -> array_to_string(tk[i:i+2], ' ')) END g3
         |   FROM base)),
         | tf AS (SELECT * FROM $TF),
         | tot AS (SELECT sum(tf)::BIGINT total FROM tf),
         | lm AS (SELECT term, round(ln((SELECT total FROM tot)::DOUBLE / sum(tf)::DOUBLE) * 1e6)::BIGINT nll_micro
         |        FROM tf GROUP BY term),
         | nll AS (SELECT doc_id, round(sum(tf * nll_micro)::DOUBLE / sum(tf)::DOUBLE)::BIGINT avg_nll
         |         FROM tf JOIN lm USING (term) GROUP BY doc_id),
         | q AS (SELECT doc_id, (len($T) >= 5 AND len($T) <= 100000)::BIGINT len_ok FROM documents)
         |SELECT doc_id, len_ok, dup_line dup_line_ratio_micro, dup_tri dup_trigram_ratio_micro,
         | avg_nll avg_nll_micro,
         | (len_ok = 1 AND dup_line = 0 AND dup_tri < 200000 AND avg_nll < 3450000)::BIGINT keep
         |FROM q JOIN rep USING (doc_id) JOIN nll USING (doc_id) ORDER BY doc_id""".stripMargin),

    // fixed-window token chunking with overlap (doc -> training sequences)
    GradedQuery("text_chunks", (s, dir) =>
      TextOps.chunkDocs(docs(s, dir), "text", "doc_id", chunkTokens = 64, overlap = 8)
        .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
          col("n_chunk_tokens"), col("chunk_sha"))
        .orderBy("doc_id", "chunk_idx"),
      s"""WITH base AS (SELECT doc_id, $T tk FROM documents),
         | st AS (SELECT doc_id, tk, len(tk) n,
         |   CASE WHEN len(tk) <= 8 THEN 1
         |        ELSE CAST(ceil((len(tk) - 8)::DOUBLE / 56) AS INT) END n_chunks
         |  FROM base WHERE len(tk) > 0),
         | ch AS (SELECT doc_id, unnest(list_transform(range(n_chunks),
         |   i -> {'ci': i, 'c': tk[i*56+1 : i*56+64]}), recursive := true) FROM st)
         |SELECT doc_id, ci::BIGINT chunk_idx, len(c)::BIGINT n_chunk_tokens,
         | sha256(array_to_string(c, ' ')) chunk_sha
         |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin),

    // deterministic sequence packing: corpus laid end-to-end in hash order,
    // exclusive prefix sum via the two-pass range-partition scan (no
    // unpartitioned window), bin = offset / seqLen
    GradedQuery("pack_sequences", (s, dir) =>
      TextOps.packSequences(
          lenTable(s, dir).withColumnRenamed("len", "n_tokens"),
          "doc_id", "n_tokens", seqLen = 2048L)
        .select(col("doc_id"), col("n_tokens"), col("offset").as("tok_offset"),
          col("bin_id"), col("bin_offset"))
        .orderBy("doc_id"),
      s"""WITH lens AS (SELECT * FROM $LEN),
         | b AS (SELECT doc_id, len n_tokens,
         |   ('0x' || substr(md5(doc_id::VARCHAR || ':graft'), 1, 15))::BIGINT % 1000000 bucket
         |  FROM lens),
         | o AS (SELECT doc_id, n_tokens,
         |   coalesce(sum(n_tokens) OVER (ORDER BY bucket, doc_id
         |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT tok_offset
         |  FROM b)
         |SELECT doc_id, n_tokens, tok_offset,
         | (tok_offset // 2048)::BIGINT bin_id, (tok_offset % 2048)::BIGINT bin_offset
         |FROM o ORDER BY doc_id""".stripMargin),

    // Gopher-style repetition signals (dup lines / dup trigrams / top
    // bigram mass) over the multi-line fixture
    GradedQuery("text_repetition", (s, dir) =>
      TextOps.repetitionSignals(lineAugmented(s, dir), "text", "doc_id")
        .select(col("doc_id"), col("n_lines"), col("dup_line_ratio_micro"),
          col("dup_trigram_ratio_micro"), col("top_bigram_ratio_micro"))
        .orderBy("doc_id"),
      s"""WITH aug AS ($LineAugSql),
         |base AS (SELECT doc_id,
         |  list_filter(str_split(text, chr(10)), x -> x <> '') ls, $T tk FROM aug),
         |g AS (SELECT doc_id, ls,
         |  CASE WHEN len(tk) < 2 THEN []::VARCHAR[]
         |    ELSE list_transform(range(1, len(tk)), i -> array_to_string(tk[i:i+1], ' ')) END g2,
         |  CASE WHEN len(tk) < 3 THEN []::VARCHAR[]
         |    ELSE list_transform(range(1, len(tk) - 1), i -> array_to_string(tk[i:i+2], ' ')) END g3
         |  FROM base),
         |top2 AS (SELECT doc_id, max(c) top_g2 FROM
         |  (SELECT doc_id, b, count(*) c FROM (SELECT doc_id, unnest(g2) b FROM g) GROUP BY 1, 2)
         |  GROUP BY 1)
         |SELECT g.doc_id, len(ls)::BIGINT n_lines,
         | CASE WHEN len(ls) = 0 THEN 0 ELSE round((len(ls) - len(list_distinct(ls)))::DOUBLE / len(ls)::DOUBLE * 1e6)::BIGINT END dup_line_ratio_micro,
         | CASE WHEN len(g3) = 0 THEN 0 ELSE round((len(g3) - len(list_distinct(g3)))::DOUBLE / len(g3)::DOUBLE * 1e6)::BIGINT END dup_trigram_ratio_micro,
         | CASE WHEN len(g2) = 0 THEN 0 ELSE round(coalesce(top_g2, 0)::DOUBLE / len(g2)::DOUBLE * 1e6)::BIGINT END top_bigram_ratio_micro
         |FROM g LEFT JOIN top2 ON g.doc_id = top2.doc_id ORDER BY g.doc_id""".stripMargin),

    // corpus-level line dedup (CCNet paragraph-dedup analog): per-doc count
    // of cross-document boilerplate lines + sha of the cleaned body
    GradedQuery("dedup_lines", (s, dir) =>
      TextOps.lineDedup(lineAugmented(s, dir), "text", "doc_id", minDocs = 2)
        .select(col("doc_id"), col("n_lines"), col("n_dup_lines"), col("clean_sha"))
        .orderBy("doc_id"),
      s"""WITH aug AS ($LineAugSql),
         |base AS (SELECT doc_id, list_filter(str_split(text, chr(10)), x -> x <> '') ls FROM aug),
         |lines AS (SELECT doc_id, unnest(list_transform(range(len(ls)),
         |  i -> {'pos': i, 'line': ls[i+1]}), recursive := true) FROM base),
         |nd AS (SELECT line, count(*) ndocs FROM (SELECT DISTINCT doc_id, line FROM lines) GROUP BY 1)
         |SELECT doc_id, count(*)::BIGINT n_lines,
         | sum(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END)::BIGINT n_dup_lines,
         | sha256(coalesce(string_agg(CASE WHEN ndocs < 2 THEN line END, chr(10) ORDER BY pos), '')) clean_sha
         |FROM lines JOIN nd USING (line) GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // deterministic stratified sampling: per-language per-million keep
    // rates over a content-stable hash bucket (map-only at scale)
    GradedQuery("sample_stratified", (s, dir) =>
      TextOps.stratifiedSample(docs(s, dir), "doc_id", "lang",
        Map("en" -> 500000L, "de" -> 250000L, "zh" -> 150000L,
          "es" -> 100000L, "fr" -> 50000L))
        .select(col("doc_id"), col("lang"), col("bucket"))
        .orderBy("doc_id"),
      s"""SELECT doc_id, lang, bucket FROM (
         | SELECT doc_id, lang,
         |  ('0x' || substr(md5(doc_id::VARCHAR || ':graft'), 1, 15))::BIGINT % 1000000 bucket
         | FROM documents)
         |WHERE bucket < CASE lang WHEN 'en' THEN 500000 WHEN 'de' THEN 250000
         |  WHEN 'zh' THEN 150000 WHEN 'es' THEN 100000 WHEN 'fr' THEN 50000 ELSE 0 END
         |ORDER BY doc_id""".stripMargin),

    // quota sampling: first 20 docs per language in deterministic hash
    // order (partitioned window — scales with the largest stratum)
    GradedQuery("sample_quota", (s, dir) =>
      TextOps.quotaSample(docs(s, dir), "doc_id", "lang", quota = 20)
        .select(col("doc_id"), col("lang"), col("bucket"), col("rn").cast("long").as("rn"))
        .orderBy("doc_id"),
      s"""SELECT doc_id, lang, bucket, rn FROM (
         | SELECT doc_id, lang, bucket,
         |  row_number() OVER (PARTITION BY lang ORDER BY bucket, doc_id) rn
         | FROM (SELECT doc_id, lang,
         |   ('0x' || substr(md5(doc_id::VARCHAR || ':graft'), 1, 15))::BIGINT % 1000000 bucket
         |  FROM documents))
         |WHERE rn <= 20 ORDER BY doc_id""".stripMargin),

    // data-mixture sampling: 200 docs at a 50/20/15/10/5 language mixture —
    // exact integer Hamilton apportionment, quota-lowest rows per source by
    // the salted hash order (capping/redistribution path unit-tested in
    // OpsSpec; uncapped here so the oracle stays loop-free)
    GradedQuery("sample_mixture", (s, dir) =>
      TextOps.mixtureSample(docs(s, dir), "doc_id", "lang",
          Map("en" -> 50L, "de" -> 20L, "es" -> 15L, "fr" -> 10L, "zh" -> 5L),
          total = 200L)
        .select(col("doc_id"), col("lang"), col("rn").cast("long").as("rn"))
        .orderBy("doc_id"),
      // mixture sampling: exact integer Hamilton apportionment mirrored CTE
      // for CTE — quota = floor(total*parts/psum) + largest-remainder bumps
      // (ties to the smaller lang), then the same hash-rank selection as
      // sample_quota
      s"""WITH w(lang, parts) AS (VALUES ('de', 20), ('en', 50), ('es', 15), ('fr', 10), ('zh', 5)),
         | ps AS (SELECT sum(parts)::BIGINT psum FROM w),
         | base AS (SELECT lang, (200 * parts) // psum q, (200 * parts) % psum rem FROM w, ps),
         | lft AS (SELECT (200 - sum(q))::BIGINT l FROM base),
         | rk AS (SELECT lang, q, row_number() OVER (ORDER BY rem DESC, lang) r FROM base),
         | quota AS (SELECT lang, q + CASE WHEN r <= (SELECT l FROM lft) THEN 1 ELSE 0 END quota FROM rk),
         | hashed AS (SELECT doc_id, lang,
         |   ('0x' || substr(md5(doc_id::VARCHAR || ':graft'), 1, 15))::BIGINT % 1000000 bucket
         |  FROM documents),
         | ranked AS (SELECT doc_id, lang, bucket,
         |   row_number() OVER (PARTITION BY lang ORDER BY bucket, doc_id) rn FROM hashed)
         |SELECT doc_id, lang, rn::BIGINT rn FROM ranked JOIN quota USING (lang)
         |WHERE rn <= quota ORDER BY doc_id""".stripMargin),

    // multimodal plumbing: binary payload + typed metadata (decode stubbed)
    GradedQuery("mm_meta", { (s, dir) =>
      import s.implicits._
      Multimodal.extract(Multimodal.fromDocuments(s, docs(s, dir)))
        .select(col("media_id"), col("kind"), col("n_bytes").cast("long").as("n_bytes"),
          col("sha256").as("sha"))
        .orderBy("media_id")
    },
      s"""SELECT doc_id media_id,
         | CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END kind,
         | octet_length(encode(text))::BIGINT n_bytes, sha256(text) sha
         |FROM documents ORDER BY media_id""".stripMargin),

    // multimodal REAL header sniffing: magic-number container detection +
    // PNG/JPEG/GIF/BMP dimension parse over binary payloads — pure byte
    // parsing, no media libs. Fixtures are deterministic functions of the
    // id (JPEG with an id-length COM segment before SOF0, so the segment
    // walk is genuinely variable-offset) and the oracle states the
    // expected parse from the same formulas.
    GradedQuery("mm_kind_detect", { (s, dir) =>
      import s.implicits._
      docs(s, dir).select(col("doc_id").cast("long")).as[Long]
        .map { id =>
          val payload = Multimodal.syntheticHeader(id)
          val r = Multimodal.sniffHeader(payload)
          (id, r.format, r.width.toLong, r.height.toLong, payload.length.toLong)
        }
        .toDF("media_id", "format", "width", "height", "n_bytes")
        .orderBy("media_id")
    },
      s"""SELECT doc_id media_id,
         | CASE doc_id % 6 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' WHEN 2 THEN 'gif'
         |   WHEN 3 THEN 'bmp' WHEN 4 THEN 'wav' ELSE 'unknown' END format,
         | (CASE WHEN doc_id % 6 <= 3 THEN 1 + doc_id % 1023 ELSE 0 END)::BIGINT width,
         | (CASE WHEN doc_id % 6 <= 3 THEN 1 + (doc_id * 7) % 769 ELSE 0 END)::BIGINT height,
         | (CASE doc_id % 6 WHEN 0 THEN 33 WHEN 1 THEN 43 + doc_id % 32 WHEN 2 THEN 13
         |   WHEN 3 THEN 54 WHEN 4 THEN 12 ELSE 12 END)::BIGINT n_bytes
         |FROM documents ORDER BY media_id""".stripMargin),

    // audio/video container metadata — WAV RIFF-chunk walk (sample rate,
    // channels, duration from declared data size / byte rate) and MP4
    // box walk (mvhd timescale+duration, tkhd 16.16 track dims); pure
    // byte parsing over header prefixes, no codec libs. Oracle restates
    // every parsed field from the fixture formulas.
    GradedQuery("mm_av_probe", { (s, dir) =>
      import s.implicits._
      docs(s, dir).select(col("doc_id").cast("long")).as[Long]
        .map { id =>
          val r = Multimodal.probeAv(Multimodal.syntheticAvHeader(id))
          (id, r.format, r.width, r.height, r.sample_rate, r.channels, r.duration_ms)
        }
        .toDF("media_id", "format", "width", "height",
          "sample_rate", "channels", "duration_ms")
        .orderBy("media_id")
    },
      // integer division in both engines: Spark's Long / truncates, DuckDB's
      // // floors — identical for the non-negative operands here
      s"""SELECT doc_id media_id,
         | CASE doc_id % 3 WHEN 0 THEN 'wav' WHEN 1 THEN 'mp4' ELSE 'unknown' END format,
         | (CASE WHEN doc_id % 3 = 1 THEN 16 * (1 + doc_id % 120) ELSE 0 END)::BIGINT width,
         | (CASE WHEN doc_id % 3 = 1 THEN 16 * (1 + (doc_id * 3) % 68) ELSE 0 END)::BIGINT height,
         | (CASE WHEN doc_id % 3 = 0 THEN 8000 * (1 + doc_id % 5) ELSE 0 END)::BIGINT sample_rate,
         | (CASE WHEN doc_id % 3 = 0 THEN 1 + doc_id % 2 ELSE 0 END)::BIGINT channels,
         | (CASE doc_id % 3
         |   WHEN 0 THEN ((1 + doc_id % 100) * 1024 * 1000)
         |     // (8000 * (1 + doc_id % 5) * (1 + doc_id % 2) * 2)
         |   WHEN 1 THEN ((1 + doc_id % 1000) * 60 * 1000) // (600 * (1 + doc_id % 4))
         |   ELSE 0 END)::BIGINT duration_ms
         |FROM documents ORDER BY media_id""".stripMargin),

    // REAL image decode: complete 24-bit BMP files (bottom-up rows, 4-byte
    // padding) synthesized per id, decoded by Multimodal.decodeBmp, then
    // channel means + a 4x4 nearest-neighbor grayscale thumbnail in exact
    // integer arithmetic. The oracle recomputes every value from the
    // generator's pixel formulas — a row-order, padding, or BGR/RGB bug in
    // the decoder is a hash mismatch, not a stub detail.
    GradedQuery("mm_decode_bmp", { (s, dir) =>
      import s.implicits._
      docs(s, dir).select(col("doc_id").cast("long")).as[Long]
        .map { id =>
          val img = Multimodal.decodeBmp(Multimodal.syntheticBmp(id)).get
          var sr = 0L; var sg = 0L; var sb = 0L
          img.pixels.foreach { p =>
            sr += (p >> 16) & 0xff; sg += (p >> 8) & 0xff; sb += p & 0xff
          }
          val n = img.width.toLong * img.height
          (id, img.width.toLong, img.height.toLong,
            sr * 1000000L / n, sg * 1000000L / n, sb * 1000000L / n,
            Multimodal.thumbnailGray(img, 4, 4).mkString(","))
        }
        .toDF("media_id", "width", "height", "mean_r_micro", "mean_g_micro",
          "mean_b_micro", "thumb_gray4")
        .orderBy("media_id")
    }, {
      // decoded-BMP oracle: every value restated from the generator's pixel
      // formulas (R=(id+7x+13y)%256, G=(3id+5x+y)%256, B=(xy+id)%256 over
      // w=1+id%16, h=1+7id%16); sx=(tx*w)//4, sy=(ty*h)//4 nearest-neighbor
      def sum2(expr: String) =
        s"list_sum(flatten(list_transform(range(0, w), x -> list_transform(range(0, h), y -> $expr))))"
      def at(expr: String) = expr
        .replace("x", "((i % 4) * w // 4)").replace("y", "((i // 4) * h // 4)")
      val r = "(doc_id + 7 * x + 13 * y) % 256"
      val g = "(3 * doc_id + 5 * x + y) % 256"
      val b = "(x * y + doc_id) % 256"
      s"""WITH d AS (SELECT doc_id, 1 + doc_id % 16 w, 1 + (doc_id * 7) % 16 h FROM documents)
         |SELECT doc_id media_id, w::BIGINT width, h::BIGINT height,
         | (${sum2(r)} * 1000000 // (w * h))::BIGINT mean_r_micro,
         | (${sum2(g)} * 1000000 // (w * h))::BIGINT mean_g_micro,
         | (${sum2(b)} * 1000000 // (w * h))::BIGINT mean_b_micro,
         | array_to_string(list_transform(range(0, 16), i ->
         |   (299 * (${at(r)}) + 587 * (${at(g)}) + 114 * (${at(b)})) // 1000), ',') thumb_gray4
         |FROM d ORDER BY media_id""".stripMargin
    }),

    // REAL PNG decode: complete files (zlib IDAT, per-row filter y % 5 so
    // all five standard filters are exercised, true chunk CRC32s) decoded
    // by Multimodal.decodePng; same graded shape as mm_decode_bmp — the
    // oracle recomputes every value from the generator pixel formulas, so
    // a filter-reconstruction or inflate bug is a hash mismatch
    GradedQuery("mm_decode_png", { (s, dir) =>
      import s.implicits._
      docs(s, dir).select(col("doc_id").cast("long")).as[Long]
        .map { id =>
          val img = Multimodal.decodePng(Multimodal.syntheticPng(id)).get
          var sr = 0L; var sg = 0L; var sb = 0L
          img.pixels.foreach { p =>
            sr += (p >> 16) & 0xff; sg += (p >> 8) & 0xff; sb += p & 0xff
          }
          val n = img.width.toLong * img.height
          (id, img.width.toLong, img.height.toLong,
            sr * 1000000L / n, sg * 1000000L / n, sb * 1000000L / n,
            Multimodal.thumbnailGray(img, 4, 4).mkString(","))
        }
        .toDF("media_id", "width", "height", "mean_r_micro", "mean_g_micro",
          "mean_b_micro", "thumb_gray4")
        .orderBy("media_id")
    }, {
      // decoded-PNG oracle: the generator pixel formulas restated (same
      // structure as mm_decode_bmp — the decoder's inflate + filter
      // reconstruction must land exactly on these)
      def sum2(expr: String) =
        s"list_sum(flatten(list_transform(range(0, w), x -> list_transform(range(0, h), y -> $expr))))"
      def at(expr: String) = expr
        .replace("x", "((i % 4) * w // 4)").replace("y", "((i // 4) * h // 4)")
      val r = "(2 * doc_id + 11 * x + 3 * y) % 256"
      val g = "(5 * doc_id + x * y + 2 * y) % 256"
      val b = "(7 * doc_id + 4 * x + 5 * y) % 256"
      s"""WITH d AS (SELECT doc_id, 1 + doc_id % 16 w, 1 + (doc_id * 7) % 16 h FROM documents)
         |SELECT doc_id media_id, w::BIGINT width, h::BIGINT height,
         | (${sum2(r)} * 1000000 // (w * h))::BIGINT mean_r_micro,
         | (${sum2(g)} * 1000000 // (w * h))::BIGINT mean_g_micro,
         | (${sum2(b)} * 1000000 // (w * h))::BIGINT mean_b_micro,
         | array_to_string(list_transform(range(0, 16), i ->
         |   (299 * (${at(r)}) + 587 * (${at(g)}) + 114 * (${at(b)})) // 1000), ',') thumb_gray4
         |FROM d ORDER BY media_id""".stripMargin
    }),

    // REAL JPEG decode: complete baseline files (Annex-K Huffman tables,
    // byte-stuffed entropy-coded scan, 4:4:4 YCbCr) synthesized per id and
    // decoded by Multimodal.decodeJpeg — Huffman walk, DC prediction,
    // dezigzag, dequant, fixed-point IDCT, and integer YCbCr→RGB all gate
    // this row. The oracle recomputes every pixel from the generator's
    // coefficient formulas through the SAME shared integer IDCT table and
    // color constants, so a table, shift, or predictor bug is a hash
    // mismatch
    GradedQuery("mm_decode_jpeg", { (s, dir) =>
      import s.implicits._
      docs(s, dir).select(col("doc_id").cast("long")).as[Long]
        .map { id =>
          val img = Multimodal.decodeJpeg(Multimodal.syntheticJpeg(id)).get
          var sr = 0L; var sg = 0L; var sb = 0L
          img.pixels.foreach { p =>
            sr += (p >> 16) & 0xff; sg += (p >> 8) & 0xff; sb += p & 0xff
          }
          val n = img.width.toLong * img.height
          (id, img.width.toLong, img.height.toLong,
            sr * 1000000L / n, sg * 1000000L / n, sb * 1000000L / n,
            Multimodal.thumbnailGray(img, 4, 4).mkString(","))
        }
        .toDF("media_id", "width", "height", "mean_r_micro", "mean_g_micro",
          "mean_b_micro", "thumb_gray4")
        .orderBy("media_id")
    }, {
      // decoded-JPEG oracle: 1-4 MCUs (8/16 per axis) whose only nonzero
      // coefficients are the generator's per-block dc/a1/a2/a5 formulas
      // (decoded DCs are the ABSOLUTE values — prediction is codec-internal);
      // each pixel restated through the
      // SAME shared fixed-point IDCT table (Multimodal.JpegCos — embedded as
      // literals below, machine-generated) and libjpeg color constants, with
      // arithmetic >> (floor) on both sides
      val c0 = graft.ops.Multimodal.JpegCos(0)(0)
      def btLit(u: Int) =
        "[" + (0 until 8).map(x => graft.ops.Multimodal.JpegCos(x)(u)).mkString(", ") + "]"
      def cl(e: String) = s"greatest(0, least(255, $e))"
      // component value at GLOBAL (x, y): row-major block index selects
      // the block coefficients, the 4-term IDCT closed form runs on the
      // local (x%8, y%8) offsets + level shift
      def valc(c: Int, xe: String, ye: String) = {
        val b = s"(((($ye) // 8) * (w // 8)) + (($xe) // 8))"
        val dcq = s"(((doc_id * ${3 + c} + 5 * $b + $c) % 128 - 64) * 8)"
        val a1q = s"(((doc_id + ${5 * c} + 3 * $b) % 15 - 7) * 16)"
        val a2q = s"(((5 * doc_id + ${3 * c} + $b) % 13 - 6) * 16)"
        val a5q = s"(((3 * doc_id + ${7 * c} + 11 * $b) % 11 - 5) * 16)"
        val acc = s"($c0 * $c0 * $dcq + $c0 * (bt1[(($xe) % 8) + 1] * $a1q + " +
          s"bt2[(($xe) % 8) + 1] * $a5q + bt1[(($ye) % 8) + 1] * $a2q))"
        cl(s"((($acc + 33554432) >> 26) + 128)")
      }
      def rgb(xe: String, ye: String): (String, String, String) = {
        val yv = valc(0, xe, ye); val cb = valc(1, xe, ye); val cr = valc(2, xe, ye)
        (cl(s"$yv + ((91881 * ($cr - 128) + 32768) >> 16)"),
          cl(s"$yv - ((22554 * ($cb - 128) + 46802 * ($cr - 128) + 32768) >> 16)"),
          cl(s"$yv + ((116130 * ($cb - 128) + 32768) >> 16)"))
      }
      def sum2(e: String) =
        s"list_sum(flatten(list_transform(range(0, w), x -> list_transform(range(0, h), y -> $e))))"
      val (r, g, b) = rgb("x", "y")
      val (rt, gt, bt) = rgb("(i % 4) * w // 4", "(i // 4) * h // 4")
      s"""WITH bts AS (SELECT ${btLit(1)} bt1, ${btLit(2)} bt2),
         | d AS (SELECT doc_id, 8 + 8 * (doc_id % 2) w, 8 + 8 * ((doc_id // 2) % 2) h FROM documents)
         |SELECT doc_id media_id, w::BIGINT width, h::BIGINT height,
         | (${sum2(r)} * 1000000 // (w * h))::BIGINT mean_r_micro,
         | (${sum2(g)} * 1000000 // (w * h))::BIGINT mean_g_micro,
         | (${sum2(b)} * 1000000 // (w * h))::BIGINT mean_b_micro,
         | array_to_string(list_transform(range(0, 16), i ->
         |   (299 * ($rt) + 587 * ($gt) + 114 * ($bt)) // 1000), ',') thumb_gray4
         |FROM d, bts ORDER BY media_id""".stripMargin
    }),

    // REAL audio decode: 16-bit PCM WAV files decoded to samples
    // (RIFF chunk walk + sign-extended little-endian s16), graded on
    // sample count, energy (exact integer sum of squares) and peak
    GradedQuery("mm_decode_wav", { (s, dir) =>
      import s.implicits._
      docs(s, dir).select(col("doc_id").cast("long")).as[Long]
        .map { id =>
          val pcm = Multimodal.decodeWavPcm(Multimodal.syntheticWav(id)).get
          var ss = 0L; var peak = 0L
          pcm.samples.foreach { v =>
            ss += v.toLong * v; if (math.abs(v) > peak) peak = math.abs(v)
          }
          (id, pcm.sampleRate.toLong, pcm.channels.toLong,
            pcm.samples.length.toLong, ss, peak)
        }
        .toDF("media_id", "sample_rate", "channels", "n_samples",
          "sum_sq", "peak_abs")
        .orderBy("media_id")
    }, {
      // decoded-WAV oracle: sample i = (id*31 + i*17) % 4001 - 2000 over
      // n = 64 + id % 64 samples at rate 8000*(1+id%4), ch = 1+id%2
      val smp = "((doc_id * 31 + i * 17) % 4001 - 2000)"
      s"""WITH d AS (SELECT doc_id, 8000 * (1 + doc_id % 4) rate,
         |             1 + doc_id % 2 ch, 64 + doc_id % 64 n FROM documents)
         |SELECT doc_id media_id, rate::BIGINT sample_rate, ch::BIGINT channels,
         | n::BIGINT n_samples,
         | list_sum(list_transform(range(0, n), i -> $smp * $smp))::BIGINT sum_sq,
         | list_max(list_transform(range(0, n), i -> abs($smp)))::BIGINT peak_abs
         |FROM d ORDER BY media_id""".stripMargin
    }),

    // media -> feature -> similarity, end to end REAL: decode the BMP
    // payloads, take the 4x4 integer grayscale thumbnail as the feature
    // vector, find the top-20 most-similar image pairs by exact-integer
    // dot + cosine (codegen'd long_dot; norms precomputed per vector).
    // All-pairs is the bounded verifier shape — at corpus scale the same
    // vectors route through the LSH/IVF candidate paths like any
    // embedding column.
    GradedQuery("mm_thumb_neardup", { (s, dir) =>
      import s.implicits._
      val ld = (x: Column, y: Column) => graft.functions.functions.long_dot(x, y)
      val thumbs = docs(s, dir).select(col("doc_id").cast("long")).as[Long]
        .map { id =>
          val img = Multimodal.decodeBmp(Multimodal.syntheticBmp(id)).get
          (id, Multimodal.thumbnailGray(img, 4, 4).map(_.toLong))
        }.toDF("vid", "v")
        .withColumn("n2", ld(col("v"), col("v")))
      val a = thumbs.select(col("vid").as("id_a"), col("v").as("va"), col("n2").as("na"))
      val b = thumbs.select(col("vid").as("id_b"), col("v").as("vb"), col("n2").as("nb"))
      a.crossJoin(b).filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          when(col("na") === 0 || col("nb") === 0, lit(0L))
            .otherwise(round(ld(col("va"), col("vb")).cast("double")
              / sqrt(col("na").cast("double") * col("nb").cast("double")) * 1e6)
              .cast("long"))
            .as("cos_micro"))
        .orderBy(desc("cos_micro"), asc("id_a"), asc("id_b")).limit(20)
    }, {
      // thumbnail near-dup oracle: the 16-gray-value vector restated from
      // the generator pixel formulas (same `at` substitution as
      // mm_decode_bmp), then exact dot/cosine over all pairs
      def at(expr: String) = expr
        .replace("x", "((i % 4) * w // 4)").replace("y", "((i // 4) * h // 4)")
      val r = "(doc_id + 7 * x + 13 * y) % 256"
      val g = "(3 * doc_id + 5 * x + y) % 256"
      val b = "(x * y + doc_id) % 256"
      val gray = s"(299 * (${at(r)}) + 587 * (${at(g)}) + 114 * (${at(b)})) // 1000"
      s"""WITH d AS (SELECT doc_id, 1 + doc_id % 16 w, 1 + (doc_id * 7) % 16 h FROM documents),
         | t AS (SELECT doc_id vid, list_transform(range(0, 16), i -> $gray) v FROM d),
         | n AS (SELECT vid, v, list_dot_product(v, v) n2 FROM t),
         | p AS (SELECT a.vid id_a, b.vid id_b,
         |   CASE WHEN a.n2 = 0 OR b.n2 = 0 THEN 0
         |        ELSE round(list_dot_product(a.v, b.v)
         |          / sqrt(a.n2::DOUBLE * b.n2::DOUBLE) * 1e6)::BIGINT END cos_micro
         |  FROM n a, n b WHERE a.vid < b.vid)
         |SELECT id_a, id_b, cos_micro FROM p
         |ORDER BY cos_micro DESC, id_a, id_b LIMIT 20""".stripMargin
    }),

    // multimodal REAL feature extraction: byte histogram / mean / entropy
    // over the binary payload column (batched mapPartitions, no stub)
    GradedQuery("mm_bytestats", { (s, dir) =>
      import s.implicits._
      val st = Multimodal.byteStats(Multimodal.fromDocuments(s, docs(s, dir)))
      val histCols = (0 until 8).map(k => element_at(col("hist"), k + 1).as(s"h$k"))
      st.select((Seq(col("media_id"), col("n_bytes"), col("mean_byte_micro"),
          col("entropy_nats_micro")) ++ histCols): _*)
        .orderBy("media_id")
    }, {
      // payloads are UTF-8 text bytes; the corpus is ASCII (verified: max
      // codepoint 121), so per-char ascii() equals the byte value
      val hists = (0 until 8).map(k =>
        s"coalesce(sum(CASE WHEN b // 32 = $k THEN c END), 0)::BIGINT h$k").mkString(", ")
      s"""WITH m AS (SELECT doc_id media_id, text FROM documents WHERE length(text) > 0),
         | ch AS (SELECT media_id, ascii(c) b FROM m, unnest(string_split_regex(text, '')) u(c)),
         | agg AS (SELECT media_id, b, count(*)::BIGINT c FROM ch GROUP BY 1, 2),
         | n AS (SELECT media_id, octet_length(encode(text))::BIGINT nb FROM m)
         |SELECT a.media_id, nb n_bytes,
         | round(sum(b * c)::DOUBLE / nb * 1e6)::BIGINT mean_byte_micro,
         | round(list_reduce(list_prepend(0.0,
         |     list(-(c::DOUBLE/nb) * ln(c::DOUBLE/nb) ORDER BY b)),
         |   (x, y) -> x + y) * 1e6)::BIGINT entropy_nats_micro,
         | $hists
         |FROM agg a JOIN n ON a.media_id = n.media_id
         |GROUP BY a.media_id, nb ORDER BY a.media_id""".stripMargin
    })
  )

  // the driver contract's two views of `graded`
  def queries: Map[String, (SparkSession, String) => DataFrame] = graded.map(g => g.name -> g.spark).toMap
  def oracleSql: Map[String, String] = graded.map(g => g.name -> g.oracleSql).toMap

  /** BM25F fielded top-k (Robertson/Zaragoza simple BM25F; absent in the
    * reference, whose docs are body-only): title = the doc's first 8 engine
    * tokens at weight 2, body = the rest at weight 1. Weighted tf
    * (2·tf_title + tf_body) and weighted length (len + min(len, 8)) are
    * EXACT integers, so the single saturation formula over them is
    * cross-engine deterministic; idf uses the combined (any-field) df. The
    * per-field tf tables are word-count-shaped aggregations; the full-outer
    * merge is an equi-join on (doc, term). */
  private def bm25fTopK(s: SparkSession, dir: String, terms: Seq[String], k: Int): DataFrame = {
    val tffAll = tffTable(s, dir)
    val lens = tffAll.select(col("doc_id"), col("lenf")).distinct()
    val tff = tffAll.filter(col("term").isin(terms: _*))
    val pivoted = tff.groupBy("doc_id")
      .agg(max(when(col("term") === terms.head, col("tff"))).as("tf0"),
        terms.tail.zipWithIndex.map { case (t, i) =>
          max(when(col("term") === t, col("tff"))).as(s"tf${i + 1}")
        }: _*)
      .filter(terms.indices.map(i => col(s"tf$i").isNotNull).reduce(_ && _))
    val dfs = tff.agg(
      count(when(col("term") === terms.head, lit(1))).cast("long").as("df0"),
      terms.tail.zipWithIndex.map { case (t, i) =>
        count(when(col("term") === t, lit(1))).cast("long").as(s"df${i + 1}")
      }: _*)
    val stats = lens.agg(count(lit(1)).cast("long").as("n_docs"),
      sum("lenf").cast("long").as("sum_len"))
    val baseJ = lens.join(pivoted, "doc_id").crossJoin(dfs).crossJoin(stats)
    val avg = col("sum_len").cast("double") / col("n_docs").cast("double")
    val score = terms.indices.map { i =>
      val idf = log(lit(1.0) +
        (col("n_docs") - col(s"df$i") + lit(0.5)) / (col(s"df$i") + lit(0.5)))
      val tfn = col(s"tf$i") * lit(2.2) /
        (col(s"tf$i") + lit(1.2) * (lit(0.25) + lit(0.75) * col("lenf").cast("double") / avg))
      idf * tfn
    }.reduceLeft(_ + _)
    val top = baseJ.withColumn("score", score).select(col("doc_id"), col("score"))
      .orderBy(desc("score"), asc("doc_id")).limit(k)
    rankTopK(top, (b, a) => col("b.score") > col("a.score") ||
        (col("b.score") === col("a.score") && col("b.doc_id") < col("a.doc_id")))
      .select(col("rank").cast("long").as("rank"), col("doc_id"),
        round(col("score") * 1e6).cast("long").as("score_micro"))
      .orderBy("rank")
  }

  /** Synonym-group BM25 top-k (Lucene `SynonymQuery` semantics; the
    * reference has no query rewriting at all): each group of synonymous
    * terms scores as ONE pseudo-term — per-doc tf is the SUM over member
    * tfs, df counts docs containing ANY member (blended statistics), and
    * groups combine conjunctively with the same lossy-length BM25 as
    * [[bm25TopK]]. Members absent from the corpus contribute nothing; a
    * group matches a doc when any member occurs. */
  private def bm25SynTopK(s: SparkSession, dir: String,
                          groups: Seq[Seq[String]], k: Int): DataFrame = {
    val tfAll = tfTable(s, dir)
    val perGroup = groups.zipWithIndex.map { case (ms, i) =>
      tfAll.filter(col("term").isin(ms: _*))
        .groupBy("doc_id").agg(sum(col("tf")).cast("long").as(s"tf$i"))
    }
    val pivoted = perGroup.reduceLeft(_.join(_, "doc_id")) // conjunctive
    val dfs = groups.zipWithIndex.map { case (ms, i) =>
      tfAll.filter(col("term").isin(ms: _*)).select("doc_id").distinct()
        .agg(count(lit(1)).cast("long").as(s"df$i"))
    }.reduceLeft(_.crossJoin(_))
    val len = lenTable(s, dir)
    val stats = len.agg(count(lit(1)).cast("long").as("n_docs"),
      sum("len").cast("long").as("sum_len"))
    val baseJ = len.join(pivoted, "doc_id").crossJoin(dfs).crossJoin(stats)
    val avg = col("sum_len").cast("double") / col("n_docs").cast("double")
    val lossy = lossyLen(col("len")).cast("double")
    val score = groups.indices.map { i =>
      val idf = log(lit(1.0) +
        (col("n_docs") - col(s"df$i") + lit(0.5)) / (col(s"df$i") + lit(0.5)))
      val tfn = col(s"tf$i") * lit(2.2) /
        (col(s"tf$i") + lit(1.2) * (lit(0.25) + lit(0.75) * lossy / avg))
      idf * tfn
    }.reduceLeft(_ + _)
    val top = baseJ.withColumn("score", score).select(col("doc_id"), col("score"))
      .orderBy(desc("score"), asc("doc_id")).limit(k)
    rankTopK(top, (b, a) => col("b.score") > col("a.score") ||
        (col("b.score") === col("a.score") && col("b.doc_id") < col("a.doc_id")))
      .select(col("rank").cast("long").as("rank"), col("doc_id"),
        round(col("score") * 1e6).cast("long").as("score_micro"))
      .orderBy("rank")
  }

  /** The graded synonym groups: one group with an absent member (`quick` —
    * must contribute nothing), one with two live members (blended df). */
  private[graft] val SynGroups: Seq[Seq[String]] =
    Seq(Seq("fast", "quick"), Seq("scan", "filter"))

  // ---------- DuckDB oracle SQL ----------

  private val T = "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'), x -> x <> '')"
  private val TF =
    s"(SELECT doc_id, term, count(*)::BIGINT tf FROM (SELECT doc_id, unnest($T) term FROM documents) GROUP BY doc_id, term)"
  private val LEN = s"(SELECT doc_id, len($T)::BIGINT len FROM documents)"

  // ---- TEXT analyzer oracle (possessive → stopwords → Porter, mirroring
  // Tokenizer.tokenizeText; the stem chain is literal-generated by
  // Porter.sqlStemQuery from the SAME rule tables the Scala stemmer runs) ----
  /** Raw text tokens keeping `'` in the token alphabet. */
  private val TT =
    "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_'']+'), x -> x <> '')"
  private val StopSql =
    Tokenizer.EnglishStopWords.toSeq.sorted.map(w => s"'$w'").mkString(", ")
  /** Per-token possessive/apostrophe strip with the ORIGINAL raw-token
    * position (stopword removal leaves position gaps — Lucene posInc). */
  private def textKeptSql(where: String): String =
    s"""SELECT doc_id, pos, tok FROM (
       | SELECT doc_id, i::BIGINT pos,
       |   replace(regexp_replace(t[i+1], '''s$$', ''), '''', '') AS tok
       | FROM (SELECT doc_id, $TT t FROM documents$where), unnest(range(len(t))) u(i))
       |WHERE tok <> '' AND tok NOT IN ($StopSql)""".stripMargin
  /** (doc_id, pos, tok) fully analyzed: the Porter chain runs over the
    * DISTINCT vocabulary only (stem the dictionary, not the stream — at
    * 10^12 files the stream is trillions of tokens, the dictionary
    * millions), then joins back to the kept token stream. */
  private def textStemmedSql(where: String = ""): String = {
    val stems = graft.core.Porter.sqlStemQuery(
      s"SELECT tok AS orig, tok FROM (SELECT DISTINCT tok FROM (${textKeptSql(where)}))",
      "tok", Seq("orig"))
    s"""SELECT k.doc_id, k.pos, s.tok
       |FROM (${textKeptSql(where)}) k JOIN ($stems) s ON k.tok = s.orig""".stripMargin
  }
  private val TextTF =
    s"(SELECT doc_id, tok AS term, count(*)::BIGINT tf FROM (${textStemmedSql()}) GROUP BY doc_id, tok)"
  /** Post-stopword doc length (Lucene's norm); zero-survivor docs keep a
    * row with len 0, exactly like the Spark side. */
  private val TextLEN =
    s"""(SELECT d.doc_id, coalesce(k.len, 0)::BIGINT len FROM documents d
       | LEFT JOIN (SELECT doc_id, count(*)::BIGINT len
       |            FROM (${textKeptSql("")}) GROUP BY doc_id) k
       | ON d.doc_id = k.doc_id)""".stripMargin

  /** The graded stemmed query, analyzed by the SAME `tokenizeText` both
    * paths share — "queries table" → Seq("queri", "tabl"). */
  private[graft] val StemmedQuery = "queries table"
  private[graft] val StemmedQueryTerms: Seq[String] =
    Tokenizer.tokenizeText(StemmedQuery).map(_.term).toSeq

  // ---- FOLDED-chain oracle (html_strip → possessive → stopwords →
  // asciifolding → Porter; every step literal-generated from the SAME
  // tables the Scala analyzer runs: Tokenizer.sqlStripHtmlExpr /
  // sqlFoldExpr / Porter.sqlStemQuery) ----
  private val FoldAugSql =
    """SELECT doc_id, text ||
      | CASE WHEN doc_id % 3 = 0 THEN ' <b>Caf&eacute;s</b> r&eacute;sum&eacute; naïve' ELSE '' END ||
      | CASE WHEN doc_id % 4 = 0 THEN ' <p class="x">cliché façade</p> thé' ELSE '' END ||
      | CASE WHEN doc_id % 5 = 0 THEN ' straße cœur unf&ouml;ldable' ELSE '' END AS text
      |FROM documents""".stripMargin
  /** The fold-table alphabet, admitted into the token char class so
    * accented words survive tokenization (the engine's extended
    * `wordChar` under `fold = true`). */
  private val FoldAlphabet = Tokenizer.FoldPairs.map(_._1).mkString
  /** Raw folded-chain token array: html-strip twin → lower → split. */
  private def foldTokArrSql(c: String) =
    s"list_filter(regexp_split_to_array(lower(${Tokenizer.sqlStripHtmlExpr(c)}), " +
      s"'[^a-z0-9_''$FoldAlphabet]+'), x -> x <> '')"
  /** (doc_id, pos, tok) kept + FOLDED tokens with original positions;
    * the stopword test runs on the UNFOLDED token (ES order: stop before
    * folding — "thé" indexes as "the", it is not dropped). */
  private def foldKeptSql(where: String = ""): String =
    s"""SELECT doc_id, pos, ${Tokenizer.sqlFoldExpr("tok0")} AS tok FROM (
       | SELECT doc_id, i::BIGINT pos,
       |   replace(regexp_replace(t[i+1], '''s$$', ''), '''', '') AS tok0
       | FROM (SELECT doc_id, ${foldTokArrSql("text")} t FROM ($FoldAugSql) fa$where),
       |      unnest(range(len(t))) u(i))
       |WHERE tok0 <> '' AND tok0 NOT IN ($StopSql)""".stripMargin
  /** Fully analyzed folded stream: Porter over the DISTINCT folded
    * vocabulary, joined back (stem the dictionary, not the stream). */
  private def foldStemmedSql(where: String = ""): String = {
    val stems = graft.core.Porter.sqlStemQuery(
      s"SELECT tok AS orig, tok FROM (SELECT DISTINCT tok FROM (${foldKeptSql(where)}))",
      "tok", Seq("orig"))
    s"""SELECT k.doc_id, k.pos, s.tok
       |FROM (${foldKeptSql(where)}) k JOIN ($stems) s ON k.tok = s.orig""".stripMargin
  }
  private val FoldTF =
    s"(SELECT doc_id, tok AS term, count(*)::BIGINT tf FROM (${foldStemmedSql()}) GROUP BY doc_id, tok)"
  private val FoldLEN =
    s"""(SELECT d.doc_id, coalesce(k.len, 0)::BIGINT len FROM documents d
       | LEFT JOIN (SELECT doc_id, count(*)::BIGINT len
       |            FROM (${foldKeptSql()}) GROUP BY doc_id) k
       | ON d.doc_id = k.doc_id)""".stripMargin

  /** The graded folded query: raw HTML + entities, analyzed by the SAME
    * strip+fold chain both paths share. */
  private[graft] val FoldedQuery = "<i>Caf&eacute;s</i> r&eacute;sum&eacute;"
  private[graft] val FoldedQueryTerms: Seq[String] =
    Tokenizer.tokenizeText(Tokenizer.stripHtml(FoldedQuery), fold = true)
      .map(_.term).toSeq
  /** Lucene longToInt4∘byte4ToInt lossy length, integer-exact. */
  private def lossySql(c: String) =
    s"(CASE WHEN $c < 8 THEN $c ELSE ((((($c >> (length(format('{:b}', $c)) - 4)) & 7) | 8)) << (length(format('{:b}', $c)) - 4)) END)"
  /** The multi-line fixture in SQL (mirrors [[lineAugmented]] exactly):
    * 8-token lines + injected cross-doc boilerplate. */
  private val LineAugSql =
    """SELECT doc_id, lang, concat(
      | array_to_string(CASE WHEN len(ws) = 0 THEN []::VARCHAR[]
      |   ELSE list_transform(range(((len(ws) - 1) // 8) + 1),
      |     i -> array_to_string(ws[i*8+1 : i*8+8], ' ')) END, chr(10)),
      | CASE WHEN doc_id % 5 = 0 THEN concat(chr(10), array_to_string(ws[1:8], ' ')) ELSE '' END,
      | CASE WHEN doc_id % 3 = 0 THEN concat(chr(10), 'all rights reserved standard license footer') ELSE '' END,
      | CASE WHEN doc_id % 4 = 0 THEN concat(chr(10), 'shared navigation header menu home') ELSE '' END) AS text
      |FROM (SELECT doc_id, lang, list_filter(str_split(text, ' '), x -> x <> '') ws FROM documents)""".stripMargin

  /** The PII-injection fixture in SQL (mirrors [[piiAugmented]] exactly). */
  private val PiiAugSql =
    """SELECT doc_id, text ||
      | CASE WHEN doc_id % 3 = 0 THEN ' contact user' || doc_id::VARCHAR || '@mail.example.com' ELSE '' END ||
      | CASE WHEN doc_id % 4 = 0 THEN ' from 10.' || (doc_id % 256)::VARCHAR || '.0.1' ELSE '' END ||
      | CASE WHEN doc_id % 5 = 0 THEN ' call +1-555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0') ELSE '' END AS text
      |FROM documents""".stripMargin

  private val SHING =
    s"(CASE WHEN len($T) < 3 THEN []::VARCHAR[] ELSE list_transform(range(1, len($T) - 1), i -> array_to_string(($T)[i:i+2], ' ')) END)"
  /** The minhash oracles' SQL generators: `sigCols`, the 8 signature
    * columns mh0..mh7 over a doc's shingle-md5 list `hs` (component i =
    * min of the hashes rotated by 4·i hex digits), and `bands`, the 4 LSH
    * bands of 2 components read from a `sig` CTE as (doc_id, band, bkey)
    * rows. */
  private object MinhashSql {
    val sigCols: String = (0 until 8).map { i =>
      val rot = 4 * i
      if (rot == 0) s"list_min(hs) mh$i"
      else s"list_min(list_transform(hs, h -> substr(h, ${rot + 1}) || substr(h, 1, $rot))) mh$i"
    }.mkString(", ")
    val bands: String = (0 until 4).map(b =>
      s"SELECT doc_id, ${b}::BIGINT band, md5(mh${b * 2} || '|' || mh${b * 2 + 1}) bkey FROM sig")
      .mkString(" UNION ALL ")
  }
  private val QUANT = "list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1e6))"

  /** Exact integer squared L2 between two quantized list columns (SQL). */
  private def ivfD2(v: String, c: String) =
    s"list_sum(list_transform(range(len($v)), i -> ($v[i+1]-$c[i+1])*($v[i+1]-$c[i+1])))"

  /** The IVF k-means training chain (16 cells, 2 Lloyd iterations) as
    * DuckDB CTEs, shared by the `ann_ivf_topk` and `ann_recall_at10`
    * oracles: `v` = quantized vectors, `c2` = trained centroids, `af` =
    * final (vec_id, qv, cell) assignment — mirrors
    * [[graft.ops.Similarity.kmeansCentroids]] step for step. */
  private val IvfTrainCtes: String = {
    def asn(cin: String, out: String) =
      s"""$out AS (SELECT vec_id, qv, cell FROM (
         |  SELECT v.vec_id, v.qv, $cin.cell,
         |    row_number() OVER (PARTITION BY v.vec_id
         |      ORDER BY ${ivfD2("v.qv", s"$cin.cv")}, $cin.cell) rn
         |  FROM v, $cin) WHERE rn = 1)""".stripMargin
    def upd(ain: String, cin: String, out: String) =
      s"""${out}_m AS (SELECT cell, i, round(avg(qv[i+1]))::BIGINT m
         |  FROM $ain, unnest(range(len(qv))) u(i) GROUP BY cell, i),
         | ${out}_l AS (SELECT cell, list(m ORDER BY i) cv FROM ${out}_m GROUP BY cell),
         | $out AS (SELECT $cin.cell, coalesce(${out}_l.cv, $cin.cv) cv
         |  FROM $cin LEFT JOIN ${out}_l USING (cell))""".stripMargin
    s"""v AS (SELECT vec_id, $QUANT qv FROM embeddings),
       | c0 AS (SELECT vec_id::INT cell, qv cv FROM v WHERE vec_id < 16),
       | ${asn("c0", "a1")},
       | ${upd("a1", "c0", "c1")},
       | ${asn("c1", "a2")},
       | ${upd("a2", "c1", "c2")},
       | ${asn("c2", "af")}""".stripMargin
  }
  /** SQL mirror of [[punct]] (regexp_replace global, literal patterns). */
  private val PUNCT =
    "regexp_replace(regexp_replace(text, ' a ', '. ', 'g'), ' the ', '; ', 'g')"

  private def bm25Sql(terms: Seq[String], k: Int,
                      filterWhere: Option[String] = None,
                      excludeTerms: Seq[String] = Nil,
                      boosts: Map[String, Double] = Map.empty,
                      tfSql: String = TF, lenSql: String = LEN,
                      materialize: Boolean = false): String = {
    // AS MATERIALIZED stops DuckDB inlining the CTE per reference — the
    // stemmed tf's Porter expression tree re-plans 4x per term otherwise
    val mat = if (materialize) " MATERIALIZED" else ""
    val joins = terms.zipWithIndex.map { case (t, i) =>
      s"JOIN (SELECT doc_id, tf AS tf$i FROM tf WHERE term = '$t') t$i USING (doc_id) " +
        s"CROSS JOIN (SELECT count(*)::BIGINT df$i FROM tf WHERE term = '$t') d$i"
    }.mkString(" ") + filterWhere.map(w =>
      s" JOIN (SELECT doc_id FROM documents WHERE $w) flt USING (doc_id)").getOrElse("") +
      (if (excludeTerms.isEmpty) ""
       else s" ANTI JOIN (SELECT DISTINCT doc_id FROM tf WHERE term IN (" +
         excludeTerms.map(t => s"'$t'").mkString(",") + ")) ex USING (doc_id)")
    val score = terms.indices.map { i =>
      val b = boosts.getOrElse(terms(i), 1.0)
      val idfSql = if (b == 1.0) s"ln(1.0 + (n_docs - df$i + 0.5)/(df$i + 0.5))"
                   else s"(ln(1.0 + (n_docs - df$i + 0.5)/(df$i + 0.5)) * $b)"
      s"($idfSql * (tf$i * 2.2 / (tf$i + 1.2 * (0.25 + 0.75 * ${lossySql("len")} / (sum_len::DOUBLE / n_docs::DOUBLE)))))"
    }.mkString(" + ")
    s"""WITH tf AS$mat (SELECT * FROM $tfSql), lens AS$mat (SELECT * FROM $lenSql),
       | stats AS (SELECT count(*)::BIGINT n_docs, sum(len)::BIGINT sum_len FROM lens),
       | base AS (SELECT * FROM lens CROSS JOIN stats $joins),
       | scored AS (SELECT doc_id, ($score) AS score FROM base)
       |SELECT rank, doc_id, round(score * 1e6)::BIGINT score_micro FROM
       | (SELECT doc_id, score, row_number() OVER (ORDER BY score DESC, doc_id) rank FROM scored)
       |WHERE rank <= $k ORDER BY rank""".stripMargin
  }

  /** Disjunctive (OR) BM25 top-k oracle: same pivot/df/score structure as
    * the Spark side — absent slots contribute exactly 0.0, docs matching no
    * term never enter. `minShouldMatch` > 1 adds the msm candidate rule
    * (at least that many distinct terms present). */
  private def bm25OrSql(terms: Seq[String], k: Int,
                        minShouldMatch: Int = 0): String = {
    val termList = terms.map(t => s"'$t'").mkString(",")
    val pvCols = terms.zipWithIndex.map { case (t, i) =>
      s"max(CASE WHEN term = '$t' THEN tf END) tf$i"
    }.mkString(", ")
    val dfCols = terms.zipWithIndex.map { case (t, i) =>
      s"count(CASE WHEN term = '$t' THEN 1 END)::BIGINT df$i"
    }.mkString(", ")
    val score = terms.indices.map { i =>
      s"(CASE WHEN tf$i IS NULL THEN 0.0 ELSE (ln(1.0 + (n_docs - df$i + 0.5)/(df$i + 0.5)) * (tf$i * 2.2 / (tf$i + 1.2 * (0.25 + 0.75 * ${lossySql("len")} / (sum_len::DOUBLE / n_docs::DOUBLE))))) END)"
    }.mkString(" + ")
    s"""WITH tf AS (SELECT * FROM $TF), lens AS (SELECT * FROM $LEN),
       | stats AS (SELECT count(*)::BIGINT n_docs, sum(len)::BIGINT sum_len FROM lens),
       | pv AS (SELECT doc_id, $pvCols FROM tf WHERE term IN ($termList) GROUP BY doc_id${
        if (minShouldMatch > 1) s" HAVING count(DISTINCT term) >= $minShouldMatch" else ""}),
       | dfs AS (SELECT $dfCols FROM tf WHERE term IN ($termList)),
       | base AS (SELECT * FROM lens JOIN pv USING (doc_id) CROSS JOIN stats CROSS JOIN dfs),
       | scored AS (SELECT doc_id, ($score) AS score FROM base)
       |SELECT rank, doc_id, round(score * 1e6)::BIGINT score_micro FROM
       | (SELECT doc_id, score, row_number() OVER (ORDER BY score DESC, doc_id) rank FROM scored)
       |WHERE rank <= $k ORDER BY rank""".stripMargin
  }

  /** Prefix-expansion disjunctive BM25 (micro-int contract): the expansion
    * CTE mirrors [[prefixExpand]]'s deterministic cap; per-term partials are
    * rounded to micro BEFORE the per-doc sum so the comparison is
    * integer-exact regardless of either engine's FP accumulation order. */
  private def bm25PrefixSql(prefix: String, k: Int, maxExpansion: Int): String =
    bm25ExpandSql(s"term LIKE '$prefix%'", k, maxExpansion)

  /** Disjunctive micro-int BM25 over a dynamic dictionary expansion given
    * by `expWhere` — shared by the prefix and fuzzy oracle contracts. */
  private def bm25ExpandSql(expWhere: String, k: Int, maxExpansion: Int): String =
    bm25ExpandSqlFrom(
      s"""SELECT term, count(*)::BIGINT df FROM tf WHERE $expWhere
         |         GROUP BY term ORDER BY df DESC, term LIMIT $maxExpansion""".stripMargin,
      k)

  /** Core of the expansion oracle: `expSelect` is any SELECT producing
    * (term, df) — dictionary predicates (prefix/fuzzy) or a source doc's
    * tf·idf ranking (more-like-this); `excludeDoc` drops one candidate. */
  private def bm25ExpandSqlFrom(expSelect: String, k: Int,
                                excludeDoc: Option[Long] = None): String = {
    val part =
      s"round(ln(1.0 + (n_docs - df + 0.5)/(df + 0.5)) * (tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * ${lossySql("len")} / (sum_len::DOUBLE / n_docs::DOUBLE)))) * 1e6)::BIGINT"
    val exWhere = excludeDoc.map(d => s" WHERE doc_id <> $d").getOrElse("")
    s"""WITH tf AS (SELECT * FROM $TF), lens AS (SELECT * FROM $LEN),
       | stats AS (SELECT count(*)::BIGINT n_docs, sum(len)::BIGINT sum_len FROM lens),
       | exp AS ($expSelect),
       | base AS (SELECT doc_id, $part pm
       |          FROM tf JOIN exp USING (term) JOIN lens USING (doc_id) CROSS JOIN stats$exWhere),
       | scored AS (SELECT doc_id, sum(pm)::BIGINT score_micro, count(*)::BIGINT n_terms
       |            FROM base GROUP BY doc_id)
       |SELECT rank, doc_id, n_terms, score_micro FROM
       | (SELECT doc_id, n_terms, score_micro,
       |         row_number() OVER (ORDER BY score_micro DESC, doc_id) rank FROM scored)
       |WHERE rank <= $k ORDER BY rank""".stripMargin
  }
}

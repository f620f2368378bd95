package graft.query

import graft.core.Tokenizer
import org.apache.spark.sql.DataFrame

/** Query-log input — the reference's query pool format
  * (`query_pool.h:299-311`): one query per line, whitespace-separated
  * terms, a line wrapped in double quotes is a PHRASE query. Blank lines
  * and `#` comments are skipped. Terms are normalized through the engine
  * tokenizer so log text and index vocabulary always agree.
  *
  * Format extensions (not in the reference, which has no range queries):
  *  - a line consisting of a SINGLE token ending in `*` (e.g. `ret*`) is a
  *    PREFIX query — expanded against the index dictionary at run time
  *    ([[Searcher.expandPrefix]]: deterministic df-desc cap) and evaluated
  *    disjunctively;
  *  - on an unquoted line, a token prefixed with `-` (e.g. `if -epsilon`)
  *    is a NOT term (Lucene MUST_NOT): matching docs must not contain it;
  *  - a line consisting of a SINGLE token ending in `~` or `~N` (Lucene
  *    fuzzy syntax, e.g. `quary~` or `par~2`) is a FUZZY query — expanded
  *    to dictionary terms within N (default 1) Levenshtein edits and
  *    evaluated disjunctively;
  *  - a quoted line followed by `~N` (Lucene phrase-slop syntax, e.g.
  *    `"table scan"~3`) is an ordered PROXIMITY query: terms must occur in
  *    order with total span ≤ (k−1)+N positions;
  *  - a single token containing `*`/`?` beyond a plain trailing `*` (e.g.
  *    `s*a*`, `re?urn`) is a WILDCARD query — glob-expanded against the
  *    dictionary and evaluated disjunctively;
  *  - a line wrapped in forward slashes (Lucene regexp syntax, e.g.
  *    `/ret[a-z]*n/`) is a REGEX query — full-match-expanded against the
  *    dictionary ([[Searcher.expandRegex]]) and evaluated disjunctively;
  *  - a line with UPPERCASE `AND`/`OR`/`NOT` keywords or parentheses
  *    (Lucene query syntax, e.g. `(if AND return) OR (val AND NOT def)`)
  *    is a nested BOOLEAN query — parsed by [[BoolQuery.parse]], evaluated
  *    with clause-aware Lucene scoring ([[BoolQuery.searchAll]] batches
  *    every boolean query of the log into one Spark job).
  */
object QueryLog {

  /** One parsed query. `prefix` set ⇒ a prefix query: `terms` may be empty
    * until resolved against an index dictionary, and evaluation is
    * disjunctive over the expansion. `fuzzy` set ⇒ the same for an
    * edit-distance expansion of (term, maxDist). `exclude` nonEmpty ⇒ a
    * NOT query: matching docs must not contain any excluded term. */
  final case class LogQuery(id: Int, terms: Seq[String], phrase: Boolean,
                            prefix: Option[String] = None,
                            exclude: Seq[String] = Nil,
                            fuzzy: Option[(String, Int)] = None,
                            slop: Int = 0,
                            wildcard: Option[String] = None,
                            regex: Option[String] = None,
                            bool: Option[BoolQuery.Node] = None,
                            boosts: Map[String, Double] = Map.empty,
                            analyzeText: Boolean = false,
                            phraseShifts: Option[Seq[Int]] = None,
                            rawText: String = "") {
    /** Evaluates disjunctively (multi-term rewrite of a single probe). */
    def disjunctive: Boolean =
      prefix.nonEmpty || fuzzy.nonEmpty || wildcard.nonEmpty || regex.nonEmpty
  }

  /** Parse one log line (None for blanks/comments). */
  def parseLine(line: String, id: Int): Option[LogQuery] = {
    val t = line.trim
    if (t.isEmpty || t.startsWith("#")) None
    else if (t.startsWith("text:")) {
      // TEXT-analyzer query (targets a textAnalyzer index): the raw string
      // runs through the full chain (possessive -> stopwords -> Porter);
      // a quoted body is a gap-aware phrase — the analyzed tokens carry
      // their ORIGINAL positions as phraseShifts (Lucene match_phrase
      // position increments across removed stopwords)
      val rest = t.drop(5).trim
      if (rest.startsWith("\"") && rest.matches("\".*\"~[0-9]+")) {
        // text phrase with slop: `text:"a b"~N` — ordered proximity over
        // the ANALYZED terms (the slop path measures spans, not shifts)
        val close = rest.lastIndexOf('"')
        val slop = rest.substring(close + 2).toInt
        val toks = Tokenizer.tokenizeText(rest.substring(1, close))
        if (toks.isEmpty) None
        else Some(LogQuery(id, toks.map(_.term).toSeq, phrase = true,
          slop = slop, analyzeText = true, rawText = rest.substring(1, close)))
      } else if (rest.length >= 2 && rest.startsWith("\"") && rest.endsWith("\"")) {
        val body = rest.substring(1, rest.length - 1)
        val toks = Tokenizer.tokenizeText(body)
        if (toks.isEmpty) None
        else Some(LogQuery(id, toks.map(_.term).toSeq, phrase = true,
          analyzeText = true, phraseShifts = Some(toks.map(_.position).toSeq),
          rawText = body))
      } else {
        val terms = Tokenizer.tokenizeText(rest).map(_.term).toSeq
        if (terms.isEmpty) None
        else Some(LogQuery(id, terms, phrase = false, analyzeText = true,
          rawText = rest))
      }
    }
    else if (t.length >= 2 && t.startsWith("\"") && t.endsWith("\""))
      Some(LogQuery(id, Tokenizer.terms(t.substring(1, t.length - 1)).toSeq, phrase = true))
    else if (t.startsWith("\"") && t.matches("\".*\"~[0-9]+")) {
      // Lucene phrase-slop syntax: `"a b"~N` — ordered proximity within N
      val close = t.lastIndexOf('"')
      val slop = t.substring(close + 2).toInt
      Some(LogQuery(id, Tokenizer.terms(t.substring(1, close)).toSeq,
        phrase = true, slop = slop))
    }
    else if (t.length >= 2 && t.endsWith("*") &&
             !t.dropRight(1).exists(c => c.isWhitespace || c == '*' || c == '?')) {
      val stem = Tokenizer.terms(t.dropRight(1)).toSeq
      if (stem.size == 1) Some(LogQuery(id, Nil, phrase = false, prefix = Some(stem.head)))
      else None
    }
    else if (t.length >= 3 && t.startsWith("/") && t.endsWith("/") &&
             !t.substring(1, t.length - 1).contains('/'))
      // Lucene regexp syntax: `/pattern/` — full-match dictionary expansion
      Some(LogQuery(id, Nil, phrase = false,
        regex = Some(t.substring(1, t.length - 1).toLowerCase)))
    else if (!t.exists(_.isWhitespace) && (t.contains('*') || t.contains('?')) &&
             t.exists(c => c != '*' && c != '?')) {
      // general wildcard (a trailing-`*`-only token was already taken by the
      // cheaper prefix branch above): keep glob chars, normalize the rest
      val norm = t.toLowerCase.filter(c =>
        c == '*' || c == '?' || c.isLetterOrDigit || c == '_')
      Some(LogQuery(id, Nil, phrase = false, wildcard = Some(norm)))
    }
    else if (!t.exists(_.isWhitespace) && t.matches(".+~[0-9]?")) {
      val tilde = t.lastIndexOf('~')
      val dist = if (tilde == t.length - 1) 1 else t.substring(tilde + 1).toInt
      val stem = Tokenizer.terms(t.substring(0, tilde)).toSeq
      if (stem.size == 1 && dist >= 1)
        Some(LogQuery(id, Nil, phrase = false, fuzzy = Some((stem.head, dist))))
      else None
    }
    else if (t.contains("(") ||
             t.split("\\s+").exists(w => w == "AND" || w == "OR" || w == "NOT")) {
      // nested boolean query (UPPERCASE Lucene keywords / parens):
      // `(a AND b) OR (c AND NOT d)` — terms carries every leaf so the
      // bench's lean oracle tracks their tfs
      val node = BoolQuery.parse(t)
      val (pos, neg) = BoolQuery.leafTerms(node)
      Some(LogQuery(id, pos ++ neg, phrase = false, bool = Some(node)))
    }
    else {
      val (neg, pos) = t.split("\\s+").toSeq.partition(_.startsWith("-"))
      // Lucene term boost: `word^2` / `word^2.5` on an unquoted line
      // multiplies that term's score contribution (must be > 0)
      val parsed = pos.map { w =>
        val caret = w.lastIndexOf('^')
        if (caret > 0 && w.drop(caret + 1).nonEmpty &&
            w.drop(caret + 1).forall(c => c.isDigit || c == '.'))
          (Tokenizer.terms(w.take(caret)), w.drop(caret + 1).toDouble)
        else (Tokenizer.terms(w), 1.0)
      }
      val boosts = parsed.collect {
        case (ts, b) if b != 1.0 && ts.nonEmpty => ts.head -> b
      }.toMap
      Some(LogQuery(id, parsed.flatMap(_._1), phrase = false,
        exclude = neg.flatMap(w => Tokenizer.terms(w.drop(1))),
        boosts = boosts))
    }
  }

  /** Load a query log from a local file (driver-side — logs are the small
    * side of the workload; ids are line numbers of non-empty lines). */
  def load(path: String): Seq[LogQuery] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get(path)).asScala
      .toSeq.zipWithIndex
      .flatMap { case (l, i) => parseLine(l, i) }
      .filter(q => q.terms.nonEmpty || q.prefix.nonEmpty || q.fuzzy.nonEmpty ||
        q.wildcard.nonEmpty || q.regex.nonEmpty)
  }

  /** Resolve prefix/fuzzy queries against an index dictionary (no-op for
    * queries whose terms are already known). One metadata probe per
    * unresolved expansion. */
  def resolve(ix: Searcher.LoadedIndex, queries: Seq[LogQuery],
              maxExpansion: Int = 64): Seq[LogQuery] =
    queries.map { q =>
      (q.prefix, q.fuzzy, q.wildcard, q.regex) match {
        case (Some(p), _, _, _) if q.terms.isEmpty =>
          q.copy(terms = Searcher.expandPrefix(ix, p, maxExpansion))
        case (_, Some((t, d)), _, _) if q.terms.isEmpty =>
          q.copy(terms = Searcher.expandFuzzy(ix, t, d, maxExpansion))
        case (_, _, Some(w), _) if q.terms.isEmpty =>
          q.copy(terms = Searcher.expandWildcard(ix, w, maxExpansion))
        case (_, _, _, Some(r)) if q.terms.isEmpty =>
          q.copy(terms = Searcher.expandRegex(ix, r, maxExpansion))
        case _ => q
      }
    }

  /** Run a full log against an index in at most THREE batched Spark
    * pipelines: every flat non-phrase query — term, prefix/fuzzy/wildcard/
    * regex expansion, AND NOT queries — through [[Searcher.searchAll]]
    * (expansions as disjunctive members, NOT terms via its per-query
    * skip-pruned exclusion anti-join), phrase/proximity queries through the
    * batched positional [[Searcher.searchAllPhrase]] path, and nested
    * boolean queries through [[BoolQuery.searchAll]]. No per-query driver
    * round trips. Returns (queryId, rank, docId, score).
    *
    * A `text:` query throws `IllegalArgumentException`: it targets a
    * textAnalyzer index and carries gap-aware phraseShifts the batched
    * phrase path does not model, so serve it from [[LocalService]] over
    * the text index, as the bench does. */
  def run(ix: Searcher.LoadedIndex, queries: Seq[LogQuery], k: Int): DataFrame = {
    import ix.spark.implicits._
    queries.find(_.analyzeText).foreach { q =>
      throw new IllegalArgumentException(
        s"QueryLog.run cannot run the text: query '${q.rawText}'; serve it from a text-analyzer index")
    }
    val resolved = resolve(ix, queries)
    val boolQs = resolved.collect { case q if q.bool.nonEmpty => (q.id, q.bool.get) }
    val flat = resolved.filter(_.bool.isEmpty)
    val termQs = flat.filter(q => !q.phrase && q.terms.nonEmpty)
      .map(q => (q.id, q.terms))
    val disjunctive = flat.filter(_.disjunctive).map(_.id).toSet
    val excludes = flat.filter(q => !q.phrase && q.exclude.nonEmpty)
      .map(q => q.id -> q.exclude).toMap
    val boosts = flat.filter(q => !q.phrase && q.boosts.nonEmpty)
      .map(q => q.id -> q.boosts).toMap
    val phraseQs = flat.filter(q => q.phrase && q.terms.nonEmpty)
      .map(q => (q.id, q.terms))
    val slops = flat.filter(q => q.phrase && q.slop > 0)
      .map(q => q.id -> q.slop).toMap
    val parts: Seq[DataFrame] =
      (if (termQs.nonEmpty)
        Seq(Searcher.searchAll(ix, termQs, k, disjunctive, excludes,
          boosts = boosts)) else Nil) ++
      (if (phraseQs.nonEmpty) Seq(Searcher.searchAllPhrase(ix, phraseQs, k, slops)) else Nil) ++
      (if (boolQs.nonEmpty) Seq(BoolQuery.searchAll(ix, boolQs, k)) else Nil)
    parts match {
      case Nil => Seq.empty[(Int, Int, Int, Double)].toDF("queryId", "rank", "docId", "score")
      case head :: tail => tail.foldLeft(head)(_ unionByName _)
    }
  }

  /** Deterministic synthetic query-log generation — the reference's
    * `tools/gen_synthetic_log.py` analog (it samples query terms from the
    * AOL log's term-popularity distribution; `query_pool.h` replays them).
    * Here the popularity law comes from the corpus itself: terms ordered by
    * (cf desc, term asc) and sampled SYSTEMATICALLY proportional to cf —
    * query q (of Q) probes the term whose cumulative-cf interval contains
    * the midpoint target `(2q+1)·totalCf / 2Q` (integer floor). Hot terms
    * receive queries in proportion to their collection frequency, exactly
    * the zipf-following workload the reference generates, and the draw is
    * reproducible across engines, runs, and partitionings (pure integer
    * arithmetic, no RNG).
    *
    * Scale shape: the cumulative sum is the two-pass range-partition scan
    * (range repartition on the order key, per-partition totals to the
    * driver — P rows, window partitioned by partition id), never an
    * unpartitioned window; the Q targets broadcast into a single
    * interval-membership pass over the dictionary.
    *
    * `tf` is the (doc, term, tf) truth table; returns
    * (q_id, term, cf) with one row per generated query. */
  def synthesize(tf: DataFrame, nQueries: Int, partitions: Int = 32): DataFrame = {
    import org.apache.spark.sql.functions._
    val spark = tf.sparkSession
    require(nQueries > 0)
    // cached for the duration of this call ONLY: the two-pass scan (totals,
    // then cumsum+probe) would otherwise recompute the dictionary
    // aggregation — for an uncached input like a bigram explode that is the
    // dominant cost, measured 2× on the graded phrase-log query. The result
    // is materialized (Q rows — a log SAMPLE is small by definition) so the
    // cache can be released before returning; callers get a local relation.
    val dict = tf.groupBy("term").agg(sum("tf").cast("long").as("cf"))
      .repartitionByRange(partitions, col("cf").desc, col("term"))
      .withColumn("pid", spark_partition_id())
      .cache()
    try synthesizeFrom(dict, nQueries)
    finally dict.unpersist(false)
  }

  /** Second half of [[synthesize]] over the cached, range-partitioned
    * dictionary; collects the Q-row result so the caller holds a local
    * relation and the dictionary cache can be dropped eagerly. */
  private def synthesizeFrom(dict: DataFrame, nQueries: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    val spark = dict.sparkSession
    val partTotals: Map[Int, Long] = {
      import spark.implicits._
      dict.groupBy("pid").agg(sum("cf").as("t")).as[(Int, Long)].collect().toMap
    }
    val offsets: Map[Int, Long] = {
      var acc = 0L
      partTotals.keys.toSeq.sorted.map { pid =>
        val o = pid -> acc; acc += partTotals(pid); o
      }.toMap
    }
    val totalCf = partTotals.values.sum
    val offsetDf = {
      import spark.implicits._
      broadcast(offsets.toSeq.toDF("pid", "part_offset"))
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("pid")).orderBy(col("cf").desc, col("term"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val withCum = dict
      .withColumn("local", coalesce(sum(col("cf")).over(w), lit(0L)))
      .join(offsetDf, "pid")
      .withColumn("cum", col("part_offset") + col("local"))
    // integer `div`, not `/` (Divide on longs is a DOUBLE in Spark — loses
    // exactness past 2^53 and would diverge from the oracle's BIGINT `//`)
    val targets = broadcast(spark.range(nQueries.toLong)
      .select(col("id").as("q_id"),
        expr(s"(id * 2 + 1) * ${totalCf}L div ${2L * nQueries}L").as("target")))
    val rows = withCum
      .join(targets, col("target") >= col("cum") &&
        col("target") < col("cum") + col("cf"))
      .select(col("q_id"), col("term"), col("cf"))
      .orderBy("q_id")
      .collect()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("q_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("term", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("cf", org.apache.spark.sql.types.LongType)))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }
}

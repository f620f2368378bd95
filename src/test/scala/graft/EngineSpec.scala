package graft

import graft.core.Oracle
import graft.corpus.CorpusGen
import graft.index.{IndexBuilder, PostingCodec}
import graft.query.Searcher
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end differential test: the distributed Spark pipeline must be
  * rank-identical (docIds exact, scores within the reference's own 0.001
  * tolerance — `types.h:287-289`; we assert a much tighter 1e-9) against the
  * single-JVM oracle port, mirroring the reference's engine-vs-engine
  * differential tests (`tests_15.cc:158-211`).
  *
  * FP-tolerance assumption (documented deliberately): the engine's doc
  * score is `sum(partScore)` in a hash aggregation whose accumulation
  * order is partitioning-dependent, while the oracle sums in query-slot
  * order. 1e-9 therefore holds only when no two docs' scores are within
  * ~1 ulp of each other; EXACT rank equality additionally relies on no
  * cross-doc ties closer than the FP reordering error. The synthetic
  * corpus has no such near-ties (scores differ at ≥1e-6); if a future
  * corpus introduces them, compare with the 0.001 reference tolerance and
  * break rank ties by docId before asserting.
  */
class EngineSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private val tmp = java.nio.file.Files.createTempDirectory("graft_ix").toString
  private val NDocs = 1000L

  private lazy val built: Unit = {
    val corpus = CorpusGen.generate(spark, NDocs, seed = 42L, partitions = 8)
    IndexBuilder.build(spark, corpus, tmp, partitions = 8)
  }
  private lazy val ix = { built; Searcher.load(spark, tmp) }

  /** Oracle over the same docs with the same docIds (rank over repo,path). */
  private lazy val oracle: Oracle.Index = {
    val rows = (0L until NDocs).map(id => CorpusGen.row(42L, id))
    val sorted = rows.sortBy(r => (r._1, r._2)) // (repo, path)
    new Oracle.Index(sorted.zipWithIndex.map { case (r, i) => Oracle.Doc(i, r._5) })
  }

  override def afterAll(): Unit = {
    spark.stop()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
  }

  test("index stats match oracle") {
    import spark.implicits._
    assert(ix.nDocs == NDocs)
    assert(math.abs(ix.avgLen - oracle.avgLen) < 1e-9)
    val sparkStats = ix.termstats.select("term", "df").as[(String, Long)].collect().toMap
    val oracleDf = oracle.postings.view.mapValues(_.length.toLong).toMap
    assert(sparkStats.size == oracleDf.size)
    // spot-check hot + rare terms
    Seq("if", "return", "int", "val").foreach { t =>
      assert(sparkStats(t) == oracleDf(t), s"df mismatch for '$t'")
    }
    assert(sparkStats == oracleDf)
  }

  test("posting blocks decode to the oracle's posting lists (incl. salted hot terms)") {
    import spark.implicits._
    for (term <- Seq("if", "return", "epsilon", "fn_5_0")) {
      val blocks = ix.postings.filter($"term" === term)
        .select("prevDocId", "n", "docIds", "tfs", "firstDocId")
        .as[(Int, Int, Array[Byte], Array[Byte], Int)]
        .collect().sortBy(_._5)
      val decoded = blocks.flatMap { case (prev, n, ids, tfs, _) =>
        PostingCodec.decodeDocIdTf(prev, n, ids, tfs)
      }
      val expected = oracle.postings.getOrElse(term, Array.empty).map(p => (p._1, p._2))
      assert(decoded.toSeq == expected.toSeq, s"postings mismatch for '$term'")
    }
  }

  test("doc lengths and sha256 invariant") {
    import spark.implicits._
    val lens = ix.doclen.select("docId", "len").as[(Int, Int)].collect().toMap
    assert(lens.size == NDocs)
    oracle.docLen.foreach { case (d, l) => assert(lens(d) == l, s"len mismatch doc $d") }
    // sha256(content) recomputed over the docstore equals the stored ingest sha
    val bad = ix.docstore
      .withColumn("recomputed", org.apache.spark.sql.functions.sha2(
        org.apache.spark.sql.functions.col("content"), 256))
      .filter("recomputed <> sha256").count()
    assert(bad == 0)
  }

  test("BM25 top-10 rank-identical vs oracle on the reference-style query mix") {
    val queries = TestQueries.mix
    var checked = 0
    queries.foreach { q =>
      val got = Searcher.search(ix, q, 10).collect().sortBy(_.rank)
      val want = Oracle.search(oracle, q, 10)
      assert(got.length == want.length, s"result size mismatch for $q: ${got.toSeq} vs $want")
      got.zip(want).foreach { case (g, w) =>
        assert(g.docId == w.docId, s"docId mismatch for $q at rank ${g.rank}: ${got.toSeq} vs $want")
        assert(math.abs(g.score - w.score) < 1e-9, s"score mismatch for $q")
      }
      checked += 1
    }
    assert(checked == queries.size)
  }

  test("disjunctive (OR) top-10 rank-identical vs oracle") {
    // the reference declares SearchOperator::OR (types.h:70) but never
    // implements it; the engine completes it — differential vs the oracle's
    // slot-ordered disjunctive scorer, including absent-term mixes
    val queries = Seq(
      Seq("if", "return"), Seq("epsilon", "posting"),
      Seq("fn_1_0", "if"), Seq("hash", "seed", "mask"),
      Seq("if", "nosuchterm_xyz"),           // absent term contributes nothing
      Seq("nosuchterm_xyz", "alsoabsent_q")) // all absent => empty
    queries.foreach { q =>
      val got = Searcher.search(ix, q, 10, conjunctive = false).collect().sortBy(_.rank)
      val want = Oracle.searchOr(oracle, q, 10)
      assert(got.length == want.length, s"OR size mismatch for $q: ${got.toSeq} vs $want")
      got.zip(want).foreach { case (g, w) =>
        assert(g.docId == w.docId, s"OR docId mismatch for $q: ${got.toSeq} vs $want")
        assert(math.abs(g.score - w.score) < 1e-9, s"OR score mismatch for $q")
      }
    }
    // a rare∨hot OR must return MORE docs than the conjunction (sanity that
    // the mode actually changed semantics)
    val orN = Searcher.search(ix, Seq("fn_1_0", "if"), 10, conjunctive = false).count()
    val andN = Searcher.search(ix, Seq("fn_1_0", "if"), 10).count()
    assert(orN >= andN)
  }

  test("NOT (exclusion) top-10 rank-identical vs oracle") {
    // set-difference operator (Lucene MUST_NOT) — completes the Boolean
    // family; differential vs the oracle with exclusion applied, covering
    // conjunctive, disjunctive, phrase, hot-excluded and absent-excluded
    val cases: Seq[(Seq[String], Seq[String])] = Seq(
      (Seq("epsilon"), Seq("return")),          // rare +, hot −
      (Seq("if", "return"), Seq("val")),        // hot∧hot, hot −
      (Seq("hash", "seed"), Seq("nosuchterm_xyz")), // excluded term absent
      (Seq("posting"), Seq("epsilon", "score")))    // multi-term exclusion
    cases.foreach { case (q, ex) =>
      val got = Searcher.search(ix, q, 10, excludeTerms = ex).collect().sortBy(_.rank)
      val want = Oracle.search(oracle, q, 10, excludeTerms = ex)
      assert(got.length == want.length, s"NOT size mismatch for $q -$ex: ${got.toSeq} vs $want")
      got.zip(want).foreach { case (g, w) =>
        assert(g.docId == w.docId, s"NOT docId mismatch for $q -$ex: ${got.toSeq} vs $want")
        assert(math.abs(g.score - w.score) < 1e-9, s"NOT score mismatch for $q -$ex")
      }
      // no returned doc contains an excluded term (semantic invariant)
      val exDocs = ex.flatMap(t =>
        oracle.postings.getOrElse(t, Array.empty[(Int, Int, Array[Int])]).map(_._1)).toSet
      assert(got.forall(h => !exDocs.contains(h.docId)))
    }
    // disjunctive NOT
    val gotOr = Searcher.search(ix, Seq("epsilon", "posting"), 10,
      conjunctive = false, excludeTerms = Seq("return")).collect().sortBy(_.rank)
    val wantOr = Oracle.searchOr(oracle, Seq("epsilon", "posting"), 10,
      excludeTerms = Seq("return"))
    assert(gotOr.map(_.docId).toSeq == wantOr.map(_.docId))
    // phrase NOT
    val gotPh = Searcher.search(ix, Seq("if", "return"), 10, phrase = true,
      excludeTerms = Seq("epsilon")).collect().sortBy(_.rank)
    val wantPh = Oracle.search(oracle, Seq("if", "return"), 10, phrase = true,
      excludeTerms = Seq("epsilon"))
    assert(gotPh.map(_.docId).toSeq == wantPh.map(_.docId))
    // required∧excluded same term is unsatisfiable
    assert(Searcher.search(ix, Seq("if"), 10, excludeTerms = Seq("if")).isEmpty)
    // WAND path with exclusion: θ must be computed post-exclusion (forced
    // pilot via wandMinPostings=0) — still rank-identical
    val gotW = Searcher.search(ix, Seq("if", "return"), 10,
      wandMinPostings = 0L, excludeTerms = Seq("val")).collect().sortBy(_.rank)
    val wantW = Oracle.search(oracle, Seq("if", "return"), 10, excludeTerms = Seq("val"))
    assert(gotW.map(_.docId).toSeq == wantW.map(_.docId))
    wantW.zip(gotW).foreach { case (w, g) => assert(math.abs(g.score - w.score) < 1e-9) }
  }

  test("query-time boosts (term^B): bitwise parity on all three paths, WAND-safe") {
    built
    // Lucene term boost — absent in the reference (SearchQuery has no
    // per-term weight); completed on every path with one association order
    // ((idf·B)·tfNorm), so distributed, serving, batch-log and oracle
    // scores are bitwise-equal
    val cases: Seq[(Seq[String], Map[String, Double])] = Seq(
      (Seq("if", "return"), Map("return" -> 2.5)),     // hot∧hot, boosted hot
      (Seq("epsilon", "if"), Map("epsilon" -> 4.0)),   // rare boosted
      (Seq("hash", "seed", "mask"), Map("hash" -> 0.5, "mask" -> 3.0)),
      (Seq("if", "return"), Map.empty[String, Double])) // no-op boost map
    val svc = new graft.query.LocalService(ix)
    cases.foreach { case (q, b) =>
      val want = Oracle.search(oracle, q, 10, boosts = b)
      val got = Searcher.search(ix, q, 10, boosts = b).collect().sortBy(_.rank)
      assert(got.map(_.docId).toSeq == want.map(_.docId), s"boost $q $b")
      got.zip(want).foreach { case (g, w) =>
        assert(g.score == w.score, s"boost score not bitwise for $q $b") }
      // forced WAND pilot: boosted ceilings must stay upper bounds
      val gotW = Searcher.search(ix, q, 10, wandMinPostings = 0L, boosts = b)
        .collect().sortBy(_.rank)
      assert(gotW.map(_.docId).toSeq == want.map(_.docId), s"boost WAND $q $b")
      gotW.zip(want).foreach { case (g, w) => assert(g.score == w.score) }
      // serving path
      val served = svc.search(q, 10, boosts = b)
      assert(served.map(_.docId) == want.map(_.docId), s"boost served $q $b")
      served.zip(want).foreach { case (g, w) => assert(g.score == w.score) }
    }
    // a strong boost on the rarer term must be able to REORDER the top-k
    // (sanity that the weight reaches the score, not just the bounds)
    val plain = Searcher.search(ix, Seq("if", "return"), 10).collect().sortBy(_.rank)
    val boosted = Searcher.search(ix, Seq("if", "return"), 10,
      boosts = Map("if" -> 50.0)).collect().sortBy(_.rank)
    assert(plain.map(_.docId).toSeq != boosted.map(_.docId).toSeq ||
      plain.zip(boosted).exists { case (p, bq) => p.score != bq.score })
    // log syntax `term^B` parses and the batched run matches per-query
    import spark.implicits._
    val qs = Seq(
      graft.query.QueryLog.parseLine("if^2 return", 0).get,
      graft.query.QueryLog.parseLine("epsilon^3.5 if -val", 1).get,
      graft.query.QueryLog.parseLine("if return", 2).get)
    assert(qs(0).boosts == Map("if" -> 2.0) && qs(0).terms == Seq("if", "return"))
    assert(qs(1).boosts == Map("epsilon" -> 3.5) && qs(1).exclude == Seq("val"))
    assert(qs(2).boosts.isEmpty)
    val res = graft.query.QueryLog.run(ix, qs, 10)
      .as[(Int, Int, Int, Double)].collect().groupBy(_._1)
    qs.foreach { q =>
      val want = Searcher.search(ix, q.terms, 10, excludeTerms = q.exclude,
        boosts = q.boosts).collect().sortBy(_.rank)
      val got = res.getOrElse(q.id, Array.empty).sortBy(_._2)
      assert(got.map(_._3).toSeq == want.map(_.docId).toSeq, s"boost log q${q.id}")
      got.map(_._4).zip(want.map(_.score)).foreach { case (g, w) => assert(g == w) }
    }
  }

  test("prefix search (trie equal_prefix_range analog) rank-identical vs oracle") {
    // oracle-side expansion: same deterministic (df desc, term asc) cap over
    // the single-JVM index's dictionary
    def oracleExpand(prefix: String, cap: Int): Seq[String] =
      oracle.postings.keysIterator.filter(_.startsWith(prefix)).toSeq
        .map(t => (t, oracle.df(t))).sortBy { case (t, d) => (-d, t) }
        .take(cap).map(_._1)
    for ((p, cap) <- Seq(("re", 64), ("fn_1", 8), ("i", 64), ("zzz_nosuch", 4))) {
      val terms = Searcher.expandPrefix(ix, p, cap)
      assert(terms == oracleExpand(p, cap), s"expansion mismatch for '$p'")
      val got = Searcher.searchPrefix(ix, p, 10, cap).collect().sortBy(_.rank)
      val want = Oracle.searchOr(oracle, terms, 10)
      assert(got.length == want.length, s"prefix size mismatch for '$p': ${got.toSeq} vs $want")
      got.zip(want).foreach { case (g, w) =>
        assert(g.docId == w.docId, s"prefix docId mismatch for '$p': ${got.toSeq} vs $want")
        assert(math.abs(g.score - w.score) < 1e-9, s"prefix score mismatch for '$p'")
      }
    }
    // when the cap binds it takes a deterministic PREFIX of the full
    // expansion order — never an arbitrary subset
    val full = Searcher.expandPrefix(ix, "fn_1", 1024)
    assert(full.size > 3)
    assert(Searcher.expandPrefix(ix, "fn_1", 3) == full.take(3))
    // the dictionary probe pushes StartsWith into the termstats parquet scan
    import spark.implicits._
    val probePlan = ix.termstats.filter($"term".startsWith("fn_1"))
      .queryExecution.executedPlan.toString
    assert(probePlan.contains("StartsWith"),
      s"prefix probe not pushed to the scan:\n$probePlan")
  }

  test("fuzzy search (edit-distance expansion) rank-identical vs oracle") {
    // reference Levenshtein for the oracle expansion — full DP, no band
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (j == 0) i else if (i == 0) j else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    def oracleExpand(term: String, maxDist: Int, cap: Int): Seq[String] =
      oracle.postings.keysIterator.filter(t => lev(t, term) <= maxDist).toSeq
        .map(t => (t, oracle.df(t))).sortBy { case (t, d) => (-d, t) }
        .take(cap).map(_._1)
    for ((t, dist, cap) <- Seq(("retrun", 2, 16), ("fn_1_9", 1, 16),
                               ("iff", 1, 16), ("zzzzzzz", 1, 4))) {
      val terms = Searcher.expandFuzzy(ix, t, dist, cap)
      assert(terms == oracleExpand(t, dist, cap), s"fuzzy expansion mismatch for '$t'")
      val got = Searcher.searchFuzzy(ix, t, 10, dist, cap).collect().sortBy(_.rank)
      val want = Oracle.searchOr(oracle, terms, 10)
      assert(got.length == want.length, s"fuzzy size mismatch for '$t': ${got.toSeq} vs $want")
      got.zip(want).foreach { case (g, w) =>
        assert(g.docId == w.docId, s"fuzzy docId mismatch for '$t'")
        assert(math.abs(g.score - w.score) < 1e-9, s"fuzzy score mismatch for '$t'")
      }
    }
    // the exact term is its own distance-0 neighbor: fuzzy('if') ⊇ search('if')
    assert(Searcher.expandFuzzy(ix, "if", 1, 64).contains("if"))
  }

  test("search_after paging: pages stitch into the full ranking; serving parity") {
    built
    for ((terms, phrase) <- Seq((Seq("if"), false), (Seq("if", "return"), false),
                                (Seq("if", "return"), true))) {
      val full = Searcher.search(ix, terms, 1000, phrase = phrase)
        .collect().sortBy(_.rank)
      assert(full.length > 25, s"fixture too small for paging: ${full.length}")
      // walk pages of 10 via the cursor; the concatenation must equal the
      // full ranking exactly (docIds AND scores), with per-page ranks 1..10
      val svc = new graft.query.LocalService(ix)
      var cursor = (Double.PositiveInfinity, -1)
      var collected = Vector.empty[Searcher.Hit]
      var page = 0
      while (collected.length < math.min(full.length, 35)) {
        val hits = Searcher.searchAfter(ix, terms, 10, cursor._1, cursor._2,
          phrase = phrase).collect().sortBy(_.rank)
        assert(hits.nonEmpty, s"page $page empty before ranking exhausted")
        assert(hits.map(_.rank).toSeq == (1 to hits.length), "page ranks are local")
        // serving path returns the identical page
        val served = svc.searchAfter(terms, 10, cursor._1, cursor._2, phrase = phrase)
        assert(served.map(_.docId) == hits.map(_.docId).toSeq, s"served page $page $terms")
        served.zip(hits).foreach { case (g, w) => assert(g.score == w.score) }
        collected ++= hits
        cursor = (hits.last.score, hits.last.docId)
        page += 1
      }
      collected.zip(full).foreach { case (g, w) =>
        assert(g.docId == w.docId && g.score == w.score,
          s"stitched pages diverge from the full ranking for $terms")
      }
      // a cursor past the last hit yields the empty page
      val tail = full.last
      if (full.length <= 1000)
        assert(Searcher.searchAfter(ix, terms, 10, tail.score, tail.docId,
          phrase = phrase).collect().isEmpty ||
          full.length == 1000 /* ranking truncated: a longer tail may exist */)
    }
  }

  test("spell suggestion: distance-first ranking vs oracle; serving parity") {
    def oracleSuggest(term: String, maxDist: Int, cap: Int): Seq[(String, Int, Long)] =
      oracle.postings.keysIterator.toSeq
        .map(t => (t, levenshtein(t, term), oracle.df(t).toLong))
        .filter(_._2 <= maxDist)
        .sortBy { case (t, d, df) => (d, -df, t) }
        .take(cap)
    def levenshtein(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (j == 0) i else if (i == 0) j else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    for ((t, dist, cap) <- Seq(("retrun", 2, 3), ("fi", 1, 3), ("zzzzzzz", 2, 3))) {
      val got = Searcher.suggest(ix, t, dist, cap)
      assert(got == oracleSuggest(t, dist, cap), s"suggest mismatch for '$t': $got")
    }
    // an indexed term is its own distance-0 first suggestion
    val self = Searcher.suggest(ix, "return", 2, 3)
    assert(self.headOption.exists { case (t, d, _) => t == "return" && d == 0 })
    // serving path returns the identical ranking from its resident cache
    val svc = new graft.query.LocalService(ix)
    assert(svc.suggest("retrun", 2, 3) == Searcher.suggest(ix, "retrun", 2, 3))
    assert(svc.suggest("retrun", 2, 3) eq svc.suggest("retrun", 2, 3)) // cached
  }

  test("wildcard search (glob expansion) rank-identical vs oracle") {
    // reference glob matcher for the oracle expansion — regex, not LIKE
    def globMatch(t: String, pattern: String): Boolean =
      t.matches(pattern.flatMap {
        case '*' => ".*"
        case '?' => "."
        case c   => java.util.regex.Pattern.quote(c.toString)
      })
    def oracleExpand(pattern: String, cap: Int): Seq[String] =
      oracle.postings.keysIterator.filter(globMatch(_, pattern)).toSeq
        .map(t => (t, oracle.df(t))).sortBy { case (t, d) => (-d, t) }
        .take(cap).map(_._1)
    // '*turn' / '*?ask' exercise the reversed-dictionary suffix descent
    // (leading wildcard, literal suffix); '*eight*' stays the full-scan
    // middle-literal path
    for ((p, cap) <- Seq(("*eight*", 64), ("re?urn", 64), ("f*_1_*", 8),
                         ("fn_?_?", 64), ("zz*qq", 4), ("*turn", 64),
                         ("*?ask", 16), ("*nosuchsuffix", 8))) {
      val terms = Searcher.expandWildcard(ix, p, cap)
      assert(terms == oracleExpand(p, cap), s"wildcard expansion mismatch for '$p'")
      val got = Searcher.searchWildcard(ix, p, 10, cap).collect().sortBy(_.rank)
      val want = Oracle.searchOr(oracle, terms, 10)
      assert(got.length == want.length, s"wildcard size mismatch for '$p'")
      got.zip(want).foreach { case (g, w) =>
        assert(g.docId == w.docId && math.abs(g.score - w.score) < 1e-9,
          s"wildcard hit mismatch for '$p'")
      }
      // serving-path parity (resident expansion cache)
      val svc = new graft.query.LocalService(ix)
      val served = svc.searchWildcard(p, 10, cap)
      assert(served.map(_.docId) == want.map(_.docId).toSeq, s"served wildcard '$p'")
    }
    // underscore in the pattern stays literal (it is a token char, not a
    // one-char glob): 'fn_0_0' must not be reachable via 'fnX0X0'-style
    // matches and 'fn_0_*' must only match the fn_0_ family
    val uw = Searcher.expandWildcard(ix, "fn_0_*", 64)
    assert(uw.nonEmpty && uw.forall(_.startsWith("fn_0_")))
  }

  test("regex search (anchored full-match expansion) rank-identical vs oracle") {
    def oracleExpand(pattern: String, cap: Int): Seq[String] =
      oracle.postings.keysIterator.filter(_.matches(s"(?:$pattern)")).toSeq
        .map(t => (t, oracle.df(t))).sortBy { case (t, d) => (-d, t) }
        .take(cap).map(_._1)
    for ((p, cap) <- Seq(("re[a-z]+", 64),      // prefix 're' pushed
                         ("fn_[0-9]_[0-9]", 8), // prefix 'fn_' pushed
                         ("ret?urn", 64),       // quantifier eats last literal
                         ("if|fn_0_0", 64),     // alternation: no prefix
                         ("zzz+q", 4))) {       // empty expansion
      val terms = Searcher.expandRegex(ix, p, cap)
      assert(terms == oracleExpand(p, cap), s"regex expansion mismatch for '$p'")
      val got = Searcher.searchRegex(ix, p, 10, cap).collect().sortBy(_.rank)
      val want = Oracle.searchOr(oracle, terms, 10)
      assert(got.length == want.length, s"regex size mismatch for '$p'")
      got.zip(want).foreach { case (g, w) =>
        assert(g.docId == w.docId && math.abs(g.score - w.score) < 1e-9,
          s"regex hit mismatch for '$p'")
      }
      // serving-path parity (resident expansion cache)
      val svc = new graft.query.LocalService(ix)
      val served = svc.searchRegex(p, 10, cap)
      assert(served.map(_.docId) == want.map(_.docId).toSeq, s"served regex '$p'")
    }
    // full-match anchoring: a bare literal matches ONLY itself, never as a
    // substring of longer dictionary terms (Lucene RegexpQuery semantics)
    assert(Searcher.expandRegex(ix, "return", 64) == Seq("return"))
    // the conservative literal-prefix extractor never changes semantics
    assert(Searcher.regexLiteralPrefix("ret?urn") == "re")
    assert(Searcher.regexLiteralPrefix("fn_[0-9]") == "fn_")
    assert(Searcher.regexLiteralPrefix("ab|cd") == "")
    assert(Searcher.regexLiteralPrefix("ret{1,2}x") == "re")
  }

  test("more-like-this: deterministic tf-idf expansion, source excluded, vs oracle") {
    def oracleMlt(d: Int, k: Int, maxTerms: Int): Seq[Oracle.Hit] = {
      val body = oracle.docs.find(_.docId == d).get.content
      val tf = graft.core.Tokenizer.terms(body).groupBy(identity)
        .map { case (t, xs) => t -> xs.length }
      val ranked = tf.toSeq
        .filter { case (t, _) => oracle.df(t) > 0 }
        .map { case (t, f) =>
          (t, math.round(f * graft.core.Bm25.idf(oracle.nDocs, oracle.df(t)) * 1e6)) }
        .sortBy { case (t, imp) => (-imp, t) }
        .take(maxTerms).map(_._1)
      Oracle.searchOr(oracle, ranked, k + 1).filterNot(_.docId == d).take(k)
    }
    for (src <- Seq(0, 7, 123)) {
      val got = Searcher.moreLikeThis(ix, src, 10).collect().sortBy(_.rank)
      val want = oracleMlt(src, 10, 8)
      assert(got.map(_.docId).toSeq == want.map(_.docId), s"MLT docIds for src=$src")
      got.zip(want).foreach { case (g, w) =>
        assert(math.abs(g.score - w.score) < 1e-9, s"MLT score for src=$src") }
      assert(!got.exists(_.docId == src), "source doc leaked into its own MLT result")
      assert(got.nonEmpty, s"MLT empty for src=$src")
    }
    // unknown source doc → empty, no throw
    assert(Searcher.moreLikeThis(ix, 10 * NDocs.toInt, 10).isEmpty)
  }

  test("facet counts over all matches agree with a brute-force oracle") {
    import spark.implicits._
    // brute-force: match set from the oracle postings, lang from the same
    // (repo,path)-sorted row order the docId assignment uses
    val rows = (0L until NDocs).map(id => CorpusGen.row(42L, id)).sortBy(r => (r._1, r._2))
    val langOf: Int => String = d => rows(d)._4
    def wantFacets(terms: Seq[String], exclude: Seq[String] = Nil): Map[String, Long] = {
      val sets = terms.map(t =>
        oracle.postings.getOrElse(t, Array.empty[(Int, Int, Array[Int])]).map(_._1).toSet)
      val exSet = exclude.flatMap(t =>
        oracle.postings.getOrElse(t, Array.empty[(Int, Int, Array[Int])]).map(_._1)).toSet
      val matched =
        if (sets.isEmpty || sets.exists(_.isEmpty)) Set.empty[Int]
        else sets.reduce(_ intersect _) -- exSet
      matched.groupBy(langOf).map { case (l, ds) => l -> ds.size.toLong }
    }
    for ((q, ex) <- Seq((Seq("if", "return"), Nil), (Seq("epsilon"), Nil),
                        (Seq("if", "return"), Seq("val")))) {
      val got = Searcher.facetCounts(ix, q, "lang", ex)
        .as[(String, Long)].collect().toMap
      assert(got == wantFacets(q, ex), s"facets mismatch for $q -$ex: $got")
    }
    // matchingDocs: full conjunctive match set, P2 guard on absent terms
    val m = Searcher.matchingDocs(ix, Seq("if", "return")).as[Int].collect().toSet
    val wantM = oracle.postings("if").map(_._1).toSet
      .intersect(oracle.postings("return").map(_._1).toSet)
    assert(m == wantM)
    assert(Searcher.matchingDocs(ix, Seq("if", "zzz_absent")).isEmpty)
    // histogram facet: same matched set, bucketed on the numeric len column
    val gotH = Searcher.facetHistogram(ix, Seq("if", "return"), "len", 10L)
      .as[(Long, Long)].collect().toMap
    val wantH = wantM.groupBy(d => oracle.docLen(d).toLong / 10L)
      .map { case (b, ds) => b -> ds.size.toLong }
    assert(gotH == wantH, s"histogram mismatch: $gotH vs $wantH")
  }

  test("phrase query matches oracle") {
    // 'return' followed by a zipf word occurs in many docs; also a never-
    // adjacent pair must return empty; repeated terms use per-slot shifts.
    val phrases = Seq(Seq("if", "return"), Seq("return", "val"),
      Seq("int", "fn_0_0"), Seq("if", "if"), Seq("val", "val"))
    phrases.foreach { p =>
      val got = Searcher.search(ix, p, 10, phrase = true).collect().sortBy(_.rank)
      val want = Oracle.search(oracle, p, 10, phrase = true)
      assert(got.map(_.docId).toSeq == want.map(_.docId),
        s"phrase $p: ${got.toSeq} vs $want")
      got.zip(want).foreach { case (g, w) => assert(math.abs(g.score - w.score) < 1e-9) }
    }
  }

  test("proximity (slop) query: greedy matcher vs brute force, engine vs oracle, serving parity") {
    // brute-force ordered-span enumerator — independent of the greedy
    // minimal-chain algorithm in Oracle.proximityMatch
    def brute(lists: Seq[Array[Int]], slop: Int): Boolean = {
      val k = lists.size
      if (k == 0 || lists.exists(_.isEmpty)) return false
      def rec(i: Int, prev: Int, start: Int): Boolean =
        if (i == k) prev - start <= (k - 1) + slop
        else lists(i).exists(p => p > prev && rec(i + 1, p, if (i == 0) p else start))
      if (k == 1) true else lists.head.exists(p => rec(1, p, p))
    }
    // 1. matcher vs brute force on real corpus position lists
    val rnd = new scala.util.Random(7)
    val vocab = oracle.postings.keys.toArray.sorted
    for (_ <- 1 to 200) {
      val ts = Seq.fill(2 + rnd.nextInt(2))(vocab(rnd.nextInt(vocab.length)))
      val slop = rnd.nextInt(4)
      val docs = ts.map(t => oracle.postings(t).map(_._1).toSet).reduce(_ intersect _)
      docs.take(5).foreach { d =>
        val lists = ts.map(t => oracle.postings(t).find(_._1 == d).get._3.sorted)
        assert(graft.core.Oracle.proximityMatch(lists, slop) == brute(lists, slop),
          s"greedy != brute for terms=$ts slop=$slop doc=$d lists=${lists.map(_.toSeq)}")
      }
    }
    // 2. slop=0 ≡ phrase on the engine path
    val p0 = Searcher.search(ix, Seq("if", "return"), 10, phrase = true, slop = 0)
      .collect().sortBy(_.rank)
    val ph = Searcher.search(ix, Seq("if", "return"), 10, phrase = true)
      .collect().sortBy(_.rank)
    assert(p0.map(_.docId).toSeq == ph.map(_.docId).toSeq)
    // 3. engine vs oracle across slops and arities (incl. a never-adjacent
    // pair that only matches at slop>0)
    val cases = Seq((Seq("if", "return"), 2), (Seq("return", "val"), 3),
      (Seq("int", "fn_0_0"), 1), (Seq("val", "def", "for"), 4), (Seq("if", "if"), 2))
    cases.foreach { case (terms, slop) =>
      val got = Searcher.search(ix, terms, 10, phrase = true, slop = slop)
        .collect().sortBy(_.rank)
      val want = Oracle.search(oracle, terms, 10, phrase = true, slop = slop)
      assert(got.map(_.docId).toSeq == want.map(_.docId),
        s"proximity $terms~$slop: ${got.toSeq} vs $want")
      got.zip(want).foreach { case (g, w) => assert(math.abs(g.score - w.score) < 1e-9) }
      // proximity matches are a superset of exact-phrase matches
      val phraseDocs = Oracle.search(oracle, terms, 1000, phrase = true).map(_.docId).toSet
      val nearDocs = Oracle.search(oracle, terms, 1000, phrase = true, slop = slop)
        .map(_.docId).toSet
      assert(phraseDocs.subsetOf(nearDocs), s"slop shrank the match set for $terms")
      // serving-path parity (driver leapfrog with the slop window check)
      val svc = new graft.query.LocalService(ix)
      val served = svc.search(terms, 10, phrase = true, slop = slop)
      assert(served.map(_.docId) == want.map(_.docId).toSeq, s"served proximity $terms~$slop")
      served.zip(want).foreach { case (g, w) => assert(math.abs(g.score - w.score) < 1e-9) }
    }
  }

  test("batch searchAll agrees with per-query search") {
    import spark.implicits._
    val queries = TestQueries.mix.zipWithIndex.map { case (q, i) => (i, q) }
    val all = Searcher.searchAll(ix, queries, 10)
      .as[(Int, Int, Int, Double)].collect()
      .groupBy(_._1)
    queries.foreach { case (qid, terms) =>
      val want = Oracle.search(oracle, terms, 10)
      val got = all.getOrElse(qid, Array.empty).sortBy(_._2)
      assert(got.map(_._3).toSeq == want.map(_.docId), s"batch mismatch q$qid $terms")
    }
  }

  test("batch searchAll decodes only blocks in each query's coverage intersection") {
    import spark.implicits._
    // rare∧hot batch: every hot term's blocks should be pruned to the rare
    // term's (narrow) coverage — the J3 skip analog on the batch path
    val queries = Seq((0, Seq("fn_10_0", "if")), (1, Seq("fn_1_0", "return")))
    val all = Searcher.searchAll(ix, queries, 10)
      .as[(Int, Int, Int, Double)].collect().groupBy(_._1)
    queries.foreach { case (qid, terms) =>
      val want = Oracle.search(oracle, terms, 10)
      val got = all.getOrElse(qid, Array.empty).sortBy(_._2)
      assert(got.map(_._3).toSeq == want.map(_.docId), s"batch mismatch q$qid $terms")
    }
    val (total, decoded) = Searcher.lastBatchDiag.get()
    assert(decoded > 0, "diag not published")
    assert(decoded < total / 2,
      s"batch path decoded $decoded of $total postings — block pruning not effective")
  }

  test("synonym-group search: blended tf/df rank-identical to brute force") {
    import graft.core.{Bm25, LenByte}
    // groups over the engine corpus vocab; "zzqq_nosuch" exercises the
    // absent-member drop, the (epsilon|posting) group the blended stats
    val groups = Seq(Seq("epsilon", "posting", "zzqq_nosuch"), Seq("if"))
    def tfOf(d: Int, t: String): Long =
      oracle.postings.get(t).flatMap(_.find(_._1 == d)).map(_._2.toLong).getOrElse(0L)
    val live = groups.map(_.filter(t => oracle.df(t) > 0))
    val docsOf: Seq[Set[Int]] = live.map(_.flatMap(t =>
      oracle.postings(t).map(_._1)).toSet)
    val dfG = docsOf.map(_.size.toLong)
    val matchedDocs = docsOf.reduceLeft(_ intersect _).toSeq.sorted
    val want = matchedDocs.map { d =>
      val lb = LenByte.encode(oracle.docLen(d).toLong)
      var s = 0.0
      live.indices.foreach { i =>
        val tfg = live(i).map(tfOf(d, _)).sum
        s += Bm25.idf(oracle.nDocs, dfG(i)) * Bm25.tfNormLossy(tfg, lb, oracle.lossyCache)
      }
      (d, s)
    }.sortBy { case (d, s) => (-s, d) }.take(10)
    val got = Searcher.searchSynonym(ix, groups, 10).collect().sortBy(_.rank)
    assert(got.map(_.docId).toSeq == want.map(_._1),
      s"synonym mismatch: ${got.toSeq} vs $want")
    got.zip(want).foreach { case (g, w) => assert(math.abs(g.score - w._2) < 1e-9) }
    // Lucene max-df rewrite: same matching set, metadata-only stats
    val gotMax = Searcher.searchSynonym(ix, groups, 1000, exactDf = false).collect()
    assert(gotMax.map(_.docId).toSet == matchedDocs.toSet, "max-df match set")
    // a group with NO live member voids the query (P2 analog)
    assert(Searcher.searchSynonym(ix, Seq(Seq("if"), Seq("zzqq_nosuch")), 10).isEmpty)
  }

  test("boolean queries: nested AND/OR/NOT rank-identical to brute force") {
    import graft.query.BoolQuery
    import graft.core.{Bm25, LenByte}
    def presence(d: Int, t: String): Boolean =
      oracle.postings.get(t).exists(_.exists(_._1 == d))
    def tfOf(d: Int, t: String): Long =
      oracle.postings.get(t).flatMap(_.find(_._1 == d)).map(_._2.toLong).getOrElse(0L)
    def evalRaw(n: BoolQuery.Node, d: Int): Boolean = n match {
      case BoolQuery.Term(t) => presence(d, t)
      case BoolQuery.Not(c)  => !evalRaw(c, d)
      case BoolQuery.And(cs) => cs.forall(evalRaw(_, d))
      case BoolQuery.Or(cs)  => cs.exists(evalRaw(_, d))
      case _                 => false
    }
    def brute(qs: String, k: Int): Seq[(Int, Double)] = {
      val root = BoolQuery.parse(qs)
      // clause-aware Lucene scoring: only MATCHING clauses contribute
      def score(n: BoolQuery.Node, d: Int, lb: Int): Double = n match {
        case BoolQuery.Term(t) =>
          if (presence(d, t))
            Bm25.idf(oracle.nDocs, oracle.df(t)) *
              Bm25.tfNormLossy(tfOf(d, t), lb, oracle.lossyCache)
          else 0.0
        case BoolQuery.Not(_) => 0.0
        case BoolQuery.And(cs) =>
          if (evalRaw(n, d)) cs.map(score(_, d, lb)).sum else 0.0
        case BoolQuery.Or(cs) =>
          if (evalRaw(n, d)) cs.map(score(_, d, lb)).sum else 0.0
        case _ => 0.0
      }
      oracle.docs.map(_.docId).filter(evalRaw(root, _)).map { d =>
        val lb = LenByte.encode(oracle.docLen(d).toLong)
        (d, score(root, d, lb))
      }.sortBy { case (d, s) => (-s, d) }.take(k)
    }
    // fold-neutral cases (no pure-negative OR clause, so raw eval == Lucene
    // semantics): nested AND/OR, NOT under AND, NOT over a parenthesized OR
    val cases = Seq(
      "(if AND return) OR (val AND def AND NOT epsilon)",
      "if AND NOT (return OR val)",
      "(epsilon OR posting) AND NOT fn_1_0",
      "(if AND nosuchterm_xyz) OR posting") // absent term folds the left clause away
    val svc = new graft.query.LocalService(ix)
    cases.foreach { q =>
      val got = graft.query.BoolQuery.search(ix, q, 10).collect().sortBy(_.rank)
      val want = brute(q, 10)
      assert(got.map(_.docId).toSeq == want.map(_._1), s"bool mismatch [$q]: " +
        s"${got.map(h => (h.docId, h.score)).toSeq} vs $want")
      got.zip(want).foreach { case (g, w) => assert(math.abs(g.score - w._2) < 1e-9, s"[$q]") }
      // serving path: bitwise score parity with the distributed path
      val served = svc.searchBool(q, 10)
      assert(served.map(_.docId) == got.map(_.docId).toSeq, s"served bool [$q]")
      served.zip(got).foreach { case (s, g) => assert(s.score == g.score, s"served bits [$q]") }
    }
    // batched path: one job for the whole boolean log, per-query parity
    locally {
      import spark.implicits._
      val batch = graft.query.BoolQuery.searchAll(ix,
          cases.zipWithIndex.map { case (q, i) => (i, BoolQuery.parse(q)) }, 10)
        .as[(Int, Int, Int, Double)].collect().groupBy(_._1)
      cases.zipWithIndex.foreach { case (q, i) =>
        val got = batch.getOrElse(i, Array.empty).sortBy(_._2)
        val want = brute(q, 10)
        assert(got.map(_._3).toSeq == want.map(_._1), s"batch bool mismatch [$q]")
        got.zip(want).foreach { case (g, w) =>
          assert(math.abs(g._4 - w._2) < 1e-9, s"batch bool score [$q]") }
      }
    }
    // Lucene pure-negative rules: a MUST_NOT-only query (or clause) matches
    // nothing / drops out of an OR
    assert(BoolQuery.search(ix, "NOT if", 10).isEmpty)
    assert(BoolQuery.search(ix, "(NOT if) OR (NOT return)", 10).isEmpty)
    val folded = BoolQuery.search(ix, "if OR (NOT return)", 10).collect().map(_.docId).toSeq
    val plain = BoolQuery.search(ix, "if", 10).collect().map(_.docId).toSeq
    assert(folded == plain, "pure-negative OR clause must fold away")
    // operator precedence: AND binds tighter than OR
    val prec = BoolQuery.parse("if AND return OR val")
    assert(prec == BoolQuery.Or(Seq(
      BoolQuery.And(Seq(BoolQuery.Term("if"), BoolQuery.Term("return"))),
      BoolQuery.Term("val"))))
  }

  test("batch searchAll: NOT queries, disjunctive members, forced WAND — per-query parity") {
    import spark.implicits._
    // NOT queries folded into the batch (per-query skip-pruned exclusion
    // anti-join), disjunctive (OR) members, and the batched WAND pilot all
    // active at once; every query must stay rank- AND score-identical to
    // the oracle. Includes the unsatisfiable required∧excluded case.
    val conjCases = Seq(
      (0, Seq("epsilon"), Seq("return")),            // rare +, hot −
      (1, Seq("if", "return"), Seq("val")),          // hot∧hot, hot −
      (2, Seq("hash", "seed"), Seq("nosuchterm_xyz")), // excluded absent
      (3, Seq("posting"), Seq("epsilon", "score")),  // multi-term exclusion
      (4, Seq("if"), Seq("if")),                     // unsatisfiable
      (5, Seq("if", "return"), Nil),                 // hot∧hot, no exclusion
      (6, Seq("if", "val", "def", "for"), Nil))
    val orCases = Seq(
      (7, Seq("epsilon", "posting"), Seq("return")), // OR with exclusion
      (8, Seq("if", "epsilon"), Nil))                // OR hot∨rare
    val queries = (conjCases ++ orCases).map(c => (c._1, c._2))
    val excludes = (conjCases ++ orCases).filter(_._3.nonEmpty).map(c => c._1 -> c._3).toMap
    val disj = orCases.map(_._1).toSet
    // no-WAND pass (range pruning only), then forced-WAND pass
    def run(wandMin: Long) = Searcher
      .searchAll(ix, queries, 10, disj, excludes, wandMinPostings = wandMin)
      .as[(Int, Int, Int, Double)].collect().groupBy(_._1)
    val rangeOnly = run(Long.MaxValue)
    val (_, decodedRange) = Searcher.lastBatchDiag.get()
    val wand = run(0L)
    val (_, decodedWand) = Searcher.lastBatchDiag.get()
    assert(decodedWand <= decodedRange,
      s"forced WAND decoded MORE ($decodedWand) than range-only ($decodedRange)")
    Seq(rangeOnly, wand).foreach { all =>
      conjCases.foreach { case (qid, q, ex) =>
        val want =
          if (ex.exists(q.contains)) Nil else Oracle.search(oracle, q, 10, excludeTerms = ex)
        val got = all.getOrElse(qid, Array.empty).sortBy(_._2)
        assert(got.map(_._3).toSeq == want.map(_.docId), s"batch NOT mismatch q$qid $q -$ex")
        got.zip(want).foreach { case (g, w) => assert(math.abs(g._4 - w.score) < 1e-9) }
      }
      orCases.foreach { case (qid, q, ex) =>
        val want = Oracle.searchOr(oracle, q, 10, excludeTerms = ex)
        val got = all.getOrElse(qid, Array.empty).sortBy(_._2)
        assert(got.map(_._3).toSeq == want.map(_.docId), s"batch OR mismatch q$qid $q -$ex")
        got.zip(want).foreach { case (g, w) => assert(math.abs(g._4 - w.score) < 1e-9) }
      }
    }
  }

  test("docId assignment is identical at different parallelism (N vs 4N)") {
    import spark.implicits._
    val corpus = CorpusGen.generate(spark, 500, seed = 7L, partitions = 4)
    val a = IndexBuilder.assignDocIds(spark, corpus, partitions = 2)
      .select("docId", "path").as[(Int, String)].collect().toMap
    val b = IndexBuilder.assignDocIds(spark, corpus, partitions = 8)
      .select("docId", "path").as[(Int, String)].collect().toMap
    assert(a == b)
    assert(a.keys.min == 0 && a.keys.max == 499 && a.size == 500) // dense, no holes
  }

  test("hot-term salting shards blocks by docId range and decodes in order") {
    import spark.implicits._
    built
    val docstore = spark.read.parquet(s"$tmp/docstore").as[IndexBuilder.DocRow]
    val flat = IndexBuilder.flatPostings(docstore)
    // force salting: everything with df > 64 gets sharded
    val blocks = IndexBuilder.buildBlocks(spark, flat, NDocs, partitions = 8, saltTarget = 64)
    val ifBlocks = blocks.filter($"term" === "if")
      .select("prevDocId", "n", "docIds", "tfs", "firstDocId", "lastDocId")
      .as[(Int, Int, Array[Byte], Array[Byte], Int, Int)]
      .collect().sortBy(_._5)
    assert(ifBlocks.length > 1, "expected 'if' to be split into multiple blocks")
    // shards are disjoint ascending ranges; concatenated decode == oracle list
    ifBlocks.sliding(2).foreach { w =>
      if (w.length == 2) assert(w(0)._6 < w(1)._5 || w(0)._6 < w(1)._6)
    }
    val decoded = ifBlocks.flatMap { case (prev, n, ids, tfs, _, _) =>
      PostingCodec.decodeDocIdTf(prev, n, ids, tfs)
    }
    val expected = oracle.postings("if").map(p => (p._1, p._2))
    assert(decoded.toSeq == expected.toSeq)
  }

  test("bloom-pruned phrase path returns identical results (J5 lossy-safe)") {
    built
    graft.index.Bloom.buildStage(spark, tmp) // adds bloom/ to the index
    val phrases = Seq(Seq("if", "return"), Seq("return", "val"), Seq("val", "def", "for"))
    phrases.foreach { p =>
      val got = Searcher.search(ix, p, 10, phrase = true).collect().sortBy(_.rank)
      val want = Oracle.search(oracle, p, 10, phrase = true)
      assert(got.map(_.docId).toSeq == want.map(_.docId), s"bloom phrase $p mismatch")
    }
  }

  test("block-max WAND: hot∧hot top-k decodes far fewer postings, exactly") {
    import spark.implicits._
    // heterogeneous corpus: first 1500 docs are long with tf=1 (low score
    // ceiling), last 500 are short with high tf (high ceiling) — block-max
    // metadata separates them, so the θ-prune must skip most low blocks
    val n = 6000
    val rows = (0 until n).map { i =>
      val content =
        if (i < 5500) "if return " + (s"filler$i " * 60).trim
        else "if if if return return"
      ("r0", f"p$i%05d", "c", "x", content)
    }
    val corpus = rows.toDF("repo", "path", "commit", "lang", "content")
      .withColumn("sha256", org.apache.spark.sql.functions.sha2(
        org.apache.spark.sql.functions.col("content"), 256))
    val dir = java.nio.file.Files.createTempDirectory("graft_wand").toString
    try {
      IndexBuilder.build(spark, corpus, dir, partitions = 4)
      val wix = Searcher.load(spark, dir)
      val oracleW = new Oracle.Index(rows.zipWithIndex.map { case (r, i) => Oracle.Doc(i, r._5) })
      val got = Searcher.search(wix, Seq("if", "return"), 10, wandMinPostings = 0L)
        .collect().sortBy(_.rank)
      val diag = Searcher.lastDiag.get()
      val want = Oracle.search(oracleW, Seq("if", "return"), 10)
      assert(got.map(_.docId).toSeq == want.map(_.docId).toSeq)
      got.zip(want).foreach { case (g, w) => assert(math.abs(g.score - w.score) < 1e-9) }
      assert(diag.usedWand, s"wand not engaged: $diag")
      assert(diag.decodedPostings < diag.totalPostings / 2,
        s"θ-prune decoded ${diag.decodedPostings} of ${diag.totalPostings}: $diag")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("two-way cost-ruled bloom: every probe direction matches the oracle") {
    built
    graft.index.Bloom.buildStage(spark, tmp)
    import spark.implicits._
    val stats = ix.termstats.select("term", "df").as[(String, Long)].collect().toMap
    // pick cases that exercise each branch of CheckBloomWithEnableFactor:
    // rare->hot (end probe), hot->rare (begin probe), comparable (skip)
    val cases = Seq(
      (Seq("epsilon", "if"), "end"),   // df(eps) << df(if): factor*df1 <= df2
      (Seq("if", "epsilon"), "begin"), // df(if) >> df(eps): factor*df2 < df1
      (Seq("if", "return"), "skip-or-probe"))
    cases.foreach { case (p, label) =>
      // sanity on the intended direction for the asymmetric cases
      if (label == "end") assert(stats(p.head) <= stats(p(1)))
      if (label == "begin") assert(stats(p(1)) < stats(p.head))
      for (factor <- Seq(Searcher.BloomNeverUse, 1, 4)) {
        val got = Searcher.search(ix, p, 10, phrase = true, bloomFactor = factor)
          .collect().sortBy(_.rank)
        val want = Oracle.search(oracle, p, 10, phrase = true)
        assert(got.map(_.docId).toSeq == want.map(_.docId),
          s"bloom phrase $p ($label, factor=$factor) mismatch")
        got.zip(want).foreach { case (g, w) =>
          assert(math.abs(g.score - w.score) < 1e-9)
        }
      }
    }
  }

  test("LocalService: warm serving path is rank-identical to oracle and engine") {
    built
    val svc = new graft.query.LocalService(ix)
    val queries = Seq(
      (Seq("if"), false), (Seq("if", "return"), false),
      (Seq("hash", "seed", "mask"), false), (Seq("epsilon"), false),
      (Seq("if", "return"), true), (Seq("return", "val"), true),
      (Seq("if", "zzz_absent"), false)) // P2 guard
    queries.foreach { case (terms, phrase) =>
      val want = Oracle.search(oracle, terms, 10, phrase)
      val got = svc.search(terms, 10, phrase)
      assert(got.map(_.docId) == want.map(_.docId), s"local $terms phrase=$phrase")
      got.zip(want).foreach { case (g, w) => assert(math.abs(g.score - w.score) < 1e-9) }
    }
    // warm path: repeated query answers purely from the resident cache, fast
    assert(svc.residentPostings > 0)
    val t0 = System.nanoTime()
    val again = svc.search(Seq("if", "return"), 10)
    val warmMs = (System.nanoTime() - t0) / 1e6
    assert(again.map(_.docId) == Oracle.search(oracle, Seq("if", "return"), 10).map(_.docId))
    assert(warmMs < 200.0, s"warm serve took ${warmMs}ms — not a resident path")
  }

  test("LocalService: over-budget norms never materialize; results identical") {
    built
    // a budget smaller than the corpus docId space: every scoring path must
    // route distributed and the corpus norm array must never be collected
    val svc = new graft.query.LocalService(ix, maxResidentNorms = 4L)
    val queries = Seq(
      (Seq("if"), false), (Seq("if", "return"), false),
      (Seq("hash", "seed", "mask"), false), (Seq("if", "return"), true))
    queries.foreach { case (terms, phrase) =>
      val want = Oracle.search(oracle, terms, 10, phrase)
      val got = svc.search(terms, 10, phrase)
      assert(got.map(_.docId) == want.map(_.docId), s"gated $terms phrase=$phrase")
      got.zip(want).foreach { case (g, w) => assert(math.abs(g.score - w.score) < 1e-9) }
    }
    // bool + expansion paths route distributed; explain point-probes its norm
    val b = svc.searchBool("if AND return", 5)
    val bWant = new graft.query.LocalService(ix).searchBool("if AND return", 5)
    assert(b == bWant)
    val pfx = svc.searchPrefix("re", 5)
    assert(pfx.nonEmpty)
    val ex = svc.explain(Seq("if"), b.head.docId)
    assert(ex.nonEmpty && ex.head.term == "if")
    assert(!svc.normsMaterialized,
      "over-budget index materialized the corpus norm array on the driver")
  }

  test("Integrity.check: clean index passes every invariant; corruption is flagged") {
    import spark.implicits._
    built
    val res = graft.index.Integrity.check(spark, tmp)
      .as[graft.index.Integrity.CheckResult].collect()
    // 5 core invariants + 2 bloom-store checks (the batch build bloomed)
    assert(res.length == 7, res.mkString(", "))
    res.foreach(r => assert(r.ok && r.violations == 0L, s"fsck: $r"))
    // corrupt a COPY's termstats (df off by one for one term) — fsck must flag it
    val bad = java.nio.file.Files.createTempDirectory("graft_fsck").toString
    try {
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(tmp), new java.io.File(bad))
      import org.apache.spark.sql.functions.{col, when}
      val ts = spark.read.parquet(s"$bad/termstats")
        .withColumn("df", when(col("term") === "if", col("df") + 1).otherwise(col("df")))
        .collect()
      val schema = spark.read.parquet(s"$bad/termstats").schema
      spark.createDataFrame(spark.sparkContext.parallelize(ts.toSeq), schema)
        .write.mode("overwrite").parquet(s"$bad/termstats")
      // inject a stale bloom row (a term with no posting anywhere) — the
      // coverage check must flag exactly one orphan
      val bloomSchema = spark.read.parquet(s"$bad/bloom").schema
      val orphanRows = spark.read.parquet(s"$bad/bloom").limit(1).collect()
        .map(r => org.apache.spark.sql.Row.fromSeq(
          bloomSchema.fieldNames.toSeq.map {
            case "term" => "zzz_bloom_orphan"
            case f => r.getAs[Any](f)
          }))
      spark.createDataFrame(spark.sparkContext.parallelize(orphanRows.toSeq), bloomSchema)
        .write.mode("append").parquet(s"$bad/bloom")
      val flaggedAll = graft.index.Integrity.check(spark, bad)
        .as[graft.index.Integrity.CheckResult].collect()
      val flagged = flaggedAll.find(_.check == "termstats").get
      assert(!flagged.ok && flagged.violations == 1L, s"fsck missed corruption: $flagged")
      val bloomFlagged = flaggedAll.find(_.check == "bloom_orphans").get
      assert(!bloomFlagged.ok && bloomFlagged.violations == 1L,
        s"fsck missed the stale bloom row: $bloomFlagged")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(bad))
  }

  test("LocalService: explain decomposes the served score exactly") {
    built
    val svc = new graft.query.LocalService(ix)
    val terms = Seq("if", "return")
    val hits = svc.search(terms, 3)
    assert(hits.nonEmpty)
    hits.foreach { h =>
      val ex = svc.explain(terms, h.docId)
      assert(ex.map(_.term) == terms)
      // slot-ordered sum of the decomposition IS the served score, bitwise
      val sum = ex.foldLeft(0.0)(_ + _.contribution)
      assert(sum == h.score, s"explain sum $sum != served ${h.score}")
      ex.foreach { e =>
        assert(e.contribution == e.idf * e.tfNorm && e.tf > 0 && e.df > 0)
      }
    }
    // boosts flow through the decomposition the same way search applies them
    val bHits = svc.search(terms, 1, boosts = Map("return" -> 2.5))
    val bEx = svc.explain(terms, bHits.head.docId, boosts = Map("return" -> 2.5))
    assert(bEx.foldLeft(0.0)(_ + _.contribution) == bHits.head.score)
    // conjunctive semantics: absent term or a doc missing one term => empty
    assert(svc.explain(Seq("if", "zzz_absent"), hits.head.docId).isEmpty)
    val retDocs = oracle.postings("return").map(_._1).toSet
    oracle.postings("if").map(_._1).find(!retDocs.contains(_)).foreach { d =>
      assert(svc.explain(terms, d).isEmpty, s"doc $d lacks 'return'")
    }
    // over-budget terms: identical decomposition via pruned block decode,
    // with nothing materialized on the driver
    val tight = new graft.query.LocalService(ix, maxFetchPostings = 50L)
    assert(tight.explain(terms, hits.head.docId) == svc.explain(terms, hits.head.docId))
    assert(tight.residentPostings == 0L,
      "explain materialized a hot term list on the driver")
  }

  test("LocalService: parallel range scan is bitwise-identical to sequential") {
    built
    val seqSvc = new graft.query.LocalService(ix) // threshold keeps these sequential
    val parSvc = new graft.query.LocalService(ix, scanThreshold = 1) // every query splits
    val queries = Seq(
      (Seq("if"), false), (Seq("if", "return"), false),
      (Seq("hash", "seed", "mask"), false), (Seq("epsilon"), false),
      (Seq("if", "return"), true), (Seq("return", "val"), true))
    queries.foreach { case (terms, phrase) =>
      val want = seqSvc.search(terms, 10, phrase)
      val got = parSvc.search(terms, 10, phrase)
      assert(got.map(_.docId) == want.map(_.docId), s"parallel $terms phrase=$phrase")
      // per-doc scores are range-independent slot-ordered sums — the split
      // must not change a single bit, not just the ranking
      got.zip(want).foreach { case (g, w) => assert(g.score == w.score) }
    }
  }

  test("LocalService: NOT (exclusion) parity with the oracle, warm and over-budget") {
    built
    val svc = new graft.query.LocalService(ix)
    val cases: Seq[(Seq[String], Seq[String])] = Seq(
      (Seq("epsilon"), Seq("return")),          // rare +, hot −
      (Seq("if", "return"), Seq("val")),        // hot∧hot, hot −
      (Seq("hash", "seed"), Seq("zzz_absent"))) // excluded term absent
    cases.foreach { case (terms, ex) =>
      val want = Oracle.search(oracle, terms, 10, excludeTerms = ex)
      val got = svc.search(terms, 10, excludeTerms = ex)
      assert(got.map(_.docId) == want.map(_.docId), s"svc NOT $terms -$ex")
      got.zip(want).foreach { case (g, w) => assert(math.abs(g.score - w.score) < 1e-9) }
    }
    // required∧excluded same term is unsatisfiable on the serving path too
    assert(svc.search(Seq("if"), 10, excludeTerms = Seq("if")).isEmpty)
    // over-budget excluded term: the whole query routes to the distributed
    // engine — identical results, no hot list on the driver
    val tight = new graft.query.LocalService(ix, maxFetchPostings = 50L)
    val got = tight.search(Seq("epsilon"), 10, excludeTerms = Seq("return"))
    val want = Oracle.search(oracle, Seq("epsilon"), 10, excludeTerms = Seq("return"))
    assert(got.map(_.docId) == want.map(_.docId))
    assert(tight.residentPostings == 0L,
      "over-budget exclusion list was materialized on the driver")
  }

  test("LocalService: over-budget term is never materialized on the driver") {
    built
    // df gate: any term above maxFetchPostings routes the query to the
    // distributed Searcher — identical results, nothing collected
    val svc = new graft.query.LocalService(ix, maxFetchPostings = 50L)
    val got = svc.search(Seq("if", "return"), 10) // hot terms, df >> 50
    val want = Oracle.search(oracle, Seq("if", "return"), 10)
    assert(got.map(_.docId) == want.map(_.docId), s"fallback mismatch: $got vs $want")
    got.zip(want).foreach { case (g, w) => assert(math.abs(g.score - w.score) < 1e-9) }
    assert(svc.residentPostings == 0L,
      s"hot posting list was collected to the driver (${svc.residentPostings} resident)")
    // an under-cap term still takes the resident warm path
    val got2 = svc.search(Seq("fn_1_0"), 10)
    assert(got2.map(_.docId) == Oracle.search(oracle, Seq("fn_1_0"), 10).map(_.docId))
    assert(svc.residentPostings > 0L, "rare term should have been cached")
  }

  test("LocalService: prefix search parity, warm path, and over-budget fallback") {
    built
    val svc = new graft.query.LocalService(ix)
    val parSvc = new graft.query.LocalService(ix, scanThreshold = 1) // dense path splits
    for ((p, cap) <- Seq(("fn_1", 8), ("epsi", 4), ("zzz_nosuch", 4))) {
      val terms = Searcher.expandPrefix(ix, p, cap)
      val want = Oracle.searchOr(oracle, terms, 10)
      val got = svc.searchPrefix(p, 10, cap)
      assert(got.map(_.docId) == want.map(_.docId),
        s"served prefix '$p': ${got.map(_.docId)} vs ${want.map(_.docId)}")
      got.zip(want).foreach { case (g, w) => assert(math.abs(g.score - w.score) < 1e-9) }
      // the range-split dense accumulator must not change a bit
      val par = parSvc.searchPrefix(p, 10, cap)
      assert(par.map(_.docId) == got.map(_.docId), s"parallel prefix '$p'")
      par.zip(got).foreach { case (g, w) => assert(g.score == w.score) }
    }
    // warm repeat: expansion + lists resident, no new Spark work needed
    val t0 = System.nanoTime()
    val again = svc.searchPrefix("fn_1", 10, 8)
    val warmMs = (System.nanoTime() - t0) / 1e6
    assert(again.nonEmpty && warmMs < 200.0, s"warm prefix serve took ${warmMs}ms")
    // a prefix expanding to a hot over-budget term must fall back to the
    // distributed OR path with identical results and nothing materialized
    val tiny = new graft.query.LocalService(ix, maxFetchPostings = 50L)
    val hotTerms = Searcher.expandPrefix(ix, "i", 64) // includes 'if', df >> 50
    val wantHot = Oracle.searchOr(oracle, hotTerms, 10)
    val gotHot = tiny.searchPrefix("i", 10, 64)
    assert(gotHot.map(_.docId) == wantHot.map(_.docId),
      s"fallback prefix: ${gotHot.map(_.docId)} vs ${wantHot.map(_.docId)}")
    assert(tiny.residentPostings == 0L,
      "hot prefix expansion was materialized on the driver")
  }

  test("LocalService: 16 concurrent clients, identical results under eviction pressure") {
    built
    // tiny cache bound forces constant eviction/refetch races between
    // clients — results must still be rank-identical for every thread
    // (reference bench shape: 16 sync clients, qq_mem/Makefile:35-43)
    val svc = new graft.query.LocalService(ix, maxCachedPostings = 2000L)
    val queries = TestQueries.mix.map(q => (q, false)) ++
      Seq((Seq("if", "return"), true), (Seq("return", "val"), true))
    val wants = queries.map { case (q, p) => Oracle.search(oracle, q, 10, p) }
    // a nested bool query rides every rep too: its compiled evaluator +
    // range-split scan share the scan pool ACROSS the 16 clients
    val boolQ = "(if AND return) OR (val AND NOT epsilon)"
    val boolWant = new graft.query.LocalService(ix).searchBool(boolQ, 10)
    assert(boolWant.nonEmpty)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(16)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    try {
      val futs = (0 until 16).map { tid =>
        pool.submit(new Runnable {
          def run(): Unit = try {
            var rep = 0
            while (rep < 3) {
              queries.zip(wants).foreach { case ((q, p), want) =>
                val got = svc.search(q, 10, p)
                if (got.map(_.docId) != want.map(_.docId))
                  errs.add(s"t$tid $q phrase=$p: ${got.map(_.docId)} vs ${want.map(_.docId)}")
                else if (got.zip(want).exists { case (g, w) => math.abs(g.score - w.score) > 1e-9 })
                  errs.add(s"t$tid $q phrase=$p: score drift")
              }
              val gotB = svc.searchBool(boolQ, 10)
              if (gotB.map(_.docId) != boolWant.map(_.docId) ||
                  gotB.zip(boolWant).exists { case (g, w) => g.score != w.score })
                errs.add(s"t$tid bool: ${gotB.map(_.docId)} vs ${boolWant.map(_.docId)}")
              rep += 1
            }
          } catch { case e: Throwable => errs.add(s"t$tid: $e") }
        })
      }
      futs.foreach(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdown()
    assert(errs.isEmpty, s"${errs.size} mismatches, first: ${errs.peek()}")
  }

  test("LocalService: served snippets = highlighter over stored bodies") {
    built
    val svc = new graft.query.LocalService(ix)
    val byId = oracle.docs.map(d => d.docId -> d.content).toMap
    val queries = Seq(
      (Seq("if", "return"), false), (Seq("if", "return"), true), (Seq("epsilon"), false))
    queries.foreach { case (q, p) =>
      val served = svc.searchWithSnippets(q, 5, p)
      // hits are exactly the plain search result
      assert(served.map(_._1) == svc.search(q, 5, p), s"$q phrase=$p hit drift")
      served.foreach { case (h, snip) =>
        // phrase hits highlight ONLY matching appearances
        // (FilterOffsetByPosition, qq_mem_engine.h:358-362); term hits
        // highlight every appearance (ExpandOffsets)
        val body = byId(h.docId)
        val want =
          if (p) graft.query.Highlighter.snippetFromOffsets(body,
            graft.query.Highlighter.phraseOffsets(body, q))
          else graft.query.Highlighter.snippet(body, q.toSet)
        assert(snip == want, s"$q phrase=$p doc ${h.docId}")
        assert(snip.contains("<b>"), s"$q phrase=$p doc ${h.docId}: no highlight")
      }
    }
    // phrase-filter semantics on a controlled body: the isolated "if" is
    // never bolded, the adjacent pair is — per slot, at its slot position
    val body = "if alone here then if return tail"
    val po = graft.query.Highlighter.phraseOffsets(body, Seq("if", "return"))
    assert(po("if").toSeq == Seq((19, 21)), s"phrase slot-0 offsets: $po")
    assert(po("return").toSeq == Seq((22, 28)), s"phrase slot-1 offsets: $po")
    assert(graft.query.Highlighter.phraseOffsets(body, Seq("if", "alone", "missing")).isEmpty)
    assert(graft.query.Highlighter.phraseOffsets(body, Seq("return", "if")).isEmpty)
    // warm path serves from the body cache — identical reply
    val again = svc.searchWithSnippets(Seq("if", "return"), 5)
    assert(again.map(_._1) == svc.search(Seq("if", "return"), 5))
    assert(again.forall(_._2.nonEmpty))
  }

  test("batched phrase search matches the per-query phrase pipeline") {
    built
    import spark.implicits._
    // mix: hot pair, medium pair, rare∧hot, repeated term, never-adjacent,
    // absent term (P2 guard voids the whole phrase)
    val qs: Seq[(Int, Seq[String])] = Seq(
      0 -> Seq("if", "return"), 1 -> Seq("return", "val"),
      2 -> Seq("int", "fn_0_0"), 3 -> Seq("if", "if"),
      4 -> Seq("epsilon", "fn_1_0"), 5 -> Seq("if", "nosuchterm_xyz"))
    val got = Searcher.searchAllPhrase(ix, qs, 10)
      .as[(Int, Int, Int, Double)].collect().groupBy(_._1)
    qs.foreach { case (qid, terms) =>
      val want = Searcher.search(ix, terms, 10, phrase = true).collect().sortBy(_.rank)
      val rows = got.getOrElse(qid, Array.empty).sortBy(_._2)
      assert(rows.map(_._3).toSeq == want.map(_.docId).toSeq, s"phrase batch q$qid $terms")
      rows.map(_._4).zip(want.map(_.score)).foreach { case (g, w) =>
        assert(math.abs(g - w) < 1e-9, s"phrase batch q$qid score")
      }
    }
    assert(got.getOrElse(5, Array.empty).isEmpty) // absent term => empty
    assert(got(0).nonEmpty && got(3).nonEmpty)
  }

  test("query log: reference format parsed, batched run matches per-query") {
    built
    import spark.implicits._
    val log = java.nio.file.Files.createTempFile("graft_queries", ".log")
    java.nio.file.Files.writeString(log,
      "# comment\nif return\n\"if return\"\n\nepsilon\nVal, Index!\nfn_1*\nzzz_nosuch*\nif -epsilon\nretrun~2\n\"if return\"~2\n*eight*\n/re[a-z]+/\n(if AND return) OR (val AND NOT epsilon)\n")
    val qs = graft.query.QueryLog.load(log.toString)
    assert(qs.map(_.phrase) == Seq(false, true, false, false, false, false, false, false, true, false, false, false))
    assert(qs(1).terms == Seq("if", "return"))
    assert(qs(3).terms == Seq("val", "index")) // tokenizer-normalized
    assert(qs(4).prefix.contains("fn_1") && qs(4).terms.isEmpty)
    assert(qs(5).prefix.contains("zzz_nosuch")) // expands to nothing → no rows
    assert(qs(6).terms == Seq("if") && qs(6).exclude == Seq("epsilon")) // NOT syntax
    assert(qs(7).fuzzy.contains(("retrun", 2)) && qs(7).terms.isEmpty) // fuzzy syntax
    assert(qs(8).phrase && qs(8).slop == 2 && qs(8).terms == Seq("if", "return")) // slop syntax
    assert(qs(9).wildcard.contains("*eight*") && qs(9).terms.isEmpty) // wildcard syntax
    assert(qs(10).regex.contains("re[a-z]+") && qs(10).terms.isEmpty) // regex syntax
    assert(qs(11).bool.nonEmpty &&
      qs(11).terms.toSet == Set("if", "return", "val", "epsilon")) // boolean syntax
    // text: syntax — stemmed conjunctive, gap phrase (shifts), and slop
    locally {
      val t = Seq(
        graft.query.QueryLog.parseLine("text:values indexes", 0).get,
        graft.query.QueryLog.parseLine("text:\"value if count\"", 1).get,
        graft.query.QueryLog.parseLine("text:\"value if count\"~2", 2).get)
      assert(t(0).analyzeText && !t(0).phrase && t(0).terms == Seq("valu", "index"))
      assert(t(1).analyzeText && t(1).phrase && t(1).slop == 0 &&
        t(1).terms == Seq("valu", "count") && // "if" is a stopword
        t(1).phraseShifts.contains(Seq(0, 2))) // ...but consumes a position
      assert(t(2).analyzeText && t(2).phrase && t(2).slop == 2 &&
        t(2).terms == Seq("valu", "count") && t(2).phraseShifts.isEmpty,
        s"slop text phrase: ${t(2)}") // slop path measures spans, not shifts
    }
    val res = graft.query.QueryLog.run(ix, qs, 10)
      .as[(Int, Int, Int, Double)].collect().groupBy(_._1)
    qs.foreach { q =>
      val want = (q.prefix, q.fuzzy, q.wildcard, q.regex, q.bool) match {
        case (Some(p), _, _, _, _) => Searcher.searchPrefix(ix, p, 10).collect().sortBy(_.rank)
        case (_, Some((t, d)), _, _, _) => Searcher.searchFuzzy(ix, t, 10, d).collect().sortBy(_.rank)
        case (_, _, Some(w), _, _) => Searcher.searchWildcard(ix, w, 10).collect().sortBy(_.rank)
        case (_, _, _, Some(r), _) => Searcher.searchRegex(ix, r, 10).collect().sortBy(_.rank)
        case (_, _, _, _, Some(b)) =>
          graft.query.BoolQuery.search(ix, b, 10).collect().sortBy(_.rank)
        case _ => Searcher.search(ix, q.terms, 10, phrase = q.phrase,
          excludeTerms = q.exclude, slop = q.slop).collect().sortBy(_.rank)
      }
      val got = res.getOrElse(q.id, Array.empty).sortBy(_._2)
      assert(got.map(_._3).toSeq == want.map(_.docId).toSeq, s"log query $q")
      got.map(_._4).zip(want.map(_.score)).foreach { case (g, w) =>
        assert(math.abs(g - w) < 1e-9, s"log query $q score")
      }
    }
    assert(res.getOrElse(qs(4).id, Array.empty).nonEmpty,
      "prefix log query returned no rows")
    assert(res.getOrElse(qs(7).id, Array.empty).nonEmpty,
      "fuzzy log query returned no rows")
    // serving-path parity for the fuzzy expansion (resident cache)
    val svc = new graft.query.LocalService(ix)
    val servedFz = svc.searchFuzzy("retrun", 10, 2)
    val wantFz = Searcher.searchFuzzy(ix, "retrun", 10, 2).collect().sortBy(_.rank)
    assert(servedFz.map(_.docId) == wantFz.map(_.docId).toSeq)
    servedFz.zip(wantFz).foreach { case (g, w) => assert(math.abs(g.score - w.score) < 1e-9) }
    java.nio.file.Files.deleteIfExists(log)
  }

  test("LocalService cache stats: warm hits, cold misses, budget evictions") {
    built
    val svc = new graft.query.LocalService(ix)
    svc.search(Seq("if", "return"), 5)
    val (h1, m1, _) = svc.cacheStats
    assert(m1 >= 2, s"cold query should miss both terms: $m1")
    svc.search(Seq("if", "return"), 5)
    val (h2, m2, _) = svc.cacheStats
    assert(h2 - h1 == 2 && m2 == m1, s"warm repeat must be all hits: ${svc.cacheStats}")
    // 1-posting budget: the second distinct term's insert evicts the first
    val tiny = new graft.query.LocalService(ix, maxCachedPostings = 1L)
    tiny.search(Seq("epsilon"), 5)
    tiny.search(Seq("posting"), 5)
    val (_, _, e) = tiny.cacheStats
    assert(e >= 1, s"over-budget insert must evict: ${tiny.cacheStats}")
    // results unaffected by the churn
    assert(tiny.search(Seq("epsilon"), 5) == svc.search(Seq("epsilon"), 5))
  }

  test("synthesized workload replays end-to-end rank-identical to the oracle") {
    built
    import spark.implicits._
    // corpus truth tables the generator samples from (same docs as `ix`)
    val tf = spark.createDataset(oracle.docs.flatMap { d =>
      graft.core.Tokenizer.terms(d.content).groupBy(identity)
        .map { case (t, g) => (d.docId.toLong, t, g.size.toLong) }
    }).toDF("doc_id", "term", "tf")
    val bigrams = spark.createDataset(oracle.docs.flatMap { d =>
      graft.core.Tokenizer.terms(d.content).sliding(2)
        .filter(p => p.size == 2 && p(0) != p(1))
        .map(p => (p.mkString(" "), 1L)).toSeq
    }).toDF("term", "tf")
    // generator → reference log syntax (term lines + quoted phrase lines)
    val termQ = graft.query.QueryLog.synthesize(tf, nQueries = 12)
      .select("term").as[String].collect()
    val phraseQ = graft.query.QueryLog.synthesize(bigrams, nQueries = 6)
      .select("term").as[String].collect()
    assert(termQ.length == 12 && phraseQ.length == 6)
    val log = java.nio.file.Files.createTempFile("graft_synth", ".log")
    java.nio.file.Files.writeString(log,
      (termQ ++ phraseQ.map("\"" + _ + "\"")).mkString("\n") + "\n")
    val qs = graft.query.QueryLog.load(log.toString)
    assert(qs.length == 18 && qs.count(_.phrase) == 6)
    // popularity-proportional sampling must surface hot terms: every
    // sampled single term matches ≥ 1 doc, every phrase's terms co-occur
    val res = graft.query.QueryLog.run(ix, qs, 10)
      .as[(Int, Int, Int, Double)].collect().groupBy(_._1)
    qs.foreach { q =>
      val want = Oracle.search(oracle, q.terms, 10, phrase = q.phrase)
      val got = res.getOrElse(q.id, Array.empty).sortBy(_._2)
      assert(got.map(_._3).toSeq == want.map(_.docId).toSeq, s"synth query $q")
      got.map(_._4).zip(want.map(_.score)).foreach { case (g, w) =>
        assert(math.abs(g - w) < 1e-9, s"synth query $q score")
      }
      if (!q.phrase) assert(want.nonEmpty, s"sampled term ${q.terms} matches nothing")
    }
    java.nio.file.Files.deleteIfExists(log)
  }

  test("randomized query log: batched run rank-identical vs oracle (50 queries)") {
    built
    import spark.implicits._
    // seeded generator — failures reproduce; vocabulary in sorted order so
    // term choice is deterministic across JVMs
    val rnd = new scala.util.Random(20260817L)
    val vocab = oracle.postings.keys.toArray.sorted
    def randTerm(): String = vocab(rnd.nextInt(vocab.length))
    // adjacent token pairs from real docs give phrases that actually match
    def adjacentPair(): Seq[String] = {
      val doc = oracle.docs(rnd.nextInt(oracle.docs.length))
      val toks = graft.core.Tokenizer.terms(doc.content)
      if (toks.length < 2) Seq("if", "return")
      else { val i = rnd.nextInt(toks.length - 1); Seq(toks(i), toks(i + 1)) }
    }
    val qs: Seq[graft.query.QueryLog.LogQuery] = (0 until 50).map { i =>
      rnd.nextInt(10) match {
        case 0 => // prefix query from a random term's stem
          val t = randTerm()
          val p = t.take(1 + rnd.nextInt(math.min(4, t.length)))
          graft.query.QueryLog.LogQuery(i, Nil, phrase = false, prefix = Some(p))
        case 1 | 2 => // phrase: mostly real adjacent pairs, sometimes random (≈empty)
          val terms = if (rnd.nextInt(4) == 0) Seq(randTerm(), randTerm()) else adjacentPair()
          graft.query.QueryLog.LogQuery(i, terms, phrase = true)
        case _ => // conjunctive term query, AOL-ish arity, occasional absent term
          val arity = 1 + rnd.nextInt(4)
          val base = Seq.fill(arity)(randTerm())
          val terms = if (rnd.nextInt(8) == 0) base :+ s"zz_absent_$i" else base
          graft.query.QueryLog.LogQuery(i, terms, phrase = false)
      }
    }
    val res = graft.query.QueryLog.run(ix, qs, 10)
      .as[(Int, Int, Int, Double)].collect().groupBy(_._1)
    // scores must match rankwise; docIds exactly, except permutation is
    // allowed inside FP-tie groups (engine sums partScores in
    // partitioning-dependent order — see the class doc's tolerance note)
    def assertRankEqual(label: String, got: Seq[(Int, Double)], want: Seq[Oracle.Hit]): Unit = {
      assert(got.length == want.length, s"$label size ${got.length} vs ${want.length}")
      got.zip(want).zipWithIndex.foreach { case (((_, gs), w), r) =>
        assert(math.abs(gs - w.score) < 1e-9, s"$label score at rank $r: $gs vs ${w.score}")
      }
      var i = 0
      while (i < got.length) {
        var j = i + 1
        while (j < got.length && math.abs(want(j).score - want(i).score) < 2e-9) j += 1
        assert(got.slice(i, j).map(_._1).sorted.toSeq == want.slice(i, j).map(_.docId).sorted.toSeq,
          s"$label docIds at ranks $i..${j - 1}")
        i = j
      }
    }
    graft.query.QueryLog.resolve(ix, qs).foreach { q =>
      val want = q.prefix match {
        case Some(_) => Oracle.searchOr(oracle, q.terms, 10) // same expansion as the engine
        case None    => Oracle.search(oracle, q.terms, 10, phrase = q.phrase)
      }
      val got = res.getOrElse(q.id, Array.empty).sortBy(_._2).toSeq.map(r => (r._3, r._4))
      assertRankEqual(s"rq${q.id} ${q.prefix.getOrElse(q.terms.mkString(" "))}", got, want)
    }
    assert(res.nonEmpty)
  }

  test("Engine facade: search with snippets and doc freqs") {
    built
    val eng = Engine.load(spark, tmp)
    assert(eng.nDocs == NDocs)
    val res = eng.search(Engine.SearchQuery(Seq("if", "return"), nResults = 5,
      returnSnippets = true))
    assert(res.entries.size == 5)
    // offsets-served snippets must equal the re-tokenize reference path
    // (same passages, same bolded spans) — proves the stored offsets stream
    // is byte-correct and actually used
    val bodies: Map[Int, String] = (0L until NDocs).map(id => CorpusGen.row(42L, id))
      .sortBy(r => (r._1, r._2)).zipWithIndex
      .map { case (r, i) => i -> r._5 }.toMap
    res.entries.foreach { e =>
      val want = graft.query.Highlighter.snippet(bodies(e.docId), Set("if", "return"), 3)
      assert(e.snippet == want, s"offsets snippet diverges for doc ${e.docId}")
      assert(e.snippet.contains("<b>"))
    }
    assert(res.docFreqs.contains("if") && res.docFreqs("if") > 0)
    assert(res.entries.head.snippet.contains("<b>"))
    val want = Oracle.search(oracle, Seq("if", "return"), 5)
    assert(res.entries.map(_.docId) == want.map(_.docId))
    // k=0 short-circuit (`qq_mem_engine.h:338-340`)
    assert(eng.search(Engine.SearchQuery(Seq("if"), nResults = 0)).entries.isEmpty)
  }

  test("plans: term filter pushed to scan, positions column pruned, top-k via TakeOrdered") {
    import spark.implicits._
    built
    // P1: term lookup — filter must reach the parquet scan
    val scanPlan = ix.postings.filter($"term".isin("if", "return"))
      .select("term", "prevDocId", "n", "docIds", "tfs")
      .queryExecution.executedPlan.toString
    assert(scanPlan.contains("PushedFilters: [In(term"), s"no pushdown in:\n$scanPlan")
    // P3: scoring path must not read the positions/offsets columns
    assert(scanPlan.contains("ReadSchema") && !scanPlan.contains("positions"),
      "positions column not pruned from the scoring scan")
    // A5/O2/O3: global top-k must plan as TakeOrderedAndProject (partial
    // per-partition heaps + driver merge), not a global sort
    val topkPlan = ix.doclen.orderBy($"len".desc, $"docId".asc).limit(10)
      .queryExecution.executedPlan.toString
    assert(topkPlan.contains("TakeOrderedAndProject"), topkPlan)
  }

  test("build is resumable: committed stages are skipped") {
    // second build over the same dir must not fail and must keep results
    val corpus = CorpusGen.generate(spark, NDocs, seed = 42L, partitions = 8)
    IndexBuilder.build(spark, corpus, tmp, partitions = 8)
    assert(Searcher.load(spark, tmp).nDocs == NDocs)
  }

  test("SnapshotReader: driver column reads equal the Spark DataFrame reads") {
    import spark.implicits._
    built
    // a salted rewrite of the postings: every term with df > 64 is sharded
    // into docId-range runs encoded by different tasks, so one term's
    // blocks span several files
    val dir = java.nio.file.Files.createTempDirectory("graft_ix_salted").toString
    try {
      org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(tmp), new java.io.File(dir))
      val docstore = spark.read.parquet(s"$tmp/docstore").as[IndexBuilder.DocRow]
      IndexBuilder.buildBlocks(spark, IndexBuilder.flatPostings(docstore), NDocs,
          partitions = 8, saltTarget = 64)
        .write.mode("overwrite").option("compression", "zstd").parquet(s"$dir/postings")
      val salted = Searcher.load(spark, dir)
      val ifFiles = salted.postings.filter($"term" === "if")
        .select(org.apache.spark.sql.functions.input_file_name()).distinct().count()
      assert(ifFiles > 1, s"'if' should span several files, got $ifFiles")
      val rare = oracle.postings.keys.toSeq.sorted
        .find(t => t.startsWith("fn_") && oracle.postings(t).length == 1)
        .getOrElse(fail("no df-1 fn_ identifier in the corpus"))
      val terms = Seq("if", rare, "zzz_absent")
      val reader = new graft.query.SnapshotReader(salted)
      SnapshotReads.assertSameAsSpark(spark, salted, reader, terms)
      assert(reader.dfs(terms) == Map("if" -> oracle.postings("if").length.toLong,
        rare -> 1L, "zzz_absent" -> 0L))
      // the block-pruned tf probe agrees with the decoded list at every doc
      val ifList = reader.lists(Seq("if"), withPositions = false)("if")
      ifList.docIds.zip(ifList.tfs).take(200).foreach { case (d, tf) =>
        assert(reader.tf("if", d) == tf.toLong, s"tf('if', $d)")
      }
      val ifDocs = ifList.docIds.toSet
      (0 until NDocs.toInt).find(!ifDocs.contains(_)).foreach(d => assert(reader.tf("if", d) == 0L))
      assert(reader.tf("zzz_absent", 0) == 0L)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("LocalService: cache misses and an over-cap explain launch no Spark job") {
    built
    val svc = new graft.query.LocalService(ix)
    val tight = new graft.query.LocalService(ix, maxFetchPostings = 50L)
    // the resident norms and the docId space load once per service, with
    // Spark jobs; load them on a term the probes below never touch
    svc.search(Seq("fn_1_0"), 1)
    tight.search(Seq("fn_1_0"), 1)
    val (_, m0, _) = svc.cacheStats
    def noJobs[A](what: String)(body: => A): A = {
      val (jobs, out) = SparkJobs.during(spark)(body)
      assert(jobs == 0, s"$what launched $jobs Spark jobs")
      out
    }
    val term = noJobs("term miss")(svc.search(Seq("epsilon"), 10))
    val pair = noJobs("pair miss")(svc.search(Seq("hash", "seed"), 10))
    val phrase = noJobs("phrase miss")(svc.search(Seq("if", "return"), 10, phrase = true))
    assert(svc.cacheStats._2 - m0 == 5, s"every probe term should miss: ${svc.cacheStats}")
    assert(term.map(_.docId) == Oracle.search(oracle, Seq("epsilon"), 10).map(_.docId))
    assert(pair.map(_.docId) == Oracle.search(oracle, Seq("hash", "seed"), 10).map(_.docId))
    assert(phrase.map(_.docId) ==
      Oracle.search(oracle, Seq("if", "return"), 10, phrase = true).map(_.docId))
    // both terms are over tight's fetch cap: explain probes tf block by block
    val doc = phrase.head.docId
    val resident = tight.residentPostings
    val ex = noJobs("over-cap explain")(tight.explain(Seq("if", "return"), doc))
    assert(ex == svc.explain(Seq("if", "return"), doc) && ex.nonEmpty)
    assert(tight.residentPostings == resident, "explain must not cache an over-cap list")
    // an over-cap query still routes to the distributed Searcher
    val (jobs, hits) = SparkJobs.during(spark)(tight.search(Seq("if", "return"), 10))
    assert(jobs > 0, "an over-cap query should run distributed")
    assert(hits.map(_.docId) == Oracle.search(oracle, Seq("if", "return"), 10).map(_.docId))
  }

  test("legacy index without the inline norm stream: fallback join is rank-identical") {
    // indexes written before the lenBytes stream existed lack the column;
    // every scoring path must fall back to the (docId, lenByte) docstore
    // join with identical results. Simulate one by stripping the column.
    built
    val legacyDir = java.nio.file.Files.createTempDirectory("graft_ix_legacy").toString
    try {
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(tmp), new java.io.File(legacyDir))
      spark.read.parquet(s"$tmp/postings").drop("lenBytes")
        .write.mode("overwrite").parquet(s"$legacyDir/postings")
      val legacy = Searcher.load(spark, legacyDir)
      assert(ix.hasInlineLen, "current builds must carry the inline norm stream")
      assert(!legacy.hasInlineLen)
      // per-query path: conjunctive, disjunctive, and phrase
      Seq(Seq("if", "return"), Seq("hash", "seed", "mask")).foreach { q =>
        val a = Searcher.search(ix, q, 10).collect().sortBy(_.rank)
        val b = Searcher.search(legacy, q, 10).collect().sortBy(_.rank)
        assert(a.map(h => (h.docId, h.score)).toSeq == b.map(h => (h.docId, h.score)).toSeq,
          s"legacy fallback diverges for $q")
      }
      val po = Searcher.search(ix, Seq("if", "return"), 10, phrase = true)
        .collect().sortBy(_.rank)
      val pl = Searcher.search(legacy, Seq("if", "return"), 10, phrase = true)
        .collect().sortBy(_.rank)
      assert(po.map(h => (h.docId, h.score)).toSeq == pl.map(h => (h.docId, h.score)).toSeq)
      // batched path
      val qs = TestQueries.mix.zipWithIndex.map { case (q, i) => (i, q) }
      val ba = Searcher.searchAll(ix, qs, 10).collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getDouble(3))).sortBy(x => (x._1, x._2))
      val bb = Searcher.searchAll(legacy, qs, 10).collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getDouble(3))).sortBy(x => (x._1, x._2))
      assert(ba.toSeq == bb.toSeq, "legacy fallback diverges on the batched path")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(legacyDir))
    }
  }

  test("warm LoadedIndex: Searcher.search runs only its scoring query's jobs") {
    built
    val warm = Searcher.load(spark, tmp)
    val queries = Seq((Seq("hash", "seed"), false), (Seq("if", "return"), true))
    def run(terms: Seq[String], phrase: Boolean) =
      Searcher.search(warm, terms, 10, phrase = phrase).collect().sortBy(_.rank).toSeq
    val cold = queries.map { case (t, p) => run(t, p) }
    queries.zip(cold).foreach { case ((terms, phrase), want) =>
      // schema inference and the termstats collect would each start jobs
      // outside the scoring query's one SQL execution
      val (execs, got) = SparkJobs.executionsDuring(spark)(run(terms, phrase))
      assert(execs.nonEmpty && !execs.contains(null),
        s"$terms: a job ran outside any SQL execution: $execs")
      assert(execs.distinct.size == 1, s"$terms: jobs of several queries ran: $execs")
      assert(got == want)
      assert(got.map(_.docId) == Oracle.search(oracle, terms, 10, phrase = phrase).map(_.docId))
    }
    assert(warm.postings eq warm.postings, "an unchanged snapshot must reuse its relation")
  }

  test("hasInlineLen: a missing postings stage reads false, an unreadable footer throws") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ix_inline").toString
    try {
      def fresh = Searcher.LoadedIndex(spark, dir, 0L, 0.0, Array.empty)
      assert(!fresh.hasInlineLen)
      val part = java.nio.file.Paths.get(dir, "postings", "part-00000.parquet")
      java.nio.file.Files.createDirectories(part.getParent)
      java.nio.file.Files.write(part, "not a parquet file".getBytes("UTF-8"))
      intercept[RuntimeException](fresh.hasInlineLen)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("SnapshotReader skips row groups whose term range excludes every wanted term") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ix_groups").toString
    try {
      val rows = (0 until 3000).map(i => (f"t$i%05d", (i % 7 + 1).toLong, 1L))
      rows.toDF("term", "df", "cf").coalesce(1).sortWithinPartitions("term")
        .write.option("parquet.block.size", 4096).parquet(s"$dir/termstats")
      val file = new java.io.File(s"$dir/termstats").listFiles()
        .filter(_.getName.endsWith(".parquet")).head.toPath
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        new org.apache.parquet.io.LocalInputFile(file))
      val footer = try r.getFooter finally r.close()
      val nGroups = footer.getBlocks.size
      assert(nGroups >= 3, s"want several row groups, got $nGroups")
      val first = graft.query.SnapshotReader.rowGroupsFor(footer, Set("t00000"))
      val last = graft.query.SnapshotReader.rowGroupsFor(footer, Set("t02999"))
      assert(first == Seq(0) && last == Seq(nGroups - 1))
      assert(graft.query.SnapshotReader.rowGroupsFor(footer, Set("a", "u")).isEmpty)
      assert(graft.query.SnapshotReader.rowGroupsFor(footer, Set("t00000", "t02999")) ==
        Seq(0, nGroups - 1))
      val ix = Searcher.LoadedIndex(spark, dir, 0L, 0.0, Array.empty)
      val terms = Seq("t00000", "t01234", "t02999", "t1", "zzz")
      assert(ix.dfs(terms) == rows.filter(r => terms.contains(r._1)).map(r => r._1 -> r._2).toMap)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("a built index's termstats files hold disjoint, term-sorted ranges") {
    built
    val files = new java.io.File(s"$tmp/termstats").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.toPath).toSeq
    assert(files.size >= 2, s"want several termstats files, got ${files.size}")
    val footers = files.map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        new org.apache.parquet.io.LocalInputFile(f))
      try r.getFooter finally r.close()
    }
    // each file's rows are term-sorted, so its row groups' ranges are too
    files.foreach { f =>
      val terms = spark.read.parquet(f.toString).select("term").collect().map(_.getString(0)).toSeq
      assert(terms.nonEmpty && terms == terms.sorted, s"$f is not term-sorted")
    }
    val ranges = footers.map { footer =>
      import scala.jdk.CollectionConverters._
      val stats = footer.getBlocks.asScala.map(_.getColumns.asScala
        .find(_.getPath.toDotString == "term").get.getStatistics)
      (stats.map(_.minAsString).min, stats.map(_.maxAsString).max)
    }.sortBy(_._1)
    ranges.zip(ranges.tail).foreach { case ((_, hi), (lo, _)) =>
      assert(hi < lo, s"overlapping termstats files: $ranges")
    }
    // so a df lookup of one term keeps the row groups of one file only
    Seq("if", "hash", "zzz_absent").foreach { t =>
      val kept = footers.count(f => graft.query.SnapshotReader.rowGroupsFor(f, Set(t)).nonEmpty)
      assert(kept <= 1, s"$t: $kept files kept")
    }
  }
}

object TestQueries {
  /** Deterministic query mix mirroring the AOL arity stats
    * (`data/AOL_QueryLog_analysis/stat.txt`): 1–4 terms, hot/medium/rare,
    * plus an absent term (empty result expected). */
  val mix: Seq[Seq[String]] = Seq(
    Seq("if"), Seq("return"), Seq("epsilon"), Seq("posting"),
    Seq("if", "return"), Seq("val", "index"), Seq("score", "rank"),
    Seq("if", "return", "int"), Seq("hash", "seed", "mask"),
    Seq("if", "val", "def", "for"),
    Seq("fn_1_0"), Seq("fn_10_0", "if"),
    Seq("if", "nosuchterm_xyz"))
}

/** Spark jobs launched by a block of code. */
object SparkJobs {
  private val Fence = "spark-jobs-fence"

  /** (jobs started while `body` ran, its result). */
  def during[A](spark: org.apache.spark.sql.SparkSession)(body: => A): (Int, A) = {
    val (execs, out) = executionsDuring(spark)(body)
    (execs.size, out)
  }

  /** (the SQL execution id of each job started while `body` ran — null
    * for a job outside any SQL execution —, its result). Listener events
    * arrive asynchronously and in order, so a marker job submitted after
    * `body` fences the record: once its start is delivered, so is every
    * earlier job's. A marker before `body` drains earlier jobs' late
    * events. */
  def executionsDuring[A](spark: org.apache.spark.sql.SparkSession)(body: => A): (Seq[String], A) = {
    val sc = spark.sparkContext
    val started = new java.util.concurrent.ConcurrentLinkedQueue[Option[String]]()
    val fences = new java.util.concurrent.Semaphore(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == Fence)
          fences.release()
        else started.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id"))))
    }
    def fence(): Unit = {
      sc.setJobGroup(Fence, "fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(fences.tryAcquire(60, java.util.concurrent.TimeUnit.SECONDS), "fence job unseen")
    }
    sc.addSparkListener(listener)
    try {
      fence()
      started.clear()
      val out = body
      fence()
      import scala.jdk.CollectionConverters._
      (started.asScala.toSeq.map(_.orNull), out)
    } finally sc.removeSparkListener(listener)
  }
}

/** The Spark DataFrame reads a [[graft.query.SnapshotReader]] replaces, as
  * the reference it is checked against. */
object SnapshotReads {
  def assertSameAsSpark(spark: org.apache.spark.sql.SparkSession, ix: Searcher.LoadedIndex,
                        reader: graft.query.SnapshotReader, terms: Seq[String]): Unit = {
    import spark.implicits._
    val sparkDfs = ix.termstats.filter($"term".isin(terms: _*))
      .select("term", "df").as[(String, Long)].collect().toMap
    assert(reader.dfs(terms) == terms.map(t => t -> sparkDfs.getOrElse(t, 0L)).toMap,
      s"dfs differ for $terms")
    val lists = reader.lists(terms, withPositions = true)
    val plain = reader.lists(terms, withPositions = false)
    terms.foreach { t =>
      val blocks = ix.postings.filter($"term" === t)
        .select("prevDocId", "firstDocId", "n", "docIds", "tfs", "positions")
        .as[(Int, Int, Int, Array[Byte], Array[Byte], Array[Byte])]
        .collect().sortBy(_._2)
      val dt = blocks.flatMap { case (prev, _, n, ids, tfs, _) =>
        PostingCodec.decodeDocIdTf(prev, n, ids, tfs) }
      val pos = blocks.flatMap { case (_, _, n, _, _, p) => PostingCodec.decodePositions(n, p) }
      if (blocks.isEmpty) assert(!lists.contains(t) && !plain.contains(t), s"absent '$t' decoded")
      else {
        val got = lists(t)
        assert(got.docIds.toSeq == dt.map(_._1).toSeq, s"docIds differ for '$t'")
        assert(got.tfs.toSeq == dt.map(_._2).toSeq, s"tfs differ for '$t'")
        assert(got.positions.map(_.toSeq).toSeq == pos.map(_.toSeq).toSeq,
          s"positions differ for '$t'")
        assert(plain(t).docIds.toSeq == got.docIds.toSeq && !plain(t).hasPositions)
      }
    }
  }
}

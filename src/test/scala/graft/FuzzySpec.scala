package graft

import graft.index.FuzzyIndex
import graft.query.Searcher
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** SymSpell deletion-neighborhood index: the delete kernel, the symmetric-
  * delete candidate guarantee, and stage-vs-dictionary-scan parity of the
  * fuzzy/suggest contracts through a real index. */
class FuzzySpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val tmpA = java.nio.file.Files.createTempDirectory("graft_fz_a").toString
  private val tmpB = java.nio.file.Files.createTempDirectory("graft_fz_b").toString

  override def afterAll(): Unit = {
    spark.stop()
    Seq(tmpA, tmpB).foreach(d =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
  }

  test("deletes: exact neighborhood, deduped, includes the term") {
    assert(FuzzyIndex.deletes("abc", 0).toSet == Set("abc"))
    assert(FuzzyIndex.deletes("abc", 1).toSet == Set("abc", "bc", "ac", "ab"))
    assert(FuzzyIndex.deletes("abc", 2).toSet ==
      Set("abc", "bc", "ac", "ab", "a", "b", "c"))
    assert(FuzzyIndex.deletes("aa", 2).toSet == Set("aa", "a", ""))
    assert(FuzzyIndex.deletes("", 2).toSet == Set(""))
  }

  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
      if (i == 0) j else if (j == 0) i else 0)
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  test("symmetric-delete guarantee: lev<=d implies shared delete") {
    val rnd = new scala.util.Random(42)
    def word(): String =
      (0 until 3 + rnd.nextInt(6)).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
    var checked = 0
    for (_ <- 0 until 3000) {
      val a = word(); val b = word()
      val d = lev(a, b)
      if (d <= 2) {
        checked += 1
        assert(FuzzyIndex.deletes(a, 2).toSet
          .intersect(FuzzyIndex.deletes(b, 2).toSet).nonEmpty,
          s"lev($a,$b)=$d but no shared delete")
      }
    }
    assert(checked > 100) // the generator actually exercised the property
  }

  test("stage probe is output-identical to the dictionary scan") {
    val s = spark
    import s.implicits._
    val corpus = (0 until 300).map { i =>
      val words = Seq("part", "park", "pair", "par", "parse", "spar",
        "return", "retorn", "retain", s"unique$i")
      ("r0", f"p$i%04d", "c0", "txt", words.take(3 + i % 7).mkString(" "))
    }.toDF("repo", "path", "commit", "lang", "content")
    // A: with the SymSpell stage; B: same corpus, dictionary-scan fallback
    val engA = Engine.build(spark, corpus, tmpA, partitions = 4,
      withBloom = false, withFuzzy = true)
    val engB = Engine.build(spark, corpus, tmpB, partitions = 4,
      withBloom = false)
    assert(engA.ix.fuzzy.isDefined && engB.ix.fuzzy.isEmpty)
    for (q <- Seq("par", "retur", "parse", "zzz", "p");
         d <- Seq(1, 2)) {
      val a = Searcher.expandFuzzy(engA.ix, q, d, 16)
      val b = Searcher.expandFuzzy(engB.ix, q, d, 16)
      assert(a == b, s"expandFuzzy($q, $d): stage=$a scan=$b")
      val sa = Searcher.suggest(engA.ix, q, d, 3)
      val sb = Searcher.suggest(engB.ix, q, d, 3)
      assert(sa == sb, s"suggest($q, $d): stage=$sa scan=$sb")
    }
    // probe distance beyond the built distance falls back to the scan
    assert(Searcher.expandFuzzy(engA.ix, "par", 3, 16) ==
      Searcher.expandFuzzy(engB.ix, "par", 3, 16))
    // resumability: stage commit is idempotent
    graft.index.FuzzyIndex.buildStage(spark, tmpA)
    assert(Searcher.expandFuzzy(Searcher.load(spark, tmpA), "par", 2, 16) ==
      Searcher.expandFuzzy(engB.ix, "par", 2, 16))
  }

  test("fuzzy marker: a missing one takes the exact fallback, an unparsable one throws") {
    val s = spark
    import s.implicits._
    val corpus = (0 until 20).map { i =>
      ("r0", f"p$i%04d", "c0", "txt", s"part park pair spar w$i")
    }.toDF("repo", "path", "commit", "lang", "content")
    val dir = java.nio.file.Files.createTempDirectory("graft_fz_marker").toString
    try {
      val eng = Engine.build(spark, corpus, dir, partitions = 2,
        withBloom = false, withFuzzy = true)
      val want = Searcher.expandFuzzy(eng.ix, "par", 1, 16)
      assert(want.nonEmpty)
      val marker = java.nio.file.Paths.get(dir, "fuzzy", "_maxdist")
      java.nio.file.Files.delete(marker)
      val missing = Searcher.load(spark, dir)
      // distance 0: the probe-distance guard never passes, so the exact
      // dictionary scan answers
      assert(missing.fuzzy.map(_._2) == Some(0), "a missing marker must read as distance 0")
      assert(Searcher.expandFuzzy(missing, "par", 1, 16) == want)
      assert(FuzzyIndex.segMaxDist(dir, 7L) == 0) // no table for that segment
      java.nio.file.Files.writeString(marker, "two")
      intercept[NumberFormatException](Searcher.load(spark, dir).fuzzy)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("streamed segments carry SymSpell: probe parity, compact rebuilds") {
    val s = spark
    import s.implicits._
    val words = Seq("part", "park", "pair", "par", "parse", "spar",
      "return", "retorn", "retain")
    def df(lo: Int, hi: Int) = (lo until hi).map { i =>
      ("r0", f"p$i%04d", "c0", "txt",
        (words.take(3 + i % 7) :+ s"unique$i").mkString(" "))
    }.toDF("repo", "path", "commit", "lang", "content")
    val dirS = java.nio.file.Files.createTempDirectory("graft_fz_s").toString
    val dirB = java.nio.file.Files.createTempDirectory("graft_fz_sb").toString
    try {
      graft.streaming.StreamingIndexer.appendSegment(spark, df(0, 150), dirS,
        segId = 0, partitions = 2, withBloom = false, withFuzzy = true)
      graft.streaming.StreamingIndexer.appendSegment(spark, df(150, 300), dirS,
        segId = 1, partitions = 2, withBloom = false, withFuzzy = true)
      // same corpus, batch, dictionary-scan fallback (no fuzzy stage)
      Engine.build(spark, df(0, 300), dirB, partitions = 2, withBloom = false)
      val ixS = Searcher.load(spark, dirS)
      val ixB = Searcher.load(spark, dirB)
      // the segmented probe path is live (all-or-nothing gate passes)
      assert(ixS.fuzzy.exists(_._3), "expected the segmented SymSpell stage")
      assert(ixB.fuzzy.isEmpty)
      for (q <- Seq("par", "retur", "parse", "zzz", "p"); d <- Seq(1, 2)) {
        assert(Searcher.expandFuzzy(ixS, q, d, 16) ==
          Searcher.expandFuzzy(ixB, q, d, 16), s"expandFuzzy($q,$d)")
        assert(Searcher.suggest(ixS, q, d, 3) ==
          Searcher.suggest(ixB, q, d, 3), s"suggest($q,$d)")
      }
      // a segment WITHOUT a table disables the gate (fallback stays exact)
      graft.streaming.StreamingIndexer.appendSegment(spark,
        df(300, 320), dirS, segId = 2, partitions = 2, withBloom = false)
      val ixPartial = Searcher.load(spark, dirS)
      assert(ixPartial.fuzzy.isEmpty, "partial coverage must gate off")
      assert(Searcher.expandFuzzy(ixPartial, "par", 2, 16).nonEmpty)
      // compact rebuilds the table for the merged segment (settle point
      // upgrade: partial -> fully covered), with scan parity and no
      // stale per-segment fuzzy dirs left behind
      graft.streaming.StreamingIndexer.compact(spark, dirS, partitions = 2)
      val ixC = Searcher.load(spark, dirS)
      assert(ixC.fuzzy.exists(_._3), "compact must rebuild the fuzzy stage")
      val fzDirs = new java.io.File(dirS, "fuzzy").listFiles()
        .count(_.getName.startsWith("seg="))
      assert(fzDirs == 1, s"stale fuzzy segment dirs after compact: $fzDirs")
      // scan parity on the compacted index: gate the stage off by marker
      val marker = java.nio.file.Paths.get(dirS, "fuzzy",
        s"seg=${graft.streaming.StreamingIndexer.committedSegments(dirS).max}",
        "_maxdist")
      val saved = java.nio.file.Files.readString(marker)
      java.nio.file.Files.delete(marker)
      val ixScan = Searcher.load(spark, dirS)
      assert(ixScan.fuzzy.isEmpty)
      java.nio.file.Files.writeString(marker, saved)
      for (q <- Seq("par", "retur", "parse", "uniqu"); d <- Seq(1, 2))
        assert(Searcher.expandFuzzy(ixC, q, d, 16) ==
          Searcher.expandFuzzy(ixScan, q, d, 16), s"compacted($q,$d)")
    } finally Seq(dirS, dirB).foreach(d =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
  }

  test("text-analyzer index: stemmed search differential vs oracle") {
    val s = spark
    import s.implicits._
    val bodies = Seq(
      "The customer's queries are falling behind the tables",
      "tables and tables of values for the customer",
      "a query optimizer merges sorted streams",
      "plain code tokens if return value",
      "scanning windows customer query table value",
      "no relevant words here at all")
    val corpus = bodies.zipWithIndex.map { case (b, i) =>
      ("r0", f"p$i%04d", "c0", "txt", b)
    }.toDF("repo", "path", "commit", "lang", "content")
    val dirT = java.nio.file.Files.createTempDirectory("graft_txt_ix").toString
    try {
      val eng = Engine.build(spark, corpus, dirT, partitions = 2,
        textAnalyzer = true)
      val oracle = new graft.core.Oracle.Index(
        bodies.zipWithIndex.map { case (b, i) => graft.core.Oracle.Doc(i, b) },
        textAnalyzer = true)
      // raw user queries analyzed by the shared chain, then searched
      for (q <- Seq("queries table", "customer's values", "merge",
                    "the query", "scanning")) {
        val terms = Engine.analyzeText(q)
        val want = graft.core.Oracle.search(oracle, terms, 10)
        val got = Searcher.search(eng.ix, terms, 10).collect().sortBy(_.rank)
        assert(got.map(_.docId).toSeq == want.map(_.docId),
          s"query '$q' (terms $terms): got ${got.toSeq} want $want")
        got.zip(want).foreach { case (g, w) =>
          assert(math.abs(g.score - w.score) < 1e-12) }
      }
      // gap-aware phrase (Lucene match_phrase): "queries are falling"
      // analyzes to queri@0, fall@2 — the stopword consumes a position on
      // BOTH sides, so the phrase matches across the index's gap
      val toks = graft.core.Tokenizer.tokenizeText("queries are falling")
      val pTerms = toks.map(_.term).toSeq
      val pShifts = toks.map(_.position).toSeq
      assert(pTerms == Seq("queri", "fall") && pShifts == Seq(0, 2))
      val gapHits = Searcher.search(eng.ix, pTerms, 10, phrase = true,
        phraseShifts = Some(pShifts)).collect()
      assert(gapHits.map(_.docId).toSeq == Seq(0), s"gap phrase: ${gapHits.toSeq}")
      // plain adjacency must NOT match across the gap
      assert(Searcher.search(eng.ix, pTerms, 10, phrase = true)
        .collect().isEmpty)
      // serving path: identical through the leapfrog kernel
      val svc = new graft.query.LocalService(eng.ix)
      assert(svc.search(pTerms, 10, phrase = true,
        phraseShifts = Some(pShifts)).map(_.docId) == Seq(0))
      assert(svc.search(pTerms, 10, phrase = true).isEmpty)

      // end-to-end over the wire: analyze=text carries the gap shifts
      val http = new graft.query.HttpService(svc, port = 0, nThreads = 2)
      try {
        def get(path: String): String = {
          val u = java.net.URI.create(
            s"http://127.0.0.1:${http.boundPort}$path").toURL
          new String(u.openStream().readAllBytes(), "UTF-8")
        }
        val b = get("/search?q=queries+are+falling&analyze=text&phrase=1&k=5")
        assert(b.contains("\"doc\":0"), s"wire gap phrase: $b")
        assert(get("/search?q=queri+fall&phrase=1&k=5") == """{"hits":[]}""")
      } finally http.stop()

      // stopword-only query analyzes to nothing
      assert(Engine.analyzeText("the a with").isEmpty)
      // doc length = surviving token count, not max position + 1
      val lens = eng.ix.doclen.select("docId", "len").as[(Int, Int)]
        .collect().toMap
      assert(lens(5) == graft.core.Tokenizer.tokenizeText(bodies(5)).length)
      assert(lens(0) == 5) // customer queri fall behind tabl
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dirT))
  }

  test("folded index: html_strip + asciifolding differential vs ascii twin") {
    val s = spark
    import s.implicits._
    // unit kernels first: the fold table and the char filter
    import graft.core.Tokenizer
    assert(Tokenizer.foldAscii("café straße cœur þing") == "cafe strasse coeur thing")
    assert(Tokenizer.stripHtml("a <b>x</b> &eacute;t&eacute; &amp;lt; 1<2") ==
      "a  x  été &lt; 1<2") // unclosed < literal; &amp;lt; decodes ONCE
    // accented docs with markup vs their hand-folded ascii twins: the
    // folded engine over A must score EXACTLY like the plain text engine
    // over B (same surviving tokens, same positions, same norms)
    val aBodies = Seq(
      "the <b>Caf&eacute;'s</b> naïve résumé",
      "cafés and façade <p>cliché</p>",
      "straße cœur value",
      "plain ascii tokens only")
    val bBodies = Seq(
      "the cafe's naive resume",
      "cafes and facade cliche",
      "strasse coeur value",
      "plain ascii tokens only")
    val dirA = java.nio.file.Files.createTempDirectory("graft_fold_a").toString
    val dirB = java.nio.file.Files.createTempDirectory("graft_fold_b").toString
    def corpus(bodies: Seq[String]) = bodies.zipWithIndex.map { case (b, i) =>
      ("r0", f"p$i%04d", "c0", "txt", b)
    }.toDF("repo", "path", "commit", "lang", "content")
    try {
      val engA = Engine.build(spark, corpus(aBodies), dirA, partitions = 2,
        textAnalyzer = true, textFold = true)
      val engB = Engine.build(spark, corpus(bBodies), dirB, partitions = 2,
        textAnalyzer = true)
      for (q <- Seq("cafe", "cafes resume", "strasse", "coeur", "facade cliche",
                    "plain token")) {
        val terms = Engine.analyzeText(q, fold = true)
        assert(terms == Engine.analyzeText(q), s"ascii query analyzes equal: $q")
        val a = Searcher.search(engA.ix, terms, 10).collect().map(h => (h.docId, h.score)).toSeq
        val b = Searcher.search(engB.ix, terms, 10).collect().map(h => (h.docId, h.score)).toSeq
        assert(a == b, s"query '$q': folded=$a asciiTwin=$b")
        assert(q != "cafe" || a.nonEmpty) // the accented doc IS found via ascii
      }
      // an accented, html-wrapped QUERY folds to the same terms
      assert(Engine.analyzeText("<i>Caf&eacute;s</i> r&eacute;sum&eacute;", fold = true) ==
        Engine.analyzeText("cafes resume"))
      // over the wire: analyze=text&fold=1 runs the full folded chain, so
      // an entity-bearing query matches the folded index (without fold=1
      // the accented term mis-tokenizes and finds nothing)
      val svcA = new graft.query.LocalService(engA.ix)
      val http = new graft.query.HttpService(svcA, port = 0, nThreads = 2)
      try {
        def get(path: String): String = {
          val u = java.net.URI.create(
            s"http://127.0.0.1:${http.boundPort}$path").toURL
          new String(u.openStream().readAllBytes(), "UTF-8")
        }
        val q = java.net.URLEncoder.encode("Caf&eacute;s", "UTF-8")
        val folded = get(s"/search?q=$q&analyze=text&fold=1&k=5")
        assert(folded.contains("\"doc\""), s"fold=1 wire: $folded")
        assert(get(s"/search?q=$q&analyze=text&k=5") == """{"hits":[]}""")
      } finally http.stop()
    } finally Seq(dirA, dirB).foreach(d =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
  }
}

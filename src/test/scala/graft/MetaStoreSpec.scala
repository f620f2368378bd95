package graft

import graft.query.{MetaStore, Searcher}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The two-level block-metadata bound: a hot∧rare conjunction must ship
  * the driver only the meta near the rare term's ranges — O(surviving
  * coverage), not O(Σ df/128) — and warm re-plans must come from the
  * per-(index, term) cache with no collect at all. */
class MetaStoreSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val tmp = java.nio.file.Files.createTempDirectory("graft_meta_ix").toString

  override def afterAll(): Unit = {
    spark.stop()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
  }

  // 4096 docs, every doc contains "hot" (32+ blocks); "rare" only in the
  // 16 docs with ids 1024..1039 (docIds follow (repo, path) sort order)
  private lazy val eng = {
    val s = spark
    import s.implicits._
    val corpus = (0 until 4096).map { i =>
      val rare = if (i >= 1024 && i < 1040) " rare" else ""
      ("r0", f"p$i%05d", "c0", "txt", s"hot$rare filler$i")
    }.toDF("repo", "path", "commit", "lang", "content")
    Engine.build(spark, corpus, tmp, partitions = 4, withBloom = false)
  }

  test("mergeIntervals and coarsenTo are sound interval algebra") {
    // overlapping and ADJACENT intervals coalesce (coarsening is sound)
    assert(MetaStore.mergeIntervals(Array((5, 9), (0, 3), (8, 12), (4, 4))).toSeq ==
      Seq((0, 12)))
    assert(MetaStore.mergeIntervals(Array((20, 30), (0, 3), (5, 9))).toSeq ==
      Seq((0, 3), (5, 9), (20, 30)))
    val iv = Array((0, 10), (20, 30), (100, 110), (120, 130))
    val c = MetaStore.coarsenTo(iv, 2)
    assert(c.toSeq == Seq((0, 30), (100, 130))) // widest gap kept as separator
    assert(MetaStore.coarsenTo(iv, 1).toSeq == Seq((0, 130)))
    assert(MetaStore.coarsenTo(iv, 4).toSeq == iv.toSeq)
    // coarsening only adds coverage
    for (m <- 1 to 4; (lo, hi) <- iv)
      assert(MetaStore.coarsenTo(iv, m).exists(r => r._1 <= lo && hi <= r._2))
  }

  test("hot∧rare two-level fetch collects O(coverage), not O(df/128) meta") {
    val hits = eng.search(Engine.SearchQuery(Seq("hot", "rare"), nResults = 5))
      .entries.map(_.docId)
    assert(hits.nonEmpty && hits.forall(d => d >= 1024 && d < 1040))
    val totalBlocks = MetaStore.lastFetchDiag.fineRows.max(
      Searcher.lastDiag.get().totalBlocks)
    // baseline: the direct path ships every block of both terms
    assert(totalBlocks >= 32, s"expected >=32 meta rows direct, got $totalBlocks")

    // force the two-level path on a fresh load (fresh caches)
    spark.conf.set("spark.graft.meta.directRows", "0")
    spark.conf.set("spark.graft.meta.superSpan", "128")
    try {
      val eng2 = Engine.load(spark, tmp)
      val hits2 = eng2.search(Engine.SearchQuery(Seq("hot", "rare"), nResults = 5))
        .entries.map(h => (h.docId, h.score))
      val diag = MetaStore.lastFetchDiag
      assert(diag.twoLevel, "expected the two-level fetch")
      // fine rows scale with the rare term's coverage: a couple of hot
      // blocks near docIds 1024..1039 plus rare's own block — far below
      // the ~32 blocks the hot term owns
      assert(diag.fineRows > 0 && diag.fineRows <= 8,
        s"two-level fetched ${diag.fineRows} fine rows (hot term alone has >=32)")
      assert(diag.coarseRows > 0)
      // identical results to the direct path
      val base = eng.search(Engine.SearchQuery(Seq("hot", "rare"), nResults = 5))
        .entries.map(h => (h.docId, h.score))
      assert(hits2 == base)
    } finally {
      spark.conf.unset("spark.graft.meta.directRows")
      spark.conf.unset("spark.graft.meta.superSpan")
    }
  }

  test("warm serving re-plans from the per-term meta cache, no collect") {
    val eng3 = Engine.load(spark, tmp)
    val q = Engine.SearchQuery(Seq("hot", "rare"), nResults = 5)
    val first = eng3.search(q).entries
    val cold = MetaStore.lastFetchDiag
    assert(!cold.twoLevel && cold.fineRows > 0)
    val second = eng3.search(q).entries
    val warm = MetaStore.lastFetchDiag
    assert(warm.cacheHitTerms == 2 && warm.fineRows == 0,
      s"warm plan still collected meta: $warm")
    assert(first.map(e => (e.docId, e.score)) == second.map(e => (e.docId, e.score)))
  }

  test("persisted superblocks stage serves the coarse fetch") {
    val ixb = Engine.load(spark, tmp).ix
    assert(ixb.superBlocks.isDefined, "batch build must commit superblocks/")
    import spark.implicits._
    // stage rows are a sound coarse cover of the fine block set
    val sb = ixb.superBlocks.get.select("term", "lo", "hi")
      .as[(String, Int, Int)].collect().groupBy(_._1)
    val fine = ixb.postings.select("term", "firstDocId", "lastDocId")
      .as[(String, Int, Int)].collect().groupBy(_._1)
    assert(sb.keySet == fine.keySet)
    fine.foreach { case (t, blocks) =>
      val cover = sb(t).map(r => (r._2, r._3))
      blocks.foreach { case (_, lo, hi) =>
        assert(cover.exists(c => c._1 <= lo && hi <= c._2 ||
          // a block may span buckets; its own bucket row covers its start
          (c._1 <= lo && lo <= c._2)), s"block [$lo,$hi] of $t uncovered")
      }
    }
    // two-level results identical whether the stage or the agg serves the
    // coarse pass (a non-default span forces the aggregation fallback)
    spark.conf.set("spark.graft.meta.directRows", "0")
    try {
      val viaStage = Engine.load(spark, tmp)
        .search(Engine.SearchQuery(Seq("hot", "rare"), nResults = 5)).entries
      spark.conf.set("spark.graft.meta.superSpan", "1024") // != build span
      val viaAgg = Engine.load(spark, tmp)
        .search(Engine.SearchQuery(Seq("hot", "rare"), nResults = 5)).entries
      assert(viaStage.map(e => (e.docId, e.score)) ==
        viaAgg.map(e => (e.docId, e.score)))
    } finally {
      spark.conf.unset("spark.graft.meta.directRows")
      spark.conf.unset("spark.graft.meta.superSpan")
    }
  }

  test("two-level conjunction with disjoint coverage short-circuits empty") {
    spark.conf.set("spark.graft.meta.directRows", "0")
    try {
      val eng4 = Engine.load(spark, tmp)
      // both terms exist, but "filler17" only in doc 17 and "filler99" in 99:
      // coarse coverage intersection is empty → no fine fetch, no results
      val r = eng4.search(Engine.SearchQuery(Seq("filler17", "filler99"), nResults = 5))
      assert(r.entries.isEmpty)
      assert(MetaStore.lastFetchDiag.twoLevel &&
        MetaStore.lastFetchDiag.fineRows == 0)
    } finally spark.conf.unset("spark.graft.meta.directRows")
  }

  test("two-level exclusion meta: fine rows scale with coverage overlap") {
    val s = spark
    import s.implicits._
    // "pos" hot over docs 0..2063, "exl" hot over docs 2048..4095 — the
    // true overlap is the 16-doc strip [2048, 2063]
    val corpus = (0 until 4096).map { i =>
      val pos = if (i < 2064) " pos" else ""
      val exl = if (i >= 2048) " exl" else ""
      ("r0", f"p$i%05d", "c0", "txt", s"base$pos$exl filler$i")
    }.toDF("repo", "path", "commit", "lang", "content")
    val dir = java.nio.file.Files.createTempDirectory("graft_meta_ex").toString
    spark.conf.set("spark.graft.meta.directRows", "0")
    spark.conf.set("spark.graft.meta.superSpan", "128")
    try {
      Engine.build(spark, corpus, dir, partitions = 4, withBloom = false)
      val ix = Searcher.load(spark, dir)
      val hits = Searcher.search(ix, Seq("pos"), 2100,
        excludeTerms = Seq("exl")).collect()
      assert(hits.nonEmpty && hits.forall(_.docId < 2048),
        "NOT must drop every doc carrying exl")
      assert(hits.map(_.docId).toSet == (0 until 2048).toSet)
      val d = MetaStore.lastExclDiag
      assert(d.twoLevel, s"expected the two-level exclusion fetch: $d")
      // exl owns ~16 blocks (2048 docs / 128); only the ~1 block touching
      // the 16-doc overlap strip may ship
      assert(d.fineRows > 0 && d.fineRows <= 3,
        s"exclusion meta not overlap-bounded: $d")
      assert(d.coarseRows > 0)
      // disjoint coverages: no fine fetch at all, NOT degenerates to a no-op
      val hits2 = Searcher.search(ix, Seq("filler17"), 5,
        excludeTerms = Seq("exl")).collect()
      assert(hits2.map(_.docId).toSeq == Seq(17))
      val d2 = MetaStore.lastExclDiag
      assert(d2.twoLevel && d2.fineRows == 0,
        s"disjoint exclusion should skip the fine fetch: $d2")
    } finally {
      spark.conf.unset("spark.graft.meta.directRows")
      spark.conf.unset("spark.graft.meta.superSpan")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("streamed segments carry superblocks: coarse fetch served, results exact") {
    val s = spark
    import s.implicits._
    def df(lo: Int, hi: Int) = (lo until hi).map { i =>
      val rare = if (i >= 1024 && i < 1040) " rare" else ""
      ("r0", f"p$i%05d", "c0", "txt", s"hot$rare filler$i")
    }.toDF("repo", "path", "commit", "lang", "content")
    val dir = java.nio.file.Files.createTempDirectory("graft_meta_seg").toString
    try {
      graft.streaming.StreamingIndexer.appendSegment(spark, df(0, 2048), dir,
        segId = 0, partitions = 4, withBloom = false)
      graft.streaming.StreamingIndexer.appendSegment(spark, df(2048, 4096), dir,
        segId = 1, partitions = 4, withBloom = false)
      val ix = Searcher.load(spark, dir)
      assert(ix.superBlocks.isDefined,
        "streamed appends must serve the per-segment superblocks stage")
      // stage rows soundly cover the union of both segments' fine blocks
      val sb = ix.superBlocks.get.select("term", "lo", "hi")
        .as[(String, Int, Int)].collect().groupBy(_._1)
      val fine = ix.postings.select("term", "firstDocId", "lastDocId")
        .as[(String, Int, Int)].collect().groupBy(_._1)
      assert(sb.keySet == fine.keySet)
      fine.foreach { case (t, blocks) =>
        val cover = sb(t).map(r => (r._2, r._3))
        blocks.foreach { case (_, lo, _) =>
          assert(cover.exists(c => c._1 <= lo && lo <= c._2),
            s"block start $lo of $t uncovered by segment superblocks")
        }
      }
      // two-level plan over the streamed index reads the stage (coarse
      // rows present, fine rows overlap-bounded) and matches the direct plan
      val base = Searcher.search(ix, Seq("hot", "rare"), 5).collect()
        .map(h => (h.docId, h.score)).toSeq
      spark.conf.set("spark.graft.meta.directRows", "0")
      val ix2 = Searcher.load(spark, dir)
      val got = Searcher.search(ix2, Seq("hot", "rare"), 5).collect()
        .map(h => (h.docId, h.score)).toSeq
      val diag = MetaStore.lastFetchDiag
      assert(diag.twoLevel && diag.coarseRows > 0)
      assert(got == base)
      // a segment missing the stage gates the union off (fallback agg)
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(s"$dir/superblocks/seg=1"))
      assert(Searcher.load(spark, dir).superBlocks.isEmpty)
    } finally {
      spark.conf.unset("spark.graft.meta.directRows")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("exclusion meta: one unknown-df term takes the two-level path") {
    eng
    val ix = Searcher.load(spark, tmp)
    val all = Array((0, 4095))
    // an unknown df estimates as exactly the direct cap: not below it
    val unknown = MetaStore.boundedRangeMeta(ix, Seq("rare"), all)
    assert(MetaStore.lastExclDiag.twoLevel, s"unknown df went direct: ${MetaStore.lastExclDiag}")
    val known = MetaStore.boundedRangeMeta(ix, Seq("rare"), all, Map("rare" -> 16L))
    assert(!MetaStore.lastExclDiag.twoLevel, s"a known rare df should go direct: ${MetaStore.lastExclDiag}")
    assert(unknown.toSeq.sorted == known.toSeq.sorted && known.nonEmpty)
  }

  test("a malformed meta conf throws instead of falling back to its default") {
    eng
    val ix = Searcher.load(spark, tmp)
    spark.conf.set("spark.graft.meta.directRows", "abc")
    try {
      val e = intercept[NumberFormatException] {
        MetaStore.boundedRangeMeta(ix, Seq("rare"), Array((0, 4095)))
      }
      assert(e.getMessage.contains("abc"))
    } finally spark.conf.unset("spark.graft.meta.directRows")
  }
}

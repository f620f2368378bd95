package graft

import graft.query.{BlockMax, MetaStore, Searcher}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The two-level block-metadata bound: a hot∧rare conjunction must hand
  * the planner only the meta near the rare term's ranges — O(surviving
  * coverage) rows, not O(Σ df/128), though the driver decodes every
  * block's docId range to find them —, warm re-plans must come from the
  * per-(snapshot, term) cache with no read at all, and no metadata read
  * launches a Spark job. */
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

  test("interval union coalesces overlapping and adjacent intervals") {
    // overlapping and ADJACENT intervals coalesce (coarsening is sound)
    assert(BlockMax.union(Iterator((5, 9), (0, 3), (8, 12), (4, 4))).toSeq ==
      Seq((0, 12)))
    assert(BlockMax.union(Iterator((20, 30), (0, 3), (5, 9))).toSeq ==
      Seq((0, 3), (5, 9), (20, 30)))
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
      // the bound filters after the key columns are decoded: every block
      // of both terms is scanned
      val blocks = eng2.ix.postings.filter(col("term").isin("hot", "rare")).count()
      assert(diag.scannedRows == blocks, s"scanned ${diag.scannedRows} of $blocks blocks")
      // identical results to the direct path
      val base = eng.search(Engine.SearchQuery(Seq("hot", "rare"), nResults = 5))
        .entries.map(h => (h.docId, h.score))
      assert(hits2 == base)
    } finally {
      spark.conf.unset("spark.graft.meta.directRows")
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
    assert(graft.index.Manifest.isCommitted(tmp, "superblocks"),
      "batch build must commit superblocks/")
    import spark.implicits._
    // stage rows are a sound coarse cover of the fine block set
    val sb = spark.read.parquet(s"$tmp/superblocks").select("term", "lo", "hi")
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
    // the stage serves the two-level coarse pass
    spark.conf.set("spark.graft.meta.directRows", "0")
    try {
      Engine.load(spark, tmp)
        .search(Engine.SearchQuery(Seq("hot", "rare"), nResults = 5)).entries
      val diag = MetaStore.lastFetchDiag
      assert(diag.twoLevel && diag.coarseRows > 0, s"stage not read: $diag")
    } finally {
      spark.conf.unset("spark.graft.meta.directRows")
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
      assert(d.scannedRows == ix.postings.filter(col("term") === "exl").count(),
        s"every exl block's key columns are decoded: $d")
      // disjoint coverages: no fine fetch at all, NOT degenerates to a no-op
      val hits2 = Searcher.search(ix, Seq("filler17"), 5,
        excludeTerms = Seq("exl")).collect()
      assert(hits2.map(_.docId).toSeq == Seq(17))
      val d2 = MetaStore.lastExclDiag
      assert(d2.twoLevel && d2.fineRows == 0,
        s"disjoint exclusion should skip the fine fetch: $d2")
    } finally {
      spark.conf.unset("spark.graft.meta.directRows")
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
      // stage rows soundly cover the union of both segments' fine blocks
      val sb = spark.read.parquet(s"$dir/superblocks/seg=0", s"$dir/superblocks/seg=1")
        .select("term", "lo", "hi")
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
      // a segment missing the stage gates the two-level read off: the
      // query reads its block rows directly, with the same hits
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(s"$dir/superblocks/seg=1"))
      val direct = Searcher.search(Searcher.load(spark, dir), Seq("hot", "rare"), 5).collect()
        .map(h => (h.docId, h.score)).toSeq
      val d2 = MetaStore.lastFetchDiag
      assert(!d2.twoLevel && d2.coarseRows == 0 && d2.fineRows > 0, s"expected the direct path: $d2")
      assert(direct == base)
    } finally {
      spark.conf.unset("spark.graft.meta.directRows")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("cold block-metadata reads launch no Spark job, on either path") {
    eng
    def noJobs[A](what: String)(body: => A): A = {
      val (jobs, out) = SparkJobs.during(spark)(body)
      assert(jobs == 0, s"$what launched $jobs Spark jobs")
      out
    }
    val terms = Seq("hot", "rare")
    val conj = Seq(terms.map(Seq(_)))
    val all = Array((0, 4095))
    // a fresh load per read: every cache is cold
    def fresh() = { val ix = Searcher.load(spark, tmp); (ix, ix.dfs(terms)) }
    val (ix1, dfs1) = fresh()
    val direct = noJobs("direct fineMeta")(MetaStore.fineMeta(ix1, terms, dfs1, conj))
    assert(!MetaStore.lastFetchDiag.twoLevel && direct.nonEmpty)
    val (ix2, dfs2) = fresh()
    val exDirect = noJobs("direct boundedRangeMeta")(
      MetaStore.boundedRangeMeta(ix2, Seq("hot"), all, dfs2))
    assert(!MetaStore.lastExclDiag.twoLevel && exDirect.nonEmpty)
    spark.conf.set("spark.graft.meta.directRows", "0")
    try {
      val (ix3, dfs3) = fresh()
      val two = noJobs("two-level fineMeta")(MetaStore.fineMeta(ix3, terms, dfs3, conj))
      assert(MetaStore.lastFetchDiag.twoLevel && two.nonEmpty && two.length < direct.length)
      val (ix4, dfs4) = fresh()
      val exTwo = noJobs("two-level boundedRangeMeta")(
        MetaStore.boundedRangeMeta(ix4, Seq("hot"), Array((1024, 1039)), dfs4))
      assert(MetaStore.lastExclDiag.twoLevel && exTwo.nonEmpty)
    } finally spark.conf.unset("spark.graft.meta.directRows")
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

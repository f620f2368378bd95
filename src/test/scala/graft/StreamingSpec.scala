package graft

import graft.core.Oracle
import graft.corpus.CorpusGen
import graft.query.Searcher
import graft.streaming.{StreamingDedup, StreamingIndexer}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Incremental (Structured Streaming) indexing: two micro-batches become two
  * segments; the loaded index must behave exactly like a single-JVM oracle
  * over the same docs in arrival order. */
class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val root = java.nio.file.Files.createTempDirectory("graft_stream").toString

  override def afterAll(): Unit = {
    spark.stop()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("streamed segments equal oracle over arrival-ordered docs") {
    import spark.implicits._
    val in = s"$root/in"
    val ix = s"$root/ix"
    val cp = s"$root/cp"
    // batch 1: docs 0..299 of the seed-42 corpus; batch 2: docs 300..499
    val all = (0L until 500L).map(id => CorpusGen.row(42L, id))
    def write(range: Seq[(String, String, String, String, String)], part: Int): Unit =
      range.toDF("repo", "path", "commit", "lang", "content")
        .withColumn("sha256", org.apache.spark.sql.functions.sha2(
          org.apache.spark.sql.functions.col("content"), 256))
        .coalesce(1).write.mode("append").parquet(in)

    write(all.take(300), 1)
    val q = StreamingIndexer.start(spark, in, ix, cp, partitions = 4)
    q.processAllAvailable()
    val mid = StreamingIndexer.committedDocs(ix)
    assert(mid == 300)

    write(all.drop(300), 2)
    q.processAllAvailable()
    q.stop()
    assert(StreamingIndexer.committedDocs(ix) == 500)

    // oracle: same docs, arrival order = batch1 sorted(repo,path) then batch2
    val ordered =
      all.take(300).sortBy(r => (r._1, r._2)) ++ all.drop(300).sortBy(r => (r._1, r._2))
    val oracle = new Oracle.Index(ordered.zipWithIndex.map { case (r, i) => Oracle.Doc(i, r._5) })

    val loaded = Searcher.load(spark, ix)
    assert(loaded.nDocs == 500)
    assert(math.abs(loaded.avgLen - oracle.avgLen) < 1e-9)
    Seq(Seq("if"), Seq("if", "return"), Seq("hash", "seed", "mask")).foreach { terms =>
      val got = Searcher.search(loaded, terms, 10).collect().sortBy(_.rank)
      val want = Oracle.search(oracle, terms, 10)
      assert(got.map(_.docId).toSeq == want.map(_.docId), s"mismatch for $terms")
      got.zip(want).foreach { case (g, w) => assert(math.abs(g.score - w.score) < 1e-9) }
    }
  }

  test("as-of snapshot read: segment-watermark time travel, stats re-baselined") {
    import spark.implicits._
    val ixDir = s"$root/ix_asof"
    val all = (0L until 450L).map(id => CorpusGen.row(42L, id))
    def df(range: Seq[(String, String, String, String, String)]) =
      range.toDF("repo", "path", "commit", "lang", "content")
        .withColumn("sha256", org.apache.spark.sql.functions.sha2(
          org.apache.spark.sql.functions.col("content"), 256))
    StreamingIndexer.appendSegment(spark, df(all.take(150)), ixDir, segId = 0, partitions = 4)
    StreamingIndexer.appendSegment(spark, df(all.slice(150, 300)), ixDir, segId = 1, partitions = 4)
    // capture query results as the index stands AT segment 1
    val atSeg1 = Searcher.load(spark, ixDir)
    val queries = Seq(Seq("if"), Seq("if", "return"), Seq("hash", "seed"))
    val want = queries.map(t => Searcher.search(atSeg1, t, 10).collect().sortBy(_.rank).toSeq)
    val wantStats = (atSeg1.nDocs, atSeg1.avgLen)
    // a later append changes the live index...
    StreamingIndexer.appendSegment(spark, df(all.drop(300)), ixDir, segId = 2, partitions = 4)
    val now = Searcher.load(spark, ixDir)
    assert(now.nDocs == 450)
    // ...but the as-of snapshot reproduces the segment-1 state exactly:
    // same docs, same corpus stats, bit-identical scores
    val asOf = Searcher.load(spark, ixDir, asOfSeg = Some(1L))
    assert((asOf.nDocs, asOf.avgLen) == wantStats)
    queries.zip(want).foreach { case (t, w) =>
      val got = Searcher.search(asOf, t, 10).collect().sortBy(_.rank).toSeq
      assert(got.map(_.docId) == w.map(_.docId), s"as-of docs mismatch for $t")
      got.zip(w).foreach { case (g, x) => assert(g.score == x.score, s"as-of score for $t") }
    }
    // the current read is genuinely different (the snapshot isn't a no-op)
    assert(now.nDocs != asOf.nDocs)
    // an as-of id older than every committed segment reads an empty corpus
    assert(Searcher.load(spark, ixDir, asOfSeg = Some(-1L)).nDocs == 0L)
  }

  test("re-running a committed segment is a no-op (idempotent)") {
    import spark.implicits._
    val ixDir = s"$root/ix"
    val before = StreamingIndexer.committedDocs(ixDir)
    val dummy = Seq(("r", "p", "c", "scala", "if return")).toDF("repo", "path", "commit", "lang", "content")
    StreamingIndexer.appendSegment(spark, dummy, ixDir, segId = 0) // seg 0 already committed
    assert(StreamingIndexer.committedDocs(ixDir) == before)
  }

  test("streamed segments carry bloom: phrase parity with the store visible") {
    val ixDir = s"$root/ix"
    assume(StreamingIndexer.committedSegments(ixDir).size >= 2)
    StreamingIndexer.committedSegments(ixDir).foreach { s =>
      assert(new java.io.File(s"$ixDir/bloom/seg=$s").exists(), s"no bloom for seg $s")
    }
    val loaded = Searcher.load(spark, ixDir)
    assert(loaded.bloom.isDefined, "segmented bloom store not visible to the searcher")
    val all = (0L until 500L).map(id => CorpusGen.row(42L, id))
    val ordered =
      all.take(300).sortBy(r => (r._1, r._2)) ++ all.drop(300).sortBy(r => (r._1, r._2))
    val oracle = new Oracle.Index(ordered.zipWithIndex.map { case (r, i) => Oracle.Doc(i, r._5) })
    Seq(Seq("if", "return"), Seq("return", "val")).foreach { p =>
      val got = Searcher.search(loaded, p, 10, phrase = true, bloomFactor = 1)
        .collect().sortBy(_.rank)
      val want = Oracle.search(oracle, p, 10, phrase = true)
      assert(got.map(_.docId).toSeq == want.map(_.docId), s"streamed bloom phrase $p")
      got.zip(want).foreach { case (g, w) => assert(math.abs(g.score - w.score) < 1e-9) }
    }
  }

  test("streamed segments carry trigrams: substring search exact, compact keeps them") {
    import graft.index.TrigramIndex
    import graft.streaming.StreamingIndexer
    import org.apache.spark.sql.functions.col
    val s = spark
    import s.implicits._
    val ixDir = s"$root/ix_tri"
    val all = (0L until 120L).map(id => CorpusGen.row(7L, id))
    def df(rows: Seq[(String, String, String, String, String)]) =
      rows.toDF("repo", "path", "commit", "lang", "content")
    StreamingIndexer.appendSegment(spark, df(all.take(60)), ixDir, segId = 0,
      partitions = 2, withTrigrams = true)
    StreamingIndexer.appendSegment(spark, df(all.drop(60)), ixDir, segId = 1,
      partitions = 2, withTrigrams = true)
    def check(): Unit = {
      val ix = Searcher.load(spark, ixDir)
      assert(ix.trigrams.isDefined, "trigram store must cover all live segments")
      val blocks = ix.trigrams.get
      val stats = TrigramIndex.triStats(blocks).as[(String, Long)].collect().toMap
      val docsDf = ix.docstore.select(col("docId").as("doc_id"), col("content").as("text"))
      val needle = "if (" // straddles tokens, present in the code corpus
      val got = TrigramIndex.substringSearch(docsDf, blocks, stats, needle)
        .as[Long].collect().sorted.toSeq
      val naive = docsDf.filter(col("text").contains(needle))
        .select(col("doc_id").cast("long")).as[Long].collect().sorted.toSeq
      assert(got.nonEmpty && got == naive, s"index path ${got.size} vs scan ${naive.size}")
    }
    check()
    StreamingIndexer.compact(spark, ixDir, partitions = 2)
    check() // trigram rows carried through the merge
    // retired trigram seg dirs are physically removed (no storage leak)
    val triDirs = new java.io.File(s"$ixDir/trigrams")
      .listFiles().count(_.getName.startsWith("seg="))
    assert(triDirs == 1, s"stale trigram segment dirs after compact: $triDirs")
  }

  test("a held LoadedIndex sees appended segments (meta caches invalidate)") {
    import graft.streaming.StreamingIndexer
    val s = spark
    import s.implicits._
    val ixDir = s"$root/ix_live"
    val all = (0L until 120L).map(id => CorpusGen.row(11L, id))
    def df(rows: Seq[(String, String, String, String, String)]) =
      rows.toDF("repo", "path", "commit", "lang", "content")
    StreamingIndexer.appendSegment(spark, df(all.take(60)), ixDir, segId = 0,
      partitions = 2)
    val ix = Searcher.load(spark, ixDir)
    def docsOf(i: Searcher.LoadedIndex): Set[Int] =
      Searcher.search(i, Seq("if"), 500).collect().map(_.docId).toSet
    val before = docsOf(ix)
    assert(docsOf(ix) == before) // warm the per-term meta cache
    StreamingIndexer.appendSegment(spark, df(all.drop(60)), ixDir, segId = 1,
      partitions = 2)
    // the SAME LoadedIndex must see the new segment's docs — cached block
    // meta from before the append must not pin the old block set
    val after = docsOf(ix)
    val fresh = docsOf(Searcher.load(spark, ixDir))
    assert(after == fresh, "held index diverged from a fresh load after append")
    assert(after.size > before.size, "append docs missing from the held index")
  }

  test("compaction merges segments: identical results, fewer segment dirs") {
    import spark.implicits._
    val ixDir = s"$root/ix"
    // depends on the stream test having built 2 segments
    assume(StreamingIndexer.committedSegments(ixDir).size >= 2)
    val all = (0L until 500L).map(id => CorpusGen.row(42L, id))
    val ordered =
      all.take(300).sortBy(r => (r._1, r._2)) ++ all.drop(300).sortBy(r => (r._1, r._2))
    val oracle = new Oracle.Index(ordered.zipWithIndex.map { case (r, i) => Oracle.Doc(i, r._5) })
    val queries = Seq(Seq("if"), Seq("if", "return"), Seq("hash", "seed", "mask"))
    val before = queries.map { terms =>
      Searcher.search(Searcher.load(spark, ixDir), terms, 10).collect().sortBy(_.rank).toSeq
    }
    def segDirs(stage: String): Int = {
      val d = new java.io.File(s"$ixDir/$stage")
      if (!d.exists()) 0 else d.listFiles().count(_.getName.startsWith("seg="))
    }
    val dirsBefore = segDirs("postings")
    StreamingIndexer.compact(spark, ixDir, partitions = 4)
    assert(StreamingIndexer.committedSegments(ixDir).size == 1)
    assert(segDirs("postings") == 1 &&
      segDirs("termstats") == 1 && segDirs("docstore") == 1)
    assert(segDirs("bloom") == 1, "compaction must carry and retire bloom segments")
    assert(segDirs("postings") < dirsBefore)
    val loaded = Searcher.load(spark, ixDir)
    assert(loaded.nDocs == 500)
    queries.zip(before).foreach { case (terms, want) =>
      val got = Searcher.search(loaded, terms, 10).collect().sortBy(_.rank).toSeq
      assert(got.map(_.docId) == want.map(_.docId), s"compaction changed results for $terms")
      got.zip(want).foreach { case (g, w) => assert(math.abs(g.score - w.score) < 1e-9) }
      // and still oracle-identical
      val o = Oracle.search(oracle, terms, 10)
      assert(got.map(_.docId) == o.map(_.docId).toSeq)
    }
    // phrase path (positions blobs survived the re-encode)
    val gotP = Searcher.search(loaded, Seq("if", "return"), 10, phrase = true)
      .collect().sortBy(_.rank)
    val wantP = Oracle.search(oracle, Seq("if", "return"), 10, phrase = true)
    assert(gotP.map(_.docId).toSeq == wantP.map(_.docId))
  }

  test("tiered compaction merges only small segments, keeps settled ones") {
    import spark.implicits._
    val ixDir = s"$root/ix"
    assume(StreamingIndexer.committedSegments(ixDir).size == 1) // the 500-doc compacted seg
    val bigSeg = StreamingIndexer.committedSegments(ixDir).head
    // two small appends (20 docs each) on top of the settled big segment
    val extraA = (1000L until 1020L).map(id => CorpusGen.row(43L, id))
    val extraB = (1020L until 1040L).map(id => CorpusGen.row(43L, id))
    def df(rows: Seq[(String, String, String, String, String)]) =
      rows.toDF("repo", "path", "commit", "lang", "content")
        .withColumn("sha256", org.apache.spark.sql.functions.sha2(
          org.apache.spark.sql.functions.col("content"), 256))
    StreamingIndexer.appendSegment(spark, df(extraA), ixDir, segId = bigSeg + 1, partitions = 2)
    StreamingIndexer.appendSegment(spark, df(extraB), ixDir, segId = bigSeg + 2, partitions = 2)
    assert(StreamingIndexer.committedDocs(ixDir) == 540)
    // tiered: only the two 20-doc segments qualify (threshold 100)
    StreamingIndexer.compact(spark, ixDir, partitions = 2, maxDocsToMerge = 100L)
    val after = StreamingIndexer.committedSegments(ixDir)
    assert(after.size == 2 && after.contains(bigSeg), s"segments after tiered: $after")
    assert(StreamingIndexer.committedDocs(ixDir) == 540)
    // results still oracle-identical over all 540 docs in arrival order
    val all = (0L until 500L).map(id => CorpusGen.row(42L, id))
    val ordered = all.take(300).sortBy(r => (r._1, r._2)) ++
      all.drop(300).sortBy(r => (r._1, r._2)) ++
      extraA.sortBy(r => (r._1, r._2)) ++ extraB.sortBy(r => (r._1, r._2))
    val oracle = new Oracle.Index(ordered.zipWithIndex.map { case (r, i) => Oracle.Doc(i, r._5) })
    val loaded = Searcher.load(spark, ixDir)
    assert(loaded.nDocs == 540)
    Seq(Seq("if"), Seq("if", "return"), Seq("hash", "seed")).foreach { terms =>
      val got = Searcher.search(loaded, terms, 10).collect().sortBy(_.rank)
      val want = Oracle.search(oracle, terms, 10)
      assert(got.map(_.docId).toSeq == want.map(_.docId), s"tiered mismatch $terms")
      got.zip(want).foreach { case (g, w) => assert(math.abs(g.score - w.score) < 1e-9) }
    }
  }

  test("crash window: sources with live manifests are excluded via compactedFrom") {
    // simulate a crash between the compacted manifest's publish and the
    // source-manifest deletion: all three manifests exist on disk — readers
    // must see ONLY the compacted segment, and the doc watermark must hold
    val dir = java.nio.file.Files.createTempDirectory("graft_crash").toString
    def writeManifest(seg: Long, json: String): Unit =
      java.nio.file.Files.writeString(
        graft.index.Manifest.manifestPath(dir, s"segment_$seg"), json)
    writeManifest(0, """{"segment":0,"docs":10,"docsAfter":10}""")
    writeManifest(1, """{"segment":1,"docs":10,"docsAfter":20}""")
    writeManifest(2, """{"segment":2,"docs":20,"docsAfter":20,"compactedFrom":[0, 1]}""")
    assert(graft.index.Manifest.committedSegments(dir) == Seq(2L))
    assert(StreamingIndexer.committedDocs(dir) == 20)
    // transitivity: a later compaction of the compacted segment keeps the
    // original sources retired even if every manifest survives the crash
    writeManifest(3, """{"segment":3,"docs":25,"docsAfter":25,"compactedFrom":[2]}""")
    assert(graft.index.Manifest.committedSegments(dir) == Seq(3L))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  // ---- event-stream analytics (EventWindows) ----

  /** Deterministic synthetic events: 5 users, ~3 hours, bursts separated by
    * >30-min gaps so sessionization has multi-event sessions AND gaps.
    * Time-sorted so MemoryStream batches respect the 0-second watermark
    * (a real stream's bounded disorder is the lateness parameter's job). */
  private def synthEvents: Seq[(Long, java.sql.Timestamp, String, Double)] = {
    val base = 1700000000L // fixed epoch
    val types = Array("view", "click", "purchase")
    val rows = for {
      user <- 0L until 5L
      burst <- 0 until 4
      i <- 0 until (1 + ((user + burst) % 3).toInt)
    } yield {
      val tse = base + burst * 2400L + user * 17L + i * 60L // bursts 40 min apart
      (user, new java.sql.Timestamp(tse * 1000L),
        types(((user + burst + i) % 3).toInt), (user * 7 + burst * 3 + i) * 0.25)
    }
    rows.sortBy(_._2.getTime)
  }

  test("streamed window counts equal the batch plan once windows close") {
    import graft.streaming.EventWindows
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val evs = synthEvents
    val in = MemoryStream[(Long, java.sql.Timestamp, String, Double)]
    val streamed = EventWindows.windowCountsStream(
      in.toDF().toDF("user_id", "ts", "event_type", "value"), lateness = "0 seconds")
    val q = streamed.writeStream.format("memory").queryName("win_counts")
      .outputMode("append").start()
    try {
      in.addData(evs.take(evs.size / 2))
      q.processAllAvailable()
      in.addData(evs.drop(evs.size / 2))
      q.processAllAvailable()
      // a far-future sentinel advances the watermark past every real window;
      // the second batch lets the engine emit the newly-closed windows
      val sentinel = (99L, new java.sql.Timestamp((1700000000L + 86400L) * 1000L), "view", 0.0)
      in.addData(sentinel)
      q.processAllAvailable()
      in.addData(sentinel)
      q.processAllAvailable()
      val got = spark.table("win_counts")
        .filter(col("hour_start") < 1700000000L + 86000L)
        .as[(Long, String, Long, Long)].collect().toSet
      val want = EventWindows.windowCounts(
        evs.toDF("user_id", "ts", "event_type", "value"))
        .as[(Long, String, Long, Long)].collect().toSet
      assert(got == want, s"streamed windows ${got.size} vs batch ${want.size}")
      assert(want.nonEmpty)
    } finally q.stop()
  }

  test("streamed sessionization equals the batch window-SQL plan") {
    import graft.streaming.EventWindows
    import graft.streaming.EventWindows.{Ev, SessionOut}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val evs = synthEvents
    val in = MemoryStream[Ev]
    val sessions = EventWindows.sessionizeStream(in.toDS(), gapSec = 1800L)
    val q = sessions.writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      val asEv = evs.map { case (u, ts, _, v) =>
        Ev(u, ts, math.round(v * 100)) }
      in.addData(asEv.take(asEv.size / 2))
      q.processAllAvailable()
      in.addData(asEv.drop(asEv.size / 2))
      q.processAllAvailable()
      // sentinel user advances the watermark; next batch fires the
      // event-time timeouts that close every real user's open session
      val late = new java.sql.Timestamp((1700000000L + 86400L) * 1000L)
      in.addData(Ev(999L, late, 0L))
      q.processAllAvailable()
      in.addData(Ev(999L, new java.sql.Timestamp((1700000000L + 2 * 86400L) * 1000L), 0L))
      q.processAllAvailable()
      val got = spark.table("sessions").as[SessionOut].collect()
        .filter(_.user_id != 999L)
        .map(s => (s.user_id, s.session_idx, s.session_start, s.session_end,
          s.n_events, s.value_cents)).toSet
      val want = EventWindows.sessionize(
        evs.toDF("user_id", "ts", "event_type", "value"))
        .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
      assert(got == want, s"streamed sessions ${got.size} vs batch ${want.size}")
      // the synthetic shape guarantees multi-event sessions exist
      assert(want.exists(_._5 > 1))
    } finally q.stop()
  }

  test("delete tombstones: live-docs search semantics, then compaction reclaim") {
    import spark.implicits._
    import graft.index.Tombstones
    val ixDir = s"$root/ix_del"
    val all = (0L until 400L).map(id => CorpusGen.row(7L, id))
    def df(range: Seq[(String, String, String, String, String)]) =
      range.toDF("repo", "path", "commit", "lang", "content")
    // two segments, batch-appended (the stream path is covered above)
    StreamingIndexer.appendSegment(spark, df(all.take(250)), ixDir, segId = 0, partitions = 4)
    StreamingIndexer.appendSegment(spark, df(all.drop(250)), ixDir, segId = 1, partitions = 4)

    val ordered =
      all.take(250).sortBy(r => (r._1, r._2)) ++ all.drop(250).sortBy(r => (r._1, r._2))
    val oracle = new Oracle.Index(ordered.zipWithIndex.map { case (r, i) => Oracle.Doc(i, r._5) })
    val loaded = Searcher.load(spark, ixDir)

    val delIds = (0 until 400 by 5)
    val delSet = delIds.toSet
    Tombstones.delete(spark, ixDir, delIds)
    assert(Tombstones.committedGens(ixDir).nonEmpty)

    // Lucene delete semantics: deleted docs leave the results, surviving
    // docs' SCORES are unchanged (stats stay pre-delete) — the expected
    // ranking is the full pre-delete ranking minus deleted docs
    def wantFor(terms: Seq[String], k: Int, phrase: Boolean = false): Seq[Oracle.Hit] =
      Oracle.search(oracle, terms, 400, phrase = phrase)
        .filterNot(h => delSet(h.docId)).take(k)
    val queries = Seq(Seq("if"), Seq("if", "return"), Seq("hash", "seed", "mask"))
    queries.foreach { terms =>
      val got = Searcher.search(loaded, terms, 10).collect().sortBy(_.rank)
      val want = wantFor(terms, 10)
      assert(got.map(_.docId).toSeq == want.map(_.docId), s"delete-aware $terms")
      got.zip(want).foreach { case (g, w) => assert(math.abs(g.score - w.score) < 1e-9) }
      assert(got.forall(h => !delSet(h.docId)))
    }
    // batched path applies the same anti-join
    val batch = Searcher.searchAll(loaded, queries.zipWithIndex.map(_.swap), 10)
      .as[(Int, Int, Int, Double)].collect().groupBy(_._1)
    queries.zipWithIndex.foreach { case (terms, qid) =>
      val rows = batch.getOrElse(qid, Array.empty).sortBy(_._2)
      assert(rows.map(_._3).toSeq == wantFor(terms, 10).map(_.docId), s"batch delete-aware $terms")
    }
    // serving path: conjunctive leapfrog AND the dense disjunctive
    // expansion both exclude tombstoned docs with identical scores
    val svc = new graft.query.LocalService(loaded)
    queries.foreach { terms =>
      val served = svc.search(terms, 10)
      val want = wantFor(terms, 10)
      assert(served.map(_.docId) == want.map(_.docId), s"served delete-aware $terms")
      served.zip(want).foreach { case (g, w) => assert(math.abs(g.score - w.score) < 1e-9) }
    }
    val servedPfx = svc.searchPrefix("re", 10, 64)
    val pfxTerms = Searcher.expandPrefix(loaded, "re", 64)
    val wantPfx = Oracle.searchOr(oracle, pfxTerms, 400).filterNot(h => delSet(h.docId)).take(10)
    assert(servedPfx.map(_.docId) == wantPfx.map(_.docId), "served prefix delete-aware")

    // compaction physically reclaims: stats re-baseline over live docs,
    // docIds stay stable (holes, no renumbering), tombstones retire
    StreamingIndexer.compact(spark, ixDir, partitions = 4)
    val after = Searcher.load(spark, ixDir)
    assert(after.nDocs == 400 - delIds.size, s"nDocs ${after.nDocs}")
    assert(Tombstones.committedGens(ixDir).isEmpty, "tombstones not retired")
    val liveOracle = new Oracle.Index(ordered.zipWithIndex.collect {
      case (r, i) if !delSet(i) => Oracle.Doc(i, r._5)
    })
    assert(math.abs(after.avgLen - liveOracle.avgLen) < 1e-9)
    queries.foreach { terms =>
      val got = Searcher.search(after, terms, 10).collect().sortBy(_.rank)
      val want = Oracle.search(liveOracle, terms, 10)
      assert(got.map(_.docId).toSeq == want.map(_.docId), s"post-compact $terms")
      got.zip(want).foreach { case (g, w) => assert(math.abs(g.score - w.score) < 1e-9) }
    }
    // deleted docs are physically gone from the docstore
    val storeIds = spark.read.parquet(s"$ixDir/docstore")
      .select("docId").as[Int].collect().toSet
    assert(storeIds.intersect(delSet).isEmpty && storeIds.size == 400 - delIds.size)
    // a served query on a reloaded service sees the re-baselined index
    val svc2 = new graft.query.LocalService(after)
    val got2 = svc2.search(Seq("if", "return"), 10)
    val want2 = Oracle.search(liveOracle, Seq("if", "return"), 10)
    assert(got2.map(_.docId) == want2.map(_.docId))
    got2.zip(want2).foreach { case (g, w) => assert(math.abs(g.score - w.score) < 1e-9) }
  }

  test("upsert: new version searchable, old tombstoned, compaction reclaims") {
    import spark.implicits._
    val ixDir = s"$root/ix_upsert"
    def df(rows: Seq[(String, String, String, String, String)]) =
      rows.toDF("repo", "path", "commit", "lang", "content")
    StreamingIndexer.appendSegment(spark, df(Seq(
      ("r", "p0", "c0", "scala", "alpha beta"),
      ("r", "p1", "c0", "scala", "gamma gamma ray"),
      ("r", "p2", "c0", "scala", "delta"))), ixDir, segId = 0, partitions = 2)
    // replace p1's content, add a new p3
    val tombstoned = StreamingIndexer.upsertSegment(spark, df(Seq(
      ("r", "p1", "c1", "scala", "omega ray"),
      ("r", "p3", "c1", "scala", "kappa"))), ixDir, segId = 1, partitions = 2)
    assert(tombstoned == 1L, s"expected 1 old version tombstoned, got $tombstoned")
    val ix = Searcher.load(spark, ixDir)
    def ids(term: String): Seq[Int] =
      Searcher.search(ix, Seq(term), 10).collect().map(_.docId).toSeq
    assert(ids("gamma").isEmpty, "old version still searchable after upsert")
    assert(ids("omega").nonEmpty, "new version not searchable")
    assert(ids("alpha").nonEmpty && ids("kappa").nonEmpty, "unrelated docs disturbed")
    // 'ray' appears in both versions: only the NEW docId may match
    assert(ids("ray") == ids("omega"), "term shared across versions matched the old doc")
    // re-upserting the same key again replaces the replacement
    assert(StreamingIndexer.upsertSegment(spark, df(Seq(
      ("r", "p1", "c2", "scala", "sigma"))), ixDir, segId = 2, partitions = 2) == 1L)
    val ix2 = Searcher.load(spark, ixDir)
    assert(Searcher.search(ix2, Seq("omega"), 10).collect().isEmpty)
    assert(Searcher.search(ix2, Seq("sigma"), 10).collect().nonEmpty)
    // compaction physically reclaims the dead versions and retires tombstones
    StreamingIndexer.compact(spark, ixDir, partitions = 2)
    val ix3 = Searcher.load(spark, ixDir)
    assert(ix3.nDocs == 4L, s"live docs after compact: ${ix3.nDocs}") // p0 p1 p2 p3
    assert(ix3.tombstones.isEmpty, "tombstones must retire once applied")
    assert(Searcher.search(ix3, Seq("sigma"), 10).collect().nonEmpty)
    assert(Searcher.search(ix3, Seq("gamma"), 10).collect().isEmpty)
  }

  test("streaming exact dedup: first arrival wins across micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = Seq(
      (0L, "alpha beta"), (1L, "alpha  beta"), (2L, "gamma ray"), // 1 dups 0 (normalized)
      (3L, "gamma ray"), (4L, "delta"), (5L, "alpha beta"))       // cross-batch dups of 2 and 0
    val in = MemoryStream[(Long, String)]
    val out = StreamingDedup.dedupStream(in.toDF().toDF("id", "text"), "text")
    val q = out.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      in.addData(rows.take(3): _*)
      q.processAllAvailable()
      in.addData(rows.drop(3): _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("dedup_out").select("id").as[Long].collect().sorted.toSeq
    assert(got == Seq(0L, 2L, 4L), s"streamed dedup kept $got")
    // equivalence with the batch keep rule (arrival order == id order):
    // the streamed survivors ARE the batch representatives
    val batchKeep = graft.ops.Dedup.exactGroups(rows.toDF("id", "text"), "text", "id")
      .select("keep_id").as[Long].collect().sorted.toSeq
    assert(got == batchKeep)
  }

  test("delete-by-query resolves ids from the docstore predicate") {
    import spark.implicits._
    import graft.index.Tombstones
    val ixDir = s"$root/ix_del2"
    val rows = Seq(
      ("keep/a", "f1.scala", "c", "scala", "if return value"),
      ("keep/a", "f2.scala", "c", "scala", "return seed"),
      ("drop/b", "f3.scala", "c", "scala", "if mask value"),
      ("drop/b", "f4.scala", "c", "scala", "return mask"))
    StreamingIndexer.appendSegment(spark,
      rows.toDF("repo", "path", "commit", "lang", "content"), ixDir, segId = 0, partitions = 2)
    val loaded = Searcher.load(spark, ixDir)
    Tombstones.deleteWhere(spark, ixDir, org.apache.spark.sql.functions.col("repo") === "drop/b")
    val hits = Searcher.search(loaded, Seq("return"), 10).collect()
    val stored = loaded.docstore.select("docId", "repo").as[(Int, String)].collect().toMap
    assert(hits.nonEmpty && hits.forall(h => stored(h.docId) == "keep/a"))
  }

  test("LocalService snapshot contract: warm paths stable, reopened() sees appends") {
    val s = spark
    import s.implicits._
    def df(lo: Int, hi: Int) = (lo until hi).map { i =>
      val extra = if (i >= 60) " sentinelterm" else ""
      ("r0", f"p$i%04d", "c0", "txt", s"alpha common$i$extra")
    }.toDF("repo", "path", "commit", "lang", "content")
    val dir = java.nio.file.Files.createTempDirectory("graft_reopen").toString
    try {
      StreamingIndexer.appendSegment(spark, df(0, 60), dir, segId = 0, partitions = 2)
      val svc1 = new graft.query.LocalService(Searcher.load(spark, dir))
      val before = svc1.search(Seq("alpha"), 5)
      assert(before.nonEmpty)
      assert(svc1.search(Seq("sentinelterm"), 5).isEmpty)
      // append docs carrying the sentinel; svc1's WARM paths stay the
      // point-in-time snapshot (stable scores — N/avgdl pinned), the
      // reopened service sees the new segment and the new stats
      StreamingIndexer.appendSegment(spark, df(60, 80), dir, segId = 1, partitions = 2)
      val warmAgain = svc1.search(Seq("alpha"), 5)
      assert(warmAgain.map(h => (h.docId, h.score)) ==
        before.map(h => (h.docId, h.score)), "warm snapshot must not drift")
      val svc2 = svc1.reopened()
      assert(svc2.ix.nDocs == 80 && svc1.ix.nDocs == 60)
      val sent = svc2.search(Seq("sentinelterm"), 25)
      assert(sent.size == 20 && sent.forall(_.docId >= 60))
      // the reopened scores match a cold loader over the same state
      val cold = Searcher.search(Searcher.load(spark, dir), Seq("alpha"), 5)
        .collect().sortBy(_.rank).map(h => (h.docId, h.score)).toSeq
      assert(svc2.search(Seq("alpha"), 5).map(h => (h.docId, h.score)) == cold)
      // reopen means CURRENT committed state: an asOf-pinned service
      // reopens unpinned (keep the old instance to stay time-traveled)
      val pinned = new graft.query.LocalService(
        Searcher.load(spark, dir, asOfSeg = Some(0L)))
      assert(pinned.ix.nDocs == 60 && pinned.reopened().ix.nDocs == 80)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("LocalService misses read the construction-time snapshot; compaction asks for reopen") {
    val s = spark
    import s.implicits._
    // "shared" is in every even doc of both segments
    def df(lo: Int, hi: Int) = (lo until hi).map { i =>
      val shared = if (i % 2 == 0) " shared" else ""
      ("r0", f"p$i%04d", "c0", "txt", s"alpha common$i$shared")
    }.toDF("repo", "path", "commit", "lang", "content")
    val dir = java.nio.file.Files.createTempDirectory("graft_pinned").toString
    try {
      StreamingIndexer.appendSegment(spark, df(0, 60), dir, segId = 0, partitions = 2)
      val svc = new graft.query.LocalService(Searcher.load(spark, dir))
      val idle = new graft.query.LocalService(Searcher.load(spark, dir))
      assert(svc.search(Seq("common3"), 1).map(_.docId) == Seq(3)) // norms now resident
      StreamingIndexer.appendSegment(spark, df(60, 80), dir, segId = 1, partitions = 2)
      // a cold-cache miss after the append reads segment 0 only: exactly
      // the index as of that commit
      val want = Searcher.search(Searcher.load(spark, dir, asOfSeg = Some(0L)), Seq("shared"), 50)
        .collect().sortBy(_.rank).map(h => (h.docId, h.score)).toSeq
      val (_, m0, _) = svc.cacheStats
      val got = svc.search(Seq("shared"), 50).map(h => (h.docId, h.score))
      assert(svc.cacheStats._2 == m0 + 1, "expected a cache miss")
      assert(want.size == 30 && got == want)
      val phrase = svc.search(Seq("alpha", "common7"), 5, phrase = true)
      assert(phrase.map(_.docId) == Seq(7))
      // compaction retires the pinned segment files: a miss that needs them
      // fails with the typed error instead of reading another snapshot
      StreamingIndexer.compact(spark, dir, partitions = 2)
      val e = intercept[graft.query.LocalService.SnapshotRetiredException](
        idle.search(Seq("shared"), 50))
      assert(e.getMessage.contains("reopened()"))
      intercept[graft.query.LocalService.SnapshotRetiredException](svc.search(Seq("common5"), 5))
      // warm lists stay servable; a reopened service sees the compacted index
      assert(svc.search(Seq("shared"), 50).map(h => (h.docId, h.score)) == want)
      assert(svc.reopened().search(Seq("shared"), 50).size == 40)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("SnapshotReader: driver reads equal Spark reads on a segmented index") {
    val s = spark
    import s.implicits._
    def df(lo: Int, hi: Int) = (lo until hi).map { i =>
      val seg2 = if (i >= 340) " onlylast" else ""
      ("r0", f"p$i%04d", "c0", "txt", s"alpha beta common$i alpha$seg2")
    }.toDF("repo", "path", "commit", "lang", "content")
    val dir = java.nio.file.Files.createTempDirectory("graft_snapread").toString
    try {
      StreamingIndexer.appendSegment(spark, df(0, 300), dir, segId = 0, partitions = 2)
      StreamingIndexer.appendSegment(spark, df(300, 340), dir, segId = 1, partitions = 2)
      StreamingIndexer.appendSegment(spark, df(340, 360), dir, segId = 2, partitions = 2)
      // an uncommitted segment on disk (an append that has written its
      // stages but not its manifest): a copy of segment 1
      Seq("postings", "termstats").foreach { st =>
        org.apache.commons.io.FileUtils.copyDirectory(
          new java.io.File(s"$dir/$st/seg=1"), new java.io.File(s"$dir/$st/seg=7"))
      }
      val terms = Seq("alpha", "beta", "onlylast", "common301", "common5", "zzz_absent")
      Seq(Searcher.load(spark, dir), Searcher.load(spark, dir, asOfSeg = Some(1L))).foreach { ix =>
        val files = ix.parquetFiles("postings").paths
        assert(files.nonEmpty && !files.exists(_.contains("seg=7")))
        assert(files.exists(_.contains("seg=2")) == ix.asOfSeg.isEmpty)
        SnapshotReads.assertSameAsSpark(spark, ix, new graft.query.SnapshotReader(ix), terms)
      }
      val pinned = new graft.query.SnapshotReader(Searcher.load(spark, dir, asOfSeg = Some(1L)))
      assert(pinned.dfs(Seq("alpha", "common341")) == Map("alpha" -> 340L, "common341" -> 0L))
      val alpha = pinned.lists(Seq("alpha"), withPositions = true)("alpha")
      assert(alpha.docIds.toSeq == (0 until 340) && alpha.positions.forall(_.toSeq == Seq(0, 3)))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("a held LoadedIndex resolves each snapshot once: appends, pins and compaction") {
    val s = spark
    import s.implicits._
    def df(lo: Int, hi: Int, extra: String) = (lo until hi).map { i =>
      ("r0", f"p$i%04d", "c0", "txt", s"alpha common$i$extra")
    }.toDF("repo", "path", "commit", "lang", "content")
    val dir = java.nio.file.Files.createTempDirectory("graft_memo").toString
    try {
      StreamingIndexer.appendSegment(spark, df(0, 60, ""), dir, segId = 0, partitions = 2)
      val ix = Searcher.load(spark, dir)
      val pinned = Searcher.load(spark, dir, asOfSeg = Some(0L))
      def docs(i: Searcher.LoadedIndex, t: String): Set[Int] =
        Searcher.search(i, Seq(t), 500).collect().map(_.docId).toSet
      val terms = Seq("alpha", "late")
      assert(ix.dfs(terms) == Map("alpha" -> 60L))
      val (p0, t0, pp0) = (ix.postings, ix.termstats, pinned.postings)
      assert((ix.postings eq p0) && (ix.termstats eq t0), "unchanged snapshot re-resolved")
      StreamingIndexer.appendSegment(spark, df(60, 80, " late"), dir, segId = 1, partitions = 2)
      // unpinned: the append is a new snapshot — fresh relations, new dfs
      val (p1, t1) = (ix.postings, ix.termstats)
      assert((p1 ne p0) && (t1 ne t0))
      assert(ix.dfs(terms) == Map("alpha" -> 80L, "late" -> 20L))
      assert(docs(ix, "late") == (60 until 80).toSet)
      // pinned at segment 0: same snapshot, same relation, same answers
      assert(pinned.postings eq pp0)
      assert(pinned.dfs(terms) == Map("alpha" -> 60L))
      assert(docs(pinned, "late").isEmpty && docs(pinned, "alpha") == (0 until 60).toSet)
      StreamingIndexer.compact(spark, dir, partitions = 2)
      // compaction rewrites every stage into a new segment: fresh relations
      // whose answers equal a fresh load's
      assert((ix.postings ne p1) && (ix.termstats ne t1))
      assert(ix.dfs(terms) == Map("alpha" -> 80L, "late" -> 20L))
      val fresh = Searcher.load(spark, dir)
      assert(docs(ix, "late") == docs(fresh, "late") && docs(ix, "alpha") == (0 until 80).toSet)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("a held LoadedIndex sees tombstones republished after a compaction retired them") {
    val s = spark
    import s.implicits._
    def df(rows: Seq[(String, String)]) =
      rows.map { case (p, text) => ("r", p, "c", "txt", text) }
        .toDF("repo", "path", "commit", "lang", "content")
    val dir = java.nio.file.Files.createTempDirectory("graft_tomb_memo").toString
    try {
      StreamingIndexer.appendSegment(spark, df(Seq("p0" -> "alpha one", "p1" -> "alpha two",
        "p2" -> "alpha three")), dir, segId = 0, partitions = 2)
      val ix = Searcher.load(spark, dir)
      def docs(i: Searcher.LoadedIndex, t: String): Set[Int] =
        Searcher.search(i, Seq(t), 50).collect().map(_.docId).toSet
      def nextSeg = StreamingIndexer.committedSegments(dir).max + 1
      assert(StreamingIndexer.upsertSegment(spark, df(Seq("p1" -> "alpha twice")), dir,
        segId = nextSeg, partitions = 2) == 1L)
      assert(graft.index.Tombstones.committedGens(dir) == Seq(1L))
      assert(docs(ix, "two").isEmpty && docs(ix, "twice").size == 1)
      // the compaction applies and retires every generation, so the next
      // upsert publishes generation 1 again, with other files
      StreamingIndexer.compact(spark, dir, partitions = 2)
      assert(graft.index.Tombstones.committedGens(dir).isEmpty)
      assert(StreamingIndexer.upsertSegment(spark, df(Seq("p2" -> "alpha thrice")), dir,
        segId = nextSeg, partitions = 2) == 1L)
      assert(graft.index.Tombstones.committedGens(dir) == Seq(1L))
      val fresh = Searcher.load(spark, dir)
      assert(docs(ix, "three").isEmpty, "the new tombstone is not applied")
      assert(docs(ix, "alpha") == docs(fresh, "alpha") && docs(ix, "alpha").size == 3)
      assert(docs(ix, "thrice") == docs(fresh, "thrice") && docs(ix, "thrice").size == 1)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("LoadedIndex.dfs equals the Spark termstats aggregation on a segmented index") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{col, sum}
    def df(lo: Int, hi: Int) = (lo until hi).map { i =>
      ("r0", f"p$i%04d", "c0", "txt", s"alpha w${i % 5} common$i alpha")
    }.toDF("repo", "path", "commit", "lang", "content")
    val dir = java.nio.file.Files.createTempDirectory("graft_dfs").toString
    try {
      StreamingIndexer.appendSegment(spark, df(0, 50), dir, segId = 0, partitions = 2)
      StreamingIndexer.appendSegment(spark, df(50, 70), dir, segId = 1, partitions = 2)
      StreamingIndexer.appendSegment(spark, df(70, 75), dir, segId = 2, partitions = 2)
      val terms = Seq("alpha", "w0", "w4", "common3", "common72", "zzz_absent")
      Seq(None, Some(1L)).foreach { asOf =>
        val ix = Searcher.load(spark, dir, asOfSeg = asOf)
        val live = StreamingIndexer.committedSegments(dir).filter(seg => asOf.forall(seg <= _))
        val want = spark.read.parquet(s"$dir/termstats")
          .filter(col("seg").isin(live: _*) && col("term").isin(terms: _*))
          .groupBy("term").agg(sum("df").as("df"))
          .as[(String, Long)].collect().toMap
        assert(want.contains("common3") && want.size == (if (asOf.isEmpty) 5 else 4))
        assert(ix.dfs(terms) == want, s"asOfSeg $asOf")
      }
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }
}

package wbench

import java.nio.file.Path
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._

import graft.core.Oracle
import graft.corpus.CorpusGen
import graft.index.{Bloom, FuzzyIndex, IndexBuilder}
import graft.query.{HttpService, LocalService, QueryLog, Searcher}
import org.apache.spark.sql.SparkSession

/** Corpus, build and load steps shared by the serving workloads, each timed
  * as a span around the layer's public call. */
object Setup {
  final case class Built(corpusDir: Path, indexDir: Path, ix: Searcher.LoadedIndex,
                         buildS: Double, bloomS: Double)

  /** Corpus and build partitions: one per core of the local[4] session. */
  val Parts = 4

  def corpus(spark: SparkSession, docs: Long, seed: Long, dir: Path): Unit =
    Trace.span("CorpusGen.generate") {
      CorpusGen.generate(spark, docs, seed, Parts).write.mode("overwrite").parquet(dir.toString)
    }

  def build(spark: SparkSession, corpusDir: Path, indexDir: Path, fuzzy: Boolean): Built = {
    val corpusDf = spark.read.parquet(corpusDir.toString)
    val (_, buildS) = Stats.time(Trace.span("IndexBuilder.build") {
      IndexBuilder.build(spark, corpusDf, indexDir.toString, partitions = Parts)
    })
    val (_, bloomS) = Stats.time(Trace.span("Bloom.buildStage") {
      Bloom.buildStage(spark, indexDir.toString)
    })
    if (fuzzy) Trace.span("FuzzyIndex.buildStage") { FuzzyIndex.buildStage(spark, indexDir.toString) }
    val ix = Trace.span("Searcher.load") { Searcher.load(spark, indexDir.toString) }
    Built(corpusDir, indexDir, ix, buildS, bloomS)
  }

  /** Brute-force oracle over a corpus directory, docIds in the builder's
    * (repo, path) order. */
  def oracle(spark: SparkSession, corpusDir: Path, limit: Int = -1,
             textAnalyzer: Boolean = false): Oracle.Index = {
    val df0 = spark.read.parquet(corpusDir.toString).select("repo", "path", "content").orderBy("repo", "path")
    val rows = (if (limit > 0) df0.limit(limit) else df0).collect()
    new Oracle.Index(rows.toIndexedSeq.zipWithIndex.map { case (r, i) => Oracle.Doc(i, r.getString(2)) }, textAnalyzer)
  }

  /** Seconds from JVM start to now, less the host probes' own time. */
  def sinceStart(): Double =
    (System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3 -
      Host.probeSeconds

  def contentBytes(spark: SparkSession, corpusDir: Path): Long =
    spark.read.parquet(corpusDir.toString)
      .selectExpr("coalesce(sum(octet_length(content)), 0L)").head().getLong(0)

  /** Index-layer metrics from the traced build spans, medians over the
    * run's builds; a step the run did not trace is left out. */
  def indexMetrics(r: Report, indexDir: Path): Unit = {
    def med(metric: String, span: String, unit: String)(f: Span => Double): Unit = {
      val ss = Trace.named(span)
      if (ss.nonEmpty) r.metric(metric, Stats.median(ss.map(f)), unit)
    }
    med("CorpusGen.generate_s", "CorpusGen.generate", "s")(_.seconds)
    val b = "IndexBuilder.build"
    med(s"$b.build_s", b, "s")(_.seconds)
    med(s"$b.task_cpu_s", b, "s")(_.cpuNs.get / 1e9)
    med(s"$b.gc_s", b, "s")(_.gcMs.get / 1e3)
    med(s"$b.driver_only_s", b, "s")(_.driverOnlySeconds)
    med(s"$b.shuffle_write_mb", b, "MB")(_.shuffleWriteBytes.get / 1048576.0)
    med(s"$b.spill_mb", b, "MB")(_.spillBytes.get / 1048576.0)
    med(s"$b.jobs", b, "count")(_.jobs.get.toDouble)
    med("Bloom.buildStage_s", "Bloom.buildStage", "s")(_.seconds)
    med("Bloom.task_cpu_s", "Bloom.buildStage", "s")(_.cpuNs.get / 1e9)
    med("FuzzyIndex.buildStage_s", "FuzzyIndex.buildStage", "s")(_.seconds)
    med("Searcher.load_s", "Searcher.load", "s")(_.seconds)
    med("LocalService.new_s", "LocalService.new", "s")(_.seconds)
    Seq("docstore", "postings", "bloom", "superblocks", "termstats").foreach { st =>
      r.metric(s"index.${st}_mb", Host.dirMb(indexDir.resolve(st)), "MB")
    }
  }

  /** Index bytes on disk per byte of corpus content, and the build's
    * throughput beside it. */
  def buildMetrics(spark: SparkSession, r: Report, built: Built, docs: Long): Unit = {
    r.metric("index_bytes_per_input_byte",
      Host.dirMb(built.indexDir) * 1048576.0 / contentBytes(spark, built.corpusDir), "ratio")
    r.noteNum("build_docs_per_s", docs / (built.buildS + built.bloomS))
  }

  /** Top-k answers agree: same docIds in rank order, scores within 0.001. */
  def same(got: Seq[(Int, Double)], want: Seq[Oracle.Hit]): Boolean =
    got.size == want.size && got.zip(want).forall { case ((d, s), w) =>
      d == w.docId && math.abs(s - w.score) <= 0.001 }

  /** Naive boolean evaluation over the oracle's postings: every doc that
    * carries a positive leaf is tested against the tree; a matched And/Or
    * scores the sum of its children, a Not scores nothing. */
  def boolTopK(orc: Oracle.Index, node: graft.query.BoolQuery.Node, k: Int): Seq[Oracle.Hit] = {
    import graft.query.BoolQuery._
    def leaves(n: Node, neg: Boolean): Seq[(String, Boolean)] = n match {
      case Term(t) => Seq(t -> neg)
      case Not(c) => leaves(c, !neg)
      case And(cs) => cs.flatMap(leaves(_, neg))
      case Or(cs) => cs.flatMap(leaves(_, neg))
      case _ => Nil
    }
    val ls = leaves(node, neg = false)
    val tf: Map[String, Map[Int, Int]] = ls.map(_._1).distinct.map { t =>
      t -> orc.postings.getOrElse(t, Array.empty[(Int, Int, Array[Int])]).map(p => p._1 -> p._2).toMap
    }.toMap
    def eval(n: Node, d: Int): (Boolean, Double) = n match {
      case Term(t) => tf(t).get(d) match {
        case Some(f) =>
          val lb = graft.core.LenByte.encode(orc.docLen(d).toLong)
          (true, graft.core.Bm25.idf(orc.nDocs, orc.df(t)) *
            graft.core.Bm25.tfNormLossy(f.toLong, lb, orc.lossyCache))
        case None => (false, 0.0)
      }
      case Not(c) => (!eval(c, d)._1, 0.0)
      case And(cs) => val rs = cs.map(eval(_, d)); if (rs.forall(_._1)) (true, rs.map(_._2).sum) else (false, 0.0)
      case Or(cs) => val rs = cs.map(eval(_, d)); if (rs.exists(_._1)) (true, rs.map(_._2).sum) else (false, 0.0)
      case _ => (false, 0.0)
    }
    val cand = ls.filterNot(_._2).flatMap(l => tf(l._1).keys).distinct
    Oracle.topK(cand.flatMap { d => val (m, s) = eval(node, d); if (m) Some(Oracle.Hit(d, s)) else None }, k)
  }
}

/** Per-query answer log: every distinct answer of every query with its
  * count, so each operation is checked once the run has finished. */
final class Answers {
  private val seen = new ConcurrentHashMap[(Int, Seq[(Int, Double)]), LongAdder]()
  def add(q: Int, ans: Seq[(Int, Double)]): Unit =
    seen.computeIfAbsent((q, ans), _ => new LongAdder).increment()
  /** Operations whose answer disagrees with `expected` (queries it covers). */
  def wrong(expected: Int => Option[Seq[Oracle.Hit]], log: String => Unit): Long =
    seen.asScala.iterator.map { case ((q, ans), n) =>
      expected(q) match {
        case Some(want) if !Setup.same(ans, want) =>
          log(s"query $q: got ${ans.take(3)} want ${want.take(3)} (${n.sum} ops)")
          n.sum()
        case _ => 0L
      }
    }.sum
  def queries: Set[Int] = seen.keySet().asScala.map(_._1).toSet
  def total: Long = seen.values().asScala.map(_.sum()).sum
}

/** Resident serving with a working set that fits the cache. */
object ServeHot {
  final case class Conf(docs: Int, textDocs: Int, warmPerClient: Long)

  final case class Q(id: Int, lq: QueryLog.LogQuery, family: String) {
    /** Families `/search` can express go over HTTP in the untraced run. */
    def wire: Boolean = lq.prefix.isEmpty && lq.fuzzy.isEmpty && lq.wildcard.isEmpty &&
      lq.bool.isEmpty && lq.boosts.isEmpty
  }

  def family(q: QueryLog.LogQuery): String =
    if (q.analyzeText) { if (q.phrase) "text_phrase" else "text_stemmed" }
    else if (q.prefix.nonEmpty) "prefix"
    else if (q.fuzzy.nonEmpty) "fuzzy"
    else if (q.wildcard.nonEmpty) "wildcard"
    else if (q.bool.nonEmpty) "bool"
    else if (q.phrase && q.slop > 0) "slop"
    else if (q.phrase) "phrase"
    else if (q.exclude.nonEmpty) "not"
    else if (q.boosts.nonEmpty) "boost"
    else "term"

  val Families = Seq("term", "phrase", "slop", "not", "boost", "bool", "prefix", "fuzzy",
    "wildcard", "text_stemmed", "text_phrase")

  final class Served(val built: Setup.Built, val svc: LocalService, val text: LocalService,
                     val http: HttpService, val httpText: HttpService) {
    def stop(): Unit = { http.stop(); httpText.stop() }
    def local(q: Q): Seq[(Int, Double)] = ServeHot.local(svc, text, q)
    def remote(q: Q): Seq[(Int, Double)] = viaHttp(url(this, q))
  }

  /** Bool, boost, prefix, fuzzy and wildcard queries call the service
    * directly; text queries go to the text-analyzer service. */
  def local(svc: LocalService, text: LocalService, q: Q): Seq[(Int, Double)] = {
    val lq = q.lq
    val hits =
      if (lq.analyzeText)
        text.search(lq.terms, 10, lq.phrase, lq.exclude, lq.slop, phraseShifts = lq.phraseShifts)
      else (lq.prefix, lq.fuzzy, lq.wildcard, lq.bool) match {
        case (Some(p), _, _, _) => svc.searchPrefix(p, 10)
        case (_, Some((t, d)), _, _) => svc.searchFuzzy(t, 10, d)
        case (_, _, Some(w), _) => svc.searchWildcard(w, 10)
        case (_, _, _, Some(b)) => svc.searchBool(b, 10)
        case _ => svc.search(lq.terms, 10, lq.phrase, lq.exclude, lq.slop, boosts = lq.boosts)
      }
    hits.map(h => (h.docId, h.score))
  }

  final class Non2xx(code: Int) extends RuntimeException(s"HTTP $code")

  private val HitRe = """"doc":(\d+),"score":([-+0-9.eE]+)""".r

  def url(s: Served, q: Q): java.net.URL = {
    val lq = q.lq
    val base =
      if (lq.analyzeText)
        s"http://127.0.0.1:${s.httpText.boundPort}/search?q=" +
          java.net.URLEncoder.encode(lq.rawText, "UTF-8") + "&analyze=text"
      else
        s"http://127.0.0.1:${s.http.boundPort}/search?q=" + lq.terms.mkString("+") +
          (if (lq.exclude.nonEmpty) "&not=" + lq.exclude.mkString("+") else "")
    java.net.URI.create(base + "&k=10" + (if (lq.phrase) "&phrase=1" else "") +
      (if (lq.slop != 0) s"&slop=${lq.slop}" else "")).toURL
  }

  def viaHttp(u: java.net.URL): Seq[(Int, Double)] = {
    val c = u.openConnection().asInstanceOf[java.net.HttpURLConnection]
    c.setReadTimeout(60000)
    val code = c.getResponseCode
    val in = if (code == 200) c.getInputStream else c.getErrorStream
    val body = try new String(in.readAllBytes(), "UTF-8") finally if (in != null) in.close()
    if (code != 200) throw new Non2xx(code)
    HitRe.findAllMatchIn(body).map(m => (m.group(1).toInt, m.group(2).toDouble)).toSeq
  }

  def setup(spark: SparkSession, a: Args, c: Conf, queries: Seq[Q]): Served = {
    val corpusDir = a.work.resolve("corpus")
    Setup.corpus(spark, c.docs, a.seed, corpusDir)
    val built = Setup.build(spark, corpusDir, a.work.resolve("ix"), fuzzy = true)
    val svc = Trace.span("LocalService.new") { new LocalService(built.ix) }
    // the text-analyzer index covers a fixed unique-key slice of the corpus
    val textDir = a.work.resolve("ixText").toString
    val slice = spark.read.parquet(corpusDir.toString).orderBy("repo", "path").limit(c.textDocs)
    Trace.span("IndexBuilder.build[text]") {
      IndexBuilder.build(spark, slice, textDir, partitions = Setup.Parts, textAnalyzer = true)
    }
    val text = new LocalService(Searcher.load(spark, textDir))
    Trace.detach()
    val s = new Served(built, svc, text, new HttpService(svc, 0, 2), new HttpService(text, 0, 2))
    // warm-up: fill the caches, then run the measured loop's code paths
    // until the JIT has compiled them (measured: a 3 s warm-up left the
    // first 4 s of the measured window 10-40% slower)
    queries.foreach(q => if (q.wire) s.remote(q) else s.local(q))
    closedLoop(s, a.seed ^ 0x3a11L, queries, wire = true, "warmup", perClient = c.warmPerClient)
    s
  }

  /** What one closed loop saw: latencies per query id, answers, failures. */
  final class Loop(val wall: Double, val lats: Map[Int, Array[Double]], val answers: Answers,
                   val errors: Long, val non2xx: Long, val perSecond: Seq[Long], val bookkeepingS: Double) {
    def all: Array[Double] = lats.values.flatten.toArray.sorted
  }

  /** Two clients, each replaying `pool` in its own seeded order and sending
    * the next query only when the previous answer arrived, for `seconds`
    * or `perClient` queries each, whichever ends first. `wire` sends the
    * queries `/search` expresses over HTTP. */
  def closedLoop(s: Served, seed: Long, pool: Seq[Q], wire: Boolean, spanPrefix: String,
                 seconds: Double = 600, perClient: Long = Long.MaxValue): Loop = {
    val answers = new Answers
    val errors = new LongAdder
    val non2xx = new LongAdder
    val lats = new ConcurrentHashMap[Int, java.util.concurrent.ConcurrentLinkedQueue[Double]]()
    val perSecond = Array.fill(math.ceil(math.min(seconds, 60)).toInt + 1)(new LongAdder)
    val bk0 = Trace.bookkeepingNs.get
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val t0 = System.nanoTime()
    val threads = (0 until 2).map { cl =>
      new Thread(() => {
        val rnd = new scala.util.Random(seed * 7919L + cl)
        var order = rnd.shuffle(pool)
        var i = 0
        var req = cl.toLong << 40
        var done = 0L
        while (System.nanoTime() < deadline && done < perClient) {
          done += 1
          if (i == order.size) { order = rnd.shuffle(pool); i = 0 }
          val q = order(i)
          i += 1
          req += 1
          val q0 = System.nanoTime()
          try {
            val ans = Trace.span(s"$spanPrefix.${q.family}", req) {
              if (wire && q.wire) s.remote(q) else s.local(q)
            }
            val q1 = System.nanoTime()
            lats.computeIfAbsent(q.id, _ => new java.util.concurrent.ConcurrentLinkedQueue[Double]())
              .add((q1 - q0) / 1e6)
            perSecond(math.min(perSecond.length - 1, ((q1 - t0) / 1000000000L).toInt)).increment()
            answers.add(q.id, ans)
          } catch {
            case e: Exception =>
              if (e.isInstanceOf[Non2xx]) non2xx.increment()
              errors.increment()
              System.err.println(s"[serve_hot] query ${q.id}: $e")
          }
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    new Loop((System.nanoTime() - t0) / 1e9,
      lats.asScala.map { case (q, l) => q -> l.asScala.toArray.sorted }.toMap,
      answers, errors.sum(), non2xx.sum(), perSecond.map(_.sum()).toSeq,
      (Trace.bookkeepingNs.get - bk0) / 1e9)
  }

  def run(spark: SparkSession, a: Args): Report = {
    val c = if (a.smoke) Conf(docs = 4000, textDocs = 800, warmPerClient = 500)
            else Conf(docs = 10000, textDocs = 1500, warmPerClient = 10000)
    val r = new Report
    val queries = QueryLog.load("data/queries.log").zipWithIndex.map { case (q, i) => Q(i, q, family(q)) }
    val served = setup(spark, a, c, queries)
    r.metric("setup_s", Setup.sinceStart(), "s")

    val loops = if (!a.trace) {
      val m = closedLoop(served, a.seed, queries, wire = true, "query", a.seconds)
      val all = m.all
      r.metric("qps", all.length / m.wall, "1/s")
      r.metric("p50_ms", Stats.pct(all, 0.5), "ms")
      r.metric("p90_ms", Stats.pct(all, 0.9), "ms")
      r.metric("heap_mb", Host.heapAfterGcMb(), "MB")
      r.noteNum("samples", all.length)
      r.noteNum("p99_ms", Stats.pct(all, 0.99))
      r.note("completed_per_second", m.perSecond.mkString("[", ",", "]"))
      Seq(m)
    } else {
      // every family in-process, then the wire subset over HTTP
      val inProc = closedLoop(served, a.seed, queries, wire = false, "LocalService", a.seconds * 0.6)
      val wireQs = queries.filter(_.wire)
      val overHttp = closedLoop(served, a.seed, wireQs, wire = true, "HttpService", a.seconds * 0.4)
      org.apache.spark.wbench.Bus.drain(spark.sparkContext)
      val querySpans = Families.flatMap(f => Trace.named(s"LocalService.$f"))
      Families.foreach { f =>
        val ls = Trace.named(s"LocalService.$f").map(_.millis).toArray.sorted
        r.metric(s"LocalService.$f.p50_ms", Stats.pct(ls, 0.5), "ms")
        r.metric(s"LocalService.$f.p99_ms", Stats.pct(ls, 0.99), "ms")
      }
      r.metric("LocalService.jobs_per_query", querySpans.map(_.jobs.get).sum.toDouble / querySpans.size, "count")
      r.metric("LocalService.resident_postings", served.svc.residentPostings.toDouble, "count")
      val wireInProc = wireQs.flatMap(q => inProc.lats.getOrElse(q.id, Array.empty[Double])).toArray.sorted
      r.metric("HttpService.wire_p50_ms", Stats.pct(overHttp.all, 0.5) - Stats.pct(wireInProc, 0.5), "ms")
      r.metric("HttpService.non_2xx", overHttp.non2xx.toDouble, "count")
      r.metric("query.p99_ms", Stats.pct(inProc.all, 0.99), "ms")
      r.metric("trace.overhead_share",
        (inProc.bookkeepingS + overHttp.bookkeepingS) / (inProc.wall + overHttp.wall), "ratio")
      Setup.indexMetrics(r, served.built.indexDir)
      // resident bytes: heap after GC around the warm pass of a fresh
      // service over the same index
      val probe = new LocalService(served.built.ix)
      val h0 = Host.heapAfterGcMb()
      queries.filterNot(_.lq.analyzeText).foreach(q => local(probe, served.text, q))
      val h1 = Host.heapAfterGcMb()
      r.metric("LocalService.bytes_per_resident_posting",
        (h1 - h0) * 1048576.0 / math.max(1L, probe.residentPostings), "B")
      Seq(inProc, overHttp)
    }
    Setup.buildMetrics(spark, r, served.built, c.docs)

    // correctness: every distinct query's top-10 against the brute-force oracle
    val orc = Setup.oracle(spark, served.built.corpusDir)
    val textOrc = Setup.oracle(spark, served.built.corpusDir, c.textDocs, textAnalyzer = true)
    val ix = served.built.ix
    val expected: Map[Int, Seq[Oracle.Hit]] = queries.map { q =>
      val lq = q.lq
      val want =
        if (lq.analyzeText)
          Oracle.search(textOrc, lq.terms, 10, lq.phrase, lq.exclude, lq.slop, phraseShifts = lq.phraseShifts)
        else (lq.prefix, lq.fuzzy, lq.wildcard, lq.bool) match {
          case (Some(p), _, _, _) => Oracle.searchOr(orc, Searcher.expandPrefix(ix, p, 64), 10)
          case (_, Some((t, d)), _, _) => Oracle.searchOr(orc, Searcher.expandFuzzy(ix, t, d, 16), 10)
          case (_, _, Some(w), _) => Oracle.searchOr(orc, Searcher.expandWildcard(ix, w, 64), 10)
          case (_, _, _, Some(b)) => Setup.boolTopK(orc, b, 10)
          case _ => Oracle.search(orc, lq.terms, 10, lq.phrase, lq.exclude, lq.slop, boosts = lq.boosts)
        }
      // a planted wrong expectation proves a wrong answer is counted
      q.id -> (if (a.plantWrong && q.id == 0) want.drop(1) else want)
    }.toMap
    loops.foreach { l =>
      r.attempted += l.answers.total + l.errors
      r.failed += l.errors + l.answers.wrong(expected.get, m => System.err.println(s"[serve_hot] wrong answer: $m"))
    }
    r.noteNum("distinct_queries_checked", loops.flatMap(_.answers.queries).distinct.size)
    r.noteNum("corpus_docs", c.docs)
    r.noteNum("text_docs", c.textDocs)
    served.stop()
    r
  }
}

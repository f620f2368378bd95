package wbench

import graft.core.Oracle
import graft.corpus.CorpusGen
import graft.query.LocalService
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, length, sum}

/** The paper's setting: a query stream whose working set is larger than the
  * resident cache, so queries hit, miss (Spark collect plus decode) or,
  * above the fetch cap, run on the distributed `Searcher`. */
object ServeCold {
  final case class Conf(docs: Int, queriesPerSecond: Int, warmQueries: Int, checkSample: Int)

  /** Vocabulary terms above the fetch cap: with six, about a fifth of a
    * block's queries run distributed. */
  val HotTerms = 6

  /** One stream query; `kind` is how it was drawn (hot, ident or vocab). */
  final case class CQ(id: Int, terms: Seq[String], phrase: Boolean, kind: String)

  val Routes = Seq("hit", "miss", "distributed")

  /** The seeded stream, in blocks of ten queries with a fixed make-up:
    * two hot terms (df above the fetch cap, so they run distributed), two
    * df-1 identifiers, and over the rest of the vocabulary three single
    * terms, two pairs and one two-word phrase. Hot terms cycle through a
    * seeded permutation; each block's nine vocabulary terms take one Zipf
    * draw from each ninth of the distribution, so every block costs about
    * the same and a run of a few blocks is a fair sample of the stream. */
  def stream(seed: Long, n: Int, docs: Int, hot: Seq[String], local: Seq[String]): Seq[CQ] = {
    val rnd = new scala.util.Random(seed * 1000003L + 17L)
    val w = local.indices.map(i => 1.0 / math.pow(i + 1.0, 1.1))
    val cdf = w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    def zipf(u: Double): String = {
      var i = java.util.Arrays.binarySearch(cdf, u)
      if (i < 0) i = -i - 1
      local(math.min(i, local.size - 1))
    }
    val hotOrder = Iterator.continually(rnd.shuffle(hot)).flatten
    val slots = Seq("hot", "hot", "ident", "ident", "term", "term", "term", "pair", "pair", "phrase")
    (0 until (n + 9) / 10).flatMap { _ =>
      val draws = rnd.shuffle((0 until 9).map(j => zipf((j + rnd.nextDouble()) / 9))).iterator
      def pair(): Seq[String] = {
        val a = draws.next()
        val b = draws.next()
        if (a != b) Seq(a, b) else Seq(a, local.find(_ != a).get)
      }
      rnd.shuffle(slots).map {
        case "hot" => (Seq(hotOrder.next()), false, "hot")
        case "ident" => (Seq(s"fn_${rnd.nextInt(docs)}_0"), false, "ident")
        case "term" => (Seq(draws.next()), false, "vocab")
        case "pair" => (pair(), false, "vocab")
        case _ => (pair(), true, "vocab")
      }
    }.take(n).zipWithIndex.map { case ((terms, phrase, kind), i) => CQ(i, terms, phrase, kind) }
  }

  final class Plan(val built: Setup.Built, val hot: Seq[String], val local: Seq[String],
                   val queries: Seq[CQ], val dfs: Map[String, Long],
                   val fetchCap: Long, val cacheCap: Long, val workingSet: Long) {
    def service(): LocalService =
      new LocalService(built.ix, maxCachedPostings = cacheCap, maxFetchPostings = fetchCap)
    def route(q: CQ, missed: Boolean): String =
      if (q.terms.exists(t => dfs.getOrElse(t, 0L) > fetchCap)) "distributed"
      else if (missed) "miss" else "hit"
  }

  def plan(spark: SparkSession, a: Args, c: Conf): Plan = {
    val corpusDir = a.work.resolve("corpus")
    Setup.corpus(spark, c.docs, a.seed, corpusDir)
    val built = Setup.build(spark, corpusDir, a.work.resolve("ix"), fuzzy = false)
    import spark.implicits._
    val vocabDf = built.ix.termstats.filter(col("term").isin(CorpusGen.Vocab.toIndexedSeq: _*))
      .select("term", "df").as[(String, Long)].collect().toSeq.sortBy(t => (-t._2, t._1))
    val hot = vocabDf.take(HotTerms)
    val local = vocabDf.drop(HotTerms)
    val fetchCap = (hot.last._2 + local.head._2) / 2
    val queries = stream(a.seed, c.queriesPerSecond * a.seconds, c.docs, hot.map(_._1), local.map(_._1))
    val dfs = vocabDf.toMap ++ queries.filter(_.kind == "ident").map(_.terms.head -> 1L)
    // working set: every distinct resident list the local queries need
    // (a phrase needs the positional variant of each list)
    val keys = queries.filter(_.kind != "hot").flatMap(q => q.terms.map(t => (t, q.phrase))).distinct
    val workingSet = keys.map(k => dfs.getOrElse(k._1, 0L)).sum
    new Plan(built, hot.map(_._1), local.map(_._1), queries, dfs, fetchCap, math.max(1L, workingSet / 4), workingSet)
  }

  def run(spark: SparkSession, a: Args): Report = {
    val c = if (a.smoke) Conf(docs = 4000, queriesPerSecond = 4, warmQueries = 10, checkSample = 8)
            else Conf(docs = 12000, queriesPerSecond = 6, warmQueries = 30, checkSample = 20)
    val r = new Report
    val p = plan(spark, a, c)
    // warm-up: a stream of its own, so the measured stream starts in steady
    // state: every hot term's df resolved (a first use costs one more Spark
    // job) and the cache churning at capacity
    val svc = Trace.span("LocalService.new") { p.service() }
    stream(a.seed ^ 0x3a11L, c.warmQueries, c.docs, p.hot, p.local).foreach(q => svc.search(q.terms, 10, q.phrase))
    r.metric("setup_s", Setup.sinceStart(), "s")

    val n = p.queries.size
    val lat = new Array[Double](n)
    val routes = new Array[String](n)
    val answers = new Answers
    var errors = 0L
    val (h0, m0, e0) = svc.cacheStats
    val bk0 = Trace.bookkeepingNs.get
    val t0 = System.nanoTime()
    p.queries.foreach { q =>
      val before = svc.cacheStats._2
      val q0 = System.nanoTime()
      try {
        val hits = Trace.span("LocalService.search", q.id.toLong) { svc.search(q.terms, 10, q.phrase) }
        lat(q.id) = (System.nanoTime() - q0) / 1e6
        answers.add(q.id, hits.map(h => (h.docId, h.score)))
      } catch { case e: Exception =>
        lat(q.id) = Double.NaN
        errors += 1
        System.err.println(s"[serve_cold] query ${q.id}: $e")
      }
      routes(q.id) = p.route(q, svc.cacheStats._2 > before)
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val bk = (Trace.bookkeepingNs.get - bk0) / 1e9
    val (h1, m1, e1) = svc.cacheStats
    val ok = lat.filterNot(_.isNaN).sorted
    r.metric("qps", n / wall, "1/s")
    r.metric("p50_ms", Stats.pct(ok, 0.5), "ms")
    r.metric("p90_ms", Stats.pct(ok, 0.9), "ms")
    r.metric("heap_mb", Host.heapAfterGcMb(), "MB")
    Setup.buildMetrics(spark, r, p.built, c.docs)
    val share = routes.count(_ == "distributed").toDouble / n
    r.noteNum("queries", n)
    r.note("latencies_ms", lat.map(Json.num).mkString("[", ",", "]"))
    r.note("routes", routes.map(Json.str).mkString("[", ",", "]"))
    r.noteNum("fetch_cap_postings", p.fetchCap)
    r.noteNum("cache_cap_postings", p.cacheCap)
    r.noteNum("working_set_postings", p.workingSet)
    r.noteNum("distributed_share", share)
    r.noteNum("cache_hits", h1 - h0)
    r.noteNum("cache_misses", m1 - m0)
    r.noteNum("cache_evictions", e1 - e0)
    Routes.foreach(rt => r.noteNum(s"route_$rt", routes.count(_ == rt)))

    if (a.trace) {
      Setup.indexMetrics(r, p.built.indexDir)
      org.apache.spark.wbench.Bus.drain(spark.sparkContext)
      val spans = Trace.named("LocalService.search").map(s => s.req.toInt -> s).toMap
      r.metric("LocalService.cache_hit_rate", (h1 - h0).toDouble / math.max(1L, h1 - h0 + m1 - m0), "ratio")
      r.metric("LocalService.evictions_per_query", (e1 - e0).toDouble / n, "count")
      Routes.foreach { rt =>
        r.metric(s"LocalService.$rt.p50_ms",
          Stats.pct(p.queries.filter(q => routes(q.id) == rt).map(q => lat(q.id)).filterNot(_.isNaN).toArray.sorted, 0.5), "ms")
      }
      Seq("miss", "distributed").foreach { rt =>
        val ss = p.queries.filter(q => routes(q.id) == rt).flatMap(q => spans.get(q.id))
        r.metric(s"LocalService.$rt.jobs_per_query", ss.map(_.jobs.get).sum.toDouble / math.max(1, ss.size), "count")
        r.metric(s"LocalService.$rt.tasks_per_query", ss.map(_.tasks.get).sum.toDouble / math.max(1, ss.size), "count")
      }
      r.metric("LocalService.input_mb_per_query", spans.values.map(_.inputBytes.get).sum / 1048576.0 / n, "MB")
      r.metric("LocalService.distributed_share", share, "ratio")
      // encoded bytes of every block in each term's list, from the index
      import spark.implicits._
      val terms = p.queries.flatMap(_.terms).distinct
      val enc: Map[String, (Long, Long)] = p.built.ix.postings.filter(col("term").isin(terms: _*))
        .groupBy("term").agg(sum(length(col("docIds")) + length(col("tfs"))).cast("long"),
          sum(length(col("positions"))).cast("long"))
        .as[(String, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
      val read = p.queries.filter(q => routes(q.id) != "hit")
      val needed = read.map(q => q.terms.map { t =>
        val (b, pos) = enc.getOrElse(t, (0L, 0L)); b + (if (q.phrase) pos else 0L) }.sum).sum
      val got = read.flatMap(q => spans.get(q.id)).map(_.inputBytes.get).sum
      r.metric("LocalService.read_amplification", got.toDouble / math.max(1L, needed), "ratio")
      r.metric("query.p99_ms", Stats.pct(ok, 0.99), "ms")
      r.metric("trace.overhead_share", bk / wall, "ratio")
    }

    // correctness: a seeded sample of the stream against the oracle
    val orc = Setup.oracle(spark, p.built.corpusDir)
    val sample = new scala.util.Random(a.seed ^ 0x5eedL).shuffle(p.queries).take(c.checkSample)
    val expected = sample.map { q =>
      val want = Oracle.search(orc, q.terms, 10, q.phrase)
      q.id -> (if (a.plantWrong && q == sample.head) want.drop(1) else want)
    }.toMap
    val wrong = answers.wrong(expected.get, m => System.err.println(s"[serve_cold] wrong answer: $m"))
    r.attempted = n
    r.failed = wrong + errors
    r.noteNum("checked_queries", sample.size)
    r.noteNum("corpus_docs", c.docs)
    r
  }
}

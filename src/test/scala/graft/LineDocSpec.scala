package graft

import graft.corpus.LineDoc
import graft.query.Searcher
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The reference's OWN fixtures, loaded byte-for-byte through the linedoc
  * reader, indexed with the real distributed build, and searched — parity
  * asserted against the in-JVM oracle fed the same parsed groups and the
  * reference's BodyLength() norms. */
class LineDocSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val fixtures = "/root/reference/src/qq_mem/src/testdata"

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val tmp = java.nio.file.Files.createTempDirectory("graft_linedoc").toString

  override def afterAll(): Unit = {
    spark.stop()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
  }

  test("parses the reference's 3-doc iterator fixture exactly") {
    // the reference's `iter_test_3_docs_tf`, checked in verbatim (FIXTURES.md §1)
    val docs = LineDoc.read(getClass.getResource("/iter_test_3_docs_tf").getPath)
    assert(docs.map(_.title) == Seq("doc_0", "doc_1", "doc_2"))
    assert(docs(0).groups.map(_._1) == Seq("a"))
    assert(docs(1).groups.map(_._1) == Seq("a", "b"))
    assert(docs(2).groups.map(_._1) == Seq("a", "b", "c"))
    assert(docs(1).groups(0)._2.toSeq == Seq(0, 1)) // repeated term: tf 2
    assert(docs(1).groups(0)._3.toSeq == Seq((0, 1), (2, 3)))
    assert(docs(2).groups(1)._2.toSeq == Seq(1)) // position of b
    assert(docs(2).groups(1)._3.toSeq == Seq((2, 3))) // offsets of b
    assert(docs.map(_.bodyLength) == Seq(1, 3, 3))
    val oracle = LineDoc.oracleIndex(docs)
    assert(oracle.postings("a").map(p => (p._1, p._2)).toSeq == Seq((0, 1), (1, 2), (2, 1)))
  }

  test("search parity vs the oracle on the reference's wiki sample") {
    assume(new java.io.File(s"$fixtures/line_doc_with_positions").exists())
    val path = s"$fixtures/line_doc_with_positions"
    val docs = LineDoc.read(path)
    assert(docs.nonEmpty)
    LineDoc.buildIndex(spark, path, tmp, partitions = 4)
    val ix = Searcher.load(spark, tmp)
    val oracle = LineDoc.oracleIndex(docs)
    assert(ix.nDocs == docs.size && math.abs(ix.avgLen - oracle.avgLen) < 1e-12)

    // query terms straight from the fixture's ES-analyzed vocabulary:
    // the most frequent, a mid-frequency, a unique, and an absent term
    val byDf = oracle.postings.toSeq.sortBy { case (t, ps) => (-ps.length, t) }
    val hot = byDf.head._1
    val mid = byDf(byDf.size / 2)._1
    val rare = byDf.last._1
    val queries = Seq(
      Seq(hot), Seq(mid), Seq(rare), Seq(hot, mid), Seq(hot, mid, rare),
      Seq(hot, "zzz_not_in_fixture"))
    queries.foreach { terms =>
      val want = graft.core.Oracle.search(oracle, terms, 10)
      val got = Searcher.search(ix, terms, 10).collect().sortBy(_.rank)
      assert(got.map(_.docId).toSeq == want.map(_.docId),
        s"terms $terms: got ${got.toSeq} want $want")
      got.zip(want).foreach { case (g, w) =>
        assert(math.abs(g.score - w.score) < 1e-12, s"terms $terms doc ${g.docId}") }
    }

    // phrase: pick two genuinely adjacent analyzed tokens from some doc
    val phrase = docs.iterator.flatMap { d =>
      val posOf = d.groups.flatMap(g => g._2.map(p => p -> g._1)).toMap
      posOf.keysIterator.flatMap(p => posOf.get(p + 1).map(n => Seq(posOf(p), n)))
        .filter(ts => ts.distinct.size == 2)
    }.toSeq.headOption
    assume(phrase.isDefined)
    val wantP = graft.core.Oracle.search(oracle, phrase.get, 10, phrase = true)
    val gotP = Searcher.search(ix, phrase.get, 10, phrase = true)
      .collect().sortBy(_.rank)
    assert(gotP.map(_.docId).toSeq == wantP.map(_.docId),
      s"phrase ${phrase.get}: got ${gotP.toSeq} want $wantP")
    assert(gotP.nonEmpty, "phrase picked from a doc must match at least it")

    // sha invariant holds over the ingested docstore
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, sha2}
    val bad = ix.docstore
      .filter(sha2(col("content"), 256) =!= col("sha256")).count()
    assert(bad == 0L)
  }
}

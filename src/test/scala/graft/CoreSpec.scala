package graft

import graft.core._
import org.scalatest.funsuite.AnyFunSuite

/** Property-style sweeps are seeded-random (scalatestplus bridge is not in
  * the offline cache; plain deterministic sweeps serve the same purpose). */
class CodecSpec extends AnyFunSuite {
  private def randomArrays(seed: Long, rounds: Int, maxVal: Int): Seq[Array[Int]] = {
    val r = new scala.util.Random(seed)
    (0 until rounds).map(_ => Array.fill(r.nextInt(300))(r.nextInt(maxVal) & Int.MaxValue))
  }

  test("varint roundtrip sweep (tests_4.cc analog)") {
    val vals = Array(0, 1, 127, 128, 300, 16383, 16384, 1 << 20, Int.MaxValue)
    assert(Varint.decodeAll(Varint.encodeAll(vals), vals.length).sameElements(vals))
    randomArrays(1L, 50, Int.MaxValue).foreach { a =>
      assert(Varint.decodeAll(Varint.encodeAll(a), a.length).sameElements(a))
    }
  }

  test("lz4 doc blob roundtrip: empty, small, multi-chunk, unicode") {
    val r = new scala.util.Random(9L)
    val cases = Seq(
      "",
      "x",
      "if return val " * 40,
      new String(Array.fill(70000)(('a' + r.nextInt(26)).toChar)), // 5 chunks
      "héllo wörld ünïcode 你好" * 1000)
    cases.foreach { text =>
      val blob = Lz4Doc.compress(text)
      assert((blob(0) & 0xff) == Lz4Doc.Magic)
      val expChunks =
        (text.getBytes("UTF-8").length + Lz4Doc.ChunkBytes - 1) / Lz4Doc.ChunkBytes
      assert(Lz4Doc.chunkCount(blob) == expChunks, s"chunks for len=${text.length}")
      assert(Lz4Doc.decompress(blob) == text)
    }
    // compressible text genuinely shrinks (proves a real codec, not a copy)
    val rep = "the quick brown fox " * 2000
    assert(Lz4Doc.compress(rep).length < rep.getBytes("UTF-8").length / 4)
  }

  test("delta roundtrip on sorted sequences") {
    randomArrays(2L, 50, 1 << 30).foreach { a0 =>
      val sorted = a0.distinct.sorted
      assert(Delta.decode(Delta.encode(sorted)).sameElements(sorted))
      assert(Delta.decode(Delta.encode(sorted, 7), 7).sameElements(sorted))
    }
  }

  test("bitpack roundtrip (tests_9/tests_16 analog)") {
    val groups = Seq(
      Array.fill(128)(0), Array.fill(128)(1), Array.tabulate(128)(i => i * 3),
      Array.fill(5)(Int.MaxValue), Array(0, 1 << 30, 5), Array.empty[Int])
    (groups ++ randomArrays(3L, 50, Int.MaxValue)).foreach { g =>
      assert(BitPack.unpack(BitPack.pack(g)).sameElements(g))
    }
  }

  test("length byte goldens (tests_8.cc:25-49)") {
    assert(LenByte.encode(0L) == 0)
    assert(LenByte.encode(7L) == 7)
    assert(LenByte.encode(8L) == 0x08)
    assert(LenByte.encode(0x80L) == 0x28)
    assert(LenByte.encode(0xffffffffL) == ((29 << 3) | 7))
    assert(LenByte.decode(0x28) == 0x80L)
    assert(LenByte.decode((29 << 3) | 7) == 0xf0000000L)
  }

  test("length byte lossy is idempotent and bounded") {
    val r = new scala.util.Random(4L)
    val vs = (0L to 300L) ++ Seq.fill(500)(r.nextLong() & 0xffffffffL)
    vs.foreach { v =>
      val l = LenByte.lossy(v)
      assert(LenByte.lossy(l) == l)
      assert(l <= v)
    }
  }

  test("sha256 known vector") {
    assert(Sha256.hex("abc") ==
      "ba7816bf8f01cfea414140de5dae2223b00361a396177a9cb410ff61f20015ad")
  }
}

class Bm25Spec extends AnyFunSuite {
  private def f3(d: Double): String = { // reference's 3-sig-fig format_double
    val bd = BigDecimal(d).round(new java.math.MathContext(3))
    bd.toString
  }

  test("idf goldens vs Elasticsearch (tests_8.cc:65-122)") {
    assert(f3(Bm25.idf(1, 1)) == "0.288")
    assert(f3(Bm25.idf(3, 1)) == "0.981")
  }

  test("tfnorm goldens") {
    assert(math.abs(Bm25.tfNorm(1, 3, 3.0) - 1.0) < 1e-9)
    assert(f3(Bm25.tfNorm(1, 2, 8.0 / 3.0)) == "1.11")
  }

  test("whole-doc score goldens (tests_2.cc:162-245)") {
    val docs = Seq(
      Oracle.Doc(0, "hello world"),
      Oracle.Doc(1, "hello wisconsin"),
      Oracle.Doc(2, "hello world big world"))
    val ix = new Oracle.Index(docs)
    val wis = Oracle.search(ix, Seq("wisconsin"), 10)
    assert(wis.map(_.docId) == Seq(1))
    assert(f3(wis.head.score) == "1.09")
    val hello = Oracle.search(ix, Seq("hello"), 10)
    assert(math.abs(hello.find(_.docId == 0).get.score - 0.149) < 0.001)
    val hw = Oracle.search(ix, Seq("hello", "world"), 10)
    assert(math.abs(hw.find(_.docId == 0).get.score - 0.672) < 0.001)
  }

  test("lossy cache matches direct lossy tfnorm") {
    val cache = Bm25.lossyCache(42.5)
    (0 until 256).foreach { b =>
      assert(math.abs(Bm25.tfNormLossy(3, b, cache) - Bm25.tfNormLossy(3, b, 42.5)) < 1e-12)
    }
  }
}

class OracleSpec extends AnyFunSuite {

  test("top-k with length-skewed docs (tests_5.cc:26-53)") {
    // 5 docs, same tf=3 for term 'x', lengths (5-i)*10 for doc i:
    // shorter doc => higher score => order {4,3,2,1,0}; top-2 => {4,3}
    val docs = (0 until 5).map { i =>
      val len = (5 - i) * 10
      Oracle.Doc(i, (Seq.fill(3)("x") ++ Seq.fill(len - 3)(s"pad$i")).mkString(" "))
    }
    val ix = new Oracle.Index(docs)
    assert(Oracle.search(ix, Seq("x"), 5).map(_.docId) == Seq(4, 3, 2, 1, 0))
    assert(Oracle.search(ix, Seq("x"), 2).map(_.docId) == Seq(4, 3))
  }

  /** The kernel's merge scan and the oracle's set intersection must agree
    * on every table below; the shared answer is what the tests pin. */
  private def phraseBoth(lists: Seq[Array[Int]]): Boolean = {
    val k = Kernel.phraseAt(lists.toArray, null, new Array[Int](lists.size))
    assert(k == Oracle.phraseMatch(lists), s"kernel $k != oracle on ${lists.map(_.toSeq)}")
    k
  }
  private def startsBoth(lists: Seq[Array[Int]]): Seq[Int] = {
    val k = Kernel.phraseStarts(lists.map(_.sorted).toArray).toSeq
    assert(k == Oracle.phraseMatchStarts(lists).toSeq, s"kernel $k != oracle")
    k
  }
  private def atBoth(lists: Seq[Array[Int]], shifts: Seq[Int]): Boolean = {
    val k = Kernel.phraseAt(lists.toArray, shifts.toArray, new Array[Int](lists.size))
    assert(k == Oracle.phraseMatchAt(lists, shifts), s"kernel $k != oracle")
    k
  }

  test("phrase position tables (tests_5.cc:56-115)") {
    // hello=[1,5,11,19], world=[2,8,20] => adjacent at 1 and 19
    assert(phraseBoth(Seq(Array(1, 5, 11, 19), Array(2, 8, 20))))
    // "world again" with no adjacency => no match
    assert(!phraseBoth(Seq(Array(2, 8, 20), Array(0, 5, 10))))
  }

  test("phrase match starts = reference position table (tests_6.cc:214)") {
    // the two adjacency sites, ascending — each start's slot-i appearance
    // is start+i, which is what FilterOffsetByPosition highlights
    assert(startsBoth(Seq(Array(1, 5, 11, 19), Array(2, 8, 20))) == Seq(1, 19))
    assert(startsBoth(Seq(Array(2, 8, 20), Array(0, 5, 10))).isEmpty)
    // 3-term chain: a=[0,7], b=[1,4,8], c=[2,9] => starts 0 and 7
    assert(startsBoth(Seq(Array(0, 7), Array(1, 4, 8), Array(2, 9))) == Seq(0, 7))
    // single term: every appearance is a "match"
    assert(startsBoth(Seq(Array(9, 3))) == Seq(3, 9))
  }

  test("missing term => empty (conjunctive guard)") {
    val ix = new Oracle.Index(Seq(Oracle.Doc(0, "a b c")))
    assert(Oracle.search(ix, Seq("a", "zzz"), 5).isEmpty)
  }

  test("posting iteration golden (iter_test_3_docs_tf)") {
    val docs = Seq(Oracle.Doc(0, "a"), Oracle.Doc(1, "a a b"), Oracle.Doc(2, "a b c"))
    val ix = new Oracle.Index(docs)
    assert(ix.postings("a").map(p => (p._1, p._2)).toSeq == Seq((0, 1), (1, 2), (2, 1)))
    assert(ix.df("a") == 3 && ix.df("b") == 2 && ix.df("c") == 1)
  }

  test("tokenizer semantics") {
    val toks = Tokenizer.tokenize("Foo(bar, baz_2); if x>1 return")
    assert(toks.map(_.term).toSeq == Seq("foo", "bar", "baz_2", "if", "x", "1", "return"))
    assert(toks.head.position == 0 && toks.head.start == 0 && toks.head.end == 3)
    val g = Tokenizer.grouped("a b a")
    assert(g.map(_._1).toSeq == Seq("a", "b"))
    assert(g(0)._2.toSeq == Seq(0, 2)) // positions of 'a'
  }

  test("Porter stemmer vectors (Porter 1980 examples)") {
    val vectors = Seq(
      "caresses" -> "caress", "ponies" -> "poni", "ties" -> "ti",
      "caress" -> "caress", "cats" -> "cat", "feed" -> "feed",
      "agreed" -> "agre", "plastered" -> "plaster", "motoring" -> "motor",
      "sing" -> "sing", "conflated" -> "conflat", "troubled" -> "troubl",
      "sized" -> "size", "hopping" -> "hop", "tanned" -> "tan",
      "falling" -> "fall", "hissing" -> "hiss", "fizzed" -> "fizz",
      "failing" -> "fail", "filing" -> "file", "happy" -> "happi",
      "sky" -> "sky", "relational" -> "relat", "conditional" -> "condit",
      "rational" -> "ration", "valenci" -> "valenc", "digitizer" -> "digit",
      "operator" -> "oper", "feudalism" -> "feudal",
      "decisiveness" -> "decis", "hopefulness" -> "hope",
      "formaliti" -> "formal", "triplicate" -> "triplic",
      "formative" -> "form", "formalize" -> "formal",
      "electriciti" -> "electr", "electrical" -> "electr",
      "hopeful" -> "hope", "goodness" -> "good", "revival" -> "reviv",
      "allowance" -> "allow", "inference" -> "infer", "airliner" -> "airlin",
      "adjustable" -> "adjust", "defensible" -> "defens",
      "replacement" -> "replac", "adjustment" -> "adjust",
      "dependent" -> "depend", "adoption" -> "adopt",
      "communism" -> "commun", "activate" -> "activ",
      "effective" -> "effect", "probate" -> "probat", "rate" -> "rate",
      "cease" -> "ceas", "controll" -> "control", "roll" -> "roll",
      // the graded corpus vocabulary
      "queries" -> "queri", "query" -> "queri", "tables" -> "tabl",
      "table" -> "tabl", "values" -> "valu", "value" -> "valu",
      "customer" -> "custom", "merge" -> "merg", "scanning" -> "scan")
    vectors.foreach { case (w, want) =>
      assert(Porter.stem(w) == want, s"stem($w) = ${Porter.stem(w)}, want $want")
    }
  }

  test("phraseMatchAt: explicit shifts (stopword gaps), base-invariant") {
    val phraseMatchAt = atBoth _
    // doc positions: a@2, b@4 — query shifts (0,2) matches, adjacency not
    assert(phraseMatchAt(Seq(Array(2), Array(4)), Seq(0, 2)))
    assert(!phraseMatchAt(Seq(Array(2), Array(4)), Seq(0, 1)))
    // the shift BASE is irrelevant: only differences matter
    assert(phraseMatchAt(Seq(Array(2), Array(4)), Seq(5, 7)))
    // three slots with mixed gaps
    assert(phraseMatchAt(Seq(Array(1, 9), Array(3, 11), Array(4, 12)),
      Seq(0, 2, 3)))
    assert(!phraseMatchAt(Seq(Array(1), Array(3), Array(5)), Seq(0, 2, 3)))
    // degenerate shapes
    assert(!phraseMatchAt(Nil, Nil))
    assert(phraseMatchAt(Seq(Array(7)), Seq(0)))
    assert(!phraseMatchAt(Seq(Array[Int](), Array(1)), Seq(0, 1)))
  }

  test("text analyzer: possessive strip, stopwords, position gaps, norm") {
    val toks = Tokenizer.tokenizeText("The customer's queries are falling")
    // "the"(0) and "are"(3) removed but consume positions
    assert(toks.map(t => (t.term, t.position)).toSeq ==
      Seq(("custom", 1), ("queri", 2), ("fall", 4)))
    // surviving count is the BM25 norm, not max position + 1
    assert(toks.length == 3)
    // offsets still span the ORIGINAL text (snippet highlighting)
    assert(toks.head.start == 4 && toks.head.end == 14) // "customer's"
    val g = Tokenizer.groupedText("tables table's TABLES")
    assert(g.map(_._1).toSeq == Seq("tabl"))
    assert(g(0)._2.toSeq == Seq(0, 1, 2))
    // apostrophes beyond the possessive are dropped, not split on
    assert(Tokenizer.tokenizeText("don't").map(_.term).toSeq == Seq("dont"))
  }
}

/** Differential sweep: the serving path's COMPILED boolean evaluator
  * ([[graft.query.BoolQuery.compile]]) vs the recursive reference
  * ([[BoolQuery.evalAndScore]]) over seeded-random trees and doc states.
  * Match must be identical and, when matched, the clause-aware score
  * bitwise-equal (the compiled postorder preserves the recursive form's
  * left-assoc addition order). */
class BoolCompileSpec extends AnyFunSuite {
  import graft.query.BoolQuery
  import graft.query.BoolQuery.{And, Node, Not, Or, Term}

  private val vocab = (0 until 8).map(i => s"t$i")
  private val indexed = vocab.take(6).toSet // t6/t7 fold away as absent

  private def randTree(r: scala.util.Random, depth: Int): Node =
    if (depth == 0 || r.nextInt(4) == 0) Term(vocab(r.nextInt(vocab.size)))
    else r.nextInt(3) match {
      case 0 => Not(randTree(r, depth - 1))
      case 1 => And(Seq.fill(2 + r.nextInt(2))(randTree(r, depth - 1)))
      case _ => Or(Seq.fill(2 + r.nextInt(2))(randTree(r, depth - 1)))
    }

  test("compiled evaluator == recursive evaluator on random trees/docs") {
    val r = new scala.util.Random(20260819L)
    var evaluated = 0
    (0 until 300).foreach { _ =>
      BoolQuery.foldForEval(randTree(r, 4), indexed.contains) match {
        case None => () // constant-folded or pure-negative: nothing to run
        case Some(folded) =>
          val (pos, neg) = BoolQuery.leafTerms(folded)
          val posIdx = pos.zipWithIndex.toMap
          val negIdx = neg.zipWithIndex.toMap
          val prog = BoolQuery.compile(folded, posIdx, negIdx)
          (0 until 40).foreach { _ =>
            val posPresent = Array.fill(pos.size)(r.nextBoolean())
            val partials = Array.fill(pos.size)(r.nextDouble() * 5.0)
            val negPresent = Array.fill(neg.size)(r.nextBoolean())
            def present(t: String): Boolean = posIdx.get(t) match {
              case Some(i) => posPresent(i)
              case None    => negPresent(negIdx(t))
            }
            def partial(t: String): Double =
              posIdx.get(t).map(i => if (posPresent(i)) partials(i) else 0.0)
                .getOrElse(0.0)
            val (wantM, wantS) = BoolQuery.evalAndScore(folded, present, partial)
            val gotM = prog.eval(posPresent, partials, negPresent)
            assert(gotM == wantM, s"match diverged on $folded")
            if (wantM) assert(prog.lastScore == wantS, // bitwise
              s"score diverged on $folded: ${prog.lastScore} vs $wantS")
            evaluated += 1
          }
      }
    }
    assert(evaluated > 5000, s"sweep too small: $evaluated")
  }
}

class TermDictSpec extends AnyFunSuite {
  import graft.index.TermDict

  test("front-coded block roundtrips with true per-entry lcp") {
    val terms = Array("scan", "scan_filter", "scan_limit", "scanner", "scans", "schema")
    val packed = TermDict.encodeBlock(terms)
    val back = TermDict.decodeBlock(terms.head, terms.length, packed)
    assert(back.map(_._1).toSeq == terms.toSeq)
    // stored lcp must equal the true lcp vs the PREVIOUS term (front
    // coding), not vs the block head
    assert(back.map(_._2).toSeq == Seq(0, 4, 5, 4, 4, 2))
    // packed must be smaller than the raw suffix-less encoding
    assert(packed.length < terms.tail.map(_.length + 2).sum)
  }

  test("singleton block has empty packed stream") {
    assert(TermDict.encodeBlock(Array("only")).isEmpty)
    assert(TermDict.decodeBlock("only", 1, Array.emptyByteArray).toSeq == Seq(("only", 0)))
  }

  test("unsorted or duplicate block is rejected") {
    intercept[IllegalArgumentException](TermDict.encodeBlock(Array("b", "a")))
    intercept[IllegalArgumentException](TermDict.encodeBlock(Array("a", "a")))
  }

  test("randomized roundtrip over sorted unique token-like strings") {
    val r = new scala.util.Random(42)
    (1 to 200).foreach { _ =>
      val n = 1 + r.nextInt(16)
      val terms = (1 to n * 3).map(_ =>
        (1 to 1 + r.nextInt(8)).map(_ => "ab_09".charAt(r.nextInt(5))).mkString)
        .distinct.sorted.take(n).toArray
      val back = TermDict.decodeBlock(terms.head, terms.length, TermDict.encodeBlock(terms))
      assert(back.map(_._1).toSeq == terms.toSeq)
      back.toSeq.sliding(2).foreach {
        case Seq((p, _), (t, l)) => assert(l == TermDict.lcp(p, t))
        case _ =>
      }
    }
  }
}

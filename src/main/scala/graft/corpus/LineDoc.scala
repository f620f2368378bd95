package graft.corpus

import graft.core.LenByte
import graft.index.{IndexBuilder, Manifest, PostingCodec}
import org.apache.spark.sql.SparkSession

/** Reader + index ingestion for the reference's linedoc format — the TSV
  * its own test fixtures and wiki corpus use (`utils.h:48-80` `LineDoc`,
  * `engine_loader.h:54-128` parser family, `types.cc:11-36` field
  * grammars):
  *
  *  - header: `FIELDS_HEADER_INDICATOR###\t<col names>`;
  *  - row (WITH_POSITIONS): doctitle, body, tokenized, offsets, positions;
  *  - `tokenized`: space-joined ANALYZED terms, one entry per unique term;
  *  - `offsets`: '.'-terminated per-term groups of ';'-separated
  *    `start,end` pairs; `positions`: same grammar with bare ints;
  *  - the reference's `explode` skips empty buffers while `explode_strict`
  *    (the TSV split) keeps empty fields — both mirrored exactly;
  *  - BM25 doc length = `DocInfo::BodyLength()` = whitespace term count of
  *    the RAW body (`types.cc:38-40`, `utils.cc:163-165`), NOT the
  *    analyzed token count.
  *
  * This makes the reference's own fixtures loadable byte-for-byte, so
  * search parity is asserted against its actual test corpus rather than
  * hand-ported constants.
  */
object LineDoc {

  final case class DocGroups(docId: Int, title: String, body: String,
      groups: Seq[(String, Array[Int], Array[(Int, Int)])]) {
    /** `DocInfo::BodyLength()` analog. */
    def bodyLength: Int = body.split(' ').count(_.nonEmpty)
  }

  /** `utils::explode` — buffer-skipping split (drops empty pieces). */
  private def explode(s: String, c: Char): Seq[String] =
    s.split(c).iterator.filter(_.nonEmpty).toSeq

  /** `utils::explode_strict` — keeps empty fields, including trailing. */
  private def explodeStrict(s: String, c: Char): Array[String] =
    s.split(c.toString, -1)

  /** `DocInfo::GetPositions` grammar: '.'-separated term groups of
    * ';'-separated ints. */
  def parsePositions(s: String): Seq[Array[Int]] =
    explode(s, '.').map(g => explode(g, ';').map(_.trim.toInt).toArray)

  /** `utils::parse_offsets` grammar: '.'-terminated term groups of
    * ';'-separated `start,end` pairs. */
  def parseOffsets(s: String): Seq[Array[(Int, Int)]] =
    explode(s, '.').map { g =>
      explode(g, ';').map { pair =>
        val xs = explode(pair, ',')
        (xs(0).trim.toInt, xs(1).trim.toInt)
      }.toArray
    }

  /** Parse a WITH_POSITIONS linedoc file; docIds are assigned in row
    * order starting at 0 (the reference's `NextDocId()` sequence). */
  def read(path: String): Seq[DocGroups] = {
    import scala.jdk.CollectionConverters._
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(path)).asScala.toSeq
    require(lines.nonEmpty && lines.head.startsWith("FIELDS_HEADER_INDICATOR###"),
      s"not a linedoc file: $path")
    lines.tail.filter(_.nonEmpty).zipWithIndex.map { case (line, i) =>
      val items = explodeStrict(line, '\t')
      require(items.length >= 5, s"linedoc row $i has ${items.length} fields")
      val tokens = explode(items(2), ' ')
      val offs = parseOffsets(items(3))
      val poss = parsePositions(items(4))
      require(tokens.size == offs.size && tokens.size == poss.size,
        s"row $i: ${tokens.size} tokens, ${offs.size} offset groups, ${poss.size} position groups")
      DocGroups(i, items(0), items(1),
        tokens.indices.map(j => (tokens(j), poss(j), offs(j))))
    }
  }

  /** Build a complete queryable index (docstore + postings + termstats,
    * manifest-committed) from a linedoc file — the engine-loader analog:
    * the file's PRE-ANALYZED groups are posted verbatim (no tokenizer
    * runs), and the BM25 norm is the reference's `BodyLength()`. The heavy
    * lifting (salted block encode) is the SAME distributed
    * [[IndexBuilder.buildBlocks]] path as a corpus build; only the flat
    * posting source differs. */
  def buildIndex(spark: SparkSession, lineDocPath: String, indexDir: String,
                 partitions: Int = 8): Unit = {
    import spark.implicits._
    val docs = read(lineDocPath)
    if (!Manifest.isCommitted(indexDir, "docstore")) {
      docs.map { d =>
        val sha = java.security.MessageDigest.getInstance("SHA-256")
          .digest(d.body.getBytes("UTF-8")).map("%02x".format(_)).mkString
        IndexBuilder.StoredDoc(d.docId, "linedoc", d.title, "", "", sha,
          d.body, d.bodyLength, LenByte.encode(d.bodyLength.toLong))
      }.toDS().repartition(partitions)
        .write.mode("overwrite").option("compression", "zstd")
        .parquet(s"$indexDir/docstore")
      Manifest.commit(spark, indexDir, "docstore")
    }
    if (!Manifest.isCommitted(indexDir, "postings")) {
      val flat = docs.flatMap { d =>
        val lb = LenByte.encode(d.bodyLength.toLong)
        d.groups.map { case (term, ps, os) =>
          IndexBuilder.FlatPosting(term, d.docId, ps.length,
            PostingCodec.encodePositionsBlob(ps),
            PostingCodec.encodeOffsetsBlob(os.map(_._1), os.map(_._2)), lb)
        }
      }.toDS()
      IndexBuilder.buildBlocks(spark, flat, docs.size.toLong, partitions)
        .write.mode("overwrite").option("compression", "zstd")
        .parquet(s"$indexDir/postings")
      Manifest.commit(spark, indexDir, "postings")
    }
    if (!Manifest.isCommitted(indexDir, "termstats")) {
      IndexBuilder.writeTermStats(spark.read.parquet(s"$indexDir/postings")
          .select($"term", $"n".as("df"), $"sumTf".as("cf")),
        math.max(1, partitions / 4), s"$indexDir/termstats")
      Manifest.commit(spark, indexDir, "termstats")
    }
    Manifest.commitSnapshot(spark, indexDir, docs.size.toLong)
  }

  /** The in-JVM oracle over the SAME parsed groups + reference lengths
    * ([[graft.core.Oracle.Index.fromGroups]]) — the differential target. */
  def oracleIndex(docs: Seq[DocGroups]): graft.core.Oracle.Index =
    graft.core.Oracle.Index.fromGroups(
      docs.map(d => d.docId -> d.groups.map(g => (g._1, g._2))),
      docs.map(d => d.docId -> d.bodyLength).toMap)
}

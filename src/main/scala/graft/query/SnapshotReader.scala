package graft.query

import graft.index.PostingCodec
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.column.impl.ColumnReadStoreImpl
import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.example.DummyRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.{BlockMetaData, ParquetMetadata}
import org.apache.parquet.io.LocalInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{MessageType, PrimitiveType}

import scala.jdk.CollectionConverters._

/** Driver-side reads of a loaded index's postings and termstats — the
  * serving path's cache-miss I/O, with no Spark job. The file set is the
  * index's committed view ([[Searcher.LoadedIndex.parquetFiles]]) resolved
  * ONCE, at construction: every read sees exactly that snapshot, never a
  * segment committed later. A pinned file that compaction has since
  * retired raises [[LocalService.SnapshotRetiredException]].
  *
  * Each read is a point lookup by term through parquet-mr's column API:
  * row groups whose `term` min/max statistics exclude every wanted term
  * are skipped from the footer alone, the `term` column chunk of the rest
  * is scanned for the wanted terms, and the other requested columns are
  * read only in row groups that matched, and only their matching rows are
  * materialized ("read as needed"; the record API would assemble every
  * row). Footers are cached per file for as long as the loaded index's
  * snapshot lasts; nothing else stays resident. */
private[graft] final class SnapshotReader private (postings: SnapshotReader.StageFiles,
                                                   termstats: SnapshotReader.StageFiles) {
  import SnapshotReader._

  /** A reader over the snapshot `ix` sees now; it shares that snapshot's
    * footer caches. */
  def this(ix: Searcher.LoadedIndex) =
    this(ix.parquetFiles("postings"), ix.parquetFiles("termstats"))

  /** df per term, summed over the snapshot's termstats rows (one per
    * segment on a streamed index); 0 for an absent term. */
  def dfs(terms: Seq[String]): Map[String, Long] = {
    val present = presentDfs(termstats, terms)
    terms.map(t => t -> present.getOrElse(t, 0L)).toMap
  }

  /** Decoded posting lists of `terms` (blocks in firstDocId order across
    * files), each posting with its inline length byte; an absent term has
    * no entry. */
  def lists(terms: Seq[String], withPositions: Boolean): Map[String, LocalService.TermList] = {
    val cols = Seq("prevDocId", "firstDocId", "n", "docIds", "tfs", "lenBytes") ++
      (if (withPositions) Seq("positions") else Nil)
    postings.lookup(terms.toSet, cols).groupBy(_.term).map { case (t, rows) =>
      val ids = scala.collection.mutable.ArrayBuilder.make[Int]
      val tfs = scala.collection.mutable.ArrayBuilder.make[Int]
      val norms = scala.collection.mutable.ArrayBuilder.make[Byte]
      val pos = if (withPositions)
        new scala.collection.mutable.ArrayBuffer[Array[Int]]() else null
      rows.sortBy(_.int(1)).foreach { r =>
        val n = r.int(2)
        PostingCodec.decodeDocIdTf(r.int(0), n, r.bytes(3), r.bytes(4))
          .foreach { case (d, tf) => ids += d; tfs += tf }
        PostingCodec.decodeLenBytes(n, r.bytes(5)).foreach(lb => norms += lb.toByte)
        if (withPositions) pos ++= PostingCodec.decodePositions(n, r.bytes(6))
      }
      t -> LocalService.TermList(ids.result(), tfs.result(), norms.result(),
        if (withPositions) pos.toArray else null)
    }
  }

  /** (tf, lenByte) of (term, docId), decoding only the blocks whose
    * [firstDocId, lastDocId] covers the doc; None when the doc lacks it. */
  def tf(term: String, docId: Int): Option[(Long, Int)] = {
    val covering = postings.lookup(Set(term), Seq("prevDocId", "n", "docIds", "tfs", "lenBytes"),
      where = (Seq("firstDocId", "lastDocId"), r => r.int(0) <= docId && r.int(1) >= docId))
    covering.iterator.flatMap { r =>
      val n = r.int(1)
      val dt = PostingCodec.decodeDocIdTf(r.int(0), n, r.bytes(2), r.bytes(3))
      val i = dt.indexWhere(_._1 == docId)
      if (i < 0) None else Some((dt(i)._2.toLong, PostingCodec.decodeLenBytes(n, r.bytes(4))(i)))
    }.nextOption()
  }
}

private[graft] object SnapshotReader {

  /** One matched row: its term and the requested columns' values (boxed
    * Int/Long, or Array[Byte] for binaries; null when the row holds a
    * null). */
  final class Row(val term: String, values: Array[Any]) {
    def int(i: Int): Int = values(i).asInstanceOf[Int]
    def long(i: Int): Long = values(i) match {
      case v: Long => v
      case v: Int => v.toLong
    }
    def bytes(i: Int): Array[Byte] = values(i).asInstanceOf[Array[Byte]]
  }

  /** df of each of `terms` that has termstats rows, summed over them
    * (one row per segment on a streamed index); absent terms have no
    * entry. */
  def presentDfs(termstats: StageFiles, terms: Seq[String]): Map[String, Long] = {
    val sums = scala.collection.mutable.Map.empty[String, Long]
    termstats.lookup(terms.toSet, Seq("df"))
      .foreach(r => sums(r.term) = sums.getOrElse(r.term, 0L) + r.long(0))
    sums.toMap
  }

  /** Row groups of a file that may hold one of `terms`: those whose
    * `term` column chunk has no min/max statistics, or whose [min, max]
    * range contains a wanted term. */
  def rowGroupsFor(footer: ParquetMetadata, terms: Set[String]): Seq[Int] = {
    val wanted = terms.toSeq.map(Binary.fromString)
    footer.getBlocks.asScala.toSeq.zipWithIndex.collect {
      case (block, g) if mayHold(block, wanted) => g
    }
  }

  private def mayHold(block: BlockMetaData, wanted: Seq[Binary]): Boolean =
    block.getColumns.asScala.find(_.getPath.toDotString == "term")
      .map(_.getStatistics.asInstanceOf[Statistics[Binary]]) match {
      case Some(st) if st != null && !st.isEmpty && st.hasNonNullValue =>
        val cmp = st.comparator()
        wanted.exists(w => cmp.compare(st.genericGetMin, w) <= 0 &&
          cmp.compare(w, st.genericGetMax) <= 0)
      case _ => true
    }

  /** The parquet files of one stage, with a per-file footer cache. */
  private[graft] final class StageFiles(val paths: Seq[String]) {
    private val footers = new java.util.concurrent.ConcurrentHashMap[String, ParquetMetadata]()
    private val conf = new org.apache.hadoop.conf.Configuration()

    // options per reader: a reader's close() releases its options' codec
    // factory, which must not pull decompressors from concurrent readers
    private def options() = HadoopReadOptions.builder(conf).build()

    private def retiredIfMissing[A](path: String)(body: => A): A =
      try body catch {
        case e @ (_: java.io.FileNotFoundException | _: java.nio.file.NoSuchFileException) =>
          throw new LocalService.SnapshotRetiredException(path, e)
      }

    private def footer(path: String): ParquetMetadata = {
      val cached = footers.get(path)
      if (cached != null) cached
      else retiredIfMissing(path) {
        val r = new ParquetFileReader(new LocalInputFile(java.nio.file.Paths.get(path)), options())
        try { footers.put(path, r.getFooter); r.getFooter } finally r.close()
      }
    }

    private def open(path: String): ParquetFileReader = retiredIfMissing(path) {
      val file = new LocalInputFile(java.nio.file.Paths.get(path))
      new ParquetFileReader(file, footer(path), options(), file.newStream())
    }

    /** Whether the file at `path` (one of [[paths]]) has a column `name`. */
    def hasColumn(path: String, name: String): Boolean =
      footer(path).getFileMetaData.getSchema.containsField(name)

    /** Rows whose `term` is in `terms`, across every file and row group,
      * with `cols` read at those rows only. Row groups the footer's term
      * statistics rule out are never read; a file with none left is never
      * opened. `where` first reads its own columns at the term-matched
      * rows and keeps the rows it accepts, so `cols` — typically the
      * payload — is read only for those. */
    def lookup(terms: Set[String], cols: Seq[String],
               where: (Seq[String], Row => Boolean) = (Nil, _ => true)): Seq[Row] = {
      if (terms.isEmpty) return Nil
      val wanted = terms.toArray.map(Binary.fromString)
      val out = Seq.newBuilder[Row]
      paths.foreach { path =>
        val groups = rowGroupsFor(footer(path), terms)
        if (groups.nonEmpty) {
          val reader = open(path)
          try groups.foreach { g =>
            val rowCount = reader.getRowGroups.get(g).getRowCount.toInt
            val (hit, hitTerms) = matchTerms(reader, g, rowCount, wanted)
            if (hit.nonEmpty) {
              val termOf = hit.zip(hitTerms).toMap
              val kept =
                if (where._1.isEmpty) hit
                else {
                  val pre = readAt(reader, g, where._1, hit)
                  hit.indices.filter(i => where._2(new Row(null, pre.map(_(i)))))
                    .map(hit).toArray
                }
              if (kept.nonEmpty) {
                val got = readAt(reader, g, cols, kept)
                kept.indices.foreach(i => out += new Row(termOf(kept(i)), got.map(_(i))))
              }
            }
          } finally reader.close()
        }
      }
      out.result()
    }
  }

  /** Column readers over `cols` of row group `g`; only those column
    * chunks are read from the file. */
  private def columns(reader: ParquetFileReader, g: Int,
                      cols: Seq[String]): Seq[org.apache.parquet.column.ColumnReader] = {
    val meta = reader.getFooter.getFileMetaData
    val schema = meta.getSchema
    val proj = new MessageType(schema.getName,
      cols.map(c => schema.getType(schema.getFieldIndex(c))): _*)
    reader.setRequestedSchema(proj)
    val store = new ColumnReadStoreImpl(reader.readRowGroup(g),
      new DummyRecordConverter(proj).getRootConverter, proj, meta.getCreatedBy)
    proj.getColumns.asScala.toSeq.map(store.getColumnReader)
  }

  /** Rows of row group `g` whose `term` equals one of `wanted`, ascending,
    * with their terms. */
  private def matchTerms(reader: ParquetFileReader, g: Int, rowCount: Int,
                         wanted: Array[Binary]): (Array[Int], Array[String]) = {
    val cr = columns(reader, g, Seq("term")).head
    val maxDef = cr.getDescriptor.getMaxDefinitionLevel
    val rows = Array.newBuilder[Int]
    val terms = Array.newBuilder[String]
    var r = 0
    while (r < rowCount) {
      if (cr.getCurrentDefinitionLevel == maxDef) {
        val v = cr.getBinary
        if (wanted.exists(_ == v)) { rows += r; terms += v.toStringUsingUTF8 }
      }
      cr.consume()
      r += 1
    }
    (rows.result(), terms.result())
  }

  /** Values of `cols` in row group `g` at the ascending row indices `at`:
    * per column, a boxed Int/Long or an Array[Byte] per row (null for a
    * null). Rows past the last wanted one are never decoded. */
  private def readAt(reader: ParquetFileReader, g: Int, cols: Seq[String],
                     at: Array[Int]): Array[Array[Any]] =
    columns(reader, g, cols).map { cr =>
      val maxDef = cr.getDescriptor.getMaxDefinitionLevel
      val kind = cr.getDescriptor.getPrimitiveType.getPrimitiveTypeName
      val out = new Array[Any](at.length)
      var r = 0
      var i = 0
      while (i < at.length) {
        val present = cr.getCurrentDefinitionLevel == maxDef
        if (r == at(i)) {
          if (present) out(i) = kind match {
            case PrimitiveType.PrimitiveTypeName.INT32 => cr.getInteger
            case PrimitiveType.PrimitiveTypeName.INT64 => cr.getLong
            case _ => cr.getBinary.getBytes
          }
          i += 1
        } else if (present) cr.skip()
        cr.consume()
        r += 1
      }
      out
    }.toArray
}

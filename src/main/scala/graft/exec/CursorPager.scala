package graft.exec

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import graft.exec.ResultMaterializer.ResultSet

/** Bidirectional cursor paging over a materialized result directory —
  * the reference's client result-retrieval surface: a
  * `(file_idx, row_group_idx, row_idx)` cursor plus limit, direction and
  * `allow_overflow` (query_data_handler.rs:239-571,
  * query_data_iterator.rs:22-142), with per-row offsets returned so
  * clients can resume anywhere.
  *
  * Direction semantics follow the reference's client protocol
  * (query_data_iterator.rs:117-141): a forward page serves rows starting
  * AT the cursor; a reverse page serves rows ending AT the cursor
  * (inclusive — the iterator decrements the first offset of each page to
  * get the next reverse cursor). `next` is the cursor to pass for the
  * following page in the same direction, exactly the iterator's
  * `get_next_offset`. (The reference's reverse slice arithmetic is
  * internally inconsistent — query_data_handler.rs:352-366 includes the
  * cursor row only when the remaining limit exceeds its in-group index;
  * we implement the iterator protocol's inclusive intent uniformly.)
  *
  * `allowOverflow` (query_data_handler.rs:424-447): when a reverse page
  * exhausts row 0 before filling `limit`, the read flips forward and
  * continues past the original cursor until the page is full — so a
  * client backing to the start always gets a full page when enough data
  * exists. Without the flag the partial page is returned as-is.
  *
  * This is deliberately driver-side logic (SURVEY.md §4.3): paging a
  * materialized result is an app/serving concern, not a distributed one.
  * Reads are ROW-GROUP-granular, mirroring the reference's
  * `with_row_groups` slicing (query_data_handler.rs:183-246): a page
  * materializes only the row groups it touches (LRU-cached), never a
  * whole file — group boundaries come from the footers via
  * ResultMaterializer, so skipping to a cursor is O(1) metadata work and
  * driver memory is bounded by a few row groups regardless of file size.
  */
final class CursorPager(spark: SparkSession, rs: ResultSet,
                        forceSparkReads: Boolean = false) {
  import CursorPager._

  private val fileRows: Vector[Long] = rs.files.map(_.rows)
  private val fileStarts: Vector[Long] = fileRows.scanLeft(0L)(_ + _)
  val totalRows: Long = fileStarts.last

  // Row-group starts within each file.
  private val groupStarts: Vector[Vector[Long]] =
    rs.files.map(_.rowGroupRows.scanLeft(0L)(_ + _))

  private val cache =
    new java.util.LinkedHashMap[(Int, Int), Array[Row]](8, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(Int, Int), Array[Row]]): Boolean = size() > 8
    }

  // The default read path is the direct footer-driven row-group reader
  // ([[ParquetRangeReader]]): one open + one row group's column chunks
  // per read — on object storage that is one ranged GET per chunk, never
  // a file scan. Schemas outside the reader's type coverage (impossible
  // for registry results — the PlanSpec output-type invariant — but
  // arbitrary DataFrames can be materialized too) fall back to the Spark
  // path, as does `forceSparkReads` (the parity spec's lever).
  private lazy val useRangedReads: Boolean =
    !forceSparkReads && ParquetRangeReader.supports(schema)

  /** One row group's rows. Spark-path reads select the group by
    * `_metadata.row_index` range — the verbatim footer offsets, so the
    * filter selects exactly the group's rows (but scans the file to find
    * them; the ranged reader is why that path is no longer the default).
    */
  private def readRowGroup(file: Int, rowGroup: Int): Array[Row] = {
    val key = (file, rowGroup)
    // cache ops are locked: the wire server shares ONE pager per
    // completed query across connection threads, and an access-ordered
    // LinkedHashMap mutates its links on every get — unsynchronized
    // concurrent access can cycle the list or lose entries. The lock
    // covers only map ops; two threads may still read the same group
    // concurrently (duplicated work, last write wins — harmless).
    val cached = cache.synchronized(cache.get(key))
    if (cached != null) cached
    else {
      val gs = groupStarts(file)
      val rows =
        if (useRangedReads)
          ParquetRangeReader.readRowGroup(
            spark.sparkContext.hadoopConfiguration, rs.files(file).path,
            rowGroup, schema)
        else spark.read.parquet(rs.files(file).path)
          .filter(col("_metadata.row_index") >= gs(rowGroup) &&
            col("_metadata.row_index") < gs(rowGroup + 1))
          .collect()
      cache.synchronized(cache.put(key, rows))
      rows
    }
  }

  /** Resolve a CLIENT cursor per the reference iterator's arithmetic
    * (query_data_iterator.rs:117-141) — the wire server's entry point:
    *
    *  - a FORWARD cursor may be "one past" its row group: the client's
    *    next-page derivation is `last_offset.row + 1` with no knowledge
    *    of group sizes, so the overflow ROLLS into the following group /
    *    file; one past the global end resolves to [[CursorMiss.PastEnd]]
    *    (→ ReachedEndOfFiles, the iterator's clean termination);
    *  - a BACKWARD cursor may carry u64::MAX sentinels meaning "last
    *    row group of this file" / "last row of this group" (the
    *    iterator's decrement across boundaries) — out-of-range group and
    *    row indexes CLAMP to the last valid position;
    *  - coordinates that fit neither protocol shape (negative, file
    *    beyond the set going backward, forward group beyond the file)
    *    are [[CursorMiss.NotFound]] (→ RecordRowGroupNotFound).
    */
  def resolveClientCursor(file: Long, rowGroup: Long, row: Long,
                          forward: Boolean): Either[CursorMiss, Cursor] = {
    if (totalRows == 0) return Left(CursorMiss.PastEnd)
    if (file < 0 || rowGroup < 0 || row < 0) return Left(CursorMiss.NotFound)
    if (file >= fileRows.length)
      return Left(if (forward) CursorMiss.PastEnd else CursorMiss.NotFound)
    val f = file.toInt
    val nGroups = groupStarts(f).length - 1
    if (forward) {
      if (rowGroup >= nGroups) return Left(CursorMiss.NotFound)
      // any row index >= totalRows is beyond the end no matter the base
      // — and guarding here keeps the sum below from overflowing Long
      // when a (buggy or fuzzing) client sends a u64 sentinel FORWARD
      if (row >= totalRows) return Left(CursorMiss.PastEnd)
      val g = rowGroup.toInt
      val global = fileStarts(f) + groupStarts(f)(g) + row
      if (global >= totalRows) Left(CursorMiss.PastEnd)
      else Right(toCursor(global)) // identity when row is in range
    } else {
      // a zero-row rec file (an empty batch-materialized member) has no
      // group to clamp INTO — without this guard g becomes -1 and the
      // group-size lookup throws instead of answering NotFound
      if (nGroups == 0 || fileRows(f) == 0L) return Left(CursorMiss.NotFound)
      val g = math.min(rowGroup, (nGroups - 1).toLong).toInt
      val rowsInGroup = groupStarts(f)(g + 1) - groupStarts(f)(g)
      Right(Cursor(f, g, math.min(row, rowsInGroup - 1)))
    }
  }

  /** Global row index addressed by a cursor. */
  def toGlobal(c: Cursor): Long =
    fileStarts(c.file) + groupStarts(c.file)(c.rowGroup) + c.row

  /** Cursor for a global row index (row expressed relative to its row
    * group, exactly like the reference's offsets).
    */
  def toCursor(g: Long): Cursor = {
    require(g >= 0 && g < totalRows, s"row $g out of [0, $totalRows)")
    var f = java.util.Arrays.binarySearch(fileStarts.toArray, g)
    if (f < 0) f = -f - 2
    while (f + 1 < fileRows.length && fileStarts(f + 1) <= g) f += 1
    val inFile = g - fileStarts(f)
    val gs = groupStarts(f)
    var rg = 0
    while (rg + 1 < gs.length - 1 && gs(rg + 1) <= inFile) rg += 1
    Cursor(f, rg, inFile - gs(rg))
  }

  /** Fetch up to `limit` rows. Forward: rows [cursor, cursor+limit).
    * Backward: the `limit` rows ENDING AT the cursor inclusive, in forward
    * order; with `allowOverflow`, a backward page clamped at row 0 tops up
    * forward past the cursor. `next` continues the same direction (None at
    * the data boundary).
    */
  def page(cursor: Cursor, limit: Int, forward: Boolean = true,
           allowOverflow: Boolean = false): PageResult = {
    if (limit <= 0 || totalRows == 0)
      return PageResult(Seq.empty, Seq.empty, None)
    val at = toGlobal(cursor)
    val (start, end) =
      if (forward) (at, math.min(at + limit, totalRows))
      else {
        val e0 = math.min(at + 1, totalRows)
        val s = math.max(e0 - limit, 0L)
        val e = if (allowOverflow && e0 - s < limit)
          math.min(s + limit, totalRows) else e0
        (s, e)
      }
    if (start >= end) return PageResult(Seq.empty, Seq.empty, None)
    val rows = Vector.newBuilder[Row]
    val offsets = Vector.newBuilder[Cursor]
    // Walk whole row-group segments: one read per touched group.
    var g = start
    while (g < end) {
      val c = toCursor(g)
      val gs = groupStarts(c.file)
      val segEnd =
        math.min(end, fileStarts(c.file) + gs(c.rowGroup + 1))
      val data = readRowGroup(c.file, c.rowGroup)
      var i = c.row.toInt
      while (g < segEnd) {
        rows += data(i)
        offsets += Cursor(c.file, c.rowGroup, i.toLong)
        i += 1
        g += 1
      }
    }
    val next =
      if (forward) { if (end < totalRows) Some(toCursor(end)) else None }
      else { if (start > 0) Some(toCursor(start - 1)) else None }
    PageResult(rows.result(), offsets.result(), next)
  }

  /** Result schema, from the first file's footer (all rec_N files of a
    * result share it by construction); a zero-file result set pages as
    * an empty zero-field schema rather than failing. The Spark schema
    * the materializer already read from that footer is used as
    * `spark.read` would return it (all fields nullable), so paging
    * starts no Spark job; only a file without it (not written by Spark)
    * pays `spark.read`'s inference job.
    */
  lazy val schema: org.apache.spark.sql.types.StructType =
    if (rs.files.isEmpty) new org.apache.spark.sql.types.StructType()
    else rs.files(0).sparkSchema
      .flatMap(org.apache.spark.sql.graftbridge.FooterSchema.parse)
      .getOrElse(spark.read.parquet(rs.files(0).path).schema)

  // Arrow page encoder (Row→InternalRow serializer + Arrow schema):
  // resolved and compiled ONCE per pager (the schema is fixed), not per
  // page — encoder codegen and schema conversion would otherwise
  // dominate the serving cost of small pages.
  private lazy val arrowEncoder =
    org.apache.spark.sql.graftbridge.ArrowPage.encoder(
      schema, spark.sessionState.conf.sessionLocalTimeZone)

  /** [[page]], encoded as a self-describing Arrow IPC stream (schema +
    * one record batch + EOS) — the reference's page wire format
    * (messages/query.rs:78,137: pages travel as Arrow IPC bytes;
    * messages/message.rs:95-129), so non-JVM clients (PyArrow, arrow-rs)
    * decode pages without JVM Row marshalling. Cursor bookkeeping
    * (`offsets`, `next`) stays in the envelope alongside the bytes.
    */
  def pageArrow(cursor: Cursor, limit: Int, forward: Boolean = true,
                allowOverflow: Boolean = false): ArrowPageResult = {
    val p = page(cursor, limit, forward, allowOverflow)
    // the encoder's Row→InternalRow serializer holds mutable projection
    // state, so concurrent encodes on a server-shared pager serialize
    // here — page assembly above still runs in parallel
    val ipc = arrowEncoder.synchronized(arrowEncoder.encode(p.rows))
    ArrowPageResult(ipc, p.offsets, p.next)
  }
}

object CursorPager {
  /** (file, row_group, row-within-group) — the reference's client cursor
    * (query_data_iterator.rs:22-32).
    */
  final case class Cursor(file: Int, rowGroup: Int, row: Long)

  /** Why a client cursor failed to resolve (see
    * [[CursorPager.resolveClientCursor]]).
    */
  sealed trait CursorMiss
  object CursorMiss {
    /** Forward iteration walked past the last row — the protocol's clean
      * end (GetQueryDataResp::ReachedEndOfFiles).
      */
    case object PastEnd extends CursorMiss
    /** Structurally impossible coordinates
      * (GetQueryDataResp::RecordRowGroupNotFound).
      */
    case object NotFound extends CursorMiss
  }

  final case class PageResult(rows: Seq[Row], offsets: Seq[Cursor],
                              next: Option[Cursor])

  /** An Arrow-encoded page: `ipc` is a complete Arrow IPC stream. */
  final case class ArrowPageResult(ipc: Array[Byte], offsets: Seq[Cursor],
                                   next: Option[Cursor])

  val Start: Cursor = Cursor(0, 0, 0L)
}

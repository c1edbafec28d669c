package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Schema drift across file generations — the reference's own acknowledged
  * TODO (reference: DEV_NOTES.md "Allow for differences in schema"; its
  * `read_files` task binds the first file's Arrow schema and fails on any
  * file that differs, read_files_task.rs:156-291).
  *
  * On a real lake the common drift shapes are a producer ADDING a column
  * and WIDENING a numeric type (int32 id outgrows to int64) across file
  * generations. Spark's two built-in answers both fall short at scale:
  *
  *  - `mergeSchema=true` reads EVERY file footer (O(files) driver work on
  *    a 100 TB directory) and then hard-fails on the widening case —
  *    `CANNOT_MERGE_SCHEMAS` on INT vs BIGINT (StructType.merge has no
  *    numeric lattice).
  *  - A naive per-generation read + unionByName plans one scan per
  *    generation and loses scan-level pushdown across the union.
  *
  * The scale-correct recipe, implemented here:
  *
  *  1. discover ONE schema per generation directory (Spark reads a single
  *     footer per dir under the default mergeSchema=false) — O(gens), not
  *     O(files);
  *  2. [[widenMerge]] them under the numeric widening lattice
  *     int < long < double (plus date < timestamp), union-by-name with
  *     first-seen column order — the merge Spark refuses to do;
  *  3. ONE `spark.read.schema(target).parquet(gen1, gen2, ...)` scan —
  *     Spark 4's vectorized parquet reader widens INT32 cells into BIGINT
  *     vectors natively and fills absent columns with null, so the whole
  *     mixed directory is a single FileSourceScan with normal filter and
  *     column pushdown.
  */
object SchemaDrift {

  final class DriftConflict(msg: String) extends Exception(msg)

  /** Numeric widening lattice. Returns the narrower-to-wider join of two
    * primitive types, or throws [[DriftConflict]] — a string column that
    * becomes an int across generations is producer breakage, not drift,
    * and silently coercing it would corrupt every downstream read.
    *
    * The lattice is pinned to EXACTLY the cell conversions Spark 4.1's
    * vectorized parquet reader can execute when handed a wider read
    * schema (`ParquetVectorUpdaterFactory`: IntegerToLong,
    * IntegerToDouble, FloatToDouble, IntegerToDecimal, LongToDecimal,
    * Binary/FixedLenByteArrayToDecimal for decimal re-scaling, and
    * DateToTimestampNTZ) — every arm below was probe-verified by a
    * write-then-read at that type, and each is covered by a
    * SourcesSpec round-trip test. Arms the reader CANNOT execute are
    * conflicts even when a "mathematical" join exists:
    *
    *  - long + float/double: there is no Long→Double updater, and the
    *    conversion would be lossy above 2⁵³ anyway;
    *  - date + timestamp(LTZ): only a DateToTimestampNTZ updater
    *    exists — an LTZ target would also smuggle a session-timezone
    *    reinterpretation into a scan;
    *  - float/double + decimal: no binary-float→decimal updater.
    *
    * int/short/byte + float joins to DOUBLE (not float): double holds
    * every int32 and every float exactly, so the join is lossless, and
    * Integer→Double / Float→Double are both native updaters.
    *
    * Decimals widen by the SQL rule — precision `max(p₁-s₁, p₂-s₂) +
    * max(s₁, s₂)`, scale `max(s₁, s₂)` — with integral types entering
    * the lattice as their exact decimal envelopes (byte=dec(3,0),
    * short=dec(5,0), int=dec(10,0), long=dec(20,0)). Overflow past
    * precision 38 is a conflict, never a silent truncation.
    */
  private val IntegralRank: Map[DataType, Int] =
    Map(ByteType -> 0, ShortType -> 1, IntegerType -> 2, LongType -> 3)

  private def decimalEnvelope(t: DataType): Option[DecimalType] = t match {
    case d: DecimalType => Some(d)
    case ByteType => Some(DecimalType(3, 0))
    case ShortType => Some(DecimalType(5, 0))
    case IntegerType => Some(DecimalType(10, 0))
    case LongType => Some(DecimalType(20, 0))
    case _ => None
  }

  private[sources] def widen(a: DataType, b: DataType): DataType = {
    def conflict(): Nothing =
      throw new DriftConflict(
        s"cannot widen ${a.simpleString} with ${b.simpleString} — " +
          "not a drift, a producer contract break (or a conversion the " +
          "vectorized parquet reader cannot execute in-scan)")
    (a, b) match {
      case (x, y) if x == y => x
      // integral ladder: byte < short < int < long (parquet physical
      // INT32 for the first three, so every upward read is native)
      case (x, y) if IntegralRank.contains(x) && IntegralRank.contains(y) =>
        if (IntegralRank(x) >= IntegralRank(y)) x else y
      case (FloatType, DoubleType) | (DoubleType, FloatType) => DoubleType
      // int-family + binary-float joins to double, losslessly; long is
      // excluded — no Long→Double updater exists (probe-verified)
      case (ByteType | ShortType | IntegerType, FloatType | DoubleType) =>
        DoubleType
      case (FloatType | DoubleType, ByteType | ShortType | IntegerType) =>
        DoubleType
      // decimal lattice (covers decimal+decimal and integral+decimal)
      case (x, y) if decimalEnvelope(x).isDefined &&
          decimalEnvelope(y).isDefined &&
          (x.isInstanceOf[DecimalType] || y.isInstanceOf[DecimalType]) =>
        val (dx, dy) = (decimalEnvelope(x).get, decimalEnvelope(y).get)
        val scale = math.max(dx.scale, dy.scale)
        val prec =
          math.max(dx.precision - dx.scale, dy.precision - dy.scale) + scale
        if (prec > DecimalType.MAX_PRECISION) conflict()
        DecimalType(prec, scale)
      case (DateType, TimestampNTZType) | (TimestampNTZType, DateType) =>
        TimestampNTZType
      // NESTED drift recurses (probe-verified: the reader fills an added
      // struct field with null and widens element/field types in place):
      // a struct gaining a field across generations is the same drift as
      // a top-level added column, one level down
      case (a: StructType, b: StructType) => widenMerge(Seq(a, b))
      case (ArrayType(ae, an), ArrayType(be, bn)) =>
        ArrayType(widen(ae, be), an || bn)
      case _ => conflict()
    }
  }

  /** Union-by-name merge of per-generation schemas under [[widen]].
    * Column order is first-seen (oldest generation first, new columns
    * appended as they appear) so the target schema is stable as
    * generations accumulate. Every merged field is nullable: a column
    * absent from any one generation reads as null there.
    */
  def widenMerge(schemas: Seq[StructType]): StructType = {
    require(schemas.nonEmpty, "widenMerge of no schemas")
    val order = scala.collection.mutable.LinkedHashMap[String, DataType]()
    for (s <- schemas; f <- s.fields) {
      order.get(f.name) match {
        case None => order(f.name) = f.dataType
        case Some(t) => order(f.name) = widen(t, f.dataType)
      }
    }
    StructType(order.iterator.map { case (n, t) =>
      StructField(n, t, nullable = true)
    }.toSeq)
  }

  /** Steps 1–3 above: discover per-generation schemas, widen-merge, read
    * the whole set as one scan under the merged schema.
    */
  def normalizedRead(spark: SparkSession, genDirs: Seq[String]): DataFrame = {
    val target = widenMerge(genDirs.map(d => spark.read.parquet(d).schema))
    spark.read.schema(target).parquet(genDirs: _*)
  }

  /** One generation dir's discovery product: its full table schema
    * (footer columns + directory-derived partition columns) and which of
    * those columns ARE partition columns.
    */
  private[sources] final case class GenLayout(schema: StructType,
                                              partitionCols: Seq[String])

  /** Discover one generation ONCE: a single `spark.read.parquet(dir)`
    * supplies the full schema (one footer read + one listing, the same
    * work planning the scan needs anyway); the partition columns are the
    * full schema's diff against one leaf file's footer columns (found by
    * an early-terminated recursive listing). Nothing here is O(files)
    * footer reads, and [[normalizedReadGrouped]] reuses this product
    * instead of re-listing per phase.
    */
  private[sources] def discoverGen(spark: SparkSession,
                                   dir: String): GenLayout = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    var leaf: Option[String] = None
    while (leaf.isEmpty && it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) leaf = Some(f.getPath.toString)
    }
    val fileCols = leaf match {
      case Some(l) => spark.read.parquet(l).schema.fieldNames.toSet
      case None => Set.empty[String]
    }
    val full = spark.read.parquet(dir).schema
    GenLayout(full, full.fieldNames.filterNot(fileCols).toSeq)
  }

  /** Partition-LAYOUT drift: generations that moved a column between the
    * directory structure and the file payload (the classic "producer
    * stopped hive-partitioning" migration). Spark refuses to put mixed
    * layouts under one scan (`CONFLICTING_DIRECTORY_STRUCTURES`, probe:
    * its own error text says "load them separately and then union") — and
    * the naive fix, one scan per GENERATION, is O(gens) scans with no
    * cross-scan pushdown.
    *
    * The scale-correct middle: group generations by their partition
    * SIGNATURE (the ordered set of directory-derived columns), plan ONE
    * widened scan per signature group, then union the groups by name
    * with absent columns as typed nulls. Scans = distinct layouts ever
    * used (almost always 2 during a migration), not generations; within
    * a group the single-scan pushdown story of [[normalizedRead]] is
    * intact, and a formerly-partitioned column keeps partition pruning
    * inside its own group's scan.
    */
  def normalizedReadGrouped(spark: SparkSession,
                            genDirs: Seq[String]): DataFrame = {
    // ONE discovery per generation (schema + partition signature from
    // the same listing), reused by both the grouping and the widen-merge
    val discovered = genDirs.map(d => d -> discoverGen(spark, d))
    val bySig: Seq[(Seq[String], Seq[(String, GenLayout)])] =
      discovered.groupBy(_._2.partitionCols).toSeq
        .sortBy(_._1.mkString(","))
    val groupSchemas = bySig.map { case (_, ds) =>
      widenMerge(ds.map(_._2.schema))
    }
    val target = widenMerge(groupSchemas)
    val parts = bySig.zip(groupSchemas).map { case ((_, dls), gs) =>
      val ds = dls.map(_._1)
      val df = spark.read.schema(gs).parquet(ds: _*)
      df.select(target.fields.toIndexedSeq.map { f =>
        if (gs.fieldNames.contains(f.name))
          col(f.name).cast(f.dataType).as(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }: _*)
    }
    parts.reduce(_.unionByName(_))
  }

  /** Registry query (oracle-checked): build a two-generation drifted
    * directory from `orders` — generation 1 (even keys) is the early
    * producer with an INT32 `o_orderkey` and no `o_orderpriority`;
    * generation 2 (odd keys) the evolved one with BIGINT keys and the
    * added column — then normalize the mixed directory back into one
    * DataFrame via [[normalizedRead]]. The DuckDB oracle computes the
    * same union straight from the source table (generation membership is
    * the key's parity, so `o_orderpriority` is NULL exactly on even
    * keys), making the hash match prove the drift normalization is
    * value-exact, not just count-preserving.
    *
    * Scale shape: the writes are plain distributed `df.write`; discovery
    * reads one footer per generation; the read-back is ONE
    * FileSourceScan over both directories (PlanSpec pins scan count and
    * the widened BIGINT read schema).
    */
  def scanSchemaDrift(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.table(spark, dir, "orders")
    val base = RoundTrip.scratch("drift", dir)
    // plain gen1/gen2 subdir names, NOT `gen=1`: a key=value layout would
    // trigger partition-column inference on the read side and smuggle a
    // synthetic column into the drift demonstration
    val g1 = s"$base/gen1"
    val g2 = s"$base/gen2"
    src.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey").cast("int").as("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
      .write.mode("overwrite").parquet(g1)
    src.filter(col("o_orderkey") % 2 =!= 0)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderpriority"))
      .write.mode("overwrite").parquet(g2)
    normalizedRead(spark, Seq(g1, g2))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderpriority"))
  }

  /** Per-column drift classification across generations — the
    * observability face of the normalizer: what a lake operator reads
    * BEFORE running a migration. For every column of the widen-merged
    * target: `stable` (same type everywhere it appears), `widened`
    * (narrow→wide under the lattice, with from/to types), `added`
    * (absent from the first generation), or `conflict` (no lattice arm —
    * the normalizer would refuse). Pure schema metadata: O(gens) footer
    * reads, nothing distributed.
    */
  def driftReport(spark: SparkSession, genDirs: Seq[String]): DataFrame = {
    import spark.implicits._
    val schemas = genDirs.map(d => spark.read.parquet(d).schema)
    val first = schemas.head.fields.map(f => f.name -> f.dataType).toMap
    val order = scala.collection.mutable.LinkedHashMap[String, Seq[DataType]]()
    for (s <- schemas; f <- s.fields)
      order(f.name) = order.getOrElse(f.name, Seq.empty) :+ f.dataType
    val rows = order.iterator.map { case (name, types) =>
      val fromT = first.get(name)
      val target =
        try Right(types.reduce(widen))
        catch { case c: DriftConflict => Left(c.getMessage) }
      (name, fromT, target) match {
        case (n, None, Right(t)) =>
          (n, "added", null: String, t.simpleString)
        // nullability-normalized compare: a nested type differing only
        // in field nullability/containsNull did NOT widen — without the
        // normalization it would report "widened struct<a:int> ->
        // struct<a:int>" (simpleString drops nullability)
        // simpleString is the nullability-insensitive normal form
        // (Spark's sameType is private[spark])
        case (n, Some(f0), Right(t))
            if f0.simpleString == t.simpleString =>
          (n, "stable", f0.simpleString, t.simpleString)
        case (n, Some(f0), Right(t)) =>
          (n, "widened", f0.simpleString, t.simpleString)
        case (n, f0, Left(_)) =>
          (n, "conflict", f0.map(_.simpleString).orNull, null: String)
      }
    }.toSeq
    rows.toDF("col_name", "status", "from_type", "to_type")
  }

  /** Registry query (static oracle): [[driftReport]] over the same
    * two-generation layout `scan_schema_drift` builds — the planted
    * drift makes the expected classification EXACT, so the oracle is a
    * literal VALUES table: the key widened int→bigint, three columns
    * stable, the priority column added by generation 2.
    */
  def driftReportQuery(spark: SparkSession, dir: String): DataFrame = {
    // OWN scratch location (not scan_schema_drift's): registry queries
    // must be construct-then-consume independent — sharing a dir would
    // let one query's construction replace files under the other's
    // already-constructed DataFrame
    val src = Tables.table(spark, dir, "orders")
    val base = RoundTrip.scratch("driftrep", dir)
    val g1 = s"$base/gen1"
    val g2 = s"$base/gen2"
    src.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey").cast("int").as("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
      .write.mode("overwrite").parquet(g1)
    src.filter(col("o_orderkey") % 2 =!= 0)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderpriority"))
      .write.mode("overwrite").parquet(g2)
    driftReport(spark, Seq(g1, g2))
  }

  /** Registry query (oracle-checked): DECIMAL precision/scale drift — the
    * early producer wrote `o_totalprice` as DECIMAL(12,2), the evolved
    * one as DECIMAL(18,4). [[widenMerge]] joins them at DECIMAL(18,4)
    * (`max(p−s) + max(s)` rule) and the whole mixed directory is still
    * ONE FileSourceScan: the vectorized reader re-scales INT64-backed
    * decimal cells into the wider type natively (probe-verified;
    * SourcesSpec pins scan count and the widened schema). The emitted
    * value is cast to DOUBLE so the DuckDB oracle compares plain
    * doubles — exact here, since TPC-H prices are 2-decimal values well
    * inside 2⁵³ — while the in-scan widening is still what produced it.
    */
  def scanDecimalDrift(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.table(spark, dir, "orders")
    val base = RoundTrip.scratch("decdrift", dir)
    val g1 = s"$base/gen1"
    val g2 = s"$base/gen2"
    src.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"),
        col("o_totalprice").cast(DecimalType(12, 2)).as("o_totalprice"))
      .write.mode("overwrite").parquet(g1)
    src.filter(col("o_orderkey") % 2 =!= 0)
      .select(col("o_orderkey"),
        col("o_totalprice").cast(DecimalType(18, 4)).as("o_totalprice"))
      .write.mode("overwrite").parquet(g2)
    normalizedRead(spark, Seq(g1, g2))
      .select(col("o_orderkey"),
        col("o_totalprice").cast("double").as("total_price"))
  }

  /** Registry query (oracle-checked): partition-LAYOUT drift — the early
    * producer hive-partitioned by `o_orderstatus` (the value lives in
    * directory names, not footers), the evolved one writes it as an
    * ordinary data column. Normalized by [[normalizedReadGrouped]]: one
    * scan per layout signature (two here, regardless of how many
    * generations each side accumulates), unioned by name. The oracle
    * recomputes the union straight from `orders`, so the hash match
    * proves a directory-encoded value and a footer-encoded value land
    * identically.
    */
  def scanPartitionDrift(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.table(spark, dir, "orders")
    val base = RoundTrip.scratch("partdrift", dir)
    val g1 = s"$base/gen1"
    val g2 = s"$base/gen2"
    src.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderstatus"))
      .write.mode("overwrite").partitionBy("o_orderstatus").parquet(g1)
    src.filter(col("o_orderkey") % 2 =!= 0)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderstatus"))
      .write.mode("overwrite").parquet(g2)
    normalizedReadGrouped(spark, Seq(g1, g2))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"))
  }
}

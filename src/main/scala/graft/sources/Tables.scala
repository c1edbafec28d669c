package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Table loading for the engine.
  *
  * The reference has no catalog: its only source is the
  * `read_files('<glob>' [, connection=>'name'])` table function that lists a
  * storage backend (fs/S3 via OpenDAL) and streams every matching Parquet
  * file (reference: read_files_task.rs:156-291, logical_planner.rs:385-396).
  * Spark globs natively through the Hadoop filesystem layer, so the whole
  * operator collapses into `spark.read.parquet(glob)`; `connection=>` maps to
  * a filesystem scheme (file://, s3a://) configured on the Hadoop conf.
  *
  * Scale note: `spark.read.parquet` on a directory/glob plans one task per
  * file-split (`spark.sql.files.maxPartitionBytes`), so a 100 TB dataset of
  * many files parallelizes across all executors with no driver-side listing
  * bottleneck beyond the InMemoryFileIndex (which itself parallelizes listing
  * past `spark.sql.sources.parallelPartitionDiscovery.threshold`).
  */
object Tables {

  /** All driver-provided test tables (TESTDATA.md). */
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Read one named table from a scale-factor directory, with its
    * schema from the fingerprint-keyed cache of [[cachedParquet]].
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    cachedParquet(spark, s"$dir/$name.parquet", Map.empty)

  /** The `read_files` analog: read every file matching a glob.
    * Reference semantics: schema is inferred from the files themselves
    * (read_files_task.rs:250-253); pass mergeSchema for drifting schemas.
    * The reference reads Parquet only; this surface additionally detects
    * CSV (with header, like the repo's Sources layer), JSON-lines, and
    * ORC from the glob's extension — parquet otherwise. Parquet schemas
    * come from the fingerprint-keyed cache of [[cachedParquet]].
    *
    * A TIMESTAMP(NANOS) column reads as raw nanosecond longs under the
    * engine's `nanosAsLong` conf (`GraftSession.EngineConfs`); convert
    * with `timestamp_micros(col DIV 1000)` where timestamp semantics are
    * needed (see [[events]]). On a session without that conf Spark's
    * default holds and such a file fails with `PARQUET_TYPE_ILLEGAL`.
    * The caller's confs are read, never written.
    */
  def readFiles(spark: SparkSession, glob: String,
                mergeSchema: Boolean = false): DataFrame = {
    val lower = glob.toLowerCase
    if (lower.endsWith(".csv"))
      // CSV has no mergeSchema concept; header+inference matches Sources
      spark.read.option("header", "true").option("inferSchema", "true")
        .csv(glob)
    else if (lower.endsWith(".json") || lower.endsWith(".jsonl"))
      spark.read.json(glob) // JSON inference unions schemas natively
    else if (lower.endsWith(".orc"))
      spark.read.option("mergeSchema", mergeSchema.toString).orc(glob)
    else cachedParquet(spark, glob,
      Map("mergeSchema" -> mergeSchema.toString))
  }

  /** Session confs that change what Parquet schema inference returns. */
  private val InferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive")

  /** A schema-cache key: the glob, the reader options, the inference
    * confs' values and the (path, length, mtime) of every matched file.
    */
  private final case class SchemaKey(glob: String,
                                     options: Map[String, String],
                                     confs: Seq[Option[String]],
                                     files: Vector[(String, Long, Long)])

  private val SchemaCacheEntries = 256

  private val schemaCache = new java.util.LinkedHashMap[SchemaKey,
      org.apache.spark.sql.types.StructType](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[SchemaKey,
        org.apache.spark.sql.types.StructType]): Boolean =
      size() > SchemaCacheEntries
  }

  /** `spark.read.options(options).parquet(glob)` without the schema
    * inference job when nothing inference depends on has changed.
    *
    * Inference is a 1-task Spark job that opens footers at PLAN time;
    * on the serving path it ran once per `read_files` per statement.
    * The inferred schema is kept in an LRU keyed by [[SchemaKey]], and
    * a hit reads with `spark.read.schema(cached)`. The file part of the
    * key lists every file under each glob match, hidden ones included:
    * a superset of the files Spark reads, so any change to a file Spark
    * reads (added, removed, rewritten) misses and infers again, while a
    * change to a file Spark skips costs one spurious inference. A
    * rewrite that keeps both length and mtime is invisible to the key.
    * A glob with no match goes straight to Spark, which raises its own
    * error.
    */
  private def cachedParquet(spark: SparkSession, glob: String,
                            options: Map[String, String]): DataFrame = {
    val reader = spark.read.options(options)
    matchedFiles(spark, glob) match {
      case None => reader.parquet(glob)
      case Some(files) =>
        val key = SchemaKey(glob, options,
          InferenceConfs.map(spark.conf.getOption), files)
        schemaCache.synchronized(Option(schemaCache.get(key))) match {
          case Some(schema) => reader.schema(schema).parquet(glob)
          case None =>
            val df = reader.parquet(glob)
            schemaCache.synchronized(schemaCache.put(key, df.schema))
            df
        }
    }
  }

  /** (path, length, mtime) of every file under every match of `glob`,
    * sorted; None when the glob matches nothing. Walks with
    * `listStatus`, not `listFiles`: on the local filesystem without
    * native Hadoop, `listFiles` forks a shell per file to read
    * permissions.
    */
  private def matchedFiles(
      spark: SparkSession,
      glob: String): Option[Vector[(String, Long, Long)]] = {
    val pattern = new org.apache.hadoop.fs.Path(glob)
    val fs = pattern.getFileSystem(spark.sessionState.newHadoopConf())
    val matches = Option(fs.globStatus(pattern)).map(_.toVector)
      .getOrElse(Vector.empty)
    val files = Vector.newBuilder[(String, Long, Long)]
    def walk(st: org.apache.hadoop.fs.FileStatus): Unit =
      if (st.isDirectory) fs.listStatus(st.getPath).foreach(walk)
      else files += ((st.getPath.toString, st.getLen, st.getModificationTime))
    matches.foreach(walk)
    if (matches.isEmpty) None else Some(files.result().sorted)
  }

  /** The events table's `ts` physical type has drifted across testdata
    * generations — TIMESTAMP(NANOS) (read as a raw long under the
    * engine's `nanosAsLong` conf, `GraftSession.EngineConfs`; a session
    * without it fails with `PARQUET_TYPE_ILLEGAL`) in some drops, plain
    * TIMESTAMP(MICROS) (surfaced as TIMESTAMP_NTZ under Spark's
    * inferTimestampNTZ default) in others. Normalize every variant to a
    * session-TZ TimestampType so downstream operators see one schema:
    *  - LongType (nanos-as-long): `timestamp_micros(ts DIV 1000)` — `DIV`,
    *    not `/`, because a double mantissa can't hold nanosecond epochs
    *    (~1.7e18 > 2^53).
    *  - TIMESTAMP_NTZ: cast to TimestampType; every graft session pins
    *    `spark.sql.session.timeZone=UTC` (GraftSession) so the cast is
    *    epoch-identity and matches DuckDB's naive read of the same file.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val df = table(spark, dir, "events")
    import org.apache.spark.sql.functions.{col, expr}
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(
          org.apache.spark.sql.types.TimestampType))
      case org.apache.spark.sql.types.TimestampType =>
        df // already a session-TZ timestamp
      case other =>
        // a FOURTH generation (e.g. a future drop surfacing StringType)
        // must fail here, at the source, with the drift named — not
        // flow a mistyped column into every downstream operator
        throw new IllegalStateException(
          s"events.ts drifted to unhandled type $other in $dir — " +
            "extend Tables.events' normalization for the new generation")
    }
  }

  /** Register every test table as a temp view so plain
    * `SELECT ... FROM tablename` SQL works — the reference parses a bare
    * table node (logical_planner.rs:392-395) but errors NotImplemented at
    * execution (builder.rs:67-72); here the session catalog completes it.
    * `events` goes through [[events]] so its TIMESTAMP(NANOS) column
    * surfaces as a real timestamp, not a raw nanosecond long.
    */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach { n =>
      val df = if (n == "events") events(spark, dir) else table(spark, dir, n)
      df.createOrReplaceTempView(n)
    }
}

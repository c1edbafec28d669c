package graft.engine

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's scale-oriented defaults — the one
  * place a session is configured. Every main builds through it (the
  * smoke replica `graft.SmokeCheck` excepted: it reproduces a
  * bare, extension-less session on purpose), so the correctness gate,
  * the bench and the serving path run one configuration.
  *
  * The reference hand-builds its execution substrate (exchanges, heartbeats,
  * compute claiming — exchange_operator.rs, operator_handler_state.rs); on
  * Spark all of that is the scheduler + shuffle service, so the "engine
  * bootstrap" reduces to session configuration chosen for large clusters:
  *
  *  - AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  *    and dynamic broadcast conversion are the difference between a plan that
  *    works at sf0.01 and one that survives 100 TB with skewed keys.
  *  - shuffle.partitions defaults to the local core count here; on a real
  *    cluster you'd size it ~2-3x total cores and let AQE coalesce down.
  *  - UTC session timezone for oracle (DuckDB) parity.
  *  - [[EngineConfs]]: the read semantics the engine's sources rely on.
  *
  * The session is configured here, once; no call into the engine writes
  * a conf of the caller's session afterwards (`SessionSpec` guards it).
  * The one deliberate exception is [[Partitioning.autoTune]], the
  * once-per-corpus deployment call.
  */
object GraftSession {

  /** Local worker threads: `SPARK_GRAFT_CPUS` when set (a deployment
    * setting), else the cores this JVM can actually use.
    */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  /** Session-wide read semantics, applied by [[builder]] (and by the
    * test session) so they hold from the first statement on:
    *
    *  - `spark.sql.legacy.parquet.nanosAsLong`: `read_files` reads
    *    whatever Parquet schema the files carry, as the reference
    *    streams any Arrow schema. Spark's reader rejects
    *    TIMESTAMP(NANOS) columns with `PARQUET_TYPE_ILLEGAL` unless this
    *    conf surfaces them as raw nanosecond longs;
    *    [[graft.sources.Tables.events]] and
    *    [[graft.streaming.EventStreams.readEventStream]] turn those into
    *    timestamps. A session built without this map (the bare session
    *    of `graft.SmokeCheck`) keeps Spark's default and fails on such a
    *    file with `PARQUET_TYPE_ILLEGAL`.
    *  - `spark.sql.legacy.bucketedTableScan.outputOrdering`: a bucketed
    *    scan reports its `sortBy` ordering, so a sort-merge join on the
    *    bucket key skips its per-partition sorts
    *    ([[graft.operators.Bucketing.bucketJoin]]). Spark checks at
    *    planning that each bucket is one file, which is what makes the
    *    ordering sound, and reports no ordering otherwise.
    */
  val EngineConfs: Map[String, String] = Map(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.legacy.bucketedTableScan.outputOrdering" -> "true")

  def builder(appName: String = "graft"): SparkSession.Builder =
    SparkSession.builder()
      .config(EngineConfs)
      .appName(appName)
      .withExtensions(new GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.parquet.filterPushdown", "true")

  /** The factory session, with `overrides` applied on top of the
    * defaults (a main's real deviations, e.g. AQE off for a plan audit).
    */
  def getOrCreate(appName: String = "graft",
                  overrides: Map[String, String] = Map.empty): SparkSession = {
    val s = overrides.foldLeft(builder(appName)) { case (b, (k, v)) =>
      b.config(k, v)
    }.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

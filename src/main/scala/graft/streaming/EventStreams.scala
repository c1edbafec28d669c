package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._
import graft.sources.Tables

/** Streaming surface over the `events` table via Structured Streaming.
  *
  * Nothing in the reference streams (SURVEY.md §1.1 — streaming generators
  * are an unimplemented DEV_NOTES idea); this is north-star scope. The
  * batch `eventsSessionize` is the oracle-checkable twin of the stateful
  * streaming sessionizer, so correctness of the session semantics is gated
  * by DuckDB while the streaming path is exercised in StreamingSpec with a
  * memory sink.
  */
object EventStreams {

  val SessionGapMicros: Long = 1800L * 1000000L // 30 min

  /** Explicit schema for readStream (streaming sources can't infer); `ts`
    * here is the raw nanosecond long variant — [[readEventStream]] swaps in
    * the actual on-disk type (see Tables.events for the drift story; the
    * long variant needs the engine's `nanosAsLong` conf,
    * `GraftSession.EngineConfs`).
    */
  val rawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Streaming source over a DIRECTORY of event parquet files (streaming
    * file sources require a directory, not a file — new files appearing in
    * it become micro-batches), ts normalized to a microsecond timestamp.
    *
    * The physical `ts` type has drifted across testdata generations
    * (TIMESTAMP(NANOS)-as-long vs TIMESTAMP(MICROS)/NTZ — see
    * Tables.events), and streaming sources take a FIXED schema, so resolve
    * the on-disk type once at stream-definition time with a driver-side
    * footer read (metadata only, not a data scan) and normalize after.
    * The probe reads with mergeSchema: a directory MIXING generations
    * fails fast here with the drift named, instead of misreading the
    * other generation's files file-by-file at micro-batch time (a fixed
    * stream schema cannot represent two physical ts types — homogeneity
    * is the streaming contract). A NOT-YET-POPULATED directory — the
    * start-empty-then-append pattern — defines the stream against the
    * normalized TimestampType; if the files that later appear carry a
    * drifted generation, redefine the stream once they exist (the probe
    * then resolves their actual type).
    */
  def readEventStream(spark: SparkSession, eventsDir: String): DataFrame = {
    // Probe-failure classification is by ERROR CONDITION, not message
    // text (a message substring is Spark-version-fragile and can both
    // miss a real merge failure and misfire on an unrelated error):
    // CANNOT_MERGE_SCHEMAS anywhere in the cause chain = generation
    // mixing; UNABLE_TO_INFER_SCHEMA / PATH_NOT_FOUND = the
    // start-empty-then-append pattern (normalized-type fallback).
    // Everything else propagates as-is.
    def conditions(t: Throwable): Set[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).collect {
        case st: org.apache.spark.SparkThrowable
          if st.getCondition != null => st.getCondition
      }.toSet
    val tsType =
      try spark.read.option("mergeSchema", "true").parquet(eventsDir)
        .schema("ts").dataType
      catch {
        case e: Throwable
            if conditions(e).contains("CANNOT_MERGE_SCHEMAS") =>
          throw new IllegalStateException(
            s"events dir $eventsDir mixes ts generations across files " +
              "(nanos-as-long vs micros/NTZ) — a streaming source needs " +
              "one physical ts type; split the directory by generation", e)
        case e: org.apache.spark.sql.AnalysisException
            if (conditions(e) intersect
              Set("UNABLE_TO_INFER_SCHEMA", "PATH_NOT_FOUND")).nonEmpty =>
          TimestampType
      }
    val schema = StructType(rawSchema.map(f =>
      if (f.name == "ts") f.copy(dataType = tsType) else f))
    val raw = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(eventsDir)
    tsType match {
      case LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => raw
      case other => throw new IllegalStateException(
        s"events.ts drifted to unhandled type $other in $eventsDir — " +
          "extend readEventStream's normalization for the new generation")
    }
  }

  /** Watermarked tumbling-window counts — the canonical streaming agg.
    * State is bounded by the watermark horizon; at scale this is a
    * shuffle-by-(window,type) stateful aggregation with RocksDB state.
    */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 4))).cast("double")
          .as("sum_value"))

  /** Streaming exact dedup by event_id. Unbounded state: every id ever
    * seen is remembered — exact, but state grows with the stream.
    */
  def dedupStream(events: DataFrame): DataFrame =
    events.dropDuplicates("event_id")

  /** Watermark-bounded streaming dedup: duplicates arriving within the
    * horizon are dropped and state older than the watermark is evicted —
    * the formulation that stays viable indefinitely at stream scale
    * (replayed data older than the horizon is treated as new).
    */
  def dedupStreamBounded(events: DataFrame): DataFrame =
    events.withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream inner join: purchases attributed to a view by the same
    * user within the preceding hour. Both sides carry watermarks and the
    * join condition bounds buy_ts relative to view_ts, so each side's
    * state is evicted once the other's watermark passes the bound — the
    * requirement for an unbounded stream-stream join to run forever.
    */
  def viewPurchaseJoin(events: DataFrame): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("view_ts"),
        col("event_id").as("view_id"))
      .withWatermark("view_ts", "2 hours")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("b_user"), col("ts").as("buy_ts"),
        col("event_id").as("buy_id"), col("value"))
      .withWatermark("buy_ts", "2 hours")
    views.join(purchases, expr(
      """v_user = b_user AND
         buy_ts >= view_ts AND
         buy_ts <= view_ts + interval 1 hour"""))
  }

  // ------------------------------------------------------- sessionization

  case class Ev(user_id: Long, event_id: Long, tsMicros: Long)
  case class SessionState(sessionId: Long, lastTs: Long, count: Long,
                          startTs: Long)
  case class SessionOut(user_id: Long, session_id: Long, n_events: Long,
                        start_micros: Long, end_micros: Long)

  /** Custom stateful sessionization via flatMapGroupsWithState — the
    * KeyValueGroupedDataset state API the north star calls for. Emits a
    * session row whenever a gap > 30 min closes it; state per user is O(1).
    */
  def sessionizeStream(events: DataFrame): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("tsMicros")).as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(sessionFn)
  }

  private[streaming] def sessionFn(userId: Long, rows: Iterator[Ev],
      state: GroupState[SessionState]): Iterator[SessionOut] = {
    val sorted = rows.toSeq.sortBy(e => (e.tsMicros, e.event_id))
    val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
    var st = state.getOption.getOrElse(SessionState(0L, Long.MinValue, 0L, 0L))
    sorted.foreach { e =>
      if (st.count == 0L) {
        st = SessionState(st.sessionId + 1, e.tsMicros, 1L, e.tsMicros)
      } else if (e.tsMicros - st.lastTs > SessionGapMicros) {
        out += SessionOut(userId, st.sessionId, st.count, st.startTs, st.lastTs)
        st = SessionState(st.sessionId + 1, e.tsMicros, 1L, e.tsMicros)
      } else {
        st = st.copy(lastTs = e.tsMicros, count = st.count + 1)
      }
    }
    state.update(st)
    out.iterator
  }

  /** Batch twin of viewPurchaseJoin (oracle-checked): the same interval
    * join, id-keyed output so timestamp precision differences (ns vs µs)
    * never reach the comparison.
    */
  def eventsAttribution(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("view_ts"),
        col("event_id").as("view_id"))
    val buys = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("b_user"), col("ts").as("buy_ts"),
        col("event_id").as("buy_id"), col("value"))
    views.join(buys, expr(
        """user_id = b_user AND buy_ts >= view_ts AND
           buy_ts <= view_ts + interval 1 hour"""))
      .select(col("user_id"), col("view_id"), col("buy_id"), col("value"))
  }

  /** Stream-static enrichment: the event stream joined against the static
    * customer dimension — the standard dimension-lookup pattern. The
    * static side is re-broadcast per micro-batch (no streaming state at
    * all), so at scale this costs one broadcast of the dim, never a
    * shuffle of the stream.
    */
  def enrichStream(events: DataFrame, customers: DataFrame): DataFrame =
    events.join(
      broadcast(customers.select(col("c_custkey"), col("c_mktsegment"))),
      col("user_id") === col("c_custkey"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("c_mktsegment"), col("value"))

  /** Batch twin of enrichStream (oracle-checked). */
  def eventsEnrich(s: SparkSession, dir: String): DataFrame =
    enrichStream(Tables.events(s, dir), Tables.table(s, dir, "customer"))

  // ------------------------- stream-stream enrichment (two sources)

  /** Enrichment-side watermark delay and the match window: a fact event
    * is enriched by a signup effective at most [[EnrichWindowHours]]
    * hours before it. Shared by the streaming join, the batch twin, and
    * the oracle SQL.
    */
  val EnrichWindowHours = 2

  /** The enrichment record stream's schema (a second SOURCE, not a
    * split of the event stream): per-user effectivity records as a
    * producer would publish them — user key, effective-from timestamp,
    * provenance id, segment payload.
    */
  val enrichSchema: StructType = StructType(Seq(
    StructField("e_user", LongType), StructField("eff_ts", TimestampType),
    StructField("signup_id", LongType), StructField("segment", StringType)))

  /** Derive the deterministic enrichment records from signup events —
    * the generator BOTH the batch twin and the streaming spec's second
    * source directory use, so the two-stream join is oracle-checkable:
    * DuckDB recomputes the same records from the events table.
    */
  def enrichmentRecords(events: DataFrame): DataFrame =
    events.filter(col("event_type") === "signup")
      .select(col("user_id").as("e_user"), col("ts").as("eff_ts"),
        col("event_id").as("signup_id"),
        concat(lit("seg"), (col("user_id") % 4).cast("string"))
          .as("segment"))

  /** File stream over a directory of enrichment parquet (the
    * late-arriving second source; explicit schema as streaming requires).
    */
  def readEnrichmentStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(enrichSchema)
      .option("maxFilesPerTrigger", "1").parquet(dir)

  /** Watermarked TWO-SOURCE stream-stream LEFT OUTER join: view/purchase
    * facts enriched by the signup record effective within the preceding
    * [[EnrichWindowHours]] hours; facts with no such record emit with
    * null enrichment once the watermark proves none can arrive.
    *
    * This is the harder stream-stream state machine than the inner
    * [[viewPurchaseJoin]]: the outer side's null-emission is
    * WATERMARK-DRIVEN (a fact row leaves the state either matched or,
    * when the combined watermark passes `ts`, as a null-match — never
    * both, never dropped). Both sides carry watermarks and the interval
    * condition bounds `ts` relative to `eff_ts`, so each side's state
    * evicts once the other's watermark passes the bound — the
    * run-forever requirement. The enrichment side is watermarked 2x
    * looser: enrichment producers are the typically-late source, and the
    * asymmetry documents that the delays are per-source lateness
    * budgets, not a shared constant.
    *
    * `withWatermark` is a no-op on batch frames, so [[eventsEnrichJoin]]
    * runs this SAME definition in batch for the oracle gate — one body,
    * both execution modes, the Structured Streaming unification the
    * north star asks for.
    */
  def enrichJoinStream(facts: DataFrame, enrich: DataFrame): DataFrame = {
    val f = facts.filter(col("event_type").isin("view", "purchase"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("ts"))
      .withWatermark("ts", s"$EnrichWindowHours hours")
    val e = enrich.withWatermark("eff_ts", s"${2 * EnrichWindowHours} hours")
    f.join(e, expr(
      s"""user_id = e_user AND ts >= eff_ts AND
          ts <= eff_ts + interval $EnrichWindowHours hours"""),
        "left_outer")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("signup_id"), col("segment"))
  }

  /** Batch twin of [[enrichJoinStream]] (oracle-checked): the identical
    * definition over the batch events table, enrichment derived by
    * [[enrichmentRecords]]. Id-keyed output — no timestamps reach the
    * comparison.
    */
  def eventsEnrichJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    enrichJoinStream(ev, enrichmentRecords(ev))
  }

  /** Batch sessionization — identical semantics to the streaming version,
    * expressed with lag/cumulative-sum windows (oracle-checked). One
    * shuffle on user_id; both windows share the same partitioning+ordering
    * so Catalyst plans a single sort.
    */
  def eventsSessionize(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val wOrd = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gap = unix_micros(col("ts")) -
      lag(unix_micros(col("ts")), 1).over(wOrd)
    ev.withColumn("new_sess",
        when(gap.isNull || gap > SessionGapMicros, 1).otherwise(0))
      .withColumn("session_id", sum(col("new_sess")).over(wRun))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_end"))
  }

  /** Weekly cohort retention (oracle-checked): users are cohorted by the
    * Monday-truncated week of their first signup; every later active
    * week counts them at offset (week - cohort_week)/7. The
    * product-analytics retention matrix, all in relational algebra: one
    * user-keyed aggregate for cohorts, a co-partitioned join back to
    * the activity stream (same user_id key — no extra exchange of the
    * big side beyond its week dedup), and a distinct-count on the tiny
    * (cohort, offset) key. Offsets are exact integers because both
    * truncations share the same Monday anchor.
    */
  def eventsRetention(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val cohorts = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id"))
      .agg(date_trunc("week", min(col("ts"))).cast("date")
        .as("cohort_week"))
    val activity = ev.select(col("user_id"),
      date_trunc("week", col("ts")).cast("date").as("week")).distinct()
    activity.join(cohorts, "user_id")
      .filter(col("week") >= col("cohort_week"))
      .select(col("user_id"), col("cohort_week"),
        (datediff(col("week"), col("cohort_week")) / 7).cast("int")
          .as("offset_weeks"))
      .groupBy(col("cohort_week"), col("offset_weeks"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .select(date_format(col("cohort_week"), "yyyy-MM-dd")
        .as("cohort_week"), col("offset_weeks"), col("n_users"))
  }

  /** Ordered funnel per user (oracle-checked): signup -> first view at
    * or after it -> first purchase at or after that; emits the stage
    * reached and each stage's timestamp. Expressed as three stacked
    * full-partition window minimums over ONE user_id shuffle — each
    * stage's condition references the previous stage's column, so no
    * self-joins, and the closing per-user aggregate reuses the window's
    * partitioning (no second exchange). The standard product-analytics
    * funnel, shaped for a corpus where one user's history always fits a
    * partition but the user count is unbounded.
    */
  def eventsFunnel(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val w = Window.partitionBy(col("user_id"))
    ev
      .withColumn("t1", min(when(col("event_type") === "signup",
        col("ts"))).over(w))
      .withColumn("t2", min(when(col("event_type") === "view" &&
        col("ts") >= col("t1"), col("ts"))).over(w))
      .withColumn("t3", min(when(col("event_type") === "purchase" &&
        col("ts") >= col("t2"), col("ts"))).over(w))
      .groupBy(col("user_id"))
      .agg(
        date_format(min(col("t1")), "yyyy-MM-dd HH:mm:ss").as("signup_ts"),
        date_format(min(col("t2")), "yyyy-MM-dd HH:mm:ss").as("view_ts"),
        date_format(min(col("t3")), "yyyy-MM-dd HH:mm:ss")
          .as("purchase_ts"),
        (when(min(col("t1")).isNull, 0).otherwise(1) +
          when(min(col("t2")).isNull, 0).otherwise(1) +
          when(min(col("t3")).isNull, 0).otherwise(1)).as("stage"))
  }

  // ------------------------------------------------ streaming anomaly

  case class AnomalyState(counts: Map[Long, Long], lastScored: Long)
  case class AnomalyOut(event_type: String, hr: Long, cnt: Long,
                        n_base: Long, z: Option[Double], anomaly: Boolean)

  /** Streaming twin of [[eventsAnomaly]]: ONE stateful operator keyed by
    * event_type whose state is the trailing ring of per-hour counts.
    * Hours are scored only once the event-time watermark passes their
    * end (out-of-order events within the horizon update the right
    * bucket; finalization is watermark-driven, not arrival-driven), and
    * an EventTimeTimeout flushes closed hours even when no new data
    * arrives for the key. State is O(baseline horizon) per event type —
    * bounded forever. StreamingSpec proves the emitted scores equal the
    * batch twin's rows bit for bit.
    */
  def anomalyStream(events: DataFrame): Dataset[AnomalyOut] = {
    import events.sparkSession.implicits._
    // the watermarked ts column must survive into the stateful op's
    // input schema for EventTimeTimeout to resolve
    events.withWatermark("ts", "1 hour")
      .select(col("event_type"), expr("unix_timestamp(ts) div 3600")
        .as("hr"), col("ts")).as[(String, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(anomalyFn)
  }

  /** Round half-up at 3 decimals — the same rule Spark's round() applies
    * in the batch twin, so streaming and batch z-scores are identical.
    */
  private def round3(v: Double): Double =
    BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble

  private[streaming] def anomalyFn(key: String,
      rows: Iterator[(String, Long, java.sql.Timestamp)],
      state: GroupState[AnomalyState]): Iterator[AnomalyOut] = {
    val st = state.getOption.getOrElse(AnomalyState(Map.empty, Long.MinValue))
    val counts = scala.collection.mutable.Map(st.counts.toSeq: _*)
    rows.foreach { case (_, h, _) =>
      counts(h) = counts.getOrElse(h, 0L) + 1L
    }
    val wmMs = state.getCurrentWatermarkMs()
    // hour h is closed once (h+1)*3600000 <= watermark
    val finalUpTo = wmMs / 3600000L - 1L
    val out = scala.collection.mutable.ArrayBuffer.empty[AnomalyOut]
    val scorable = counts.keys.filter(h =>
      h > st.lastScored && h <= finalUpTo).toSeq.sorted
    scorable.foreach { h =>
      val c = counts(h)
      val base = ((h - AnomalyBaselineHours) to (h - 1)).flatMap(counts.get)
      val n = base.length
      val z =
        if (n >= AnomalyMinBaseline) {
          val s1 = base.sum
          val s2 = base.map(x => x * x).sum
          val mean = s1.toDouble / n
          val variance =
            (s2.toDouble - s1.toDouble * s1.toDouble / n) / (n - 1.0)
          if (variance > 0.0) Some(round3((c - mean) / math.sqrt(variance)))
          else None
        } else None
      out += AnomalyOut(key, h, c, n.toLong, z,
        z.exists(v => math.abs(v) >= AnomalyZ))
    }
    val lastScored = scorable.lastOption.map(h =>
      math.max(h, st.lastScored)).getOrElse(st.lastScored)
    // evict hours that can never again serve as a baseline entry (guard:
    // the sentinel lastScored would underflow the subtraction)
    val kept =
      if (lastScored == Long.MinValue) counts.toMap
      else counts.filter { case (h, _) =>
        h >= lastScored + 1L - AnomalyBaselineHours
      }.toMap
    state.update(AnomalyState(kept, lastScored))
    // fire again as soon as the watermark moves, so closed hours flush
    // even if this key receives no further events
    state.setTimeoutTimestamp(math.max(wmMs, 0L) + 1L)
    out.iterator
  }

  /** Anomaly-detection warmup (hours of trailing baseline required) and
    * flag threshold (|z| >= 3 — the classic three-sigma rule).
    */
  val AnomalyBaselineHours = 24
  val AnomalyMinBaseline = 12
  val AnomalyZ = 3.0

  /** Rolling z-score anomaly detection on event rates (oracle-checked):
    * per (event_type, hour) counts scored against the TRAILING-24h
    * baseline — the monitoring query every event pipeline runs against
    * its own ingest volumes.
    *
    * Cross-engine float discipline: the baseline moments come from
    * INTEGER window sums (n, sum cnt, sum cnt^2 over a RANGE frame on
    * the epoch-hour key — exact in both engines, any accumulation
    * order); mean/variance/z are then derived with one fixed written
    * formula, so the doubles match bit for bit. RANGE (not ROWS) makes
    * gap hours count as absent rather than silently stretching the
    * baseline window. Variance 0 (constant baseline) and short warmup
    * (< [[AnomalyMinBaseline]] observed hours) yield z = null, never an
    * engine-dependent inf.
    *
    * Scale shape: one shuffle to (event_type, hour) counts — the frame
    * the windows run on is hours-x-types sized, corpus-independent; the
    * raw event stream is never windowed directly.
    */
  def eventsAnomaly(s: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(s, dir)
      .select(col("event_type"),
        expr("unix_timestamp(ts) div 3600").as("hr"))
      .groupBy(col("event_type"), col("hr"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("hr"))
      .rangeBetween(-AnomalyBaselineHours, -1)
    val scored = hourly
      .withColumn("n_base", count(lit(1)).over(w))
      .withColumn("s1", sum(col("cnt")).over(w))
      .withColumn("s2", sum(col("cnt") * col("cnt")).over(w))
      // CaseWhen is lazy, so the guards keep ANSI mode's divide-by-zero
      // off the n_base = 0 (empty baseline) and n_base = 1 rows
      .withColumn("mean", when(col("n_base") >= 1,
        col("s1").cast("double") / col("n_base").cast("double")))
      .withColumn("variance", when(col("n_base") >= 2,
        (col("s2").cast("double") -
          col("s1").cast("double") * col("s1").cast("double") /
            col("n_base").cast("double")) /
          (col("n_base").cast("double") - 1.0)))
      .withColumn("z",
        when(col("n_base") >= AnomalyMinBaseline && col("variance") > 0.0,
          round((col("cnt").cast("double") - col("mean")) /
            sqrt(col("variance")), 3)))
    scored.select(col("event_type"),
      from_unixtime(col("hr") * 3600L, "yyyy-MM-dd HH:00:00")
        .as("hour_start"),
      col("cnt"), coalesce(col("n_base"), lit(0L)).as("n_base"),
      col("z"),
      coalesce(abs(col("z")) >= AnomalyZ, lit(false)).as("anomaly"))
  }

  // --------------------------------------------- streaming heavy users

  /** Misra-Gries capacity for [[heavyUsersStream]] state and top-k for
    * the batch twin's report.
    */
  val HeavyUsersCap = 16
  val HeavyUsersK = 10

  case class HeavyState(counts: Map[Long, Long], n: Long)
  case class HeavyOut(hr: Long, user_id: Long, est: Long, n_events: Long)

  /** Streaming per-hour heavy-user mining on BOUNDED state: one stateful
    * operator keyed by hour whose state is a [[graft.functions.MisraGries]]
    * counter map (capacity [[HeavyUsersCap]]) plus the hour's event
    * total — O(cap) per hour forever, regardless of how many distinct
    * users the hour sees (the rate-limit/abuse-detection shape: exact
    * per-user streaming counts would hold |users| state). When the
    * event-time watermark closes an hour, its MG survivors are emitted
    * once and the state is dropped; an EventTimeTimeout flushes closed
    * hours on data-less batches.
    *
    * What the emission GUARANTEES (order-independent, so the contract
    * holds on any partitioning/replay — StreamingSpec checks it against
    * batch-exact counts): est <= true count; true - est <= n/(cap+1);
    * and every user with true count > n/(cap+1) is among the survivors.
    */
  def heavyUsersStream(events: DataFrame): Dataset[HeavyOut] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", "1 hour")
      .select(expr("unix_timestamp(ts) div 3600").as("hr"),
        col("user_id"), col("ts"))
      .as[(Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(heavyFn)
  }

  private[streaming] def heavyFn(hr: Long,
      rows: Iterator[(Long, Long, java.sql.Timestamp)],
      state: GroupState[HeavyState]): Iterator[HeavyOut] = {
    import graft.functions.MisraGries
    val st = state.getOption.getOrElse(HeavyState(Map.empty, 0L))
    // state stays an immutable Map (encoded in GroupState); the
    // per-trigger hot loop runs on a mutable copy — one O(cap) copy per
    // trigger instead of an allocation per event
    val mcounts = scala.collection.mutable.HashMap.from(st.counts)
    var n = st.n
    rows.foreach { case (_, u, _) =>
      MisraGries.reduceInPlace(mcounts, u, HeavyUsersCap)
      n += 1L
    }
    val counts: Map[Long, Long] = mcounts.toMap
    val wmMs = state.getCurrentWatermarkMs()
    if ((hr + 1L) * 3600000L <= wmMs) {
      // hour closed: emit survivors once, largest-estimate first, and
      // drop the state for good
      state.remove()
      counts.toSeq.sortBy { case (u, c) => (-c, u) }
        .map { case (u, c) => HeavyOut(hr, u, c, n) }.iterator
    } else {
      state.update(HeavyState(counts, n))
      state.setTimeoutTimestamp(math.max(wmMs, 0L) + 1L)
      Iterator.empty
    }
  }

  /** Batch twin (oracle-checked): EXACT per-hour heavy users — hourly
    * (user, count) aggregation reduced to the top-[[HeavyUsersK]] per
    * hour by the [[graft.plans.GroupedTopK]] bounded-heap operator, rank
    * numbered over the <= k survivors. The streaming MG path trades this
    * exactness for O(cap) state; this is the ground truth its guarantee
    * is audited against.
    *
    * Scale shape: one shuffle to (hr, user) counts with map-side
    * partials; GroupedTopK heap-reduces inside partitions so only
    * k * |hours| * partitions rows reach its exchange; the rank window
    * sees <= k rows per hour.
    */
  def eventsHeavyUsers(s: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(s, dir)
      .select(expr("unix_timestamp(ts) div 3600").as("hr"), col("user_id"))
      .groupBy(col("hr"), col("user_id"))
      .agg(count(lit(1)).as("cnt"))
    val top = graft.plans.TopKPlans.groupedTopK(hourly,
      Seq(col("hr")), Seq(col("cnt").desc, col("user_id").asc),
      HeavyUsersK)
    val w = Window.partitionBy(col("hr"))
      .orderBy(col("cnt").desc, col("user_id").asc)
    top.withColumn("rk", row_number().over(w).cast("long"))
      .select(col("hr"), col("rk"), col("user_id"), col("cnt"))
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables.table

/** Parameterization of the skew-window family: which columns play the
  * key / ordering / value roles, and which columns ride through to the
  * output. Nothing in the chunked rewrites' algebra (chunk boundary
  * stats, run-group start ranks, ghost bands, two-pointer sweeps)
  * depends on a concrete table — the r18 operators baked in lineitem's
  * columns only because they grew out of that registry query; this
  * spec is the engine API.
  *
  * Roles and constraints:
  *  - `key`: the PARTITION BY column (the potentially-skewed key).
  *  - `ord`: the full-tuple ordering for the lag / running / ntile
  *    classes. Every output column should appear in it (or be
  *    functionally determined by it) so ordering ties are full
  *    duplicates — the determinism argument each rewrite cites.
  *    `ord.head` doubles as the rank class's COARSE ordering (real
  *    ties expected); being the ordering's first column keeps coarse
  *    runs contiguous across one shared range partitioning.
  *  - `value`: the windowed measure (lag/lead subject, running/range
  *    summand — cast to BIGINT inside the running/range classes so
  *    partial sums re-merge exactly).
  *  - `rangeOrd`: the range class's ordering column; must cast to
  *    BIGINT losslessly (value-range arithmetic is integral).
  *  - `out` / `rangeOut`: passthrough output columns; the computed
  *    columns are named `prev_<valueAlias>` / `next_<valueAlias>` /
  *    `rn` (lag), `rnk` / `drank` / `bucket` (rank),
  *    `running_<valueAlias>` / `rn` (running), `rng_sum` / `rng_n`
  *    (range).
  */
final case class WindowSpec(
    key: String,
    ord: Seq[String],
    value: String,
    rangeOrd: String,
    out: Seq[String],
    rangeOut: Seq[String],
    valueAlias: String = "qty",
    descending: Boolean = false) {
  require(ord.nonEmpty, "window spec needs at least one ordering column")
  def prevName: String = s"prev_$valueAlias"
  def nextName: String = s"next_$valueAlias"
  def runningName: String = s"running_$valueAlias"
  /** Columns the row-frame classes must carry through the chunking. */
  def keep: Seq[String] = ((key +: ord) ++ out :+ value).distinct
  /** Window-order sort expressions for the row-frame classes. An
    * all-DESC (nulls-last) ordering is the exact REVERSE of the
    * all-ASC nulls-first total order, so the lag/running rewrites flip
    * mechanically: range-partition and window-sort on these; their edge
    * values are picked by local row number, which needs no flip. The rank and
    * range classes refuse descending specs (their boundary algebra is
    * written against the ascending sweep).
    */
  def ordSorted: Seq[Column] =
    if (descending) ord.map(c => col(c).desc) else ord.map(col)
}

object WindowSpec {
  /** The lineitem shape the registry window queries run on (the r18
    * operators' baked-in columns, now just one spec value).
    */
  val Lineitem: WindowSpec = WindowSpec(
    key = "l_suppkey",
    ord = Seq("l_shipdate", "l_orderkey", "l_linenumber", "l_partkey",
      "l_quantity", "l_extendedprice"),
    value = "l_quantity",
    rangeOrd = "l_orderkey",
    out = Seq("l_suppkey", "l_orderkey", "l_linenumber", "l_shipdate",
      "l_quantity"),
    rangeOut = Seq("l_suppkey", "l_orderkey", "l_linenumber",
      "l_quantity"))

  /** The events shape (user_id-keyed, time-ordered): the second table
    * the dispatcher and chunked rewrites are spec-pinned on.
    * `ord.head` = event_type gives the rank class real coarse ties
    * (many events share a type per user); event_id makes the full
    * tuple unique, so ordering ties are impossible rather than merely
    * harmless.
    */
  val Events: WindowSpec = WindowSpec(
    key = "user_id",
    ord = Seq("event_type", "ts", "event_id", "value"),
    value = "value",
    rangeOrd = "event_id",
    out = Seq("user_id", "event_id", "ts", "event_type", "value"),
    rangeOut = Seq("user_id", "event_id", "event_type", "value"),
    valueAlias = "val")
}

/** Skew-handling operators (SURVEY.md §7.3 step 7). AQE's skew-join
  * splitting handles most cases at runtime; these are the explicit
  * formulations for when the plan must be skew-proof by construction —
  * e.g., one hot key holding 10% of 100 TB. Both produce results
  * IDENTICAL to their naive counterparts, so both carry full DuckDB
  * oracles written against the plain formulation.
  */
object Skew {

  val Salts = 8

  /** Salted inner join: the (potentially skewed) big side gets a random
    * salt in [0, Salts); the small side is replicated once per salt value;
    * the join key becomes (key, salt), splitting each hot key's rows
    * across Salts reducers. Salt values don't affect the result, only the
    * partitioning.
    */
  def saltedJoin(big: DataFrame, small: DataFrame, bigKey: String,
                 smallKey: String): DataFrame = {
    val salted = big.withColumn("_salt",
      floor(rand(42) * Salts).cast("int"))
    val replicated = small.withColumn("_salt",
      explode(lit((0 until Salts).toArray)))
    salted.join(replicated,
      salted(bigKey) === replicated(smallKey) &&
        salted("_salt") === replicated("_salt"))
      .drop("_salt")
  }

  /** lineitem ⋈ supplier with salting (oracle: the plain join). */
  def joinSalted(s: SparkSession, dir: String): DataFrame =
    saltedJoin(table(s, dir, "lineitem"), table(s, dir, "supplier"),
      "l_suppkey", "s_suppkey")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"),
        col("s_name"), col("l_quantity"))

  /** Two-phase (salted) aggregation: partial aggregate on (key, salt) —
    * splitting any hot key across reducers — then final merge on key.
    * Decimal sums re-merge exactly, so the result is bit-identical to the
    * single-phase plan (oracle: plain GROUP BY).
    */
  def aggTwoPhase(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "lineitem")
      .withColumn("_salt", floor(rand(7) * Salts).cast("int"))
      .groupBy(col("l_returnflag"), col("_salt"))
      .agg(sum(col("l_quantity")).as("pq"),
        sum(col("l_extendedprice").cast(
          org.apache.spark.sql.types.DecimalType(18, 2))).as("pp"),
        count(lit(1)).as("pn"))
      .groupBy(col("l_returnflag"))
      .agg(sum(col("pq")).as("sum_qty"),
        sum(col("pp")).cast("double").as("sum_price"),
        sum(col("pn")).as("n"))

  /** Key-skew diagnostics (oracle-checked): the profile you run BEFORE
    * choosing a join strategy at 100 TB — per candidate join key, the
    * distinct-key count, the heaviest key and its share of all rows,
    * and count percentiles. A top-share near 1/parallelism or above
    * means the plain shuffle join stalls on one reducer and
    * [[saltedJoin]]/AQE skew splitting is warranted; the reference has
    * no planner statistics at all (SURVEY §4.2).
    *
    * Shape: per-key counts (map-side combine, key cardinality grows
    * with data) then a percentile aggregate per key COLUMN — output is
    * one row per profiled column. min_by/arg-min tie-break on the key
    * value keeps the heaviest-key column deterministic.
    */
  val SkewKeyCols: Seq[String] = Seq("l_suppkey", "l_partkey", "l_orderkey")

  /** Hot-key share above which a per-key ordered window over that key
    * should run as the chunked rewrite ([[windowLagSkew]]) instead of
    * the plain window: one key holding >= 1/P of the rows pins a full
    * reducer, taken at a reference parallelism P = 100. FIXED rather
    * than runtime-derived so [[skewDiagnose]]'s recommendation column
    * is deterministic and oracle-checkable; at a different cluster
    * width the operator reads top_share directly and applies its own
    * 1/P.
    */
  val WindowSkewShare = 0.01

  def skewDiagnose(s: SparkSession, dir: String): DataFrame =
    skewDiagnoseOn(table(s, dir, "lineitem"), SkewKeyCols)

  /** [[skewDiagnose]]'s engine API: profile any table's candidate key
    * columns (integral-castable — join keys are) in ONE scan. The
    * registry query is this on (lineitem, [[SkewKeyCols]]).
    */
  def skewDiagnoseOn(df: DataFrame, keyCols: Seq[String]): DataFrame = {
    // ONE scan of the fact table profiles every key column: each row
    // explodes to (key_col, key) pairs, so the per-key counts for all
    // columns ride a single shuffle (a per-column loop would re-read
    // the 100 TB fact table once per key). The lexicographic struct max
    // is the arg-max on count with the LOWEST key as the deterministic
    // tie-break (keys are non-negative, so -k orders them reversed).
    val keyed = df.select(explode(array(keyCols.map(c =>
        struct(lit(c).as("key_col"), col(c).cast("long").as("k"))): _*))
      .as("e"))
      .select(col("e.key_col").as("key_col"), col("e.k").as("k"))
    keyed.groupBy(col("key_col"), col("k"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("key_col"))
      .agg(count(lit(1)).as("n_keys"),
        sum(col("c")).as("n_rows"),
        max(struct(col("c").as("c"), (-col("k")).as("nk"))).as("m"),
        round(expr("percentile(c, 0.5)"), 4).as("p50_cnt"),
        round(expr("percentile(c, 0.99)"), 4).as("p99_cnt"))
      .select(col("key_col"), col("n_keys"), col("n_rows"),
        col("m.c").as("max_cnt"), (-col("m.nk")).as("top_key"),
        round(col("m.c").cast("double") / col("n_rows").cast("double"),
          6).as("top_share"),
        col("p50_cnt"), col("p99_cnt"))
      // machine-readable verdict: the diagnose -> choose pair for the
      // window family (plain window vs the chunked windowLagSkew
      // rewrite), compared on the ROUNDED share so Spark and the
      // oracle branch on the identical value
      .withColumn("window_plan",
        when(col("top_share") >= lit(WindowSkewShare),
          lit("window_lag_skew")).otherwise(lit("plain_window")))
  }

  // ------------------------- deterministic range-chunk assignment

  /** Rows collected by the one chunk-bounds sampling pass, and the cap
    * on how many chunks the expression-based assignment serves. Beyond
    * [[ChunkExprMax]] chunks the binary-search when-tree's codegen
    * size would grow past what one generated method family should
    * hold; 512 chunks already bounds a task's slice of a hot key at
    * ~0.2% of the key, so the cap costs nothing real while keeping the
    * per-row cost at log2(chunks) tuple comparisons. At every test SF
    * the chunk count equals the core count (32), far under the cap.
    */
  val ChunkExprMax = 512
  val ChunkSampleMax = 1 << 16

  /** One lexicographic field comparison of the chunk-bound tuple
    * order: key ascending, ordering columns per the spec's uniform
    * direction, ASC = nulls-first / DESC = nulls-last (Spark's sort
    * defaults — DESC nulls-last is the exact reverse of ASC
    * nulls-first, the same reversal [[WindowSpec.ordSorted]] leans
    * on). `desc` flips the comparison; a null bound value sorts first
    * under ASC (any non-null row is after it) and last under DESC
    * (nothing is after it).
    */
  private def boundFieldGt(c: Column, v: Any, desc: Boolean): Column =
    if (!desc) {
      if (v == null) c.isNotNull else coalesce(c > lit(v), lit(false))
    } else {
      if (v == null) lit(false) else c.isNull || c < lit(v)
    }

  private def boundFieldEq(c: Column, v: Any): Column =
    if (v == null) c.isNull else c <=> lit(v)

  /** Strict "row tuple sorts after bound `b`" under the spec's order —
    * the standard lexicographic fold, null-safe per field.
    */
  private def boundTupleGt(fields: Seq[(String, Boolean)], b: Row): Column =
    fields.zipWithIndex.foldRight(lit(false)) {
      case (((f, desc), i), tail) =>
        boundFieldGt(col(f), b.get(i), desc) ||
          (boundFieldEq(col(f), b.get(i)) && tail)
    }

  /** Balanced binary-search tree over the sorted bounds: the produced
    * expression evaluates log2(chunks) tuple comparisons per row
    * (CaseWhen short-circuits), total expression size O(chunks x
    * fields). Returns the chunk id in [lo, hi].
    */
  private def boundSearchTree(fields: Seq[(String, Boolean)],
      bounds: IndexedSeq[Row], lo: Int, hi: Int): Column =
    if (lo >= hi) lit(lo)
    else {
      val mid = (lo + hi) / 2
      when(boundTupleGt(fields, bounds(mid)),
        boundSearchTree(fields, bounds, mid + 1, hi))
        .otherwise(boundSearchTree(fields, bounds, lo, mid))
    }

  /** Driver-side total order matching [[boundTupleGt]] exactly: used to
    * sort the collected sample and pick the stride bounds. External
    * row values of one column share a runtime type, so the Comparable
    * cast is total here. Strings are compared via [[UTF8String]]
    * (UTF-8 byte order) rather than `String.compareTo` (UTF-16
    * code-unit order): the executor-side binary search compares with
    * Catalyst semantics, and the two orders diverge for supplementary
    * characters vs BMP chars >= U+E000. Contiguity is NOT at stake —
    * each tree node's `row > bound` outcome is monotone in the row
    * under the executor order, so the fixed decision tree yields
    * monotone chunk ranges for ANY bound multiset (SkewAndExtSpec pins
    * this on divergent strings) — but a Java-ordered bound set makes
    * whole character families collapse into one chunk, re-creating
    * exactly the skew the chunking exists to split; Spark's own
    * repartitionByRange samples under the Catalyst ordering for the
    * same reason.
    */
  private[graft] def boundRowOrdering(
      dirs: IndexedSeq[Boolean]): Ordering[Row] = new Ordering[Row] {
    import org.apache.spark.unsafe.types.UTF8String
    def compare(x: Row, y: Row): Int = {
      var i = 0
      while (i < dirs.length) {
        val a = x.get(i); val b = y.get(i)
        val c =
          if (a == null && b == null) 0
          else if (a == null) -1
          else if (b == null) 1
          else (a, b) match {
            case (sa: String, sb: String) =>
              UTF8String.fromString(sa).compareTo(UTF8String.fromString(sb))
            case _ => a.asInstanceOf[Comparable[Any]].compareTo(b)
          }
        val d = if (dirs(i)) -c else c
        if (d != 0) return d
        i += 1
      }
      0
    }
  }

  /** The chunk bounds under the `fields` order ((column, descending)
    * pairs): ONE bottom-k job (seeded per-row rank,
    * per-partition top-k heap + driver merge — a uniform row sample),
    * sorted on the driver, bounds picked at stride. Bound quality
    * affects BALANCE only — any monotone bound set yields correct
    * results (ties always land in one chunk; downstream determinism
    * never depends on WHICH rows were sampled, since pid is a pure
    * function of the one bound set collected here), which is why a
    * cheap sketch is enough and the rank needs no content hash (an
    * md5-over-the-sort-tuple rank was measured at ~1.5 s single-task
    * on the bench's one-split scans — pure overhead).
    */
  private[graft] def chunkBounds(df: DataFrame,
      fields: Seq[(String, Boolean)], chunks: Int): IndexedSeq[Row] = {
    if (chunks <= 1) return IndexedSeq.empty
    val n = math.min(chunks * 64, ChunkSampleMax)
    val rows = df
      .select(fields.map(f => col(f._1)) :+ rand(ProfileSeed).as("_cbr"): _*)
      .orderBy(col("_cbr")).limit(n)
      .drop("_cbr")
      .collect()
    if (rows.isEmpty) return IndexedSeq.empty
    val sorted = rows.sorted(boundRowOrdering(fields.map(_._2).toIndexedSeq))
    (1 until chunks).map { i =>
      sorted(math.min(sorted.length - 1, i * sorted.length / chunks))
    }.toIndexedSeq
  }

  /** One chunk bound set over `df` under the `fields` order: the chunk
    * count (the cluster width, capped at [[ChunkExprMax]]) and the
    * search mapping a column tuple in that order to its chunk id. Every
    * search a caller stamps comes from this one bound set, so each is a
    * pure function of the row's values.
    */
  private def chunkSearch(s: SparkSession, df: DataFrame,
      fields: Seq[(String, Boolean)]): (Int, Seq[String] => Column) = {
    val chunks = math.min(s.sparkContext.defaultParallelism, ChunkExprMax)
    val bounds = chunkBounds(df, fields, chunks)
    (chunks, cols => boundSearchTree(cols.zip(fields.map(_._2)), bounds, 0,
      bounds.length).cast("int"))
  }

  /** Deterministic chunk assignment for the row-frame chunked window
    * classes: project the spec's columns and stamp `pid` — the row's
    * range chunk under the (key, ordering...) order — computed by a
    * codegen'd binary search against driver-collected bounds
    * ([[chunkSearch]]). pid is a pure function of the row's values, so
    * every consumer of the frame sees the same assignment, and a hot
    * key splits across a contiguous pid range.
    *
    * `cluster`: when true (the lag/running/rank classes), ONE explicit
    * hash exchange on (pid, key) is planted so that both consumers —
    * the local windows AND the per-(chunk, key) stats aggregate —
    * satisfy their clustering from the SAME materialized exchange
    * (guide §2.4: two operations keyed the same way share one
    * exchange); without it each consumer's first stage (window map
    * side, stats partial aggregate) runs at the SCAN's parallelism,
    * which on an under-split table is one task. Exchange reuse is an
    * optimization here, never a correctness dependence — pid is
    * deterministic, so a defeated reuse recomputes the identical
    * assignment. The firstlast class passes false: its OUTPUT path is
    * a bare broadcast join onto the rows (no clustering requirement at
    * all), so planting the exchange would add a corpus shuffle its
    * plan does not need.
    */
  private[graft] def rangeChunked(s: SparkSession, df: DataFrame,
      spec: WindowSpec, cluster: Boolean = true): DataFrame = {
    val projected = df.select(spec.keep.map(col): _*)
    val fields = (spec.key, false) +: spec.ord.map(o => (o, spec.descending))
    val (_, pidOf) = chunkSearch(s, projected, fields)
    val stamped = projected.withColumn("pid", pidOf(fields.map(_._1)))
    if (cluster) stamped.repartition(col("pid"), col(spec.key))
    else stamped
  }

  /** Broadcast-join the chunked classes' per-(chunk, key) `stats` back
    * onto their `rows` on `cols`, NULL-SAFELY: a null key is a window
    * partition of its own, and a USING equi-join would drop its rows
    * (or, left-joined, strip its stats). The join columns appear once.
    */
  private def joinStats(rows: DataFrame, stats: DataFrame,
      cols: Seq[String], how: String = "inner"): DataFrame = {
    val side = stats.select(stats.columns.toSeq.map(c =>
      if (cols.contains(c)) col(c).as(s"_js_$c") else col(c)): _*)
    rows.join(broadcast(side),
      cols.map(c => col(c) <=> col(s"_js_$c")).reduce(_ && _), how)
      .drop(cols.map(c => s"_js_$c"): _*)
  }

  /** The chunk plan of the lag, running, rank and first/last classes:
    * the range-chunked rows ([[rangeChunked]]), the windows over them,
    * and the join that brings per-(chunk, key) stats back. A class adds
    * its local window columns to `ranged`, aggregates its stats per
    * (pid, key), and projects its fix-up columns through [[output]].
    */
  private final class ChunkPlan(s: SparkSession, df: DataFrame,
      spec: WindowSpec, cluster: Boolean = true) {
    val ranged: DataFrame = rangeChunked(s, df, spec, cluster)
    /** One key's rows inside one chunk; `local` in window order. */
    val group = Window.partitionBy(col("pid"), col(spec.key))
    val local = group.orderBy(spec.ordSorted: _*)
    /** One key's chunks in range order; `before` frames the earlier ones. */
    val byChunk = Window.partitionBy(col(spec.key)).orderBy(col("pid"))
    val before = byChunk.rowsBetween(Window.unboundedPreceding, -1)
    /** Over a stats frame: the key's row count (`cnt`) in earlier chunks,
      * which turns a local row number into the global one.
      */
    val offset: Column = coalesce(sum(col("cnt")).over(before), lit(0L))
    /** `stats` joined back onto `rows`, projected to the spec's
      * passthrough columns and `cols`.
      */
    def output(rows: DataFrame, stats: DataFrame, cols: Column*): DataFrame =
      joinStats(rows, stats, Seq("pid", spec.key))
        .select(spec.out.map(col) ++ cols: _*)
  }

  /** The values `v` of the rows where `pick` holds, as an array sorted
    * on `at`. Each value rides a struct through collect_list, which
    * would silently drop a bare null.
    */
  private def orderedValues(at: Column, v: Column,
      pick: Column = lit(true)): Column =
    transform(array_sort(collect_list(when(pick,
      struct(at.as("i"), v.as("v"))))), _.getField("v"))

  /** Skew-resilient lag/lead/row_number at offset k — the chunked
    * two-pass rewrite of the per-key ordered window, for when ONE key
    * owns a material share of the fact table (the measured zipf worst
    * case: the plain `window_lag_lead` ran 42.7x at the x100 hot-key
    * corpus because a single user's window partition cannot split;
    * SCALING.md). Result IDENTICAL to the plain window (the oracle is
    * the literal LAG/LEAD/ROW_NUMBER SQL — the same proof device as
    * saltedJoin / aggTwoPhase), but no task ever holds more than ~1/P
    * of any key:
    *
    *  1. range-partition by (key, ordering...) into P chunks — a hot
    *     key spans several CONTIGUOUS chunks instead of one partition;
    *  2. window over (chunk, key): local row_number + local lag/lead —
    *     the exchange is keyed on (pid, key), so the hot key's rows
    *     split across its chunks;
    *  3. one tiny per-(chunk, key) stats aggregate: the row count
    *     (cumulative counts give each chunk's global row-number offset)
    *     and the first k and last k values IN WINDOW ORDER
    *     (`head_vals`/`tail_vals`, picked by local row number, so the
    *     device is sort-direction-agnostic) — stats rows number
    *     #keys + O(P) (only boundary-spanning keys repeat), broadcast
    *     back. At extreme key cardinality swap the broadcast for a
    *     plain shuffle join on (pid, key) — itself skew-free, the key
    *     is composite.
    *
    * Boundary algebra: a k-offset neighbour can live SEVERAL chunks
    * away (a chunk may hold fewer than k of the key's rows), so the
    * edge arrays are stitched along the key's chunk sequence:
    *  - `prev_ctx` = the last k of the CONCATENATION of all earlier
    *    chunks' tails (any value not in its own chunk's tail has ≥ k
    *    successors in that chunk alone, so the concatenation always
    *    contains the true trailing k — the bound that keeps stats
    *    rows at ≤ 2k values regardless of the hot key's size);
    *    `next_ctx` mirrors with the following chunks' heads;
    *  - a local row at position p takes lag k locally when p > k,
    *    else `prev_ctx[|ctx| − (k − p)]` (1-based; null when the key
    *    has fewer than k predecessors — the window's own null), and
    *    symmetrically for lead via `next_ctx[p + k − cnt]`;
    *  - global row_number = local + `offset`.
    * Ties across a chunk boundary are inert: the ordering includes
    * every projected column, so tied rows are full duplicates and any
    * tie split yields the same output multiset (the windowLagLead
    * determinism argument, unchanged).
    */
  def windowLagSkew(s: SparkSession, dir: String): DataFrame =
    windowLagSkewOn(s, table(s, dir, "lineitem"))

  private[graft] def windowLagSkewOn(s: SparkSession, df: DataFrame,
      spec: WindowSpec = WindowSpec.Lineitem, k: Int = 1): DataFrame = {
    require(k >= 1, s"lag/lead offset must be positive, got $k")
    val plan = new ChunkPlan(s, df, spec)
    val local = plan.ranged
      .withColumn("lrn", row_number().over(plan.local).cast("long"))
      .withColumn("prev0", lag(col(spec.value), k).over(plan.local))
      .withColumn("next0", lead(col(spec.value), k).over(plan.local))
      .withColumn("cntl", count(lit(1)).over(plan.group))
    val isHead = col("lrn") <= k
    val isTail = col("lrn") > col("cntl") - k
    val edged = local.filter(isHead || isTail)
      .groupBy(col("pid"), col(spec.key))
      .agg(max(col("cntl")).as("cnt"),
        orderedValues(col("lrn"), col(spec.value), isHead).as("head_vals"),
        orderedValues(col("lrn"), col(spec.value), isTail).as("tail_vals"))
    val after = plan.byChunk.rowsBetween(1, Window.unboundedFollowing)
    val prevFlat = flatten(collect_list(col("tail_vals")).over(plan.before))
    val nextFlat = flatten(collect_list(col("head_vals")).over(after))
    val stats = edged
      .withColumn("offset", plan.offset)
      .withColumn("prev_ctx",
        when(size(prevFlat) <= k, prevFlat)
          .otherwise(slice(prevFlat, -k, k)))
      .withColumn("next_ctx", slice(nextFlat, 1, k))
      .select(col("pid"), col(spec.key), col("cnt"), col("offset"),
        col("prev_ctx"), col("next_ctx"))
    plan.output(local, stats,
      when(col("lrn") > k, col("prev0")).otherwise(
        when(size(col("prev_ctx")) - (lit(k) - col("lrn")) >= 1,
          element_at(col("prev_ctx"),
            (size(col("prev_ctx")) - (lit(k) - col("lrn"))).cast("int")))
          .otherwise(lit(null))).as(spec.prevName),
      when(col("lrn") <= col("cnt") - k, col("next0")).otherwise(
        when(size(col("next_ctx")) >= col("lrn") + k - col("cnt"),
          element_at(col("next_ctx"),
            (col("lrn") + k - col("cnt")).cast("int")))
          .otherwise(lit(null))).as(spec.nextName),
      (col("lrn") + col("offset")).as("rn"))
  }

  /** Skew-resilient FIRST/LAST/NTH value over the whole-partition
    * frame — the remaining common window shape without a hot-key
    * path: `first_value/last_value/nth_value(v, n) OVER (PARTITION BY
    * key ORDER BY ord ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED
    * FOLLOWING)` makes one task hold the entire hot key under the
    * plain window. The outputs are PER-KEY CONSTANTS, so the chunked
    * form needs no per-row boundary algebra at all: each (chunk, key)
    * contributes its first n values in window order and its last
    * value (extracted by local row number — direction-agnostic, so
    * `spec.descending` composes for free; values ride structs through
    * collect_list so nulls survive), one per-key reduction picks the
    * first chunk's head, the last chunk's tail, and the n-th element
    * of the concatenated heads (any value outside its chunk's head
    * has ≥ n predecessors in that chunk alone, so the concatenation
    * provably contains the leading n), and the ≤ #keys-row stats
    * frame broadcasts back onto the rows. Tie safety needs only the
    * VALUE subject to ride the ordering (the constants are functions
    * of the ordered value sequence; passthrough rows are emitted
    * unchanged either way). Oracle = the literal
    * FIRST_VALUE/LAST_VALUE/NTH_VALUE SQL with the explicit
    * whole-partition frame (default-frame last_value is the current
    * row — the classic footgun the plain twin also pins).
    */
  private[graft] def windowFirstLastSkewOn(s: SparkSession, df: DataFrame,
      spec: WindowSpec, n: Int = 2,
      ignoreNulls: Boolean = false): DataFrame = {
    require(n >= 1, s"nth_value position must be positive, got $n")
    // cluster = false: the output path below is a bare broadcast join
    // onto the rows — with pid an expression, it needs NO exchange at
    // all, and only the (small, filtered) edge path pays one
    val plan = new ChunkPlan(s, df, spec, cluster = false)
    // IGNORE NULLS = the same constants over the value's NON-NULL
    // subsequence: drop value-null rows before the edge extraction and
    // everything downstream is unchanged (the final join stays on the
    // unfiltered rows; a key whose values are ALL null simply misses
    // the stats frame and the left join gives it the window's nulls)
    val edgeBase =
      if (ignoreNulls) plan.ranged.filter(col(spec.value).isNotNull)
      else plan.ranged
    val local = edgeBase
      .withColumn("lrn", row_number().over(plan.local).cast("long"))
      .withColumn("cntl", count(lit(1)).over(plan.group))
    val isHead = col("lrn") <= n
    val edged = local
      .filter(isHead || col("lrn") === col("cntl"))
      .groupBy(col("pid"), col(spec.key))
      .agg(orderedValues(col("lrn"), col(spec.value), isHead).as("head_vals"),
        max_by(col(spec.value), col("lrn")).as("tail_val"))
    val stats = edged.groupBy(col(spec.key))
      .agg(
        min_by(col("head_vals"), col("pid")).as("h0"),
        max_by(col("tail_val"), col("pid")).as("last_v"),
        orderedValues(col("pid"), col("head_vals")).as("hs"))
      // get() is 0-based and null-on-out-of-bounds (ANSI-safe where
      // element_at would throw): a key with fewer than n rows yields
      // the window's own null
      .select(col(spec.key),
        get(col("h0"), lit(0)).as("first_v"),
        col("last_v"),
        get(flatten(col("hs")), lit(n - 1)).as("nth_v"))
    joinStats(plan.ranged, stats, Seq(spec.key), "left")
      .select(spec.out.map(col) ++ Seq(
        col("first_v").as(s"first_${spec.valueAlias}"),
        col("last_v").as(s"last_${spec.valueAlias}"),
        col("nth_v").as(s"nth_${spec.valueAlias}")): _*)
  }

  private[graft] def windowFirstLastPlain(df: DataFrame,
      spec: WindowSpec, n: Int = 2,
      ignoreNulls: Boolean = false): DataFrame = {
    val w = Window.partitionBy(col(spec.key))
      .orderBy(spec.ordSorted: _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    df.select(spec.out.map(col) ++ Seq(
      first(col(spec.value), ignoreNulls).over(w)
        .as(s"first_${spec.valueAlias}"),
      last(col(spec.value), ignoreNulls).over(w)
        .as(s"last_${spec.valueAlias}"),
      nth_value(col(spec.value), n, ignoreNulls).over(w)
        .as(s"nth_${spec.valueAlias}")): _*)
  }

  /** The orders shape the registry firstlast queries run on. */
  val OrdersFirstLast: WindowSpec = WindowSpec(
    key = "o_custkey",
    ord = Seq("o_orderkey"),
    value = "o_orderkey",
    rangeOrd = "o_orderkey",
    out = Seq("o_orderkey", "o_custkey"),
    rangeOut = Seq("o_orderkey", "o_custkey"),
    valueAlias = "key")

  def windowFirstLastSkew(s: SparkSession, dir: String): DataFrame =
    windowFirstLastSkewOn(s, table(s, dir, "orders"), OrdersFirstLast)

  /** The IGNORE NULLS variant over a derived nullable value (the base
    * tables carry no nulls, so the query PLANTS them: every seventh
    * orderkey's value is null) — the oracle is the literal
    * `IGNORE NULLS` window SQL over the same derivation. Value is a
    * deterministic function of the (unique) ordering key, so the
    * constants are tie-invariant by construction.
    */
  def windowFirstLastNulls(s: SparkSession, dir: String): DataFrame = {
    val o = table(s, dir, "orders").withColumn("val",
      when(col("o_orderkey") % 7 === 0, lit(null))
        .otherwise(col("o_orderkey")))
    windowFirstLastSkewOn(s, o,
      OrdersFirstLast.copy(value = "val", valueAlias = "val"),
      n = 2, ignoreNulls = true)
  }

  /** Skew-resilient RUNNING aggregate (cumulative sum + row count) —
    * completing the skew-window family: lag/lead/row_number
    * ([[windowLagSkew]]), rank/dense_rank/ntile ([[windowRankSkew]]),
    * and now the running-frame class. The easiest boundary algebra of
    * the three: a chunk's cumulative value = its local cumulative +
    * the SUM of earlier chunks' totals (no tie or distinct-count
    * subtleties — addition is order-free once the summand is exact,
    * which the BIGINT cast guarantees; an integral running sum is
    * associativity-proof where a double fold would not be). Oracle =
    * the literal SUM/COUNT OVER (ROWS UNBOUNDED PRECEDING) SQL.
    * Ordering ties are full duplicates (the windowLagLead argument),
    * so any tie split yields the same output multiset.
    */
  def windowRunningSkew(s: SparkSession, dir: String): DataFrame =
    windowRunningSkewOn(s, table(s, dir, "lineitem"))

  private[graft] def windowRunningSkewOn(s: SparkSession, df: DataFrame,
      spec: WindowSpec = WindowSpec.Lineitem): DataFrame = {
    val plan = new ChunkPlan(s, df, spec)
    val frame = plan.local
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = plan.ranged
      .withColumn("lsum", sum(col(spec.value).cast("long")).over(frame))
      .withColumn("lrn", count(lit(1)).over(frame))
    // Stats aggregate the RAW ranged frame, so column pruning narrows
    // this branch to its own (pid, key, value) scan + shuffle. Reading
    // them off the local window's last row would share the join side's
    // exchange but add a second full-width sort of the corpus: a plain
    // hash aggregate gains nothing from that exchange (measured slower
    // at sf0.1, REPS=5 med 2.03 -> 2.18/2.42 s).
    val stats = plan.ranged.groupBy(col("pid"), col(spec.key))
      .agg(sum(col(spec.value).cast("long")).as("csum"),
        count(lit(1)).as("cnt"))
      // null when every earlier summand is null: SUM's own null
      .withColumn("sum_offset", sum(col("csum")).over(plan.before))
      .withColumn("offset", plan.offset)
      .select(col("pid"), col(spec.key), col("sum_offset"),
        col("offset"))
    plan.output(local, stats,
      coalesce(col("lsum") + col("sum_offset"), col("lsum"),
        col("sum_offset")).as(spec.runningName),
      (col("lrn") + col("offset")).as("rn"))
  }

  /** Value width of [[windowRangeSkew]]'s trailing frame (orderkeys are
    * dense, so ~1000 keys of history per row).
    */
  val RangeSkewW = 1000L

  /** Skew-resilient RANGE frame (trailing value-window sum/count) — the
    * last window class without a hot-key path. A value-range frame
    * cannot be offset-corrected like the row-frame rewrites: a row near
    * a chunk's start needs the actual PREDECESSOR ROWS within `w` of
    * its ordering value. So the rewrite ships GHOST ROWS instead of
    * stats: each row replicates into every LATER chunk whose frames
    * can see it — under the deterministic value-pure chunk assignment
    * that is exactly the contiguous pid range (pid,
    * pidOf(key, ordval + w)], computed per row by the same binary
    * search that assigns pid (tie peers always share a chunk). Ghost volume
    * per boundary is bounded by the rows inside one `w`-wide value
    * band — independent of the hot key's total size, which is the
    * whole point. Ghosts contribute to local frames and are dropped
    * before output; outputs are tie-invariant (a frame is a value
    * set). Oracle = the literal RANGE BETWEEN SQL; BIGINT summand for
    * cross-engine associativity.
    */
  def windowRangeSkew(s: SparkSession, dir: String,
                      w: Long = RangeSkewW): DataFrame =
    windowRangeSkewOn(s, table(s, dir, "lineitem"), w)

  private[graft] def windowRangeSkewOn(s: SparkSession, df: DataFrame,
                                       w: Long = RangeSkewW,
                                       spec: WindowSpec =
                                         WindowSpec.Lineitem): DataFrame = {
    require(!spec.descending,
      "the range-class sweep is written against the ascending value " +
        "order; rewrite the frame bounds instead of flipping the sort")
    // normalized role columns (_k/_ov/_v — BIGINT key + ordering +
    // summand) so the sweep below is spec-independent: passthrough
    // columns keep their original types and ride by position
    val keep = (spec.rangeOut :+ spec.key :+ spec.rangeOrd :+ spec.value)
      .distinct
    val projected = df
      .select(keep.map(col): _*)
      .withColumn("_k", col(spec.key).cast("long"))
      .withColumn("_ov", col(spec.rangeOrd).cast("long"))
      .withColumn("_v", col(spec.value).cast("long"))
    // pid and a row's last ghost chunk _hi come from one bound set, so
    // every frame row arrives: for a target row x in chunk t with u in
    // [x-w, x], monotonicity gives t = pidOf(k, x) <= pidOf(k, u + w) =
    // the ghost's hi. A ghost may reach a chunk whose rows all lie above
    // u + w; the sweep admits by VALUE, so it joins no frame there.
    val (chunks, pidOf) =
      chunkSearch(s, projected, Seq(("_k", false), ("_ov", false)))
    val stamped = projected
      .withColumn("pid", pidOf(Seq("_k", "_ov")))
      // the frame's far edge, saturated: within w of Long.MaxValue a
      // wrapped add would search a negative value and ship no ghosts
      .withColumn("_ovw", when(col("_ov") > lit(Long.MaxValue - w),
        lit(Long.MaxValue)).otherwise(col("_ov") + w))
      .withColumn("_hi", pidOf(Seq("_k", "_ovw")))
    val real = stamped
      .select(keep.map(col) ++ Seq(col("_k"), col("_ov"), col("_v"),
        col("pid"), lit(false).as("ghost")): _*)
    val ghosts = stamped.filter(col("_hi") > col("pid"))
      .select(keep.map(col) ++ Seq(col("_k"), col("_ov"), col("_v"),
        explode(sequence(col("pid") + 1, col("_hi"))).as("pid"),
        lit(true).as("ghost")): _*)
    rangeFrameSweep(real.unionByName(ghosts), w, chunks, spec)
  }

  /** Evaluate the trailing RANGE frame (sum + count of rows whose
    * ordering value lies in [v−w, v], peers included) over the
    * chunk-assigned `all` frame with ONE forward sweep per (chunk, key)
    * group instead of Spark's per-row frame re-evaluation — the r17
    * profile's residual hotspot: a sliding range frame holding ~f rows
    * costs O(f) per row under the window operator (~60× redundant
    * arithmetic at the zipf ×100 corpus), where the sweep pays O(1)
    * amortized per row. Mechanics: rows arrive sorted by (pid, key,
    * ordval) — the same exchange+sort the window operator needed, so
    * the plan's shuffle shape is unchanged — and a two-pointer pass
    * groups rows by ordering value (peers share one frame by the RANGE
    * definition), maintains a deque of in-window value groups with a
    * running (sum, count), evicts groups older than v−w at each new
    * value, and emits every non-ghost row of the group with the
    * current totals. Memory per task is one value group + the deque —
    * bounded by the w-wide value band, never the chunk. Integer
    * summand (the BIGINT cast) keeps the running add/subtract exact,
    * so eviction-by-subtraction is associativity-proof; the oracle is
    * the literal RANGE BETWEEN SQL, unchanged.
    */
  private def rangeSweepSchema(in: org.apache.spark.sql.types.StructType,
      spec: WindowSpec): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(spec.rangeOut.map(c => in(in.fieldIndex(c))) ++ Seq(
      StructField("rng_sum", LongType),
      StructField("rng_n", LongType)))
  }

  private def rangeFrameSweep(all: DataFrame, w: Long, chunks: Int,
      spec: WindowSpec): DataFrame = {
    // hash on (pid, KEY), not pid alone: the sweep's state is per
    // (pid, key) group, so the finer key spreads evenly where 32 pid
    // values hashed into 32 partitions would collide (~1/e of the
    // partitions empty, the hottest holding 3-4 chunks)
    val sorted = all.repartition(chunks, col("pid"), col("_k"))
      .sortWithinPartitions(col("pid"), col("_k"), col("_ov"))
    val in = sorted.schema
    val iKey = in.fieldIndex("_k")
    val iOrd = in.fieldIndex("_ov")
    val iVal = in.fieldIndex("_v")
    val iPid = in.fieldIndex("pid")
    val iGhost = in.fieldIndex("ghost")
    val outIdx = spec.rangeOut.map(in.fieldIndex)
    sorted.mapPartitions { rows =>
      new Iterator[Row] {
        private val out = scala.collection.mutable.Queue.empty[Row]
        private var cur: Row = if (rows.hasNext) rows.next() else null
        private var curPid = Int.MinValue
        // boxed, so a null key is a group of its own (== is null-safe)
        private var curKey: Any = null
        // in-window value groups: (ordval, groupSum, groupCnt,
        // groupNonNull) — a frame whose summands are all null sums to
        // null, as SUM does
        private val win =
          new java.util.ArrayDeque[(Long, Long, Long, Long)]()
        private var wSum = 0L
        private var wCnt = 0L
        private var wNonNull = 0L
        def hasNext: Boolean = {
          while (out.isEmpty && cur != null) advanceValueGroup()
          out.nonEmpty
        }
        def next(): Row = {
          if (!hasNext) throw new NoSuchElementException("empty sweep")
          out.dequeue()
        }
        private def advanceValueGroup(): Unit = {
          val pid = cur.getInt(iPid)
          val key = cur.get(iKey)
          if (pid != curPid || key != curKey) {
            win.clear(); wSum = 0L; wCnt = 0L; wNonNull = 0L
            curPid = pid; curKey = key
          }
          // a null ordering value is a value group of its own: its
          // RANGE frame is exactly the key's null-ordered rows, so it
          // takes its own totals and never enters the deque (nulls
          // sort first and share one pid per key, so none are ghosts)
          val nullOrd = cur.isNullAt(iOrd)
          val v = if (nullOrd) 0L else cur.getLong(iOrd)
          // drain the whole value group first: RANGE frames include
          // PEERS, so every row of the group shares one total
          val grp = scala.collection.mutable.ArrayBuffer.empty[Row]
          var gSum = 0L
          var gCnt = 0L
          var gNonNull = 0L
          while (cur != null && cur.getInt(iPid) == pid &&
              cur.get(iKey) == key && cur.isNullAt(iOrd) == nullOrd &&
              (nullOrd || cur.getLong(iOrd) == v)) {
            grp += cur
            if (!cur.isNullAt(iVal)) {
              gSum += cur.getLong(iVal); gNonNull += 1L
            }
            gCnt += 1L
            cur = if (rows.hasNext) rows.next() else null
          }
          if (!nullOrd) {
            // the frame's near edge, saturated: within w of
            // Long.MinValue a wrapped v - w would evict every group
            val lo = if (v < Long.MinValue + w) Long.MinValue else v - w
            while (!win.isEmpty && win.peekFirst()._1 < lo) {
              val h = win.pollFirst()
              wSum -= h._2; wCnt -= h._3; wNonNull -= h._4
            }
            win.addLast((v, gSum, gCnt, gNonNull))
            wSum += gSum; wCnt += gCnt; wNonNull += gNonNull
          }
          val (fSum, fCnt, fNonNull) =
            if (nullOrd) (gSum, gCnt, gNonNull) else (wSum, wCnt, wNonNull)
          val total = if (fNonNull == 0L) null else fSum
          grp.foreach { r =>
            if (!r.getBoolean(iGhost))
              out.enqueue(Row.fromSeq(
                outIdx.map(r.get) ++ Seq(total, fCnt)))
          }
        }
      }
    }(org.apache.spark.sql.Encoders.row(rangeSweepSchema(in, spec)))
  }

  /** Skew-resilient rank / dense_rank / ntile — closing what the
    * [[windowLagSkew]] round documented as "genuinely chunk-hostile":
    * the global distinct-prefix counts those functions need DO
    * chunk, with boundary algebra one level richer than lag/lead's.
    * Result IDENTICAL to the plain window (the oracle is the literal
    * RANK/DENSE_RANK/NTILE SQL); no task ever holds more than ~1/P of
    * any key.
    *
    * rank/dense_rank run on the COARSE `ord.head` ordering — real
    * ties (lineitem: hundreds of rows per (supplier, shipdate)), every
    * chunk boundary splits a tie run, so the boundary machinery is
    * load-bearing, not decorative. Both outputs are tie-invariant
    * (every tied row gets the same value), hence deterministic under
    * any tie split. ntile runs on the FULL tuple ordering (ties are
    * full duplicates — the windowLagLead determinism argument),
    * because its value depends on the row number. The coarse ordering
    * is a PREFIX of the full ordering, so ONE range partitioning
    * serves both: coarse values stay contiguous across the same
    * chunks.
    *
    * Boundary algebra, per (chunk c, key), chunks in range order:
    *  - global rn = local rn + cumulative row count of earlier chunks
    *    (lag/lead's offset device) → ntile is then pure arithmetic on
    *    (rn, per-key total): q = total div n, r = total mod n, the
    *    first r buckets take q+1 rows (Spark's and DuckDB's shared
    *    NTILE definition).
    *  - global dense_rank = local dense_rank + Σ_{c'<c} d(c') −
    *    Σ_{c'≤c} overlap(c'), where d = the chunk's distinct
    *    coarse-value count and overlap(c) = 1 when first(c) ==
    *    last(c−1) — each boundary-straddling value is counted once per
    *    chunk it touches and the sum subtracts the re-counts.
    *  - global rank: a row that does not continue the boundary run is
    *    offset + local rank. A row IN the boundary run (its coarse
    *    value == first(c) == last(c−1)) takes the run's global START
    *    rank, which may lie several chunks back when whole chunks are
    *    one value. The run-group device finds it without recursion: a
    *    chunk STARTS its last value's run unless it is single-valued
    *    AND continues its predecessor (startsRun = !(single && cont));
    *    cumulative-summing startsRun groups consecutive chunks sharing
    *    one run, and first_value(offset + cnt − last_cnt + 1) over the
    *    (key, group) window is the run's start rank, read by the next
    *    chunk via lag.
    * All stats rows number #keys × P (tiny), broadcast back.
    */
  def windowRankSkew(s: SparkSession, dir: String,
                     nTiles: Int = 4): DataFrame =
    windowRankSkewOn(s, table(s, dir, "lineitem"), nTiles)

  private[graft] def windowRankSkewOn(s: SparkSession, df: DataFrame,
      nTiles: Int = 4,
      spec: WindowSpec = WindowSpec.Lineitem,
      extended: Boolean = false): DataFrame = {
    require(!spec.descending,
      "the rank-class boundary algebra (run groups, first/last coarse " +
        "values) is written against the ascending order")
    val coarse = spec.ord.head
    val plan = new ChunkPlan(s, df, spec)
    val wDate = plan.group.orderBy(col(coarse))
    val local = plan.ranged
      .withColumn("lrn", row_number().over(plan.local).cast("long"))
      .withColumn("lrk", rank().over(wDate).cast("long"))
      .withColumn("ldr", dense_rank().over(wDate).cast("long"))
    val wk = plan.byChunk
    val through = wk.rowsBetween(Window.unboundedPreceding, 0)
    // max(lrk) IS the last coarse value's local run-start rank (rank of
    // the chunk's maximal value = cnt − last_cnt + 1), so the stats
    // ride the local frame and need no nested aggregate.
    // cnt = max(lrn), NOT count(*): the two are equal, but count(*)
    // lets column pruning drop the local window from this branch, which
    // then no longer reuses the join side's exchange — the corpus is
    // scanned, pid-stamped and shuffled twice (measured: two ~0.6-1.0 s
    // map stages per rep at sf0.1).
    // A null coarse value is a peer group of its own and sorts FIRST
    // (ASC NULLS FIRST), while min/max/countDistinct skip nulls: a
    // chunk holding one has a null first value and one more distinct
    // value, and every boundary compare below is null-safe (<=>).
    // last_dt needs no guard: max is null only on an all-null chunk.
    val hasNull = count(lit(1)) > count(col(coarse))
    val statsBase = local.groupBy(col("pid"), col(spec.key))
      .agg(max(col("lrn")).as("cnt"),
        (countDistinct(col(coarse)) + when(hasNull, 1L).otherwise(0L))
          .as("d"),
        when(!hasNull, min(col(coarse))).as("first_dt"),
        max(col(coarse)).as("last_dt"),
        max(col("lrk")).as("last_rk"),
        // local end position of the chunk's FIRST coarse value (its
        // rows are exactly the lrk = 1 rows, contiguous from position
        // 1) — the extended class's boundary-run end device; unused
        // (and so pruned) in the base class
        max(when(col("lrk") === 1L, col("lrn"))).as("cnt_first"))
    val stats0 = statsBase
      .withColumn("offset", plan.offset)
      .withColumn("total", sum(col("cnt")).over(
        Window.partitionBy(col(spec.key))))
      // a predecessor chunk exists and ends on this chunk's first value
      .withColumn("cont", lag(col("pid"), 1).over(wk).isNotNull &&
        (col("first_dt") <=> lag(col("last_dt"), 1).over(wk)))
      .withColumn("overlap",
        when(col("cont"), lit(1L)).otherwise(lit(0L)))
      // dense-rank adjustment: d's before MINUS overlaps through self
      .withColumn("adj_d",
        coalesce(sum(col("d")).over(plan.before), lit(0L)) -
          sum(col("overlap")).over(through))
      // run-group device for the boundary run's global start rank
      .withColumn("starts_run",
        when(col("first_dt") <=> col("last_dt") && col("cont"), lit(0L))
          .otherwise(lit(1L)))
      .withColumn("grp", sum(col("starts_run")).over(through))
    val wg = Window.partitionBy(col(spec.key), col("grp"))
      .orderBy(col("pid"))
    val statsRun = stats0
      .withColumn("last_run_start",
        first(col("offset") + col("last_rk")).over(wg))
      .withColumn("prev_run_start",
        lag(col("last_run_start"), 1).over(wk))
      .withColumn("prev_last_dt", lag(col("last_dt"), 1).over(wk))
    val baseCols = Seq(col("pid"), col(spec.key), col("offset"),
      col("total"), col("adj_d"), col("prev_run_start"),
      col("prev_last_dt"))
    // extended: the chunk's-last-value global END position, via the
    // run-group device run FORWARD. The chain of chunks sharing one
    // boundary value is [c .. c''] = c's run group (c'' the last
    // single-valued continuation), possibly ending INSIDE c''+1 when
    // that chunk's first value continues it (c''+1 is then
    // multi-valued — a single continuing chunk would be in the group).
    // So: end_if_last(c) = offset(c''+1) + cnt_first(c''+1) when the
    // next chunk continues, else offset(c) + cnt(c) (the boundary
    // value IS the chunk's last rows), and the group's true end is
    // end_if_last at the group's LAST chunk — last() over the (key,
    // grp) window's forward frame.
    val stats =
      if (!extended) statsRun.select(baseCols: _*)
      else statsRun
        .withColumn("nxt_cont",
          coalesce(lead(col("cont"), 1).over(wk), lit(false)))
        .withColumn("nxt_first_end",
          lead(col("offset") + col("cnt_first"), 1).over(wk))
        .withColumn("end_if_last",
          when(col("nxt_cont"), col("nxt_first_end"))
            .otherwise(col("offset") + col("cnt")))
        .withColumn("last_val_end", last(col("end_if_last")).over(
          wg.rowsBetween(Window.currentRow, Window.unboundedFollowing)))
        .select(baseCols ++ Seq(col("last_dt"), col("last_val_end")): _*)
    // prev_run_start is null exactly on a key's first chunk, where a
    // null coarse value would otherwise match the missing prev_last_dt
    val rnk = when(col("prev_run_start").isNotNull &&
        (col(coarse) <=> col("prev_last_dt")),
      col("prev_run_start")).otherwise(col("offset") + col("lrk"))
    // extended: percent_rank and cume_dist from the same machinery.
    // percent_rank = (rank − 1) / (total − 1) needs only the boundary
    // rank and the per-key total the stats already carry (0.0 on a
    // single-row key, both engines' convention). cume_dist = the peer
    // group's LAST global position / total: the position is the local
    // peer end (`lpe`, max(lrn) over (pid, key, coarse) — the (pid, key)
    // clustering and the full-tuple sort already serve it, so it adds
    // no exchange and no sort) offset-corrected when the group ends
    // inside this chunk (coarse < last_dt — contiguous chunk ranges put
    // every later peer in a later chunk), and the stats-side
    // boundary-run end otherwise. Both divisions are exact integer
    // numerators over the same total — identical doubles in both
    // engines, no rounding needed.
    if (extended) plan.output(
      local.withColumn("lpe", max(col("lrn")).over(
        Window.partitionBy(col("pid"), col(spec.key), col(coarse)))),
      stats,
      rnk.as("rnk"),
      when(col("total") === 1L, lit(0.0))
        .otherwise((rnk - 1).cast("double") /
          (col("total") - 1).cast("double")).as("prank"),
      (when(col(coarse) <=> col("last_dt"), col("last_val_end"))
        .otherwise(col("offset") + col("lpe")).cast("double") /
        col("total").cast("double")).as("cdist"))
    else plan.output(local, stats,
      rnk.as("rnk"),
      (col("ldr") + col("adj_d")).as("drank"),
      // Spark/DuckDB NTILE: total mod n buckets of size q+1 first,
      // the rest size q (q = total div n); the div-by-zero branch
      // when q = 0 is unreachable (the first branch then covers
      // every rn ≤ total) and CaseWhen short-circuits
      expr(s"""CASE
        WHEN lrn + offset <= ((total div $nTiles) + 1) * (total % $nTiles)
        THEN (lrn + offset - 1) div ((total div $nTiles) + 1) + 1
        ELSE (total % $nTiles) +
          (lrn + offset - 1 - ((total div $nTiles) + 1) * (total % $nTiles))
            div (total div $nTiles) + 1
        END""").as("bucket"))
  }

  // -------------------------------------------------- auto dispatch

  /** (heaviest key's row count, total rows) of `key` in `df` — the
    * profile step of the diagnose→choose pair [[skewDiagnose]]
    * documents, as a single driver-read aggregate (map-side combined;
    * one job, cost ~ one scan of `df`'s key column). (0, 0) on an
    * empty frame.
    */
  def topKeyStats(df: DataFrame, key: String): (Long, Long) = {
    val r = df.groupBy(col(key)).agg(count(lit(1)).as("c"))
      .agg(max(col("c")).as("mx"), sum(col("c")).as("n")).first()
    if (r.isNullAt(1) || r.getLong(1) == 0L) (0L, 0L)
    else (r.getLong(0), r.getLong(1))
  }

  /** Fixed sample fraction of the scale-honest profile (one in fifty
    * rows feed the per-key counts), and the floor below which the
    * sample is too small to trust and the EXACT scan runs instead —
    * tiny inputs are exactly where the exact scan is free.
    */
  val ProfileSampleFraction = 0.02
  val ProfileSampleFloor = 200000L
  private val ProfileSeed = 1042L

  /** Bytes-per-row divisor of the plan-stats row estimate below. */
  private val MinRowBytes = 32L

  /** Sampled [[topKeyStats]], counts scaled back up by 1/fraction so
    * the hot count is corpus-scale — the scale-honest profile step: at
    * 100 TB the exact per-key count is an entire extra job before
    * every auto-dispatched window, while a `fraction` Bernoulli sample
    * feeds ~1/50 of the rows through the same two aggregates (the scan
    * still reads the pruned key column; the CPU + shuffle shrink by
    * the fraction).
    *
    * Error bound: the hot key's sampled count is Binomial(c, f), so
    * the estimated share p̂ has stderr ≤ sqrt(p(1−p)/n) for n sampled
    * rows. At the [[ProfileSampleFloor]] (n ≥ 200k) and the dispatch
    * threshold t = [[WindowSkewShare]] = 0.01, the 3σ band is
    * ±3·sqrt(.01·.99/200000) ≈ ±0.00067 — the dispatch can flip only
    * for true shares inside [t−0.0007, t+0.0007], a regime where the
    * plain and chunked plans are within noise of each other (the
    * threshold itself is a 1/P heuristic, not a cliff). Below the
    * floor the estimate falls back to the exact scan, so small frames
    * (where sampling is noisy AND the scan is cheap) always dispatch
    * exactly — and identically across runs, the property the dispatch
    * spec pins.
    *
    * Plan-stats shortcut: when the optimizer's size estimate says the
    * frame cannot clear the sample floor, go straight to the exact
    * scan — ONE job instead of a doomed sample + fallback pair (the
    * r19 ledger measured the pair at ~+0.3 s on every gate-SF
    * window_auto query, where the sample always lands under the
    * floor). The estimate divides sizeInBytes by a deliberately SMALL
    * row width: wide rows then over-estimate rows and still sample
    * (the runtime fallback keeps the estimate honest); a narrow
    * heavily-compressed frame may under-estimate and run exact on a
    * somewhat-larger input — also one job, just unsampled.
    */
  def topKeyStatsSampled(df: DataFrame, key: String,
                         fraction: Double = ProfileSampleFraction,
                         floor: Long = ProfileSampleFloor): (Long, Long) = {
    val approxRows =
      df.queryExecution.optimizedPlan.stats.sizeInBytes / MinRowBytes
    if (approxRows < BigInt(math.ceil(floor / fraction).toLong))
      return topKeyStats(df, key)
    val r = df.sample(fraction, ProfileSeed)
      .groupBy(col(key)).agg(count(lit(1)).as("c"))
      .agg(max(col("c")).as("mx"), sum(col("c")).as("n")).first()
    val n = if (r.isNullAt(1)) 0L else r.getLong(1)
    if (n < floor) topKeyStats(df, key)
    else ((r.getLong(0) / fraction).toLong, (n / fraction).toLong)
  }

  /** Absolute hot-key row floor for the chunked dispatch — the SECOND
    * dispatch signal, measured into existence (SCALING.md r19): on the
    * zipf ×100 EVENTS corpus the hot user holds 15.4% of 10M rows
    * (share 15× the threshold) yet the chunked rewrite does NOT beat
    * the plain window (auto 10.7–15.7 s vs plain 10.1–10.8 s) — a
    * 1.5M-row hot partition sorts in single-digit seconds on one
    * task, so the chunk machinery's constant cost (checkpoint, stats
    * window, boundary join) cancels the split's win. The lineitem
    * ×100 hot key (11.5M rows) wins 6–7×. Share says "one reducer
    * owns a constant fraction"; only share × corpus — the ABSOLUTE
    * hot size against per-task capacity — says whether that reducer
    * is actually the bottleneck.
    *
    * Calibration honesty (the ×10 probe, LineWinProf): hot partitions
    * between ~1M and ~2M rows are a GRAY BAND where the branches sit
    * within ~1.7× of each other and the SIGN flips with job shape —
    * zipf ×10 lineitem (1.16M hot rows, straggler-bound) would have
    * won 1.5–1.7× chunked, while events ×100 (1.54M hot rows,
    * throughput-bound) loses chunked. Every cheap per-row signal was
    * tested against the two endpoints and REFUTED (SCALING.md r20):
    * raw rows (1.54M vs 1.16M), compressed bytes (24 vs 20 MB), and
    * decoded bytes (70.1 vs 55.5 MB — the
    * carried widths are near-identical, 45.6 vs 48.0 B) all order
    * them the WRONG way; what separates them is the hot task's share
    * of the WHOLE job (19% of the ×10 corpus vs 15% of a corpus with
    * 6× more parallel work) — job shape, not data geometry. The floor
    * therefore stays row-based, at the band's top: inside the band
    * any misprediction costs ≤ ~1.7×, while OUTSIDE it the decisions
    * are the ones that matter (≤ ~1M: plain wins ~2×; ≥ ~10M: chunked
    * wins 6–40×) and the floor gets every measured point right.
    * A deployment whose windows are wide/straggler-bound passes a
    * lower `minHotRows` (toward 1M) to [[windowAutoOn]]; the specs pin
    * dispatch mechanics with it at 0.
    */
  val MinHotRows = 2000000L

  /** The dispatch decision [[windowAutoOn]] acts on: chunked iff the
    * profiled share clears `threshold` AND the hot key's absolute row
    * count clears `minHotRows` (default [[MinHotRows]]). Both signals
    * come from one [[topKeyStatsSampled]] job over the frame being
    * dispatched (the exact [[topKeyStats]] scan below the sample
    * floor): the plan
    * shape is decided from the data the query reads, never from
    * statistics stored beside it. Every decision is
    * recorded to [[graft.exec.QueryMetrics.recentDispatches]] with its
    * signals — an operator that silently picks physical plans needs
    * an audit trail at 100 TB.
    */
  def dispatchChunked(df: DataFrame, key: String,
                      threshold: Double = WindowSkewShare,
                      minHotRows: Long = MinHotRows): Boolean = {
    val (hot, total) = topKeyStatsSampled(df, key)
    val share = if (total == 0L) 0.0 else hot.toDouble / total
    val verdict = total > 0L && share >= threshold && hot >= minHotRows
    graft.exec.QueryMetrics.recordDispatch(
      graft.exec.QueryMetrics.WindowDispatch(
        key, share, hot, total, verdict))
    verdict
  }

  /** The plain (single-window) twins of the four chunked rewrites —
    * identical output columns, so [[windowAutoOn]] can swap either in.
    */
  private[graft] def windowLagPlain(df: DataFrame,
      spec: WindowSpec = WindowSpec.Lineitem, k: Int = 1): DataFrame = {
    val w = Window.partitionBy(col(spec.key))
      .orderBy(spec.ordSorted: _*)
    df.select(spec.out.map(col) ++ Seq(
      lag(col(spec.value), k).over(w).as(spec.prevName),
      lead(col(spec.value), k).over(w).as(spec.nextName),
      row_number().over(w).cast("long").as("rn")): _*)
  }

  private[graft] def windowRankPlain(df: DataFrame, nTiles: Int = 4,
      spec: WindowSpec = WindowSpec.Lineitem): DataFrame = {
    val wd = Window.partitionBy(col(spec.key)).orderBy(col(spec.ord.head))
    val wf = Window.partitionBy(col(spec.key))
      .orderBy(spec.ord.map(col): _*)
    df.select(spec.out.map(col) ++ Seq(
      rank().over(wd).cast("long").as("rnk"),
      dense_rank().over(wd).cast("long").as("drank"),
      ntile(nTiles).over(wf).cast("long").as("bucket")): _*)
  }

  private[graft] def windowRankExtPlain(df: DataFrame,
      spec: WindowSpec = WindowSpec.Lineitem): DataFrame = {
    val wd = Window.partitionBy(col(spec.key)).orderBy(col(spec.ord.head))
    df.select(spec.out.map(col) ++ Seq(
      rank().over(wd).cast("long").as("rnk"),
      percent_rank().over(wd).as("prank"),
      cume_dist().over(wd).as("cdist")): _*)
  }

  private[graft] def windowRunningPlain(df: DataFrame,
      spec: WindowSpec = WindowSpec.Lineitem): DataFrame = {
    val w = Window.partitionBy(col(spec.key))
      .orderBy(spec.ordSorted: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.select(spec.out.map(col) ++ Seq(
      sum(col(spec.value).cast("long")).over(w).as(spec.runningName),
      count(lit(1)).over(w).as("rn")): _*)
  }

  private[graft] def windowRangePlain(df: DataFrame, w: Long = RangeSkewW,
      spec: WindowSpec = WindowSpec.Lineitem): DataFrame = {
    val wr = Window.partitionBy(col(spec.key)).orderBy(col(spec.rangeOrd))
      .rangeBetween(-w, 0)
    df.select(spec.rangeOut.map(col) ++ Seq(
      sum(col(spec.value).cast("long")).over(wr).as("rng_sum"),
      count(lit(1)).over(wr).as("rng_n")): _*)
  }

  /** Auto-dispatching per-key window — [[skewDiagnose]]'s `window_plan`
    * verdict turned into an ENGINE decision instead of a hand-picked
    * rewrite: profile the heaviest key ([[dispatchChunked]] — a
    * sampled estimate, exact below the sample floor), then run the
    * window class `cls` as the plain single-window plan when
    * the key is benign and as the chunked skew rewrite when BOTH
    * signals fire — share at/above `threshold` (one reducer owns a
    * material fraction) and the hot key's absolute rows at/above
    * `minHotRows` (default [[MinHotRows]]: that reducer is genuinely
    * the bottleneck; the measured events-×100 counterexample in the
    * MinHotRows doc is why share alone is not enough).
    * Both branches produce IDENTICAL rows (each rewrite's oracle is
    * the literal window SQL), so the dispatch is purely a
    * physical-plan decision — the same contract as AQE's skew-join
    * split, applied to the window family Spark has no runtime split
    * for. Threshold default = [[WindowSkewShare]] (one key ≥ 1/P of
    * the rows pins a full reducer at reference parallelism P = 100);
    * at a different cluster width pass your own 1/P. A threshold
    * above 1.0 pins the plain branch, and 0.0 with `minHotRows` at 0
    * pins the chunked one on any non-empty frame — how the specs
    * compare the two.
    *
    * `cls`: "lag" (lag/lead/row_number), "rank" (rank/dense_rank/
    * ntile), "running" (cumulative sum + count), "range" (trailing
    * value-range sum + count), "flast" (first/last/nth value over the
    * whole partition). `spec` names the key / ordering /
    * value / output roles ([[WindowSpec]]); the lineitem registry
    * queries and the events dispatch spec are just two values of it.
    */
  def windowAutoOn(s: SparkSession, df: DataFrame, cls: String = "lag",
                   threshold: Double = WindowSkewShare,
                   spec: WindowSpec = WindowSpec.Lineitem,
                   lagK: Int = 1,
                   minHotRows: Long = MinHotRows): DataFrame = {
    require(!spec.descending || cls == "lag" || cls == "running" ||
        cls == "flast",
      s"descending specs are supported for the lag/running/flast " +
        s"classes only (got '$cls') — the rank/range boundary algebra " +
        "is ascending; fail here rather than silently on one branch")
    val skewed = dispatchChunked(df, spec.key, threshold, minHotRows)
    cls match {
      case "lag" =>
        if (skewed) windowLagSkewOn(s, df, spec, lagK)
        else windowLagPlain(df, spec, lagK)
      case "rank" =>
        if (skewed) windowRankSkewOn(s, df, spec = spec)
        else windowRankPlain(df, spec = spec)
      case "running" =>
        if (skewed) windowRunningSkewOn(s, df, spec)
        else windowRunningPlain(df, spec)
      case "range" =>
        if (skewed) windowRangeSkewOn(s, df, spec = spec)
        else windowRangePlain(df, spec = spec)
      case "flast" =>
        if (skewed) windowFirstLastSkewOn(s, df, spec)
        else windowFirstLastPlain(df, spec)
      case other => throw new IllegalArgumentException(
        s"unknown window class '$other' " +
          "(expected lag|rank|running|range|flast)")
    }
  }

  /** The registry queries: auto-dispatched windows over lineitem, one
    * per window class, plus the events shape (oracle = the literal
    * window SQL for the class — the dispatch never changes results,
    * only the physical plan, and both branches of each class are
    * row-identical by the same proof that backs the chunked rewrites'
    * own oracles).
    */
  def windowAuto(s: SparkSession, dir: String): DataFrame =
    windowAutoOn(s, table(s, dir, "lineitem"))
  def windowAutoRank(s: SparkSession, dir: String): DataFrame =
    windowAutoOn(s, table(s, dir, "lineitem"), "rank")
  def windowAutoRunning(s: SparkSession, dir: String): DataFrame =
    windowAutoOn(s, table(s, dir, "lineitem"), "running")
  def windowAutoRange(s: SparkSession, dir: String): DataFrame =
    windowAutoOn(s, table(s, dir, "lineitem"), "range")
  def windowAutoEvents(s: SparkSession, dir: String): DataFrame =
    windowAutoOn(s, graft.sources.Tables.events(s, dir), "lag",
      spec = WindowSpec.Events)
  /** The descending lag class through the same dispatcher — the r20
    * `WindowSpec.descending` flip under its own literal-window oracle
    * (ORDER BY ... DESC in both engines; DESC NULLS LAST is both
    * engines' default and the exact reverse of ASC NULLS FIRST).
    */
  def windowAutoDesc(s: SparkSession, dir: String): DataFrame =
    windowAutoOn(s, table(s, dir, "lineitem"), "lag",
      spec = WindowSpec.Lineitem.copy(descending = true))
  /** The general-offset lag/lead chunked rewrite (k = 3), pinned on
    * the chunked branch like [[windowLagSkew]] — its oracle is the
    * literal offset-3 LAG/LEAD/ROW_NUMBER SQL.
    */
  def windowLagK(s: SparkSession, dir: String, k: Int = 3): DataFrame =
    windowLagSkewOn(s, table(s, dir, "lineitem"),
      spec = WindowSpec.Lineitem, k = k)
  /** rank + percent_rank + cume_dist on the coarse ordering through
    * the chunked rank machinery (chunked branch pinned; oracle = the
    * literal PERCENT_RANK/CUME_DIST SQL — exact integer divisions,
    * identical in both engines, no rounding).
    */
  def windowRankExt(s: SparkSession, dir: String): DataFrame =
    windowRankSkewOn(s, table(s, dir, "lineitem"),
      spec = WindowSpec.Lineitem, extended = true)
}

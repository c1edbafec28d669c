package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Relational.dsum
import graft.sources.Tables.table
import graft.sql.QueryFacade

/** Second tranche of the relational surface: the remaining join shapes,
  * grouping-set variants, analytic windows, statistical/ordered/collection
  * aggregates, sketches, and the date/string function classes the
  * reference's README lists as unimplemented (README.md:54-72). Same rules
  * as Relational: declarative plans, type/name parity with the DuckDB
  * oracle, deterministic orderings.
  */
object RelationalExt {

  /** Cross join — small×small only by design; at scale a cross join is a
    * deliberate act (broadcast NL join), never an accident.
    */
  def joinCross(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "nation").crossJoin(table(s, dir, "region"))
      .select(col("n_name"), col("r_name"))

  def joinRight(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "orders").join(table(s, dir, "customer"),
        col("o_custkey") === col("c_custkey"), "right")
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_totalprice"))

  /** Full outer join on an aggregated right side: customers with no
    * qualifying orders keep nulls on the right; order-groups with no
    * customer row can't occur in this data but the shape is the general
    * one (shuffle both sides on the key, SMJ).
    */
  def joinFullOuter(s: SparkSession, dir: String): DataFrame = {
    val big = table(s, dir, "orders")
      .filter(col("o_totalprice") > 300000.0)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_big"), dsum(col("o_totalprice")).as("big_total"))
    table(s, dir, "customer").join(big,
        col("c_custkey") === col("o_custkey"), "full_outer")
      .select(col("c_custkey"), col("c_name"), col("n_big"), col("big_total"))
  }

  def setopUnionDistinct(s: SparkSession, dir: String): DataFrame = {
    val li = table(s, dir, "lineitem")
    li.filter(col("l_returnflag") === "R").select("l_orderkey", "l_suppkey")
      .union(li.filter(col("l_quantity") > 40.0)
        .select("l_orderkey", "l_suppkey"))
      .distinct()
  }

  /** CUBE — all 4 grouping combinations in one shuffle. */
  def cubeAgg(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"),
        grouping(col("l_returnflag")).cast("int").as("g_rf"),
        grouping(col("l_linestatus")).cast("int").as("g_ls"))

  /** lag/lead/dense_rank/ntile. Ordering includes every projected column
    * so residual ties are output-identical (the dataset has full duplicate
    * rows — see SURVEY/verify notes).
    */
  def windowLagLead(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
    table(s, dir, "lineitem")
      .withColumn("prev_qty", lag(col("l_quantity"), 1).over(w))
      .withColumn("next_qty", lead(col("l_quantity"), 1).over(w))
      .withColumn("drank", dense_rank().over(w).cast("long"))
      .withColumn("bucket4", ntile(4).over(w).cast("long"))
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("l_shipdate"), col("l_quantity"), col("prev_qty"),
        col("next_qty"), col("drank"), col("bucket4"))
  }

  /** Statistical aggregates. stddev/variance accumulate in engine-specific
    * orders; round(4) absorbs the sub-1e-9 drift (values are O(10)).
    */
  def aggStats(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"),
        round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
        round(var_samp(col("l_quantity")), 4).as("var_qty"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        count(col("l_quantity")).as("n"))

  /** Ordered-set aggregate: interpolated median + p90 (both engines use
    * the same linear-interpolation definition for continuous percentile).
    */
  def aggMedian(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "lineitem")
      .groupBy(col("l_linestatus"))
      .agg(round(expr("percentile(l_quantity, 0.5)"), 4).as("median_qty"),
        round(expr("percentile(l_extendedprice, 0.9)"), 4).as("p90_price"))

  /** Collection aggregate: sorted distinct collect, emitted as a canonical
    * comma-joined string (sorted so both engines agree on the value; joined
    * because the driver's oracle harness can't hash ARRAY outputs).
    */
  def aggCollect(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "lineitem")
      .groupBy(col("l_suppkey"))
      .agg(array_join(array_sort(collect_set(col("l_returnflag"))), ",")
        .as("flags"),
        count(lit(1)).as("n"))

  /** HLL sketch vs exact distinct (rows-only: HLL estimates are
    * engine-specific; PipelineExtSpec bounds the relative error instead).
    */
  /** HLL++ approximate distinct count next to the exact count. The sketch
    * value itself has no DuckDB mirror, so the emitted columns are chosen
    * to stay hash-checkable: `exact_parts` (oracle recomputes it) and
    * `rel_err_ok` — whether the sketch landed within 10% of exact (2x the
    * default 5% rsd; HLL++ is deterministic for fixed data, so this is a
    * stable TRUE the oracle asserts as a literal). The approximate value
    * still participates via rel_err_ok; specs check the numeric error.
    */
  val ApproxRelErrBound = 0.10

  def aggApproxDistinct(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"),
        countDistinct(col("l_partkey")).as("exact_parts"))
      .select(col("l_returnflag"), col("exact_parts"),
        (abs(col("approx_parts") - col("exact_parts")).cast("double") /
          col("exact_parts").cast("double") <= ApproxRelErrBound)
          .as("rel_err_ok"))

  /** Approximate quantiles (GK sketch) next to exact percentiles — the
    * 100 TB way to get order statistics without sorting a corpus-sized
    * column per group. Oracle treatment mirrors [[aggApproxDistinct]]:
    * the sketch value has no DuckDB mirror, so the emitted columns are
    * the exact percentiles (DuckDB's quantile_cont uses the identical
    * index = p*(n-1) linear interpolation as Spark's percentile(), the
    * parity agg_median already pins) plus in-bound verdicts the oracle
    * asserts as literal TRUE. accuracy=10000 bounds rank error at
    * 1e-4*n, far inside the 1% value-error verdict.
    */
  val QuantileErrBound = 0.01

  def aggApproxQuantile(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      // array form: ONE exact and ONE sketch accumulator per group for
      // both quantiles, instead of two of each
      .agg(
        expr("percentile(l_extendedprice, array(0.5, 0.95))").as("ex"),
        expr("approx_percentile(l_extendedprice, array(0.5, 0.95), 10000)")
          .as("ap"))
      .select(col("l_returnflag"),
        round(col("ex").getItem(0), 4).as("p50_price"),
        round(col("ex").getItem(1), 4).as("p95_price"),
        (abs(col("ap").getItem(0) - col("ex").getItem(0)) /
          col("ex").getItem(0) <= QuantileErrBound).as("p50_ok"),
        (abs(col("ap").getItem(1) - col("ex").getItem(1)) /
          col("ex").getItem(1) <= QuantileErrBound).as("p95_ok"))

  /** Date/time function class (README.md:49 "time types" unsupported in
    * the reference): extraction, arithmetic, truncation, formatting.
    */
  def dateFunctions(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "orders").select(
      col("o_orderkey"),
      year(col("o_orderdate")).as("y"),
      month(col("o_orderdate")).as("m"),
      dayofmonth(col("o_orderdate")).as("d"),
      quarter(col("o_orderdate")).as("q"),
      date_add(col("o_orderdate").cast("date"), 30).as("plus30"),
      datediff(lit("2002-01-01").cast("date"),
        col("o_orderdate").cast("date")).as("days_to_2002"),
      date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd")
        .as("month_start"))

  /** String function class the reference lacks (README.md:54-56): ILIKE,
    * regex match/replace, padding, position, splitting.
    */
  def stringFunctions(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "part").select(
      col("p_partkey"),
      col("p_name").ilike("%GREEN%").as("has_green"),
      col("p_type").rlike("^[A-Z]+").as("starts_upper"),
      regexp_replace(col("p_name"), "[aeiou]", "_").as("devoweled"),
      lpad(col("p_brand"), 12, "*").as("brand_padded"),
      instr(col("p_name"), "green").cast("int").as("green_pos"),
      split(col("p_type"), " ").getItem(0).as("type_first_word"),
      reverse(col("p_brand")).as("brand_rev"))

  /** Custom typed Aggregator (UDAF surface the reference lacks): top-k
    * prices per group with an O(k)-bounded, map-side-combinable buffer.
    * Oracle: ordered list slice in DuckDB.
    */
  def aggTopKUdaf(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(graft.functions.TopKAggregator.topK(3)(col("l_extendedprice"))
        .as("top_arr"),
        count(lit(1)).as("n"))
      // Canonical scalar encoding: money values are exact at 2 decimals, so
      // DECIMAL(18,2)→string is bit-identical cross-engine, and the joined
      // string is hashable by the driver's oracle harness (arrays are not).
      .select(col("l_returnflag"),
        array_join(transform(col("top_arr"),
          x => x.cast("decimal(18,2)").cast("string")), ",").as("top_prices"),
        col("n"))

  /** EXCEPT ALL / INTERSECT ALL — multiset semantics (duplicates
    * preserved), the variant Spark plans as a left-anti-ish aggregate with
    * per-row counts rather than a distinct.
    */
  def setopExceptAll(s: SparkSession, dir: String): DataFrame = {
    val li = table(s, dir, "lineitem")
    li.select("l_orderkey", "l_suppkey").exceptAll(
      li.filter(col("l_returnflag") === "R")
        .select("l_orderkey", "l_suppkey"))
  }

  def setopIntersectAll(s: SparkSession, dir: String): DataFrame = {
    val li = table(s, dir, "lineitem")
    li.filter(col("l_quantity") > 30.0).select("l_orderkey", "l_suppkey")
      .intersectAll(li.filter(col("l_returnflag") === "R")
        .select("l_orderkey", "l_suppkey"))
  }

  /** PIVOT with an explicit value list (explicit so the plan needs no
    * extra distinct-values job — the form that scales).
    */
  def pivotAgg(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "lineitem")
      .groupBy(col("l_suppkey"))
      .pivot("l_returnflag", Seq("A", "N", "R"))
      .agg(sum(col("l_quantity")))
      .withColumnsRenamed(Map("A" -> "qty_a", "N" -> "qty_n",
        "R" -> "qty_r"))

  /** Unpivot/melt — the inverse of [[pivotAgg]]: wide metric columns to
    * (metric, value) rows. Per-row generator (Catalyst Expand), no
    * shuffle — at 100 TB this is the normalization pass before a
    * metric-keyed aggregation or export, and it runs at scan speed.
    */
  def unpivotMelt(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "lineitem")
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber"), col("l_partkey")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"),
          col("l_tax")),
        "metric", "value")

  /** MERGE/upsert — the daily-ingest shape Delta/Iceberg call MERGE
    * INTO, composed from Spark primitives: base FULL OUTER JOIN batch on
    * the key, per-column coalesce toward the batch side, and an op
    * verdict (update/insert/keep). The batch here is deterministic so
    * the whole merge is oracle-checkable: an md5-coin slice of orders
    * gets a price adjustment (update tier) and a second slice re-enters
    * under shifted keys (insert tier).
    *
    * Scale shape: ONE shuffle of each side on the merge key — exactly
    * what a sort-merge MERGE does at 100 TB. No broadcast (the batch may
    * be large), no driver-side state; the op column makes the result
    * auditable and the writer idempotent (re-running the merge with the
    * same batch is a fixpoint).
    */
  val MergeUpdateThreshold = "20000000" // ~12.5% of keys updated
  val MergeInsertThreshold = "10000000" // ~6.25% re-keyed as inserts

  /** Insert-slice re-key offset. TPC-H sparse o_orderkey reaches
    * 6,000,000 x sf, so this bound holds to sf ~16; past that the
    * shifted keys would collide with live base keys and the full-outer
    * join would silently duplicate rows — [[mergeUpsert]] therefore
    * asserts max(o_orderkey) < shift (a parquet footer-stats max, near
    * metadata speed) and fails loudly instead. A production merge has
    * real batch keys and needs no shift at all; this constant only
    * makes the DEMO batch deterministic for the oracle.
    */
  val MergeKeyShift = 100000000L

  def mergeUpsert(s: SparkSession, dir: String): DataFrame = {
    val orders = table(s, dir, "orders")
    // max() over an empty table is null — an empty merge base is fine
    // (no key can collide), so only enforce the shift bound when rows
    // exist rather than NPE-ing inside the guard itself
    val maxRow = orders.agg(max(col("o_orderkey"))).head
    val maxKey = if (maxRow.isNullAt(0)) -1L else maxRow.getLong(0)
    require(maxKey < MergeKeyShift,
      s"mergeUpsert demo requires max(o_orderkey)=$maxKey < " +
        s"MergeKeyShift=$MergeKeyShift: shifted insert keys would " +
        "collide with base keys and duplicate merge output")
    def coin(c: Column): Column =
      substring(md5(concat(lit("mg:"), c.cast("string"))), 1, 8)
    val updates = orders
      .filter(coin(col("o_orderkey")) < MergeUpdateThreshold)
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), (col("o_totalprice") + 10.0).as("o_totalprice"),
        col("o_orderdate"), col("o_orderpriority"))
    val inserts = orders
      .filter(coin(col("o_orderkey") + MergeKeyShift)
        < MergeInsertThreshold)
      .select((col("o_orderkey") + MergeKeyShift).as("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"), col("o_totalprice"),
        col("o_orderdate"), col("o_orderpriority"))
    val batch = updates.unionByName(inserts)
    val b = orders.as("b")
    val u = batch.as("u")
    b.join(u, col("b.o_orderkey") === col("u.o_orderkey"), "full_outer")
      .select(
        coalesce(col("u.o_orderkey"), col("b.o_orderkey")).as("o_orderkey"),
        coalesce(col("u.o_custkey"), col("b.o_custkey")).as("o_custkey"),
        coalesce(col("u.o_orderstatus"), col("b.o_orderstatus"))
          .as("o_orderstatus"),
        coalesce(col("u.o_totalprice"), col("b.o_totalprice"))
          .as("o_totalprice"),
        date_format(coalesce(col("u.o_orderdate"), col("b.o_orderdate")),
          "yyyy-MM-dd").as("o_orderdate"),
        coalesce(col("u.o_orderpriority"), col("b.o_orderpriority"))
          .as("o_orderpriority"),
        when(col("b.o_orderkey").isNull, "insert")
          .when(col("u.o_orderkey").isNull, "keep")
          .otherwise("update").as("op"))
  }

  /** Sketch-merge accuracy band (HLL at default lgConfigK=12 is ~2%
    * relative standard error; 10% is a conservative deterministic
    * verdict bound).
    */
  val SketchMergeTol = 0.1

  /** Mergeable-sketch reaggregation (oracle-checked via the verdict
    * device): per-(lang, source) HyperLogLog sketches over tokens are
    * UNIONED up to per-lang distinct-token estimates — the property that
    * makes sketches a first-class 100 TB primitive: yesterday's
    * per-shard sketches re-aggregate to any coarser grouping without
    * touching raw data (Spark's datasketches hll_sketch_agg /
    * hll_union_agg / hll_sketch_estimate). The estimate itself is
    * engine-specific, so the output carries the EXACT distinct count
    * plus a deterministic within-[[SketchMergeTol]] verdict the oracle
    * reproduces as its own exact computation — the agg_approx_distinct
    * device applied to the merge path.
    */
  def sketchMerge(s: SparkSession, dir: String): DataFrame = {
    val toks = table(s, dir, "documents")
      .select(col("lang"), col("source"),
        explode(graft.functions.TextFunctions.tokens(col("text")))
          .as("term"))
    val perSource = toks.groupBy(col("lang"), col("source"))
      .agg(hll_sketch_agg(col("term")).as("sk"))
    val merged = perSource.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_sources"),
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
    val exact = toks.groupBy(col("lang"))
      .agg(count_distinct(col("term")).as("exact_tokens"))
    merged.join(exact, Seq("lang"))
      .select(col("lang"), col("n_sources"), col("exact_tokens"),
        (abs(col("est").cast("double") -
          col("exact_tokens").cast("double")) <=
          col("exact_tokens").cast("double") * SketchMergeTol).as("ok"))
  }

  /** SCD Type-2 dimension-history build (oracle-checked): treat each
    * customer's order stream as attribute-change events on a
    * `current order status` dimension and emit the classic slowly-
    * changing-dimension shape — one row per EFFECTIVE change with
    * `valid_from` / `valid_to` / `version` / `is_current`. Consecutive
    * events carrying the same status collapse (a no-change event opens
    * no new version), which is the part naive as-at joins get wrong.
    *
    * Two windows over the SAME (custkey, date, orderkey) ordering: a lag
    * to drop no-change events, then lead/row_number over the survivors
    * for interval bounds and version numbers — Spark plans one exchange
    * (hash by custkey) feeding both sorts, so the dimension build costs a
    * single shuffle of the event stream regardless of history depth.
    * Ties on o_orderdate are broken by o_orderkey, making the event
    * order — and the whole history — total and engine-independent.
    */
  def scd2History(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val ev = table(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderstatus"), col("o_orderdate"),
        col("o_orderkey"))
      .withColumn("prev", lag(col("o_orderstatus"), 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("o_orderstatus"))
    ev.withColumn("version", row_number().over(w).cast("long"))
      .withColumn("valid_to_ts", lead(col("o_orderdate"), 1).over(w))
      .select(col("o_custkey").as("custkey"), col("version"),
        col("o_orderstatus").as("status"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("valid_from"),
        date_format(col("valid_to_ts"), "yyyy-MM-dd").as("valid_to"),
        col("valid_to_ts").isNull.as("is_current"))
  }

  /** TPC-H Q5-shaped 6-table join: local-supplier revenue per nation in a
    * region. Dims broadcast; the two fact joins shuffle on their own keys;
    * AQE re-plans from runtime sizes.
    */
  def q5LocalSupplier(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "customer")
      .join(table(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
      .join(table(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .join(table(s, dir, "supplier"),
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(table(s, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(table(s, dir, "region")),
        col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA")
      .groupBy(col("n_name"))
      .agg(sum(Relational.dmul(col("l_extendedprice"),
        lit(1.0) - col("l_discount"))).cast("double").as("revenue"),
        count(lit(1)).as("n"))
      .orderBy(col("revenue").desc)

  /** As-of join — each purchase matched to the same user's most recent
    * prior (or simultaneous) view. Spark has no ASOF JOIN operator; the
    * scalable composition (preference (a) of the extension ladder) is a
    * tagged union + one running `last(ignoreNulls)` window: a single
    * shuffle+sort on user, NO range-join pair explosion. The oracle uses
    * DuckDB's native ASOF LEFT JOIN — same semantics, different engine
    * mechanism. At equal timestamps the view sorts before the purchase
    * (tag order), matching ASOF's inclusive bound.
    */
  def joinAsOf(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.sources.Tables.events(s, dir)
    val tagged = ev.filter(col("event_type").isin("view", "purchase"))
      .select(col("user_id"), col("ts"), col("event_id"),
        when(col("event_type") === "view", 0).otherwise(1).as("tag"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("tag"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("view_id",
        last(when(col("tag") === 0, col("event_id")), ignoreNulls = true)
          .over(w))
      .filter(col("tag") === 1)
      .select(col("event_id").as("buy_id"), col("view_id"))
  }

  /** Lateral explode / UNNEST with ordinality over an array column — the
    * generator class (flatten one row into many). posexplode is a
    * codegen'd generator; no shuffle.
    */
  def explodeUnnest(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "embeddings")
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos").cast("long").as("pos"),
        col("col").as("val"))

  /** Explicit GROUPING SETS (the general form rollup/cube specialize; the
    * DataFrame API has no direct operator, so this goes through the SQL
    * surface — still one shuffle with map-side expansion). SQL queries
    * here go through `QueryFacade.run`: its `read_files` views are
    * UUID-named and dropped after analysis, so none leaks or races.
    */
  def groupingSets(s: SparkSession, dir: String): DataFrame =
    QueryFacade.run(s, s"""
      SELECT l_returnflag, l_suppkey, sum(l_quantity) AS sum_qty,
        count(*) AS n,
        CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
        CAST(GROUPING(l_suppkey) AS INT) AS g_sk
      FROM read_files('$dir/lineitem.parquet')
      GROUP BY GROUPING SETS ((l_returnflag), (l_suppkey), ())""")

  /** Range-join band width (absolute difference bound on acctbal). */
  val RangeJoinWidth = 1.0

  /** Value-range join — |c_acctbal - s_acctbal| <= width — an operator
    * Spark has no native physical strategy for. A naive formulation is a
    * BroadcastNestedLoop/cartesian filter (quadratic); this composes it
    * from existing operators the scale-safe way: quantize the value to
    * width-sized buckets, explode one side to its bucket ± 1 (every
    * within-width pair shares one of the three), EQUI-join on the bucket,
    * then apply the exact band predicate. Shuffles on the bucket key,
    * work proportional to true pair density — the range-join pattern that
    * survives corpus-scale inputs. Oracle: DuckDB evaluates the plain
    * inequality join natively (IEJoin), so correctness is checked against
    * a genuinely different algorithm.
    */
  def joinRange(s: SparkSession, dir: String): DataFrame = {
    val w = RangeJoinWidth
    val cust = table(s, dir, "customer")
      .select(col("c_custkey"), col("c_acctbal"),
        explode(array(lit(-1L), lit(0L), lit(1L))).as("boff"))
      .select(col("c_custkey"), col("c_acctbal"),
        (floor(col("c_acctbal") / w).cast("long") + col("boff")).as("bucket"))
    val supp = table(s, dir, "supplier")
      .select(col("s_suppkey"), col("s_acctbal"),
        floor(col("s_acctbal") / w).cast("long").as("bucket"))
    cust.join(supp, "bucket")
      .filter(abs(col("c_acctbal") - col("s_acctbal")) <= w)
      .select(col("c_custkey"), col("s_suppkey"),
        col("c_acctbal"), col("s_acctbal"),
        round(abs(col("c_acctbal") - col("s_acctbal")), 2).as("diff"))
  }

  /** Correlated scalar subquery — the decorrelation surface: Catalyst
    * rewrites the per-row subquery into an aggregate + join (the ONLY
    * shape that survives at scale; a true per-row subquery would be a
    * corpus-sized nested loop). The predicate compares exact values
    * (max of a decimal column), so the result is engine-deterministic.
    */
  def subqCorrelated(s: SparkSession, dir: String): DataFrame =
    QueryFacade.run(s, s"""
      SELECT l_orderkey, l_linenumber, l_quantity
      FROM read_files('$dir/lineitem.parquet') l
      WHERE l_quantity = (SELECT max(l2.l_quantity)
                          FROM read_files('$dir/lineitem.parquet') l2
                          WHERE l2.l_orderkey = l.l_orderkey)""")

  /** RANGE window frame (vs the ROWS frames elsewhere): peers are
    * VALUE-based — every row within 2 of the current key joins the
    * frame regardless of tie count. Integer sums, exact both engines.
    */
  def windowRangeFrame(s: SparkSession, dir: String): DataFrame =
    QueryFacade.run(s, s"""
      SELECT o_orderkey, o_custkey,
        CAST(sum(o_orderkey) OVER (
          PARTITION BY o_custkey ORDER BY o_orderkey
          RANGE BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT)
          AS rng_sum,
        CAST(count(*) OVER (
          PARTITION BY o_custkey ORDER BY o_orderkey
          RANGE BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS rng_n
      FROM read_files('$dir/orders.parquet')""")

  /** Semi-structured JSON column handling: schema-on-read extraction from
    * the events props payload. ONE from_json pass with the full schema —
    * every downstream field (ad-hoc access, typed access, derived bucket)
    * reads the same parsed struct, so the document is parsed exactly once
    * per row; whole-stage codegen's subexpression elimination collapses the
    * repeated struct references. (get_json_object is the per-path
    * alternative — it re-parses per call, so it's reserved for genuinely
    * ad-hoc single-path extraction; see QueryDemo.)
    */
  def jsonFunctions(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.sources.Tables.events(s, dir)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType)))
    ev.select(col("event_id"), from_json(col("props"), schema).as("p"))
      .select(col("event_id"),
        col("p.k").as("k"), col("p.k").as("k_typed"),
        (col("p.k") % 10).as("k_bucket"))
  }

  /** Explicit null ordering — the reference's sort options carry
    * nulls_first (compute_order_by_record.rs:33) but its planner REJECTS
    * the SQL syntax (logical_planner.rs:308-315); here it's first-class.
    * A synthesized nullable key exercises the null path (the base tables
    * have no nullable columns).
    */
  def sortNullsFirst(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "lineitem")
      .withColumn("maybe_flag", nullif(col("l_returnflag"), lit("R")))
      .select(col("l_orderkey"), col("l_linenumber"), col("maybe_flag"),
        col("l_quantity"))
      .orderBy(col("maybe_flag").asc_nulls_first, col("l_orderkey"),
        col("l_linenumber"), col("l_quantity"))

  /** LIMIT/OFFSET pagination with a total order. */
  def offsetLimit(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .select(col("o_orderkey"), col("o_totalprice"))
      .offset(50).limit(25)

  /** Value-positional windows (oracle-checked): first_value, last_value,
    * and nth_value over each customer's order history with an EXPLICIT
    * whole-partition rows frame — last_value under the default frame is
    * just the current row (the classic SQL footgun); pinning the frame
    * makes the semantics, and the two engines, agree. One exchange, one
    * sorted frame for all three.
    */
  def windowFirstLast(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    table(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        first(col("o_orderkey")).over(w).as("first_key"),
        last(col("o_orderkey")).over(w).as("last_key"),
        nth_value(col("o_orderkey"), 2).over(w).as("second_key"))
  }

  /** Bivariate statistical aggregates (oracle-checked): Pearson corr and
    * sample/population covariance of quantity vs price per return flag —
    * one pass, map-side partial moments, a 3-row result. Both engines
    * accumulate IEEE doubles; values are O(1)–O(10^5) with sub-1e-9
    * relative drift, absorbed by round(4) (the agg_stats device).
    */
  def aggCorr(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(round(corr(col("l_quantity"), col("l_extendedprice")), 4)
          .as("corr_qp"),
        // covariances are O(10^5): absolute drift scales with the value,
        // so they round at 2 decimals where corr ([-1,1]) keeps 4
        round(covar_samp(col("l_quantity"), col("l_extendedprice")), 2)
          .as("covs_qp"),
        round(covar_pop(col("l_quantity"), col("l_extendedprice")), 2)
          .as("covp_qp"),
        count(lit(1)).as("n"))

  /** Distribution-analytic windows (oracle-checked): ntile quartiles,
    * percent_rank, and cume_dist over each customer's order history —
    * the remaining SQL-standard analytic functions after rank/row_number
    * (`window_rank`) and lag/lead (`window_lag_lead`). Both engines
    * implement the standard's bucket rule (first n_rows mod n buckets
    * take one extra row) and the same rank ratios, and the ordering key
    * (o_custkey, o_orderkey) is unique, so the doubles divide identical
    * integers — engine-agreed after round(6).
    *
    * Scale shape: one hash exchange on o_custkey; all three functions
    * share the single sorted frame (key count grows with the corpus —
    * no single-partition window).
    */
  def windowNtile(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
    table(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        ntile(4).over(w).cast("long").as("quartile"),
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cdist"))
  }

  // ------------------------------------------- TPC-H stress-shape queries
  // The canonical join-order / broadcast-choice / semi-join-dedup shapes a
  // planner must get right at 100×, beyond q1/q3/q5. Adapted to the
  // synthetic star where it lacks TPC-H columns (no partsupp table, no
  // l_receiptdate/l_commitdate); the plan SHAPES are the point.

  /** TPC-H Q9-shaped product-line profit: a selective dimension predicate
    * (p_name LIKE — ~1/8 of parts) driving a fact multi-join, grouped by
    * nation × year. Supply cost is proxied by p_retailprice × l_quantity
    * (the synthetic star has no partsupp). Scale shape: the part filter
    * prunes BEFORE the join (pushed to the part scan), part/supplier
    * join via shuffle hash on the fact's natural keys, nation broadcast;
    * profit in exact decimal arithmetic so the result is
    * accumulation-order-independent at any parallelism.
    */
  def q9Profit(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "lineitem")
      .join(table(s, dir, "part").filter(col("p_name").like("%red%"))
          .select(col("p_partkey"), col("p_retailprice")),
        col("l_partkey") === col("p_partkey"))
      .join(table(s, dir, "supplier")
          .select(col("s_suppkey"), col("s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(table(s, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("l_shipdate")).cast("long").as("o_year"))
      .agg(sum(Relational.dmul(col("l_extendedprice"),
          lit(1.0) - col("l_discount"))
        - Relational.dmul(col("p_retailprice"), col("l_quantity")))
        .cast("double").as("sum_profit"))
      .orderBy(col("nation"), col("o_year").desc)

  /** TPC-H Q7-shaped volume shipping between two nations: the same
    * dimension table (nation) joined TWICE under different roles
    * (supplier's vs customer's nation) with a symmetric pair predicate —
    * the alias-resolution + double-broadcast shape. Both nation sides
    * broadcast (tiny at any fact scale); the pair filter applies after
    * the two key joins, so the fact table shuffles only on its natural
    * join keys. Exact decimal volume; (supp_nation, cust_nation,
    * l_year) is a unique grouping so the ordering is total.
    */
  def q7VolumeShipping(s: SparkSession, dir: String): DataFrame = {
    val n1 = broadcast(table(s, dir, "nation")
      .select(col("n_nationkey").as("n1_key"), col("n_name").as("supp_nation")))
    val n2 = broadcast(table(s, dir, "nation")
      .select(col("n_nationkey").as("n2_key"), col("n_name").as("cust_nation")))
    table(s, dir, "lineitem")
      .join(table(s, dir, "supplier")
          .select(col("s_suppkey"), col("s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(table(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(table(s, dir, "customer")
          .select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(n1, col("s_nationkey") === col("n1_key"))
      .join(n2, col("c_nationkey") === col("n2_key"))
      .filter((col("supp_nation") === "NATION_1" &&
          col("cust_nation") === "NATION_2") ||
        (col("supp_nation") === "NATION_2" &&
          col("cust_nation") === "NATION_1"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(sum(Relational.dmul(col("l_extendedprice"),
        lit(1.0) - col("l_discount"))).cast("double").as("revenue"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  /** TPC-H Q18-shaped large-order report: the top-k over a grouped
    * semi-join. The "large order" set comes from one full-fact
    * aggregation (map-side partial, so the shuffle carries per-order
    * partials, not rows); orders then SEMI-join that set (dedup by
    * construction, only the key column flows), customer joins after the
    * reduction, and the fact re-joins only for the surviving orders.
    * Deterministic top-k: o_orderkey breaks o_totalprice ties.
    */
  def q18LargeOrders(s: SparkSession, dir: String): DataFrame = {
    val li = table(s, dir, "lineitem")
    val bigOrders = li.groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("q"))
      .filter(col("q") > 300.0)
      .select(col("l_orderkey").as("big_okey"))
    table(s, dir, "orders")
      .join(bigOrders, col("o_orderkey") === col("big_okey"), "left_semi")
      .join(table(s, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .join(li, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate").cast("date").as("orderdate"),
        col("o_totalprice"))
      .agg(sum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(100)
  }

  /** TPC-H Q21-shaped "suppliers who kept orders waiting": the classic
    * double EXISTS / NOT-EXISTS correlation. Lateness is adapted to the
    * synthetic schema (no receipt/commit dates): a lineitem is late when
    * it ships >60 days after its order date.
    *
    * The correlated pair is DECORRELATED into one per-order aggregation —
    * `n_supp` (distinct suppliers) and `n_late_supp` (distinct late
    * suppliers) — and the waiting condition becomes `n_supp > 1 AND
    * n_late_supp = 1` on late rows: "some other supplier exists, and no
    * OTHER supplier was late" (the late set is exactly this row's
    * supplier). One extra shuffle on l_orderkey replaces two correlated
    * subquery scans; the oracle runs the LITERAL EXISTS/NOT-EXISTS form,
    * so the hash match proves the rewrite. Order keys never collide
    * across generations, so the per-order aggregate's key count scales
    * with the corpus — no skew pocket.
    */
  def q21SuppliersWaiting(s: SparkSession, dir: String): DataFrame = {
    val flagged = table(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      .join(table(s, dir, "orders")
          .filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .withColumn("late",
        col("l_shipdate").cast("date") >
          date_add(col("o_orderdate").cast("date"), 60))
    val perOrder = flagged.groupBy(col("l_orderkey").as("okey"))
      .agg(countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(when(col("late"), col("l_suppkey"))).as("n_late_supp"))
    flagged.filter(col("late"))
      .join(perOrder, col("l_orderkey") === col("okey"))
      .filter(col("n_supp") > 1 && col("n_late_supp") === 1)
      .join(table(s, dir, "supplier"),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(table(s, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .filter(col("n_name") === "NATION_12")
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name").asc)
      .limit(100)
  }

  /** TPC-H Q13-shaped customer order-count distribution: the
    * grouped-on-aggregate shape — a LEFT OUTER join that must PRESERVE
    * customers with zero (qualifying) orders, a per-customer count, then
    * a distribution over the counts. The order-side predicate (priority,
    * standing in for Q13's comment NOT LIKE) lives in the JOIN
    * condition, not a WHERE — filtering after the outer join would
    * silently turn it inner and drop the zero bucket.
    *
    * Scale shape: one shuffle on the customer key for the outer join +
    * first aggregate (both partial-agg'd map-side); the second aggregate
    * groups on c_count whose cardinality is the max order count per
    * customer — dozens at any corpus size, so the distribution agg is
    * effectively free and the ORDER BY sorts a tiny frame.
    */
  def q13CustDist(s: SparkSession, dir: String): DataFrame = {
    val o = table(s, dir, "orders")
      .filter(col("o_orderpriority") =!= "1-URGENT")
      .select(col("o_custkey"), col("o_orderkey"))
    table(s, dir, "customer").select(col("c_custkey"))
      .join(o, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** TPC-H Q17-shaped small-quantity revenue: the correlated-AVG
    * subquery against the fact table — "lineitems of qualifying parts
    * whose quantity is below 20% of that part's average quantity". The
    * oracle runs the LITERAL correlated form (`l_quantity < 0.2 *
    * (SELECT avg(..) WHERE l2.l_partkey = p_partkey)`); the plan
    * decorrelates it into ONE per-part aggregate joined back, so the
    * hash match proves the rewrite. Quantities are integral doubles, so
    * the per-part sum is exact in ANY accumulation order and avg is
    * bit-identical cross-engine; revenue goes through the dsum decimal
    * device.
    *
    * Scale shape: the part predicate prunes at the part scan and the
    * tiny qualifying-part set broadcasts, so the fact streams once; the
    * per-part aggregate shuffles only the pruned fact slice on
    * p_partkey, and the avg join-back is a second pass over the same
    * slice. Nothing rescans the full fact per part — the correlated
    * form's O(parts × fact) cost collapses to two passes over the
    * filtered rows.
    */
  def q17SmallQtyRevenue(s: SparkSession, dir: String): DataFrame = {
    val p = table(s, dir, "part")
      .filter(col("p_brand") === "Brand#4" && col("p_size") <= 10)
      .select(col("p_partkey"))
    val qualified = table(s, dir, "lineitem")
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
    val avgPerPart = qualified.groupBy(col("p_partkey").as("ap_key"))
      .agg(avg(col("l_quantity")).as("avg_qty"))
    qualified.join(avgPerPart, col("p_partkey") === col("ap_key"))
      .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
      .agg((Relational.dsum(col("l_extendedprice")) / 7.0).as("avg_yearly"))
  }

  /** TPC-H Q20-shaped "suppliers with concentrated recent shipments":
    * the nested semi-join chain — supplier IN (pairs over lineitem
    * HAVING a correlated scalar aggregate) with the part set itself an
    * IN subquery. Adapted to the synthetic star (no partsupp): the
    * supplies relation is the (l_suppkey, l_partkey) pair set from the
    * fact, and Q20's "availqty > half of the year's shipments" becomes
    * "the pair's 1995 shipments exceed half its all-time shipments" —
    * still a per-pair correlated aggregate over the same fact table.
    *
    * The oracle runs the LITERAL nested form (IN → GROUP BY → HAVING
    * with a correlated scalar subquery re-scanning lineitem per pair);
    * the plan decorrelates it into ONE conditional aggregation per pair
    * — `q95` (1995 quantity) and `qall` (all-time) from the same scan —
    * so the hash match proves the rewrite. Quantities are integral
    * doubles (exact sums, any order) and 0.5 is a power of two, so the
    * share comparison is bit-identical cross-engine.
    *
    * Scale shape: the part LIKE prunes at the part scan and semi-joins
    * the fact (only pair keys flow); the pair aggregate is one shuffle
    * with map-side partials; the surviving supplier keys are a bounded
    * distinct that SEMI-joins the supplier dim; nation broadcasts.
    */
  def q20ConcentratedSuppliers(s: SparkSession, dir: String): DataFrame = {
    val redParts = table(s, dir, "part")
      .filter(col("p_name").like("red%"))
      .select(col("p_partkey"))
    val pairs = table(s, dir, "lineitem")
      .select(col("l_suppkey"), col("l_partkey"), col("l_quantity"),
        year(col("l_shipdate")).as("ship_year"))
      .join(redParts, col("l_partkey") === col("p_partkey"), "left_semi")
      .groupBy(col("l_suppkey"), col("l_partkey"))
      .agg(sum(when(col("ship_year") === 1995, col("l_quantity"))
          .otherwise(lit(0.0))).as("q95"),
        sum(col("l_quantity")).as("qall"))
      // q95 > 0 mirrors the oracle's inner scan seeing ONLY 1995 rows:
      // a pair with no 1995 shipment never reaches its HAVING
      .filter(col("q95") > lit(0.0) &&
        col("q95") > lit(0.5) * col("qall"))
      .select(col("l_suppkey")).distinct()
    table(s, dir, "supplier")
      .join(pairs, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .join(broadcast(table(s, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .filter(col("n_name") === "NATION_9")
      .select(col("s_name"), col("s_acctbal"))
      .orderBy(col("s_name"))
  }

  // ------------------------- TPC-H completion tranche (q4 q6 q8 q10
  // q12 q14 q15 q19 q22 — with q1/3/5/7/9/13/17/18/20/21 this closes
  // every TPC-H shape expressible without partsupp; q2/q11/q16 run as
  // adapted shapes below, with the partsupp relation DERIVED from the
  // fact as the per-(part,supplier) offer aggregate). Adaptations to
  // the synthetic schema are noted per query; every oracle runs the
  // LITERAL TPC-H form (EXISTS / scalar subquery) so the hash match
  // proves each decorrelation.

  /** TPC-H Q4 priority checking: orders in one quarter having at least
    * one LATE lineitem (ships >60 days after order date — the q21
    * lateness device; the synthetic schema has no commit/receipt
    * dates), counted by priority. The correlated EXISTS decorrelates to
    * a LEFT SEMI join whose condition spans both sides, so only order
    * keys flow through the probe and the fact never aggregates.
    */
  def q4PriorityCheck(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-07-01") &&
        col("o_orderdate") < lit("1996-10-01"))
      .join(table(s, dir, "lineitem").select(col("l_orderkey"),
          col("l_shipdate")),
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate").cast("date") >
            date_add(col("o_orderdate").cast("date"), 60),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))

  /** TPC-H Q6 forecast-revenue change: the pure scan-filter-aggregate —
    * every predicate pushes to the parquet scan (PlanSpec pins shipdate
    * + quantity in PushedFilters) and the single agg is map-side
    * partial. The what-if revenue is sum(extendedprice × discount) over
    * a shipdate year, a discount band, and small quantities.
    */
  def q6ForecastRevenue(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01") &&
        col("l_shipdate") < lit("1997-01-01") &&
        col("l_discount").between(0.05, 0.07) &&
        col("l_quantity") < 24)
      .agg(sum(Relational.dmul(col("l_extendedprice"), col("l_discount")))
        .cast("double").as("revenue"))

  /** TPC-H Q8 national market share: the deepest join tree in the suite
    * (lineitem → part, supplier, orders → customer → nation → region,
    * plus nation joined AGAIN under the supplier role) feeding a
    * conditional-share aggregate: the share of PROMO-part volume in
    * AMERICA carried by NATION_5's suppliers, per order year. Dims
    * broadcast; the share divides two decimal sums cast to double in
    * the same order as the oracle.
    */
  def q8MarketShare(s: SparkSession, dir: String): DataFrame = {
    val vol = Relational.dmul(col("l_extendedprice"),
      lit(1.0) - col("l_discount"))
    table(s, dir, "lineitem")
      .join(table(s, dir, "part").filter(col("p_type") === "PROMO")
        .select(col("p_partkey")), col("l_partkey") === col("p_partkey"))
      .join(table(s, dir, "supplier")
          .select(col("s_suppkey"), col("s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(table(s, dir, "nation")
          .select(col("n_nationkey").as("sn_key"),
            col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("sn_key"))
      .join(table(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("1995-01-01") &&
            col("o_orderdate") < lit("1997-01-01"))
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .join(table(s, dir, "customer")
          .select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(table(s, dir, "nation")
          .select(col("n_nationkey").as("cn_key"),
            col("n_regionkey").as("c_regionkey"))),
        col("c_nationkey") === col("cn_key"))
      .join(broadcast(table(s, dir, "region")
          .filter(col("r_name") === "AMERICA").select(col("r_regionkey"))),
        col("c_regionkey") === col("r_regionkey"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg((sum(when(col("supp_nation") === "NATION_5", vol)
          .otherwise(lit(0))).cast("double") /
        sum(vol).cast("double")).as("mkt_share"))
      .orderBy(col("o_year"))
  }

  /** TPC-H Q10 returned-item reporting: customers ranked by the revenue
    * they returned in one quarter — fact filters push to both scans,
    * the group-by keys include the customer attributes (no second
    * aggregate), nation broadcasts, and the top-20 is deterministic
    * (c_custkey breaks revenue ties).
    */
  def q10ReturnedItems(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "lineitem")
      .filter(col("l_returnflag") === "R")
      .join(table(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("1996-10-01") &&
            col("o_orderdate") < lit("1997-01-01"))
          .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(table(s, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(table(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"),
        col("n_name"))
      .agg(sum(Relational.dmul(col("l_extendedprice"),
        lit(1.0) - col("l_discount"))).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey").asc)
      .limit(20)

  /** TPC-H Q12 shipping-mode priority split, adapted: the synthetic
    * schema has no shipmode/receiptdate, so the grouping dimension is
    * l_returnflag and "received late" is the q21 lateness device, over
    * one shipdate year. The essence survives intact: one fact-dim join,
    * a conditional CASE aggregate splitting critical
    * (1-URGENT/2-HIGH) from non-critical priorities.
    */
  def q12LateByFlag(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01") &&
        col("l_shipdate") < lit("1997-01-01"))
      .join(table(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderdate"),
            col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate").cast("date") >
            date_add(col("o_orderdate").cast("date"), 60))
      .groupBy(col("l_returnflag"))
      .agg(sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
          lit(1L)).otherwise(lit(0L))).as("high_line_count"),
        sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
          lit(1L)).otherwise(lit(0L))).as("low_line_count"))
      .orderBy(col("l_returnflag"))

  /** TPC-H Q14 promo revenue: the CASE-share aggregate over one
    * fact-dim join and one shipdate month — promo-part revenue as a
    * percentage of all revenue. Same decimal-sums-then-double division
    * discipline as [[q8MarketShare]].
    */
  def q14PromoRevenue(s: SparkSession, dir: String): DataFrame = {
    val vol = Relational.dmul(col("l_extendedprice"),
      lit(1.0) - col("l_discount"))
    table(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-03-01") &&
        col("l_shipdate") < lit("1996-04-01"))
      .join(table(s, dir, "part").select(col("p_partkey"), col("p_type")),
        col("l_partkey") === col("p_partkey"))
      .agg((lit(100.0) * sum(when(col("p_type") === "PROMO", vol)
          .otherwise(lit(0))).cast("double") /
        sum(vol).cast("double")).as("promo_revenue"))
  }

  /** TPC-H Q15 top supplier: the revenue-view + scalar-MAX shape. The
    * per-supplier quarter revenue aggregates ONCE (map-side partials on
    * l_suppkey); the maximum joins back as a broadcast one-row frame
    * and the filter compares EXACT decimals (no double round-trip), so
    * ties — the reason Q15 is specified as a view — all survive, as in
    * the oracle's literal scalar subquery.
    */
  def q15TopSupplier(s: SparkSession, dir: String): DataFrame = {
    val revenue = table(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01") &&
        col("l_shipdate") < lit("1996-04-01"))
      .groupBy(col("l_suppkey"))
      .agg(sum(Relational.dmul(col("l_extendedprice"),
        lit(1.0) - col("l_discount"))).as("total_revenue"))
    val maxRev = revenue.agg(max(col("total_revenue")).as("max_revenue"))
    table(s, dir, "supplier")
      .join(revenue, col("s_suppkey") === col("l_suppkey"))
      .crossJoin(broadcast(maxRev))
      .filter(col("total_revenue") === col("max_revenue"))
      .select(col("s_suppkey"), col("s_name"),
        col("total_revenue").cast("double").as("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  /** TPC-H Q19 discounted revenue: the disjunctive-predicate join — an
    * OR of three (brand, size-band, quantity-band) conjunctions
    * spanning both join sides. Catalyst extracts the per-side common
    * factors from the OR (CNF conversion), so the part scan still
    * receives a pushed size/brand filter and the lineitem scan a
    * quantity band (PlanSpec pins both), with the full disjunction
    * evaluated at the join — the shape that degrades to a full
    * cartesian product in engines without OR-pushdown.
    */
  def q19DiscountedRevenue(s: SparkSession, dir: String): DataFrame = {
    val cond1 = col("p_brand") === "Brand#12" &&
      col("p_size").between(1, 5) && col("l_quantity").between(1, 11)
    val cond2 = col("p_brand") === "Brand#23" &&
      col("p_size").between(1, 10) && col("l_quantity").between(10, 20)
    val cond3 = col("p_brand") === "Brand#24" &&
      col("p_size").between(1, 15) && col("l_quantity").between(20, 30)
    table(s, dir, "lineitem")
      .join(table(s, dir, "part"),
        col("l_partkey") === col("p_partkey") && (cond1 || cond2 || cond3))
      .agg(sum(Relational.dmul(col("l_extendedprice"),
        lit(1.0) - col("l_discount"))).cast("double").as("revenue"))
  }

  /** TPC-H Q22 global sales opportunity, adapted: the synthetic schema
    * has no c_phone, so the "country code" is c_nationkey over a 7-key
    * set. Two decorrelations in one query: the scalar AVG subquery
    * (positive-balance average over the same code set) becomes a
    * broadcast one-row frame, and NOT EXISTS(orders) becomes a LEFT
    * ANTI join probing only customer keys. The average divides a
    * decimal sum by a count (deterministic), exactly as the oracle
    * computes its scalar. One more adaptation: the synthetic generator
    * gives EVERY customer at least one order, so the literal "has no
    * orders" is the empty set — the lapse is window-scoped instead (no
    * orders since 1999), which keeps the anti-join shape and a
    * non-trivial result at every SF.
    */
  def q22SalesOpportunity(s: SparkSession, dir: String): DataFrame = {
    val codes = Seq(1, 3, 5, 7, 9, 11, 13).map(_.toLong)
    val cust = table(s, dir, "customer")
      .filter(col("c_nationkey").isin(codes: _*))
    val avgBal = cust.filter(col("c_acctbal") > 0.0)
      .agg((sum(col("c_acctbal").cast(org.apache.spark.sql.types
          .DecimalType(18, 2))).cast("double") /
        count(lit(1)).cast("double")).as("avg_bal"))
    cust.crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(table(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("1999-01-01"))
          .select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey").as("cntrycode"))
      .agg(count(lit(1)).as("numcust"),
        dsum(col("c_acctbal")).as("totacctbal"))
      .orderBy(col("cntrycode"))
  }

  // ------------------------- TPC-H partsupp tranche (q2 q11 q16).
  // The synthetic star has no partsupp table, so these three run
  // against the DERIVED supplies relation — the per-(part, supplier)
  // aggregate of the fact ("offers": min sell price; "value": shipped
  // revenue) — which preserves each query's distinguishing shape: q2's
  // correlated-equality-to-MIN subquery, q11's global scalar subquery
  // in HAVING, q16's NOT IN exclusion under COUNT(DISTINCT).

  /** TPC-H Q2-shaped minimum-cost supplier: for each qualifying part,
    * the EUROPE supplier(s) whose offer price equals the region-wide
    * minimum for that part. The offer relation derives from the fact
    * (min l_extendedprice per (part, supplier) — the partsupp stand-in,
    * computed ONCE and reused by both the outer block and the
    * decorrelated minimum). The oracle runs the LITERAL correlated
    * form — `mcost = (SELECT min(...) WHERE o2.pk = p_partkey AND
    * <region chain>)` re-stating the whole supplier→nation→region
    * chain inside the subquery — while the plan computes one
    * region-filtered per-part MIN and joins back on exact double
    * equality (ties survive on both sides; MIN over the identical set
    * is bit-identical cross-engine), so the hash match proves the
    * decorrelation.
    *
    * Scale shape: the offer aggregate is one map-side-partial shuffle
    * of the fact's (partkey, suppkey) projection; supplier⋈nation⋈
    * region and the part predicate both broadcast; the min join-back
    * keys on partkey. Nothing rescans the fact per part — the literal
    * form's O(parts × fact) correlation collapses into two aggregates.
    */
  def q2MinCostSupplier(s: SparkSession, dir: String): DataFrame = {
    val euSupp = table(s, dir, "supplier")
      .join(broadcast(table(s, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(table(s, dir, "region")
          .filter(col("r_name") === "EUROPE")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"),
        col("n_name"))
    val offers = table(s, dir, "lineitem")
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min(col("l_extendedprice")).as("mcost"))
    val euOffers = offers
      .join(broadcast(euSupp), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(table(s, dir, "part")
          .filter(col("p_type") === "SMALL" &&
            col("p_size").between(10, 14))
          .select(col("p_partkey"), col("p_name"))),
        col("l_partkey") === col("p_partkey"))
    val minPerPart = euOffers.groupBy(col("p_partkey").as("mp_key"))
      .agg(min(col("mcost")).as("min_cost"))
    euOffers.join(minPerPart, col("p_partkey") === col("mp_key") &&
        col("mcost") === col("min_cost"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"),
        col("p_partkey"), col("p_name"), col("mcost"))
      .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
        col("p_partkey"))
  }

  /** TPC-H Q11-shaped important stock value: per-part shipped value
    * over ONE nation's suppliers, keeping parts whose value exceeds a
    * corpus-derived threshold — the global-scalar-subquery-in-HAVING
    * shape. Adapted twice: the value relation derives from the fact
    * (no partsupp), and the threshold is MEAN-RELATIVE (1.5× the mean
    * per-part value) rather than TPC-H's `0.0001/SF` fraction-of-total
    * — the literal fraction needs the scale factor as an input, while
    * the mean-relative cut is scale-free (measured: keeps ~17-20 % of
    * parts at every test SF, where a fixed fraction kept 0 at sf0.1).
    *
    * Exactness: per-part values are DECIMAL(18,2) sums (order-free);
    * the threshold divides the decimal total by the group count in
    * DOUBLE on both engines (one IEEE division + one multiply, same
    * operand order), and only the comparison runs in double — outputs
    * stay exact until the final cast. The scalar becomes a broadcast
    * one-row frame ahead of the filter (the q22 device); the oracle
    * runs the literal HAVING-with-subquery form.
    *
    * Scale shape: one fact shuffle into the per-part aggregate (the
    * nation predicate broadcasts into the scan side), one all-reduce
    * row for the threshold, no second pass over the fact.
    */
  def q11ImportantValue(s: SparkSession, dir: String): DataFrame = {
    val natSupp = table(s, dir, "supplier")
      .join(broadcast(table(s, dir, "nation")
          .filter(col("n_name") === "NATION_3")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"))
    val vals = table(s, dir, "lineitem")
      .join(broadcast(natSupp), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey").as("partkey"))
      .agg(sum(Relational.dmul(col("l_extendedprice"),
        lit(1.0) - col("l_discount"))).as("val_dec"))
    val cut = vals.agg((lit(1.5) *
        (sum(col("val_dec")).cast("double") /
          count(lit(1)).cast("double"))).as("cut"))
    vals.crossJoin(broadcast(cut))
      .filter(col("val_dec").cast("double") > col("cut"))
      .select(col("partkey"), col("val_dec").cast("double")
        .as("part_value"))
      .orderBy(col("part_value").desc, col("partkey"))
  }

  /** TPC-H Q16-shaped supplier-count distribution: how many DISTINCT
    * suppliers ship each surviving (brand, type, size) part class,
    * excluding a blacklisted supplier set via NOT IN — the
    * anti-join-under-COUNT(DISTINCT) shape. Adapted: the part↔supplier
    * relation is the fact's (l_partkey, l_suppkey) pair set (no
    * partsupp); the complaint LIKE has no s_comment column, so the
    * blacklist is low-balance suppliers (s_acctbal < 1000 — non-empty
    * at every test SF). s_suppkey is non-nullable, so NOT IN and LEFT
    * ANTI agree (the null-semantics divergence NOT IN is famous for
    * cannot arise; the oracle runs the literal NOT IN form).
    *
    * Scale shape: both dims broadcast (the part predicate before the
    * join, the blacklist as an anti build side); the fact flows once
    * into a two-phase distinct aggregate (partial distinct on
    * (class, suppkey), then the count) — no pair materialization.
    */
  def q16SupplierCount(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey"))
      .join(broadcast(table(s, dir, "part")
          .filter(col("p_brand") =!= "Brand#45" &&
            col("p_type") =!= "PROMO" &&
            col("p_size").isin(1, 5, 9, 14, 19, 23, 36, 45))
          .select(col("p_partkey"), col("p_brand"), col("p_type"),
            col("p_size"))),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(table(s, dir, "supplier")
          .filter(col("s_acctbal") < 1000.0).select(col("s_suppkey"))),
        col("l_suppkey") === col("s_suppkey"), "left_anti")
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
        col("p_size"))
}

package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.TopKPlans

/** The custom GroupedTopK physical operator: result parity with the
  * window formulation, the partial->shuffle->final plan shape, and the
  * bounded-memory reduction property.
  */
class PlansSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  val dir = "/root/testdata/sf0.001"

  private def topk(k: Int) = TopKPlans.groupedTopK(
    spark.read.parquet(s"$dir/orders.parquet"),
    Seq(col("o_orderpriority")),
    Seq(col("o_totalprice").desc, col("o_orderkey").asc), k)
    .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))

  private def windowed(k: Int) = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    spark.read.parquet(s"$dir/orders.parquet")
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
  }

  test("grouped top-k equals the row_number window formulation") {
    for (k <- Seq(1, 3, 10)) {
      val a = topk(k)
      val b = windowed(k)
      assert(a.count() === b.count(), s"k=$k")
      assert(a.except(b).count() === 0L, s"k=$k")
      assert(b.except(a).count() === 0L, s"k=$k")
    }
  }

  test("plan is partial heap -> exchange -> final heap; no window, no sort") {
    val p = topk(3).queryExecution.executedPlan.toString
    assert(p.contains("GroupedTopKPartial"), p.take(600))
    assert(p.contains("GroupedTopKFinal"), p.take(600))
    assert(p.contains("Exchange hashpartitioning"), p.take(600))
    assert(!p.contains("Window"), p.take(600))
    // no Sort NODE anywhere — eliminating the per-partition sort is the
    // operator's entire point ("Sort [" is the node's simpleString
    // prefix; a sort-merge join would also surface through it)
    assert(!p.contains("Sort ["), p.take(600))
  }

  test("float group keys: NaN and signed zeros group like the window does") {
    import spark.implicits._
    val weird = Seq(
      (Double.NaN, 1L), (0.0 / 0.0, 2L), (math.sqrt(-1.0), 3L),
      (0.0, 4L), (-0.0, 5L), (1.5, 6L), (1.5, 7L))
      .toDF("key", "v").repartition(5)
    val topk = TopKPlans.groupedTopK(weird, Seq(col("key")),
      Seq(col("v").desc), 1)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("key")).orderBy(col("v").desc)
    val windowed = weird.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
    // all NaN encodings are ONE group, +0.0/-0.0 are ONE group — the
    // NormalizeFloatingNumbers treatment Window partition specs get
    assert(topk.count() === windowed.count())
    assert(topk.count() === 3L)
  }

  test("partial pass bounds what the shuffle moves: <= k rows per key per task") {
    // spread the input over many partitions, then check the operator's
    // OUTPUT row count equals sum(min(k, group size)) — the partial
    // stage cannot leak more than k rows per key per input partition,
    // and the final stage reduces to exactly the top k per key
    val k = 5
    val orders = spark.read.parquet(s"$dir/orders.parquet").repartition(7)
    val out = TopKPlans.groupedTopK(orders, Seq(col("o_orderpriority")),
      Seq(col("o_totalprice").desc, col("o_orderkey").asc), k)
    val expect = orders.groupBy("o_orderpriority").count().collect()
      .map(r => math.min(k.toLong, r.getLong(1))).sum
    assert(out.count() === expect)
    // k larger than every group degenerates to identity
    val all = TopKPlans.groupedTopK(orders, Seq(col("o_orderpriority")),
      Seq(col("o_totalprice").desc, col("o_orderkey").asc), 1000000)
    assert(all.count() === orders.count())
  }

  test("near-unique keys fail fast past the per-task key bound") {
    // group by the near-unique o_orderkey with a tiny configured bound:
    // the task must throw the honest-contract error (pointing at the
    // window formulation), not silently build an input-sized heap map
    val key = graft.plans.GroupedTopKExec.MaxKeysPerTaskKey
    spark.conf.set(key, "10")
    try {
      val orders = spark.read.parquet(s"$dir/orders.parquet").coalesce(1)
      val e = intercept[Exception] {
        TopKPlans.groupedTopK(orders, Seq(col("o_orderkey")),
          Seq(col("o_totalprice").desc), 2).count()
      }
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++
          msgs(x.getCause))
      assert(msgs(e).exists(m => m.contains("distinct group keys") &&
        m.contains("row_number")))
    } finally spark.conf.unset(key)
    // and the same query under the default bound is fine
    val ok = TopKPlans.groupedTopK(
      spark.read.parquet(s"$dir/orders.parquet").coalesce(1),
      Seq(col("o_orderkey")), Seq(col("o_totalprice").desc), 2)
    assert(ok.count() > 0L)
  }

  test("opt-in optimizer rule injects the bloom pre-filter into a plain star join") {
    val key = graft.plans.BloomJoinRewrite.ConfKey
    def naive = spark.read.parquet(s"$dir/lineitem.parquet")
      .join(spark.read.parquet(s"$dir/orders.parquet")
          .filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._2, t._3)).toSeq
    // default off: no word-table aggregate anywhere in the plan; collect
    // the expected multiset now, while the rule cannot fire
    val off = naive.queryExecution.executedPlan.toString
    assert(!off.contains("bit_or"), off.take(600))
    val expected = rows(naive)
    spark.conf.set(key, "true")
    try {
      val df = naive
      val p = df.queryExecution.executedPlan.toString
      // fired: the 4096-word bloom table (bit_or aggregate) feeds >= 3
      // broadcast probe joins ahead of the real join
      assert(p.contains("bit_or"), p.take(1200))
      assert(p.sliding("BroadcastHashJoin".length)
        .count(_ == "BroadcastHashJoin") >= 3, p.take(1200))
      // and the rewrite is invisible in the output (exact multiset)
      assert(rows(df) === expected)
      // a join with no selective dim predicate must NOT rewrite
      val plain = spark.read.parquet(s"$dir/lineitem.parquet")
        .join(spark.read.parquet(s"$dir/orders.parquet")
            .select(col("o_orderkey"), col("o_orderpriority")),
          col("l_orderkey") === col("o_orderkey"))
      assert(!plain.queryExecution.executedPlan.toString.contains("bit_or"))
    } finally spark.conf.unset(key)
  }

  test("opt-in optimizer rule dispatches lag-class window SQL to the " +
       "chunked rewrite above the hot-key share; benign keys keep the " +
       "plain window; the result is the literal window's, rows for rows") {
    val key = graft.plans.WindowAutoRewrite.ConfKey
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    li.withColumn("l_suppkey",
        when(col("l_orderkey") % 2 === 0, lit(7L))
          .otherwise(col("l_orderkey") % 2000 + 10000))
      .createOrReplaceTempView("li_hot")
    li.withColumn("l_suppkey", col("l_orderkey") % 2000)
      .createOrReplaceTempView("li_cold")
    def q(view: String) = s"""SELECT l_suppkey, l_orderkey, l_linenumber,
        l_shipdate, l_quantity,
        lag(l_quantity, 1) OVER w AS prev_qty,
        lead(l_quantity, 1) OVER w AS next_qty,
        CAST(row_number() OVER w AS BIGINT) AS rn
      FROM $view
      WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey,
        l_linenumber, l_partkey, l_quantity, l_extendedprice)"""
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.mkString("|")).sorted.toSeq
    try {
      // default off: the plain single-window plan — and the expected
      // multiset, collected while the rule cannot fire
      val off = spark.sql(q("li_hot"))
      assert(!off.queryExecution.executedPlan.toString.contains("pid#"))
      val expected = rows(off)
      spark.conf.set(key, "true")
      // rule on, DEFAULT hot-row floor: the planted key is hot in
      // share but tiny in absolute rows — the dispatcher must refuse
      // (the two-signal contract windowAutoOn pins)
      assert(!spark.sql(q("li_hot")).queryExecution.executedPlan
        .toString.contains("pid#"),
        "tiny hot partition must stay plain under the default floor")
      spark.conf.set(graft.operators.Skew.MinHotRowsConf, "0")
      val hot = spark.sql(q("li_hot"))
      val hp = hot.queryExecution.executedPlan.toString
      // fired: the chunked rewrite's checkpointed chunk column is in
      // the executed plan — a plain SQL query got the skew dispatch
      assert(hp.contains("pid#"), hp.take(800))
      // schema unchanged (rn stays BIGINT through the cast fold)
      assert(hot.schema === off.schema)
      assert(rows(hot) === expected)
      // benign key: the profile stays below the threshold, the plan
      // stays the query's own single window
      val cold = spark.sql(q("li_cold"))
      val cp = cold.queryExecution.executedPlan.toString
      assert(!cp.contains("pid#"), cp.take(800))
      assert(cp.contains("Window"))
      // a query ordering by FEWER columns than it projects must not
      // rewrite (tie safety unprovable — the guard is load-bearing)
      val loose = spark.sql(s"""SELECT l_suppkey, l_orderkey, l_quantity,
          lag(l_quantity, 1) OVER w AS prev_qty,
          lead(l_quantity, 1) OVER w AS next_qty,
          CAST(row_number() OVER w AS BIGINT) AS rn
        FROM li_hot
        WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate)""")
      assert(!loose.queryExecution.executedPlan.toString.contains("pid#"))
      // the RUNNING class matcher: same dispatch, the chunked
      // cumulative rewrite spliced under the literal running SQL
      def qRun(view: String) = s"""SELECT l_suppkey, l_orderkey,
          l_linenumber, l_shipdate, l_quantity,
          CAST(sum(CAST(l_quantity AS BIGINT)) OVER w AS BIGINT)
            AS running_qty,
          CAST(count(*) OVER w AS BIGINT) AS rn
        FROM $view
        WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate,
          l_orderkey, l_linenumber, l_partkey, l_quantity,
          l_extendedprice
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"""
      spark.conf.unset(key)
      val runOff = spark.sql(qRun("li_hot"))
      assert(!runOff.queryExecution.executedPlan.toString.contains("pid#"))
      val runExpected = rows(runOff)
      spark.conf.set(key, "true")
      val runHot = spark.sql(qRun("li_hot"))
      val rp = runHot.queryExecution.executedPlan.toString
      assert(rp.contains("pid#"), rp.take(800))
      assert(runHot.schema === runOff.schema)
      assert(rows(runHot) === runExpected)
      // a DOUBLE sum must not rewrite: the chunked rewrite's integral
      // summand would change the float fold order
      val dbl = spark.sql(s"""SELECT l_suppkey, l_orderkey, l_linenumber,
          l_shipdate, l_quantity,
          sum(l_quantity) OVER w AS running_qty,
          CAST(count(*) OVER w AS BIGINT) AS rn
        FROM li_hot
        WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate,
          l_orderkey, l_linenumber, l_partkey, l_quantity,
          l_extendedprice
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""")
      assert(!dbl.queryExecution.executedPlan.toString.contains("pid#"),
        "a double-summand running window must not be rewritten")
      // the RANGE class matcher: bounded trailing value frame splices
      // the ghost-row + two-pointer sweep rewrite (no tie requirement:
      // a RANGE frame is a value set)
      def qRng(view: String) = s"""SELECT l_suppkey, l_orderkey,
          l_linenumber, l_quantity,
          CAST(sum(CAST(l_quantity AS BIGINT)) OVER w AS BIGINT)
            AS rng_sum,
          CAST(count(*) OVER w AS BIGINT) AS rng_n
        FROM $view
        WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_orderkey
          RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW)"""
      spark.conf.unset(key)
      val rngOff = spark.sql(qRng("li_hot"))
      assert(!rngOff.queryExecution.executedPlan.toString.contains("pid#"))
      val rngExpected = rows(rngOff)
      spark.conf.set(key, "true")
      val rngHot = spark.sql(qRng("li_hot"))
      val gp = rngHot.queryExecution.executedPlan.toString
      assert(gp.contains("pid#"), gp.take(800))
      assert(rngHot.schema === rngOff.schema)
      assert(rows(rngHot) === rngExpected)
      // a non-integral ordering column must not rewrite (the sweep's
      // normalization contract)
      val badOrd = spark.sql(s"""SELECT l_suppkey, l_quantity,
          CAST(sum(CAST(l_quantity AS BIGINT)) OVER w AS BIGINT)
            AS rng_sum,
          CAST(count(*) OVER w AS BIGINT) AS rng_n
        FROM li_hot
        WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_extendedprice
          RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW)""")
      assert(!badOrd.queryExecution.executedPlan.toString.contains("pid#"),
        "a double ordering column must not be rewritten")
      // the RANK class matcher: two stacked Window operators
      // (rank/dense_rank on the coarse head column, ntile on the full
      // ordering) splice the run-group boundary rewrite
      def qRank(view: String) = s"""SELECT l_suppkey, l_orderkey,
          l_linenumber, l_shipdate, l_quantity,
          CAST(rank() OVER wd AS BIGINT) AS rnk,
          CAST(dense_rank() OVER wd AS BIGINT) AS drank,
          CAST(ntile(4) OVER wf AS BIGINT) AS bucket
        FROM $view
        WINDOW
          wd AS (PARTITION BY l_suppkey ORDER BY l_shipdate),
          wf AS (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey,
            l_linenumber, l_partkey, l_quantity, l_extendedprice)"""
      spark.conf.unset(key)
      val rkOff = spark.sql(qRank("li_hot"))
      assert(!rkOff.queryExecution.executedPlan.toString.contains("pid#"))
      val rkExpected = rows(rkOff)
      spark.conf.set(key, "true")
      val rkHot = spark.sql(qRank("li_hot"))
      val kp2 = rkHot.queryExecution.executedPlan.toString
      assert(kp2.contains("pid#"), kp2.take(800))
      assert(rkHot.schema === rkOff.schema)
      assert(rows(rkHot) === rkExpected)
      // a coarse order that is NOT the full ordering's head must not
      // rewrite (one shared range partitioning could not serve both)
      val badCoarse = spark.sql(s"""SELECT l_suppkey, l_orderkey,
          l_linenumber, l_shipdate, l_quantity,
          CAST(rank() OVER wd AS BIGINT) AS rnk,
          CAST(dense_rank() OVER wd AS BIGINT) AS drank,
          CAST(ntile(4) OVER wf AS BIGINT) AS bucket
        FROM li_hot
        WINDOW
          wd AS (PARTITION BY l_suppkey ORDER BY l_orderkey),
          wf AS (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey,
            l_linenumber, l_partkey, l_quantity, l_extendedprice)""")
      assert(!badCoarse.queryExecution.executedPlan.toString
        .contains("pid#"), "a non-prefix coarse order must not rewrite")
    } finally {
      spark.conf.unset(key)
      spark.conf.unset(graft.operators.Skew.MinHotRowsConf)
      spark.catalog.dropTempView("li_hot")
      spark.catalog.dropTempView("li_cold")
    }
  }

  test("widened window SQL matchers: function SUBSETS splice the " +
       "operator and project down; all-DESC orderings flip the " +
       "lag/running rewrites; single-window rank subsets waive the " +
       "passthrough tie guard; the new refusals hold") {
    val key = graft.plans.WindowAutoRewrite.ConfKey
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    li.withColumn("l_suppkey",
        when(col("l_orderkey") % 2 === 0, lit(7L))
          .otherwise(col("l_orderkey") % 2000 + 10000))
      .createOrReplaceTempView("li_hot2")
    val fullOrd = "l_shipdate, l_orderkey, l_linenumber, l_partkey, " +
      "l_quantity, l_extendedprice"
    val fullOrdDesc = fullOrd.split(", ").map(_ + " DESC").mkString(", ")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.mkString("|")).sorted.toSeq
    // (label, sql, mustFire)
    val cases = Seq(
      ("lag-only subset",
        s"""SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate,
            l_quantity, lag(l_quantity, 1) OVER w AS prev_qty
          FROM li_hot2
          WINDOW w AS (PARTITION BY l_suppkey ORDER BY $fullOrd)""", true),
      ("row_number-only subset",
        s"""SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate,
            l_quantity, CAST(row_number() OVER w AS BIGINT) AS rn
          FROM li_hot2
          WINDOW w AS (PARTITION BY l_suppkey ORDER BY $fullOrd)""", true),
      ("count-only running (routes to the lag operator: count over " +
        "the running frame IS row_number)",
        s"""SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate,
            l_quantity, CAST(count(*) OVER w AS BIGINT) AS rn
          FROM li_hot2
          WINDOW w AS (PARTITION BY l_suppkey ORDER BY $fullOrd
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""", true),
      ("sum-only running subset",
        s"""SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate,
            l_quantity,
            CAST(sum(CAST(l_quantity AS BIGINT)) OVER w AS BIGINT)
              AS running_qty
          FROM li_hot2
          WINDOW w AS (PARTITION BY l_suppkey ORDER BY $fullOrd
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""", true),
      ("sum-only range subset",
        s"""SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity,
            CAST(sum(CAST(l_quantity AS BIGINT)) OVER w AS BIGINT)
              AS rng_sum
          FROM li_hot2
          WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_orderkey
            RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW)""", true),
      ("all-DESC lag class (the reversed total order)",
        s"""SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate,
            l_quantity,
            lag(l_quantity, 1) OVER w AS prev_qty,
            lead(l_quantity, 1) OVER w AS next_qty,
            CAST(row_number() OVER w AS BIGINT) AS rn
          FROM li_hot2
          WINDOW w AS (PARTITION BY l_suppkey ORDER BY $fullOrdDesc)""",
        true),
      ("all-DESC running class",
        s"""SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate,
            l_quantity,
            CAST(sum(CAST(l_quantity AS BIGINT)) OVER w AS BIGINT)
              AS running_qty,
            CAST(count(*) OVER w AS BIGINT) AS rn
          FROM li_hot2
          WINDOW w AS (PARTITION BY l_suppkey ORDER BY $fullOrdDesc
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""", true),
      // rank/dense_rank are tie-invariant: l_quantity does NOT ride
      // the ordering and the rewrite must fire anyway (the waived
      // guard is the point of this shape)
      ("rank-only single window, tie guard waived",
        s"""SELECT l_suppkey, l_quantity,
            CAST(rank() OVER w AS BIGINT) AS rnk
          FROM li_hot2
          WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate)""",
        true),
      ("rank+dense_rank single window",
        s"""SELECT l_suppkey, l_quantity,
            CAST(rank() OVER w AS BIGINT) AS rnk,
            CAST(dense_rank() OVER w AS BIGINT) AS drank
          FROM li_hot2
          WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate)""",
        true),
      ("ntile-only single window WITH tie coverage",
        s"""SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate,
            l_quantity, CAST(ntile(4) OVER w AS BIGINT) AS bucket
          FROM li_hot2
          WINDOW w AS (PARTITION BY l_suppkey ORDER BY $fullOrd)""", true),
      ("offset-3 lag/lead (the array-context rewrite through the seam)",
        s"""SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate,
            l_quantity,
            lag(l_quantity, 3) OVER w AS prev_qty,
            lead(l_quantity, 3) OVER w AS next_qty,
            CAST(row_number() OVER w AS BIGINT) AS rn
          FROM li_hot2
          WINDOW w AS (PARTITION BY l_suppkey ORDER BY $fullOrd)""", true),
      // first/last/nth over the explicit whole-partition frame: the
      // outputs are per-key constants, so only the VALUE must ride
      // the ordering — l_quantity passes through un-tie-covered
      ("first/last/nth whole-frame class, passthrough tie waived",
        s"""SELECT l_suppkey, l_quantity,
            first_value(l_shipdate) OVER w AS first_sd,
            last_value(l_shipdate) OVER w AS last_sd,
            nth_value(l_shipdate, 2) OVER w AS nth_sd
          FROM li_hot2
          WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate
            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED
            FOLLOWING)""", true),
      // Spark's grammar puts the nulls option AFTER the parens
      // (DuckDB's oracle syntax is in-paren — engine-specific surface)
      ("IGNORE NULLS first/last/nth through the seam",
        s"""SELECT l_suppkey, l_quantity,
            first_value(l_shipdate) IGNORE NULLS OVER w AS first_sd,
            nth_value(l_shipdate, 2) IGNORE NULLS OVER w AS nth_sd
          FROM li_hot2
          WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate
            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED
            FOLLOWING)""", true),
      // refusals: each one load-bearing
      ("MIXED null treatments refuse (one edge extraction per class)",
        s"""SELECT l_suppkey, l_quantity,
            first_value(l_shipdate) IGNORE NULLS OVER w AS first_sd,
            last_value(l_shipdate) OVER w AS last_sd
          FROM li_hot2
          WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate
            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED
            FOLLOWING)""", false),
      ("DEFAULT-frame first_value refuses (running first, not the " +
        "partition constant)",
        s"""SELECT l_suppkey, l_quantity,
            first_value(l_shipdate) OVER w AS first_sd
          FROM li_hot2
          WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate)""",
        false),
      ("first_value of a non-ordering column refuses (tie-sensitive " +
        "constant)",
        s"""SELECT l_suppkey,
            first_value(l_quantity) OVER w AS first_q
          FROM li_hot2
          WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate
            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED
            FOLLOWING)""", false),
      ("MIXED lag/lead offsets refuse (one shared k per class)",
        s"""SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate,
            l_quantity,
            lag(l_quantity, 2) OVER w AS prev_qty,
            lead(l_quantity, 3) OVER w AS next_qty
          FROM li_hot2
          WINDOW w AS (PARTITION BY l_suppkey ORDER BY $fullOrd)""",
        false),
      ("ntile-only WITHOUT tie coverage refuses (row-number-dependent)",
        s"""SELECT l_suppkey, l_quantity,
            CAST(ntile(4) OVER w AS BIGINT) AS bucket
          FROM li_hot2
          WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate)""",
        false),
      ("rank over a MULTI-column ordering refuses (the operator ranks " +
        "on the coarse head only)",
        s"""SELECT l_suppkey, l_quantity,
            CAST(rank() OVER w AS BIGINT) AS rnk
          FROM li_hot2
          WINDOW w AS (PARTITION BY l_suppkey
            ORDER BY l_shipdate, l_orderkey)""", false),
      ("mixed sort directions refuse",
        s"""SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate,
            l_quantity, lag(l_quantity, 1) OVER w AS prev_qty
          FROM li_hot2
          WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate DESC,
            l_orderkey, l_linenumber, l_partkey, l_quantity,
            l_extendedprice)""", false),
      ("DESC range class refuses (the sweep is ascending)",
        s"""SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity,
            CAST(sum(CAST(l_quantity AS BIGINT)) OVER w AS BIGINT)
              AS rng_sum
          FROM li_hot2
          WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_orderkey DESC
            RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW)""", false))
    try {
      for ((label, sql, mustFire) <- cases) {
        spark.conf.unset(key)
        spark.conf.unset(graft.operators.Skew.MinHotRowsConf)
        val off = spark.sql(sql)
        assert(!off.queryExecution.executedPlan.toString.contains("pid#"),
          s"$label: rule off must stay plain")
        val expected = rows(off)
        spark.conf.set(key, "true")
        spark.conf.set(graft.operators.Skew.MinHotRowsConf, "0")
        val on = spark.sql(sql)
        val p = on.queryExecution.executedPlan.toString
        if (mustFire) assert(p.contains("pid#"), s"$label: must fire\n" +
          p.take(600))
        else assert(!p.contains("pid#"), s"$label: must refuse")
        assert(on.schema === off.schema, label)
        assert(rows(on) === expected, s"$label: row mismatch")
      }
    } finally {
      spark.conf.unset(key)
      spark.conf.unset(graft.operators.Skew.MinHotRowsConf)
      spark.catalog.dropTempView("li_hot2")
    }
  }

  test("the stacked rank class fires through the SQL seam on the " +
       "EVENTS shape (seam generality matches the operator's)") {
    val key = graft.plans.WindowAutoRewrite.ConfKey
    val ev = graft.sources.Tables.events(spark, dir)
      .withColumn("user_id",
        when(col("event_id") % 2 === 0, lit(7L))
          .otherwise(col("event_id") % 500 + 100000))
    ev.createOrReplaceTempView("ev_hot")
    val sql = """SELECT user_id, event_id, ts, event_type, value,
        CAST(rank() OVER wd AS BIGINT) AS rnk,
        CAST(dense_rank() OVER wd AS BIGINT) AS drank,
        CAST(ntile(4) OVER wf AS BIGINT) AS bucket
      FROM ev_hot
      WINDOW
        wd AS (PARTITION BY user_id ORDER BY event_type),
        wf AS (PARTITION BY user_id ORDER BY event_type, ts, event_id,
          value)"""
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.mkString("|")).sorted.toSeq
    try {
      val off = spark.sql(sql)
      assert(!off.queryExecution.executedPlan.toString.contains("pid#"))
      val expected = rows(off)
      spark.conf.set(key, "true")
      spark.conf.set(graft.operators.Skew.MinHotRowsConf, "0")
      val on = spark.sql(sql)
      val p = on.queryExecution.executedPlan.toString
      assert(p.contains("pid#"), p.take(800))
      assert(on.schema === off.schema)
      assert(rows(on) === expected)
    } finally {
      spark.conf.unset(key)
      spark.conf.unset(graft.operators.Skew.MinHotRowsConf)
      spark.catalog.dropTempView("ev_hot")
    }
  }

  test("scratch-name collisions refuse the window rewrite: a child " +
       "column named _v or ghost (range-class internals) keeps the " +
       "plain plan and its exact rows") {
    val key = graft.plans.WindowAutoRewrite.ConfKey
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .withColumn("l_suppkey",
        when(col("l_orderkey") % 2 === 0, lit(7L))
          .otherwise(col("l_orderkey") % 2000 + 10000))
    // `_v` is the range sweep's normalized summand (added via
    // withColumn — a same-named passthrough would be silently REPLACED
    // by the cast value); `ghost` is the shuffle-fallback emit filter;
    // `_js_`-prefixed names are dropped after the null-safe stats join
    for (bad <- Seq("_v", "ghost", "_js_l_suppkey")) {
      li.withColumn(bad, col("l_extendedprice") * 2)
        .createOrReplaceTempView("li_scratch")
      // the collision column is PROJECTED, so pruning cannot remove it
      // and the guard is the only thing standing between the user and
      // wrong data in that column
      val q = s"""SELECT `$bad`, l_suppkey, l_orderkey, l_quantity,
          CAST(sum(CAST(l_quantity AS BIGINT)) OVER w AS BIGINT)
            AS rng_sum,
          CAST(count(*) OVER w AS BIGINT) AS rng_n
        FROM li_scratch
        WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_orderkey
          RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW)"""
      val expected = spark.sql(q).collect()
        .map(_.mkString("|")).sorted.toSeq
      spark.conf.set(key, "true")
      spark.conf.set(graft.operators.Skew.MinHotRowsConf, "0")
      try {
        val on = spark.sql(q)
        val p = on.queryExecution.executedPlan.toString
        assert(!p.contains("pid#"),
          s"a child column named $bad must refuse the rewrite")
        assert(on.collect().map(_.mkString("|")).sorted.toSeq === expected)
      } finally {
        spark.conf.unset(key)
        spark.conf.unset(graft.operators.Skew.MinHotRowsConf)
        spark.catalog.dropTempView("li_scratch")
      }
    }
  }

  test("opt-in optimizer rule rewrites rank-filter windows to GroupedTopK") {
    val key = graft.plans.RankLimitRewrite.ConfKey
    // default off: the window formulation keeps its window plan — and
    // COLLECT the expected rows now, while the rule cannot fire (a lazy
    // frame captured here would be re-optimized under conf=true at
    // action time, making the parity check rewritten-vs-rewritten)
    val off = windowed(3).queryExecution.executedPlan.toString
    assert(!off.contains("GroupedTopK"), off.take(600))
    val expected = windowed(3).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    spark.conf.set(key, "true")
    try {
      val df = windowed(3)
      val p = df.queryExecution.executedPlan.toString
      // the rewrite fired: heap operator present, window + its sort gone
      assert(p.contains("GroupedTopKFinal"), p.take(800))
      assert(!p.contains("Window"), p.take(800))
      assert(!p.toLowerCase.contains("sort"), p.take(800))
      // and the results are exactly the window formulation's
      val got = df.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got === expected)
      // a query that still SELECTS the rank column must NOT rewrite
      // (GroupedTopK has no rank output — the guard is load-bearing)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      val keepsRn = spark.read.parquet(s"$dir/orders.parquet")
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
        .select(col("o_orderpriority"), col("rn"))
      val kp = keepsRn.queryExecution.executedPlan.toString
      assert(!kp.contains("GroupedTopK"), kp.take(800))
      assert(keepsRn.count() > 0L)
    } finally spark.conf.unset(key)
  }
}

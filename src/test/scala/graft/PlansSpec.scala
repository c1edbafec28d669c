package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.TopKPlans

/** The custom GroupedTopK physical operator: result parity with the
  * window formulation, the partial->shuffle->final plan shape, and the
  * bounded-memory reduction property; and the Bloom star-join rewrite
  * (fired plan shape, result parity, refusal without a selective dim).
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
    // group by the near-unique o_orderkey with a tiny bound: the task
    // must throw the honest-contract error (pointing at the window
    // formulation), not silently build an input-sized heap map
    val orders = spark.read.parquet(s"$dir/orders.parquet").coalesce(1)
    val e = intercept[Exception] {
      TopKPlans.groupedTopK(orders, Seq(col("o_orderkey")),
        Seq(col("o_totalprice").desc), 2, maxKeysPerTask = 10).count()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++
        msgs(x.getCause))
    assert(msgs(e).exists(m => m.contains("distinct group keys") &&
      m.contains("row_number")))
    // and the same query under the default bound is fine
    val ok = TopKPlans.groupedTopK(
      spark.read.parquet(s"$dir/orders.parquet").coalesce(1),
      Seq(col("o_orderkey")), Seq(col("o_totalprice").desc), 2)
    assert(ok.count() > 0L)
  }

  test("opt-in optimizer rule injects the bloom pre-filter into a plain star join") {
    def naive = spark.read.parquet(s"$dir/lineitem.parquet")
      .join(spark.read.parquet(s"$dir/orders.parquet")
          .filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._2, t._3)).toSeq
    // the rewrite applied to a query's optimized plan, run as a query
    def rewritten(df: org.apache.spark.sql.DataFrame) =
      org.apache.spark.sql.GraftSqlBridge.ofRows(spark,
        graft.plans.BloomJoinRewrite(spark, df.queryExecution.optimizedPlan))
    // the session never rewrites on its own: no word-table aggregate
    // in the plain plan
    val off = naive.queryExecution.executedPlan.toString
    assert(!off.contains("bit_or"), off.take(600))
    val expected = rows(naive)
    val df = rewritten(naive)
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
    assert(!rewritten(plain).queryExecution.executedPlan.toString
      .contains("bit_or"))
  }
}

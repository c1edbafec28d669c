package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.RelationalExt

class RelationalExtSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  val dir = "/root/testdata/sf0.001"

  test("approx_count_distinct lands within the documented error bound") {
    // the query emits the verdict itself (rel_err_ok = within
    // ApproxRelErrBound of exact) — the same TRUE the oracle asserts
    val rows = RelationalExt.aggApproxDistinct(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r => assert(r.getBoolean(2), r.toString) }
  }

  test("approx_percentile lands within the verdict bound of exact") {
    val rows = graft.operators.RelationalExt
      .aggApproxQuantile(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("p50_ok"), s"p50 out of bound: $r")
      assert(r.getAs[Boolean]("p95_ok"), s"p95 out of bound: $r")
      assert(r.getAs[Double]("p50_price") > 0.0)
      assert(r.getAs[Double]("p95_price") >= r.getAs[Double]("p50_price"))
    }
  }

  test("unpivot_melt emits one row per (row, metric)") {
    val out = graft.operators.RelationalExt.unpivotMelt(spark, dir)
    val n = spark.read.parquet(s"$dir/lineitem.parquet").count()
    assert(out.count() === n * 4)
    assert(out.select("metric").distinct().collect().map(_.getString(0))
      .toSet === Set("l_quantity", "l_extendedprice", "l_discount",
      "l_tax"))
  }

  test("merge_upsert: updates adjust, inserts add, keeps pass through") {
    val out = graft.operators.RelationalExt.mergeUpsert(spark, dir)
    val base = spark.read.parquet(s"$dir/orders.parquet")
    val nBase = base.count()
    val byOp = out.groupBy("op").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byOp.getOrElse("update", 0L) > 0L)
    assert(byOp.getOrElse("insert", 0L) > 0L)
    assert(byOp.getOrElse("update", 0L) + byOp.getOrElse("keep", 0L)
      === nBase)
    assert(out.count() === nBase + byOp("insert"))
    // an updated row carries exactly the +10.0 adjustment
    val sample = out.filter(col("op") === "update").limit(1).collect()(0)
    val orig = base.filter(col("o_orderkey") ===
      sample.getAs[Long]("o_orderkey")).collect()(0)
    assert(sample.getAs[Double]("o_totalprice") ===
      orig.getAs[Double]("o_totalprice") + 10.0)
    // inserted keys live above the shift and never collide with base
    val minIns = out.filter(col("op") === "insert")
      .agg(min("o_orderkey")).collect()(0).getLong(0)
    assert(minIns >= graft.operators.RelationalExt.MergeKeyShift)
  }

  test("cross join cardinality is |nation| x |region|") {
    assert(RelationalExt.joinCross(spark, dir).count() === 25L * 5L)
  }

  test("full outer keeps customers without big orders (null right side)") {
    val df = RelationalExt.joinFullOuter(spark, dir)
    assert(df.filter(col("n_big").isNull).count() > 0L)
    assert(df.count() >=
      spark.read.parquet(s"$dir/customer.parquet").count())
  }

  test("offset_limit returns rows 51..75 of the total order") {
    val all = spark.read.parquet(s"$dir/orders.parquet")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .select("o_orderkey").collect().map(_.getLong(0))
    val got = RelationalExt.offsetLimit(spark, dir)
      .collect().map(_.getLong(0))
    assert(got.toSeq === all.slice(50, 75).toSeq)
  }

  test("ntile buckets are balanced within 1 per partition") {
    val df = RelationalExt.windowLagLead(spark, dir)
      .groupBy("l_suppkey", "bucket4").count()
      .groupBy("l_suppkey")
      .agg((max("count") - min("count")).as("spread"))
    assert(df.filter(col("spread") > 1).count() === 0L)
  }

  test("sketch merge: verdicts hold and union tracks the direct sketch") {
    val r = RelationalExt.sketchMerge(spark, dir).collect()
    assert(r.nonEmpty)
    assert(r.forall(_.getBoolean(3)), "estimate left the 10% band")
    // merging per-source sketches must agree with sketching the whole
    // lang slice directly (the property that makes shard-level sketch
    // storage sound)
    val toks = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("lang"),
        explode(graft.functions.TextFunctions.tokens(col("text")))
          .as("term"))
    val direct = toks.groupBy("lang")
      .agg(hll_sketch_estimate(hll_sketch_agg(col("term"))).as("d"))
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    r.foreach { row =>
      val exact = row.getLong(2).toDouble
      assert(math.abs(direct(row.getString(0)) - exact) <= exact * 0.1)
    }
  }

  test("scd2: versions contiguous, one current, no no-change rows, " +
       "intervals chain") {
    val h = RelationalExt.scd2History(spark, dir).localCheckpoint()
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("custkey").orderBy("version")
    // exactly one open (is_current) row per customer, and it is the last
    val per = h.groupBy("custkey").agg(
      sum(when(col("is_current"), 1).otherwise(0)).as("n_open"),
      max("version").as("maxv"), count(lit(1)).as("n"),
      min("version").as("minv"))
    assert(per.filter(col("n_open") =!= 1).count() === 0L)
    // versions are contiguous 1..n
    assert(per.filter(col("minv") =!= 1 || col("maxv") =!= col("n"))
      .count() === 0L)
    val chained = h
      .withColumn("nxt_from", lead("valid_from", 1).over(w))
      .withColumn("prev_status", lag("status", 1).over(w))
    // a version's valid_to is exactly the next version's valid_from,
    // and null only on the current row
    assert(chained.filter(
      (col("nxt_from").isNotNull && col("valid_to") =!= col("nxt_from")) ||
      (col("nxt_from").isNull && !col("is_current"))).count() === 0L)
    // consecutive versions always differ in status (no-change events
    // opened no version)
    assert(chained.filter(col("prev_status").isNotNull &&
      col("prev_status") === col("status")).count() === 0L)
  }

  test("grouping_sets, subq_correlated and window_range_frame leave no " +
       "temp view in the caller's catalog") {
    def tables = spark.catalog.listTables().collect().map(_.name).toSet
    val before = tables
    val dfs = Seq(RelationalExt.groupingSets(spark, dir),
      RelationalExt.subqCorrelated(spark, dir),
      RelationalExt.windowRangeFrame(spark, dir))
    dfs.foreach(df => assert(df.count() > 0L))
    val after = tables
    for (v <- Seq("graft_li_gs", "graft_li_corr", "graft_ord_rng"))
      assert(!after.contains(v), s"$v left behind")
    assert(after === before, s"new views: ${after -- before}")
  }
}

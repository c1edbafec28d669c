package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Skew

/** Skew operators, extension injection, custom aggregator, schema drift. */
class SkewAndExtSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  val dir = "/root/testdata/sf0.001"

  test("salted join result equals the plain join (salting is invisible)") {
    val salted = Skew.joinSalted(spark, dir)
    val plain = spark.read.parquet(s"$dir/lineitem.parquet")
      .join(spark.read.parquet(s"$dir/supplier.parquet"),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"),
        col("s_name"), col("l_quantity"))
    assert(salted.count() === plain.count())
    assert(salted.except(plain).count() === 0L)
    assert(plain.except(salted).count() === 0L)
  }

  test("two-phase aggregation equals single-phase") {
    val two = Skew.aggTwoPhase(spark, dir)
    val one = spark.read.parquet(s"$dir/lineitem.parquet")
      .groupBy(col("l_returnflag"))
      .agg(sum("l_quantity").as("sum_qty"),
        sum(col("l_extendedprice")
          .cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("sum_price"),
        count(lit(1)).as("n"))
    assert(two.except(one).count() === 0L && one.except(two).count() === 0L)
  }

  test("window_lag_skew equals the plain per-key window, multiset for " +
       "multiset — chunk boundaries, offsets, and edge lag/lead all land") {
    import org.apache.spark.sql.expressions.Window
    val rewritten = Skew.windowLagSkew(spark, dir)
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
    val plain = spark.read.parquet(s"$dir/lineitem.parquet")
      .withColumn("prev_qty", lag(col("l_quantity"), 1).over(w))
      .withColumn("next_qty", lead(col("l_quantity"), 1).over(w))
      .withColumn("rn", row_number().over(w).cast("long"))
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("l_shipdate"), col("l_quantity"), col("prev_qty"),
        col("next_qty"), col("rn"))
    assert(rewritten.count() === plain.count())
    // exceptAll both ways: full-duplicate rows make this a MULTISET
    // comparison (except() would mask a cardinality bug on dup rows)
    assert(rewritten.exceptAll(plain).count() === 0L)
    assert(plain.exceptAll(rewritten).count() === 0L)
    // sanity: chunking actually happened (more than one chunk holds
    // rows), so the boundary algebra above was genuinely exercised
    val chunks = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_suppkey"), col("l_shipdate"), col("l_orderkey"),
        col("l_linenumber"), col("l_partkey"), col("l_quantity"),
        col("l_extendedprice"))
      .repartitionByRange(spark.sparkContext.defaultParallelism,
        col("l_suppkey"), col("l_shipdate"), col("l_orderkey"),
        col("l_linenumber"), col("l_partkey"), col("l_quantity"),
        col("l_extendedprice"))
      .select(org.apache.spark.sql.functions.spark_partition_id().as("p"))
      .distinct().count()
    assert(chunks > 1L, s"only $chunks chunk(s) — boundary paths untested")
  }

  test("descending WindowSpec: the chunked lag and running rewrites " +
       "equal their plain DESC twins, multiset for multiset (the " +
       "reversed-total-order flip: desc range partitioning, swapped " +
       "first/last edge stats)") {
    import graft.operators.WindowSpec
    val spec = WindowSpec.Lineitem.copy(descending = true)
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val lagChunked = Skew.windowLagSkewOn(spark, li, spec)
    val lagPlain = Skew.windowLagPlain(li, spec)
    assert(lagChunked.count() === lagPlain.count())
    assert(lagChunked.exceptAll(lagPlain).count() === 0L)
    assert(lagPlain.exceptAll(lagChunked).count() === 0L)
    val runChunked = Skew.windowRunningSkewOn(spark, li, spec)
    val runPlain = Skew.windowRunningPlain(li, spec)
    assert(runChunked.count() === runPlain.count())
    assert(runChunked.exceptAll(runPlain).count() === 0L)
    assert(runPlain.exceptAll(runChunked).count() === 0L)
    // desc really differs from asc here (prev/next swap roles), so the
    // equalities above could not have passed on an ignored flag
    val lagAsc = Skew.windowLagPlain(li, WindowSpec.Lineitem)
    assert(lagPlain.exceptAll(lagAsc).count() > 0L)
    // the ascending-only classes refuse a descending spec loudly
    intercept[IllegalArgumentException] {
      Skew.windowRankSkewOn(spark, li, spec = spec)
    }
    intercept[IllegalArgumentException] {
      Skew.windowRangeSkewOn(spark, li, spec = spec)
    }
  }

  test("general-offset lag/lead (k > 1): the array-context rewrite " +
       "equals the plain offset-k window, including offsets SPANNING " +
       "several chunks, and composes with descending") {
    import graft.operators.WindowSpec
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    for (k <- Seq(2, 5)) {
      val chunked = Skew.windowLagSkewOn(spark, li,
        WindowSpec.Lineitem, k)
      val plain = Skew.windowLagPlain(li, WindowSpec.Lineitem, k)
      assert(chunked.count() === plain.count(), s"k=$k")
      assert(chunked.exceptAll(plain).count() === 0L, s"k=$k")
      assert(plain.exceptAll(chunked).count() === 0L, s"k=$k")
    }
    // the adversarial shape: 3 keys x 200 rows over 32 range chunks
    // puts ~19 rows of a key in each chunk, so an offset of 40 must
    // stitch context across three or more chunk boundaries — the case
    // the k=1 scalar algebra could never serve. A planted null value
    // pins the struct-wrapped collect (bare collect_list would drop
    // it and silently shift every context index).
    import spark.implicits._
    val narrow = (0 until 600).map { i =>
      (i / 200L, i.toLong,
        if (i % 97 == 0) null.asInstanceOf[java.lang.Double]
        else java.lang.Double.valueOf(i.toDouble))
    }.toDF("k", "o", "v").repartition(7)
    val spec = WindowSpec(key = "k", ord = Seq("o"), value = "v",
      rangeOrd = "o", out = Seq("k", "o", "v"),
      rangeOut = Seq("k", "o", "v"), valueAlias = "val")
    for (k <- Seq(40, 199, 200, 250)) {
      val chunked = Skew.windowLagSkewOn(spark, narrow, spec, k)
      val plain = Skew.windowLagPlain(narrow, spec, k)
      assert(chunked.exceptAll(plain).count() === 0L, s"k=$k")
      assert(plain.exceptAll(chunked).count() === 0L, s"k=$k")
    }
    // descending composes: the edge arrays are extracted by local row
    // number, so the flip costs nothing extra
    val dspec = WindowSpec.Lineitem.copy(descending = true)
    val dChunked = Skew.windowLagSkewOn(spark, li, dspec, 3)
    val dPlain = Skew.windowLagPlain(li, dspec, 3)
    assert(dChunked.exceptAll(dPlain).count() === 0L)
    assert(dPlain.exceptAll(dChunked).count() === 0L)
  }

  test("first/last/nth whole-partition frame: the per-key-constant " +
       "reduction equals the plain window, nth spanning chunks, nulls " +
       "surviving, descending composing; percent_rank/cume_dist from " +
       "the rank machinery equal their plain twins") {
    import graft.operators.WindowSpec
    val orders = spark.read.parquet(s"$dir/orders.parquet")
    val fl = Skew.windowFirstLastSkewOn(spark, orders, Skew.OrdersFirstLast)
    val flP = Skew.windowFirstLastPlain(orders, Skew.OrdersFirstLast)
    assert(fl.count() === flP.count())
    assert(fl.exceptAll(flP).count() === 0L)
    assert(flP.exceptAll(fl).count() === 0L)
    // nth position spanning several chunks, with planted null values
    // (struct-wrapped collect) and a key SHORTER than n (null nth)
    import spark.implicits._
    val narrow = (0 until 620).map { i =>
      val key = if (i < 600) i / 200L else 3L // key 3: only 20 rows
      (key, i.toLong,
        if (i % 83 == 0) null.asInstanceOf[java.lang.Double]
        else java.lang.Double.valueOf(i.toDouble))
    }.toDF("k", "o", "v").repartition(7)
    val spec = WindowSpec(key = "k", ord = Seq("o"), value = "v",
      rangeOrd = "o", out = Seq("k", "o", "v"),
      rangeOut = Seq("k", "o", "v"), valueAlias = "val")
    for (n <- Seq(45, 200)) {
      val c = Skew.windowFirstLastSkewOn(spark, narrow, spec, n)
      val p = Skew.windowFirstLastPlain(narrow, spec, n)
      assert(c.exceptAll(p).count() === 0L, s"n=$n")
      assert(p.exceptAll(c).count() === 0L, s"n=$n")
    }
    val dspec = Skew.OrdersFirstLast.copy(descending = true)
    val dC = Skew.windowFirstLastSkewOn(spark, orders, dspec)
    val dP = Skew.windowFirstLastPlain(orders, dspec)
    assert(dC.exceptAll(dP).count() === 0L)
    assert(dP.exceptAll(dC).count() === 0L)
    // IGNORE NULLS: constants over the non-null subsequence; key 4's
    // values are ALL null, so its rows must survive the left join
    // with null constants (the window's own answer)
    val nullly = (0 until 640).map { i =>
      val key = if (i < 600) i / 200L else if (i < 620) 3L else 4L
      (key, i.toLong,
        if (key == 4L || i % 5 == 0) null.asInstanceOf[java.lang.Long]
        else java.lang.Long.valueOf(i.toLong))
    }.toDF("k", "o", "v").repartition(7)
    for (ig <- Seq(true, false)) {
      val c = Skew.windowFirstLastSkewOn(spark, nullly, spec, 2,
        ignoreNulls = ig)
      val p = Skew.windowFirstLastPlain(nullly, spec, 2,
        ignoreNulls = ig)
      assert(c.count() === 640L, s"ig=$ig: all rows must survive")
      assert(c.exceptAll(p).count() === 0L, s"ig=$ig")
      assert(p.exceptAll(c).count() === 0L, s"ig=$ig")
    }
    // the auto dispatcher serves the class: threshold 0.0 (hot-row
    // floor at 0) takes the chunked branch, 1.1 the plain window — rows
    // identical either way (the windowAutoOn contract, fifth class)
    val hotAuto = Skew.windowAutoOn(spark, orders, "flast", 0.0,
      spec = Skew.OrdersFirstLast, minHotRows = 0L)
    assert(hotAuto.queryExecution.executedPlan.toString.contains("pid#"))
    assert(hotAuto.exceptAll(flP).count() === 0L)
    val coldAuto = Skew.windowAutoOn(spark, orders, "flast", 1.1,
      spec = Skew.OrdersFirstLast, minHotRows = 0L)
    assert(!coldAuto.queryExecution.executedPlan.toString
      .contains("pid#"))
    assert(coldAuto.exceptAll(flP).count() === 0L)
    // percent_rank / cume_dist
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val ext = Skew.windowRankSkewOn(spark, li,
      spec = WindowSpec.Lineitem, extended = true)
    val extP = Skew.windowRankExtPlain(li)
    assert(ext.count() === extP.count())
    assert(ext.exceptAll(extP).count() === 0L)
    assert(extP.exceptAll(ext).count() === 0L)
    // cume_dist's boundary-run END device (r22): one coarse value
    // owning a 1200-row run forces the run to SPAN chunks, including
    // single-valued middle chunks (the forward run-group chain) and
    // an ending inside a multi-valued chunk (the nxt_cont +
    // cnt_first arm) — the cases the lineitem data rarely produces
    val chain = (0 until 2000).map { i =>
      val c = if (i < 400) i.toLong / 50
        else if (i < 1600) 99L
        else 100L + i
      (1L, c, i.toLong)
    }.toDF("k", "c", "u").repartition(7)
    val cspec = WindowSpec(key = "k", ord = Seq("c", "u"), value = "u",
      rangeOrd = "u", out = Seq("k", "c", "u"),
      rangeOut = Seq("k", "c", "u"), valueAlias = "u")
    val chainExt = Skew.windowRankSkewOn(spark, chain,
      spec = cspec, extended = true)
    val chainP = Skew.windowRankExtPlain(chain, cspec)
    assert(chainExt.exceptAll(chainP).count() === 0L)
    assert(chainP.exceptAll(chainExt).count() === 0L)
  }

  test("window_rank_skew equals the plain rank/dense_rank/ntile windows, " +
       "multiset for multiset — boundary tie runs, distinct-count " +
       "overlaps, and the run-group device all land") {
    import org.apache.spark.sql.expressions.Window
    val rewritten = Skew.windowRankSkew(spark, dir)
    val wd = Window.partitionBy(col("l_suppkey")).orderBy(col("l_shipdate"))
    val wf = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
    val plain = spark.read.parquet(s"$dir/lineitem.parquet")
      .withColumn("rnk", rank().over(wd).cast("long"))
      .withColumn("drank", dense_rank().over(wd).cast("long"))
      .withColumn("bucket", ntile(4).over(wf).cast("long"))
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("l_shipdate"), col("l_quantity"), col("rnk"), col("drank"),
        col("bucket"))
    assert(rewritten.count() === plain.count())
    assert(rewritten.exceptAll(plain).count() === 0L)
    assert(plain.exceptAll(rewritten).count() === 0L)
    // the coarse shipdate ordering means real tie runs: assert ranks
    // genuinely differ from dense ranks and from row numbers somewhere,
    // or the boundary machinery would be vacuously "correct"
    val r = rewritten.limit(100000)
    assert(r.filter(col("rnk") =!= col("drank")).count() > 0L,
      "no tie runs at all — rank==dense_rank everywhere is vacuous")
  }

  test("window_rank_skew boundary chain: ONE date spanning many whole " +
       "chunks (the run-group device's adversarial case) still equals " +
       "the plain windows") {
    import org.apache.spark.sql.expressions.Window
    // planted lineitem: supplier 1 has 20k rows of a single date (the
    // viral date — spans most of the 32 range chunks as whole-chunk
    // runs) bracketed by a handful of earlier/later dates; supplier 2
    // is small and ordinary. Exercises: cont-chains through
    // single-date chunks, run-start propagation past several chunks,
    // and distinct-count overlap subtraction across the same chain.
    val tmp = java.nio.file.Files.createTempDirectory("rankskew").toString
    val rows = (1 to 200).map(i =>
        (1L, 1000L + i, 1, java.sql.Date.valueOf("1994-01-01"),
          (i % 7 + 1).toDouble, 10L + i, 100.0 + i)) ++
      (1 to 20000).map(i =>
        (1L, 2000L + i, 1, java.sql.Date.valueOf("1995-06-15"),
          (i % 9 + 1).toDouble, 30000L + i, 500.0 + i)) ++
      (1 to 150).map(i =>
        (1L, 90000L + i, 1, java.sql.Date.valueOf("1997-12-31"),
          (i % 5 + 1).toDouble, 60000L + i, 900.0 + i)) ++
      (1 to 300).map(i =>
        (2L, 500000L + i, 1,
          java.sql.Date.valueOf(f"1996-0${i % 9 + 1}%d-11"),
          (i % 4 + 1).toDouble, 80000L + i, 50.0 + i))
    spark.createDataFrame(rows).toDF("l_suppkey", "l_orderkey",
        "l_linenumber", "l_shipdate", "l_quantity", "l_partkey",
        "l_extendedprice")
      .write.parquet(s"$tmp/lineitem.parquet")
    val rewritten = Skew.windowRankSkew(spark, tmp)
    val wd = Window.partitionBy(col("l_suppkey")).orderBy(col("l_shipdate"))
    val wf = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
    val plain = spark.read.parquet(s"$tmp/lineitem.parquet")
      .withColumn("rnk", rank().over(wd).cast("long"))
      .withColumn("drank", dense_rank().over(wd).cast("long"))
      .withColumn("bucket", ntile(4).over(wf).cast("long"))
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("l_shipdate"), col("l_quantity"), col("rnk"), col("drank"),
        col("bucket"))
    assert(rewritten.count() === plain.count())
    assert(rewritten.exceptAll(plain).count() === 0L)
    assert(plain.exceptAll(rewritten).count() === 0L)
    // non-vacuity: the viral date really does span several chunks
    val viralChunks = spark.read.parquet(s"$tmp/lineitem.parquet")
      .repartitionByRange(spark.sparkContext.defaultParallelism,
        col("l_suppkey"), col("l_shipdate"), col("l_orderkey"),
        col("l_linenumber"), col("l_partkey"), col("l_quantity"),
        col("l_extendedprice"))
      .select(spark_partition_id().as("p"), col("l_shipdate"))
      .filter(col("l_shipdate") === lit("1995-06-15"))
      .select(col("p")).distinct().count()
    assert(viralChunks >= 3L,
      s"viral date spans only $viralChunks chunk(s) — chain untested")
  }

  test("window_range_skew equals the plain value-range window, multiset " +
       "for multiset — expression-ranged ghost rows cover cross-chunk " +
       "frame need") {
    import org.apache.spark.sql.expressions.Window
    val rewritten = Skew.windowRangeSkew(spark, dir)
    val w = Window.partitionBy(col("l_suppkey")).orderBy(col("l_orderkey"))
      .rangeBetween(-Skew.RangeSkewW, 0)
    val plain = spark.read.parquet(s"$dir/lineitem.parquet")
      .withColumn("rng_sum", sum(col("l_quantity").cast("long")).over(w))
      .withColumn("rng_n", count(lit(1)).over(w))
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("rng_sum"), col("rng_n"))
    assert(rewritten.count() === plain.count())
    assert(rewritten.exceptAll(plain).count() === 0L)
    assert(plain.exceptAll(rewritten).count() === 0L)
    // non-vacuity: multi-row frames exist at all, and a wide frame
    // genuinely spans chunks (a frame wider than w/chunks of the key's
    // value range must — the rewrite would lose its cross-chunk rows
    // without the ghost expansion)
    assert(plain.filter(col("rng_n") > 1L).count() > 0L)
    // the deterministic stamp puts a wide-w frame across several
    // chunks: with w covering the whole orderkey range, every row's
    // frame is the key's full history — the maximal ghost-chain case
    val wide = Skew.windowRangeSkewOn(spark,
      spark.read.parquet(s"$dir/lineitem.parquet"), w = 10000000L)
    val wWide = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_orderkey")).rangeBetween(-10000000L, 0)
    val plainWide = spark.read.parquet(s"$dir/lineitem.parquet")
      .withColumn("rng_sum",
        sum(col("l_quantity").cast("long")).over(wWide))
      .withColumn("rng_n", count(lit(1)).over(wWide))
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("rng_sum"), col("rng_n"))
    assert(wide.exceptAll(plainWide).count() === 0L)
    assert(plainWide.exceptAll(wide).count() === 0L)
  }

  test("range class at ordering values within w of Long.MaxValue: the " +
       "chunked sweep equals windowRangePlain (the frame's far edge " +
       "saturates instead of wrapping, so ghosts still ship)") {
    import graft.operators.WindowSpec
    import spark.implicits._
    // 3 keys x 200 rows at the top of the BIGINT range; w = 1000 spans
    // each key's whole history, so every row's far edge lies past
    // Long.MaxValue and every chunk boundary inside a key must be
    // crossed by ghosts
    val df = (0 until 600).map { i =>
      (i / 200L, Long.MaxValue - 599L + i, (i % 7).toLong)
    }.toDF("k", "o", "v").repartition(5)
    val spec = WindowSpec(key = "k", ord = Seq("o"), value = "v",
      rangeOrd = "o", out = Seq("k", "o", "v"),
      rangeOut = Seq("k", "o", "v"))
    val w = 1000L
    val chunked = Skew.windowRangeSkewOn(spark, df, w, spec)
    val plain = Skew.windowRangePlain(df, w, spec)
    assert(chunked.count() === plain.count())
    assert(chunked.exceptAll(plain).count() === 0L)
    assert(plain.exceptAll(chunked).count() === 0L)
    // non-vacuity: each key's last row sees the key's full history
    assert(plain.filter(col("rng_n") === 200L).count() === 3L)
  }

  test("range class at ordering values within w of Long.MinValue: the " +
       "chunked sweep equals a brute-force BigInt reference (the frame's " +
       "near edge saturates instead of wrapping)") {
    import graft.operators.WindowSpec
    import spark.implicits._
    // 3 keys x 200 rows at the bottom of the BIGINT range; every row's
    // near edge o - w lies below Long.MinValue, so a wrapped subtract
    // would evict each key's whole history
    val rows = (0 until 600).map { i =>
      (i / 200L, Long.MinValue + i, (i % 7).toLong)
    }
    val df = rows.toDF("k", "o", "v").repartition(5)
    val spec = WindowSpec(key = "k", ord = Seq("o"), value = "v",
      rangeOrd = "o", out = Seq("k", "o", "v"),
      rangeOut = Seq("k", "o", "v"))
    val w = 1000L
    // RANGE BETWEEN w PRECEDING AND CURRENT ROW, in exact arithmetic
    val expected = rows.map { case (k, o, v) =>
      val frame = rows.filter { case (k2, o2, _) =>
        k2 == k && BigInt(o2) >= BigInt(o) - w && o2 <= o
      }
      (k, o, v, frame.map(_._3).sum, frame.length.toLong)
    }.sorted
    val got = Skew.windowRangeSkewOn(spark, df, w, spec).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq.sorted
    assert(got === expected)
    // non-vacuity: each key's last row sees the key's full history
    assert(expected.count(_._5 == 200L) === 3)
  }

  test("window_running_skew equals the plain running-frame window, " +
       "multiset for multiset") {
    import org.apache.spark.sql.expressions.Window
    val rewritten = Skew.windowRunningSkew(spark, dir)
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val plain = spark.read.parquet(s"$dir/lineitem.parquet")
      .withColumn("running_qty", sum(col("l_quantity").cast("long")).over(w))
      .withColumn("rn", count(lit(1)).over(w))
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("l_shipdate"), col("l_quantity"), col("running_qty"),
        col("rn"))
    assert(rewritten.count() === plain.count())
    assert(rewritten.exceptAll(plain).count() === 0L)
    assert(plain.exceptAll(rewritten).count() === 0L)
  }

  test("skew_diagnose profiles every key column with a verifiable top key") {
    val rows = Skew.skewDiagnose(spark, dir).collect()
    assert(rows.map(_.getAs[String]("key_col")).sorted.toSeq ===
      Skew.SkewKeyCols.sorted)
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val n = li.count()
    rows.foreach { r =>
      assert(r.getAs[Long]("n_rows") === n)
      val share = r.getAs[Double]("top_share")
      assert(share > 0.0 && share <= 1.0)
    }
    // audit l_suppkey's top key against a direct recompute
    val expect = li.groupBy("l_suppkey").count()
      .orderBy(col("count").desc, col("l_suppkey")).first()
    val got = rows.find(_.getAs[String]("key_col") == "l_suppkey").get
    assert(got.getAs[Long]("top_key") === expect.getLong(0))
    assert(got.getAs[Long]("max_cnt") === expect.getLong(1))
    // the machine-readable window recommendation follows top_share
    // against the fixed WindowSkewShare bound on every row
    rows.foreach { r =>
      val want =
        if (r.getAs[Double]("top_share") >= Skew.WindowSkewShare)
          "window_lag_skew"
        else "plain_window"
      assert(r.getAs[String]("window_plan") === want)
    }
    // the engine API profiles any table shape: events keyed two ways,
    // top user audited against a direct recompute
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val evRows = Skew.skewDiagnoseOn(ev, Seq("user_id", "event_id"))
      .collect()
    assert(evRows.map(_.getAs[String]("key_col")).sorted.toSeq ===
      Seq("event_id", "user_id"))
    val evTop = ev.groupBy("user_id").count()
      .orderBy(col("count").desc, col("user_id")).first()
    val gotEv = evRows.find(_.getAs[String]("key_col") == "user_id").get
    assert(gotEv.getAs[Long]("top_key") === evTop.getLong(0))
    assert(gotEv.getAs[Long]("max_cnt") === evTop.getLong(1))
  }

  test("windowAuto dispatches on the profiled top-key share: plain " +
       "single-window plan below the threshold, chunked rewrite above — " +
       "identical rows either way") {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    // same table, two key shapes: ~uniform (top share far below the
    // 1/P threshold) and planted-hot (one key owns ~half the rows)
    val uniform = li.withColumn("l_suppkey", col("l_orderkey") % 2000)
    val skewed = li.withColumn("l_suppkey",
      when(col("l_orderkey") % 2 === 0, lit(7L))
        .otherwise(col("l_orderkey") % 2000 + 10000))
    def share(df: org.apache.spark.sql.DataFrame): Double = {
      val (hot, total) = Skew.topKeyStats(df, "l_suppkey")
      hot.toDouble / total
    }
    assert(share(uniform) < Skew.WindowSkewShare)
    assert(share(skewed) >= Skew.WindowSkewShare)
    // the SECOND dispatch signal: at the DEFAULT absolute hot-row
    // floor this planted key (share ~0.5 but only ~3k hot rows) is
    // hot-but-tiny — the measured events-×100 case where the chunk
    // machinery cancels the win — so the dispatcher must stay plain
    assert(!Skew.windowAutoOn(spark, skewed).queryExecution
      .executedPlan.toString.contains("pid#"),
      "a tiny hot partition must not pay the chunk machinery")
    // floor lowered to 0: share alone decides — the rest of this test
    // pins the share signal's mechanics on executed plans
    val plainPick = Skew.windowAutoOn(spark, uniform, minHotRows = 0L)
    val chunkPick = Skew.windowAutoOn(spark, skewed, minHotRows = 0L)
    // dispatch pinned on EXECUTED plans (the chunked rewrite's
    // signature is the spark_partition_id chunk column; the plain
    // branch must be one Window with no chunk machinery)
    plainPick.write.format("noop").mode("overwrite").save()
    chunkPick.write.format("noop").mode("overwrite").save()
    // the chunked rewrites stamp the deterministic pid chunk column
    // (rangeChunked); the plain branch must carry no chunk machinery
    val plainPlan = plainPick.queryExecution.executedPlan.toString
    val chunkPlan = chunkPick.queryExecution.executedPlan.toString
    assert(!plainPlan.contains("pid#"),
      "below the share threshold the dispatcher must run the plain window")
    assert(plainPlan.contains("Window"))
    assert(chunkPlan.contains("pid#"),
      "above the share threshold the dispatcher must run the chunked " +
        "rewrite")
    // the skewed pick still equals the literal window, rows for rows
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
    val literal = skewed
      .withColumn("prev_qty", lag(col("l_quantity"), 1).over(w))
      .withColumn("next_qty", lead(col("l_quantity"), 1).over(w))
      .withColumn("rn", row_number().over(w).cast("long"))
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("l_shipdate"), col("l_quantity"), col("prev_qty"),
        col("next_qty"), col("rn"))
    assert(chunkPick.exceptAll(literal).count() === 0L)
    assert(literal.exceptAll(chunkPick).count() === 0L)
    // per-class dispatch: every window class obeys the same verdict
    for (cls <- Seq("rank", "running", "range")) {
      assert(!Skew.windowAutoOn(spark, uniform, cls, minHotRows = 0L)
        .queryExecution.executedPlan.toString.contains("pid#"),
        s"class $cls must run plain below the threshold")
      assert(Skew.windowAutoOn(spark, skewed, cls, minHotRows = 0L)
        .queryExecution.executedPlan.toString.contains("pid#"),
        s"class $cls must run chunked above the threshold")
    }
  }

  test("windowAuto on a second table shape (events keyed on user_id): " +
       "the parameterized spec dispatches a planted hot key to the " +
       "chunked rewrite and equals the literal windows, every class") {
    import org.apache.spark.sql.expressions.Window
    import graft.operators.WindowSpec
    val ev = spark.read.parquet(s"$dir/events.parquet")
    // benign: ~500 synthetic users over ~1000 events (top share ~0.002);
    // hot: one user owns half the rows
    val uniform = ev.withColumn("user_id", col("event_id") % 500)
    val skewed = ev.withColumn("user_id",
      when(col("event_id") % 2 === 0, lit(42L))
        .otherwise(col("event_id") % 500 + 10000))
    val spec = WindowSpec.Events
    // floor at 0 for the mechanics pin: the planted hot key is tiny in
    // ABSOLUTE rows, which the default floor correctly leaves plain
    // (the first dispatch test pins that signal)
    def auto(df: org.apache.spark.sql.DataFrame, cls: String) =
      Skew.windowAutoOn(spark, df, cls, spec = spec, minHotRows = 0L)
    for (cls <- Seq("lag", "rank", "running", "range")) {
      assert(!auto(uniform, cls)
        .queryExecution.executedPlan.toString.contains("pid#"),
        s"events/$cls must run plain below the threshold")
      assert(auto(skewed, cls)
        .queryExecution.executedPlan.toString.contains("pid#"),
        s"events/$cls must run chunked above the threshold")
    }
    // the chunked branch equals the literal windows, multiset for
    // multiset, on the hot-key frame — none of the boundary algebra
    // below is lineitem-specific
    val wf = Window.partitionBy(col("user_id"))
      .orderBy(col("event_type"), col("ts"), col("event_id"), col("value"))
    val lagLit = skewed.select(col("user_id"), col("event_id"), col("ts"),
      col("event_type"), col("value"),
      lag(col("value"), 1).over(wf).as("prev_val"),
      lead(col("value"), 1).over(wf).as("next_val"),
      row_number().over(wf).cast("long").as("rn"))
    val lagChunk = auto(skewed, "lag")
    assert(lagChunk.exceptAll(lagLit).count() === 0L)
    assert(lagLit.exceptAll(lagChunk).count() === 0L)
    val wd = Window.partitionBy(col("user_id")).orderBy(col("event_type"))
    val rankLit = skewed.select(col("user_id"), col("event_id"), col("ts"),
      col("event_type"), col("value"),
      rank().over(wd).cast("long").as("rnk"),
      dense_rank().over(wd).cast("long").as("drank"),
      ntile(4).over(wf).cast("long").as("bucket"))
    val rankChunk = auto(skewed, "rank")
    assert(rankChunk.exceptAll(rankLit).count() === 0L)
    assert(rankLit.exceptAll(rankChunk).count() === 0L)
    // real coarse ties (the boundary machinery's food): rnk != drank
    assert(rankLit.filter(col("rnk") =!= col("drank")).count() > 0L)
    val wr = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      .rangeBetween(-Skew.RangeSkewW, 0)
    val rangeLit = skewed.select(col("user_id"), col("event_id"),
      col("event_type"), col("value"),
      sum(col("value").cast("long")).over(wr).as("rng_sum"),
      count(lit(1)).over(wr).as("rng_n"))
    val rangeChunk = auto(skewed, "range")
    assert(rangeChunk.exceptAll(rangeLit).count() === 0L)
    assert(rangeLit.exceptAll(rangeChunk).count() === 0L)
    val wrun = wf.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val runLit = skewed.select(col("user_id"), col("event_id"), col("ts"),
      col("event_type"), col("value"),
      sum(col("value").cast("long")).over(wrun).as("running_val"),
      count(lit(1)).over(wrun).as("rn"))
    val runChunk = auto(skewed, "running")
    assert(runChunk.exceptAll(runLit).count() === 0L)
    assert(runLit.exceptAll(runChunk).count() === 0L)
  }

  test("sampled profile dispatches identically to the exact scan on " +
       "both a skewed and a benign corpus") {
    // corpora big enough that the sampled branch really runs (the
    // floor guards tiny frames back to the exact scan)
    val benign = spark.range(400000L).select(
      (col("id") % 8000).as("k"), col("id").as("v"))
    val skewed = spark.range(400000L).select(
      when(col("id") % 5 =!= 0, lit(7L)).otherwise(col("id")).as("k"),
      col("id").as("v"))
    def share(stats: (Long, Long)): Double =
      stats._1.toDouble / stats._2
    for (df <- Seq(benign, skewed)) {
      val exact = share(Skew.topKeyStats(df, "k"))
      val sampled = share(Skew.topKeyStatsSampled(df, "k", floor = 1000L))
      assert((exact >= Skew.WindowSkewShare) ===
        (sampled >= Skew.WindowSkewShare),
        s"dispatch flips sampled=$sampled exact=$exact")
      // the estimate is genuinely close, not merely same-side
      assert(math.abs(exact - sampled) < 0.01,
        s"sampled=$sampled exact=$exact")
    }
    // below the floor the sampled path falls back to the exact scan:
    // tiny frames always dispatch deterministically
    val tiny = spark.range(1000L).select((col("id") % 7).as("k"))
    assert(Skew.topKeyStatsSampled(tiny, "k") === Skew.topKeyStats(tiny, "k"))
  }

  test("clearDispatches empties the ring: after a full ring and a " +
       "clear, one new decision reads back as exactly one") {
    import graft.exec.QueryMetrics
    def record(i: Int): Unit = QueryMetrics.recordDispatch(
      QueryMetrics.WindowDispatch(s"k$i", 0.5, i.toLong, 2L * i, true))
    QueryMetrics.clearDispatches()
    (1 to 256).foreach(record)
    assert(QueryMetrics.recentDispatches.size === 256)
    QueryMetrics.clearDispatches()
    assert(QueryMetrics.recentDispatches.isEmpty)
    record(1000)
    assert(QueryMetrics.recentDispatches.map(_.key) === Seq("k1000"))
    // the ring keeps its full bound after the clear
    (1 to 300).foreach(record)
    assert(QueryMetrics.recentDispatches.size === 256)
    assert(QueryMetrics.recentDispatches.last.key === "k300")
    QueryMetrics.clearDispatches()
  }

  test("property: windowAutoOn's chunked and plain branches emit the " +
       "same row multiset for every window class on generated frames " +
       "(seeded scalacheck)") {
    import org.scalacheck.{Gen, rng}
    import graft.exec.QueryMetrics
    import graft.operators.WindowSpec
    import spark.implicits._
    // A generated frame: key k (a hot key at a drawn share, null keys),
    // ordering o drawn from a small domain so tie runs on o straddle
    // chunk edges, value v (nulls) closing the ordering so full-tuple
    // ties are full duplicates (the WindowSpec contract). o holds
    // nulls at a drawn share (`oNulls`; up to whole chunks of them) on
    // every class; its non-null offsets stay in [base, base + 1500),
    // away from Long.MinValue + w, where range's plain twin overflows
    // under ANSI (the BigInt-reference cases pin both edges). The lag
    // class runs at a drawn offset `lagK`.
    final case class Frame(rows: Seq[(java.lang.Long, Long, java.lang.Long)],
                           chunks: Int, desc: Boolean,
                           oNulls: Seq[Boolean], lagK: Int,
                           flastN: Int, flastIgnoreNulls: Boolean) {
      def withOrdNulls: Seq[(java.lang.Long, java.lang.Long, java.lang.Long)] =
        rows.zip(oNulls).map { case ((k, o, v), nul) =>
          (k, if (nul) null else java.lang.Long.valueOf(o), v) }
    }
    def genFrameOf(benignG: Gen[Boolean], nG: Boolean => Gen[Int],
        chunksG: Gen[Int], hotShareG: Gen[Double]): Gen[Frame] = for {
      benign <- benignG
      n <- nG(benign)
      chunks <- chunksG
      hotShare <- hotShareG
      keys <- Gen.oneOf(1, 5, 60, 400)
      tieDomain <- Gen.oneOf(1, 3, 25, 1500)
      base <- Gen.oneOf(0L, -50000L, Long.MaxValue - 2000L)
      nullV <- Gen.oneOf(0.0, 0.2)
      nullK <- Gen.oneOf(0.0, 0.05)
      desc <- Gen.oneOf(false, true)
      rows <- Gen.listOfN(n, for {
        uk <- Gen.choose(0.0, 1.0)
        uh <- Gen.choose(0.0, 1.0)
        k <- Gen.choose(0L, keys - 1L)
        o <- Gen.choose(0L, tieDomain - 1L)
        uv <- Gen.choose(0.0, 1.0)
        v <- Gen.choose(-50L, 50L)
      } yield (
        if (uk < nullK) null
        else java.lang.Long.valueOf(if (uh < hotShare) 1000L else k),
        base + o,
        if (uv < nullV) null else java.lang.Long.valueOf(v)))
      nullO <- Gen.oneOf(0.0, 0.1, 0.5)
      uos <- Gen.listOfN(n, Gen.choose(0.0, 1.0))
      lagK <- Gen.oneOf(1, 2, 3)
      flastN <- Gen.oneOf(1, 2, 5)
      flastIgnoreNulls <- Gen.oneOf(false, true)
    } yield Frame(
      if (!benign) rows
      else rows.zipWithIndex.map { case ((_, o, v), i) =>
        (java.lang.Long.valueOf(i / 3L), o, v) },
      chunks, desc, uos.map(_ < nullO), lagK, flastN, flastIgnoreNulls)
    // a benign frame spreads its keys three rows each, so its top
    // share (3/n, n >= 320) sits below WindowSkewShare
    val genFrame: Gen[Frame] = genFrameOf(
      Gen.frequency(1 -> true, 2 -> false),
      benign => if (benign) Gen.choose(320, 400) else Gen.choose(20, 400),
      Gen.choose(1, 8), Gen.oneOf(0.0, 0.004, 0.05, 0.5, 0.9))
    // wide frames: a hot key big enough to span many of 12-24 chunks,
    // drawn from their own generator so the cases above keep their frames
    val genWide: Gen[Frame] = genFrameOf(Gen.const(false),
      _ => Gen.choose(1500, 3000), Gen.choose(12, 24), Gen.oneOf(0.5, 0.9))
    def sorted(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq.sorted
    val shares = Seq.newBuilder[Double]
    val descended = Set.newBuilder[String]
    val nullOrdered = Set.newBuilder[String]
    val lagKs = Set.newBuilder[Int]
    val cases = 10
    val wideCases = 2
    for ((cls, ci) <- Seq("lag", "rank", "running", "range", "flast")
           .zipWithIndex; i <- 0 until cases + wideCases) {
      val wide = i >= cases
      val f = (if (wide) genWide else genFrame).apply(
        Gen.Parameters.default, rng.Seed(1000L * ci + i)).get
      val spec = WindowSpec(key = "k", ord = Seq("o", "v"), value = "v",
        rangeOrd = "o", out = Seq("k", "o", "v"),
        rangeOut = Seq("k", "o", "v"), valueAlias = "v",
        descending = f.desc && (cls == "lag" || cls == "running"))
      val ordNulls = f.oNulls.contains(true)
      val df = f.withOrdNulls.toDF("k", "o", "v")
      val what = s"$cls case $i: ${f.rows.size} rows, ${f.chunks} " +
        s"chunks, desc=${spec.descending}, null o=$ordNulls, k=${f.lagK}"
      if (ordNulls) nullOrdered += cls
      if (spec.descending) descended += cls
      if (cls == "lag") lagKs += f.lagK
      def auto(threshold: Double) = Skew.windowAutoOn(spark, df, cls,
        threshold, spec, lagK = f.lagK, minHotRows = 0L)
      org.apache.spark.TestParallelism.withDefaultParallelism(
          spark.sparkContext, f.chunks) {
        assert(spark.sparkContext.defaultParallelism === f.chunks)
        val chunked = auto(0.0)
        assert(QueryMetrics.recentDispatches.last.chunked, what)
        shares += QueryMetrics.recentDispatches.last.share
        val plain = auto(1.1)
        assert(!QueryMetrics.recentDispatches.last.chunked, what)
        assert(sorted(chunked) === sorted(plain), what)
        // the extended rank class (percent_rank, cume_dist) shares
        // the boundary algebra
        if (cls == "rank")
          assert(sorted(Skew.windowRankSkewOn(spark, df, spec = spec,
              extended = true)) ===
            sorted(Skew.windowRankExtPlain(df, spec)), s"$what, extended")
        // first/last/nth at a drawn position, with and without IGNORE
        // NULLS
        if (cls == "flast")
          assert(sorted(Skew.windowFirstLastSkewOn(spark, df, spec,
              f.flastN, f.flastIgnoreNulls)) ===
            sorted(Skew.windowFirstLastPlain(df, spec, f.flastN,
              f.flastIgnoreNulls)),
            s"$what, n=${f.flastN}, ignoreNulls=${f.flastIgnoreNulls}")
        // non-vacuity: a wide frame's hot key really spans chunks
        if (wide) {
          val hotPids = Skew.rangeChunked(spark, df, spec)
            .filter(col("k") === 1000L).select("pid").distinct().count()
          assert(hotPids >= 4L, s"$what: hot key in $hotPids chunks")
        }
      }
    }
    // the generator reached both sides of the dispatch threshold, and
    // DESC orderings on both classes that take them
    val seen = shares.result()
    assert(seen.exists(_ < Skew.WindowSkewShare) &&
      seen.exists(_ >= Skew.WindowSkewShare), seen)
    assert(descended.result() === Set("lag", "running"))
    // ...null ordering values on every class...
    assert(nullOrdered.result() ===
      Set("lag", "rank", "running", "range", "flast"))
    // ...and lag offsets both at 1 and above it
    val ks = lagKs.result()
    assert(ks.contains(1) && ks.exists(_ > 1), ks)
  }

  test("withCheckpointScope reclaims operator-internal checkpoint " +
       "blocks once the action completes") {
    // the chunked window family pins nothing (its chunk ids are
    // deterministic); dedup_recall's audit-slice checkpoint is the
    // scope's in-spec device
    val sc = spark.sparkContext
    sc.getPersistentRDDs.valuesIterator
      .foreach(_.unpersist(blocking = true))
    val chunked = Seq("window_lag_skew", "window_lag_k",
      "window_rank_skew", "window_rank_ext", "window_running_skew",
      "window_range_skew", "window_firstlast_skew",
      "window_firstlast_nulls")
    graft.engine.CheckpointScope.withCheckpointScope(spark) {
      for (name <- chunked) {
        SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        assert(sc.getPersistentRDDs.isEmpty,
          s"the deterministic chunked rewrite $name must pin no blocks")
      }
      graft.operators.Dedup.dedupRecall(spark, dir)
        .write.format("noop").mode("overwrite").save()
      assert(sc.getPersistentRDDs.nonEmpty,
        "dedup_recall should have pinned its audit-slice checkpoint")
    }
    assert(sc.getPersistentRDDs.isEmpty,
      "scope exit must reclaim every RDD the query pinned")
  }

  test("rangeChunked assigns deterministic, order-monotone chunk ids") {
    import org.apache.spark.sql.expressions.Window
    import graft.operators.WindowSpec
    val spec = WindowSpec.Lineitem
    val df = spark.read.parquet(s"$dir/lineitem.parquet")
    val ranged = Skew.rangeChunked(spark, df, spec)
    // deterministic: two independent materializations agree row-for-row
    val a = ranged.collect().map(_.toSeq.toString).sorted
    val b = ranged.collect().map(_.toSeq.toString).sorted
    assert(a.sameElements(b), "pid assignment must be a pure function")
    // monotone: within a key, chunk c's max ordering tuple never
    // exceeds chunk c+1's min (chunk ranges are contiguous in the
    // window order — the property every boundary stitch relies on)
    val t = struct(spec.ord.map(col): _*)
    val perChunk = ranged.groupBy(col(spec.key), col("pid"))
      .agg(min(t).as("lo"), max(t).as("hi"))
    val w = Window.partitionBy(col(spec.key)).orderBy(col("pid"))
    val bad = perChunk
      .withColumn("nxt_lo", lead(col("lo"), 1).over(w))
      .filter(col("nxt_lo").isNotNull && col("hi") > col("nxt_lo"))
      .count()
    assert(bad === 0L, s"$bad out-of-order chunk ranges")
  }

  test("rangeChunked chunk ranges stay contiguous AND balanced on a " +
       "string ordering column whose Java and UTF-8 orders diverge") {
    // Supplementary characters (surrogate pairs, first UTF-16 unit
    // 0xD800-0xDBFF) sort BEFORE U+E000+ under Java's UTF-16 code-unit
    // order but AFTER them in UTF-8 byte order (Catalyst/UTF8String).
    // Contiguity survives any bound order (the decision tree is
    // monotone node by node), but a Java-ordered bound set collapses
    // each character family into ONE chunk — the balance half below is
    // what discriminates the Catalyst-ordered driver sort from the
    // Java one.
    import org.apache.spark.sql.expressions.Window
    import graft.operators.WindowSpec
    val rows = (0 until 2000).flatMap { i =>
      Seq(("k", "\uE000" + f"$i%04d", i.toLong),
          ("k", "\uD83D\uDE00" + f"$i%04d", i.toLong))
    }
    val df = spark.createDataFrame(rows).toDF("k", "s", "v")
    val spec = WindowSpec(key = "k", ord = Seq("s", "v"), value = "v",
      rangeOrd = "v", out = Seq("k", "s", "v"), rangeOut = Seq("k", "v"))
    val ranged = Skew.rangeChunked(spark, df, spec)
    val t = struct(spec.ord.map(col): _*)
    val perChunk = ranged.groupBy(col(spec.key), col("pid"))
      .agg(min(t).as("lo"), max(t).as("hi"))
    val w = Window.partitionBy(col(spec.key)).orderBy(col("pid"))
    val bad = perChunk
      .withColumn("nxt_lo", lead(col("lo"), 1).over(w))
      .filter(col("nxt_lo").isNotNull && col("hi") > col("nxt_lo"))
      .count()
    assert(bad === 0L, s"$bad out-of-order chunk ranges on divergent strings")
    // balance: both families must SPREAD across chunks. Under the
    // Java-ordered bounds the binary search sends a whole character
    // family down one path (one pid holds a family plus its
    // neighbors, ~58% of rows here); under the Catalyst-ordered
    // bounds the stride sampling splits both families near-evenly
    // (~1/chunks per pid).
    val total = ranged.count().toDouble
    val topShare = ranged.groupBy(col("pid")).count()
      .agg(max(col("count"))).collect()(0).getLong(0) / total
    assert(topShare < 0.45,
      f"hottest chunk holds $topShare%.2f of rows — bound set " +
        "degenerate under the executor-side order")
  }

  test("length_filter keeps the central band per language") {
    val out = graft.operators.Curation.lengthFilter(spark, dir)
    val frac = out.filter(col("keep")).count().toDouble / out.count()
    assert(frac >= 0.8 && frac <= 0.95, s"keep fraction $frac")
    out.select("lang", "p05", "p95").distinct().collect().foreach { r =>
      assert(r.getAs[Double]("p05") <= r.getAs[Double]("p95"))
    }
  }

  test("extensions inject rabin functions into plain spark.sql") {
    // TestSession is built withExtensions(GraftExtensions) and never calls
    // GraftFunctions.register — resolution proves the injection path.
    val r = spark.sql(
      "SELECT rabin_fingerprint('hello world') AS fp, " +
        "size(rabin_winnow('hello world, a longer string to winnow')) AS n")
      .collect()(0)
    assert(r.getLong(0) === graft.functions.RabinHash
      .minKgram("hello world".getBytes, 8))
    assert(r.getInt(1) >= 1)
  }

  test("extensions inject vector + md5 functions; type errors at analysis") {
    val r = spark.sql(
      "SELECT vec_cosine(array(1.0F, 0.0F), array(1.0F, 0.0F)) AS c, " +
        "vec_dot(array(1.0F, 2.0F), array(3.0D, 4.0D)) AS d, " +
        "vec_l2sq(array(0.0F), array(3.0F)) AS l, " +
        "md5_prefix60('abc') AS m").collect()(0)
    assert(r.getDouble(0) === 1.0)
    assert(r.getDouble(1) === 11.0)
    assert(r.getDouble(2) === 9.0)
    assert(r.getLong(3) ===
      java.lang.Long.parseLong(
        org.apache.commons.codec.digest.DigestUtils.md5Hex("abc")
          .substring(0, 15), 16))
    // wrong argument type → clean ANALYSIS-time failure, not a codegen
    // crash mid-query
    val ex = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT vec_dot(array(1, 2), array(3, 4))").collect()
    }
    assert(ex.getMessage.contains("ARRAY<FLOAT|DOUBLE>"))
  }

  test("TopKAggregator keeps a sorted bounded buffer through merges") {
    val agg = new graft.functions.TopKAggregator(3)
    val a = Seq(9.0, 5.0, 1.0)
    val b = Seq(8.0, 7.0, 2.0)
    assert(agg.merge(a, b) === Seq(9.0, 8.0, 7.0))
    assert(agg.reduce(Seq.empty, 4.0) === Seq(4.0))
    assert(agg.reduce(Seq(9.0, 8.0, 7.0), 1.0) === Seq(9.0, 8.0, 7.0))
    assert(agg.reduce(Seq(9.0, 8.0, 7.0), 8.5) === Seq(9.0, 8.5, 8.0))
  }

  test("bucketed tables co-locate the join: no shuffle exchange in plan") {
    import org.apache.spark.sql.SaveMode
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select("l_orderkey", "l_suppkey", "l_quantity")
    val sup = spark.read.parquet(s"$dir/supplier.parquet")
    li.write.mode(SaveMode.Overwrite).bucketBy(8, "l_suppkey")
      .sortBy("l_suppkey").saveAsTable("li_b")
    sup.write.mode(SaveMode.Overwrite).bucketBy(8, "s_suppkey")
      .sortBy("s_suppkey").saveAsTable("sup_b")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("li_b").join(spark.table("sup_b"),
        col("l_suppkey") === col("s_suppkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan.take(800))
      assert(joined.count() === 6000L)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("bucket count is size-derived and the co-located join stays " +
       "exchange-free at more than one count") {
    import graft.operators.Bucketing
    // test SFs land on the floor; the derivation must round UP to a
    // power of two once the footprint crosses the per-bucket target
    assert(Bucketing.numBucketsFor(spark, dir) === Bucketing.MinBuckets)
    // a nonexistent dir must error, never derive a 0-byte floor count
    intercept[IllegalArgumentException] {
      Bucketing.numBucketsFor(spark, s"$dir/__no_such_dir__")
    }
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevOrd = spark.conf.getOption(
      "spark.sql.legacy.bucketedTableScan.outputOrdering")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set(
        "spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      // every lineitem row joins its (unique) order exactly once
      val nLines = spark.read.parquet(s"$dir/lineitem.parquet").count()
      for (n <- Seq(4, 8)) {
        val (lb, ob) = Bucketing.ensureBucketed(spark, dir, n)
        val joined = spark.table(lb).hint("merge").join(spark.table(ob),
          col("l_orderkey") === col("o_orderkey"))
        val plan = joined.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange"), s"n=$n: ${plan.take(800)}")
        assert(joined.count() === nLines, s"n=$n")
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      prevOrd match {
        case Some(v) => spark.conf.set(
          "spark.sql.legacy.bucketedTableScan.outputOrdering", v)
        case None => spark.conf.unset(
          "spark.sql.legacy.bucketedTableScan.outputOrdering")
      }
    }
  }

  test("AQE skew join splits a planted hot partition — the engine-native " +
       "alternative to the manual salt") {
    // joinSalted is the EXPLICIT skew treatment; this pins that the
    // engine's own runtime re-plan handles the same shape when enabled.
    // Decision rule (COVERAGE.md): salt when the hot key is KNOWN ahead
    // (skew_diagnose output) and the join must be shaped deterministically
    // (e.g. to feed a pinned downstream partitioning); prefer AQE skew
    // splitting otherwise — it needs no key knowledge, adapts per-batch,
    // and composes with every join in the query without code changes.
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"
        -> "262144",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "65536")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      // planted skew: 90% of fact rows carry key 0
      val fact = spark.range(400000L).select(
        when(col("id") % 10 =!= 0, lit(0L)).otherwise(col("id")).as("k"),
        col("id").as("v"))
      val dim = spark.range(2000L).select(col("id").as("k2"),
        (col("id") * 2).as("w"))
      val j = fact.join(dim, col("k") === col("k2"))
      // hot key 0 matches dim key 0: 360k rows; cold keys are the ids
      // divisible by 10 under 2000: 200 rows
      assert(j.count() === 360200L)
      // drive j's OWN QueryExecution so its adaptive plan finalizes
      // (count() above planned a separate query)
      j.queryExecution.toRdd.foreachPartition(_ => ())
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("isFinalPlan=true"), p.take(300))
      // the split is visible in the final adaptive plan: the SMJ is
      // marked as a skew join and the shuffle read carries skewed
      // partition splits
      assert(p.contains("skew=true") || p.contains("skewed"), p.take(3000))
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("schema drift across files: mergeSchema unions columns (ref TODO)") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("drift").toString
    Seq((1L, "a")).toDF("id", "v1").write.parquet(s"$tmp/f1.parquet")
    Seq((2L, 3.5)).toDF("id", "v2").write.parquet(s"$tmp/f2.parquet")
    val df = graft.sources.Tables.readFiles(spark, s"$tmp/f*.parquet",
      mergeSchema = true)
    assert(df.columns.toSet === Set("id", "v1", "v2"))
    assert(df.count() === 2L)
    assert(df.filter(col("v1").isNull).count() === 1L)
  }
}

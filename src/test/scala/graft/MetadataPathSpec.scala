package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

import graft.exec.{AsyncQueryRunner, CursorPager, ResultMaterializer}
import graft.exec.CursorPager.Start
import graft.sources.Tables
import graft.sql.QueryFacade

/** The serving path's metadata reads launch no Spark job when nothing
  * has changed: `read_files` and table schemas come from a cache keyed
  * by the matched files' (path, length, mtime), and a pager's result
  * schema comes from the footer the materializer already read.
  */
class MetadataPathSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  val dir = "/root/testdata/sf0.001"

  private def withGroup[T](group: String)(body: => T): T = {
    spark.sparkContext.setJobGroup(group, group)
    try body finally spark.sparkContext.clearJobGroup()
  }

  private def newGroup(): String = UUID.randomUUID().toString

  /** Jobs started and scan records read per job group. */
  private final class GroupLedger extends SparkListener {
    private val groupOfJob = new ConcurrentHashMap[Int, String]()
    private val groupOfStage = new ConcurrentHashMap[Int, String]()
    private val jobs = new ConcurrentHashMap[String, AtomicLong]()
    private val records = new ConcurrentHashMap[String, AtomicLong]()
    @volatile private var marker = ("", new CountDownLatch(0))

    private def add(m: ConcurrentHashMap[String, AtomicLong], g: String,
                    n: Long): Unit =
      m.computeIfAbsent(g, _ => new AtomicLong).addAndGet(n)

    override def onJobStart(js: SparkListenerJobStart): Unit =
      Option(js.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .foreach { g =>
          groupOfJob.put(js.jobId, g)
          js.stageIds.foreach(s => groupOfStage.put(s, g))
          add(jobs, g, 1L)
        }

    override def onJobEnd(je: SparkListenerJobEnd): Unit = {
      val (g, latch) = marker
      if (g == groupOfJob.get(je.jobId)) latch.countDown()
    }

    override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
      Option(groupOfStage.get(te.stageId)).filter(_ => te.taskMetrics != null)
        .foreach(g =>
          add(records, g, te.taskMetrics.inputMetrics.recordsRead))

    /** Block until every event posted so far has reached this listener:
      * a marker job's end is queued behind them.
      */
    private def settle(): Unit = {
      val g = newGroup()
      val latch = new CountDownLatch(1)
      marker = (g, latch)
      withGroup(g)(spark.sparkContext.parallelize(Seq(1), 1).count())
      assert(latch.await(60, TimeUnit.SECONDS), "listener queue stuck")
    }

    private def read(m: ConcurrentHashMap[String, AtomicLong],
                     g: String): Long = {
      settle()
      Option(m.get(g)).map(_.get).getOrElse(0L)
    }

    def jobsIn(g: String): Long = read(jobs, g)
    def recordsIn(g: String): Long = read(records, g)
  }

  private def withLedger[T](body: GroupLedger => T): T = {
    val l = new GroupLedger
    spark.sparkContext.addSparkListener(l)
    try body(l) finally spark.sparkContext.removeSparkListener(l)
  }

  /** Write `df` as ONE parquet file at `target`, replacing it in place. */
  private def writeFile(df: DataFrame, target: String): Unit = {
    val tmp = Files.createTempDirectory("one-file")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.resolve("w").toString)
    val listing = Files.list(tmp.resolve("w"))
    val part = try listing.iterator().asScala
      .find(_.getFileName.toString.startsWith("part-"))
    finally listing.close()
    assert(part.isDefined, s"no part file written for $target")
    Files.move(part.get, Paths.get(target),
      StandardCopyOption.REPLACE_EXISTING)
  }

  private def await(runner: AsyncQueryRunner, id: String): Unit = {
    val fin = runner.waitForFinish(id, maxWaitMs = 120000L)
    assert(fin.isInstanceOf[AsyncQueryRunner.Complete], s"got $fin")
  }

  test("Tables.table sees a table file rewritten in place with an extra " +
       "column") {
    val tmp = Files.createTempDirectory("tables").toString
    writeFile(spark.range(5).toDF("a"), s"$tmp/t.parquet")
    assert(Tables.table(spark, tmp, "t").columns.toSeq === Seq("a"))
    writeFile(spark.range(5).toDF("a").withColumn("b", col("a") * 2),
      s"$tmp/t.parquet")
    val t = Tables.table(spark, tmp, "t")
    assert(t.columns.toSeq === Seq("a", "b"))
    assert(t.agg(sum("b")).collect()(0).getLong(0) === 20L)
  }

  test("a repeated read_files statement starts no inference job") {
    val tmp = Files.createTempDirectory("rf-repeat").toString
    Files.copy(Paths.get(s"$dir/orders.parquet"),
      Paths.get(s"$tmp/orders.parquet"))
    val sql = s"select * from read_files('$tmp/orders.parquet') " +
      "where o_orderkey = 7"
    withLedger { l =>
      val (first, second) = (newGroup(), newGroup())
      withGroup(first)(QueryFacade.run(spark, sql))
      withGroup(second)(QueryFacade.run(spark, sql))
      assert(l.jobsIn(first) === 1L, "a cold glob infers once")
      assert(l.jobsIn(second) === 0L)
    }
  }

  test("read_files schema follows the matched files: a new file under a " +
       "mergeSchema glob, and a file rewritten in place") {
    val g = Files.createTempDirectory("rf-glob").toString
    writeFile(spark.range(3).toDF("a"), s"$g/p0.parquet")
    val glob = s"$g/*.parquet"
    def merged = Tables.readFiles(spark, glob, mergeSchema = true)
    assert(merged.columns.toSeq === Seq("a"))
    assert(merged.columns.toSeq === Seq("a"))
    writeFile(spark.range(3).toDF("a").withColumn("b", lit("x")),
      s"$g/p1.parquet")
    assert(merged.columns.toSeq === Seq("a", "b"))
    assert(merged.filter(col("b").isNull).count() === 3L)
    // one file, no merge: rewriting it in place changes the statement's
    // schema
    val one = Files.createTempDirectory("rf-one").toString
    writeFile(spark.range(3).toDF("a"), s"$one/f.parquet")
    val sql = s"select * from read_files('$one/f.parquet')"
    assert(QueryFacade.run(spark, sql).columns.toSeq === Seq("a"))
    writeFile(spark.range(3).toDF("a").withColumn("c", lit(1.5)),
      s"$one/f.parquet")
    val df = QueryFacade.run(spark, sql)
    assert(df.columns.toSeq === Seq("a", "c"))
    assert(df.agg(sum("c")).collect()(0).getDouble(0) === 4.5)
  }

  test("read_files over a glob with no match fails as spark.read does") {
    val glob = "/nonexistent-glob"
    val plain = intercept[Exception](
      spark.read.option("mergeSchema", "false").parquet(glob))
    val viaTables = intercept[Exception](Tables.readFiles(spark, glob))
    val viaSql = intercept[Exception](
      QueryFacade.run(spark, s"select * from read_files('$glob')"))
    Seq(viaTables, viaSql).foreach { e =>
      assert(e.getClass === plain.getClass)
      assert(e.getMessage === plain.getMessage)
    }
  }

  test("a point lookup over one read_files runs exactly one job in its " +
       "job group") {
    val tmp = Files.createTempDirectory("results").toString
    val runner = new AsyncQueryRunner(spark, tmp)
    val sql = s"select * from read_files('$dir/orders.parquet') " +
      "where o_orderkey = 7"
    await(runner, runner.submit(sql)) // a cold cache infers once
    withLedger { l =>
      val id = runner.submit(sql)
      await(runner, id)
      assert(l.jobsIn(id) === 1L, "the write is the query's only job")
      assert(runner.results(id).totalRows === 1L)
    }
  }

  test("the first pageArrow on a fresh pager starts no Spark job") {
    val tmp = Files.createTempDirectory("results").toString
    val rs = ResultMaterializer.materialize(
      spark.read.parquet(s"$dir/orders.parquet").select("o_orderkey",
        "o_orderstatus", "o_orderdate").orderBy("o_orderkey"), tmp, "q")
    withLedger { l =>
      val g = newGroup()
      val page = withGroup(g) {
        new CursorPager(spark, rs).pageArrow(Start, 100)
      }
      assert(l.jobsIn(g) === 0L)
      assert(page.offsets.length === 100)
      assert(page.ipc.nonEmpty)
    }
  }

  test("the footer-derived pager schema equals spark.read's, for every " +
       "served type and for an empty rec_0") {
    val tmp = Files.createTempDirectory("results").toString
    val typed = spark.range(40).select(
      col("id"),
      col("id").cast("int").as("i"),
      (col("id") / 3.0).as("d"),
      when(col("id") % 5 === 0, lit(null)).otherwise(
        concat(lit("s"), col("id").cast("string"))).as("s"),
      date_add(lit("2020-01-01").cast("date"), col("id").cast("int"))
        .as("dt"),
      timestamp_seconds(col("id") * 86400L).as("ts"),
      (col("id") % 2 === 0).as("b"))
    val rs = ResultMaterializer.materialize(typed.repartition(3), tmp, "t")
    assert(rs.files.length === 3)
    rs.files.foreach { f =>
      val fromFooter = f.sparkSchema
        .flatMap(org.apache.spark.sql.graftbridge.FooterSchema.parse)
      assert(fromFooter === Some(spark.read.parquet(f.path).schema))
    }
    val pager = new CursorPager(spark, rs)
    assert(pager.schema === spark.read.parquet(rs.files(0).path).schema)
    assert(pager.schema.map(_.dataType.typeName) === Seq("long", "integer",
      "double", "string", "date", "timestamp", "boolean"))
    assert(pager.page(Start, 40).rows.length === 40)
    // a result whose only file has no row group
    val empty = ResultMaterializer.materialize(typed.filter(lit(false)),
      tmp, "e")
    assert(empty.files.map(_.rowGroupRows.length) === Vector(0))
    assert(empty.files(0).sparkSchema.isDefined)
    assert(new CursorPager(spark, empty).schema ===
      spark.read.parquet(empty.files(0).path).schema)
  }

  test("a parquet file without Spark's schema key still pages, through " +
       "spark.read") {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    val d = Files.createTempDirectory("plain-parquet")
    val msg = MessageTypeParser.parseMessageType(
      "message m { required int64 a; optional binary s (UTF8); }")
    val conf = spark.sparkContext.hadoopConfiguration
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
      new Path(d.resolve("rec_0.parquet").toString), conf))
      .withType(msg).withConf(conf).build()
    val groups = new SimpleGroupFactory(msg)
    try (0 until 25).foreach(i =>
      w.write(groups.newGroup().append("a", i.toLong).append("s", s"v$i")))
    finally w.close()
    val rs = ResultMaterializer.open(d.toString)
    assert(rs.files.map(_.sparkSchema) === Vector(None))
    val pager = new CursorPager(spark, rs)
    assert(pager.schema ===
      spark.read.parquet(rs.files(0).path).schema)
    val rows = pager.page(Start, 25).rows
    assert(rows.map(_.getLong(0)) === (0L until 25L))
    assert(rows.last.getString(1) === "v24")
    assert(pager.pageArrow(Start, 10).offsets.length === 10)
  }

  test("query metrics: a q3-shape query's scanRows equals the records " +
       "its job group read") {
    val tmp = Files.createTempDirectory("results").toString
    val runner = new AsyncQueryRunner(spark, tmp)
    val sql =
      s"""SELECT l_orderkey, sum(l_extendedprice * (1 - l_discount)) AS revenue,
         |  o_orderdate
         |FROM read_files('$dir/customer.parquet') c
         |JOIN read_files('$dir/orders.parquet') o ON c.c_custkey = o.o_custkey
         |JOIN read_files('$dir/lineitem.parquet') l ON l.l_orderkey = o.o_orderkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
         |  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
         |GROUP BY l_orderkey, o_orderdate
         |ORDER BY revenue DESC, l_orderkey
         |LIMIT 10""".stripMargin
    withLedger { l =>
      val id = runner.submit(sql)
      await(runner, id)
      val deadline = System.nanoTime() + 15000000000L
      while (runner.metrics(id).isEmpty && System.nanoTime() < deadline)
        Thread.sleep(20)
      val m = runner.metrics(id)
      assert(m.isDefined, "metrics never attached")
      assert(m.get.scanRows > 0L)
      assert(m.get.scanRows === l.recordsIn(id))
    }
  }
}

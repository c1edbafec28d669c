package perfbench

import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import graft.exec.{AsyncQueryRunner, CursorPager, ResultMaterializer}
import graft.exec.CursorPager.Cursor
import graft.wire.{GraftWireClient, GraftWireServer, Wire}
import graft.wire.GraftWireClient._

/** `serve_sql`: the reference client's path as an open loop. Requests arrive
  * on a seeded Poisson schedule; each runs RunQuery, polls GetQueryStatus
  * until Complete, then reads pages with GetQueryData through
  * [[GraftWireClient]] against an in-process [[GraftWireServer]].
  *
  * A request's latency runs from the time it was due to the time its last
  * page was decoded, so a stall that delays later requests is counted.
  */
final class Serve(val corpus: String) extends Workload {
  import Serve._

  private var runner: AsyncQueryRunner = _
  private var server: GraftWireServer = _
  private var client: GraftWireClient = _
  private var resultRoot: String = _

  def setup(ctx: Ctx): Unit = {
    resultRoot = s"${ctx.work}/tmp/results"
    runner = new AsyncQueryRunner(ctx.spark, resultRoot)
    server = new GraftWireServer(runner).start()
    client = new GraftWireClient(server.port)
    // warm-up: every shape once over the wire, and through the direct
    // layer calls the traced run replays
    val rng = ctx.rng(99)
    for (s <- Shapes) {
      val sql = s.sql(corpus, rng)
      request(ctx, Req(-1, 0L, s, sql), System.nanoTime(), 0L)
      if (ctx.tracer.enabled) direct(ctx, new Tracer(false), Req(-1, 0L, s, sql), 0L)
    }
  }

  override def close(): Unit = if (server != null) server.stop()

  def run(ctx: Ctx, seconds: Double): Outcome = {
    val reqs = schedule(new java.util.Random(ScheduleSeed), ctx.rng(2), seconds, Rate, corpus)
    val tr = ctx.tracer
    val passId = tr.nextId()
    val pool = Executors.newFixedThreadPool(ctx.nproc)
    val done = new ConcurrentLinkedQueue[Res]()
    val t0 = System.nanoTime() + 20000000L
    val lateNs = new ConcurrentLinkedQueue[java.lang.Long]()
    val windowStart = Clock.nowUs + 20000L
    for (r <- reqs) {
      val due = t0 + r.dueNs
      val wait = due - System.nanoTime()
      if (wait > 0) TimeUnit.NANOSECONDS.sleep(wait)
      pool.submit(new Runnable {
        def run(): Unit = {
          lateNs.add(System.nanoTime() - due)
          done.add(request(ctx, r, due, passId))
        }
      })
    }
    pool.shutdown()
    pool.awaitTermination(RequestTimeoutS + 30, TimeUnit.SECONDS)
    tr.add(Span(passId, 0L, "pass", "serve_sql", windowStart, Clock.nowUs))
    val late = lateNs.asScala.map(_.toDouble / 1e6).toSeq
    if (late.nonEmpty) Main.log(f"generator lateness p50 ${Stats.median(late)}%.2f ms, " +
      f"max ${late.max}%.2f ms over ${late.size} requests at $Rate%.2f/s")
    val res = done.asScala.toVector.sortBy(_.req.idx)

    // output check, untimed: the same statement run directly, nproc at a time
    val checkPool = Executors.newFixedThreadPool(ctx.nproc)
    val reference = res.filter(_.ok).map(_.req.sql).distinct.map { sql =>
      sql -> checkPool.submit(() => graft.sql.QueryFacade.run(ctx.spark, sql).collect()
        .map(row => RowHash.rowHash(row.toSeq)).toVector)
    }.toMap
    val checked = res.map { r =>
      if (!r.ok) r
      else check(r, reference(r.req.sql).get())
        .fold(r)(why => r.copy(ok = false, why = why, wrong = true))
    }
    checkPool.shutdown()
    checked.filterNot(_.ok).groupBy(r => (r.req.shape.name, r.why)).foreach {
      case ((s, why), rs) => Main.log(s"serve_sql: ${rs.size} x $s failed: $why")
    }
    val ok = checked.filter(_.ok)
    val e2e =
      if (ok.isEmpty) Map.empty[String, Double]
      else Map(
        "query_p50_s" -> Stats.percentile(ok.map(_.latencyS), 0.5),
        "query_geomean_s" -> Stats.geomean(ok.groupBy(_.req.shape.name).values
          .map(rs => Stats.median(rs.map(_.latencyS))).toSeq))
    if (ok.nonEmpty) Main.log(f"serve_sql: ${ok.size}/${checked.size} ok; " +
      f"complete p50 ${Stats.median(ok.map(_.completeS))}%.3f s, first page p50 " +
      f"${Stats.median(ok.map(_.firstPageS))}%.3f s, page p50 " +
      f"${Stats.median(ok.flatMap(_.pageMs))}%.2f ms")

    ok.groupBy(_.req.shape.name).toSeq.sortBy(_._1).foreach { case (n, rs) =>
      Main.log(f"serve_sql: $n%-20s n=${rs.size}%3d median ${Stats.median(rs.map(_.latencyS))}%.3f s")
    }
    val layers = if (!tr.enabled) Map.empty[String, Double] else traced(ctx, checked)
    Outcome(checked.size, checked.count(!_.ok), checked.count(_.wrong), e2e, layers)
  }

  /** One request over the wire. */
  private def request(ctx: Ctx, r: Req, dueNs: Long, passId: Long): Res = {
    val tr = ctx.tracer
    val qspan = tr.nextId()
    val key = s"${r.shape.name}#${r.idx}"
    val startUs = Clock.nowUs - (System.nanoTime() - dueNs) / 1000L
    var polls = 0
    val statusMs = Vector.newBuilder[Double]
    val pageMs = Vector.newBuilder[Double]
    val hashes = Vector.newBuilder[Long]
    var group = ""
    var completeNs, firstPageNs = 0L
    var paged = 0L
    var end = false
    def finish(ok: Boolean, why: String): Res = {
      val doneNs = System.nanoTime()
      tr.add(Span(qspan, passId, "query", key, startUs, Clock.nowUs))
      if (group.nonEmpty) runner.forget(group, deleteFiles = true)
      Res(r, ok, why, group, qspan, (doneNs - dueNs) / 1e9,
        (completeNs - dueNs) / 1e9, (firstPageNs - dueNs) / 1e9, polls,
        statusMs.result(), pageMs.result(), hashes.result(), paged, end)
    }
    try {
      val qid = tr.span("wire.run", qspan, key)(client.runQuery(r.sql))._1
        .getOrElse(return finish(false, "RunQuery answered NotCreated"))
      group = Wire.u128ToUuid(qid)
      val deadline = dueNs + RequestTimeoutS * 1000000000L
      var status = ""
      while (status != "Complete") {
        val (s, sp) = tr.span("wire.status", qspan, key)(client.getQueryStatus(qid))
        polls += 1
        statusMs += sp.durUs / 1e3
        status = s
        if (s.startsWith("Error") || s == "QueryNotFound") return finish(false, s)
        if (status != "Complete") {
          if (System.nanoTime() > deadline) return finish(false, "timeout")
          Thread.sleep(PollMs)
        }
      }
      completeNs = System.nanoTime()
      var cursor = Cursor(0, 0, 0L)
      var page = 0
      while (page < r.shape.pages && !end) {
        val (resp, sp) = tr.span("wire.page", qspan, key)(
          client.getQueryData(qid, cursor, PageRows, forward = true, allowOverflow = false))
        pageMs += sp.durUs / 1e3
        if (page == 0) firstPageNs = System.nanoTime()
        resp match {
          case DataRecord(rows, offsets, _) =>
            rows.foreach(row => hashes += RowHash.rowHash(row))
            paged += rows.size
            nextForward(offsets) match {
              case Some(c) => cursor = c
              case None => end = true
            }
          case DataEndOfFiles => end = true
          case DataRowGroupNotFound => return finish(false, "RecordRowGroupNotFound")
          case DataQueryNotFound => return finish(false, "QueryNotFound")
          case DataError(e) => return finish(false, s"Error($e)")
        }
        page += 1
      }
      finish(true, "")
    } catch {
      case e: Throwable => finish(false, e.toString)
    }
  }

  /** Paged rows against the same statement's direct result: row count, and
    * an order-insensitive hash of the prefix for statements with a total
    * order, or multiset containment for statements without one.
    */
  private def check(r: Res, ref: Vector[Long]): Option[String] = {
    val want = if (r.endReached) ref.size.toLong
      else math.min(ref.size.toLong, r.req.shape.pages.toLong * PageRows)
    if (r.paged != want) Some(s"paged ${r.paged} rows, expected $want")
    else if (r.req.shape.ordered) {
      if (RowHash.of(r.hashes) != RowHash.of(ref.take(r.hashes.size))) Some("row hash mismatch")
      else None
    } else {
      val counts = ref.groupBy(identity).view.mapValues(_.size).toMap
      val got = r.hashes.groupBy(identity).view.mapValues(_.size)
      if (got.exists { case (h, n) => counts.getOrElse(h, 0) < n }) Some("row not in result")
      else None
    }
  }

  /** The same requests issued through the layers' public functions, in the
    * order the runner and the server call them: QueryFacade.run, planning,
    * ResultMaterializer.materialize, a CursorPager, and pageArrow.
    */
  private def direct(ctx: Ctx, tr: Tracer, r: Req, parent: Long): Direct = {
    val sc = ctx.spark.sparkContext
    val key = s"${r.shape.name}#${r.idx}"
    val qspan = tr.nextId()
    val id = java.util.UUID.randomUUID().toString
    val t0 = Clock.nowUs
    try {
      sc.setJobGroup(s"direct:$qspan:sql", key)
      val (df, sqlSpan) = tr.span("sql.analyze", qspan, key)(
        graft.sql.QueryFacade.run(ctx.spark, r.sql))
      sc.setJobGroup(s"direct:$qspan:plan", key)
      val planSpan = tr.span("plans.optimize", qspan, key)(df.queryExecution.executedPlan)._2
      sc.setJobGroup(s"direct:$qspan:exec", key)
      val (rs, matSpan) = tr.span("exec.materialize", qspan, key)(
        ResultMaterializer.materialize(df, resultRoot, id))
      sc.clearJobGroup()
      val (pager, openSpan) = tr.span("exec.pager_open", qspan, key)(
        new CursorPager(ctx.spark, rs))
      val pages = Vector.newBuilder[(Double, Int)]
      var cursor: Option[Cursor] =
        if (pager.totalRows > 0) Some(pager.toCursor(0L)) else None
      var i = 0
      while (i < r.shape.pages && cursor.isDefined) {
        val (p, sp) = tr.span("exec.page", qspan, key)(pager.pageArrow(cursor.get, PageRows))
        pages += (sp.durUs / 1e3 -> p.ipc.length)
        cursor = p.next
        i += 1
      }
      tr.add(Span(qspan, parent, "query", key, t0, Clock.nowUs))
      Direct(r, qspan, sqlSpan.durUs / 1e3, planSpan.durUs / 1e3, matSpan,
        rs.totalRows, rs.files.size, rs.files.count(_.rowGroupRows.isEmpty),
        openSpan.durUs / 1e3, pages.result())
    } finally {
      sc.clearJobGroup()
      deleteTree(new java.io.File(resultRoot, id))
    }
  }

  private def traced(ctx: Ctx, res: Seq[Res]): Map[String, Double] = {
    val tr = ctx.tracer
    val log = ctx.log
    log.awaitQuiet()
    // the wire path: the runner tags each query's jobs with its id
    val wireAgg = res.filter(_.group.nonEmpty).map { r =>
      val js = log.jobsOf(_ == r.group)
      log.spans(js, r.spanId, r.req.shape.name + "#" + r.req.idx, tr)
      r -> SparkAgg.of(log, js)
    }
    // the same requests replayed through direct layer calls
    val replayId = tr.nextId()
    val t0 = Clock.nowUs
    val ds = res.map(r => direct(ctx, tr, r.req, replayId))
    tr.add(Span(replayId, 0L, "replay", "serve_sql", t0, Clock.nowUs))
    log.awaitQuiet()
    val commitMs = ds.map { d =>
      val js = log.jobsOf(_ == s"direct:${d.spanId}:exec")
      log.spans(js, d.materialize.id, d.req.shape.name + "#" + d.req.idx, tr)
      val inJobs = Stats.unionLength(js.map(j => (j.submitMs * 1000L, j.endMs * 1000L)).map {
        case (s, e) => (math.max(s, d.materialize.startUs), math.min(e, d.materialize.endUs))
      })
      (d.materialize.durUs - inJobs) / 1e3
    }
    // counts and volumes per pass: one request of each statement shape
    def perShape(f: ((Res, SparkAgg)) => Double): Double =
      wireAgg.groupBy(_._1.req.shape.name).values.map(g => Stats.median(g.map(f))).sum
    def perShapeD(f: Direct => Double): Double =
      ds.groupBy(_.req.shape.name).values.map(g => Stats.median(g.map(f))).sum
    val pageMs = ds.flatMap(_.pages.map(_._1))
    val rttMs = res.flatMap(_.pageMs)
    val waits = wireAgg.flatMap(_._2.taskWaitsMs)
    // the wire phase's wall: first due time to last request done
    val wallS = res.map(r => r.req.dueNs / 1e9 + r.latencyS).max -
      res.map(_.req.dueNs).min / 1e9
    val scanRows = perShape(_._2.scanRows.toDouble)
    val outRows = perShapeD(_.rows.toDouble)
    val self = tr.selfTimes()
    Main.log("self times (s): " + self.toSeq.sortBy(-_._2)
      .map { case (k, v) => f"$k=$v%.3f" }.mkString(", "))
    Map(
      "sql.analyze_ms" -> Stats.median(ds.map(_.sqlMs)),
      "plans.optimize_ms" -> Stats.median(ds.map(_.planMs)),
      "exec.materialize_s" -> Stats.median(ds.map(_.materialize.durUs / 1e6)),
      "exec.commit_ms" -> Stats.median(commitMs),
      "exec.result_files" -> perShapeD(_.files.toDouble),
      "exec.empty_result_files" -> perShapeD(_.emptyFiles.toDouble),
      "exec.pager_open_ms" -> Stats.median(ds.map(_.openMs)),
      "exec.page_ms" -> Stats.median(pageMs),
      "wire.page_rtt_ms" -> Stats.median(rttMs),
      "wire.overhead_ms" -> (Stats.median(rttMs) - Stats.median(pageMs)),
      "wire.page_kb" -> Stats.median(ds.flatMap(_.pages.map(_._2 / 1024.0))),
      "wire.status_polls" -> perShape(_._1.polls.toDouble),
      "wire.status_rtt_ms" -> Stats.median(res.flatMap(_.statusMs)),
      "spark.jobs" -> perShape(_._2.jobs.toDouble),
      "spark.stages" -> perShape(_._2.stages.toDouble),
      "spark.tasks" -> perShape(_._2.tasks.toDouble),
      "spark.task_s" -> perShape(_._2.taskS),
      "spark.cpu_s" -> perShape(_._2.cpuS),
      "spark.busy_cores" -> wireAgg.map(_._2.taskS).sum / wallS,
      "spark.straggler_ratio" -> Stats.median(wireAgg.map(_._2.stragglerRatio)),
      "spark.shuffle_write_mb" -> perShape(_._2.shuffleWriteMb),
      "spark.shuffle_read_mb" -> perShape(_._2.shuffleReadMb),
      "spark.spill_mb" -> perShape(_._2.spillMb),
      "spark.gc_s" -> perShape(_._2.gcS),
      "spark.task_wait_ms" -> (if (waits.isEmpty) 0.0 else Stats.median(waits)),
      "sources.scan_rows" -> scanRows,
      "sources.scan_mb" -> perShape(_._2.scanMb),
      "sources.rows_per_result_row" -> scanRows / math.max(outRows, 1.0)
    ) ++ Layers.idle(Layers.BatchOnly)
  }

  private def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

object Serve {
  /** Arrival rate (requests/s): about half the closed-loop capacity that
    * `perfbench.Main capacity` measures for this mix on a 4-core host.
    */
  val Rate = 1.5
  /** Arrival times and statement order come from this fixed seed, not from
    * --seed, which draws the statement parameters: which requests overlap
    * sets how much they contend, and a schedule or an order drawn per seed
    * moved the median latency by a quarter to two fifths between seeds.
    */
  val ScheduleSeed = 20261017L
  val PageRows = 1000
  val PollMs = 25L
  val RequestTimeoutS = 60L

  final case class Shape(name: String, pages: Int, ordered: Boolean,
                         sql: (String, java.util.Random) => String)

  private def day(rng: java.util.Random, from: String, span: Int): String =
    java.time.LocalDate.parse(from).plusDays(rng.nextInt(span).toLong).toString

  /** The statement mix; `pages` is how many 1,000-row pages a request reads. */
  val Shapes: Seq[Shape] = Seq(
    Shape("q1_agg", 1, ordered = true, (d, rng) =>
      s"""SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
         |  sum(l_extendedprice) AS sum_base_price,
         |  sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
         |  avg(l_quantity) AS avg_qty, avg(l_discount) AS avg_disc,
         |  count(*) AS count_order
         |FROM read_files('$d/lineitem.parquet')
         |WHERE l_shipdate <= TIMESTAMP '${day(rng, "1998-01-01", 1000)} 00:00:00'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin),
    Shape("q3_join_top10", 1, ordered = true, { (d, rng) =>
      val seg = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY")(rng.nextInt(5))
      val date = day(rng, "1998-06-01", 120)
      s"""SELECT l_orderkey, sum(l_extendedprice * (1 - l_discount)) AS revenue,
         |  o_orderdate
         |FROM read_files('$d/customer.parquet') c
         |JOIN read_files('$d/orders.parquet') o ON c.c_custkey = o.o_custkey
         |JOIN read_files('$d/lineitem.parquet') l ON l.l_orderkey = o.o_orderkey
         |WHERE c_mktsegment = '$seg' AND o_orderdate < TIMESTAMP '$date 00:00:00'
         |  AND l_shipdate > TIMESTAMP '$date 00:00:00'
         |GROUP BY l_orderkey, o_orderdate
         |ORDER BY revenue DESC, l_orderkey
         |LIMIT 10""".stripMargin
    }),
    Shape("point_lookup", 1, ordered = true, (d, rng) =>
      s"SELECT * FROM read_files('$d/orders.parquet') WHERE o_orderkey = ${rng.nextInt(150000)}"),
    Shape("orders_range_sorted", 11, ordered = true, { (d, rng) =>
      val n = 20000 + rng.nextInt(10000)
      val lo = rng.nextInt(150000 - n)
      s"""SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
         |FROM read_files('$d/orders.parquet')
         |WHERE o_orderkey BETWEEN $lo AND ${lo + n}
         |ORDER BY o_totalprice DESC, o_orderkey""".stripMargin
    }),
    Shape("lineitem_filter", 11, ordered = false, (d, _) =>
      s"""SELECT l_orderkey, l_partkey, l_extendedprice
         |FROM read_files('$d/lineitem.parquet')
         |WHERE l_quantity > 25""".stripMargin)
  )

  final case class Req(idx: Int, dueNs: Long, shape: Shape, sql: String)

  final case class Res(req: Req, ok: Boolean, why: String, group: String,
                       spanId: Long, latencyS: Double, completeS: Double,
                       firstPageS: Double, polls: Int, statusMs: Vector[Double],
                       pageMs: Vector[Double], hashes: Vector[Long], paged: Long,
                       endReached: Boolean, wrong: Boolean = false)

  final case class Direct(req: Req, spanId: Long, sqlMs: Double, planMs: Double,
                          materialize: Span, rows: Long, files: Int, emptyFiles: Int,
                          openMs: Double, pages: Vector[(Double, Int)])

  /** Poisson arrivals over `seconds`, conditioned on their count:
    * round(rate * seconds) arrival times drawn uniformly from `trace` and
    * sorted. Shapes cycle in blocks shuffled by `trace`, so every block of
    * five requests holds each shape once; `params` draws the parameters.
    */
  def schedule(trace: java.util.Random, params: java.util.Random, seconds: Double,
               rate: Double, corpus: String): Vector[Req] = {
    val n = math.max(1, math.round(rate * seconds).toInt)
    val times = Vector.fill(n)(trace.nextDouble() * seconds).sorted
    val shapes = Iterator.continually(Batch.shuffled(Shapes, trace)).flatten
    times.zipWithIndex.map { case (t, i) =>
      val s = shapes.next()
      Req(i, (t * 1e9).toLong, s, s.sql(corpus, params))
    }
  }

  /** Closed-loop capacity of the mix: `nproc` clients, each sending its next
    * request when the previous one finishes. Prints requests per second.
    */
  def capacity(work: String, seconds: Double): Unit = {
    val corpus = Main.corpusDir(work, "sf0.1")
    val spark = Main.session(work)
    Main.configure(spark, corpus)
    val ctx = new Ctx(spark, new Tracer(false), new JobLog, 7L, work, Main.nproc)
    val s = new Serve(corpus)
    s.setup(ctx)
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val stop = System.nanoTime() + (seconds * 1e9).toLong
    val threads = (0 until ctx.nproc).map { k =>
      val t = new Thread(() => {
        val rng = ctx.rng(100 + k)
        var j = 0
        while (System.nanoTime() < stop) {
          val sh = Shapes((k + j) % Shapes.size)
          s.request(ctx, Req(j, 0L, sh, sh.sql(corpus, rng)), System.nanoTime(), 0L)
          n.incrementAndGet(); j += 1
        }
      })
      t.start(); t
    }
    threads.foreach(_.join())
    println(f"closed-loop capacity ${n.get / seconds}%.2f requests/s with ${ctx.nproc} clients")
    s.close()
    spark.stop()
  }
}

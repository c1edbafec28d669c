package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** One session configuration and one function table: the engine's SQL
  * functions resolve the same whichever seam installed them, every main
  * builds its session through `graft.engine.GraftSession`, and a call
  * into the engine leaves the caller's confs and temp dir as it found
  * them.
  */
class SessionSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  val EngineFunctions = Seq(
    "rabin_fingerprint", "rabin_winnow", "md5_winnow_set",
    "md5_winnow_count", "md5_gram_min", "word_shingles", "bpe_encode",
    "md5_prefix60", "word_ngrams", "gram_rungs", "gram_top_frac",
    "gram_dup_frac", "cdc_chunk_texts", "vec_dot", "vec_cosine", "vec_l2sq")

  test("an extensions-only session resolves every engine function") {
    // a new session gets a fresh registry built from the extensions
    // alone: nothing has called GraftFunctions.register on it
    val s = spark.newSession()
    val reg = s.sessionState.functionRegistry
    val missing = EngineFunctions.filterNot(n =>
      reg.functionExists(FunctionIdentifier(n)))
    assert(missing.isEmpty, s"not injected: $missing")
    val r = s.sql("SELECT word_ngrams(array('a','b','c'), 2) AS g, " +
      "gram_dup_frac(array('a','b','a','b'), 2) AS d").collect()(0)
    assert(r.getSeq[String](0) === Seq("a b", "b c"))
    assert(r.getDouble(1) > 0.0)
  }

  test("GraftFunctions.register binds the table once: a second call " +
       "leaves the registry unchanged") {
    val s = spark.newSession()
    val reg = s.sessionState.functionRegistry
    def snapshot = EngineFunctions.map { n =>
      val id = FunctionIdentifier(n)
      (reg.lookupFunction(id), reg.lookupFunctionBuilder(id))
    }
    graft.functions.GraftFunctions.register(s)
    val first = snapshot
    assert(first.forall { case (info, build) =>
      info.isDefined && build.isDefined })
    graft.functions.GraftFunctions.register(s)
    val second = snapshot
    first.zip(second).zip(EngineFunctions).foreach {
      case (((i1, b1), (i2, b2)), n) =>
        assert(i1.get eq i2.get, s"$n re-bound")
        assert(b1.get eq b2.get, s"$n re-bound")
    }
    assert(graft.functions.GraftFunctions.Table.map(_.name).sorted ===
      EngineFunctions.sorted)
  }

  test("only GraftSession and SmokeCheck call SparkSession.builder() " +
       "in src/main") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val allowed = Set(
      root.resolve("graft/engine/GraftSession.scala"),
      root.resolve("graft/SmokeCheck.scala"))
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    val offenders = files.filterNot(allowed).filter { p: Path =>
      new String(Files.readAllBytes(p), "UTF-8")
        .contains("SparkSession.builder()")
    }
    assert(offenders.isEmpty,
      s"build sessions through graft.engine.GraftSession: $offenders")
    assert(allowed.forall(files.contains))
  }

  /** Every option the engine reads: `spark.graft.*` conf keys (none:
    * per-operator budgets are constants or arguments) and
    * `SPARK_GRAFT_*` env vars. Adding, renaming or removing an option
    * must edit these lists.
    */
  val ConfKeys = Set.empty[String]
  val EnvVars = Set(
    "SPARK_GRAFT_CPUS", "SPARK_GRAFT_ONLY",
    "SPARK_GRAFT_REPO_ROOT", "SPARK_GRAFT_REPS", "SPARK_GRAFT_SF_DIR")

  private def scalaText(dir: String): String = {
    val root = Paths.get(dir)
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => new String(Files.readAllBytes(p), "UTF-8")).mkString("\n")
  }

  /** A conf key as written anywhere in source: at least one key
    * character after the prefix, so the escaped pattern below and the
    * `spark.graft.*` wildcard in prose do not match this file itself.
    */
  private val ConfKey = "spark\\.graft\\.[A-Za-z0-9_][A-Za-z0-9_.]*".r

  test("options inventory: src/main reads exactly the listed spark.graft " +
       "conf keys and SPARK_GRAFT_ env vars") {
    val main = scalaText("src/main/scala")
    val confs = ConfKey.findAllIn(main).toSet
    val envs = "SPARK_GRAFT_[A-Z0-9_]+".r.findAllIn(main).toSet
    assert(confs === ConfKeys, s"conf keys read: ${confs.toSeq.sorted}")
    assert(envs === EnvVars, s"env vars read: ${envs.toSeq.sorted}")
    // a spec setting a key the engine does not read pins nothing: the
    // set is a silent no-op, so specs name only the listed keys
    val set = ConfKey.findAllIn(scalaText("src/test/scala")).toSet
    assert(set.subsetOf(ConfKeys), s"specs set unread conf keys: " +
      (set -- ConfKeys).toSeq.sorted)
  }

  test("one route to engine expressions: src/main neither installs the " +
       "function table outside graft/functions nor calls a table " +
       "function by name") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    def text(p: Path) = new String(Files.readAllBytes(p), "UTF-8")
    val installs = files
      .filterNot(_.startsWith(root.resolve("graft/functions")))
      .filter(p => text(p).contains("GraftFunctions.register("))
    assert(installs.isEmpty, s"operators must not install the function " +
      s"table (build Columns via TextFunctions/VectorFunctions): $installs")
    val names = graft.functions.GraftFunctions.Table.map(_.name)
    val CallByName = """call_function\(\s*"([^"]*)"""".r
    val ExprText = """expr\(\s*"([^"]*)"""".r
    val byName = for {
      p <- files
      t = text(p)
      hit <- CallByName.findAllMatchIn(t).map(_.group(1))
        .filter(names.contains) ++
        ExprText.findAllMatchIn(t).map(_.group(1))
          .filter(e => names.exists(n => e.contains(s"$n(")))
    } yield s"$p: $hit"
    assert(byName.isEmpty, s"engine functions called by name: $byName")
  }

  test("sessions carry no engine optimizer rule, and bloom_join_auto " +
       "leaves the session's extraOptimizations as it found them") {
    def engineRules(s: org.apache.spark.sql.SparkSession): Seq[String] =
      s.sessionState.optimizer.batches.flatMap(_.rules).map(_.ruleName)
        .filter(_.startsWith("graft."))
    // a session built by the factory's own builder on the shared
    // context; create() makes it the default and active session, so
    // the shared test session is put back straight after
    val factory =
      try graft.engine.GraftSession.builder("graft-session-spec").create()
      finally {
        org.apache.spark.sql.SparkSession.setDefaultSession(spark)
        org.apache.spark.sql.SparkSession.setActiveSession(spark)
      }
    for (s <- Seq(factory, spark, spark.newSession()))
      assert(engineRules(s).isEmpty, engineRules(s))
    val before = spark.experimental.extraOptimizations
    val df = graft.operators.RuntimeFilter.bloomJoinAuto(spark,
      "/root/testdata/sf0.001")
    assert(df.count() > 0L)
    assert(spark.experimental.extraOptimizations === before)
    assert(engineRules(spark).isEmpty, engineRules(spark))
    // the extensions already inject the grouped top-k strategy, so a
    // groupedTopK call must not append a second copy to the session
    import org.apache.spark.sql.functions.col
    val strategies = factory.experimental.extraStrategies
    val top = graft.plans.TopKPlans.groupedTopK(factory.range(100)
      .toDF("id"), Seq(col("id") % 7), Seq(col("id").desc), 2)
    assert(top.count() === 14L)
    assert(factory.experimental.extraStrategies === strategies)
  }

  test("no conf writes in src/main outside GraftSession and the four " +
       "lines of Partitioning.autoTune") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val Write = """conf\.(set|unset|setConf|setConfString)\(""".r
    val writes = for {
      p <- Files.walk(root).iterator().asScala
        .filter(_.toString.endsWith(".scala")).toList
      if p != root.resolve("graft/engine/GraftSession.scala")
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if Write.findFirstIn(line).isDefined
    } yield (p, i)
    val partitioning = root.resolve("graft/engine/Partitioning.scala")
    val lines = Files.readAllLines(partitioning).asScala
    val start = lines.indexWhere(_.contains("def autoTune("))
    val end = lines.indexWhere(_ == "  }", start)
    assert(start >= 0 && end > start, "Partitioning.autoTune not found")
    val (tune, other) = writes.partition { case (p, i) =>
      p == partitioning && i > start && i < end
    }
    val offenders = other.map { case (p, i) => s"$p:${i + 1}" }
    assert(offenders.isEmpty, "configure sessions in GraftSession and " +
      "pass widths as plan-level partition counts")
    assert(tune.size === 4, tune)
  }

  test("registry queries, the event stream source and one batch of each " +
       "ingest stream leave the caller's confs as they found them") {
    import org.apache.spark.sql.SparkSession
    import org.apache.spark.sql.functions.col
    import graft.operators.Ann
    import graft.sources.Tables
    import graft.streaming.{AnnStream, DedupStream, EventStreams}
    val dir = "/root/testdata/sf0.001"
    val s = spark.newSession()
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    s.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "false")
    s.conf.set("spark.sql.shuffle.partitions", "3")
    val before = s.conf.getAll
    val tmp = Files.createTempDirectory("conf_snapshot")
    SparkSession.setActiveSession(s)
    try {
      for (q <- Seq("grouping_sets", "window_auto_events", "bucket_join",
                    "knn_graph_bucketed"))
        assert(SparkEntry.queries(q)(s, dir).count() > 0L, q)
      val eventsDir = Files.createDirectories(tmp.resolve("events"))
      Files.copy(Paths.get(dir, "events.parquet"),
        eventsDir.resolve("events.parquet"))
      assert(EventStreams.readEventStream(s, eventsDir.toString).isStreaming)
      val docs = Tables.table(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val dedupRoot = tmp.resolve("dedup").toString
      DedupStream.processBatch(docs.filter(col("doc_id") % 10 === 1),
        dedupRoot, 0L)
      assert(s.read.parquet(s"$dedupRoot/verdicts/b=0").count() > 0L)
      val centroids = Ann.fitCentroids(s, dir,
        Ann.ivfCellsFor(Ann.corpusCount(s, dir)))
      val annRoot = tmp.resolve("ann").toString
      AnnStream.seed(s, dir, annRoot)
      val vecs = Tables.table(s, dir, "embeddings")
        .filter(col("vec_id") % Ann.IncDeltaMod === Ann.IncDeltaRem)
        .select(col("vec_id"), col("embedding"))
      AnnStream.processBatch(vecs, annRoot, 0L, centroids)
      assert(s.read.parquet(s"$annRoot/results/b=0").count() > 0L)
    } finally {
      SparkSession.setActiveSession(spark)
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }
    val after = s.conf.getAll
    val changed = (before.keySet ++ after.keySet)
      .filter(k => before.get(k) != after.get(k))
      .map(k => s"$k: ${before.get(k)} -> ${after.get(k)}")
    assert(changed.isEmpty, changed.toSeq.sorted)
  }

  test("stream folds and round trips keep their scratch under Spark's " +
       "driver temp dir, not directly under java.io.tmpdir") {
    import org.apache.spark.SparkFiles
    import graft.operators.{Ann, Dedup}
    import graft.streaming.{AnnStream, DedupStream}
    val dir = "/root/testdata/sf0.001"
    // the per-corpus index artifacts are fixed paths that are
    // overwritten rather than accumulated: build them before the
    // snapshot
    Ann.ivfIndexPath(spark, dir)
    Dedup.minhashIndexPath(spark, dir)
    def graftNames(d: String): Set[String] = {
      val ls = Files.list(Paths.get(d))
      try ls.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("graft")).toSet
      finally ls.close()
    }
    val tmp = sys.props("java.io.tmpdir")
    val before = graftNames(tmp)
    // chunks = 2: no other spec folds with it, so both memos miss
    assert(AnnStream.foldBoundedDelta(spark, dir, chunks = 2).count() > 0L)
    assert(DedupStream.foldBoundedDelta(spark, dir, chunks = 2)
      .count() > 0L)
    for (q <- Seq("scan_csv_roundtrip", "scan_schema_drift"))
      assert(SparkEntry.queries(q)(spark, dir).count() > 0L, q)
    val added = graftNames(tmp) -- before
    assert(added.isEmpty, added)
    val scratch = graftNames(SparkFiles.getRootDirectory())
    for (prefix <- Seq("graft-ann-stream", "graft-dedup-stream",
                       "graft_roundtrip_csv_", "graft_roundtrip_drift_"))
      assert(scratch.exists(_.startsWith(prefix)), s"$prefix: $scratch")
  }
}

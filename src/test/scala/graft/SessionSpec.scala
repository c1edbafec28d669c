package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** One session configuration and one function table: the engine's SQL
  * functions resolve the same whichever seam installed them, and every
  * main builds its session through `graft.engine.GraftSession`.
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
}

package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite

/** Operators build the engine's expressions as Columns, so they run on a
  * session that has neither the extensions nor `GraftFunctions.register`,
  * give the same rows there, and leave its function registry empty.
  * TIMESTAMP(NANOS) Parquet reads under the engine's confs and fails on a
  * session without them.
  */
class BareSessionSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  val dir = "/root/testdata/sf0.001"

  /** One registry query per engine function an operator uses (the
    * functions in the comments).
    */
  val Queries = Seq(
    "dedup_minhash", // word_shingles, md5_prefix60
    "dedup_winnow", // md5_winnow_set
    "doc_fingerprint", // md5_gram_min, md5_winnow_count
    "quality_repetition", // gram_top_frac, gram_dup_frac
    "cdc_chunks", // cdc_chunk_texts
    "bigram_ll", // word_ngrams
    "fivegram_ll", // word_ngrams, gram_rungs
    "bloom_join_auto", // md5_prefix60 in the bloom hashes
    "dsir_weights", // md5_prefix60 bucketing
    "ann_bruteforce", // vec_cosine
    "ann_pq", // vec_l2sq
    "ann_lsh") // vec_dot

  /** A session with no extensions on the shared context. create() makes
    * it the default and active session, so the shared test session is
    * put back straight after (as in SessionSpec).
    */
  private def bareSession(): SparkSession = {
    spark // the shared context must exist before the builder runs
    try SparkSession.builder().create()
    finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  private def multiset(rows: Array[Row]): Map[Seq[Any], Int] =
    rows.toSeq.map(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap

  test("registry queries on a bare session equal the extended session's " +
       "rows and leave the bare function registry empty") {
    val bare = bareSession()
    val reg = bare.sessionState.functionRegistry
    val names = graft.functions.GraftFunctions.Table.map(_.name)
    assert(names.forall(n => !reg.functionExists(FunctionIdentifier(n))))
    for (q <- Queries) {
      val expected = multiset(SparkEntry.queries(q)(spark, dir).collect())
      SparkSession.setActiveSession(bare)
      val got =
        try multiset(SparkEntry.queries(q)(bare, dir).collect())
        finally SparkSession.setActiveSession(spark)
      assert(expected.nonEmpty, q)
      assert(got === expected, q)
    }
    val bound = names.filter(n => reg.functionExists(FunctionIdentifier(n)))
    assert(bound.isEmpty, s"operators bound into the bare registry: $bound")
  }

  test("TIMESTAMP(NANOS) files: events gives exact micros and read_files " +
       "raw nanos under the engine confs; without nanosAsLong the read " +
       "fails with PARQUET_TYPE_ILLEGAL") {
    import org.apache.hadoop.conf.Configuration
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    import org.apache.spark.sql.functions.{col, unix_micros}
    import org.apache.spark.sql.types.{LongType, TimestampType}
    import graft.sources.Tables
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    val nanos = Seq(1700000000123456789L, 1700000060000000999L,
      1700003600999999000L)
    val tmp = java.nio.file.Files.createTempDirectory("nanos_events")
    val d = tmp.toString
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(NANOS,true)); }")
    val conf = new Configuration()
    val w = ExampleParquetWriter.builder(
        HadoopOutputFile.fromPath(new Path(s"$d/events.parquet"), conf))
      .withType(schema).withConf(conf).build()
    val groups = new SimpleGroupFactory(schema)
    try nanos.zipWithIndex.foreach { case (n, i) =>
      w.write(groups.newGroup().append("event_id", i.toLong).append("ts", n))
    } finally w.close()
    val events = Tables.events(spark, d)
    assert(events.schema("ts").dataType === TimestampType)
    assert(events.orderBy("event_id").select(unix_micros(col("ts")))
      .collect().map(_.getLong(0)).toSeq === nanos.map(_ / 1000))
    val raw = Tables.readFiles(spark, s"$d/events.parquet")
    assert(raw.schema("ts").dataType === LongType)
    assert(raw.orderBy("event_id").select("ts").collect().map(_.getLong(0))
      .toSeq === nanos)
    // Spark's default: a session without the engine confs rejects the type
    val plain = spark.newSession()
    plain.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    def condition(t: Throwable): Boolean =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).exists {
        case st: org.apache.spark.SparkThrowable =>
          st.getCondition == "PARQUET_TYPE_ILLEGAL"
        case _ => false
      }
    for (read <- Seq[() => Any](
           () => Tables.readFiles(plain, s"$d/events.parquet").collect(),
           () => Tables.events(plain, d).collect())) {
      val e = intercept[Exception](read())
      assert(condition(e), e)
    }
    org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }
}

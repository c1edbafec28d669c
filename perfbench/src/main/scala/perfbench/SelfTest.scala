package perfbench

import org.apache.spark.sql.functions.rand

/** Checks of the harness's own arithmetic and fingerprints. Exits 0 when all
  * pass. run.py adds a short dry run of every workload on a tiny corpus.
  */
object SelfTest {
  private var failures = 0

  private def expect(what: String, ok: Boolean): Unit = {
    if (!ok) failures += 1
    Main.log(s"selftest ${if (ok) "ok  " else "FAIL"} $what")
  }

  private def close(a: Double, b: Double): Boolean = math.abs(a - b) < 1e-9

  def run(work: String): Int = {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    expect("median of an even sample interpolates", close(Stats.median(xs), 2.5))
    expect("p90 of 1..10 is 9.1", close(Stats.percentile((1 to 10).map(_.toDouble), 0.9), 9.1))
    expect("p0 and p100 are min and max",
      close(Stats.percentile(xs, 0.0), 1.0) && close(Stats.percentile(xs, 1.0), 4.0))
    expect("single sample is every percentile", close(Stats.percentile(Seq(7.0), 0.9), 7.0))
    expect("geomean(1, 4, 16) = 4", close(Stats.geomean(Seq(1.0, 4.0, 16.0)), 4.0))
    expect("union of overlapping intervals",
      Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L), (21L, 22L))) == 20L)

    val rows = (0 until 500).map(i => Seq[Any](i.toLong, s"k${i % 7}", i * 0.1,
      java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
    val shuffledRows = Batch.shuffled(rows, new java.util.Random(3))
    expect("row-hash fingerprint ignores row order",
      RowHash.of(rows.map(RowHash.rowHash)) == RowHash.of(shuffledRows.map(RowHash.rowHash)))
    expect("row-hash fingerprint sees a changed value",
      RowHash.of(rows.map(RowHash.rowHash)) !=
        RowHash.of(rows.updated(3, Seq[Any](3L, "k3", 0.31, null)).map(RowHash.rowHash)))
    expect("doubles equal to six digits hash alike",
      RowHash.rowHash(Seq(0.1 + 0.2)) == RowHash.rowHash(Seq(0.3)))
    expect("ints and longs hash alike", RowHash.rowHash(Seq(5)) == RowHash.rowHash(Seq(5L)))
    expect("timestamp kinds hash alike",
      RowHash.rowHash(Seq(java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))) ==
        RowHash.rowHash(Seq(java.time.LocalDateTime.parse("2024-01-01T00:00:00"))))

    val spark = Main.session(work)
    try {
      val df = spark.range(0, 20000).selectExpr("id", "cast(id % 13 as string) AS k",
        "id / 7.0 AS x", "sum(id) OVER (PARTITION BY id % 5) * 1e-3 AS s")
      val a = RowHash.fingerprint(df)
      val b = RowHash.fingerprint(df.repartition(7).orderBy(rand(5)))
      expect("spark fingerprint ignores row order and partitioning", a == b && a.rows == 20000)
      expect("spark fingerprint sees a dropped row",
        RowHash.fingerprint(df.filter("id <> 777")) != a)
      val collected = df.collect().map(r => RowHash.rowHash(r.toSeq))
      expect("row-hash fingerprint of a collected frame ignores order",
        RowHash.of(collected) == RowHash.of(Batch.shuffled(collected.toSeq, new java.util.Random(9))))
    } finally spark.stop()
    Main.log(s"selftest: $failures failure(s)")
    if (failures == 0) 0 else 1
  }
}

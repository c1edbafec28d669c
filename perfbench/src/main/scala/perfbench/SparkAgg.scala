package perfbench

import scala.jdk.CollectionConverters._

/** The `spark` and `sources` layer figures of one query, summed over the
  * jobs its job groups ran.
  */
final case class SparkAgg(jobs: Int, stages: Int, tasks: Int, taskS: Double,
                          cpuS: Double, gcS: Double, shuffleWriteMb: Double,
                          shuffleReadMb: Double, spillMb: Double,
                          scanRows: Long, scanMb: Double,
                          stragglerRatio: Double, taskWaitsMs: Seq[Double])

object SparkAgg {
  private val Mb = 1024.0 * 1024.0

  def of(log: JobLog, js: Seq[JobRec]): SparkAgg = {
    val st = log.stagesOf(js)
    val ts = st.flatMap(_.tasks.asScala)
    // worst stage: the largest max/median task duration among stages wide
    // enough to have a straggler
    val ratios = st.map(_.tasks.asScala.map(_.durMs.toDouble).toSeq)
      .filter(_.size >= 2)
      .map(d => d.max / math.max(Stats.median(d), 1.0))
    val waits = st.filter(_.submitMs >= 0).flatMap(s =>
      s.tasks.asScala.map(t => math.max(0L, t.launchMs - s.submitMs).toDouble))
    SparkAgg(js.size, st.size, ts.size, ts.map(_.durMs).sum / 1e3,
      ts.map(_.cpuNs).sum / 1e9, ts.map(_.gcMs).sum / 1e3,
      ts.map(_.shuffleWriteBytes).sum / Mb, ts.map(_.shuffleReadBytes).sum / Mb,
      ts.map(_.spillBytes).sum / Mb, ts.map(_.inputRecords).sum,
      ts.map(_.inputBytes).sum / Mb,
      if (ratios.isEmpty) 1.0 else ratios.max, waits)
  }
}

package org.apache.spark

/** Test-side access to the live SparkContext conf (`SparkContext.conf`
  * is `private[spark]`). The local scheduler reads
  * `spark.default.parallelism` on every `defaultParallelism` call, so a
  * spec can run the chunked window rewrites — whose chunk count is the
  * cluster width — at a chosen width without a second SparkContext.
  */
object TestParallelism {
  def withDefaultParallelism[A](sc: SparkContext, n: Int)(body: => A): A = {
    val key = "spark.default.parallelism"
    val prev = sc.conf.getOption(key)
    sc.conf.set(key, n.toString)
    try body
    finally prev match {
      case Some(v) => sc.conf.set(key, v)
      case None => sc.conf.remove(key)
    }
  }
}

package perfbench

/** Writes a traced run's spans and summaries as one JSON file. */
object TraceReport {
  def write(path: String, workload: String, seed: Long, tracer: Tracer,
            e2e: Map[String, Double], layers: Map[String, Double],
            confs: Seq[(String, String)]): Unit = {
    import Json.{num, str}
    def obj(m: Seq[(String, String)]): String =
      m.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
    val spans = tracer.all.sortBy(s => (s.startUs, s.id)).map { s =>
      s"""{"id": ${s.id}, "parent": ${s.parent}, "name": ${str(s.name)}, """ +
        s""""query": ${str(s.query)}, "start_us": ${s.startUs}, "end_us": ${s.endUs}}"""
    }
    val body = Seq(
      "workload" -> str(workload),
      "seed" -> seed.toString,
      "confs" -> obj(confs.map { case (k, v) => k -> str(v) }),
      "end_to_end" -> obj(e2e.toSeq.sorted.map { case (k, v) => k -> num(v) }),
      "per_layer" -> obj(layers.toSeq.sorted.map { case (k, v) => k -> num(v) }),
      "self_s" -> obj(tracer.selfTimes().toSeq.sorted.map { case (k, v) => k -> num(v) }),
      "spans" -> spans.mkString("[\n", ",\n", "\n]"))
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      obj(body).getBytes("UTF-8"))
    Main.log(s"trace: ${spans.size} spans written to $path")
  }
}

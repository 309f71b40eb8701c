package perfbench

import java.io.PrintWriter

/** Per-layer metrics and the span tree of a traced run.
  *
  * The span tree has three levels: one root span per op, one child per
  * public call the op made, and one child per Spark job that started inside
  * the op's window (a single client runs, so every such job belongs to that
  * op, including jobs the engine launches from its own futures). A job
  * hangs under the call span whose window holds its start.
  */
object Layers {
  import Probe.JobRec

  /** The jobs that started inside an op, each with a known module. */
  private def jobsOf(o: OpRec, jobs: Seq[JobRec]): Seq[JobRec] =
    jobs.filter(j => j.startMs >= o.startMs && j.startMs <= o.endMs).map { j =>
      if (j.module != Probe.Unknown) j
      else j.copy(module = callOf(o, j).map(c => Probe.callModule(c._1)).getOrElse("bench"))
    }

  private def callOf(o: OpRec, j: JobRec): Option[(String, Long, Long)] =
    o.calls.find { case (_, a, b) => j.startMs >= a && j.startMs <= b }

  /** Op time not covered by any Spark job: the driver's share of the op. */
  private def selfMs(o: OpRec, js: Seq[JobRec]): Long =
    (o.endMs - o.startMs) - Probe.covered(js.map(j => (j.startMs, j.endMs)), o.startMs, o.endMs)

  def perLayer(rec: Recorder, probe: Probe, delta: Map[String, Double],
               watch: WarehouseWatch, gcS: Double, gcCount: Long): Map[String, Double] = {
    val all = allJobs(probe)
    val perOp = rec.ops.map(o => o -> jobsOf(o, all)).toSeq
    val jobs = perOp.flatMap(_._2)
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    m("spark.jobs") = jobs.size
    m("spark.stages") = delta("spark.stages")
    m("spark.tasks") = delta("spark.tasks")
    m("spark.job_s") = jobs.map(j => j.endMs - j.startMs).sum / 1e3
    m("spark.driver_gap_s") = perOp.map { case (o, js) => selfMs(o, js) }.sum / 1e3
    m("spark.tasks_useful_frac") =
      if (delta("spark.tasks") == 0) 0d else delta("spark.tasks_useful") / delta("spark.tasks")
    m("spark.task_cpu_s") = delta("spark.task_cpu_s")
    m("spark.jobs_failed") = jobs.count(_.failed)
    m("spark.tasks_failed") = delta("spark.tasks_failed")
    Probe.Modules.foreach { mod =>
      val js = jobs.filter(_.module == mod)
      m(s"$mod.jobs") = js.size
      m(s"$mod.job_s") = js.map(j => j.endMs - j.startMs).sum / 1e3
    }
    m("write.commits") = watch.commits
    m("write.files_written") = watch.filesWritten
    m("write.chain_depth_max") = watch.chainDepthMax
    m("output.bytes_written") = delta("output.bytes_written")
    m("catalyst.executions") = delta("catalyst.executions")
    Seq("analysis", "optimization", "planning").foreach { p =>
      m(s"catalyst.${p}_s") = delta(s"catalyst.${p}_s")
    }
    Seq("scan.bytes_read", "shuffle.write_bytes", "shuffle.read_bytes", "spill.bytes")
      .foreach(k => m(k) = delta(k))
    def opStats(prefix: String, group: Seq[(OpRec, Seq[JobRec])]): Unit = {
      m(s"$prefix.s") = group.map(_._1.seconds).sum
      m(s"$prefix.self_s") = group.map { case (o, js) => selfMs(o, js) }.sum / 1e3
      m(s"$prefix.jobs") = group.map(_._2.size).sum
    }
    Seq("read", "write").foreach(c => opStats(s"op.$c", perOp.filter(_._1.cls == c)))
    perOp.groupBy(_._1.kind).toSeq.sortBy(_._1).foreach { case (k, g) => opStats(s"op.$k", g) }
    m("jvm.gc_s") = gcS
    m("jvm.gc_count") = gcCount
    m.toMap
  }

  private def allJobs(probe: Probe): Seq[JobRec] = probe.jobs.toArray(Array.empty[JobRec]).toSeq

  def writeSpans(rec: Recorder, probe: Probe, path: String): Unit = {
    val jobs = allJobs(probe)
    val out = new PrintWriter(path, "UTF-8")
    var next = 0
    def span(name: String, start: Long, end: Long, parent: Option[Int], op: Int): Int = {
      val id = next
      next += 1
      out.println(Main.mapper.writeValueAsString(Map("id" -> id, "name" -> name,
        "start_ms" -> start, "end_ms" -> end, "parent" -> parent.map(Int.box).orNull, "op" -> op)))
      id
    }
    try rec.ops.foreach { o =>
      val root = span(o.kind, o.startMs, o.endMs, None, o.id)
      val calls = o.calls.map(c => c -> span(c._1, c._2, c._3, Some(root), o.id)).toMap
      jobsOf(o, jobs).foreach { j =>
        span(s"job ${j.id} ${j.module}", j.startMs, j.endMs,
          Some(callOf(o, j).map(calls).getOrElse(root)), o.id)
      }
    } finally out.close()
  }
}

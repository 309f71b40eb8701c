package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Everything the benchmark learns about Spark work, from listeners it
  * registers itself. Counters are always on (they are cheap and feed
  * `write_amp`); per-job records are kept only when tracing.
  */
final class Probe(spark: SparkSession, keepJobs: Boolean) {
  import Probe._

  val counters: Map[String, AtomicLong] = CounterNames.map(_ -> new AtomicLong).toMap
  private val cpuNs = new AtomicLong
  private val catalyst = Map("analysis" -> new DoubleAdder,
    "optimization" -> new DoubleAdder, "planning" -> new DoubleAdder)

  private val jobStart = new ConcurrentHashMap[Int, (Long, String)]
  val jobs = new java.util.concurrent.ConcurrentLinkedQueue[JobRec]

  private def add(name: String, v: Long): Unit = counters(name).addAndGet(v)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (keepJobs) {
        // a call site set on the thread (stream execution threads, and
        // pool threads they spawned, inherit one) is not this job's stack
        val inherited = Option(e.properties).exists(_.getProperty("callSite.long") != null)
        val details = e.stageInfos.headOption.map(_.details).getOrElse("")
        jobStart.put(e.jobId, (e.time, if (inherited) Unknown else moduleOf(details)))
      }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      add("spark.jobs", 1)
      val failed = e.jobResult != JobSucceeded
      if (failed) add("spark.jobs_failed", 1)
      if (keepJobs) Option(jobStart.remove(e.jobId)).foreach { case (t0, m) =>
        jobs.add(JobRec(e.jobId, t0, e.time, m, failed))
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      add("spark.stages", 1)
      val m = e.stageInfo.taskMetrics
      if (m != null) {
        add("scan.bytes_read", m.inputMetrics.bytesRead)
        add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add("spill.bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        add("output.bytes_written", m.outputMetrics.bytesWritten)
        cpuNs.addAndGet(m.executorCpuTime)
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("spark.tasks", 1)
      if (!e.taskInfo.successful) add("spark.tasks_failed", 1)
      val m = e.taskMetrics
      if (m != null && m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead > 0)
        add("spark.tasks_useful", 1)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      add("catalyst.executions", 1)
      qe.tracker.phases.foreach { case (phase, s) =>
        catalyst.get(phase).foreach(_.add(s.durationMs / 1000.0))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Wait until every posted event has reached the listeners. */
  def flush(): Unit = org.apache.spark.GraftListenerBridge.flushListeners(spark.sparkContext)

  /** A point-in-time copy of every counter (flushes first). */
  def snapshot(): Map[String, Double] = {
    flush()
    counters.map { case (k, v) => k -> v.get.toDouble } ++
      catalyst.map { case (k, v) => s"catalyst.${k}_s" -> v.sum } +
      ("spark.task_cpu_s" -> cpuNs.get / 1e9)
  }
}

object Probe {
  val CounterNames: Seq[String] = Seq(
    "spark.jobs", "spark.jobs_failed", "spark.stages", "spark.tasks",
    "spark.tasks_failed", "spark.tasks_useful", "scan.bytes_read",
    "shuffle.write_bytes", "shuffle.read_bytes", "spill.bytes",
    "output.bytes_written", "catalyst.executions")

  /** Engine modules a job can be attributed to, by the first `graft.*`
    * frame of its call site; `bench` is the harness itself.
    */
  val Modules: Seq[String] =
    Seq("write", "scale", "streaming", "ops", "summary", "run", "core", "bench")

  final case class JobRec(id: Int, startMs: Long, endMs: Long, module: String,
                          failed: Boolean)

  /** Module of a job whose own stack is not known: a thread-set call site,
    * or no engine or harness frame (Spark's broadcast and subquery threads).
    * Such a job takes the module of the public call its op was making.
    */
  val Unknown = "?"

  /** Module of each public call the harness makes, by its name's prefix. */
  def callModule(call: String): String = call.takeWhile(_ != '.') match {
    case "Pq" | "PageRankIndex" => "scale"
    case "PostingsStream" | "PostingsIndex" => "streaming"
    case "VersionedTable" => "write"
    case "SummaryBuilder" => "summary"
    case "Q" => "ops"
    case _ => "bench"
  }

  private val Frame = """^\s*(?:at\s+)?([\w$.]+)\.[\w$<>]+\(""".r.unanchored

  /** Module of a job from its long call site (innermost user frame first). */
  def moduleOf(callSite: String): String = {
    val classes = callSite.linesIterator.flatMap { l =>
      Frame.findFirstMatchIn(l).map(_.group(1))
    }.toSeq
    classes.find(_.startsWith("graft.")) match {
      case Some(c) =>
        val parts = c.split('.')
        if (parts.length > 2 && Modules.contains(parts(1))) parts(1) else "core"
      case None =>
        if (classes.exists(_.startsWith("perfbench."))) "bench" else Unknown
    }
  }

  /** Length of the union of [a, b) intervals, clipped to [lo, hi). */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (a max lo, b min hi) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = curB max b
    }
    if (curB > curA) total += curB - curA
    total
  }
}

/** One timed operation of the closed loop, with the public calls it made. */
final case class OpRec(id: Int, kind: String, cls: String, target: String, startMs: Long,
                       endMs: Long, seconds: Double, ok: Boolean, error: String,
                       calls: Seq[(String, Long, Long)])

/** The client: runs ops one at a time, times them, records failures. */
final class Recorder(tracing: Boolean) {
  val ops = mutable.ArrayBuffer.empty[OpRec]
  private var calls = mutable.ArrayBuffer.empty[(String, Long, Long)]
  /** Called after every op in tracing mode (outside its timing window). */
  var afterOp: OpRec => Unit = _ => ()

  /** Run one op; a thrown error or a failed output check marks it failed. */
  def op(kind: String, cls: String, target: String)(body: => Unit): Boolean = {
    calls = mutable.ArrayBuffer.empty
    val wall0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val err =
      try { body; "" }
      catch { case scala.util.control.NonFatal(e) =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[perfbench] op $kind failed: $msg")
        s"${e.getClass.getSimpleName}: ${msg.take(300)}"
      }
    val secs = (System.nanoTime() - t0) / 1e9
    val rec = OpRec(ops.size, kind, cls, target, wall0, System.currentTimeMillis(), secs,
      err.isEmpty, err, calls.toSeq)
    ops += rec
    if (tracing) afterOp(rec)
    err.isEmpty
  }

  /** A public call inside the current op: a child span when tracing. */
  def call[A](name: String)(body: => A): A =
    if (!tracing) body
    else {
      val a = System.currentTimeMillis()
      try body finally calls += ((name, a, System.currentTimeMillis()))
    }
}

/** Output check failed: the op produced a wrong answer. */
final class WrongOutput(msg: String) extends RuntimeException(msg)

object Check {
  def apply(ok: Boolean, what: => String): Unit = if (!ok) throw new WrongOutput(what)
}

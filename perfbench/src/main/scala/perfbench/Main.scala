package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** A workload: state built by `setup`, then rounds of ops run by the client. */
trait Workload {
  /** Build the initial tables or indexes under `dir` (a fresh directory). */
  def setup(dir: String): Unit
  /** How many rounds of input the generator made. */
  def rounds: Int
  /** Length of one round on the reference machine (4 cores); a run of
    * `--seconds` executes `seconds / roundSeconds` rounds, at least one.
    */
  def roundSeconds: Double
  /** One round of ops against the state of the last `setup`. */
  def round(r: Int): Unit
  /** After the loop: dump the served state under `dir` for the output
    * checks; returns the in-process check results and dump locations.
    */
  def finish(dir: String): Map[String, Any]
}

/** Entry point, launched by run.py:
  * `perfbench.Main --run-dir D --workload W --seconds S --trace 0|1
  *  --cores C`. Inputs come from `D/in` (gen.py); the result is
  * written to `D/result.json`.
  */
object Main {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val runDir = new File(opt("run-dir")).getAbsolutePath
    val tracing = opt("trace") == "1"
    val cores = opt("cores")
    val manifest = mapper.readTree(new File(s"$runDir/in/manifest.json"))
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config(graft.core.Tables.NanosConfKey, "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val rec = new Recorder(tracing)
    val probe = new Probe(spark, keepJobs = tracing)
    val w: Workload = opt("workload") match {
      case "etl_load" => new EtlLoad(spark, runDir, manifest, rec)
      case "index_lifecycle" => new IndexLifecycle(spark, runDir, manifest, rec)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val wh = s"$runDir/wh"
    val setupS = { val t = System.nanoTime(); w.setup(wh); (System.nanoTime() - t) / 1e9 }

    val watch = new WarehouseWatch(Paths.get(wh))
    if (tracing) rec.afterOp = _ => watch.update()
    val gc0 = gcTotals()
    val before = probe.snapshot()
    // closed loop over a fixed number of whole rounds: the work of a run
    // depends on --seconds, never on how fast the program runs, so traced
    // and untraced runs, and runs of two commits, do the same ops
    val nRounds = math.max(1, math.round(opt("seconds").toDouble / w.roundSeconds).toInt)
      .min(w.rounds)
    val t0 = System.nanoTime()
    (0 until nRounds).foreach(w.round)
    val timedS = (System.nanoTime() - t0) / 1e9
    val after = probe.snapshot()
    val gc1 = gcTotals()

    // retained memory: the heap an explicit full GC leaves live (in local
    // mode this includes the block manager's on-heap storage). The second
    // GC follows the ContextCleaner's removal of blocks whose RDDs the
    // first one found dead, so they do not count as retained.
    System.gc()
    Thread.sleep(1000)
    System.gc()
    val heapMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
    val storageMb = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0

    val delta = after.map { case (k, v) => k -> (v - before.getOrElse(k, 0d)) }
    val finish = w.finish(s"$runDir/dump")
    val finishS = (System.nanoTime() - t0) / 1e9 - timedS
    val result = Map(
      "session_s" -> sessionS,
      "setup_s" -> setupS,
      "rounds" -> nRounds,
      "timed_s" -> timedS,
      "finish_s" -> finishS,
      "ops" -> rec.ops.map(o => Map("kind" -> o.kind, "cls" -> o.cls,
        "target" -> o.target, "s" -> o.seconds, "ok" -> o.ok,
        "error" -> o.error)),
      "output_bytes" -> delta("output.bytes_written"),
      "disk_bytes" -> treeBytes(Paths.get(wh)),
      "retained_mb" -> heapMb,
      "storage_mb" -> storageMb,
      "finish" -> finish,
      "per_layer" -> (if (tracing) Layers.perLayer(rec, probe, delta, watch,
        gc1._1 - gc0._1, gc1._2 - gc0._2) else Map.empty),
    )
    if (tracing) Layers.writeSpans(rec, probe, s"$runDir/spans.jsonl")
    mapper.writeValue(new File(s"$runDir/result.json"), result)
    spark.stop()
  }

  /** (collection seconds, collection count) summed over every collector. */
  def gcTotals(): (Double, Long) = {
    val bs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (bs.map(_.getCollectionTime.max(0L)).sum / 1e3, bs.map(_.getCollectionCount.max(0L)).sum)
  }

  /** Bytes of the regular files under `root` whose name passes `keep`. */
  def treeBytes(root: Path, keep: String => Boolean = _ => true): Long =
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator().asScala
        .filter(p => Files.isRegularFile(p) && keep(p.getFileName.toString))
        .map(Files.size).sum
      finally s.close()
    }

  /** Bytes of the parquet data files under `dir`. */
  def parquetBytes(dir: String): Long = treeBytes(Paths.get(dir), _.endsWith(".parquet"))

}

/** Commits, data files and chain depth of every versioned table under a
  * warehouse, diffed after each op of a traced run.
  */
final class WarehouseWatch(root: Path) {
  private var manifests = Map.empty[Path, String]
  private var files = Set.empty[Path]
  var commits = 0L
  var filesWritten = 0L
  var chainDepthMax = 0

  private def scan(): (Map[Path, String], Set[Path]) = {
    val s = Files.walk(root)
    try {
      val all = s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      val ms = all.filter(_.getFileName.toString == "_MANIFEST")
        .map(p => p -> new String(Files.readAllBytes(p), "UTF-8")).toMap
      (ms, all.filter(_.getFileName.toString.endsWith(".parquet")).toSet)
    } finally s.close()
  }

  locally { val (m, f) = scan(); manifests = m; files = f }

  def update(): Unit = {
    val (m, f) = scan()
    commits += m.count { case (p, body) => !manifests.get(p).contains(body) }
    filesWritten += (f -- files).size
    m.foreach { case (p, body) =>
      val v = body.linesIterator.next().trim
      val fl = p.getParent.resolve(s"v$v").resolve("_FILELIST")
      val depth =
        if (!Files.exists(fl)) 1
        else new String(Files.readAllBytes(fl), "UTF-8").linesIterator
          .filter(_.nonEmpty).map(_.split('\t').head).toSet.size
      chainDepthMax = chainDepthMax max depth
    }
    manifests = m
    files = f
  }
}

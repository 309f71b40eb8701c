package graft.write

import graft.SparkSpec
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

/** The shared commit helper's laws: a bounded pool, settle-before-rethrow,
  * promote only after every stage settled, nesting without deadlock, the
  * tag skip, and the caller's job group carried into the pool. Plus the
  * guards that keep hand-rolled futures and tombstone tables out of the
  * engine.
  */
class StagedCommitSpec extends SparkSpec {
  import spark.implicits._

  private def root(): String = Files.createTempDirectory("graft-sc").toString + "/t"

  private def table(r: String = root()): VersionedTable = new VersionedTable(spark, r)

  private def committed(v: Int): VersionedTable = {
    val t = table()
    t.promote(t.stage(Seq(v).toDF("v")))
    t
  }

  private def values(t: VersionedTable): Seq[Int] = t.read().as[Int].collect().toSeq

  test("a 100-member settleAll never runs more tasks at once than the pool size") {
    val running = new AtomicInteger()
    val peak = new AtomicInteger()
    val out = StagedCommit.settleAll((1 to 100).map { i => () =>
      val now = running.incrementAndGet()
      peak.accumulateAndGet(now, math.max)
      Thread.sleep(5)
      running.decrementAndGet()
      i
    })
    assert(out === (1 to 100))
    assert(peak.get() <= StagedCommit.poolSize)
    assert(peak.get() > 1, "members never overlapped")
  }

  test("a failing member lets every sibling finish first; nothing is promoted") {
    val (a, b, c) = (committed(1), committed(2), committed(3))
    val finished = new AtomicInteger()
    def slow(t: VersionedTable, v: Int) = t -> (() => {
      Thread.sleep(300)
      finished.incrementAndGet()
      t.stage(Seq(v).toDF("v"))
    })
    val e = intercept[IllegalStateException] {
      StagedCommit(Some("batch=1"), slow(a, 10),
        b -> (() => throw new IllegalStateException("stage failed")), slow(c, 30))
    }
    assert(e.getMessage === "stage failed")
    assert(finished.get() === 2)
    assert(Seq(a, b, c).map(values) === Seq(Seq(1), Seq(2), Seq(3)))
    assert(Seq(a, b, c).forall(_.currentTag.isEmpty))
  }

  test("nesting deeper than the pool size completes") {
    def nest(depth: Int): Int =
      if (depth == 0) 1
      else StagedCommit.settleAll(Seq.fill(2)(() => nest(depth - 1))).sum
    val depth = StagedCommit.poolSize + 2
    @volatile var result = 0
    val t = new Thread(() => result = nest(depth))
    t.start()
    t.join(120000)
    assert(!t.isAlive, s"nested settleAll deadlocked at depth $depth")
    assert(result === 1 << depth)
  }

  test("a member already carrying the tag is neither staged nor promoted") {
    val done = table()
    done.promote(done.stage(Seq(1).toDF("v")), Some("batch=7"))
    val todo = committed(2)
    val staged = new AtomicInteger()
    StagedCommit(Some("batch=7"),
      done -> (() => { staged.incrementAndGet(); done.stage(Seq(9).toDF("v")) }),
      todo -> (() => todo.stage(Seq(20).toDF("v"))))
    assert(staged.get() === 0)
    assert(done.currentVersion === Some(0) && values(done) === Seq(1))
    assert(values(todo) === Seq(20) && todo.hasTag("batch=7"))
  }

  test("members promote in list order; an untagged commit carries each tag forward") {
    val (ra, rb) = (root(), root())
    val (a, b) = (table(ra), table(rb))
    a.promote(a.stage(Seq(1).toDF("v")), Some("batch=3"))
    b.promote(b.stage(Seq(2).toDF("v")))
    val order = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def member(t: VersionedTable, name: String, v: Int, delayMs: Long) = t -> (() => {
      Thread.sleep(delayMs)
      val staged = t.stage(Seq(v).toDF("v"))
      order.add(name)
      staged
    })
    // b finishes staging first, yet a's manifest is still written first
    StagedCommit(None, member(a, "a", 10, 300), member(b, "b", 20, 0))
    assert(order.toArray.toSeq === Seq("b", "a"))
    def written(r: String) = Files.getLastModifiedTime(Paths.get(r, "_MANIFEST"))
    assert(written(ra).compareTo(written(rb)) <= 0)
    assert(values(a) === Seq(10) && values(b) === Seq(20))
    assert(a.currentTag === Some("batch=3") && b.currentTag.isEmpty)
  }

  test("pool tasks run under the caller's job group and leave no trace") {
    val sc = spark.sparkContext
    sc.setJobGroup("staged-commit-spec", "carried description")
    val seen = try StagedCommit.settleAll(Seq.fill(4)(() =>
        (sc.getLocalProperty("spark.jobGroup.id"), sc.getLocalProperty("spark.job.description"))))
      finally sc.clearJobGroup()
    assert(seen.toSet === Set(("staged-commit-spec", "carried description")))
    val after = StagedCommit.settleAll(Seq.fill(4)(() => sc.getLocalProperty("spark.jobGroup.id")))
    assert(after.forall(_ == null))
  }

  /** Lines of `src/main/scala` (outside `exempt`) that match `forbidden`. */
  private def sourceHits(forbidden: scala.util.matching.Regex, exempt: String): Seq[String] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root missing")
    val stream = Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      stream.iterator().asScala.toSeq
        .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != exempt)
        .flatMap { p =>
          Files.readAllLines(p).asScala.zipWithIndex.collect {
            case (line, i) if forbidden.findFirstIn(line).isDefined => s"$p:${i + 1}: ${line.trim}"
          }
        }
    } finally stream.close()
  }

  test("no hand-rolled futures: the global EC and Await live only in StagedCommit") {
    val hits = sourceHits(raw"ExecutionContext\.global|Implicits\.global|Await\.".r,
      "StagedCommit.scala")
    assert(hits.isEmpty, "use graft.write.StagedCommit instead:\n" + hits.mkString("\n"))
  }

  test("no hand-rolled tombstones: only TombstoneSet builds a tombstone table") {
    val hits = sourceHits("VersionedTable\\(.*tombstones|\"tombstones\"".r, "TombstoneSet.scala")
    assert(hits.isEmpty, "use graft.write.TombstoneSet instead:\n" + hits.mkString("\n"))
  }
}

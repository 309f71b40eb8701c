package graft.write

import java.util.concurrent.{ExecutionException, Executors, FutureTask}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.SparkSession
import scala.util.{Failure, Success, Try}

/** The engine's one multi-table commit: [[VersionedTable]]'s stage-then-swap
  * (the W5 validated CTAS + rename, plugins/redshift_summary.py:132-217)
  * lifted to an ordered batch of tables. Every index that maintains more
  * than one table per batch commits through it.
  *
  * `StagedCommit(tag, t1 -> stage1, t2 -> stage2, ...)`:
  *  1. skips each member whose manifest already carries `tag` (a replayed
  *     batch re-stages only what its crashed attempt did not promote);
  *  2. runs the remaining stage thunks concurrently on one shared bounded
  *     pool — each returns the version it staged, none promotes;
  *  3. settles EVERY stage before rethrowing the first failure, so no
  *     orphaned stage write can race a retry into the same version
  *     directory;
  *  4. promotes the members in list order, each stamped with `tag` (or,
  *     untagged, carrying its current tag forward the way a compaction
  *     does).
  *
  * Crash argument, once for every caller. Stages only write fresh,
  * never-promoted version directories, so a crash before the first promote
  * leaves every table at its pre-batch version. Each promote is one atomic
  * manifest rename that flips a table and records the tag together, so a
  * crash after k promotes leaves exactly the list's first k members at the
  * batch (tagged) and the rest at their pre-batch versions. The replay
  * skips the first k and stages the rest from the same pre-batch state as
  * before, so it converges on the run-once result — provided each stage
  * reads only the batch and pre-batch versions, never a sibling's staged
  * output. The caller's list order is therefore its crash order: put first
  * what a later member's replay may rely on (a tombstone clear before the
  * rows it re-admits, a completion gate last). Untagged commits (purges,
  * rebuilds) converge instead because re-running them is idempotent.
  *
  * Concurrency: the pool has a fixed number of daemon threads sized from
  * the host's processors — stage threads mostly wait on Spark jobs, so two
  * per core. Each task runs under the caller's Spark job group,
  * description and active session, then restores the thread's own. Pool
  * threads inherit no thread-locals from whoever created them. A pool
  * thread that nests a commit runs every member the pool has not started
  * yet itself (`FutureTask.run` is a no-op once a task has started), so
  * nesting cannot deadlock however deep it goes.
  */
object StagedCommit {

  /** Worker threads of the shared pool. */
  val poolSize: Int = 2 * Runtime.getRuntime.availableProcessors

  private final class Worker(r: Runnable, id: Int)
      extends Thread(null, r, s"graft-staged-commit-$id", 0L, false) {
    setDaemon(true)
  }

  private val ids = new AtomicInteger()
  private val pool =
    Executors.newFixedThreadPool(poolSize, (r: Runnable) => new Worker(r, ids.incrementAndGet()))

  /** Stage the members not yet stamped with `tag`, settle them all, then
    * promote them in list order (see the object scaladoc).
    */
  def apply(tag: Option[String], members: (VersionedTable, () => Int)*): Unit = {
    val pending = members.filterNot { case (t, _) => tag.exists(t.hasTag) }
    val versions = settleAll(pending.map(_._2))
    pending.zip(versions).foreach { case ((t, _), v) =>
      t.promote(v, tag.orElse(t.currentTag))
    }
  }

  /** Run `thunks` concurrently on the shared pool and return their results
    * in order — the overlap primitive for work that is not a commit. Every
    * thunk settles before the first failure is rethrown.
    */
  def settleAll[A](thunks: Seq[() => A]): Seq[A] = {
    val caller = new Caller
    val tasks = thunks.map(f => new FutureTask[A](() => caller.run(f())))
    tasks.foreach(pool.execute)
    if (Thread.currentThread.isInstanceOf[Worker]) tasks.foreach(_.run())
    tasks.map(settle).map(_.get)
  }

  /** The Spark context of the submitting thread, captured at submit time. */
  private final class Caller {
    private val session = SparkSession.getActiveSession
    private val sc = session.orElse(SparkSession.getDefaultSession).map(_.sparkContext)
    private val props = local()

    private def local(): Seq[(String, String)] = sc.toSeq.flatMap(c =>
      Seq("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
        .map(k => k -> c.getLocalProperty(k)))

    private def setLocal(kvs: Seq[(String, String)]): Unit =
      sc.foreach(c => kvs.foreach { case (k, v) => c.setLocalProperty(k, v) })

    /** `body` under the caller's job group, description and session; the
      * running thread's own are restored afterwards.
      */
    def run[A](body: => A): A = {
      val (ownSession, ownProps) = (SparkSession.getActiveSession, local())
      setLocal(props)
      session.foreach(SparkSession.setActiveSession)
      try body
      finally {
        setLocal(ownProps)
        ownSession.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
      }
    }
  }

  /** Wait for `t` to finish, through interrupts (re-asserted afterwards). */
  private def settle[A](t: FutureTask[A]): Try[A] = {
    var interrupted = false
    var result: Try[A] = null
    while (result == null) {
      try result = Success(t.get())
      catch {
        case e: ExecutionException => result = Failure(e.getCause)
        case _: InterruptedException => interrupted = true
      }
    }
    if (interrupted) Thread.currentThread.interrupt()
    result
  }
}

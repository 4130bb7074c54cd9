package graft.queries

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.JobExecutionStatus
import org.apache.spark.sql.SparkSession

/** Driver-side overlap of independent legs (guide §2.6) with a clean exit.
  * Each leg runs on its own driver thread under a fresh Spark job tag. The
  * tag is added to the local properties the thread inherits, so the leg's
  * jobs keep the caller's job group and description, and per-label rollups
  * still see them. When the scope exits — normally or by exception — every
  * unfinished leg has its tagged jobs cancelled (with task interruption)
  * and its thread interrupted and joined, and the scope then waits until no
  * task of a tagged job is still running. The caller's `finally` cleanup
  * therefore never races a running write. A leg that cannot be stopped is
  * an error, never a silently abandoned thread. */
private[graft] final class Overlap private (spark: SparkSession) {
  private val legs = ArrayBuffer.empty[Overlap.Leg[_]]

  /** Start `body` on its own thread; `get` joins it. */
  def fork[T](body: => T): Overlap.Leg[T] = {
    val leg = new Overlap.Leg[T](spark, body)
    legs += leg
    leg.thread.start()
    leg
  }

  private def close(): Unit = {
    val sc = spark.sparkContext
    val deadline = System.nanoTime() + Overlap.StopTimeoutMs * 1000000L
    def overdue = System.nanoTime() > deadline
    // cancel + interrupt until each leg's thread ends: a leg between two
    // jobs can submit another after a single cancel
    legs.foreach { l =>
      while (l.thread.isAlive && !overdue) {
        sc.cancelJobsWithTag(l.tag, "overlap scope exited")
        l.thread.interrupt()
        l.thread.join(100)
      }
    }
    val alive = legs.filter(_.thread.isAlive).map(_.tag)
    if (alive.nonEmpty)
      throw new IllegalStateException(s"overlap legs still running: ${alive.mkString(", ")}")
    // a stopped or failed leg can leave work behind: a job whose waiting
    // thread was interrupted keeps running unless cancelled, and a failed
    // job's other tasks are killed asynchronously — wait until they end
    val stopped = legs.filterNot(_.succeeded).map(_.tag)
    stopped.foreach(sc.cancelJobsWithTag(_, "overlap scope exited"))
    var quietPolls = 0
    while (stopped.nonEmpty && quietPolls < 3) {
      if (overdue) throw new IllegalStateException(
        s"overlap legs' tasks still running: ${stopped.mkString(", ")}")
      quietPolls = if (stopped.forall(Overlap.quiet(spark, _))) quietPolls + 1 else 0
      Thread.sleep(50)
    }
  }
}

private[graft] object Overlap {
  private val StopTimeoutMs = 60000L

  /** Run `scope`, then stop every leg it forked (see the class comment). */
  def apply[T](spark: SparkSession)(scope: Overlap => T): T = {
    val ov = new Overlap(spark)
    val out = try scope(ov) catch { case t: Throwable =>
      try ov.close() catch { case c: Throwable => t.addSuppressed(c) }
      throw t
    }
    ov.close()
    out
  }

  /** No job carrying `tag` is running or still has a running task. */
  private[graft] def quiet(spark: SparkSession, tag: String): Boolean = {
    val st = spark.sparkContext.statusTracker
    st.getJobIdsForTag(tag).forall(id => st.getJobInfo(id).forall { j =>
      j.status != JobExecutionStatus.RUNNING &&
        j.stageIds.forall(s => st.getStageInfo(s).forall(_.numActiveTasks == 0))
    })
  }

  final class Leg[T] private[Overlap] (spark: SparkSession, body: => T) {
    val tag: String = s"graft-overlap-${java.util.UUID.randomUUID()}"
    @volatile private var result: Either[Throwable, T] = _
    private[graft] val thread = new Thread(() => {
      val sc = spark.sparkContext
      sc.addJobTag(tag)
      sc.setLocalProperty("spark.job.interruptOnCancel", "true")
      result = try Right(body) catch { case t: Throwable => Left(t) }
    }, tag)
    thread.setDaemon(true)

    private[Overlap] def succeeded: Boolean = result != null && result.isRight

    /** Wait for the leg; its exception, if any, is rethrown here. */
    def get(): T = {
      thread.join()
      result.fold(t => throw t, identity)
    }
  }
}

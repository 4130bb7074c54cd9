package graft.queries

import java.nio.file.{Files, Paths}
import org.apache.spark.JobExecutionStatus
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._
import graft.operators.TestSpark
import graft.sources.SnapshotTable

class OverlapSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def running(tag: String): Boolean = {
    val st = spark.sparkContext.statusTracker
    st.getJobIdsForTag(tag).exists(id =>
      st.getJobInfo(id).exists(_.status == JobExecutionStatus.RUNNING))
  }

  test("a failing leg stops its sibling's running write before the scope returns") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_overlap").toString
    val slow = org.apache.spark.sql.functions.udf { (i: Long) => Thread.sleep(1); i }
    var writer: Overlap.Leg[Unit] = null
    @volatile var failedAt = 0L
    val e = intercept[IllegalStateException] {
      Overlap(spark) { ov =>
        // ~25 s of task time per partition if it were left to finish
        writer = ov.fork {
          spark.range(0, 100000L, 1, 4).select(slow($"id").as("id"))
            .write.parquet(s"$dir/out")
        }
        val failing = ov.fork {
          val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
          while (!running(writer.tag) && System.nanoTime() < deadline) Thread.sleep(20)
          Thread.sleep(300) // let the write tasks open their files
          failedAt = System.nanoTime()
          throw new IllegalStateException("leg failed")
        }
        failing.get()
        writer.get()
      }
    }
    assert(e.getMessage == "leg failed")
    assert((System.nanoTime() - failedAt) / 1e9 < 15, "the write must be cancelled, not awaited")
    assert(!writer.thread.isAlive, "the writer leg's thread must have ended")
    val st = spark.sparkContext.statusTracker
    assert(st.getJobIdsForTag(writer.tag).nonEmpty, "the write ran under the leg's tag")
    assert(!running(writer.tag) && Overlap.quiet(spark, writer.tag),
      "no job carrying the leg's tag may still be active")
    SnapshotTable.deleteRecursively(dir)
    Thread.sleep(500)
    assert(!Files.exists(Paths.get(dir)), "a straggling task recreated the dir")
  }

  test("legs return their results and keep the caller's job group") {
    val sc = spark.sparkContext
    sc.setJobGroup("overlap-spec-group", "caller")
    try {
      val (a, b, tag) = Overlap(spark) { ov =>
        val la = ov.fork { spark.range(0, 1000L).count() }
        val lb = ov.fork { spark.range(0, 10L).count() }
        (la.get(), lb.get(), la.tag)
      }
      assert(a == 1000L && b == 10L)
      val st = sc.statusTracker
      eventually(timeout(10.seconds), interval(50.millis)) { // async status store
        val legJobs = st.getJobIdsForTag(tag).toSet
        assert(legJobs.nonEmpty)
        assert(legJobs.subsetOf(st.getJobIdsForGroup("overlap-spec-group").toSet),
          "a tagged leg's jobs stay in the caller's job group")
      }
    } finally sc.clearJobGroup()
  }
}

package graft.operators

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** What the Spark jobs of one [[usage]] call did: each job's description
    * ("" when unset), and the parquet input records read and shuffle bytes
    * written by their completed stages. */
  final case class Usage(jobs: Seq[String], recordsRead: Long, shuffleBytesWritten: Long)

  private val TagKey = "graft.test.usage"

  /** The [[Usage]] of the jobs `body` starts, on this thread and the
    * threads it spawns (jobs are tagged through a local property, so other
    * work on the shared context is not counted). The listener bus is
    * drained by polling until the figures are stable: a fixed sleep
    * undercounts on a loaded host. */
  def usage(body: => Unit): Usage = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val records = new AtomicLong(0L)
    val shuffled = new AtomicLong(0L)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties != null && js.properties.getProperty(TagKey) == tag) {
          js.stageIds.foreach(stages.add(_))
          jobs.add(Option(js.properties.getProperty("spark.job.description")).getOrElse(""))
        }
      override def onStageCompleted(st: SparkListenerStageCompleted): Unit =
        if (stages.contains(st.stageInfo.stageId)) {
          records.addAndGet(st.stageInfo.taskMetrics.inputMetrics.recordsRead)
          shuffled.addAndGet(st.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
        }
    }
    val outer = sc.getLocalProperty(TagKey)
    sc.addSparkListener(listener)
    sc.setLocalProperty(TagKey, tag)
    try {
      body
      def now() = (jobs.size, records.get(), shuffled.get())
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      var last = now(); var stable = 0
      while (System.nanoTime() < deadline && stable < 5) {
        Thread.sleep(100)
        val cur = now()
        if (cur == last) stable += 1 else { stable = 0; last = cur }
      }
      Usage(jobs.toArray(Array.empty[String]).toSeq, records.get(), shuffled.get())
    } finally {
      sc.setLocalProperty(TagKey, outer)
      sc.removeSparkListener(listener)
    }
  }
}

package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** The shape of a block of code in Spark terms: how many jobs it starts and
  * which of their stages write shuffle bytes.
  */
trait JobShape { self: SparkTestBase =>

  private val Group = "job-shape"

  /** Counts the jobs of the `Group` job group and their stages that wrote
    * shuffle bytes.
    */
  private final class ShapeListener extends SparkListener {
    val jobs = new AtomicInteger
    private val stages = ConcurrentHashMap.newKeySet[Integer]()
    val shuffleStages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (Option(e.properties).exists(p => p.getProperty("spark.jobGroup.id") == Group)) {
        jobs.incrementAndGet()
        e.stageIds.foreach(stages.add(_))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      if (stages.contains(s.stageId) && s.taskMetrics.shuffleWriteMetrics.bytesWritten > 0)
        shuffleStages.add(s.name)
    }
  }

  /** Wait until every queued listener event has been delivered. */
  private def drain(): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  /** `body`'s result, its job count and the names of its shuffle-writing
    * stages.
    */
  def shape[T](body: => T): (T, Int, Seq[String]) = {
    val sc = spark.sparkContext
    drain()
    val l = new ShapeListener
    sc.addSparkListener(l)
    sc.setJobGroup(Group, Group)
    try {
      val r = body
      drain()
      (r, l.jobs.get, l.shuffleStages.asScala.toSeq)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
  }
}

package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-phase Spark and JVM accounting. A phase is a labelled region of the
  * benchmark's own code (`build.cold`, `batch.warm`, ...). Jobs are attributed
  * to the phase through a SparkContext local property set on the calling
  * thread; stages are classified by their call site into the phase's steps.
  */
final class Probe(sc: SparkContext, cores: Int) extends SparkListener with QueryExecutionListener {
  import Probe._

  final class StepAgg {
    var taskNs = 0L
    var gcMs = 0L
    val intervals = mutable.ArrayBuffer[(Long, Long)]()
  }

  final class PhaseAgg {
    var calls = 0
    var wallNs = 0L
    var jobs = 0
    val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()
    val steps = mutable.LinkedHashMap[String, StepAgg]()
    var shuffleBytes = 0L
    var spillBytes = 0L
    var planningMs = 0L
    var jitMs = 0L
    var classes = 0L
    var gcMs = 0L
    var codegenMs = 0.0
  }

  val phases = mutable.LinkedHashMap[String, PhaseAgg]()
  private val jobPhase = mutable.HashMap[Int, String]()
  private val jobStart = mutable.HashMap[Int, Long]()
  private val stagePhase = mutable.HashMap[Int, String]()
  private val stageStep = mutable.HashMap[Int, String]()
  /** per phase invocation: jobs seen so far, and the step of the last job */
  private val invocationJobs = mutable.HashMap[String, (Int, String)]()
  @volatile private var current = ""

  private def agg(p: String) = phases.getOrElseUpdate(p, new PhaseAgg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val label = Option(e.properties).flatMap(pr => Option(pr.getProperty(PhaseProp))).getOrElse("")
    if (label.nonEmpty) {
      val p = label.takeWhile(_ != '#')
      jobPhase(e.jobId) = p
      jobStart(e.jobId) = System.nanoTime()
      agg(p).jobs += 1
      val name = e.stageInfos.find(_.stageId == e.stageIds.max).map(_.name).getOrElse("")
      val (n, last) = invocationJobs.getOrElse(label, (0, ""))
      val step = classify(p, n, last, name)
      invocationJobs(label) = (n + 1, step)
      e.stageIds.foreach { id => stagePhase(id) = p; stageStep(id) = step }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobPhase.remove(e.jobId).foreach { p =>
      agg(p).jobIntervals += ((jobStart.remove(e.jobId).get, System.nanoTime()))
    }
  }

  /** The step a job belongs to, from its position in the phase invocation
    * and its call site (jobs that AQE submits asynchronously carry no engine
    * call site, so position decides for them). Build: the first job is the
    * range sample that balances buckets; then the docstore write (tokenize,
    * tfbin, parquet); from the first job called from the segment writer on,
    * the segment write (invert, encode). Batch tier: the idf job (absent when
    * the df cache is warm), then the WAND fan-out, then the merge.
    */
  private def classify(phase: String, n: Int, last: String, name: String): String =
    if (phase.startsWith("build")) {
      if (n == 0) "sample"
      else if (last == "segment" || name.contains("SegmentIndex")) "segment"
      else "docstore"
    } else if (phase.startsWith("batch")) {
      if (n == 0 && name.contains("SegmentSearch")) "idf"
      else if (last == "" || last == "idf") "fanout"
      else "merge"
    } else "all"

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stagePhase.get(e.stageId).foreach { p =>
      val a = agg(p)
      val m = e.taskMetrics
      if (m != null) {
        val st = a.steps.getOrElseUpdate(stageStep(e.stageId), new StepAgg)
        st.taskNs += m.executorRunTime * 1000000L
        st.gcMs += m.jvmGCTime
        val end = e.taskInfo.finishTime * 1000000L
        val start = e.taskInfo.launchTime * 1000000L
        st.intervals += ((start, end))
        a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    val p = current
    if (p.nonEmpty) agg(p).planningMs += qe.tracker.phases.values.map(_.durationMs).sum
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Run `body` as phase `p`: jobs it starts on this thread carry the label,
    * and the JVM counters are sampled around it.
    */
  def phase[T](p: String)(body: => T): T = {
    drain()
    val jit = ManagementFactory.getCompilationMXBean
    val cl = ManagementFactory.getClassLoadingMXBean
    val gc0 = gcMs()
    val jit0 = jit.getTotalCompilationTime
    val cl0 = cl.getTotalLoadedClassCount
    val cg0 = org.apache.spark.sql.execution.WholeStageCodegenExec.codeGenTime +
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
    val prev = sc.getLocalProperty(PhaseProp)
    val call = synchronized { val a = agg(p); a.calls += 1; a.calls }
    current = p
    sc.setLocalProperty(PhaseProp, s"$p#$call")
    val t0 = System.nanoTime()
    try body
    finally {
      val wall = System.nanoTime() - t0
      sc.setLocalProperty(PhaseProp, prev)
      drain()
      current = ""
      synchronized {
        val a = agg(p)
        a.wallNs += wall
        a.jitMs += jit.getTotalCompilationTime - jit0
        a.classes += cl.getTotalLoadedClassCount - cl0
        a.gcMs += gcMs() - gc0
        a.codegenMs += (org.apache.spark.sql.execution.WholeStageCodegenExec.codeGenTime +
          org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime - cg0) / 1e6
      }
    }
  }

  /** Wait until every queued listener event has been delivered. */
  def drain(): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  /** Metrics of phase `p` under the prefix `spark.<kind>` with suffix `sfx`,
    * per call of the phase.
    */
  def metrics(p: String, kind: String, steps: Seq[String], sfx: String): Seq[(String, Double, String)] = {
    val a = synchronized(phases.getOrElse(p, new PhaseAgg))
    val c = math.max(1, a.calls).toDouble
    val out = mutable.ArrayBuffer[(String, Double, String)]()
    steps.foreach { s =>
      val st = a.steps.getOrElse(s, new StepAgg)
      val wall = covered(st.intervals.toSeq)
      out += ((s"spark.$kind.${s}_ms$sfx", wall / 1e6 / c, "ms"))
      out += ((s"spark.$kind.${s}_task_ms$sfx", st.taskNs / 1e6 / c, "ms"))
      if (kind == "build") {
        out += ((s"spark.$kind.${s}_gc_ms$sfx", st.gcMs / c, "ms"))
        out += ((s"spark.$kind.${s}_util$sfx", if (wall == 0) 0.0 else st.taskNs.toDouble / (wall.toDouble * cores), "ratio"))
      }
    }
    val gap = math.max(0L, a.wallNs - covered(a.jobIntervals.toSeq))
    out += ((s"spark.$kind.driver_gap_ms$sfx", gap / 1e6 / c, "ms"))
    out += ((s"spark.$kind.jobs$sfx", a.jobs / c, "count"))
    if (kind == "build") {
      out += ((s"spark.$kind.shuffle_mb$sfx", a.shuffleBytes / 1e6 / c, "MB"))
      out += ((s"spark.$kind.spill_mb$sfx", a.spillBytes / 1e6 / c, "MB"))
    }
    out.toSeq
  }

  /** JVM and planning counters of phase `p`, per call of the phase. */
  def jvmMetrics(p: String): Seq[(String, Double, String)] = {
    val a = synchronized(phases.getOrElse(p, new PhaseAgg))
    val c = math.max(1, a.calls).toDouble
    Seq(
      (s"jvm.jit_ms.$p", a.jitMs / c, "ms"),
      (s"jvm.classes_loaded.$p", a.classes / c, "count"),
      (s"jvm.gc_pause_ms.$p", a.gcMs / c, "ms"),
      (s"spark.codegen_ms.$p", a.codegenMs / c, "ms"),
      (s"spark.planning_ms.$p", a.planningMs / c, "ms"))
  }
}

object Probe {
  val PhaseProp = "perfbench.phase"

  /** Union length of intervals (start, end), in the intervals' unit. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var tot = 0L
    var s = Long.MinValue
    var e = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > e) { if (e > s) tot += e - s; s = a; e = b } else if (b > e) e = b
    }
    if (e > s) tot += e - s
    tot
  }

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
}

package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{ColumnarToRowExec, FileSourceScanExec, FilterExec, InputAdapter,
  QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Records Spark's own figures for the traced operations, in memory.
  *
  * Every operation runs under a job group named after it; Spark passes
  * local properties on to the threads an operation starts, so jobs the
  * library runs on its own threads stay attributed. Jobs and tasks are
  * tied to an operation through that group. Query plans reach the
  * listener without the group, so they are tied to the operation whose
  * span holds the plan's analysis start.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  import Tracer._

  val jobs = new ConcurrentLinkedQueue[Job]()
  val stages = new ConcurrentLinkedQueue[Stage]()
  val plans = new ConcurrentLinkedQueue[Plan]()
  private val jobGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val stageSums = new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Long]]()
  @volatile private var fenceSeen = ""

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobGroup.put(e.jobId, g)
    jobStart.put(e.jobId, e.time)
    e.stageIds.foreach(s => stageGroup.put(s, g))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val g = Option(jobGroup.get(e.jobId)).getOrElse("")
    if (g.startsWith(FencePrefix)) fenceSeen = g
    else jobs.add(Job(e.jobId, g, jobStart.getOrDefault(e.jobId, e.time), e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val a = stageSums.computeIfAbsent((e.stageId, e.stageAttemptId), _ => new Array[Long](NSums))
    a.synchronized {
      a(0) += 1
      a(1) += e.taskInfo.duration
      if (m != null) {
        a(2) += m.executorRunTime
        a(3) += m.executorCpuTime
        a(4) += m.inputMetrics.bytesRead
        a(5) += m.outputMetrics.bytesWritten
        a(6) += m.shuffleWriteMetrics.bytesWritten
        a(7) += m.shuffleReadMetrics.totalBytesRead
        a(8) += m.memoryBytesSpilled + m.diskBytesSpilled
        a(9) += m.inputMetrics.recordsRead
        a(10) += m.outputMetrics.recordsWritten
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val g = Option(stageGroup.get(si.stageId)).getOrElse("")
    if (g.startsWith(FencePrefix)) return
    val a = Option(stageSums.remove((si.stageId, si.attemptNumber()))).getOrElse(new Array[Long](NSums))
    stages.add(Stage(si.stageId, si.attemptNumber(), g,
      si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L), a.clone()))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String): Long = ph.get(p).map(s => s.endTimeMs - s.startTimeMs).getOrElse(0L)
    val start = ph.get("analysis").map(_.startTimeMs).getOrElse(System.currentTimeMillis())
    var files, rowsRead, rowsOut = 0L
    val scans = scanNodes(qe.executedPlan)
    scans.foreach { case (scan, filter) =>
      def metric(p: SparkPlan, k: String): Long = p.metrics.get(k).map(_.value).getOrElse(0L)
      files += metric(scan, "numFiles")
      val read = metric(scan, "numOutputRows")
      rowsRead += read
      rowsOut += filter.map(metric(_, "numOutputRows")).getOrElse(read)
    }
    plans.add(Plan(start, ms("analysis"), ms("optimization"), ms("planning"), files, rowsRead, rowsOut))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Runs a one-task job and waits until this listener has seen it end:
    * every event posted before it has then been handled.
    */
  def fence(spark: SparkSession, n: Int): Unit = {
    val sc = spark.sparkContext
    val tag = s"$FencePrefix$n"
    sc.setJobGroup(tag, tag)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + 60000L
    while (fenceSeen != tag && System.currentTimeMillis() < deadline) Thread.sleep(2)
    require(fenceSeen == tag, "listener bus did not drain within 60 s")
  }
}

object Tracer {
  val FencePrefix = "graftbench-fence-"
  /** Per-stage task sums: tasks, wall ms, run ms, cpu ns, input bytes,
    * output bytes, shuffle write, shuffle read, spill bytes, input
    * records, output records.
    */
  val NSums = 11
  final case class Job(id: Int, group: String, start: Long, end: Long)
  final case class Stage(id: Int, attempt: Int, group: String, start: Long, end: Long, sums: Array[Long])
  final case class Plan(start: Long, analysisMs: Long, optimizationMs: Long, planningMs: Long,
      filesRead: Long, rowsRead: Long, rowsOut: Long)

  /** File scans of an executed plan, each with the filter that reads its
    * rows when there is one (looking through columnar-to-row and codegen
    * boundaries); adaptive plans are walked through their final stages.
    */
  def scanNodes(plan: SparkPlan): Seq[(FileSourceScanExec, Option[FilterExec])] = {
    def walk(p: SparkPlan, filter: Option[FilterExec]): Seq[(FileSourceScanExec, Option[FilterExec])] =
      p match {
        case s: FileSourceScanExec => Seq(s -> filter)
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan, filter)
        case q: QueryStageExec => walk(q.plan, filter)
        case f: FilterExec => f.children.flatMap(walk(_, Some(f)))
        case c @ (_: ColumnarToRowExec | _: InputAdapter | _: WholeStageCodegenExec) =>
          c.children.flatMap(walk(_, filter))
        case other => (other.children ++ other.subqueries).flatMap(walk(_, None))
      }
    walk(plan, None)
  }

  def toJson(t: Tracer): String = {
    val js = t.jobs.asScala.toSeq.sortBy(_.id).map(j =>
      s"""{"id":${j.id},"group":${Json.str(j.group)},"start":${j.start},"end":${j.end}}""")
    val ss = t.stages.asScala.toSeq.sortBy(s => (s.id, s.attempt)).map(s =>
      s"""{"id":${s.id},"attempt":${s.attempt},"group":${Json.str(s.group)},"start":${s.start},""" +
        s""""end":${s.end},"sums":${s.sums.mkString("[", ",", "]")}}""")
    val ps = t.plans.asScala.toSeq.sortBy(_.start).map(p =>
      s"""{"start":${p.start},"analysis_ms":${p.analysisMs},"optimization_ms":${p.optimizationMs},""" +
        s""""planning_ms":${p.planningMs},"files_read":${p.filesRead},"rows_read":${p.rowsRead},""" +
        s""""rows_out":${p.rowsOut}}""")
    s"""{"jobs":${js.mkString("[", ",", "]")},"stages":${ss.mkString("[", ",", "]")},""" +
      s""""plans":${ps.mkString("[", ",", "]")}}"""
  }
}

/** Minimal JSON writing for the harness's own records. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

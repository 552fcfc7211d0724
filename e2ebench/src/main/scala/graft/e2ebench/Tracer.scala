package graft.e2ebench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** In-memory span tracer for the traced run.
  *
  * Driver spans nest by call (`span`); each span carries a group id, the
  * index of the query or batch it belongs to. Jobs are attributed to the
  * driver span that submitted them through a thread-local property, or,
  * for micro-batch jobs that run on the stream thread, through the batch
  * id the stream sets (`mapBatch`). Stages hang under their job. Task
  * intervals and metrics are kept for the exec-layer sums and idle time.
  * A disabled tracer registers nothing and `span` only runs its body.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private val sc: SparkContext = spark.sparkContext
  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stages = mutable.ArrayBuffer.empty[StageRec]
  private val tasks = mutable.ArrayBuffer.empty[TaskRec]
  private val sqlStarts = mutable.ArrayBuffer.empty[Double]
  private val batchSpan = mutable.Map.empty[Long, Int]
  @volatile private var lastEventMs = System.currentTimeMillis()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val p = Option(e.properties)
      val span = p.flatMap(x => Option(x.getProperty(SpanKey))).map(_.toInt).getOrElse(-1)
      val batch = p.flatMap(x => Option(x.getProperty(BatchKey))).map(_.toLong).getOrElse(-1L)
      jobs(e.jobId) = JobRec(e.jobId, span, batch, e.time.toDouble)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
      lastEventMs = System.currentTimeMillis()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble)
      lastEventMs = System.currentTimeMillis()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val i = e.stageInfo
      for (s <- i.submissionTime; c <- i.completionTime)
        stages += StageRec(i.stageId, stageJob.getOrElse(i.stageId, -1), s.toDouble, c.toDouble)
      lastEventMs = System.currentTimeMillis()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      if (m != null) tasks += TaskRec(stageJob.getOrElse(e.stageId, -1),
        e.taskInfo.launchTime.toDouble, e.taskInfo.finishTime.toDouble,
        m.executorRunTime, m.executorCpuTime, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
        m.jvmGCTime, m.inputMetrics.recordsRead)
      lastEventMs = System.currentTimeMillis()
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart if s.rootExecutionId.forall(_ == s.executionId) =>
        Tracer.this.synchronized { sqlStarts += s.time.toDouble }
      case _ =>
    }
  }
  if (enabled) sc.addSparkListener(listener)

  def nowMs: Double = (System.nanoTime() + offsetNs) / 1e6

  def span[A](name: String, group: Int)(body: => A): A =
    if (!enabled) body
    else {
      val s = new Span(spans.size, name, group, stack.headOption.map(_.id).getOrElse(-1), nowMs)
      synchronized { spans += s }
      stack = s :: stack
      sc.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        s.endMs = nowMs
        stack = stack.tail
        sc.setLocalProperty(SpanKey, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Record a span whose interval was measured elsewhere (stream progress
    * phases); returns its id, or -1 when disabled.
    */
  def addSpan(name: String, group: Int, parent: Int, startMs: Double, endMs: Double): Int =
    if (!enabled) -1
    else synchronized {
      val s = new Span(spans.size, name, group, parent, startMs)
      s.endMs = endMs
      spans += s
      s.id
    }

  /** The id of the innermost open span, or -1. */
  def current: Int = stack.headOption.map(_.id).getOrElse(-1)

  /** Attribute the jobs of stream micro-batch `batchId` to span `spanId`. */
  def mapBatch(batchId: Long, spanId: Int): Unit = synchronized { batchSpan(batchId) = spanId }

  /** Wait until the listener bus has delivered every job end (bounded). */
  def drain(): Unit = if (enabled) {
    val deadline = System.currentTimeMillis() + 10000
    def settled = synchronized(jobs.values.forall(_.endMs >= 0)) &&
      System.currentTimeMillis() - lastEventMs > 300
    while (!settled && System.currentTimeMillis() < deadline) Thread.sleep(50)
  }

  /** The driver span a job hangs under: its submitting span, or the span its batch maps to. */
  private def spanOf(j: JobRec): Int =
    if (j.span >= 0) j.span else batchSpan.getOrElse(j.batch, -1)

  /** Number of jobs that ran under a span with one of `names`. */
  def jobsUnder(names: Set[String]): Int = synchronized {
    jobs.values.count { j => val s = spanOf(j); s >= 0 && names(spans(s).name) }
  }

  /** Number of jobs per stream micro-batch id. */
  def jobsForBatches: Map[Long, Int] = synchronized {
    jobs.values.filter(_.batch >= 0).groupBy(_.batch).map { case (b, js) => b -> js.size }
  }

  /** Number of top-level SQL executions that started inside a span named `name`. */
  def sqlExecutionsUnder(name: String): Int = synchronized {
    val ivs = spans.filter(_.name == name)
    sqlStarts.count(t => ivs.exists(s => t >= s.startMs && t <= s.endMs))
  }

  /** Input records read by tasks of stream micro-batch jobs. */
  def streamRecordsRead: Long = synchronized {
    val streamJobs = jobs.values.filter(_.batch >= 0).map(_.id).toSet
    tasks.filter(t => streamJobs(t.job)).map(_.recordsRead).sum
  }

  /** The exec-layer sums over every job of the traced region. */
  def execMetrics: Map[String, Double] = synchronized {
    Map(
      "exec.jobs" -> jobs.size.toDouble,
      "exec.stages" -> stages.size.toDouble,
      "exec.tasks" -> tasks.size.toDouble,
      "exec.task_run_s" -> tasks.map(_.runMs).sum / 1e3,
      "exec.task_cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
      "exec.shuffle_read_bytes" -> tasks.map(_.shuffleRead).sum.toDouble,
      "exec.shuffle_write_bytes" -> tasks.map(_.shuffleWrite).sum.toDouble,
      "exec.spill_bytes" -> tasks.map(_.spill).sum.toDouble,
      "exec.gc_s" -> tasks.map(_.gcMs).sum / 1e3,
      "exec.idle_s" -> idleSeconds(Set("action", "addBatch")))
  }

  /** Wall time of the spans with one of `names` not covered by any running task. */
  def idleSeconds(names: Set[String]): Double = synchronized {
    val taskIvs = tasks.map(t => (t.launchMs, t.finishMs)).sortBy(_._1).toIndexedSeq
    spans.filter(s => names(s.name)).map { s =>
      val inside = taskIvs.filter { case (a, b) => b > s.startMs && a < s.endMs }
        .map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      (s.endMs - s.startMs) - covered(inside)
    }.sum / 1e3
  }

  /** Wall time summed over the driver spans named `name`. */
  def wallSeconds(name: String): Double = synchronized {
    spans.filter(_.name == name).map(s => s.endMs - s.startMs).sum / 1e3
  }

  /** Self time per span name: the span minus what its children cover.
    * Children are nested driver spans and the jobs attributed to the span;
    * a job's children are its stages.
    */
  def selfSeconds: Map[String, Double] = synchronized {
    val kids = mutable.Map.empty[Int, mutable.ArrayBuffer[(Double, Double)]]
    def kid(p: Int, iv: (Double, Double)): Unit =
      if (p >= 0) kids.getOrElseUpdate(p, mutable.ArrayBuffer.empty) += iv
    spans.foreach(s => kid(s.parent, (s.startMs, s.endMs)))
    val jobList = jobs.values.filter(_.endMs >= 0).toSeq
    jobList.foreach(j => kid(spanOf(j), (j.startMs, j.endMs)))
    val stagesOf = stages.groupBy(_.job)
    val driver = spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => (s.endMs - s.startMs) -
        covered(kids.getOrElse(s.id, Nil).map { case (a, b) =>
          (math.max(a, s.startMs), math.min(b, s.endMs)) }.toSeq)).sum / 1e3
    }
    val jobSelf = jobList.map(j => (j.endMs - j.startMs) -
      covered(stagesOf.getOrElse(j.id, Nil).map(st => (st.startMs, st.endMs)).toSeq)).sum / 1e3
    val stageSelf = stages.map(st => st.endMs - st.startMs).sum / 1e3
    driver ++ Map("job" -> jobSelf, "stage" -> stageSelf)
  }

  /** Every span (driver, job, stage) as JSON-ready maps. */
  def dump: Seq[Map[String, Any]] = synchronized {
    val n = spans.size
    val jobIds = jobs.keys.zipWithIndex.toMap
    val driver = spans.map(s => Map("id" -> s.id, "name" -> s.name, "group" -> s.group,
      "parent" -> s.parent, "start_ms" -> s.startMs, "end_ms" -> s.endMs))
    val js = jobs.values.map { j =>
      val p = spanOf(j)
      Map("id" -> (n + jobIds(j.id)), "name" -> "job", "group" -> (if (p >= 0) spans(p).group else -1),
        "parent" -> p, "start_ms" -> j.startMs, "end_ms" -> j.endMs, "job_id" -> j.id)
    }
    val ss = stages.zipWithIndex.map { case (st, i) =>
      val parent = jobIds.get(st.job).map(n + _).getOrElse(-1)
      val g = jobs.get(st.job).map(spanOf).filter(_ >= 0).map(spans(_).group).getOrElse(-1)
      Map("id" -> (n + jobs.size + i), "name" -> "stage", "group" -> g, "parent" -> parent,
        "start_ms" -> st.startMs, "end_ms" -> st.endMs, "stage_id" -> st.stageId)
    }
    (driver ++ js ++ ss).toSeq
  }

  def close(): Unit = if (enabled) sc.removeSparkListener(listener)
}

object Tracer {
  val SpanKey = "e2ebench.span"
  val BatchKey = "streaming.sql.batchId"

  final class Span(val id: Int, val name: String, val group: Int, val parent: Int,
      val startMs: Double) { var endMs: Double = -1 }
  final case class JobRec(id: Int, span: Int, batch: Long, startMs: Double) {
    var endMs: Double = -1
  }
  final case class StageRec(stageId: Int, job: Int, startMs: Double, endMs: Double)
  final case class TaskRec(job: Int, launchMs: Double, finishMs: Double, runMs: Long,
      cpuNs: Long, shuffleRead: Long, shuffleWrite: Long, spill: Long, gcMs: Long,
      recordsRead: Long)

  /** Length of the union of intervals. */
  def covered(ivs: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    ivs.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** Codegen counters of this JVM: (compiles, compile seconds). */
  def codegen: (Long, Double) = (
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e9)
}

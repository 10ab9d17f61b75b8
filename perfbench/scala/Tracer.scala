package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** A span of one traced op: `layer` names the module it is charged to.
  * `parent` indexes into the op's span list (-1 for the op itself). */
final case class Span(op: String, name: String, layer: String,
    start: Long, end: Long, parent: Int) {
  def dur: Long = end - start
}

/** Counts read from one query execution's executed plan. */
final case class PlanCounts(scanRows: Long, pairRows: Long, pairsVerified: Long)

/** Collects spans and counts for traced ops from public hooks only:
  * a SparkListener (jobs, stages, tasks), a QueryExecutionListener
  * (`qe.tracker.phases` and executed-plan SQL metrics) and the spans the
  * benchmark records around its own calls into graft. Listeners are
  * attached for a traced op and detached after a sentinel job shows the
  * listener bus has delivered everything before it. Events are kept in
  * memory and turned into span trees by [[Tracer.summarize]]. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val jobs = new ConcurrentLinkedQueue[JobEv]()
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val stageSubmit = new java.util.concurrent.ConcurrentHashMap[(Int, Int), java.lang.Long]()
  private val stages = new ConcurrentLinkedQueue[StageEv]()
  private val taskAgg = new java.util.concurrent.ConcurrentHashMap[(Int, Int), TaskAgg]()
  private val qes = new ConcurrentLinkedQueue[QeEv]()
  private val harness = new ConcurrentLinkedQueue[HarnessEv]()
  private val roots = mutable.ArrayBuffer.empty[(String, Long, Long)]
  @volatile private var sentinelJob = -1
  @volatile private var sentinelJobDone = false
  @volatile private var sentinelQeDone = false
  private var sentinelN = 0
  var drainTimeouts = 0

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      if (g == s"perfbench-sentinel-$sentinelN") sentinelJob = e.jobId
      else jobs.add(JobEv(e.jobId, e.time, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      if (e.jobId == sentinelJob) sentinelJobDone = true
      else jobEnds.put(e.jobId, e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      e.stageInfo.submissionTime.foreach(t =>
        stageSubmit.put((e.stageInfo.stageId, e.stageInfo.attemptNumber()), t))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      (si.submissionTime, si.completionTime) match {
        case (Some(s), Some(c)) => stages.add(StageEv(si.stageId, si.attemptNumber(), s, c))
        case _ =>
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      val key = (e.stageId, e.stageAttemptId)
      val sub = Option(stageSubmit.get(key)).map(_.longValue).getOrElse(e.taskInfo.launchTime)
      val a = taskAgg.computeIfAbsent(key, _ => new TaskAgg)
      a.synchronized {
        a.tasks += 1
        a.taskMs += e.taskInfo.duration
        a.cpuMs += m.executorCpuTime / 1e6
        a.gcMs += m.jvmGCTime
        a.waitMs += math.max(0L, e.taskInfo.launchTime - sub)
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.bytesRead += m.inputMetrics.bytesRead
        a.recordsRead += m.inputMetrics.recordsRead
        if (m.inputMetrics.recordsRead > 0 || m.inputMetrics.bytesRead > 0) a.scanTasks += 1
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      if (qe.analyzed.output.exists(_.name == s"perfbench_sentinel_$sentinelN")) {
        sentinelQeDone = true
        return
      }
      val phases = qe.tracker.phases.toSeq.map { case (n, p) => (n, p.startTimeMs, p.endTimeMs) }
      if (phases.nonEmpty) qes.add(QeEv(phases, PlanMetrics.counts(qe.executedPlan)))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Attaches the listeners for a traced op or stream round. */
  def begin(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Waits until the bus has delivered every event posted before now,
    * then detaches the listeners. */
  def end(): Unit = {
    sentinelN += 1
    sentinelJob = -1
    sentinelJobDone = false
    sentinelQeDone = false
    val sc = spark.sparkContext
    sc.setJobGroup(s"perfbench-sentinel-$sentinelN", "drain", interruptOnCancel = false)
    try spark.range(1).selectExpr(s"id AS perfbench_sentinel_$sentinelN").collect()
    finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 10000000000L
    while (!(sentinelJobDone && sentinelQeDone) && System.nanoTime() < deadline)
      Thread.sleep(1)
    if (!(sentinelJobDone && sentinelQeDone)) drainTimeouts += 1
    spark.listenerManager.unregister(qeListener)
    sc.removeSparkListener(listener)
  }

  /** The root span of one traced op. */
  def root(id: String, start: Long, end: Long): Unit = synchronized { roots += ((id, start, end)) }

  /** Times `body` as a harness span (a call into a graft public function). */
  def span[T](name: String)(body: => T): T = {
    val s = System.currentTimeMillis()
    try body finally harness.add(HarnessEv(name, s, System.currentTimeMillis()))
  }

  /** Builds each traced op's span tree and the per-layer totals. */
  def summarize(): Summary = Tracer.summarize(roots.toSeq,
    harness.asScala.toSeq, qes.asScala.toSeq,
    jobs.asScala.toSeq.map(j => j.copy(end = Option(jobEnds.get(j.id)).map(_.longValue).getOrElse(j.start))),
    stages.asScala.toSeq, taskAgg.asScala.toMap)
}

object Tracer {
  final case class JobEv(id: Int, start: Long, stageIds: Seq[Int], end: Long = 0L)
  final case class StageEv(id: Int, attempt: Int, start: Long, end: Long)
  final case class QeEv(phases: Seq[(String, Long, Long)], counts: PlanCounts) {
    def start: Long = phases.map(_._2).min
  }
  final case class HarnessEv(name: String, start: Long, end: Long)
  final class TaskAgg {
    var tasks, taskMs, gcMs, waitMs, shuffleWrite, shuffleRead, spill, bytesRead,
      recordsRead, scanTasks = 0L
    var cpuMs = 0.0
  }

  /** Per-op results of the span trees: self time per layer, plus the
    * reconciliation of the layers against the op's wall time. */
  final case class OpTrace(id: String, wall: Long, selfByLayer: Map[String, Long],
      overlap: Long, spans: Seq[Span])

  final case class Summary(ops: Seq[OpTrace], counters: Map[String, Double])

  /** Writes every traced op's spans, one JSON object per line. */
  def write(sum: Summary, out: java.nio.file.Path): Unit = {
    val lines = sum.ops.flatMap(_.spans.map { s =>
      s"""{"op":"${s.op}","name":"${s.name}","layer":"${s.layer}","start":${s.start},"end":${s.end},"parent":${s.parent}}"""
    })
    java.nio.file.Files.write(out, lines.asJava)
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of a span is its duration minus the union of its
    * children's intervals inside it. Summed over all spans of an op this
    * is the op's wall time, plus the time siblings ran at once (the
    * returned overlap), plus any child time outside its parent: an
    * attribution error, which the reconciliation bounds. */
  def selfTimes(spans: Seq[Span]): (Seq[Long], Long) = {
    val kids = spans.indices.groupBy(i => spans(i).parent)
    var overlap = 0L
    val self = spans.indices.map { i =>
      val p = spans(i)
      val clipped = kids.getOrElse(i, Nil).map(spans(_))
        .map(c => (math.max(c.start, p.start), math.min(c.end, p.end)))
      val cover = union(clipped)
      overlap += clipped.map(c => math.max(0L, c._2 - c._1)).sum - cover
      p.dur - cover
    }
    (self, overlap)
  }

  def summarize(roots: Seq[(String, Long, Long)], harness: Seq[HarnessEv],
      qes: Seq[QeEv], jobs: Seq[JobEv], stages: Seq[StageEv],
      tasks: Map[(Int, Int), TaskAgg]): Summary = {
    val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val stageJob: Map[Int, Int] = jobs.flatMap(j => j.stageIds.map(_ -> j.id))
      .groupBy(_._1).map { case (s, js) => s -> js.map(_._2).min }
    val traces = roots.sortBy(_._2).map { case (id, s, e) =>
      def inside(t: Long): Boolean = t >= s && t <= e
      val spans = mutable.ArrayBuffer(Span(id, "op", if (id.startsWith("trigger")) "streaming" else "client", s, e, -1))
      // harness spans nest on the calling thread: a harness span's parent
      // is the innermost one covering it; an event's parent is the
      // innermost harness span running when it started
      val harnessIdx = mutable.ArrayBuffer(0)
      def innermost(ok: Span => Boolean): Int =
        harnessIdx.filter(i => ok(spans(i))).sortBy(i => (spans(i).dur, -i)).headOption.getOrElse(0)
      def parentAt(t: Long): Int = innermost(p => p.start <= t && t < p.end)
      harness.filter(h => inside(h.start)).sortBy(h => (h.start, -h.end)).foreach { h =>
        val layer = if (h.name == "addBatch") "streaming" else "icelite"
        spans += Span(id, h.name, layer, h.start, h.end, innermost(p => p.start <= h.start && h.end <= p.end))
        harnessIdx += spans.size - 1
      }
      val myQes = qes.filter(q => inside(q.start))
      myQes.foreach { q =>
        q.phases.sortBy(_._2).foreach { case (n, ps, pe) =>
          spans += Span(id, s"phase.$n", "planning", ps, pe, parentAt(ps))
        }
        c("planning.statements") += 1
        c("sources.rows_out") += q.counts.scanRows
        c("queries.pair_rows") += q.counts.pairRows
        c("queries.pairs_verified") += q.counts.pairsVerified
      }
      val myJobs = jobs.filter(j => inside(j.start)).sortBy(_.start)
      val jobIdx = mutable.Map.empty[Int, Int]
      myJobs.foreach { j =>
        val p = parentAt(j.start)
        if (spans(p).layer == "icelite") c("icelite.jobs") += 1
        spans += Span(id, s"job.${j.id}", "queries", j.start, math.max(j.start, j.end), p)
        jobIdx(j.id) = spans.size - 1
        c("queries.jobs") += 1
      }
      stages.filter(st => stageJob.get(st.id).exists(jobIdx.contains)).sortBy(_.start).foreach { st =>
        val agg = tasks.getOrElse((st.id, st.attempt), new TaskAgg)
        val layer = if (agg.scanTasks > 0) "sources" else "queries"
        spans += Span(id, s"stage.${st.id}", layer, st.start, st.end, jobIdx(stageJob(st.id)))
        c("queries.stages") += 1
        c("queries.tasks") += agg.tasks
        c("queries.task_ms") += agg.taskMs
        c("queries.cpu_ms") += agg.cpuMs
        c("queries.gc_ms") += agg.gcMs
        c("queries.task_wait_ms") += agg.waitMs
        c("queries.shuffle_write_bytes") += agg.shuffleWrite
        c("queries.shuffle_read_bytes") += agg.shuffleRead
        c("queries.spill_bytes") += agg.spill
        c("sources.scan_tasks") += agg.scanTasks
        c("sources.bytes_read") += agg.bytesRead
        c("sources.records_read") += agg.recordsRead
      }
      val (self, overlap) = selfTimes(spans.toSeq)
      val byLayer = spans.indices.groupBy(i => spans(i).layer)
        .map { case (l, is) => l -> is.map(self(_)).sum }
      spans.indices.filter(i => spans(i).layer == "icelite").foreach { i =>
        c("icelite.calls") += 1
        c("icelite.self_ms") += self(i)
        val kind = spans(i).name.stripPrefix("icelite.") match {
          case k @ ("ingest" | "maintenance" | "read") => k
          case _ => "dml" // dml, upsert, delete_keys
        }
        c(s"icelite.${kind}_ms") += spans(i).dur
      }
      spans.indices.filter(i => spans(i).name.startsWith("phase.")).foreach { i =>
        val n = spans(i).name.stripPrefix("phase.")
        val key = n match {
          case "analysis" | "parsing" => "planning.analysis_ms"
          case "optimization" => "planning.optimization_ms"
          case _ => "planning.physical_ms"
        }
        c(key) += spans(i).dur
      }
      OpTrace(id, e - s, byLayer, overlap, spans.toSeq)
    }
    Summary(traces, c.toMap)
  }
}

/** Executed-plan SQL metrics, read through AQE query stages. */
object PlanMetrics extends AdaptiveSparkPlanHelper {
  import org.apache.spark.sql.execution.DataSourceScanExec
  import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
  import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
  import org.apache.spark.sql.execution.joins.HashJoin
  import org.apache.spark.sql.execution.joins.SortMergeJoinExec

  private def rows(p: SparkPlan): Long =
    p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)

  private def names(es: Seq[org.apache.spark.sql.catalyst.expressions.Expression]): Seq[String] =
    es.flatMap(_.references.map(_.name))

  /** The gram (or LSH band) self-join of the dedup engines is the
    * equi-join keyed on `gram` or `bh`; the pairs scored are the rows of
    * the final two-key aggregate that outputs (doc_a, doc_b). */
  def counts(plan: SparkPlan): PlanCounts = {
    val nodes = collectWithSubqueries(plan) { case p => p }
    val scan = nodes.collect {
      case p: DataSourceScanExec => rows(p)
      case p: BatchScanExec => rows(p)
    }.sum
    def pairKeys(ks: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =
      names(ks).exists(n => n == "gram" || n == "bh")
    val pairs = nodes.collect {
      case j: HashJoin if pairKeys(j.leftKeys) => rows(j)
      case j: SortMergeJoinExec if pairKeys(j.leftKeys) => rows(j)
    }.sum
    val verified = nodes.collect {
      case a: BaseAggregateExec if a.requiredChildDistributionExpressions.isDefined &&
          a.groupingExpressions.size == 2 &&
          Set("doc_a", "doc_b").subsetOf(a.output.map(_.name).toSet) => rows(a)
    }.sum
    PlanCounts(scan, pairs, verified)
  }
}

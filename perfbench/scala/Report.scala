package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

object Stats {
  /** Linear-interpolated percentile (numpy's default), `q` in [0, 100]. */
  def pct(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val r = q / 100.0 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.ceil(r).toInt
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
}

object Util {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.sorted(java.util.Comparator.reverseOrder()).forEach(q => { Files.deleteIfExists(q); () })
      finally w.close()
    }

  /** Bytes of the regular files under `p` accepted by `keep`. */
  def bytes(p: Path, keep: Path => Boolean = _ => true): Long =
    if (!Files.exists(p)) 0L
    else {
      val w = Files.walk(p)
      try w.iterator().asScala.filter(q => Files.isRegularFile(q) && keep(q)).map(Files.size).sum
      finally w.close()
    }
}

/** Builds the JSON the run hands to run.py. */
object Report {
  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  private def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  private def metric(v: Double, unit: String): String =
    obj(Seq("value" -> num(v), "unit" -> str(unit)))
  private def any(v: Any): String = v match {
    case d: Double => num(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case other => str(other.toString)
  }

  /** Heap still in use after a full GC: what caches and sessions keep. */
  private def retainedHeapMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    mx.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  def build(args: Args, w: Workload, ctx: Ctx, tracer: Option[Tracer],
      before: IceState, setupS: Double, sessionS: Double, rounds: Seq[Double], warmUpS: Double, measuredS: Double, cpuMs: Double,
      canaryFirst: Double, canaryLast: Double, checks: Long, checkFailed: Long): String = {
    val ops = ctx.ops.toSeq
    val samples = w.latency(ops)
    val opFailed = ops.count(!_.ok).toLong
    val attempted = ops.size.toLong + checks
    val failed = opFailed + checkFailed
    val busyS = samples.sum / 1000.0
    val rows = ops.map(_.rows).sum
    val heap = retainedHeapMb()
    val stored = {
      val (table, live) = w.storage(args.work.resolve("live"))
      if (live == 0) 0.0 else table.toDouble / live
    }
    val info = Seq[(String, Any)](
      "workload" -> args.workload, "seed" -> args.seed, "cores" -> args.cores,
      "measured_s" -> measuredS, "ops" -> ops.size, "latency_samples" -> samples.size,
      "session_start_s" -> sessionS, "setup_rounds_s" -> rounds.map(r => f"$r%.3f").mkString(" "),
      "warm_up_s" -> warmUpS,
      "op_p50_ms" -> Stats.median(samples),
      "ops_per_s" -> (if (busyS > 0) samples.size / busyS else 0.0),
      "rows_per_s" -> (if (busyS > 0) rows / busyS else 0.0),
      "stored_bytes_per_live_byte" -> stored,
      "canary.first_ms" -> canaryFirst, "canary.last_ms" -> canaryLast) ++
      ops.groupBy(_.kind).toSeq.sortBy(_._1).flatMap { case (k, os) =>
        val ms = os.map(_.ms)
        Seq(s"$k.n" -> os.size, s"${k}_p50_ms" -> Stats.median(ms)) ++
          (if (os.size >= 100) Seq(s"${k}_p90_ms" -> Stats.pct(ms, 90)) else Nil)
      } ++ w.props.map { case (k, v) => s"input.$k" -> v }

    val metrics: Seq[(String, String)] = if (!args.trace) {
      Seq(
        "setup_s" -> metric(setupS, "s"),
        "cpu_ms_per_op" -> metric(if (samples.nonEmpty) cpuMs / samples.size else 0.0, "ms"),
        "retained_heap_mb" -> metric(heap, "MB"))
    } else perLayer(w, tracer.get, args, canaryFirst, canaryLast, stored, ops, before)

    val ext = w.externalChecks.map { c =>
      obj(Seq("id" -> str(c.id), "sql" -> str(c.sql), "result" -> str(c.result.toString),
        "docs" -> str(c.docs.toString), "ops" -> c.ops.toString))
    }
    obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> obj(metrics),
      "info" -> obj(info.map { case (k, v) => k -> any(v) }),
      "external_checks" -> ext.mkString("[", ",", "]")))
  }

  /** Per-layer metrics of the traced steps, per traced op unless named
    * otherwise (README.md lists each). */
  private def perLayer(w: Workload, tracer: Tracer, args: Args,
      canaryFirst: Double, canaryLast: Double, stored: Double, ops: Seq[Op],
      before: IceState): Seq[(String, String)] = {
    val sum = tracer.summarize()
    Tracer.write(sum, args.work.resolve("spans.jsonl"))
    val c = sum.counters.withDefaultValue(0.0)
    val n = math.max(1, sum.ops.size).toDouble
    val wallMs = sum.ops.map(_.wall).sum.toDouble
    def layer(l: String) = sum.ops.map(_.selfByLayer.getOrElse(l, 0L)).sum.toDouble
    def per(k: String) = c(k) / n
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    val planningMs = layer("planning")
    // reconciliation: layers' self times sum to the op's wall time plus
    // the time siblings ran at once; what is left (children outside their
    // parent) must stay within max(2 ms, 5% of the op)
    val residuals = sum.ops.map(o => ratio(math.abs(o.selfByLayer.values.sum - o.wall - o.overlap).toDouble, o.wall.toDouble))
    val reconciled = sum.ops.count(o =>
      math.abs(o.selfByLayer.values.sum - o.wall - o.overlap) <= math.max(2.0, 0.05 * o.wall))
    // tracing overhead: each traced op against the untraced median of its
    // own kind, so the ops the coin picked cannot skew the mix
    val untracedMedian = ops.filterNot(_.traced).groupBy(_.kind).map { case (k, os) => k -> Stats.median(os.map(_.ms)) }
    val overheads = ops.filter(o => o.traced && untracedMedian.contains(o.kind)).map(o => o.ms / untracedMedian(o.kind))
    val trig = w.triggerDurations(ops.filter(_.traced))
    def trigMean(k: String) = if (trig.isEmpty) 0.0 else trig.map(_.getOrElse(k, 0L)).sum.toDouble / trig.size
    val state = IceState.read(w.tables)
    val slots = args.cores * wallMs
    Seq(
      "planning.statements" -> metric(per("planning.statements"), "count"),
      "planning.analysis_ms" -> metric(per("planning.analysis_ms"), "ms"),
      "planning.optimization_ms" -> metric(per("planning.optimization_ms"), "ms"),
      "planning.physical_ms" -> metric(per("planning.physical_ms"), "ms"),
      "planning.share" -> metric(ratio(planningMs, wallMs), "ratio"),
      "icelite.calls" -> metric(per("icelite.calls"), "count"),
      "icelite.self_ms" -> metric(per("icelite.self_ms"), "ms"),
      "icelite.jobs_per_call" -> metric(ratio(c("icelite.jobs"), c("icelite.calls")), "count"),
      "icelite.ingest_ms" -> metric(per("icelite.ingest_ms"), "ms"),
      "icelite.dml_ms" -> metric(per("icelite.dml_ms"), "ms"),
      "icelite.maintenance_ms" -> metric(per("icelite.maintenance_ms"), "ms"),
      "icelite.read_ms" -> metric(per("icelite.read_ms"), "ms"),
      "icelite.snapshots_added" -> metric(state.added(before).toDouble / math.max(1, ops.size), "count"),
      "icelite.metadata_bytes" -> metric(state.metadataBytes.toDouble, "bytes"),
      "icelite.data_files_live" -> metric(state.dataFiles.toDouble, "count"),
      "icelite.delete_files_live" -> metric(state.deleteFiles.toDouble, "count"),
      "icelite.stored_bytes_per_live_byte" -> metric(stored, "ratio"),
      "sources.scan_tasks" -> metric(per("sources.scan_tasks"), "count"),
      "sources.bytes_read" -> metric(per("sources.bytes_read"), "bytes"),
      "sources.records_read" -> metric(per("sources.records_read"), "count"),
      "sources.rows_out" -> metric(per("sources.rows_out"), "count"),
      "sources.records_per_row_out" -> metric(ratio(c("sources.records_read"), c("sources.rows_out")), "ratio"),
      "sources.self_ms" -> metric(layer("sources") / n, "ms"),
      "queries.jobs" -> metric(per("queries.jobs"), "count"),
      "queries.stages" -> metric(per("queries.stages"), "count"),
      "queries.tasks" -> metric(per("queries.tasks"), "count"),
      "queries.task_ms" -> metric(per("queries.task_ms"), "ms"),
      "queries.cpu_ms" -> metric(per("queries.cpu_ms"), "ms"),
      "queries.gc_ms" -> metric(per("queries.gc_ms"), "ms"),
      "queries.task_wait_ms" -> metric(per("queries.task_wait_ms"), "ms"),
      "queries.slot_busy_frac" -> metric(ratio(c("queries.task_ms"), slots), "ratio"),
      "queries.shuffle_write_bytes" -> metric(per("queries.shuffle_write_bytes"), "bytes"),
      "queries.shuffle_read_bytes" -> metric(per("queries.shuffle_read_bytes"), "bytes"),
      "queries.spill_bytes" -> metric(per("queries.spill_bytes"), "bytes"),
      "queries.self_ms" -> metric(layer("queries") / n, "ms"),
      "queries.pair_rows" -> metric(per("queries.pair_rows"), "count"),
      "queries.pairs_verified" -> metric(per("queries.pairs_verified"), "count"),
      "queries.pair_yield" -> metric(ratio(c("queries.pairs_verified"), c("queries.pair_rows")), "ratio"),
      "streaming.triggers" -> metric(trig.size.toDouble, "count"),
      "streaming.trigger_ms" -> metric(trigMean("triggerExecution"), "ms"),
      "streaming.add_batch_ms" -> metric(trigMean("addBatch"), "ms"),
      "streaming.overhead_ms" -> metric(trigMean("triggerExecution") - trigMean("addBatch"), "ms"),
      "streaming.latest_offset_ms" -> metric(trigMean("latestOffset"), "ms"),
      "streaming.get_batch_ms" -> metric(trigMean("getBatch"), "ms"),
      "streaming.query_planning_ms" -> metric(trigMean("queryPlanning"), "ms"),
      "streaming.wal_commit_ms" -> metric(trigMean("walCommit"), "ms"),
      "streaming.commit_offsets_ms" -> metric(trigMean("commitOffsets"), "ms"),
      "planning.self_ms" -> metric(planningMs / n, "ms"),
      "client.self_ms" -> metric(layer("client") / n, "ms"),
      "trace.ops" -> metric(sum.ops.size.toDouble, "count"),
      "trace.op_wall_ms" -> metric(wallMs / n, "ms"),
      "trace.overlap_frac" -> metric(ratio(sum.ops.map(_.overlap).sum.toDouble, wallMs), "ratio"),
      "trace.residual_max_frac" -> metric(if (residuals.isEmpty) 0.0 else residuals.max, "ratio"),
      "trace.reconciled_frac" -> metric(ratio(reconciled.toDouble, sum.ops.size.toDouble), "ratio"),
      "trace.overhead_ratio" -> metric(Stats.median(overheads), "ratio"),
      "trace.drain_timeouts" -> metric(tracer.drainTimeouts.toDouble, "count"),
      "canary.first_ms" -> metric(canaryFirst, "ms"),
      "canary.last_ms" -> metric(canaryLast, "ms"))
  }
}

/** Table state read outside the timed region through `IceLite.readManifest`
  * and directory walks. `snapshots` maps each table to its newest snapshot
  * id (ids count up from 1). */
final case class IceState(snapshots: Map[String, Long], metadataBytes: Long, dataFiles: Long,
    deleteFiles: Long) {
  /** Snapshots committed since `before`; a table created since counts whole. */
  def added(before: IceState): Long =
    snapshots.map { case (t, id) => id - before.snapshots.getOrElse(t, 0L) }.sum
}

object IceState {
  def read(tables: Seq[graft.icelite.TableRef]): IceState = {
    val ms = tables.filter(graft.icelite.IceLite.tableExists).map(t => t -> graft.icelite.IceLite.readManifest(t))
    IceState(
      ms.map { case (t, m) => t.dir.toString -> m.snapshots.map(_.id).max }.toMap,
      ms.map { case (t, _) => Util.bytes(t.dir, q => !q.startsWith(t.dataDir) && !q.startsWith(t.deletesDir)) }.sum,
      ms.map(_._2.current.files.size.toLong).sum,
      ms.map { case (_, m) => (m.current.deleteFiles.size + m.current.eqDeletes.size).toLong }.sum)
  }
}

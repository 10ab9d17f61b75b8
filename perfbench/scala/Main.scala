package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Command line of one benchmark run (see README.md). */
final case class Args(workload: String, seed: Long, seconds: Int,
    trace: Boolean, work: Path, cores: Int, out: Path)

/** One operation as the single client saw it. `rows` is the work the op
  * moved (rows returned, committed or applied) for `rows_per_s`. */
final case class Op(kind: String, id: String, startMs: Long, endMs: Long,
    nanos: Long, rows: Long, ok: Boolean, traced: Boolean, step: Long = 0L) {
  def ms: Double = nanos / 1e6
}

/** A check the JVM cannot make itself: the DuckDB oracle runs in run.py.
  * `ops` is the number of timed ops whose correctness rides on it. */
final case class ExternalCheck(id: String, sql: String, result: Path,
    docs: Path, ops: Long)

/** What every workload implements. `setup` is called several times into
  * fresh directories (the median is `setup_s`); the last one is measured. */
trait Workload {
  def setup(dir: Path, round: Int): Unit
  /** Runs each kind of op once, after the last set-up only; timed as
    * `warm_up_s`, outside `setup_s`. */
  def warmUp(): Unit = ()
  /** Checker work after the last set-up and before the timed region. */
  def prepare(): Unit = ()
  /** One closed-loop step: runs one op (or one stream round) through
    * `ctx.op` / `ctx.record`. */
  def step(ctx: Ctx): Unit
  /** Whether the steps so far make whole passes of the workload's op mix;
    * the timed region ends only there, so every run weighs the mix alike
    * and has at least one pass. */
  def passDone: Boolean = true
  /** Final output checks after the timed region; returns (checks, failed). */
  def finish(ctx: Ctx): (Long, Long)
  /** Input properties the seed drives, printed next to the metrics. */
  def props: Seq[(String, Any)]
  /** Tables whose metadata is read after the timed region. */
  def tables: Seq[graft.icelite.TableRef] = Nil
  /** (table bytes on disk, bytes of their live rows written once as plain
    * Parquet into `scratch`) after the timed region. */
  def storage(scratch: Path): (Long, Long) = (0L, 0L)
  def externalChecks: Seq[ExternalCheck] = Nil
  /** End-to-end latency samples (ms) from the recorded ops. */
  def latency(ops: Seq[Op]): Seq[Double] = ops.map(_.ms)
  /** `durationMs` of each traced trigger, for the streaming layer. */
  def triggerDurations(ops: Seq[Op]): Seq[Map[String, Long]] = Nil
}

/** Per-run context the workloads record through. */
final class Ctx(val spark: SparkSession, seed: Long, val tracer: Option[Tracer]) {
  val ops = ArrayBuffer.empty[Op]
  private var steps = 0L
  private var seq = 0L
  /** In a traced run half the steps, drawn at random, are traced, so
    * traced and untraced medians come from the same run and give the
    * tracing overhead; a coin, not parity, so it cannot alias with a
    * workload's own cycle of statements. */
  var traced = false
  private val coin = new scala.util.Random(seed ^ 0x7ace)
  def newStep(): Unit = { traced = tracer.isDefined && (steps == 0 || coin.nextBoolean()); steps += 1 }

  /** Times `body` as one op. `body` returns whether its output checked
    * out and the rows it moved; a throw or a failed check fails the op. */
  def op(kind: String)(body: => (Boolean, Long)): Boolean = {
    val id = s"$kind-$seq"
    seq += 1
    if (traced) tracer.foreach(_.begin())
    val s = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val (ok, rows) = try body catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] op $id failed: $e")
        (false, 0L)
    }
    val t1 = System.nanoTime()
    val e = System.currentTimeMillis()
    if (traced) tracer.foreach { t => t.end(); t.root(id, s, e) }
    ops += Op(kind, id, s, e, t1 - t0, rows, ok, traced, steps)
    ok
  }

  /** Records an op timed elsewhere (a streaming trigger). */
  def record(o: Op): Unit = {
    ops += o.copy(step = steps)
    if (o.traced) tracer.foreach(_.root(o.id, o.startMs, o.endMs))
  }

  /** Times a call into a graft public function as a harness span. */
  def call[T](name: String)(body: => T): T =
    tracer match {
      case Some(t) if traced => t.span(name)(body)
      case _ => body
    }
}

/** CPU time of the JVM process less that of its JIT compiler threads:
  * the engine's work on every other thread (task, driver, streaming, GC;
  * short-lived threads too). The kernel leaves out time the host took the
  * CPU away, and a thread waiting for a core burns none, so busy
  * neighbours do not inflate it the way they inflate wall time. JIT work
  * is left out because it follows the JVM's compile queue, not the ops.
  * Compiler threads are read from /proc (run.py keeps them alive). */
object Cpu {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val TickNanos = 10000000L // USER_HZ = 100
  private def jitNanos(): Long = {
    val tasks = Paths.get("/proc/self/task")
    if (!Files.isDirectory(tasks)) return 0L
    val ls = Files.list(tasks)
    try ls.iterator().asScala.map { t =>
      try {
        if (!new String(Files.readAllBytes(t.resolve("comm")), "UTF-8").contains("CompilerThre")) 0L
        else {
          val stat = new String(Files.readAllBytes(t.resolve("stat")), "UTF-8")
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
          (f(11).toLong + f(12).toLong) * TickNanos // utime, stime
        }
      } catch { case _: java.io.IOException => 0L } // the thread ended
    }.sum finally ls.close()
  }
  def appNanos(): Long = os.getProcessCpuTime - jitNanos()
}

object Main {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt,
      m("trace") == "1", Paths.get(m("work")), m("cores").toInt,
      Paths.get(m("out")))
  }

  def session(args: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${args.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", args.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.warehouse.dir", args.work.resolve("spark-warehouse").toString)
      .config("spark.local.dir", args.work.resolve("spark-local").toString)
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def workload(name: String, spark: SparkSession, seed: Long): Workload = name match {
    case "sql_read" => new SqlRead(spark, seed)
    case "lake_write" => new LakeWrite(spark, seed)
    case "cdc_stream" => new CdcStream(spark, seed)
    case "dedup_corpus" => new DedupCorpus(spark, seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Fixed plain-Parquet aggregate that runs no graft code: a drift canary
    * for the host, timed first and last in every run (median of 3 each). */
  final class Canary(spark: SparkSession, dir: Path) {
    private val path = dir.resolve("canary.parquet").toString
    spark.range(0, 200000, 1, 4)
      .selectExpr("id % 101 AS k", "CAST(id AS DOUBLE) * 1.5 AS v")
      .write.mode("overwrite").parquet(path)
    private def once(): Double = {
      val t0 = System.nanoTime()
      spark.read.parquet(path).groupBy("k").sum("v").collect()
      (System.nanoTime() - t0) / 1e6
    }
    def time(): Double = Stats.median(Seq.fill(3)(once()))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    Files.createDirectories(args.work)
    val t0 = System.nanoTime()
    val spark = session(args)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val w = workload(args.workload, spark, args.seed)
    // setup_s: session start once, plus the median of three full set-ups
    // (generation, table builds) into fresh directories; the warm-up after
    // them runs once and is printed on its own
    def seconds(body: => Unit): Double = {
      val s0 = System.nanoTime()
      body
      (System.nanoTime() - s0) / 1e9
    }
    val rounds = (1 to 3).map(r => seconds(w.setup(args.work.resolve(s"setup$r"), r)))
    (1 to 2).foreach(r => Util.deleteTree(args.work.resolve(s"setup$r")))
    val warmUpS = seconds(w.warmUp())
    val setupS = sessionS + Stats.median(rounds)
    val canary = new Canary(spark, args.work)
    val tracer = if (args.trace) Some(new Tracer(spark)) else None
    val ctx = new Ctx(spark, args.seed, tracer)
    w.prepare()
    val before = IceState.read(w.tables)
    val canaryFirst = canary.time()
    val cpu0 = Cpu.appNanos()
    val start = System.nanoTime()
    val deadline = start + args.seconds * 1000000000L
    while (System.nanoTime() < deadline || !w.passDone) { ctx.newStep(); w.step(ctx) }
    val measuredS = (System.nanoTime() - start) / 1e9
    val cpuMs = (Cpu.appNanos() - cpu0) / 1e6
    val canaryLast = canary.time()
    val (checks, checkFailed) = w.finish(ctx)
    val report = Report.build(args, w, ctx, tracer, before, setupS, sessionS,
      rounds, warmUpS, measuredS, cpuMs, canaryFirst, canaryLast, checks, checkFailed)
    Files.write(args.out, report.getBytes("UTF-8"))
    spark.stop()
  }
}

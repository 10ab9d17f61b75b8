package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.icelite.{IceLite, TableRef}

/** CDC into one partitioned table: a pre-staged backlog of seeded CDC
  * files (upserts with a hot-key share, plus deletes) is drained by one
  * Structured Streaming query with `AvailableNow` and
  * `maxFilesPerTrigger=1`. Its `foreachBatch` keeps the last change per
  * key and applies it with `IceLite.upsertByKeysMoR` and
  * `IceLite.deleteByKeysMoR`, so equality-delete depth grows trigger by
  * trigger. One step is one drain of the whole backlog into a fresh table
  * with a fresh checkpoint, followed by a read checked against the last
  * writer per key over the CDC log. */
final class CdcStream(spark: SparkSession, seed: Long) extends Workload {
  import CdcStream._
  private val g = new Gen(seed)
  private var dir: Path = _
  private var wh = ""
  private var base: DataFrame = _
  private var logSchema: org.apache.spark.sql.types.StructType = _
  private var model: Map[Long, (Long, String)] = Map.empty
  private var round = 0
  private var refs = Vector.empty[TableRef]
  private val durations = scala.collection.mutable.Map.empty[String, Map[String, Long]]
  private var cdcRows = 0L
  private var hotRows = 0L
  private var deleteRows = 0L

  private def cdc(in: Path): Path = in.resolve("cdc")

  /** Generates the backlog (file i's rows all carry seq numbers above
    * file i-1's and its mtime is one second later, so the file source
    * takes them in order), the base table rows, and the expected final
    * table. */
  def setup(d: Path, r: Int): Unit = {
    dir = d
    wh = d.resolve("wh").toString
    IceLite.createNamespace(wh, Ns)
    val in = cdc(d)
    val raw = d.resolve("raw")
    spark.range(0, Files_ * RowsPerFile, 1, 2).selectExpr(
        s"CAST(id / $RowsPerFile AS INT) AS file_no", "id AS seq",
        s"IF(${g.u(1, 1000)} < ${(HotShare * 1000).toInt}, ${g.u(2, HotKeys)}, ${g.u(3, KeySpace)}) + 1 AS id",
        s"IF(${g.u(4, 100)} < ${(DeleteShare * 100).toInt}, 'D', 'U') AS op",
        s"${g.u(5, 100000)} AS v")
      .selectExpr("file_no", "seq", "id", "op", "v", "concat('r', CAST(pmod(id, 4) AS STRING)) AS region")
      .repartition(col("file_no")).write.partitionBy("file_no").parquet(raw.toString)
    Files.createDirectories(in)
    val t0 = System.currentTimeMillis() - 3600 * 1000L
    (0 until Files_).foreach { i =>
      val f = IceLite.listDir(Files.list(raw.resolve(s"file_no=$i")))(_.find(_.toString.endsWith(".parquet")).get)
      val dst = in.resolve(f"cdc_$i%04d.parquet")
      Files.move(f, dst)
      Files.setLastModifiedTime(dst, java.nio.file.attribute.FileTime.fromMillis(t0 + i * 1000L))
    }
    val basePath = d.resolve("base").toString
    spark.range(1, BaseKeys + 1, 1, 2)
      .selectExpr("id", s"${g.u(6, 100000)} AS v", "concat('r', CAST(pmod(id, 4) AS STRING)) AS region")
      .write.parquet(basePath)
    base = spark.read.parquet(basePath)
    val log = spark.read.parquet(in.toString)
    logSchema = log.schema
    val stats = log.agg(count(lit(1)), sum(when(col("id") <= HotKeys, 1).otherwise(0)),
      sum(when(col("op") === "D", 1).otherwise(0))).head()
    cdcRows = stats.getLong(0)
    hotRows = stats.getLong(1)
    deleteRows = stats.getLong(2)
    // the model: the last writer per key over the log, laid over the base
    val last = log.groupBy("id").agg(max_by(struct("op", "v", "region"), col("seq")).as("l"))
      .select(col("id"), col("l.op").as("op"), col("l.v").as("v"), col("l.region").as("region"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getString(3))).toMap
    val baseRows = base.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    model = (baseRows.keySet ++ last.keySet).toSeq.flatMap { k =>
      last.get(k) match {
        case Some(("D", _, _)) => None
        case Some((_, v, reg)) => Some(k -> (v, reg))
        case None => Some(k -> baseRows(k))
      }
    }.toMap
    round = 0
    refs = Vector.empty
    durations.clear()
  }

  /** Drains the first file once. */
  override def warmUp(): Unit = {
    val warmIn = dir.resolve("warm")
    Files.createDirectories(warmIn)
    Files.copy(cdc(dir).resolve("cdc_0000.parquet"), warmIn.resolve("cdc_0000.parquet"))
    drain(new Ctx(spark, seed, None), warmIn, "warm")
  }

  /** Applies one micro-batch: the last change per key wins. */
  private def apply(ctx: Ctx, ref: TableRef, batch: DataFrame): Unit = ctx.call("addBatch") {
    val last = batch.groupBy("id").agg(max_by(struct("op", "v", "region"), col("seq")).as("l"))
      .select(col("id"), col("l.op").as("op"), col("l.v").as("v"), col("l.region").as("region"))
      .localCheckpoint()
    val ups = last.filter(col("op") === "U").select("id", "v", "region")
    val dels = last.filter(col("op") === "D").select("id")
    ctx.call("icelite.upsert")(IceLite.upsertByKeysMoR(spark, ref, ups, Seq("id")))
    ctx.call("icelite.delete_keys")(IceLite.deleteByKeysMoR(spark, ref, dels, Seq("id")))
  }

  /** One drain of `in` into a fresh table; returns the table and the
    * progress of every trigger that read rows. */
  private def drain(ctx: Ctx, in: Path, name: String) = {
    val ref = TableRef(wh, Ns, s"target_$name")
    IceLite.createOrReplacePartitioned(ref, base, "region")
    val q = spark.readStream.schema(logSchema).option("maxFilesPerTrigger", 1).parquet(in.toString)
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", dir.resolve(s"chk_$name").toString)
      .foreachBatch((df: DataFrame, _: Long) => apply(ctx, ref, df))
      .start()
    q.awaitTermination()
    (ref, q.recentProgress.filter(_.numInputRows > 0).toSeq)
  }

  def step(ctx: Ctx): Unit = {
    round += 1
    val traced = ctx.traced
    if (traced) ctx.tracer.foreach(_.begin())
    val (ref, progress) = drain(ctx, cdc(dir), s"r$round")
    if (traced) ctx.tracer.foreach(_.end())
    refs :+= ref
    progress.foreach { p =>
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val ms = d.getOrElse("triggerExecution", 0L)
      val id = s"trigger-r$round-b${p.batchId}"
      if (traced) durations(id) = d
      ctx.record(Op("trigger", id, start, start + ms, ms * 1000000L, p.numInputRows, ok = true, traced))
    }
    ctx.op("read") {
      val got = IceLite.read(spark, ref).select("id", "v", "region").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
      val ok = progress.size == Files_ && got == model
      if (!ok) System.err.println(s"[perfbench] round $round: ${progress.size} triggers, table differs: ${got != model}")
      (ok, 0L)
    }
  }

  /** Drains come in pairs, so a slow host still gives every run the
    * triggers of two drains. */
  override def passDone: Boolean = round % 2 == 0

  def finish(ctx: Ctx): (Long, Long) = (0L, 0L)

  override def latency(ops: Seq[Op]): Seq[Double] =
    ops.filter(_.kind == "trigger").map(_.ms)

  override def triggerDurations(ops: Seq[Op]): Seq[Map[String, Long]] = ops.flatMap(o => durations.get(o.id))

  override def tables: Seq[TableRef] = refs

  override def storage(scratch: Path): (Long, Long) = refs.lastOption match {
    case None => (0L, 0L)
    case Some(ref) =>
      IceLite.read(spark, ref).coalesce(1).write.parquet(scratch.toString)
      (Util.bytes(ref.dir), Util.bytes(scratch))
  }

  def props: Seq[(String, Any)] = Seq(
    "cdc_files" -> Files_, "rows_per_file" -> RowsPerFile, "base_keys" -> BaseKeys,
    "key_space" -> KeySpace, "hot_keys" -> HotKeys,
    "hot_key_share" -> hotRows.toDouble / math.max(1L, cdcRows),
    "delete_share" -> deleteRows.toDouble / math.max(1L, cdcRows),
    "read_write_mix" -> s"1:$Files_", "tables" -> 1)
}

object CdcStream {
  val Ns = "cdc"
  val Files_ = 3
  val RowsPerFile = 250
  val BaseKeys = 4000L
  val KeySpace = 5000L
  val HotKeys = 50L
  val HotShare = 0.3
  val DeleteShare = 0.1
}

package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.icelite.{IceLite, IngestJob, TableRef}

/** ELT and row-level DML: Airbyte-style Parquet drops loaded with
  * `IngestJob.run(..., "incremental")`, SQL DELETE / UPDATE / MERGE INTO
  * and `IceLite.upsertByKeysMoR` on merge-on-read tables by seeded,
  * skewed key ranges, and periodic `rewrite_data_files` +
  * `expire_snapshots`. Every write is followed by a read-after-write
  * aggregate checked against an in-memory model of the same op sequence.
  * IceLite refuses SQL row-level DML on a table with live equality
  * deletes, so SQL DML runs on its own position-delete tables (d*) and
  * the upserts and maintenance rotate over ten equality-delete tables
  * (e*): more than the equality-delete index cache holds (8), so that
  * cache is always cycled past. */
final class LakeWrite(spark: SparkSession, seed: Long) extends Workload {
  import LakeWrite._
  private val g = new Gen(seed)
  private var wh = ""
  private var cat = ""
  private var dropDir: Path = _
  /** Per staged drop: its files with their row counts and id sums. */
  private var staged: IndexedSeq[IndexedSeq[(Path, Long, Long)]] = IndexedSeq.empty
  private val model = mutable.Map.empty[String, mutable.LongMap[(String, Long)]]
  private val maxId = mutable.Map.empty[String, Long]
  private var drops = (0L, 0L) // rows loaded, sum of their ids
  private var nextDrop = 0
  private var r: scala.util.Random = _
  private var deck: List[String] = Nil
  private val turn = mutable.Map.empty[String, Int].withDefaultValue(0)
  private var hot = 0
  private var ranged = 0
  private val kinds = mutable.Map.empty[String, Int].withDefaultValue(0)

  private def ref(t: String) = TableRef(wh, "src", t)
  /** The next table of a group, in rotation. */
  private def next(group: Seq[String], key: String): String = {
    turn(key) += 1
    group((turn(key) - 1) % group.size)
  }
  private def dropsRef = IngestJob.tableRef(wh, "drops")

  /** Builds the MoR tables and stages the drops (one Parquet file each,
    * rows and file count per drop drawn from the seed). */
  def setup(dir: Path, round: Int): Unit = {
    wh = dir.resolve("wh").toString
    cat = s"pb_lw$round"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.IceLiteCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    IceLite.createNamespace(wh, "src")
    r = g.rng(2)
    model.clear()
    (DmlTables ++ EqTables).zipWithIndex.foreach { case (t, i) =>
      val df = spark.range(1, InitRows + 1, 1, 1).selectExpr("id",
        s"concat('g', CAST(${g.u(100 + i, 7)} AS STRING)) AS grp", s"${g.u(200 + i, 1000)} AS v")
      IceLite.createOrReplace(ref(t), df)
      if (DmlTables.contains(t))
        IceLite.alterSetProperties(ref(t), Map("write.delete.mode" -> "merge-on-read",
          "write.update.mode" -> "merge-on-read", "write.merge.mode" -> "merge-on-read"))
      val m = mutable.LongMap.empty[(String, Long)]
      df.collect().foreach(row => m(row.getLong(0)) = (row.getString(1), row.getLong(2)))
      model(t) = m
      maxId(t) = InitRows
    }
    drops = (0L, 0L)
    dropDir = dir.resolve("airbyte").resolve("drops")
    Files.createDirectories(dropDir)
    stageDrops(dir.resolve("staged"))
    nextDrop = 0
    deck = Nil
    turn.clear()
    hot = 0
    ranged = 0
    kinds.clear()
  }

  /** One op of each committing kind, applied to the model too. */
  override def warmUp(): Unit = {
    val warm = new Ctx(spark, seed, None)
    Seq("ingest", "update", "upsert").foreach(k => run(warm, k))
  }

  private def stageDrops(dir: Path): Unit = {
    val sizes = (0 until NDrops).map(_ => (DropRows * (0.8 + 0.4 * r.nextDouble())).toLong)
    val files = (0 until NDrops).map(_ => 1 + r.nextInt(2))
    val starts = sizes.scanLeft(0L)(_ + _)
    val bounds = (0 until NDrops).flatMap { d =>
      (0 until files(d)).map { f =>
        val lo = starts(d) + sizes(d) * f / files(d)
        val hi = starts(d) + sizes(d) * (f + 1) / files(d)
        (f"d$d%04d_$f", lo, hi)
      }
    }
    import spark.implicits._
    val b = bounds.toDF("drop_file", "lo", "hi")
    spark.range(0, starts.last, 1, 2).join(org.apache.spark.sql.functions.broadcast(b),
        $"id" >= $"lo" && $"id" < $"hi")
      .selectExpr("drop_file", "concat('raw-', CAST(id AS STRING)) AS _airbyte_raw_id",
        "TIMESTAMP'2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, id) AS _airbyte_extracted_at",
        "id + 1 AS id", s"concat('d', CAST(${g.u(300, 5)} AS STRING)) AS grp", s"${g.u(301, 1000)} AS v")
      .repartition($"drop_file").write.partitionBy("drop_file").parquet(dir.toString)
    val byDrop = bounds.map { case (name, lo, hi) =>
      val d = dir.resolve(s"drop_file=$name")
      val f = IceLite.listDir(Files.list(d))(_.find(_.toString.endsWith(".parquet")).get)
      (name.take(5), (f, hi - lo, (lo + 1 to hi).sum))
    }
    staged = byDrop.groupBy(_._1).toSeq.sortBy(_._1).map(_._2.map(_._2).toIndexedSeq).toIndexedSeq
  }

  /** The next key range: the start is skewed towards low keys (u³), so
    * the first tenth of each table's keys takes about half the writes. */
  private def range(t: String): (Long, Long) = {
    val u = r.nextDouble()
    val a = 1 + (maxId(t) * u * u * u).toLong
    ranged += 1
    if (a <= maxId(t) / 10) hot += 1
    (a, a + 20 + r.nextInt(40))
  }

  private def nextKind(): String = {
    if (deck.isEmpty) deck = r.shuffle(Deck)
    val k = deck.head
    deck = deck.tail
    k
  }

  private def sourceRows(t: String): Seq[(Long, String, Long)] = {
    val (a, b) = range(t)
    val old = (a to b).filter(_ => r.nextBoolean())
    val fresh = (1 to 5 + r.nextInt(10)).map(i => maxId(t) + i)
    maxId(t) += fresh.size
    (old ++ fresh).map(k => (k, s"m${r.nextInt(5)}", r.nextInt(1000).toLong))
  }

  /** Read-after-write aggregate, checked against the model. */
  private def readBack(ctx: Ctx, table: String, want: Seq[Long]): Unit = ctx.op("read") {
    val row = spark.sql(s"SELECT count(*), sum(id), sum(v) FROM $cat.src.$table").collect().head
    val got = (0 until want.size).map(i => if (row.isNullAt(i)) 0L else row.getLong(i))
    (got == want, 0L)
  }
  private def readBack(ctx: Ctx, t: String): Unit = {
    val m = model(t)
    readBack(ctx, t, Seq(m.size.toLong, m.keysIterator.sum, m.valuesIterator.map(_._2).sum))
  }

  def step(ctx: Ctx): Unit = {
    val kind = nextKind()
    kinds(kind) += 1
    run(ctx, kind)
  }

  private def run(ctx: Ctx, kind: String): Unit = {
    def dml(sql: String, n: Long): Unit = ctx.op("write") {
      ctx.call("icelite.dml")(spark.sql(sql).collect())
      (true, n)
    }
    kind match {
      case "ingest" =>
        // a drop is copied in under a new name, so the staged set can wrap
        val group = staged(nextDrop % staged.size)
        nextDrop += 1
        group.zipWithIndex.foreach { case ((f, _, _), i) =>
          Files.copy(f, dropDir.resolve(f"drop_$nextDrop%05d_$i.parquet"))
        }
        val rows = group.map(_._2).sum
        ctx.op("write") {
          val res = ctx.call("icelite.ingest")(IngestJob.run(spark, wh, "drops", dropDir.toString, "incremental"))
          (res.rowsLoaded == rows, rows)
        }
        drops = (drops._1 + rows, drops._2 + group.map(_._3).sum)
        readBack(ctx, "drops", Seq(drops._1, drops._2))
      case "delete" =>
        val t = next(DmlTables, "dml")
        val (a, b) = range(t)
        val keys = model(t).keysIterator.filter(k => k >= a && k <= b).toSeq
        dml(s"DELETE FROM $cat.src.$t WHERE id BETWEEN $a AND $b", keys.size)
        keys.foreach(model(t).remove)
        readBack(ctx, t)
      case "update" =>
        val t = next(DmlTables, "dml")
        val (a, b) = range(t)
        val c = 1 + r.nextInt(9)
        val keys = model(t).keysIterator.filter(k => k >= a && k <= b).toSeq
        dml(s"UPDATE $cat.src.$t SET v = v + $c WHERE id BETWEEN $a AND $b", keys.size)
        keys.foreach(k => model(t)(k) = (model(t)(k)._1, model(t)(k)._2 + c))
        readBack(ctx, t)
      case "merge" =>
        val t = next(DmlTables, "dml")
        val rows = sourceRows(t)
        import spark.implicits._
        rows.toDF("id", "grp", "v").createOrReplaceTempView("pb_merge_src")
        dml(s"MERGE INTO $cat.src.$t t USING pb_merge_src s ON t.id = s.id " +
          "WHEN MATCHED THEN UPDATE SET grp = s.grp, v = s.v WHEN NOT MATCHED THEN INSERT *", rows.size)
        rows.foreach { case (k, gr, v) => model(t)(k) = (gr, v) }
        readBack(ctx, t)
      case "upsert" =>
        val t = next(EqTables, "upsert")
        val rows = sourceRows(t)
        import spark.implicits._
        val df = rows.toDF("id", "grp", "v")
        ctx.op("write") {
          ctx.call("icelite.upsert")(IceLite.upsertByKeysMoR(spark, ref(t), df, Seq("id")))
          (true, rows.size.toLong)
        }
        rows.foreach { case (k, gr, v) => model(t)(k) = (gr, v) }
        readBack(ctx, t)
      case "maint" =>
        val t = next(EqTables, "maint")
        ctx.op("maint") {
          ctx.call("icelite.maintenance") {
            spark.sql(s"CALL $cat.system.rewrite_data_files(table => 'src.$t')").collect()
            val now = java.time.Instant.now().toString.replace("T", " ").stripSuffix("Z")
            spark.sql(s"CALL $cat.system.expire_snapshots('src.$t', TIMESTAMP '$now')").collect()
          }
          (true, 0L)
        }
        readBack(ctx, t)
    }
  }

  /** Final check: every table equals the model row for row. */
  def finish(ctx: Ctx): (Long, Long) = {
    val bad = (DmlTables ++ EqTables).count { t =>
      val got = IceLite.read(spark, ref(t)).select("id", "grp", "v").collect()
        .map(row => row.getLong(0) -> (row.getString(1), row.getLong(2))).toMap
      val ok = got == model(t).toMap
      if (!ok) System.err.println(s"[perfbench] final table $t differs from the model")
      !ok
    }
    ((DmlTables ++ EqTables).size.toLong, bad.toLong)
  }

  override def latency(ops: Seq[Op]): Seq[Double] =
    ops.groupBy(_.step).values.map(_.map(_.ms).sum).toSeq

  override def tables: Seq[TableRef] = (DmlTables ++ EqTables).map(ref) :+ dropsRef

  override def storage(scratch: Path): (Long, Long) = {
    import spark.implicits._
    (DmlTables ++ EqTables).foreach { t =>
      model(t).toSeq.map { case (k, (gr, v)) => (k, gr, v) }.toDF("id", "grp", "v")
        .coalesce(1).write.parquet(scratch.resolve(t).toString)
    }
    IceLite.read(spark, dropsRef).coalesce(1).write.parquet(scratch.resolve("drops").toString)
    (tables.map(t => Util.bytes(t.dir)).sum, Util.bytes(scratch))
  }

  def props: Seq[(String, Any)] = Seq(
    "dml_tables" -> DmlTables.size, "eq_delete_tables" -> EqTables.size, "eq_index_cache_capacity" -> 8,
    "rows_per_table_at_start" -> InitRows,
    "drop_rows_mean" -> staged.map(_.map(_._2).sum).sum.toDouble / math.max(1, staged.size),
    "drop_files_mean" -> staged.map(_.size).sum.toDouble / math.max(1, staged.size),
    "key_skew" -> "range start = max_key * u^3",
    "hot_key_share" -> (if (ranged == 0) 0.0 else hot.toDouble / ranged),
    "read_write_mix" -> "1:1",
    "op_mix" -> kinds.toSeq.sorted.map { case (k, n) => s"$k:$n" }.mkString(" "))
}

object LakeWrite {
  val DmlTables: Seq[String] = Seq("d0", "d1")
  val EqTables: Seq[String] = (0 until 10).map(i => s"e$i")
  val InitRows = 1000L
  val NDrops = 16
  val DropRows = 1500
  /** One cycle of write kinds; the order within a cycle is seeded. */
  val Deck: List[String] = List("ingest", "ingest", "delete", "delete", "update", "update",
    "merge", "upsert", "upsert", "maint")
}

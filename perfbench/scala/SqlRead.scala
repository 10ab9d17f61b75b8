package perfbench

import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.icelite.{IceLite, TableRef}

/** Interactive SQL over IceLite tables: point lookups and range scans on a
  * partitioned lineitem whose appends are range-clustered on the order
  * key, group-by aggregates, 2-3-way joins, top-k, and reads of a table
  * whose schema was evolved (add, rename, widen). A fixed share of the
  * statements are `IceLite.read` DataFrame reads. No table has deletes.
  * Every result is checked against stock Spark over plain Parquet. */
final class SqlRead(spark: SparkSession, seed: Long) extends Workload {
  import SqlRead._
  private val g = new Gen(seed)
  private var cat = ""
  private var wh = ""
  private var plain: Path = _
  private var pool: IndexedSeq[Stmt] = IndexedSeq.empty
  private var expected: IndexedSeq[Seq[Row]] = IndexedSeq.empty
  private var next = 0

  private def ref(t: String) = TableRef(wh, Ns, t)

  private def orders: DataFrame = spark.range(1, NOrders + 1, 1, Parts).selectExpr(
    "id AS o_orderkey",
    s"${g.u(1, NCust)} + 1 AS o_custkey",
    s"element_at(array('F','O','P'), CAST(${g.u(2, 3)} AS INT) + 1) AS o_orderstatus",
    s"CAST(${g.u(3, 5000000)} AS DOUBLE) / 100 AS o_totalprice",
    s"date_add(DATE'1992-01-01', CAST(${g.u(4, 2400)} AS INT)) AS o_orderdate",
    s"element_at(array($Priorities), CAST(${g.u(5, 5)} AS INT) + 1) AS o_orderpriority",
    s"CAST(${g.u(6, 3)} AS INT) AS o_shippriority",
    s"concat('c', CAST(${g.u(7, 500)} AS STRING)) AS o_comment")

  private def lineitem(o: DataFrame): DataFrame = {
    val k = "l_orderkey, l_linenumber"
    o.selectExpr("o_orderkey AS l_orderkey", "o_orderdate",
        s"explode(sequence(1, CAST(${g.u(10, 7, "o_orderkey")} AS INT) + 1)) AS l_linenumber")
      .selectExpr("l_orderkey", "l_linenumber",
        s"${g.u(11, 20000, k)} + 1 AS l_partkey",
        s"CAST(${g.u(12, 50, k)} + 1 AS DOUBLE) AS l_quantity",
        s"CAST(${g.u(13, 10000000, k)} AS DOUBLE) / 100 AS l_extendedprice",
        s"CAST(${g.u(14, 11, k)} AS DOUBLE) / 100 AS l_discount",
        s"CAST(${g.u(15, 9, k)} AS DOUBLE) / 100 AS l_tax",
        s"element_at(array('R','A','N'), CAST(${g.u(16, 3, k)} AS INT) + 1) AS l_returnflag",
        s"date_add(o_orderdate, CAST(${g.u(17, 120, k)} AS INT) + 1) AS l_shipdate",
        s"date_add(o_orderdate, CAST(${g.u(18, 60, k)} AS INT) + 30) AS l_commitdate",
        s"element_at(array($Modes), CAST(${g.u(19, 7, k)} AS INT) + 1) AS l_shipmode")
      .selectExpr("*", "IF(l_shipdate > DATE'1995-06-17', 'O', 'F') AS l_linestatus",
        s"date_add(l_shipdate, CAST(${g.u(20, 30, k)} AS INT) + 1) AS l_receiptdate")
  }

  private def customer: DataFrame = spark.range(1, NCust + 1, 1, Parts).selectExpr(
    "id AS c_custkey", "concat('Customer#', CAST(id AS STRING)) AS c_name",
    s"CAST(${g.u(30, 25)} AS INT) AS c_nationkey",
    s"CAST(${g.u(31, 1100000)} AS DOUBLE) / 100 - 1000 AS c_acctbal",
    s"element_at(array($Segments), CAST(${g.u(32, 5)} AS INT) + 1) AS c_mktsegment")

  private def evolvedOld(o: DataFrame): DataFrame = o.filter(col("o_orderkey") <= NOrders / 2)
    .select("o_orderkey", "o_custkey", "o_orderpriority", "o_shippriority", "o_comment")
  private def evolvedYoung(o: DataFrame): DataFrame = o.filter(col("o_orderkey") > NOrders / 2)
    .selectExpr("o_orderkey", "o_custkey", "o_orderpriority", "CAST(o_shippriority AS BIGINT) AS o_shippriority",
      "o_comment AS o_remark", s"concat('clerk#', CAST(${g.u(8, 100, "o_orderkey")} AS STRING)) AS o_clerk")

  /** Builds the tables. orders_ev is born with o_comment and an INT
    * o_shippriority, then evolves: add o_clerk, rename o_comment to
    * o_remark, widen o_shippriority to BIGINT, and takes an append in the
    * new schema. */
  def setup(dir: Path, round: Int): Unit = {
    wh = dir.resolve("wh").toString
    plain = dir.resolve("plain")
    cat = s"pb_sql$round"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.IceLiteCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    IceLite.createNamespace(wh, Ns)
    val o = orders.cache()
    val l = lineitem(o)
    val step = NOrders / LineitemChunks
    (0 until LineitemChunks).foreach { i =>
      val hi = if (i == LineitemChunks - 1) NOrders else (i + 1) * step
      val chunk = l.filter(col("l_orderkey") > i * step && col("l_orderkey") <= hi)
      if (i == 0) IceLite.createOrReplacePartitioned(ref("lineitem"), chunk, "l_shipmode", Seq("l_orderkey"))
      else IceLite.appendPartitioned(ref("lineitem"), chunk, Seq("l_shipmode"), Seq("l_orderkey"))
    }
    IceLite.createOrReplaceSorted(ref("orders"), o, "o_orderkey", 4, Seq("o_orderkey"))
    IceLite.createOrReplace(ref("customer"), customer)
    val ev = ref("orders_ev")
    IceLite.createOrReplace(ev, evolvedOld(o))
    IceLite.alterAddColumn(ev, "o_clerk", "STRING")
    IceLite.alterRenameColumn(ev, "o_comment", "o_remark")
    IceLite.alterWidenColumn(ev, "o_shippriority", "BIGINT")
    IceLite.append(ev, evolvedYoung(o))
    o.unpersist()
    pool = statements(g.rng(1))
  }

  /** One statement of each template. */
  override def warmUp(): Unit =
    pool.groupBy(_.template).toSeq.sortBy(_._1).foreach { case (_, ss) => run(ss.head, iceberg = true) }

  /** Runs a statement on the IceLite tables, or on the plain twins. */
  private def run(s: Stmt, iceberg: Boolean, ctx: Option[Ctx] = None): Seq[Row] = {
    def table(t: String): String = if (iceberg) s"$cat.$Ns.$t" else s"parquet.`${plain.resolve(t)}`"
    s.body match {
      case Left(sql) =>
        spark.sql(Tables.foldLeft(sql) { (q, t) => q.replace(s"{$t}", table(t)) }).collect().toSeq
      case Right((t, f)) =>
        val df =
          if (!iceberg) spark.read.parquet(plain.resolve(t).toString)
          else ctx.map(_.call("icelite.read")(IceLite.read(spark, ref(t))))
            .getOrElse(IceLite.read(spark, ref(t)))
        f(df).collect().toSeq
    }
  }

  /** Writes the plain-Parquet twins of the tables (orders_ev's twin holds
    * the evolved view of the same rows) and computes every statement's
    * expected result on them with stock Spark. */
  override def prepare(): Unit = {
    val o = orders.cache()
    Seq("orders" -> o, "lineitem" -> lineitem(o), "customer" -> customer,
      "orders_ev" -> evolvedOld(o).selectExpr("o_orderkey", "o_custkey", "o_orderpriority",
        "CAST(o_shippriority AS BIGINT) AS o_shippriority", "o_comment AS o_remark",
        "CAST(NULL AS STRING) AS o_clerk").unionByName(evolvedYoung(o))).foreach { case (n, df) =>
      df.write.mode("overwrite").parquet(plain.resolve(n).toString)
    }
    o.unpersist()
    expected = pool.map(s => run(s, iceberg = false))
  }

  def step(ctx: Ctx): Unit = {
    val i = next % pool.size
    next += 1
    ctx.op(pool(i).template) {
      val got = run(pool(i), iceberg = true, Some(ctx))
      val ok = Compare.same(got, expected(i), pool(i).ordered)
      if (!ok) System.err.println(s"[perfbench] wrong result for ${pool(i).template} ${pool(i).body.left.getOrElse("")}: " +
        s"got ${got.take(5).mkString(" ")} want ${expected(i).take(5).mkString(" ")}")
      (ok, got.size.toLong)
    }
  }

  /** Passes come in pairs: the first pass after the warm-up still plans
    * and generates code for most statements for the first time, so a run
    * of one pass would cost more per statement than a run of two. */
  override def passDone: Boolean = next % (2 * pool.size) == 0

  def finish(ctx: Ctx): (Long, Long) = (0L, 0L)

  override def tables: Seq[TableRef] = Tables.map(ref)
  override def storage(scratch: Path): (Long, Long) =
    (tables.map(t => Util.bytes(t.dir)).sum, Util.bytes(plain))

  def props: Seq[(String, Any)] = Seq(
    "orders" -> NOrders, "customers" -> NCust,
    "statements_in_pool" -> pool.size,
    "dataframe_read_share" -> pool.count(_.body.isRight).toDouble / pool.size,
    "templates" -> pool.groupBy(_.template).map { case (k, v) => s"$k:${v.size}" }.toSeq.sorted.mkString(" "),
    "read_write_mix" -> "1:0")
}

object SqlRead {
  val Ns = "tpch"
  val NOrders = 5000L
  val NCust = 1000L
  val LineitemChunks = 2
  /** Partitions of the generated tables: fixed, so the file layout does
    * not follow the host's core count. */
  val Parts = 4
  val Tables = Seq("lineitem", "orders", "customer", "orders_ev")
  val Priorities = "'1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'"
  val Modes = "'AIR','FOB','MAIL','RAIL','REG AIR','SHIP','TRUCK'"
  val ModeList = Seq("AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK")
  val Segments = "'AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY'"
  val SegmentList = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  /** A statement: SQL with `{table}` placeholders, or a DataFrame read of
    * one table through `IceLite.read` followed by `f`. */
  final case class Stmt(template: String,
      body: Either[String, (String, DataFrame => DataFrame)], ordered: Boolean = false)

  private def day(r: scala.util.Random, from: Int, span: Int): String =
    java.time.LocalDate.of(1992, 1, 1).plusDays(from + r.nextInt(span)).toString

  /** The pool: two cycles of ten slots. Template shares, selectivities and
    * slot order are fixed (interactive traffic: half the statements are
    * point and range lookups); the constants come from the seed. A fixed
    * order keeps a partly run last cycle from weighting the seeds'
    * samples differently. */
  def statements(r: scala.util.Random): IndexedSeq[Stmt] = (0 until 2).flatMap { cyc =>
    def key(span: Int = 0) = 1 + r.nextInt(NOrders.toInt - span)
    val d = day(r, 200, 1900)
    val modes = r.shuffle(ModeList).take(2)
    // key ranges: 5 %, 15 %, 40 % and 20 % of the orders
    val (ra, rb, re, rx) = ((NOrders / 20).toInt, (3 * NOrders / 20).toInt, (2 * NOrders / 5).toInt, (NOrders / 5).toInt)
    val (a, b, e) = (key(ra), key(rb), key(re))
    val (x, c0) = (key(rx), 1 + r.nextInt(NCust.toInt - 200))
    val slots = Seq(
      Stmt("point", Left(s"SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_shipmode " +
        s"FROM {lineitem} WHERE l_orderkey = ${key()}")),
      Stmt("point", Left(s"SELECT l_orderkey, l_linenumber, l_partkey, l_shipdate " +
        s"FROM {lineitem} WHERE l_orderkey = ${key()}")),
      Stmt("point", Left(s"SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate FROM {orders} " +
        s"WHERE o_orderkey = ${key()}")),
      Stmt("range", Left(s"SELECT l_returnflag, count(*) AS n, sum(l_extendedprice) AS s FROM {lineitem} " +
        s"WHERE l_orderkey BETWEEN $a AND ${a + ra} AND l_shipmode IN ('${modes(0)}', '${modes(1)}') " +
        "GROUP BY l_returnflag")),
      Stmt("range", Left(s"SELECT l_shipmode, count(*) AS n, sum(l_quantity) AS q FROM {lineitem} " +
        s"WHERE l_orderkey BETWEEN $b AND ${b + rb} GROUP BY l_shipmode")),
      Stmt("topk", Left("SELECT o_custkey, sum(o_totalprice) AS spend, count(*) AS n FROM {orders} " +
        s"WHERE o_orderdate BETWEEN DATE'$d' AND date_add(DATE'$d', 300) GROUP BY o_custkey " +
        "ORDER BY spend DESC, o_custkey LIMIT 10"), ordered = true),
      Stmt("evolved", Left("SELECT o_orderpriority, count(*) AS n, sum(o_shippriority) AS sp, " +
        s"count(o_clerk) AS clerks, count(DISTINCT o_remark) AS remarks FROM {orders_ev} " +
        s"WHERE o_orderkey BETWEEN $e AND ${e + re} GROUP BY o_orderpriority")),
      if (cyc % 2 == 0)
        Stmt("dataframe", Right(("lineitem", (df: DataFrame) =>
          df.filter(col("l_orderkey").between(x, x + rx)).groupBy("l_shipmode")
            .agg(count(lit(1)).as("n"), sum("l_quantity").as("q")))))
      else
        Stmt("dataframe", Right(("orders_ev", (df: DataFrame) =>
          df.filter(col("o_custkey").between(c0, c0 + 200)).groupBy("o_shippriority")
            .agg(count(lit(1)).as("n"), count(col("o_clerk")).as("clerks"),
              max(col("o_remark")).as("remark"))))),
      Stmt("agg", Left(s"SELECT l_returnflag, l_linestatus, sum(l_quantity) AS q, " +
        "sum(l_extendedprice * (1 - l_discount)) AS rev, avg(l_discount) AS disc, count(*) AS n " +
        s"FROM {lineitem} WHERE l_shipdate <= DATE'${day(r, 2300, 60)}' GROUP BY l_returnflag, l_linestatus")),
      if (cyc % 2 == 0)
        Stmt("join2", Left("SELECT o.o_orderpriority, count(*) AS n FROM {orders} o JOIN {lineitem} l " +
          s"ON l.l_orderkey = o.o_orderkey WHERE o.o_orderdate >= DATE'$d' " +
          s"AND o.o_orderdate < add_months(DATE'$d', 3) AND l.l_commitdate < l.l_receiptdate " +
          "GROUP BY o.o_orderpriority"))
      else
        Stmt("join3", Left("SELECT o.o_orderkey, sum(l.l_extendedprice * (1 - l.l_discount)) AS revenue, " +
          "o.o_orderdate FROM {customer} c JOIN {orders} o ON c.c_custkey = o.o_custkey " +
          s"JOIN {lineitem} l ON l.l_orderkey = o.o_orderkey WHERE c.c_mktsegment = '${SegmentList(r.nextInt(5))}' " +
          s"AND o.o_orderdate < DATE'$d' AND l.l_shipdate > DATE'$d' " +
          "GROUP BY o.o_orderkey, o.o_orderdate ORDER BY revenue DESC, o.o_orderkey LIMIT 10"), ordered = true))
    val order = Seq(0, 3, 9, 1, 5, 8, 2, 6, 4, 7)
    order.map(slots)
  }
}

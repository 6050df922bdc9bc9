package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{GraftCatalog, ManifestTable}

/** The analyst read path: one client runs a seeded, fixed-proportion
  * read mix over `orders` (partitioned by year, committed in key-range
  * batches) and `lineitem` (committed in ship-date batches), both
  * written at setup through the engine's own write path:
  *  - key lookups via `readWhere` and the same lookups as SQL on
  *    `graft.orders` (the SQL face prunes no files today);
  *  - ship-date range scans and year-partition aggregates (prunable);
  *  - `readAsOf` time travel to an earlier lineitem version;
  *  - full-scan join, aggregate and window queries.
  * Every result is digested and compared, after the run, with the same
  * query on the raw parquet in DuckDB (`oracle.py`). */
final class Query(spark: SparkSession, rec: Recorder, seed: Long, dir: java.io.File) extends Workload {
  import Query._
  private val lake = new java.io.File(dir, "lake")
  private val ordersT = new java.io.File(lake, "orders").toString
  private val lineT = new java.io.File(lake, "lineitem").toString
  private val raw = new java.io.File(dir, "raw")
  private val rnd = new scala.util.Random(seed)
  private val lineBounds = Seq.tabulate(LineBatches + 1)(i =>
    Data.Epoch.toLocalDate.plusDays(i.toLong * (Data.DateSpan + 121) / LineBatches + (if (i == LineBatches) 1 else 0)))
  private var lineVersions = Seq.empty[(Int, Long)] // (version, commit epoch ms) per batch
  // per template, a seeded pool of parameters; the seed picks where a
  // read lands, never how much it reads (fixed range width, whole years,
  // time travel alternating over the earlier versions)
  private val keysPool = Seq.fill(8)(rnd.nextInt(Data.Orders.toInt).toLong)
  private val rangePool = Seq.fill(8) {
    val d0 = Data.Epoch.toLocalDate.plusDays(rnd.nextInt(Data.DateSpan - 40).toLong)
    (d0, d0.plusDays(40))
  }
  private val yearPool = Seq.fill(8)(1992 + rnd.nextInt(6))
  private val asofPool = Seq.tabulate(8)(i => 1 + i % (LineBatches - 1))

  def setup(): Unit = {
    // the two tables build concurrently: raw parquet, then engine commits
    val step = Data.Orders / OrderBatches
    val ro = Data.ordersRange(spark, seed, Data.Orders).withColumn("o_year", year(col("o_orderdate")))
      .drop("o_rev")
    val rl = Data.lineitem(spark, seed, Data.Orders)
    def buildOrders(): Unit =
      (0 until OrderBatches).foreach { b =>
        ManifestTable.commit(spark, ordersT,
          ro.filter(col("o_orderkey") >= b * step && col("o_orderkey") < (b + 1) * step),
          statsColumns = Seq("o_orderkey", "o_orderdate"), partitionBy = Seq("o_year"))
      }
    def buildLineitem(): Unit = {
      lineVersions = (0 until LineBatches).map { b =>
        val v = ManifestTable.commit(spark, lineT,
          rl.filter(col("l_shipdate") >= lit(java.sql.Date.valueOf(lineBounds(b))) &&
            col("l_shipdate") < lit(java.sql.Date.valueOf(lineBounds(b + 1)))),
          statsColumns = Seq("l_shipdate", "l_orderkey"))
        val t = System.currentTimeMillis()
        Thread.sleep(5) // distinct commit instants for timestamp travel
        (v, t)
      }
    }
    // the raw copies (the oracle's input) write beside the lake builds
    Workload.concurrently(spark)(
      () => buildLineitem(),
      () => buildOrders(),
      () => ro.write.parquet(new java.io.File(raw, "orders").toString),
      () => rl.write.parquet(new java.io.File(raw, "lineitem").toString))
    rec.phase("commit_orders_lineitem")
    GraftCatalog.register("orders", ordersT)
    GraftCatalog.register("lineitem", lineT)
    // warm-up, untimed: each template once, all at a time, then one
    // whole cycle in order, on other slots than the timed cycles start
    // with. Cycles keep getting faster for about 25 s (JIT): after the
    // concurrent pass alone the first timed cycle ran a third slower
    // than the third, so a window's median depended on whether the host
    // let it hold two cycles or three
    Workload.concurrently(spark)(Templates.map(t => () => { runTemplate(t, 0); () }): _*)
    Cycle.indices.foreach(k => runTemplate(Cycle(k), slotOf(4 * Cycle.size + k)))
    rec.phase("warmup")
  }

  private def digest(rows: Array[Row]): (String, Int) = {
    val text = rows.map(r => r.toSeq.map(v => if (v == null) "NULL" else v.toString).mkString("|"))
      .sorted.mkString("\n")
    val md = java.security.MessageDigest.getInstance("MD5").digest(text.getBytes("UTF-8"))
    (md.map(b => f"$b%02x").mkString, rows.length)
  }

  private val orderCols = Seq(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
    col("o_totalprice"), col("o_orderdate").cast("string").as("o_orderdate"), col("o_orderpriority"))

  /** The last single-table read: (frame, table, version, via SQL?) */
  private var lastRead: Option[(DataFrame, String, Int, Boolean)] = None
  private val filesKept = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]

  /** Run one template with pool slot `slot`; returns (params, rows). */
  private def runTemplate(t: String, slot: Int): (Map[String, Any], Array[Row]) = t match {
    case "lookup" =>
      val k = keysPool(slot)
      val df = rec.span("ManifestTable.readWhere")(ManifestTable.readWhere(spark, ordersT, col("o_orderkey") === k))
      lastRead = Some((df, ordersT, -1, false))
      (Map("key" -> k), df.select(orderCols: _*).collect())
    case "lookup_sql" =>
      val k = keysPool((slot + 3) % keysPool.size)
      val df = rec.span("GraftSqlParser.sql")(spark.sql(
        s"SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, CAST(o_orderdate AS STRING) AS o_orderdate, " +
          s"o_orderpriority FROM graft.orders WHERE o_orderkey = $k"))
      lastRead = Some((df, ordersT, -1, true))
      (Map("key" -> k), df.collect())
    case "range_scan" =>
      val (a, b) = rangePool(slot)
      val df = rec.span("ManifestTable.readWhere")(ManifestTable.readWhere(spark, lineT,
        col("l_shipdate").between(lit(java.sql.Date.valueOf(a)), lit(java.sql.Date.valueOf(b)))))
      lastRead = Some((df, lineT, -1, false))
      (Map("from" -> a.toString, "to" -> b.toString),
        df.agg(count(lit(1)), sum("l_quantity"), sum(col("l_extendedprice") * (lit(100) - col("l_discount"))))
          .collect())
    case "partition_agg" =>
      val y = yearPool(slot)
      val df = rec.span("ManifestTable.readWhere")(ManifestTable.readWhere(spark, ordersT, col("o_year") === y))
      lastRead = Some((df, ordersT, -1, false))
      (Map("year" -> y), df.groupBy("o_orderpriority").agg(count(lit(1)), sum("o_totalprice")).collect())
    case "time_travel" =>
      val b = asofPool(slot)
      val (v, at) = lineVersions(b - 1)
      val df = rec.span("ManifestTable.readAsOf")(ManifestTable.readAsOf(spark, lineT, at))
      lastRead = Some((df, lineT, v, false))
      (Map("batches" -> b, "before" -> lineBounds(b).toString),
        df.agg(count(lit(1)), sum("l_quantity")).collect())
    case "join_agg" =>
      val o = rec.span("ManifestTable.read")(ManifestTable.read(spark, ordersT))
      val l = rec.span("ManifestTable.read")(ManifestTable.read(spark, lineT))
      (Map.empty, l.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority", "l_returnflag")
        .agg(count(lit(1)), sum(col("l_extendedprice") * (lit(100) - col("l_discount")))).collect())
    case "window_topn" =>
      val l = rec.span("ManifestTable.read")(ManifestTable.read(spark, lineT))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("l_returnflag")
        .orderBy(col("q").desc, col("l_suppkey").asc)
      (Map.empty, l.groupBy("l_returnflag", "l_suppkey").agg(sum("l_quantity").as("q"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3).collect())
  }

  /** The pool slot the `i`-th read of the sequence uses. */
  private def slotOf(i: Int): Int = (i / Cycle.size + i * 7) % 8

  /** Whole cycles of the read mix (see [[Recorder.anotherCycle]]). */
  def run(deadlineNs: Long): Unit = {
    var i = 0
    while (i % Cycle.size != 0 || rec.anotherCycle(deadlineNs, i / Cycle.size)) {
      val t = Cycle(i % Cycle.size)
      val slot = slotOf(i)
      lastRead = None
      rec.op(t, "read") {
        val (params, rows) = runTemplate(t, slot)
        val (d, n) = digest(rows)
        Map("tpl" -> t, "params" -> params, "digest" -> d, "rows_out" -> n)
      }
      if (rec.tracing) lastRead.foreach { case (df, table, v, sql) =>
        filesKept += Workload.filesKept(spark, df, table, v, sql, t) }
      i += 1
    }
    cycles = i / Cycle.size
  }
  private var cycles = 0

  // compared against DuckDB by oracle.py; nothing to check in-process
  def verify(): Seq[(String, Boolean, String)] = Nil

  def inputs: Map[String, Any] = {
    val n = Cycle.size.toDouble
    Map("orders_rows" -> Data.Orders, "lineitem_rows" -> Data.Orders * Data.LinesPerOrder,
      "cycle" -> Cycle, "cycles" -> cycles,
      "prunable_share" -> Cycle.count(Prunable).toDouble / n,
      "sql_share" -> Cycle.count(_ == "lookup_sql").toDouble / n,
      "dataframe_share" -> Cycle.count(_ != "lookup_sql").toDouble / n,
      "time_travel_share" -> Cycle.count(_ == "time_travel").toDouble / n,
      "raw_dir" -> raw.toString)
  }

  override def extra: Map[String, Any] = Map("files_kept" -> filesKept.toSeq)

  override def filesOnDisk: Long = Workload.du(lake)._1
}

object Query {
  val OrderBatches = 2
  val LineBatches = 3
  val Templates = Seq("lookup", "lookup_sql", "range_scan", "partition_agg", "time_travel", "join_agg", "window_topn")
  val Cycle = Seq("lookup", "lookup_sql", "range_scan", "partition_agg", "lookup", "lookup_sql",
    "time_travel", "join_agg", "range_scan", "window_topn")
  val Prunable = Set("lookup", "range_scan", "partition_agg")
}

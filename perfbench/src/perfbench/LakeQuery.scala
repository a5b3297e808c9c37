package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.{Indicators, TopK, VersionedTable}
import graft.plans.GraftCatalog

/** Analyst reads over a catalog table with stats and bloom sidecars and a
  * history of two versions: a year's load and a restatement. Four clients
  * follow seeded schedules over one op instance per kind, in rounds that
  * each hold the same op mix; no op commits. */
final class LakeQuery(ctx: Ctx) extends Workload {
  import ctx.spark

  private type Inst = java.util.Map[String, AnyRef]
  private val clients = 4
  /** Whole rounds per client that 10 s of the run's time buy. */
  private val roundsPer10s = 3
  private val (pool, schedule, roundOps) = {
    val m = new ObjectMapper().readValue(new File(ctx.inputs, "ops.json"),
      classOf[java.util.Map[String, AnyRef]])
    (m.get("pool").asInstanceOf[java.util.List[Inst]].asScala.toIndexedSeq,
      m.get("schedule").asInstanceOf[java.util.List[java.util.List[Integer]]]
        .asScala.toIndexedSeq.map(_.asScala.toIndexedSeq.map(_.intValue)),
      m.get("round_ops").asInstanceOf[Integer].intValue)
  }
  private val loads = 2
  private var root = ""
  private var versionOfLoad = IndexedSeq.empty[Int]
  private var tableFiles = 1
  private var setupRows = 0L
  private val firstResult =
    new java.util.concurrent.ConcurrentHashMap[Int, Canon.Rows]
  private val problems = new java.util.concurrent.ConcurrentLinkedQueue[String]

  private def loadFile(i: Int) = new File(ctx.inputs, s"load$i.csv")
  private def str(i: Inst, k: String) = i.get(k).toString
  private def strs(i: Inst, k: String) =
    i.get(k).asInstanceOf[java.util.List[String]].asScala.toSeq
  private def inList(xs: Seq[String]) = xs.map(x => s"'$x'").mkString(", ")

  def setup(): Unit = {
    val loc = new File(ctx.dir("lake_query"), "bars").getPath
    spark.sql(
      s"""CREATE TABLE bars (symbol STRING, date DATE, month STRING,
         |open DOUBLE, high DOUBLE, low DOUBLE, close DOUBLE, volume BIGINT)
         |USING graft LOCATION '$loc' PARTITIONED BY (month)
         |TBLPROPERTIES('graft.keys'='symbol,date,month',
         |'graft.stats'='date,close,volume', 'graft.blooms'='symbol')""".stripMargin)
    root = GraftCatalog.resolveTableRef(spark, "bars")
    setupRows = 0L
    versionOfLoad = (0 until loads).map { i =>
      val rows = Bars.load(loadFile(i))
      setupRows += rows.size
      spark.createDataFrame(rows, Bars.schema).createOrReplaceTempView("lq_load")
      val id = s"setup-load$i"
      spark.sparkContext.setJobGroup(id, "setup", interruptOnCancel = false)
      val fs0 = FsStats.thread()
      ctx.spans("vt.commit", id) {
        if (i < loads - 1) spark.sql("INSERT INTO bars SELECT * FROM lq_load")
        else spark.sql(
          """MERGE INTO bars t USING lq_load s
            |ON t.symbol = s.symbol AND t.date = s.date AND t.month = s.month
            |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
      }
      val fs = FsStats.thread() - fs0
      spark.sparkContext.clearJobGroup()
      val v = VersionedTable.currentVersion(spark, root).get
      ctx.spans.note(id, "version", v)
      ctx.spans.note(id, "fs_ops", fs.ops)
      ctx.spans.note(id, "fs_bytes_read", fs.bytesRead)
      v
    }
    spark.read.schema("symbol STRING, sector STRING").option("header", "true")
      .csv(new File(ctx.inputs, "sectors.csv").getPath)
      .createOrReplaceTempView("sectors")
    tableFiles = VersionedTable.read(spark, root).inputFiles.length
  }

  private def exchanges(p: SparkPlan): Int = {
    val here = p match {
      case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
      case s: QueryStageExec => exchanges(s.plan)
      case e: Exchange => 1 + e.children.map(exchanges).sum
      case other => other.children.map(exchanges).sum
    }
    here + p.subqueries.map(exchanges).sum
  }

  private def filesRead(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => filesRead(a.executedPlan)
    case s: QueryStageExec => filesRead(s.plan)
    case other =>
      other.metrics.get("numFiles").map(_.value).getOrElse(0L) +
        other.children.map(filesRead).sum
  }

  /** Plans and runs `df` under the op's spans and notes its plan shape. */
  private def execute(df: DataFrame, id: String, execSpan: String): Array[Row] = {
    val spans = ctx.spans
    spans("sql.plan", id)(df.queryExecution.executedPlan)
    val rows = spans(execSpan, id)(df.collect())
    if (spans.enabled) {
      val fin = df.queryExecution.executedPlan
      spans.note(id, "exchanges", exchanges(fin))
      spans.note(id, "files_read", filesRead(fin))
      spans.note(id, "table_files", tableFiles)
      spans.note(id, "rows_out", rows.length)
      spans.note(id, "queries", 1)
    }
    rows
  }

  private def sql(text: String, id: String): DataFrame =
    ctx.spans("sql.parse", id)(spark.sql(text))

  private def indicators(base: DataFrame): DataFrame =
    Indicators.withEmaMacd(
      Indicators.rsi(
        Indicators.bollinger(base, "symbol", Seq("date"), "close"),
        "symbol", Seq("date"), "close"),
      "symbol", Seq("date"), "close")

  private def movers(base: DataFrame, k: Int): DataFrame =
    TopK.topKPerGroup(base, Seq("sector", "date"),
      Seq(col("ret").desc, col("symbol").asc), k)
      .select("sector", "date", "rank", "symbol", "ret")

  private def cdfSummary(cdf: DataFrame): DataFrame =
    cdf.groupBy("op").agg(count(lit(1)).as("n"), sum("close").as("close"),
      sum("volume").as("volume"))

  private def version(i: Inst) = i.get("version").asInstanceOf[Integer].intValue

  /** The SQL of instance `i` over relation `from`: the catalog table, or
    * the reference view of the same version. */
  private def text(i: Inst, from: String): String = (str(i, "kind") match {
    case "point" =>
      s"""SELECT symbol, date, open, high, low, close, volume FROM $from
         |WHERE symbol = '${str(i, "symbol")}'
         |AND month IN (${inList(strs(i, "months"))})"""
    case "range_agg" =>
      s"""SELECT date, count(*) AS n, avg(close) AS avg_close,
         |sum(volume) AS volume, max(high) AS high, min(low) AS low
         |FROM $from WHERE month IN (${inList(strs(i, "months"))})
         |GROUP BY date"""
    case "indicator" =>
      s"""SELECT symbol, date, close FROM $from
         |WHERE month IN (${inList(strs(i, "months"))})
         |AND symbol IN (${inList(strs(i, "symbols"))})"""
    case "movers" =>
      s"""SELECT b.symbol, b.date, s.sector, (b.close - b.open) / b.open AS ret
         |FROM $from b JOIN sectors s ON b.symbol = s.symbol
         |WHERE b.month = '${str(i, "month")}'"""
    case "time_travel" =>
      s"""SELECT month, count(*) AS n, sum(close) AS close,
         |sum(volume) AS volume FROM $from GROUP BY month"""
  }).stripMargin

  /** The analytic operator the indicator and movers kinds run on their
    * SQL's rows. */
  private def analytic(i: Inst): Option[DataFrame => DataFrame] = str(i, "kind") match {
    case "indicator" => Some(indicators)
    case "movers" => Some(movers(_, i.get("k").asInstanceOf[Integer]))
    case _ => None
  }

  /** Runs pool instance `i` against the catalog table. */
  private def runInst(i: Inst, id: String): Canon.Rows = str(i, "kind") match {
    case "time_travel" =>
      val snap = execute(sql(text(i, s"bars VERSION AS OF ${versionOfLoad(version(i))}"),
        id), id, "sql.exec")
      val cdf = ctx.spans("vt.changeFeed", id)(cdfSummary(
        VersionedTable.changeFeed(spark, root, versionOfLoad(version(i) - 1),
          versionOfLoad(version(i)))).collect())
      Canon.of(snap) ++ Canon.of(cdf)
    case "meta" =>
      val c = str(i, "column")
      ctx.spans("vt.meta", id) {
        val n = VersionedTable.fastCount(spark, root)
        val mm = VersionedTable.fastMinMax(spark, root, c)
        Vector(Vector(n.orNull, mm.map(_._1).orNull, mm.map(_._2).orNull))
      }
    case _ =>
      val base = sql(text(i, "bars"), id)
      Canon.of(analytic(i) match {
        case Some(f) => execute(f(base), id, "ops.exec")
        case None => execute(base, id, "sql.exec")
      })
  }

  /** Each instance once, untimed, spread over the clients. */
  override def warmUp(): Unit = onClients { c =>
    pool.indices.filter(_ % clients == c).foreach(i =>
      firstResult.put(i, runInst(pool(i), s"warm-up-$i")))
    Nil
  }

  /** Runs `body(c)` for each client c on its own thread. */
  private def onClients[A](body: Int => Seq[A]): Seq[A] = {
    val exec = java.util.concurrent.Executors.newFixedThreadPool(clients)
    try {
      (0 until clients).map { c =>
        exec.submit(new java.util.concurrent.Callable[Seq[A]] {
          def call(): Seq[A] = body(c)
        })
      }.flatMap(_.get())
    } finally exec.shutdown()
  }

  private def op(c: Int, k: Int): OpRec = {
    val idx = schedule(c)(k)
    val inst = pool(idx)
    val id = s"c$c-op$k"
    spark.sparkContext.setJobGroup(id, str(inst, "kind"), interruptOnCancel = false)
    val t0 = Clock.now
    val res = try Right(ctx.spans("op", id)(runInst(inst, id)))
      catch { case e: Exception => Left(e) }
    val t1 = Clock.now
    spark.sparkContext.clearJobGroup()
    res match {
      case Right(rows) =>
        val first = firstResult.putIfAbsent(idx, rows)
        if (first != null) Canon.diff(rows, first).foreach(d =>
          problems.add(s"lake_query: pool op $idx changed between runs: $d"))
        OpRec(id, str(inst, "kind"), c, t0, t1, ok = true, "", rows.size)
      case Left(e) =>
        problems.add(s"lake_query: $id (${str(inst, "kind")}) raised $e")
        OpRec(id, str(inst, "kind"), c, t0, t1, ok = false,
          e.getClass.getSimpleName, 0)
    }
  }

  /** Each client runs ceil(seconds * roundsPer10s / 10) whole rounds, so
    * every run times the same op mix and ends when its work is done. */
  def run(seconds: Double): Seq[OpRec] = {
    val n = math.max(1, math.ceil(seconds * roundsPer10s / 10).toInt) * roundOps
    onClients { c =>
      require(n <= schedule(c).size, s"client $c has fewer than $n ops")
      (0 until n).map(op(c, _))
    }
  }

  /** Reference inputs: each load as plain parquet, and each version's
    * snapshot as a view over them (a later load replaces earlier rows of
    * the same key). */
  private def referenceViews(): Unit = {
    val dir = ctx.dir("lake_query", "reference")
    def copy(i: Int) = new File(dir, s"load$i").getPath
    onClients { c =>
      (0 until loads).filter(_ % clients == c).map { i =>
        spark.read.schema(Bars.schema.fields.filter(_.name != "month")
            .foldLeft(new StructType)(_.add(_)))
          .option("header", "true").csv(loadFile(i).getPath)
          .withColumn("month", date_format(col("date"), "yyyy-MM"))
          .select(Bars.schema.fieldNames.toSeq.map(col): _*)
          .write.mode("overwrite").parquet(copy(i))
      }
    }
    (0 until loads).foreach(i =>
      spark.read.parquet(copy(i)).createOrReplaceTempView(s"ref_load$i"))
    (0 until loads).foreach { v =>
      val text = if (v < loads - 1) (0 to v).map(i => s"SELECT * FROM ref_load$i")
          .mkString(" UNION ALL ")
        else s"""SELECT v.* FROM ref_v${v - 1} v LEFT ANTI JOIN ref_load$v r
                |ON ${Bars.keys.map(k => s"v.$k = r.$k").mkString(" AND ")}
                |UNION ALL SELECT * FROM ref_load$v""".stripMargin
      spark.sql(text).createOrReplaceTempView(s"ref_v$v")
    }
  }

  /** Independent change summary between two reference snapshots. */
  private def refCdf(from: DataFrame, to: DataFrame): DataFrame = {
    val f = from.select(from.columns.toSeq.map(c => col(c).as(s"f_$c")): _*)
    val on = Bars.keys.map(k => col(k) === col(s"f_$k")).reduce(_ && _)
    val data = Seq("open", "high", "low", "close", "volume")
    val j = to.join(f, on, "full_outer")
    val op = when(col("f_symbol").isNull, "insert")
      .when(col("symbol").isNull, "delete")
      .when(!data.map(c => col(c) === col(s"f_$c")).reduce(_ && _), "update")
    cdfSummary(j.select(op.as("op"),
      when(col("symbol").isNull, col("f_close")).otherwise(col("close")).as("close"),
      when(col("symbol").isNull, col("f_volume")).otherwise(col("volume")).as("volume"))
      .filter(col("op").isNotNull))
  }

  private def reference(i: Inst): Canon.Rows = {
    val cur = s"ref_v${loads - 1}"
    str(i, "kind") match {
      case "time_travel" =>
        val v = version(i)
        Canon.of(spark.sql(text(i, s"ref_v$v")).collect()) ++
          Canon.of(refCdf(spark.table(s"ref_v${v - 1}"), spark.table(s"ref_v$v"))
            .collect())
      case "meta" =>
        val c = str(i, "column")
        Canon.of(spark.sql(s"SELECT count(*), min($c), max($c) FROM $cur").collect())
      case _ =>
        val base = spark.sql(text(i, cur))
        Canon.of(analytic(i).fold(base)(_(base)).collect())
    }
  }

  /** Every pool instance that ran must equal the same query over the plain
    * parquet copies; every run of an instance must equal its first. */
  def check(ops: Seq[OpRec]): Seq[String] = {
    referenceViews()
    val ran = firstResult.asScala.toIndexedSeq.sortBy(_._1)
    val diffs = onClients { c =>
      ran.filter(_._1 % clients == c).flatMap { case (idx, got) =>
        Canon.diff(got, reference(pool(idx))).map(d =>
          s"lake_query: pool op $idx (${str(pool(idx), "kind")}) differs " +
            s"from the parquet reference: $d")
      }
    }
    val kinds = ops.filter(_.ok).map(_.kind).toSet
    val unran = pool.map(str(_, "kind")).toSet -- kinds
    problems.asScala.toSeq ++ diffs ++
      unran.map(k => s"lake_query: no $k op completed")
  }

  def written(ops: Seq[OpRec]): (Long, Long) =
    (Main.du(new File(root)), setupRows)

  def tableRoots: Seq[String] = Seq(root)
}

package perfbench

import java.io.File
import java.sql.Date

import scala.io.Source
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.VersionedTable
import graft.ops.VersionedTable.MergeClause

/** Daily bars as the batch path stores them: partitioned by month. */
object Bars {
  val schema: StructType = StructType(Seq(
    StructField("symbol", StringType, nullable = false),
    StructField("date", DateType, nullable = false),
    StructField("month", StringType, nullable = false),
    StructField("open", DoubleType),
    StructField("high", DoubleType),
    StructField("low", DoubleType),
    StructField("close", DoubleType),
    StructField("volume", LongType)))
  val keys = Seq("symbol", "date", "month")
  val partCols = Seq("month")

  /** Parses a generated bar file on the driver, untimed. */
  def load(f: File): java.util.List[Row] = {
    val src = Source.fromFile(f, "UTF-8")
    try src.getLines().drop(1).map { ln =>
      val a = ln.split(',')
      Row(a(0), Date.valueOf(a(1)), a(1).substring(0, 7), a(2).toDouble,
        a(3).toDouble, a(4).toDouble, a(5).toDouble, a(6).toLong)
    }.toVector.asJava
    finally src.close()
  }
}

/** The batch-path load: four writers, each MERGE-upserting the days of its
  * own year into one month-partitioned table, so their partitions are
  * disjoint. Op k of a client is one day's bars through
  * `VersionedTable.upsert`, or a multi-day restatement through
  * `VersionedTable.mergeClauses`. */
final class DailyMerge(ctx: Ctx) extends Workload {
  import ctx.spark

  private final case class OpInput(idx: Int, kind: String,
                                   rows: java.util.List[Row])

  private val clients = 4
  private var root: File = _
  private var seed: java.util.List[Row] = _
  private var inputs: IndexedSeq[IndexedSeq[OpInput]] = _
  private var bytesBefore = 0L

  private def frame(rows: java.util.List[Row]): DataFrame =
    spark.createDataFrame(rows, Bars.schema)

  def setup(): Unit = {
    seed = Bars.load(new File(ctx.inputs, "seed.csv"))
    inputs = (0 until clients).map { c =>
      new File(ctx.inputs, s"c$c").listFiles.toIndexedSeq
        .sortBy(_.getName).zipWithIndex.map { case (f, i) =>
          OpInput(i, f.getName.stripSuffix(".csv").split('_')(1), Bars.load(f))
        }
    }
    root = new File(ctx.dir("daily_merge"), "bars")
    VersionedTable.upsert(spark, root.getPath, frame(seed), Bars.keys,
      Bars.partCols)
    bytesBefore = Main.du(root)
  }

  private def op(c: Int, in: OpInput): OpRec = {
    val id = s"c$c-op${in.idx}"
    val spans = ctx.spans
    spark.sparkContext.setJobGroup(id, in.kind, interruptOnCancel = false)
    val fs0 = FsStats.thread()
    val t0 = Clock.now
    val err = try {
      val v = spans("vt.commit", id) {
        if (in.kind == "daily")
          VersionedTable.upsert(spark, root.getPath, frame(in.rows),
            Bars.keys, Bars.partCols)
        else
          VersionedTable.mergeClauses(spark, root.getPath, frame(in.rows),
            Bars.keys, matched = Seq(MergeClause(None, Some(Map.empty))),
            insertWhen = Some(None))
      }
      spans.note(id, "version", v)
      ""
    } catch { case e: Exception => e.getClass.getSimpleName }
    val t1 = Clock.now
    val fs = FsStats.thread() - fs0
    spans.note(id, "fs_ops", fs.ops)
    spans.note(id, "fs_bytes_read", fs.bytesRead)
    spark.sparkContext.clearJobGroup()
    OpRec(id, in.kind, c, t0, t1, err.isEmpty, err, in.rows.size)
  }

  private var ops0Attempted = 0

  def run(seconds: Double): Seq[OpRec] = {
    val deadline = Clock.now + seconds * 1000.0
    val pool = java.util.concurrent.Executors.newFixedThreadPool(clients)
    try {
      val futures = (0 until clients).map { c =>
        pool.submit(new java.util.concurrent.Callable[Vector[OpRec]] {
          def call(): Vector[OpRec] = {
            val out = Vector.newBuilder[OpRec]
            val it = inputs(c).iterator
            while (Clock.now < deadline && it.hasNext) out += op(c, it.next())
            if (Clock.now < deadline)
              throw new IllegalStateException(s"client $c ran out of inputs")
            out.result()
          }
        })
      }
      val ops = futures.flatMap(_.get())
      ops0Attempted = ops.count(_.client == 0)
      ops
    } finally pool.shutdown()
  }

  /** The snapshot must equal a replay of the acknowledged ops over the seed
    * (last write per key wins, clients own disjoint keys), and the history
    * must hold one version for the seed plus one per acknowledged op. */
  def check(ops: Seq[OpRec]): Seq[String] = {
    val acked = ops.filter(_.ok)
    val ordered = frame(seed).withColumn("__ord", lit(-1)) +:
      acked.map { o =>
        val c = o.client
        val in = inputs(c).find(i => s"c$c-op${i.idx}" == o.id).get
        frame(in.rows).withColumn("__ord", lit(in.idx))
      }
    val w = Window.partitionBy(Bars.keys.map(col): _*)
      .orderBy(col("__ord").desc)
    val expected = ordered.reduce(_.unionByName(_))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn", "__ord")
    val cols = Bars.schema.fieldNames.toSeq.map(col)
    val actual = VersionedTable.read(spark, root.getPath).select(cols: _*)
    val exp = expected.select(cols: _*)
    val missing = exp.exceptAll(actual).count()
    val extra = actual.exceptAll(exp).count()
    val versions = VersionedTable.history(spark, root.getPath).size
    Seq(
      if (missing + extra == 0) None
      else Some(s"daily_merge: snapshot differs from the replay of " +
        s"acknowledged ops ($missing rows missing, $extra unexpected)"),
      if (versions == acked.size + 1) None
      else Some(s"daily_merge: history holds $versions versions, expected " +
        s"${acked.size + 1} (seed + acknowledged ops)")
    ).flatten
  }

  def written(ops: Seq[OpRec]): (Long, Long) =
    (Main.du(root) - bytesBefore, ops.filter(_.ok).map(_.rows).sum)

  def tableRoots: Seq[String] = Seq(root.getPath)

  /** Traced runs only, after the check: the next unused daily inputs of
    * client 0 committed by one client alone, the uncontended cost of the
    * same op shape. */
  override def traceExtra: Map[String, Any] =
    if (!ctx.spans.enabled) Map.empty
    else {
      val used = ops0Attempted
      val solo = inputs(0).drop(used).filter(_.kind == "daily").take(3).map { in =>
        val t0 = Clock.now
        VersionedTable.upsert(spark, root.getPath, frame(in.rows), Bars.keys,
          Bars.partCols)
        Clock.now - t0
      }
      Map("solo_ms" -> solo)
    }
}

package perfbench

import graft.LakeEngine
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Shared by the two lake workloads: table DDL, reading the generated
  * rows into the model, and timed calls into `LakeEngine.sql`.
  */
object Lake {
  val LineitemCols: String =
    "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, " +
      "l_linenumber int, l_quantity double, l_extendedprice double, " +
      "l_discount double, l_tax double, l_returnflag text, " +
      "l_linestatus text, l_shipdate timestamp"
  val OrdersCols: String =
    "o_orderkey bigint, o_custkey bigint, o_orderstatus text, " +
      "o_totalprice double, o_orderdate timestamp, o_orderpriority text"

  def createLineitem(e: LakeEngine, name: String, props: String): Unit =
    e.sql(s"CREATE TABLE $name ($LineitemCols) USING iceberg " +
      s"PARTITIONED BY (month(l_shipdate)) WITH ($props)").collect()

  /** Epoch day of a timestamp value, whichever type Spark returns it as. */
  def day(v: Any): Int = (v match {
    case t: java.sql.Timestamp => t.toInstant.atOffset(java.time.ZoneOffset.UTC).toLocalDate
    case t: java.time.Instant => t.atOffset(java.time.ZoneOffset.UTC).toLocalDate
    case t: java.time.LocalDateTime => t.toLocalDate
    case other => sys.error(s"not a timestamp: $other")
  }).toEpochDay.toInt

  def toLine(r: Row): Line = Line(r.getLong(0), r.getLong(1), r.getLong(2),
    r.getInt(3), r.getDouble(4), r.getDouble(5), r.getDouble(6),
    r.getDouble(7), r.getString(8), r.getString(9), day(r.get(10)))

  def lines(spark: SparkSession, path: String): Seq[Line] =
    spark.read.parquet(path).collect().map(toLine).toSeq

  /** A read's rows in the form [[Line.readKey]] has. */
  def readKeys(rows: Array[Row]): Seq[String] = rows.map { r =>
    s"${r.getLong(0)}|${r.getInt(1)}|${r.getDouble(2)}|" +
      java.time.LocalDate.ofEpochDay(day(r.get(3)))
  }.toSeq.sorted

  /** Runs one statement through `LakeEngine.sql`, timed and traced as an
    * engine call of `kind`.
    */
  def sql(ctx: Ctx, e: LakeEngine, rec: Recorder, kind: String,
      stmt: String): (DataFrame, Double) = {
    val (df, ms) = Timer.ms(ctx.tracer.span(s"sql.$kind", "engine")(e.sql(stmt)))
    rec.call(s"engine.sql_ms.$kind", ms)
    (df, ms)
  }

  /** Collects a result, timed and traced as execution. */
  def collect(ctx: Ctx, df: DataFrame): (Array[Row], Double) =
    Timer.ms(ctx.tracer.span("collect", "spark")(df.collect()))

  /** The affected-row count a DML statement returns, or -1. */
  def count(rows: Array[Row]): Long =
    rows.headOption.flatMap(r => Option(r.get(0))).map {
      case n: Number => n.longValue
      case other => other.toString.toLong
    }.getOrElse(-1L)

  /** Snapshots whose operation is `op`. */
  def snapshotsWith(e: LakeEngine, table: String, op: String): Long =
    e.table(table).snapshots.collect().count(_.getAs[String]("operation") == op)
      .toLong

  /** (data files, delete files, live bytes) of the current snapshot. */
  def fileStats(e: LakeEngine, table: String): (Long, Long, Long) = {
    val fs = e.table(table).files.collect()
    (fs.count(_.getAs[Int]("content") == 0).toLong,
      fs.count(_.getAs[Int]("content") != 0).toLong,
      fs.map(_.getAs[Long]("bytes")).sum)
  }
}

package perfbench

import graft.LakeEngine
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The bulk life cycle of a managed table. One unit is one cycle on a
  * fresh table partitioned by month(l_shipdate): COPY FROM parquet,
  * INSERT..SELECT, a bulk copy-on-write UPDATE, a small merge-on-read
  * DELETE, a full-scan aggregate over the dirty table, a time-travel read
  * through `lake_at`, VACUUM, and COPY TO.
  */
final class LakeEtl(ctx: Ctx) extends Workload(ctx) {
  private val spark = ctx.spark
  private val e = LakeEngine(spark)
  private var source: Seq[Line] = Nil
  private var extraRows: Seq[Line] = Nil
  private var bytesPerRow = 0.0
  private var cycle = 0
  private val files = new LakeFiles
  private var writtenBytes, changedBytes = 0.0
  private var liveBytes, plainBytes = 0.0
  private var copiedRows = 0L
  private var copyMs = 0.0

  /** One small cycle over the INSERT..SELECT source, untimed by phase. */
  def warmup(): Unit = {
    spark.read.parquet(ctx.path("etl_extra")).createOrReplaceTempView("etl_extra")
    Lake.createLineitem(e, "warm", "autovacuum_enabled = 'false'")
    e.copyFrom("warm", ctx.path("etl_extra"))
    Seq("INSERT INTO warm SELECT * FROM etl_extra",
      "UPDATE warm SET l_quantity = l_quantity + 1 WHERE l_returnflag = 'R'",
      "DELETE FROM warm WHERE l_orderkey = 1",
      "SELECT l_returnflag, count(*) FROM warm GROUP BY l_returnflag",
      "VACUUM warm").foreach(s => e.sql(s).collect())
    e.copyTo(e.sql("SELECT * FROM warm"), s"${ctx.work}/warm.parquet")
    e.sql("DROP TABLE warm").collect()
  }

  /** Registers the INSERT..SELECT source and reads the rows the checks
    * compare against.
    */
  def load(i: Int): Unit = {
    spark.read.parquet(ctx.path("etl_extra")).createOrReplaceTempView("etl_extra")
    source = Lake.lines(spark, ctx.path("lake_lineitem"))
    extraRows = Lake.lines(spark, ctx.path("etl_extra"))
  }

  override def prepare(rec: Recorder): Unit =
    bytesPerRow = Files.size(Paths.get(ctx.path("lake_lineitem"))).toDouble / source.size

  def unit(rec: Recorder): Unit = {
    cycle += 1
    val t = s"etl_$cycle"
    val rng = new scala.util.Random(ctx.seed * 1000003L + cycle)
    var model = source ++ extraRows
    var root = ""
    var snapshot = 0L

    /** Runs one phase: timed, traced, walked for bytes written. */
    def phase(kind: String, cls: String)(body: => Unit): Unit = {
      rec.attempted += 1
      try {
        val (_, ms) = Timer.ms(ctx.tracer.op(kind)(body))
        rec.sample(kind, cls, ms)
      } catch { case ex: Exception =>
        rec.check(ok = false, s"$kind on $t failed: ${ex.getMessage}")
      }
      if (root.nonEmpty) files.walk(Seq(root))
    }
    def dml(kind: String, stmt: String, want: Long): Unit = {
      val (df, _) = Lake.sql(ctx, e, rec, kind, stmt)
      val n = Lake.count(df.collect())
      rec.check(n == want, s"$kind affected $n rows, want $want: $stmt")
    }
    def agg(rows: Seq[Line]): Map[(String, String), (Long, Double, Long)] =
      rows.groupBy(l => (l.returnflag, l.linestatus)).map { case (k, ls) =>
        k -> (ls.size.toLong, ls.map(_.quantity).sum, ls.map(_.orderkey).sum)
      }

    phase("copy_from", "write") {
      Lake.createLineitem(e, t, "autovacuum_enabled = 'false'")
      root = e.table(t).location
      val (n, ms) = Timer.ms(ctx.tracer.span("copy_from", "sources") {
        e.copyFrom(t, ctx.path("lake_lineitem"))
      })
      rec.call("sources.copy_from_s", ms / 1e3)
      copiedRows += n
      copyMs += ms
      rec.check(n == source.size, s"COPY FROM loaded $n rows, want ${source.size}")
      snapshot = e.table(t).snapshots.collect().map(_.getAs[Long]("snapshot_id")).max
    }
    phase("insert_select", "write") {
      dml("insert", s"INSERT INTO $t SELECT * FROM etl_extra", extraRows.size)
    }
    val returned = model.count(_.returnflag == "R")
    phase("update", "write") {
      dml("update",
        s"UPDATE $t SET l_quantity = l_quantity + 1 WHERE l_returnflag = 'R'", returned)
    }
    model = model.map(l => if (l.returnflag == "R") l.copy(quantity = l.quantity + 1) else l)
    val keys = rng.shuffle(model.map(_.orderkey).distinct).take(5).toSet
    val deleted = model.count(l => keys.contains(l.orderkey))
    phase("delete", "write") {
      dml("delete", s"DELETE FROM $t WHERE l_orderkey IN (${keys.mkString(", ")})", deleted)
    }
    model = model.filterNot(l => keys.contains(l.orderkey))
    phase("aggregate", "read") {
      val (df, buildMs) = Lake.sql(ctx, e, rec, "read",
        s"SELECT l_returnflag, l_linestatus, count(*), sum(l_quantity), " +
          s"sum(l_orderkey) FROM $t GROUP BY l_returnflag, l_linestatus")
      val (rows, execMs) = Lake.collect(ctx, df)
      rec.call("plans.build_ms", buildMs)
      rec.call("execute_ms", execMs)
      val got = rows.map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3), r.getLong(4))).toMap
      rec.check(got == agg(model), s"aggregate is $got, want ${agg(model)}")
    }
    phase("time_travel", "read") {
      val (df, buildMs) = Lake.sql(ctx, e, rec, "read",
        s"SELECT * FROM lake_at('$t', $snapshot)")
      val (rows, execMs) = Lake.collect(ctx,
        df.selectExpr("count(*)", "sum(l_orderkey)", "sum(l_quantity)"))
      rec.call("plans.build_ms", buildMs)
      rec.call("execute_ms", execMs)
      val r = rows.head
      rec.check(r.getLong(0) == source.size &&
        r.getLong(1) == source.map(_.orderkey).sum &&
        r.getDouble(2) == source.map(_.quantity).sum,
        s"lake_at the COPY snapshot is $r, want the copied rows")
    }
    if (ctx.tracer.active) {
      val (data, deletes, _) = Lake.fileStats(e, t)
      rec.call("lake.data_files", data)
      rec.call("lake.delete_files", deletes)
      rec.call("lake.snapshots", e.table(t).snapshots.count())
    }
    phase("vacuum", "maintenance") {
      val (_, ms) = Lake.sql(ctx, e, rec, "vacuum", s"VACUUM $t")
      rec.call("lake.vacuum_s", ms / 1e3)
    }
    // with nothing left to compact a second VACUUM is snapshot expiry
    if (ctx.tracer.active)
      rec.call("lake.expire_s", Timer.ms(e.sql(s"VACUUM $t").collect())._2 / 1e3)
    val out = s"${ctx.work}/export_$cycle.parquet"
    phase("copy_to", "export") {
      val (_, ms) = Timer.ms(ctx.tracer.span("copy_to", "sources") {
        e.copyTo(e.sql(s"SELECT * FROM $t"), out)
      })
      rec.call("sources.copy_to_s", ms / 1e3)
    }
    val exported = spark.read.parquet(out).count()
    rec.check(exported == model.size, s"COPY TO wrote $exported rows, want ${model.size}")
    liveBytes += Lake.fileStats(e, t)._3
    plainBytes += parquetBytes(out)
    writtenBytes += files.dataBytes + files.metaBytes
    rec.call("lake.data_bytes_written", files.dataBytes)
    rec.call("lake.metadata_bytes_written", files.metaBytes)
    rec.call("lake.files_created", files.filesCreated)
    changedBytes += (source.size + extraRows.size + returned + deleted) * bytesPerRow
    files.reset(Nil)
    e.sql(s"DROP TABLE $t").collect()
  }

  private def parquetBytes(dir: String): Double = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala.filter(_.toString.endsWith(".parquet"))
      .filter(Files.isRegularFile(_)).map(Files.size(_).toDouble).sum
    finally s.close()
  }

  override def extra(rec: Recorder): Map[String, (Double, String)] = Map(
    "ingest_rows_per_s" -> (copiedRows / (copyMs / 1e3), "1/s"),
    "write_amp" -> (writtenBytes / changedBytes, "ratio"),
    "space_amp" -> (liveBytes / plainBytes, "ratio"))

  override def layers(rec: Recorder): Map[String, (Double, String)] = {
    def med(k: String, unit: String) = k -> (Stats.median(rec.calls(k)), unit)
    val engine = rec.calls.keys.filter(_.startsWith("engine.")).map(med(_, "ms"))
    (engine ++ Seq(
      med("sources.copy_from_s", "s"), med("sources.copy_to_s", "s"),
      med("lake.vacuum_s", "s"), med("lake.expire_s", "s"),
      med("lake.data_files", "count"), med("lake.delete_files", "count"),
      med("lake.snapshots", "count"), med("lake.files_created", "count"),
      med("lake.data_bytes_written", "B"),
      med("lake.metadata_bytes_written", "B"))).toMap
  }
}

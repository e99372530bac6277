package perfbench

import graft.LakeEngine
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions.expr

/** A seeded statement stream through `LakeEngine.sql` against a managed
  * lineitem table partitioned by month(l_shipdate) and an orders table
  * (see [[OltpStream]] for the mix). Reads run beside the writes, so a
  * write that leaves work for later scans (delete files, small files)
  * shows in the read latency. One unit is one block of twenty
  * operations; autovacuum runs twice per block.
  */
final class LakeOltp(ctx: Ctx) extends Workload(ctx) {
  private val spark = ctx.spark
  private val e = LakeEngine(spark)
  private val li = s"lineitem_${Main.Loads}"
  private val ord = s"orders_${Main.Loads}"
  private var stream: OltpStream = _
  private var loadSnapshot = 0L
  private val files = new LakeFiles
  private var liBytesPerRow, ordBytesPerRow = 0.0
  private var compactsBefore = 0L
  private var changedBytes = 0.0
  private val loadCopyMs = scala.collection.mutable.ArrayBuffer.empty[Double]

  /** Runs each statement kind of the stream once on a scratch table; the
    * first two loads warm the COPY path.
    */
  def warmup(): Unit = {
    Lake.createLineitem(e, "warm", "autovacuum_enabled = 'false'")
    e.sql("CREATE TABLE warm_o (" + Lake.OrdersCols + ") USING iceberg").collect()
    val l = Lake.lines(spark, ctx.path("etl_extra")).head
    val month = s"l_shipdate >= TIMESTAMP '${l.month} 00:00:00' AND " +
      s"l_shipdate < TIMESTAMP '${l.month.plusMonths(1)} 00:00:00'"
    Seq(s"INSERT INTO warm VALUES ${l.values}, ${l.copy(orderkey = -3).values}",
      s"SELECT * FROM warm WHERE l_orderkey = ${l.orderkey} AND $month",
      s"INSERT INTO warm VALUES ${l.copy(orderkey = -1).values}",
      s"UPDATE warm SET l_quantity = l_quantity + 1 WHERE l_orderkey = -1 AND $month",
      s"DELETE FROM warm WHERE l_orderkey = ${l.orderkey} AND $month",
      "BEGIN",
      "INSERT INTO warm_o VALUES (-1, 1, 'O', 1.0, TIMESTAMP '1997-01-01 00:00:00', '3-MEDIUM')",
      s"INSERT INTO warm VALUES ${l.copy(orderkey = -2).values}",
      "COMMIT",
      s"SELECT * FROM warm WHERE l_orderkey = ${l.orderkey} AND $month",
      "DROP TABLE warm", "DROP TABLE warm_o").foreach(s => e.sql(s).collect())
  }

  /** Loads lineitem and orders into fresh tables. Autovacuum compacts
    * lineitem every four commits, twice per block, so a run spans
    * several cycles; orders keeps the default interval.
    */
  def load(i: Int): Unit = {
    Lake.createLineitem(e, s"lineitem_$i", "autovacuum_commit_interval = '4'")
    val (_, copyMs) = Timer.ms(e.copyFrom(s"lineitem_$i", ctx.path("lake_lineitem")))
    loadCopyMs += copyMs
    e.sql(s"CREATE TABLE orders_$i (${Lake.OrdersCols}) USING iceberg").collect()
    e.copyFrom(s"orders_$i", ctx.path("lake_orders"))
  }

  override def prepare(rec: Recorder): Unit = {
    (1 until Main.Loads).foreach { i =>
      e.sql(s"DROP TABLE lineitem_$i").collect()
      e.sql(s"DROP TABLE orders_$i").collect()
    }
    loadSnapshot = e.table(li).snapshots.collect()
      .map(_.getAs[Long]("snapshot_id")).max
    // start the autovacuum count from a compaction, so it always falls
    // on the same commits of a block
    e.sql(s"OPTIMIZE $li").collect()
    val lines = Lake.lines(spark, ctx.path("lake_lineitem"))
    val orders = spark.read.parquet(ctx.path("lake_orders"))
      .selectExpr("count(*)", "max(o_orderkey)").head()
    val maxKey = math.max(lines.map(_.orderkey).max, orders.getLong(1))
    stream = new OltpStream(ctx.seed, lines, orders.getLong(0), maxKey, li, ord)
    liBytesPerRow = Files.size(Paths.get(ctx.path("lake_lineitem"))).toDouble / lines.size
    ordBytesPerRow = Files.size(Paths.get(ctx.path("lake_orders"))).toDouble /
      orders.getLong(0)
    files.reset(roots)
    compactsBefore = Lake.snapshotsWith(e, li, "compact")
  }

  private def roots: Seq[String] = Seq(e.table(li).location, e.table(ord).location)

  def unit(rec: Recorder): Unit = stream.block().foreach { op =>
    rec.attempted += 1
    try {
      val before = if (tracing(op)) livePaths else Set.empty[String]
      val ms = ctx.tracer.op(op.kind)(run(op, rec))
      rec.sample(op.kind, op.cls, ms)
      if (tracing(op)) rec.call("lake.files_removed", (before -- livePaths).size)
      if (op.cls != "read") {
        files.walk(roots)
        changedBytes += (if (op.kind == "tx") liBytesPerRow + ordBytesPerRow
          else op.changed * liBytesPerRow)
      }
    } catch { case ex: Exception =>
      rec.check(ok = false, s"${op.kind} failed: ${ex.getMessage}: ${op.stmts.last}")
    }
  }

  private def tracing(op: Op): Boolean = ctx.tracer.active && op.cls != "read"

  /** Files the current snapshots of both tables reference. */
  private def livePaths: Set[String] = Seq(li, ord).flatMap { t =>
    e.table(t).files.select("path").collect().map(_.getString(0))
  }.toSet

  /** Runs one operation, checks its result, returns its latency in ms. */
  private def run(op: Op, rec: Recorder): Double = op.kind match {
    case "read" =>
      val (df, buildMs) = Lake.sql(ctx, e, rec, "read", op.stmts.head)
      val (rows, collectMs) = Lake.collect(ctx, df)
      rec.call("plans.build_ms", buildMs)
      rec.call("execute_ms", collectMs)
      rec.call("engine.collect_ms.read", collectMs)
      val got = Lake.readKeys(rows)
      rec.check(got == op.rows, s"read ${op.stmts.head}: got $got, want ${op.rows}")
      if (ctx.tracer.active) prune(op.stmts.head, rows.length, rec)
      buildMs + collectMs
    case "tx" =>
      op.stmts.map { s =>
        val kind = s.split(" ", 2)(0).toLowerCase
        val (df, ms) = Lake.sql(ctx, e, rec, kind, s)
        df.collect()
        ms
      }.sum
    case kind =>
      val (df, ms) = Lake.sql(ctx, e, rec, kind, op.stmts.head)
      val n = Lake.count(df.collect())
      rec.check(n == op.count, s"$kind affected $n rows, want ${op.count}: ${op.stmts.head}")
      ms
  }

  /** Files kept by pruning on the read's predicate, and rows scanned. */
  private def prune(stmt: String, rows: Int, rec: Recorder): Unit = {
    val (kept, total) = e.table(li).pruneStats(expr(stmt.split(" WHERE ", 2)(1)))
    rec.call("lake.files_kept", kept)
    rec.call("lake.files_total", total)
    rec.call("lake.rows_returned", rows)
  }

  override def finish(rec: Recorder): Unit = {
    val r = e.sql(s"SELECT count(*), sum(l_orderkey), sum(l_quantity) FROM $li").head()
    rec.check(r.getLong(0) == stream.lineCount && r.getLong(1) == stream.keySum &&
      r.getDouble(2) == stream.quantitySum,
      s"lineitem is (${r.getLong(0)}, ${r.getLong(1)}, ${r.getDouble(2)}), want " +
        s"(${stream.lineCount}, ${stream.keySum}, ${stream.quantitySum})")
    val o = e.sql(s"SELECT count(*), sum(CASE WHEN o_orderkey > ${stream.maxOrderKey} " +
      s"THEN o_orderkey ELSE 0 END) FROM $ord").head()
    rec.check(o.getLong(0) == stream.orderRows && o.getLong(1) == stream.orderKeySum,
      s"orders is (${o.getLong(0)}, ${o.getLong(1)}), want " +
        s"(${stream.orderRows}, ${stream.orderKeySum})")
    val initial = Lake.lines(spark, ctx.path("lake_lineitem"))
    val t = e.sql(s"SELECT * FROM lake_at('$li', $loadSnapshot)")
      .selectExpr("count(*)", "sum(l_orderkey)", "sum(l_quantity)").head()
    rec.check(t.getLong(0) == initial.size && t.getLong(1) == initial.map(_.orderkey).sum &&
      t.getDouble(2) == initial.map(_.quantity).sum,
      s"lake_at the load snapshot is $t, want the loaded rows")
    // the table as the window left it, then the maintenance and export
    // paths, timed once after the checks (VACUUM expires the load snapshot)
    if (ctx.tracer.enabled) {
      val (data, deletes, _) = Lake.fileStats(e, li)
      rec.call("lake.data_files", data)
      rec.call("lake.delete_files", deletes)
      rec.call("lake.snapshots", e.table(li).snapshots.count())
      rec.call("lake.metadata_files", files.metadataFiles(roots))
      rec.call("lake.vacuum_s", Lake.sql(ctx, e, rec, "vacuum", s"VACUUM $li")._2 / 1e3)
      // with nothing left to compact a second VACUUM is snapshot expiry
      rec.call("lake.expire_s", Timer.ms(e.sql(s"VACUUM $li").collect())._2 / 1e3)
      rec.call("sources.copy_to_s", Timer.ms(
        e.copyTo(e.sql(s"SELECT * FROM $li"), s"${ctx.work}/export.parquet"))._2 / 1e3)
    }
  }

  override def extra(rec: Recorder): Map[String, (Double, String)] = Map(
    "write_amp" -> ((files.dataBytes + files.metaBytes) / changedBytes, "ratio"))

  override def layers(rec: Recorder): Map[String, (Double, String)] = {
    val med = rec.calls.collect {
      case (k, xs) if k.startsWith("engine.") => k -> (Stats.median(xs), "ms")
    }
    val kept = rec.calls("lake.files_kept").sum
    val total = rec.calls("lake.files_total").sum
    val scannedRows = ctx.tracer.opCounters.collect {
      case (op, c) if ctx.tracer.kindOf(op) == "read" => c("records_read")
    }.sum.toDouble
    med.toMap ++ Map(
      "lake.files_total" -> (Stats.median(rec.calls("lake.files_total")), "count"),
      "lake.files_kept" -> (Stats.median(rec.calls("lake.files_kept")), "count"),
      "lake.prune_ratio" -> (1 - kept / total, "ratio"),
      "lake.metadata_bytes_written" -> (files.metaBytes.toDouble, "B"),
      "lake.data_bytes_written" -> (files.dataBytes.toDouble, "B"),
      "lake.files_created" -> (files.filesCreated.toDouble, "count"),
      "lake.files_removed" -> (rec.calls("lake.files_removed").sum, "count"),
      "lake.rows_scanned_per_row" -> (scannedRows / rec.calls("lake.rows_returned").sum, "ratio"),
      "lake.autovacuum_runs" ->
        ((Lake.snapshotsWith(e, li, "compact") - compactsBefore).toDouble, "count"),
      "sources.copy_from_s" -> (Stats.median(loadCopyMs) / 1e3, "s")) ++
      Seq("lake.vacuum_s" -> "s", "lake.expire_s" -> "s", "sources.copy_to_s" -> "s",
        "lake.data_files" -> "count", "lake.delete_files" -> "count",
        "lake.snapshots" -> "count", "lake.metadata_files" -> "count").flatMap {
        case (k, unit) => rec.calls.get(k).map(xs => k -> (xs.head, unit))
      }
  }
}

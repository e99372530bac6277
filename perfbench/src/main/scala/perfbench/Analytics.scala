package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** The 34 headline queries, each forced through the `noop` sink so every
  * projected column is computed, as `graft.Bench` times them. One unit is
  * one pass over all of them in a seeded order.
  */
final class Analytics(ctx: Ctx) extends Workload(ctx) {
  import Analytics._

  val checkDir: String = s"${ctx.work}/check"
  private val spark = ctx.spark
  private val queries = Headline.map(n => n -> graft.SparkEntry.queries(n))
  private var pass = 0

  /** The warmup of `graft.Bench`: JIT the parquet reader and the scan,
    * hash-aggregate, broadcast-join and window paths once.
    */
  def warmup(): Unit = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val li = spark.read.parquet(ctx.path("lineitem"))
    li.groupBy("l_returnflag").count()
      .write.format("noop").mode("overwrite").save()
    li.join(broadcast(spark.read.parquet(ctx.path("supplier"))),
        li("l_suppkey") === col("s_suppkey"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("s_suppkey").orderBy("l_orderkey", "l_linenumber")))
      .filter(col("rn") === 1)
      .write.format("noop").mode("overwrite").save()
  }

  /** Resolves the ten input tables. The program caches resolved tables
    * per session, so the first loads use fresh sessions and the last one
    * fills the session the queries run in.
    */
  def load(i: Int): Unit = {
    val s = if (i == Main.Loads) spark else spark.newSession()
    graft.Tables.registerAll(s, ctx.data)
  }

  /** Runs every query once, untimed, and saves its rows for the oracle
    * check. Every code path is warm before the window opens. The queries
    * run `cores` at a time: a first run is mostly single-threaded planning
    * and code generation.
    */
  override def prepare(rec: Recorder): Unit = {
    val oracle = graft.SparkEntry.oracleSql
    val pool = java.util.concurrent.Executors.newFixedThreadPool(ctx.cores)
    val runs = queries.map { case (name, fn) =>
      pool.submit(() => {
        try { fn(spark, ctx.data).write.mode("overwrite").parquet(s"$checkDir/$name"); None }
        catch { case e: Exception => Some(s"$name failed: ${e.getMessage}") }
      })
    }
    pool.shutdown()
    runs.foreach { r =>
      rec.attempted += 1
      r.get().foreach(msg => rec.check(ok = false, msg))
    }
    val checked = Headline.map(n => n -> oracle.get(n)).toMap
    Files.write(Paths.get(s"$checkDir/oracle.json"), Json(checked).getBytes(UTF_8))
  }

  def unit(rec: Recorder): Unit = {
    val order = new scala.util.Random(ctx.seed * 1000003L + pass).shuffle(queries)
    pass += 1
    order.foreach { case (name, fn) =>
      rec.attempted += 1
      try {
        val (buildMs, execMs) = ctx.tracer.op(name) {
          val (df, b) = Timer.ms(ctx.tracer.span("build", "plans")(fn(spark, ctx.data)))
          val (_, e) = Timer.ms(ctx.tracer.span("execute", "spark") {
            df.write.format("noop").mode("overwrite").save()
          })
          (b, e)
        }
        rec.sample(name, "read", buildMs + execMs)
        rec.call("plans.build_ms", buildMs)
        rec.call("execute_ms", execMs)
        rec.call(s"q.$name.exec_ms", execMs)
      } catch { case e: Exception =>
        rec.check(ok = false, s"$name failed: ${e.getMessage}")
      }
    }
  }

  override def layers(rec: Recorder): Map[String, (Double, String)] = {
    val perQuery = Headline.flatMap { n =>
      rec.calls.get(s"q.$n.exec_ms").map(xs => n -> Stats.median(xs))
    }.toMap
    perQuery.map { case (n, v) => s"q.$n.exec_ms" -> (v, "ms") } ++
      perQuery.groupBy { case (n, _) => family(n) }.map { case (f, qs) =>
        s"family.$f.exec_ms" -> (qs.values.sum, "ms")
      }
  }
}

object Analytics {
  /** The frozen headline list of `graft.Bench`; a test keeps it equal to
    * `graft.tools.PlanDump.headline`.
    */
  val Headline: Seq[String] = Seq(
    "q1_agg", "q_scan_filter", "q_join_star", "q_join_lateral",
    "q_grouping_sets", "q_window_rank", "q_window_exclude",
    "q_tpch3", "q_tpch4", "q_tpch5", "q_tpch6", "q_tpch10",
    "q_tpch13", "q_tpch17", "q_tpch18",
    "q_tpcds_channels", "q_tpcds_rollup_rank",
    "q_dedup_exact", "q_dedup_minhash", "q_dedup_simhash",
    "q_dedup_ngram_capped", "q_dedup_embedding_lsh_wide",
    "q_sim_topk", "q_sim_lsh", "q_sim_ivf",
    "q_corpus_overlap",
    "q_text_stats", "q_text_tfidf", "q_sessionize",
    "q_pipeline_curate", "q_pipeline_train", "q_dedup_incremental",
    "q_cb_funnel", "q_fn_math")

  def family(q: String): String =
    if (q.startsWith("q_tpcds_")) "tpcds"
    else if (q.startsWith("q_tpch")) "tpch"
    else if (q.startsWith("q_dedup_")) "dedup"
    else if (q.startsWith("q_sim_") || q == "q_corpus_overlap") "similarity"
    else if (q.startsWith("q_text_")) "text"
    else if (q.startsWith("q_pipeline_")) "pipeline"
    else if (q.startsWith("q_cb_")) "clickbench"
    else if (q.startsWith("q_fn_")) "fn"
    else "relational"
}

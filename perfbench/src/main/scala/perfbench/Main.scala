package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** What a workload needs: the session, the generated inputs, a scratch
  * directory inside the run's work dir, the seed and the tracer.
  */
final case class Ctx(spark: SparkSession, data: String, work: String,
    seed: Long, cores: Int, tracer: Tracer) {
  def path(name: String): String = s"$data/$name.parquet"
}

/** Timings and check results of one measured window. `cls` groups samples
  * into read, write and tx latencies; `kind` is the operation kind whose
  * medians make up total_s and geomean_ms.
  */
final class Recorder {
  final case class Sample(kind: String, cls: String, ms: Double)
  val samples = mutable.ArrayBuffer.empty[Sample]
  /** Timed calls into one layer, keyed by per-layer metric name. */
  val calls = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0
  var elapsedS = 0.0

  def sample(kind: String, cls: String, ms: Double): Unit =
    samples += Sample(kind, cls, ms)

  def call(metric: String, ms: Double): Unit =
    calls.getOrElseUpdate(metric, mutable.ArrayBuffer.empty) += ms

  def check(ok: Boolean, what: => String): Unit =
    if (!ok) failures += what

  def kindMediansMs: Map[String, Double] =
    samples.groupBy(_.kind).map { case (k, ss) => k -> Stats.median(ss.map(_.ms)) }

  def ms(cls: String): Seq[Double] = samples.filter(_.cls == cls).map(_.ms).toSeq
}

object Timer {
  def ms[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }
}

/** A workload: set-up steps, then a unit of measured work (a pass, a
  * statement block or an ETL cycle) that the window repeats.
  */
abstract class Workload(val ctx: Ctx) {
  def warmup(): Unit
  /** Loads the tables; called three times, the last load is the one used. */
  def load(i: Int): Unit
  /** Runs after set-up and before the window, untimed. */
  def prepare(rec: Recorder): Unit = ()
  def unit(rec: Recorder): Unit
  /** End-to-end metrics only this workload has: name -> (value, unit). */
  def extra(rec: Recorder): Map[String, (Double, String)] = Map.empty
  /** Per-layer metrics only this workload has. */
  def layers(rec: Recorder): Map[String, (Double, String)] = Map.empty
  /** Runs after the windows: the checks that need the final state. */
  def finish(rec: Recorder): Unit = ()
}

/** Benchmark entry: runs one workload and writes its result file.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <dataDir> <workDir> <out.json>
  */
object Main {
  val Loads = 3

  def main(args: Array[String]): Unit = {
    val Array(name, seedS, secondsS, traceS, data, work, out) = args
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sparkStartS = (System.currentTimeMillis() - jvmStart) / 1e3
    val tracer = new Tracer(spark, traceS == "1")
    val ctx = Ctx(spark, data, work, seedS.toLong, cores, tracer)
    val w: Workload = name match {
      case "analytics" => new Analytics(ctx)
      case "lake_oltp" => new LakeOltp(ctx)
      case "lake_etl" => new LakeEtl(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    val (_, warmupMs) = Timer.ms(w.warmup())
    val loadMs = (1 to Loads).map(i => Timer.ms(w.load(i))._2)
    val setupS = sparkStartS + warmupMs / 1e3 + Stats.median(loadMs) / 1e3
    log(f"spark ${sparkStartS}%.1f s, warmup ${warmupMs / 1e3}%.1f s, " +
      f"loads ${loadMs.map(_ / 1e3).mkString(" ")} s")

    val pre = new Recorder
    log(f"prepare ${Timer.ms(w.prepare(pre))._2 / 1e3}%.1f s")
    val seconds = secondsS.toDouble
    // the end-to-end window runs untraced; a traced run then repeats the
    // window with tracing on, and the gap between the two is its overhead
    val plain = window(w, seconds)
    val traced = if (tracer.enabled) {
      tracer.active = true
      val r = window(w, seconds)
      tracer.active = false
      tracer.drain()
      Some(r)
    } else None
    log(f"finish ${Timer.ms(w.finish(traced.getOrElse(plain)))._2 / 1e3}%.1f s")

    val e2e = mutable.LinkedHashMap[String, (Double, String)]()
    e2e("setup_s") = (setupS, "s")
    e2e ++= common(plain)
    e2e ++= w.extra(plain)
    e2e("peak_rss_mb") = (peakRssMb, "MB")
    val recs = Seq(pre, plain) ++ traced
    val failed = recs.map(_.failures.size).sum
    val attempted = recs.map(_.attempted).sum

    val layers = mutable.LinkedHashMap[String, (Double, String)]()
    traced.foreach { t =>
      layers("setup.spark_start_s") = (sparkStartS, "s")
      layers("setup.warmup_s") = (warmupMs / 1e3, "s")
      layers("setup.load_s") = (Stats.median(loadMs) / 1e3, "s")
      layers ++= buildLayer(t)
      layers ++= sparkLayer(t, tracer, cores)
      layers ++= w.layers(t)
      layers("trace.overhead_pct") =
        (100.0 * (totalS(t) / totalS(plain) - 1), "%")
      layers("trace.spans") = (tracer.spanCount.toDouble, "count")
      tracer.selfTimeMs.foreach { case (layer, v) =>
        layers(s"self.$layer.ms") = (v, "ms")
      }
    }

    def metricMap(m: scala.collection.Map[String, (Double, String)]) =
      m.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> name, "seed" -> seedS.toLong,
      "attempted" -> attempted, "failed" -> failed,
      "failures" -> recs.flatMap(_.failures).take(20),
      "end_to_end" -> metricMap(e2e),
      "per_layer" -> metricMap(layers))
    w match {
      case a: Analytics => result("check_dir") = a.checkDir
      case _ => ()
    }
    if (tracer.enabled) result("spans") = tracer.spansJson
    spark.stop()
    Files.write(Paths.get(out), Json(result).getBytes(UTF_8))
  }

  private def window(w: Workload, seconds: Double): Recorder = {
    log(f"settle ${Timer.ms(settle())._2 / 1e3}%.1f s")
    val rec = new Recorder
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    w.ctx.tracer.span("window", "harness") {
      do w.unit(rec) while (elapsed < seconds)
    }
    rec.elapsedS = elapsed
    log(f"window ${rec.elapsedS}%.1f s, ${rec.samples.size} operations")
    rec
  }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** Collects garbage and waits, at most ten seconds, until the JIT has
    * gone quiet, so compilation and garbage left over from set-up do not
    * run inside the window.
    */
  private def settle(): Unit = {
    System.gc()
    val jit = ManagementFactory.getCompilationMXBean
    val deadline = System.nanoTime() + 10000000000L
    var last = jit.getTotalCompilationTime
    var quiet = 0
    while (quiet < 2 && System.nanoTime() < deadline) {
      Thread.sleep(250)
      val now = jit.getTotalCompilationTime
      quiet = if (now - last < 5) quiet + 1 else 0
      last = now
    }
  }

  private def totalS(r: Recorder): Double = r.kindMediansMs.values.sum / 1e3

  /** The end-to-end metrics every workload reports, plus the latency
    * classes the workload has samples for.
    */
  private def common(r: Recorder): Seq[(String, (Double, String))] = {
    val medians = r.kindMediansMs.values
    val base = Seq(
      "total_s" -> (totalS(r), "s"),
      "geomean_ms" -> (Stats.geomean(medians), "ms"),
      "ops_per_s" -> (r.samples.size / r.elapsedS, "1/s"),
      "read_p50_ms" -> (Stats.median(r.ms("read")), "ms"))
    val byClass = Seq("read", "write", "tx").flatMap { cls =>
      val xs = r.ms(cls)
      val p50 = if (cls == "read" || xs.isEmpty) Nil
        else Seq(s"${cls}_p50_ms" -> (Stats.median(xs), "ms"))
      val tail = if (cls == "tx") Nil else Stats.tail(xs).toSeq.flatMap {
        case (v, pct, n) => Seq(s"${cls}_tail_ms" -> (v, "ms"),
          s"${cls}_tail_pct" -> (pct, "%"), s"${cls}_tail_n" -> (n.toDouble, "count"))
      }
      p50 ++ tail
    }
    base ++ byClass
  }

  /** plans: time from the query call to the DataFrame, and its share of
    * the read latency.
    */
  private def buildLayer(r: Recorder): Seq[(String, (Double, String))] = {
    val build = r.calls.getOrElse("plans.build_ms", Nil)
    val exec = r.calls.getOrElse("execute_ms", Nil)
    if (build.isEmpty) Nil
    else Seq("plans.build_ms" -> (Stats.median(build), "ms"),
      "plans.build_share" -> (build.sum / (build.sum + exec.sum), "ratio"))
  }

  /** Spark counters of the traced window: per operation kind the median
    * over that kind's operations, summed over kinds (one operation of
    * each kind), like total_s.
    */
  private def sparkLayer(r: Recorder, tracer: Tracer, cores: Int)
      : Seq[(String, (Double, String))] = {
    val byKind = tracer.opCounters.toSeq.groupBy { case (op, _) => tracer.kindOf(op) }
    def perKind(c: String): Double = byKind.values.map { ops =>
      Stats.median(ops.map(_._2(c).toDouble))
    }.sum
    val all = tracer.opCounters.values
    val cpuS = all.map(_("task_cpu_ns")).sum / 1e9
    val wallS = r.samples.map(_.ms).sum / 1e3
    Seq(
      "spark.task_cpu_s" -> (perKind("task_cpu_ns") / 1e9, "s"),
      "spark.task_run_s" -> (perKind("task_run_ms") / 1e3, "s"),
      "spark.cpu_util" -> (cpuS / (wallS * cores), "ratio"),
      "spark.gc_ms" -> (perKind("gc_ms"), "ms"),
      "spark.fetch_wait_ms" -> (perKind("fetch_wait_ms"), "ms"),
      "spark.jobs" -> (perKind("jobs"), "count"),
      "spark.stages" -> (perKind("stages"), "count"),
      "spark.tasks" -> (perKind("tasks"), "count"),
      "spark.exchanges" -> (perKind("exchanges"), "count"),
      "spark.shuffle_read_bytes" -> (perKind("shuffle_read_bytes"), "B"),
      "spark.shuffle_write_bytes" -> (perKind("shuffle_write_bytes"), "B"),
      "spark.spill_bytes" -> (perKind("spill_bytes"), "B"),
      "spark.input_bytes" -> (perKind("input_bytes"), "B"),
      "spark.output_bytes" -> (perKind("output_bytes"), "B"))
  }

  /** The JVM's peak resident set (VmHWM), in MB. */
  def peakRssMb: Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }
}

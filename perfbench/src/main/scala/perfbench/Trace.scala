package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One recorded span: `layer` names the module whose call it wraps. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    layer: String, startNs: Long, endNs: Long)

/** The benchmark's tracing. Spans are taken from the benchmark's own code
  * at each boundary it crosses (workload, operation, and the build and
  * execute calls into the program) and kept in memory until the run ends.
  * Spark's task, stage and job counters reach the operation that caused
  * them through the job group the operation sets. While `active` is false
  * every call is a plain pass-through; without `enabled` no listener is
  * registered at all.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  var active = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextSpan = 0
  private var currentOp = -1
  private val opKinds = mutable.LinkedHashMap.empty[Int, String]
  private var nextOp = 0

  // counters per operation id, filled from the listener thread
  private val counters = new ConcurrentHashMap[Int, Array[Long]]
  private val stageOp = new ConcurrentHashMap[Int, Int]
  private val planOf = new ConcurrentHashMap[Long, (Int, SparkPlanInfo)]
  private val events = new AtomicLong

  if (enabled) spark.sparkContext.addSparkListener(new Listener)

  /** Runs one operation of kind `kind`; its jobs carry its id. */
  def op[A](kind: String)(body: => A): A = {
    val id = nextOp
    nextOp += 1
    if (!active) return body
    opKinds(id) = kind
    currentOp = id
    spark.sparkContext.setJobGroup(s"op-$id", kind, interruptOnCancel = false)
    try span(kind, "harness")(body)
    finally { spark.sparkContext.clearJobGroup(); currentOp = -1 }
  }

  def span[A](name: String, layer: String)(body: => A): A = {
    if (!active) return body
    val id = nextSpan
    nextSpan += 1
    val parent = if (stack.isEmpty) -1 else stack.top
    stack.push(id)
    val t0 = System.nanoTime()
    try body
    finally {
      stack.pop()
      spans += Span(id, parent, currentOp, name, layer, t0, System.nanoTime())
    }
  }

  /** Per layer, the time its spans cover minus what their children cover. */
  def selfTimeMs: Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val covered = children.getOrElse(s.id, Nil)
          .map(c => c.endNs - c.startNs).sum
        (s.endNs - s.startNs - covered) / 1e6
      }.sum
    }
  }

  def spanCount: Int = spans.length

  /** Waits until the listener has gone quiet, so every event of the run
    * is counted before the counters are read.
    */
  def drain(): Unit = if (enabled) {
    var last = -1L
    var quiet = 0
    val deadline = System.nanoTime() + 5000000000L
    while (quiet < 3 && System.nanoTime() < deadline) {
      Thread.sleep(100)
      val now = events.get
      if (now == last) quiet += 1 else { quiet = 0; last = now }
    }
  }

  /** Counter values per operation id. */
  def opCounters: Map[Int, Map[String, Long]] = {
    val exchanges = planOf.asScala.values.groupBy(_._1).map {
      case (op, plans) => op -> plans.map(p => Tracer.exchanges(p._2)).sum
    }
    opKinds.keys.map { op =>
      val c = Option(counters.get(op)).getOrElse(new Array[Long](Tracer.N))
      op -> (Tracer.Names.zip(c).toMap +
        ("exchanges" -> exchanges.getOrElse(op, 0).toLong))
    }.toMap
  }

  def kindOf(op: Int): String = opKinds(op)

  def spansJson: Seq[Map[String, Any]] = spans.sortBy(_.id).map { s =>
    Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
      "layer" -> s.layer, "start_ns" -> s.startNs, "end_ns" -> s.endNs)
  }.toSeq

  private def opOfGroup(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .collect { case g if g.startsWith("op-") => g.drop(3).toInt }
      .getOrElse(-1)

  private def add(op: Int, i: Int, v: Long): Unit = {
    val c = counters.computeIfAbsent(op, _ => new Array[Long](Tracer.N))
    c.synchronized { c(i) += v }
  }

  private final class Listener extends SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      events.incrementAndGet()
      val op = opOfGroup(j.properties)
      j.stageIds.foreach(stageOp.put(_, op))
      add(op, 0, 1)
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      events.incrementAndGet()
      add(stageOp.getOrDefault(s.stageInfo.stageId, -1), 1, 1)
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      events.incrementAndGet()
      val op = stageOp.getOrDefault(t.stageId, -1)
      val m = t.taskMetrics
      add(op, 2, 1)
      if (m != null) {
        add(op, 3, m.executorCpuTime)
        add(op, 4, m.executorRunTime)
        add(op, 5, m.jvmGCTime)
        add(op, 6, m.shuffleReadMetrics.fetchWaitTime)
        add(op, 7, m.shuffleReadMetrics.totalBytesRead)
        add(op, 8, m.shuffleWriteMetrics.bytesWritten)
        add(op, 9, m.memoryBytesSpilled + m.diskBytesSpilled)
        add(op, 10, m.inputMetrics.bytesRead)
        add(op, 11, m.outputMetrics.bytesWritten)
        add(op, 12, m.inputMetrics.recordsRead)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        events.incrementAndGet()
        val op = s.jobGroupId.collect {
          case g if g.startsWith("op-") => g.drop(3).toInt
        }.getOrElse(-1)
        planOf.put(s.executionId, (op, s.sparkPlanInfo))
      case u: SparkListenerSQLAdaptiveExecutionUpdate =>
        events.incrementAndGet()
        Option(planOf.get(u.executionId)).foreach { case (op, _) =>
          planOf.put(u.executionId, (op, u.sparkPlanInfo))
        }
      case _ => ()
    }
  }
}

object Tracer {
  /** Counter slots; cpu is in ns, run and gc times in ms. */
  val Names: Seq[String] = Seq("jobs", "stages", "tasks", "task_cpu_ns",
    "task_run_ms", "gc_ms", "fetch_wait_ms", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "input_bytes", "output_bytes",
    "records_read")
  val N: Int = Names.length

  /** Exchange operators (shuffle, broadcast, reused) in a plan tree. */
  def exchanges(p: SparkPlanInfo): Int =
    (if (p.nodeName.endsWith("Exchange")) 1 else 0) +
      p.children.map(exchanges).sum
}

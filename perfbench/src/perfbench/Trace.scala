package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange

/** One timed call into the program. `op` groups the spans of one
  * request; `parent` is 0 for a root span. */
final case class Span(op: Long, id: Long, parent: Long, name: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans and counts recorded around the benchmark's calls into the
  * program. Kept in memory; written out when the run ends. Tracing is
  * off unless [[Trace.tracer]] is set, and then [[Trace.span]] is a
  * plain call. */
final class Tracer {
  private val spans = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicLong
  private val stack = new ThreadLocal[List[Long]] { override def initialValue = Nil }
  private val opId = new ThreadLocal[Long] { override def initialValue = 0L }
  private val counts = new java.util.concurrent.ConcurrentHashMap[String, Vector[Double]]

  def op[A](body: => A): A = {
    val prev = opId.get
    opId.set(ids.incrementAndGet())
    try body finally opId.set(prev)
  }

  def span[A](name: String)(body: => A): A = {
    val id = ids.incrementAndGet()
    val parent = stack.get.headOption.getOrElse(0L)
    stack.set(id :: stack.get)
    val t0 = System.nanoTime()
    try body
    finally {
      spans.add(Span(opId.get, id, parent, name, t0, System.nanoTime()))
      stack.set(stack.get.tail)
    }
  }

  /** A count observed at a layer boundary (one value per op). */
  def count(name: String, v: Double): Unit = counts.merge(name, Vector(v), _ ++ _)

  def all: Vector[Span] = spans.asScala.toVector
  def durations(name: String): Vector[Double] = all.filter(_.name == name).map(_.ms)
  def counted(name: String): Vector[Double] = Option(counts.get(name)).getOrElse(Vector.empty)

  /** Self time per span name (ms, summed): a span minus the union of
    * the intervals its children cover. */
  def selfMs: Map[String, Double] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.name).view.mapValues(_.map { s =>
      val cs = kids.getOrElse(s.id, Vector.empty).map(c => (c.startNs, c.endNs)).sortBy(_._1)
      var covered = 0L
      var end = Long.MinValue
      cs.foreach { case (a, b) =>
        val from = math.max(a, end)
        if (b > from) covered += b - from
        end = math.max(end, b)
      }
      ((s.endNs - s.startNs) - covered) / 1e6
    }.sum).toMap
  }

  def write(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try {
      w.write("op\tid\tparent\tname\tstart_ns\tend_ns\n")
      all.sortBy(_.startNs).foreach { s =>
        w.write(s"${s.op}\t${s.id}\t${s.parent}\t${s.name}\t${s.startNs}\t${s.endNs}\n")
      }
    } finally w.close()
  }
}

object Trace {
  @volatile var tracer: Option[Tracer] = None
  def span[A](name: String)(body: => A): A = tracer match {
    case Some(t) => t.span(name)(body)
    case None => body
  }
  def op[A](body: => A): A = tracer match {
    case Some(t) => t.op(body)
    case None => body
  }
  def count(name: String, v: Double): Unit = tracer.foreach(_.count(name, v))

  /** Run `body` with its Spark jobs marked as the traced run's own look
    * inside a request, kept apart from the request's counters. */
  def shadow[A](spark: org.apache.spark.sql.SparkSession)(body: => A): A = {
    val sc = spark.sparkContext
    sc.setLocalProperty("perfbench.shadow", "1")
    try body finally sc.setLocalProperty("perfbench.shadow", null)
  }
}

/** Spark's own counters, from a listener: jobs, stages, tasks, task CPU,
  * GC, input, shuffle write and spill. Work is attributed to the phase
  * the benchmark was in when the job started (`timed` only counts
  * toward per-op figures); jobs a traced run submits to look inside a
  * request carry the local property `perfbench.shadow` and are kept
  * apart, so they never inflate the served request's counters. */
final class SparkCounters extends SparkListener {
  @volatile var phase: String = "setup"
  final class Totals {
    val jobs = new AtomicLong; val stages = new AtomicLong; val tasks = new AtomicLong
    val cpuNs = new AtomicLong; val gcMs = new AtomicLong; val inputBytes = new AtomicLong
    val inputRecords = new AtomicLong; val shuffleWrite = new AtomicLong; val spill = new AtomicLong
  }
  private val totals = new java.util.concurrent.ConcurrentHashMap[String, Totals]
  private val stagePhase = new java.util.concurrent.ConcurrentHashMap[Int, String]
  def of(p: String): Totals = totals.computeIfAbsent(p, _ => new Totals)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val shadow = Option(e.properties).exists(_.getProperty("perfbench.shadow") != null)
    val p = if (shadow) "shadow" else phase
    of(p).jobs.incrementAndGet()
    e.stageIds.foreach(s => stagePhase.put(s, p))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    of(stagePhase.getOrDefault(e.stageInfo.stageId, phase)).stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val t = of(stagePhase.getOrDefault(e.stageId, phase))
    t.tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      t.cpuNs.addAndGet(m.executorCpuTime)
      t.gcMs.addAndGet(m.jvmGCTime)
      t.inputBytes.addAndGet(m.inputMetrics.bytesRead)
      t.inputRecords.addAndGet(m.inputMetrics.recordsRead)
      t.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      t.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Wait until the listener has seen every event posted so far. */
  def drain(sc: SparkContext): Unit = org.apache.spark.perfbench.Bus.drain(sc)

  /** Per-op figures of the `timed` phase over `ops` operations taking
    * `wallS` seconds on `cores` cores. */
  def perOp(ops: Int, wallS: Double, cores: Int): Map[String, Double] = {
    val t = of("timed")
    val n = math.max(ops, 1).toDouble
    Map(
      "spark.jobs_per_op" -> t.jobs.get / n,
      "spark.stages_per_op" -> t.stages.get / n,
      "spark.tasks_per_op" -> t.tasks.get / n,
      "spark.task_cpu_ms_per_op" -> t.cpuNs.get / 1e6 / n,
      "spark.gc_ms_per_op" -> t.gcMs.get / n,
      "spark.cpu_utilization" -> (if (wallS > 0) t.cpuNs.get / 1e9 / (wallS * cores) else 0.0),
      "spark.shuffle_write_bytes_per_op" -> t.shuffleWrite.get / n,
      "spark.spill_bytes_per_op" -> t.spill.get / n,
      "spark.input_rows_per_op" -> t.inputRecords.get / n,
      "spark.input_bytes_per_op" -> t.inputBytes.get / n)
  }
}

/** The executed plan of a frame that has run: node and exchange counts
  * and the file-scan SQLMetrics, through AQE query stages. */
object PlanStats extends AdaptiveSparkPlanHelper {
  final case class Stats(nodes: Int, exchanges: Int, files: Long, bytes: Long, scanRows: Long)

  def of(df: DataFrame): Stats = of(df.queryExecution.executedPlan)

  def of(plan: SparkPlan): Stats = {
    val nodes = collectWithSubqueries(plan) { case p => p }
    val exchanges = nodes.count(_.isInstanceOf[Exchange])
    val scans = nodes.filter(_.nodeName.contains("Scan"))
    def metric(n: String) = scans.flatMap(_.metrics.get(n)).map(_.value).sum
    Stats(nodes.size, exchanges, metric("numFiles"), metric("filesSize"), metric("numOutputRows"))
  }
}

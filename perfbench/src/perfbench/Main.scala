package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, render}

/** What a workload run yields: ops attempted and failed (a wrong answer
  * is a failure), the untraced end-to-end metrics, the traced per-layer
  * metrics, and informational figures printed beside them. */
final case class Outcome(
    attempted: Long,
    failed: Long,
    e2e: Map[String, Double],
    layers: Map[String, Double],
    info: Map[String, Any])

final case class Ctx(
    spark: SparkSession,
    seed: Long,
    seconds: Double,
    traced: Boolean,
    work: Path,
    cores: Int,
    counters: SparkCounters) {
  def rnd(salt: Long): scala.util.Random = new scala.util.Random(seed * 1000003L + salt)
  def dir(name: String): String = {
    val p = work.resolve(name)
    Files.createDirectories(p.getParent)
    p.toString
  }
}

trait Workload {
  def run(ctx: Ctx): Outcome
}

/** `perfbench.Main --workload W --seed N --seconds S --trace 0|1 --work DIR`
  *
  * Runs one workload in this JVM and prints, as its last stdout line,
  * `{"correct", "attempted", "failed", "metrics"}`: the end-to-end
  * metrics untraced, the per-layer metrics traced. The line before it
  * is `{"info": …}` with the session settings, sample counts and the
  * workload's own figures. */
object Main {
  /** End-to-end metrics, reported by every workload (name -> unit). */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "peak_rss_mb" -> "MB", "op_p50_ms" -> "ms",
    "throughput_per_s" -> "1/s", "aux_p50_ms" -> "ms")

  /** Per-layer metrics (name -> unit). A layer a workload does not
    * exercise reports 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "http.overhead_ms" -> "ms", "http.response_bytes" -> "bytes",
    "promql.parse_ms" -> "ms", "promql.plan_ms" -> "ms",
    "spark.optimize_ms" -> "ms", "spark.exec_ms" -> "ms", "spark.plan_nodes" -> "count",
    "spark.exchanges" -> "count", "spark.jobs_per_op" -> "count", "spark.stages_per_op" -> "count",
    "spark.tasks_per_op" -> "count", "spark.task_cpu_ms_per_op" -> "ms", "spark.gc_ms_per_op" -> "ms",
    "spark.cpu_utilization" -> "ratio", "spark.shuffle_write_bytes_per_op" -> "bytes",
    "spark.spill_bytes_per_op" -> "bytes", "spark.input_rows_per_op" -> "count",
    "spark.input_bytes_per_op" -> "bytes",
    "resultjson.render_ms" -> "ms", "resultjson.serialize_ms" -> "ms",
    "resultjson.bytes_per_op" -> "bytes",
    "postings.resolve_ms" -> "ms", "postings.series_matched" -> "count",
    "postings.index_rows_scanned" -> "count",
    "storage.manifest_load_ms" -> "ms", "storage.read_plan_ms" -> "ms",
    "storage.files_read_per_op" -> "count", "storage.bytes_read_per_op" -> "bytes",
    "storage.scan_rows_per_op" -> "count", "storage.rows_returned_per_scanned" -> "ratio",
    "storage.write_ms" -> "ms", "storage.files_per_block" -> "count", "storage.live_blocks" -> "count",
    "storage.plan_compaction_ms" -> "ms", "storage.compact_ms" -> "ms", "storage.delete_ms" -> "ms",
    "storage.vacuum_ms" -> "ms", "storage.maintain_ms" -> "ms",
    "storage.write_amplification" -> "ratio", "storage.bytes_per_sample" -> "bytes",
    "ingest.validate_ms" -> "ms", "ingest.rejected_ratio" -> "ratio",
    "trace.op_p50_ms" -> "ms", "trace.spans" -> "count")

  val Workloads: Map[String, Workload] = Map(
    "dashboard_read" -> DashboardRead,
    "ingest_compact" -> IngestCompact)

  def main(args: Array[String]): Unit = {
    val flags = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = flags("workload")
    val workload = Workloads.getOrElse(name, sys.error(s"unknown workload $name"))
    val traced = flags.getOrElse("trace", "0") == "1"
    val work = Paths.get(flags("work")).toAbsolutePath
    Files.createDirectories(work)
    val cores = Runtime.getRuntime.availableProcessors
    val spark = session(cores, work)
    val counters = new SparkCounters
    spark.sparkContext.addSparkListener(counters)
    val tracer = if (traced) Some(new Tracer) else None
    Trace.tracer = tracer
    val ctx = Ctx(spark, flags("seed").toLong, flags("seconds").toDouble, traced, work, cores, counters)
    val out = try workload.run(ctx) finally spark.stop()
    tracer.foreach(_.write(work.resolve("spans.tsv")))
    val wanted = if (traced) PerLayer else EndToEnd
    val values = if (traced) out.layers else out.e2e
    val missing = wanted.map(_._1).filterNot(values.contains)
    require(traced || missing.isEmpty, s"workload $name did not report ${missing.mkString(", ")}")
    val metrics = JObject(wanted.toList.map { case (m, unit) =>
      m -> JObject("value" -> JDouble(values.getOrElse(m, 0.0)), "unit" -> JString(unit))
    })
    val confs = spark.conf.getAll.filter { case (k, _) =>
      Set("spark.master", "spark.sql.shuffle.partitions", "spark.sql.session.timeZone",
        "spark.ui.enabled", "spark.sql.adaptive.enabled").contains(k)
    }
    val info = out.info ++ Map(
      "workload" -> name, "seed" -> ctx.seed, "traced" -> traced, "cores" -> cores,
      "session" -> confs, "extraOptimizations" -> spark.experimental.extraOptimizations.map(_.ruleName),
      "spans_file" -> (if (traced) work.resolve("spans.tsv").toString else ""),
      "self_ms_by_span" -> tracer.map(_.selfMs).getOrElse(Map.empty))
    println(compact(render(JObject("info" -> Json.of(info)))))
    println(compact(render(JObject(
      "correct" -> JBool(out.failed == 0),
      "attempted" -> JInt(out.attempted),
      "failed" -> JInt(out.failed),
      "metrics" -> metrics))))
    // the API server's handler pool is not daemon threads
    sys.exit(0)
  }

  /** The session exactly as `graft.Main` builds it — `local[nproc]`,
    * shuffle partitions = nproc, UTC, no UI, WARN logging — plus
    * warehouse and scratch directories inside the benchmark's work
    * directory. */
  def session(cores: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

object Json {
  def of(v: Any): JValue = v match {
    case null => JNull
    case j: JValue => j
    case s: String => JString(s)
    case b: Boolean => JBool(b)
    case i: Int => JInt(i)
    case l: Long => JInt(l)
    case d: Double => JDouble(d)
    case m: scala.collection.Map[_, _] => JObject(m.toList.map { case (k, x) => k.toString -> of(x) })
    case s: Iterable[_] => JArray(s.toList.map(of))
    case o => JString(o.toString)
  }
}

/** Progress on stderr, stamped with seconds since the JVM started. */
object Log {
  private val t0 = System.nanoTime()
  def apply(msg: String): Unit =
    System.err.println(s"[perfbench +${Stats.fmt((System.nanoTime() - t0) / 1e9)}s] $msg")
}

/** Timing and summary helpers shared by the workloads. */
object Stats {
  def now(): Long = System.nanoTime()
  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** Linear-interpolated percentile (numpy's default). */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }

  /** Run `build` `n` times and return the last result with the median
    * wall time in seconds: set-up is measured several times per run so
    * its figure is a median, not one cold sample. */
  def setups[A](n: Int)(build: Int => A): (A, Double, Seq[Double]) = {
    var last: Option[A] = None
    val secs = (0 until n).map { i =>
      val t0 = now()
      last = Some(build(i))
      val s = ms(t0) / 1000.0
      Log(s"set-up $i took ${fmt(s)} s")
      s
    }
    (last.get, median(secs), secs)
  }

  def fmt(d: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
}

package perfbench

import java.net.URLEncoder
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.Db
import graft.matchers.{Eq, Matcher}
import graft.query.{Postings, PromQl, ResultJson}

/** `dashboard_read`: `ApiServer` in-process on a loopback port over a
  * compacted 12 h store with no overlapping blocks; a closed loop of
  * `nproc` clients sends a fixed, seeded mix of `query_range`, instant
  * `query`, `series` and `label/<n>/values` requests. Every response is
  * parsed and compared with the generator's closed form. */
object DashboardRead extends Workload {
  val Metrics = 3
  val Jobs = 4
  val Instances = 8
  val Zones = 4
  val Hours = 12
  /** Classic histogram bucket bounds and their cumulative share. */
  val Le = Seq("0.1", "0.5", "1", "5", "+Inf")
  val LeShare = Seq(0.1, 0.35, 0.7, 0.95, 1.0)
  /** `ApiServer`'s fixed handler pool size. */
  val ServerThreads = 8
  /** Budget of the traced run's look inside single requests. */
  val LookInsideS = 25.0

  /** One request: the API path and parameters, and the check of its
    * parsed JSON body (None when correct, else what was wrong). */
  final case class Req(kind: String, path: String, params: Seq[(String, String)],
      check: JsonNode => Option[String]) {
    def promql: Option[(String, Long, Long, Long, Boolean)] = path match {
      case "query_range" =>
        val p = params.toMap
        Some((p("query"), sec(p("start")), sec(p("end")), sec(p("step")), false))
      case "query" =>
        val p = params.toMap
        Some((p("query"), sec(p("time")), sec(p("time")), 60000L, true))
      case _ => None
    }
    private def sec(s: String): Long = (s.toDouble * 1000).round
  }

  final class Data(seed: Long) {
    private val rnd = new scala.util.Random(seed)
    val counters: Vector[Series] = Gen.cartesian(Seq(
      "__name__" -> Gen.names("m_", Metrics), "job" -> Gen.names("job_", Jobs),
      "instance" -> Gen.names("inst_", Instances), "zone" -> Gen.names("z", Zones)), rnd)
    /** Bucket counters: per (job, instance) a seeded rate g, bucket le
      * counting `g · share(le)` per second. */
    val buckets: Vector[Series] = for {
      j <- Gen.names("job_", Jobs).toVector
      i <- Gen.names("inst_", Instances)
      g = 0.5 + rnd.nextInt(1000) / 1000.0
      (le, share) <- Le.zip(LeShare)
    } yield Series(Map("__name__" -> "h_bucket", "job" -> j, "instance" -> i, "le" -> le),
      100.0, g * share)
    val all: Vector[Series] = counters ++ buckets
    val end: Long = Gen.T0 + Hours * Gen.Hour
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val data = new Data(ctx.seed)
    var db: Db = null
    val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    // set-up: the store is built three times (median reported), then
    // served and warmed once with every request kind, answers checked
    val (_, buildS, buildAll) = Stats.setups(3) { i =>
      db = Db.open(spark, ctx.dir(s"dashboard/store$i"))
      // one 12 h block: a fully compacted store
      db.store.write(Gen.frame(spark, data.all, Gen.T0, data.end, 0L))
    }
    val w0 = Stats.now()
    val server = graft.http.ApiServer.start(spark, db, 0)
    val port = server.getAddress.getPort
    // warm-up: every request kind once, as many at a time as the
    // server has handler threads; its answers are checked and count as
    // ops, though not in the latency sample
    val kinds = mix(data, ctx.rnd(100)).distinctBy(_.kind)
    val warmErr = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val warmers = math.min(kinds.size, ServerThreads)
    (0 until warmers).map { c =>
      val t = new Thread(() => kinds.indices.filter(_ % warmers == c).map(kinds).foreach { r =>
        val r0 = Stats.now()
        val (body, err) = send(http, port, r)
        Log(s"warm-up ${r.kind} ${Stats.fmt(Stats.ms(r0))} ms")
        err.orElse(r.check(parse(body))).foreach(e => warmErr.add(s"warm-up ${r.kind}: $e"))
      })
      t.start()
      t
    }.foreach(_.join())
    val warmS = Stats.ms(w0) / 1000.0
    val setupS = buildS + warmS
    val setupAll = buildAll :+ warmS

    // The latency sample is one whole cycle: client c's first `share`
    // requests are the cycle's c-th share, so every run times the same
    // request kinds whatever the seed. Clients keep the load on until
    // the window has passed and every client has its share; the timed
    // phase then closes, and requests still in flight are neither
    // waited for nor recorded.
    final case class Done(client: Int, kind: String, ms: Double, endNs: Long, failed: Boolean,
        bytes: Int, inSample: Boolean)
    val done = new java.util.concurrent.ConcurrentLinkedQueue[Done]
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val share = mix(data, ctx.rnd(100)).size / ctx.cores
    val sampled = new java.util.concurrent.atomic.AtomicInteger
    val started = new java.util.concurrent.atomic.AtomicInteger
    @volatile var closed = false
    ctx.counters.phase = "timed"
    val t0 = Stats.now()
    val deadline = t0 + (ctx.seconds * 1e9).toLong
    val clients = (0 until ctx.cores).map { c =>
      val rnd = ctx.rnd(c)
      val t = new Thread(() => {
        var deck = Iterator.empty[Req]
        var n = 0
        while (!closed) {
          if (!deck.hasNext) {
            val cycle = mix(data, rnd)
            val k = c * share
            deck = (cycle.drop(k) ++ cycle.take(k)).iterator
          }
          val r = deck.next()
          n += 1
          started.incrementAndGet()
          Trace.op {
            val s = Stats.now()
            val (body, err) = try Trace.span("http.request")(send(http, port, r)) catch {
              case e: java.io.IOException => ("", Some(s"request failed: $e"))
            }
            val ms = Stats.ms(s)
            if (!closed) {
              Log(s"${r.kind} ${Stats.fmt(ms)} ms")
              val bad = err.orElse(try r.check(parse(body)) catch {
                case e: Exception => Some(s"unparseable response: ${e.getMessage}")
              })
              bad.foreach(e => errors.add(s"${r.kind}: $e"))
              done.add(Done(c, r.kind, ms, s + (ms * 1e6).toLong, bad.nonEmpty, body.length, n <= share))
            }
          }
          if (n == share) sampled.incrementAndGet()
        }
      })
      t.setDaemon(true)
      t.start()
      t
    }
    while (System.nanoTime() < deadline || sampled.get < ctx.cores) Thread.sleep(5)
    closed = true
    val wallS = Stats.ms(t0) / 1000.0
    ctx.counters.phase = "after"
    ctx.counters.drain(spark.sparkContext)
    // traced: after the timed window, look inside requests one at a time
    // and uncontended — each query kind of a cycle in turn, within a
    // fixed budget — so the in-process split is not skewed by the other
    // clients, and the timed window stays as in an untraced run
    val alone = Vector.newBuilder[(Double, Double)]
    if (ctx.traced) {
      clients.foreach(_.join())
      val budget = Stats.now() + (LookInsideS * 1e9).toLong
      val it = mix(data, ctx.rnd(200)).filter(_.promql.nonEmpty).distinctBy(_.kind).iterator
      while (it.hasNext && Stats.now() < budget) Trace.op {
        val r = it.next()
        def httpMs() = timed(Trace.span("http.request_alone")(send(http, port, r)))
        // each side twice, the faster kept: the difference is small
        // beside one run's noise
        val first = httpMs()
        shadowOf(ctx, db, r).foreach(inside => alone += ((math.min(first, httpMs()), inside)))
      }
    }
    server.stop(0)

    val ds = done.asScala.toVector
    val sample = ds.filter(_.inSample)
    val lat = sample.map(_.ms)
    // each client's share of the cycle over the time it took, summed
    val rps = sample.groupBy(_.client).values.map(xs => xs.size / ((xs.map(_.endNs).max - t0) / 1e9)).sum
    val ranged = sample.filter(d => d.kind.startsWith("range")).map(_.ms)
    val e2e = Map(
      "setup_s" -> setupS,
      "peak_rss_mb" -> Stats.peakRssMb(),
      "op_p50_ms" -> Stats.median(lat),
      "throughput_per_s" -> rps,
      "aux_p50_ms" -> Stats.median(ranged))
    val layers = if (!ctx.traced) Map.empty[String, Double] else {
      val t = Trace.tracer.get
      def med(n: String) = Stats.median(t.durations(n))
      Map(
        "http.overhead_ms" -> Stats.median(alone.result().map { case (h, in) => h - in }),
        "http.response_bytes" -> Stats.median(ds.map(_.bytes.toDouble)),
        "promql.parse_ms" -> med("promql.parse"),
        "promql.plan_ms" -> med("promql.plan"),
        "spark.optimize_ms" -> med("spark.optimize"),
        "spark.exec_ms" -> med("spark.exec"),
        "spark.plan_nodes" -> Stats.median(t.counted("spark.plan_nodes")),
        "spark.exchanges" -> Stats.median(t.counted("spark.exchanges")),
        "postings.resolve_ms" -> med("postings.resolve"),
        "postings.series_matched" -> Stats.median(t.counted("postings.series_matched")),
        "postings.index_rows_scanned" -> Stats.median(t.counted("postings.index_rows_scanned")),
        "storage.manifest_load_ms" -> med("storage.manifest_load"),
        "storage.read_plan_ms" -> med("storage.read_plan"),
        "storage.files_read_per_op" -> Stats.median(t.counted("storage.files_read")),
        "storage.bytes_read_per_op" -> Stats.median(t.counted("storage.bytes_read")),
        "storage.scan_rows_per_op" -> Stats.median(t.counted("storage.scan_rows")),
        "storage.rows_returned_per_scanned" -> Stats.median(t.counted("storage.returned_per_scanned")),
        "resultjson.render_ms" -> Stats.median(t.counted("resultjson.render_ms")),
        "resultjson.serialize_ms" -> Stats.median(t.counted("resultjson.serialize_ms")),
        "resultjson.bytes_per_op" -> Stats.median(t.counted("resultjson.bytes")),
        "trace.op_p50_ms" -> Stats.median(lat),
        "trace.spans" -> t.all.size.toDouble) ++
        ctx.counters.perOp(started.get, wallS, ctx.cores)
    }
    Outcome(kinds.size + ds.size, warmErr.size + ds.count(_.failed), e2e, layers, Map(
      "read_p50_ms" -> Stats.median(lat),
      "read_rps" -> rps, "query_range_p50_ms" -> Stats.median(ranged),
      "samples" -> lat.size, "query_range_samples" -> ranged.size, "requests" -> ds.size,
      "setup_runs_s" -> setupAll, "clients" -> ctx.cores, "loop" -> "closed",
      "series" -> data.all.size, "samples_stored" -> data.all.size.toLong * Hours * 120,
      "errors" -> (warmErr.asScala ++ errors.asScala).take(5).toVector))
  }

  /** GET one request: (body, what went wrong at the HTTP level). */
  private def send(http: HttpClient, port: Int, r: Req): (String, Option[String]) = {
    val q = r.params.map { case (k, v) => s"$k=${URLEncoder.encode(v, UTF_8)}" }.mkString("&")
    val uri = java.net.URI.create(s"http://127.0.0.1:$port/api/v1/${r.path}" + (if (q.isEmpty) "" else s"?$q"))
    val resp = http.send(HttpRequest.newBuilder(uri).GET().build(), HttpResponse.BodyHandlers.ofString())
    val err = if (resp.statusCode != 200) Some(s"HTTP ${resp.statusCode}: ${resp.body.take(200)}") else None
    (resp.body, err)
  }

  private val mapper = new ObjectMapper()
  private def parse(body: String): JsonNode = mapper.readTree(body)

  /** The traced run's look inside one request: the same query evaluated
    * in-process, split into parse, plan, optimize, execute and render,
    * JSON building on its own, then the store side of its first
    * selector. Returns the faster of two in-process plan + render runs,
    * the work the API handler does for the request. */
  private def shadowOf(ctx: Ctx, db: Db, r: Req): Option[Double] = r.promql.map {
    case (q, start, end, step, instant) => Trace.shadow(ctx.spark) {
      val t = Trace.tracer.get
      val ast = Trace.span("promql.parse")(PromQl.parse(q))
      val df = Trace.span("promql.plan")(db.promql(q, start, end, step))
      val plan = Trace.span("spark.optimize")(df.queryExecution.executedPlan)
      val ps = PlanStats.of(plan)
      t.count("spark.plan_nodes", ps.nodes)
      t.count("spark.exchanges", ps.exchanges)
      Trace.span("spark.exec")(
        db.promql(q, start, end, step).write.format("noop").mode("overwrite").save())
      // what the handler does, twice: plan, then render (which executes)
      def handled(): (String, Double, Double) = {
        val t0 = Stats.now()
        val frame = db.promql(q, start, end, step)
        val (json, renderMs) = timedV(Trace.span("resultjson.render")(ResultJson.render(frame, instant)))
        (json, renderMs, Stats.ms(t0))
      }
      val (json, render1, handled1) = handled()
      val (_, render2, handled2) = handled()
      // JSON building alone: render over the collected rows as a local
      // frame, minus draining that frame the way render does
      val rows = db.promql(q, start, end, step).select("series_key", "labels", "t", "v")
      val local = ctx.spark.createDataFrame(java.util.Arrays.asList(rows.collect(): _*), rows.schema)
      val buildMs = timed(ResultJson.render(local, instant))
      val drainMs = timed {
        val it = local.orderBy("series_key", "t").toLocalIterator()
        while (it.hasNext) it.next()
      }
      t.count("resultjson.serialize_ms", buildMs - drainMs)
      t.count("resultjson.bytes", json.length)
      val (mint, maxt) = PromQl.scanBoundsMs(q, start, end, 300000L)
      selectors(ast).headOption.foreach(sel => storeSide(ctx, db, sel, mint, maxt))
      t.count("resultjson.render_ms", math.min(render1, render2))
      math.min(handled1, handled2)
    }
  }

  /** The matcher sets of every selector in a parsed query. */
  private def selectors(e: Any): Seq[Seq[Matcher]] = e match {
    case s: PromQl.Selector => Seq(s.name.map(Eq("__name__", _)).toSeq ++ s.matchers)
    case p: Product => p.productIterator.toSeq.flatMap(selectors)
    case xs: Iterable[_] => xs.toSeq.flatMap(selectors)
    case _ => Nil
  }

  /** What `Db.promql` asks of the store for one selector, timed and
    * counted: manifest load, postings resolution, read planning, and
    * the read itself with its scan metrics. */
  private def storeSide(ctx: Ctx, db: Db, ms: Seq[Matcher], mint: Long, maxt: Long): Unit = {
    val spark = ctx.spark
    val t = Trace.tracer.get
    Trace.span("storage.manifest_load")(db.store.manifest)
    Trace.span("postings.resolve") {
      import spark.implicits._
      val idx = db.store.postingsIndex(spark)
      // the store adds the label-less series when a matcher matches ""
      val extra = if (ms.exists(_.matchesValue(""))) Seq("{}").toDF("series_key")
        else idx.select("series_key").limit(0)
      t.count("postings.series_matched", Postings.seriesFor(idx, extra, ms).count().toDouble)
      t.count("postings.index_rows_scanned", idx.count().toDouble)
    }
    val df = Trace.span("storage.read_plan") {
      val d = db.query(mint, maxt, withLabels = true, ms: _*)
      d.queryExecution.executedPlan
      d
    }
    val rows = Trace.span("storage.read")(df.collect().length)
    val ps = PlanStats.of(df)
    t.count("storage.files_read", ps.files.toDouble)
    t.count("storage.bytes_read", ps.bytes.toDouble)
    t.count("storage.scan_rows", ps.scanRows.toDouble)
    t.count("storage.returned_per_scanned", if (ps.scanRows == 0) 0.0 else rows.toDouble / ps.scanRows)
  }

  private def timed(body: => Any): Double = { val t0 = Stats.now(); body; Stats.ms(t0) }
  private def timedV[A](body: => A): (A, Double) = { val t0 = Stats.now(); val a = body; (a, Stats.ms(t0)) }

  // ---- the request mix and its closed forms ----

  private def s(ms: Long): String = java.math.BigDecimal.valueOf(ms, 3).toPlainString

  /** One cycle of the fixed mix: 8 requests in a fixed kind order,
    * parameters drawn from `rnd`. */
  def mix(d: Data, rnd: scala.util.Random): Vector[Req] = {
    def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.size))
    def metric = pick(Gen.names("m_", Metrics))
    def job = pick(Gen.names("job_", Jobs))
    def window(): (Long, Long, Long) = {
      val start = Gen.T0 + Gen.Hour + rnd.nextInt((Hours - 2) * 60) * 60000L
      (start, start + Gen.Hour, pick(Seq(15000L, 30000L, 60000L)))
    }
    def ranged(kind: String, q: String, w: (Long, Long, Long),
        expect: Map[Map[String, String], Long => Double]) =
      Req(kind, "query_range", Seq("query" -> q, "start" -> s(w._1), "end" -> s(w._2), "step" -> s(w._3)),
        j => checkMatrix(j, w, expect))
    def of(m: String) = d.counters.filter(_.labels("__name__") == m)
    def rateBy(ss: Seq[Series], by: Seq[String]): Map[Map[String, String], Long => Double] =
      ss.groupBy(_.labels.filter { case (k, _) => by.contains(k) })
        .map { case (g, xs) => g -> { val v = xs.map(_.slope).sum; (_: Long) => v } }
    def last(x: Series)(t: Long): Double =
      x.at(Gen.T0 + math.floorDiv(t - Gen.T0, Gen.ScrapeMs) * Gen.ScrapeMs)
    val reqs = Vector.newBuilder[Req]
    locally {
      val m = metric
      val zs = rnd.shuffle(Gen.names("z", Zones).toVector).take(2).sorted
      reqs += ranged("range_sum_by_rate_regex", s"""sum by (job) (rate($m{zone=~"${zs.mkString("|")}"}[5m]))""",
        window(), rateBy(of(m).filter(x => zs.contains(x.labels("zone"))), Seq("job")))
    }
    locally {
      val m = metric; val z = pick(Gen.names("z", Zones))
      val all = of(m).map(_.slope).sum
      val part = of(m).filter(_.labels("zone") == z).map(_.slope).sum
      reqs += ranged("range_ratio", s"""sum(rate($m{zone="$z"}[5m])) / sum(rate($m[5m]))""", window(),
        Map(Map.empty[String, String] -> ((_: Long) => part / all)))
    }
    locally {
      val m = metric; val j = job
      val top = of(m).filter(_.labels("job") == j).sortBy(-_.slope).take(3)
      reqs += ranged("range_topk", s"""topk(3, rate($m{job="$j"}[5m]))""", window(),
        top.map(x => (x.labels - "__name__") -> ((_: Long) => x.slope)).toMap)
    }
    locally {
      val j = job; val q = pick(Seq(0.5, 0.9, 0.99))
      val cum = Le.indices.map(b => d.buckets.filter(x => x.labels("job") == j && x.labels("le") == Le(b))
        .map(_.slope).sum)
      reqs += ranged("range_histogram_quantile",
        s"""histogram_quantile($q, sum by (le) (rate(h_bucket{job="$j"}[5m])))""", window(),
        Map(Map.empty[String, String] -> ((_: Long) => bucketQuantile(q, cum))))
    }
    locally {
      val m = metric
      val zoom = (Gen.T0 + 10 * 60000L, d.end - 60000L, 300000L)
      reqs += ranged("range_zoom_out_12h", s"sum by (job) (rate($m[5m]))", zoom, rateBy(of(m), Seq("job")))
    }
    locally {
      val m = metric
      val t = Gen.T0 + Gen.Hour + rnd.nextInt((Hours - 2) * 3600) * 1000L
      // a counter's maximum over the window is its last sample
      val expect = of(m).groupBy(x => Map("zone" -> x.labels("zone")))
        .map { case (g, xs) => g -> xs.map(x => last(x)(t)).sum }
      reqs += Req("instant_max_over_time", "query",
        Seq("query" -> s"sum by (zone) (max_over_time($m[10m]))", "time" -> s(t)),
        j => checkVector(j, t, expect))
    }
    locally {
      val m = metric; val j = job
      val want = of(m).filter(_.labels("job") == j).map(_.labels).toSet
      reqs += Req("series", "series", Seq("match[]" -> s"""$m{job="$j"}""",
        "start" -> s(Gen.T0), "end" -> s(d.end)), js => {
        val got = js.get("data").elements().asScala.map(labelsOf).toSet
        status(js).orElse(if (got == want) None else Some(s"${got.size} series, want ${want.size}"))
      })
    }
    reqs += Req("label_values", "label/job/values", Nil, js => {
      val got = js.get("data").elements().asScala.map(_.asText).toVector
      status(js).orElse(if (got == Gen.names("job_", Jobs).sorted) None else Some(s"values $got"))
    })
    // ordered so each client's share of the cycle (two requests) costs
    // about the same
    val built = reqs.result()
    Vector(1, 7, 3, 6, 4, 5, 2, 0).map(built)
  }

  /** Prometheus' classic `histogram_quantile` over cumulative rates. */
  def bucketQuantile(q: Double, cum: Seq[Double]): Double = {
    val rank = q * cum.last
    val b = cum.indexWhere(_ >= rank)
    if (b == cum.size - 1) Le(cum.size - 2).toDouble
    else {
      val (lo, below) = if (b == 0) (0.0, 0.0) else (Le(b - 1).toDouble, cum(b - 1))
      lo + (Le(b).toDouble - lo) * (rank - below) / (cum(b) - below)
    }
  }

  private def status(j: JsonNode): Option[String] =
    if (j.path("status").asText == "success") None else Some(s"status ${j.path("status").asText}")

  private def labelsOf(n: JsonNode): Map[String, String] =
    n.properties().asScala.map(e => e.getKey -> e.getValue.asText).toMap

  private def checkMatrix(j: JsonNode, w: (Long, Long, Long),
      expect: Map[Map[String, String], Long => Double]): Option[String] = status(j).orElse {
    val (start, end, step) = w
    val anchors = Iterator.iterate(start)(_ + step).takeWhile(_ <= end).toVector
    val res = j.path("data").path("result").elements().asScala.toVector
    if (j.path("data").path("resultType").asText != "matrix") Some("resultType is not matrix")
    else if (res.size != expect.size) Some(s"${res.size} series, want ${expect.size}")
    else res.iterator.map { r =>
      val ls = labelsOf(r.path("metric"))
      expect.get(ls) match {
        case None => Some(s"unexpected series $ls")
        case Some(f) =>
          val pts = r.path("values").elements().asScala.map(p =>
            ((p.get(0).asDouble * 1000).round, p.get(1).asText.toDouble)).toVector
          if (pts.map(_._1) != anchors) Some(s"$ls: ${pts.size} points, want ${anchors.size}")
          else pts.collectFirst { case (t, v) if !Check.close(v, f(t)) => s"$ls at $t: $v, want ${f(t)}" }
      }
    }.collectFirst { case Some(e) => e }
  }

  private def checkVector(j: JsonNode, t: Long, expect: Map[Map[String, String], Double]): Option[String] =
    status(j).orElse {
      val res = j.path("data").path("result").elements().asScala.toVector
      if (j.path("data").path("resultType").asText != "vector") Some("resultType is not vector")
      else if (res.size != expect.size) Some(s"${res.size} series, want ${expect.size}")
      else res.iterator.map { r =>
        val ls = labelsOf(r.path("metric"))
        val tv = r.path("value")
        val (rt, v) = ((tv.get(0).asDouble * 1000).round, tv.get(1).asText.toDouble)
        expect.get(ls) match {
          case None => Some(s"unexpected series $ls")
          case Some(want) if rt != t || !Check.close(v, want) => Some(s"$ls: ($rt, $v), want ($t, $want)")
          case _ => None
        }
      }.collectFirst { case Some(e) => e }
    }
}

package perfbench

import graft.Db
import graft.matchers.Eq
import graft.storage.Compaction

/** `ingest_compact`: one writer appends scrape batches for every series
  * through `Db.appender().add(..).commit()`; after each commit a `seek`
  * probe must see the newest sample. Each cycle of commits ends with a
  * seeded `Db.delete` and a `Db.maintain()`, often enough for the
  * planner to compact (ranges and the >5% tombstone trigger) several
  * times a run. At the end the whole store is read back and checked. */
object IngestCompact extends Workload {
  val Hosts = 50
  val Shards = 10
  val BlockRangeMs = 60000L
  val ScrapesPerCommit = 2
  val HistoryMin = 12
  /** One cycle: this many commits (one 1 min block each), then a delete
    * and a maintain. The timed loop runs whole periods of
    * `CyclesPerPeriod` cycles, at least one: a period writes 9 min, the
    * largest compaction range, so every run goes through the same
    * schedule of compactions and the same mix whatever the seed. */
  val CommitsPerCycle = 3
  val CyclesPerPeriod = 3
  val LateSeries = 5

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val series = Gen.cartesian(Seq("__name__" -> Seq("ingest_m"),
      "host" -> Gen.names("h", Hosts), "shard" -> Gen.names("s", Shards)), ctx.rnd(1))
    def shard(s: String) = series.filter(_.labels("shard") == s).map(_.key)
    val ranges = Compaction.exponentialRanges(BlockRangeMs, 3)
    var db: Db = null
    var truth: Truth = null
    var next = 0L
    var setupFailed = 0
    // set-up: 12 min of history as one block (what compaction leaves),
    // then one warm commit, a delete of one series (under the planner's
    // 5% tombstone trigger, so set-up compacts nothing) and a maintain
    val (_, setupS, setupAll) = Stats.setups(3) { rep =>
      db = Db.open(spark, ctx.dir(s"ingest/store$rep"), Db.Options(blockRangeMs = BlockRangeMs))
      truth = new Truth(series)
      next = Gen.T0 + HistoryMin * 60000L
      db.store.write(Gen.frame(spark, series, Gen.T0, next, 0L))
      truth.wrote(Gen.T0, next)
      if (!commit(ctx, db, truth, series, next, 1L << 40)._1) setupFailed += 1
      next += ScrapesPerCommit * Gen.ScrapeMs
      db.delete(Gen.T0, Gen.T0 + 60000L, Eq("host", "h0"), Eq("shard", "s0"))
      truth.deleted(series.filter(x => x.labels("host") == "h0" && x.labels("shard") == "s0").map(_.key),
        Gen.T0, Gen.T0 + 60000L)
      db.maintain()
    }
    val committedBytes0 = db.blocks.map(_.bytes).sum

    val rnd = ctx.rnd(2)
    final case class Step(kind: String, ms: Double, failed: Boolean)
    val steps = Vector.newBuilder[Step]
    val visible = Vector.newBuilder[Double]
    val maintains = Vector.newBuilder[Double]
    val errors = Vector.newBuilder[String]
    var accepted = 0L
    var commitBytes = 0L
    var compactBytes = 0L
    var compactions = 0
    var deletes = 0
    ctx.counters.phase = "timed"
    val t0 = Stats.now()
    val deadline = t0 + (ctx.seconds * 1e9).toLong
    var n = 0
    var cycles = 0
    while (cycles == 0 || cycles % CyclesPerPeriod != 0 || System.nanoTime() < deadline) {
      cycles += 1
      for (_ <- 0 until CommitsPerCycle) Trace.op {
        n += 1
        val before = db.blocks.map(_.blockId).toSet
        val (ok, s, commitMs) = commit(ctx, db, truth, series, next, (n.toLong + 1) << 40)
        val newest = next + (ScrapesPerCommit - 1) * Gen.ScrapeMs
        val x = series(rnd.nextInt(series.size))
        val seen = Trace.span("storage.seek")(db.seek(x.labels, newest, newest).collect())
        val visibleMs = Stats.ms(s)
        val bad = if (!ok) Some("commit did not accept exactly the on-time samples")
          else if (seen.length != 1 || !Check.close(seen(0).getAs[Double]("v"), x.at(newest)))
            Some(s"probe of ${x.key} at $newest saw ${seen.map(_.getAs[Double]("v")).mkString(",")}")
          else None
        bad.foreach(errors += _)
        Log(s"commit ${Stats.fmt(commitMs)} ms, visible ${Stats.fmt(visibleMs)} ms")
        steps += Step("commit", commitMs, bad.nonEmpty)
        visible += visibleMs
        commitBytes += db.blocks.filterNot(b => before(b.blockId)).map(_.bytes).sum
        accepted += series.size * ScrapesPerCommit
        next += ScrapesPerCommit * Gen.ScrapeMs
      }
      Trace.op {
        // a past window of one shard inside the history block, so the
        // compaction schedule is the same wherever the seed puts it
        val sh = s"s${rnd.nextInt(Shards)}"
        val a = Gen.T0 + rnd.nextInt(HistoryMin - 2) * 60000L
        val s = Stats.now()
        Trace.span("storage.delete")(db.delete(a, a + 2 * 60000L, Eq("shard", sh)))
        truth.deleted(shard(sh), a, a + 2 * 60000L)
        steps += Step("delete", Stats.ms(s), false)
        deletes += 1
      }
      Trace.op {
        val before = db.blocks.map(_.blockId).toSet
        val s = Stats.now()
        val passes = maintain(ctx, db, ranges)
        val ms = Stats.ms(s)
        Log(s"maintain ${Stats.fmt(ms)} ms, $passes passes")
        steps += Step("maintain", ms, false)
        if (passes > 0) {
          maintains += ms
          compactions += passes
          compactBytes += db.blocks.filterNot(b => before(b.blockId)).map(_.bytes).sum
        }
      }
    }
    val wallS = Stats.ms(t0) / 1000.0
    ctx.counters.phase = "after"
    ctx.counters.drain(spark.sparkContext)

    // final maintain, then the whole store read back against the closed form
    db.maintain()
    val end = next - 1
    val want = truth.checksum(Gen.T0, end)
    val got = Checksum.of(db.query(Gen.T0, end))
    val finalOk = got.matches(want)
    if (!finalOk) errors += s"final read-back $got, want $want"
    val liveSamples = got.n
    val liveBytes = db.blocks.map(_.bytes).sum

    val ss = steps.result()
    val commits = ss.filter(_.kind == "commit").map(_.ms)
    val vis = visible.result()
    val e2e = Map(
      "setup_s" -> setupS,
      "peak_rss_mb" -> Stats.peakRssMb(),
      "op_p50_ms" -> Stats.median(commits),
      "throughput_per_s" -> accepted / wallS,
      "aux_p50_ms" -> Stats.median(vis))
    val ms = maintains.result()
    val layers = if (!ctx.traced) Map.empty[String, Double] else {
      val t = Trace.tracer.get
      def med(n: String) = Stats.median(t.durations(n))
      val blockDirs = db.blocks.map(b => java.nio.file.Paths.get(db.store.dataDir, s"block_id=${b.blockId}"))
      val files = blockDirs.map { d =>
        val s = java.nio.file.Files.walk(d)
        try s.filter(p => p.toString.endsWith(".parquet")).count() finally s.close()
      }
      Map(
        "ingest.validate_ms" -> med("ingest.validate"),
        "ingest.rejected_ratio" -> Stats.median(t.counted("ingest.rejected_ratio")),
        "storage.write_ms" -> Stats.median(t.counted("storage.write_ms")),
        "storage.files_per_block" -> (if (files.isEmpty) 0.0 else files.sum.toDouble / files.size),
        "storage.live_blocks" -> db.blocks.size.toDouble,
        "storage.plan_compaction_ms" -> med("storage.plan_compaction"),
        "storage.compact_ms" -> med("storage.compact"),
        "storage.delete_ms" -> med("storage.delete"),
        "storage.vacuum_ms" -> med("storage.vacuum"),
        "storage.maintain_ms" -> Stats.median(ms),
        "storage.write_amplification" -> (commitBytes + compactBytes).toDouble / math.max(commitBytes, 1L),
        "storage.bytes_per_sample" -> liveBytes.toDouble / math.max(liveSamples, 1L),
        "spark.exec_ms" -> med("storage.seek"),
        "trace.op_p50_ms" -> Stats.median(commits),
        "trace.spans" -> t.all.size.toDouble) ++
        ctx.counters.perOp(ss.size, wallS, ctx.cores)
    }
    // the three set-up commits and the final read-back count as ops too
    Outcome(3 + ss.size + 1, setupFailed + ss.count(_.failed) + (if (finalOk) 0 else 1), e2e, layers, Map(
      "commit_p50_ms" -> Stats.median(commits), "commit_p90_ms" -> Stats.pct(commits, 0.9),
      "ingest_samples_per_s" -> accepted / wallS, "visible_p50_ms" -> Stats.median(vis),
      "maintain_p50_ms" -> Stats.median(ms), "maintain_passes_that_compacted" -> ms.size,
      "compactions" -> compactions, "deletes" -> deletes,
      "bytes_per_sample" -> liveBytes.toDouble / math.max(liveSamples, 1L),
      "write_amplification" -> (commitBytes + compactBytes).toDouble / math.max(commitBytes, 1L),
      "commits" -> commits.size, "samples_per_commit" -> series.size * ScrapesPerCommit,
      "setup_runs_s" -> setupAll, "clients" -> 1, "loop" -> "closed",
      "series" -> series.size, "live_blocks" -> db.blocks.size, "history_bytes" -> committedBytes0,
      "errors" -> errors.result().take(5)))
  }

  /** Append `ScrapesPerCommit` scrapes of every series from `from` in one
    * transaction: (exactly the on-time samples were accepted, commit
    * start, commit ms). Traced, the batch is also validated to a noop
    * sink, so validation and the block write can be told apart. */
  private def commit(ctx: Ctx, db: Db, truth: Truth, series: Vector[Series], from: Long,
      idBase: Long): (Boolean, Long, Double) = {
    val until = from + ScrapesPerCommit * Gen.ScrapeMs
    // plus a late scrape of a few series from 10 min ago, below the
    // store's lower bound: the appender must reject exactly those
    val late = from - 10 * 60000L
    val batch = Gen.frame(ctx.spark, series, from, until, idBase)
      .unionByName(Gen.frame(ctx.spark, series.take(LateSeries), late, late + Gen.ScrapeMs, idBase + (1L << 39)))
      .drop("sample_id")
    val before = db.blocks.map(_.numSamples).sum
    val validateMs = Trace.tracer.map(t => Trace.shadow(ctx.spark) {
      val s = Stats.now()
      val v = Trace.span("ingest.validate") {
        val v = graft.ingest.Appender.validate(batch, db.store.minValidTime).cache()
        v.write.format("noop").mode("overwrite").save()
        v
      }
      val ms = Stats.ms(s)
      t.count("ingest.rejected_ratio", v.where("status != 'ok'").count().toDouble / v.count())
      v.unpersist()
      ms
    })
    val s = Stats.now()
    Trace.span("ingest.commit")(db.appender().add(batch).commit())
    val ms = Stats.ms(s)
    validateMs.foreach(v => Trace.count("storage.write_ms", ms - v))
    truth.wrote(from, until)
    (db.blocks.map(_.numSamples).sum - before == series.size * ScrapesPerCommit, s, ms)
  }

  /** `Db.maintain()`; traced, the same pass through the store's public
    * planner, compactor and vacuum, each timed (no retention is set, so
    * `maintain` applies none either). */
  private def maintain(ctx: Ctx, db: Db, ranges: Seq[Long]): Int = Trace.tracer match {
    case None => db.maintain()
    case Some(_) =>
      var passes = 0
      var plan = Trace.span("storage.plan_compaction")(db.store.planCompaction(ranges))
      var guard = db.blocks.size
      while (plan.nonEmpty && guard > 0) {
        Trace.span("storage.compact")(db.store.compact(ctx.spark, plan))
        passes += 1
        guard -= 1
        plan = Trace.span("storage.plan_compaction")(db.store.planCompaction(ranges))
      }
      Trace.span("storage.vacuum")(db.store.vacuum())
      passes
  }
}

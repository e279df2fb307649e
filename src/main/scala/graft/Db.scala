package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ingest.Appender
import graft.matchers.Matcher
import graft.storage.{BlockMeta, BlockStore, Compaction, SeriesCatalog}
import graft.streaming.StreamingIngest

/** The top-level handle — the reference's `tsdb.Open`/`DB` surface
  * (`db.go:213-318`) as one object tying the pieces together, so a
  * reference user maps their call sites one-for-one:
  *
  * | reference (`db.go`)        | here                                  |
  * |----------------------------|---------------------------------------|
  * | `Open(dir, …)`             | `Db.open(spark, dir, opts)`           |
  * | `db.Appender()`            | [[appender]] (txn: add/commit/rollback) |
  * | `db.Querier(mint, maxt)`   | [[query]] (matcher select, one call)  |
  * | `LabelNames/LabelValues`   | [[labelNames]] / [[labelValues]]      |
  * | `db.Delete(mint,maxt,ms…)` | [[delete]]                            |
  * | `db.Blocks()`              | [[blocks]]                            |
  * | `db.Snapshot(dir)`         | [[snapshot]]                          |
  * | `db.CleanTombstones()`     | [[cleanTombstones]]                   |
  * | background compactor tick  | [[maintain]] (one explicit pass)      |
  * | `db.Close()`               | nothing to close — state is on disk   |
  *
  * One deliberate divergence: the reference runs compaction on an
  * internal goroutine loop (`db.go:324-361`). A Spark deployment owns
  * its own scheduling (Airflow/cron/stream trigger), so background work
  * is an explicit idempotent [[maintain]] pass the scheduler calls —
  * same state machine, externally clocked. Streaming ingest is
  * [[graft.streaming.StreamingIngest.ingest]] against [[store]].
  */
final class Db private[graft] (
    val store: BlockStore,
    spark: SparkSession,
    compactionRanges: Seq[Long],
    retentionMs: Long,
    retentionBytes: Long) {

  /** Open an append transaction (`db.Appender()`, `db.go:89-112`).
    * The default lower bound is the store's head-init semantics
    * ([[BlockStore.minValidTime]], `db.go:514-519`): samples at
    * timestamps a live block already covers are rejected as
    * out-of-bounds. Pass an explicit bound (e.g. `Long.MinValue`) for
    * deliberate backfill writes into covered ranges. */
  def appender(minValidTime: Long = store.minValidTime): Appender.Txn =
    Appender.txn(store, minValidTime)

  /** Matcher select over a closed time range — the `Querier(mint,
    * maxt).Select(ms…)` round trip in one call. Matchers never run on
    * sample rows: they resolve against the store's series catalog on
    * the driver (or, above its gate, in the postings index) and the
    * scan reads only the matched series ([[BlockStore.readRange]]). */
  def query(mint: Long, maxt: Long, matchers: Matcher*): DataFrame =
    store.readRange(spark, mint, maxt, matchers: _*)

  /** [[query]] with each series' label map attached — the reference's
    * `Series.Labels()` (`querier.go:50-57`); the map comes from the
    * series catalog (or one pivot of the postings index), not from
    * sample rows. */
  def query(mint: Long, maxt: Long, withLabels: Boolean, matchers: Matcher*): DataFrame =
    store.readRange(spark, mint, maxt, withLabels, matchers: _*)

  /** Point lookup of one series by its FULL label set over a closed
    * range — the dashboard-panel seek shape (`querier_test.go:
    * 1555-1644`): canonical key computed driver-side, literal-equality
    * scan, no index touch ([[BlockStore.seek]]). */
  def seek(labels: Map[String, String], mint: Long, maxt: Long): DataFrame =
    store.seek(spark, labels, mint, maxt)

  def labelNames(): DataFrame = store.labelNames(spark)
  def labelValues(name: String): DataFrame = store.labelValues(spark, name)

  /** Record deletion intervals for matching series (`db.go:1203-1232`). */
  def delete(mint: Long, maxt: Long, matchers: Matcher*): Unit =
    store.delete(spark, mint, maxt, matchers: _*)

  /** Apply pending tombstones physically NOW, without waiting for the
    * compaction plan's >5% trigger — the reference's explicit
    * `db.CleanTombstones()` (`db.go:1234-1261`). Returns the rewritten
    * block ids. [[maintain]] subsumes this for scheduled maintenance. */
  def cleanTombstones(): Seq[Long] = store.cleanTombstones(spark)

  /** Live block metas, mint-ordered (`db.Blocks()`). */
  def blocks: Seq[BlockMeta] = store.manifest.blocks.sortBy(_.mint)

  /** One maintenance pass — what the reference's background loop does
    * per tick (`db.go:324-361`): compact to a fixpoint (overlap runs
    * first, then range ladder, then tombstone-heavy blocks), apply
    * retention, reclaim disk. Idempotent; returns the compactions run.
    * Callers clock it (per micro-batch, per cron tick). */
  def maintain(): Int = {
    var passes = 0
    var plan = store.planCompaction(compactionRanges)
    // fixpoint with a hard bound: each compaction strictly reduces the
    // block count, so #blocks passes is a terminating worst case
    var guard = store.manifest.blocks.size
    while (plan.nonEmpty && guard > 0) {
      store.compact(spark, plan)
      passes += 1
      guard -= 1
      plan = store.planCompaction(compactionRanges)
    }
    if (retentionMs > 0 || retentionBytes > 0)
      store.applyRetention(retentionMs, retentionBytes)
    store.vacuum()
    passes
  }

  /** The optional native-histogram channel: a samples frame
    * `(series_key, labels, t, h)` ([[graft.query.PromQl.HistType]]
    * structs — `NativeHistogram.observe`+pack or the streaming observe
    * produce one) that [[promql]] unions onto every read, activating
    * the PromQL corridor and the HTTP API's histogram envelope. This is
    * the serving seam until store-native histogram chunks land: the
    * float store's layout, pushdown and lifecycle stay untouched. */
  @volatile private var histChannel: Option[DataFrame] = None
  def registerHistograms(frame: DataFrame): Unit =
    histChannel = Some(frame.select("series_key", "labels", "t", "h"))

  /** Evaluate a PromQL range query over this store — the full language
    * front-end ([[graft.query.PromQl]]) on the label-carrying read path.
    * Each selector reads through [[BlockStore.readRange]]: within the
    * store's series-catalog gate its matchers resolve on the driver,
    * the fact scan carries the matched keys, and the selector's labels
    * dimension is a local relation of the catalog — one fact scan per
    * selector and no index scan. Above the gate, selectors resolve in
    * the postings index and label dims derive from the reads.
    * `nameLabel` defaults to `__name__`, the Prometheus convention. */
  def promql(
      query: String,
      startMs: Long,
      endMs: Long,
      stepMs: Long,
      lookbackMs: Long = 300000L,
      nameLabel: String = "__name__",
      /** `false` skips the final global (series_key, t) sort — the
        * orderBy's range-partitioner bounds-sampling job re-executes
        * the compiled lineage once, a ~2× tax no RELATIONAL consumer
        * needs (joins, aggregates, correctness compares); serving
        * surfaces keep the sorted default. */
      ordered: Boolean = true): DataFrame = {
    // bound the scan to exactly what the expression can reach —
    // lookbacks/ranges/offsets behind the window AND any @-pinned
    // absolute instants — then block pruning and t pushdown apply like
    // any readRange; each SELECTOR fetches through the pushdown hook,
    // so its matchers never run on sample rows, like every other read
    import org.apache.spark.sql.functions.{broadcast, col, lit}
    val (mint, maxt) =
      graft.query.PromQl.scanBoundsMs(query, startMs, endMs, lookbackMs)
    // float rows gain a typed-null h / histogram rows a null v, so the
    // union is the canonical mixed frame the corridor reads
    def mixed(floats: DataFrame, hist: DataFrame): DataFrame =
      floats.select(col("series_key"), col("labels"), col("t"), col("v"))
        .withColumn("h", lit(null).cast(graft.query.PromQl.HistType))
        .unionByName(hist.select(col("series_key"), col("labels"), col("t"),
          lit(null).cast("double").as("v"), col("h")))
    def histIn(ms: Seq[Matcher]): Option[DataFrame] = histChannel.map(hf =>
      hf.where(col("t").between(mint, maxt) &&
        Matcher.conjunction(ms, k => col("labels").getItem(k))))
    val base = store.readRange(spark, mint, maxt, withLabels = true)
    val samples = histChannel match {
      case None => base
      case Some(hf) => mixed(base, hf.where(col("t").between(mint, maxt)))
    }
    // one catalog for the whole query, and one resolution per matcher
    // set: a selector's read and its labels dim see the same series even
    // if a commit lands meanwhile. The histogram channel's series live
    // outside the catalog, so a mixed store resolves per read and
    // derives its dims from the reads.
    val cat = if (histChannel.isEmpty) store.catalog(spark) else None
    val resolved = new java.util.concurrent.ConcurrentHashMap[Seq[Matcher], Seq[String]]()
    def keysOf(c: SeriesCatalog, ms: Seq[Matcher]): Seq[String] =
      resolved.computeIfAbsent(ms, _ => c.select(ms))
    val params = graft.query.PromQl.Params(startMs, endMs, stepMs, lookbackMs,
      nameLabel = nameLabel,
      // the float half keeps the store's matcher pushdown; the
      // histogram channel filters its (corridor-sized) frame on the
      // labels map with the same matcher set
      pushdown = Some { ms =>
        val floats = cat match {
          case Some(c) => store.readKeys(spark, mint, maxt, c, keysOf(c, ms))
          case None => store.readRange(spark, mint, maxt, withLabels = true, ms: _*)
        }
        histIn(ms) match {
          case None => floats
          case Some(hf) => mixed(floats, hf)
        }
      },
      // the manifest's series total bounds every matched set — the
      // same bound readSelected's semi-join gate uses — so the
      // compiler's per-series dim broadcasts hint only when the
      // driver-side build is provably safe
      seriesEstimate = Some(store.manifest.blocks.map(_.numSeries).sum),
      broadcastLimit = store.broadcastLimit,
      // selector label dims from the series catalog: the matched
      // subset as a local relation, not a second pass over the
      // selector's samples
      labelsDim = cat.map(c => ms => broadcast(c.labelsFrame(spark, keysOf(c, ms)))))
    if (histChannel.nonEmpty)
      graft.query.PromQl.evalMixed(query, samples, params, ordered)
    else if (ordered) graft.query.PromQl.eval(query, samples, params)
    else graft.query.PromQl.evalUnsorted(query, samples, params)
  }

  /** Consistent snapshot into `destRoot` (`db.go:1108-1146`). */
  def snapshot(destRoot: String): Unit = store.snapshot(destRoot)

  /** Structured-Streaming ingest into this store (the Head+WAL path). */
  def ingest(
      samples: org.apache.spark.sql.Dataset[StreamingIngest.Sample],
      checkpointDir: String,
      minValidTime: Long): org.apache.spark.sql.streaming.StreamingQuery =
    StreamingIngest.ingest(samples, store, checkpointDir, minValidTime)
}

object Db {
  /** Options mirror `tsdb.Options` (`db.go:64-82`): block range =
    * `MinBlockDuration`, ranges = the exponential ladder, retention =
    * `RetentionDuration`/`MaxBytes`. */
  final case class Options(
      blockRangeMs: Long = 2 * 3600 * 1000L,
      compactionSteps: Int = 3,
      retentionMs: Long = 0L,
      retentionBytes: Long = 0L,
      seriesBuckets: Int = 8)

  def open(spark: SparkSession, root: String, opts: Options = Options()): Db = {
    // An EXISTING store's block range is physical layout, not an opener
    // preference: t_bucket partition values are multiples of the
    // creation-time range, and pruning with any other value silently
    // drops rows. The range recorded at first write wins (the reference
    // likewise reads block ranges back from meta.json, not Options);
    // opts.blockRangeMs applies to stores that don't have one yet.
    val rangeMs = BlockStore.recordedRange(root).getOrElse(opts.blockRangeMs)
    new Db(
      new BlockStore(root, rangeMs, opts.seriesBuckets),
      spark,
      Compaction.exponentialRanges(rangeMs, opts.compactionSteps),
      opts.retentionMs,
      opts.retentionBytes)
  }
}

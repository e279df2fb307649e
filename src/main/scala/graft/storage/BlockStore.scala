package graft.storage

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import org.apache.spark.sql.{Column, DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.rangeForTimestamp
import graft.matchers.Matcher

/** Physical block storage with a versioned manifest — the Spark-native
  * reading of the reference's block lifecycle:
  *
  *  - a *block* is one immutable write: `data/block_id=<n>/t_bucket=<b>/`
  *    parquet, sorted by (series_key, t). Parquet row groups play the
  *    chunk role (min/max skip-scan); `t_bucket` partition dirs give
  *    time pruning; the `block_id` dir is the unit of publication and
  *    deletion (reference block dirs, `block.go:266-289`);
  *  - the [[Manifest]] is the atomically-swapped block list + tombstone
  *    set (reference `db.reload` block-list swap `db.go:775-779` +
  *    `tombstones` files). Readers see only manifest-listed blocks, so a
  *    half-written block dir is invisible until published — the tmp +
  *    rename discipline of `compact.go:634-639` at list granularity;
  *  - every write also materializes the block's `(label_name,
  *    label_value)` dictionary under `dict/block_id=<n>/` — the
  *    label-value index of the reference (`index/index.go:404-448`),
  *    which the query layer uses to answer regex matchers without
  *    scanning sample rows ([[graft.query.Querier.selectViaDictionary]]).
  *
  * Scale notes: the manifest is O(#blocks) driver-side metadata (the
  * reference holds the same list in memory); retention and compaction
  * planning read ONLY the manifest, never the data. Reads prune on the
  * (block_id, t_bucket) partition columns. Overlap handling is decided
  * per query from manifest intervals — the reference's automatic
  * vertical-querier selection (`db.go:1185-1195`) — so the dedup window
  * (one shuffle on series_key) is paid only when overlap exists.
  */
final class BlockStore(
    val root: String,
    val blockRangeMs: Long,
    /** Series bucket count W: block data is a Spark bucketed table
      * `CLUSTERED BY (series_key) INTO W BUCKETS`, so one series always
      * lands in the same bucket file of every block — the reference's
      * series-major block layout (`compact.go:645-873` writes sorted
      * series runs once) as Spark-native bucketing. The bucketed scan
      * merges bucket i of EVERY block into one partition and reports
      * `HashPartitioning(series_key, W)`, so vertical dedup-merge, ooo
      * validation and per-series windows consume the scan with NO
      * exchange. W also bounds writer parallelism and files per
      * t_bucket; size it so blockBytes/W fits one task (thousands on a
      * real cluster). Fixed at table creation: reopening an existing
      * store with a different value keeps the table's original W. */
    val seriesBuckets: Int = 8,
    /** A delete matching more series than this spills its intervals to
      * a parquet side table instead of inlining T records — a 10⁶-series
      * delete must not become a multi-GB manifest parsed on every load
      * (the reference's in-memory tombstone list is single-node by
      * design; this is the distributed replacement). */
    val tombstoneSpillThreshold: Int = 10000,
    /** Per-series sides are built on the driver only when the
      * manifest-derived worst case (every series matched) stays under
      * this row count: the [[SeriesCatalog]] reads resolve against (also
      * capped at [[SeriesCatalog.MaxSeries]]), and the matched-series /
      * tombstone broadcast hints. Past it the catalog is off, the hints
      * are dropped and AQE picks
      * the join strategy from actual runtime sizes — a matcher like
      * `Re(".*")` over 10⁸ series must never force a driver-side
      * broadcast build (the reference streams postings lazily,
      * `index/postings.go:297-368`, and never materializes them). */
    val broadcastLimit: Long = 2000000L) {
  def dataDir = s"$root/data"
  private[storage] def dictDir = s"$root/dict"
  private[storage] def tombsDir = s"$root/tombs"
  /** Label pairs of series registered without samples (rolled-back
    * appends, [[registerSeries]]) — the head's series map entries that
    * survive an `Appender.Rollback` (`db.go:100-112`). */
  private[storage] def headDictDir = s"$dictDir/head"
  private def blockPath(id: Long) = s"$dataDir/block_id=$id"
  private def tombPath(id: Long) = s"$tombsDir/ts_id=$id"

  /** Current published state (block list + tombstones). */
  def manifest: ManifestState = Manifest.load(root)

  /** Average samples per series per block range, from manifest stats
    * alone — the density that decides whether a pure aggregate keeps
    * its map-side partial stage (`Rate.preAgg`): a scrape-shaped store
    * (hundreds of samples per series-block) must keep partial combine,
    * an event-shaped one (a few) wins by clustering first. Callers
    * aggregating at a different grain scale by `grainMs /
    * blockRangeMs`. 0 on an empty store (callers treat it as sparse). */
  def samplesPerSeries: Double = {
    val m = manifest
    // numSeries is PER BLOCK (a series living in k blocks counts k
    // times), so the ratio is already per (series, block)
    val series = m.blocks.map(_.numSeries).sum
    if (series == 0) 0.0
    else m.blocks.map(_.numSamples).sum.toDouble / series
  }

  /** Record the store's block range on first write (meta/BLOCK_RANGE)
    * and refuse a writer opened with a DIFFERENT range: `t_bucket`
    * partition values are multiples of the creation-time range, so a
    * mismatched range mis-prunes reads (silently dropping rows) and
    * writes misaligned buckets. Read-only tools use
    * [[BlockStore.recordedRange]] to open any store correctly without
    * knowing its configuration. */
  private def persistRange(): Unit = {
    BlockStore.recordedRange(root) match {
      case Some(r) => require(r == blockRangeMs,
        s"store at $root was created with blockRangeMs=$r, opened with $blockRangeMs")
      case None =>
        Files.createDirectories(Paths.get(root, "meta"))
        Files.writeString(Paths.get(root, "meta", "BLOCK_RANGE"), blockRangeMs.toString)
        ()
    }
  }

  /** The head's lower append bound for this store — the reference
    * initializes a reopened head with the mint-ordered last block's
    * (exclusive) maxt, so a sample at a timestamp the block layer
    * already covers is rejected as out-of-bounds rather than silently
    * shadowed (`db.go:514-519`; `TestInitializeHeadTimestamp`
    * db_test.go:1438 "with blocks: set to the last block maxT";
    * `TestBlockRanges` db_test.go:2185-2193 "appending a sample with a
    * timestamp covered by a previous block shouldn't be possible").
    * `Long.MinValue` on an empty store: no bound until data exists, the
    * first appended sample initializes the writable range. */
  def minValidTime: Long = {
    val bs = manifest.blocks
    if (bs.isEmpty) Long.MinValue
    else bs.maxBy(b => (b.mint, b.blockId)).maxt
  }

  /** Catalog name of this store's bucketed data table: stable per
    * store path, safe to register in any session. */
  private[storage] val tableName: String = {
    val abs = Paths.get(root).toAbsolutePath.normalize.toString
    val md = java.security.MessageDigest.getInstance("MD5").digest(abs.getBytes("UTF-8"))
    "graft_store_" + md.take(8).map("%02x".format(_)).mkString
  }

  /** The store's data as a bucketed catalog table (registered on first
    * use per session; partitions recovered from disk so a fresh session
    * sees previously-written blocks). The bucketed scan is what deletes
    * the exchange before every per-series operator — Spark's honest
    * equivalent of the reference's series-major blocks.
    *
    * Cross-process visibility: the manifest's file lock explicitly
    * allows a second driver to publish blocks into the same store, but
    * a partition registered in *that* driver's catalog does not exist in
    * this one. So every access compares the on-disk manifest version
    * against the last version this JVM synced its catalog at; when it
    * advanced through someone else's publish, the partition list is
    * re-recovered and the cached relation refreshed before reading —
    * the reference's `db.reload` picking up externally-created block
    * dirs (`db.go:712-779`). Our own mutations mark the new version
    * synced at publish time, so the steady single-driver path never
    * pays a directory re-listing. */
  private[storage] def storeTable(spark: SparkSession): DataFrame = {
    // A store dir wiped OUT-OF-BAND (rm -rf instead of destroy(), e.g. a
    // bench scratch path reused across passes, or a tmp-cleaner sweep
    // that took data but left the catalog entry) leaves a registered
    // table whose LOCATION no longer exists — RECOVER PARTITIONS then
    // throws FileNotFound and every read looks like a store bug. Treat
    // missing dataDir as "destroyed behind our back": drop the stale
    // catalog entry (and its registered partitions) and re-register from
    // the current on-disk state.
    if (spark.catalog.tableExists(tableName) &&
        !Files.isDirectory(Paths.get(dataDir))) Manifest.withLock(root) {
      if (!Files.isDirectory(Paths.get(dataDir))) {
        spark.sql(s"DROP TABLE IF EXISTS $tableName")
        BlockStore.syncedVersions.remove(tableName)
      }
    }
    if (!spark.catalog.tableExists(tableName)) Manifest.withLock(root) {
      if (!spark.catalog.tableExists(tableName)) {
        Files.createDirectories(Paths.get(dataDir))
        spark.sql(
          s"""CREATE TABLE IF NOT EXISTS $tableName (
             |  sample_id BIGINT, series_key STRING, t BIGINT, v DOUBLE,
             |  block_id BIGINT, t_bucket BIGINT)
             |USING PARQUET
             |OPTIONS (${BlockStore.parquetOptionsSql})
             |PARTITIONED BY (block_id, t_bucket)
             |CLUSTERED BY (series_key) SORTED BY (series_key, t)
             |INTO $seriesBuckets BUCKETS
             |LOCATION '$dataDir'""".stripMargin)
      }
    }
    val v = Manifest.currentVersion(root)
    if (BlockStore.syncedVersions.getOrDefault(tableName, -1L) != v) {
      spark.sql(s"ALTER TABLE $tableName RECOVER PARTITIONS")
      spark.catalog.refreshTable(tableName)
      BlockStore.syncedVersions.put(tableName, v)
    }
    spark.table(tableName)
  }

  /** Record that this JVM's catalog is in sync with the manifest as of
    * its current version — called after our own publishes (insertInto
    * registered the new partitions itself). */
  private def markSynced(): Unit =
    BlockStore.syncedVersions.put(tableName, Manifest.currentVersion(root))

  private def du(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }

  /** Append one immutable block; returns its id. Runs as the store's
    * exclusive writer (≙ the reference's `db.mtx`-serialized appends):
    * two concurrent writers can never claim the same block id/dir.
    *
    * Exactly two Spark jobs. Job 1 inserts into the bucketed table —
    * one shuffle keyed on (t_bucket, spark-bucket-id) so every executor
    * writes and each t_bucket dir gets ≤ W bucket files; the writer
    * applies the table's `SORTED BY (series_key, t)` inside each file,
    * which is what keeps parquet row-group stats tight. Time/count
    * stats ride the write itself via `observe` (no post-hoc re-scan).
    * Job 2 writes the label index from the SAME materialization (the
    * input is cached for the pair), so a non-deterministic source can
    * never persist an index disagreeing with the written samples; the
    * series count rides that job's per-series dedup. The input of one
    * block is one head-window of data (≪ total corpus), so caching it
    * is bounded. */
  def write(samples: DataFrame): Long = Manifest.withLock(root) {
    val spark = samples.sparkSession
    persistRange()
    val st = manifest
    val id = st.nextBlockId
    val hasLabels = samples.columns.contains("labels")
    val cached = samples.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // a writer that crashed after claiming this id may have left
      // debris; the dir is unpublished by definition (we hold the lock),
      // so clear it wholesale before inserting
      storeTable(spark)
      scala.reflect.io.Directory(new java.io.File(blockPath(id))).deleteRecursively()
      // Normalized storage, like the reference's series dictionary
      // (`index/index.go:113-137`): the per-row labels map is redundant —
      // label pairs live once per series in the block's postings index,
      // sample rows carry only the series key (dictionary-encoded by
      // parquet) + (t, v). Cuts block bytes ~2-3× and every downstream
      // shuffle of read samples.
      val dataObs = Observation(s"graft-block-$id-data")
      cached
        .select(
          col("sample_id").cast("long"), col("series_key"),
          col("t").cast("long"), col("v").cast("double"))
        .withColumn("block_id", lit(id))
        .withColumn("t_bucket", rangeForTimestamp(col("t"), blockRangeMs))
        .observe(dataObs,
          min(col("t")).as("mint"), max(col("t")).as("maxt"),
          count(lit(1)).as("n"))
        // pmod(hash, W) IS Spark's bucket-id expression, so each task
        // holds whole buckets and writes one file per (t_bucket, bucket)
        .repartition(col("t_bucket"),
          pmod(hash(col("series_key")), lit(seriesBuckets)))
        .write.mode(SaveMode.Append)
        // no _SUCCESS markers at the table root: readers trust only the
        // manifest, and stray marker files would pollute partition
        // discovery and survive vacuum
        .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
        .insertInto(tableName)
      val stats = dataObs.get
      // a zero-row write may run zero tasks, leaving the observation unfired
      require(stats.get("n").exists(_.asInstanceOf[Long] > 0L),
        "refusing to publish an empty block")
      val numSeries =
        if (hasLabels) {
          val dictObs = Observation(s"graft-block-$id-dict")
          cached
            .select(col("series_key"), col("labels"), col("t").cast("long"))
            // per-series time bounds ride the dict job (reference
            // series.minTime()/maxTime(), head.go:972): the same
            // series_key hash aggregate dropDuplicates ran, one extra
            // min/max — these feed the per-series delete clamp with no
            // extra scan at delete time.
            // labels ride as a GROUPING KEY (sorted entry array —
            // constant per series_key), not a first(map) buffer: the
            // map buffer demoted this sample-grain write-time aggregate
            // to a partial SortAggregate (r12)
            .groupBy(col("series_key"),
              graft.functions.canonicalLabelEntries(col("labels")).as("__le"))
            .agg(min(col("t")).as("s_mint"), max(col("t")).as("s_maxt"))
            .withColumn("labels", map_from_entries(col("__le")))
            .drop("__le")
            .observe(dictObs, count(lit(1)).as("n_series"))
            // strip empty-valued labels before indexing (the reference's
            // append-time invariant, head.go:832-833): series identity
            // already drops them (functions.seriesKey), so a surviving
            // (name, "") posting would make labelNames/labelValues claim
            // a label the identity says is absent — and would wrongly
            // resolve `label=""` (means ABSENT) as a positive posting
            .select(col("series_key"), col("s_mint"), col("s_maxt"),
              explode(map_filter(col("labels"), (_, v) => v.isNotNull && v =!= ""))
                .as(Seq("label_name", "label_value")))
            .write.mode(SaveMode.Overwrite)
            .options(BlockStore.parquetWriteOptions)
            .parquet(s"$dictDir/block_id=$id")
          dictObs.get("n_series").asInstanceOf[Long]
        } else
          // label-less input (no index to derive the count from): one
          // column-pruned scan of the just-written series_key column
          spark.read.parquet(blockPath(id))
            .agg(countDistinct("series_key")).head().getLong(0)
      val meta = BlockMeta(
        blockId = id,
        mint = stats("mint").asInstanceOf[Long],
        maxt = stats("maxt").asInstanceOf[Long] + 1, // half-open (db.go:634-641)
        numSamples = stats("n").asInstanceOf[Long],
        numSeries = numSeries,
        numTombstones = 0L,
        bytes = du(blockPath(id)))
      Manifest.publish(root, st.copy(blocks = st.blocks :+ meta))
      markSynced()
      id
    } finally cached.unpersist()
  }

  private def readBlocks(spark: SparkSession, ids: Seq[Long]): DataFrame =
    storeTable(spark).where(col("block_id").isin(ids: _*))

  /** All live samples, raw (no dedup/tombstone application). */
  def read(spark: SparkSession): DataFrame = {
    val ids = manifest.blocks.map(_.blockId)
    require(ids.nonEmpty, s"block store at $root has no published blocks")
    readBlocks(spark, ids)
  }

  /** Tombstones of the current manifest as a DataFrame: inline T-record
    * intervals plus any spilled side tables (wide deletes). */
  def tombstoneTable(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val st = manifest
    val inline = st.tombstones
      .map(t => (t.seriesKey, t.mint, t.maxt))
      .toDF("series_key", "mint", "maxt")
    st.tombstoneFiles.foldLeft(inline) { (acc, f) =>
      acc.unionByName(
        spark.read.parquet(tombPath(f.fileId)).select("series_key", "mint", "maxt"))
    }
  }

  /** Total interval count across inline and spilled tombstones — the
    * manifest-stats gate for broadcasting the tombstone side. */
  private def tombstoneCount(st: ManifestState): Long =
    st.tombstones.size.toLong + st.tombstoneFiles.map(_.count).sum

  /** The read path (reference `db.Querier`, `db.go:1150-1196`): select
    * manifest blocks overlapping the closed `[mint, maxt]`, and apply
    * vertical dedup-merge iff those blocks overlap *each other* — the
    * automatic `verticalQuerier` switch (`db.go:1185-1195`) that makes
    * re-ingested/backfilled data read correctly with later-block-wins
    * semantics. Tombstoned intervals are filtered via broadcast range
    * anti-join when any exist.
    *
    * Matchers never evaluate on sample rows (the reference's Select,
    * `querier.go:326-396`). Within the [[catalog]] gate they resolve on
    * the driver and the fact scan carries a literal `series_key` set
    * (parquet stats and bucket pruning apply). Above it they resolve in
    * the postings index and the fact side gets one semi-join, hinted
    * broadcast only when the live blocks' series count bounds the
    * matched set safely, otherwise planned by AQE from runtime sizes — a
    * broad matcher over 10⁸ series must not force a driver-side build. */
  def readRange(spark: SparkSession, mint: Long, maxt: Long, matchers: Matcher*): DataFrame =
    readSelected(spark, mint, maxt) { (raw0, live) =>
      if (matchers.isEmpty) raw0
      else catalog(spark) match {
        case Some(c) => restrictTo(raw0, c.select(matchers))
        case None =>
          val idx = postingsIndex(spark)
          val keys = graft.query.Postings.seriesFor(
            idx, extraSeriesFor(spark, idx, matchers), matchers)
          val totalSeries = live.map(_.numSeries).sum // upper bound on |keys|
          val hinted = if (totalSeries <= broadcastLimit) broadcast(keys) else keys
          raw0.join(hinted, Seq("series_key"), "left_semi")
      }
    }

  /** The driver-held [[SeriesCatalog]] of this store, or None when the
    * manifest's series total (an upper bound on the catalog's size and
    * on any matched set) is over [[broadcastLimit]] — the bound under
    * which the read path builds per-series sides on the driver at all —
    * or over [[SeriesCatalog.MaxSeries]], the largest store the catalog
    * was measured on. Built once per published state and shared by
    * every handle on the same root. */
  def catalog(spark: SparkSession): Option[SeriesCatalog] =
    if (manifest.blocks.map(_.numSeries).sum > math.min(broadcastLimit, SeriesCatalog.MaxSeries)) None
    else Some(SeriesCatalog.cached(spark, this))

  /** Rows of `keys` only: a literal IN list the scan can push down and
    * bucket-prune on; a broadcast semi-join against a local relation
    * past [[BlockStore.KeyListMax]] keys, where planning the list costs
    * more than the scan it saves. */
  private def restrictTo(raw: DataFrame, keys: Seq[String]): DataFrame =
    if (keys.isEmpty) raw.where(lit(false))
    else if (keys.size <= BlockStore.KeyListMax) raw.where(col("series_key").isin(keys: _*))
    else {
      import raw.sparkSession.implicits._
      raw.join(broadcast(keys.toDF("series_key")), Seq("series_key"), "left_semi")
    }

  /** Point lookup — the reference's seek shape
    * (`querier_test.go:1555-1644`, the narrow-range single-series read
    * every dashboard panel issues). The series is identified by its
    * FULL label set, so the canonical key is computed driver-side
    * ([[graft.model.Labels.canonical]]) and the scan carries a literal
    * `series_key` equality: no index touch, no join — the manifest +
    * t_bucket bounds prune partitions outside the range, and the pushed
    * key filter over the `SORTED BY (series_key, t)` layout skips every
    * non-matching bucket file at row-group-stats grain (a footer-only
    * touch; Spark's planner additionally prunes whole buckets when it
    * retains the bucketed scan). The 100 TB cost is O(blocks-in-range)
    * file reads of one series' row groups — the latency floor of the
    * layout (plan-asserted in BlockStoreSpec, measured as the `ts_seek`
    * bench row). */
  def seek(
      spark: SparkSession,
      labels: Map[String, String],
      mint: Long,
      maxt: Long): DataFrame = {
    val key = graft.model.Labels.fromMap(labels).canonical
    readSelected(spark, mint, maxt) { (raw0, _) =>
      raw0.where(col("series_key") === lit(key))
    }
  }

  /** Shared read-path scaffolding: manifest block pruning, t_bucket
    * bounds, sample-grain time clamp, then `select` (the series
    * restriction), then overlap dedup + tombstones. */
  private def readSelected(spark: SparkSession, mint: Long, maxt: Long)(
      select: (DataFrame, Seq[BlockMeta]) => DataFrame): DataFrame = {
    val st = manifest
    val live = st.blocks.filter(_.overlaps(mint, maxt))
    // no overlapping block — including a store with no published blocks
    // at all (e.g. only rolled-back txns): an empty result, not an
    // error, matching a fresh reference DB's Querier (`db.go:1150-1196`)
    if (live.isEmpty)
      return storeTable(spark).where(lit(false)).drop("block_id", "t_bucket")
    // t_bucket bounds derived from the query range: partition pruning at
    // the chunk grain (P9, reference `populatedChunkSeries` chunk drops)
    // on top of the row-group stats the t filter gives (P10)
    def bucketOf(ms: Long): Option[Long] = {
      val b = math.floorDiv(ms, blockRangeMs) * blockRangeMs
      if (b > Long.MaxValue - blockRangeMs) None else Some(b + blockRangeMs)
    }
    val raw0 = readBlocks(spark, live.map(_.blockId))
      .where((bucketOf(mint), bucketOf(maxt)) match {
        case (Some(lo), Some(hi)) => col("t_bucket").between(lo, hi)
        case (Some(lo), None) => col("t_bucket") >= lo
        case _ => lit(true)
      })
      .where(col("t") >= lit(mint) && col("t") <= lit(maxt))
    val raw = select(raw0, live)
    val vertical = Compaction.overlappingGroups(live).nonEmpty
    val merged =
      if (vertical) Merge.dedupLatest(raw, blockRecency(live), col("sample_id"))
      else raw
    val nTombs = tombstoneCount(st)
    val withTombs =
      if (nTombs == 0L) merged
      else Tombstones.applyTo(merged, tombstoneTable(spark),
        broadcastTombstones = nTombs <= broadcastLimit)
    withTombs.drop("block_id", "t_bucket")
  }

  /** [[readRange]] with each series' label map re-attached — the
    * reference's `Series.Labels()` (`querier.go:50-57`): storage is
    * normalized (sample rows carry only the series key; label pairs
    * live once per series in the postings index). A matcher read within
    * the [[catalog]] gate takes the map from a local relation of the
    * matched series ([[readKeys]]); a whole-store read, or any read
    * above the gate, from ONE pivot of the index (`map_from_entries`
    * over a per-series collect) joined to the read once. The label-less series
    * `"{}"` owns no index rows and surfaces an empty map, the
    * reference's `labels.Labels{}`. */
  def readRange(
      spark: SparkSession,
      mint: Long,
      maxt: Long,
      withLabels: Boolean,
      matchers: Matcher*): DataFrame =
    if (!withLabels) readRange(spark, mint, maxt, matchers: _*)
    else (if (matchers.isEmpty) None else catalog(spark)) match {
      case Some(c) => readKeys(spark, mint, maxt, c, c.select(matchers))
      case None =>
        // a whole-store read (or a store past the catalog gate) stays
        // one lazy pivot of the index: no driver-side build of every
        // series' labels when nothing is matched
        val lab = postingsIndex(spark)
          .groupBy("series_key")
          .agg(map_from_entries(
            collect_list(struct(col("label_name"), col("label_value")))).as("labels"))
        val totalSeries = manifest.blocks.map(_.numSeries).sum
        labelled(readRange(spark, mint, maxt, matchers: _*),
          if (totalSeries <= broadcastLimit) broadcast(lab) else lab)
    }

  /** The labelled read of exactly the series `keys`, which `c` resolved
    * (`c.select`): the fact scan carries the keys and the labels come
    * from a local relation of the same catalog, so both always agree. */
  private[graft] def readKeys(
      spark: SparkSession, mint: Long, maxt: Long,
      c: SeriesCatalog, keys: Seq[String]): DataFrame =
    labelled(readSelected(spark, mint, maxt)((raw0, _) => restrictTo(raw0, keys)),
      broadcast(c.labelsFrame(spark, keys)))

  /** `rows` with `lab`'s `(series_key, labels)` attached; a series
    * without index rows (the label-less `"{}"`) gets the empty map. */
  private def labelled(rows: DataFrame, lab: DataFrame): DataFrame =
    rows.join(lab.withColumnRenamed("labels", "__lab"), Seq("series_key"), "left")
      .withColumn("labels",
        org.apache.spark.sql.functions.coalesce(
          col("__lab"), map().cast("map<string,string>")))
      .drop("__lab")

  /** The series the postings index can't know, for matches-empty
    * resolution ([[graft.query.Postings.seriesFor]]'s `extraSeries`):
    * in the canonical key scheme that is exactly the label-less series
    * `"{}"` — passed as a phantom row when a matcher matches ""
    * (neq / notRe / empty-eq; the reference's absent-label rule selects
    * it too, `db_test.go:1165`). Harmless when no such series exists:
    * the final fact semi-join drops it. */
  private def extraSeriesFor(spark: SparkSession, idx: DataFrame, ms: Seq[Matcher]): DataFrame = {
    import spark.implicits._
    if (ms.exists(_.matchesValue(""))) Seq("{}").toDF("series_key")
    else idx.select("series_key").limit(0)
  }

  /** Register series WITHOUT samples — the persistence behind a
    * rolled-back append transaction ([[graft.ingest.Appender.txn]]):
    * the reference's `Rollback` drops the txn's samples but keeps the
    * series it created in the head's series map (`db.go:100-112` — the
    * WAL even logs their series records so a replay recreates them), so
    * label names/values and matcher resolution see the new series while
    * no sample exists yet. Input needs `(series_key, labels)`; entries
    * become redundant (and are absorbed by the index distinct) once a
    * real block first persists the series. */
  def registerSeries(labelled: DataFrame): Unit = Manifest.withLock(root) {
    labelled
      .dropDuplicates("series_key")
      .select(col("series_key"),
        explode(col("labels")).as(Seq("label_name", "label_value")))
      .write.mode(SaveMode.Append)
      .options(BlockStore.parquetWriteOptions)
      .parquet(headDictDir)
  }

  /** Head truncation's series GC (reference `Head.gc`,
    * `head.go:1036-1097`): a series that was registered without samples
    * ([[registerSeries]]) disappears from label metadata once the head
    * truncates — it has no chunks anywhere, so the reference drops its
    * `memSeries` entry. Series that later gained a real block keep
    * answering from that block's own index, so clearing the whole head
    * dictionary is exactly the reference's post-truncation state. */
  def truncateHead(): Unit = Manifest.withLock(root) {
    scala.reflect.io.Directory(new java.io.File(headDictDir)).deleteRecursively()
    ()
  }

  /** Union of the live blocks' persisted inverted indexes (S12,
    * reference `index/index.go:140-147`): one `(label_name, label_value,
    * series_key)` row per label pair per series — the postings table
    * [[graft.query.Postings.select]] runs matcher set algebra over.
    * Sample-less registered series ([[registerSeries]]) ride along like
    * the reference's head series map entries. */
  def postingsIndex(spark: SparkSession): DataFrame = {
    val ids = manifest.blocks.map(_.blockId)
    val hasHead = Files.isDirectory(Paths.get(headDictDir))
    // a store whose only activity is a rolled-back txn has series but
    // no blocks: serve the index from the head dictionary alone — the
    // reference's fresh DB after Rollback still answers LabelNames /
    // matcher resolution from its head series map (`db.go:100-112`).
    // A store EMPTIED by delete + tombstone clean (manifest published,
    // zero live blocks) answers with the empty label set, like the
    // reference's head after a full-range delete drops the series'
    // labels and symbols (head_test.go:393-396) — only a store with no
    // manifest at all (wrong path / never written) fails loudly.
    if (ids.isEmpty && !hasHead) {
      require(Manifest.currentVersion(root) > 0L,
        s"block store at $root has no published blocks")
      import spark.implicits._
      return Seq.empty[(String, String, String)]
        .toDF("label_name", "label_value", "series_key")
    }
    // fail loudly rather than answer from a partial index: a block
    // written from label-less samples (e.g. a streaming sink) has no
    // postings, so label/matcher queries over this store are undefined
    val missing = ids.filterNot(id =>
      Files.isDirectory(Paths.get(s"$dictDir/block_id=$id")))
    require(missing.isEmpty,
      s"store at $root has no label index for blocks ${missing.mkString(",")} " +
        "(written without a labels column); label/matcher queries unavailable")
    val head =
      if (hasHead)
        Some(spark.read.parquet(headDictDir)
          .select("label_name", "label_value", "series_key"))
      else None
    val blocksIdx =
      if (ids.isEmpty) None
      else Some(spark.read.option("basePath", dictDir)
        .parquet(ids.map(id => s"$dictDir/block_id=$id"): _*)
        .select("label_name", "label_value", "series_key"))
    (blocksIdx ++ head).reduce(_ unionByName _).distinct()
  }

  /** One block's postings dictionary, raw — `(series_key, label_name,
    * label_value)` plus the per-series `(s_mint, s_maxt)` bounds when
    * the block was written with them (r7+). The `tsdb analyze` CLI's
    * input (reference reads the same per-block index,
    * `cmd/tsdb/main.go:464-616`). */
  def blockIndex(spark: SparkSession, blockId: Long): DataFrame = {
    require(manifest.blocks.exists(_.blockId == blockId),
      s"block $blockId is not live in the store at $root")
    require(Files.isDirectory(Paths.get(s"$dictDir/block_id=$blockId")),
      s"block $blockId has no label index (written without labels)")
    spark.read.parquet(s"$dictDir/block_id=$blockId")
  }

  /** The `(name, value)` dictionary view of [[postingsIndex]] — what
    * regex matchers are evaluated against (reference enumerates label
    * values per matcher, `index/index.go:866-892`), so a regex never
    * scans sample rows. */
  def labelDictionary(spark: SparkSession): DataFrame =
    postingsIndex(spark)
      .select("label_name", "label_value")
      .distinct()

  /** A1 over the store: distinct label names from the index alone
    * (reference `querier.go:70-89` reads only index sections) — from
    * the series catalog, with no Spark job, within its gate. */
  def labelNames(spark: SparkSession): DataFrame = catalog(spark) match {
    case Some(c) => local(spark, c.labelNames, "label_name")
    case None =>
      postingsIndex(spark).select(col("label_name")).distinct().orderBy("label_name")
  }

  /** A2 over the store: sorted distinct values of one label, index-only
    * (reference `querier.go:91-108`), catalog-served like [[labelNames]]. */
  def labelValues(spark: SparkSession, name: String): DataFrame = catalog(spark) match {
    case Some(c) => local(spark, c.labelValues(name), "label_value")
    case None =>
      postingsIndex(spark)
        .where(col("label_name") === name)
        .select(col("label_value")).distinct().orderBy("label_value")
  }

  /** A sorted driver-side list as a one-column local relation: collecting
    * it (or a `limit` of it) runs no Spark job. */
  private def local(spark: SparkSession, xs: Seq[String], name: String): DataFrame =
    spark.createDataset(xs)(org.apache.spark.sql.Encoders.STRING).toDF(name)

  /** Record deletion intervals for every series matching the conjunction
    * over `[mint, maxt]` (reference `DB.Delete`, `db.go:1203-1232`):
    * series resolve in the postings index alone — no sample data is
    * read — then the intervals (coalesced per series) publish in the
    * next manifest version. Per-block tombstone counters feed the
    * compaction planner's >5% trigger (`compact.go:211-220`).
    *
    * A matches-empty matcher (neq/notRe/empty-eq) also records an
    * interval for the label-less series `"{}"` whether or not it exists
    * (the index can't tell): a tombstone for a nonexistent series
    * filters nothing and retires with the blocks it spans — same
    * harmless debris as a tombstone whose series was later compacted
    * away. */
  def delete(spark: SparkSession, mint0: Long, maxt0: Long, matchers: Matcher*): Unit =
    Manifest.withLock(root) {
      // Clamp the interval to the store's CURRENT time range first — the
      // reference's `Head.Delete` clampInterval (head.go:957-958): a
      // delete must never reach beyond data that exists at delete time,
      // so samples appended LATER inside the requested-but-unpopulated
      // range survive (TestDeleteUntilCurMax, head_test.go:530-568) —
      // then per SERIES (head.go:972-977): each matched series clamps
      // to its own [s_mint, s_maxt] recorded in the block dictionaries
      // at write time, so a later append beyond a series' old max also
      // survives even when it lands inside the store-wide range. A
      // series the bounds can't cover (pre-bounds dict, or the "{}"
      // extra-series record the index can't see) keeps the store-level
      // clamp — the pre-r7 behavior, wider but never past the request.
      val bs = manifest.blocks
      val mint = if (bs.isEmpty) mint0 else math.max(mint0, bs.map(_.mint).min)
      val maxt = if (bs.isEmpty) maxt0 else math.min(maxt0, bs.map(_.maxt).max - 1)
      if (bs.isEmpty || mint > maxt) return
      val idx = postingsIndex(spark)
      val keys = graft.query.Postings
        .seriesFor(idx, extraSeriesFor(spark, idx, matchers), matchers)
      val clamped = seriesBounds(spark) match {
        case Some(b) => keys.join(b, Seq("series_key"), "left")
          .select(col("series_key"),
            greatest(lit(mint), org.apache.spark.sql.functions
              .coalesce(col("s_mint"), lit(mint))).as("mint"),
            least(lit(maxt), org.apache.spark.sql.functions
              .coalesce(col("s_maxt"), lit(maxt))).as("maxt"))
          // a matched series wholly outside the request records nothing
          // (the reference's `continue` on an empty clamp)
          .where(col("mint") <= col("maxt"))
        case None => keys.select(col("series_key"),
          lit(mint).as("mint"), lit(maxt).as("maxt"))
      }
      // probe at most threshold+1 keys: a narrow delete inlines T
      // records; a wide one NEVER materializes its series set on the
      // driver — it spills to a parquet side table referenced by one
      // manifest F record (count via observe, no extra job)
      val probe = clamped.limit(tombstoneSpillThreshold + 1).collect()
      if (probe.length <= tombstoneSpillThreshold) {
        val added = probe.map(r =>
          TombstoneInterval(r.getString(0), r.getLong(1), r.getLong(2))).toSeq
        Manifest.update(root) { st =>
          val all = coalesce(st.tombstones ++ added)
          st.copy(blocks = recount(st.blocks, all, st.tombstoneFiles), tombstones = all)
        }
      } else {
        val fid = manifest.nextBlockId
        val obs = Observation(s"graft-tomb-$fid")
        clamped
          // the file's manifest record carries the COVERING interval of
          // its per-series rows (recount/retention reason over it)
          .observe(obs, count(lit(1)).as("n"),
            min(col("mint")).as("lo"), max(col("maxt")).as("hi"))
          .write.mode(SaveMode.Overwrite)
          .options(BlockStore.parquetWriteOptions)
          .parquet(tombPath(fid))
        // zero matched keys → zero write tasks → observation may not fire
        val stats = obs.get
        val n = stats.get("n").map(_.asInstanceOf[Long]).getOrElse(0L)
        val lo = stats.get("lo").map(_.asInstanceOf[Long]).getOrElse(mint)
        val hi = stats.get("hi").map(_.asInstanceOf[Long]).getOrElse(maxt)
        Manifest.update(root) { st =>
          val fs = st.tombstoneFiles :+ TombstoneFile(fid, lo, hi, n)
          st.copy(blocks = recount(st.blocks, st.tombstones, fs),
            tombstoneFiles = fs, highWater = math.max(st.highWater, fid))
        }
      }
      markSynced()
    }

  /** Per-series time bounds recorded in the block dictionaries at write
    * time (reference `series.minTime()/maxTime()`, head.go:972): the
    * union over live blocks, min/max-merged per series. None when no
    * live dict carries the bounds columns (a pre-bounds store) —
    * [[delete]] then falls back to the store-level clamp. */
  private def seriesBounds(spark: SparkSession): Option[DataFrame] = {
    val ids = manifest.blocks.map(_.blockId)
      .filter(id => Files.isDirectory(Paths.get(s"$dictDir/block_id=$id")))
    if (ids.isEmpty) return None
    val df = spark.read.option("basePath", dictDir)
      .parquet(ids.map(id => s"$dictDir/block_id=$id"): _*)
    if (!df.columns.contains("s_mint")) return None
    // rows from a pre-bounds block surface as nulls; min/max ignore
    // them, and a series present ONLY in such blocks yields null bounds
    // that the caller's coalesce turns back into the store-level clamp
    Some(df.groupBy("series_key")
      .agg(min("s_mint").as("s_mint"), max("s_maxt").as("s_maxt")))
  }

  /** Per-block tombstone counters feeding the planner's >5% trigger
    * (`compact.go:211-220`). Spilled side tables count via their
    * covering interval × row count — an upper bound, which only makes
    * the trigger conservative-eager, never blind. */
  private def recount(
      blocks: Seq[BlockMeta],
      tombs: Seq[TombstoneInterval],
      files: Seq[TombstoneFile]): Seq[BlockMeta] =
    blocks.map { b =>
      val inline = tombs.count(t => t.mint < b.maxt && t.maxt >= b.mint)
      val spilled = files.filter(f => f.mint < b.maxt && f.maxt >= b.mint).map(_.count).sum
      b.copy(numTombstones = inline + spilled)
    }

  /** Driver-side interval coalescing per series (reference
    * `Intervals.add`, `tombstones.go:259-304`) — the tombstone set is
    * small metadata, so this needs no Spark job. */
  private def coalesce(ts: Seq[TombstoneInterval]): Seq[TombstoneInterval] =
    ts.groupBy(_.seriesKey).toSeq.sortBy(_._1).flatMap { case (key, ivs) =>
      val sorted = ivs.sortBy(t => (t.mint, t.maxt))
      sorted.tail.foldLeft(List(sorted.head)) { (acc, iv) =>
        val h = acc.head
        if (iv.mint <= h.maxt + 1) h.copy(maxt = math.max(h.maxt, iv.maxt)) :: acc.tail
        else iv :: acc
      }.reverse.map(i => TombstoneInterval(key, i.mint, i.maxt))
    }

  /** Overlap-dedup recency of each live block — its rank in the
    * reference's query order, which is MIN-TIME order re-imposed on
    * every reload (`db.go:386-388`): the overlapping block with the
    * greatest `mint` wins duplicate timestamps, with `block_id`
    * breaking exact-mint ties deterministically (the reference's
    * unstable sort leaves them unspecified). Pinned by the ported
    * `TestVerticalCompaction` table (`db_test.go:1793`, case 4: a
    * later-created backfill block with an earlier mint loses). ONE
    * map literal probed per row — a CASE chain here would codegen an
    * O(#blocks)-deep expression tree and stop scaling past a few
    * hundred blocks of manifest; the literal map is a single constant
    * whatever the retention window holds, so a store whose compaction
    * lags by thousands of blocks still plans and codegens. Unknown
    * block ids (impossible from our own scan) rank -1, matching the
    * CASE chain's old else-branch. */
  private[storage] def blockRecency(blocks: Seq[BlockMeta]): Column = {
    val rank = blocks.sortBy(b => (b.mint, b.blockId)).map(_.blockId)
      .zipWithIndex.map { case (id, r) => id -> r }.toMap
    org.apache.spark.sql.functions
      .coalesce(element_at(typedLit(rank), col("block_id")), lit(-1))
  }

  /** Compaction plan over the current manifest (reference `Plan`,
    * `compact.go:190-254`): block ids to merge next, or empty. */
  def planCompaction(ranges: Seq[Long]): Seq[Long] =
    Compaction.plan(manifest.blocks, ranges).map(_.blockId)

  /** Merge the given blocks into one new block (reference `Compact`,
    * `compact.go:373-464` + `populateBlock`): vertical dedup
    * (min-time-order recency, [[blockRecency]]), physical tombstone
    * drop, one sorted write,
    * then an atomic manifest swap that retires the inputs. Tombstone
    * intervals that no longer touch any remaining block are dropped
    * (`CleanTombstones`, `db.go:1234-1261`). */
  /** Apply pending tombstones physically by rewriting ONLY the blocks
    * that carry them, each by itself — the reference's
    * `db.CleanTombstones()` (`db.go:1234-1261`): block boundaries are
    * preserved (no merging — that's [[planCompaction]]'s job), fully
    * deleted blocks vanish, untouched blocks are not rewritten, and
    * the applied intervals leave the manifest. Returns the new block
    * ids (one per surviving rewritten block). */
  def cleanTombstones(spark: SparkSession): Seq[Long] = Manifest.withLock(root) {
    val st0 = manifest
    val entryTombs = st0.tombstones.toSet
    val entryFiles = st0.tombstoneFiles.map(_.fileId).toSet
    val rewritten = st0.blocks
      .filter(_.numTombstones > 0)
      .map(_.blockId)
      .flatMap(id => compact(spark, Seq(id)))
    // Every interval present at entry has now been physically applied to
    // every block that carried it (numTombstones is a time-overlap upper
    // bound, so numTombstones == 0 blocks carry none). compact()'s own
    // retention check keeps intervals that merely time-overlap the fresh
    // rewrites, so drop the entry set explicitly — without this, a
    // multi-block clean never clears the manifest and re-rewrites the
    // same blocks on the next call.
    if (entryTombs.nonEmpty || entryFiles.nonEmpty) {
      val st1 = manifest
      val tombs = st1.tombstones.filterNot(entryTombs)
      val files = st1.tombstoneFiles.filterNot(f => entryFiles(f.fileId))
      Manifest.publish(root, st1.copy(
        blocks = recount(st1.blocks, tombs, files),
        tombstones = tombs, tombstoneFiles = files))
      markSynced()
    }
    rewritten
  }

  def compact(spark: SparkSession, ids: Seq[Long]): Option[Long] = Manifest.withLock(root) {
    if (ids.size < 1) return None
    val st = manifest
    val newId = st.nextBlockId
    val inputs = st.blocks.filter(b => ids.contains(b.blockId))
    require(inputs.size == ids.size, s"unknown block ids in $ids")
    val raw = readBlocks(spark, ids)
    val deduped = Merge.dedupLatest(raw, blockRecency(inputs), col("sample_id"))
    val nTombs = tombstoneCount(st)
    val cleaned =
      if (nTombs == 0L) deduped
      else Tombstones.applyTo(deduped, tombstoneTable(spark),
        broadcastTombstones = nTombs <= broadcastLimit)
    // stats ride the rewrite via observe — no post-hoc re-scan job
    scala.reflect.io.Directory(new java.io.File(blockPath(newId))).deleteRecursively()
    val obs = Observation(s"graft-compact-$newId")
    cleaned
      .select(
        col("sample_id").cast("long"), col("series_key"),
        col("t").cast("long"), col("v").cast("double"))
      .withColumn("block_id", lit(newId))
      .withColumn("t_bucket", rangeForTimestamp(col("t"), blockRangeMs))
      .observe(obs,
        min(col("t")).as("mint"), max(col("t")).as("maxt"),
        count(lit(1)).as("n"))
      .repartition(col("t_bucket"),
        pmod(hash(col("series_key")), lit(seriesBuckets)))
      .write.mode(SaveMode.Append)
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .insertInto(tableName)
    val stats = obs.get
    if (Files.isDirectory(Paths.get(dictDir))) {
      val dictIds = ids.filter(id => Files.isDirectory(Paths.get(s"$dictDir/block_id=$id")))
      if (dictIds.nonEmpty) {
        val merged0 = spark.read.option("basePath", dictDir)
          .parquet(dictIds.map(id => s"$dictDir/block_id=$id"): _*)
        // carry per-series bounds through the merge (min/max over the
        // inputs — conservative-wide if tombstones just narrowed the
        // data, which only weakens the delete clamp toward the
        // requested interval, never past it); dicts from a pre-bounds
        // store keep the old 3-column shape
        val merged =
          if (merged0.columns.contains("s_mint"))
            merged0.groupBy("series_key", "label_name", "label_value")
              .agg(min("s_mint").as("s_mint"), max("s_maxt").as("s_maxt"))
          else merged0.select("label_name", "label_value", "series_key").distinct()
        merged.write.mode(SaveMode.Overwrite)
          .options(BlockStore.parquetWriteOptions)
          .parquet(s"$dictDir/block_id=$newId")
      }
    }
    // an all-tombstoned input writes zero rows and may run zero tasks,
    // in which case the observation never fires and the map is empty
    val n = stats.get("n").map(_.asInstanceOf[Long]).getOrElse(0L)
    // exact series count via one column-pruned scan of the written
    // block's dictionary-encoded series_key column (the merged input
    // dicts may still list series the tombstones just removed entirely,
    // so they can't be the source of truth)
    val numSeries =
      if (n == 0L) 0L
      else spark.read.parquet(blockPath(newId))
        .agg(countDistinct("series_key")).head().getLong(0)
    val keep = st.blocks.filterNot(b => ids.contains(b.blockId))
    // drop intervals/side tables now fully applied (touch no surviving block)
    val tombs = st.tombstones.filter(t =>
      keep.exists(b => t.mint < b.maxt && t.maxt >= b.mint))
    val files = st.tombstoneFiles.filter(f =>
      keep.exists(b => f.mint < b.maxt && f.maxt >= b.mint))
    val meta =
      if (n == 0L) None // everything tombstoned away
      else Some(BlockMeta(newId, stats("mint").asInstanceOf[Long],
        stats("maxt").asInstanceOf[Long] + 1, n, numSeries, 0L, du(blockPath(newId))))
    val newBlocks = recount(keep ++ meta, tombs, files)
    // newId enters the high-water even if the compacted block came out
    // empty (everything tombstoned): its id must still never be reused
    Manifest.publish(root, st.copy(blocks = newBlocks, tombstones = tombs,
      tombstoneFiles = files, highWater = math.max(st.highWater, newId)))
    markSynced()
    meta.map(_.blockId)
  }

  /** Manifest-only retention (reference `db.go:847-906`): blocks wholly
    * older than `keepMs` behind the newest block, then — newest first —
    * blocks past the `maxBytes` budget. Reads NO data (the round-1
    * driver-side max(t) scan is gone); publishing the shrunken list is
    * the atomic delete, [[vacuum]] reclaims disk later. Returns dropped
    * metas. */
  def applyRetention(keepMs: Long = 0L, maxBytes: Long = 0L): Seq[BlockMeta] = Manifest.withLock(root) {
    val st = manifest
    if (st.blocks.isEmpty) return Nil
    val newestFirst = st.blocks.sortBy(-_.maxt)
    val maxT = newestFirst.head.maxt
    val byTime =
      if (keepMs <= 0) Set.empty[Long]
      else newestFirst.dropWhile(b => maxT - b.maxt <= keepMs).map(_.blockId).toSet
    val bySize =
      if (maxBytes <= 0) Set.empty[Long]
      else {
        val sizes = newestFirst.scanLeft(0L)(_ + _.bytes).tail
        newestFirst.zip(sizes).dropWhile(_._2 <= maxBytes).map(_._1.blockId).toSet
      }
    val drop = byTime ++ bySize
    if (drop.isEmpty) Nil
    else {
      val (gone, keep) = st.blocks.partition(b => drop.contains(b.blockId))
      // retire tombstones that touched only the dropped blocks
      val tombs = st.tombstones.filter(t =>
        keep.exists(b => t.mint < b.maxt && t.maxt >= b.mint))
      val files = st.tombstoneFiles.filter(f =>
        keep.exists(b => f.mint < b.maxt && f.maxt >= b.mint))
      Manifest.publish(root, st.copy(blocks = recount(keep, tombs, files),
        tombstones = tombs, tombstoneFiles = files))
      markSynced()
      gone
    }
  }

  /** Physically delete block/tombstone dirs no longer referenced by the
    * current manifest (deferred deletion ≙ the reference draining
    * pendingReaders before removing dirs, `db.go:908-940`), and trim old
    * manifest versions. */
  def vacuum(): Unit = Manifest.withLock(root) {
    val st = manifest
    val live = st.blocks.map(_.blockId).toSet
    for (d <- Seq(dataDir, dictDir); f <- Option(new java.io.File(d).listFiles()).getOrElse(Array())) {
      val name = f.getName
      if (name.startsWith("block_id=") &&
        name.stripPrefix("block_id=").toLongOption.exists(!live.contains(_)))
        scala.reflect.io.Directory(f).deleteRecursively()
      // job markers a pre-marker-suppression writer left at the table root
      else if (name == "_SUCCESS" || name == "._SUCCESS.crc") f.delete()
    }
    val liveTombs = st.tombstoneFiles.map(_.fileId).toSet
    for (f <- Option(new java.io.File(tombsDir).listFiles()).getOrElse(Array())) {
      val name = f.getName
      if (name.startsWith("ts_id=") &&
        name.stripPrefix("ts_id=").toLongOption.exists(!liveTombs.contains(_)))
        scala.reflect.io.Directory(f).deleteRecursively()
    }
    Manifest.trim(root)
  }

  private def copyTree(src: Path, dst: Path): Unit = {
    val s = Files.walk(src)
    try s.sorted(Comparator.naturalOrder[Path]()).forEach { p =>
      val q = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q)
    } finally s.close()
  }

  /** Rewrite this store into `destRoot` with a different bucket count —
    * the documented escape hatch for [[seriesBuckets]] being fixed at
    * table creation: a store that grew 100× re-buckets by compacting
    * into a NEW store (fresh table, new W), not by rewriting in place.
    * Blocks are replayed in recency order (fresh contiguous ids keep
    * later-block-wins intact), label dictionaries are copied verbatim,
    * and tombstones (inline + spilled) re-publish under the destination
    * manifest — so `readRange` over the destination is row-identical
    * while every per-series stage now runs `newBuckets` wide. The
    * source store is untouched; cutover is pointing readers at
    * `destRoot`. One Spark job per block, each a bucketed write at the
    * new W — the same cost shape as a full compaction. */
  def rebucket(spark: SparkSession, destRoot: String, newBuckets: Int): BlockStore =
    Manifest.withLock(root) {
      require(!Files.exists(Paths.get(destRoot, "meta")),
        s"rebucket destination $destRoot is already an initialized store")
      val dest = new BlockStore(destRoot, blockRangeMs, newBuckets,
        tombstoneSpillThreshold, broadcastLimit)
      val st = manifest
      st.blocks.sortBy(_.blockId).foreach { b =>
        val newId = dest.write(
          storeTable(spark)
            .where(col("block_id") === b.blockId)
            .drop("block_id", "t_bucket"))
        val dict = Paths.get(s"$dictDir/block_id=${b.blockId}")
        if (Files.isDirectory(dict))
          copyTree(dict, Paths.get(dest.dictDir, s"block_id=$newId"))
      }
      if (Files.isDirectory(Paths.get(headDictDir)))
        copyTree(Paths.get(headDictDir), Paths.get(dest.headDictDir))
      // spilled tombstone side tables get fresh ids in the destination's
      // id space (they share it with block ids)
      var nextId = Manifest.load(destRoot).nextBlockId
      val newFiles = st.tombstoneFiles.map { f =>
        val nid = nextId
        nextId += 1
        copyTree(Paths.get(tombPath(f.fileId)),
          Paths.get(dest.tombsDir, s"ts_id=$nid"))
        f.copy(fileId = nid)
      }
      Manifest.update(destRoot) { d =>
        d.copy(
          blocks = recount(d.blocks, st.tombstones, newFiles),
          tombstones = st.tombstones,
          tombstoneFiles = newFiles,
          highWater = newFiles.map(_.fileId).foldLeft(d.highWater)(math.max))
      }
      dest.markSynced()
      dest
    }

  /** Destroy the store wholesale: data, manifest, and this JVM's
    * catalog registration — so the same root can be rebuilt from
    * scratch without stale catalog partitions pointing at deleted
    * files. */
  def destroy(spark: SparkSession): Unit = Manifest.withLock(root) {
    spark.sql(s"DROP TABLE IF EXISTS $tableName")
    BlockStore.syncedVersions.remove(tableName)
    SeriesCatalog.invalidate(this)
    scala.reflect.io.Directory(new java.io.File(root)).deleteRecursively()
    ()
  }

  /** Consistent snapshot (reference `DB.Snapshot`, `db.go:1108-1146`):
    * copy the live blocks' immutable dirs + a manifest listing exactly
    * them. No Spark job — a filesystem copy, like the reference's
    * hardlink tree. */
  def snapshot(destRoot: String): Unit = Manifest.withLock(root) {
    val st = manifest
    val destData = Paths.get(destRoot, "data")
    Files.createDirectories(destData)
    st.blocks.foreach { b =>
      copyTree(Paths.get(blockPath(b.blockId)),
        destData.resolve(s"block_id=${b.blockId}"))
      val dict = Paths.get(s"$dictDir/block_id=${b.blockId}")
      if (Files.isDirectory(dict))
        copyTree(dict, Paths.get(destRoot, "dict", s"block_id=${b.blockId}"))
    }
    st.tombstoneFiles.foreach { f =>
      copyTree(Paths.get(tombPath(f.fileId)),
        Paths.get(destRoot, "tombs", s"ts_id=${f.fileId}"))
    }
    if (Files.isDirectory(Paths.get(headDictDir)))
      copyTree(Paths.get(headDictDir), Paths.get(destRoot, "dict", "head"))
    // the range marker rides along so the snapshot opens correctly
    val rangeFile = Paths.get(root, "meta", "BLOCK_RANGE")
    if (Files.exists(rangeFile)) {
      Files.createDirectories(Paths.get(destRoot, "meta"))
      Files.copy(rangeFile, Paths.get(destRoot, "meta", "BLOCK_RANGE"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    Manifest.publish(destRoot, st)
  }
}

object BlockStore {
  /** The block range the store recorded at first write
    * (meta/BLOCK_RANGE) — how read-only tools ([[graft.Main]], a
    * querying session) open an existing store without knowing its
    * creation-time configuration. None for a store that predates the
    * marker (or was never written): callers fall back to their own
    * default, the pre-r7 behavior. */
  def recordedRange(root: String): Option[Long] = {
    val p = java.nio.file.Paths.get(root, "meta", "BLOCK_RANGE")
    if (!java.nio.file.Files.exists(p)) None
    else scala.util.Try(java.nio.file.Files.readString(p).trim.toLong).toOption
  }

  /** Parquet options for every file the store writes. The reference
    * packs chunks with Gorilla delta-of-delta timestamps + XOR values
    * (`chunkenc/xor.go:51-106`); the parquet equivalents are the v2
    * data pages — DELTA_BINARY_PACKED on the sorted `t`/`sample_id`
    * longs where the v1 writer stored them plain — with zstd over the
    * residual double payload. Applied as table storage properties
    * (so `insertInto` block writes pick them up) and as writer options
    * on the side files (dict/tombstones). Stores created before this
    * existed keep their original table options; mixed codecs per file
    * are fine for readers. */
  private[storage] val parquetWriteOptions: Map[String, String] = Map(
    "compression" -> "zstd",
    // Pin the codec level explicitly (3 is parquet-java's default): the
    // write-throughput row is a cross-round record, and an ambient
    // default change would silently move it.
    "parquet.compression.codec.zstd.level" -> "3",
    "parquet.writer.version" -> "v2")

  /** [[parquetWriteOptions]] rendered for a `CREATE TABLE ... OPTIONS`
    * clause. */
  private[storage] def parquetOptionsSql: String =
    parquetWriteOptions.map { case (k, v) => s"'$k' '$v'" }.mkString(", ")

  /** Exponential compaction ranges 2h × 3^k (reference
    * `ExponentialBlockRanges`, `compact.go:41-50`; defaults `db.go:51`). */
  def exponentialRanges(minMs: Long, steps: Int, factor: Int = 3): Seq[Long] =
    Compaction.exponentialRanges(minMs, steps, factor)

  /** Manifest version each store table's catalog partitions were last
    * synced at, per JVM (the catalog is JVM-shared state; the manifest
    * is the cross-process truth). */
  private[storage] val syncedVersions =
    new java.util.concurrent.ConcurrentHashMap[String, Long]()

  /** Most series keys a catalog-resolved read inlines as an IN list;
    * past it the keys ride a broadcast semi-join against a local
    * relation. The IN list is pruned at the scan but costs planning
    * time per key: on a 1M-series store (4 local cores, a 10 min read)
    * it read 128 / 512 / 1024 / 2048 / 4096 / 10240 / 102400 keys in
    * 0.75 / 0.99 / 1.8 / 2.1 / 2.5 / 4.5 / 34 s, the semi-join in
    * 2.0 / 1.7 / 1.9 / 1.8 / 1.7 / 1.8 / 2.6 s: they cross between 1k
    * and 2k keys. */
  private val KeyListMax = 1024
}

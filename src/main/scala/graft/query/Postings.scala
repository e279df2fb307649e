package graft.query

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.matchers.Matcher

/** The reference's postings machinery as relational set algebra: an
  * inverted-index table `(label_name, label_value, series_key)` — one
  * row per label pair per series (reference `index/index.go:140-147`,
  * postings lists keyed by label pair) — and `PostingsForMatchers`
  * (`querier.go:326-396`) compiled to joins:
  *
  *  - value-level matching runs on the index rows (one eval per distinct
  *    (series, pair), like the reference's per-value regex walk);
  *  - J2 Merge (OR over matching values) = the row filter itself;
  *  - J3 Without (matches-empty: series NOT carrying the label) =
  *    left_anti against the label's postings;
  *  - J1 Intersect (matcher conjunction) = left_semi chain;
  *  - the final fact-table touch is ONE semi-join on series_key.
  *
  * This is the complement to the pushdown path ([[TsdbSource.select]]):
  * pushdown wins when matchers map to scan filters; the postings path
  * wins when the matcher work is expensive per row (heavy regexes,
  * many-way unions) and #series ≪ #samples — the same trade the
  * reference makes by resolving matchers entirely in the index before
  * touching sample data.
  *
  * A store serves reads from this path only above its series-catalog
  * gate ([[graft.storage.BlockStore.catalog]]): within it, the same
  * matcher semantics run on the driver over the catalog's label maps
  * and no index scan happens per request. Deletes always resolve here.
  */
object Postings {

  /** Derive the inverted index from long-format samples (the persisted
    * form is materialized per block by [[graft.storage.BlockStore]]).
    * One row per series survives BEFORE the label-map explode: the key
    * is a function of the label set (graft.functions.seriesKey), so
    * every row of a series carries the same map and exploding all
    * sample rows first would shuffle #samples/#series times the data
    * for an identical result. */
  def fromSamples(samples: DataFrame): DataFrame =
    samples
      // entry-array distinct, not dropDuplicates("series_key"): the
      // subset form compiles to first(labels) whose MAP aggregation
      // buffer demotes the dedup to a sample-grain partial
      // SortAggregate; a var-length grouping KEY stays in whole-stage
      // HashAggregate (labels is constant per series_key, so grouping
      // by both is the same dedup)
      .select(col("series_key"),
        graft.functions.canonicalLabelEntries(col("labels")).as("__le"))
      .distinct()
      // map keys are unique, so the explode output is already one
      // distinct row per (series, label pair) — no second shuffle
      .select(col("series_key"), explode(col("__le")).as("__e"))
      .select(col("series_key"),
        col("__e.key").as("label_name"), col("__e.value").as("label_value"))

  /** `PostingsForMatchers` with the absent-label-is-empty rule
    * (`querier.go:331-396`): a matcher that matches "" also selects
    * every series without the label.
    *
    * The whole conjunction resolves in ONE aggregate pass over the
    * index — per series, per matcher, two map-side-combinable bits:
    * did any of the label's values match, and does the series carry the
    * label at all — then one predicate row per series:
    * `matched_i OR (matches-empty_i AND !has_i)` ANDed across matchers.
    * This replaces the earlier per-matcher subtree chain (present
    * branch + anti-join absent branch + semi-join intersect per
    * matcher: ~2×matchers consumers of the index and as many shuffles);
    * the aggregate touches the index once and shuffles #series rows,
    * whatever the matcher count. J1 intersect = the AND; J2 merge =
    * the OR; J3 without = the `!has` bit.
    *
    * Completeness caveat: the postings index only knows series with ≥1
    * label — in the canonical key scheme, every key except the
    * label-less `"{}"`. That one key is the ONLY universe the index can
    * miss, so callers pass it as `extraSeries` (rows already known to
    * be absent from the index — [[graft.storage.BlockStore]] passes the
    * phantom `"{}"` row when a matcher matches ""); those series carry
    * no labels, so they match exactly when EVERY matcher matches ""
    * (reference test `TestNotMatcherSelectsLabelsUnsetSeries`,
    * `db_test.go:1165`) and union in as-is. Declaring the complement
    * instead of passing a full universe frame removes what used to be a
    * per-query distinct + anti-join over the whole index (~8 s of the
    * 16-s `i=~""` row on the 5M-series matcher bench).
    *
    * Match-all matchers (`=~".*"` — every value AND absent) are dropped
    * from the conjunction before the aggregate (the reference's
    * all-postings fast path): each would cost two aggregate bits per
    * series and filter nothing. */
  def seriesFor(postings: DataFrame, extraSeries: DataFrame, ms0: Seq[Matcher]): DataFrame = {
    val ms = ms0.filterNot(Matcher.matchesAll)
    if (ms.isEmpty)
      return postings.select("series_key").distinct().unionByName(extraSeries)
    val aggs = ms.zipWithIndex.flatMap { case (m, i) =>
      Seq(
        max(when(col("label_name") === m.name &&
          Matcher.toColumn(m, _ => col("label_value")), 1).otherwise(0)).as(s"__match_$i"),
        max(when(col("label_name") === m.name, 1).otherwise(0)).as(s"__has_$i"))
    }
    val pred = ms.zipWithIndex.map { case (m, i) =>
      if (m.matchesValue("")) col(s"__match_$i") === 1 || col(s"__has_$i") === 0
      else col(s"__match_$i") === 1
    }.reduce(_ && _)
    val fromIndex = postings
      .groupBy("series_key").agg(aggs.head, aggs.tail: _*)
      .where(pred)
      .select("series_key")
    if (ms.forall(_.matchesValue("")))
      fromIndex.unionByName(extraSeries)
    else fromIndex
  }

  /** Full select through the index: resolve matchers to a series set,
    * then touch the fact table once (semi-join + time clamp).
    *
    * [[seriesFor]] consumes the index exactly once (one aggregate), so
    * even an index DERIVED ad hoc ([[fromSamples]]: a full fact scan +
    * per-series dedup shuffle) is derived exactly once with no
    * materialization step — the whole select is one job: derive →
    * aggregate → broadcast → fact probe; the fact source appears twice
    * in the plan (the derivation scan, column-pruned to the key +
    * labels, and the time-clamped probe) and no more, plan-asserted in
    * PostingsSpec. The one multi-consumer shape — every matcher
    * matches "" — re-derives the small index a second time for the
    * universe anti-join; callers on that path hold a persisted dict
    * ([[graft.storage.BlockStore.postingsIndex]]) where the re-scan is
    * a parquet re-read of #series × #labels rows.
    *
    * `broadcastKeys` hints the matched-series side for the common case
    * (#matched ≪ #samples). Pass `false` when the store's series count
    * makes the worst case (a broad matcher selecting everything)
    * non-broadcastable — AQE then picks the join strategy from runtime
    * sizes; [[graft.storage.BlockStore.readRange]] gates this from
    * manifest stats. */
  def select(
      samples: DataFrame,
      postings: DataFrame,
      mint: Long,
      maxt: Long,
      broadcastKeys: Boolean,
      ms: Matcher*): DataFrame = {
    // ad-hoc frames derive the index from the samples themselves, so
    // the index universe IS complete — no extra (label-less) series
    val keys = seriesFor(postings, postings.select("series_key").limit(0), ms)
    samples
      .join(if (broadcastKeys) broadcast(keys) else keys, Seq("series_key"), "left_semi")
      .where(col("t") >= lit(mint) && col("t") <= lit(maxt))
  }

  def select(
      samples: DataFrame,
      postings: DataFrame,
      mint: Long,
      maxt: Long,
      ms: Matcher*): DataFrame =
    select(samples, postings, mint, maxt, broadcastKeys = true, ms: _*)
}

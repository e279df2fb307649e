package graft.storage

import java.lang.ref.SoftReference
import java.nio.file.{Files, Paths}

import scala.collection.immutable.TreeMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{MapType, StringType, StructField, StructType}

import graft.matchers.Matcher

/** The store's series as driver-side metadata: `series_key → labels`
  * for every series the postings index knows — the reference's
  * in-memory postings (the head's `MemPostings` and the block index
  * readers, `querier.go:326-396`), which answer `PostingsForMatchers`
  * without touching sample data. Label maps are canonical: entries
  * key-sorted, empty values dropped — exactly the maps
  * [[graft.query.PromQl.seriesLabelsDim]] derives from a labelled read,
  * so plans and results built from either agree.
  *
  * [[BlockStore]] builds one per published state and uses it only while
  * the manifest's series total is within its `broadcastLimit` — the
  * bound under which the read path already builds per-series sides on
  * the driver — and within [[SeriesCatalog.MaxSeries]]. Above either
  * the relational postings path runs instead. */
final class SeriesCatalog private[storage] (
    val series: Map[String, TreeMap[String, String]]) {

  /** Keys of the series the conjunction selects, by the one matcher
    * definition ([[Matcher.matches]], absent label ≙ ""). The label-less
    * series `"{}"` owns no index rows, so it joins as a phantom exactly
    * when every matcher matches "" (`TestNotMatcherSelectsLabelsUnsetSeries`,
    * `db_test.go:1165`) — harmless when no such series exists. */
  def select(ms: Seq[Matcher]): Seq[String] = {
    val live = ms.filterNot(Matcher.matchesAll)
    val hits = series.iterator
      .collect { case (k, ls) if live.forall(_.matches(ls)) => k }.toVector
    if (ms.forall(_.matchesValue("")) && !series.contains(SeriesCatalog.Empty))
      hits :+ SeriesCatalog.Empty
    else hits
  }

  /** `(series_key, labels)` for `keys` as a local relation — the
    * per-series labels dimension, no scan behind it. */
  def labelsFrame(spark: SparkSession, keys: Seq[String]): DataFrame =
    spark.createDataFrame(
      keys.map(k => Row(k, series.getOrElse(k, SeriesCatalog.NoLabels))).asJava,
      SeriesCatalog.Schema)

  /** Sorted distinct values per label name, built on first use: a
    * `label/<n>/values` request is then a lookup, not a pass over every
    * series. */
  private lazy val valuesByName: Map[String, Seq[String]] =
    series.valuesIterator.flatMap(_.iterator).toSet[(String, String)]
      .groupMap(_._1)(_._2).map { case (n, vs) => n -> vs.toSeq.sorted }

  lazy val labelNames: Seq[String] = valuesByName.keys.toSeq.sorted

  def labelValues(name: String): Seq[String] = valuesByName.getOrElse(name, Nil)
}

object SeriesCatalog {
  /** Most series a store may count for its catalog to be built: the
    * largest size it was measured on. With 4 local cores, 20 samples per
    * series and 128 series per metric name, seven dashboard request
    * kinds (five PromQL range/instant queries, `series`, label values)
    * took a median 1.2 s per request against 4.8 s on the relational
    * path at 200k series, and 1.5 s against 17.3 s at 1M; a build after
    * a publish took 2.6–4.3 s and 12–20 s and held 135 MB and 680 MB
    * of heap. Larger stores keep the relational path: what a build
    * costs there, in time and heap, is unmeasured. */
  val MaxSeries = 1000000L

  /** The canonical key of the label-less series. */
  val Empty = "{}"
  private val NoLabels = TreeMap.empty[String, String]
  private val Schema = StructType(Seq(
    StructField("series_key", StringType, nullable = false),
    StructField("labels", MapType(StringType, StringType, valueContainsNull = false),
      nullable = false)))

  /** What a catalog was built from: the manifest version (with its
    * file's modification time, so a store destroyed and re-created to
    * the same version number never matches) and the head dictionary's
    * part files (rolled-back series append files; truncation removes
    * them; neither publishes a manifest). */
  private final case class Stamp(version: Long, modified: Long, head: Seq[String])

  private def stampOf(store: BlockStore): Stamp = {
    val v = Manifest.currentVersion(store.root)
    val modified =
      if (v == 0L) 0L
      else scala.util.Try(Files.getLastModifiedTime(
        Paths.get(store.root, "meta", "MANIFEST-%09d".format(v))).toMillis).getOrElse(0L)
    val headDir = Paths.get(store.headDictDir)
    val head =
      if (!Files.isDirectory(headDir)) Nil
      else {
        val s = Files.list(headDir)
        try s.iterator.asScala.map(_.getFileName.toString).toVector.sorted
        finally s.close()
      }
    Stamp(v, modified, head)
  }

  /** One entry per store root, shared by every [[BlockStore]] handle on
    * it in this JVM, softly held so it never pins heap queries need. */
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, (Stamp, SoftReference[SeriesCatalog])]()
  private val building =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private[storage] def cached(spark: SparkSession, store: BlockStore): SeriesCatalog = {
    def hit(stamp: Stamp): Option[SeriesCatalog] =
      Option(cache.get(store.tableName)).collect {
        case (s, ref) if s == stamp => ref.get
      }.flatMap(Option(_))
    val stamp = stampOf(store)
    hit(stamp).getOrElse {
      // one build per root at a time: concurrent requests after a
      // publish wait for the first instead of each scanning the index
      building.computeIfAbsent(store.tableName, _ => new Object).synchronized {
        val now = stampOf(store)
        hit(now).getOrElse {
          val built = load(spark, store)
          cache.put(store.tableName, (now, new SoftReference(built)))
          built
        }
      }
    }
  }

  private[storage] def invalidate(store: BlockStore): Unit = {
    cache.remove(store.tableName)
    ()
  }

  private def load(spark: SparkSession, store: BlockStore): SeriesCatalog = {
    val rows = store.postingsIndex(spark)
      .select("series_key", "label_name", "label_value").collect()
    val bySeries = rows.groupBy(_.getString(0)).map { case (k, rs) =>
      k -> TreeMap.from(rs.iterator.collect {
        case r if r.getString(2) != null && r.getString(2).nonEmpty =>
          r.getString(1) -> r.getString(2)
      })
    }
    new SeriesCatalog(bySeries)
  }
}

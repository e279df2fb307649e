package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One generated series: a counter `base + slope · (t − T0)/1s`. Every
  * value the benchmark checks is computed from this closed form, never
  * from the engine under test. */
final case class Series(labels: Map[String, String], base: Double, slope: Double) {
  val key: String = graft.model.Labels.fromMap(labels).canonical
  def at(t: Long): Double = base + slope * ((t - Gen.T0) / 1000.0)
}

/** Seeded, deterministic data. Label dimensions are a Cartesian
  * product, so every combination of values exists and any matcher's
  * series set is known in closed form; the seed permutes slopes and
  * bases and picks query parameters, never sizes. */
object Gen {
  /** 2024-01-01T00:00:00Z — aligned to every block range used here. */
  val T0: Long = 1704067200000L
  val ScrapeMs: Long = 30000L
  val Hour: Long = 3600000L

  /** A seeded permutation of 0 until n. */
  def perm(n: Int, rnd: scala.util.Random): Array[Int] = rnd.shuffle((0 until n).toVector).toArray

  /** Series over the Cartesian product of `dims` (name -> values), with
    * distinct seeded slopes in [0.25, 1.25) and seeded bases. */
  def cartesian(dims: Seq[(String, Seq[String])], rnd: scala.util.Random): Vector[Series] = {
    val combos = dims.foldLeft(Vector(Map.empty[String, String])) { case (acc, (name, values)) =>
      for (m <- acc; v <- values) yield m + (name -> v)
    }
    val p = perm(combos.size, rnd)
    combos.zipWithIndex.map { case (labels, i) =>
      Series(labels, base = 1000.0 + rnd.nextInt(1000), slope = 0.25 + p(i).toDouble / combos.size)
    }
  }

  /** Scrape timestamps in the half-open `[mint, maxt)`. */
  def scrapes(mint: Long, maxt: Long): Iterator[Long] = {
    val first = math.floorDiv(mint - T0 + ScrapeMs - 1, ScrapeMs) * ScrapeMs + T0
    Iterator.iterate(first)(_ + ScrapeMs).takeWhile(_ < maxt)
  }

  /** The samples of `series` at every scrape in `[mint, maxt)`, as the
    * `(sample_id, series_key, labels, t, v, arrival)` frame the store and
    * the appender take. Rows are generated on the executors from a small
    * broadcast series table. */
  def frame(spark: SparkSession, series: Seq[Series], mint: Long, maxt: Long, idBase: Long): DataFrame = {
    import spark.implicits._
    val n = ((maxt - mint + ScrapeMs - 1) / ScrapeMs)
    val first = scrapes(mint, maxt).next()
    val table = series.zipWithIndex.map { case (s, i) => (i.toLong, s.key, s.labels, s.base, s.slope) }
      .toDF("sidx", "series_key", "labels", "base", "slope")
    spark.range(n).toDF("k").where(lit(first) + col("k") * ScrapeMs < maxt)
      .crossJoin(broadcast(table))
      .select(
        (lit(idBase) + col("sidx") * n + col("k")).as("sample_id"),
        col("series_key"), col("labels"),
        (lit(first) + col("k") * ScrapeMs).as("t"),
        (col("base") + col("slope") * ((lit(first) - T0) / 1000.0 + col("k") * (ScrapeMs / 1000.0))).as("v"),
        (lit(idBase) + col("sidx") * n + col("k")).as("arrival"))
  }

  def names(prefix: String, n: Int): Seq[String] = (0 until n).map(i => s"$prefix$i")
}

/** What a store holds: the time ranges written (every series, no
  * overlaps) and the tombstones recorded, so any `(series, t)` resolves
  * to its closed-form value or to "absent". */
final class Truth(series: Vector[Series]) {
  private val written = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
  private val tombs = scala.collection.mutable.HashMap.empty[String, List[(Long, Long)]]

  def wrote(mint: Long, maxt: Long): Unit = written += ((mint, maxt))
  def deleted(keys: Iterable[String], mint: Long, maxt: Long): Unit =
    keys.foreach(k => tombs(k) = (mint, maxt) :: tombs.getOrElse(k, Nil))

  /** Expected (count, Σv, Σ(t − T0)/1s) of every series over `[mint, maxt]`. */
  def checksum(mint: Long, maxt: Long): Checksum = {
    var c = Checksum.zero
    for {
      x <- series
      t <- Gen.scrapes(mint, maxt + 1)
      if written.exists { case (a, b) => t >= a && t < b }
      if !tombs.get(x.key).exists(_.exists { case (a, b) => t >= a && t <= b })
    } c = c.add(t, x.at(t))
    c
  }
}

/** Order-independent digest of a sample set. */
final case class Checksum(n: Long, sumV: Double, sumT: Double) {
  def add(t: Long, v: Double): Checksum = Checksum(n + 1, sumV + v, sumT + (t - Gen.T0) / 1000.0)
  def matches(o: Checksum): Boolean =
    n == o.n && Check.close(sumV, o.sumV, 1e-9) && Check.close(sumT, o.sumT, 1e-9)
}
object Checksum {
  val zero: Checksum = Checksum(0, 0.0, 0.0)

  /** Collect a sample frame and iterate every returned row. */
  def of(df: DataFrame): Checksum = {
    val ti = df.schema.fieldIndex("t")
    val vi = df.schema.fieldIndex("v")
    df.collect().foldLeft(zero)((c, r) => c.add(r.getLong(ti), r.getDouble(vi)))
  }
}

object Check {
  def close(a: Double, b: Double, rel: Double = 1e-6): Boolean =
    a == b || math.abs(a - b) <= rel * math.max(math.abs(a), math.abs(b)) + 1e-9
}

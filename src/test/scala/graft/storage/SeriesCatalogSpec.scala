package graft.storage

import java.nio.file.Files

import org.apache.spark.sql.DataFrame

import graft.{Db, SparkSuite}
import graft.matchers.{Eq, InSet, Matcher, Not, Re}
import graft.model.Labels

/** The driver-held series catalog against the relational postings path
  * it stands in for: never stale across any store mutation, and the
  * same series and PromQL answers for every matcher kind. The twin of
  * each catalog-backed handle is a handle on the same root with
  * `broadcastLimit = 0`, which keeps every read on the postings index. */
class SeriesCatalogSpec extends SparkSuite {
  import spark.implicits._

  private def labelled(rows: (Map[String, String], Long, Double)*): DataFrame =
    rows.zipWithIndex.map { case ((ls, t, v), i) =>
      (Labels.fromMap(ls).canonical, t, v, t * 100 + i, ls)
    }.toDF("series_key", "t", "v", "arrival", "labels")

  private def m(kv: (String, String)*): Map[String, String] =
    Map("__name__" -> "m") ++ kv

  /** A handle on `root` that keeps every read on the postings index. */
  private def relational(root: String, rangeMs: Long): Db =
    new Db(new BlockStore(root, rangeMs, broadcastLimit = 0L), spark, Nil, 0L, 0L)

  /** Every answer the two paths must agree on. */
  private def answers(db: Db): (Set[(String, Long, Double)], Seq[String], Seq[String],
      Set[(Map[String, String], Double)]) = (
    db.query(0L, 1000000L, Eq("job", "a"))
      .select("series_key", "t", "v").as[(String, Long, Double)].collect().toSet,
    db.labelNames().as[String].collect().toSeq,
    db.labelValues("inst").as[String].collect().toSeq,
    db.promql("m{inst!=\"2\"}", 200000L, 200000L, 1000L, lookbackMs = 1000000L)
      .select("labels", "v").as[(Map[String, String], Double)].collect().toSet)

  test("the catalog is never stale: commit, delete + clean, maintain, retention, " +
    "rollback, truncateHead and another handle's publish all invalidate it") {
    val root = Files.createTempDirectory("graft-catalog").toString
    val db = Db.open(spark, root, Db.Options(blockRangeMs = 10000L))
    val rel = relational(root, 10000L)
    var last: SeriesCatalog = null
    def step(what: String, insts: Seq[String]): Unit = {
      val c = db.store.catalog(spark).getOrElse(fail(s"$what: no catalog on a small store"))
      assert(rel.store.catalog(spark).isEmpty)
      assert(!(c eq last), s"$what: catalog not rebuilt")
      // unchanged state: one build, shared by every handle on the root
      assert(db.store.catalog(spark).get eq c)
      assert(Db.open(spark, root).store.catalog(spark).get eq c)
      val got = answers(db)
      assert(got == answers(rel), what)
      assert(got._3 == insts, what)
      last = c
    }

    db.appender(0L).add(labelled(
      (m("job" -> "a", "inst" -> "1"), 1000L, 1.0),
      (m("job" -> "b", "inst" -> "2"), 2000L, 2.0))).commit()
    step("first commit", Seq("1", "2"))
    db.appender(0L).add(labelled((m("job" -> "a", "inst" -> "3"), 3000L, 3.0))).commit()
    step("commit of a new series", Seq("1", "2", "3"))
    assert(answers(db)._1.map(_._3) == Set(1.0, 3.0))

    // the tombstones empty the second block, so clean drops it with its
    // label index
    db.delete(0L, 10000L, Eq("inst", "3"))
    assert(db.cleanTombstones().isEmpty)
    step("delete + cleanTombstones", Seq("1", "2"))
    assert(answers(db)._1.map(_._3) == Set(1.0))

    db.appender(0L).add(labelled((m("job" -> "c", "inst" -> "4"), 1500L, 4.0))).commit()
    step("commit overlapping the first block", Seq("1", "2", "4"))
    assert(db.maintain() >= 1)
    assert(db.blocks.size == 1)
    step("maintain compaction", Seq("1", "2", "4"))

    db.appender(0L).add(labelled((m("job" -> "a", "inst" -> "5"), 100000L, 5.0))).commit()
    step("commit far ahead", Seq("1", "2", "4", "5"))
    assert(db.store.applyRetention(keepMs = 50000L).nonEmpty)
    step("retention", Seq("5"))
    assert(answers(db)._1.map(_._3) == Set(5.0))

    db.appender(0L).add(labelled((m("job" -> "a", "inst" -> "6"), 100500L, 6.0))).rollback()
    step("rollback keeps the series", Seq("5", "6"))
    assert(answers(db)._1.map(_._3) == Set(5.0)) // no samples

    db.store.truncateHead()
    step("truncateHead", Seq("5"))

    val other = new BlockStore(root, 10000L)
    other.write(labelled((m("job" -> "a", "inst" -> "7"), 100600L, 7.0)).drop("arrival")
      .withColumn("sample_id", org.apache.spark.sql.functions.lit(1L)))
    step("another handle's publish", Seq("5", "7"))
    assert(answers(db)._1.map(_._3) == Set(5.0, 7.0))
  }

  test("driver and postings-index matcher resolution agree, " +
    "label-less series included (TestNotMatcherSelectsLabelsUnsetSeries)") {
    val root = Files.createTempDirectory("graft-catalog-agree").toString
    val db = Db.open(spark, root, Db.Options(blockRangeMs = 3600000L))
    val rel = relational(root, 3600000L)
    val sets = Seq(
      Map.empty[String, String], Map("a" -> "1"), Map("a" -> "2", "b" -> "x"),
      Map("b" -> "y"), Map("a" -> "10", "b" -> "x"), Map("b" -> "z", "c" -> ""))
    db.appender(0L).add(labelled(sets.zipWithIndex.flatMap { case (ls, i) =>
      (0 to 4).map(k => (ls, k * 60000L, (i * 10 + k).toDouble))
    }: _*)).commit()
    val c = db.store.catalog(spark).get
    // canonical maps: empty values dropped, entries in key order
    assert(c.series(Labels.fromMap(Map("a" -> "1")).canonical).toSeq == Seq("a" -> "1"))
    assert(c.series(Labels.fromMap(Map("a" -> "2", "b" -> "x")).canonical).keys.toSeq ==
      Seq("a", "b"))
    assert(!c.series.contains("{}")) // owns no index rows
    assert(c.series(Labels.fromMap(Map("b" -> "z")).canonical).toSeq == Seq("b" -> "z"))

    val cases: Seq[Seq[Matcher]] = Seq(
      Seq(Eq("a", "1")), Seq(Not(Eq("a", "1"))), Seq(Re("a", "1.*")),
      Seq(Not(Re("a", "1.*"))), Seq(InSet("a", Set("1", "2"))),
      Seq(InSet("a", Set("", "2"))), Seq(Eq("a", "")), Seq(Re("a", "|2")),
      Seq(Re("a", ".*")), Seq(Eq("b", "x"), Not(Eq("a", "2"))),
      Seq(Re("b", ".+"), Re("a", "")), Seq(Not(Eq("c", "z"))), Seq(Eq("nope", "1")))
    val idx = db.store.postingsIndex(spark)
    for (ms <- cases) {
      val extra = (if (ms.exists(_.matchesValue(""))) Seq("{}") else Nil).toDF("series_key")
      assert(c.select(ms).toSet ==
        graft.query.Postings.seriesFor(idx, extra, ms).as[String].collect().toSet, ms)
      def keys(d: Db) = d.query(0L, 600000L, ms: _*).select("series_key").as[String]
        .collect().toSet
      assert(keys(db) == keys(rel), ms)
      def withLabels(d: Db) = d.query(0L, 600000L, withLabels = true, ms: _*)
        .select("series_key", "labels").as[(String, Map[String, String])].collect().toSet
      assert(withLabels(db) == withLabels(rel), ms)
    }
    assert(db.query(0L, 600000L, Not(Eq("a", "1"))).select("series_key").as[String]
      .collect().contains("{}"))

    for (q <- Seq("{a!=\"1\"}", "{a=~\"1.*\"}", "{a=\"\"}", "{b=~\"x|y\", a!~\"2\"}",
        "sum by (b) (rate({a!=\"2\"}[2m]))", "count({a=~\".*\"})",
        "max_over_time({a=~\"|1\"}[3m])")) {
      def eval(d: Db) = d.promql(q, 120000L, 240000L, 60000L)
        .select("series_key", "labels", "t", "v")
        .as[(String, Map[String, String], Long, Double)].collect().toSet
      val got = eval(db)
      assert(got == eval(rel), q)
      assert(got.nonEmpty, q)
    }
  }

  test("a matched set past the IN-list size rides a broadcast semi-join, same rows") {
    val root = Files.createTempDirectory("graft-catalog-wide").toString
    val db = Db.open(spark, root, Db.Options(blockRangeMs = 3600000L))
    db.appender(0L).add(labelled((0 until 1100).map(i =>
      (m("inst" -> i.toString, "odd" -> (i % 2).toString), 1000L, i.toDouble)): _*)).commit()
    val rel = relational(root, 3600000L)
    for (ms <- Seq(Seq(Re("inst", ".+")), Seq(Eq("odd", "1")))) {
      val df = db.query(0L, 10000L, ms: _*)
      val plan = df.queryExecution.optimizedPlan.toString
      assert(plan.contains("LeftSemi") == (ms.head.name == "inst"), plan.take(2000))
      def rows(d: DataFrame) = d.select("series_key", "v").as[(String, Double)].collect().toSet
      assert(rows(df) == rows(rel.query(0L, 10000L, ms: _*)))
      assert(rows(df).size == (if (ms.head.name == "inst") 1100 else 550))
    }
  }

  test("a whole-store labelled read stays a lazy index pivot, never a driver-side " +
    "relation of every series") {
    val root = Files.createTempDirectory("graft-catalog-all").toString
    val db = Db.open(spark, root)
    db.appender(0L).add(labelled(
      (m("job" -> "a"), 1000L, 1.0), (m("job" -> "b"), 1000L, 2.0))).commit()
    assert(db.store.catalog(spark).nonEmpty)
    val all = db.query(0L, 10000L, withLabels = true)
    val plan = all.queryExecution.optimizedPlan.toString
    assert(!plan.contains("LocalRelation"), plan)
    assert(all.select("labels", "v").as[(Map[String, String], Double)].collect().toSet ==
      Set((m("job" -> "a"), 1.0), (m("job" -> "b"), 2.0)))
    // a matcher read of the same handle resolves against the catalog
    val one = db.query(0L, 10000L, withLabels = true, Eq("job", "a"))
    assert(one.queryExecution.optimizedPlan.toString.contains("LocalRelation"))
    assert(one.select("labels", "v").as[(Map[String, String], Double)].collect().toSeq ==
      Seq((m("job" -> "a"), 1.0)))
  }

  test("stores over broadcastLimit series build no catalog") {
    val root = Files.createTempDirectory("graft-catalog-big").toString
    val small = Db.open(spark, root)
    small.appender(0L).add(labelled(
      (m("job" -> "a"), 1000L, 1.0), (m("job" -> "b"), 1000L, 2.0))).commit()
    assert(small.store.catalog(spark).nonEmpty)
    val big = new BlockStore(root, small.store.blockRangeMs, broadcastLimit = 1L)
    assert(big.catalog(spark).isEmpty)
    val plan = big.readRange(spark, 0L, 10000L, Eq("job", "a")).queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi") && !plan.contains("LocalTableScan"), plan)
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.cache.LineageCache
import graft.hb.Ast
import graft.hb.Configurations._
import graft.sources.Ingest

/** Configuration graph resolution: provider / merge / join sources,
  * recursive chains, cycle detection, lineage-cache reuse — the
  * MergeJoinTest.fs shape of the reference workbench. */
class ConfigurationsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local()

  private def tables: String => org.apache.spark.sql.DataFrame = {
    case "sprints_a" => Ingest.localData(spark, Seq("Sprint", "Done"),
      Seq(Seq[Any]("S1", 3L), Seq[Any]("S2", 5L)))
    case "sprints_b" => Ingest.localData(spark, Seq("Sprint", "Done"),
      Seq(Seq[Any]("S3", 2L)))
    case "meta" => Ingest.localData(spark, Seq("Sprint", "Team"),
      Seq(Seq[Any]("S1", "red"), Seq[Any]("S2", "blue"),
        Seq[Any]("S3", "red")))
    case other => fail(s"unexpected table $other")
  }

  private val configs = Map(
    "a" -> conf(TableSource("sprints_a"), "only (Done > 0)"),
    "b" -> conf(TableSource("sprints_b"), "only true"),
    "all" -> conf(MergeOf(Seq("a", "b")), "sort by column Sprint"),
    "joined" -> conf(JoinOf("all", "meta_cfg", "Sprint"),
      "create column Big (if [Done > 2] {'yes'} else {'no'})"),
    "meta_cfg" -> Conf(TableSource("meta"), Nil))

  test("merge + join of configuration outputs") {
    val r = new Runner(spark, tables)
    val all = r.run(configs, "all")
    assert(all.count() == 3)
    val joined = r.run(configs, "joined").orderBy("Sprint")
    assert(joined.columns.toSet == Set("Sprint", "Done", "Team", "Big"))
    val rows = joined.collect()
    assert(rows.map(_.getAs[String]("Team")).toSeq ==
      Seq("red", "blue", "red"))
    assert(rows.map(_.getAs[String]("Big")).toSeq == Seq("yes", "yes", "no"))
  }

  test("cycles are rejected") {
    val cyclic = Map(
      "x" -> Conf(MergeOf(Seq("y")), Nil),
      "y" -> Conf(MergeOf(Seq("x")), Nil))
    intercept[IllegalArgumentException] {
      new Runner(spark, tables).run(cyclic, "x")
    }
  }

  test("a cached Runner rejects cycles and names unknown operands") {
    val cache = new LineageCache(spark,
      java.nio.file.Files.createTempDirectory("graftcycle").toString)
    val cyclic = Map(
      "x" -> Conf(MergeOf(Seq("y")), Nil),
      "y" -> Conf(MergeOf(Seq("x")), Nil))
    val e = intercept[IllegalArgumentException] {
      new Runner(spark, tables, Some(cache)).run(cyclic, "x")
    }
    assert(e.getMessage.contains("cycle"), e.getMessage)
    val dangling = Map("x" -> Conf(MergeOf(Seq("gone")), Nil))
    val u = intercept[NoSuchElementException] {
      new Runner(spark, tables, Some(cache)).run(dangling, "x")
    }
    assert(u.getMessage == "no configuration 'gone'", u.getMessage)
  }

  test("one Runner keys resolved frames by content, not by name") {
    val r = new Runner(spark, tables)
    val first = r.run(Map("x" -> Conf(TableSource("sprints_a"), Nil)), "x")
    assert(first.count() == 2)
    val second = r.run(Map("x" -> Conf(TableSource("sprints_b"), Nil)), "x")
    assert(second.collect().map(_.getAs[String]("Sprint")).toSeq == Seq("S3"))
  }

  test("a series: header reaches the chain and the lineage key") {
    val series = Ast.Header(Map("series" -> "Team"), Map(), Map())
    val stmts = conf(TableSource("meta"),
      "create column n 1\ncreate column run (expanding sum [n])").statements
    val cfgs = Map(
      "flat" -> Conf(TableSource("meta"), stmts),
      "keyed" -> Conf(TableSource("meta"), stmts, series))
    val r = new Runner(spark, tables)
    assert(r.lineageKey(cfgs, "flat") != r.lineageKey(cfgs, "keyed"))
    def runs(n: String) = r.run(cfgs, n).collect()
      .map(x => x.getAs[String]("Sprint") -> x.getAs[Any]("run")).toMap
    // per-team running sums restart at each team; the flat chain does not
    assert(runs("keyed")("S3") != runs("flat")("S3"))
  }

  test("DeconOf binds an eval configuration; .hb chain applies the policy") {
    val two: String => org.apache.spark.sql.DataFrame = {
      case "docs" => Ingest.localData(spark, Seq("id", "text"),
        Seq(Seq[Any](1L, "alpha beta gamma delta"),
          Seq[Any](2L, "epsilon zeta eta theta"),
          Seq[Any](3L, "alpha beta gamma delta extra"),
          Seq[Any](4L, "totally different words here")))
      case other => fail(s"unexpected table $other")
    }
    val cfgs = Map(
      "eval" -> conf(TableSource("docs"), "only (id < 2)"),
      "corpus" -> conf(TableSource("docs"), "only (id >= 2)"),
      "flagged" -> conf(DeconOf("corpus", "eval", "id", "text", n = 4),
        "slice columns id contaminated"),
      // the removal policy is the author's .hb statement, not the source
      "clean" -> conf(MergeOf(Seq("flagged")),
        "only (! contaminated)\nslice columns id"))
    val r = new Runner(spark, two)
    val flagged = r.run(cfgs, "flagged").orderBy("id").collect()
    assert(flagged.map(x => x.getLong(0) -> x.getBoolean(1)).toSeq ==
      Seq(2L -> false, 3L -> true, 4L -> false))
    val clean = r.run(cfgs, "clean").orderBy("id").collect()
    assert(clean.map(_.getLong(0)).toSeq == Seq(2L, 4L))
  }

  test("AsofOf and RangeOf bind a second configuration as right operand") {
    val two: String => org.apache.spark.sql.DataFrame = {
      case "quotes" => Ingest.localData(spark, Seq("sym", "t", "px"),
        Seq(Seq[Any]("A", 10L, 1.0), Seq[Any]("A", 20L, 2.0),
          Seq[Any]("B", 15L, 9.0)))
      case "trades" => Ingest.localData(spark, Seq("sym", "t", "qty"),
        Seq(Seq[Any]("A", 12L, 5L), Seq[Any]("A", 25L, 7L),
          Seq[Any]("B", 5L, 1L)))
      case "windows" => Ingest.localData(spark, Seq("sym", "s", "e"),
        Seq(Seq[Any]("A", 11L, 21L), Seq[Any]("B", 0L, 10L)))
      case other => fail(s"unexpected table $other")
    }
    val cfgs = Map(
      "quotes_cfg" -> Conf(TableSource("quotes"), Nil),
      "trades_cfg" -> Conf(TableSource("trades"), Nil),
      "windows_cfg" -> Conf(TableSource("windows"), Nil),
      "asof" -> conf(
        AsofOf("trades_cfg", "quotes_cfg", "t", "t",
          Seq("sym"), Seq("sym"), Seq("px"), prefix = "q_"),
        "slice columns sym t q_px"),
      "inwin" -> conf(
        RangeOf("trades_cfg", "windows_cfg", "t", "s", "e",
          Seq("sym"), Seq("sym"), binWidth = 10L),
        "slice columns sym t qty"))
    val r = new Runner(spark, two)
    val asof = r.run(cfgs, "asof").orderBy("sym", "t").collect()
    assert(asof.map(x => (x.getString(0), x.getLong(1),
      Option(x.get(2)))).toSeq ==
      Seq(("A", 12L, Some(1.0)), ("A", 25L, Some(2.0)), ("B", 5L, None)))
    val inwin = r.run(cfgs, "inwin").orderBy("sym", "t").collect()
    assert(inwin.map(x => (x.getString(0), x.getLong(1))).toSeq ==
      Seq(("A", 12L), ("B", 5L)))
  }

  test("two-frame sources reach the lineage key (distinct, recursive)") {
    val cfgs = Map(
      "a" -> Conf(TableSource("t1"), Nil),
      "b" -> Conf(TableSource("t2"), Nil),
      "d1" -> Conf(DeconOf("a", "b", "id", "text", 4), Nil),
      "d2" -> Conf(DeconOf("a", "b", "id", "text", 8), Nil),
      "as1" -> Conf(AsofOf("a", "b", "t", "t", Seq("k"), Seq("k"),
        Seq("v"), "p_"), Nil),
      "r1" -> Conf(RangeOf("a", "b", "t", "s", "e", Seq("k"), Seq("k"),
        10L), Nil),
      "ds1" -> Conf(DsirOf("a", "b", "id", "text", 20), Nil),
      "ds2" -> Conf(DsirOf("a", "b", "id", "text", 20, buckets = 64), Nil),
      "cl1" -> Conf(ClassifierOf("a", "b", "b", "id", "text", 512, "nb",
        0L), Nil),
      "dr1" -> Conf(DriftOf("a", "b", "text", 10), Nil),
      "cv1" -> Conf(CoverageOf("a", "b", "src", "text", 64), Nil),
      "su1" -> Conf(SurprisalOf("a", "b", "id", "text", 512, "lm",
        9999L), Nil),
      "sc1" -> Conf(ScrubOf("a", "b", "id", "text", 8), Nil),
      "sc2" -> Conf(ScrubOf("a", "b", "id", "text", 4), Nil),
      "sd1" -> Conf(SemDeconOf("a", "b", "id", "vec", 250000000L), Nil),
      "sd2" -> Conf(SemDeconOf("a", "b", "id", "vec", 900000000L), Nil),
      "rt1" -> Conf(RetrieveOf("a", "b", "id", "text", "vec", 10), Nil),
      "rt2" -> Conf(RetrieveOf("a", "b", "id", "text", "vec", 10, 780), Nil))
    val r = new Runner(spark, _ => fail("not resolved"))
    val keys = Seq("d1", "d2", "as1", "r1", "ds1", "ds2", "cl1", "dr1",
      "cv1", "su1", "sc1", "sc2", "sd1", "sd2", "rt1", "rt2")
      .map(r.lineageKey(cfgs, _))
    assert(keys.distinct.size == keys.size)
    assert(keys.forall(_.contains("table:t1")))
  }

  test("lineage cache computes shared prefixes once across runners") {
    val dir = java.nio.file.Files.createTempDirectory("graftconf").toString
    var resolves = 0
    val counting: String => org.apache.spark.sql.DataFrame = { t =>
      resolves += 1; tables(t)
    }
    val cache = new LineageCache(spark, dir)
    val r1 = new Runner(spark, counting, Some(cache))
    r1.run(configs, "all").count()
    val afterFirst = resolves
    assert(afterFirst > 0)
    // a fresh runner (new session of work) hits the parquet checkpoints
    val r2 = new Runner(spark, counting, Some(cache))
    r2.run(configs, "all").count()
    assert(resolves == afterFirst) // no table re-resolution: cache hit
  }
}

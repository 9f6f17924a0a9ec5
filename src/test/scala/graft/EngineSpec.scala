package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.hb.{Engine, Graft, HbParser}
import graft.sources.Ingest

/** Operator semantics on small typed fixtures, mirroring the reference's
  * own unit-test shape (workers/calculator.worker/tests/Processer.fs:9-58).
  */
class EngineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local()

  /** 3-state work-item-ish fixture. */
  private def workitems: DataFrame = Ingest.localData(spark,
    Seq("Sprint", "Item", "State", "Points", "Changed"),
    Seq(
      Seq("S1", 1L, "Done", 3.0, "2020-01-05"),
      Seq("S1", 1L, "Doing", 3.0, "2020-01-02"),
      Seq("S1", 2L, "Done", 5.0, "2020-01-03"),
      Seq("S2", 3L, "Doing", 2.0, "2020-02-01"),
      Seq("S2", 4L, "Todo", 8.0, "2020-02-02"),
      Seq("S3", 5L, "Done", 1.0, "2020-03-01")))

  private def run(hb: String, df: DataFrame): DataFrame =
    Graft.run(graft.hb.Ast.Program(
      graft.hb.Ast.Header(Map(), Map(), Map()),
      hb.split("\n").map(_.trim).filter(_.nonEmpty)
        .map(l => HbParser.parseStatement(l)).toSeq), df)

  test("only + create column + rename + slice") {
    val out = run(
      """only (State = 'Done')
        |create column Double (Points * 2)
        |rename column Double Dbl
        |slice columns Item Dbl Nope""".stripMargin, workitems)
    assert(out.columns.toSeq == Seq("Item", "Dbl"))
    assert(out.orderBy("Item").collect().map(_.getDouble(1)).toSeq ==
      Seq(6.0, 10.0, 2.0))
  }

  test("group by -> maxby keeps the extremal full row") {
    val out = run("group by Item -> maxby Changed", workitems)
    assert(out.count() == 5)
    val item1 = out.filter(out("Item") === 1L).head()
    assert(item1.getAs[String]("State") == "Done") // latest change wins
  }

  test("group by -> sum reduces numerics, key reified via keys") {
    val out = run(
      """group by Sprint -> sum
        |create column Sprint keys""".stripMargin, workitems)
    val rows = out.orderBy("Sprint").collect()
    assert(rows.map(_.getAs[String]("Sprint")).toSeq == Seq("S1", "S2", "S3"))
    assert(rows.map(_.getAs[Double]("Points")).toSeq == Seq(11.0, 10.0, 1.0))
    // group column moved into the key, Item numeric got summed too
    assert(out.columns.toSet == Set("Points", "Item", "Sprint"))
  }

  test("pivot emits row key column + dynamic columns") {
    val out = run("pivot [Sprint] [State] -> count [Item]", workitems)
    assert(out.columns.toSet == Set("Sprint", "Done", "Doing", "Todo"))
    val s1 = out.filter(out("Sprint") === "S1").head()
    assert(s1.getAs[Long]("Done") == 2L)
    assert(s1.getAs[Long]("Doing") == 1L)
    assert(s1.isNullAt(s1.fieldIndex("Todo")))
  }

  test("sort + moving mean with missing prefix (Velocity.hb:29-31 shape)") {
    val df = Ingest.localData(spark, Seq("k", "v"),
      Seq(Seq(1L, 2.0), Seq(2L, 4.0), Seq(3L, 6.0), Seq(4L, 8.0)))
    val out = run(
      """sort by column k
        |create column m (moving mean 2 [v])""".stripMargin, df)
    val ms = out.orderBy("k").collect().map(r =>
      if (r.isNullAt(r.fieldIndex("m"))) null else r.getAs[Double]("m"))
    assert(ms.toSeq == Seq(null, 3.0, 5.0, 7.0))
  }

  test("expanding sum is a running total") {
    val df = Ingest.localData(spark, Seq("k", "v"),
      Seq(Seq(1L, 1.0), Seq(2L, 2.0), Seq(3L, 3.0)))
    val out = run(
      """sort by column k
        |create column r (expanding sum [v])""".stripMargin, df)
    assert(out.orderBy("k").collect().map(_.getAs[Double]("r")).toSeq ==
      Seq(1.0, 3.0, 6.0))
  }

  test("if / regex / int / format date expressions") {
    val df = Ingest.localData(spark, Seq("name", "d"),
      Seq(Seq("Sprint 12 alpha", "2020-03-05"), Seq("Sprint 7", "2021-11-30")))
    val out = run(
      """create column n (int (regex [name] /[Ss]print [^\\d]*([\\d]+).*/ [$1]))
        |create column big (if [n > 10] {'big'} else {'small'})
        |create column y (format date "d" year)
        |create column w (format date "d" weekday)""".stripMargin, df)
    val rows = out.orderBy("n").collect()
    assert(rows.map(_.getAs[Int]("n")).toSeq == Seq(7, 12))
    assert(rows.map(_.getAs[String]("big")).toSeq == Seq("small", "big"))
    assert(rows.map(_.getAs[Int]("y")).toSeq == Seq(2021, 2020))
  }

  test("dense rows and dense columns at the 50% threshold") {
    val df = Ingest.localData(spark, Seq("a", "b", "c"),
      Seq(Seq(1L, null, null), Seq(2L, "x", null), Seq(3L, "y", null)))
    val dr = run("dense rows", df)
    assert(dr.count() == 2) // rows with ≥2 of 3 non-null
    val dc = run("dense columns", df)
    assert(dc.columns.toSet == Set("a", "b")) // c is 100% null
  }

  test("numeric columns") {
    assert(run("numeric columns", workitems).columns.toSet ==
      Set("Item", "Points"))
  }

  test("buckets splits by current order and reduces") {
    val df = Ingest.localData(spark, Seq("k", "v"),
      (1L to 8L).map(i => Seq(i, i.toDouble)))
    val out = run(
      """sort by column k
        |buckets (2) -> (sum)""".stripMargin, df)
    val sums = out.orderBy("k").collect().map(_.getAs[Double]("v"))
    assert(sums.toSeq == Seq(1 + 2 + 3 + 4.0, 5 + 6 + 7 + 8.0))
  }

  test("each mean reduces across numeric cells per row") {
    val df = Ingest.localData(spark, Seq("a", "b", "s"),
      Seq(Seq(1.0, 3.0, "x"), Seq(10.0, 20.0, "y")))
    val out = run("each mean", df)
    assert(out.columns.toSeq == Seq("mean"))
    assert(out.orderBy("mean").collect().map(_.getDouble(0)).toSeq ==
      Seq(2.0, 15.0))
  }

  test("ordinals and keys") {
    val df = Ingest.localData(spark, Seq("k", "v"),
      Seq(Seq[Any](10L, 1.0), Seq[Any](20L, 2.0)))
    val out = run(
      """index rows by k
        |create column theKey keys
        |create column ord ordinals""".stripMargin, df)
    val rows = out.orderBy("k").collect()
    assert(rows.map(_.getAs[Long]("theKey")).toSeq == Seq(10L, 20L))
    assert(rows.map(_.getAs[Long]("ord")).toSeq == Seq(0L, 1L))
  }

  test("linear extrapolation appends predicted rows (Metrics.fs crash fix)") {
    val df = Ingest.localData(spark, Seq("v"),
      (1L to 10L).map(i => Seq(2.0 * i)))
    val out = run(
      """index rows by ordinals
        |create column pred (linear extrapolation [v] 3 5)""".stripMargin, df)
    assert(out.count() == 13)
    val preds = out.orderBy(out("pred").desc).limit(3)
      .collect().map(_.getAs[Double]("pred")).sorted
    // y = 2(x+1) at x = 10, 11, 12 → 22, 24, 26
    assert(preds.zip(Seq(22.0, 24.0, 26.0)).forall {
      case (a, b) => math.abs(a - b) < 1e-9 })
  }

  test("k-means clusters separable data") {
    val df = Ingest.localData(spark, Seq("x"),
      Seq(Seq(1.0), Seq(1.1), Seq(0.9), Seq(100.0), Seq(101.0), Seq(99.0)))
    val out = run("k-means (2) -> (mean)", df)
    val means = out.collect().map(_.getAs[Double]("x")).sorted
    assert(math.abs(means(0) - 1.0) < 0.2 && math.abs(means(1) - 100.0) < 1.0)
  }

  test("k-means drops NaN-feature rows like null ones — no spurious " +
    "null-key group (ADVICE r4)") {
    val df = Ingest.localData(spark, Seq("x"),
      Seq(Seq(1.0), Seq(1.1), Seq(0.9), Seq(100.0), Seq(101.0),
        Seq(Double.NaN)))
    val out = run("k-means (2) -> (count)", df)
    val keys = out.collect().map(_.get(0))
    assert(!keys.contains(null), keys.mkString(","))
    // 5 usable rows split 3 + 2; the NaN row is in neither cluster
    assert(out.collect().map(_.getAs[Long]("x")).sum == 5)
  }

  test("k-means with fewer usable rows than k fails loudly " +
    "(SCALE.md deliberate deviation, int()-style strictness)") {
    val df = Ingest.localData(spark, Seq("x"),
      Seq(Seq(1.0), Seq(2.0), Seq(3.0)))
    val e = intercept[IllegalArgumentException] {
      run("k-means (4) -> (mean)", df).collect()
    }
    assert(e.getMessage.contains("at least"))
  }

  test("`shards` without a prior `shuffle` fails loudly, by name") {
    val df = Ingest.localData(spark, Seq("x"), Seq(Seq(1.0), Seq(2.0)))
    val e = intercept[IllegalArgumentException] {
      run("index rows by x\nshards 4", df).collect()
    }
    assert(e.getMessage.contains("shuffle"))
  }

  test("full Velocity-shaped program end-to-end") {
    val out = run(
      """only !(State = 'Todo')
        |group by Sprint Item -> maxby Changed
        |pivot [Sprint] [State] -> count [Item]
        |sort by column Sprint
        |create column m (moving mean 2 [Done])
        |slice columns Sprint Done m""".stripMargin, workitems)
    val rows = out.orderBy("Sprint").collect()
    assert(rows.length == 3)
    assert(rows.map(r => Option(r.getAs[Any]("Done"))).toSeq ==
      Seq(Some(2L), None, Some(1L)))
  }

  private def windowNodes(df: DataFrame) =
    df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }

  test("series opt-in: keyed moving/expanding/ordinals, every window partitioned") {
    val df = Ingest.localData(spark, Seq("g", "k", "v"),
      Seq(Seq("a", 1L, 2.0), Seq("a", 2L, 4.0), Seq("a", 3L, 6.0),
        Seq("b", 1L, 10.0), Seq("b", 2L, 20.0)))
    val out = Graft.runHb(
      """series: g
        |
        |sort by column k
        |create column m (moving mean 2 [v])
        |create column r (expanding sum [v])
        |create column o (ordinals)
        |""".stripMargin, df)
    val rows = out.orderBy("g", "k").collect()
    val m = rows.map(r =>
      if (r.isNullAt(r.fieldIndex("m"))) null else r.getAs[Double]("m"))
    assert(m.toSeq == Seq(null, 3.0, 5.0, null, 15.0)) // prefix per series
    assert(rows.map(_.getAs[Double]("r")).toSeq ==
      Seq(2.0, 6.0, 12.0, 10.0, 30.0))
    assert(rows.map(_.getAs[Long]("o")).toSeq == Seq(0L, 1L, 2L, 0L, 1L))
    val wins = windowNodes(out)
    assert(wins.nonEmpty && wins.forall(_.partitionSpec.nonEmpty),
      "a whole-frame WindowExec survived the series opt-in")
  }

  test("un-keyed moving/expanding above the size threshold: a named " +
      "warning fires; strict mode raises; series:-keyed never does") {
    val df = Ingest.localData(spark, Seq("g", "k", "v"),
      Seq(Seq("a", 1L, 2.0), Seq("a", 2L, 4.0), Seq("b", 1L, 10.0)))
    val conf = spark.conf
    conf.set("graft.window.warnBytes", "0") // any frame trips it
    try {
      // warn path: the named warning reaches Console.err
      val buf = new java.io.ByteArrayOutputStream()
      Console.withErr(new java.io.PrintStream(buf)) {
        Graft.runHb("sort by column k\ncreate column r (expanding sum [v])",
          df).collect()
      }
      assert(buf.toString.contains("whole-frame-window"), buf.toString)
      // strict path: raises, naming the series: opt-in
      conf.set("graft.window.strict", "true")
      val e = intercept[IllegalArgumentException] {
        Graft.runHb("sort by column k\ncreate column m (moving mean 2 [v])",
          df).collect()
      }
      assert(e.getMessage.contains("series:"), e.getMessage)
      // a series: key silences both modes — the scale path is keyed
      val buf2 = new java.io.ByteArrayOutputStream()
      val out = Console.withErr(new java.io.PrintStream(buf2)) {
        Graft.runHb(
          "series: g\n\nsort by column k\ncreate column r (expanding sum [v])",
          df)
      }
      assert(out.count() == 3)
      assert(!buf2.toString.contains("whole-frame-window"), buf2.toString)
    } finally {
      conf.unset("graft.window.warnBytes")
      conf.unset("graft.window.strict")
    }
  }

  test("Dsl withSeries keys ordered windows like the series: header") {
    import graft.hb.Dsl._
    val df = Ingest.localData(spark, Seq("g", "k", "v"),
      Seq(Seq("a", 1L, 2.0), Seq("a", 2L, 4.0), Seq("b", 1L, 10.0)))
    val out = transformation(
      sortBy("k"),
      create("r", expanding(sum, c("v"))))
      .withSeries("g").run(df)
    assert(out.orderBy("g", "k").collect().map(_.getAs[Double]("r")).toSeq
      == Seq(2.0, 6.0, 10.0))
    val wins = windowNodes(out)
    assert(wins.nonEmpty && wins.forall(_.partitionSpec.nonEmpty))
  }

  test("multi-column series keys windows by the pair; toHb keeps the header") {
    import graft.hb.Dsl._
    val df = Ingest.localData(spark, Seq("g", "h", "k", "v"),
      Seq(Seq("a", "x", 1L, 1.0), Seq("a", "x", 2L, 2.0),
        Seq("a", "y", 1L, 10.0), Seq("b", "x", 1L, 100.0)))
    val t0 = transformation(
      sortBy("k"),
      create("r", expanding(sum, c("v"))))
      .withSeries("g", "h")
    val direct = t0.run(df)
    // per-(g,h) running sums
    assert(direct.orderBy("g", "h", "k").collect()
      .map(_.getAs[Double]("r")).toSeq == Seq(1.0, 3.0, 10.0, 100.0))
    val wins = windowNodes(direct)
    assert(wins.nonEmpty && wins.forall(_.partitionSpec.size == 2))
    // the printed .hb form keeps `series:` — text round-trip is keyed too
    assert(t0.toHb.startsWith("series: g h\n"))
    val roundTrip = Graft.runHb(t0.toHb, df)
    assert(roundTrip.orderBy("g", "h", "k").collect()
      .map(_.getAs[Double]("r")).toSeq == Seq(1.0, 3.0, 10.0, 100.0))
    assert(windowNodes(roundTrip).forall(_.partitionSpec.size == 2))
  }

  test("series columns consumed by an aggregation fall back to whole-frame") {
    val df = Ingest.localData(spark, Seq("g", "v"),
      Seq(Seq("a", 1.0), Seq("a", 2.0), Seq("b", 10.0)))
    val out = Graft.runHb(
      """series: g
        |
        |group by g -> sum
        |create column r (expanding sum [v])
        |create column g keys
        |""".stripMargin, df)
    // `group by` consumed g into the key, so the expanding sum computed
    // right after is whole-frame (key order) — a cumulative across
    // groups, the MTTR.hb shape; re-creating g afterwards re-activates
    // the keyed mode for later windows
    assert(out.orderBy("g").collect().map(_.getAs[Double]("r")).toSeq ==
      Seq(3.0, 13.0))
  }

  test("variance/stddev of an all-null group is NULL, not -0.0") {
    val df = Ingest.localData(spark, Seq("g", "v"),
      Seq(Seq("a", null), Seq("a", null), Seq("b", 1.0), Seq("b", 3.0)))
    val out = run(
      """group by g -> variance
        |create column g keys
        |""".stripMargin, df)
    val rows = out.orderBy("g").collect()
    assert(rows(0).isNullAt(rows(0).fieldIndex("v")),
      "all-null group variance must stay NULL like var_samp")
    assert(rows(1).getAs[Double]("v") == 2.0)
  }

  test("series deactivates when an aggregation reduces the series column") {
    // g2 is numeric and NOT the group key: `group by day -> sum` reduces
    // it to sum(g2) under the same name — a later window must NOT key on
    // those aggregates
    val df = Ingest.localData(spark, Seq("day", "g2", "v"),
      Seq(Seq("d1", 1L, 1.0), Seq("d1", 2L, 2.0), Seq("d2", 7L, 10.0)))
    val out = Graft.runHb(
      """series: g2
        |
        |group by day -> sum
        |create column day keys
        |sort by column day
        |create column r (expanding sum [v])
        |""".stripMargin, df)
    // whole-frame cumulative across day rows (3.0 then 13.0) — a stale
    // series key would instead restart per sum(g2) value
    assert(out.orderBy("day").collect().map(_.getAs[Double]("r")).toSeq ==
      Seq(3.0, 13.0))
  }

  test("explicit pivot values match a DOUBLE column's string form") {
    val df = Ingest.localData(spark, Seq("k", "score", "id"),
      Seq(Seq("a", 1.0, 10L), Seq("a", 2.0, 11L), Seq("b", 1.0, 12L)))
    val out = run("pivot [k] [score] -> count [id] [1; 2]", df)
    // a double column casts 1 to "1.0"; the declared values must follow
    assert(out.columns.toSet == Set("k", "1.0", "2.0"))
    val a = out.filter(out("k") === "a").head()
    assert(a.getAs[Long]("1.0") == 1L && a.getAs[Long]("2.0") == 1L)
  }

  test("linear regression is an aggregate + broadcast join, not a window") {
    val df = Ingest.localData(spark, Seq("x", "y"),
      Seq(Seq(1.0, 5.0), Seq(2.0, 7.0), Seq(3.0, 9.0), Seq(4.0, 11.0)))
    val out = run("create column p (linear regression [x] [y])", df)
    // y = 2x+3 exactly → the fit reproduces it bit-exactly
    assert(out.orderBy("x").collect().map(_.getAs[Double]("p")).toSeq ==
      Seq(5.0, 7.0, 9.0, 11.0))
    assert(windowNodes(out).isEmpty, "linreg still compiles to a window")
    assert(out.columns.toSet == Set("x", "y", "p")) // temps dropped
  }

  test("linear regression with an active series key fits per series") {
    val df = Ingest.localData(spark, Seq("g", "x", "y"),
      Seq(Seq("a", 1.0, 5.0), Seq("a", 2.0, 7.0), Seq("a", 3.0, 9.0),
        Seq("b", 1.0, 1.0), Seq("b", 2.0, 0.0), Seq("b", 3.0, -1.0)))
    val out = Graft.runHb(
      """series: g
        |
        |create column p (linear regression [x] [y])
        |""".stripMargin, df)
    val rows = out.orderBy("g", "x").collect()
    // a: y=2x+3; b: y=2-x — both exact fits
    assert(rows.map(_.getAs[Double]("p")).toSeq ==
      Seq(5.0, 7.0, 9.0, 1.0, 0.0, -1.0))
    assert(windowNodes(out).isEmpty)
  }

  test("linreg in maxby picks the extremal-residual row per group") {
    val df = Ingest.localData(spark, Seq("g", "x", "y"),
      Seq(Seq("a", 1.0, 5.0), Seq("a", 2.0, 7.0), Seq("a", 3.0, 50.0),
        Seq("b", 1.0, 5.0), Seq("b", 2.0, 99.0), Seq("b", 3.0, 9.0)))
    // whole-frame fit; per group keep the row with the largest residual
    val out = run(
      "group by g -> maxby (y - linear regression [x] [y])", df)
    val rows = out.orderBy("g").collect()
    assert(rows.map(_.getAs[Double]("y")).toSeq == Seq(50.0, 99.0))
    assert(out.columns.toSet == Set("g", "x", "y")) // temps dropped
    assert(windowNodes(out).forall(_.partitionSpec.nonEmpty))
  }

  test("linreg usable inside a larger expression (residuals via only)") {
    val df = Ingest.localData(spark, Seq("x", "y"),
      Seq(Seq(1.0, 5.0), Seq(2.0, 7.0), Seq(3.0, 9.0), Seq(4.0, 11.0),
        Seq(5.0, 100.0)))
    val out = run("only ((y - linear regression [x] [y]) > 30)", df)
    assert(out.count() == 1) // only the planted outlier exceeds +30
    assert(out.head().getAs[Double]("y") == 100.0)
    assert(out.columns.toSet == Set("x", "y")) // temps dropped
  }

  test("pivot with explicit values declares the schema, no discovery job") {
    // JobCounter counts the jobs of one Instrument span; any constant
    // cost cancels against the measured empty-body baseline
    val baseline = JobCounter.count(spark) {}
    var withValues: DataFrame = null
    val buildJobs = JobCounter.count(spark) {
      withValues =
        run("pivot [Sprint] [State] -> count [Item] ['Done'; 'Doing']",
          workitems)
    } - baseline
    assert(withValues.columns.toSet == Set("Sprint", "Done", "Doing"))
    assert(buildJobs == 0,
      s"explicit-values pivot ran $buildJobs job(s) during planning")
    val s1 = withValues.filter(withValues("Sprint") === "S1").head()
    assert(s1.getAs[Long]("Done") == 2L)
    assert(s1.getAs[Long]("Doing") == 1L)
    // discovery path: same cells, but a distinct-collect job runs
    var discovered: DataFrame = null
    val discoveryJobs = JobCounter.count(spark) {
      discovered = run("pivot [Sprint] [State] -> count [Item]",
        workitems)
    } - baseline
    assert(discoveryJobs > 0)
    assert(discovered.columns.toSet ==
      Set("Sprint", "Done", "Doing", "Todo"))
  }

  test("indexed neighbors restrict the query predicate to keys") {
    import spark.implicits._
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f), "a"), (1L, Seq(0.9f, 0.1f), "b"),
      (2L, Seq(0.0f, 1.0f), "a"), (3L, Seq(0.1f, 0.9f), "b"))
      .toDF("vid", "vec", "tag")
    // a predicate over a non-key column passes the exact path...
    val exact = run(
      "index rows by vid\nneighbors 2 [vec] [tag = 'a']", emb)
    assert(exact.select("query_id").distinct().count() == 2)
    // ...but the indexed paths hand the operator an id-column
    // predicate, so anything beyond `keys` must be rejected up front
    val e = intercept[IllegalArgumentException] {
      run("index rows by vid\nneighbors 2 [vec] [tag = 'a'] mmr 7", emb)
    }
    assert(e.getMessage.contains("keys"))
    // a keys-only predicate runs the indexed path end-to-end
    val mmr = run(
      "index rows by vid\nneighbors 2 [vec] [keys < 2] mmr 7", emb)
    assert(mmr.select("query_id").distinct().count() == 2)
  }

  test("bpe ids publishes the fitted merge table as column metadata — " +
      "the zero-job model tap for export/round-trip audits") {
    import graft.operators.Bpe
    import spark.implicits._
    val docs = Seq.tabulate(20)(i =>
      (i.toLong, s"the cat sat on the mat ${i % 3} times"))
      .toDF("doc_id", "text")
    val out = run("index rows by doc_id\nbpe ids text 4", docs)
    val tapped = Bpe.mergesFromMetadata(out.schema, "token_ids")
    assert(tapped.isDefined, "token_ids carries no merge metadata")
    // the published table IS the statement's fit
    assert(tapped.get ==
      Bpe.fit(docs, "text", 4, minCount = 1L, byteLevel = true))
    // tapping + the GPT-2 file round-trip is schema-only: ZERO Spark
    // jobs beyond the JobCounter empty-body baseline — the proof the
    // flagship's artifact assert no longer pays a second fit
    val baseline = JobCounter.count(spark) {}
    val tapJobs = JobCounter.count(spark) {
      val m = Bpe.mergesFromMetadata(out.schema, "token_ids").get
      val dir = java.nio.file.Files
        .createTempDirectory("graft_tap_rt").toString
      graft.sinks.TokenizerFiles.writeGpt2(dir, m)
      assert(graft.sinks.TokenizerFiles.readGpt2(dir) == m)
    } - baseline
    assert(tapJobs == 0,
      s"metadata tap + file round-trip launched $tapJobs Spark job(s)")
  }

  test("`= ''` is literal equality on STRING columns, the missing-check " +
      "only on non-string (the r16 corpus idiom split)") {
    import spark.implicits._
    val df = Seq((1L, "", Some(1.5)), (2L, "x", None),
      (3L, null.asInstanceOf[String], Some(2.5))).toDF("id", "s", "v")
    // string side: keeps the literally-empty cell only
    val eqStr = graft.hb.Graft.runHb("only (s = '')\n", df)
    assert(eqStr.select("id").collect().map(_.getLong(0)).toSeq == Seq(1L))
    // string side negated: keeps the non-empty NON-NULL cell (SQL
    // null-compare drops the null row, like Deedle's missing)
    val neStr = graft.hb.Graft.runHb("only !(s = '')\n", df)
    assert(neStr.select("id").collect().map(_.getLong(0)).toSeq == Seq(2L))
    // numeric side: '' means serialized-missing (MTTR.hb:21) — row 2's
    // null v is "= ''", rows 1 and 3 are present
    val eqNum = graft.hb.Graft.runHb("only (v = '')\n", df)
    assert(eqNum.select("id").collect().map(_.getLong(0)).toSeq == Seq(2L))
    val neNum = graft.hb.Graft.runHb("only !(v = '')\n", df)
    assert(neNum.select("id").collect().map(_.getLong(0)).toSeq ==
      Seq(1L, 3L))
    // non-empty string literals keep plain SQL comparison on numerics
    val lit = graft.hb.Graft.runHb("only (v = '1.5')\n", df)
    assert(lit.select("id").collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("fit inputs are cached only inside a scope, released at close; " +
    "rows match") {
    // the fit input (`dedup exact` is an aggregate) and the emit layout
    // are cached in the enclosing scope while the program builds and
    // runs, released when the caller closes it — and caching must not
    // change a byte of the result
    import spark.implicits._
    val docs = (0 until 60).map(i =>
      (i.toLong, s"w${i % 7} w${(i * 3) % 11} w${(i * 5) % 13} tail$i"))
      .toDF("doc_id", "text")
    val hb =
      """index rows by doc_id
        |dedup exact text
        |split 80/10/10 by doc_id 's1'
        |only (split = 'train')
        |encode text 16
        |emit packed token_ids 64 2
        |slice columns shard seq n_docs n_tokens input_ids doc_starts
        |""".stripMargin
    def rows(): Seq[String] = graft.hb.Graft.runHb(hb, docs)
      .orderBy("shard", "seq").collect().map(_.toString).toSeq
    val cm = spark.sharedState.cacheManager
    cm.clearCache()
    val unscoped = rows()
    assert(cm.isEmpty, "with no scope open nothing may be cached")
    val scoped = Scope.open { _ =>
      val r = rows()
      assert(!cm.isEmpty, "inside a scope the fit input must be cached")
      r
    }
    assert(cm.isEmpty, "closing the scope must release the fit input")
    assert(scoped == unscoped)
  }
}

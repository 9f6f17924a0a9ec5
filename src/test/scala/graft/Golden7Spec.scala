package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.hb.Graft
import graft.sources.Ingest

/** The DuckDB-independent witness for the `.hb` surface: the reference's
  * OWN 7 transformation programs (every `.hb` under
  * tests/transformations/ — the complete corpus its visualizer ships)
  * executed verbatim over small
  * raw fixtures shaped like the providers' payloads (nested odata
  * work-item revisions; nested git commits), asserting HAND-COMPUTED
  * exact cell values. Every expectation below is derived on paper from
  * the reference semantics (maxby keeps the extremal revision, moving
  * red n is missing for the first n−1 rows, pivot count of an absent
  * combo is 0, `x = ''` on a numeric column is the serialized-missing
  * check, sort-by-the-consumed-group-key means the row index) — NOT
  * from replaying an engine, so a DuckDB quirk cannot shift them.
  *
  * Two fidelity gaps in this repo were FOUND by writing this witness
  * and fixed with it (r16): numeric `= ''` compiling to an always-null
  * SQL comparison (MTTR.hb:21 would have emptied the frame), and
  * `sort by column <group-key name>` after the key column was consumed
  * (Logic Commit Frequency.hb:38 was unrunnable).
  */
class Golden7Spec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local()

  private def program(name: String): String = {
    val path = java.nio.file.Paths.get(
      s"/root/reference/tests/transformations/$name")
    assume(java.nio.file.Files.isRegularFile(path),
      s"the reference program $path is absent")
    new String(java.nio.file.Files.readAllBytes(path), "UTF-8")
  }

  private def ts(s: String): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(s)

  // ---- fixture A: raw flowerpot-corpus work-item revisions ----------
  // The shape BEFORE the uniforming chains run: nested Iteration (the
  // odata $expand payload — flatten yields the literal dotted columns
  // the programs rename), US-format dates, numerics serialized as
  // strings with "" for missing (exactly how tests/testdata.json
  // serializes LeadTimeDays/CycleTimeDays).
  private def rev(id: Int, typ: String, sprint: Int, changed: String,
      stateCat: String, state: String, cycle: String, lead: String)
      : String =
    s"""{"WorkItemId":"$id","WorkItemType":"$typ","State":"$state",""" +
      s""""StateCategory":"$stateCat","ChangedDate":"$changed",""" +
      s""""CreatedDate":"01/01/2020 00:00:00","ClosedDate":"$changed",""" +
      s""""LeadTimeDays":"$lead","CycleTimeDays":"$cycle",""" +
      s""""RevisedDate":"01/01/9999 00:00:00","Title":"T$id",""" +
      s""""Iteration":{"IterationName":"Sprint $sprint",""" +
      s""""IterationLevel2":"Iteration $sprint",""" +
      s""""IterationLevel3":"Sprint $sprint"}}"""

  private lazy val flowerpotRaw: DataFrame = Ingest.fromJson(spark, Seq(
    Seq(
      // WI 101: two revisions — maxby must keep the LATER (Done) one
      rev(101, "User Story", 1, "01/02/2020 10:00:00", "InProgress",
        "Active", "", ""),
      rev(101, "User Story", 1, "01/05/2020 10:00:00", "Completed",
        "Closed", "2.5", "4.5"),
      rev(102, "User Story", 1, "01/06/2020 10:00:00", "InProgress",
        "Active", "", ""),
      rev(103, "User Story", 2, "02/01/2020 10:00:00", "Completed",
        "Closed", "3.5", "6.5"),
      rev(104, "User Story", 2, "02/02/2020 10:00:00", "Proposed",
        "New", "1.5", ""),
      rev(105, "User Story", 3, "03/01/2020 10:00:00", "Completed",
        "Closed", "2.5", "3.5"),
      // WI 106: two revisions inside one sprint — maxby by ChangedDate
      rev(106, "User Story", 3, "03/02/2020 09:00:00", "Resolved",
        "Fixed", "4.5", "7.5"),
      rev(106, "User Story", 3, "03/02/2020 12:00:00", "Resolved",
        "Verified", "4.5", "7.5"),
      // a Bug: dropped by every program's `only (WorkItemType = …)`
      rev(107, "Bug", 3, "03/03/2020 10:00:00", "InProgress",
        "Active", "9.5", "9.5")
    ).mkString("[", ",", "]")))

  // Hand-derivation shared by flowerpot/gandalf/logic (identical chains
  // modulo which Iteration level feeds "Sprint Name"):
  //   only User Story           -> 8 revisions survive (Bug 107 out)
  //   group by IterationName, WorkItemId -> maxby ChangedDate
  //                             -> 6 rows: 101@01-05, 102, 103, 104,
  //                                105, 106@12:00
  //   Sprint Number (int regex) -> 1,1,2,2,3,3
  //   State from StateCategory  -> Done,Doing,Done,Todo,Done,Done
  //   slice columns             -> StoryPoints/Priority absent: SKIPPED
  private def uniformExpect(out: DataFrame, sprintName: Int => String)
      : Unit = {
    assert(out.count() == 6)
    // the two columns the fixture does not carry are tolerated, not
    // invented
    assert(!out.columns.contains("StoryPoints"))
    assert(!out.columns.contains("Priority"))
    val rows = out.orderBy(col("WorkItemId")).collect().map { r =>
      (r.getAs[Long]("WorkItemId"), r.getAs[String]("Sprint Name"),
        r.getAs[Int]("Sprint Number"), r.getAs[String]("State"),
        Option(r.getAs[java.lang.Double]("CycleTimeDays")).map(_.toDouble),
        r.getAs[java.sql.Timestamp]("ChangedDate"))
    }
    assert(rows.toSeq == Seq(
      (101L, sprintName(1), 1, "Done", Some(2.5), ts("2020-01-05 10:00:00")),
      (102L, sprintName(1), 1, "Doing", None, ts("2020-01-06 10:00:00")),
      (103L, sprintName(2), 2, "Done", Some(3.5), ts("2020-02-01 10:00:00")),
      (104L, sprintName(2), 2, "Todo", Some(1.5), ts("2020-02-02 10:00:00")),
      (105L, sprintName(3), 3, "Done", Some(2.5), ts("2020-03-01 10:00:00")),
      // maxby proof: the 12:00 revision's State category, not 09:00's
      (106L, sprintName(3), 3, "Done", Some(4.5), ts("2020-03-02 12:00:00"))))
    // uniforming preserved the untouched payload columns exactly
    val r101 = out.filter(col("WorkItemId") === 101L).head()
    assert(r101.getAs[String]("WorkItemType") == "User Story")
    assert(r101.getAs[String]("Title") == "T101")
    assert(r101.getAs[Double]("LeadTimeDays") == 4.5)
    assert(r101.getAs[java.sql.Timestamp]("CreatedDate") ==
      ts("2020-01-01 00:00:00"))
    assert(r101.getAs[java.sql.Timestamp]("RevisedDate") ==
      ts("9999-01-01 00:00:00"))
  }

  test("flowerpot.hb: the uniforming chain, exact cells " +
      "(Sprint Name from IterationLevel2 = 'Iteration n')") {
    uniformExpect(Graft.runHb(program("flowerpot.hb"), flowerpotRaw),
      n => s"Iteration $n")
  }

  test("gandalf.hb: exact cells (Sprint Name from IterationLevel3)") {
    uniformExpect(Graft.runHb(program("gandalf.hb"), flowerpotRaw),
      n => s"Sprint $n")
  }

  test("logic.hb: exact cells (Sprint Name from IterationName)") {
    uniformExpect(Graft.runHb(program("logic.hb"), flowerpotRaw),
      n => s"Sprint $n")
  }

  test("Velocity.hb: pivot count + moving means, exact cells") {
    // After the shared prefix: per-sprint State counts
    //   S1: Done 1, Doing 1, Todo 0   (absent pivot combo counts 0)
    //   S2: Done 1, Doing 0, Todo 1
    //   S3: Done 2, Doing 0, Todo 0
    // Done series sorted by SprintNumber = [1, 1, 2]:
    //   Velocity 3 = moving mean 3 -> missing, missing, (1+1+2)/3 = 4/3
    //   Velocity 7 = moving mean 7 -> all missing (only 3 rows)
    val out = Graft.runHb(program("Velocity.hb"), flowerpotRaw)
    assert(out.columns.toSeq == Seq("Velocity 3", "Velocity 7"))
    val rows = out.collect().map { r =>
      (Option(r.getAs[java.lang.Double]("Velocity 3")).map(_.toDouble),
        Option(r.getAs[java.lang.Double]("Velocity 7")).map(_.toDouble))
    }.toSeq
    assert(rows.length == 3)
    assert(rows.count(_ == (None, None)) == 2)
    assert(rows.contains((Some(4.0 / 3.0), None)))
  }

  test("LogicCycleTime.hb: numeric `= ''` is the serialized-missing " +
      "check; per-sprint sums, exact cells") {
    // only (User Story && CycleTimeDays present): drops 101's first
    // revision and 102 ("" = missing) and the Bug ->
    //   survivors 101@01-05(2.5), 103(3.5), 104(1.5), 105(2.5),
    //   106@09:00(4.5), 106@12:00(4.5)
    // maxby per (Sprint Name, WorkItemId) -> 5 rows (106 keeps 12:00)
    // group by SprintNumber -> sum over [temp = CycleTimeDays, tick]:
    //   S1: temp 2.5         tick 1
    //   S2: temp 3.5+1.5 = 5 tick 2
    //   S3: temp 2.5+4.5 = 7 tick 2
    val out = Graft.runHb(program("LogicCycleTime.hb"), flowerpotRaw)
    assert(out.columns.toSeq.sorted == Seq("temp", "tick"))
    val rows = out.collect()
      .map(r => (r.getAs[Double]("temp"), r.getAs[Long]("tick"))).toSet
    assert(rows == Set((2.5, 1L), (5.0, 2L), (7.0, 2L)))
  }

  // ---- fixture B: raw logic-corpus bugs (MTTR) ----------------------
  // IterationLevel2 carries "Sprint n" (the kmdlogic layout MTTR.hb
  // renames). 12 sprints so `moving mean 11` has survivors; one bug per
  // sprint with LeadTimeDays = n + 0.5, except:
  //   - sprint 1's bug has a decoy earlier revision (99.9) the maxby
  //     must discard,
  //   - sprint 12 has TWO bugs (12.5 each) so temp/tick averages and
  //     Count diverge from the trivial 1,
  //   - one bug with LeadTimeDays "" and one User Story: filtered out.
  private def bug(id: Int, typ: String, sprint: Int, changed: String,
      lead: String): String =
    s"""{"WorkItemId":"$id","WorkItemType":"$typ","State":"Active",""" +
      s""""StateCategory":"InProgress","ChangedDate":"$changed",""" +
      s""""CreatedDate":"01/01/2020 00:00:00","ClosedDate":"$changed",""" +
      s""""LeadTimeDays":"$lead","CycleTimeDays":"0.5",""" +
      s""""RevisedDate":"01/01/9999 00:00:00","Title":"B$id",""" +
      s""""Iteration":{"IterationName":"It $sprint",""" +
      s""""IterationLevel2":"Sprint $sprint",""" +
      s""""IterationLevel3":"It $sprint"}}"""

  private lazy val mttrRaw: DataFrame = Ingest.fromJson(spark, Seq(
    ((1 to 12).map(n => bug(200 + n, "Bug", n,
      f"04/${n}%02d/2020 10:00:00", s"$n.5")) ++ Seq(
      bug(201, "Bug", 1, "04/01/2020 08:00:00", "99.9"), // maxby decoy
      bug(213, "Bug", 12, "04/13/2020 10:00:00", "12.5"),
      bug(214, "Bug", 5, "04/14/2020 10:00:00", ""), // missing lead
      bug(215, "User Story", 6, "04/15/2020 10:00:00", "3.5")
    )).mkString("[", ",", "]")))

  test("MTTR.hb: 12-sprint bug lead times, exact moving-mean cells") {
    // Per-sprint LeadTimeDays (temp/tick) after maxby + group-sum:
    //   n = 1..11 -> n + 0.5 (Count 1); n = 12 -> 12.5 (Count 2)
    // Mean time to recover 5  (moving mean 5 over LeadTimeDays):
    //   row 11: mean(7.5..11.5)        = 9.5
    //   row 12: mean(8.5..11.5, 12.5)  = 10.5
    // Mean time to recover 11 (moving mean 11):
    //   row 11: mean(1.5..11.5)        = 6.5
    //   row 12: mean(2.5..11.5, 12.5)  = (70 + 12.5)/11 = 7.5
    // Mean bugs resolved pr sprint (moving mean 5 over Count):
    //   row 11: 1.0;  row 12: (1+1+1+1+2)/5 = 1.2
    // `only !(… 11 = missing)` keeps exactly rows 11 and 12.
    val out = Graft.runHb(program("MTTR.hb"), mttrRaw)
    assert(out.columns.toSeq == Seq("Mean time to recover 5",
      "Mean time to recover 11", "Mean bugs resolved pr sprint"))
    val rows = out.orderBy(col("Mean time to recover 5")).collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2))).toSeq
    assert(rows == Seq((9.5, 6.5, 1.0), (10.5, 7.5, 1.2)))
  }

  // ---- fixture C: raw git commits (Logic Commit Frequency) ----------
  // Nested committer.date (the REST payload shape). Dates: one 2018
  // commit and one 2019-06 commit (both dropped by the year/month
  // filter), one 2019-07 commit (kept), then 2020-01-01..31 with 1
  // commit/day except day 1 (31 commits) and day 31 (61 commits).
  private lazy val commitsRaw: DataFrame = {
    def c(date: String, k: Int): Seq[String] =
      (1 to k).map(i =>
        s"""{"commitId":"$date#$i","committer":{"date":"$date"},""" +
          s""""comment":"c"}""")
    val rows =
      c("2018-05-01T09:00:00Z", 1) ++
        c("2019-06-30T09:00:00Z", 1) ++
        c("2019-07-10T09:00:00Z", 1) ++
        (1 to 31).flatMap { d =>
          val k = if (d == 1) 31 else if (d == 31) 61 else 1
          c(f"2020-01-${d}%02dT09:00:00Z", k)
        }
    Ingest.fromJson(spark, Seq(rows.mkString("[", ",", "]")))
  }

  test("Logic Commit Frequency.hb: per-day commit counts, exact " +
      "moving-mean cells (sort by the consumed group key)") {
    // Day rows after filter + group-sum, in date order:
    //   2019-07-10 (1), 2020-01-01 (31), 2020-01-02..30 (1 each),
    //   2020-01-31 (61) -> 32 rows
    // Frequency = moving mean 30 [count] — missing until row 30:
    //   row 30 (Jan 29): (1 + 31 + 28·1)/30 = 60/30 = 2.0
    //   row 31 (Jan 30): (31 + 29·1)/30     = 60/30 = 2.0
    //   row 32 (Jan 31): (29·1 + 61)/30     = 90/30 = 3.0
    // Frequency long = moving mean 90 — always missing here.
    // `only !(Frequency = missing)` keeps rows 30..32.
    val out = Graft.runHb(program("Logic Commit Frequency.hb"), commitsRaw)
    assert(out.columns.toSeq == Seq("Frequency", "Frequency long"))
    val rows = out.collect().map { r =>
      (r.getAs[Double]("Frequency"),
        Option(r.getAs[java.lang.Double]("Frequency long")))
    }.toSeq
    assert(rows.sortBy(_._1) == Seq((2.0, None), (2.0, None), (3.0, None)))
  }
}

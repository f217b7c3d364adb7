package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TestBus
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.pipeline.{Pipeline, Schemas}
import graft.sources.Sources

/** End-to-end DAG parity: the full reference workflow in one Spark app,
  * including the all-sources-failed degradation path.
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def empty(s: org.apache.spark.sql.types.StructType) =
    Sources.emptyWithSchema(spark, s)

  private val dims = Pipeline.Dims(
    teams = Seq(("Arsenal", 0.7, 0.6, 0.8)).toDF(
      "team", "gk_rating", "setpiece_rating", "crowd_index"),
    stadiums = Seq(("Arsenal", "Emirates", 51.5549, -0.1084),
      ("Chelsea", "Stamford Bridge", 51.4817, -0.191)).toDF(
      "team", "stadium", "lat", "lon"),
    refs = Seq(("Ref A", 0.35)).toDF("ref_name", "ref_pen_rate"),
    injuries = Seq((Timestamp.valueOf("2024-08-17 00:00:00"), "Chelsea", 0.5))
      .toDF("date", "team", "injury_index"),
    lineups = Seq((Timestamp.valueOf("2024-08-17 00:00:00"), "Chelsea", 1, 0, 1))
      .toDF("date", "team", "key_att_out", "key_def_out", "keeper_changed"),
    nameMap = Seq(("The Gunners", "Arsenal")).toDF("raw", "canonical"))

  private val rawLeague = Seq(
    ("17/08/2024", "The Gunners", "Chelsea", "2", "1", 1.8, 3.5, 4.2))
    .toDF("Date", "HomeTeam", "AwayTeam", "FTHG", "FTAG", "B365H", "B365D", "B365A")
  private val oddsJson =
    """[{"home_team":"Arsenal","away_team":"Chelsea",
        "commence_time":"2024-08-24T16:30:00Z",
        "bookmakers":[{"key":"bm","markets":[{"key":"h2h","outcomes":[
          {"name":"Arsenal","price":1.9},{"name":"Draw","price":3.6},
          {"name":"Chelsea","price":3.9}]}]}]}]"""
  private val xgCur = Seq(("Arsenal", 1, "2.1", "0.9", "1.2", "0.5"),
    ("Chelsea", 1, "1.8", "1.1", "0.7", "0.2"))
    .toDF("team", "league_id", "xg", "xga", "xgd", "xgd90")
  private val xgLast = Seq(("Arsenal", 1, "1.9", "1.0", "0.9", "0.3"))
    .toDF("team", "league_id", "xg", "xga", "xgd", "xgd90")

  private def fullInputs = Pipeline.Inputs(
    Seq(rawLeague), Some(oddsJson), manualOdds = None,
    Some(xgCur), Some(xgLast), dims)

  test("full DAG: ingest → odds → xg → priors → enrich → build → validate") {
    val out = Pipeline.run(spark, fullInputs)

    assert(out.reports.forall(_.ok), s"contract violations: ${out.reports}")
    val h = out.hist.collect()(0)
    assert(out.hist.columns.toSeq == Schemas.histColumns)
    assert(h.getAs[String]("home_team") == "Arsenal") // name-mapped
    assert(h.getAs[Int]("home_goals") == 2)
    assert(h.getAs[Double]("home_odds_dec") == 1.8)
    val u = out.upcoming.collect()(0)
    assert(out.upcoming.columns.toSeq == Schemas.upcomingColumns)
    assert(u.getAs[Double]("draw_odds_dec") == 3.6)
    // final canonical projection drops xg columns (reference template has
    // none); the blend is observable on the hybrid table:
    // 0.6*2.1+0.4*1.9 for Arsenal, cur-only for Chelsea
    val xgRows = out.xgHybrid.orderBy("team").collect()
    assert(math.abs(xgRows(0).getAs[Double]("xg_hybrid") - 2.02) < 1e-9)
    assert(xgRows(1).getAs[Double]("xg_hybrid") == 1.8)
    // priors derived from xg replace the teams dim
    assert(out.teamsMaster.columns.contains("gk_rating"))
  }

  test("manual override beats the odds API (S7)") {
    val manual = Seq((Timestamp.valueOf("2024-09-01 15:00:00"), "A", "B", 2.0, 3.0, 4.0))
      .toDF("date", "home_team", "away_team",
        "home_odds_dec", "draw_odds_dec", "away_odds_dec")
    val out = Pipeline.run(spark, Pipeline.Inputs(
      Nil, Some("""[{"home_team":"X","away_team":"Y","commence_time":"2024-09-02T12:00:00Z","bookmakers":[]}]"""),
      Some(manual), None, None, dims))
    val u = out.upcoming.collect()
    assert(u.length == 1 && u(0).getAs[String]("home_team") == "A")
  }

  test("degradation: every source failed → schema-valid empty outputs, DAG completes") {
    val out = Pipeline.run(spark, Pipeline.Inputs(
      Nil, None, None, None, None,
      Pipeline.Dims(empty(Schemas.teamsMaster), empty(Schemas.stadiums),
        empty(Schemas.refBaselines), empty(Schemas.injuries),
        empty(Schemas.lineups), empty(Schemas.teamNameMap))))
    assert(out.reports.forall(_.ok))
    assert(out.hist.columns.toSeq == Schemas.histColumns)
    assert(out.hist.isEmpty && out.upcoming.isEmpty)
  }

  test("write: parity CSV outputs land as single header-ed files") {
    val dir = Files.createTempDirectory("graft_pipe_").toString
    val out = Pipeline.run(spark, Pipeline.Inputs(
      Seq(Seq(("01/09/2024", "Arsenal", "Chelsea", "1", "1", 2.0))
        .toDF("Date", "HomeTeam", "AwayTeam", "FTHG", "FTAG", "B365H")),
      None, None, None, None, dims))
    Pipeline.write(out, dir)
    val histLines = Files.readAllLines(Paths.get(s"$dir/HIST_matches.csv"))
    assert(histLines.get(0) == Schemas.histColumns.mkString(","))
    assert(histLines.size == 2)
  }

  test("each output executes once: run and both writes plan the enrichment twice") {
    // every execution of an enriched fact carries its broadcast dim joins;
    // run, the CSV write and the parquet write together must execute the
    // two outputs once each, not once per consumer
    val enriched = new AtomicInteger
    val listener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (find(qe.executedPlan)(_.isInstanceOf[BroadcastHashJoinExec]).isDefined)
          enriched.incrementAndGet()
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val dir = Files.createTempDirectory("graft_pipe_once_").toString
    spark.listenerManager.register(listener)
    try {
      val out = Pipeline.run(spark, fullInputs)
      Pipeline.write(out, s"$dir/csv")
      Pipeline.write(out, s"$dir/parquet", parquet = true)
      out.release()
      TestBus.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    assert(enriched.get == 2)
  }

  test("release: a run leaves no persisted blocks once its outputs are released") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = Pipeline.run(spark, fullInputs)
    // the two materialized outputs hold blocks; the xG and priors
    // materializations were freed inside run
    assert((sc.getPersistentRDDs.keySet -- before).size == 2)
    assert(out.hist.count() == 1 && out.upcoming.count() == 1)
    out.release()
    assert(sc.getPersistentRDDs.keySet == before)
    // the lazy outputs hold no blocks and stay readable
    assert(out.xgHybrid.count() == 2 && out.teamsMaster.count() == 2)
  }
}

package graft.pipeline

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{Ck, Validate}
import graft.sources.{Sinks, Sources}

/** The reference's end-to-end daily DAG (pipeline.yml:30-74) as ONE Spark
  * application: where the reference runs 9 python processes exchanging CSV
  * files on disk, this exchanges DataFrames in memory and only
  * materializes the canonical outputs (plus optional intermediate dumps
  * for the reference's resume/debug-ability).
  *
  * Stage order (reference):
  *   fetch_football_data → fetch_the_odds_api → fetch_fbr_team_xg →
  *   bootstrap_team_priors → ensure_min_files → enrich_features →
  *   build_hist_and_upcoming → validate_data
  *
  * All network sources arrive through [[Sources.Fetcher]] so deployments
  * inject real HTTP and tests inject canned bodies; every fetch failure
  * degrades to an empty-but-valid frame (S6) and the DAG completes.
  *
  * Each canonical output executes ONCE per [[run]]: `hist` and `upcoming`
  * are materialized inside `run` through [[Ck.cp]] (a local checkpoint, or
  * a durable one under `spark.graft.reliableCheckpoint`), so the
  * validation counts and every [[write]] read those rows instead of
  * re-planning and re-running the enrichment. The xG blend and the team
  * priors both enrichments join are materialized once too, and freed
  * before `run` returns (the output checkpoints have truncated their
  * lineage). The caller owns the two output checkpoints' blocks and frees
  * them with [[Outputs.release]]; `teamsMaster` and `xgHybrid` are
  * returned as lazy frames that hold no blocks.
  */
object Pipeline {

  final case class Inputs(
      histCsvBodies: Seq[DataFrame],      // S1: per-league raw frames
      oddsJsonBody: Option[String],       // S3: odds REST response
      manualOdds: Option[DataFrame],      // S7: override table
      xgCurrent: Option[DataFrame],       // S4: current-season standings
      xgLast: Option[DataFrame],          // S4: previous-season standings
      dims: Dims)

  final case class Dims(
      teams: DataFrame, stadiums: DataFrame, refs: DataFrame,
      injuries: DataFrame, lineups: DataFrame, nameMap: DataFrame)

  final case class Outputs(hist: DataFrame, upcoming: DataFrame,
                           teamsMaster: DataFrame, xgHybrid: DataFrame,
                           reports: Seq[Validate.ContractReport]) {
    /** Frees the materialized `hist` and `upcoming` rows; neither frame
      * may be read afterwards.
      */
    def release(): Unit = { Ck.free(hist); Ck.free(upcoming) }
  }

  def run(spark: SparkSession, in: Inputs): Outputs = {
    // 1. historical ingest (entry point 1)
    val hist0 =
      if (in.histCsvBodies.nonEmpty) Ingest.ingest(in.histCsvBodies)
      else Sources.emptyWithSchema(spark, Schemas.hist)

    // 2. upcoming fixtures: manual override ▸ odds JSON ▸ empty-valid
    val oddsRequired = Seq("date", "home_team", "away_team",
      "home_odds_dec", "draw_odds_dec", "away_odds_dec")
    val upcoming0 = Sources.withOverride(in.manualOdds, oddsRequired,
      in.oddsJsonBody.map(OddsJson.parseGames(spark, _))
        .getOrElse(Sources.emptyWithSchema(spark, Schemas.upcoming)))

    // 3. xG hybrid + team priors (entry point 3), materialized once for
    // both enrichments
    val xg = (in.xgCurrent, in.xgLast) match {
      case (Some(c), Some(l)) => XgHybrid.blend(c, l)
      case _ => Sources.emptyWithSchema(spark, Schemas.xgHybrid)
    }
    val xgRows = Ck.cp(xg, eager = true)
    val xgEmpty = xgRows.isEmpty
    val priors = if (xgEmpty) in.dims.teams else XgHybrid.teamPriors(xg)
    val priorRows = if (xgEmpty) priors else Ck.cp(XgHybrid.teamPriors(xgRows), eager = true)

    // 4. enrichment (entry point 2) over both fact tables, each output
    // executed once
    def enrich(df: DataFrame, columns: Seq[String]): DataFrame =
      Ck.cp(Enrich.buildFinal(Enrich.enrich(df, priorRows, in.dims.stadiums,
        in.dims.refs, in.dims.injuries, in.dims.lineups, xgRows,
        in.dims.nameMap), columns), eager = true)

    val (hist, upcoming) =
      try (enrich(hist0, Schemas.histColumns), enrich(upcoming0, Schemas.upcomingColumns))
      finally { Ck.free(xgRows); if (!xgEmpty) Ck.free(priorRows) }

    // 5. validation (the reference's de-facto spec)
    val reports = Seq(
      Validate.report("HIST_matches", hist, Schemas.histColumns),
      Validate.report("UPCOMING_fixtures", upcoming, Schemas.upcomingColumns))

    Outputs(hist, upcoming, priors, xg, reports)
  }

  /** Materialize the canonical outputs the way the reference does: one
    * header-ed CSV per table (parity mode) or partitioned parquet (scale
    * mode).
    */
  def write(out: Outputs, dir: String, parquet: Boolean = false): Unit = {
    Files.createDirectories(Paths.get(dir))
    if (parquet) {
      Sinks.parquetPartitioned(out.hist, s"$dir/HIST_matches")
      Sinks.parquetPartitioned(out.upcoming, s"$dir/UPCOMING_fixtures")
    } else {
      Sinks.singleFileCsv(out.hist, s"$dir/HIST_matches.csv")
      Sinks.singleFileCsv(out.upcoming, s"$dir/UPCOMING_fixtures.csv")
    }
  }
}

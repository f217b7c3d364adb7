package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.engine.Ops
import graft.functions.F

/** Entry point 1 parity — historical match ingest
  * (reference fetch_football_data.py:29-70): header-uppercase, schema-
  * driven odds-column fallback, canonical projection, key dropna, coercing
  * day-first date parse, constant defaults, tolerant union, global date
  * sort. One Spark job; the only shuffle is the final sort.
  */
object Ingest {

  import F.{Defaults => D}

  /** Bookmaker fallback chains (reference fetch_football_data.py:32-34). */
  val oddsHome: Seq[String] = Seq("B365H", "PSH", "WHH", "IWH")
  val oddsDraw: Seq[String] = Seq("B365D", "PSD", "WHD", "IWD")
  val oddsAway: Seq[String] = Seq("B365A", "PSA", "WHA", "IWA")

  /** The F15 constant defaults every ingested row carries. */
  private val constants: Seq[(String, Column)] = Seq(
    "home_rest_days" -> lit(D.restDays), "away_rest_days" -> lit(D.restDays),
    "home_travel_km" -> lit(200.0), "away_travel_km" -> lit(200.0),
    "home_injury_index" -> lit(D.injuryIndex), "away_injury_index" -> lit(D.injuryIndex),
    "home_gk_rating" -> lit(D.gkRating), "away_gk_rating" -> lit(D.gkRating),
    "home_setpiece_rating" -> lit(D.setpieceRating),
    "away_setpiece_rating" -> lit(D.setpieceRating),
    "ref_pen_rate" -> lit(D.refPenRate), "crowd_index" -> lit(D.crowdIndex))

  /** P7 + P8 + P5 + F1 + F15 over one raw bookmaker CSV frame. */
  def normalize(raw: DataFrame): DataFrame = {
    val up = raw.toDF(raw.columns.map(_.toUpperCase).toIndexedSeq: _*)
    def pick(cands: Seq[String]): Column =
      Ops.firstPresent(up, cands, lit(null).cast(DoubleType))
    def named(n: String): Column =
      if (up.columns.contains(n)) col(n) else lit(null).cast("string")
    up.select(
        named("DATE").as("date_raw"),
        named("HOMETEAM").as("home_team"),
        named("AWAYTEAM").as("away_team"),
        named("FTHG").cast("int").as("home_goals"),
        named("FTAG").cast("int").as("away_goals"),
        pick(oddsHome).cast(DoubleType).as("home_odds_dec"),
        pick(oddsDraw).cast(DoubleType).as("draw_odds_dec"),
        pick(oddsAway).cast(DoubleType).as("away_odds_dec"))
      .na.drop(Seq("date_raw", "home_team", "away_team"))
      .withColumn("date", F.parseDateDayFirst(col("date_raw")))
      .drop("date_raw")
      .na.drop(Seq("date"))
      .select(col("*") +: constants.map { case (c, v) => v.as(c) }: _*)
  }

  /** A1 + A2 — union the per-league frames and globally sort by date. */
  def ingest(frames: Seq[DataFrame]): DataFrame =
    Ops.unionTolerant(frames.map(normalize)).orderBy("date")
}

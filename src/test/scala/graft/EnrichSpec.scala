package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.Ops
import graft.pipeline.{Enrich, Schemas}
import graft.sources.Sources

/** Enrichment pipeline parity (reference enrich_features.py:151-179):
  * precedence semantics, name normalization, travel derivation, and the
  * degradation matrix — schema-complete defaulted output from empty dims.
  */
class EnrichSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s + " 00:00:00")

  private def fact: DataFrame = Seq(
    ("2025-09-18", "Man City", "Barcelona"),
    ("2025-09-19", "Liverpool", "Unknown FC"))
    .toDF("date", "home_team", "away_team")

  private val nameMap = Seq(("Man City", "Manchester City")).toDF("raw", "canonical")
  private val teams = Seq(("Manchester City", 0.9, 0.8, 0.95)).toDF(
    "team", "gk_rating", "setpiece_rating", "crowd_index")
  private val stad = Seq(
    ("Manchester City", "Etihad", 53.4831, -2.2004),
    ("Barcelona", "Camp Nou", 41.3809, 2.1228),
    ("Liverpool", "Anfield", 53.4308, -2.9608))
    .toDF("team", "stadium", "lat", "lon")
  private val inj = Seq((ts("2025-09-18"), "Barcelona", 0.6)).toDF(
    "date", "team", "injury_index")
  private val lu = Seq((ts("2025-09-18"), "Barcelona", 1, 1, 0)).toDF(
    "date", "team", "key_att_out", "key_def_out", "keeper_changed")
  private val refs = Seq(("The Ref", 0.42)).toDF("ref_name", "ref_pen_rate")
  private val xg = Seq(("Barcelona", 1, 2.1, 0.9, 1.2, 0.8)).toDF(
    "team", "league_id", "xg_hybrid", "xga_hybrid", "xgd_hybrid", "xgd90_hybrid")

  private def empty(schema: org.apache.spark.sql.types.StructType) =
    Sources.emptyWithSchema(spark, schema)

  test("full enrich: name-normalized joins land, constants win where ensured first") {
    val out = Enrich.enrich(fact, teams, stad, refs, inj, lu, xg, nameMap)
      .orderBy("date").collect()
    val r0 = out(0)
    // name map applied: Man City → Manchester City
    assert(r0.getAs[String]("home_team") == "Manchester City")
    // ensure_cols ran FIRST (reference quirk): constants beat dim values
    assert(r0.getAs[Double]("home_gk_rating") == 0.6)
    assert(r0.getAs[Double]("home_injury_index") == 0.3)
    // lineup flags had no pre-existing column → joined values land
    assert(r0.getAs[Int]("away_key_att_out") == 1)
    assert(out(1).getAs[Int]("home_key_att_out") == 0) // null → 0
    // xg joins are plain left joins (no pre-ensured columns)
    assert(r0.getAs[Double]("away_xg") == 2.1)
    assert(out(1).isNullAt(out(1).fieldIndex("away_xg"))) // Unknown FC
    // travel: ensured constants (0.0 home / 200.0 away fallback semantics
    // come from preDefaults, which set away=200.0 before computeTravel)
    assert(r0.getAs[Double]("home_travel_km") == 0.0)
    assert(r0.getAs[Double]("away_travel_km") == 200.0)
  }

  test("travel haversine fills only null slots when fact carries the column") {
    val withTravel = fact.withColumn("away_travel_km",
        when($"away_team" === "Barcelona", lit(null).cast("double"))
          .otherwise(lit(50.0)))
      .withColumn("home_travel_km", lit(null).cast("double"))
    val out = Enrich.enrich(withTravel, teams, stad, refs, inj, lu, xg, nameMap)
      .orderBy("date").collect()
    // Barcelona row: null slot → haversine(Etihad, Camp Nou) ≈ 1400 km
    val km = out(0).getAs[Double]("away_travel_km")
    assert(km > 1200 && km < 1600, s"haversine km=$km")
    assert(out(1).getAs[Double]("away_travel_km") == 50.0) // non-null kept
    assert(out(0).getAs[Double]("home_travel_km") == 0.0)  // null → 0.0
  }

  test("ref rates join only when fact has ref_name") {
    val withRef = fact.withColumn("ref_name",
      when($"home_team" === "Liverpool", "The Ref"))
    val out = Enrich.enrich(withRef, teams, stad, refs, inj, lu, xg, nameMap)
      .orderBy("date").collect()
    // ref_pen_rate was ensured to 0.30 BEFORE applyRefRates → existing wins
    assert(out(0).getAs[Double]("ref_pen_rate") == 0.30)
    assert(out(1).getAs[Double]("ref_pen_rate") == 0.30)
  }

  test("degradation matrix: all dims empty → schema-complete defaulted output") {
    val out = Enrich.enrich(fact,
      empty(Schemas.teamsMaster), empty(Schemas.stadiums), empty(Schemas.refBaselines),
      empty(Schemas.injuries), empty(Schemas.lineups), empty(Schemas.xgHybrid),
      empty(Schemas.teamNameMap))
    val cols = out.columns.toSet
    val needed = Schemas.upcomingColumns.toSet -
      "home_odds_dec" - "draw_odds_dec" - "away_odds_dec" ++ Set(
      "home_key_att_out", "away_keeper_changed", "home_xg", "away_xgd_per90")
    assert(needed.subsetOf(cols), s"missing: ${needed.diff(cols)}")
    val r = out.orderBy("date").collect()(0)
    assert(r.getAs[Double]("home_gk_rating") == 0.6)
    assert(r.getAs[Double]("crowd_index") == 0.7)
    assert(r.getAs[Double]("ref_pen_rate") == 0.30)
    assert(r.getAs[Int]("home_key_att_out") == 0)
    assert(r.isNullAt(r.fieldIndex("home_xg")))
  }

  test("empty dim leaves a pre-existing null-bearing fact column untouched") {
    // reference parity (ADVICE r5, enrich_features.py ensure_cols): with
    // teams EMPTY, a fact that already carries home_gk_rating keeps its
    // nulls (no default fill); with teams NON-empty, precedence resolves
    // existing ▸ joined ▸ default exactly as before
    val factWithCol = fact
      .withColumn("home_gk_rating",
        when(col("home_team") === "Man City", lit(0.55))
          .otherwise(lit(null).cast("double")))
      .withColumn("home_injury_index", lit(null).cast("double"))
      .withColumn("home_key_att_out", lit(null).cast("int"))
      .withColumn("crowd_index", lit(null).cast("double"))
    val out = Enrich.mergeTeamMaster(factWithCol, empty(Schemas.teamsMaster))
    val rows = out.orderBy("date").collect()
    assert(rows(0).getAs[Double]("home_gk_rating") == 0.55)
    assert(rows(1).isNullAt(rows(1).fieldIndex("home_gk_rating")),
      "empty dim must not default-fill a pre-existing null")
    assert(rows(0).isNullAt(rows(0).fieldIndex("crowd_index")))
    val outInj = Enrich.applyInjuries(factWithCol, empty(Schemas.injuries))
      .orderBy("date").collect()
    assert(outInj(0).isNullAt(outInj(0).fieldIndex("home_injury_index")))
    val outLu = Enrich.applyLineupFlags(factWithCol, empty(Schemas.lineups))
      .orderBy("date").collect()
    assert(outLu(0).isNullAt(outLu(0).fieldIndex("home_key_att_out")))
    // non-empty dims still fill: the existing behavior is unchanged
    val outFull = Enrich.mergeTeamMaster(factWithCol, teams)
      .orderBy("date").collect()
    assert(outFull(1).getAs[Double]("home_gk_rating") == 0.6)
  }

  test("buildFinal projects canonical order and sorts by date") {
    val enriched = Enrich.enrich(fact, teams, stad, refs, inj, lu, xg, nameMap)
      .withColumn("home_goals", lit(2)).withColumn("away_goals", lit(1))
    val hist = Enrich.buildFinal(enriched, Schemas.histColumns)
    assert(hist.columns.toSeq == Schemas.histColumns)
    val dates = hist.collect().map(_.getTimestamp(0).toString)
    assert(dates.toSeq == dates.sorted.toSeq)
  }

  test("enrich is broadcast-join only: no shuffle exchange in the plan") {
    val plan = Enrich.enrich(fact, teams, stad, refs, inj, lu, xg, nameMap)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"))
    assert(!plan.contains("SortMergeJoin"), "dimension join fell back to SMJ")
  }

  /** The staged public chain [[Enrich.enrich]] fuses, one stage per call,
    * over a fact whose date is already the timestamp enrich casts it to.
    */
  private def staged(fact: DataFrame, teams: DataFrame, stad: DataFrame,
                     refs: DataFrame, inj: DataFrame, lu: DataFrame,
                     xg: DataFrame, nameMap: DataFrame): DataFrame =
    Seq[DataFrame => DataFrame](
      Enrich.normalizeNames(_, nameMap, Seq("home_team", "away_team")),
      Ops.ensureCols(_, Enrich.preDefaults),
      Enrich.mergeTeamMaster(_, teams), Enrich.applyInjuries(_, inj),
      Enrich.applyLineupFlags(_, lu), Enrich.applyRefRates(_, refs),
      Enrich.computeTravel(_, stad), Enrich.mergeXgHybrid(_, xg))
      .foldLeft(fact.withColumn("date", col("date").cast("timestamp")))((df, f) => f(df))

  /** Same columns by name, same rows in sorted order. */
  private def assertSameRows(got: DataFrame, want: DataFrame): Unit = {
    val cols = want.columns.sorted
    assert(got.columns.sorted.toSeq == cols.toSeq)
    def rows(df: DataFrame) = df.select(cols.toIndexedSeq.map(col): _*).collect()
      .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    assert(rows(got) == rows(want))
  }

  test("fused enrich equals the staged chain on the fixture and the empty-dims matrix") {
    val withRef = fact.withColumn("ref_name", when($"home_team" === "Liverpool", "The Ref"))
    for (f <- Seq(fact, withRef))
      assertSameRows(Enrich.enrich(f, teams, stad, refs, inj, lu, xg, nameMap),
        staged(f, teams, stad, refs, inj, lu, xg, nameMap))
    val dims = Seq(empty(Schemas.teamsMaster), empty(Schemas.stadiums),
      empty(Schemas.refBaselines), empty(Schemas.injuries), empty(Schemas.lineups),
      empty(Schemas.xgHybrid), empty(Schemas.teamNameMap))
    val Seq(t, s, r, i, l, x, m) = dims
    assertSameRows(Enrich.enrich(fact, t, s, r, i, l, x, m), staged(fact, t, s, r, i, l, x, m))
  }
}

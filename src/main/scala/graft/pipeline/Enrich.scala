package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType}

import graft.engine.Ops
import graft.functions.F

/** The enrichment pipeline — the reference's core dataflow
  * (enrich_features.py:151-179) re-expressed as ONE Spark lineage of
  * broadcast joins + column expressions.
  *
  * Scale shape: every dimension is broadcast (≤ thousands of rows even at
  * production scale), so the fact table streams through zero shuffles —
  * map-side joins + codegen'd expressions end to end. At 100 TB this is a
  * single embarrassingly-parallel pass.
  *
  * Semantics reproduced exactly (SURVEY §2 J1–J7, J9, P4, F8, F15):
  *  - `ensure_cols` literals are applied BEFORE the merges, so a fact that
  *    lacked a column gets the constant, and the coalesce precedence
  *    (pre-existing ▸ joined ▸ default — reference `coalesce`,
  *    enrich_features.py:26-34) makes that constant win over dim values.
  *    This mirrors the reference bit-for-bit, quirks included.
  *  - empty dims degrade to pure-default columns without failing
  *    (reference invariant: schema-complete output from empty inputs).
  */
object Enrich {

  import F.{Defaults => D}

  /** J9 — canonical-name normalization via broadcast lookup join with
    * identity fallback (enrich_features.py:37-43). The reference builds a
    * DICT from the map file, so duplicate `raw` keys collapse to one
    * entry — the join must dedup likewise or duplicate raws would
    * DUPLICATE fact rows (a left join multiplies on duplicate keys, a
    * dict lookup never can). File order doesn't survive a distributed
    * read, so ties resolve deterministically by canonical ordering.
    */
  def normalizeNames(df: DataFrame, nameMap: DataFrame, cols: Seq[String]): DataFrame =
    normalizeWith(df, dedupedNameMap(nameMap), cols)

  /** The dict the reference builds from the map file: unique by raw key,
    * ties resolved deterministically by canonical ordering.
    * Built ONCE per enrich() call and shared across all 7 normalize
    * joins — the projections stay canonically identical so the broadcast
    * materializes a single time (ReuseExchange).
    *
    * keep-first on a (key, value) pair IS min-by-key — an associative
    * aggregate with map-side partial agg, not a ranking window (same
    * deterministic result as Ops.dedupKeepFirst(raw, canonical), one
    * fewer sort stage per normalized frame).
    */
  private def dedupedNameMap(nameMap: DataFrame): DataFrame =
    nameMap
      .select(trim(col("raw")).as("__nm_raw"),
        trim(col("canonical")).as("__nm_canon"))
      .groupBy("__nm_raw").agg(min("__nm_canon").as("__nm_canon"))

  private def normalizeWith(df: DataFrame, deduped: DataFrame,
                            cols: Seq[String]): DataFrame =
    cols.filter(df.columns.contains).foldLeft(df) { (acc, c) =>
      val m = deduped.select(col("__nm_raw").as(s"__raw_$c"),
        col("__nm_canon").as(s"__canon_$c"))
      acc.join(broadcast(m), trim(col(c)) === col(s"__raw_$c"), "left")
        .withColumn(c, coalesce(col(s"__canon_$c"), trim(col(c))))
        .drop(s"__raw_$c", s"__canon_$c")
    }

  /** The pre-merge constant defaults (enrich_features.py:160-169). */
  val preDefaults: Seq[(String, Column)] = Seq(
    "home_team" -> lit(""), "away_team" -> lit(""),
    "home_odds_dec" -> lit(null).cast(DoubleType),
    "draw_odds_dec" -> lit(null).cast(DoubleType),
    "away_odds_dec" -> lit(null).cast(DoubleType),
    "home_rest_days" -> lit(D.restDays), "away_rest_days" -> lit(D.restDays),
    "home_injury_index" -> lit(D.injuryIndex), "away_injury_index" -> lit(D.injuryIndex),
    "home_gk_rating" -> lit(D.gkRating), "away_gk_rating" -> lit(D.gkRating),
    "home_setpiece_rating" -> lit(D.setpieceRating),
    "away_setpiece_rating" -> lit(D.setpieceRating),
    "ref_pen_rate" -> lit(D.refPenRate), "crowd_index" -> lit(D.crowdIndex),
    "home_travel_km" -> lit(D.travelKmHome), "away_travel_km" -> lit(D.travelKmAway))

  /** The precedence existing ▸ joined ▸ default for fact column `base`
    * (`has`: the fact carries it), guarded by the dim's row count `n`.
    * Reference parity on the EMPTY-dim branch (enrich_features.py uses
    * ensure_cols there): an empty dim must leave a PRE-EXISTING fact
    * column untouched — including its nulls — while an ABSENT column
    * still gets the default. Emptiness rides a broadcast 1-row count (no
    * dim.isEmpty driver job): with a non-empty dim the guard is false and
    * the precedence chain resolves as usual.
    */
  private def resolve(has: Boolean, base: String, joined: Column, n: Column,
                      default: Column): Column =
    if (has) when(n === 0, col(base)).otherwise(Ops.precedence(col(base), joined, default))
    else Ops.precedence(lit(null).cast(DoubleType), joined, default)

  /** One precedence-join stage: left-join `dim` (payload pre-aliased to
    * fresh `__j_<col>` names), then [[resolve]] each (base, default) and
    * drop the helper.
    */
  private def precedenceJoin(fact: DataFrame, dim: DataFrame, joinCond: Column,
                             payload: Seq[(String, Double)]): DataFrame = {
    val dimN = dim.agg(count(lit(1)).as("__dim_n"))
    val joined = fact.join(broadcast(dim), joinCond, "left")
      .crossJoin(broadcast(dimN))
    payload.foldLeft(joined) { case (acc, (base, default)) =>
      acc.withColumn(base, resolve(fact.columns.contains(base), base,
        col(s"__j_$base"), col("__dim_n"), lit(default))).drop(s"__j_$base")
    }.drop("__dim_n")
  }

  /** J1 — team master ×2 (enrich_features.py:46-62). */
  def mergeTeamMaster(df: DataFrame, teams: DataFrame): DataFrame = {
    // no dim.isEmpty runtime branch (a driver job per stage): an
    // empty-but-valid dim left-joins to all-null payloads and the
    // precedence chain resolves to the same defaults the old explicit
    // branch produced — plan-identical semantics, zero extra jobs
    val out = Seq("home", "away").foldLeft(df) { (acc, side) =>
      val dim = teams.select(col("team").as(s"__k_$side"),
        col("gk_rating").as(s"__j_${side}_gk_rating"),
        col("setpiece_rating").as(s"__j_${side}_setpiece_rating"),
        col("crowd_index").as(s"__j_${side}_crowd_index"))
      precedenceJoin(acc, dim, col(s"${side}_team") === col(s"__k_$side"),
        Seq(s"${side}_gk_rating" -> D.gkRating,
          s"${side}_setpiece_rating" -> D.setpieceRating))
        .drop(s"__k_$side")
    }
    // crowd_index: pre-existing ▸ home-side dim value ▸ 0.7
    out.crossJoin(broadcast(teams.agg(count(lit(1)).as("__tm_n"))))
      .withColumn("crowd_index", resolve(df.columns.contains("crowd_index"),
        "crowd_index", col("__j_home_crowd_index"), col("__tm_n"), lit(D.crowdIndex)))
      .drop("__j_home_crowd_index", "__j_away_crowd_index", "__tm_n")
  }

  /** J3 — injuries on (date, side_team) ×2 (enrich_features.py:73-85). */
  def applyInjuries(df: DataFrame, inj: DataFrame): DataFrame =
    Seq("home", "away").foldLeft(df) { (acc, side) =>
      val dim = inj.select(col("date").as(s"__d_$side"), col("team").as(s"__k_$side"),
        col("injury_index").as(s"__j_${side}_injury_index"))
      precedenceJoin(acc, dim,
        col("date") === col(s"__d_$side") && col(s"${side}_team") === col(s"__k_$side"),
        Seq(s"${side}_injury_index" -> D.injuryIndex))
        .drop(s"__d_$side", s"__k_$side")
    }

  /** J4 — lineup flags on (date, side_team) ×2; null→0→int
    * (enrich_features.py:87-103).
    */
  def applyLineupFlags(df: DataFrame, lu: DataFrame): DataFrame = {
    val flags = Seq("key_att_out", "key_def_out", "keeper_changed")
    Seq("home", "away").foldLeft(df) { (acc, side) =>
      val dim = lu.select(
        col("date").as(s"__d_$side") +: col("team").as(s"__k_$side") +:
          flags.map(f => col(f).as(s"__j_${side}_$f")): _*)
      val j = acc.join(broadcast(dim),
        col("date") === col(s"__d_$side") &&
          col(s"${side}_team") === col(s"__k_$side"), "left")
        .crossJoin(broadcast(lu.agg(count(lit(1)).as("__lu_n"))))
      flags.foldLeft(j) { (a, f) =>
        val base = s"${side}_$f"
        a.withColumn(base, resolve(df.columns.contains(base), base,
          col(s"__j_$base"), col("__lu_n"), lit(0)).cast(IntegerType))
          .drop(s"__j_$base")
      }.drop(s"__d_$side", s"__k_$side", "__lu_n")
    }
  }

  /** J2 — referee rates, join only when the fact has ref_name
    * (enrich_features.py:64-71).
    */
  def applyRefRates(df: DataFrame, refs: DataFrame): DataFrame =
    if (df.columns.contains("ref_name")) {
      val dim = refs.select(col("ref_name").as("__k_ref"),
        col("ref_pen_rate").as("__j_ref_pen_rate"))
      precedenceJoin(df, dim, col("ref_name") === col("__k_ref"),
        Seq("ref_pen_rate" -> D.refPenRate)).drop("__k_ref")
    } else
      Ops.ensureCols(df, Seq("ref_pen_rate" -> lit(D.refPenRate)))
        .withColumn("ref_pen_rate",
          coalesce(col("ref_pen_rate"), lit(D.refPenRate)))

  /** J6 + F8 — stadium coords ×2, haversine only into null away_travel_km
    * slots, 200 km when coords missing (enrich_features.py:105-120).
    */
  def computeTravel(df: DataFrame, stad: DataFrame): DataFrame = {
    val base = Ops.ensureCols(df, Seq(
      "home_travel_km" -> lit(null).cast(DoubleType),
      "away_travel_km" -> lit(null).cast(DoubleType)))
    val joined = Seq("home", "away").foldLeft(base) { (acc, side) =>
      val dim = stad.select(col("team").as(s"__k_$side"),
        col("lat").as(s"${side}_lat"), col("lon").as(s"${side}_lon"))
      acc.join(broadcast(dim), col(s"${side}_team") === col(s"__k_$side"), "left")
        .drop(s"__k_$side")
    }
    // empty dim ⇒ null coords ⇒ haversineKmOrDefault yields the 200 km
    // default — identical to the old explicit empty branch, no driver job
    joined
      .withColumn("home_travel_km", coalesce(col("home_travel_km"), lit(D.travelKmHome)))
      .withColumn("away_travel_km",
        when(col("away_travel_km").isNotNull, col("away_travel_km"))
          .otherwise(F.haversineKmOrDefault(
            col("home_lat"), col("home_lon"), col("away_lat"), col("away_lon"),
            D.travelKmAway)))
      .drop("home_lat", "home_lon", "away_lat", "away_lon")
  }

  /** J7 — xG hybrid metrics ×2 (enrich_features.py:122-145). */
  def mergeXgHybrid(df: DataFrame, xg: DataFrame): DataFrame = {
    val metrics = Seq("xg" -> "xg_hybrid", "xga" -> "xga_hybrid",
      "xgd" -> "xgd_hybrid", "xgd_per90" -> "xgd90_hybrid")
    val joined = Seq("home", "away").foldLeft(df) { (acc, side) =>
      val dim = xg.select(col("team").as(s"__k_$side") +:
        metrics.map { case (m, src) => col(src).as(s"${side}_$m") }: _*)
      acc.join(broadcast(dim), col(s"${side}_team") === col(s"__k_$side"), "left")
        .drop(s"__k_$side")
    }
    Ops.ensureCols(joined, for (s <- Seq("home", "away"); (m, _) <- metrics)
      yield s"${s}_$m" -> lit(null).cast(DoubleType))
  }

  /** Entry point 2 parity (enrich_features.py:151-179): the full stage
    * order is load-bearing — each stage's precedence depends on the
    * columns ensured before it.
    *
    * FUSED physical shape (same semantics as composing the staged
    * functions above, which remain the single-stage public API): the
    * staged chain paid ~25 broadcast-exchange builds per run — a
    * name-map build nested under every dim, a payload build per dim per
    * side, and an emptiness-count agg per guarded stage per side. Here
    * the name map is deduped ONCE and shared by all 7 normalize joins,
    * the four emptiness guards ride a single union-count row instead of
    * 8 per-stage count-agg broadcasts, and each dim's home/away payload
    * projections are kept canonically identical so ReuseExchange builds
    * every dim broadcast once. All 16 column resolutions land in the one
    * final projection, which also drops every join key and payload. At
    * 100 TB the fact side still streams through zero shuffles — one
    * embarrassingly-parallel pass.
    */
  def enrich(fact: DataFrame, teams: DataFrame, stad: DataFrame, refs: DataFrame,
             inj: DataFrame, lu: DataFrame, xg: DataFrame, nameMap: DataFrame): DataFrame = {
    val dated = if (fact.columns.contains("date"))
      fact.withColumn("date", col("date").cast("timestamp")) else fact
    val mapD = dedupedNameMap(nameMap)
    val named = normalizeWith(dated, mapD, Seq("home_team", "away_team"))
    val ensured = Ops.ensureCols(named, preDefaults)
    val has = ensured.columns.toSet
    val teamsN = normalizeWith(teams, mapD, Seq("team"))
    val stadN = normalizeWith(stad, mapD, Seq("team"))
    val injN = normalizeWith(inj, mapD, Seq("team"))
    val luN = normalizeWith(lu, mapD, Seq("team"))
    val xgN = normalizeWith(xg, mapD, Seq("team"))

    // ONE guard row for the four emptiness-guarded dims (counted on the
    // raw inputs — normalization is a unique-key left join, row counts
    // unchanged); replaces a count-agg broadcast per guarded stage.
    val guards = teams.select(lit("t").as("__d"))
      .union(inj.select(lit("i").as("__d")))
      .union(lu.select(lit("l").as("__d")))
      .union(refs.select(lit("r").as("__d")))
      .agg(count(when(col("__d") === "t", 1)).as("__n_teams"),
        count(when(col("__d") === "i", 1)).as("__n_inj"),
        count(when(col("__d") === "l", 1)).as("__n_lu"),
        count(when(col("__d") === "r", 1)).as("__n_refs"))

    // Per-side payload projections over each dim: the home and away
    // selects are canonically identical, so the physical ReuseExchange
    // rule builds every dim's broadcast ONCE for both sides (with or
    // without AQE).
    def teamsSel(side: String) = teamsN.select(col("team").as(s"__k_$side"),
      col("gk_rating").as(s"__j_${side}_gk_rating"),
      col("setpiece_rating").as(s"__j_${side}_setpiece_rating"),
      col("crowd_index").as(s"__j_${side}_crowd_index"))
    def stadSel(side: String) = stadN.select(col("team").as(s"__s_$side"),
      col("lat").as(s"${side}_lat"), col("lon").as(s"${side}_lon"))
    def injSel(side: String) = injN.select(col("date").as(s"__di_$side"),
      col("team").as(s"__ki_$side"),
      col("injury_index").as(s"__j_${side}_injury_index"))
    def luSel(side: String) = luN.select(col("date").as(s"__dl_$side"),
      col("team").as(s"__kl_$side"),
      col("key_att_out").as(s"__j_${side}_key_att_out"),
      col("key_def_out").as(s"__j_${side}_key_def_out"),
      col("keeper_changed").as(s"__j_${side}_keeper_changed"))
    def xgSel(side: String) = xgN.select(col("team").as(s"__x_$side"),
      col("xg_hybrid").as(s"${side}_xg"),
      col("xga_hybrid").as(s"${side}_xga"),
      col("xgd_hybrid").as(s"${side}_xgd"),
      col("xgd90_hybrid").as(s"${side}_xgd_per90"))

    // the helper key and payload columns are never dropped mid-lineage:
    // the one final select below keeps only the output columns
    val sided = Seq("home", "away").foldLeft(
        ensured.crossJoin(broadcast(guards))) { (acc, side) =>
      acc.join(broadcast(teamsSel(side)),
          col(s"${side}_team") === col(s"__k_$side"), "left")
        .join(broadcast(injSel(side)),
          col("date") === col(s"__di_$side") &&
            col(s"${side}_team") === col(s"__ki_$side"), "left")
        .join(broadcast(luSel(side)),
          col("date") === col(s"__dl_$side") &&
            col(s"${side}_team") === col(s"__kl_$side"), "left")
        .join(broadcast(stadSel(side)),
          col(s"${side}_team") === col(s"__s_$side"), "left")
        .join(broadcast(xgSel(side)),
          col(s"${side}_team") === col(s"__x_$side"), "left")
    }
    val refJoined = if (has.contains("ref_name"))
      sided.join(broadcast(refs.select(col("ref_name").as("__k_ref"),
          col("ref_pen_rate").as("__j_ref_pen_rate"))),
        col("ref_name") === col("__k_ref"), "left")
    else sided

    // column resolutions — expression-for-expression the staged chain,
    // with the shared counts row standing in for the per-stage guards.
    // Each reads only its own pre-resolution column and joined payloads,
    // so all 16 resolve side by side in one projection.
    def res(base: String, n: String, default: Column): Column =
      resolve(has.contains(base), base, col(s"__j_$base"), col(n), default)
    val sides = Seq("home", "away")
    val flags = Seq("key_att_out", "key_def_out", "keeper_changed")
    val resolved: Map[String, Column] = ((for (side <- sides; (c, d) <- Seq(
        "gk_rating" -> D.gkRating, "setpiece_rating" -> D.setpieceRating))
      yield s"${side}_$c" -> res(s"${side}_$c", "__n_teams", lit(d))) ++
      sides.map(side => s"${side}_injury_index" ->
        res(s"${side}_injury_index", "__n_inj", lit(D.injuryIndex))) ++
      (for (side <- sides; f <- flags)
        yield s"${side}_$f" -> res(s"${side}_$f", "__n_lu", lit(0)).cast(IntegerType)) ++
      Seq(
        "crowd_index" -> resolve(has.contains("crowd_index"), "crowd_index",
          col("__j_home_crowd_index"), col("__n_teams"), lit(D.crowdIndex)),
        "ref_pen_rate" -> (if (has.contains("ref_name"))
          res("ref_pen_rate", "__n_refs", lit(D.refPenRate))
        else coalesce(col("ref_pen_rate"), lit(D.refPenRate))),
        "home_travel_km" -> coalesce(col("home_travel_km"), lit(D.travelKmHome)),
        "away_travel_km" -> when(col("away_travel_km").isNotNull, col("away_travel_km"))
          .otherwise(F.haversineKmOrDefault(col("home_lat"), col("home_lon"),
            col("away_lat"), col("away_lon"), D.travelKmAway)))).toMap

    // staged column order: the ensured frame first (in-place
    // replacements), then the flags the fact lacked, then the xg metrics
    val metrics = Seq("xg", "xga", "xgd", "xgd_per90")
    val flagCols = for (s <- sides; f <- flags) yield s"${s}_$f"
    val xgCols = for (s <- sides; m <- metrics) yield s"${s}_$m"
    val order = ensured.columns.toSeq ++
      flagCols.filterNot(has.contains) ++ xgCols
    refJoined.select(order.map(c => resolved.get(c).fold(col(c))(_.as(c))): _*)
  }

  /** P1 + A2 — final projection to the canonical column order and global
    * date sort (build_hist_and_upcoming.py:8-30).
    */
  def buildFinal(df: DataFrame, columns: Seq[String]): DataFrame = {
    val complete = Ops.ensureCols(df, columns.map(_ -> lit(null)))
    complete.select(columns.map(col): _*).orderBy("date")
  }
}

package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

import graft.pipeline.{Ingest, OddsJson, Pipeline, Schemas}

/** The write op of the `heavy_etl` workload: the reference DAG through
  * `Pipeline.run` and `Pipeline.write` (CSV and parquet modes). Each call
  * reads the generated inputs afresh and writes under `work`.
  */
class Etl(spark: SparkSession, t: Tracer, in: String, work: String) {

  private val out = s"$work/etl_out"
  private val expected: Map[String, Long] =
    """"(\w+)":\s*(\d+)""".r.findAllMatchIn(
      new String(Files.readAllBytes(Paths.get(in, "expected.json")), StandardCharsets.UTF_8))
      .map(m => m.group(1) -> m.group(2).toLong).toMap
  private var lastRun: Option[Pipeline.Outputs] = None

  private val inputBytes = expected("input_bytes").toDouble

  private def csv(name: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(s"$in/$name.csv")

  def inputs(): Pipeline.Inputs = {
    val leagues = new File(in).listFiles().map(_.getName)
      .filter(n => n.startsWith("league_") && n.endsWith(".csv")).sorted
      .map(n => spark.read.option("header", "true").csv(s"$in/$n")).toSeq
    val xg = StructType(StructField("team", StringType) +: StructField("league_id", IntegerType) +:
      Seq("xg", "xga", "xgd", "xgd90").map(StructField(_, StringType)))
    Pipeline.Inputs(leagues,
      Some(new String(Files.readAllBytes(Paths.get(in, "odds.json")), StandardCharsets.UTF_8)),
      manualOdds = None, Some(csv("xg_current", xg)), Some(csv("xg_last", xg)),
      Pipeline.Dims(csv("teams", Schemas.teamsMaster), csv("stadiums", Schemas.stadiums),
        csv("refs", Schemas.refBaselines), csv("injuries", Schemas.injuries),
        csv("lineups", Schemas.lineups), csv("name_map", Schemas.teamNameMap)))
  }

  /** Pipeline.run, then Pipeline.write of its outputs in CSV mode and in
    * parquet mode, so both sinks run, are timed and are checked in every
    * pass. One run feeds both writes, as one daily run that wants both
    * formats would; a run per mode doubled the pass, past what the
    * benchmark's time budget holds.
    */
  private def pipeline(): Map[String, Double] = {
    val o = t.span("pipeline.run")(Pipeline.run(spark, inputs()))
    lastRun = Some(o)
    t.span("pipeline.write") {
      t.span("sources.csv_write")(Pipeline.write(o, s"$out/csv", parquet = false))
      t.span("sources.parquet_write")(Pipeline.write(o, s"$out/parquet", parquet = true))
    }
    Map("pipeline.rows_out" -> o.reports.map(_.rows).sum.toDouble,
      "sources.input_bytes" -> inputBytes)
  }

  val ops: Seq[(String, () => Map[String, Double])] = Seq("pipeline" -> pipeline _)

  /** Rows the engine ingested per Pipeline.run: the historical frames after
    * `Ingest.ingest` dropped the bad rows, plus the parsed odds games.
    * Counted once, after the timed region; set by [[check]].
    */
  var rowsIn: Long = -1L

  /** Checks the last pass's outputs against what the generator made. */
  def check(): Seq[String] = {
    val problems = mutable.ArrayBuffer.empty[String]
    def expect(what: String, got: Long, want: Long): Unit =
      if (got != want) problems += s"$what: got $got, want $want"
    try {
      val reports = lastRun.map(_.reports).getOrElse(Nil)
      for (r <- reports) {
        if (!r.ok) problems += s"${r.table} misses ${r.missing.mkString(",")}"
        val want = if (r.table == "HIST_matches") expected("hist_rows") else expected("upcoming_rows")
        expect(s"${r.table} rows", r.rows, want)
      }
      if (reports.size != 2) problems += s"${reports.size} of the 2 Validate reports"
      val in = inputs()
      val hist0 = Ingest.ingest(in.histCsvBodies).count()
      val upcoming0 = OddsJson.parseGames(spark, in.oddsJsonBody.get).count()
      rowsIn = hist0 + upcoming0
      expect("ingested historical rows", hist0, expected("hist_rows"))
      expect("parsed odds games", upcoming0, expected("upcoming_rows"))
      val csvLines = Files.lines(Paths.get(s"$out/csv/HIST_matches.csv")).count()
      expect("HIST_matches.csv lines", csvLines, expected("hist_rows") + 1)
      expect("HIST_matches parquet rows",
        spark.read.parquet(s"$out/parquet/HIST_matches").count(), expected("hist_rows"))
      expect("xg hybrid rows", lastRun.map(_.xgHybrid.count()).getOrElse(-1L), expected("xg_rows"))
    } catch { case NonFatal(e) => problems += s"check failed: ${e.getMessage}".take(300) }
    problems.map("etl: " + _).toSeq
  }
}

package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}
import org.apache.spark.sql.expressions.Window

/** operators.BootstrapPoisson (the one-pass 50-resample kernel) vs the
  * former sequence+explode / groupBy(b) / rank-window formulation it
  * replaced on stat_bootstrap_poisson: identical
  * (mean_full_micro, ci_lo_micro, ci_hi_micro) on synthetic key/value
  * grids that exercise every Poisson weight bucket, duplicate means
  * (the (mean_micro, b) tie-break), and multi-partition merge.
  */
class BootstrapPoissonSpec extends SparkSpec {
  import spark.implicits._

  /** The former query shape, verbatim. */
  private def reference(base: org.apache.spark.sql.DataFrame)
      : (Long, Long, Long) = {
    val expanded = base
      .select(col("okey"), col("x"),
        explode(sequence(lit(0), lit(49))).as("b"))
      .withColumn("k", col("okey") * 50L + col("b"))
      .withColumn("a1", expr("(k * 2654435761L) % 2147483648L"))
      .withColumn("a2",
        expr("(((a1 div 1024 + a1) % 2147483648L) * 2246822519L) % 2147483648L"))
      .withColumn("u", expr("(a2 div 64 + a2) % 1000000L"))
      .withColumn("w",
        when(col("u") < 367879L, 0L)
          .when(col("u") < 735759L, 1L)
          .when(col("u") < 919699L, 2L)
          .when(col("u") < 981012L, 3L).otherwise(4L))
    val resamples = expanded.groupBy("b")
      .agg(sum("w").as("nb"),
        sum((col("w") * col("x")).cast(DecimalType(38, 0))).as("sb"))
      .select(col("b"),
        round(col("sb").cast(DoubleType) /
          col("nb").cast(DoubleType) * 1e4, 0).cast(LongType)
          .as("mean_micro"))
    val ranked = resamples.withColumn("rk", row_number().over(
      Window.orderBy(col("mean_micro"), col("b"))))
    val full = base.agg(count(lit(1)).as("n"), sum("x").as("sx"))
      .select(round(col("sx").cast(DoubleType) /
        col("n").cast(DoubleType) * 1e4, 0).cast(LongType)
        .as("mean_full_micro"))
    val row = ranked.filter(col("rk") === 2)
      .select(col("mean_micro").as("ci_lo_micro"))
      .crossJoin(ranked.filter(col("rk") === 49)
        .select(col("mean_micro").as("ci_hi_micro")))
      .crossJoin(broadcast(full))
      .select(col("mean_full_micro"), col("ci_lo_micro"),
        col("ci_hi_micro"))
      .head()
    (row.getLong(0), row.getLong(1), row.getLong(2))
  }

  private def kernel(base: org.apache.spark.sql.DataFrame)
      : (Long, Long, Long) = {
    val ci = graft.operators.BootstrapPoisson.udafColumn
    val row = base.agg(ci(col("okey"), col("x")).as("r"))
      .select(col("r.mean_full_micro"), col("r.ci_lo_micro"),
        col("r.ci_hi_micro"))
      .head()
    (row.getLong(0), row.getLong(1), row.getLong(2))
  }

  /** The kernel's statistics with nulls kept. */
  private def kernelNullable(base: org.apache.spark.sql.DataFrame)
      : (Option[Long], Option[Long], Option[Long]) = {
    val ci = graft.operators.BootstrapPoisson.udafColumn
    val row = base.agg(ci(col("okey"), col("x")).as("r"))
      .select(col("r.mean_full_micro"), col("r.ci_lo_micro"),
        col("r.ci_hi_micro"))
      .head()
    def get(i: Int) = if (row.isNullAt(i)) None else Some(row.getLong(i))
    (get(0), get(1), get(2))
  }

  private def frame(rows: Seq[(Long, Long)]) =
    rows.toDF("okey", "x").repartition(3) // force a multi-buffer merge

  test("matches the former formulation on a dense key grid") {
    val rows = (1L to 400L).map(k => k -> (k * 137L % 90000L + 100L))
    assert(kernel(frame(rows)) === reference(frame(rows)))
  }

  test("matches on sparse high keys (mixer high-range behaviour)") {
    val rows = (1L to 300L).map(k => (k * 7919L) -> (k * k % 50000L + 1L))
    assert(kernel(frame(rows)) === reference(frame(rows)))
  }

  test("matches on constant values (duplicate mean tie-break by b)") {
    val rows = (1L to 256L).map(k => k -> 12345L)
    assert(kernel(frame(rows)) === reference(frame(rows)))
  }

  test("per-(okey, b) weights equal the former mixer column tree") {
    val keys = Seq(0L, 1L, 2L, 17L, 1000L, 999983L, 2147483L)
    val ref = keys.toDF("okey")
      .select(col("okey"), explode(sequence(lit(0), lit(49))).as("b"))
      .withColumn("k", col("okey") * 50L + col("b"))
      .withColumn("a1", expr("(k * 2654435761L) % 2147483648L"))
      .withColumn("a2",
        expr("(((a1 div 1024 + a1) % 2147483648L) * 2246822519L) % 2147483648L"))
      .withColumn("u", expr("(a2 div 64 + a2) % 1000000L"))
      .withColumn("w",
        when(col("u") < 367879L, 0L)
          .when(col("u") < 735759L, 1L)
          .when(col("u") < 919699L, 2L)
          .when(col("u") < 981012L, 3L).otherwise(4L))
      .select("okey", "b", "w")
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2))
      .toMap
    for (k <- keys; b <- 0 until 50)
      assert(graft.operators.BootstrapPoisson.weight(k, b) === ref((k, b)),
        s"weight mismatch at okey=$k b=$b")
  }

  test("empty input: every statistic is null, nothing throws") {
    assert(kernelNullable(frame(Nil)) === ((None, None, None)))
  }

  test("a zero-weight resample has no mean and ranks after every mean") {
    // one row: each resample that gives it Poisson weight 0 drew nothing,
    // every other resample's mean is the row's own value
    val (okey, x) = (1L, 12345L)
    val drawn = (0 until 50)
      .count(b => graft.operators.BootstrapPoisson.weight(okey, b) != 0L)
    assert(drawn >= 2 && drawn < 49, s"$drawn resamples drew the row")
    assert(kernelNullable(frame(Seq(okey -> x))) ===
      ((Some(x * 10000), Some(x * 10000), None)))
  }
}

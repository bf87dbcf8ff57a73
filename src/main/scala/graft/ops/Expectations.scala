package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Single-pass data-quality expectation checks (the Deequ/Great-
  * Expectations role): declarative constraints — completeness,
  * uniqueness, bounds, domain membership, pattern conformance, row
  * count, referential integrity — evaluated over a frame and emitted as
  * a uniform report `(check, metric, passed)`. This is the validation
  * step a training pipeline runs BEFORE dedup/tokenization: a source
  * whose `user_id` went 2% null or whose event types drifted outside
  * the contract should fail loudly at ingest, not as a silent quality
  * regression three stages later.
  *
  * Scale shape: every scalar check is ONE aggregate expression, so the
  * whole suite folds into a SINGLE aggregation pass over the frame —
  * one job, map-side partial aggregation, no per-check scan. Uniqueness
  * rides the same pass as a `countDistinct` (one distinct column set
  * adds one Expand; several uniqueness checks multiply it — keep them
  * few, or split suites). Referential integrity is the one join-shaped
  * check: a left-anti probe of the dimension (broadcast when
  * dimension-sized), unioned into the same report.
  *
  * Metrics are fractions of exact integer counts (one division — the
  * engine-exact doubles contract), so reports are oracle-checkable
  * value-exactly.
  */
object Expectations {

  /** One scalar expectation: a named aggregate metric plus the pass
    * predicate over it. */
  final case class Check(name: String, metric: Column,
                         pass: Column => Column)

  /** Completeness: fraction of non-null values must be 1. */
  def notNull(c: String): Check =
    Check(s"not_null($c)",
      coalesce(avg(col(c).isNotNull.cast("double")), lit(1.0)),
      _ === 1.0)

  /** Completeness with a tolerance: non-null fraction ≥ `minFrac`. */
  def mostlyNotNull(c: String, minFrac: Double): Check =
    Check(s"mostly_not_null($c,$minFrac)",
      coalesce(avg(col(c).isNotNull.cast("double")), lit(1.0)),
      _ >= minFrac)

  /** Uniqueness: distinct count equals non-null count. */
  def unique(c: String): Check =
    Check(s"unique($c)",
      coalesce(countDistinct(col(c)).cast("double") /
        count(col(c)), lit(1.0)),
      _ === 1.0)

  /** Bounds: every non-null value in [lo, hi] (fraction must be 1). */
  def bounds(c: String, lo: Double, hi: Double): Check =
    Check(s"bounds($c,$lo,$hi)",
      coalesce(avg((col(c) >= lo && col(c) <= hi).cast("double")),
        lit(1.0)),
      _ === 1.0)

  /** Domain membership: every non-null value in `allowed`. */
  def valuesIn(c: String, allowed: Seq[String]): Check =
    Check(s"values_in($c)",
      coalesce(avg(col(c).isin(allowed: _*).cast("double")), lit(1.0)),
      _ === 1.0)

  /** Row count within [lo, hi]. */
  def rowCountBetween(lo: Long, hi: Long): Check =
    Check(s"row_count($lo,$hi)",
      count(lit(1)).cast("double"),
      m => m >= lo.toDouble && m <= hi.toDouble)

  /** Evaluate all scalar checks in ONE aggregation pass; returns
    * `(check, metric, passed)`, one row per check, in `checks` order. */
  def run(df: DataFrame, checks: Seq[Check]): DataFrame = {
    require(checks.nonEmpty, "expectation suite needs at least one check")
    val aggs = checks.zipWithIndex.map { case (c, i) =>
      c.metric.as(s"__m$i") }
    val report = array(checks.zipWithIndex.map { case (c, i) =>
      struct(lit(c.name).as("check"), col(s"__m$i").as("metric"),
        c.pass(col(s"__m$i")).as("passed"))
    }: _*)
    df.agg(aggs.head, aggs.tail: _*)
      // staged projection before the explode (house generator rule)
      .select(report.as("__report"))
      .select(explode(col("__report")).as("e"))
      .select(col("e.check").as("check"), col("e.metric").as("metric"),
        col("e.passed").as("passed"))
  }

  /** Referential integrity: every non-null `df.c` exists in
    * `dim.dimCol`. One left-anti probe — hinted broadcast by default
    * (the common dimension-sized case); pass `broadcastDim = false` for
    * a dimension too large to broadcast and the planner picks the
    * shuffled anti-join instead. Returns the same one-row report shape,
    * union-compatible with [[run]]'s output. */
  def foreignKey(df: DataFrame, c: String,
                 dim: DataFrame, dimCol: String,
                 broadcastDim: Boolean = true): DataFrame = {
    val keys = dim.select(col(dimCol).as(c))
    val orphans = df.select(col(c)).filter(col(c).isNotNull)
      .join(if (broadcastDim) broadcast(keys) else keys, Seq(c),
        "left_anti")
      .agg(count(lit(1)).cast("double").as("metric"))
    orphans.select(lit(s"foreign_key($c->$dimCol)").as("check"),
      col("metric"), (col("metric") === 0.0).as("passed"))
  }

  /** Drift over the per-batch report trail (the
    * [[graft.streaming.ExpectStream]] layout read back, or any frame
    * with `check`/`batch_id`/`metric`/`passed`): each report row with
    * its check's PREVIOUS batch value, the metric delta, and whether
    * the pass verdict flipped — the alerting face of continuous
    * monitoring ("the null rate moved 2 points in batch 17", "bounds
    * started failing at batch 40"). First batch per check reports NULL
    * prev/delta and no flip.
    *
    * Scale shape: ONE window keyed by check ordered by batch id. The
    * trail grows by checks-per-batch (dimension × time, never
    * data-sized), and a check's whole history sorts inside its own
    * partition — the rolling-aggregate contract. Exact-fraction metrics
    * in, exact deltas out: oracle-checkable value-exactly. */
  def trail(reports: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("check").orderBy("batch_id")
    reports
      .select(col("check"), col("batch_id").cast("long").as("batch_id"),
        col("metric"), col("passed"))
      .withColumn("prev_metric", lag(col("metric"), 1).over(w))
      .withColumn("prev_passed", lag(col("passed"), 1).over(w))
      .select(col("check"), col("batch_id"), col("metric"),
        col("prev_metric"),
        (col("metric") - col("prev_metric")).as("delta"),
        coalesce(col("passed") =!= col("prev_passed"), lit(false))
          .as("flipped"),
        col("passed"))
  }
}

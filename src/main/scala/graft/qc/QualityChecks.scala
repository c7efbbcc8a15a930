package graft.qc

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** `NanFrequencyMismatchError` analog (`utils/errors.py:1-15`): raised
  * when a dataset's observed missing-value frequency falls outside the
  * binomial confidence interval of its declared expectation. */
class NanFrequencyMismatchException(msg: String) extends RuntimeException(msg)

/** The reference's quality-check suite (SURVEY §2.12) as declarative
  * Spark expressions. The per-group checks (missing frequency, extreme
  * values) are one distributed aggregate over the update. The read-back
  * keeps the reference's sampled shape (`publish.py:698-743` checks up
  * to 100 cells): [[sampleMismatches]] broadcasts the collected sample
  * and streams only the written cells it could match, so its cost
  * follows the sample, not the store ("broadcast the sampled side",
  * SURVEY §2).
  */
object QualityChecks {

  /** z for the reference's alpha = 1e-5 binomial interval
    * (`utils/publish.py:977-1028`). */
  val Z_ALPHA_1E5 = 4.417173413469023

  /** Wilson score interval bounds for a proportion, as columns.
    * Mirrors the statsmodels `proportion_confint` role in
    * `publish.py:998-1005`; implemented closed-form (no external dep).
    * `phat` and `nd` must be DOUBLE columns; the expression tree is kept
    * structurally identical to the SQL oracle so results are bit-equal.
    *
    * Fidelity caveat: the reference uses `scipy.stats.binom_test` — an
    * EXACT binomial test — where this is the Wilson normal
    * approximation. At the α=1e-5 tail the two differ: Wilson is
    * slightly anti-conservative for tiny n·p (an expected frequency the
    * exact test would just reject can fall inside the Wilson interval).
    * For the reference's use (n = cells per group, ≥10⁴, p ≈ 0.1) the
    * intervals agree to well under the check's tolerance; for tiny n·p
    * use `missingFrequency(..., exact = true)`, which computes the
    * Clopper-Pearson (exact inversion) interval via [[ExactBinomial]]. */
  def wilson(phat: Column, nd: Column, z: Double): (Column, Column) = {
    val zc = lit(z)
    val z2 = zc * zc
    val denom = lit(1.0) + z2 / nd
    val center = phat + z2 / (lit(2.0) * nd)
    val half = zc * sqrt(phat * (lit(1.0) - phat) / nd + z2 / (lit(4.0) * nd * nd))
    ((center - half) / denom, (center + half) / denom)
  }

  /** [[wilson]] for one `(x, n)` pair on the driver: the same operations
    * in the same order, so the bounds equal `missingFrequency`'s
    * `ci_lo`/`ci_hi` bit for bit. For callers that already hold the
    * counts and need no per-group frame. */
  def wilson(x: Long, n: Long, z: Double): (Double, Double) = {
    val nd = n.toDouble
    val phat = x.toDouble / nd
    val z2 = z * z
    val denom = 1.0 + z2 / nd
    val center = phat + z2 / (2.0 * nd)
    val half = z * math.sqrt(phat * (1.0 - phat) / nd + z2 / (4.0 * nd * nd))
    ((center - half) / denom, (center + half) / denom)
  }

  /** NaN/missing-frequency check per group (`publish.py:577-602`):
    * observed missing fraction with a CI at significance 1e-5 — Wilson
    * by default (closed-form, codegen'd), Clopper-Pearson when
    * `exact = true` (the reference's `binom_test` semantics: correct at
    * tiny n·p where Wilson is anti-conservative). The exact bounds are
    * a driver-math UDF over the per-group (x, n) pair — one row per
    * group, so the distributed work stays in the counting aggregate
    * either way. The caller compares `expected` against [ci_lo, ci_hi]
    * — outside ⇒ NanFrequencyMismatch.
    *
    * Significance parameters: `z` is the Wilson interval's normal
    * quantile; `alpha` is the exact interval's level. They are NOT
    * interchangeable, so a custom `z` with `exact = true` and no
    * explicit `alpha` is REFUSED rather than quietly evaluated at the
    * default 1e-5 — pass the alpha your z encodes (for two-sided
    * Wilson-z parity, alpha = 2·(1−Φ(z))). */
  def missingFrequency(df: DataFrame, groupKey: String, isMissing: Column,
                       z: Double = Z_ALPHA_1E5, exact: Boolean = false,
                       alpha: Double = Double.NaN): DataFrame = {
    val base = df.groupBy(groupKey)
      .agg(count(lit(1)).as("n"),
        count(when(isMissing, lit(1))).as("n_missing"))
      .withColumn("nd", col("n").cast("double"))
      .withColumn("phat", col("n_missing").cast("double") / col("n").cast("double"))
    if (exact) {
      require(z == Z_ALPHA_1E5 || !alpha.isNaN,
        "missingFrequency(exact = true): z parameterizes only the Wilson " +
          s"interval; a custom z ($z) would be silently ignored and the " +
          "Clopper-Pearson bounds evaluated at the default alpha=1e-5 — " +
          "pass alpha explicitly for the exact path")
      val effAlpha = if (alpha.isNaN) 1e-5 else alpha
      val cp = udf((x: Long, n: Long) =>
        ExactBinomial.clopperPearson(x, n, effAlpha))
      base.withColumn("ci", cp(col("n_missing"), col("n")))
        .withColumn("ci_lo", col("ci._1")).withColumn("ci_hi", col("ci._2"))
        .drop("ci", "nd")
    } else {
      val (lo, hi) = wilson(col("phat"), col("nd"), z)
      base.withColumn("ci_lo", lo).withColumn("ci_hi", hi).drop("nd")
    }
  }

  /** Extreme-value bounds check per group (`publish.py:567-575`,
    * EXTREME_VALUES_BY_UNIT): count of out-of-range values. */
  def extremeValues(df: DataFrame, groupKey: String, valueCol: String,
                    lo: Double, hi: Double): DataFrame =
    df.groupBy(groupKey)
      .agg(
        count(when(col(valueCol) < lo || col(valueCol) > hi, lit(1))).as("n_extreme"),
        count(lit(1)).as("n"))

  /** Post-parse read-back verification (`publish.py:824-894`): LEFT-join
    * original vs written on the coordinate key and flag cells whose
    * values differ beyond `tolerance`, whose null-ness disagrees, or —
    * crucially — that are ABSENT from the written data (`_found` false):
    * an inner join here would let a write that silently drops rows pass
    * verification, the exact failure a read-back gate exists to catch.
    * See [[differs]] for the value rule. */
  def valueCompare(orig: DataFrame, written: DataFrame, keys: Seq[String],
                   valueCol: String, tolerance: Double): DataFrame = {
    val o = orig.select((keys.map(col) :+ col(valueCol).as("v_orig")): _*)
    val p = written.select((keys.map(col) :+ col(valueCol).as("v_written"))
      :+ lit(true).as("_found"): _*)
    o.join(p, keys, "left")
      .filter(col("_found").isNull ||
        differs(col("v_orig"), col("v_written"), tolerance))
      .drop("_found")
  }

  /** `valueCompare(orig, written, ...).count()` for an `orig` small
    * enough to collect (a QC sample), without ever building a hash
    * table of `written`: the sample, numbered on the driver, is the
    * broadcast side of an inner join that streams `written`, and the
    * job returns one (sample row, differs) pair per match. A sample row
    * with no match is a missing cell, exactly as the LEFT join counts
    * it. Confine `written` to the sample's partitions first (the join
    * cannot prune a scan). */
  def sampleMismatches(orig: DataFrame, written: DataFrame, keys: Seq[String],
                       valueCol: String, tolerance: Double): Long = {
    val o = orig.select((keys.map(col) :+ col(valueCol).as("v_orig")): _*)
    val rows = o.collect()
    if (rows.isEmpty) return 0L
    val numbered = o.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows.zipWithIndex.map { case (r, i) =>
        Row.fromSeq(r.toSeq :+ i.toLong) }: _*),
      o.schema.add("_sid", LongType, nullable = false))
    val pairs = written
      .select((keys.map(col) :+ col(valueCol).as("v_written")): _*)
      .join(broadcast(numbered), keys)
      .select(col("_sid"),
        coalesce(differs(col("v_orig"), col("v_written"), tolerance), lit(false)))
      .collect()
    val matched = pairs.iterator.map(_.getLong(0)).toSet.size
    (rows.length - matched) + pairs.count(_.getBoolean(1))
  }

  /** A read-back pair that fails: null-ness disagrees, or the values are
    * unequal and differ by more than `tolerance`. Exactly equal values
    * match — Spark's `=` holds for NaN = NaN (the NaN-coded missing-cell
    * round trip) and for identical ±Infinity, whose `abs(Inf - Inf)` is
    * NaN, which Spark orders above every number and so above any
    * tolerance. Null when both are null (no failure). */
  private def differs(vOrig: Column, vWritten: Column, tolerance: Double): Column =
    (vOrig.isNull =!= vWritten.isNull) ||
      (!(vOrig === vWritten) && abs(vOrig - vWritten) > tolerance)
}

package graft.qc

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** QC suite unit tests (`tests/unit/utils/test_publish.py` QC sections,
  * incl. the written-value NaN matrix `test_publish.py:1304-1398`). */
class QualityChecksSpec extends SparkSpec {

  test("wilson CI brackets the true proportion") {
    val s = spark; import s.implicits._
    // 100 of 1000 missing -> phat 0.1; CI at z=4.417 must contain 0.1
    val df = (1 to 1000).map(i => (1, i <= 100)).toDF("g", "miss")
    val r = QualityChecks.missingFrequency(df, "g", col("miss"))
      .select("phat", "ci_lo", "ci_hi").collect()(0)
    assert(r.getDouble(0) == 0.1)
    assert(r.getDouble(1) < 0.1 && 0.1 < r.getDouble(2))
    // and a clearly-wrong expectation falls outside
    assert(0.5 > r.getDouble(2))
  }

  test("Clopper-Pearson: closed-form edges and published 95% values") {
    // x = 0: lo = 0, hi = 1 - (alpha/2)^(1/n) exactly (the analytic edge)
    val (lo0, hi0) = ExactBinomial.clopperPearson(0, 10, 0.05)
    assert(lo0 == 0.0)
    assert(math.abs(hi0 - (1.0 - math.pow(0.025, 0.1))) < 1e-12)
    assert(math.abs(hi0 - 0.30850) < 1e-4) // the textbook 0/10 interval
    // x = n mirrors it
    val (lon, hin) = ExactBinomial.clopperPearson(10, 10, 0.05)
    assert(hin == 1.0 && math.abs(lon - math.pow(0.025, 0.1)) < 1e-12)
    // the textbook 5/10 interval, symmetric about 1/2
    val (lo5, hi5) = ExactBinomial.clopperPearson(5, 10, 0.05)
    assert(math.abs(lo5 - 0.18709) < 1e-4 && math.abs(hi5 - 0.81291) < 1e-4)
    assert(math.abs((lo5 + hi5) - 1.0) < 1e-10)
  }

  test("Clopper-Pearson invariant: the bounds solve the exact tail equations") {
    // defining property: P(X <= x | p = hi) = a/2 and P(X >= x | p = lo) = a/2
    for ((x, n, a) <- Seq((1L, 100L, 1e-5), (3L, 50L, 0.01),
        (2L, 10000L, 1e-5), (40L, 400L, 0.05))) {
      val (lo, hi) = ExactBinomial.clopperPearson(x, n, a)
      assert(math.abs(ExactBinomial.binomCdf(x, n, hi) - a / 2) < 1e-9,
        s"upper tail ($x,$n,$a)")
      assert(math.abs((1.0 - ExactBinomial.binomCdf(x - 1, n, lo)) - a / 2) < 1e-9,
        s"lower tail ($x,$n,$a)")
    }
  }

  test("exact gate rejects expectations the Wilson approximation lets pass at tiny n*p") {
    val s = spark; import s.implicits._
    // 1 missing of 200 at alpha=1e-5: Wilson's large-z quadratic widens
    // the interval past the exact bound (hi 0.098 vs 0.072), so the
    // CHECK is anti-conservative — expectations the exact binomial test
    // rejects still fall inside the Wilson interval and pass
    val df = (1 to 200).map(i => (1, i <= 1)).toDF("g", "miss")
    val w = QualityChecks.missingFrequency(df, "g", col("miss"))
      .select("ci_lo", "ci_hi").collect()(0)
    val e = QualityChecks.missingFrequency(df, "g", col("miss"), exact = true)
      .select("ci_lo", "ci_hi").collect()(0)
    val (exLo, exHi) = ExactBinomial.clopperPearson(1, 200, 1e-5)
    assert(e.getDouble(0) == exLo && e.getDouble(1) == exHi) // UDF wiring
    assert(e.getDouble(1) < w.getDouble(1),
      s"exact hi ${e.getDouble(1)} must be below Wilson hi ${w.getDouble(1)}")
    // an expected frequency between the two upper bounds: Wilson accepts
    // it, the exact gate (the reference's binom_test behavior) rejects
    val expected = (w.getDouble(1) + e.getDouble(1)) / 2
    assert(expected < w.getDouble(1), "Wilson would accept")
    assert(expected > e.getDouble(1), "exact rejects")
  }

  test("exact=true with a custom z and no alpha is refused, not silently 1e-5") {
    val s = spark; import s.implicits._
    val df = (1 to 50).map(i => (1, i <= 2)).toDF("g", "miss")
    // z parameterizes only the Wilson interval: running Clopper-Pearson
    // at the default alpha would be a quietly different significance
    // level than the caller's z encodes
    val ex = intercept[IllegalArgumentException] {
      QualityChecks.missingFrequency(df, "g", col("miss"),
        z = 2.5758, exact = true).collect()
    }
    assert(ex.getMessage.contains("alpha"))
    // explicit alpha beside the custom z is honored
    val r = QualityChecks.missingFrequency(df, "g", col("miss"),
      z = 2.5758, exact = true, alpha = 0.01)
      .select("ci_lo", "ci_hi").collect()(0)
    val (lo, hi) = ExactBinomial.clopperPearson(2, 50, 0.01)
    assert(r.getDouble(0) == lo && r.getDouble(1) == hi)
  }

  test("extremeValues counts out-of-bounds cells (publish.py:567-575)") {
    val s = spark; import s.implicits._
    val df = Seq(("a", -91.0), ("a", 10.0), ("a", 61.0), ("b", 0.0))
      .toDF("g", "v")
    val r = QualityChecks.extremeValues(df, "g", "v", -90.0, 60.0)
      .orderBy("g").collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2)))
    assert(r.sameElements(Array(("a", 2L, 3L), ("b", 0L, 1L))))
  }

  test("valueCompare flags value drift and null disagreement") {
    val s = spark; import s.implicits._
    val orig = Seq((1L, 1.0), (2L, 2.0), (3L, Double.NaN), (4L, 4.0))
      .toDF("t", "v").select(col("t"),
        when(isnan(col("v")), lit(null)).otherwise(col("v")).as("v"))
    val written = Seq((1L, 1.0), (2L, 2.5), (3L, 3.0), (4L, 4.00000001))
      .toDF("t", "v")
    val bad = QualityChecks.valueCompare(orig, written, Seq("t"), "v", 1e-4)
      .select("t").orderBy("t").as[Long].collect()
    // t=2 drift beyond tolerance; t=3 null vs value; t=4 within tolerance
    assert(bad.sameElements(Array(2L, 3L)))
  }

  test("valueCompare catches DROPPED rows and passes both-NaN cells") {
    val s = spark; import s.implicits._
    // a write that silently loses source rows must FAIL read-back — an
    // inner join would simply skip the missing keys and certify the loss
    val orig = Seq((1L, 1.0), (2L, 2.0), (3L, Double.NaN)).toDF("t", "v")
    val written = Seq((1L, 1.0), (3L, Double.NaN)).toDF("t", "v") // t=2 dropped
    val bad = QualityChecks.valueCompare(orig, written, Seq("t"), "v", 1e-4)
      .select("t").as[Long].collect()
    // t=2 flagged as missing; t=3 NaN==NaN is a MATCH (Spark orders NaN
    // above all numbers, so a naive abs-diff would flag the identical
    // round-trip)
    assert(bad.sameElements(Array(2L)))
  }

  test("valueCompare: identical infinities match, any other pairing with one is flagged") {
    val s = spark; import s.implicits._
    val inf = Double.PositiveInfinity
    val orig = Seq((1L, inf), (2L, inf), (3L, inf), (4L, Double.NaN), (5L, -inf))
      .toDF("t", "v")
    val written = Seq((1L, inf), (2L, -inf), (3L, 1.0), (4L, inf), (5L, -inf))
      .toDF("t", "v")
    val bad = QualityChecks.valueCompare(orig, written, Seq("t"), "v", 1e-4)
      .select("t").orderBy("t").as[Long].collect()
    // (+Inf, +Inf) and (-Inf, -Inf) pass; (+Inf, -Inf), (+Inf, 1.0) and
    // (NaN, +Inf) are flagged
    assert(bad.sameElements(Array(2L, 3L, 4L)))
    assert(QualityChecks.sampleMismatches(orig, written, Seq("t"), "v", 1e-4) == 3L)
  }

  test("sampleMismatches counts what valueCompare counts: drift, null, dropped, duplicates") {
    val s = spark; import s.implicits._
    val orig = Seq[(Long, Option[Double])]((1L, Some(1.0)), (2L, Some(2.0)),
      (3L, None), (4L, Some(4.0)), (5L, Some(Double.NaN)), (6L, None),
      (7L, Some(7.0)), (7L, Some(7.0))).toDF("t", "v")
    val written = Seq[(Long, Option[Double])]((1L, Some(1.00001)), (2L, Some(2.5)),
      (3L, Some(3.0)), (5L, Some(Double.NaN)), (6L, None), (7L, Some(7.0)),
      (7L, Some(7.5)), (8L, Some(8.0))).toDF("t", "v")
    val full = QualityChecks.valueCompare(orig, written, Seq("t"), "v", 1e-4).count()
    // t=2 drift, t=3 null vs value, t=4 dropped, t=7 twice sampled ×
    // twice written with one drifted copy
    assert(full == 5L)
    assert(QualityChecks.sampleMismatches(orig, written, Seq("t"), "v", 1e-4) == full)
    assert(QualityChecks.sampleMismatches(orig.filter(lit(false)), written,
      Seq("t"), "v", 1e-4) == 0L)
  }
}

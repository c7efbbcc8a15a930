package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic generators behind the `Probe scale` rehearsals (and the
  * specs that reuse them). Every value is a pure function of its seed,
  * so planting a duplicate is pointing a row at another row's seed, and
  * the scenarios' expected counts are seed arithmetic. The planted
  * counts depend on these bytes: `ScaleDataSpec` pins their digests. */
object ScaleData {

  private def mix(z0: Long): Long = {
    var z = z0 * 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def basePix(seed: Int)(x: Int, y: Int): Int = {
    // splitmix-style avalanche, NOT java.util.Random: Random's first
    // draw correlates across nearby seeds (weak scrambler), which made
    // adjacent-seed images share 8×8 block grids — at 90k docs that
    // produced thousands of EXACT pHash collisions between unrelated
    // images (2672/3000 distinct, 341 close pairs in 2000). With proper
    // mixing the blocks are iid and hashes behave.
    var z = seed * 7919L + (x / 8) * 31L + y / 8
    z = (z ^ (z >>> 33)) * 0xff51afd7ed558ccdL
    z = (z ^ (z >>> 33)) * 0xc4ceb9fe1a85ec53L
    z ^= z >>> 33
    (((z & 0x7fffffffL) % 200).toInt + (x + y) % 16) % 255
  }

  /** 64×64 grayscale PGM with iid 8×8 blocks; `patch` nudges one 4×4
    * patch by 10 — a perceptual near copy of the same seed's image. */
  def img(seed: Int, patch: Boolean): Array[Byte] = {
    val header = "P5\n64 64\n255\n".getBytes("US-ASCII")
    header ++ Array.tabulate(64 * 64) { i =>
      val (x, y) = (i % 64, i / 64)
      val v = basePix(seed)(x, y) +
        (if (patch && x >= 20 && x < 24 && y >= 40 && y < 44) 10 else 0)
      (v & 0xff).toByte
    }
  }

  /** 8 tokens drawn from a SHARED 1000-token vocab; `near` appends one
    * token. All-shared vocabulary keeps an armed drift gate honest
    * (per-doc unique tokens would push shard containment to ~0 at any
    * scale and a rehearsal would measure the gate tripping, not
    * passing). Distinct seeds collide on the full 8-token sequence with
    * probability ~n²/2·1000⁻⁸ (≈ 2·10⁻¹² at 2M docs) and random trigram
    * overlap is far below the 0.5 Jaccard gate, so planted near copies
    * are the only duplicates. */
  def text(seed: Long, near: Boolean): String = {
    val base = (0 until 8).map(j =>
      s"v${math.floorMod(mix(seed * 8 + j), 1000)}").mkString(" ")
    if (near) base + " extra" else base
  }

  /** Unit 64-dim embedding; `near` adds 0.1 × an unrelated direction
    * before normalizing (cos ≈ 0.995 to the plain vector). */
  def emb(seed: Long, near: Boolean): Array[Float] = {
    def raw(s: Long): Array[Double] = Array.tabulate(64)(j =>
      (math.floorMod(mix(s * 64 + j), 2000001) - 1000000) / 1000000.0)
    val v = raw(seed)
    val out =
      if (!near) v
      else {
        val w = raw(seed + 0x5eed5eedL)
        Array.tabulate(64)(j => v(j) + 0.1 * w(j))
      }
    val n = math.sqrt(out.map(x => x * x).sum)
    out.map(x => (x / n).toFloat)
  }

  /** Word `w<k>` with k = xxhash64(seed, j) mod vocab: token j of the doc
    * whose seed column is `seed`. */
  def word(seed: Column, j: Column, vocab: Int): Column =
    concat(lit("w"), pmod(xxhash64(seed, j), lit(vocab)))

  /** A space-joined doc of `nTokens` tokens, token j = `tok(j)`;
    * generated distributively, no driver-side rows. */
  def words(nTokens: Int)(tok: Column => Column): Column =
    array_join(transform(sequence(lit(0), lit(nTokens - 1)), tok), " ")

  /** Days `from` until `until` × 112 × 112 cells, precip a hash of the
    * cell plus `off`, generated distributively. */
  def cube(spark: SparkSession, from: Int, until: Int, off: Double): DataFrame = {
    val day = 86400000000L
    spark.range(from, until).select((col("id") * day).as("time"))
      .crossJoin(spark.range(112).select((lit(-14.0) + col("id") * 0.25).as("latitude")))
      .crossJoin(spark.range(112).select((lit(10.0) + col("id") * 0.25).as("longitude")))
      .withColumn("precip",
        pmod(xxhash64(col("time"), col("latitude"), col("longitude")), lit(10000L))
          .cast("double") / 100.0 + off)
  }
}

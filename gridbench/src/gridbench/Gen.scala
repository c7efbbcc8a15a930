package gridbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every cell value is a closed-form function
  * of (seed, day, lat index, lon index), evaluated by Spark to build the
  * inputs and by plain Scala to check results, so checks never need a
  * second copy of the data.
  *
  * The grid is `nLat` x `nLon` cells at 0.25 degrees, starting at
  * (-35, -20). Each day carries exactly `missingPerDay` cells holding the
  * -9999 sentinel, at positions chosen by a seeded permutation, so the
  * observed missing share equals the declared one on every day.
  */
final case class Grid(seed: Long, nLat: Int, nLon: Int, missingPerDay: Int) {
  val DayUs: Long = 86400000000L
  val Sentinel: Double = -9999.0
  val cells: Int = nLat * nLon
  private val s: Long = math.floorMod(seed, 1000003L)
  private val PermStep = 7919L // prime, coprime with every grid size used

  def timeUs(day: Long): Long = day * DayUs
  def missingShare: Double = missingPerDay.toDouble / cells

  def isMissing(day: Long, i: Int, j: Int): Boolean =
    math.floorMod((i.toLong * nLon + j) * PermStep + day * 104729L + s * 31L,
      cells.toLong) < missingPerDay

  /** The clean value of a cell, before any sentinel or correction bias. */
  def value(day: Long, i: Int, j: Int): Double =
    math.floorMod(day * 7919L + i * 104729L + j * 1299709L + s * 15485863L,
      100003L) / 100.0

  /** What the store holds for a cell after normalisation: null for a
    * sentinel cell, the value otherwise. */
  def stored(day: Long, i: Int, j: Int): Option[Double] =
    if (isMissing(day, i, j)) None else Some(value(day, i, j))

  /** Raw cube for days [d0, d0 + nDays) over the whole grid, with the
    * -9999 sentinel in the missing cells. */
  def slab(spark: SparkSession, d0: Long, nDays: Int): DataFrame = {
    val day = expr(s"id div $cells") + d0
    val i = pmod(expr(s"id div $nLon"), lit(nLat.toLong))
    val j = pmod(col("id"), lit(nLon.toLong))
    val v = pmod(day * 7919L + i * 104729L + j * 1299709L + lit(s * 15485863L),
      lit(100003L)).cast("double") / 100.0
    val missing = pmod((i * nLon + j) * PermStep + day * 104729L + lit(s * 31L),
      lit(cells.toLong)) < missingPerDay
    spark.range(nDays.toLong * cells).select(
      (day * DayUs).as("time"),
      (lit(-35.0) + i * 0.25).as("latitude"),
      (lit(-20.0) + j * 0.25).as("longitude"),
      when(missing, lit(Sentinel)).otherwise(v).as("precip"))
  }
}

/** Seeded documents shaped like the `documents` table of the engine's
  * test data (doc_id, text, lang, source, n_chars). They match what its
  * 5,000-row copy at scale 0.1 measures:
  *  - texts of 10 to 99 words, uniformly, over the table's 30-word
  *    vocabulary;
  *  - lang `en` for 41% of the documents and `zh`, `es`, `fr` or `de`
  *    for about 15% each; source `src<doc_id mod 20>`;
  *  - 5% near-duplicates: another document's text with the word `dup`
  *    appended (3-word-shingle Jaccard 0.89 to 0.99 with it);
  *  - 0.2% exact copies of another document (the table has 0.16%).
  * Any other two documents share almost no 3-word shingle. The copies
  * are the ids `19 mod 20` (near) and `250 mod 500` (exact); each copies
  * a document of the first `pool` ids that is not itself a copy, so each
  * copy is exactly one duplicate to the dedup, closed-form. */
final case class Docs(seed: Long, pool: Long) {
  require(pool % 20 == 0 && pool > 0, "the pool is a whole number of 20-id blocks")
  private val s: Long = math.floorMod(seed, 1000003L)
  private val Vocab = Vector("a", "agg", "batch", "big", "column", "customer",
    "data", "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")
  private val Langs = Vector("zh", "es", "fr", "de")

  private def mix(x: Long): Long = { // splitmix64 finaliser
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def h(id: Long, k: Long): Long = mix(mix(s * 1000003L + id) + k)

  def isNear(id: Long): Boolean = id % 20 == 19
  def isExact(id: Long): Boolean = id % 500 == 250
  def isCopy(id: Long): Boolean = isNear(id) || isExact(id)

  /** The document a copy repeats: an id `0..8 mod 20` below `pool`. */
  def original(id: Long): Long =
    20 * math.floorMod(h(id, -1), pool / 20) + math.floorMod(h(id, -2), 9L)

  private def ownText(id: Long): String = {
    val n = 10 + math.floorMod(h(id, -3), 90L).toInt
    (0 until n).map(k => Vocab(math.floorMod(h(id, k), Vocab.size.toLong).toInt))
      .mkString(" ")
  }

  def text(id: Long): String =
    if (isNear(id)) ownText(original(id)) + " dup"
    else if (isExact(id)) ownText(original(id))
    else ownText(id)

  def lang(id: Long): String = {
    val r = math.floorMod(h(id, -4), 100L)
    if (r < 41) "en" else Langs((r % 4).toInt)
  }

  /** Documents with ids [lo, hi), and how many of them are copies. */
  def batch(spark: SparkSession, lo: Long, hi: Long): (DataFrame, Long) = {
    import spark.implicits._
    val rows = (lo until hi).map(id => (id, text(id), lang(id), s"src${id % 20}"))
    (rows.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long")),
      (lo until hi).count(isCopy).toLong)
  }
}

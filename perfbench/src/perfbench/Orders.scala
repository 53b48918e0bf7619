package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded orders data in the shape of the TPC-H `orders` table, the input
  * of `etl_daily`. Keys are laid out by order date: date
  * index `j` owns keys `j*perDay+1 .. (j+1)*perDay`, so a batch's keys,
  * the dates it touches and the partitions it rewrites all follow from
  * the seed. Every non-key value of key `k` at revision `rev` is a hash of
  * (seed, rev, k), so any revision of any row can be recomputed. */
final class Orders(spark: SparkSession, seed: Long, val perDay: Int) {
  import Harness.hashMod

  val columns: Seq[String] = Seq("o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority")

  /** Rows for the keys in `keys` (a frame with column `k`) at `rev`. */
  def rows(keys: DataFrame, rev: String): DataFrame = {
    val k = col("k")
    keys.select(
      k.as("o_orderkey"),
      (hashMod(15000, seed, "cust", k) + 1).as("o_custkey"),
      element_at(array(lit("O"), lit("F"), lit("P")),
        (hashMod(3, seed, s"st$rev", k) + 1).cast("int")).as("o_orderstatus"),
      (hashMod(50000000, seed, s"pr$rev", k) / 100.0).as("o_totalprice"),
      date_add(lit(java.sql.Date.valueOf("2024-01-01")),
        ((k - 1) / perDay).cast("int")).as("o_orderdate"),
      element_at(array(lit("1-URGENT"), lit("2-HIGH"), lit("3-MEDIUM"),
        lit("4-NOT SPECIFIED"), lit("5-LOW")),
        (hashMod(5, seed, s"op$rev", k) + 1).cast("int")).as("o_orderpriority"))
  }

  /** All keys of date indexes [from, until). */
  def dateKeys(from: Int, until: Int): DataFrame =
    spark.range(from.toLong * perDay + 1, until.toLong * perDay + 1).toDF("k")

  /** Up to `n` distinct existing keys drawn from the `window` date
    * indexes before `date`, seeded by `salt`. */
  def recentKeys(n: Int, date: Int, window: Int, salt: String): DataFrame = {
    val j = lit(date - 1L) - hashMod(math.min(window, date), seed, s"${salt}d", col("id"))
    spark.range(n).select(
      (j * perDay + 1 + hashMod(perDay, seed, s"${salt}k", col("id"))).as("k"))
      .distinct()
  }

  def dateOf(key: Long): Int = ((key - 1) / perDay).toInt
}

package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded synthetic inputs in the two shapes the product jobs read.
  *
  * Every random choice is a hash of (seed, salt, row key), so the same
  * seed gives the same rows however Spark partitions the work. The
  * tables are TPC-H shaped `orders`/`lineitem` parquet in the layout
  * `graft.model.Tables` reads; the stream records are the kafka-shaped
  * `(key, value)` lines AppsSpec synthesizes from `lineitem` x `orders`:
  * key = invoice id, `C`-prefixed for a cancelled invoice (about 1 in 7),
  * value = an 8-field purchase CSV line, truncated to 7 fields (invalid)
  * for about 1 line in 13.
  */
object Inputs {

  /** A uniform draw in [0, n) keyed on the seed, a salt and `keys`. */
  def draw(seed: Long, salt: String, n: Long, keys: Column*): Column =
    pmod(xxhash64(lit(seed) +: lit(salt) +: keys: _*), lit(n))

  /** Write `orders.parquet` and `lineitem.parquet` under `dir`: about
    * `invoices` orders, drawn from a key universe four times larger so the
    * seed picks which invoice ids appear, with 1 to 7 lines each. */
  def writeTables(spark: SparkSession, dir: String, seed: Long, invoices: Long): Unit = {
    import spark.implicits._
    val k = $"o_orderkey"
    val orders = spark.range(0L, 4L * invoices).toDF("o_orderkey")
      .filter(draw(seed, "pick", 4, k) === 0)
      .select(k,
        (draw(seed, "cust", 15000, k) + 1).as("o_custkey"),
        element_at(array(lit("F"), lit("O"), lit("P")),
          (draw(seed, "status", 3, k) + 1).cast("int")).as("o_orderstatus"),
        (draw(seed, "total", 50000000, k) / 100.0 + 900.0).as("o_totalprice"),
        // 1992-01-01 plus a day and a minute of that day
        timestamp_seconds(lit(694224000L) + draw(seed, "day", 2400, k) * 86400L +
          draw(seed, "minute", 1440, k) * 60L).as("o_orderdate"),
        element_at(array(lit("1-URGENT"), lit("2-HIGH"), lit("3-MEDIUM"),
          lit("4-NOT SPECIFIED"), lit("5-LOW")),
          (draw(seed, "prio", 5, k) + 1).cast("int")).as("o_orderpriority"))
    orders.write.mode("overwrite").parquet(s"$dir/orders.parquet")

    val ln = $"l_linenumber"
    val qty = (draw(seed, "qty", 50, k, ln) + 1).cast("double")
    val retail = (draw(seed, "retail", 110000, k, ln) + 90000) / 100.0
    spark.read.parquet(s"$dir/orders.parquet")
      .select(k, explode(sequence(lit(1), (draw(seed, "lines", 7, k) + 1).cast("int")))
        .as("l_linenumber"))
      .select(k.as("l_orderkey"),
        (draw(seed, "part", 20000, k, ln) + 1).as("l_partkey"),
        (draw(seed, "supp", 1000, k, ln) + 1).as("l_suppkey"),
        ln,
        qty.as("l_quantity"),
        round(qty * retail, 2).as("l_extendedprice"),
        (draw(seed, "disc", 11, k, ln) / 100.0).as("l_discount"),
        (draw(seed, "tax", 9, k, ln) / 100.0).as("l_tax"),
        element_at(array(lit("A"), lit("N"), lit("R")),
          (draw(seed, "flag", 3, k, ln) + 1).cast("int")).as("l_returnflag"),
        element_at(array(lit("F"), lit("O")),
          (draw(seed, "lstatus", 2, k, ln) + 1).cast("int")).as("l_linestatus"),
        timestamp_seconds(lit(694224000L) + draw(seed, "ship", 2500, k, ln) * 86400L)
          .cast("timestamp_ntz").as("l_shipdate"))
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
  }

  /** The kafka-shaped records over the tables in `dir`, one row per line,
    * with the generator's own line fields alongside: `inv` (invoice id),
    * `ord` (a seed-keyed invoice order; lines of one invoice stay
    * together, as the reference producer replays an invoice-grouped CSV)
    * and the typed fields the batch twin folds. */
  def records(spark: SparkSession, dir: String, seed: Long): DataFrame = {
    import spark.implicits._
    val lines = spark.read.parquet(s"$dir/lineitem.parquet")
      .join(spark.read.parquet(s"$dir/orders.parquet"), $"l_orderkey" === $"o_orderkey")
    val inv = $"l_orderkey"
    val first7 = concat_ws(",",
      inv.cast("string"),
      concat(lit("SKU"), ($"l_partkey" % 97).cast("string")),
      $"o_orderstatus",
      $"l_quantity".cast("int").cast("string"),
      date_format($"o_orderdate", graft.model.Schemas.invoiceDateFormat),
      $"l_extendedprice".cast("string"),
      $"o_custkey".cast("string"))
    val truncated = draw(seed, "truncate", 13, inv, $"l_linenumber") === 0
    val cancelled = draw(seed, "cancel", 7, inv) === 0
    lines.select(
      concat(when(cancelled, lit("C")).otherwise(lit("")), inv.cast("string")).as("key"),
      concat(first7, when(truncated, lit("")).otherwise(lit(",ES"))).as("value"),
      inv.as("inv"),
      xxhash64(lit(seed), lit("order"), inv).as("ord"),
      $"l_linenumber".as("line"),
      $"l_quantity".cast("long").as("quantity"),
      $"l_extendedprice".as("unit_price"),
      (hour($"o_orderdate") * 60 + minute($"o_orderdate")).as("minute_of_day"))
  }
}

package graft

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Local scale-up fixture builder (not part of the driver contract).
  *
  * Blows the driver's sf0.1 testdata up `copies`x into a new directory so
  * SCALE.md can record MEASURED wall-time ratios for the heaviest batch
  * queries instead of arguing scaling from plan shape alone. The blow-up
  * mirrors how a larger SF grows, not a naive self-union:
  *
  *  - `lineitem`/`orders` replicate with a shared orderkey offset per copy
  *    (join keys stay consistent; parts/suppliers/customers see `copies`x
  *    the lines, like a higher SF would).
  *  - `events` replicates with fresh `event_id`/`user_id` per copy — more
  *    users at the same per-user density, the driver's own SF axis.
  *  - `documents` replicates with fresh `doc_id`s and a per-copy one-letter
  *    suffix on every word: length/word statistics are preserved within
  *    ~2%, but shingle sets across copies are fully disjoint, so dedup
  *    queries see a `copies`x corpus — NOT a corpus that is `copies`x
  *    duplicated (which would quadratically inflate pair generation and
  *    measure data pathology, not scaling). `n_chars` is recomputed
  *    (`n_chars == length(text)` holds in the driver data).
  *  - `embeddings` replicate with fresh `vec_id`s and the vector rotated
  *    by `copy` positions — norms and component distributions preserved,
  *    cross-copy cosine ~0, so ANN/dedup candidate structure scales
  *    instead of collapsing onto `copies`x identical points.
  *  - dimension tables (`region nation customer supplier part`) copy
  *    verbatim — higher SFs grow facts, not dimensions.
  *
  * Usage: `runMain graft.ScaleUp <srcDir> <outDir> <copies>`
  */
object ScaleUp {

  private def offsetOf(df: DataFrame, col0: String): Long =
    df.agg(max(col(col0))).head().getLong(0) + 1L

  /** Union `copies` transformed replicas of `df`; `f(i)` maps copy index
    * to the per-copy transformation (copy 0 must be the identity). */
  private def replicate(df: DataFrame, copies: Int)(f: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until copies).map(i => f(df, i)).reduce(_ union _)

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: ScaleUp <srcDir> <outDir> <copies>")
    val (src, out, copies) = (args(0), args(1), args(2).toInt)
    require(copies >= 1 && copies <= 26, "copies must be 1..26 (per-copy letter tags)")
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("WARN")

    def read(name: String) = spark.read.parquet(s"$src/$name.parquet")
    def write(name: String)(df: DataFrame): Unit =
      df.write.mode(SaveMode.Overwrite).parquet(s"$out/$name.parquet")

    // facts: lineitem + orders share one orderkey offset so the FK holds
    val orders = read("orders")
    val lineitem = read("lineitem")
    val okOff = math.max(offsetOf(orders, "o_orderkey"), offsetOf(lineitem, "l_orderkey"))
    write("orders")(replicate(orders, copies)((d, i) =>
      d.withColumn("o_orderkey", col("o_orderkey") + lit(i * okOff))))
    write("lineitem")(replicate(lineitem, copies)((d, i) =>
      d.withColumn("l_orderkey", col("l_orderkey") + lit(i * okOff))))

    val events = read("events")
    val evOff = offsetOf(events, "event_id")
    val uOff = offsetOf(events, "user_id")
    write("events")(replicate(events, copies)((d, i) => d
      .withColumn("event_id", col("event_id") + lit(i * evOff))
      .withColumn("user_id", col("user_id") + lit(i * uOff))))

    val docs = read("documents")
    val dOff = offsetOf(docs, "doc_id")
    write("documents")(replicate(docs, copies) { (d, i) =>
      val tagged = if (i == 0) d else d.withColumn("text",
        concat_ws(" ", transform(split(col("text"), " "),
          w => when(w === "", w).otherwise(concat(w, lit(('a' + i).toChar.toString))))))
      tagged
        .withColumn("doc_id", col("doc_id") + lit(i * dOff))
        .withColumn("n_chars", length(col("text")).cast("long"))
    })

    val emb = read("embeddings")
    val vOff = offsetOf(emb, "vec_id")
    write("embeddings")(replicate(emb, copies) { (d, i) =>
      val rotated = if (i == 0) d else d.withColumn("embedding",
        concat(slice(col("embedding"), lit(i + 1), size(col("embedding")) - lit(i)),
          slice(col("embedding"), lit(1), lit(i))))
      rotated.withColumn("vec_id", col("vec_id") + lit(i * vOff))
    })

    Seq("region", "nation", "customer", "supplier", "part")
      .foreach(name => write(name)(read(name)))

    Seq("lineitem", "orders", "events", "documents", "embeddings").foreach { n =>
      println(s"[scaleup] $n: ${spark.read.parquet(s"$out/$n.parquet").count()} rows")
    }
    spark.stop()
  }
}

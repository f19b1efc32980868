package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Market-basket co-occurrence: how often two items appear in the same
  * basket, with the lift of each pair over independence.
  *
  * Reference scope: the reference pipeline stops at per-invoice
  * aggregation (InvoicePipeline.scala:120-140 — one row per invoice);
  * co-occurrence is the canonical NEXT question over the same
  * basket-shaped data, and the operator a recommendation/affinity
  * pipeline needs at scale.
  *
  * Scale shape: candidate pairs come from the SAME capped-bucket
  * skeleton as every dedup operator ([[Dedup.bucketPairs]]) — ONE hash
  * aggregate on the basket key, per-basket member lists bounded by
  * `maxBasket`, pairs exploded from each bounded list. No basket
  * self-join (which would shuffle the items table twice and go
  * quadratic on a degenerate mega-basket). Item marginals are a second
  * aggregate on the item key; the pair↔marginal joins key on item ids
  * only. At 100 TB nothing here holds more than `maxBasket` items in
  * one row, and the only wide state is the top-k heap
  * (TakeOrderedAndProject) per partition.
  */
object Cooccur {

  /** The deduplicated (basket, item) incidence frame every consumer
    * below derives from. */
  private def incidOf(items: DataFrame, basketCol: String,
                      itemCol: String): DataFrame =
    items
      .select(col(basketCol).as("basket"), col(itemCol).cast("long").as("item"))
      .distinct()

  private def pairCountsOf(incid: DataFrame, maxBasket: Int): DataFrame =
    Dedup.bucketPairs(incid, "basket", col("item"), maxBasket)
      .groupBy(col("p.a").as("item_a"), col("p.b").as("item_b"))
      .agg(count(lit(1)).as("n_ab"))

  /** Co-occurrence pair counts (`item_a < item_b`, `n_ab` = number of
    * baskets holding both) via the capped-bucket skeleton — the raw
    * affinity graph [[marketBasketPairs]] ranks and q27's PageRank
    * walks. */
  def pairCounts(items: DataFrame, basketCol: String, itemCol: String,
                 maxBasket: Int = 64): DataFrame =
    pairCountsOf(incidOf(items, basketCol, itemCol), maxBasket)

  /** Top-`k` item pairs by basket co-occurrence count.
    *
    * @param items     rows holding one (basket, item) incidence each
    *                  (duplicates collapsed internally)
    * @param basketCol grouping key (order id, session id, invoice no)
    * @param itemCol   item key; pairs are emitted with `item_a < item_b`
    * @param maxBasket skew guard: baskets larger than this are dropped —
    *                  a degenerate basket (a crawler session, a
    *                  wholesale order) would otherwise contribute
    *                  O(|basket|²) pairs of no affinity signal
    * @param k         pairs kept, ordered by (count desc, item_a, item_b)
    * @return (item_a, item_b, n_ab, lift) — `lift` is the exact-integer
    *         ratio `n_ab·N / (n_a·n_b)` evaluated in one double
    *         division, so both engines round identically
    */
  def marketBasketPairs(items: DataFrame, basketCol: String, itemCol: String,
                        maxBasket: Int = 64, k: Int = 100): DataFrame = {
    // the incidence frame feeds FOUR subplans (basket count, both
    // marginal joins, the pair aggregate) and Catalyst reuses none of
    // them — each re-scanned the items table and re-ran the distinct's
    // exchange. Materialize it once and let every consumer read the cut.
    val incid = Lineage.cut(incidOf(items, basketCol, itemCol))
    val nBaskets = incid.select(countDistinct(col("basket")).as("n_baskets"))
    val marginals = incid.groupBy(col("item")).agg(count(lit(1)).as("n_item"))
    pairCountsOf(incid, maxBasket)
      .join(marginals.select(col("item").as("item_a"), col("n_item").as("n_a")), "item_a")
      .join(marginals.select(col("item").as("item_b"), col("n_item").as("n_b")), "item_b")
      .crossJoin(broadcast(nBaskets))
      .select(col("item_a"), col("item_b"), col("n_ab"),
        ((col("n_ab") * col("n_baskets")).cast("double") / (col("n_a") * col("n_b")))
          .as("lift"))
      .orderBy(col("n_ab").desc, col("item_a"), col("item_b"))
      .limit(k)
  }
}

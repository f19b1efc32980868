package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Invoice featurization — the reference's batch ETL re-expressed as pure
  * `DataFrame => DataFrame` functions shared by batch and streaming (the
  * reference duplicates this logic across `Clustering.scala:47-123` and
  * `InvoicePipeline.scala:93-130,206-214`; here there is one definition).
  *
  * Scale notes: the per-invoice aggregate is a single hash aggregate with
  * map-side partial aggregation (Catalyst emits HashAggregate(partial) →
  * Exchange(invoice key) → HashAggregate(final)); no other shuffle exists in
  * the pipeline. All expressions are built-ins, so the whole path stays
  * inside whole-stage codegen.
  */
object InvoiceFeaturizer {

  /** Feature column order — shared by training and scoring, mirroring the
    * 5-feature vector at reference `InvoicePipeline.scala:206-214` /
    * `Clustering.scala:109-123`. */
  val FeatureCols: Seq[String] =
    Seq("avg_unit_price", "min_unit_price", "max_unit_price", "time", "number_items")

  /** Decimal hour-of-day, `hour + minute/60` — one shared expression for the
    * reference's two implementations (`Clustering.scala:55-58` batch,
    * `InvoicePipeline.scala:104-105` hand-rolled stream twin). */
  def decimalHour(ts: Column): Column = hour(ts) + minute(ts) / lit(60.0)

  /** Customer-validity flag, 1.0/0.0 (reference `Clustering.scala:61-64`). */
  def hasCustomer(customerId: Column): Column =
    when(customerId.isNull || trim(customerId.cast("string")) === "", 0.0).otherwise(1.0)

  /** Parse the reference's `"MM/dd/yyyy HH:mm"` date strings once into a
    * proper timestamp (reference `Clustering.scala:49-52`); downstream time
    * math derives from this single column instead of re-splitting strings. */
  def parseInvoiceDate(raw: Column): Column =
    to_timestamp(raw, graft.model.Schemas.invoiceDateFormat)

  /** Per-invoice aggregate — the reference's A1
    * (`Clustering.scala:67-84`): avg/min/max unit price, time, total items,
    * customer flag. One hash aggregate, partial+final via Catalyst.
    *
    * @param lines     line-level rows (batch or streaming)
    * @param invoiceNo grouping key column
    * @param unitPrice per-line unit price
    * @param quantity  per-line quantity
    * @param time      per-line decimal-hour (use [[decimalHour]])
    * @param customer  customer id (nullable)
    */
  def featurize(lines: DataFrame, invoiceNo: Column, unitPrice: Column,
                quantity: Column, time: Column, customer: Column): DataFrame =
    // avg_unit_price accumulates in integer cents: floating sums are
    // partitioning-order-dependent, so a plain avg() is not
    // replay-deterministic on a cluster; integer cents are exact.
    lines.groupBy(invoiceNo.as("invoice_no")).agg(
      // divide by the NON-NULL price count (avg() semantics): count(*)
      // would skew the mean whenever a parsed line has a null price,
      // since the cents sum skips nulls but the denominator would not
      (sum(round(unitPrice * 100).cast("long")) / lit(100.0) / count(unitPrice))
        .as("avg_unit_price"),
      min(unitPrice).as("min_unit_price"),
      max(unitPrice).as("max_unit_price"),
      avg(time).as("time"),
      sum(quantity).cast("double").as("number_items"),
      max(hasCustomer(customer)).as("has_customer"))

  /** Training-validity predicate over featurized invoices — the reference's
    * F3 (`Clustering.scala:87-107`): not cancelled, all features present and
    * positive, a known customer, plausible time-of-day. Expressed as one
    * `Column` so Catalyst can fold and push it. */
  def validInvoice(invoiceNo: Column): Column =
    !invoiceNo.cast("string").startsWith("C") &&
      col("avg_unit_price").isNotNull && col("min_unit_price").isNotNull &&
      col("max_unit_price").isNotNull && col("time").isNotNull &&
      col("number_items").isNotNull &&
      col("has_customer") === 1.0 &&
      col("avg_unit_price") > 0 && col("min_unit_price") > 0 &&
      col("max_unit_price") > 0 && col("number_items") > 0 &&
      col("time").between(0.0, 24.0)

  /** Quantity-weighted unit-price average — the *streaming* variant of the
    * reference (weighted at `InvoicePipeline.scala:110`, per-line unweighted
    * at `Clustering.scala:69`; the two genuinely differ — see SURVEY.md
    * §7.4.4). Exposed as a named alternative so callers pick explicitly.
    * Accumulates in exact integer cents like every money aggregate here
    * (floating sums are partitioning-order-dependent).
    *
    * Quantities are cast to long (the stream fold holds them as exact
    * long sums — see `PurchaseLine.quantity`); fractional quantities
    * would be truncated, fine for this integral-quantity domain but
    * wrong weights elsewhere. Inputs with null prices must be filtered
    * upstream (the stream path does) — the cents sum skips nulls but
    * `sum(quantity)` would not. */
  def weightedAvgUnitPrice(unitPrice: Column, quantity: Column): Column =
    sum(round(unitPrice * 100).cast("long") * quantity.cast("long")).cast("long") / 100.0 /
      sum(quantity.cast("long")).cast("long")
}

package graft.etl

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Stream-side validity predicates — the reference's F1/F2 filters
  * (`InvoicePipeline.scala:57-67`) as named `Column`s usable in both batch
  * and streaming plans. Its F4 good-record gate (`:133-134`) is the
  * `good` route of `graft.stream.Router.routeOf`: neither invalid nor
  * cancelled.
  */
object Validity {

  /** NOTE a deliberate divergence from the reference here: Scala's
    * `String.split(",")` DROPS trailing empty fields, so the reference
    * routes "a,b,c,d,e,f,g,h," (8 fields + trailing comma) as VALID;
    * `split(col, ",", -1)` keeps them (9 fields, one empty) and routes it
    * invalid — matching SQL `string_split` semantics, which is what the
    * DuckDB oracle computes. Feeds with trailing commas split routes
    * differently from the reference pipeline.
    *
    * Malformed-line predicate: wrong field count or any empty field
    * (reference `InvoicePipeline.scala:57-60`). The reference's naive
    * `split(",")` corrupts quoted fields containing commas; this keeps the
    * same arity semantics (documented in SURVEY.md §7.4.5) — use
    * `from_csv` with quoting for real ingestion.
    *
    * @param rawLine the raw CSV line
    * @param arity   expected field count (8 for the retail schema)
    */
  def isInvalidLine(rawLine: Column, arity: Int): Column = {
    val fields = split(rawLine, ",", -1)
    size(fields) =!= arity || array_contains(fields, "")
  }

  /** Cancellation predicate: invoice id `C`-prefixed (reference
    * `InvoicePipeline.scala:65-67`, batch twin `Clustering.scala:90`). */
  def isCancelled(invoiceNo: Column): Column =
    invoiceNo.cast("string").startsWith("C")
}

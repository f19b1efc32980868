package graft.stream

import org.apache.spark.sql.functions._

/** Rate-limited replay producer — the reference's demo harness
  * (`InvoiceDataProducer.scala:28-36`: file → Kafka at ~100–200 events/s
  * via a per-record sleep), rebuilt on the `rate` streaming source so the
  * emission schedule is the engine's, not a driver sleep loop.
  *
  * The rate stream's monotonically increasing `value` indexes into the
  * replay file; each tick emits the matching line as a `(key, value)`
  * kafka-shaped record (key = first CSV field, like the reference). Sink
  * is the console by default; swap `format("kafka")` + broker options for
  * a real topic.
  *
  * Usage: `runMain graft.stream.Replay <csvPathOrDir> [rowsPerSecond]`
  */
object Replay {
  def main(args: Array[String]): Unit = {
    val path = args.headOption.getOrElse(
      sys.error("usage: Replay <csvPathOrDir> [rowsPerSecond]"))
    val rate = args.lift(1).map(_.toInt).getOrElse(150)

    val spark = graft.GraftSession(Some("graft-replay"))
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // index the replay file once (zipWithIndex — the streaming analyzer
    // rejects monotonically_increasing_id anywhere in a streaming plan,
    // including the static join side); the rate source drives the schedule
    val indexed = spark.read.textFile(path).rdd.zipWithIndex()
      .map { case (l, i) => (i, l) }.toDF("idx", "line")
      .cache()
    val n = indexed.count()
    // ANSI mode turns `value % 0` into a DIVIDE_BY_ZERO inside the first
    // micro-batch — fail with a usage error instead
    require(n > 0, s"replay input is empty: nothing to produce")
    // sanity sample before starting, like the reference's take(5) preview
    // (`train.scala:36`)
    indexed.orderBy($"idx").select($"line").show(5, truncate = false)

    val q = spark.readStream.format("rate").option("rowsPerSecond", rate).load()
      .select(($"value" % n).as("idx")) // loop the file like a soak test
      .join(indexed, Seq("idx"))
      .select(split($"line", ",").getItem(0).as("key"), $"line".as("value"))
      .writeStream.format("console").option("truncate", "false").start()
    q.awaitTermination()
  }
}

package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Scratch measurement main (not part of the driver contract): run named
  * catalog queries and report the TOTAL SHUFFLE VOLUME (write bytes +
  * records) each one generates, listener-accumulated across every stage.
  *
  * Usage: runMain graft.ShuffleAudit <sfDir> <name1,name2,...> [k=v,...]
  *
  * The optional third argument sets session confs before running (e.g.
  * `spark.sql.autoBroadcastJoinThreshold=-1` to model the regime where a
  * build side has outgrown the broadcast limit — the regime runtime
  * filters exist for).
  *
  * This is the evidence tool behind claims of the form "the Bloom
  * prefilter cuts the decontamination shuffle by ~X×" (dd18 vs dd07):
  * wall-clock at test SFs is warmup-dominated, but shuffle volume is the
  * quantity that actually scales with the corpus, so it is what the
  * claim must be measured in.
  */
object ShuffleAudit {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("ERROR")
    args.lift(2).foreach(_.split(",").map(_.trim).filter(_.contains("="))
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        spark.conf.set(k, v)
        println(s"[shuffle] conf $k=$v")
      })

    for (name <- names) {
      val bytes = new AtomicLong(0)
      val recs = new AtomicLong(0)
      val listener = new SparkListener {
        override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
          Option(te.taskMetrics).foreach { m =>
            bytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
            recs.addAndGet(m.shuffleWriteMetrics.recordsWritten): Unit
          }
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        val t0 = System.nanoTime()
        // noop sink: full execution of the query (every column
        // materialized), no output cost, no plan change
        SparkEntry.queries(name)(spark, dir)
          .write.mode("overwrite").format("noop").save()
        val sec = (System.nanoTime() - t0) / 1e9
        // listener bus is async — poll until the counters are stable
        var prev = -1L
        var spins = 0
        while (bytes.get() + recs.get() != prev && spins < 50) {
          prev = bytes.get() + recs.get(); Thread.sleep(200); spins += 1
        }
        println(f"[shuffle] $name%-28s elapsed=$sec%7.2fs " +
          f"shuffle_bytes=${bytes.get()}%12d shuffle_records=${recs.get()}%10d")
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    spark.stop()
  }
}

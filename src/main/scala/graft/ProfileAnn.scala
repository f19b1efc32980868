package graft

/** Scratch profiling main (not part of the driver contract): run
  * catalog entries with a job-level listener that prints every Spark
  * job's wall time and the call site that triggered it — the per-ACTION
  * breakdown the multi-action certificate entries
  * (an13/an14/dd21) need, since their cost is spread over ~10 driver
  * actions rather than one big query.
  *
  * Usage: `runMain graft.ProfileAnn [sfDir] [queryName ...]`
  */
object ProfileAnn {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.tail.toSeq
      else Seq("an13_pq_index_persistence", "an14_ivf_index_tombstones")
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("ERROR")
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(js.properties).flatMap(p => Option(p.getProperty(k)))
        // callSite.short is unset for AQE-materialized stages; fall back to
        // the job description / SQL execution id, then the root stage name
        val site = prop("callSite.short")
          .orElse(prop("spark.job.description"))
          .orElse(js.stageInfos.lastOption.map(_.name))
          .getOrElse("?")
        val nTasks = js.stageInfos.map(_.numTasks).sum
        starts.put(js.jobId, (System.nanoTime(), s"tasks=$nTasks  $site")): Unit
      }
      override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        Option(starts.remove(je.jobId)).foreach { case (t0, site) =>
          println(f"[job] ${je.jobId}%4d ${(System.nanoTime() - t0) / 1e9}%8.3f s  $site")
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    names.foreach {
      case "_q27ab" =>
        // q27's pageRank under both per-round join strategies, alternated
        // 3x each (same session): broadcastRanks=true (rank frame
        // broadcast per round) vs false (edges hash-partitioned once,
        // node-sized frames shuffled per round)
        import org.apache.spark.sql.functions.col
        val pairs = graft.ops.Cooccur.pairCounts(
            graft.model.Tables.lineitem(spark, sfDir),
            "l_orderkey", "l_partkey", maxBasket = 64)
          .select(col("item_a"), col("item_b"), col("n_ab").as("w"))
        for (i <- 1 to 3; bcast <- Seq(true, false)) {
          val t0 = System.nanoTime()
          val n = graft.ops.Graph.pageRankInt(pairs, iters = 5,
            broadcastRanks = bcast).count()
          println(f"[q27ab] round $i bcast=$bcast ${(System.nanoTime() - t0) / 1e9}%8.3f s ($n nodes)")
        }
      case name =>
        println(s"\n===== $name =====")
        val t0 = System.nanoTime()
        val n = SparkEntry.queries(name)(spark, sfDir).count()
        println(f"[total] $name ${(System.nanoTime() - t0) / 1e9}%8.3f s ($n rows)")
    }
    spark.stop()
  }
}

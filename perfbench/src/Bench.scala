package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.ml.clustering.{BisectingKMeansModel, KMeansModel}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.apps.{Pipeline, Train}
import graft.etl.InvoiceFeaturizer
import graft.ml.{Persistence, Scoring, Training}
import graft.stream.{IdempotentSink, InvoiceStateMachine, PurchaseLine, Router}

/** Drives the product jobs `graft.apps.Train` and `graft.apps.Pipeline`
  * on seeded inputs and records what a run did as one JSON document;
  * `run.py` turns that record into the benchmark's metrics.
  *
  * Workloads (NOTES.md says why each exists):
  *  - `train`: `Train.run(..., "kmeans")` on a generated lineitem/orders
  *    directory, repeated while the measured window lasts;
  *  - `pipeline`: two pipelines, each on its own output directory and
  *    checkpoints. `trickle` is a closed loop with one chunk in flight:
  *    commit one invoice-aligned chunk of about 3k lines, run
  *    `Pipeline.run(once = true)`, wait for it, commit the next. Set-up
  *    sends chunk 0 through it; the window times chunks 1 to n. `drain`
  *    drops a backlog of about 60k lines plus chunks 0 to n into a fresh
  *    pipeline at once and processes it with one `Pipeline.run(once =
  *    true)`. n is sized from the window (see [[trickleChunks]]), so a run
  *    does the same work however fast the host is, and the drain covers
  *    every trickled invoice: the re-chunking check compares the two.
  *
  * With `--trace 1` a run makes one untraced reference op of the named
  * workload, then traced passes over every layer: the Train steps
  * (kmeans), one drain and [[TraceChunks]] trickle chunks, with the
  * listeners of [[Probe]] registered.
  *
  * Usage: `Bench <workload> <seed> <seconds> <trace 0|1> <workDir> <recordFile>`,
  * or `Bench --prime <workDir>` to load every class the workloads use.
  */
object Bench {
  val TrainInvoices = 3000L
  /** About 96k lines, dealt by invoice into 32 chunks of about 3k lines.
    * The first [[TrickleChunks]] are for trickle; the other 20 form the
    * backlog, one file of about 60k lines. */
  val PipeInvoices = 24000L
  val Chunks = 32
  val TrickleChunks = 12
  val TraceChunks = 2
  /** What a drain and a trickle chunk take on 4 vCPUs at `local[4]`; they
    * size the pipeline's fixed work from the window. */
  val DrainEstimateS = 7.0
  val ChunkEstimateS = 4.5

  /** The timed trickle chunks of a `seconds` window: as many as fit after
    * the drain, by the estimates above, and at least 2. */
  def trickleChunks(seconds: Double): Int =
    math.min(TrickleChunks - 1,
      math.max(2, ((seconds - DrainEstimateS) / ChunkEstimateS).toInt))

  val PipelineK = 2
  val Workloads = Seq("train", "pipeline")

  /** One measured operation; `committed` is a trickle chunk's commit time. */
  final case class Op(kind: String, start: Double, end: Double, rows: Long,
                      error: Option[String], committed: Double)

  def main(args: Array[String]): Unit = {
    if (args.length == 2 && args(0) == "--prime") {
      val bench = new Bench("prime", 1L, 0, trace = true, args(1))
      try bench.prime() finally bench.stop()
    } else {
      require(args.length == 6,
        "usage: Bench <workload> <seed> <seconds> <trace 0|1> <workDir> <recordFile>")
      val Array(workload, seed, seconds, trace, work, recordFile) = args
      require(Workloads.contains(workload), s"unknown workload $workload")
      val bench = new Bench(workload, seed.toLong, seconds.toDouble, trace == "1", work)
      val record = try bench.run() finally bench.stop()
      Files.writeString(Paths.get(recordFile), record)
    }
  }

  /** A session built the way the apps' own `main`s build theirs, master
    * included (`$SPARK_MASTER`, default `local[4]`). */
  def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def now(): Double = System.nanoTime() / 1e6
}

final class Bench(workload: String, seed: Long, seconds: Double, trace: Boolean, work: String) {
  import Bench._

  private val t0 = now()
  private lazy val spark = session(work)
  private var probe: Option[Probe] = None

  def stop(): Unit = spark.stop()

  /** Run set-up and warm-up only: what the JVM's class-data archive records. */
  def prime(): Unit = {
    val p = new Probe(spark)
    p.startPass("prime")
    prepare()
    warmUp()
    p.endPass()
  }

  private def span[A](name: String, layer: String)(f: => A): A =
    probe.fold(f)(_.span(name, layer)(f))

  // ---------------------------------------------------------------- inputs

  private val trainDir = s"$work/train"
  private val pipeDir = s"$work/pipe"
  private val models = s"$work/models"
  private val chunkDir = s"$work/chunks"
  private val backlogDir = s"$work/backlog"
  /** The trickle's pipeline; set-up's warm-up sends chunk 0 through it. */
  private val trickleBase = s"$work/trickle"
  private val usesTrain = trace || workload != "pipeline"
  private val usesPipeline = trace || workload != "train"

  /** Generate what the run needs: the train tables; the pipeline tables,
    * the backlog file, the chunk files and the two models the pipeline
    * loads. */
  private def prepare(): Unit = {
    if (usesTrain) Inputs.writeTables(spark, trainDir, seed, TrainInvoices)
    if (usesPipeline) {
      Inputs.writeTables(spark, pipeDir, seed, PipeInvoices)
      // the seed deals invoices to chunks, and lines keep the seed's
      // invoice order within a chunk and in the backlog
      val recs = Inputs.records(spark, pipeDir, seed)
      val chunk = Inputs.draw(seed, "chunk", Chunks, col("inv"))
      recs.filter(chunk < TrickleChunks).withColumn("chunk", chunk)
        .repartition(1).sortWithinPartitions(col("chunk"), col("ord"), col("line"))
        .select(col("key"), col("value"), col("chunk"))
        .write.mode("overwrite").partitionBy("chunk").parquet(chunkDir)
      recs.filter(chunk >= TrickleChunks).orderBy(col("ord"), col("line"))
        .select(col("key"), col("value"))
        .coalesce(1).write.mode("overwrite").parquet(backlogDir)
      fitPipelineModels()
    }
  }

  /** The pipeline's models: one short fit per algorithm at k = [[PipelineK]]
    * through the `Training` calls `Train.run` makes, and their thresholds. */
  private def fitPipelineModels(): Unit = {
    val feats = graft.queries.InvoiceQueries.invoiceFeatures(spark, pipeDir)
      .filter(InvoiceFeaturizer.validInvoice(col("invoice_no"))).cache()
    val assembled = Training.assemble(feats, InvoiceFeaturizer.FeatureCols)
    def persist(name: String, centers: Seq[Seq[Double]]): Unit =
      Persistence.saveThreshold(s"$models/$name.thr", Training.threshold(
        Scoring.score(feats, InvoiceFeaturizer.FeatureCols, centers, 0.0), "dist",
        Train.ThresholdRank))
    val km = Training.kMeansSweep(assembled, Seq(PipelineK), maxIter = 2).head._2
    km.write.overwrite().save(s"$models/km")
    persist("km", km.clusterCenters.map(_.toArray.toSeq).toSeq)
    val bis = Training.bisectingSweep(assembled, Seq(PipelineK), maxIter = 2).head._2
    bis.write.overwrite().save(s"$models/bis")
    persist("bis", bis.clusterCenters.map(_.toArray.toSeq).toSeq)
    feats.unpersist()
  }

  /** Publish `files` into `recordsDir` as `name`-0, `name`-1, ...;
    * returns their rows and the commit time. A dot-file is invisible to
    * the file source, so the rename is the commit. A full GC first, so
    * that no op pays for the garbage of the one before it. */
  private def commit(files: Seq[File], recordsDir: String, name: String): (Long, Double) = {
    val rows = files.map(f => spark.read.parquet(f.getPath).count()).sum
    System.gc()
    Files.createDirectories(Paths.get(recordsDir))
    files.zipWithIndex.foreach { case (file, i) =>
      val tmp = Paths.get(s"$recordsDir/.$name-$i.tmp")
      Files.copy(file.toPath, tmp)
      Files.move(tmp, Paths.get(s"$recordsDir/$name-$i.parquet"), StandardCopyOption.ATOMIC_MOVE)
    }
    (rows, now())
  }

  private def chunkFile(i: Int): File = partFile(s"$chunkDir/chunk=$i")

  private def partFile(dir: String): File =
    new File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head

  // ------------------------------------------------------------------ ops

  /** Every measured op of the run, in order; checks refer to their index. */
  private val ops = ArrayBuffer.empty[Op]

  private def timed(kind: String, rows: Long, committed: Double = Double.NaN)(
      f: => Unit): Int = {
    val start = now()
    val error = try { f; None } catch { case NonFatal(e) => Some(e.toString) }
    ops += Op(kind, start, now(), rows, error, committed)
    ops.size - 1
  }

  private def pipeline(base: String): Unit = {
    val queries = span("Pipeline.run", "apps") {
      Pipeline.run(spark, s"$base/records", s"$models/km", s"$models/km.thr",
        s"$models/bis", s"$models/bis.thr", s"$base/out", once = true)
    }
    span("await", "stream")(queries.foreach(_.awaitTermination()))
  }

  private lazy val trainRows = spark.read.parquet(s"$trainDir/lineitem.parquet").count()

  /** One `Train.run(..., "kmeans")`; returns the op index and (k, threshold). */
  private def trainOp(kind: String, out: String): (Int, (Int, Double)) = {
    var result = (0, 0.0)
    System.gc()
    val i = timed(kind, trainRows) {
      result = Train.run(spark, trainDir, s"$out/model", s"$out/threshold.txt", "kmeans")
    }
    (i, result)
  }

  /** Commit the backlog file and chunks 0 to `last` into a fresh `base`'s
    * records at once, and drain them. */
  private def drainOp(kind: String, base: String, last: Int): Int = {
    val (rows, _) = span("commit-drop", "bench")(
      commit(partFile(backlogDir) +: (0 to last).map(chunkFile), s"$base/records", "backlog"))
    timed(kind, rows)(span("drain", "apps")(pipeline(base)))
  }

  /** Trickle `chunks` into `base`, one at a time; returns the op indices. */
  private def trickleOps(kind: String, base: String, chunks: Seq[Int]): Seq[Int] =
    chunks.map { i =>
      val (rows, committed) = span("commit-chunk", "bench")(
        commit(Seq(chunkFile(i)), s"$base/records", s"c$i"))
      timed(kind, rows, committed)(span(s"chunk-$i", "apps")(pipeline(base)))
    }

  // --------------------------------------------------------------- checks

  private var checks = 0
  private val failures = ArrayBuffer.empty[String]
  /** Indices of the measured ops that failed a check. */
  private val failedOps = scala.collection.mutable.SortedSet.empty[Int]

  /** An output check on the ops `covers`; a failure fails each of them. */
  private def check(name: String, covers: Seq[Int])(ok: => Boolean, detail: => String): Unit = {
    checks += 1
    val error = try { if (ok) None else Some(detail) } catch { case NonFatal(e) => Some(e.toString) }
    error.foreach { d => failures += s"$name: $d"; failedOps ++= covers }
  }

  private def sortedPairs(df: DataFrame): Seq[(String, String)] =
    df.select(col("key"), col("value")).collect().map(r => (r.getString(0), r.getString(1)))
      .toSeq.sorted

  private def sink(out: String, name: String) = IdempotentSink.read(spark, s"$out/$name")

  /** What one pipeline's sinks must hold: invalid lines, staged good and
    * cancelled row counts, and the anomalies of each model. */
  private final case class Expected(invalid: Seq[(String, String)], good: Long, cancelled: Long,
                                    km: Seq[(String, String)], bis: Seq[(String, String)])

  /** The batch twin of the pipeline workload: the router applied in batch,
    * and the state machine plus scoring applied in batch to the
    * generator's own line fields, over the records the drain got (the
    * backlog and chunks 0 to `last`). Returns what the drain's sinks must
    * hold, what the trickle's must hold (chunks 0 to `last` only), and the
    * trickled invoice ids. */
  private def twin(last: Int): (Expected, Expected, Set[String]) = {
    val s = spark
    import s.implicits._
    val chunk = Inputs.draw(seed, "chunk", Chunks, col("inv"))
    val records = Inputs.records(spark, pipeDir, seed)
      .filter(chunk <= last || chunk >= TrickleChunks)
      .withColumn("trickled", chunk <= last)
    val trickled = records.filter($"trickled").select($"inv".cast("string")).distinct()
      .collect().map(_.getString(0)).toSet
    val routed = Router.classified(records).cache()
    val good = routed.filter($"route" === "good")
    val aggs = InvoiceStateMachine(good.select($"inv".cast("string").as("invoiceNo"),
        $"quantity", $"unit_price".as("unitPrice"),
        graft.queries.QueryUtil.cents($"unit_price").as("unitPriceCents"),
        $"minute_of_day".as("minuteOfDay")).as[PurchaseLine], idleTimeoutMs = 0L).toDF()
    val features = InvoiceFeaturizer.FeatureCols.map(c => if (c == "time") "time_of_day" else c)
    def anomalies(centers: Seq[Seq[Double]], thr: String) =
      sortedPairs(Scoring.score(aggs, features, centers, Persistence.loadThreshold(thr))
        .filter($"is_anomaly" === 1L)
        .select($"invoice_no".as("key"), to_json(struct($"invoice_no", $"avg_unit_price",
          $"min_unit_price", $"max_unit_price", $"time_of_day", $"number_items",
          $"dist")).as("value")))
    // (trickled, count) for the good lines and the distinct cancelled keys
    def counts(df: DataFrame): Map[Boolean, Long] =
      df.groupBy($"trickled").count().collect().map(r => r.getBoolean(0) -> r.getLong(1)).toMap
      .withDefaultValue(0L)
    val goods = counts(good)
    val cancels = counts(routed.filter($"route" === "cancelled").select($"key", $"trickled")
      .distinct())
    val invalid = routed.filter($"route" === "invalid")
    val all = Expected(
      sortedPairs(invalid),
      goods.values.sum,
      cancels.values.sum,
      anomalies(KMeansModel.load(s"$models/km").clusterCenters.map(_.toArray.toSeq).toSeq,
        s"$models/km.thr"),
      anomalies(BisectingKMeansModel.load(s"$models/bis").clusterCenters
        .map(_.toArray.toSeq).toSeq, s"$models/bis.thr"))
    val trickle = Expected(sortedPairs(invalid.filter($"trickled")), goods(true), cancels(true),
      all.km.filter(p => trickled(p._1)), all.bis.filter(p => trickled(p._1)))
    routed.unpersist()
    (all, trickle, trickled)
  }

  /** Check the drain's and the trickle's sinks against the batch twin, and
    * the trickle's anomalies against the drain's (re-chunking). */
  private def checkPipeline(label: String, drainBase: String, drain: Int, trickleBase: String,
                            chunks: Seq[Int], last: Int): Unit = {
    val (all, trickle, trickled) = twin(last)
    checkSinks(s"$label drain", s"$drainBase/out", all, Seq(drain))
    checkSinks(s"$label trickle", s"$trickleBase/out", trickle, chunks)
    // re-chunking: the anomalies of the trickled invoices equal those of
    // one drain over the same lines
    Seq("anomalias_kmeans", "anomalias_bisect_kmeans").foreach { s =>
      check(s"$label: trickled $s equal the drain's", drain +: chunks)(
        sortedPairs(sink(s"$trickleBase/out", s)) ==
          sortedPairs(sink(s"$drainBase/out", s)).filter(p => trickled(p._1)),
        "anomaly sets differ")
    }
  }

  private def checkSinks(label: String, out: String, t: Expected, covers: Seq[Int]): Unit = {
    check(s"$label: invalid sink equals the batch router", covers)(
      sortedPairs(sink(out, "facturas_erroneas")) == t.invalid, "invalid lines differ")
    check(s"$label: staged good rows equal the batch router", covers)(
      sink(out, "_staged/good").count() == t.good, s"expected ${t.good}")
    check(s"$label: staged cancelled rows equal the batch router", covers)(
      sink(out, "_staged/cancelled").count() == t.cancelled, s"expected ${t.cancelled}")
    check(s"$label: kmeans anomalies equal the batch twin", covers)(
      sortedPairs(sink(out, "anomalias_kmeans")) == t.km, s"expected ${t.km.size} anomalies")
    check(s"$label: bisecting anomalies equal the batch twin", covers)(
      sortedPairs(sink(out, "anomalias_bisect_kmeans")) == t.bis,
      s"expected ${t.bis.size} anomalies")
    // the last count of each window, summed: every distinct cancelled
    // invoice lands in 8 windows of 8 minutes sliding by 1
    check(s"$label: cancellation windows count 8 x distinct cancelled", covers)({
      val last = sink(out, "cancelaciones")
        .withColumn("batch", regexp_extract(input_file_name(), "/b([0-9]+)/", 1).cast("long"))
        .groupBy(col("w_start")).agg(max_by(col("n"), col("batch")).as("n"))
        .agg(sum(col("n"))).head()
      !last.isNullAt(0) && last.getLong(0) == 8L * t.cancelled
    }, s"expected ${8L * t.cancelled}")
  }

  private def checkTrain(label: String, op: Int, out: String, result: (Int, Double),
                         expected: (Int, Double)): Unit = {
    val (k, thr) = result
    check(s"$label: k in 2..20 and a positive threshold", Seq(op))(
      k >= 2 && k <= 20 && thr > 0 && !thr.isInfinite, s"k=$k threshold=$thr")
    check(s"$label: persisted threshold and model match the result", Seq(op))(
      Persistence.loadThreshold(s"$out/threshold.txt") == thr &&
        KMeansModel.load(s"$out/model").clusterCenters.length == k,
      "artifacts differ from the returned k and threshold")
    check(s"$label: same k and threshold as the first Train.run", Seq(op))(
      result == expected, s"expected $expected, got $result")
  }

  // -------------------------------------------------------------- warm-up

  private def warmUp(): Unit = {
    // a traced train run starts with an untraced Train.run, which warms the
    // same code
    if (usesTrain && !(trace && workload == "train")) {
      val feats = graft.queries.InvoiceQueries.invoiceFeatures(spark, trainDir)
        .filter(InvoiceFeaturizer.validInvoice(col("invoice_no")))
      Training.kMeansSweep(Training.assemble(feats, InvoiceFeaturizer.FeatureCols), 2 to 10)
    }
    if (usesPipeline) trickleOps("warm-up", trickleBase, Seq(0))
  }

  // ----------------------------------------------------------------- runs

  def run(): String = {
    val sessionMs = { val s = now(); spark; now() - s }
    val prepareMs = { val s = now(); prepare(); now() - s }
    val warmUpMs = { val s = now(); warmUp(); now() - s }
    ops.clear()
    val traced = if (trace) tracedRun() else { untracedRun(); "null" }
    val failed = ops.indices.filter(i => ops(i).error.nonEmpty || failedOps(i))
    Json.obj("workload" -> workload, "seed" -> seed, "trace" -> trace,
      "session_ms" -> sessionMs, "prepare_ms" -> prepareMs, "warm_up_ms" -> warmUpMs,
      "ops" -> ops.map(o => Json.Raw(Json.obj("kind" -> o.kind, "start" -> o.start,
        "end" -> o.end, "rows" -> o.rows, "committed" -> o.committed,
        "error" -> o.error.orNull))),
      "failed_ops" -> failed, "checks" -> checks, "failures" -> failures.toSeq,
      "traced" -> Json.Raw(traced), "total_ms" -> (now() - t0))
  }

  private def untracedRun(): Unit = {
    val deadline = now() + seconds * 1000
    workload match {
      case "train" =>
        var first = Option.empty[(Int, Double)]
        var n = 0
        def last = ops.last
        while (n == 0 || now() + (last.end - last.start) <= deadline) {
          val out = s"$work/train-out/$n"
          val (i, result) = trainOp("train", out)
          if (ops(i).error.isEmpty) {
            checkTrain(s"train $n", i, out, result, first.getOrElse(result))
            if (first.isEmpty) first = Some(result)
          }
          n += 1
        }
      case "pipeline" =>
        val n = trickleChunks(seconds)
        val drain = drainOp("drain", s"$work/drain", n)
        val chunks = trickleOps("chunk", trickleBase, 1 to n)
        checkPipeline("pipeline", s"$work/drain", drain, trickleBase, chunks, n)
    }
  }

  private var invoices = 0L

  /** The Train steps in `Train.run`'s order, each in its own span. */
  private def trainSteps(out: String): (Int, Double) = span("train-kmeans", "apps") {
    val feats = span("featurize", "etl") {
      val f = graft.queries.InvoiceQueries.invoiceFeatures(spark, trainDir)
        .filter(InvoiceFeaturizer.validInvoice(col("invoice_no"))).cache()
      invoices = f.count()
      f
    }
    val assembled = span("assemble", "ml")(
      Training.assemble(feats, InvoiceFeaturizer.FeatureCols))
    val sweep = span("kmeans-sweep", "ml")(Training.kMeansSweep(assembled, 2 to 20, seed = 1L))
    val i = span("elbow", "ml")(Training.elbowSelection(sweep.map(_._3), Train.ElbowRatio))
    val (k, model, _) = sweep(i)
    span("save-model", "ml")(model.write.overwrite().save(s"$out/model"))
    val thr = span("threshold", "ml")(Training.threshold(
      Scoring.score(feats, InvoiceFeaturizer.FeatureCols,
        model.clusterCenters.map(_.toArray.toSeq).toSeq, 0.0), "dist", Train.ThresholdRank))
    span("save-threshold", "ml")(Persistence.saveThreshold(s"$out/threshold.txt", thr))
    feats.unpersist()
    (k, thr)
  }

  /** One traced pass per group of layers, and an untraced drain right
    * after the traced one: the tracing overhead is the traced drain minus
    * the untraced one. A train run also makes an untraced `Train.run`,
    * whose k and threshold the traced Train steps must reproduce. */
  private def tracedRun(): String = {
    val p = new Probe(spark)
    probe = Some(p)
    def wall(i: Int) = ops(i).end - ops(i).start
    val trainRef = if (workload == "train") Some(trainOp("reference", s"$work/ref-train")._2)
                   else None
    val passes = ArrayBuffer.empty[String]
    def pass[A](name: String)(f: => A): A = {
      p.startPass(name)
      val s = p.nowMs()
      try f finally {
        val e = p.nowMs()
        p.endPass()
        passes += Json.obj("name" -> name, "start" -> s, "end" -> e)
      }
    }
    pass("train") {
      val out = s"$work/traced-train"
      var result = (0, 0.0)
      val i = timed("traced-train", trainRows) { result = trainSteps(out) }
      checkTrain("traced train steps", i, out, result, trainRef.getOrElse(result))
    }
    val base = s"$work/traced"
    val drain = pass("drain")(drainOp("traced-drain", base, TraceChunks))
    val reference = wall(drainOp("reference", s"$work/ref-drain", TraceChunks))
    val chunks = pass("trickle")(trickleOps("traced-chunk", trickleBase, 1 to TraceChunks))
    checkPipeline("traced pipeline", base, drain, trickleBase, chunks, TraceChunks)
    Json.obj("passes" -> passes.map(Json.Raw), "invoices" -> invoices,
      "overhead_ms" -> (wall(drain) - reference), "probe" -> Json.Raw(p.json))
  }
}

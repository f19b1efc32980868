package graft

import org.apache.spark.sql.functions._

import graft.ml.{ModelStore, Persistence, Scoring, Training}

class MlSpec extends SparkSuite {

  test("native SqDistToNearest == HOF min-sqdist, bit-identical") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val centers = Seq(Seq(1.5, -2.0, 0.1), Seq(1e8, 3.7, -0.9), Seq(0.0, 0.0, 0.0))
    val rnd = new scala.util.Random(3)
    val rows = (0 until 500).map(_ => Seq.fill(3)(rnd.nextDouble() * 100 - 50))
    val df = rows.toDF("f")
    val hof = array_min(transform(
      array(centers.map(c => typedlit(c)): _*),
      c => aggregate(zip_with(col("f"), c, (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, x) => acc + x)))
    val bad = df.select(
        graft.functions.SqDistToNearest(col("f"), centers).as("a"), hof.as("b"))
      .filter(not(col("a") === col("b")))
    assert(bad.count() == 0L, bad.collect().take(3).mkString("\n"))
    // a null feature element nulls the score (HOF semantics), never a
    // silent 0.0 read
    val withNull = s.sql("SELECT array(1.0D, CAST(NULL AS DOUBLE), 2.0D) AS f")
      .select(graft.functions.SqDistToNearest(col("f"), centers).as("d"))
      .head()
    assert(withNull.isNullAt(0), s"null element must null the result, got $withNull")
  }

  /** Four blobs in 3-d, spread over several partitions. */
  private lazy val blobs = {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(11)
    val rows = (0 until 400).map { i =>
      val c = i % 4 * 10.0
      (c + rnd.nextGaussian(), -c + rnd.nextGaussian(), rnd.nextGaussian() * 3)
    }
    Training.assemble(rows.toDF("a", "b", "c").repartition(3), Seq("a", "b", "c"))
  }

  test("k-sweep: fitting every k at once gives each k's lone fit, bit for bit") {
    val df = blobs
    val together = Training.kMeansSweep(df, 2 to 6)
    assert(together.map(_._1) == (2 to 6))
    together.foreach { case (k, model, cost) =>
      val Seq((k1, alone, aloneCost)) = Training.kMeansSweep(df, Seq(k))
      assert(k1 == k)
      assert(cost == aloneCost, s"k=$k: swept cost $cost, lone cost $aloneCost")
      assert(model.clusterCenters.toSeq == alone.clusterCenters.toSeq,
        s"k=$k: centers differ between the sweep and the lone fit")
    }
  }

  private val elbowKs = 2 to 10
  private lazy val fullSweep = Training.kMeansSweep(blobs, elbowKs)

  /** The elbow sweep at `width` and `ratio` against the full sweep +
    * `elbowSelection`: the same k, cost and centers, bit for bit, and the
    * fits made are a k-ordered prefix of the full sweep's. Returns the
    * number of fits made. */
  private def elbowFits(ratio: Double, width: Int): Int = {
    val (k, model, cost) = fullSweep(Training.elbowSelection(fullSweep.map(_._3), ratio))
    val fits = Training.elbowSweep(blobs, elbowKs, ratio)(Training.kMeansFit(), width)
    assert(fits.map(_._1) == elbowKs.take(fits.size))
    val (k1, model1, cost1) = fits(Training.elbowSelection(fits.map(_._3), ratio))
    assert(k1 == k, s"width $width: elbow sweep picked k=$k1, the full sweep k=$k")
    assert(cost1 == cost, s"k=$k: elbow sweep cost $cost1, full sweep cost $cost")
    assert(model1.clusterCenters.toSeq == model.clusterCenters.toSeq,
      s"k=$k: centers differ between the elbow sweep and the full sweep")
    fits.size
  }

  /** Index of the full sweep's elbow at the job's ratio; the cases below
    * need one with a ratio on either side of it. */
  private lazy val elbow = {
    val e = Training.firstElbow(fullSweep.map(_._3), 0.7)
    assert(e.exists(i => i >= 2 && 2 * i < elbowKs.size),
      s"the blobs' costs ${fullSweep.map(_._3)} have no elbow in the middle of the sweep")
    e.get
  }

  test("elbow sweep: an elbow whose ratio spans two rounds stops after the second") {
    // rounds of `elbow` fits: cost(elbow - 1) closes the first round,
    // cost(elbow) opens the second
    assert(elbowFits(0.7, width = elbow) == 2 * elbow)
  }

  test("elbow sweep: rounds of one stop at the elbow's k; one round fits every k") {
    assert(elbowFits(0.7, width = 1) == elbow + 1)
    assert(elbowFits(0.7, width = elbowKs.size) == elbowKs.size)
    assert(elbowFits(0.7, width = 100) == elbowKs.size)
  }

  test("elbow sweep: with no elbow every k is fitted and the last is picked") {
    assert(Training.firstElbow(fullSweep.map(_._3), Double.PositiveInfinity).isEmpty)
    assert(elbowFits(Double.PositiveInfinity, width = 4) == elbowKs.size)
    assert(Training.elbowSelection(fullSweep.map(_._3), Double.PositiveInfinity) ==
      elbowKs.size - 1)
  }

  test("threshold artifact round-trips through the text file") {
    val p = testDir("thr-") + "/threshold.txt"
    Persistence.saveThreshold(p, 123.456)
    assert(Persistence.loadThreshold(p) == 123.456)
  }

  test("threshold artifact round-trips through a file: URI on its Hadoop FileSystem") {
    val dir = testDir("thr-uri-")
    val uri = s"file:$dir/model/threshold.txt"
    Persistence.saveThreshold(uri, 0.1 + 0.2) // a double with no short decimal form
    assert(Persistence.loadThreshold(uri) == 0.1 + 0.2)
    assert(new java.io.File(s"$dir/model/threshold.txt").isFile,
      "the threshold must land at the URI's path")
    assert(!new java.io.File(s"file:$dir").exists(),
      "a local `file:` tree was made instead of writing through the URI's FileSystem")
  }

  test("model store: train→save→load→score, memoized per key") {
    val s = spark
    import s.implicits._
    val feats = (1 to 50).map(i => (i.toLong, i % 5 * 10.0, i % 7 * 3.0))
      .toDF("id", "a", "b")
    val m1 = ModelStore.kmeansAnomaly("spec", feats, Seq("a", "b"),
      k = 2, seed = 5L, thresholdRank = 10)
    assert(m1.centers.size == 2)
    assert(m1.threshold > 0.0 || m1.threshold == 0.0) // finite, loaded back
    // artifacts exist on disk (model dir + threshold file) — the expected
    // directory is derived through the store's OWN naming scheme, so this
    // assertion cannot rot when the scheme changes (it did in round 4)
    val dir = Persistence.artifactDir(ModelStore.artifactName(
      "kmeans", "spec", Seq("a", "b"), idCol = "invoice_no", sampleMod = 1,
      k = 2, seed = 5L, maxIter = 10, thresholdRank = 10))
    assert(new java.io.File(dir, "metadata").exists())
    assert(new java.io.File(dir, "threshold.txt").exists())
    // memoized: second call returns the identical instance
    val m2 = ModelStore.kmeansAnomaly("spec", sys.error("must not retrain"),
      Seq("a", "b"), k = 2, seed = 5L, thresholdRank = 10)
    assert(m1 eq m2)
    // bisecting flavor round-trips too
    val b = ModelStore.bisectingAnomaly("spec", feats, Seq("a", "b"),
      k = 2, seed = 5L, thresholdRank = 10)
    assert(b.centers.size == 2)
  }

  test("build_kmeans_model and ml02 resolve to the SAME ModelStore key (no silent retrain)") {
    // The bench amortizes training as an index build; if the query's
    // invocation ever drifts from the build's (a parameter, the key, the
    // feature list), query time silently swallows a retrain. Run the
    // build, then the query, and assert the second call was a pure probe.
    val dir = sf
    SparkEntry.indexBuilds("build_kmeans_model")(spark, dir)
    val after = ModelStore.trains.get()
    SparkEntry.queries("ml02_invoice_anomalies_trained")(spark, dir).count()
    assert(ModelStore.trains.get() == after,
      "ml02 retrained: its ModelStore invocation no longer matches build_kmeans_model's")
    SparkEntry.indexBuilds("build_bisecting_model")(spark, dir)
    val after2 = ModelStore.trains.get()
    SparkEntry.queries("ml04_bisecting_anomalies")(spark, dir).count()
    assert(ModelStore.trains.get() == after2,
      "ml04 retrained: its ModelStore invocation no longer matches build_bisecting_model's")
  }

  test("elbow selection: documented semantics (first k where ratio exceeded)") {
    // costs: 100, 40, 30, 28 → ratios 0.4, 0.75, 0.93 → first > 0.7 is i=2
    assert(Training.elbowSelection(Seq(100.0, 40.0, 30.0, 28.0), 0.7) == 2)
    // never exceeded → last index (NOT the reference's i+1 off-by-one,
    // reference Clustering.scala:125-136 — deliberate divergence)
    assert(Training.elbowSelection(Seq(100.0, 40.0, 20.0), 0.7) == 2)
    assert(Training.elbowSelection(Seq(100.0), 0.7) == 0)
  }

  test("sqDistToNearest picks the nearest center") {
    val s = spark
    import s.implicits._
    val df = Seq((Seq(0.0, 0.0), 1), (Seq(10.0, 10.0), 1)).toDF("f", "x")
    val centers = Seq(Seq(0.0, 0.0), Seq(10.0, 11.0))
    val d = df.select(Scoring.sqDistToNearest(col("f"), centers).as("d"))
      .collect().map(_.getDouble(0)).toSeq
    assert(d == Seq(0.0, 1.0)) // second row: nearest is (10,11) at dist 1
  }

  test("threshold = rank-th largest distance") {
    val s = spark
    import s.implicits._
    val df = (1 to 100).map(_.toDouble).toDF("dist")
    assert(Training.threshold(df, "dist", 10) == 91.0)
  }

  test("ml07 PCA: raw measurements behind the certificate bits") {
    import org.apache.spark.ml.feature.PCA
    import org.apache.spark.ml.functions.array_to_vector
    import org.apache.spark.sql.functions._
    val emb = queries.PipelineQueries.anisoEmbeddings(spark, sf)
      .select(col("vec_id"), array_to_vector(col("embedding")).as("features"))
    val model = new PCA().setK(8).setInputCol("features").setOutputCol("proj").fit(emb)
    assert(model.pc.numRows == 64 && model.pc.numCols == 8)
    val ev = model.explainedVariance.toArray
    // the certificate's 0.6 floor sits far below the measured fraction,
    // and the 1.1^d scaling means the top component alone beats 8/64
    assert(ev.sum > 0.6 && ev.sum <= 1.0 + 1e-9, s"var frac ${ev.sum}")
    assert(ev.head > 0.125, s"top component ${ev.head}")
    assert(ev.zip(ev.tail).forall { case (a, b) => a >= b - 1e-12 })
  }

  test("scored anomalies are exactly those above threshold") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, 0.0, 0.0), (2L, 100.0, 100.0)).toDF("id", "a", "b")
    val out = Scoring.score(df, Seq("a", "b"), Seq(Seq(0.0, 0.0)), threshold = 50.0)
      .select("id", "is_anomaly").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 0L, 2L -> 1L))
  }
}

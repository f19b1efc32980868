package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.functions.{CmsEstimate, KmvSketchAgg}
import graft.model.Tables
import graft.ops.Sketches

/** Property pins for the sketch surface (sk01–sk04, cs06) — the
  * structural guarantees the oracle's quality bits summarize, asserted
  * directly so a regression names the broken property, not just a hash.
  */
class SketchSpec extends SparkSuite {

  test("bloom pre-filter has no false negatives and actually prunes") {
    import spark.implicits._
    val li = Tables.lineitem(spark, sf).select($"l_orderkey")
    val big = Tables.orders(spark, sf)
      .filter($"o_totalprice" > 470000.0).select($"o_orderkey")
    val bloom = Sketches.bloomBytes(big, "o_orderkey", big.count(), fpp = 0.01)

    val total = li.count()
    val pass = li.filter(Sketches.mightContain(bloom, $"l_orderkey")).count()
    val trueMatches = li.join(big, $"l_orderkey" === $"o_orderkey", "left_semi").count()
    val missed = li.join(big, $"l_orderkey" === $"o_orderkey", "left_semi")
      .filter(!Sketches.mightContain(bloom, $"l_orderkey")).count()

    assert(missed == 0, s"bloom dropped $missed true matches — false negatives are impossible")
    assert(pass >= trueMatches, s"bloom passed $pass < $trueMatches true matches")
    // the point of the pre-filter: the overwhelming share of non-matching
    // fact rows never reaches the join (fpp 0.01 + ~6% true selectivity)
    assert(pass < total / 2,
      s"bloom passed $pass of $total rows — pruning is not doing its job")
  }

  test("dd18 regime pin: with broadcast joins OFF, the bloom prefilter cuts " +
    "the decontamination shuffle to a fraction of dd07's") {
    // the SCALE.md regime table, continuously tested: when the eval-side
    // hash set can't broadcast (modeled by disabling broadcast joins),
    // dd07's join shuffles the full train shingle stream while dd18's
    // might_contain probe keeps the exchange ∝ candidates (measured ~7×
    // fewer records at this SF; asserted at a conservative 2×)
    val s = spark
    val saved = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val plain = shuffleRecords(
        SparkEntry.queries("dd07_decontamination")(s, sf)
          .write.mode("overwrite").format("noop").save())
      val bloomed = shuffleRecords(
        SparkEntry.queries("dd18_bloom_decontaminate")(s, sf)
          .write.mode("overwrite").format("noop").save())
      assert(plain > 0, "dd07 shuffled nothing — vacuous regime pin")
      assert(bloomed * 2 < plain,
        s"bloom prefilter lost its pruning: dd18 shuffled $bloomed records " +
          s"vs dd07's $plain under broadcast-off")
    } finally {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
      s.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("CMS never undercounts ANY key and stays within eps*N on the full key space") {
    import spark.implicits._
    val li = Tables.lineitem(spark, sf)
    val exact = li.groupBy($"l_partkey").agg(count(lit(1)).as("n"))
    val sketch = li.agg(
        expr("count_min_sketch(l_partkey, CAST(0.0005 AS DOUBLE), CAST(0.999 AS DOUBLE), 42)").as("cms"),
        count(lit(1)).as("n_total"))
      .withColumn("k", lit(1))
    val checked = exact.withColumn("k", lit(1)).join(broadcast(sketch), "k")
      .select($"n", CmsEstimate($"cms", $"l_partkey").as("est"), $"n_total")
    val under = checked.filter($"est" < $"n").count()
    val over = checked.filter($"est" > $"n" + ceil(lit(0.0005) * $"n_total").cast("long")).count()
    assert(under == 0, s"CMS undercounted $under keys — structurally impossible, probe is broken")
    assert(over == 0, s"CMS overcounted $over keys beyond eps*N")
  }

  test("HLL: merged per-group sketches estimate the same corpus as one direct sketch") {
    import spark.implicits._
    val li = Tables.lineitem(spark, sf)
    val direct = li.agg(expr("hll_sketch_estimate(hll_sketch_agg(l_orderkey, 12))"))
      .head().getLong(0)
    val merged = li.groupBy($"l_returnflag")
      .agg(expr("hll_sketch_agg(l_orderkey, 12)").as("sk"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk, false))"))
      .head().getLong(0)
    val exact = li.agg(countDistinct($"l_orderkey")).head().getLong(0)
    // register state is order/partition-insensitive; the union may sit in
    // a different sketch mode than the one-pass aggregate, so pin both to
    // the exact answer rather than to each other
    assert(math.abs(direct - exact).toDouble / exact <= 0.05, s"direct HLL $direct vs exact $exact")
    assert(math.abs(merged - exact).toDouble / exact <= 0.05, s"merged HLL $merged vs exact $exact")
  }

  test("KMV: unsaturated sketches are EXACT for size, union, and intersection") {
    import spark.implicits._
    val K = 256
    // |A| = 100, |B| = 100, |A∩B| = 50 — both far below k, so the
    // synopses retain every element and all estimates must be exact
    val a = spark.range(0, 100).select(lit("a").as("g"), $"id")
    val b = spark.range(50, 150).select(lit("b").as("g"), $"id")
    val sk = a.union(b).groupBy($"g").agg(KmvSketchAgg.kmv($"id", K).as("sk"))
    val row = sk.filter($"g" === "a").crossJoin(
        sk.filter($"g" === "b").select($"sk".as("sk_b")))
      .select(
        KmvSketchAgg.kmvEstimate($"sk", K).as("ea"),
        KmvSketchAgg.kmvEstimate($"sk_b", K).as("eb"),
        KmvSketchAgg.kmvUnionEstimate($"sk", $"sk_b", K).as("eu"),
        KmvSketchAgg.kmvIntersectEstimate($"sk", $"sk_b", K).as("ei"))
      .head()
    assert(row.getDouble(0) == 100.0, s"|A| est ${row.getDouble(0)} != 100")
    assert(row.getDouble(1) == 100.0, s"|B| est ${row.getDouble(1)} != 100")
    assert(row.getDouble(2) == 150.0, s"|A∪B| est ${row.getDouble(2)} != 150")
    assert(row.getDouble(3) == 50.0, s"|A∩B| est ${row.getDouble(3)} != 50")
  }

  test("KMV: synopsis is invariant to partitioning and merge order; duplicates don't inflate") {
    import spark.implicits._
    val K = 64
    // 10k distinct values, each duplicated 3× — the sketch sees SETS
    val base = spark.range(0, 10000)
    val tripled = base.union(base).union(base)
    def synopsis(df: org.apache.spark.sql.DataFrame, parts: Int): Seq[Long] =
      df.repartition(parts).agg(KmvSketchAgg.kmv(col("id"), K))
        .head().getSeq[Long](0)
    val s1 = synopsis(base.toDF(), 1)
    val s7 = synopsis(base.toDF(), 7)
    val s32dup = synopsis(tripled.toDF(), 32)
    assert(s1 == s7, "synopsis changed with partition count — merge is not order-insensitive")
    assert(s1 == s32dup, "duplicated elements changed the synopsis — KMV must be set-semantics")
    assert(s1.size == K && s1 == s1.sorted, "synopsis not a k-truncated ascending array")
  }

  test("KMV: saturated estimates land within 4σ of exact (deterministic hash)") {
    import spark.implicits._
    val K = 256
    val sigma = 1.0 / math.sqrt(K - 2) // RSE ≈ 6.3%
    // A = [0, 10000), B = [5000, 15000): |A|=|B|=10000, |A∩B|=5000, |A∪B|=15000
    val sk = spark.range(0, 10000).select(lit("a").as("g"), $"id")
      .union(spark.range(5000, 15000).select(lit("b").as("g"), $"id"))
      .groupBy($"g").agg(KmvSketchAgg.kmv($"id", K).as("sk"))
    val row = sk.filter($"g" === "a").crossJoin(
        sk.filter($"g" === "b").select($"sk".as("sk_b")))
      .select(
        KmvSketchAgg.kmvEstimate($"sk", K).as("ea"),
        KmvSketchAgg.kmvUnionEstimate($"sk", $"sk_b", K).as("eu"),
        KmvSketchAgg.kmvIntersectEstimate($"sk", $"sk_b", K).as("ei"))
      .head()
    val (ea, eu, ei) = (row.getDouble(0), row.getDouble(1), row.getDouble(2))
    info(f"KMV k=$K: |A| est $ea%.1f (exact 10000, rel ${(ea - 10000).abs / 10000}%.4f), " +
      f"|A∪B| est $eu%.1f (exact 15000, rel ${(eu - 15000).abs / 15000}%.4f), " +
      f"|A∩B| est $ei%.1f (exact 5000, rel ${(ei - 5000).abs / 5000}%.4f)")
    assert((ea - 10000).abs / 10000 <= 4 * sigma, s"|A| est $ea off > 4σ")
    assert((eu - 15000).abs / 15000 <= 4 * sigma, s"|A∪B| est $eu off > 4σ")
    // the intersection counts ~k·|I|/|U| ≈ 85 sampled hits here → looser σ
    assert((ei - 5000).abs / 5000 <= 5 / math.sqrt(K.toDouble * 5000 / 15000),
      s"|A∩B| est $ei outside its sampling bound")
  }

  test("cs06: the ORC scan pushes filters and prunes columns like parquet") {
    import spark.implicits._
    // prerequisite: the fixture exists (cs06 itself writes it)
    SparkEntry.queries("cs06_orc_roundtrip")(spark, sf).collect()
    val orc = spark.read.orc(new java.io.File("target/fixtures/lineitem_orc").getAbsolutePath)
      .filter($"l_quantity" >= 25.0)
      .select($"l_orderkey")
    val plan = orc.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scans = plan.collect { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty, s"no file scan in ORC plan:\n$plan")
    for (scan <- scans) {
      assert(scan.metadata.getOrElse("PushedFilters", "[]") != "[]",
        s"ORC scan has no pushed filters:\n$scan")
      assert(scan.requiredSchema.size <= 2,
        s"ORC scan reads ${scan.requiredSchema.fieldNames.mkString(",")} — pruning regressed")
    }
  }
}

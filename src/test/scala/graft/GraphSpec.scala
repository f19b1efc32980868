package graft

import org.apache.spark.sql.functions._

import graft.model.Tables
import graft.ops.{Cooccur, Graph}

class GraphSpec extends SparkSuite {

  private def pairs = Cooccur.pairCounts(Tables.lineitem(spark, sf),
      "l_orderkey", "l_partkey", maxBasket = 64)
    .select(col("item_a"), col("item_b"), col("n_ab").as("w"))

  test("pageRankInt is bit-identical across partitionings (integer claim)") {
    def run(p: org.apache.spark.sql.DataFrame) =
      Graph.pageRankInt(p, iters = 3)
        .orderBy(col("item")).collect().toSeq
    val a = run(pairs.repartition(1))
    val b = run(pairs.repartition(5, col("item_a")))
    assert(a.nonEmpty && a == b,
      "ranks differ across partitionings — integer fixed-point property broken")
  }

  test("mass is conserved up to floor leakage, never created") {
    val total = 1000000000000L
    val ranks = Graph.pageRankInt(pairs, iters = 5, total = total)
    val sumRank = ranks.agg(sum(col("rank"))).head().getLong(0)
    assert(sumRank <= total, s"rank mass $sumRank exceeds the injected $total")
    // floors leak at most ~1 unit per node per step per term — with
    // thousands of nodes that is ≪ 1% of total mass
    assert(sumRank > total / 2, s"rank mass $sumRank collapsed — recurrence wrong")
  }

  test("triangleParticipation counts a known graph exactly") {
    val s = spark
    import s.implicits._
    // triangles {1,2,3} and {2,3,4}; edge (4,5) is in no triangle
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))
      .toDF("item_a", "item_b")
    val got = Graph.triangleParticipation(edges).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == Map(
      1L -> (2L, 1L), 2L -> (3L, 2L), 3L -> (3L, 2L),
      4L -> (3L, 1L), 5L -> (1L, 0L)))
  }

  test("triangleParticipation is orientation-independent across partitionings") {
    val edges = pairs.filter(col("w") >= 2).select(col("item_a"), col("item_b"))
    def run(p: org.apache.spark.sql.DataFrame) =
      Graph.triangleParticipation(p)
        .orderBy(col("node")).collect().toSeq
    val a = run(edges.repartition(1))
    val b = run(edges.repartition(7, col("item_b")))
    assert(a.nonEmpty && a == b,
      "triangle counts differ across partitionings")
  }

  test("bfsHops walks a known graph to exact hop distances") {
    val s = spark
    import s.implicits._
    // 0-1-2-3 path with a branch 1-4 and an unreachable edge (8,9)
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (1L, 4L), (8L, 9L))
      .toDF("item_a", "item_b")
    val got = Graph.bfsHops(edges, source = 0L, maxHops = 3).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(0L -> 0, 1L -> 1, 2L -> 2, 4L -> 2, 3L -> 3),
      s"wrong distances: $got")
    // maxHops truncates: node 3 is out of reach at 2 hops
    val cut = Graph.bfsHops(edges, source = 0L, maxHops = 2).collect()
      .map(_.getLong(0)).toSet
    assert(cut == Set(0L, 1L, 2L, 4L))
  }

  test("bfsHops is traversal-order independent across partitionings") {
    val edges = pairs.filter(col("w") >= 2).select(col("item_a"), col("item_b"))
    val src = edges.agg(least(min(col("item_a")), min(col("item_b"))))
      .head().getLong(0)
    def run(p: org.apache.spark.sql.DataFrame) =
      Graph.bfsHops(p, src, maxHops = 3)
        .orderBy(col("node")).collect().toSeq
    val a = run(edges.repartition(1))
    val b = run(edges.repartition(7, col("item_b")))
    assert(a.nonEmpty && a == b, "hop distances differ across partitionings")
  }

  test("reliable checkpoint and co-partitioned join paths match the default") {
    val dir = testDir("graft-ckpt-spec-")
    def run(ckpt: Option[String], bcast: Boolean) =
      Graph.pageRankInt(pairs, iters = 2, checkpointDir = ckpt,
          broadcastRanks = bcast)
        .orderBy(col("item")).collect().toSeq
    val default = run(None, bcast = true)
    // reliable checkpoint() must write RDD blocks under the configured
    // root AND leave the integer ranks bit-identical
    assert(run(Some(dir), bcast = true) == default,
      "reliable-checkpoint path changed pageRank output")
    val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(java.nio.file.Files.isRegularFile(_)).count()
    assert(wrote > 0, "checkpointDir was configured but no blocks were written")
    // the non-broadcast (co-partitioned) join path is the same recurrence
    assert(run(None, bcast = false) == default,
      "co-partitioned join path changed pageRank output")
    // BFS through the reliable path too
    val edges = pairs.filter(col("w") >= 2).select(col("item_a"), col("item_b"))
    val src = edges.agg(least(min(col("item_a")), min(col("item_b"))))
      .head().getLong(0)
    val bfsA = Graph.bfsHops(edges, src, maxHops = 2)
      .orderBy(col("node")).collect().toSeq
    val bfsB = Graph.bfsHops(edges, src, maxHops = 2, checkpointDir = Some(dir))
      .orderBy(col("node")).collect().toSeq
    assert(bfsA.nonEmpty && bfsA == bfsB,
      "reliable-checkpoint path changed BFS output")
  }

  test("per-round shuffle is node-sized in BOTH join modes — edges shuffle " +
      "at most once, never per iteration") {
    val s = spark
    import s.implicits._
    // multigraph with edges >> nodes so an accidental per-round edge
    // shuffle is unmistakable in the record counts: 20 nodes, ~5000
    // parallel edges (pageRankInt does not dedupe), 2x directed inside
    val rnd = new scala.util.Random(42)
    val n = 20
    val edges = Seq.fill(5000)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong, 1L + rnd.nextInt(3).toLong))
      .filter { case (a, b, _) => a != b }
      .toDF("item_a", "item_b", "w")
      .cache()
    val directed = edges.count() * 2
    def records(iters: Int, bcast: Boolean): Long =
      shuffleRecords(
        Graph.pageRankInt(edges, iters = iters, broadcastRanks = bcast)
          .count(): Unit)
    // iters=0 runs the full one-time build (ew join, nodes distinct);
    // the marginal cost per extra round must be node-sized, not edge-sized
    val perRoundB = (records(4, bcast = true) - records(0, bcast = true)) / 4.0
    assert(perRoundB < directed / 2.0,
      s"broadcast mode shuffles ~$perRoundB records/round " +
        s"(edge frame is $directed rows — edges are being re-shuffled)")
    // co-partitioned mode pays ONE edge repartition in the build (inside
    // the iters=0 base), after which the LogicalRDD partitioning survives
    // every round's checkpoint — rounds shuffle only the node-sized frames
    val perRoundC = (records(4, bcast = false) - records(0, bcast = false)) / 4.0
    assert(perRoundC < directed / 2.0,
      s"co-partitioned mode shuffles ~$perRoundC records/round " +
        s"(edge frame is $directed rows — partitioning lost across rounds)")
    edges.unpersist(): Unit
  }

  test("a hub node outranks a leaf on a known star graph") {
    val s = spark
    import s.implicits._
    val star = Seq((0L, 1L, 1L), (0L, 2L, 1L), (0L, 3L, 1L), (0L, 4L, 1L))
      .toDF("item_a", "item_b", "w")
    val r = Graph.pageRankInt(star, iters = 10).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r(0L) > r(1L), s"hub ${r(0L)} should outrank leaf ${r(1L)}")
    assert(r(1L) == r(4L), "symmetric leaves must tie exactly")
  }
}

package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Integer fixed-point PageRank: equality with a driver-side reference
  * replay of the same recurrence (the guarantee that makes the q143
  * oracle possible), partitioning invariance, and the documented
  * multi-edge / dangling semantics. */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  /** Driver reference: the exact integer recurrence over an edge set. */
  private def reference(edges: Set[(Long, Long)], iters: Int,
                        damping: Long = 850000L): Map[Long, Long] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2))
    val deg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    var r = nodes.map(_ -> 1000000L).toMap
    for (_ <- 1 to iters) {
      val in = edges.toSeq
        .map { case (s, d) => d -> r(s) / deg(s) }
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      r = nodes.map(n =>
        n -> ((1000000L - damping) + damping * in.getOrElse(n, 0L) / 1000000L)).toMap
    }
    r
  }

  private def run(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] =
    Graph.pageRank(edges.toDF("s", "d"), "s", "d", iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("matches the integer reference on a hand graph, iteration by iteration") {
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (4L, 1L))
    for (iters <- 0 to 4)
      assert(run(edges, iters) == reference(edges.toSet, iters), s"iters=$iters")
  }

  test("random graph: exact equality with the reference after 5 iterations") {
    val rnd = new scala.util.Random(11)
    val edges = Seq.fill(300)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter(e => e._1 != e._2)
    assert(run(edges, 5) == reference(edges.toSet, 5))
  }

  test("multi-edges collapse: duplicated edge list ranks like the distinct one") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L))
    assert(run(edges ++ edges ++ edges, 3) == run(edges, 3))
  }

  test("dangling sink keeps absorbing: hub outranks spokes in a star") {
    val ranks = run(Seq((1L, 9L), (2L, 9L), (3L, 9L), (4L, 9L)), 3)
    assert(ranks(9L) > ranks(1L))
    // spokes have no in-edges: exactly the reset mass
    assert(Seq(1L, 2L, 3L, 4L).forall(ranks(_) == 150000L))
  }

  test("partitioning invariance: a 1-partition and a 16-partition edge list agree") {
    val rnd = new scala.util.Random(3)
    val edges = Seq.fill(200)((rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
      .filter(e => e._1 != e._2)
    val df1 = edges.toDF("s", "d").coalesce(1)
    val df16 = edges.toDF("s", "d").repartition(16)
    val a = Graph.pageRank(df1, "s", "d", 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = Graph.pageRank(df16, "s", "d", 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b)
  }

  /** Driver reference for the personalized variant: reset/start mass on
    * seeds only. */
  private def referencePpr(edges: Set[(Long, Long)], seeds: Set[Long],
                           iters: Int, damping: Long = 850000L): Map[Long, Long] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2))
    val deg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    var r = nodes.map(n => n -> (if (seeds(n)) 1000000L else 0L)).toMap
    for (_ <- 1 to iters) {
      val in = edges.toSeq
        .map { case (s, d) => d -> r(s) / deg(s) }
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      r = nodes.map { n =>
        val base = if (seeds(n)) 1000000L - damping else 0L
        n -> (base + damping * in.getOrElse(n, 0L) / 1000000L)
      }.toMap
    }
    r
  }

  test("personalized: matches the seed-restricted integer reference exactly") {
    val rnd = new scala.util.Random(19)
    val edges = Seq.fill(250)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter(e => e._1 != e._2)
    val seeds = Seq(0L, 7L)
    val got = Graph.personalizedPageRank(edges.toDF("s", "d"), "s", "d",
        seeds.toDF("n"), "n", iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == referencePpr(edges.toSet, seeds.toSet, 4))
  }

  test("personalized: rank decays with distance from the seed on a path") {
    // 1 -> 2 -> 3 -> 4: mass flows outward from the seed and shrinks
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    val got = Graph.personalizedPageRank(edges.toDF("s", "d"), "s", "d",
        Seq(1L).toDF("n"), "n", iters = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) > got(2L) && got(2L) > got(3L) && got(3L) > got(4L))
    assert(got(4L) > 0L) // but mass does reach distance 3 after 5 iters
  }

  test("triangles: K4 gives 3 per node; a pendant edge gives 0") {
    val k4 = for (a <- 1L to 4L; b <- 1L to 4L if a < b) yield (a, b)
    val edges = k4 ++ Seq((4L, 9L)) // pendant node 9
    val got = Graph.triangleCounts(edges.toDF("a", "b"), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L, 9L -> 0L))
  }

  test("triangles: random graph matches brute-force triple enumeration; " +
      "direction and multiplicity collapse") {
    val rnd = new scala.util.Random(31)
    val edges = Seq.fill(150)((rnd.nextInt(20).toLong, rnd.nextInt(20).toLong))
      .filter(e => e._1 != e._2)
    val undirected = edges.map(e => (e._1 min e._2, e._1 max e._2)).toSet
    val nodes = undirected.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    val expect = nodes.map { n =>
      n -> (for {
        x <- nodes; y <- nodes
        if x < y && x != n && y != n
        if undirected((n min x, n max x)) && undirected((n min y, n max y)) &&
          undirected((x, y))
      } yield 1).size.toLong
    }.toMap
    // feed BOTH directions and duplicates: must collapse
    val noisy = edges ++ edges.map(_.swap)
    val got = Graph.triangleCounts(noisy.toDF("a", "b"), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expect)
  }

  test("staged iterate: bucketed edge layout is row-identical to the " +
      "unstaged run, and the edge side of the iteration join plans no " +
      "exchange") {
    val rnd = new scala.util.Random(23)
    val edges = Seq.fill(300)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter(e => e._1 != e._2)
    val wh = new graft.engine.Warehouse(spark,
      java.nio.file.Files.createTempDirectory("graph-stage").toString)
    val staged = Graph.pageRank(edges.toDF("s", "d"), "s", "d", 5,
        staging = Some(Graph.EdgeStage(wh, "gs_pr_edges", 4)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(staged == reference(edges.toSet, 5))
    // the load-bearing plan property: joining the staged (bucketed-by-src)
    // edge list against a rank vector on `src` exchanges ONLY the rank
    // side — the per-iteration edge shuffle is gone
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1") // forbid broadcast: the exchange count is the test
      val ed = wh.readBucketed("gs_pr_edges")
      val ranks = edges.map(_._1).distinct.map(n => (n, 1000000L))
        .toDF("src", "rank_ppm")
      val joined = ed.join(ranks, "src")
      joined.collect()
      // AQE prints the final AND the initial plan — count in the final one
      val plan = joined.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      val exchanges = "Exchange".r.findAllIn(plan).length
      assert(exchanges == 1, s"expected the single rank-side exchange:\n$plan")
      assert(plan.contains("Bucketed: true"), plan)
    } finally spark.conf.set(key, old)
  }

  test("staged labelPropagation is row-identical to the unstaged run") {
    val rnd = new scala.util.Random(31)
    val edges = Seq.fill(200)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter(e => e._1 != e._2)
    val wh = new graft.engine.Warehouse(spark,
      java.nio.file.Files.createTempDirectory("graph-lp-stage").toString)
    val plain = Graph.labelPropagation(edges.toDF("s", "d"), "s", "d", 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val staged = Graph.labelPropagation(edges.toDF("s", "d"), "s", "d", 3,
        staging = Some(Graph.EdgeStage(wh, "gs_lp_edges", 4)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(staged == plain)
  }

  /** Driver reference for propagate: h_k = (Aᵀ)ᵏ·h_0 over the edge SET. */
  private def propRef(edges: Set[(Long, Long)], h0: Map[Long, Long],
                      iters: Int): Map[Long, Long] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2))
    var h = nodes.map(n => n -> h0.getOrElse(n, 0L)).toMap
    for (_ <- 1 to iters) {
      val in = edges.toSeq.map { case (s, d) => d -> h(s) }
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      h = nodes.map(n => n -> in.getOrElse(n, 0L)).toMap
    }
    h
  }

  test("propagate: exact equality with the driver reference, features " +
      "defaulting to 0 off-support, duplicates pre-combined") {
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(250)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter(e => e._1 != e._2)
    // features cover only even nodes, with a deliberate duplicate row
    val feats = (0 to 28 by 2).map(n => (n.toLong, (n % 7 + 1).toLong)) :+
      (4L, 10L)
    val h0 = feats.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    for (iters <- 1 to 3) {
      val got = Graph.propagate(edges.toDF("s", "d"), "s", "d",
          feats.toDF("n", "x"), "n", "x", iters)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == propRef(edges.toSet, h0, iters), s"iters=$iters")
    }
  }

  test("propagate: one round of an indicator feature counts distinct " +
      "in-neighbors carrying it; staged run is row-identical") {
    // star: spokes 1..4 -> hub 9, plus 9 -> 1 back-edge
    val edges = Seq((1L, 9L), (2L, 9L), (3L, 9L), (4L, 9L), (9L, 1L))
    val feats = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L)) // hub carries 0
    val got = Graph.propagate(edges.toDF("s", "d"), "s", "d",
        feats.toDF("n", "x"), "n", "x", iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(9L -> 4L, 1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 0L))
    val wh = new graft.engine.Warehouse(spark,
      java.nio.file.Files.createTempDirectory("graph-prop-stage").toString)
    val staged = Graph.propagate(edges.toDF("s", "d"), "s", "d",
        feats.toDF("n", "x"), "n", "x", iters = 1,
        staging = Some(Graph.EdgeStage(wh, "gs_prop_edges", 4)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(staged == got)
  }

  test("plan bound: the result is one round over one pinned state for " +
      "every iteration count") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val rnd = new scala.util.Random(5)
    val edges = Seq.fill(120)((rnd.nextInt(20).toLong, rnd.nextInt(20).toLong))
      .filter(e => e._1 != e._2).toDF("s", "d")
    val feats = (0L until 20L).map(n => (n, n % 3)).toDF("n", "x")
    val ops: Seq[(String, Int => org.apache.spark.sql.DataFrame)] = Seq(
      "pageRank" -> (k => Graph.pageRank(edges, "s", "d", k)),
      "labelPropagation" -> (k => Graph.labelPropagation(edges, "s", "d", k)),
      "propagate" -> (k => Graph.propagate(edges, "s", "d", feats, "n", "x", k)))
    for ((name, run) <- ops) {
      // (Join nodes, leaf scans): the leaves are the pinned edge list, node
      // set and state references one round reads, so an equal count for
      // every k bounds the state references to one round's
      val shapes = (1 to 6).map { k =>
        val plan = run(k).queryExecution.optimizedPlan
        k -> (plan.collect { case j: Join => j }.size, plan.collectLeaves().size)
      }
      val oneRound = shapes.head._2
      assert(oneRound._1 > 0, s"$name: no join in one round")
      shapes.foreach { case (k, shape) =>
        assert(shape == oneRound,
          s"$name k=$k: (joins, leaves) $shape, one round has $oneRound")
      }
    }
  }

  test("null endpoints drop their edge; node set is surviving endpoints") {
    val edges = Seq((java.lang.Long.valueOf(1L), java.lang.Long.valueOf(2L)),
      (null.asInstanceOf[java.lang.Long], java.lang.Long.valueOf(3L)))
      .toDF("s", "d")
    val ranks = Graph.pageRank(edges, "s", "d", 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ranks.keySet == Set(1L, 2L))
  }
}

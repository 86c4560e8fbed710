package graft.graph

import graft.SparkSpec

class GraphOpsSpec extends SparkSpec {
  import spark.implicits._

  test("pageRank: hand-computed fixed-point ranks on a 3-node path") {
    // Undirected path b - a - c (both directions passed explicitly).
    // init=1e6, teleport=150000. Hand iteration:
    //   r1(a) = 150000 + 85*(1e6 + 1e6) div 100           = 1850000
    //   r1(b) = r1(c) = 150000 + 85*(1e6 div 2) div 100   =  575000
    //   r2(a) = 150000 + 85*(575000 + 575000) div 100     = 1127500
    //   r2(b) = r2(c) = 150000 + 85*(1850000 div 2) div 100 = 936250
    val edges = Seq(
      ("a", "b"), ("b", "a"), ("a", "c"), ("c", "a"))
      .toDF("src", "dst")
    val r = GraphOps.pageRank(edges, 2, 1000000L)
      .as[(String, Long)].collect().toMap
    assert(r == Map("a" -> 1127500L, "b" -> 936250L, "c" -> 936250L))
  }

  test("hopDistances: exact hop counts, bounded frontier") {
    // path a - b - c - d (undirected), plus a shortcut a - c
    val edges = Seq(("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"),
      ("c", "d"), ("d", "c"), ("a", "c"), ("c", "a"))
      .toDF("src", "dst")
    val two = GraphOps.hopDistances(edges, Seq("a"), 2)
      .as[(String, Long)].collect().toMap
    // shortcut wins: c is 1 hop, d reachable at 2
    assert(two == Map("a" -> 0L, "b" -> 1L, "c" -> 1L, "d" -> 2L))
    val one = GraphOps.hopDistances(edges, Seq("a"), 1)
      .as[(String, Long)].collect().toMap
    assert(one == Map("a" -> 0L, "b" -> 1L, "c" -> 1L),
      "d is outside the 1-hop frontier")
    // multi-source: min over sources
    val ms = GraphOps.hopDistances(edges, Seq("a", "d"), 1)
      .as[(String, Long)].collect().toMap
    assert(ms == Map("a" -> 0L, "d" -> 0L, "b" -> 1L, "c" -> 1L))
  }

  test("hopDistances: gate escape hatches change strategy, not results") {
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("a", "c"))
      .toDF("src", "dst")
    val expect = GraphOps.hopDistances(edges, Seq("a"), 3)
      .as[(String, Long)].collect().toMap
    // broadcastMaxNodes = 0: no sizing job, forced shuffle-join path
    val shuffled = GraphOps.hopDistances(edges, Seq("a"), 3,
        broadcastMaxNodes = 0L)
      .as[(String, Long)].collect().toMap
    assert(shuffled == expect)
    // nodeCountHint: gate decides without the distinct-dst job; a hint
    // below the threshold keeps the broadcast path, a giant hint forces
    // the shuffle path — identical answers either way
    val hinted = GraphOps.hopDistances(edges, Seq("a"), 3,
        nodeCountHint = 4L)
      .as[(String, Long)].collect().toMap
    assert(hinted == expect)
    val giant = GraphOps.hopDistances(edges, Seq("a"), 3,
        nodeCountHint = Long.MaxValue)
      .as[(String, Long)].collect().toMap
    assert(giant == expect)
  }

  test("pageRank: determinism across partitionings") {
    val edges = (1 to 50).flatMap { i =>
      val hub = "h" + (i % 3)
      Seq((s"n$i", hub), (hub, s"n$i"))
    }.toDF("src", "dst")
    val one = GraphOps.pageRank(edges.repartition(1), 3).collect().toSet
    val many = GraphOps.pageRank(edges.repartition(7), 3).collect().toSet
    assert(one == many)
    // hubs accumulate strictly more mass than leaves
    val m = one.map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m("h0") > m("n1") && m("h1") > m("n2"))
  }

  test("pageRank: directed sinks are not ranked (src-only node set)") {
    // d is a pure sink (dst-only): it receives mass but emits no row,
    // in both the broadcast and the shuffle-join regimes
    val edges = Seq(("a", "b"), ("b", "a"), ("a", "d"), ("b", "d"))
      .toDF("src", "dst")
    val compact = GraphOps.pageRank(edges, 3, 1000000L)
      .as[(String, Long)].collect().toMap
    val big = GraphOps.pageRank(edges, 3, 1000000L, broadcastMaxNodes = 0)
      .as[(String, Long)].collect().toMap
    assert(compact.keySet == Set("a", "b"), s"got ${compact.keySet}")
    assert(big == compact,
      "shuffle-join regime must emit identical ranks and node set")
  }

  test("pageRank: broadcast regime equals shuffle regime exactly") {
    val edges = (1 to 40).flatMap { i =>
      val hub = "h" + (i % 3)
      Seq((s"n$i", hub), (hub, s"n$i"))
    }.toDF("src", "dst")
    val bc = GraphOps.pageRank(edges, 4).as[(String, Long)].collect().toMap
    val sh = GraphOps.pageRank(edges, 4, broadcastMaxNodes = 0)
      .as[(String, Long)].collect().toMap
    assert(bc == sh)
  }

  test("pageRank: compact broadcasts stay within the gate on sink-heavy graphs") {
    // 5 src nodes on a ring, each also feeding 20 dst-only sinks: the
    // src count passes the compact gate (5 <= 5) while the distinct dst
    // count (105) does not, so a rank vector holding the sinks would
    // broadcast past the gate
    val maxNodes = 5L
    val edges = (0 until 5).flatMap { i =>
      (s"s$i", s"s${(i + 1) % 5}") +:
        (0 until 20).map(j => (s"s$i", s"k$i-$j"))
    }.toDF("src", "dst")
    val compact = GraphOps.pageRank(edges, 3, broadcastMaxNodes = maxNodes)
    // collect THIS DataFrame (not an `.as[...]` copy, which would plan
    // and run separately) so its executed plan carries the row metrics
    val got = compact.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    object Plans extends org.apache.spark.sql.execution.adaptive
      .AdaptiveSparkPlanHelper
    val broadcastRows = Plans.collect(compact.queryExecution.executedPlan) {
      case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec =>
        b.metrics("numOutputRows").value
    }
    assert(broadcastRows.nonEmpty, "compact regime must broadcast")
    assert(broadcastRows.forall(_ <= maxNodes),
      s"broadcast rows $broadcastRows exceed the gate $maxNodes")
    val sh = GraphOps.pageRank(edges, 3, broadcastMaxNodes = 0)
      .as[(String, Long)].collect().toMap
    assert(got == sh && got.keySet == (0 until 5).map(i => s"s$i").toSet)
    spark.catalog.clearCache()
  }

  test("deep iteration: checkpointed lineage equals pure lineage") {
    val edges = (1 to 12).flatMap { i =>
      val hub = "h" + (i % 2)
      Seq((s"n$i", hub), (hub, s"n$i"))
    }.toDF("src", "dst")
    // 7 rounds crosses checkpointEvery=3 twice (after rounds 3 and 6);
    // broadcastMaxNodes=0 forces the shuffle regime, where checkpointEvery
    // is the operative lineage control
    val pure = GraphOps.pageRank(edges, 7, checkpointEvery = 0,
      broadcastMaxNodes = 0).as[(String, Long)].collect().toMap
    val ck = GraphOps.pageRank(edges, 7, checkpointEvery = 3,
      broadcastMaxNodes = 0).as[(String, Long)].collect().toMap
    assert(ck == pure, "localCheckpoint must not change any rank")
    val pureH = GraphOps.hopDistances(edges, Seq("n1"), 5,
      checkpointEvery = 0).as[(String, Long)].collect().toMap
    val ckH = GraphOps.hopDistances(edges, Seq("n1"), 5,
      checkpointEvery = 2).as[(String, Long)].collect().toMap
    assert(ckH == pureH)
  }

  test("giant regime: the cached edge table is never re-exchanged") {
    // The shuffle-join loop must add exactly ONE exchange per extra
    // round (the contribution aggregation): the edge side is cached
    // hash(src)-partitioned — visible to the planner through
    // InMemoryRelation — and the rank vector arrives hash(id)-
    // partitioned from the previous round's aggregation at the same
    // width. Counted as ShuffleExchangeExec nodes in the physical tree
    // (cached builds' internal exchanges are not tree children);
    // AQE/auto-broadcast are disabled so the tiny test graph plans the
    // giant shape (shuffle join, static partitioning) — an edge
    // re-exchange would add two or three exchanges per round.
    val conf = spark.conf
    val (aqe0, bc0) = (conf.get("spark.sql.adaptive.enabled"),
      conf.get("spark.sql.autoBroadcastJoinThreshold"))
    conf.set("spark.sql.adaptive.enabled", "false")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val edges = (1 to 20).flatMap(i =>
        Seq((s"n$i", s"n${i % 5 + 1}"), (s"n${i % 5 + 1}", s"n$i")))
        .toDF("src", "dst")
      def exchanges(df: org.apache.spark.sql.DataFrame): Int =
        df.queryExecution.executedPlan.collect {
          case e: org.apache.spark.sql.execution.exchange
            .ShuffleExchangeExec => e
        }.length
      def plan(iters: Int): Int = {
        val n = exchanges(GraphOps.pageRank(
          edges, iters, checkpointEvery = 0, broadcastMaxNodes = 0))
        spark.catalog.clearCache()
        n
      }
      val (p1, p3) = (plan(1), plan(3))
      assert(p3 - p1 == 2,
        s"expected 1 exchange per extra round, got $p1 -> $p3")
      // The direct property, for both operators: NO shuffle exchange has
      // the cached EDGE table (the only cache whose output carries `dst`)
      // anywhere below it — every edge scan feeds its join straight from
      // the co-partitioned cache. (Raw exchange counts are brittle for
      // hopDistances: round i references round i-1 twice, so the lazy
      // giant-mode tree duplicates aggregation exchanges per hop — the
      // documented lineage growth checkpointEvery bounds — without ever
      // touching the edge cache.)
      def edgeNeverExchanged(df: org.apache.spark.sql.DataFrame): Unit = {
        import org.apache.spark.sql.execution.{FilterExec, InputAdapter,
          ProjectExec, SortExec, SparkPlan, WholeStageCodegenExec}
        // an exchange re-shuffles the EDGE ROWS iff the chain below it is
        // purely row-preserving down to the edge cache scan; a join or
        // aggregate in between means the exchange moves derived rows
        // (the one legitimate per-round aggregation), not the edge table
        @annotation.tailrec
        def throughUnary(p: SparkPlan): SparkPlan = p match {
          case s: SortExec => throughUnary(s.child)
          case f: FilterExec => throughUnary(f.child)
          case pr: ProjectExec => throughUnary(pr.child)
          case w: WholeStageCodegenExec => throughUnary(w.child)
          case i: InputAdapter => throughUnary(i.child)
          case other => other
        }
        val offenders = df.queryExecution.executedPlan.collect {
          case e: org.apache.spark.sql.execution.exchange
            .ShuffleExchangeExec => e
        }.filter(e => throughUnary(e.child) match {
          case s: org.apache.spark.sql.execution.columnar
            .InMemoryTableScanExec => s.output.exists(_.name == "dst")
          case _ => false
        })
        assert(offenders.isEmpty,
          s"edge cache re-exchanged:\n${offenders.mkString("\n")}")
        spark.catalog.clearCache()
      }
      edgeNeverExchanged(GraphOps.pageRank(
        edges, 3, checkpointEvery = 0, broadcastMaxNodes = 0))
      edgeNeverExchanged(GraphOps.hopDistances(
        edges, Seq("n1"), 3, checkpointEvery = 0, broadcastMaxNodes = 0))
    } finally {
      conf.set("spark.sql.adaptive.enabled", aqe0)
      conf.set("spark.sql.autoBroadcastJoinThreshold", bc0)
      spark.catalog.clearCache()
    }
  }
}

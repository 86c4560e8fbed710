package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative distributed graph computation on plain DataFrames — the
  * corpus-curation centrality pass (web-scale pipelines weight documents by
  * the link-graph importance of their host; see e.g. the harmonic/PageRank
  * centrality filtering in Common Crawl-derived corpora).
  *
  * Everything is EXACT fixed-point integer arithmetic: ranks are bigint
  * "mass units", per-edge contributions use integer division, and the
  * damping step is `teleport + (85 * sum) div 100`. Floating-point power
  * iteration is order-sensitive (double sums vary with Spark's partial-agg
  * merge order); integer sums are associative-exact, so the result is
  * bit-identical across engines, partitionings and retries — which is what
  * makes the operator oracle-checkable and its output safe to use as a
  * deterministic corpus-selection key.
  */
object GraphOps {

  // r14 measured REJECTION (guide §1.2 — keep the data): deriving a
  // NARROWER round width from the cached edge bytes (coalesce of the
  // round aggregation, or a narrow repartition of the edge cache) was
  // tried both ways and LOST at sf0.1/32 cores — width 1: pagerank 1.71s
  // vs 1.08s at session width; post-agg coalesce sweep (w=1/4/8):
  // 2.62/2.44/2.25 vs 1.97 uncoalesced. The r13 anti-scaling was the
  // round SHAPE (zeros-union + marker agg + per-round exchange), not the
  // task count — fixed structurally below; round width stays the
  // session's shuffle partitioning, which is already scale-governed.

  /** Fixed-point PageRank over a DIRECTED edge list (`src`, `dst` string
    * columns; multi-edges should be pre-deduped by the caller).
    *
    * Every node reachable only as `dst` contributes nothing and (by
    * convention) is not ranked; callers wanting undirected semantics pass
    * both edge directions, which also guarantees no dangling mass. Each of
    * the `iters` rounds computes `contrib(u→v) = rank(u) div outdeg(u)`
    * and `rank'(v) = teleport + (85 * Σ contrib(·→v)) div 100` with
    * `teleport = init * 15 / 100`.
    *
    * Scale shape: per iteration, ONE join (the edge table against the
    * current rank vector) and ONE map-side-combinable shuffle: nodes that
    * receive no contribution are folded in as zero-mass rows UNIONed into
    * the same aggregation, not re-joined against the id set, so no second
    * exchange exists per round. The zeros ride a `1` marker and the
    * aggregation keeps only marker-carrying ids, so the OUTPUT node set is
    * exactly the out-degree (`src`) nodes — on directed graphs
    * contributions landing on sink (dst-only) nodes are dropped, per the
    * convention above (the marker is a max-agg column inside the same
    * exchange, not an extra join).
    *
    * While the graph is compact (`|V| <= broadcastMaxNodes`, decided from
    * the materialized degree table) the per-round join BROADCASTS the rank
    * vector — the edge table is never exchanged inside the loop — and each
    * round is pinned with an eager `localCheckpoint` so the next round's
    * broadcast collects the tiny checkpointed vector instead of replaying
    * every prior round's plan (broadcast subtrees are planned per job and
    * see no cross-job exchange reuse). Above the threshold the rounds run
    * as shuffle joins and `checkpointEvery` (default 10) truncates the
    * linearly-growing lineage instead — executor-local blocks, so a lost
    * executor on a real cluster recomputes from the last checkpoint; pass
    * 0 to keep pure lineage. Overflow bound: requires
    * `85 * |V| * init < 2^63` (≈10^8 nodes at the default init 10^12 —
    * shrink `init` for bigger graphs).
    *
    * The edge list, degree table and degree-annotated edge table are
    * loop-invariant and referenced by every round, so all three are
    * `persist()`ed — without this, EVERY iteration's lineage re-derives
    * the edge list from its base scans (observed: ~10 redundant fact scans
    * at 3 rounds). Cache contract as in [[graft.queries.QueryCatalog]]:
    * entries release via `spark.catalog.clearCache()` (Bench/Verify do)
    * or session teardown.
    */
  def pageRank(
      edges: DataFrame,
      iters: Int,
      init: Long = 1000000000000L,
      checkpointEvery: Int = 10,
      broadcastMaxNodes: Long = 2000000L): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val teleport = init / 100L * 15L
    // cache the bare edge list too: deg and ed materialize in different
    // jobs (deg.count() sizes the graph first), and exchange reuse never
    // spans jobs — uncached, the caller's edge derivation would run twice
    val e = edges.select(col("src"), col("dst")).persist()
    val deg = e.groupBy("src").agg(count(lit(1)).as("deg")).persist()
    val nV = deg.count()
    val compact = nV <= broadcastMaxNodes
    // GIANT graphs: cache the degree-annotated edge table HASH-PARTITIONED
    // on src. A cached plan's InMemoryRelation reports its partitioning,
    // so every round's shuffle join sees the edge side already clustered
    // on the join key and exchanges ONLY the rank vector — which itself
    // leaves each round's aggregation hash(id)-partitioned at the same
    // width, so the steady-state round carries ONE exchange (the
    // contribution aggregation) instead of three. The repartition goes on
    // `e` BEFORE the degree join, where it replaces the exchange
    // EnsureRequirements would insert anyway (zero extra cost when the
    // build joins sort-merge) and pins hash(src) on the cache under EVERY
    // build strategy — an auto-broadcast degree join would otherwise
    // surface the raw scan's unknown partitioning and silently re-buy the
    // per-round edge exchange. Compact graphs skip it: the broadcast loop
    // ignores partitioning entirely.
    if (compact) {
      // COMPACT regime, restructured r14 for ZERO-exchange rounds
      // (guide §2.4 — remove shuffles outright):
      //   - `ed` caches hash(dst)-partitioned (session shuffle width —
      //     scale-governed), so each round's contribution aggregation
      //     is already clustered on its grouping key and plans as a
      //     single no-exchange stage;
      //   - the rank vector is kept SPARSE (receiving nodes only): a
      //     node with no inbound contribution has rank exactly
      //     `teleport` (s = 0), so the per-round zeros-union + marker
      //     aggregation disappears — rounds 2+ read the previous sparse
      //     vector broadcast with `coalesce(rank, teleport)`, and round
      //     1 inlines the uniform `init` rank with no join at all;
      //   - one final broadcast left-join against the out-degree node
      //     set restores the dense result (the oracle's
      //     `ids LEFT JOIN c_i` shape). Values are identical integer
      //     arithmetic throughout — the regime-equality spec pins this
      //     against the giant path;
      //   - `ed` keeps only edges INTO out-degree nodes: a dst-only sink
      //     is never ranked and never a source, so dropping its edges
      //     changes no value, and every broadcast rank vector stays
      //     within the gated `nV` instead of growing with the sinks.
      val ed = e.repartition(col("dst"))
        .join(broadcast(deg), "src")
        .join(broadcast(deg.select(col("src").as("dst"))), Seq("dst"),
          "left_semi")
        .persist()
      var rs = ed.select(col("dst").as("id"),
          expr(s"${init}L div deg").as("c"))
        .groupBy("id").agg(sum(col("c")).as("s"))
        .select(col("id"),
          (lit(teleport) + expr("(85 * s) div 100")).as("rank"))
      for (_ <- 2 to iters) {
        rs = rs.localCheckpoint()
        val rv = broadcast(rs)
        rs = ed
          .join(rv, ed("src") === rv("id"), "left")
          .select(ed("dst").as("id"),
            expr(s"coalesce(rank, ${teleport}L) div deg").as("c"))
          .groupBy("id").agg(sum(col("c")).as("s"))
          .select(col("id"),
            (lit(teleport) + expr("(85 * s) div 100")).as("rank"))
      }
      val rsF = broadcast(rs.localCheckpoint())
      return deg.select(col("src").as("id"))
        .join(rsF, Seq("id"), "left")
        .select(col("id"), coalesce(col("rank"), lit(teleport)).as("rank"))
    }
    val ed = e.repartition(col("src")).join(deg, "src").persist()
    val zeros = deg.select(col("src").as("id"), lit(0L).as("c"),
      lit(1).as("m"))
    var r = deg.select(col("src").as("id"), lit(init).as("rank"))
    for (i <- 1 to iters) {
      r = ed
        .join(r, ed("src") === r("id"))
        .select(ed("dst").as("id"), expr("rank div deg").as("c"),
          lit(0).as("m"))
        .unionAll(zeros) // non-receiving nodes keep a row without a join
        .groupBy("id")
        .agg(sum(col("c")).as("s"), max(col("m")).as("m"))
        .where(col("m") === 1) // rank only the out-degree node set
        .select(col("id"),
          (lit(teleport) + expr("(85 * s) div 100")).as("rank"))
      if (checkpointEvery > 0 && i % checkpointEvery == 0 && i < iters)
        r = r.localCheckpoint()
    }
    r
  }

  /** Bounded-hop BFS distances from a source set — the min-propagation
    * counterpart of [[pageRank]]'s sum-propagation: each round extends the
    * reached frontier one edge and keeps the per-node minimum, so after
    * `maxHops` rounds every node within that many hops carries its exact
    * shortest hop count (k-hop neighborhood expansion: link-graph crawl
    * frontiers, contamination blast-radius, feature neighborhoods).
    *
    * Per round: one join of the edge list against the current reach and
    * one min-groupBy on node id — both on compact (id, long) pairs, both
    * map-side combinable. Unlike frontier-delta BFS implementations this
    * re-propagates the whole reach each round (simpler, deterministic
    * plans).
    *
    * COMPACT graphs (node count ≤ `broadcastMaxNodes` — sized once from
    * the cached edge list, the same gate as [[pageRank]]): the reach is
    * materialized per round (eager checkpoint) and BROADCAST into the
    * propagation join, so the cached edge list is never re-shuffled and
    * each round's plan stays flat — without this, round i references
    * round i-1 TWICE (join + union), the logical tree doubles per hop,
    * and the edge join re-shuffles every round (measured ~2x on the
    * battery's 3-hop trade-graph row). Giant graphs keep the lazy form:
    * shuffle joins (a 100-TB reach cannot broadcast) with
    * `checkpointEvery` (default 10, same contract as [[pageRank]])
    * bounding the lineage.
    *
    * Gate-sizing cost: unlike [[pageRank]] (whose degree table yields the
    * node count for free), sizing this gate needs a dedicated
    * distinct-dst count job over the whole edge list — pure overhead on
    * a graph the caller already knows is giant. Two escape hatches:
    * `broadcastMaxNodes = 0` skips the sizing job outright and takes the
    * shuffle-join path; `nodeCountHint >= 0` supplies the (approximate)
    * node count so the gate decides without the job — a hint only, it
    * picks a strategy and cannot affect results.
    */
  def hopDistances(
      edges: DataFrame,
      sources: Seq[String],
      maxHops: Int,
      checkpointEvery: Int = 10,
      broadcastMaxNodes: Long = 2000000L,
      nodeCountHint: Long = -1L): DataFrame = {
    require(sources.nonEmpty && maxHops >= 1, "need sources and hops >= 1")
    val spark = edges.sparkSession
    import spark.implicits._
    val e0 = edges.select(col("src"), col("dst")).persist()
    // reach ⊆ nodes: distinct dst count (+ the sources) bounds it
    val compact = broadcastMaxNodes > 0 && {
      val nV = if (nodeCountHint >= 0L) nodeCountHint
        else e0.select(col("dst")).distinct().count()
      nV <= broadcastMaxNodes
    }
    if (compact) {
      // COMPACT regime: per round, broadcast only the FRONTIER — the
      // nodes first reached in the previous round (`dist == i-1`) —
      // into the edge join instead of the whole reach (r14, guide §2.3
      // shuffle/broadcast fewer bytes). Identical minima: a node
      // settled at round j < i-1 already propagated dist+1 in round
      // j+1, so re-propagating it can never improve a minimum (BFS
      // layering). A full-outer reach-merge restructure was measured
      // SLOWER here (2.36s vs 1.59s at sf0.1/32c — the per-round reach
      // exchange + merge sorts cost more than the union regroup saves),
      // so the union+min shape stays.
      var d = sources.toDF("id").select(col("id"), lit(0L).as("dist"))
        .localCheckpoint()
      for (i <- 1 to maxHops) {
        val dv = broadcast(d.filter(col("dist") === lit(i - 1L)))
        val prop = e0.join(dv, e0("src") === dv("id"))
          .select(e0("dst").as("id"), (dv("dist") + 1L).as("dist"))
        d = d.unionAll(prop).groupBy("id").agg(min(col("dist")).as("dist"))
        if (i < maxHops) d = d.localCheckpoint()
      }
      return d
    }
    // GIANT graphs: re-cache the edge list hash-partitioned on src so the
    // per-round shuffle join never re-exchanges it (see [[pageRank]]'s
    // note — the cached partitioning is visible to the planner). The
    // unpartitioned cache is dropped: at giant scale double-caching the
    // edge list costs more than the one re-derivation the repartitioned
    // cache's build pays (and when the sizing job was skipped via
    // `broadcastMaxNodes = 0` / `nodeCountHint`, the caller's edge
    // derivation still runs exactly once).
    val e = {
      val p = e0.repartition(col("src")).persist()
      e0.unpersist()
      p
    }
    var d = sources.toDF("id").select(col("id"), lit(0L).as("dist"))
    for (i <- 1 to maxHops) {
      val prop = e.join(d, e("src") === d("id"))
        .select(e("dst").as("id"), (d("dist") + 1L).as("dist"))
      d = d.unionAll(prop).groupBy("id").agg(min(col("dist")).as("dist"))
      if (checkpointEvery > 0 && i % checkpointEvery == 0 && i < maxHops)
        d = d.localCheckpoint()
    }
    d
  }
}

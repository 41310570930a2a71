package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed graph analytics over an edge list (extension tier — the
  * relationship layer a curation pipeline runs over co-occurrence graphs:
  * community structure via triangles, candidate generation via
  * common-neighbor link prediction; connected components already lives in
  * [[Dedup.connectedComponents]]).
  *
  * Scale design — the enemy is the HUB. Every triangle/wedge algorithm
  * degenerates on a high-degree node: a hub of degree d contributes O(d²)
  * wedges, and real co-occurrence graphs are power-law. Two standard
  * defenses, one per operator:
  *
  *  - **Degree orientation** (triangles): orient every undirected edge from
  *    the endpoint with the smaller `(degree, id)` pair to the larger. Each
  *    node's OUT-degree is then bounded by O(√m) regardless of its raw
  *    degree (a node can only point at neighbors at least as "heavy" as
  *    itself, and there are at most 2√m nodes of degree ≥ √m), so the wedge
  *    stage is O(m^1.5) total — the hub's quadratic fan-out is charged to
  *    its many light neighbors, constant each. Every triangle is emitted
  *    exactly once (from its minimum vertex in the total order), so no
  *    divide-by-multiplicity fixup is needed.
  *  - **Hub exclusion** (link prediction): wedge centers above `maxDegree`
  *    are dropped before pairing. A hub shared by everyone predicts
  *    nothing (it is the graph analog of a stopword), and excluding it
  *    bounds per-center fan-out to maxDegree² — linear in edges overall.
  *
  * Everything shuffles on node or node-pair keys; counts are exact longs;
  * the only doubles are final ratios of those longs (rounded 4 dp).
  */
object GraphOps {

  /** Canonical undirected edge list: distinct `(u, v)` with `u < v`, nulls
    * and self-loops dropped. Accepts edges in either or both directions.
    */
  def canonicalEdges(edges: DataFrame, aCol: String, bCol: String): DataFrame =
    edges
      .where(col(aCol).isNotNull && col(bCol).isNotNull &&
        col(aCol) =!= col(bCol))
      .select(least(col(aCol), col(bCol)).as("u"),
        greatest(col(aCol), col(bCol)).as("v"))
      .distinct()

  /** Co-occurrence edges from a (basket, item) incidence list: items
    * sharing a basket are adjacent. Feed it capped baskets
    * ([[BasketOps.cappedBasketItems]]) — the cap bounds per-basket edge
    * fan-out exactly as it bounds the market-basket pair stage.
    */
  def coOccurrenceEdges(items: DataFrame, basketCol: String,
                        itemCol: String): DataFrame = {
    val it = items.select(col(basketCol).as("b"), col(itemCol).as("i"))
    canonicalEdges(
      it.as("x").join(it.as("y"),
        col("x.b") === col("y.b") && col("x.i") < col("y.i")),
      "x.i", "y.i")
  }

  /** Degree table `(n, d)` of a CANONICAL edge list (`u < v`, distinct).
    * Public so a caller that runs several graph operators over one graph
    * can compute (and checkpoint) the degrees ONCE and pass them to the
    * `*Of` variants below — [[linkPredictions]] alone consumes the table
    * three times (hub filter + two final attaches), and each bare call
    * would otherwise re-shuffle the full edge list into a fresh degree
    * aggregation. At 100 TB the degree table is a per-snapshot artifact
    * written next to the edge list, not a subplan repeated per query.
    */
  def nodeDegrees(e: DataFrame): DataFrame =
    e.select(col("u").as("n")).unionAll(e.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))

  /** Per-node triangle participation: `(node, degree, n_triangles)` for
    * every node of at least one triangle, exact. Degree-oriented join —
    * see the object doc for why this survives hubs.
    *
    * Plan shape: degree agg (node key) → two degree-attach joins (node
    * key) → wedge self-join on the oriented source → closing-edge join on
    * the `(dst, dst)` pair key → explode-3 + final node agg. All equi
    * joins on narrow long keys; edge arrays never materialize per node.
    */
  def triangleCounts(edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    val e = canonicalEdges(edges, aCol, bCol)
    triangleCountsOf(e, nodeDegrees(e))
  }

  /** [[triangleCounts]] over a pre-canonicalized edge list and a
    * pre-computed [[nodeDegrees]] table — the entry point when both are
    * shared (memoized / checkpointed) across several graph operators.
    */
  def triangleCountsOf(e: DataFrame, deg: DataFrame): DataFrame = {
    val withDeg = e
      .join(deg.select(col("n").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("d").as("dv")), "v")
    // Orient by the (degree, id) total order; carry the head's degree so
    // out-neighbors can be ordered without re-joining. MATERIALIZED: the
    // oriented list is consumed THREE times below (both wedge sides and
    // the closing-edge probe), and left lazy each consumer re-ran the two
    // degree-attach joins over the full edge list (same multi-consumer
    // lesson as the link_predict adjacency). One edge-scale checkpoint of
    // three long columns serves all three.
    val headFirst = struct(col("du"), col("u")) < struct(col("dv"), col("v"))
    // checkpointFanOut: the wedge self-join below is the suite's heaviest
    // CPU stage (~150 M candidate rows at sf0.1) and consumes the
    // checkpoint's OWN partitioning — without the clamp it inherits the
    // byte-sized handful of partitions AQE left on the edge frame and
    // runs a few threads wide. Keyed on src: the self-join's equi key,
    // so the pinned exchange is the one the join needs anyway.
    val oriented = ScaleOps.checkpointFanOut(withDeg.select(
      when(headFirst, col("u")).otherwise(col("v")).as("src"),
      when(headFirst, col("v")).otherwise(col("u")).as("dst"),
      when(headFirst, col("dv")).otherwise(col("du")).as("dd")), col("src"))

    val tri = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.src") === col("e2.src") &&
          struct(col("e1.dd"), col("e1.dst")) <
            struct(col("e2.dd"), col("e2.dst")))
      .select(col("e1.src").as("a"), col("e1.dst").as("b"),
        col("e2.dst").as("c"))
      // The closing edge b—c is oriented b→c in the same total order, so
      // one equi-join on the pair key decides membership. The wedge
      // stream is O(m^1.5) — the plan's largest intermediate BY FAR — so
      // it must never cross an exchange: when the edge list is small
      // enough, BROADCAST it and let the wedges stream map-side into the
      // closing probe + partial agg (at sf0.1 this removes a ~150 M-row
      // shuffle; at edge counts past the cap the shuffled plan returns).
      .join(closingProbe(oriented), Seq("b", "c"))

    tri.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
      .join(deg.select(col("n").as("node"), col("d").as("degree")), "node")
      .select(col("node"), col("degree"), col("n_triangles"))
  }

  /** Common-neighbor link prediction: for every NON-adjacent pair at
    * distance 2 through a center of degree ≤ `maxDegree`, the number of
    * such shared neighbors and the neighbor-overlap score
    * `cn / (deg_a + deg_b − cn)` (a Jaccard against full degrees — a
    * conservative lower bound when hubs were excluded from `cn`). Pairs
    * below `minCommon` shared neighbors drop at the aggregate.
    *
    * Output: `(id_a, id_b, cn, deg_a, deg_b, score)`, `id_a < id_b`.
    */
  def linkPredictions(edges: DataFrame, aCol: String, bCol: String,
                      maxDegree: Long, minCommon: Long): DataFrame = {
    val e = canonicalEdges(edges, aCol, bCol)
    linkPredictionsOf(e, nodeDegrees(e), maxDegree, minCommon)
  }

  /** [[linkPredictions]] over a pre-canonicalized edge list and a
    * pre-computed [[nodeDegrees]] table (consumed three times below —
    * share a checkpointed table instead of re-deriving it per use).
    */
  def linkPredictionsOf(e: DataFrame, deg: DataFrame,
                        maxDegree: Long, minCommon: Long): DataFrame =
    linkPredictionsOnAdj(linkPredictionAdjacency(e, deg, maxDegree),
      e, deg, minCommon)

  /** The hub-filtered (center, leaf) adjacency [[linkPredictionsOnAdj]]
    * wedges over, materialized pre-partitioned by center — split out so
    * callers can build it ONCE per graph snapshot and share it across
    * executions (the production shape: the adjacency is a derived table
    * every wedge-style query reads, not per-query scratch; SparkEntry
    * memoizes it exactly like the edge list itself).
    *
    * Both directions, hub centers dropped. The drop is an anti-join
    * against the HUB set (nodes above the cap) — a power-law graph has
    * few hubs, so the filter side broadcasts and the adjacency stream
    * reaches the wedge self-join without an extra node-keyed shuffle;
    * joining the (node-cardinality) kept-set instead would shuffle the
    * adjacency once more for the same answer. The self-join consumes
    * the adjacency twice, and left lazy each side re-instantiated the
    * union + anti-join + its own center exchange and sort (round-7
    * plan: two identical Exchanges feeding the wedge SortMergeJoin —
    * exchange reuse did not canonicalize them together). One
    * repartition + local sort + eager localCheckpoint pins a single
    * copy both sides read with ZERO further exchange or sort.
    */
  def linkPredictionAdjacency(e: DataFrame, deg: DataFrame,
                              maxDegree: Long): DataFrame = {
    require(maxDegree >= 1, s"maxDegree=$maxDegree must be positive")
    e.select(col("u").as("center"), col("v").as("leaf"))
      .unionAll(e.select(col("v").as("center"), col("u").as("leaf")))
      .join(broadcast(deg.where(col("d") > maxDegree)
        .select(col("n").as("center"))), Seq("center"), "left_anti")
      .repartition(col("center"))
      .sortWithinPartitions("center", "leaf")
      .localCheckpoint(true)
      // Width clamp AFTER materialization (the probe is free on the
      // checkpointed RDD): the count-free repartition above is
      // AQE-coalescible by bytes, and this checkpoint's partitioning is
      // what the 50 M-row wedge self-join runs at — a 9-partition
      // adjacency serialized the suite's biggest stage to a third of the
      // session. In the small regime re-materialize at session width
      // (same key, same sort, trivially cheap by definition); at scale
      // the guard no-ops and never narrows a wide adjacency.
      .transform { cp =>
        val want = cp.sparkSession.sparkContext.defaultParallelism
        if (cp.rdd.getNumPartitions >= want) cp
        else {
          val wide = cp.repartition(want, col("center"))
            .sortWithinPartitions("center", "leaf")
            .localCheckpoint(true)
          Dedup.unpersistCheckpoint(cp)
          wide
        }
      }
  }

  /** [[linkPredictions]] over a pre-built [[linkPredictionAdjacency]]:
    * the wedge pair-up, common-neighbor floor, distance-2 anti-join and
    * Jaccard attach — everything downstream of the shared adjacency.
    */
  def linkPredictionsOnAdj(adj: DataFrame, e: DataFrame, deg: DataFrame,
                           minCommon: Long): DataFrame = {
    require(minCommon >= 1, s"minCommon=$minCommon must be positive")
    // Wedge pair-up as a center-keyed self-join. The tempting
    // gather-then-explode alternative (collect_list per capped center,
    // HOF pair expansion) measured 3.6× SLOWER in ISOLATED single-query
    // runs at sf0.1 (scripts/adjudicate.sh — ~9 s for this plan vs ~34 s
    // for the gather variant; full-bench numbers for this query are NOT
    // comparable, shared-JVM state has inflated them 4×+): the per-wedge
    // lambda/struct machinery costs far more than the hash-join probe it
    // saves — same lesson as the fused sketch kernels, stay inside
    // codegen'd join + agg operators.
    //
    // The pair aggregation repartitions the RAW wedges by the pair key and
    // aggregates in ONE phase. The default two-phase plan is a pessimal
    // fit here: wedges barely compress map-side (50.2 M wedges → 43.2 M
    // distinct pairs at sf0.1 — almost every pair is unique), so the
    // partial phase built giant per-task hash tables only to shuffle
    // nearly as many rows anyway. Shuffling the raw (id_a, id_b) rows and
    // building the pair hash table once, post-shuffle, does strictly less
    // work whenever the wedge→pair compression ratio is near 1 (the
    // regime a minCommon floor puts every sparse graph in).
    val wedges = adj.as("l")
      .join(adj.as("r"),
        col("l.center") === col("r.center") && col("l.leaf") < col("r.leaf"))
    // The wedge stream is the largest intermediate in the whole suite
    // (50.2 M rows at sf0.1) and every row crosses the pair exchange, so
    // its WIDTH is the shuffle bill. When both ids fit in 32 bits —
    // checked against the node-cardinality degree table, a one-stage
    // statistics probe the optimizer cannot make for us — the ordered
    // pair (id_a < id_b, both non-negative) packs losslessly into ONE
    // long (id_a << 32 | id_b): half the shuffle-key bytes, and the pair
    // hash aggregation probes on a single word instead of a two-column
    // struct. The pair unpacks only AFTER the minCommon floor has cut
    // 43.2 M pairs to a few thousand rows. Ids outside the packable
    // range (negative, or ≥ 2^31) take the two-column plan unchanged.
    val bounds = deg.agg(min(col("n")), max(col("n"))).head()
    val packable = !bounds.isNullAt(0) && bounds.getLong(0) >= 0L &&
      bounds.getLong(1) < (1L << 31)
    val pairCounts =
      if (packable)
        wedges
          .select(shiftleft(col("l.leaf"), 32).bitwiseOR(col("r.leaf"))
            .as("__pk"))
          .repartition(col("__pk"))
          .groupBy(col("__pk"))
          .agg(count(lit(1)).as("cn"))
          .where(col("cn") >= minCommon)
          .select(shiftright(col("__pk"), 32).as("id_a"),
            col("__pk").bitwiseAND(lit((1L << 32) - 1)).as("id_b"),
            col("cn"))
      else
        wedges
          .select(col("l.leaf").as("id_a"), col("r.leaf").as("id_b"))
          .repartition(col("id_a"), col("id_b"))
          .groupBy(col("id_a"), col("id_b"))
          .agg(count(lit(1)).as("cn"))
          .where(col("cn") >= minCommon)
    // distance exactly 2: drop pairs that are already edges
    val cn = pairCounts
      .join(e.select(col("u").as("id_a"), col("v").as("id_b")),
        Seq("id_a", "id_b"), "left_anti")

    cn.join(deg.select(col("n").as("id_a"), col("d").as("deg_a")), "id_a")
      .join(deg.select(col("n").as("id_b"), col("d").as("deg_b")), "id_b")
      .select(col("id_a"), col("id_b"), col("cn"), col("deg_a"), col("deg_b"),
        CoreOps.rnd(col("cn").cast("double") /
          (col("deg_a") + col("deg_b") - col("cn")).cast("double"))
          .as("score"))
  }

  /** Fixed-iteration PageRank over an undirected graph — the iterative
    * authority score a curation pipeline uses to weight sources/domains.
    * Deliberately NOT the run-to-convergence formulation: a fixed
    * iteration count is the production contract (predictable cost, and
    * rank differences stabilize for ranking purposes within a few
    * rounds).
    *
    * DETERMINISM is the design center: ranks are micro-unit LONGS
    * (1.0 == 1 000 000) and every per-edge contribution is the composed
    * integer floor-division `(rank * dampingMicro) div 10^6 div degree` —
    * floor-division composition is exact for non-negative integers, so
    * the per-node sum is an associative long sum any engine reproduces
    * bit-for-bit in any partitioning (the same micro-unit discipline as
    * BM25 and the trigram LM). Teleport mass `(10^6 − dampingMicro)` is
    * added per node per round.
    *
    * Plan shape per iteration: one adjacency⋈ranks equi-join on the
    * contributing node plus the degree attach, then a hash aggregation on
    * the receiving node — edge-scale work, node-scale state. Ranks are
    * localCheckpointed every round: iterative DataFrame plans otherwise
    * nest the full join tree once per iteration (the lineage blow-up that
    * kills iteration 20 at 100 TB), and the checkpoint holds only the
    * node-cardinality rank table.
    *
    * @return `(node, degree, rank_micro)`, exact longs.
    */
  def pageRanksOf(e: DataFrame, deg: DataFrame, iterations: Int = 3,
                  dampingMicro: Long = 850000L): DataFrame = {
    require(iterations >= 1, s"iterations=$iterations must be positive")
    require(dampingMicro >= 0 && dampingMicro <= 1000000L,
      s"dampingMicro=$dampingMicro outside [0, 1e6]")
    val adj = e.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(e.select(col("v").as("src"), col("u").as("dst")))
    val srcDeg = deg.select(col("n").as("src"), col("d"))
    var ranks = deg.select(col("n"), lit(1000000L).as("rank"))
    // `ownCheckpoint` guards freeCheckpoint: round 0's frame derives from
    // the caller's (possibly memo-checkpointed) degree table — walking
    // ITS plan would unpersist the shared memo, not our round state.
    var ownCheckpoint = false
    for (_ <- 1 to iterations) {
      val next = adj
        .join(ranks.withColumnRenamed("n", "src"), "src")
        .join(srcDeg, "src")
        .withColumn("__contrib",
          expr(s"((rank * ${dampingMicro}L) div 1000000L) div d"))
        .groupBy(col("dst").as("n"))
        .agg((lit(1000000L - dampingMicro) + sum(col("__contrib")))
          .as("rank"))
        .localCheckpoint(true)
      if (ownCheckpoint) freeCheckpoint(ranks)
      ranks = next
      ownCheckpoint = true
    }
    ranks.join(deg, "n")
      .select(col("n").as("node"), col("d").as("degree"),
        col("rank").as("rank_micro"))
  }

  /** [[pageRanksOf]] from a raw edge list. */
  def pageRanks(edges: DataFrame, aCol: String, bCol: String,
                iterations: Int = 3): DataFrame = {
    val e = canonicalEdges(edges, aCol, bCol)
    pageRanksOf(e, nodeDegrees(e), iterations)
  }

  /** Free a superseded round-checkpoint's storage blocks NOW
    * ([[Dedup.unpersistCheckpoint]] — same rationale as the CC label
    * generations: left to the driver-GC + ContextCleaner round-trip,
    * each execution leaves the whole round-chain resident, ~8 rounds ×
    * 3 bench runs ≈ GBs, and the NEXT query pays the memory squeeze).
    * Only ever called on checkpoints THIS operator created, after the
    * following round has been eagerly materialized.
    */
  private def freeCheckpoint(df: DataFrame): Unit =
    Dedup.unpersistCheckpoint(df)

  /** The (b, c) closing-edge side of a wedge-closure join over a
    * CHECKPOINTED oriented edge list — broadcast when the edge list is
    * small enough to ship, so the O(m^1.5) wedge stream stays map-side
    * instead of crossing a shuffle that dwarfs every other byte in the
    * plan. Past the budget the planner's shuffled join returns — the
    * 100 TB graph path.
    *
    * The decision is a BYTE budget, not a row count: the cached size of
    * the checkpointed RDD (a driver-local block-manager read — building
    * this frame launches NO job) must fit `thresholdMultiple` ×
    * `spark.sql.autoBroadcastJoinThreshold`. A hashed relation's
    * in-memory footprint runs a few × its cached deserialized bytes
    * (UnsafeHashedRelation page + pointer overhead), so the multiple is
    * deliberately small — with the default 10 MB threshold the budget is
    * 80 MB of cached edge blocks (~1.5 M edges), far below the raw
    * 20 M-row cap this replaces, and it scales with the session's own
    * broadcast sizing instead of ignoring it. A disabled auto-broadcast
    * threshold (≤ 0) disables this probe too, and so does an unknown
    * size: zero cached bytes means no storage entry matched (blocks
    * unpersisted or evicted, or no checkpoint under the frame at all),
    * which says nothing about how big the edge list is.
    */
  private[ops] def closingProbe(oriented: DataFrame,
                                thresholdMultiple: Long = 8L): DataFrame = {
    val spark = oriented.sparkSession
    val probe = oriented.select(col("src").as("b"), col("dst").as("c"))
    val budget = thresholdMultiple * org.apache.spark.network.util.JavaUtils
      .byteStringAsBytes(spark.conf
        .get("spark.sql.autoBroadcastJoinThreshold", "10485760"))
    // the checkpointed RDD's cached bytes, read off the block manager —
    // no count() job at DataFrame-construction time (plan building must
    // stay side-effect-free; this runs once per edgeSupports call and
    // once per k-truss bulk wave)
    val rddIds = oriented.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }.toSet
    val bytes = spark.sparkContext.getRDDStorageInfo
      .filter(i => rddIds.contains(i.id))
      .map(i => i.memSize + i.diskSize).sum
    if (budget > 0 && bytes > 0 && bytes <= budget) broadcast(probe)
    else probe
  }

  /** Run `f` with adaptive execution OFF (set/restore — the
    * runStreamToTable bracket discipline). For a PROVABLY wave-bounded
    * plan whose joins are all broadcast-hinted, AQE has no decision
    * left to make, but it still materializes every broadcast as its own
    * query stage with a driver event-queue round-trip per stage —
    * measured as the dominant fixed cost of a tiny k-truss tail wave
    * (~0.5 s per action on an 11-edge frontier). Non-adaptive planning
    * runs the same plan as ONE job with the broadcasts built on
    * futures. Heavy, genuinely adaptive plans (the bulk-wave
    * enumeration) stay outside the bracket.
    */
  private def withAqeOff[T](spark: org.apache.spark.sql.SparkSession)
                           (f: => T): T = {
    val key = "spark.sql.adaptive.enabled"
    val before = spark.conf.get(key, "true")
    spark.conf.set(key, "false")
    try f finally spark.conf.set(key, before)
  }

  /** A LocalRelation-backed frame over driver-held rows. The LOCAL
    * representation is what makes a tiny peel wave cheap — a
    * LocalRelation re-consumes, filters, and BROADCASTS with zero further
    * Spark jobs (a BroadcastExchange over a LocalTableScan collects
    * driver-side), so the per-wave fixed cost drops from ~a dozen
    * scheduled jobs (checkpoints + counts + broadcast materializations)
    * to the genuinely distributed passes. Rows arrive by count + collect,
    * never a `limit()`, whose escalating partition sweep (1, 4, 16, … —
    * each round a separate job) measurably COSTS more jobs than it saves
    * on multi-partition frames. */
  private def localDf(spark: org.apache.spark.sql.SparkSession,
                      rows: Array[org.apache.spark.sql.Row],
                      schema: org.apache.spark.sql.types.StructType)
    : DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** k-core decomposition (fixed k): iteratively peel nodes of degree
    * < k until the graph stabilizes — what survives is the maximal
    * subgraph where EVERY node keeps ≥ k within-subgraph neighbors, the
    * standard cohesive-community / spam-farm / "dense cluster worth
    * curating" extractor (Seidman 1983). Degree alone overcounts
    * cohesion (a hub touching k leaves has degree k but zero cohesion);
    * the core demands mutual support and the peel provably finds it.
    *
    * The peel is a MONOTONE fixpoint: each round only removes, so
    * convergence is guaranteed and any extra rounds no-op. The engine
    * runs to the fixpoint and FAILS LOUDLY if `maxPeels` rounds did not
    * reach it (an oracle unrolling exactly `maxPeels` peels is then
    * textually identical to the fixpoint — the property that makes an
    * iterative algorithm hash-gradeable at all).
    *
    * Plan shape per round (DELTA peel): the maintained degree table
    * yields the removed wave R; surviving neighbors decrement by their
    * edge count into R (two semi+anti probes of the edge list — R
    * BROADCASTS once the bulk first wave passes, making them map-side)
    * and the edge list drops R's edges. No per-round full degree
    * re-aggregation: after round one, the only shuffle is the
    * touched-node-scale loss count. State is localCheckpointed and the
    * superseded generation freed each round (the same iterative-plan
    * discipline as [[pageRanksOf]]). The per-round driver count is one
    * scalar (the wave size — which doubles as the broadcast decision),
    * not data.
    *
    * @return (node, core_degree) for k-core members — within-core degree,
    *         ≥ k by construction
    */
  def kCoreOf(e: DataFrame, k: Long, maxPeels: Int = 10,
              broadcastRem: Long = 5000000L): DataFrame = {
    require(k >= 1, s"k=$k must be positive")
    require(maxPeels >= 1, s"maxPeels=$maxPeels must be positive")
    // DELTA peel: maintain the degree table and, per round, recompute
    // only what the removed wave touched — the classic distributed
    // k-core refinement. Each round removes R = {n : d(n) < k}, then
    // DECREMENTS surviving neighbors by their edges into R instead of
    // re-aggregating the whole edge list. After the bulk first wave R
    // is small, so (cnt is already on hand for the loop test) it ships
    // as a BROADCAST and the round's edge-side work is four map-side
    // hash probes — no per-round edge-scale shuffle at all, vs one
    // full degree aggregation per round in the recompute spelling.
    // Same fixpoint, same wave structure, same maxPeels contract: the
    // oracle's 10-round full-recompute unroll grades it unchanged.
    var cur = e.select(col("u"), col("v")).localCheckpoint(true)
    var deg = nodeDegrees(cur).localCheckpoint(true)
    var converged = false
    var rounds = 0
    while (!converged && rounds < maxPeels) {
      // NOTE (r15): the k-truss tail-wave driver-local representation
      // was tried here too and measurably LOST (~0.6 s at sf0.1): a
      // k-core wave is node-scale (not frontier-bounded like a truss
      // tail wave), and each round's two state actions rebuild the
      // wave's broadcast from the LocalRelation on the driver,
      // single-threaded — more expensive than the one distributed
      // checkpoint+broadcast it replaced. Kept distributed.
      val remPlain = deg.where(col("d") < k).select(col("n"))
        .localCheckpoint(true)
      val cnt = remPlain.count()
      if (cnt == 0L) {
        converged = true
        freeCheckpoint(remPlain)
      } else {
        val rem =
          if (cnt <= broadcastRem) broadcast(remPlain) else remPlain
        val remU = rem.withColumnRenamed("n", "u")
        val remV = rem.withColumnRenamed("n", "v")
        // a survivor's loss = its edges whose OTHER end is removed;
        // edges with both ends removed decrement nobody
        val lossU = cur.join(remV, Seq("v"), "left_semi")
          .join(remU, Seq("u"), "left_anti")
          .groupBy(col("u").as("n")).agg(count(lit(1)).as("__lu"))
        val lossV = cur.join(remU, Seq("u"), "left_semi")
          .join(remV, Seq("v"), "left_anti")
          .groupBy(col("v").as("n")).agg(count(lit(1)).as("__lv"))
        val nextDeg = deg.join(rem, Seq("n"), "left_anti")
          .join(lossU, Seq("n"), "left")
          .join(lossV, Seq("n"), "left")
          .select(col("n"),
            (col("d") - coalesce(col("__lu"), lit(0L))
              - coalesce(col("__lv"), lit(0L))).as("d"))
          // a survivor decremented to degree 0 leaves the table NOW —
          // exactly as the recompute spelling drops it implicitly (a
          // node with no remaining edges has no nodeDegrees row). Kept,
          // it would cost an extra removal wave whenever OTHER
          // components still hold edges (so the empty-edge-list escape
          // below can't fire), and a graph that converged in exactly
          // maxPeels rounds under recompute would throw the
          // non-convergence require (regression-tested). Sound: d is
          // the node's exact degree in nextCur, so d = 0 ⟹ no edges ⟹
          // it can never decrement anyone later, and k ≥ 1 ⟹ it is
          // never core output.
          .where(col("d") > 0)
          .localCheckpoint(true)
        val nextCur = cur.join(remU, Seq("u"), "left_anti")
          .join(remV, Seq("v"), "left_anti")
          .localCheckpoint(true)
        freeCheckpoint(deg); freeCheckpoint(cur)
        freeCheckpoint(remPlain)
        deg = nextDeg; cur = nextCur
        // an emptied edge list IS the fixpoint (the old recompute
        // spelling's `m == 0` escape): every survivor's edges went to
        // removed nodes, so with the d > 0 flush above nextDeg is empty
        // and the k >= 1 core is provably empty — the escape spares the
        // final confirming empty-wave round (cnt == 0 next iteration),
        // keeping the wave count equal to the recompute spelling's
        if (nextCur.count() == 0L) {
          converged = true
          deg = nextDeg.where(col("d") >= k)
        }
      }
      rounds += 1
    }
    require(converged,
      s"k-core peel did not converge within $maxPeels rounds — raise" +
        " maxPeels (the oracle unroll must cover the fixpoint)")
    deg.select(col("n").as("node"), col("d").as("core_degree"))
  }

  /** Exact per-EDGE triangle support `(u, v, sup)` of a canonical edge
    * list — the [[triangleCountsOf]] degree-oriented enumeration (each
    * triangle emitted exactly once, O(m^1.5) whatever the hubs do) with
    * the per-node explode replaced by the triangle's three canonical
    * edges. Edges in no triangle have no row (callers coalesce 0).
    * Returned EAGERLY checkpointed: the enumeration's oriented working
    * frame is freed before returning, so each call leaves no blocks
    * behind beyond its own result (callers free that when superseded).
    */
  def edgeSupports(e: DataFrame): DataFrame = {
    val (triS, oriented) = triangleStream(e)
    val sup = supportsFromTriangles(triS).localCheckpoint(true)
    freeCheckpoint(oriented)
    sup
  }

  /** The LAZY (a, b, c) triangle stream of a canonical edge list (the
    * degree-oriented enumeration, each triangle once) plus the oriented
    * checkpoint backing it — the caller must free the checkpoint after
    * consuming the stream. Factored out so [[edgeSupports]] can keep
    * streaming triangles straight into its aggregate while the k-truss
    * peel can RETAIN the materialized list instead.
    */
  private def triangleStream(e: DataFrame): (DataFrame, DataFrame) = {
    val deg = nodeDegrees(e)
    val withDeg = e
      .join(deg.select(col("n").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("d").as("dv")), "v")
    val headFirst = struct(col("du"), col("u")) < struct(col("dv"), col("v"))
    // same clamp as [[triangleCountsOf]]: the wedge stage reads the
    // checkpoint's own partitioning, so pin it to session width here
    val oriented = ScaleOps.checkpointFanOut(withDeg.select(
      when(headFirst, col("u")).otherwise(col("v")).as("src"),
      when(headFirst, col("v")).otherwise(col("u")).as("dst"),
      when(headFirst, col("dv")).otherwise(col("du")).as("dd")), col("src"))
    val tri = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.src") === col("e2.src") &&
          struct(col("e1.dd"), col("e1.dst")) <
            struct(col("e2.dd"), col("e2.dst")))
      .select(col("e1.src").as("a"), col("e1.dst").as("b"),
        col("e2.dst").as("c"))
      // same broadcast closing probe as [[triangleCountsOf]]: the wedge
      // stream never crosses an exchange when the edge list fits
      .join(closingProbe(oriented), Seq("b", "c"))
      .select(col("a"), col("b"), col("c"))
    (tri, oriented)
  }

  /** Per-edge support counts off a triangle list/stream: explode each
    * triangle's three canonical edges, count per edge. LAZY — callers
    * materialize. Exactness note the truss peel rides on: a triangle of
    * an edge-induced subgraph is exactly a triangle of the parent graph
    * whose three edges all survive, so supports recomputed from a
    * FILTERED list equal supports re-enumerated on the subgraph.
    */
  private def supportsFromTriangles(tri: DataFrame): DataFrame =
    tri.select(explode(array(
        struct(least(col("a"), col("b")).as("u"),
          greatest(col("a"), col("b")).as("v")),
        struct(least(col("a"), col("c")).as("u"),
          greatest(col("a"), col("c")).as("v")),
        struct(least(col("b"), col("c")).as("u"),
          greatest(col("b"), col("c")).as("v")))).as("__e"))
      .select(col("__e.u").as("u"), col("__e.v").as("v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("sup"))

  /** [[triangleStream]] materialized — one (a, b, c) row per triangle,
    * eagerly checkpointed; the caller owns freeing it
    * ([[graft.ops.Dedup.unpersistCheckpoint]]). Public because the
    * triangle list is a SHARED per-snapshot artifact: per-node counts
    * ([[triangleCountsOfList]]) and the k-truss peel ([[trussOf]]'s
    * `sharedTriangles`) both read it, so a caller running several
    * triangle-family operators over one graph enumerates ONCE — the
    * production posture (a maintained triangle/support index) rather
    * than a per-query O(m^1.5) re-enumeration.
    */
  def triangleList(e: DataFrame): DataFrame = {
    val (triS, oriented) = triangleStream(e)
    val tri = triS.localCheckpoint(true)
    freeCheckpoint(oriented)
    tri
  }

  /** Edge count up to which a [[triangleList]] is a safe
    * materialization. Past it triangles can grow far superlinearly in
    * edges, and the streaming enumeration is the only path — the 100 TB
    * one. Edge-count-derived, never core-count. */
  val TriRetainEdges: Long = 4000000L

  /** [[triangleList]] of `e` when it has at most `cap` edges, else None —
    * the guard every retained triangle list sits behind. */
  private[graft] def triangleListUpTo(e: DataFrame,
      cap: Long = TriRetainEdges): Option[DataFrame] =
    if (e.count() <= cap) Some(triangleList(e)) else None

  /** Per-node triangle counts off a retained list when there is one
    * ([[triangleCountsOfList]]), else by the streaming enumeration
    * ([[triangleCountsOf]]) — identical tallies either way. */
  private[graft] def triangleCountsVia(e: DataFrame, deg: DataFrame,
      tri: Option[DataFrame]): DataFrame =
    tri.fold(triangleCountsOf(e, deg))(triangleCountsOfList(_, deg))

  /** [[triangleCountsOf]] read off a pre-built [[triangleList]]: the
    * per-node explode + tally + degree attach, no enumeration. Output
    * identical to [[triangleCountsOf]] on the same edge list (both
    * tally the same once-per-triangle stream).
    */
  def triangleCountsOfList(tri: DataFrame, deg: DataFrame): DataFrame =
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
      .join(deg.select(col("n").as("node"), col("d").as("degree")), "node")
      .select(col("node"), col("degree"), col("n_triangles"))

  /** Triangle supports for a SPECIFIC pair set (the delta-truss probe):
    * sup(u, v) = |N(u) ∩ N(v)| over the given two-directional adjacency
    * `(s, t)` — one node-keyed fan-out from the pair list plus one
    * pair-keyed semi probe, never a corpus-wide wedge enumeration. Pairs
    * with no common neighbor are absent (callers coalesce 0).
    */
  private def supportsFor(pairs: DataFrame, adj: DataFrame,
                          broadcastFan: Boolean): DataFrame = {
    // pairs is wave-bounded → broadcast build; adj streams map-side
    val fan = broadcast(pairs)
      .join(adj.select(col("s").as("u"), col("t").as("z")), Seq("u"))
    // membership of (v, z): adj rows are distinct, so the inner join is
    // the semi join — and with the fan broadcast (small waves) the
    // check is a second map-side pass over the adjacency instead of an
    // adjacency-scale shuffle
    val fanB = if (broadcastFan) broadcast(fan) else fan
    fanB.join(adj.select(col("s").as("v"), col("t").as("z")),
        Seq("v", "z"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("sup"))
  }

  /** k-truss decomposition (fixed k): iteratively remove every edge in
    * fewer than k−2 triangles until the graph stabilizes — the maximal
    * subgraph where EVERY edge has ≥ k−2 triangle supporters (Cohen
    * 2008). A k-core can still be a star-glued sponge (nodes vouch for
    * each other through disjoint neighborhoods); the truss demands every
    * EDGE sit in overlapping neighborhoods, the stronger community
    * signal.
    *
    * Like [[kCoreOf]] the peel is a MONOTONE fixpoint (rounds only
    * remove, removal order cannot change the maximal result), so the
    * engine runs to the fixpoint, FAILS LOUDLY past `maxPeels` REMOVAL
    * waves (the empty frontier that proves convergence is read off the
    * last wave's own recomputed supports, not a separate confirming
    * round), and an oracle unrolling ≥ that many full-recompute rounds
    * is textually the fixpoint.
    *
    * Plan shape (FRONTIER peel): the full O(m^1.5) [[edgeSupports]]
    * enumeration runs once up front (and once more per BULK wave — a
    * wave removing > 10 % of the edges, whose triangle neighborhood
    * approaches the whole graph anyway); every other wave recomputes
    * supports only for edges that LOST a triangle — a support changes
    * only when a removed edge closed one of its triangles, so the next
    * frontier is provably a subset of this wave's affected set, and the
    * per-wave state writes are FRONTIER-scale (removed list + support
    * overrides over a fixed checkpointed base), never edge-scale. With
    * the frontier and its fan-outs broadcast, a small wave's two
    * membership checks are map-side streams over the live adjacency —
    * zero edge-scale shuffles, zero edge-scale checkpoints per tail
    * wave.
    *
    * @return (u, v, support) for every surviving edge — its exact
    *         triangle count within the truss, ≥ k−2 by construction
    */
  def trussOf(e: DataFrame, k: Long, maxPeels: Int = 12,
              broadcastRem: Long = 5000000L,
              driverWaveCap: Long = 65536L,
              triRetainEdges: Long = TriRetainEdges,
              sharedTriangles: Option[DataFrame] = None): DataFrame = {
    require(k >= 3, s"k=$k must be at least 3 (the smallest truss)")
    require(maxPeels >= 1, s"maxPeels=$maxPeels must be positive")
    val spark = e.sparkSession
    import org.apache.spark.sql.Row
    val e0 = e.select(col("u"), col("v")).localCheckpoint(true)
    var curCnt = e0.count()
    // TRIANGLE RETENTION (the destroyed-triangle rework): below
    // `triRetainEdges` edges, materialize the init enumeration's
    // triangle list ONCE and recount each bulk wave's supports by
    // FILTERING it (a triangle survives iff its three edges survive —
    // exact on an edge-induced subgraph, see supportsFromTriangles)
    // instead of re-running the O(m^1.5) wedge enumeration per bulk
    // wave. The knob is edge-count-derived (never core-count): past it
    // the triangle list is not a safe materialization (triangles can
    // grow far superlinearly in edges) and the streaming re-enumeration
    // below is the 100 TB path, unchanged.
    //
    // `sharedTriangles`: a caller-owned [[triangleList]] of EXACTLY
    // this edge list (the shared per-snapshot index) — used as the
    // retention list without re-enumerating, never freed here (the
    // first bulk-wave filter copies into an owned generation).
    var triOwned = sharedTriangles.isEmpty
    var tri: DataFrame = sharedTriangles.getOrElse(
      if (curCnt <= triRetainEdges) triangleList(e0) else null)
    val sup0 =
      if (tri != null) supportsFromTriangles(tri) else edgeSupports(e0)
    // FRONTIER peel state: `base` (full (u, v, sup), checkpointed,
    // REWRITTEN only by bulk waves), plus two WAVE-SCALE accumulators —
    // edges removed since base, and the latest support override for
    // edges whose support changed since base. The invariant that makes
    // this work: entering a wave, every live edge outside the current
    // removal frontier has sup ≥ k−2, and a support only changes when a
    // removed edge destroys one of its triangles — so the NEXT frontier
    // is always a subset of this wave's affected set, and a tail wave
    // touches nothing edge-scale beyond two map-side adjacency streams.
    // base stays at its natural (narrow) width: every tail wave runs
    // several small map-side passes over it, where width is task-launch
    // overhead — the heavy enumeration re-widens inside edgeSupports.
    //
    // The accumulators and the frontier live DRIVER-LOCAL whenever they
    // fit `driverWaveCap` ([[localDf]] — at or below the row
    // count the wave broadcast already collects to the driver): a tail
    // wave's fixed cost was ~a dozen scheduled jobs (five eager
    // checkpoints, a count, and several broadcast materializations of
    // wave-scale frames — measured 0.9–1.9 s per ≤1,205-edge wave at
    // sf0.1, pure overhead), and with local state the same wave runs
    // exactly its two distributed adjacency passes. Past the cap every
    // frame falls back to the checkpointed spelling below — identical
    // algebra, the 100 TB path.
    var base = e0.join(sup0, Seq("u", "v"), "left")
      .select(col("u"), col("v"),
        coalesce(col("sup"), lit(0L)).as("sup"))
      .localCheckpoint(true)
    // the retained-triangle sup0 is LAZY over tri — freeing it would
    // walk the plan to tri's own checkpoint and release the list we
    // just decided to keep
    if (tri == null) freeCheckpoint(sup0)
    freeCheckpoint(e0)
    val uvSchema = base.select(col("u"), col("v")).schema
    val supSchema = base.schema
    def emptyLocal(schema: org.apache.spark.sql.types.StructType) =
      localDf(spark, Array.empty[Row], schema)
    def keyOf(r: Row) = (r.getLong(0), r.getLong(1))
    // rows mirror: Some(rows) ⇔ the frame is a LocalRelation over them
    var removedRows: Option[Array[Row]] = Some(Array.empty[Row])
    var removedAcc: DataFrame = emptyLocal(uvSchema)
    var ovRows: Option[Array[Row]] = Some(Array.empty[Row])
    var ovAcc: DataFrame = emptyLocal(supSchema)
    var remRows: Option[Array[Row]] = None
    var rem: DataFrame = null
    var cnt = 0L
    // Materialize a frontier: LOCAL when it fits the driver cap (count
    // + collect — two cheap jobs on a filter-over-checkpoint plan),
    // else the checkpointed spelling, reusing the count already taken.
    // The cap is deliberately MUCH smaller than the broadcast cap: a
    // LocalRelation's broadcast is (re)built on the driver,
    // single-threaded, once per consuming action — a win for the tiny
    // tail waves this exists for, a measured LOSS for an 87k-row bulk
    // frontier consumed by three actions (distributed broadcast builds
    // parallelize).
    def setRem(plan: DataFrame): Unit = {
      val c = plan.count()
      if (c <= driverWaveCap) {
        val rs = plan.collect()
        remRows = Some(rs); rem = localDf(spark, rs, uvSchema)
        cnt = rs.length.toLong
      } else {
        remRows = None; rem = plan.localCheckpoint(true)
        cnt = c
      }
    }
    def adjOf(g: DataFrame) =
      g.select(col("u").as("s"), col("v").as("t"))
        .unionAll(g.select(col("v").as("s"), col("u").as("t")))
    // the first frontier comes from the one full scan of base
    setRem(base.where(col("sup") < k - 2).select(col("u"), col("v")))
    var rounds = 0
    while (cnt > 0 && rounds < maxPeels) {
      val waveCnt = cnt
      val remB = if (remRows.isDefined || cnt <= broadcastRem)
        broadcast(rem) else rem
      // Bulk crossover at 2 % (was 10 %): measured at sf0.1, a wave
      // removing 8.9 % of the live edges cost 28-63 s down the frontier
      // path (its affected set's broadcast fan is millions of rows) vs
      // ~7 s for the full recompute the threshold was guarding — the
      // frontier path only wins when the wave's triangle neighborhood is
      // genuinely small relative to the graph.
      if (cnt * 50L > curCnt) {
        // BULK wave (typically the first): its triangle neighborhood
        // approaches the whole graph, so recompute supports outright
        // (same exact values, same wave structure — the oracle cannot
        // tell) and fold the accumulators into a fresh base.
        val nextCur = base
          .join(broadcast(removedAcc), Seq("u", "v"), "left_anti")
          .join(remB, Seq("u", "v"), "left_anti")
          .select(col("u"), col("v"))
        val s1 =
          if (tri != null) {
            // destroyed-triangle recount: drop every triangle touching
            // an edge removed since the list's snapshot (prior waves'
            // accumulator + this frontier — both wave-scale), recount
            // supports off the survivors. No re-enumeration.
            val rmAll = removedAcc.unionAll(rem.select(col("u"), col("v")))
            def live(t: DataFrame, x: String, y: String) =
              t.join(broadcast(rmAll),
                least(col(x), col(y)) === col("u") &&
                  greatest(col(x), col(y)) === col("v"), "left_anti")
            val t2 = live(live(live(tri, "a", "b"), "a", "c"), "b", "c")
              .localCheckpoint(true)
            if (triOwned) freeCheckpoint(tri)
            tri = t2; triOwned = true
            supportsFromTriangles(tri)
          } else edgeSupports(nextCur)
        val nb = nextCur.join(s1, Seq("u", "v"), "left")
          .select(col("u"), col("v"),
            coalesce(col("sup"), lit(0L)).as("sup"))
          .localCheckpoint(true)
        if (tri == null) freeCheckpoint(s1)
        freeCheckpoint(base)
        freeCheckpoint(removedAcc); freeCheckpoint(ovAcc)
        base = nb
        removedRows = Some(Array.empty[Row]); removedAcc = emptyLocal(uvSchema)
        ovRows = Some(Array.empty[Row]); ovAcc = emptyLocal(supSchema)
        if (remRows.isEmpty) freeCheckpoint(rem)
        setRem(base.where(col("sup") < k - 2).select(col("u"), col("v")))
      } else {
        // SMALL wave: the removal frontier and everything derived from
        // it broadcast, so both membership checks are map-side streams
        // over the (lazily derived) live adjacency — no edge-scale
        // shuffle, no edge-scale checkpoint. A frontier edge has fewer
        // than k−2 common neighbors by definition, so wedges and the
        // affected set are frontier-bounded.
        val adjBefore = adjOf(base
          .join(broadcast(removedAcc), Seq("u", "v"), "left_anti"))
        val wedges = broadcast(remB
          .join(adjBefore.select(col("s").as("u"), col("t").as("z")),
            Seq("u")))
          .join(adjBefore.select(col("s").as("v"), col("t").as("z")),
            Seq("v", "z"))
        val affectedPlan = wedges.select(explode(array(
            struct(least(col("u"), col("z")).as("u"),
              greatest(col("u"), col("z")).as("v")),
            struct(least(col("v"), col("z")).as("u"),
              greatest(col("v"), col("z")).as("v")))).as("__e"))
          .select(col("__e.u").as("u"), col("__e.v").as("v")).distinct()
          .join(remB, Seq("u", "v"), "left_anti")
        // The affected set is PROVABLY wave-bounded: a frontier edge's
        // wedge count through the live adjacency equals its recorded
        // support (< k−2 by selection, computed against exactly this
        // adjacency state), so |affected| ≤ 2·(k−2)·|frontier| — when
        // that bound fits the driver cap, ONE plain collect (no count,
        // no limit escalation) fetches it.
        val affLocal =
          if (remRows.isDefined && removedRows.isDefined &&
              ovRows.isDefined && 2L * (k - 2) * cnt <= driverWaveCap)
            Some(withAqeOff(spark)(affectedPlan.collect()))
          else None
        affLocal match {
          case Some(aRows) =>
            // DRIVER-LOCAL tail wave: the two jobs below (affected
            // collect above + the support aggregation collect) are the
            // wave's only distributed work; the set algebra over rem /
            // removed / override state — identical to the DataFrame
            // spelling in the fallback branch — runs on driver arrays.
            val affected = localDf(spark, aRows, uvSchema)
            val nextRemovedRows = removedRows.get ++ remRows.get
            val nextRemoved = localDf(spark, nextRemovedRows, uvSchema)
            val adjAfter = adjOf(base
              .join(broadcast(nextRemoved), Seq("u", "v"), "left_anti"))
            // left-join + coalesce(0) spelled driver-side: pairs absent
            // from the aggregation have zero surviving triangles
            val got = withAqeOff(spark)(
              supportsFor(affected, adjAfter, broadcastFan = true)
                .collect()).map(r => keyOf(r) -> r.getLong(2)).toMap
            val supRows: Array[Row] = aRows.map { r =>
              Row(r.getLong(0), r.getLong(1),
                got.getOrElse(keyOf(r), 0L))
            }
            val remKeys = remRows.get.map(keyOf).toSet
            val affKeys = aRows.map(keyOf).toSet
            val nextOvRows = ovRows.get.filterNot(r =>
              remKeys(keyOf(r)) || affKeys(keyOf(r))) ++ supRows
            removedRows = Some(nextRemovedRows); removedAcc = nextRemoved
            ovRows = Some(nextOvRows)
            ovAcc = localDf(spark, nextOvRows, supSchema)
            // the next frontier: only just-recomputed supports can have
            // dropped below the threshold
            val nextRem = supRows.filter(_.getLong(2) < k - 2)
              .map(r => Row(r.getLong(0), r.getLong(1)))
            remRows = Some(nextRem); rem = localDf(spark, nextRem, uvSchema)
            cnt = nextRem.length.toLong
          case None =>
            // past the driver cap (or mixed state after a prior
            // fallback): the checkpointed spelling — same algebra
            val affected = affectedPlan.localCheckpoint(true)
            val nextRemoved = removedAcc.unionAll(rem.select(col("u"),
              col("v"))).localCheckpoint(true)
            val adjAfter = adjOf(base
              .join(broadcast(nextRemoved), Seq("u", "v"), "left_anti"))
            val supAff = affected
              .join(supportsFor(affected, adjAfter, broadcastFan = true),
                Seq("u", "v"), "left")
              .select(col("u"), col("v"),
                coalesce(col("sup"), lit(0L)).as("sup"))
              .localCheckpoint(true)
            val nextOv = ovAcc
              .join(remB, Seq("u", "v"), "left_anti")
              .join(broadcast(affected), Seq("u", "v"), "left_anti")
              .unionAll(supAff)
              .localCheckpoint(true)
            freeCheckpoint(removedAcc); freeCheckpoint(ovAcc)
            freeCheckpoint(affected)
            if (remRows.isEmpty) freeCheckpoint(rem)
            removedRows = None; removedAcc = nextRemoved
            ovRows = None; ovAcc = nextOv
            setRem(supAff.where(col("sup") < k - 2)
              .select(col("u"), col("v")))
            freeCheckpoint(supAff)
        }
      }
      curCnt = curCnt - waveCnt
      rounds += 1
    }
    require(cnt == 0,
      s"k-truss peel did not converge within $maxPeels rounds — raise" +
        " maxPeels (the oracle unroll must cover the fixpoint)")
    // the result reads only base + the accumulators; the retained
    // triangle list has served its last recount (a caller-shared list
    // is the caller's to free)
    if (tri != null && triOwned) freeCheckpoint(tri)
    base.join(broadcast(removedAcc), Seq("u", "v"), "left_anti")
      .join(ovAcc.withColumnRenamed("sup", "__ov"), Seq("u", "v"), "left")
      .select(col("u"), col("v"),
        coalesce(col("__ov"), col("sup")).as("support"))
  }

  /** Bounded-depth BFS from the graph's max-degree hub (ties to the
    * smallest id): `(node, hop)` for every node within `maxHops` of the
    * source — the influence-radius / contamination-spread read
    * ("everything 2 hops from a known-bad node"), and the cheapest
    * structural health check a graph snapshot gets (how much of the
    * graph does the hub reach, how fast).
    *
    * Bounded depth IS the semantics (not a truncated approximation):
    * production reachability queries are radius-bounded exactly like
    * this, which also makes the op hash-gradeable by an oracle that
    * unrolls `maxHops` frontier expansions as chained CTEs.
    *
    * Plan shape per hop: frontier⋈adjacency equi-join on the source node
    * + a min-hop hash aggregate — frontier-scale work, visited-set
    * state, localCheckpointed per round. The deterministic source pick
    * reduces the degree table to ONE row (max d, min id) before anything
    * else runs.
    *
    * @return (node, hop), hop 0 = the source, ordered by caller
    */
  def bfsHopsOf(e: DataFrame, deg: DataFrame, maxHops: Int = 4): DataFrame = {
    require(maxHops >= 1, s"maxHops=$maxHops must be positive")
    val adj = e.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(e.select(col("v").as("src"), col("u").as("dst")))
    val source = deg.orderBy(col("d").desc, col("n")).limit(1)
    var dist = source.select(col("n"), lit(0L).as("hop"))
      .localCheckpoint(true)
    for (r <- 1 to maxHops) {
      val frontier = dist.where(col("hop") === (r - 1).toLong)
        .select(col("n").as("src"))
      val reached = adj.join(frontier, "src")
        .select(col("dst").as("n"), lit(r.toLong).as("hop"))
      val next = dist.unionAll(reached)
        .groupBy("n").agg(min(col("hop")).as("hop"))
        .localCheckpoint(true)
      freeCheckpoint(dist)
      dist = next
    }
    dist.select(col("n").as("node"), col("hop"))
  }

  /** Synchronous label-propagation communities (Raghavan, Albert &
    * Kumara 2007), determinized: every node starts as its own label;
    * each round every node adopts the label held by MOST of its
    * neighbors, ties broken toward the smallest label, all nodes
    * updating from the PREVIOUS generation simultaneously. Fixed
    * `iters` IS the semantics (the bounded-depth-BFS convention):
    * asynchronous/random-order LPA is irreproducible by design, and the
    * synchronous determinized variant can oscillate at a fixpoint — a
    * fixed round count makes the op exact, engine-portable, and
    * oracle-unrollable, while still delivering LPA's read (dense
    * communities lock onto one label within a few rounds; [[kCoreOf]]
    * finds the cohesive CORE, this PARTITIONS the graph).
    *
    * Plan shape per round: one edge⋈label equi-join, one (node, label)
    * count aggregate, and an argmax window whose rank<=1 filter pushes
    * into WindowGroupLimit below the node exchange — per-edge work,
    * node-scale state, each generation localCheckpointed and the
    * previous one freed ([[graft.ops.Dedup.clusterPairs]]'s block
    * discipline).
    *
    * @return (node, community) — community = the adopted label after
    *         `iters` rounds (labels are node ids)
    */
  def labelPropagationOf(e: DataFrame, iters: Int = 4): DataFrame = {
    require(iters >= 1, s"iters=$iters must be positive")
    val adj = e.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(e.select(col("v").as("src"), col("u").as("dst")))
      .localCheckpoint(true)
    var labels = adj.select(col("src").as("n")).distinct()
      .select(col("n"), col("n").as("lbl"))
      .localCheckpoint(true)
    val byVote = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(col("c").desc, col("lbl"))
    for (_ <- 1 to iters) {
      val counts = adj.join(labels, adj("dst") === labels("n"))
        .groupBy(col("src"), col("lbl"))
        .agg(count(lit(1)).as("c"))
      val next = counts
        .withColumn("__rk", row_number().over(byVote))
        .where(col("__rk") === 1)
        .select(col("src").as("n"), col("lbl"))
        .localCheckpoint(true)
      freeCheckpoint(labels)
      labels = next
    }
    labels.select(col("n").as("node"), col("lbl").as("community"))
  }

  /** Deterministic negative-edge sampling for graph-ML training data
    * (the link-prediction training recipe: positives are edges,
    * negatives are verified NON-edges): each node draws `perNode`
    * pseudo-random partners via a content hash, the partner resolves
    * through a rank table (so the draw is uniform over the node SET,
    * not the id space, which may be sparse), and an anti-join against
    * the undirected edge list removes accidental positives. Hash-seeded
    * like every sampler here ([[graft.ops.CorpusOps.splitBucket]]'s
    * md5 idiom) — stable under reshuffles, re-ingestion, and engines.
    *
    * Scale shape: node ranks come from
    * [[graft.ops.ScaleOps.globalRunningTotal]]'s two-pass distributed
    * prefix sum (never a single-partition row_number over the node
    * table); the partner resolve is a rank-keyed equi-join; the
    * verification is one anti-join against the edge list. Output is
    * perNode·|nodes| rows before verification — the training-set scale
    * the caller asked for, not a blow-up.
    *
    * @return (u, draw 1..perNode, v) — verified non-edges; draws that
    *         landed on self or on a real edge are absent (the standard
    *         with-rejection contract; re-draw by raising perNode)
    */
  def negativeEdges(e: DataFrame, perNode: Int = 2): DataFrame = {
    require(perNode >= 1, s"perNode=$perNode must be positive")
    val nodes = e.select(col("u").as("n"))
      .unionAll(e.select(col("v").as("n"))).distinct()
    val ranked = ScaleOps.globalRunningTotal(nodes, Seq(col("n")), lit(1L))
      .select(col("n"), col("cum").as("__r"))
    val cnt = ranked.agg(count(lit(1)).as("__c"))
    val draws = ranked.select(col("n").as("u"))
      .withColumn("draw", explode(sequence(lit(1L), lit(perNode.toLong))))
      .crossJoin(broadcast(cnt))
      .withColumn("__idx",
        conv(substring(md5(concat(col("u").cast("string"), lit("#"),
          col("draw").cast("string"))), 1, 8), 16, 10).cast("long")
          % col("__c") + 1L)
    val cand = draws
      .join(ranked.select(col("__r").as("__idx"), col("n").as("v")),
        Seq("__idx"))
      .where(col("u") =!= col("v"))
      .select(col("u"), col("draw"), col("v"))
    val undirected = e.select(col("u"), col("v"))
      .unionAll(e.select(col("v").as("u"), col("u").as("v")))
    cand.join(undirected, Seq("u", "v"), "left_anti")
      .select(col("u"), col("draw"), col("v"))
  }

  /** Deterministic random-walk corpus (DeepWalk, Perozzi et al. 2014;
    * the skip-gram training data graph embeddings are learned from):
    * every node starts `walksPerNode` walks; at step t a walk at `cur`
    * moves to the neighbor whose per-node rank equals
    * hash(start, walk, t, cur) mod degree(cur) — the md5 idiom every
    * sampler here uses, so the whole corpus is stable across engines,
    * reshuffles, and re-ingestion (a re-run trains on the SAME walks,
    * which is what makes embedding runs comparable).
    *
    * Scale shape: the ranked adjacency (neighbor rank is a
    * node-partitioned window, never global) is materialized ONCE and
    * re-read per step; each step is one (cur = src)-keyed join whose
    * rank filter selects exactly one neighbor per walk — walk-scale
    * state, edge-scale join work per step, `walkLen` bounded rounds
    * (the BFS convention: fixed depth IS the semantics).
    *
    * @return (start, walk 1..walksPerNode, step 0..walkLen, node) —
    *         step 0 is the start node; walks from isolated nodes don't
    *         occur (every node in an edge list has degree ≥ 1)
    */
  def randomWalks(e: DataFrame, walkLen: Int,
                  walksPerNode: Int = 1): DataFrame = {
    require(walkLen >= 1, s"walkLen=$walkLen must be positive")
    require(walksPerNode >= 1, s"walksPerNode=$walksPerNode must be positive")
    val adj = e.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(e.select(col("v").as("src"), col("u").as("dst")))
    val byDst = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(col("dst"))
    val ranked = adj
      .withColumn("__nr", row_number().over(byDst).cast("long"))
      .withColumn("__d", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("src"))))
      .localCheckpoint(true)
    var state = adj.select(col("src").as("start")).distinct()
      .withColumn("walk",
        explode(sequence(lit(1L), lit(walksPerNode.toLong))))
      .withColumn("cur", col("start"))
      .localCheckpoint(true)
    val outs = scala.collection.mutable.ArrayBuffer(
      state.select(col("start"), col("walk"), lit(0L).as("step"),
        col("cur").as("node")))
    for (t <- 1 to walkLen) {
      val pick = conv(substring(md5(concat_ws("#", col("start"),
        col("walk"), lit(t), col("cur"))), 1, 8), 16, 10).cast("long")
      state = state.join(ranked, state("cur") === ranked("src"))
        .where(col("__nr") === pick % col("__d") + 1L)
        .select(col("start"), col("walk"), col("dst").as("cur"))
        .localCheckpoint(true)
      outs += state.select(col("start"), col("walk"),
        lit(t.toLong).as("step"), col("cur").as("node"))
    }
    outs.reduce(_ unionAll _)
  }

  /** Skip-gram training pairs over a [[randomWalks]] corpus — the
    * second half of the DeepWalk recipe: within each walk, every
    * (center, context) node pair at step distance 1..window, with
    * frequencies. This is the exact table a word2vec-style trainer
    * consumes; deterministic because the walks are.
    *
    * Scale shape: one (start, walk)-keyed self-join of the walk corpus
    * — walks are `walkLen+1` rows each, so the join fan-out is the
    * O(walkLen·window) pair count per walk, not quadratic blow-up —
    * then ONE (center, context) hash aggregate.
    *
    * @return (center, context, n) — ordered pairs (both directions
    *         present, the skip-gram convention)
    */
  def skipgramPairs(walks: DataFrame, window: Int = 2): DataFrame = {
    require(window >= 1, s"window=$window must be positive")
    val a = walks.select(col("start"), col("walk"), col("step").as("__si"),
      col("node").as("center"))
    val b = walks.select(col("start"), col("walk"), col("step").as("__sj"),
      col("node").as("context"))
    a.join(b, Seq("start", "walk"))
      .where(col("__si") =!= col("__sj") &&
        abs(col("__si") - col("__sj")) <= window)
      .groupBy(col("center"), col("context"))
      .agg(count(lit(1)).as("n"))
  }

  /** Newman modularity of a node→community assignment over a canonical
    * edge list: Q = Σ_c [ e_c/m − (d_c/2m)² ] — did the partition
    * actually find structure (Q > 0: denser inside communities than a
    * degree-preserving random graph) or did [[labelPropagationOf]]'s
    * flood just relabel noise? The quality score that turns a community
    * op from "ran" into "worked", per community so the rollup stays
    * attributable.
    *
    * Determinism: e_c (intra-community edges), d_c (community degree
    * sum), and m are exact longs; each contribution is the single exact
    * rational (4·m·e_c − d_c²)/(4·m²), displayed 4-dp — no IEEE until
    * the last division. Overflow (loud bound, documented): d_c² and
    * 4m² < 2^63 hold to m ~ 1.5·10⁹ edges; shift to community-sampled
    * audits beyond.
    *
    * Scale shape: two label attaches onto the edge list (node-keyed
    * joins — at 100 TB the labels broadcast if the node table fits,
    * else they co-partition with the edges), then ONE community-keyed
    * hash aggregate; everything after is community-count bounded.
    *
    * @param labels (node, community) as produced by
    *               [[labelPropagationOf]] / [[graft.ops.Dedup.clusterPairs]]
    * @return per community: (community, n_nodes, intra_edges,
    *         degree_sum, q_contrib 4-dp), ordered by caller
    */
  def communityModularity(e: DataFrame, labels: DataFrame): DataFrame = {
    import CoreOps.rnd
    val lab = labels.select(col("node"), col("community"))
    val edges = e.select(col("u"), col("v"))
    val m = edges.agg(count(lit(1)).as("m"))
    val tagged = edges
      .join(lab.select(col("node").as("u"), col("community").as("cu")),
        Seq("u"))
      .join(lab.select(col("node").as("v"), col("community").as("cv")),
        Seq("v"))
    // d_c via the edge list directly: every endpoint contributes 1 to
    // its community's degree sum — one unioned pass, no separate degree
    // table needed.
    val degSum = tagged.select(col("cu").as("community"))
      .unionAll(tagged.select(col("cv").as("community")))
      .groupBy(col("community")).agg(count(lit(1)).as("degree_sum"))
    val intra = tagged.where(col("cu") === col("cv"))
      .groupBy(col("cu").as("community"))
      .agg(count(lit(1)).as("intra_edges"))
    val sizes = lab.groupBy(col("community"))
      .agg(count(lit(1)).as("n_nodes"))
    sizes
      .join(degSum, Seq("community"), "left")
      .join(intra, Seq("community"), "left")
      .crossJoin(broadcast(m))
      .select(col("community"), col("n_nodes"),
        coalesce(col("intra_edges"), lit(0L)).as("intra_edges"),
        coalesce(col("degree_sum"), lit(0L)).as("degree_sum"),
        rnd((lit(4L) * col("m") * coalesce(col("intra_edges"), lit(0L))
          - coalesce(col("degree_sum"), lit(0L))
            * coalesce(col("degree_sum"), lit(0L))).cast("double")
          / (lit(4L) * col("m") * col("m")).cast("double")).as("q_contrib"))
  }
}

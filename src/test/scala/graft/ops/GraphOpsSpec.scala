package graft.ops

import graft.SparkTestBase

class GraphOpsSpec extends SparkTestBase {
  import spark.implicits._

  private def triRun(edges: Seq[(Long, Long)]): Map[Long, (Long, Long)] =
    GraphOps.triangleCounts(edges.toDF("a", "b"), "a", "b")
      .as[(Long, Long, Long)].collect()
      .map { case (n, d, t) => n -> (d, t) }.toMap

  /** Naive reference: every 3-clique by id order, then per-node tally. */
  private def triBrute(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val e = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .filter { case (a, b) => a != b }.toSet
    val nodes = e.map(_._1).toSeq.sorted
    val tris = for {
      a <- nodes; b <- nodes if a < b && e((a, b))
      c <- nodes if b < c && e((b, c)) && e((a, c))
    } yield Seq(a, b, c)
    tris.flatten.groupBy(identity).map { case (n, xs) => n -> xs.size.toLong }
  }

  test("hand case: one triangle plus a pendant edge") {
    // 1-2-3 triangle, 4 hangs off 1: node 1 has degree 3, all tri counts 1
    val r = triRun(Seq((1L, 2L), (2L, 3L), (1L, 3L), (1L, 4L)))
    assert(r === Map(1L -> (3L, 1L), 2L -> (2L, 1L), 3L -> (2L, 1L)))
  }

  test("a star has no triangles; K4 has four, each node in three") {
    assert(triRun(Seq((9L, 1L), (9L, 2L), (9L, 3L), (9L, 4L))) === Map.empty)
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val r = triRun(k4)
    assert(r.keySet === Set(1L, 2L, 3L, 4L))
    assert(r.values.toSet === Set((3L, 3L)))
  }

  test("orientation invariance: reversed and duplicated edges change nothing") {
    val base = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 1L))
    val messy = base ++ base.map(_.swap) ++ Seq((2L, 1L), (5L, 5L))
    assert(triRun(messy) === triRun(base))
  }

  test("matches brute force on a deterministic pseudo-random graph") {
    // multiplicative-congruential edge picks: hub-ish, ~90 edges, 40 nodes
    val edges = (1 to 200).map { i =>
      val a = (i * 7919L) % 40
      val b = (i * 104729L) % 40
      (a, b)
    }.filter { case (a, b) => a != b }
    val got = triRun(edges)
    val want = triBrute(edges)
    assert(got.map { case (n, (_, t)) => n -> t } === want)
    // degrees are the canonicalized distinct-edge degrees
    val canon = edges.map { case (a, b) => (a min b, a max b) }.distinct
    val deg = canon.flatMap { case (a, b) => Seq(a, b) }
      .groupBy(identity).map { case (n, xs) => n -> xs.size.toLong }
    got.foreach { case (n, (d, _)) => assert(d === deg(n), s"node $n") }
  }

  private def lpRun(edges: Seq[(Long, Long)], maxDeg: Long, minCn: Long) =
    GraphOps.linkPredictions(edges.toDF("a", "b"), "a", "b", maxDeg, minCn)
      .as[(Long, Long, Long, Long, Long, Double)].collect()
      .map { case (a, b, cn, da, db, s) => (a, b) -> ((cn, da, db, s)) }.toMap

  test("path and square hand cases: cn counts, adjacency excluded") {
    // path 1-2-3: only (1,3) at distance 2, one shared neighbor
    assert(lpRun(Seq((1L, 2L), (2L, 3L)), 10L, 1L) ===
      Map((1L, 3L) -> ((1L, 1L, 1L, 1.0))))  // both neighbor sets are {2}
    // square 1-2-3-4-1: both diagonals share two neighbors, score 2/2=1
    val sq = lpRun(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)), 10L, 1L)
    assert(sq === Map(
      (1L, 3L) -> ((2L, 2L, 2L, 1.0)), (2L, 4L) -> ((2L, 2L, 2L, 1.0))))
    // triangle: all pairs adjacent, nothing at distance 2
    assert(lpRun(Seq((1L, 2L), (2L, 3L), (1L, 3L)), 10L, 1L) === Map.empty)
  }

  test("hub exclusion: wedges through a fat center do not count") {
    // star center 9 (degree 4) plus a genuine path 1-5-2
    val edges = Seq((9L, 1L), (9L, 2L), (9L, 3L), (9L, 4L), (1L, 5L), (5L, 2L))
    val r = lpRun(edges, maxDeg = 3L, minCn = 1L)
    // without the cap, (1,2)(1,3)(1,4)(2,3)... all pair through 9;
    // capped at 3 the star pairs vanish — only wedges through the
    // degree-2 centers survive: 1-5-2 and the two 5-{1,2}-9 wedges.
    assert(r.keySet === Set((1L, 2L), (5L, 9L)))
    val (cn, da, db, s) = r((1L, 2L))
    // cn counts only the low-degree common neighbor; degrees stay full
    assert((cn, da, db) === ((1L, 2L, 2L)))
    assert(s === 0.3333)  // rnd(1/3) at 4 dp
    assert(r((5L, 9L)) === ((2L, 2L, 4L, 0.5)))
    // raising the cap readmits the hub: (1,2) now shares {9,5}
    val open = lpRun(edges, maxDeg = 10L, minCn = 1L)
    assert(open((1L, 2L))._1 === 2L)
    assert(open.keySet === Set((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L),
      (2L, 4L), (3L, 4L), (5L, 9L)))
  }

  test("minCommon floor prunes single-wedge pairs") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 5L), (5L, 6L))
    val r = lpRun(edges, 10L, 2L)
    assert(r.keySet === Set((1L, 3L), (2L, 4L)))
  }

  test("pair packing falls back for ids outside the 32-bit range") {
    // The packed-pair shuffle key only engages when every node id fits in
    // 32 non-negative bits; ids beyond that must take the two-column plan
    // and produce the identical answer. Same square as the hand case,
    // relabeled 2^40 apart so any erroneous packing would collide or
    // truncate.
    val big = 1L << 40
    val sq = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
      .map { case (a, b) => (a * big, b * big) }
    val r = lpRun(sq, 10L, 1L)
    assert(r === Map(
      (big, 3 * big) -> ((2L, 2L, 2L, 1.0)),
      (2 * big, 4 * big) -> ((2L, 2L, 2L, 1.0))))
  }

  /** Reference replay of the pageRanks integer recurrence: same micro-unit
    * longs, same composed floor divisions, driver-side maps.
    */
  private def prBrute(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val canon = edges.filter { case (a, b) => a != b }
      .map { case (a, b) => (a min b, a max b) }.distinct
    val adj = canon.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val deg = adj.groupBy(_._1).map { case (n, xs) => n -> xs.size.toLong }
    var rank = deg.map { case (n, _) => n -> 1000000L }
    for (_ <- 1 to iters) {
      val contrib = adj.groupBy(_._2).map { case (dst, in) =>
        dst -> in.map { case (src, _) =>
          rank(src) * 850000L / 1000000L / deg(src)
        }.sum
      }
      rank = rank.map { case (n, _) => n -> (150000L + contrib(n)) }
    }
    rank
  }

  test("pageRanks is invariant to input partitioning (integer sums are associative)") {
    val edges = (1 to 150).map { i =>
      ((i * 6007L) % 30, (i * 99991L) % 30)
    }.filter { case (a, b) => a != b }
    val df = edges.toDF("a", "b")
    val base = GraphOps.pageRanks(df, "a", "b", 3)
      .as[(Long, Long, Long)].collect().sorted.toSeq
    for (p <- Seq(1, 3, 11)) {
      val got = GraphOps.pageRanks(df.repartition(p), "a", "b", 3)
        .as[(Long, Long, Long)].collect().sorted.toSeq
      assert(got === base, s"partitioning $p changed ranks")
    }
  }

  test("pageRanks matches the integer recurrence; symmetric graphs stay uniform") {
    // fully symmetric triangle: every round reproduces 1.0 exactly
    val tri = GraphOps.pageRanks(
      Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("a", "b"), "a", "b", 4)
      .as[(Long, Long, Long)].collect().toSeq
    assert(tri.map(_._3).toSet === Set(1000000L))
    // star + tail: asymmetric ranks, checked against the driver replay
    val edges = (1 to 120).map { i =>
      ((i * 7919L) % 25, (i * 104729L) % 25)
    }.filter { case (a, b) => a != b }
    val got = GraphOps.pageRanks(edges.toDF("a", "b"), "a", "b", 3)
      .as[(Long, Long, Long)].collect()
      .map { case (n, _, r) => n -> r }.toMap
    assert(got === prBrute(edges, 3))
  }

  test("kCoreOf: pendants and chains peel away, the triangle survives k=2") {
    // triangle {1,2,3} + pendant 4−1 + disconnected chain 5−6: k=2 peels
    // 4 (deg 1), then nothing more — 1 keeps degree 2 inside the core;
    // the chain dies entirely. Core degrees are WITHIN-core.
    val e = GraphOps.canonicalEdges(
      Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 1L), (5L, 6L)).toDF("a", "b"),
      "a", "b")
    val got = GraphOps.kCoreOf(e, k = 2).orderBy("node")
      .as[(Long, Long)].collect().toSeq
    assert(got === Seq((1L, 2L), (2L, 2L), (3L, 2L)))
    // k=3 empties the triangle (all within-degrees are 2)
    assert(GraphOps.kCoreOf(e, k = 3).count() === 0L)
  }

  test("kCoreOf: cascade peeling converges; too-few maxPeels fails loudly") {
    // path 1−2−3−4−5 under k=2 peels one layer per round from both ends:
    // round 1 drops {1,5}, round 2 drops {2,4}, round 3 drops 3 → empty.
    val path = GraphOps.canonicalEdges(
      Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b"), "a", "b")
    assert(GraphOps.kCoreOf(path, k = 2, maxPeels = 5).count() === 0L)
    val e = intercept[IllegalArgumentException](
      GraphOps.kCoreOf(path, k = 2, maxPeels = 1))
    assert(e.getMessage.contains("did not converge"))
    // the empty-edge escape: a 7-path peels its edge list empty in 3
    // waves; without treating that as the fixpoint, the delta peel
    // would burn a 4th wave flushing the zero-degree center plus a 5th
    // confirming — and throw at maxPeels = 4 on a graph the recompute
    // spelling finished (the review regression)
    val path7 = GraphOps.canonicalEdges(
      (1L to 6L).map(i => (i, i + 1)).toDF("a", "b"), "a", "b")
    assert(GraphOps.kCoreOf(path7, k = 2, maxPeels = 4).count() === 0L)
    // zero-degree survivors flush in the SAME wave (the review
    // regression): path 10−11−12 beside a 4-clique under k=2 — wave 1
    // removes {10, 12} and decrements 11 to degree 0, but the clique
    // still holds edges so the empty-edge escape can't fire. The
    // recompute spelling converges in 2 rounds (11 simply vanishes from
    // nodeDegrees); before the d > 0 flush the delta peel burned a 3rd
    // wave removing 11 and threw at maxPeels = 2.
    val mixed = GraphOps.canonicalEdges(
      (Seq((10L, 11L), (11L, 12L)) ++
        Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)))
        .toDF("a", "b"), "a", "b")
    val core = GraphOps.kCoreOf(mixed, k = 2, maxPeels = 2)
      .orderBy("node").as[(Long, Long)].collect().toSeq
    assert(core === Seq((1L, 3L), (2L, 3L), (3L, 3L), (4L, 3L)))
  }

  test("edgeSupports: exact per-edge triangle tallies on a hand graph") {
    // K4 {1,2,3,4}: every edge closes with the other two vertices →
    // support 2 each. The pendant edge (1,5) sits in no triangle → no
    // row (callers coalesce 0).
    val e = GraphOps.canonicalEdges(
      (Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)) :+
        ((1L, 5L))).toDF("a", "b"), "a", "b")
    val got = GraphOps.edgeSupports(e).orderBy("u", "v")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got === Seq((1L, 2L, 2L), (1L, 3L, 2L), (1L, 4L, 2L),
      (2L, 3L, 2L), (2L, 4L, 2L), (3L, 4L, 2L)))
  }

  test("trussOf: pendant triangles cascade away, the K4 survives k=4") {
    // K4 {1,2,3,4} + triangle {3,4,5} + triangle {4,5,6}. k=4 demands
    // support ≥ 2: wave 1 removes (4,6),(5,6) (sup 1) and (3,5) (sup 1);
    // (4,5) survives wave 1 on sup 2 (partners 3 and 6) but both its
    // triangles just lost an edge — wave 2 removes it at sup 0. The
    // fixpoint is the K4, every edge at support exactly 2, and the edge
    // (3,4) keeps its K4 support after losing its pendant triangle.
    val e = GraphOps.canonicalEdges(
      (Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)) ++
        Seq((3L, 5L), (4L, 5L)) ++ Seq((4L, 6L), (5L, 6L)))
        .toDF("a", "b"), "a", "b")
    val got = GraphOps.trussOf(e, k = 4, maxPeels = 3).orderBy("u", "v")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got === Seq((1L, 2L, 2L), (1L, 3L, 2L), (1L, 4L, 2L),
      (2L, 3L, 2L), (2L, 4L, 2L), (3L, 4L, 2L)))
    // the 2-wave cascade needs maxPeels ≥ 2 (maxPeels counts REMOVAL
    // waves — the empty frontier after the last wave is read off that
    // wave's own recomputed supports, not a separate confirming round):
    // 1 must fail loudly, not return a non-fixpoint
    val err = intercept[IllegalArgumentException](
      GraphOps.trussOf(e, k = 4, maxPeels = 1))
    assert(err.getMessage.contains("did not converge"))
    // k=3 (support ≥ 1) keeps every triangle edge, drops nothing else
    // here except nothing — all 10 edges sit in a triangle
    assert(GraphOps.trussOf(e, k = 3, maxPeels = 2).count() === 10L)
    // layout invariance of the delta peel
    val re = GraphOps.trussOf(e.repartition(7), k = 4, maxPeels = 3)
      .orderBy("u", "v").as[(Long, Long, Long)].collect().toSeq
    assert(re === got)
    // the shared-triangle-index entry point: identical fixpoint, and
    // the caller's list survives the peel (the peel copies into an
    // owned generation on its first bulk-wave filter — a freed shared
    // list would fail any later consumer's read)
    val sharedTri = GraphOps.triangleList(e)
    val viaShared = GraphOps.trussOf(e, k = 4, maxPeels = 3,
      sharedTriangles = Some(sharedTri))
      .orderBy("u", "v").as[(Long, Long, Long)].collect().toSeq
    assert(viaShared === got)
    assert(sharedTri.count() === 6L,
      "the shared triangle list must survive the peel un-freed")
    // forcing the NON-retained path (cap 0 edges) must reach the same
    // fixpoint through the streaming re-enumeration
    val streamed = GraphOps.trussOf(e, k = 4, maxPeels = 3,
      triRetainEdges = 0L)
      .orderBy("u", "v").as[(Long, Long, Long)].collect().toSeq
    assert(streamed === got)
  }

  test("triangleCountsOfList: identical tallies to the enumerating entry point") {
    val e = GraphOps.canonicalEdges(
      (Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)) ++
        Seq((3L, 5L), (4L, 5L)) :+ ((1L, 6L))).toDF("a", "b"), "a", "b")
    val deg = GraphOps.nodeDegrees(e)
    val direct = GraphOps.triangleCountsOf(e, deg).orderBy("node")
      .as[(Long, Long, Long)].collect().toSeq
    val tri = GraphOps.triangleList(e)
    val viaList = GraphOps.triangleCountsOfList(tri, deg).orderBy("node")
      .as[(Long, Long, Long)].collect().toSeq
    assert(viaList === direct)
    // K4: 4 triangles of the clique + {3,4,5} = 5 triangles total
    assert(tri.count() === 5L)
  }

  test("triangle list edge cap: past it both triangle consumers stream, same results") {
    // the K4 + two pendant triangles of the trussOf spec: 10 edges
    val e = GraphOps.canonicalEdges(
      (Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)) ++
        Seq((3L, 5L), (4L, 5L)) ++ Seq((4L, 6L), (5L, 6L)))
        .toDF("a", "b"), "a", "b")
    val deg = GraphOps.nodeDegrees(e)
    val listed = GraphOps.triangleListUpTo(e)
    assert(listed.map(_.count()) === Some(6L))
    assert(GraphOps.triangleListUpTo(e, cap = 10L).isDefined)
    val tinyCap = 9L
    val capped = GraphOps.triangleListUpTo(e, cap = tinyCap)
    assert(capped.isEmpty)
    def counts(tri: Option[org.apache.spark.sql.DataFrame]) =
      GraphOps.triangleCountsVia(e, deg, tri).orderBy("node")
        .as[(Long, Long, Long)].collect().toSeq
    assert(counts(capped) === counts(listed))
    assert(counts(capped) === GraphOps.triangleCountsOf(e, deg)
      .orderBy("node").as[(Long, Long, Long)].collect().toSeq)
    def truss(tri: Option[org.apache.spark.sql.DataFrame], cap: Long) =
      GraphOps.trussOf(e, k = 4, maxPeels = 3, triRetainEdges = cap,
        sharedTriangles = tri).orderBy("u", "v")
        .as[(Long, Long, Long)].collect().toSeq
    assert(truss(capped, tinyCap) === truss(listed, GraphOps.TriRetainEdges))
  }

  test("bfsHopsOf: hub source (max degree, min id), hop truncation exact") {
    // edges 1−2, 1−3, 3−4, 4−5: degrees 1:2, 3:2, 4:2, 2:1, 5:1 — the
    // (d desc, n) source pick is node 1; hops 0/1/1/2/3.
    val e = GraphOps.canonicalEdges(
      Seq((1L, 2L), (1L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b"), "a", "b")
    val deg = GraphOps.nodeDegrees(e)
    val full = GraphOps.bfsHopsOf(e, deg, maxHops = 4).orderBy("node")
      .as[(Long, Long)].collect().toSeq
    assert(full === Seq((1L, 0L), (2L, 1L), (3L, 1L), (4L, 2L), (5L, 3L)))
    // radius 2 truncates node 5 — bounded depth is the semantics
    val r2 = GraphOps.bfsHopsOf(e, deg, maxHops = 2).orderBy("node")
      .as[(Long, Long)].collect().toSeq
    assert(r2 === Seq((1L, 0L), (2L, 1L), (3L, 1L), (4L, 2L)))
  }

  test("labelPropagationOf: hand-traced synchronous rounds on bridged triangles") {
    // Two triangles {1,2,3} and {4,5,6} bridged by 3-4. Synchronous
    // majority-with-min-tiebreak, traced by hand from self-labels:
    // after 2 rounds the left triangle has locked to 1 while the right
    // is mid-oscillation (4->4, 5/6->3); by round 4 both are stable.
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L),
      (5L, 6L), (3L, 4L)).toDF("u", "v")
    val two = GraphOps.labelPropagationOf(e, iters = 2).orderBy("node")
      .as[(Long, Long)].collect().toSeq
    assert(two === Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L),
      (5L, 3L), (6L, 3L)))
    val four = GraphOps.labelPropagationOf(e, iters = 4).orderBy("node")
      .as[(Long, Long)].collect().toSeq
    assert(four === Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 3L),
      (5L, 3L), (6L, 3L)))
    intercept[IllegalArgumentException](
      GraphOps.labelPropagationOf(e, iters = 0))
  }

  test("randomWalks: matches an independent md5 reference walker, step by step") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L))
    val e = edges.toDF("u", "v")
    val got = GraphOps.randomWalks(e, walkLen = 2, walksPerNode = 2)
      .orderBy("start", "walk", "step")
      .as[(Long, Long, Long, Long)].collect().toSeq
    // reference: same adjacency ranks (neighbors sorted asc), same
    // first-8-hex-md5 pick, recomputed with MessageDigest
    val und = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
    val nbrs = und.groupBy(_._1).map { case (n, xs) =>
      n -> xs.map(_._2).sorted }
    def pick(start: Long, walk: Long, t: Int, cur: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"$start#$walk#$t#$cur".getBytes("UTF-8"))
        .take(4).map(b => f"$b%02x").mkString
      val h = java.lang.Long.parseLong(hex, 16)
      val ns = nbrs(cur)
      ns((h % ns.size).toInt)
    }
    val want = (for {
      start <- nbrs.keys.toSeq.sorted; walk <- 1L to 2L
    } yield {
      var cur = start
      (start, walk, 0L, cur) +: (1 to 2).map { t =>
        cur = pick(start, walk, t, cur); (start, walk, t.toLong, cur)
      }
    }).flatten
    assert(got === want.sortBy(r => (r._1, r._2, r._3)))
    // every transition is a real edge
    val undSet = und.toSet
    got.groupBy(r => (r._1, r._2)).values.foreach { walk =>
      val path = walk.sortBy(_._3).map(_._4)
      path.zip(path.tail).foreach { case (a, b) =>
        assert(undSet((a, b)), s"non-edge transition $a->$b") }
    }
  }

  test("skipgramPairs: step-distance window over walks, both directions") {
    val walks = Seq((1L, 1L, 0L, 10L), (1L, 1L, 1L, 20L), (1L, 1L, 2L, 30L),
      (2L, 1L, 0L, 20L), (2L, 1L, 1L, 10L))
      .toDF("start", "walk", "step", "node")
    val w2 = GraphOps.skipgramPairs(walks, window = 2)
      .orderBy("center", "context").as[(Long, Long, Long)].collect().toSeq
    // walk A (10,20,30): all ordered pairs within distance 2; walk B
    // (20,10): one adjacent pair each way — (10,20)/(20,10) double up
    assert(w2 === Seq((10L, 20L, 2L), (10L, 30L, 1L), (20L, 10L, 2L),
      (20L, 30L, 1L), (30L, 10L, 1L), (30L, 20L, 1L)))
    val w1 = GraphOps.skipgramPairs(walks, window = 1)
      .orderBy("center", "context").as[(Long, Long, Long)].collect().toSeq
    assert(w1 === Seq((10L, 20L, 2L), (20L, 10L, 2L), (20L, 30L, 1L),
      (30L, 20L, 1L)))
    intercept[IllegalArgumentException](GraphOps.skipgramPairs(walks, 0))
  }

  test("negativeEdges: verified non-edges, deterministic, partition-invariant") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (6L, 7L), (7L, 8L)).toDF("u", "v")
    val got = GraphOps.negativeEdges(e, perNode = 3)
      .orderBy("u", "draw").as[(Long, Long, Long)].collect().toSeq
    assert(got.nonEmpty)
    // every sampled pair is a genuine non-edge in either orientation
    val edges = Set((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (6L, 7L), (7L, 8L)).flatMap { case (a, b) => Seq((a, b), (b, a)) }
    assert(got.forall { case (u, _, v) => u != v && !edges((u, v)) })
    assert(got.forall { case (_, d, _) => d >= 1 && d <= 3 })
    // hash-seeded: identical under a different partitioning
    val re = GraphOps.negativeEdges(e.repartition(7), perNode = 3)
      .orderBy("u", "draw").as[(Long, Long, Long)].collect().toSeq
    assert(re === got)
    intercept[IllegalArgumentException](GraphOps.negativeEdges(e, 0))
  }

  test("communityModularity: exact rational contributions; whole-graph Q is 0") {
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L),
      (5L, 6L), (3L, 4L)).toDF("u", "v")
    // the true two-community split: each triangle has e_c=3, d_c=7 of
    // m=7 -> (4*7*3 - 49)/(4*49) = 35/196 = 0.1786; total Q = 0.3571
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 3L), (5L, 3L),
      (6L, 3L)).toDF("node", "community")
    val got = GraphOps.communityModularity(e, labels).orderBy("community")
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(got === Seq((1L, 3L, 3L, 7L, 0.1786), (3L, 3L, 3L, 7L, 0.1786)))
    // one community holding everything scores exactly zero — the
    // null-model identity (e_c = m, d_c = 2m), a pure-integer cancel
    import org.apache.spark.sql.functions.{col, lit}
    val all = GraphOps.communityModularity(e,
      labels.select(col("node"), lit(1L).as("community")))
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(all === Seq((1L, 6L, 7L, 14L, 0.0)))
  }

  private def broadcastHinted(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.analyzed.exists {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint =>
        h.hints.strategy.contains(
          org.apache.spark.sql.catalyst.plans.logical.BROADCAST)
      case _ => false
    }

  test("closingProbe: a checkpoint whose blocks were unpersisted gets no broadcast hint") {
    // zero cached bytes means the size is unknown, not that it is small
    val cp = Seq((1L, 2L, 1L), (2L, 3L, 1L)).toDF("src", "dst", "dd")
      .localCheckpoint(true)
    cp.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.foreach(_.unpersist(blocking = true))
    assert(!broadcastHinted(GraphOps.closingProbe(cp)))
  }

  test("closingProbe: a normally checkpointed edge list still broadcasts") {
    // the checkpoint routine the triangle enumerations orient through;
    // triangle_count's closing probe must stay map-side on a small graph
    import org.apache.spark.sql.functions.{col, lit}
    val e = GraphOps.canonicalEdges(
      Seq((1L, 2L), (2L, 3L), (1L, 3L), (1L, 4L)).toDF("a", "b"), "a", "b")
    val oriented = ScaleOps.checkpointFanOut(
      e.select(col("u").as("src"), col("v").as("dst"), lit(1L).as("dd")),
      col("src"))
    assert(broadcastHinted(GraphOps.closingProbe(oriented)))
    assert(broadcastHinted(GraphOps.triangleCountsOf(e, GraphOps.nodeDegrees(e))))
  }
}

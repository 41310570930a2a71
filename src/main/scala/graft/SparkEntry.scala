package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.ops._
import graft.functions.{MomentsAgg, Similarity, TextFunctions}

/** Driver contract — see SURVEY.md §7.1.
  *
  * Each entry in [[queries]] instantiates one operator (or operator cluster)
  * from SURVEY.md §2 against the driver testdata; [[oracleSql]] carries the
  * equivalent DuckDB SQL over the same parquet tables. Column names, column
  * types, and row ordering are aligned on both sides; every floating-point
  * output is rounded to 4 dp on BOTH sides (CoreOps.rnd) so accumulation-order
  * bit noise cannot flip the driver's hash compare. DuckDB `sum(BIGINT)`
  * returns HUGEINT, so integer window sums are CAST back to BIGINT in the
  * oracle SQL.
  */
object SparkEntry {

  /** Flagship query on sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("weekly_agg_events")(spark, "/root/testdata/sf0.001")

  // ---- shared DuckDB CTEs: weekly → densified grid → rolling windows ----
  // Mirrors Pipeline.weeklyOrders / denseOrders / windowsOrders exactly.
  // ONE parameterized builder for every dense-grid oracle: a past round's
  // determinism lesson was that two drifting spellings of the same grid
  // computation flipped boundary values — the grid scaffolding (bounds,
  // week axis, dim dropna, left join) must have a single definition.
  /** The 15-token license-style sentence the excision skew fixture
    * appends to every document — one gram at corpus-cardinality
    * occurrence count, the hot-digest case `exact_substr_dedup_skew`
    * exists to grade. Single-space lowercase so the engine's
    * space-split tokenizer and the oracle's string_split agree. */
  private val excisionBoilerplate =
    "this document is provided as is without warranty of any kind " +
      "express or implied whatsoever"

  private val priceMeanAgg =
    "CASE WHEN count(__cents) = 0 THEN NULL\n" +
      "              ELSE floor((CAST(sum(__cents) AS DOUBLE) / 100.0 / count(__cents)) * 10000 + 0.5) / 10000 END AS price_mean"

  private def denseCteFor(dimSql: String, aggSql: String,
                          denseSelect: String): String =
    s"""WITH weekly AS (
       |  SELECT date_trunc('week', o_orderdate) AS week, $dimSql AS dim,
       |         $aggSql
       |  FROM (SELECT *, CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS __cents FROM orders) o
       |  GROUP BY 1, 2),
       |bounds AS (SELECT min(week) AS wmin, max(week) AS wmax FROM weekly),
       |weeks AS (SELECT unnest(generate_series(wmin, wmax, INTERVAL 7 DAY)) AS week FROM bounds),
       |dims AS (SELECT DISTINCT dim FROM weekly WHERE dim IS NOT NULL),
       |dense AS (
       |  SELECT g.week, g.dim, $denseSelect
       |  FROM (SELECT weeks.week AS week, dims.dim AS dim FROM weeks CROSS JOIN dims) g
       |  LEFT JOIN weekly w ON g.week = w.week AND g.dim = w.dim)""".stripMargin

  private val denseCte = denseCteFor(
    "o_orderpriority",
    s"count(DISTINCT o_orderkey) AS transactions,\n         $priceMeanAgg",
    "coalesce(w.transactions, 0) AS transactions, w.price_mean")

  /** Rolling-window CTE suffix over a `dense` CTE — ONE definition shared
    * by the balanced (`winsCte`) and skew-demo (`winsCteSkew`) stacks so
    * the window arithmetic cannot drift between them.
    */
  private val winsSuffix =
    """,
      |wins AS (
      |  SELECT week, dim, transactions,
      |         CAST(sum(transactions) OVER w4 AS BIGINT) AS rolling_trans,
      |         price_mean,
      |         floor((CAST(sum(CAST(floor(price_mean * 1000000 + 0.5) AS BIGINT)) OVER w4 AS DOUBLE) / 1000000 / count(price_mean) OVER w4) * 10000 + 0.5) / 10000 AS rolling_price_mean,
      |         4 AS window_weeks
      |  FROM dense
      |  WINDOW w4 AS (PARTITION BY dim ORDER BY week ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
      |  UNION ALL
      |  SELECT week, dim, transactions,
      |         CAST(sum(transactions) OVER w12 AS BIGINT) AS rolling_trans,
      |         price_mean,
      |         floor((CAST(sum(CAST(floor(price_mean * 1000000 + 0.5) AS BIGINT)) OVER w12 AS DOUBLE) / 1000000 / count(price_mean) OVER w12) * 10000 + 0.5) / 10000 AS rolling_price_mean,
      |         12 AS window_weeks
      |  FROM dense
      |  WINDOW w12 AS (PARTITION BY dim ORDER BY week ROWS BETWEEN 11 PRECEDING AND CURRENT ROW))""".stripMargin

  private val winsCte = denseCte + winsSuffix

  /** The skew-survival demo's dimension: odd order keys all collapse onto
    * '1-URGENT', so one dim carries ~60 % of all orders (50 % odd + the
    * even fifth that is already 1-URGENT) — the SURVEY §4.3(d) dominant-LA
    * shape, synthesized deterministically from the fixture. Engine
    * expression and this SQL must stay in lockstep.
    */
  private val skewDimSql =
    "CASE WHEN o_orderkey % 2 = 1 THEN '1-URGENT' ELSE o_orderpriority END"

  private val winsCteSkew = denseCteFor(
    skewDimSql,
    s"count(DISTINCT o_orderkey) AS transactions,\n         $priceMeanAgg",
    "coalesce(w.transactions, 0) AS transactions, w.price_mean") + winsSuffix

  private val langDimSql =
    "(VALUES ('en','English'),('de','German'),('fr','French'),('es','Spanish')) l(lang_code, lang_name)"

  // Shared DuckDB CTE replaying MultimodalOps.fakeDecoder's byte fold in
  // HUGEINT arithmetic mod 2^64 (ord() == UTF-8 byte: the corpus is
  // ASCII-only, asserted cheaply by octet_length == length). Used by both
  // media_decode_meta and frame_sample so the decoder has ONE oracle-side
  // definition.
  private val decoderFoldCte =
    """WITH b AS (SELECT doc_id AS media_id,
      |    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |    list_reduce(
      |      list_prepend(1125899906842597::HUGEINT,
      |        list_transform(range(1, length(text) + CASE WHEN octet_length(encode(text)) = length(text) THEN 1 ELSE NULL END),
      |          i -> ord(substr(text, i, 1))::HUGEINT)),
      |      (acc, x) -> (acc * 31 + x) % 18446744073709551616::HUGEINT) AS hu
      |  FROM documents),
      |decoded AS (SELECT media_id, n_bytes,
      |    CAST(16 + (hu % 4096) AS INT) AS width,
      |    CAST(16 + ((hu // 4096) % 4096) AS INT) AS height,
      |    CAST((((hu // 16777216 - CASE WHEN hu >= 9223372036854775808::HUGEINT THEN 1099511627776::HUGEINT ELSE 0::HUGEINT END) % 600000) + 600000) % 600000 AS BIGINT) AS duration_ms
      |  FROM b)""".stripMargin

  /** ONE DuckDB definition of the engine-replayable SimHash truth set —
    * refold the md5 fingerprints bit-for-bit (per hex digit, two 32-bit
    * halves — the fold [[graft.ops.Dedup.simhashReplayable64]] commits to)
    * and brute-force the Hamming pair scan. Shared by `simhash_quality`
    * (bounded slice, radius 7) and `simhash_hamming` (full corpus, radius
    * 3) so the fingerprint replay cannot drift between the two gates.
    */
  private def simhashBruteOracle(docsWhere: String, maxHamming: Int): String =
    s"""WITH docs AS (SELECT * FROM documents $docsWhere),
       |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM docs),
       |th AS (SELECT doc_id,
       |    list_reduce(list_transform(range(1, 9), i -> (strpos('0123456789abcdef', substr(md5(tok), i, 1)) - 1)::BIGINT), (a, x) -> a * 16 + x) AS h_lo,
       |    list_reduce(list_transform(range(9, 17), i -> (strpos('0123456789abcdef', substr(md5(tok), i, 1)) - 1)::BIGINT), (a, x) -> a * 16 + x) AS h_hi
       |  FROM toks),
       |hl AS (SELECT doc_id, list(h_lo) AS ls, list(h_hi) AS hs FROM th GROUP BY 1),
       |fp AS (SELECT doc_id,
       |    list_reduce(list_prepend(0::BIGINT, list_transform(range(0, 32), i ->
       |      CASE WHEN list_sum(list_transform(ls, h -> CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END)) > 0 THEN (1::BIGINT << i) ELSE 0::BIGINT END)), (a, b) -> a | b) AS fp_lo,
       |    list_reduce(list_prepend(0::BIGINT, list_transform(range(0, 32), i ->
       |      CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END)) > 0 THEN (1::BIGINT << i) ELSE 0::BIGINT END)), (a, b) -> a | b) AS fp_hi
       |  FROM hl),
       |prs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    CAST(bit_count(xor(a.fp_lo, b.fp_lo)) + bit_count(xor(a.fp_hi, b.fp_hi)) AS INT) AS hamming
       |  FROM fp a JOIN fp b ON a.doc_id < b.doc_id)
       |SELECT id_a, id_b, hamming FROM prs WHERE hamming <= $maxHamming
       |ORDER BY id_a, id_b""".stripMargin

  /** Replay of `cooc_principal`'s quantized power iteration as chained
    * CTEs — one (matvec, shifted-norm, renormalize) triple per step,
    * generated by the same loop count the engine runs, so the oracle
    * and the engine execute the identical iteration down to the `//`
    * truncation and the floor(x·1e5 + 0.5) requantization.
    */
  private val coocPrincipalOracle: String = {
    val base =
      """WITH tok AS (SELECT string_split(text, ' ') AS t FROM documents),
        |e1 AS (SELECT unnest(t) AS i, t FROM tok),
        |p AS (SELECT i, unnest(t) AS j FROM e1),
        |g AS (SELECT i, j, CAST(count(*) AS BIGINT) AS s FROM p GROUP BY 1, 2),
        |v0 AS (SELECT DISTINCT i, CAST(100000 AS BIGINT) AS v FROM g)""".stripMargin
    val steps = (1 to 6).map { k =>
      s""",
         |y$k AS (SELECT g.i, CAST(sum(g.s * p.v) AS BIGINT) AS y FROM g JOIN v${k - 1} p ON g.j = p.i GROUP BY 1),
         |s$k AS (SELECT CAST(sum((y // 100000) * (y // 100000)) AS BIGINT) AS s2 FROM y$k),
         |v$k AS (SELECT i, CASE WHEN s2 = 0 THEN CAST(0 AS BIGINT)
         |    ELSE CAST(floor(CAST(y // 100000 AS DOUBLE) / sqrt(CAST(s2 AS DOUBLE)) * 100000.0 + 0.5) AS BIGINT) END AS v
         |  FROM y$k, s$k)""".stripMargin
    }.mkString
    val fin =
      """,
        |yf AS (SELECT g.i, CAST(sum(g.s * p.v) AS BIGINT) AS y FROM g JOIN v6 p ON g.j = p.i GROUP BY 1),
        |sf AS (SELECT CAST(sum((y // 100000) * (y // 100000)) AS BIGINT) AS s2y FROM yf),
        |sv AS (SELECT CAST(sum(v * v) AS BIGINT) AS s2v FROM v6)
        |SELECT v6.i AS token, v6.v,
        |  CASE WHEN s2v = 0 THEN NULL
        |       ELSE floor(sqrt(CAST(s2y AS DOUBLE)) * 100000.0 / sqrt(CAST(s2v AS DOUBLE)) / 1.0 * 10000 + 0.5) / 10000 END AS lambda
        |FROM v6, sf, sv ORDER BY token""".stripMargin
    base + steps + fin
  }

  /** Shared CTE prefix for the co-purchase graph oracles: the SAME capped
    * basket → canonical edge construction pagerank_parts replays (cap 6,
    * distinct (order, part) incidences, u < v).
    */
  private val basketEdgesCte: String =
    """WITH items AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
      |    WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
      |sized AS (SELECT b, i FROM
      |    (SELECT b, i, count(*) OVER (PARTITION BY b) AS sz FROM items)
      |  WHERE sz <= 6),
      |e0 AS MATERIALIZED (SELECT DISTINCT x.i AS u, y.i AS v FROM sized x JOIN sized y ON x.b = y.b AND x.i < y.i)""".stripMargin

  /** k-core oracle: ten peel rounds unrolled as chained CTEs — the engine
    * asserts fixpoint within ten, and peeling is monotone, so round ten
    * IS the fixpoint the engine converged to.
    */
  private val kCoreOracle: String = {
    // Every round's edge/keep CTE is MATERIALIZED: each is referenced 2-3
    // times by the next round, and left as views the unroll would inline
    // multiplicatively (~3^10 lineitem scans — DuckDB ran out of file
    // handles before it ran out of patience).
    val peels = (1 to 10).map { r =>
      s""",
         |d$r AS (SELECT n, CAST(count(*) AS BIGINT) AS d
         |  FROM (SELECT u AS n FROM e${r - 1} UNION ALL SELECT v FROM e${r - 1}) GROUP BY 1),
         |k$r AS MATERIALIZED (SELECT n FROM d$r WHERE d >= 50),
         |e$r AS MATERIALIZED (SELECT e.u, e.v FROM e${r - 1} e JOIN k$r a ON e.u = a.n JOIN k$r b ON e.v = b.n)""".stripMargin
    }.mkString
    basketEdgesCte + peels +
      """
        |SELECT n AS node, CAST(count(*) AS BIGINT) AS core_degree
        |FROM (SELECT u AS n FROM e10 UNION ALL SELECT v FROM e10)
        |GROUP BY 1 ORDER BY node""".stripMargin
  }

  /** 4-truss oracle: twelve full-recompute peel rounds unrolled as
    * chained CTEs — per round the textbook id-ordered triangle 3-join,
    * per-edge support off the three exploded edge roles, then the
    * sup ≥ 2 cut. The engine asserts fixpoint within twelve, peeling is
    * monotone, so round twelve IS the fixpoint; the final support pass
    * over e12 is the graded readout (every surviving edge has a support
    * row — the fixpoint guarantees sup ≥ 2 > 0).
    */
  private val kTrussOracle: String = {
    val peels = (1 to 12).map { r =>
      s""",
         |t$r AS (SELECT a.u AS x, a.v AS y, b.v AS z FROM e${r - 1} a
         |  JOIN e${r - 1} b ON a.u = b.u AND a.v < b.v
         |  JOIN e${r - 1} c ON c.u = a.v AND c.v = b.v),
         |s$r AS MATERIALIZED (SELECT u, v, CAST(count(*) AS BIGINT) AS sup FROM (
         |    SELECT x AS u, y AS v FROM t$r UNION ALL SELECT x, z FROM t$r UNION ALL SELECT y, z FROM t$r) GROUP BY 1, 2),
         |e$r AS MATERIALIZED (SELECT e.u, e.v FROM e${r - 1} e LEFT JOIN s$r s ON e.u = s.u AND e.v = s.v
         |  WHERE coalesce(s.sup, 0) >= 2)""".stripMargin
    }.mkString
    basketEdgesCte + peels +
      """,
        |tf AS (SELECT a.u AS x, a.v AS y, b.v AS z FROM e12 a
        |  JOIN e12 b ON a.u = b.u AND a.v < b.v
        |  JOIN e12 c ON c.u = a.v AND c.v = b.v)
        |SELECT u, v, CAST(count(*) AS BIGINT) AS support FROM (
        |  SELECT x AS u, y AS v FROM tf UNION ALL SELECT x, z FROM tf UNION ALL SELECT y, z FROM tf)
        |GROUP BY 1, 2 ORDER BY u, v""".stripMargin
  }

  /** CDC chunk-dedup oracle: the identical window polynomial (Σ_j
    * g(c_{i−j})·33^j mod 2³¹, g the Knuth byte mix), boundary cut,
    * span reassembly, and min-(doc, chunk) keeper rule, replayed
    * per-index with list_filter — positional independence is exactly
    * what makes the hash engine-replayable.
    */
  private val cdcChunkCtes: String = {
    val pows = Iterator.iterate(1L)(p => p * 33 % 2147483648L)
      .take(8).toSeq
    val terms = (0 until 8).map(j =>
      s"((ord(substr(text, CAST(i - $j AS INTEGER), 1)) * 2654435761)" +
        s" % 2147483648) * ${pows(j)} % 2147483648").mkString(" + ")
    s"""WITH d AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n FROM documents WHERE text IS NOT NULL AND length(text) > 0),
       |b AS (SELECT doc_id, text, n,
       |    CASE WHEN n < 8 THEN CAST([] AS BIGINT[]) ELSE list_filter(range(8, n + 1), i -> ($terms) % 32 = 0) END AS bnd
       |  FROM d),
       |sp AS (SELECT doc_id, text, list_prepend(CAST(0 AS BIGINT), list_append(list_filter(bnd, i -> i < n), n)) AS bs FROM b),
       |ch AS (SELECT doc_id, unnest(range(1, len(bs))) AS k, bs, text FROM sp),
       |cc AS MATERIALIZED (SELECT doc_id, CAST(k - 1 AS BIGINT) AS chunk_id,
       |    bs[CAST(k + 1 AS INTEGER)] - bs[CAST(k AS INTEGER)] AS ln,
       |    md5(substr(text, CAST(bs[CAST(k AS INTEGER)] + 1 AS INTEGER), CAST(bs[CAST(k + 1 AS INTEGER)] - bs[CAST(k AS INTEGER)] AS INTEGER))) AS dig
       |  FROM ch)""".stripMargin
  }

  private val cdcChunkOracle: String = cdcChunkCtes +
    """,
      |keep AS (SELECT dig, min(struct_pack(doc_id := doc_id, chunk_id := chunk_id)) AS k FROM cc GROUP BY 1)
      |SELECT cc.doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
      |  CAST(sum(CASE WHEN keep.k.doc_id = cc.doc_id AND keep.k.chunk_id = cc.chunk_id THEN 0 ELSE 1 END) AS BIGINT) AS n_dup_chunks,
      |  CAST(sum(CASE WHEN keep.k.doc_id = cc.doc_id AND keep.k.chunk_id = cc.chunk_id THEN 0 ELSE cc.ln END) AS BIGINT) AS dup_chars
      |FROM cc JOIN keep ON cc.dig = keep.dig
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Shared (doc, distinct chunk digest) prefix for the CDC pair-tier
    * oracles — the [[cdcChunkCtes]] chain reduced to the fingerprint
    * frame the winnow-style cut/join replays run on.
    */
  private val cdcFpdCte: String = cdcChunkCtes +
    """,
      |fpd AS (SELECT DISTINCT doc_id, dig AS fp_hash FROM cc)""".stripMargin

  /** Full-corpus CDC pair replay under the FROZEN even-half blocklist —
    * the engine's manifest + blocklist + known-pairs union for both the
    * batch-incremental and the streaming loop (same identity argument as
    * the winnow tier).
    */
  private val cdcIncrementalOracle: String = cdcFpdCte +
    """,
      |blk AS (SELECT fp_hash FROM (
      |    SELECT fp_hash, count(DISTINCT doc_id) AS df FROM fpd
      |    WHERE doc_id % 2 = 0 GROUP BY 1)
      |  WHERE df > 50),
      |kept AS (SELECT doc_id, fp_hash FROM fpd
      |  WHERE fp_hash NOT IN (SELECT fp_hash FROM blk))
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  CAST(count(*) AS BIGINT) AS shared_fp
      |FROM kept a JOIN kept b ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
      |GROUP BY 1, 2 HAVING count(*) >= 2 ORDER BY id_a, id_b""".stripMargin

  /** Label-propagation oracle: four synchronous rounds unrolled as
    * chained CTEs — per round, neighbor-label counts then the
    * (count desc, label) argmax per node, every round reading ONLY the
    * previous round's labels (the engine's synchronous contract).
    * Each round MATERIALIZED: l_{r} is read twice by round r+1.
    */
  private val lpaCtes: String = {
    val rounds = (1 to 4).map { r =>
      s""",
         |c$r AS (SELECT a.src, l.lbl, CAST(count(*) AS BIGINT) AS c
         |  FROM adj a JOIN l${r - 1} l ON a.dst = l.n GROUP BY 1, 2),
         |l$r AS MATERIALIZED (SELECT src AS n, lbl FROM (
         |    SELECT src, lbl, row_number() OVER (PARTITION BY src ORDER BY c DESC, lbl) AS rk
         |    FROM c$r) WHERE rk = 1)""".stripMargin
    }.mkString
    basketEdgesCte +
      """,
        |adj AS MATERIALIZED (SELECT u AS src, v AS dst FROM e0 UNION ALL SELECT v, u FROM e0),
        |l0 AS MATERIALIZED (SELECT n, n AS lbl FROM (SELECT DISTINCT src AS n FROM adj))""".stripMargin +
      rounds
  }

  private val labelPropagationOracle: String =
    lpaCtes +
      """
        |SELECT n AS node, CAST(lbl AS BIGINT) AS community
        |FROM l4 ORDER BY node""".stripMargin

  /** Modularity oracle: the LPA replay's final labels attached to both
    * edge endpoints, then the same exact-rational per-community
    * contribution (4·m·e_c − d_c²)/(4m²).
    */
  private val communityModularityOracle: String =
    lpaCtes +
      """,
        |lab AS (SELECT n, CAST(lbl AS BIGINT) AS community FROM l4),
        |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e0),
        |tg AS (SELECT lu.community AS cu, lv.community AS cv
        |  FROM e0 a JOIN lab lu ON a.u = lu.n JOIN lab lv ON a.v = lv.n),
        |ds AS (SELECT community, CAST(count(*) AS BIGINT) AS degree_sum FROM (
        |    SELECT cu AS community FROM tg UNION ALL SELECT cv FROM tg) GROUP BY 1),
        |ie AS (SELECT cu AS community, CAST(count(*) AS BIGINT) AS intra_edges
        |  FROM tg WHERE cu = cv GROUP BY 1),
        |sz AS (SELECT community, CAST(count(*) AS BIGINT) AS n_nodes FROM lab GROUP BY 1)
        |SELECT sz.community, sz.n_nodes,
        |  CAST(coalesce(ie.intra_edges, 0) AS BIGINT) AS intra_edges,
        |  CAST(coalesce(ds.degree_sum, 0) AS BIGINT) AS degree_sum,
        |  floor(CAST(4 * mm.m * coalesce(ie.intra_edges, 0)
        |      - coalesce(ds.degree_sum, 0) * coalesce(ds.degree_sum, 0) AS DOUBLE)
        |    / CAST(4 * mm.m * mm.m AS DOUBLE) * 10000 + 0.5) / 10000 AS q_contrib
        |FROM sz LEFT JOIN ds USING (community) LEFT JOIN ie USING (community)
        |CROSS JOIN mm ORDER BY community""".stripMargin

  /** Random-walk oracle: three hash-seeded transitions unrolled over the
    * rank-indexed adjacency — the same md5 fold, the same
    * mod-degree-plus-one neighbor pick, per step.
    */
  private val randomWalksCtes: String = {
    def hashExpr(t: Int): String =
      "list_reduce(list_prepend(0::BIGINT, list_transform(range(1, 9), " +
        "j -> (strpos('0123456789abcdef', substr(md5(" +
        s"CAST(w.start AS VARCHAR) || '#' || CAST(w.walk AS VARCHAR) || '#' || '$t' || '#' || CAST(w.cur AS VARCHAR)" +
        "), CAST(j AS INTEGER), 1)) - 1)::BIGINT)), (a, x) -> a * 16 + x)"
    val steps = (1 to 3).map { t =>
      s""",
         |w$t AS MATERIALIZED (SELECT w.start, w.walk, r.dst AS cur
         |  FROM w${t - 1} w JOIN rk r ON r.src = w.cur
         |    AND r.nr = (${hashExpr(t)} % r.d) + 1)""".stripMargin
    }.mkString
    basketEdgesCte +
      """,
        |adj AS (SELECT u AS src, v AS dst FROM e0 UNION ALL SELECT v, u FROM e0),
        |rk AS MATERIALIZED (SELECT src, dst,
        |    CAST(row_number() OVER (PARTITION BY src ORDER BY dst) AS BIGINT) AS nr,
        |    CAST(count(*) OVER (PARTITION BY src) AS BIGINT) AS d
        |  FROM adj),
        |w0 AS MATERIALIZED (SELECT start, CAST(wk.i AS BIGINT) AS walk, start AS cur
        |  FROM (SELECT DISTINCT src AS start FROM adj),
        |       (SELECT unnest(range(1, 3)) AS i) wk)""".stripMargin +
      steps +
      """,
        |wu AS (SELECT start, walk, CAST(0 AS BIGINT) AS step, cur AS node FROM w0
        |  UNION ALL SELECT start, walk, CAST(1 AS BIGINT), cur FROM w1
        |  UNION ALL SELECT start, walk, CAST(2 AS BIGINT), cur FROM w2
        |  UNION ALL SELECT start, walk, CAST(3 AS BIGINT), cur FROM w3)""".stripMargin
  }

  private val randomWalksOracle: String =
    randomWalksCtes +
      """
        |SELECT start, walk, step, node FROM wu
        |ORDER BY start, walk, step""".stripMargin

  /** Skip-gram oracle: the walk replay self-joined within (start, walk)
    * at step distance 1..2, then the same pair aggregate.
    */
  private val skipgramPairsOracle: String =
    randomWalksCtes +
      """
        |SELECT a.node AS center, b.node AS context, CAST(count(*) AS BIGINT) AS n
        |FROM wu a JOIN wu b ON a.start = b.start AND a.walk = b.walk
        |  AND a.step <> b.step AND abs(a.step - b.step) <= 2
        |GROUP BY 1, 2 ORDER BY center, context""".stripMargin

  /** Connected-components oracle: recursive-CTE label closure over the
    * support-floored co-purchase graph — every (node, reachable-node)
    * pair, then min per node. Independent of the engine's pointer-jump
    * loop: the oracle derives the same fixpoint by brute closure, which
    * the support floor (pair count >= 2) keeps tractable (Σ component²
    * pairs — the floored graph's giant component is ~1.1k nodes at the
    * graded SF).
    */
  private val connectedComponentsOracle: String =
    """WITH RECURSIVE items AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
      |    WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
      |sized AS (SELECT b, i FROM
      |    (SELECT b, i, count(*) OVER (PARTITION BY b) AS sz FROM items)
      |  WHERE sz <= 6),
      |e AS MATERIALIZED (SELECT u, v FROM (SELECT x.i AS u, y.i AS v, count(*) AS c
      |    FROM sized x JOIN sized y ON x.b = y.b AND x.i < y.i GROUP BY 1, 2)
      |  WHERE c >= 2),
      |adj AS MATERIALIZED (SELECT u AS s, v AS t FROM e UNION ALL SELECT v, u FROM e),
      |lab(nn, l) AS (
      |  SELECT s, s FROM adj
      |  UNION
      |  SELECT a.t, lab.l FROM lab JOIN adj a ON lab.nn = a.s)
      |SELECT nn AS id, CAST(min(l) AS BIGINT) AS component
      |FROM lab GROUP BY 1 ORDER BY id""".stripMargin

  /** Holt-Winters oracle: the scaled-integer recurrence replayed as a
    * recursive CTE whose seasonal ring rides along as a LIST column —
    * sl[1] is always s_{t-p}, each step drops the head and appends the
    * freshly-updated seasonal. Integer `//` truncates toward zero in
    * DuckDB exactly like the engine's Scala `/` (verified on negatives,
    * which seasonal deviations hit by construction).
    */
  private val holtWintersOracle: String =
    """WITH RECURSIVE s AS (SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS ord,
      |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS y
      |  FROM orders GROUP BY 1),
      |n AS (SELECT *, CAST(row_number() OVER (ORDER BY ord) AS BIGINT) AS rn FROM s),
      |agg AS (SELECT CAST(sum(y) FILTER (WHERE rn <= 4) AS BIGINT) AS sum1,
      |    CAST(sum(y) FILTER (WHERE rn > 4 AND rn <= 8) AS BIGINT) AS sum2 FROM n),
      |i0 AS (SELECT (sum1 * 10) // 4 AS l0, ((sum2 - sum1) * 10) // 16 AS b0 FROM agg),
      |sl0 AS (SELECT list(n.y * 10 - i0.l0 ORDER BY n.rn) AS sl FROM n, i0 WHERE n.rn <= 4),
      |r(rn, l, b, sl, snew, fitted) AS (
      |  SELECT CAST(4 AS BIGINT), i0.l0, i0.b0, sl0.sl,
      |      CAST(NULL AS BIGINT), CAST(NULL AS BIGINT) FROM i0, sl0
      |  UNION ALL
      |  SELECT rn, l, (1 * (l - lp) + 9 * bp) // 10 AS b,
      |      slr || [(3 * (yd - l) + 7 * sprev) // 10],
      |      (3 * (yd - l) + 7 * sprev) // 10 AS snew, fitted
      |  FROM (
      |    SELECT rn, (2 * (yd - sprev) + 8 * (lp + bp)) // 10 AS l,
      |        lp, bp, sprev, slr, yd, (lp + bp + sprev) // 10 AS fitted
      |    FROM (SELECT n.rn AS rn, r.l AS lp, r.b AS bp, r.sl[1] AS sprev,
      |        r.sl[2:] AS slr, n.y * 10 AS yd
      |      FROM r JOIN n ON n.rn = r.rn + 1))),
      |fin AS (SELECT r.l, r.b, r.sl, n.ord FROM r JOIN n USING (rn)
      |  WHERE rn = (SELECT max(rn) FROM n))
      |SELECT n.ord, 'fit' AS kind, n.y, i0.l0 AS level_den, i0.b0 AS trend_den,
      |    sl0.sl[CAST(n.rn AS INTEGER)] AS season_den,
      |    CAST(NULL AS BIGINT) AS fitted, CAST(NULL AS BIGINT) AS resid
      |  FROM n, i0, sl0 WHERE n.rn <= 4
      |UNION ALL
      |SELECT n.ord, 'fit', n.y, r.l, r.b, r.snew, r.fitted, n.y - r.fitted
      |  FROM r JOIN n USING (rn) WHERE rn > 4
      |UNION ALL
      |SELECT fin.ord + CAST(7 * h.h AS INTEGER), 'forecast', NULL, fin.l, fin.b,
      |    fin.sl[CAST(((h.h - 1) % 4) + 1 AS INTEGER)],
      |    (fin.l + h.h * fin.b + fin.sl[CAST(((h.h - 1) % 4) + 1 AS INTEGER)]) // 10, NULL
      |  FROM fin, (SELECT unnest(generate_series(1, 8)) AS h) h
      |ORDER BY ord, kind""".stripMargin

  /** BFS oracle: four frontier expansions unrolled as chained CTEs from
    * the (degree desc, id) source — bounded depth is the op's semantics,
    * so the unroll is the exact answer, not an approximation of one.
    */
  private val bfsHopsOracle: String = {
    val base = basketEdgesCte +
      """,
        |deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d
        |  FROM (SELECT u AS n FROM e0 UNION ALL SELECT v FROM e0) GROUP BY 1),
        |adj AS (SELECT u AS src, v AS dst FROM e0 UNION ALL SELECT v, u FROM e0),
        |d0 AS (SELECT n, CAST(0 AS BIGINT) AS hop
        |  FROM (SELECT n FROM deg ORDER BY d DESC, n LIMIT 1))""".stripMargin
    // d$r is referenced twice by round r+1 — materialize to keep the
    // unroll linear (same trap as the k-core oracle's 3^10 inlining).
    val hops = (1 to 4).map { r =>
      s""",
         |d$r AS MATERIALIZED (SELECT n, CAST(min(hop) AS BIGINT) AS hop FROM (
         |    SELECT n, hop FROM d${r - 1}
         |    UNION ALL
         |    SELECT a.dst AS n, $r AS hop FROM adj a
         |      JOIN d${r - 1} f ON f.n = a.src AND f.hop = ${r - 1}) GROUP BY 1)""".stripMargin
    }.mkString
    base + hops +
      """
        |SELECT n AS node, hop FROM d4 ORDER BY node""".stripMargin
  }

  /** Shared DuckDB oracle for `weekly_agg_orders` AND its raw-SQL entry
    * variant `weekly_agg_orders_sql` — the two engine entry points grade
    * against literally the same truth string.
    */
  private val weeklyAggOrdersOracle =
    """SELECT date_trunc('week', o_orderdate) AS week, o_orderpriority AS dim,
      |  count(DISTINCT o_orderkey) AS transactions,
      |  CASE WHEN count(__cents) = 0 THEN NULL ELSE floor((CAST(sum(__cents) AS DOUBLE) / 100.0 / count(__cents)) * 10000 + 0.5) / 10000 END AS price_mean,
      |  floor((quantile_cont(__cents, 0.5) / 100.0) * 10000 + 0.5) / 10000 AS price_median,
      |  floor((quantile_cont(__cents, 0.10) / 100.0) * 10000 + 0.5) / 10000 AS price_p10,
      |  floor((quantile_cont(__cents, 0.90) / 100.0) * 10000 + 0.5) / 10000 AS price_p90
      |FROM (SELECT *, CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS __cents FROM orders) o
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Shared DuckDB oracle for `rollup_orders` / `rollup_orders_sql`. */
  private val rollupOrdersOracle =
    """SELECT o_orderpriority, o_orderstatus, CAST(count(*) AS BIGINT) AS n,
      |  floor((CAST(sum(__cents) AS DOUBLE) / 100.0) * 10000 + 0.5) / 10000 AS total_price
      |FROM (SELECT *, CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS __cents FROM orders) o
      |GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
      |ORDER BY o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin

  /** Spark-dialect SQL for the raw-SQL entry variants (DuckDB's
    * `quantile_cont` is Spark's exact `percentile`; everything else is the
    * shared ANSI subset). Value-identical to the fluent
    * [[graft.ops.WeeklyAgg.weeklyStats]] plan: same exact-cents fold, same
    * shared-buffer percentile semantics (separate percentile calls over
    * the same exact longs), same floor-rounding chain.
    */
  private val weeklyAggOrdersSparkSql =
    """SELECT week, dim, transactions, price_mean,
      |  floor((__pcts[0] / 100.0) * 10000 + 0.5) / 10000 AS price_median,
      |  floor((__pcts[1] / 100.0) * 10000 + 0.5) / 10000 AS price_p10,
      |  floor((__pcts[2] / 100.0) * 10000 + 0.5) / 10000 AS price_p90
      |FROM (
      |  SELECT date_trunc('week', o_orderdate) AS week, o_orderpriority AS dim,
      |    count(DISTINCT o_orderkey) AS transactions,
      |    CASE WHEN count(__cents) = 0 THEN CAST(NULL AS DOUBLE) ELSE floor((CAST(sum(__cents) AS DOUBLE) / 100.0 / count(__cents)) * 10000 + 0.5) / 10000 END AS price_mean,
      |    percentile(__cents, array(0.50D, 0.10D, 0.90D)) AS __pcts
      |  FROM (SELECT *, CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS __cents FROM orders) o
      |  GROUP BY 1, 2)
      |ORDER BY 1, 2""".stripMargin

  private val rollupOrdersSparkSql =
    """SELECT o_orderpriority, o_orderstatus, count(*) AS n,
      |  floor((CAST(sum(__cents) AS DOUBLE) / 100.0) * 10000 + 0.5) / 10000 AS total_price
      |FROM (SELECT *, CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS __cents FROM orders) o
      |GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
      |ORDER BY o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin

  /** Document rows framed as an opaque media table — the shared input of
    * the media_* graded queries and the frame streaming loop (one
    * definition, not drifting projections).
    */
  private def asMedia(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      lit("text/plain").as("mime"),
      col("text").cast("binary").as("bytes"))

  private def documentsAsMedia(s: SparkSession, d: String): DataFrame =
    asMedia(Tables.documents(s, d))

  /** One oracle for both alternate-format legs: DuckDB reads the ORIGINAL
    * parquet events — if a format leg drops rows, shifts timestamps past
    * week granularity, or perturbs values, its weekly aggregate stops
    * hash-matching this.
    */
  private val altFormatOracleSql =
    """SELECT date_trunc('week', ts) AS week, event_type,
      |  CAST(count(*) AS BIGINT) AS n,
      |  floor((CAST(sum(__cents) AS DOUBLE) / 100.0) * 10000 + 0.5) / 10000 AS sum_value
      |FROM (SELECT *, CAST(floor(value * 100 + 0.5) AS BIGINT) AS __cents FROM events) e
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Every memo below is a family of this registry; [[memoFamilies]] is
    * read off it.
    */
  private val memo = new Memo

  /** ONE definition of the co-purchase graph, MATERIALIZED once: the
    * capped `(basket, item)` incidence (the cap stage all three graph
    * queries start from), the canonical undirected edge list it pairs
    * into (shared by `triangle_count` and `link_predict`, mirrored
    * verbatim by the oracles' `e` CTE), and the node-degree table over
    * those edges (consumed four times across the two consumers). Before this memo each graph query
    * rebuilt the lineitem self-join pair stage from the scan up —
    * `triangle_count` alone measured 22.3 s isolated at sf0.1, most of it
    * edge derivation. At 100 TB the analog is writing the edge
    * list once per snapshot and pointing every graph consumer at it.
    */
  private val basketGraphMemo =
    memo.frames[(DataFrame, DataFrame, DataFrame)]("basket_graph",
      Set("copurchase_lift", "triangle_count", "link_predict",
        "pagerank_parts", "k_core_parts", "k_truss_parts",
        "bfs_hops_parts", "connected_components", "label_propagation",
        "community_modularity", "negative_edges", "random_walks",
        "skipgram_pairs")) { case (sized, edges, degrees) =>
      Seq(sized, edges, degrees)
    }

  private def basketGraph(s: SparkSession,
                          d: String): (DataFrame, DataFrame, DataFrame) =
    basketGraphMemo(s, d) {
      // checkpointFanOut on the basket key: the checkpoint's own
      // partitioning is what coOccurrenceEdges' basket self-join runs at
      // (equi key `b`, so the pinned exchange is the one the join needs).
      // The EDGE checkpoint deliberately stays at AQE's narrow width: the
      // enumeration-heavy consumers re-widen internally at their oriented
      // frame (GraphOps.edgeSupports/triangleCountsOf), while the
      // iterative peels (k-core, BFS, LPA) run many tiny waves over the
      // edge list where extra width is pure task-launch overhead
      // (measured: a 32-wide edge memo took k_core_parts 3.6 s → 6.7 s).
      val sized = ScaleOps.checkpointFanOut(
        BasketOps.cappedBasketItems(Tables.lineitem(s, d),
          "l_orderkey", "l_partkey", maxBasketSize = 6), col("b"))
      val edges = GraphOps.coOccurrenceEdges(sized, "b", "i")
        .localCheckpoint(true)
      // Degrees ride in the memo too: link_predict consumes the table
      // three times (hub filter + two attaches) and triangle_count once —
      // without this each use re-shuffles the full edge list into a fresh
      // degree aggregation per execution.
      val degrees = GraphOps.nodeDegrees(edges).localCheckpoint(true)
      (sized, edges, degrees)
    }

  /** The hub-filtered, center-partitioned wedge adjacency at the graded
    * cap, memoized like the edge list it derives from. Round-10's
    * remaining bench-hygiene defect (r9 task 5, link_predict run-2 at
    * 2.95× min) traced to exactly this table: each EXECUTION rebuilt and
    * re-checkpointed it, so run N executed on top of runs 1..N−1's dead
    * adjacency blocks — reclaimable only when driver GC happened to feed
    * the ContextCleaner. One shared checkpoint removes the per-run
    * scratch entirely (and is the production shape the scaladoc already
    * claimed: the adjacency is a per-snapshot derived table, not
    * per-query scratch). Separate family from [[basketGraph]] so the
    * eleven other family members don't pay its build on first touch.
    */
  private val linkAdjMemo =
    memo.frames[DataFrame]("link_adj", Set("link_predict"))(Seq(_))

  private def linkAdjacency(s: SparkSession, d: String): DataFrame =
    linkAdjMemo(s, d) {
      val (_, edges, deg) = basketGraph(s, d)
      GraphOps.linkPredictionAdjacency(edges, deg, maxDegree = 100L)
    }

  /** The co-purchase graph's TRIANGLE LIST: `triangle_count`'s per-node
    * tally and `k_truss_parts`' support peel read the SAME
    * once-per-triangle enumeration, and before this memo each ran its own
    * O(m^1.5) wedge join over the identical graph — the suite's single
    * heaviest stage, twice. At 100 TB the analog is the maintained
    * triangle/support index every triangle-family consumer reads (written
    * once per edge snapshot), not per-query scratch. None past
    * [[GraphOps.TriRetainEdges]] edges, where both consumers stream the
    * enumeration instead. Separate family from [[basketGraph]] so
    * non-triangle family members don't pay the enumeration on first
    * touch.
    */
  private val basketTriMemo =
    memo.frames[Option[DataFrame]]("basket_triangles",
      Set("triangle_count", "k_truss_parts"))(_.toSeq)

  private def basketTriangles(s: SparkSession, d: String): Option[DataFrame] =
    basketTriMemo(s, d)(GraphOps.triangleListUpTo(basketGraph(s, d)._2))

  private def weeklyFormatAgg(events: DataFrame): DataFrame =
    events
      .withColumn("week", CoreOps.weekStart(col("ts")))
      .withColumn("__cents", CoreOps.moneyCents(col("value")))
      .groupBy("week", "event_type")
      .agg(count(lit(1)).as("n"),
        CoreOps.rnd(sum(col("__cents")).cast("double") / 100.0)
          .as("sum_value"))
      .orderBy("week", "event_type")

  /** ONE definition of the priority ranking window — partition key,
    * tie-break, and the top-3 projection — shared by the two ranking-
    * surface graded queries (and mirrored by [[rankCte]] on the oracle
    * side) so the contract cannot drift between them; same rationale as
    * [[denseCteFor]] for the dense grid.
    */
  private def rankedTop3(s: SparkSession, d: String)(
      cols: org.apache.spark.sql.expressions.WindowSpec =>
        Seq[(String, org.apache.spark.sql.Column)]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val base = Tables.orders(s, d)
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rn", row_number().over(w).cast("long"))
    cols(w).foldLeft(base) { case (df, (name, c)) => df.withColumn(name, c) }
      .where(col("rn") <= 3)
      .orderBy("o_orderpriority", "rn")
  }

  /** Oracle-side mirror of [[rankedTop3]]: the shared WITH/WINDOW wrapper
    * with per-query rank columns spliced in.
    */
  private def rankCte(rankCols: String): String =
    s"""WITH r AS (
       |  SELECT o_orderpriority, o_orderkey, o_totalprice,
       |    row_number() OVER w AS rn,
       |$rankCols
       |  FROM orders
       |  WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey))
       |SELECT * FROM r WHERE rn <= 3 ORDER BY o_orderpriority, rn""".stripMargin

  private def langDim(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(("en", "English"), ("de", "German"), ("fr", "French"), ("es", "Spanish"))
      .toDF("lang_code", "lang_name")
  }

  /** IVF codebook, trained once and memoized — this
    * is the entire point of the codebook parameter: fitting KMeans is the
    * one genuinely expensive step of inverted-file ANN, and refitting it
    * per query invocation (as the graded query did through round 2) redid
    * it on every bench run. Deterministic (fixed sample, fixed seed), so
    * memoization cannot change the graded result.
    *
    * 100 TB path: the codebook fits on a bounded deterministic sample
    * (centroid quality converges long before the sample stops fitting);
    * tiny corpora fall back to the full set so KMeans always has
    * comfortably more points than clusters. take(160), not count(): the
    * gate needs "at least 160 rows", not a full scan of the corpus.
    * The sample is ABSOLUTELY bounded (vec_id < 50000 on top of the
    * mod-5 spread → ≤10k training rows at ANY corpus size, pushed to the
    * scan): a purely fractional key-mod sample would grow KMeans training
    * linearly with the corpus. The cap covers the whole fixture today
    * (max vec_id 1999), so the trained codebook is unchanged.
    */
  private val ivfCodebooks = memo[Similarity.IvfCodebook]("ivf_codebook")

  private def ivfCodebook(s: SparkSession, d: String): Similarity.IvfCodebook =
    ivfCodebooks(s, d) {
      val e = Tables.embeddings(s, d)
      val sample = e.where(pmod(col("vec_id"), lit(5)) === 0
        && col("vec_id") < 50000)
      val train = if (sample.select("vec_id").take(160).length >= 160) sample
        else e
      Similarity.trainCodebook(train, nlist = 16)
    }

  /** Eval-side 8-gram bloom filter, built once and memoized: the
    * distributed aggregate returns only the KB-scale bit array.
    * Deterministic — fixed hash, OR-merged bits — so memoization cannot
    * change the graded result.
    */
  private val evalGramBlooms = memo[Option[Array[Byte]]]("eval_gram_bloom")

  /** The 64-round BPE model, trained once and
    * memoized — train-small / apply-wide made literal across the three
    * graded consumers (`bpe_encode_stats`, `bpe_encode_ids`,
    * `bpe_pack_ids`): re-training per query would repeat the loop's 64
    * driver-argmax jobs for bit-identical output. Deterministic (exact
    * counts, total argmax order), so memoization cannot change any
    * graded result.
    */
  private val bpeModels =
    memo.frames[CorpusOps.BpeModel]("bpe_model",
      Set("bpe_encode_stats", "bpe_encode_ids", "bpe_pack_ids",
        "bpe_decode_roundtrip", "bpe_pack_report")) { m =>
      Seq(m.merges, m.vocab, m.baseChars)
    }

  private def bpeModel(s: SparkSession, d: String): CorpusOps.BpeModel =
    bpeModels(s, d)(
      CorpusOps.bpeTrain(Tables.documents(s, d), "text", bpeEncodeRounds,
        fanKey = Some(col("doc_id"))))

  /** The corpus encoded to token-id sequences ONCE — the
    * apply-wide product all four id-level consumers read
    * (`bpe_encode_ids` explodes it, `bpe_pack_ids` and
    * `bpe_pack_report` pack its real lengths, `bpe_decode_roundtrip`
    * inverts it): without the memo each query re-runs the tokenize +
    * double-broadcast-join encode pass for bit-identical output.
    * Checkpointed: (id, n_tokens, token_ids) rows — corpus-token-scale,
    * the same magnitude as the source text.
    */
  private val bpeEncodedMemo =
    memo.frames[DataFrame]("bpe_encoded",
      Set("bpe_encode_ids", "bpe_pack_ids", "bpe_decode_roundtrip",
        "bpe_pack_report"))(Seq(_))

  private def bpeEncoded(s: SparkSession, d: String): DataFrame =
    bpeEncodedMemo(s, d)(
      CorpusOps.bpeEncodeIds(Tables.documents(s, d), "doc_id", "text",
        bpeModel(s, d)).localCheckpoint(true))

  private def evalGramBloom(s: SparkSession, d: String): Option[Array[Byte]] =
    evalGramBlooms(s, d) {
      val eval = Tables.documents(s, d)
        .where(pmod(col("doc_id"), lit(10)) === 7)
      val grams = CorpusOps.ngramSet(eval, "doc_id", "text", n = 8)
        .select("gram").distinct()
      // sizing needs the true cardinality (a small count job over the
      // already-distinct gram frame); eval corpora are small by nature
      val n = grams.count()
      if (n == 0) None
      else BloomOps.buildBloom(grams, col("gram"), expectedItems = n,
        fpp = 1e-4)
    }

  /** A fixture staged once into a fresh temp dir named `graft-<name>…`;
    * `write` fills the dir it is handed. Staging IS the production shape:
    * a landing zone a stream tails or a reader scans.
    */
  private val stagedDirs = memo[String]("staged_dir")

  private def staged(s: SparkSession, d: String, name: String)(
      write: String => Unit): String =
    stagedDirs(s, d, name) {
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft-$name").toString
      write(dir)
      dir
    }

  /** Events staged through [[Tables.events]] (micros ts)
    * into a temp dir the file-stream source can tail — streaming the
    * driver parquet directly is impossible (TIMESTAMP(NANOS), see
    * Tables.events).
    */
  private def stagedEvents(s: SparkSession, d: String): String =
    staged(s, d, "events-stream")(
      Tables.events(s, d).write.mode("overwrite").parquet(_))

  /** A landing dir a file stream tails, with the schema of the frame
    * staged there — the stream reads it with no schema-inference pass.
    */
  private final case class StreamFeed(dir: String, schema: StructType)

  private val streamFeeds = memo[StreamFeed]("stream_feed")

  /** `frame` staged once as a parquet landing dir (see [[staged]]): the
    * ingest fixture of a [[ingestMicroBatches]] loop. Each fixture is
    * range-partitioned into three files, so a file stream reading one
    * file per trigger delivers it as three micro-batches.
    */
  private def stagedFeed(s: SparkSession, d: String, name: String)(
      frame: => DataFrame): StreamFeed =
    streamFeeds(s, d, name) {
      val f = frame
      StreamFeed(staged(s, d, name)(f.write.mode("overwrite").parquet(_)),
        f.schema)
    }

  /** The drift-gate ingest fixture: the doc_id%10==5 slice stamped with
    * an explicit `batch_id = (doc_id div 10) % 3` and RANGE-partitioned
    * on it — ranges are disjoint, so one batch_id never splits across
    * files, which is what makes each micro-batch's per-batch PSI
    * COMPLETE whatever the file→trigger mapping.
    */
  private def stagedQpsiBatches(s: SparkSession, d: String): StreamFeed =
    stagedFeed(s, d, "qpsi-stream")(
      Tables.documents(s, d)
        .where(pmod(col("doc_id"), lit(10)) === 5)
        .select(col("doc_id"), col("lang"), col("text"),
          expr("(doc_id div 10) % 3").as("batch_id"))
        .repartitionByRange(3, col("batch_id")))

  /** The embedding drift-gate ingest fixture — [[stagedQpsiBatches]] in
    * embedding space: the vec_id%10==5 slice stamped with batch_id =
    * (vec_id div 10) % 3 and RANGE-partitioned on the stamp, so one
    * batch_id never splits across files and each micro-batch's PSI
    * readout is complete whatever the file→trigger mapping.
    */
  private def stagedEpsiBatches(s: SparkSession, d: String): StreamFeed =
    stagedFeed(s, d, "epsi-stream")(
      Tables.embeddings(s, d)
        .where(pmod(col("vec_id"), lit(10)) === 5)
        .select(col("vec_id"), col("embedding"),
          expr("(vec_id div 10) % 3").as("batch_id"))
        .repartitionByRange(3, col("batch_id")))

  /** The decontamination gate's frozen state: DISTINCT 8-gram digests of
    * the held-out eval slice (doc_id%10==7) as a digest-bucketed table —
    * what a deployed ingest gate pins at eval-freeze time. Gram text
    * reduces to its 16-byte md5 in the scan projection; only digests
    * ever sit in the manifest or cross its probe join.
    */
  private val decontamStates = memo[String]("decontam_state")

  private def decontamState(s: SparkSession, d: String): String =
    decontamStates(s, d) {
      val tag = java.lang.Integer.toHexString(d.hashCode)
      val mt = s"graft_evalgrams_$tag"
      ScaleOps.writeBucketed(
        CorpusOps.ngramSet(
          Tables.documents(s, d).where(pmod(col("doc_id"), lit(10)) === 7),
          "doc_id", "text", n = 8)
          .select(md5(col("gram").cast("binary")).as("g")).distinct()
          .repartition(8, col("g")),
        mt, Seq("g"), buckets = 8)
      mt
    }

  /** The graded near-dup BATCH slice — the streaming-ingest fixture for
    * `stream_neardup_incremental` (and the bpe / decontamination gates).
    * Range-partitioned by doc_id for a deterministic file split; the
    * emitted pair SET is delivery-order-invariant anyway (each pair is
    * found exactly once: internally when both docs share a micro-batch,
    * else when the later doc probes the manifest that already holds the
    * earlier one).
    */
  private def stagedDocBatches(s: SparkSession, d: String): StreamFeed =
    stagedFeed(s, d, "docs-stream")(
      Tables.documents(s, d)
        .where(pmod(col("doc_id"), lit(10)) === 1 && col("doc_id") < 10000
          && pmod(expr("doc_id div 10"), lit(2)) === 1)
        .repartitionByRange(3, col("doc_id")))

  /** The cosine BATCH half — the streaming-ingest fixture for
    * `stream_cosine_incremental`, the embedding analog of
    * [[stagedDocBatches]]. Range-partitioned by vec_id for a
    * deterministic file split; the emitted pair SET is
    * delivery-order-invariant for the same reason.
    */
  private def stagedEmbBatches(s: SparkSession, d: String): StreamFeed =
    stagedFeed(s, d, "emb-stream")(
      Tables.embeddings(s, d)
        .where(col("vec_id") < 2000 && pmod(col("vec_id"), lit(2)) === 1)
        .repartitionByRange(3, col("vec_id")))

  /** The SimHash BATCH half (odd ids of the full corpus) — the
    * streaming-ingest fixture for `stream_simhash_incremental` and the
    * frame, winnow and CDC loops. Delivery-order-invariant like its
    * siblings; here additionally LOSSLESS (pigeonhole banding), so the
    * streamed union grades against the exact Hamming truth, not a
    * contract boolean.
    */
  private def stagedSimhashBatches(s: SparkSession, d: String): StreamFeed =
    stagedFeed(s, d, "simhash-stream")(
      Tables.documents(s, d)
        .where(pmod(col("doc_id"), lit(2)) === 1)
        .repartitionByRange(3, col("doc_id")))

  /** Events re-staged once per format into a temp dir — the
    * alternate-format ingestion fixtures (ORC, JSON lines). The graded
    * queries prove the engine
    * reads these formats with identical query semantics by aggregating
    * the round-tripped data against the PARQUET-derived oracle.
    */
  private def stagedFormat(s: SparkSession, d: String, fmt: String,
                           opts: Map[String, String] = Map.empty): String =
    // opts participates in the name: two stagings of the same format with
    // different writer options (e.g. timestamp formats) are different
    // fixtures — a format-only key would silently serve the first.
    staged(s, d, s"events-$fmt" +
        (if (opts.isEmpty) "" else "-" + Integer.toHexString(opts.hashCode)))(
      Tables.events(s, d).write.mode("overwrite").options(opts)
        .format(fmt).save(_))

  /** Events re-staged as a TWO-BATCH parquet layout with
    * schema drift: batch 1 (even event ids) written WITHOUT the `value`
    * column, batch 2 (odd ids) with the full schema — the
    * producer-evolved-the-schema situation every long-lived lake path
    * hits. The graded reader merges footers (`mergeSchema`) so batch-1
    * rows surface a NULL `value`, and the aggregate is checked against
    * the oracle replaying the drift as a CASE on the raw table.
    */
  private def stagedDrift(s: SparkSession, d: String): String =
    staged(s, d, "events-drift") { dir =>
      val ev = Tables.events(s, d)
      ev.where(pmod(col("event_id"), lit(2)) === 0).drop("value")
        .write.mode("overwrite").parquet(dir + "/b1")
      ev.where(pmod(col("event_id"), lit(2)) =!= 0)
        .write.mode("overwrite").parquet(dir + "/b2")
    }

  /** Orders re-staged as a NESTED parquet layout: one row
    * per customer with a `sort_array`-normalized array of order structs
    * (collect_list order is partition-dependent; the sort on the unique
    * leading o_orderkey makes the written file byte-deterministic). The
    * document/feed shape a training pipeline ingests constantly — the
    * graded reader explodes it back and must reproduce the FLAT table's
    * aggregate exactly, proving the nest → write → read → unnest cycle
    * preserves content.
    */
  private def stagedNestedOrders(s: SparkSession, d: String): String =
    staged(s, d, "orders-nested")(
      Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(sort_array(collect_list(struct(col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"), col("o_orderpriority"))))
          .as("orders"))
        .write.mode("overwrite").parquet(_))

  /** Micros-precision timestamp format for the CSV leg, applied on BOTH
    * write and read: the CSV default (like JSON's) renders only millis,
    * and a text format should round-trip the column it is graded on at
    * full precision rather than lean on the aggregate's invariance.
    */
  private val csvTsOpts = Map(
    "timestampFormat" -> "yyyy-MM-dd HH:mm:ss.SSSSSS")

  /** XML leg options: row tag (required by the native datasource) plus the
    * same micros timestamp format contract as the CSV leg.
    */
  private val xmlOpts = Map(
    "rowTag" -> "event",
    "timestampFormat" -> "yyyy-MM-dd HH:mm:ss.SSSSSS")

  /** Orders + customer staged as same-bucket-count
    * bucketed tables ([[ScaleOps.writeBucketed]]) — the write-path fixture
    * the `bucketed_join_orders` query reads back. The pre-write
    * `repartition(buckets, key)` uses the same murmur3-pmod placement as
    * the bucket spec, so each task holds exactly one bucket and every
    * bucket lands in ONE sorted file — the layout Spark's scan needs to
    * hand the join sorted, exchange-free input (multi-file buckets forfeit
    * the sortBy metadata). Tables are OVERWRITten so a stale warehouse
    * from an earlier process cannot leak in.
    */
  private val bucketedTables = memo[(String, String)]("bucketed_tables")

  private def bucketedOrdersCustomer(s: SparkSession, d: String): (String, String) =
    bucketedTables(s, d) {
      val tag = java.lang.Integer.toHexString(d.hashCode)
      val ot = s"graft_orders_bkt_$tag"
      val ct = s"graft_customer_bkt_$tag"
      ScaleOps.writeBucketed(
        Tables.orders(s, d).repartition(8, col("o_custkey")),
        ot, "o_custkey", buckets = 8)
      ScaleOps.writeBucketed(
        Tables.customer(s, d).repartition(8, col("c_custkey")),
        ct, "c_custkey", buckets = 8)
      (ot, ct)
    }

  /** The incremental near-dup BAND MANIFEST staged
    * as a (band, bucket)-bucketed table — the production contract made
    * literal: the previous run's banded rows are PERSISTED, bucketed by
    * exactly the probe join's key, so a new batch's probe reads the
    * manifest with ZERO exchange on the manifest side (PlanSpec pins
    * it). Covers the same "existing" half the in-memory
    * incremental_neardup query re-signs per call. Same pre-write
    * repartition-by-the-bucket-spec discipline as
    * [[bucketedOrdersCustomer]] (one sorted file per bucket).
    */
  private val neardupStates = memo[(String, String)]("neardup_state")

  /** @return (bucketed band-manifest table, known verified-pairs table) */
  private def neardupState(s: SparkSession, d: String): (String, String) =
    neardupStates(s, d) {
      val tag = java.lang.Integer.toHexString(d.hashCode)
      val mt = s"graft_neardup_manifest_$tag"
      val pt = s"graft_neardup_pairs_$tag"
      val existing = Tables.documents(s, d)
        .where(pmod(col("doc_id"), lit(10)) === 1 && col("doc_id") < 10000
          && pmod(expr("doc_id div 10"), lit(2)) === 0)
      ScaleOps.writeBucketed(
        Dedup.bandManifest(existing, "doc_id", "text")
          .repartition(8, col("band"), col("bucket")),
        mt, Seq("band", "bucket"), buckets = 8)
      // the second prior-run artifact: the verified pair list — plain
      // storage, it is only unioned downstream, never joined
      ScaleOps.dropTables(s, pt)
      Dedup.verifiedNearDupPairs(existing, "doc_id", "text",
        threshold = 0.5).write.mode("overwrite").saveAsTable(pt)
      (mt, pt)
    }

  /** The SimHash tier's persisted state, symmetric to [[neardupState]]:
    * the (band, bval)-bucketed Hamming band manifest plus the known
    * banded-pair list over the even-id half of the full corpus.
    */
  private val simhashStates = memo[(String, String)]("simhash_state")

  private def simhashState(s: SparkSession, d: String): (String, String) =
    simhashStates(s, d) {
      val tag = java.lang.Integer.toHexString(d.hashCode)
      val mt = s"graft_simhash_manifest_$tag"
      val pt = s"graft_simhash_pairs_$tag"
      val existing = Tables.documents(s, d)
        .where(pmod(col("doc_id"), lit(2)) === 0)
      ScaleOps.writeBucketed(
        Dedup.simhashBandManifest(existing, "doc_id", "text", maxHamming = 3)
          .repartition(8, col("band"), col("bval")),
        mt, Seq("band", "bval"), buckets = 8)
      ScaleOps.dropTables(s, pt)
      Dedup.simhashReplayableBandedPairs(existing, "doc_id", "text",
        maxHamming = 3).write.mode("overwrite").saveAsTable(pt)
      (mt, pt)
    }

  /** The COSINE tier's persisted state, symmetric to [[neardupState]] /
    * [[simhashState]]: the (tbl, bkt)-bucketed SRP manifest plus the
    * known verified cosine pair list over the even-id half of the capped
    * embedding slice.
    */
  private val cosineStates = memo[(String, String)]("cosine_state")

  private def cosineState(s: SparkSession, d: String): (String, String) =
    cosineStates(s, d) {
      val tag = java.lang.Integer.toHexString(d.hashCode)
      val mt = s"graft_cosine_manifest_$tag"
      val pt = s"graft_cosine_pairs_$tag"
      val existing = Tables.embeddings(s, d)
        .where(col("vec_id") < 2000 && pmod(col("vec_id"), lit(2)) === 0)
      graft.ops.ScaleOps.writeBucketed(
        graft.functions.Similarity.srpBandRows(existing, "vec_id",
          "embedding", bits = 4, tables = 24)
          .repartition(8, col("tbl"), col("bkt")),
        mt, Seq("tbl", "bkt"), buckets = 8)
      ScaleOps.dropTables(s, pt)
      graft.functions.Similarity.cosineNearDupPairs(existing, "vec_id",
        "embedding", threshold = 0.4, bits = 4, tables = 24)
        .write.mode("overwrite").saveAsTable(pt)
      (mt, pt)
    }

  /** The capped slice's exhaustive cosine truth and full-corpus LSH pair
    * set, memoized: BOTH cosine incremental layouts (batch-persisted and
    * streaming) grade against the same two frames — without the memo each
    * query re-runs the quadratic truth slice and the full LSH pipeline.
    * Checkpointed: pair-scale rows only.
    */
  private val cosineTruthMemo =
    memo.frames[(DataFrame, DataFrame)]("cosine_truth",
      Set("incremental_cosine_persisted", "stream_cosine_incremental")) {
      case (truth, full) => Seq(truth, full)
    }

  private def cosineTruthAndFull(s: SparkSession,
                                 d: String): (DataFrame, DataFrame) =
    cosineTruthMemo(s, d) {
      val slice = Tables.embeddings(s, d).where(col("vec_id") < 2000)
      (graft.functions.Similarity.cosinePairsExhaustive(slice, "vec_id",
          "embedding", threshold = 0.4).localCheckpoint(true),
        graft.functions.Similarity.cosineNearDupPairs(slice, "vec_id",
          "embedding", threshold = 0.4, bits = 4, tables = 24)
          .localCheckpoint(true))
    }

  /** The frame (aHash) tier's persisted state, symmetric to
    * [[simhashState]]: the (band, bval)-bucketed Hamming band manifest
    * plus the known pair list — both in the PACKED (media·2²⁰ + frame)
    * id space — over the even-media half.
    */
  private val frameStates = memo[(String, String)]("frame_state")

  private def frameState(s: SparkSession, d: String): (String, String) =
    frameStates(s, d) {
      val tag = java.lang.Integer.toHexString(d.hashCode)
      val mt = s"graft_frame_manifest_$tag"
      val pt = s"graft_frame_pairs_$tag"
      // fingerprints feed the manifest AND the pair list — decode once
      val fp = graft.multimodal.MultimodalOps.frameFingerprints(
        documentsAsMedia(s, d)
          .where(pmod(col("media_id"), lit(2)) === 0), everyMs = 60000L)
        .localCheckpoint(true)
      graft.ops.ScaleOps.writeBucketed(
        Dedup.hammingBandManifestOf(fp, maxHamming = 3)
          .repartition(8, col("band"), col("bval")),
        mt, Seq("band", "bval"), buckets = 8)
      ScaleOps.dropTables(s, pt)
      Dedup.hammingPairsOf(fp, maxHamming = 3)
        .write.mode("overwrite").saveAsTable(pt)
      (mt, pt)
    }

  /** The persisted state of a FINGERPRINT dedup modality (`kind`
    * winnowing or CDC chunk digests — the state machinery is
    * fingerprint-agnostic), symmetric to [[neardupState]]: the even-half
    * (id, fp_hash) manifest bucketed on the hash (the probe join's key),
    * the over-common-hash blocklist FROZEN at build time (the production
    * MOSS posture — and what makes incremental == full an exact identity;
    * see [[graft.ops.CorpusOps.incrementalWinnowPairsOnState]]), and the
    * read-back even-even pair list. `fingerprints` maps the even-half
    * documents to distinct (id, fp_hash) rows.
    *
    * @return (bucketed fingerprint-manifest table, frozen blocklist
    *         table, known verified-pairs table)
    */
  private val fingerprintStates =
    memo[(String, String, String)]("fingerprint_state")

  private def fingerprintState(s: SparkSession, d: String, kind: String)(
      fingerprints: DataFrame => DataFrame): (String, String, String) =
    fingerprintStates(s, d, kind) {
      val tag = java.lang.Integer.toHexString(d.hashCode)
      val mt = s"graft_${kind}_manifest_$tag"
      val bt = s"graft_${kind}_block_$tag"
      val pt = s"graft_${kind}_pairs_$tag"
      val fps = fingerprints(
        Tables.documents(s, d).where(pmod(col("doc_id"), lit(2)) === 0))
        .localCheckpoint(true)
      ScaleOps.dropTables(s, bt, pt)
      fps.groupBy(col("fp_hash"))
        .agg(countDistinct(col("id")).as("__df"))
        .where(col("__df") > 50).select(col("fp_hash"))
        .write.saveAsTable(bt)
      ScaleOps.writeBucketed(
        fps.join(s.table(bt), Seq("fp_hash"), "left_anti")
          .repartition(8, col("fp_hash")),
        mt, Seq("fp_hash"), buckets = 8)
      val m = s.table(mt)
      m.as("a").join(m.as("b"),
          col("a.fp_hash") === col("b.fp_hash")
            && col("a.id") < col("b.id"))
        .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .agg(count(lit(1)).as("shared_fp"))
        .where(col("shared_fp") >= 2L)
        .write.saveAsTable(pt)
      Dedup.unpersistCheckpoint(fps)
      (mt, bt, pt)
    }

  private def winnowState(s: SparkSession,
                          d: String): (String, String, String) =
    fingerprintState(s, d, "winnow")(
      CorpusOps.winnowFingerprints(_, "doc_id", "text", k = 3, w = 4)
        .select(col("doc_id").as("id"), col("fp_hash")).distinct())

  private def cdcState(s: SparkSession,
                       d: String): (String, String, String) =
    fingerprintState(s, d, "cdc")(
      CorpusOps.cdcFingerprints(_, "doc_id", "text"))

  /** The ANN serving tier's persisted state, symmetric to the dedup
    * manifests: a codebook trained ONCE on the even-id half plus that
    * half's posting rows as a cell-bucketed table — what an inverted-file
    * service has on disk between ingest batches. The incremental query
    * appends new vectors through one assignment pass (the codebook never
    * moves, the existing corpus is never re-assigned) and serves from the
    * grown table.
    */
  private val ivfPostingStates =
    memo[(Similarity.IvfCodebook, String)]("ivf_postings")

  private def ivfPostingState(s: SparkSession,
                              d: String): (Similarity.IvfCodebook, String) =
    ivfPostingStates(s, d) {
      val tag = java.lang.Integer.toHexString(d.hashCode)
      val pt = s"graft_ivf_postings_$tag"
      val existing = Tables.embeddings(s, d)
        .where(pmod(col("vec_id"), lit(2)) === 0)
      // the ivfCodebooks sampling discipline: a key-mod sample when it
      // holds enough rows for a stable fit, the full half otherwise
      val sample = existing.where(pmod(col("vec_id"), lit(5)) === 0
        && col("vec_id") < 50000)
      val train = if (sample.select("vec_id").take(160).length >= 160) sample
        else existing
      val cb = Similarity.trainCodebook(train, nlist = 16)
      ScaleOps.writeBucketed(
        Similarity.ivfAssign(existing, "vec_id", "embedding", cb)
          .repartition(8, col("cell")),
        pt, Seq("cell"), buckets = 8)
      (cb, pt)
    }

  /** The governance chain's stage frames, memoized: `corpus_prep_full`
    * consumes the final gate while
    * `corpus_prep_attrition` reads EVERY stage's survivors — without the
    * memo the attrition report would re-run exact dedup, substring
    * excision, near-dup verification, MOSS matching and decontamination
    * from the scan. The checkpointed members are corpus-slice-scale.
    * `corpus` stays lazy (one scan + map-side normalize — cheaper to
    * recompute than to hold).
    */
  private case class CorpusPrepFrames(corpus: DataFrame, exact: DataFrame,
                                      excised: DataFrame, neardup: DataFrame,
                                      moss: DataFrame, clean: DataFrame)

  private val corpusPrepMemo =
    memo.frames[CorpusPrepFrames]("corpus_prep_frames",
      Set("corpus_prep_attrition", "corpus_prep_full")) { fr =>
      Seq(fr.exact, fr.excised, fr.neardup, fr.moss, fr.clean)
    }

  private def corpusPrepFrames(s: SparkSession,
                               d: String): CorpusPrepFrames =
    corpusPrepMemo(s, d) {
      val all = Tables.documents(s, d)
      val corpus = all
        .where(pmod(col("doc_id"), lit(5)) === 0 && col("doc_id") < 20000)
        .select(col("doc_id"), col("lang"),
          TextFunctions.normalizeText(col("text")).as("norm"))
      val evalSide = all.where(pmod(col("doc_id"), lit(10)) === 7)
        .select(col("doc_id"),
          TextFunctions.normalizeText(col("text")).as("text_dedup"))
      // stage frames each feed TWO consumers (rule (g)): exact feeds the
      // id/lang projection AND the excision pass; excised feeds the LSH
      // pair proposal AND the drop join; neardup feeds the MOSS pair
      // proposal AND its anti join; moss feeds decontamination AND the
      // semi join — left lazy, each consumer re-runs the whole upstream
      // chain from the scan
      val exact = Dedup.dropExact(corpus, "doc_id", "norm")
        .localCheckpoint(true)
      val excised = exact.select(col("doc_id"), col("lang"))
        .join(CorpusOps.exactSubstrDedup(exact, "doc_id", "norm", n = 15)
          .select(col("doc_id"), col("text_dedup")), Seq("doc_id"))
        .localCheckpoint(true)
      val neardup = Dedup.dropNearDupsFromPairs(excised, "doc_id",
        Dedup.verifiedNearDupPairs(excised, "doc_id", "text_dedup",
          threshold = 0.8))
        .localCheckpoint(true)
      // MOSS-match removal: drop the LATER document of every winnowing
      // match (earlier-survives, the canonical-keep convention) — the
      // victim set is id-only, so the anti join ships ids, never text
      val moss = neardup.join(
        CorpusOps.winnowPairs(neardup, "doc_id", "text_dedup",
            k = 3, w = 4, minShared = 1L, maxDocFreq = 50L)
          .select(col("id_b").as("doc_id")),
        Seq("doc_id"), "left_anti")
        .localCheckpoint(true)
      val clean = moss.join(
        CorpusOps.decontaminate(moss, evalSide, "doc_id", "text_dedup",
            n = 8)
          .where(!col("contaminated")).select("doc_id"),
        Seq("doc_id"), "left_semi")
        .localCheckpoint(true)
      CorpusPrepFrames(corpus, exact, excised, neardup, moss, clean)
    }

  /** The ADC tier's persisted serving state — [[ivfPostingState]] one
    * compression level up: a frozen [[EmbeddingOps.IvfadcModel]] (coarse
    * router + m residual sub-quantizers, trained ONCE on the even-id
    * half) plus that half's (vec_id, cell, subspace, code) rows as a
    * cell-bucketed table. Appending a batch costs one map-only encode
    * pass over the batch alone; codes are a property of the model, so
    * append == full re-encode as an exact set identity.
    */
  private val ivfadcPostingStates =
    memo[(EmbeddingOps.IvfadcModel, String)]("ivfadc_postings")

  private def ivfadcPostingState(s: SparkSession, d: String)
      : (EmbeddingOps.IvfadcModel, String) =
    ivfadcPostingStates(s, d) {
      val tag = java.lang.Integer.toHexString(d.hashCode)
      val pt = s"graft_ivfadc_postings_$tag"
      val existing = Tables.embeddings(s, d)
        .where(pmod(col("vec_id"), lit(2)) === 0)
      // m=8 × k=16 (32 bits/vector), DOUBLE knn_ivfadc_topk's m=4×k=8:
      // a codebook that never saw the appended half needs the extra
      // capacity (measured: 12-bit codes bottom at 0.1 recall on the
      // grown sf0.1 table even probing 5/8 cells; 32-bit + R=100
      // re-rank reads 0.6+) — the "model size is a choice" lever
      // pulled in the direction a frozen-codebook service pulls it
      val model = EmbeddingOps.ivfadcTrain(existing, "vec_id",
        "embedding", dim = 64, nlist = 8, m = 8, k = 16, iterations = 3)
      ScaleOps.writeBucketed(
        EmbeddingOps.ivfadcEncode(existing, "vec_id", "embedding", model)
          .repartition(8, col("cell")),
        pt, Seq("cell"), buckets = 8)
      (model, pt)
    }

  /** Events staged as a HIVE-PARTITIONED parquet layout
    * (`partitionBy(event_type)`) — the fixture for the graded
    * partition-pruning query: a predicate on the partition column must
    * reach the scan as a PartitionFilter (directories never listed),
    * which PlanSpec pins.
    */
  private def partitionedEvents(s: SparkSession, d: String): String =
    staged(s, d, "events-part")(
      Tables.events(s, d).write.mode("overwrite")
        .partitionBy("event_type").parquet(_))

  /** Orders deliberately fragmented into 64 small files, then compacted by
    * [[ScaleOps.compactParquet]] — the write-path fixture the
    * `compacted_source_agg` query reads back (grading that the rewrite
    * preserves CONTENT while fixing layout).
    */
  private def compactedOrders(s: SparkSession, d: String): String =
    staged(s, d, "orders-compact") { out =>
      val frag = java.nio.file.Files
        .createTempDirectory("graft-orders-frag").toString
      Tables.orders(s, d).repartition(64).write.mode("overwrite").parquet(frag)
      ScaleOps.compactParquet(s, frag, out, targetMb = 128,
        sortCol = Some("o_orderdate"))
    }

  /** Verified near-dup pairs for the graded dedup slice, computed ONCE
    * at the LOOSEST graded threshold (0.5) and localCheckpointed:
    * dedup_groups consumes the set whole, dedup_keep_canonical re-filters
    * it to 0.8 — the pair rows carry the exact jaccard and the LSH
    * candidate stage is threshold-independent, so the tighter set is a
    * filter, not a recompute. The LSH + exact-verify subplan is the
    * expensive half of both queries (the other half is the iterative
    * connected-components loop), and before this memo each query rebuilt
    * it from the scan up on every run.
    */
  private val verifiedPairMemo =
    memo.frames[DataFrame]("verified_pairs",
      Set("dedup_groups", "dedup_keep_best", "dedup_keep_canonical",
        "neardup_safe_split"))(Seq(_))

  private def gradedVerifiedPairs(s: SparkSession, d: String): DataFrame =
    verifiedPairMemo(s, d)(
      Dedup.verifiedNearDupPairs(
        Tables.documents(s, d).where(pmod(col("doc_id"), lit(10)) === 0),
        "doc_id", "text", threshold = 0.5)
        .localCheckpoint(true))

  /** The corpus char-trigram NLL scores, memoized: `ngram_lm_score`
    * grades them directly and `perplexity_buckets` stratifies on them —
    * the LM fit + scoring pass (the trigram tier's dominant cost) runs
    * once. Checkpointed: doc-scale (id, n_tri, avg_nll) rows only.
    */
  private val trigramNllMemo =
    memo.frames[DataFrame]("trigram_nll",
      Set("ngram_lm_score", "perplexity_buckets"))(Seq(_))

  private def gradedTrigramNll(s: SparkSession, d: String): DataFrame =
    trigramNllMemo(s, d)(
      CorpusOps.charTrigramNll(Tables.documents(s, d), "doc_id", "text")
        .localCheckpoint(true))

  /** The 4-round LPA labels over the co-purchase graph, memoized: both
    * `label_propagation` and `community_modularity` consume the same
    * iterative loop; the returned frame is already checkpointed (it is
    * the loop's final generation), so the memo stores node-scale state
    * only.
    */
  private val lpaLabelMemo =
    memo.frames[DataFrame]("lpa_labels",
      Set("label_propagation", "community_modularity"))(Seq(_))

  private def lpaLabels(s: SparkSession, d: String): DataFrame =
    lpaLabelMemo(s, d)(
      GraphOps.labelPropagationOf(basketGraph(s, d)._2, iters = 4))

  /** The 2×3 random-walk corpus, memoized: `random_walks` grades it and
    * `skipgram_pairs` consumes it — the walk generations are already
    * checkpointed inside [[GraphOps.randomWalks]], so the memo holds
    * walk-scale state only.
    */
  private val walkMemo =
    memo.frames[DataFrame]("walk_corpus",
      Set("random_walks", "skipgram_pairs"))(Seq(_))

  private def gradedWalks(s: SparkSession, d: String): DataFrame =
    walkMemo(s, d)(
      GraphOps.randomWalks(basketGraph(s, d)._2, walkLen = 3,
        walksPerNode = 2))

  /** The frame-holding memo families with the graded queries that consume
    * each — the map Bench needs to EVICT a family once its last consumer
    * (in Bench's sorted execution order) has been timed. Holding every
    * family for the whole 140+-query run kept hundreds of MB of dead
    * checkpoint blocks resident, squeezing the execution memory (and GC
    * headroom) of every later heavy query — the shared-JVM inflation the
    * round-7 adjudication still measured at 2× on the heaviest query.
    */
  def memoFamilies: Seq[(String, Set[String], () => Unit)] =
    memo.evictable.map(f => (f.name, f.consumers, () => f.evict()))

  /** (family[/extra], wall seconds) of every memo build so far. */
  def memoBuilds: Seq[(String, Double)] = memo.builds

  /** Materialize a streaming loop's RESULT eagerly, then drop the
    * loop's per-run working tables. Each loop creates up to three
    * warehouse tables per invocation (manifest-so-far, corpus-so-far,
    * emissions) under a fresh run counter — left behind, they
    * accumulate across bench re-runs and JVMs, and the loops' own
    * saveAsTable/catalog operations degrade against the growing
    * warehouse (measured on the r13 record: ~200 stale dirs pushed
    * stream_cosine_incremental to 1.6× its isolated cost; a clean
    * warehouse reads 0.9×). The eager localCheckpoint pins the result
    * rows before the tables vanish; blocks are pair-scale and freed by
    * the ContextCleaner like every other checkpoint.
    */
  private def materializeAndDropTables(s: SparkSession, df: DataFrame,
                                       tables: String*): DataFrame = {
    val out = df.localCheckpoint(true)
    ScaleOps.dropTables(s, tables: _*)
    out
  }

  /** Explains of self-cleaning queries, captured on the pre-checkpoint
    * frame AFTER its execution (localCheckpoint runs the frame's own
    * QueryExecution, so the adaptive plan here is the finalized one).
    * A self-cleaning query returns the materialized checkpoint — its
    * visible plan is just ExistingRDD — so the PlanSpec pins that prove
    * the serving shape (bucketed posting reads, broadcast probes) read
    * these entries instead. Keys: `<query>.simple` / `<query>.formatted`.
    */
  val capturedPlans: scala.collection.concurrent.TrieMap[String, String] =
    scala.collection.concurrent.TrieMap.empty

  /** materializeAndDropTables + capturedPlans in one move: checkpoint the
    * result (executing the real plan while the working tables still
    * exist), record both explain modes for the PlanSpec pins, then drop
    * the per-run tables so bench re-runs never accumulate warehouse dirs
    * (the measured 1.6×-degradation class from the r13 record).
    */
  private def selfCleaning(s: SparkSession, name: String, df: DataFrame,
                           tables: String*): DataFrame = {
    val out = materializeAndDropTables(s, df, tables: _*)
    capturedPlans(s"$name.simple") = df.queryExecution
      .explainString(org.apache.spark.sql.execution.SimpleMode)
    capturedPlans(s"$name.formatted") = df.queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    out
  }

  /** Numbers every streaming run, so its sink view or working tables get
    * names no earlier run in this JVM used. */
  private val streamRuns = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Drive a finite streaming frame to completion through a memory sink
    * and hand back the result as a batch frame. `processAllAvailable`
    * drains the file source AND the trailing no-data micro-batch where
    * event-time timeouts fire (pinned by StreamingAndMultimodalSpec), so
    * watermark-final emissions are all present before the table is read.
    * Unique query names keep bench re-runs from colliding on the temp
    * view.
    */
  private def runStreamToTable(s: SparkSession, df: DataFrame, name: String,
      mode: org.apache.spark.sql.streaming.OutputMode =
        org.apache.spark.sql.streaming.OutputMode.Append): DataFrame = {
    val qn = s"graft_stream_${name}_${streamRuns.incrementAndGet()}"
    // State partition count is a deployment knob pinned at a stream's
    // first checkpoint, NOT something to inherit from the batch tier's
    // shuffle.partitions: each stateful operator runs one state store per
    // partition per micro-batch, and at this fixture's volume 32 stores
    // are pure per-batch overhead (measured: the stream-stream join drops
    // 5.7 s → 2.6 s at sf0.1 going 32 → 8). The conf is read when the
    // query STARTS, so the set/restore brackets only this synchronous
    // drain; Verify/Bench run queries sequentially on this session.
    val before = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    val q =
      try df.writeStream
        .outputMode(mode)
        .format("memory").queryName(qn).start()
      finally s.conf.set("spark.sql.shuffle.partitions", before)
    try q.processAllAvailable() finally q.stop()
    s.table(qn)
  }

  /** What one loop hands [[ingestMicroBatches]]. `pin` derives the frame
    * each micro-batch checkpoints: the raw batch, or its fingerprint frame
    * where only fingerprints feed the probe and the append (pinning the
    * batch there would compute the fingerprints twice). `each` runs the
    * batch's probe and appends off the pinned frame. `result` reads the
    * drained working tables.
    */
  private final case class MicroBatchLoop(
      each: DataFrame => Unit,
      result: () => DataFrame,
      pin: DataFrame => DataFrame = identity)

  /** The micro-batch ingest driver of every `stream_*` loop that grows
    * working tables. A staged feed arrives one file per trigger
    * (`maxFilesPerTrigger=1`); each micro-batch probes the state so far,
    * emits only its new rows, and grows the state.
    *
    * The working tables are `graft_stream_<tag>_<role>_<run>`, one per
    * role, under the next run number. Stale same-name leftovers are
    * dropped first: the run counter restarts per JVM while the warehouse
    * persists across JVMs. `loop` seeds the tables (handed over in
    * `roles` order) and returns the per-batch work. Each batch's pinned
    * frame is checkpointed once, since it feeds the probe and every
    * append, and unpersisted when the batch ends. The result is
    * materialized before the working tables are dropped.
    *
    * The contract every loop keeps, stated once here:
    *  - Emit BEFORE the state append, so a batch never probes its own
    *    rows (its internal pairs are already emitted).
    *  - Probe with EMPTY known pairs per batch. Emissions are new pairs
    *    only, so their union with the read-back pair list needs no dedup.
    *  - Refresh in the OUTER session. A foreachBatch write goes through
    *    the micro-batch's cloned session and refreshes only the clone's
    *    relation cache. The outer session, whose `s.table` plans the next
    *    probe, would keep serving the stale pre-append file listing, and
    *    later batches would silently probe the seed state only (measured:
    *    148 missing cross-batch pairs in stream_neardup_incremental at
    *    sf0.001). The driver refreshes every working table after every
    *    batch, so no loop can miss one.
    */
  private def ingestMicroBatches(s: SparkSession, feed: StreamFeed,
      tag: String, roles: String*)(
      loop: Seq[String] => MicroBatchLoop): DataFrame = {
    val run = streamRuns.incrementAndGet()
    val tables = roles.map(r => s"graft_stream_${tag}_${r}_$run")
    ScaleOps.dropTables(s, tables: _*)
    val l = loop(tables)
    val src = s.readStream.schema(feed.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(feed.dir)
    val q = graft.streaming.EventsStreaming
      .foreachBatchWriter(src, b => l.pin(b).localCheckpoint(true)) {
        (pinned, _) =>
          try {
            l.each(pinned)
            tables.foreach(s.catalog.refreshTable)
          } finally Dedup.unpersistCheckpoint(pinned)
      }.start()
    try q.processAllAvailable() finally q.stop()
    materializeAndDropTables(s, l.result(), tables: _*)
  }

  /** The deployed drift gate of stream_quality_psi and stream_embed_psi:
    * every micro-batch is scored per `batch_id` stamp against the FROZEN
    * `reference` snapshot (checkpointed once — the histogram a production
    * gate pins at deploy time), appending `psi(reference, stamp rows)`
    * tagged with the stamp. A stamp never splits across staged files, so
    * each readout is complete. Result rows are keyed (batch_id, `key`).
    */
  private def streamDriftPsi(s: SparkSession, feed: StreamFeed, tag: String,
      reference: DataFrame, key: String)(
      psi: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val ref = reference.localCheckpoint(true)
    ingestMicroBatches(s, feed, tag, "out") { case Seq(outS) =>
      // seeded with the empty readout, so a drained stream always leaves
      // a readable table
      psi(ref.limit(0), ref.limit(0)).withColumn("batch_id", lit(0L))
        .limit(0).write.saveAsTable(outS)
      MicroBatchLoop(
        // <=3 distinct stamps by construction — a bounded collect
        each = b => b.select("batch_id").distinct().collect()
          .map(_.getLong(0)).sorted.foreach { bid =>
            psi(ref, b.where(col("batch_id") === bid))
              .withColumn("batch_id", lit(bid))
              .write.mode("append").saveAsTable(outS)
          },
        result = () => s.table(outS)
          .select(Seq("batch_id", key, "n_bins", "n_a", "n_b", "psi")
            .map(col): _*)
          .orderBy("batch_id", key))
    }
  }

  /** The winnow and CDC streaming loops, which differ only in their
    * fingerprints: each micro-batch fingerprints only ITS documents (the
    * pinned frame), probes the manifest-so-far under the frozen
    * blocklist, and appends its blocklist-filtered fingerprints bucketed
    * like the persisted manifest. A pair emits exactly once, when its
    * later document arrives, and by then the earlier document's
    * fingerprints are all in the manifest — so the streamed shared_fp
    * counts equal the batch-incremental ones whatever the delivery order.
    */
  private def streamFingerprintPairs(s: SparkSession, feed: StreamFeed,
      tag: String, state: (String, String, String))(
      fingerprints: DataFrame => DataFrame): DataFrame = {
    val (mt, bt, pt) = state
    ingestMicroBatches(s, feed, tag, "manifest", "pairs") {
      case Seq(mtS, outS) =>
        ScaleOps.writeBucketed(s.table(mt).repartition(8, col("fp_hash")),
          mtS, Seq("fp_hash"), buckets = 8)
        s.table(pt).limit(0).write.saveAsTable(outS)
        MicroBatchLoop(
          pin = fingerprints,
          each = fp => {
            CorpusOps.incrementalWinnowPairsOnState(fp, s.table(mtS),
              s.table(bt), s.table(pt).limit(0), minShared = 2L)
              .write.mode("append").saveAsTable(outS)
            ScaleOps.appendBucketed(
              fp.join(s.table(bt), Seq("fp_hash"), "left_anti"),
              mtS, Seq("fp_hash"), buckets = 8)
          },
          result = () => s.table(pt).select("id_a", "id_b", "shared_fp")
            .unionByName(s.table(outS).select("id_a", "id_b", "shared_fp")))
    }.orderBy("id_a", "id_b")
  }

  /** Clustered-synthetic embedding corpus, derived deterministically
    * FROM the fixture (no new data): member i sits at center (i mod 50)
    * plus its own embedding scaled 1/20 — 50 tight, well-separated
    * clusters whose exact top-10 at sf0.01 is exactly the member's
    * cluster-mates. The corpus a GOOD quantizer demonstrably separates
    * (recall 1.0), where the near-random fixture caps honest recall at
    * ~0.5 regardless of code size. Oracle mirror: [[synthCte]] (same
    * double-precision op order: c + e/20, quantized downstream).
    */
  private def clusteredEmbeddings(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val centers = e.where(col("vec_id") < 50)
      .select(col("vec_id").as("__g"), col("embedding").as("__c"))
    e.select(col("vec_id"), pmod(col("vec_id"), lit(50L)).as("__g"),
        col("embedding"))
      .join(broadcast(centers), Seq("__g"))
      .select(col("vec_id"), zip_with(col("__c"), col("embedding"),
        (c, x) => c.cast("double") + x.cast("double") / lit(20.0))
        .as("embedding"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- weekly aggregation tier (P7 + A1-A5 + SO1) ----
    "weekly_agg_events" -> ((s, d) => {
      val e = Tables.events(s, d)
      WeeklyAgg.weeklyStats(e, col("ts"), col("event_type"),
        col("event_id"), col("value"))
    }),
    "weekly_agg_orders" -> ((s, d) => {
      val o = Tables.orders(s, d)
      WeeklyAgg.weeklyStats(o, col("o_orderdate"), col("o_orderpriority"),
        col("o_orderkey"), col("o_totalprice"))
    }),
    "type_breakdown" -> ((s, d) => {
      val o = Tables.orders(s, d)
      WeeklyAgg.typeBreakdown(o, col("o_orderdate"), col("o_orderpriority"),
        col("o_orderstatus"))
    }),

    // ---- cleaning / scalar tier (P3-P9, P11-P13) ----
    // P3+P5 — ANSI-safe coercing casts: junk → NULL, parseable round-trips.
    "coerce_clean" -> ((s, d) => {
      val e = Tables.events(s, d)
      e.agg(
        count(lit(1)).as("n_rows"),
        count(CoreOps.coerceDouble(col("event_type"))).as("n_junk_price"),
        count(CoreOps.coerceDouble(col("value").cast("string"))).as("n_price_ok"),
        count(CoreOps.coerceTimestamp(col("event_type"))).as("n_junk_date"),
        count(CoreOps.coerceTimestamp(col("ts").cast("string"))).as("n_date_ok"))
    }),
    // P6+P8+P9 — key/category normalization + prefix key.
    "normalize_keys" -> ((s, d) => {
      val c = Tables.customer(s, d)
      c.select(
        col("c_custkey"),
        CoreOps.normalizeKey(col("c_name")).as("key_norm"),
        CoreOps.normalizeCategory(col("c_mktsegment")).as("seg_norm"),
        CoreOps.prefixKey(CoreOps.normalizeKey(col("c_name")), 4).as("key_prefix"))
        .orderBy("c_custkey")
    }),
    // P4+A1 — synthetic ids are unique: distinct count == row count.
    "synthetic_id_distinct" -> ((s, d) => {
      val li = CoreOps.withSyntheticId(Tables.lineitem(s, d), "tid")
      li.agg(count_distinct(col("tid")).as("n_ids"))
    }),

    // ---- join tier (J1 + A10) ----
    "lookup_join" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val n = Tables.nation(s, d)
      val r = Tables.region(s, d)
      val cn = Joins.lookupJoin(c, n, c("c_nationkey") === n("n_nationkey"))
      Joins.lookupJoin(cn, r, cn("n_regionkey") === r("r_regionkey"))
        .select(col("c_custkey"), col("c_name"),
          col("n_name").as("nation"), col("r_name").as("region"))
        .orderBy("c_custkey")
    }),
    // The same two-hop enrichment FORCED onto the broadcast-threshold
    // fallback path (r8 verdict task 5): MERGE-hinted joins produce the
    // SortMergeJoin plan a too-big dimension degrades to, and the result
    // hash-matches the identical oracle as `lookup_join` — strategy
    // changes, answer doesn't. PlanSpec pins the SMJ (and no broadcast).
    "lookup_join_smj" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val n = Tables.nation(s, d)
      val r = Tables.region(s, d)
      val cn = Joins.lookupJoinShuffled(c, n,
        c("c_nationkey") === n("n_nationkey"))
      Joins.lookupJoinShuffled(cn, r, cn("n_regionkey") === r("r_regionkey"))
        .select(col("c_custkey"), col("c_name"),
          col("n_name").as("nation"), col("r_name").as("region"))
        .orderBy("c_custkey")
    }),
    "coverage_docs" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val l = langDim(s)
      Joins.lookupJoin(docs, l, docs("lang") === l("lang_code"))
        .agg(count(lit(1)).as("n_docs"),
          Joins.coveragePct(col("lang_name")).as("coverage_pct"))
    }),
    "prefix_fallback" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val l = langDim(s)
      Joins.lookupJoin(docs, l, docs("lang") === l("lang_code"))
        .withColumn("la",
          coalesce(col("lang_name"), CoreOps.prefixKey(upper(col("lang")), 2)))
        .groupBy("la").agg(count(lit(1)).as("n"))
        .orderBy("la")
    }),

    // Semi/anti joins (EXISTS / NOT EXISTS) — beyond the reference's
    // left-outer-only join surface. One pass over each table: customer
    // left-joins the distinct order keys, then both EXISTS and NOT EXISTS
    // counts fall out of one conditional aggregate — vs the round-2 shape
    // (separate left_semi + left_anti, each scanning and shuffling both
    // tables, then a crossJoin of the two 1-row counts).
    "semi_anti_join" -> ((s, d) => {
      val c = Tables.customer(s, d).select(col("c_custkey"))
      val o = Tables.orders(s, d).select(col("o_custkey")).distinct()
      // coalesce: sum over ZERO rows is NULL, but the oracle's COUNT
      // subqueries (and the old count-based formulation) return 0 on an
      // empty customer table.
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .agg(
          coalesce(sum(when(col("o_custkey").isNotNull, 1L).otherwise(0L)),
            lit(0L)).as("n_with_orders"),
          coalesce(sum(when(col("o_custkey").isNull, 1L).otherwise(0L)),
            lit(0L)).as("n_without_orders"))
    }),
    // Set operations over distinct values: document languages EXCEPT a
    // fixed list, plus intersect via the same mechanism.
    "set_ops" -> ((s, d) => {
      import s.implicits._
      val langs = Tables.documents(s, d).select(col("lang").as("k")).distinct()
      val known = Seq("en", "zh").toDF("k")
      langs.except(known).orderBy("k")
    }),
    // Bucketed time-range self join: same-user event pairs within 5 min —
    // cell-blocked equi-join formulation vs the oracle's direct inequality.
    "range_join_events" -> ((s, d) =>
      RangeJoin.selfTimeRangeJoin(Tables.events(s, d),
        keyCol = "user_id", tsCol = "ts", idCol = "event_id",
        toleranceMs = 300000L)
        .orderBy("k", "l_id", "r_id")),
    // Ranking window functions (row_number/rank/dense_rank/ntile/lead):
    // top-3 orders per priority by price.
    "ranking_orders" -> ((s, d) =>
      rankedTop3(s, d) { w => Seq(
        "rnk" -> rank().over(w).cast("long"),
        "drnk" -> dense_rank().over(w).cast("long"),
        "quartile" -> ntile(4).over(w).cast("long"),
        "next_key" -> lead(col("o_orderkey"), 1).over(w))
      }),
    // Distribution window functions (percent_rank / cume_dist): relative
    // position within the partition — (rank-1)/(n-1) and peer-inclusive
    // fraction, SQL-standard on both engines; tie groups share values so
    // the result is layout-independent. Top-3 projected per priority; the
    // fractions still see the FULL partition (computed before the filter).
    "distribution_ranks" -> ((s, d) =>
      rankedTop3(s, d) { w => Seq(
        "pct_rank" -> CoreOps.rnd(percent_rank().over(w)),
        "cume" -> CoreOps.rnd(cume_dist().over(w)))
      }),

    // ---- windowed tier (J2/J3 + P12 + W1-W4 + P10/A6 + A11) ----
    "densify_orders" -> ((s, d) =>
      Pipeline.denseOrders(s, d)
        .select("week", "dim", "transactions", "price_mean")
        .orderBy("dim", "week")),
    "rolling_windows" -> ((s, d) =>
      Pipeline.windowsOrders(s, d)
        .select("week", "dim", "transactions", "rolling_trans",
          "price_mean", "rolling_price_mean", "window_weeks")
        .orderBy("window_weeks", "dim", "week")),
    "anomaly_zscore" -> ((s, d) =>
      Pipeline.anomaliesOrders(s, d)
        .select("week", "dim", "window_weeks", "transactions", "rolling_trans",
          "z_transactions", "z_rolling_trans",
          "anomaly_transactions", "anomaly_rolling_trans")
        .orderBy("window_weeks", "dim", "week")),
    // Skew-survival proof for the reference's own weekly family (SURVEY
    // §4.3(d); r8 verdict task 4): one synthesized dominant dim carries
    // ~60 % of all orders, and the full weekly→densify→rolling lifecycle
    // still grades exactly. Survival is by construction, not AQE luck:
    // the skew-lean weekly aggregate (WeeklyAgg.weeklyCountMean) keys its
    // only fact-scale exchange on (week, dim, id) — the dominant dim
    // splits across the id domain — and every rolling window runs over
    // the bounded densified grid. PlanSpec pins both properties plus the
    // ≥50 % dominance itself (a balanced dim would make this vacuous).
    "rolling_windows_skewed" -> ((s, d) => {
      val skDim = when(col("o_orderkey") % 2 === 1, lit("1-URGENT"))
        .otherwise(col("o_orderpriority"))
      val weekly = WeeklyAgg.weeklyCountMean(Tables.orders(s, d),
        col("o_orderdate"), skDim, col("o_orderkey"), col("o_totalprice"))
      val dense = Densify.densify(
        weekly.select("week", "dim", "transactions", "price_mean"),
        fillZero = Seq("transactions"),
        gridFrom = Some(Tables.orders(s, d).select(
          CoreOps.weekStart(col("o_orderdate")).as("week"), skDim.as("dim"))))
      Rolling.rollingWindows(dense)
        .select("week", "dim", "transactions", "rolling_trans",
          "price_mean", "rolling_price_mean", "window_weeks")
        .orderBy("window_weeks", "dim", "week")
    }),
    "latest_snapshot" -> ((s, d) =>
      // max(week) of the windows frame == weekStart(max(o_orderdate))
      // (monotone bucketing), so the 1-row max side is a 1-column scan of
      // orders rather than a second evaluation of the whole pipeline.
      Snapshot.latestWeek(Pipeline.windowsOrders(s, d),
        latestFrom = Some(Tables.orders(s, d)
          .select(CoreOps.weekStart(col("o_orderdate")).as("week"))))
        .select("week", "dim", "transactions", "rolling_trans",
          "price_mean", "rolling_price_mean", "window_weeks")
        .orderBy("window_weeks", "dim")),
    // The reference's FULL batch lifecycle as ONE graded composition
    // (etl_main.py:320-403): weekly agg → densify → multi-window rolling
    // → per-dim z-scores → latest-week snapshot. Each stage is graded
    // individually above; this entry pins their COMPOSITION — column
    // handoff, zero-fill semantics, score-then-slice order (z-scores see
    // the full history, the slice happens after) — the way
    // corpus_prep_pipeline does for the corpus tier. Still exactly one
    // fact-scale shuffle (the weekly groupBy); every later stage runs on
    // the bounded weeks × dims frame.
    "housing_pipeline" -> ((s, d) =>
      Snapshot.latestWeek(Pipeline.anomaliesOrders(s, d),
        latestFrom = Some(Tables.orders(s, d)
          .select(CoreOps.weekStart(col("o_orderdate")).as("week"))))
        .select("week", "dim", "window_weeks", "transactions",
          "rolling_trans", "price_mean", "rolling_price_mean",
          "z_transactions", "z_rolling_trans",
          "anomaly_transactions", "anomaly_rolling_trans")
        .orderBy("window_weeks", "dim")),
    "qa_summary" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .withColumn("week", CoreOps.weekStart(col("o_orderdate")))
      Joins.qaSummary(o, col("week"), col("o_orderpriority"))
    }),
    "yoy_orders" -> ((s, d) =>
      Rolling.yoy(Pipeline.denseOrders(s, d), "transactions")
        .select("week", "dim", "transactions", "prev_year", "yoy_change")
        .orderBy("dim", "week")),
    // Finite-impulse EWMA over the densified weekly series: dyadic decay
    // weights (2^-j never rounds a double) make an exponentially-weighted
    // smoother engine-exact — the trick that lets an EWMA be
    // hash-compared at all.
    "ewma_trend" -> ((s, d) =>
      TimeSeriesOps.ewmaFinite(Pipeline.denseOrders(s, d), "dim", "week",
        "transactions", taps = 8)
        .select(col("week"), col("dim"), col("transactions"), col("ewma"))
        .orderBy("dim", "week")),
    // Exact mode per event_type with deterministic tie-break (smallest
    // value wins) — built-in mode() breaks ties by encounter order, which
    // no hash-compared contract can tolerate.
    "mode_stats" -> ((s, d) => {
      val e = Tables.events(s, d)
        .withColumn("__cents", CoreOps.moneyCents(col("value")))
      WeeklyAgg.exactMode(e, "event_type", "__cents")
        .select(col("event_type"),
          CoreOps.rnd(col("mode_value") / 100.0).as("mode_value"),
          col("n_mode"))
        .orderBy("event_type")
    }),
    // Composite-key exact mode — grades the multi-key partition path (and
    // a much wider output than mode_stats' 5 rows): per (week, type), the
    // most frequent cent value, ties broken deterministically by smallest
    // value. At cents granularity most groups tie at n_mode=1, which is
    // the point: the tie-break IS the contract under a hash compare.
    "mode_weekly" -> ((s, d) => {
      val e = Tables.events(s, d)
        .withColumn("week", CoreOps.weekStart(col("ts")))
        .withColumn("__cents", CoreOps.moneyCents(col("value")))
      WeeklyAgg.exactMode(e, Seq("week", "event_type"), "__cents")
        .select(col("week"), col("event_type"),
          CoreOps.rnd(col("mode_value") / 100.0).as("mode_value"),
          col("n_mode"))
        .orderBy("week", "event_type")
    }),
    // Typed Aggregator tier (SURVEY §2.H extension): exact integer moments
    // through the typed Dataset API (groupByKey → mapValues → custom
    // Aggregator). Long sums are associative+commutative → layout-
    // independent, so the derived mean/variance/stddev are one fixed IEEE
    // expression over exact inputs — hash-comparable, where a float
    // Welford merge would not be.
    "typed_agg_moments" -> ((s, d) => {
      import s.implicits._
      val pairs = Tables.events(s, d)
        .where(col("value").isNotNull)
        .select(col("event_type"),
          CoreOps.moneyCents(col("value")).cast("long").as("cents"))
        .as[(String, Long)]
      val agged = pairs.groupByKey(_._1).mapValues(_._2)
        .agg(MomentsAgg.toColumn.name("m"))
        .toDF("event_type", "m")
      val n = col("m.n")
      val nD = n.cast("double")
      val sD = col("m.sumCents").cast("double")
      val sqD = col("m.sumSqCents").cast("double")
      val varU = (sqD - sD * sD / nD) / (nD - 1.0) / 10000.0
      agged.select(
        col("event_type"), n.as("n"),
        CoreOps.rnd(sD / nD / 100.0).as("mean_value"),
        when(n === 1L, lit(null).cast("double"))
          .otherwise(CoreOps.rnd(varU)).as("var_value"),
        when(n === 1L, lit(null).cast("double"))
          .otherwise(CoreOps.rnd(sqrt(greatest(varU, lit(0.0)))))
          .as("std_value"))
        .orderBy("event_type")
    }),
    // True time-RANGE sliding frame over the irregular event stream: per
    // event, the trailing-hour count and money-sum for its event_type.
    // What ROWS frames cannot express off the densified grid.
    "sliding_range_agg" -> ((s, d) =>
      TimeSeriesOps.slidingRangeStats(Tables.events(s, d), "event_type",
        "ts", "value", windowMs = 3600000L)
        .select(col("event_id"), col("event_type"), col("n_window"),
          col("sum_window"))
        .orderBy("event_id")),
    // Robust median/MAD anomaly scores per event_type — the
    // outlier-resistant companion of anomaly_zscore, exact dyadic medians
    // over integer cents on both engines.
    "robust_zscore" -> ((s, d) =>
      TimeSeriesOps.robustZScores(Tables.events(s, d), "event_type",
        "value")
        .select(col("event_id"), col("event_type"), col("value"),
          col("robust_z"))
        .orderBy("event_id")),

    // Two-sided CUSUM change detection on weekly revenue per priority:
    // cumulative deviation from each key's own mean, alarming past $2M.
    // The sequential recursion runs as its closed form (prefix cumsum
    // minus seeded prefix extremum) in exact n-scaled cents — two prefix
    // windows on one (key, week) sort, no float mean anywhere.
    "cusum_changepoints" -> ((s, d) => {
      val weekly = Tables.orders(s, d)
        .withColumn("week", CoreOps.weekStart(col("o_orderdate")))
        .withColumn("__cents",
          CoreOps.moneyCents(col("o_totalprice")).cast("long"))
        .groupBy(col("o_orderpriority").as("priority"), col("week"))
        .agg(sum(col("__cents")).as("cents"))
      TimeSeriesOps.cusumChangepoints(weekly, "priority", "week", "cents",
        thresholdCents = 200000000L)
        .select("priority", "week", "cusum_up", "cusum_down",
          "alarm_up", "alarm_down")
        .orderBy("priority", "week")
    }),
    // Linear interpolation of interior gaps in a densified weekly price
    // series; edge gaps stay null (fill, don't extrapolate). The series
    // dims on o_custkey % 40 rather than the 5 priorities: the finer grid
    // has real interior gaps at EVERY graded SF (4722 of 13800 cells at
    // sf0.01, 11 at sf0.1) — on the priority grid the interpolation
    // branch would be vacuously green at the driver's sf0.01.
    "interpolate_gaps" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .withColumn("week", CoreOps.weekStart(col("o_orderdate")))
        .withColumn("dim", pmod(col("o_custkey"), lit(40)))
        .withColumn("__cents", CoreOps.moneyCents(col("o_totalprice")))
      val weekly = o.groupBy("week", "dim")
        .agg(when(count(col("__cents")) === 0, lit(null).cast("double"))
          .otherwise(CoreOps.rnd(
            sum(col("__cents")).cast("double") / 100.0 / count(col("__cents"))))
          .as("price_mean"))
      TimeSeriesOps.interpolateGaps(
        Densify.densify(weekly, fillZero = Seq.empty,
          gridFrom = Some(o.select(col("week"), col("dim")))),
        "price_mean")
        .select(col("week"), col("dim"), col("price_mean"),
          col("price_mean_interp"), col("is_interpolated"))
        .orderBy("dim", "week")
    }),

    // Scale-path approximate variant (SURVEY §4.3f): HLL distinct + quantile
    // sketch. Fully oracle-checked: the sketch quantiles equal the sorted
    // rank-⌈q·n⌉ element for groups under the accuracy bound (DuckDB
    // recomputes them exactly), the mean is exact cents, and the HLL count
    // rides in a tolerance boolean next to the exact count.
    "weekly_agg_approx" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val approx = ScaleOps.approxWeeklyStats(o, col("o_orderdate"),
        col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
      val exact = o
        .withColumn("week", CoreOps.weekStart(col("o_orderdate")))
        .withColumn("dim", col("o_orderpriority"))
        .groupBy("week", "dim")
        .agg(count_distinct(col("o_orderkey")).as("tx_exact"))
      approx.join(exact, Seq("week", "dim"))
        .select(col("week"), col("dim"), col("tx_exact"),
          (abs(col("transactions") - col("tx_exact"))
            <= greatest(lit(3.0), col("tx_exact") * 0.25)).as("hll_ok"),
          col("price_mean"), col("price_median"), col("price_p10"),
          col("price_p90"))
        .orderBy("week", "dim")
    }),

    // ---- mergeable-sketch rollups (SketchOps) ----
    // Two-level HLL rollup sharded by order year: the incremental-rollup
    // primitive (per-year sketches → union) gated two ways — est_merged
    // must agree with est_single within the HIP→composite estimator-switch
    // tolerance (the register merge is lossless; only the estimator
    // changes — observed divergence ≤1 %, gated at 4 %+abs-3), and the
    // merged estimate rides next to the exact distinct within sketch
    // tolerance (lgK=12 → 1.04 % RSE; the 8 %+abs-5 bound is ≈7σ,
    // deterministic because HLL is order-insensitive).
    // Count-min frequency estimates for the 10 heaviest parts: the
    // sketch tier's frequency member — d·w exact counters built in ONE
    // fact pass (per-key hash pairs explode map-locally into the
    // bounded matrix), probe joins broadcast. The CMS one-sided bound
    // (est ≥ true) is gated as a VALUE per key, and the whole sketch is
    // a deterministic pure function of its input (fixed hash rows), so
    // the estimates themselves hash-match.
    "countmin_parts" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val truth = li.where(col("l_partkey").isNotNull)
        .groupBy(col("l_partkey").as("k"))
        .agg(count(lit(1)).as("true_cnt"))
      val queries = truth.orderBy(col("true_cnt").desc, col("k")).limit(10)
      SketchOps.countMinEstimates(li, col("l_partkey"), queries)
        .withColumnRenamed("k", "part")
        .orderBy("part")
    }),
    "hll_rollup_orders" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val sk = SketchOps.hllTwoLevelDistinct(o, col("o_orderpriority"),
        col("o_custkey"), year(col("o_orderdate")))
      val exact = o.groupBy(col("o_orderpriority").as("g"))
        .agg(count_distinct(col("o_custkey")).as("cust_exact"))
      sk.join(exact, Seq("g"))
        .select(col("g").as("dim"), col("cust_exact"),
          (abs(col("est_merged") - col("est_single")).cast("double")
            <= greatest(lit(3.0), col("cust_exact") * lit(0.04))).as("merge_ok"),
          (abs(col("est_merged") - col("cust_exact")).cast("double")
            <= greatest(lit(5.0), col("cust_exact") * lit(0.08))).as("hll_ok"))
        .orderBy("dim")
    }),
    // Theta set algebra over 3-gram shingle vocabularies of two document
    // splits — the sketch path for "how much does corpus B overlap corpus
    // A" (decontamination triage) without the exact distinct-join. Exact
    // counts ride alongside; the gates use theta's error model (error
    // scales with the UNION cardinality: k=4096 → 1.56 % RSE, bound 5 %).
    // Non-vacuous at the graded sf: both shingle sets exceed k, so the
    // sketches are genuinely estimating, and intersection ≈ 25 % of the
    // union — well clear of the bound.
    "theta_shingle_overlap" -> ((s, d) => {
      val grams = Tables.documents(s, d)
        .select(pmod(col("doc_id"), lit(2)).as("split"),
          split(col("text"), " ").as("toks"))
        .where(size(col("toks")) >= 3)
        .select(col("split"), explode(expr(
          "transform(sequence(0, size(toks) - 3), i -> concat_ws(' ', slice(toks, i + 1, 3)))"))
          .as("gram"))
      val a = grams.where(col("split") === 0).select("gram")
      val b = grams.where(col("split") === 1).select("gram")
      val est = SketchOps.thetaSetEstimates(a, b, "gram")
      val j = a.distinct().withColumn("ina", lit(1))
        .join(b.distinct().withColumn("inb", lit(1)), Seq("gram"), "full_outer")
      val exact = j.agg(
        sum(when(col("ina").isNotNull && col("inb").isNotNull, 1L)
          .otherwise(0L)).as("inter_exact"),
        count(lit(1)).as("union_exact"),
        sum(when(col("ina").isNotNull && col("inb").isNull, 1L)
          .otherwise(0L)).as("diff_exact"))
      def ok(estC: Column, exactC: Column) =
        abs(estC - exactC).cast("double") <=
          greatest(lit(50.0), col("union_exact") * lit(0.05))
      est.crossJoin(exact).select(
        col("inter_exact"), col("union_exact"), col("diff_exact"),
        ok(col("inter_est"), col("inter_exact")).as("inter_ok"),
        ok(col("union_est"), col("union_exact")).as("union_ok"),
        ok(col("diff_est"), col("diff_exact")).as("diff_ok"))
    }),
    // Two-phase frequent-items over event types, sharded by week: shard
    // accumulate → combine → estimate. Cardinality (5) ≪ capacity, so the
    // counts are EXACT and shard-invariant — the oracle checks values,
    // not a tolerance; ties re-sorted deterministically (count desc, item).
    "approx_topk_events" -> ((s, d) =>
      SketchOps.topKTwoPhase(Tables.events(s, d), col("event_type"),
        CoreOps.weekStart(col("ts")), k = 10)
        .orderBy("rnk")),
    // KLL quantile rollup of order totals (integer cents) sharded by
    // year. get_n is gated exactly (the sketch preserves stream length);
    // p50/p90 are gated by requiring the merged sketch's quantile VALUE to
    // land between the exact rank-⌈0.44n⌉ and rank-⌈0.56n⌉ elements (resp.
    // [0.84, 0.96]) — a ±6 % rank window, ≈3× the k=200 rank-error bound,
    // wide enough that the sketch's randomized compaction cannot flap the
    // boolean. (The rank probe itself must be a foldable literal in
    // Spark's KLL surface, so the gate inverts: probe by probability,
    // check the value against the exact order statistics.)
    "kll_rollup_orders" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .withColumn("__cents", CoreOps.moneyCents(col("o_totalprice")))
      val merged = SketchOps.kllQuantileRollup(o, col("o_orderpriority"),
        col("__cents"), year(col("o_orderdate")))
      def rankElem(q: Double) = element_at(col("__sorted"),
        ceil(col("n_exact") * lit(q)).cast("int"))
      val exact = o.groupBy(col("o_orderpriority").as("g"))
        .agg(count(lit(1)).as("n_exact"),
          sort_array(collect_list(col("__cents"))).as("__sorted"))
        .select(col("g"), col("n_exact"),
          rankElem(0.5).as("p50_cents"), rankElem(0.9).as("p90_cents"),
          rankElem(0.44).as("__p44"), rankElem(0.56).as("__p56"),
          rankElem(0.84).as("__p84"), rankElem(0.96).as("__p96"))
      def sketchQ(q: Double) = call_function(
        "kll_sketch_get_quantile_bigint", col("kll_merged"), lit(q))
      merged.join(exact, Seq("g"))
        .select(col("g").as("dim"), col("n_exact"),
          col("p50_cents"), col("p90_cents"),
          (call_function("kll_sketch_get_n_bigint", col("kll_merged"))
            === col("n_exact")).as("n_match"),
          sketchQ(0.5).between(col("__p44"), col("__p56")).as("p50_ok"),
          sketchQ(0.9).between(col("__p84"), col("__p96")).as("p90_ok"))
        .orderBy("dim")
    }),

    // ---- CDC / MERGE tier (ChangeOps) ----
    // Batch MERGE over the orders snapshot: base (keys not ≡0 mod 4) takes
    // two change waves — v1 (+$10 on even keys), v2 (+$20 on keys ≡0 mod 6,
    // deleting keys ≡0 mod 12). Exercises every MERGE branch at the graded
    // SF: inserts (≡0 mod 4), updates, multi-version override (v2 over v1),
    // and deletes; the residue classes make each branch provably non-empty.
    "upsert_latest" -> ((s, d) => {
      val o = Tables.orders(s, d).select(col("o_orderkey"),
        col("o_orderstatus"),
        CoreOps.moneyCents(col("o_totalprice")).cast("long").as("price_cents"))
      val base = o.where(pmod(col("o_orderkey"), lit(4)) =!= 0)
      val chg1 = o.where(pmod(col("o_orderkey"), lit(2)) === 0)
        .withColumn("price_cents", col("price_cents") + 1000L)
        .withColumn("__version", lit(1L)).withColumn("__dead", lit(false))
      val chg2 = o.where(pmod(col("o_orderkey"), lit(6)) === 0)
        .withColumn("price_cents", col("price_cents") + 2000L)
        .withColumn("__version", lit(2L))
        .withColumn("__dead", pmod(col("o_orderkey"), lit(12)) === 0)
      ChangeOps.applyChanges(base, chg1.unionByName(chg2),
        Seq("o_orderkey"), col("__version"), col("__dead"))
        .orderBy("o_orderkey")
    }),
    // SCD2 history: per-customer order-status change stream compacted to
    // validity intervals. change_id (the surviving order key) rides along
    // to totalize the output order where one customer changes status twice
    // on one date.
    "scd2_history" -> ((s, d) => {
      val o = Tables.orders(s, d)
      ChangeOps.scd2(o.select(col("o_custkey"), col("o_orderdate"),
        col("o_orderkey").as("change_id"), col("o_orderstatus")),
        Seq("o_custkey"), col("o_orderdate"), col("change_id"),
        Seq("o_orderstatus"))
        .select(col("o_custkey"), col("o_orderstatus"), col("change_id"),
          col("effective_from"), col("effective_to"), col("is_current"))
        .orderBy("o_custkey", "effective_from", "change_id")
    }),

    // Snapshot diff: added/removed/changed keys plus the moved-column
    // count between two deterministic mutations of the orders table
    // (keys mod 7 absent from old → added; mod 11 absent from new →
    // removed; mod 5 price-perturbed in old → changed). The audit table a
    // snapshot swap publishes — and the input a selective recompute reads
    // instead of the reference's recompute-everything daily run.
    "snapshot_diff" -> ((s, d) => {
      val orders = Tables.orders(s, d)
      val oldSnap = orders.where(pmod(col("o_orderkey"), lit(7)) =!= 0)
        .withColumn("o_totalprice",
          when(pmod(col("o_orderkey"), lit(5)) === 0,
            col("o_totalprice") + lit(1.0))
            .otherwise(col("o_totalprice")))
      val newSnap = orders.where(pmod(col("o_orderkey"), lit(11)) =!= 0)
      ChangeOps.snapshotDiff(oldSnap, newSnap, Seq("o_orderkey"),
        Seq("o_totalprice", "o_orderstatus", "o_orderpriority"))
        .where(col("status") =!= "unchanged")
        .orderBy("o_orderkey")
    }),

    // Additive seasonal decomposition of daily order revenue: centered
    // 7-day trend (the weekly cycle cancels from it), per-weekday
    // seasonal from the detrended interior, residual — what
    // seasonality-aware anomaly detection thresholds instead of raw
    // values. All components fixed IEEE expressions over exact longs.
    "seasonal_decompose" -> ((s, d) =>
      TimeSeriesOps.seasonalDecompose(Tables.orders(s, d),
        col("o_orderdate"), CoreOps.moneyCents(col("o_totalprice")))
        .orderBy("day")),

    // Mann–Kendall trend test on the weekly revenue series: exact integer
    // S and tie-corrected variance numerator, one IEEE Z at the end. The
    // nonparametric drift alarm that assumes nothing about the series.
    "mann_kendall_trend" -> ((s, d) =>
      TimeSeriesOps.mannKendall(
        Tables.orders(s, d)
          .groupBy(CoreOps.weekStart(col("o_orderdate")).as("week"))
          .agg(sum(CoreOps.moneyCents(col("o_totalprice"))).as("rev_cents")),
        col("week"), col("rev_cents"))),

    // Autocorrelation of the same weekly revenue series at lags 1-6: the
    // persistence/seasonality screen; exact centered longs, quantized
    // products, one display division per lag.
    "acf_weekly" -> ((s, d) =>
      TimeSeriesOps.autocorrelation(
        Tables.orders(s, d)
          .groupBy(CoreOps.weekStart(col("o_orderdate")).as("week"))
          .agg(sum(CoreOps.moneyCents(col("o_totalprice"))).as("rev_cents")),
        col("week"), col("rev_cents"), maxLag = 6)
        .orderBy("lag")),

    // Theil–Sen robust trend of the same weekly revenue series: median
    // of pairwise slopes (29% breakdown point vs OLS's single-outlier
    // fragility), then the median-residual intercept. All medians pick
    // deterministic ranks over engine-identical IEEE slopes; the O(n²)
    // pair frame lives on the bounded weekly series only.
    "theil_sen_trend" -> ((s, d) =>
      TimeSeriesOps.theilSen(
        Tables.orders(s, d)
          .groupBy(CoreOps.weekStart(col("o_orderdate")).as("week"))
          .agg(sum(CoreOps.moneyCents(col("o_totalprice"))).as("rev_cents")),
        col("week"), col("rev_cents"))),

    // Single changepoint by binary segmentation on the weekly revenue
    // series: the split maximizing variance explained (two means vs
    // one), exact prefix sums + one fixed IEEE gain per candidate,
    // argmax tie-broken to the earliest split. Everything past the
    // caller's weekly aggregate lives on the bounded series.
    "changepoint_binseg" -> ((s, d) =>
      TimeSeriesOps.binsegChangepoint(
        Tables.orders(s, d)
          .groupBy(CoreOps.weekStart(col("o_orderdate")).as("week"))
          .agg(sum(CoreOps.moneyCents(col("o_totalprice"))).as("rev_cents")),
        col("week"), col("rev_cents"))),

    // Kendall τ-b between weekly revenue and weekly order count: the
    // tie-corrected concordance read completing the rank-association
    // family (Spearman = grid-rank Pearson, Mann–Kendall = τ vs time).
    // Exact integer C/D/tie counts; one IEEE τ at the end.
    "kendall_tau_weekly" -> ((s, d) =>
      StatOps.kendallTau(
        Tables.orders(s, d)
          .groupBy(CoreOps.weekStart(col("o_orderdate")).as("week"))
          .agg(sum(CoreOps.moneyCents(col("o_totalprice"))).as("rev_cents"),
            count(lit(1)).as("n_orders")),
        col("rev_cents"), col("n_orders"))),

    // Inter-arrival burstiness per event type: consecutive-event gaps per
    // (user, type) stream — the lag window keyed on the natural event-log
    // partitioning, (ts, event_id)-ordered so the gap sequence is unique
    // — rolled to exact (n, Σg, Σg²) per type; Goh–Barabási B and CV²
    // are fixed IEEE expressions over the exact sums.
    "interarrival_burstiness" -> ((s, d) =>
      TimeSeriesOps.interArrivalBurstiness(Tables.events(s, d),
        col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .orderBy("cls")),

    // Per-week Gini of order values: the inequality monitor ("is this
    // week's revenue one whale or a thousand minnows?"). Tie-aware rank
    // formula over the per-week value histogram — exact longs until one
    // final division; cumulative window PARTITIONED BY WEEK over
    // histogram rows.
    "gini_weekly" -> ((s, d) =>
      StatOps.giniByGroup(Tables.orders(s, d),
        CoreOps.weekStart(col("o_orderdate")),
        CoreOps.moneyCents(col("o_totalprice")))
        .withColumnRenamed("g", "week")
        .orderBy("week")),

    // Week-over-week revenue bridge: Δrevenue split into rate (average
    // ticket moved) and volume (count moved) effects that sum to the
    // delta exactly — the FP&A "why did the number move" decomposition.
    // Shift-join on the week grid, no windows at all.
    "revenue_bridge" -> ((s, d) =>
      ChangeOps.revenueBridge(Tables.orders(s, d),
        to_date(CoreOps.weekStart(col("o_orderdate"))),
        CoreOps.moneyCents(col("o_totalprice")))
        .orderBy("period")),

    // PSI per week vs the 1995-96 baseline: the scorecard-monitoring
    // standard — bins are EXACT baseline deciles (broadcast once),
    // binning is integer comparisons, empty bins densify and take
    // add-one smoothing, terms micro-quantize before the associative
    // per-week sum.
    "psi_drift_weekly" -> ((s, d) =>
      ChangeOps.psiDrift(Tables.orders(s, d),
        to_date(CoreOps.weekStart(col("o_orderdate"))),
        CoreOps.moneyCents(col("o_totalprice")),
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .orderBy("period")),

    // Week-over-week NUMERIC drift: exact KS distance between
    // consecutive weeks' order-price distributions — the KS companion
    // to mixture_drift's categorical JSD; integer sup-gap over the
    // merged cents histogram, windows partitioned by week throughout.
    "ks_drift_weekly" -> ((s, d) =>
      ChangeOps.distributionDrift(Tables.orders(s, d),
        to_date(CoreOps.weekStart(col("o_orderdate"))),
        CoreOps.moneyCents(col("o_totalprice")))
        .orderBy("period")),

    // Week-over-week mixture drift (Jensen–Shannon divergence + current
    // entropy) of two categorical series — the distribution-shape alarm
    // a pipeline runs per source. Per-category micro-unit terms sum
    // associatively, so the doubled-JSD integer hash-matches; only the
    // first (period, category) aggregate touches fact rows.
    "mixture_drift" -> ((s, d) => {
      val ev = ChangeOps.mixtureDrift(Tables.events(s, d),
        to_date(CoreOps.weekStart(col("ts"))), col("event_type"))
        .withColumn("series", lit("events_type"))
      val or = ChangeOps.mixtureDrift(Tables.orders(s, d),
        to_date(CoreOps.weekStart(col("o_orderdate"))),
        col("o_orderpriority"))
        .withColumn("series", lit("orders_priority"))
      ev.unionByName(or)
        .select("series", "period", "n", "n_prev", "jsd2_micro", "jsd",
          "entropy")
        .orderBy("series", "period")
    }),
    // Pearson χ² homogeneity drift per week over the same two categorical
    // series as mixture_drift (r8 verdict task 7): JSD sizes the shift,
    // χ² turns it into a thresholdable test statistic. Exact-integer
    // numerators, micro-quantized terms, every window period-partitioned
    // (extends the drift family's no-SinglePartition PlanSpec pin).
    "chisq_drift_weekly" -> ((s, d) => {
      val ev = ChangeOps.chiSquareDrift(Tables.events(s, d),
        to_date(CoreOps.weekStart(col("ts"))), col("event_type"))
        .withColumn("series", lit("events_type"))
      val or = ChangeOps.chiSquareDrift(Tables.orders(s, d),
        to_date(CoreOps.weekStart(col("o_orderdate"))),
        col("o_orderpriority"))
        .withColumn("series", lit("orders_priority"))
      ev.unionByName(or)
        .select("series", "period", "n", "n_prev", "dof", "chi2_micro",
          "chi2")
        .orderBy("series", "period")
    }),

    // Selective recompute composed on the diff: find the weeks the
    // snapshot delta touches (old AND new week of every non-unchanged
    // key), recompute ONLY those weeks from the new snapshot, and splice
    // them with the untouched weeks of the base aggregate. The oracle is
    // the FULL recompute over the new snapshot — the hash match proves
    // incremental == full, which is the entire point of maintaining the
    // diff. Affected weeks are a bounded frame (broadcast semi/anti
    // joins); only the two weekly aggregations touch fact-scale rows.
    "selective_recompute" -> ((s, d) => {
      import CoreOps.rnd
      val orders = Tables.orders(s, d)
      // the delta is deliberately SPARSE in weeks (mutations confined to
      // three years of a seven-year fixture), so most weeks flow through
      // the base-aggregate anti-join branch — a delta touching every week
      // would make the splice indistinguishable from a full recompute
      // and the contract vacuous
      val yr = year(col("o_orderdate"))
      val oldSnap = orders
        .where(!(pmod(col("o_orderkey"), lit(7)) === 0 && yr === 1994))
        .withColumn("o_totalprice",
          when(pmod(col("o_orderkey"), lit(5)) === 0 && yr === 1995,
            col("o_totalprice") + lit(1.0))
            .otherwise(col("o_totalprice")))
      val newSnap = orders
        .where(!(pmod(col("o_orderkey"), lit(11)) === 0 && yr === 1996))
      def weekly(df: DataFrame): DataFrame =
        df.withColumn("week", CoreOps.weekStart(col("o_orderdate")))
          .groupBy("week")
          .agg(count(lit(1)).as("n"),
            rnd(sum(CoreOps.moneyCents(col("o_totalprice")))
              .cast("double") / 100.0).as("total_price"))
      val touched = ChangeOps.snapshotDiff(oldSnap, newSnap,
        Seq("o_orderkey"),
        Seq("o_totalprice", "o_orderstatus", "o_orderpriority"))
        .where(col("status") =!= "unchanged")
        .select("o_orderkey")
      val affectedWeeks = oldSnap.join(touched, Seq("o_orderkey"), "left_semi")
        .unionByName(newSnap.join(touched, Seq("o_orderkey"), "left_semi"))
        .select(CoreOps.weekStart(col("o_orderdate")).as("week"))
        .distinct()
      weekly(oldSnap)
        .join(broadcast(affectedWeeks), Seq("week"), "left_anti")
        .unionByName(
          weekly(newSnap.withColumn("week",
              CoreOps.weekStart(col("o_orderdate")))
            .join(broadcast(affectedWeeks), Seq("week"), "left_semi")
            .drop("week")))
        .orderBy("week")
    }),

    // ---- bivariate statistics (StatOps) ----
    // Quantity-vs-price least squares per return flag: slope, intercept,
    // Pearson r, R² — all derived from exact long power sums (dollars, not
    // cents, so Σy² stays < 2^53 at every graded SF; see StatOps
    // precondition). The oracle replays the identical IEEE expression over
    // the identical exact sums, so the 4-dp rounding never straddles.
    "corr_regression" -> ((s, d) =>
      StatOps.bivariateStats(Tables.lineitem(s, d), col("l_returnflag"),
        col("l_quantity"), floor(col("l_extendedprice") + lit(0.5)))
        .withColumnRenamed("g", "l_returnflag")
        .orderBy("l_returnflag")),

    // Weekly revenue mean with a bootstrap 90% band: 100 deterministic
    // half-samples per week via a pure (orderkey, replicate) hash — no
    // RNG state, so both engines draw identical samples. The fan-out is
    // map-side and reduces straight to (week, replicate) partials;
    // shuffled volume is weeks×100 rows, never 100× the fact table.
    "bootstrap_ci_weekly" -> ((s, d) =>
      StatOps.bootstrapMeanCi(Tables.orders(s, d),
        CoreOps.weekStart(col("o_orderdate")), col("o_orderkey"),
        CoreOps.moneyCents(col("o_totalprice")))
        .withColumnRenamed("g", "week")
        .orderBy("week")),

    // RFM customer-value grid: per-customer recency/frequency/monetary,
    // each scored 1-5 against EXACT population quintiles (histogram +
    // prefix-sum thresholds — no sketch), rolled to the ≤125-cell grid.
    // One fact-scale exchange to the customer table; thresholds
    // broadcast back; scoring map-only.
    "rfm_segments" -> ((s, d) =>
      EventAnalytics.rfmSegments(Tables.orders(s, d), col("o_custkey"),
        col("o_orderdate"), CoreOps.moneyCents(col("o_totalprice")))
        .orderBy("r_score", "f_score", "m_score")),

    // Spearman rank correlation of quantity vs price: the monotone /
    // robust companion to corr_regression's Pearson. Tie-aware midranks
    // off the marginal histograms' prefix sums, snapped to a 1e4
    // percentile grid with one integer floor division, then Pearson over
    // exact grid-rank power sums weighted by the joint histogram — ONE
    // fact-scale exchange (to the joint histogram); every window orders
    // a value-domain-bounded marginal, never fact rows.
    "spearman_corr" -> ((s, d) =>
      StatOps.spearman(Tables.lineitem(s, d),
        col("l_quantity"), floor(col("l_extendedprice") + lit(0.5)))),

    // Welch two-sample experiment ledger, the standard validation pair an
    // experimentation platform runs: an A/A null (user-parity split on
    // events — every metric in this fixture is iid, so every |t| < 1.96)
    // and a positive control with a KNOWN effect (discount dollars by
    // discount tier — significant by construction), proving the pipeline
    // can both stay quiet and fire. One single-pass conditional aggregate
    // per contrast; six exact-long partials per group cross each exchange.
    "ab_welch" -> ((s, d) => {
      val aa = StatOps.welchTTest(Tables.events(s, d), col("event_type"),
        pmod(col("user_id"), lit(2)) === 0,
        CoreOps.moneyCents(col("value")))
        .withColumn("contrast", lit("user_parity_aa"))
      val ctl = StatOps.welchTTest(Tables.lineitem(s, d),
        col("l_returnflag"), col("l_discount") > 0.05,
        CoreOps.moneyCents(col("l_extendedprice") * col("l_discount")))
        .withColumn("contrast", lit("discount_control"))
      aa.unionByName(ctl)
        .select("contrast", "g", "n_a", "n_b", "mean_a", "mean_b",
          "t_stat", "significant")
        .orderBy("contrast", "g")
    }),

    // Kaplan–Meier time-to-first-purchase with administrative censoring
    // at day 3: subjects converting past the horizon leave the risk set
    // without counting — the estimator a naive "share converted by day
    // t" corrupts once censoring exists. One per-user aggregate touches
    // fact rows; the product-limit runs as a micro-unit ln-sum over the
    // ≤4-row duration table.
    "km_conversion" -> ((s, d) =>
      StatOps.kmSurvival(Tables.events(s, d), col("user_id"), col("ts"),
        col("event_type") === "purchase", horizonDays = 3)
        .orderBy("t_days")),

    // Nelson–Aalen cumulative hazard over the same censored durations:
    // the counting-process companion to km_conversion — every increment
    // an exact integer division, the cumulative hazard an exact long sum,
    // and the Fleming–Harrington survival read alongside. Where KM says
    // "what fraction survives", NA says "how much risk has accumulated".
    "na_hazard" -> ((s, d) =>
      StatOps.naHazard(Tables.events(s, d), col("user_id"), col("ts"),
        col("event_type") === "purchase", horizonDays = 3)
        .orderBy("t_days")),

    // Calibration reliability diagram of a heuristic [0,1] scorer (the
    // capped-value score) against the purchase label: per-decile n /
    // positives / mean prediction / observed rate / gap, all exact
    // integer arithmetic — the "does 0.7 mean 70%?" audit that AUC's
    // ranking read cannot answer. Score: value cents capped at 500.00,
    // rescaled to micro-units (×20 — exact).
    "reliability_bins" -> ((s, d) =>
      StatOps.reliabilityBins(
        Tables.events(s, d).where(col("value").isNotNull),
        col("event_type") === "purchase",
        least(CoreOps.moneyCents(col("value")).cast("long"), lit(50000L))
          * lit(20L),
        bins = 10)
        .orderBy("bin")),
    // Murphy decomposition over the same scorer and bin grid: Brier =
    // REL − RES + UNC, every squared term an exact micro² long before
    // its sum, the direct fact-scale Brier alongside so the binning
    // residual is visible. One row, four IEEE divisions at the end.
    // Weekly purchase-rate Wilson bands: the error bar a conversion
    // readout ships with, correct at small n / extreme rates where the
    // Wald band collapses. One (n, pos) aggregate; the interval is one
    // fixed IEEE expression both engines evaluate identically.
    "wilson_rates" -> ((s, d) =>
      StatOps.wilsonIntervals(Tables.events(s, d),
        date_trunc("week", col("ts")), col("event_type") === "purchase")
        .withColumnRenamed("g", "week")
        .orderBy("week")),
    "brier_decomposition" -> ((s, d) =>
      StatOps.brierDecomposition(
        Tables.events(s, d).where(col("value").isNotNull),
        col("event_type") === "purchase",
        least(CoreOps.moneyCents(col("value")).cast("long"), lit(50000L))
          * lit(20L),
        bins = 10)),

    // Multi-touch attribution: first/last/linear credit per channel for
    // every user path that reaches a purchase — integer micro-credit
    // summing to exactly 1e6 per converting user under each model
    // (linear's division remainder goes to the last touch). ONE user-key
    // exchange; the melt is over the 4-channel rollup.
    "attribution_credit" -> ((s, d) =>
      EventAnalytics.attribution(Tables.events(s, d), col("user_id"),
        col("ts"), col("event_type"), col("event_id"), "purchase")
        .orderBy("model", "channel")),

    // Holt linear-trend fit + 4-week forecast of weekly revenue: the
    // time-series tier's first forward-looking op. The recurrence runs in
    // scaled-integer state (α=1/2, β=3/10, den=10) on the driver over the
    // BOUNDED weekly series — 100 TB of orders is still ~100 weekly rows
    // — and the oracle replays it digit-for-digit as a recursive CTE.
    "holt_forecast" -> ((s, d) =>
      TimeSeriesOps.holtLinear(
        Tables.orders(s, d)
          .groupBy(CoreOps.weekStart(col("o_orderdate")).as("week"))
          .agg(sum(CoreOps.moneyCents(col("o_totalprice"))).as("rev_cents")),
        col("week"), col("rev_cents"),
        aNum = 5, bNum = 3, den = 10, horizon = 4)
        .orderBy("ord", "kind")),

    // Two-arm log-rank test on time-to-first-purchase, arms split by
    // user-id parity (deterministic, oracle-expressible): the
    // inferential closer of the survival family — KM/NA draw the curves,
    // this says whether they differ beyond chance. Micro-quantized
    // hypergeometric O−E and variance summed as exact longs; one
    // fact-scale exchange, everything after bounded by 2·(horizon+1).
    "logrank_arms" -> ((s, d) =>
      StatOps.logRank(Tables.events(s, d), col("user_id"), col("ts"),
        col("event_type") === "purchase",
        (col("user_id") % 2).cast("string"), horizonDays = 3)),

    // Cohort LTV curve: users join their first-event week; cumulative
    // purchase revenue per cohort at each whole-week age, divided by
    // cohort size as truncating micro-cents. One user window + one
    // (cohort, age) aggregate; the cumulative window is cohort-
    // partitioned (never a global single partition).
    "cohort_ltv" -> ((s, d) =>
      EventAnalytics.cohortLtv(Tables.events(s, d), col("user_id"),
        col("ts"),
        when(col("event_type") === "purchase",
          CoreOps.moneyCents(col("value")).cast("long")))
        .orderBy("cohort_week", "age_weeks")),

    // Cross-correlation between weekly event volume and weekly purchase
    // revenue at lags −3..3 — which series leads? The two bounded weekly
    // series align by inner join; centered integers, one fixed-IEEE
    // quantized product per pair, full-series normalization.
    "ccf_volume_revenue" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val x = ev.where(col("ts").isNotNull)
        .groupBy(CoreOps.weekStart(col("ts")).as("week"))
        .agg(count(lit(1)).as("n_events"))
      val y = ev.where(col("ts").isNotNull &&
          col("event_type") === "purchase" && col("value").isNotNull)
        .groupBy(CoreOps.weekStart(col("ts")).as("week"))
        .agg(sum(CoreOps.moneyCents(col("value")).cast("long"))
          .as("rev_cents"))
      TimeSeriesOps.crossCorrelation(x, col("week"), col("n_events"),
        y, col("week"), col("rev_cents"), maxLag = 3)
        .orderBy("lag")
    }),

    // Robust location per return flag: mean vs 10%-trimmed vs winsorized
    // extended price — exact rank cuts (no approximate quantiles), exact
    // long sums, clamp boundaries from conditional aggregation on the
    // SAME key exchange as the rank window.
    "robust_means" -> ((s, d) =>
      StatOps.robustMeans(Tables.lineitem(s, d), col("l_returnflag"),
        CoreOps.moneyCents(col("l_extendedprice")).cast("long"),
        loBp = 1000, hiBp = 1000)
        .orderBy("key")),

    // Fightin'-Words weighted log-odds: which tokens discriminate src0
    // from src1, with the full-corpus background as informative Dirichlet
    // prior (α_w = bg_w/100 carried as an exact rational). One
    // (source, token) hash aggregate at fact scale; vocab-bounded after.
    "log_odds_tokens" -> ((s, d) =>
      CorpusOps.logOddsTokens(Tables.documents(s, d), "source", "text",
        srcA = "src0", srcB = "src1", priorNum = 1L, priorDen = 100L,
        minCount = 5L)
        .orderBy(col("z").desc, col("token"))),

    // Retrieval-quality eval: nDCG@10 of the BM25 ranking against graded
    // term-overlap relevance, three queries at once — one fact-scale
    // (query, doc, term) aggregate feeds scorer AND labels; both rank
    // windows are rank-predicate-filtered so WindowGroupLimit keeps
    // per-partition state k-bounded.
    "ndcg_bm25" -> ((s, d) =>
      CorpusOps.ndcgEval(Tables.documents(s, d), "doc_id", "text",
        queries = Seq(1L -> Seq("spark", "join", "query"),
          2L -> Seq("stream", "window", "merge"),
          3L -> Seq("hash", "scan")), k = 10)
        .orderBy("qid")),

    // EWMA control chart of weekly order revenue (λ=1/5, 3σ): the
    // small-persistent-shift monitor closing the chart family (z-score
    // flags spikes, CUSUM localizes drift onset, EWMA alarms fastest on
    // sustained small shifts). Scaled-integer recurrence on the bounded
    // weekly series; exact HUGEINT-safe moments behind the limits.
    "ewma_control" -> ((s, d) =>
      TimeSeriesOps.ewmaControl(
        Tables.orders(s, d)
          .groupBy(CoreOps.weekStart(col("o_orderdate")).as("week"))
          .agg(sum(CoreOps.moneyCents(col("o_totalprice"))).as("rev_cents")),
        col("week"), col("rev_cents"), aNum = 2, den = 10, lSigma = 3.0)
        .orderBy("ord")),

    // Binary-relevance retrieval eval: MRR@10 and AP@10 of the same BM25
    // ranking, relevant = contains EVERY query term (the conjunctive
    // truth nDCG's graded overlap can't test). Shares ndcg's single
    // fact-scale aggregate shape; integer-exact reciprocal/precision
    // terms; per-query rollup bounded by |queries|.
    "retrieval_mrr_map" -> ((s, d) =>
      CorpusOps.retrievalEval(Tables.documents(s, d), "doc_id", "text",
        queries = Seq(1L -> Seq("spark", "join"),
          2L -> Seq("stream", "window"),
          3L -> Seq("hash", "scan")), k = 10)
        .orderBy("qid")),

    // Top-30 adjacent-token collocations by PMI (min bigram count 5):
    // the phrase-mining read. Map-only slice+zip bigram generation, ONE
    // fact-scale (a, b) aggregate; margins and total derive from it
    // (vocab-bounded, broadcast back); the global top-k window runs over
    // the floored collocation table, not the corpus.
    "pmi_collocations" -> ((s, d) =>
      CorpusOps.pmiCollocations(Tables.documents(s, d), "text",
        minCount = 5L, k = 30)
        .orderBy("rk")),

    // Per-source token-distribution entropy + ln(vocab) normalization:
    // the boilerplate/templating detector of the mixture-curation read.
    // One fact-scale (source, token) aggregate; c·ln c terms micro-
    // quantized before the per-source sum; vocab-bounded after.
    "token_entropy_source" -> ((s, d) =>
      CorpusOps.tokenEntropy(Tables.documents(s, d), "source", "text")
        .orderBy("source")),

    // Top-30 BPE merge candidates (step 1 of subword-tokenizer
    // training): adjacent char pairs weighted by word frequency. The
    // corpus reduces to the (word, count) vocabulary in ONE fact-scale
    // aggregate; the pair explosion runs over the vocabulary only — the
    // actual trick that makes iterative BPE training feasible at scale.
    "bpe_merge_pairs" -> ((s, d) =>
      CorpusOps.bpeMergePairs(Tables.documents(s, d), "text", k = 30)
        .orderBy("rk")),
    // The loop bpe_merge_pairs proved one step of, run to 8 merges:
    // corpus collapses to the segmented (form, count) vocabulary ONCE;
    // each round is a vocabulary-scale pair agg + 1-row argmax + a
    // map-only string rewrite, re-checkpointed with the superseded
    // generation freed. The oracle unrolls all 8 rounds as chained CTEs
    // (the pagerank discipline) — merges, including multi-char ones
    // (round 6 merges m+er), hash-match end to end.
    "bpe_train_merges" -> ((s, d) =>
      CorpusOps.bpeTrainMerges(Tables.documents(s, d), "text", rounds = 8,
        fanKey = Some(col("doc_id")))
        .orderBy("round")),
    // The trained tokenizer APPLIED at a REAL merge count (64 rounds):
    // the encode is vocabulary-scale — training's final segmented
    // vocabulary already carries every merge, so the per-form token
    // count is one expression over it and the corpus-scale pass is ONE
    // broadcast join of occurrences against (form → n_tokens). Plan
    // depth on the fact side is independent of the merge count
    // (PlanSpec pins: one broadcast join, zero regex rewrites on the
    // corpus). Train small, apply wide — now true at production
    // vocabulary sizes, not just toy ones.
    "bpe_encode_stats" -> ((s, d) =>
      CorpusOps.bpeEncodeStats(Tables.documents(s, d), "source", "text",
        bpeModel(s, d))
        .orderBy("source")),
    // The tokenize step a pipeline actually SHIPS: per-document token-id
    // sequences off the shared trained model (train once — memoized —
    // apply wide), graded at position granularity so every id at every
    // position hash-matches the oracle's replayed segmentation. Ids are
    // deterministic: base symbols lexicographic, then merges in merge
    // order.
    "bpe_encode_ids" -> ((s, d) =>
      bpeEncoded(s, d)
        .select(col("doc_id"), posexplode(col("token_ids"))
          .as(Seq("__p0", "token_id")))
        .select(col("doc_id"), (col("__p0") + 1).cast("long").as("pos"),
          col("token_id"))
        .orderBy("doc_id", "pos")),
    // The tokenizer DEPLOYED: a micro-batch ingest loop encodes every
    // arriving micro-batch against the FROZEN full-corpus BPE model
    // (train once at deploy — the memoized model; ids are a property of
    // the model, a novel symbol raises rather than shifting shipped
    // ids), appending per-doc token count + the position-weighted id
    // checksum. The oracle replays training AND the slice's whole
    // segmentation, so ingest-time tokenization is proven equal to the
    // batch encode id-for-id.
    "stream_bpe_encode" -> ((s, d) => {
      val model = bpeModel(s, d)
      ingestMicroBatches(s, stagedDocBatches(s, d), "bpe", "out") {
        case Seq(outS) =>
          Tables.documents(s, d).limit(0)
            .select(col("doc_id"), lit(0L).as("n_tokens"),
              lit(0L).as("id_dot"))
            .write.saveAsTable(outS)
          MicroBatchLoop(
            each = b => CorpusOps.bpeEncodeIds(b, "doc_id", "text", model)
              .select(col("doc_id"),
                size(col("token_ids")).cast("long").as("n_tokens"),
                aggregate(zip_with(col("token_ids"),
                    sequence(lit(1L),
                      size(col("token_ids")).cast("long")),
                    (t, i) => t.cast("long") * i),
                  lit(0L), (a, x) => a + x).as("id_dot"))
              .write.mode("append").saveAsTable(outS),
            result = () => s.table(outS).orderBy("doc_id"))
      }
    }),
    // packSequences fed REAL encoded-sequence lengths (size(token_ids))
    // instead of whitespace estimates — the id materialization and the
    // packing layout composed, both off the one memoized encode pass.
    "bpe_pack_ids" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      CorpusOps.packSequences(
        docs.select(col("doc_id"), col("source"))
          .join(bpeEncoded(s, d), Seq("doc_id")),
        "doc_id", "source", size(col("token_ids")).cast("long"),
        budget = 256)
        .orderBy("doc_id")
    }),
    // The lossless-tokenizer roundtrip a shipped tokenizer owes its
    // consumers: decode ∘ encode = id, graded per document. The decoded
    // stream loses word boundaries (ids carry no delimiter), so the
    // reconstruction target is the text with the split delimiter
    // removed. Contract-boolean oracle (the repo's LSH-quality
    // convention): DuckDB emits literal TRUE per nonempty document; the
    // engine must EARN it by matching the real source text — any
    // symbol→id permutation, vocabulary drift, or assembly-order bug
    // flips the value (and a dropped document breaks the row count).
    "bpe_decode_roundtrip" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val dec = CorpusOps.bpeDecode(bpeEncoded(s, d), "doc_id",
        CorpusOps.bpeTokenIdTable(bpeModel(s, d)))
      docs.select(col("doc_id"),
          translate(col("text"), " ", "").as("__exp"))
        .where(length(col("__exp")) > 0)
        .join(dec, Seq("doc_id"))
        .select(col("doc_id"),
          (col("decoded") === col("__exp")).as("roundtrip_ok"))
        .orderBy("doc_id")
    }),
    // The dataset-card row for the pack step: per shard, how many
    // budget-256 training sequences the layout fills, the padding left
    // in the tail sequence, and how many documents span a pack boundary
    // — a packing regression reads as a metric here, not only as a hash
    // change in the full bpe_pack_ids layout. Same replayed layout as
    // the oracle's (the bpePackIdsOracle CTEs aggregated per shard).
    "bpe_pack_report" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      CorpusOps.packReport(
        CorpusOps.packSequences(
          docs.select(col("doc_id"), col("source"))
            .join(bpeEncoded(s, d), Seq("doc_id")),
          "doc_id", "source", size(col("token_ids")).cast("long"),
          budget = 256),
        budget = 256)
        .orderBy("shard")
    }),

    // Inverse-cloze-task pairs: per document a hash-picked 10-token
    // chunk becomes the pseudo-query, the remainder its positive
    // context — the self-supervised (query, passage) pretraining table
    // a dense retriever starts from. Pure per-row expressions, zero
    // exchanges; the pick is content-addressed and engine-stable.
    "ict_pairs" -> ((s, d) =>
      CorpusOps.ictPairs(Tables.documents(s, d), "doc_id", "text",
        chunkTokens = 10)
        .orderBy("doc_id")),
    // The ICT pairs dealt into the in-batch-negatives layout a
    // contrastive dataloader consumes: batch/slot off the two-pass
    // prefix sum in content-addressed order — a pure function of the
    // corpus, never a corpus-wide row_number window. The full
    // assignment is hash-graded (the oracle replays the md5 order and
    // the integer deal).
    "contrastive_batches" -> ((s, d) =>
      CorpusOps.contrastiveBatches(
        CorpusOps.ictPairs(Tables.documents(s, d), "doc_id", "text",
          chunkTokens = 10).select(col("doc_id")),
        "doc_id", batchSize = 64)
        .select(col("doc_id"), col("batch_id"), col("slot"))
        .orderBy("doc_id")),

    // Curation-funnel readout (the dataset-card row): per-stage
    // survivor counts for raw → nonempty → length band [100, 500] →
    // exact-dedup survivor, shares of raw alongside. Stage flags from
    // ONE aggregate; the dedup stage is a digest-keyed count (text
    // never crosses the exchange).
    "curation_funnel" -> ((s, d) =>
      CorpusOps.curationFunnel(Tables.documents(s, d), "doc_id", "text",
        minChars = 100, maxChars = 500)
        .orderBy("stage_idx")),

    // Hard-negative mining for reranker training: per query, the top-5
    // docs that score high on BM25 while failing the conjunctive truth
    // — the confusable examples a trained reranker learns from (random
    // negatives are trivially separable and teach nothing). Shares the
    // eval tier's fact-scale aggregate; rank<=k via WindowGroupLimit.
    "hard_negatives" -> ((s, d) =>
      CorpusOps.hardNegatives(Tables.documents(s, d), "doc_id", "text",
        queries = Seq(1L -> Seq("spark", "join"),
          2L -> Seq("stream", "window"),
          3L -> Seq("hash", "scan")), k = 5)
        .orderBy("qid", "neg_rank")),

    // Pseudo-relevance-feedback expansion: top-20 terms characterizing
    // the BM25 top-10 for ("spark","join"), scored f_tf·idf. Shares the
    // scorer's single fact-scale aggregate; the corpus-df pass is
    // candidate-filtered map-side by a broadcast of the bounded
    // feedback vocabulary. Closes the retrieval loop: rank, grade,
    // IMPROVE the query.
    "prf_expansion" -> ((s, d) =>
      CorpusOps.prfExpansion(Tables.documents(s, d), "doc_id", "text",
        terms = Seq("spark", "join"), k = 10, m = 20)
        .orderBy("rk")),

    // Difference-in-differences on order value, BUILDING-segment
    // customers vs the rest, pre/post 1998: the causal read a raw
    // before/after gets wrong when both groups drift. Four exact
    // (sum, n) cells off ONE fact-scale aggregate after the broadcast
    // dimension join; DID is one IEEE expression over them.
    "did_orders" -> ((s, d) => {
      val o = Tables.orders(s, d).join(
        Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      StatOps.didEstimate(o,
        treated = col("c_mktsegment") === "BUILDING",
        post = col("o_orderdate") >= lit("1998-01-01").cast("date"),
        value = CoreOps.moneyCents(col("o_totalprice")))
    }),

    // Smoothed target encoding of market segment against order value
    // (m=100 pseudo-counts), with the leave-rest complement mean as the
    // leakage check: one fact-scale aggregate after the broadcast
    // dimension join; both encodings single ratios of exact integer
    // products (the global mean rides as the rational S/N).
    "target_encoding" -> ((s, d) => {
      val o = Tables.orders(s, d).join(
        Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      StatOps.targetEncoding(o, category = col("c_mktsegment"),
        y = CoreOps.integralDiv(CoreOps.moneyCents(col("o_totalprice")),
          100L), m = 100L)
        .orderBy("category")
    }),

    // Neyman-optimal sampling allocation of a 10k audit budget across
    // order priorities, ∝ N_h·σ_h of the order value: the label-budget
    // op that beats proportional whenever strata spreads differ. One
    // fact-scale aggregate; largest-remainder integer shares sum to the
    // budget exactly; whole currency units (the CUPED overflow lesson).
    "neyman_allocation" -> ((s, d) =>
      StatOps.neymanAllocation(Tables.orders(s, d),
        stratum = col("o_orderpriority"),
        value = CoreOps.integralDiv(
          CoreOps.moneyCents(col("o_totalprice")), 100L),
        budget = 10000L)
        .orderBy("stratum")),

    // CUPED variance reduction: per-customer pre-1998 revenue as the
    // covariate for post-1998 revenue — var(ŷ) derived ALGEBRAICALLY
    // from the five exact long sums of one unit-level aggregate (never
    // a second pass over adjusted rows). Whole currency units, not
    // cents: Σy² over per-customer TOTALS squares the money scale, and
    // cents would overflow 2⁶³ at TPC-H magnitudes (the op's documented
    // bound — this query is the worked example).
    "cuped_orders" -> ((s, d) => {
      val cutoff = lit("1998-01-01").cast("date")
      val o = Tables.orders(s, d)
        .withColumn("__units",
          CoreOps.integralDiv(CoreOps.moneyCents(col("o_totalprice")), 100L))
      StatOps.cupedAdjusted(o, unit = col("o_custkey"),
        x = when(col("o_orderdate") < cutoff, col("__units"))
          .otherwise(lit(0L)),
        y = when(col("o_orderdate") >= cutoff, col("__units"))
          .otherwise(lit(0L)))
    }),

    // Split-conformal 90% band on the Holt forecast: calibration scores
    // are the fit's exact one-step |residuals|, q the ceil((n+1)·0.9)-th
    // smallest — finite-sample coverage with no distributional
    // assumption, the honest uncertainty readout next to the point line.
    "conformal_interval" -> ((s, d) =>
      TimeSeriesOps.conformalForecast(
        Tables.orders(s, d)
          .groupBy(CoreOps.weekStart(col("o_orderdate")).as("week"))
          .agg(sum(CoreOps.moneyCents(col("o_totalprice"))).as("rev_cents")),
        col("week"), col("rev_cents"), aNum = 5, bNum = 3, den = 10,
        horizon = 4, coverBp = 9000)
        .orderBy("ord")),

    // Holt-Winters additive seasonal forecast of weekly order revenue
    // (p=4, α=2/10 β=1/10 γ=3/10, 8 weeks ahead): the seasonal closer of
    // the forecasting family — Holt's trend can't carry a cycle.
    // Scaled-integer recurrence over the bounded weekly series; the
    // oracle replays it digit-for-digit with the seasonal ring as a
    // recursive-CTE list column.
    "holt_winters" -> ((s, d) =>
      TimeSeriesOps.holtWinters(
        Tables.orders(s, d)
          .groupBy(CoreOps.weekStart(col("o_orderdate")).as("week"))
          .agg(sum(CoreOps.moneyCents(col("o_totalprice"))).as("rev_cents")),
        col("week"), col("rev_cents"), aNum = 2, bNum = 1, gNum = 3,
        den = 10, period = 4, horizon = 8)
        .orderBy("ord", "kind")),

    // Mutual information + joint entropy over three categorical pairs —
    // the model-free association screen (label leakage / feature
    // redundancy). Exact integer joint histogram; marginals are windows
    // over the bounded contingency table; micro-unit log terms.
    "mutual_information" -> ((s, d) => {
      def tag(df: DataFrame, name: String) = df.withColumn("contrast", lit(name))
      val a = tag(StatOps.mutualInformation(Tables.events(s, d),
        col("event_type"), dayofweek(col("ts")).cast("long")),
        "event_type_x_weekday")
      val b = tag(StatOps.mutualInformation(Tables.orders(s, d),
        col("o_orderpriority"), col("o_orderstatus")),
        "priority_x_status")
      val c = tag(StatOps.mutualInformation(Tables.documents(s, d),
        col("lang"), col("source")), "lang_x_source")
      a.unionByName(b).unionByName(c)
        .select("contrast", "n", "mi_micro", "mi", "h_joint")
        .orderBy("contrast")
    }),

    // Exact two-sample KS distance on the auc_scores contrasts: the
    // sup-CDF-gap computed as an integer max over the merged histogram's
    // prefix sums — no float CDF, ties exact; the distribution-shift
    // alarm to pair with the mean (Welch) and ranking (AUC) reads.
    "ks_test" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .where(col("event_type").isin("purchase", "click"))
      val a = StatOps.ksTest(ev, col("event_type") === "purchase",
        CoreOps.moneyCents(col("value")))
        .withColumn("contrast", lit("purchase_vs_click_value"))
      val b = StatOps.ksTest(Tables.documents(s, d),
        col("lang") === "en", col("n_chars"))
        .withColumn("contrast", lit("english_vs_rest_length"))
      a.unionByName(b)
        .select("contrast", "n_a", "n_b", "d_num", "d_stat")
        .orderBy("contrast")
    }),

    // Exact ROC-AUC of two ranking contrasts (does `value` separate
    // purchases from clicks; does length separate English docs from the
    // rest) — the rank-based effect-size companion to ab_welch's t-test,
    // computed histogram-first: no global rank/sort of the input ever
    // runs, the U numerator folds as exact longs over the score
    // histogram's prefix sum. Ties are exact (tied scores share a bin).
    "auc_scores" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .where(col("event_type").isin("purchase", "click"))
      val a = StatOps.aucHistogram(ev, col("event_type") === "purchase",
        CoreOps.moneyCents(col("value")))
        .withColumn("contrast", lit("purchase_vs_click_value"))
      val b = StatOps.aucHistogram(Tables.documents(s, d),
        col("lang") === "en", col("n_chars"))
        .withColumn("contrast", lit("english_vs_rest_length"))
      a.unionByName(b)
        .select("contrast", "u2", "n_pos", "n_neg", "auc")
        .orderBy("contrast")
    }),

    // Reciprocal-rank fusion of two incomparable ranking signals per
    // language stratum (quality prior × length prior), k = 60: the
    // calibration-free merge a retrieval stack uses. Strata rank in
    // partitioned windows — deliberately no global-sort variant.
    "rrf_fusion" -> ((s, d) =>
      RankFusion.rrfFuse(
        TextFunctions.withQualityColumns(Tables.documents(s, d), "text"),
        "lang", "doc_id", Seq(col("quality"), col("n_chars")),
        k = 60, topN = 10)
        .select("lang", "doc_id", "rank_1", "rank_2", "rrf", "fused_rank")
        .orderBy("lang", "fused_rank")),

    // MMR diversity re-ranking at λ=1/2 over the brute top-10 cosine
    // candidates of 5 query vectors: greedy `rel − maxSimToSelected`
    // picks, everything quantized to 4-dp integer units so the full
    // 5-step greedy trace hash-matches the oracle's unrolled replay.
    // Candidate selection ranks by the QUANTIZED score (cid ties) so
    // both engines cut the identical top-10.
    "mmr_rerank" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val e = Tables.embeddings(s, d)
      val q = e.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      def q4(c: Column): Column =
        floor(c * lit(10000.0) + lit(0.5)).cast("long")
      val cands = e
        .select(col("vec_id").as("cid"), col("embedding").as("ce"))
        .crossJoin(broadcast(q))
        .where(col("cid") =!= col("qid"))
        .withColumn("rel_q", q4(graft.expressions.CosineSimilarity
          .cosineFast(col("qe"), col("ce"))))
        .withColumn("__rn", row_number().over(Window.partitionBy(col("qid"))
          .orderBy(col("rel_q").desc, col("cid").asc)))
        .where(col("__rn") <= 10)
        .select(col("qid"), col("cid"), col("rel_q"), col("ce"))
      val sims = cands.as("a")
        .join(cands.as("b"),
          col("a.qid") === col("b.qid") && col("a.cid") =!= col("b.cid"))
        .select(col("a.qid").as("qid"), col("a.cid").as("ca"),
          col("b.cid").as("cb"),
          q4(graft.expressions.CosineSimilarity
            .cosineFast(col("a.ce"), col("b.ce"))).as("sim_q"))
      RankFusion.mmrRerank(cands.select("qid", "cid", "rel_q"), sims, k = 5)
        .orderBy("qid", "mmr_rank")
    }),

    // ---- data-quality expectations (DqOps) ----
    // One governed report over orders: four single-scan row rules (two
    // chosen to FIRE on this data — price cap and freshness — so the
    // violation path is non-vacuous), a key-multiplicity rule, and
    // referential integrity against the active-customer slice (negative
    // balances exist at every SF, so orphans > 0).
    "dq_expectations" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val rowRules = DqOps.expectations(o, Seq(
        "accepted_status" -> col("o_orderstatus").isin("F", "O"),
        "not_null_custkey" -> col("o_custkey").isNotNull,
        "price_cap_400k" -> (col("o_totalprice") > 0.0 &&
          col("o_totalprice") <= 400000.0),
        "fresh_before_1998" -> (col("o_orderdate") < lit("1998-01-01").cast("timestamp"))))
      val uniq = DqOps.uniqueness(o, Seq("o_custkey"), "unique_custkey")
      val fk = DqOps.orphans(o,
        Tables.customer(s, d).where(col("c_acctbal") > 0.0),
        "o_custkey", "c_custkey", "fk_active_customer")
      rowRules.unionByName(uniq).unionByName(fk).orderBy("rule")
    }),

    // ---- distribution / ordering / sampling primitives ----
    // Equi-width price histogram ($50k bins over integer cents): binning
    // is exact integer math, the share window runs over the bounded bin
    // table only.
    "price_histogram" -> ((s, d) =>
      StatOps.histogram(Tables.orders(s, d),
        CoreOps.moneyCents(col("o_totalprice")), binWidth = 5000000L)
        .orderBy("bin")),
    // Global top-k WITHOUT a global sort: orderBy+limit compiles to
    // TakeOrderedAndProject (per-partition heap top-k, merged on one
    // reducer) — the only scale-sane way to rank a 100 TB fact table.
    // PlanSpec pins the operator and the absence of a range exchange.
    "global_topk" -> ((s, d) =>
      Tables.orders(s, d)
        .select(col("o_orderkey"),
          CoreOps.moneyCents(col("o_totalprice")).cast("long").as("price_cents"))
        .orderBy(col("price_cents").desc, col("o_orderkey").asc)
        .limit(100)),
    // Quality-weighted corpus sampling: inclusion probability clamped to
    // [0.05, 0.95] and proportional to document length (the stand-in
    // quality signal with an exact cross-engine value, n_chars). The md5
    // draw makes the sample content-addressed — rerunnable anywhere,
    // supersets under upweighting.
    "weighted_sample" -> ((s, d) => {
      val w = greatest(lit(0.05), least(lit(0.95),
        col("n_chars").cast("double") / lit(2000.0)))
      CorpusOps.weightedSample(Tables.documents(s, d), "doc_id", w)
        .select(col("doc_id"), CoreOps.rnd(w).as("keep_prob"))
        .orderBy("doc_id")
    }),

    // EXACT set-similarity self-join (PPJoin-style prefix filter): every
    // same-language document pair with token-Jaccard >= 0.95, zero recall
    // loss. The oracle brute-forces the blocked corpus through the
    // all-token join; the engine joins only on rare prefix tokens and
    // verifies with a map-side array intersect — same answer, but the
    // stopword fan-out never becomes a join key and no pair×token rows
    // ever shuffle.
    "jaccard_join_exact" -> ((s, d) =>
      SetSimJoin.jaccardJoinExact(Tables.documents(s, d), "doc_id", "text",
        threshold = 0.95, blocking = Seq("lang"))
        .orderBy("id_a", "id_b")),

    // Market-basket co-occurrence over lineitem baskets: pairs of parts
    // bought together, with support and lift from exact counts. Cap 6
    // drops degenerate baskets BEFORE the quadratic pair stage (the cap
    // branch fires on this fixture: 7-item orders exist); floor 2 bounds
    // the pair table to evidenced pairs.
    "copurchase_lift" -> ((s, d) =>
      BasketOps.copurchaseLiftFromItems(basketGraph(s, d)._1,
        minPairCount = 2L)
        .orderBy("item_a", "item_b")),

    // Per-node triangle participation of the co-purchase graph,
    // degree-oriented so the wedge stage is O(m^1.5) no matter how fat a
    // hub gets. The oracle 3-joins the id-ordered edge list (the textbook
    // plan); the engine's orientation emits the identical triangle set
    // from its minimum (degree, id) vertex — same tally, hub-proof plan.
    "triangle_count" -> ((s, d) => {
      val (_, edges, deg) = basketGraph(s, d)
      // per-node tallies off the SHARED memoized triangle list — the
      // same once-per-triangle stream triangleCountsOf enumerates, so
      // the tally is identical and the O(m^1.5) wedge join runs once
      // per JVM for the whole triangle family instead of per query;
      // past the list's edge cap, the streaming enumeration
      GraphOps.triangleCountsVia(edges, deg, basketTriangles(s, d))
        .orderBy("node")
    }),

    // Common-neighbor link prediction at distance 2 on the same graph:
    // hub centers (degree > 100, the graph's stopwords) are excluded
    // before the wedge pair-up, and the ≥10 shared-neighbor floor bounds
    // the candidate table to evidenced pairs.
    "link_predict" -> ((s, d) => {
      val (_, edges, deg) = basketGraph(s, d)
      GraphOps.linkPredictionsOnAdj(linkAdjacency(s, d), edges, deg,
        minCommon = 10L)
        .orderBy("id_a", "id_b")
    }),

    // Weekly lifecycle ledger over order activity: new / retained /
    // resurrected / churned customers per week, churn charged to the week
    // after last activity and clipped to the observed horizon.
    "weekly_churn" -> ((s, d) =>
      EventAnalytics.weeklyChurn(Tables.orders(s, d), "o_custkey",
        "o_orderdate")
        .orderBy("week")),

    // SQL entry point: the engine executes the ORACLE TEXT ITSELF through
    // spark.sql over Catalog-registered views — one string, two engines,
    // hash-identical answers (TPC-H Q10 shape: returned revenue by
    // customer and nation). Proves the SQL surface compiles to the same
    // Catalyst plans the fluent API gets.
    "q10_returned_revenue" -> ((s, d) => {
      Catalog.registerViews(s, d)
      s.sql(oracleSql("q10_returned_revenue"))
    }),

    // Two-phase Pareto frontier over orders: "record" orders no other
    // order beats on both price (higher) and date (earlier). $10k-cent
    // buckets prune at the scan via a broadcast bucket digest; the exact
    // pass runs over the frontier-sized survivor set only (Skyline.scala).
    "skyline_orders" -> ((s, d) =>
      Skyline.skyline2d(
        Tables.orders(s, d).select(col("o_orderkey"),
          CoreOps.moneyCents(col("o_totalprice")).cast("long").as("price_cents"),
          col("o_orderdate").cast("date").as("o_orderdate")),
        maxv = col("price_cents"),
        minv = datediff(col("o_orderdate"), lit("1970-01-01").cast("date")),
        bucketWidth = 1000000L)
        .orderBy(col("price_cents").desc, col("o_orderdate").asc,
          col("o_orderkey").asc)),

    // Gaps-and-islands: maximal runs of consecutive order-weeks per
    // customer (EventAnalytics.weeklyStreaks — the rank-difference anchor
    // trick, all stages keyed on the customer).
    "streaks_customer" -> ((s, d) =>
      EventAnalytics.weeklyStreaks(Tables.orders(s, d), "o_custkey",
        "o_orderdate")
        .orderBy("key", "streak_start")),

    // One-scan column profile of orders: non-null / null / exact-distinct
    // counts per governed column via a single Expand-fed aggregate. The
    // orders fixture is fully dense, so nulls grade as exact zeros here;
    // the null-accounting branch is pinned with synthetic nulls in
    // DqOpsSpec.
    "column_profile" -> ((s, d) =>
      DqOps.columnProfile(Tables.orders(s, d),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))
        .orderBy("col_name")),

    // k-anonymity audit of customer quasi-identifiers (nation, segment,
    // $2000 account-balance band): every equivalence class with its size
    // and the k<3 re-identification flag. Exact integer binning — cents
    // mod arithmetic, same idiom as price_histogram.
    "k_anonymity" -> ((s, d) => {
      val cents = CoreOps.moneyCents(col("c_acctbal")).cast("long")
      val band = CoreOps.integralDiv(cents - pmod(cents, lit(200000L)), 200000L)
      DqOps.kAnonymity(
        Tables.customer(s, d).select(col("c_nationkey"), col("c_mktsegment"),
          band.as("bal_band")),
        Seq("c_nationkey", "c_mktsegment", "bal_band"), k = 3L)
        .orderBy("c_nationkey", "c_mktsegment", "bal_band")
    }),

    // l-diversity over the same quasi-identifiers, auditing the
    // SENSITIVE attribute (balance band) instead of class size: a large
    // class whose members share one band still leaks it (homogeneity
    // attack) — the risk k-anonymity cannot see. l=5 splits this
    // fixture's classes non-degenerately.
    "l_diversity" -> ((s, d) => {
      val cents = CoreOps.moneyCents(col("c_acctbal")).cast("long")
      val band = CoreOps.integralDiv(cents - pmod(cents, lit(200000L)), 200000L)
      DqOps.lDiversity(
        Tables.customer(s, d).select(col("c_nationkey"),
          col("c_mktsegment"), band.as("bal_band")),
        Seq("c_nationkey", "c_mktsegment"), "bal_band", l = 5L)
        .orderBy("c_nationkey", "c_mktsegment")
    }),

    // t-closeness over the same quasi-identifier classes as l_diversity —
    // the privacy tier's third audit (k-anonymity: class too small;
    // l-diversity: class too uniform; t-closeness: class too SKEWED vs
    // the population). Ordered-EMD as one exact long sum per class
    // (emd_num), single final division; t=0.12 splits the sf0.01 classes
    // 40/85 (the flag legitimately saturates at larger samples — EMD
    // shrinks as classes converge to the population).
    "t_closeness" -> ((s, d) => {
      val cents = CoreOps.moneyCents(col("c_acctbal")).cast("long")
      val band = CoreOps.integralDiv(cents - pmod(cents, lit(200000L)),
        200000L)
      DqOps.tCloseness(
        Tables.customer(s, d).select(col("c_nationkey"),
          col("c_mktsegment"), band.as("bal_band")),
        Seq("c_nationkey", "c_mktsegment"), "bal_band", t = 0.12)
        .orderBy("c_nationkey", "c_mktsegment")
    }),

    // Benford first-digit screen over order totals (integer cents): digit
    // extracted lexically so both engines agree exactly; 9-row output.
    "benford_digits" -> ((s, d) =>
      StatOps.benfordDigits(Tables.orders(s, d),
        CoreOps.moneyCents(col("o_totalprice")))
        .orderBy("digit")),

    // Relational melt (UNPIVOT) — the inverse reshape of pivot_events:
    // wide per-(week, dim) metrics to long (metric, value) rows via the
    // native Dataset.unpivot (one generate, no join, no shuffle beyond
    // the feeding aggregate).
    "melt_weekly_metrics" -> ((s, d) => {
      val wide = Tables.orders(s, d)
        .groupBy(CoreOps.weekStart(col("o_orderdate")).as("week"),
          col("o_orderpriority").as("dim"))
        .agg(count(lit(1)).as("transactions"),
          count_distinct(col("o_custkey")).as("customers"))
      wide.unpivot(Array(col("week"), col("dim")),
        Array(col("transactions"), col("customers")), "metric", "value")
        .orderBy("week", "dim", "metric")
    }),

    // ---- event-sequence transition matrix (EventAnalytics) ----
    // First-order Markov counts over per-user event sequences; prob is
    // exact-count division rounded 4 dp. Ordering totalized by
    // (ts, event_id) — the same proven idiom as sessionize_events.
    "event_transitions" -> ((s, d) =>
      EventAnalytics.transitionMatrix(Tables.events(s, d), "user_id", "ts",
        "event_id", "event_type")
        .orderBy("from_type", "to_type")),
    // Top opening journeys: the 20 most common first-3-event paths —
    // one user-keyed window (rank ≤ 3 prunes immediately) + a user-keyed
    // pivot sharing that exchange; the ranking window runs over the
    // ≤|types|³ bounded path table.
    "top_paths_events" -> ((s, d) =>
      EventAnalytics.topPaths(Tables.events(s, d), col("user_id"),
        col("ts"), col("event_type"), col("event_id"))
        .orderBy("rnk")),
    // ABC / Pareto classification of parts by revenue: descending
    // cumulative-share curve cut at 80%/95% with INTEGER comparisons
    // (no float decides a boundary); per-part aggregate + the
    // distributed two-pass prefix sum — no single-partition window at
    // any cardinality.
    "abc_parts" -> ((s, d) =>
      ScaleOps.abcClassification(Tables.lineitem(s, d), col("l_partkey"),
        CoreOps.moneyCents(col("l_extendedprice")))
        .orderBy("abc_class")),

    // ---- multi-table analytics over the largest fact table ----
    // TPC-H-shape showcases: money arithmetic in exact integer units
    // (cents × discount-percent × tax-percent), so every sum is an
    // order-independent long and the oracle hash-matches; dims broadcast,
    // the only fact-scale exchanges are the Q3/Q5 fact-fact joins and the
    // final group-bys.
    "q1_pricing_summary" -> ((s, d) => {
      import CoreOps.rnd
      Tables.lineitem(s, d)
        .where(col("l_shipdate") <= lit("2000-12-01").cast("timestamp"))
        .select(col("l_returnflag"), col("l_linestatus"),
          floor(col("l_quantity") + 0.5).cast("long").as("qty"),
          CoreOps.moneyCents(col("l_extendedprice")).as("cents"),
          CoreOps.moneyCents(col("l_discount")).as("disc_pct"),
          CoreOps.moneyCents(col("l_tax")).as("tax_pct"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum("qty").as("sum_qty"),
          rnd(sum(col("cents")).cast("double") / 100.0).as("sum_base_price"),
          rnd(sum(col("cents") * (lit(100L) - col("disc_pct"))).cast("double")
            / 10000.0).as("sum_disc_price"),
          rnd(sum(col("cents") * (lit(100L) - col("disc_pct"))
            * (lit(100L) + col("tax_pct"))).cast("double") / 1000000.0)
            .as("sum_charge"),
          rnd(sum("qty").cast("double") / count(lit(1))).as("avg_qty"),
          rnd(sum(col("cents")).cast("double") / 100.0 / count(lit(1)))
            .as("avg_price"),
          rnd(sum(col("disc_pct")).cast("double") / 100.0 / count(lit(1)))
            .as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),
    "q3_shipping_priority" -> ((s, d) => {
      import CoreOps.rnd
      val cutoff = lit("1998-06-01").cast("timestamp")
      val cust = Tables.customer(s, d)
        .where(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val ord = Tables.orders(s, d).where(col("o_orderdate") < cutoff)
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
      Tables.lineitem(s, d).where(col("l_shipdate") > cutoff)
        .select(col("l_orderkey"),
          (CoreOps.moneyCents(col("l_extendedprice"))
            * (lit(100L) - CoreOps.moneyCents(col("l_discount"))))
            .as("rev_units"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(rnd(sum("rev_units").cast("double") / 10000.0).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),
    "q5_local_supplier_volume" -> ((s, d) => {
      import CoreOps.rnd
      val nat = Tables.nation(s, d)
        .join(broadcast(Tables.region(s, d)
          .where(col("r_name") === "EUROPE").select("r_regionkey")),
          col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey", "n_name")
      val supp = Tables.supplier(s, d)
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
      // customer is a dimension here (~1.5 % of lineitem by TPC-H
      // construction, and only (custkey, nationkey) survives the
      // projection): broadcast it so the orders leg never shuffles —
      // round-5 adjudication measured this exact join drifting to a
      // two-sided exchange (1.29 s → 2.10 s isolated). PlanSpec pins it.
      val ord = Tables.orders(s, d)
        .where(col("o_orderdate") >= lit("1997-01-01").cast("timestamp")
          && col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .join(broadcast(Tables.customer(s, d)
          .select("c_custkey", "c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .select("o_orderkey", "c_nationkey")
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_suppkey"),
          (CoreOps.moneyCents(col("l_extendedprice"))
            * (lit(100L) - CoreOps.moneyCents(col("l_discount"))))
            .as("rev_units"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey")
          && col("c_nationkey") === col("s_nationkey"))
        .groupBy("n_name")
        .agg(rnd(sum("rev_units").cast("double") / 10000.0).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    // ---- training-data extension tier: corpus preparation ----
    // Content-addressed md5 split: membership is checked exactly (count +
    // id-sum per split) because DuckDB reproduces the same md5 buckets.
    "dataset_split" -> ((s, d) =>
      CorpusOps.assignSplit(Tables.documents(s, d), "doc_id",
        Seq("train" -> 80, "val" -> 10, "test" -> 10))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("id_sum"))
        .orderBy("split")),
    // Leakage-safe split: buckets by content digest so exact duplicates
    // can never straddle train/test. Graded contract: per-split doc and
    // distinct-digest counts (DuckDB replays digest + bucket fold) plus
    // the leakage invariant itself — max splits touched by any digest is
    // exactly 1.
    "leakage_safe_split" -> ((s, d) => {
      val split = CorpusOps.leakageSafeSplit(Tables.documents(s, d), "text",
        Seq("train" -> 80, "val" -> 10, "test" -> 10))
      val perSplit = split.groupBy("split").agg(
        count(lit(1)).as("n_docs"),
        count_distinct(col("digest")).as("n_digests"))
      val leak = split.groupBy("digest")
        .agg(count_distinct(col("split")).as("ns"))
        .agg(max("ns").as("max_splits_per_digest"))
      perSplit.crossJoin(broadcast(leak)).orderBy("split")
    }),
    // Concat-then-chunk context-window packing per language shard; pure
    // integer window arithmetic, fully oracle-checked.
    "pack_sequences" -> ((s, d) =>
      CorpusOps.packSequences(Tables.documents(s, d), "doc_id", "lang",
        TextFunctions.tokenCount(col("text")), budget = 512)
        .orderBy("doc_id")),
    // Best-fit-decreasing WHOLE-document packing vs the naive next-fit
    // baseline — the loader answer to the tail waste bpe_pack_report
    // made visible, for document-aligned sequences (no spanning docs).
    // Per shard: the BFD bin count, fill ratio, and two layout checksums
    // (doc-weighted bin and offset sums pin exactly WHICH doc landed in
    // WHICH bin at WHAT offset through the oracle's recursive-CTE
    // replay), beside the next-fit bin count; `bfd_no_worse` grades the
    // packing win as a measured per-shard contract. Budget 128 against
    // 10–100-token docs forces real multi-doc bins at every SF.
    "pack_sequences_bfd" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val bfd = CorpusOps.packSequencesBfd(docs, "doc_id", "source",
        TextFunctions.tokenCount(col("text")), budget = 128)
      val nf = CorpusOps.packSequencesNextFit(docs, "doc_id", "source",
        TextFunctions.tokenCount(col("text")), budget = 128)
      val repB = bfd.groupBy("shard").agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("n_tokens"),
        (max("bin_id") + 1).as("n_bins_bfd"),
        sum(col("doc_id") * (col("bin_id") + 1)).as("bin_checksum"),
        sum(col("doc_id") * col("bin_offset")).as("offset_checksum"))
      val repN = nf.groupBy("shard")
        .agg((max("bin_id") + 1).as("n_bins_greedy"))
      repB.join(repN, Seq("shard"))
        .select(col("shard"), col("n_docs"), col("n_tokens"),
          col("n_bins_bfd"),
          CoreOps.rnd(col("n_tokens").cast("double")
            / (col("n_bins_bfd") * 128).cast("double"))
            .as("fill_ratio_bfd"),
          col("bin_checksum"), col("offset_checksum"),
          col("n_bins_greedy"),
          CoreOps.rnd(col("n_tokens").cast("double")
            / (col("n_bins_greedy") * 128).cast("double"))
            .as("fill_ratio_greedy"),
          (col("n_bins_bfd") <= col("n_bins_greedy")).as("bfd_no_worse"))
        .orderBy("shard")
    }),
    // TF-IDF top-3 terms per doc, rank ties broken by term.
    "tfidf_top_terms" -> ((s, d) =>
      CorpusOps.topTerms(Tables.documents(s, d), "doc_id", "text", k = 3)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id", "rnk")),
    // Overlapping token-window chunking (chunk 32, stride 16 → 16-token
    // overlap): generator plan, chunk text hash-checked byte-for-byte.
    "chunk_documents" -> ((s, d) =>
      CorpusOps.chunkDocuments(Tables.documents(s, d), "doc_id", "text",
        chunkTokens = 32, strideTokens = 16)
        .orderBy("doc_id", "chunk_id")),
    // Deterministic content-addressed sampling with the NESTING property:
    // the 10% sample is a subset of the 50% sample (same md5 buckets, lower
    // threshold). n_10/id_sum_10/n_50 check the bucket arithmetic against
    // DuckDB's recomputation; n_escaped counts 10%-docs missing from the
    // 50% sample through the operator API itself — the oracle's literal 0
    // makes the subset property a hash-gated contract.
    "sample_nested" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val s10 = CorpusOps.deterministicSample(docs, "doc_id", 0.10)
        .select(col("doc_id"))
      val s50 = CorpusOps.deterministicSample(docs, "doc_id", 0.50)
        .select(col("doc_id"))
      s10.agg(count(lit(1)).as("n_10"), sum("doc_id").as("id_sum_10"))
        .crossJoin(s50.agg(count(lit(1)).as("n_50")))
        .crossJoin(s10.join(s50, Seq("doc_id"), "left_anti")
          .agg(count(lit(1)).as("n_escaped")))
    }),
    // The temperature mixture REALIZED: where mixture_temperature solves
    // the √n-smoothed ALLOCATION (Hamilton apportionment of an abstract
    // budget), this draws the actual per-document sample — per-source
    // rates toward a 0.5·N budget (same sqrt smoothing, same
    // IEEE-correctly-rounded rationale), realized as the
    // content-addressed md5 draw over the skewed lang axis; rate_micro
    // is the exact integer rate and id_sum pins sampled-set MEMBERSHIP
    // per source, which no allocation table can.
    "mixture_temperature_draw" -> ((s, d) =>
      CorpusOps.temperatureMixture(Tables.documents(s, d), "doc_id",
        "lang", targetFrac = 0.5)
        .orderBy("source")),
    // The decontamination gate DEPLOYED: each arriving micro-batch's
    // distinct 8-grams digest map-side and probe the FROZEN eval-gram
    // manifest (digest-bucketed, built once at eval-freeze time); every
    // document emits its (n_shared_ngrams, contaminated) verdict exactly
    // once — per-doc rows are delivery-order-invariant by construction,
    // so the oracle replays the whole gate over the same slice.
    "stream_decontaminate" -> ((s, d) => {
      val mt = decontamState(s, d)
      ingestMicroBatches(s, stagedDocBatches(s, d), "deconta", "out") {
        case Seq(outS) =>
          Tables.documents(s, d).limit(0)
            .select(col("doc_id"), lit(0L).as("n_shared_ngrams"),
              lit(false).as("contaminated"))
            .write.saveAsTable(outS)
          MicroBatchLoop(
            each = b => {
              val hits = CorpusOps.ngramSet(b, "doc_id", "text", n = 8)
                .select(col("doc_id"),
                  md5(col("gram").cast("binary")).as("g"))
                .join(s.table(mt), Seq("g"))
                .groupBy(col("doc_id"))
                .agg(count(lit(1)).as("n_shared_ngrams"))
              b.select(col("doc_id")).join(hits, Seq("doc_id"), "left")
                .select(col("doc_id"),
                  coalesce(col("n_shared_ngrams"), lit(0L))
                    .as("n_shared_ngrams"),
                  (coalesce(col("n_shared_ngrams"), lit(0L)) > 0)
                    .as("contaminated"))
                .write.mode("append").saveAsTable(outS)
            },
            result = () => s.table(outS).orderBy("doc_id"))
      }
    }),
    // Benchmark decontamination: flag train-split docs sharing any 8-token
    // n-gram with the held-out test split (the GPT-3-style collision
    // check). Split membership is the content-addressed md5 bucket, so
    // both engines agree on who is train/test before the overlap test.
    "decontaminate_ngrams" -> ((s, d) => {
      val split = CorpusOps.assignSplit(Tables.documents(s, d), "doc_id",
        Seq("train" -> 80, "val" -> 10, "test" -> 10))
      CorpusOps.decontaminate(
        split.where(col("split") === "train"),
        split.where(col("split") === "test"),
        "doc_id", "text", n = 8)
        .orderBy("doc_id")
    }),
    // Bloom-filter decontamination — the sketch path for a deny side too
    // big to broadcast exactly. Oracle-gated like the ANN tier: DuckDB
    // recomputes the exact contaminated count (n_true must hash-match)
    // and expects both booleans TRUE — recall_ok because a bloom filter
    // has no false negatives (every contaminated doc's colliding gram was
    // inserted, so its probe MUST hit; a build/probe hash mismatch would
    // break exactly this), fp_ok because the false-positive overshoot is
    // bounded (fpp 1e-4 per gram probe → ~1% per multi-gram doc; bound
    // max(25, 2% of train) holds at every SF, deterministically — same
    // data, same hash, same bits).
    "bloom_decontaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val train = docs.where(pmod(col("doc_id"), lit(10)) =!= 7)
      val eval = docs.where(pmod(col("doc_id"), lit(10)) === 7)
      val exact = CorpusOps.decontaminate(train, eval, "doc_id", "text",
        n = 8)
      val bloomHits = CorpusOps.ngramSet(train, "doc_id", "text", n = 8)
        .where(BloomOps.mightContain(evalGramBloom(s, d), col("gram")))
        .select("doc_id").distinct()
        .withColumn("bloom_hit", lit(true))
      val hit = coalesce(col("bloom_hit"), lit(false))
      exact.join(bloomHits, Seq("doc_id"), "left")
        .agg(
          sum(when(col("contaminated"), 1L).otherwise(0L)).as("n_true"),
          coalesce(
            sum(when(col("contaminated") && hit, 1L).otherwise(0L))
              === sum(when(col("contaminated"), 1L).otherwise(0L)),
            lit(true)).as("recall_ok"),
          coalesce(
            sum(when(!col("contaminated") && hit, 1L).otherwise(0L))
              <= greatest(lit(25L),
                (count(lit(1)) * lit(2) / lit(100)).cast("long")),
            lit(true)).as("fp_ok"))
    }),
    // Stratified deterministic quota sample: first 20 docs per language in
    // md5-of-key order — balanced, reproducible, engine-portable.
    "quota_sample" -> ((s, d) =>
      CorpusOps.stratifiedQuota(Tables.documents(s, d), "lang", "doc_id",
        quota = 20)
        .select(col("doc_id"), col("lang"), col("rn"))
        .orderBy("lang", "rn")),
    // Per-source TOKEN budget cap (the mixing cap a pretraining recipe
    // applies when contribution is bounded in tokens, not documents):
    // longest md5-order prefix per source whose cumulative tokens fit.
    "source_budget_cap" -> ((s, d) =>
      CorpusOps.sourceBudgetCap(Tables.documents(s, d), "source", "doc_id",
        TextFunctions.tokenCount(col("text")), budget = 300)
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("cum_tokens"))
        .orderBy("source", "cum_tokens", "doc_id")),
    // Target-weighted mixture waterfilling: allocate 60% of total corpus
    // chars across sources by skewed recipe weights (srcN → N+1), with
    // availability-bound sources saturating and their shortfall
    // redistributed — the whole integer solve (water-level order,
    // cross-multiplied saturation predicate, largest-remainder rounding)
    // hash-graded against the DuckDB replay; allocations sum to the
    // budget EXACTLY.
    "mixture_waterfill" -> ((s, d) =>
      CorpusOps.waterfillAllocation(Tables.documents(s, d), "source",
        col("n_chars"), expr("cast(substr(source, 4) as bigint) + 1"),
        budgetShareMicro = 600000L)
        .orderBy("source")),
    // Temperature-scaled mixture (T=2, the mT5/XLM-R smoothing): target
    // share ∝ √count with Hamilton largest-remainder apportionment —
    // Σ alloc == budget exactly, and the √ path is IEEE-correctly-
    // rounded in both engines (the reason T is restricted to sqrt
    // chains; see scaladoc).
    "mixture_temperature" -> ((s, d) =>
      CorpusOps.temperatureAllocation(Tables.documents(s, d), "source",
        budget = 100000L, temperature = 2)
        .orderBy("source")),
    // Corpus mixture report: docs/tokens per (lang, split) with each
    // stratum's 4-dp share of total tokens — the data-mixture table.
    "corpus_mixture" -> ((s, d) => {
      val split = CorpusOps.assignSplit(Tables.documents(s, d), "doc_id",
        Seq("train" -> 80, "val" -> 10, "test" -> 10))
      CorpusOps.mixtureStats(split, Seq("lang", "split"),
        TextFunctions.tokenCount(col("text")))
        .orderBy("lang", "split")
    }),
    // PII scrub + audit counts. The synthetic corpus carries no natural
    // PII, so the query plants a deterministic email/IP/phone per doc
    // (same concat in the oracle SQL) — the hash match then proves the
    // Java and RE2 regex engines detect and redact identically.
    "pii_scrub" -> ((s, d) => {
      val aug = concat(col("text"), lit(" contact user"),
        col("doc_id").cast("string"), lit("@mail.example.com from 10."),
        (col("doc_id") % 200).cast("string"), lit(".0.1 tel +44"),
        (col("doc_id") + lit(7000000L)).cast("string"))
      Tables.documents(s, d).select(col("doc_id"), aug.as("t"))
        .select(col("doc_id"),
          TextFunctions.piiCount(col("t"), "email").as("n_emails"),
          TextFunctions.piiCount(col("t"), "ipv4").as("n_ipv4"),
          TextFunctions.piiCount(col("t"), "phone").as("n_phones"),
          TextFunctions.piiScrub(col("t")).as("redacted"))
        .orderBy("doc_id")
    }),

    // The INTEGRATION query: the corpus-preparation chain a training run
    // actually executes — normalize → exact-dedup on the normalized
    // digest → Gopher-style quality gate (0.4 drops ~30% here) → split
    // assignment → per-(lang, split) report. Every stage has its own
    // graded query above/below; this one proves the COMPOSITION matches
    // DuckDB end to end (id_sum pins exactly which docs survived).
    "corpus_prep_pipeline" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          TextFunctions.normalizeText(col("text")).as("norm"))
      val deduped = Dedup.dropExact(docs, "doc_id", "norm")
      val gated = TextFunctions.withQualityColumns(deduped, "norm")
        .where(col("quality") >= 0.4)
      CorpusOps.assignSplit(gated, "doc_id",
        Seq("train" -> 80, "val" -> 10, "test" -> 10))
        .groupBy("lang", "split")
        .agg(count(lit(1)).as("n_docs"),
          // withQualityColumns already tokenized norm into n_tokens —
          // re-splitting here would pay the dominant per-row cost twice
          sum("n_tokens").as("n_tokens"),
          sum("doc_id").as("id_sum"))
        .orderBy("lang", "split")
    }),

    // The FULL governance chain a 2026 pretraining pipeline runs — every
    // stage exists (and passes) as a singleton above; this query proves
    // the COMPOSITION end to end: normalize → exact dedup (min-id
    // digest keep) → exact-substring EXCISION (n=15, first global
    // occurrence survives) → near-dup REMOVAL at 0.8 on the excised
    // text (LSH-verified pairs → connected components → canonical keep;
    // the oracle's exhaustive pair set doubles as an LSH recall gate) →
    // MOSS-match removal (winnowing, the POSITIONAL fifth modality: a
    // doc sharing ANY rare fingerprint with an EARLIER survivor drops.
    // minShared=1 — NOT the report tier's 2 — because this stage runs
    // after 15-gram excision and 0.8 near-dup removal, so what's left
    // to catch is exactly the 6–14-token shared run (w+k−1=6 is the
    // winnowing detection guarantee) too short for excision and too
    // small for jaccard; at 2 the stage provably never fires on what
    // the upstream stages already cleaned) →
    // decontamination against the held-out eval slice (8-gram overlap;
    // eval never enters the pipeline corpus) → quality gate (≥ 0.4 on
    // the excised text) → content-addressed split → per-(lang, split)
    // mixture report, id_sum pinning exactly which documents survived.
    // The embedding-space modalities (cosine near-dup, SemDeDup
    // keep-first, embed_decontaminate) gate SEPARATELY by design:
    // embeddings cover only part of this corpus (2000 of 5000 ids at
    // sf0.1 — the real-pipeline situation where embedding coverage lags
    // the crawl), so a semantic stage here would silently pass the
    // uncovered majority; the text chain uses only features every
    // document has.
    // Exchange discipline: digests key every dedup/excision exchange;
    // the one token-carrying shuffle is excision's reassembly; the
    // victim/contaminated sets are id-only anti-join sides.
    // The pipeline corpus is the ABSOLUTELY-BOUNDED mod-5 slice (the
    // minhash_quality / dedup_groups discipline): this synthetic corpus
    // is one giant near-dup blob at 0.8 — the FULL sf0.1 corpus yields
    // 2.2M true pairs, and exact pair-graph dedup is candidate-bounded
    // = O(true pairs), quadratic in blob size whatever proposes the
    // candidates (measured 61 s of pure verification). The oracle
    // replays the same slice exhaustively, so the recall gate holds.
    "corpus_prep_full" -> ((s, d) => {
      // stage frames come from the memoized chain builder
      // (corpusPrepFrames — shared with corpus_prep_attrition, evicted
      // by its memo family after the last consumer)
      val gated = TextFunctions
        .withQualityColumns(corpusPrepFrames(s, d).clean, "text_dedup")
        .where(col("quality") >= 0.4)
      CorpusOps.assignSplit(gated, "doc_id",
        Seq("train" -> 80, "val" -> 10, "test" -> 10))
        .groupBy("lang", "split")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tokens").as("n_tokens"),
          sum("doc_id").as("id_sum"))
        .orderBy("lang", "split")
    }),
    // The chain's dataset-card LINEAGE table: per governance stage, the
    // surviving document count, the id checksum (exactly WHICH docs
    // survive, not just how many), and the surviving token mass —
    // excision shows up as token loss at constant doc count, every
    // removal stage as doc loss. Reads the same memoized stage frames
    // corpus_prep_full consumes; the oracle replays the identical CTE
    // chain (one shared definition) and aggregates each stage.
    "corpus_prep_attrition" -> ((s, d) => {
      val fr = corpusPrepFrames(s, d)
      def stage(ord: Long, name: String, df: DataFrame,
                textCol: String): DataFrame =
        df.agg(count(lit(1)).as("n_docs"),
            coalesce(sum(col("doc_id")), lit(0L)).as("id_sum"),
            coalesce(sum(TextFunctions.tokenCount(col(textCol))), lit(0L))
              .as("n_tokens"))
          .select(lit(ord).as("stage_ord"), lit(name).as("stage"),
            col("n_docs"), col("id_sum"), col("n_tokens"))
      val gated = TextFunctions
        .withQualityColumns(fr.clean, "text_dedup")
        .where(col("quality") >= 0.4)
      Seq(
        stage(1L, "corpus", fr.corpus, "norm"),
        stage(2L, "exact_dedup", fr.exact, "norm"),
        stage(3L, "substr_excision", fr.excised, "text_dedup"),
        stage(4L, "near_dup", fr.neardup, "text_dedup"),
        stage(5L, "moss_match", fr.moss, "text_dedup"),
        stage(6L, "decontam", fr.clean, "text_dedup"),
        stage(7L, "quality_gate", gated, "text_dedup"))
        .reduce(_ unionByName _)
        .orderBy("stage_ord")
    }),

    // Text normalization ahead of dedup: the normalized digest is the
    // dedup key, and md5 is engine-portable so the whole row (digest
    // included) hash-checks against DuckDB byte-for-byte.
    "text_normalize" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          md5(TextFunctions.normalizeText(col("text")).cast("binary"))
            .as("norm_md5"),
          length(TextFunctions.normalizeText(col("text"))).cast("long")
            .as("n_chars_norm"))
        .orderBy("doc_id")),

    // ---- training-data extension tier: text analysis ----
    "token_count" -> ((s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"),
        TextFunctions.tokenCountBpeish(col("text")).as("n_tokens_bpeish"),
        length(col("text")).cast("long").as("n_chars_calc"))
        .orderBy("doc_id")),
    // Heaps-law vocabulary-growth audit: the corpus is dealt into 16
    // content-addressed prefixes (first md5(doc_id) hex digit — no
    // global rank, the bucket is a pure function of the id), and per
    // cumulative prefix the audit reads document mass, token mass, and
    // DISTINCT vocabulary (each type charged to its first bucket via
    // one min-aggregate over token digests). A healthy crawl grows
    // vocabulary sublinearly (V ≈ k·N^β, β < 1); a flattening curve
    // reads as the corpus exhausting its diversity. All-integer
    // outputs, so the curve hash-matches exactly; the cumulative pass
    // runs over the 16-row bucket frame, never the corpus.
    "vocab_growth" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"),
          expr("CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 1)," +
            " 16, 10) AS BIGINT)").as("bucket"),
          TextFunctions.tokens(col("text")).as("__toks"))
        .where(col("__toks").isNotNull)
      val tok = docs.select(col("bucket"),
        explode(col("__toks")).as("__w"))
        .select(col("bucket"), md5(col("__w").cast("binary")).as("__g"))
        .localCheckpoint(true)
      val newTypes = tok.groupBy(col("__g"))
        .agg(min(col("bucket")).as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("__nv"))
      val mass = tok.groupBy(col("bucket"))
        .agg(count(lit(1)).as("__nt"))
      val nd = docs.groupBy(col("bucket"))
        .agg(count(lit(1)).as("__ndoc"))
      // bigram types saturate far later than the unigram vocabulary —
      // the column that keeps the curve informative on a small-vocab
      // corpus
      // CASE guard BEFORE sequence(1, n-1): a one-token doc would count
      // DOWN (the ngramSet lesson) and fabricate out-of-range bigrams
      val newBigrams = docs.select(col("bucket"), explode(expr(
          "CASE WHEN size(__toks) < 2 THEN CAST(array() AS ARRAY<STRING>)" +
            " ELSE transform(sequence(1, size(__toks) - 1)," +
            " i -> concat(element_at(__toks, i), ' '," +
            " element_at(__toks, i + 1))) END")).as("__b"))
        .select(col("bucket"), md5(col("__b").cast("binary")).as("__g"))
        .groupBy(col("__g")).agg(min(col("bucket")).as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("__nb"))
      import org.apache.spark.sql.expressions.Window
      val w16 = Window.orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      s.range(16).select(col("id").as("bucket"))
        .join(nd, Seq("bucket"), "left")
        .join(mass, Seq("bucket"), "left")
        .join(newTypes, Seq("bucket"), "left")
        .join(newBigrams, Seq("bucket"), "left")
        .select(col("bucket"),
          sum(coalesce(col("__ndoc"), lit(0L))).over(w16)
            .as("n_docs_cum"),
          sum(coalesce(col("__nt"), lit(0L))).over(w16)
            .as("n_tokens_cum"),
          sum(coalesce(col("__nv"), lit(0L))).over(w16)
            .as("vocab_cum"),
          sum(coalesce(col("__nb"), lit(0L))).over(w16)
            .as("bigram_vocab_cum"))
        .orderBy("bucket")
    }),
    // Duplicate-group formation: connected components over near-dup pairs
    // (min-label propagation vs the oracle's recursive transitive
    // closure). Edges come from the scale path — MinHash-LSH candidates
    // verified with exact jaccard — while the oracle computes the
    // exhaustive exact pair set: the hash match proves the LSH candidate
    // stage recovered every component on this corpus.
    // Edges come from the memoized shared subplan (gradedVerifiedPairs):
    // LSH candidates + exact verification run once per sfDir and feed
    // BOTH dedup_groups and dedup_keep_canonical.
    "dedup_groups" -> ((s, d) =>
      Dedup.clusterPairs(gradedVerifiedPairs(s, d))
        .orderBy("id")),
    // Near-dup-group-aware split: leakage_safe_split's guarantee extended
    // from exact duplicates to NEAR duplicates — the split key is the
    // connected-component label of the verified near-dup graph, so no
    // near-dup pair can straddle train/test. Shares the memoized verified
    // pair subplan and the CC operator with dedup_groups; the oracle
    // rebuilds components with the recursive transitive closure and the
    // leakage invariant (n_cross == 0) grades as a VALUE, not a comment.
    // Threshold 0.8 for the same reason dedup_keep_canonical uses it: at
    // 0.5 this token-bag corpus collapses into one giant component and
    // every doc lands in one split — real structure only above it. The
    // 0.8 pair set is the shared 0.5 subplan re-filtered (exact equality).
    "neardup_safe_split" -> ((s, d) => {
      val slice = Tables.documents(s, d)
        .where(pmod(col("doc_id"), lit(10)) === 0)
        .select("doc_id")
      val pairs = gradedVerifiedPairs(s, d)
        .where(col("jaccard") >= 0.8).select("id_a", "id_b")
      val comp = Dedup.clusterPairs(pairs).withColumnRenamed("id", "doc_id")
      val docs = slice.join(comp, Seq("doc_id"), "left")
        .withColumn("component", coalesce(col("component"), col("doc_id")))
      val sp = CorpusOps.assignSplit(docs, "component",
        Seq("train" -> 80, "val" -> 10, "test" -> 10))
      val cross = pairs
        .join(sp.select(col("doc_id").as("id_a"), col("split").as("sa")),
          "id_a")
        .join(sp.select(col("doc_id").as("id_b"), col("split").as("sb")),
          "id_b")
        .agg(
          coalesce(sum(when(col("sa") =!= col("sb"), 1L).otherwise(0L)),
            lit(0L)).as("n_cross"),
          count(lit(1)).as("n_pairs"))
      sp.groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          count_distinct(col("component")).as("n_components"))
        .crossJoin(broadcast(cross))
        .orderBy("split")
    }),
    // Near-dup REMOVAL (what a pipeline actually executes): min-id
    // canonical per component survives, other members drop, singletons
    // pass through. The oracle rebuilds components with its recursive
    // transitive closure and subtracts the same victim set. Threshold 0.8
    // (not dedup_groups' 0.5, where this token-bag corpus collapses into
    // one giant component and the output degenerates to a single row):
    // ~22/50 docs survive at sf0.01 — component structure worth hashing.
    // The 0.8 pair set is the shared 0.5 subplan re-filtered (exact
    // equality — see dropNearDupsFromPairs).
    "dedup_keep_canonical" -> ((s, d) =>
      Dedup.dropNearDupsFromPairs(
        Tables.documents(s, d).where(pmod(col("doc_id"), lit(10)) === 0),
        "doc_id",
        gradedVerifiedPairs(s, d).where(col("jaccard") >= 0.8))
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("doc_id")),
    // Quality-aware canonical keep: per near-dup component the HIGHEST
    // quality-score member survives (ties → smallest id) — what a
    // curation pipeline actually wants from dedup (keep the best copy,
    // not the arbitrary min-id one). The oracle rebuilds components via
    // the recursive closure AND replays the quality formula (both already
    // individually graded), so the argmax selection itself hash-gates.
    "dedup_keep_best" -> ((s, d) => {
      val slice = Tables.documents(s, d)
        .where(pmod(col("doc_id"), lit(10)) === 0)
      Dedup.keepBestPerComponent(
        TextFunctions.withQualityColumns(slice, "text"),
        "doc_id", "quality",
        gradedVerifiedPairs(s, d).where(col("jaccard") >= 0.8))
        .select(col("component"), col("keep_id"), col("score").as("quality"))
        .orderBy("component")
    }),
    "text_stats" -> ((s, d) => {
      import CoreOps.rnd
      Tables.documents(s, d)
        .withColumn("ntok", TextFunctions.tokenCount(col("text")))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("ntok").as("tok_total"),
          rnd(sum(col("n_chars")).cast("double") / count(lit(1))).as("chars_avg"),
          rnd(percentile(col("n_chars"), lit(0.90))).as("chars_p90"))
        .orderBy("lang")
    }),
    "lang_id" -> ((s, d) => {
      val scored = TextFunctions.LangWordlists.foldLeft(Tables.documents(s, d)) {
        case (df, (l, ws)) =>
          df.withColumn(s"s_$l", TextFunctions.wordlistHits(col("text"), ws))
      }
      scored.withColumn("lang_pred", TextFunctions.langPredict(col("text")))
        .select("doc_id", "s_en", "s_de", "s_es", "s_fr", "lang_pred")
        .orderBy("doc_id")
    }),
    // Cohen's κ between the DECLARED language label and the heuristic
    // lang-ID prediction — the label-noise audit a labeling pipeline
    // runs between annotators (here: metadata vs heuristic; the zh docs
    // the 4-language wordlist cannot predict keep κ honestly below 1).
    // κ = (n·agree − e)/(n² − e), exact integers to the last division.
    "annotator_kappa" -> ((s, d) =>
      StatOps.cohensKappa(Tables.documents(s, d),
        col("lang"), TextFunctions.langPredict(col("text")))),
    "quality_score" -> ((s, d) =>
      TextFunctions.withQualityColumns(Tables.documents(s, d), "text")
        .select("doc_id", "n_tokens", "stop_ratio", "digit_ratio", "quality")
        .orderBy("doc_id")),
    // Quality-score drift per language between corpus halves — the
    // text-feature drift monitor (the embed_drift_psi analog on the
    // cheap features): integer-binned 4-dp scores, Laplace-smoothed
    // micro-unit PSI terms, oracle replays the whole quality pipeline
    // AND the PSI arithmetic term-for-term.
    "quality_drift_psi" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      CorpusOps.qualityDriftPsi(
        docs.where(pmod(col("doc_id"), lit(2)) === 0),
        docs.where(pmod(col("doc_id"), lit(2)) === 1),
        "text", "lang")
        .orderBy("lang")
    }),
    // The drift monitor DEPLOYED ([[streamDriftPsi]]): every arriving
    // micro-batch's per-language quality histogram is scored against a
    // frozen reference snapshot — exactly CorpusOps.qualityDriftPsi per
    // batch, which is the graded claim.
    // Batch membership is the deterministic (doc_id div 10) % 3 stamp
    // (range-partitioned staging keeps a batch whole per file), so the
    // oracle replays every batch's full quality pipeline AND PSI
    // arithmetic term-for-term.
    "stream_quality_psi" -> ((s, d) =>
      streamDriftPsi(s, stagedQpsiBatches(s, d), "qpsi",
        Tables.documents(s, d).where(pmod(col("doc_id"), lit(10)) === 0)
          .select(col("doc_id"), col("lang"), col("text")), "lang")(
        CorpusOps.qualityDriftPsi(_, _, "text", "lang"))),
    // Gopher-style within-document repetition filters: duplicate-token and
    // duplicate-bigram fractions (per-row expressions) + most-frequent-
    // token dominance (explode + two hash-aggs).
    "repetition_signals" -> ((s, d) =>
      TextFunctions.repetitionSignals(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id")),
    "doc_fingerprint" -> ((s, d) =>
      TextFunctions.fingerprint(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id")),

    // ---- training-data extension tier: dedup ----
    "dedup_exact" -> ((s, d) =>
      Dedup.exactGroups(Tables.documents(s, d), "doc_id", "text")
        .orderBy("keep_id")),
    // Absolute cap on the brute-force slice (same rationale as
    // minhash_quality: jaccardPairs is quadratic in its slice, so the
    // graded plan needs a fixed ceiling, not a corpus fraction).
    "near_dup_jaccard" -> ((s, d) =>
      Dedup.jaccardPairs(
        Tables.documents(s, d).where(pmod(col("doc_id"), lit(10)) === 0
          && col("doc_id") < 10000),
        "doc_id", "text", "lang", threshold = 0.5)
        .orderBy("id_a", "id_b")),
    // Asymmetric containment (overlap coefficient with contained-side
    // attribution): catches the short-doc-embedded-in-long-doc
    // duplication Jaccard's union denominator dilutes away — same
    // bounded slice, brute-force oracle.
    "containment_pairs" -> ((s, d) =>
      Dedup.containmentPairs(
        Tables.documents(s, d).where(pmod(col("doc_id"), lit(10)) === 0
          && col("doc_id") < 10000),
        "doc_id", "text", "lang", threshold = 0.8)
        .orderBy("id_a", "id_b")),
    // Edit-distance fuzzy matching (4th near-dup modality: character-level
    // edits that token measures miss). Integer DP, same absolute slice cap
    // as the other quadratic-in-slice pair ops. ASCII is pinned on BOTH
    // sides (length == octet_length): Spark's levenshtein edits
    // codepoints, DuckDB's edits bytes — they agree exactly on ASCII and
    // on nothing else, so the gate filters to where the contract is real
    // (a no-op on this corpus, which is pure ASCII).
    "fuzzy_match_pairs" -> ((s, d) =>
      Dedup.editDistancePairs(
        Tables.documents(s, d).where(pmod(col("doc_id"), lit(10)) === 0
          && col("doc_id") < 10000
          && length(col("text")) === octet_length(col("text"))),
        "doc_id", "text", "lang", prefixLen = 80, maxDist = 55)
        .withColumnRenamed("block", "lang")
        .orderBy("lang", "id_a", "id_b")),
    // The MinHash-LSH pair list, oracle-gated end to end: banded candidate
    // generation (xxhash64 signatures — the production scale path) + exact
    // jaccard verification, emitted as the full verified pair list over a
    // bounded slice DISJOINT from near_dup_jaccard's (mod-10 residue 1 vs
    // 0). The DuckDB oracle recomputes the exhaustive exact-jaccard pair
    // set for the slice: the hash match proves the banding recovered
    // EVERY pair (at r=1/bands=32 a j≥0.5 pair is missed with probability
    // ≤ 2^-32, and xxhash64 is deterministic — green once is green
    // always). The estimator itself stays gated by minhash_quality below.
    "minhash_lsh_pairs" -> ((s, d) =>
      Dedup.verifiedNearDupPairs(
        Tables.documents(s, d).where(pmod(col("doc_id"), lit(10)) === 1
          && col("doc_id") < 10000),
        "doc_id", "text", threshold = 0.5)
        .orderBy("id_a", "id_b")),
    // Incremental NEAR-dup: the band manifest of the "existing" half is
    // probed by the "batch" half — only colliding (band, bucket)
    // candidates re-verify, batch-internal pairs come off the standard
    // banded self-join, and the union with the previously-known pairs
    // must equal the FULL-corpus run: the oracle is minhash_lsh_pairs'
    // exhaustive exact-jaccard truth over the whole slice verbatim
    // (incremental == full, the selective_recompute proof pattern).
    "incremental_neardup" -> ((s, d) => {
      val slice = Tables.documents(s, d)
        .where(pmod(col("doc_id"), lit(10)) === 1 && col("doc_id") < 10000)
      Dedup.incrementalNearDupPairs(
        batch = slice.where(pmod(expr("doc_id div 10"), lit(2)) === 1),
        existing = slice.where(pmod(expr("doc_id div 10"), lit(2)) === 0),
        "doc_id", "text", threshold = 0.5)
        .orderBy("id_a", "id_b")
    }),
    // The persisted-manifest variant: the SAME incremental contract, but
    // the batch probes a (band, bucket)-BUCKETED manifest table read
    // back from the warehouse — the layout an ingest pipeline would
    // append after every batch. The probe join runs with zero exchange
    // on the manifest side (PlanSpec pins it); the oracle is the same
    // full-corpus exhaustive truth, so bucketed-incremental == full by
    // hash.
    "incremental_neardup_bucketed" -> ((s, d) => {
      val slice = Tables.documents(s, d)
        .where(pmod(col("doc_id"), lit(10)) === 1 && col("doc_id") < 10000)
      Dedup.incrementalNearDupPairsOnManifest(
        batch = slice.where(pmod(expr("doc_id div 10"), lit(2)) === 1),
        manifest = s.table(neardupState(s, d)._1),
        existing = slice.where(pmod(expr("doc_id div 10"), lit(2)) === 0),
        "doc_id", "text", threshold = 0.5)
        .orderBy("id_a", "id_b")
    }),
    // BOTH prior-run artifacts persisted — the shape the ingest pipeline
    // actually runs: the bucketed manifest is probed AND the known pair
    // list is read back (plain table, only unioned), so the existing
    // corpus is never re-signed and never re-self-joined; it is read
    // only to verify colliding candidates. Same full-corpus truth
    // oracle: persisted-incremental == full by hash.
    "incremental_neardup_persisted" -> ((s, d) => {
      val slice = Tables.documents(s, d)
        .where(pmod(col("doc_id"), lit(10)) === 1 && col("doc_id") < 10000)
      val (mt, pt) = neardupState(s, d)
      Dedup.incrementalNearDupPairsOnState(
        batch = slice.where(pmod(expr("doc_id div 10"), lit(2)) === 1),
        manifest = s.table(mt),
        knownPairs = s.table(pt),
        existing = slice.where(pmod(expr("doc_id div 10"), lit(2)) === 0),
        "doc_id", "text", threshold = 0.5)
        .orderBy("id_a", "id_b")
    }),
    // The STREAMING ingest loop ([[ingestMicroBatches]]) closed over the
    // same persisted state: the batch slice arrives as three
    // micro-batches, each verifying its candidates against the
    // corpus-so-far — the existing corpus is never re-signed, never
    // re-self-joined. The union of the read-back known-pair list and all
    // emissions must hash-match the same full-corpus truth oracle the
    // batch incremental variants grade against: streaming-incremental ==
    // batch-incremental == full.
    "stream_neardup_incremental" -> ((s, d) => {
      val slice = Tables.documents(s, d)
        .where(pmod(col("doc_id"), lit(10)) === 1 && col("doc_id") < 10000)
      val (mt, pt) = neardupState(s, d)
      ingestMicroBatches(s, stagedDocBatches(s, d), "nd",
          "manifest", "corpus", "pairs") {
        case Seq(mtS, corpusS, outS) =>
          // manifest seeded from the persisted table, corpus-so-far with
          // the existing half, output empty. The working manifest keeps
          // the persisted (band, bucket) layout — seeded and grown
          // bucketed, so every probe reads the GROWING manifest
          // exchange-free like the batch-persisted variant (a plain
          // saveAsTable copy would re-shuffle it on every probe)
          ScaleOps.writeBucketed(
            s.table(mt).repartition(8, col("band"), col("bucket")),
            mtS, Seq("band", "bucket"), buckets = 8)
          slice.where(pmod(expr("doc_id div 10"), lit(2)) === 0)
            .write.saveAsTable(corpusS)
          s.table(pt).limit(0).write.saveAsTable(outS)
          MicroBatchLoop(
            each = b => {
              Dedup.incrementalNearDupPairsOnState(b, s.table(mtS),
                s.table(pt).limit(0), s.table(corpusS), "doc_id", "text",
                threshold = 0.5)
                .write.mode("append").saveAsTable(outS)
              ScaleOps.appendBucketed(
                Dedup.bandManifest(b, "doc_id", "text"),
                mtS, Seq("band", "bucket"), buckets = 8)
              b.write.mode("append").saveAsTable(corpusS)
            },
            result = () =>
              s.table(pt).select("id_a", "id_b", "shared", "jaccard")
                .unionByName(
                  s.table(outS).select("id_a", "id_b", "shared", "jaccard")))
      }.orderBy("id_a", "id_b")
    }),
    // MinHash estimator quality, oracle-gated: DuckDB recomputes the
    // exhaustive exact-jaccard truth set (n_truth must hash-match) and
    // expects both booleans TRUE — recall of the banded candidates over
    // the truth pairs and the worst |est − true| error are contracts, not
    // descriptions. Floors: measured recall ≥ 0.9998 and max err ≤ 0.224
    // across sf0.001-0.1 with k=64/bands=32 at est-threshold 0.35.
    //
    // The truth slice is ABSOLUTELY bounded (doc_id < 10000 on top of the
    // mod-10 spread → ≤1000 docs at ANY corpus size): jaccardPairs' token
    // self-join is quadratic in the slice, so a fractional sample would
    // make the graded plan itself O((n/10)²) at scale. The cap covers the
    // whole fixture today (max doc_id 4999), so the graded result is
    // unchanged — only the scaling contract tightens.
    "minhash_quality" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .where(pmod(col("doc_id"), lit(10)) === 0 && col("doc_id") < 10000)
      val truth = Dedup.jaccardPairs(
        docs.withColumn("one", lit(1)), "doc_id", "text", "one", 0.5)
        .select(col("id_a"), col("id_b"), col("jaccard"))
      val est = Dedup.minhashPairs(docs, "doc_id", "text",
        k = 64, bands = 32, estThreshold = 0.35)
      // coalesce(true): over an EMPTY truth set the aggregates are NULL,
      // and the oracle's literal TRUE means vacuous truth — without it an
      // empty slice would flip the gate even though nothing regressed.
      truth.as("t").join(est.as("e"), Seq("id_a", "id_b"), "left")
        .agg(
          count(lit(1)).as("n_truth"),
          coalesce(sum(when(col("est_jaccard").isNotNull, 1).otherwise(0))
            .cast("double") / count(lit(1)) >= 0.95, lit(true))
            .as("recall_ok"),
          coalesce(max(when(col("est_jaccard").isNotNull,
            abs(col("est_jaccard") - col("jaccard")))) <= 0.3, lit(true))
            .as("est_err_ok"))
    }),
    // Hamming-LSH banding (bands = maxHamming + 1 → lossless by
    // pigeonhole): full corpus, no semantic block, no sample — the banded
    // pair set provably equals the brute-force Hamming scan
    // (ExtensionOpsSpec). Fingerprints are the engine-replayable md5 fold
    // (fused SimHashMd5 kernel) so the DuckDB oracle recomputes them
    // bit-for-bit and brute-forces the full-corpus truth pairs — the hash
    // match grades the production banding join end to end at the
    // production radius (maxHamming=3, Manku et al. WWW'07). The xxhash64
    // fingerprint variant (simhashBandedPairs) stays in the API,
    // spec-pinned against its own brute-force Hamming scan.
    "simhash_hamming" -> ((s, d) =>
      Dedup.simhashReplayableBandedPairs(Tables.documents(s, d), "doc_id",
        "text", maxHamming = 3)
        .orderBy("id_a", "id_b")),
    // Incremental SimHash near-dup: the batch probes the existing
    // corpus's Hamming band manifest; pigeonhole losslessness holds
    // across frames, so known + internal + cross pairs hash-match the
    // SAME full-corpus brute-force oracle as simhash_hamming —
    // incremental == full on the second near-dup modality too.
    "incremental_simhash" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.incrementalSimhashPairs(
        batch = docs.where(pmod(col("doc_id"), lit(2)) === 1),
        existing = docs.where(pmod(col("doc_id"), lit(2)) === 0),
        "doc_id", "text", maxHamming = 3)
        .orderBy("id_a", "id_b")
    }),
    // The persisted-state variant on the Hamming tier: the bucketed band
    // manifest is probed and the known pair list is read back, so the
    // existing corpus is neither re-fingerprinted nor — the expensive
    // half — re-self-joined. Same full-corpus brute-force oracle:
    // persisted-incremental == full by hash.
    "incremental_simhash_persisted" -> ((s, d) => {
      val (mt, pt) = simhashState(s, d)
      Dedup.incrementalSimhashPairsOnState(
        batch = Tables.documents(s, d)
          .where(pmod(col("doc_id"), lit(2)) === 1),
        manifest = s.table(mt),
        knownPairs = s.table(pt),
        "doc_id", "text", maxHamming = 3)
        .orderBy("id_a", "id_b")
    }),
    // The SimHash streaming loop — with a property neither sibling has:
    // pigeonhole banding is LOSSLESS, so the streamed union is graded
    // against the exact brute-force Hamming truth (the same oracle as
    // the batch incremental and full variants), not a contract boolean:
    // streaming == batch-incremental == full == truth, all by hash.
    "stream_simhash_incremental" -> ((s, d) => {
      val (mt, pt) = simhashState(s, d)
      ingestMicroBatches(s, stagedSimhashBatches(s, d), "sh",
          "manifest", "pairs") {
        case Seq(mtS, outS) =>
          // the working manifest keeps the persisted (band, bval) layout,
          // so each probe reads the growing manifest exchange-free
          ScaleOps.writeBucketed(
            s.table(mt).repartition(8, col("band"), col("bval")),
            mtS, Seq("band", "bval"), buckets = 8)
          s.table(pt).limit(0).write.saveAsTable(outS)
          MicroBatchLoop(
            each = b => {
              // fingerprints travel IN the manifest rows, so no
              // corpus-so-far table exists at all: the probe verifies
              // Hamming distance from (a.sh, b.sh) directly
              Dedup.incrementalSimhashPairsOnState(b, s.table(mtS),
                s.table(pt).limit(0), "doc_id", "text", maxHamming = 3)
                .write.mode("append").saveAsTable(outS)
              ScaleOps.appendBucketed(
                Dedup.simhashBandManifest(b, "doc_id", "text",
                  maxHamming = 3),
                mtS, Seq("band", "bval"), buckets = 8)
            },
            result = () => s.table(pt).select("id_a", "id_b", "hamming")
              .unionByName(s.table(outS).select("id_a", "id_b", "hamming")))
      }.orderBy("id_a", "id_b")
    }),
    // SimHash quality companion, oracle-gated end to end: the SAME
    // Hamming-LSH banding join as simhash_hamming (shared
    // bandedHammingPairs core), run with the engine-replayable md5-fold
    // fingerprint over a bounded slice. The DuckDB oracle recomputes the
    // fingerprints bit-for-bit and the brute-force Hamming pair set — the
    // hash match proves the pigeonhole banding is exactly lossless (recall
    // 1.0 is a theorem here, and the oracle row makes it a graded
    // contract, not a spec-only claim). maxHamming=7 (8 bands × 8 bits,
    // the selectivity floor): the tightest radius whose truth set is
    // non-empty at EVERY graded SF — a vacuous 0-row match would gate
    // nothing at the driver's sf0.01.
    "simhash_quality" -> ((s, d) =>
      Dedup.simhashReplayableBandedPairs(
        Tables.documents(s, d).where(pmod(col("doc_id"), lit(10)) === 0
          && col("doc_id") < 10000),
        "doc_id", "text", maxHamming = 7)
        .orderBy("id_a", "id_b")),

    // ---- training-data extension tier: similarity search ----
    "knn_cosine_topk" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.knnBrute(e.where(col("vec_id") < 10), e, k = 3)
        .withColumn("rnk", col("rnk").cast("long"))
        .orderBy("qid", "rnk")
    }),
    // IVF serving over SQ8 codes with EVERYTHING deterministic — the
    // FAISS IndexIVFScalarQuantizer shape: cells from the micro-unit
    // Lloyd loop (kmeans_embed's machinery), nprobe=2 cells probed by
    // exact integer centroid distance, candidates ranked by integer
    // code-space L2, brute SQ8 top-3 as the audit leg. Probed cells,
    // served neighbors, distances, AND recall all hash-match the
    // oracle — the fully-replayable counterpart of knn_ivf_topk's
    // recall-floor contract.
    "knn_ivf_sq8" -> ((s, d) =>
      EmbeddingOps.knnIvfSq8(Tables.embeddings(s, d), "vec_id",
        "embedding", nlist = 8, nprobe = 2, iterations = 3,
        queryIds = (0L until 10L), topK = 3)
        .orderBy("qid", "rnk")),
    // SQ8 code-space serving: top-3 by INTEGER squared L2 over the
    // shared per-dim codebook codes (embed_quantize_dims' codes), with
    // the float-space exact top-3 recomputed as the audit half and the
    // per-query overlap graded as recall@3. Every ranked row hash-matches
    // the oracle — a strictly stronger contract than the LSH/IVF recall
    // floors, available because the ranking key is integer.
    "knn_sq8_topk" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      EmbeddingOps.knnSq8Report(e.where(col("vec_id") < 10), e,
        "vec_id", "embedding", k = 3)
        .orderBy("qid", "rnk")
    }),
    // Reciprocal nearest-neighbor pairs over the decile slice: the
    // high-precision pairing rule (mutuality kills hub pairs). Quantized
    // cosine ranking so both engines cut identical top-1s; the mutual
    // filter is a self-join of the bounded top-1 table.
    "mutual_knn_pairs" -> ((s, d) =>
      Similarity.mutualTopOne(
        Tables.embeddings(s, d).where(pmod(col("vec_id"), lit(10)) === 0),
        "vec_id", "embedding")
        .orderBy("id_a")),
    // ANN recall contracts: the oracle computes the exact top-3 (n_true)
    // and expects recall_ok=TRUE per query — the quality of the
    // approximate tier is hash-gated, not just row-counted. Floors are
    // measured per-SF minima with margin (min observed 1/3 at every SF).
    "knn_lsh_topk" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.where(col("vec_id") < 10)
      Similarity.recallVsBrute(
        Similarity.knnLsh(q, e, k = 3, bits = 4, tables = 16),
        Similarity.knnBrute(q, e, k = 3), floor = 0.3)
        .orderBy("qid")
    }),
    "knn_ivf_topk" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.where(col("vec_id") < 10)
      Similarity.recallVsBrute(
        Similarity.knnIvf(q, e, k = 3, nlist = 16, nprobe = 8,
          codebook = Some(ivfCodebook(s, d))),
        Similarity.knnBrute(q, e, k = 3), floor = 0.3)
        .orderBy("qid")
    }),
    // Incremental IVF APPEND — the serving analog of the dedup
    // manifests: the persisted cell-bucketed posting table (even half,
    // fixed codebook) grows by ONE assignment pass over the new batch
    // (odd half) — the codebook never refits, the existing postings are
    // never re-assigned — and queries serve from the grown table with
    // cells read from storage. Graded on two contracts: per-query
    // recall vs the exact top-3 over the FULL corpus (the ANN floor
    // convention), and append == full-rebuild as a SET IDENTITY over
    // (cid, cell) — assignment is deterministic given the codebook, so
    // the incremental table must equal assigning the whole corpus from
    // scratch.
    "incremental_ivf_append" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val (cb, pt) = ivfPostingState(s, d)
      val run = streamRuns.incrementAndGet()
      val ptW = s"graft_ivf_work_$run"
      // working copy per run (the streaming-loop discipline): seeded
      // bucketed from the persisted table, batch appended bucketed —
      // bench re-runs never double-append the persisted state
      ScaleOps.writeBucketed(
        s.table(pt).repartition(8, col("cell")),
        ptW, Seq("cell"), buckets = 8)
      ScaleOps.appendBucketed(
        Similarity.ivfAssign(
          e.where(pmod(col("vec_id"), lit(2)) === 1),
          "vec_id", "embedding", cb),
        ptW, Seq("cell"), buckets = 8)
      s.catalog.refreshTable(ptW)
      val q = e.where(col("vec_id") < 10)
      val ann = Similarity.knnIvfOnPostings(q, s.table(ptW), k = 3,
        nprobe = 8, codebook = cb)
      val eq = s.table(ptW)
        .select(col("cid"), col("cell"), lit(1).as("__i"))
        .join(Similarity.ivfAssign(e, "vec_id", "embedding", cb)
          .select(col("cid"), col("cell"), lit(1).as("__f")),
          Seq("cid", "cell"), "full_outer")
        .agg(sum(when(col("__i").isNull || col("__f").isNull, 1L)
          .otherwise(0L)).as("__mism"))
      val out = Similarity.recallVsBrute(ann,
          Similarity.knnBrute(q, e, k = 3), floor = 0.3)
        .crossJoin(broadcast(eq))
        .select(col("qid"), col("n_true"), col("recall_ok"),
          (coalesce(col("__mism"), lit(0L)) === 0L)
            .as("append_equals_full"))
        .orderBy("qid")
      // per-run working copy: materialize the graded result, capture the
      // serving plan for the PlanSpec pin, THEN drop — one stale
      // graft_ivf_work dir per bench run is the same warehouse-
      // accumulation class the streaming loops self-clean for
      selfCleaning(s, "incremental_ivf_append", out, ptW)
    }),
    // The ADC tier's persisted-append story — incremental_ivf_append one
    // compression level up, completing the serving-state matrix: the new
    // batch's PQ codes are encoded against the FROZEN model (coarse cell
    // → exact residual → m sub-codes, one map-only pass over the batch;
    // the even half is never re-encoded, the codebooks never move),
    // appended to the persisted cell-bucketed code table, and queries
    // serve from the grown table via the driver-built LUT broadcast —
    // candidates meet it on (cell, subspace, code), the cell-pruned key.
    // Grades BOTH the recall floor over the FULL corpus (IVFADC+R
    // serving: the ADC top-100 — still posting-driven and cell-pruned —
    // re-scored exactly; measured minima 0.6 at every SF, floor 0.5,
    // the knn_ivfadc_topk convention) AND append == full re-encode as a
    // set identity over (vec_id, cell, subspace, code).
    "incremental_ivfadc_append" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val (model, pt) = ivfadcPostingState(s, d)
      val run = streamRuns.incrementAndGet()
      val ptW = s"graft_ivfadc_work_$run"
      ScaleOps.writeBucketed(
        s.table(pt).repartition(8, col("cell")), ptW, Seq("cell"),
        buckets = 8)
      ScaleOps.appendBucketed(
        EmbeddingOps.ivfadcEncode(
          e.where(pmod(col("vec_id"), lit(2)) === 1),
          "vec_id", "embedding", model),
        ptW, Seq("cell"), buckets = 8)
      s.catalog.refreshTable(ptW)
      val eq = s.table(ptW)
        .select(col("vec_id"), col("cell"), col("subspace"), col("code"),
          lit(1).as("__i"))
        .join(EmbeddingOps.ivfadcEncode(e, "vec_id", "embedding", model)
          .select(col("vec_id"), col("cell"), col("subspace"), col("code"),
            lit(1).as("__f")),
          Seq("vec_id", "cell", "subspace", "code"), "full_outer")
        .agg(sum(when(col("__i").isNull || col("__f").isNull, 1L)
          .otherwise(0L)).as("__mism"))
      val out = EmbeddingOps.ivfadcRecallOnCodes(e, "vec_id", "embedding",
          s.table(ptW), model, nprobe = 5, queryIds = Seq(1L, 2L, 3L),
          topK = 10, floor = 0.5, rerank = 100)
        .crossJoin(broadcast(eq))
        .select(col("qid"), col("n_true"), col("recall_ok"),
          (coalesce(col("__mism"), lit(0L)) === 0L)
            .as("append_equals_full"))
        .orderBy("qid")
      selfCleaning(s, "incremental_ivfadc_append", out, ptW)
    }),

    // ---- training-data extension tier: multimodal columns ----
    // Portable metadata path over opaque bytes.
    "media_metadata" -> ((s, d) =>
      Tables.documents(s, d).select(
        col("doc_id").as("media_id"),
        octet_length(col("text").cast("binary")).cast("long").as("n_bytes"),
        md5(col("text").cast("binary")).as("content_md5"))
        .orderBy("media_id")),
    // Partition-batched decode plumbing (stub codec — deterministic fake;
    // not SQL-expressible → rows-only).
    "media_decode_meta" -> ((s, d) =>
      graft.multimodal.MultimodalOps.decodeMeta(documentsAsMedia(s, d))
        .orderBy("media_id")),
    // Frame-sampling generator over decoded durations: one row per sampled
    // timestamp. Fully oracle-checked — DuckDB replays the fake decoder's
    // byte fold in HUGEINT arithmetic (shared decoderFoldCte) and
    // generates the same timestamp grid, so the explode-of-sequence
    // generator plan is hash-gated end to end.
    "frame_sample" -> ((s, d) =>
      graft.multimodal.MultimodalOps.frameSamplePlan(
        graft.multimodal.MultimodalOps.decodeMeta(documentsAsMedia(s, d)),
        everyMs = 60000L)
        .orderBy("media_id", "frame_ms")),
    // Frame-level exact dedup across media: every sampled frame
    // digested map-side (bytes dropped before the exchange — the
    // document-dedup discipline), duplicate groups with a
    // deterministic min-(media, frame) keeper. Byte-identical media
    // share every frame digest, the duplicate structure a video crawl's
    // intro/outro frames exhibit.
    "frame_dedup" -> ((s, d) =>
      graft.multimodal.MultimodalOps.frameDedup(documentsAsMedia(s, d),
        everyMs = 60000L)
        .orderBy("digest")),
    // Perceptual frame near-dup: aHash-64 per sampled frame window
    // (bit = pixel above the frame mean, exact integers), paired
    // through the SimHash tier's Hamming-LSH banding — never all-pairs.
    // The oracle refolds every fingerprint and brute-forces the Hamming
    // truth, so the banding join is hash-graded end to end at radius 3.
    "frame_neardup_ahash" -> ((s, d) =>
      graft.multimodal.MultimodalOps.framePerceptualPairs(
        documentsAsMedia(s, d), everyMs = 60000L, maxHamming = 3)
        .orderBy("media_a", "frame_a_ms", "media_b", "frame_b_ms")),
    // The FOURTH modality's incremental layout: odd-media frame
    // fingerprints probe the persisted (band, bval)-bucketed aHash
    // manifest + read-back pair list (fingerprints travel IN the
    // manifest — the even half is never re-decoded, never re-banded).
    // Pigeonhole banding is lossless, so incremental == full == brute
    // Hamming truth under the SAME oracle as frame_neardup_ahash.
    "incremental_frame_neardup" -> ((s, d) => {
      val (mt, pt) = frameState(s, d)
      val batchFp = graft.multimodal.MultimodalOps.frameFingerprints(
        documentsAsMedia(s, d)
          .where(pmod(col("media_id"), lit(2)) === 1), everyMs = 60000L)
      graft.multimodal.MultimodalOps.decodeFramePairKeys(
        Dedup.incrementalHammingPairsOnState(batchFp, s.table(mt),
          s.table(pt), maxHamming = 3), everyMs = 60000L)
        .orderBy("media_a", "frame_a_ms", "media_b", "frame_b_ms")
    }),
    // The FOURTH modality's streaming loop — frames close the set:
    // MinHash, cosine-SRP, SimHash, and now aHash frames all run on
    // [[ingestMicroBatches]]. Each batch decodes its own frames only
    // (the even half is never re-decoded — fingerprints travel IN the
    // manifest). Pigeonhole banding is lossless, so the union of
    // the read-back pair list and all emissions grades against the
    // SAME brute-force Hamming truth as frame_neardup_ahash:
    // streaming == batch-incremental == full == truth, all by hash.
    "stream_frame_incremental" -> ((s, d) => {
      val (mt, pt) = frameState(s, d)
      // the odd-doc feed doubles as the odd-MEDIA feed (media_id =
      // doc_id): each micro-batch pins the fingerprints of its own frames
      val streamed = ingestMicroBatches(s, stagedSimhashBatches(s, d), "fr",
          "manifest", "pairs") {
        case Seq(mtS, outS) =>
          ScaleOps.writeBucketed(
            s.table(mt).repartition(8, col("band"), col("bval")),
            mtS, Seq("band", "bval"), buckets = 8)
          s.table(pt).limit(0).write.saveAsTable(outS)
          MicroBatchLoop(
            pin = b => graft.multimodal.MultimodalOps.frameFingerprints(
              asMedia(b), everyMs = 60000L),
            each = fp => {
              Dedup.incrementalHammingPairsOnState(fp, s.table(mtS),
                s.table(pt).limit(0), maxHamming = 3)
                .write.mode("append").saveAsTable(outS)
              ScaleOps.appendBucketed(
                Dedup.hammingBandManifestOf(fp, maxHamming = 3),
                mtS, Seq("band", "bval"), buckets = 8)
            },
            result = () => s.table(pt).select("id_a", "id_b", "hamming")
              .unionByName(s.table(outS).select("id_a", "id_b", "hamming")))
      }
      graft.multimodal.MultimodalOps.decodeFramePairKeys(streamed,
        everyMs = 60000L)
        .orderBy("media_a", "frame_a_ms", "media_b", "frame_b_ms")
    }),
    // Aspect-preserving resize planning over decoded dims — the decoder
    // fold is replayed in DuckDB HUGEINT arithmetic (shared decoderFoldCte)
    // and the box-fit math is pure doubles, so target dims hash-check
    // end to end.
    "media_resize" -> ((s, d) =>
      graft.multimodal.MultimodalOps.resizePlan(
        graft.multimodal.MultimodalOps.decodeMeta(documentsAsMedia(s, d)),
        maxW = 256, maxH = 256)
        .select(col("media_id"), col("width"), col("height"),
          col("target_w"), col("target_h"))
        .orderBy("media_id")),
    // Feature-extraction plumbing (stub encoder): the embedding itself is
    // engine-side (not SQL-expressible), so the graded columns are the
    // structural contract — width and [0,1) range as hash-gated booleans.
    "media_features" -> ((s, d) =>
      graft.multimodal.MultimodalOps.extractFeatures(
        documentsAsMedia(s, d), dim = 8)
        .select(col("media_id"), size(col("features")).cast("long").as("dim"),
          expr("forall(features, x -> x >= 0.0 AND x < 1.0)").as("range_ok"))
        .orderBy("media_id")),

    // SO2 — genuine UNION ALL stack of two weekly-stats sources.
    "union_stack" -> ((s, d) => {
      val a = WeeklyAgg.weeklyStatsCore(Tables.events(s, d), col("ts"),
        col("event_type"), col("event_id"), col("value"))
        .withColumn("src", lit("events"))
      val b = WeeklyAgg.weeklyStatsCore(Tables.orders(s, d), col("o_orderdate"),
        col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
        .withColumn("src", lit("orders"))
      a.unionByName(b).orderBy("src", "week", "dim")
    }),
    // Gap-based sessionization (30 min) over per-user event streams.
    "sessionize_events" -> ((s, d) =>
      Sessionize.sessionize(Tables.events(s, d), "user_id", "ts", "event_id",
        gapMs = 1800000L)
        .orderBy("user_id", "session_id")),
    // Point-in-interval join at scale: assign every event to the session
    // interval that contains it via (key, time-cell) bucketing — the
    // hash-joinable form of `ON ts BETWEEN t_start AND t_end`. Sessions
    // derive from the same events, so the result doubles as a consistency
    // proof: exactly one matching interval per event (gap-separated
    // intervals can't overlap), and the oracle recomputes the naive
    // BETWEEN join.
    "interval_join_sessions" -> ((s, d) => {
      val e = Tables.events(s, d)
      val sess = Sessionize.sessionize(e, "user_id", "ts", "event_id",
        gapMs = 1800000L)
        .select(col("user_id").as("s_user"), col("session_id"),
          col("t_start"), col("t_end"))
      RangeJoin.pointInIntervalJoin(
        e.select("user_id", "ts", "event_id"), "user_id", "ts",
        sess, "s_user", "t_start", "t_end", cellMs = 3600000L)
        .select(col("event_id"), col("user_id"), col("session_id"))
        .orderBy("event_id")
    }),

    // ---- streaming tier (SURVEY §2.G): graded batch-equivalence ----
    // The flagship stateful operator, graded: gap-closed sessions emitted
    // only when watermark-final (flatMapGroupsWithState + event-time
    // timeout over a real file stream). The contract is stream/batch
    // agreement: the emitted session set must equal the batch sessionize
    // result restricted to sessions the FINAL watermark (max event time
    // − 1 h) closed — recomputed independently by the DuckDB oracle.
    // Timestamps are ms-floored by the streaming state
    // (java.sql.Timestamp), matching Spark's ms-floor watermark clock, so
    // the oracle compares in epoch_ms and truncates emitted bounds to
    // milliseconds.
    "stream_sessions_final" -> ((s, d) => {
      val st = graft.streaming.EventsStreaming.closedSessions(
        graft.streaming.EventsStreaming.readEventsStream(s, stagedEvents(s, d)),
        gapMs = 1800000L, watermark = "1 hour")
      runStreamToTable(s, st.toDF(), "sessions")
        .select(col("userId").as("user_id"), col("startTs").as("t_start"),
          col("endTs").as("t_end"), col("nEvents").as("n_events"))
        .orderBy("user_id", "t_start")
    }),
    // Streaming windowed HLL distinct users — the sketch tier under
    // streaming: bounded per-window state, watermark-final emission. The
    // oracle owns the exact per-week distinct count and replays the
    // emission cutoff (weeks whose end the final watermark passed); the
    // estimate's error contract is the hash-gated boolean. lgK=12 →
    // RSE 1.04/√4096 ≈ 1.6 %, so 8 %+abs-5 (the same estimate-vs-exact
    // bound hll_rollup_orders gates at) is ≈5σ — and deterministic for a
    // given input set because HLL is order-insensitive.
    "stream_weekly_hll" -> ((s, d) => {
      val src = graft.streaming.EventsStreaming
        .readEventsStream(s, stagedEvents(s, d))
      val est = runStreamToTable(s,
        graft.streaming.EventsStreaming.weeklyDistinctSketch(src), "hll")
      val exact = Tables.events(s, d)
        .where(col("user_id").isNotNull && col("ts").isNotNull)
        .groupBy(CoreOps.weekStart(col("ts")).as("week"))
        .agg(count_distinct(col("user_id")).as("users_exact"))
      est.join(exact, Seq("week"))
        .select(col("week"), col("users_exact"),
          (abs(col("users_est") - col("users_exact")).cast("double")
            <= greatest(lit(5.0), col("users_exact") * lit(0.08)))
            .as("hll_ok"))
        .orderBy("week")
    }),
    // Stream-static broadcast enrichment → watermarked weekly rollup per
    // enriched category: count/sum are exact in streaming aggregations,
    // so emitted windows (end ≤ final watermark) grade EXACTLY against
    // the batch replay — no tolerance gate needed, unlike the
    // approx-forced stats/HLL streams.
    "stream_static_enrich" -> ((s, d) => {
      import s.implicits._
      val src = graft.streaming.EventsStreaming
        .readEventsStream(s, stagedEvents(s, d))
      val dim = Seq(("click", "engagement"), ("view", "engagement"),
        ("purchase", "revenue"), ("signup", "acquisition"),
        ("error", "ops")).toDF("event_type", "category")
      runStreamToTable(s,
        graft.streaming.EventsStreaming.enrichedWindowTotals(src, dim),
        "enrich")
        .select(col("window.start").as("week"), col("category"),
          col("events"), col("cents"))
        .orderBy("week", "category")
    }),
    // Stream-stream interval join (click → purchase within 1 h, same
    // user), graded: both sides watermarked, state evictable — and with
    // the finite source drained, the emitted pair set is exactly the
    // batch interval join the oracle runs. Timestamps pass through
    // untouched (no state encoding), so they compare at full micros.
    "stream_join_attribution" -> ((s, d) => {
      val src = graft.streaming.EventsStreaming
        .readEventsStream(s, stagedEvents(s, d))
      val joined = graft.streaming.EventsStreaming.streamStreamJoin(
        src.where(col("event_type") === "click"),
        src.where(col("event_type") === "purchase"), within = "1 hour")
      runStreamToTable(s, joined, "attrib")
        .select(col("l_id").as("click_id"), col("l_ts").as("click_ts"),
          col("r_id").as("purchase_id"), col("r_ts").as("purchase_ts"),
          col("user_id"))
        .orderBy("click_id", "purchase_id")
    }),
    // LEFT OUTER stream-stream join, graded on its null side: clicks
    // that never converted within the hour, emitted only once the final
    // watermark (max ts − 2 h, advanced by the no-data micro-batch)
    // closes their join window — the deterministic subset the oracle
    // recomputes with the same NOT EXISTS + watermark-cutoff predicate.
    // Clicks whose window is still open at shutdown stay in state and
    // emit nothing, exactly as production would hold them.
    "stream_join_unmatched" -> ((s, d) => {
      val src = graft.streaming.EventsStreaming
        .readEventsStream(s, stagedEvents(s, d))
      val joined = graft.streaming.EventsStreaming.streamStreamLeftJoin(
        src.where(col("event_type") === "click"),
        src.where(col("event_type") === "purchase"), within = "1 hour")
      runStreamToTable(s, joined, "unmatched")
        .where(col("r_id").isNull)
        .select(col("l_id").as("click_id"), col("l_ts").as("click_ts"),
          col("user_id"))
        .orderBy("click_id")
    }),
    // Streaming Welford z-scores, graded: the finite source arrives as ONE
    // micro-batch (no maxFilesPerTrigger), so the per-key fold runs in
    // (ts, event_id) order over each key's full history — the oracle
    // recomputes every event's inclusive-prefix mean/stddev_samp with
    // window functions (same ddof=1 and std==0/n<2 → z=0 guards as the
    // batch Anomaly stage). z rounds to 4 dp on both sides; ts stays out
    // of the projection (ms-floored by the state encoder — event_id is
    // the row identity).
    "stream_zscore" -> ((s, d) => {
      val st = graft.streaming.EventsStreaming.runningZScores(
        graft.streaming.EventsStreaming.readEventsStream(s, stagedEvents(s, d)))
      runStreamToTable(s, st.toDF(), "zscore")
        .select(col("dim").as("event_type"), col("eventId").as("event_id"),
          col("value"), CoreOps.rnd(col("z")).as("z"),
          col("nSeen").as("n_seen"))
        .orderBy("event_type", "event_id")
    }),
    // Streaming exact dedup, graded (the last streaming operator without a
    // batch-equivalence row): content coarsened to (event_type, ⌊value⌋) so
    // the corpus has genuine duplicates, digested and deduped by
    // dropDuplicatesWithinWatermark. WHICH row survives per digest is
    // engine-scheduling-dependent, so the graded projection is the
    // deterministic invariant: exactly one survivor per digest — per-type
    // survivor counts equal DuckDB's distinct-content counts. The finite
    // source arrives as one micro-batch (same property stream_zscore
    // documents), so no digest's state is evicted mid-corpus and the
    // dedup horizon covers the whole fixture.
    "stream_dedup_final" -> ((s, d) => {
      val src = graft.streaming.EventsStreaming
        .readEventsStream(s, stagedEvents(s, d))
        .withColumn("content",
          concat_ws("|", col("event_type"), floor(col("value"))))
      val dd = graft.streaming.EventsStreaming.streamingDedup(src, "content")
      runStreamToTable(s, dd, "dedup")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_kept"))
        .orderBy("event_type")
    }),
    // Watermarked weekly windowed stats — the streaming flagship
    // aggregation (windowedStats), graded with the stream_weekly_hll
    // contract shape: the oracle owns the exact per-(week, type) values
    // and replays the append-mode emission cutoff (weeks whose end the
    // final watermark passed); the engine-specific estimates ride as
    // gated booleans. transactions is approx_count_distinct (1 % rsd —
    // the 8 %+abs-5 bound is many σ); value_mean's gate absorbs the
    // double-sum-order wobble of a streaming avg vs the exact cents mean;
    // value_median is EXACTLY the rank-⌈n/2⌉ element at this fixture's
    // group sizes (< the sketch accuracy), compared at 4 dp.
    "stream_weekly_stats" -> ((s, d) => {
      val src = graft.streaming.EventsStreaming
        .readEventsStream(s, stagedEvents(s, d))
      val st = runStreamToTable(s,
        graft.streaming.EventsStreaming.windowedStats(src), "wstats")
        .select(col("window.start").as("week"), col("event_type"),
          col("transactions"), col("value_mean"), col("value_median"))
      val n = col("__n")
      val exact = Tables.events(s, d)
        .withColumn("__cents", CoreOps.moneyCents(col("value")))
        .groupBy(CoreOps.weekStart(col("ts")).as("week"), col("event_type"))
        .agg(count_distinct(col("event_id")).as("tx_exact"),
          CoreOps.rnd(sum(col("__cents")).cast("double") / 100.0
            / count(col("__cents"))).as("mean_exact"),
          sort_array(collect_list(col("value"))).as("__vals"),
          count(col("value")).as("__n"))
        .withColumn("__med",
          element_at(col("__vals"), ceil(n.cast("double") / 2.0).cast("int")))
      st.join(exact, Seq("week", "event_type"))
        .select(col("week"), col("event_type"), col("tx_exact"),
          col("mean_exact"),
          (abs(col("transactions") - col("tx_exact")).cast("double")
            <= greatest(lit(5.0), col("tx_exact") * lit(0.08))).as("tx_ok"),
          (abs(col("value_mean") - col("mean_exact")) <= lit(0.001))
            .as("mean_ok"),
          (abs(col("value_median") - CoreOps.rnd(col("__med"))) <= lit(0.0001))
            .as("median_ok"))
        .orderBy("week", "event_type")
    }),
    // Built-in session_window sessions, graded: the engine-side merging
    // session state against the oracle's gaps-and-islands replay of the
    // END-EXCLUSIVE gap rule ([start, last + gap): an event exactly `gap`
    // after the previous one opens a NEW session — delta >= gap, where the
    // custom closedSessions operator splits strictly on delta > gap), with
    // append-mode emission replayed at the final watermark. Bounds stay
    // micros (no state re-encoding through java.sql.Timestamp here);
    // session totals are 2-dp-value sums rounded at 4 dp, stable to
    // double-sum order (≤1e-10 from a 2-dp decimal, never near a rounding
    // boundary).
    "stream_sessions_window" -> ((s, d) => {
      val src = graft.streaming.EventsStreaming
        .readEventsStream(s, stagedEvents(s, d))
        .where(col("user_id").isNotNull && col("ts").isNotNull)
      val sw = graft.streaming.EventsStreaming.sessionWindows(src)
      runStreamToTable(s, sw, "swin")
        .select(col("user_id"), col("session_window.start").as("t_start"),
          col("session_window.end").as("t_end"), col("n_events"),
          CoreOps.rnd(col("total")).as("total"))
        .orderBy("user_id", "t_start")
    }),
    // Stateful running per-user totals (mapGroupsWithState, Update mode),
    // graded on the FINAL state: the memory sink sees every per-batch
    // update, so the final row per user is selected by the monotone
    // nEvents (argmax via struct max — deterministic however the source
    // micro-batched). n_events is the exact graded value; the double
    // running total (folded in engine arrival order) grades as a gate
    // against the exact cents sum.
    "stream_user_totals" -> ((s, d) => {
      val st = graft.streaming.EventsStreaming.userSessions(
        graft.streaming.EventsStreaming.readEventsStream(s, stagedEvents(s, d)))
      val fin = runStreamToTable(s, st.toDF(), "usertot",
          org.apache.spark.sql.streaming.OutputMode.Update)
        .groupBy(col("userId").as("user_id"))
        .agg(max(struct(col("nEvents"), col("total"))).as("__m"))
        .select(col("user_id"), col("__m.nEvents").as("n_events"),
          col("__m.total").as("__total"))
      val exact = Tables.events(s, d)
        .where(col("user_id").isNotNull && col("value").isNotNull)
        .groupBy(col("user_id"))
        .agg(sum(CoreOps.moneyCents(col("value"))).as("__cents"))
      fin.join(exact, Seq("user_id"))
        .select(col("user_id"), col("n_events"),
          (abs(col("__total") - col("__cents").cast("double") / 100.0)
            <= lit(0.001)).as("total_ok"))
        .orderBy("user_id")
    }),
    // foreachBatch bridge, graded end-to-end: every micro-batch flows
    // through a BATCH-library transform (filter + CoreOps projection —
    // deliberately map-only, so the parquet the writer appends is
    // batching-invariant: per-batch row sets are disjoint slices of the
    // corpus under ANY trigger layout) into a parquet sink, and the
    // read-back aggregates against the oracle computing the same thing
    // from the raw table. A fresh sink dir per EXECUTION keeps bench
    // re-runs from appending onto earlier output.
    "stream_foreachbatch_agg" -> ((s, d) => {
      import CoreOps.rnd
      val outDir = java.nio.file.Files
        .createTempDirectory("graft-feb-sink").toString
      val src = graft.streaming.EventsStreaming
        .readEventsStream(s, stagedEvents(s, d))
      val q = graft.streaming.EventsStreaming.foreachBatchWriter(src,
          b => b.where(col("event_type").isin("view", "click"))
            .select(col("event_id"), col("event_type"),
              CoreOps.weekStart(col("ts")).as("week"),
              CoreOps.moneyCents(col("value")).as("__cents"))) {
          (batch, _) => batch.write.mode("append").parquet(outDir)
        }.start()
      try q.processAllAvailable() finally q.stop()
      s.read.parquet(outDir)
        .groupBy("week", "event_type")
        .agg(count(lit(1)).as("n"),
          rnd(sum(col("__cents")).cast("double") / 100.0).as("sum_value"))
        .orderBy("week", "event_type")
    }),
    // ---- write-path tier (ScaleOps.writeBucketed / compactParquet) ----
    // Bucketed co-located join: orders and customer written bucketed by
    // the join key (same bucket count), read back, and joined WITHOUT any
    // exchange on either side (PlanSpec pins the zero-shuffle join). The
    // oracle computes the identical join + rollup from the RAW parquet —
    // proving the layout op changed the plan, not the content.
    "bucketed_join_orders" -> ((s, d) => {
      val (ot, ct) = bucketedOrdersCustomer(s, d)
      ScaleOps.bucketedJoin(s, ot, ct, "o_custkey", "c_custkey")
        .withColumn("__cents", CoreOps.moneyCents(col("o_totalprice")))
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_orders"),
          CoreOps.rnd(sum(col("__cents")).cast("double") / 100.0)
            .as("total_price"))
        .orderBy("c_nationkey")
    }),
    // Small-files compaction round-trip: orders fragmented to 64 tiny
    // files, compacted by on-disk size with a row-group sort key, read
    // back and aggregated — graded against the oracle reading the raw
    // table. Content-preservation proof for the compaction rewrite.
    "compacted_source_agg" -> ((s, d) => {
      import CoreOps.rnd
      s.read.parquet(compactedOrders(s, d))
        .withColumn("week", CoreOps.weekStart(col("o_orderdate")))
        .withColumn("__cents", CoreOps.moneyCents(col("o_totalprice")))
        .groupBy(col("week"), col("o_orderpriority").as("dim"))
        .agg(count(lit(1)).as("n"),
          rnd(sum(col("__cents")).cast("double") / 100.0).as("total_price"))
        .orderBy("week", "dim")
    }),
    // Partition-pruned scan: events written hive-partitioned by
    // event_type, read back with a partition-column predicate — the scan
    // must prune DIRECTORIES (PlanSpec pins the PartitionFilter), and the
    // surviving rows aggregate identically to the oracle filtering the
    // raw table. The layout counterpart to predicate pushdown: at 100 TB
    // the pruned partitions are never even listed.
    "partition_pruned_agg" -> ((s, d) =>
      weeklyFormatAgg(s.read.parquet(partitionedEvents(s, d))
        .where(col("event_type").isin("click", "purchase")))),
    // Fixed-iteration PageRank over the co-purchase graph (3 rounds,
    // damping 0.85): the iterative-operator representative. Micro-unit
    // long ranks with composed floor-divisions make every round an exact
    // integer recurrence both engines replay bit-for-bit; the oracle
    // unrolls the three rounds as chained CTEs.
    "pagerank_parts" -> ((s, d) => {
      val (_, edges, deg) = basketGraph(s, d)
      GraphOps.pageRanksOf(edges, deg, iterations = 3)
        .orderBy("node")
    }),
    // 50-core of the co-purchase graph: iterative degree peel to the
    // fixpoint (loud if 10 rounds don't reach it; the oracle unrolls
    // exactly 10 — monotone peeling makes the two identical). k=50
    // actually cascades here (~8 rounds, ~9% of nodes peel away at the
    // graded SF) — the cohesive-cluster extractor degree alone can't
    // fake.
    "k_core_parts" -> ((s, d) => {
      val (_, edges, _) = basketGraph(s, d)
      GraphOps.kCoreOf(edges, k = 50, maxPeels = 10)
        .orderBy("node")
    }),
    // 4-truss of the co-purchase graph: every surviving edge must sit in
    // ≥ 2 triangles of the surviving subgraph — the edge-level cohesion
    // peel (a core vouches for NODES, a truss for every EDGE's shared
    // neighborhood). Delta peel: the O(m^1.5) support enumeration runs
    // once, then each wave recomputes only its triangle partners. The
    // oracle unrolls 12 full-recompute rounds — the engine asserts
    // fixpoint within 12 (measured: 6 at sf0.01, 8 at sf0.1), and
    // peeling is monotone, so round 12 IS the fixpoint.
    "k_truss_parts" -> ((s, d) => {
      val (_, edges, _) = basketGraph(s, d)
      GraphOps.trussOf(edges, k = 4, maxPeels = 12,
        sharedTriangles = basketTriangles(s, d))
        .orderBy("u", "v")
    }),
    // Influence radius: BFS to 4 hops from the co-purchase hub (max
    // degree, min id). Frontier⋈adjacency per round, min-hop agg,
    // checkpointed node-scale state; bounded depth IS the semantics.
    "bfs_hops_parts" -> ((s, d) => {
      val (_, edges, deg) = basketGraph(s, d)
      GraphOps.bfsHopsOf(edges, deg, maxHops = 4)
        .orderBy("node")
    }),
    // Synchronous determinized label-propagation communities, 4 rounds
    // over the co-purchase graph: every node adopts its neighbors'
    // majority label (ties to the smallest), all from the previous
    // generation. Fixed rounds IS the semantics (async LPA is
    // irreproducible); per round one edge join + count agg + an argmax
    // window whose rank<=1 pushes into WindowGroupLimit.
    "label_propagation" -> ((s, d) =>
      lpaLabels(s, d).orderBy("node")),
    // Newman modularity of those communities, per community: did the
    // 4-round flood find structure (Q > 0) or relabel noise? Two label
    // attaches + ONE community-keyed aggregate; every contribution the
    // exact rational (4·m·e_c − d_c²)/(4m²), 4-dp at the very end.
    "community_modularity" -> ((s, d) =>
      GraphOps.communityModularity(basketGraph(s, d)._2, lpaLabels(s, d))
        .orderBy("community")),
    // Deterministic random-walk corpus over the co-purchase graph
    // (2 walks x 3 steps per node): the DeepWalk training data, every
    // transition hash-seeded so the corpus is identical across engines
    // and re-runs. Neighbor ranks ride a node-partitioned window; each
    // step is one cur-keyed join with a rank filter.
    "random_walks" -> ((s, d) =>
      gradedWalks(s, d).orderBy("start", "walk", "step")),
    // Skip-gram pairs off the same walk corpus (window 2) — the
    // word2vec-style table a graph-embedding trainer consumes. One
    // walk-keyed self-join (O(len·window) pairs per walk), one
    // (center, context) aggregate.
    "skipgram_pairs" -> ((s, d) =>
      GraphOps.skipgramPairs(gradedWalks(s, d), window = 2)
        .orderBy("center", "context")),
    // Deterministic negative-edge sampling over the co-purchase graph:
    // each node hash-draws 2 partners through a rank table (uniform
    // over the node SET via the distributed prefix sum, never a
    // single-partition row_number), anti-joined against the edge list —
    // the link-prediction TRAINING data (positives = edges, negatives =
    // verified non-edges), hash-seeded so the set is stable across
    // reshuffles and engines.
    "negative_edges" -> ((s, d) => {
      val (_, edges, _) = basketGraph(s, d)
      GraphOps.negativeEdges(edges, perNode = 2)
        .orderBy("u", "draw")
    }),
    // Connected components of the SUPPORT-FLOORED co-purchase graph
    // (pair count >= 2 — the evidence threshold that splinters the
    // everything-touches-everything basket graph into real communities):
    // min-label propagation WITH pointer jumping to the exact fixpoint
    // (Dedup.clusterPairs — the same loop that forms duplicate groups,
    // here graded on a graph whose truth the oracle derives
    // independently via recursive-CTE closure). Per-round cost is two
    // keyed joins over (id, label) pairs; the support floor is computed
    // in the SAME per-basket self-join aggregate that built the edges.
    "connected_components" -> ((s, d) => {
      val (sized, _, _) = basketGraph(s, d)
      val pairs = sized.as("x")
        .join(sized.as("y"),
          col("x.b") === col("y.b") && col("x.i") < col("y.i"))
        .groupBy(col("x.i").as("id_a"), col("y.i").as("id_b"))
        .agg(count(lit(1)).as("__c"))
        .where(col("__c") >= 2L)
        .select("id_a", "id_b")
      // maxIter = 16 (vs the near-dup default 10): the support-floored
      // basket graph is SPARSE — its giant component is chain-like with
      // eccentricity in the hundreds, unlike the diameter-2 blobs the
      // dedup tier feeds this loop. Hop+jump covers ~2^r label distance
      // by round r; 16 rounds bound ~65k.
      Dedup.clusterPairs(pairs, maxIter = 16).orderBy("id")
    }),
    // Bloom-pruned join: the BUILDING-segment customer slice builds a
    // bloom over its keys, orders are probe-filtered map-side BEFORE any
    // join machinery, and the join result must be IDENTICAL to the
    // oracle's plain filtered join (no false negatives is a theorem of
    // the structure; false positives are dropped by the join itself).
    // The manual runtime-filter — at 100 TB only the matching fraction
    // of the fact table reaches the exchange.
    "bloom_pruned_join" -> ((s, d) => {
      val dim = Tables.customer(s, d)
        .where(col("c_mktsegment") === "BUILDING")
      ScaleOps.bloomPrunedJoin(Tables.orders(s, d), dim,
          "o_custkey", "c_custkey")
        .withColumn("__cents", CoreOps.moneyCents(col("o_totalprice")))
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_orders"),
          CoreOps.rnd(sum(col("__cents")).cast("double") / 100.0)
            .as("total_price"))
        .orderBy("c_nationkey")
    }),
    // Winsorized rollup — the exact-quantile tier APPLIED back to rows at
    // scale shape: the p1/p99 cut points come from the histogram +
    // prefix-sum path (never a global sort or value buffer), broadcast as
    // one row, and the clamp is a map-only expression; the winsorized
    // mean is then an exact long sum. The oracle recomputes the same
    // rank-⌈q·n⌉ cuts from a sorted list.
    "winsorized_agg" -> ((s, d) => {
      import CoreOps.rnd
      val o = Tables.orders(s, d)
        .withColumn("__cents", CoreOps.moneyCents(col("o_totalprice")))
      val cuts = ScaleOps.exactQuantilesByHistogram(o, col("__cents"),
        Seq(0.01, 0.99)).select(col("p1"), col("p99"))
      val w = least(greatest(col("__cents"), col("p1")), col("p99"))
      o.crossJoin(broadcast(cuts))
        .groupBy(col("o_orderpriority").as("dim"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("__cents") < col("p1"), 1L).otherwise(0L)).as("n_low"),
          sum(when(col("__cents") > col("p99"), 1L).otherwise(0L)).as("n_high"),
          rnd(sum(w).cast("double") / 100.0 / count(lit(1)))
            .as("mean_winsorized"))
        .orderBy("dim")
    }),
    // Incremental sketch recompute (ScaleOps.weeklySketches +
    // mergeSketchCounts), graded: the corpus split into two half-runs,
    // each reduced to per-(week, dim) HLL sketches, merged — and the
    // merged estimate must EQUAL the whole-corpus run pushed through the
    // same merge path (register-lattice union is deterministic and the
    // split cannot change any register's max; both sides read their
    // estimate off a union sketch, so the HIP-vs-composite estimator
    // asymmetry of hll_rollup_orders does not apply). The estimate also
    // rides next to the oracle's exact distinct inside sketch tolerance.
    "sketch_merge_orders" -> ((s, d) => {
      val o = Tables.orders(s, d)
      def sketchOf(df: DataFrame) = ScaleOps.weeklySketches(df,
        col("o_orderdate"), col("o_orderpriority"), col("o_custkey"))
      def half(m: Int) = sketchOf(o.where(pmod(col("o_orderkey"), lit(2)) === m))
      val incr = ScaleOps.mergeSketchCounts(Seq(half(0), half(1)))
        .withColumnRenamed("transactions_est", "est_incr")
      val whole = ScaleOps.mergeSketchCounts(Seq(sketchOf(o)))
        .withColumnRenamed("transactions_est", "est_whole")
      val exact = o.groupBy(CoreOps.weekStart(col("o_orderdate")).as("week"),
          col("o_orderpriority").as("dim"))
        .agg(count_distinct(col("o_custkey")).as("cust_exact"))
      incr.join(whole, Seq("week", "dim")).join(exact, Seq("week", "dim"))
        .select(col("week"), col("dim"), col("cust_exact"),
          (col("est_incr") === col("est_whole")).as("merge_exact_ok"),
          (abs(col("est_incr") - col("cust_exact")).cast("double")
            <= greatest(lit(5.0), col("cust_exact") * lit(0.08))).as("hll_ok"))
        .orderBy("week", "dim")
    }),
    // Hierarchical subtotals via ROLLUP (capability beyond the reference's
    // flat group-bys).
    "rollup_orders" -> ((s, d) => {
      import CoreOps.rnd
      Tables.orders(s, d)
        .withColumn("__cents", CoreOps.moneyCents(col("o_totalprice")))
        .rollup("o_orderpriority", "o_orderstatus")
        .agg(count(lit(1)).as("n"),
          rnd(sum(col("__cents")).cast("double") / 100.0).as("total_price"))
        .orderBy(asc_nulls_first("o_orderpriority"),
          asc_nulls_first("o_orderstatus"))
    }),
    // SQL entry points for the flagship aggregation path (VERDICT r5 #5):
    // the weekly flagship and the rollup run as RAW Spark SQL through the
    // Catalog views and grade against the SAME oracle strings as their
    // fluent twins — one contract, two entry points, proving the SQL
    // surface compiles the flagship shapes to value-identical results
    // (not just the Q10 showcase).
    "weekly_agg_orders_sql" -> ((s, d) => {
      Catalog.registerViews(s, d)
      s.sql(weeklyAggOrdersSparkSql)
    }),
    "rollup_orders_sql" -> ((s, d) => {
      Catalog.registerViews(s, d)
      s.sql(rollupOrdersSparkSql)
    }),
    // CUBE completes the grouping-analytics family next to rollup: all
    // 2^k dimension subsets in one pass, grouping() flags disambiguating
    // real NULL keys from subtotal rows (the reason ORDER BY alone isn't
    // enough for a deterministic cube).
    "cube_orders" -> ((s, d) => {
      import CoreOps.rnd
      Tables.orders(s, d)
        .withColumn("__cents", CoreOps.moneyCents(col("o_totalprice")))
        .cube("o_orderpriority", "o_orderstatus")
        .agg(count(lit(1)).as("n"),
          rnd(sum(col("__cents")).cast("double") / 100.0).as("total_price"),
          grouping("o_orderpriority").cast("long").as("g_priority"),
          grouping("o_orderstatus").cast("long").as("g_status"))
        .orderBy(col("g_priority"), col("g_status"),
          asc_nulls_first("o_orderpriority"),
          asc_nulls_first("o_orderstatus"))
    }),
    // Arbitrary GROUPING SETS — the grouping-analytics member rollup/cube
    // can't express (per-priority and per-status marginals plus the grand
    // total, WITHOUT the cross cells). Deliberately via spark.sql over the
    // parquet path: the one graded query exercising the SQL entry point of
    // the same Catalyst surface the DataFrame queries use.
    "grouping_sets_orders" -> ((s, d) =>
      s.sql(
        s"""SELECT o_orderpriority, o_orderstatus, CAST(count(*) AS BIGINT) AS n,
           |  floor((CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0) * 10000 + 0.5) / 10000 AS total_price,
           |  CAST(grouping(o_orderpriority) AS BIGINT) AS g_priority,
           |  CAST(grouping(o_orderstatus) AS BIGINT) AS g_status
           |FROM parquet.`$d/orders.parquet`
           |GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
           |ORDER BY g_priority, g_status, o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin)),
    // Embedding-cosine near-duplicate pairs over a deterministic sample.
    // The broadcast query set is ABSOLUTELY bounded (vec_id < 10000 on top
    // of the mod-10 spread → ≤1000 vectors at ANY corpus size): a purely
    // fractional sample would grow the broadcast linearly with the corpus
    // and blow the broadcast threshold at 100×. The cap covers the whole
    // fixture today (max vec_id 1999), so the graded result is unchanged.
    // The all-corpus near-dup operator is Similarity.cosineNearDupPairs
    // (LSH-bucketed; quality-gated by cosine_dedup_quality below).
    "near_dup_cosine" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val q = broadcast(e.where(pmod(col("vec_id"), lit(10)) === 0
          && col("vec_id") < 10000)
        .select(col("vec_id").as("qid"), col("embedding").as("qe")))
      e.select(col("vec_id").as("cid"), col("embedding").as("ce"))
        .crossJoin(q).where(col("cid") =!= col("qid"))
        .withColumn("cos_sim", CoreOps.rnd(
          graft.expressions.CosineSimilarity.cosineFast(col("qe"), col("ce"))))
        .where(col("cos_sim") >= 0.4)
        .select("qid", "cid", "cos_sim")
        .orderBy("qid", "cid")
    }),

    // Quality contract for the all-corpus cosine near-dup SCALE path
    // (SRP-LSH candidates -> exact cosine verify; the graded
    // near_dup_cosine above is the bounded broadcast formulation). The
    // oracle recomputes the exhaustive truth-pair count; the booleans
    // carry the Spark-measured contract — recall >= 0.95 (measured
    // 0.989-1.0 at b=4/L=24 across SFs) and exact precision (every LSH
    // pair is a truth pair) — so a quality regression flips a bit and
    // fails the hash compare.
    //
    // The truth side is exhaustive BY DEFINITION (cosinePairsExhaustive is
    // quadratic), so it runs over an ABSOLUTELY bounded slice (vec_id <
    // 2000 — the whole fixture today, a fixed 2M-pair ceiling at any
    // corpus size) and the LSH pairs are gated to the same slice for the
    // recall/precision measurement. The LSH path itself still indexes the
    // FULL corpus — production shape: one bucketed index serves every
    // governance scan — only the measured sample is capped.
    "cosine_dedup_quality" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val cap = lit(2000L)
      val lsh = Similarity.cosineNearDupPairs(e, "vec_id", "embedding",
        threshold = 0.4, bits = 4, tables = 24)
        .where(col("id_a") < cap && col("id_b") < cap)
        .select(col("id_a"), col("id_b"), lit(1).as("__l"))
      val truth = Similarity.cosinePairsExhaustive(
        e.where(col("vec_id") < cap), "vec_id", "embedding",
        threshold = 0.4)
        .select(col("id_a"), col("id_b"), lit(1).as("__t"))
      // ONE full-outer join evaluates each (expensive) subplan exactly
      // once and yields all three counts — a left join + crossJoin(count)
      // would re-run the whole LSH candidate/verify pipeline for the
      // second aggregate. Vacuous-truth guard as in minhash_quality: an
      // empty slice must read TRUE (nothing regressed), never NULL/throw
      // (the explicit n_true = 0 branch also keeps the ANSI division from
      // seeing 0/0 when only the truth side is empty).
      truth.join(lsh, Seq("id_a", "id_b"), "full_outer")
        .agg(
          sum(when(col("__t").isNotNull, 1L).otherwise(0L)).as("n_true"),
          sum(when(col("__t").isNotNull && col("__l").isNotNull, 1L)
            .otherwise(0L)).as("__n_hit"),
          sum(when(col("__l").isNotNull, 1L).otherwise(0L)).as("__n_lsh"))
        .select(
          coalesce(col("n_true"), lit(0L)).as("n_true"),
          when(coalesce(col("n_true"), lit(0L)) === 0, lit(true))
            .otherwise(col("__n_hit").cast("double") / col("n_true") >= 0.95)
            .as("recall_ok"),
          coalesce(col("__n_lsh") === col("__n_hit"), lit(true))
            .as("precision_ok"))
    }),
    // Representation drift monitor: PSI between the two snapshot halves'
    // embedding distributions over 4 fixed ±1 projections (md5-derived
    // signs, literal-identical in the oracle). Map-only projection +
    // one (direction, bin) hash aggregate per side; PSI on the bounded
    // histogram with micro-quantized terms.
    "embed_drift_psi" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      EmbeddingOps.embeddingDriftPsi(
        e.where(pmod(col("vec_id"), lit(2)) === 0),
        e.where(pmod(col("vec_id"), lit(2)) === 1),
        "embedding", dims = 64, projections = 4, binWidth = 0.5)
        .orderBy("p")
    }),
    // The embedding drift monitor DEPLOYED — stream_quality_psi's twin in
    // representation space: every arriving micro-batch is projected onto
    // the frozen ±1 directions and its per-direction histogram scored
    // against the vec_id%10==0 reference — exactly
    // EmbeddingOps.embeddingDriftPsi per batch, which is the graded
    // claim. Batch membership is the
    // deterministic (vec_id div 10) % 3 stamp (range-partitioned staging
    // keeps a stamp whole per file), so the oracle replays every batch's
    // projection, binning, and PSI arithmetic term-for-term.
    "stream_embed_psi" -> ((s, d) =>
      streamDriftPsi(s, stagedEpsiBatches(s, d), "epsi",
        Tables.embeddings(s, d).where(pmod(col("vec_id"), lit(10)) === 0)
          .select(col("vec_id"), col("embedding")), "p")(
        EmbeddingOps.embeddingDriftPsi(_, _, "embedding", dims = 64,
          projections = 4, binWidth = 0.5))),
    // Incremental ingest for the THIRD near-dup modality: the batch half
    // probes the persisted (tbl, bkt)-bucketed SRP manifest and the
    // read-back pair list — the existing corpus is never re-projected
    // through the hyperplanes and never re-self-joined. All three legs
    // (known, cross, internal) apply the same first-agreeing-table rule,
    // so incremental == full is a SET IDENTITY measured as a value
    // (incr_equals_full); recall/precision grade against the exhaustive
    // truth like cosine_dedup_quality.
    "incremental_cosine_persisted" -> ((s, d) => {
      val slice = Tables.embeddings(s, d).where(col("vec_id") < 2000)
      val (mt, pt) = cosineState(s, d)
      // feeds the equality compare, the recall join, and the precision
      // count — pin it once
      val incr = graft.functions.Similarity.cosineNearDupPairsOnState(
        batch = slice.where(pmod(col("vec_id"), lit(2)) === 1),
        manifest = s.table(mt), knownPairs = s.table(pt),
        existing = slice.where(pmod(col("vec_id"), lit(2)) === 0),
        "vec_id", "embedding", threshold = 0.4, bits = 4, tables = 24)
        .localCheckpoint(true)
      val (truthPairs, full) = cosineTruthAndFull(s, d)
      val truth = truthPairs
        .select(col("id_a"), col("id_b"), lit(1).as("__t"))
      val eq = incr.select(col("id_a"), col("id_b"), lit(1).as("__i"))
        .join(full.select(col("id_a"), col("id_b"), lit(1).as("__f")),
          Seq("id_a", "id_b"), "full_outer")
        .agg(sum(when(col("__i").isNull || col("__f").isNull, 1L)
          .otherwise(0L)).as("__mism"))
      truth
        .join(incr.select(col("id_a"), col("id_b"), lit(1).as("__l")),
          Seq("id_a", "id_b"), "full_outer")
        .agg(
          sum(when(col("__t").isNotNull, 1L).otherwise(0L)).as("n_true"),
          sum(when(col("__t").isNotNull && col("__l").isNotNull, 1L)
            .otherwise(0L)).as("__hit"),
          sum(when(col("__l").isNotNull && col("__t").isNull, 1L)
            .otherwise(0L)).as("__extra"))
        .crossJoin(eq)
        .select(
          coalesce(col("n_true"), lit(0L)).as("n_true"),
          (coalesce(col("__mism"), lit(0L)) === 0L).as("incr_equals_full"),
          when(coalesce(col("n_true"), lit(0L)) === 0, lit(true))
            .otherwise(col("__hit").cast("double") / col("n_true") >= 0.95)
            .as("recall_ok"),
          (coalesce(col("__extra"), lit(0L)) === 0L).as("precision_ok"))
    }),
    // The STREAMING ingest loop closed over the cosine tier's persisted
    // state — the embedding analog of stream_neardup_incremental; the
    // existing corpus is never re-projected. The union
    // of the read-back pair list and all emissions carries the same
    // contract row as incremental_cosine_persisted — with the set
    // identity now proving streaming == full.
    "stream_cosine_incremental" -> ((s, d) => {
      val slice = Tables.embeddings(s, d).where(col("vec_id") < 2000)
      val (mt, pt) = cosineState(s, d)
      val streamed = ingestMicroBatches(s, stagedEmbBatches(s, d), "cos",
          "manifest", "corpus", "pairs") {
        case Seq(mtS, corpusS, outS) =>
          // the working manifest keeps the persisted SRP (tbl, bkt)
          // layout, so each probe reads the growing manifest exchange-free
          ScaleOps.writeBucketed(
            s.table(mt).repartition(8, col("tbl"), col("bkt")),
            mtS, Seq("tbl", "bkt"), buckets = 8)
          slice.where(pmod(col("vec_id"), lit(2)) === 0)
            .write.saveAsTable(corpusS)
          s.table(pt).limit(0).write.saveAsTable(outS)
          MicroBatchLoop(
            each = b => {
              Similarity.cosineNearDupPairsOnState(b, s.table(mtS),
                s.table(pt).limit(0), s.table(corpusS), "vec_id",
                "embedding", threshold = 0.4, bits = 4, tables = 24)
                .write.mode("append").saveAsTable(outS)
              ScaleOps.appendBucketed(
                Similarity.srpBandRows(b, "vec_id", "embedding", bits = 4,
                  tables = 24),
                mtS, Seq("tbl", "bkt"), buckets = 8)
              b.write.mode("append").saveAsTable(corpusS)
            },
            result = () => s.table(pt).select("id_a", "id_b", "cos_sim")
              .unionByName(s.table(outS).select("id_a", "id_b", "cos_sim")))
      }
      val (truthPairs, full) = cosineTruthAndFull(s, d)
      val truth = truthPairs
        .select(col("id_a"), col("id_b"), lit(1).as("__t"))
      val eq = streamed.select(col("id_a"), col("id_b"), lit(1).as("__i"))
        .join(full.select(col("id_a"), col("id_b"), lit(1).as("__f")),
          Seq("id_a", "id_b"), "full_outer")
        .agg(sum(when(col("__i").isNull || col("__f").isNull, 1L)
          .otherwise(0L)).as("__mism"))
      truth
        .join(streamed.select(col("id_a"), col("id_b"), lit(1).as("__l")),
          Seq("id_a", "id_b"), "full_outer")
        .agg(
          sum(when(col("__t").isNotNull, 1L).otherwise(0L)).as("n_true"),
          sum(when(col("__t").isNotNull && col("__l").isNotNull, 1L)
            .otherwise(0L)).as("__hit"),
          sum(when(col("__l").isNotNull && col("__t").isNull, 1L)
            .otherwise(0L)).as("__extra"))
        .crossJoin(eq)
        .select(
          coalesce(col("n_true"), lit(0L)).as("n_true"),
          (coalesce(col("__mism"), lit(0L)) === 0L).as("stream_equals_full"),
          when(coalesce(col("n_true"), lit(0L)) === 0, lit(true))
            .otherwise(col("__hit").cast("double") / col("n_true") >= 0.95)
            .as("recall_ok"),
          (coalesce(col("__extra"), lit(0L)) === 0L).as("precision_ok"))
    }),
    // SemDeDup-style semantic dedup with the deterministic keep-first rule
    // (drop any vector with a lower-id neighbor at cosine >= 0.4), graded
    // as per-label keep/drop counts plus the kept-id checksum — the id sum
    // makes keep-set MEMBERSHIP hash-gated, not just its size. Exact pair
    // set over the absolutely-capped slice (vec_id < 2000, the
    // cosine_dedup_quality bound); the LSH pair source is the 100 TB path.
    "semantic_dedup" -> ((s, d) => {
      val e = Tables.embeddings(s, d).where(col("vec_id") < 2000)
      val kept = Similarity.semanticDedupKeepFirst(
        e, "vec_id", "embedding", threshold = 0.4)
        .select(col("vec_id"), lit(1L).as("__k"))
      // flag-join on the never-null vec_id then ONE aggregation by label:
      // a per-label join would equality-match on label and silently drop
      // a NULL-label group's kept stats, where the oracle's single
      // GROUP BY treats NULL as a group
      e.select(col("vec_id"), col("label"))
        .join(kept, Seq("vec_id"), "left")
        .groupBy("label")
        .agg(
          count(lit(1)).as("n_total"),
          coalesce(sum(col("__k")), lit(0L)).as("n_kept"),
          (count(lit(1)) - coalesce(sum(col("__k")), lit(0L)))
            .as("n_dropped"),
          coalesce(sum(when(col("__k").isNotNull, col("vec_id"))), lit(0L))
            .as("kept_id_sum"))
        .orderBy("label")
    }),

    // As-of (backward) temporal join: each event picks its type's latest
    // weekly median rate at-or-before its timestamp. Spark side composes
    // union + last_value(ignoreNulls); the oracle uses DuckDB's native
    // ASOF JOIN — two entirely different formulations must agree.
    "asof_join_rates" -> ((s, d) => {
      import CoreOps.rnd
      val e = Tables.events(s, d)
      val rates = e
        .withColumn("ts", CoreOps.weekStart(col("ts")))
        .withColumn("__cents", CoreOps.moneyCents(col("value")))
        .groupBy("event_type", "ts")
        .agg(rnd(median(col("__cents")) / 100.0).as("rate"))
        .select(col("event_type"), col("ts"), col("rate"))
      AsOfJoin.asofBackward(
        e.select(col("event_id"), col("ts"), col("event_type")),
        rates, keyCol = "event_type", tsCol = "ts", valueCol = "rate")
        .select("event_id", "event_type", "asof_value")
        .orderBy("event_id")
    }),
    // Wide-format pivot (the reference's breakdown is long-format; this is
    // the matching wide capability with a fixed column set).
    "pivot_events" -> ((s, d) => {
      val e = Tables.events(s, d)
      e.withColumn("week", CoreOps.weekStart(col("ts")))
        .groupBy("week")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0, Seq("click", "error", "purchase", "signup", "view"))
        .orderBy("week")
    }),

    // ---- training-data extension tier: semi-structured extraction ----
    "events_json" -> ((s, d) => {
      import CoreOps.rnd
      // try_cast like the oracle's TRY_CAST (and every other coercion in
      // the repo): a junk props.k must null, not crash under ANSI.
      Tables.events(s, d)
        .withColumn("k",
          expr("try_cast(get_json_object(props, '$.k') AS BIGINT)"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          min("k").as("k_min"), max("k").as("k_max"),
          rnd(sum("k").cast("double") / count("k")).as("k_avg"))
        .orderBy("event_type")
    }),
    // Alternate-format ingestion (§2.A beyond the reference): events
    // round-tripped through ORC / JSON-lines must aggregate identically
    // to the parquet-derived oracle. Weekly bucketing keeps the JSON leg
    // honest about its own envelope (the default JSON timestamp format
    // truncates sub-millisecond precision; week bucketing is invariant to
    // that, and the value/cents leg round-trips doubles exactly via
    // shortest-repr text). Schema is supplied explicitly on read — JSON
    // would otherwise infer ts as string.
    "orc_source_agg" -> ((s, d) =>
      weeklyFormatAgg(s.read
        .schema(graft.streaming.EventsStreaming.EventsSchema)
        .orc(stagedFormat(s, d, "orc")))),
    // XML — the fourth round-tripped format (Spark 4's NATIVE xml
    // datasource): one <event> element per row, micros timestampFormat on
    // both sides like the CSV leg, schema supplied on read (inference
    // would widen types).
    "xml_source_agg" -> ((s, d) =>
      weeklyFormatAgg(s.read
        .schema(graft.streaming.EventsStreaming.EventsSchema)
        .options(xmlOpts)
        .format("xml").load(stagedFormat(s, d, "xml", xmlOpts)))),
    "jsonl_source_agg" -> ((s, d) =>
      weeklyFormatAgg(s.read
        .schema(graft.streaming.EventsStreaming.EventsSchema)
        .json(stagedFormat(s, d, "json")))),
    // Nested round-trip: orders nested per customer (sorted array of
    // structs), written to parquet, exploded back, aggregated — the
    // weekly rollup must equal the flat table's exactly. Field-arrays
    // are extracted BEFORE the explode (`arrays_zip` of two
    // GetArrayStructFields): Catalyst's generator nested pruning bails
    // once more than one field is read from an exploded struct, so
    // exploding the raw array would drag o_orderkey and o_orderpriority
    // through the scan of every array element — the pre-explode
    // extraction prunes them at the source (PlanSpec pins the
    // ReadSchema).
    "nested_orders_agg" -> ((s, d) => {
      import CoreOps.rnd
      s.read.parquet(stagedNestedOrders(s, d))
        .select(col("o_custkey"),
          explode(arrays_zip(col("orders.o_orderdate"),
            col("orders.o_totalprice"))).as("o"))
        .withColumn("week", CoreOps.weekStart(col("o.o_orderdate")))
        .groupBy("week")
        .agg(count(lit(1)).as("n"),
          count_distinct(col("o_custkey")).as("n_cust"),
          rnd(sum(CoreOps.moneyCents(col("o.o_totalprice")))
            .cast("double") / 100.0).as("total_price"))
        .orderBy("week")
    }),
    // Schema evolution: a two-batch parquet dir where batch 1 predates
    // the `value` column. mergeSchema unions the footers, batch-1 rows
    // surface NULL values, and the null-skipping aggregate hash-matches
    // the oracle replaying the drift as a CASE on the raw table.
    "schema_drift_agg" -> ((s, d) => {
      import CoreOps.rnd
      val base = stagedDrift(s, d)
      s.read.option("mergeSchema", "true")
        .parquet(base + "/b1", base + "/b2")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          count(col("value")).as("n_valued"),
          rnd(sum(CoreOps.moneyCents(col("value"))).cast("double") / 100.0)
            .as("sum_value"))
        .orderBy("event_type")
    }),
    // CSV — the reference's own ingest format, graded through the same
    // shared weekly oracle. Headerless (the explicit schema maps by
    // position) with a micros timestampFormat on both sides so the text
    // leg round-trips event time at full precision; embedded double
    // quotes in every `props` value (JSON-object text) exercise the CSV
    // quote-escaping path on both write and read.
    "csv_source_agg" -> ((s, d) =>
      weeklyFormatAgg(s.read
        .schema(graft.streaming.EventsStreaming.EventsSchema)
        .options(csvTsOpts)
        .csv(stagedFormat(s, d, "csv", csvTsOpts)))),

    // ---- training-data extension tier: embedding governance ----
    // Every vector reduction is a sequential left fold the oracle replays
    // with list_reduce — see EmbeddingOps' determinism note.
    "embed_stats" -> ((s, d) =>
      EmbeddingOps.embeddingStats(Tables.embeddings(s, d), "label", "embedding")
        .orderBy("label")),
    // Exact upper-triangular covariance of the embedding corpus (the
    // PCA/whitening input): per (i ≤ j), exact long power sums over
    // 4-dp-quantized components + the derived covariance. The d²-bounded
    // matrix is all that crosses the single exchange.
    "embed_covariance" -> ((s, d) =>
      EmbeddingOps.covarianceMatrix(Tables.embeddings(s, d), "embedding")
        .orderBy("i", "j")),
    "embed_normalize" -> ((s, d) => {
      import CoreOps.rnd
      val vec = col("embedding")
      val unit = EmbeddingOps.l2Normalize(vec)
      Tables.embeddings(s, d).select(col("vec_id"),
        rnd(EmbeddingOps.l2Norm(vec)).as("norm"),
        rnd(EmbeddingOps.l2Norm(unit)).as("norm_after"),
        rnd(aggregate(unit, lit(0.0), (a, x) => a + x)).as("unit_sum"))
        .orderBy("vec_id")
    }),
    // Quantization contract: q_sum/q_min/q_max pin every int8 code exactly
    // (long arithmetic); err_ok is the scale/2 reconstruction bound as an
    // oracle-gated boolean.
    "embed_quantize" -> ((s, d) => {
      import CoreOps.rnd
      val vec = col("embedding")
      val q = EmbeddingOps.quantizeInt8(vec)
      Tables.embeddings(s, d).select(col("vec_id"),
        rnd(EmbeddingOps.int8Scale(vec)).as("scale"),
        aggregate(q, lit(0L), (a, x) => a + x).as("q_sum"),
        array_min(q).as("q_min"), array_max(q).as("q_max"),
        (EmbeddingOps.dequantMaxError(vec, q)
          <= EmbeddingOps.int8Scale(vec) / 2 + lit(1e-12)).as("err_ok"))
        .orderBy("vec_id")
    }),
    // Per-DIMENSION affine SQ8 — the serving-stack scalar quantization
    // (one corpus-level (min, max) per dimension, so codes stay mutually
    // comparable across vectors — the property embed_quantize's
    // per-vector absmax scale destroys). The 2×64-value codebook is the
    // ONLY product of the corpus exchange (posexplode min/max partial-aggs
    // map-side) and re-attaches as a broadcast single row; every code is
    // pinned per vector through the sum + position-weighted checksum +
    // range, and the half-step reconstruction bound is the graded
    // contract. Oracle replays codebook and codes exactly.
    "embed_quantize_dims" -> ((s, d) =>
      EmbeddingOps.quantizeDimsReport(Tables.embeddings(s, d),
        "vec_id", "embedding")
        .orderBy("vec_id")),

    // Deterministic k-means (micro-unit grid, smallest-k-ids init, ties
    // to the smallest cluster, truncating integer centroid division):
    // the per-row final assignment AND its exact squared distance both
    // hash-match a DuckDB replay of the same three Lloyd iterations —
    // cluster state is proven bit-identical across engines, a strictly
    // stronger contract than the IVF tier's recall floors.
    "kmeans_embed" -> ((s, d) =>
      EmbeddingOps.kmeansAssignments(Tables.embeddings(s, d),
        "vec_id", "embedding", k = 8, iterations = 3)
        .orderBy("vec_id")),
    // Cluster-BALANCED sampling — the diversity-preserving selection
    // recipe (the SemDeDup/DCLM-style "cluster, then sample evenly"
    // pass): deterministic k-means clusters the embeddings, a
    // content-addressed quota draws up to 25 per cluster, and the graded
    // row carries volume + the sample's id checksum per cluster so
    // membership is hash-gated. Oracle replays the integer k-means AND
    // the md5 pick order.
    "cluster_balanced_sample" -> ((s, d) => {
      val assign = EmbeddingOps.kmeansAssignments(Tables.embeddings(s, d),
        "vec_id", "embedding", k = 8, iterations = 3)
        .select(col("vec_id"), col("cluster"))
        .localCheckpoint(true)
      // prefix-sum spelling: with k = 8 strata over the WHOLE embedding
      // corpus, the window quota would funnel everything into ≤ 8 sort
      // partitions — the single-partition-window trap. Same pick order
      // and kept set (spec-pinned equal), scale-safe rank.
      val sampled = CorpusOps.stratifiedQuotaPrefix(assign, "cluster",
        "vec_id", quota = 25)
      assign.groupBy(col("cluster"))
        .agg(count(lit(1)).as("n_total"))
        .join(sampled.groupBy(col("cluster"))
          .agg(count(lit(1)).as("n_sampled"),
            sum(col("vec_id")).as("sample_id_sum")), Seq("cluster"))
        .orderBy("cluster")
    }),
    // IVF cell-occupancy balance — the diagnostic the inverted file's
    // probe-cost model rides on (a hot cell degrades routed queries
    // toward the full scan). Same coarse quantizer replay as
    // kmeans_embed; everything after the cell aggregate is
    // nlist-bounded.
    "ivf_cell_stats" -> ((s, d) =>
      EmbeddingOps.ivfCellStats(Tables.embeddings(s, d), "vec_id",
        "embedding", nlist = 8, iterations = 3)
        .orderBy("cell")),
    // Product quantization: 4 subspaces x 8 codewords over the 64-dim
    // embeddings, each subspace the same deterministic Lloyd loop as
    // kmeans_embed — the full n x 4 code matrix hash-matches a DuckDB
    // replay of all four quantizers. The compression step (m·log2 k
    // bits/vector) that billion-vector ANN serving stands on.
    "pq_codes" -> ((s, d) =>
      EmbeddingOps.pqCodes(Tables.embeddings(s, d), "vec_id", "embedding",
        dim = 64, m = 4, k = 8, iterations = 3)
        .orderBy("vec_id", "subspace")),
    // PQ asymmetric-distance top-10 for three query vectors: per query
    // an exact m x k lookup table (driver-built from codebook state,
    // broadcast); each candidate's distance is the SUM of 4 lookups
    // keyed by its codes — no vector math per candidate, the serving
    // plan PQ compression exists for. Codes/codebooks are pq_codes'
    // exactly; the full ranking hash-matches a 4-quantizer replay.
    "pq_adc_topk" -> ((s, d) =>
      EmbeddingOps.pqAdcTopK(Tables.embeddings(s, d), "vec_id",
        "embedding", dim = 64, m = 4, k = 8, iterations = 3,
        queryIds = Seq(1L, 2L, 3L), topK = 10)
        .orderBy("qid", "rank")),
    // Recall@10 of the ADC ranking against the exact L2 top-10 on the
    // same grid — both deterministic, so the compression-quality number
    // is an exact fraction the oracle reproduces digit-for-digit
    // (stronger than sampled recall floors). Exact leg: broadcast query
    // vectors, map-side zip_with distances, WindowGroupLimit rank.
    // Quantizer upgraded m=4/k=8 (16 bits/vector, honest recall
    // 0.1-0.4) -> m=8/k=16 (32 bits, 0.4-0.6 at the graded SF); the
    // floor rides in the replayed recall_ok gate.
    "pq_recall" -> ((s, d) =>
      EmbeddingOps.pqRecallAtK(Tables.embeddings(s, d), "vec_id",
        "embedding", dim = 64, m = 8, k = 16, iterations = 3,
        queryIds = Seq(1L, 2L, 3L), topK = 10, floor = 0.35)
        .orderBy("qid")),
    // The same exact-fraction grade on the clustered-synthetic corpus:
    // near-random vectors cap honest PQ recall at ~0.5 no matter the
    // code size — structure the quantizer CAN represent is what it
    // must demonstrably separate. 50 tight clusters of ~10 members at
    // the graded SF, k=64 codewords per 16-dim subspace: recall 1.0,
    // floor 0.9 in the replayed gate.
    "pq_recall_clustered" -> ((s, d) =>
      EmbeddingOps.pqRecallAtK(clusteredEmbeddings(s, d), "vec_id",
        "embedding", dim = 64, m = 4, k = 64, iterations = 3,
        queryIds = Seq(1L, 2L, 3L), topK = 10, floor = 0.9)
        .orderBy("qid")),
    // IVFADC+R (Jegou et al. 2011 SIII-C serving + SIV re-ranking):
    // coarse routing + residual-PQ ADC scoring within probed cells,
    // then the ADC top-R (R=50, 5x topK) re-scored EXACTLY against the
    // full vectors — the standard refinement that recovers the recall
    // residual-PQ compression gives up. Candidates outside probed
    // cells are pruned by the (cell, subspace, code) join key itself
    // (PlanSpec pins the key, re-rank on); the exact leg is a
    // broadcast probe of the 150-row candidate set, never a scan.
    // recallVsBrute contract: oracle computes the exact top-10,
    // quality rides in recall_ok (re-ranked minima 0.6 across
    // sf0.001-0.1, vs 0.3-0.4 un-re-ranked; floor 0.5 — double the
    // plain-ADC gate).
    "knn_ivfadc_topk" -> ((s, d) =>
      EmbeddingOps.ivfadcRecall(Tables.embeddings(s, d), "vec_id",
        "embedding", dim = 64, nlist = 8, nprobe = 3, m = 4, k = 8,
        iterations = 3, queryIds = Seq(1L, 2L, 3L), topK = 10,
        floor = 0.5, rerank = 50)
        .orderBy("qid")),
    // IVFADC on the clustered corpus — the config's scale story made
    // measurable: 16 coarse cells over 50 planted clusters, probe 3,
    // score ~25% of the corpus, recall 1.0 (floor 0.9). Routing finds
    // the structure; residual PQ resolves within it.
    "knn_ivfadc_clustered" -> ((s, d) =>
      EmbeddingOps.ivfadcRecall(clusteredEmbeddings(s, d), "vec_id",
        "embedding", dim = 64, nlist = 16, nprobe = 3, m = 4, k = 8,
        iterations = 3, queryIds = Seq(1L, 2L, 3L), topK = 10,
        floor = 0.9)
        .orderBy("qid")),
    // Deterministic sparse random projection 64 -> 8: md5-seeded sign
    // matrix derived on the driver, rides as a plan literal into a
    // map-only zip_with/aggregate projection — zero exchanges; output
    // exploded so the grade covers the whole projected matrix.
    "random_projection" -> ((s, d) =>
      EmbeddingOps.randomProjection(Tables.embeddings(s, d), "vec_id",
        "embedding", dim = 64, outDim = 8)
        .orderBy("vec_id", "k")),
    // Cluster curation composed on the k-means state: the 5 most
    // prototypical members per semantic cluster (SSL-prototypes /
    // SemDeDup's selection step), rank ties on the exact long distance
    // breaking to the smaller id. WindowGroupLimit keeps the per-cluster
    // sort bounded at m rows.
    "cluster_prototypes" -> ((s, d) =>
      EmbeddingOps.clusterPrototypes(
        EmbeddingOps.kmeansAssignments(Tables.embeddings(s, d),
          "vec_id", "embedding", k = 8, iterations = 3), m = 5)
        .orderBy("cluster", "rank")),

    // ---- analytics extension tier: funnel + cohorts ----
    // Ordered signup→click→purchase funnel; all three per-user stage
    // timestamps ride ONE exchange on user_id (shared window partitioning).
    "funnel_conversion" -> ((s, d) =>
      EventAnalytics.funnelSummary(Tables.events(s, d),
        "user_id", "ts", "event_type", Seq("signup", "click", "purchase"))),
    "cohort_retention" -> ((s, d) =>
      EventAnalytics.cohortRetention(Tables.events(s, d), "user_id", "ts")
        .orderBy("cohort_week", "week_offset")),

    // ---- training-data extension tier: incremental + vocabulary ops ----
    // Daily-ingest dedup: the odd-id half is "today's batch", the even-id
    // half the existing corpus; only never-seen-before content survives,
    // first-id-wins within the batch.
    "incremental_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.dropExactIncremental(
        docs.where(pmod(col("doc_id"), lit(2)) === 1),
        docs.where(pmod(col("doc_id"), lit(2)) === 0),
        "doc_id", "text")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("doc_id")
    }),
    "heavy_hitters" -> ((s, d) =>
      CorpusOps.heavyHitters(Tables.documents(s, d), "text", minShare = 0.01)
        .orderBy("token")),
    // Per-doc trigram uniqueness: share of a doc's distinct trigrams
    // no other doc contains (order-free corpus-count companion to the
    // first-occurrence ngram_novelty). Two hash aggregates + one
    // gram-keyed join.
    "ngram_uniqueness" -> ((s, d) =>
      CorpusOps.ngramUniqueness(Tables.documents(s, d), "doc_id", "text",
        n = 3)
        .orderBy("doc_id")),
    // Deterministic 2-epoch dataloader order: md5("e#id") permutations,
    // positions off the two-pass distributed prefix sum (range exchange,
    // never a single-partition row_number). Content-addressed → every
    // engine derives the identical order, resumable by position range.
    "epoch_shuffle" -> ((s, d) =>
      CorpusOps.epochShuffle(Tables.documents(s, d), "doc_id", epochs = 2)
        .orderBy("epoch", "position")),
    // Mixture weights → the single deterministic stream the loader
    // feeds the trainer: stride scheduling on an exact integer clock
    // ((2i−1)·lcm/w), every prefix within one doc of its weighted
    // share while all sources have supply. Both ranks ride the two-pass
    // prefix sum — never a per-source or whole-corpus row_number window.
    "mixture_interleave" -> ((s, d) =>
      CorpusOps.mixtureInterleave(Tables.documents(s, d), "doc_id",
        "lang", Seq("de" -> 15L, "en" -> 40L, "es" -> 15L,
          "fr" -> 15L, "zh" -> 15L))
        .orderBy("position")),
    // Easy-first curriculum epoch: heuristic-quality difficulty levels
    // (0 easiest), content-addressed shuffle inside each level, position
    // from ONE prefix-sum pass — ordered training's counterpart of
    // epoch_shuffle, resumable the same way.
    "curriculum_order" -> ((s, d) => {
      val lab = TextFunctions
        .withQualityColumns(Tables.documents(s, d), "text")
        .select(col("doc_id"),
          when(col("quality") >= 0.6, 0L)
            .when(col("quality") >= 0.4, 1L).otherwise(2L).as("level"))
      CorpusOps.curriculumOrder(lab, "doc_id", "level")
        .orderBy("position")
    }),
    // The resumability claim GRADED: a job killed mid-epoch re-derives
    // epoch 1's permutation and takes the suffix from position 201 —
    // position is a pure function of (epoch, corpus), so the oracle's
    // full-epoch replay sliced at the same point must hash-match
    // exactly. No shuffle state, no RNG stream, no delivered batches
    // re-read.
    "epoch_shuffle_resume" -> ((s, d) =>
      CorpusOps.epochShuffleResume(Tables.documents(s, d), "doc_id",
        epoch = 1, fromPosition = 201L)
        .orderBy("position")),
    // Pairwise source vocabulary overlap: Jaccard + containment of
    // distinct-token sets per source pair — aggregate near-dup between
    // SOURCES, the mixture-design read. Token-keyed self-join with
    // ≤|sources|² per-token fan-out; sizes broadcast back.
    "source_vocab_overlap" -> ((s, d) =>
      CorpusOps.sourceVocabOverlap(Tables.documents(s, d), "source", "text")
        .orderBy("src_a", "src_b")),
    // Zipf's-law fit over the top-200 token ranks: ln-ln OLS slope as the
    // one-number corpus-health read (natural text ≈ −1; templates flatten
    // it, duplication steepens it). Token histogram is the only
    // fact-scale exchange; ranking + regression run on the bounded vocab.
    "zipf_fit" -> ((s, d) =>
      CorpusOps.zipfFit(Tables.documents(s, d), "text", k = 200)),
    // Dominant token-association direction: quantized power iteration on
    // the exact within-doc co-occurrence Gram (strong spectral gap → 6
    // steps converge; the Perron vector is nonnegative, spec-pinned).
    // The cluster's one fact-scale pass builds the matrix; every
    // iteration is a join+sum on the vocab²-bounded table — how an
    // eigen-solve actually decomposes at 100 TB. Replay-exact: the
    // oracle re-runs the same quantized iteration as chained CTEs.
    "cooc_principal" -> ((s, d) => {
      val g = CorpusOps.tokenCooccurrence(Tables.documents(s, d), "text",
        fanKey = Some(col("doc_id")))
      EmbeddingOps.powerIterate(g, iters = 6, shift = 100000L)
        .select(col("i").as("token"), col("v"), col("lambda"))
        .orderBy("token")
    }),

    // Vocabulary-budget coverage curve per language: token-stream share
    // the top-V corpus vocabulary covers, at four candidate V — the
    // plot a tokenizer budget decision reads. One fact-scale aggregate;
    // ranking and sizes live on bounded broadcast tables.
    "vocab_coverage" -> ((s, d) =>
      CorpusOps.vocabCoverageCurve(Tables.documents(s, d), "lang", "text",
        sizes = Seq(5, 10, 20, 40))
        .orderBy("v", "stratum")),
    // Cross-document repeated-span profile (Lee et al. exact-substring
    // dedup signal): per-doc count and fraction of 15-token spans that
    // recur anywhere in the corpus. Spark groups by span DIGEST (narrow
    // exchange); the oracle groups by the span text itself — the hash
    // match doubles as a digest-collision check.
    "dup_spans" -> ((s, d) =>
      CorpusOps.duplicatedSpans(Tables.documents(s, d), "doc_id", "text",
        n = 15)
        .orderBy("doc_id")),
    // Winnowing (Schleimer et al. SIGMOD'03, the MOSS sketch): per-doc
    // fingerprint volume + membership checksum — every selected
    // (hash, pos) participates, so a selection-rule drift (window size,
    // tie direction, truncated-suffix windows) flips the hash. The
    // oracle replays gram md5s, the encoded min key, and the window
    // scan verbatim.
    "winnow_fingerprints" -> ((s, d) =>
      CorpusOps.winnowFingerprints(Tables.documents(s, d), "doc_id",
        "text", k = 3, w = 4)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_fps"),
          sum(conv(substring(col("fp_hash"), 1, 8), 16, 10).cast("long")
            + col("fp_pos")).as("fp_checksum"))
        .orderBy("doc_id")),
    // The MOSS match report: pairs meeting on fingerprint hashes (digest
    // equi-join, never all-pairs), over-common fingerprints dropped
    // first (boilerplate carries no signal AND is the hot-key hazard),
    // pair survives with >= 2 distinct shared fingerprints. Positional
    // robustness the whole-doc sketches lack: any shared 6-word run
    // (w + k − 1) is guaranteed a shared fingerprint.
    "winnow_pairs" -> ((s, d) =>
      CorpusOps.winnowPairs(Tables.documents(s, d), "doc_id", "text",
        k = 3, w = 4, minShared = 2L, maxDocFreq = 50L)
        .orderBy("id_a", "id_b")),
    // The fifth modality's incremental layout: odd-half fingerprints
    // probe the persisted hash-bucketed manifest + frozen blocklist +
    // read-back pair list — the even half is never re-winnowed, never
    // re-self-joined. The frozen-blocklist semantics make
    // incremental == full an EXACT identity (the per-snapshot df cut
    // would be anti-monotone under appends), and the oracle replays the
    // whole thing: all five dedup modalities (MinHash, SimHash, cosine,
    // frames, winnowing) now carry persisted incremental state.
    "incremental_winnow_persisted" -> ((s, d) => {
      val (mt, bt, pt) = winnowState(s, d)
      val batchFp = CorpusOps.winnowFingerprints(
        Tables.documents(s, d).where(pmod(col("doc_id"), lit(2)) === 1),
        "doc_id", "text", k = 3, w = 4)
        .select(col("doc_id").as("id"), col("fp_hash"))
      CorpusOps.incrementalWinnowPairsOnState(batchFp, s.table(mt),
        s.table(bt), s.table(pt), minShared = 2L)
        .orderBy("id_a", "id_b")
    }),
    // The FIFTH streaming loop — every dedup modality now has one
    // ([[streamFingerprintPairs]] over winnow fingerprints). It grades
    // against the SAME frozen-blocklist full-run oracle as the batch
    // incremental.
    "stream_winnow_incremental" -> ((s, d) =>
      streamFingerprintPairs(s, stagedSimhashBatches(s, d), "wn",
          winnowState(s, d))(
        CorpusOps.winnowFingerprints(_, "doc_id", "text", k = 3, w = 4)
          .select(col("doc_id").as("id"), col("fp_hash")).distinct())),
    // The MOSS match report at CDC chunk granularity: pairs meet on the
    // content-defined chunk digest (shift-resistant, so an edited copy
    // keeps matching); over-common chunks dropped first, pair survives
    // with >= 2 distinct shared digests. winnow_pairs' cut/join
    // discipline over the sixth modality's fingerprints.
    "cdc_chunk_pairs" -> ((s, d) =>
      CorpusOps.cdcChunkPairs(Tables.documents(s, d), "doc_id", "text",
        minShared = 2L, maxDocFreq = 50L)
        .orderBy("id_a", "id_b")),
    // The CDC modality's incremental layout — the winnow state machinery
    // rides unchanged (fingerprint-agnostic): odd-half chunk digests
    // probe the persisted hash-bucketed manifest + frozen blocklist +
    // read-back pair list; the even half is never re-chunked, never
    // re-self-joined, and the frozen cut makes incremental == full an
    // EXACT identity the oracle replays.
    "incremental_cdc_persisted" -> ((s, d) => {
      val (mt, bt, pt) = cdcState(s, d)
      val batchFp = CorpusOps.cdcFingerprints(
        Tables.documents(s, d).where(pmod(col("doc_id"), lit(2)) === 1),
        "doc_id", "text")
      CorpusOps.incrementalWinnowPairsOnState(batchFp, s.table(mt),
        s.table(bt), s.table(pt), minShared = 2L)
        .orderBy("id_a", "id_b")
    }),
    // The SIXTH streaming loop: [[streamFingerprintPairs]] over CDC
    // chunk digests instead of winnow fingerprints.
    "stream_cdc_incremental" -> ((s, d) =>
      streamFingerprintPairs(s, stagedSimhashBatches(s, d), "cdc",
          cdcState(s, d))(
        CorpusOps.cdcFingerprints(_, "doc_id", "text"))),
    // The EXCISION half of the same method: first global occurrence of
    // each duplicated 15-token span survives, later occurrences mark
    // their token ranges, position-level union excises them, documents
    // reassemble from surviving tokens. Engine groups by span digest;
    // the oracle replays by span TEXT — the hash match doubles as a
    // digest-collision check, and the reassembled text itself is graded
    // (921 excised occurrences / 1243 dropped tokens on the sf0.01
    // fixture).
    "exact_substr_dedup" -> ((s, d) =>
      CorpusOps.exactSubstrDedup(Tables.documents(s, d), "doc_id", "text",
        n = 15)
        .orderBy("doc_id")),
    // The BOILERPLATE-SKEW fixture the de-skewed excision plan is graded
    // on: the same 15-token license-style sentence appended to EVERY
    // document puts one gram at corpus-cardinality occurrence count —
    // the hot-digest case the r11 window-based first-occurrence pick
    // would have funneled into a single straggler task. The two-phase
    // min(struct(id, pos)) + count aggregate reduces it map-side (the
    // join back on the hot digest is AQE-splittable); the oracle replays
    // the identically-appended corpus by span TEXT. Every document ends
    // up excising the boilerplate except the global first (min doc_id).
    "exact_substr_dedup_skew" -> ((s, d) =>
      CorpusOps.exactSubstrDedup(
        Tables.documents(s, d).withColumn("text",
          concat_ws(" ", col("text"), lit(excisionBoilerplate))),
        "doc_id", "text", n = 15)
        .orderBy("doc_id")),
    // BM25 sparse retrieval over the corpus for a fixed query-term set —
    // ranking compares associative micro-unit longs, so top-k membership
    // and order are engine-exact, not float-wobble-exact.
    "bm25_topk" -> ((s, d) =>
      CorpusOps.bm25TopK(Tables.documents(s, d), "doc_id", "text",
        queryTerms = Seq("spark", "join", "query"), k = 20)
        .orderBy("rnk")),
    // Literal-substring search through the trigram inverted index
    // ("grep at 100 TB"): candidates are docs whose distinct-trigram set
    // covers the pattern's, only candidates get the real `contains`
    // verify. The oracle is the naive full-corpus scan the index
    // replaces — the hash match proves the pruning is lossless,
    // including the pattern with trigram-covering non-matches and the
    // patterns with zero hits.
    "trigram_search" -> ((s, d) =>
      CorpusOps.trigramIndexSearch(Tables.documents(s, d), "doc_id",
        "text", patterns = Seq("sort merge", "batch stream",
          "window window", "merge part window", "graft engine"))
        .orderBy("pattern", "doc_id")),
    // Self-trained char-trigram LM quality score (CCNet-style perplexity
    // filter): avg negative log-likelihood per doc under the corpus MLE
    // model. Model fit + scoring both graded; the micro-unit quantization
    // makes the per-doc sums bit-identical across engines.
    "ngram_lm_score" -> ((s, d) =>
      gradedTrigramNll(s, d).orderBy("doc_id")),
    // Model-BASED filtering — the trained-classifier gate (fastText-style
    // quality/language classifier of the GPT-3 / CCNet curation recipes)
    // distilled to its closed-form multinomial-NB core: train on the
    // held-in mod-5 slices, predict the held-out slice's language.
    // Micro-log integer scores make the argmax engine-exact; the oracle
    // replays the ENTIRE train+apply dataflow in SQL, grading the model
    // fit and the prediction together.
    "nb_lang_classify" -> ((s, d) => {
      val all = Tables.documents(s, d)
      CorpusOps.nbClassify(
        all.where(pmod(col("doc_id"), lit(5)) =!= 1),
        all.where(pmod(col("doc_id"), lit(5)) === 1),
        "doc_id", "text", "lang")
        .orderBy("doc_id")
    }),
    // The PRODUCTION posture of the same classifier, graded: features
    // hashed into 64 md5 buckets (the fastText trick), so the model is
    // buckets×|C| bounded — a web-scale vocabulary broadcasts by CHOICE,
    // not by luck. 64 buckets forces real collisions at every SF; the
    // oracle replays the bucket hash (the dsir_select md5-fold idiom)
    // and the entire train+apply dataflow over the bucketed features,
    // so the hashed model's fit AND its predictions are hash-gated
    // end to end, exactly like the exact-token variant.
    "nb_lang_classify_hashed" -> ((s, d) => {
      val all = Tables.documents(s, d)
      CorpusOps.nbClassify(
        all.where(pmod(col("doc_id"), lit(5)) =!= 1),
        all.where(pmod(col("doc_id"), lit(5)) === 1),
        "doc_id", "text", "lang", hashBuckets = Some(64))
        .orderBy("doc_id")
    }),
    // The classifier-bootstrap a real curation pipeline runs: HEURISTIC
    // labels (the quality-score gate) train the model on one slice, the
    // model gates the rest — per predicted class: volume, membership
    // checksum, and agreement with the heuristic on the held-out side.
    // Reuses nbClassify verbatim; the oracle replays heuristic labeling
    // AND the full train+apply dataflow.
    "model_quality_gate" -> ((s, d) => {
      val lab = TextFunctions
        .withQualityColumns(Tables.documents(s, d), "text")
        .select(col("doc_id"), col("text"),
          when(col("quality") >= 0.4, "good").otherwise("bad")
            .as("qlabel"))
      CorpusOps.nbClassify(
        lab.where(pmod(col("doc_id"), lit(3)) === 0),
        lab.where(pmod(col("doc_id"), lit(3)) =!= 0),
        "doc_id", "text", "qlabel")
        .groupBy(col("pred_qlabel"))
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("id_sum"),
          sum("is_correct").as("n_agree"))
        .orderBy("pred_qlabel")
    }),
    // DSIR data selection (Xie et al. 2023): hashed-unigram importance
    // weights of raw documents against the held-out target slice's
    // feature distribution, top-200 kept. The distributions are
    // 4096-bounded whatever the corpus size; scoring is one broadcast
    // probe of the per-doc bucket counts.
    "dsir_select" -> ((s, d) => {
      val all = Tables.documents(s, d)
      CorpusOps.dsirSelect(
        all.where(pmod(col("doc_id"), lit(10)) =!= 7),
        all.where(pmod(col("doc_id"), lit(10)) === 7),
        "doc_id", "text", k = 200)
        .orderBy("rank")
    }),
    // CCNet head/middle/tail perplexity stratification per language:
    // tertile thresholds via the ⌈q·n⌉ histogram path (never a raw-row
    // window), bucket assignment a pure function of (lang, score).
    "perplexity_buckets" -> ((s, d) =>
      CorpusOps.perplexityBuckets(Tables.documents(s, d),
        "doc_id", "text", "lang",
        precomputedNll = Some(gradedTrigramNll(s, d)))
        .orderBy("lang", "bucket")),
    // Corpus diversity report: distinct-n ratio per (lang, n) for
    // n ∈ {2,3} — grams digested before the single fact-scale exchange.
    "distinct_ngram_ratio" -> ((s, d) =>
      CorpusOps.distinctNgramRatio(Tables.documents(s, d), "text", "lang")
        .orderBy("lang", "n")),
    // Exact PER-GROUP quantiles through the histogram path — the scale
    // alternative to the weekly tier's in-memory percentile buffer,
    // exact at ANY group size (windows run over histogram rows, a
    // spill-able sort). Same ⌈q·n⌉ rank convention as the global
    // variant; oracle re-sorts each group's raw cents one-task.
    // Time-to-next-event ("dwell") quantiles per event type — the
    // latency-shape report behind session/engagement tuning: per-user
    // gaps from a totalized (ts, event_id) order, floored to whole
    // seconds (a bounded histogram domain), then EXACT p50/p90/p99
    // through the per-group histogram path — no per-group value buffer
    // at any group size.
    "dwell_time_quantiles" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("__us"), col("event_id"))
      val gaps = Tables.events(s, d)
        .where(col("user_id").isNotNull && col("ts").isNotNull)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("__us"))
        .withColumn("__gap_s", CoreOps.integralDiv(
          lead(col("__us"), 1).over(w) - col("__us"), 1000000L))
      ScaleOps.groupQuantilesByHistogram(gaps, Seq(col("event_type")),
        col("__gap_s"), Seq(0.5, 0.9, 0.99))
        .orderBy("event_type")
    }),

    // Foreign-key fan-out audit — the pre-join skew screen: the
    // distribution (p50 / p99 / max) of children per parent key, read
    // off the fan-out histogram with the exact global-quantile path. A
    // p99≪max tail is the broadcast-refusing skewed key the salted-join
    // tier exists for; this query is how you find it BEFORE the join.
    "fk_fanout" -> ((s, d) => {
      val counts = Tables.orders(s, d)
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("c"))
      ScaleOps.exactQuantilesByHistogram(counts, col("c"), Seq(0.5, 0.99))
        .crossJoin(broadcast(counts.agg(max(col("c")).as("fan_max"))))
        .select(col("n").as("n_parents"), col("p50"), col("p99"),
          col("fan_max"))
    }),
    // Header/detail double-entry audit: does each order's stated total
    // equal the sum of its lines' computed amounts (price·(1+tax)·
    // (1−discount), quantized once at source)? One detail aggregate +
    // one header join, both on the order key; the verdict row reports
    // match/mismatch/orphan counts and drift magnitude — the fixture's
    // header totals are INDEPENDENT of its lines, so the audit must
    // report zero matches honestly, not fabricate agreement.
    "order_reconcile" -> ((s, d) =>
      DqOps.headerDetailReconcile(Tables.orders(s, d), Tables.lineitem(s, d),
        "o_orderkey", "l_orderkey",
        CoreOps.moneyCents(col("o_totalprice")),
        CoreOps.moneyCents(col("l_extendedprice") *
          (lit(1) + col("l_tax")) * (lit(1) - col("l_discount"))))),

    "weekly_quantiles_histogram" -> ((s, d) => {
      import CoreOps.rnd
      ScaleOps.groupQuantilesByHistogram(
          Tables.orders(s, d).select(
            CoreOps.weekStart(col("o_orderdate")).as("week"),
            col("o_orderpriority").as("dim"),
            CoreOps.moneyCents(col("o_totalprice")).as("__cents")),
          Seq(col("week"), col("dim")), col("__cents"),
          Seq(0.10, 0.50, 0.90))
        .select(col("week"), col("dim"), col("n"),
          rnd(col("p10").cast("double") / 100.0).as("p10"),
          rnd(col("p50").cast("double") / 100.0).as("p50"),
          rnd(col("p90").cast("double") / 100.0).as("p90"))
        .orderBy("week", "dim")
    }),
    // Exact GLOBAL order-statistics at fact scale: cents histogram +
    // distributed prefix sum, quantile = least value reaching rank
    // ⌈q·n⌉. The oracle sorts the whole column in one task; equality
    // proves the histogram path computes the identical exact ranks.
    // (Both engines evaluate ⌈q·n⌉ on the same IEEE double of q·n, so
    // even a representation artifact like 0.1·n landing just above an
    // integer resolves identically.)
    "global_quantiles_exact" -> ((s, d) => {
      import CoreOps.rnd
      ScaleOps.exactQuantilesByHistogram(
          Tables.orders(s, d)
            .select(CoreOps.moneyCents(col("o_totalprice")).as("__cents")),
          col("__cents"), Seq(0.10, 0.50, 0.90))
        .select(col("n"),
          rnd(col("p10").cast("double") / 100.0).as("p10"),
          rnd(col("p50").cast("double") / 100.0).as("p50"),
          rnd(col("p90").cast("double") / 100.0).as("p90"))
    }),
    // Equal-token shard manifest: content-address order, exact GLOBAL
    // running token total via the two-pass distributed prefix sum
    // (ScaleOps.globalRunningTotal — no single-partition window), shard =
    // the 2000-token bin the doc's start offset falls in. The hash-gated
    // exact cumsum is the determinism statement: local+offset must equal
    // DuckDB's one-task global window bit-for-bit at every row.
    "shard_manifest" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"),
        md5(col("doc_id").cast("string")).as("__h"))
      ScaleOps.globalRunningTotal(docs,
          Seq(col("__h"), col("doc_id")), col("n_tokens"))
        .select(col("doc_id"), col("n_tokens"),
          col("cum").as("cum_tokens"),
          floor((col("cum") - col("n_tokens")) / 2000).cast("long")
            .as("shard"))
        .orderBy("doc_id")
    }),
    // First-occurrence 5-gram novelty in corpus order — the frontier
    // freshness signal for incremental ingestion; gramless docs grade as
    // explicit NULL novelty.
    "ngram_novelty" -> ((s, d) =>
      CorpusOps.ngramNovelty(Tables.documents(s, d), "doc_id", "text", n = 5)
        .orderBy("doc_id")),
    // Mixture concentration dashboard (HHI / top share / Gini over tokens
    // per source) — every statistic reduces to long sums with one final
    // double division, so the row is engine-exact.
    "source_concentration" -> ((s, d) =>
      CorpusOps.concentrationStats(Tables.documents(s, d), "source",
        TextFunctions.tokenCount(col("text")))),
    // Per-source length-tail trim (rank-gated middle 90%): the
    // length-outlier quality gate, graded per source with a kept-id
    // checksum so gate MEMBERSHIP is hash-checked, not just counts.
    "length_tail_gate" -> ((s, d) =>
      CorpusOps.tailGate(Tables.documents(s, d), "source", col("n_chars"),
        lo = 0.05, hi = 0.95)
        .groupBy("source").agg(
          count(lit(1)).as("n_kept"),
          min("n_chars").as("min_chars"),
          max("n_chars").as("max_chars"),
          sum("doc_id").as("kept_id_sum"))
        .orderBy("source")),
    // Tokenizer merge-candidate counts (one BPE iteration's count step):
    // top-15 adjacent token pairs corpus-wide.
    "merge_pair_candidates" -> ((s, d) =>
      CorpusOps.mergePairCandidates(Tables.documents(s, d), "text", k = 15)
        .orderBy("rnk")),
    // Hybrid retrieval: BM25 sparse top-20 fused with dense cosine top-20
    // (query = the fixture embedding aligned with doc 7, candidates the
    // doc-id-aligned slice) via reciprocal-rank fusion — the composed
    // RAG-retrieval pipeline, pinning the rank handoff between the sparse
    // and dense tiers. Both rank lists and the fused order are
    // engine-exact (micro-unit longs / raw-double cosine / 2-term RRF sum
    // in fixed order); absent-from-list contributes 0, not 1/(60+∞).
    // The fusion windows run over the 20-row lists, never the corpus.
    "hybrid_search" -> ((s, d) => {
      val sparse = CorpusOps.bm25TopK(Tables.documents(s, d), "doc_id",
          "text", queryTerms = Seq("spark", "join", "query"), k = 20)
        .select(col("doc_id"), col("rnk").as("rnk_sparse"))
      val e = Tables.embeddings(s, d)
      val dense = Similarity.knnBrute(
          e.where(col("vec_id") === 7), e.where(col("vec_id") < 500), k = 20)
        .select(col("cid").as("doc_id"),
          col("rnk").cast("long").as("rnk_dense"))
      sparse.join(dense, Seq("doc_id"), "full_outer")
        .withColumn("rrf", CoreOps.rnd(
          coalesce(lit(1.0) / (lit(60.0) + col("rnk_sparse").cast("double")),
            lit(0.0))
            + coalesce(lit(1.0) / (lit(60.0) + col("rnk_dense").cast("double")),
              lit(0.0))))
        .withColumn("hybrid_rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("rrf").desc, col("doc_id"))).cast("long"))
        .where(col("hybrid_rank") <= 10)
        .select("doc_id", "rnk_sparse", "rnk_dense", "rrf", "hybrid_rank")
        .orderBy("hybrid_rank")
    }),

    // Embedding-space decontamination (the semantic analog of
    // decontaminate_ngrams): a content-addressed train/test split, then
    // every test vector with a train neighbor at cosine >= 0.4 counts as
    // leaked. The oracle owns the exhaustive cross-split truth count; the
    // Spark side must find them through the SRP-LSH scale path and clear
    // the recall floor, with precision exact by construction (candidates
    // are exact-verified before thresholding) — cosine_dedup_quality's
    // contract shape applied across the split boundary.
    "embed_decontaminate" -> ((s, d) => {
      import CoreOps.rnd
      val e = Tables.embeddings(s, d)
      val split = CorpusOps.assignSplit(e, "vec_id",
        Seq("train" -> 90, "test" -> 10))
      // Exhaustive truth over CROSS-SPLIT pairs only (test × train, the
      // slice the contract is about), with the TEST side ABSOLUTELY
      // bounded (vec_id < 2000 → the whole fixture today, ≤~10% of 2000
      // ids at any corpus size) and broadcast: the truth scan is then
      // O(|cap| · n) — linear in the corpus, never O(n²) — while the
      // recall/precision floors are measured on the capped test sample.
      val cap = lit(2000L)
      val test = split.where(col("split") === "test" && col("vec_id") < cap)
        .select(col("vec_id").as("test_id"), col("embedding").as("tv"))
      val train = split.where(col("split") === "train")
        .select(col("vec_id").as("train_id"), col("embedding").as("rv"))
      val truth = train.crossJoin(broadcast(test))
        .where(rnd(graft.expressions.CosineSimilarity
          .cosineFast(col("tv"), col("rv"))) >= 0.4)
        .select("test_id").distinct()
        .withColumn("__t", lit(1))
      // The LSH path runs over the whole corpus (production shape: one
      // bucketed index serves every governance scan), cross-split pairs
      // selected after the fact — gated to the same capped test sample
      // the truth side measures.
      val sp = split.select(col("vec_id"), col("split"))
      val lsh = Similarity.cosineNearDupPairs(
          e, "vec_id", "embedding", threshold = 0.4, bits = 4, tables = 24)
        .join(sp.select(col("vec_id").as("id_a"), col("split").as("sa")),
          Seq("id_a"))
        .join(sp.select(col("vec_id").as("id_b"), col("split").as("sb")),
          Seq("id_b"))
        .where(col("sa") =!= col("sb"))
        .select(when(col("sa") === "test", col("id_a"))
          .otherwise(col("id_b")).as("test_id"))
        .where(col("test_id") < cap)
        .distinct()
        .withColumn("__l", lit(1))
      truth.join(lsh, Seq("test_id"), "full_outer")
        .agg(
          sum(when(col("__t").isNotNull, 1L).otherwise(0L)).as("n_leaked"),
          sum(when(col("__t").isNotNull && col("__l").isNotNull, 1L)
            .otherwise(0L)).as("__n_hit"),
          sum(when(col("__l").isNotNull, 1L).otherwise(0L)).as("__n_lsh"))
        .select(
          coalesce(col("n_leaked"), lit(0L)).as("n_leaked"),
          when(coalesce(col("n_leaked"), lit(0L)) === 0, lit(true))
            .otherwise(col("__n_hit").cast("double") / col("n_leaked") >= 0.95)
            .as("recall_ok"),
          coalesce(col("__n_lsh") === col("__n_hit"), lit(true))
            .as("precision_ok"))
    }),

    // Paragraph-style chunk dedup: first global occurrence of each
    // 16-token chunk survives, documents reassemble from surviving chunks
    // (fully-duplicated docs vanish). The oracle rebuilds the same keeper
    // set with a positional row_number.
    "dedup_chunks" -> ((s, d) =>
      CorpusOps.dropDuplicateChunks(Tables.documents(s, d), "doc_id", "text",
        chunkTokens = 16)
        .orderBy("doc_id")),
    // Content-defined chunk dedup — the SHIFT-RESISTANT sixth member of
    // the chunking/dedup family: boundaries fall where the trailing
    // 8-char window hash hits 0 mod 32, so a prefix insertion re-derives
    // the same downstream chunks where dedup_chunks' fixed offsets lose
    // every one. Per doc: chunk count, chunks whose digest appeared
    // earlier (min (doc, chunk) keeper — dropDuplicateChunks' rule), and
    // the dedupable character mass. Chunk text reduces to its md5 in the
    // scan projection; only digests cross the keeper exchange.
    "cdc_chunk_dedup" -> ((s, d) => {
      val cc = CorpusOps.cdcChunks(Tables.documents(s, d), "doc_id",
        "text")
        .select(col("doc_id"), col("chunk_id"), col("n_chars"),
          md5(col("chunk_text").cast("binary")).as("__dig"))
      val keep = cc.groupBy(col("__dig"))
        .agg(min(struct(col("doc_id"), col("chunk_id"))).as("__k"))
      val isKeeper = col("__k.doc_id") === col("doc_id") &&
        col("__k.chunk_id") === col("chunk_id")
      cc.join(keep, Seq("__dig"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(isKeeper, 0L).otherwise(1L)).as("n_dup_chunks"),
          sum(when(isKeeper, 0L).otherwise(col("n_chars")))
            .as("dup_chars"))
        .orderBy("doc_id")
    }),

    // ---- scale tier: skew mitigation, oracle-gated ----
    // Salting must be RESULT-INVISIBLE: the oracle computes the plain
    // unsalted aggregation/join — any leak of the salt into results (lost
    // rows, doubled partials, salt column escaping) breaks the hash.
    // The pre-flight that DECIDES whether salting is needed: per-key
    // counts reduce to their count-of-counts histogram, read out as the
    // top-key share, exact p50/p99 key sizes, and key entropy. Two hash
    // aggregates; everything else runs on the count-domain-bounded
    // histogram.
    "key_skew_report" -> ((s, d) =>
      ScaleOps.keySkewReport(Tables.lineitem(s, d), col("l_partkey"))),
    "salted_agg" -> ((s, d) =>
      ScaleOps.saltedSum(
        Tables.orders(s, d)
          .withColumn("__cents", CoreOps.moneyCents(col("o_totalprice"))),
        Seq("o_orderpriority"), "__cents", buckets = 8)
        .select(col("o_orderpriority"),
          CoreOps.rnd(col("sum___cents").cast("double") / 100.0)
            .as("total_price"))
        .orderBy("o_orderpriority")),
    // key_skew_report's read CLOSED INTO the decision it documents:
    // the pre-flight picks salted vs plain aggregation, and the choice
    // itself is graded — the oracle replays the decision rule
    // (4-dp top_share > 0.05) alongside the sums, so a mis-routed plan
    // flips the `salted` boolean and hash-fails. event_type's top key
    // owns ~20% of events at every SF → the salted path (PlanSpec pins
    // the salt derivation in the plan)...
    "skew_aware_agg_hot" -> ((s, d) =>
      ScaleOps.skewAwareSum(
        Tables.events(s, d)
          .withColumn("__cents", CoreOps.moneyCents(col("value"))),
        "event_type", "__cents")
        .select(col("event_type"),
          CoreOps.rnd(col("sum___cents").cast("double") / 100.0)
            .as("total_value"), col("salted"))
        .orderBy("event_type")),
    // ...while o_custkey's top customer owns ≤1.2% → the plain
    // one-exchange aggregate, pinned salt-free.
    "skew_aware_agg_uniform" -> ((s, d) =>
      ScaleOps.skewAwareSum(
        Tables.orders(s, d)
          .withColumn("__cents", CoreOps.moneyCents(col("o_totalprice"))),
        "o_custkey", "__cents")
        .select(col("o_custkey"),
          CoreOps.rnd(col("sum___cents").cast("double") / 100.0)
            .as("total_price"), col("salted"))
        .orderBy("o_custkey")),
    "salted_join" -> ((s, d) =>
      ScaleOps.saltedJoin(Tables.orders(s, d), Tables.customer(s, d),
        "o_custkey", "c_custkey", buckets = 8)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          countDistinct(col("o_orderkey")).as("n_distinct"))
        .orderBy("c_mktsegment")),

    // ---- scale tier: z-order layout key ----
    // The graded surface is the Morton key itself (deterministic); the
    // range-partitioned layout built on it is pinned by ScaleOpsSpec +
    // PlanSpec (RangePartitioning, no global sort).
    "zorder_layout" -> ((s, d) =>
      Tables.orders(s, d).select(col("o_orderkey"),
        pmod(col("o_custkey"), lit(1024)).as("zx"),
        pmod(CoreOps.moneyCents(col("o_totalprice")), lit(1024)).as("zy"))
        .withColumn("zval", ScaleOps.zValue(col("zx"), col("zy"), bits = 10))
        .orderBy("zval", "o_orderkey")),

    // Zone-map pruning effectiveness, z-order vs linear layout on the
    // SAME rows and predicate: per-file min/max stats (250-row files
    // over each total order) against a ~10%x10% rectangle — the
    // quantitative data-skipping argument behind zorder_layout. File
    // ranks come from the two-pass distributed prefix sum (range
    // exchange + local sorts, the layout-write shape), never a
    // single-partition row_number.
    "zonemap_prune" -> ((s, d) => {
      val o = Tables.orders(s, d).select(col("o_orderkey"),
        pmod(col("o_custkey"), lit(1024)).as("zx"),
        pmod(CoreOps.moneyCents(col("o_totalprice")), lit(1024)).as("zy"))
        .withColumn("zval", ScaleOps.zValue(col("zx"), col("zy"), bits = 10))
      def stats(keys: Seq[Column], name: String) =
        ScaleOps.zonemapPruneStats(o, keys, col("zx"), col("zy"),
          rowsPerFile = 250L, xLo = 100L, xHi = 200L,
          yLo = 300L, yHi = 400L)
          .withColumn("layout", lit(name))
      stats(Seq(col("zval"), col("o_orderkey")), "zorder")
        .unionByName(stats(Seq(col("o_orderkey")), "linear"))
        .select(col("layout"), col("n_files"), col("n_rows"),
          col("files_scanned"), col("rows_scanned"),
          col("files_with_hits"), col("rows_matched"), col("scan_ratio"))
        .orderBy("layout")
    }),
  )

  /** Shared CTE prefix of the two k-means oracles: the quantized corpus,
    * the smallest-8-ids init, and three unrolled Lloyd iterations ending
    * in `a3` = (vec_id, cl, d) — the final assignment with its exact long
    * distance. `kmeans_embed` reads a3 directly; `cluster_prototypes`
    * windows it. One definition so the two graded replays cannot drift.
    */
  private def kmeansOracleCtes: String =
    """WITH q AS (SELECT vec_id,
      |    list_transform(embedding, e -> CAST(floor(CAST(e AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS qv
      |  FROM embeddings),
      |c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cl, qv AS cv
      |  FROM q ORDER BY vec_id LIMIT 8),
      |a1 AS (SELECT vec_id, cl, qv FROM (
      |    SELECT q.vec_id, c.cl, q.qv,
      |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
      |        list_sum(list_transform(list_zip(q.qv, c.cv), x -> (x[1] - x[2]) * (x[1] - x[2]))), c.cl) AS rn
      |    FROM q CROSS JOIN c0 c) WHERE rn = 1),
      |c1 AS (SELECT cl, list(s ORDER BY i) AS cv FROM (
      |    SELECT cl, i, CAST(sum(e) AS BIGINT) // count(*) AS s FROM (
      |      SELECT cl, generate_subscripts(qv, 1) AS i, unnest(qv) AS e FROM a1)
      |    GROUP BY cl, i) GROUP BY cl),
      |a2 AS (SELECT vec_id, cl, qv FROM (
      |    SELECT q.vec_id, c.cl, q.qv,
      |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
      |        list_sum(list_transform(list_zip(q.qv, c.cv), x -> (x[1] - x[2]) * (x[1] - x[2]))), c.cl) AS rn
      |    FROM q CROSS JOIN c1 c) WHERE rn = 1),
      |c2 AS (SELECT cl, list(s ORDER BY i) AS cv FROM (
      |    SELECT cl, i, CAST(sum(e) AS BIGINT) // count(*) AS s FROM (
      |      SELECT cl, generate_subscripts(qv, 1) AS i, unnest(qv) AS e FROM a2)
      |    GROUP BY cl, i) GROUP BY cl),
      |a3 AS (SELECT vec_id, cl, d FROM (
      |    SELECT q.vec_id, c.cl,
      |      list_sum(list_transform(list_zip(q.qv, c.cv), x -> (x[1] - x[2]) * (x[1] - x[2]))) AS d,
      |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
      |        list_sum(list_transform(list_zip(q.qv, c.cv), x -> (x[1] - x[2]) * (x[1] - x[2]))), c.cl) AS rn
      |    FROM q CROSS JOIN c2 c) WHERE rn = 1)""".stripMargin

  /** IVF-over-SQ8 serving replay: [[kmeansOracleCtes]]' final state (a3
    * cells + the c2 centroids they were assigned against), the
    * embed_quantize_dims codebook/codes (suffixed _8), the nprobe=2
    * integer centroid probe, the cell-restricted integer code-space
    * top-3, and the brute audit leg with its overlap — every stage of
    * the serving path replayed, nothing floored.
    */
  private val ivfSq8Oracle: String = kmeansOracleCtes +
    """,
      |e8 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |x8 AS (SELECT unnest(range(1, len(v)+1)) AS pos, unnest(list_transform(range(1, len(v)+1), i -> v[CAST(i AS INTEGER)])) AS x FROM e8),
      |cbd8 AS (SELECT pos, min(x) AS mn, max(x) AS mx FROM x8 GROUP BY 1),
      |cb8 AS (SELECT list(mn ORDER BY pos) AS mns, list((mx - mn) / 255.0 ORDER BY pos) AS scs FROM cbd8),
      |codes AS (SELECT vec_id,
      |    list_transform(range(1, len(v)+1), i -> CASE WHEN scs[CAST(i AS INTEGER)] = 0 THEN 0::BIGINT
      |      ELSE greatest(0::BIGINT, least(255::BIGINT, CAST(floor((v[CAST(i AS INTEGER)] - mns[CAST(i AS INTEGER)]) / scs[CAST(i AS INTEGER)] + 0.5) AS BIGINT))) END) AS code
      |  FROM e8 CROSS JOIN cb8),
      |qm AS (SELECT vec_id AS qid, qv FROM q WHERE vec_id < 10),
      |prb AS (SELECT qid, cell FROM (
      |    SELECT qm.qid, c.cl AS cell,
      |      row_number() OVER (PARTITION BY qm.qid ORDER BY
      |        list_sum(list_transform(list_zip(qm.qv, c.cv), x -> (x[1] - x[2]) * (x[1] - x[2]))), c.cl) AS rn
      |    FROM qm CROSS JOIN c2 c) WHERE rn <= 2),
      |qc AS (SELECT vec_id AS qid, code AS qcode FROM codes WHERE vec_id < 10),
      |cw AS (SELECT codes.vec_id, codes.code, a3.cl AS cell FROM codes JOIN a3 ON codes.vec_id = a3.vec_id),
      |srv AS (SELECT qid, CAST(rn AS BIGINT) AS rnk, cid, cell, d2 FROM (
      |    SELECT p.qid, cw.vec_id AS cid, cw.cell,
      |      list_sum(list_transform(list_zip(qc.qcode, cw.code), x -> (x[1] - x[2]) * (x[1] - x[2]))) AS d2,
      |      row_number() OVER (PARTITION BY p.qid ORDER BY
      |        list_sum(list_transform(list_zip(qc.qcode, cw.code), x -> (x[1] - x[2]) * (x[1] - x[2]))), cw.vec_id) AS rn
      |    FROM prb p JOIN cw ON p.cell = cw.cell JOIN qc ON qc.qid = p.qid
      |    WHERE cw.vec_id <> p.qid) WHERE rn <= 3),
      |brt AS (SELECT qid, cid FROM (
      |    SELECT qc.qid, cw.vec_id AS cid,
      |      row_number() OVER (PARTITION BY qc.qid ORDER BY
      |        list_sum(list_transform(list_zip(qc.qcode, cw.code), x -> (x[1] - x[2]) * (x[1] - x[2]))), cw.vec_id) AS rn
      |    FROM qc CROSS JOIN cw WHERE cw.vec_id <> qc.qid) WHERE rn <= 3),
      |rc AS (SELECT srv.qid AS rqid, count(brt.cid) AS m FROM srv
      |  LEFT JOIN brt ON srv.qid = brt.qid AND srv.cid = brt.cid GROUP BY 1)
      |SELECT qid, rnk, cid, CAST(cell AS BIGINT) AS cell, CAST(d2 AS BIGINT) AS d2,
      |  floor((CAST(m AS DOUBLE) / 3) * 10000 + 0.5) / 10000 AS recall_k
      |FROM srv JOIN rc ON srv.qid = rc.rqid ORDER BY qid, rnk""".stripMargin

  /** One PQ subspace's oracle block: [[kmeansOracleCtes]] with the
    * embedding sliced to [lo+1, lo+len] (DuckDB list slicing is 1-based
    * inclusive, matching Spark's `slice(col, lo+1, len)`) and every CTE
    * name suffixed so m quantizers coexist in one WITH list.
    * Parameterized by codebook size `k` (the c0 init LIMIT) and source
    * relation `src` so the same replay covers the base (m=4, k=8,
    * embeddings) family, the upgraded pq_recall quantizer (m=8, k=16),
    * and the clustered-synthetic grade (k=64 over the synth CTE).
    */
  private def pqSubspaceCtes(t: Int, lo: Int, len: Int, k: Int = 8,
                             src: String = "embeddings"): String = {
    val sl = s"embedding[${lo + 1}:${lo + len}]"
    s"""q_$t AS (SELECT vec_id,
       |    list_transform($sl, e -> CAST(floor(CAST(e AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS qv
       |  FROM $src),
       |c0_$t AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cl, qv AS cv
       |  FROM q_$t ORDER BY vec_id LIMIT $k),
       |a1_$t AS (SELECT vec_id, cl, qv FROM (
       |    SELECT q.vec_id, c.cl, q.qv,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        list_sum(list_transform(list_zip(q.qv, c.cv), x -> (x[1] - x[2]) * (x[1] - x[2]))), c.cl) AS rn
       |    FROM q_$t q CROSS JOIN c0_$t c) WHERE rn = 1),
       |c1_$t AS (SELECT cl, list(s ORDER BY i) AS cv FROM (
       |    SELECT cl, i, CAST(sum(e) AS BIGINT) // count(*) AS s FROM (
       |      SELECT cl, generate_subscripts(qv, 1) AS i, unnest(qv) AS e FROM a1_$t)
       |    GROUP BY cl, i) GROUP BY cl),
       |a2_$t AS (SELECT vec_id, cl, qv FROM (
       |    SELECT q.vec_id, c.cl, q.qv,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        list_sum(list_transform(list_zip(q.qv, c.cv), x -> (x[1] - x[2]) * (x[1] - x[2]))), c.cl) AS rn
       |    FROM q_$t q CROSS JOIN c1_$t c) WHERE rn = 1),
       |c2_$t AS (SELECT cl, list(s ORDER BY i) AS cv FROM (
       |    SELECT cl, i, CAST(sum(e) AS BIGINT) // count(*) AS s FROM (
       |      SELECT cl, generate_subscripts(qv, 1) AS i, unnest(qv) AS e FROM a2_$t)
       |    GROUP BY cl, i) GROUP BY cl),
       |a3_$t AS (SELECT vec_id, cl, d FROM (
       |    SELECT q.vec_id, c.cl,
       |      list_sum(list_transform(list_zip(q.qv, c.cv), x -> (x[1] - x[2]) * (x[1] - x[2]))) AS d,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        list_sum(list_transform(list_zip(q.qv, c.cv), x -> (x[1] - x[2]) * (x[1] - x[2]))), c.cl) AS rn
       |    FROM q_$t q CROSS JOIN c2_$t c) WHERE rn = 1)""".stripMargin
  }

  private val pqCodesOracle: String =
    "WITH " + (0 until 4).map(t => pqSubspaceCtes(t, t * 16, 16))
      .mkString(",\n") + "\n" +
      (0 until 4).map(t =>
        s"SELECT vec_id, CAST($t AS BIGINT) AS subspace, cl AS code," +
          s" CAST(d AS BIGINT) AS dist FROM a3_$t")
        .mkString("\nUNION ALL\n") +
      "\nORDER BY vec_id, subspace"

  /** ADC oracle CTE chain, parameterized: m quantizer replays (subspace
    * width `len`, codebook size `k`, over `src`), an exact per-query
    * lookup table against each FINAL codebook (c2_t), candidate
    * distances as sums of m lookups keyed by the replayed codes (a3_t),
    * and the same (distance, id)-totalized ranking. `prefix` injects a
    * leading CTE (the clustered-synthetic corpus) ahead of the replays.
    */
  private def pqAdcCtesFor(m: Int, len: Int, k: Int, src: String,
                           qids: String, prefix: String = ""): String =
    "WITH " + prefix +
      (0 until m).map(t => pqSubspaceCtes(t, t * len, len, k, src))
        .mkString(",\n") + ",\n" +
      (0 until m).map(t =>
        s"""lut_$t AS (SELECT qq.vec_id AS qid, c.cl AS code,
           |    list_sum(list_transform(list_zip(qq.qv, c.cv), x -> (x[1] - x[2]) * (x[1] - x[2]))) AS pd
           |  FROM q_$t qq CROSS JOIN c2_$t c WHERE qq.vec_id IN ($qids)),
           |s_$t AS (SELECT l.qid, a.vec_id, l.pd FROM a3_$t a JOIN lut_$t l ON a.cl = l.code)""".stripMargin)
        .mkString(",\n") + ",\n" +
      "u AS (" + (0 until m).map(t => s"SELECT * FROM s_$t")
        .mkString("\n  UNION ALL ") + "),\n" +
      s"""adc AS (SELECT qid, vec_id, CAST(sum(pd) AS BIGINT) AS adc_dist
         |  FROM u GROUP BY 1, 2 HAVING count(*) = $m),
         |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY qid ORDER BY adc_dist, vec_id) AS BIGINT) AS rank FROM adc)""".stripMargin

  private val pqAdcOracle: String =
    pqAdcCtesFor(4, 16, 8, "embeddings", "1, 2, 3") +
      """
        |SELECT qid, rank, vec_id, adc_dist FROM r WHERE rank <= 10
        |ORDER BY qid, rank""".stripMargin

  /** Recall oracle builder: the ADC replay joined against the exact
    * full-vector L2 top-`topK` (same micro grid, same tie totalization),
    * with the floor gate replayed as the recall_ok column.
    */
  private def pqRecallOracleFor(m: Int, len: Int, k: Int, src: String,
                                qids: String, topK: Int, floor: Double,
                                prefix: String = ""): String =
    pqAdcCtesFor(m, len, k, src, qids, prefix) +
      s""",
         |fullq AS (SELECT vec_id,
         |    list_transform(embedding, e -> CAST(floor(CAST(e AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS qv
         |  FROM $src),
         |qsel AS (SELECT vec_id AS qid, qv AS qqv FROM fullq WHERE vec_id IN ($qids)),
         |ex AS (SELECT qid, vec_id FROM (
         |    SELECT q2.qid, a.vec_id,
         |      CAST(row_number() OVER (PARTITION BY q2.qid ORDER BY
         |        list_sum(list_transform(list_zip(a.qv, q2.qqv), x -> (x[1] - x[2]) * (x[1] - x[2]))), a.vec_id) AS BIGINT) AS rk
         |    FROM fullq a CROSS JOIN qsel q2)
         |  WHERE rk <= $topK)
         |SELECT r.qid, CAST(count(*) AS BIGINT) AS n_overlap,
         |  floor(CAST(count(*) AS DOUBLE) / $topK * 10000 + 0.5) / 10000 AS recall,
         |  floor(CAST(count(*) AS DOUBLE) / $topK * 10000 + 0.5) / 10000 >= $floor AS recall_ok
         |FROM r JOIN ex ON r.qid = ex.qid AND r.vec_id = ex.vec_id
         |WHERE r.rank <= $topK GROUP BY 1 ORDER BY 1""".stripMargin

  /** The clustered-synthetic corpus CTE shared by the `_clustered`
    * grades: 50 tight clusters derived deterministically FROM the
    * fixture — member i sits at center (i mod 50) plus its own
    * embedding scaled 1/20. Mirrors [[clusteredEmbeddings]] exactly
    * (same double-precision op order).
    */
  private val synthCte: String =
    """synth AS (SELECT e.vec_id,
      |    list_transform(list_zip(c.embedding, e.embedding),
      |      x -> CAST(x[1] AS DOUBLE) + CAST(x[2] AS DOUBLE) / 20.0) AS embedding
      |  FROM embeddings e JOIN embeddings c ON c.vec_id = e.vec_id % 50),
      |""".stripMargin

  private val pqRecallOracle: String =
    pqRecallOracleFor(8, 8, 16, "embeddings", "1, 2, 3", 10, 0.35)

  private val pqRecallClusteredOracle: String =
    pqRecallOracleFor(4, 16, 64, "synth", "1, 2, 3", 10, 0.9, synthCte)

  /** Iterated-BPE oracle: the segmented weighted vocabulary (v0), then
    * `rounds` chained CTE rounds of (adjacent-pair counts → 1-row
    * argmax → greedy string replace) — [[graft.ops.CorpusOps
    * .bpeTrainMerges]]' loop unrolled the way pagerank_parts unrolls
    * its iterations. An exhausted round leaves its m_i empty and every
    * later CTE empty, mirroring the engine's early stop.
    */
  private val bpeRounds = 8

  /** Encode grade runs the trained tokenizer at a REAL merge count —
    * the round-10 verdict's scale test for the vocabulary-scale encode
    * path (plan depth must not grow with the merge table). The sf0.01
    * fixture exhausts at 89 merges, so all 64 realize.
    */
  private val bpeEncodeRounds = 64

  /** The training CTE chain shared by the two BPE oracles (v0 and
    * `rounds` × (p_i, m_i, v_i) blocks, no leading WITH). v_i/m_i are
    * MATERIALIZED: each v_i is referenced twice (p_{i+1} and v_{i+1}),
    * so DuckDB's default CTE inlining re-evaluates the chain
    * exponentially in the round count — harmless at 8 rounds, a
    * non-terminating plan at 64.
    */
  private def bpeTrainCtesFor(rounds: Int): String = {
    val v0 =
      """v0 AS MATERIALIZED (SELECT regexp_replace(w, '(.)', '(\1)', 'g') AS seg, c FROM (
        |  SELECT w, CAST(count(*) AS BIGINT) AS c FROM (
        |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE length(w) >= 2 GROUP BY 1))""".stripMargin
    val per = (1 to rounds).map { i =>
      val p = i - 1
      s"""p$i AS (SELECT s[x] AS l, s[x+1] AS r, CAST(count(*) AS BIGINT) AS n_forms, CAST(sum(c) AS BIGINT) AS n FROM (
         |    SELECT string_split(seg[2:-2], ')(') AS s, c FROM v$p),
         |    LATERAL (SELECT unnest(range(1, len(s))) AS x) WHERE len(s) >= 2 GROUP BY 1, 2),
         |m$i AS MATERIALIZED (SELECT l, r, n_forms, n FROM p$i ORDER BY n DESC, l, r LIMIT 1),
         |v$i AS MATERIALIZED (SELECT replace(seg, '(' || l || ')(' || r || ')', '(' || l || r || ')') AS seg, c FROM v$p CROSS JOIN m$i)""".stripMargin
    }
    (v0 +: per).mkString(",\n")
  }

  /** ONE definition of the incremental near-dup truth — the full-corpus
    * exhaustive exact-jaccard run over the graded slice — shared by the
    * in-memory and bucketed-manifest variants: the persistence layout is
    * a plan property, the answer contract is identical.
    */
  private val incrementalNeardupOracle: String =
    """WITH docs AS (SELECT * FROM documents WHERE doc_id % 10 = 1 AND doc_id < 10000),
      |toks AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok FROM docs),
      |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nt FROM toks GROUP BY 1),
      |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS shared
      |  FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |j AS (SELECT id_a, id_b, shared,
      |  floor((CAST(shared AS DOUBLE) / (sa.nt + sb.nt - shared)) * 10000 + 0.5) / 10000 AS jaccard
      |  FROM pairs JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id)
      |SELECT id_a, id_b, shared, jaccard FROM j WHERE jaccard >= 0.5 ORDER BY id_a, id_b""".stripMargin

  /** Drift oracle, built programmatically: the ±1 sign literals come from
    * the SAME [[EmbeddingOps.driftSigns]] the engine uses, so
    * cross-engine agreement on the projections is literal equality; the
    * fold is sequential in both engines (the EmbeddingOps object-doc
    * contract), and every PSI term is micro-quantized before the sum.
    */
  private val embedDriftOracle: String = {
    val signs = graft.ops.EmbeddingOps.driftSigns(4, 64)
    def proj(p: Int) =
      s"list_reduce(list_transform(range(1, 65), i -> v[CAST(i AS INTEGER)]" +
        s" * ([${signs(p).mkString(", ")}])[CAST(i AS INTEGER)])," +
        " (acc, x) -> acc + x)"
    def side(tbl: String) = (0 until 4).map { p =>
      s"SELECT CAST($p AS BIGINT) AS p, CAST(floor(floor(${proj(p)}" +
        s" * 10000 + 0.5) / 10000 / 0.5) AS BIGINT) AS bin FROM $tbl"
    }.mkString(" UNION ALL ")
    s"""WITH ea AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id % 2 = 0 AND len(embedding) = 64),
       |eb AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id % 2 = 1 AND len(embedding) = 64),
       |pa AS (${side("ea")}),
       |pb AS (${side("eb")}),
       |ha AS (SELECT p, bin, CAST(count(*) AS BIGINT) AS ca FROM pa GROUP BY 1, 2),
       |hb AS (SELECT p, bin, CAST(count(*) AS BIGINT) AS cb FROM pb GROUP BY 1, 2),
       |j AS (SELECT p, bin, coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
       |  FROM ha FULL OUTER JOIN hb USING (p, bin)),
       |t AS (SELECT p, CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb,
       |    CAST(count(*) AS BIGINT) AS n_bins FROM j GROUP BY 1),
       |terms AS (SELECT j.p,
       |    CAST(floor((CAST(ca + 1 AS DOUBLE) / (na + n_bins) - CAST(cb + 1 AS DOUBLE) / (nb + n_bins))
       |      * ln((CAST(ca + 1 AS DOUBLE) / (na + n_bins)) / (CAST(cb + 1 AS DOUBLE) / (nb + n_bins))) * 1000000 + 0.5) AS BIGINT) AS tm,
       |    n_bins, na, nb
       |  FROM j JOIN t USING (p))
       |SELECT p, min(n_bins) AS n_bins, min(na) AS n_a, min(nb) AS n_b,
       |  floor((CAST(sum(tm) AS DOUBLE) / 1000000) * 10000 + 0.5) / 10000 AS psi
       |FROM terms GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** The deployed embedding gate replayed — [[embedDriftOracle]] with a
    * batch dimension: the SAME fixed-sign projection, 4-dp rounding,
    * integer binning, and micro-unit PSI arithmetic, once per
    * deterministic (vec_id div 10) % 3 batch stamp against the frozen
    * vec_id%10==0 reference histogram (union bin set per batch via the
    * reference × batches cross join, exactly the engine's per-batch
    * full-outer histogram join).
    */
  private val streamEmbedPsiOracle: String = {
    val signs = graft.ops.EmbeddingOps.driftSigns(4, 64)
    def proj(p: Int) =
      s"list_reduce(list_transform(range(1, 65), i -> v[CAST(i AS INTEGER)]" +
        s" * ([${signs(p).mkString(", ")}])[CAST(i AS INTEGER)])," +
        " (acc, x) -> acc + x)"
    val refSide = (0 until 4).map { p =>
      s"SELECT CAST($p AS BIGINT) AS p, CAST(floor(floor(${proj(p)}" +
        s" * 10000 + 0.5) / 10000 / 0.5) AS BIGINT) AS bin FROM er"
    }.mkString(" UNION ALL ")
    val batchSide = (0 until 4).map { p =>
      s"SELECT batch_id, CAST($p AS BIGINT) AS p, CAST(floor(floor(${proj(p)}" +
        s" * 10000 + 0.5) / 10000 / 0.5) AS BIGINT) AS bin FROM eb"
    }.mkString(" UNION ALL ")
    s"""WITH er AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id % 10 = 0 AND len(embedding) = 64),
       |eb AS (SELECT (vec_id // 10) % 3 AS batch_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id % 10 = 5 AND len(embedding) = 64),
       |pa AS ($refSide),
       |pb AS ($batchSide),
       |ha AS (SELECT p, bin, CAST(count(*) AS BIGINT) AS ca FROM pa GROUP BY 1, 2),
       |bids AS (SELECT DISTINCT batch_id FROM eb),
       |hb AS (SELECT batch_id, p, bin, CAST(count(*) AS BIGINT) AS cb FROM pb GROUP BY 1, 2, 3),
       |hab AS (SELECT batch_id, p, bin, ca FROM ha CROSS JOIN bids),
       |j AS (SELECT batch_id, p, bin, coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
       |  FROM hab FULL OUTER JOIN hb USING (batch_id, p, bin)),
       |tt AS (SELECT batch_id, p, CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb,
       |    CAST(count(*) AS BIGINT) AS n_bins FROM j GROUP BY 1, 2),
       |terms AS (SELECT j.batch_id, j.p,
       |    CAST(floor((CAST(ca + 1 AS DOUBLE) / (na + n_bins) - CAST(cb + 1 AS DOUBLE) / (nb + n_bins))
       |      * ln((CAST(ca + 1 AS DOUBLE) / (na + n_bins)) / (CAST(cb + 1 AS DOUBLE) / (nb + n_bins))) * 1000000 + 0.5) AS BIGINT) AS tm,
       |    n_bins, na, nb
       |  FROM j JOIN tt USING (batch_id, p))
       |SELECT CAST(batch_id AS BIGINT) AS batch_id, p, min(n_bins) AS n_bins, min(na) AS n_a, min(nb) AS n_b,
       |  floor((CAST(sum(tm) AS DOUBLE) / 1000000) * 10000 + 0.5) / 10000 AS psi
       |FROM terms GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  /** The aHash frame near-dup truth — shared verbatim by the full
    * banding join AND the incremental-on-state layout (pigeonhole
    * banding is lossless, so both equal the brute Hamming scan).
    */
  private val frameNeardupOracle: String =
      (decoderFoldCte +
        """,
          |fr AS (SELECT media_id, unnest(range(0, duration_ms, 60000)) AS frame_ms
          |  FROM decoded WHERE duration_ms > 0),
          |w AS (SELECT fr.media_id, fr.frame_ms,
          |    substr(d.text, CAST((fr.frame_ms // 60000) * 64 + 1 AS INTEGER), 64) AS w
          |  FROM fr JOIN documents d ON fr.media_id = d.doc_id
          |  WHERE length(d.text) >= ((fr.frame_ms // 60000) + 1) * 64),
          |px AS (SELECT media_id, frame_ms,
          |    list_transform(range(1, 65), j -> ord(substr(w, CAST(j AS INTEGER), 1))::BIGINT) AS ps
          |  FROM w),
          |fp AS (SELECT media_id, frame_ms,
          |    list_reduce(list_prepend(0::BIGINT, list_transform(range(0, 32), j ->
          |      CASE WHEN ps[CAST(j + 1 AS INTEGER)] * 64 > list_sum(ps) THEN (1::BIGINT << CAST(j AS INTEGER)) ELSE 0::BIGINT END)),
          |      (a, b) -> a | b) AS sh_lo,
          |    list_reduce(list_prepend(0::BIGINT, list_transform(range(32, 64), j ->
          |      CASE WHEN ps[CAST(j + 1 AS INTEGER)] * 64 > list_sum(ps) THEN (1::BIGINT << CAST(j - 32 AS INTEGER)) ELSE 0::BIGINT END)),
          |      (a, b) -> a | b) AS sh_hi
          |  FROM px),
          |prs AS (SELECT a.media_id AS media_a, a.frame_ms AS frame_a_ms,
          |    b.media_id AS media_b, b.frame_ms AS frame_b_ms,
          |    CAST(bit_count(xor(a.sh_lo, b.sh_lo)) + bit_count(xor(a.sh_hi, b.sh_hi)) AS INT) AS hamming
          |  FROM fp a JOIN fp b ON (a.media_id < b.media_id
          |    OR (a.media_id = b.media_id AND a.frame_ms < b.frame_ms)))
          |SELECT media_a, frame_a_ms, media_b, frame_b_ms, hamming
          |FROM prs WHERE hamming <= 3
          |ORDER BY media_a, frame_a_ms, media_b, frame_b_ms""".stripMargin)

  private val bpeTrainOracle: String =
    "WITH " + bpeTrainCtesFor(bpeRounds) + "\n" +
      (1 to bpeRounds).map(i =>
        s"SELECT CAST($i AS BIGINT) AS round, l AS left_sym, r AS right_sym," +
          s" l || r AS merged, n_forms, n FROM m$i")
        .mkString("\nUNION ALL\n") + "\nORDER BY round"

  /** Encode oracle: the trained m_i merges applied in order to EVERY
    * word occurrence (chained scalar-subquery replaces — each m_i is a
    * 1-row CTE on this corpus), then the per-source stats. Exhaustion-
    * proof: an empty m_i makes its scalar subqueries NULL and the
    * coalesce falls back to the unmodified seg, mirroring the engine's
    * early stop (the sf0.01 fixture realizes all 64, but the oracle
    * must not depend on that).
    */
  private val bpeEncodeOracle: String = {
    val e0 =
      """words AS (SELECT source, w, CAST(length(w) AS BIGINT) AS chars FROM (
        |    SELECT source, unnest(string_split(text, ' ')) AS w FROM documents WHERE source IS NOT NULL)
        |  WHERE length(w) >= 1),
        |e0 AS (SELECT source, chars, regexp_replace(w, '(.)', '(\1)', 'g') AS seg FROM words)""".stripMargin
    val steps = (1 to bpeEncodeRounds).map { i =>
      val p = i - 1
      s"""e$i AS (SELECT source, chars, coalesce(replace(seg,
         |    '(' || (SELECT l FROM m$i) || ')(' || (SELECT r FROM m$i) || ')',
         |    '(' || (SELECT l || r FROM m$i) || ')'), seg) AS seg FROM e$p)""".stripMargin
    }
    "WITH " + bpeTrainCtesFor(bpeEncodeRounds) + ",\n" +
      (e0 +: steps).mkString(",\n") + "\n" +
      s"""SELECT source, CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(chars) AS BIGINT) AS n_chars,
         |  CAST(sum(length(seg) - length(replace(seg, '(', ''))) AS BIGINT) AS n_tokens,
         |  floor(CAST(sum(length(seg) - length(replace(seg, '(', ''))) AS DOUBLE) / count(*) * 10000 + 0.5) / 10000 AS tokens_per_word,
         |  floor(CAST(sum(chars) AS DOUBLE) / sum(length(seg) - length(replace(seg, '(', ''))) * 10000 + 0.5) / 10000 AS chars_per_token
         |FROM e$bpeEncodeRounds GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Id-sequence oracle: replay training, derive the same deterministic
    * symbol→id table (base symbols at merge-round 0 then merges by first
    * producing round, symbol tiebreak), re-segment every word POSITION
    * off the final vocabulary, and emit (doc, pos, id) — the engine's
    * exploded token stream must hash-match id-for-id, position-for-
    * position. Exhaustion-proof like the stats oracle: an empty m_i
    * contributes no merge row.
    */
  private val bpeEncodeIdsOracle: String = {
    val r = bpeEncodeRounds
    val allm = (1 to r)
      .map(i => s"SELECT $i AS rnd, l || r AS sym FROM m$i")
      .mkString("\n  UNION ALL ")
    "WITH " + bpeTrainCtesFor(r) + ",\n" +
      s"""allm AS ($allm),
         |mm AS (SELECT sym, CAST(min(rnd) AS BIGINT) AS mrnd FROM allm GROUP BY 1),
         |vmap AS (SELECT replace(replace(seg, '(', ''), ')', '') AS w,
         |    string_split(seg[2:-2], ')(') AS syms FROM v$r),
         |t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |words AS (SELECT doc_id, CAST(i AS BIGINT) AS wp, toks[i] AS w
         |  FROM t, LATERAL (SELECT unnest(range(1, len(toks) + 1)) AS i)
         |  WHERE length(toks[i]) >= 1),
         |univ AS (SELECT DISTINCT sym FROM (SELECT unnest(syms) AS sym FROM vmap)
         |  UNION SELECT DISTINCT w AS sym FROM words WHERE length(w) = 1),
         |ids AS (SELECT sym, CAST(row_number() OVER (ORDER BY coalesce(mrnd, 0), sym) AS INT) AS token_id
         |  FROM univ LEFT JOIN mm USING (sym)),
         |enc AS (SELECT doc_id, wp, coalesce(v.syms, list_value(words.w)) AS syms
         |  FROM words LEFT JOIN vmap v USING (w)),
         |flat AS (SELECT doc_id, wp, CAST(j AS BIGINT) AS sp, syms[j] AS sym
         |  FROM enc, LATERAL (SELECT unnest(range(1, len(syms) + 1)) AS j))
         |SELECT doc_id,
         |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY wp, sp) AS BIGINT) AS pos,
         |  ids.token_id
         |FROM flat JOIN ids USING (sym)
         |ORDER BY doc_id, pos""".stripMargin
  }

  /** Streaming-encode oracle: [[bpeEncodeIdsOracle]]'s replay — full
    * training, the SAME full-corpus id table (univ/ids derive from ALL
    * words; the id table is a property of the frozen model, never of
    * the arriving slice) — with the encode target filtered to the
    * staged ingest slice and aggregated per document (token count +
    * position-weighted id checksum).
    */
  private val streamBpeEncodeOracle: String = {
    val r = bpeEncodeRounds
    val allm = (1 to r)
      .map(i => s"SELECT $i AS rnd, l || r AS sym FROM m$i")
      .mkString("\n  UNION ALL ")
    "WITH " + bpeTrainCtesFor(r) + ",\n" +
      s"""allm AS ($allm),
         |mm AS (SELECT sym, CAST(min(rnd) AS BIGINT) AS mrnd FROM allm GROUP BY 1),
         |vmap AS (SELECT replace(replace(seg, '(', ''), ')', '') AS w,
         |    string_split(seg[2:-2], ')(') AS syms FROM v$r),
         |ta AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |wordsAll AS (SELECT doc_id, CAST(i AS BIGINT) AS wp, toks[i] AS w
         |  FROM ta, LATERAL (SELECT unnest(range(1, len(toks) + 1)) AS i)
         |  WHERE length(toks[i]) >= 1),
         |univ AS (SELECT DISTINCT sym FROM (SELECT unnest(syms) AS sym FROM vmap)
         |  UNION SELECT DISTINCT w AS sym FROM wordsAll WHERE length(w) = 1),
         |ids AS (SELECT sym, CAST(row_number() OVER (ORDER BY coalesce(mrnd, 0), sym) AS INT) AS token_id
         |  FROM univ LEFT JOIN mm USING (sym)),
         |words AS (SELECT doc_id, wp, w FROM wordsAll
         |  WHERE doc_id % 10 = 1 AND doc_id < 10000 AND (doc_id // 10) % 2 = 1),
         |enc AS (SELECT doc_id, wp, coalesce(v.syms, list_value(words.w)) AS syms
         |  FROM words LEFT JOIN vmap v USING (w)),
         |flat AS (SELECT doc_id, wp, CAST(j AS BIGINT) AS sp, syms[j] AS sym
         |  FROM enc, LATERAL (SELECT unnest(range(1, len(syms) + 1)) AS j)),
         |pos AS (SELECT doc_id,
         |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY wp, sp) AS BIGINT) AS pos,
         |    ids.token_id
         |  FROM flat JOIN ids USING (sym))
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |  CAST(sum(pos * token_id) AS BIGINT) AS id_dot
         |FROM pos GROUP BY 1 ORDER BY doc_id""".stripMargin
  }

  /** Packing oracle on REAL sequence lengths: the replayed final
    * vocabulary gives each word's surviving symbol count; per-doc sums
    * are the encoded lengths packSequences lays out (same integer
    * window arithmetic as the `pack_sequences` oracle, budget 256).
    */
  private val bpePackIdsOracle: String = {
    val r = bpeEncodeRounds
    "WITH " + bpeTrainCtesFor(r) + ",\n" +
      s"""vmap AS (SELECT replace(replace(seg, '(', ''), ')', '') AS w,
         |    CAST(length(seg) - length(replace(seg, '(', '')) AS BIGINT) AS nt FROM v$r),
         |t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |words AS (SELECT doc_id, toks[i] AS w
         |  FROM t, LATERAL (SELECT unnest(range(1, len(toks) + 1)) AS i)
         |  WHERE length(toks[i]) >= 1),
         |cnt AS (SELECT doc_id, CAST(sum(coalesce(nt, 1)) AS BIGINT) AS n_tokens
         |  FROM words LEFT JOIN vmap USING (w) GROUP BY 1),
         |j AS (SELECT d.doc_id, d.source AS shard, c.n_tokens
         |  FROM documents d JOIN cnt c USING (doc_id)),
         |c2 AS (SELECT *, sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM j)
         |SELECT doc_id, shard, n_tokens,
         |  CAST((cum - n_tokens) // 256 AS BIGINT) AS pack_id,
         |  CAST((cum - n_tokens) % 256 AS BIGINT) AS pack_offset
         |FROM c2 ORDER BY doc_id""".stripMargin
  }

  /** The winnowing selection replayed: word-3-gram md5 stream per doc,
    * min over each 4-hash window of the encoded key `hash ∥ lpad(10¹² −
    * pos)` (ties to the rightmost position BY the key), window starts
    * only, distinct (hash, pos). Shared by both winnow oracles.
    */
  /** The governance chain's shared oracle CTE chain (normalize →
    * slice → exact dedup → excision → near-dup CC removal → winnow
    * MOSS removal → decontamination → quality columns) — ONE
    * definition feeding both the corpus_prep_full mixture readout and
    * the corpus_prep_attrition lineage readout (the dense-grid
    * single-definition determinism lesson applied to the chain).
    */
  private val corpusPrepCtes: String =
    """WITH RECURSIVE all0 AS (SELECT doc_id, lang,
        |    trim(regexp_replace(lower(regexp_replace(text, '(?i)https?://\S+', '', 'g')), '\s+', ' ', 'g')) AS norm
        |  FROM documents),
        |corp AS (SELECT * FROM all0 WHERE doc_id % 5 = 0 AND doc_id < 20000),
        |ev AS (SELECT norm FROM all0 WHERE doc_id % 10 = 7),
        |k AS (SELECT min(doc_id) AS keep_id FROM corp GROUP BY md5(norm)),
        |ex AS (SELECT * FROM corp WHERE doc_id IN (SELECT keep_id FROM k)),
        |t AS (SELECT doc_id, lang, string_split(norm, ' ') AS toks FROM ex),
        |occ AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, array_to_string(toks[i:i+14], ' ') AS gram
        |  FROM t, LATERAL (SELECT unnest(range(1, len(toks) - 13)) AS i) WHERE len(toks) >= 15),
        |w AS (SELECT doc_id, pos, count(*) OVER (PARTITION BY gram) AS tot,
        |    row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rk FROM occ),
        |drops AS (SELECT DISTINCT doc_id, pos + dd AS p FROM w,
        |  LATERAL (SELECT unnest(range(0, 15)) AS dd) WHERE tot > 1 AND rk > 1),
        |tok AS (SELECT doc_id, CAST(i AS BIGINT) AS p, toks[i] AS tok
        |  FROM t, LATERAL (SELECT unnest(range(1, len(toks) + 1)) AS i)),
        |kept AS (SELECT tok.doc_id, tok.p, tok.tok FROM tok
        |  ANTI JOIN drops ON tok.doc_id = drops.doc_id AND tok.p = drops.p),
        |exc AS (SELECT e.doc_id, e.lang, coalesce(re.txt, '') AS txt FROM ex e
        |  LEFT JOIN (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS txt
        |    FROM kept GROUP BY 1) re USING (doc_id)),
        |toks2 AS (SELECT doc_id, unnest(list_distinct(string_split(txt, ' '))) AS tk FROM exc),
        |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nt FROM toks2 GROUP BY 1),
        |prs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS shared
        |  FROM toks2 a JOIN toks2 b ON a.tk = b.tk AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |jac AS (SELECT id_a, id_b,
        |  floor((CAST(shared AS DOUBLE) / (sa.nt + sb.nt - shared)) * 10000 + 0.5) / 10000 AS jaccard
        |  FROM prs JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id),
        |near AS (SELECT id_a, id_b FROM jac WHERE jaccard >= 0.8),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM near UNION SELECT id_b, id_a FROM near),
        |reach(src, dst) AS (
        |  SELECT DISTINCT src, src FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        |victims AS (SELECT src AS doc_id FROM reach GROUP BY 1 HAVING src <> min(dst)),
        |nd AS (SELECT * FROM exc ANTI JOIN victims USING (doc_id)),
        |wt AS (SELECT doc_id, string_split(txt, ' ') AS t FROM nd),
        |wpos AS (SELECT doc_id, CAST(len(t) - 2 AS BIGINT) AS kk, t,
        |  unnest(range(1, len(t) - 1)) AS i FROM wt WHERE len(t) >= 3),
        |wg AS (SELECT doc_id, kk, CAST(i AS BIGINT) AS pos,
        |  md5(array_to_string(t[i:i+2], ' ')) AS h FROM wpos),
        |wkey AS (SELECT doc_id, kk, pos,
        |  h || lpad(CAST(1000000000000 - pos AS VARCHAR), 13, '0') AS key FROM wg),
        |wsel AS (SELECT doc_id, kk, pos, min(key) OVER (PARTITION BY doc_id
        |  ORDER BY pos ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS s FROM wkey),
        |wfp AS (SELECT DISTINCT doc_id, substr(s, 1, 32) AS fp_hash
        |  FROM wsel WHERE pos <= greatest(kk - 3, 1)),
        |wrare AS (SELECT fp_hash FROM (
        |    SELECT fp_hash, count(DISTINCT doc_id) AS df FROM wfp GROUP BY 1)
        |  WHERE df <= 50),
        |wkept AS (SELECT wfp.doc_id, wfp.fp_hash FROM wfp JOIN wrare USING (fp_hash)),
        |wvict AS (SELECT DISTINCT b.doc_id FROM wkept a JOIN wkept b
        |  ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id HAVING count(*) >= 1),
        |moss AS (SELECT * FROM nd ANTI JOIN wvict USING (doc_id)),
        |tt AS (SELECT doc_id, string_split(txt, ' ') AS st FROM moss),
        |tg AS (SELECT DISTINCT doc_id, array_to_string(st[i:i+7], ' ') AS g
        |  FROM tt, LATERAL (SELECT unnest(range(1, len(st) - 6)) AS i)),
        |eg AS (SELECT DISTINCT array_to_string(st[i:i+7], ' ') AS g
        |  FROM (SELECT string_split(norm, ' ') AS st FROM ev),
        |  LATERAL (SELECT unnest(range(1, len(st) - 6)) AS i)),
        |conta AS (SELECT DISTINCT tg.doc_id FROM tg JOIN eg USING (g)),
        |cl AS (SELECT * FROM moss ANTI JOIN conta USING (doc_id)),
        |q AS (SELECT doc_id, lang,
        |    CAST(len(string_split(txt, ' ')) AS BIGINT) AS n_tokens,
        |    floor((CAST(len(list_filter(string_split(txt, ' '), x -> list_contains(['the','a','and','of','to'], x))) AS DOUBLE)
        |      / greatest(len(string_split(txt, ' ')), 1)) * 10000 + 0.5) / 10000 AS stop_ratio,
        |    floor((CASE WHEN length(txt) = 0 THEN 0.0
        |      ELSE CAST(length(txt) - length(regexp_replace(txt, '[0-9]', '', 'g')) AS DOUBLE) / length(txt) END) * 10000 + 0.5) / 10000 AS digit_ratio
        |  FROM cl),
        |f AS (SELECT *, floor((least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.5
        |    + stop_ratio * 0.3 + (1.0 - digit_ratio) * 0.2) * 10000 + 0.5) / 10000 AS quality FROM q)""".stripMargin

  private val winnowFpCte: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |pos AS (SELECT doc_id, CAST(len(t) - 2 AS BIGINT) AS kk, t,
      |    unnest(range(1, len(t) - 1)) AS i FROM toks WHERE len(t) >= 3),
      |g AS (SELECT doc_id, kk, CAST(i AS BIGINT) AS pos,
      |    md5(array_to_string(t[i:i+2], ' ')) AS h FROM pos),
      |keyd AS (SELECT doc_id, kk, pos,
      |    h || lpad(CAST(1000000000000 - pos AS VARCHAR), 13, '0') AS key FROM g),
      |sel AS (SELECT doc_id, kk, pos, min(key) OVER (PARTITION BY doc_id
      |    ORDER BY pos ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS s FROM keyd),
      |fp AS (SELECT DISTINCT doc_id, substr(s, 1, 32) AS fp_hash,
      |    1000000000000 - CAST(substr(s, 33, 13) AS BIGINT) AS fp_pos
      |  FROM sel WHERE pos <= greatest(kk - 3, 1))""".stripMargin

  /** Full-corpus winnow pair replay with the over-common cut FROZEN to
    * the even half (the state-build corpus) — the engine's manifest +
    * blocklist + known-pairs union for both the batch-incremental and the
    * streaming loop: streaming == batch-incremental == full.
    */
  private val winnowIncrementalOracle: String = winnowFpCte +
    """,
      |fpd AS (SELECT DISTINCT doc_id, fp_hash FROM fp),
      |blk AS (SELECT fp_hash FROM (
      |    SELECT fp_hash, count(DISTINCT doc_id) AS df FROM fpd
      |    WHERE doc_id % 2 = 0 GROUP BY 1)
      |  WHERE df > 50),
      |kept AS (SELECT doc_id, fp_hash FROM fpd
      |  WHERE fp_hash NOT IN (SELECT fp_hash FROM blk))
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  CAST(count(*) AS BIGINT) AS shared_fp
      |FROM kept a JOIN kept b ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
      |GROUP BY 1, 2 HAVING count(*) >= 2 ORDER BY id_a, id_b""".stripMargin

  /** Pack-efficiency oracle: the SAME replayed layout as
    * [[bpePackIdsOracle]] (shared CTE chain through c2), aggregated per
    * shard — sequence count, tail padding, fill ratio, boundary-spanning
    * documents. A divergence in either the encode lengths or the packing
    * arithmetic flips the report hash.
    */
  private val bpePackReportOracle: String = {
    val r = bpeEncodeRounds
    "WITH " + bpeTrainCtesFor(r) + ",\n" +
      s"""vmap AS (SELECT replace(replace(seg, '(', ''), ')', '') AS w,
         |    CAST(length(seg) - length(replace(seg, '(', '')) AS BIGINT) AS nt FROM v$r),
         |t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |words AS (SELECT doc_id, toks[i] AS w
         |  FROM t, LATERAL (SELECT unnest(range(1, len(toks) + 1)) AS i)
         |  WHERE length(toks[i]) >= 1),
         |cnt AS (SELECT doc_id, CAST(sum(coalesce(nt, 1)) AS BIGINT) AS n_tokens
         |  FROM words LEFT JOIN vmap USING (w) GROUP BY 1),
         |j AS (SELECT d.doc_id, d.source AS shard, c.n_tokens
         |  FROM documents d JOIN cnt c USING (doc_id)),
         |c2 AS (SELECT *, sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM j),
         |agg AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |    CAST((sum(n_tokens) + 255) // 256 AS BIGINT) AS n_packs,
         |    CAST(sum(CASE WHEN (cum - n_tokens) % 256 + n_tokens > 256 THEN 1 ELSE 0 END) AS BIGINT) AS n_spanning
         |  FROM c2 GROUP BY 1)
         |SELECT shard, n_docs, n_tokens, n_packs, n_spanning,
         |  CAST(n_packs * 256 - n_tokens AS BIGINT) AS tail_waste,
         |  floor(CAST(n_tokens AS DOUBLE) / (n_packs * 256) * 10000 + 0.5) / 10000 AS fill_ratio
         |FROM agg ORDER BY shard""".stripMargin
  }

  /** The [[oracleSql nb_lang_classify]] dataflow with every feature
    * hashed into 64 md5 buckets before counting — the dsir_select
    * md5-fold idiom cast to VARCHAR, matching the engine's
    * `conv(substring(md5(w), 1, 8), 16, 10) % 64` bucket string
    * digit-for-digit.
    */
  private val nbHashedOracle: String = {
    val bucket = "CAST(list_reduce(list_transform(range(1, 9), " +
      "i -> (strpos('0123456789abcdef', substr(md5(w0), CAST(i AS INTEGER), 1)) - 1)::BIGINT), " +
      "(a, x) -> a * 16 + x) % 64 AS VARCHAR)"
    s"""WITH train AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 5 <> 1 AND lang IS NOT NULL),
       |test AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 5 = 1),
       |tt AS (SELECT l, $bucket AS w FROM (
       |    SELECT lang AS l, unnest(string_split(text, ' ')) AS w0 FROM train)),
       |cwc AS (SELECT l, w, CAST(count(*) AS BIGINT) AS c FROM tt GROUP BY 1, 2),
       |totc AS (SELECT l, CAST(sum(c) AS BIGINT) AS tot FROM cwc GROUP BY 1),
       |vv AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v FROM cwc),
       |pri AS (SELECT lang AS l, CAST(count(*) AS BIGINT) AS nd FROM train GROUP BY 1),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM train),
       |cls AS (SELECT pri.l,
       |    CAST(floor(ln(CAST(nd AS DOUBLE) / n) * 1000000 + 0.5) AS BIGINT) AS lprior,
       |    CAST(floor(ln(1.0 / (tot + v)) * 1000000 + 0.5) AS BIGINT) AS lp0,
       |    tot + v AS den
       |  FROM pri JOIN totc ON pri.l = totc.l CROSS JOIN nn CROSS JOIN vv),
       |model AS (SELECT cwc.l, cwc.w,
       |    CAST(floor(ln(CAST(c + 1 AS DOUBLE) / den) * 1000000 + 0.5) AS BIGINT) AS lp
       |  FROM cwc JOIN cls ON cwc.l = cls.l),
       |dt AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c FROM
       |    (SELECT doc_id, $bucket AS w FROM (
       |      SELECT doc_id, unnest(string_split(text, ' ')) AS w0 FROM test)) GROUP BY 1, 2),
       |sc AS (SELECT dt.doc_id, cls.l,
       |    CAST(min(cls.lprior) + sum(coalesce(model.lp, cls.lp0) * dt.c) AS BIGINT) AS score
       |  FROM dt CROSS JOIN cls LEFT JOIN model ON model.l = cls.l AND model.w = dt.w
       |  GROUP BY 1, 2),
       |best AS (SELECT doc_id, l, score,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, l) AS rk FROM sc)
       |SELECT t.doc_id, t.lang, b.l AS pred_lang,
       |  CAST(CASE WHEN t.lang = b.l THEN 1 ELSE 0 END AS BIGINT) AS is_correct,
       |  b.score AS score_micro
       |FROM test t JOIN best b ON t.doc_id = b.doc_id AND b.rk = 1
       |ORDER BY t.doc_id""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "weekly_agg_events" ->
      """SELECT date_trunc('week', ts) AS week, event_type AS dim,
        |  count(DISTINCT event_id) AS transactions,
        |  CASE WHEN count(__cents) = 0 THEN NULL ELSE floor((CAST(sum(__cents) AS DOUBLE) / 100.0 / count(__cents)) * 10000 + 0.5) / 10000 END AS price_mean,
        |  floor((quantile_cont(__cents, 0.5) / 100.0) * 10000 + 0.5) / 10000 AS price_median,
        |  floor((quantile_cont(__cents, 0.10) / 100.0) * 10000 + 0.5) / 10000 AS price_p10,
        |  floor((quantile_cont(__cents, 0.90) / 100.0) * 10000 + 0.5) / 10000 AS price_p90
        |FROM (SELECT *, CAST(floor(value * 100 + 0.5) AS BIGINT) AS __cents FROM events) e
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "weekly_agg_orders" -> weeklyAggOrdersOracle,
    // The SQL-entry variant shares the fluent variant's oracle verbatim:
    // one graded contract, two engine entry points.
    "weekly_agg_orders_sql" -> weeklyAggOrdersOracle,
    // Approx tier, fully checked: percentile_approx with accuracy >= group
    // size returns exactly the sorted element at 1-based rank ceil(q*n)
    // (probed empirically; rank formula is the sketch's exact-path query),
    // the mean is exact cents, and the HLL count is tolerance-gated.
    "weekly_agg_approx" ->
      """SELECT date_trunc('week', o_orderdate) AS week, o_orderpriority AS dim,
        |  count(DISTINCT o_orderkey) AS tx_exact,
        |  TRUE AS hll_ok,
        |  CASE WHEN count(__cents) = 0 THEN NULL ELSE floor((CAST(sum(__cents) AS DOUBLE) / 100.0 / count(__cents)) * 10000 + 0.5) / 10000 END AS price_mean,
        |  CASE WHEN count(__cents) = 0 THEN NULL ELSE floor((CAST(list_sort(list(__cents) FILTER (WHERE __cents IS NOT NULL))[GREATEST(1, CAST(ceil(0.50 * count(__cents)) AS BIGINT))] AS DOUBLE) / 100.0) * 10000 + 0.5) / 10000 END AS price_median,
        |  CASE WHEN count(__cents) = 0 THEN NULL ELSE floor((CAST(list_sort(list(__cents) FILTER (WHERE __cents IS NOT NULL))[GREATEST(1, CAST(ceil(0.10 * count(__cents)) AS BIGINT))] AS DOUBLE) / 100.0) * 10000 + 0.5) / 10000 END AS price_p10,
        |  CASE WHEN count(__cents) = 0 THEN NULL ELSE floor((CAST(list_sort(list(__cents) FILTER (WHERE __cents IS NOT NULL))[GREATEST(1, CAST(ceil(0.90 * count(__cents)) AS BIGINT))] AS DOUBLE) / 100.0) * 10000 + 0.5) / 10000 END AS price_p90
        |FROM (SELECT *, CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS __cents FROM orders) o
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "hll_rollup_orders" ->
      """SELECT o_orderpriority AS dim,
        |  count(DISTINCT o_custkey) AS cust_exact,
        |  TRUE AS merge_ok, TRUE AS hll_ok
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "theta_shingle_overlap" ->
      """WITH t AS (SELECT doc_id % 2 AS split, string_split(text, ' ') AS toks FROM documents),
        |g AS (SELECT DISTINCT split, array_to_string(list_slice(toks, i, i + 2), ' ') AS gram
        |      FROM t, LATERAL (SELECT unnest(range(1, len(toks) - 1)) AS i)
        |      WHERE len(toks) >= 3),
        |a AS (SELECT gram FROM g WHERE split = 0),
        |b AS (SELECT gram FROM g WHERE split = 1)
        |SELECT
        |  (SELECT count(*) FROM a JOIN b USING (gram)) AS inter_exact,
        |  (SELECT count(*) FROM (SELECT gram FROM a UNION SELECT gram FROM b)) AS union_exact,
        |  (SELECT count(*) FROM a ANTI JOIN b USING (gram)) AS diff_exact,
        |  TRUE AS inter_ok, TRUE AS union_ok, TRUE AS diff_ok""".stripMargin,
    "approx_topk_events" ->
      """SELECT item, est_count, rnk FROM (
        |  SELECT event_type AS item, count(*) AS est_count,
        |    CAST(row_number() OVER (ORDER BY count(*) DESC, event_type) AS BIGINT) AS rnk
        |  FROM events GROUP BY event_type)
        |WHERE rnk <= 10 ORDER BY rnk""".stripMargin,
    "kll_rollup_orders" ->
      """SELECT o_orderpriority AS dim, count(*) AS n_exact,
        |  list_sort(list(__cents))[GREATEST(1, CAST(ceil(0.5 * count(*)) AS BIGINT))] AS p50_cents,
        |  list_sort(list(__cents))[GREATEST(1, CAST(ceil(0.9 * count(*)) AS BIGINT))] AS p90_cents,
        |  TRUE AS n_match, TRUE AS p50_ok, TRUE AS p90_ok
        |FROM (SELECT *, CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS __cents FROM orders) o
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "upsert_latest" ->
      """WITH o AS (SELECT o_orderkey AS k, o_orderstatus AS st,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS pc FROM orders),
        |u AS (
        |  SELECT k, st, pc, NULL::BIGINT AS v, FALSE AS del FROM o WHERE k % 4 <> 0
        |  UNION ALL SELECT k, st, pc + 1000, 1, FALSE FROM o WHERE k % 2 = 0
        |  UNION ALL SELECT k, st, pc + 2000, 2, (k % 12 = 0) FROM o WHERE k % 6 = 0),
        |r AS (SELECT *, row_number() OVER (PARTITION BY k ORDER BY v DESC NULLS LAST) AS rn FROM u)
        |SELECT k AS o_orderkey, st AS o_orderstatus, pc AS price_cents
        |FROM r WHERE rn = 1 AND NOT del ORDER BY 1""".stripMargin,
    "scd2_history" ->
      """WITH s AS (SELECT o_custkey, o_orderdate AS ts, o_orderkey AS id, o_orderstatus AS st,
        |    lag(o_orderstatus) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
        |  FROM orders),
        |c AS (SELECT o_custkey, ts, id, st FROM s WHERE rn = 1 OR st IS DISTINCT FROM prev)
        |SELECT o_custkey, st AS o_orderstatus, id AS change_id, ts AS effective_from,
        |  lead(ts) OVER (PARTITION BY o_custkey ORDER BY ts, id) AS effective_to,
        |  (lead(ts) OVER (PARTITION BY o_custkey ORDER BY ts, id) IS NULL) AS is_current
        |FROM c ORDER BY o_custkey, effective_from, change_id""".stripMargin,
    // THE point of this oracle: it is the FULL recompute — no diff, no
    // splice — so the hash match proves the incremental path's output is
    // indistinguishable from recomputing everything.
    "selective_recompute" ->
      """SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS week,
        |  CAST(count(*) AS BIGINT) AS n,
        |  floor((CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0) * 10000 + 0.5) / 10000 AS total_price
        |FROM orders
        |WHERE NOT (o_orderkey % 11 = 0 AND year(o_orderdate) = 1996)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "snapshot_diff" ->
      """WITH o AS (SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1.0 ELSE o_totalprice END AS p,
        |    o_orderstatus AS st, o_orderpriority AS pr
        |  FROM orders WHERE o_orderkey % 7 <> 0),
        |n AS (SELECT o_orderkey, o_totalprice AS p, o_orderstatus AS st, o_orderpriority AS pr
        |  FROM orders WHERE o_orderkey % 11 <> 0),
        |j AS (SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
        |    o.o_orderkey IS NOT NULL AS in_o, n.o_orderkey IS NOT NULL AS in_n,
        |    (CASE WHEN o.p IS DISTINCT FROM n.p THEN 1 ELSE 0 END
        |     + CASE WHEN o.st IS DISTINCT FROM n.st THEN 1 ELSE 0 END
        |     + CASE WHEN o.pr IS DISTINCT FROM n.pr THEN 1 ELSE 0 END) AS nd
        |  FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey),
        |r AS (SELECT o_orderkey,
        |    CASE WHEN NOT in_o THEN 'added' WHEN NOT in_n THEN 'removed'
        |         WHEN nd > 0 THEN 'changed' ELSE 'unchanged' END AS status,
        |    CASE WHEN NOT in_o OR NOT in_n THEN NULL ELSE CAST(nd AS BIGINT) END AS n_diff_cols
        |  FROM j)
        |SELECT o_orderkey, status, n_diff_cols FROM r
        |WHERE status <> 'unchanged' ORDER BY o_orderkey""".stripMargin,
    // Decomposition replay: exact daily cents, 7-row window sums, the
    // same 7-scaled detrending and weekday partitions; every displayed
    // component is the identical IEEE expression, 4-dp floored.
    "mann_kendall_trend" ->
      """WITH s0 AS (SELECT date_trunc('week', o_orderdate) AS w,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS v
        |  FROM orders GROUP BY 1),
        |s AS (SELECT * FROM s0 WHERE w IS NOT NULL AND v IS NOT NULL),
        |p AS (SELECT CAST(coalesce(sum(CASE WHEN b.v > a.v THEN 1 WHEN b.v < a.v THEN -1 ELSE 0 END), 0) AS BIGINT) AS s_stat
        |  FROM s a JOIN s b ON a.w < b.w),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM s),
        |ti AS (SELECT CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT) AS tt
        |  FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM s GROUP BY v) WHERE t > 1),
        |e AS (SELECT nn.n, p.s_stat,
        |    CAST(nn.n * (nn.n - 1) * (2 * nn.n + 5) - ti.tt AS BIGINT) AS var18
        |  FROM p CROSS JOIN nn CROSS JOIN ti)
        |SELECT n, s_stat, var18,
        |  CASE WHEN var18 = 0 THEN NULL
        |       WHEN s_stat > 0 THEN floor(CAST(s_stat - 1 AS DOUBLE) / sqrt(CAST(var18 AS DOUBLE) / 18.0) * 10000 + 0.5) / 10000
        |       WHEN s_stat < 0 THEN floor(CAST(s_stat + 1 AS DOUBLE) / sqrt(CAST(var18 AS DOUBLE) / 18.0) * 10000 + 0.5) / 10000
        |       ELSE 0.0 END AS z
        |FROM e""".stripMargin,
    "acf_weekly" ->
      """WITH s0 AS (SELECT date_trunc('week', o_orderdate) AS w,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS x
        |  FROM orders GROUP BY 1),
        |s AS (SELECT * FROM s0 WHERE w IS NOT NULL AND x IS NOT NULL),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx FROM s),
        |y AS (SELECT row_number() OVER (ORDER BY w) AS rn,
        |    CAST(tot.n * s.x - tot.sx AS BIGINT) AS y FROM s CROSS JOIN tot),
        |de AS (SELECT CAST(sum(CAST(floor(CAST(y AS DOUBLE) * CAST(y AS DOUBLE) / 1000000000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS den FROM y),
        |l AS (SELECT CAST(b.rn - a.rn AS BIGINT) AS lag, CAST(count(*) AS BIGINT) AS n_pairs,
        |    CAST(sum(CAST(floor(CAST(a.y AS DOUBLE) * CAST(b.y AS DOUBLE) / 1000000000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS num
        |  FROM y a JOIN y b ON b.rn - a.rn BETWEEN 1 AND 6 GROUP BY 1)
        |SELECT lag, n_pairs,
        |  CASE WHEN de.den = 0 THEN NULL
        |       ELSE floor(CAST(num AS DOUBLE) / CAST(de.den AS DOUBLE) * 10000 + 0.5) / 10000 END AS acf
        |FROM l CROSS JOIN de ORDER BY lag""".stripMargin,
    // Theil–Sen replay: same dense-rank positions, same IEEE pairwise
    // slopes, same ⌈m/2⌉ / ⌈m/2⌉+1 median picks (odd counts collapse the
    // two ranks onto the middle).
    "theil_sen_trend" ->
      """WITH s0 AS (SELECT date_trunc('week', o_orderdate) AS w,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS v
        |  FROM orders GROUP BY 1),
        |s AS MATERIALIZED (SELECT row_number() OVER (ORDER BY w) AS x, v FROM s0
        |  WHERE w IS NOT NULL AND v IS NOT NULL),
        |p AS (SELECT a.x AS xa, b.x AS xb,
        |    CAST(b.v - a.v AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) AS sl
        |  FROM s a JOIN s b ON a.x < b.x),
        |pr AS (SELECT sl, row_number() OVER (ORDER BY sl, xa, xb) AS rn,
        |    count(*) OVER () AS cnt FROM p),
        |sm AS (SELECT CAST(max(cnt) AS BIGINT) AS n_pairs,
        |    max(CASE WHEN rn = ceil(CAST(cnt AS DOUBLE) / 2.0) THEN sl END) AS m1,
        |    max(CASE WHEN rn = ceil(CAST(cnt AS DOUBLE) / 2.0) + (1 - cnt % 2) THEN sl END) AS m2
        |  FROM pr),
        |sv AS (SELECT n_pairs, (m1 + m2) / 2.0 AS slope FROM sm),
        |res AS (SELECT s.x, CAST(s.v AS DOUBLE) - sv.slope * CAST(s.x AS DOUBLE) AS r FROM s, sv),
        |rr AS (SELECT r, row_number() OVER (ORDER BY r, x) AS rn,
        |    count(*) OVER () AS cnt FROM res),
        |im AS (SELECT max(CASE WHEN rn = ceil(CAST(cnt AS DOUBLE) / 2.0) THEN r END) AS m1,
        |    max(CASE WHEN rn = ceil(CAST(cnt AS DOUBLE) / 2.0) + (1 - cnt % 2) THEN r END) AS m2
        |  FROM rr),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM s)
        |SELECT n, n_pairs,
        |  floor(sv.slope * 10000 + 0.5) / 10000 AS slope,
        |  floor(((im.m1 + im.m2) / 2.0) * 10000 + 0.5) / 10000 AS intercept
        |FROM nn, sv, im""".stripMargin,
    // Binseg replay: same prefix sums, same fixed IEEE gain expression
    // per split, same (gain desc, t) argmax.
    "changepoint_binseg" ->
      """WITH s0 AS (SELECT date_trunc('week', o_orderdate) AS w,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS v
        |  FROM orders GROUP BY 1),
        |s AS (SELECT w, v, CAST(row_number() OVER (ORDER BY w) AS BIGINT) AS t
        |  FROM s0 WHERE w IS NOT NULL AND v IS NOT NULL),
        |c AS (SELECT w, t, CAST(sum(v) OVER (ORDER BY t) AS BIGINT) AS cum FROM s),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(v) AS BIGINT) AS st FROM s),
        |g AS (SELECT w, t, cum, n, st,
        |    CAST(cum AS DOUBLE) * CAST(cum AS DOUBLE) / CAST(t AS DOUBLE)
        |      + (CAST(st AS DOUBLE) - CAST(cum AS DOUBLE)) * (CAST(st AS DOUBLE) - CAST(cum AS DOUBLE)) / CAST(n - t AS DOUBLE)
        |      - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / CAST(n AS DOUBLE) AS gain
        |  FROM c, tot WHERE t < n),
        |r AS (SELECT *, row_number() OVER (ORDER BY gain DESC, t) AS rnk FROM g)
        |SELECT n, t AS t_split, w AS split_at,
        |  floor((gain / 1000000.0) * 10000 + 0.5) / 10000 AS gain_m,
        |  floor((CAST(cum AS DOUBLE) / CAST(t AS DOUBLE)) * 10000 + 0.5) / 10000 AS mean_left,
        |  floor((CAST(st - cum AS DOUBLE) / CAST(n - t AS DOUBLE)) * 10000 + 0.5) / 10000 AS mean_right
        |FROM r WHERE rnk = 1""".stripMargin,
    // Journey replay: same (ts, event_id) sequence tie-break, same
    // NULL-skipping concat_ws prefix, same (count desc, path) rank.
    "top_paths_events" ->
      """WITH e AS (SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_type IS NOT NULL),
        |p AS (SELECT user_id,
        |    max(CASE WHEN rn = 1 THEN event_type END) AS s1,
        |    max(CASE WHEN rn = 2 THEN event_type END) AS s2,
        |    max(CASE WHEN rn = 3 THEN event_type END) AS s3
        |  FROM e WHERE rn <= 3 GROUP BY 1),
        |c AS (SELECT concat_ws('>', s1, s2, s3) AS path, CAST(count(*) AS BIGINT) AS n_users FROM p GROUP BY 1),
        |r AS (SELECT path, n_users, CAST(row_number() OVER (ORDER BY n_users DESC, path) AS BIGINT) AS rnk FROM c)
        |SELECT rnk, path, n_users FROM r WHERE rnk <= 20 ORDER BY rnk""".stripMargin,
    // ABC replay: same (rev desc, key) curve, same integer boundary
    // comparisons.
    "abc_parts" ->
      """WITH r AS (SELECT l_partkey AS k,
        |    CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev
        |  FROM lineitem WHERE l_partkey IS NOT NULL AND l_extendedprice IS NOT NULL GROUP BY 1),
        |c AS (SELECT rev, CAST(sum(rev) OVER (ORDER BY rev DESC, k) AS BIGINT) - rev AS cb,
        |    CAST(sum(rev) OVER () AS BIGINT) AS tot FROM r),
        |cl AS (SELECT CASE WHEN cb * 5 < tot * 4 THEN 'A'
        |       WHEN cb * 20 < tot * 19 THEN 'B' ELSE 'C' END AS abc_class, rev, tot FROM c)
        |SELECT abc_class, CAST(count(*) AS BIGINT) AS n_keys,
        |  floor((CAST(sum(rev) AS DOUBLE) / 100.0) * 10000 + 0.5) / 10000 AS value_total,
        |  floor((CAST(sum(rev) AS DOUBLE) / CAST(max(tot) AS DOUBLE)) * 10000 + 0.5) / 10000 AS value_share
        |FROM cl GROUP BY 1 ORDER BY abc_class""".stripMargin,
    // Kendall replay: identical sign products (enumeration-free — pair
    // orientation cancels in the product), identical integer tie counts.
    "kendall_tau_weekly" ->
      """WITH s0 AS (SELECT date_trunc('week', o_orderdate) AS w,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS x,
        |    CAST(count(*) AS BIGINT) AS y
        |  FROM orders GROUP BY 1),
        |s AS MATERIALIZED (SELECT x, y FROM s0 WHERE x IS NOT NULL AND y IS NOT NULL),
        |r AS MATERIALIZED (SELECT x, y, row_number() OVER (ORDER BY x, y) AS rn FROM s),
        |p AS (SELECT (CASE WHEN b.x - a.x > 0 THEN 1 WHEN b.x - a.x < 0 THEN -1 ELSE 0 END) *
        |    (CASE WHEN b.y - a.y > 0 THEN 1 WHEN b.y - a.y < 0 THEN -1 ELSE 0 END) AS pr
        |  FROM r a JOIN r b ON a.rn < b.rn),
        |cd AS (SELECT CAST(coalesce(sum(CASE WHEN pr = 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS concordant,
        |    CAST(coalesce(sum(CASE WHEN pr = -1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS discordant FROM p),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM s),
        |tx AS (SELECT CAST(coalesce(sum(t * (t - 1)), 0) // 2 AS BIGINT) AS tx
        |  FROM (SELECT count(*) AS t FROM s GROUP BY x)),
        |ty AS (SELECT CAST(coalesce(sum(t * (t - 1)), 0) // 2 AS BIGINT) AS ty
        |  FROM (SELECT count(*) AS t FROM s GROUP BY y)),
        |n0 AS (SELECT (n * (n - 1)) // 2 AS n0, n FROM nn)
        |SELECT n, concordant, discordant,
        |  CASE WHEN n0 = tx OR n0 = ty THEN NULL
        |       ELSE floor((CAST(concordant - discordant AS DOUBLE) /
        |         sqrt(CAST(n0 - tx AS DOUBLE) * CAST(n0 - ty AS DOUBLE))) * 10000 + 0.5) / 10000 END AS tau_b
        |FROM cd, n0, tx, ty""".stripMargin,
    // Reconciliation replay: same per-line fixed IEEE amount, same
    // left-join orphan semantics, exact integer drift sums.
    "order_reconcile" ->
      """WITH h AS (SELECT o_orderkey AS k, CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS hv
        |  FROM orders WHERE o_orderkey IS NOT NULL AND o_totalprice IS NOT NULL),
        |d AS (SELECT l_orderkey AS k,
        |    CAST(sum(CAST(floor((l_extendedprice * (1 + l_tax) * (1 - l_discount)) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS dv
        |  FROM lineitem WHERE l_orderkey IS NOT NULL
        |    AND (l_extendedprice * (1 + l_tax) * (1 - l_discount)) IS NOT NULL
        |  GROUP BY 1),
        |j AS (SELECT hv, dv, abs(hv - dv) AS df FROM h LEFT JOIN d USING (k))
        |SELECT CAST(count(*) AS BIGINT) AS n_headers,
        |  CAST(sum(CASE WHEN dv IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_no_detail,
        |  CAST(sum(CASE WHEN dv IS NOT NULL AND df <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
        |  CAST(sum(CASE WHEN dv IS NOT NULL AND df > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatched,
        |  CAST(coalesce(max(df), 0) AS BIGINT) AS max_abs_diff_cents,
        |  CAST(coalesce(sum(df), 0) AS BIGINT) AS total_abs_diff_cents
        |FROM j""".stripMargin,
    // Burstiness replay: exact epoch-second gaps off the (user, type)
    // lag window with the same (ts, event_id) tie-break; exact long
    // (n, Σg, Σg²) per type; the same fixed IEEE μ/CV²/B at the end.
    // epoch_us//1000000 (integer floor-div) mirrors unix_timestamp's
    // floor-to-second exactly — a double epoch() would not.
    "interarrival_burstiness" ->
      """WITH e AS (SELECT event_type AS cls, user_id,
        |    epoch_us(ts) // 1000000 AS sec, ts, event_id
        |  FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL AND ts IS NOT NULL),
        |g0 AS (SELECT cls, sec - lag(sec) OVER (PARTITION BY user_id, cls ORDER BY ts, event_id) AS g FROM e),
        |a AS (SELECT cls, CAST(count(*) AS BIGINT) AS n_gaps,
        |    CAST(sum(g) AS BIGINT) AS sg, CAST(sum(g * g) AS BIGINT) AS sgg
        |  FROM g0 WHERE g IS NOT NULL GROUP BY 1),
        |v AS (SELECT cls, n_gaps, CAST(sg AS DOUBLE) AS sg,
        |    CAST(n_gaps AS DOUBLE) * CAST(sgg AS DOUBLE) - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE) AS varn
        |  FROM a)
        |SELECT cls, n_gaps,
        |  floor((sg / CAST(n_gaps AS DOUBLE)) * 10000 + 0.5) / 10000 AS mean_gap_s,
        |  CASE WHEN sg = 0 THEN NULL
        |       ELSE floor((varn / (sg * sg)) * 10000 + 0.5) / 10000 END AS cv2,
        |  CASE WHEN sg = 0 THEN NULL
        |       ELSE floor(((sqrt(varn) - sg) / (sqrt(varn) + sg)) * 10000 + 0.5) / 10000 END AS burstiness
        |FROM v ORDER BY cls""".stripMargin,
    "seasonal_decompose" ->
      """WITH d AS (SELECT o_orderdate AS day,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS y
        |  FROM orders WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL GROUP BY 1),
        |t AS (SELECT *,
        |    CAST(sum(y) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT) AS sum7,
        |    CAST(count(y) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT) AS cnt7
        |  FROM d),
        |t2 AS (SELECT *, CASE WHEN cnt7 = 7 THEN 7 * y - sum7 END AS det7,
        |    dayofweek(day) + 1 AS dw FROM t),
        |s AS (SELECT *, CAST(sum(det7) OVER (PARTITION BY dw) AS BIGINT) AS sn,
        |    CAST(count(det7) OVER (PARTITION BY dw) AS BIGINT) AS sc FROM t2)
        |SELECT day, y,
        |  CASE WHEN cnt7 = 7 THEN floor(CAST(sum7 AS DOUBLE) / 7.0 * 10000 + 0.5) / 10000 END AS trend,
        |  CASE WHEN sc > 0 THEN floor(CAST(sn AS DOUBLE) / (7.0 * CAST(sc AS DOUBLE)) * 10000 + 0.5) / 10000 END AS seasonal,
        |  CASE WHEN cnt7 = 7 AND sc > 0 THEN floor((CAST(y AS DOUBLE) - CAST(sum7 AS DOUBLE) / 7.0
        |    - CAST(sn AS DOUBLE) / (7.0 * CAST(sc AS DOUBLE))) * 10000 + 0.5) / 10000 END AS resid
        |FROM s ORDER BY day""".stripMargin,
    // Weekly KS replay: shifted self-join on the cents histogram, per-
    // week prefix sums, integer cross-product max, one final division.
    // Gini replay: identical doubled-rank histogram formula, one final
    // division.
    "gini_weekly" ->
      """WITH h AS (SELECT date_trunc('week', o_orderdate) AS g,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v, CAST(count(*) AS BIGINT) AS c
        |  FROM orders WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL GROUP BY 1, 2),
        |r AS (SELECT g, v, c, 2 * sum(c) OVER (PARTITION BY g ORDER BY v) - c + 1 AS r2 FROM h),
        |a AS (SELECT g, CAST(sum(c) AS BIGINT) AS n, CAST(sum(v * c) AS BIGINT) AS s,
        |    CAST(sum(r2 * v * c) AS BIGINT) AS num FROM r GROUP BY 1)
        |SELECT g AS week, n,
        |  CASE WHEN s = 0 THEN NULL
        |       ELSE floor((CAST(num - (n + 1) * s AS DOUBLE) / CAST(n * s AS DOUBLE)) * 10000 + 0.5) / 10000 END AS gini
        |FROM a ORDER BY week""".stripMargin,
    // Bridge replay: same shift-join, same fixed IEEE effects.
    "revenue_bridge" ->
      """WITH c AS (SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS period,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS s
        |  FROM orders WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL GROUP BY 1),
        |p AS (SELECT period + 7 AS period, n AS n_prev, s AS s_prev FROM c),
        |j AS (SELECT c.period, c.n, p.n_prev, c.s, p.s_prev FROM c JOIN p USING (period))
        |SELECT period, n, n_prev,
        |  floor((CAST(s - s_prev AS DOUBLE) / 100.0) * 10000 + 0.5) / 10000 AS d_rev,
        |  floor(((CAST(s AS DOUBLE) / CAST(n AS DOUBLE) - CAST(s_prev AS DOUBLE) / CAST(n_prev AS DOUBLE)) * CAST(n AS DOUBLE) / 100.0) * 10000 + 0.5) / 10000 AS price_effect,
        |  floor((CAST(n - n_prev AS DOUBLE) * (CAST(s_prev AS DOUBLE) / CAST(n_prev AS DOUBLE)) / 100.0) * 10000 + 0.5) / 10000 AS volume_effect
        |FROM j ORDER BY period""".stripMargin,
    // PSI replay: identical rank-⌈q·n⌉ decile edges, identical integer
    // binning, add-one smoothing, micro-quantized terms.
    "psi_drift_weekly" ->
      """WITH rows0 AS (SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS period,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v,
        |    o_orderdate < TIMESTAMP '1997-01-01' AS base
        |  FROM orders WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL),
        |bh AS (SELECT v, count(*) AS c FROM rows0 WHERE base GROUP BY 1),
        |bcum AS (SELECT v, sum(c) OVER (ORDER BY v) AS cum, sum(c) OVER () AS n FROM bh),
        |ed AS (SELECT min(CASE WHEN cum >= ceil(0.1 * n) THEN v END) AS p10,
        |    min(CASE WHEN cum >= ceil(0.2 * n) THEN v END) AS p20,
        |    min(CASE WHEN cum >= ceil(0.3 * n) THEN v END) AS p30,
        |    min(CASE WHEN cum >= ceil(0.4 * n) THEN v END) AS p40,
        |    min(CASE WHEN cum >= ceil(0.5 * n) THEN v END) AS p50,
        |    min(CASE WHEN cum >= ceil(0.6 * n) THEN v END) AS p60,
        |    min(CASE WHEN cum >= ceil(0.7 * n) THEN v END) AS p70,
        |    min(CASE WHEN cum >= ceil(0.8 * n) THEN v END) AS p80,
        |    min(CASE WHEN cum >= ceil(0.9 * n) THEN v END) AS p90
        |  FROM bcum),
        |b AS (SELECT period, base,
        |    (CASE WHEN v > ed.p10 THEN 1 ELSE 0 END + CASE WHEN v > ed.p20 THEN 1 ELSE 0 END
        |     + CASE WHEN v > ed.p30 THEN 1 ELSE 0 END + CASE WHEN v > ed.p40 THEN 1 ELSE 0 END
        |     + CASE WHEN v > ed.p50 THEN 1 ELSE 0 END + CASE WHEN v > ed.p60 THEN 1 ELSE 0 END
        |     + CASE WHEN v > ed.p70 THEN 1 ELSE 0 END + CASE WHEN v > ed.p80 THEN 1 ELSE 0 END
        |     + CASE WHEN v > ed.p90 THEN 1 ELSE 0 END) AS bin
        |  FROM rows0, ed),
        |cbase AS (SELECT bin, CAST(count(*) AS BIGINT) AS cb FROM b WHERE base GROUP BY 1),
        |nbase AS (SELECT CAST(coalesce(sum(cb), 0) AS BIGINT) AS nb FROM cbase),
        |ccur AS (SELECT period, bin, CAST(count(*) AS BIGINT) AS cc FROM b WHERE NOT base GROUP BY 1, 2),
        |pers AS (SELECT DISTINCT period FROM ccur),
        |g AS (SELECT p.period, bi.bin, coalesce(ccur.cc, 0) AS cc, coalesce(cbase.cb, 0) AS cb
        |  FROM pers p CROSS JOIN range(10) bi(bin)
        |  LEFT JOIN ccur ON ccur.period = p.period AND ccur.bin = bi.bin
        |  LEFT JOIN cbase ON cbase.bin = bi.bin),
        |w AS (SELECT *, CAST(sum(cc) OVER (PARTITION BY period) AS BIGINT) AS nw,
        |    (SELECT nb FROM nbase) AS nb FROM g),
        |t AS (SELECT period, nw,
        |    CAST(floor((CAST(cc + 1 AS DOUBLE) / CAST(nw + 10 AS DOUBLE)
        |        - CAST(cb + 1 AS DOUBLE) / CAST(nb + 10 AS DOUBLE))
        |      * ln(CAST((cc + 1) * (nb + 10) AS DOUBLE) / CAST((cb + 1) * (nw + 10) AS DOUBLE))
        |      * 1000000.0 + 0.5) AS BIGINT) AS tm
        |  FROM w)
        |SELECT period, CAST(max(nw) AS BIGINT) AS n, CAST(sum(tm) AS BIGINT) AS psi_micro,
        |  floor((CAST(sum(tm) AS DOUBLE) / 1000000.0) * 10000 + 0.5) / 10000 AS psi
        |FROM t GROUP BY 1 ORDER BY period""".stripMargin,
    "ks_drift_weekly" ->
      """WITH c AS (SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS period,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS s,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM orders WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
        |  GROUP BY 1, 2),
        |p AS (SELECT period + 7 AS period, s, c AS d FROM c),
        |j AS (SELECT coalesce(c.period, p.period) AS period, coalesce(c.s, p.s) AS s,
        |    coalesce(c.c, 0) AS c, coalesce(p.d, 0) AS d
        |  FROM c FULL OUTER JOIN p ON c.period = p.period AND c.s = p.s),
        |w AS (SELECT period,
        |    CAST(sum(c) OVER (PARTITION BY period ORDER BY s) AS BIGINT) AS cua,
        |    CAST(sum(d) OVER (PARTITION BY period ORDER BY s) AS BIGINT) AS cub,
        |    CAST(sum(c) OVER (PARTITION BY period) AS BIGINT) AS n,
        |    CAST(sum(d) OVER (PARTITION BY period) AS BIGINT) AS n_prev
        |  FROM j),
        |g AS (SELECT period, max(n) AS n, max(n_prev) AS n_prev,
        |    CAST(max(abs(cua * n_prev - cub * n)) AS BIGINT) AS d_num
        |  FROM w WHERE n > 0 AND n_prev > 0 GROUP BY 1)
        |SELECT period, CAST(n AS BIGINT) AS n, CAST(n_prev AS BIGINT) AS n_prev, d_num,
        |  floor(CAST(d_num AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n_prev AS DOUBLE)) * 10000 + 0.5) / 10000 AS d_stat
        |FROM g ORDER BY period""".stripMargin,
    // JSD replay with the engine's exact arithmetic: per-category
    // micro-unit terms (same ln-input expression shape), integer
    // doubled-JSD, 4-dp displayed jsd/entropy.
    "mixture_drift" ->
      """WITH src AS (
        |  SELECT 'events_type' AS series, CAST(date_trunc('week', ts) AS DATE) AS period, event_type AS cat
        |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
        |  UNION ALL
        |  SELECT 'orders_priority', CAST(date_trunc('week', o_orderdate) AS DATE), o_orderpriority
        |  FROM orders WHERE o_orderdate IS NOT NULL AND o_orderpriority IS NOT NULL),
        |c AS (SELECT series, period, cat, CAST(count(*) AS BIGINT) AS c FROM src GROUP BY 1, 2, 3),
        |p AS (SELECT series, period + 7 AS period, cat, c AS d FROM c),
        |j AS (SELECT coalesce(c.series, p.series) AS series, coalesce(c.period, p.period) AS period,
        |    coalesce(c.cat, p.cat) AS cat, coalesce(c.c, 0) AS c, coalesce(p.d, 0) AS d
        |  FROM c FULL OUTER JOIN p ON c.series = p.series AND c.period = p.period AND c.cat = p.cat),
        |t AS (SELECT *, sum(c) OVER (PARTITION BY series, period) AS n,
        |    sum(d) OVER (PARTITION BY series, period) AS n_prev FROM j),
        |g AS (SELECT *, CAST(c AS DOUBLE) / CAST(n AS DOUBLE) AS pp,
        |    CAST(d AS DOUBLE) / CAST(n_prev AS DOUBLE) AS qq
        |  FROM t WHERE n > 0 AND n_prev > 0),
        |e AS (SELECT series, period, n, n_prev,
        |    CASE WHEN c > 0 THEN CAST(floor(pp * ln(pp / ((pp + qq) / 2.0)) * 1000000.0 + 0.5) AS BIGINT) ELSE 0 END AS t1,
        |    CASE WHEN d > 0 THEN CAST(floor(qq * ln(qq / ((pp + qq) / 2.0)) * 1000000.0 + 0.5) AS BIGINT) ELSE 0 END AS t2,
        |    CASE WHEN c > 0 THEN CAST(floor(pp * ln(pp) * -1000000.0 + 0.5) AS BIGINT) ELSE 0 END AS h
        |  FROM g)
        |SELECT series, period, CAST(max(n) AS BIGINT) AS n, CAST(max(n_prev) AS BIGINT) AS n_prev,
        |  CAST(sum(t1 + t2) AS BIGINT) AS jsd2_micro,
        |  floor(CAST(sum(t1 + t2) AS DOUBLE) / 2000000.0 * 10000 + 0.5) / 10000 AS jsd,
        |  floor(CAST(sum(h) AS DOUBLE) / 1000000.0 * 10000 + 0.5) / 10000 AS entropy
        |FROM e GROUP BY 1, 2 ORDER BY series, period""".stripMargin,
    "chisq_drift_weekly" ->
      """WITH src AS (
        |  SELECT 'events_type' AS series, CAST(date_trunc('week', ts) AS DATE) AS period, event_type AS cat
        |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
        |  UNION ALL
        |  SELECT 'orders_priority', CAST(date_trunc('week', o_orderdate) AS DATE), o_orderpriority
        |  FROM orders WHERE o_orderdate IS NOT NULL AND o_orderpriority IS NOT NULL),
        |c AS (SELECT series, period, cat, CAST(count(*) AS BIGINT) AS c FROM src GROUP BY 1, 2, 3),
        |p AS (SELECT series, period + 7 AS period, cat, c AS d FROM c),
        |j AS (SELECT coalesce(c.series, p.series) AS series, coalesce(c.period, p.period) AS period,
        |    coalesce(c.cat, p.cat) AS cat, coalesce(c.c, 0) AS c, coalesce(p.d, 0) AS d
        |  FROM c FULL OUTER JOIN p ON c.series = p.series AND c.period = p.period AND c.cat = p.cat),
        |t AS (SELECT *, sum(c) OVER (PARTITION BY series, period) AS n,
        |    sum(d) OVER (PARTITION BY series, period) AS n_prev FROM j),
        |g AS (SELECT * FROM t WHERE n > 0 AND n_prev > 0),
        |e AS (SELECT series, period, n, n_prev,
        |    CAST(floor(CAST(c * n_prev - d * n AS DOUBLE) * CAST(c * n_prev - d * n AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * CAST(n_prev AS DOUBLE) * CAST(c + d AS DOUBLE))
        |      * 1000000.0 + 0.5) AS BIGINT) AS term
        |  FROM g)
        |SELECT series, period, CAST(max(n) AS BIGINT) AS n, CAST(max(n_prev) AS BIGINT) AS n_prev,
        |  CAST(count(*) - 1 AS BIGINT) AS dof,
        |  CAST(sum(term) AS BIGINT) AS chi2_micro,
        |  floor(CAST(sum(term) AS DOUBLE) / 1000000.0 * 10000 + 0.5) / 10000 AS chi2
        |FROM e GROUP BY 1, 2 ORDER BY series, period""".stripMargin,
    "corr_regression" ->
      """WITH c AS (SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS x,
        |    CAST(floor(l_extendedprice + 0.5) AS BIGINT) AS y FROM lineitem),
        |a AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
        |    CAST(sum(x * y) AS DOUBLE) AS sxy, CAST(sum(x * x) AS DOUBLE) AS sxx,
        |    CAST(sum(y * y) AS DOUBLE) AS syy
        |  FROM c GROUP BY 1),
        |e AS (SELECT g, n, sx, sy,
        |    CAST(n AS DOUBLE) * sxy - sx * sy AS covn,
        |    CAST(n AS DOUBLE) * sxx - sx * sx AS varxn,
        |    CAST(n AS DOUBLE) * syy - sy * sy AS varyn
        |  FROM a)
        |SELECT g AS l_returnflag, n,
        |  CASE WHEN n = 1 OR varxn <= 0 THEN NULL
        |       ELSE floor((covn / varxn) * 10000 + 0.5) / 10000 END AS slope,
        |  CASE WHEN n = 1 OR varxn <= 0 THEN NULL
        |       ELSE floor(((sy - (covn / varxn) * sx) / CAST(n AS DOUBLE)) * 10000 + 0.5) / 10000 END AS intercept,
        |  CASE WHEN n = 1 OR varxn <= 0 OR varyn <= 0 THEN NULL
        |       ELSE floor((covn / sqrt(varxn * varyn)) * 10000 + 0.5) / 10000 END AS pearson_r,
        |  CASE WHEN n = 1 OR varxn <= 0 OR varyn <= 0 THEN NULL
        |       ELSE floor((covn * covn / (varxn * varyn)) * 10000 + 0.5) / 10000 END AS r2
        |FROM e ORDER BY 1""".stripMargin,
    // Bootstrap replay: identical multiplicative-hash membership,
    // identical IEEE replicate means, identical ⌈q·cnt⌉ rank picks.
    "bootstrap_ci_weekly" ->
      """WITH base AS (SELECT date_trunc('week', o_orderdate) AS g, o_orderkey AS k,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v
        |  FROM orders WHERE o_orderdate IS NOT NULL AND o_orderkey IS NOT NULL AND o_totalprice IS NOT NULL),
        |m AS (SELECT g, b, CAST(count(*) AS BIGINT) AS n, CAST(sum(v) AS BIGINT) AS s
        |  FROM base, range(100) t(b)
        |  WHERE (((k * 100 + b) * 2654435761) % 4294967296 + 4294967296) % 4294967296 >= 2147483648 GROUP BY 1, 2),
        |r AS (SELECT g, b, CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mn,
        |    row_number() OVER (PARTITION BY g ORDER BY CAST(s AS DOUBLE) / CAST(n AS DOUBLE), b) AS rn,
        |    count(*) OVER (PARTITION BY g) AS cnt FROM m),
        |ci AS (SELECT g, CAST(max(cnt) AS BIGINT) AS n_reps,
        |    max(CASE WHEN rn = greatest(1, ceil(0.05 * cnt)) THEN mn END) AS lo,
        |    max(CASE WHEN rn = ceil(0.95 * cnt) THEN mn END) AS hi FROM r GROUP BY 1),
        |f AS (SELECT g, CAST(count(*) AS BIGINT) AS n, CAST(sum(v) AS BIGINT) AS s FROM base GROUP BY 1)
        |SELECT f.g AS week, f.n,
        |  floor((CAST(f.s AS DOUBLE) / CAST(f.n AS DOUBLE) / 100.0) * 10000 + 0.5) / 10000 AS mean,
        |  floor((ci.lo / 100.0) * 10000 + 0.5) / 10000 AS ci_lo,
        |  floor((ci.hi / 100.0) * 10000 + 0.5) / 10000 AS ci_hi,
        |  coalesce(ci.n_reps, 0) AS n_reps
        |FROM f LEFT JOIN ci USING (g) ORDER BY week""".stripMargin,
    // RFM replay: identical rank-⌈q·n⌉ thresholds off each metric's value
    // histogram prefix sum, identical `1 + Σ(v > p)` comparisons (ties at
    // a threshold share a bucket by construction), recency inverted.
    "rfm_segments" ->
      """WITH c AS (SELECT o_custkey AS cust, max(CAST(o_orderdate AS DATE)) AS last_d,
        |    CAST(count(*) AS BIGINT) AS frequency,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS monetary
        |  FROM orders WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
        |  GROUP BY 1),
        |a AS (SELECT max(last_d) AS anchor FROM c),
        |r AS MATERIALIZED (SELECT cust, CAST(date_diff('day', last_d, anchor) AS BIGINT) AS recency_d,
        |    frequency, monetary FROM c, a),
        |tr AS (SELECT min(CASE WHEN cum >= ceil(0.2 * n) THEN v END) AS p20,
        |    min(CASE WHEN cum >= ceil(0.4 * n) THEN v END) AS p40,
        |    min(CASE WHEN cum >= ceil(0.6 * n) THEN v END) AS p60,
        |    min(CASE WHEN cum >= ceil(0.8 * n) THEN v END) AS p80
        |  FROM (SELECT v, sum(cnt) OVER (ORDER BY v) AS cum, sum(cnt) OVER () AS n
        |    FROM (SELECT recency_d AS v, count(*) AS cnt FROM r GROUP BY 1))),
        |tf AS (SELECT min(CASE WHEN cum >= ceil(0.2 * n) THEN v END) AS p20,
        |    min(CASE WHEN cum >= ceil(0.4 * n) THEN v END) AS p40,
        |    min(CASE WHEN cum >= ceil(0.6 * n) THEN v END) AS p60,
        |    min(CASE WHEN cum >= ceil(0.8 * n) THEN v END) AS p80
        |  FROM (SELECT v, sum(cnt) OVER (ORDER BY v) AS cum, sum(cnt) OVER () AS n
        |    FROM (SELECT frequency AS v, count(*) AS cnt FROM r GROUP BY 1))),
        |tm AS (SELECT min(CASE WHEN cum >= ceil(0.2 * n) THEN v END) AS p20,
        |    min(CASE WHEN cum >= ceil(0.4 * n) THEN v END) AS p40,
        |    min(CASE WHEN cum >= ceil(0.6 * n) THEN v END) AS p60,
        |    min(CASE WHEN cum >= ceil(0.8 * n) THEN v END) AS p80
        |  FROM (SELECT v, sum(cnt) OVER (ORDER BY v) AS cum, sum(cnt) OVER () AS n
        |    FROM (SELECT monetary AS v, count(*) AS cnt FROM r GROUP BY 1))),
        |s AS (SELECT monetary,
        |    6 - (1 + CASE WHEN recency_d > tr.p20 THEN 1 ELSE 0 END
        |           + CASE WHEN recency_d > tr.p40 THEN 1 ELSE 0 END
        |           + CASE WHEN recency_d > tr.p60 THEN 1 ELSE 0 END
        |           + CASE WHEN recency_d > tr.p80 THEN 1 ELSE 0 END) AS r_score,
        |    1 + CASE WHEN frequency > tf.p20 THEN 1 ELSE 0 END
        |      + CASE WHEN frequency > tf.p40 THEN 1 ELSE 0 END
        |      + CASE WHEN frequency > tf.p60 THEN 1 ELSE 0 END
        |      + CASE WHEN frequency > tf.p80 THEN 1 ELSE 0 END AS f_score,
        |    1 + CASE WHEN monetary > tm.p20 THEN 1 ELSE 0 END
        |      + CASE WHEN monetary > tm.p40 THEN 1 ELSE 0 END
        |      + CASE WHEN monetary > tm.p60 THEN 1 ELSE 0 END
        |      + CASE WHEN monetary > tm.p80 THEN 1 ELSE 0 END AS m_score
        |  FROM r, tr, tf, tm)
        |SELECT CAST(r_score AS BIGINT) AS r_score, CAST(f_score AS BIGINT) AS f_score,
        |  CAST(m_score AS BIGINT) AS m_score, CAST(count(*) AS BIGINT) AS n_customers,
        |  floor((CAST(sum(monetary) AS DOUBLE) / 100.0) * 10000 + 0.5) / 10000 AS total_monetary
        |FROM s GROUP BY 1, 2, 3 ORDER BY r_score, f_score, m_score""".stripMargin,
    // Spearman replay: midranks off marginal prefix sums (exact integers),
    // one floor division onto the percentile grid, exact weighted power
    // sums over the joint histogram, one fixed IEEE rho at the end.
    "spearman_corr" ->
      """WITH v AS (SELECT CAST(l_quantity AS BIGINT) AS x,
        |    CAST(floor(l_extendedprice + 0.5) AS BIGINT) AS y
        |  FROM lineitem WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
        |j AS (SELECT x, y, CAST(count(*) AS BIGINT) AS c FROM v GROUP BY 1, 2),
        |nn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM j),
        |hx AS (SELECT x, CAST(sum(c) AS BIGINT) AS ck FROM j GROUP BY 1),
        |px AS (SELECT x, ((2 * sum(ck) OVER (ORDER BY x) - ck + 1) * 5000) // (SELECT n FROM nn) AS p FROM hx),
        |hy AS (SELECT y, CAST(sum(c) AS BIGINT) AS ck FROM j GROUP BY 1),
        |py AS (SELECT y, ((2 * sum(ck) OVER (ORDER BY y) - ck + 1) * 5000) // (SELECT n FROM nn) AS p FROM hy),
        |s AS (SELECT CAST(sum(c) AS BIGINT) AS n,
        |    CAST(sum(px.p * c) AS DOUBLE) AS sx, CAST(sum(py.p * c) AS DOUBLE) AS sy,
        |    CAST(sum(px.p * px.p * c) AS DOUBLE) AS sxx,
        |    CAST(sum(py.p * py.p * c) AS DOUBLE) AS syy,
        |    CAST(sum(px.p * py.p * c) AS DOUBLE) AS sxy
        |  FROM j JOIN px USING (x) JOIN py USING (y)),
        |e AS (SELECT n, CAST(n AS DOUBLE) * sxy - sx * sy AS covn,
        |    CAST(n AS DOUBLE) * sxx - sx * sx AS varxn,
        |    CAST(n AS DOUBLE) * syy - sy * sy AS varyn
        |  FROM s)
        |SELECT n, CASE WHEN varxn <= 0 OR varyn <= 0 THEN NULL
        |  ELSE floor((covn / sqrt(varxn * varyn)) * 10000 + 0.5) / 10000 END AS rho_s
        |FROM e""".stripMargin,
    "ab_welch" ->
      """WITH ec AS (SELECT event_type AS g, user_id % 2 = 0 AS va,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events),
        |lc AS (SELECT l_returnflag AS g, l_discount > 0.05 AS va,
        |    CAST(floor(l_extendedprice * l_discount * 100 + 0.5) AS BIGINT) AS cents FROM lineitem),
        |u AS (SELECT 'user_parity_aa' AS contrast, * FROM ec
        |  UNION ALL SELECT 'discount_control', * FROM lc),
        |a AS (SELECT contrast, g,
        |    CAST(count(*) FILTER (WHERE va AND cents IS NOT NULL) AS BIGINT) AS n_a,
        |    CAST(coalesce(sum(cents) FILTER (WHERE va), 0) AS BIGINT) AS sa,
        |    CAST(coalesce(sum(cents * cents) FILTER (WHERE va), 0) AS BIGINT) AS ssa,
        |    CAST(count(*) FILTER (WHERE NOT va AND cents IS NOT NULL) AS BIGINT) AS n_b,
        |    CAST(coalesce(sum(cents) FILTER (WHERE NOT va), 0) AS BIGINT) AS sb,
        |    CAST(coalesce(sum(cents * cents) FILTER (WHERE NOT va), 0) AS BIGINT) AS ssb
        |  FROM u GROUP BY 1, 2),
        |e AS (SELECT *, CAST(n_a AS DOUBLE) AS nad, CAST(n_b AS DOUBLE) AS nbd FROM a),
        |v AS (SELECT *,
        |    (nad * CAST(ssa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)) / (nad * (nad - 1.0)) AS vara,
        |    (nbd * CAST(ssb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)) / (nbd * (nbd - 1.0)) AS varb
        |  FROM e),
        |f AS (SELECT *, sqrt(vara / nad + varb / nbd) AS se,
        |    CAST(sa AS DOUBLE) / nad - CAST(sb AS DOUBLE) / nbd AS diff FROM v)
        |SELECT contrast, g, n_a, n_b,
        |  CASE WHEN n_a = 0 THEN NULL ELSE floor((CAST(sa AS DOUBLE) / nad / 100.0) * 10000 + 0.5) / 10000 END AS mean_a,
        |  CASE WHEN n_b = 0 THEN NULL ELSE floor((CAST(sb AS DOUBLE) / nbd / 100.0) * 10000 + 0.5) / 10000 END AS mean_b,
        |  CASE WHEN n_a < 2 OR n_b < 2 OR se <= 0 THEN NULL
        |       ELSE floor((diff / se) * 10000 + 0.5) / 10000 END AS t_stat,
        |  CASE WHEN n_a < 2 OR n_b < 2 OR se <= 0 THEN NULL
        |       ELSE abs(diff / se) > 1.96 END AS significant
        |FROM f ORDER BY contrast, g""".stripMargin,
    // Product-limit replay: same integer-ratio ln factors micro-summed
    // in duration order, same exhausted-risk-set flag, one exp display.
    "km_conversion" ->
      """WITH u AS (SELECT user_id, min(epoch_us(ts)) AS f,
        |    min(epoch_us(ts)) FILTER (WHERE event_type = 'purchase') AS p
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL GROUP BY 1),
        |d AS (SELECT CASE WHEN p IS NOT NULL AND (p - f) // 86400000000 <= 3
        |        THEN (p - f) // 86400000000 ELSE 3 END AS t,
        |      CAST(p IS NOT NULL AND (p - f) // 86400000000 <= 3 AS INT) AS ev FROM u),
        |a AS (SELECT t, CAST(count(*) AS BIGINT) AS n_at, CAST(sum(ev) AS BIGINT) AS d_ev FROM d GROUP BY 1),
        |r AS (SELECT *, CAST(sum(n_at) OVER (ORDER BY t DESC) AS BIGINT) AS n_risk FROM a),
        |k AS (SELECT *, CASE WHEN d_ev = 0 THEN 0 WHEN n_risk = d_ev THEN 0
        |        ELSE CAST(floor(ln(CAST(n_risk - d_ev AS DOUBLE) / CAST(n_risk AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) END AS term,
        |      CASE WHEN n_risk = d_ev AND d_ev > 0 THEN 1 ELSE 0 END AS dead FROM r),
        |c AS (SELECT *, CAST(sum(term) OVER (ORDER BY t) AS BIGINT) AS cum,
        |      max(dead) OVER (ORDER BY t) AS anydead FROM k)
        |SELECT t AS t_days, n_risk, d_ev AS events,
        |  CASE WHEN anydead = 1 THEN 0.0
        |       ELSE floor(exp(CAST(cum AS DOUBLE) / 1000000.0) * 10000 + 0.5) / 10000 END AS surv
        |FROM c WHERE d_ev > 0 ORDER BY t""".stripMargin,
    // Nelson–Aalen replay: same duration/risk-set table as km_conversion,
    // hazard increments as truncating integer division, exact long
    // cumulative sum, one exp display.
    "na_hazard" ->
      """WITH u AS (SELECT user_id, min(epoch_us(ts)) AS f,
        |    min(epoch_us(ts)) FILTER (WHERE event_type = 'purchase') AS p
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL GROUP BY 1),
        |d AS (SELECT CASE WHEN p IS NOT NULL AND (p - f) // 86400000000 <= 3
        |        THEN (p - f) // 86400000000 ELSE 3 END AS t,
        |      CAST(p IS NOT NULL AND (p - f) // 86400000000 <= 3 AS INT) AS ev FROM u),
        |a AS (SELECT t, CAST(count(*) AS BIGINT) AS n_at, CAST(sum(ev) AS BIGINT) AS d_ev FROM d GROUP BY 1),
        |r AS (SELECT *, CAST(sum(n_at) OVER (ORDER BY t DESC) AS BIGINT) AS n_risk FROM a),
        |k AS (SELECT *, CAST((d_ev * 1000000) // n_risk AS BIGINT) AS h_inc FROM r),
        |c AS (SELECT *, CAST(sum(h_inc) OVER (ORDER BY t) AS BIGINT) AS cum FROM k)
        |SELECT t AS t_days, n_risk, d_ev AS events, h_inc AS h_inc_micro,
        |  cum AS cum_hazard_micro,
        |  floor(exp(-CAST(cum AS DOUBLE) / 1000000.0) * 10000 + 0.5) / 10000 AS na_surv
        |FROM c WHERE d_ev > 0 ORDER BY t""".stripMargin,
    // Reliability-diagram replay: identical micro-score (capped cents
    // ×20), identical truncating integer bin/mean/rate arithmetic.
    "reliability_bins" ->
      """WITH s AS (SELECT least(CAST(floor(value * 100 + 0.5) AS BIGINT), 50000) * 20 AS sm,
        |    CAST(event_type = 'purchase' AS INT) AS y
        |  FROM events WHERE value IS NOT NULL),
        |b AS (SELECT least((sm * 10) // 1000000, 9) AS bin, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(y) AS BIGINT) AS pos, CAST(sum(sm) AS BIGINT) AS ssum
        |  FROM s GROUP BY 1)
        |SELECT bin, n, pos, CAST(ssum // n AS BIGINT) AS mean_pred_micro,
        |  CAST((pos * 1000000) // n AS BIGINT) AS frac_pos_micro,
        |  CAST(ssum // n - (pos * 1000000) // n AS BIGINT) AS gap_micro
        |FROM b ORDER BY bin""".stripMargin,
    // Wilson replay: identical expression order; z² written as the
    // product 1.96 * 1.96 (the exact double the engine computes), never
    // the decimal 3.8416 (which parses to a DIFFERENT double).
    "wilson_rates" ->
      """WITH a AS (SELECT date_trunc('week', ts) AS week, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(event_type = 'purchase' AS INT)) AS BIGINT) AS pos
        |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL GROUP BY 1),
        |e AS (SELECT week, n, pos,
        |    CAST(pos AS DOUBLE) / CAST(n AS DOUBLE) AS p,
        |    CAST(n AS DOUBLE) AS nd FROM a)
        |SELECT week, n, pos,
        |  floor(p * 10000 + 0.5) / 10000 AS rate,
        |  floor(((p + (1.96 * 1.96) / (2.0 * nd)) / (1.0 + (1.96 * 1.96) / nd)
        |    - (1.96 * sqrt(p * (1.0 - p) / nd + (1.96 * 1.96) / (4.0 * nd * nd))) / (1.0 + (1.96 * 1.96) / nd)) * 10000 + 0.5) / 10000 AS wilson_lo,
        |  floor(((p + (1.96 * 1.96) / (2.0 * nd)) / (1.0 + (1.96 * 1.96) / nd)
        |    + (1.96 * sqrt(p * (1.0 - p) / nd + (1.96 * 1.96) / (4.0 * nd * nd))) / (1.0 + (1.96 * 1.96) / nd)) * 10000 + 0.5) / 10000 AS wilson_hi
        |FROM e ORDER BY week""".stripMargin,
    // Murphy replay: same binning, exact micro² term sums, the direct
    // fact-scale Brier, four IEEE divisions in the same order.
    "brier_decomposition" ->
      """WITH s AS (SELECT least(CAST(floor(value * 100 + 0.5) AS BIGINT), 50000) * 20 AS sm,
        |    CAST(event_type = 'purchase' AS INT) AS y
        |  FROM events WHERE value IS NOT NULL),
        |b AS (SELECT least((sm * 10) // 1000000, 9) AS bin, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(y) AS BIGINT) AS pos, CAST(sum(sm) AS BIGINT) AS ssum
        |  FROM s GROUP BY 1),
        |g AS (SELECT n, CAST(ssum // n - (pos * 1000000) // n AS BIGINT) AS gap,
        |    CAST((pos * 1000000) // n AS BIGINT) AS fp FROM b),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS n, CAST(sum(pos) AS BIGINT) AS pos FROM b),
        |ob AS (SELECT CAST((pos * 1000000) // n AS BIGINT) AS obar FROM t),
        |terms AS (SELECT CAST(coalesce(sum(g.n * g.gap * g.gap), 0) AS BIGINT) AS rel2,
        |    CAST(coalesce(sum(g.n * (g.fp - ob.obar) * (g.fp - ob.obar)), 0) AS BIGINT) AS res2
        |  FROM g, ob),
        |d AS (SELECT CAST(coalesce(sum((sm - y * 1000000) * (sm - y * 1000000)), 0) AS BIGINT) AS b2 FROM s)
        |SELECT t.n, t.pos,
        |  floor(CAST(b2 AS DOUBLE) / 1e12 / CAST(t.n AS DOUBLE) * 10000 + 0.5) / 10000 AS brier,
        |  floor(CAST(rel2 AS DOUBLE) / 1e12 / CAST(t.n AS DOUBLE) * 10000 + 0.5) / 10000 AS reliability,
        |  floor(CAST(res2 AS DOUBLE) / 1e12 / CAST(t.n AS DOUBLE) * 10000 + 0.5) / 10000 AS resolution,
        |  floor(CAST(t.pos AS DOUBLE) * CAST(t.n - t.pos AS DOUBLE) / CAST(t.n * t.n AS DOUBLE) * 10000 + 0.5) / 10000 AS uncertainty
        |FROM t, terms, d""".stripMargin,
    // Attribution replay: same conversion instant (min purchase ts), same
    // strict-before touch set, same (ts, event_id) total order, same
    // integer micro-credit with the linear remainder on the last touch.
    "attribution_credit" ->
      """WITH b AS (SELECT user_id AS u, ts, event_type AS ch, event_id AS tie
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_type IS NOT NULL),
        |p AS (SELECT u, min(ts) AS pt FROM b WHERE ch = 'purchase' GROUP BY 1),
        |t AS (SELECT b.u, b.ch,
        |    CAST(row_number() OVER (PARTITION BY b.u ORDER BY b.ts, b.tie) AS BIGINT) AS rn,
        |    CAST(count(*) OVER (PARTITION BY b.u) AS BIGINT) AS n
        |  FROM b JOIN p ON b.u = p.u WHERE b.ch <> 'purchase' AND b.ts < p.pt),
        |c AS (SELECT ch AS channel,
        |    CASE WHEN rn = 1 THEN 1000000 ELSE 0 END AS ft,
        |    CASE WHEN rn = n THEN 1000000 ELSE 0 END AS lt,
        |    (1000000 // n) + CASE WHEN rn = n THEN 1000000 - (1000000 // n) * n ELSE 0 END AS lin,
        |    CASE WHEN n = 1 THEN 1000000 WHEN n = 2 THEN 500000
        |         WHEN rn = 1 OR rn = n THEN 400000
        |         ELSE (200000 // (n - 2)) + CASE WHEN rn = n - 1
        |           THEN 200000 - (200000 // (n - 2)) * (n - 2) ELSE 0 END
        |    END AS pos
        |  FROM t),
        |a AS (SELECT channel, CAST(count(*) AS BIGINT) AS touches,
        |    CAST(sum(ft) AS BIGINT) AS ft, CAST(sum(lt) AS BIGINT) AS lt,
        |    CAST(sum(lin) AS BIGINT) AS lin, CAST(sum(pos) AS BIGINT) AS pos FROM c GROUP BY 1)
        |SELECT model, channel, touches, credit_micro,
        |  floor(CAST(credit_micro AS DOUBLE) / 1000000.0 * 10000 + 0.5) / 10000 AS conversions
        |FROM (
        |  SELECT 'first_touch' AS model, channel, touches, ft AS credit_micro FROM a
        |  UNION ALL SELECT 'last_touch', channel, touches, lt FROM a
        |  UNION ALL SELECT 'linear', channel, touches, lin FROM a
        |  UNION ALL SELECT 'position', channel, touches, pos FROM a)
        |ORDER BY model, channel""".stripMargin,
    // Holt replay: the scaled-integer recurrence as a recursive CTE —
    // same truncating divisions, same two-point init, same h-step
    // extrapolation on the weekly date grid.
    "holt_forecast" ->
      """WITH RECURSIVE s AS (SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS ord,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS y
        |  FROM orders GROUP BY 1),
        |n AS (SELECT *, CAST(row_number() OVER (ORDER BY ord) AS BIGINT) AS rn FROM s),
        |r AS (
        |  SELECT CAST(1 AS BIGINT) AS rn, n1.y * 10 AS l, (n2.y - n1.y) * 10 AS b,
        |      CAST(NULL AS BIGINT) AS fitted
        |    FROM n n1, n n2 WHERE n1.rn = 1 AND n2.rn = 2
        |  UNION ALL
        |  SELECT rn, l, (3 * (l - lp) + 7 * bp) // 10 AS b, fitted FROM (
        |    SELECT n.rn, (5 * n.y * 10 + 5 * (r.l + r.b)) // 10 AS l,
        |        r.l AS lp, r.b AS bp, (r.l + r.b) // 10 AS fitted
        |    FROM r JOIN n ON n.rn = r.rn + 1)),
        |fin AS (SELECT r.l, r.b, n.ord FROM r JOIN n USING (rn)
        |  WHERE rn = (SELECT max(rn) FROM n))
        |SELECT n.ord, 'fit' AS kind, n.y, r.l AS level_den, r.b AS trend_den,
        |    r.fitted, CASE WHEN r.fitted IS NULL THEN NULL ELSE n.y - r.fitted END AS resid
        |  FROM r JOIN n USING (rn)
        |UNION ALL
        |SELECT fin.ord + CAST(7 * h.h AS INTEGER), 'forecast', NULL, fin.l, fin.b,
        |    (fin.l + h.h * fin.b) // 10, NULL
        |  FROM fin, (SELECT unnest(generate_series(1, 4)) AS h) h
        |ORDER BY ord, kind""".stripMargin,
    // Log-rank replay: same censored durations split by user-id parity,
    // same event-time risk join, the same fixed-order truncating micro
    // divisions for E and V, exact long sums, one IEEE z/chi2 each.
    "logrank_arms" ->
      """WITH u AS (SELECT user_id, CAST(user_id % 2 AS VARCHAR) AS a,
        |    min(epoch_us(ts)) AS f,
        |    min(epoch_us(ts)) FILTER (WHERE event_type = 'purchase') AS p
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL GROUP BY 1, 2),
        |dur AS (SELECT a, CASE WHEN p IS NOT NULL AND (p - f) // 86400000000 <= 3
        |      THEN (p - f) // 86400000000 ELSE 3 END AS t,
        |    CAST(p IS NOT NULL AND (p - f) // 86400000000 <= 3 AS INT) AS ev FROM u),
        |dt AS (SELECT a, t, CAST(count(*) AS BIGINT) AS n_at,
        |    CAST(sum(ev) AS BIGINT) AS d FROM dur GROUP BY 1, 2),
        |info AS (SELECT min(a) AS arm_a, max(a) AS arm_b,
        |    CAST(coalesce(sum(n_at) FILTER (WHERE a = (SELECT min(a) FROM dt)), 0) AS BIGINT) AS n_a,
        |    CAST(coalesce(sum(n_at) FILTER (WHERE a = (SELECT max(a) FROM dt)), 0) AS BIGINT) AS n_b
        |  FROM dt),
        |et AS (SELECT t FROM dt GROUP BY t HAVING sum(d) > 0),
        |risk AS (SELECT et.t AS te, dt.a, CAST(sum(dt.n_at) AS BIGINT) AS nr,
        |    CAST(sum(CASE WHEN dt.t = et.t THEN dt.d ELSE 0 END) AS BIGINT) AS da
        |  FROM dt JOIN et ON dt.t >= et.t GROUP BY 1, 2),
        |bt AS (SELECT te,
        |    CAST(coalesce(sum(nr) FILTER (WHERE a = (SELECT arm_a FROM info)), 0) AS BIGINT) AS n1,
        |    CAST(coalesce(sum(da) FILTER (WHERE a = (SELECT arm_a FROM info)), 0) AS BIGINT) AS d1,
        |    CAST(coalesce(sum(nr) FILTER (WHERE a = (SELECT arm_b FROM info)), 0) AS BIGINT) AS n2,
        |    CAST(coalesce(sum(da) FILTER (WHERE a = (SELECT arm_b FROM info)), 0) AS BIGINT) AS d2
        |  FROM risk GROUP BY 1),
        |terms AS (SELECT *, CAST(((d1 + d2) * n1 * 1000000) // (n1 + n2) AS BIGINT) AS e1,
        |    (((d1 + d2) * n1 * 1000000) // (n1 + n2) * n2) // (n1 + n2) AS b FROM bt),
        |terms2 AS (SELECT *, CASE WHEN n1 + n2 > 1
        |      THEN CAST((b * (n1 + n2 - d1 - d2)) // (n1 + n2 - 1) AS BIGINT)
        |      ELSE 0 END AS v1 FROM terms),
        |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_times,
        |    CAST(sum(d1) AS BIGINT) AS o_a, CAST(sum(e1) AS BIGINT) AS e_a_micro,
        |    CAST(sum(v1) AS BIGINT) AS v_micro FROM terms2)
        |SELECT info.arm_a, info.arm_b, info.n_a, info.n_b, agg.n_times,
        |  agg.o_a, agg.e_a_micro, agg.v_micro,
        |  CASE WHEN agg.v_micro = 0 THEN NULL
        |    ELSE floor((CAST(agg.o_a AS DOUBLE) - CAST(agg.e_a_micro AS DOUBLE) / 1000000.0)
        |      / sqrt(CAST(agg.v_micro AS DOUBLE) / 1000000.0) * 10000 + 0.5) / 10000 END AS z,
        |  CASE WHEN agg.v_micro = 0 THEN NULL
        |    ELSE floor(pow(CAST(agg.o_a AS DOUBLE) - CAST(agg.e_a_micro AS DOUBLE) / 1000000.0, 2)
        |      / (CAST(agg.v_micro AS DOUBLE) / 1000000.0) * 10000 + 0.5) / 10000 END AS chi2
        |FROM info, agg""".stripMargin,
    // Cohort-LTV replay: same first-week cohorts, purchase cents, cohort-
    // partitioned cumulative sum, truncating micro-cent per-user division.
    "cohort_ltv" ->
      """WITH b AS (SELECT user_id AS u, date_trunc('week', ts) AS w,
        |    CASE WHEN event_type = 'purchase'
        |      THEN coalesce(CAST(floor(value * 100 + 0.5) AS BIGINT), 0)
        |      ELSE 0 END AS r
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |c AS (SELECT *, min(w) OVER (PARTITION BY u) AS cw FROM b),
        |a AS (SELECT cw AS cohort_week,
        |    CAST(date_diff('day', cw, w) // 7 AS BIGINT) AS age_weeks,
        |    CAST(count(DISTINCT u) AS BIGINT) AS active,
        |    CAST(sum(r) AS BIGINT) AS rev_cents
        |  FROM c GROUP BY 1, 2),
        |s AS (SELECT cohort_week, active AS n_users FROM a WHERE age_weeks = 0),
        |k AS (SELECT a.cohort_week, a.age_weeks, s.n_users, a.active, a.rev_cents,
        |    CAST(sum(a.rev_cents) OVER (PARTITION BY a.cohort_week ORDER BY a.age_weeks) AS BIGINT) AS cum_rev_cents
        |  FROM a JOIN s USING (cohort_week))
        |SELECT cohort_week, age_weeks, n_users, active, rev_cents, cum_rev_cents,
        |  CAST((cum_rev_cents * 1000000) // n_users AS BIGINT) AS ltv_microcents
        |FROM k ORDER BY cohort_week, age_weeks""".stripMargin,
    // CCF replay: inner-join week alignment, the same centered integers
    // (n·x − Σx), the same single fixed-IEEE quantized product per pair,
    // full-series sum-of-squares normalization.
    "ccf_volume_revenue" ->
      """WITH x AS (SELECT date_trunc('week', ts) AS w, CAST(count(*) AS BIGINT) AS xv
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
        |y AS (SELECT date_trunc('week', ts) AS w,
        |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS yv
        |  FROM events WHERE ts IS NOT NULL AND event_type = 'purchase'
        |    AND value IS NOT NULL GROUP BY 1),
        |j AS (SELECT x.w, x.xv, y.yv FROM x JOIN y USING (w)),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(xv) AS BIGINT) AS sx,
        |    CAST(sum(yv) AS BIGINT) AS sy FROM j),
        |c AS (SELECT row_number() OVER (ORDER BY j.w) AS rn,
        |    tot.n * j.xv - tot.sx AS cx, tot.n * j.yv - tot.sy AS cy
        |  FROM j, tot),
        |den AS (SELECT
        |    CAST(coalesce(sum(CAST(floor(CAST(cx AS DOUBLE) * CAST(cx AS DOUBLE) / 1e12 + 0.5) AS BIGINT)), 0) AS BIGINT) AS dx,
        |    CAST(coalesce(sum(CAST(floor(CAST(cy AS DOUBLE) * CAST(cy AS DOUBLE) / 1e12 + 0.5) AS BIGINT)), 0) AS BIGINT) AS dy
        |  FROM c),
        |p AS (SELECT CAST(b.rn - a.rn AS BIGINT) AS lag, CAST(count(*) AS BIGINT) AS n_pairs,
        |    CAST(coalesce(sum(CAST(floor(CAST(a.cx AS DOUBLE) * CAST(b.cy AS DOUBLE) / 1e12 + 0.5) AS BIGINT)), 0) AS BIGINT) AS num
        |  FROM c a JOIN c b ON abs(b.rn - a.rn) <= 3 GROUP BY 1)
        |SELECT p.lag, p.n_pairs,
        |  CASE WHEN den.dx = 0 OR den.dy = 0 THEN NULL
        |    ELSE floor(CAST(p.num AS DOUBLE) / sqrt(CAST(den.dx AS DOUBLE) * CAST(den.dy AS DOUBLE)) * 10000 + 0.5) / 10000 END AS ccf
        |FROM p, den ORDER BY lag""".stripMargin,
    // Robust-means replay: same rank cuts (truncating basis-point
    // divisions), same exact long sums, same clamp boundary statistics.
    "robust_means" ->
      """WITH b AS (SELECT l_returnflag AS key,
        |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v
        |  FROM lineitem WHERE l_returnflag IS NOT NULL AND l_extendedprice IS NOT NULL),
        |r AS (SELECT key, v, CAST(row_number() OVER (PARTITION BY key ORDER BY v) AS BIGINT) AS rn,
        |    CAST(count(*) OVER (PARTITION BY key) AS BIGINT) AS n FROM b),
        |k AS (SELECT *, (n * 1000) // 10000 AS klo, (n * 1000) // 10000 AS khi FROM r),
        |a AS (SELECT key, max(n) AS n, CAST(max(klo) AS BIGINT) AS k_lo,
        |    CAST(max(khi) AS BIGINT) AS k_hi, CAST(sum(v) AS BIGINT) AS s,
        |    CAST(coalesce(sum(v) FILTER (WHERE rn > klo AND rn <= n - khi), 0) AS BIGINT) AS st,
        |    CAST(coalesce(count(*) FILTER (WHERE rn > klo AND rn <= n - khi), 0) AS BIGINT) AS ct,
        |    max(v) FILTER (WHERE rn = klo + 1) AS vlo,
        |    max(v) FILTER (WHERE rn = n - khi) AS vhi
        |  FROM k GROUP BY 1)
        |SELECT key, n, k_lo, k_hi,
        |  floor(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) * 10000 + 0.5) / 10000 AS mean,
        |  floor(CAST(st AS DOUBLE) / CAST(ct AS DOUBLE) * 10000 + 0.5) / 10000 AS trimmed_mean,
        |  floor(CAST(st + k_lo * vlo + k_hi * vhi AS DOUBLE) / CAST(n AS DOUBLE) * 10000 + 0.5) / 10000 AS winsor_mean
        |FROM a ORDER BY key""".stripMargin,
    // Log-odds replay: identical integer prior products inside each ln,
    // identical fixed-IEEE delta and z expressions.
    "log_odds_tokens" ->
      """WITH c AS (SELECT source AS s, unnest(string_split(text, ' ')) AS token
        |  FROM documents WHERE source IS NOT NULL),
        |cnt AS (SELECT s, token, CAST(count(*) AS BIGINT) AS c FROM c GROUP BY 1, 2),
        |bg AS (SELECT token, CAST(sum(c) AS BIGINT) AS bg,
        |    CAST(coalesce(sum(c) FILTER (WHERE s = 'src0'), 0) AS BIGINT) AS y_a,
        |    CAST(coalesce(sum(c) FILTER (WHERE s = 'src1'), 0) AS BIGINT) AS y_b
        |  FROM cnt GROUP BY 1),
        |tot AS (SELECT CAST(sum(bg) AS BIGINT) AS nbg, CAST(sum(y_a) AS BIGINT) AS na,
        |    CAST(sum(y_b) AS BIGINT) AS nb FROM bg),
        |m AS (SELECT token, y_a, y_b, bg.bg,
        |    y_a * 100 + bg.bg * 1 AS n1, na * 100 + nbg * 1 - (y_a * 100 + bg.bg * 1) AS d1,
        |    y_b * 100 + bg.bg * 1 AS n2, nb * 100 + nbg * 1 - (y_b * 100 + bg.bg * 1) AS d2
        |  FROM bg, tot WHERE y_a + y_b >= 5),
        |e AS (SELECT *, ln(CAST(n1 AS DOUBLE) / CAST(d1 AS DOUBLE))
        |      - ln(CAST(n2 AS DOUBLE) / CAST(d2 AS DOUBLE)) AS draw FROM m)
        |SELECT token, y_a, y_b, bg,
        |  floor(draw * 10000 + 0.5) / 10000 AS delta,
        |  floor(draw / sqrt(CAST(100 AS DOUBLE) / CAST(n1 AS DOUBLE)
        |    + CAST(100 AS DOUBLE) / CAST(n2 AS DOUBLE)) * 10000 + 0.5) / 10000 AS z
        |FROM e ORDER BY z DESC, token""".stripMargin,
    // nDCG replay: identical BM25 micro contributions (same IEEE constant
    // spellings as bm25_topk's oracle), identical doc-id tie orders,
    // identical per-position micro gain floors.
    "ndcg_bm25" ->
      """WITH qt(qid, term) AS (VALUES (1, 'spark'), (1, 'join'), (1, 'query'),
        |    (2, 'stream'), (2, 'window'), (2, 'merge'), (3, 'hash'), (3, 'scan')),
        |dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl FROM documents),
        |st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
        |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT qt.qid, toks.doc_id, toks.term, CAST(count(*) AS BIGINT) AS tf
        |  FROM toks JOIN qt ON toks.term = qt.term GROUP BY 1, 2, 3),
        |dfreq AS (SELECT qid, term, CAST(count(*) AS BIGINT) AS df_t FROM tf GROUP BY 1, 2),
        |contrib AS (SELECT tf.qid, tf.doc_id,
        |    CAST(floor((ln((n_docs - df_t + 0.5) / (df_t + 0.5) + 1)
        |      * (tf * (1.2 + 1)) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))) * 1000000 + 0.5) AS BIGINT) AS cu
        |  FROM tf JOIN dfreq USING (qid, term) JOIN dl USING (doc_id) CROSS JOIN st),
        |sc AS (SELECT qid, doc_id, CAST(sum(cu) AS BIGINT) AS su, CAST(count(*) AS BIGINT) AS rel
        |  FROM contrib GROUP BY 1, 2),
        |ds AS (SELECT qid, CAST(sum(CAST(floor(CAST(rel AS DOUBLE) / (ln(CAST(rk AS DOUBLE) + 1.0) / ln(2.0)) * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS dcg_micro
        |  FROM (SELECT qid, rel, CAST(row_number() OVER (PARTITION BY qid ORDER BY su DESC, doc_id) AS BIGINT) AS rk FROM sc)
        |  WHERE rk <= 10 GROUP BY 1),
        |ids AS (SELECT qid, CAST(sum(CAST(floor(CAST(rel AS DOUBLE) / (ln(CAST(rk AS DOUBLE) + 1.0) / ln(2.0)) * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS idcg_micro
        |  FROM (SELECT qid, rel, CAST(row_number() OVER (PARTITION BY qid ORDER BY rel DESC, doc_id) AS BIGINT) AS rk FROM sc)
        |  WHERE rk <= 10 GROUP BY 1),
        |nr AS (SELECT q.qid, CAST(count(sc.doc_id) AS BIGINT) AS n_rel
        |  FROM (SELECT DISTINCT qid FROM qt) q LEFT JOIN sc USING (qid) GROUP BY 1)
        |SELECT CAST(nr.qid AS BIGINT) AS qid, nr.n_rel,
        |  coalesce(ds.dcg_micro, 0) AS dcg_micro, coalesce(ids.idcg_micro, 0) AS idcg_micro,
        |  CASE WHEN coalesce(ids.idcg_micro, 0) = 0 THEN NULL
        |    ELSE floor(CAST(ds.dcg_micro AS DOUBLE) / CAST(ids.idcg_micro AS DOUBLE) * 10000 + 0.5) / 10000 END AS ndcg
        |FROM nr LEFT JOIN ds USING (qid) LEFT JOIN ids USING (qid)
        |ORDER BY qid""".stripMargin,
    // MRR/MAP replay: same BM25 CTEs as ndcg, conjunctive relevance
    // (rel = |q| terms), integer-exact reciprocal/precision terms via
    // (2·10⁶·c + i) // (2i), 4-dp displays at the very end.
    "retrieval_mrr_map" ->
      """WITH qt(qid, term) AS (VALUES (1, 'spark'), (1, 'join'),
        |    (2, 'stream'), (2, 'window'), (3, 'hash'), (3, 'scan')),
        |nt AS (SELECT qid, CAST(count(*) AS BIGINT) AS nt FROM qt GROUP BY 1),
        |dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl FROM documents),
        |st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
        |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT qt.qid, toks.doc_id, toks.term, CAST(count(*) AS BIGINT) AS tf
        |  FROM toks JOIN qt ON toks.term = qt.term GROUP BY 1, 2, 3),
        |dfreq AS (SELECT qid, term, CAST(count(*) AS BIGINT) AS df_t FROM tf GROUP BY 1, 2),
        |contrib AS (SELECT tf.qid, tf.doc_id,
        |    CAST(floor((ln((n_docs - df_t + 0.5) / (df_t + 0.5) + 1)
        |      * (tf * (1.2 + 1)) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))) * 1000000 + 0.5) AS BIGINT) AS cu
        |  FROM tf JOIN dfreq USING (qid, term) JOIN dl USING (doc_id) CROSS JOIN st),
        |sc AS (SELECT contrib.qid, doc_id, CAST(sum(cu) AS BIGINT) AS su,
        |    CAST(CAST(count(*) AS BIGINT) = max(nt.nt) AS BIGINT) AS isrel
        |  FROM contrib JOIN nt ON contrib.qid = nt.qid GROUP BY 1, 2),
        |tot AS (SELECT q.qid, CAST(coalesce(sum(sc.isrel), 0) AS BIGINT) AS n_rel
        |  FROM (SELECT DISTINCT qid FROM qt) q LEFT JOIN sc USING (qid) GROUP BY 1),
        |ranked AS (SELECT qid, isrel,
        |    CAST(row_number() OVER (PARTITION BY qid ORDER BY su DESC, doc_id) AS BIGINT) AS rk FROM sc),
        |top AS (SELECT qid, isrel, rk,
        |    CAST(sum(isrel) OVER (PARTITION BY qid ORDER BY rk) AS BIGINT) AS cum
        |  FROM ranked WHERE rk <= 10),
        |perq AS (SELECT qid, CAST(sum(isrel) AS BIGINT) AS hits_k,
        |    min(CASE WHEN isrel = 1 THEN rk END) AS first_rank,
        |    CAST(coalesce(sum(CASE WHEN isrel = 1 THEN (2000000 * cum + rk) // (2 * rk) END), 0) AS BIGINT) AS ap_micro
        |  FROM top GROUP BY 1),
        |fin AS (SELECT CAST(tot.qid AS BIGINT) AS qid, tot.n_rel,
        |    CAST(coalesce(perq.hits_k, 0) AS BIGINT) AS hits_k, perq.first_rank,
        |    CAST(coalesce((2000000 + perq.first_rank) // (2 * perq.first_rank), 0) AS BIGINT) AS rr_micro,
        |    CAST(coalesce(perq.ap_micro, 0) AS BIGINT) AS ap_micro
        |  FROM tot LEFT JOIN perq USING (qid))
        |SELECT qid, n_rel, hits_k, first_rank, rr_micro, ap_micro,
        |  CASE WHEN first_rank IS NULL THEN NULL
        |    ELSE floor(CAST(rr_micro AS DOUBLE) / 1000000 * 10000 + 0.5) / 10000 END AS rr,
        |  CASE WHEN n_rel = 0 THEN NULL
        |    ELSE floor(CAST(ap_micro AS DOUBLE) / (least(n_rel, 10) * 1000000.0) * 10000 + 0.5) / 10000 END AS ap
        |FROM fin ORDER BY qid""".stripMargin,
    // PMI replay: zipped parallel unnests over the sliced token list give
    // the adjacent bigrams; margins and total off the one bigram table;
    // ln of a single integer-product ratio, micro-floored.
    "pmi_collocations" ->
      """WITH t AS (SELECT string_split(text, ' ') AS l FROM documents
        |    WHERE len(string_split(text, ' ')) >= 2),
        |p AS (SELECT unnest(l[1:len(l) - 1]) AS tok_a, unnest(l[2:]) AS tok_b FROM t),
        |c AS MATERIALIZED (SELECT tok_a, tok_b, CAST(count(*) AS BIGINT) AS c_ab FROM p GROUP BY 1, 2),
        |n AS (SELECT CAST(sum(c_ab) AS BIGINT) AS n FROM c),
        |la AS (SELECT tok_a, CAST(sum(c_ab) AS BIGINT) AS c_a FROM c GROUP BY 1),
        |rb AS (SELECT tok_b, CAST(sum(c_ab) AS BIGINT) AS c_b FROM c GROUP BY 1),
        |s AS (SELECT c.tok_a, c.tok_b, c.c_ab, la.c_a, rb.c_b,
        |    CAST(floor(ln(CAST(c.c_ab * n.n AS DOUBLE) / CAST(la.c_a * rb.c_b AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS pmi_micro
        |  FROM c JOIN la USING (tok_a) JOIN rb USING (tok_b) CROSS JOIN n
        |  WHERE c.c_ab >= 5),
        |r AS (SELECT *, CAST(row_number() OVER (ORDER BY pmi_micro DESC, tok_a, tok_b) AS BIGINT) AS rk FROM s)
        |SELECT rk, tok_a, tok_b, c_ab, c_a, c_b, pmi_micro,
        |  floor(CAST(pmi_micro AS DOUBLE) / 1000000 * 10000 + 0.5) / 10000 AS pmi
        |FROM r WHERE rk <= 30 ORDER BY rk""".stripMargin,
    // Entropy replay: same (source, token) counts, same micro-quantized
    // c·ln c terms summed as exact longs, same two IEEE displays.
    "token_entropy_source" ->
      """WITH c AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c FROM (
        |    SELECT source, unnest(string_split(text, ' ')) AS tok
        |    FROM documents WHERE source IS NOT NULL) GROUP BY 1, 2),
        |a AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
        |    CAST(count(*) AS BIGINT) AS vocab,
        |    CAST(sum(CAST(floor(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS s_micro
        |  FROM c GROUP BY 1)
        |SELECT source, n_tokens, vocab,
        |  floor((ln(CAST(n_tokens AS DOUBLE)) - CAST(s_micro AS DOUBLE) / (CAST(n_tokens AS DOUBLE) * 1000000.0)) * 10000 + 0.5) / 10000 AS entropy,
        |  CASE WHEN vocab = 1 THEN NULL
        |    ELSE floor((ln(CAST(n_tokens AS DOUBLE)) - CAST(s_micro AS DOUBLE) / (CAST(n_tokens AS DOUBLE) * 1000000.0)) / ln(CAST(vocab AS DOUBLE)) * 10000 + 0.5) / 10000 END AS norm_entropy
        |FROM a ORDER BY source""".stripMargin,
    // BPE replay: corpus → (word, count) vocabulary, per-word adjacent
    // char pairs via substr over an index list, weighted counts.
    "bpe_merge_pairs" ->
      """WITH w AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM (
        |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE length(w) >= 2 GROUP BY 1),
        |p AS (SELECT unnest(list_transform(range(1, length(w)),
        |    i -> substr(w, CAST(i AS INTEGER), 2))) AS pair, c FROM w),
        |g AS (SELECT pair, CAST(count(*) AS BIGINT) AS n_forms,
        |    CAST(sum(c) AS BIGINT) AS n FROM p GROUP BY 1),
        |r AS (SELECT *, CAST(row_number() OVER (ORDER BY n DESC, pair) AS BIGINT) AS rk FROM g)
        |SELECT rk, pair, n_forms, n FROM r WHERE rk <= 30 ORDER BY rk""".stripMargin,
    // Full BPE training replay: the segmented vocabulary once, then 8
    // chained (pairs -> argmax -> replace) CTE rounds — greedy
    // left-to-right merge application is plain `replace` in both
    // engines thanks to the delimiter wrapping.
    "bpe_train_merges" -> bpeTrainOracle,
    // Training replay + the 8 merges applied to every word occurrence,
    // then per-source token/compression stats.
    "bpe_encode_stats" -> bpeEncodeOracle,
    "bpe_encode_ids" -> bpeEncodeIdsOracle,
    "stream_bpe_encode" -> streamBpeEncodeOracle,
    "bpe_pack_ids" -> bpePackIdsOracle,
    // Roundtrip contract: decode(encode(doc)) must equal the document's
    // delimiter-stripped text — the oracle grants TRUE only per nonempty
    // document, the engine has to earn it against the real source text
    // (and a dropped document fails the row count).
    "bpe_decode_roundtrip" ->
      """SELECT doc_id, TRUE AS roundtrip_ok FROM documents
        |WHERE length(replace(text, ' ', '')) > 0 ORDER BY doc_id""".stripMargin,
    "bpe_pack_report" -> bpePackReportOracle,
    // Funnel replay: the same cumulative gates, the dedup stage a
    // digest-distinct count within the band.
    "curation_funnel" ->
      """WITH f AS (SELECT CAST(count(*) AS BIGINT) AS raw,
        |    CAST(sum(CASE WHEN text IS NOT NULL AND length(text) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN text IS NOT NULL AND length(text) BETWEEN 100 AND 500 THEN 1 ELSE 0 END) AS BIGINT) AS n2
        |  FROM documents),
        |d AS (SELECT CAST(count(DISTINCT md5(text)) AS BIGINT) AS n3
        |  FROM documents WHERE text IS NOT NULL AND length(text) BETWEEN 100 AND 500),
        |st(stage_idx, stage) AS (VALUES (0, 'raw'), (1, 'nonempty'),
        |  (2, 'length_band'), (3, 'dedup_survivor'))
        |SELECT CAST(stage_idx AS BIGINT) AS stage_idx, stage,
        |  CAST(CASE stage_idx WHEN 0 THEN raw WHEN 1 THEN n1 WHEN 2 THEN n2 ELSE n3 END AS BIGINT) AS n_docs,
        |  CASE WHEN raw = 0 THEN NULL
        |    ELSE floor(CAST(CASE stage_idx WHEN 0 THEN raw WHEN 1 THEN n1 WHEN 2 THEN n2 ELSE n3 END AS DOUBLE)
        |      / CAST(raw AS DOUBLE) * 10000 + 0.5) / 10000 END AS pct_of_raw
        |FROM st, f, d ORDER BY stage_idx""".stripMargin,
    // Hard-negative replay: the eval tier's CTEs, ranked over the
    // non-relevant slice only.
    "hard_negatives" ->
      """WITH qt(qid, term) AS (VALUES (1, 'spark'), (1, 'join'),
        |    (2, 'stream'), (2, 'window'), (3, 'hash'), (3, 'scan')),
        |nt AS (SELECT qid, CAST(count(*) AS BIGINT) AS nt FROM qt GROUP BY 1),
        |dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl FROM documents),
        |st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
        |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT qt.qid, toks.doc_id, toks.term, CAST(count(*) AS BIGINT) AS tf
        |  FROM toks JOIN qt ON toks.term = qt.term GROUP BY 1, 2, 3),
        |dfreq AS (SELECT qid, term, CAST(count(*) AS BIGINT) AS df_t FROM tf GROUP BY 1, 2),
        |contrib AS (SELECT tf.qid, tf.doc_id,
        |    CAST(floor((ln((n_docs - df_t + 0.5) / (df_t + 0.5) + 1)
        |      * (tf * (1.2 + 1)) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))) * 1000000 + 0.5) AS BIGINT) AS cu
        |  FROM tf JOIN dfreq USING (qid, term) JOIN dl USING (doc_id) CROSS JOIN st),
        |sc AS (SELECT qid, doc_id, CAST(sum(cu) AS BIGINT) AS su, CAST(count(*) AS BIGINT) AS rel
        |  FROM contrib GROUP BY 1, 2)
        |SELECT CAST(qid AS BIGINT) AS qid, rk AS neg_rank, doc_id, rel, su AS score_micro FROM (
        |  SELECT s.qid, s.doc_id, s.rel, s.su,
        |      CAST(row_number() OVER (PARTITION BY s.qid ORDER BY s.su DESC, s.doc_id) AS BIGINT) AS rk
        |  FROM sc s JOIN nt ON s.qid = nt.qid WHERE s.rel < nt.nt)
        |WHERE rk <= 5 ORDER BY qid, neg_rank""".stripMargin,
    // PRF replay: same BM25 single-query CTEs, same top-10 cut, the
    // same f_tf·ln(N/df) micro scoring over non-query terms.
    "prf_expansion" ->
      """WITH qt(term) AS (VALUES ('spark'), ('join')),
        |dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl FROM documents),
        |st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
        |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT toks.doc_id, toks.term, CAST(count(*) AS BIGINT) AS tf
        |  FROM toks JOIN qt ON toks.term = qt.term GROUP BY 1, 2),
        |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df_t FROM tf GROUP BY 1),
        |contrib AS (SELECT tf.doc_id,
        |    CAST(floor((ln((n_docs - df_t + 0.5) / (df_t + 0.5) + 1)
        |      * (tf * (1.2 + 1)) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))) * 1000000 + 0.5) AS BIGINT) AS cu
        |  FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN st),
        |sc AS (SELECT doc_id, CAST(sum(cu) AS BIGINT) AS su FROM contrib GROUP BY 1),
        |top AS (SELECT doc_id FROM (
        |    SELECT doc_id, row_number() OVER (ORDER BY su DESC, doc_id) AS rk FROM sc)
        |  WHERE rk <= 10),
        |ft AS (SELECT t.term, CAST(count(*) AS BIGINT) AS f_tf,
        |    CAST(count(DISTINCT t.doc_id) AS BIGINT) AS f_df
        |  FROM toks t JOIN top ON t.doc_id = top.doc_id
        |  WHERE t.term NOT IN ('spark', 'join') GROUP BY 1),
        |cdf AS (SELECT toks.term, CAST(count(DISTINCT toks.doc_id) AS BIGINT) AS df_t
        |  FROM toks JOIN ft ON toks.term = ft.term GROUP BY 1),
        |nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        |r AS (SELECT ft.term, ft.f_tf, ft.f_df, cdf.df_t,
        |    CAST(floor(CAST(ft.f_tf AS DOUBLE) * ln(CAST(nd.n AS DOUBLE) / CAST(cdf.df_t AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS score_micro
        |  FROM ft JOIN cdf ON ft.term = cdf.term CROSS JOIN nd),
        |rr AS (SELECT *, CAST(row_number() OVER (ORDER BY score_micro DESC, term) AS BIGINT) AS rk FROM r)
        |SELECT rk, term, f_tf, f_df, df_t, score_micro,
        |  floor(CAST(score_micro AS DOUBLE) / 1000000 * 10000 + 0.5) / 10000 AS score
        |FROM rr WHERE rk <= 20 ORDER BY rk""".stripMargin,
    // DID replay: the same four exact (sum, n) cells, one IEEE DID.
    "did_orders" ->
      """WITH j AS (SELECT (c.c_mktsegment = 'BUILDING') AS t,
        |    (o.o_orderdate >= DATE '1998-01-01') AS p,
        |    CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  WHERE c.c_mktsegment IS NOT NULL AND o.o_orderdate IS NOT NULL
        |    AND o.o_totalprice IS NOT NULL),
        |cells AS (SELECT t, p, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(cents) AS BIGINT) AS s FROM j GROUP BY 1, 2),
        |a AS (SELECT
        |    CAST(coalesce(max(CASE WHEN t AND NOT p THEN n END), 0) AS BIGINT) AS n_tpre,
        |    max(CASE WHEN t AND NOT p THEN CAST(s AS DOUBLE) / n / 100.0 END) AS m_tpre,
        |    CAST(coalesce(max(CASE WHEN t AND p THEN n END), 0) AS BIGINT) AS n_tpost,
        |    max(CASE WHEN t AND p THEN CAST(s AS DOUBLE) / n / 100.0 END) AS m_tpost,
        |    CAST(coalesce(max(CASE WHEN NOT t AND NOT p THEN n END), 0) AS BIGINT) AS n_cpre,
        |    max(CASE WHEN NOT t AND NOT p THEN CAST(s AS DOUBLE) / n / 100.0 END) AS m_cpre,
        |    CAST(coalesce(max(CASE WHEN NOT t AND p THEN n END), 0) AS BIGINT) AS n_cpost,
        |    max(CASE WHEN NOT t AND p THEN CAST(s AS DOUBLE) / n / 100.0 END) AS m_cpost
        |  FROM cells)
        |SELECT n_tpre, floor(m_tpre * 10000 + 0.5) / 10000 AS mean_tpre,
        |  n_tpost, floor(m_tpost * 10000 + 0.5) / 10000 AS mean_tpost,
        |  n_cpre, floor(m_cpre * 10000 + 0.5) / 10000 AS mean_cpre,
        |  n_cpost, floor(m_cpost * 10000 + 0.5) / 10000 AS mean_cpost,
        |  floor(((m_tpost - m_tpre) - (m_cpost - m_cpre)) * 10000 + 0.5) / 10000 AS did
        |FROM a""".stripMargin,
    // CUPED replay: the same five exact sums, the same algebraic
    // var(y) - cov^2/var(x) — no adjusted-row pass on either engine.
    "cuped_orders" ->
      """WITH o AS (SELECT o_custkey AS u,
        |    CASE WHEN o_orderdate < DATE '1998-01-01' THEN CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) // 100 ELSE 0 END AS x,
        |    CASE WHEN o_orderdate >= DATE '1998-01-01' THEN CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) // 100 ELSE 0 END AS y
        |  FROM orders WHERE o_custkey IS NOT NULL),
        |pu AS (SELECT u, CAST(sum(x) AS BIGINT) AS x, CAST(sum(y) AS BIGINT) AS y FROM o GROUP BY 1),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n_units,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(y * y) AS BIGINT) AS syy FROM pu)
        |SELECT n_units,
        |  CASE WHEN CAST(sxx AS DOUBLE) / CAST(n_units AS DOUBLE) - (CAST(sx AS DOUBLE) / CAST(n_units AS DOUBLE)) * (CAST(sx AS DOUBLE) / CAST(n_units AS DOUBLE)) = 0.0 THEN NULL
        |    ELSE floor((CAST(sxy AS DOUBLE) / CAST(n_units AS DOUBLE) - (CAST(sx AS DOUBLE) / CAST(n_units AS DOUBLE)) * (CAST(sy AS DOUBLE) / CAST(n_units AS DOUBLE)))
        |      / (CAST(sxx AS DOUBLE) / CAST(n_units AS DOUBLE) - (CAST(sx AS DOUBLE) / CAST(n_units AS DOUBLE)) * (CAST(sx AS DOUBLE) / CAST(n_units AS DOUBLE))) * 10000 + 0.5) / 10000 END AS theta,
        |  floor((CAST(syy AS DOUBLE) / CAST(n_units AS DOUBLE) - (CAST(sy AS DOUBLE) / CAST(n_units AS DOUBLE)) * (CAST(sy AS DOUBLE) / CAST(n_units AS DOUBLE))) * 10000 + 0.5) / 10000 AS var_y,
        |  CASE WHEN CAST(sxx AS DOUBLE) / CAST(n_units AS DOUBLE) - (CAST(sx AS DOUBLE) / CAST(n_units AS DOUBLE)) * (CAST(sx AS DOUBLE) / CAST(n_units AS DOUBLE)) = 0.0 THEN NULL
        |    ELSE floor(((CAST(syy AS DOUBLE) / CAST(n_units AS DOUBLE) - (CAST(sy AS DOUBLE) / CAST(n_units AS DOUBLE)) * (CAST(sy AS DOUBLE) / CAST(n_units AS DOUBLE)))
        |      - (CAST(sxy AS DOUBLE) / CAST(n_units AS DOUBLE) - (CAST(sx AS DOUBLE) / CAST(n_units AS DOUBLE)) * (CAST(sy AS DOUBLE) / CAST(n_units AS DOUBLE)))
        |        * (CAST(sxy AS DOUBLE) / CAST(n_units AS DOUBLE) - (CAST(sx AS DOUBLE) / CAST(n_units AS DOUBLE)) * (CAST(sy AS DOUBLE) / CAST(n_units AS DOUBLE)))
        |      / (CAST(sxx AS DOUBLE) / CAST(n_units AS DOUBLE) - (CAST(sx AS DOUBLE) / CAST(n_units AS DOUBLE)) * (CAST(sx AS DOUBLE) / CAST(n_units AS DOUBLE)))) * 10000 + 0.5) / 10000 END AS var_adj,
        |  CASE WHEN CAST(sxx AS DOUBLE) / CAST(n_units AS DOUBLE) - (CAST(sx AS DOUBLE) / CAST(n_units AS DOUBLE)) * (CAST(sx AS DOUBLE) / CAST(n_units AS DOUBLE)) = 0.0
        |      OR CAST(syy AS DOUBLE) / CAST(n_units AS DOUBLE) - (CAST(sy AS DOUBLE) / CAST(n_units AS DOUBLE)) * (CAST(sy AS DOUBLE) / CAST(n_units AS DOUBLE)) = 0.0 THEN NULL
        |    ELSE floor((CAST(sxy AS DOUBLE) / CAST(n_units AS DOUBLE) - (CAST(sx AS DOUBLE) / CAST(n_units AS DOUBLE)) * (CAST(sy AS DOUBLE) / CAST(n_units AS DOUBLE)))
        |      * (CAST(sxy AS DOUBLE) / CAST(n_units AS DOUBLE) - (CAST(sx AS DOUBLE) / CAST(n_units AS DOUBLE)) * (CAST(sy AS DOUBLE) / CAST(n_units AS DOUBLE)))
        |      / ((CAST(sxx AS DOUBLE) / CAST(n_units AS DOUBLE) - (CAST(sx AS DOUBLE) / CAST(n_units AS DOUBLE)) * (CAST(sx AS DOUBLE) / CAST(n_units AS DOUBLE)))
        |        * (CAST(syy AS DOUBLE) / CAST(n_units AS DOUBLE) - (CAST(sy AS DOUBLE) / CAST(n_units AS DOUBLE)) * (CAST(sy AS DOUBLE) / CAST(n_units AS DOUBLE)))) * 10000 + 0.5) / 10000 END AS reduction
        |FROM s""".stripMargin,
    "holt_winters" -> holtWintersOracle,
    // Conformal replay: the holt recursion verbatim, |residual| order
    // statistic by integer rank, band as long adds on the forecasts.
    "conformal_interval" ->
      """WITH RECURSIVE s AS (SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS ord,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS y
        |  FROM orders GROUP BY 1),
        |n AS (SELECT *, CAST(row_number() OVER (ORDER BY ord) AS BIGINT) AS rn FROM s),
        |r AS (
        |  SELECT CAST(1 AS BIGINT) AS rn, n1.y * 10 AS l, (n2.y - n1.y) * 10 AS b,
        |      CAST(NULL AS BIGINT) AS fitted
        |    FROM n n1, n n2 WHERE n1.rn = 1 AND n2.rn = 2
        |  UNION ALL
        |  SELECT rn, l, (3 * (l - lp) + 7 * bp) // 10 AS b, fitted FROM (
        |    SELECT n.rn, (5 * n.y * 10 + 5 * (r.l + r.b)) // 10 AS l,
        |        r.l AS lp, r.b AS bp, (r.l + r.b) // 10 AS fitted
        |    FROM r JOIN n ON n.rn = r.rn + 1)),
        |fin AS (SELECT r.l, r.b, n.ord FROM r JOIN n USING (rn)
        |  WHERE rn = (SELECT max(rn) FROM n)),
        |res AS (SELECT abs(n.y - r.fitted) AS a FROM r JOIN n USING (rn)
        |  WHERE r.fitted IS NOT NULL),
        |nc AS (SELECT CAST(count(*) AS BIGINT) AS ncal FROM res),
        |kk AS (SELECT CASE WHEN ((ncal + 1) * 9000 + 9999) // 10000 > ncal
        |    THEN ncal ELSE ((ncal + 1) * 9000 + 9999) // 10000 END AS k, ncal FROM nc),
        |qv AS (SELECT a AS q FROM (
        |    SELECT a, CAST(row_number() OVER (ORDER BY a) AS BIGINT) AS rk FROM res) t,
        |  kk WHERE t.rk = kk.k)
        |SELECT fin.ord + CAST(7 * h.h AS INTEGER) AS ord,
        |  (fin.l + h.h * fin.b) // 10 AS fitted,
        |  (fin.l + h.h * fin.b) // 10 - qv.q AS lo,
        |  (fin.l + h.h * fin.b) // 10 + qv.q AS hi,
        |  qv.q AS q, kk.ncal AS n_cal
        |FROM fin, (SELECT unnest(generate_series(1, 4)) AS h) h, qv, kk
        |ORDER BY ord""".stripMargin,
    "connected_components" -> connectedComponentsOracle,
    "label_propagation" -> labelPropagationOracle,
    "community_modularity" -> communityModularityOracle,
    "random_walks" -> randomWalksOracle,
    "skipgram_pairs" -> skipgramPairsOracle,
    // ICT replay: same chunk grid, same md5 pick, same slice-and-join.
    "ict_pairs" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |c AS (SELECT doc_id, l, CAST(len(l) AS BIGINT) AS n,
        |    (CAST(len(l) AS BIGINT) + 9) // 10 AS nc FROM t),
        |f AS (SELECT doc_id, l, n, nc,
        |    (list_reduce(list_prepend(0::BIGINT, list_transform(range(1, 9),
        |      j -> (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), CAST(j AS INTEGER), 1)) - 1)::BIGINT)),
        |      (a, x) -> a * 16 + x) % nc) AS qi
        |  FROM c WHERE nc >= 2)
        |SELECT doc_id, nc AS n_chunks, CAST(qi AS BIGINT) AS q_idx,
        |  array_to_string(l[CAST(qi * 10 + 1 AS INTEGER) : CAST(least((qi + 1) * 10, n) AS INTEGER)], ' ') AS query,
        |  array_to_string(l[1 : CAST(qi * 10 AS INTEGER)] || l[CAST((qi + 1) * 10 + 1 AS INTEGER) : CAST(n AS INTEGER)], ' ') AS context
        |FROM f ORDER BY doc_id""".stripMargin,
    // The in-batch-negatives deal replayed: ICT eligibility (>= 2
    // chunks), md5 content-addressed order (row_number at oracle scale;
    // the engine's rank is the prefix sum), integer batch/slot.
    "contrastive_batches" ->
      """WITH e AS (SELECT doc_id,
        |    (CAST(len(string_split(text, ' ')) AS BIGINT) + 9) // 10 AS nc
        |  FROM documents),
        |el AS (SELECT doc_id FROM e WHERE nc >= 2),
        |r AS (SELECT doc_id, CAST(row_number() OVER (
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rk FROM el)
        |SELECT doc_id, CAST((rk - 1) // 64 AS BIGINT) AS batch_id,
        |  CAST((rk - 1) % 64 AS BIGINT) AS slot
        |FROM r ORDER BY doc_id""".stripMargin,
    // Negative-edge replay: ranks via row_number (oracle scale; the
    // engine's rank is the boundary-invariant prefix sum), the same
    // md5-hex draw (doc_fingerprint's fold idiom), the same anti-join.
    "negative_edges" -> (basketEdgesCte +
      """,
        |nodes AS (SELECT DISTINCT n FROM (SELECT u AS n FROM e0 UNION ALL SELECT v FROM e0)),
        |rk AS (SELECT n, CAST(row_number() OVER (ORDER BY n) AS BIGINT) AS r FROM nodes),
        |cnt AS (SELECT CAST(count(*) AS BIGINT) AS c FROM nodes),
        |draws AS (SELECT rk.n AS u, CAST(i.i AS BIGINT) AS draw FROM rk,
        |  (SELECT unnest(range(1, 3)) AS i) i),
        |h AS (SELECT u, draw,
        |    (list_reduce(list_prepend(0::BIGINT, list_transform(range(1, 9),
        |      j -> (strpos('0123456789abcdef', substr(md5(CAST(u AS VARCHAR) || '#' || CAST(draw AS VARCHAR)), CAST(j AS INTEGER), 1)) - 1)::BIGINT)),
        |      (a, x) -> a * 16 + x) % cnt.c) + 1 AS idx
        |  FROM draws, cnt),
        |cand AS (SELECT h.u, h.draw, rk.n AS v FROM h JOIN rk ON rk.r = h.idx
        |  WHERE h.u <> rk.n),
        |adj AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0)
        |SELECT u, draw, v FROM cand ANTI JOIN adj USING (u, v)
        |ORDER BY u, draw""".stripMargin),
    // EWMA replay: the scaled-integer recurrence as a recursive CTE,
    // HUGEINT-exact moments behind the same fixed-IEEE limits, breach
    // compared against the UNROUNDED limits exactly as the engine does.
    "ewma_control" ->
      """WITH RECURSIVE s AS (SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS ord,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS y
        |  FROM orders GROUP BY 1),
        |n AS (SELECT *, CAST(row_number() OVER (ORDER BY ord) AS BIGINT) AS rn FROM s),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS nn, CAST(sum(y) AS BIGINT) AS sy,
        |    sum(CAST(y AS HUGEINT) * y) AS sy2 FROM n),
        |lim AS (SELECT CAST(sy AS DOUBLE) / nn AS mu,
        |    sqrt(CAST(CAST(nn AS HUGEINT) * sy2 - CAST(sy AS HUGEINT) * sy AS DOUBLE)
        |      / (CAST(nn AS DOUBLE) * (nn - 1))) AS sigma FROM m),
        |r AS (SELECT rn, y, y * 10 AS z FROM n WHERE rn = 1
        |  UNION ALL
        |  SELECT n.rn, n.y, (2 * n.y * 10 + 8 * r.z) // 10 FROM r JOIN n ON n.rn = r.rn + 1)
        |SELECT n.ord, r.y, r.z AS ewma_den,
        |  floor(lim.mu * 10000 + 0.5) / 10000 AS center,
        |  floor((lim.mu - 3.0 * lim.sigma * sqrt(CAST(2 AS DOUBLE) / 18)) * 10000 + 0.5) / 10000 AS lcl,
        |  floor((lim.mu + 3.0 * lim.sigma * sqrt(CAST(2 AS DOUBLE) / 18)) * 10000 + 0.5) / 10000 AS ucl,
        |  (CAST(r.z AS DOUBLE) / 10 < lim.mu - 3.0 * lim.sigma * sqrt(CAST(2 AS DOUBLE) / 18)
        |   OR CAST(r.z AS DOUBLE) / 10 > lim.mu + 3.0 * lim.sigma * sqrt(CAST(2 AS DOUBLE) / 18)) AS breach
        |FROM r JOIN n USING (rn) CROSS JOIN lim ORDER BY n.ord""".stripMargin,
    // MI replay: integer joint histogram, window marginals, the same
    // integer-product ln argument and micro-unit terms as the engine.
    // DuckDB dayofweek is 0=Sunday where Spark's is 1=Sunday → +1.
    "mutual_information" ->
      """WITH src AS (
        |  SELECT 'event_type_x_weekday' AS contrast, event_type AS x,
        |      CAST(dayofweek(ts) + 1 AS VARCHAR) AS y FROM events
        |    WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |  UNION ALL
        |  SELECT 'priority_x_status', o_orderpriority, o_orderstatus FROM orders
        |    WHERE o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL
        |  UNION ALL
        |  SELECT 'lang_x_source', lang, source FROM documents
        |    WHERE lang IS NOT NULL AND source IS NOT NULL),
        |c AS (SELECT contrast, x, y, CAST(count(*) AS BIGINT) AS cxy
        |  FROM src GROUP BY 1, 2, 3),
        |t AS (SELECT *, sum(cxy) OVER (PARTITION BY contrast, x) AS cx,
        |    sum(cxy) OVER (PARTITION BY contrast, y) AS cy,
        |    sum(cxy) OVER (PARTITION BY contrast) AS n FROM c),
        |e AS (SELECT contrast, n,
        |    CAST(floor((CAST(cxy AS DOUBLE) / CAST(n AS DOUBLE))
        |      * ln(CAST(cxy * n AS DOUBLE) / CAST(cx * cy AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS mt,
        |    CAST(floor((CAST(cxy AS DOUBLE) / CAST(n AS DOUBLE))
        |      * ln(CAST(cxy AS DOUBLE) / CAST(n AS DOUBLE)) * -1000000.0 + 0.5) AS BIGINT) AS ht
        |  FROM t)
        |SELECT contrast, CAST(max(n) AS BIGINT) AS n,
        |  CAST(sum(mt) AS BIGINT) AS mi_micro,
        |  floor(CAST(sum(mt) AS DOUBLE) / 1000000.0 * 10000 + 0.5) / 10000 AS mi,
        |  floor(CAST(sum(ht) AS DOUBLE) / 1000000.0 * 10000 + 0.5) / 10000 AS h_joint
        |FROM e GROUP BY contrast ORDER BY contrast""".stripMargin,
    // KS replay: merged histogram, prefix sums, integer cross-product
    // max — the one division happens at the end on both engines.
    "ks_test" ->
      """WITH src AS (
        |  SELECT 'purchase_vs_click_value' AS contrast,
        |      CAST(floor(value * 100 + 0.5) AS BIGINT) AS s, event_type = 'purchase' AS lbl
        |    FROM events WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL
        |  UNION ALL
        |  SELECT 'english_vs_rest_length', n_chars, lang = 'en' FROM documents
        |    WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
        |h AS (SELECT contrast, s,
        |    CAST(count(*) FILTER (WHERE lbl) AS BIGINT) AS ca,
        |    CAST(count(*) FILTER (WHERE NOT lbl) AS BIGINT) AS cb
        |  FROM src GROUP BY 1, 2),
        |c AS (SELECT contrast,
        |    CAST(sum(ca) OVER (PARTITION BY contrast ORDER BY s) AS BIGINT) AS cua,
        |    CAST(sum(cb) OVER (PARTITION BY contrast ORDER BY s) AS BIGINT) AS cub
        |  FROM h),
        |n AS (SELECT contrast, CAST(max(cua) AS BIGINT) AS n_a, CAST(max(cub) AS BIGINT) AS n_b
        |  FROM c GROUP BY 1)
        |SELECT c.contrast, n_a, n_b,
        |  CAST(max(abs(cua * n_b - cub * n_a)) AS BIGINT) AS d_num,
        |  CASE WHEN n_a = 0 OR n_b = 0 THEN NULL
        |       ELSE floor(CAST(max(abs(cua * n_b - cub * n_a)) AS DOUBLE)
        |         / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) * 10000 + 0.5) / 10000 END AS d_stat
        |FROM c JOIN n ON c.contrast = n.contrast
        |GROUP BY c.contrast, n_a, n_b ORDER BY c.contrast""".stripMargin,
    // Histogram-first AUC replay: the (score → pos, neg) histogram, the
    // cumulative-negatives window over it, and the doubled-U long fold —
    // identical integer arithmetic to the engine; the one double division
    // is the same fixed expression, 4-dp floored.
    "auc_scores" ->
      """WITH ev AS (SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS s,
        |    event_type = 'purchase' AS lbl FROM events
        |  WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL),
        |dc AS (SELECT n_chars AS s, lang = 'en' AS lbl FROM documents
        |  WHERE n_chars IS NOT NULL AND lang IS NOT NULL),
        |u AS (SELECT 'purchase_vs_click_value' AS contrast, * FROM ev
        |  UNION ALL SELECT 'english_vs_rest_length', * FROM dc),
        |h AS (SELECT contrast, s,
        |    CAST(count(*) FILTER (WHERE lbl) AS BIGINT) AS pos,
        |    CAST(count(*) FILTER (WHERE NOT lbl) AS BIGINT) AS neg
        |  FROM u GROUP BY 1, 2),
        |c AS (SELECT *, sum(neg) OVER (PARTITION BY contrast ORDER BY s) AS cum FROM h)
        |SELECT contrast,
        |  CAST(coalesce(sum(pos * (2 * (cum - neg) + neg)), 0) AS BIGINT) AS u2,
        |  CAST(coalesce(sum(pos), 0) AS BIGINT) AS n_pos,
        |  CAST(coalesce(sum(neg), 0) AS BIGINT) AS n_neg,
        |  CASE WHEN sum(pos) = 0 OR sum(neg) = 0 THEN NULL
        |       ELSE floor(CAST(sum(pos * (2 * (cum - neg) + neg)) AS DOUBLE)
        |            / (2.0 * sum(pos) * sum(neg)) * 10000 + 0.5) / 10000 END AS auc
        |FROM c GROUP BY contrast ORDER BY contrast""".stripMargin,
    // Unrolled replay of the 5-step greedy: sel1 = pure-relevance argmax,
    // each later pick anti-joins the selection, attaches the max
    // similarity INTO it, and takes the (score desc, cid) argmax — all
    // over 4-dp-quantized integer scores, so the trace is exact.
    "mmr_rerank" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id < 5),
        |scored AS (SELECT qid, e.vec_id AS cid,
        |    CAST(floor(list_cosine_similarity(qe, CAST(e.embedding AS DOUBLE[])) * 10000 + 0.5) AS BIGINT) AS rel_q
        |  FROM q, embeddings e WHERE e.vec_id <> qid),
        |cand AS (SELECT qid, cid, rel_q FROM (
        |    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY rel_q DESC, cid) AS rn FROM scored)
        |  WHERE rn <= 10),
        |sims AS (SELECT a.qid, a.cid AS ca, b.cid AS cb,
        |    CAST(floor(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]), CAST(eb.embedding AS DOUBLE[])) * 10000 + 0.5) AS BIGINT) AS sim_q
        |  FROM cand a JOIN cand b ON a.qid = b.qid AND a.cid <> b.cid
        |  JOIN embeddings ea ON ea.vec_id = a.cid JOIN embeddings eb ON eb.vec_id = b.cid),
        |sel1 AS (SELECT qid, cid, rel_q, CAST(1 AS BIGINT) AS mmr_rank FROM (
        |    SELECT qid, cid, rel_q, row_number() OVER (PARTITION BY qid ORDER BY rel_q DESC, cid) AS rn FROM cand)
        |  WHERE rn = 1),
        |pick2 AS (SELECT qid, cid, rel_q, CAST(2 AS BIGINT) AS mmr_rank FROM (
        |    SELECT c.qid, c.cid, c.rel_q,
        |      row_number() OVER (PARTITION BY c.qid ORDER BY c.rel_q - coalesce(m.sm, 0) DESC, c.cid) AS rn
        |    FROM cand c
        |    LEFT JOIN (SELECT s.qid, p.ca AS cid, max(p.sim_q) AS sm
        |               FROM sel1 s JOIN sims p ON p.qid = s.qid AND p.cb = s.cid
        |               GROUP BY 1, 2) m ON m.qid = c.qid AND m.cid = c.cid
        |    WHERE NOT EXISTS (SELECT 1 FROM sel1 s WHERE s.qid = c.qid AND s.cid = c.cid))
        |  WHERE rn = 1),
        |sel2 AS (SELECT * FROM sel1 UNION ALL SELECT * FROM pick2),
        |pick3 AS (SELECT qid, cid, rel_q, CAST(3 AS BIGINT) AS mmr_rank FROM (
        |    SELECT c.qid, c.cid, c.rel_q,
        |      row_number() OVER (PARTITION BY c.qid ORDER BY c.rel_q - coalesce(m.sm, 0) DESC, c.cid) AS rn
        |    FROM cand c
        |    LEFT JOIN (SELECT s.qid, p.ca AS cid, max(p.sim_q) AS sm
        |               FROM sel2 s JOIN sims p ON p.qid = s.qid AND p.cb = s.cid
        |               GROUP BY 1, 2) m ON m.qid = c.qid AND m.cid = c.cid
        |    WHERE NOT EXISTS (SELECT 1 FROM sel2 s WHERE s.qid = c.qid AND s.cid = c.cid))
        |  WHERE rn = 1),
        |sel3 AS (SELECT * FROM sel2 UNION ALL SELECT * FROM pick3),
        |pick4 AS (SELECT qid, cid, rel_q, CAST(4 AS BIGINT) AS mmr_rank FROM (
        |    SELECT c.qid, c.cid, c.rel_q,
        |      row_number() OVER (PARTITION BY c.qid ORDER BY c.rel_q - coalesce(m.sm, 0) DESC, c.cid) AS rn
        |    FROM cand c
        |    LEFT JOIN (SELECT s.qid, p.ca AS cid, max(p.sim_q) AS sm
        |               FROM sel3 s JOIN sims p ON p.qid = s.qid AND p.cb = s.cid
        |               GROUP BY 1, 2) m ON m.qid = c.qid AND m.cid = c.cid
        |    WHERE NOT EXISTS (SELECT 1 FROM sel3 s WHERE s.qid = c.qid AND s.cid = c.cid))
        |  WHERE rn = 1),
        |sel4 AS (SELECT * FROM sel3 UNION ALL SELECT * FROM pick4),
        |pick5 AS (SELECT qid, cid, rel_q, CAST(5 AS BIGINT) AS mmr_rank FROM (
        |    SELECT c.qid, c.cid, c.rel_q,
        |      row_number() OVER (PARTITION BY c.qid ORDER BY c.rel_q - coalesce(m.sm, 0) DESC, c.cid) AS rn
        |    FROM cand c
        |    LEFT JOIN (SELECT s.qid, p.ca AS cid, max(p.sim_q) AS sm
        |               FROM sel4 s JOIN sims p ON p.qid = s.qid AND p.cb = s.cid
        |               GROUP BY 1, 2) m ON m.qid = c.qid AND m.cid = c.cid
        |    WHERE NOT EXISTS (SELECT 1 FROM sel4 s WHERE s.qid = c.qid AND s.cid = c.cid))
        |  WHERE rn = 1),
        |sel5 AS (SELECT * FROM sel4 UNION ALL SELECT * FROM pick5)
        |SELECT qid, mmr_rank, cid, rel_q FROM sel5 ORDER BY qid, mmr_rank""".stripMargin,
    "rrf_fusion" ->
      """WITH t AS (SELECT doc_id, lang, n_chars,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    CAST(len(list_filter(string_split(text, ' '), t -> list_contains(['the','a','and','of','to'], t))) AS BIGINT) AS hits,
        |    length(text) AS lc,
        |    length(regexp_replace(text, '[0-9]', '', 'g')) AS lnd
        |  FROM documents),
        |r AS (SELECT doc_id, lang, n_chars, n_tokens,
        |    floor((CAST(hits AS DOUBLE) / greatest(n_tokens, 1)) * 10000 + 0.5) / 10000 AS stop_ratio,
        |    floor((CASE WHEN lc = 0 THEN 0.0 ELSE CAST(lc - lnd AS DOUBLE) / lc END) * 10000 + 0.5) / 10000 AS digit_ratio
        |  FROM t),
        |q AS (SELECT doc_id, lang, n_chars,
        |    floor((least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.5 + stop_ratio * 0.3 + (1.0 - digit_ratio) * 0.2) * 10000 + 0.5) / 10000 AS quality
        |  FROM r),
        |rk AS (SELECT lang, doc_id, quality, n_chars,
        |    CAST(row_number() OVER (PARTITION BY lang ORDER BY quality DESC, doc_id) AS BIGINT) AS rank_1,
        |    CAST(row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rank_2
        |  FROM q),
        |f AS (SELECT lang, doc_id, rank_1, rank_2,
        |    floor(((1.0 / (60.0 + CAST(rank_1 AS DOUBLE))) + (1.0 / (60.0 + CAST(rank_2 AS DOUBLE)))) * 10000 + 0.5) / 10000 AS rrf
        |  FROM rk),
        |g AS (SELECT *, CAST(row_number() OVER (PARTITION BY lang ORDER BY rrf DESC, doc_id) AS BIGINT) AS fused_rank FROM f)
        |SELECT lang, doc_id, rank_1, rank_2, rrf, fused_rank
        |FROM g WHERE fused_rank <= 10 ORDER BY lang, fused_rank""".stripMargin,
    "dq_expectations" ->
      """SELECT * FROM (
        |  SELECT 'accepted_status' AS rule,
        |    CAST(sum(CASE WHEN o_orderstatus IN ('F','O') THEN 0 ELSE 1 END) AS BIGINT) AS violations,
        |    CAST(count(*) AS BIGINT) AS total FROM orders
        |  UNION ALL SELECT 'not_null_custkey',
        |    CAST(sum(CASE WHEN o_custkey IS NOT NULL THEN 0 ELSE 1 END) AS BIGINT),
        |    CAST(count(*) AS BIGINT) FROM orders
        |  UNION ALL SELECT 'price_cap_400k',
        |    CAST(sum(CASE WHEN o_totalprice > 0 AND o_totalprice <= 400000 THEN 0 ELSE 1 END) AS BIGINT),
        |    CAST(count(*) AS BIGINT) FROM orders
        |  UNION ALL SELECT 'fresh_before_1998',
        |    CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '1998-01-01' THEN 0 ELSE 1 END) AS BIGINT),
        |    CAST(count(*) AS BIGINT) FROM orders
        |  UNION ALL SELECT 'unique_custkey',
        |    (SELECT CAST(COALESCE(sum(c), 0) AS BIGINT)
        |     FROM (SELECT count(*) AS c FROM orders GROUP BY o_custkey) WHERE c > 1),
        |    (SELECT CAST(count(*) AS BIGINT) FROM orders)
        |  UNION ALL SELECT 'fk_active_customer',
        |    (SELECT CAST(count(*) AS BIGINT) FROM orders
        |     WHERE o_custkey IS NOT NULL AND o_custkey NOT IN
        |       (SELECT c_custkey FROM customer WHERE c_acctbal > 0)),
        |    (SELECT CAST(count(*) AS BIGINT) FROM orders)
        |) ORDER BY rule""".stripMargin,
    "price_histogram" ->
      """WITH c AS (SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents FROM orders),
        |g AS (SELECT (cents - ((cents % 5000000 + 5000000) % 5000000)) // 5000000 AS bin,
        |    CAST(count(*) AS BIGINT) AS n FROM c GROUP BY 1)
        |SELECT bin, bin * 5000000 AS bin_lo, n,
        |  floor((CAST(n AS DOUBLE) / CAST(sum(n) OVER () AS DOUBLE)) * 10000 + 0.5) / 10000 AS share
        |FROM g ORDER BY bin""".stripMargin,
    "global_topk" ->
      """SELECT o_orderkey, CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents
        |FROM orders ORDER BY price_cents DESC, o_orderkey LIMIT 100""".stripMargin,
    "weighted_sample" ->
      """WITH b AS (SELECT doc_id,
        |    list_reduce(list_transform(range(1, 9),
        |      i -> (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1)::BIGINT),
        |      (a, x) -> a * 16 + x) % 1000000 AS bucket,
        |    greatest(0.05::DOUBLE, least(0.95::DOUBLE, CAST(n_chars AS DOUBLE) / 2000.0)) AS w
        |  FROM documents)
        |SELECT doc_id, floor(w * 10000 + 0.5) / 10000 AS keep_prob
        |FROM b WHERE bucket < CAST(floor(w * 1000000.0) AS BIGINT)
        |ORDER BY doc_id""".stripMargin,
    "jaccard_join_exact" ->
      """WITH toks AS (SELECT doc_id, lang, unnest(list_distinct(string_split(text, ' '))) AS tok
        |  FROM documents),
        |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM toks GROUP BY 1),
        |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS inter
        |  FROM toks a JOIN toks b ON a.lang = b.lang AND a.tok = b.tok AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |j AS (SELECT id_a, id_b, inter, sa.sz + sb.sz - inter AS union_sz
        |  FROM pairs JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id)
        |SELECT id_a, id_b, inter, union_sz,
        |  floor((CAST(inter AS DOUBLE) / CAST(union_sz AS DOUBLE)) * 10000 + 0.5) / 10000 AS jaccard
        |FROM j WHERE CAST(inter AS DOUBLE) / CAST(union_sz AS DOUBLE) >= 0.95
        |ORDER BY id_a, id_b""".stripMargin,
    "copurchase_lift" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
        |    WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
        |sized AS (SELECT b, i FROM
        |    (SELECT b, i, count(*) OVER (PARTITION BY b) AS sz FROM items)
        |  WHERE sz <= 6),
        |nb AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS n_baskets FROM sized),
        |ic AS (SELECT i, CAST(count(*) AS BIGINT) AS n_i FROM sized GROUP BY 1),
        |pairs AS (SELECT x.i AS item_a, y.i AS item_b, CAST(count(*) AS BIGINT) AS n_ab
        |  FROM sized x JOIN sized y ON x.b = y.b AND x.i < y.i GROUP BY 1, 2)
        |SELECT item_a, item_b, n_ab, a.n_i AS n_a, c.n_i AS n_b,
        |  floor((CAST(n_ab AS DOUBLE) / CAST(n_baskets AS DOUBLE)) * 10000 + 0.5) / 10000 AS support,
        |  floor((CAST(n_baskets AS DOUBLE) * CAST(n_ab AS DOUBLE)
        |    / (CAST(a.n_i AS DOUBLE) * CAST(c.n_i AS DOUBLE))) * 10000 + 0.5) / 10000 AS lift
        |FROM pairs JOIN ic a ON item_a = a.i JOIN ic c ON item_b = c.i CROSS JOIN nb
        |WHERE n_ab >= 2 ORDER BY item_a, item_b""".stripMargin,
    "triangle_count" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
        |    WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
        |sized AS (SELECT b, i FROM
        |    (SELECT b, i, count(*) OVER (PARTITION BY b) AS sz FROM items)
        |  WHERE sz <= 6),
        |e AS (SELECT DISTINCT x.i AS u, y.i AS v FROM sized x JOIN sized y ON x.b = y.b AND x.i < y.i),
        |deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d
        |  FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY 1),
        |tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c FROM e e1
        |  JOIN e e2 ON e2.u = e1.v
        |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        |tn AS (SELECT n, CAST(count(*) AS BIGINT) AS n_triangles
        |  FROM (SELECT a AS n FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri)
        |  GROUP BY 1)
        |SELECT tn.n AS node, deg.d AS degree, n_triangles
        |FROM tn JOIN deg ON tn.n = deg.n ORDER BY node""".stripMargin,
    "link_predict" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
        |    WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
        |sized AS (SELECT b, i FROM
        |    (SELECT b, i, count(*) OVER (PARTITION BY b) AS sz FROM items)
        |  WHERE sz <= 6),
        |e AS (SELECT DISTINCT x.i AS u, y.i AS v FROM sized x JOIN sized y ON x.b = y.b AND x.i < y.i),
        |deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d
        |  FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY 1),
        |adj AS (SELECT a.center, a.leaf
        |  FROM (SELECT u AS center, v AS leaf FROM e UNION ALL SELECT v, u FROM e) a
        |  JOIN deg ON a.center = deg.n WHERE deg.d <= 100),
        |cn AS (SELECT l.leaf AS id_a, r.leaf AS id_b, CAST(count(*) AS BIGINT) AS cn
        |  FROM adj l JOIN adj r ON l.center = r.center AND l.leaf < r.leaf
        |  GROUP BY 1, 2 HAVING count(*) >= 10),
        |nonadj AS (SELECT cn.id_a, cn.id_b, cn.cn
        |  FROM cn LEFT JOIN e ON cn.id_a = e.u AND cn.id_b = e.v WHERE e.u IS NULL)
        |SELECT id_a, id_b, cn, da.d AS deg_a, db.d AS deg_b,
        |  floor((CAST(cn AS DOUBLE) / CAST(da.d + db.d - cn AS DOUBLE)) * 10000 + 0.5) / 10000 AS score
        |FROM nonadj JOIN deg da ON id_a = da.n JOIN deg db ON id_b = db.n
        |ORDER BY id_a, id_b""".stripMargin,
    "weekly_churn" ->
      """WITH wk AS (SELECT DISTINCT o_custkey AS key,
        |    CAST(date_trunc('week', o_orderdate) AS DATE) AS week FROM orders),
        |c AS (SELECT key, week,
        |    lag(week) OVER (PARTITION BY key ORDER BY week) AS prev_week,
        |    lead(week) OVER (PARTITION BY key ORDER BY week) AS next_week FROM wk),
        |act AS (SELECT week,
        |    CAST(sum(CASE WHEN prev_week IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
        |    CAST(sum(CASE WHEN prev_week = week - 7 THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
        |    CAST(sum(CASE WHEN prev_week IS NOT NULL AND prev_week < week - 7 THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
        |  FROM c GROUP BY 1),
        |hz AS (SELECT max(week) AS max_week FROM wk),
        |ch AS (SELECT week + 7 AS week, CAST(count(*) AS BIGINT) AS n_churned
        |  FROM c CROSS JOIN hz
        |  WHERE (next_week IS NULL OR next_week > week + 7) AND week + 7 <= max_week
        |  GROUP BY 1)
        |SELECT COALESCE(act.week, ch.week) AS week,
        |  CAST(COALESCE(n_new, 0) AS BIGINT) AS n_new,
        |  CAST(COALESCE(n_retained, 0) AS BIGINT) AS n_retained,
        |  CAST(COALESCE(n_resurrected, 0) AS BIGINT) AS n_resurrected,
        |  CAST(COALESCE(n_churned, 0) AS BIGINT) AS n_churned
        |FROM act FULL OUTER JOIN ch ON act.week = ch.week
        |ORDER BY week""".stripMargin,
    "q10_returned_revenue" ->
      """SELECT c_custkey, c_name, n_name,
        |  floor((CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
        |      * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))) AS DOUBLE) / 10000.0) * 10000 + 0.5) / 10000 AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "skyline_orders" ->
      """WITH t AS (SELECT o_orderkey,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents,
        |    CAST(o_orderdate AS DATE) AS o_orderdate FROM orders)
        |SELECT o_orderkey, price_cents, o_orderdate FROM t a
        |WHERE NOT EXISTS (SELECT 1 FROM t b
        |  WHERE b.price_cents >= a.price_cents AND b.o_orderdate <= a.o_orderdate
        |    AND (b.price_cents > a.price_cents OR b.o_orderdate < a.o_orderdate))
        |ORDER BY price_cents DESC, o_orderdate, o_orderkey""".stripMargin,
    "streaks_customer" ->
      """WITH wk AS (SELECT DISTINCT o_custkey AS key,
        |    CAST(date_trunc('week', o_orderdate) AS DATE) AS week FROM orders),
        |r AS (SELECT key, week,
        |    row_number() OVER (PARTITION BY key ORDER BY week) AS rn FROM wk)
        |SELECT key, min(week) AS streak_start, max(week) AS streak_end,
        |  CAST(count(*) AS BIGINT) AS weeks
        |FROM r GROUP BY key, week - CAST(rn * 7 AS INTEGER)
        |ORDER BY key, streak_start""".stripMargin,
    "column_profile" ->
      """WITH s AS (SELECT CAST(count(*) AS BIGINT) AS total,
        |    CAST(count(o_orderkey) AS BIGINT) AS nn1, CAST(count(DISTINCT o_orderkey) AS BIGINT) AS d1,
        |    CAST(count(o_custkey) AS BIGINT) AS nn2, CAST(count(DISTINCT o_custkey) AS BIGINT) AS d2,
        |    CAST(count(o_orderstatus) AS BIGINT) AS nn3, CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS d3,
        |    CAST(count(o_orderpriority) AS BIGINT) AS nn4, CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS d4
        |  FROM orders)
        |SELECT * FROM (
        |  SELECT 'o_orderkey' AS col_name, nn1 AS non_null, total - nn1 AS nulls, d1 AS n_distinct FROM s
        |  UNION ALL SELECT 'o_custkey', nn2, total - nn2, d2 FROM s
        |  UNION ALL SELECT 'o_orderstatus', nn3, total - nn3, d3 FROM s
        |  UNION ALL SELECT 'o_orderpriority', nn4, total - nn4, d4 FROM s
        |) ORDER BY col_name""".stripMargin,
    "k_anonymity" ->
      """WITH b AS (SELECT c_nationkey, c_mktsegment,
        |    (cents - ((cents % 200000 + 200000) % 200000)) // 200000 AS bal_band
        |  FROM (SELECT *, CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
        |        FROM customer))
        |SELECT c_nationkey, c_mktsegment, bal_band,
        |  CAST(count(*) AS BIGINT) AS class_size, count(*) < 3 AS at_risk
        |FROM b GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    // Distinct sensitive values per class; nulls add one observable
    // value (none in this fixture, branch spec-pinned).
    "l_diversity" ->
      """WITH b AS (SELECT c_nationkey, c_mktsegment,
        |    (cents - ((cents % 200000 + 200000) % 200000)) // 200000 AS bal_band
        |  FROM (SELECT *, CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
        |        FROM customer))
        |SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS class_size,
        |  CAST(count(DISTINCT bal_band)
        |    + max(CASE WHEN bal_band IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS sensitive_distinct,
        |  count(DISTINCT bal_band)
        |    + max(CASE WHEN bal_band IS NULL THEN 1 ELSE 0 END) < 5 AS at_risk
        |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "t_closeness" ->
      """WITH b AS (SELECT c_nationkey, c_mktsegment,
        |    (cents - ((cents % 200000 + 200000) % 200000)) // 200000 AS v
        |  FROM (SELECT *, CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents FROM customer)
        |  WHERE c_acctbal IS NOT NULL),
        |cls AS (SELECT DISTINCT c_nationkey, c_mktsegment FROM b),
        |vals AS (SELECT v, CAST(count(*) AS BIGINT) AS g FROM b GROUP BY 1),
        |cv AS (SELECT c_nationkey, c_mktsegment, v, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1, 2, 3),
        |grid AS (SELECT cls.c_nationkey, cls.c_mktsegment, vals.v, coalesce(cv.c, 0) AS c, vals.g
        |  FROM cls CROSS JOIN vals
        |  LEFT JOIN cv ON cv.c_nationkey = cls.c_nationkey AND cv.c_mktsegment = cls.c_mktsegment AND cv.v = vals.v),
        |w AS (SELECT *, sum(c) OVER (PARTITION BY c_nationkey, c_mktsegment ORDER BY v) AS cumc,
        |    sum(g) OVER (PARTITION BY c_nationkey, c_mktsegment ORDER BY v) AS cumg,
        |    sum(c) OVER (PARTITION BY c_nationkey, c_mktsegment) AS nc,
        |    count(*) OVER (PARTITION BY c_nationkey, c_mktsegment) AS m,
        |    sum(g) OVER (PARTITION BY c_nationkey, c_mktsegment) AS n
        |  FROM grid),
        |e AS (SELECT c_nationkey, c_mktsegment, CAST(max(nc) AS BIGINT) AS class_size,
        |    CAST(sum(abs(cumc * n - cumg * nc)) AS BIGINT) AS emd_num,
        |    CASE WHEN max(m) = 1 THEN 0.0 ELSE
        |      floor(CAST(sum(abs(cumc * n - cumg * nc)) AS DOUBLE)
        |        / (CAST(max(m) - 1 AS DOUBLE) * CAST(max(nc) AS DOUBLE) * CAST(max(n) AS DOUBLE))
        |        * 10000 + 0.5) / 10000 END AS emd
        |  FROM w GROUP BY 1, 2 HAVING max(nc) > 0)
        |SELECT c_nationkey, c_mktsegment, class_size, emd_num, emd, emd > 0.12 AS at_risk
        |FROM e ORDER BY c_nationkey, c_mktsegment""".stripMargin,
    "benford_digits" ->
      """WITH c AS (SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v FROM orders),
        |g AS (SELECT CAST(substr(CAST(v AS VARCHAR), 1, 1) AS INTEGER) AS digit,
        |    CAST(count(*) AS BIGINT) AS n FROM c WHERE v > 0 GROUP BY 1)
        |SELECT digit, n,
        |  floor((CAST(n AS DOUBLE) / CAST(sum(n) OVER () AS DOUBLE)) * 10000 + 0.5) / 10000 AS share
        |FROM g ORDER BY digit""".stripMargin,
    "melt_weekly_metrics" ->
      """WITH w AS (SELECT date_trunc('week', o_orderdate) AS week, o_orderpriority AS dim,
        |    CAST(count(*) AS BIGINT) AS transactions,
        |    CAST(count(DISTINCT o_custkey) AS BIGINT) AS customers
        |  FROM orders GROUP BY 1, 2)
        |SELECT week, dim, 'transactions' AS metric, transactions AS value FROM w
        |UNION ALL SELECT week, dim, 'customers', customers FROM w
        |ORDER BY week, dim, metric""".stripMargin,
    "event_transitions" ->
      """WITH p AS (SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |g AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
        |  FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |  floor((CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE)) * 10000 + 0.5) / 10000 AS prob
        |FROM g ORDER BY from_type, to_type""".stripMargin,
    "type_breakdown" ->
      """SELECT date_trunc('week', o_orderdate) AS week, o_orderpriority AS dim,
        |  lower(trim(CAST(o_orderstatus AS VARCHAR))) AS category,
        |  count(*) AS count
        |FROM orders GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "coerce_clean" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  count(TRY_CAST(event_type AS DOUBLE)) AS n_junk_price,
        |  count(TRY_CAST(CAST(value AS VARCHAR) AS DOUBLE)) AS n_price_ok,
        |  count(TRY_CAST(event_type AS TIMESTAMP)) AS n_junk_date,
        |  count(TRY_CAST(CAST(ts AS VARCHAR) AS TIMESTAMP)) AS n_date_ok
        |FROM events""".stripMargin,
    "normalize_keys" ->
      """SELECT c_custkey,
        |  upper(regexp_replace(CAST(c_name AS VARCHAR), '\s+', '', 'g')) AS key_norm,
        |  lower(trim(CAST(c_mktsegment AS VARCHAR))) AS seg_norm,
        |  substring(upper(regexp_replace(CAST(c_name AS VARCHAR), '\s+', '', 'g')), 1, 4) AS key_prefix
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "synthetic_id_distinct" ->
      "SELECT CAST(count(*) AS BIGINT) AS n_ids FROM lineitem",
    "lookup_join" ->
      """SELECT c.c_custkey, c.c_name, n.n_name AS nation, r.r_name AS region
        |FROM customer c
        |LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
        |LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
        |ORDER BY c.c_custkey""".stripMargin,
    // deliberately the IDENTICAL oracle text as lookup_join: the physical
    // strategy (broadcast vs sort-merge) must not change the answer
    "lookup_join_smj" ->
      """SELECT c.c_custkey, c.c_name, n.n_name AS nation, r.r_name AS region
        |FROM customer c
        |LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
        |LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
        |ORDER BY c.c_custkey""".stripMargin,
    "coverage_docs" ->
      s"""SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |  floor((coalesce(avg(CASE WHEN l.lang_name IS NOT NULL THEN 1 ELSE 0 END) * 100.0, 0.0)) * 10000 + 0.5) / 10000 AS coverage_pct
         |FROM documents d LEFT JOIN $langDimSql ON d.lang = l.lang_code""".stripMargin,
    "prefix_fallback" ->
      s"""SELECT coalesce(l.lang_name, substring(upper(d.lang), 1, 2)) AS la,
         |  count(*) AS n
         |FROM documents d LEFT JOIN $langDimSql ON d.lang = l.lang_code
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "semi_anti_join" ->
      """SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM customer c
        |   WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)) AS n_with_orders,
        |  (SELECT CAST(count(*) AS BIGINT) FROM customer c
        |   WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)) AS n_without_orders""".stripMargin,
    "set_ops" ->
      """SELECT DISTINCT lang AS k FROM documents
        |EXCEPT
        |SELECT * FROM (VALUES ('en'), ('zh')) t(k)
        |ORDER BY k""".stripMargin,
    "range_join_events" ->
      """SELECT a.user_id AS k, a.event_id AS l_id, b.event_id AS r_id
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id AND a.event_id < b.event_id
        |  AND abs(epoch_ms(a.ts) - epoch_ms(b.ts)) <= 300000
        |ORDER BY k, l_id, r_id""".stripMargin,
    "ranking_orders" -> rankCte(
      """    rank() OVER w AS rnk,
        |    dense_rank() OVER w AS drnk,
        |    ntile(4) OVER w AS quartile,
        |    lead(o_orderkey, 1) OVER w AS next_key""".stripMargin),
    "distribution_ranks" -> rankCte(
      """    floor(percent_rank() OVER w * 10000 + 0.5) / 10000 AS pct_rank,
        |    floor(cume_dist() OVER w * 10000 + 0.5) / 10000 AS cume""".stripMargin),
    "densify_orders" ->
      (denseCte + "\nSELECT week, dim, transactions, price_mean FROM dense ORDER BY dim, week"),
    "rolling_windows" ->
      (winsCte + "\nSELECT week, dim, transactions, rolling_trans, price_mean, rolling_price_mean, window_weeks FROM wins ORDER BY window_weeks, dim, week"),
    "rolling_windows_skewed" ->
      (winsCteSkew + "\nSELECT week, dim, transactions, rolling_trans, price_mean, rolling_price_mean, window_weeks FROM wins ORDER BY window_weeks, dim, week"),
    "anomaly_zscore" ->
      (winsCte +
        """,
          |z AS (
          |  SELECT week, dim, window_weeks, transactions, rolling_trans,
          |    floor((CASE WHEN stddev_samp(transactions) OVER wd IS NULL
          |                 OR stddev_samp(transactions) OVER wd = 0 THEN 0.0
          |          ELSE (transactions - avg(transactions) OVER wd)
          |               / stddev_samp(transactions) OVER wd END) * 10000 + 0.5) / 10000 AS z_transactions,
          |    floor((CASE WHEN stddev_samp(rolling_trans) OVER wd IS NULL
          |                 OR stddev_samp(rolling_trans) OVER wd = 0 THEN 0.0
          |          ELSE (rolling_trans - avg(rolling_trans) OVER wd)
          |               / stddev_samp(rolling_trans) OVER wd END) * 10000 + 0.5) / 10000 AS z_rolling_trans
          |  FROM wins WINDOW wd AS (PARTITION BY dim))
          |SELECT week, dim, window_weeks, transactions, rolling_trans,
          |  z_transactions, z_rolling_trans,
          |  abs(z_transactions) > 3.0 AS anomaly_transactions,
          |  abs(z_rolling_trans) > 3.0 AS anomaly_rolling_trans
          |FROM z ORDER BY window_weeks, dim, week""".stripMargin),
    "latest_snapshot" ->
      (winsCte + "\nSELECT week, dim, transactions, rolling_trans, price_mean, rolling_price_mean, window_weeks FROM wins WHERE week = (SELECT max(week) FROM wins) ORDER BY window_weeks, dim"),
    // CTE-chained lifecycle: the winsCte stack (weekly → dense → rolling)
    // + the anomaly z window CARRYING the price columns + the latest-week
    // slice applied AFTER scoring — one string replaying every stage
    // handoff of the engine-side composition.
    "housing_pipeline" ->
      (winsCte +
        """,
          |zf AS (
          |  SELECT week, dim, window_weeks, transactions, rolling_trans,
          |    price_mean, rolling_price_mean,
          |    floor((CASE WHEN stddev_samp(transactions) OVER wd IS NULL
          |                 OR stddev_samp(transactions) OVER wd = 0 THEN 0.0
          |          ELSE (transactions - avg(transactions) OVER wd)
          |               / stddev_samp(transactions) OVER wd END) * 10000 + 0.5) / 10000 AS z_transactions,
          |    floor((CASE WHEN stddev_samp(rolling_trans) OVER wd IS NULL
          |                 OR stddev_samp(rolling_trans) OVER wd = 0 THEN 0.0
          |          ELSE (rolling_trans - avg(rolling_trans) OVER wd)
          |               / stddev_samp(rolling_trans) OVER wd END) * 10000 + 0.5) / 10000 AS z_rolling_trans
          |  FROM wins WINDOW wd AS (PARTITION BY dim))
          |SELECT week, dim, window_weeks, transactions, rolling_trans,
          |  price_mean, rolling_price_mean, z_transactions, z_rolling_trans,
          |  abs(z_transactions) > 3.0 AS anomaly_transactions,
          |  abs(z_rolling_trans) > 3.0 AS anomaly_rolling_trans
          |FROM zf WHERE week = (SELECT max(week) FROM zf)
          |ORDER BY window_weeks, dim""".stripMargin),
    "qa_summary" ->
      """SELECT CAST(count(*) AS BIGINT) AS rows_raw,
        |  count(DISTINCT o_orderpriority) AS dims,
        |  floor((coalesce(avg(CASE WHEN o_orderpriority IS NOT NULL THEN 1 ELSE 0 END) * 100.0, 0.0)) * 10000 + 0.5) / 10000 AS coverage_pct,
        |  max(date_trunc('week', o_orderdate)) AS latest_week
        |FROM orders""".stripMargin,
    "yoy_orders" ->
      (denseCte +
        """
          |SELECT week, dim, transactions,
          |  lag(transactions, 52) OVER (PARTITION BY dim ORDER BY week) AS prev_year,
          |  transactions - lag(transactions, 52) OVER (PARTITION BY dim ORDER BY week) AS yoy_change
          |FROM dense ORDER BY dim, week""".stripMargin),
    "ewma_trend" ->
      (denseCte +
        """,
          |lagged AS (
          |  SELECT week, dim, transactions,
          |    coalesce(CAST(transactions AS DOUBLE) * 1.0::DOUBLE, 0.0::DOUBLE)
          |      + coalesce(CAST(lag(transactions, 1) OVER ws AS DOUBLE) * 0.5::DOUBLE, 0.0::DOUBLE)
          |      + coalesce(CAST(lag(transactions, 2) OVER ws AS DOUBLE) * 0.25::DOUBLE, 0.0::DOUBLE)
          |      + coalesce(CAST(lag(transactions, 3) OVER ws AS DOUBLE) * 0.125::DOUBLE, 0.0::DOUBLE)
          |      + coalesce(CAST(lag(transactions, 4) OVER ws AS DOUBLE) * 0.0625::DOUBLE, 0.0::DOUBLE)
          |      + coalesce(CAST(lag(transactions, 5) OVER ws AS DOUBLE) * 0.03125::DOUBLE, 0.0::DOUBLE)
          |      + coalesce(CAST(lag(transactions, 6) OVER ws AS DOUBLE) * 0.015625::DOUBLE, 0.0::DOUBLE)
          |      + coalesce(CAST(lag(transactions, 7) OVER ws AS DOUBLE) * 0.0078125::DOUBLE, 0.0::DOUBLE) AS num,
          |    (CASE WHEN transactions IS NOT NULL THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END)
          |      + (CASE WHEN lag(transactions, 1) OVER ws IS NOT NULL THEN 0.5::DOUBLE ELSE 0.0::DOUBLE END)
          |      + (CASE WHEN lag(transactions, 2) OVER ws IS NOT NULL THEN 0.25::DOUBLE ELSE 0.0::DOUBLE END)
          |      + (CASE WHEN lag(transactions, 3) OVER ws IS NOT NULL THEN 0.125::DOUBLE ELSE 0.0::DOUBLE END)
          |      + (CASE WHEN lag(transactions, 4) OVER ws IS NOT NULL THEN 0.0625::DOUBLE ELSE 0.0::DOUBLE END)
          |      + (CASE WHEN lag(transactions, 5) OVER ws IS NOT NULL THEN 0.03125::DOUBLE ELSE 0.0::DOUBLE END)
          |      + (CASE WHEN lag(transactions, 6) OVER ws IS NOT NULL THEN 0.015625::DOUBLE ELSE 0.0::DOUBLE END)
          |      + (CASE WHEN lag(transactions, 7) OVER ws IS NOT NULL THEN 0.0078125::DOUBLE ELSE 0.0::DOUBLE END) AS den
          |  FROM dense
          |  WINDOW ws AS (PARTITION BY dim ORDER BY week))
          |SELECT week, dim, transactions,
          |  CASE WHEN den = 0.0 THEN NULL
          |       ELSE floor((num / den) * 10000 + 0.5) / 10000 END AS ewma
          |FROM lagged ORDER BY dim, week""".stripMargin),
    "mode_stats" ->
      """WITH c AS (SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events WHERE value IS NOT NULL),
        |g AS (SELECT event_type, cents, CAST(count(*) AS BIGINT) AS n_mode
        |  FROM c GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY n_mode DESC, cents ASC) AS rn FROM g)
        |SELECT event_type,
        |  floor((CAST(cents AS DOUBLE) / 100.0) * 10000 + 0.5) / 10000 AS mode_value,
        |  n_mode FROM r WHERE rn = 1 ORDER BY event_type""".stripMargin,
    "mode_weekly" ->
      """WITH c AS (SELECT date_trunc('week', ts) AS week, event_type,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events WHERE value IS NOT NULL),
        |g AS (SELECT week, event_type, cents, CAST(count(*) AS BIGINT) AS n_mode
        |  FROM c GROUP BY 1, 2, 3),
        |r AS (SELECT *, row_number() OVER (PARTITION BY week, event_type
        |    ORDER BY n_mode DESC, cents ASC) AS rn FROM g)
        |SELECT week, event_type,
        |  floor((CAST(cents AS DOUBLE) / 100.0) * 10000 + 0.5) / 10000 AS mode_value,
        |  n_mode FROM r WHERE rn = 1 ORDER BY week, event_type""".stripMargin,
    "typed_agg_moments" ->
      """WITH c AS (SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events WHERE value IS NOT NULL),
        |a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(cents) AS BIGINT) AS s, CAST(sum(cents * cents) AS BIGINT) AS sq
        |  FROM c GROUP BY 1)
        |SELECT event_type, n,
        |  floor((CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 100.0) * 10000 + 0.5) / 10000 AS mean_value,
        |  CASE WHEN n = 1 THEN NULL ELSE floor(((CAST(sq AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0) / 10000.0) * 10000 + 0.5) / 10000 END AS var_value,
        |  CASE WHEN n = 1 THEN NULL ELSE floor(sqrt(greatest((CAST(sq AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0) / 10000.0, 0.0::DOUBLE)) * 10000 + 0.5) / 10000 END AS std_value
        |FROM a ORDER BY event_type""".stripMargin,
    "sliding_range_agg" ->
      """WITH e AS (SELECT event_id, event_type, epoch_ms(ts) AS ms,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS __cents FROM events)
        |SELECT event_id, event_type,
        |  CAST(count(*) OVER w AS BIGINT) AS n_window,
        |  CASE WHEN count(__cents) OVER w = 0 THEN NULL
        |       ELSE floor((CAST(sum(__cents) OVER w AS DOUBLE) / 100.0) * 10000 + 0.5) / 10000 END AS sum_window
        |FROM e
        |WINDOW w AS (PARTITION BY event_type ORDER BY ms RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    "robust_zscore" ->
      """WITH c AS (SELECT event_id, event_type, value,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events),
        |m AS (SELECT *, quantile_cont(cents, 0.5) OVER (PARTITION BY event_type) AS med FROM c),
        |m2 AS (SELECT *, quantile_cont(abs(cents - med), 0.5) OVER (PARTITION BY event_type) AS mad FROM m)
        |SELECT event_id, event_type, value,
        |  CASE WHEN cents IS NULL THEN NULL WHEN mad = 0 THEN 0.0
        |       ELSE floor(((cents - med) / (1.4826 * mad)) * 10000 + 0.5) / 10000 END AS robust_z
        |FROM m2 ORDER BY event_id""".stripMargin,
    "cusum_changepoints" ->
      """WITH w AS (SELECT o_orderpriority AS priority, date_trunc('week', o_orderdate) AS week,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY 1, 2),
        |s AS (SELECT *, count(*) OVER (PARTITION BY priority) AS n,
        |    sum(cents) OVER (PARTITION BY priority) AS tot FROM w),
        |c AS (SELECT *, sum(n * cents - tot) OVER (PARTITION BY priority ORDER BY week
        |    ROWS UNBOUNDED PRECEDING) AS cum FROM s),
        |m AS (SELECT *,
        |    cum - least(0, min(cum) OVER (PARTITION BY priority ORDER BY week ROWS UNBOUNDED PRECEDING)) AS up,
        |    greatest(0, max(cum) OVER (PARTITION BY priority ORDER BY week ROWS UNBOUNDED PRECEDING)) - cum AS dn
        |  FROM c)
        |SELECT priority, week,
        |  floor((CAST(up AS DOUBLE) / CAST(n AS DOUBLE) / 100.0) * 10000 + 0.5) / 10000 AS cusum_up,
        |  floor((CAST(dn AS DOUBLE) / CAST(n AS DOUBLE) / 100.0) * 10000 + 0.5) / 10000 AS cusum_down,
        |  up >= n * 200000000 AS alarm_up, dn >= n * 200000000 AS alarm_down
        |FROM m ORDER BY priority, week""".stripMargin,
    "interpolate_gaps" ->
      (denseCteFor("o_custkey % 40", priceMeanAgg, "w.price_mean") +
        """,
          |ip AS (
          |  SELECT week, dim, price_mean,
          |    last_value(price_mean IGNORE NULLS) OVER wp AS pv,
          |    last_value(CASE WHEN price_mean IS NOT NULL THEN week END IGNORE NULLS) OVER wp AS pw,
          |    first_value(price_mean IGNORE NULLS) OVER wn AS nv,
          |    first_value(CASE WHEN price_mean IS NOT NULL THEN week END IGNORE NULLS) OVER wn AS nw
          |  FROM dense
          |  WINDOW wp AS (PARTITION BY dim ORDER BY week ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
          |         wn AS (PARTITION BY dim ORDER BY week ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
          |SELECT week, dim, price_mean,
          |  CASE WHEN price_mean IS NOT NULL THEN price_mean
          |       WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
          |         floor((pv + (nv - pv) * (CAST(date_diff('day', CAST(pw AS DATE), CAST(week AS DATE)) AS DOUBLE)
          |           / CAST(date_diff('day', CAST(pw AS DATE), CAST(nw AS DATE)) AS DOUBLE))) * 10000 + 0.5) / 10000
          |       ELSE NULL END AS price_mean_interp,
          |  (price_mean IS NULL AND pv IS NOT NULL AND nv IS NOT NULL) AS is_interpolated
          |FROM ip ORDER BY dim, week""".stripMargin),
    "q1_pricing_summary" ->
      """WITH l AS (SELECT l_returnflag, l_linestatus,
        |    CAST(floor(l_quantity + 0.5) AS BIGINT) AS qty,
        |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
        |    CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS disc_pct,
        |    CAST(floor(l_tax * 100 + 0.5) AS BIGINT) AS tax_pct
        |  FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-01')
        |SELECT l_returnflag, l_linestatus,
        |  CAST(sum(qty) AS BIGINT) AS sum_qty,
        |  floor((CAST(sum(cents) AS DOUBLE) / 100.0) * 10000 + 0.5) / 10000 AS sum_base_price,
        |  floor((CAST(sum(cents * (100 - disc_pct)) AS DOUBLE) / 10000.0) * 10000 + 0.5) / 10000 AS sum_disc_price,
        |  floor((CAST(sum(cents * (100 - disc_pct) * (100 + tax_pct)) AS DOUBLE) / 1000000.0) * 10000 + 0.5) / 10000 AS sum_charge,
        |  floor((CAST(sum(qty) AS DOUBLE) / count(*)) * 10000 + 0.5) / 10000 AS avg_qty,
        |  floor((CAST(sum(cents) AS DOUBLE) / 100.0 / count(*)) * 10000 + 0.5) / 10000 AS avg_price,
        |  floor((CAST(sum(disc_pct) AS DOUBLE) / 100.0 / count(*)) * 10000 + 0.5) / 10000 AS avg_disc,
        |  CAST(count(*) AS BIGINT) AS count_order
        |FROM l GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q3_shipping_priority" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |  floor((CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
        |      * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))) AS DOUBLE) / 10000.0) * 10000 + 0.5) / 10000 AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-06-01'
        |  AND l_shipdate > TIMESTAMP '1998-06-01'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q5_local_supplier_volume" ->
      """SELECT n_name,
        |  floor((CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
        |      * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))) AS DOUBLE) / 10000.0) * 10000 + 0.5) / 10000 AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'EUROPE'
        |  AND o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1 ORDER BY revenue DESC, n_name""".stripMargin,
    "dataset_split" ->
      """WITH b AS (SELECT doc_id,
        |    list_reduce(list_transform(range(1, 9),
        |      i -> (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1)::BIGINT),
        |      (a, x) -> a * 16 + x) % 100 AS bucket
        |  FROM documents),
        |s AS (SELECT doc_id,
        |    CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
        |  FROM b)
        |SELECT split, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin,
    "leakage_safe_split" ->
      """WITH dd AS (SELECT doc_id, md5(text) AS digest FROM documents),
        |b AS (SELECT doc_id, digest,
        |    list_reduce(list_transform(range(1, 9),
        |      i -> (strpos('0123456789abcdef', substr(md5(digest), i, 1)) - 1)::BIGINT),
        |      (a, x) -> a * 16 + x) % 100 AS bucket
        |  FROM dd),
        |s AS (SELECT doc_id, digest,
        |    CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
        |  FROM b),
        |leak AS (SELECT CAST(max(ns) AS BIGINT) AS max_splits_per_digest
        |  FROM (SELECT digest, count(DISTINCT split) AS ns FROM s GROUP BY 1))
        |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT digest) AS BIGINT) AS n_digests, max_splits_per_digest
        |FROM s CROSS JOIN leak GROUP BY split, max_splits_per_digest ORDER BY split""".stripMargin,
    "pack_sequences" ->
      """WITH t AS (SELECT doc_id, lang AS shard,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
        |c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM t)
        |SELECT doc_id, shard, n_tokens,
        |  CAST((cum - n_tokens) // 512 AS BIGINT) AS pack_id,
        |  CAST((cum - n_tokens) % 512 AS BIGINT) AS pack_offset
        |FROM c ORDER BY doc_id""".stripMargin,
    // Both integer deals replayed move-for-move as recursive CTEs: one
    // iteration per shard rank, bins as a LIST column, the best-fit pick
    // via list_min(list_filter) + list_position (first occurrence = the
    // lowest-index tie rule, identical to the engine's array_position).
    "pack_sequences_bfd" ->
      """WITH RECURSIVE t AS (SELECT doc_id, source AS shard,
        |    least(CAST(len(string_split(text, ' ')) AS BIGINT), 128) AS len FROM documents),
        |it AS (SELECT *, CAST(row_number() OVER (PARTITION BY shard ORDER BY len DESC, doc_id) AS BIGINT) AS r FROM t),
        |bfd AS (
        |  SELECT shard, CAST(0 AS BIGINT) AS r, CAST(NULL AS BIGINT) AS doc_id,
        |    CAST(NULL AS BIGINT) AS len, CAST(NULL AS BIGINT) AS bin_id,
        |    CAST(NULL AS BIGINT) AS bin_offset, CAST([] AS BIGINT[]) AS rems
        |  FROM (SELECT DISTINCT shard FROM it)
        |  UNION ALL
        |  SELECT i.shard, i.r, i.doc_id, i.len,
        |    CASE WHEN list_min(list_filter(f.rems, x -> x >= i.len)) IS NULL
        |      THEN len(f.rems)
        |      ELSE list_position(f.rems, list_min(list_filter(f.rems, x -> x >= i.len))) - 1 END,
        |    CASE WHEN list_min(list_filter(f.rems, x -> x >= i.len)) IS NULL
        |      THEN 0
        |      ELSE 128 - list_min(list_filter(f.rems, x -> x >= i.len)) END,
        |    CASE WHEN list_min(list_filter(f.rems, x -> x >= i.len)) IS NULL
        |      THEN list_append(f.rems, 128 - i.len)
        |      ELSE list_concat(list_concat(
        |          f.rems[1:list_position(f.rems, list_min(list_filter(f.rems, x -> x >= i.len))) - 1],
        |          [list_min(list_filter(f.rems, x -> x >= i.len)) - i.len]),
        |          f.rems[list_position(f.rems, list_min(list_filter(f.rems, x -> x >= i.len))) + 1:len(f.rems)]) END
        |  FROM bfd f JOIN it i ON i.shard = f.shard AND i.r = f.r + 1),
        |it2 AS (SELECT *, CAST(row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS BIGINT) AS r FROM t),
        |nf AS (
        |  SELECT shard, CAST(0 AS BIGINT) AS r, CAST(0 AS BIGINT) AS rem, CAST(0 AS BIGINT) AS nb
        |  FROM (SELECT DISTINCT shard FROM it2)
        |  UNION ALL
        |  SELECT i.shard, i.r,
        |    CASE WHEN f.nb = 0 OR f.rem < i.len THEN 128 - i.len ELSE f.rem - i.len END,
        |    CASE WHEN f.nb = 0 OR f.rem < i.len THEN f.nb + 1 ELSE f.nb END
        |  FROM nf f JOIN it2 i ON i.shard = f.shard AND i.r = f.r + 1),
        |nfb AS (SELECT shard, CAST(max(nb) AS BIGINT) AS n_bins_greedy FROM nf GROUP BY 1),
        |rep AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(len) AS BIGINT) AS n_tokens,
        |    CAST(max(bin_id) + 1 AS BIGINT) AS n_bins_bfd,
        |    CAST(sum(doc_id * (bin_id + 1)) AS BIGINT) AS bin_checksum,
        |    CAST(sum(doc_id * bin_offset) AS BIGINT) AS offset_checksum
        |  FROM bfd WHERE r >= 1 GROUP BY 1)
        |SELECT rep.shard, n_docs, n_tokens, n_bins_bfd,
        |  floor(CAST(n_tokens AS DOUBLE) / (n_bins_bfd * 128) * 10000 + 0.5) / 10000 AS fill_ratio_bfd,
        |  bin_checksum, offset_checksum, n_bins_greedy,
        |  floor(CAST(n_tokens AS DOUBLE) / (n_bins_greedy * 128) * 10000 + 0.5) / 10000 AS fill_ratio_greedy,
        |  (n_bins_bfd <= n_bins_greedy) AS bfd_no_worse
        |FROM rep JOIN nfb USING (shard) ORDER BY rep.shard""".stripMargin,
    "tfidf_top_terms" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
        |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df_t FROM tf GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
        |sc AS (SELECT doc_id, tf.term AS term, tf,
        |    floor((tf * ln(n_docs / df_t)) * 10000 + 0.5) / 10000 AS tf_idf
        |  FROM tf JOIN dfreq USING (term) CROSS JOIN n),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tf_idf DESC, term) AS rnk FROM sc)
        |SELECT doc_id, term, tf, tf_idf, CAST(rnk AS BIGINT) AS rnk
        |FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,
    "chunk_documents" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |c AS (SELECT doc_id, toks,
        |    unnest(range(0, GREATEST(0, (len(toks) - 32 + 15) // 16) + 1)) AS chunk_id
        |  FROM t)
        |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |  CAST(chunk_id * 16 AS BIGINT) AS token_start,
        |  CAST(len(list_slice(toks, chunk_id * 16 + 1, chunk_id * 16 + 32)) AS BIGINT) AS n_chunk_tokens,
        |  array_to_string(list_slice(toks, chunk_id * 16 + 1, chunk_id * 16 + 32), ' ') AS chunk_text
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,
    "sample_nested" ->
      """WITH b AS (SELECT doc_id,
        |    list_reduce(list_transform(range(1, 9),
        |      i -> (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1)::BIGINT),
        |      (a, x) -> a * 16 + x) % 10000 AS bucket
        |  FROM documents)
        |SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM b WHERE bucket < 1000) AS n_10,
        |  (SELECT CAST(sum(doc_id) AS BIGINT) FROM b WHERE bucket < 1000) AS id_sum_10,
        |  (SELECT CAST(count(*) AS BIGINT) FROM b WHERE bucket < 5000) AS n_50,
        |  CAST(0 AS BIGINT) AS n_escaped""".stripMargin,
    // √n weights quantize to micro-longs BEFORE the normalizing sum;
    // the rate dag is exact-integer-valued doubles end to end, and the
    // draw is the same md5 fold % 1e6 as the engine's splitBucket.
    "mixture_temperature_draw" ->
      """WITH cnt AS (SELECT lang AS source, CAST(count(*) AS BIGINT) AS n_docs
        |  FROM documents GROUP BY 1),
        |w AS (SELECT source, n_docs,
        |    CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS wm FROM cnt),
        |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n, CAST(sum(wm) AS BIGINT) AS z FROM w),
        |rates AS (SELECT source, n_docs,
        |    least(1000000, CAST(floor(
        |      CAST(wm AS DOUBLE) / CAST(z AS DOUBLE)
        |      * (CAST(n AS DOUBLE) * 0.5) / CAST(n_docs AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS rate_micro
        |  FROM w CROSS JOIN tot),
        |sam AS (SELECT d.lang AS source, CAST(count(*) AS BIGINT) AS n_sampled,
        |    CAST(sum(d.doc_id) AS BIGINT) AS id_sum
        |  FROM documents d JOIN rates ON d.lang = rates.source
        |  WHERE list_reduce(list_transform(range(1, 9),
        |      i -> (strpos('0123456789abcdef', substr(md5(CAST(d.doc_id AS VARCHAR)), i, 1)) - 1)::BIGINT),
        |      (a, x) -> a * 16 + x) % 1000000 < rate_micro
        |  GROUP BY 1)
        |SELECT r.source, n_docs, rate_micro,
        |  coalesce(n_sampled, 0) AS n_sampled, coalesce(id_sum, 0) AS id_sum
        |FROM rates r LEFT JOIN sam USING (source) ORDER BY source""".stripMargin,
    // The gate replayed over the staged slice: distinct 8-grams per doc
    // vs the eval slice's distinct gram set, exact shared counts.
    "stream_decontaminate" ->
      """WITH tr AS (SELECT doc_id, text FROM documents
        |  WHERE doc_id % 10 = 1 AND doc_id < 10000 AND (doc_id // 10) % 2 = 1),
        |tg AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+7], ' ') AS g
        |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM tr),
        |  LATERAL (SELECT unnest(range(1, len(t) - 6)) AS i)),
        |eg AS (SELECT DISTINCT array_to_string(t[i:i+7], ' ') AS g
        |  FROM (SELECT string_split(text, ' ') AS t FROM documents WHERE doc_id % 10 = 7),
        |  LATERAL (SELECT unnest(range(1, len(t) - 6)) AS i)),
        |hits AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared_ngrams
        |  FROM tg JOIN eg USING (g) GROUP BY 1)
        |SELECT tr.doc_id, coalesce(n_shared_ngrams, 0) AS n_shared_ngrams,
        |  coalesce(n_shared_ngrams, 0) > 0 AS contaminated
        |FROM tr LEFT JOIN hits USING (doc_id) ORDER BY doc_id""".stripMargin,
    // range(1, len(t) - 6) = the n-gram start positions 1 .. len-n+1 for
    // n = 8 (DuckDB range is end-exclusive; t[i:i+7] is an 8-token slice).
    "decontaminate_ngrams" ->
      """WITH b AS (SELECT doc_id,
        |    list_reduce(list_transform(range(1, 9),
        |      i -> (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1)::BIGINT),
        |      (a, x) -> a * 16 + x) % 100 AS bucket
        |  FROM documents),
        |s AS (SELECT doc_id,
        |    CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
        |  FROM b),
        |toks AS (SELECT d.doc_id, s.split, string_split(d.text, ' ') AS t
        |  FROM documents d JOIN s USING (doc_id)),
        |pos AS (SELECT doc_id, split, t, unnest(range(1, len(t) - 6)) AS i FROM toks),
        |grams AS (SELECT doc_id, split, array_to_string(t[i:i+7], ' ') AS g FROM pos),
        |tg AS (SELECT DISTINCT doc_id, g FROM grams WHERE split = 'train'),
        |eg AS (SELECT DISTINCT g FROM grams WHERE split = 'test'),
        |hits AS (SELECT tg.doc_id, CAST(count(*) AS BIGINT) AS n
        |  FROM tg JOIN eg USING (g) GROUP BY 1)
        |SELECT s.doc_id, CAST(COALESCE(h.n, 0) AS BIGINT) AS n_shared_ngrams,
        |  COALESCE(h.n, 0) > 0 AS contaminated
        |FROM s LEFT JOIN hits h USING (doc_id)
        |WHERE s.split = 'train' ORDER BY doc_id""".stripMargin,
    "quota_sample" ->
      """SELECT doc_id, lang, CAST(rn AS BIGINT) AS rn FROM (
        |  SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn FROM documents)
        |WHERE rn <= 20 ORDER BY lang, rn""".stripMargin,
    "bloom_decontaminate" ->
      """WITH toks AS (SELECT doc_id, doc_id % 10 = 7 AS is_eval,
        |    string_split(text, ' ') AS t FROM documents),
        |pos AS (SELECT doc_id, is_eval, t, unnest(range(1, len(t) - 6)) AS i FROM toks),
        |grams AS (SELECT doc_id, is_eval, array_to_string(t[i:i+7], ' ') AS g FROM pos),
        |tg AS (SELECT DISTINCT doc_id, g FROM grams WHERE NOT is_eval),
        |eg AS (SELECT DISTINCT g FROM grams WHERE is_eval),
        |contaminated AS (SELECT DISTINCT tg.doc_id FROM tg JOIN eg USING (g))
        |SELECT CAST((SELECT count(*) FROM contaminated) AS BIGINT) AS n_true,
        |  TRUE AS recall_ok, TRUE AS fp_ok""".stripMargin,
    "source_budget_cap" ->
      """WITH t AS (SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
        |c AS (SELECT *, CAST(sum(n_tokens) OVER (PARTITION BY source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens FROM t)
        |SELECT doc_id, source, n_tokens, cum_tokens FROM c
        |WHERE cum_tokens <= 300 ORDER BY source, cum_tokens, doc_id""".stripMargin,
    // Step-for-step replay of the integer waterfilling solve: the same
    // water-level sort key (IEEE double ratio + source tiebreak), the
    // same cross-multiplied saturation predicate over prefix sums, and
    // the same largest-remainder distribution — `div`/`%` on both sides
    // are the matching truncating operators.
    // Temperature replay: sqrt weights on the micro grid (IEEE sqrt is
    // correctly rounded — the engine-portability reason T is a sqrt
    // chain), Hamilton base // + largest-remainder rank.
    "mixture_temperature" ->
      """WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
        |  FROM documents WHERE source IS NOT NULL GROUP BY 1),
        |w AS (SELECT source, n_docs,
        |    CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS weight_micro FROM c),
        |t AS (SELECT CAST(sum(weight_micro) AS BIGINT) AS tw FROM w),
        |b AS (SELECT source, n_docs, weight_micro,
        |    CAST((100000 * weight_micro) // tw AS BIGINT) AS base,
        |    CAST((100000 * weight_micro) % tw AS BIGINT) AS rem FROM w, t),
        |p AS (SELECT CAST(100000 - sum(base) AS BIGINT) AS leftover FROM b),
        |r AS (SELECT *, CAST(row_number() OVER (ORDER BY rem DESC, source) AS BIGINT) AS rn FROM b)
        |SELECT source, n_docs, weight_micro,
        |  CAST(base + CASE WHEN rn <= leftover THEN 1 ELSE 0 END AS BIGINT) AS alloc,
        |  floor((CAST(base + CASE WHEN rn <= leftover THEN 1 ELSE 0 END AS DOUBLE) / 100000.0) * 10000 + 0.5) / 10000 AS share
        |FROM r, p ORDER BY source""".stripMargin,
    "mixture_waterfill" ->
      """WITH per AS (
        |  SELECT source, CAST(substr(source, 4) AS BIGINT) + 1 AS weight,
        |         CAST(sum(n_chars) AS BIGINT) AS avail
        |  FROM documents GROUP BY source),
        |tot AS (SELECT CAST(sum(weight) AS BIGINT) AS tw,
        |               (CAST(sum(avail) AS BIGINT) * 600000) // 1000000 AS b FROM per),
        |ord AS (
        |  SELECT per.*, tw, b,
        |    CAST(sum(avail) OVER (ORDER BY CAST(avail AS DOUBLE) / weight, source
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS pref_c,
        |    CAST(sum(weight) OVER (ORDER BY CAST(avail AS DOUBLE) / weight, source
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS pref_w
        |  FROM per CROSS JOIN tot),
        |st AS (SELECT *, (avail * (tw - pref_w) <= (b - pref_c) * weight) AS sat FROM ord),
        |ms AS (SELECT coalesce(max(CASE WHEN sat THEN pref_c END), 0) AS c_m,
        |              coalesce(max(CASE WHEN sat THEN pref_w END), 0) AS w_sat
        |       FROM st),
        |un AS (
        |  SELECT st.*, c_m,
        |    ((b - c_m) * weight) // (CASE WHEN tw - w_sat = 0 THEN 1 ELSE tw - w_sat END) AS q,
        |    ((b - c_m) * weight) % (CASE WHEN tw - w_sat = 0 THEN 1 ELSE tw - w_sat END) AS rem
        |  FROM st CROSS JOIN ms WHERE NOT sat),
        |rsum AS (SELECT coalesce(CAST(sum(q) AS BIGINT), 0) AS q_sum,
        |                coalesce(max(b - c_m), 0) AS pool FROM un),
        |alloc AS (
        |  SELECT source, weight, avail, sat,
        |    CAST(q + (CASE WHEN row_number() OVER (ORDER BY rem DESC, source) <= pool - q_sum
        |         THEN 1 ELSE 0 END) AS BIGINT) AS alloc
        |  FROM un CROSS JOIN rsum
        |  UNION ALL
        |  SELECT source, weight, avail, sat, avail FROM st WHERE sat)
        |SELECT source, weight, avail, alloc, sat AS saturated
        |FROM alloc ORDER BY source""".stripMargin,
    "corpus_mixture" ->
      """WITH b AS (SELECT doc_id,
        |    list_reduce(list_transform(range(1, 9),
        |      i -> (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1)::BIGINT),
        |      (a, x) -> a * 16 + x) % 100 AS bucket
        |  FROM documents),
        |s AS (SELECT doc_id,
        |    CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
        |  FROM b),
        |tok AS (SELECT d.doc_id, d.lang, s.split,
        |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents d JOIN s USING (doc_id))
        |SELECT lang, split, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |  floor(sum(n_tokens) / (SELECT CAST(sum(n_tokens) AS DOUBLE) FROM tok) * 10000 + 0.5) / 10000 AS token_share
        |FROM tok GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // Counts audit the PROGRESSIVELY-redacted text (each category counted
    // after the earlier ones were replaced, mirroring piiScrub's order), so
    // every count equals the number of its placeholders in `redacted`.
    "pii_scrub" ->
      """WITH aug AS (SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com from 10.' ||
        |    CAST(doc_id % 200 AS VARCHAR) || '.0.1 tel +44' || CAST(7000000 + doc_id AS VARCHAR) AS t
        |  FROM documents),
        |s1 AS (SELECT doc_id, t,
        |    regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
        |  FROM aug),
        |s2 AS (SELECT doc_id, t, t1,
        |    regexp_replace(t1, '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g') AS t2
        |  FROM s1)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(t1, '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS BIGINT) AS n_ipv4,
        |  CAST(len(regexp_extract_all(t2, '\+\d[\d\- ]{5,18}\d')) AS BIGINT) AS n_phones,
        |  regexp_replace(t2, '\+\d[\d\- ]{5,18}\d', '<PHONE>', 'g') AS redacted
        |FROM s2 ORDER BY doc_id""".stripMargin,
    "corpus_prep_pipeline" ->
      """WITH n AS (SELECT doc_id, lang,
        |    trim(regexp_replace(lower(regexp_replace(text, '(?i)https?://\S+', '', 'g')), '\s+', ' ', 'g')) AS norm
        |  FROM documents),
        |k AS (SELECT min(doc_id) AS keep_id FROM n GROUP BY md5(norm)),
        |q AS (SELECT doc_id, lang, norm,
        |    CAST(len(string_split(norm, ' ')) AS BIGINT) AS n_tokens,
        |    floor((CAST(len(list_filter(string_split(norm, ' '), t -> list_contains(['the','a','and','of','to'], t))) AS DOUBLE)
        |      / greatest(len(string_split(norm, ' ')), 1)) * 10000 + 0.5) / 10000 AS stop_ratio,
        |    floor((CASE WHEN length(norm) = 0 THEN 0.0
        |      ELSE CAST(length(norm) - length(regexp_replace(norm, '[0-9]', '', 'g')) AS DOUBLE) / length(norm) END) * 10000 + 0.5) / 10000 AS digit_ratio
        |  FROM n WHERE doc_id IN (SELECT keep_id FROM k)),
        |f AS (SELECT *, floor((least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.5
        |    + stop_ratio * 0.3 + (1.0 - digit_ratio) * 0.2) * 10000 + 0.5) / 10000 AS quality FROM q),
        |g AS (SELECT * FROM f WHERE quality >= 0.4),
        |b AS (SELECT *, list_reduce(list_transform(range(1, 9),
        |    i -> (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1)::BIGINT),
        |    (a, x) -> a * 16 + x) % 100 AS bucket FROM g),
        |s AS (SELECT *, CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split FROM b)
        |SELECT lang, split, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // The whole governance chain replayed stage by stage: normalize,
    // min-id exact dedup, 15-token excision (by span TEXT where the
    // engine uses digests), exhaustive 0.8 jaccard pairs + recursive
    // transitive closure for the near-dup victims (grading the LSH
    // path's recall along the way), 8-gram decontamination against the
    // held-out slice, the quality formula, the md5 split, and the
    // mixture rollup.
    "corpus_prep_full" -> (corpusPrepCtes + """,
        |g2 AS (SELECT * FROM f WHERE quality >= 0.4),
        |b2 AS (SELECT *, list_reduce(list_transform(range(1, 9),
        |    i -> (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1)::BIGINT),
        |    (a, x) -> a * 16 + x) % 100 AS bucket FROM g2),
        |s2 AS (SELECT *, CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split FROM b2)
        |SELECT lang, split, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM s2 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // Per-stage lineage replay off the SAME CTE chain — one definition,
    // two graded readouts.
    "corpus_prep_attrition" -> (corpusPrepCtes + """
        |SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS stage_ord, 'corpus' AS stage,
        |    CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(coalesce(sum(doc_id), 0) AS BIGINT) AS id_sum,
        |    CAST(coalesce(sum(len(string_split(norm, ' '))), 0) AS BIGINT) AS n_tokens
        |  FROM corp
        |  UNION ALL SELECT CAST(2 AS BIGINT), 'exact_dedup', CAST(count(*) AS BIGINT),
        |    CAST(coalesce(sum(doc_id), 0) AS BIGINT),
        |    CAST(coalesce(sum(len(string_split(norm, ' '))), 0) AS BIGINT) FROM ex
        |  UNION ALL SELECT CAST(3 AS BIGINT), 'substr_excision', CAST(count(*) AS BIGINT),
        |    CAST(coalesce(sum(doc_id), 0) AS BIGINT),
        |    CAST(coalesce(sum(len(string_split(txt, ' '))), 0) AS BIGINT) FROM exc
        |  UNION ALL SELECT CAST(4 AS BIGINT), 'near_dup', CAST(count(*) AS BIGINT),
        |    CAST(coalesce(sum(doc_id), 0) AS BIGINT),
        |    CAST(coalesce(sum(len(string_split(txt, ' '))), 0) AS BIGINT) FROM nd
        |  UNION ALL SELECT CAST(5 AS BIGINT), 'moss_match', CAST(count(*) AS BIGINT),
        |    CAST(coalesce(sum(doc_id), 0) AS BIGINT),
        |    CAST(coalesce(sum(len(string_split(txt, ' '))), 0) AS BIGINT) FROM moss
        |  UNION ALL SELECT CAST(6 AS BIGINT), 'decontam', CAST(count(*) AS BIGINT),
        |    CAST(coalesce(sum(doc_id), 0) AS BIGINT),
        |    CAST(coalesce(sum(len(string_split(txt, ' '))), 0) AS BIGINT) FROM cl
        |  UNION ALL SELECT CAST(7 AS BIGINT), 'quality_gate', CAST(count(*) AS BIGINT),
        |    CAST(coalesce(sum(doc_id), 0) AS BIGINT),
        |    CAST(coalesce(sum(n_tokens), 0) AS BIGINT) FROM f WHERE quality >= 0.4
        |) ORDER BY stage_ord""".stripMargin),
    "text_normalize" ->
      """WITH n AS (SELECT doc_id,
        |    trim(regexp_replace(lower(regexp_replace(text, '(?i)https?://\S+', '', 'g')), '\s+', ' ', 'g')) AS norm
        |  FROM documents)
        |SELECT doc_id, md5(norm) AS norm_md5, CAST(length(norm) AS BIGINT) AS n_chars_norm
        |FROM n ORDER BY doc_id""".stripMargin,
    "token_count" ->
      """SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(len(regexp_extract_all(text, '\p{L}+|\p{N}+|[^\p{L}\p{N}\s]+')) AS BIGINT) AS n_tokens_bpeish,
        |  CAST(length(text) AS BIGINT) AS n_chars_calc
        |FROM documents ORDER BY doc_id""".stripMargin,
    "dedup_groups" ->
      """WITH RECURSIVE docs AS (SELECT * FROM documents WHERE doc_id % 10 = 0),
        |toks AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok FROM docs),
        |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nt FROM toks GROUP BY 1),
        |prs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS shared
        |  FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |j AS (SELECT id_a, id_b,
        |  floor((CAST(shared AS DOUBLE) / (sa.nt + sb.nt - shared)) * 10000 + 0.5) / 10000 AS jaccard
        |  FROM prs JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id),
        |near AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.5),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM near UNION SELECT id_b, id_a FROM near),
        |reach(src, dst) AS (
        |  SELECT DISTINCT src, src FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
        |SELECT src AS id, min(dst) AS component FROM reach GROUP BY 1 ORDER BY 1""".stripMargin,
    "dedup_keep_best" ->
      """WITH RECURSIVE docs AS (SELECT * FROM documents WHERE doc_id % 10 = 0),
        |toks AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok FROM docs),
        |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nt FROM toks GROUP BY 1),
        |prs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS shared
        |  FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |jac AS (SELECT id_a, id_b,
        |  floor((CAST(shared AS DOUBLE) / (sa.nt + sb.nt - shared)) * 10000 + 0.5) / 10000 AS jaccard
        |  FROM prs JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id),
        |near AS (SELECT id_a, id_b FROM jac WHERE jaccard >= 0.8),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM near UNION SELECT id_b, id_a FROM near),
        |reach(src, dst) AS (
        |  SELECT DISTINCT src, src FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        |comp0 AS (SELECT src AS doc_id, min(dst) AS component FROM reach GROUP BY 1),
        |q AS (SELECT doc_id,
        |    floor((least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.5 + stop_ratio * 0.3 + (1.0 - digit_ratio) * 0.2) * 10000 + 0.5) / 10000 AS quality
        |  FROM (SELECT doc_id, n_tokens,
        |      floor((CAST(hits AS DOUBLE) / greatest(n_tokens, 1)) * 10000 + 0.5) / 10000 AS stop_ratio,
        |      floor((CASE WHEN lc = 0 THEN 0.0 ELSE CAST(lc - lnd AS DOUBLE) / lc END) * 10000 + 0.5) / 10000 AS digit_ratio
        |    FROM (SELECT doc_id,
        |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |        CAST(len(list_filter(string_split(text, ' '), t -> list_contains(['the','a','and','of','to'], t))) AS BIGINT) AS hits,
        |        length(text) AS lc,
        |        length(regexp_replace(text, '[0-9]', '', 'g')) AS lnd
        |      FROM docs))),
        |withc AS (SELECT q.doc_id, coalesce(c.component, q.doc_id) AS component, q.quality
        |  FROM q LEFT JOIN comp0 c ON q.doc_id = c.doc_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY component
        |    ORDER BY quality DESC, doc_id ASC) AS rn FROM withc)
        |SELECT component, doc_id AS keep_id, quality
        |FROM r WHERE rn = 1 ORDER BY component""".stripMargin,
    "neardup_safe_split" ->
      """WITH RECURSIVE docs AS (SELECT * FROM documents WHERE doc_id % 10 = 0),
        |toks AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok FROM docs),
        |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nt FROM toks GROUP BY 1),
        |prs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS shared
        |  FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |j AS (SELECT id_a, id_b,
        |  floor((CAST(shared AS DOUBLE) / (sa.nt + sb.nt - shared)) * 10000 + 0.5) / 10000 AS jaccard
        |  FROM prs JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id),
        |near AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.8),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM near UNION SELECT id_b, id_a FROM near),
        |reach(src, dst) AS (
        |  SELECT DISTINCT src, src FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        |comp0 AS (SELECT src AS doc_id, min(dst) AS component FROM reach GROUP BY 1),
        |withc AS (SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
        |  FROM docs d LEFT JOIN comp0 c ON d.doc_id = c.doc_id),
        |sp AS (SELECT doc_id, component,
        |    CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
        |  FROM (SELECT doc_id, component,
        |      list_reduce(list_transform(range(1, 9),
        |        i -> (strpos('0123456789abcdef', substr(md5(CAST(component AS VARCHAR)), i, 1)) - 1)::BIGINT),
        |        (a, x) -> a * 16 + x) % 100 AS bucket FROM withc)),
        |x AS (SELECT CAST(coalesce(sum(CASE WHEN sa.split <> sb.split THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_cross,
        |    CAST(count(*) AS BIGINT) AS n_pairs
        |  FROM near JOIN sp sa ON near.id_a = sa.doc_id JOIN sp sb ON near.id_b = sb.doc_id)
        |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT component) AS BIGINT) AS n_components, n_cross, n_pairs
        |FROM sp CROSS JOIN x GROUP BY split, n_cross, n_pairs ORDER BY split""".stripMargin,
    "dedup_keep_canonical" ->
      """WITH RECURSIVE docs AS (SELECT * FROM documents WHERE doc_id % 10 = 0),
        |toks AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok FROM docs),
        |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nt FROM toks GROUP BY 1),
        |prs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS shared
        |  FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |j AS (SELECT id_a, id_b,
        |  floor((CAST(shared AS DOUBLE) / (sa.nt + sb.nt - shared)) * 10000 + 0.5) / 10000 AS jaccard
        |  FROM prs JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id),
        |near AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.8),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM near UNION SELECT id_b, id_a FROM near),
        |reach(src, dst) AS (
        |  SELECT DISTINCT src, src FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        |comp AS (SELECT src AS id, min(dst) AS component FROM reach GROUP BY 1)
        |SELECT d.doc_id, d.lang, d.n_chars FROM docs d
        |WHERE d.doc_id NOT IN (SELECT id FROM comp WHERE id <> component)
        |ORDER BY d.doc_id""".stripMargin,
    "text_stats" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tok_total,
        |  floor((CAST(sum(n_chars) AS DOUBLE) / count(*)) * 10000 + 0.5) / 10000 AS chars_avg,
        |  floor((quantile_cont(n_chars, 0.90)) * 10000 + 0.5) / 10000 AS chars_p90
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "lang_id" ->
      """WITH s AS (SELECT doc_id,
        |  CAST(len(list_filter(string_split(text, ' '), t -> list_contains(['the','a','and','of','to'], t))) AS BIGINT) AS s_en,
        |  CAST(len(list_filter(string_split(text, ' '), t -> list_contains(['der','die','das','und','ist'], t))) AS BIGINT) AS s_de,
        |  CAST(len(list_filter(string_split(text, ' '), t -> list_contains(['el','la','de','los','y'], t))) AS BIGINT) AS s_es,
        |  CAST(len(list_filter(string_split(text, ' '), t -> list_contains(['le','les','et','des','une'], t))) AS BIGINT) AS s_fr
        |FROM documents)
        |SELECT doc_id, s_en, s_de, s_es, s_fr,
        |  CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
        |       WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
        |       WHEN s_es >= s_fr THEN 'es'
        |       ELSE 'fr' END AS lang_pred
        |FROM s ORDER BY doc_id""".stripMargin,
    // Kappa replay: the lang_id CASE as rater B, exact confusion
    // integers to the final divisions.
    "annotator_kappa" ->
      """WITH s AS (SELECT lang AS a,
        |  CAST(len(list_filter(string_split(text, ' '), t -> list_contains(['the','a','and','of','to'], t))) AS BIGINT) AS s_en,
        |  CAST(len(list_filter(string_split(text, ' '), t -> list_contains(['der','die','das','und','ist'], t))) AS BIGINT) AS s_de,
        |  CAST(len(list_filter(string_split(text, ' '), t -> list_contains(['el','la','de','los','y'], t))) AS BIGINT) AS s_es,
        |  CAST(len(list_filter(string_split(text, ' '), t -> list_contains(['le','les','et','des','une'], t))) AS BIGINT) AS s_fr
        |FROM documents WHERE lang IS NOT NULL AND text IS NOT NULL),
        |pr AS (SELECT a,
        |  CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
        |       WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
        |       WHEN s_es >= s_fr THEN 'es'
        |       ELSE 'fr' END AS b FROM s),
        |conf AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c FROM pr GROUP BY 1, 2),
        |na AS (SELECT CAST(sum(c) AS BIGINT) AS n,
        |    CAST(coalesce(sum(CASE WHEN a = b THEN c END), 0) AS BIGINT) AS agree FROM conf),
        |ra AS (SELECT a AS l, CAST(sum(c) AS BIGINT) AS ra FROM conf GROUP BY 1),
        |rb AS (SELECT b AS l, CAST(sum(c) AS BIGINT) AS rb FROM conf GROUP BY 1),
        |lab AS (SELECT CAST(count(*) AS BIGINT) AS n_labels FROM (SELECT l FROM ra UNION SELECT l FROM rb)),
        |e AS (SELECT CAST(coalesce(sum(ra.ra * rb.rb), 0) AS BIGINT) AS e FROM ra JOIN rb USING (l))
        |SELECT n, n_labels, agree,
        |  floor(CAST(agree AS DOUBLE) / CAST(n AS DOUBLE) * 10000 + 0.5) / 10000 AS po,
        |  floor(CAST(e AS DOUBLE) / CAST(n * n AS DOUBLE) * 10000 + 0.5) / 10000 AS pe,
        |  CASE WHEN n * n = e THEN NULL
        |    ELSE floor(CAST(n * agree - e AS DOUBLE) / CAST(n * n - e AS DOUBLE) * 10000 + 0.5) / 10000 END AS kappa
        |FROM na, lab, e""".stripMargin,
    "quality_score" ->
      """WITH t AS (SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(len(list_filter(string_split(text, ' '), t -> list_contains(['the','a','and','of','to'], t))) AS BIGINT) AS hits,
        |  length(text) AS lc,
        |  length(regexp_replace(text, '[0-9]', '', 'g')) AS lnd
        |FROM documents),
        |r AS (SELECT doc_id, n_tokens,
        |  floor((CAST(hits AS DOUBLE) / greatest(n_tokens, 1)) * 10000 + 0.5) / 10000 AS stop_ratio,
        |  floor((CASE WHEN lc = 0 THEN 0.0 ELSE CAST(lc - lnd AS DOUBLE) / lc END) * 10000 + 0.5) / 10000 AS digit_ratio
        |FROM t)
        |SELECT doc_id, n_tokens, stop_ratio, digit_ratio,
        |  floor((least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.5 + stop_ratio * 0.3 + (1.0 - digit_ratio) * 0.2) * 10000 + 0.5) / 10000 AS quality
        |FROM r ORDER BY doc_id""".stripMargin,
    // Quality replay (the model_quality_gate stages, 4-dp stage rounding
    // included) + integer binning + the embed_drift_psi PSI arithmetic.
    "quality_drift_psi" ->
      """WITH t0 AS (SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    CAST(len(list_filter(string_split(text, ' '), t -> list_contains(['the','a','and','of','to'], t))) AS BIGINT) AS hits,
        |    length(text) AS lc,
        |    length(regexp_replace(text, '[0-9]', '', 'g')) AS lnd
        |  FROM documents WHERE lang IS NOT NULL),
        |r AS (SELECT doc_id, lang, n_tokens,
        |    floor((CAST(hits AS DOUBLE) / greatest(n_tokens, 1)) * 10000 + 0.5) / 10000 AS stop_ratio,
        |    floor((CASE WHEN lc = 0 THEN 0.0 ELSE CAST(lc - lnd AS DOUBLE) / lc END) * 10000 + 0.5) / 10000 AS digit_ratio
        |  FROM t0),
        |q AS (SELECT doc_id, lang,
        |    least((CAST(floor((least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.5 + stop_ratio * 0.3 + (1.0 - digit_ratio) * 0.2) * 10000 + 0.5) AS BIGINT) * 20) // 10000, 19) AS bin
        |  FROM r),
        |ha AS (SELECT lang, bin, CAST(count(*) AS BIGINT) AS ca FROM q WHERE doc_id % 2 = 0 GROUP BY 1, 2),
        |hb AS (SELECT lang, bin, CAST(count(*) AS BIGINT) AS cb FROM q WHERE doc_id % 2 = 1 GROUP BY 1, 2),
        |j AS (SELECT lang, bin, coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
        |  FROM ha FULL OUTER JOIN hb USING (lang, bin)),
        |tt AS (SELECT lang, CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb,
        |    CAST(count(*) AS BIGINT) AS n_bins FROM j GROUP BY 1),
        |terms AS (SELECT j.lang,
        |    CAST(floor((CAST(ca + 1 AS DOUBLE) / (na + n_bins) - CAST(cb + 1 AS DOUBLE) / (nb + n_bins))
        |      * ln((CAST(ca + 1 AS DOUBLE) / (na + n_bins)) / (CAST(cb + 1 AS DOUBLE) / (nb + n_bins))) * 1000000 + 0.5) AS BIGINT) AS tm,
        |    n_bins, na, nb
        |  FROM j JOIN tt USING (lang))
        |SELECT lang, min(n_bins) AS n_bins, min(na) AS n_a, min(nb) AS n_b,
        |  floor((CAST(sum(tm) AS DOUBLE) / 1000000) * 10000 + 0.5) / 10000 AS psi
        |FROM terms GROUP BY 1 ORDER BY 1""".stripMargin,
    // The deployed gate replayed: the SAME quality pipeline and PSI
    // arithmetic, once per deterministic (doc_id div 10) % 3 batch stamp
    // against the frozen doc_id%10==0 reference histogram.
    "stream_quality_psi" ->
      """WITH t0 AS (SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    CAST(len(list_filter(string_split(text, ' '), t -> list_contains(['the','a','and','of','to'], t))) AS BIGINT) AS hits,
        |    length(text) AS lc,
        |    length(regexp_replace(text, '[0-9]', '', 'g')) AS lnd
        |  FROM documents WHERE lang IS NOT NULL),
        |r AS (SELECT doc_id, lang, n_tokens,
        |    floor((CAST(hits AS DOUBLE) / greatest(n_tokens, 1)) * 10000 + 0.5) / 10000 AS stop_ratio,
        |    floor((CASE WHEN lc = 0 THEN 0.0 ELSE CAST(lc - lnd AS DOUBLE) / lc END) * 10000 + 0.5) / 10000 AS digit_ratio
        |  FROM t0),
        |q AS (SELECT doc_id, lang,
        |    least((CAST(floor((least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.5 + stop_ratio * 0.3 + (1.0 - digit_ratio) * 0.2) * 10000 + 0.5) AS BIGINT) * 20) // 10000, 19) AS bin
        |  FROM r),
        |ha AS (SELECT lang, bin, CAST(count(*) AS BIGINT) AS ca FROM q WHERE doc_id % 10 = 0 GROUP BY 1, 2),
        |bq AS (SELECT (doc_id // 10) % 3 AS batch_id, lang, bin FROM q WHERE doc_id % 10 = 5),
        |bids AS (SELECT DISTINCT batch_id FROM bq),
        |hb AS (SELECT batch_id, lang, bin, CAST(count(*) AS BIGINT) AS cb FROM bq GROUP BY 1, 2, 3),
        |hab AS (SELECT batch_id, lang, bin, ca FROM ha CROSS JOIN bids),
        |j AS (SELECT batch_id, lang, bin, coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
        |  FROM hab FULL OUTER JOIN hb USING (batch_id, lang, bin)),
        |tt AS (SELECT batch_id, lang, CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb,
        |    CAST(count(*) AS BIGINT) AS n_bins FROM j GROUP BY 1, 2),
        |terms AS (SELECT j.batch_id, j.lang,
        |    CAST(floor((CAST(ca + 1 AS DOUBLE) / (na + n_bins) - CAST(cb + 1 AS DOUBLE) / (nb + n_bins))
        |      * ln((CAST(ca + 1 AS DOUBLE) / (na + n_bins)) / (CAST(cb + 1 AS DOUBLE) / (nb + n_bins))) * 1000000 + 0.5) AS BIGINT) AS tm,
        |    n_bins, na, nb
        |  FROM j JOIN tt USING (batch_id, lang))
        |SELECT CAST(batch_id AS BIGINT) AS batch_id, lang,
        |  min(n_bins) AS n_bins, min(na) AS n_a, min(nb) AS n_b,
        |  floor((CAST(sum(tm) AS DOUBLE) / 1000000) * 10000 + 0.5) / 10000 AS psi
        |FROM terms GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "repetition_signals" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |b AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |    floor((CAST(len(toks) - len(list_distinct(toks)) AS DOUBLE) / len(toks)) * 10000 + 0.5) / 10000 AS dup_token_ratio,
        |    list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1]) AS grams
        |  FROM t),
        |g AS (SELECT doc_id, n_tokens, dup_token_ratio,
        |    CASE WHEN len(grams) = 0 THEN 0.0
        |         ELSE floor((CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE) / len(grams)) * 10000 + 0.5) / 10000 END AS dup_2gram_ratio
        |  FROM b),
        |m AS (SELECT doc_id, max(c) AS max_tok FROM (
        |    SELECT doc_id, tok, count(*) AS c
        |    FROM (SELECT doc_id, unnest(toks) AS tok FROM t) GROUP BY 1, 2)
        |  GROUP BY 1)
        |SELECT g.doc_id, n_tokens, dup_token_ratio, dup_2gram_ratio,
        |  floor((CAST(max_tok AS DOUBLE) / n_tokens) * 10000 + 0.5) / 10000 AS max_token_ratio
        |FROM g JOIN m ON g.doc_id = m.doc_id ORDER BY g.doc_id""".stripMargin,
    "doc_fingerprint" ->
      """SELECT doc_id, CAST(sum((ord(t) * 131 + length(t)) * pos) % 1000000007 AS BIGINT) AS fingerprint
        |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t,
        |      generate_subscripts(string_split(text, ' '), 1) AS pos FROM documents)
        |GROUP BY 1 ORDER BY doc_id""".stripMargin,
    "asof_join_rates" ->
      """WITH rates AS (
        |  SELECT event_type AS dim, date_trunc('week', ts) AS wk,
        |    floor((quantile_cont(CAST(floor(value * 100 + 0.5) AS BIGINT), 0.5) / 100.0) * 10000 + 0.5) / 10000 AS rate
        |  FROM events GROUP BY 1, 2)
        |SELECT e.event_id, e.event_type, r.rate AS asof_value
        |FROM events e ASOF LEFT JOIN rates r
        |  ON e.event_type = r.dim AND e.ts >= r.wk
        |ORDER BY e.event_id""".stripMargin,
    "pivot_events" ->
      """SELECT date_trunc('week', ts) AS week,
        |  count(*) FILTER (WHERE event_type = 'click') AS click,
        |  count(*) FILTER (WHERE event_type = 'error') AS error,
        |  count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |  count(*) FILTER (WHERE event_type = 'signup') AS signup,
        |  count(*) FILTER (WHERE event_type = 'view') AS view
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "media_metadata" ->
      """SELECT doc_id AS media_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  md5(text) AS content_md5
        |FROM documents ORDER BY media_id""".stripMargin,
    "dedup_exact" ->
      """SELECT md5(text) AS text_md5, min(doc_id) AS keep_id, CAST(count(*) AS BIGINT) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin,
    "near_dup_jaccard" ->
      """WITH docs AS (SELECT * FROM documents WHERE doc_id % 10 = 0 AND doc_id < 10000),
        |toks AS (SELECT doc_id, lang, unnest(list_distinct(string_split(text, ' '))) AS tok FROM docs),
        |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nt FROM toks GROUP BY 1),
        |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS shared
        |  FROM toks a JOIN toks b ON a.lang = b.lang AND a.tok = b.tok AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |j AS (SELECT id_a, id_b, shared,
        |  floor((CAST(shared AS DOUBLE) / (sa.nt + sb.nt - shared)) * 10000 + 0.5) / 10000 AS jaccard
        |  FROM pairs JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id)
        |SELECT id_a, id_b, shared, jaccard FROM j WHERE jaccard >= 0.5 ORDER BY id_a, id_b""".stripMargin,
    "containment_pairs" ->
      """WITH docs AS (SELECT * FROM documents WHERE doc_id % 10 = 0 AND doc_id < 10000),
        |toks AS (SELECT doc_id, lang, unnest(list_distinct(string_split(text, ' '))) AS tok FROM docs),
        |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nt FROM toks GROUP BY 1),
        |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS shared
        |  FROM toks a JOIN toks b ON a.lang = b.lang AND a.tok = b.tok AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |c AS (SELECT id_a, id_b, shared,
        |  floor((CAST(shared AS DOUBLE) / least(sa.nt, sb.nt)) * 10000 + 0.5) / 10000 AS containment,
        |  CASE WHEN sa.nt < sb.nt THEN id_a WHEN sb.nt < sa.nt THEN id_b ELSE id_a END AS contained_id
        |  FROM pairs JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id)
        |SELECT id_a, id_b, shared, containment, contained_id FROM c
        |WHERE containment >= 0.8 ORDER BY id_a, id_b""".stripMargin,
    "fuzzy_match_pairs" ->
      """WITH s AS (SELECT doc_id, lang, substr(text, 1, 80) AS head
        |  FROM documents WHERE doc_id % 10 = 0 AND doc_id < 10000
        |    AND length(text) = octet_length(encode(text)))
        |SELECT a.lang, a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(levenshtein(a.head, b.head) AS BIGINT) AS edit_dist
        |FROM s a JOIN s b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |WHERE levenshtein(a.head, b.head) <= 55
        |ORDER BY a.lang, id_a, id_b""".stripMargin,
    // The LSH-verified pair list must equal the exhaustive exact-jaccard
    // pair set on its (disjoint, capped) slice — no semantic block in the
    // Spark plan; the oracle's lang equi-join is absent here deliberately.
    "minhash_lsh_pairs" ->
      """WITH docs AS (SELECT * FROM documents WHERE doc_id % 10 = 1 AND doc_id < 10000),
        |toks AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok FROM docs),
        |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nt FROM toks GROUP BY 1),
        |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS shared
        |  FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |j AS (SELECT id_a, id_b, shared,
        |  floor((CAST(shared AS DOUBLE) / (sa.nt + sb.nt - shared)) * 10000 + 0.5) / 10000 AS jaccard
        |  FROM pairs JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id)
        |SELECT id_a, id_b, shared, jaccard FROM j WHERE jaccard >= 0.5 ORDER BY id_a, id_b""".stripMargin,
    // The incremental run's contract IS the full-corpus truth: same
    // slice, same exhaustive exact-jaccard oracle as minhash_lsh_pairs —
    // a pair the manifest probe missed (or invented) hash-fails here.
    "incremental_neardup" -> incrementalNeardupOracle,
    // Identical truth for the bucketed-manifest variant: the persisted
    // layout must change the PLAN (zero manifest-side exchange), never
    // the answer.
    "incremental_neardup_bucketed" -> incrementalNeardupOracle,
    // ...and for the fully-persisted variant (manifest + known pairs
    // both read back): storage format is a plan property, the answer
    // contract is the same exhaustive truth.
    "incremental_neardup_persisted" -> incrementalNeardupOracle,
    // Streaming-incremental == batch-incremental == full: the one truth
    // oracle grades all three layouts of the same contract.
    "stream_neardup_incremental" -> incrementalNeardupOracle,
    // Replays the md5-fold fingerprint (two 32-bit halves, per-occurrence
    // ±1 votes per bit) and the brute-force Hamming scan the pigeonhole
    // banding provably equals. list(h) aggregation order is arbitrary but
    // the vote sum is an integer total — order-insensitive, so the
    // fingerprints are engine-exact.
    "simhash_quality" ->
      simhashBruteOracle("WHERE doc_id % 10 = 0 AND doc_id < 10000", 7),
    // Full-corpus truth at the production radius: DuckDB refolds every
    // document's md5 fingerprint and brute-forces all pairs — quadratic is
    // fine oracle-side at sf0.01 (the engine side stays the banded join).
    "simhash_hamming" -> simhashBruteOracle("", 3),
    // Incremental == full on the Hamming tier: same brute-force oracle.
    "incremental_simhash" -> simhashBruteOracle("", 3),
    // same truth for the persisted-state variant: storage layout is a
    // plan property, never the answer
    "incremental_simhash_persisted" -> simhashBruteOracle("", 3),
    // Streaming == batch-incremental == full == brute truth, one oracle.
    "stream_simhash_incremental" -> simhashBruteOracle("", 3),
    "knn_cosine_topk" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id < 10),
        |p AS (SELECT qid, e.vec_id AS cid, list_cosine_similarity(qe, CAST(e.embedding AS DOUBLE[])) AS cos
        |  FROM q, embeddings e WHERE e.vec_id <> qid),
        |r AS (SELECT qid, cid, cos, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk FROM p)
        |SELECT qid, cid, rnk, floor((cos) * 10000 + 0.5) / 10000 AS cos_sim
        |FROM r WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin,
    "knn_ivf_sq8" -> ivfSq8Oracle,
    // Full replay of BOTH ranking passes: the integer code-space top-3
    // (shared per-dim codebook) and the micro-quantized float truth,
    // then the overlap — every ranked row and the recall hash-match.
    "knn_sq8_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |x AS (SELECT unnest(range(1, len(v)+1)) AS pos, unnest(list_transform(range(1, len(v)+1), i -> v[CAST(i AS INTEGER)])) AS x FROM e),
        |cbd AS (SELECT pos, min(x) AS mn, max(x) AS mx FROM x GROUP BY 1),
        |cb AS (SELECT list(mn ORDER BY pos) AS mns, list((mx - mn) / 255.0 ORDER BY pos) AS scs FROM cbd),
        |codes AS (SELECT vec_id, v,
        |    list_transform(range(1, len(v)+1), i -> CASE WHEN scs[CAST(i AS INTEGER)] = 0 THEN 0::BIGINT
        |      ELSE greatest(0::BIGINT, least(255::BIGINT, CAST(floor((v[CAST(i AS INTEGER)] - mns[CAST(i AS INTEGER)]) / scs[CAST(i AS INTEGER)] + 0.5) AS BIGINT))) END) AS qv
        |  FROM e CROSS JOIN cb),
        |qs AS (SELECT * FROM codes WHERE vec_id < 10),
        |p AS (SELECT qs.vec_id AS qid, c.vec_id AS cid,
        |    CAST(list_sum(list_transform(range(1, len(qs.qv)+1), i -> (qs.qv[CAST(i AS INTEGER)] - c.qv[CAST(i AS INTEGER)]) * (qs.qv[CAST(i AS INTEGER)] - c.qv[CAST(i AS INTEGER)]))) AS BIGINT) AS d2,
        |    CAST(floor(list_reduce(list_prepend(0.0, list_transform(range(1, len(qs.v)+1), i -> (qs.v[CAST(i AS INTEGER)] - c.v[CAST(i AS INTEGER)]) * (qs.v[CAST(i AS INTEGER)] - c.v[CAST(i AS INTEGER)]))), (a, b) -> a + b) * 1000000 + 0.5) AS BIGINT) AS fq2
        |  FROM qs, codes c WHERE c.vec_id <> qs.vec_id),
        |r1 AS (SELECT qid, cid, d2, row_number() OVER (PARTITION BY qid ORDER BY d2, cid) AS rnk FROM p),
        |r2 AS (SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY fq2, cid) AS rnk FROM p),
        |s1 AS (SELECT qid, CAST(rnk AS BIGINT) AS rnk, cid, d2 FROM r1 WHERE rnk <= 3),
        |s2 AS (SELECT qid, cid FROM r2 WHERE rnk <= 3),
        |rc AS (SELECT s1.qid AS rqid, count(s2.cid) AS m FROM s1 LEFT JOIN s2 ON s1.qid = s2.qid AND s1.cid = s2.cid GROUP BY 1)
        |SELECT qid, rnk, cid, d2,
        |  floor((CAST(m AS DOUBLE) / 3) * 10000 + 0.5) / 10000 AS recall_k
        |FROM s1 JOIN rc ON s1.qid = rc.rqid ORDER BY qid, rnk""".stripMargin,
    "mutual_knn_pairs" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings WHERE vec_id % 10 = 0),
        |p AS (SELECT a.vec_id AS qid, b.vec_id AS cid,
        |    CAST(floor(list_cosine_similarity(a.e, b.e) * 10000 + 0.5) AS BIGINT) AS cq
        |  FROM v a, v b WHERE a.vec_id <> b.vec_id),
        |r AS (SELECT qid, cid, cq, row_number() OVER (PARTITION BY qid ORDER BY cq DESC, cid) AS rnk FROM p),
        |t1 AS (SELECT qid, cid, cq FROM r WHERE rnk = 1)
        |SELECT a.qid AS id_a, a.cid AS id_b, CAST(a.cq AS DOUBLE) / 10000.0 AS cos_sim
        |FROM t1 a JOIN t1 b ON a.qid = b.cid AND a.cid = b.qid
        |WHERE a.qid < a.cid ORDER BY id_a""".stripMargin,
    // ANN recall contracts: the oracle knows the exact top-k exists
    // (n_true) and demands recall_ok=TRUE; the ANN result itself is
    // engine-side, so its quality claim is the hash-gated boolean.
    "knn_lsh_topk" ->
      """SELECT vec_id AS qid, CAST(3 AS BIGINT) AS n_true, TRUE AS recall_ok
        |FROM embeddings WHERE vec_id < 10 ORDER BY qid""".stripMargin,
    "knn_ivf_topk" ->
      """SELECT vec_id AS qid, CAST(3 AS BIGINT) AS n_true, TRUE AS recall_ok
        |FROM embeddings WHERE vec_id < 10 ORDER BY qid""".stripMargin,
    // Incremental IVF: same recall-floor convention, plus the
    // append == full-rebuild set identity as a hash-gated boolean.
    "incremental_ivf_append" ->
      """SELECT vec_id AS qid, CAST(3 AS BIGINT) AS n_true, TRUE AS recall_ok,
        |  TRUE AS append_equals_full
        |FROM embeddings WHERE vec_id < 10 ORDER BY qid""".stripMargin,
    // Same contract shape one compression level up: the engine measures
    // plain-ADC recall from the grown code table (floor 0.2) and the
    // append == full-re-encode set identity; the oracle pins both claims
    // plus the exact-truth row count.
    "incremental_ivfadc_append" ->
      """SELECT vec_id AS qid, CAST(10 AS BIGINT) AS n_true, TRUE AS recall_ok,
        |  TRUE AS append_equals_full
        |FROM embeddings WHERE vec_id IN (1, 2, 3) ORDER BY qid""".stripMargin,
    // MinHash quality: n_truth is the exhaustive exact-jaccard pair count
    // (recomputed here), and the recall / estimator-error floors must hold.
    "minhash_quality" ->
      """WITH docs AS (SELECT * FROM documents WHERE doc_id % 10 = 0 AND doc_id < 10000),
        |toks AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok FROM docs),
        |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nt FROM toks GROUP BY 1),
        |prs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS shared
        |  FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |j AS (SELECT id_a, id_b,
        |  floor((CAST(shared AS DOUBLE) / (sa.nt + sb.nt - shared)) * 10000 + 0.5) / 10000 AS jaccard
        |  FROM prs JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id)
        |SELECT CAST(count(*) AS BIGINT) AS n_truth, TRUE AS recall_ok, TRUE AS est_err_ok
        |FROM j WHERE jaccard >= 0.5""".stripMargin,
    // The fake decoder is a deterministic wrapping byte fold — replayed
    // once in the shared decoderFoldCte (HUGEINT arithmetic mod 2^64).
    "media_decode_meta" ->
      (decoderFoldCte +
        """
          |SELECT media_id, 'text/plain' AS mime, n_bytes, width, height, duration_ms
          |FROM decoded ORDER BY media_id""".stripMargin),
    // Shared decoder replay, then the same timestamp grid the
    // explode(sequence(...)) generator emits.
    "frame_sample" ->
      (decoderFoldCte +
        """
          |SELECT media_id, unnest(range(0, duration_ms, 60000)) AS frame_ms
          |FROM decoded WHERE duration_ms > 0
          |ORDER BY media_id, frame_ms""".stripMargin),
    // Frame-dedup replay: the same sampled-frame grid; frame i digests
    // its own 100-byte window (char substr == byte substr on this ascii
    // corpus — the decoder fold's own guard), windows past the media end
    // skipped; the same duplicate rollup with a min-(media, frame)
    // keeper.
    "frame_dedup" ->
      (decoderFoldCte +
        """,
          |fr AS (SELECT media_id, unnest(range(0, duration_ms, 60000)) AS frame_ms
          |  FROM decoded WHERE duration_ms > 0),
          |dg AS (SELECT fr.media_id, fr.frame_ms,
          |    md5(substr(d.text, CAST((fr.frame_ms // 60000) * 100 + 1 AS INTEGER), 100)) AS digest
          |  FROM fr JOIN documents d ON fr.media_id = d.doc_id
          |  WHERE length(d.text) > (fr.frame_ms // 60000) * 100),
          |g AS (SELECT digest, CAST(count(*) AS BIGINT) AS n_frames,
          |    CAST(count(DISTINCT media_id) AS BIGINT) AS n_media,
          |    min(media_id) AS keep_media
          |  FROM dg GROUP BY 1 HAVING count(*) > 1)
          |SELECT g.digest, g.n_frames, g.n_media, g.keep_media,
          |  (SELECT min(frame_ms) FROM dg
          |   WHERE dg.digest = g.digest AND dg.media_id = g.keep_media) AS keep_frame_ms
          |FROM g ORDER BY digest""".stripMargin),
    // aHash replay: same 64-byte windows, same integer above-mean bit
    // fold, brute-force Hamming truth at radius 3 (the quadratic scan is
    // oracle-side only; the engine runs the banded join).
    "frame_neardup_ahash" -> frameNeardupOracle,
    // Lossless pigeonhole banding: incremental == full == brute truth,
    // one oracle (the stream_simhash_incremental argument, frame tier).
    "incremental_frame_neardup" -> frameNeardupOracle,
    // streaming == batch-incremental == full == brute truth: lossless
    // pigeonhole banding lets the fourth streaming loop grade against
    // the exact Hamming scan like its batch siblings.
    "stream_frame_incremental" -> frameNeardupOracle,
    "media_resize" ->
      (decoderFoldCte +
        """
          |SELECT media_id, width, height,
          |  CAST(greatest(floor(width * least(256.0 / width, 256.0 / height, 1.0)), 1) AS BIGINT) AS target_w,
          |  CAST(greatest(floor(height * least(256.0 / width, 256.0 / height, 1.0)), 1) AS BIGINT) AS target_h
          |FROM decoded ORDER BY media_id""".stripMargin),
    // Feature extraction is engine-side; the oracle checks the structural
    // contract (width, [0,1) range) as hash-gated values, mirroring the
    // Spark side's null flow (null bytes → null features → null dim/flag).
    "media_features" ->
      """SELECT doc_id AS media_id,
        |  CASE WHEN text IS NULL THEN NULL ELSE CAST(8 AS BIGINT) END AS dim,
        |  CASE WHEN text IS NULL THEN NULL ELSE TRUE END AS range_ok
        |FROM documents ORDER BY media_id""".stripMargin,
    "union_stack" ->
      """WITH ev AS (
        |  SELECT date_trunc('week', ts) AS week, event_type AS dim,
        |    count(DISTINCT event_id) AS transactions,
        |    CASE WHEN count(__cents) = 0 THEN NULL ELSE floor((CAST(sum(__cents) AS DOUBLE) / 100.0 / count(__cents)) * 10000 + 0.5) / 10000 END AS price_mean,
        |    floor((quantile_cont(__cents, 0.5) / 100.0) * 10000 + 0.5) / 10000 AS price_median,
        |    floor((quantile_cont(__cents, 0.10) / 100.0) * 10000 + 0.5) / 10000 AS price_p10,
        |    floor((quantile_cont(__cents, 0.90) / 100.0) * 10000 + 0.5) / 10000 AS price_p90,
        |    'events' AS src
        |  FROM (SELECT *, CAST(floor(value * 100 + 0.5) AS BIGINT) AS __cents FROM events) e
        |  GROUP BY 1, 2),
        |orx AS (
        |  SELECT date_trunc('week', o_orderdate) AS week, o_orderpriority AS dim,
        |    count(DISTINCT o_orderkey) AS transactions,
        |    CASE WHEN count(__cents) = 0 THEN NULL ELSE floor((CAST(sum(__cents) AS DOUBLE) / 100.0 / count(__cents)) * 10000 + 0.5) / 10000 END AS price_mean,
        |    floor((quantile_cont(__cents, 0.5) / 100.0) * 10000 + 0.5) / 10000 AS price_median,
        |    floor((quantile_cont(__cents, 0.10) / 100.0) * 10000 + 0.5) / 10000 AS price_p10,
        |    floor((quantile_cont(__cents, 0.90) / 100.0) * 10000 + 0.5) / 10000 AS price_p90,
        |    'orders' AS src
        |  FROM (SELECT *, CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS __cents FROM orders) o
        |  GROUP BY 1, 2)
        |SELECT * FROM (SELECT * FROM ev UNION ALL SELECT * FROM orx)
        |ORDER BY src, week, dim""".stripMargin,
    "sessionize_events" ->
      """WITH s AS (SELECT user_id, ts, event_id,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |f AS (SELECT user_id, ts, event_id,
        |    CASE WHEN prev IS NULL OR epoch_ms(ts) - epoch_ms(prev) > 1800000
        |         THEN 1 ELSE 0 END AS newf
        |  FROM s),
        |g AS (SELECT user_id, ts,
        |    CAST(sum(newf) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM f)
        |SELECT user_id, session_id, CAST(count(*) AS BIGINT) AS n_events,
        |  min(ts) AS t_start, max(ts) AS t_end
        |FROM g GROUP BY 1, 2 ORDER BY user_id, session_id""".stripMargin,
    "interval_join_sessions" ->
      """WITH s AS (SELECT user_id, ts, event_id,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |f AS (SELECT user_id, ts, event_id,
        |    CASE WHEN prev IS NULL OR epoch_ms(ts) - epoch_ms(prev) > 1800000
        |         THEN 1 ELSE 0 END AS newf
        |  FROM s),
        |g AS (SELECT user_id, ts, event_id,
        |    CAST(sum(newf) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM f),
        |sess AS (SELECT user_id AS s_user, session_id,
        |    min(ts) AS t_start, max(ts) AS t_end FROM g GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, sess.session_id
        |FROM events e JOIN sess
        |  ON e.user_id = sess.s_user AND e.ts BETWEEN sess.t_start AND sess.t_end
        |ORDER BY e.event_id""".stripMargin,
    // Emission cutoff replayed: append mode finalizes a window once the
    // watermark (epoch_ms(max ts) − 1 day) passes its end. The boundary
    // case (watermark landing exactly on a week end) is measure-zero on
    // micros-precision event time.
    "stream_weekly_hll" ->
      """WITH e AS (SELECT user_id, ts FROM events
        |    WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |wm AS (SELECT epoch_ms(max(ts)) - 86400000 AS w FROM e),
        |x AS (SELECT CAST(date_trunc('week', ts) AS TIMESTAMP) AS week,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS users_exact,
        |    epoch_ms(CAST(date_trunc('week', ts) AS TIMESTAMP) + INTERVAL 7 DAY) AS end_ms
        |  FROM e GROUP BY 1)
        |SELECT week, users_exact, TRUE AS hll_ok FROM x, wm
        |WHERE end_ms <= w ORDER BY week""".stripMargin,
    // Batch replay of the enrich-then-rollup: same dim VALUES, same week
    // alignment, same watermark-final emission cutoff as the HLL stream —
    // but counts/sums are exact, so the grade is a plain hash match.
    "stream_static_enrich" ->
      """WITH dim(event_type, category) AS (VALUES ('click', 'engagement'),
        |    ('view', 'engagement'), ('purchase', 'revenue'),
        |    ('signup', 'acquisition'), ('error', 'ops')),
        |e AS (SELECT * FROM events WHERE ts IS NOT NULL),
        |wm AS (SELECT epoch_ms(max(ts)) - 86400000 AS w FROM e),
        |x AS (SELECT CAST(date_trunc('week', ts) AS TIMESTAMP) AS week, category,
        |    CAST(count(*) AS BIGINT) AS events,
        |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents,
        |    epoch_ms(CAST(date_trunc('week', ts) AS TIMESTAMP) + INTERVAL 7 DAY) AS end_ms
        |  FROM e JOIN dim USING (event_type) GROUP BY 1, 2)
        |SELECT week, category, events, cents FROM x, wm
        |WHERE end_ms <= w ORDER BY week, category""".stripMargin,
    // Stream/batch agreement: the batch sessionize computation restricted
    // to sessions the final watermark (epoch_ms(max ts) − 1 h) closed —
    // end + gap at-or-before the watermark, the inclusive boundary the
    // streaming operator's late-row semantics make exact. Bounds truncate
    // to ms (the streaming state's java.sql.Timestamp precision).
    "stream_sessions_final" ->
      """WITH e AS (SELECT user_id, ts, event_id FROM events
        |    WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |wm AS (SELECT epoch_ms(max(ts)) - 3600000 AS w FROM e),
        |s AS (SELECT user_id, ts, event_id,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM e),
        |f AS (SELECT user_id, ts, event_id,
        |    CASE WHEN prev IS NULL OR epoch_ms(ts) - epoch_ms(prev) > 1800000
        |         THEN 1 ELSE 0 END AS newf
        |  FROM s),
        |g AS (SELECT user_id, ts,
        |    CAST(sum(newf) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
        |  FROM f),
        |h AS (SELECT user_id, sid,
        |    date_trunc('milliseconds', min(ts)) AS t_start,
        |    date_trunc('milliseconds', max(ts)) AS t_end,
        |    epoch_ms(max(ts)) AS end_ms,
        |    CAST(count(*) AS BIGINT) AS n_events
        |  FROM g GROUP BY 1, 2)
        |SELECT user_id, t_start, t_end, n_events FROM h, wm
        |WHERE end_ms + 1800000 <= w
        |ORDER BY user_id, t_start""".stripMargin,
    "stream_join_attribution" ->
      """SELECT l.event_id AS click_id, l.ts AS click_ts,
        |  r.event_id AS purchase_id, r.ts AS purchase_ts, l.user_id
        |FROM events l JOIN events r
        |  ON l.user_id = r.user_id AND r.ts >= l.ts
        |  AND r.ts <= l.ts + INTERVAL 1 HOUR
        |WHERE l.event_type = 'click' AND r.event_type = 'purchase'
        |ORDER BY click_id, purchase_id""".stripMargin,
    // Null-side replay: unmatched-in-window clicks whose join window
    // closed under the final GLOBAL watermark. Each side's watermark
    // node sees only its own filtered stream, so the global watermark is
    // min(max click ts, max purchase ts) − 2 h — pinned empirically
    // (the last click itself is held: its own arrival defines the
    // click-side watermark, which can never pass it).
    "stream_join_unmatched" ->
      """WITH mx AS (SELECT least(
        |    max(ts) FILTER (WHERE event_type = 'click'),
        |    max(ts) FILTER (WHERE event_type = 'purchase')) AS m FROM events),
        |c AS (SELECT event_id, ts, user_id FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase')
        |SELECT c.event_id AS click_id, c.ts AS click_ts, c.user_id
        |FROM c, mx
        |WHERE NOT EXISTS (SELECT 1 FROM p WHERE p.user_id = c.user_id
        |    AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR)
        |  AND c.ts + INTERVAL 1 HOUR < mx.m - INTERVAL 2 HOURS
        |ORDER BY click_id""".stripMargin,
    // Inclusive-prefix running moments per event_type in (ts, event_id)
    // order — the batch replay of the streaming Welford fold (ddof=1,
    // std==0/n<2 → z=0).
    "stream_zscore" ->
      """WITH e AS (SELECT event_type, event_id, ts, value FROM events
        |    WHERE event_type IS NOT NULL AND value IS NOT NULL
        |      AND event_id IS NOT NULL AND ts IS NOT NULL),
        |w AS (SELECT event_type, event_id, value,
        |    avg(value) OVER pw AS m,
        |    stddev_samp(value) OVER pw AS sd,
        |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS BIGINT) AS n_seen
        |  FROM e
        |  WINDOW pw AS (PARTITION BY event_type ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT event_type, event_id, value,
        |  CASE WHEN n_seen < 2 OR sd IS NULL OR sd = 0 THEN 0.0
        |       ELSE floor(((value - m) / sd) * 10000 + 0.5) / 10000 END AS z,
        |  n_seen
        |FROM w ORDER BY event_type, event_id""".stripMargin,
    // One survivor per digest is the deterministic dedup invariant: the
    // per-type survivor count equals the distinct coarsened-content count.
    // concat_ws renders floor() differently per engine ("42" vs "42.0")
    // but injectively per (type, bucket) pair, so the DISTINCT cardinality
    // is engine-independent; null args are skipped identically.
    "stream_dedup_final" ->
      """SELECT event_type,
        |  CAST(count(DISTINCT concat_ws('|', event_type, floor(value))) AS BIGINT) AS n_kept
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // Same cutoff replay as stream_weekly_hll (windows whose end the final
    // 1-day watermark passed); exact values owned by the oracle, estimate
    // agreement carried as gated booleans.
    "stream_weekly_stats" ->
      """WITH e AS (SELECT *, CAST(floor(value * 100 + 0.5) AS BIGINT) AS __cents
        |    FROM events),
        |wm AS (SELECT epoch_ms(max(ts)) - 86400000 AS w FROM e),
        |x AS (SELECT CAST(date_trunc('week', ts) AS TIMESTAMP) AS week, event_type,
        |    CAST(count(DISTINCT event_id) AS BIGINT) AS tx_exact,
        |    floor((CAST(sum(__cents) AS DOUBLE) / 100.0 / count(__cents)) * 10000 + 0.5) / 10000 AS mean_exact,
        |    epoch_ms(CAST(date_trunc('week', ts) AS TIMESTAMP) + INTERVAL 7 DAY) AS end_ms
        |  FROM e GROUP BY 1, 2)
        |SELECT week, event_type, tx_exact, mean_exact,
        |  TRUE AS tx_ok, TRUE AS mean_ok, TRUE AS median_ok
        |FROM x, wm WHERE end_ms <= w ORDER BY week, event_type""".stripMargin,
    // Gaps-and-islands replay of the END-EXCLUSIVE session_window rule
    // (delta >= gap opens a session — strict > is the custom operator's
    // rule, see stream_sessions_final), bounds at full micros, emission
    // when the final watermark (ms-floored, Spark's clock) passed the
    // session end.
    "stream_sessions_window" ->
      """WITH e AS (SELECT user_id, ts, event_id, value FROM events
        |    WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |wm AS (SELECT epoch_ms(max(ts)) - 3600000 AS w FROM e),
        |s AS (SELECT user_id, ts, value,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev,
        |    event_id
        |  FROM e),
        |f AS (SELECT user_id, ts, value, event_id,
        |    CASE WHEN prev IS NULL OR epoch_us(ts) - epoch_us(prev) >= 1800000000
        |         THEN 1 ELSE 0 END AS newf
        |  FROM s),
        |g AS (SELECT user_id, ts, value,
        |    CAST(sum(newf) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
        |  FROM f),
        |h AS (SELECT user_id, sid, min(ts) AS t_start,
        |    max(ts) + INTERVAL 30 MINUTE AS t_end,
        |    epoch_us(max(ts) + INTERVAL 30 MINUTE) AS end_us,
        |    CAST(count(*) AS BIGINT) AS n_events,
        |    floor(sum(value) * 10000 + 0.5) / 10000 AS total
        |  FROM g GROUP BY 1, 2)
        |SELECT user_id, t_start, t_end, n_events, total FROM h, wm
        |WHERE end_us <= w * 1000 ORDER BY user_id, t_start""".stripMargin,
    "stream_user_totals" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events, TRUE AS total_ok
        |FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // The raw-parquet recomputation of the bucketed-table join — identical
    // content is the whole claim.
    "bucketed_join_orders" ->
      """SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_orders,
        |  floor((CAST(sum(__cents) AS DOUBLE) / 100.0) * 10000 + 0.5) / 10000 AS total_price
        |FROM (SELECT *, CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS __cents FROM orders) o
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "compacted_source_agg" ->
      """SELECT date_trunc('week', o_orderdate) AS week, o_orderpriority AS dim,
        |  CAST(count(*) AS BIGINT) AS n,
        |  floor((CAST(sum(__cents) AS DOUBLE) / 100.0) * 10000 + 0.5) / 10000 AS total_price
        |FROM (SELECT *, CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS __cents FROM orders) o
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "sketch_merge_orders" ->
      """SELECT date_trunc('week', o_orderdate) AS week, o_orderpriority AS dim,
        |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS cust_exact,
        |  TRUE AS merge_exact_ok, TRUE AS hll_ok
        |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "stream_foreachbatch_agg" ->
      """SELECT date_trunc('week', ts) AS week, event_type,
        |  CAST(count(*) AS BIGINT) AS n,
        |  floor((CAST(sum(__cents) AS DOUBLE) / 100.0) * 10000 + 0.5) / 10000 AS sum_value
        |FROM (SELECT *, CAST(floor(value * 100 + 0.5) AS BIGINT) AS __cents FROM events
        |      WHERE event_type IN ('view', 'click')) e
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "winsorized_agg" ->
      """WITH o AS (SELECT *, CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c FROM orders),
        |cuts AS (SELECT
        |    list_sort(list(c))[GREATEST(1, CAST(ceil(0.01 * count(*)) AS BIGINT))] AS p1,
        |    list_sort(list(c))[GREATEST(1, CAST(ceil(0.99 * count(*)) AS BIGINT))] AS p99
        |  FROM o)
        |SELECT o_orderpriority AS dim, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN c < p1 THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
        |  CAST(sum(CASE WHEN c > p99 THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
        |  floor((CAST(sum(LEAST(GREATEST(c, p1), p99)) AS DOUBLE) / 100.0 / count(*)) * 10000 + 0.5) / 10000 AS mean_winsorized
        |FROM o, cuts GROUP BY 1 ORDER BY 1""".stripMargin,
    "bloom_pruned_join" ->
      """SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_orders,
        |  floor((CAST(sum(__cents) AS DOUBLE) / 100.0) * 10000 + 0.5) / 10000 AS total_price
        |FROM (SELECT *, CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS __cents FROM orders) o
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "partition_pruned_agg" ->
      """SELECT date_trunc('week', ts) AS week, event_type,
        |  CAST(count(*) AS BIGINT) AS n,
        |  floor((CAST(sum(__cents) AS DOUBLE) / 100.0) * 10000 + 0.5) / 10000 AS sum_value
        |FROM (SELECT *, CAST(floor(value * 100 + 0.5) AS BIGINT) AS __cents FROM events
        |      WHERE event_type IN ('click', 'purchase')) e
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // Three PageRank rounds unrolled as chained CTEs — the same integer
    // recurrence the engine runs: composed floor-divisions
    // ((rank * 850000) // 10^6 // degree) are exact on non-negative longs,
    // so rank_micro must match bit-for-bit.
    "pagerank_parts" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
        |    WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
        |sized AS (SELECT b, i FROM
        |    (SELECT b, i, count(*) OVER (PARTITION BY b) AS sz FROM items)
        |  WHERE sz <= 6),
        |e AS (SELECT DISTINCT x.i AS u, y.i AS v FROM sized x JOIN sized y ON x.b = y.b AND x.i < y.i),
        |deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d
        |  FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY 1),
        |adj AS (SELECT u AS src, v AS dst FROM e UNION ALL SELECT v, u FROM e),
        |r0 AS (SELECT n, CAST(1000000 AS BIGINT) AS rank FROM deg),
        |r1 AS (SELECT a.dst AS n,
        |    CAST(150000 + sum(((r.rank * 850000) // 1000000) // d.d) AS BIGINT) AS rank
        |  FROM adj a JOIN r0 r ON r.n = a.src JOIN deg d ON d.n = a.src GROUP BY 1),
        |r2 AS (SELECT a.dst AS n,
        |    CAST(150000 + sum(((r.rank * 850000) // 1000000) // d.d) AS BIGINT) AS rank
        |  FROM adj a JOIN r1 r ON r.n = a.src JOIN deg d ON d.n = a.src GROUP BY 1),
        |r3 AS (SELECT a.dst AS n,
        |    CAST(150000 + sum(((r.rank * 850000) // 1000000) // d.d) AS BIGINT) AS rank
        |  FROM adj a JOIN r2 r ON r.n = a.src JOIN deg d ON d.n = a.src GROUP BY 1)
        |SELECT r3.n AS node, deg.d AS degree, r3.rank AS rank_micro
        |FROM r3 JOIN deg ON r3.n = deg.n ORDER BY node""".stripMargin,
    "k_core_parts" -> kCoreOracle,
    "k_truss_parts" -> kTrussOracle,
    "bfs_hops_parts" -> bfsHopsOracle,
    "rollup_orders" -> rollupOrdersOracle,
    "rollup_orders_sql" -> rollupOrdersOracle,
    "cube_orders" ->
      """SELECT o_orderpriority, o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        |  floor((CAST(sum(__cents) AS DOUBLE) / 100.0) * 10000 + 0.5) / 10000 AS total_price,
        |  CAST(grouping(o_orderpriority) AS BIGINT) AS g_priority,
        |  CAST(grouping(o_orderstatus) AS BIGINT) AS g_status
        |FROM (SELECT *, CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS __cents FROM orders) o
        |GROUP BY CUBE(o_orderpriority, o_orderstatus)
        |ORDER BY g_priority, g_status, o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin,
    "grouping_sets_orders" ->
      """SELECT o_orderpriority, o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        |  floor((CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0) * 10000 + 0.5) / 10000 AS total_price,
        |  CAST(grouping(o_orderpriority) AS BIGINT) AS g_priority,
        |  CAST(grouping(o_orderstatus) AS BIGINT) AS g_status
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
        |ORDER BY g_priority, g_status, o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin,
    "near_dup_cosine" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
        |  FROM embeddings WHERE vec_id % 10 = 0 AND vec_id < 10000),
        |p AS (SELECT qid, e.vec_id AS cid,
        |    floor((list_cosine_similarity(qe, CAST(e.embedding AS DOUBLE[]))) * 10000 + 0.5) / 10000 AS cos_sim
        |  FROM q, embeddings e WHERE e.vec_id <> qid)
        |SELECT qid, cid, cos_sim FROM p WHERE cos_sim >= 0.4
        |ORDER BY qid, cid""".stripMargin,
    // The oracle owns the exhaustive truth count; the quality booleans are
    // literal TRUE — Spark must measure its LSH path at-or-above the
    // contract for the row hash to match (minhash_quality pattern).
    "cosine_dedup_quality" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id < 2000),
        |t AS (SELECT a.vec_id AS ia, b.vec_id AS ib FROM e a JOIN e b ON a.vec_id < b.vec_id
        |  WHERE floor(list_cosine_similarity(a.v, b.v) * 10000 + 0.5) / 10000 >= 0.4)
        |SELECT CAST(count(*) AS BIGINT) AS n_true, TRUE AS recall_ok, TRUE AS precision_ok
        |FROM t""".stripMargin,
    // Same exhaustive-truth shape; incr_equals_full and the quality
    // booleans carry the engine-measured contracts (a regression flips a
    // bit and fails the hash compare).
    "incremental_cosine_persisted" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id < 2000),
        |t AS (SELECT a.vec_id AS ia, b.vec_id AS ib FROM e a JOIN e b ON a.vec_id < b.vec_id
        |  WHERE floor(list_cosine_similarity(a.v, b.v) * 10000 + 0.5) / 10000 >= 0.4)
        |SELECT CAST(count(*) AS BIGINT) AS n_true, TRUE AS incr_equals_full,
        |  TRUE AS recall_ok, TRUE AS precision_ok
        |FROM t""".stripMargin,
    "embed_drift_psi" -> embedDriftOracle,
    "stream_embed_psi" -> streamEmbedPsiOracle,
    // Streaming == batch == full: one truth oracle for every layout of
    // the cosine incremental contract.
    "stream_cosine_incremental" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id < 2000),
        |t AS (SELECT a.vec_id AS ia, b.vec_id AS ib FROM e a JOIN e b ON a.vec_id < b.vec_id
        |  WHERE floor(list_cosine_similarity(a.v, b.v) * 10000 + 0.5) / 10000 >= 0.4)
        |SELECT CAST(count(*) AS BIGINT) AS n_true, TRUE AS stream_equals_full,
        |  TRUE AS recall_ok, TRUE AS precision_ok
        |FROM t""".stripMargin,
    "orc_source_agg" -> altFormatOracleSql,
    "jsonl_source_agg" -> altFormatOracleSql,
    "csv_source_agg" -> altFormatOracleSql,
    "xml_source_agg" -> altFormatOracleSql,
    "nested_orders_agg" ->
      """SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS week,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust,
        |  floor((CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0) * 10000 + 0.5) / 10000 AS total_price
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "schema_drift_agg" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(CASE WHEN event_id % 2 <> 0 THEN value END) AS BIGINT) AS n_valued,
        |  floor((CAST(sum(CASE WHEN event_id % 2 <> 0
        |      THEN CAST(floor(value * 100 + 0.5) AS BIGINT) END) AS DOUBLE) / 100.0) * 10000 + 0.5) / 10000 AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "events_json" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  min(k) AS k_min, max(k) AS k_max,
        |  floor((CAST(sum(k) AS DOUBLE) / count(k)) * 10000 + 0.5) / 10000 AS k_avg
        |FROM (SELECT event_type, TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events) e
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // Norms in integer micro-units before the cross-row aggregation (long
    // sums are associative; double sums are not) — the per-vector fold is
    // list_reduce, sequential like Spark's aggregate(), so the doubles are
    // bit-identical before quantization. Every list_reduce is SEEDED with
    // list_prepend(0.0, ...): DuckDB's unseeded list_reduce ERRORS on an
    // empty list where Spark's aggregate returns its 0.0 seed — seeding
    // makes a zero-dim vector grade (both engines agree on 0) instead of
    // crashing the oracle.
    // Three unrolled Lloyd iterations (the pagerank_parts fixed-iteration
    // CTE pattern): a{n} assigns under c{n-1} via row_number ordered by
    // (exact long distance, cluster) — the same lexicographic tie rule as
    // the engine's (dist, cl) struct min — and c{n} rebuilds centroids
    // with `//`, DuckDB's truncating integer division matching Spark's
    // `div` on the BIGINT-cast sum. The final select exposes the winning
    // distance too, so the compare hashes the full converged state.
    "kmeans_embed" -> (kmeansOracleCtes +
      """
        |SELECT vec_id, cl AS cluster, CAST(d AS BIGINT) AS dist
        |FROM a3 ORDER BY vec_id""".stripMargin),
    // Same k-means replay + the md5 pick order, aggregated per cluster.
    "cluster_balanced_sample" -> (kmeansOracleCtes +
      """,
        |rk AS (SELECT vec_id, cl,
        |    row_number() OVER (PARTITION BY cl
        |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
        |  FROM a3),
        |tot AS (SELECT cl, CAST(count(*) AS BIGINT) AS n_total FROM a3 GROUP BY 1),
        |smp AS (SELECT cl, CAST(count(*) AS BIGINT) AS n_sampled,
        |    CAST(sum(vec_id) AS BIGINT) AS sample_id_sum
        |  FROM rk WHERE rn <= 25 GROUP BY 1)
        |SELECT tot.cl AS cluster, n_total, n_sampled, sample_id_sum
        |FROM tot JOIN smp ON tot.cl = smp.cl ORDER BY 1""".stripMargin),
    // Cell-occupancy rollup off the same coarse-quantizer replay.
    "ivf_cell_stats" -> (kmeansOracleCtes +
      """,
        |cells AS (SELECT cl AS cell, CAST(count(*) AS BIGINT) AS n_members FROM a3 GROUP BY 1),
        |t AS (SELECT CAST(sum(n_members) AS BIGINT) AS n, CAST(max(n_members) AS BIGINT) AS mx,
        |    CAST(count(*) AS BIGINT) AS k FROM cells)
        |SELECT cell, n_members,
        |  floor(CAST(n_members AS DOUBLE) / CAST(n AS DOUBLE) * 10000 + 0.5) / 10000 AS share,
        |  floor(CAST(mx AS DOUBLE) * CAST(k AS DOUBLE) / CAST(n AS DOUBLE) * 10000 + 0.5) / 10000 AS imbalance
        |FROM cells, t ORDER BY cell""".stripMargin),
    // Four independent replays of the same Lloyd oracle, one per sliced
    // subspace, unioned into the full code matrix.
    "pq_codes" -> pqCodesOracle,
    "pq_adc_topk" -> pqAdcOracle,
    "pq_recall" -> pqRecallOracle,
    "pq_recall_clustered" -> pqRecallClusteredOracle,
    // IVFADC recall contracts (the knn_ivf_topk pattern): the oracle
    // computes the exact top-10's existence (n_true) and demands
    // recall_ok=TRUE — the routed tier's quality claim is hash-gated.
    "knn_ivfadc_topk" ->
      """SELECT vec_id AS qid, CAST(10 AS BIGINT) AS n_true, TRUE AS recall_ok
        |FROM embeddings WHERE vec_id IN (1, 2, 3) ORDER BY qid""".stripMargin,
    "knn_ivfadc_clustered" ->
      """SELECT vec_id AS qid, CAST(10 AS BIGINT) AS n_true, TRUE AS recall_ok
        |FROM embeddings WHERE vec_id IN (1, 2, 3) ORDER BY qid""".stripMargin,
    // Projection replay: the same md5-first-hex-digit-parity sign
    // matrix, the same exact long dot products.
    "random_projection" ->
      """WITH q AS (SELECT vec_id,
        |    list_transform(embedding, e -> CAST(floor(CAST(e AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS qv
        |  FROM embeddings),
        |sgn AS (SELECT k.k, d.d,
        |    CASE WHEN (strpos('0123456789abcdef', substr(md5(CAST(k.k AS VARCHAR) || '#' || CAST(d.d AS VARCHAR)), 1, 1)) - 1) % 2 = 1
        |      THEN 1 ELSE -1 END AS s
        |  FROM (SELECT unnest(range(0, 8)) AS k) k,
        |       (SELECT unnest(range(0, 64)) AS d) d),
        |x AS (SELECT vec_id, generate_subscripts(qv, 1) - 1 AS d, unnest(qv) AS e FROM q)
        |SELECT x.vec_id, CAST(sgn.k AS BIGINT) AS k,
        |  CAST(sum(x.e * sgn.s) AS BIGINT) AS comp
        |FROM x JOIN sgn ON x.d = sgn.d
        |GROUP BY 1, 2 ORDER BY vec_id, k""".stripMargin,
    // Target-encoding replay: same exact integer-product ratios.
    "target_encoding" ->
      """WITH j AS (SELECT c.c_mktsegment AS category,
        |    CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) // 100 AS u
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  WHERE c.c_mktsegment IS NOT NULL AND o.o_totalprice IS NOT NULL),
        |cats AS (SELECT category, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(u) AS BIGINT) AS sum_y FROM j GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(sum_y) AS BIGINT) AS ss FROM cats)
        |SELECT category, n, sum_y,
        |  floor(CAST(sum_y * nn + 100 * ss AS DOUBLE) / CAST(nn * (n + 100) AS DOUBLE) * 10000 + 0.5) / 10000 AS enc,
        |  CASE WHEN nn = n THEN NULL
        |    ELSE floor(CAST(ss - sum_y AS DOUBLE) / CAST(nn - n AS DOUBLE) * 10000 + 0.5) / 10000 END AS enc_rest
        |FROM cats, tot ORDER BY category""".stripMargin,
    // Neyman replay: same exact per-stratum sums, one IEEE sqrt, the
    // same largest-remainder integer allocation.
    "neyman_allocation" ->
      """WITH s AS (SELECT o_orderpriority AS stratum, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(u) AS BIGINT) AS sy, CAST(sum(u * u) AS BIGINT) AS syy
        |  FROM (SELECT o_orderpriority,
        |      CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) // 100 AS u
        |    FROM orders WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL)
        |  GROUP BY 1),
        |t AS (SELECT stratum, n,
        |    floor(sqrt(CAST(syy AS DOUBLE) / CAST(n AS DOUBLE) - (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))) * 10000 + 0.5) / 10000 AS sd,
        |    CAST(floor(sqrt(CAST(syy AS DOUBLE) / CAST(n AS DOUBLE) - (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))) * CAST(n AS DOUBLE) + 0.5) AS BIGINT) AS w
        |  FROM s),
        |tw AS (SELECT CAST(sum(w) AS BIGINT) AS ww FROM t),
        |sh AS (SELECT t.*, (10000 * t.w) // tw.ww AS fl, (10000 * t.w) % tw.ww AS rem FROM t, tw),
        |fs AS (SELECT CAST(sum(fl) AS BIGINT) AS fsum FROM sh),
        |rk AS (SELECT sh.*, CAST(row_number() OVER (ORDER BY rem DESC, stratum) AS BIGINT) AS r FROM sh)
        |SELECT stratum, n, sd, w,
        |  CAST(fl + CASE WHEN r <= 10000 - fs.fsum THEN 1 ELSE 0 END AS BIGINT) AS alloc
        |FROM rk, fs ORDER BY stratum""".stripMargin,
    // Same converged state, per-cluster top-5 window — rank ties on the
    // exact long distance break to the smaller id in both engines.
    "cluster_prototypes" -> (kmeansOracleCtes +
      """
        |SELECT cluster, rank, vec_id, dist FROM (
        |  SELECT cl AS cluster,
        |    row_number() OVER (PARTITION BY cl ORDER BY d, vec_id) AS rank,
        |    vec_id, CAST(d AS BIGINT) AS dist FROM a3)
        |WHERE rank <= 5 ORDER BY cluster, rank""".stripMargin),
    "embed_stats" ->
      """WITH v AS (SELECT label, CAST(len(embedding) AS BIGINT) AS dim,
        |    CAST(floor(sqrt(list_reduce(list_prepend(0.0, list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)), (a, b) -> a + b)) * 1000000 + 0.5) AS BIGINT) AS norm_u
        |  FROM embeddings)
        |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
        |  min(dim) AS min_dim, max(dim) AS max_dim,
        |  floor((CAST(min(norm_u) AS DOUBLE) / 1000000) * 10000 + 0.5) / 10000 AS norm_min,
        |  floor((CAST(max(norm_u) AS DOUBLE) / 1000000) * 10000 + 0.5) / 10000 AS norm_max,
        |  floor((CAST(sum(norm_u) AS DOUBLE) / count(*) / 1000000) * 10000 + 0.5) / 10000 AS norm_avg
        |FROM v GROUP BY 1 ORDER BY 1""".stripMargin,
    // Pair stream re-derived via generate_series; the covariance is the
    // same fixed IEEE expression over the exact long sums as the engine.
    "embed_covariance" ->
      """WITH q AS (SELECT list_transform(embedding,
        |      x -> CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT)) AS v
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |idx AS (SELECT v, unnest(generate_series(1, len(v))) AS gi FROM q),
        |pr AS (SELECT CAST(gi - 1 AS BIGINT) AS i, CAST(gj - 1 AS BIGINT) AS j, v[gi] AS vi, v[gj] AS vj
        |  FROM (SELECT v, gi, unnest(generate_series(gi, len(v))) AS gj FROM idx)),
        |a AS (SELECT i, j, CAST(count(*) AS BIGINT) AS n, CAST(sum(vi * vj) AS BIGINT) AS sxy,
        |    CAST(sum(vi) AS BIGINT) AS sx, CAST(sum(vj) AS BIGINT) AS sy FROM pr GROUP BY 1, 2)
        |SELECT i, j, n, sxy, sx, sy,
        |  floor((((CAST(sxy AS DOUBLE) / CAST(n AS DOUBLE)) -
        |    ((CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)))) / 100000000.0)
        |    * 10000 + 0.5) / 10000 AS cov
        |FROM a ORDER BY i, j""".stripMargin,
    "embed_normalize" ->
      """WITH v AS (SELECT vec_id, embedding,
        |    sqrt(list_reduce(list_prepend(0.0, list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)), (a, b) -> a + b)) AS nrm
        |  FROM embeddings),
        |n AS (SELECT vec_id, nrm,
        |    CASE WHEN nrm = 0 THEN list_transform(embedding, x -> 0.0)
        |         ELSE list_transform(embedding, x -> x::DOUBLE / nrm) END AS u
        |  FROM v)
        |SELECT vec_id,
        |  floor(nrm * 10000 + 0.5) / 10000 AS norm,
        |  floor(sqrt(list_reduce(list_prepend(0.0, list_transform(u, x -> x * x)), (a, b) -> a + b)) * 10000 + 0.5) / 10000 AS norm_after,
        |  floor(list_reduce(list_prepend(0.0, u), (a, b) -> a + b) * 10000 + 0.5) / 10000 AS unit_sum
        |FROM n ORDER BY vec_id""".stripMargin,
    "embed_quantize" ->
      """WITH v AS (SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, x -> abs(x::DOUBLE))) / 127.0 AS sc
        |  FROM embeddings),
        |q AS (SELECT vec_id, sc, embedding,
        |    CASE WHEN sc = 0 THEN list_transform(embedding, x -> 0::BIGINT)
        |         ELSE list_transform(embedding, x -> greatest(-127::BIGINT, least(127::BIGINT, CAST(floor(x::DOUBLE / sc + 0.5) AS BIGINT)))) END AS qv
        |  FROM v)
        |SELECT vec_id, floor(sc * 10000 + 0.5) / 10000 AS scale,
        |  CAST(coalesce(list_sum(qv), 0) AS BIGINT) AS q_sum,
        |  list_min(qv) AS q_min, list_max(qv) AS q_max,
        |  list_max(list_transform(range(1, len(qv) + 1),
        |    i -> abs(qv[i]::DOUBLE * sc - embedding[i]::DOUBLE))) <= sc / 2 + 1e-12 AS err_ok
        |FROM q ORDER BY vec_id""".stripMargin,
    // Codebook (per-dim min/max over exactly-widened floats) + affine
    // codes + position-weighted checksum + half-step bound, replayed
    // list-for-list.
    "embed_quantize_dims" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |x AS (SELECT unnest(range(1, len(v)+1)) AS pos, unnest(list_transform(range(1, len(v)+1), i -> v[CAST(i AS INTEGER)])) AS x FROM e),
        |cbd AS (SELECT pos, min(x) AS mn, max(x) AS mx FROM x GROUP BY 1),
        |cb AS (SELECT list(mn ORDER BY pos) AS mns, list((mx - mn) / 255.0 ORDER BY pos) AS scs FROM cbd),
        |q AS (SELECT vec_id, v, mns, scs,
        |    list_transform(range(1, len(v)+1), i -> CASE WHEN scs[CAST(i AS INTEGER)] = 0 THEN 0::BIGINT
        |      ELSE greatest(0::BIGINT, least(255::BIGINT, CAST(floor((v[CAST(i AS INTEGER)] - mns[CAST(i AS INTEGER)]) / scs[CAST(i AS INTEGER)] + 0.5) AS BIGINT))) END) AS qv
        |  FROM e CROSS JOIN cb)
        |SELECT vec_id,
        |  CAST(coalesce(list_sum(qv), 0) AS BIGINT) AS q_sum,
        |  CAST(coalesce(list_sum(list_transform(range(1, len(qv)+1), i -> qv[CAST(i AS INTEGER)] * i)), 0) AS BIGINT) AS q_dot,
        |  list_min(qv) AS q_min, list_max(qv) AS q_max,
        |  coalesce(list_max(list_transform(range(1, len(qv)+1),
        |    i -> abs(qv[CAST(i AS INTEGER)]::DOUBLE * scs[CAST(i AS INTEGER)] + mns[CAST(i AS INTEGER)] - v[CAST(i AS INTEGER)]) - scs[CAST(i AS INTEGER)] / 2)), 0) <= 1e-9 AS err_ok
        |FROM q ORDER BY vec_id""".stripMargin,
    "funnel_conversion" ->
      """WITH s0 AS (SELECT user_id, min(ts) AS t0 FROM events WHERE event_type = 'signup' GROUP BY 1),
        |s1 AS (SELECT e.user_id, min(e.ts) AS t1 FROM events e JOIN s0 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts >= s0.t0 GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts >= s1.t1 GROUP BY 1)
        |SELECT (SELECT count(*) FROM s0) AS n_stage_0,
        |  (SELECT count(*) FROM s1) AS n_stage_1,
        |  (SELECT count(*) FROM s2) AS n_stage_2,
        |  floor(((SELECT CAST(count(*) AS DOUBLE) FROM s1) / (SELECT count(*) FROM s0)) * 10000 + 0.5) / 10000 AS conv_1,
        |  floor(((SELECT CAST(count(*) AS DOUBLE) FROM s2) / (SELECT count(*) FROM s1)) * 10000 + 0.5) / 10000 AS conv_2""".stripMargin,
    "cohort_retention" ->
      """WITH w AS (SELECT user_id, date_trunc('week', ts) AS week FROM events),
        |c AS (SELECT user_id, min(week) AS cohort_week FROM w GROUP BY 1),
        |a AS (SELECT DISTINCT w.user_id, c.cohort_week, w.week FROM w JOIN c USING (user_id))
        |SELECT cohort_week,
        |  CAST(date_diff('day', cohort_week, week) // 7 AS BIGINT) AS week_offset,
        |  CAST(count(*) AS BIGINT) AS n_users
        |FROM a GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // NOT EXISTS with IS NOT DISTINCT FROM: pins the Spark side's
    // null-SAFE anti-join (<=>) — NULL digests (null text) count as seen
    // content, and a NOT IN would go never-true under three-valued logic.
    "incremental_dedup" ->
      """WITH b AS (SELECT doc_id, md5(text) AS dig FROM documents WHERE doc_id % 2 = 1),
        |ex AS (SELECT DISTINCT md5(text) AS dig FROM documents WHERE doc_id % 2 = 0),
        |k AS (SELECT dig, min(doc_id) AS doc_id FROM b GROUP BY 1),
        |kk AS (SELECT doc_id FROM k WHERE NOT EXISTS (SELECT 1 FROM ex WHERE ex.dig IS NOT DISTINCT FROM k.dig))
        |SELECT d.doc_id, d.lang, d.n_chars FROM documents d JOIN kk USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // Shuffle replay: the same md5 order, ranked (the oracle's
    // row_number is fine AT ORACLE SCALE; the engine side carries the
    // distributed prefix-sum contract).
    "epoch_shuffle" ->
      """SELECT CAST(e AS BIGINT) AS epoch, doc_id AS id,
        |  CAST(row_number() OVER (PARTITION BY e
        |    ORDER BY md5(CAST(e AS VARCHAR) || '#' || CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS position
        |FROM documents, (SELECT unnest([0, 1]) AS e)
        |ORDER BY epoch, position""".stripMargin,
    // Stride-clock replay: per-source rank via the window (oracle
    // scale), the same exact integer virtual times, the same
    // (clock, source) total order.
    "mixture_interleave" ->
      """WITH ranked AS (SELECT doc_id, lang,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS i
        |  FROM documents),
        |w AS (SELECT * FROM (VALUES ('de', 8), ('en', 3), ('es', 8), ('fr', 8), ('zh', 8)) AS t(lang, stride)),
        |vt AS (SELECT doc_id, r.lang, CAST((2 * i - 1) * stride AS BIGINT) AS vt_num
        |  FROM ranked r JOIN w ON r.lang = w.lang)
        |SELECT CAST(row_number() OVER (ORDER BY vt_num, lang) AS BIGINT) AS position,
        |  doc_id AS id, lang, vt_num
        |FROM vt ORDER BY position""".stripMargin,
    // Quality-derived difficulty levels (the quality_score stages,
    // 4-dp rounding included) + the same (level, md5, id) total order.
    "curriculum_order" ->
      """WITH t0 AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    CAST(len(list_filter(string_split(text, ' '), t -> list_contains(['the','a','and','of','to'], t))) AS BIGINT) AS hits,
        |    length(text) AS lc,
        |    length(regexp_replace(text, '[0-9]', '', 'g')) AS lnd
        |  FROM documents),
        |r AS (SELECT doc_id,
        |    floor((CAST(hits AS DOUBLE) / greatest(n_tokens, 1)) * 10000 + 0.5) / 10000 AS stop_ratio,
        |    floor((CASE WHEN lc = 0 THEN 0.0 ELSE CAST(lc - lnd AS DOUBLE) / lc END) * 10000 + 0.5) / 10000 AS digit_ratio,
        |    n_tokens
        |  FROM t0),
        |lvl AS (SELECT doc_id,
        |    CASE WHEN q >= 0.6 THEN 0 WHEN q >= 0.4 THEN 1 ELSE 2 END AS level
        |  FROM (SELECT doc_id,
        |      floor((least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.5 + stop_ratio * 0.3 + (1.0 - digit_ratio) * 0.2) * 10000 + 0.5) / 10000 AS q
        |    FROM r))
        |SELECT CAST(row_number() OVER (ORDER BY level, md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS position,
        |  doc_id AS id, CAST(level AS BIGINT) AS level
        |FROM lvl ORDER BY position""".stripMargin,
    // Resume truth: the FULL epoch-1 permutation replayed, then sliced
    // at the resume position — the engine's suffix must equal the
    // full-epoch slice exactly (positions included), or resuming would
    // skip/duplicate training examples.
    "epoch_shuffle_resume" ->
      """SELECT epoch, id, position FROM (
        |  SELECT CAST(1 AS BIGINT) AS epoch, doc_id AS id,
        |    CAST(row_number() OVER (
        |      ORDER BY md5('1#' || CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS position
        |  FROM documents)
        |WHERE position >= 201 ORDER BY position""".stripMargin,
    // Uniqueness replay: same distinct (doc, gram) incidence, same
    // corpus counts, one IEEE share per doc.
    "ngram_uniqueness" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |g AS (SELECT DISTINCT doc_id, array_to_string(list_slice(toks, i, i + 2), ' ') AS gram
        |  FROM t, LATERAL (SELECT unnest(range(1, len(toks) - 1)) AS i)
        |  WHERE len(toks) >= 3),
        |c AS (SELECT gram, CAST(count(*) AS BIGINT) AS cnt FROM g GROUP BY 1)
        |SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(coalesce(sum(CASE WHEN c.cnt = 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_unique,
        |  floor(CAST(coalesce(sum(CASE WHEN c.cnt = 1 THEN 1 ELSE 0 END), 0) AS DOUBLE) / count(*) * 10000 + 0.5) / 10000 AS uniqueness
        |FROM g JOIN c USING (gram) GROUP BY 1 ORDER BY 1""".stripMargin,
    "heavy_hitters" ->
      """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |c AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY 1),
        |t AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM c)
        |SELECT token, cnt, floor((cnt / total) * 10000 + 0.5) / 10000 AS share
        |FROM c, t WHERE cnt / total >= 0.01 ORDER BY token""".stripMargin,
    // Overlap replay: same distinct incidence, same pair join, one IEEE
    // division per measure.
    "source_vocab_overlap" ->
      """WITH st AS (SELECT DISTINCT source AS src, unnest(string_split(text, ' ')) AS token
        |  FROM documents WHERE source IS NOT NULL),
        |sz AS (SELECT src, CAST(count(*) AS BIGINT) AS n FROM st GROUP BY 1),
        |i AS (SELECT a.src AS src_a, b.src AS src_b, CAST(count(*) AS BIGINT) AS n_common
        |  FROM st a JOIN st b ON a.token = b.token AND a.src < b.src GROUP BY 1, 2)
        |SELECT src_a, src_b, sa.n AS n_a, sb.n AS n_b, n_common,
        |  floor((CAST(n_common AS DOUBLE) / CAST(sa.n + sb.n - n_common AS DOUBLE)) * 10000 + 0.5) / 10000 AS jaccard,
        |  floor((CAST(n_common AS DOUBLE) / CAST(least(sa.n, sb.n) AS DOUBLE)) * 10000 + 0.5) / 10000 AS containment
        |FROM i JOIN sz sa ON i.src_a = sa.src JOIN sz sb ON i.src_b = sb.src
        |ORDER BY src_a, src_b""".stripMargin,
    // CMS replay: identical fixed hash rows, identical counter matrix,
    // identical min-over-rows estimates.
    "countmin_parts" ->
      """WITH f AS (SELECT l_partkey AS k FROM lineitem WHERE l_partkey IS NOT NULL),
        |tc AS (SELECT k, CAST(count(*) AS BIGINT) AS true_cnt FROM f GROUP BY 1),
        |q AS (SELECT k, true_cnt FROM tc ORDER BY true_cnt DESC, k LIMIT 10),
        |b AS (SELECT 0 AS row, ((k * 1103515245 + 12345) % 2147483648) % 512 AS bucket FROM f
        |  UNION ALL SELECT 1, ((k * 2654435761 + 40503) % 2147483648) % 512 FROM f
        |  UNION ALL SELECT 2, ((k * 2246822519 + 104729) % 2147483648) % 512 FROM f
        |  UNION ALL SELECT 3, ((k * 3266489917 + 7919) % 2147483648) % 512 FROM f),
        |cms AS (SELECT row, bucket, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1, 2),
        |qb AS (SELECT k, true_cnt, 0 AS row, ((k * 1103515245 + 12345) % 2147483648) % 512 AS bucket FROM q
        |  UNION ALL SELECT k, true_cnt, 1, ((k * 2654435761 + 40503) % 2147483648) % 512 FROM q
        |  UNION ALL SELECT k, true_cnt, 2, ((k * 2246822519 + 104729) % 2147483648) % 512 FROM q
        |  UNION ALL SELECT k, true_cnt, 3, ((k * 3266489917 + 7919) % 2147483648) % 512 FROM q),
        |e AS (SELECT k, true_cnt, CAST(min(coalesce(c, 0)) AS BIGINT) AS est_cnt
        |  FROM qb LEFT JOIN cms USING (row, bucket) GROUP BY 1, 2)
        |SELECT k AS part, true_cnt, est_cnt, est_cnt >= true_cnt AS bound_ok
        |FROM e ORDER BY part""".stripMargin,
    // Zipf replay: identical (count desc, token) rank cut, ln of exact
    // integers micro-quantized before the exact OLS power sums, the same
    // fixed IEEE slope/intercept/R² (1e12 scale cancels in the slope).
    "zipf_fit" ->
      """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |c AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY 1),
        |r AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, token) AS rnk FROM c),
        |t AS (SELECT CAST(floor(ln(CAST(rnk AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS lx,
        |    CAST(floor(ln(CAST(cnt AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS ly
        |  FROM r WHERE rnk <= 200),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(lx) AS DOUBLE) AS sx, CAST(sum(ly) AS DOUBLE) AS sy,
        |    CAST(sum(lx * ly) AS DOUBLE) AS sxy, CAST(sum(lx * lx) AS DOUBLE) AS sxx,
        |    CAST(sum(ly * ly) AS DOUBLE) AS syy
        |  FROM t),
        |e AS (SELECT n, CAST(n AS DOUBLE) * sxy - sx * sy AS covn,
        |    CAST(n AS DOUBLE) * sxx - sx * sx AS varxn,
        |    CAST(n AS DOUBLE) * syy - sy * sy AS varyn, sx, sy
        |  FROM s)
        |SELECT n AS n_ranks,
        |  CASE WHEN varxn <= 0 THEN NULL
        |       ELSE floor((covn / varxn) * 10000 + 0.5) / 10000 END AS slope,
        |  CASE WHEN varxn <= 0 THEN NULL
        |       ELSE floor(((sy - (covn / varxn) * sx) / CAST(n AS DOUBLE) / 1000000.0) * 10000 + 0.5) / 10000 END AS intercept_ln,
        |  CASE WHEN varxn <= 0 OR varyn <= 0 THEN NULL
        |       ELSE floor((covn * covn / (varxn * varyn)) * 10000 + 0.5) / 10000 END AS r2
        |FROM e""".stripMargin,
    "cooc_principal" -> coocPrincipalOracle,
    // Vocabulary ranked (count desc, token) exactly like the engine, so
    // both cut identical top-V vocabularies at every size.
    "vocab_coverage" ->
      """WITH tok AS (SELECT lang AS stratum, unnest(string_split(text, ' ')) AS token FROM documents),
        |bt AS (SELECT stratum, token, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2),
        |vr AS (SELECT token, CAST(row_number() OVER (ORDER BY sum(c) DESC, token) AS BIGINT) AS rnk
        |  FROM bt GROUP BY token),
        |vs(v) AS (VALUES (CAST(5 AS BIGINT)), (10), (20), (40)),
        |j AS (SELECT v, stratum, c, rnk FROM bt JOIN vr USING (token) CROSS JOIN vs)
        |SELECT v, stratum, CAST(sum(c) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN rnk <= v THEN c ELSE 0 END) AS BIGINT) AS covered,
        |  CAST(count(CASE WHEN rnk > v THEN 1 END) AS BIGINT) AS oov_types,
        |  floor(CAST(sum(CASE WHEN rnk <= v THEN c ELSE 0 END) AS DOUBLE)
        |    / CAST(sum(c) AS DOUBLE) * 10000 + 0.5) / 10000 AS coverage
        |FROM j GROUP BY 1, 2 ORDER BY v, stratum""".stripMargin,
    // Groups by the literal span text where Spark groups by its md5 digest
    // — identical counts unless md5 collides, so the row hash doubles as a
    // collision check. range(1, len-13) = span starts 1..len-14 (15-token
    // slices, end-exclusive range).
    "dup_spans" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |pos AS (SELECT doc_id, t, unnest(range(1, len(t) - 13)) AS i FROM toks WHERE len(t) >= 15),
        |g AS (SELECT doc_id, array_to_string(t[i:i+14], ' ') AS g FROM pos),
        |pd AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c FROM g GROUP BY 1, 2),
        |tot AS (SELECT g, CAST(sum(c) AS BIGINT) AS tot FROM pd GROUP BY 1),
        |agg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_spans,
        |    CAST(sum(CASE WHEN tot > 1 THEN c ELSE 0 END) AS BIGINT) AS n_dup_spans
        |  FROM pd JOIN tot USING (g) GROUP BY 1)
        |SELECT d.doc_id, CAST(COALESCE(n_spans, 0) AS BIGINT) AS n_spans,
        |  CAST(COALESCE(n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
        |  CASE WHEN COALESCE(n_spans, 0) = 0 THEN NULL
        |       ELSE floor((CAST(n_dup_spans AS DOUBLE) / n_spans) * 10000 + 0.5) / 10000 END AS dup_frac
        |FROM documents d LEFT JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin,
    // Winnowing replay: same gram md5s, same encoded min key (the tie
    // rule lives IN the key string), same window scan, same
    // window-starts-only cut — the checksum folds 8 hex chars of every
    // selected hash plus its position, so fingerprint MEMBERSHIP is
    // graded, not just volume.
    "winnow_fingerprints" -> (winnowFpCte +
      """
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fps,
        |  CAST(sum(list_reduce(list_transform(range(1, 9),
        |    j -> (strpos('0123456789abcdef', substr(fp_hash, CAST(j AS INTEGER), 1)) - 1)::BIGINT),
        |    (a, x) -> a * 16 + x) + fp_pos) AS BIGINT) AS fp_checksum
        |FROM fp GROUP BY 1 ORDER BY doc_id""".stripMargin),
    "winnow_pairs" -> (winnowFpCte +
      """,
        |fpd AS (SELECT DISTINCT doc_id, fp_hash FROM fp),
        |rare AS (SELECT fp_hash FROM (
        |    SELECT fp_hash, count(DISTINCT doc_id) AS df FROM fpd GROUP BY 1)
        |  WHERE df <= 50),
        |kept AS (SELECT fpd.doc_id, fpd.fp_hash FROM fpd JOIN rare USING (fp_hash))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(count(*) AS BIGINT) AS shared_fp
        |FROM kept a JOIN kept b ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 2 ORDER BY id_a, id_b""".stripMargin),
    "incremental_winnow_persisted" -> winnowIncrementalOracle,
    "stream_winnow_incremental" -> winnowIncrementalOracle,
    // Excision replay by span TEXT (engine uses digests — the hash match
    // is also a collision check): same global (doc, pos) first-survivor
    // rule, same position-level union, same reassembly.
    "exact_substr_dedup" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |occ AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, array_to_string(toks[i:i+14], ' ') AS gram
        |  FROM t, LATERAL (SELECT unnest(range(1, len(toks) - 13)) AS i) WHERE len(toks) >= 15),
        |w AS (SELECT doc_id, pos, count(*) OVER (PARTITION BY gram) AS tot,
        |    row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rk FROM occ),
        |drops AS (SELECT DISTINCT doc_id, pos + d AS p FROM w,
        |  LATERAL (SELECT unnest(range(0, 15)) AS d) WHERE tot > 1 AND rk > 1),
        |tok AS (SELECT doc_id, CAST(i AS BIGINT) AS p, toks[i] AS tok
        |  FROM t, LATERAL (SELECT unnest(range(1, len(toks) + 1)) AS i)),
        |kept AS (SELECT tok.doc_id, tok.p, tok.tok FROM tok
        |  ANTI JOIN drops ON tok.doc_id = drops.doc_id AND tok.p = drops.p),
        |re AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |    string_agg(tok, ' ' ORDER BY p) AS txt FROM kept GROUP BY 1)
        |SELECT d.doc_id, CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(re.n_kept, 0) AS BIGINT) AS n_kept,
        |  coalesce(re.txt, '') AS text_dedup
        |FROM documents d LEFT JOIN re USING (doc_id) ORDER BY doc_id""".stripMargin,
    // The skew fixture replayed on the identically-appended corpus (the
    // oracle works by span TEXT where the engine works by digest):
    // concat_ws on both sides so NULL-text handling matches exactly.
    "exact_substr_dedup_skew" ->
      s"""WITH d0 AS (SELECT doc_id, concat_ws(' ', text, '$excisionBoilerplate') AS text FROM documents),
        |t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM d0),
        |occ AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, array_to_string(toks[i:i+14], ' ') AS gram
        |  FROM t, LATERAL (SELECT unnest(range(1, len(toks) - 13)) AS i) WHERE len(toks) >= 15),
        |w AS (SELECT doc_id, pos, count(*) OVER (PARTITION BY gram) AS tot,
        |    row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rk FROM occ),
        |drops AS (SELECT DISTINCT doc_id, pos + d AS p FROM w,
        |  LATERAL (SELECT unnest(range(0, 15)) AS d) WHERE tot > 1 AND rk > 1),
        |tok AS (SELECT doc_id, CAST(i AS BIGINT) AS p, toks[i] AS tok
        |  FROM t, LATERAL (SELECT unnest(range(1, len(toks) + 1)) AS i)),
        |kept AS (SELECT tok.doc_id, tok.p, tok.tok FROM tok
        |  ANTI JOIN drops ON tok.doc_id = drops.doc_id AND tok.p = drops.p),
        |re AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |    string_agg(tok, ' ' ORDER BY p) AS txt FROM kept GROUP BY 1)
        |SELECT d.doc_id, CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(re.n_kept, 0) AS BIGINT) AS n_kept,
        |  coalesce(re.txt, '') AS text_dedup
        |FROM d0 d LEFT JOIN re USING (doc_id) ORDER BY doc_id""".stripMargin,
    // Per-term contributions quantized to micro-unit BIGINTs before the
    // per-doc sum (associative), ranked on the long — mirrors the Spark
    // side exactly; the double appears only in the displayed 4-dp score.
    "bm25_topk" ->
      """WITH dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl FROM documents),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
        |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM toks
        |  WHERE term IN ('spark', 'join', 'query') GROUP BY 1, 2),
        |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df_t FROM tf GROUP BY 1),
        |contrib AS (SELECT doc_id,
        |    CAST(floor((ln((n_docs - df_t + 0.5) / (df_t + 0.5) + 1)
        |      * (tf * (1.2 + 1)) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))) * 1000000 + 0.5) AS BIGINT) AS cu
        |  FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN n),
        |sc AS (SELECT doc_id, CAST(sum(cu) AS BIGINT) AS su, CAST(count(*) AS BIGINT) AS n_terms
        |  FROM contrib GROUP BY 1),
        |r AS (SELECT doc_id, n_terms, floor((CAST(su AS DOUBLE) / 1000000) * 10000 + 0.5) / 10000 AS score,
        |    row_number() OVER (ORDER BY su DESC, doc_id) AS rnk FROM sc)
        |SELECT doc_id, n_terms, score, CAST(rnk AS BIGINT) AS rnk
        |FROM r WHERE rnk <= 20 ORDER BY rnk""".stripMargin,
    // The naive scan the trigram index replaces: every (pattern, doc)
    // LIKE-style containment over the full corpus. Identical output ==
    // the index pruned losslessly.
    "trigram_search" ->
      """WITH pats(pattern) AS (VALUES ('sort merge'), ('batch stream'),
        |  ('window window'), ('merge part window'), ('graft engine'))
        |SELECT pattern, doc_id FROM documents, pats
        |WHERE contains(text, pattern) ORDER BY pattern, doc_id""".stripMargin,
    // MLE trigram model refit from scratch in SQL; the per-trigram -ln p is
    // micro-unit-quantized before the per-doc sum, same as the engine.
    "ngram_lm_score" ->
      """WITH tri0 AS (SELECT doc_id, text, unnest(range(1, len(text) - 1)) AS i
        |  FROM documents WHERE len(text) >= 3),
        |tri AS (SELECT doc_id, substr(text, i, 3) AS tri FROM tri0),
        |tc AS (SELECT tri, CAST(count(*) AS BIGINT) AS ct FROM tri GROUP BY 1),
        |pc AS (SELECT substr(tri, 1, 2) AS pre, CAST(sum(ct) AS BIGINT) AS cp FROM tc GROUP BY 1),
        |model AS (SELECT tc.tri, ct, cp FROM tc JOIN pc ON substr(tc.tri, 1, 2) = pc.pre),
        |scored AS (SELECT doc_id, CAST(floor(-ln(CAST(ct AS DOUBLE) / cp) * 1000000 + 0.5) AS BIGINT) AS nu
        |  FROM tri JOIN model USING (tri)),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tri, CAST(sum(nu) AS BIGINT) AS su
        |  FROM scored GROUP BY 1)
        |SELECT doc_id, n_tri, floor((CAST(su AS DOUBLE) / 1000000 / n_tri) * 10000 + 0.5) / 10000 AS avg_nll
        |FROM agg ORDER BY doc_id""".stripMargin,
    // Full NB train+apply replay: same Laplace smoothing, same micro-log
    // quantization per term, same (score DESC, label ASC) argmax.
    "nb_lang_classify" ->
      """WITH train AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 5 <> 1 AND lang IS NOT NULL),
        |test AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 5 = 1),
        |tt AS (SELECT lang AS l, unnest(string_split(text, ' ')) AS w FROM train),
        |cwc AS (SELECT l, w, CAST(count(*) AS BIGINT) AS c FROM tt GROUP BY 1, 2),
        |totc AS (SELECT l, CAST(sum(c) AS BIGINT) AS tot FROM cwc GROUP BY 1),
        |vv AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v FROM cwc),
        |pri AS (SELECT lang AS l, CAST(count(*) AS BIGINT) AS nd FROM train GROUP BY 1),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM train),
        |cls AS (SELECT pri.l,
        |    CAST(floor(ln(CAST(nd AS DOUBLE) / n) * 1000000 + 0.5) AS BIGINT) AS lprior,
        |    CAST(floor(ln(1.0 / (tot + v)) * 1000000 + 0.5) AS BIGINT) AS lp0,
        |    tot + v AS den
        |  FROM pri JOIN totc ON pri.l = totc.l CROSS JOIN nn CROSS JOIN vv),
        |model AS (SELECT cwc.l, cwc.w,
        |    CAST(floor(ln(CAST(c + 1 AS DOUBLE) / den) * 1000000 + 0.5) AS BIGINT) AS lp
        |  FROM cwc JOIN cls ON cwc.l = cls.l),
        |dt AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c FROM
        |    (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM test) GROUP BY 1, 2),
        |sc AS (SELECT dt.doc_id, cls.l,
        |    CAST(min(cls.lprior) + sum(coalesce(model.lp, cls.lp0) * dt.c) AS BIGINT) AS score
        |  FROM dt CROSS JOIN cls LEFT JOIN model ON model.l = cls.l AND model.w = dt.w
        |  GROUP BY 1, 2),
        |best AS (SELECT doc_id, l, score,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, l) AS rk FROM sc)
        |SELECT t.doc_id, t.lang, b.l AS pred_lang,
        |  CAST(CASE WHEN t.lang = b.l THEN 1 ELSE 0 END AS BIGINT) AS is_correct,
        |  b.score AS score_micro
        |FROM test t JOIN best b ON t.doc_id = b.doc_id AND b.rk = 1
        |ORDER BY t.doc_id""".stripMargin,
    "nb_lang_classify_hashed" -> nbHashedOracle,
    // Heuristic labeling (the quality_score pipeline verbatim, 4-dp
    // stage rounding included) + the same NB train+apply replay,
    // aggregated per predicted class.
    "model_quality_gate" ->
      """WITH t0 AS (SELECT doc_id, text,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    CAST(len(list_filter(string_split(text, ' '), t -> list_contains(['the','a','and','of','to'], t))) AS BIGINT) AS hits,
        |    length(text) AS lc,
        |    length(regexp_replace(text, '[0-9]', '', 'g')) AS lnd
        |  FROM documents),
        |r AS (SELECT doc_id, text, n_tokens,
        |    floor((CAST(hits AS DOUBLE) / greatest(n_tokens, 1)) * 10000 + 0.5) / 10000 AS stop_ratio,
        |    floor((CASE WHEN lc = 0 THEN 0.0 ELSE CAST(lc - lnd AS DOUBLE) / lc END) * 10000 + 0.5) / 10000 AS digit_ratio
        |  FROM t0),
        |lab AS (SELECT doc_id, text,
        |    CASE WHEN floor((least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.5 + stop_ratio * 0.3 + (1.0 - digit_ratio) * 0.2) * 10000 + 0.5) / 10000 >= 0.4
        |      THEN 'good' ELSE 'bad' END AS l
        |  FROM r),
        |train AS (SELECT doc_id, l, text FROM lab WHERE doc_id % 3 = 0),
        |test AS (SELECT doc_id, l, text FROM lab WHERE doc_id % 3 <> 0),
        |tt AS (SELECT l, unnest(string_split(text, ' ')) AS w FROM train),
        |cwc AS (SELECT l, w, CAST(count(*) AS BIGINT) AS c FROM tt GROUP BY 1, 2),
        |totc AS (SELECT l, CAST(sum(c) AS BIGINT) AS tot FROM cwc GROUP BY 1),
        |vv AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v FROM cwc),
        |pri AS (SELECT l, CAST(count(*) AS BIGINT) AS nd FROM train GROUP BY 1),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM train),
        |cls AS (SELECT pri.l,
        |    CAST(floor(ln(CAST(nd AS DOUBLE) / n) * 1000000 + 0.5) AS BIGINT) AS lprior,
        |    CAST(floor(ln(1.0 / (tot + v)) * 1000000 + 0.5) AS BIGINT) AS lp0,
        |    tot + v AS den
        |  FROM pri JOIN totc ON pri.l = totc.l CROSS JOIN nn CROSS JOIN vv),
        |model AS (SELECT cwc.l, cwc.w,
        |    CAST(floor(ln(CAST(c + 1 AS DOUBLE) / den) * 1000000 + 0.5) AS BIGINT) AS lp
        |  FROM cwc JOIN cls ON cwc.l = cls.l),
        |dt AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c FROM
        |    (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM test) GROUP BY 1, 2),
        |sc AS (SELECT dt.doc_id, cls.l,
        |    CAST(min(cls.lprior) + sum(coalesce(model.lp, cls.lp0) * dt.c) AS BIGINT) AS score
        |  FROM dt CROSS JOIN cls LEFT JOIN model ON model.l = cls.l AND model.w = dt.w
        |  GROUP BY 1, 2),
        |best AS (SELECT doc_id, l, score,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, l) AS rk FROM sc)
        |SELECT b.l AS pred_qlabel, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(t.doc_id) AS BIGINT) AS id_sum,
        |  CAST(sum(CASE WHEN t.l = b.l THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
        |FROM test t JOIN best b ON t.doc_id = b.doc_id AND b.rk = 1
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // DSIR replay: the 8-hex-char md5 bucket is the strpos/list_reduce
    // idiom the split oracles use; smoothing and micro-log quantization
    // term-for-term identical to the engine.
    "dsir_select" ->
      """WITH raw AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 7),
        |tgt AS (SELECT text FROM documents WHERE doc_id % 10 = 7),
        |rb AS (SELECT doc_id, list_reduce(list_transform(range(1, 9),
        |      i -> (strpos('0123456789abcdef', substr(md5(w), CAST(i AS INTEGER), 1)) - 1)::BIGINT),
        |      (a, x) -> a * 16 + x) % 4096 AS b
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM raw)),
        |tb AS (SELECT list_reduce(list_transform(range(1, 9),
        |      i -> (strpos('0123456789abcdef', substr(md5(w), CAST(i AS INTEGER), 1)) - 1)::BIGINT),
        |      (a, x) -> a * 16 + x) % 4096 AS b
        |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM tgt)),
        |rd AS (SELECT b, CAST(count(*) AS BIGINT) AS ct FROM rb GROUP BY 1),
        |td AS (SELECT b, CAST(count(*) AS BIGINT) AS ct FROM tb GROUP BY 1),
        |rt AS (SELECT CAST(sum(ct) AS BIGINT) AS tr FROM rd),
        |ttot AS (SELECT CAST(sum(ct) AS BIGINT) AS tt FROM td),
        |wt AS (SELECT rd.b,
        |    CAST(floor(ln(CAST(coalesce(td.ct, 0) + 1 AS DOUBLE) / (tt + 4096)) * 1000000 + 0.5) AS BIGINT)
        |    - CAST(floor(ln(CAST(rd.ct + 1 AS DOUBLE) / (tr + 4096)) * 1000000 + 0.5) AS BIGINT) AS wmic
        |  FROM rd LEFT JOIN td USING (b) CROSS JOIN ttot CROSS JOIN rt),
        |db AS (SELECT doc_id, b, CAST(count(*) AS BIGINT) AS c FROM rb GROUP BY 1, 2),
        |sc AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |    CAST(sum(wmic * c) AS BIGINT) AS weight_micro
        |  FROM db JOIN wt USING (b) GROUP BY 1),
        |top AS (SELECT *, CAST(row_number() OVER (ORDER BY weight_micro DESC, doc_id) AS BIGINT) AS rank
        |  FROM sc ORDER BY weight_micro DESC, doc_id LIMIT 200)
        |SELECT rank, doc_id, n_tokens, weight_micro,
        |  floor((CAST(weight_micro AS DOUBLE) / 1000000 / n_tokens) * 10000 + 0.5) / 10000 AS avg_logratio
        |FROM top ORDER BY rank""".stripMargin,
    // Tertiles via the sorted-list ⌈q·n⌉ pick — identical to the engine's
    // "min value whose cumulative count reaches the rank" histogram rule.
    "perplexity_buckets" ->
      """WITH tri0 AS (SELECT doc_id, text, unnest(range(1, len(text) - 1)) AS i
        |  FROM documents WHERE len(text) >= 3),
        |tri AS (SELECT doc_id, substr(text, i, 3) AS tri FROM tri0),
        |tc AS (SELECT tri, CAST(count(*) AS BIGINT) AS ct FROM tri GROUP BY 1),
        |pc AS (SELECT substr(tri, 1, 2) AS pre, CAST(sum(ct) AS BIGINT) AS cp FROM tc GROUP BY 1),
        |model AS (SELECT tc.tri, ct, cp FROM tc JOIN pc ON substr(tc.tri, 1, 2) = pc.pre),
        |nus AS (SELECT doc_id, CAST(floor(-ln(CAST(ct AS DOUBLE) / cp) * 1000000 + 0.5) AS BIGINT) AS nu
        |  FROM tri JOIN model USING (tri)),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tri, CAST(sum(nu) AS BIGINT) AS su
        |  FROM nus GROUP BY 1),
        |scored AS (SELECT agg.doc_id, d.lang,
        |    CAST(floor((CAST(su AS DOUBLE) / 1000000 / n_tri) * 10000 + 0.5) AS BIGINT) AS q
        |  FROM agg JOIN documents d USING (doc_id)),
        |th AS (SELECT lang, list_sort(list(q)) AS l, CAST(count(*) AS BIGINT) AS n
        |  FROM scored GROUP BY 1),
        |t2 AS (SELECT lang, l[CAST(ceil(n / 3.0) AS BIGINT)] AS t1,
        |    l[CAST(ceil(n * 2.0 / 3.0) AS BIGINT)] AS t2 FROM th),
        |b AS (SELECT s.lang, s.doc_id, s.q,
        |    CASE WHEN q <= t1 THEN 'head' WHEN q <= t2 THEN 'middle' ELSE 'tail' END AS bucket
        |  FROM scored s JOIN t2 USING (lang))
        |SELECT lang, bucket, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |  floor((CAST(sum(q) AS DOUBLE) / 10000 / count(*)) * 10000 + 0.5) / 10000 AS avg_score
        |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "distinct_ngram_ratio" ->
      """WITH toks AS (SELECT lang, string_split(text, ' ') AS t FROM documents),
        |g2 AS (SELECT lang, CAST(2 AS BIGINT) AS n,
        |    md5(array_to_string(t[i:i+1], ' ')) AS gh
        |  FROM (SELECT lang, t, unnest(range(1, len(t))) AS i FROM toks WHERE len(t) >= 2)),
        |g3 AS (SELECT lang, CAST(3 AS BIGINT) AS n,
        |    md5(array_to_string(t[i:i+2], ' ')) AS gh
        |  FROM (SELECT lang, t, unnest(range(1, len(t) - 1)) AS i FROM toks WHERE len(t) >= 3)),
        |g AS (SELECT * FROM g2 UNION ALL SELECT * FROM g3)
        |SELECT lang, n, CAST(count(*) AS BIGINT) AS total_grams,
        |  CAST(count(DISTINCT gh) AS BIGINT) AS distinct_grams,
        |  floor((CAST(count(DISTINCT gh) AS DOUBLE) / count(*)) * 10000 + 0.5) / 10000 AS distinct_ratio
        |FROM g GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "weekly_quantiles_histogram" ->
      """WITH v AS (SELECT date_trunc('week', o_orderdate) AS week, o_orderpriority AS dim,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c
        |  FROM orders WHERE o_totalprice IS NOT NULL),
        |s AS (SELECT week, dim, list_sort(list(c)) AS l, CAST(count(*) AS BIGINT) AS n
        |  FROM v GROUP BY 1, 2)
        |SELECT week, dim, n,
        |  floor((CAST(l[CAST(ceil(0.10 * n) AS BIGINT)] AS DOUBLE) / 100.0) * 10000 + 0.5) / 10000 AS p10,
        |  floor((CAST(l[CAST(ceil(0.50 * n) AS BIGINT)] AS DOUBLE) / 100.0) * 10000 + 0.5) / 10000 AS p50,
        |  floor((CAST(l[CAST(ceil(0.90 * n) AS BIGINT)] AS DOUBLE) / 100.0) * 10000 + 0.5) / 10000 AS p90
        |FROM s ORDER BY week, dim""".stripMargin,
    "global_quantiles_exact" ->
      """WITH v AS (SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c
        |  FROM orders WHERE o_totalprice IS NOT NULL),
        |s AS (SELECT list_sort(list(c)) AS l, CAST(count(*) AS BIGINT) AS n FROM v)
        |SELECT n,
        |  floor((CAST(l[CAST(ceil(0.10 * n) AS BIGINT)] AS DOUBLE) / 100.0) * 10000 + 0.5) / 10000 AS p10,
        |  floor((CAST(l[CAST(ceil(0.50 * n) AS BIGINT)] AS DOUBLE) / 100.0) * 10000 + 0.5) / 10000 AS p50,
        |  floor((CAST(l[CAST(ceil(0.90 * n) AS BIGINT)] AS DOUBLE) / 100.0) * 10000 + 0.5) / 10000 AS p90
        |FROM s""".stripMargin,
    // Gaps from the same totalized (us, event_id) order; `//` truncation
    // on the non-negative gap matches the engine's integral divide; the
    // ⌈q·n⌉ pick replays the histogram path's rank convention.
    "dwell_time_quantiles" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id, event_type FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |g AS (SELECT event_type,
        |    (lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) - us) // 1000000 AS gap_s
        |  FROM e),
        |s AS (SELECT event_type, list_sort(list(gap_s)) AS l, CAST(count(*) AS BIGINT) AS n
        |  FROM g WHERE gap_s IS NOT NULL GROUP BY 1)
        |SELECT event_type, n,
        |  l[CAST(ceil(0.50 * n) AS BIGINT)] AS p50,
        |  l[CAST(ceil(0.90 * n) AS BIGINT)] AS p90,
        |  l[CAST(ceil(0.99 * n) AS BIGINT)] AS p99
        |FROM s ORDER BY event_type""".stripMargin,
    // Fan-out histogram read with the same ⌈q·n⌉ convention; max joins
    // from the same counts.
    "fk_fanout" ->
      """WITH c AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS c FROM orders GROUP BY 1),
        |s AS (SELECT list_sort(list(c)) AS l, CAST(count(*) AS BIGINT) AS n,
        |    CAST(max(c) AS BIGINT) AS fan_max FROM c)
        |SELECT n AS n_parents,
        |  l[CAST(ceil(0.50 * n) AS BIGINT)] AS p50,
        |  l[CAST(ceil(0.99 * n) AS BIGINT)] AS p99,
        |  fan_max
        |FROM s""".stripMargin,
    // The oracle IS the single-task global window the engine refuses to
    // run — at oracle scale that's fine, and equality proves the
    // distributed two-pass landed on the same exact prefix at every row.
    "shard_manifest" ->
      """WITH t AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
        |c AS (SELECT doc_id, n_tokens, CAST(sum(n_tokens) OVER (ORDER BY h, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens FROM t)
        |SELECT doc_id, n_tokens, cum_tokens,
        |  CAST(floor(CAST(cum_tokens - n_tokens AS DOUBLE) / 2000) AS BIGINT) AS shard
        |FROM c ORDER BY doc_id""".stripMargin,
    // range(1, len-3) = 5-gram starts 1..len-4; t[i:i+4] is a 5-token
    // inclusive slice. DISTINCT per doc like the engine's ngramSet.
    "ngram_novelty" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |pos AS (SELECT doc_id, t, unnest(range(1, len(t) - 3)) AS i FROM toks WHERE len(t) >= 5),
        |g AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS g FROM pos),
        |f AS (SELECT g, CAST(min(doc_id) AS BIGINT) AS first_doc FROM g GROUP BY 1),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |    CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
        |  FROM g JOIN f USING (g) GROUP BY 1)
        |SELECT d.doc_id, CAST(COALESCE(n_grams, 0) AS BIGINT) AS n_grams,
        |  CAST(COALESCE(n_novel, 0) AS BIGINT) AS n_novel,
        |  CASE WHEN COALESCE(n_grams, 0) = 0 THEN NULL
        |       ELSE floor((CAST(n_novel AS DOUBLE) / n_grams) * 10000 + 0.5) / 10000 END AS novelty
        |FROM documents d LEFT JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin,
    // Gini via its integer-numerator identity — the only double is the
    // final division, same as the engine.
    "source_concentration" ->
      """WITH s AS (SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS w FROM documents GROUP BY 1),
        |o AS (SELECT w, CAST(row_number() OVER (ORDER BY w, source) AS BIGINT) AS rk FROM s),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n_strata, CAST(sum(w) AS BIGINT) AS tot,
        |    CAST(sum(w * w) AS BIGINT) AS sumsq, CAST(max(w) AS BIGINT) AS mx,
        |    CAST(sum(rk * w) AS BIGINT) AS rksum FROM o)
        |SELECT n_strata,
        |  floor((CAST(sumsq AS DOUBLE) / (CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE))) * 10000 + 0.5) / 10000 AS hhi,
        |  floor((CAST(mx AS DOUBLE) / tot) * 10000 + 0.5) / 10000 AS top_share,
        |  floor((CAST(2 * rksum - (n_strata + 1) * tot AS DOUBLE) / CAST(n_strata * tot AS DOUBLE)) * 10000 + 0.5) / 10000 AS gini
        |FROM a""".stripMargin,
    // percent_rank is (rank-1)/(n-1) over exact ints in both engines, so
    // the 0.05/0.95 boundary compares bit-identically; ties share a rank
    // and pass or fail together.
    "length_tail_gate" ->
      """WITH p AS (SELECT doc_id, source, n_chars,
        |    percent_rank() OVER (PARTITION BY source ORDER BY n_chars) AS pr FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
        |  CAST(min(n_chars) AS BIGINT) AS min_chars,
        |  CAST(max(n_chars) AS BIGINT) AS max_chars,
        |  CAST(sum(doc_id) AS BIGINT) AS kept_id_sum
        |FROM p WHERE pr >= 0.05 AND pr <= 0.95 GROUP BY 1 ORDER BY 1""".stripMargin,
    "merge_pair_candidates" ->
      """WITH t AS (SELECT string_split(text, ' ') AS t FROM documents),
        |pos AS (SELECT t, unnest(range(1, len(t))) AS i FROM t WHERE len(t) >= 2),
        |p AS (SELECT t[i] AS left_tok, t[i+1] AS right_tok FROM pos),
        |c AS (SELECT left_tok, right_tok, CAST(count(*) AS BIGINT) AS cnt FROM p GROUP BY 1, 2),
        |r AS (SELECT *, CAST(row_number() OVER (ORDER BY cnt DESC, left_tok, right_tok) AS BIGINT) AS rnk FROM c)
        |SELECT left_tok, right_tok, cnt, rnk FROM r WHERE rnk <= 15 ORDER BY rnk""".stripMargin,
    // Reuses bm25_topk's CTE chain for the sparse leg and the raw-double
    // cosine ranking (knn_cosine_topk's contract) for the dense leg; the
    // RRF sum is two fixed-order terms with COALESCE(_, 0) for
    // absent-from-list.
    "hybrid_search" ->
      """WITH dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl FROM documents),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
        |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM toks
        |  WHERE term IN ('spark', 'join', 'query') GROUP BY 1, 2),
        |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df_t FROM tf GROUP BY 1),
        |contrib AS (SELECT doc_id,
        |    CAST(floor((ln((n_docs - df_t + 0.5) / (df_t + 0.5) + 1)
        |      * (tf * (1.2 + 1)) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))) * 1000000 + 0.5) AS BIGINT) AS cu
        |  FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN n),
        |sc AS (SELECT doc_id, CAST(sum(cu) AS BIGINT) AS su FROM contrib GROUP BY 1),
        |sparse AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY su DESC, doc_id) AS BIGINT) AS rnk_sparse FROM sc),
        |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 7),
        |dp AS (SELECT e.vec_id AS doc_id, list_cosine_similarity(qe, CAST(e.embedding AS DOUBLE[])) AS cos
        |  FROM embeddings e, q WHERE e.vec_id < 500 AND e.vec_id <> 7),
        |dense AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY cos DESC, doc_id) AS BIGINT) AS rnk_dense FROM dp),
        |f AS (SELECT COALESCE(s.doc_id, dd.doc_id) AS doc_id, s.rnk_sparse, dd.rnk_dense,
        |    floor((COALESCE(1.0 / (60.0 + s.rnk_sparse), 0) + COALESCE(1.0 / (60.0 + dd.rnk_dense), 0)) * 10000 + 0.5) / 10000 AS rrf
        |  FROM (SELECT * FROM sparse WHERE rnk_sparse <= 20) s
        |  FULL OUTER JOIN (SELECT * FROM dense WHERE rnk_dense <= 20) dd ON s.doc_id = dd.doc_id),
        |r AS (SELECT *, CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS BIGINT) AS hybrid_rank FROM f)
        |SELECT doc_id, rnk_sparse, rnk_dense, rrf, hybrid_rank FROM r
        |WHERE hybrid_rank <= 10 ORDER BY hybrid_rank""".stripMargin,
    // Keep-first rule replayed relationally: dropped = DISTINCT greater ids
    // of qualifying pairs, with the cosine 4-dp-quantized before the
    // threshold compare exactly like the engine's expression.
    "semantic_dedup" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id < 2000),
        |dr AS (SELECT DISTINCT b.vec_id FROM e a JOIN e b ON a.vec_id < b.vec_id
        |  WHERE floor(list_cosine_similarity(a.v, b.v) * 10000 + 0.5) / 10000 >= 0.4),
        |k AS (SELECT e.vec_id, e.label, (d.vec_id IS NOT NULL) AS dropped FROM e LEFT JOIN dr d USING (vec_id))
        |SELECT label, CAST(count(*) AS BIGINT) AS n_total,
        |  CAST(sum(CASE WHEN dropped THEN 0 ELSE 1 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        |  CAST(sum(CASE WHEN dropped THEN 0 ELSE vec_id END) AS BIGINT) AS kept_id_sum
        |FROM k GROUP BY 1 ORDER BY 1""".stripMargin,
    "embed_decontaminate" ->
      """WITH b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |    list_reduce(list_transform(range(1, 9),
        |      i -> (strpos('0123456789abcdef', substr(md5(CAST(vec_id AS VARCHAR)), i, 1)) - 1)::BIGINT),
        |      (a, x) -> a * 16 + x) % 100 AS bucket
        |  FROM embeddings),
        |s AS (SELECT vec_id, v, CASE WHEN bucket < 90 THEN 'train' ELSE 'test' END AS split FROM b),
        |leaked AS (SELECT DISTINCT t.vec_id
        |  FROM s t JOIN s tr ON t.split = 'test' AND tr.split = 'train'
        |  WHERE t.vec_id < 2000
        |    AND floor(list_cosine_similarity(t.v, tr.v) * 10000 + 0.5) / 10000 >= 0.4)
        |SELECT CAST(count(*) AS BIGINT) AS n_leaked, TRUE AS recall_ok, TRUE AS precision_ok
        |FROM leaked""".stripMargin,
    "dedup_chunks" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |c AS (SELECT doc_id, toks,
        |    unnest(range(0, GREATEST(0, (len(toks) - 16 + 15) // 16) + 1)) AS chunk_id
        |  FROM t),
        |ch AS (SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |    array_to_string(list_slice(toks, chunk_id * 16 + 1, chunk_id * 16 + 16), ' ') AS chunk_text
        |  FROM c),
        |surv AS (SELECT doc_id, chunk_id, chunk_text FROM (
        |    SELECT *, row_number() OVER (PARTITION BY md5(chunk_text) ORDER BY doc_id, chunk_id) AS rn FROM ch)
        |  WHERE rn = 1)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks_kept,
        |  string_agg(chunk_text, ' ' ORDER BY chunk_id) AS text
        |FROM surv GROUP BY 1 ORDER BY 1""".stripMargin,
    "cdc_chunk_dedup" -> cdcChunkOracle,
    // Content-addressed prefix deal + first-bucket charging for both
    // type inventories; every output an exact integer.
    "vocab_growth" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS BIGINT) AS bucket,
        |    string_split(text, ' ') AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |tok AS (SELECT bucket, md5(unnest(toks)) AS g FROM d),
        |nt AS (SELECT bucket, CAST(count(*) AS BIGINT) AS ntk FROM tok GROUP BY 1),
        |nv AS (SELECT fb AS bucket, CAST(count(*) AS BIGINT) AS nvv FROM (SELECT g, min(bucket) AS fb FROM tok GROUP BY 1) GROUP BY 1),
        |bgr AS (SELECT bucket, md5(unnest(CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[])
        |    ELSE list_transform(range(1, len(toks)), i -> toks[CAST(i AS INTEGER)] || ' ' || toks[CAST(i + 1 AS INTEGER)]) END)) AS g FROM d),
        |nb AS (SELECT fb AS bucket, CAST(count(*) AS BIGINT) AS nbb FROM (SELECT g, min(bucket) AS fb FROM bgr GROUP BY 1) GROUP BY 1),
        |ndoc AS (SELECT bucket, CAST(count(*) AS BIGINT) AS ndc FROM d GROUP BY 1),
        |b AS (SELECT CAST(unnest(range(0, 16)) AS BIGINT) AS bucket)
        |SELECT b.bucket,
        |  CAST(sum(coalesce(ndc, 0)) OVER (ORDER BY b.bucket) AS BIGINT) AS n_docs_cum,
        |  CAST(sum(coalesce(ntk, 0)) OVER (ORDER BY b.bucket) AS BIGINT) AS n_tokens_cum,
        |  CAST(sum(coalesce(nvv, 0)) OVER (ORDER BY b.bucket) AS BIGINT) AS vocab_cum,
        |  CAST(sum(coalesce(nbb, 0)) OVER (ORDER BY b.bucket) AS BIGINT) AS bigram_vocab_cum
        |FROM b LEFT JOIN ndoc ON b.bucket = ndoc.bucket LEFT JOIN nt ON b.bucket = nt.bucket
        |  LEFT JOIN nv ON b.bucket = nv.bucket LEFT JOIN nb ON b.bucket = nb.bucket
        |ORDER BY b.bucket""".stripMargin,
    "cdc_chunk_pairs" -> (cdcFpdCte +
      """,
        |rare AS (SELECT fp_hash FROM (
        |    SELECT fp_hash, count(DISTINCT doc_id) AS df FROM fpd GROUP BY 1)
        |  WHERE df <= 50),
        |kept AS (SELECT fpd.doc_id, fpd.fp_hash FROM fpd JOIN rare USING (fp_hash))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(count(*) AS BIGINT) AS shared_fp
        |FROM kept a JOIN kept b ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 2 ORDER BY id_a, id_b""".stripMargin),
    "incremental_cdc_persisted" -> cdcIncrementalOracle,
    "stream_cdc_incremental" -> cdcIncrementalOracle,
    // Skew-report replay: count-of-counts, exact rank picks, the
    // tokenEntropy micro recipe over key counts.
    "key_skew_report" ->
      """WITH pk AS (SELECT l_partkey AS k, CAST(count(*) AS BIGINT) AS c
        |  FROM lineitem WHERE l_partkey IS NOT NULL GROUP BY 1),
        |h AS (SELECT c, CAST(count(*) AS BIGINT) AS kc FROM pk GROUP BY 1),
        |t AS (SELECT CAST(coalesce(sum(c * kc), 0) AS BIGINT) AS n_rows,
        |    CAST(coalesce(sum(kc), 0) AS BIGINT) AS n_keys,
        |    CAST(max(c) AS BIGINT) AS max_key_rows,
        |    CAST(coalesce(sum(kc * CAST(floor(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)), 0) AS BIGINT) AS clnc
        |  FROM h),
        |r AS (SELECT c, sum(kc) OVER (ORDER BY c) AS cum FROM h),
        |p50 AS (SELECT CAST(min(c) AS BIGINT) AS p50 FROM r, t
        |  WHERE cum >= CAST(ceil(0.5 * CAST(n_keys AS DOUBLE)) AS BIGINT)),
        |p99 AS (SELECT CAST(min(c) AS BIGINT) AS p99 FROM r, t
        |  WHERE cum >= CAST(ceil(0.99 * CAST(n_keys AS DOUBLE)) AS BIGINT))
        |SELECT n_rows, n_keys, max_key_rows,
        |  floor(CAST(max_key_rows AS DOUBLE) / CAST(n_rows AS DOUBLE) * 10000 + 0.5) / 10000 AS top_share,
        |  p50 AS p50_key_rows, p99 AS p99_key_rows,
        |  floor((ln(CAST(n_rows AS DOUBLE)) - CAST(clnc AS DOUBLE) / (CAST(n_rows AS DOUBLE) * 1000000.0)) * 10000 + 0.5) / 10000 AS entropy,
        |  CASE WHEN n_keys = 1 THEN NULL
        |    ELSE floor(((ln(CAST(n_rows AS DOUBLE)) - CAST(clnc AS DOUBLE) / (CAST(n_rows AS DOUBLE) * 1000000.0)) / ln(CAST(n_keys AS DOUBLE))) * 10000 + 0.5) / 10000 END AS norm_entropy
        |FROM t, p50, p99""".stripMargin,
    "salted_agg" ->
      """SELECT o_orderpriority,
        |  floor((CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0) * 10000 + 0.5) / 10000 AS total_price
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    // The adaptive variants replay the DECISION RULE, not just the sums:
    // the same 4-dp top_share the engine's pre-flight reads, compared
    // against the same 0.05 threshold.
    "skew_aware_agg_hot" ->
      """WITH s AS (SELECT floor(CAST(max(cnt) AS DOUBLE) / sum(cnt) * 10000 + 0.5) / 10000 > 0.05 AS salted
        |  FROM (SELECT count(*) AS cnt FROM events WHERE event_type IS NOT NULL GROUP BY event_type))
        |SELECT event_type,
        |  floor((CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0) * 10000 + 0.5) / 10000 AS total_value,
        |  s.salted
        |FROM events, s WHERE event_type IS NOT NULL
        |GROUP BY 1, 3 ORDER BY 1""".stripMargin,
    "skew_aware_agg_uniform" ->
      """WITH s AS (SELECT floor(CAST(max(cnt) AS DOUBLE) / sum(cnt) * 10000 + 0.5) / 10000 > 0.05 AS salted
        |  FROM (SELECT count(*) AS cnt FROM orders WHERE o_custkey IS NOT NULL GROUP BY o_custkey))
        |SELECT o_custkey,
        |  floor((CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0) * 10000 + 0.5) / 10000 AS total_price,
        |  s.salted
        |FROM orders, s WHERE o_custkey IS NOT NULL
        |GROUP BY 1, 3 ORDER BY 1""".stripMargin,
    "salted_join" ->
      """SELECT c.c_mktsegment,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(count(DISTINCT o.o_orderkey) AS BIGINT) AS n_distinct
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "zorder_layout" ->
      """WITH v AS (SELECT o_orderkey,
        |    o_custkey % 1024 AS zx,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) % 1024 AS zy
        |  FROM orders)
        |SELECT o_orderkey, zx, zy,
        |  CAST(list_sum(list_transform(range(0, 10),
        |    i -> ((zx >> i) & 1) * (1::BIGINT << (2 * i)) + ((zy >> i) & 1) * (1::BIGINT << (2 * i + 1)))) AS BIGINT) AS zval
        |FROM v ORDER BY zval, o_orderkey""".stripMargin,
    // Zone-map replay: same z-values, ranks via row_number over each
    // total order (fine at oracle scale; the engine's rank is the
    // boundary-invariant distributed prefix sum), same per-file stats.
    "zonemap_prune" ->
      """WITH v AS (SELECT o_orderkey,
        |    o_custkey % 1024 AS zx,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) % 1024 AS zy
        |  FROM orders),
        |z AS (SELECT *, CAST(list_sum(list_transform(range(0, 10),
        |    i -> ((zx >> i) & 1) * (1::BIGINT << (2 * i)) + ((zy >> i) & 1) * (1::BIGINT << (2 * i + 1)))) AS BIGINT) AS zval
        |  FROM v),
        |lay AS (
        |  SELECT 'zorder' AS layout, zx, zy,
        |      CAST(row_number() OVER (ORDER BY zval, o_orderkey) AS BIGINT) AS rn FROM z
        |  UNION ALL
        |  SELECT 'linear', zx, zy,
        |      CAST(row_number() OVER (ORDER BY o_orderkey) AS BIGINT) AS rn FROM z),
        |f AS (SELECT layout, (rn - 1) // 250 AS fid, CAST(count(*) AS BIGINT) AS nr,
        |    min(zx) AS xmin, max(zx) AS xmax, min(zy) AS ymin, max(zy) AS ymax,
        |    CAST(sum(CASE WHEN zx BETWEEN 100 AND 200 AND zy BETWEEN 300 AND 400 THEN 1 ELSE 0 END) AS BIGINT) AS hits
        |  FROM lay GROUP BY 1, 2)
        |SELECT layout, CAST(count(*) AS BIGINT) AS n_files, CAST(sum(nr) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN xmin <= 200 AND xmax >= 100 AND ymin <= 400 AND ymax >= 300 THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned,
        |  CAST(sum(CASE WHEN xmin <= 200 AND xmax >= 100 AND ymin <= 400 AND ymax >= 300 THEN nr ELSE 0 END) AS BIGINT) AS rows_scanned,
        |  CAST(sum(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS BIGINT) AS files_with_hits,
        |  CAST(sum(hits) AS BIGINT) AS rows_matched,
        |  floor(CAST(sum(CASE WHEN xmin <= 200 AND xmax >= 100 AND ymin <= 400 AND ymax >= 300 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*) * 10000 + 0.5) / 10000 AS scan_ratio
        |FROM f GROUP BY 1 ORDER BY layout""".stripMargin,
  )
}

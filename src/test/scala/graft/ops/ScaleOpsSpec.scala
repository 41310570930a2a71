package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkTestBase

class ScaleOpsSpec extends SparkTestBase {
  import spark.implicits._

  test("fanOut widens a narrow scan to session width, preserves rows") {
    val docs = graft.Tables.documents(spark, sfTest)
    val wide = ScaleOps.fanOut(docs, col("doc_id"))
    val want = spark.sparkContext.defaultParallelism
    // the fixture is a single-row-group file: the clamp must fire, pin
    // an explicit-count hash exchange, and change no row
    assert(wide.rdd.getNumPartitions === want)
    assert(wide.queryExecution.optimizedPlan.toString
      .contains("RepartitionByExpression"),
      wide.queryExecution.optimizedPlan.toString)
    assert(wide.count() === docs.count())
    assert(wide.agg(sum("doc_id")).head.getLong(0) ===
      docs.agg(sum("doc_id")).head.getLong(0))
  }

  test("fanOut leaves derived (non-scan-level) frames untouched") {
    val docs = graft.Tables.documents(spark, sfTest)
    // an aggregation is not scan-level: probing its width would execute
    // the adaptive stages, so the guard must pass it through unchanged
    val derived = docs.groupBy("lang").agg(count(lit(1)).as("n"))
    val out = ScaleOps.fanOut(derived, col("lang"))
    assert(out eq derived)
  }

  test("checkpointFanOut re-materializes narrow checkpoints at session width") {
    val docs = graft.Tables.documents(spark, sfTest)
      .select(col("doc_id"), col("lang"))
    val cp = ScaleOps.checkpointFanOut(docs, col("doc_id"))
    assert(cp.rdd.getNumPartitions ===
      spark.sparkContext.defaultParallelism)
    assert(cp.count() === docs.count())
  }

  test("approxWeeklyStats tracks the exact stats within tolerance") {
    // One large group: percentile_approx returns an actual element (no
    // interpolation), so tiny groups can legitimately deviate by a whole
    // neighbor-gap; the approximation contract is about big groups.
    val o = graft.Tables.orders(spark, sfTest)
      .withColumn("fixed_ts", to_timestamp(lit("2024-01-01 00:00:00")))
    val exact = WeeklyAgg.weeklyStatsCore(o, col("fixed_ts"),
      lit("all"), col("o_orderkey"), col("o_totalprice"))
    val approx = ScaleOps.approxWeeklyStats(o, col("fixed_ts"),
      lit("all"), col("o_orderkey"), col("o_totalprice"))
    val j = exact.as("e").join(approx.as("a"), Seq("week", "dim"))
      .select(col("e.transactions").as("et"), col("a.transactions").as("at"),
        col("e.price_median").as("em"), col("a.price_median").as("am"))
      .collect()
    assert(j.nonEmpty)
    j.foreach { r =>
      val (et, at) = (r.getAs[Long]("et"), r.getAs[Long]("at"))
      assert(math.abs(at - et).toDouble / et < 0.15, s"count $at vs $et")
      val (em, am) = (r.getAs[Double]("em"), r.getAs[Double]("am"))
      assert(math.abs(am - em) / em < 0.15, s"median $am vs $em")
    }
  }

  test("zValue: hand-computed interleave, masking, and locality ordering") {
    val df = Seq((5L, 3L), (13L, 3L)).toDF("x", "y")
    val zs = df.select(ScaleOps.zValue(col("x"), col("y"), bits = 3).as("z"))
      .collect().map(_.getLong(0))
    // x=101b, y=011b → z = x0@0 + y0@1 + y1@3 + x2@4 = 1+2+8+16 = 27
    assert(zs(0) === 27L)
    // bits=3 masks x=13 (1101b) down to 101b — same key as x=5
    assert(zs(1) === 27L)
    // z-order locality: points close in BOTH dims sort near each other —
    // (2,2) and (3,3) interleave below (0,7) and (7,0)'s neighborhood span
    val grid = for { x <- 0L to 7L; y <- 0L to 7L } yield (x, y)
    val zmap = grid.toDF("x", "y")
      .select(col("x"), col("y"),
        ScaleOps.zValue(col("x"), col("y"), bits = 3).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(zmap.values.toSet.size === 64) // bijective on the 8x8 grid
    assert(math.abs(zmap((2L, 2L)) - zmap((3L, 3L)))
      < math.abs(zmap((0L, 7L)) - zmap((7L, 0L))))
  }

  test("zorderLayout: range-partitioned by the key, rows preserved, files 2-D tight") {
    val o = graft.Tables.orders(spark, sfTest)
      .select(col("o_orderkey"),
        pmod(col("o_custkey"), lit(256)).as("x"),
        pmod(col("o_orderkey"), lit(256)).as("y"))
    val laid = ScaleOps.zorderLayout(o, "x", "y", partitions = 4, bits = 8)
    assert(laid.count() === o.count())
    assert(laid.columns.toSeq == o.columns.toSeq) // helper key dropped
    // each output partition's x-range is tighter than the global range —
    // the point of the layout: per-file min/max stats can skip 2-D queries
    val spans = laid
      .select(spark_partition_id().as("p"), col("x"))
      .groupBy("p").agg((max("x") - min("x")).as("span"))
      .collect().map(_.getAs[Long]("span"))
    val globalSpan = 255L
    assert(spans.length > 1 && spans.count(_ < globalSpan) >= spans.length / 2,
      s"partitions not 2-D localized: ${spans.toSeq}")
  }

  test("incremental HLL sketches: merged runs estimate like a full recompute") {
    val o = graft.Tables.orders(spark, sfTest)
    // split history into two "runs" (disjoint deliveries) + re-deliver one
    // slice to prove idempotent union
    val run1 = o.where(pmod(col("o_orderkey"), lit(2)) === 0)
    val run2 = o.where(pmod(col("o_orderkey"), lit(2)) === 1)
    def sk(df: org.apache.spark.sql.DataFrame) =
      ScaleOps.weeklySketches(df, col("o_orderdate"),
        col("o_orderpriority"), col("o_orderkey"))
    val merged = ScaleOps.mergeSketchCounts(Seq(sk(run1), sk(run2), sk(run2)))
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    val full = ScaleOps.mergeSketchCounts(Seq(sk(o)))
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    // union over the sketch lattice is exact: incremental == full-recompute
    // estimates, group for group (including the duplicated delivery)
    assert(merged == full)
    assert(full.nonEmpty)
    // and the estimates track the exact distinct counts
    val exact = o.withColumn("week", CoreOps.weekStart(col("o_orderdate")))
      .withColumn("dim", col("o_orderpriority"))
      .groupBy("week", "dim")
      .agg(countDistinct("o_orderkey").as("n"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    full.foreach { case (k, est) =>
      val ex = exact(k)
      assert(math.abs(est - ex) <= math.max(3.0, 0.15 * ex), s"$k: $est vs $ex")
    }
  }

  test("compactParquet merges a small-files directory, preserves rows") {
    import java.nio.file.Files
    val in = Files.createTempDirectory("compact-in").toString
    val out = Files.createTempDirectory("compact-out").toString
    // simulate a micro-batch sink: 32 tiny files
    (1 to 10000).map(i => (i.toLong, s"row-$i")).toDF("id", "v")
      .repartition(32).write.mode("overwrite").parquet(in)
    val smallFiles = new java.io.File(in).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(smallFiles == 32)
    val n = ScaleOps.compactParquet(spark, in, out, targetMb = 128,
      sortCol = Some("id"))
    assert(n == 1) // a few hundred KB compacts to one target-sized file
    val outFiles = new java.io.File(out).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(outFiles == 1)
    val rows = spark.read.parquet(out)
    assert(rows.count() == 10000)
    assert(rows.agg(sum("id")).collect().head.getLong(0)
      == (1 to 10000).map(_.toLong).sum)
  }

  test("backfillPartitions replaces only the frame's partitions, session conf untouched") {
    val dir = java.nio.file.Files.createTempDirectory("graft-backfill").toString
    Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "p")
      .write.mode("overwrite").partitionBy("p").parquet(dir)
    val key = "spark.sql.sources.partitionOverwriteMode"
    val before = spark.conf.get(key)
    ScaleOps.backfillPartitions(Seq((9L, "a")).toDF("id", "p"), dir, "p")
    assert(spark.conf.get(key) === before)
    // partition a replaced, partition b byte-untouched
    assert(spark.read.parquet(dir).orderBy("id").as[(Long, String)]
      .collect().toSeq === Seq((3L, "b"), (9L, "a")))
  }

  test("saltedSum equals the plain aggregation") {
    val df = (1 to 10000).map(i => (if (i % 100 == 0) "hot" else s"k${i % 7}", i.toDouble))
      .toDF("k", "v")
    val plain = df.groupBy("k").agg(sum("v").as("sum_v"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val salted = ScaleOps.saltedSum(df, Seq("k"), "v")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(salted == plain)
  }

  test("saltedJoin produces exactly the unsalted join's rows") {
    val facts = (1 to 1000).map(i => (i.toLong, if (i % 3 == 0) 1L else (i % 5).toLong))
      .toDF("fid", "k")
    val dim = Seq((0L, "a"), (1L, "b"), (2L, "c"), (3L, "d"), (4L, "e"))
      .toDF("dk", "name")
    val plain = facts.join(dim, facts("k") === dim("dk"))
      .select("fid", "name").collect().map(r => (r.getLong(0), r.getString(1))).sorted
    val salted = ScaleOps.saltedJoin(facts, dim, "k", "dk")
      .select("fid", "name").collect().map(r => (r.getLong(0), r.getString(1))).sorted
    assert(salted.toSeq == plain.toSeq)
  }

  test("bucketed join plans without a shuffle exchange") {
    // Managed-table locations persist under ./spark-warehouse across JVMs
    // while the in-memory metastore starts empty — clear both.
    for (t <- Seq("graft_bucket_a", "graft_bucket_b")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
        }
        rm(loc)
      }
    }
    val a = (1 to 1000).map(i => (i.toLong, i * 2.0)).toDF("k", "va")
    val b = (1 to 1000).map(i => (i.toLong, i * 3.0)).toDF("k", "vb")
    ScaleOps.writeBucketed(a, "graft_bucket_a", "k", 8)
    ScaleOps.writeBucketed(b, "graft_bucket_b", "k", 8)
    val joined = ScaleOps.bucketedJoin(spark, "graft_bucket_a", "graft_bucket_b", "k")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join should not shuffle:\n$plan")
    assert(joined.count() == 1000)
  }

  test("globalRunningTotal equals the single-window cumsum, at any partition count") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    // negative values and nulls included: the partition total must be the
    // value sum, not the max of a (then non-monotone) running column
    val rows = (1 to 500).map(i =>
      (i.toLong, if (i % 17 == 0) None else Some(rng.nextInt(201).toLong - 50)))
    val df = rows.toDF("k", "v")
    def run(in: org.apache.spark.sql.DataFrame, p: Int) =
      ScaleOps.globalRunningTotal(in, Seq(col("k")), col("v"), partitions = p)
        .select("k", "cum").as[(Long, Long)].collect().sortBy(_._1).toList
    val want = rows.scanLeft((0L, 0L)) { case ((_, acc), (k, v)) =>
      (k, acc + v.getOrElse(0L)) }.drop(1).toList
    assert(run(df, 7) == want)
    // boundary-invariance: a different partition count and a shuffled
    // input layout land on the identical global prefix
    assert(run(df.repartition(13), 3) == want)
    assert(run(df, 1) == want)
  }

  test("exactQuantilesByHistogram: ceil-rank order statistics, duplicates collapse correctly") {
    import spark.implicits._
    val df = Seq(1L, 1L, 1L, 9L).toDF("v")
    val r = ScaleOps.exactQuantilesByHistogram(df, col("v"),
      Seq(0.25, 0.50, 0.90)).collect().head
    // n=4: rank ⌈1⌉=1 → 1, rank ⌈2⌉=2 → still 1 (cum 3 ≥ 2), rank
    // ⌈3.6⌉=4 → 9
    assert(r.getLong(0) == 4L)
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) == ((1L, 1L, 9L)))
    // distinct 1..10: p50 = rank 5 exactly
    val t = ScaleOps.exactQuantilesByHistogram(
      (1L to 10L).toDF("v"), col("v"), Seq(0.5)).collect().head
    assert(t.getLong(1) == 5L)
  }

  test("groupQuantilesByHistogram: per-group ceil-ranks, null values excluded") {
    import spark.implicits._
    val df = Seq(
      ("a", Some(1L)), ("a", Some(1L)), ("a", Some(1L)), ("a", Some(9L)),
      ("b", Some(5L)), ("b", None))  // b: one non-null value, null dropped
      .toDF("g", "v")
    val out = ScaleOps.groupQuantilesByHistogram(df, Seq(col("g")), col("v"),
      Seq(0.50, 0.90)).orderBy("g").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(("a", 4L, 1L, 9L), ("b", 1L, 5L, 5L)))
  }

  test("groupQuantilesByHistogram survives a ten-million-row single group") {
    // The scaladoc's scale claim, demonstrated: ONE group holding 10M rows
    // over a bounded value domain (10k distinct values). The exact tier's
    // alternative — SQL `percentile`, which WeeklyAgg's stats core uses —
    // buffers every raw value of a group in one aggregation buffer, so
    // this group would hold a 10M-element array in a single task (and a
    // 100 TB-scale group an OOM); the histogram path's per-group state is
    // its DISTINCT values (10k histogram rows), three orders of magnitude
    // smaller and spill-able, while staying exact.
    //   value = (id * 7919) % 10000 — 7919 coprime to 10^4, so over
    // id ∈ [0, 10^7) every residue appears exactly 1000 times, arriving
    // unsorted. Sorted rank r (1-based) therefore holds value
    // (r-1) div 1000: p50 → rank 5,000,000 → 4999; p90 → 8999;
    // p99 → rank 9,900,000 → 9899. Analytic truth, computed nowhere
    // near the operator under test.
    val big = spark.range(10000000L).toDF("id")
      .select(lit(0).as("g"), ((col("id") * 7919L) % 10000L).as("v"))
    val out = ScaleOps.groupQuantilesByHistogram(
      big, Seq(col("g")), col("v"), Seq(0.50, 0.90, 0.99))
    out.queryExecution.toRdd.foreachPartition(_ => ())
    val r = out.collect().head
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) ==
      ((10000000L, 4999L, 8999L, 9899L)))
    // Plan shape: the fact-scale histogram aggregation's exchange plus the
    // group-keyed window/final-agg exchange — and nothing else. No range
    // exchange, no global sort; the only sort is the window's local one
    // over histogram rows.
    val s = out.queryExecution.explainString(
      org.apache.spark.sql.execution.SimpleMode)
    val plan = {
      val i = s.indexOf("== Initial Plan ==")
      if (i >= 0) s.substring(0, i) else s
    }
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashEx <= 3, s"expected <=3 hash exchanges, got $hashEx:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"histogram quantiles must not range-exchange:\n$plan")
  }

  test("bloomPrunedJoin returns exactly the plain join (no false negatives)") {
    import spark.implicits._
    // hostile-ish shape: many fact keys outside the dim set (the rows the
    // probe exists to drop), duplicate fact keys, and a dim key matching
    // nothing — at fpp 0.01 some non-members survive the probe and must
    // be dropped by the join itself
    val facts = (1L to 500L).map(i => (i % 97, i)).toDF("fk", "payload")
    val dim = Seq((3L, "x"), (5L, "y"), (40L, "z"), (1000L, "ghost"))
      .toDF("dk", "name")
    val got = ScaleOps.bloomPrunedJoin(facts, dim, "fk", "dk")
      .select("fk", "payload", "dk", "name")
      .as[(Long, Long, Long, String)].collect().sorted.toSeq
    val want = facts.join(dim, col("fk") === col("dk"))
      .select("fk", "payload", "dk", "name")
      .as[(Long, Long, Long, String)].collect().sorted.toSeq
    assert(got === want)
    assert(want.nonEmpty)
  }

  test("bloomPrunedJoin with a shared key name joins USING-style, one key column") {
    import spark.implicits._
    // Pre-fix this threw an ambiguous-reference AnalysisException (r8
    // ADVICE): both sides named `k`, unqualified col("k") === col("k").
    val facts = (1L to 200L).map(i => (i % 29, i)).toDF("k", "payload")
    val dim = Seq((3L, "x"), (7L, "y")).toDF("k", "name")
    val got = ScaleOps.bloomPrunedJoin(facts, dim, "k", "k")
    assert(got.columns.count(_ == "k") === 1, got.columns.mkString(","))
    val rows = got.select("k", "payload", "name")
      .as[(Long, Long, String)].collect().sorted.toSeq
    val want = facts.join(dim, Seq("k")).select("k", "payload", "name")
      .as[(Long, Long, String)].collect().sorted.toSeq
    assert(rows === want && want.nonEmpty)
  }

  test("abcClassification: start-based Pareto cuts, integer-exact boundaries") {
    import spark.implicits._
    // revenues 80/15/5 cents: exclusive prefixes 0/80/95 of 100 — the
    // 80-starter lands exactly ON the A cut (80·5 = 100·4) and must take
    // B; the 95-starter lands exactly on the B cut (95·20 = 100·19) and
    // must take C. No float ever decides these.
    val df = Seq((1L, 80L), (2L, 15L), (3L, 5L)).toDF("k", "cents")
    val got = ScaleOps.abcClassification(df, col("k"), col("cents"))
      .orderBy("abc_class")
      .as[(String, Long, Double, Double)].collect().toSeq
    assert(got === Seq(("A", 1L, 0.8, 0.8), ("B", 1L, 0.15, 0.15),
      ("C", 1L, 0.05, 0.05)))
    // a dominant first key overshooting 80% alone still classifies A —
    // the start-based rule exists exactly for this case
    val skew = ScaleOps.abcClassification(
      Seq((1L, 100L), (2L, 1L)).toDF("k", "cents"), col("k"), col("cents"))
      .orderBy("abc_class")
      .as[(String, Long, Double, Double)].collect().toSeq
    assert(skew.map(r => (r._1, r._2)) === Seq(("A", 1L), ("C", 1L)))
    // refund-heavy key netting below zero: the cumulative curve would
    // bend back and misclassify silently — must die loudly instead
    val e = intercept[Exception] {
      ScaleOps.abcClassification(
        Seq((1L, 50L), (2L, 30L), (2L, -80L)).toDF("k", "cents"),
        col("k"), col("cents")).collect()
    }
    val msg = Option(e.getMessage).getOrElse("") +
      Option(e.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
    assert(msg.contains("negative total"), msg)
  }

  test("keySkewReport: hand histogram — shares, exact rank picks, entropy recipe") {
    import spark.implicits._
    // keys a×6 b×2 c×1 d×1: n_rows 10, n_keys 4, max 6, top_share 0.6;
    // count-of-counts cum (1,2)(2,3)(6,4): p50 rank ⌈2⌉ → 1, p99 rank
    // ⌈3.96⌉=4 → 6
    val df = (Seq.fill(6)("a") ++ Seq.fill(2)("b") ++ Seq("c", "d"))
      .toDF("k")
    val got = ScaleOps.keySkewReport(df, col("k"))
      .as[(Long, Long, Long, Double, Long, Long, Double, Option[Double])]
      .collect().head
    assert((got._1, got._2, got._3, got._4, got._5, got._6) ===
      ((10L, 4L, 6L, 0.6, 1L, 6L)))
    // entropy replay with the exact same micro recipe
    def r4(x: Double) = math.floor(x * 10000 + 0.5) / 10000
    val clnc = 2L * math.floor(1.0 * math.log(1.0) * 1e6 + 0.5).toLong +
      math.floor(2.0 * math.log(2.0) * 1e6 + 0.5).toLong +
      math.floor(6.0 * math.log(6.0) * 1e6 + 0.5).toLong
    val ent = math.log(10.0) - clnc.toDouble / (10.0 * 1e6)
    assert(got._7 === r4(ent))
    assert(got._8 === Some(r4(ent / math.log(4.0))))
    // single-key table: norm_entropy undefined, not a crash
    val one = ScaleOps.keySkewReport(Seq("x", "x").toDF("k"), col("k"))
      .as[(Long, Long, Long, Double, Long, Long, Double, Option[Double])]
      .collect().head
    assert((one._1, one._2, one._8) === ((2L, 1L, None)))
  }

  test("skewAwareSum: threshold routes salted vs plain, sums identical either way") {
    import spark.implicits._
    // keys a×6 b×2 c×1 d×1 with value = 1 each: top_share 0.6
    val df = (Seq.fill(6)("a") ++ Seq.fill(2)("b") ++ Seq("c", "d"))
      .zipWithIndex.map { case (k, i) => (k, i.toLong) }.toDF("k", "v")
    val expected = Seq(("a", 15L), ("b", 13L), ("c", 8L), ("d", 9L))
    // top_share 0.6 > 0.5 → salted; > 0.7 → plain; sums identical
    val hot = ScaleOps.skewAwareSum(df, "k", "v", topShareMax = 0.5)
      .orderBy("k").as[(String, Long, Boolean)].collect().toSeq
    assert(hot === expected.map { case (k, s) => (k, s, true) })
    val plain = ScaleOps.skewAwareSum(df, "k", "v", topShareMax = 0.7)
      .orderBy("k").as[(String, Long, Boolean)].collect().toSeq
    assert(plain === expected.map { case (k, s) => (k, s, false) })
    // the decision reads the report's 4-dp share: 0.6 is NOT > 0.6
    val edge = ScaleOps.skewAwareSum(df, "k", "v", topShareMax = 0.6)
      .orderBy("k").as[(String, Long, Boolean)].collect().toSeq
    assert(edge.forall(!_._3))
    // empty frame: nothing to salt, empty result, no crash
    assert(ScaleOps.skewAwareSum(df.where(lit(false)), "k", "v").count()
      === 0L)
    intercept[IllegalArgumentException](
      ScaleOps.skewAwareSum(df, "k", "v", topShareMax = 0.0))
  }

  test("skewAwareSum: one pre-flight report job across repeated builder calls") {
    import spark.implicits._
    // The eager-pre-flight ADVICE finding closed: composing the same
    // aggregate twice (same canonical input plan, key, threshold) must
    // run the keySkewReport action ONCE — the decision is memoized the
    // way SparkEntry memoizes codebooks. The two frames are built
    // independently so the pin covers re-derivation, not object reuse.
    def build() = (Seq.fill(6)("a") ++ Seq.fill(2)("b") ++ Seq("c", "d"))
      .zipWithIndex.map { case (k, i) => (k, i.toLong) }.toDF("k", "v")
    val before = ScaleOps.skewPreflights.get()
    val r1 = ScaleOps.skewAwareSum(build(), "k", "v", topShareMax = 0.31)
      .orderBy("k").as[(String, Long, Boolean)].collect().toSeq
    assert(ScaleOps.skewPreflights.get() - before === 1L)
    val r2 = ScaleOps.skewAwareSum(build(), "k", "v", topShareMax = 0.31)
      .orderBy("k").as[(String, Long, Boolean)].collect().toSeq
    assert(ScaleOps.skewPreflights.get() - before === 1L,
      "second builder call re-ran the pre-flight report")
    assert(r1 === r2)
    // NULL keys are excluded: the report never saw them, so neither
    // routed plan aggregates them
    val withNull = build().union(Seq((null: String, 99L)).toDF("k", "v"))
    val keys = ScaleOps.skewAwareSum(withNull, "k", "v", topShareMax = 0.31)
      .select("k").as[String].collect()
    assert(!keys.contains(null))
  }

  test("zonemapPruneStats: hand-built files, zone-map intersection, hit counts") {
    // 8 rows laid out by k, 4 per file: file0 has x 1-4 / y 10-40,
    // file1 x 5-8 / y 50-80. Rectangle [2,3]x[20,30] intersects only
    // file0's zone map; rows (2,20) and (3,30) match.
    val df = (1L to 8L).map(k => (k, k, 10L * k)).toDF("k", "x", "y")
    val got = ScaleOps.zonemapPruneStats(df, Seq(col("k")),
      col("x"), col("y"), rowsPerFile = 4L,
      xLo = 2L, xHi = 3L, yLo = 20L, yHi = 30L)
      .as[(Long, Long, Long, Long, Long, Long, Double)].collect().toSeq
    assert(got === Seq((2L, 8L, 1L, 4L, 1L, 2L, 0.5)))
    intercept[IllegalArgumentException](
      ScaleOps.zonemapPruneStats(df, Seq(col("k")), col("x"), col("y"),
        rowsPerFile = 0L, 0L, 1L, 0L, 1L))
    intercept[IllegalArgumentException](
      ScaleOps.zonemapPruneStats(df, Seq(col("k")), col("x"), col("y"),
        rowsPerFile = 4L, 3L, 2L, 0L, 1L))
    intercept[IllegalArgumentException](
      ScaleOps.zonemapPruneStats(df, Seq.empty, col("x"), col("y"),
        rowsPerFile = 4L, 0L, 1L, 0L, 1L))
  }

  test("zonemapPruneStats: z-order layout prunes what linear cannot") {
    // The pair-of-layouts read the graded query ships: same 16x16 grid,
    // same quadrant predicate — the z-order files carry tight zone maps,
    // the row-major layout's files all straddle the x range.
    val grid = (for (x <- 0L until 16L; y <- 0L until 16L)
      yield (x, y)).toDF("x", "y")
      .withColumn("zval", ScaleOps.zValue(col("x"), col("y"), bits = 4))
    val z = ScaleOps.zonemapPruneStats(grid,
      Seq(col("zval"), col("x"), col("y")), col("x"), col("y"),
      rowsPerFile = 64L, 0L, 7L, 0L, 7L)
      .as[(Long, Long, Long, Long, Long, Long, Double)].collect().head
    val lin = ScaleOps.zonemapPruneStats(grid,
      Seq(col("y"), col("x")), col("x"), col("y"),
      rowsPerFile = 64L, 0L, 7L, 0L, 7L)
      .as[(Long, Long, Long, Long, Long, Long, Double)].collect().head
    // z-order: the predicate IS one 64-cell z-quadrant -> 1 of 4 files
    assert(z === ((4L, 256L, 1L, 64L, 1L, 64L, 0.25)))
    // row-major by y: every file spans x 0..15 -> half the files scanned
    // (y 0..7), none prunable on x
    assert(lin === ((4L, 256L, 2L, 128L, 2L, 64L, 0.5)))
  }
}

package graft

import org.apache.spark.sql.functions._

import graft.ops.ScaleOps

/** Skew-salting and bucketed-join utilities: result transparency plus the
  * physical-plan properties they exist for.
  */
class ScaleOpsSpec extends SparkSpec {
  import spark.implicits._

  test("saltedJoin returns exactly the rows of the plain join on skewed data") {
    // 10k rows, 90% on one hot key — the pathological single-key flood.
    val large = (1 to 10000)
      .map(i => (if (i % 10 == 0) s"k$i" else "HOT", i))
      .toDF("key", "v")
    val small = Seq(("HOT", "hot-dim"), ("k10", "cold-dim"), ("k20", "cold-dim2"))
      .toDF("key", "attr")

    val plain = large.join(small, Seq("key")).orderBy("key", "v").collect()
    val salted = ScaleOps.saltedJoin(large, small, "key", salt = 8)
      .orderBy("key", "v").collect()
    assert(salted.toSeq == plain.toSeq)
    assert(salted.length == 9002) // 9000 HOT + k10 + k20
  }

  test("saltedJoin left-outer preserves unmatched large-side rows") {
    val large = Seq(("a", 1), ("b", 2)).toDF("key", "v")
    val small = Seq(("a", "x")).toDF("key", "attr")
    val out = ScaleOps.saltedJoin(large, small, "key", salt = 4, joinType = "left")
      .orderBy("key").collect()
    assert(out.length == 2)
    assert(out(1).isNullAt(2), "unmatched b keeps a null attr")
  }

  test("exactQuantile matches Spark percentile bitwise across qs (forced multi-pass)") {
    val rnd = new scala.util.Random(7)
    // duplicates + irregular spacing; floor/4 keeps plenty of ties
    val vals = (1 to 5000).map(_ => math.floor(rnd.nextGaussian() * 1000) / 4)
    val df = vals.toDF("x")
    for (q <- Seq(0.0, 0.25, 0.5, 0.77, 0.95, 1.0)) {
      val want = df.agg(percentile(col("x"), lit(q))).first().getDouble(0)
      // tiny bins + threshold force several histogram-refinement passes
      val deep = ScaleOps.exactQuantile(df, "x", q, bins = 4, collectThreshold = 2).get
      val defaults = ScaleOps.exactQuantile(df, "x", q).get
      assert(deep == want, s"multi-pass q=$q: $deep != $want")
      assert(defaults == want, s"default-params q=$q: $defaults != $want")
    }
  }

  test("exactQuantilesOfColumn: shared-pass deciles match percentile per q (forced multi-pass)") {
    val rnd = new scala.util.Random(13)
    val df = (1 to 3000).map(_ => math.floor(rnd.nextGaussian() * 500) / 8).toDF("x")
    val qs = (1 to 9).map(_ / 10.0)
    val got = ScaleOps.exactQuantilesOfColumn(df, "x", qs, bins = 4, collectThreshold = 8)
    qs.foreach { q =>
      val want = df.agg(percentile(col("x"), lit(q))).first().getDouble(0)
      assert(got(q) == want, s"q=$q: ${got(q)} != $want")
    }
  }

  test("exactQuantile survives extreme magnitudes (naive range width would overflow)") {
    // hi - lo here is ~3e308 -> Infinity in naive binning; the pre-scaled
    // arithmetic must still find exact ranks
    val df = Seq(-1.5e308, -1.0, 0.0, 1.0, 1.5e308).toDF("x")
    for (q <- Seq(0.0, 0.25, 0.5, 0.75, 1.0)) {
      val want = df.agg(percentile(col("x"), lit(q))).first().getDouble(0)
      val got = ScaleOps.exactQuantile(df, "x", q, bins = 4, collectThreshold = 1).get
      assert(got == want, s"q=$q: $got != $want")
    }
  }

  test("exactQuantileByGroup matches percentile per group (odd/even counts, ties)") {
    val df = Seq(
      ("a", 1.0), ("a", 2.0), ("a", 2.0), ("a", 9.0),
      ("b", 5.0), ("b", 7.0), ("b", -1.0), ("c", 4.25))
      .toDF("g", "x")
    val want = df.groupBy("g").agg(percentile(col("x"), lit(0.5)).as("m"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val got = ScaleOps.exactQuantileByGroup(df, "g", "x", 0.5, bins = 4, collectThreshold = 1)
    assert(got == want)
  }

  test("exactQuantiles: shared passes over many columns, nulls dropped, all-null absent") {
    val df = Seq(
      (Some(1.0), Some(10.0), None: Option[Double]),
      (Some(3.0), None, None),
      (Some(2.0), Some(30.0), None))
      .toDF("a", "b", "c")
    val got = ScaleOps.exactQuantiles(df, Seq("a", "b", "c"), 0.5, bins = 4, collectThreshold = 1)
    assert(got("a") == 2.0)
    assert(got("b") == 20.0, "even-count interpolation: (10+30)/2")
    assert(!got.contains("c"), "all-null column yields no quantile (percentile-null analog)")
  }

  test("exactQuantiles: groups within the collect bound resolve in one aggregate query, equal to percentile") {
    val rnd = new scala.util.Random(7)
    // duplicates (a draws from 40 values), nulls, NaN and an all-null column
    val rows = (1 to 2001).map { i =>
      (rnd.nextInt(40) * 0.25 - 3.0,
        if (i % 7 == 0) None else Some(rnd.nextGaussian() * 100),
        if (i % 11 == 0) Double.NaN else rnd.nextDouble(),
        None: Option[Double])
    }
    val df = rows.toDF("a", "b", "c", "d").repartition(4)
    val cols = Seq("a", "b", "c", "d")
    val (got, queries) = sqlExecutionsOf(ScaleOps.exactQuantiles(df, cols, 0.5))
    assert(queries == 1, s"$queries SQL executions")
    cols.foreach { c =>
      val want = df.where(col(c).isNotNull && !isnan(col(c)))
        .agg(percentile(col(c), lit(0.5))).head()
      if (want.isNullAt(0)) assert(!got.contains(c), s"$c is all null")
      else assert(got(c) == want.getDouble(0), s"$c: ${got(c)} vs ${want.getDouble(0)}")
    }
    // a bound below the group sizes refines by histogram to the same values
    val refined = ScaleOps.exactQuantiles(df, cols, 0.5, bins = 8, collectThreshold = 100)
    assert(refined == got)
  }

  test("quotaSampleByGroup == row_number semantics on random data (small groups, zero quotas)") {
    import spark.implicits._
    // 400 rows over 5 groups with unique string rank keys; quotas include a
    // group smaller than its quota (keep-all), a zero quota (keep-none) and
    // a group missing from the quota table (dropped)
    val rnd = new scala.util.Random(11)
    val rows = (0 until 400).map { i =>
      val g = s"g${rnd.nextInt(5)}"
      (i.toLong, g, f"${rnd.nextLong().abs}%020d-$i")
    } ++ Seq((9000L, "tiny", "00000000000000000001-x"), (9001L, "tiny", "00000000000000000002-x"))
    val df = rows.toDF("id", "g", "key")
    val quotas = Seq(("g0", 7), ("g1", 25), ("g2", 1), ("g3", 0), ("tiny", 10))
      .toDF("g", "quota") // g4 intentionally absent
    val got = graft.ops.ScaleOps
      .quotaSampleByGroup(df, "g", col("key"), quotas, maxQuota = 25)
      .collect().map(_.getAs[Long]("id")).toSet
    // reference: per-group sort by key, take quota
    val byG = rows.groupBy(_._2)
    val want = Seq(("g0", 7), ("g1", 25), ("g2", 1), ("g3", 0), ("tiny", 10)).flatMap {
      case (g, q) => byG.getOrElse(g, Seq.empty).sortBy(_._3).take(q).map(_._1)
    }.toSet
    assert(got == want, s"threshold selection diverges from rank semantics")
    assert(!got.exists(id => byG("g4").exists(_._1 == id)), "group without a quota is dropped")
    assert(got.count(id => byG("tiny").exists(_._1 == id)) == 2,
      "group smaller than its quota keeps every row")
  }

  test("quotaSampleByGroup keeps original columns and plans no Window") {
    import spark.implicits._
    val df = (0 until 50).map(i => (i.toLong, s"g${i % 2}", s"p$i", i * 2))
      .toDF("id", "g", "key", "payload")
    val quotas = Seq(("g0", 3), ("g1", 3)).toDF("g", "quota")
    val out = graft.ops.ScaleOps.quotaSampleByGroup(df, "g", col("key"), quotas, 3)
    assert(out.columns.toSeq == Seq("id", "g", "key", "payload"),
      s"helper columns must not leak: ${out.columns.toSeq}")
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"bounded-state selection must not window:\n${plan.take(2000)}")
  }

  test("quotaSampleByGroup fails loudly when a quota exceeds maxQuota (never silent keep-all)") {
    import spark.implicits._
    val df = (0 until 30).map(i => (i.toLong, "g0", f"k$i%03d")).toDF("id", "g", "key")
    val quotas = Seq(("g0", 10)).toDF("g", "quota")
    val e = intercept[Exception] {
      graft.ops.ScaleOps.quotaSampleByGroup(df, "g", col("key"), quotas, maxQuota = 5).collect()
    }
    val messages = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(messages.contains("exceeds maxQuota"),
      s"clipped BottomK buffer must not masquerade as a small group: $messages")
  }

  test("quotaSampleByGroup routes corpus-sized quotas through the prefix descent, same selection") {
    import spark.implicits._
    // A real temperature mix's majority-language quota is ~corpus-sized —
    // buffering maxQuota keys per group per partition (the BottomK path)
    // would itself be the straggler. Forcing descentThreshold below maxQuota
    // sends the call down tokenBudgetSampleByGroup's prefix descent with
    // unit weights; selection must be identical to the BottomK path.
    val rnd = new scala.util.Random(23)
    val rows = (0 until 500).map { i =>
      // fixed-width ASCII keys: the descent's key contract
      (i.toLong, s"g${rnd.nextInt(3)}", f"${rnd.nextLong().abs % 100000000}%08x-$i%04d")
    }
    val df = rows.toDF("id", "g", "key")
    val quotas = Seq(("g0", 120), ("g1", 7), ("g2", 1000)).toDF("g", "quota")
    val viaBottomK = graft.ops.ScaleOps
      .quotaSampleByGroup(df, "g", col("key"), quotas, maxQuota = 1000)
      .collect().map(_.getAs[Long]("id")).toSet
    val viaDescent = graft.ops.ScaleOps
      .quotaSampleByGroup(df, "g", col("key"), quotas, maxQuota = 1000, descentThreshold = 16)
      .collect().map(_.getAs[Long]("id")).toSet
    assert(viaDescent == viaBottomK,
      "descent routing must select exactly the BottomK path's rows")
    // over-budget group kept exactly quota rows; under-budget group keeps all
    val byG = rows.groupBy(_._2)
    assert(viaDescent.count(id => byG("g0").exists(_._1 == id)) == 120)
    assert(byG("g2").map(_._1).toSet.subsetOf(viaDescent))
    // helper columns must not leak through the routed path either
    val out = graft.ops.ScaleOps
      .quotaSampleByGroup(df, "g", col("key"), quotas, maxQuota = 1000, descentThreshold = 16)
    assert(out.columns.toSeq == Seq("id", "g", "key"),
      s"helper columns leaked: ${out.columns.toSeq}")
  }

  test("quotaSampleByGroup descent route still enforces the declared maxQuota bound") {
    import spark.implicits._
    val df = (0 until 30).map(i => (i.toLong, "g0", f"k$i%03d")).toDF("id", "g", "key")
    val quotas = Seq(("g0", 500)).toDF("g", "quota")
    val e = intercept[Exception] {
      graft.ops.ScaleOps
        .quotaSampleByGroup(df, "g", col("key"), quotas, maxQuota = 100, descentThreshold = 8)
        .collect()
    }
    assert(Option(e.getMessage).getOrElse("").contains("exceeds declared maxQuota"),
      s"descent route must keep the bound contract: ${e.getMessage}")
  }

  test("tokenBudgetSampleByGroup == running-sum semantics (crossing row kept, edges exact)") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    // 600 rows over 4 groups, hex-ish unique keys, weights 0..9 (zeros
    // exercise the boundary: zero-weight rows AFTER the crossing key drop)
    val rows = (0 until 600).map { i =>
      (i.toLong, s"g${rnd.nextInt(4)}", f"${rnd.nextLong().abs % 100000000}%08x-$i%04d",
        rnd.nextInt(10).toLong)
    }
    val df = rows.toDF("id", "g", "key", "w")
    // g0 binds mid-group, g1 binds early, g2 keep-all (budget > total),
    // g3 zero budget; g-missing group dropped
    val budgets = Seq(("g0", 120L), ("g1", 7L), ("g2", 1000000L), ("g3", 0L))
      .toDF("g", "budget")
    val got = graft.ops.ScaleOps
      .tokenBudgetSampleByGroup(df, "g", col("key"), "w", budgets,
        step = 1, collectThreshold = 16) // force several descent passes
      .collect().map(_.getAs[Long]("id")).toSet
    val byG = rows.groupBy(_._2)
    val want = Seq(("g0", 120L), ("g1", 7L), ("g2", 1000000L), ("g3", 0L)).flatMap {
      case (g, b) =>
        var acc = 0L
        byG.getOrElse(g, Seq.empty).sortBy(_._3).flatMap { r =>
          val keep = acc < b
          acc += r._4
          if (keep) Some(r._1) else None
        }
    }.toSet
    assert(got == want, s"boundary selection diverges from running-sum semantics")
    assert(got.intersect(byG("g3").map(_._1).toSet).isEmpty, "zero budget keeps nothing")
    assert(byG("g2").map(_._1).toSet.subsetOf(got), "under-budget group keeps everything")
    // no Window node anywhere
    val out = graft.ops.ScaleOps.tokenBudgetSampleByGroup(df, "g", col("key"), "w", budgets)
    out.collect()
    assert(!out.queryExecution.executedPlan.toString.contains("Window"),
      "bounded-state selection must not window")
  }

  test("zOrderColumnN: the 3-axis interleave is injective; n*bits > 63 fails loudly") {
    import spark.implicits._
    // full 32^3 grid, shuffled arrival order
    val pts = scala.util.Random.shuffle(
      (for (x <- 0 until 32; y <- 0 until 32; w <- 0 until 32)
        yield (x.toLong, y.toLong, w.toLong)).toList)
      .toDF("x", "y", "w")
    // the 3-way interleave is a bijection on the grid
    assert(pts.select(ScaleOps.zOrderColumnN(Seq("x", "y", "w"), 5).as("z"))
      .distinct().count() == 32L * 32 * 32, "interleave must be injective")
    // n*bits > 63 fails loudly rather than silently wrapping the long
    intercept[IllegalArgumentException] {
      ScaleOps.zOrderColumnN(Seq("x", "y", "w"), 22)
    }
  }

  test("weightedMedianByGroup: descent == window recomputation, forced multi-pass") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val df = (1 to 4000).map { i =>
      val g = s"g${i % 3}"
      (g, rnd.nextInt(1000).toDouble, 1L + rnd.nextInt(50))
    }.toDF("g", "v", "w")
    // tiny collectThreshold forces the histogram passes to actually refine
    val got = ScaleOps.weightedMedianByGroup(df, "g", "v", "w",
      bins = 8, collectThreshold = 16)
    val want = df
      .selectExpr("g", "v", "SUM(w) OVER (PARTITION BY g ORDER BY v) AS cum",
        "SUM(w) OVER (PARTITION BY g) AS tot")
      .where(col("cum") * 2 >= col("tot"))
      .groupBy("g").agg(min("v").as("m"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got == want, s"$got vs $want")
    // unit weights degrade to the lower (unweighted) median
    val gotUnit = ScaleOps.weightedMedianByGroup(
      df.withColumn("w", lit(1L)), "g", "v", "w", bins = 8, collectThreshold = 16)
    val wantUnit = df
      .selectExpr("g", "v", "COUNT(*) OVER (PARTITION BY g ORDER BY v, 1) AS r",
        "COUNT(*) OVER (PARTITION BY g) AS n")
      .where(col("r") * 2 >= col("n"))
      .groupBy("g").agg(min("v").as("m"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(gotUnit == wantUnit, s"unit weights must be the lower median: $gotUnit vs $wantUnit")
  }

  test("groupedGlobalRowNumber == window row_number, with bounded window partitions") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val df = (1 to 5000).map(i => (s"s${i % 2}", rnd.nextInt(100000), i.toLong))
      .toDF("g", "k", "id")
    val got = ScaleOps.groupedGlobalRowNumber(df, Seq("g"), Seq("k", "id"), partitions = 8)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("g").orderBy("k", "id")
    val want = df.withColumn("rn", row_number().over(w).cast("long"))
    assert(got.select("g", "k", "id", "rn").except(want.select("g", "k", "id", "rn")).isEmpty,
      "range-partitioned ranking must equal the window row_number")
    assert(want.select("g", "k", "id", "rn").except(got.select("g", "k", "id", "rn")).isEmpty)
    // the plan's window partitions by the physical range slice, never the
    // bare group — that's the whole point (no whole-group-in-one-task sort)
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("__pid"),
      s"local window must partition by the range slice id:\n${plan.take(2000)}")
  }

  test("groupedGlobalRowNumber on an empty input returns an empty frame, not an analysis error") {
    import spark.implicits._
    val empty = Seq.empty[(String, Int, Long)].toDF("g", "k", "id")
    val got = ScaleOps.groupedGlobalRowNumber(empty, Seq("g"), Seq("k", "id"), partitions = 4)
    assert(got.columns.contains("rn"))
    assert(got.count() == 0L)
  }

  test("groupedGlobalRowNumber fails loudly on a high-cardinality group column") {
    // the driver offset table is O(partitions x groups) BY DESIGN (few large
    // ranking groups); a high-cardinality group must hit the guard with an
    // actionable error, never silently collect an unbounded table
    import spark.implicits._
    val df = (1 to 2000).map(i => (s"g$i", i, i.toLong)).toDF("g", "k", "id")
    val e = intercept[IllegalArgumentException] {
      ScaleOps.groupedGlobalRowNumber(df, Seq("g"), Seq("k", "id"),
        partitions = 4, maxOffsetRows = 100)
    }
    assert(e.getMessage.contains("maxOffsetRows"), e.getMessage)
    // and the same data under the default bound still ranks correctly
    val ok = ScaleOps.groupedGlobalRowNumber(df, Seq("g"), Seq("k", "id"), partitions = 4)
    assert(ok.where(col("rn") =!= 1L).count() == 0L,
      "singleton groups must all rank 1")
  }

  test("globalRunningTotal == a global-window exclusive cumsum, without a global window partition") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val df = (1 to 3000).map(i => (i.toLong, rnd.nextInt(500).toLong)).toDF("id", "v")
    val got = ScaleOps.globalRunningTotal(df, Seq("id"), "v", partitions = 8)
    val w = org.apache.spark.sql.expressions.Window.orderBy("id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val want = df.withColumn("start", coalesce(sum("v").over(w), lit(0L)))
    assert(got.select("id", "v", "start").except(want.select("id", "v", "start")).isEmpty)
    assert(want.select("id", "v", "start").except(got.select("id", "v", "start")).isEmpty)
    // the plan's window partitions by the physical range slice, never global
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("__pid"),
      s"local window must partition by the range slice id:\n${plan.take(2000)}")
    // empty input: empty frame with the start column, no error
    val empty = ScaleOps.globalRunningTotal(
      Seq.empty[(Long, Long)].toDF("id", "v"), Seq("id"), "v", partitions = 4)
    assert(empty.columns.contains("start") && empty.count() == 0L)
  }

  test("asofJoin == brute-force range-join + argmax, incl. unmatched and equal-time rows") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val left = (1 to 400).map(i =>
      (i.toLong, (i % 7).toLong, rnd.nextInt(1000))).toDF("lid", "k", "t")
    // right sparse on purpose: some keys have no prior row for early lefts;
    // include exact-time collisions with left rows (inclusive semantics)
    val right = (1 to 150).map(i =>
      ((i % 7).toLong, rnd.nextInt(1000), s"v$i")).distinct
      .groupBy(r => (r._1, r._2)).map(_._2.maxBy(_._3)).toSeq // unique (k, t)
      .toDF("k", "t", "payload")
    val got = ScaleOps.asofJoin(left, right, Seq("k"), "t", Seq("payload"))
      .select("lid", "k", "t", "asof_payload", "asof_t")
    val brute = left.as("l")
      .join(right.as("r"), expr("l.k = r.k AND l.t >= r.t"), "left")
      .groupBy(col("l.lid").as("lid"), col("l.k").as("k"), col("l.t").as("t"))
      .agg(max(struct(col("r.t"), col("r.payload"))).as("m"))
      .select(col("lid"), col("k"), col("t"),
        col("m.payload").as("asof_payload"), col("m.t").as("asof_t"))
    assert(got.except(brute).isEmpty && brute.except(got).isEmpty,
      "asofJoin must equal the range-join + argmax formulation")
    assert(got.count() == 400, "every left row survives (left semantics)")
    // plan: per-key window, never a range theta-join
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoop") && !plan.contains("CartesianProduct"),
      s"asofJoin must never plan a range product:\n${plan.take(2000)}")
  }

  test("asofJoin null keys: SQL equality semantics, not window-partition grouping") {
    import spark.implicits._
    // a null-key left row must match NOTHING even though a null-key right
    // row exists at an earlier time (nulls never equal under SQL equality)
    val left = Seq((1L, Option(5L), 100), (2L, Option.empty[Long], 100))
      .toDF("lid", "k", "t")
    val right = Seq((Option(5L), 50, "a"), (Option.empty[Long], 50, "b"))
      .toDF("k", "t", "payload")
    val got = ScaleOps.asofJoin(left, right, Seq("k"), "t", Seq("payload"))
      .collect().map(r => r.getAs[Long]("lid") -> Option(r.getAs[String]("asof_payload"))).toMap
    assert(got(1L).contains("a"))
    assert(got(2L).isEmpty, "null-key probe must not match the null-key build row")
  }

  test("asofJoin: 90%-null probe keys — correct, and null probes bypass the window") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // the mostly-null-key regime: window-partitioned nulls would all land
    // in ONE partition; the bypass must keep them out of the exchange
    val left = (1 to 300).map { i =>
      val k = if (i % 10 == 0) Option((i % 5).toLong) else Option.empty[Long]
      (i.toLong, k, rnd.nextInt(100))
    }.toDF("lid", "k", "t")
    val right = (1 to 40).map(i => ((i % 5).toLong, rnd.nextInt(100), s"v$i"))
      .groupBy(r => (r._1, r._2)).map(_._2.maxBy(_._3)).toSeq // unique (k, t)
      .toDF("k", "t", "payload")
    val got = ScaleOps.asofJoin(left, right, Seq("k"), "t", Seq("payload"))
    val brute = left.as("l")
      .join(right.as("r"), expr("l.k = r.k AND l.t >= r.t"), "left")
      .groupBy(col("l.lid").as("lid"), col("l.k").as("k"), col("l.t").as("t"))
      .agg(max(struct(col("r.t"), col("r.payload"))).as("m"))
      .select(col("lid"), col("k"), col("t"),
        col("m.t").as("asof_t"), col("m.payload").as("asof_payload"))
    val gotSel = got.select("lid", "k", "t", "asof_t", "asof_payload")
    assert(gotSel.except(brute).isEmpty && brute.except(gotSel).isEmpty,
      "90%-null-key asofJoin must equal the range-join + argmax formulation")
    assert(got.count() == 300, "every left row survives, null-key ones included")
    // plan pins: (1) the Window's input subtree pre-filters null keys, so a
    // null-key probe can never ride the window exchange; (2) the union has
    // a window-free branch — the null-key bypass projection. Pinned on the
    // ANALYZED plan: the optimizer folds this local fixture into
    // LocalRelations (at scale, against a file source, the same Filter
    // stays in the physical plan below the window exchange).
    import org.apache.spark.sql.catalyst.plans.logical.{Union, Window => LWindow}
    val plan = got.queryExecution.analyzed
    val wins = plan.collect { case w: LWindow => w }
    assert(wins.nonEmpty, "expected the as-of window in the plan")
    wins.foreach(w =>
      assert(w.child.toString.contains("isnotnull"),
        s"window input must pre-filter null keys:\n${w.child.toString.take(2000)}"))
    val unions = plan.collect { case u: Union => u }
    assert(unions.exists(_.children.exists(c =>
      c.collect { case w: LWindow => w }.isEmpty)),
      s"expected a window-free null-key bypass branch:\n${plan.toString.take(3000)}")
  }

  test("asofJoin: null-TIME build rows never match (SQL `l.ts >= r.ts` semantics)") {
    import spark.implicits._
    // an ascending-nulls-first sort would surface the null-ts build row as
    // the "earliest" match for every probe; the build filter must drop it
    val left = Seq((1L, 5L, 100)).toDF("lid", "k", "t")
    val right = Seq((5L, Option.empty[Int], "ghost"), (5L, Option(50), "real"))
      .toDF("k", "t", "payload")
    val got = ScaleOps.asofJoin(left, right, Seq("k"), "t", Seq("payload"))
      .collect().map(r => r.getAs[Long]("lid") -> Option(r.getAs[String]("asof_payload"))).toMap
    assert(got(1L).contains("real"), "null-ts build row must be invisible to the as-of match")
  }

  test("planJoin routes broadcast/salted/plain from the forecast; autoJoin is route-invariant") {
    import spark.implicits._
    // hot-key fixture: 50% of large rows on key 1, rest uniform over 2..20
    val hot = (1 to 2000).map { i =>
      (if (i % 2 == 0) 1L else (i % 19 + 2).toLong, i.toLong)
    }.toDF("k", "v")
    val uniform = (1 to 2000).map(i => ((i % 20 + 1).toLong, i.toLong)).toDF("k", "v")
    val small = (1 to 20).map(i => (i.toLong, s"dim$i")).toDF("k", "payload")

    // decisions: small side under the limit -> broadcast; above the limit
    // the hot fixture trips the share test, the uniform one does not
    assert(ScaleOps.planJoin(hot, small, "k").route == "broadcast")
    val saltedRoute = ScaleOps.planJoin(hot, small, "k",
      broadcastRowLimit = 0L, reducers = 32)
    assert(saltedRoute.route == "salted", saltedRoute.toString)
    assert(saltedRoute.salt >= 2 && saltedRoute.salt <= 64)
    assert(ScaleOps.planJoin(uniform, small, "k",
      broadcastRowLimit = 0L, reducers = 32).route == "plain")
    // empty large side must not NPE on the null max
    assert(ScaleOps.planJoin(hot.where(lit(false)), small, "k",
      broadcastRowLimit = 0L).route == "plain")

    // all three routes are bitwise-identical on the skewed fixture
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("payload").agg(count(lit(1)).as("n"), sum("v").as("sv"))
        .collect().map(_.toString).sorted.toSeq
    val plain = agg(hot.join(small, Seq("k")))
    val (bdf, br) = ScaleOps.autoJoin(hot, small, "k")
    assert(br.route == "broadcast" && agg(bdf) == plain)
    val (sdf, sr) = ScaleOps.autoJoin(hot, small, "k",
      broadcastRowLimit = 0L, reducers = 32)
    assert(sr.route == "salted" && agg(sdf) == plain)
    // the salted route's plan actually carries the salt fan-out
    assert(sdf.queryExecution.analyzed.toString.contains("__salt"),
      "salted route must widen the join key with the salt")
    val (pdf, pr) = ScaleOps.autoJoin(uniform, small, "k",
      broadcastRowLimit = 0L, reducers = 32)
    assert(pr.route == "plain" &&
      agg(pdf) == agg(uniform.join(small, Seq("k"))))

    // left joins survive routing (unmatched large rows keep null payload)
    val withOrphans = hot.union(Seq((999L, 0L)).toDF("k", "v"))
    val (ldf, _) = ScaleOps.autoJoin(withOrphans, small, "k", joinType = "left",
      broadcastRowLimit = 0L, reducers = 32)
    assert(agg(ldf) == agg(withOrphans.join(small, Seq("k"), "left")))
    // right/full are rejected loudly (salting would duplicate small rows)
    intercept[IllegalArgumentException] {
      ScaleOps.autoJoin(hot, small, "k", joinType = "full")
    }
  }
}

package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoder, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Shuffle-management utilities for the 100 TB deployment shapes the rest of
  * the engine assumes (SCALE.md): skew salting and join routing.
  * These are result-transparent — each helper produces exactly the rows of
  * its naive counterpart, only the physical exchange pattern changes.
  */
object ScaleOps {

  /** Join a skew-prone large side to a small-but-not-broadcastable side with
    * key salting: the large side gets a uniform pseudo-random salt in
    * [0, salt), the small side is replicated once per salt value, and the
    * join key becomes (key, salt) — a single hot key now spreads over `salt`
    * reducers instead of one straggler task.
    *
    * The salt assignment uses a seeded `rand`, so results are identical to
    * the unsalted join regardless of which salt each row lands on (the small
    * side is present under every salt). AQE's skew-join handles moderate
    * skew on its own; salting is for the pathological single-key case AQE
    * can't split (e.g. a null-key or default-value flood).
    */
  def saltedJoin(
      large: DataFrame,
      small: DataFrame,
      key: String,
      salt: Int,
      joinType: String = "inner"): DataFrame = {
    require(salt > 0, "salt must be positive")
    val saltedLarge = large.withColumn("__salt", (rand(42) * salt).cast("int"))
    val saltedSmall = small.withColumn("__salt",
      explode(sequence(lit(0), lit(salt - 1))))
    saltedLarge
      .join(saltedSmall, Seq(key, "__salt"), joinType)
      .drop("__salt")
  }

  /** A routed join decision from [[planJoin]]: `route` is "broadcast",
    * "salted" or "plain"; `salt` is the fan-out the salted route would use
    * (1 otherwise).
    */
  final case class JoinRoute(route: String, salt: Int)

  /** Forecast the join strategy BEFORE paying the join — the j8 skew
    * planner's measurement wired to a decision, completing the
    * w20/n15 router family: measure with an O(distinct keys) aggregation,
    * route on the measurement, never discover the problem by running the
    * expensive plan.
    *
    * Decision rule (two tiny jobs — a small-side count and a two-stage
    * per-key count aggregate on the large side):
    *  - small side row count <= `broadcastRowLimit` -> "broadcast" (the
    *    caller's limit should reflect executor memory; rows x row-width is
    *    the refinement);
    *  - else if the hottest key's large-side count exceeds `skewFactor` x
    *    the average per-reducer row count (`total / reducers`) -> "salted"
    *    with salt = ceil(hottest / avg) clamped to [2, maxSalt] — just
    *    enough fan-out to level the hot reducer, no more replication than
    *    that;
    *  - else "plain" (AQE's skew split handles the moderate middle).
    *
    * The skew test is SHARE-based (hottest key vs per-reducer average), so
    * the decision is scale-invariant for a fixed key distribution — the
    * same data at 100x routes the same way. `reducers` defaults to the
    * session's shuffle partitions; pass it explicitly when the decision
    * must be reproducible across differently-sized sessions (the j11
    * oracle does).
    */
  def planJoin(large: DataFrame, small: DataFrame, key: String,
      broadcastRowLimit: Long = 1000000L, skewFactor: Double = 4.0,
      maxSalt: Int = 64, reducers: Int = 0): JoinRoute = {
    val sRows = small.count()
    if (sRows <= broadcastRowLimit) JoinRoute("broadcast", 1)
    else {
      val parts = if (reducers > 0) reducers
        else large.sparkSession.sessionState.conf.numShufflePartitions
      val stats = large.groupBy(col(key)).agg(count(lit(1)).as("c"))
        .agg(max("c"), sum("c")).collect()(0)
      if (stats.isNullAt(0)) JoinRoute("plain", 1) // empty large side
      else {
        val mx = stats.getLong(0)
        val avg = math.max(1.0, stats.getLong(1).toDouble / parts)
        if (mx > skewFactor * avg)
          JoinRoute("salted", math.min(maxSalt, math.max(2, math.ceil(mx / avg).toInt)))
        else JoinRoute("plain", 1)
      }
    }
  }

  /** [[planJoin]] + execute: broadcast / salted / plain on the forecast.
    * All three routes produce bitwise-identical results (the salted route
    * is assignment-independent because the small side is present under
    * every salt — ScaleOpsSpec pins the three-way identity), so routing is
    * purely a physical decision. Returns the joined frame and the route
    * taken.
    */
  def autoJoin(large: DataFrame, small: DataFrame, key: String,
      joinType: String = "inner", broadcastRowLimit: Long = 1000000L,
      skewFactor: Double = 4.0, maxSalt: Int = 64,
      reducers: Int = 0): (DataFrame, JoinRoute) = {
    require(Set("inner", "left", "left_outer", "leftouter", "left_semi", "leftsemi")
      .contains(joinType.toLowerCase),
      s"autoJoin supports inner/left/left_semi joins, not $joinType — the " +
        "salted route replicates the small side, which would duplicate " +
        "unmatched small rows under right/full semantics")
    val r = planJoin(large, small, key, broadcastRowLimit, skewFactor, maxSalt, reducers)
    val joined = r.route match {
      case "broadcast" => large.join(broadcast(small), Seq(key), joinType)
      case "salted"    => saltedJoin(large, small, key, r.salt, joinType)
      case _           => large.join(small, Seq(key), joinType)
    }
    (joined, r)
  }

  // ------------------------------------------------------------------------
  // Exact interpolated quantiles in O(1) executor memory.
  //
  // Spark's built-in exact `percentile` buffers EVERY value in aggregation
  // state (OpenHashMap per partial, fully materialized at merge) — correct
  // and fast at sf0.1, an executor-memory bomb at 100 TB. This is the
  // scale-safe replacement: iterative histogram refinement. Each pass bins
  // the candidate value range into `bins` buckets and counts per bucket
  // (a map-side-combining groupBy whose state is <= bins rows), the driver
  // narrows to the bucket holding the target rank, and recursion stops when
  // the bucket collapses to a single value or its population fits
  // `collectThreshold` (then one bounded sorted fetch finishes the job).
  // Passes are O(log_bins(n)); executor state is O(bins) throughout. The
  // grouped forms also collect up to collectThreshold + 1 values per group
  // in their first (stats) pass, so a group that fits resolves in that one
  // query.
  //
  // The result is EXACT and interpolates identically to DuckDB
  // `quantile_cont` / Spark `percentile` / pandas' interpolating median
  // (reference behavior: cleaner/cleaning_rules.py:198-202): with
  // h = q*(n-1), floor/ceil ranks kLo/kHi, the value is
  // `vLo*(kHi-h) + vHi*(h-kLo)` — the SQL-standard PERCENTILE_CONT formula,
  // computed over rank values recovered exactly (never from bucket
  // midpoints).
  // ------------------------------------------------------------------------

  /** Per-group descent state: the target ranks sit inside [lo, hi], `base`
    * values are strictly below `lo`, `cnt` rows are inside the range.
    */
  private final case class QRange(
      kLo: Long, kHi: Long, base: Long, lo: Double, hi: Double, cnt: Long)

  /** Buffer of [[HeldValues]]: the first `n` slots of `vs` hold values. */
  private[ops] final case class Held(var n: Int, var vs: Array[Double])

  /** A group's values, sorted, while the group holds at most `cap` of them.
    * A larger group keeps only `cap + 1` values and finishes empty, so state
    * stays bounded at `cap + 1` doubles per group and partition. Appends
    * double the array (amortized O(1)); BoundedRank's sorted-list insert
    * would be quadratic at cap = 65536.
    */
  private final class HeldValues(cap: Int) extends Aggregator[Double, Held, Array[Double]] {
    override def zero: Held = Held(0, new Array[Double](math.min(16, cap + 1)))
    private def add(b: Held, v: Double): Unit = if (b.n <= cap) {
      if (b.n == b.vs.length)
        b.vs = java.util.Arrays.copyOf(b.vs, math.min(cap + 1, math.max(16, 2 * b.n)))
      b.vs(b.n) = v
      b.n += 1
    }
    override def reduce(b: Held, v: Double): Held = { add(b, v); b }
    override def merge(a: Held, b: Held): Held = {
      var i = 0
      while (i < b.n && a.n <= cap) { add(a, b.vs(i)); i += 1 }
      a
    }
    override def finish(b: Held): Array[Double] =
      if (b.n > cap) Array.emptyDoubleArray
      else {
        val out = java.util.Arrays.copyOf(b.vs, b.n)
        java.util.Arrays.sort(out)
        out
      }
    override def bufferEncoder: Encoder[Held] = ExpressionEncoder[Held]()
    override def outputEncoder: Encoder[Array[Double]] = ExpressionEncoder[Array[Double]]()
  }

  /** Exact q-quantile of one column. None when the column is empty/all-null. */
  def exactQuantile(df: DataFrame, valueCol: String, q: Double,
      bins: Int = 1024, collectThreshold: Long = 65536): Option[Double] =
    exactQuantiles(df, Seq(valueCol), q, bins, collectThreshold).get(valueCol)

  /** Exact q-quantile of several columns in shared passes (one explode'd scan
    * per refinement round instead of one round-set per column). Columns that
    * are entirely null/NaN are absent from the result map.
    */
  def exactQuantiles(df: DataFrame, valueCols: Seq[String], q: Double,
      bins: Int = 1024, collectThreshold: Long = 65536): Map[String, Double] = {
    val pairs = df
      .select(explode(array(valueCols.map(c =>
        struct(lit(c).as("g"), col(c).cast("double").as("v"))): _*)).as("p"))
      .select(col("p.g").as("g"), col("p.v").as("v"))
    quantileOfPairs(pairs, _ => q, bins, collectThreshold)
  }

  /** Several exact quantiles of ONE column (e.g. deciles) in shared passes
    * over a SINGLE copy of the data — no per-lane row replication. All lanes
    * start on the same [min, max] range, so the first histogram serves every
    * lane from one scan; once lanes narrow, their candidate ranges are
    * pairwise disjoint (they live in different histogram buckets) or
    * identical, so each later pass still needs only one scan with a
    * range-membership tag. In practice: stats + one shared histogram + one
    * bounded collect — three passes for nine deciles.
    */
  def exactQuantilesOfColumn(df: DataFrame, valueCol: String, qs: Seq[Double],
      bins: Int = 1024, collectThreshold: Long = 65536): Map[Double, Double] = {
    qs.foreach(q => require(q >= 0.0 && q <= 1.0, s"quantile out of range: $q"))
    require(bins >= 2, "need at least 2 bins")
    val vals = df.select(col(valueCol).cast("double").as("v"))
      .where(col("v").isNotNull && !isnan(col("v")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val st = vals.agg(count(lit(1)).as("n"), min("v").as("mn"), max("v").as("mx")).first()
      val n = st.getLong(0)
      if (n == 0) return Map.empty
      val mn = st.getDouble(1)
      val mx = st.getDouble(2)

      final case class Lane(q: Double, h: Double, kLo: Long, kHi: Long,
          base: Long, lo: Double, hi: Double, cnt: Long,
          vLo: Option[Double], vHi: Option[Double])
      var lanes = qs.distinct.map { q =>
        val h = q * (n - 1).toDouble
        val kLo = math.floor(h).toLong
        val kHi = math.ceil(h).toLong
        if (mn == mx) Lane(q, h, kLo, kHi, 0L, mn, mx, n, Some(mn), Some(mn))
        else Lane(q, h, kLo, kHi, 0L, mn, mx, n, None, None)
      }

      // membership tag: distinct ranges are disjoint-or-identical, so a
      // chained when over the few distinct ranges assigns each row its range
      def rangeTag(ranges: Seq[(Double, Double)]): Column =
        ranges.zipWithIndex.tail.foldLeft(
          when(col("v") >= ranges.head._1 && col("v") <= ranges.head._2, lit(0))) {
          case (acc, ((lo, hi), i)) => acc.when(col("v") >= lo && col("v") <= hi, lit(i))
        }

      var passes = 0
      val maxPasses = 64
      while (lanes.exists(l => l.vLo.isEmpty)) {
        passes += 1
        val unresolved = lanes.filter(_.vLo.isEmpty)
        val (small, big) = unresolved.partition(l => l.cnt <= collectThreshold || passes >= maxPasses)

        val collected: Map[(Double, Double), Seq[Double]] =
          if (small.isEmpty) Map.empty
          else {
            val ranges = small.map(l => (l.lo, l.hi)).distinct
            val tag = rangeTag(ranges)
            vals.where(tag.isNotNull)
              .groupBy(tag.as("r"))
              .agg(sort_array(collect_list(col("v"))).as("vs"))
              .collect()
              .map(r => ranges(r.getInt(0)) -> r.getSeq[Double](1))
              .toMap
          }

        val binned: Map[(Double, Double), Seq[(Int, Long, Double, Double)]] =
          if (big.isEmpty) Map.empty
          else {
            val ranges = big.map(l => (l.lo, l.hi)).distinct
            val tag = rangeTag(ranges)
            val loE = ranges.zipWithIndex.tail.foldLeft(
              when(tag === 0, lit(ranges.head._1))) {
              case (acc, ((lo, _), i)) => acc.when(tag === i, lit(lo))
            }
            val hiE = ranges.zipWithIndex.tail.foldLeft(
              when(tag === 0, lit(ranges.head._2))) {
              case (acc, ((_, hi), i)) => acc.when(tag === i, lit(hi))
            }
            // same hardened bucket arithmetic as the grouped engine
            val frac = (col("v") / bins - loE / bins) / (hiE / bins - loE / bins)
            val scaled = least(lit((bins - 1).toDouble),
              greatest(lit(1.0), floor(nanvl(frac, lit(0.0)) * bins)))
            val idx = when(col("v") === loE, lit(0.0)).otherwise(scaled).cast("int")
            vals.where(tag.isNotNull)
              .groupBy(tag.as("r"), idx.as("b"))
              .agg(count(lit(1)).as("c"), min("v").as("bmn"), max("v").as("bmx"))
              .collect()
              .groupBy(r => ranges(r.getInt(0)))
              .map { case (rng, rows) =>
                rng -> rows.map(r => (r.getInt(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
                  .sortBy(_._1).toSeq
              }
          }

        lanes = lanes.map { l =>
          if (l.vLo.nonEmpty) l
          else if (collected.contains((l.lo, l.hi))) {
            val vs = collected((l.lo, l.hi))
            l.copy(
              vLo = Some(vs((l.kLo - l.base).toInt)),
              vHi = Some(vs((l.kHi - l.base).toInt)))
          } else {
            val bs = binned((l.lo, l.hi))
            val r1 = l.kLo - l.base
            var cumBefore = 0L
            var i = 0
            while (cumBefore + bs(i)._2 <= r1) { cumBefore += bs(i)._2; i += 1 }
            val (_, c1, mn1, mx1) = bs(i)
            val bothHere = l.kHi == l.kLo || (l.kHi - l.base) < cumBefore + c1
            if (bothHere) {
              if (mn1 == mx1) l.copy(vLo = Some(mn1), vHi = Some(mn1))
              else l.copy(base = l.base + cumBefore, lo = mn1, hi = mx1, cnt = c1)
            } else l.copy(vLo = Some(mx1), vHi = Some(bs(i + 1)._3))
          }
        }
      }

      lanes.map { l =>
        val v =
          if (l.kLo == l.kHi) l.vLo.get
          else l.vLo.get * (l.kHi - l.h) + l.vHi.get * (l.h - l.kLo)
        l.q -> v
      }.toMap
    } finally vals.unpersist(blocking = false)
  }

  /** Exact q-quantile per group (group key stringified; intended for bounded
    * group domains — the driver holds one small range record per group).
    *
    * NOT a drop-in for a grouped `percentile`: rows whose group key is null
    * are DROPPED (Spark's groupBy would keep a null group). Callers here
    * group by non-null bounded domains; encode nulls as a sentinel string
    * before calling if the null group's quantile matters.
    */
  def exactQuantileByGroup(df: DataFrame, groupCol: String, valueCol: String,
      q: Double, bins: Int = 1024, collectThreshold: Long = 65536): Map[String, Double] =
    quantileOfPairs(
      df.select(col(groupCol).cast("string").as("g"), col(valueCol).cast("double").as("v"))
        .where(col("g").isNotNull),
      _ => q, bins, collectThreshold)

  /** Exact LOWER WEIGHTED MEDIAN per group: the smallest value v with
    * 2 * (weight of rows <= v) >= (total group weight) — e.g. the
    * token-weighted median document length, where each document counts by
    * its token mass, not once. The test is pure integer arithmetic on
    * exact BIGINT weight sums (no q*W float threshold), so both engines
    * agree bitwise at any scale.
    *
    * Same histogram-refinement discipline as [[exactQuantileByGroup]]:
    * each pass bins the candidate range and sums WEIGHTS per bucket
    * (O(bins) executor state), the driver walks buckets to the one where
    * the cumulative weight crosses ceil(W/2), and a range whose ROW count
    * fits `collectThreshold` finishes with one bounded sorted fetch.
    * Rows with null/NaN values or non-positive weights are dropped.
    */
  def weightedMedianByGroup(df: DataFrame, groupCol: String, valueCol: String,
      weightCol: String, bins: Int = 1024,
      collectThreshold: Long = 65536): Map[String, Double] = {
    require(bins >= 2, "need at least 2 bins")
    val pairs = df
      .select(col(groupCol).cast("string").as("g"),
        col(valueCol).cast("double").as("v"), col(weightCol).cast("long").as("w"))
      .where(col("g").isNotNull && col("v").isNotNull && !isnan(col("v")) && col("w") > 0)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // per-group: target T = ceil(W/2); state [lo, hi] with baseW = weight
      // strictly below lo and rows = row count inside the range
      final case class WR(target: Long, baseW: Long, lo: Double, hi: Double, rows: Long)
      var states = Map.empty[String, WR]
      var resolved = Map.empty[String, Double]
      pairs.groupBy("g")
        .agg(sum("w").as("tw"), count(lit(1)).as("n"), min("v").as("mn"), max("v").as("mx"))
        .collect()
        .foreach { r =>
          val g = r.getString(0)
          val t = (r.getLong(1) + 1L) / 2L
          val mn = r.getDouble(3); val mx = r.getDouble(4)
          if (mn == mx) resolved += g -> mn
          else states += g -> WR(t, 0L, mn, mx, r.getLong(2))
        }

      var passes = 0
      val maxPasses = 64
      while (states.nonEmpty) {
        val (small, big) =
          states.partition { case (_, st) => st.rows <= collectThreshold || passes >= maxPasses }
        // ONE batched job for every small group (the quantileOfPairs
        // discipline, r12): the old per-group where+orderBy+collect loop
        // paid one range-sample job + one sort job + one full cache scan
        // PER GROUP (a24 measured ~398 tasks for 5 langs); a grouped
        // collect_list fetches them all in one pass and the <= threshold
        // row bound makes the in-executor sort tiny. Struct sort orders by
        // v first; intra-tie order can't change which v crosses the target.
        if (small.nonEmpty) {
          val keys = small.keys.toSeq.sorted
          val loE = perGroup(keys.map(k => k -> small(k).lo))
          val hiE = perGroup(keys.map(k => k -> small(k).hi))
          val got = pairs
            .where(col("g").isin(keys: _*) && col("v") >= loE && col("v") <= hiE)
            .groupBy("g")
            .agg(sort_array(collect_list(struct(col("v"), col("w")))).as("ps"))
            .collect()
          got.foreach { r =>
            val g = r.getString(0)
            val st = small(g)
            val ps = r.getSeq[org.apache.spark.sql.Row](1)
            var cum = st.baseW
            var i = 0
            while (cum + ps(i).getLong(1) < st.target) { cum += ps(i).getLong(1); i += 1 }
            resolved += g -> ps(i).getDouble(0)
          }
        }
        states = big
        if (states.nonEmpty) {
          passes += 1
          val keys = states.keys.toSeq.sorted
          val loE = perGroup(keys.map(k => k -> states(k).lo))
          val hiE = perGroup(keys.map(k => k -> states(k).hi))
          // same hardened bucket arithmetic as the unweighted engine
          val frac = (col("v") / bins - loE / bins) / (hiE / bins - loE / bins)
          val scaled = least(lit((bins - 1).toDouble),
            greatest(lit(1.0), floor(nanvl(frac, lit(0.0)) * bins)))
          val idx = when(col("v") === loE, lit(0.0)).otherwise(scaled).cast("int")
          val byG = pairs
            .where(col("g").isin(keys: _*) && col("v") >= loE && col("v") <= hiE)
            .groupBy(col("g"), idx.as("b"))
            .agg(sum("w").as("bw"), count(lit(1)).as("c"), min("v").as("mn"), max("v").as("mx"))
            .collect()
            .groupBy(_.getString(0))
          var next = Map.empty[String, WR]
          states.foreach { case (g, st) =>
            val bs = byG(g)
              .map(r => (r.getInt(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5)))
              .sortBy(_._1)
            var cum = st.baseW
            var i = 0
            while (cum + bs(i)._2 < st.target) { cum += bs(i)._2; i += 1 }
            val (_, _, c1, mn1, mx1) = bs(i)
            if (mn1 == mx1) resolved += g -> mn1
            else next += g -> WR(st.target, cum, mn1, mx1, c1)
          }
          states = next
        }
      }
      resolved
    } finally pairs.unpersist(blocking = false)
  }

  /** Scale-adaptive repartition width for CPU-heavy projections over
    * possibly-unsplittable inputs (the minhash/shingle fan-out): derive the
    * width from the OPTIMIZER'S SIZE ESTIMATE of the input (for a parquet
    * scan, its file bytes) instead of pinning defaultParallelism — a fixed
    * width charges every downstream checkpoint consumer ~cores tasks of
    * fixed per-task cost regardless of data volume (r12 warm-probe: the d2
    * signature COMPUTE was 0.6 cpu-s while its 32-task consumers paid
    * ~80 ms/task of fixed overhead x 6 stages), while a too-narrow width
    * starves the projection at the 100x decade. `bytesPerPartition` is the
    * compressed-input slice one task should own (small for md5-grade
    * per-byte work); the result is clamped to [1, 2x defaultParallelism]
    * — an unknown size estimate degrades to the old fixed fan-out, never
    * to 1.
    */
  def adaptiveWidth(df: DataFrame, bytesPerPartition: Long = 256L << 10): Int = {
    val cap = BigInt(df.sparkSession.sparkContext.defaultParallelism) * 2
    val sz = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val want = sz / bytesPerPartition + 1
    want.min(cap).max(1).toInt
  }

  /** Exact global row numbers per group WITHOUT a corpus-global window
    * partition: range-partition on (group, order) so the total order is
    * contiguous across Spark partitions, count rows per (partition, group),
    * broadcast the per-partition rn bases back, and add each row's frozen
    * in-partition position (monotonically_increasing_id materialized into
    * the checkpoint) — no task ever sorts a whole group, and (r12) no
    * second exchange/sort/window runs after the range partitioning: the rn
    * leg is one broadcast-join projection over the checkpoint. This is the
    * distributed-ranking idiom behind rank functions at 100 TB
    * (percent_rank/cume_dist/ntile are then plain arithmetic over `rn` and
    * the group count — see w14).
    *
    * `orderCols` must totally order rows within a group (no peers) for the
    * result to be deterministic. Output: input columns + `rn` (1-based
    * within each group, in `orderCols` order) + (when `countCol` is set) a
    * LongType column named `countCol` carrying the group's total row count
    * — derived from the same driver-side offset table, so callers that need
    * ntile/percent_rank denominators skip a second full pass + join.
    *
    * `maxOffsetRows` guards the bounded-driver-state contract: the
    * offset table is O(partitions x groups) and is collected + broadcast,
    * which is the POINT for low-cardinality ranking groups (w14's shape) —
    * but a caller passing a high-cardinality group column would silently
    * collect millions of rows. Above the bound the call fails loudly with
    * the fix (this operator is for FEW, LARGE ranking groups; for many
    * small groups a plain per-group window is already shard-safe).
    */
  def groupedGlobalRowNumber(df: DataFrame, groupCols: Seq[String],
      orderCols: Seq[String], partitions: Int = 0,
      maxOffsetRows: Int = 1 << 20, countCol: Option[String] = None): DataFrame = {
    val spark = df.sparkSession
    countCol.foreach(c => require(!df.columns.contains(c),
      s"groupedGlobalRowNumber: countCol '$c' collides with an input column"))
    val all = (groupCols ++ orderCols).map(col)
    // __mid (monotonically_increasing_id = pid << 33 + in-partition index) is
    // materialized INTO the checkpoint: each row's position in its
    // partition's sorted order becomes frozen data. Rows of one group inside
    // a partition are a contiguous run (the in-partition sort leads with the
    // group columns), so `__mid - min(__mid over the (pid, group) run)` IS
    // the partition-local 0-based row number — the old formulation paid a
    // second Exchange + full re-Sort + Window after the checkpoint (the
    // LogicalRDD hides the range partitioning from Catalyst) to recompute
    // exactly this value. r12: w14's plan drops from 2 data exchanges + 2
    // full sorts to 1 of each; the rn leg is now scan -> broadcast join ->
    // project.
    // r13 (guide §2.2): partitions <= 0 (the default) leaves the range
    // exchange's width to AQE coalescing instead of pinning the session
    // shuffle-partition count — measured at sf0.1, the pinned 32-way
    // exchange charged BOTH checkpoint consumers (counts leg + rn leg)
    // ~100 ms/task of near-zero-CPU fixed overhead on near-empty
    // partitions (t20: 2 x 32 tasks, 8.5 s run / 2.8 s cpu), while AQE had
    // already coalesced every neighboring stage. Scale-adaptive by
    // construction: the width follows shuffle bytes (parallelismFirst
    // keeps a CPU-heavy sort spread at low byte volume, w14's shape), so a
    // corpus-scale input still fans out. Coalescing only merges ADJACENT
    // range partitions, so the cross-partition order the offset math needs
    // is preserved. An explicit `partitions` pins the width as before.
    val rp0 = if (partitions > 0) df.repartitionByRange(partitions, all: _*)
      else df.repartitionByRange(all: _*)
    val rp = rp0
      .sortWithinPartitions(all: _*)
      .withColumn("__pid", spark_partition_id())
      .withColumn("__mid", monotonically_increasing_id())
      .localCheckpoint(eager = false) // pin partition ids + mids across uses
    // per-(pid, group) counts + first-run-mid -> per-(pid, group) rn base;
    // small: O(partitions x groups) rows on the driver, broadcast back. The
    // limit bounds what can ever reach driver memory; the require turns an
    // over-bound cardinality into an actionable error instead of an OOM.
    val counts = rp.groupBy((col("__pid") +: groupCols.map(col)): _*)
      .agg(count(lit(1)).as("__c"), min(col("__mid")).as("__fm"))
      .limit(maxOffsetRows + 1)
      .collect()
    require(counts.length <= maxOffsetRows,
      s"groupedGlobalRowNumber: per-(partition, group) offset table exceeds " +
        s"maxOffsetRows=$maxOffsetRows — the group columns " +
        s"${groupCols.mkString("(", ", ", ")")} are too high-cardinality for " +
        "driver-side offsets. Use a plain per-group window for many small " +
        "groups, or raise maxOffsetRows if the driver can hold the table.")
    val key = (r: org.apache.spark.sql.Row) => groupCols.indices.map(i => r.get(i + 1)).toSeq
    // per (pid, group): __base such that rn = __base + __mid, i.e. (rows of
    // this group in earlier partitions) - (first __mid of this run) + 1 —
    // the partition bases of __mid and __fm cancel. The group's total row
    // count rides the same broadcast row when countCol asks for it (w14/t20/
    // t21/x3 all need it; deriving it here kills their second full scan +
    // aggregation + broadcast join over the checkpoint).
    val offsets = counts
      .groupBy(key).values.toSeq
      .flatMap { rows =>
        val sorted = rows.sortBy(_.getInt(0))
        val total = sorted.map(_.getLong(groupCols.size + 1)).sum
        var cum = 0L
        sorted.map { r =>
          val base = cum - r.getLong(groupCols.size + 2) + 1L
          cum += r.getLong(groupCols.size + 1)
          org.apache.spark.sql.Row.fromSeq(
            r.toSeq.take(groupCols.size + 1) ++
              (base +: countCol.map(_ => total).toSeq))
        }
      }
    // schema from the INPUT's group-column types, not counts.head: on an
    // empty input `counts` is empty and a head-derived schema would
    // degenerate to just __base, failing the join with a missing-column
    // AnalysisException instead of returning an empty frame
    val offSchema = org.apache.spark.sql.types.StructType(
      (org.apache.spark.sql.types.StructField("__pid",
        org.apache.spark.sql.types.IntegerType) +:
        groupCols.map(g => rp.schema(g))) ++
        (org.apache.spark.sql.types.StructField("__base",
          org.apache.spark.sql.types.LongType) +:
          countCol.map(c => org.apache.spark.sql.types.StructField(c,
            org.apache.spark.sql.types.LongType)).toSeq))
    val offDf = spark.createDataFrame(
      spark.sparkContext.parallelize(offsets, 1), offSchema)
    rp.join(broadcast(offDf), ("__pid" +: groupCols).toSeq)
      .withColumn("rn", col("__base") + col("__mid"))
      .drop("__pid", "__mid", "__base")
  }

  /** Exact EXCLUSIVE global running total of `valueCol` in `orderCols`
    * order WITHOUT a corpus-global window partition — the
    * [[groupedGlobalRowNumber]] discipline with SUM: range-partition on the
    * order columns (a contiguous global order across Spark partitions),
    * collect per-partition value sums (O(partitions) driver rows), turn
    * them into exclusive partition offsets, and add each row's
    * partition-LOCAL exclusive running sum — every window partition in the
    * plan is one bounded range slice. This is the prefix-sum primitive
    * under sequence packing ([[graft.ext.Packing]]) and any
    * offset-assignment pass over a corpus-scale table.
    *
    * `orderCols` must totally order rows; null `valueCol` rows contribute 0.
    * Output: input columns + `start` (sum of all strictly-preceding rows'
    * values, 0 for the first row).
    */
  def globalRunningTotal(df: DataFrame, orderCols: Seq[String],
      valueCol: String, partitions: Int = 0): DataFrame = {
    val spark = df.sparkSession
    val all = orderCols.map(col)
    // AQE-coalescible width by default — the groupedGlobalRowNumber r13
    // rationale; adjacent-merge coalescing preserves the range order the
    // exclusive offsets depend on.
    val rp0 = if (partitions > 0) df.repartitionByRange(partitions, all: _*)
      else df.repartitionByRange(all: _*)
    val rp = rp0
      .sortWithinPartitions(all: _*)
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint(eager = false) // pin partition ids across the two uses
    val sums = rp.groupBy(col("__pid"))
      .agg(sum(col(valueCol).cast("long")).as("__s"))
      .collect()
      .map(r => r.getInt(0) -> Option(r.get(1)).map(_.toString.toLong).getOrElse(0L))
      .toMap
    val maxPid = if (sums.isEmpty) -1 else sums.keys.max
    var cum = 0L
    val offsets = (0 to maxPid).map { pid =>
      val off = cum; cum += sums.getOrElse(pid, 0L); (pid, off)
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__pid"))
      .orderBy(all: _*)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    import spark.implicits._
    rp.join(broadcast(offsets.toDF("__pid", "__off")), Seq("__pid"))
      .withColumn("start",
        col("__off") + coalesce(sum(col(valueCol).cast("long")).over(w), lit(0L)))
      .drop("__pid", "__off")
  }

  /** AS-OF join (backward, inclusive): for every left row, the single
    * right row with the LATEST `timeCol` <= the left row's, per `keyCols` —
    * the quotes-to-trades / state-at-time operator Spark lacks natively.
    *
    * Plan shape: the classic range formulation (`l.ts >= r.ts` theta-join +
    * argmax) explodes to O(left x right-history) pairs per key before
    * pruning; this form instead UNIONS probe and build rows into one
    * time-ordered stream and carries the most recent build payload forward
    * with `last(..., ignoreNulls) OVER (trailing frame)` — one shuffle on
    * the key, one pass, state = one row. Window partitions are per KEY
    * (bounded by a key's event history, the w4/w17 discipline), never
    * corpus-global.
    *
    * `right` must be unique per (keyCols, timeCol) — pre-aggregate ties
    * away (at equal times the winner would otherwise be nondeterministic;
    * the same caveat applies to SQL ASOF JOIN engines). A right row AT the
    * left timestamp matches (inclusive, matching DuckDB `ON l.t >= r.t`).
    * Output: every left row + `<prefix><valueCol>`s and `<prefix><timeCol>`
    * from the matched right row (null when no right row precedes).
    *
    * Null handling is SQL-equality semantics on BOTH sides, enforced
    * BEFORE the shuffle: a null-key or null-time build row can never be an
    * as-of match (`l.t >= r.t` is never true for null `r.t`), so such rows
    * are filtered from the build; a null-key PROBE row's match is null by
    * definition, so those rows BYPASS the window entirely (projected null
    * match columns, unioned back). The bypass matters at scale: nulls
    * share one `Window.partitionBy` partition, so a mostly-null key column
    * would otherwise funnel every null-key left row into a single
    * straggler task that sorts them all to compute a constant.
    */
  def asofJoin(left: DataFrame, right: DataFrame, keyCols: Seq[String],
      timeCol: String, valueCols: Seq[String],
      prefix: String = "asof_"): DataFrame = {
    val leftOther = left.columns.toSeq.filterNot(c => keyCols.contains(c) || c == timeCol)
    require(!left.columns.exists(_.startsWith(prefix)),
      s"left columns may not start with '$prefix' (matched-column namespace)")
    val shared = keyCols.map(col) :+ col(timeCol)
    // ONE struct carries the whole build row through the window: per-column
    // last(ignoreNulls) would skip a legitimately-NULL value in the true
    // as-of row and stitch columns from DIFFERENT right rows into one
    // impossible match (a build row's struct is never null even when its
    // fields are, so the struct-level last() always picks one real row).
    val matchType = org.apache.spark.sql.types.StructType(
      right.schema(timeCol) +: valueCols.map(right.schema(_)))
    val keysNotNull = keyCols.map(col(_).isNotNull).reduce(_ && _)
    val probe = left
      .where(keysNotNull)
      .select(shared ++
      leftOther.map(col) :+
      lit(null).cast(matchType).as("__m") :+
      lit(1).as("__side"): _*)
    // build-side rows that can never match under the as-of predicate are
    // dropped before the exchange: null keys (SQL equality) and null
    // timestamps (`l.ts >= r.ts` is never true for null r.ts — an
    // ascending-nulls-first sort would otherwise surface a null-time build
    // row as the "earliest" match)
    val build = right
      .where(keysNotNull && col(timeCol).isNotNull)
      .select(shared ++
        leftOther.map(c => lit(null).cast(left.schema(c).dataType).as(c)) :+
        struct(col(timeCol) +: valueCols.map(col): _*).cast(matchType).as("__m") :+
        lit(0).as("__side"): _*)
    // at equal times the build row sorts FIRST (side 0 < 1), so an
    // equal-timestamp right row is visible to the left row (inclusive)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(col(timeCol).asc, col("__side").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val matched = probe.unionByName(build)
      .withColumn("__m", last(col("__m"), ignoreNulls = true).over(w))
      .where(col("__side") === 1)
      .select(col("*") +:
        col(s"__m.$timeCol").as(s"$prefix$timeCol") +:
        valueCols.map(c => col(s"__m.$c").as(s"$prefix$c")): _*)
      .drop("__side", "__m")
    // null-key probes: constant-null match columns, no window, no exchange
    val bypass = left
      .where(!keysNotNull)
      .select(shared ++ leftOther.map(col) ++
        (lit(null).cast(right.schema(timeCol).dataType).as(s"$prefix$timeCol") +:
          valueCols.map(c =>
            lit(null).cast(right.schema(c).dataType).as(s"$prefix$c"))): _*)
    matched.unionByName(bypass)
  }

  /** Chained `when` mapping each group key to a per-group double constant —
    * how every group carries its own [lo, hi] through one shared pass.
    */
  private def perGroup(m: Seq[(String, Double)]): Column =
    m.tail.foldLeft(when(col("g") === m.head._1, lit(m.head._2))) {
      case (acc, (k, v)) => acc.when(col("g") === k, lit(v))
    }

  /** The shared engine over (g: string, v: double) pairs; `qFor` gives each
    * lane its own quantile (constant for the by-column/by-group wrappers,
    * per-tag for multi-q). Nulls and NaNs are dropped (the
    * imputation/statistic semantics of the callers; the fixture and Gold
    * numerics carry no NaN).
    */
  private def quantileOfPairs(pairsRaw: DataFrame, qFor: String => Double, bins: Int,
      collectThreshold: Long): Map[String, Double] = {
    require(bins >= 2, "need at least 2 bins")
    val valid = pairsRaw.where(col("v").isNotNull && !isnan(col("v")))
    // One pass gives every group's count and range, and the sorted values
    // of each group that holds at most collectThreshold of them: those
    // resolve here, and only larger groups refine.
    val held = udaf(new HeldValues(collectThreshold.min(Int.MaxValue - 1L).toInt))
    val stats = valid.groupBy("g")
      .agg(count(lit(1)).as("n"), min("v").as("mn"), max("v").as("mx"),
        held(col("v")).as("vs"))
      .collect()

    // h, kLo, kHi per group; resolvedLo/Hi accumulate the exact rank values.
    var hOf = Map.empty[String, (Double, Long, Long)]
    var resolvedLo = Map.empty[String, Double]
    var resolvedHi = Map.empty[String, Double]
    var states = Map.empty[String, QRange]
    stats.foreach { r =>
      val g = r.getString(0)
      val n = r.getLong(1)
      val q = qFor(g)
      require(q >= 0.0 && q <= 1.0, s"quantile out of range: $q")
      val h = q * (n - 1).toDouble
      val kLo = math.floor(h).toLong
      val kHi = math.ceil(h).toLong
      hOf += g -> ((h, kLo, kHi))
      val mn = r.getDouble(2); val mx = r.getDouble(3)
      if (n <= collectThreshold) {
        val vs = r.getSeq[Double](4)
        resolvedLo += g -> vs(kLo.toInt); resolvedHi += g -> vs(kHi.toInt)
      } else if (mn == mx) { resolvedLo += g -> mn; resolvedHi += g -> mn }
      else states += g -> QRange(kLo, kHi, 0L, mn, mx, n)
    }

    // The refinement re-scans the pair projection O(log n) times; persist the
    // narrow (g, v) projection so upstream plans (e.g. the Gold clean chain)
    // compute once more, not once per pass. At cluster scale this spills to
    // local disk — still a narrow two-column cache, never aggregation state.
    val pairs = if (states.isEmpty) valid else valid.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      var toCollect = Map.empty[String, QRange]
      var passes = 0
      val maxPasses = 64 // backstop; the range shrinks ~bins-fold per pass
      while (states.nonEmpty) {
        val (small, big) =
          states.partition { case (_, st) => st.cnt <= collectThreshold || passes >= maxPasses }
        toCollect ++= small
        states = big
        if (states.nonEmpty) {
          passes += 1
          val keys = states.keys.toSeq.sorted
          val loE = perGroup(keys.map(k => k -> states(k).lo))
          val hiE = perGroup(keys.map(k => k -> states(k).hi))
          // Bucket index, hardened against float edges: operands are
          // pre-scaled by /bins so hi-lo can't overflow to Infinity at the
          // double extremes, NaN from a sub-ulp-collapsed width maps to
          // bucket 1 (nanvl — ANSI would throw on a NaN->int cast), and
          // bucket 0 is reserved for v == lo exactly, which guarantees every
          // pass strictly shrinks the range even when the scaled arithmetic
          // degenerates. Monotone in v, equal values share a bucket — the
          // only two properties correctness needs.
          val frac = (col("v") / bins - loE / bins) / (hiE / bins - loE / bins)
          val scaled = least(lit((bins - 1).toDouble),
            greatest(lit(1.0), floor(nanvl(frac, lit(0.0)) * bins)))
          val idx = when(col("v") === loE, lit(0.0)).otherwise(scaled).cast("int")
          val rows = pairs
            .where(col("g").isin(keys: _*) && col("v") >= loE && col("v") <= hiE)
            .groupBy(col("g"), idx.as("b"))
            .agg(count(lit(1)).as("c"), min("v").as("mn"), max("v").as("mx"))
            .collect()
          val byG = rows.groupBy(_.getString(0))
          var next = Map.empty[String, QRange]
          states.foreach { case (g, st) =>
            val bs = byG(g)
              .map(r => (r.getInt(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
              .sortBy(_._1)
            // locate the bucket holding rank kLo (0-based within [lo, hi])
            val r1 = st.kLo - st.base
            var cumBefore = 0L
            var i = 0
            while (cumBefore + bs(i)._2 <= r1) { cumBefore += bs(i)._2; i += 1 }
            val (_, c1, mn1, mx1) = bs(i)
            val bothHere = st.kHi == st.kLo || (st.kHi - st.base) < cumBefore + c1
            if (bothHere) {
              if (mn1 == mx1) {
                resolvedLo += g -> mn1; resolvedHi += g -> mn1
              } else {
                next += g -> QRange(st.kLo, st.kHi, st.base + cumBefore, mn1, mx1, c1)
              }
            } else {
              // kLo is the LAST rank of bucket i and kHi the FIRST of the next
              // non-empty bucket — both are bucket extrema, already exact.
              resolvedLo += g -> mx1
              resolvedHi += g -> bs(i + 1)._3
            }
          }
          states = next
        }
      }

      if (toCollect.nonEmpty) {
        val keys = toCollect.keys.toSeq.sorted
        val loE = perGroup(keys.map(k => k -> toCollect(k).lo))
        val hiE = perGroup(keys.map(k => k -> toCollect(k).hi))
        val got = pairs
          .where(col("g").isin(keys: _*) && col("v") >= loE && col("v") <= hiE)
          .groupBy("g")
          .agg(sort_array(collect_list(col("v"))).as("vs"))
          .collect()
        got.foreach { r =>
          val g = r.getString(0)
          val st = toCollect(g)
          val vs = r.getSeq[Double](1)
          resolvedLo += g -> vs((st.kLo - st.base).toInt)
          resolvedHi += g -> vs((st.kHi - st.base).toInt)
        }
      }

      resolvedLo.keys.map { g =>
        val (h, kLo, kHi) = hOf(g)
        val v =
          if (kLo == kHi) resolvedLo(g)
          // SQL-standard PERCENTILE_CONT interpolation, same operand shape as
          // Spark Percentile.getPercentile and DuckDB quantile_cont.
          else resolvedLo(g) * (kHi - h) + resolvedHi(g) * (h - kLo)
        g -> v
      }.toMap
    } finally pairs.unpersist(blocking = false)
  }

  // ------------------------------------------------------------------------
  // Bounded-state quota sampling (the p14/p15 mixture shape).
  //
  // "Keep the quota smallest rank keys per group" is naively a
  // `row_number().over(Window.partitionBy(g).orderBy(key)) <= quota` — which
  // ships EVERY row of a group to one reducer and fully sorts it. At corpus
  // scale the majority group is one straggler task sorting ~the whole
  // corpus. The selection itself only needs the quota-th smallest key per
  // group: aggregate the bottom-maxQuota keys with a k-bounded typed
  // Aggregator (partial aggregation reduces every partition to <= maxQuota
  // keys per group BEFORE the shuffle), broadcast the per-group threshold,
  // and filter the corpus scan against it — no global sort anywhere.
  // ------------------------------------------------------------------------

  /** k-smallest-strings Aggregator ([[BoundedRank]] instantiation, ascending
    * lexicographic order over rank keys).
    */
  final class BottomK(k: Int) extends BoundedRank[String](k) {
    override protected def beats(a: String, b: String): Boolean = a < b

    override def bufferEncoder: org.apache.spark.sql.Encoder[List[String]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[List[String]]()
    override def outputEncoder: org.apache.spark.sql.Encoder[List[String]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[List[String]]()
  }

  /** Keep, per group, the rows whose `rankKey` is among the group's `quota`
    * smallest — `row_number <= quota` semantics with bounded state.
    *
    * `quotas` is a small `(groupCol, quota: int)` relation (one row per
    * group; it is broadcast). `maxQuota` must bound every quota value.
    * Groups absent from `quotas` are dropped; a non-positive quota keeps
    * nothing. Rank keys MUST be unique within a group (append a unique id to
    * break ties) — the threshold filter keeps exactly the quota smallest
    * only when no two rows share a key.
    *
    * TWO EXECUTION PATHS, one semantics, routed on `maxQuota`:
    *
    *  - `maxQuota <= descentThreshold` (caps, per-domain limits, fixture
    *    mixes — quotas in the tens to tens of thousands): `maxQuota` sizes a
    *    [[BottomK]] Aggregator buffer. One narrow (group, key) aggregation
    *    ships <= maxQuota keys per group per partition, the quota-th
    *    smallest key per group broadcasts as a threshold, and a filtered
    *    re-scan keeps the winners — the corpus is never sorted. A quota
    *    above `maxQuota` on this path fails loudly (the clipped buffer
    *    would silently keep everything).
    *
    *  - `maxQuota > descentThreshold` (real temperature mixes, where the
    *    majority-group quota is ~corpus-sized): buffering maxQuota keys per
    *    group per partition is itself the straggler, so the call routes
    *    through [[tokenBudgetSampleByGroup]]'s iterative prefix descent with
    *    unit weights — O(groups x buckets) executor state and O(log n)
    *    passes at ANY quota. Requires the descent's stricter key contract:
    *    fixed-width ASCII rank keys (md5 hex + zero-padded ids qualify).
    *
    * Choosing `maxQuota`: it is the declared bound on quota values, so pass
    * the real bound — the routing picks the right engine. The default
    * `descentThreshold` (64k) keeps per-partition buffers a few MB; lower it
    * only to force the descent path (tests), raise it only with executor
    * memory to spare.
    */
  def quotaSampleByGroup(df: DataFrame, groupCol: String, rankKey: Column,
      quotas: DataFrame, maxQuota: Int, descentThreshold: Int = 65536): DataFrame = {
    require(maxQuota > 0, "maxQuota must be positive")
    if (maxQuota > descentThreshold) {
      // corpus-sized quotas: BottomK buffers would be the bottleneck — the
      // prefix descent holds O(groups x buckets) state at any quota. Unit
      // weights make "cumulative weight reaches budget" = "row_number <=
      // quota" exactly (the crossing row is the quota-th smallest key).
      // Keep the bound contract uniform across paths: quotas beyond the
      // declared maxQuota fail loudly here too (driver-side check on the
      // tiny per-group quota relation).
      val over = quotas.where(col("quota") > maxQuota).limit(1).collect()
      require(over.isEmpty,
        s"quotaSampleByGroup: quota ${over.headOption.map(_.toString).getOrElse("")} " +
          s"exceeds declared maxQuota $maxQuota")
      return tokenBudgetSampleByGroup(
        df.withColumn("__qs_w", lit(1L)), groupCol, rankKey, "__qs_w",
        quotas.select(col(groupCol), col("quota").cast("long").as("budget")))
        .drop("__qs_w")
    }
    val spark = df.sparkSession
    import spark.implicits._
    // internal names are __qs_-prefixed so a caller's own `g`/`quota`/`ks`
    // columns never collide with the join below
    val keyed = df.withColumn("__qs_key", rankKey.cast("string"))
    val bottom = keyed
      .select(col(groupCol).cast("string").as("__qs_g"), col("__qs_key"))
      .as[(String, String)]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(new BottomK(maxQuota).toColumn.name("ks"))
      .toDF("__qs_g", "__qs_ks")
    val thresholds = bottom
      .join(
        quotas.select(col(groupCol).cast("string").as("__qs_g"),
          col("quota").as("__qs_quota")),
        Seq("__qs_g"))
      // threshold = quota-th smallest key; null = group smaller than quota
      // (keep all). The CASE guards element_at against quota = 0 (1-based).
      // A quota beyond maxQuota would silently fall into the null/keep-all
      // branch (the clipped buffer looks like a small group) — fail loudly
      // instead; the check runs on the tiny per-group threshold rows only.
      .selectExpr("__qs_g", "__qs_quota",
        s"CASE WHEN __qs_quota > $maxQuota THEN " +
          "raise_error(concat('quotaSampleByGroup: quota ', CAST(__qs_quota AS STRING), " +
          s"' for group ', __qs_g, ' exceeds maxQuota $maxQuota')) " +
          "WHEN __qs_quota > 0 AND size(__qs_ks) >= __qs_quota " +
          "THEN element_at(__qs_ks, __qs_quota) END AS __qs_thr")
    keyed
      .join(broadcast(thresholds), col(groupCol).cast("string") === col("__qs_g"))
      .where(col("__qs_quota") > 0 &&
        (col("__qs_thr").isNull || col("__qs_key") <= col("__qs_thr")))
      .drop("__qs_g", "__qs_quota", "__qs_thr", "__qs_key")
  }

  /** Keep, per group, the rows whose rank key falls in the minimal
    * rank-ordered prefix whose cumulative `weight` reaches the group's
    * budget — token-budget sampling, the weighted sibling of
    * [[quotaSampleByGroup]] (real mixture specs are token masses, not doc
    * counts). A row is kept iff the total weight of strictly-smaller keys
    * is below the budget, so the budget-crossing row is included; a group
    * whose total weight is under budget keeps everything; budget <= 0
    * keeps nothing; groups absent from `budgets` are dropped.
    *
    * The naive form is a per-group running-sum window over the full corpus
    * in rank order — one reducer sorting the majority group. Instead the
    * budget BOUNDARY KEY is located by iterative prefix refinement over
    * the rank-key space: each pass buckets the current candidate range by
    * the next `step` key characters (one aggregation whose state is
    * groups x charset^step rows), the driver walks the bucket weights to
    * find the crossing bucket and descends; when a candidate bucket's
    * population fits `collectThreshold`, one bounded sorted fetch finds
    * the exact boundary key, which is then broadcast as a `key <= thr`
    * filter. Passes are O(log_|charset^step|(n)); executor state stays
    * O(groups x buckets) throughout — the [[exactQuantiles]] discipline
    * applied to weighted rank selection.
    *
    * Requirements: rank keys unique within a group, FIXED-WIDTH ASCII —
    * fixed-width because the descent refines one shared prefix length per
    * candidate range (variable-width keys would desynchronize the prefix
    * bucketing), ASCII because the driver-side lexicographic walk must
    * match Spark's binary string ordering. md5 hex + zero-padded ids
    * qualify; raw document ids of varying length do not.
    * Weights non-negative.
    */
  def tokenBudgetSampleByGroup(df: DataFrame, groupCol: String, rankKey: Column,
      weightCol: String, budgets: DataFrame, step: Int = 2,
      collectThreshold: Long = 65536): DataFrame = {
    require(step >= 1 && step <= 8, "step must be in [1, 8]")
    val keyed = df.withColumn("__tb_key", rankKey.cast("string"))
    val pairs = keyed.select(col(groupCol).cast("string").as("g"),
      col("__tb_key").as("k"), col(weightCol).cast("long").as("w"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val budgetOf = budgets
        .select(col(groupCol).cast("string").as("g"), col("budget").cast("long"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap // one row/group
      val totals = pairs.groupBy("g")
        .agg(sum(col("w")).as("tw"), count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap

      // thr: g -> inclusive boundary key; null value = keep the whole group
      var thrOf = Map.empty[String, String]
      var keepAll = Set.empty[String]
      // g -> (prefix of the candidate bucket, weight strictly before it, rows in it)
      var active = Map.empty[String, (String, Long, Long)]
      budgetOf.foreach { case (g, b) =>
        totals.get(g).foreach { case (tw, n) =>
          if (b > 0) {
            if (tw <= b) keepAll += g
            else active += g -> (("", 0L, n))
          } // b <= 0: neither keepAll nor active nor thrOf -> filtered out
        }
      }

      def perGroupStr(m: Seq[(String, String)]): Column =
        m.tail.foldLeft(when(col("g") === m.head._1, lit(m.head._2))) {
          case (acc, (g, v)) => acc.when(col("g") === g, lit(v))
        }

      var passes = 0
      while (active.nonEmpty) {
        passes += 1
        require(passes <= 64, "token-budget descent failed to converge")
        val (small, big) = active.partition(_._2._3 <= collectThreshold)

        if (small.nonEmpty) {
          val gs = small.keys.toSeq.sorted
          val plen = small(gs.head)._1.length // uniform: all groups descend in lockstep
          val cond =
            if (plen == 0) col("g").isin(gs: _*)
            else col("g").isin(gs: _*) &&
              substring(col("k"), 1, plen) === perGroupStr(gs.map(g => g -> small(g)._1))
          pairs.where(cond)
            .groupBy("g").agg(sort_array(collect_list(struct(col("k"), col("w")))).as("rows"))
            .collect().foreach { r =>
              val g = r.getString(0)
              val b = budgetOf(g)
              var acc = small(g)._2
              val it = r.getSeq[Row](1).iterator
              var found = false
              while (!found && it.hasNext) {
                val row = it.next()
                val (kk, ww) = (row.getString(0), row.getLong(1))
                if (acc + ww >= b) { thrOf += g -> kk; found = true }
                else acc += ww
              }
              require(found, s"token-budget boundary lost in collect for group $g")
            }
          active --= gs
        }

        if (big.nonEmpty) {
          val gs = big.keys.toSeq.sorted
          val plen = big(gs.head)._1.length
          val cond =
            if (plen == 0) col("g").isin(gs: _*)
            else col("g").isin(gs: _*) &&
              substring(col("k"), 1, plen) === perGroupStr(gs.map(g => g -> big(g)._1))
          val buckets = pairs.where(cond)
            .groupBy(col("g"), substring(col("k"), plen + 1, step).as("b"))
            .agg(sum(col("w")).as("bw"), count(lit(1)).as("bn"))
            .collect()
            .groupBy(_.getString(0))
          var next = Map.empty[String, (String, Long, Long)]
          gs.foreach { g =>
            val b = budgetOf(g)
            var acc = big(g)._2
            // a group whose candidate prefix suddenly matches no rows means
            // the key contract was broken (variable-width or non-ASCII rank
            // keys) — name the cause instead of a bare NoSuchElementException
            val sorted = buckets.getOrElse(g, throw new IllegalStateException(
              s"token-budget descent lost group $g at prefix '${big(g)._1}' — " +
                "rank keys must be fixed-width ASCII (see scaladoc)"))
              .map(r => (r.getString(1), r.getLong(2), r.getLong(3))).sortBy(_._1)
            var hit: Option[(String, Long)] = None
            val it = sorted.iterator
            while (hit.isEmpty && it.hasNext) {
              val (bk, bw, bn) = it.next()
              if (acc + bw >= b) hit = Some((bk, bn))
              else acc += bw
            }
            val (bk, bn) = hit.getOrElse(
              throw new IllegalStateException(s"token-budget boundary lost in descent for $g"))
            next += g -> ((big(g)._1 + bk, acc, bn))
          }
          active = active -- gs ++ next
        }
      }

      val spark = df.sparkSession
      import spark.implicits._
      val thrRows = (thrOf.toSeq.map { case (g, t) => (g, t) } ++
        keepAll.toSeq.map(g => (g, null: String)))
      if (thrRows.isEmpty) return keyed.where(lit(false)).drop("__tb_key")
      val thresholds = thrRows.toDF("__tb_g", "__tb_thr")
      keyed
        .join(broadcast(thresholds), col(groupCol).cast("string") === col("__tb_g"))
        .where(col("__tb_thr").isNull || col("__tb_key") <= col("__tb_thr"))
        .drop("__tb_g", "__tb_thr", "__tb_key")
    } finally pairs.unpersist(blocking = false)
  }

  /** Targeted key deletion from a parquet store — the "right to be
    * forgotten" rewrite a lakehouse without ACID tables still owes its
    * users. The EXPECTED row delta is computed up front (raw count minus the
    * store's exact key-match count, via a left-semi join on the key
    * column), the anti-join rewrite lands in a `.compact_tmp` sibling, and
    * the swap publishes only if the rewrite's count equals that
    * pre-computed expectation — a rewrite that lost or kept the wrong rows
    * aborts with the original untouched. The swap renames the live
    * directory aside to `.compact_old` before publishing, and the next
    * invocation restores that backup if a crash left the live directory
    * missing.
    *
    * `keys` co-partitions against the store on the key column (broadcast
    * when small — Catalyst's choice); the rewrite is one scan + one
    * anti-join. SINGLE-WRITER, NO CONCURRENT READERS: a query racing the
    * swap can find the directory missing. [[ManifestStore.deleteKeys]] is
    * the snapshot-isolated variant for manifest-resolved tables.
    *
    * Returns (rows deleted, rows remaining).
    */
  def deleteKeys(spark: SparkSession, path: String, keyCol: String,
      keys: DataFrame): (Long, Long) = {
    require(keys.columns.contains(keyCol), s"keys frame must carry '$keyCol'")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = new org.apache.hadoop.fs.Path(path)
    val tmp = new org.apache.hadoop.fs.Path(path + ".compact_tmp")
    val bak = new org.apache.hadoop.fs.Path(path + ".compact_old")
    if (!fs.exists(root) && fs.exists(bak) && !fs.rename(bak, root))
      throw new java.io.IOException(
        s"deleteKeys: restore of crashed swap $bak -> $path failed")
    fs.delete(tmp, true)
    fs.delete(bak, true)

    val raw = spark.read.parquet(path)
    val ks = keys.select(col(keyCol)).distinct().localCheckpoint(eager = true)
    val total = raw.count()
    val hits = raw.join(ks, Seq(keyCol), "left_semi").count()
    val expected = total - hits
    raw.join(ks, Seq(keyCol), "left_anti")
      .write.mode("overwrite").parquet(tmp.toString)
    val got = spark.read.parquet(tmp.toString).count()
    if (got != expected) {
      fs.delete(tmp, true)
      throw new java.io.IOException(
        s"deleteKeys: rewrite of $path has $got rows, expected $expected " +
          s"($total total - $hits key matches) — aborted, original untouched")
    }
    if (!fs.rename(root, bak))
      throw new java.io.IOException(s"deleteKeys: rename $path aside failed")
    if (!fs.rename(tmp, root)) {
      fs.rename(bak, root)
      throw new java.io.IOException(s"deleteKeys: publish of rewritten $path failed")
    }
    fs.delete(bak, true)
    (hits, expected)
  }

  // ------------------------------------------------------------------------
  // Z-order (Morton) data layout: multi-dimensional clustering for min/max
  // file pruning. Sorting 100 TB by ONE column makes that column's file
  // min/max ranges narrow and every other column's ranges full-width —
  // predicates on the second dimension prune nothing. Interleaving the bits
  // of two dimensions into one sort key bounds BOTH dimensions per file
  // (each file covers a z-curve segment ~ a small rectangle), which is how
  // lakehouse tables serve selective queries on two axes from one layout.
  // `ManifestStore.cluster` lays a table out on this key.
  // ------------------------------------------------------------------------

  /** Bit-interleaved Morton key of N >= 2 non-negative integer expressions:
    * bit `i` of column `j` lands at interleaved position `i*n + j` (so for
    * n=2 the first column occupies even bits, the second odd — the classic
    * 2-D key unchanged). Pure integer shift/mask column arithmetic —
    * codegen'd, deterministic, mirrored exactly by the SQL
    * `((x >> i) & 1) << (i*n + j)` form on any engine. `n * bits` must fit
    * a signed long; each column contributes its low `bits` bits, so cap or
    * bucket wider domains first (the z key only needs ORDER fidelity, not
    * full value fidelity).
    */
  def zOrderColumnN(cols: Seq[String], bits: Int = 16): org.apache.spark.sql.Column = {
    val n = cols.size
    require(n >= 2, "zOrderColumnN needs at least 2 columns")
    require(bits >= 1 && n * bits <= 63, s"n*bits = ${n * bits} must be in [2, 63]")
    expr((for { i <- 0 until bits; (c, j) <- cols.zipWithIndex } yield
      s"shiftleft(shiftright($c, $i) & 1, ${i * n + j})")
      .mkString("(", " + ", ")"))
  }
}

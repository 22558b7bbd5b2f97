package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

/** The dashboard/pipeline query library: every relational operator from
  * SURVEY.md §2 (operator ids in query names), transplanted onto the
  * driver-provided star schema (TESTDATA.md) and paired with a DuckDB oracle.
  *
  * Reference provenance is cited per query (file:line inside
  * `/root/reference/`). The HOW is Spark-first: declarative DataFrame plans so
  * Catalyst does pruning/pushdown, decimal-cast aggregation for bitwise
  * reproducibility, broadcast hints for dimension joins.
  *
  * Scale notes (100 TB design intent), applied throughout:
  *  - aggregates are partial-aggregation-friendly (sum/count/min/max/collect_set
  *    with bounded key domains) → map-side combine before shuffle;
  *  - joins on the fact table's key shuffle once; dimension joins broadcast;
  *  - no `collect()`-then-compute: every query is one lazy plan;
  *  - top-k via orderBy+limit → TakeOrderedAndProject (no global sort
  *    materialization).
  */
object RelationalQueries {

  import Tables._

  /** Exact, addition-order-independent SUM of a 2-decimal money column:
    * decimal accumulate, double result. Mirrors oracle
    * `CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE)`.
    */
  private def dsum(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    sum(c.cast(DecimalType(18, 2))).cast("double")

  val queries: Seq[Q] = Seq(
    // ----------------------------------------------------------------- scans
    Q(
      "s1_scan_project_filter",
      "Scan with projection+filter pushdown (extractor/main.go:716-779 $select/$where pushdown)",
      (s, d) =>
        lineitem(s, d)
          .where(col("l_shipdate") >= lit("1997-01-01").cast("timestamp"))
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
          .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag, COUNT(*) AS n,
             |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
             |FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-01-01'
             |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    ),
    Q(
      "o1_global_sort",
      "Stable global pagination order (extractor/main.go:732 $order=crash_date,crash_record_id)",
      (s, d) =>
        orders(s, d)
          .orderBy("o_orderdate", "o_orderkey")
          .select("o_orderkey", "o_orderdate", "o_totalprice")
          .limit(1000),
      Some("""SELECT o_orderkey, o_orderdate, o_totalprice FROM orders
             |ORDER BY o_orderdate, o_orderkey LIMIT 1000""".stripMargin)
    ),
    // --------------------------------------------------- projections/filters
    Q(
      "p3_predicate_range",
      "Half-open date-range predicate [start,end) (extractor/main.go:202-222 buildWhere)",
      (s, d) =>
        orders(s, d)
          .where(
            col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
              col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
          .groupBy(month(col("o_orderdate")).as("m"))
          .agg(count(lit(1)).as("n"))
          .orderBy("m"),
      Some("""SELECT CAST(EXTRACT(month FROM o_orderdate) AS INTEGER) AS m, COUNT(*) AS n
             |FROM orders
             |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
             |GROUP BY 1 ORDER BY m""".stripMargin)
    ),
    Q(
      "p5_keep_list_null_patch",
      "Keep-list projection + missing-column null patch (cleaner/cleaning_rules.py:31-51)",
      (s, d) =>
        orders(s, d)
          .select(
            col("o_orderkey"),
            col("o_orderstatus"),
            lit(null).cast("int").as("lane_cnt"))
          .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey, o_orderstatus, CAST(NULL AS INTEGER) AS lane_cnt
             |FROM orders ORDER BY o_orderkey""".stripMargin)
    ),
    Q(
      "p7_bbox_filter_nullsafe",
      "Bounding-box validity filter with null passthrough (cleaner/cleaning_rules.py:128-143; pandas NaN-comparison edge, SURVEY §7.4)",
      (s, d) =>
        events(s, d)
          .where(expr("NOT COALESCE(value = 0.0 OR value < 10.0 OR value > 190.0, FALSE)"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"))
          .orderBy("event_type"),
      Some("""SELECT event_type, COUNT(*) AS n FROM events
             |WHERE NOT COALESCE(value = 0.0 OR value < 10.0 OR value > 190.0, FALSE)
             |GROUP BY event_type ORDER BY event_type""".stripMargin)
    ),
    Q(
      "p9_quantile_outlier_filter",
      "Keep rows below the 0.95 quantile (streamlit_frontend.py:1365)",
      (s, d) => {
        val li = lineitem(s, d)
        // Scale-safe exact quantile: Spark's `percentile` buffers every value
        // in aggregation state (an executor-memory bomb at 100 TB), so the
        // threshold comes from ScaleOps.exactQuantile — iterative histogram
        // refinement, O(bins) executor state, O(log n) bounded passes, same
        // PERCENTILE_CONT interpolation bit-for-bit.
        val q95 = graft.ops.ScaleOps
          .exactQuantile(li, "l_extendedprice", 0.95)
          .getOrElse(Double.NaN)
        li.where(col("l_extendedprice") < lit(q95))
          .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      },
      Some("""SELECT COUNT(*) AS n,
             |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
             |FROM lineitem
             |WHERE l_extendedprice < (SELECT quantile_cont(l_extendedprice, 0.95) FROM lineitem)""".stripMargin)
    ),
    Q(
      "p12_deterministic_sample",
      "Capped pseudo-random sample, md5-ordered for determinism (streamlit_frontend.py:1308 df.sample(5000))",
      (s, d) =>
        orders(s, d)
          .orderBy(md5(col("o_orderkey").cast("string")), col("o_orderkey"))
          .limit(500)
          .select("o_orderkey", "o_totalprice")
          .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey, o_totalprice FROM
             |(SELECT * FROM orders ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey LIMIT 500)
             |ORDER BY o_orderkey""".stripMargin)
    ),
    // ------------------------------------------------------------------ joins
    Q(
      "j1_semi_join",
      "ID semi-join: the extractor's batched IN-list enrich fetch collapses to left_semi (extractor/main.go:654-683,781-812)",
      (s, d) =>
        customer(s, d)
          .join(orders(s, d), col("c_custkey") === col("o_custkey"), "left_semi")
          .select("c_custkey", "c_name")
          .orderBy("c_custkey"),
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
             |ORDER BY c_custkey""".stripMargin)
    ),
    Q(
      "j2_enrich_left_join",
      "Silver merge: fact left-join many-to-one rolled-up enrich aggregates (transformer/transformer.py:249-256)",
      (s, d) => {
        val liAgg = lineitem(s, d)
          .groupBy("l_orderkey")
          .agg(count(lit(1)).as("li_count"), dsum(col("l_quantity")).as("qty_sum"))
        orders(s, d)
          .join(liAgg, col("o_orderkey") === col("l_orderkey"), "left")
          .select(
            col("o_orderkey"),
            col("o_orderstatus"),
            coalesce(col("li_count"), lit(0L)).as("li_count"),
            coalesce(col("qty_sum"), lit(0.0)).as("qty_sum"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_orderstatus,
             |COALESCE(a.li_count, 0) AS li_count, COALESCE(a.qty_sum, 0.0) AS qty_sum
             |FROM orders LEFT JOIN (
             |  SELECT l_orderkey, COUNT(*) AS li_count,
             |         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty_sum
             |  FROM lineitem GROUP BY l_orderkey) a ON o_orderkey = a.l_orderkey
             |ORDER BY o_orderkey""".stripMargin)
    ),
    Q(
      "j4_join_of_aggregates",
      "Hourly totals left-join hourly subset counts, fillna(0) (streamlit_frontend.py:1137)",
      (s, d) => {
        val ev = events(s, d)
        val tot = ev.groupBy(hour(col("ts")).as("h")).agg(count(lit(1)).as("total"))
        val err = ev
          .where(col("event_type") === "error")
          .groupBy(hour(col("ts")).as("h"))
          .agg(count(lit(1)).as("errors"))
        tot
          .join(err, Seq("h"), "left")
          .na.fill(0L, Seq("errors"))
          .withColumn("err_rate", col("errors") * lit(100.0) / col("total"))
          .orderBy("h")
      },
      Some("""SELECT t.h AS h, t.total, COALESCE(e.errors, 0) AS errors,
             |COALESCE(e.errors, 0) * 100.0 / t.total AS err_rate
             |FROM (SELECT CAST(EXTRACT(hour FROM ts) AS INTEGER) AS h, COUNT(*) AS total FROM events GROUP BY 1) t
             |LEFT JOIN (SELECT CAST(EXTRACT(hour FROM ts) AS INTEGER) AS h, COUNT(*) AS errors FROM events
             |           WHERE event_type = 'error' GROUP BY 1) e ON t.h = e.h
             |ORDER BY t.h""".stripMargin)
    ),
    Q(
      "j5_upsert_anti_join",
      "Idempotent upsert: incoming-minus-existing left-anti, then append (cleaner/duckdb_writer.py:141-207 ON CONFLICT DO NOTHING)",
      (s, d) => {
        val o = orders(s, d)
        val existing = o.where(col("o_orderkey") % 3 === 0).select("o_orderkey")
        val incoming = o.where(col("o_orderkey") % 2 === 0)
        incoming
          .join(existing, Seq("o_orderkey"), "left_anti")
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("inserted"))
          .orderBy("o_orderstatus")
      },
      Some("""SELECT o_orderstatus, COUNT(*) AS inserted FROM orders i
             |WHERE i.o_orderkey % 2 = 0 AND NOT EXISTS (
             |  SELECT 1 FROM orders e WHERE e.o_orderkey % 3 = 0 AND e.o_orderkey = i.o_orderkey)
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
    ),
    // ----------------------------------------------------------- aggregations
    Q(
      "a1_many_to_one_rollup",
      "Many-to-one roll-up: per-key count + sorted distinct value list (transformer/transformer.py:207-219 implode)",
      (s, d) =>
        lineitem(s, d)
          .groupBy("l_orderkey")
          .agg(
            count(lit(1)).as("li_count"),
            concat_ws(",", sort_array(collect_set(col("l_returnflag")))).as("flags"))
          .orderBy("l_orderkey"),
      Some("""SELECT l_orderkey, COUNT(*) AS li_count,
             |array_to_string(list_sort(list_distinct(array_agg(l_returnflag))), ',') AS flags
             |FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin)
    ),
    Q(
      "a2_distinct",
      "Full-row distinct (transformer/transformer.py:205 unique)",
      (s, d) =>
        lineitem(s, d)
          .select("l_returnflag", "l_linestatus")
          .distinct()
          .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)
    ),
    Q(
      "a3_dedup_keep_first",
      "Deterministic keep-first-per-key dedup via row_number (transformer/transformer.py:258; SURVEY §7.4 determinism note)",
      (s, d) => {
        // (l_orderkey, l_linenumber) is not unique in the fixture — the
        // tiebreak must be a total order or "first" is engine-dependent
        // (SURVEY §7.4 determinism hazard).
        // r13 (guide §2.3 aggregate-before-shuffle): keep-first is an argmin
        // — min(struct(order keys..., payload)) per key through a partial-
        // aggregating hash agg (d1's argmax discipline), not a row_number
        // window: the map side reduces each partition to one row per key
        // BEFORE the exchange and nothing ever sorts the full table.
        // Identical rows: struct comparison IS the window's lexicographic
        // (l_linenumber, l_partkey, l_suppkey, l_extendedprice) order, with
        // l_quantity appended so even a hypothetical tie stays deterministic.
        lineitem(s, d)
          .groupBy("l_orderkey")
          .agg(min(struct(col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
            col("l_extendedprice"), col("l_quantity"))).as("__f"))
          .select(col("l_orderkey"), col("__f.l_linenumber"), col("__f.l_partkey"),
            col("__f.l_quantity"))
          .orderBy("l_orderkey")
      },
      Some("""SELECT l_orderkey, l_linenumber, l_partkey, l_quantity FROM (
             |  SELECT *, row_number() OVER (PARTITION BY l_orderkey
             |    ORDER BY l_linenumber, l_partkey, l_suppkey, l_extendedprice) AS rn
             |  FROM lineitem) WHERE rn = 1
             |ORDER BY l_orderkey""".stripMargin)
    ),
    Q(
      "a5_rate_by_group",
      "Grouped sum+count -> percentage rate, the dashboard workhorse (streamlit_frontend.py:1045-1074 hit-and-run rate by category)",
      (s, d) =>
        lineitem(s, d)
          .groupBy(year(col("l_shipdate")).as("y"))
          .agg(
            sum(when(col("l_returnflag") === "R", 1).otherwise(0)).as("returns"),
            count(lit(1)).as("n"))
          .withColumn("rate", col("returns") * lit(100.0) / col("n"))
          .orderBy("y"),
      // DuckDB integer SUM returns HUGEINT (int128); cast to BIGINT so the
      // driver's typed hash matches Spark's LongType (VERDICT r1 item 1).
      Some("""SELECT CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS y,
             |CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS returns,
             |COUNT(*) AS n,
             |CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) * 100.0 / COUNT(*) AS rate
             |FROM lineitem GROUP BY 1 ORDER BY y""".stripMargin)
    ),
    Q(
      "a6_group_size",
      "Group size counts (streamlit_frontend.py:1134-1135 groupby.size)",
      (s, d) =>
        events(s, d)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"))
          .orderBy("event_type"),
      Some("SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type ORDER BY event_type")
    ),
    Q(
      "a7_global_stats",
      "Global scalar aggregates: count/min/max/sum/avg (streamlit_frontend.py:455,960-963,1472-1475)",
      (s, d) =>
        orders(s, d).agg(
          count(lit(1)).as("n"),
          min(col("o_orderdate")).as("first_date"),
          max(col("o_orderdate")).as("last_date"),
          dsum(col("o_totalprice")).as("sum_price"),
          (dsum(col("o_totalprice")) / count(lit(1))).as("avg_price")),
      Some("""SELECT COUNT(*) AS n, MIN(o_orderdate) AS first_date, MAX(o_orderdate) AS last_date,
             |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
             |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price
             |FROM orders""".stripMargin)
    ),
    Q(
      "a8_run_stats_topk",
      "Per-key multi-aggregate ordered desc, top-10 (streamlit_frontend.py:1455-1461,1867-1879 run history)",
      (s, d) =>
        events(s, d)
          .groupBy("user_id")
          .agg(count(lit(1)).as("n"), min(col("ts")).as("started"), max(col("ts")).as("ended"))
          .orderBy(desc("ended"), col("user_id"))
          .limit(10),
      Some("""SELECT user_id, COUNT(*) AS n, MIN(ts) AS started, MAX(ts) AS ended
             |FROM events GROUP BY user_id ORDER BY ended DESC, user_id LIMIT 10""".stripMargin)
    ),
    Q(
      "a9_value_counts_topk",
      "Categorical frequency table top-k (streamlit_frontend.py:978,1276-1284 value_counts)",
      (s, d) =>
        part(s, d)
          .groupBy("p_brand")
          .agg(count(lit(1)).as("n"))
          .orderBy(desc("n"), col("p_brand"))
          .limit(5),
      Some("""SELECT p_brand, COUNT(*) AS n FROM part GROUP BY p_brand
             |ORDER BY n DESC, p_brand LIMIT 5""".stripMargin)
    ),
    Q(
      "a11_median",
      "Exact interpolating median per group (cleaner/cleaning_rules.py:198-202 median imputation statistic), via ScaleOps.exactQuantileByGroup — histogram-refinement passes with O(bins) executor state instead of percentile's buffer-everything aggregation",
      (s, d) => {
        val meds = graft.ops.ScaleOps
          .exactQuantileByGroup(lineitem(s, d), "l_linestatus", "l_quantity", 0.5)
        s.createDataFrame(meds.toSeq.sortBy(_._1))
          .toDF("l_linestatus", "med_qty")
          .orderBy("l_linestatus")
      },
      Some("""SELECT l_linestatus, quantile_cont(l_quantity, 0.5) AS med_qty
             |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin)
    ),
    Q(
      "a18_deciles",
      "Exact decile profile of a measure (the describe()-style summary a data audit runs): nine quantiles of one column via ScaleOps.exactQuantilesOfColumn — every decile shares each histogram-refinement pass, so the profile costs one scan per round with O(bins) state, never nine buffer-everything percentiles",
      (s, d) => {
        val qs = (1 to 9).map(_ / 10.0)
        val deciles = graft.ops.ScaleOps
          .exactQuantilesOfColumn(lineitem(s, d), "l_extendedprice", qs)
        s.createDataFrame(deciles.toSeq.sortBy(_._1))
          .toDF("q", "value")
          .orderBy("q")
      },
      Some((1 to 9)
        .map(i => s"SELECT CAST(0.$i AS DOUBLE) AS q, quantile_cont(l_extendedprice, 0.$i) AS value FROM lineitem")
        .mkString("", "\nUNION ALL ", "\nORDER BY q"))
    ),
    Q(
      "a12_correlation",
      "Pearson correlation via exact decimal co-moments (streamlit_frontend.py:1400-1406 corr matrix)",
      (s, d) => {
        val li = lineitem(s, d)
        val comps = li.agg(
          count(lit(1)).cast("double").as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sx"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast("double").as("sy"),
          sum(col("l_quantity").cast(DecimalType(9, 2)) * col("l_quantity").cast(DecimalType(9, 2)))
            .cast("double").as("sxx"),
          sum(col("l_extendedprice").cast(DecimalType(12, 2)) * col("l_extendedprice").cast(DecimalType(12, 2)))
            .cast("double").as("syy"),
          sum(col("l_quantity").cast(DecimalType(9, 2)) * col("l_extendedprice").cast(DecimalType(12, 2)))
            .cast("double").as("sxy"))
        // Rounded to 9 decimals: beyond ~2^53 the decimal->double conversion
        // itself differs between engines (DuckDB converts int128 then
        // divides — two roundings; Java BigDecimal rounds once), so the last
        // 1-2 ulps of the raw correlation are not meaningful at sf >= 0.1.
        comps.select(
          expr("round((n * sxy - sx * sy) / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 9)").as("corr_qty_price"))
      },
      Some("""WITH c AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(9,2)) * CAST(l_quantity AS DECIMAL(9,2))) AS DOUBLE) AS sxx,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS syy,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(9,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sxy
             |  FROM lineitem)
             |SELECT round((n * sxy - sx * sy) / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 9) AS corr_qty_price
             |FROM c""".stripMargin)
    ),
    Q(
      "a13_duplicate_keys",
      "Integrity: keys appearing more than once (cleaner/duckdb_writer.py:246-251)",
      (s, d) =>
        lineitem(s, d)
          .groupBy("l_orderkey")
          .agg(count(lit(1)).as("cnt"))
          .where(col("cnt") > 1)
          .agg(count(lit(1)).as("dup_keys"), sum(col("cnt")).as("dup_rows")),
      Some("""SELECT COUNT(*) AS dup_keys, CAST(SUM(cnt) AS BIGINT) AS dup_rows FROM (
             |  SELECT l_orderkey, COUNT(*) AS cnt FROM lineitem GROUP BY l_orderkey HAVING COUNT(*) > 1)""".stripMargin)
    ),
    Q(
      "a14_null_pk_check",
      "Integrity: null primary keys (cleaner/duckdb_writer.py:262-264)",
      (s, d) =>
        orders(s, d)
          .where(col("o_orderkey").isNull)
          .agg(count(lit(1)).as("null_pks")),
      Some("SELECT COUNT(*) AS null_pks FROM orders WHERE o_orderkey IS NULL")
    ),
    Q(
      "a17_ud3_scoring_confusion",
      "Linear-model scoring at threshold + confusion-matrix aggregation (streamlit_frontend.py:2282-2287,2354-2365; logit-space threshold avoids exp for bitwise determinism)",
      (s, d) =>
        lineitem(s, d)
          .select(
            when(col("l_returnflag") === "R", 1).otherwise(0).as("label"),
            when(
              expr("-0.08 * l_quantity + 12.0 * l_discount + -6.0 * l_tax + 1.2") >=
                lit(-1.0459685551826876),
              1).otherwise(0).as("pred"))
          .groupBy("label", "pred")
          .agg(count(lit(1)).as("n"))
          .orderBy("label", "pred"),
      Some("""SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS label,
             |CASE WHEN -0.08 * l_quantity + 12.0 * l_discount + -6.0 * l_tax + 1.2 >= -1.0459685551826876
             |     THEN 1 ELSE 0 END AS pred,
             |COUNT(*) AS n
             |FROM lineitem GROUP BY 1, 2 ORDER BY label, pred""".stripMargin)
    ),
    // ------------------------------------------------------- windows / top-k
    Q(
      "w1_latest_per_key",
      "Latest-run-per-key (streamlit_frontend.py:1455-1461) as a bounded argmax aggregation: max of a (ts, event_id, payload) struct per key — partial aggregation keeps ONE row per key per partition before the shuffle, where the reference's ranking-window form would sort a hot key's whole history in one task. (ts, event_id) is unique per user, so the trailing payload field never decides the comparison",
      (s, d) =>
        events(s, d)
          .groupBy("user_id")
          .agg(max(struct(col("ts"), col("event_id"), col("event_type"))).as("m"))
          .selectExpr("user_id", "m.event_id AS event_id", "m.event_type AS event_type")
          .orderBy("user_id"),
      Some("""SELECT user_id, event_id, event_type FROM (
             |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
             |  FROM events) WHERE rn = 1 ORDER BY user_id""".stripMargin)
    ),
    Q(
      "w3_running_sum",
      "Running per-key cumulative sum window frame (capability beyond reference; SURVEY §2.5)",
      (s, d) => {
        // Total frame order: (orderkey, linenumber) alone is non-unique in the
        // fixture, which would make the running prefix engine-dependent.
        val w = Window
          .partitionBy("l_suppkey")
          .orderBy("l_shipdate", "l_orderkey", "l_linenumber", "l_partkey", "l_extendedprice")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        lineitem(s, d)
          .withColumn("running_qty", sum(col("l_quantity").cast(DecimalType(18, 2))).over(w).cast("double"))
          .select("l_suppkey", "l_orderkey", "l_linenumber", "l_partkey", "l_extendedprice", "running_qty")
          .orderBy("l_suppkey", "l_shipdate", "l_orderkey", "l_linenumber", "l_partkey", "l_extendedprice")
      },
      Some("""SELECT l_suppkey, l_orderkey, l_linenumber, l_partkey, l_extendedprice,
             |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (
             |  PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber, l_partkey, l_extendedprice
             |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_qty
             |FROM lineitem
             |ORDER BY l_suppkey, l_shipdate, l_orderkey, l_linenumber, l_partkey, l_extendedprice""".stripMargin)
    ),
    Q(
      "o2_topk_ordered",
      "Top-k by measure desc with deterministic tiebreak -> TakeOrderedAndProject (streamlit_frontend.py:1455-1461 LIMIT 10)",
      (s, d) =>
        orders(s, d)
          .orderBy(desc("o_totalprice"), col("o_orderkey"))
          .select("o_orderkey", "o_totalprice", "o_orderstatus")
          .limit(10),
      Some("""SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
             |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin)
    ),
    Q(
      "o4_p8_range_limit_preview",
      "Date-range + row-limit preview query (streamlit_frontend.py:2132-2137)",
      (s, d) =>
        orders(s, d)
          .where(
            col("o_orderdate") >= lit("1998-01-01").cast("timestamp") &&
              col("o_orderdate") <= lit("1998-12-31").cast("timestamp"))
          .orderBy("o_orderkey")
          .select("o_orderkey", "o_orderdate", "o_orderstatus", "o_totalprice")
          .limit(100),
      Some("""SELECT o_orderkey, o_orderdate, o_orderstatus, o_totalprice FROM orders
             |WHERE o_orderdate BETWEEN TIMESTAMP '1998-01-01' AND TIMESTAMP '1998-12-31'
             |ORDER BY o_orderkey LIMIT 100""".stripMargin)
    ),
    // -------------------------------------------------------------- set ops
    Q(
      "u1_union_distinct",
      "Union-all of sources then grouped distinct count (transformer/transformer.py:194-199 page concat + dedup)",
      (s, d) => {
        val sup = supplier(s, d).select(col("s_nationkey").as("nk"))
        val cus = customer(s, d).select(col("c_nationkey").as("nk"))
        sup
          .unionByName(cus)
          .join(broadcast(nation(s, d)), col("nk") === col("n_nationkey"))
          .groupBy("n_name")
          .agg(count(lit(1)).as("n"))
          .orderBy("n_name")
      },
      Some("""SELECT n_name, COUNT(*) AS n FROM (
             |  SELECT s_nationkey AS nk FROM supplier
             |  UNION ALL SELECT c_nationkey AS nk FROM customer) u
             |JOIN nation ON nk = n_nationkey GROUP BY n_name ORDER BY n_name""".stripMargin)
    ),
    // ---------------------------------------------------------- scalar funcs
    Q(
      "f2_bool_standardize",
      "Boolean standardization with the reference-exact whitelist: Y/yes/true/t/1/1.0 -> 1, everything else (incl. 'f' and null) -> 0 (cleaner/cleaning_rules.py:57-88). Input variety is synthesized from o_orderkey so every branch — mixed-case truthy, padded truthy, falsy 'f', null — is exercised",
      (s, d) =>
        orders(s, d)
          .withColumn("raw", expr(
            "CASE CAST(o_orderkey % 6 AS INT) WHEN 0 THEN 'Y' WHEN 1 THEN 'yes' " +
              "WHEN 2 THEN ' TRUE ' WHEN 3 THEN '1.0' WHEN 4 THEN 'f' ELSE NULL END"))
          .withColumn("flag", graft.gold.Cleaner.standardizeBoolean(col("raw")))
          .groupBy("raw", "flag")
          .agg(count(lit(1)).as("n"))
          .orderBy(asc_nulls_first("raw")),
      Some("""WITH r AS (SELECT CASE CAST(o_orderkey % 6 AS INTEGER)
             |  WHEN 0 THEN 'Y' WHEN 1 THEN 'yes' WHEN 2 THEN ' TRUE '
             |  WHEN 3 THEN '1.0' WHEN 4 THEN 'f' ELSE NULL END AS raw FROM orders)
             |SELECT raw,
             |CASE WHEN lower(trim(raw)) IN ('y','yes','true','t','1','1.0') THEN 1 ELSE 0 END AS flag,
             |COUNT(*) AS n FROM r GROUP BY 1, 2 ORDER BY raw NULLS FIRST""".stripMargin)
    ),
    Q(
      "f4_hour_bin",
      "Chained-when hour binning night/morning/afternoon/evening (cleaner/cleaning_rules.py:100-112)",
      (s, d) =>
        events(s, d)
          .withColumn("h", hour(col("ts")))
          .withColumn(
            "hour_bin",
            when(col("h") <= 6, "night")
              .when(col("h") <= 12, "morning")
              .when(col("h") <= 18, "afternoon")
              .when(col("h") <= 23, "evening")
              .otherwise(lit(null).cast("string")))
          .groupBy("hour_bin")
          .agg(count(lit(1)).as("n"))
          .orderBy("hour_bin"),
      Some("""SELECT CASE WHEN EXTRACT(hour FROM ts) <= 6 THEN 'night'
             |            WHEN EXTRACT(hour FROM ts) <= 12 THEN 'morning'
             |            WHEN EXTRACT(hour FROM ts) <= 18 THEN 'afternoon'
             |            WHEN EXTRACT(hour FROM ts) <= 23 THEN 'evening' END AS hour_bin,
             |COUNT(*) AS n FROM events GROUP BY 1 ORDER BY hour_bin""".stripMargin)
    ),
    Q(
      "f6_f7_grid_id",
      "Round-to-bin + decimal-canonical string concat grid id (cleaner/cleaning_rules.py:146-150; SURVEY §7.4 float-format hazard)",
      (s, d) =>
        events(s, d)
          .withColumn("vbin", round(col("value"), 0).cast(DecimalType(6, 1)))
          .withColumn("h", hour(col("ts")))
          .withColumn("grid_id", concat_ws("_", col("vbin").cast("string"), col("h").cast("string")))
          .groupBy("grid_id")
          .agg(count(lit(1)).as("n"))
          .orderBy("grid_id"),
      Some("""SELECT CAST(CAST(round(value, 0) AS DECIMAL(6,1)) AS VARCHAR) || '_' ||
             |CAST(CAST(EXTRACT(hour FROM ts) AS INTEGER) AS VARCHAR) AS grid_id,
             |COUNT(*) AS n FROM events GROUP BY 1 ORDER BY grid_id""".stripMargin)
    ),
    Q(
      "f11_binning",
      "Numeric range binning into labels (streamlit_frontend.py:1041-1043 pd.cut speed bins)",
      (s, d) =>
        orders(s, d)
          .withColumn(
            "price_bin",
            when(col("o_totalprice") <= 50000, "0-50k")
              .when(col("o_totalprice") <= 100000, "50-100k")
              .when(col("o_totalprice") <= 200000, "100-200k")
              .when(col("o_totalprice") <= 300000, "200-300k")
              .otherwise("300k+"))
          .groupBy("price_bin")
          .agg(count(lit(1)).as("n"))
          .orderBy("price_bin"),
      Some("""SELECT CASE WHEN o_totalprice <= 50000 THEN '0-50k'
             |            WHEN o_totalprice <= 100000 THEN '50-100k'
             |            WHEN o_totalprice <= 200000 THEN '100-200k'
             |            WHEN o_totalprice <= 300000 THEN '200-300k'
             |            ELSE '300k+' END AS price_bin,
             |COUNT(*) AS n FROM orders GROUP BY 1 ORDER BY price_bin""".stripMargin)
    ),
    Q(
      "f17_pivot",
      "Pivot crosstab hour x category (streamlit_frontend.py:1223,1252)",
      (s, d) =>
        events(s, d)
          .groupBy(hour(col("ts")).as("h"))
          .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
          .agg(count(lit(1)))
          .na.fill(0L, Seq("click", "error", "purchase", "signup", "view"))
          .orderBy("h"),
      Some("""SELECT CAST(EXTRACT(hour FROM ts) AS INTEGER) AS h,
             |CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
             |CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
             |CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
             |CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
             |CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
             |FROM events GROUP BY 1 ORDER BY h""".stripMargin)
    ),
    Q(
      "f19_pct_of_total",
      "Percent-of-total via window-free scalar join (streamlit_frontend.py:942,982,1049)",
      (s, d) => {
        val ev = events(s, d)
        val counts = ev.groupBy("event_type").agg(count(lit(1)).as("n"))
        val total = ev.agg(count(lit(1)).as("total"))
        counts
          .join(broadcast(total))
          .withColumn("pct", col("n") * lit(100.0) / col("total"))
          .select("event_type", "n", "pct")
          .orderBy("event_type")
      },
      Some("""SELECT event_type, COUNT(*) AS n,
             |COUNT(*) * 100.0 / (SELECT COUNT(*) FROM events) AS pct
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)
    ),
    Q(
      "f5_f16_date_parse_extract",
      "String->timestamp round-trip parse + year extraction (cleaner/cleaning_rules.py:119; extractor/main.go:476-487)",
      (s, d) =>
        orders(s, d)
          .withColumn("dstr", col("o_orderdate").cast("string"))
          .withColumn("parsed", to_timestamp(col("dstr")))
          .groupBy(year(col("parsed")).as("y"))
          .agg(count(lit(1)).as("n"), max(col("parsed")).as("max_d"))
          .orderBy("y"),
      Some("""SELECT CAST(EXTRACT(year FROM CAST(CAST(o_orderdate AS VARCHAR) AS TIMESTAMP)) AS INTEGER) AS y,
             |COUNT(*) AS n, MAX(CAST(CAST(o_orderdate AS VARCHAR) AS TIMESTAMP)) AS max_d
             |FROM orders GROUP BY 1 ORDER BY y""".stripMargin)
    ),
    Q(
      "f13_nested_to_json",
      "Nested list column -> JSON string serialization (transformer/transformer.py:263-305 make_csv_safe)",
      (s, d) =>
        lineitem(s, d)
          .groupBy("l_orderkey")
          .agg(to_json(sort_array(collect_set(col("l_linestatus")))).as("status_json"))
          .orderBy("l_orderkey"),
      Some("""SELECT l_orderkey,
             |CAST(to_json(list_sort(list_distinct(array_agg(l_linestatus)))) AS VARCHAR) AS status_json
             |FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin)
    ),
    Q(
      "f15_fingerprint",
      "Deterministic query/row fingerprint hash (extractor/main.go:501-513 sha1 marker key; md5 here, both engines)",
      (s, d) =>
        orders(s, d)
          .withColumn(
            "fp",
            substring(
              md5(concat_ws("|", col("o_orderkey").cast("string"), col("o_orderstatus"))),
              1,
              12))
          .select("o_orderkey", "fp")
          .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey,
             |substring(md5(CAST(o_orderkey AS VARCHAR) || '|' || o_orderstatus), 1, 12) AS fp
             |FROM orders ORDER BY o_orderkey""".stripMargin)
    ),
    Q(
      "a10_distinct_count",
      "Distinct-count of partitions/runs (streamlit_frontend.py:1499-1507: count distinct corr over the file index)",
      (s, d) =>
        events(s, d)
          .groupBy("event_type")
          .agg(
            countDistinct(col("user_id")).as("distinct_users"),
            count(lit(1)).as("n"))
          .orderBy("event_type"),
      Some("""SELECT event_type, COUNT(DISTINCT user_id) AS distinct_users, COUNT(*) AS n
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)
    ),
    Q(
      "f12_value_remap",
      "Map-literal value remapping 0/1 -> No/Yes, day number -> name (streamlit_frontend.py:1015,1174-1176; engine convention 1=Sun..7=Sat per SURVEY §7.4)",
      (s, d) =>
        events(s, d)
          .withColumn("dow", dayofweek(col("ts")))
          .withColumn("day_name",
            element_at(
              map(
                lit(1), lit("Sun"), lit(2), lit("Mon"), lit(3), lit("Tue"),
                lit(4), lit("Wed"), lit(5), lit("Thu"), lit(6), lit("Fri"),
                lit(7), lit("Sat")),
              col("dow")))
          .groupBy("dow", "day_name")
          .agg(count(lit(1)).as("n"))
          .orderBy("dow"),
      Some("""SELECT CAST(dayofweek(ts) + 1 AS INTEGER) AS dow,
             |CASE CAST(dayofweek(ts) + 1 AS INTEGER)
             |  WHEN 1 THEN 'Sun' WHEN 2 THEN 'Mon' WHEN 3 THEN 'Tue' WHEN 4 THEN 'Wed'
             |  WHEN 5 THEN 'Thu' WHEN 6 THEN 'Fri' WHEN 7 THEN 'Sat' END AS day_name,
             |COUNT(*) AS n FROM events GROUP BY 1, 2 ORDER BY dow""".stripMargin)
    ),
    Q(
      "f18_histogram",
      "Fixed-width histogram binning, 20 buckets (streamlit_frontend.py:1017-1027,2437-2443 plotly nbins)",
      (s, d) =>
        lineitem(s, d)
          .withColumn("bucket", floor(col("l_extendedprice") / 5000).cast("long"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n"))
          .orderBy("bucket"),
      Some("""SELECT CAST(floor(l_extendedprice / 5000) AS BIGINT) AS bucket, COUNT(*) AS n
             |FROM lineitem GROUP BY 1 ORDER BY bucket""".stripMargin)
    ),
    Q(
      "f8_f9_f10_clean_chain",
      "Composite Gold cleaning chain, oracle-gated end to end: F8 whitelist recode incl. snow pre-map (null/off-list -> OTHER), F9 exact-median + categorical imputation, F10 cap — over a deterministic synthetic frame derived from orders (cleaner/cleaning_rules.py:153-222; behavior pinned by cleaner/testing.ipynb)",
      (s, d) => {
        // Deterministic raw frame: weather strings cycling through on-list,
        // snow-family, off-list and NULL values; a direction column with
        // planted nulls (F9 categorical fill); a speed column with planted
        // nulls (F9 exact-median impute) feeding the F10 cap.
        val raw = orders(s, d).selectExpr(
          """CASE CAST(o_orderkey % 11 AS INT)
            |  WHEN 0 THEN 'clear' WHEN 1 THEN 'Rain' WHEN 2 THEN 'SNOW'
            |  WHEN 3 THEN 'blowing snow' WHEN 4 THEN 'sleet/hail'
            |  WHEN 5 THEN 'freezing rain/drizzle' WHEN 6 THEN 'cloudy/overcast'
            |  WHEN 7 THEN 'fog' WHEN 8 THEN NULL
            |  ELSE 'severe cross wind' END AS weather_raw""".stripMargin,
          """CASE WHEN o_orderkey % 4 = 2 THEN NULL WHEN o_orderkey % 4 = 0 THEN 'N'
            |     WHEN o_orderkey % 4 = 1 THEN 'S' ELSE 'E' END AS dir_raw""".stripMargin,
          """CASE WHEN o_orderkey % 5 = 0 THEN CAST(NULL AS DOUBLE)
            |     ELSE CAST(o_orderkey % 120 AS DOUBLE) END AS speed_raw""".stripMargin)
        val recoded = raw
          .withColumn("weather", graft.gold.Cleaner.weatherRecode(col("weather_raw")))
          .withColumn("dir", coalesce(col("dir_raw"), lit("OTHER")))
        // Exact interpolating median via ScaleOps.exactQuantile (histogram
        // refinement, O(bins) state — bitwise-equal to percentile/
        // quantile_cont, ScaleOpsSpec) injected as a literal: the last
        // buffer-everything `percentile` agg is gone from the registry.
        val med = graft.ops.ScaleOps.exactQuantile(recoded, "speed_raw", 0.5)
          .getOrElse(Double.NaN)
        recoded
          .withColumn("speed", least(coalesce(col("speed_raw"), lit(med)), lit(75.0)))
          .groupBy("weather", "dir")
          .agg(count(lit(1)).as("n"), dsum(col("speed")).as("sum_speed"))
          .orderBy("weather", "dir")
      },
      Some("""WITH raw AS (
             |  SELECT
             |    CASE CAST(o_orderkey % 11 AS INTEGER)
             |      WHEN 0 THEN 'clear' WHEN 1 THEN 'Rain' WHEN 2 THEN 'SNOW'
             |      WHEN 3 THEN 'blowing snow' WHEN 4 THEN 'sleet/hail'
             |      WHEN 5 THEN 'freezing rain/drizzle' WHEN 6 THEN 'cloudy/overcast'
             |      WHEN 7 THEN 'fog' WHEN 8 THEN NULL
             |      ELSE 'severe cross wind' END AS weather_raw,
             |    CASE WHEN o_orderkey % 4 = 2 THEN NULL WHEN o_orderkey % 4 = 0 THEN 'N'
             |         WHEN o_orderkey % 4 = 1 THEN 'S' ELSE 'E' END AS dir_raw,
             |    CASE WHEN o_orderkey % 5 = 0 THEN CAST(NULL AS DOUBLE)
             |         ELSE CAST(o_orderkey % 120 AS DOUBLE) END AS speed_raw
             |  FROM orders),
             |rec AS (
             |  SELECT *,
             |    CASE WHEN snow_mapped IN ('CLOUDY/OVERCAST','CLEAR','RAIN','SNOW')
             |         THEN snow_mapped ELSE 'OTHER' END AS weather,
             |    COALESCE(dir_raw, 'OTHER') AS dir
             |  FROM (SELECT *,
             |    CASE WHEN upper(weather_raw) IN ('SNOW','BLOWING SNOW','SLEET/HAIL','FREEZING RAIN/DRIZZLE')
             |         THEN 'SNOW' ELSE upper(weather_raw) END AS snow_mapped FROM raw)),
             |med AS (SELECT quantile_cont(speed_raw, 0.5) AS med FROM rec)
             |SELECT weather, dir, COUNT(*) AS n,
             |  CAST(SUM(CAST(least(COALESCE(speed_raw, med), 75.0) AS DECIMAL(18,2))) AS DOUBLE) AS sum_speed
             |FROM rec, med
             |GROUP BY weather, dir ORDER BY weather, dir""".stripMargin)
    ),
    // --------------------------------------------- beyond-reference capabilities
    Q(
      "st2_sessionize",
      "Sessionization: split each user's event stream at >30min gaps via lag + cumulative flag sum; per-user session stats (capability beyond the reference, the batch form of streaming session windows)",
      (s, d) =>
        events(s, d)
          .selectExpr("user_id", "event_id", "ts",
            "CASE WHEN ts > lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) + INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_sess")
          .selectExpr("user_id", "ts",
            "sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sess_id")
          .groupBy("user_id")
          .agg(
            (max(col("sess_id")) + 1).as("sessions"),
            count(lit(1)).as("events"))
          .orderBy("user_id"),
      Some("""WITH flagged AS (
             |  SELECT user_id, event_id, ts,
             |    CASE WHEN ts > lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) + INTERVAL 30 MINUTE
             |         THEN 1 ELSE 0 END AS new_sess
             |  FROM events),
             |sess AS (
             |  SELECT user_id, ts,
             |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sess_id
             |  FROM flagged)
             |SELECT user_id, CAST(max(sess_id) + 1 AS BIGINT) AS sessions, COUNT(*) AS events
             |FROM sess GROUP BY user_id ORDER BY user_id""".stripMargin)
    ),
    Q(
      "f20_cube",
      "CUBE grouping sets over two dimensions with grouping() markers (capability beyond the reference: multi-level subtotal aggregation in one pass)",
      (s, d) =>
        lineitem(s, d)
          .cube("l_returnflag", "l_linestatus")
          .agg(
            count(lit(1)).as("n"),
            dsum(col("l_quantity")).as("sum_qty"),
            grouping(col("l_returnflag")).as("g_flag"),
            grouping(col("l_linestatus")).as("g_status"))
          .orderBy(col("g_flag"), col("g_status"), col("l_returnflag"), col("l_linestatus")),
      Some("""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
             |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             |CAST(GROUPING(l_returnflag) AS TINYINT) AS g_flag,
             |CAST(GROUPING(l_linestatus) AS TINYINT) AS g_status
             |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
             |ORDER BY g_flag, g_status, l_returnflag, l_linestatus""".stripMargin)
    ),
    Q(
      "w4_asof_last_event",
      "As-of semantics: each error event matched to the user's latest PRIOR click (last_value IGNORE NULLS over a trailing frame); click-to-error latency per user (capability beyond the reference)",
      (s, d) =>
        events(s, d)
          .selectExpr("user_id", "event_id", "event_type", "ts",
            """last_value(CASE WHEN event_type = 'click' THEN ts END) IGNORE NULLS OVER (
              |  PARTITION BY user_id ORDER BY ts, event_id
              |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_click""".stripMargin)
          .where(col("event_type") === "error" && col("prior_click").isNotNull)
          .groupBy("user_id")
          .agg(
            count(lit(1)).as("errors_after_click"),
            sum(expr("unix_micros(ts) - unix_micros(prior_click)")).as("total_latency_us"))
          .orderBy("user_id"),
      Some("""WITH m AS (
             |  SELECT user_id, event_type, ts,
             |    last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS) OVER (
             |      PARTITION BY user_id ORDER BY ts, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_click
             |  FROM events)
             |SELECT user_id, COUNT(*) AS errors_after_click,
             |CAST(SUM(epoch_us(ts) - epoch_us(prior_click)) AS BIGINT) AS total_latency_us
             |FROM m WHERE event_type = 'error' AND prior_click IS NOT NULL
             |GROUP BY user_id ORDER BY user_id""".stripMargin)
    ),
    Q(
      "w5_funnel",
      "Windowed strict funnel (view -> click -> signup -> purchase, each step within 24h of the previous — the windowFunnel semantics of large event pipelines): per user, each step's earliest timestamp strictly after the previous step's and inside its deadline. Not a Window expression and not a per-user sequence scan: each step is one filtered co-partitioned join + min-ts aggregation, so per-user state is ONE timestamp per step and the events table shuffles on user_id once (the step frames reuse the partitioning; SHUFFLE_HASH pinned — a step frame has user cardinality and must never broadcast). Deadline arithmetic is exact microsecond timestamp comparison on both engines; the 4-row summary computes conversion ratios from exact BIGINT counts; capability beyond the reference",
      (s, d) => {
        val ev = events(s, d).select(col("user_id"), col("event_type"), col("ts"))
        def next(prev: org.apache.spark.sql.DataFrame, typ: String) =
          ev.where(col("event_type") === typ)
            .join(prev.select(col("user_id"), col("t").as("pt")).hint("merge"),
              Seq("user_id"))
            .where(col("ts") > col("pt") && col("ts") <= expr("pt + INTERVAL 24 HOURS"))
            .groupBy("user_id").agg(min("ts").as("t"))
        val s1 = ev.where(col("event_type") === "view")
          .groupBy("user_id").agg(min("ts").as("t"))
        val s2 = next(s1, "click")
        val s3 = next(s2, "signup")
        val s4 = next(s3, "purchase")
        val counts = Seq(("1_view", s1), ("2_click", s2), ("3_signup", s3), ("4_purchase", s4))
          .map { case (nm, df) =>
            df.agg(count(lit(1)).cast("long").as("users")).select(lit(nm).as("step"), col("users"))
          }
          .reduce(_ unionByName _)
          .withColumn("idx", expr("CAST(substring(step, 1, 1) AS INT)"))
        val first = counts.where(col("idx") === 1).select(col("users").as("u1"))
        val prevC = counts.select((col("idx") + 1).as("idx"), col("users").as("uprev"))
        counts
          .join(broadcast(first))
          .join(broadcast(prevC), Seq("idx"), "left")
          .select(col("step"), col("users"),
            when(col("u1") > 0, col("users").cast("double") / col("u1").cast("double"))
              .otherwise(lit(0.0)).as("pct_of_first"),
            when(col("uprev") > 0, col("users").cast("double") / col("uprev").cast("double"))
              .otherwise(lit(1.0)).as("pct_of_prev"))
          .orderBy("step")
      },
      Some("""WITH s1 AS (SELECT user_id, min(ts) AS t FROM events WHERE event_type = 'view' GROUP BY user_id),
             |s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s1 ON e.user_id = s1.user_id
             |  WHERE e.event_type = 'click' AND e.ts > s1.t AND e.ts <= s1.t + INTERVAL 24 HOUR GROUP BY e.user_id),
             |s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s2 ON e.user_id = s2.user_id
             |  WHERE e.event_type = 'signup' AND e.ts > s2.t AND e.ts <= s2.t + INTERVAL 24 HOUR GROUP BY e.user_id),
             |s4 AS (SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s3 ON e.user_id = s3.user_id
             |  WHERE e.event_type = 'purchase' AND e.ts > s3.t AND e.ts <= s3.t + INTERVAL 24 HOUR GROUP BY e.user_id),
             |c AS (
             |  SELECT 1 AS idx, '1_view' AS step, COUNT(*) AS users FROM s1
             |  UNION ALL SELECT 2, '2_click', COUNT(*) FROM s2
             |  UNION ALL SELECT 3, '3_signup', COUNT(*) FROM s3
             |  UNION ALL SELECT 4, '4_purchase', COUNT(*) FROM s4)
             |SELECT c.step AS step, CAST(c.users AS BIGINT) AS users,
             |  CASE WHEN (SELECT users FROM c c1 WHERE c1.idx = 1) > 0
             |    THEN CAST(c.users AS DOUBLE) / (SELECT users FROM c c1 WHERE c1.idx = 1)
             |    ELSE 0.0 END AS pct_of_first,
             |  CASE WHEN p.users IS NOT NULL AND p.users > 0
             |    THEN CAST(c.users AS DOUBLE) / p.users ELSE 1.0 END AS pct_of_prev
             |FROM c LEFT JOIN c p ON p.idx = c.idx - 1
             |ORDER BY step""".stripMargin)
    ),
    // ----------------------------------------------------- streaming (batch analog)
    Q(
      "st1_tumbling_window",
      "Event-time tumbling 1h window aggregate — batch analog of the incremental watermark flow (extractor/main.go:583-599)",
      (s, d) =>
        events(s, d)
          .groupBy(date_trunc("hour", col("ts")).as("win"), col("event_type"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
          .orderBy("win", "event_type"),
      Some("""SELECT date_trunc('hour', ts) AS win, event_type, COUNT(*) AS n,
             |CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
             |FROM events GROUP BY 1, 2 ORDER BY win, event_type""".stripMargin)
    ),
    // ----------------------------------------------- round-7: interval / skew joins
    Q(
      "j6_interval_join",
      "Bucketed interval (range) join: per-user-per-day activity windows " +
        "[min ts, max ts] probed by every OTHER user's events; count of " +
        "foreign events inside each user's windows. Spark has no native " +
        "range-join operator — a raw `ts BETWEEN s AND e` predicate plans as " +
        "BroadcastNestedLoopJoin (O(n*m) compares, the classic 100 TB " +
        "killer). The scale shape: quantize time into fixed 1h buckets, " +
        "explode each interval to the buckets it spans (replication = " +
        "len/bucket + 1, bounded because the windows are intraday), tag each " +
        "probe event with its single bucket, equi-join on the bucket key " +
        "(shuffles, partial-agg-friendly) and refine with the exact BETWEEN " +
        "predicate. An event's bucket is unique, so no pair dedup is needed. " +
        "Plan-pinned BNLJ-free (PlanAuditSpec)",
      (s, d) => {
        // r13 negative result, kept for the record: decomposing this into
        // per-bucket COUNT legs (whole-bucket counts for strictly-interior
        // buckets + exact endpoint refine + own-event subtraction, unioned
        // into one partial-agg) removed the pair enumeration but measured
        // WORSE at the sf1 decade (2.7 -> 4.6 s probe, 13 cpu-s: three
        // event-stream sort/exchange legs replace one). In this data family
        // temporal density is constant, so overlap-pair volume scales
        // LINEARLY and enumerating pairs through one codegen'd equi-join is
        // the cheapest total work; the count decomposition only wins when
        // per-bucket density grows with the corpus.
        val ev = events(s, d).select(col("user_id").as("ev_user"), col("ts"))
        val iv = events(s, d)
          .groupBy(col("user_id").as("iv_user"), date_trunc("day", col("ts")).as("day"))
          .agg(min("ts").as("s_ts"), max("ts").as("e_ts"))
          .withColumn("bkt", explode(sequence(
            expr("unix_micros(s_ts) div 3600000000"),
            expr("unix_micros(e_ts) div 3600000000"))))
        ev.withColumn("bkt", expr("unix_micros(ts) div 3600000000"))
          .join(iv, Seq("bkt"))
          .where(col("ts") >= col("s_ts") && col("ts") <= col("e_ts") &&
            col("ev_user") =!= col("iv_user"))
          .groupBy(col("iv_user").as("user_id"))
          .agg(count(lit(1)).as("n_overlap"))
          .orderBy("user_id")
      },
      Some("""WITH iv AS (
             |  SELECT user_id AS iv_user, date_trunc('day', ts) AS day,
             |         MIN(ts) AS s_ts, MAX(ts) AS e_ts
             |  FROM events GROUP BY 1, 2)
             |SELECT iv.iv_user AS user_id, COUNT(*) AS n_overlap
             |FROM iv JOIN events ev
             |  ON ev.ts BETWEEN iv.s_ts AND iv.e_ts AND ev.user_id <> iv.iv_user
             |GROUP BY 1 ORDER BY user_id""".stripMargin)
    ),
    Q(
      "j7_salted_join",
      "Skew-salted fact-to-dim join (ScaleOps.saltedJoin): the large side " +
        "gets a seeded uniform salt in [0,8), the small side replicates once " +
        "per salt value, and the join key widens to (suppkey, salt) — one " +
        "pathological hot key now spreads over 8 reducers instead of " +
        "stalling one. Results are salt-assignment-independent (the small " +
        "side is present under every salt), which is exactly what the plain " +
        "unsalted oracle join proves. AQE skew-join handles moderate skew; " +
        "salting is the explicit guard for the single-key blowup AQE splits " +
        "can't reach",
      (s, d) => {
        val li = lineitem(s, d).select(col("l_suppkey").as("suppkey"), col("l_quantity"))
        val sup = supplier(s, d).select(col("s_suppkey").as("suppkey"), col("s_nationkey"))
        graft.ops.ScaleOps.saltedJoin(li, sup, "suppkey", 8)
          .groupBy("s_nationkey")
          .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
          .orderBy("s_nationkey")
      },
      Some("""SELECT s_nationkey, COUNT(*) AS n,
             |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
             |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
             |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin)
    ),
    Q(
      "w6_event_gaps",
      "Inter-event gap statistics per user: lag() over (user, ts) then " +
        "exact-integer microsecond gap aggregates. The window partitions on " +
        "user_id — event streams shard naturally per key, so window state is " +
        "one user's day, never the corpus (the only window discipline this " +
        "engine allows). Gap sums stay in BIGINT microseconds end to end — " +
        "no float drift across engines",
      (s, d) =>
        events(s, d)
          .selectExpr("user_id", "ts",
            "lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts")
          .where(col("prev_ts").isNotNull)
          .groupBy("user_id")
          .agg(
            count(lit(1)).as("n_gaps"),
            sum(expr("unix_micros(ts) - unix_micros(prev_ts)")).as("total_gap_us"),
            max(expr("unix_micros(ts) - unix_micros(prev_ts)")).as("max_gap_us"))
          .orderBy("user_id"),
      Some("""WITH g AS (
             |  SELECT user_id, ts,
             |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
             |  FROM events)
             |SELECT user_id, COUNT(*) AS n_gaps,
             |  CAST(SUM(epoch_us(ts) - epoch_us(prev_ts)) AS BIGINT) AS total_gap_us,
             |  CAST(MAX(epoch_us(ts) - epoch_us(prev_ts)) AS BIGINT) AS max_gap_us
             |FROM g WHERE prev_ts IS NOT NULL
             |GROUP BY user_id ORDER BY user_id""".stripMargin)
    ),
    Q(
      "o8_keyset_pagination",
      "Keyset (seek) pagination: the page after cursor (l_orderkey=1000, " +
        "l_linenumber=3) via the expanded sargable predicate " +
        "key1 > a OR (key1 = a AND key2 > b) + top-50 by the unique " +
        "composite key. OFFSET pagination scans and discards every earlier " +
        "row on every page (page N costs O(N) — the classic deep-paging " +
        "killer); the keyset form pushes the first-column bound into the " +
        "parquet scan and plans as TakeOrderedAndProject, so every page " +
        "costs the same",
      (s, d) =>
        // (l_orderkey, l_linenumber) is non-unique in the fixture (w3's
        // finding) — the page ORDER appends w3's tiebreak columns so the
        // cursor's page is a deterministic total order on both engines.
        lineitem(s, d)
          .where(expr(
            "l_orderkey > 1000 OR (l_orderkey = 1000 AND l_linenumber > 3)"))
          .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_extendedprice")
          .limit(50)
          .select("l_orderkey", "l_linenumber", "l_partkey", "l_extendedprice"),
      Some("""SELECT l_orderkey, l_linenumber, l_partkey, l_extendedprice FROM lineitem
             |WHERE l_orderkey > 1000 OR (l_orderkey = 1000 AND l_linenumber > 3)
             |ORDER BY l_orderkey, l_linenumber, l_partkey, l_extendedprice LIMIT 50""".stripMargin)
    ),
    Q(
      "w9_ohlc",
      "OHLC (open/high/low/close) candles per hour — the canonical " +
        "time-series downsample: open and close are bounded argmin/argmax " +
        "aggregations over a (ts, event_id, value) struct (w1's " +
        "discipline — ONE row per window per partition crosses the " +
        "exchange, never a per-window sort), high/low/n are plain " +
        "min/max/count. The (ts, event_id) prefix is unique, so the " +
        "trailing value never decides a comparison and both engines pick " +
        "identical rows",
      (s, d) =>
        events(s, d)
          .groupBy(date_trunc("hour", col("ts")).as("win"))
          .agg(
            min(struct(col("ts"), col("event_id"), col("value"))).as("o"),
            max(struct(col("ts"), col("event_id"), col("value"))).as("c"),
            max("value").as("high"),
            min("value").as("low"),
            count(lit(1)).as("n"))
          .selectExpr("win", "o.value AS open", "high", "low", "c.value AS close", "n")
          .orderBy("win"),
      Some("""WITH w AS (SELECT date_trunc('hour', ts) AS win, ts, event_id, value FROM events),
             |r AS (SELECT *,
             |  row_number() OVER (PARTITION BY win ORDER BY ts, event_id) AS rf,
             |  row_number() OVER (PARTITION BY win ORDER BY ts DESC, event_id DESC) AS rl
             |  FROM w)
             |SELECT win, MAX(CASE WHEN rf = 1 THEN value END) AS open,
             |  MAX(value) AS high, MIN(value) AS low,
             |  MAX(CASE WHEN rl = 1 THEN value END) AS close, COUNT(*) AS n
             |FROM r GROUP BY win ORDER BY win""".stripMargin)
    ),
    Q(
      "a21_mode_by_group",
      "Deterministic mode (most frequent value) per group: modal source " +
        "per lang via two partial-aggregating passes — (lang, source) " +
        "counts, then argmax by min(struct(-count, source)) so ties break " +
        "to the lexicographically smallest source IDENTICALLY on both " +
        "engines (a bare mode() is tie-nondeterministic, useless for a " +
        "hash gate and for reproducible categorical imputation, which is " +
        "what this op feeds)",
      (s, d) => {
        val c = t(s, d, "documents")
          .groupBy("lang", "source").agg(count(lit(1)).as("c"))
        c.groupBy("lang")
          .agg(
            min(struct((col("c") * -1).as("negc"), col("source").as("src"))).as("m"),
            sum("c").cast("long").as("docs"))
          .selectExpr("lang", "m.src AS mode_source",
            "CAST(-m.negc AS BIGINT) AS mode_count", "docs")
          .orderBy("lang")
      },
      Some("""WITH c AS (SELECT lang, source, COUNT(*) AS c FROM documents GROUP BY 1, 2),
             |r AS (SELECT lang, source, c,
             |  row_number() OVER (PARTITION BY lang ORDER BY c DESC, source) AS rn FROM c),
             |t AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS docs FROM c GROUP BY lang)
             |SELECT r.lang AS lang, source AS mode_source, CAST(c AS BIGINT) AS mode_count, docs
             |FROM r JOIN t USING (lang) WHERE rn = 1 ORDER BY lang""".stripMargin)
    ),
    Q(
      "j8_skew_planner",
      "Join-skew planner — the measurement that decides j7's salting and " +
        "the broadcast/shuffle choice BEFORE paying the join (n11's " +
        "philosophy applied to joins): per join key, both sides' row " +
        "counts and the exact output contribution c_l * c_s; top-5 keys " +
        "by contribution with each key's share of the total join. Cost is " +
        "O(distinct keys) — two partial-aggregating counts and a " +
        "key-cardinality join — against the O(output) cost of discovering " +
        "skew by running the join. A key with share >> 1/reducers is the " +
        "salting trigger; total_pairs vs the small side's row count is " +
        "the broadcast-vs-shuffle input. Exact integers + one final " +
        "division",
      (s, d) => {
        val lc = lineitem(s, d)
          .groupBy(col("l_suppkey").as("suppkey")).agg(count(lit(1)).as("c_l"))
        val sc = supplier(s, d)
          .groupBy(col("s_suppkey").as("suppkey")).agg(count(lit(1)).as("c_s"))
        val per = lc.join(sc, "suppkey")
          .selectExpr("suppkey", "c_l", "c_s", "c_l * c_s AS pairs")
        val tot = per.agg(
          sum("pairs").cast("long").as("total_pairs"), count(lit(1)).as("join_keys"))
        per.crossJoin(broadcast(tot))
          .selectExpr("suppkey", "c_l AS fact_rows", "pairs",
            "CAST(pairs AS DOUBLE) / CAST(total_pairs AS DOUBLE) AS join_share",
            "total_pairs", "join_keys")
          .orderBy(desc("pairs"), col("suppkey"))
          .limit(5)
      },
      Some("""WITH lc AS (SELECT l_suppkey AS suppkey, COUNT(*) AS c_l FROM lineitem GROUP BY 1),
             |sc AS (SELECT s_suppkey AS suppkey, COUNT(*) AS c_s FROM supplier GROUP BY 1),
             |per AS (SELECT suppkey, c_l, c_s, c_l * c_s AS pairs FROM lc JOIN sc USING (suppkey)),
             |tot AS (SELECT CAST(SUM(pairs) AS BIGINT) AS total_pairs, COUNT(*) AS join_keys FROM per)
             |SELECT suppkey, c_l AS fact_rows, pairs,
             |  CAST(pairs AS DOUBLE) / CAST(total_pairs AS DOUBLE) AS join_share,
             |  total_pairs, join_keys
             |FROM per, tot ORDER BY pairs DESC, suppkey LIMIT 5""".stripMargin)
    ),
    Q(
      "j11_skew_auto",
      "Auto-routed skew join (ScaleOps.autoJoin) — j8's O(distinct keys) " +
        "forecast wired to the decision (the w20/n15 router pattern for " +
        "joins): a small-side count gates broadcast, then the hottest " +
        "key's share of the large side vs the per-reducer average picks " +
        "salted (j7) or plain. The fixture funnels every fourth order's " +
        "lineitems onto suppkey 1 — ~25% of rows on one key, the " +
        "single-key flood AQE's split can't fix — so the share test " +
        "(25% >> 4x 1/32) picks 'salted' at EVERY scale factor " +
        "(share-based, scale-invariant by construction). All three " +
        "routes are bitwise-identical (spec-pinned), so the oracle is " +
        "the plain join plus the same routing arithmetic in SQL: the " +
        "DECISION is part of the gated output",
      (s, d) => {
        val li = lineitem(s, d).select(
          expr("CASE WHEN l_orderkey % 4 = 0 THEN 1 ELSE l_suppkey END").as("suppkey"),
          col("l_quantity"))
        val sup = supplier(s, d).select(col("s_suppkey").as("suppkey"), col("s_nationkey"))
        // broadcastRowLimit=0: this row gates the salted-vs-plain share
        // test, so the (tiny-fixture) broadcast fast path is disabled;
        // reducers pinned to 32 so the decision is session-independent
        val (joined, route) = graft.ops.ScaleOps.autoJoin(
          li, sup, "suppkey", broadcastRowLimit = 0L, reducers = 32)
        joined
          .groupBy("s_nationkey")
          .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
          .withColumn("route", lit(route.route))
          .orderBy("s_nationkey")
      },
      Some("""WITH lg AS (SELECT CASE WHEN l_orderkey % 4 = 0 THEN 1 ELSE l_suppkey END AS suppkey,
             |              l_quantity FROM lineitem),
             |kc AS (SELECT suppkey, COUNT(*) AS c FROM lg GROUP BY 1),
             |st AS (SELECT CAST(MAX(c) AS BIGINT) AS mx, CAST(SUM(c) AS BIGINT) AS tot FROM kc),
             |rt AS (SELECT CASE WHEN mx > 4.0 * GREATEST(1.0, CAST(tot AS DOUBLE) / 32)
             |              THEN 'salted' ELSE 'plain' END AS route FROM st)
             |SELECT s_nationkey, COUNT(*) AS n,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             |  (SELECT route FROM rt) AS route
             |FROM lg JOIN supplier ON suppkey = s_suppkey
             |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin)
    ),
    Q(
      "f22_zorder_index",
      "Morton (Z-order) key construction over (user_id, minute-of-window) " +
        "— the two-axis data-layout primitive behind lakehouse file " +
        "pruning (ScaleOps.zOrderColumnN, ManifestStore.cluster): sorting by one column " +
        "leaves the other axis full-width per file; interleaving the bits " +
        "bounds BOTH axes per z-range, so parquet min/max stats prune on " +
        "either predicate. This row gates the 16-bit interleave bitwise " +
        "over every event (bucket histogram + per-bucket z extents, exact " +
        "integers end to end); the layout win itself is ManifestStoreSpec-" +
        "pinned (ManifestStore.cluster prunes segments on every axis)",
      (s, d) => {
        val mi = "(unix_micros(ts) div 60000000 - 28401120)" // minutes since 2024-01-01 UTC
        val z = (0 until 16).map(i =>
          s"(shiftleft(shiftright(user_id, $i) & 1, ${2 * i}) + " +
            s"shiftleft(shiftright($mi, $i) & 1, ${2 * i + 1}))")
          .mkString("(", " + ", ")")
        events(s, d)
          .selectExpr(s"$z AS z")
          .groupBy(expr("z div 4194304").as("z_bucket"))
          .agg(count(lit(1)).as("n"), min("z").as("z_min"), max("z").as("z_max"))
          .orderBy("z_bucket")
      },
      Some {
        val mi = "(epoch_us(ts) // 60000000 - 28401120)"
        val z = (0 until 16).map(i =>
          s"((((user_id >> $i) & 1) << ${2 * i}) + ((($mi >> $i) & 1) << ${2 * i + 1}))")
          .mkString("(", " + ", ")")
        s"""WITH zt AS (SELECT $z AS z FROM events)
           |SELECT z // 4194304 AS z_bucket, COUNT(*) AS n,
           |  MIN(z) AS z_min, MAX(z) AS z_max
           |FROM zt GROUP BY 1 ORDER BY z_bucket""".stripMargin
      }
    ),
    Q(
      "f25_zorder_nd",
      "N-dimensional Morton key (ScaleOps.zOrderColumnN) — f22's 2-axis " +
        "interleave generalized: bit i of column j lands at position " +
        "i*n + j, here three axes (user_id, minute-of-window, low event_id " +
        "bits) into one 48-bit key — so each z-range bounds a " +
        "hyper-RECTANGLE and file min/max stats prune a selective " +
        "predicate on ANY of the three axes (the per-axis segment pruning " +
        "of ManifestStore.cluster is ManifestStoreSpec-pinned; " +
        "this row gates the interleave arithmetic bitwise over every " +
        "event). Exact integer shifts end to end",
      (s, d) => {
        val mi = "(unix_micros(ts) div 60000000 - 28401120)" // minutes since 2024-01-01 UTC
        events(s, d)
          .withColumn("z", graft.ops.ScaleOps.zOrderColumnN(
            Seq("user_id", mi, "(event_id & 65535)")))
          .groupBy(expr("z div 4398046511104").as("z_bucket")) // z // 2^42
          .agg(count(lit(1)).as("n"), min("z").as("z_min"), max("z").as("z_max"))
          .orderBy("z_bucket")
      },
      Some {
        val cols = Seq("user_id", "(epoch_us(ts) // 60000000 - 28401120)", "(event_id & 65535)")
        val z = (for { i <- 0 until 16; (c, j) <- cols.zipWithIndex } yield
          s"((($c >> $i) & 1) << ${3 * i + j})").mkString("(", " + ", ")")
        s"""WITH zt AS (SELECT $z AS z FROM events)
           |SELECT z // 4398046511104 AS z_bucket, COUNT(*) AS n,
           |  MIN(z) AS z_min, MAX(z) AS z_max
           |FROM zt GROUP BY 1 ORDER BY z_bucket""".stripMargin
      }
    ),
    Q(
      "w8_time_weighted_avg",
      "Time-weighted average (TWAP semantics) of `value` per user: each " +
        "observation holds until the next event, so weight = microseconds " +
        "to the next event (lead over the per-user event-time order — " +
        "naturally-sharded tiny window partitions). Exactness recipe: the " +
        "2-decimal value casts to DECIMAL, DECIMAL x BIGINT microseconds " +
        "stays exact, the weighted mass rescales to an integer " +
        "(cents x us), and the only float op is ONE final division of two " +
        "exactly-representable doubles — bit-identical across engines",
      (s, d) =>
        events(s, d)
          .selectExpr("user_id", "value", "ts",
            "lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_ts")
          .where(col("next_ts").isNotNull)
          .groupBy("user_id")
          .agg(
            sum(expr("CAST(value AS DECIMAL(18,2)) * " +
              "(unix_micros(next_ts) - unix_micros(ts))")).as("wsum"),
            sum(expr("unix_micros(next_ts) - unix_micros(ts)")).as("span_us"))
          .selectExpr("user_id",
            "CAST(wsum * 100 AS BIGINT) AS wsum_centius",
            "span_us",
            "CAST(CAST(wsum * 100 AS BIGINT) AS DOUBLE) / " +
              "(100.0 * CAST(span_us AS DOUBLE)) AS twa")
          .orderBy("user_id"),
      Some("""WITH g AS (
             |  SELECT user_id, value, ts,
             |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_ts
             |  FROM events),
             |a AS (
             |  SELECT user_id,
             |    SUM(CAST(value AS DECIMAL(18,2)) * (epoch_us(next_ts) - epoch_us(ts))) AS wsum,
             |    CAST(SUM(epoch_us(next_ts) - epoch_us(ts)) AS BIGINT) AS span_us
             |  FROM g WHERE next_ts IS NOT NULL GROUP BY user_id)
             |SELECT user_id, CAST(wsum * 100 AS BIGINT) AS wsum_centius, span_us,
             |  CAST(CAST(wsum * 100 AS BIGINT) AS DOUBLE) / (100.0 * CAST(span_us AS DOUBLE)) AS twa
             |FROM a ORDER BY user_id""".stripMargin)
    ),
    Q(
      "w7_retention_cohorts",
      "Cohort retention: users cohorted by first-activity day; per cohort, " +
        "size and the users still active exactly 1 and 7 days later — the " +
        "product-analytics table behind every retention curve. Shape: one " +
        "distinct (user, day) projection (partial-agg-friendly), the " +
        "per-user cohort roll-up joins back on user_id (co-partitioned, " +
        "the cohort side is user-cardinality, not event-cardinality), and " +
        "the day-offset tests are exact timestamp arithmetic — integer " +
        "counts end to end",
      (s, d) => {
        val a = events(s, d)
          .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
          .distinct()
        val f = a.groupBy("user_id").agg(min("day").as("c"))
        a.join(f, "user_id")
          .groupBy(col("c").as("cohort_day"))
          .agg(
            countDistinct("user_id").as("cohort_size"),
            countDistinct(expr(
              "CASE WHEN day = c + INTERVAL 1 DAY THEN user_id END")).as("d1_retained"),
            countDistinct(expr(
              "CASE WHEN day = c + INTERVAL 7 DAY THEN user_id END")).as("d7_retained"))
          .orderBy("cohort_day")
      },
      Some("""WITH a AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events),
             |f AS (SELECT user_id, MIN(day) AS c FROM a GROUP BY user_id)
             |SELECT f.c AS cohort_day, COUNT(DISTINCT a.user_id) AS cohort_size,
             |  COUNT(DISTINCT CASE WHEN a.day = f.c + INTERVAL 1 DAY THEN a.user_id END) AS d1_retained,
             |  COUNT(DISTINCT CASE WHEN a.day = f.c + INTERVAL 7 DAY THEN a.user_id END) AS d7_retained
             |FROM a JOIN f USING (user_id)
             |GROUP BY f.c ORDER BY cohort_day""".stripMargin)
    ),
    Q(
      "f21_transition_matrix",
      "Event-type transition matrix (first-order Markov counts): per user, " +
        "consecutive event pairs in event-time order; global (prev, curr) " +
        "counts plus the per-prev transition probability from exact " +
        "BIGINTs. The lag window partitions on user_id — naturally-sharded " +
        "tiny partitions, the engine's only allowed window shape (w6's " +
        "discipline). The funnel/journey diagnostic beside w5's strict " +
        "funnel",
      (s, d) =>
        events(s, d)
          .selectExpr("user_id", "event_type",
            "lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type")
          .where(col("prev_type").isNotNull)
          .groupBy(col("prev_type"), col("event_type").as("curr_type"))
          .agg(count(lit(1)).as("n"))
          .withColumn("p",
            expr("CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY prev_type) AS DOUBLE)"))
          .orderBy("prev_type", "curr_type"),
      Some("""WITH g AS (
             |  SELECT user_id, event_type,
             |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
             |  FROM events),
             |c AS (SELECT prev_type, event_type AS curr_type, COUNT(*) AS n
             |      FROM g WHERE prev_type IS NOT NULL GROUP BY 1, 2)
             |SELECT prev_type, curr_type, n,
             |  CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY prev_type) AS DOUBLE) AS p
             |FROM c ORDER BY prev_type, curr_type""".stripMargin)
    ),
    Q(
      "g1_cooccurrence_pagerank",
      "Graph centrality over an entity co-occurrence graph " +
        "(GraphOps.pageRankInt): users who share an active minute become " +
        "edges; 3 damped PageRank iterations rank influence — the " +
        "curation primitive behind crawl prioritization, spam scoring and " +
        "kNN-graph cluster importance. EXACT integer arithmetic end to " +
        "end (micro-unit ranks, per-edge contribution = pr div degree, " +
        "damped update in integer ops): any engine and any partitioning " +
        "produces bit-identical ranks, where double-summed PageRank " +
        "drifts ulp-by-ulp under reassociation. Each iteration is one " +
        "shuffle (contribution join co-partitions on src, receive side " +
        "partial-aggregates on dst); iterations are a bounded driver " +
        "loop with per-round lineage cuts — the Pregel shape",
      (s, d) => {
        val hu = events(s, d)
          .select(date_trunc("minute", col("ts")).as("h"), col("user_id").as("u"))
          .distinct()
        val e = hu.as("a")
          .join(hu.as("b"), col("a.h") === col("b.h") && col("a.u") =!= col("b.u"))
          .select(col("a.u").as("src"), col("b.u").as("dst"))
          .distinct()
        graft.ops.GraphOps.pageRankInt(e, iterations = 3)
          .select(col("u").as("user_id"), col("pr"))
          .orderBy(desc("pr"), col("user_id"))
          .limit(10)
      },
      Some("""WITH hu AS (SELECT DISTINCT date_trunc('minute', ts) AS h, user_id AS u FROM events),
             |e AS (SELECT DISTINCT a.u AS src, b.u AS dst
             |      FROM hu a JOIN hu b ON a.h = b.h AND a.u <> b.u),
             |deg AS (SELECT src, COUNT(*) AS d FROM e GROUP BY src),
             |r0 AS (SELECT src AS u, CAST(1000000 AS BIGINT) AS pr FROM deg),
             |c1 AS (SELECT e.dst AS dst, SUM(r0.pr // deg.d) AS contrib
             |       FROM e JOIN deg USING (src) JOIN r0 ON e.src = r0.u GROUP BY e.dst),
             |r1 AS (SELECT deg.src AS u,
             |       CAST(150000 + (85 * COALESCE(c1.contrib, 0)) // 100 AS BIGINT) AS pr
             |       FROM deg LEFT JOIN c1 ON deg.src = c1.dst),
             |c2 AS (SELECT e.dst AS dst, SUM(r1.pr // deg.d) AS contrib
             |       FROM e JOIN deg USING (src) JOIN r1 ON e.src = r1.u GROUP BY e.dst),
             |r2 AS (SELECT deg.src AS u,
             |       CAST(150000 + (85 * COALESCE(c2.contrib, 0)) // 100 AS BIGINT) AS pr
             |       FROM deg LEFT JOIN c2 ON deg.src = c2.dst),
             |c3 AS (SELECT e.dst AS dst, SUM(r2.pr // deg.d) AS contrib
             |       FROM e JOIN deg USING (src) JOIN r2 ON e.src = r2.u GROUP BY e.dst),
             |r3 AS (SELECT deg.src AS u,
             |       CAST(150000 + (85 * COALESCE(c3.contrib, 0)) // 100 AS BIGINT) AS pr
             |       FROM deg LEFT JOIN c3 ON deg.src = c3.dst)
             |SELECT u AS user_id, pr FROM r3 ORDER BY pr DESC, u LIMIT 10""".stripMargin)
    ),
    Q(
      "a20_sketch_distinct",
      "Approximate distinct via the Datasketches HLL surface " +
        "(hll_sketch_agg -> hll_sketch_estimate): distinct active DAYS per " +
        "event type. The sketch is the 100 TB shape for COUNT(DISTINCT): " +
        "partial aggregation reduces every partition to one <= 2^lgK-byte " +
        "register array per group BEFORE the exchange (an exact distinct " +
        "shuffles every distinct key), and the binary sketch persists + " +
        "unions across runs (hll_union_agg — incremental distinct without " +
        "re-scanning history). Oracle-gated in the exact regime, t15's discipline: the " +
        "gated cardinality (active days) is bounded by the fixture's time " +
        "window at ANY corpus size, so the Datasketches coupon path is " +
        "collision-free and the estimate EQUALS DuckDB's exact " +
        "COUNT(DISTINCT) at every SF. A growing-cardinality key (user_id) " +
        "leaves the coupon regime as the corpus scales — measured on this " +
        "fixture: exact at sf0.01 (150 users), 1480 vs 1500 (1.3% low) at " +
        "sf0.1 — which is the documented production trade, not a gateable " +
        "equality",
      (s, d) =>
        events(s, d)
          .groupBy("event_type")
          .agg(
            count(lit(1)).as("n"),
            expr("hll_sketch_estimate(hll_sketch_agg(" +
              "CAST(date_trunc('day', ts) AS STRING), 12))").as("n_days"))
          .orderBy("event_type"),
      Some("""SELECT event_type, COUNT(*) AS n,
             |COUNT(DISTINCT date_trunc('day', ts)) AS n_days
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)
    ),
    Q(
      "a19_column_profile",
      "Single-pass column profiler over the documents table: per column, " +
        "non-null count, exact distinct count, min/max (stringified) — the " +
        "schema-drift / data-quality report every ingest runs before " +
        "training. One scan; the multi-column COUNT(DISTINCT) plans as one " +
        "Expand (x5 fan-out of pruned columns, each distinct partial-" +
        "aggregates before its exchange) rather than five scans of a 100 TB " +
        "table. min/max compare on native types and stringify only the " +
        "five final values",
      (s, d) => {
        val doc = t(s, d, "documents")
        val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
        val aggs = cols.flatMap { c =>
          Seq(
            count(col(c)).as(s"${c}_nn"),
            countDistinct(col(c)).as(s"${c}_nd"),
            min(col(c)).cast("string").as(s"${c}_min"),
            max(col(c)).cast("string").as(s"${c}_max"))
        }
        val stack = cols
          .map(c => s"'$c', ${c}_nn, ${c}_nd, ${c}_min, ${c}_max")
          .mkString(s"stack(${cols.size}, ", ", ", ")")
        doc.agg(aggs.head, aggs.tail: _*)
          .selectExpr(s"$stack AS (column_name, n_nonnull, n_distinct, min_val, max_val)")
          .orderBy("column_name")
      },
      Some("""SELECT * FROM (
             |  SELECT 'doc_id' AS column_name, COUNT(doc_id) AS n_nonnull,
             |    COUNT(DISTINCT doc_id) AS n_distinct,
             |    CAST(MIN(doc_id) AS VARCHAR) AS min_val, CAST(MAX(doc_id) AS VARCHAR) AS max_val
             |  FROM documents
             |  UNION ALL
             |  SELECT 'text', COUNT(text), COUNT(DISTINCT text),
             |    CAST(MIN(text) AS VARCHAR), CAST(MAX(text) AS VARCHAR) FROM documents
             |  UNION ALL
             |  SELECT 'lang', COUNT(lang), COUNT(DISTINCT lang),
             |    CAST(MIN(lang) AS VARCHAR), CAST(MAX(lang) AS VARCHAR) FROM documents
             |  UNION ALL
             |  SELECT 'source', COUNT(source), COUNT(DISTINCT source),
             |    CAST(MIN(source) AS VARCHAR), CAST(MAX(source) AS VARCHAR) FROM documents
             |  UNION ALL
             |  SELECT 'n_chars', COUNT(n_chars), COUNT(DISTINCT n_chars),
             |    CAST(MIN(n_chars) AS VARCHAR), CAST(MAX(n_chars) AS VARCHAR) FROM documents
             |) ORDER BY column_name""".stripMargin)
    ),
    Q(
      "w10_scd2_intervals",
      "SCD2 interval construction (gaps-and-islands): collapse each user's " +
        "consecutive runs of equal event_type into validity intervals " +
        "[valid_from, valid_to) — the slowly-changing-dimension build every " +
        "warehouse maintains from a change stream. Run boundaries via " +
        "lag-compare + running sum (windows partition per user: naturally " +
        "sharded, tiny state); valid_to is the NEXT island's open (lead " +
        "over the per-user island sequence). Summary per event_type: " +
        "intervals, closed intervals, total closed duration in exact BIGINT " +
        "microseconds — bitwise on both engines",
      (s, d) => {
        val ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val islands = events(s, d)
          .select("user_id", "event_id", "event_type", "ts")
          .withColumn("chg",
            when(lag("event_type", 1).over(ord).isNull ||
              lag("event_type", 1).over(ord) =!= col("event_type"), 1).otherwise(0))
          .withColumn("island",
            sum("chg").over(ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy("user_id", "island")
          .agg(min("event_type").as("event_type"), min("ts").as("valid_from"))
        val iord = Window.partitionBy("user_id").orderBy("island")
        islands
          .withColumn("valid_to", lead("valid_from", 1).over(iord))
          .groupBy("event_type")
          .agg(
            count(lit(1)).as("n_intervals"),
            count(col("valid_to")).as("closed_intervals"),
            sum(when(col("valid_to").isNotNull,
              expr("unix_micros(valid_to) - unix_micros(valid_from)")).otherwise(0L))
              .cast("long").as("total_dur_us"))
          .orderBy("event_type")
      },
      Some("""WITH o AS (
             |  SELECT user_id, event_id, event_type, ts,
             |    CASE WHEN lag(event_type) OVER w IS NULL
             |         OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg
             |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |i AS (SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS island FROM o),
             |iv AS (SELECT user_id, island, MIN(event_type) AS event_type, MIN(ts) AS valid_from
             |       FROM i GROUP BY 1, 2),
             |v AS (SELECT *, lead(valid_from) OVER (PARTITION BY user_id ORDER BY island) AS valid_to FROM iv)
             |SELECT event_type, COUNT(*) AS n_intervals, COUNT(valid_to) AS closed_intervals,
             |  CAST(SUM(CASE WHEN valid_to IS NOT NULL
             |    THEN epoch_us(valid_to) - epoch_us(valid_from) ELSE 0 END) AS BIGINT) AS total_dur_us
             |FROM v GROUP BY event_type ORDER BY event_type""".stripMargin)
    ),
    Q(
      "w11_resample_ffill",
      "Time-grid resample + forward fill: each user's event stream becomes " +
        "an hourly grid (sequence + explode between per-user hour bounds); " +
        "empty slots carry the user's last event forward " +
        "(last(_, ignoreNulls) over the per-user slot order — the Spark " +
        "ffill idiom; per-user partitions are naturally sharded and the " +
        "grid is bounded by the time span, not the event count). The " +
        "carried value is the last EVENT ID (integer), so the per-slot " +
        "roll-up — points, fresh, carried, sum of carried ids — is exact " +
        "on both engines; a float ffill would be the same plan",
      (s, d) => {
        val ev = events(s, d)
          .select(col("user_id"), col("ts"), col("event_id"))
          .withColumn("slot", date_trunc("hour", col("ts")))
        val lastPer = ev.groupBy("user_id", "slot")
          .agg(max(struct(col("ts"), col("event_id"))).as("m"), count(lit(1)).as("n_ev"))
          .select(col("user_id"), col("slot"), col("m.event_id").as("last_ev"), col("n_ev"))
        val grid = ev.groupBy("user_id")
          .agg(date_trunc("hour", min("ts")).as("lo"), date_trunc("hour", max("ts")).as("hi"))
          .select(col("user_id"), explode(expr("sequence(lo, hi, interval 1 hour)")).as("slot"))
        val ford = Window.partitionBy("user_id").orderBy("slot")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        grid.join(lastPer, Seq("user_id", "slot"), "left")
          .withColumn("carried_ev", last("last_ev", ignoreNulls = true).over(ford))
          .groupBy("slot")
          .agg(
            count(lit(1)).as("n_points"),
            sum(when(col("n_ev").isNotNull, 1).otherwise(0)).cast("long").as("n_fresh"),
            sum(when(col("n_ev").isNull, 1).otherwise(0)).cast("long").as("n_carried"),
            sum("carried_ev").cast("long").as("sum_last_event_id"))
          .orderBy("slot")
      },
      Some("""WITH ev AS (SELECT user_id, ts, event_id, date_trunc('hour', ts) AS slot FROM events),
             |l AS (SELECT user_id, slot, event_id,
             |    row_number() OVER (PARTITION BY user_id, slot ORDER BY ts DESC, event_id DESC) AS rn,
             |    COUNT(*) OVER (PARTITION BY user_id, slot) AS n_ev
             |  FROM ev),
             |lastper AS (SELECT user_id, slot, event_id AS last_ev, n_ev FROM l WHERE rn = 1),
             |b AS (SELECT user_id, date_trunc('hour', MIN(ts)) AS lo, date_trunc('hour', MAX(ts)) AS hi
             |      FROM events GROUP BY 1),
             |grid AS (SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS slot FROM b),
             |f AS (SELECT g.user_id AS user_id, g.slot AS slot, lp.n_ev AS n_ev,
             |    last_value(lp.last_ev IGNORE NULLS) OVER (
             |      PARTITION BY g.user_id ORDER BY g.slot) AS carried_ev
             |  FROM grid g LEFT JOIN lastper lp ON g.user_id = lp.user_id AND g.slot = lp.slot)
             |SELECT slot, COUNT(*) AS n_points,
             |  CAST(SUM(CASE WHEN n_ev IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_fresh,
             |  CAST(SUM(CASE WHEN n_ev IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_carried,
             |  CAST(SUM(carried_ev) AS BIGINT) AS sum_last_event_id
             |FROM f GROUP BY slot ORDER BY slot""".stripMargin)
    ),
    Q(
      "u3_snapshot_diff",
      "Snapshot diff (CDC audit): two table versions compared by row HASH, " +
        "not by row — each side projects (key, md5(payload)) so only a key " +
        "plus 32 hash chars cross the exchange, never the wide row (the " +
        "100 TB shape for 'what changed between runs'). Full outer join on " +
        "the key classifies added / removed / changed / unchanged; counts " +
        "and key mass are exact integers. Versions are derived " +
        "deterministically from the fixture (modulo carve-outs + an " +
        "upper() mutation) so both engines diff identical snapshots",
      (s, d) => {
        val base = events(s, d).select(col("event_id"), col("event_type"), col("props"))
        val old = base.where(expr("event_id % 10 <> 0"))
          .select(col("event_id"), md5(concat_ws("|", col("event_type"), col("props"))).as("h_old"))
        val neu = base.where(expr("event_id % 7 <> 0"))
          .withColumn("event_type",
            when(expr("event_id % 5 = 0"), upper(col("event_type"))).otherwise(col("event_type")))
          .select(col("event_id"), md5(concat_ws("|", col("event_type"), col("props"))).as("h_new"))
        old.join(neu, Seq("event_id"), "full_outer")
          .withColumn("status",
            when(col("h_old").isNull, "added")
              .when(col("h_new").isNull, "removed")
              .when(col("h_old") =!= col("h_new"), "changed")
              .otherwise("unchanged"))
          .groupBy("status")
          .agg(count(lit(1)).as("n_rows"), sum("event_id").cast("long").as("key_mass"))
          .orderBy("status")
      },
      Some("""WITH old AS (
             |  SELECT event_id, md5(concat_ws('|', event_type, props)) AS h_old
             |  FROM events WHERE event_id % 10 <> 0),
             |neu AS (
             |  SELECT event_id, md5(concat_ws('|',
             |    CASE WHEN event_id % 5 = 0 THEN upper(event_type) ELSE event_type END,
             |    props)) AS h_new
             |  FROM events WHERE event_id % 7 <> 0),
             |j AS (SELECT COALESCE(old.event_id, neu.event_id) AS event_id, h_old, h_new
             |      FROM old FULL OUTER JOIN neu ON old.event_id = neu.event_id)
             |SELECT CASE WHEN h_old IS NULL THEN 'added'
             |            WHEN h_new IS NULL THEN 'removed'
             |            WHEN h_old <> h_new THEN 'changed'
             |            ELSE 'unchanged' END AS status,
             |  COUNT(*) AS n_rows, CAST(SUM(event_id) AS BIGINT) AS key_mass
             |FROM j GROUP BY 1 ORDER BY 1""".stripMargin)
    ),
    Q(
      "a22_mad_outliers",
      "Robust outlier detection via median absolute deviation: per " +
        "event_type, median(value) and MAD = median(|value - median|), " +
        "flag rows beyond 3 MAD — the quantile-robust sibling of p9's " +
        "IQR filter (a mean/stddev z-score is one corrupted batch away " +
        "from useless; the median pair is not). BOTH medians run through " +
        "ScaleOps.exactQuantileByGroup's histogram-refinement descent — " +
        "O(bins) executor state, never a buffer-everything percentile — " +
        "and interpolation, subtraction and the 3x comparison are " +
        "identical IEEE ops on both engines",
      (s, d) => {
        val ev = events(s, d).select(col("event_type"), col("value"))
        val med = graft.ops.ScaleOps.exactQuantileByGroup(ev, "event_type", "value", 0.5)
        def perGroup(m: Map[String, Double]) = m.toSeq.sortBy(_._1).tail
          .foldLeft(when(col("event_type") === m.toSeq.sortBy(_._1).head._1,
            lit(m.toSeq.sortBy(_._1).head._2))) {
            case (acc, (k, v)) => acc.when(col("event_type") === k, lit(v))
          }
        val dev = ev.withColumn("dev", abs(col("value") - perGroup(med)))
        val mad = graft.ops.ScaleOps.exactQuantileByGroup(dev, "event_type", "dev", 0.5)
        dev
          .withColumn("med", perGroup(med))
          .withColumn("mad", perGroup(mad))
          .groupBy("event_type")
          .agg(
            min("med").as("med"), min("mad").as("mad"),
            count(lit(1)).as("n"),
            sum(when(col("dev") > lit(3.0) * col("mad"), 1).otherwise(0))
              .cast("long").as("outliers"))
          .orderBy("event_type")
      },
      Some("""WITH m AS (SELECT event_type, quantile_cont(value, 0.5) AS med FROM events GROUP BY 1),
             |d AS (SELECT e.event_type AS event_type, value, med, ABS(value - med) AS dev
             |      FROM events e JOIN m USING (event_type)),
             |md AS (SELECT event_type, quantile_cont(dev, 0.5) AS mad FROM d GROUP BY 1)
             |SELECT d.event_type AS event_type, MIN(med) AS med, MIN(mad) AS mad, COUNT(*) AS n,
             |  CAST(SUM(CASE WHEN dev > 3 * mad THEN 1 ELSE 0 END) AS BIGINT) AS outliers
             |FROM d JOIN md USING (event_type)
             |GROUP BY 1 ORDER BY 1""".stripMargin)
    ),
    Q(
      "j9_bloom_semi_join",
      "Bloom-pushdown semi-join: the d11 discipline applied to a " +
        "relational join — the selective side (high-value orders) builds a " +
        "Bloom filter with a distributed bit-OR aggregate, the fact scan " +
        "probes it with pure codegen'd column arithmetic BELOW the join, " +
        "and only survivors (hits + ~1% fpp trickle) reach the exact semi " +
        "join that removes false positives. No false negatives, so the " +
        "result is bitwise the plain semi-join (same oracle). The regime " +
        "is a build side too big to broadcast: the probe prunes the fact " +
        "stream at the scan instead of shuffling all of it to the join",
      (s, d) => {
        val sel = orders(s, d)
          .where(col("o_totalprice") > 480000)
          .select(col("o_orderkey"))
        val p = graft.ext.Bloom.params(sel.count(), 0.01)
        val bloom = graft.ext.Bloom.build(sel, "o_orderkey", p)
        lineitem(s, d)
          .where(graft.ext.Bloom.mightContain(col("l_orderkey"), bloom, p.k))
          .join(sel.hint("merge"),
            col("l_orderkey") === col("o_orderkey"), "left_semi")
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag, COUNT(*) AS n,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
             |FROM lineitem
             |WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 480000)
             |GROUP BY 1 ORDER BY 1""".stripMargin)
    ),
    Q(
      "j10_asof_join",
      "AS-OF join as a first-class two-table operator " +
        "(ScaleOps.asofJoin): every purchase matched to the user's latest " +
        "prior-or-equal click — the quotes-to-trades / state-at-time join " +
        "Spark lacks natively. The classic range formulation (l.ts >= " +
        "r.ts theta-join + argmax) explodes O(left x right-history) pairs " +
        "per key; this plan unions probe and build rows into one " +
        "time-ordered stream per key and carries the newest build payload " +
        "forward with last(...) IGNORE NULLS over a trailing frame — one " +
        "shuffle, one pass, O(1) window state, per-key partitions bounded " +
        "by a user's history. The oracle is DuckDB's NATIVE ASOF LEFT " +
        "JOIN, so two completely different implementations must agree row " +
        "for row (clicks pre-aggregated per (user, ts): equal-time ties " +
        "are the one nondeterminism both engines share)",
      (s, d) => {
        val ev = events(s, d)
        val purchases = ev.where(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts")
        val clicks = ev.where(col("event_type") === "click")
          .groupBy("user_id", "ts").agg(max("event_id").as("click_id"))
        graft.ops.ScaleOps
          .asofJoin(purchases, clicks, Seq("user_id"), "ts", Seq("click_id"))
          .selectExpr("event_id", "user_id", "ts",
            "asof_click_id AS click_id", "asof_ts AS click_ts")
          .orderBy("event_id")
      },
      Some("""WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
             |c AS (SELECT user_id, ts, MAX(event_id) AS click_id
             |      FROM events WHERE event_type = 'click' GROUP BY 1, 2)
             |SELECT p.event_id AS event_id, p.user_id AS user_id, p.ts AS ts,
             |       c.click_id AS click_id, c.ts AS click_ts
             |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
             |ORDER BY event_id""".stripMargin)
    ),
    Q(
      "j12_merge_cdc",
      "MERGE INTO, end-to-end through the atomic-commit store " +
        "(ManifestStore.merge): the target table (order stats per " +
        "customer over non-%3 orderkeys, written to a scratch manifest " +
        "table as TWO segments with key stats) absorbs a CDC batch (the " +
        "%3 slice) — matched keys UPDATE, matched keys with total < 50000 " +
        "DELETE, unmatched INSERT regardless of the delete predicate " +
        "(Delta MERGE scoping). Copy-on-write at segment granularity: " +
        "manifest min/max stats on the key prune untouchable segments, " +
        "one key-only probe finds the segments that hold matches, and " +
        "ONLY those rewrite — the others republish verbatim. The oracle " +
        "replays the merge algebra (anti ∪ matched-surviving ∪ inserts) " +
        "in SQL, so the store's physical path must agree with the " +
        "declarative semantics row for row",
      (s, d) => {
        import graft.ops.ManifestStore
        def stats(df: DataFrame) = df
          .groupBy("o_custkey")
          .agg(count(lit(1)).as("n_ord"),
            sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
        val o = orders(s, d)
        // the keyed tables are small aggregates — coalesce to one partition
        // per segment so the store round-trips don't pay 32 empty tasks per
        // job (the table-format cost being measured is commits, not tasks).
        // localCheckpoint (r12): each append re-executes its input (isEmpty
        // probe + segment write), exceptAll reads target twice and merge
        // re-reads source for its range/probe/apply passes — without the
        // cut every one of those re-ran the orders aggregation, noise on
        // top of the commit protocol this entry measures.
        val target = stats(o.where(col("o_orderkey") % 3 =!= 0)).coalesce(1)
          .localCheckpoint(eager = false)
        val source = stats(o.where(col("o_orderkey") % 3 === 0)).coalesce(1)
          .localCheckpoint(eager = false)
        // scratch table under java.io.tmpdir; segments are a few MB of
        // aggregated rows and the dir is OS-reclaimed — the point is that
        // the MERGE physically executes through the manifest protocol
        val scratch = java.nio.file.Files
          .createTempDirectory("graft-j12-").toString + "/t"
        val half = target.where(col("o_custkey") % 2 === 0)
        ManifestStore.append(s, half, scratch, statsCols = Seq("o_custkey"))
        ManifestStore.append(s, target.exceptAll(half), scratch,
          statsCols = Seq("o_custkey"))
        ManifestStore.merge(s, source, scratch, "o_custkey",
          deleteWhen = Some(col("total") < 50000), statsCols = Seq("o_custkey"))
        ManifestStore.read(s, scratch)
          .select("o_custkey", "n_ord", "total")
          .orderBy("o_custkey")
      },
      Some("""WITH t AS (SELECT o_custkey, COUNT(*) AS n_ord,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
             |  FROM orders WHERE o_orderkey % 3 <> 0 GROUP BY 1),
             |s AS (SELECT o_custkey, COUNT(*) AS n_ord,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
             |  FROM orders WHERE o_orderkey % 3 = 0 GROUP BY 1)
             |SELECT o_custkey, n_ord, total FROM (
             |  SELECT * FROM t WHERE NOT EXISTS (SELECT 1 FROM s WHERE s.o_custkey = t.o_custkey)
             |  UNION ALL
             |  SELECT * FROM s WHERE EXISTS (SELECT 1 FROM t WHERE t.o_custkey = s.o_custkey)
             |    AND NOT (total < 50000)
             |  UNION ALL
             |  SELECT * FROM s WHERE NOT EXISTS (SELECT 1 FROM t WHERE t.o_custkey = s.o_custkey))
             |ORDER BY o_custkey""".stripMargin)
    ),
    Q(
      "w13_sliding_window",
      "Sliding (hopping) windows — 1-hour windows every 15 minutes, each " +
        "event in exactly 4 — via Spark's native window(ts, slide) " +
        "generator, the SAME operator Structured Streaming runs " +
        "incrementally with a watermark (st1's tumbling case " +
        "generalized). The expansion is a Generate (no self-join, no " +
        "range probe) followed by a partial-aggregating groupBy on the " +
        "window start; the oracle reproduces the epoch-aligned window " +
        "set with exact integer microsecond arithmetic",
      (s, d) =>
        events(s, d)
          .select(window(col("ts"), "1 hour", "15 minutes").as("w"), col("user_id"))
          .groupBy(col("w.start").as("win_start"))
          .agg(count(lit(1)).as("n_events"), countDistinct("user_id").as("users"))
          .orderBy("win_start"),
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS t FROM events),
             |w AS (SELECT user_id, (t // 900000000 - j) * 900000000 AS start_us
             |      FROM e, (SELECT unnest([0, 1, 2, 3]) AS j) AS s)
             |SELECT make_timestamp(start_us) AS win_start, COUNT(*) AS n_events,
             |  COUNT(DISTINCT user_id) AS users
             |FROM w GROUP BY 1 ORDER BY 1""".stripMargin)
    ),
    Q(
      "w14_rank_functions",
      "SQL rank functions (ntile / percent_rank / cume_dist) per group — " +
        "WITHOUT a whole-group-in-one-task window: exact global row " +
        "numbers come from ScaleOps.groupedGlobalRowNumber (range-" +
        "partition on (group, order), per-partition counts broadcast back " +
        "as offsets, partition-LOCAL row_number — every window partition " +
        "in the plan is one bounded range slice, the distributed-ranking " +
        "idiom), and the three rank functions are then plain arithmetic " +
        "over rn and the group count: pr = (rn-1)/(n-1), cd = rn/n, " +
        "big-tiles-first NTILE by integer division. The order key is " +
        "unique (price, orderkey, linenumber), so every value is " +
        "deterministic and the divisions are identical IEEE on both " +
        "engines. Summarized per (group, tile)",
      (s, d) => {
        // NO checkpoint on rn (round-9 measured negative result): cutting
        // here would persist ~600k wide ranked rows to save re-running the
        // partition-local window for the count leg — the persist cost
        // measured HIGHER than the recompute (cold-probe CPU 48 vs 36 s);
        // the shared rp cut inside groupedGlobalRowNumber already stops the
        // expensive range sort from running twice
        // countCol rides the helper's own broadcast offset row (r12): the
        // old second pass (rescan the checkpoint -> groupBy count ->
        // broadcast join) was a whole subtree recomputing totals the helper
        // had already collected to the driver.
        graft.ops.ScaleOps.groupedGlobalRowNumber(
          lineitem(s, d).select("l_linestatus", "l_extendedprice", "l_orderkey", "l_linenumber"),
          Seq("l_linestatus"), Seq("l_extendedprice", "l_orderkey", "l_linenumber"),
          countCol = Some("n"))
          .withColumn("tile", expr(
            """CASE WHEN rn <= (n DIV 4 + 1) * (n % 4)
              |     THEN (rn - 1) DIV (n DIV 4 + 1) + 1
              |     ELSE n % 4 + (rn - (n DIV 4 + 1) * (n % 4) - 1) DIV (n DIV 4) + 1
              |END""".stripMargin))
          .withColumn("pr", expr("CAST(rn - 1 AS DOUBLE) / CAST(n - 1 AS DOUBLE)"))
          .withColumn("cd", expr("CAST(rn AS DOUBLE) / CAST(n AS DOUBLE)"))
          .groupBy(col("l_linestatus"), col("tile").cast("long").as("tile"))
          .agg(count(lit(1)).as("n"),
            min("pr").as("min_pr"), max("pr").as("max_pr"),
            min("cd").as("min_cd"), max("cd").as("max_cd"))
          .orderBy("l_linestatus", "tile")
      },
      Some("""WITH r AS (SELECT l_linestatus, ntile(4) OVER w AS tile,
             |    percent_rank() OVER w AS pr, cume_dist() OVER w AS cd
             |  FROM lineitem
             |  WINDOW w AS (PARTITION BY l_linestatus
             |               ORDER BY l_extendedprice, l_orderkey, l_linenumber))
             |SELECT l_linestatus, CAST(tile AS BIGINT) AS tile, COUNT(*) AS n,
             |  MIN(pr) AS min_pr, MAX(pr) AS max_pr, MIN(cd) AS min_cd, MAX(cd) AS max_cd
             |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
    ),
    Q(
      "g2_triangle_count",
      "Exact triangle count of the minute-level user co-occurrence graph " +
        "(g1's edge derivation) via GraphOps.triangleCount — the " +
        "clustering-coefficient numerator that separates community " +
        "structure from star-shaped spam in a curation graph. Compact-" +
        "forward: edges orient from the lower-(degree, id) endpoint, " +
        "wedges come from a self-join on the oriented source (out-degree " +
        "bounded ~sqrt(2m) by the orientation, so hub vertices can't " +
        "explode the join), a semi-join closes them; every count is an " +
        "exact integer. The oracle's naive 3-way join is the fixture-" +
        "scale check of the same number",
      (s, d) => {
        val hu = events(s, d)
          .select(date_trunc("minute", col("ts")).as("m"), col("user_id").as("u"))
          .distinct()
        val e = hu.as("x")
          .join(hu.as("y"), col("x.m") === col("y.m") && col("x.u") < col("y.u"))
          .select(col("x.u").as("a"), col("y.u").as("b"))
          .distinct()
          .localCheckpoint(eager = true) // feeds vertex count, edge count, triangles
        val tri = graft.ops.GraphOps.triangleCount(e)
        val verts = e.selectExpr("a AS v").union(e.selectExpr("b AS v")).distinct().count()
        val edges = e.count()
        s.createDataFrame(Seq((verts, edges, tri)))
          .toDF("vertices", "edges", "triangles")
      },
      Some("""WITH hu AS (SELECT DISTINCT date_trunc('minute', ts) AS m, user_id AS u FROM events),
             |e AS (SELECT DISTINCT x.u AS a, y.u AS b FROM hu x JOIN hu y ON x.m = y.m AND x.u < y.u),
             |v AS (SELECT COUNT(DISTINCT u) AS nv FROM (SELECT a AS u FROM e UNION ALL SELECT b AS u FROM e)),
             |t AS (SELECT COUNT(*) AS tri FROM e e1
             |      JOIN e e2 ON e2.a = e1.a AND e1.b < e2.b
             |      JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b)
             |SELECT (SELECT nv FROM v) AS vertices, (SELECT COUNT(*) FROM e) AS edges,
             |       (SELECT tri FROM t) AS triangles""".stripMargin)
    ),
    Q(
      "u4_intersect_except",
      "Set-operation coverage (INTERSECT / EXCEPT): purchaser-vs-viewer " +
        "user audiences — both operators plan as co-partitioned " +
        "distinct-joins on the key projection (semi for INTERSECT, anti " +
        "for EXCEPT): only user ids cross the exchange. Output counts the " +
        "three audience segments exactly",
      (s, d) => {
        val ev = events(s, d)
        def users(t: String) =
          ev.where(col("event_type") === t).select("user_id").distinct()
        val both = users("view").intersect(users("purchase")).count()
        val viewOnly = users("view").except(users("purchase")).count()
        val buyOnly = users("purchase").except(users("view")).count()
        s.createDataFrame(Seq(
          ("both", both), ("buy_only", buyOnly), ("view_only", viewOnly)))
          .toDF("segment", "n_users")
          .orderBy("segment")
      },
      Some("""WITH v AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'view'),
             |p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
             |SELECT 'both' AS segment, (SELECT COUNT(*) FROM (SELECT * FROM v INTERSECT SELECT * FROM p)) AS n_users
             |UNION ALL
             |SELECT 'buy_only', (SELECT COUNT(*) FROM (SELECT * FROM p EXCEPT SELECT * FROM v))
             |UNION ALL
             |SELECT 'view_only', (SELECT COUNT(*) FROM (SELECT * FROM v EXCEPT SELECT * FROM p))
             |ORDER BY segment""".stripMargin)
    ),
    Q(
      "q3_shipping_priority",
      "TPC-H Q3 shape (the multi-join OLAP classic): segment-filtered " +
        "customers ⋈ date-bounded orders ⋈ shipped-later lineitems, " +
        "revenue = sum(extprice * (1 - discount)) per order — top-10 by " +
        "revenue. The join tree is what Catalyst's planning exists for: " +
        "the customer filter broadcasts (dimension side), orders⋈lineitem " +
        "shuffles once on orderkey, and all three single-table predicates " +
        "push to their scans. Revenue terms are exact DECIMAL products " +
        "(price 12,2 x (1 - discount 4,2)) summed order-independently; " +
        "top-10 is a TakeOrderedAndProject heap with a rowkey tiebreak",
      (s, d) => {
        val cut = "1998-07-01"
        val c = customer(s, d).where(col("c_mktsegment") === "BUILDING").select("c_custkey")
        val o = orders(s, d).where(col("o_orderdate") < lit(cut))
          .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
        val l = lineitem(s, d).where(col("l_shipdate") > lit(cut))
          .selectExpr("l_orderkey",
            "CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) AS rev")
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(c), col("o_custkey") === col("c_custkey"))
          .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
          .agg(sum("rev").cast("double").as("revenue"))
          .orderBy(desc("revenue"), col("l_orderkey"))
          .limit(10)
          .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
      },
      Some("""SELECT l_orderkey,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
             |  o_orderdate, o_orderpriority
             |FROM customer JOIN orders ON c_custkey = o_custkey
             |JOIN lineitem ON l_orderkey = o_orderkey
             |WHERE c_mktsegment = 'BUILDING'
             |  AND o_orderdate < TIMESTAMP '1998-07-01'
             |  AND l_shipdate > TIMESTAMP '1998-07-01'
             |GROUP BY l_orderkey, o_orderdate, o_orderpriority
             |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin)
    ),
    Q(
      "q5_local_supplier_volume",
      "TPC-H Q5 shape (six-table star join): revenue by supplier nation " +
        "for orders in one year where the customer and supplier share a " +
        "nation — region ⋈ nation ⋈ supplier and customer are all " +
        "broadcast dimensions, lineitem⋈orders is the one fact-fact " +
        "shuffle, and the c_nationkey = s_nationkey co-location predicate " +
        "applies after the joins. Exact DECIMAL revenue, total ORDER BY",
      (s, d) => {
        val n = nation(s, d).select("n_nationkey", "n_name")
        val sup = supplier(s, d).select("s_suppkey", "s_nationkey")
        val c = customer(s, d).select("c_custkey", "c_nationkey")
        val o = orders(s, d)
          .where(col("o_orderdate") >= lit("1997-01-01") && col("o_orderdate") < lit("1998-01-01"))
          .select("o_orderkey", "o_custkey")
        val l = lineitem(s, d).selectExpr("l_orderkey", "l_suppkey",
          "CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) AS rev")
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(c), col("o_custkey") === col("c_custkey"))
          .where(col("c_nationkey") === col("s_nationkey"))
          .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
          .groupBy("n_name")
          .agg(sum("rev").cast("double").as("revenue"))
          .orderBy(desc("revenue"), col("n_name"))
      },
      Some("""SELECT n_name,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN supplier ON l_suppkey = s_suppkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON s_nationkey = n_nationkey
             |WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
             |  AND c_nationkey = s_nationkey
             |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin)
    ),
    Q(
      "w15_max_concurrency",
      "Peak concurrency by sweep-line: each event opens a 5-minute " +
        "presence [ts, ts+5m) clipped at midnight; +1/-1 boundary events " +
        "sorted per DAY with the half-open tiebreak (-1 before +1 at the " +
        "same instant, then event_id) and a running sum whose max is the " +
        "day's peak simultaneous users — the capacity-planning query " +
        "every serving system runs. The sweep window partitions per day " +
        "(naturally sharded, bounded by a day's events); all arithmetic " +
        "is exact integer microseconds and counters",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val ev = events(s, d).select(col("ts"), col("event_id"))
          .withColumn("endc", least(
            col("ts") + expr("INTERVAL 5 MINUTES"),
            date_trunc("day", col("ts")) + expr("INTERVAL 24 HOURS")))
        val marks = ev.select(col("ts").as("t"), lit(1).as("delta"), col("event_id"))
          .unionByName(ev.select(col("endc").as("t"), lit(-1).as("delta"), col("event_id")))
          // a close at the exact midnight clip belongs to the day it CLOSES
          // (shift only -1 marks; an open at midnight stays on its own day)
          .withColumn("day", date_trunc("day",
            when(col("delta") === -1, col("t") - expr("INTERVAL 1 MICROSECOND"))
              .otherwise(col("t"))))
        val w = Window.partitionBy("day").orderBy("t", "delta", "event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        marks
          .withColumn("conc", sum("delta").over(w))
          .groupBy("day")
          .agg(max("conc").cast("long").as("max_concurrent"),
            (count(lit(1)) / 2).cast("long").as("n_events"))
          .orderBy("day")
      },
      // the -1 mark at an exact midnight clip belongs to the day it CLOSES
      // (hence the 1-microsecond shift before date_trunc on both engines)
      Some("""WITH ev AS (SELECT ts, event_id,
             |    least(ts + INTERVAL 5 MINUTE, date_trunc('day', ts) + INTERVAL 24 HOUR) AS endc
             |  FROM events),
             |marks AS (
             |  SELECT ts AS t, 1 AS delta, event_id FROM ev
             |  UNION ALL
             |  SELECT endc AS t, -1 AS delta, event_id FROM ev),
             |m2 AS (SELECT *, date_trunc('day',
             |    CASE WHEN delta = -1 THEN t - INTERVAL 1 MICROSECOND ELSE t END) AS day FROM marks),
             |sw AS (SELECT day, SUM(delta) OVER (
             |    PARTITION BY day ORDER BY t, delta, event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc FROM m2)
             |SELECT day, CAST(MAX(conc) AS BIGINT) AS max_concurrent,
             |  CAST(COUNT(*) / 2 AS BIGINT) AS n_events
             |FROM sw GROUP BY day ORDER BY day""".stripMargin)
    ),
    Q(
      "f24_date_spine",
      "Calendar date spine: a generated day dimension from the order-date " +
        "bounds (sequence + explode — no calendar table to maintain) " +
        "left-joined to per-day order counts, so days WITHOUT orders " +
        "exist as zero rows — the gap-visible form every time-series " +
        "report needs (a bare GROUP BY silently drops empty days). " +
        "Rolled up per month: days, active days, gap days, exact order " +
        "total. The spine is bounded by the time span, never the fact " +
        "row count",
      (s, d) => {
        val o = orders(s, d).select(date_trunc("day", col("o_orderdate")).as("day"))
        val perDay = o.groupBy("day").agg(count(lit(1)).as("n"))
        val spine = o.agg(min("day").as("lo"), max("day").as("hi"))
          .select(explode(expr("sequence(lo, hi, interval 1 day)")).as("day"))
        spine.join(perDay, Seq("day"), "left")
          .groupBy(date_trunc("month", col("day")).as("month"))
          .agg(
            count(lit(1)).as("days"),
            sum(when(col("n").isNotNull, 1).otherwise(0)).cast("long").as("active_days"),
            sum(when(col("n").isNull, 1).otherwise(0)).cast("long").as("gap_days"),
            sum(coalesce(col("n"), lit(0L))).cast("long").as("orders"))
          .orderBy("month")
      },
      Some("""WITH o AS (SELECT date_trunc('day', o_orderdate) AS day FROM orders),
             |pd AS (SELECT day, COUNT(*) AS n FROM o GROUP BY 1),
             |b AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM o),
             |spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day FROM b)
             |SELECT date_trunc('month', spine.day) AS month, COUNT(*) AS days,
             |  CAST(SUM(CASE WHEN n IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS active_days,
             |  CAST(SUM(CASE WHEN n IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS gap_days,
             |  CAST(SUM(COALESCE(n, 0)) AS BIGINT) AS orders
             |FROM spine LEFT JOIN pd ON spine.day = pd.day
             |GROUP BY 1 ORDER BY 1""".stripMargin)
    ),
    Q(
      "w16_active_users",
      "Rolling engagement (DAU / WAU / MAU): exact distinct users per day, " +
        "per trailing 7 days and per trailing 30 days — WITHOUT a range " +
        "self-join or a distinct-over-window: the (day, user) distinct " +
        "projection explodes each activity day into the trailing windows " +
        "it serves (7 resp. 30 generator rows), then one distinct+count " +
        "per target day. Work is O(active-pairs x window), state is a hash " +
        "aggregate — the shape that survives when users x days is huge " +
        "and a COUNT(DISTINCT) OVER (RANGE 30 DAYS) would buffer windows. " +
        "Reported weekly (day % 7 == 0 sample) to keep the gate compact",
      (s, d) => {
        // The registration IS the library call (graft.ops.ActiveUsers):
        // this row gates the explosion form; w19 gates the sweep; w20 gates
        // the auto-router.
        val du = graft.ops.ActiveUsers.dailyUsers(events(s, d))
          .localCheckpoint(eager = false) // feeds DAU + two window explosions
        graft.ops.ActiveUsers.viaExplosion(du, Seq(7 -> "wau", 30 -> "mau"))
          .where(expr("dayofmonth(day) % 7 = 1"))
          .orderBy("day")
      },
      Some("""WITH du AS (SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events),
             |dau AS (SELECT day, COUNT(DISTINCT user_id) AS dau FROM du GROUP BY 1),
             |w AS (SELECT tday, COUNT(*) AS wau FROM (
             |    SELECT DISTINCT unnest(generate_series(day, day + INTERVAL 6 DAY, INTERVAL 1 DAY)) AS tday, user_id
             |    FROM du) GROUP BY 1),
             |m AS (SELECT tday, COUNT(*) AS mau FROM (
             |    SELECT DISTINCT unnest(generate_series(day, day + INTERVAL 29 DAY, INTERVAL 1 DAY)) AS tday, user_id
             |    FROM du) GROUP BY 1)
             |SELECT day, dau, wau, mau
             |FROM dau JOIN w ON day = w.tday JOIN m ON day = m.tday
             |WHERE dayofmonth(day) % 7 = 1
             |ORDER BY day""".stripMargin)
    ),
    Q(
      "w17_longest_streak",
      "Longest consecutive-day activity streak per user, rolled up as a " +
        "streak-length histogram — the engagement metric retention teams " +
        "track. Gaps-and-islands on the (user, distinct day) projection " +
        "via the anchor trick: day - rn days is constant exactly along a " +
        "consecutive run (no lag/compare chain needed), so streaks fall " +
        "out of one per-user window + two hash aggregates. Windows " +
        "partition per user over DISTINCT DAYS (tiny, bounded by the " +
        "calendar); every value is an exact integer",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val du = events(s, d)
          .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
          .distinct()
        val w = Window.partitionBy("user_id").orderBy("day")
        val streaks = du
          .withColumn("anchor", expr("day - make_interval(0, 0, 0, row_number() OVER (PARTITION BY user_id ORDER BY day), 0, 0, 0)"))
          .groupBy("user_id", "anchor").agg(count(lit(1)).as("len"))
        streaks
          .groupBy("user_id").agg(max("len").as("longest"))
          .groupBy("longest").agg(count(lit(1)).as("n_users"))
          .orderBy("longest")
      },
      Some("""WITH du AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events),
             |a AS (SELECT user_id, day,
             |    day - to_days(CAST(row_number() OVER (PARTITION BY user_id ORDER BY day) AS INTEGER)) AS anchor
             |  FROM du),
             |s AS (SELECT user_id, anchor, COUNT(*) AS len FROM a GROUP BY 1, 2),
             |l AS (SELECT user_id, MAX(len) AS longest FROM s GROUP BY 1)
             |SELECT longest, COUNT(*) AS n_users FROM l GROUP BY 1 ORDER BY 1""".stripMargin)
    ),
    Q(
      "st3_session_window_native",
      "Gap-based sessions via Spark's NATIVE session_window operator — the " +
        "same expression runs incrementally under Structured Streaming " +
        "with a watermark (st2's custom islands build, as the engine " +
        "primitive): 30-minute-gap sessions per user, rolled up to " +
        "per-user session count, event total and exact in-session span " +
        "(window.end carries the trailing gap by definition — subtracted " +
        "back out in exact microseconds). Session merging is a hash " +
        "aggregation over (user, window), never a corpus-global sort",
      (s, d) =>
        events(s, d)
          .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
          .agg(count(lit(1)).as("n_events"))
          .groupBy("user_id")
          .agg(
            count(lit(1)).as("n_sessions"),
            sum("n_events").cast("long").as("total_events"),
            sum(expr("unix_micros(w.end) - 1800000000 - unix_micros(w.start)"))
              .cast("long").as("total_span_us"))
          .orderBy("user_id"),
      Some("""WITH o AS (SELECT user_id, ts,
             |    CASE WHEN lag(ts) OVER w IS NULL
             |         OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
             |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
             |s AS (SELECT user_id, ts, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts) AS sess FROM o),
             |g AS (SELECT user_id, sess, COUNT(*) AS n_events,
             |      epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS span_us
             |      FROM s GROUP BY 1, 2)
             |SELECT user_id, COUNT(*) AS n_sessions, CAST(SUM(n_events) AS BIGINT) AS total_events,
             |  CAST(SUM(span_us) AS BIGINT) AS total_span_us
             |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin)
    ),
    Q(
      "a25_seasonal_anomaly",
      "Seasonal-baseline anomaly detection: hour-of-week traffic profile " +
        "from the first three weeks, the fourth week judged against it — " +
        "spike iff this_week * baseline_weeks > 2 * baseline_total (and " +
        "the mirrored drop test), so the 2x threshold is an EXACT integer " +
        "cross-multiplication: no float ratio ever decides a flag and " +
        "both engines agree bitwise. The on-call 'is tonight weird' " +
        "check, shaped as two hash aggregations over a bounded (dow, " +
        "hour) domain; the one reported ratio is a single rounded " +
        "division over exact counts",
      (s, d) => {
        val ev = events(s, d).select(col("ts"))
          .join(broadcast(events(s, d).agg(date_trunc("day", min("ts")).as("d0"))))
          .select(
            floor(expr("(unix_micros(ts) - unix_micros(d0)) / (7 * 86400000000)")).as("week"),
            dayofweek(col("ts")).cast("long").as("dow"), hour(col("ts")).as("hr"))
        val cells = ev.groupBy("week", "dow", "hr").agg(count(lit(1)).as("c"))
        val base = cells.where(col("week") < 3)
          .groupBy("dow", "hr").agg(sum("c").as("sb"), count(lit(1)).as("nb"))
        cells.where(col("week") === 3)
          .join(base, Seq("dow", "hr"))
          .withColumn("spike", (col("c") * col("nb") > col("sb") * 2).cast("int"))
          .withColumn("drop", (col("c") * col("nb") * 2 < col("sb")).cast("int"))
          .groupBy("dow")
          .agg(
            count(lit(1)).as("cells"),
            sum("spike").cast("long").as("spikes"),
            sum("drop").cast("long").as("drops"),
            round(max(expr("CAST(c * nb AS DOUBLE) / CAST(sb AS DOUBLE)")), 6).as("max_ratio"))
          .orderBy("dow")
      },
      Some("""WITH d0 AS (SELECT date_trunc('day', MIN(ts)) AS d0 FROM events),
             |e AS (SELECT CAST(floor((epoch_us(ts) - epoch_us(d0)) / (7 * 86400000000)) AS BIGINT) AS week,
             |      dayofweek(ts) + 1 AS dow, hour(ts) AS hr
             |      FROM events CROSS JOIN d0),
             |cells AS (SELECT week, dow, hr, COUNT(*) AS c FROM e GROUP BY 1, 2, 3),
             |base AS (SELECT dow, hr, SUM(c) AS sb, COUNT(*) AS nb
             |         FROM cells WHERE week < 3 GROUP BY 1, 2)
             |SELECT cells.dow AS dow, COUNT(*) AS cells,
             |  CAST(SUM(CASE WHEN c * nb > sb * 2 THEN 1 ELSE 0 END) AS BIGINT) AS spikes,
             |  CAST(SUM(CASE WHEN c * nb * 2 < sb THEN 1 ELSE 0 END) AS BIGINT) AS drops,
             |  round(MAX(CAST(c * nb AS DOUBLE) / CAST(sb AS DOUBLE)), 6) AS max_ratio
             |FROM cells JOIN base ON cells.dow = base.dow AND cells.hr = base.hr
             |WHERE week = 3
             |GROUP BY 1 ORDER BY 1""".stripMargin)
    ),
    Q(
      "sql1_sql_api",
      "SQL-string surface: the same engine through spark.sql over temp " +
        "views — CTEs, a dimension join, decimal-exact money aggregation, " +
        "HAVING and ORDER BY in one statement, planed by the SAME Catalyst " +
        "pipeline as the DataFrame queries (this is the dashboard-SQL " +
        "entry point the reference's users actually write; " +
        "streamlit_frontend.py runs ~30 such statements against DuckDB). " +
        "Priority-segmented order revenue per nation for one year, " +
        "nations kept above a floor",
      (s, d) => {
        customer(s, d).createOrReplaceTempView("v_customer")
        orders(s, d).createOrReplaceTempView("v_orders")
        nation(s, d).createOrReplaceTempView("v_nation")
        s.sql("""
          WITH o AS (
            SELECT o_custkey,
                   CASE WHEN o_orderpriority < '3' THEN 'urgent' ELSE 'normal' END AS prio,
                   CAST(o_totalprice AS DECIMAL(18,2)) AS price
            FROM v_orders
            WHERE o_orderdate >= '1997-01-01' AND o_orderdate < '1998-01-01')
          SELECT n_name, prio, COUNT(*) AS n_orders,
                 CAST(SUM(price) AS DOUBLE) AS revenue
          FROM o
          JOIN v_customer ON o_custkey = c_custkey
          JOIN v_nation ON c_nationkey = n_nationkey
          GROUP BY n_name, prio
          HAVING COUNT(*) >= 10
          ORDER BY n_name, prio""")
      },
      Some("""WITH o AS (
             |  SELECT o_custkey,
             |         CASE WHEN o_orderpriority < '3' THEN 'urgent' ELSE 'normal' END AS prio,
             |         CAST(o_totalprice AS DECIMAL(18,2)) AS price
             |  FROM orders
             |  WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01')
             |SELECT n_name, prio, COUNT(*) AS n_orders,
             |       CAST(SUM(price) AS DOUBLE) AS revenue
             |FROM o
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |GROUP BY n_name, prio
             |HAVING COUNT(*) >= 10
             |ORDER BY n_name, prio""".stripMargin)
    ),
    Q(
      "w18_moving_average",
      "Trailing 7-day moving aggregates over the calendar spine (f24's " +
        "gap-visible day dimension, so quiet days weigh in as zeros " +
        "instead of silently shrinking the window): daily order count, " +
        "7-day sum, 7-day average and day-over-day percent change. The " +
        "window's INPUT is the bounded day domain — one row per day " +
        "regardless of corpus size — which is what makes a running " +
        "window admissible at 100 TB (the fact rows never enter it; they " +
        "partial-aggregate to the spine first). Divisions are exact-" +
        "integer ratios, round(6); monthly 1st-of-month sample keeps the " +
        "gate compact",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val o = orders(s, d).select(date_trunc("day", col("o_orderdate")).as("day"))
        val perDay = o.groupBy("day").agg(count(lit(1)).as("n"))
        val spine = o.agg(min("day").as("lo"), max("day").as("hi"))
          .select(explode(expr("sequence(lo, hi, interval 1 day)")).as("day"))
        val daily = spine.join(perDay, Seq("day"), "left")
          .select(col("day"), coalesce(col("n"), lit(0L)).as("n"))
        val w7 = Window.orderBy("day").rowsBetween(-6, Window.currentRow)
        val w1 = Window.orderBy("day")
        daily
          .withColumn("sum7", sum("n").over(w7).cast("long"))
          .withColumn("avg7", round(col("sum7").cast("double") / lit(7.0), 6))
          .withColumn("prev", lag("n", 1).over(w1))
          .withColumn("pct_change",
            when(col("prev").isNotNull && col("prev") =!= 0,
              round((col("n") - col("prev")).cast("double") / col("prev").cast("double"), 6)))
          .where(dayofmonth(col("day")) === 1)
          .select("day", "n", "sum7", "avg7", "pct_change")
          .orderBy("day")
      },
      Some("""WITH o AS (SELECT date_trunc('day', o_orderdate) AS day FROM orders),
             |pd AS (SELECT day, COUNT(*) AS n FROM o GROUP BY 1),
             |b AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM o),
             |spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day FROM b),
             |daily AS (SELECT spine.day AS day, COALESCE(n, 0) AS n
             |          FROM spine LEFT JOIN pd ON spine.day = pd.day),
             |m AS (SELECT day, n,
             |    CAST(SUM(n) OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS sum7,
             |    lag(n) OVER (ORDER BY day) AS prev
             |  FROM daily)
             |SELECT day, CAST(n AS BIGINT) AS n, sum7,
             |  round(CAST(sum7 AS DOUBLE) / 7.0, 6) AS avg7,
             |  CASE WHEN prev IS NOT NULL AND prev <> 0
             |       THEN round(CAST(n - prev AS DOUBLE) / CAST(prev AS DOUBLE), 6) END AS pct_change
             |FROM m WHERE dayofmonth(day) = 1 ORDER BY day""".stripMargin)
    ),
    Q(
      "w19_active_users_sweep",
      "Rolling engagement, SUB-LINEAR form (w16's production sibling): " +
        "the same exact DAU/WAU/MAU numbers WITHOUT w16's 30x generator " +
        "explosion. Per user, consecutive-ish activity days merge into " +
        "coverage ISLANDS (a new island starts when the gap exceeds the " +
        "window, so each island covers [first_day, last_day + win - 1] " +
        "contiguously); each island emits two boundary events (+1 at " +
        "start, -1 past end) and the per-day rolling distinct count is " +
        "the prefix sum of boundary deltas over the day axis. Work is " +
        "O(active-pairs) INDEPENDENT of window width — the 30-day window " +
        "costs the same as a 365-day one — vs w16's O(pairs x window) " +
        "row inflation (kept registered as the exactness cross-check; " +
        "both produce identical rows and share hash-identical oracles). " +
        "Scale shape: island detection is a per-user window over distinct " +
        "days (calendar-bounded state); boundary deltas partial-aggregate " +
        "per day BEFORE the shuffle, so the prefix-sum window's input is " +
        "one row per distinct day — calendar-bounded, the w18 spine " +
        "discipline — never a row per user or per event",
      (s, d) => {
        // The registration IS the library call (graft.ops.ActiveUsers.viaSweep).
        val du = graft.ops.ActiveUsers.dailyUsers(events(s, d))
          .localCheckpoint(eager = false) // feeds DAU + two sweeps
        graft.ops.ActiveUsers.viaSweep(du, Seq(7 -> "wau", 30 -> "mau"))
          .where(expr("dayofmonth(day) % 7 = 1"))
          .orderBy("day")
      },
      Some("""WITH du AS (SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events),
             |dau AS (SELECT day, COUNT(*) AS dau FROM du GROUP BY 1),
             |i7 AS (SELECT user_id, day, CASE WHEN date_diff('day', LAG(day) OVER (PARTITION BY user_id ORDER BY day), day) <= 6 THEN 0 ELSE 1 END AS brk FROM du),
             |g7 AS (SELECT user_id, day, SUM(brk) OVER (PARTITION BY user_id ORDER BY day) AS grp FROM i7),
             |s7 AS (SELECT user_id, grp, MIN(day) AS s, MAX(day) + INTERVAL 6 DAY AS e FROM g7 GROUP BY 1, 2),
             |b7 AS (SELECT day, SUM(delta) AS delta FROM (
             |    SELECT s AS day, 1 AS delta FROM s7
             |    UNION ALL SELECT e + INTERVAL 1 DAY, -1 FROM s7
             |    UNION ALL SELECT day, 0 FROM dau) GROUP BY 1),
             |c7 AS (SELECT day, CAST(SUM(delta) OVER (ORDER BY day) AS BIGINT) AS wau FROM b7),
             |i30 AS (SELECT user_id, day, CASE WHEN date_diff('day', LAG(day) OVER (PARTITION BY user_id ORDER BY day), day) <= 29 THEN 0 ELSE 1 END AS brk FROM du),
             |g30 AS (SELECT user_id, day, SUM(brk) OVER (PARTITION BY user_id ORDER BY day) AS grp FROM i30),
             |s30 AS (SELECT user_id, grp, MIN(day) AS s, MAX(day) + INTERVAL 29 DAY AS e FROM g30 GROUP BY 1, 2),
             |b30 AS (SELECT day, SUM(delta) AS delta FROM (
             |    SELECT s AS day, 1 AS delta FROM s30
             |    UNION ALL SELECT e + INTERVAL 1 DAY, -1 FROM s30
             |    UNION ALL SELECT day, 0 FROM dau) GROUP BY 1),
             |c30 AS (SELECT day, CAST(SUM(delta) OVER (ORDER BY day) AS BIGINT) AS mau FROM b30)
             |SELECT dau.day AS day, dau, wau, mau
             |FROM dau JOIN c7 ON dau.day = c7.day JOIN c30 ON dau.day = c30.day
             |WHERE dayofmonth(dau.day) % 7 = 1
             |ORDER BY day""".stripMargin)
    ),
    Q(
      "w20_active_users_auto",
      "Auto-routed rolling engagement (graft.ops.ActiveUsers.rollingActive): " +
        "ONE count on the shared distinct (day, user) projection — which " +
        "also materializes its checkpoint, so the decision is free — " +
        "forecasts the explosion volume (pairs x sum of windows) and picks " +
        "w16's generator-explosion form below the bound or w19's island " +
        "sweep above it (the measured SCALE.md crossover automated, the " +
        "planBandBits philosophy for the MAU family). Both forms are " +
        "registered and oracle-gated individually; this row gates the " +
        "ROUTER end-to-end: whatever form it picks must reproduce the " +
        "same exact DAU/WAU/MAU numbers",
      (s, d) =>
        graft.ops.ActiveUsers.rollingActive(events(s, d))
          .where(expr("dayofmonth(day) % 7 = 1"))
          .orderBy("day"),
      // Same values as w16/w19 (the three rows share hash-identical
      // oracles); the explosion-form SQL is the shorter spelling.
      Some("""WITH du AS (SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events),
             |dau AS (SELECT day, COUNT(DISTINCT user_id) AS dau FROM du GROUP BY 1),
             |w AS (SELECT tday, COUNT(*) AS wau FROM (
             |    SELECT DISTINCT unnest(generate_series(day, day + INTERVAL 6 DAY, INTERVAL 1 DAY)) AS tday, user_id
             |    FROM du) GROUP BY 1),
             |m AS (SELECT tday, COUNT(*) AS mau FROM (
             |    SELECT DISTINCT unnest(generate_series(day, day + INTERVAL 29 DAY, INTERVAL 1 DAY)) AS tday, user_id
             |    FROM du) GROUP BY 1)
             |SELECT day, dau, wau, mau
             |FROM dau JOIN w ON day = w.tday JOIN m ON day = m.tday
             |WHERE dayofmonth(day) % 7 = 1
             |ORDER BY day""".stripMargin)
    ),
    Q(
      "sql2_decorrelated_subquery",
      "Correlated subqueries through the SQL surface — the decorrelation " +
        "path of the optimizer: a correlated scalar subquery (orders " +
        "beating their own customer's average) and a correlated " +
        "NOT EXISTS (customers with no 1997 order), both rewritten by " +
        "Catalyst into aggregate-plus-join plans (no per-row re-execution " +
        "anywhere — the plan is pinned join-shaped). DECIMAL-exact money " +
        "comparisons; counts per segment",
      (s, d) => {
        customer(s, d).createOrReplaceTempView("v2_customer")
        orders(s, d).createOrReplaceTempView("v2_orders")
        s.sql("""
          WITH dormant AS (
            SELECT c_mktsegment, COUNT(*) AS dc
            FROM v2_customer c2
            WHERE NOT EXISTS (SELECT 1 FROM v2_orders o2
                              WHERE o2.o_custkey = c2.c_custkey
                                AND o2.o_orderdate >= '1997-01-01'
                                AND o2.o_orderdate < '1998-01-01')
            GROUP BY c_mktsegment),
          big AS (
            SELECT o1.o_custkey, c.c_mktsegment
            FROM v2_orders o1 JOIN v2_customer c ON o1.o_custkey = c.c_custkey
            WHERE CAST(o1.o_totalprice AS DECIMAL(18,2)) >
                  (SELECT CAST(AVG(CAST(o3.o_totalprice AS DECIMAL(18,2))) AS DECIMAL(24,8))
                   FROM v2_orders o3 WHERE o3.o_custkey = o1.o_custkey))
          SELECT b.c_mktsegment AS c_mktsegment, COUNT(*) AS big_orders,
                 COUNT(DISTINCT o_custkey) AS active_customers,
                 CAST(MIN(dc) AS BIGINT) AS dormant_customers
          FROM big b JOIN dormant d ON b.c_mktsegment = d.c_mktsegment
          GROUP BY b.c_mktsegment
          ORDER BY c_mktsegment""")
      },
      Some("""WITH dormant AS (
             |  SELECT c_mktsegment, COUNT(*) AS dc
             |  FROM customer c2
             |  WHERE NOT EXISTS (SELECT 1 FROM orders o2
             |                    WHERE o2.o_custkey = c2.c_custkey
             |                      AND o2.o_orderdate >= TIMESTAMP '1997-01-01'
             |                      AND o2.o_orderdate < TIMESTAMP '1998-01-01')
             |  GROUP BY c_mktsegment),
             |big AS (
             |  SELECT o1.o_custkey, c.c_mktsegment
             |  FROM orders o1 JOIN customer c ON o1.o_custkey = c.c_custkey
             |  WHERE CAST(o1.o_totalprice AS DECIMAL(18,2)) >
             |        (SELECT CAST(AVG(CAST(o3.o_totalprice AS DECIMAL(18,2))) AS DECIMAL(24,8))
             |         FROM orders o3 WHERE o3.o_custkey = o1.o_custkey))
             |SELECT b.c_mktsegment AS c_mktsegment, COUNT(*) AS big_orders,
             |       COUNT(DISTINCT o_custkey) AS active_customers,
             |       CAST(MIN(dc) AS BIGINT) AS dormant_customers
             |FROM big b JOIN dormant d ON b.c_mktsegment = d.c_mktsegment
             |GROUP BY b.c_mktsegment
             |ORDER BY c_mktsegment""".stripMargin)
    ),
    Q(
      "q6_selective_scan_agg",
      "TPC-H Q6 shape — the pure selective-scan aggregate that measures " +
        "predicate pushdown and codegen more than anything else in the " +
        "classic suite: three range predicates reach the parquet scan " +
        "(PushedFilters), survivors stream through one whole-stage-" +
        "codegen'd project+aggregate, no shuffle beyond the final " +
        "single-row combine. Revenue = sum(extendedprice * discount) in " +
        "exact DECIMAL products",
      (s, d) =>
        lineitem(s, d)
          .where(col("l_shipdate") >= lit("1997-01-01") && col("l_shipdate") < lit("1998-01-01") &&
            col("l_discount") >= 0.05 && col("l_discount") <= 0.07 && col("l_quantity") < 24)
          .agg(
            sum(expr("CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2))"))
              .cast("double").as("revenue"),
            count(lit(1)).as("n_rows")),
      Some("""SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
             |  COUNT(*) AS n_rows
             |FROM lineitem
             |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
             |  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""".stripMargin)
    ),
    Q(
      "q18_large_orders",
      "TPC-H Q18 shape (HAVING-driven join-back): orders whose total " +
        "quantity exceeds a threshold, joined back for customer context, " +
        "top-10 by (quantity desc, orderkey). The heavy side is one " +
        "partial-aggregating groupBy on the fact key; the HAVING filter " +
        "collapses it to a tiny key set BEFORE the join-back touches " +
        "orders/customer (semi-join pattern on aggregated keys) — the " +
        "shape that keeps a 'whales report' from rescanning the fact " +
        "table. Exact decimal totals; TakeOrderedAndProject top-10",
      (s, d) => {
        val big = lineitem(s, d)
          .groupBy("l_orderkey")
          .agg(sum(col("l_quantity").cast(DecimalType(18, 2))).as("total_qty"))
          .where(col("total_qty") > 250)
        big
          .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(customer(s, d)), col("o_custkey") === col("c_custkey"))
          .select(col("c_name"), col("o_orderkey"), col("o_orderdate"),
            col("total_qty").cast("double").as("total_qty"))
          .orderBy(desc("total_qty"), col("o_orderkey"))
          .limit(10)
      },
      Some("""WITH big AS (
             |  SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS total_qty
             |  FROM lineitem GROUP BY 1 HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250)
             |SELECT c_name, o_orderkey, o_orderdate, CAST(total_qty AS DOUBLE) AS total_qty
             |FROM big JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |ORDER BY total_qty DESC, o_orderkey LIMIT 10""".stripMargin)
    ),
    Q(
      "a26_region_rollup",
      "Hierarchical ROLLUP totals with region as the PRIMARY subject " +
        "(closing the round-7 note that region appeared only as a join " +
        "dim): customers and exact-decimal account-balance mass per " +
        "(region, nation), per region subtotal, and grand total in ONE " +
        "grouping-sets pass — Catalyst expands the rollup into a single " +
        "Expand+hash-aggregate plan (one shuffle for all three levels, " +
        "vs three scans for three GROUP BYs). Rollup nulls are labeled " +
        "'ALL' so both engines sort and hash the subtotal rows " +
        "identically. Dimension joins broadcast (region: 5 rows, " +
        "nation: 25)",
      (s, d) =>
        customer(s, d)
          .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
          .rollup(col("r_name"), col("n_name"))
          .agg(
            count(lit(1)).as("customers"),
            sum(col("c_acctbal").cast(DecimalType(18, 2))).cast("double").as("acctbal_sum"))
          .select(
            coalesce(col("r_name"), lit("ALL")).as("region"),
            coalesce(col("n_name"), lit("ALL")).as("nation"),
            col("customers"), col("acctbal_sum"))
          .orderBy("region", "nation"),
      Some("""SELECT COALESCE(r_name, 'ALL') AS region, COALESCE(n_name, 'ALL') AS nation,
             |  COUNT(*) AS customers,
             |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS acctbal_sum
             |FROM customer
             |JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |GROUP BY ROLLUP(r_name, n_name)
             |ORDER BY region, nation""".stripMargin)
    ),
    Q(
      "a27_table_stats",
      "Catalog statistics introspection (Dashboard.tableStats): the " +
        "reference status card's table list + per-table row counts " +
        "(streamlit_frontend.py:439-456 information_schema.tables + one " +
        "COUNT(*) per table) over the whole star schema, plus column " +
        "counts from the schema. Parquet COUNT(*) answers from footer " +
        "metadata — no column pages read — so this is O(tables) metadata " +
        "work on a 100 TB warehouse, same as the reference's own loop",
      (s, d) =>
        graft.analytics.Dashboard.tableStats(s, d, Seq(
          "region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")),
      Some {
        val cols = Map(
          // fixture schemas (TESTDATA.md): pragma_table_info would describe
          // the checker's VIEWS, which DuckDB materializes per query — a
          // literal per-table column count is the stable spelling
          "region" -> 2, "nation" -> 3, "customer" -> 5, "supplier" -> 4,
          "part" -> 6, "orders" -> 6, "lineitem" -> 11, "events" -> 6,
          "documents" -> 5, "embeddings" -> 3)
        cols.keys.toSeq.sorted.map { t =>
          s"SELECT '$t' AS tbl, CAST((SELECT COUNT(*) FROM $t) AS BIGINT) AS n_rows, " +
            s"CAST(${cols(t)} AS BIGINT) AS n_cols"
        }.mkString("", "\nUNION ALL ", "\nORDER BY tbl")
      }
    ),
    Q(
      "a28_expectations",
      "Declarative data-quality suite in ONE pass (Expectations.run, the " +
        "Deequ-style generalization of a13/a14's fixed integrity probes " +
        "and cleaner/cleaner.py's ad-hoc validation block): seven " +
        "constraints over documents — not-null + unique key, language " +
        "whitelist, length range, source-format regex, a cross-column " +
        "Satisfies and a minimum-length rule — compile to a SINGLE " +
        "aggregation (conditional counts + one count_distinct), so N " +
        "checks on 100 TB cost one scan, not N. The aggregate row " +
        "unpivots via stack into the (check_id, col_name, total, violations, " +
        "pass) report; the whitelist/range/regex rows are deliberately " +
        "violated by the fixture so both verdict paths are exercised",
      (s, d) => {
        import graft.ops.Expectations._
        run(documents(s, d), Seq(
          NotNull("doc_id"),
          Unique("doc_id"),
          InSet("lang", Seq("en", "fr", "de")),
          InRange("n_chars", 1, 500),
          MatchesRegex("source", "src[0-9]"),
          Satisfies("text", "len_eq_n_chars",
            length(col("text")).cast("long") === col("n_chars")),
          Satisfies("text", "min_len", length(col("text")) >= 60)))
      },
      Some {
        val d = "FROM documents"
        def row(id: String, c: String, viol: String) =
          s"SELECT '$id' AS check_id, '$c' AS col_name, " +
            s"CAST((SELECT COUNT(*) $d) AS BIGINT) AS total, " +
            s"CAST(($viol) AS BIGINT) AS violations, " +
            s"($viol) = 0 AS pass"
        Seq(
          row("not_null", "doc_id", s"SELECT COUNT(*) $d WHERE doc_id IS NULL"),
          row("unique", "doc_id",
            s"(SELECT COUNT(*) $d) - (SELECT COUNT(DISTINCT doc_id) $d)"),
          row("in_set", "lang",
            s"SELECT COUNT(*) $d WHERE NOT (lang IN ('en','fr','de'))"),
          row("in_range", "n_chars",
            s"SELECT COUNT(*) $d WHERE NOT (n_chars BETWEEN 1 AND 500)"),
          row("matches_regex", "source",
            s"SELECT COUNT(*) $d WHERE NOT regexp_full_match(source, 'src[0-9]')"),
          row("satisfies_len_eq_n_chars", "text",
            s"SELECT COUNT(*) $d WHERE text IS NOT NULL AND NOT (LENGTH(text) = n_chars)"),
          row("satisfies_min_len", "text",
            s"SELECT COUNT(*) $d WHERE text IS NOT NULL AND NOT (LENGTH(text) >= 60)"))
          .mkString("", "\nUNION ALL\n", "\nORDER BY check_id, col_name")
      }
    ),
    Q(
      "s17_catalyst_manifest_scan",
      "Planner-integrated manifest read end-to-end " +
        "(ManifestStore.read): per-customer order stats land in a " +
        "scratch manifest table, get z-order clustered into 4 key-range " +
        "slices with stats, and are read back through the custom " +
        "FileIndex with a PLAIN where() — the manifest's min/max prune " +
        "segments inside Catalyst (SCALE.md records 1-of-32 files " +
        "opened at the 100x decade), Spark's vectorized parquet reader " +
        "does the rest. The oracle replays filter + aggregate in SQL, so " +
        "the pruned physical path must agree with the declarative " +
        "semantics row for row",
      (s, d) => {
        import graft.ops.ManifestStore
        val target = orders(s, d)
          .groupBy("o_custkey")
          .agg(count(lit(1)).as("n_ord"),
            sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
          .coalesce(1)
        val scratch = java.nio.file.Files
          .createTempDirectory("graft-s17-").toString + "/t"
        ManifestStore.append(s, target, scratch)
        ManifestStore.cluster(s, scratch, axes = Seq("o_custkey"),
          segments = 4, statsCols = Seq("o_custkey"))
        ManifestStore.read(s, scratch)
          .where(col("o_custkey") >= 100L && col("o_custkey") <= 700L)
          .select("o_custkey", "n_ord", "total")
          .orderBy("o_custkey")
      },
      Some("""SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_ord,
             |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM orders GROUP BY o_custkey
             |HAVING o_custkey BETWEEN 100 AND 700
             |ORDER BY o_custkey""".stripMargin)
    ),
    Q(
      "s18_mor_delete_scan",
      "Merge-on-read deletion end-to-end " +
        "(ManifestStore.deleteKeysMergeOnRead): per-customer order stats " +
        "land in a scratch manifest table as two segments; the low-value " +
        "keys are MOR-deleted — one sidecar + one commit, ZERO segment " +
        "rewrites (the O(batch) GDPR path) — and the read-back assembles " +
        "the logical view by anti-joining the sidecar under the sequence " +
        "rule. The oracle replays the deletion as a HAVING filter, so the " +
        "sidecar-assembled physical path must agree with declarative " +
        "semantics row for row",
      (s, d) => {
        import graft.ops.ManifestStore
        val target = orders(s, d)
          .groupBy("o_custkey")
          .agg(count(lit(1)).as("n_ord"),
            sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
          .coalesce(1)
        val scratch = java.nio.file.Files
          .createTempDirectory("graft-s18-").toString + "/t"
        ManifestStore.append(s, target.where(col("o_custkey") % 2 === 0), scratch)
        ManifestStore.append(s, target.where(col("o_custkey") % 2 =!= 0), scratch)
        val doomed = ManifestStore.read(s, scratch)
          .where(col("total") < 100000.0).select("o_custkey")
        ManifestStore.deleteKeysMergeOnRead(s, scratch, "o_custkey", doomed)
        ManifestStore.read(s, scratch)
          .select("o_custkey", "n_ord", "total")
          .orderBy("o_custkey")
      },
      Some("""SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_ord,
             |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM orders GROUP BY o_custkey
             |HAVING NOT (total < 100000.0)
             |ORDER BY o_custkey""".stripMargin)
    ),
    Q(
      "a29_expectations_by_group",
      "Per-group data-quality report (Expectations.runBy): the a28 suite " +
        "keyed by language — ONE scan + a row-per-group shuffle however " +
        "many checks, each group's total/violations/pass its own verdict. " +
        "This is the shape that catches one bad upstream feed hiding " +
        "inside a healthy global aggregate (per-lang length ranges and " +
        "format rules differ by construction in the fixture, so verdicts " +
        "genuinely split by group)",
      (s, d) => {
        import graft.ops.Expectations._
        runBy(documents(s, d), Seq("lang"), Seq(
          InRange("n_chars", 1, 300),
          MatchesRegex("source", "src1?[0-9]"),
          Satisfies("text", "min_len", length(col("text")) >= 60)))
      },
      Some {
        def row(id: String, c: String, viol: String) =
          s"""SELECT lang, '$id' AS check_id, '$c' AS col_name,
             |CAST(COUNT(*) AS BIGINT) AS total,
             |CAST(COUNT(*) FILTER (WHERE $viol) AS BIGINT) AS violations,
             |COUNT(*) FILTER (WHERE $viol) = 0 AS pass
             |FROM documents GROUP BY lang""".stripMargin
        Seq(
          row("in_range", "n_chars", "NOT (n_chars BETWEEN 1 AND 300)"),
          row("matches_regex", "source",
            "NOT regexp_full_match(source, 'src1?[0-9]')"),
          row("satisfies_min_len", "text",
            "text IS NOT NULL AND NOT (LENGTH(text) >= 60)"))
          .mkString("SELECT * FROM (\n", "\nUNION ALL\n",
            "\n) ORDER BY lang, check_id, col_name")
      }
    ),
    Q(
      "sql3_manifest_insert",
      "Pure-SQL write surface for manifest tables " +
        "(sources/ManifestTableProvider, DSv2 with V1 shims — the analog " +
        "of the reference writing its Gold table with plain DuckDB SQL, " +
        "cleaner/duckdb_writer.py:141-207): CREATE TABLE ... USING " +
        "graft-manifest, two INSERT INTO commits (append: one segment + " +
        "one CAS publish each, stats via the statscols option), one " +
        "INSERT OVERWRITE (rewriteAll), then a filtered aggregate " +
        "SELECT back through the same catalog table — the read rides the " +
        "zero-listing manifest FileIndex, so the WHERE prunes segments " +
        "from recorded stats. The oracle replays the final table algebra " +
        "over the raw parquet, so the whole SQL write/read lifecycle must " +
        "agree with declarative semantics row for row",
      (s, d) => {
        val scratch = java.nio.file.Files
          .createTempDirectory("graft-sql3-").toString + "/t"
        nation(s, d).createOrReplaceTempView("sql3_nation")
        s.sql("DROP TABLE IF EXISTS sql3_tab")
        s.sql("CREATE TABLE sql3_tab (n_nationkey INT, n_name STRING, " +
          s"n_regionkey INT) USING `graft-manifest` " +
          s"OPTIONS (path '$scratch', statscols 'n_nationkey')")
        s.sql("INSERT INTO sql3_tab SELECT n_nationkey, n_name, n_regionkey " +
          "FROM sql3_nation WHERE n_regionkey < 3")
        s.sql("INSERT INTO sql3_tab SELECT n_nationkey, n_name, n_regionkey " +
          "FROM sql3_nation WHERE n_regionkey >= 3")
        s.sql("INSERT OVERWRITE sql3_tab SELECT n_nationkey, n_name, " +
          "n_regionkey FROM sql3_nation WHERE n_nationkey % 2 = 0")
        s.sql("""SELECT n_regionkey, CAST(COUNT(*) AS BIGINT) AS n,
                |CAST(SUM(CAST(n_nationkey AS BIGINT)) AS BIGINT) AS key_sum,
                |MIN(n_name) AS first_name
                |FROM sql3_tab WHERE n_nationkey >= 2
                |GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin)
      },
      Some("""SELECT n_regionkey, CAST(COUNT(*) AS BIGINT) AS n,
             |CAST(SUM(CAST(n_nationkey AS BIGINT)) AS BIGINT) AS key_sum,
             |MIN(n_name) AS first_name
             |FROM nation WHERE n_nationkey % 2 = 0 AND n_nationkey >= 2
             |GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin)
    ),
    Q(
      "sql4_restore",
      "Time-travel WRITE verb end-to-end (ManifestStore.restore, the " +
        "Delta RESTORE analog): commit two nation slices as v1/v2, " +
        "restore v1 (the v2 slice disappears — its entries are simply " +
        "not republished; zero data I/O, history intact), then append a " +
        "third slice on top of the restored state and read back through " +
        "the planner-integrated FileIndex. The oracle replays the " +
        "surviving set algebra (first slice + post-restore slice) over " +
        "the raw parquet, so restore's snapshot semantics must agree " +
        "with declarative set semantics row for row",
      (s, d) => {
        import graft.ops.ManifestStore
        val scratch = java.nio.file.Files
          .createTempDirectory("graft-sql4-").toString + "/t"
        val n = nation(s, d).select("n_nationkey", "n_name", "n_regionkey")
        ManifestStore.append(s, n.where(col("n_regionkey") < 2), scratch) // v1
        ManifestStore.append(s, n.where(col("n_regionkey") >= 2), scratch) // v2
        ManifestStore.restore(s, scratch, 1L) // v3 = v1's content
        ManifestStore.append(s, n.where(col("n_regionkey") === 4), scratch) // v4
        ManifestStore.read(s, scratch)
          .orderBy("n_nationkey")
      },
      Some("""SELECT n_nationkey, n_name, n_regionkey FROM nation
             |WHERE n_regionkey < 2 OR n_regionkey = 4
             |ORDER BY n_nationkey""".stripMargin)
    ),
    Q(
      "sql5_time_travel",
      "SQL time travel end-to-end (ManifestTableProvider versionAsOf): " +
        "two INSERT commits build versions 1 and 2, then a SECOND catalog " +
        "table over the same path frozen at versionAsOf '1' reads exactly " +
        "the first commit's content through the planner-integrated " +
        "FileIndex while the live table sees both. The oracle replays the " +
        "first slice over the raw parquet, so snapshot isolation of the " +
        "frozen view is hash-checked, not just spec-asserted",
      (s, d) => {
        val scratch = java.nio.file.Files
          .createTempDirectory("graft-sql5-").toString + "/t"
        region(s, d).select("r_regionkey", "r_name")
          .createOrReplaceTempView("sql5_region")
        s.sql("DROP TABLE IF EXISTS sql5_tab")
        s.sql("DROP TABLE IF EXISTS sql5_v1")
        s.sql("CREATE TABLE sql5_tab (r_regionkey INT, r_name STRING) " +
          s"USING `graft-manifest` OPTIONS (path '$scratch')")
        s.sql("INSERT INTO sql5_tab SELECT r_regionkey, r_name " +
          "FROM sql5_region WHERE r_regionkey < 3") // v1
        s.sql("INSERT INTO sql5_tab SELECT r_regionkey, r_name " +
          "FROM sql5_region WHERE r_regionkey >= 3") // v2
        s.sql("CREATE TABLE sql5_v1 (r_regionkey INT, r_name STRING) " +
          s"USING `graft-manifest` OPTIONS (path '$scratch', versionAsOf '1')")
        s.sql("""SELECT r_regionkey, r_name FROM sql5_v1
                |ORDER BY r_regionkey""".stripMargin)
      },
      Some("""SELECT r_regionkey, r_name FROM region
             |WHERE r_regionkey < 3 ORDER BY r_regionkey""".stripMargin)
    ),
    Q(
      "sql6_catalog_ddl",
      "Name-based catalog DDL + metadata-only schema evolution end-to-end " +
        "(sources/ManifestCatalog, a TableCatalog plugin — the reference's " +
        "information_schema surface, streamlit_frontend.py:440-444, without " +
        "per-statement path plumbing): CREATE TABLE in the catalog " +
        "warehouse, INSERT a slice, then ALTER TABLE RENAME COLUMN and " +
        "ALTER COLUMN TYPE (both pure-metadata CAS commits over stable " +
        "physical names — zero data I/O at any table size), INSERT the " +
        "second slice under the evolved schema, and SELECT back: the read " +
        "stitches pre-evolution segments (narrow type, old physical name) " +
        "with post-evolution ones through alias + vectorized-reader type " +
        "promotion. The oracle replays the final algebra over the raw " +
        "parquet, so rename/widen-on-read must agree with declarative " +
        "semantics row for row",
      (s, d) => {
        if (s.conf.getOption("spark.sql.catalog.graft_cat").isEmpty) {
          s.conf.set("spark.sql.catalog.graft_cat",
            "graft.sources.ManifestCatalog")
          s.conf.set("spark.sql.catalog.graft_cat.warehouse",
            java.nio.file.Files.createTempDirectory("graft-sql6-").toString)
        }
        nation(s, d).createOrReplaceTempView("sql6_nation")
        s.sql("DROP TABLE IF EXISTS graft_cat.default.nations")
        s.sql("CREATE TABLE graft_cat.default.nations (n_nationkey INT, " +
          "n_name STRING, n_regionkey INT) TBLPROPERTIES ('statscols'='n_nationkey')")
        s.sql("INSERT INTO graft_cat.default.nations SELECT n_nationkey, " +
          "n_name, n_regionkey FROM sql6_nation WHERE n_regionkey < 3")
        s.sql("ALTER TABLE graft_cat.default.nations " +
          "RENAME COLUMN n_nationkey TO nation_id")
        s.sql("ALTER TABLE graft_cat.default.nations " +
          "ALTER COLUMN nation_id TYPE BIGINT")
        s.sql("INSERT INTO graft_cat.default.nations SELECT " +
          "CAST(n_nationkey AS BIGINT), n_name, n_regionkey " +
          "FROM sql6_nation WHERE n_regionkey >= 3")
        // add + drop round-trip: both are pure-metadata commits; the
        // dropped column's physical name is tombstone-reserved and the
        // final read-back must be unaffected
        s.sql("ALTER TABLE graft_cat.default.nations ADD COLUMNS (scratch INT)")
        s.sql("ALTER TABLE graft_cat.default.nations DROP COLUMN scratch")
        s.sql("""SELECT n_regionkey, CAST(COUNT(*) AS BIGINT) AS n,
                |CAST(SUM(nation_id) AS BIGINT) AS key_sum,
                |MIN(n_name) AS first_name
                |FROM graft_cat.default.nations WHERE nation_id >= 2
                |GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin)
      },
      Some("""SELECT n_regionkey, CAST(COUNT(*) AS BIGINT) AS n,
             |CAST(SUM(CAST(n_nationkey AS BIGINT)) AS BIGINT) AS key_sum,
             |MIN(n_name) AS first_name
             |FROM nation WHERE n_nationkey >= 2
             |GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin)
    ),
    Q(
      "sql7_merge_dml",
      "SQL MERGE INTO end-to-end (plans/ManifestDmlStrategy routing the " +
        "analyzed MergeIntoTable onto ManifestStore.merge — the SQL " +
        "surface of the segment-granular copy-on-write verb; the " +
        "reference's only SQL write is the ON CONFLICT shape this family " +
        "covers, cleaner/duckdb_writer.py:141-207): per-customer order " +
        "stats land as two segments, then ONE statement updates matched " +
        "keys (SET *), deletes the high-total slice (WHEN MATCHED AND " +
        "... THEN DELETE), and inserts synthetic new keys gated by WHEN " +
        "NOT MATCHED. The oracle replays the three-way set algebra " +
        "(survivor targets + updated matches + inserts) in DuckDB CTEs, " +
        "so MERGE clause semantics are hash-checked row for row",
      (s, d) => {
        import graft.ops.ManifestStore
        graft.plans.ManifestDml.install(s)
        val scratch = java.nio.file.Files
          .createTempDirectory("graft-sql7-").toString + "/t"
        // localCheckpoint: the two appends, the MERGE source view (read
        // twice by the UNION ALL) and the store's own probe/stat passes all
        // re-derive from `stats` — without the cut each re-reads orders and
        // re-runs the aggregation (~6 redundant passes measured in r12's
        // stage probe), noise on top of the commit protocol this entry
        // exists to measure.
        val stats = orders(s, d)
          .groupBy("o_custkey")
          .agg(count(lit(1)).as("n_ord"),
            sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
          .localCheckpoint(eager = false)
        ManifestStore.append(s, stats.where(col("o_custkey") % 2 === 0), scratch,
          statsCols = Seq("o_custkey"))
        ManifestStore.append(s, stats.where(col("o_custkey") % 2 =!= 0), scratch,
          statsCols = Seq("o_custkey"))
        s.sql("DROP TABLE IF EXISTS sql7_tab")
        s.sql("CREATE TABLE sql7_tab (o_custkey BIGINT, n_ord BIGINT, " +
          s"total DOUBLE) USING `graft-manifest` " +
          s"OPTIONS (path '$scratch', statscols 'o_custkey')")
        stats.createOrReplaceTempView("sql7_stats")
        s.sql("""MERGE INTO sql7_tab t
                |USING (
                |  SELECT o_custkey, n_ord, total * 2 AS total
                |  FROM sql7_stats WHERE o_custkey % 3 = 0
                |  UNION ALL
                |  SELECT o_custkey + 1000000, n_ord, total
                |  FROM sql7_stats WHERE o_custkey % 5 = 0
                |) s
                |ON t.o_custkey = s.o_custkey
                |WHEN MATCHED AND s.total > 900000.0 THEN DELETE
                |WHEN MATCHED THEN UPDATE SET *
                |WHEN NOT MATCHED AND s.n_ord >= 2 THEN INSERT *""".stripMargin)
        s.sql("""SELECT o_custkey, n_ord, total FROM sql7_tab
                |ORDER BY o_custkey""".stripMargin)
      },
      Some("""WITH stats AS (
             |  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_ord,
             |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
             |  FROM orders GROUP BY o_custkey
             |), src AS (
             |  SELECT o_custkey, n_ord, total * 2 AS total
             |  FROM stats WHERE o_custkey % 3 = 0
             |  UNION ALL
             |  SELECT o_custkey + 1000000, n_ord, total
             |  FROM stats WHERE o_custkey % 5 = 0
             |), merged AS (
             |  SELECT t.* FROM stats t
             |  WHERE t.o_custkey NOT IN (SELECT o_custkey FROM src)
             |  UNION ALL
             |  SELECT s.* FROM src s
             |  WHERE s.o_custkey IN (SELECT o_custkey FROM stats)
             |    AND NOT (s.total > 900000.0)
             |  UNION ALL
             |  SELECT s.* FROM src s
             |  WHERE s.o_custkey NOT IN (SELECT o_custkey FROM stats)
             |    AND s.n_ord >= 2
             |)
             |SELECT o_custkey, n_ord, total FROM merged
             |ORDER BY o_custkey""".stripMargin)
    ),
    Q(
      "sql8_update_delete_dml",
      "SQL UPDATE and DELETE end-to-end (plans/ManifestDmlStrategy onto " +
        "ManifestStore.updateWhere/deleteWhere — merge's touched-segment " +
        "copy-on-write applied to arbitrary predicates: only segments " +
        "holding a matching row are rewritten, every other entry is " +
        "republished verbatim): UPDATE with a self-referencing SET over " +
        "one region, then DELETE over a key residue class, then the " +
        "read-back. The oracle replays both statements declaratively " +
        "(CASE projection + negated filter), so in-place edit semantics " +
        "are hash-checked row for row",
      (s, d) => {
        graft.plans.ManifestDml.install(s)
        val scratch = java.nio.file.Files
          .createTempDirectory("graft-sql8-").toString + "/t"
        nation(s, d).createOrReplaceTempView("sql8_nation")
        s.sql("DROP TABLE IF EXISTS sql8_tab")
        s.sql("CREATE TABLE sql8_tab (n_nationkey INT, n_name STRING, " +
          s"n_regionkey INT) USING `graft-manifest` " +
          s"OPTIONS (path '$scratch', statscols 'n_nationkey')")
        s.sql("INSERT INTO sql8_tab SELECT n_nationkey, n_name, n_regionkey " +
          "FROM sql8_nation WHERE n_nationkey % 2 = 0")
        s.sql("INSERT INTO sql8_tab SELECT n_nationkey, n_name, n_regionkey " +
          "FROM sql8_nation WHERE n_nationkey % 2 = 1")
        s.sql("UPDATE sql8_tab SET n_name = concat(n_name, '_EU') " +
          "WHERE n_regionkey = 3")
        s.sql("DELETE FROM sql8_tab WHERE n_nationkey % 4 = 1")
        s.sql("""SELECT n_nationkey, n_name, n_regionkey FROM sql8_tab
                |ORDER BY n_nationkey""".stripMargin)
      },
      Some("""SELECT n_nationkey,
             |CASE WHEN n_regionkey = 3 THEN n_name || '_EU' ELSE n_name END
             |  AS n_name,
             |n_regionkey
             |FROM nation WHERE NOT (n_nationkey % 4 = 1)
             |ORDER BY n_nationkey""".stripMargin)
    )
  )
}

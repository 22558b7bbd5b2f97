package graft

import org.apache.spark.sql.execution.FileSourceScanExec

import graft.analytics.Registry

/** Pins the physical-plan properties SCALE.md claims (pushdown, pruning,
  * top-k without global sort, key-only conflict scans) as regression tests —
  * a plan that silently loses them would still be correct but wrong at
  * 100 TB.
  */
class PlanAuditSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def scans(df: org.apache.spark.sql.DataFrame): Seq[FileSourceScanExec] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    // AQE wraps the tree in AdaptiveSparkPlanExec (a leaf from the outside);
    // walk through it and subqueries to reach the real scans.
    def walk(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case f: FileSourceScanExec    => Seq(f)
      case other => (other.children ++ other.subqueries).flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
  }

  test("s1: filter pushed into the parquet scan, ReadSchema pruned to referenced columns") {
    val df = Registry.byName("s1_scan_project_filter").fn(spark, sf)
    val scan = scans(df).head
    val meta = scan.metadata
    assert(meta("PushedFilters").contains("l_shipdate"),
      s"shipdate filter must reach the scan: ${meta("PushedFilters")}")
    val readSchema = meta("ReadSchema")
    assert(readSchema.contains("l_returnflag") && readSchema.contains("l_quantity"))
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_extendedprice"),
      s"unreferenced columns must be pruned: $readSchema")
  }

  test("j5: upsert conflict check scans only the key column of the existing side") {
    val df = Registry.byName("j5_upsert_anti_join").fn(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"), s"anti-join expected:\n$plan")
    // at least one scan reads exactly the single key column
    assert(scans(df).exists(_.metadata("ReadSchema").matches(".*struct<o_orderkey:bigint>.*")),
      scans(df).map(_.metadata("ReadSchema")).mkString("; "))
  }

  test("o2: top-k plans as TakeOrderedAndProject, never a global sort") {
    val df = Registry.byName("o2_topk_ordered").fn(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"top-k heap expected:\n$plan")
  }

  test("f8 chain: no buffer-everything Percentile node in the executed plan") {
    // The in-plan median comes from ScaleOps.exactQuantile (O(bins) state,
    // bitwise-equal to percentile — ScaleOpsSpec); a Percentile agg node
    // would buffer every speed_raw value in one buffer.
    val df = Registry.byName("f8_f9_f10_clean_chain").fn(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("percentile"), s"Percentile node found:\n$plan")
  }

  test("a5: aggregation is two-phase (partial before the exchange)") {
    val df = Registry.byName("a5_rate_by_group").fn(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("partial_"), s"map-side combine expected:\n$plan")
  }

  test("signature projection runs as native expressions, not interpreted lambda chains") {
    // The dedup family's CPU contract: one native traversal each for
    // shingling and the 8-way minhash (shingle3/minhash8). A lambda chain
    // creeping back (transform/aggregate HOFs interpret their functions per
    // element) would triple the signature projection's CPU — correct but
    // wrong at 100 TB. Audited on the signatures subplan directly: d2/d6
    // localCheckpoint it, which cuts it out of their final plan strings.
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = graft.ext.MinHash.signatures(docs, Seq("doc_id"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("shingle3") && plan.contains("minhash8"),
      s"native expressions expected in the signature plan:\n${plan.take(2000)}")
    assert(!plan.toLowerCase.contains("lambdafunction"),
      s"interpreted lambda found in the signature plan:\n${plan.take(2000)}")
  }

  test("n4: IVFPQ re-rank is the k-bounded TopK Aggregator, never a window sort") {
    val df = Registry.byName("n4_ann_ivfpq").fn(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"window re-rank would buffer per-query state:\n$plan")
    assert(plan.contains("ObjectHashAggregate") || plan.contains("SortAggregate"),
      s"TopK Aggregator expected in the re-rank:\n$plan")
  }

  test("n9: Hamming ANN is codegen'd integer arithmetic, broadcast queries, no Window") {
    val df = Registry.byName("n9_ann_hamming").fn(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"window re-rank would buffer per-query state:\n${plan.take(3000)}")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"query side must broadcast (corpus never shuffles for the distance):\n${plan.take(3000)}")
    // the signature build must stay native column arithmetic — an
    // interpreted lambda would take the 16-bytes/vector scan out of codegen
    assert(!plan.toLowerCase.contains("lambdafunction"),
      s"interpreted lambda found in the signature plan:\n${plan.take(3000)}")
  }

  test("t13: the filter funnel reads the corpus exactly once") {
    // all four per-doc statistics derive from one posting pass — a second
    // documents scan (the join-back shape) would double corpus IO at 100 TB
    val df = Registry.byName("t13_quality_filter_funnel").fn(spark, sf)
    assert(scans(df).length == 1, s"expected a single documents scan:\n${df.queryExecution}")
  }

  test("p14/p15/p17: quota sampling never plans a corpus-wide Window") {
    // row_number().over(partitionBy(lang)) would total-sort each language's
    // every row in one reducer — the majority language becomes THE straggler
    // at corpus scale. Selection must be the bounded-state threshold path
    // (ScaleOps.quotaSampleByGroup): a k-bounded aggregation + broadcast
    // threshold filter, no Window node anywhere in the executed plan.
    for (q <- Seq("p14_mixture_sample", "p15_temperature_mix", "p17_source_cap")) {
      val df = Registry.byName(q).fn(spark, sf)
      df.collect() // materialize so AQE finalizes the executed plan
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Window"), s"$q must not window-sort the corpus:\n${plan.take(3000)}")
      assert(plan.contains("ObjectHashAggregate") || plan.contains("SortAggregate"),
        s"$q: BottomK threshold aggregation expected:\n${plan.take(3000)}")
    }
  }

  test("t12/t5: per-term and per-vocab top-5 are k-bounded Aggregators, never a window") {
    // Window.partitionBy(term) ships every posting of a hot term to one task
    // for a full sort (t12); Window.partitionBy(lang) does the same with a
    // language's whole vocabulary (t5). Both route through bounded TopK
    // aggregation that reduces to 5 rows per partition map-side.
    for (q <- Seq("t12_bm25", "t5_tfidf")) {
      val df = Registry.byName(q).fn(spark, sf)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Window"), s"$q: no rank window expected:\n${plan.take(3000)}")
      assert(plan.contains("ObjectHashAggregate") || plan.contains("SortAggregate"),
        s"$q: TopK Aggregator expected in the re-rank:\n${plan.take(3000)}")
    }
  }

  test("w1: latest-per-key is a partial-aggregating argmax, not a per-key window sort") {
    val df = Registry.byName("w1_latest_per_key").fn(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"argmax aggregation expected:\n${plan.take(2000)}")
    assert(plan.contains("partial_"), s"map-side combine expected:\n${plan.take(2000)}")
  }

  test("d1: the keep-first window keys on sha2(text), not the raw document") {
    // the exchange/sort key must be the 64-char hash — shuffling full
    // document bodies as sort keys multiplies exchange volume by doc size.
    // sha2-256, not md5: the oracle partitions on raw text, so the hash must
    // be collision-resistant for the legs to agree on adversarial corpora.
    val df = Registry.byName("d1_dedup_exact").fn(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("sha2"), s"hash partition key expected:\n${plan.take(3000)}")
    assert(!plan.matches("(?s).*hashpartitioning\\(text.*"),
      s"raw text must not be the exchange key:\n${plan.take(3000)}")
  }

  test("d10: the posting-frequency join shuffles, not a broadcast of the posting table") {
    // Broadcasting the gram->df relation would build and ship a corpus-sized
    // hash map to every task; the fine-grained gram key partitions perfectly.
    // Since the session-8 100x-decade OOM finding, corpus-scale joins hint
    // "merge" (spillable) and AQE converts back to shuffled-hash when the
    // per-partition build fits — the pin accepts either SHUFFLE form.
    val df = Registry.byName("d10_dup_ngram_mass").fn(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin") || plan.contains("SortMergeJoin"),
      s"gram-frequency join must shuffle (hash or merge), never broadcast:\n${plan.take(3000)}")
  }

  test("t15: the frequency sketch partial-aggregates before the exchange, no Window") {
    // The sketch's whole point: at most c counters per lang per partition
    // cross the wire. A Window (or a missing partial phase) would put the
    // token stream itself through the shuffle.
    val df = Registry.byName("t15_heavy_hitters").fn(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("partial_"), s"map-side sketch combine expected:\n${plan.take(3000)}")
    assert(!plan.contains("Window"), s"no Window allowed:\n${plan.take(3000)}")
  }

  test("d12: span excision keeps the d10 posting shape — shuffle-hash join, no Window") {
    // Per-doc state is the start list (bounded by doc length); a Window or a
    // broadcast of the corpus-sized posting table would both be 100 TB bugs.
    val df = Registry.byName("d12_dup_span_removal").fn(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin") || plan.contains("SortMergeJoin"),
      s"gram posting join must shuffle (hash or merge), never broadcast:\n${plan.take(3000)}")
    assert(!plan.contains("Window"), s"no Window allowed:\n${plan.take(3000)}")
  }

  test("d13: paragraph dedup is a partial-aggregating min + shuffle-hash join, no Window") {
    // first-occurrence selection must reduce map-side (min(struct) partial
    // agg); the winner join stays shuffle-hash on the fine-grained hash key
    // (broadcasting a corpus-sized winner set would be the 100 TB bug); and
    // no per-segment Window anywhere.
    val df = Registry.byName("d13_paragraph_dedup").fn(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"no Window allowed:\n${plan.take(3000)}")
    assert(plan.contains("partial_"), s"map-side combine expected:\n${plan.take(3000)}")
    assert(plan.contains("ShuffledHashJoin") || plan.contains("SortMergeJoin"),
      s"winner join must shuffle (hash or merge), never broadcast:\n${plan.take(3000)}")
    assert(plan.contains("sha2"), s"hash exchange key expected:\n${plan.take(3000)}")
  }

  test("n7/n8: the kNN graph never broadcasts the corpus query side, no Window") {
    // knnGraph is lshTopK with the query broadcast dropped: both the bucket
    // self-join and the (qid -> query vector) join must shuffle — a
    // BroadcastHashJoin keyed on qid would ship the whole corpus's vectors
    // to every task. Re-rank stays the k-bounded TopK aggregator. The wide
    // n8 parameterization is the same plan with a longer band key.
    for (name <- Seq("n7_knn_graph", "n8_knn_graph_wide")) {
    val df = Registry.byName(name).fn(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"no Window allowed:\n${plan.take(3000)}")
    assert(plan.contains("ShuffledHashJoin") || plan.contains("SortMergeJoin"),
      s"payload joins must shuffle on id keys, not broadcast:\n${plan.take(3000)}")
    assert(!plan.matches("(?s).*BroadcastHashJoin \\[qid.*"),
      s"the query-vector join must not broadcast the corpus:\n${plan.take(3000)}")
    assert(plan.contains("ObjectHashAggregate") || plan.contains("SortAggregate"),
      s"TopK Aggregator expected in the re-rank:\n${plan.take(3000)}")
    }
  }

  test("d14: edit verify runs on joined-by-id candidates — no Window, integer predicate") {
    // The levenshtein DP must see only band-join candidates (text joins in
    // by id), and the threshold is exact integer arithmetic: no division
    // and no float comparison in the verify predicate.
    val df = Registry.byName("d14_edit_dedup").fn(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"no Window allowed:\n${plan.take(3000)}")
    assert(plan.contains("levenshtein"), s"edit-distance verify expected:\n${plan.take(3000)}")
  }

  test("d15: the source-overlap gram self-join shuffles, only the counts broadcast") {
    // The (source, gram) posting table is corpus-sized: the self-join must
    // shuffle on the gram key (a broadcast would ship a corpus's vocabulary
    // to every task), and no Window anywhere. The per-source count joins
    // MAY broadcast — |sources| rows is a deployment constant.
    val df = Registry.byName("d15_source_overlap").fn(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"no Window allowed:\n${plan.take(3000)}")
    assert(plan.contains("ShuffledHashJoin") || plan.contains("SortMergeJoin"),
      s"gram self-join must shuffle (hash or merge), never broadcast:\n${plan.take(3000)}")
    assert(!plan.matches("(?s).*BroadcastHashJoin \\[gram.*"),
      s"the gram posting table must never broadcast:\n${plan.take(3000)}")
  }

  test("e4: the projection audit join shuffles on the id key — no broadcast, no Window") {
    // Both sides of the adjacent-id pair join are the corpus: at fixture
    // scale AQE would happily broadcast one, which is exactly the plan that
    // cannot exist at 100 TB. The projection itself must stay scan-side
    // column arithmetic (no extra exchange below the join).
    val df = Registry.byName("e4_random_projection").fn(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"no Window allowed:\n${plan.take(3000)}")
    assert(plan.contains("ShuffledHashJoin") || plan.contains("SortMergeJoin"),
      s"pair join must shuffle on the id key:\n${plan.take(3000)}")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"pair sampling must stay an equi-join:\n${plan.take(3000)}")
  }

  test("w5: the funnel is chained co-partitioned joins — no Window, no sequence scan") {
    // Per-user state is one min-ts per step; the step frames (user
    // cardinality) must shuffle, not broadcast, and there is no Window or
    // per-user collect anywhere. The 4-row summary legs may broadcast.
    val df = Registry.byName("w5_funnel").fn(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"no Window allowed:\n${plan.take(3000)}")
    assert(plan.contains("ShuffledHashJoin") || plan.contains("SortMergeJoin"),
      s"step joins must shuffle on user_id:\n${plan.take(3000)}")
    assert(plan.contains("partial_min"), s"map-side min combine expected:\n${plan.take(3000)}")
  }

  test("x2: the embedding-prep DAG is one scan, cell-blocked pairs, no Window") {
    // The dominance join must stay blocked on the cell key (no cartesian),
    // the projection is scan-side arithmetic (no extra shuffle below the
    // final rollup joins), and there is no Window anywhere.
    val df = Registry.byName("x2_embedding_prep_pipeline").fn(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"no Window allowed:\n${plan.take(3000)}")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"dominance pairs must stay cell-blocked:\n${plan.take(3000)}")
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      s"map-side combine expected in the rollup:\n${plan.take(3000)}")
  }

  test("d11: the bloom probe filters the corpus grams BELOW the verify join") {
    // The whole point of the bloom path: non-matching grams die scan-side,
    // so the exchange feeding the verify join carries O(hits), not
    // O(corpus grams). The probe compiles to shiftright/element_at over the
    // literal word array — find that Filter and assert no join runs under it
    // (i.e. it prefilters a join INPUT rather than post-filtering its output).
    import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val df = Registry.byName("d11_decontaminate_bloom").fn(spark, sf)
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => p +: walk(a.executedPlan)
      case other => p +: (other.children ++ other.subqueries).flatMap(walk)
    }
    val nodes = walk(df.queryExecution.executedPlan)
    val probes = nodes.collect {
      case f: FilterExec if f.condition.toString.contains("shiftright") => f
    }
    assert(probes.nonEmpty, "bloom probe Filter not found in the executed plan")
    probes.foreach { f =>
      val below = walk(f).map(_.nodeName.toLowerCase)
      assert(!below.exists(_.contains("join")),
        s"bloom probe must sit on the scan side, found a join beneath it: $below")
    }
  }

  test("j6: the interval join runs as a bucket equi-join — never BNLJ or cartesian") {
    // A raw `ts BETWEEN s AND e` join has no equi-predicate and plans as
    // BroadcastNestedLoopJoin (O(n*m) compares). The bucketed rewrite must
    // give Catalyst an equi-key so the join shuffles and the BETWEEN runs
    // as a post-join filter.
    val df = Registry.byName("j6_interval_join").fn(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"interval join degenerated to BNLJ:\n${plan.take(3000)}")
    assert(!plan.contains("CartesianProduct"),
      s"interval join degenerated to a cartesian product:\n${plan.take(3000)}")
  }

  test("p18: priority sampling is the k-bounded TopK Aggregator, no Window") {
    val df = Registry.byName("p18_priority_sample").fn(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"priority sampling must not plan a per-lang window sort:\n${plan.take(3000)}")
    assert(plan.contains("ObjectHashAggregate") || plan.contains("SortAggregate"),
      s"typed TopK aggregation expected:\n${plan.take(3000)}")
  }

  test("w9/a21: OHLC and mode are partial-aggregating argmin/argmax, never a window sort") {
    Seq("w9_ohlc", "a21_mode_by_group").foreach { name =>
      val df = Registry.byName(name).fn(spark, sf)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Window"),
        s"$name must not plan a per-group window sort:\n${plan.take(2000)}")
      assert(plan.contains("partial_min") || plan.contains("partial_max") ||
        plan.contains("partial_count"),
        s"$name: map-side combine expected:\n${plan.take(2000)}")
    }
  }

  test("o8: the keyset predicate pushes to the scan and the page is a top-k heap") {
    val df = Registry.byName("o8_keyset_pagination").fn(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"page must plan as a top-k heap, not a global sort:\n${plan.take(2000)}")
    val pushed = scans(df).head.metadata("PushedFilters")
    assert(pushed.contains("l_orderkey"),
      s"the cursor bound must reach the parquet scan: $pushed")
  }

  test("a19: the column profile is one scan feeding an Expand, not five scans") {
    val df = Registry.byName("a19_column_profile").fn(spark, sf)
    assert(scans(df).size == 1,
      s"profile must read the table once, saw ${scans(df).size} scans")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Expand"),
      s"multi-column COUNT(DISTINCT) should plan as one Expand:\n${plan.take(3000)}")
  }

  test("j9: the bloom probe prunes the fact scan BELOW the semi join") {
    // Same discipline as the d11 pin, applied to the relational join: the
    // probe Filter (shiftright/element_at over the literal word array) must
    // sit on the scan side — a join beneath it would mean it post-filters
    // join output instead of pruning join input.
    import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val df = Registry.byName("j9_bloom_semi_join").fn(spark, sf)
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => p +: walk(a.executedPlan)
      case other => p +: (other.children ++ other.subqueries).flatMap(walk)
    }
    val nodes = walk(df.queryExecution.executedPlan)
    val probes = nodes.collect {
      case f: FilterExec if f.condition.toString.contains("shiftright") => f
    }
    assert(probes.nonEmpty, "bloom probe Filter not found in the executed plan")
    probes.foreach { f =>
      val below = walk(f).map(_.nodeName.toLowerCase)
      assert(!below.exists(_.contains("join")),
        s"bloom probe must prune the scan, found a join beneath it: $below")
    }
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), s"exact verify must be a semi join:\n${plan.take(2000)}")
  }

  test("u3: the snapshot diff shuffles (key, hash) projections, never the wide row") {
    val df = Registry.byName("u3_snapshot_diff").fn(spark, sf)
    // Both scans must read only the three columns the hash consumes —
    // a diff that drags value/ts/user_id through the exchange is reading
    // the wide row it promised to avoid.
    scans(df).foreach { sc =>
      val rs = sc.metadata("ReadSchema")
      assert(!rs.contains("value") && !rs.contains("user_id") && !rs.contains("ts:"),
        s"diff must project before the join, ReadSchema carries extra columns: $rs")
    }
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("FullOuter"), s"full outer classify expected:\n${plan.take(2000)}")
  }

  test("w11: the resample grid joins on equi-keys — never BNLJ or cartesian") {
    val df = Registry.byName("w11_resample_ffill").fn(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"grid-to-events must stay an equi-join:\n${plan.take(3000)}")
    assert(plan.contains("Generate"),
      s"the hour grid should come from a sequence/explode Generate:\n${plan.take(3000)}")
  }

  test("q3/q5: dimension sides broadcast, single-table predicates reach their scans") {
    for (name <- Seq("q3_shipping_priority", "q5_local_supplier_volume")) {
      val df = Registry.byName(name).fn(spark, sf)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"$name: dimension joins must broadcast:\n${plan.take(2000)}")
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
        s"$name: no unkeyed join allowed:\n${plan.take(2000)}")
      val pushed = scans(df).map(_.metadata("PushedFilters")).mkString("; ")
      assert(pushed.contains("o_orderdate"),
        s"$name: the date predicate must reach the orders scan: $pushed")
    }
    // q3's lineitem scan must also push the shipdate bound
    val q3 = Registry.byName("q3_shipping_priority").fn(spark, sf)
    assert(scans(q3).exists(_.metadata("PushedFilters").contains("l_shipdate")),
      scans(q3).map(_.metadata("PushedFilters")).mkString("; "))
  }

  test("sql2: correlated subqueries decorrelate to joins — no per-row re-execution") {
    val df = Registry.byName("sql2_decorrelated_subquery").fn(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"),
      s"NOT EXISTS must become an anti join:\n${plan.take(3000)}")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"decorrelation must produce keyed joins:\n${plan.take(3000)}")
    // the per-customer average must be a joined aggregate, not a scalar
    // subquery re-evaluated per row
    assert(plan.contains("avg(":String) || plan.contains("partial_avg"),
      s"the correlated average must appear as an aggregate in the plan:\n${plan.take(3000)}")
  }

  test("a22: MAD runs through the quantile descent — no Percentile buffer in the plan") {
    val df = Registry.byName("a22_mad_outliers").fn(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Percentile"),
      s"median/MAD must use ScaleOps' O(bins) descent, not percentile():\n${plan.take(3000)}")
  }

  test("d2: verify broadcasts pair/candidate ids; corpus shingle payloads never ride a doc_id exchange") {
    // The round-8 invariant, tiered in round 9 (Similarity.scala scaladoc):
    // whichever tier runs, the near-dup verify must (a) bound the signature
    // table by a BROADCAST built from the materialized candidate table —
    // planned at INITIAL planning, because AQE's late SMJ->BHJ conversion
    // arrives after the corpus side's exchange has already shipped — and
    // (b) never run a shuffled join whose LEADING key is the bare corpus
    // doc_id (that is the whole-corpus signature-payload exchange the
    // round-8 rebuild removed). At spec scale the PAYLOAD tier runs: the
    // pair-colocating join keys on the pair id (id_b) with both sides
    // candidate-bounded.
    val df = Registry.byName("d2_dedup_minhash_lsh").fn(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"candidate bounding must be a broadcast semi-join:\n${plan.take(3000)}")
    assert(!plan.contains("SortMergeJoin [doc_id") && !plan.contains("ShuffledHashJoin [doc_id"),
      s"no shuffled join may key on bare doc_id (signature-payload exchange):\n${plan.take(3000)}")
    assert(plan.contains("Join [id_b"),
      s"the payload tier colocates sets by the pair id:\n${plan.take(3000)}")
    // Force the POSTING tier (the at-scale shape) on the registered query:
    // its join must key on the fine-grained posting term, never the
    // signature row.
    spark.conf.set("graft.payloadPairBound", "0")
    try {
      val df2 = Registry.byName("d2_dedup_minhash_lsh").fn(spark, sf)
      val plan2 = df2.queryExecution.executedPlan.toString
      assert(!plan2.contains("SortMergeJoin [doc_id") && !plan2.contains("ShuffledHashJoin [doc_id"),
        s"posting tier: no shuffled join on bare doc_id:\n${plan2.take(3000)}")
      assert(plan2.contains("hashpartitioning(shingle") || plan2.contains("Join [shingle"),
        s"posting tier must key on postings (shingle):\n${plan2.take(3000)}")
    } finally spark.conf.unset("graft.payloadPairBound")
  }

  test("t20: LM scoring has no corpus-global window; every window is a __pid range slice") {
    // The perplexity pipeline's only windows belong to the w14 ranking
    // discipline (partitioned by (__pid, lang) — bounded range slices). A
    // Window partitioned by bare `lang` would sort a whole language's
    // documents in one task; a Window with no partition would sort the
    // corpus. Both are the shapes this pin rejects.
    val df = Registry.byName("t20_lm_perplexity").fn(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    val windowSpecs = plan.linesIterator.filter(_.contains("Window ")).toSeq
    // r12: the ranking leg no longer plans ANY window — rn is frozen
    // in-partition position arithmetic over the checkpoint (see
    // ScaleOps.groupedGlobalRowNumber). If a window ever reappears it must
    // be a __pid range slice, never a whole language or the corpus.
    windowSpecs.foreach(w =>
      assert(w.contains("__pid"),
        s"every t20 window must partition by the range-slice id:\n$w"))
    // and no join plans a cartesian/BNLJ (the count tables join by key)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"count-table joins must be keyed:\n${plan.take(3000)}")
  }

  test("catalog-table SELECT plans the NATIVE columnar parquet scan: no row-conversion shim, pruning and stats-skip intact") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.datasources.FilePartition
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val dir = tmpDir("planNative") + "/t"
    spark.sql("DROP TABLE IF EXISTS plan_native_t")
    spark.sql("CREATE TABLE plan_native_t (k BIGINT, v STRING, w STRING) " +
      s"USING `graft-manifest` OPTIONS (path '$dir', statscols 'k')")
    spark.sql("INSERT INTO plan_native_t VALUES (1,'a','x'), (2,'b','y')")
    spark.sql("INSERT INTO plan_native_t VALUES (100,'c','z'), (200,'d','w')")
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => p +: walk(a.executedPlan)
      case other => p +: (other.children ++ other.subqueries).flatMap(walk)
    }
    def batchOf(sql: String): BatchScanExec = {
      val df = spark.sql(sql)
      df.collect()
      val nodes = walk(df.queryExecution.executedPlan)
      assert(!nodes.exists(_.getClass.getSimpleName.contains("RDDScan")),
        s"catalog SELECT must not plan an ExternalRDD/row-conversion node:\n" +
          df.queryExecution.executedPlan)
      nodes.collectFirst { case b: BatchScanExec => b }.getOrElse(
        fail(s"no BatchScanExec in:\n${df.queryExecution.executedPlan}"))
    }
    def plannedFiles(b: BatchScanExec): Int =
      b.scan.toBatch.planInputPartitions().map {
        case fp: FilePartition => fp.files.length
        case _ => 0
      }.sum
    val filtered = batchOf("SELECT k FROM plan_native_t WHERE k >= 100")
    assert(filtered.scan.getClass.getSimpleName == "ParquetScan",
      s"native path must plan Spark's own ParquetScan, got ${filtered.scan.getClass}")
    assert(filtered.supportsColumnar,
      "the native catalog scan must serve COLUMNAR batches")
    // column pruning reaches the v2 scan: a 1-column SELECT reads 1 column
    assert(filtered.scan.readSchema().fieldNames.toSeq == Seq("k"),
      s"readSchema must prune to the projection: ${filtered.scan.readSchema()}")
    // manifest-stats skip: k >= 100 plans only the second commit's file(s)
    val full = batchOf("SELECT k FROM plan_native_t")
    assert(plannedFiles(filtered) < plannedFiles(full),
      s"stats pruning lost: ${plannedFiles(filtered)} vs ${plannedFiles(full)} files")
    // the v1shim measurement/debug escape hatch still plans (and agrees)
    val shim = spark.read.format("graft-manifest")
      .option("path", dir).option("v1shim", "true").load()
      .where(org.apache.spark.sql.functions.col("k") >= 100).select("k")
    assert(shim.collect().map(_.getLong(0)).sorted.toSeq == Seq(100L, 200L))
    spark.sql("DROP TABLE plan_native_t")
  }

  test("renamed (column-mapped) table: stats pruning and column pruning survive the alias projection") {
    import org.apache.spark.sql.functions.col
    import graft.ops.ManifestStore
    import spark.implicits._
    val dir = tmpDir("planMapped") + "/t"
    // one file per segment, so files-planned counts segments exactly
    ManifestStore.append(spark, Seq((1L, "a", "x"), (2L, "b", "y"))
      .toDF("k", "v", "w").coalesce(1), dir, statsCols = Seq("k"))
    ManifestStore.append(spark, Seq((100L, "c", "z"), (200L, "d", "q"))
      .toDF("k", "v", "w").coalesce(1), dir, statsCols = Seq("k"))
    ManifestStore.renameColumn(spark, dir, "k", "id")
    // the logical filter on the RENAMED column pushes through the alias
    // projection as a physical-named predicate, which is what the
    // manifest stats are keyed on: only the second segment's file scans
    val df = ManifestStore.read(spark, dir)
      .where(col("id") >= 100L).select("id")
    // collect THIS dataframe (a derived Dataset would build its own
    // QueryExecution and leave the executed plan unpopulated)
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == Seq(100L, 200L))
    val scan = scans(df).head
    // count enumerated files from the FileScanRDD partitions (the driver's
    // numFiles metric posts asynchronously on the listener bus)
    val planned = scan.inputRDDs().head.partitions.map(
      _.asInstanceOf[org.apache.spark.sql.execution.datasources.FilePartition]
        .files.length).sum
    assert(planned == 1,
      s"stats pruning must survive the rename: $planned files planned")
    // pushdown + column pruning reach the scan under the PHYSICAL name
    assert(scan.metadata("PushedFilters").contains("k"),
      s"physical-named filter must reach the scan: ${scan.metadata("PushedFilters")}")
    assert(scan.metadata("ReadSchema").contains("k:bigint") &&
      !scan.metadata("ReadSchema").contains("v"),
      s"read schema must prune to the one physical column: ${scan.metadata("ReadSchema")}")
  }
}

package graft

import org.apache.spark.sql.Row

import graft.analytics.Registry

/** Semantic invariants for the round-5 additions d8/t12 — the DuckDB oracle
  * gates exact values at all three SFs; these pin the properties a refactor
  * must preserve even where the gate isn't run (plain `sbt test`).
  */
class ExtensionQueriesSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("d8_cluster_canonical: keep-one-per-family accounting is consistent") {
    val rows = Registry.byName("d8_cluster_canonical").fn(spark, sf).collect()
    assert(rows.nonEmpty, "fixture has near-dup families")
    // families can span langs (the canonical doc then sits in ONE of them),
    // so per-lang `members - families` is NOT the drop count — only the
    // per-lang bounds and the global rollup are invariant.
    rows.foreach { r =>
      val families = r.getAs[Long]("families")
      val members = r.getAs[Long]("members")
      val dropped = r.getAs[Long]("dropped_docs")
      assert(families >= 1 && members >= families, s"$r: impossible family shape")
      assert(dropped <= members, s"$r: dropped more docs than the lang has")
      assert(r.getAs[Long]("kept_chars") >= 0 && r.getAs[Long]("dropped_chars") >= 0)
    }
    val kept = rows.map(r => r.getAs[Long]("members") - r.getAs[Long]("dropped_docs")).sum
    val droppedDocs = rows.map(_.getAs[Long]("dropped_docs")).sum
    val keptChars = rows.map(_.getAs[Long]("kept_chars")).sum
    val droppedChars = rows.map(_.getAs[Long]("dropped_chars")).sum
    assert(kept >= 1, "at least one canonical doc survives")
    assert(kept <= rows.map(_.getAs[Long]("families")).sum,
      "kept docs (one per true family) can't exceed the per-lang family rollup")
    // each family's keeper is its n_chars max, so per family
    // kept_f * dropped_f >= droppedChars_f; summing and bounding by the
    // product of sums gives the global form
    if (droppedDocs > 0)
      assert(keptChars * droppedDocs >= droppedChars,
        "kept docs can't be shorter than the dropped mass allows (max-per-family rule)")
  }

  test("d8 agrees with d6 on family/member counts per lang") {
    val d6 = Registry.byName("d6_dedup_cluster").fn(spark, sf).collect()
      .map(r => r.getAs[String]("lang") ->
        (r.getAs[Long]("clustered_docs"), r.getAs[Long]("families"))).toMap
    val d8 = Registry.byName("d8_cluster_canonical").fn(spark, sf).collect()
      .map(r => r.getAs[String]("lang") ->
        (r.getAs[Long]("members"), r.getAs[Long]("families"))).toMap
    assert(d8 == d6, "d8 re-derives d6's clustering; the rollups must match")
  }

  test("t12_bm25: dense per-term ranks, positive integer stats") {
    val rows = Registry.byName("t12_bm25").fn(spark, sf).collect()
    assert(rows.nonEmpty, "query terms absent from fixture corpus")
    rows.groupBy(_.getAs[String]("term")).foreach { case (term, rs) =>
      val ranks = rs.map(_.getAs[Long]("rank")).sorted.toSeq
      assert(ranks == (1L to ranks.length.toLong), s"$term: ranks not dense from 1")
      assert(ranks.length <= 5, s"$term: top-k leak")
      rs.foreach { r =>
        assert(r.getAs[Long]("tf") >= 1 && r.getAs[Long]("dl") >= 1, s"bad stats: $r")
        // every returned doc matched the term, so df covers at least these docs
        assert(r.getAs[Long]("df") >= ranks.length.toLong, s"df below result count: $r")
      }
    }
  }

  test("t12_bm25: ranking follows the BM25 ordering contract (tf up, dl down)") {
    // among returned docs for one term, equal-dl docs must rank by tf desc,
    // and equal-tf docs by dl asc (b>0 penalizes long docs); doc_id breaks ties
    val rows = Registry.byName("t12_bm25").fn(spark, sf).collect()
    rows.groupBy(_.getAs[String]("term")).foreach { case (term, rs) =>
      val byRank = rs.sortBy(_.getAs[Long]("rank"))
      byRank.sliding(2).foreach {
        case Array(hi, lo) =>
          val (tfH, dlH) = (hi.getAs[Long]("tf"), hi.getAs[Long]("dl"))
          val (tfL, dlL) = (lo.getAs[Long]("tf"), lo.getAs[Long]("dl"))
          if (dlH == dlL)
            assert(tfH >= tfL, s"$term: equal-dl pair ranked against tf: $hi vs $lo")
          if (tfH == tfL && dlH == dlL)
            assert(hi.getAs[Long]("doc_id") < lo.getAs[Long]("doc_id"),
              s"$term: tie not broken by doc_id")
        case _ => ()
      }
    }
  }

  test("t13_quality_filter_funnel: drop accounting brackets the survivor count") {
    val rows = Registry.byName("t13_quality_filter_funnel").fn(spark, sf).collect()
    assert(rows.nonEmpty)
    val druleNames = Seq("drop_wc", "drop_mwl", "drop_uniq", "drop_dom")
    rows.foreach { r =>
      val docs = r.getAs[Long]("docs")
      val kept = r.getAs[Long]("kept")
      val drops = druleNames.map(r.getAs[Long](_))
      drops.foreach(dc => assert(dc >= 0 && dc <= docs, s"$r: drop count out of range"))
      // kept = docs - |union of rule failures|, so it sits between the
      // all-overlap bound (docs - max drop) and the disjoint bound
      // (docs - sum of drops)
      assert(kept <= docs - drops.max, s"$r: kept above the max-drop bound")
      assert(kept >= math.max(0L, docs - drops.sum), s"$r: kept below the disjoint bound")
    }
    val totalDocs = rows.map(_.getAs[Long]("docs")).sum
    val nDocs = graft.analytics.Tables.documents(spark, sf).count()
    assert(totalDocs == nDocs, "funnel must account for every document")
    assert(rows.map(_.getAs[Long]("kept")).sum > 0, "thresholds reject the whole fixture")
    assert(druleNames.map(n => rows.map(_.getAs[Long](n)).sum).sum > 0,
      "thresholds drop nothing — the funnel gates no rule")
  }

  test("x3_quality_lane: a null-text document is excluded, as t13 and the oracle exclude it") {
    val dir = tmpDir("x3null")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // a held-out doc (doc_id % 10 != 0) whose text is null
    docs.unionByName(docs.limit(1).selectExpr("CAST(1000001 AS BIGINT) AS doc_id",
        "CAST(NULL AS STRING) AS text", "lang", "source", "n_chars"))
      .write.parquet(s"$dir/documents.parquet")
    def x3(d: String) = Registry.byName("x3_quality_lane").fn(spark, d).collect().toSeq
    // without ANSI, size(NULL) is -1, so an unguarded null doc would land
    // in the dropped tranche with negative token mass
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    try Seq("false", "true").foreach { mode =>
      spark.conf.set("spark.sql.ansi.enabled", mode)
      assert(x3(dir) == x3(sf), s"ansi=$mode: the null-text doc changed x3")
    } finally spark.conf.set("spark.sql.ansi.enabled", ansi)
  }

  test("d10_dup_ngram_mass: exact-duplicate docs are heavy by construction") {
    val rows = Registry.byName("d10_dup_ngram_mass").fn(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("dup_grams") <= r.getAs[Long]("grams"), s"$r: dup mass > total")
      assert(r.getAs[Long]("heavy_docs") <= r.getAs[Long]("docs"), s"$r: heavy > docs")
    }
    val totalDocs = rows.map(_.getAs[Long]("docs")).sum
    assert(totalDocs == graft.analytics.Tables.documents(spark, sf).count())
    // any doc with an identical-text twin and >= 5 tokens shares ALL its
    // 5-grams, so its dup fraction is 1 — a guaranteed-heavy lower bound
    val exactDupDocs = graft.analytics.Tables.documents(spark, sf)
      .selectExpr("text", "size(split(text, ' ')) AS nt")
      .where("nt >= 5").groupBy("text").count().where("count >= 2")
      .selectExpr("CAST(sum(count) AS LONG)").collect()(0)
    val lower = if (exactDupDocs.isNullAt(0)) 0L else exactDupDocs.getLong(0)
    assert(rows.map(_.getAs[Long]("heavy_docs")).sum >= lower,
      s"exact-dup docs ($lower) must all be dup-gram heavy")
  }

  test("x1_corpus_prep_pipeline: stage arithmetic is internally consistent") {
    val rows = Registry.byName("x1_corpus_prep_pipeline").fn(spark, sf).collect()
    assert(rows.nonEmpty, "pipeline must keep some documents")
    rows.foreach { r =>
      val docs = r.getAs[Long]("docs")
      val tokens = r.getAs[Long]("tokens")
      val chunks = r.getAs[Long]("chunks")
      // survivors passed the word-count rule, so 30 <= ntok <= 80 per doc
      assert(tokens >= docs * 30 && tokens <= docs * 80,
        s"$r: token mass outside the filter's own bounds")
      // every doc packs >= 1 chunk; at ntok <= 80 the t6 window arithmetic
      // caps at 2 chunks per doc
      assert(chunks >= docs && chunks <= docs * 2, s"$r: chunk count out of range")
      assert(Set("train", "val", "test")(r.getAs[String]("split")), s"$r: unknown split")
    }
    // the pipeline's survivors can never exceed t13's per-lang kept counts
    // (x1 applies the same rules, then drops exact dups on top)
    val keptByLang = Registry.byName("t13_quality_filter_funnel").fn(spark, sf).collect()
      .map(r => r.getAs[String]("lang") -> r.getAs[Long]("kept")).toMap
    rows.groupBy(_.getAs[String]("lang")).foreach { case (lang, rs) =>
      val total = rs.map(_.getAs[Long]("docs")).sum
      assert(total <= keptByLang.getOrElse(lang, 0L),
        s"$lang: pipeline kept $total docs but the filter alone keeps ${keptByLang.get(lang)}")
    }
  }

  test("e2_matryoshka_fidelity: fidelity is monotone in the truncation width") {
    val rows = Registry.byName("e2_matryoshka_fidelity").fn(spark, sf).collect()
      .sortBy(_.getAs[Int]("k"))
    assert(rows.map(_.getAs[Int]("k")).toSeq == Seq(8, 16, 32))
    // a longer prefix can only add non-negative squared mass, so per-row
    // cosine — and thus every rollup — is non-decreasing in k
    rows.sliding(2).foreach {
      case Array(lo, hi) =>
        assert(hi.getAs[Long]("high_fidelity") >= lo.getAs[Long]("high_fidelity"),
          s"high-fidelity count must grow with k: $lo vs $hi")
        assert(hi.getAs[Double]("min_cos") >= lo.getAs[Double]("min_cos"),
          s"min cosine must grow with k: $lo vs $hi")
      case _ => ()
    }
    rows.foreach { r =>
      val (mn, mx) = (r.getAs[Double]("min_cos"), r.getAs[Double]("max_cos"))
      assert(mn >= 0.0 && mx <= 1.0 + 1e-12 && mn <= mx, s"cosine out of range: $r")
    }
  }

  test("p15_temperature_mix: quotas up-weight low-resource langs vs proportional share") {
    val rows = Registry.byName("p15_temperature_mix").fn(spark, sf).collect()
    assert(rows.nonEmpty)
    val totalDocs = rows.map(_.getAs[Long]("docs")).sum
    rows.foreach { r =>
      val docs = r.getAs[Long]("docs")
      val quota = r.getAs[Long]("quota")
      val sampled = r.getAs[Long]("sampled")
      assert(sampled == math.min(quota, docs), s"$r: sampling must fill the quota or the lang")
      // temperature 0.5: sampled share >= proportional share for langs below
      // the mean share, the whole point of the reweighting (quota*totalDocs
      // vs 60*docs compares shares integer-exactly up to the floor)
      if (docs * rows.length < totalDocs)
        assert(quota * totalDocs >= 60L * docs - totalDocs,
          s"$r: low-resource lang must not be under-weighted vs proportional")
    }
  }

  test("d9_semdedup: cell accounting is exact and the dominance rule never empties a cell") {
    val rows = Registry.byName("d9_semdedup").fn(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val members = r.getAs[Long]("members")
      val kept = r.getAs[Long]("kept")
      val dropped = r.getAs[Long]("dropped")
      assert(kept + dropped == members, s"$r: kept + dropped != members")
      // the lowest-id member of a cell has no earlier neighbor, so the
      // dominance rule can never drop an entire cell
      assert(kept >= 1, s"$r: cell fully dropped")
      val c = r.getAs[Int]("cluster")
      assert(c >= 0 && c < 8, s"$r: cluster id outside the codebook")
    }
    assert(rows.map(_.getAs[Int]("cluster")).distinct.length == rows.length,
      "duplicate cluster rows")
    val totalMembers = rows.map(_.getAs[Long]("members")).sum
    assert(totalMembers == graft.analytics.Tables.embeddings(spark, sf).count(),
      "every embedding must land in exactly one cell")
  }

  test("n5_ann_recall: per-query recall is a consistent hits/k ratio") {
    val rows = Registry.byName("n5_ann_recall").fn(spark, sf).collect()
    assert(rows.length == 10, "one row per query vector")
    rows.foreach { r =>
      val hits = r.getAs[Long]("hits")
      val k = r.getAs[Long]("k")
      assert(k == 3 && hits >= 0 && hits <= k, s"$r: hits outside [0, k]")
      assert(r.getAs[Double]("recall") == hits.toDouble / 3.0, s"$r: recall != hits/k")
    }
    // the 16-bit/4-band signature keeps genuinely-similar vectors together:
    // the eval is only informative if the approximate path finds SOMETHING
    assert(rows.map(_.getAs[Long]("hits")).sum >= 1, "LSH recall collapsed to zero")
  }

  test("d12_dup_span_removal: excision accounting is consistent") {
    val rows = Registry.byName("d12_dup_span_removal").fn(spark, sf).collect()
    assert(rows.nonEmpty)
    var rewrittenTotal = 0L
    rows.foreach { r =>
      val docs = r.getAs[Long]("docs")
      val rewritten = r.getAs[Long]("docs_rewritten")
      val before = r.getAs[Long]("tokens_before")
      val after = r.getAs[Long]("tokens_after")
      assert(rewritten <= docs, s"$r: more rewrites than docs")
      assert(after <= before, s"$r: excision grew a document")
      // a rewritten doc lost at least one full 5-token span; an untouched
      // doc lost nothing — so the removed mass brackets the rewrite count
      assert(before - after >= 5L * rewritten, s"$r: partial span removed")
      if (rewritten == 0) assert(after == before, s"$r: untouched lang changed")
      rewrittenTotal += rewritten
    }
    assert(rewrittenTotal >= 1, "fixture corpus has cross-doc duplicated 5-grams")
    val langs = rows.map(_.getAs[String]("lang")).toSeq
    assert(langs == langs.sorted && langs.distinct == langs, "lang rollup order")
  }

  test("d14_edit_dedup: verification accounting is consistent and finds the exact dups") {
    val rows = Registry.byName("d14_edit_dedup").fn(spark, sf).collect()
    assert(rows.nonEmpty, "fixture has LSH candidate pairs")
    rows.foreach { r =>
      val cands = r.getAs[Long]("candidates")
      val verified = r.getAs[Long]("verified_pairs")
      val editMass = r.getAs[Long]("edit_mass")
      val lenMass = r.getAs[Long]("len_mass")
      assert(verified <= cands, s"$r: verified more pairs than proposed")
      assert(editMass >= 0 && lenMass >= 0 && editMass <= lenMass,
        s"$r: a verified pair's edit distance can't exceed its max length")
      val sim = r.getAs[Double]("mean_edit_sim")
      assert(sim >= 0.0 && sim <= 1.0, s"$r: similarity out of range")
      // the verify threshold is edit_sim >= 0.8 <=> 5*lev <= mx, so the
      // aggregate of accepted pairs can't fall below the per-pair floor
      if (lenMass > 0) assert(sim >= 0.8, s"$r: accepted mass violates the threshold")
    }
    // exact duplicates (lev = 0) exist in the fixture and always share every
    // band bucket, so at least one verified pair survives somewhere
    assert(rows.map(_.getAs[Long]("verified_pairs")).sum >= 1, "no verified pair found")
  }

  test("d15_source_overlap: the matrix is upper-triangular with bounded Jaccard") {
    val rows = Registry.byName("d15_source_overlap").fn(spark, sf).collect()
    assert(rows.nonEmpty, "fixture sources share 5-grams")
    rows.foreach { r =>
      val a = r.getAs[String]("source_a"); val b = r.getAs[String]("source_b")
      assert(a < b, s"$r: pair not canonically ordered")
      val shared = r.getAs[Long]("shared_grams")
      val na = r.getAs[Long]("na"); val nb = r.getAs[Long]("nb")
      assert(shared >= 1 && shared <= math.min(na, nb),
        s"$r: shared vocabulary exceeds a side's vocabulary")
      val j = r.getAs[Double]("jaccard")
      assert(j > 0.0 && j <= 1.0, s"$r: jaccard out of range")
      assert(math.abs(j - shared.toDouble / (na + nb - shared)) < 1e-12,
        s"$r: jaccard inconsistent with its own integer components")
    }
  }

  test("x2 agrees with d9 on per-cell membership and survivor counts") {
    // x2 re-derives d9's assignment + dominance stages before projecting;
    // the rollups must match exactly (members == members, survivors == kept).
    val d9 = Registry.byName("d9_semdedup").fn(spark, sf).collect()
      .map(r => r.getAs[Int]("cluster") ->
        ((r.getAs[Long]("members"), r.getAs[Long]("kept")))).toMap
    val x2 = Registry.byName("x2_embedding_prep_pipeline").fn(spark, sf).collect()
      .map(r => r.getAs[Int]("cluster") ->
        ((r.getAs[Long]("members"), r.getAs[Long]("survivors")))).toMap
    assert(x2 == d9, "x2's dedup stage must be exactly d9's")
    // every surviving row contributes non-negative projected mass; a cell
    // with survivors and zero mass would mean the projection collapsed
    val rows = Registry.byName("x2_embedding_prep_pipeline").fn(spark, sf).collect()
    rows.foreach { r =>
      val pm = r.getAs[Long]("proj_mass")
      assert(pm >= 0, s"$r: negative mass impossible")
      if (r.getAs[Long]("survivors") > 0)
        assert(pm > 0, s"$r: survivors with zero projected mass")
    }
  }

  test("e4_random_projection: the JL estimate is unbiased enough on the fixture") {
    val rows = Registry.byName("e4_random_projection").fn(spark, sf).collect()
    assert(rows.nonEmpty)
    var pairsTotal = 0L; var withinTotal = 0L
    rows.foreach { r =>
      val pairs = r.getAs[Long]("pairs")
      val within = r.getAs[Long]("within_half")
      assert(within <= pairs, s"$r: more in-band pairs than pairs")
      assert(r.getAs[Long]("sum_d2") > 0, s"$r: adjacent fixture vectors collapsed")
      val ratio = r.getAs[Double]("distortion_ratio")
      // k=8 is a LOOSE projection; the aggregate ratio still concentrates
      // far inside (0.5, 2.0) for gaussian-ish fixture data
      assert(ratio > 0.5 && ratio < 2.0, s"$r: aggregate distortion off the JL scale")
      pairsTotal += pairs; withinTotal += within
    }
    // the pair-level 50% band should hold for well over half the sample
    assert(withinTotal * 2 > pairsTotal,
      s"JL band hit rate too low: $withinTotal of $pairsTotal")
  }

  test("e5_pca_power: power iteration lands on a dominant direction") {
    val rows = Registry.byName("e5_pca_power").fn(spark, sf).collect()
    assert(rows.nonEmpty)
    val eig = rows.head.getAs[Double]("eigval")
    val ve = rows.head.getAs[Double]("var_explained")
    rows.foreach { r =>
      // eigval / var_explained are global constants of the decomposition
      assert(r.getAs[Double]("eigval") == eig && r.getAs[Double]("var_explained") == ve)
      val n = r.getAs[Long]("n")
      assert(n > 0)
      // mean_pc1 is definitionally sum_q / n / 1e4 (round 6)
      val mean = BigDecimal(r.getAs[Long]("sum_q").toDouble / n.toDouble / 10000.0)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(mean - r.getAs[Double]("mean_pc1")) < 2e-6, s"$r: mean mismatch")
    }
    // the top eigenvalue of an 8-dim covariance is >= trace/8, so the
    // explained share must beat the isotropic floor 1/8 (strictly, unless
    // the spectrum is exactly flat — impossible for sampled data) and a
    // positive-semidefinite trace keeps both positive
    assert(eig > 0, s"top eigenvalue must be positive, got $eig")
    assert(ve > 0.125 && ve <= 1.0, s"explained share off the PCA scale: $ve")
    assert(rows.map(_.getAs[Long]("n")).sum ==
      graft.analytics.Tables.embeddings(spark, sf).count(),
      "projection leg must cover every vector exactly once")
  }

  test("j6_interval_join: the bucketed plan returns exactly the naive inequality join") {
    import org.apache.spark.sql.functions._
    val got = Registry.byName("j6_interval_join").fn(spark, sf).collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("n_overlap")).toMap
    val ev = graft.analytics.Tables.events(spark, sf)
    val iv = ev
      .groupBy(col("user_id").as("iv_user"), date_trunc("day", col("ts")).as("day"))
      .agg(min("ts").as("s_ts"), max("ts").as("e_ts"))
    // the reference semantics, paid as an O(n*m) nested-loop join — fixture-only
    val naive = ev.select(col("user_id").as("ev_user"), col("ts"))
      .join(iv, col("ts") >= col("s_ts") && col("ts") <= col("e_ts") &&
        col("ev_user") =!= col("iv_user"))
      .groupBy("iv_user").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getAs[Long]("iv_user") -> r.getAs[Long]("n")).toMap
    assert(got == naive, s"bucketed != naive: ${got.size} vs ${naive.size} users")
    assert(got.nonEmpty, "fixture users overlap in time; join must not be empty")
  }

  test("p18_priority_sample equals full-sort-and-take per lang") {
    val got = Registry.byName("p18_priority_sample").fn(spark, sf).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("rank"), r.getAs[Long]("doc_id"),
        r.getAs[Double]("priority")))
    val h =
      "((instr('0123456789abcdef', substring(md5(text), 1, 1)) - 1) * 4096 + " +
        "(instr('0123456789abcdef', substring(md5(text), 2, 1)) - 1) * 256 + " +
        "(instr('0123456789abcdef', substring(md5(text), 3, 1)) - 1) * 16 + " +
        "instr('0123456789abcdef', substring(md5(text), 4, 1)) - 1)"
    val expected = graft.analytics.Tables.documents(spark, sf)
      .selectExpr("lang", "doc_id",
        s"CAST(n_chars AS DOUBLE) * 65536.0 / (1.0 + CAST($h AS DOUBLE)) AS priority")
      .collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("doc_id"), r.getAs[Double]("priority")))
      .groupBy(_._1).toSeq
      .flatMap { case (lang, docs) =>
        docs.toSeq.sortBy(t => (-t._3, t._2)).take(8).zipWithIndex.map {
          case ((_, id, p), i) => (lang, (i + 1).toLong, id, p)
        }
      }.toSet
    assert(got.toSet == expected, "TopK aggregation must equal sort-and-take")
    assert(got.nonEmpty)
  }

  test("w6_event_gaps: per-user gap sums telescope to last-minus-first") {
    import org.apache.spark.sql.functions._
    val got = Registry.byName("w6_event_gaps").fn(spark, sf).collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("n_gaps"), r.getAs[Long]("total_gap_us"), r.getAs[Long]("max_gap_us")))
      .toMap
    val spans = graft.analytics.Tables.events(spark, sf)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"),
        (max(unix_micros(col("ts"))) - min(unix_micros(col("ts")))).as("span_us"))
      .collect()
      .map(r => r.getAs[Long]("user_id") -> (r.getAs[Long]("n"), r.getAs[Long]("span_us")))
      .toMap
    got.foreach { case (u, (nGaps, total, mx)) =>
      val (n, span) = spans(u)
      assert(nGaps == n - 1, s"user $u: ${nGaps} gaps from $n events")
      // consecutive gaps over (ts, event_id) order telescope exactly
      assert(total == span, s"user $u: gap sum $total != span $span")
      assert(mx >= 0 && mx <= total, s"user $u: max gap out of range")
    }
    assert(got.keySet == spans.filter(_._2._1 >= 2).keySet,
      "every user with >= 2 events has a gap row")
  }

  test("a19_column_profile: profile invariants on the documents table") {
    val rows = Registry.byName("a19_column_profile").fn(spark, sf).collect()
      .map(r => r.getAs[String]("column_name") ->
        (r.getAs[Long]("n_nonnull"), r.getAs[Long]("n_distinct"),
          r.getAs[String]("min_val"), r.getAs[String]("max_val"))).toMap
    assert(rows.keySet ==
      Set("doc_id", "text", "lang", "source", "n_chars"))
    val total = graft.analytics.Tables.documents(spark, sf).count()
    val (idNn, idNd, idMin, idMax) = rows("doc_id")
    assert(idNn == total && idNd == total, "doc_id is a complete unique key")
    assert(idMin.toLong <= idMax.toLong)
    rows.foreach { case (c, (nn, nd, _, _)) =>
      assert(nn <= total && nd <= nn, s"$c: impossible profile counts")
    }
    val (_, langNd, _, _) = rows("lang")
    assert(langNd >= 2 && langNd <= 10, "fixture has a handful of langs")
  }

  test("n11_lsh_planner: forecast algebra and the wider-bands-shrink-volume law") {
    val rows = Registry.byName("n11_lsh_planner").fn(spark, sf).collect()
      .map(r => r.getAs[Int]("band_bits") ->
        (r.getAs[Long]("buckets"), r.getAs[Long]("max_bucket"), r.getAs[Long]("cand_pairs")))
      .toMap
    assert(rows.keySet == Set(4, 8))
    val (b4, m4, p4) = rows(4)
    val (b8, m8, p8) = rows(8)
    // key space: 4 bands of w bits hold at most 4 * 2^w occupied buckets
    assert(b4 <= 4L * 16 && b8 <= 4L * 256, s"impossible bucket counts: $rows")
    // the n7/n8 law the planner exists to forecast: wider bands cannot
    // increase candidate volume or hot-bucket width on the same corpus
    // (each w-bit bucket partitions into 2^(w'-w) at width w' > w)
    assert(p8 <= p4, s"8-bit bands must not forecast more pairs: $rows")
    assert(m8 <= m4, s"8-bit hot bucket cannot exceed the 4-bit one: $rows")
    // every vector lands in exactly 4 buckets, so sum of bucket sizes =
    // 4n and pairs >= the perfectly-uniform floor
    val n = graft.analytics.Tables.embeddings(spark, sf).count()
    def floorPairs(width: Long, buckets: Long) = {
      val q = (4 * n) / buckets; val r = (4 * n) % buckets
      r * (q + 1) * q / 2 + (buckets - r) * q * (q - 1) / 2
    }
    assert(p4 >= floorPairs(16, b4), "pair mass below the uniform floor is impossible")
  }

  test("j7_salted_join matches the unsalted plan's totals") {
    import org.apache.spark.sql.functions._
    val got = Registry.byName("j7_salted_join").fn(spark, sf).collect()
      .map(r => r.getAs[Int]("s_nationkey") -> r.getAs[Long]("n")).toMap
    val li = graft.analytics.Tables.lineitem(spark, sf)
    val sup = graft.analytics.Tables.supplier(spark, sf)
    val plain = li.join(sup, li("l_suppkey") === sup("s_suppkey"))
      .groupBy("s_nationkey").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getAs[Int]("s_nationkey") -> r.getAs[Long]("n")).toMap
    assert(got == plain, "salting must not change join results")
  }

  test("w10_scd2_intervals: exactly one open interval per user") {
    import org.apache.spark.sql.functions._
    val rows = Registry.byName("w10_scd2_intervals").fn(spark, sf).collect()
    assert(rows.nonEmpty, "fixture events must form intervals")
    val users = graft.analytics.Tables.events(spark, sf)
      .select(countDistinct("user_id")).head.getLong(0)
    val open = rows.map(r => r.getAs[Long]("n_intervals") - r.getAs[Long]("closed_intervals")).sum
    assert(open == users,
      s"every user's final island is the one open interval: open=$open users=$users")
    rows.foreach { r =>
      assert(r.getAs[Long]("total_dur_us") >= 0L, s"negative duration: $r")
      assert(r.getAs[Long]("closed_intervals") <= r.getAs[Long]("n_intervals"), s"$r")
    }
  }

  test("w11_resample_ffill: slot accounting and fresh mass match the raw stream") {
    import org.apache.spark.sql.functions._
    val rows = Registry.byName("w11_resample_ffill").fn(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_fresh") + r.getAs[Long]("n_carried") == r.getAs[Long]("n_points"),
        s"fresh+carried must partition the grid: $r")
    }
    // total fresh slots == distinct (user, hour) pairs that actually have events
    val freshTotal = rows.map(_.getAs[Long]("n_fresh")).sum
    val expect = graft.analytics.Tables.events(spark, sf)
      .select(col("user_id"), date_trunc("hour", col("ts")).as("slot"))
      .distinct().count()
    assert(freshTotal == expect, s"fresh=$freshTotal distinct user-hours=$expect")
  }

  test("u3_snapshot_diff: statuses partition both snapshots") {
    import org.apache.spark.sql.functions._
    val m = Registry.byName("u3_snapshot_diff").fn(spark, sf).collect()
      .map(r => r.getAs[String]("status") -> r.getAs[Long]("n_rows")).toMap
    val ev = graft.analytics.Tables.events(spark, sf)
    val nOld = ev.where(expr("event_id % 10 <> 0")).count()
    val nNew = ev.where(expr("event_id % 7 <> 0")).count()
    def g(k: String) = m.getOrElse(k, 0L)
    assert(g("added") + g("changed") + g("unchanged") == nNew,
      s"new-side partition broken: $m vs $nNew")
    assert(g("removed") + g("changed") + g("unchanged") == nOld,
      s"old-side partition broken: $m vs $nOld")
    assert(g("added") > 0 && g("removed") > 0 && g("changed") > 0,
      s"the carve-outs must produce every status: $m")
  }

  test("j9_bloom_semi_join equals the plain semi join (bloom adds no false negatives)") {
    import org.apache.spark.sql.functions._
    val got = Registry.byName("j9_bloom_semi_join").fn(spark, sf).collect()
      .map(r => (r.getAs[String]("l_returnflag"), r.getAs[Long]("n"), r.getAs[Double]("sum_qty")))
    val li = graft.analytics.Tables.lineitem(spark, sf)
    val sel = graft.analytics.Tables.orders(spark, sf)
      .where(col("o_totalprice") > 480000).select("o_orderkey")
    val plain = li.join(sel, li("l_orderkey") === sel("o_orderkey"), "left_semi")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("sum_qty"))
      .orderBy("l_returnflag").collect()
      .map(r => (r.getAs[String]("l_returnflag"), r.getAs[Long]("n"), r.getAs[Double]("sum_qty")))
    assert(got.sameElements(plain), s"bloom path diverged:\n${got.toSeq}\n${plain.toSeq}")
  }

  test("d17_prefix_filter_join equals d4's full posting join and posts less") {
    import org.apache.spark.sql.functions._
    val got = Registry.byName("d17_prefix_filter_join").fn(spark, sf).collect()
      .map(r => r.getAs[String]("lang") -> r.getAs[Long]("pairs")).toMap
    val full = Registry.byName("d4_dedup_ngram_jaccard").fn(spark, sf).collect()
      .map(r => r.getAs[String]("lang") -> r.getAs[Long]("pairs")).toMap
    assert(got == full, s"prefix filter must be candidate-complete: $got vs $full")
    // the point of the rewrite: the prefix posts a strict fraction of shingles
    graft.functions.GraftFunctions.register(spark)
    val sh = graft.analytics.Tables.documents(spark, sf)
      .selectExpr("doc_id", graft.ext.MinHash.splitExpr)
      .selectExpr("doc_id", s"(${graft.ext.MinHash.shingleExpr}) AS sh")
      .selectExpr("size(sh) AS n")
    val Array(fullPost, prefixPost) = sh
      .agg(sum("n").cast("long"), sum(expr("n - CAST(ceil(0.8 * n) AS INT) + 1")).cast("long"))
      .head.toSeq.map(_.asInstanceOf[Long]).toArray
    assert(prefixPost * 3 < fullPost,
      s"prefix must post <1/3 of the shingle volume: $prefixPost vs $fullPost")
  }

  test("a23_ols_by_group matches Spark's regr_slope/regr_intercept to 1e-9") {
    import org.apache.spark.sql.functions._
    val got = Registry.byName("a23_ols_by_group").fn(spark, sf).collect()
      .map(r => r.getAs[String]("lang") -> (r.getAs[Double]("slope"), r.getAs[Double]("intercept"))).toMap
    val ref = graft.analytics.Tables.documents(spark, sf)
      .selectExpr("lang", "CAST(n_chars AS DOUBLE) AS x", "CAST(size(split(text, ' ')) AS DOUBLE) AS y")
      .groupBy("lang")
      .agg(expr("regr_slope(y, x)").as("s"), expr("regr_intercept(y, x)").as("i"))
      .collect().map(r => r.getAs[String]("lang") -> (r.getAs[Double]("s"), r.getAs[Double]("i"))).toMap
    got.foreach { case (lang, (s0, i0)) =>
      val (s1, i1) = ref(lang)
      assert(math.abs(s0 - s1) <= 1e-9 * math.max(1.0, math.abs(s1)), s"$lang slope $s0 vs $s1")
      assert(math.abs(i0 - i1) <= 1e-9 * math.max(1.0, math.abs(i1)), s"$lang intercept $i0 vs $i1")
    }
  }

  test("a22_mad_outliers: descent medians are bitwise the sort-based percentile") {
    import org.apache.spark.sql.functions._
    val rows = Registry.byName("a22_mad_outliers").fn(spark, sf).collect()
    val exact = graft.analytics.Tables.events(spark, sf)
      .groupBy("event_type").agg(expr("percentile(value, 0.5)").as("med"))
      .collect().map(r => r.getAs[String]("event_type") -> r.getAs[Double]("med")).toMap
    rows.foreach { r =>
      val et = r.getAs[String]("event_type")
      assert(r.getAs[Double]("med") == exact(et),
        s"$et: descent median ${r.getAs[Double]("med")} != percentile ${exact(et)}")
      assert(r.getAs[Double]("mad") >= 0.0 && r.getAs[Long]("outliers") <= r.getAs[Long]("n"), s"$r")
    }
  }

  test("dedup verifies: the shuffled-fallback branch answers identically (conf-forced)") {
    // graft.broadcastPairBound=0 forces every registered dedup verify onto
    // its above-bound branch (shuffled semi-joins / plain payload joins) —
    // the path that only runs at corpus scale in production and would
    // otherwise never execute under test
    def run(q: String): Seq[Row] =
      Registry.byName(q).fn(spark, sf).collect().toSeq
    for (q <- Seq("d2_dedup_minhash_lsh", "d14_edit_dedup", "d16_minhash_calibration")) {
      val fast = run(q)
      spark.conf.set("graft.broadcastPairBound", "0")
      try {
        val slow = run(q)
        assert(fast == slow, s"$q: fallback branch diverged:\n$fast\n$slow")
      } finally spark.conf.unset("graft.broadcastPairBound")
    }
  }
}

package graft

import org.apache.spark.sql.functions._

import graft.ext.Similarity

/** Similarity library: TopK aggregator bounds + correctness, brute-force vs
  * LSH agreement on planted neighbors.
  */
class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  // 20 corpus vectors in 16 dims: vec i = one-hot(i % 16) + small tail, plus
  // a planted near-duplicate of vector 0 at id 19.
  private lazy val vecs = {
    val rows = (0L until 19L).map { i =>
      val v = Array.tabulate(16)(j => if (j == (i % 16).toInt) 1.0f else 0.01f * ((i + j) % 3))
      (i, v.toSeq)
    } :+ (19L, Array.tabulate(16)(j => if (j == 0) 0.98f else 0.012f).toSeq)
    rows.toDF("vec_id", "embedding")
  }

  private lazy val prepared = Similarity.prepare(vecs, "vec_id", "embedding")

  test("TopK aggregator keeps k best with deterministic tiebreaks and bounded buffer") {
    val agg = new Similarity.TopK(3)
    val items = Seq(
      Similarity.Scored(0.5, 7), Similarity.Scored(0.9, 2), Similarity.Scored(0.9, 1),
      Similarity.Scored(0.1, 9), Similarity.Scored(0.7, 4))
    val buf = items.foldLeft(agg.zero)(agg.reduce)
    assert(buf.length == 3)
    assert(buf.map(_.id) == List(1, 2, 4)) // 0.9 tie -> lower id first
    // merge is associative-ish: merging partials == reducing everything
    val (l, r) = items.splitAt(2)
    val merged = agg.merge(l.foldLeft(agg.zero)(agg.reduce), r.foldLeft(agg.zero)(agg.reduce))
    assert(merged == buf)
  }

  test("bruteForceTopK finds the planted near-duplicate as top hit") {
    val queries = prepared.where(col("id") === 0)
    val out = Similarity.bruteForceTopK(prepared, queries, k = 3).collect()
    assert(out.length == 3)
    assert(out(0).getAs[Long]("id") == 19, "planted dup of vec 0 must rank first")
    assert(out(0).getAs[Double]("score") > 0.99)
    assert(out.map(_.getAs[Long]("rank")).toSeq == Seq(1L, 2L, 3L))
  }

  test("lshTopK agrees with brute force on the planted neighbor (recall on strong pairs)") {
    val queries = prepared.where(col("id") === 0)
    val lsh = Similarity.lshTopK(prepared, queries, k = 3)
    val top = lsh.collect().headOption
    assert(top.nonEmpty, "sign bands must collide for a near-identical vector")
    assert(top.get.getAs[Long]("id") == 19)
  }

  test("capBuckets drops exactly the oversized band buckets (adversarial hot key)") {
    // Adversarial corpus: 120 of 170 rows (>50%) share one band key — the
    // degenerate-bucket collapse that would make the bucket self-join
    // quadratic (unigram-MinHash word-soup failure mode).
    val bandTable = ((0 until 120).map(i => (i.toLong, 0, "HOT")) ++
      (0 until 50).map(i => (1000L + i, 0, s"k${i / 2}")))
      .toDF("id", "band", "bkey")
    val capped = Similarity.capBuckets(bandTable, Seq("band", "bkey"), maxBucket = 10)
    assert(capped.count() == 50, "all 120 HOT rows dropped, every small bucket intact")
    // the bound the guard exists for: no surviving bucket can exceed
    // maxBucket, so each join task's candidate input is <= maxBucket^2
    val maxAfter = capped.groupBy("band", "bkey").count()
      .agg(max("count")).first().getLong(0)
    assert(maxAfter <= 10)
  }

  test("lshTopK with maxBucket stays correct when a degenerate bucket dominates") {
    // 300 corpus vectors: 280 sharing one alternating-sign pattern (all four
    // band keys degenerate, >90% of the corpus), plus the 20 structured
    // all-positive vectors incl. the planted pair (0, 19). With maxBucket=50
    // the flood's buckets are dropped; the structured vectors' all-'1'
    // buckets (20 members) survive and still pair the planted dup.
    val flood = (100L until 380L).map { i =>
      (i, Array.tabulate(16)(j =>
        (if (j % 2 == 0) -0.5f else 0.5f) + 0.001f * ((i + j) % 7)).toSeq)
    }.toDF("vec_id", "embedding")
    val adversarial = Similarity.prepare(vecs.unionByName(flood), "vec_id", "embedding")
    val queries = adversarial.where(col("id") === 0)
    val out = Similarity.lshTopK(adversarial, queries, k = 3, maxBucket = 50).collect()
    assert(out.nonEmpty, "non-degenerate buckets must still produce candidates")
    assert(out(0).getAs[Long]("id") == 19, "planted dup survives the bucket cap")
    // every candidate came from a surviving bucket; flood members (only ever
    // in dropped buckets) cannot appear
    assert(out.forall(_.getAs[Long]("id") < 100))
  }

  test("ivfIndex partitions the corpus into cells; ivfTopK finds the planted dup sub-linearly") {
    // Clustered corpus: 8 well-separated direction clusters x 25 vectors,
    // plus a planted near-dup (id 9000) of vector id 0.
    val rnd = new scala.util.Random(11)
    val clustered = (0 until 200).map { i =>
      val c = i % 8
      val base = Array.tabulate(16)(j => if (j == c * 2) 10.0f else 0.0f)
      (i.toLong, base.map(x => x + rnd.nextFloat() * 0.5f).toSeq)
    }
    val dup = {
      val v0 = clustered.head._2
      (9000L, v0.map(x => x + 0.01f))
    }
    val corpus = Similarity.prepare(
      (clustered :+ dup).toDF("vec_id", "embedding"), "vec_id", "embedding")

    val (assigned, centroids) = Similarity.ivfIndex(corpus, nlist = 8)
    assert(centroids.count() == 8)
    assert(assigned.count() == 201, "assignment is total")
    val cellSizes = assigned.groupBy("cell").count().collect().map(_.getLong(1))
    assert(cellSizes.length > 1, "k-means must actually split the clustered corpus")

    val queries = corpus.where(col("id") === 0)
    val out = Similarity.ivfTopK(corpus, queries, k = 3, nlist = 8, nprobe = 2).collect()
    assert(out.nonEmpty)
    assert(out(0).getAs[Long]("id") == 9000, "planted dup shares vec 0's cell and must rank first")
    assert(out(0).getAs[Double]("score") > 0.999)
    // sub-linearity: 2 probed cells of a balanced 8-cell index cover well
    // under half the corpus
    val probedMax = cellSizes.sorted.reverse.take(2).sum
    assert(probedMax < 201, "candidate pool strictly smaller than a full scan")
  }

  test("ivfTopK agrees with brute force on cluster-structured data (recall check)") {
    val queries = prepared.where(col("id") === 0)
    val bf = Similarity.bruteForceTopK(prepared, queries, k = 1).collect()(0).getAs[Long]("id")
    val ivf = Similarity.ivfTopK(prepared, queries, k = 1, nlist = 4, nprobe = 4).collect()
    // nprobe == nlist probes every cell -> must equal exhaustive search
    assert(ivf(0).getAs[Long]("id") == bf)
  }

  test("ivfTopK/lshTopK re-rank is k-bounded aggregation, not a per-qid window sort") {
    // The re-rank tail must be the TopK Aggregator (partial agg caps state at
    // k per query per partition); a row_number window would shuffle every
    // candidate of a query to one partition and fully sort it.
    val queries = prepared.where(col("id") === 0)
    val lshPlan = Similarity.lshTopK(prepared, queries, k = 3)
      .queryExecution.executedPlan.toString
    assert(!lshPlan.contains("Window"), "lshTopK must not re-rank via a window")
    assert(lshPlan.contains("ObjectHashAggregate") || lshPlan.contains("SortAggregate"),
      "TopK typed Aggregator must appear in the lsh plan")
    val ivfPlan = Similarity.ivfTopK(prepared, queries, k = 3, nlist = 4, nprobe = 2)
      .queryExecution.executedPlan.toString
    // the only window allowed in ivf is the nlist-row centroid ranking
    // (ordered by cdist) — never one ordered by the candidate score
    val windowLines = ivfPlan.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(windowLines.forall(l => l.contains("cdist") && !l.contains("score")),
      s"ivf windows must rank centroids only, got: ${windowLines.mkString("; ")}")
  }

  test("ivfTopKWithIndex probes a prebuilt index without retraining the quantizer") {
    val before = Similarity.kmeansFits.get()
    val (assigned, centroids) = Similarity.ivfIndex(prepared, nlist = 4)
    val a = assigned.cache()
    a.count()
    assert(Similarity.kmeansFits.get() == before + 1)
    val q0 = prepared.where(col("id") === 0)
    val q5 = prepared.where(col("id") === 5)
    val p1 = Similarity.ivfTopKWithIndex(a, centroids, q0, k = 1, nprobe = 4).collect()
    val p2 = Similarity.ivfTopKWithIndex(a, centroids, q5, k = 1, nprobe = 4).collect()
    assert(p1.nonEmpty && p2.nonEmpty)
    // the amortized contract: two probe batches, still exactly one fit
    assert(Similarity.kmeansFits.get() == before + 1,
      "probing a prebuilt index must never re-run k-means")
    // and the fused one-shot ivfTopK matches the probe of its own index
    val fused = Similarity.ivfTopK(prepared, q0, k = 1, nlist = 4, nprobe = 4).collect()
    assert(fused(0).getAs[Long]("id") == p1(0).getAs[Long]("id"))
    a.unpersist()
  }

  test("topKByTerm == per-key sort-and-take with the TopK tiebreak, no Window in the plan") {
    val rnd = new scala.util.Random(23)
    val rows = (0 until 500).map { i =>
      (s"t${rnd.nextInt(7)}", i.toLong, math.floor(rnd.nextDouble() * 20) / 10.0)
    }
    val df = rows.toDF("key", "id", "score")
    val got = Similarity.topKByTerm(df, k = 4).collect()
      .map(r => (r.getString(0), r.getAs[Long]("rank"), r.getAs[Long]("id"),
        r.getAs[Double]("score")))
    val want = rows.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (key, rs) =>
      rs.sortBy { case (_, id, s) => (-s, id) }.take(4).zipWithIndex
        .map { case ((_, id, s), i) => (key, (i + 1).toLong, id, s) }
    }
    assert(got.toSeq == want, "string-keyed top-k diverges from sort semantics")
    val out = Similarity.topKByTerm(df, k = 4)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"k-bounded aggregation expected:\n${plan.take(2000)}")
  }

  test("knnGraph == lshTopK with the whole corpus as queries (broadcast-free sibling)") {
    // Semantics parity: knnGraph exists because a corpus-sized query set must
    // not broadcast — its results must be exactly lshTopK's with
    // queries = prepared, row for row.
    val viaLsh = Similarity.lshTopK(prepared, prepared, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val viaGraph = Similarity.knnGraph(prepared, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(viaGraph.nonEmpty)
    assert(viaGraph.toSeq == viaLsh.toSeq)
  }

  test("knnGraph excludes self-edges and respects the bucket cap (adversarial flood)") {
    // Same adversary as the lshTopK cap test: 280 alternating-sign flood
    // vectors collapse into one degenerate bucket (> maxBucket, dropped);
    // the 20 structured all-positive vectors' bucket (20 members) survives
    // and keeps its graph, including the planted (0, 19) pair.
    val flood = (100L until 380L).map { i =>
      (i, Array.tabulate(16)(j =>
        (if (j % 2 == 0) -0.5f else 0.5f) + 0.001f * ((i + j) % 7)).toSeq)
    }.toDF("vec_id", "embedding")
    val adversarial = Similarity.prepare(vecs.unionByName(flood), "vec_id", "embedding")
    val rows = Similarity.knnGraph(adversarial, k = 3, maxBucket = 50).collect()
    assert(rows.forall(r => r.getLong(0) != r.getLong(2)), "no self-edges")
    // flood members (only ever in the dropped bucket) emit and receive no edges
    val ids = rows.map(_.getLong(0)).toSet ++ rows.map(_.getLong(2)).toSet
    assert(ids.nonEmpty && ids.forall(_ < 100L), s"capped flood must not appear: $ids")
    // the planted near-dup pair is each other's top hit
    val top0 = rows.filter(r => r.getLong(0) == 0L && r.getLong(1) == 1L).map(_.getLong(2))
    assert(top0.sameElements(Array(19L)), s"planted dup must rank first: ${top0.toSeq}")
  }

  test("knnGraph past the literal bound marks oversized buckets by join, same graph as the literals") {
    // 64-bit signatures in 4 bands of 16 bits. 2100 triples share a sign
    // pattern, so each fills one bucket of 3 in every band: 2100 buckets per
    // band over maxBucket = 2, more than the literal bound (a literal list
    // per band would hold all 2100). 150 pairs share a pattern too; their
    // buckets of 2 survive and give the graph its edges.
    val rnd = new scala.util.Random(5)
    def pattern(): Array[Float] = Array.fill(64)(if (rnd.nextBoolean()) 1f else -1f)
    val triples = (0 until 2100).flatMap { g =>
      val p = pattern()
      (0 until 3).map(m => (g * 3L + m, p.map(_ * (1f + 0.1f * m)).toSeq))
    }
    val pairs = (0 until 150).flatMap { g =>
      val p = pattern()
      (0 until 2).map(m => (10000L + g * 2 + m, p.map(x => x * (1f + rnd.nextFloat())).toSeq))
    }
    val corpus = Similarity.prepare((triples ++ pairs).toDF("vec_id", "embedding"), "vec_id", "embedding")
    assert(2100 > Similarity.knnLiteralBound)
    val graph = Similarity.knnGraph(corpus, k = 2, bits = 64, bands = 4, maxBucket = 2)
    val inLists = graph.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
      case in: org.apache.spark.sql.catalyst.expressions.In => in.list.size
      case in: org.apache.spark.sql.catalyst.expressions.InSet => in.hset.size
    }))
    assert(inLists.forall(_ <= Similarity.knnLiteralBound), s"IN lists of sizes $inLists")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).sorted.toSeq
    val got = rows(graph)
    assert(got.size >= 300, s"every planted pair links: ${got.size} edges")
    assert(got.forall { case (q, _, id, _) => q >= 10000L && id >= 10000L }, "triples are dropped")
    assert(got == rows(Similarity.knnGraph(corpus, 2, 64, 4, 2, literalBound = Int.MaxValue - 1)))
  }

  test("knnGraph: wider bands shrink the candidate volume (the key-space scaling knob)") {
    // SCALE.md's n7 reading: with every node a query, candidate volume at a
    // FIXED band width grows ~(n/buckets)^2 — the mitigation is scaling the
    // key space with the corpus. Pin it quantitatively: same 400-vector
    // corpus, 4-bit bands vs 8-bit bands, counted through the exact
    // candidate stage knnGraph runs (capped bucket self-join, distinct).
    val rnd = new scala.util.Random(11)
    val corpus = (0L until 400L).map(i =>
      (i, Array.fill(32)(rnd.nextFloat() * 2f - 1f).toSeq)).toDF("vec_id", "embedding")
    val prep = Similarity.prepare(corpus, "vec_id", "embedding")
    def candidates(bits: Int): Long = {
      val cb = Similarity.capBuckets(
        Similarity.signBands(prep, bits, 4).select("id", "band", "bkey"),
        Seq("band", "bkey"), maxBucket = 1000)
      cb.select(col("id").as("qid"), col("band"), col("bkey"))
        .join(cb, Seq("band", "bkey"))
        .where(expr("id <> qid"))
        .select("qid", "id").distinct().count()
    }
    val narrow = candidates(16) // 4-bit bands: 16 buckets, width ~25
    val wide = candidates(32)   // 8-bit bands: 256 buckets, width ~1.6
    assert(narrow > 0, "narrow bands must collide on 400 random vectors")
    assert(wide * 4 < narrow,
      s"8-bit bands must cut candidates by >4x vs 4-bit: narrow=$narrow wide=$wide")
  }

  test("TopK fast-path insert matches a full sort on random streams (incl. duplicates)") {
    // the O(1) reject path and in-place insertion must be behaviorally
    // identical to sorting the whole stream — ties and all
    val rnd = new scala.util.Random(3)
    for (k <- Seq(1, 3, 10); trial <- 0 until 20) {
      val items = Seq.fill(200)(Similarity.Scored(
        (rnd.nextInt(40) / 10.0), rnd.nextInt(50).toLong))
      val agg = new Similarity.TopK(k)
      val viaAgg = items.foldLeft(agg.zero)(agg.reduce)
      // split at a random point and merge partials — must agree too
      val (l, r) = items.splitAt(rnd.nextInt(items.length))
      val viaMerge = agg.merge(
        l.foldLeft(agg.zero)(agg.reduce), r.foldLeft(agg.zero)(agg.reduce))
      val expectWithDups = items.sortBy(x => (-x.score, x.id)).take(k)
      assert(viaAgg == expectWithDups, s"k=$k trial=$trial reduce path")
      assert(viaMerge == expectWithDups, s"k=$k trial=$trial merge path")
    }
  }

  test("bruteForceTopK handles k larger than the corpus") {
    val queries = prepared.where(col("id") === 5)
    val out = Similarity.bruteForceTopK(prepared, queries, k = 100).collect()
    assert(out.length == 19) // whole corpus minus the query itself
  }

  test("signWords/hammingTopK: packed bit_count(xor) distance equals the per-dim sign mismatch count") {
    // Mixed-sign fixture (the one-hot corpus above is all-nonnegative, which
    // would make every signature identical): 30 random +-1-ish vectors.
    val rnd = new scala.util.Random(41)
    val mixed = (0L until 30L)
      .map(i => (i, Seq.fill(16)(rnd.nextFloat() * 2f - 1f)))
      .toDF("vec_id", "embedding")
    val prep = Similarity.prepare(mixed, "vec_id", "embedding")
    val out = Similarity
      .hammingTopK(prep, prep.where(col("id") === 0), k = 29, dims = 16)
      .collect()
    val raw = prep.select("id", "v").collect()
      .map(r => r.getAs[Long]("id") -> r.getSeq[Double](1)).toMap
    val qv = raw(0L)
    val byId = out.map(r => r.getAs[Long]("id") -> r.getAs[Long]("hamming")).toMap
    assert(byId.size == 29)
    for ((id, v) <- raw if id != 0L) {
      val direct = (0 until 16).count(i => (v(i) >= 0) != (qv(i) >= 0))
      assert(byId(id) == direct, s"id $id: packed ${byId(id)} != direct $direct")
    }
    // ranks walk (hamming asc, id asc) exactly
    val ranked = out.sortBy(_.getAs[Long]("rank"))
      .map(r => (r.getAs[Long]("hamming"), r.getAs[Long]("id"))).toSeq
    assert(ranked == ranked.sorted, s"rank order must be (hamming, id): $ranked")
  }

  test("topk5_scored: the TopK Aggregator is SQL-callable and matches topKByQuery") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val rnd = new scala.util.Random(13)
    val rows = for (q <- 1L to 4L; i <- 1L to 40L) yield (q, i, rnd.nextDouble())
    val df = rows.toDF("qid", "id", "score")
    df.createOrReplaceTempView("v_scored")
    val sqlTop = spark.sql(
      """SELECT qid, posexplode(topk5_scored(score, id)) AS (pos, hit) FROM v_scored GROUP BY qid""")
      .selectExpr("qid", "CAST(pos + 1 AS BIGINT) AS rank", "hit.id AS id", "hit.score AS score")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).sorted
    val apiTop = graft.ext.Similarity.topKByQuery(df, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).sorted
    assert(sqlTop.sameElements(apiTop),
      s"SQL-registered UDAF must equal the typed path:\n${sqlTop.toSeq}\n${apiTop.toSeq}")
  }

  // deterministic pseudo-random sign vectors: 64 dims, sign j = bit j of an
  // LCG step of i — the band-key population n11's saturation rule reasons about
  private def signCorpus(n: Int) = {
    val rows = (0L until n.toLong).map { i =>
      val h = i * 1103515245L + 12345L
      (i, Array.tabulate(64)(j => if (((h >> (j % 48)) & 1L) == 1L) 1.0f else -1.0f).toSeq)
    }
    Similarity.prepare(rows.toDF("vec_id", "embedding"), "vec_id", "embedding")
  }

  test("planBandBits: wide key on a saturated corpus, narrow on sparse, widest as fallback") {
    // 300 vectors over 16 possible 4-bit band keys saturate (forecast ~11k
    // pairs); 256-key 8-bit bands stay under a 2k budget -> planner widens.
    assert(Similarity.planBandBits(signCorpus(300), Seq(16, 32), 4, 2000L) == 32)
    // 30 vectors don't saturate 4-bit keys -> keep the narrow (recall) width.
    assert(Similarity.planBandBits(signCorpus(30), Seq(16, 32), 4, 2000L) == 16)
    // nothing fits a 1-pair budget -> widest width, a bounded join regardless.
    assert(Similarity.planBandBits(signCorpus(300), Seq(16, 32), 4, 1L) == 32)
    // empty corpus -> zero forecast everywhere -> narrowest width, no NPE.
    assert(Similarity.planBandBits(signCorpus(0), Seq(16, 32), 4, 2000L) == 16)
  }

  test("knnGraphAuto equals knnGraph at the planned width") {
    val corpus = signCorpus(60).localCheckpoint(false)
    val bits = Similarity.planBandBits(corpus, Seq(16, 32), 4, 2000L)
    val auto = Similarity.knnGraphAuto(corpus, k = 3, Seq(16, 32), 4, 2000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val manual = Similarity.knnGraph(corpus, k = 3, bits, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(auto.sameElements(manual))
    assert(auto.nonEmpty)
  }

  // near-dup doc fixture: two planted >=0.8 pairs inside blocks, one
  // cross-block near-identical pair (must NOT match), one unrelated doc
  private lazy val dupDocs = Seq(
    (1L, "en", "web", "the quick brown fox jumps over the lazy dog again and again today"),
    (2L, "en", "web", "the quick brown fox jumps over the lazy dog again and again tonight"),
    (3L, "en", "news", "the quick brown fox jumps over the lazy dog again and again today"),
    (4L, "de", "web", "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (5L, "de", "web", "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
    (6L, "en", "web", "completely different text with no overlap whatsoever in content here")
  ).toDF("doc_id", "lang", "source", "text")

  /** Brute-force blocked Jaccard pairs (d4's oracle shape) computed in-test. */
  private def brutePairs(threshold: Double): Set[(Long, Long)] = {
    graft.functions.GraftFunctions.register(spark)
    val sh = dupDocs
      .selectExpr("doc_id", "lang", "source", graft.ext.MinHash.splitExpr)
      .selectExpr("doc_id", "lang", "source", s"(${graft.ext.MinHash.shingleExpr}) AS sh")
    sh.as("a").join(sh.as("b"), expr(
        "a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id"))
      .where(expr(s"${graft.ext.MinHash.jaccardExpr("a.sh", "b.sh")} >= $threshold"))
      .select(col("a.doc_id"), col("b.doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("ngramJaccardPairs matches the full blocked pair join (d4's exactness oracle)") {
    val got = Similarity.ngramJaccardPairs(dupDocs, 0.8)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = brutePairs(0.8)
    assert(want.contains((1L, 2L)), "fixture must plant an en/web near-dup pair")
    assert(got == want, s"prefix-filtered join must be bitwise the full join: $got vs $want")
    assert(!got.exists { case (a, b) => a == 3L || b == 3L },
      "cross-block near-identical doc must not pair (blocking semantics)")
  }

  test("ngramJaccardPairs prefix filter is candidate-complete at a looser threshold") {
    val got = Similarity.ngramJaccardPairs(dupDocs, 0.5)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == brutePairs(0.5))
    assert(got.contains((4L, 5L)), "de/web pair clears the 0.5 threshold")
  }

  test("ngramJaccardPairs: all three verify tiers answer identically") {
    // small fixtures land in the payload tier by default — force each
    // posting-count tier with bound 0 so a latent bug in an at-scale path
    // cannot hide behind the small-pair fast path
    def pairs(bBound: Long, pBound: Long) =
      Similarity.ngramJaccardPairs(dupDocs, 0.5, Seq("lang", "source"), bBound, pBound)
        .select("id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val payload = pairs(4000000L, 262144L)
    val postingBroadcast = pairs(4000000L, 0L)
    val postingShuffled = pairs(0L, 0L)
    assert(payload == brutePairs(0.5))
    assert(postingBroadcast == payload)
    assert(postingShuffled == payload)
  }

  test("minHashNearDupPairs finds exactly the >=0.8 pairs LSH can propose, both bound branches") {
    // the candidates are banded (not exhaustive), but on this fixture every
    // planted >=0.8 pair shares all four bands (near-identical docs), so the
    // library call must return exactly the brute-force >=0.8 pair set —
    // including the cross-block pair ngramJaccardPairs' blocking excludes
    graft.functions.GraftFunctions.register(spark)
    val sh = dupDocs
      .selectExpr("doc_id", "lang", graft.ext.MinHash.splitExpr)
      .selectExpr("doc_id", "lang", s"(${graft.ext.MinHash.shingleExpr}) AS sh")
    val want = sh.as("a").join(sh.as("b"), expr("a.doc_id < b.doc_id"))
      .where(expr(s"${graft.ext.MinHash.jaccardExpr("a.sh", "b.sh")} >= 0.8"))
      .select(col("a.doc_id"), col("b.doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def got(bBound: Long, pBound: Long) =
      Similarity.minHashNearDupPairs(dupDocs, 0.8, Seq("lang"), 1000, bBound, pBound)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val fast = got(4000000L, 262144L) // payload tier (the small-pair default)
    assert(fast.map(t => (t._1, t._2)).toSet == want, s"${fast.toSeq} vs $want")
    assert(want.contains((1L, 3L)), "fixture plants a cross-block near-dup the LSH form must keep")
    assert(fast.forall(_._3 != null), "a-side keep column must ride the output")
    assert(got(4000000L, 0L).sorted.sameElements(fast.sorted),
      "posting-count broadcast tier must answer identically")
    assert(got(0L, 0L).sorted.sameElements(fast.sorted),
      "posting-count shuffled tier must answer identically")
  }

  test("family-keyed split keeps near-dup pairs on one side where the doc-keyed split leaks") {
    // doc ids 2 and 3 are planted near-identical; md5 buckets: '2' -> 200
    // (train) but '3' -> 236 (test), so p13's doc-level split PROVABLY
    // leaks this pair across train/test — the family-keyed split (p20's
    // rule: hash the CC label, here min(2,3)=2) must keep both together
    val docs = Seq(
      (2L, "en", "the quick brown fox jumps over the lazy dog again and again today"),
      (3L, "en", "the quick brown fox jumps over the lazy dog again and again tonight"),
      (7L, "en", "completely different text with no overlap whatsoever in content here")
    ).toDF("doc_id", "lang", "text")
    val pairs = Similarity.minHashNearDupPairs(docs, 0.8, Seq("lang"))
      .select("id_a", "id_b")
    val labels = graft.ops.GraphOps.connectedComponents(pairs, "id_a", "id_b")
    def bucket(k: String) =
      s"(instr('0123456789abcdef', substring(md5(CAST($k AS STRING)), 1, 1)) - 1) * 16 + " +
        s"instr('0123456789abcdef', substring(md5(CAST($k AS STRING)), 2, 1)) - 1"
    val assigned = docs.select(col("doc_id"))
      .join(labels.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .selectExpr("doc_id", "coalesce(label, doc_id) AS family")
      .selectExpr("doc_id",
        s"CASE WHEN (${bucket("family")}) < 204 THEN 'train' ELSE 'other' END AS fam_split",
        s"CASE WHEN (${bucket("doc_id")}) < 204 THEN 'train' ELSE 'other' END AS doc_split")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(assigned(2L)._2 == "train" && assigned(3L)._2 == "other",
      "fixture must demonstrate the doc-level leak (md5 buckets differ)")
    assert(assigned(2L)._1 == assigned(3L)._1,
      "family-keyed split must keep the near-dup pair on one side")
  }

  test("near-dup entries on an EMPTY corpus return empty frames, not errors") {
    val empty = Seq.empty[(Long, String, String, String)]
      .toDF("doc_id", "lang", "source", "text")
    assert(Similarity.minHashNearDupPairs(empty, 0.8, Seq("lang")).count() == 0L)
    assert(Similarity.ngramJaccardPairs(empty, 0.8).count() == 0L)
    assert(graft.ext.Packing.packStats(empty, 64L).count() == 0L)
  }

  test("ngramJaccardPairs reports the exact jaccard and block columns") {
    val rows = Similarity.ngramJaccardPairs(dupDocs, 0.5, Seq("lang", "source"))
      .collect()
    rows.foreach { r =>
      val j = r.getAs[Double]("jaccard")
      assert(j >= 0.5 && j <= 1.0)
      assert(r.getAs[String]("lang") != null && r.getAs[String]("source") != null)
    }
  }
}

package graft.analytics

import org.apache.spark.sql.functions._

/** LLM-training-data pipeline operators (SURVEY §7.5, BASELINE.json north
  * star): deduplication (exact, MinHash-LSH, SimHash, n-gram Jaccard,
  * embedding-cosine), similarity search (brute-force + LSH-bucketed ANN), text
  * analysis (language-ID, quality scoring, token counting, fingerprinting) and
  * multimodal column plumbing — expressed over the driver's `documents` /
  * `embeddings` / `events` tables with DuckDB oracles.
  *
  * Scale design: every near-dup operator is *blocked* (LSH bands / blocking
  * keys), never all-pairs over the corpus — candidate generation is a
  * hash-partitioned self-join on a small bucket key, so the shuffle volume is
  * O(candidates), not O(n^2). Determinism: hashes are md5 hex strings
  * (identical in both engines), numeric scores are integer-ratio or verified
  * double arithmetic, and every query ends in a total ORDER BY.
  */
object ExtensionQueries {

  import Tables._

  /** Distinct whitespace tokens of the lowercased text — shared tokenizer of
    * the dedup/text family. Same shape as the oracle's
    * `list_distinct(string_split(lower(text), ' '))`.
    */
  private val tokExpr = "array_distinct(split(lower(text), ' '))"

  /** Spark-side shingle/minhash expressions live in [[graft.ext.MinHash]];
    * the SQL below is the DuckDB mirror of the same 3-gram shingle rule.
    */
  private val shingleSql =
    """CASE WHEN len(string_split(lower(text), ' ')) < 3 THEN [lower(text)]
      |ELSE list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
      |  for i in generate_series(1, len(t) - 2)]) END""".stripMargin

  /** Shared d7/d11 oracle: both compute the same exact result (the Bloom in
    * d11 is a no-false-negative prefilter followed by the same verify join),
    * so they gate against the same SQL.
    */
  private val decontaminateSql =
    """WITH sp AS (SELECT doc_id, lang, string_split(lower(text), ' ') AS t FROM documents),
      |g AS (SELECT doc_id, lang,
      |  CASE WHEN len(t) < 13 THEN CAST([] AS VARCHAR[])
      |  ELSE list_distinct([array_to_string(t[i:i+12], ' ')
      |    for i in generate_series(1, len(t) - 12)]) END AS g13
      |  FROM sp),
      |bench AS (SELECT DISTINCT unnest(g13) AS gram FROM g WHERE doc_id < 50),
      |corpus AS (SELECT doc_id, lang, unnest(g13) AS gram FROM g WHERE doc_id >= 50),
      |contam AS (SELECT DISTINCT doc_id FROM corpus JOIN bench USING (gram))
      |SELECT lang, COUNT(*) AS docs,
      |  CAST(SUM(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS contaminated
      |FROM (SELECT doc_id, lang FROM g WHERE doc_id >= 50) d
      |LEFT JOIN contam c USING (doc_id)
      |GROUP BY lang ORDER BY lang""".stripMargin

  // ---- SimHash: 32-bit signature from md5 of each distinct token ----------
  // Bit j of token-hash = j-th bit of the first 8 hex chars of md5(token),
  // extracted via a hex->binary lookup string (dialect-portable: no native
  // bit ops needed). Majority vote over tokens, ties -> '1'.
  private val hexToBits =
    "0000000100100011010001010110011110001001101010111100110111101111"

  /** `CASE WHEN <bit j of md5(tok)> = '1' THEN 1 ELSE -1 END` — identical text
    * is used in Spark and DuckDB so the arithmetic matches bitwise.
    */
  private def bitTerm(j: Int): String = {
    val hexPos = j / 4 + 1
    val bitOff = j % 4
    s"(CASE WHEN substring('$hexToBits', (instr('0123456789abcdef', substring(md5(tok), $hexPos, 1)) - 1) * 4 + $bitOff + 1, 1) = '1' THEN 1 ELSE -1 END)"
  }
  private def simhashSumCols: String =
    (0 until 32).map(j => s"SUM(${bitTerm(j)}) AS s$j").mkString(", ")
  private def simhashAssemble: String =
    "concat(" + (0 until 32).map(j => s"(CASE WHEN s$j >= 0 THEN '1' ELSE '0' END)").mkString(", ") + ") AS simhash"

  /** The candidate-id broadcast bound used by the registered dedup verifies
    * (d2/d6/d8 via [[verifiedNearDupPairs]], d14, d16) — overridable through
    * session conf `graft.broadcastPairBound` so tests can force the shuffled
    * fallback branch (registered query signatures are fixed by the driver
    * contract, so a parameter can't carry it).
    */
  private def broadcastPairBound(s: org.apache.spark.sql.SparkSession): Long =
    s.conf.get("graft.broadcastPairBound", "4000000").toLong

  /** Pair-count ceiling for the candidate-bounded PAYLOAD verify tier
    * ([[graft.ext.Similarity.minHashNearDupPairs]] round-9 rework); a conf
    * knob so specs can force the posting-count tiers on registered queries.
    */
  private def payloadPairBound(s: org.apache.spark.sql.SparkSession): Long =
    s.conf.get("graft.payloadPairBound", "262144").toLong

  /** e5/e9's shared DRIVER-SIDE covariance build over the leading 8
    * quantized dims: exact-integer co-moment collect (36 + 8 + 1 rows of
    * bounded driver state — DECIMAL sums, addition-order-free), then the e3
    * covariance expression evaluated in doubles. The arithmetic ORDER here
    * is part of both queries' oracle contracts (DuckDB mirrors it
    * CTE-for-CTE), so any change must land in e5's and e9's SQL strings too.
    * `q` needs a `qv` column of floor(x*1e4) BIGINTs.
    */
  private def covariance8(q: org.apache.spark.sql.DataFrame): Array[Array[Double]] = {
    val pairStructs = (for (i <- 0 until 8; j <- i until 8) yield
      s"struct($i AS i, $j AS j, CAST(element_at(qv, ${i + 1}) AS DECIMAL(20, 0)) * CAST(element_at(qv, ${j + 1}) AS DECIMAL(20, 0)) AS p)")
      .mkString(", ")
    val spp = q.selectExpr(s"inline(array($pairStructs))")
      .groupBy("i", "j").agg(sum(col("p")).as("s")).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDecimal(2).doubleValue()).toMap
    val mom = q.selectExpr("posexplode(qv)")
      .selectExpr("pos AS i", "CAST(col AS DECIMAL(38, 0)) AS v")
      .groupBy("i").agg(sum(col("v")).as("s")).collect()
      .map(r => r.getInt(0) -> r.getDecimal(1).doubleValue()).toMap
    val n = q.count().toDouble
    // cov_ij = (n*Spp - Si*Sj)/n^2 /1e8 — e3's expression, driver-side.
    val c = Array.ofDim[Double](8, 8)
    for (i <- 0 until 8; j <- i until 8) {
      val cd = (n * spp((i, j)) - mom(i) * mom(j)) / (n * n) / 100000000.0
      c(i)(j) = cd; c(j)(i) = cd
    }
    c
  }

  /** Shared d2/d6 pipeline, now THE library call: the registration gates
    * [[graft.ext.Similarity.minHashNearDupPairs]] (shingles -> minhash ->
    * capped LSH banding -> candidate-bounded posting-count verify; design
    * notes and 100x measurements on the library method + SCALE.md
    * session-9). Output: (id_a, id_b, lang).
    */
  private def verifiedNearDupPairs(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame =
    graft.ext.Similarity.minHashNearDupPairs(
      documents(s, d), 0.8, Seq("lang"), maxBucket = 1000,
      broadcastPairBound(s), payloadPairBound(s))

  /** Per-document funnel statistics as SCAN-SIDE projections over the token
    * array `t` (r13, guide §2.3): the t13/x3 Gopher-style gates need
    * `ntok`/`nuniq`/`nalpha`/`maxtf` per document, and each is a pure
    * function of the row's own tokens — computing them via
    * explode -> groupBy(doc, term) -> groupBy(doc) shipped the corpus's
    * whole token stream through an exchange to regroup what the scan had
    * already grouped. Values are bit-identical to the aggregation form:
    * ntok = sum(tf) = size(t); nuniq = count of distinct terms;
    * nalpha = sum(length(term) * tf) = total token characters; maxtf = the
    * longest equal-run of the sorted token array (a doc's max term
    * frequency). All BIGINT, matching the old sum/count/max output types.
    */
  private val funnelStatExprs: Seq[String] = Seq(
    "CAST(size(t) AS BIGINT) AS ntok",
    "CAST(size(array_distinct(t)) AS BIGINT) AS nuniq",
    "aggregate(t, 0L, (acc, x) -> acc + length(x)) AS nalpha",
    "aggregate(sort_array(t), " +
      "named_struct('p', CAST(NULL AS STRING), 'r', 0L, 'm', 0L), " +
      "(acc, x) -> named_struct('p', x, " +
      "'r', IF(acc.p <=> x, acc.r + 1L, 1L), " +
      "'m', GREATEST(acc.m, IF(acc.p <=> x, acc.r + 1L, 1L))), " +
      "acc -> acc.m) AS maxtf")

  /** The shared candidate stage of [[verifiedNearDupPairs]] and d14/d16 —
    * delegates to [[graft.ext.Similarity.minHashCandidates]] (signature
    * checkpointing rationale and the bucket-cap guard documented there).
    * Returns (signature table, distinct (id_a < id_b) candidate pairs);
    * the verifier (shingle Jaccard for d2/d6, character edit similarity
    * for d14, component-match calibration for d16) is the caller's.
    */
  private def nearDupCandidates(
      s: org.apache.spark.sql.SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) =
    graft.ext.Similarity.minHashCandidates(documents(s, d), Seq("lang"), maxBucket = 1000)

  /** The d2/d6 oracle's shared CTE chain, mirroring [[verifiedNearDupPairs]]. */
  private def nearDupCtes: String =
    s"""sp AS (
       |  SELECT doc_id, lang, text, string_split(lower(text), ' ') AS t FROM documents),
       |sh AS (
       |  SELECT doc_id, lang, ($shingleSql) AS sh FROM sp),
       |hs AS (
       |  SELECT doc_id, lang, sh,
       |    list_transform(sh, t -> md5(t)) AS ha,
       |    list_transform(sh, t -> md5('x' || t)) AS hb
       |  FROM sh),
       |sigs AS (
       |  SELECT doc_id, lang, sh,
       |${(0 until 8).map { i =>
          val src = if (i < 4) "ha" else "hb"
          val off = (i % 4) * 8 + 1
          s"    list_min(list_transform($src, h -> substring(h, $off, 8))) AS h$i"
        }.mkString(",\n")}
       |  FROM hs),
       |bands AS (
       |  SELECT doc_id, 0 AS band, md5(h0 || h1) AS bkey FROM sigs
       |  UNION ALL SELECT doc_id, 1, md5(h2 || h3) FROM sigs
       |  UNION ALL SELECT doc_id, 2, md5(h4 || h5) FROM sigs
       |  UNION ALL SELECT doc_id, 3, md5(h6 || h7) FROM sigs),
       |cands AS (
       |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b FROM bands x
       |  JOIN bands y ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id)""".stripMargin

  // ---- PQ fixed codebook (pq_adc_topk) -------------------------------------
  // A SEEDED CONSTANT codebook, not one trained from data: `oracleSql` is a
  // static string shared across scale factors, so the model inlined into it
  // must be data-independent. Centroids are uniform in [-0.3, 0.3] — the
  // embeddings fixture's value range — so codes genuinely spread across the
  // codebook. Training determinism/quality is PqSpec's job; this query gates
  // the DISTRIBUTED legs (per-block argmin encode, ADC LUT scan, k-bounded
  // re-rank) bitwise against DuckDB.
  //
  // f32 bitwise contract with the oracle: Pq's hot loops compute
  // `x = q(t) - cent(t)` and `x * x` in Float and ACCUMULATE in Double.
  // DuckDB REAL ops are IEEE f32 (FLOAT-FLOAT stays FLOAT), Float.toString
  // round-trips through CAST('…' AS REAL), and left-assoc `+` chains match
  // the while-loop accumulation order — so both engines produce identical
  // doubles (verified over 500 random operand pairs).
  private val pqM = 4
  private val pqK = 4
  private val pqDim = 16
  private[graft] lazy val pqModel: graft.ext.Pq.Model = {
    val rng = new scala.util.Random(1105L)
    graft.ext.Pq.Model(pqM, pqK, pqDim,
      Array.fill(pqM, pqK, pqDim / pqM)(rng.nextFloat() * 0.6f - 0.3f))
  }

  private def pqLit(f: Float): String = s"CAST('${java.lang.Float.toString(f)}' AS REAL)"

  /** `|block j of v  -  centroid c|^2` with f32 products widened to DOUBLE and
    * summed left-assoc — the exact arithmetic of `Pq.nearest`/the ADC LUT.
    */
  private def pqDistExpr(j: Int, c: Int): String = {
    val sub = pqDim / pqM
    (0 until sub).map { t =>
      val idx = j * sub + t + 1
      val cl = pqLit(pqModel.codebooks(j)(c)(t))
      s"CAST((v[$idx] - $cl) * (v[$idx] - $cl) AS DOUBLE)"
    }.mkString(" + ")
  }

  /** The n7/n8 kNN-graph oracle, parameterized by band width: 4 sign bands
    * of `perBand` bits over the leading 4*perBand dims, mirroring
    * [[graft.ext.Similarity.signBands]]'s bit layout, the maxBucket=1000
    * cap, and the TopK (score desc, id) tiebreak.
    */
  private def knnGraphOracleSql(perBand: Int): String = {
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
      |  sqrt(list_reduce(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x), (acc, x) -> acc + x)) AS nrm
      |  FROM embeddings),
      |sig AS (SELECT vec_id, v, nrm,
      |""".stripMargin +
      (0 until 4).map(b =>
        "  concat(" + (b * perBand until (b + 1) * perBand).map(i =>
          s"(CASE WHEN v[${i + 1}] >= 0 THEN '1' ELSE '0' END)").mkString(", ") + s") AS band$b").mkString(",\n") +
      """
        |  FROM e),
        |bands AS (
        |  SELECT vec_id, 0 AS band, band0 AS bkey FROM sig
        |  UNION ALL SELECT vec_id, 1, band1 FROM sig
        |  UNION ALL SELECT vec_id, 2, band2 FROM sig
        |  UNION ALL SELECT vec_id, 3, band3 FROM sig),
        |""".stripMargin + knnGraphOracleTail
  }

  /** The capped-bucket-join + exact-rerank tail shared by every kNN-graph
    * oracle: expects a `bands (vec_id, band, bkey)` CTE and the `e` vector
    * CTE in scope. maxBucket=1000 and the (score desc, id) tiebreak mirror
    * [[graft.ext.Similarity.knnGraph]].
    */
  private def knnGraphOracleTail: String =
    """capped AS (
      |  SELECT band, bkey FROM bands GROUP BY band, bkey HAVING COUNT(*) <= 1000),
      |cands AS (
      |  SELECT DISTINCT q.vec_id AS qid, c.vec_id AS vec_id FROM bands q
      |  JOIN capped cp ON q.band = cp.band AND q.bkey = cp.bkey
      |  JOIN bands c ON q.band = c.band AND q.bkey = c.bkey AND c.vec_id <> q.vec_id),
      |scored AS (
      |  SELECT qid, c.vec_id AS vec_id,
      |    list_reduce(list_transform(list_zip(qe.v, ce.v), p -> p[1] * p[2]), (acc, x) -> acc + x) / (qe.nrm * ce.nrm) AS cos,
      |    row_number() OVER (PARTITION BY qid ORDER BY
      |      list_reduce(list_transform(list_zip(qe.v, ce.v), p -> p[1] * p[2]), (acc, x) -> acc + x) / (qe.nrm * ce.nrm) DESC,
      |      c.vec_id) AS rank
      |  FROM cands c JOIN e qe ON c.qid = qe.vec_id JOIN e ce ON c.vec_id = ce.vec_id)
      |SELECT qid, rank, vec_id, cos FROM scored WHERE rank <= 3 ORDER BY qid, rank""".stripMargin

  /** The n15 auto-width oracle: BOTH widths' band tables, the
    * [[graft.ext.Similarity.planBandBits]] decision reproduced in SQL (the
    * narrow width's UNCAPPED pair forecast against the budget — forecasts
    * run narrowest-first, so 16-bit wins when it fits and 32-bit is both
    * the fallback and the saturation default), then the shared capped-join
    * tail over whichever band table the forecast picked.
    */
  private def knnGraphAutoOracleSql(pairBudget: Long): String = {
    def bandExprs(perBand: Int, prefix: String) = (0 until 4).map(b =>
      s"  concat(" + (b * perBand until (b + 1) * perBand).map(i =>
        s"(CASE WHEN v[${i + 1}] >= 0 THEN '1' ELSE '0' END)").mkString(", ") +
        s") AS $prefix$b").mkString(",\n")
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
      |  sqrt(list_reduce(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x), (acc, x) -> acc + x)) AS nrm
      |  FROM embeddings),
      |sig AS (SELECT vec_id, v, nrm,
      |""".stripMargin +
      bandExprs(4, "n") + ",\n" + bandExprs(8, "w") +
      s"""
        |  FROM e),
        |bands4 AS (
        |  SELECT vec_id, 0 AS band, n0 AS bkey FROM sig
        |  UNION ALL SELECT vec_id, 1, n1 FROM sig
        |  UNION ALL SELECT vec_id, 2, n2 FROM sig
        |  UNION ALL SELECT vec_id, 3, n3 FROM sig),
        |bands8 AS (
        |  SELECT vec_id, 0 AS band, w0 AS bkey FROM sig
        |  UNION ALL SELECT vec_id, 1, w1 FROM sig
        |  UNION ALL SELECT vec_id, 2, w2 FROM sig
        |  UNION ALL SELECT vec_id, 3, w3 FROM sig),
        |f4 AS (SELECT COALESCE(SUM(c * (c - 1) // 2), 0) AS p
        |  FROM (SELECT COUNT(*) AS c FROM bands4 GROUP BY band, bkey)),
        |pick AS (SELECT CASE WHEN (SELECT p FROM f4) <= $pairBudget THEN 4 ELSE 8 END AS pb),
        |bands AS (
        |  SELECT * FROM bands4 WHERE (SELECT pb FROM pick) = 4
        |  UNION ALL SELECT * FROM bands8 WHERE (SELECT pb FROM pick) = 8),
        |""".stripMargin + knnGraphOracleTail
  }

  /** e4's seeded Achlioptas sign matrix (8 x 64, entries {-1,0,+1} with
    * P(+-1)=1/6): a constant of the query, generated once and rendered into
    * BOTH engine legs — parity is structural, like [[pqModel]].
    */
  private lazy val e4Signs: Array[Array[Int]] = {
    val rng = new scala.util.Random(2207L)
    Array.fill(8, 64) {
      val r = rng.nextInt(6)
      if (r == 0) 1 else if (r == 1) -1 else 0
    }
  }

  /** The 8 projected-coordinate expressions of [[e4Signs]], rendered for
    * either dialect via `term` (Spark `element_at(q, i+1)` / DuckDB
    * `q[i+1]`) — e4 and x2 share one generator, so parity is structural.
    */
  private def jlYExprs(term: Int => String): Seq[String] =
    e4Signs.toSeq.map(row =>
      "CAST((0" + row.zipWithIndex.collect { case (sg, i) if sg != 0 =>
        (if (sg > 0) " + " else " - ") + term(i)
      }.mkString + ") AS BIGINT)")

  private lazy val pqOracleSql: String = {
    val lists = (0 until pqM).map { j =>
      "  [" + (0 until pqK).map(c => pqDistExpr(j, c)).mkString(",\n   ") + s"] AS l$j"
    }.mkString(",\n")
    val codes = (0 until pqM)
      .map(j => s"list_position(l$j, list_min(l$j)) AS c$j").mkString(", ")
    val adc = "-(" + (0 until pqM).map(j => s"q.l$j[c.c$j]").mkString(" + ") + ")"
    s"""WITH e AS (SELECT vec_id, embedding[1:$pqDim] AS v FROM embeddings),
       |dl AS (SELECT vec_id,
       |$lists
       |  FROM e),
       |enc AS (SELECT vec_id, $codes FROM dl),
       |scored AS (
       |  SELECT q.vec_id AS qid, c.vec_id AS vec_id, $adc AS adc
       |  FROM dl q JOIN enc c ON c.vec_id <> q.vec_id
       |  WHERE q.vec_id < 10),
       |ranked AS (
       |  SELECT qid, vec_id, adc,
       |    row_number() OVER (PARTITION BY qid ORDER BY adc DESC, vec_id) AS rank
       |  FROM scored)
       |SELECT qid, rank, vec_id, adc FROM ranked WHERE rank <= 5 ORDER BY qid, rank""".stripMargin
  }

  // ---- IVFPQ fixed model (n4_ann_ivfpq) ------------------------------------
  // Coarse cells = the d9 centroids below; PQ residual codebooks = pqModel —
  // the composed FAISS-IVFPQ shape with a fully data-independent model so
  // the oracle stays one static SQL string across scale factors. Arithmetic
  // follows the pq f32 contract; the residual (v − cell centroid) is
  // REAL − REAL = REAL on both engines before the squared-distance terms
  // widen to DOUBLE, and block sums parenthesize to match the Scala
  // accumulation order exactly.
  private val n4Nprobe = 2
  private lazy val n4OracleSql: String =
    n4CtePrefix +
      "\nSELECT qid, rank, vec_id, adc FROM ranked WHERE rank <= 5 ORDER BY qid, rank"

  /** n6's oracle: the n4 CTEs verbatim (the approx leg IS the deployed n4
    * plan), plus exact squared-L2 ground truth on the same 16-dim slice
    * (2·q·v − v·v ranks identically to −|q−v|²; the dot is the n3-style
    * list_reduce mirror of `array_dot`, identical DOUBLE accumulation
    * order), and the per-query overlap — integer hits, one division.
    */
  private lazy val n6OracleSql: String = {
    val dot = (a: String, b: String) =>
      s"list_reduce(list_transform(list_zip($a, $b), p -> p[1] * p[2]), (acc, x) -> acc + x)"
    n4CtePrefix + s""",
       |approx AS (SELECT qid, vec_id FROM ranked WHERE rank <= 5),
       |ev AS (SELECT vec_id, CAST(embedding[1:$pqDim] AS DOUBLE[]) AS dv FROM embeddings),
       |qd AS (SELECT vec_id AS qid, dv AS qv FROM ev WHERE vec_id < 10),
       |gt AS (
       |  SELECT qid, vec_id FROM (
       |    SELECT qid, s.vec_id,
       |      row_number() OVER (PARTITION BY qid ORDER BY
       |        2 * ${dot("qv", "s.dv")} - ${dot("s.dv", "s.dv")} DESC,
       |        s.vec_id) AS rank
       |    FROM qd JOIN ev s ON s.vec_id <> qid)
       |  WHERE rank <= 5),
       |h AS (SELECT gt.qid, COUNT(*) AS hits FROM gt JOIN approx USING (qid, vec_id) GROUP BY gt.qid)
       |SELECT q2.qid AS qid, CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
       |  CAST(5 AS BIGINT) AS k,
       |  CAST(COALESCE(h.hits, 0) AS DOUBLE) / 5.0 AS recall
       |FROM qd q2 LEFT JOIN h ON q2.qid = h.qid
       |ORDER BY qid""".stripMargin
  }

  private lazy val n4CtePrefix: String = {
    val centsLit = "[" + sdCent.map(c => "[" + c.map(pqLit).mkString(", ") + "]").mkString(",\n    ") + "]"
    val cbLit = "[" + pqModel.codebooks.map(cb =>
      "[" + cb.map(cent => "[" + cent.map(pqLit).mkString(", ") + "]").mkString(", ") + "]").mkString(",\n    ") + "]"
    val sdl = "[" + (0 until sdK).map(c => s"(${sdDistExpr(c, oneBased = true, pqLit)})").mkString(",\n    ") + "]"
    val sub = pqDim / pqM
    val lists = (0 until pqM).map { j =>
      "  [" + (0 until pqK).map { c =>
        (0 until sub).map { t =>
          val idx = j * sub + t + 1
          val cl = pqLit(pqModel.codebooks(j)(c)(t))
          s"CAST((r[$idx] - $cl) * (r[$idx] - $cl) AS DOUBLE)"
        }.mkString(" + ")
      }.mkString(",\n   ") + s"] AS l$j"
    }.mkString(",\n")
    val codes = (0 until pqM).map(j => s"list_position(l$j, list_min(l$j)) AS c$j").mkString(", ")
    val adcBlocks = (0 until pqM).map { j =>
      "(" + (0 until sub).map { t =>
        val idx = j * sub + t + 1
        val e = s"((q.v[$idx] - cn.cl[c.cell + 1][$idx]) - cb.bl[${j + 1}][c.c$j][${t + 1}])"
        s"CAST($e * $e AS DOUBLE)"
      }.mkString(" + ") + ")"
    }.mkString(" + ")
    s"""WITH cn AS (SELECT $centsLit AS cl),
       |cb AS (SELECT $cbLit AS bl),
       |e AS (SELECT vec_id, embedding[1:$pqDim] AS v FROM embeddings),
       |cd AS (SELECT vec_id, v,
       |    $sdl AS sdl
       |  FROM e),
       |a AS (SELECT vec_id, v, sdl,
       |    CAST(list_position(sdl, list_min(sdl)) - 1 AS INTEGER) AS cell FROM cd),
       |rv AS (SELECT vec_id, cell,
       |    [v[i] - cn.cl[cell + 1][i] for i in generate_series(1, $pqDim)] AS r
       |  FROM a CROSS JOIN cn),
       |dl AS (SELECT vec_id, cell,
       |$lists
       |  FROM rv),
       |enc AS (SELECT vec_id, cell, $codes FROM dl),
       |qs AS (SELECT vec_id, v, sdl, list_sort(sdl)[$n4Nprobe] AS thr FROM a WHERE vec_id < 10),
       |scored AS (
       |  SELECT q.vec_id AS qid, c.vec_id AS vec_id, -($adcBlocks) AS adc
       |  FROM qs q JOIN enc c ON c.vec_id <> q.vec_id AND q.sdl[c.cell + 1] <= q.thr
       |  CROSS JOIN cn CROSS JOIN cb),
       |ranked AS (
       |  SELECT qid, vec_id, adc,
       |    row_number() OVER (PARTITION BY qid ORDER BY adc DESC, vec_id) AS rank
       |  FROM scored)""".stripMargin
  }

  // ---- SemDeDup fixed coarse centroids (d9_semdedup) -----------------------
  // Same seeded-CONSTANT-model rationale as the PQ codebook above: oracleSql
  // is a static string shared across scale factors, so the quantizer inlined
  // into it must be data-independent. Real SemDeDup trains k-means per corpus
  // (k grows with n, keeping cluster size — and thus the within-cluster pair
  // count — bounded); training quality is SimilaritySpec/PqSpec territory.
  // This query gates the DISTRIBUTED legs bitwise: argmin cell assignment,
  // cluster-blocked pair generation, greedy keep-earliest selection. The
  // distance arithmetic follows the pq f32 contract documented above.
  private val sdK = 8
  private val sdDim = 16
  private[graft] lazy val sdCent: Array[Array[Float]] = {
    val rng = new scala.util.Random(2207L)
    Array.fill(sdK, sdDim)(rng.nextFloat() * 0.6f - 0.3f)
  }

  /** `|v[0:16] - centroid c|^2`, f32 products widened to DOUBLE, left-assoc
    * sum — one generator for both dialects (Spark brackets are 0-based,
    * DuckDB's 1-based; float literals round-trip via CAST('…' AS FLOAT/REAL)).
    */
  private def sdDistExpr(c: Int, oneBased: Boolean, lit: Float => String): String =
    (0 until sdDim).map { t =>
      val idx = if (oneBased) t + 1 else t
      val cl = lit(sdCent(c)(t))
      s"CAST((v[$idx] - $cl) * (v[$idx] - $cl) AS DOUBLE)"
    }.mkString(" + ")

  private def sparkF32(f: Float): String = s"CAST('${java.lang.Float.toString(f)}' AS FLOAT)"

  // ---- BPE fixed merge table (t14_bpe_encode) ------------------------------
  // A CONSTANT ranked merge list, not one trained from data — same rationale
  // as the PQ codebook: the oracle must be one static SQL string across
  // scale factors, so the model inlined into it is data-independent (real
  // training is BpeSpec's job). Greedy BPE application — per word: chars,
  // then each merge in rank order, leftmost non-overlapping — is EXACTLY
  // `replace(space-joined-chars, 'x y', 'xy')` chained per merge, provided
  // no pair can match across a token boundary; verified exhaustively against
  // array semantics over the fixture's closed 31-word vocabulary.
  private lazy val bpeModel: graft.ext.Bpe.Model = graft.ext.Bpe.Model(Seq(
    ("t", "a"), ("ta", "b"), ("tab", "l"), ("tabl", "e"),
    ("s", "c"), ("sc", "a"), ("sca", "n"),
    ("v", "a"), ("va", "l"), ("val", "u"), ("valu", "e"),
    ("a", "r")))

  /** t14's fixed merge table — BpeSpec's oracle guard re-verifies the
    * replace-chain == greedy-array equivalence over the ACTUAL fixture
    * vocabulary at every SF, so a fixture change that breaks the closed-set
    * assumption fails a unit test instead of silently changing the oracle's
    * algorithm.
    */
  private[graft] def t14BpeModel: graft.ext.Bpe.Model = bpeModel

  private lazy val bpeOracleSql: String = {
    val repl = bpeModel.merges.foldLeft(
      "array_to_string([w[i:i] for i in generate_series(1, len(w))], ' ')") {
      case (acc, (a, b)) => s"replace($acc, '$a $b', '$a$b')"
    }
    s"""WITH wd AS (
       |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents),
       |t AS (
       |  SELECT doc_id, SUM(len(string_split($repl, ' '))) AS toks
       |  FROM wd WHERE len(w) > 0 GROUP BY doc_id)
       |SELECT lang, COUNT(*) AS docs,
       |  CAST(SUM(COALESCE(toks, 0)) AS BIGINT) AS bpe_tokens,
       |  CAST(SUM(length(replace(lower(text), ' ', ''))) AS BIGINT) AS chars
       |FROM documents LEFT JOIN t USING (doc_id)
       |GROUP BY lang ORDER BY lang""".stripMargin
  }

  val queries: Seq[Q] = Seq(
    // ------------------------------------------------------------- dedup ops
    Q(
      "d1_dedup_exact",
      "Exact dedup: keep-first per identical text, survivors per lang. The window partitions on sha2(text, 256), never the raw document (x1's discipline): the exchange and every sort comparison carry a 64-char hash, not the document body — per-hash partitions are duplicate families, so the window state is tiny. sha2-256 (not md5) because the oracle partitions on RAW text: a crawl-facing dedup must not let an adversarially constructible md5 collision merge two distinct documents into one family",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("h").orderBy("doc_id")
        documents(s, d)
          .withColumn("h", sha2(col("text"), 256))
          .withColumn("rn", row_number().over(w))
          .where(col("rn") === 1)
          .groupBy("lang")
          .agg(count(lit(1)).as("survivors"))
          .orderBy("lang")
      },
      Some("""SELECT lang, COUNT(*) AS survivors FROM (
             |  SELECT lang, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
             |  FROM documents) WHERE rn = 1
             |GROUP BY lang ORDER BY lang""".stripMargin)
    ),
    Q(
      "d2_dedup_minhash_lsh",
      "Shingle (3-gram) -> MinHash (8 md5-keyed min-hashes) -> LSH banding (4 bands x 2, bucket-capped) -> bucket-join candidates -> exact Jaccard >= 0.8 verify; near-dup pairs per lang. The 100 TB path: candidates are O(near-dups), not O(n^2)",
      (s, d) =>
        verifiedNearDupPairs(s, d)
          .groupBy("lang")
          .agg(count(lit(1)).as("near_dup_pairs"))
          .orderBy("lang"),
      Some(s"""WITH $nearDupCtes
              |SELECT a.lang AS lang, COUNT(*) AS near_dup_pairs FROM cands
              |JOIN sigs a ON id_a = a.doc_id JOIN sigs b ON id_b = b.doc_id
              |WHERE length(list_intersect(a.sh, b.sh)) * 1.0 /
              |      (length(a.sh) + length(b.sh) - length(list_intersect(a.sh, b.sh))) >= 0.8
              |GROUP BY a.lang ORDER BY lang""".stripMargin)
    ),
    Q(
      "d16_minhash_calibration",
      "MinHash estimator calibration — n5's philosophy applied to d2: over " +
        "the SAME capped-LSH candidate pairs the dedup pipeline verifies, " +
        "compare the 8-component minhash Jaccard ESTIMATE (matching " +
        "components / 8) against the exact shingle Jaccard, per lang. " +
        "Reported in exact integers with a common-denominator error mass " +
        "(sum |m*u - 8*i| over pairs, alongside sum u) so both engines " +
        "agree bitwise with no per-pair float division anywhere. This is " +
        "how the 8-hash setting gets audited before trusting it at " +
        "corpus scale: estimator bias visible per lang, candidate " +
        "generation identical to production (same signatures, same bands, " +
        "same bucket cap)",
      (s, d) => {
        // candidate-bounded signature sides (the d2/d17 verify discipline):
        // the estimator-vs-exact audit reads CANDIDATE docs' signatures, so
        // only those should ever ride the pair-join exchanges
        val (docs, cands0) = nearDupCandidates(s, d)
        // lazy checkpoint + count = ONE action (round-9): the count both
        // materializes the checkpoint and decides the id-set broadcast
        val cands = cands0.localCheckpoint(eager = false)
        val small = cands.count() <= broadcastPairBound(s)
        val candIds = cands.select(col("id_a").as("doc_id"))
          .union(cands.select(col("id_b").as("doc_id")))
        val t0 = docs.select(
          Seq(col("doc_id"), col("lang"), col("sh")) ++ (0 until 8).map(i => col(s"h$i")): _*)
        val t =
          if (small) t0.join(broadcast(candIds), Seq("doc_id"), "left_semi") else t0
        val m = (0 until 8).map(i => s"(CASE WHEN a.h$i = b.h$i THEN 1 ELSE 0 END)")
          .mkString(" + ")
        cands
          .join(t.as("a"), col("id_a") === col("a.doc_id"))
          .join(t.as("b"), col("id_b") === col("b.doc_id"))
          .selectExpr("a.lang AS lang", s"($m) AS m",
            "size(array_intersect(a.sh, b.sh)) AS i",
            "size(a.sh) + size(b.sh) - size(array_intersect(a.sh, b.sh)) AS u")
          .groupBy("lang")
          .agg(
            count(lit(1)).as("pairs"),
            sum("m").cast("long").as("est_match_sum"),
            sum(expr("abs(m * u - 8 * i)")).cast("long").as("err_weighted_num"),
            sum("u").cast("long").as("union_sum"))
          .orderBy("lang")
      },
      Some(s"""WITH $nearDupCtes,
              |p AS (
              |  SELECT a.lang AS lang,
              |    (${(0 until 8).map(i => s"(CASE WHEN a.h$i = b.h$i THEN 1 ELSE 0 END)").mkString(" + ")}) AS m,
              |    len(list_intersect(a.sh, b.sh)) AS i,
              |    len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS u
              |  FROM cands JOIN sigs a ON id_a = a.doc_id JOIN sigs b ON id_b = b.doc_id)
              |SELECT lang, COUNT(*) AS pairs, CAST(SUM(m) AS BIGINT) AS est_match_sum,
              |  CAST(SUM(ABS(m * u - 8 * i)) AS BIGINT) AS err_weighted_num,
              |  CAST(SUM(u) AS BIGINT) AS union_sum
              |FROM p GROUP BY lang ORDER BY lang""".stripMargin)
    ),
    Q(
      "d6_dedup_cluster",
      "Dedup clustering: verified near-dup pairs -> connected components (distributed min-label propagation, GraphOps) -> duplicate families per lang: member docs, family count, redundant docs (members - families = what keep-one-per-family drops). The step that turns pairwise dedup output into canonical-keep decisions; transitive links (a~b~c) merge into one family even when (a,c) was never a pair",
      (s, d) => {
        // localCheckpoint: the CC loop re-reads the edge list every round;
        // without the cut each round would re-run the whole minhash pipeline.
        val pairs = verifiedNearDupPairs(s, d).localCheckpoint(eager = false)
        val labels = graft.ops.GraphOps.connectedComponents(pairs, "id_a", "id_b")
        labels
          .join(documents(s, d).select(col("doc_id").as("id"), col("lang")), Seq("id"))
          .groupBy("lang")
          .agg(
            count(lit(1)).as("clustered_docs"),
            countDistinct(col("label")).as("families"))
          .withColumn("redundant", expr("CAST(clustered_docs - families AS BIGINT)"))
          .orderBy("lang")
      },
      // Oracle forms the transitive closure with a recursive CTE (set-union
      // recursion terminates) — per-component min label == CC's fixpoint.
      Some(s"""WITH RECURSIVE $nearDupCtes,
              |pairs AS (
              |  SELECT id_a, id_b FROM cands
              |  JOIN sigs a ON id_a = a.doc_id JOIN sigs b ON id_b = b.doc_id
              |  WHERE length(list_intersect(a.sh, b.sh)) * 1.0 /
              |        (length(a.sh) + length(b.sh) - length(list_intersect(a.sh, b.sh))) >= 0.8),
              |und AS (SELECT id_a AS a, id_b AS b FROM pairs UNION SELECT id_b, id_a FROM pairs),
              |reach AS (
              |  SELECT a AS src, b AS dst FROM und
              |  UNION
              |  SELECT r.src, u.b FROM reach r JOIN und u ON r.dst = u.a),
              |labels AS (
              |  SELECT src AS id, LEAST(src, MIN(dst)) AS label FROM reach GROUP BY src)
              |SELECT d.lang AS lang, COUNT(*) AS clustered_docs,
              |  COUNT(DISTINCT label) AS families,
              |  CAST(COUNT(*) - COUNT(DISTINCT label) AS BIGINT) AS redundant
              |FROM labels JOIN documents d ON labels.id = d.doc_id
              |GROUP BY d.lang ORDER BY lang""".stripMargin)
    ),
    Q(
      "d3_dedup_simhash",
      "SimHash 32-bit signatures (md5-bit majority over distinct tokens); per-doc signature for near-dup banding. Native simhash32 projection — no token explode, no shuffle (the aggregation shape shuffled every (doc, token) pair just to regroup what the scan already grouped); bit-equivalence to the 32-SUM chain pinned in MinHashSpec, values pinned by this oracle row",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        documents(s, d)
          .selectExpr("doc_id", s"$tokExpr AS toks")
          // explode() dropped null-token-array docs; mirror that contract
          .where(col("toks").isNotNull)
          .selectExpr(
            "doc_id",
            "CAST(size(toks) AS BIGINT) AS ntok",
            "simhash32(toks) AS simhash")
          .orderBy("doc_id")
      },
      Some(s"""WITH tokens AS (
              |  SELECT doc_id, unnest(list_distinct(string_split(lower(text), ' '))) AS tok FROM documents),
              |sums AS (
              |  SELECT doc_id, count(1) AS ntok, $simhashSumCols FROM tokens GROUP BY doc_id)
              |SELECT doc_id, ntok, $simhashAssemble FROM sums ORDER BY doc_id""".stripMargin)
    ),
    Q(
      "d4_dedup_ngram_jaccard",
      "Blocked 3-gram-shingle Jaccard near-dup: block on (lang, source), pairwise Jaccard >= 0.8; pair counts per lang (blocking keeps pairs O(block^2), not O(n^2))",
      (s, d) => {
        // Inverted-index formulation: explode shingles to postings, self-join
        // on (block, shingle) so only pairs that actually SHARE a shingle are
        // ever materialized, and |a∩b| falls out of a count per pair. Shuffle
        // volume is O(postings + collisions), not O(block^2) — the shape that
        // survives 100 TB (a pairwise block join does not).
        // Shingle arrays materialized BEFORE the explode. Two reasons: the
        // self-join's sides share the computation, and — measured — Spark
        // merges the (non-codegen, lambda-bearing) shingle expression into
        // the Generate node, re-evaluating it per OUTPUT row: explode over
        // the live expression ran ~30x slower than over materialized arrays.
        // Same AQE-exempt fan-out as d2: the shingle projection is CPU-heavy
        // per row, so pin the partition count before materializing it.
        graft.functions.GraftFunctions.register(s)
        val shSrc = documents(s, d)
        val sh = shSrc
          .repartition(graft.ops.ScaleOps.adaptiveWidth(shSrc), col("doc_id"))
          .localCheckpoint(eager = false)
          .selectExpr("doc_id", "lang", "source", graft.ext.MinHash.splitExpr)
          .selectExpr("doc_id", "lang", "source", s"(${graft.ext.MinHash.shingleExpr}) AS sh")
          .localCheckpoint(eager = false)
        val t = sh.selectExpr(
          "doc_id", "lang", "source", "size(sh) AS n", "explode(sh) AS shingle")
        // SHUFFLE_HASH: the posting table is too big to broadcast cheaply
        // (Catalyst would build and ship a 245k-entry hash relation to every
        // task) but partitions perfectly on the fine-grained shingle key —
        // shuffle both sides once, build small per-partition hash maps.
        t.as("a")
          .join(t.as("b").hint("merge"), expr(
            "a.lang = b.lang AND a.source = b.source AND a.shingle = b.shingle AND a.doc_id < b.doc_id"))
          .groupBy(
            col("a.lang").as("lang"), col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
            col("a.n").as("na"), col("b.n").as("nb"))
          .agg(count(lit(1)).as("inter"))
          .where(expr("inter * 1.0 / (na + nb - inter) >= 0.8"))
          .groupBy("lang")
          .agg(count(lit(1)).as("pairs"))
          .orderBy("lang")
      },
      Some(s"""WITH sp AS (SELECT doc_id, lang, source, text,
              |  string_split(lower(text), ' ') AS t FROM documents),
              |d AS (SELECT doc_id, lang, source, ($shingleSql) AS sh FROM sp)
              |SELECT a.lang AS lang, COUNT(*) AS pairs FROM d a
              |JOIN d b ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
              |WHERE length(list_intersect(a.sh, b.sh)) * 1.0 /
              |      (length(a.sh) + length(b.sh) - length(list_intersect(a.sh, b.sh))) >= 0.8
              |GROUP BY a.lang ORDER BY lang""".stripMargin)
    ),
    Q(
      "d5_dedup_embedding_cosine",
      "Embedding-cosine near-dup pairs: sign-LSH band bucket join generates candidates (16-bit signature, 4 bands x 4 bits — O(collisions), never all-pairs), exact cosine >= 0.35 + same-label verify. The r1 label-blocked all-pairs form was O(n^2/labels), a 100 TB scale-killer",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val e = embeddings(s, d)
          .selectExpr("vec_id", "label", "cast(embedding AS array<double>) AS v")
          .selectExpr("vec_id", "label", "v", "sqrt(array_dot(v, v)) AS nrm")
        val bands = graft.ext.Similarity.capBuckets(
          graft.ext.Similarity
            .signBands(e.selectExpr("vec_id AS id", "v", "nrm"))
            .select("id", "band", "bkey"),
          Seq("band", "bkey"), maxBucket = 1000)
        // NOTE: this registered query keeps the plain id-join verify on
        // purpose — its fixed 16-bit signature is the documented SATURATION
        // regime (SCALE.md), where candidates are a large corpus fraction
        // and a candidate-id filter would cost without filtering.
        val cands = bands.as("x")
          .join(bands.as("y"), expr("x.band = y.band AND x.bkey = y.bkey AND x.id < y.id"))
          .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
          .distinct()
        cands
          .join(e.as("a"), col("id_a") === col("a.vec_id"))
          .join(e.as("b"), col("id_b") === col("b.vec_id"))
          .where(expr(
            "a.label = b.label AND array_dot(a.v, b.v) / (a.nrm * b.nrm) >= 0.35"))
          .select(col("id_a"), col("id_b"), col("a.label").as("label"))
          .orderBy("id_a", "id_b")
      },
      Some("""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
             |  sqrt(list_reduce(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x), (acc, x) -> acc + x)) AS nrm
             |  FROM embeddings),
             |sig AS (SELECT vec_id,
             |""".stripMargin +
        (0 until 4).map(b =>
          "  concat(" + (b * 4 until b * 4 + 4).map(i =>
            s"(CASE WHEN v[${i + 1}] >= 0 THEN '1' ELSE '0' END)").mkString(", ") + s") AS band$b").mkString(",\n") +
        """
          |  FROM e),
          |bands AS (
          |  SELECT vec_id, 0 AS band, band0 AS bkey FROM sig
          |  UNION ALL SELECT vec_id, 1, band1 FROM sig
          |  UNION ALL SELECT vec_id, 2, band2 FROM sig
          |  UNION ALL SELECT vec_id, 3, band3 FROM sig),
          |cands AS (
          |  SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b FROM bands x
          |  JOIN bands y ON x.band = y.band AND x.bkey = y.bkey AND x.vec_id < y.vec_id)
          |SELECT id_a, id_b, a.label AS label FROM cands
          |JOIN e a ON id_a = a.vec_id JOIN e b ON id_b = b.vec_id
          |WHERE a.label = b.label AND
          |  list_reduce(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2]), (acc, x) -> acc + x)
          |  / (a.nrm * b.nrm) >= 0.35
          |ORDER BY id_a, id_b""".stripMargin)
    ),
    Q(
      "d7_decontaminate",
      "Benchmark decontamination: flag corpus documents sharing any 13-gram with a held-out benchmark set (docs id<50 stand in for the eval set) — the GPT-3-style n-gram contamination check every training-data pipeline runs before release. Inverted 13-gram join, O(postings + collisions), never corpus x benchmark",
      (s, d) => {
        // native one-pass gram builder (MinHashSpec pins bit-equivalence to
        // the transform/slice chain it replaced)
        graft.functions.GraftFunctions.register(s)
        val g13 = "shinglen(t, 13)"
        val sh = documents(s, d)
          .selectExpr("doc_id", "lang", graft.ext.MinHash.splitExpr)
          .selectExpr("doc_id", "lang", s"($g13) AS g13")
          .localCheckpoint(eager = false) // feeds three consumers
        val bench = sh.where(col("doc_id") < 50)
          .selectExpr("explode(g13) AS gram").distinct()
        val contam = sh.where(col("doc_id") >= 50)
          .selectExpr("doc_id", "explode(g13) AS gram")
          .join(bench, Seq("gram"))
          .select("doc_id").distinct()
        sh.where(col("doc_id") >= 50).select("doc_id", "lang")
          .join(contam.withColumn("flag", lit(1)), Seq("doc_id"), "left")
          .groupBy("lang")
          .agg(
            count(lit(1)).as("docs"),
            sum(coalesce(col("flag"), lit(0))).cast("long").as("contaminated"))
          .orderBy("lang")
      },
      Some(decontaminateSql)
    ),
    Q(
      "d11_decontaminate_bloom",
      "Decontamination, Bloom-prefiltered (the shape d7 takes when the reference set outgrows a broadcast): build a Bloom filter of the benchmark 13-grams with a distributed bit-OR aggregate (driver sees only the filter's bits, never the grams), probe it SCAN-SIDE with pure codegen'd column arithmetic (xxhash64 double-hash, literal word array, element_at + shiftright), and only the survivors — true hits plus an fpp~1% trickle — feed the exact verify join. A Bloom has no false negatives, so the output is bitwise-identical to d7 (same oracle SQL). At fixture scale AQE broadcasts the tiny bench set in BOTH plans; the bloom's regime is the real one — a reference set of every eval suite's n-grams (GBs, non-broadcastable: ~10 bits/gram here vs ~100-byte strings in a hash set), where the exact path must shuffle the full corpus gram stream and this plan still prunes it at the scan (measured ~1.1% survivors at sf0.1, SCALE.md)",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val g13 = "shinglen(t, 13)"
        val sh = documents(s, d)
          .selectExpr("doc_id", "lang", graft.ext.MinHash.splitExpr)
          .selectExpr("doc_id", "lang", s"($g13) AS g13")
          .localCheckpoint(eager = false) // feeds bench build + probe + doc base
        val bench = sh.where(col("doc_id") < 50)
          .selectExpr("explode(g13) AS gram").distinct()
          .localCheckpoint(eager = false) // counted, bloom-built, then verify-joined
        // Two bounded jobs over the BENCHMARK set only (small by definition):
        // size the filter, then fold its grams into words*8 bytes of bits.
        val p = graft.ext.Bloom.params(bench.count(), 0.01)
        val bloom = graft.ext.Bloom.build(bench, "gram", p)
        val pre = sh.where(col("doc_id") >= 50)
          .selectExpr("doc_id", "explode(g13) AS gram")
          .where(graft.ext.Bloom.mightContain(col("gram"), bloom, p.k))
        val contam = pre.join(bench, Seq("gram")).select("doc_id").distinct()
        sh.where(col("doc_id") >= 50).select("doc_id", "lang")
          .join(contam.withColumn("flag", lit(1)), Seq("doc_id"), "left")
          .groupBy("lang")
          .agg(
            count(lit(1)).as("docs"),
            sum(coalesce(col("flag"), lit(0))).cast("long").as("contaminated"))
          .orderBy("lang")
      },
      Some(decontaminateSql)
    ),
    Q(
      "d8_cluster_canonical",
      "Canonical-doc selection: the keep-one-per-family decision AFTER d6's clustering — within each near-dup family keep the highest-n_chars member (ties -> lowest doc_id), drop the rest. Per lang: families, members, dropped docs, kept/dropped character mass (what dedup actually saves). Integer aggregates end to end, so the hash gate is exact; the window is per-family (tiny partitions), never corpus-global",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        // Same pipeline as d6 up to the labels; the checkpoint stops the CC
        // loop from re-running the minhash pipeline every round.
        val pairs = verifiedNearDupPairs(s, d).localCheckpoint(eager = false)
        val labels = graft.ops.GraphOps.connectedComponents(pairs, "id_a", "id_b")
        val members = labels.join(
          documents(s, d).select(col("doc_id").as("id"), col("lang"), col("n_chars")),
          Seq("id"))
        val w = Window.partitionBy("label").orderBy(desc("n_chars"), col("id"))
        members
          .withColumn("rn", row_number().over(w))
          .groupBy("lang")
          .agg(
            countDistinct(col("label")).as("families"),
            count(lit(1)).as("members"),
            sum(when(col("rn") =!= 1, 1).otherwise(0)).cast("long").as("dropped_docs"),
            sum(when(col("rn") === 1, col("n_chars")).otherwise(0)).cast("long").as("kept_chars"),
            sum(when(col("rn") =!= 1, col("n_chars")).otherwise(0)).cast("long").as("dropped_chars"))
          .orderBy("lang")
      },
      Some(s"""WITH RECURSIVE $nearDupCtes,
              |pairs AS (
              |  SELECT id_a, id_b FROM cands
              |  JOIN sigs a ON id_a = a.doc_id JOIN sigs b ON id_b = b.doc_id
              |  WHERE length(list_intersect(a.sh, b.sh)) * 1.0 /
              |        (length(a.sh) + length(b.sh) - length(list_intersect(a.sh, b.sh))) >= 0.8),
              |und AS (SELECT id_a AS a, id_b AS b FROM pairs UNION SELECT id_b, id_a FROM pairs),
              |reach AS (
              |  SELECT a AS src, b AS dst FROM und
              |  UNION
              |  SELECT r.src, u.b FROM reach r JOIN und u ON r.dst = u.a),
              |labels AS (
              |  SELECT src AS id, LEAST(src, MIN(dst)) AS label FROM reach GROUP BY src),
              |m AS (
              |  SELECT l.label, d.lang, d.n_chars,
              |    row_number() OVER (PARTITION BY l.label ORDER BY d.n_chars DESC, d.doc_id) AS rn
              |  FROM labels l JOIN documents d ON l.id = d.doc_id)
              |SELECT lang, COUNT(DISTINCT label) AS families, COUNT(*) AS members,
              |  CAST(SUM(CASE WHEN rn <> 1 THEN 1 ELSE 0 END) AS BIGINT) AS dropped_docs,
              |  CAST(SUM(CASE WHEN rn = 1 THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars,
              |  CAST(SUM(CASE WHEN rn <> 1 THEN n_chars ELSE 0 END) AS BIGINT) AS dropped_chars
              |FROM m GROUP BY lang ORDER BY lang""".stripMargin)
    ),
    Q(
      "d10_dup_ngram_mass",
      "Corpus-duplicated n-gram mass (the Gopher dup-fraction filter at corpus granularity): for each doc, how many of its distinct 5-grams also occur in OTHER docs — flag docs whose duplicated-gram mass is >= 1/2. Inverted-index shape end to end: distinct (doc, gram) postings -> gram doc-frequency hash-agg -> posting join back (SHUFFLE_HASH: fine-grained key, no broadcast of a huge relation) -> per-doc counts; O(postings), never doc x doc. The >= 1/2 test is exact integer arithmetic (dup*2 >= tot)",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val sh = documents(s, d)
          .selectExpr("doc_id", "lang", graft.ext.MinHash.splitExpr)
          .selectExpr("doc_id", "lang", "shinglen(t, 5) AS g5")
          .localCheckpoint(eager = false) // feeds postings AND the per-doc base
        val post = sh.selectExpr("doc_id", "explode(g5) AS gram")
        val dfreq = post.groupBy("gram").agg(count(lit(1)).as("df"))
        val perDoc = post.join(dfreq.hint("merge"), Seq("gram"))
          .groupBy("doc_id")
          .agg(sum(when(col("df") >= 2, 1).otherwise(0)).cast("long").as("dup"))
        sh.selectExpr("doc_id", "lang", "CAST(size(g5) AS BIGINT) AS tot")
          .join(perDoc, Seq("doc_id"), "left")
          .withColumn("dup", coalesce(col("dup"), lit(0L)))
          .groupBy("lang")
          .agg(
            count(lit(1)).as("docs"),
            sum(when(expr("tot > 0 AND dup * 2 >= tot"), 1).otherwise(0))
              .cast("long").as("heavy_docs"),
            sum(col("tot")).as("grams"),
            sum(col("dup")).as("dup_grams"))
          .orderBy("lang")
      },
      Some("""WITH sp AS (SELECT doc_id, lang, string_split(lower(text), ' ') AS t FROM documents),
             |g AS (SELECT doc_id, lang,
             |  CASE WHEN len(t) < 5 THEN CAST([] AS VARCHAR[])
             |  ELSE list_distinct([array_to_string(t[i:i+4], ' ')
             |    for i in generate_series(1, len(t) - 4)]) END AS g5
             |  FROM sp),
             |post AS (SELECT doc_id, unnest(g5) AS gram FROM g),
             |dfreq AS (SELECT gram, COUNT(*) AS df FROM post GROUP BY gram),
             |pd AS (
             |  SELECT doc_id, SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS dup
             |  FROM post JOIN dfreq USING (gram) GROUP BY doc_id)
             |SELECT lang, COUNT(*) AS docs,
             |  CAST(SUM(CASE WHEN tot > 0 AND COALESCE(dup, 0) * 2 >= tot THEN 1 ELSE 0 END) AS BIGINT) AS heavy_docs,
             |  CAST(SUM(tot) AS BIGINT) AS grams,
             |  CAST(SUM(COALESCE(dup, 0)) AS BIGINT) AS dup_grams
             |FROM (SELECT doc_id, lang, len(g5) AS tot FROM g) b
             |LEFT JOIN pd USING (doc_id)
             |GROUP BY lang ORDER BY lang""".stripMargin)
    ),
    Q(
      "d12_dup_span_removal",
      "Exact duplicated-substring EXCISION (the Lee-et-al 'Deduplicating Training Data' rewrite, at 5-token granularity): a 5-gram is duplicated when it occurs in >= 2 distinct docs; every token position covered by a duplicated gram's span is removed and the doc is rebuilt from the survivors. Candidate generation is the d10 posting shape — positional (doc, start, gram) postings -> distinct-doc gram frequency -> posting join back (SHUFFLE_HASH) -> per-doc start list (bounded by doc length, never corpus state); the span union + rebuild are per-row array expressions. Per-lang accounting: docs, docs_rewritten, tokens_before, tokens_after",
      (s, d) => {
        val base = documents(s, d)
          .selectExpr("doc_id", "lang", graft.ext.MinHash.splitExpr)
          .selectExpr("doc_id", "lang", "t", "CAST(size(t) AS BIGINT) AS n")
          .localCheckpoint(eager = false) // feeds the postings AND the rebuild
        val post = base.where(col("n") >= 5)
          .selectExpr(
            "doc_id",
            "posexplode(transform(sequence(1, CAST(n AS INT) - 4), i -> concat_ws(' ', slice(t, i, 5))))")
          .selectExpr("doc_id", "pos + 1 AS start", "col AS gram")
        val dupGrams = post.select("gram", "doc_id").distinct()
          .groupBy("gram").agg(count(lit(1)).as("df"))
          .where(col("df") >= 2).select("gram")
        val dupStarts = post.join(dupGrams.hint("merge"), Seq("gram"))
          .groupBy("doc_id")
          .agg(sort_array(collect_list(col("start"))).as("starts"))
        base.join(dupStarts, Seq("doc_id"), "left")
          .withColumn("starts", coalesce(col("starts"), expr("CAST(array() AS ARRAY<INT>)")))
          .withColumn(
            "kept",
            expr("size(filter(sequence(1, CAST(n AS INT)), p -> NOT exists(starts, st -> p >= st AND p <= st + 4)))"))
          .groupBy("lang")
          .agg(
            count(lit(1)).as("docs"),
            sum(when(size(col("starts")) > 0, 1).otherwise(0)).cast("long").as("docs_rewritten"),
            sum(col("n")).cast("long").as("tokens_before"),
            sum(col("kept")).cast("long").as("tokens_after"))
          .orderBy("lang")
      },
      Some("""WITH sp AS (SELECT doc_id, lang, string_split(lower(text), ' ') AS t FROM documents),
             |b AS (SELECT doc_id, lang, t, len(t) AS n FROM sp),
             |g AS (SELECT doc_id, n,
             |  CASE WHEN n < 5 THEN CAST([] AS STRUCT(s BIGINT, gram VARCHAR)[])
             |  ELSE [struct_pack(s := i, gram := array_to_string(t[i:i+4], ' '))
             |    for i in generate_series(1, n - 4)] END AS gs
             |  FROM b),
             |pp AS (SELECT doc_id, u.s AS start, u.gram AS gram
             |  FROM (SELECT doc_id, unnest(gs) AS u FROM g)),
             |dg AS (SELECT gram FROM (SELECT DISTINCT gram, doc_id FROM pp)
             |  GROUP BY gram HAVING COUNT(*) >= 2),
             |ds AS (SELECT doc_id, list(start ORDER BY start) AS starts
             |  FROM pp JOIN dg USING (gram) GROUP BY doc_id),
             |r AS (SELECT b.doc_id, b.lang, b.n,
             |  COALESCE(d.starts, CAST([] AS BIGINT[])) AS starts
             |  FROM b LEFT JOIN ds d ON b.doc_id = d.doc_id),
             |k AS (SELECT lang, n, starts,
             |  len([p for p in generate_series(1, n)
             |    if len(list_filter(starts, st -> p >= st and p <= st + 4)) = 0]) AS kept
             |  FROM r)
             |SELECT lang, COUNT(*) AS docs,
             |  CAST(SUM(CASE WHEN len(starts) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_rewritten,
             |  CAST(SUM(n) AS BIGINT) AS tokens_before,
             |  CAST(SUM(kept) AS BIGINT) AS tokens_after
             |FROM k GROUP BY lang ORDER BY lang""".stripMargin)
    ),
    Q(
      "d13_paragraph_dedup",
      "Paragraph-level exact dedup (the C4/RefinedWeb line-dedup discipline, a granularity between d1's whole-document and d12's 5-gram spans): docs segment into consecutive 10-token windows (the fixture's paragraph analog — real corpora split on newline), every segment whose text was seen earlier anywhere in the corpus (global first occurrence by (doc_id, idx)) counts as removed boilerplate; per-lang segment/token removal stats. 100 TB shape: the exchange carries (sha2-256 hash, ids, token count), never segment text; first-occurrence selection is a partial-aggregating min(struct) — no Window anywhere; the hash join is SHUFFLE_HASH on the fine-grained hash key (broadcasting a corpus-sized winner set would be the bug). sha2, not md5, for d1's collision posture",
      (s, d) => {
        val segs = documents(s, d)
          .selectExpr("doc_id", "lang", "split(text, ' ') AS t")
          .selectExpr("doc_id", "lang",
            "posexplode(transform(sequence(0, CAST(ceil(size(t) / 10.0) AS INT) - 1), " +
              "i -> slice(t, i * 10 + 1, 10))) AS (idx, seg)")
          .selectExpr("doc_id", "lang", "idx",
            "sha2(concat_ws(' ', seg), 256) AS h", "CAST(size(seg) AS BIGINT) AS ntoks")
        val winners = segs.groupBy("h")
          .agg(min(struct(col("doc_id"), col("idx"))).as("w"))
        segs.join(winners.hint("merge"), Seq("h"))
          .withColumn("dup",
            col("doc_id") =!= col("w.doc_id") || col("idx") =!= col("w.idx"))
          .groupBy("lang")
          .agg(
            count(lit(1)).as("segments"),
            sum(when(col("dup"), 1).otherwise(0)).cast("long").as("dup_segments"),
            sum(when(col("dup"), col("ntoks")).otherwise(0L)).cast("long").as("tokens_removed"),
            countDistinct(when(col("dup"), col("doc_id"))).cast("long").as("docs_affected"))
          .orderBy("lang")
      },
      Some("""WITH tok AS (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
             |sg AS (SELECT doc_id, lang, t,
             |  unnest(generate_series(0, CAST(ceil(len(t) / 10.0) AS BIGINT) - 1)) AS idx FROM tok),
             |segs AS (SELECT doc_id, lang, idx,
             |  array_to_string(t[(idx * 10 + 1):(idx * 10 + 10)], ' ') AS seg,
             |  len(t[(idx * 10 + 1):(idx * 10 + 10)]) AS ntoks FROM sg),
             |k AS (SELECT lang, doc_id, idx, ntoks,
             |  row_number() OVER (PARTITION BY seg ORDER BY doc_id, idx) AS rn FROM segs)
             |SELECT lang, COUNT(*) AS segments,
             |  CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_segments,
             |  CAST(SUM(CASE WHEN rn > 1 THEN ntoks ELSE 0 END) AS BIGINT) AS tokens_removed,
             |  CAST(COUNT(DISTINCT CASE WHEN rn > 1 THEN doc_id END) AS BIGINT) AS docs_affected
             |FROM k GROUP BY lang ORDER BY lang""".stripMargin)
    ),
    Q(
      "d14_edit_dedup",
      "Edit-similarity near-dup verification (the NearDup metric of Lee et al. deployed over the d2 LSH candidates): the band join proposes pairs, but the verifier is character edit distance, not shingle Jaccard — the metric of record when documents differ by small in-place edits that shift every k-gram. Threshold edit_sim = 1 - lev/max(len) >= 0.8 tested in EXACT integer arithmetic (5*lev <= max(len) — no division, no float in the predicate); per-lang candidate/verified counts and exact distance/length masses, with one final ratio both engines compute identically from the same two BIGINTs. 100 TB shape: the DP runs only on O(near-dup) candidate pairs from capped buckets, never corpus x corpus, AND it is BANDED — the threshold form of levenshtein with threshold = floor(mx/5), exactly the acceptance bound, costs O(mx/5 * len) per pair instead of O(len^2) while provably preserving the verified set (rejected pairs return -1 and fail the integer guard; the oracle runs the unbanded form, so the hash gate is the equivalence proof). The pair exchange carries ids — text joins in by id. Fixture texts are ASCII, where Spark's code-unit DP and DuckDB's byte DP agree by construction",
      (s, d) => {
        // candidate-bounded text sides (the d2/d17 verify discipline): the
        // DP join must exchange CANDIDATE documents' text, not the corpus —
        // lazy checkpoint + count (one action, round-9) so the id-set
        // broadcast is decided at initial planning; above the bound the
        // plain joins remain (text then exchanges once per side, the r7
        // shape)
        val (_, cands0) = nearDupCandidates(s, d)
        val cands = cands0.localCheckpoint(eager = false)
        val nPairs = cands.count()
        val small = nPairs <= broadcastPairBound(s)
        val candIds = cands.select(col("id_a").as("doc_id"))
          .union(cands.select(col("id_b").as("doc_id")))
        val txt0 = documents(s, d).select(col("doc_id"), col("lang"), col("text"),
          length(col("text")).as("len"))
        val txt =
          if (small) txt0.join(broadcast(candIds), Seq("doc_id"), "left_semi") else txt0
        // Banded DP: levenshtein's threshold form costs O(threshold * len)
        // per pair instead of O(len^2). threshold = floor(mx/5) is EXACTLY
        // the acceptance bound (5*lev <= mx <=> lev <= floor(mx/5)), so the
        // verified set and every verified distance are unchanged; a rejected
        // pair returns -1 and fails the lev >= 0 guard. The oracle runs the
        // unbanded form — the hash gate proves the equivalence.
        // DP width from the KNOWN pair count (r13): the DP's input is
        // byte-tiny (AQE coalesced it to ONE task at the sf1 decade —
        // measured 4.0 cpu-s serial) but its per-row cost is O(mx/5 * len),
        // so byte-based coalescing mis-sizes it. ~256 DPs per task; the
        // exchange carries candidate-bounded text pairs (the payload-verify
        // discipline), and the clamp keeps corpus-scale widths at the
        // cluster's parallelism. Skipped when the pair set is one task's
        // worth anyway.
        val dpWidth = math.max(1L,
          math.min(s.sparkContext.defaultParallelism.toLong * 2, nPairs / 256)).toInt
        val paired = cands
          .join(txt.as("a"), col("id_a") === col("a.doc_id"))
          .join(txt.as("b"), col("id_b") === col("b.doc_id"))
        val spread = if (dpWidth > 1)
          paired.repartition(dpWidth, col("id_a"), col("id_b")) else paired
        val v = spread
          .select(col("a.lang").as("lang"),
            expr("levenshtein(a.text, b.text, CAST(FLOOR(greatest(a.len, b.len) / 5) AS INT))")
              .cast("long").as("lev"),
            greatest(col("a.len"), col("b.len")).cast("long").as("mx"))
        v.groupBy("lang")
          .agg(
            count(lit(1)).as("candidates"),
            sum(when(expr("lev >= 0 AND 5 * lev <= mx"), 1L).otherwise(0L)).cast("long").as("verified_pairs"),
            sum(when(expr("lev >= 0 AND 5 * lev <= mx"), col("lev")).otherwise(0L)).cast("long").as("edit_mass"),
            sum(when(expr("lev >= 0 AND 5 * lev <= mx"), col("mx")).otherwise(0L)).cast("long").as("len_mass"))
          .select(col("lang"), col("candidates"), col("verified_pairs"),
            col("edit_mass"), col("len_mass"),
            when(col("len_mass") > 0,
              lit(1.0) - col("edit_mass").cast("double") / col("len_mass").cast("double"))
              .otherwise(lit(1.0)).as("mean_edit_sim"))
          .orderBy("lang")
      },
      Some(s"""WITH $nearDupCtes,
              |v AS (
              |  SELECT a.lang AS lang, levenshtein(a.text, b.text) AS lev,
              |    greatest(length(a.text), length(b.text)) AS mx
              |  FROM cands JOIN sp a ON id_a = a.doc_id JOIN sp b ON id_b = b.doc_id)
              |SELECT lang, COUNT(*) AS candidates,
              |  CAST(SUM(CASE WHEN 5 * lev <= mx THEN 1 ELSE 0 END) AS BIGINT) AS verified_pairs,
              |  CAST(SUM(CASE WHEN 5 * lev <= mx THEN lev ELSE 0 END) AS BIGINT) AS edit_mass,
              |  CAST(SUM(CASE WHEN 5 * lev <= mx THEN mx ELSE 0 END) AS BIGINT) AS len_mass,
              |  CASE WHEN SUM(CASE WHEN 5 * lev <= mx THEN mx ELSE 0 END) > 0
              |    THEN 1.0 - CAST(SUM(CASE WHEN 5 * lev <= mx THEN lev ELSE 0 END) AS DOUBLE)
              |             / CAST(SUM(CASE WHEN 5 * lev <= mx THEN mx ELSE 0 END) AS DOUBLE)
              |    ELSE 1.0 END AS mean_edit_sim
              |FROM v GROUP BY lang ORDER BY lang""".stripMargin)
    ),
    Q(
      "d15_source_overlap",
      "Cross-source duplication matrix (the dump-overlap analysis CommonCrawl pipelines run before mixing snapshots): for each source pair, the distinct 5-grams both emit and the Jaccard overlap of their gram vocabularies — the number that decides whether a new dump adds content or re-crawls the old one. Inverted shape end to end: distinct (source, gram) postings -> gram self-join (SHUFFLE_HASH, never a corpus-sized broadcast) -> per-pair counts; per-source vocabulary sizes broadcast in for the ratio (|sources| rows — dumps are tens, a deployment constant). 100 TB shape: per-gram fan-out is capped at |sources| choose 2 BY THE DISTINCT (a gram appears once per source it lives in), so pair volume is O(distinct postings x source-multiplicity), never corpus x corpus; the Jaccard division is one double op both engines compute from the same exact BIGINTs",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        // r13 (guide §2.3 narrower types): grams hash to 8-BYTE IDS at set
        // build — the d17/ngramJaccardPairs discipline — so the distinct
        // exchange, the self-join exchange and every gram comparison move
        // fixed-width longs instead of ~35-char 5-gram strings (measured:
        // the join stage was d15's top CPU at 2.5 s). array_distinct
        // pre-dedups per row before the explode (same distinct set, fewer
        // exploded rows). A 64-bit collision would merge two grams
        // corpus-wide (~1e-6 at 1e7 distinct grams) — the standard
        // shingle-hashing trade, oracle-gated at all three SFs.
        val grams = documents(s, d)
          .selectExpr("source", graft.ext.MinHash.splitExpr)
          .selectExpr("source",
            "explode(array_distinct(transform(shinglen(t, 5), x -> xxhash64(x)))) AS gram")
          .distinct()
          .localCheckpoint(eager = false) // feeds both join sides + the counts
        val counts = grams.groupBy("source").agg(count(lit(1)).as("n"))
        val pairs = grams.select(col("source").as("source_a"), col("gram"))
          .join(grams.select(col("source").as("source_b"), col("gram"))
            .hint("merge"), Seq("gram"))
          .where(col("source_a") < col("source_b"))
          .groupBy("source_a", "source_b")
          .agg(count(lit(1)).cast("long").as("shared_grams"))
        pairs
          .join(broadcast(counts.select(col("source").as("source_a"), col("n").as("na"))),
            Seq("source_a"))
          .join(broadcast(counts.select(col("source").as("source_b"), col("n").as("nb"))),
            Seq("source_b"))
          .select(col("source_a"), col("source_b"), col("shared_grams"),
            col("na").cast("long").as("na"), col("nb").cast("long").as("nb"),
            (col("shared_grams").cast("double") /
              (col("na") + col("nb") - col("shared_grams")).cast("double")).as("jaccard"))
          .orderBy("source_a", "source_b")
      },
      Some("""WITH sp AS (SELECT source, string_split(lower(text), ' ') AS t FROM documents),
             |g AS (SELECT source,
             |  CASE WHEN len(t) < 5 THEN CAST([] AS VARCHAR[])
             |  ELSE list_distinct([array_to_string(t[i:i+4], ' ')
             |    for i in generate_series(1, len(t) - 4)]) END AS g5
             |  FROM sp),
             |sg AS (SELECT DISTINCT source, gram
             |  FROM (SELECT source, unnest(g5) AS gram FROM g)),
             |cnt AS (SELECT source, COUNT(*) AS n FROM sg GROUP BY source),
             |pairs AS (
             |  SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS shared
             |  FROM sg a JOIN sg b ON a.gram = b.gram AND a.source < b.source
             |  GROUP BY 1, 2)
             |SELECT source_a, source_b, CAST(shared AS BIGINT) AS shared_grams,
             |  CAST(ca.n AS BIGINT) AS na, CAST(cb.n AS BIGINT) AS nb,
             |  CAST(shared AS DOUBLE) / CAST(ca.n + cb.n - shared AS DOUBLE) AS jaccard
             |FROM pairs JOIN cnt ca ON source_a = ca.source JOIN cnt cb ON source_b = cb.source
             |ORDER BY source_a, source_b""".stripMargin)
    ),
    Q(
      "d9_semdedup",
      "SemDeDup-style semantic dedup: coarse-quantize embeddings to k cells (argmin over fixed centroids — the oracle-shareable stand-in for per-corpus k-means), then within each cell apply the ONE-PASS dominance rule: drop any member with an earlier (lower-id) cell-mate at cosine>=0.35. Deliberately join-shaped rather than the sequential greedy scan (which is order-iterative and not SQL/one-shuffle expressible); on a transitive chain a~b~c it may also drop c where sequential greedy would keep it — a conservative over-drop, never an under-drop. The cell is the blocking key: pair generation is cluster-bounded (k grows with corpus size in the real deployment, capping cell width), never corpus-global. Per cell: members, kept, dropped",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val e = embeddings(s, d)
          .selectExpr(
            "vec_id",
            "slice(embedding, 1, 16) AS v",
            "CAST(embedding AS ARRAY<DOUBLE>) AS fv")
          .selectExpr("vec_id", "v", "fv", "sqrt(array_dot(fv, fv)) AS nrm")
        val dists = e.selectExpr(
          Seq("vec_id", "fv", "nrm") ++
            (0 until sdK).map(c => s"(${sdDistExpr(c, oneBased = false, sparkF32)}) AS sd_$c"): _*)
        val assigned = dists
          .withColumn("m", expr((0 until sdK).map(c => s"sd_$c").mkString("least(", ", ", ")")))
          .withColumn("cluster", expr(
            "CAST(CASE " + (0 until sdK).map(c => s"WHEN sd_$c = m THEN $c").mkString(" ") + " END AS INT)"))
          .select("vec_id", "cluster", "fv", "nrm")
          .localCheckpoint(eager = false) // feeds both sides of the pair join + the rollup
        val dropped = assigned.as("a")
          .join(assigned.as("b"), expr(
            "a.cluster = b.cluster AND b.vec_id < a.vec_id AND " +
              "array_dot(a.fv, b.fv) / (a.nrm * b.nrm) >= 0.35"),
            "left_semi")
          .select("vec_id").withColumn("isdrop", lit(1))
        assigned.join(dropped, Seq("vec_id"), "left")
          .groupBy("cluster")
          .agg(
            count(lit(1)).as("members"),
            sum(when(col("isdrop").isNull, 1).otherwise(0)).cast("long").as("kept"),
            sum(when(col("isdrop").isNotNull, 1).otherwise(0)).cast("long").as("dropped"))
          .orderBy("cluster")
      },
      Some({
        val lists = (0 until sdK)
          .map(c => s"    (${sdDistExpr(c, oneBased = true, f => s"CAST('${java.lang.Float.toString(f)}' AS REAL)")}) AS sd_$c")
          .mkString(",\n")
        val leastE = (0 until sdK).map(c => s"sd_$c").mkString("least(", ", ", ")")
        val caseE = "CAST(CASE " + (0 until sdK).map(c => s"WHEN sd_$c = m THEN $c").mkString(" ") + " END AS INTEGER)"
        s"""WITH e AS (SELECT vec_id, embedding[1:$sdDim] AS v,
           |  CAST(embedding AS DOUBLE[]) AS fv,
           |  sqrt(list_reduce(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x), (acc, x) -> acc + x)) AS nrm
           |  FROM embeddings),
           |dl AS (SELECT vec_id, fv, nrm,
           |$lists
           |  FROM e),
           |withm AS (SELECT *, $leastE AS m FROM dl),
           |asg AS (SELECT vec_id, fv, nrm, $caseE AS cluster FROM withm),
           |dropped AS (
           |  SELECT DISTINCT a.vec_id AS vec_id FROM asg a JOIN asg b
           |  ON a.cluster = b.cluster AND b.vec_id < a.vec_id AND
           |    list_reduce(list_transform(list_zip(a.fv, b.fv), p -> p[1] * p[2]), (acc, x) -> acc + x)
           |    / (a.nrm * b.nrm) >= 0.35)
           |SELECT cluster, COUNT(*) AS members,
           |  CAST(SUM(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS kept,
           |  CAST(SUM(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS dropped
           |FROM asg LEFT JOIN dropped d USING (vec_id)
           |GROUP BY cluster ORDER BY cluster""".stripMargin
      })
    ),
    // --------------------------------------------------------------- ANN ops
    Q(
      "n1_ann_bruteforce_topk",
      "Brute-force cosine top-5 neighbors for 10 query vectors (baseline ANN; broadcast queries x corpus, no n^2)",
      (s, d) => {
        // Instantiates graft.ext.Similarity.bruteForceTopK (TopK Aggregator
        // ranking path) — column names aligned with the oracle.
        val prepared = graft.ext.Similarity.prepare(embeddings(s, d), "vec_id", "embedding")
        graft.ext.Similarity
          .bruteForceTopK(prepared, prepared.where(col("id") < 10), k = 5)
          .selectExpr("qid", "rank", "id AS vec_id", "score AS cos")
          .orderBy("qid", "rank")
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             |  sqrt(list_reduce(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x), (acc, x) -> acc + x)) AS nrm
             |  FROM embeddings),
             |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qnrm FROM e WHERE vec_id < 10),
             |scored AS (
             |  SELECT qid, vec_id,
             |    list_reduce(list_transform(list_zip(qv, v), p -> p[1] * p[2]), (acc, x) -> acc + x) / (qnrm * nrm) AS cos,
             |    row_number() OVER (PARTITION BY qid ORDER BY
             |      list_reduce(list_transform(list_zip(qv, v), p -> p[1] * p[2]), (acc, x) -> acc + x) / (qnrm * nrm) DESC,
             |      vec_id) AS rank
             |  FROM e JOIN q ON vec_id <> qid)
             |SELECT qid, rank, vec_id, cos FROM scored WHERE rank <= 5 ORDER BY qid, rank""".stripMargin)
    ),
    Q(
      "n2_ann_lsh_bucketed",
      "LSH-bucketed ANN: 16-bit sign signature over leading dims, 4 bands x 4 bits; candidates share a band, exact cosine top-3 (the 100 TB scale path: bucket join, no full scan per query)",
      (s, d) => {
        // Instantiates graft.ext.Similarity.lshTopK (16-bit sign signature,
        // 4 bands, exact re-rank on bucket collisions).
        val prepared = graft.ext.Similarity.prepare(embeddings(s, d), "vec_id", "embedding")
        graft.ext.Similarity
          .lshTopK(prepared, prepared.where(col("id") < 10), k = 3, maxBucket = 1000)
          .selectExpr("qid", "rank", "id AS vec_id", "score AS cos")
          .orderBy("qid", "rank")
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             |  sqrt(list_reduce(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x), (acc, x) -> acc + x)) AS nrm
             |  FROM embeddings),
             |sig AS (SELECT vec_id, v, nrm,
             |""".stripMargin +
        (0 until 4).map(b =>
          "  concat(" + (b * 4 until b * 4 + 4).map(i =>
            s"(CASE WHEN v[${i + 1}] >= 0 THEN '1' ELSE '0' END)").mkString(", ") + s") AS band$b").mkString(",\n") +
        """
          |  FROM e),
          |bands AS (
          |  SELECT vec_id, 0 AS band, band0 AS bkey FROM sig
          |  UNION ALL SELECT vec_id, 1, band1 FROM sig
          |  UNION ALL SELECT vec_id, 2, band2 FROM sig
          |  UNION ALL SELECT vec_id, 3, band3 FROM sig),
          |cands AS (
          |  SELECT DISTINCT q.vec_id AS qid, c.vec_id AS vec_id FROM bands q
          |  JOIN bands c ON q.band = c.band AND q.bkey = c.bkey AND q.vec_id < 10 AND c.vec_id <> q.vec_id),
          |scored AS (
          |  SELECT qid, c.vec_id AS vec_id,
          |    list_reduce(list_transform(list_zip(qe.v, ce.v), p -> p[1] * p[2]), (acc, x) -> acc + x) / (qe.nrm * ce.nrm) AS cos
          |  FROM cands c JOIN e qe ON c.qid = qe.vec_id JOIN e ce ON c.vec_id = ce.vec_id),
          |ranked AS (
          |  SELECT qid, vec_id, cos, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
          |  FROM scored)
          |SELECT qid, rank, vec_id, cos FROM ranked WHERE rank <= 3 ORDER BY qid, rank""".stripMargin)
    ),
    Q(
      "n3_ann_ivf",
      "IVF ANN: k-means coarse-quantizer cells, nprobe nearest cells probed per query, exact cosine re-rank — the data-adaptive ANN scale path beside n2's data-oblivious sign-LSH. Registered with nprobe=nlist (exhaustive-equivalent, so the clustering cannot perturb the oracle result); the sub-linear nprobe<nlist behavior is pinned by SimilaritySpec",
      (s, d) => {
        val prepared = graft.ext.Similarity.prepare(embeddings(s, d), "vec_id", "embedding")
        graft.ext.Similarity
          .ivfTopK(prepared, prepared.where(col("id") < 10), k = 5, nlist = 8, nprobe = 8)
          .selectExpr("qid", "rank", "id AS vec_id", "score AS cos")
          .orderBy("qid", "rank")
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             |  sqrt(list_reduce(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x), (acc, x) -> acc + x)) AS nrm
             |  FROM embeddings),
             |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qnrm FROM e WHERE vec_id < 10),
             |scored AS (
             |  SELECT qid, vec_id,
             |    list_reduce(list_transform(list_zip(qv, v), p -> p[1] * p[2]), (acc, x) -> acc + x) / (qnrm * nrm) AS cos,
             |    row_number() OVER (PARTITION BY qid ORDER BY
             |      list_reduce(list_transform(list_zip(qv, v), p -> p[1] * p[2]), (acc, x) -> acc + x) / (qnrm * nrm) DESC,
             |      vec_id) AS rank
             |  FROM e JOIN q ON vec_id <> qid)
             |SELECT qid, rank, vec_id, cos FROM scored WHERE rank <= 5 ORDER BY qid, rank""".stripMargin)
    ),
    Q(
      "n5_ann_recall",
      "ANN recall evaluation — the tuning loop the approximate family needs: recall@3 of the sign-LSH path (n2's exact plan) against brute-force ground truth (n1's exact plan) per query. At 100 TB this is how banding width / nprobe get chosen: ground truth costs ONE broadcast-queries x corpus pass over a query SAMPLE (never corpus x corpus), the approximate path runs as deployed, and the per-query hit overlap is an equi-join on (qid, id). Integer hits + k columns; recall is the one division both engines perform identically on {0..3}/3. The deployed path's maxBucket=1000 stop-bucket cap is mirrored in the oracle (HAVING COUNT(*) <= 1000 on corpus band buckets) so the parity holds at any SF where a 4-bit band bucket saturates",
      (s, d) => {
        val prepared = graft.ext.Similarity.prepare(embeddings(s, d), "vec_id", "embedding")
        val queries = prepared.where(col("id") < 10)
        val gt = graft.ext.Similarity.bruteForceTopK(prepared, queries, k = 3)
          .select(col("qid"), col("id"))
        val approx = graft.ext.Similarity.lshTopK(prepared, queries, k = 3, maxBucket = 1000)
          .select(col("qid"), col("id"))
        val hits = gt.join(approx, Seq("qid", "id"))
          .groupBy("qid").agg(count(lit(1)).as("hits"))
        queries.select(col("id").as("qid"))
          .join(hits, Seq("qid"), "left")
          .selectExpr(
            "qid",
            "CAST(coalesce(hits, 0) AS BIGINT) AS hits",
            "CAST(3 AS BIGINT) AS k",
            "CAST(coalesce(hits, 0) AS DOUBLE) / 3.0 AS recall")
          .orderBy("qid")
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             |  sqrt(list_reduce(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x), (acc, x) -> acc + x)) AS nrm
             |  FROM embeddings),
             |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qnrm FROM e WHERE vec_id < 10),
             |gt AS (
             |  SELECT qid, vec_id FROM (
             |    SELECT qid, vec_id,
             |      row_number() OVER (PARTITION BY qid ORDER BY
             |        list_reduce(list_transform(list_zip(qv, v), p -> p[1] * p[2]), (acc, x) -> acc + x) / (qnrm * nrm) DESC,
             |        vec_id) AS rank
             |    FROM e JOIN q ON vec_id <> qid)
             |  WHERE rank <= 3),
             |sig AS (SELECT vec_id, v, nrm,
             |""".stripMargin +
        (0 until 4).map(b =>
          "  concat(" + (b * 4 until b * 4 + 4).map(i =>
            s"(CASE WHEN v[${i + 1}] >= 0 THEN '1' ELSE '0' END)").mkString(", ") + s") AS band$b").mkString(",\n") +
        """
          |  FROM e),
          |bands AS (
          |  SELECT vec_id, 0 AS band, band0 AS bkey FROM sig
          |  UNION ALL SELECT vec_id, 1, band1 FROM sig
          |  UNION ALL SELECT vec_id, 2, band2 FROM sig
          |  UNION ALL SELECT vec_id, 3, band3 FROM sig),
          |capped AS (
          |  SELECT band, bkey FROM bands GROUP BY band, bkey HAVING COUNT(*) <= 1000),
          |cands AS (
          |  SELECT DISTINCT qb.vec_id AS qid, c.vec_id AS vec_id FROM bands qb
          |  JOIN bands c ON qb.band = c.band AND qb.bkey = c.bkey AND qb.vec_id < 10 AND c.vec_id <> qb.vec_id
          |  JOIN capped ON c.band = capped.band AND c.bkey = capped.bkey),
          |lsh AS (
          |  SELECT qid, vec_id FROM (
          |    SELECT qid, c.vec_id AS vec_id,
          |      row_number() OVER (PARTITION BY qid ORDER BY
          |        list_reduce(list_transform(list_zip(qe.v, ce.v), p -> p[1] * p[2]), (acc, x) -> acc + x) / (qe.nrm * ce.nrm) DESC,
          |        c.vec_id) AS rank
          |    FROM cands c JOIN e qe ON c.qid = qe.vec_id JOIN e ce ON c.vec_id = ce.vec_id)
          |  WHERE rank <= 3),
          |h AS (SELECT gt.qid, COUNT(*) AS hits FROM gt JOIN lsh USING (qid, vec_id) GROUP BY gt.qid)
          |SELECT q.qid AS qid, CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
          |  CAST(3 AS BIGINT) AS k,
          |  CAST(COALESCE(h.hits, 0) AS DOUBLE) / 3.0 AS recall
          |FROM q LEFT JOIN h ON q.qid = h.qid
          |ORDER BY qid""".stripMargin)
    ),
    Q(
      "n6_ann_ivfpq_recall",
      "IVFPQ recall evaluation — recall@5 of the DEPLOYED n4 index plan (fixed coarse cells, residual PQ codes, nprobe=2, ADC ranking) against exact squared-L2 ground truth on the same 16-dim slice, per query: the FAISS-style quality gate a quantized index must pass before its parameters (nlist/nprobe/m) are trusted, completing the tuning loop n5 opened for the LSH path. Ground truth is one broadcast-queries x corpus pass ranking by 2*q.v - v.v (monotone in L2 distance, array_dot both sides) into a k-bounded TopK; the approximate leg is n4's production plan unchanged; the overlap is an equi-join on (qid, id). At 100 TB the ground-truth pass runs over a query SAMPLE — integer hits + one division both engines perform identically on {0..5}/5",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val emb = embeddings(s, d).selectExpr("vec_id", s"slice(embedding, 1, $pqDim) AS v16")
        val encoded = graft.ext.Pq.ivfPqEncode(emb, "vec_id", "v16", sdCent, pqModel)
        val approx = graft.ext.Pq
          .ivfPqTopK(encoded, emb.where(col("vec_id") < 10), "vec_id", "v16",
            sdCent, pqModel, nprobe = n4Nprobe, k = 5)
          .select(col("qid"), col("id"))
        val dv = embeddings(s, d)
          .selectExpr("vec_id", s"CAST(slice(embedding, 1, $pqDim) AS ARRAY<DOUBLE>) AS dv")
        val q = dv.where(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("dv").as("qv"))
        val scored = dv.join(broadcast(q), expr("vec_id <> qid"))
          .selectExpr("qid", "vec_id AS id",
            "2 * array_dot(qv, dv) - array_dot(dv, dv) AS score")
        val gt = graft.ext.Similarity.topKByQuery(scored, 5).select(col("qid"), col("id"))
        val hits = gt.join(approx, Seq("qid", "id"))
          .groupBy("qid").agg(count(lit(1)).as("hits"))
        q.select(col("qid"))
          .join(hits, Seq("qid"), "left")
          .selectExpr(
            "qid",
            "CAST(coalesce(hits, 0) AS BIGINT) AS hits",
            "CAST(5 AS BIGINT) AS k",
            "CAST(coalesce(hits, 0) AS DOUBLE) / 5.0 AS recall")
          .orderBy("qid")
      },
      Some(n6OracleSql)
    ),
    Q(
      "n7_knn_graph",
      "Corpus k-nearest-neighbor graph (k=3) over sign-LSH buckets — the substrate under graph dedup, SemDeDup-style cluster pruning, and kNN label propagation. Every node is query AND corpus, so the shape matters: a corpus-sized query set must never broadcast (n2's shape would be the bug) — exact cosine scores compute INSIDE the capped band-bucket self-join (one reused (band, bkey) exchange carrying each vector bands times; a multi-band collision scores once via the first-shared-kept-band predicate) and re-rank through the k-bounded TopK aggregator (partial agg straight off the join, no Window, no pair exchange). maxBucket=1000 mirrored in the oracle. 100 TB shape: candidate volume <= maxBucket x bands per node, the pair stream never crosses an exchange, per-group state is k entries",
      (s, d) => {
        // lazy cut: the oversized-bucket probe materializes it; the graph
        // job reads the cached blocks instead of re-scanning the parquet
        val prepared = graft.ext.Similarity.prepare(embeddings(s, d), "vec_id", "embedding")
          .localCheckpoint(eager = false)
        graft.ext.Similarity.knnGraph(prepared, k = 3, maxBucket = 1000)
          .selectExpr("qid", "rank", "id AS vec_id", "score AS cos")
          .orderBy("qid", "rank")
      },
      Some(knnGraphOracleSql(perBand = 4))
    ),
    Q(
      "n8_knn_graph_wide",
      "The kNN graph at PRODUCTION band width — n7's plan with 8-bit bands (bits=32, 256 buckets/band) instead of 4-bit (16 buckets/band). SCALE.md measured n7's fixed 4-bit key space going quadratic-until-cap (shuffle exp 2.2-2.3 across two decades); this row oracle-gates the mitigation itself: same capped score-in-bucket self-join, same k-bounded TopK re-rank, but the key space scales the expected bucket width down ~16x, so candidate volume — and the graph's recall — trade along the banding curve a deployment tunes (bits ~ log2(n*bands/targetWidth)*bands holds per-node candidates constant, O(n) pair volume at any n). Both parameterizations share one Scala-generated oracle (perBand is the only knob), so the parity is structural",
      (s, d) => {
        val prepared = graft.ext.Similarity.prepare(embeddings(s, d), "vec_id", "embedding")
          .localCheckpoint(eager = false)
        graft.ext.Similarity.knnGraph(prepared, k = 3, bits = 32, bands = 4, maxBucket = 1000)
          .selectExpr("qid", "rank", "id AS vec_id", "score AS cos")
          .orderBy("qid", "rank")
      },
      Some(knnGraphOracleSql(perBand = 8))
    ),
    Q(
      "n15_knn_graph_auto",
      "The n7-vs-n8 width bracket AUTO-ROUTED end-to-end " +
        "(Similarity.knnGraphAuto): planBandBits forecasts each width's " +
        "UNCAPPED candidate-pair volume (one sum per width, narrowest " +
        "first — best recall that fits the budget wins; the widest width " +
        "is the saturation fallback) and the graph runs at the chosen " +
        "width. The oracle reproduces the DECISION itself in SQL — both " +
        "widths' band tables, the forecast CASE, the shared capped-join " +
        "tail — so the gate fails if the router and the engine ever " +
        "disagree about which regime the corpus is in. On a saturated " +
        "4-bit key space (n7's regime at the larger SFs) the forecast " +
        "exceeds the budget and the wide key wins; on a sparse corpus " +
        "the narrow key keeps recall",
      (s, d) => {
        // lazy cut: the planner's FIRST forecast job materializes it, and
        // every later forecast + both graph legs read the cached blocks
        // instead of re-running the norm projection per consumer
        val prepared = graft.ext.Similarity
          .prepare(embeddings(s, d), "vec_id", "embedding")
          .localCheckpoint(eager = false)
        graft.ext.Similarity
          .knnGraphAuto(prepared, k = 3, widths = Seq(16, 32), bands = 4,
            pairBudget = 1000000L, maxBucket = 1000)
          .selectExpr("qid", "rank", "id AS vec_id", "score AS cos")
          .orderBy("qid", "rank")
      },
      Some(knnGraphAutoOracleSql(1000000L))
    ),
    Q(
      "n9_ann_hamming",
      "Binary-quantization ANN: the signs of all 64 dims pack into two BIGINT words (16 bytes/vector — 16x smaller than the f32 array; Similarity.signWords), and top-5 neighbors per query rank by exact Hamming distance bit_count(w XOR qw), ties by vec_id — the cheapest member of the ANN family and the standard first-pass filter of binary-quantized vector serving (survivors re-rank on full vectors via n1's path). Distances are exact small integers, so both engines agree bitwise with no float anywhere. 100 TB shape: signature build and distance are scan-side integer codegen over the 16-byte signature table (the full vectors never load), queries broadcast, and ranking funnels through the k-bounded TopK aggregator — k rows per query per partition cross the exchange, no Window",
      (s, d) => {
        // lazy cut: the corpus and query legs both derive signatures from
        // it — one scan + one norm projection instead of two (n15's
        // discipline)
        val prepared = graft.ext.Similarity.prepare(embeddings(s, d), "vec_id", "embedding")
          .localCheckpoint(eager = false)
        graft.ext.Similarity
          .hammingTopK(prepared, prepared.where(col("id") < 10), k = 5)
          .selectExpr("qid", "rank", "id AS vec_id", "hamming")
          .orderBy("qid", "rank")
      },
      Some {
        // Word layout mirrors Similarity.signWords bit for bit: bit (i - 32w)
        // of word w = sign of dim i (literal powers of two, no dialect bit
        // shifts). xor() is DuckDB's BIGINT bitwise xor (Spark: `^`).
        val wordExprs = (0 until 2).map { w =>
          "(" + (w * 32 until (w + 1) * 32).map(i =>
            s"(CASE WHEN v[${i + 1}] >= 0 THEN CAST(${1L << (i - w * 32)} AS BIGINT) ELSE CAST(0 AS BIGINT) END)")
            .mkString(" + ") + s") AS w$w"
        }.mkString(",\n  ")
        s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           |w AS (SELECT vec_id,
           |  $wordExprs
           |  FROM e),
           |q AS (SELECT vec_id AS qid, w0 AS qw0, w1 AS qw1 FROM w WHERE vec_id < 10),
           |scored AS (
           |  SELECT qid, vec_id,
           |    CAST(bit_count(xor(w0, qw0)) + bit_count(xor(w1, qw1)) AS BIGINT) AS hamming,
           |    row_number() OVER (PARTITION BY qid ORDER BY
           |      bit_count(xor(w0, qw0)) + bit_count(xor(w1, qw1)), vec_id) AS rank
           |  FROM w JOIN q ON vec_id <> qid)
           |SELECT qid, rank, vec_id, hamming FROM scored WHERE rank <= 5 ORDER BY qid, rank""".stripMargin
      }
    ),
    Q(
      "n10_mips",
      "Maximum inner-product search (the retrieval objective of " +
        "recommendation and dense-retrieval serving, where score = <q, v> " +
        "UNNORMALIZED — high-norm items legitimately outrank near ones, so " +
        "cosine ANN is the WRONG primitive): exact top-5 by inner product " +
        "per query, broadcast queries x one corpus scan, k-bounded TopK " +
        "re-rank. Scores are array_dot's fixed-order left fold — bitwise " +
        "identical to DuckDB's list_reduce, no reassociation. The sub-" +
        "linear path at 100 TB is the standard norm-augmentation " +
        "reduction (append sqrt(M^2 - |v|^2) to items, 0 to queries; MIPS " +
        "ordering becomes cosine ordering) feeding this library's " +
        "lshTopK/ivfTopK — the exact pass here is both the baseline and " +
        "the re-rank tail of that path",
      (s, d) => {
        val prepared = graft.ext.Similarity.prepare(embeddings(s, d), "vec_id", "embedding")
        val q = prepared.where(col("id") < 10)
          .select(col("id").as("qid"), col("v").as("qv"))
        val scored = prepared.join(broadcast(q), expr("id <> qid"))
          .selectExpr("qid", "id", "array_dot(qv, v) AS score")
        graft.ext.Similarity.topKByQuery(scored, 5)
          .selectExpr("qid", "rank", "id AS vec_id", "score AS ip")
          .orderBy("qid", "rank")
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
             |scored AS (
             |  SELECT qid, vec_id,
             |    list_reduce(list_transform(list_zip(qv, v), p -> p[1] * p[2]), (acc, x) -> acc + x) AS ip,
             |    row_number() OVER (PARTITION BY qid ORDER BY
             |      list_reduce(list_transform(list_zip(qv, v), p -> p[1] * p[2]), (acc, x) -> acc + x) DESC,
             |      vec_id) AS rank
             |  FROM e JOIN q ON vec_id <> qid)
             |SELECT qid, rank, vec_id, ip FROM scored WHERE rank <= 5 ORDER BY qid, rank""".stripMargin)
    ),
    Q(
      "n11_lsh_planner",
      "LSH band-width planner — the measurement that PICKS the knob n7/n8 " +
        "bracket: for 4-bit and 8-bit sign bands (n7's and n8's exact key " +
        "construction), the bucket-occupancy profile and the projected " +
        "candidate-pair volume sum(c*(c-1)/2) over band buckets. This is " +
        "the deployment rule bits ~ log2(n*bands/width) made runnable: one " +
        "cheap scan-side aggregation FORECASTS the self-join a kNN graph " +
        "would pay at each width, so the operator chooses bands from a " +
        "profile instead of discovering saturation in a 100 TB shuffle. " +
        "Exact integer arithmetic throughout (counts, integer-div pair " +
        "formula)",
      (s, d) => {
        val prepared = graft.ext.Similarity.prepare(embeddings(s, d), "vec_id", "embedding")
        def stats(bits: Int) =
          graft.ext.Similarity.signBands(prepared, bits, bands = 4)
            .groupBy("band", "bkey").agg(count(lit(1)).as("c"))
            .agg(
              count(lit(1)).as("buckets"),
              max("c").as("max_bucket"),
              sum(expr("(c * (c - 1)) div 2")).cast("long").as("cand_pairs"))
            .select(lit(bits / 4).as("band_bits"), col("buckets"),
              col("max_bucket"), col("cand_pairs"))
        stats(16).unionByName(stats(32)).orderBy("band_bits")
      },
      Some {
        def leg(bits: Int): String = {
          val perBand = bits / 4
          val bandExprs = (0 until 4).map { b =>
            "concat(" + (b * perBand until (b + 1) * perBand).map(i =>
              s"(CASE WHEN v[${i + 1}] >= 0 THEN '1' ELSE '0' END)").mkString(", ") +
              s") AS band$b"
          }.mkString(",\n    ")
          s"""sig$perBand AS (SELECT vec_id,
             |    $bandExprs
             |  FROM e),
             |b$perBand AS (
             |  SELECT 0 AS band, band0 AS bkey FROM sig$perBand
             |  UNION ALL SELECT 1, band1 FROM sig$perBand
             |  UNION ALL SELECT 2, band2 FROM sig$perBand
             |  UNION ALL SELECT 3, band3 FROM sig$perBand),
             |s$perBand AS (SELECT band, bkey, COUNT(*) AS c FROM b$perBand GROUP BY 1, 2),
             |a$perBand AS (SELECT $perBand AS band_bits, COUNT(*) AS buckets, MAX(c) AS max_bucket,
             |  CAST(SUM((c * (c - 1)) // 2) AS BIGINT) AS cand_pairs FROM s$perBand)""".stripMargin
        }
        s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           |${leg(16)},
           |${leg(32)}
           |SELECT * FROM a4 UNION ALL SELECT * FROM a8 ORDER BY band_bits""".stripMargin
      }
    ),
    Q(
      "pq_adc_topk",
      "Product-quantization ANN: per-block argmin encode to m=4 codes over the leading 16 dims, then ADC top-5 (per-query centroid-distance LUT, negated approx L2). The codebook is a SEEDED CONSTANT (not trained): the oracle is one static SQL string across scale factors, so the model must be data-independent — k-means training is pinned by PqSpec; this row gates the distributed legs (encode + ADC search) bitwise, f32 arithmetic mirrored on both sides",
      (s, d) => {
        val emb = embeddings(s, d).selectExpr("vec_id", "slice(embedding, 1, 16) AS v16")
        val encoded = graft.ext.Pq.encode(emb, "vec_id", "v16", pqModel)
        graft.ext.Pq
          .adcTopK(encoded, emb.where(col("vec_id") < 10), "vec_id", "v16", pqModel, k = 5)
          .selectExpr("qid", "rank", "id AS vec_id", "score AS adc")
          .orderBy("qid", "rank")
      },
      Some(pqOracleSql)
    ),
    Q(
      "n4_ann_ivfpq",
      "IVF + PQ composed ANN (the FAISS-IVFPQ production shape): coarse-quantize each vector to its nearest cell, PQ-encode the cell RESIDUAL, probe the nprobe=2 nearest cells per query (tie-stable threshold rule), ADC-score only probed cells' codes, k-bounded TopK re-rank. Residual coding cuts quantization error at the same code budget, and the cell key bounds per-query scan volume at ~nprobe/nCells of the corpus. Model is a seeded constant for the static oracle (training quality is PqSpec/SimilaritySpec territory); f32 arithmetic mirrored bitwise on both sides",
      (s, d) => {
        val emb = embeddings(s, d).selectExpr("vec_id", "slice(embedding, 1, 16) AS v16")
        val encoded = graft.ext.Pq.ivfPqEncode(emb, "vec_id", "v16", sdCent, pqModel)
        graft.ext.Pq
          .ivfPqTopK(encoded, emb.where(col("vec_id") < 10), "vec_id", "v16",
            sdCent, pqModel, nprobe = n4Nprobe, k = 5)
          .selectExpr("qid", "rank", "id AS vec_id", "score AS adc")
          .orderBy("qid", "rank")
      },
      Some(n4OracleSql)
    ),
    Q(
      "e2_matryoshka_fidelity",
      "Matryoshka truncation fidelity: how much cosine similarity survives serving only the first k embedding dims (cos(full, zero-padded prefix) = |prefix|/|full|, so one prefix sum-of-squares per k answers it) — the serving-dimension question an MRL-style embedding pipeline asks before shipping a truncated index. One corpus scan computes every k's prefix mass via the codegen'd array_dot, stacked by a generator. Deterministic outputs only: integer counts with a sqrt-free threshold (pss >= fss * 0.81 <=> cos >= 0.9) and order-independent min/max of the per-row cosine",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val ks = Seq(8, 16, 32)
        val stacked = embeddings(s, d)
          .selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>) AS v")
          .selectExpr("vec_id", "array_dot(v, v) AS fss",
            "explode(array(" + ks.map(k =>
              s"struct($k AS k, array_dot(slice(v, 1, $k), slice(v, 1, $k)) AS pss)")
              .mkString(", ") + ")) AS e")
          .selectExpr("vec_id", "fss", "e.k AS k", "e.pss AS pss")
        stacked
          .withColumn("cos", expr("CASE WHEN fss = CAST(0.0 AS DOUBLE) THEN CAST(1.0 AS DOUBLE) ELSE sqrt(pss / fss) END"))
          .groupBy("k")
          .agg(
            count(lit(1)).as("vecs"),
            sum(when(expr("pss >= fss * CAST(0.81 AS DOUBLE)"), 1).otherwise(0))
              .cast("long").as("high_fidelity"),
            min(col("cos")).as("min_cos"),
            max(col("cos")).as("max_cos"))
          .orderBy("k")
      },
      Some {
        val ks = Seq(8, 16, 32)
        val arms = ks.map { k =>
          s"""  SELECT vec_id, $k AS k,
             |    list_reduce(list_transform(v[1:$k], x -> x * x), (acc, x) -> acc + x) AS pss,
             |    list_reduce(list_transform(v, x -> x * x), (acc, x) -> acc + x) AS fss
             |  FROM e""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           |st AS (
           |$arms),
           |c AS (SELECT k, pss, fss,
           |  CASE WHEN fss = 0.0 THEN 1.0 ELSE sqrt(pss / fss) END AS cos FROM st)
           |SELECT k, COUNT(*) AS vecs,
           |  CAST(SUM(CASE WHEN pss >= fss * 0.81 THEN 1 ELSE 0 END) AS BIGINT) AS high_fidelity,
           |  MIN(cos) AS min_cos, MAX(cos) AS max_cos
           |FROM c GROUP BY k ORDER BY k""".stripMargin
      }
    ),
    Q(
      "e1_quantize_int8",
      "Embedding int8 quantization round-trip: per-vector symmetric scale (max|x|/127), quantize with an explicit floor(x+0.5) rule (identical arithmetic both engines — no half-rounding divergence), dequantize, report per-label max reconstruction error (max is addition-order-independent, so it hashes deterministically) and the theoretical half-step bound — the storage/serving compression step of an embedding pipeline",
      (s, d) =>
        embeddings(s, d)
          .selectExpr("label", "cast(embedding AS array<double>) AS v")
          .selectExpr("label",
            "array_max(transform(v, x -> abs(x))) / 127.0 AS scale", "v")
          .selectExpr("label", "scale",
            """CASE WHEN scale = 0.0 THEN 0.0
              |ELSE array_max(transform(v, x -> abs(floor(x / scale + 0.5) * scale - x))) END AS err""".stripMargin)
          .groupBy("label")
          .agg(
            count(lit(1)).as("n"),
            max(col("err")).as("max_err"),
            max(col("scale") / 2.0).as("err_bound"))
          .selectExpr("label", "n", "max_err", "err_bound",
            "CAST(max_err <= err_bound AS BOOLEAN) AS within_bound")
          .orderBy("label"),
      Some("""WITH e AS (
             |  SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |s AS (
             |  SELECT label, list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale, v FROM e),
             |q AS (
             |  SELECT label, scale,
             |    CASE WHEN scale = 0.0 THEN 0.0
             |    ELSE list_max(list_transform(v, x -> abs(floor(x / scale + 0.5) * scale - x))) END AS err
             |  FROM s)
             |SELECT label, COUNT(*) AS n, MAX(err) AS max_err, MAX(scale / 2.0) AS err_bound,
             |  MAX(err) <= MAX(scale / 2.0) AS within_bound
             |FROM q GROUP BY label ORDER BY label""".stripMargin)
    ),
    Q(
      "e3_embedding_covariance",
      "Embedding co-moment (covariance) matrix over the leading 8 dims — the second-moment pass PCA/whitening needs before PQ/SemDeDup, as ONE distributed aggregation: vectors quantize to exact integers (floor(x*1e4) — double arithmetic + floor is IEEE-identical in both engines), per-row pair products fan out via a generator (d(d+1)/2 = 36 rows/vector), and every cross-row sum is exact integer arithmetic (products summed as DECIMAL — overflow-checked at any corpus size; a float double-sum would be addition-order-dependent and hash-diverge). The only floating point is the final identical covariance expression over exact components (a12's recipe generalized to float inputs): cov_ij = (n*Spp - Si*Sj)/n^2 at the 1e-4 quantization, rounded to 9 decimals",
      (s, d) => {
        val q = embeddings(s, d)
          .selectExpr(
            "transform(slice(embedding, 1, 8), x -> CAST(FLOOR(CAST(x AS DOUBLE) * 10000.0) AS BIGINT)) AS qv")
          .localCheckpoint(eager = false) // feeds pair products, first moments, count
        val pairStructs = (for (i <- 0 until 8; j <- i until 8) yield
          s"struct($i AS i, $j AS j, CAST(element_at(qv, ${i + 1}) AS DECIMAL(20, 0)) * CAST(element_at(qv, ${j + 1}) AS DECIMAL(20, 0)) AS p)")
          .mkString(", ")
        val spp = q.selectExpr(s"inline(array($pairStructs))")
          .groupBy("i", "j").agg(sum(col("p")).as("sppd"))
        val mom = q.selectExpr("posexplode(qv)")
          .selectExpr("pos AS i", "CAST(col AS DECIMAL(38, 0)) AS qvi")
          .groupBy("i").agg(sum(col("qvi")).as("sd"))
        val cnt = q.agg(count(lit(1)).as("n"))
        spp
          .join(broadcast(mom.selectExpr("i", "sd AS si")), Seq("i"))
          .join(broadcast(mom.selectExpr("i AS j", "sd AS sj")), Seq("j"))
          .join(broadcast(cnt))
          .selectExpr(
            "i", "j",
            "round((CAST(n AS DOUBLE) * CAST(sppd AS DOUBLE) - CAST(si AS DOUBLE) * CAST(sj AS DOUBLE)) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) / 100000000.0, 9) AS cov")
          .orderBy("i", "j")
      },
      Some {
        val valuesList = (for (i <- 0 until 8; j <- i until 8) yield s"($i, $j)").mkString(", ")
        s"""WITH e AS (
           |  SELECT list_transform(CAST(embedding AS DOUBLE[])[1:8],
           |    x -> CAST(FLOOR(x * 10000.0) AS BIGINT)) AS qv
           |  FROM embeddings),
           |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM e),
           |pr AS (SELECT p.i AS i, p.j AS j, qv[p.i + 1] * qv[p.j + 1] AS prod
           |  FROM e, (VALUES $valuesList) p(i, j)),
           |spp AS (SELECT i, j, CAST(SUM(prod) AS DOUBLE) AS sppd FROM pr GROUP BY i, j),
           |m AS (SELECT g.i AS i, CAST(SUM(qv[g.i + 1]) AS DOUBLE) AS s
           |  FROM e, generate_series(0, 7) g(i) GROUP BY g.i)
           |SELECT spp.i AS i, spp.j AS j,
           |  round((nn.n * sppd - mi.s * mj.s) / (nn.n * nn.n) / 100000000.0, 9) AS cov
           |FROM spp JOIN m mi ON spp.i = mi.i JOIN m mj ON spp.j = mj.i CROSS JOIN nn
           |ORDER BY i, j""".stripMargin
      }
    ),
    Q(
      "e4_random_projection",
      "Johnson-Lindenstrauss random projection 64 -> 8 dims (Achlioptas sparse sign matrix, the database-friendly JL construction: entries in {-1,0,+1} with P(+-1)=1/6, so E[s^2]=1/3 and Achlioptas' sqrt(3) factor becomes the exact RATIONAL 3 on squared distances — no irrational scale ever touches the integers) with the distortion audit that decides whether the cheap projection can stand in for the full embedding downstream (coarse ANN blocking, dedup prefilters). Determinism recipe: inputs quantize to exact integers (floor(x*1e4)), the seeded sign matrix is a CONSTANT generated once and inlined into BOTH legs, projected coords / squared distances are exact BIGINT arithmetic, the unbiased estimate of d2 is 3*p2/k, the within-50%-distortion JL test is the exact integer predicate |3*p2 - 8*d2| <= 4*d2, and the one final ratio is a single double division over the same exact sums. Pair sample is adjacent vec_ids — an O(n) equi-join, never pairs x pairs. 100 TB shape: projection is scan-side codegen'd column arithmetic (8 running sums per row), the audit join shuffles on the id key (SHUFFLE_HASH pinned: at corpus scale neither side broadcasts), per-label state is four sums",
      (s, d) => {
        val yExprs = jlYExprs(i => s"element_at(q, ${i + 1})")
        val q = embeddings(s, d)
          .selectExpr("vec_id", "label",
            "transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 10000.0) AS BIGINT)) AS q")
          .selectExpr("vec_id", "label", "q", s"array(${yExprs.mkString(", ")}) AS y")
          .localCheckpoint(eager = false) // feeds both sides of the pair join
        val pr = q.as("a")
          .join(q.as("b").hint("merge"), expr("b.vec_id = a.vec_id + 1"))
          .selectExpr("a.label AS label",
            "aggregate(zip_with(a.q, b.q, (x, z) -> (x - z) * (x - z)), 0L, (acc, x) -> acc + x) AS d2",
            "aggregate(zip_with(a.y, b.y, (x, z) -> (x - z) * (x - z)), 0L, (acc, x) -> acc + x) AS p2")
        pr.groupBy("label")
          .agg(
            count(lit(1)).as("pairs"),
            sum(col("d2").cast("decimal(38,0)")).cast("long").as("sum_d2"),
            sum(col("p2").cast("decimal(38,0)")).cast("long").as("sum_p2"),
            sum(when(expr("abs(3 * p2 - 8 * d2) <= 4 * d2"), 1).otherwise(0))
              .cast("long").as("within_half"))
          .select(col("label"), col("pairs"), col("sum_d2"), col("sum_p2"), col("within_half"),
            when(col("sum_d2") > 0,
              lit(3.0) * col("sum_p2").cast("double") / (lit(8.0) * col("sum_d2").cast("double")))
              .otherwise(lit(1.0)).as("distortion_ratio"))
          .orderBy("label")
      },
      Some {
        val yExprs = jlYExprs(i => s"q[${i + 1}]")
        s"""WITH e AS (
           |  SELECT vec_id, label,
           |    list_transform(CAST(embedding AS DOUBLE[]),
           |      x -> CAST(FLOOR(x * 10000.0) AS BIGINT)) AS q
           |  FROM embeddings),
           |p AS (SELECT vec_id, label, q, [${yExprs.mkString(", ")}] AS y FROM e),
           |pr AS (
           |  SELECT a.label AS label,
           |    list_reduce(list_transform(list_zip(a.q, b.q), t -> (t[1] - t[2]) * (t[1] - t[2])), (acc, x) -> acc + x) AS d2,
           |    list_reduce(list_transform(list_zip(a.y, b.y), t -> (t[1] - t[2]) * (t[1] - t[2])), (acc, x) -> acc + x) AS p2
           |  FROM p a JOIN p b ON b.vec_id = a.vec_id + 1)
           |SELECT label, COUNT(*) AS pairs,
           |  CAST(SUM(d2) AS BIGINT) AS sum_d2,
           |  CAST(SUM(p2) AS BIGINT) AS sum_p2,
           |  CAST(SUM(CASE WHEN abs(3 * p2 - 8 * d2) <= 4 * d2 THEN 1 ELSE 0 END) AS BIGINT) AS within_half,
           |  CASE WHEN SUM(d2) > 0
           |    THEN 3.0 * CAST(SUM(p2) AS DOUBLE) / (8.0 * CAST(SUM(d2) AS DOUBLE))
           |    ELSE 1.0 END AS distortion_ratio
           |FROM pr GROUP BY label ORDER BY label""".stripMargin
      }
    ),
    Q(
      "e5_pca_power",
      "Top principal component of the leading-8-dim embedding covariance by power iteration — the whitening/rotation pass that turns e3's co-moment matrix into an actual direction (PCA-guided PQ rotations, SemDeDup axes, variance-explained corpus diagnostics). Three-legged determinism: (1) the distributed leg is e3's exact-integer co-moment aggregation (floor(x*1e4) quantization, DECIMAL sums — addition-order-free); (2) the eigensolve is 400 fixed power-iteration steps over the 8x8 matrix as BOUNDED DRIVER STATE (d(d+1)/2 = 36 collected sums), every double op correctly rounded and identically ordered in both engines — Scala reduceLeft chains mirror DuckDB list_reduce left-assoc chains, so v_k is BIT-identical at every step (convergence not required for parity; at 400 steps the Rayleigh quotient matches numpy eigh to machine precision on the fixture); (3) the projection leg is scan-side codegen'd column arithmetic (8 multiply-adds/row with the eigenvector inlined as round-trip double literals), per-row scores floor-quantized to BIGINT so cross-row sums are exact again. 100 TB shape: two scans + one 36-row exchange; driver state is 8x8; per-label agg state is three sums. Fixed iteration count, no tolerance test — a convergence check would make plan shape data-dependent",
      (s, d) => {
        val q = embeddings(s, d)
          .selectExpr("label",
            "transform(slice(embedding, 1, 8), x -> CAST(FLOOR(CAST(x AS DOUBLE) * 10000.0) AS BIGINT)) AS qv")
          .localCheckpoint(eager = false) // feeds co-moments, count, projection
        val c = covariance8(q)
        // Power iteration: every sum is a reduceLeft chain == DuckDB's
        // list_reduce left-assoc fold, so both engines walk identical doubles.
        var v = Array.fill(8)(1.0)
        def matvec(u: Array[Double]): Array[Double] =
          Array.tabulate(8)(i => (0 until 8).map(t => c(i)(t) * u(t)).reduceLeft(_ + _))
        for (_ <- 0 until 400) {
          val w = matvec(v)
          val nrm = math.sqrt(w.map(y => y * y).reduceLeft(_ + _))
          v = w.map(_ / nrm)
        }
        val wf = matvec(v)
        val eig = (0 until 8).map(i => v(i) * wf(i)).reduceLeft(_ + _)
        val tr = (0 until 8).map(i => c(i)(i)).reduceLeft(_ + _)
        def dlit(x: Double) = s"CAST('${java.lang.Double.toString(x)}' AS DOUBLE)"
        val scoreExpr =
          (0 until 8).map(t => s"element_at(qv, ${t + 1}) * ${dlit(v(t))}").mkString(" + ")
        q.selectExpr("label", s"CAST(FLOOR($scoreExpr) AS BIGINT) AS sq")
          .groupBy("label")
          .agg(
            count(lit(1)).as("n"),
            sum(col("sq").cast("decimal(38,0)")).cast("long").as("sum_q"))
          .select(col("label"), col("n"), col("sum_q"),
            round(col("sum_q").cast("double") / col("n").cast("double") / lit(10000.0), 6)
              .as("mean_pc1"),
            expr(s"round(${dlit(eig)}, 9)").as("eigval"),
            expr(s"round(${dlit(eig / tr)}, 9)").as("var_explained"))
          .orderBy("label")
      },
      Some {
        val pairs = (for (i <- 0 until 8; j <- i until 8) yield s"($i, $j)").mkString(", ")
        val trace = (0 until 8).map(i => s"mat[${i + 1}][${i + 1}]").mkString(" + ")
        s"""WITH RECURSIVE
           |e AS (SELECT label,
           |  list_transform(CAST(embedding AS DOUBLE[])[1:8],
           |    x -> CAST(FLOOR(x * 10000.0) AS BIGINT)) AS qv
           |  FROM embeddings),
           |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM e),
           |spp AS (SELECT p.i AS i, p.j AS j, CAST(SUM(qv[p.i + 1] * qv[p.j + 1]) AS DOUBLE) AS sppd
           |  FROM e, (VALUES $pairs) p(i, j) GROUP BY p.i, p.j),
           |m AS (SELECT g.i AS i, CAST(SUM(qv[g.i + 1]) AS DOUBLE) AS s
           |  FROM e, generate_series(0, 7) g(i) GROUP BY g.i),
           |cv AS (SELECT spp.i AS i, spp.j AS j,
           |    (nn.n * sppd - mi.s * mj.s) / (nn.n * nn.n) / 100000000.0 AS c
           |  FROM spp JOIN m mi ON spp.i = mi.i JOIN m mj ON spp.j = mj.i CROSS JOIN nn),
           |cf AS (SELECT i, j, c FROM cv UNION ALL SELECT j AS i, i AS j, c FROM cv WHERE i <> j),
           |crow AS (SELECT i, list(c ORDER BY j) AS row FROM cf GROUP BY i),
           |cm AS (SELECT list(row ORDER BY i) AS mat FROM crow),
           |pit AS (
           |  SELECT 0 AS step, CAST([1, 1, 1, 1, 1, 1, 1, 1] AS DOUBLE[]) AS v
           |  UNION ALL
           |  SELECT step + 1,
           |    list_transform(w, x -> x / sqrt(list_reduce(list_transform(w, y -> y * y), (a, b) -> a + b)))
           |  FROM (SELECT step,
           |      list_transform(mat, row ->
           |        list_reduce(list_transform(list_zip(row, v), p -> p[1] * p[2]), (a, b) -> a + b)) AS w
           |    FROM pit, cm WHERE step < 400)),
           |vf AS (SELECT v FROM pit WHERE step = 400),
           |ew AS (SELECT
           |    list_reduce(list_transform(list_zip(v,
           |      list_transform(mat, row ->
           |        list_reduce(list_transform(list_zip(row, v), p -> p[1] * p[2]), (a, b) -> a + b))),
           |      p -> p[1] * p[2]), (a, b) -> a + b) AS eig,
           |    $trace AS tr
           |  FROM cm, vf),
           |proj AS (SELECT label,
           |    CAST(FLOOR(list_reduce(list_transform(list_zip(qv, v), p -> p[1] * p[2]), (a, b) -> a + b)) AS BIGINT) AS sq
           |  FROM e, vf)
           |SELECT label, COUNT(*) AS n, CAST(SUM(sq) AS BIGINT) AS sum_q,
           |  round(CAST(SUM(sq) AS DOUBLE) / COUNT(*) / 10000.0, 6) AS mean_pc1,
           |  round(eig, 9) AS eigval, round(eig / tr, 9) AS var_explained
           |FROM proj CROSS JOIN ew
           |GROUP BY label, eig, tr ORDER BY label""".stripMargin
      }
    ),
    Q(
      "e9_pca_deflate",
      "Top-3 principal components by DEFLATED power iteration (e5 extended " +
        "per the round-7 verdict's polish list): after each component " +
        "converges, subtract its rank-1 term (C <- C - eig * v v^T) and " +
        "iterate again on the residual — the classic sequential eigensolve, " +
        "still entirely BOUNDED DRIVER STATE (the same 36+8+1 collected " +
        "exact-integer co-moment sums; the 8x8 matrix and three 400-step " +
        "loops never touch an executor). Per component: eigenvalue, " +
        "variance fraction against the ORIGINAL trace, left-assoc " +
        "cumulative fraction, and an exact BIGINT corpus projection sum " +
        "(floor-quantized scores, DECIMAL accumulate) that pins each " +
        "eigenvector bitwise against DuckDB's identical double-for-double " +
        "recursive-CTE walk. 100 TB shape unchanged from e5: two scans + " +
        "one 36-row exchange per corpus, k more driver-side 8x8 loops",
      (s, d) => {
        val q = embeddings(s, d)
          .selectExpr(
            "transform(slice(embedding, 1, 8), x -> CAST(FLOOR(CAST(x AS DOUBLE) * 10000.0) AS BIGINT)) AS qv")
          .localCheckpoint(eager = false) // feeds co-moments, count, projection
        val c = covariance8(q)
        val tr = (0 until 8).map(i => c(i)(i)).reduceLeft(_ + _) // ORIGINAL trace
        def matvec(m: Array[Array[Double]], u: Array[Double]): Array[Double] =
          Array.tabulate(8)(i => (0 until 8).map(t => m(i)(t) * u(t)).reduceLeft(_ + _))
        // sequential deflation: every double op left-assoc, mirrored in SQL
        var cur = c
        val comps = (0 until 3).map { _ =>
          var v = Array.fill(8)(1.0)
          for (_ <- 0 until 400) {
            val w = matvec(cur, v)
            val nrm = math.sqrt(w.map(y => y * y).reduceLeft(_ + _))
            v = w.map(_ / nrm)
          }
          val wf = matvec(cur, v)
          val eig = (0 until 8).map(i => v(i) * wf(i)).reduceLeft(_ + _)
          val m = cur
          cur = Array.tabulate(8, 8)((i, j) => m(i)(j) - eig * v(i) * v(j))
          (v, eig)
        }
        def dlit(x: Double) = s"CAST('${java.lang.Double.toString(x)}' AS DOUBLE)"
        val scoreExprs = comps.zipWithIndex.map { case ((v, _), k) =>
          s"CAST(FLOOR(${(0 until 8).map(t => s"element_at(qv, ${t + 1}) * ${dlit(v(t))}").mkString(" + ")}) AS BIGINT) AS sq$k"
        }
        val eigs = comps.map(_._2)
        val cums = Seq(eigs(0), eigs(0) + eigs(1), (eigs(0) + eigs(1)) + eigs(2))
        q.selectExpr(scoreExprs: _*)
          .agg(
            sum(col("sq0").cast("decimal(38,0)")).cast("long").as("s0"),
            sum(col("sq1").cast("decimal(38,0)")).cast("long").as("s1"),
            sum(col("sq2").cast("decimal(38,0)")).cast("long").as("s2"))
          .selectExpr("stack(3, 0, s0, 1, s1, 2, s2) AS (comp, sum_q)")
          .selectExpr(
            "comp", "sum_q",
            s"round(element_at(array(${eigs.map(dlit).mkString(", ")}), comp + 1), 9) AS eigval",
            s"round(element_at(array(${eigs.map(e => dlit(e / tr)).mkString(", ")}), comp + 1), 9) AS var_explained",
            s"round(element_at(array(${cums.map(e => dlit(e / tr)).mkString(", ")}), comp + 1), 9) AS cum_var")
          .orderBy("comp")
      },
      Some {
        val pairs = (for (i <- 0 until 8; j <- i until 8) yield s"($i, $j)").mkString(", ")
        val trace = (0 until 8).map(i => s"mat[${i + 1}][${i + 1}]").mkString(" + ")
        // MATERIALIZED everywhere a later recursive CTE consumes the result:
        // DuckDB inlines plain CTEs into each recursive-step evaluation, so
        // without it pit2 re-runs pit1's 400 steps per step (and pit3 400^2)
        // — measured as a runaway oracle; materialization restores the
        // sequential 3 x 400 walk the Spark driver loop performs.
        def pitLeg(k: Int): String =
          s"""pit$k AS (
             |  SELECT 0 AS step, CAST([1, 1, 1, 1, 1, 1, 1, 1] AS DOUBLE[]) AS v
             |  UNION ALL
             |  SELECT step + 1,
             |    list_transform(w, x -> x / sqrt(list_reduce(list_transform(w, y -> y * y), (a, b) -> a + b)))
             |  FROM (SELECT step,
             |      list_transform(mat, row ->
             |        list_reduce(list_transform(list_zip(row, v), p -> p[1] * p[2]), (a, b) -> a + b)) AS w
             |    FROM pit$k, cm$k WHERE step < 400)),
             |v$k AS MATERIALIZED (SELECT v FROM pit$k WHERE step = 400),
             |ew$k AS MATERIALIZED (SELECT
             |    list_reduce(list_transform(list_zip(v,
             |      list_transform(mat, row ->
             |        list_reduce(list_transform(list_zip(row, v), p -> p[1] * p[2]), (a, b) -> a + b))),
             |      p -> p[1] * p[2]), (a, b) -> a + b) AS eig
             |  FROM cm$k, v$k)""".stripMargin
        def deflate(k: Int): String =
          s"""cm${k + 1} AS MATERIALIZED (SELECT list_transform(list_zip(mat, v), p ->
             |    list_transform(list_zip(p[1], v), q -> q[1] - eig * p[2] * q[2])) AS mat
             |  FROM cm$k, v$k, ew$k)""".stripMargin
        def sumLeg(k: Int): String =
          s"""(SELECT CAST(SUM(CAST(FLOOR(list_reduce(list_transform(list_zip(qv, v), p -> p[1] * p[2]), (a, b) -> a + b)) AS BIGINT)) AS BIGINT)
             |   FROM e, v$k)""".stripMargin
        s"""WITH RECURSIVE
           |e AS (SELECT label,
           |  list_transform(CAST(embedding AS DOUBLE[])[1:8],
           |    x -> CAST(FLOOR(x * 10000.0) AS BIGINT)) AS qv
           |  FROM embeddings),
           |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM e),
           |spp AS (SELECT p.i AS i, p.j AS j, CAST(SUM(qv[p.i + 1] * qv[p.j + 1]) AS DOUBLE) AS sppd
           |  FROM e, (VALUES $pairs) p(i, j) GROUP BY p.i, p.j),
           |m AS (SELECT g.i AS i, CAST(SUM(qv[g.i + 1]) AS DOUBLE) AS s
           |  FROM e, generate_series(0, 7) g(i) GROUP BY g.i),
           |cv AS (SELECT spp.i AS i, spp.j AS j,
           |    (nn.n * sppd - mi.s * mj.s) / (nn.n * nn.n) / 100000000.0 AS c
           |  FROM spp JOIN m mi ON spp.i = mi.i JOIN m mj ON spp.j = mj.i CROSS JOIN nn),
           |cf AS (SELECT i, j, c FROM cv UNION ALL SELECT j AS i, i AS j, c FROM cv WHERE i <> j),
           |crow AS (SELECT i, list(c ORDER BY j) AS row FROM cf GROUP BY i),
           |cm1 AS MATERIALIZED (SELECT list(row ORDER BY i) AS mat FROM crow),
           |${pitLeg(1)},
           |${deflate(1)},
           |${pitLeg(2)},
           |${deflate(2)},
           |${pitLeg(3)},
           |tr AS (SELECT $trace AS t FROM cm1),
           |res AS (
           |  SELECT 0 AS comp, (SELECT eig FROM ew1) AS eig,
           |    (SELECT eig FROM ew1) AS cum,
           |    ${sumLeg(1)} AS sum_q
           |  UNION ALL
           |  SELECT 1, (SELECT eig FROM ew2),
           |    (SELECT eig FROM ew1) + (SELECT eig FROM ew2),
           |    ${sumLeg(2)}
           |  UNION ALL
           |  SELECT 2, (SELECT eig FROM ew3),
           |    ((SELECT eig FROM ew1) + (SELECT eig FROM ew2)) + (SELECT eig FROM ew3),
           |    ${sumLeg(3)})
           |SELECT comp, sum_q, round(eig, 9) AS eigval,
           |  round(eig / t, 9) AS var_explained, round(cum / t, 9) AS cum_var
           |FROM res CROSS JOIN tr ORDER BY comp""".stripMargin
      }
    ),
    // ------------------------------------------------------------- text ops
    Q(
      "t1_text_langid",
      "Language-ID by stopword-hit heuristic, argmax with deterministic tiebreak; confusion counts vs labeled lang",
      (s, d) => {
        val stop = Map(
          "de" -> Seq("der", "die", "das", "und", "ein"),
          "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
          "es" -> Seq("el", "los", "de", "y", "en"),
          "fr" -> Seq("le", "la", "et", "un", "des"),
          "zh" -> Seq("de1", "shi4", "le5"))
        def hits(l: String) = {
          val arr = stop(l).map(w => s"'$w'").mkString(", ")
          s"size(array_intersect(toks, array($arr)))"
        }
        documents(s, d)
          .selectExpr("doc_id", "lang", s"$tokExpr AS toks")
          .selectExpr(
            Seq("doc_id", "lang") ++ stop.keys.toSeq.sorted.map(l => s"${hits(l)} AS s_$l"): _*)
          .withColumn("m", expr("greatest(s_de, s_en, s_es, s_fr, s_zh)"))
          .withColumn("pred",
            expr("CASE WHEN s_de = m THEN 'de' WHEN s_en = m THEN 'en' WHEN s_es = m THEN 'es' WHEN s_fr = m THEN 'fr' ELSE 'zh' END"))
          .groupBy("lang", "pred")
          .agg(count(lit(1)).as("n"))
          .orderBy("lang", "pred")
      },
      Some("""WITH scored AS (
             |  SELECT lang,
             |    length(list_distinct(list_intersect(string_split(lower(text), ' '), ['der','die','das','und','ein']))) AS s_de,
             |    length(list_distinct(list_intersect(string_split(lower(text), ' '), ['the','a','of','and','to','in','is']))) AS s_en,
             |    length(list_distinct(list_intersect(string_split(lower(text), ' '), ['el','los','de','y','en']))) AS s_es,
             |    length(list_distinct(list_intersect(string_split(lower(text), ' '), ['le','la','et','un','des']))) AS s_fr,
             |    length(list_distinct(list_intersect(string_split(lower(text), ' '), ['de1','shi4','le5']))) AS s_zh
             |  FROM documents),
             |p AS (SELECT lang, greatest(s_de, s_en, s_es, s_fr, s_zh) AS m, * FROM scored)
             |SELECT lang,
             |  CASE WHEN s_de = m THEN 'de' WHEN s_en = m THEN 'en' WHEN s_es = m THEN 'es'
             |       WHEN s_fr = m THEN 'fr' ELSE 'zh' END AS pred,
             |  COUNT(*) AS n
             |FROM p GROUP BY 1, 2 ORDER BY lang, pred""".stripMargin)
    ),
    Q(
      "t2_text_quality",
      "Quality scoring: token count, avg word length, stopword ratio -> tiered label (length/stopword heuristics per LLM-pipeline practice)",
      (s, d) =>
        documents(s, d)
          .selectExpr(
            "doc_id",
            "lang",
            "size(split(text, ' ')) AS ntok",
            "length(replace(text, ' ', '')) AS nalpha",
            s"size(filter(split(lower(text), ' '), t -> array_contains(array('the', 'a', 'of', 'and', 'to', 'in', 'is'), t))) AS stop_hits")
          .withColumn("avg_wlen", expr("nalpha * 1.0 / ntok"))
          .withColumn("stop_ratio", expr("stop_hits * 1.0 / ntok"))
          .withColumn("quality",
            expr("CASE WHEN ntok >= 40 AND stop_ratio >= 0.05 THEN 'high' WHEN ntok >= 15 THEN 'medium' ELSE 'low' END"))
          .groupBy("lang", "quality")
          .agg(count(lit(1)).as("n"))
          .orderBy("lang", "quality"),
      Some("""WITH f AS (
             |  SELECT lang,
             |    length(string_split(text, ' ')) AS ntok,
             |    length(replace(text, ' ', '')) AS nalpha,
             |    length(list_filter(string_split(lower(text), ' '),
             |           t -> list_contains(['the','a','of','and','to','in','is'], t))) AS stop_hits
             |  FROM documents)
             |SELECT lang,
             |  CASE WHEN ntok >= 40 AND stop_hits * 1.0 / ntok >= 0.05 THEN 'high'
             |       WHEN ntok >= 15 THEN 'medium' ELSE 'low' END AS quality,
             |  COUNT(*) AS n
             |FROM f GROUP BY 1, 2 ORDER BY lang, quality""".stripMargin)
    ),
    Q(
      "t3_text_tokens",
      "Token counting: whitespace tokens + regex word-chunk (BPE-ish) tokens, totals per lang",
      (s, d) =>
        documents(s, d)
          .selectExpr(
            "lang",
            "size(split(text, ' ')) AS ws",
            "size(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]', 0)) AS bpe")
          .groupBy("lang")
          .agg(
            count(lit(1)).as("docs"),
            sum(col("ws")).as("ws_tokens"),
            sum(col("bpe")).as("bpe_tokens"))
          .orderBy("lang"),
      // CAST AS BIGINT: DuckDB integer SUM is HUGEINT, Spark's is LongType.
      Some("""SELECT lang, COUNT(*) AS docs,
             |CAST(SUM(length(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
             |CAST(SUM(length(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]'))) AS BIGINT) AS bpe_tokens
             |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)
    ),
    Q(
      "t4_text_fingerprint",
      "Document fingerprint: md5 over sorted distinct token set; corpus dedup summary",
      (s, d) =>
        documents(s, d)
          .selectExpr("doc_id", s"md5(concat_ws(' ', sort_array($tokExpr))) AS fp")
          .agg(
            count(lit(1)).as("n_docs"),
            countDistinct(col("fp")).as("n_fingerprints"))
          .withColumn("n_redundant", expr("n_docs - n_fingerprints")),
      Some("""SELECT COUNT(*) AS n_docs,
             |COUNT(DISTINCT md5(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' '))) AS n_fingerprints,
             |COUNT(*) - COUNT(DISTINCT md5(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' '))) AS n_redundant
             |FROM documents""".stripMargin)
    ),
    Q(
      "t5_tfidf",
      "TF-IDF top-5 terms per lang: term frequency within lang x inverse document frequency over the corpus (tokenize -> explode -> two aggregations, all map-side-combining). The per-lang top-5 routes through the k-bounded TopKTerms Aggregator (Similarity.topTermsByKey) — a language's whole VOCABULARY reduces to 5 rows per partition before any shuffle, never a one-reducer vocab sort",
      (s, d) => {
        val toks = documents(s, d)
          .selectExpr("doc_id", "lang", s"$tokExpr AS toks")
          .localCheckpoint(eager = false) // explode over live lambda expr re-evaluates per output row
          .selectExpr("doc_id", "lang", "explode(toks) AS term")
        // corpus size as an in-plan broadcast scalar — no driver-side count
        // job during plan construction
        val nDocs = documents(s, d).agg(count(lit(1)).cast("double").as("n_docs_total"))
        val df_ = toks.groupBy("term").agg(countDistinct(col("doc_id")).as("df"))
        val tf = toks.groupBy("lang", "term").agg(count(lit(1)).as("tf"))
          .localCheckpoint(eager = false) // feeds the ranked scan AND the join-back
        val scored = tf.join(df_, Seq("term"))
          .join(broadcast(nDocs))
          .withColumn("tfidf", expr("tf * ln(n_docs_total / df)"))
        graft.ext.Similarity.topTermsByKey(
            scored.selectExpr("lang AS key", "term", "tfidf AS score"), 5)
          .selectExpr("key AS lang", "rank", "term")
          .join(tf, Seq("lang", "term"))
          .join(df_, Seq("term"))
          .select("lang", "rank", "term", "tf", "df")
          .orderBy("lang", "rank")
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, lang, unnest(list_distinct(string_split(lower(text), ' '))) AS term
             |  FROM documents),
             |n AS (SELECT COUNT(*) AS n FROM documents),
             |dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY term),
             |tf AS (SELECT lang, term, COUNT(*) AS tf FROM toks GROUP BY lang, term),
             |scored AS (
             |  SELECT lang, tf.term AS term, tf, df,
             |    row_number() OVER (PARTITION BY lang
             |      ORDER BY tf * ln((SELECT n * 1.0 FROM n) / df) DESC, tf.term) AS rank
             |  FROM tf JOIN dfreq ON tf.term = dfreq.term)
             |SELECT lang, rank, term, tf, df FROM scored WHERE rank <= 5
             |ORDER BY lang, rank""".stripMargin)
    ),
    Q(
      "t7_normalize_fingerprint",
      "Text normalization pipeline (lowercase -> punctuation strip -> whitespace collapse -> trim) feeding a canonical md5 fingerprint; per lang: docs, canonical forms, redundant docs — the canonicalization step ahead of exact dedup (catches dups that differ only in case/punct/spacing)",
      (s, d) =>
        documents(s, d)
          .selectExpr("lang",
            "md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ''), ' +', ' '))) AS fp")
          .groupBy("lang")
          .agg(count(lit(1)).as("docs"), countDistinct(col("fp")).as("canonical"))
          .withColumn("redundant", expr("CAST(docs - canonical AS BIGINT)"))
          .orderBy("lang"),
      // DuckDB regexp_replace needs the 'g' flag (Spark replaces all by default)
      Some("""WITH n AS (
             |  SELECT lang,
             |    md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS fp
             |  FROM documents)
             |SELECT lang, COUNT(*) AS docs, COUNT(DISTINCT fp) AS canonical,
             |  CAST(COUNT(*) - COUNT(DISTINCT fp) AS BIGINT) AS redundant
             |FROM n GROUP BY lang ORDER BY lang""".stripMargin)
    ),
    Q(
      "t8_repetition_filter",
      "Intra-document repetition filter (Gopher-style boilerplate rule): duplicate-3-gram fraction = 1 - distinct/total 3-grams per doc; per lang, docs exceeding the 5% and 10% repetition thresholds. Threshold counts (not averaged ratios) keep the result addition-order-independent; the ratio arithmetic is identical text both engines",
      (s, d) =>
        documents(s, d)
          .selectExpr("doc_id", "lang", graft.ext.MinHash.splitExpr)
          .selectExpr("doc_id", "lang",
            """CASE WHEN size(t) < 3 THEN 0.0
              |ELSE 1.0 - size(array_distinct(transform(
              |  sequence(1, size(t) - 2),
              |  i -> concat(element_at(t, i), ' ', element_at(t, i + 1), ' ', element_at(t, i + 2)))))
              |  * 1.0 / (size(t) - 2) END AS rep""".stripMargin)
          .groupBy("lang")
          .agg(
            count(lit(1)).as("docs"),
            sum(when(col("rep") > 0.05, 1).otherwise(0)).cast("long").as("repetitive_05"),
            sum(when(col("rep") > 0.10, 1).otherwise(0)).cast("long").as("repetitive_10"))
          .orderBy("lang"),
      Some("""WITH sp AS (SELECT doc_id, lang, string_split(lower(text), ' ') AS t FROM documents),
             |r AS (
             |  SELECT lang,
             |    CASE WHEN len(t) < 3 THEN 0.0
             |    ELSE 1.0 - len(list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
             |      for i in generate_series(1, len(t) - 2)]))
             |      * 1.0 / (len(t) - 2) END AS rep
             |  FROM sp)
             |SELECT lang, COUNT(*) AS docs,
             |  CAST(SUM(CASE WHEN rep > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS repetitive_05,
             |  CAST(SUM(CASE WHEN rep > 0.10 THEN 1 ELSE 0 END) AS BIGINT) AS repetitive_10
             |FROM r GROUP BY lang ORDER BY lang""".stripMargin)
    ),
    Q(
      "t6_chunk_pack",
      "Context packing: split each document into fixed-token windows (size 50, stride 40, overlap 10) and emit one row per chunk via a generator — the chunking step that feeds sequence packing in an LLM data pipeline. Per lang: docs, chunks, max chunks per doc",
      (s, d) =>
        documents(s, d)
          .selectExpr("doc_id", "lang", "size(split(text, ' ')) AS ntok")
          .selectExpr("doc_id", "lang",
            "CASE WHEN ntok <= 50 THEN 1 ELSE CAST(CEIL((ntok - 50) / 40.0) AS INT) + 1 END AS n_chunks")
          .selectExpr("doc_id", "lang", "n_chunks",
            "explode(sequence(0, n_chunks - 1)) AS chunk_id")
          .selectExpr("doc_id", "lang", "n_chunks", "chunk_id",
            "chunk_id * 40 AS chunk_start")
          .groupBy("lang")
          .agg(
            countDistinct(col("doc_id")).as("docs"),
            count(lit(1)).as("chunks"),
            max(col("n_chunks")).as("max_chunks_per_doc"))
          .orderBy("lang"),
      Some("""WITH t AS (
             |  SELECT doc_id, lang, length(string_split(text, ' ')) AS ntok FROM documents),
             |c AS (
             |  SELECT doc_id, lang,
             |    CASE WHEN ntok <= 50 THEN 1 ELSE CAST(CEIL((ntok - 50) / 40.0) AS INT) + 1 END AS n_chunks
             |  FROM t),
             |e AS (
             |  SELECT doc_id, lang, n_chunks, unnest(generate_series(0, n_chunks - 1)) AS chunk_id FROM c)
             |SELECT lang, COUNT(DISTINCT doc_id) AS docs, COUNT(*) AS chunks,
             |  CAST(MAX(n_chunks) AS INTEGER) AS max_chunks_per_doc
             |FROM e GROUP BY lang ORDER BY lang""".stripMargin)
    ),
    Q(
      "t9_pii_redact",
      "PII redaction ahead of tokenization (emails, IPv4s, phone-shaped and long-digit ID tokens -> typed placeholders, graft.ext.TextPipeline): per lang, docs plus per-pattern hit counts and docs whose text changed. Pure RE2-safe column expressions — the oracle applies the identical regex chain; planted-PII behavior is spec-pinned in TextPipelineSpec",
      (s, d) => {
        import graft.ext.TextPipeline
        val t = documents(s, d).select(
          col("lang"), col("text"),
          TextPipeline.redact(col("text")).as("red"),
          TextPipeline.hit(col("text"), 0).as("h_email"),
          TextPipeline.hit(col("text"), 1).as("h_ip"),
          TextPipeline.hit(col("text"), 2).as("h_phone"),
          TextPipeline.hit(col("text"), 3).as("h_id"))
        t.groupBy("lang")
          .agg(
            count(lit(1)).as("docs"),
            sum(col("h_email")).cast("long").as("emails"),
            sum(col("h_ip")).cast("long").as("ips"),
            sum(col("h_phone")).cast("long").as("phones"),
            sum(col("h_id")).cast("long").as("ids"),
            sum(when(col("text") =!= col("red"), 1).otherwise(0)).cast("long").as("docs_redacted"))
          .orderBy("lang")
      },
      Some("""SELECT lang, COUNT(*) AS docs,
             |  CAST(SUM(CASE WHEN regexp_matches(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}') THEN 1 ELSE 0 END) AS BIGINT) AS emails,
             |  CAST(SUM(CASE WHEN regexp_matches(text, '\b(\d{1,3}\.){3}\d{1,3}\b') THEN 1 ELSE 0 END) AS BIGINT) AS ips,
             |  CAST(SUM(CASE WHEN regexp_matches(text, '\b\d{3}[-.]\d{3,4}[-.]\d{4}\b') THEN 1 ELSE 0 END) AS BIGINT) AS phones,
             |  CAST(SUM(CASE WHEN regexp_matches(text, '\b\d{9,}\b') THEN 1 ELSE 0 END) AS BIGINT) AS ids,
             |  CAST(SUM(CASE WHEN text <>
             |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
             |      '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
             |      '\b(\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
             |      '\b\d{3}[-.]\d{3,4}[-.]\d{4}\b', '<PHONE>', 'g'),
             |      '\b\d{9,}\b', '<ID>', 'g')
             |    THEN 1 ELSE 0 END) AS BIGINT) AS docs_redacted
             |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)
    ),
    Q(
      "t10_vocab_coverage",
      "Vocabulary build with cumulative coverage (BPE/vocab prep): global token counts ranked desc, top-10 terms with the cumulative fraction of the corpus they cover. Coverage is an exact-integer ratio divided once, so the doubles are bitwise identical in both engines",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val toks = documents(s, d).selectExpr("explode(split(lower(text), ' ')) AS term")
        // vocab-sized; checkpoint so the ranked scan and the total don't each
        // re-tokenize the corpus
        val cnts = toks.groupBy("term").agg(count(lit(1)).as("cnt"))
          .localCheckpoint(eager = false)
        val total = cnts.agg(sum(col("cnt")).cast("double").as("total_tokens"))
        // k-bounded top-10 first (TakeOrderedAndProject — a heap, never a
        // global sort of the whole vocabulary), THEN rank/accumulate inside
        // the 10-row frame: the cumulative sum at rank k only ever involves
        // ranks 1..k, all inside the frame, so the result is identical
        val top = cnts.orderBy(desc("cnt"), col("term")).limit(10)
        val rankW = Window.orderBy(desc("cnt"), col("term"))
        val cumW = rankW.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        top
          .withColumn("rank", row_number().over(rankW).cast("long"))
          .withColumn("cum", sum(col("cnt")).over(cumW))
          .join(broadcast(total))
          .selectExpr("rank", "term", "cnt", "CAST(cum AS DOUBLE) / total_tokens AS coverage")
          .orderBy("rank")
      },
      Some("""WITH t AS (SELECT unnest(string_split(lower(text), ' ')) AS term FROM documents),
             |c AS (SELECT term, COUNT(*) AS cnt FROM t GROUP BY term),
             |r AS (
             |  SELECT term, cnt,
             |    row_number() OVER (ORDER BY cnt DESC, term) AS rank,
             |    SUM(cnt) OVER (ORDER BY cnt DESC, term ROWS UNBOUNDED PRECEDING) AS cum,
             |    (SELECT SUM(cnt) FROM c) AS total
             |  FROM c)
             |SELECT rank, term, cnt, CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) AS coverage
             |FROM r WHERE rank <= 10 ORDER BY rank""".stripMargin)
    ),
    Q(
      "t11_unigram_quality",
      "Corpus-frequency quality score (the rational-arithmetic stand-in for LM log-prob filtering, same plan shape): per doc, mean corpus frequency of its tokens = sum(cnt)/(ntok*total) — integer aggregates, one final division, so doubles match bitwise. Per lang: docs, worst/best score, docs under the low-quality threshold",
      (s, d) => {
        val toks = documents(s, d)
          .selectExpr("doc_id", "lang", "explode(split(lower(text), ' ')) AS term")
          .localCheckpoint(eager = false) // reused by counts and the per-doc join
        val cnts = toks.groupBy("term").agg(count(lit(1)).as("cnt"))
          .localCheckpoint(eager = false) // shared by the per-doc join and the total
        val total = cnts.agg(sum(col("cnt")).as("total_tokens"))
        toks.join(cnts, Seq("term"))
          .groupBy("doc_id", "lang")
          .agg(sum(col("cnt")).as("sum_cnt"), count(lit(1)).as("ntok"))
          .join(broadcast(total))
          .selectExpr("lang",
            "CAST(sum_cnt AS DOUBLE) / (CAST(ntok AS DOUBLE) * CAST(total_tokens AS DOUBLE)) AS score")
          .groupBy("lang")
          .agg(
            count(lit(1)).as("docs"),
            min(col("score")).as("worst"),
            max(col("score")).as("best"),
            sum(when(col("score") < 0.0333, 1).otherwise(0)).cast("long").as("low_quality"))
          .orderBy("lang")
      },
      Some("""WITH t AS (SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS term FROM documents),
             |c AS (SELECT term, COUNT(*) AS cnt FROM t GROUP BY term),
             |tot AS (SELECT SUM(cnt) AS total FROM c),
             |pd AS (
             |  SELECT doc_id, lang,
             |    CAST(SUM(cnt) AS DOUBLE) / (CAST(COUNT(*) AS DOUBLE) * CAST((SELECT total FROM tot) AS DOUBLE)) AS score
             |  FROM t JOIN c USING (term) GROUP BY doc_id, lang)
             |SELECT lang, COUNT(*) AS docs, MIN(score) AS worst, MAX(score) AS best,
             |  CAST(SUM(CASE WHEN score < 0.0333 THEN 1 ELSE 0 END) AS BIGINT) AS low_quality
             |FROM pd GROUP BY lang ORDER BY lang""".stripMargin)
    ),
    Q(
      "t12_bm25",
      "BM25 retrieval scoring (k1=1.2, b=0.75): top-5 docs per query term — the retrieval-grade upgrade of t5's TF-IDF (term saturation + doc-length normalization), the scorer behind quality-filter-by-query and RAG corpus indexing. Raw term frequency (not distinct tokens), df from matching docs, avgdl as an exact integer-ratio broadcast scalar. The per-term top-5 routes through the k-bounded TopK Aggregator (Similarity.topKByTerm, the n1-n4 re-rank path) — a hot term's postings reduce to 5 per partition before any shuffle, never a full posting-list window sort. Output columns are all integers; the double score ranks only, ties break on doc_id — the t5 determinism recipe",
      (s, d) => {
        val toks = documents(s, d)
          .selectExpr("doc_id", "split(lower(text), ' ') AS t")
          .selectExpr("doc_id", "CAST(size(t) AS BIGINT) AS dl", "explode(t) AS term")
          .where(col("term").isin("spark", "vector", "merge"))
        // exact scalars: integer count + integer token mass; the division to
        // avgdl happens once inside the score expression, identically in the
        // oracle, so both engines see bit-identical doubles
        val stats = documents(s, d).agg(
          count(lit(1)).as("n_docs"),
          sum(expr("size(split(lower(text), ' '))")).as("sum_dl"))
        val tf = toks.groupBy("doc_id", "dl", "term")
          .agg(count(lit(1)).as("tf"))
          .localCheckpoint(eager = false) // feeds df and the scored join
        val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
        val score =
          "ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE)) / (CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE)) * " +
            "(CAST(tf AS DOUBLE) * CAST(2.2 AS DOUBLE)) / (CAST(tf AS DOUBLE) + CAST(1.2 AS DOUBLE) * " +
            "(CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))"
        val scored = tf.join(dfreq, Seq("term"))
          .join(broadcast(stats))
          .withColumn("bm25", expr(score))
        // TopK tie-break (score desc, id asc) == the oracle's ORDER BY
        // (bm25 DESC, doc_id); the winners join back to the checkpointed
        // posting table (k-bounded rows per term) for their integer columns
        graft.ext.Similarity.topKByTerm(
            scored.selectExpr("term AS key", "doc_id AS id", "bm25 AS score"), 5)
          .selectExpr("key AS term", "rank", "id AS doc_id")
          .join(tf.select("term", "doc_id", "tf", "dl"), Seq("term", "doc_id"))
          .join(dfreq, Seq("term"))
          .select("term", "rank", "doc_id", "tf", "df", "dl")
          .orderBy("term", "rank")
      },
      Some("""WITH tk AS (
             |  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
             |tok AS (
             |  SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM tk),
             |st AS (
             |  SELECT COUNT(*) AS n_docs,
             |    SUM(length(string_split(lower(text), ' '))) AS sum_dl FROM documents),
             |tf AS (
             |  SELECT doc_id, dl, term, COUNT(*) AS tf FROM tok
             |  WHERE term IN ('spark', 'vector', 'merge') GROUP BY doc_id, dl, term),
             |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
             |scored AS (
             |  SELECT tf.term AS term, doc_id, tf, df, dl,
             |    row_number() OVER (PARTITION BY tf.term ORDER BY
             |      ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE)) / (CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE)) *
             |      (CAST(tf AS DOUBLE) * CAST(2.2 AS DOUBLE)) / (CAST(tf AS DOUBLE) + CAST(1.2 AS DOUBLE) *
             |      (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))) DESC,
             |      doc_id) AS rank
             |  FROM tf JOIN dfreq USING (term) CROSS JOIN st)
             |SELECT term, rank, doc_id, tf, df, dl FROM scored WHERE rank <= 5
             |ORDER BY term, rank""".stripMargin)
    ),
    Q(
      "t13_quality_filter_funnel",
      "Gopher-style heuristic filter battery: word-count bounds, mean-word-length range, unique-word fraction, top-word dominance — the per-rule drop funnel plus survivors per lang. Every ratio rule is tested in exact integer arithmetic (r >= a/b as r_num*b >= a*r_den) so the hash gate is exact. ONE corpus scan, ZERO token exchanges (r13): all four per-doc statistics (token count = size(t), distinct words, char mass, dominance = longest sorted-run) are scan-side array projections — the token stream never crosses a shuffle; only the 5-row per-lang rollup does",
      (s, d) => {
        // r13 (guide §2.3 aggregate-before-shuffle, taken to its limit): the
        // four funnel stats are per-document functions of the token array, so
        // they compute as one scan-side projection — the old explode ->
        // groupBy(doc, term) -> groupBy(doc) pair shipped the corpus's entire
        // token stream through an exchange just to regroup what the row
        // already held. Values are identical: ntok = sum(tf) = size(t),
        // nuniq = count(distinct terms), nalpha = sum(len(term)*tf) = total
        // token chars, maxtf = the longest equal-run of the sorted array.
        documents(s, d)
          .selectExpr("doc_id", "lang", "split(lower(text), ' ') AS t")
          .where(col("t").isNotNull) // explode() dropped null-array docs
          .selectExpr(Seq("doc_id", "lang") ++ funnelStatExprs: _*)
          .withColumn("f_wc", expr("ntok < 30 OR ntok > 80"))
          .withColumn("f_mwl", expr("nalpha * 10 < ntok * 42 OR nalpha > ntok * 10"))
          .withColumn("f_uniq", expr("nuniq * 5 < ntok * 2"))
          .withColumn("f_dom", expr("maxtf * 8 > ntok"))
          .groupBy("lang")
          .agg(
            count(lit(1)).as("docs"),
            sum(when(expr("NOT (f_wc OR f_mwl OR f_uniq OR f_dom)"), 1).otherwise(0))
              .cast("long").as("kept"),
            sum(when(col("f_wc"), 1).otherwise(0)).cast("long").as("drop_wc"),
            sum(when(col("f_mwl"), 1).otherwise(0)).cast("long").as("drop_mwl"),
            sum(when(col("f_uniq"), 1).otherwise(0)).cast("long").as("drop_uniq"),
            sum(when(col("f_dom"), 1).otherwise(0)).cast("long").as("drop_dom"))
          .orderBy("lang")
      },
      Some("""WITH b AS (
             |  SELECT doc_id, lang,
             |    len(string_split(text, ' ')) AS ntok,
             |    len(list_distinct(string_split(lower(text), ' '))) AS nuniq,
             |    length(replace(text, ' ', '')) AS nalpha
             |  FROM documents),
             |tf AS (
             |  SELECT doc_id, MAX(c) AS maxtf FROM (
             |    SELECT doc_id, COUNT(*) AS c
             |    FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents)
             |    GROUP BY doc_id, term)
             |  GROUP BY doc_id),
             |f AS (
             |  SELECT lang,
             |    (ntok < 30 OR ntok > 80) AS f_wc,
             |    (nalpha * 10 < ntok * 42 OR nalpha > ntok * 10) AS f_mwl,
             |    (nuniq * 5 < ntok * 2) AS f_uniq,
             |    (maxtf * 8 > ntok) AS f_dom
             |  FROM b JOIN tf USING (doc_id))
             |SELECT lang, COUNT(*) AS docs,
             |  CAST(SUM(CASE WHEN NOT (f_wc OR f_mwl OR f_uniq OR f_dom) THEN 1 ELSE 0 END) AS BIGINT) AS kept,
             |  CAST(SUM(CASE WHEN f_wc THEN 1 ELSE 0 END) AS BIGINT) AS drop_wc,
             |  CAST(SUM(CASE WHEN f_mwl THEN 1 ELSE 0 END) AS BIGINT) AS drop_mwl,
             |  CAST(SUM(CASE WHEN f_uniq THEN 1 ELSE 0 END) AS BIGINT) AS drop_uniq,
             |  CAST(SUM(CASE WHEN f_dom THEN 1 ELSE 0 END) AS BIGINT) AS drop_dom
             |FROM f GROUP BY lang ORDER BY lang""".stripMargin)
    ),
    Q(
      "t14_bpe_encode",
      "BPE tokenization at corpus scale (ext.Bpe): per word, chars merged by a RANKED merge table in greedy leftmost order — the distributed APPLY leg of subword tokenizer construction (t10 measures vocab coverage; this materializes the token stream). Merge table is a seeded constant so the oracle is static (training is BpeSpec-pinned: deterministic, layout-independent, frequency-ranked); encode is mapPartitions with broadcast merges + per-partition word memo. Per lang: docs, BPE token mass vs raw char mass — the compression a tokenizer buys",
      (s, d) => {
        // chars derive from the tokens (BPE is lossless: tokens concatenate
        // back to the words), so the text column is read ONCE by the encode
        // scan; the lang lookup prunes to two small columns
        val toks = graft.ext.Bpe.encode(documents(s, d), "doc_id", "text", bpeModel)
          .selectExpr("id", "CAST(size(tokens) AS BIGINT) AS toks",
            "CAST(aggregate(tokens, 0, (a, t) -> a + length(t)) AS BIGINT) AS chars")
        documents(s, d)
          .selectExpr("doc_id AS id", "lang")
          .join(toks, Seq("id"), "left")
          .groupBy("lang")
          .agg(
            count(lit(1)).as("docs"),
            sum(coalesce(col("toks"), lit(0L))).as("bpe_tokens"),
            sum(coalesce(col("chars"), lit(0L))).as("chars"))
          .orderBy("lang")
      },
      Some(bpeOracleSql)
    ),
    Q(
      "t15_heavy_hitters",
      "Per-lang heavy-hitter tokens via a Misra-Gries sketch (ops.FreqSketch, c=64, report top 10): ONE bounded-state aggregation whose partial state is at most c counters per lang per partition REGARDLESS of vocabulary size — the exchange is tasks x c entries, not one row per distinct token, the only frequency shape that survives a corpus whose dictionary is itself too large to shuffle (t5's exact path is linear in vocab). MG guarantees estimate <= true, deficit <= N/(c+1), every token above that threshold present; the fixture vocabulary (31 tokens/lang) is under c, the regime where the sketch is provably EXACT and deterministic — which is what the oracle gates (FreqSketchSpec pins the approximate-regime bounds)",
      (s, d) => {
        val toks = documents(s, d)
          .selectExpr("lang AS key", "explode(split(lower(text), ' ')) AS token")
        graft.ops.FreqSketch.heavyHittersByKey(toks, c = 64, k = 10)
          .selectExpr("key AS lang", "rank", "token", "n")
          .orderBy("lang", "rank")
      },
      Some("""WITH toks AS (
             |  SELECT lang, unnest(string_split(lower(text), ' ')) AS token FROM documents),
             |cnt AS (SELECT lang, token, COUNT(*) AS n FROM toks GROUP BY lang, token),
             |r AS (SELECT lang, token, n,
             |  row_number() OVER (PARTITION BY lang ORDER BY n DESC, token ASC) AS rank
             |  FROM cnt)
             |SELECT lang, rank, token, n FROM r WHERE rank <= 10
             |ORDER BY lang, rank""".stripMargin)
    ),
    Q(
      "t16_ngram_novelty",
      "Per-document n-gram novelty vs a reference set (docs id<50 stand in for the previous corpus release / training set): the fraction of each doc's distinct 5-grams already present in the reference — the graded memorization audit (Carlini-style verbatim-carryover detection) beside d7's boolean any-13-gram contamination flag and d10's corpus-internal dup mass. Inverted posting shape end to end: distinct reference grams -> SHUFFLE_HASH posting join -> per-doc seen counts, all exact integers; a doc is flagged memorized at >= 1/2 overlap via 2*seen >= tot (no division). Per lang: docs, gram/seen masses, memorized docs, one final mean-novelty double both engines compute from the same two BIGINTs. 100 TB shape: the reference set is release-sized (the d11 Bloom prefilter is the drop-in when it outgrows a broadcast); per-doc state is two integers, never a gram list",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val sh = documents(s, d)
          .selectExpr("doc_id", "lang", graft.ext.MinHash.splitExpr)
          .selectExpr("doc_id", "lang", "shinglen(t, 5) AS g5")
          .localCheckpoint(eager = false) // feeds reference build + postings + doc base
        val ref = sh.where(col("doc_id") < 50)
          .selectExpr("explode(g5) AS gram").distinct()
        val seen = sh.where(col("doc_id") >= 50)
          .selectExpr("doc_id", "explode(g5) AS gram")
          .join(ref.hint("merge"), Seq("gram"))
          .groupBy("doc_id").agg(count(lit(1)).as("seen"))
        sh.where(col("doc_id") >= 50)
          .selectExpr("doc_id", "lang", "CAST(size(g5) AS BIGINT) AS tot")
          .join(seen, Seq("doc_id"), "left")
          .withColumn("seen", coalesce(col("seen"), lit(0L)))
          .groupBy("lang")
          .agg(
            count(lit(1)).as("docs"),
            sum(col("tot")).as("grams"),
            sum(col("seen")).cast("long").as("seen_grams"),
            sum(when(expr("tot > 0 AND 2 * seen >= tot"), 1).otherwise(0))
              .cast("long").as("memorized_docs"))
          .select(col("lang"), col("docs"), col("grams"), col("seen_grams"),
            col("memorized_docs"),
            when(col("grams") > 0,
              lit(1.0) - col("seen_grams").cast("double") / col("grams").cast("double"))
              .otherwise(lit(1.0)).as("mean_novelty"))
          .orderBy("lang")
      },
      Some("""WITH sp AS (SELECT doc_id, lang, string_split(lower(text), ' ') AS t FROM documents),
             |g AS (SELECT doc_id, lang,
             |  CASE WHEN len(t) < 5 THEN CAST([] AS VARCHAR[])
             |  ELSE list_distinct([array_to_string(t[i:i+4], ' ')
             |    for i in generate_series(1, len(t) - 4)]) END AS g5
             |  FROM sp),
             |ref AS (SELECT DISTINCT gram
             |  FROM (SELECT unnest(g5) AS gram FROM g WHERE doc_id < 50)),
             |post AS (SELECT doc_id, unnest(g5) AS gram FROM g WHERE doc_id >= 50),
             |sn AS (
             |  SELECT doc_id, COUNT(*) AS seen
             |  FROM post JOIN ref USING (gram) GROUP BY doc_id),
             |b AS (
             |  SELECT g.doc_id, g.lang, len(g5) AS tot, COALESCE(sn.seen, 0) AS seen
             |  FROM g LEFT JOIN sn ON g.doc_id = sn.doc_id WHERE g.doc_id >= 50)
             |SELECT lang, COUNT(*) AS docs, CAST(SUM(tot) AS BIGINT) AS grams,
             |  CAST(SUM(seen) AS BIGINT) AS seen_grams,
             |  CAST(SUM(CASE WHEN tot > 0 AND 2 * seen >= tot THEN 1 ELSE 0 END) AS BIGINT) AS memorized_docs,
             |  CASE WHEN SUM(tot) > 0
             |    THEN 1.0 - CAST(SUM(seen) AS DOUBLE) / CAST(SUM(tot) AS DOUBLE)
             |    ELSE 1.0 END AS mean_novelty
             |FROM b GROUP BY lang ORDER BY lang""".stripMargin)
    ),
    Q(
      "t17_vocab_growth",
      "Vocabulary growth profile (the Heaps'-law audit): every distinct " +
        "token is attributed to the doc_id decile where it FIRST appears; " +
        "per decile, new-token count and running vocabulary size. One " +
        "posting pass -> partial-aggregating min(doc_id) per token -> " +
        "10-row decile rollup (the running sum windows over TEN rows, not " +
        "the corpus). The curve says whether a corpus is still " +
        "contributing vocabulary or re-treading it — the cheap health " +
        "check before spending tokenizer/training budget on another dump; " +
        "decile boundaries come from max(doc_id)+1 so the same static " +
        "oracle holds at every SF",
      (s, d) => {
        val firsts = documents(s, d)
          .selectExpr("doc_id", s"explode($tokExpr) AS tok")
          .groupBy("tok").agg(min("doc_id").as("first_doc"))
        val n = documents(s, d).agg(expr("max(doc_id) + 1").as("n"))
        firsts.crossJoin(broadcast(n))
          .selectExpr("CAST(first_doc * 10 div n AS INT) AS decile")
          .groupBy("decile").agg(count(lit(1)).as("new_tokens"))
          .selectExpr("decile", "new_tokens",
            "CAST(SUM(new_tokens) OVER (ORDER BY decile) AS BIGINT) AS vocab_size")
          .orderBy("decile")
      },
      Some("""WITH t AS (
             |  SELECT doc_id, unnest(list_distinct(string_split(lower(text), ' '))) AS tok
             |  FROM documents),
             |f AS (SELECT tok, MIN(doc_id) AS first_doc FROM t GROUP BY tok),
             |m AS (SELECT MAX(doc_id) + 1 AS n FROM documents),
             |d AS (
             |  SELECT CAST(first_doc * 10 // n AS INT) AS decile, COUNT(*) AS new_tokens
             |  FROM f, m GROUP BY 1)
             |SELECT decile, new_tokens,
             |  CAST(SUM(new_tokens) OVER (ORDER BY decile) AS BIGINT) AS vocab_size
             |FROM d ORDER BY decile""".stripMargin)
    ),
    Q(
      "p15_temperature_mix",
      "Temperature-weighted language mixture (UniMax/mT5-style, alpha=0.5): per-lang quota = floor(T * sqrt(share)) up-weights low-resource langs vs proportional sampling, membership by deterministic md5 rank within lang (p14's coordination-free recipe). The quota rule is one division + one sqrt per lang on exact integer counts — no cross-lang double SUM whose accumulation order could diverge between engines. Selection is bounded-state threshold sampling (ScaleOps.quotaSampleByGroup): the quota-th smallest md5 rank per lang comes from a k-bounded BottomK aggregation and is broadcast as a filter — the majority language is never total-sorted through one reducer. Per lang: corpus docs, quota, sampled docs, sampled token mass",
      (s, d) => {
        val stats = documents(s, d).agg(count(lit(1)).as("c_total"))
        val quotas = documents(s, d).groupBy("lang").agg(count(lit(1)).as("c_l"))
          .join(broadcast(stats))
          .withColumn("quota", expr(
            "CAST(FLOOR(60 * sqrt(CAST(c_l AS DOUBLE) / CAST(c_total AS DOUBLE))) AS INT)"))
        // rank key == ORDER BY (md5(id), id): md5 is fixed 32 hex chars, so
        // appending the zero-padded id preserves the lexicographic order and
        // makes the key unique (the quotaSampleByGroup contract)
        val rankKey = expr(
          "concat(md5(CAST(doc_id AS STRING)), lpad(CAST(doc_id AS STRING), 19, '0'))")
        graft.ops.ScaleOps.quotaSampleByGroup(
            documents(s, d).selectExpr("doc_id", "lang", "size(split(text, ' ')) AS ntok"),
            "lang", rankKey, quotas.select("lang", "quota"), maxQuota = 60)
          .groupBy("lang")
          .agg(
            count(lit(1)).as("sampled"),
            sum(col("ntok")).cast("long").as("tokens"))
          .join(broadcast(quotas), Seq("lang"))
          .selectExpr("lang", "c_l AS docs", "CAST(quota AS BIGINT) AS quota",
            "sampled", "tokens")
          .orderBy("lang")
      },
      Some("""WITH st AS (SELECT COUNT(*) AS c_total FROM documents),
             |q AS (
             |  SELECT lang, COUNT(*) AS c_l,
             |    CAST(FLOOR(60 * sqrt(CAST(COUNT(*) AS DOUBLE) / CAST(c_total AS DOUBLE))) AS INTEGER) AS quota
             |  FROM documents CROSS JOIN st GROUP BY lang, c_total),
             |r AS (
             |  SELECT lang, length(string_split(text, ' ')) AS ntok,
             |    row_number() OVER (PARTITION BY lang
             |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
             |  FROM documents)
             |SELECT r.lang AS lang, CAST(MAX(c_l) AS BIGINT) AS docs,
             |  CAST(MAX(quota) AS BIGINT) AS quota,
             |  COUNT(*) AS sampled, CAST(SUM(ntok) AS BIGINT) AS tokens
             |FROM r JOIN q ON r.lang = q.lang
             |WHERE rn <= quota
             |GROUP BY r.lang ORDER BY lang""".stripMargin)
    ),
    Q(
      "x1_corpus_prep_pipeline",
      "The end-to-end corpus-prep DAG as ONE query — quality-filter battery (t13 rules) -> exact dedup keep-first (d1) -> content-stable train/val/test split (p13 buckets) -> chunk packing (t6 windows): per (split, lang) surviving docs, token mass, packed chunks. ONE corpus scan: md5 + token arrays materialize once (localCheckpoint, the d2 signature discipline) and feed the posting stats, the dedup window, and the chunk arithmetic; stage order (filter BEFORE dedup) follows production pipelines — cheap projection rules first, the dedup shuffle only pays for survivors",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val base = documents(s, d)
          .selectExpr("doc_id", "lang", "md5(text) AS h", "split(lower(text), ' ') AS t")
          .localCheckpoint(eager = false) // feeds the stats explode AND the dedup/split legs
        val pd = base.selectExpr("doc_id", "explode(t) AS term")
          .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
          .groupBy("doc_id")
          .agg(
            sum(col("tf")).as("ntok"),
            count(lit(1)).as("nuniq"),
            sum(length(col("term")) * col("tf")).as("nalpha"),
            max(col("tf")).as("maxtf"))
        val kept = base.select("doc_id", "lang", "h").join(pd, Seq("doc_id"))
          .where(expr(
            "NOT (ntok < 30 OR ntok > 80 OR nalpha * 10 < ntok * 42 OR nalpha > ntok * 10 " +
              "OR nuniq * 5 < ntok * 2 OR maxtf * 8 > ntok)"))
        val w = Window.partitionBy("h").orderBy("doc_id")
        kept.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
          .selectExpr("lang", "ntok",
            "(instr('0123456789abcdef', substring(md5(CAST(doc_id AS STRING)), 1, 1)) - 1) * 16 + " +
              "instr('0123456789abcdef', substring(md5(CAST(doc_id AS STRING)), 2, 1)) - 1 AS hb")
          .selectExpr("lang", "ntok",
            "CASE WHEN hb < 204 THEN 'train' WHEN hb < 230 THEN 'val' ELSE 'test' END AS split",
            "CASE WHEN ntok <= 50 THEN 1 ELSE CAST(CEIL((ntok - 50) / 40.0) AS INT) + 1 END AS n_chunks")
          .groupBy("split", "lang")
          .agg(
            count(lit(1)).as("docs"),
            sum(col("ntok")).as("tokens"),
            sum(col("n_chunks")).cast("long").as("chunks"))
          .orderBy("split", "lang")
      },
      Some("""WITH b AS (
             |  SELECT doc_id, lang, md5(text) AS h, string_split(lower(text), ' ') AS t
             |  FROM documents),
             |tf AS (
             |  SELECT doc_id, term, COUNT(*) AS tf
             |  FROM (SELECT doc_id, unnest(t) AS term FROM b) GROUP BY doc_id, term),
             |pd AS (
             |  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS ntok, COUNT(*) AS nuniq,
             |    CAST(SUM(length(term) * tf) AS BIGINT) AS nalpha, CAST(MAX(tf) AS BIGINT) AS maxtf
             |  FROM tf GROUP BY doc_id),
             |kept AS (
             |  SELECT b.doc_id, b.lang, b.h, pd.ntok FROM b JOIN pd USING (doc_id)
             |  WHERE NOT (ntok < 30 OR ntok > 80 OR nalpha * 10 < ntok * 42 OR nalpha > ntok * 10
             |             OR nuniq * 5 < ntok * 2 OR maxtf * 8 > ntok)),
             |ded AS (
             |  SELECT *, row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn FROM kept),
             |sp AS (
             |  SELECT doc_id, lang, ntok,
             |    (instr('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16 +
             |    instr('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1 AS hb
             |  FROM ded WHERE rn = 1),
             |fin AS (
             |  SELECT CASE WHEN hb < 204 THEN 'train' WHEN hb < 230 THEN 'val' ELSE 'test' END AS split,
             |    lang, ntok,
             |    CASE WHEN ntok <= 50 THEN 1 ELSE CAST(CEIL((ntok - 50) / 40.0) AS INT) + 1 END AS n_chunks
             |  FROM sp)
             |SELECT split, lang, COUNT(*) AS docs, CAST(SUM(ntok) AS BIGINT) AS tokens,
             |  CAST(SUM(n_chunks) AS BIGINT) AS chunks
             |FROM fin GROUP BY split, lang ORDER BY split, lang""".stripMargin)
    ),
    Q(
      "x2_embedding_prep_pipeline",
      "The embedding-side corpus-prep DAG as ONE query — x1's sibling for the vector lane: coarse cell assignment (d9's fixed centroids, f32 contract) -> within-cell SemDeDup dominance drop (cosine>=0.35, earlier-id wins) -> JL projection of the SURVIVORS (e4's seeded sign matrix over exact floor(x*1e4) integers) -> per-cell accounting: members, survivors, exact projected second-moment mass (DECIMAL-summed BIGINT), one final double mean. Stage order is the production order — dedup shrinks the corpus BEFORE the projection and index-build stages pay for it. One embedding scan feeds assignment, both dominance sides, and the projection (localCheckpoint lineage cut); pair generation stays cell-blocked; projection is scan-side integer add/subtract",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val e = embeddings(s, d)
          .selectExpr(
            "vec_id",
            "slice(embedding, 1, 16) AS v",
            "CAST(embedding AS ARRAY<DOUBLE>) AS fv",
            "transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 10000.0) AS BIGINT)) AS q")
          .selectExpr("vec_id", "v", "fv", "q", "sqrt(array_dot(fv, fv)) AS nrm")
        val dists = e.selectExpr(
          Seq("vec_id", "fv", "q", "nrm") ++
            (0 until sdK).map(c => s"(${sdDistExpr(c, oneBased = false, sparkF32)}) AS sd_$c"): _*)
        val assigned = dists
          .withColumn("m", expr((0 until sdK).map(c => s"sd_$c").mkString("least(", ", ", ")")))
          .withColumn("cluster", expr(
            "CAST(CASE " + (0 until sdK).map(c => s"WHEN sd_$c = m THEN $c").mkString(" ") + " END AS INT)"))
          .select("vec_id", "cluster", "fv", "nrm", "q")
          .localCheckpoint(eager = false) // feeds both dominance sides + rollup + projection
        val dropped = assigned.as("a")
          .join(assigned.as("b"), expr(
            "a.cluster = b.cluster AND b.vec_id < a.vec_id AND " +
              "array_dot(a.fv, b.fv) / (a.nrm * b.nrm) >= 0.35"),
            "left_semi")
          .select("vec_id").withColumn("isdrop", lit(1))
        val yExprs = jlYExprs(i => s"element_at(q, ${i + 1})")
        val mass = (0 until 8).map(j => s"y$j * y$j").mkString(" + ")
        val surv = assigned.join(dropped, Seq("vec_id"), "left")
          .where(col("isdrop").isNull)
          .selectExpr(Seq("cluster") ++ yExprs.zipWithIndex.map { case (ex, j) => s"$ex AS y$j" }: _*)
          .selectExpr("cluster", s"CAST(($mass) AS DECIMAL(38, 0)) AS pm")
          .groupBy("cluster")
          .agg(count(lit(1)).cast("long").as("survivors"), sum(col("pm")).as("pmsum"))
        assigned.groupBy("cluster").agg(count(lit(1)).as("members"))
          .join(broadcast(surv), Seq("cluster"), "left")
          .select(col("cluster"), col("members"),
            coalesce(col("survivors"), lit(0L)).as("survivors"),
            coalesce(col("pmsum"), lit(0).cast("decimal(38,0)")).cast("long").as("proj_mass"),
            when(coalesce(col("survivors"), lit(0L)) > 0,
              col("pmsum").cast("double") / col("survivors").cast("double"))
              .otherwise(lit(0.0)).as("mean_proj_mass"))
          .orderBy("cluster")
      },
      Some({
        val lists = (0 until sdK)
          .map(c => s"    (${sdDistExpr(c, oneBased = true, f => s"CAST('${java.lang.Float.toString(f)}' AS REAL)")}) AS sd_$c")
          .mkString(",\n")
        val leastE = (0 until sdK).map(c => s"sd_$c").mkString("least(", ", ", ")")
        val caseE = "CAST(CASE " + (0 until sdK).map(c => s"WHEN sd_$c = m THEN $c").mkString(" ") + " END AS INTEGER)"
        val yExprs = jlYExprs(i => s"q[${i + 1}]")
        val ySel = yExprs.zipWithIndex.map { case (ex, j) => s"$ex AS y$j" }.mkString(",\n    ")
        val mass = (0 until 8).map(j => s"y$j * y$j").mkString(" + ")
        s"""WITH e AS (SELECT vec_id, embedding[1:$sdDim] AS v, CAST(embedding AS DOUBLE[]) AS fv,
           |  list_transform(CAST(embedding AS DOUBLE[]), x -> CAST(FLOOR(x * 10000.0) AS BIGINT)) AS q,
           |  sqrt(list_reduce(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x), (acc, x) -> acc + x)) AS nrm
           |  FROM embeddings),
           |dl AS (SELECT vec_id, fv, q, nrm,
           |$lists
           |  FROM e),
           |withm AS (SELECT *, $leastE AS m FROM dl),
           |asg AS (SELECT vec_id, fv, q, nrm, $caseE AS cluster FROM withm),
           |dropped AS (
           |  SELECT DISTINCT a.vec_id AS vec_id FROM asg a JOIN asg b
           |  ON a.cluster = b.cluster AND b.vec_id < a.vec_id AND
           |    list_reduce(list_transform(list_zip(a.fv, b.fv), p -> p[1] * p[2]), (acc, x) -> acc + x)
           |    / (a.nrm * b.nrm) >= 0.35),
           |kept AS (
           |  SELECT asg.cluster, asg.q FROM asg LEFT JOIN dropped d USING (vec_id)
           |  WHERE d.vec_id IS NULL),
           |proj AS (SELECT cluster,
           |    $ySel
           |  FROM kept),
           |pm AS (SELECT cluster, $mass AS pm FROM proj),
           |sv AS (SELECT cluster, COUNT(*) AS survivors, SUM(pm) AS pmsum FROM pm GROUP BY cluster),
           |mem AS (SELECT cluster, COUNT(*) AS members FROM asg GROUP BY cluster)
           |SELECT mem.cluster AS cluster, CAST(mem.members AS BIGINT) AS members,
           |  CAST(COALESCE(sv.survivors, 0) AS BIGINT) AS survivors,
           |  CAST(COALESCE(sv.pmsum, 0) AS BIGINT) AS proj_mass,
           |  CASE WHEN COALESCE(sv.survivors, 0) > 0
           |    THEN CAST(sv.pmsum AS DOUBLE) / CAST(sv.survivors AS DOUBLE)
           |    ELSE 0.0 END AS mean_proj_mass
           |FROM mem LEFT JOIN sv ON mem.cluster = sv.cluster
           |ORDER BY cluster""".stripMargin
      })
    ),
    Q(
      "x3_quality_lane",
      "Composed QUALITY lane — the CCNet/Gopher curation order run as one " +
        "pipeline over one tokenized scan: the t13 rule funnel first " +
        "(cheap integer-ratio gates drop the worst docs before any LM " +
        "cost), then the t20 bigram LM scores only the SURVIVORS and the " +
        "per-lang head/middle/tail tranches are cut over the post-funnel " +
        "population (the tranche boundaries of a composed lane differ " +
        "from standalone t20 — that recalibration is the point of gating " +
        "the composition, not just the pieces). Accounting per (lang, " +
        "stage) over held-out docs: dropped | head | middle | tail with " +
        "doc/token masses and exact-bit perplexity (NULL for dropped). " +
        "Shares one localCheckpoint of the tokenized corpus across " +
        "funnel + train + scoring; the tranche cut stays on the w14 " +
        "ranking discipline",
      (s, d) => {
        val sp = documents(s, d)
          .selectExpr("doc_id", "lang", graft.ext.MinHash.splitExpr)
          .localCheckpoint(eager = false) // funnel + LM train + scoring share it
        // r13: the funnel stats are per-row projections over the held slice
        // (funnelStatExprs — same values as the old explode/groupBy pair with
        // zero exchanges), and the survivor set is a FILTER of the stats
        // frame instead of a join back onto sp (the stats row still carries
        // t) — the old plan shipped the token stream through a posting
        // exchange and then paid a doc_id join to re-attach the tokens.
        val held = sp.where(col("doc_id") % 10 =!= 0)
          .where(col("t").isNotNull) // as t13: explode() dropped null-array docs
          .selectExpr(Seq("doc_id", "lang", "t") ++ funnelStatExprs: _*)
          .withColumn("pass", expr(
            "NOT ((ntok < 30 OR ntok > 80) OR (nalpha * 10 < ntok * 42 OR nalpha > ntok * 10) " +
              "OR (nuniq * 5 < ntok * 2) OR (maxtf * 8 > ntok))"))
        val m = graft.ext.LangModel.train(
          sp.where(col("doc_id") % 10 === 0).select("t"))
        val surv = held.where(col("pass")).select("doc_id", "lang", "t")
        val dd = graft.ext.LangModel.scoreDocs(surv, m, Seq("doc_id", "lang"))
          .withColumn("bpt", expr("CAST(bits AS DOUBLE) / n_tokens"))
        val scored = graft.ops.ScaleOps.groupedGlobalRowNumber(
            dd, Seq("lang"), Seq("bpt", "doc_id"), countCol = Some("nd"))
          .withColumn("tile", expr(
            """CASE WHEN rn <= (nd DIV 3 + 1) * (nd % 3)
              |     THEN (rn - 1) DIV (nd DIV 3 + 1) + 1
              |     ELSE nd % 3 + (rn - (nd DIV 3 + 1) * (nd % 3) - 1) DIV (nd DIV 3) + 1
              |END""".stripMargin))
          .selectExpr("lang",
            "CASE tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS stage",
            "n_tokens", "bits")
        val dropped = held.where(!col("pass"))
          .selectExpr("lang", "'dropped' AS stage", "ntok AS n_tokens",
            "CAST(NULL AS BIGINT) AS bits")
        scored.unionByName(dropped)
          .groupBy("lang", "stage")
          .agg(count(lit(1)).as("docs"),
            sum("n_tokens").cast("long").as("tokens"),
            expr("round(CAST(SUM(bits) AS DOUBLE) / SUM(n_tokens), 9)")
              .as("bits_per_token"))
          .orderBy("lang", "stage")
      },
      Some("""WITH sp AS (SELECT doc_id, lang, string_split(lower(text), ' ') AS t FROM documents),
             |st AS (SELECT doc_id, lang, ntok, nuniq, nalpha, maxtf,
             |  NOT ((ntok < 30 OR ntok > 80) OR (nalpha * 10 < ntok * 42 OR nalpha > ntok * 10)
             |    OR (nuniq * 5 < ntok * 2) OR (maxtf * 8 > ntok)) AS pass
             |  FROM (
             |    SELECT doc_id, lang, SUM(tf) AS ntok, COUNT(*) AS nuniq,
             |      SUM(length(term) * tf) AS nalpha, MAX(tf) AS maxtf
             |    FROM (SELECT doc_id, lang, term, COUNT(*) AS tf
             |          FROM (SELECT doc_id, lang, unnest(t) AS term FROM sp)
             |          GROUP BY 1, 2, 3)
             |    GROUP BY 1, 2)),
             |tr AS (SELECT t FROM sp WHERE doc_id % 10 = 0),
             |uni AS (SELECT u.w AS w, COUNT(*) AS cw
             |        FROM (SELECT unnest(t) AS w FROM tr) u GROUP BY 1),
             |tot AS (SELECT CAST(SUM(cw) AS BIGINT) AS tt FROM uni),
             |trb AS (SELECT t[i] AS c1, t[i + 1] AS w2
             |        FROM tr, LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i) s),
             |big AS (SELECT c1, w2, COUNT(*) AS cb FROM trb GROUP BY 1, 2),
             |bigc AS (SELECT b.c1, b.w2, b.cb, u.cw AS cc FROM big b JOIN uni u ON u.w = b.c1),
             |he AS (SELECT sp.doc_id AS doc_id, sp.lang AS lang, sp.t AS t
             |       FROM sp JOIN st USING (doc_id)
             |       WHERE sp.doc_id % 10 <> 0 AND st.pass),
             |po AS (SELECT doc_id, lang, i, t[i] AS w,
             |         CASE WHEN i > 1 THEN t[i - 1] END AS c
             |       FROM he, LATERAL (SELECT unnest(generate_series(1, len(t))) AS i) s),
             |sc AS (SELECT p.doc_id, p.lang,
             |  CASE WHEN p.i = 1 THEN
             |         CASE WHEN u.cw IS NOT NULL THEN length(bin(tt)) - length(bin(u.cw))
             |              ELSE length(bin(tt)) + 8 END
             |       WHEN b.cb IS NOT NULL THEN length(bin(b.cc)) - length(bin(b.cb))
             |       WHEN u.cw IS NOT NULL THEN 2 + length(bin(tt)) - length(bin(u.cw))
             |       ELSE 2 + length(bin(tt)) + 8 END AS s
             |  FROM po p
             |  LEFT JOIN bigc b ON b.c1 = p.c AND b.w2 = p.w
             |  LEFT JOIN uni u ON u.w = p.w
             |  CROSS JOIN tot),
             |dd AS (SELECT doc_id, lang, COUNT(*) AS n, CAST(SUM(s) AS BIGINT) AS sb
             |       FROM sc GROUP BY 1, 2),
             |rk AS (SELECT lang, n, sb, ntile(3) OVER
             |         (PARTITION BY lang ORDER BY CAST(sb AS DOUBLE) / n, doc_id) AS tile
             |       FROM dd),
             |u AS (
             |  SELECT lang,
             |    CASE tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS stage,
             |    n AS n_tokens, sb AS bits
             |  FROM rk
             |  UNION ALL
             |  SELECT lang, 'dropped' AS stage, ntok AS n_tokens, CAST(NULL AS BIGINT) AS bits
             |  FROM st WHERE doc_id % 10 <> 0 AND NOT pass)
             |SELECT lang, stage, COUNT(*) AS docs,
             |  CAST(SUM(n_tokens) AS BIGINT) AS tokens,
             |  round(CAST(SUM(bits) AS DOUBLE) / CAST(SUM(n_tokens) AS BIGINT), 9) AS bits_per_token
             |FROM u GROUP BY 1, 2 ORDER BY lang, stage""".stripMargin)
    ),
    Q(
      "p13_hash_split",
      "Deterministic train/val/test split by content-stable hash bucket (md5 of the id -> 0..255 -> 80/10/10): membership is a pure function of the key, so re-runs, backfills and distributed workers all agree without coordination — the split op every training pipeline needs",
      (s, d) =>
        documents(s, d)
          .selectExpr("doc_id", "lang",
            "(instr('0123456789abcdef', substring(md5(CAST(doc_id AS STRING)), 1, 1)) - 1) * 16 + " +
              "instr('0123456789abcdef', substring(md5(CAST(doc_id AS STRING)), 2, 1)) - 1 AS h")
          .selectExpr("lang",
            "CASE WHEN h < 204 THEN 'train' WHEN h < 230 THEN 'val' ELSE 'test' END AS split")
          .groupBy("split", "lang")
          .agg(count(lit(1)).as("n"))
          .orderBy("split", "lang"),
      Some("""WITH h AS (
             |  SELECT lang,
             |    (instr('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16 +
             |    instr('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1 AS h
             |  FROM documents)
             |SELECT CASE WHEN h < 204 THEN 'train' WHEN h < 230 THEN 'val' ELSE 'test' END AS split,
             |  lang, COUNT(*) AS n
             |FROM h GROUP BY 1, 2 ORDER BY split, lang""".stripMargin)
    ),
    Q(
      "p20_leakage_safe_split",
      "LEAKAGE-SAFE train/val/test split: p13's content-stable md5-bucket " +
        "split keyed on the near-dup FAMILY label (d6's connected " +
        "components; singletons are their own family) instead of the " +
        "doc id — so near-duplicate documents can never straddle the " +
        "train/test boundary, the contamination mode a doc-level hash " +
        "split provably commits whenever a dup family's members hash to " +
        "different buckets (test-set memorization measured as " +
        "generalization). Per (split, lang): docs and distinct families. " +
        "100 TB shape: d2's candidate pipeline + CC labeling + one hash " +
        "bucket expression — the split itself adds zero shuffles beyond " +
        "the label join",
      (s, d) => {
        val pairs = verifiedNearDupPairs(s, d).localCheckpoint(eager = false)
        val labels = graft.ops.GraphOps.connectedComponents(pairs, "id_a", "id_b")
        val h =
          "(instr('0123456789abcdef', substring(md5(CAST(family AS STRING)), 1, 1)) - 1) * 16 + " +
            "instr('0123456789abcdef', substring(md5(CAST(family AS STRING)), 2, 1)) - 1"
        documents(s, d).select(col("doc_id"), col("lang"))
          .join(labels.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
          .selectExpr("lang", "coalesce(label, doc_id) AS family")
          .selectExpr("lang", "family",
            s"CASE WHEN ($h) < 204 THEN 'train' WHEN ($h) < 230 THEN 'val' ELSE 'test' END AS split")
          .groupBy("split", "lang")
          .agg(count(lit(1)).as("docs"), countDistinct("family").as("families"))
          .orderBy("split", "lang")
      },
      Some(s"""WITH RECURSIVE $nearDupCtes,
              |pairs AS (
              |  SELECT id_a, id_b FROM cands
              |  JOIN sigs a ON id_a = a.doc_id JOIN sigs b ON id_b = b.doc_id
              |  WHERE length(list_intersect(a.sh, b.sh)) * 1.0 /
              |        (length(a.sh) + length(b.sh) - length(list_intersect(a.sh, b.sh))) >= 0.8),
              |und AS (SELECT id_a AS a, id_b AS b FROM pairs UNION SELECT id_b, id_a FROM pairs),
              |reach AS (
              |  SELECT a AS src, b AS dst FROM und
              |  UNION
              |  SELECT r.src, u.b FROM reach r JOIN und u ON r.dst = u.a),
              |labels AS (
              |  SELECT src AS id, LEAST(src, MIN(dst)) AS label FROM reach GROUP BY src),
              |asn AS (
              |  SELECT d.lang, COALESCE(l.label, d.doc_id) AS family
              |  FROM documents d LEFT JOIN labels l ON d.doc_id = l.id),
              |hb AS (
              |  SELECT lang, family,
              |    (instr('0123456789abcdef', substring(md5(CAST(family AS VARCHAR)), 1, 1)) - 1) * 16 +
              |    instr('0123456789abcdef', substring(md5(CAST(family AS VARCHAR)), 2, 1)) - 1 AS h
              |  FROM asn)
              |SELECT CASE WHEN h < 204 THEN 'train' WHEN h < 230 THEN 'val' ELSE 'test' END AS split,
              |  lang, COUNT(*) AS docs, COUNT(DISTINCT family) AS families
              |FROM hb GROUP BY 1, 2 ORDER BY split, lang""".stripMargin)
    ),
    Q(
      "p14_mixture_sample",
      "Dataset mixture: fill per-source quotas (a target lang mixture) by deterministic md5-ranked sampling within each source — the weighted-interleave op that composes a training mix from heterogeneous corpora. Bounded-state selection (ScaleOps.quotaSampleByGroup): per lang the quota-th smallest md5 rank is found by a k-bounded aggregation and broadcast as a filter threshold — no per-lang total sort through one reducer. Per lang: quota-capped sample size and its token mass",
      (s, d) => {
        val quota = "CASE lang WHEN 'en' THEN 40 WHEN 'de' THEN 20 WHEN 'es' THEN 15 WHEN 'fr' THEN 15 ELSE 10 END"
        val quotas = documents(s, d).select("lang").distinct()
          .withColumn("quota", expr(quota))
        val rankKey = expr(
          "concat(md5(CAST(doc_id AS STRING)), lpad(CAST(doc_id AS STRING), 19, '0'))")
        graft.ops.ScaleOps.quotaSampleByGroup(
            documents(s, d).selectExpr("doc_id", "lang", "size(split(text, ' ')) AS ntok"),
            "lang", rankKey, quotas, maxQuota = 40)
          .groupBy("lang")
          .agg(count(lit(1)).as("sampled"), sum(col("ntok")).as("tokens"))
          .orderBy("lang")
      },
      // CAST(SUM(...) AS BIGINT): DuckDB integer SUM is HUGEINT.
      Some("""WITH r AS (
             |  SELECT lang, length(string_split(text, ' ')) AS ntok,
             |    row_number() OVER (PARTITION BY lang
             |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
             |  FROM documents)
             |SELECT lang, COUNT(*) AS sampled, CAST(SUM(ntok) AS BIGINT) AS tokens
             |FROM r
             |WHERE rn <= CASE lang WHEN 'en' THEN 40 WHEN 'de' THEN 20 WHEN 'es' THEN 15 WHEN 'fr' THEN 15 ELSE 10 END
             |GROUP BY lang ORDER BY lang""".stripMargin)
    ),
    Q(
      "p16_token_budget_mix",
      "Token-BUDGET mixture: per-lang budgets in TOKEN MASS (how real mixture specs are written), filled in deterministic md5 rank order — keep the minimal rank-prefix whose cumulative tokens reach the budget, crossing doc included (kept iff tokens-before < budget). Bounded state (ScaleOps.tokenBudgetSampleByGroup): the budget boundary key is located by iterative hex-prefix refinement (O(log) passes of per-lang bucket aggregates, the exactQuantiles discipline) and broadcast as a filter — never a per-lang running-sum window through one reducer. Per lang: docs kept, exact token mass",
      (s, d) => {
        val budget = "CASE lang WHEN 'en' THEN 3000 WHEN 'de' THEN 1500 ELSE 800 END"
        val budgets = documents(s, d).select("lang").distinct()
          .withColumn("budget", expr(budget))
        val rankKey = expr(
          "concat(md5(CAST(doc_id AS STRING)), lpad(CAST(doc_id AS STRING), 19, '0'))")
        graft.ops.ScaleOps.tokenBudgetSampleByGroup(
            documents(s, d).selectExpr("doc_id", "lang", "size(split(text, ' ')) AS ntok"),
            "lang", rankKey, "ntok", budgets)
          .groupBy("lang")
          .agg(count(lit(1)).as("kept"), sum(col("ntok")).cast("long").as("tokens"))
          .orderBy("lang")
      },
      Some("""WITH r AS (
             |  SELECT lang, ntok,
             |    SUM(ntok) OVER (PARTITION BY lang ORDER BY k
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
             |  FROM (
             |    SELECT lang, length(string_split(text, ' ')) AS ntok,
             |      md5(CAST(doc_id AS VARCHAR)) || lpad(CAST(doc_id AS VARCHAR), 19, '0') AS k
             |    FROM documents))
             |SELECT lang, COUNT(*) AS kept, CAST(SUM(ntok) AS BIGINT) AS tokens
             |FROM r
             |WHERE cum - ntok < CASE lang WHEN 'en' THEN 3000 WHEN 'de' THEN 1500 ELSE 800 END
             |GROUP BY lang ORDER BY lang""".stripMargin)
    ),
    Q(
      "p17_source_cap",
      "Per-source document capping (the web-crawl per-DOMAIN cap: no single crawl, dump, or domain may dominate the mix): cap = LEAST(source docs, 20), filled in deterministic md5 rank order within each source through the same bounded-state threshold selection as p14/p15 (quotaSampleByGroup: k-bounded BottomK -> broadcast per-source threshold -> filter) — no per-source total sort, so a monster domain costs one k-bounded buffer exactly like a small one. Per source: corpus docs, cap, kept docs, kept token mass",
      (s, d) => {
        val caps = documents(s, d).groupBy("source").agg(count(lit(1)).as("c_s"))
          .withColumn("quota", expr("CAST(LEAST(c_s, 20) AS INT)"))
        val rankKey = expr(
          "concat(md5(CAST(doc_id AS STRING)), lpad(CAST(doc_id AS STRING), 19, '0'))")
        graft.ops.ScaleOps.quotaSampleByGroup(
            documents(s, d).selectExpr("doc_id", "source", "size(split(text, ' ')) AS ntok"),
            "source", rankKey, caps.select("source", "quota"), maxQuota = 20)
          .groupBy("source")
          .agg(count(lit(1)).as("kept"), sum(col("ntok")).cast("long").as("tokens"))
          .join(broadcast(caps), Seq("source"))
          .selectExpr("source", "c_s AS docs", "CAST(quota AS BIGINT) AS cap",
            "kept", "tokens")
          .orderBy("source")
      },
      Some("""WITH c AS (SELECT source, COUNT(*) AS c_s FROM documents GROUP BY source),
             |r AS (
             |  SELECT source, length(string_split(text, ' ')) AS ntok,
             |    row_number() OVER (PARTITION BY source
             |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
             |  FROM documents)
             |SELECT r.source AS source, CAST(MAX(c_s) AS BIGINT) AS docs,
             |  CAST(MAX(LEAST(c_s, 20)) AS BIGINT) AS cap,
             |  COUNT(*) AS kept, CAST(SUM(ntok) AS BIGINT) AS tokens
             |FROM r JOIN c USING (source)
             |WHERE rn <= LEAST(c_s, 20)
             |GROUP BY r.source ORDER BY source""".stripMargin)
    ),
    Q(
      "p18_priority_sample",
      "Weighted sampling without replacement via priority sampling " +
        "(Duffield-Lund-Thorup): per doc, priority = w / u with w = n_chars " +
        "(token-mass-proportional — long docs sample in) and u a content-" +
        "stable uniform from the first 4 md5 nibbles of the text; keep the " +
        "top-8 priorities per lang. The estimator family behind subset-sum " +
        "sketches, and the deterministic weighted analog of p12: membership " +
        "is a pure function of content, so workers/re-runs agree with zero " +
        "coordination. Transcendental-free on purpose — priority is ONE " +
        "exact integer product and ONE correctly-rounded IEEE division, so " +
        "Spark and DuckDB produce bit-identical doubles (an exp/ln-based " +
        "Efraimidis-Spirakis key could drift a ulp between libms). Selection " +
        "is the k-bounded TopK Aggregator per lang — partial aggregation " +
        "ships <= 8 candidates per partition, never a per-lang sort",
      (s, d) => {
        import s.implicits._
        val h =
          "((instr('0123456789abcdef', substring(md5(text), 1, 1)) - 1) * 4096 + " +
            "(instr('0123456789abcdef', substring(md5(text), 2, 1)) - 1) * 256 + " +
            "(instr('0123456789abcdef', substring(md5(text), 3, 1)) - 1) * 16 + " +
            "instr('0123456789abcdef', substring(md5(text), 4, 1)) - 1)"
        val scored = documents(s, d)
          .selectExpr("lang", "doc_id",
            s"CAST(n_chars AS DOUBLE) * 65536.0 / (1.0 + CAST($h AS DOUBLE)) AS priority")
          .as[(String, Long, Double)]
        val topk = new graft.ext.Similarity.TopK(8).toColumn
        scored
          .groupByKey(_._1)
          .mapValues { case (_, id, p) => graft.ext.Similarity.Scored(p, id) }
          .agg(topk.name("topk"))
          .toDF("lang", "topk")
          .selectExpr("lang", "posexplode(topk) AS (pos, hit)")
          .selectExpr("lang", "CAST(pos + 1 AS BIGINT) AS rank",
            "hit.id AS doc_id", "hit.score AS priority")
          .orderBy("lang", "rank")
      },
      Some("""WITH p AS (
             |  SELECT lang, doc_id,
             |    CAST(n_chars AS DOUBLE) * 65536.0 / (1.0 + CAST(
             |      (instr('0123456789abcdef', substring(md5(text), 1, 1)) - 1) * 4096 +
             |      (instr('0123456789abcdef', substring(md5(text), 2, 1)) - 1) * 256 +
             |      (instr('0123456789abcdef', substring(md5(text), 3, 1)) - 1) * 16 +
             |      instr('0123456789abcdef', substring(md5(text), 4, 1)) - 1 AS DOUBLE)) AS priority
             |  FROM documents),
             |r AS (
             |  SELECT lang, doc_id, priority,
             |    row_number() OVER (PARTITION BY lang ORDER BY priority DESC, doc_id) AS rank
             |  FROM p)
             |SELECT lang, CAST(rank AS BIGINT) AS rank, doc_id, priority
             |FROM r WHERE rank <= 8 ORDER BY lang, rank""".stripMargin)
    ),
    Q(
      "p19_sequence_packing",
      "Sequence packing for pretraining batches (ext.Packing): documents " +
        "concatenate in deterministic doc_id order and the token stream " +
        "chunks into 2048-token context windows (concat-and-chunk, the " +
        "GPT-style recipe — 100% fill by construction, no padding waste). " +
        "Pack assignment is PURE ARITHMETIC over each doc's exclusive " +
        "running token offset: pack = start div capacity; a doc crosses a " +
        "window boundary iff its span ends in a later pack (the attention-" +
        "contamination metric). The prefix sum is " +
        "ScaleOps.globalRunningTotal — range partitioning + O(partitions) " +
        "driver offsets + partition-local window, never a corpus-global " +
        "window partition and never a sequential pass. Per-pack rollup: " +
        "docs starting in the window, token mass, boundary crossers",
      (s, d) => graft.ext.Packing.packStats(documents(s, d), 2048L),
      Some("""WITH t AS (
             |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
             |  FROM documents WHERE text IS NOT NULL),
             |o AS (
             |  SELECT doc_id, toks,
             |    CAST(COALESCE(SUM(toks) OVER (ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start
             |  FROM t),
             |a AS (
             |  SELECT doc_id, toks, start, start // 2048 AS pack_id,
             |    (toks > 0 AND (start + toks - 1) // 2048 > start // 2048) AS crosses
             |  FROM o)
             |SELECT pack_id, COUNT(*) AS docs, CAST(SUM(toks) AS BIGINT) AS tokens,
             |  CAST(SUM(CASE WHEN crosses THEN 1 ELSE 0 END) AS BIGINT) AS crossers
             |FROM a GROUP BY pack_id ORDER BY pack_id""".stripMargin)
    ),
    // -------------------------------------------------------- multimodal ops
    Q(
      "m1_multimodal_meta",
      "Opaque binary payload + typed JSON metadata plumbing: byte length + extracted metadata key, grouped. The real container parse of those payloads (RIFF/WAVE PCM, ISO-BMFF, RIFF-AVI headers in graft.ext.Multimodal) runs in m2",
      (s, d) =>
        // One from_json with an explicit schema (r1: get_json_object +
        // binary cast ran 15x slower than the other events queries).
        events(s, d)
          .selectExpr(
            "octet_length(props) AS nbytes",
            "from_json(props, 'k INT').k AS k")
          .groupBy(expr("k % 10").as("k_bucket"))
          .agg(count(lit(1)).as("n"), sum(col("nbytes")).as("total_bytes"))
          .orderBy("k_bucket"),
      Some("""SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_bucket,
             |COUNT(*) AS n, CAST(SUM(octet_length(CAST(props AS BLOB))) AS BIGINT) AS total_bytes
             |FROM events GROUP BY 1 ORDER BY k_bucket""".stripMargin)
    ),
    Q(
      "m2_frame_sample",
      "Video frame sampling as a generator transform (UDTF shape, Multimodal.sampleFrames): per-row duration -> one output row per 1.5 s frame index, zero-duration stills explode to zero rows (the sequence guard), per-lang frame counts + last frame offset. The every-Nth-frame extract step of a video training pipeline; a generator never materializes per-media frame lists driver-side. This IS the production plan: the media table routes through Multimodal.withParsedDurations (header-only RIFF/WAVE + ISO-BMFF container parse, coalesce(parsed, declared) semantics, MultimodalSpec-pinned on real WAV/MP4 bytes) before the generator — a no-op on the fixture's media-less payloads, where the declared synthetic durations survive the parse attempt, so the oracle gates the same plan a real audio/video table runs",
      (s, d) => {
        val media = graft.ext.Multimodal.asMedia(
          documents(s, d), "doc_id", "text",
          durationMs = expr("CASE WHEN doc_id % 7 = 0 THEN 0 ELSE n_chars * 40 END"))
        graft.ext.Multimodal.sampleFrames(
          graft.ext.Multimodal.withParsedDurations(media), everyMs = 1500)
          .join(
            documents(s, d).select(col("doc_id").as("media_id"), col("lang")),
            Seq("media_id"))
          .groupBy("lang")
          .agg(
            count(lit(1)).as("frames"),
            countDistinct(col("media_id")).as("sampled_docs"),
            max(col("frame_ms")).cast("long").as("last_frame_ms"))
          .orderBy("lang")
      },
      Some("""WITH m AS (
             |  SELECT doc_id, lang,
             |    CASE WHEN doc_id % 7 = 0 THEN 0 ELSE n_chars * 40 END AS dur
             |  FROM documents),
             |f AS (
             |  SELECT doc_id, lang,
             |    unnest(generate_series(0, CAST(dur - 1 AS BIGINT), 1500)) AS frame_ms
             |  FROM m WHERE dur > 0)
             |SELECT lang, COUNT(*) AS frames, COUNT(DISTINCT doc_id) AS sampled_docs,
             |  CAST(MAX(frame_ms) AS BIGINT) AS last_frame_ms
             |FROM f GROUP BY lang ORDER BY lang""".stripMargin)
    ),
    Q(
      "d17_prefix_filter_join",
      "Prefix-filtered exact similarity join (the AllPairs/PPJoin " +
        "discipline): for Jaccard >= 0.8 a pair MUST share a shingle " +
        "inside each side's first n - ceil(0.8n) + 1 shingles under a " +
        "common total order — so order every doc's shingles by global " +
        "document frequency ascending (rarest first) and post only that " +
        "~20% prefix. Candidate pairs then come from a prefix-posting " +
        "equi-join (rare shingles -> tiny buckets) and an exact " +
        "array_intersect verify keeps the result BITWISE equal to d4's " +
        "full posting join (same oracle). At 100 TB this is the knob that " +
        "beats even the inverted-join form: posting volume drops 5x and " +
        "collision pairs collapse because frequent shingles never post. " +
        "Per-doc prefix ranking is a window over one doc's shingle set — " +
        "bounded by doc length, naturally sharded",
      // The registration IS the library call: ext.Similarity.ngramJaccardPairs
      // is the production n-gram dedup entry point (this oracle row gates it),
      // with d4's full posting join kept as its exactness oracle.
      (s, d) =>
        graft.ext.Similarity
          .ngramJaccardPairs(documents(s, d), 0.8, Seq("lang", "source"),
            broadcastPairBound(s), payloadPairBound(s))
          .groupBy("lang")
          .agg(count(lit(1)).as("pairs"))
          .orderBy("lang"),
      // Bitwise d4: the prefix filter is candidate-complete at this
      // threshold and the verify join is exact, so the oracle is d4's.
      Some(s"""WITH sp AS (SELECT doc_id, lang, source, text,
              |  string_split(lower(text), ' ') AS t FROM documents),
              |d AS (SELECT doc_id, lang, source, ($shingleSql) AS sh FROM sp)
              |SELECT a.lang AS lang, COUNT(*) AS pairs FROM d a
              |JOIN d b ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
              |WHERE length(list_intersect(a.sh, b.sh)) * 1.0 /
              |      (length(a.sh) + length(b.sh) - length(list_intersect(a.sh, b.sh))) >= 0.8
              |GROUP BY a.lang ORDER BY lang""".stripMargin)
    ),
    Q(
      "t18_index_term_lookup",
      "Inverted-index term lookup: the serving-side query a search index " +
        "answers — for the corpus's 5 highest-df terms, the top-3 " +
        "documents by term frequency. Postings are (term, doc_id, tf) " +
        "partial aggregates; term selection is a TakeOrderedAndProject " +
        "heap (never a global sort) and the per-term ranking runs through " +
        "the k-bounded TopK aggregator (t12's discipline — at most k " +
        "rows per term per partition cross the exchange, no posting-list " +
        "window)",
      (s, d) => {
        val tf = documents(s, d)
          .selectExpr("doc_id", "explode(split(lower(text), ' ')) AS term")
          .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
        val topTerms = tf.groupBy("term").agg(count(lit(1)).as("df"))
          .orderBy(desc("df"), col("term")).limit(5)
        val hits = tf.join(broadcast(topTerms), Seq("term"))
        graft.ext.Similarity
          .topKByTerm(hits.selectExpr("term AS key", "doc_id AS id", "CAST(tf AS DOUBLE) AS score"), 3)
          .join(broadcast(topTerms), col("key") === col("term"))
          .selectExpr("term", "df", "rank", "id AS doc_id", "CAST(score AS BIGINT) AS tf")
          .orderBy("term", "rank")
      },
      Some("""WITH toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents),
             |tf AS (SELECT term, doc_id, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
             |tt AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1 ORDER BY df DESC, term LIMIT 5),
             |h AS (SELECT tf.term AS term, df, doc_id, tf,
             |    row_number() OVER (PARTITION BY tf.term ORDER BY tf DESC, doc_id) AS rank
             |  FROM tf JOIN tt ON tf.term = tt.term)
             |SELECT term, CAST(df AS BIGINT) AS df, CAST(rank AS BIGINT) AS rank, doc_id,
             |  CAST(tf AS BIGINT) AS tf
             |FROM h WHERE rank <= 3 ORDER BY term, rank""".stripMargin)
    ),
    Q(
      "a23_ols_by_group",
      "Grouped ordinary-least-squares fit: per lang, slope/intercept of " +
        "whitespace-token count regressed on n_chars — the " +
        "chars-per-token calibration a tokenizer-budget planner runs per " +
        "language. Both coefficients are ratios of EXACT integer " +
        "co-moments (x and y are integers; sums accumulate in " +
        "DECIMAL(38,0) / HUGEINT — addition-order-independent), with ONE " +
        "final double division per coefficient, identical IEEE on both " +
        "engines (a12's discipline; round(9) guards the conversion ulp " +
        "at SFs where the co-moments pass 2^53). One scan, one " +
        "partial-aggregating groupBy — state is 5 sums per lang",
      (s, d) => {
        val dec = org.apache.spark.sql.types.DecimalType(38, 0)
        documents(s, d)
          .selectExpr("lang", "n_chars AS x", "size(split(text, ' ')) AS y")
          .groupBy("lang")
          .agg(
            count(lit(1)).as("n"),
            sum(col("x").cast(dec)).as("sx"),
            sum(col("y").cast(dec)).as("sy"),
            sum((col("x") * col("x")).cast(dec)).as("sxx"),
            sum((col("x") * col("y")).cast(dec)).as("sxy"))
          .selectExpr("lang", "n",
            "round(CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE), 9) AS slope",
            "round(CAST(sy * sxx - sx * sxy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE), 9) AS intercept")
          .orderBy("lang")
      },
      Some("""WITH b AS (SELECT lang, n_chars AS x, len(string_split(text, ' ')) AS y FROM documents),
             |a AS (SELECT lang, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
             |        SUM(x * x) AS sxx, SUM(x * y) AS sxy
             |      FROM b GROUP BY 1)
             |SELECT lang, n,
             |  round(CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE), 9) AS slope,
             |  round(CAST(sy * sxx - sx * sxy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE), 9) AS intercept
             |FROM a ORDER BY lang""".stripMargin)
    ),
    Q(
      "a24_weighted_median",
      "Token-weighted median document length per lang — each document " +
        "counts by its token mass, not once (the size statistic that " +
        "matters when the unit of training is the token): the smallest " +
        "n_chars v with 2 * tokens(docs <= v) >= total tokens, via " +
        "ScaleOps.weightedMedianByGroup's histogram-refinement descent " +
        "(buckets sum WEIGHTS, O(bins) executor state, integer crossing " +
        "test — no q*W float threshold anywhere, so both engines agree " +
        "bitwise at any scale)",
      (s, d) => {
        val med = graft.ops.ScaleOps.weightedMedianByGroup(
          documents(s, d).selectExpr("lang", "n_chars", "size(split(text, ' ')) AS w"),
          "lang", "n_chars", "w")
        s.createDataFrame(med.toSeq.sortBy(_._1))
          .toDF("lang", "wmed_chars")
          .orderBy("lang")
      },
      Some("""WITH c AS (SELECT lang, CAST(n_chars AS DOUBLE) AS v,
             |    len(string_split(text, ' ')) AS w FROM documents),
             |s AS (SELECT lang, v, SUM(w) OVER (PARTITION BY lang ORDER BY v) AS cum,
             |      SUM(w) OVER (PARTITION BY lang) AS tot FROM c)
             |SELECT lang, MIN(v) AS wmed_chars FROM s WHERE 2 * cum >= tot
             |GROUP BY lang ORDER BY lang""".stripMargin)
    ),
    Q(
      "n12_rrf_fusion",
      "Hybrid-retrieval rank fusion (RRF): cosine ANN (n1's exact plan) " +
        "and unnormalized MIPS (n10's) each rank a top-20 pool per query; " +
        "reciprocal-rank fusion scores 1/(60+rank) sum across the lists " +
        "(items in one list keep their single term) and the fused top-5 " +
        "re-ranks through the k-bounded TopK aggregator. The modern " +
        "serving-side combiner for lexical+dense search, expressed as two " +
        "rankings + one full-outer equi-join on (qid, id) — integer ranks, " +
        "two identical IEEE divisions and one addition per item, ties by " +
        "id: bitwise on both engines",
      (s, d) => {
        val prepared = graft.ext.Similarity.prepare(embeddings(s, d), "vec_id", "embedding")
        val qs = prepared.where(col("id") < 10)
        val cosR = graft.ext.Similarity.bruteForceTopK(prepared, qs, k = 20)
          .select(col("qid"), col("id"), col("rank").as("rc"))
        val q2 = qs.select(col("id").as("qid"), col("v").as("qv"))
        val ipR = graft.ext.Similarity.topKByQuery(
          prepared.join(broadcast(q2), expr("id <> qid"))
            .selectExpr("qid", "id", "array_dot(qv, v) AS score"), 20)
          .select(col("qid"), col("id"), col("rank").as("ri"))
        val fused = cosR.join(ipR, Seq("qid", "id"), "full_outer")
          .withColumn("rrf",
            coalesce(lit(1.0) / (lit(60) + col("rc")), lit(0.0)) +
              coalesce(lit(1.0) / (lit(60) + col("ri")), lit(0.0)))
        graft.ext.Similarity.topKByQuery(
          fused.selectExpr("qid", "id", "rrf AS score"), 5)
          .selectExpr("qid", "rank", "id AS vec_id", "score AS rrf")
          .orderBy("qid", "rank")
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             |  sqrt(list_reduce(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x), (acc, x) -> acc + x)) AS nrm
             |  FROM embeddings),
             |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qnrm FROM e WHERE vec_id < 10),
             |cos AS (
             |  SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY
             |      list_reduce(list_transform(list_zip(qv, v), p -> p[1] * p[2]), (acc, x) -> acc + x) / (qnrm * nrm) DESC,
             |      vec_id) AS rc
             |  FROM e JOIN q ON vec_id <> qid),
             |ip AS (
             |  SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY
             |      list_reduce(list_transform(list_zip(qv, v), p -> p[1] * p[2]), (acc, x) -> acc + x) DESC,
             |      vec_id) AS ri
             |  FROM e JOIN q ON vec_id <> qid),
             |f AS (
             |  SELECT COALESCE(cos.qid, ip.qid) AS qid, COALESCE(cos.vec_id, ip.vec_id) AS vec_id,
             |    COALESCE(CAST(1.0 AS DOUBLE) / (60 + rc), 0) + COALESCE(CAST(1.0 AS DOUBLE) / (60 + ri), 0) AS rrf
             |  FROM (SELECT * FROM cos WHERE rc <= 20) cos
             |  FULL OUTER JOIN (SELECT * FROM ip WHERE ri <= 20) ip
             |    ON cos.qid = ip.qid AND cos.vec_id = ip.vec_id),
             |r AS (SELECT qid, vec_id, rrf,
             |    row_number() OVER (PARTITION BY qid ORDER BY rrf DESC, vec_id) AS rank FROM f)
             |SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id, rrf
             |FROM r WHERE rank <= 5 ORDER BY qid, rank""".stripMargin)
    ),
    Q(
      "e7_centroid_similarity",
      "Class-prototype similarity audit: pairwise cosine between per-label " +
        "centroid embeddings (leading 8 dims) — the confusability matrix a " +
        "curator reads before trusting labels as dedup blocks or " +
        "classifier targets. Cosine is scale-invariant, so centroids never " +
        "need the division: cos(mean_a, mean_b) = cos(sum_a, sum_b), and " +
        "the per-(label, dim) SUM vectors are exact integers (e3's " +
        "floor(x*1e4) quantization, DECIMAL accumulation). One scan -> " +
        "per-label 8-integer state; the pairwise stage is labels x labels " +
        "over a 10-row aggregate (broadcast, trivially bounded); the only " +
        "floating point is one sqrt+division over exact sums, identical " +
        "IEEE both engines, round(9)",
      (s, d) => {
        val q = embeddings(s, d)
          .selectExpr("label",
            "posexplode(transform(slice(embedding, 1, 8), x -> CAST(FLOOR(CAST(x AS DOUBLE) * 10000.0) AS BIGINT)))")
          .selectExpr("label", "pos AS dim", "CAST(col AS DECIMAL(38, 0)) AS qc")
          .groupBy("label", "dim").agg(sum("qc").as("sd"))
          .localCheckpoint(eager = false) // 80 rows: feeds pairs + norms
        val nrm = q.groupBy("label")
          .agg(sum(col("sd") * col("sd")).as("ssq"))
        q.as("a")
          .join(q.as("b"), col("a.dim") === col("b.dim") && col("a.label") < col("b.label"))
          .groupBy(col("a.label").as("label_a"), col("b.label").as("label_b"))
          .agg(sum(col("a.sd") * col("b.sd")).as("dot"))
          .join(broadcast(nrm.selectExpr("label AS label_a", "ssq AS na")), Seq("label_a"))
          .join(broadcast(nrm.selectExpr("label AS label_b", "ssq AS nb")), Seq("label_b"))
          .selectExpr("label_a", "label_b",
            "round(CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))), 9) AS cos")
          .orderBy("label_a", "label_b")
      },
      Some("""WITH e AS (
             |  SELECT label, list_transform(CAST(embedding AS DOUBLE[])[1:8],
             |    x -> CAST(FLOOR(x * 10000.0) AS BIGINT)) AS qv
             |  FROM embeddings),
             |s AS (SELECT label, g.d AS dim, SUM(qv[g.d + 1]) AS sd
             |      FROM e, generate_series(0, 7) g(d) GROUP BY 1, 2),
             |n AS (SELECT label, SUM(sd * sd) AS ssq FROM s GROUP BY 1),
             |p AS (SELECT a.label AS label_a, b.label AS label_b, SUM(a.sd * b.sd) AS dot
             |      FROM s a JOIN s b ON a.dim = b.dim AND a.label < b.label GROUP BY 1, 2)
             |SELECT label_a, label_b,
             |  round(CAST(dot AS DOUBLE) / (sqrt(CAST(na.ssq AS DOUBLE)) * sqrt(CAST(nb.ssq AS DOUBLE))), 9) AS cos
             |FROM p JOIN n na ON p.label_a = na.label JOIN n nb ON p.label_b = nb.label
             |ORDER BY label_a, label_b""".stripMargin)
    ),
    Q(
      "o9_dense_rank_ties",
      "Ranking WITH ties (rank vs dense_rank coverage): top quantity " +
        "values per linestatus where ties share a rank — computed over the " +
        "VALUE-COUNT aggregate, not the raw rows (l_quantity has ~50 " +
        "distinct values: the window input is the bounded distinct domain, " +
        "so the per-group sort state is 50 rows regardless of corpus " +
        "size — rank functions over raw 100 TB rows would be w14's " +
        "range-partition job instead). dense_rank by count desc with " +
        "value-asc tiebreak in BOTH engines makes every rank " +
        "deterministic; keep dense ranks 1..3 (ties can return > 3 rows)",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val vc = lineitem(s, d)
          .groupBy("l_linestatus", "l_quantity").agg(count(lit(1)).as("cnt"))
        val w = Window.partitionBy("l_linestatus").orderBy(desc("cnt"), col("l_quantity"))
        vc
          .withColumn("rnk", rank().over(w).cast("long"))
          .withColumn("drnk", dense_rank().over(w).cast("long"))
          .where(col("drnk") <= 3)
          .select("l_linestatus", "drnk", "rnk", "l_quantity", "cnt")
          .orderBy("l_linestatus", "drnk", "l_quantity")
      },
      Some("""WITH vc AS (SELECT l_linestatus, l_quantity, COUNT(*) AS cnt
             |  FROM lineitem GROUP BY 1, 2),
             |r AS (SELECT l_linestatus, l_quantity, cnt,
             |    rank() OVER w AS rnk, dense_rank() OVER w AS drnk
             |  FROM vc WINDOW w AS (PARTITION BY l_linestatus ORDER BY cnt DESC, l_quantity))
             |SELECT l_linestatus, CAST(drnk AS BIGINT) AS drnk, CAST(rnk AS BIGINT) AS rnk,
             |  l_quantity, cnt
             |FROM r WHERE drnk <= 3 ORDER BY l_linestatus, drnk, l_quantity""".stripMargin)
    ),
    Q(
      "t19_collocations",
      "Collocation (phrase) mining by lift: adjacent-token bigrams with " +
        "support >= 5 ranked by P(ab)/(P(a)P(b)) — PMI's argument without " +
        "the log, so the score is ONE arithmetic expression over exact " +
        "integer counts (n_ab, n_a, n_b, token total N, bigram total B), " +
        "evaluated by the identical left-to-right IEEE sequence on both " +
        "engines, round(6). The phrase-detection pass a tokenizer-" +
        "vocabulary builder runs before merging multi-word units. Bigrams " +
        "explode scan-side (a generator over the token array — no " +
        "shuffle), counts partial-aggregate, the two unigram joins hit a " +
        "vocabulary-sized table, top-20 is a TakeOrderedAndProject heap",
      (s, d) => {
        val toks = documents(s, d)
          .selectExpr("split(lower(text), ' ') AS t")
          .localCheckpoint(eager = false) // feeds bigrams + unigrams + totals
        // guard: sequence(1, 0) is DESCENDING in Spark ([1, 0] -> element_at
        // index 0 throws under ANSI), so a single-token doc must emit an
        // empty bigram array, matching DuckDB's empty generate_series(1, 0)
        val bg = toks.selectExpr(
          "explode(CASE WHEN size(t) >= 2 THEN transform(sequence(1, size(t) - 1), i -> struct(element_at(t, i) AS w1, element_at(t, i + 1) AS w2)) ELSE array() END) AS z")
          .selectExpr("z.w1 AS w1", "z.w2 AS w2")
          .groupBy("w1", "w2").agg(count(lit(1)).as("n_ab"))
          .where(col("n_ab") >= 5)
        val uni = toks.selectExpr("explode(t) AS w")
          .groupBy("w").agg(count(lit(1)).as("n_w"))
          .localCheckpoint(eager = false)
        val totals = toks
          .agg(sum(expr("size(t)")).as("N"), sum(expr("size(t) - 1")).as("B"))
        bg
          .join(uni.selectExpr("w AS w1", "n_w AS n_a"), Seq("w1"))
          .join(uni.selectExpr("w AS w2", "n_w AS n_b"), Seq("w2"))
          .join(broadcast(totals))
          .selectExpr("w1", "w2", "n_ab",
            "round(CAST(n_ab AS DOUBLE) * N * N / (CAST(B AS DOUBLE) * n_a * n_b), 6) AS lift")
          .orderBy(desc("lift"), col("w1"), col("w2"))
          .limit(20)
      },
      Some("""WITH tk AS (SELECT string_split(lower(text), ' ') AS t FROM documents),
             |bg AS (SELECT t[i] AS w1, t[i + 1] AS w2
             |       FROM tk, LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i) s),
             |bc AS (SELECT w1, w2, COUNT(*) AS n_ab FROM bg GROUP BY 1, 2 HAVING COUNT(*) >= 5),
             |uni AS (SELECT u.w AS w, COUNT(*) AS n_w
             |        FROM (SELECT unnest(t) AS w FROM tk) u GROUP BY 1),
             |tot AS (SELECT CAST(SUM(len(t)) AS BIGINT) AS N, CAST(SUM(len(t) - 1) AS BIGINT) AS B FROM tk)
             |SELECT w1, w2, n_ab,
             |  round(CAST(n_ab AS DOUBLE) * N * N / (CAST(B AS DOUBLE) * na.n_w * nb.n_w), 6) AS lift
             |FROM bc JOIN uni na ON bc.w1 = na.w JOIN uni nb ON bc.w2 = nb.w CROSS JOIN tot
             |ORDER BY lift DESC, w1, w2 LIMIT 20""".stripMargin)
    ),
    Q(
      "t20_lm_perplexity",
      "CCNet-style n-gram LM perplexity quality filter (Wenzek et al. " +
        "2020, beside the Gopher funnel t13): train a bigram stupid-" +
        "backoff LM on a reference slice (doc_id % 10 = 0), score every " +
        "held-out document, cut into per-language head/middle/tail " +
        "tranches. The whole scoring path is EXACT INTEGER 'bits' — each " +
        "token's surprisal quantized to whole log2 bits via integer bit-" +
        "length (length(bin(count))), so document scores are order-" +
        "independent BIGINT sums and the oracle is bitwise (LangModel " +
        "scaladoc derives the rule). The model is two count TABLES " +
        "(never driver state); scoring is a posexplode + two merge-" +
        "hinted left joins; the per-lang tranche cut is ntile arithmetic " +
        "over groupedGlobalRowNumber — the w14 distributed-ranking " +
        "discipline, so no language's documents ever sort in one task",
      (s, d) => {
        val sp = documents(s, d)
          .selectExpr("doc_id", "lang", graft.ext.MinHash.splitExpr)
          .localCheckpoint(eager = false) // feeds train + held-out scoring
        val m = graft.ext.LangModel.train(
          sp.where(col("doc_id") % 10 === 0).select("t"))
        val dd = graft.ext.LangModel
          .scoreDocs(sp.where(col("doc_id") % 10 =!= 0), m, Seq("doc_id", "lang"))
          .withColumn("bpt", expr("CAST(bits AS DOUBLE) / n_tokens"))
        graft.ops.ScaleOps.groupedGlobalRowNumber(
            dd, Seq("lang"), Seq("bpt", "doc_id"), countCol = Some("nd"))
          .withColumn("tile", expr(
            """CASE WHEN rn <= (nd DIV 3 + 1) * (nd % 3)
              |     THEN (rn - 1) DIV (nd DIV 3 + 1) + 1
              |     ELSE nd % 3 + (rn - (nd DIV 3 + 1) * (nd % 3) - 1) DIV (nd DIV 3) + 1
              |END""".stripMargin))
          .withColumn("tranche",
            expr("CASE tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END"))
          .groupBy("lang", "tranche")
          .agg(count(lit(1)).as("docs"),
            sum("bits").cast("long").as("total_bits"),
            sum("n_tokens").cast("long").as("total_tokens"),
            expr("round(CAST(SUM(bits) AS DOUBLE) / SUM(n_tokens), 9)")
              .as("bits_per_token"))
          .orderBy("lang", "tranche")
      },
      Some("""WITH sp AS (SELECT doc_id, lang, string_split(lower(text), ' ') AS t FROM documents),
             |tr AS (SELECT t FROM sp WHERE doc_id % 10 = 0),
             |uni AS (SELECT u.w AS w, COUNT(*) AS cw
             |        FROM (SELECT unnest(t) AS w FROM tr) u GROUP BY 1),
             |tot AS (SELECT CAST(SUM(cw) AS BIGINT) AS tt FROM uni),
             |trb AS (SELECT t[i] AS c1, t[i + 1] AS w2
             |        FROM tr, LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i) s),
             |big AS (SELECT c1, w2, COUNT(*) AS cb FROM trb GROUP BY 1, 2),
             |bigc AS (SELECT b.c1, b.w2, b.cb, u.cw AS cc FROM big b JOIN uni u ON u.w = b.c1),
             |he AS (SELECT doc_id, lang, t FROM sp WHERE doc_id % 10 <> 0),
             |po AS (SELECT doc_id, lang, i, t[i] AS w,
             |         CASE WHEN i > 1 THEN t[i - 1] END AS c
             |       FROM he, LATERAL (SELECT unnest(generate_series(1, len(t))) AS i) s),
             |sc AS (SELECT p.doc_id, p.lang,
             |  CASE WHEN p.i = 1 THEN
             |         CASE WHEN u.cw IS NOT NULL THEN length(bin(tt)) - length(bin(u.cw))
             |              ELSE length(bin(tt)) + 8 END
             |       WHEN b.cb IS NOT NULL THEN length(bin(b.cc)) - length(bin(b.cb))
             |       WHEN u.cw IS NOT NULL THEN 2 + length(bin(tt)) - length(bin(u.cw))
             |       ELSE 2 + length(bin(tt)) + 8 END AS s
             |  FROM po p
             |  LEFT JOIN bigc b ON b.c1 = p.c AND b.w2 = p.w
             |  LEFT JOIN uni u ON u.w = p.w
             |  CROSS JOIN tot),
             |dd AS (SELECT doc_id, lang, COUNT(*) AS n, CAST(SUM(s) AS BIGINT) AS sb
             |       FROM sc GROUP BY 1, 2),
             |rk AS (SELECT lang, n, sb, ntile(3) OVER
             |         (PARTITION BY lang ORDER BY CAST(sb AS DOUBLE) / n, doc_id) AS tile
             |       FROM dd)
             |SELECT lang,
             |  CASE tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS tranche,
             |  COUNT(*) AS docs,
             |  CAST(SUM(sb) AS BIGINT) AS total_bits,
             |  CAST(SUM(n) AS BIGINT) AS total_tokens,
             |  round(CAST(SUM(sb) AS DOUBLE) / CAST(SUM(n) AS BIGINT), 9) AS bits_per_token
             |FROM rk GROUP BY 1, 2 ORDER BY lang, tranche""".stripMargin)
    ),
    Q(
      "t21_dsir_select",
      "DSIR-style data selection with importance resampling (Xie et al. " +
        "2023) — the domain-selection step beside the quality lanes (t13 " +
        "asks 'is it good', t20 'is it fluent', t21 'is it ON-" +
        "DISTRIBUTION'): hash every document's unigram+bigram bag into " +
        "256 md5 buckets, train target (en reference sample, doc_id % 5 " +
        "= 0) vs raw-pool bucket distributions, weight each pool doc by " +
        "the exact-integer-bit log-likelihood ratio sum (add-one " +
        "smoothing; length(bin(c)) bit-length — bitwise in both " +
        "engines), keep the global top quarter by weight per feature. " +
        "The model is a 256-int LUT + scalar bias inlined into the " +
        "scoring scan (O(buckets) driver state, ZERO scoring joins — " +
        "DSIR's hashing is exactly what makes the model scan-side at " +
        "100 TB where t20's count TABLES must join); the global cut " +
        "rides groupedGlobalRowNumber so no single task sorts the " +
        "corpus. Accounting per (lang, bucket): the en-heavy 'selected' " +
        "quarter demonstrates the selector recovers the target domain",
      (s, d) => {
        val sp = documents(s, d)
          .selectExpr("doc_id", "lang", graft.ext.MinHash.splitExpr)
          .localCheckpoint(eager = false) // target, pool-train, scoring share it
        val isTarget = col("lang") === "en" && col("doc_id") % 5 === 0
        val m = graft.ext.Dsir.train(
          sp.where(isTarget).select("t"), sp.where(!isTarget).select("t"))
        val dd = graft.ext.Dsir.score(sp.where(!isTarget), m, Seq("doc_id", "lang"))
          .withColumn("negw", -(col("w_bits").cast("double") / col("n_feats")))
          .withColumn("g", lit(0))
        graft.ops.ScaleOps.groupedGlobalRowNumber(
            dd, Seq("g"), Seq("negw", "doc_id"), countCol = Some("nd"))
          .selectExpr("lang",
            "CASE WHEN rn * 4 <= nd THEN 'selected' ELSE 'rest' END AS bucket",
            "n_feats", "w_bits")
          .groupBy("lang", "bucket")
          .agg(count(lit(1)).as("docs"),
            sum("n_feats").cast("long").as("feats"),
            sum("w_bits").cast("long").as("total_w_bits"),
            expr("round(CAST(SUM(w_bits) AS DOUBLE) / SUM(n_feats), 9)")
              .as("w_bits_per_feat"))
          .orderBy("lang", "bucket")
      },
      Some("""WITH sp AS (SELECT doc_id, lang, string_split(lower(text), ' ') AS t FROM documents),
             |tgt AS (SELECT t FROM sp WHERE lang = 'en' AND doc_id % 5 = 0),
             |pool AS (SELECT doc_id, lang, t FROM sp WHERE NOT (lang = 'en' AND doc_id % 5 = 0)),
             |tfe AS (SELECT unnest(t) AS f FROM tgt
             |        UNION ALL
             |        SELECT t[i] || ' ' || t[i + 1]
             |        FROM tgt, LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i) s),
             |tb AS (SELECT (instr('0123456789abcdef', substring(md5(f), 1, 1)) - 1) * 16 +
             |         instr('0123456789abcdef', substring(md5(f), 2, 1)) - 1 AS b, COUNT(*) AS c
             |       FROM tfe GROUP BY 1),
             |pfe AS (SELECT doc_id, lang, unnest(t) AS f FROM pool
             |        UNION ALL
             |        SELECT doc_id, lang, t[i] || ' ' || t[i + 1]
             |        FROM pool, LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i) s),
             |pb AS (SELECT doc_id, lang,
             |         (instr('0123456789abcdef', substring(md5(f), 1, 1)) - 1) * 16 +
             |         instr('0123456789abcdef', substring(md5(f), 2, 1)) - 1 AS b
             |       FROM pfe),
             |rb AS (SELECT b, COUNT(*) AS c FROM pb GROUP BY 1),
             |tot AS (SELECT length(bin(CAST((SELECT SUM(c) FROM rb) AS BIGINT) + 1)) -
             |               length(bin(CAST((SELECT SUM(c) FROM tb) AS BIGINT) + 1)) AS bias),
             |sc AS (SELECT p.doc_id, p.lang,
             |         length(bin(COALESCE(t.c, 0) + 1)) - length(bin(COALESCE(r.c, 0) + 1)) + tot.bias AS s
             |       FROM pb p LEFT JOIN tb t ON t.b = p.b LEFT JOIN rb r ON r.b = p.b CROSS JOIN tot),
             |dd AS (SELECT doc_id, lang, COUNT(*) AS nf, CAST(SUM(s) AS BIGINT) AS w
             |       FROM sc GROUP BY 1, 2),
             |rk AS (SELECT lang, nf, w,
             |         row_number() OVER (ORDER BY -(CAST(w AS DOUBLE) / nf), doc_id) AS rn,
             |         COUNT(*) OVER () AS nd
             |       FROM dd)
             |SELECT lang, CASE WHEN rn * 4 <= nd THEN 'selected' ELSE 'rest' END AS bucket,
             |  COUNT(*) AS docs, CAST(SUM(nf) AS BIGINT) AS feats,
             |  CAST(SUM(w) AS BIGINT) AS total_w_bits,
             |  round(CAST(SUM(w) AS DOUBLE) / CAST(SUM(nf) AS BIGINT), 9) AS w_bits_per_feat
             |FROM rk GROUP BY 1, 2 ORDER BY lang, bucket""".stripMargin)
    ),
    Q(
      "e8_embedding_audit",
      "Embedding-table health audit: per label — vector count, dimension " +
        "consistency (a ragged table breaks every downstream kernel), " +
        "zero/degenerate-norm vectors, and the norm range. The pre-flight " +
        "check an ANN/dedup deployment runs before trusting a new " +
        "embedding dump. One scan; norms are array_dot's fixed-order fold " +
        "(bitwise both engines, as the whole n-family relies on), " +
        "round(6) on the two reported extremes",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        embeddings(s, d)
          .selectExpr("label", "CAST(size(embedding) AS BIGINT) AS dim",
            "sqrt(array_dot(cast(embedding AS array<double>), cast(embedding AS array<double>))) AS nrm")
          .groupBy("label")
          .agg(
            count(lit(1)).as("n"),
            countDistinct("dim").as("n_dims"),
            min("dim").as("dim"),
            sum(when(col("nrm") === 0.0, 1).otherwise(0)).cast("long").as("zero_vectors"),
            sum(when(col("nrm") < 0.5, 1).otherwise(0)).cast("long").as("degenerate"),
            round(min("nrm"), 6).as("min_nrm"),
            round(max("nrm"), 6).as("max_nrm"))
          .orderBy("label")
      },
      Some("""WITH e AS (SELECT label, len(embedding) AS dim,
             |    sqrt(list_reduce(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x), (acc, x) -> acc + x)) AS nrm
             |  FROM embeddings)
             |SELECT label, COUNT(*) AS n, COUNT(DISTINCT dim) AS n_dims, MIN(dim) AS dim,
             |  CAST(SUM(CASE WHEN nrm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS zero_vectors,
             |  CAST(SUM(CASE WHEN nrm < 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS degenerate,
             |  round(MIN(nrm), 6) AS min_nrm, round(MAX(nrm), 6) AS max_nrm
             |FROM e GROUP BY label ORDER BY label""".stripMargin)
    ),
    Q(
      "e10_kmeans_lloyd",
      "Distributed Lloyd k-means over the embedding table " +
        "(ext/Clustering.lloydInt) — the per-corpus clustering pass d9's " +
        "SemDeDup cells and n3's IVF coarse quantizer stand in for with " +
        "fixed centroids: k=4 seeded from vec_id<4, TWO Lloyd rounds, " +
        "then the final assignment. Exactness: vectors quantize once to " +
        "floor(x*1e4) BIGINTs, distances are exact integer " +
        "sum-of-squared-diffs folds with centroids inlined as literals " +
        "(scan-side codegen, no window/join in assignment), centroid " +
        "updates are exact (cell, dim) BIGINT sums divided on the driver " +
        "with TRUNCATING integer division (DuckDB `//` and Spark `div` " +
        "both truncate toward zero — floorDiv would diverge on negative " +
        "sums; k x dim bounded state — the shape every production " +
        "k-means uses), empty cells keep their " +
        "centroid, ties go to the lowest cell. The oracle replays both " +
        "rounds as CTEs; per cell: size, exact integer inertia, and the " +
        "centroid's L1 mass as the centroid fingerprint",
      (s, d) => {
        val q = embeddings(s, d).selectExpr("vec_id",
          "transform(CAST(embedding AS array<double>), x -> CAST(floor(x * 10000) AS BIGINT)) AS q")
          .localCheckpoint(eager = false) // feeds init + every Lloyd pass
        val init = q.where(col("vec_id") < 4).orderBy("vec_id")
          .collect().map(_.getAs[scala.collection.Seq[Long]]("q").toArray)
        val (cents, assigned) = graft.ext.Clustering.lloydInt(q, "q", init, iters = 2)
        assigned.groupBy(col("cell").cast("long").as("cell"))
          .agg(count(lit(1)).as("n_vectors"), sum("dist").cast("long").as("inertia"))
          .withColumn("centroid_l1", expr(
            s"element_at(array(${cents.map(_.map(math.abs).sum).mkString("L, ")}L), " +
              "CAST(cell AS INT) + 1)"))
          .orderBy("cell")
      },
      Some {
        def distCte(name: String, cTab: String) =
          s"""$name AS (SELECT v.vec_id, v.q, c.cell,
             |  list_reduce(list_transform(list_zip(v.q, c.c), p -> (p[1] - p[2]) * (p[1] - p[2])), (a, x) -> a + x) AS dist
             |  FROM v, $cTab c)""".stripMargin
        def pick(name: String, dTab: String) =
          s"""$name AS (SELECT vec_id, q, cell, dist FROM
             |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn FROM $dTab)
             |  WHERE rn = 1)""".stripMargin
        def update(uName: String, cNew: String, aTab: String, cPrev: String) =
          s"""$uName AS (SELECT cell, i, CAST(SUM(q[i]) // COUNT(*) AS BIGINT) AS cd
             |  FROM (SELECT cell, q, unnest(generate_series(1, len(q))) AS i FROM $aTab)
             |  GROUP BY cell, i),
             |$cNew AS (SELECT $cPrev.cell AS cell, COALESCE(u.c, $cPrev.c) AS c
             |  FROM $cPrev LEFT JOIN (SELECT cell, list(cd ORDER BY i) AS c FROM $uName GROUP BY cell) u USING (cell))""".stripMargin
        s"""WITH v AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]), x -> CAST(floor(x * 10000) AS BIGINT)) AS q FROM embeddings),
           |c0 AS (SELECT vec_id AS cell, q AS c FROM v WHERE vec_id < 4),
           |${distCte("d1", "c0")},
           |${pick("a1", "d1")},
           |${update("u1", "c1", "a1", "c0")},
           |${distCte("d2", "c1")},
           |${pick("a2", "d2")},
           |${update("u2", "c2", "a2", "c1")},
           |${distCte("d3", "c2")},
           |${pick("a3", "d3")},
           |l1 AS (SELECT cell, CAST(list_reduce(list_transform(c, x -> abs(x)), (a, x) -> a + x) AS BIGINT) AS centroid_l1 FROM c2)
           |SELECT a3.cell AS cell, COUNT(*) AS n_vectors, CAST(SUM(a3.dist) AS BIGINT) AS inertia,
           |  MIN(l1.centroid_l1) AS centroid_l1
           |FROM a3 JOIN l1 USING (cell)
           |GROUP BY a3.cell ORDER BY cell""".stripMargin
      }
    ),
    Q(
      "n13_filtered_ann",
      "Filtered vector search (the vector-DB serving primitive: nearest " +
        "neighbors SATISFYING a metadata predicate — here same-label): the " +
        "label constraint applies INSIDE the candidate join, before any " +
        "scoring or ranking state, so the k-bounded TopK re-rank only ever " +
        "sees admissible vectors (post-filtering a plain top-k instead " +
        "under-fills results whenever the filter is selective — the " +
        "classic filtered-ANN bug). Broadcast queries x one corpus scan; " +
        "at 100 TB the same predicate pushes into an IVF probe's cell " +
        "scan (partition pruning), this exact plan is its re-rank tail",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val e = embeddings(s, d)
          .selectExpr("vec_id", "label", "cast(embedding AS array<double>) AS v")
          .selectExpr("vec_id", "label", "v", "sqrt(array_dot(v, v)) AS nrm")
        val q = e.where(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("label").as("qlabel"),
            col("v").as("qv"), col("nrm").as("qnrm"))
        val scored = e.join(broadcast(q),
          expr("vec_id <> qid AND label = qlabel"))
          .selectExpr("qid", "vec_id AS id", "array_dot(qv, v) / (qnrm * nrm) AS score")
        graft.ext.Similarity.topKByQuery(scored, 3)
          .selectExpr("qid", "rank", "id AS vec_id", "score AS cos")
          .orderBy("qid", "rank")
      },
      Some("""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
             |  sqrt(list_reduce(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x), (acc, x) -> acc + x)) AS nrm
             |  FROM embeddings),
             |q AS (SELECT vec_id AS qid, label AS qlabel, v AS qv, nrm AS qnrm FROM e WHERE vec_id < 10),
             |scored AS (
             |  SELECT qid, vec_id,
             |    list_reduce(list_transform(list_zip(qv, v), p -> p[1] * p[2]), (acc, x) -> acc + x) / (qnrm * nrm) AS cos,
             |    row_number() OVER (PARTITION BY qid ORDER BY
             |      list_reduce(list_transform(list_zip(qv, v), p -> p[1] * p[2]), (acc, x) -> acc + x) / (qnrm * nrm) DESC,
             |      vec_id) AS rank
             |  FROM e JOIN q ON vec_id <> qid AND label = qlabel)
             |SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id, cos
             |FROM scored WHERE rank <= 3 ORDER BY qid, rank""".stripMargin)
    ),
    Q(
      "n14_knn_classify",
      "k-NN classification (weak labeling / label-propagation audit): " +
        "every vec_id < 50 gets a predicted label by majority vote of its " +
        "5 exact nearest neighbors (vote ties break to the SMALLEST " +
        "label — a bare mode over neighbors is tie-nondeterministic, " +
        "a21's lesson); per true label: queries, correct predictions, one " +
        "rounded accuracy division. The quality gate a curator runs on " +
        "embedding labels before trusting them as dedup blocks. Neighbor " +
        "selection is n1's k-bounded kernel; voting is " +
        "min(struct(-votes, label)) — two hash aggregations, no Window",
      (s, d) => {
        graft.functions.GraftFunctions.register(s)
        val prepared = graft.ext.Similarity.prepare(embeddings(s, d), "vec_id", "embedding")
        val labels = embeddings(s, d).select(col("vec_id"), col("label"))
        val qs = prepared.where(col("id") < 50)
        val nn = graft.ext.Similarity.bruteForceTopK(prepared, qs, k = 5)
        val votes = nn
          .join(labels.withColumnRenamed("vec_id", "id"), Seq("id"))
          .groupBy(col("qid"), col("label").as("nlabel"))
          .agg(count(lit(1)).as("v"))
        val pred = votes.groupBy("qid")
          .agg(min(struct((col("v") * -1).as("negv"), col("nlabel").as("l"))).as("m"))
          .selectExpr("qid", "m.l AS pred")
        pred
          .join(labels.withColumnRenamed("vec_id", "qid"), Seq("qid"))
          .groupBy(col("label").as("true_label"))
          .agg(
            count(lit(1)).as("n"),
            sum(when(col("pred") === col("label"), 1).otherwise(0)).cast("long").as("correct"))
          .withColumn("accuracy",
            round(col("correct").cast("double") / col("n").cast("double"), 6))
          .orderBy("true_label")
      },
      Some("""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
             |  sqrt(list_reduce(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x), (acc, x) -> acc + x)) AS nrm
             |  FROM embeddings),
             |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qnrm FROM e WHERE vec_id < 50),
             |nn AS (
             |  SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY
             |      list_reduce(list_transform(list_zip(qv, v), p -> p[1] * p[2]), (acc, x) -> acc + x) / (qnrm * nrm) DESC,
             |      vec_id) AS rank
             |  FROM e JOIN q ON vec_id <> qid),
             |votes AS (SELECT qid, e.label AS nlabel, COUNT(*) AS v
             |  FROM nn JOIN e ON nn.vec_id = e.vec_id WHERE rank <= 5 GROUP BY 1, 2),
             |pred AS (SELECT qid, nlabel AS pred FROM (
             |    SELECT qid, nlabel, row_number() OVER (PARTITION BY qid ORDER BY v DESC, nlabel) AS rn
             |    FROM votes) WHERE rn = 1)
             |SELECT e.label AS true_label, COUNT(*) AS n,
             |  CAST(SUM(CASE WHEN pred = e.label THEN 1 ELSE 0 END) AS BIGINT) AS correct,
             |  round(CAST(SUM(CASE WHEN pred = e.label THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS accuracy
             |FROM pred JOIN e ON pred.qid = e.vec_id
             |GROUP BY 1 ORDER BY 1""".stripMargin)
    )
  )
}

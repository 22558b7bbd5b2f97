package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** Similarity search over embedding columns as a reusable library (the
  * registered queries n1/n2 are instantiations of these shapes).
  *
  * Scale contract:
  *  - queries are broadcast, the corpus streams: one scan, no corpus
  *    self-join;
  *  - ranking state is bounded: every path re-ranks through [[topKByQuery]]
  *    (the [[TopK]] typed Aggregator), whose buffer holds at most k entries
  *    per group through partial aggregation — the map side reduces each
  *    partition to k candidates before any shuffle. The only window left is
  *    the nlist-row centroid ranking inside [[ivfTopK]];
  *  - the LSH-bucketed variant probes only sign-signature collisions — the
  *    sub-linear path when the query set is large.
  */
object Similarity {

  /** (score, id) pair kept in the top-k buffer. */
  final case class Scored(score: Double, id: Long)

  /** Typed top-k Aggregator (SURVEY §7.5's "top-k heap aggregator"): the
    * shared [[graft.ops.BoundedRank]] discipline over (score, id) — sorted
    * descending by score, ties ascending by id (deterministic). Every ANN
    * path funnels through this aggregator, so its insert fast path is the
    * hot loop of the whole family.
    */
  final class TopK(k: Int) extends graft.ops.BoundedRank[Scored](k) {
    override protected def beats(s: Scored, x: Scored): Boolean =
      s.score > x.score || (s.score == x.score && s.id < x.id)

    override def bufferEncoder: Encoder[List[Scored]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[List[Scored]]()
    override def outputEncoder: Encoder[List[Scored]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[List[Scored]]()
  }

  /** Normalize an embedding table: `(id, v: array<double>, nrm)`. */
  def prepare(embeddings: DataFrame, idCol: String, vecCol: String): DataFrame = {
    GraftFunctions.register(embeddings.sparkSession)
    embeddings
      .selectExpr(s"$idCol AS id", s"cast($vecCol AS array<double>) AS v")
      .selectExpr("id", "v", "sqrt(array_dot(v, v)) AS nrm")
  }

  /** Rank `(qid, id, score)` candidate rows to per-query top-k via the TopK
    * Aggregator — the shared re-rank tail of all three ANN paths. State is
    * k-bounded end to end: partial aggregation reduces each partition to at
    * most k candidates per query BEFORE the shuffle, so a query whose probed
    * cells/buckets hold a large corpus fraction still ships and sorts only k
    * rows per partition (a per-qid `row_number` window would instead shuffle
    * every candidate to one partition and fully sort it).
    * Output: (qid, rank, id, score), ordered.
    */
  def topKByQuery(scoredCands: DataFrame, k: Int): DataFrame = {
    val spark = scoredCands.sparkSession
    import spark.implicits._
    val scored = scoredCands.selectExpr(
      "CAST(qid AS BIGINT) AS qid", "CAST(id AS BIGINT) AS id", "CAST(score AS DOUBLE) AS score")
      .as[(Long, Long, Double)]
    val topk = new TopK(k).toColumn
    scored
      .groupByKey(_._1)
      .mapValues { case (_, id, score) => Scored(score, id) }
      .agg(topk.name("topk"))
      .toDF("qid", "topk")
      .selectExpr("qid", "posexplode(topk) AS (pos, hit)")
      .selectExpr("qid", "CAST(pos + 1 AS BIGINT) AS rank", "hit.id AS id", "hit.score AS score")
      .orderBy("qid", "rank")
  }

  /** (score, term) pair for rankings whose RANKED ITEM is a string (term
    * vocabularies) rather than a numeric id.
    */
  final case class ScoredTerm(score: Double, term: String)

  /** [[TopK]] with string items ([[graft.ops.BoundedRank]] instantiation):
    * sorted descending by score, ties ascending lexicographically by term.
    */
  final class TopKTerms(k: Int) extends graft.ops.BoundedRank[ScoredTerm](k) {
    override protected def beats(s: ScoredTerm, x: ScoredTerm): Boolean =
      s.score > x.score || (s.score == x.score && s.term < x.term)

    override def bufferEncoder: Encoder[List[ScoredTerm]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[List[ScoredTerm]]()
    override def outputEncoder: Encoder[List[ScoredTerm]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[List[ScoredTerm]]()
  }

  /** Rank `(key, term, score)` rows to per-key top-k TERMS through
    * [[TopKTerms]] — the vocabulary-ranking shape (TF-IDF top terms per
    * language): a language's whole vocabulary reduces to k rows per
    * partition before the shuffle instead of sorting through one reducer.
    * Ties: score desc, term lexicographic asc.
    * Output: (key, rank, term, score), ordered.
    */
  def topTermsByKey(scoredTerms: DataFrame, k: Int): DataFrame = {
    val spark = scoredTerms.sparkSession
    import spark.implicits._
    val scored = scoredTerms.selectExpr(
      "CAST(key AS STRING) AS key", "CAST(term AS STRING) AS term", "CAST(score AS DOUBLE) AS score")
      .as[(String, String, Double)]
    val topk = new TopKTerms(k).toColumn
    scored
      .groupByKey(_._1)
      .mapValues { case (_, term, score) => ScoredTerm(score, term) }
      .agg(topk.name("topk"))
      .toDF("key", "topk")
      .selectExpr("key", "posexplode(topk) AS (pos, hit)")
      .selectExpr("key", "CAST(pos + 1 AS BIGINT) AS rank", "hit.term AS term", "hit.score AS score")
      .orderBy("key", "rank")
  }

  /** String-keyed sibling of [[topKByQuery]] for rankings whose group key is
    * a term/token rather than a numeric query id (the BM25 shape): rank
    * `(key, id, score)` rows to per-key top-k through the same k-bounded
    * [[TopK]] Aggregator — a hot key (a stopword-grade term with millions of
    * postings) ships at most k rows per partition instead of its full
    * posting list through one window sort.
    * Output: (key, rank, id, score), ordered.
    */
  def topKByTerm(scoredCands: DataFrame, k: Int): DataFrame = {
    val spark = scoredCands.sparkSession
    import spark.implicits._
    val scored = scoredCands.selectExpr(
      "CAST(key AS STRING) AS key", "CAST(id AS BIGINT) AS id", "CAST(score AS DOUBLE) AS score")
      .as[(String, Long, Double)]
    val topk = new TopK(k).toColumn
    scored
      .groupByKey(_._1)
      .mapValues { case (_, id, score) => Scored(score, id) }
      .agg(topk.name("topk"))
      .toDF("key", "topk")
      .selectExpr("key", "posexplode(topk) AS (pos, hit)")
      .selectExpr("key", "CAST(pos + 1 AS BIGINT) AS rank", "hit.id AS id", "hit.score AS score")
      .orderBy("key", "rank")
  }

  /** Brute-force cosine top-k for each query vector, via the TopK Aggregator:
    * corpus scanned once, queries broadcast, k-bounded state end to end.
    * Output: (qid, rank, id, score).
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val spark = corpus.sparkSession
    GraftFunctions.register(spark)
    val q = queries.select(col("id").as("qid"), col("v").as("qv"), col("nrm").as("qnrm"))
    val scored = corpus
      .join(broadcast(q), expr("id <> qid"))
      .selectExpr("qid", "id", "array_dot(qv, v) / (qnrm * nrm) AS score")
    topKByQuery(scored, k)
  }

  /** The per-band sign-signature SQL expressions (`band0..band{bands-1}`)
    * over the first `bits` dimensions — the pre-stack row layout shared by
    * [[signBands]] (stacked bucket keys) and [[knnGraph]] (which keeps the
    * flat columns so its bucket self-join can dedup multi-band collisions
    * with a predicate instead of a distinct exchange).
    */
  private def signBandExprs(bits: Int, bands: Int): Seq[String] = {
    val perBand = bits / bands
    (0 until bands).map { b =>
      val bitExprs = (b * perBand until (b + 1) * perBand)
        .map(i => s"(CASE WHEN element_at(v, ${i + 1}) >= 0 THEN '1' ELSE '0' END)")
      s"concat(${bitExprs.mkString(", ")}) AS band$b"
    }
  }

  /** Sign-LSH signature over the first `bits` dimensions, banded — the bucket
    * key set for the sub-linear probe path.
    */
  def signBands(prepared: DataFrame, bits: Int = 16, bands: Int = 4): DataFrame = {
    val withBands = prepared.selectExpr(
      Seq("id", "v", "nrm") ++ signBandExprs(bits, bands): _*)
    withBands.selectExpr(
      "id", "v", "nrm",
      s"stack($bands, ${(0 until bands).map(b => s"$b, band$b").mkString(", ")}) AS (band, bkey)")
  }

  /** Binary (sign-bit) quantization: pack the sign of each of the first
    * `dims` dimensions into 32-bit words carried as BIGINT columns
    * `w0..w{nw-1}` (bit b of word w = sign of dim 32w+b). 64 dims compress to
    * 16 bytes/vector — 16x smaller than the f32 array — and the whole
    * signature build is scan-side integer codegen (a sum of distinct
    * powers-of-two literals, no lambda, no shuffle). The storage/serving
    * format of binary-quantized vector search.
    * Output: (id, w0, w1, ...).
    */
  def signWords(prepared: DataFrame, dims: Int = 64): DataFrame = {
    val nw = (dims + 31) / 32
    val wordExprs = (0 until nw).map { w =>
      val terms = (w * 32 until math.min(dims, (w + 1) * 32)).map { i =>
        s"(CASE WHEN element_at(v, ${i + 1}) >= 0 THEN CAST(${1L << (i - w * 32)} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
      }
      s"(${terms.mkString(" + ")}) AS w$w"
    }
    prepared.selectExpr(Seq("id") ++ wordExprs: _*)
  }

  /** Hamming-distance top-k over [[signWords]] signatures: the binary-
    * quantization ANN path (the cheapest of the family). Distance is
    * `sum_w bit_count(w ^ qw)` — pure integer column arithmetic that stays
    * in whole-stage codegen; queries broadcast; ranking funnels through the
    * k-bounded [[TopK]] Aggregator (score = -hamming, ties by id asc), so
    * per-query state is k rows per partition regardless of corpus size.
    * 100 TB shape: one scan over 16-byte signatures (not 256-byte vectors),
    * no shuffle except the k-bounded rank exchange; typically the prefilter
    * whose survivors re-rank through [[bruteForceTopK]] on the full vectors.
    * Output: (qid, rank, id, hamming), hamming ascending.
    */
  def hammingTopK(prepared: DataFrame, queries: DataFrame, k: Int,
      dims: Int = 64): DataFrame = {
    val nw = (dims + 31) / 32
    val corpus = signWords(prepared, dims)
    val q = signWords(queries, dims).select(
      col("id").as("qid") +: (0 until nw).map(w => col(s"w$w").as(s"qw$w")): _*)
    val hamExpr = (0 until nw).map(w => s"bit_count(w$w ^ qw$w)").mkString(" + ")
    val scored = corpus
      .join(broadcast(q), expr("id <> qid"))
      .selectExpr("qid", "id", s"CAST(-($hamExpr) AS DOUBLE) AS score")
    topKByQuery(scored, k)
      .selectExpr("qid", "rank", "id", "CAST(-score AS BIGINT) AS hamming")
  }

  /** Count of k-means fits, incremented by [[ivfIndex]] — the observable that
    * lets SimilaritySpec pin "probing a prebuilt index never retrains" (and a
    * cheap production metric for index-build amortization).
    */
  val kmeansFits = new java.util.concurrent.atomic.AtomicLong(0L)

  /** IVF (inverted-file) coarse quantization: k-means partitions the corpus
    * into `nlist` cells; [[ivfTopK]] probes only each query's `nprobe`
    * nearest cells. Returns (assigned corpus with a `cell` column, centroid
    * table (cell, cv)). The other classic ANN scale path beside sign-LSH
    * banding — cells adapt to the data distribution where LSH bands are
    * data-oblivious.
    *
    * Scale: the quantizer trains on a sample (`trainFraction`) — at corpus
    * scale k-means never sees every row; assignment is one
    * `KMeansModel.transform` pass (a broadcast of nlist centroids, no
    * shuffle). Deterministic under a fixed seed.
    */
  def ivfIndex(prepared: DataFrame, nlist: Int, seed: Long = 42L,
      trainFraction: Double = 1.0): (DataFrame, DataFrame) = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    kmeansFits.incrementAndGet()
    val spark = prepared.sparkSession
    import spark.implicits._
    val featurized = prepared.withColumn("__fv", array_to_vector(col("v")))
    val trainSet =
      if (trainFraction >= 1.0) featurized
      else featurized.sample(withReplacement = false, trainFraction, seed)
    val model = new KMeans()
      .setK(nlist).setSeed(seed).setFeaturesCol("__fv").setPredictionCol("cell")
      // coarse quantization needs rough cells, not converged clustering —
      // few iterations is standard IVF practice and caps training cost.
      // r13: random init instead of the k-means|| default — the parallel
      // init alone runs several distributed sampling rounds (measured as
      // most of n3's job count), and a coarse quantizer whose cells are
      // refined by Lloyd rounds anyway doesn't need a seeded-approximation
      // init (FAISS trains IVF lists from a random subsample for the same
      // reason). Deterministic under the fixed seed as before.
      .setInitMode("random")
      .setMaxIter(5)
      .fit(trainSet)
    val assigned = model.transform(featurized).drop("__fv")
    val centroids = model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray.toSeq) }.toSeq
      .toDF("cell", "cv")
    (assigned, centroids)
  }

  /** IVF-probed ANN: rank each query's `nprobe` euclidean-nearest centroids
    * (tiny broadcast cross-join — nlist rows), pull only those cells'
    * members, exact cosine re-rank. Candidate volume is
    * ~(nprobe/nlist) * corpus per query instead of a full scan.
    */
  def ivfTopK(prepared: DataFrame, queries: DataFrame, k: Int,
      nlist: Int = 16, nprobe: Int = 4, seed: Long = 42L,
      trainFraction: Double = 1.0): DataFrame = {
    val (assigned, centroids) = ivfIndex(prepared, nlist, seed, trainFraction)
    ivfTopKWithIndex(assigned, centroids, queries, k, nprobe)
  }

  /** Probe a PREBUILT IVF index — the amortized shape: at corpus scale the
    * quantizer is trained once ([[ivfIndex]]) and reused across thousands of
    * query batches; fusing build+probe (as [[ivfTopK]] does for one-shot
    * convenience) would pay the k-means fit on every call. Pure DataFrame
    * transformation: no fit, no driver-side state beyond the plan.
    */
  def ivfTopKWithIndex(assigned: DataFrame, centroids: DataFrame, queries: DataFrame,
      k: Int, nprobe: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    GraftFunctions.register(assigned.sparkSession)
    val q = queries.select(col("id").as("qid"), col("v").as("qv"), col("nrm").as("qnrm"))
    // argmin_cell ||q - c||^2 = argmin_cell (c.c - 2 q.c): the |q|^2 term is
    // constant per query, so it never affects the ranking.
    val wc = Window.partitionBy("qid").orderBy(col("cdist"), col("cell"))
    val probed = q.crossJoin(broadcast(centroids))
      .withColumn("cdist", expr("array_dot(cv, cv) - 2 * array_dot(qv, cv)"))
      .withColumn("crank", row_number().over(wc))
      .where(col("crank") <= nprobe)
      .select("qid", "qv", "qnrm", "cell")
    val scored = probed.join(assigned, Seq("cell"))
      .where(expr("id <> qid"))
      .selectExpr("qid", "id", "array_dot(qv, v) / (qnrm * nrm) AS score")
    topKByQuery(scored, k)
  }

  /** Bucket-size guard for the LSH family: drop band buckets holding more
    * than `maxBucket` members before any bucket self/probe join. A band key
    * shared by a large fraction of the corpus is non-discriminative (it
    * carries ~zero bits of locality information), and its bucket re-creates
    * exactly the quadratic join LSH banding exists to avoid — one degenerate
    * key turns an O(collisions) plan into O(n^2) (the unigram-MinHash
    * word-soup failure mode, SCALE.md). Dropping it bounds every downstream
    * task at maxBucket^2 candidate pairs per bucket while the remaining
    * bands still generate candidates for its members — the standard
    * stop-bucket trade in production LSH.
    *
    * Oversized keys are by definition few (each holds > maxBucket rows), so
    * the guard is one tiny aggregate + a broadcast anti-join — no extra
    * shuffle of the band table.
    */
  def capBuckets(bandTable: DataFrame, keyCols: Seq[String], maxBucket: Int): DataFrame = {
    val oversized = bandTable
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("__n"))
      .where(col("__n") > maxBucket)
      .select(keyCols.map(col): _*)
    bandTable.join(broadcast(oversized), keyCols, "left_anti")
  }

  /** LSH-bucketed ANN: candidates share at least one band with the query;
    * exact cosine re-ranking on candidates only. Corpus buckets above
    * `maxBucket` are dropped ([[capBuckets]]) so one degenerate band key
    * cannot turn the probe into a corpus scan.
    */
  def lshTopK(prepared: DataFrame, queries: DataFrame, k: Int,
      bits: Int = 16, bands: Int = 4, maxBucket: Int = 1 << 20): DataFrame = {
    val spark = prepared.sparkSession
    GraftFunctions.register(spark)
    val cb = capBuckets(
      signBands(prepared, bits, bands).select("id", "band", "bkey"),
      Seq("band", "bkey"), maxBucket)
    val qb = signBands(queries, bits, bands)
      .select(col("id").as("qid"), col("band"), col("bkey"))
    val cands = cb.join(broadcast(qb), Seq("band", "bkey"))
      .where(expr("id <> qid"))
      .select("qid", "id")
      .distinct()
    val q = queries.select(col("id").as("qid"), col("v").as("qv"), col("nrm").as("qnrm"))
    val scored = cands
      .join(prepared, Seq("id"))
      .join(broadcast(q), Seq("qid"))
      .selectExpr("qid", "id", "array_dot(qv, v) / (qnrm * nrm) AS score")
    topKByQuery(scored, k)
  }

  /** Corpus k-nearest-neighbor graph over sign-LSH buckets: every node is
    * simultaneously query and corpus, so this is [[lshTopK]]'s semantics with
    * the broadcast dropped — a corpus-sized "query set" must never broadcast.
    * Exact cosine scores compute INSIDE the capped bucket self-join (both
    * legs are one reused (band, bkey) exchange carrying each vector `bands`
    * times) and re-rank through the k-bounded [[TopK]] aggregator. The kNN
    * graph is the substrate under graph dedup (d6's edges at a fixed
    * degree), SemDeDup-style cluster pruning, and kNN classification.
    *
    * Scale: candidate volume is bounded by `maxBucket` × `bands` per node —
    * oversized buckets are dropped before the exchange (as driver-literal
    * filters up to `knnLiteralBound` keys, else by broadcast joins), so a collapsed
    * signature distribution cannot go quadratic. The candidate-pair stream
    * itself never crosses an exchange: a multi-band collision scores once
    * (first-shared-kept-band predicate replaces the old distinct), and the
    * TopK partial aggregation reduces scored pairs to k rows per node per
    * partition map-side, straight off the join (r12 shape: pair ids were
    * distinct-shuffled, then two id-keyed merge joins shuffled pair x vector
    * payloads — the dominant exchange at band saturation). State per group
    * is k entries (partial aggregation, no Window).
    */
  def knnGraph(prepared: DataFrame, k: Int,
      bits: Int = 16, bands: Int = 4, maxBucket: Int = 1 << 20): DataFrame =
    knnGraph(prepared, k, bits, bands, maxBucket, knnLiteralBound)

  /** Oversized-bucket keys knnGraph drops through `isin` literals; above this
    * many it marks them with broadcast joins instead, so neither the driver
    * nor the plan holds a corpus-sized key list.
    */
  private[graft] val knnLiteralBound = 2048

  private[graft] def knnGraph(prepared: DataFrame, k: Int, bits: Int, bands: Int,
      maxBucket: Int, literalBound: Int): DataFrame = {
    val spark = prepared.sparkSession
    GraftFunctions.register(spark)
    // r13 shape (guide §2.3/§2.4, the §8 "move heavy bytes once" rule in
    // reverse): the old plan shuffled the distinct (qid, id) pair set, then
    // paid two id-keyed merge joins whose intermediate — every candidate
    // pair CARRYING a corpus vector — crossed one more exchange (pair
    // volume x vector bytes, the dominant shuffle at saturation). Scoring
    // INSIDE the bucket self-join instead ships each vector `bands` times
    // through ONE exchange (both join legs are the same subtree, so the
    // shuffle is planned once and reused) and the candidate-pair stream
    // never crosses an exchange at all: the k-bounded TopK partial
    // aggregation reduces it map-side, straight off the join.
    //
    // Dedup without the distinct: a pair colliding in several bands must
    // score once, so each row keeps the flat band keys (+ per-band
    // kept-bucket flags) and the join accepts a pair only in its FIRST
    // shared kept band.
    //
    // Oversized-bucket keys number at most n / maxBucket per band. Up to
    // `literalBound` of them are collected and dropped as `isin` literals —
    // the capBuckets broadcast in literal form, same dropped buckets, zero
    // join. Above the bound each band gets a broadcast join that marks its
    // oversized keys, so the driver never collects more than bound + 1 keys.
    val sig = prepared.selectExpr(
      Seq("id", "v", "nrm") ++ signBandExprs(bits, bands): _*)
    val stackAll = s"stack($bands, ${(0 until bands)
      .map(b => s"$b, band$b").mkString(", ")}) AS (band, bkey)"
    val oversizedKeys = sig
      .selectExpr(stackAll)
      .groupBy("band", "bkey").agg(count(lit(1)).as("__n"))
      .where(col("__n") > maxBucket)
      .select("band", "bkey")
    val oversized = oversizedKeys.limit(literalBound + 1).collect()
      .map(r => (r.getInt(0), r.getString(1)))
    val bandCols = (0 until bands).map(b => col(s"band$b"))
    val withKept =
      if (oversized.length <= literalBound) {
        val overByBand = oversized.groupBy(_._1).map { case (b, ks) => b -> ks.map(_._2).toSet }
        def keptExpr(b: Int): Column = overByBand.get(b) match {
          case None => lit(true)
          case Some(keys) => !col(s"band$b").isin(keys.toSeq: _*)
        }
        sig.select(col("id") +: col("v") +: col("nrm") +:
          (bandCols ++ (0 until bands).map(b => keptExpr(b).as(s"kept$b"))): _*)
      } else {
        val marked = (0 until bands).foldLeft(sig) { (df, b) =>
          df.join(broadcast(oversizedKeys.where(col("band") === b)
            .select(col("bkey").as(s"band$b"), lit(true).as(s"over$b"))), Seq(s"band$b"), "left")
        }
        marked.select(col("id") +: col("v") +: col("nrm") +:
          (bandCols ++ (0 until bands).map(b => col(s"over$b").isNull.as(s"kept$b"))): _*)
      }
    val stacked = withKept.selectExpr(
      Seq("id", "v", "nrm") ++
        (0 until bands).map(b => s"band$b") ++
        (0 until bands).map(b => s"kept$b") :+
        s"stack($bands, ${(0 until bands)
          .map(b => s"$b, band$b, kept$b").mkString(", ")}) AS (band, bkey, bkept)": _*)
      .where(col("bkept"))
    // first shared KEPT band of the pair: defined whenever the join matches
    // (the current band qualifies), and references both sides symmetrically
    // so the two legs stay column-identical — Catalyst then canonicalizes
    // them to ONE exchange (the ngramJaccardPairs reuse discipline).
    val firstShared = "CASE " + (0 until bands).map(b =>
      s"WHEN x.kept$b AND y.kept$b AND x.band$b = y.band$b THEN $b").mkString(" ") + " END"
    // merge hint: the self-joined table is corpus-sized (n x bands vector
    // rows) — broadcasting a leg would ship the corpus's vectors to every
    // task, the 100 TB bug this function exists to avoid. AQE converts to
    // shuffled-hash when a per-partition build fits; the hint on one leg
    // does not break the exchange reuse (the d4/triangleCount precedent).
    val pairs = stacked.as("x")
      .join(stacked.as("y").hint("merge"), expr(
        s"x.band = y.band AND x.bkey = y.bkey AND x.id < y.id AND x.band = ($firstShared)"))
      .selectExpr("x.id AS a", "y.id AS b",
        "array_dot(x.v, y.v) / (x.nrm * y.nrm) AS s")
    // both graph directions from the one scored row (array_dot and the norm
    // product are bitwise symmetric); explode, not union — a union would
    // execute the join subtree once per branch
    val scored = pairs
      .selectExpr("explode(array(struct(a AS qid, b AS id, s AS score), " +
        "struct(b AS qid, a AS id, s AS score))) AS e")
      .selectExpr("e.qid AS qid", "e.id AS id", "e.score AS score")
    topKByQuery(scored, k)
  }

  /** The n11 planner as a library DECISION (round-7 verdict item 5): forecast
    * each candidate signature width's bucket-self-join pair volume
    * `sum(c*(c-1)/2)` with one cheap aggregation per width, and return the
    * NARROWEST width (= best recall: fewer bits per band -> more collisions)
    * whose forecast fits `pairBudget`. Falls back to the widest width when
    * nothing fits — the caller bounded the join; saturation is then a data
    * fact, not a surprise discovered inside a 100 TB shuffle. Driver state:
    * one long per width (the forecast), nothing else collects.
    */
  def planBandBits(prepared: DataFrame, widths: Seq[Int] = Seq(16, 32),
      bands: Int = 4, pairBudget: Long = 1000000L): Int = {
    require(widths.nonEmpty, "need at least one candidate width")
    val forecasts = widths.sorted.map { bits =>
      val r = signBands(prepared, bits, bands)
        .groupBy("band", "bkey").agg(count(lit(1)).as("c"))
        .agg(sum(expr("(c * (c - 1)) div 2")).cast("long").as("p"))
        .head()
      val pairs = if (r.isNullAt(0)) 0L else r.getLong(0) // empty corpus -> 0
      (bits, pairs)
    }
    forecasts.find(_._2 <= pairBudget).map(_._1).getOrElse(widths.max)
  }

  /** [[knnGraph]] with the width chosen by [[planBandBits]] — the n7-vs-n8
    * bracket automated. On a saturated corpus (n7's regime: heavy-tailed
    * 4-bit buckets) the planner lands on the wider key; on a sparse corpus
    * it keeps the narrow one for recall. `prepared` is read once per
    * forecast width plus once per graph leg — callers looping over corpora
    * should pass a checkpointed frame (the signature discipline of d2).
    */
  def knnGraphAuto(prepared: DataFrame, k: Int,
      widths: Seq[Int] = Seq(16, 32), bands: Int = 4,
      pairBudget: Long = 1000000L, maxBucket: Int = 1 << 20): DataFrame =
    knnGraph(prepared, k, planBandBits(prepared, widths, bands, pairBudget),
      bands, maxBucket)

  /** The MinHash-LSH candidate stage as a library call (the registered
    * d2/d6/d8/d14/d16 queries route through this): 3-gram word shingles ->
    * 8 minhashes ([[MinHash.signatures]]) -> capped 4-band bucket self-join.
    * Returns (signature table carrying `doc_id`, `keep`, `sh`, `h0..h7`;
    * distinct (id_a < id_b) candidate pairs). The signature table is an
    * EAGER checkpoint: it feeds stages AQE submits concurrently, and a lazy
    * cut lets them race and recompute the md5/shingle projection from
    * lineage (measured at the 100x decade as half the query's CPU). Input
    * needs `doc_id` and `text`; the fixed-count repartition spreads the
    * CPU-heavy signature projection even when the source is one
    * unsplittable file (AQE-coalesce-exempt — SCALE.md).
    */
  def minHashCandidates(docs: DataFrame, keep: Seq[String] = Seq("lang"),
      maxBucket: Int = 1000): (DataFrame, DataFrame) = {
    val spark = docs.sparkSession
    // width derives from the input size estimate (r12): fixed
    // defaultParallelism charged every downstream checkpoint scan ~cores
    // near-empty tasks at fixture scale; the adaptive width keeps the 100x
    // fan-out (SCALE.md) and shrinks with the corpus
    val sigs = MinHash
      .signatures(
        docs
          .repartition(graft.ops.ScaleOps.adaptiveWidth(docs), col("doc_id"))
          .localCheckpoint(eager = false),
        "doc_id" +: keep)
      .localCheckpoint(eager = true)
    val bands = capBuckets(MinHash.bands(sigs), Seq("band", "bkey"), maxBucket)
    val cands = bands.as("x")
      .join(bands.as("y"), expr("x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .distinct()
    (sigs, cands)
  }

  /** PRODUCTION MinHash-LSH near-dup entry: verified pairs with exact
    * shingle Jaccard >= `threshold` over [[minHashCandidates]]'s banded
    * candidates. Output: `id_a`, `id_b` (id_a < id_b) plus the a-side
    * `keep` columns.
    *
    * The verify NEVER exchanges CORPUS shingle arrays (the round-8
    * invariant, SCALE.md session-9), and since round 9 it is TIERED on the
    * materialized candidate-pair count (one action: the count job both
    * persists the lazily-marked candidate checkpoint and returns the
    * cardinality the planner needs at initial planning — AQE's late
    * SMJ->BHJ conversion arrives after the corpus-side exchange shipped):
    *
    *  - `nPairs <= payloadPairBound` — the measured common case (candidates
    *    are O(near-dups): 31 pairs / 500 docs at sf0.01, ~proportional up
    *    the decades): CANDIDATE-BOUNDED PAYLOAD verify. The pair-id table
    *    broadcasts (ids only); one map-side hash probe attaches the a-side
    *    shingle set as the signature scan streams by (no exchange), a
    *    broadcast semi bounds the b-side to candidate docs, and one
    *    merge-hinted join keyed on the PAIR id colocates the two sets for
    *    a native `array_intersect` Jaccard. Arrays ride exactly one
    *    exchange, bounded by CANDIDATE volume, never corpus volume. This
    *    tier exists because the posting-count form below costs ~6 extra
    *    32-task stages — pure fixed overhead when there are only hundreds
    *    of candidate pairs (measured round 9: d2 sf0.1 CPU 11.5 s vs the
    *    round-7 payload form's 4.4 s, with only ~300 candidates).
    *  - `nPairs <= broadcastPairBound`: posting-count verify with a
    *    BROADCAST candidate-id set — signatures semi-join down to candidate
    *    docs, their shingles explode to postings, |a∩b| is the pair's
    *    shared-posting count (exact: `sh` holds distinct shingles). Shuffle
    *    is O(candidate postings); measured at the 100x decade as 2.3x lower
    *    shuffle and 2x lower wall than the CORPUS payload-join form.
    *  - above both bounds: the same posting-count verify with shuffled
    *    distinct id-set semi-joins (nothing broadcasts).
    */
  def minHashNearDupPairs(docs: DataFrame, threshold: Double = 0.8,
      keep: Seq[String] = Seq("lang"), maxBucket: Int = 1000,
      broadcastPairBound: Long = 4000000L,
      payloadPairBound: Long = 262144L): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold in (0,1], got $threshold")
    // sigs stays EAGER (round-9 re-measured, not just carried over): a lazy
    // sigs cut looked free at sf0.1 (same CPU, one fewer barrier) but at the
    // 100x decade d2's CPU rose 137 -> 172 s — capBuckets' broadcast build
    // races the band-exchange materialization across CONCURRENT JOBS, and
    // BlockManager locks only dedup block STORAGE, not computation: the
    // losing task recomputes the signature projection and discards it.
    val (sigs, cands0) = minHashCandidates(docs, keep, maxBucket)
    val cands = cands0.localCheckpoint(eager = false)
    val nPairs = cands.count()
    val aKeep = keep.map(c => col(s"a.$c").as(c))
    // slim BEFORE any join: never carry h0..h7 into an exchange
    val sigsSlim = sigs.select(col("doc_id") +: col("sh") +: keep.map(col): _*)
    if (nPairs <= payloadPairBound) {
      val bCands = broadcast(cands)
      // a-side: map-side probe into the broadcast pair table — shingle sets
      // stream from the signature checkpoint straight into the join output
      val withA = sigsSlim.as("a")
        .join(bCands, col("a.doc_id") === col("id_a"))
        .select(col("id_a") +: col("id_b") +: col("a.sh").as("sha") +: aKeep: _*)
      // b-side: broadcast semi bounds the exchange to candidate docs' sets
      val bSide = sigsSlim.as("b")
        .join(bCands, col("b.doc_id") === col("id_b"), "left_semi")
        .select(col("b.doc_id").as("bid"), col("b.sh").as("shb"))
      withA
        .join(bSide.hint("merge"), col("id_b") === col("bid"))
        .where(expr(s"${MinHash.jaccardExpr("sha", "shb")} >= $threshold"))
        .select(col("id_a") +: col("id_b") +: keep.map(col): _*)
    } else {
      val small = nPairs <= broadcastPairBound
      val candDocs = cands.select(col("id_a").as("doc_id"))
        .union(cands.select(col("id_b").as("doc_id")))
      // broadcast path skips the distinct (the hash relation dedups keys —
      // two fewer stages); the shuffled fallback keeps the build side minimal
      val candKeys = if (small) broadcast(candDocs) else candDocs.distinct()
      val bKeep = keep.map(c => col(s"b.$c").as(s"${c}_b"))
      val candPost = sigsSlim
        .join(candKeys, Seq("doc_id"), "left_semi")
        .select(col("doc_id") +: size(col("sh")).as("n") +:
          explode(col("sh")).as("shingle") +: keep.map(col): _*)
      candPost.as("a")
        .join(candPost.as("b"), expr("a.shingle = b.shingle AND a.doc_id < b.doc_id"))
        // b-side keep columns in the grouping keys are redundant for the
        // result but keep the two posting legs COLUMN-IDENTICAL — otherwise
        // Catalyst prunes them from b, the subtrees canonicalize differently,
        // and the shingle exchange is built twice instead of reused
        .groupBy(col("a.doc_id").as("id_a") +: col("b.doc_id").as("id_b") +:
          col("a.n").as("na") +: col("b.n").as("nb") +: (aKeep ++ bKeep): _*)
        .agg(count(lit(1)).as("inter"))
        .where(expr(s"inter * 1.0 / (na + nb - inter) >= $threshold"))
        // the pair set is known-small exactly when the id set broadcast
        .join(if (small) broadcast(cands) else cands, Seq("id_a", "id_b"), "left_semi")
        .select(col("id_a") +: col("id_b") +: keep.map(col): _*)
    }
  }

  /** PRODUCTION n-gram Jaccard dedup entry: verified near-dup pairs with
    * shingle Jaccard >= `threshold` within `blockCols` blocks, via the
    * prefix-filtered similarity join (the AllPairs/PPJoin discipline the
    * registered `d17_prefix_filter_join` gates). `d4_dedup_ngram_jaccard`'s
    * full posting join is this function's EXACTNESS ORACLE — bitwise the
    * same pairs (both oracle rows share one DuckDB query) — but at the
    * measured 100x decade the prefix plan crossed over (17.6 s vs d4's
    * 25.9 s, SCALE.md): a pair with Jaccard >= t MUST share a shingle
    * inside each side's first `n - ceil(t*n) + 1` shingles under a common
    * total order (pigeonhole), so ordering each doc's shingles by global
    * document frequency ascending (rarest first) and posting only that
    * prefix cuts posting volume ~5x AND collapses collision pairs (the
    * frequent shingles that dominate posting-join fan-out never post).
    *
    * Input needs `doc_id`, `text`, and `blockCols`. Output: one row per
    * verified pair — `id_a`, `id_b` (id_a < id_b), the a-side `blockCols`,
    * and the exact `jaccard`.
    *
    * 100 TB shape (round-9 rebuild): shingles hash to 8-BYTE GRAM IDS once
    * at set build, so every posting exchange, sort and aggregation downstream
    * moves/compares fixed-width longs instead of shingle strings (the
    * verify's intersection counts are exact over the hashed sets; a 64-bit
    * collision would merge two grams corpus-wide — ~1e-6 likelihood at 1e7
    * distinct shingles — which is the standard shingle-hashing trade and the
    * reason `array_distinct` re-distincts after hashing). The df annotation
    * REUSES one posting exchange: postings repartition by gram once, the df
    * aggregate consumes that exchange in place (partitioning satisfied, no
    * partial/final exchange pair), and the df merge-join reads the SAME
    * exchange on its probe side — round 8 shipped the posting stream twice
    * here (partial-agg exchange + merge-join re-exchange). The per-doc
    * prefix rank is a hash aggregation bounded by doc length; candidate
    * generation is an equi-join on rare grams (tiny buckets by
    * construction); the exact verify joins gram sets back BY ID only for
    * candidate pairs. Joins hint spillable merge — never broadcast/
    * hash-build a corpus side (the 100x decade's forced-SHJ OOM, SCALE.md).
    */
  def ngramJaccardPairs(docs: DataFrame, threshold: Double = 0.8,
      blockCols: Seq[String] = Seq("lang", "source"),
      broadcastPairBound: Long = 4000000L,
      payloadPairBound: Long = 262144L): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold in (0,1], got $threshold")
    val spark = docs.sparkSession
    GraftFunctions.register(spark)
    val keep = "doc_id" +: blockCols
    // EAGER cut (the d2 discipline, SCALE.md session-9): multiple consumer
    // stages launch concurrently under AQE; a lazy checkpoint lets them race
    // and re-run the shingle projection from lineage.
    val sh = docs
      .repartition(graft.ops.ScaleOps.adaptiveWidth(docs), col("doc_id"))
      .localCheckpoint(eager = false)
      .selectExpr(keep :+ MinHash.splitExpr: _*)
      .selectExpr(keep :+ s"(${MinHash.shingleExpr}) AS s3": _*)
      .selectExpr(keep :+ "array_distinct(transform(s3, x -> xxhash64(x))) AS sh": _*)
      .localCheckpoint(eager = true)
    // SLIM postings: (doc_id, 8-byte gram) only; per-doc metadata (block
    // columns) joins back by id onto the ~20% PREFIX, never riding the full
    // stream. The explicit repartition IS the single full-posting exchange
    // of the annotate step — both the df aggregate and the merge join's
    // probe side consume it (identical subtree -> the shuffle stage is
    // built once and reused).
    val meta = sh.selectExpr(keep: _*)
    // The explicit isnotnull + count(doc_id) pair is what makes the reuse
    // real, not aspirational: the probe leg's downstream doc_id joins infer
    // an isnotnull(doc_id) pushdown that the df leg never gets, and
    // count(1) lets Catalyst prune doc_id from the df branch — either way
    // the two exchange subtrees canonicalize differently and the posting
    // stream ships TWICE (measured round 9: two 3.4 MB stages at sf0.1).
    // With both legs constraint- and column-identical, AQE's stage cache
    // plans ONE exchange and the df side reads it as a ReusedExchange.
    // (doc_id is never null after the filter, so count(doc_id) == count(*);
    // df only needs to be a CONSISTENT order key anyway.)
    val post = sh.where(col("doc_id").isNotNull)
      .select(col("doc_id"), explode(col("sh")).as("gram"))
      .repartition(col("gram"))
    val dfreq = post.groupBy("gram").agg(count(col("doc_id")).as("df"))
    // Per-doc prefix via HASH AGGREGATION, not a rank window: collect each
    // doc's (df, gram) pairs (struct sort == the window's (df, gram) order;
    // buffer bounded by doc length), slice the AllPairs prefix, and explode
    // it back. Same rows as row_number() <= prefix_len, but the doc_id
    // exchange feeds a hash aggregate instead of a partition-wide sort — no
    // sort-spill of the full df-annotated posting stream. The set size `n`
    // is size(ranked) (postings are distinct per doc) — no meta join on the
    // full stream.
    val prefix = post
      .join(dfreq.hint("merge"), Seq("gram"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("df"), col("gram")))).as("ranked"))
      .select(col("doc_id"), size(col("ranked")).as("n"),
        expr(s"slice(ranked, 1, size(ranked) - CAST(ceil($threshold * size(ranked)) AS INT) + 1)").as("pref"))
      .select(col("doc_id"), col("n"), explode(col("pref")).as("r"))
      .select(col("doc_id"), col("n"), col("r.gram").as("gram"))
      .join(meta, Seq("doc_id"))
    // gram FIRST in the equi-condition: SMJ sort/compare order follows the
    // condition order, so the 8-byte gram resolves almost every comparison
    // and the block-column STRING compares run only inside same-gram runs
    // (measured at the 100x decade: the candidate join's sort was a top-2
    // CPU stage with block strings leading the key)
    val blockEq = blockCols.map(c => s"a.$c = b.$c").mkString(" AND ")
    val cands = prefix.as("a")
      .join(prefix.as("b").hint("merge"), expr(
        s"a.gram = b.gram AND $blockEq AND a.doc_id < b.doc_id"))
      .select(col("a.doc_id").as("id_a") +: col("b.doc_id").as("id_b") +:
        blockCols.map(c => col(s"a.$c").as(c)): _*)
      .distinct()
      // lazy checkpoint + count = ONE action (round-9; eager + count was
      // two jobs): the count below computes AND persists every partition,
      // feeds the id legs and the final join from the checkpointed blocks,
      // and its value hands the planner a broadcast decision usable at
      // initial planning (AQE's SMJ->BHJ conversion lands too late)
      .localCheckpoint(eager = false)
    // TIERED exact verify (see minHashNearDupPairs — same contract, same
    // one-action count): payload join on small pair sets (arrays ride one
    // candidate-bounded exchange, native array_intersect — no explode, no
    // posting self-join, ~6 fewer 32-task stages); posting-count form at
    // scale, WITHOUT exchanging gram arrays (`sh` holds distinct grams so
    // the shared-posting count is |a∩b|; identical legs -> the candidate
    // posting exchange is planned once and reused).
    val nPairs = cands.count()
    val jac = "size(array_intersect(sha, shb)) * 1.0 / " +
      "(size(sha) + size(shb) - size(array_intersect(sha, shb)))"
    if (nPairs <= payloadPairBound) {
      // cands already carries the a-side block columns — only the gram sets
      // join in (map-side probe for a, broadcast-semi-bounded merge for b)
      val bCands = broadcast(cands)
      val withA = sh.as("a")
        .join(bCands, col("a.doc_id") === col("id_a"))
        // qualify: blockCols exist on both sides (equal by construction —
        // candidates carry the a-side block values)
        .select(col("id_a") +: col("id_b") +: col("a.sh").as("sha") +:
          blockCols.map(c => col(s"a.$c").as(c)): _*)
      val bSide = sh.as("b")
        .join(bCands, col("b.doc_id") === col("id_b"), "left_semi")
        .select(col("b.doc_id").as("bid"), col("b.sh").as("shb"))
      withA
        .join(bSide.hint("merge"), col("id_b") === col("bid"))
        .where(expr(s"$jac >= $threshold"))
        .select(col("id_a") +: col("id_b") +: blockCols.map(col) :+
          expr(s"CAST($jac AS DOUBLE)").as("jaccard"): _*)
    } else {
      val small = nPairs <= broadcastPairBound
      val candDocs = cands.select(col("id_a").as("doc_id"))
        .union(cands.select(col("id_b").as("doc_id")))
      // broadcast path skips the distinct (the hash relation dedups keys —
      // two fewer stages on the critical path); the shuffled fallback keeps it
      val candKeys = if (small) broadcast(candDocs) else candDocs.distinct()
      // block columns ride candPost so the verify join prunes CROSS-BLOCK
      // gram collisions at the join instead of counting pairs the final
      // cands join would discard anyway (candidates are within-block by
      // construction; this is pure early pruning, not a semantic change)
      val candPost = sh
        .select(col("doc_id") +: col("sh") +: blockCols.map(col): _*)
        .join(candKeys, Seq("doc_id"), "left_semi")
        .select(col("doc_id") +: size(col("sh")).as("n") +:
          explode(col("sh")).as("gram") +: blockCols.map(col): _*)
      candPost.as("a")
        .join(candPost.as("b"), expr(
          s"a.gram = b.gram AND $blockEq AND a.doc_id < b.doc_id"))
        .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
          col("a.n").as("na"), col("b.n").as("nb"))
        .agg(count(lit(1)).as("inter"))
        .where(expr(s"inter * 1.0 / (na + nb - inter) >= $threshold"))
        // pair set known-small when the id set broadcast — same decision makes
        // the block-column join-back a broadcast probe instead of an SMJ
        .join(if (small) broadcast(cands) else cands, Seq("id_a", "id_b"))
        .select(col("id_a") +: col("id_b") +: blockCols.map(col) :+
          expr("CAST(inter * 1.0 / (na + nb - inter) AS DOUBLE)").as("jaccard"): _*)
    }
  }
}

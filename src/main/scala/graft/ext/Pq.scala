package graft.ext

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Product quantization — the memory-compression leg of the ANN family
  * (brute force -> LSH buckets -> IVF cells -> PQ codes): each vector is
  * split into `m` subvectors, each subvector replaced by the id of its
  * nearest codebook centroid, so a `dim x 4`-byte embedding becomes `m`
  * bytes. Search scores compressed codes against a per-query lookup table
  * (asymmetric distance computation): corpus codes are scanned once, the
  * query LUTs are broadcast, and the re-rank tail is the k-bounded TopK
  * Aggregator shared with the other ANN paths.
  *
  * At 100 TB the point is RAM: 1e11 x 768-dim float32 embeddings are ~300 TB
  * raw but ~800 GB as m=8 codes — a size that keeps the scan IO-bound rather
  * than capacity-bound. Training reads a bounded SAMPLE (driver Lloyd
  * iterations over <= `maxSample` rows — documented bounded collect, the
  * same trade as IVF's sampled k-means); encode/search are distributed
  * `mapPartitions` with the broadcast codebook (per-partition setup, the
  * Multimodal batching pattern).
  *
  * No DuckDB oracle: k-means training is not SQL-expressible — behavior is
  * spec-pinned (PqSpec: exact centroid round-trip, recall vs brute force on
  * separated clusters, determinism, code size).
  */
object Pq {

  /** m codebooks of k centroids of dim/m floats each. */
  final case class Model(m: Int, k: Int, dim: Int, codebooks: Array[Array[Array[Float]]])
      extends Serializable {
    def subDim: Int = dim / m
  }

  /** Train per-block codebooks with deterministic driver-side Lloyd
    * iterations over a bounded sample. `sampleFraction` bounds the fetch at
    * the source (push the sample INTO the scan, never collect the corpus);
    * `maxSample` hard-caps driver memory regardless of corpus size.
    */
  def train(corpus: DataFrame, vecCol: String, m: Int, k: Int,
      sampleFraction: Double = 1.0, seed: Long = 42L,
      iters: Int = 10, maxSample: Int = 16384): Model = {
    // Content-stable sampling (the p12 trick): an unordered `limit` takes
    // whatever rows arrive first, which varies with partition layout — the
    // "deterministic under a fixed seed" claim would only hold for one
    // physical plan. Both the fraction thinning and the maxSample cut key on
    // a seeded hash of the vector CONTENT, so the training set — and
    // therefore the codebooks, codes, and recall — is identical across
    // repartitions, parallelism levels, and cluster topologies. Null
    // embeddings can't train a quantizer and are skipped (the PERMISSIVE
    // posture shared with encode).
    val vc = col(vecCol)
    val h = xxhash64(vc, lit(seed))
    val thinned =
      if (sampleFraction < 1.0)
        corpus.where(pmod(h, lit(1000000L)) < lit(math.round(sampleFraction * 1000000L)))
      else corpus
    val sampled = thinned
      .where(vc.isNotNull)
      .select(vc)
      .orderBy(h, vc)
      .limit(maxSample).collect()
      .map(_.getSeq[Float](0).toArray)
    require(sampled.nonEmpty, "PQ training sample is empty")
    val dim = sampled.head.length
    require(dim % m == 0, s"dim $dim must divide into m=$m blocks")
    val ds = dim / m
    val rng = new scala.util.Random(seed)
    val codebooks = Array.tabulate(m) { j =>
      val block = sampled.map(v => java.util.Arrays.copyOfRange(v, j * ds, (j + 1) * ds))
      // deterministic init: k distinct-ish rows at seeded positions
      val cents = Array.tabulate(k)(i => block(((rng.nextInt(Int.MaxValue).toLong + i) % block.length).toInt).clone())
      lloyd(block, cents, iters)
    }
    Model(m, k, dim, codebooks)
  }

  /** Deterministic driver Lloyd over one block of subvectors (empty cells
    * keep their centroid: deterministic, no resample).
    */
  private def lloyd(block: Array[Array[Float]], cents: Array[Array[Float]],
      iters: Int): Array[Array[Float]] = {
    val ds = block.head.length
    val k = cents.length
    var it = 0
    while (it < iters) {
      val sums = Array.fill(k)(new Array[Double](ds))
      val counts = new Array[Long](k)
      block.foreach { v =>
        val c = nearest(cents, v)
        counts(c) += 1
        var t = 0
        while (t < ds) { sums(c)(t) += v(t); t += 1 }
      }
      var c = 0
      while (c < k) {
        if (counts(c) > 0) {
          var t = 0
          while (t < ds) { cents(c)(t) = (sums(c)(t) / counts(c)).toFloat; t += 1 }
        }
        c += 1
      }
      it += 1
    }
    cents
  }

  private def nearest(cents: Array[Array[Float]], v: Array[Float]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      var d = 0.0
      var t = 0
      while (t < v.length) { val x = v(t) - cents(c)(t); d += x * x; t += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  private val codeSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("codes", ArrayType(IntegerType, containsNull = false))))

  /** Encode each vector to its m nearest-centroid ids — the compressed
    * corpus representation. Distributed scan; the model broadcasts with the
    * closure (m*k*subDim floats).
    */
  def encode(df: DataFrame, idCol: String, vecCol: String, model: Model): DataFrame = {
    val enc = RowEncoder.encoderFor(codeSchema)
    // A null embedding has no codes; skip the row (PERMISSIVE posture —
    // matching Multimodal's corrupt-record handling) instead of NPE-ing the
    // task on getSeq(null).toArray. A WRONG-dim vector still fails loudly
    // below: null means "absent", short means "schema drift".
    df.where(col(vecCol).isNotNull)
      .select(col(idCol).cast("long"), col(vecCol)).mapPartitions { it =>
      it.map { r =>
        val v = r.getSeq[Float](1).toArray
        // copyOfRange would silently zero-pad a short vector into plausible
        // garbage codes; surface schema drift instead
        require(v.length == model.dim,
          s"vector of dim ${v.length} does not match PQ model dim ${model.dim}")
        val ds = model.subDim
        val codes = Array.tabulate(model.m) { j =>
          nearest(model.codebooks(j), java.util.Arrays.copyOfRange(v, j * ds, (j + 1) * ds))
        }
        Row(r.getLong(0), codes.toSeq)
      }
    }(enc)
  }

  private val ivfCodeSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("cell", IntegerType),
    StructField("codes", ArrayType(IntegerType, containsNull = false))))

  /** IVF + PQ composed — the FAISS-IVFPQ production shape: assign each
    * vector to its nearest coarse cell, then PQ-encode the RESIDUAL
    * (vector − cell centroid) rather than the vector itself. Residuals are
    * tighter-clustered than raw vectors, so the same codebook budget yields
    * lower quantization error, and the cell id doubles as the probe key:
    * search touches only `nprobe` cells' codes instead of the whole corpus.
    * At 100 TB this is the index you'd actually ship — the corpus lives as
    * (cell, m-byte code) rows partitionable by cell, the coarse+PQ model
    * broadcasts with the closure, and scan volume per query batch is
    * nprobe/nCells of the corpus.
    *
    * Output: (id, cell, codes). Same PERMISSIVE null posture and loud
    * dim-mismatch failure as [[encode]].
    */
  def ivfPqEncode(corpus: DataFrame, idCol: String, vecCol: String,
      coarse: Array[Array[Float]], model: Model): DataFrame = {
    require(coarse.nonEmpty && coarse.forall(_.length == model.dim),
      s"coarse centroids must match PQ model dim ${model.dim}")
    val enc = RowEncoder.encoderFor(ivfCodeSchema)
    corpus.where(col(vecCol).isNotNull)
      .select(col(idCol).cast("long"), col(vecCol)).mapPartitions { it =>
        val ds = model.subDim
        it.map { r =>
          val v = r.getSeq[Float](1).toArray
          require(v.length == model.dim,
            s"vector of dim ${v.length} does not match PQ model dim ${model.dim}")
          val cell = nearest(coarse, v)
          val res = new Array[Float](model.dim)
          var t = 0
          while (t < model.dim) { res(t) = v(t) - coarse(cell)(t); t += 1 }
          val codes = Array.tabulate(model.m) { j =>
            nearest(model.codebooks(j), java.util.Arrays.copyOfRange(res, j * ds, (j + 1) * ds))
          }
          Row(r.getLong(0), cell, codes.toSeq)
        }
      }(enc)
  }

  /** Squared L2 from a query to every coarse centroid — the f32-product /
    * double-accumulate arithmetic shared by encode, probe selection, and the
    * registered oracle.
    */
  private def cellDistances(qv: Array[Float], coarse: Array[Array[Float]]): Array[Double] =
    coarse.map { cent =>
      var d = 0.0
      var t = 0
      while (t < qv.length) { val x = qv(t) - cent(t); d += x * x; t += 1 }
      d
    }

  /** Collect + validate a bounded query batch: (id, vector) with the null /
    * dim checks every ANN entry point shares. One collect — callers that
    * also need driver-side distances reuse the materialized rows rather
    * than re-running the query plan.
    */
  private def collectQueries(queries: DataFrame, idCol: String, vecCol: String,
      model: Model, who: String): Array[(Long, Array[Float])] = {
    val qRows = queries.select(col(idCol).cast("long"), col(vecCol)).collect()
      .map { r =>
        require(!r.isNullAt(1),
          s"$who query id=${r.getLong(0)} has a null $vecCol — queries must carry a vector")
        val v = r.getSeq[Float](1).toArray
        require(v.length == model.dim,
          s"query of dim ${v.length} does not match PQ model dim ${model.dim}")
        (r.getLong(0), v)
      }
    require(qRows.nonEmpty, s"$who needs at least one query vector")
    qRows
  }

  /** ADC top-k over an IVFPQ index: per query rank the coarse cells by
    * squared distance, keep every cell within the `nprobe`-th smallest
    * distance (the tie-stable probe rule), build one residual LUT per
    * probed cell, and score only code rows whose cell is probed — the
    * k-bounded TopK Aggregator re-ranks. Scan volume is sub-linear in the
    * corpus (SimilaritySpec pins it); arithmetic follows the f32 contract
    * of [[adcTopK]] so the registered query gates bitwise.
    */
  def ivfPqTopK(encoded: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      coarse: Array[Array[Float]], model: Model, nprobe: Int, k: Int): DataFrame =
    ivfPqTopKRows(encoded,
      collectQueries(queries, idCol, vecCol, model, "ivfPqTopK"),
      coarse, model, nprobe, k)

  /** Broadcast lifecycle (shared with [[adcTopK]]): the query batch is
    * broadcast per call and referenced by the returned plan's closure, so it
    * cannot be destroyed here — Spark's ContextCleaner reclaims it once the
    * caller drops the DataFrame (weak-reference GC). A long-lived session
    * probing per micro-batch therefore accumulates only broadcasts whose
    * plans are still reachable; callers holding probe results should retain
    * the collected rows, not the DataFrame.
    */
  private def ivfPqTopKRows(encoded: DataFrame, qRows: Array[(Long, Array[Float])],
      coarse: Array[Array[Float]], model: Model, nprobe: Int, k: Int): DataFrame = {
    require(nprobe >= 1 && nprobe <= coarse.length,
      s"nprobe $nprobe out of range for ${coarse.length} cells")
    val spark = encoded.sparkSession
    val qB = spark.sparkContext.broadcast(qRows)
    val enc = RowEncoder.encoderFor(scoredSchema)
    val scored = encoded.select(col("id"), col("cell"), col("codes")).mapPartitions { it =>
      val ds = model.subDim
      // Residual LUTs build LAZILY per (query, cell) on first encounter in
      // this partition: a cell-partitioned store (partition pruning) pays
      // nQueries x |cells present| LUT builds per partition, not
      // nQueries x all-probed-cells. `probed` alone answers the cheap
      // membership test.
      val qstate = qB.value.map { case (qid, qv) =>
        val cellD = cellDistances(qv, coarse)
        val thr = cellD.sorted.apply(nprobe - 1)
        val probed = Array.tabulate(coarse.length)(c => cellD(c) <= thr)
        (qid, qv, probed, new Array[Array[Array[Double]]](coarse.length))
      }
      def lutFor(qv: Array[Float], c: Int): Array[Array[Double]] = {
        val res = new Array[Float](model.dim)
        var t = 0
        while (t < model.dim) { res(t) = qv(t) - coarse(c)(t); t += 1 }
        Array.tabulate(model.m) { j =>
          val qb = java.util.Arrays.copyOfRange(res, j * ds, (j + 1) * ds)
          model.codebooks(j).map { cent =>
            var d = 0.0
            var t2 = 0
            while (t2 < ds) { val x = qb(t2) - cent(t2); d += x * x; t2 += 1 }
            d
          }
        }
      }
      it.flatMap { r =>
        val id = r.getLong(0)
        val cell = r.getInt(1)
        val codes = r.getSeq[Int](2)
        qstate.iterator.collect { case (qid, qv, probed, cache) if qid != id && probed(cell) =>
          var lut = cache(cell)
          if (lut == null) { lut = lutFor(qv, cell); cache(cell) = lut }
          var d = 0.0
          var j = 0
          while (j < model.m) { d += lut(j)(codes(j)); j += 1 }
          Row(qid, id, -d)
        }
      }
    }(enc)
    Similarity.topKByQuery(scored, k)
  }

  private val scoredSchema = StructType(Seq(
    StructField("qid", LongType),
    StructField("id", LongType),
    StructField("score", DoubleType)))

  /** ADC top-k: for each query build the m x k table of squared distances to
    * every centroid once per partition, score each code row as the sum of m
    * lookups, and re-rank through the shared k-bounded TopK Aggregator.
    * `score` is the NEGATED approximate squared L2 distance (larger = nearer)
    * so the output shape matches the cosine ANN paths: (qid, rank, id,
    * score).
    */
  def adcTopK(encoded: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      model: Model, k: Int): DataFrame = {
    val spark = encoded.sparkSession
    val qRows = queries.select(col(idCol).cast("long"), col(vecCol)).collect()
      .map { r =>
        // a query with no vector is caller error, not skippable data
        require(!r.isNullAt(1),
          s"adcTopK query id=${r.getLong(0)} has a null $vecCol — queries must carry a vector")
        (r.getLong(0), r.getSeq[Float](1).toArray)
      }
    require(qRows.nonEmpty, "adcTopK needs at least one query vector")
    val qB = spark.sparkContext.broadcast(qRows)
    val enc = RowEncoder.encoderFor(scoredSchema)
    val scored = encoded.select(col("id"), col("codes")).mapPartitions { it =>
      val ds = model.subDim
      // per-partition LUTs: luts(q)(j)(c) = |query block j - centroid c|^2
      val luts = qB.value.map { case (qid, qv) =>
        (qid, Array.tabulate(model.m) { j =>
          val qb = java.util.Arrays.copyOfRange(qv, j * ds, (j + 1) * ds)
          model.codebooks(j).map { cent =>
            var d = 0.0
            var t = 0
            while (t < ds) { val x = qb(t) - cent(t); d += x * x; t += 1 }
            d
          }
        })
      }
      it.flatMap { r =>
        val id = r.getLong(0)
        val codes = r.getSeq[Int](1)
        luts.iterator.collect { case (qid, lut) if qid != id =>
          var d = 0.0
          var j = 0
          while (j < model.m) { d += lut(j)(codes(j)); j += 1 }
          Row(qid, id, -d)
        }
      }
    }(enc)
    Similarity.topKByQuery(scored, k)
  }
}

package graft.tools

import graft.GraftSession
import org.apache.spark.sql.functions._

/** IVFPQ quality probe: recall@k of the quantized index against exact
  * squared-L2 ground truth, for BOTH the registered rows' fixed seeded
  * constants (n4/n6's model — random centroids/codebooks, kept constant
  * because their DuckDB oracles must be static SQL) and per-corpus TRAINED
  * models ([[graft.ext.Pq.trainIvfPq]]), across nprobe settings — the
  * FAISS-style recall/nprobe table SCALE.md records (the quality half of
  * the "IVFPQ is the production ANN" claim; the cost half is n4's plan).
  *
  * Usage: runMain graft.tools.PqRecallProbe <sfDir> [nQueries] [k]
  * Mirrors n6's setup: 16-dim embedding slice, m=4 x k=4 residual
  * codebooks, 8 coarse cells (seeded) vs 8/16 trained cells.
  */
object PqRecallProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val nQueries = if (args.length > 1) args(1).toInt else 100
    val k = if (args.length > 2) args(2).toInt else 10
    val spark = GraftSession.local()
    graft.functions.GraftFunctions.register(spark)

    val emb = graft.analytics.Tables.embeddings(spark, dir)
      .selectExpr("vec_id", "slice(embedding, 1, 16) AS v16")
      .localCheckpoint(eager = false)
    val nVecs = emb.count()
    val queries = emb.where(col("vec_id") < nQueries)

    // exact ground truth: top-k by squared L2 (monotone in 2*q.v - v.v)
    val dv = emb.selectExpr("vec_id", "CAST(v16 AS ARRAY<DOUBLE>) AS dvec")
    val q = dv.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("dvec").as("qv"))
    val scored = dv.join(broadcast(q), expr("vec_id <> qid"))
      .selectExpr("qid", "vec_id AS id", "2 * array_dot(qv, dvec) - array_dot(dvec, dvec) AS score")
    val gt = graft.ext.Similarity.topKByQuery(scored, k)
      .select(col("qid"), col("rank"), col("id"))
      .localCheckpoint(eager = false)
    val nGt = gt.count()
    println(s"PQRECALL dir=$dir vecs=$nVecs queries=$nQueries gtRows=$nGt")

    // recall@N in the standard sense: |true-top-N ∩ retrieved-top-N| over
    // the ACTUAL ground-truth rows at that depth (comparing true-top-N
    // against the full retrieved-top-k would count a 6th-ranked retrieval
    // as a recall@5 hit and inflate the metric)
    def recallAt(approx: org.apache.spark.sql.DataFrame, at: Int): Double = {
      val gtAt = gt.where(col("rank") <= at).select("qid", "id")
      val apAt = approx.where(col("rank") <= at).select("qid", "id")
      val denom = math.max(1L, gtAt.count())
      gtAt.join(apAt, Seq("qid", "id")).count().toDouble / denom
    }

    def line(label: String, coarse: Array[Array[Float]],
        model: graft.ext.Pq.Model, nprobe: Int): Unit = {
      val encoded = graft.ext.Pq.ivfPqEncode(emb, "vec_id", "v16", coarse, model)
      val approx = graft.ext.Pq
        .ivfPqTopK(encoded, queries, "vec_id", "v16", coarse, model, nprobe, k)
        .select(col("qid"), col("rank"), col("id"))
        .localCheckpoint(eager = false)
      approx.count()
      println(f"PQRECALL $label%-28s cells=${coarse.length}%2d nprobe=$nprobe%d " +
        f"recall@5=${recallAt(approx, 5)}%.3f recall@10=${recallAt(approx, math.min(10, k))}%.3f")
    }

    val seededCoarse = graft.analytics.ExtensionQueries.sdCent
    val seededModel = graft.analytics.ExtensionQueries.pqModel
    for (np <- Seq(1, 2, 4))
      line("seeded-constant(n4/n6)", seededCoarse, seededModel, np)
    val (c8, m8) = graft.ext.Pq.trainIvfPq(emb, "v16", nCells = 8, m = 4, k = 4)
    for (np <- Seq(1, 2, 4))
      line("trained(8 cells, 4x4)", c8, m8, np)
    val (c16, m16) = graft.ext.Pq.trainIvfPq(emb, "v16", nCells = 16, m = 4, k = 16)
    for (np <- Seq(1, 2, 4))
      line("trained(16 cells, 4x16)", c16, m16, np)
    // code-budget sweep at fixed cells: where does recall saturate on this
    // corpus? (m=8 x k=16 = 32-bit codes; m=8 x k=64 = 48-bit)
    val (c16b, m16b) = graft.ext.Pq.trainIvfPq(emb, "v16", nCells = 16, m = 8, k = 16)
    for (np <- Seq(2, 4, 8))
      line("trained(16 cells, 8x16)", c16b, m16b, np)
    val (c16c, m16c) = graft.ext.Pq.trainIvfPq(emb, "v16", nCells = 16, m = 8, k = 64)
    for (np <- Seq(2, 4, 8))
      line("trained(16 cells, 8x64)", c16c, m16c, np)
    spark.stop()
  }
}

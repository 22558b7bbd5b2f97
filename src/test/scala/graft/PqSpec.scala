package graft

import org.apache.spark.sql.functions._

import graft.ext.{Pq, Similarity}

/** Product quantization: codebook round-trip, ADC recall vs brute force,
  * determinism, compression. Spec-pinned (k-means is not oracle-expressible).
  */
class PqSpec extends SparkSpec {
  import spark.implicits._

  /** 5 well-separated cluster centers in 16-dim; 40 seeded points each. */
  private lazy val clustered: Seq[(Long, Array[Float])] = {
    val rng = new scala.util.Random(11)
    (0 until 200).map { i =>
      val c = i % 5
      val v = Array.tabulate(16)(t => (if (t / 4 == c % 4) 10f * (c + 1) else 0f) +
        rng.nextFloat() * 0.5f)
      (i.toLong, v)
    }
  }

  private lazy val df = clustered.toDF("id", "v")

  test("vectors equal to a trained centroid round-trip with zero reconstruction error") {
    val model = Pq.train(df, "v", m = 4, k = 8, seed = 7L)
    // take each block-0 centroid, assemble a vector from centroids of every
    // block, encode it: the code must point back at exactly those centroids
    val probe = Array.tabulate(16) { t =>
      val j = t / model.subDim
      model.codebooks(j)(3)(t % model.subDim)
    }
    val codes = Pq.encode(Seq((0L, probe)).toDF("id", "v"), "id", "v", model)
      .collect()(0).getSeq[Int](1)
    assert(codes == Seq(3, 3, 3, 3), s"exact centroid must encode to itself: $codes")
  }

  test("training is deterministic for a fixed seed") {
    val m1 = Pq.train(df, "v", m = 4, k = 8, seed = 7L)
    val m2 = Pq.train(df, "v", m = 4, k = 8, seed = 7L)
    assert(m1.codebooks.flatten.flatten.toSeq == m2.codebooks.flatten.flatten.toSeq)
  }

  test("codebooks are identical across partition layouts (content-stable sample)") {
    // an unordered limit() would take partition-arrival order — repartition(7)
    // must not change which rows train the quantizer
    val m1 = Pq.train(df, "v", m = 4, k = 8, seed = 7L)
    val m2 = Pq.train(df.repartition(7), "v", m = 4, k = 8, seed = 7L)
    val m3 = Pq.train(df.repartition(3, col("id")), "v", m = 4, k = 8, seed = 7L,
      sampleFraction = 0.9)
    val m4 = Pq.train(df.coalesce(1), "v", m = 4, k = 8, seed = 7L, sampleFraction = 0.9)
    assert(m1.codebooks.flatten.flatten.toSeq == m2.codebooks.flatten.flatten.toSeq,
      "full-corpus training set must be layout-independent")
    assert(m3.codebooks.flatten.flatten.toSeq == m4.codebooks.flatten.flatten.toSeq,
      "fraction thinning must key on content, not partition+seed")
  }

  test("null embeddings are skipped by train/encode; a null QUERY vector fails loudly") {
    val withNulls = clustered.map { case (i, v) => (i, if (i % 7 == 0) null else v) }
      .toDF("id", "v")
    val model = Pq.train(withNulls, "v", m = 4, k = 8, seed = 7L)
    val out = Pq.encode(withNulls, "id", "v", model).collect()
    assert(out.length == clustered.count(_._1 % 7 != 0), "null rows skipped, not NPE")
    val e = intercept[IllegalArgumentException] {
      Pq.adcTopK(Pq.encode(df, "id", "v", model),
        Seq((0L, null: Array[Float])).toDF("id", "v"), "id", "v", model, k = 1)
    }
    assert(e.getMessage.contains("null v"), s"clear message, got: ${e.getMessage}")
  }

  test("codes compress dim*4 bytes to m small ints") {
    val model = Pq.train(df, "v", m = 4, k = 8)
    val out = Pq.encode(df, "id", "v", model).collect()
    assert(out.length == 200)
    assert(out.forall(_.getSeq[Int](1).size == 4), "m codes per vector")
    assert(out.forall(_.getSeq[Int](1).forall(c => c >= 0 && c < 8)), "codes index the codebook")
  }

  test("encode rejects vectors whose dimension does not match the model") {
    val model = Pq.train(df, "v", m = 4, k = 8)
    val short = Seq((0L, Array.fill(12)(1.0f))).toDF("id", "v")
    val e = intercept[org.apache.spark.SparkException] {
      Pq.encode(short, "id", "v", model).collect()
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t: Throwable)(_.getCause).takeWhile(_ != null).map(_.getMessage).toSeq
    assert(chain(e).exists(m => m != null && m.contains("does not match PQ model dim")))
  }

  test("ADC top-k recall@1 vs brute-force cosine on separated clusters") {
    val model = Pq.train(df, "v", m = 4, k = 16, seed = 7L)
    val encoded = Pq.encode(df, "id", "v", model).cache()
    val prepared = Similarity.prepare(df, "id", "v").cache()
    val queryIds = Seq(0L, 1L, 2L, 3L, 4L)
    val hits = queryIds.count { q =>
      val bf = Similarity
        .bruteForceTopK(prepared, prepared.where(col("id") === q), k = 1)
        .collect()(0).getAs[Long]("id")
      val pq = Pq.adcTopK(encoded, df.where(col("id") === q), "id", "v", model, k = 1)
        .collect()(0).getAs[Long]("id")
      // same cluster counts as a hit: ADC approximates L2, brute force ranks
      // by cosine — on separated clusters both must agree at cluster level
      pq % 5 == bf % 5
    }
    assert(hits >= 4, s"recall@1 (cluster level) must be >= 4/5, got $hits")
  }

  test("ivfPqEncode: planted coarse+codebook vectors round-trip exactly") {
    val model = Pq.train(df, "v", m = 4, k = 8, seed = 7L)
    // well-separated coarse cells so the planted residual can't flip the cell
    val coarse = Array.tabulate(3)(c => Array.tabulate(16)(t => c * 100.0f + t * 0.1f))
    val probe = Array.tabulate(16) { t =>
      val j = t / model.subDim
      coarse(1)(t) + model.codebooks(j)(2)(t % model.subDim)
    }
    val row = Pq.ivfPqEncode(Seq((0L, probe)).toDF("id", "v"), "id", "v", coarse, model)
      .collect()(0)
    assert(row.getInt(1) == 1, s"nearest coarse cell must win: $row")
    // f32 subtraction recovers the centroid exactly (x + c - c == x in f32
    // only when magnitudes are benign — 100 vs <=40 here), so codes point
    // back at the planted codebook entries
    assert(row.getSeq[Int](2) == Seq(2, 2, 2, 2), s"residual must encode to itself: $row")
  }

  test("ivfPqTopK with nprobe = nCells reproduces a driver-side full ADC rescore") {
    val model = Pq.train(df, "v", m = 4, k = 8, seed = 7L)
    val coarse = Array.tabulate(4)(c =>
      Array.tabulate(16)(t => (if (t / 4 == c) 10f * (c + 1) else 0f)))
    val encoded = Pq.ivfPqEncode(df, "id", "v", coarse, model).cache()
    val out = Pq.ivfPqTopK(encoded, df.where(col("id") < 3), "id", "v",
      coarse, model, nprobe = coarse.length, k = 3).collect()
    // recompute expected ranks in plain Scala from the collected codes
    val codeRows = encoded.collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2)))
    val byId = clustered.toMap
    (0L until 3L).foreach { q =>
      val qv = byId(q)
      val expected = codeRows.filter(_._1 != q).map { case (id, cell, codes) =>
        val res = Array.tabulate(model.dim)(t => qv(t) - coarse(cell)(t))
        var d = 0.0
        (0 until model.m).foreach { j =>
          val cent = model.codebooks(j)(codes(j))
          var b = 0.0
          (0 until model.subDim).foreach { t =>
            val x = res(j * model.subDim + t) - cent(t); b += x * x
          }
          d += b
        }
        (id, -d)
      }.sortBy { case (id, s) => (-s, id) }.take(3).map(_._1).toSeq
      val got = out.filter(_.getAs[Long]("qid") == q).sortBy(_.getAs[Long]("rank"))
        .map(_.getAs[Long]("id")).toSeq
      assert(got == expected, s"q=$q: ivfpq ranks diverge from full rescore")
    }
  }

  test("ivfPqTopK probes sub-linearly: nprobe=1 only reaches the query's own cell") {
    val model = Pq.train(df, "v", m = 4, k = 8, seed = 7L)
    val coarse = Array.tabulate(4)(c =>
      Array.tabulate(16)(t => (if (t / 4 == c) 10f * (c + 1) else 0f)))
    val encoded = Pq.ivfPqEncode(df, "id", "v", coarse, model).cache()
    val cellOf = encoded.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // query AT a coarse centroid: its own cell distance is 0, so nprobe=1
    // probes exactly that cell
    val q = Seq((999L, coarse(2))).toDF("id", "v")
    val hits = Pq.ivfPqTopK(encoded, q, "id", "v", coarse, model, nprobe = 1, k = 10)
      .collect().map(_.getAs[Long]("id"))
    assert(hits.nonEmpty, "cell 2 has members")
    assert(hits.forall(cellOf(_) == 2), "nprobe=1 must never score a foreign cell")
  }

  test("adcTopK output shape matches the ANN family: (qid, rank, id, score), k-bounded plan") {
    val model = Pq.train(df, "v", m = 4, k = 8)
    val encoded = Pq.encode(df, "id", "v", model)
    val out = Pq.adcTopK(encoded, df.where(col("id") === 0), "id", "v", model, k = 3)
    assert(out.columns.toSeq == Seq("qid", "rank", "id", "score"))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "re-rank must be the TopK Aggregator, not a window sort")
    val rows = out.collect()
    assert(rows.length == 3 && rows.map(_.getAs[Long]("rank")).toSeq == Seq(1L, 2L, 3L))
  }
}

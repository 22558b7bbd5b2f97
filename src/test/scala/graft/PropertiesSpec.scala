package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.gold.{Cleaner, GoldWriter}
import graft.silver.Transformer

/** ScalaCheck properties for the algebraic operator laws (SURVEY §5):
  * dedup/upsert idempotence, imputation totality, boolean standardization
  * domain.
  */
class PropertiesSpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic property runner: evaluate `gen` over fixed seeds (the
    * scalatest+scalacheck bridge isn't in the offline cache, so properties
    * are driven directly).
    */
  private def forAllSeeded[A](gen: Gen[A], n: Int = 15)(body: A => Unit): Unit =
    (1 to n).foreach { i =>
      gen(Gen.Parameters.default, Seed(42L + i)).foreach(body)
    }

  private val keyGen = Gen.oneOf("k1", "k2", "k3", "k4")
  private val rowsGen = Gen.listOfN(12, Gen.zip(keyGen, Gen.choose(0, 99)))

  test("property: dedupKeepFirst is idempotent and keeps one row per key") {
    forAllSeeded(rowsGen) { rows =>
      if (rows.nonEmpty) {
        val df = rows.toDF("id", "v")
        val once = Transformer.dedupKeepFirst(df, "id", Seq(col("v")))
        val twice = Transformer.dedupKeepFirst(once, "id", Seq(col("v")))
        val a = once.orderBy("id").collect().toSeq
        assert(a == twice.orderBy("id").collect().toSeq)
        assert(once.select("id").distinct().count() == once.count())
      }
    }
  }

  test("property: upsert is idempotent — write(write(db,b),b) == write(db,b)") {
    forAllSeeded(Gen.listOfN(6, Gen.zip(keyGen, Gen.choose(0, 9))), n = 6) { rows =>
      if (rows.nonEmpty) {
        val path = tmpDir("prop-gold") + "/gold"
        val batch = rows.toDF("crash_record_id", "v")
        GoldWriter.upsertBucketed(spark, batch, path)
        val after1 = spark.read.parquet(path).orderBy("crash_record_id", "v").collect().toSeq
        val r2 = GoldWriter.upsertBucketed(spark, batch, path)
        val after2 = spark.read.parquet(path).orderBy("crash_record_id", "v").collect().toSeq
        assert(r2.insertedRows == 0)
        assert(after1 == after2)
      }
    }
  }

  test("property: boolean standardization is total with range {0,1}") {
    forAllSeeded(Gen.option(Gen.oneOf("Y", "yes", "t", "junk", "0", "1.0", "NO", " y ", ""))) { v =>
      val schema = StructType(Seq(StructField("b", StringType)))
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(Row(v.orNull))), schema)
      val out = df.select(Cleaner.standardizeBoolean(col("b")).as("r")).collect()(0)
      assert(!out.isNullAt(0) && Set(0, 1).contains(out.getInt(0)))
    }
  }

  test("property: exactQuantile == Spark percentile bitwise on arbitrary data and q") {
    val valGen = Gen.listOfN(60,
      Gen.oneOf(
        Gen.choose(-1e6, 1e6),
        Gen.choose(-5.0, 5.0),
        Gen.oneOf(0.0, 1.0, 1.0, -0.0, 42.42))) // heavy ties + mixed magnitudes
    val caseGen = Gen.zip(valGen, Gen.oneOf(0.0, 0.1, 0.25, 0.5, 0.9, 0.95, 1.0))
    forAllSeeded(caseGen, n = 8) { case (vals, q) =>
      val df = vals.toDF("x")
      val want = df.agg(percentile(col("x"), lit(q))).first().getDouble(0)
      val got = graft.ops.ScaleOps
        .exactQuantile(df, "x", q, bins = 8, collectThreshold = 4).get
      assert(got == want, s"q=$q: $got != $want over ${vals.take(5)}...")
    }
  }

  test("property: exactQuantileByGroup == grouped percentile bitwise on arbitrary data") {
    val rowGen = Gen.listOfN(40, Gen.zip(
      Gen.oneOf("g1", "g2", "g3"),
      Gen.oneOf(Gen.choose(-100.0, 100.0), Gen.oneOf(0.0, 7.5, 7.5, -3.25))))
    val caseGen = Gen.zip(rowGen, Gen.oneOf(0.0, 0.25, 0.5, 0.9, 1.0))
    forAllSeeded(caseGen, n = 6) { case (rows, q) =>
      val df = rows.toDF("g", "x")
      val want = df.groupBy("g").agg(percentile(col("x"), lit(q)).as("p"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val got = graft.ops.ScaleOps
        .exactQuantileByGroup(df, "g", "x", q, bins = 4, collectThreshold = 3)
      assert(got == want, s"q=$q: $got != $want")
    }
  }

  test("property: the cleaning chain leaves no nulls in imputed columns") {
    val hourGen = Gen.option(Gen.choose(0, 23)).map(_.map(_.toString).orNull)
    forAllSeeded(Gen.listOfN(5, hourGen), n = 5) { hours =>
      val cols = Cleaner.reqCols
      val rows = hours.zipWithIndex.map { case (h, i) =>
        Row.fromSeq(cols.map {
          case "crash_record_id" => s"c$i"
          case "crash_date"      => "2024-01-03T10:30:00"
          case "crash_hour"      => h
          case "latitude"        => "41.85"
          case "longitude"       => "-87.65"
          case _                 => null
        })
      }
      val schema = StructType(cols.map(c => StructField(c, StringType)))
      val df = spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
      val out = Cleaner.cleanData(df)
      // Constant/categorical/bool imputation is total. Median imputation is
      // total only when the column has at least one observed value — the
      // reference's pandas median of an all-NaN column is NaN and its fillna
      // is then a no-op (cleaning_rules.py:198-202), and we replicate that.
      val alwaysFilled = (Cleaner.categoricalFillCols ++ Cleaner.boolCols :+
        "injuries_total" :+ "latitude" :+ "longitude").distinct
      val hourFilled = if (hours.exists(_ != null)) Seq("crash_hour") else Nil
      val checkCols = alwaysFilled ++ hourFilled
      val nullCounts = out
        .select(checkCols.map(c => sum(when(col(c).isNull, 1).otherwise(0)).as(c)): _*)
        .collect()(0)
      checkCols.indices.foreach { i =>
        assert(nullCounts.getLong(i) == 0, s"nulls remain in ${checkCols(i)}")
      }
    }
  }

  test("property: BPE encode concatenates back to the word under arbitrary merge tables") {
    val wordGen = Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString)
    val mergeGen = Gen.listOfN(6,
      Gen.zip(Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.take(2).mkString),
        Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.take(2).mkString)))
    forAllSeeded(Gen.zip(wordGen, mergeGen), n = 40) { case (w, merges) =>
      val toks = graft.ext.Bpe.encodeWord(w, graft.ext.Bpe.Model(merges))
      assert(toks.mkString("") == w, s"lossy tokenization of '$w' under $merges")
      assert(toks.length >= 1 && toks.length <= w.length, s"token count out of range for '$w'")
    }
  }

  test("property: the WAV header parse yields the exact duration for arbitrary rates and signals") {
    val sigGen = Gen.zip(
      Gen.choose(4000, 48000),
      Gen.listOfN(64, Gen.choose(-32768, 32767)))
    forAllSeeded(sigGen, n = 20) { case (rate, samples) =>
      val frames = new Array[Byte](samples.length * 2)
      samples.zipWithIndex.foreach { case (s, i) =>
        frames(2 * i) = (s & 0xff).toByte
        frames(2 * i + 1) = ((s >> 8) & 0xff).toByte
      }
      val bb = java.nio.ByteBuffer.allocate(44 + frames.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes).putInt(36 + frames.length).put("WAVE".getBytes)
      bb.put("fmt ".getBytes).putInt(16)
        .putShort(1).putShort(1).putInt(rate).putInt(rate * 2).putShort(2).putShort(16)
      bb.put("data".getBytes).putInt(frames.length).put(frames)
      // the reference: frames written over the rate written, rounded to ms
      val want = math.round(samples.length * 1000.0 / rate).toInt
      val got = graft.ext.Multimodal.AudioCodec.durationMs(bb.array())
        .getOrElse(fail(s"valid PCM WAV at rate $rate must parse"))
      assert(got == want, s"${samples.length} frames at $rate Hz: $got ms, want $want")
    }
  }

  test("TopKTerms: merge of partials == reduce of the whole == sort-take (vocab ranking law)") {
    import graft.ext.Similarity.{ScoredTerm, TopKTerms}
    val itemGen = Gen.listOfN(18,
      Gen.zip(Gen.choose(0, 5).map(i => s"w$i"), Gen.choose(0, 4).map(_.toDouble / 2)))
    forAllSeeded(Gen.zip(itemGen, Gen.choose(1, 6), Gen.choose(0, 18)), n = 25) {
      case (items, k, split) =>
        val st = items.map { case (t, s) => ScoredTerm(s, t) }
        val agg = new TopKTerms(k)
        val whole = st.foldLeft(agg.zero)(agg.reduce)
        val (l, r) = st.splitAt(split.min(st.length))
        val merged = agg.merge(l.foldLeft(agg.zero)(agg.reduce), r.foldLeft(agg.zero)(agg.reduce))
        val want = st.sortBy(x => (-x.score, x.term)).take(k)
        assert(whole == want, s"fold diverges from sort-take: $whole vs $want")
        assert(merged == want, s"partial merge diverges from sort-take: $merged vs $want")
    }
  }

  test("tokenBudgetSampleByGroup == driver running-sum reference on randomized corpora") {
    // randomized differential test for the boundary-descent sampler: rows,
    // weights (incl. zeros) and budgets all drawn per seed; tiny
    // collectThreshold forces multi-pass descent through random key shapes
    val caseGen = for {
      n <- Gen.choose(30, 120)
      rows <- Gen.listOfN(n, Gen.zip(Gen.choose(0, 2).map(g => s"g$g"), Gen.choose(0L, 8L)))
      budgets <- Gen.listOfN(3, Gen.choose(0L, 150L))
    } yield (rows, budgets)
    forAllSeeded(caseGen, n = 10) { case (rows, bs) =>
      val keyed = rows.zipWithIndex.map { case ((g, w), i) =>
        // md5-style key: hash-prefix + unique zero-padded suffix
        (i.toLong, g, f"${(g + i).hashCode.abs % 4096}%03x${i}%04d", w)
      }
      val df = keyed.toDF("id", "g", "key", "w")
      val budgets = bs.zipWithIndex.map { case (b, i) => (s"g$i", b) }.toDF("g", "budget")
      val got = graft.ops.ScaleOps
        .tokenBudgetSampleByGroup(df, "g", col("key"), "w", budgets,
          step = 1, collectThreshold = 8)
        .collect().map(_.getAs[Long]("id")).toSet
      val want = bs.zipWithIndex.flatMap { case (b, gi) =>
        var acc = 0L
        keyed.filter(_._2 == s"g$gi").sortBy(_._3).flatMap { r =>
          val keep = acc < b
          acc += r._4
          if (keep) Some(r._1) else None
        }
      }.toSet
      assert(got == want, s"boundary descent diverges from running-sum reference")
    }
  }

  test("quotaSampleByGroup == driver rank reference on randomized corpora") {
    val caseGen = for {
      n <- Gen.choose(20, 100)
      rows <- Gen.listOfN(n, Gen.choose(0, 2).map(g => s"g$g"))
      quotas <- Gen.listOfN(3, Gen.choose(0, 12))
    } yield (rows, quotas)
    forAllSeeded(caseGen, n = 10) { case (rows, qs) =>
      val keyed = rows.zipWithIndex.map { case (g, i) =>
        (i.toLong, g, f"${(g + i).hashCode.abs % 4096}%03x${i}%04d")
      }
      val df = keyed.toDF("id", "g", "key")
      val quotas = qs.zipWithIndex.map { case (q, i) => (s"g$i", q) }.toDF("g", "quota")
      val got = graft.ops.ScaleOps
        .quotaSampleByGroup(df, "g", col("key"), quotas, maxQuota = 12)
        .collect().map(_.getAs[Long]("id")).toSet
      val want = qs.zipWithIndex.flatMap { case (q, gi) =>
        keyed.filter(_._2 == s"g$gi").sortBy(_._3).take(q).map(_._1)
      }.toSet
      assert(got == want, s"threshold selection diverges from rank reference")
    }
  }

  test("BottomK: merge of partials == reduce of the whole; buffer bounded and sorted") {
    // the law partial aggregation relies on: any split of the input stream,
    // reduced independently and merged, equals the sequential fold — and
    // both equal a sort-and-take (the semantics quotaSampleByGroup's
    // threshold selection assumes)
    val keyGen2 = Gen.listOfN(20, Gen.choose(0, 9999).map(i => f"$i%05d"))
    val caseGen2 = Gen.zip(keyGen2, Gen.choose(1, 8), Gen.choose(0, 20))
    forAllSeeded(caseGen2, n = 25) { case (keys, k, split) =>
      val agg = new graft.ops.ScaleOps.BottomK(k)
      val whole = keys.foldLeft(agg.zero)(agg.reduce)
      val (l, r) = keys.splitAt(split.min(keys.length))
      val merged = agg.merge(l.foldLeft(agg.zero)(agg.reduce), r.foldLeft(agg.zero)(agg.reduce))
      val want = keys.sorted.take(k)
      assert(whole == want, s"sequential fold diverges from sort-take: $whole vs $want")
      assert(merged == want, s"partial merge diverges from sort-take: $merged vs $want")
      assert(merged.length <= k && merged == merged.sorted, "buffer bounded and sorted")
    }
  }

  test("property: ngramJaccardPairs == brute-force blocked Jaccard on random near-dup corpora") {
    // Candidate-completeness of the prefix filter is a THEOREM only under a
    // consistent global shingle order; this pins the implementation against
    // corpora it never saw: random docs built from a small vocabulary (so
    // shingle collisions are common), random mutations of a base doc (so
    // near-dup pairs at assorted Jaccard levels exist), random threshold.
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
    val docGen = for {
      base <- Gen.listOfN(14, Gen.oneOf(vocab))
      nMut <- Gen.choose(0, 4)
      idxs <- Gen.listOfN(nMut, Gen.choose(0, 13))
      w <- Gen.oneOf(vocab)
    } yield {
      val arr = base.toArray
      idxs.foreach(i => arr(i) = w)
      arr.mkString(" ")
    }
    val corpusGen = for {
      texts <- Gen.listOfN(8, docGen)
      t <- Gen.oneOf(0.5, 0.7, 0.8)
    } yield (texts, t)
    forAllSeeded(corpusGen, n = 4) { case (texts, t) =>
      graft.functions.GraftFunctions.register(spark)
      val docs = texts.zipWithIndex
        .map { case (txt, i) => (i.toLong, if (i % 2 == 0) "en" else "de", "web", txt) }
        .toDF("doc_id", "lang", "source", "text")
      val got = graft.ext.Similarity.ngramJaccardPairs(docs, t)
        .select("id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val sh = docs
        .selectExpr("doc_id", "lang", "source", graft.ext.MinHash.splitExpr)
        .selectExpr("doc_id", "lang", "source", s"(${graft.ext.MinHash.shingleExpr}) AS sh")
      val want = sh.as("a").join(sh.as("b"), expr(
          "a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id"))
        .where(expr(s"${graft.ext.MinHash.jaccardExpr("a.sh", "b.sh")} >= $t"))
        .select(col("a.doc_id"), col("b.doc_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == want,
        s"prefix-filtered join diverged at t=$t on ${texts.mkString(" | ")}: $got vs $want")
    }
  }

  test("property: asofJoin == range-join + argmax on arbitrary key/time data with ties") {
    // small time domain on purpose: forces equal-time left/right collisions
    // (inclusive semantics) and keys with empty histories (null matches)
    val gen = Gen.zip(
      Gen.listOfN(30, Gen.zip(Gen.choose(0L, 3L), Gen.choose(0, 20))),
      Gen.listOfN(15, Gen.zip(Gen.choose(0L, 3L), Gen.choose(0, 20))))
    forAllSeeded(gen, n = 10) { case (lRows, rRows) =>
      val left = lRows.zipWithIndex
        .map { case ((k, t), i) => (i.toLong, k, t) }.toDF("lid", "k", "t")
      val right = rRows.distinct
        .groupBy { case (k, t) => (k, t) }.map(_._2.head).toSeq // unique (k, t)
        .zipWithIndex.map { case ((k, t), i) => (k, t, s"p$i") }
        .toDF("k", "t", "payload")
      val got = graft.ops.ScaleOps
        .asofJoin(left, right, Seq("k"), "t", Seq("payload"))
        .select("lid", "asof_payload", "asof_t")
        .collect().map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)))).toSet
      val want = left.as("l")
        .join(right.as("r"), expr("l.k = r.k AND l.t >= r.t"), "left")
        .groupBy(col("l.lid").as("lid"))
        .agg(max(struct(col("r.t"), col("r.payload"))).as("m"))
        .select(col("lid"), col("m.payload"), col("m.t"))
        .collect().map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)))).toSet
      assert(got == want, s"asof diverged: ${got.diff(want)} vs ${want.diff(got)}")
    }
  }

  test("property: ActiveUsers explosion == sweep on arbitrary sparse activity") {
    val gen = Gen.listOfN(60, Gen.zip(Gen.choose(0, 50), Gen.choose(0L, 9L)))
    forAllSeeded(gen, n = 8) { pairs =>
      val events = pairs.map { case (day, u) =>
        (java.sql.Timestamp.valueOf(f"2024-01-${day % 28 + 1}%02d 0${day % 10}:00:00"), u)
      }.toDF("ts", "user_id")
      val du = graft.ops.ActiveUsers.dailyUsers(events).localCheckpoint(eager = false)
      val windows = Seq(3 -> "w3", 11 -> "w11")
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.select("day", "dau", "w3", "w11").orderBy("day").collect().toSeq
      assert(canon(graft.ops.ActiveUsers.viaExplosion(du, windows)) ==
        canon(graft.ops.ActiveUsers.viaSweep(du, windows)),
        s"forms diverged on ${pairs.take(8)}...")
    }
  }

  test("property: LangModel scoreDocs == driver-side backoff reference on random corpora") {
    // small vocab with a rarity gradient so every backoff branch fires:
    // frequent words hit bigrams, mid words hit unigram backoff, and the
    // 'x'-words are train-OOV in most samples
    val wordGen = Gen.frequency(
      5 -> Gen.oneOf("a", "b"), 3 -> Gen.oneOf("c", "d", "e"),
      1 -> Gen.oneOf("x1", "x2", "x3"))
    val docGen = Gen.choose(1, 8).flatMap(n => Gen.listOfN(n, wordGen))
    val corpusGen = Gen.listOfN(9, docGen)
    def bl(x: Long): Int = 64 - java.lang.Long.numberOfLeadingZeros(x)
    forAllSeeded(corpusGen, n = 6) { docsRaw =>
      val docs = docsRaw.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val train = docs.filter(_._1 % 3 == 0).map(_._2)
      if (train.flatten.nonEmpty) {
        // driver reference: the LangModel scaladoc rule, verbatim
        val uni = train.flatten.groupBy(identity).map { case (w, l) => w -> l.size.toLong }
        val big = train.flatMap(t => t.sliding(2).filter(_.size == 2).map(p => (p(0), p(1))))
          .groupBy(identity).map { case (p, l) => p -> l.size.toLong }
        val tb = bl(uni.values.sum)
        val want = docs.map { case (id, t) =>
          val bits = t.zipWithIndex.map { case (w, i) =>
            if (i == 0) uni.get(w).map(c => tb - bl(c)).getOrElse(tb + 8)
            else big.get((t(i - 1), w)) match {
              case Some(cb) => bl(uni(t(i - 1))) - bl(cb)
              case None => uni.get(w).map(cw => 2 + tb - bl(cw)).getOrElse(2 + tb + 8)
            }
          }.sum.toLong
          id -> ((t.size.toLong, bits))
        }.toMap
        val tok = docs.toDF("doc_id", "t")
        val m = graft.ext.LangModel.train(tok.where(col("doc_id") % 3 === 0).select("t"))
        val got = graft.ext.LangModel.scoreDocs(tok, m, Seq("doc_id"))
          .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
        assert(got == want, s"LM diverged: ${got.toSeq.diff(want.toSeq)} on $docs")
      }
    }
  }

  test("property: Dsir train+score == a JVM md5 reference on random corpora") {
    // independent third engine for the bucket hash: JVM MessageDigest md5
    // (vs Spark's md5() and the oracle's DuckDB md5()) — a divergence in
    // the hex-digit bucket idiom shows up here without DuckDB in the loop
    val wordGen = Gen.frequency(
      5 -> Gen.oneOf("alpha", "beta"), 3 -> Gen.oneOf("c", "dd", "eee"),
      1 -> Gen.oneOf("x1", "x2", "x3"))
    val docGen = Gen.choose(1, 8).flatMap(n => Gen.listOfN(n, wordGen))
    val corpusGen = Gen.listOfN(10, docGen)
    def bl(x: Long): Int = 64 - java.lang.Long.numberOfLeadingZeros(x)
    def bucket(f: String): Int = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(f.getBytes("UTF-8"))
      d(0) & 0xff // first two hex digits = first byte
    }
    def feats(t: List[String]): List[String] =
      t ++ t.sliding(2).filter(_.size == 2).map(p => s"${p(0)} ${p(1)}")
    forAllSeeded(corpusGen, n = 6) { docsRaw =>
      val docs = docsRaw.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val (tgtDocs, poolDocs) = docs.partition(_._1 % 3 == 0)
      if (tgtDocs.nonEmpty && poolDocs.nonEmpty) {
        val ct = tgtDocs.flatMap(d => feats(d._2)).groupBy(bucket)
          .map { case (b, l) => b -> l.size.toLong }
        val cr = poolDocs.flatMap(d => feats(d._2)).groupBy(bucket)
          .map { case (b, l) => b -> l.size.toLong }
        val bias = bl(cr.values.sum + 1) - bl(ct.values.sum + 1)
        val want = poolDocs.map { case (id, t) =>
          val fs = feats(t)
          id -> ((fs.size.toLong, fs.map(f =>
            (bl(ct.getOrElse(bucket(f), 0L) + 1) -
              bl(cr.getOrElse(bucket(f), 0L) + 1) + bias).toLong).sum))
        }.toMap
        val tok = docs.toDF("doc_id", "t")
        val m = graft.ext.Dsir.train(
          tok.where(col("doc_id") % 3 === 0).select("t"),
          tok.where(col("doc_id") % 3 =!= 0).select("t"))
        val got = graft.ext.Dsir.score(
          tok.where(col("doc_id") % 3 =!= 0), m, Seq("doc_id"))
          .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
        assert(got == want, s"DSIR diverged: ${got.toSeq.diff(want.toSeq)} on $docs")
      }
    }
  }

  test("property: autoJoin output == plain join under every forecast route") {
    val rowsGen = Gen.listOfN(80, Gen.zip(
      Gen.frequency(4 -> Gen.const(1L), 1 -> Gen.choose(2L, 6L)), // skew toward key 1
      Gen.choose(0, 999)))
    forAllSeeded(rowsGen, n = 5) { rows =>
      val large = rows.toDF("k", "v")
      val small = (1L to 6L).map(k => (k, s"d$k")).toDF("k", "p")
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.select("k", "v", "p").collect().map(_.toString).sorted.toSeq
      val want = canon(large.join(small, Seq("k")))
      // the three routes, each forced via thresholds
      val (b, br) = graft.ops.ScaleOps.autoJoin(large, small, "k")
      val (s1, sr) = graft.ops.ScaleOps.autoJoin(large, small, "k",
        broadcastRowLimit = 0L, skewFactor = 0.1, reducers = 8)
      val (p, pr) = graft.ops.ScaleOps.autoJoin(large, small, "k",
        broadcastRowLimit = 0L, skewFactor = 1e9, reducers = 8)
      assert(br.route == "broadcast" && sr.route == "salted" && pr.route == "plain")
      assert(canon(b) == want && canon(s1) == want && canon(p) == want,
        s"routes diverged on ${rows.take(6)}...")
    }
  }

  test("property: zOrderColumnN == driver interleave reference; bijective per sample") {
    val gen = for {
      nCols <- Gen.choose(2, 4)
      bits <- Gen.choose(3, 5)
      rows <- Gen.listOfN(24, Gen.listOfN(nCols, Gen.choose(0L, (1L << bits) - 1)))
    } yield (nCols, bits, rows)
    def ref(vals: Seq[Long], bits: Int): Long =
      (for { i <- 0 until bits; j <- vals.indices }
        yield ((vals(j) >> i) & 1L) << (i * vals.size + j)).sum
    forAllSeeded(gen, n = 6) { case (nCols, bits, rows) =>
      val cols = (0 until nCols).map(j => s"c$j")
      val schema = StructType(cols.map(c => StructField(c, org.apache.spark.sql.types.LongType)))
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map(Row.fromSeq(_)), 2), schema)
      val got = df.withColumn("z", graft.ops.ScaleOps.zOrderColumnN(cols, bits))
        .collect().map(r => (cols.map(c => r.getAs[Long](c)), r.getAs[Long]("z")))
      got.foreach { case (vals, z) =>
        assert(z == ref(vals, bits), s"interleave diverged at $vals: $z != ${ref(vals, bits)}")
      }
      // injective: distinct coordinate tuples -> distinct keys
      assert(got.map(_._2).distinct.length == rows.distinct.length)
    }
  }
}

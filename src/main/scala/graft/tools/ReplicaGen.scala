package graft.tools

import graft.GraftSession
import org.apache.spark.sql.functions._

/** Scaling-probe dataset builder: replicates a driver testdata dir's
  * `documents`/`embeddings` tables by an integer factor with CONTENT-DISJOINT
  * replicas, giving SCALE.md a third measured decade beyond the largest
  * driver-generated SF. Measurement-only — replica dirs never feed the
  * correctness oracles (the driver's own parquet stays the only oracle
  * input).
  *
  * Why not plain row duplication: exact copies would put every document in a
  * `factor`-sized near-dup family, inflating pair counts ~quadratically in
  * `factor` — the opposite of how a larger real corpus behaves. Instead each
  * replica k:
  *  - documents: every whitespace token gets a replica suffix, so replicas
  *    are disjoint in shingle/gram space while INTRA-replica near-dup
  *    structure (the thing dedup cost scales with) is preserved exactly;
  *    lang/source skew is untouched; ids offset by k*10^7.
  *  - embeddings: replica k sign-flips dims {k-1, k+3, k+7, k+11} — an
  *    orthogonal transform (norms and intra-replica geometry exactly
  *    preserved) that flips ONE dim inside each of the four 4-bit sign-LSH
  *    bands over dims 0..15, so every replica group of a cluster lands in a
  *    band bucket disjoint from every other replica's: bucket width stays
  *    the real cluster width and candidate pairs scale linearly, as a
  *    genuinely larger corpus's would. (A circular dim shift — the first
  *    attempt — let shifted cluster sign-blocks COLLIDE across replicas,
  *    quadratically inflating bucket pairs: an artifact of the synthetic
  *    data, not a property of the engine.)
  *
  * Usage: ReplicaGen <sfDir> <outDir> <docFactor> <vecFactor>. Every other
  * `*.parquet` table in `sfDir` is copied VERBATIM so the full 91-query
  * battery runs against the replica dir: the document/embedding axis is the
  * scaling probe (it feeds the dedup/ANN/text families, the battery's heavy
  * tail); the relational decades are already measured across the
  * driver-generated SFs themselves.
  */
object ReplicaGen {

  /** `factor` content-disjoint document replicas: replica k suffixes every
    * whitespace token with `qk` and offsets ids by k*10^7 (k = 0 is the
    * original rows, untouched).
    */
  def replicateDocs(docs: org.apache.spark.sql.DataFrame, factor: Int):
      org.apache.spark.sql.DataFrame = {
    require(factor >= 1, "factor must be >= 1")
    (0 until factor).map { k =>
      if (k == 0) docs
      else docs
        .withColumn("doc_id", expr(s"doc_id + ${k}L * 10000000"))
        .withColumn("text",
          expr(s"array_join(transform(split(text, ' '), w -> concat(w, 'q$k')), ' ')"))
        .withColumn("n_chars", expr("CAST(length(text) AS BIGINT)"))
        .select("doc_id", "text", "lang", "source", "n_chars")
    }.reduce(_ unionByName _)
  }

  /** `factor` embedding replicas: replica k sign-flips dims
    * {k-1, k+3, k+7, k+11} (orthogonal — norms/intra-replica cosines exact;
    * one flipped dim inside each default 4-bit sign-LSH band).
    */
  def replicateEmbeddings(emb: org.apache.spark.sql.DataFrame, factor: Int):
      org.apache.spark.sql.DataFrame = {
    // k-1 must stay inside band 0 (dims 0..3) for the flips to hit one dim
    // in EVERY 4-bit band and stay pairwise-distinct per band — beyond
    // factor 5 replicas would silently share band keys and re-inflate
    // bucket pairs (the artifact this scheme exists to prevent)
    require(factor >= 1 && factor <= 5,
      s"embedding replica factor must be in [1, 5], got $factor")
    (0 until factor).map { k =>
      if (k == 0) emb
      else {
        val flips = Seq(k - 1, k + 3, k + 7, k + 11)
        emb
          .withColumn("vec_id", expr(s"vec_id + ${k}L * 10000000"))
          .withColumn("embedding", expr(
            s"transform(embedding, (x, i) -> IF(${flips.map(f => s"i = $f").mkString(" OR ")}, -x, x))"))
          .select("vec_id", "embedding", "label")
      }
    }.reduce(_ unionByName _)
  }

  /** `factor` content-disjoint EVENT-stream replicas — the scaling probe
    * the w/g/u/st families lacked (documents/embeddings replicate above;
    * events used to copy verbatim, freezing those families at sf0.1).
    * Replica k offsets event ids and user ids (disjoint key spaces:
    * per-user session/island/funnel structure preserved exactly, user
    * cardinality scales with the corpus as real growth does) and shifts
    * timestamps by k * (span + 1 day) — time-disjoint streams, so
    * per-minute/hour/day cell occupancy stays REAL (a same-window overlay
    * would densify every time cell `factor`-fold and quadratically inflate
    * co-occurrence graphs — the measurement artifact g2's SCALE.md note
    * describes, not engine behavior).
    */
  def replicateEvents(events: org.apache.spark.sql.DataFrame, factor: Int):
      org.apache.spark.sql.DataFrame = {
    require(factor >= 1, "factor must be >= 1")
    if (factor == 1) return events
    val b = events.agg(
      expr("unix_micros(max(ts)) - unix_micros(min(ts))").as("span"),
      max("user_id").as("mu"), max("event_id").as("me")).head
    // an empty events table yields all-null aggregates; fail with a clear
    // message instead of an opaque NPE from getLong below
    require(!b.isNullAt(0),
      "replicateEvents: input events table is empty — nothing to replicate")
    val stepUs = b.getLong(0) + 86400000000L
    val uOff = b.getLong(1) + 1L
    val eOff = b.getLong(2) + 1L
    (0 until factor).map { k =>
      if (k == 0) events
      else events
        .withColumn("event_id", expr(s"event_id + ${k}L * $eOff"))
        .withColumn("user_id", expr(s"user_id + ${k}L * $uOff"))
        .withColumn("ts", expr(s"timestamp_micros(unix_micros(ts) + ${k}L * $stepUs)"))
    }.reduce(_ unionByName _)
  }

  /** ReplicaGen <sfDir> <outDir> <docFactor> <vecFactor> [eventFactor] —
    * eventFactor defaults to 1 (verbatim copy, the historical behavior).
    */
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, fd, fv, fe) = args match {
      case Array(a, b, c, d)    => (a, b, c.toInt, d.toInt, 1)
      case Array(a, b, c, d, e) => (a, b, c.toInt, d.toInt, e.toInt)
      case _ => sys.error("usage: ReplicaGen <sfDir> <outDir> <docFactor> <vecFactor> [eventFactor]")
    }
    val spark = GraftSession.local()

    replicateDocs(spark.read.parquet(s"$sfDir/documents.parquet"), fd)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    replicateEmbeddings(spark.read.parquet(s"$sfDir/embeddings.parquet"), fv)
      .repartition(8)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    if (fe > 1)
      replicateEvents(
        graft.analytics.Tables.events(spark, sfDir), fe)
        .repartition(16)
        .write.mode("overwrite").parquet(s"$outDir/events.parquet")

    val src = java.nio.file.Paths.get(sfDir)
    java.nio.file.Files.list(src).forEach { p =>
      val name = p.getFileName.toString
      if (name.endsWith(".parquet") &&
          name != "documents.parquet" && name != "embeddings.parquet" &&
          (fe <= 1 || name != "events.parquet"))
        java.nio.file.Files.copy(p,
          java.nio.file.Paths.get(s"$outDir/$name"),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    spark.stop()
  }
}

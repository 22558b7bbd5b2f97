package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Shared MinHash-LSH signature computation (the d2/d6 pipeline's core):
  * 3-gram word shingles -> 8 MinHash permutations -> 4 LSH bands.
  *
  * Unigram token sets are degenerate on a small shared vocabulary (every
  * document contains the globally-min-hashing token, so MinHash buckets
  * collapse into one giant candidate bucket); 3-gram shingles are
  * order-sensitive and keep buckets near-singleton. Two md5 digests per
  * shingle, not eight: each digest's four 8-hex slices are independent
  * 32-bit hashes (lexicographic min on fixed-width lowercase hex == numeric
  * min), so 8 permutations cost 2 digest passes + cheap substring
  * transforms (measured round 1: the 8-digest variant dominated the bench).
  */
object MinHash {

  /** Token-split step — materialized as its own projection so the shingle
    * lambda reads an array column instead of re-splitting the text per
    * element (which is O(tokens^2) work per document).
    */
  val splitExpr: String = "split(lower(text), ' ') AS t"

  /** Distinct 3-gram word shingles; short docs fall back to the whole text.
    * One native pass ([[graft.functions.Shingle3]]) — MinHashSpec pins
    * bit-equivalence against the transform/array_distinct lambda chain it
    * replaced, including NULL text -> NULL (the old chain's `size(NULL)`
    * pushed it into a NULL-propagating ELSE branch; shingle3 null-propagates
    * natively). Callers outside [[signatures]] must register
    * [[graft.functions.GraftFunctions]] on the session first.
    */
  val shingleExpr: String = "shingle3(t)"

  /** Exact shingle-set Jaccard between two array columns — the verify
    * predicate shared by every near-dup consumer.
    */
  def jaccardExpr(a: String, b: String): String =
    s"size(array_intersect($a, $b)) * 1.0 / (size($a) + size($b) - size(array_intersect($a, $b)))"

  /** Signature table: keep columns + `sh` (shingle set) + `h0..h7` (the 8
    * min-hashes). Input needs a `text` column; `keep` must include the id.
    * Callers decide about lineage cuts (`localCheckpoint`) — signatures feed
    * multiple join sides in every consumer.
    */
  def signatures(docs: DataFrame, keep: Seq[String]): DataFrame = {
    // One native pass ([[graft.functions.MinHash8]]) instead of the
    // 10-lambda transform/array_min chain it replaces — bit-identical
    // output (MinHashSpec pins equivalence against the lambda chain; the
    // d2/d6 oracle rows pin it against DuckDB), a fraction of the CPU.
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs
      .selectExpr(keep :+ splitExpr: _*)
      .selectExpr(keep :+ s"($shingleExpr) AS sh": _*)
      .selectExpr(keep ++ Seq("sh", "minhash8(sh) AS mh"): _*)
      .selectExpr(
        (keep :+ "sh") ++
          (0 until 8).map(i => s"element_at(mh, ${i + 1}) AS h$i"): _*)
  }

  /** Band table (doc_id, band, bkey): 4 bands x 2 hashes. Equal band keys ==
    * candidate pair.
    */
  def bands(sigs: DataFrame): DataFrame =
    sigs.selectExpr(
      "doc_id",
      "stack(4, 0, md5(concat(h0, h1)), 1, md5(concat(h2, h3)), 2, md5(concat(h4, h5)), 3, md5(concat(h6, h7))) AS (band, bkey)")
}

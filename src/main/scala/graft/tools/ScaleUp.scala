package graft.tools

import graft.GraftSession
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** BENCH-ONLY derivation of the battery's next scale decade: tile the
  * driver's sf0.1 star schema `factor`× with per-tile key offsets, so the
  * 181-query battery can be RECORDED one decade past its largest provided
  * fixture. This is a timing dataset, never a correctness input — the
  * DuckDB oracle gate runs exclusively on the driver's own
  * `/root/testdata/sf*` tables (TESTDATA.md), which are not touched here.
  *
  * Scaling rules (TPC-H's own discipline): `region`/`nation` stay FIXED
  * (25/5 rows at every SF); every fact/bulk table is unioned `factor`
  * times with ALL key columns shifted by `tile × 10⁷` — joins stay
  * referentially intact within a tile, per-user/per-key densities stay
  * constant (so window/session shapes scale in KEYS, not in per-key
  * blow-up), and tile 0 is the IDENTITY copy, so literal-range filters
  * keep their sf0.1 anchor rows. Duplicated document text is deliberate:
  * the dedup lanes get 10× exact-duplicate mass, the honest stress for
  * them. Output is repartitioned so the derived files are splittable
  * (the fixtures are single-row-group).
  *
  * Usage: `sbt "runMain graft.tools.ScaleUp /root/testdata/sf0.1 /tmp/graft_sf1 10"`.
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    val off = 10000000L
    val spark = GraftSession.local()

    def tile(df: DataFrame, keys: Seq[String], parts: Int): DataFrame = {
      val tiles = (0 until factor).map { t =>
        keys.foldLeft(df)((d, k) => d.withColumn(k, col(k) + lit(t * off)))
      }
      tiles.reduce(_ unionByName _).repartition(parts)
    }

    def write(name: String, df: DataFrame): Unit = {
      df.write.mode(SaveMode.Overwrite).parquet(s"$dst/$name.parquet")
      println(s"$name: ${spark.read.parquet(s"$dst/$name.parquet").count()} rows")
    }

    def rd(name: String) = spark.read.parquet(s"$src/$name.parquet")

    // fixed dimensions — TPC-H keeps them constant across SFs
    write("region", rd("region").coalesce(1))
    write("nation", rd("nation").coalesce(1))
    write("customer", tile(rd("customer"), Seq("c_custkey"), 4))
    write("supplier", tile(rd("supplier"), Seq("s_suppkey"), 1))
    write("part", tile(rd("part"), Seq("p_partkey"), 2))
    write("orders", tile(rd("orders"), Seq("o_orderkey", "o_custkey"), 8))
    write("lineitem",
      tile(rd("lineitem"), Seq("l_orderkey", "l_partkey", "l_suppkey"), 16))
    // events: tiles must also shift TIME, not just keys — tiling users
    // into the same minutes would grow per-minute density 10×, which
    // inflates co-occurrence-style derivations QUADRATICALLY (first
    // recording measured g2 at 100× instead of ~10×). Shifting each tile
    // past the previous one keeps temporal density constant, which is
    // what "10× more data of the same shape" means for a stream table.
    val ev = rd("events")
    val span = ev.agg(
      ((unix_micros(max(col("ts")).cast("timestamp")) -
        unix_micros(min(col("ts")).cast("timestamp"))) / 1000000L).cast("long"))
      .head().getLong(0) + 3600L
    val evTiles = (0 until factor).map { t =>
      ev.withColumn("event_id", col("event_id") + lit(t * off))
        .withColumn("user_id", col("user_id") + lit(t * off))
        .withColumn("ts", expr(s"timestampadd(SECOND, ${t * span}L, ts)"))
    }
    write("events", evTiles.reduce(_ unionByName _).repartition(8))
    // documents: tiles must also mutate CONTENT, not just doc_id — verbatim
    // text copies give every doc `factor` exact duplicates, and dedup-lane
    // candidate volume then grows quadratically in the copy count (second
    // recording measured d2/d6/d8 at ~25× instead of ~10×). Suffixing every
    // word with the tile id makes tile shingle-sets pairwise DISJOINT, so
    // each tile carries sf0.1's own duplicate structure and the corpus
    // scales in documents, not in duplicate mass. Tile 0 stays identity.
    val doc = rd("documents")
    val docTiles = (0 until factor).map { t =>
      val d0 = doc.withColumn("doc_id", col("doc_id") + lit(t * off))
      if (t == 0) d0
      else d0
        .withColumn("text", regexp_replace(col("text"), "(\\S+)", s"$$1_$t"))
        .withColumn("n_chars", length(col("text")))
    }
    write("documents", docTiles.reduce(_ unionByName _).repartition(8))
    write("embeddings", tile(rd("embeddings"), Seq("vec_id"), 4))
    println(s"done: $dst at ${factor}x $src")
    spark.stop()
  }
}

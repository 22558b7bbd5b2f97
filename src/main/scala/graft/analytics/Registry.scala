package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered engine query: a Spark DataFrame program plus (when
  * SQL-expressible) an equivalent ANSI-SQL oracle that DuckDB runs over the
  * same parquet tables for the driver's hash-compare gate.
  *
  * Determinism contract (so Spark-vs-DuckDB hashes match bit-for-bit):
  *  - every floating-point SUM/AVG goes through a DECIMAL cast (exact,
  *    addition-order-independent) and is cast back to DOUBLE at the end;
  *  - every query ends in a total ORDER BY on both sides;
  *  - every computed column carries the same alias on both sides.
  */
final case class Q(
    name: String,
    desc: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String]
)

object Registry {
  /** All registered queries, assembled from the per-area registries. */
  lazy val all: Seq[Q] =
    RelationalQueries.queries ++ ExtensionQueries.queries

  lazy val byName: Map[String, Q] = {
    val m = all.map(q => q.name -> q).toMap
    require(m.size == all.size, "duplicate query names in registry")
    m
  }

  /** The queries a comma-separated name list selects, `ALL` for every one.
    * An unknown name fails loudly instead of silently shrinking the
    * selection to a green, smaller run.
    */
  def select(names: String): Seq[Q] =
    if (names == "ALL") all
    else {
      val sel = names.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      val unknown = sel.filterNot(byName.contains)
      require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
      require(sel.nonEmpty, s"no query named in '$names'")
      sel.map(byName)
    }
}

package graft.silver

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType, StructType}

/** The Silver merge: standardize -> many-to-one roll-ups -> left joins ->
  * keep-first dedup -> CSV-safe nested serialization
  * (reference: transformer/transformer.py:201-305).
  *
  * Scale: the roll-up is a partial-aggregating hash agg on the join key, so
  * the subsequent joins see one row per key — the reference's explicit
  * aggregate-before-join rewrite (SURVEY §4) expressed in the plan. The
  * merge shuffles each entity once, by key: the full-row distinct, the
  * roll-up, both left joins (merge-hinted, so nothing is broadcast) and the
  * dedup window all run on that one hash partitioning.
  */
object Transformer {

  /** Lowercase+trim column names, then full-row distinct
    * (reference: transformer/transformer.py:201-205 basic_standardize).
    */
  def standardize(df: DataFrame): DataFrame =
    df.toDF(df.columns.map(_.trim.toLowerCase): _*).distinct()

  /** Union pages with ragged schemas: different extraction runs may carry
    * different select lists, and the Bronze page concat must align columns
    * (absent ones null) rather than fail (reference:
    * transformer/transformer.py:194-199 rows_all.extend across
    * heterogeneous pages; SURVEY §7.4 schema-drift tolerance).
    */
  def unionRagged(dfs: Seq[DataFrame]): DataFrame = {
    require(dfs.nonEmpty, "unionRagged needs at least one frame")
    dfs.reduce((a, b) => a.unionByName(b, allowMissingColumns = true))
  }

  /** Many-to-one roll-up: group by the join key; emit `{prefix}_count` plus,
    * for the first <=5 string columns, `{prefix}_{col}_list` = sorted distinct
    * non-null values (reference: transformer/transformer.py:207-219;
    * `collect_set` drops nulls like `drop_nulls().unique()`).
    */
  def aggregateManyToOne(df: DataFrame, idCol: String, prefix: String): DataFrame = {
    val textCols = df.schema.fields
      .filter(f => f.name != idCol && f.dataType == StringType)
      .map(_.name)
      .take(5)
    val aggs = count(lit(1)).as(s"${prefix}_count") +:
      textCols.map(c =>
        sort_array(collect_set(col(c).cast("string"))).as(s"${prefix}_${c}_list"))
    df.groupBy(idCol).agg(aggs.head, aggs.tail: _*)
  }

  /** Deterministic keep-first-per-key dedup. The reference keeps encounter
    * order (`unique(keep="first", maintain_order=True)`,
    * transformer/transformer.py:258); in a distributed engine "encounter
    * order" is not stable, so the caller supplies a total tiebreak order
    * (SURVEY §7.4).
    */
  def dedupKeepFirst(df: DataFrame, idCol: String, orderBy: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(idCol).orderBy(orderBy: _*)
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn")
  }

  /** The full merge (reference: transformer/transformer.py:221-258):
    * standardize all three, roll up vehicles/people, left-join both onto
    * crashes, dedup crashes on the key.
    *
    * Each entity shuffles once, by key, before its distinct: that hash
    * partitioning also satisfies the roll-up and the dedup window, so
    * neither adds an exchange.
    */
  def mergeCrashVehiclesPeople(
      crashes: DataFrame,
      vehicles: DataFrame,
      people: DataFrame,
      idCol: String): DataFrame = {
    val id = idCol.toLowerCase
    def byKey(df: DataFrame): DataFrame = {
      val named = df.toDF(df.columns.map(_.trim.toLowerCase): _*)
      (if (named.columns.contains(id)) named.repartition(col(id)) else named).distinct()
    }
    val c = byKey(crashes)
    val v = byKey(vehicles)
    val p = byKey(people)

    require(c.columns.contains(id), s"crashes missing join key $id")

    val vehAgg =
      if (v.columns.contains(id)) Some(aggregateManyToOne(v, id, "veh")) else None
    val pplAgg =
      if (p.columns.contains(id)) Some(aggregateManyToOne(p, id, "ppl")) else None

    val joined = Seq(vehAgg, pplAgg).flatten
      .foldLeft(c)((acc, agg) => acc.join(agg.hint("merge"), Seq(id), "left"))

    // Deterministic "first": order by the remaining crash columns.
    val tiebreak = joined.columns.filter(_ != id).sorted.map(col).toSeq
    dedupKeepFirst(joined, id, tiebreak)
  }

  /** Nested (array/struct) columns -> JSON strings renamed `{col}_json`, so
    * the frame is CSV-safe (reference: transformer/transformer.py:263-305).
    * One projection: flat columns in order, then the `_json` columns.
    */
  def makeCsvSafe(df: DataFrame): DataFrame = {
    val (nested, flat) = df.schema.fields.toSeq.partition(f => f.dataType match {
      case _: ArrayType | _: StructType => true
      case _ => false
    })
    df.select(flat.map(f => col(f.name)) ++
      nested.map(f => to_json(col(f.name)).as(s"${f.name}_json")): _*)
  }
}

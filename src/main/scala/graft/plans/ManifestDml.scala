package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference,
  AttributeSet, EqualTo, Expression, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction,
  DeleteFromTable, InsertAction, LogicalPlan, MergeAction, MergeIntoTable,
  SubqueryAlias, UpdateAction, UpdateTable}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation,
  DataSourceV2ScanRelation}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graft.SqlShims

import graft.ops.ManifestStore
import graft.sources.ManifestTable

/** SQL row-level DML for manifest tables — `DELETE FROM` / `UPDATE` /
  * `MERGE INTO` statements routed onto the engine verbs
  * ([[ManifestStore.deleteWhere]] / [[ManifestStore.updateWhere]] /
  * [[ManifestStore.merge]] / [[ManifestStore.upsert]]), completing the SQL
  * surface the reference writes its Gold table with
  * (cleaner/duckdb_writer.py:141-207 `INSERT ... ON CONFLICT DO NOTHING`
  * is exactly the matched-noop MERGE shape below).
  *
  * Implementation shape: a planner [[SparkStrategy]] — the sanctioned
  * custom-operator extension point — that claims the three analyzed DML
  * nodes when (and only when) their target resolves to a [[ManifestTable]].
  * Spark's analyzer has already resolved names, expanded `SET *` /
  * `INSERT *` into explicit per-column assignments, and type-checked the
  * predicates; the strategy re-binds those predicates by NAME onto the
  * engine-verb DataFrames and executes eagerly like any SQL command. The
  * cost model is the verbs': segment-granular copy-on-write (a predicate
  * matching 0.1% of a 100 TB table rewrites ~0.1% of it), one CAS publish,
  * racing statements serialize exactly like racing API callers.
  *
  * Supported MERGE grammar (the analyzer-expanded forms of):
  * {{{
  *   ON target.key = source.key                       -- single equality
  *   WHEN MATCHED [AND c] THEN DELETE                  -- with an UPDATE fallback
  *   WHEN MATCHED THEN UPDATE SET *                    -- full-row replace
  *   WHEN NOT MATCHED [AND c] THEN INSERT *
  *   (no matched clause + INSERT * = first-write-wins upsert,
  *    the reference's ON CONFLICT DO NOTHING)
  * }}}
  * Everything else (partial SET, not-matched-by-source, schema evolution,
  * subquery predicates) fails LOUDLY with the supported grammar in the
  * message — never silently approximated.
  *
  * Install: [[ManifestDml.install]] on a driver-owned session (the
  * `experimental.extraStrategies` runtime seam; idempotent).
  */
object ManifestDml {
  def install(spark: SparkSession): Unit = synchronized {
    if (!spark.experimental.extraStrategies.contains(ManifestDmlStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ ManifestDmlStrategy
  }
}

object ManifestDmlStrategy extends SparkStrategy {

  /** The DML target, unwrapped to its [[ManifestTable]] (None = not ours —
    * fall through to Spark's own handling). A frozen `versionAsOf` view
    * refuses loudly rather than falling through to a misleading
    * capability error.
    */
  private object DmlTarget {
    def unapply(plan: LogicalPlan): Option[ManifestTable] = plan match {
      case SubqueryAlias(_, child) => unapply(child)
      // the optimizer may have already built the read-side scan
      // (V2ScanRelationPushDown rewrites the DML target's relation)
      case s: DataSourceV2ScanRelation => fromTable(s.relation.table)
      case r: DataSourceV2Relation => fromTable(r.table)
      case _ => None
    }
    private def fromTable(
        table: org.apache.spark.sql.connector.catalog.Table)
        : Option[ManifestTable] = table match {
      case t: ManifestTable =>
        require(t.versionAsOf.isEmpty,
          "DML on a versionAsOf manifest table: a frozen time-travel view " +
            "is read-only — run the statement against the live table, or " +
            "RESTORE the version first")
        Some(t)
      case _ => None
    }
  }

  /** Analyzed predicate → a Column the engine verbs can apply to their own
    * scan of the same table: attribute references re-bind by name (the
    * analyzer already resolved and type-checked them against this exact
    * schema). Subqueries would need their own rewrite — refuse loudly.
    */
  private def rebind(e: Expression, what: String): Column = {
    require(!e.exists(_.isInstanceOf[SubqueryExpression]),
      s"$what on a manifest table does not support subqueries in the " +
        "condition — materialize the subquery (e.g. a temp view joined in " +
        "a MERGE source) instead")
    SqlShims.column(e.transform {
      case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
    })
  }

  private def unsupportedMerge(why: String): Nothing =
    throw new UnsupportedOperationException(
      s"MERGE INTO a manifest table: $why. Supported grammar: " +
        "ON t.key = s.key; WHEN MATCHED [AND c] THEN DELETE (with an " +
        "unconditional UPDATE SET * fallback); WHEN MATCHED THEN UPDATE " +
        "SET *; WHEN NOT MATCHED [AND c] THEN INSERT *; or INSERT *-only " +
        "(first-write-wins upsert)")

  /** `SET * ` / `INSERT *` as the analyzer expands them: every assignment
    * copies the same-named SOURCE column, covering the whole target row.
    */
  private def isIdentity(assignments: Seq[Assignment], target: AttributeSet,
      source: AttributeSet, nCols: Int): Boolean =
    assignments.size == nCols && assignments.forall {
      case Assignment(k: AttributeReference, v: AttributeReference) =>
        k.name == v.name && target.contains(k) && source.contains(v)
      case _ => false
    }

  private def sourceOnly(e: Expression, source: AttributeSet): Boolean =
    e.references.subsetOf(source)

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case DeleteFromTable(DmlTarget(t), cond) =>
      GraftDmlExec("DELETE", () => {
        ManifestStore.deleteWhere(SparkSession.active, t.path,
          rebind(cond, "DELETE"), t.statsCols)
        ()
      }) :: Nil

    case UpdateTable(DmlTarget(t), assignments, cond) =>
      val set = assignments.map { a =>
        val name = a.key match {
          case k: AttributeReference => k.name
          case other => throw new UnsupportedOperationException(
            s"UPDATE on a manifest table: nested-field assignment $other " +
              "is not supported")
        }
        // SET v = v + 1 legitimately references the row's own columns;
        // rebind-by-name resolves them against the verb's scan
        name -> rebind(a.value, "UPDATE")
      }.toMap
      GraftDmlExec("UPDATE", () => {
        ManifestStore.updateWhere(SparkSession.active, t.path,
          cond.map(rebind(_, "UPDATE")).getOrElse(lit(true)), set, t.statsCols)
        ()
      }) :: Nil

    case m: MergeIntoTable =>
      DmlTarget.unapply(m.targetTable) match {
        case None => Nil
        case Some(t) => planMerge(t, m) :: Nil
      }

    case _ => Nil
  }

  private def planMerge(t: ManifestTable, m: MergeIntoTable): SparkPlan = {
    if (m.withSchemaEvolution)
      unsupportedMerge("WITH SCHEMA EVOLUTION is not supported")
    if (m.notMatchedBySourceActions.nonEmpty)
      unsupportedMerge("WHEN NOT MATCHED BY SOURCE is not supported")
    val targetAttrs = AttributeSet(m.targetTable.output)
    val sourceAttrs = AttributeSet(m.sourceTable.output)
    val nCols = m.targetTable.output.size
    // ON: single same-name key equality — the engine merge's join key
    val key = m.mergeCondition match {
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if targetAttrs.contains(a) && sourceAttrs.contains(b) &&
            a.name == b.name => a.name
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if targetAttrs.contains(b) && sourceAttrs.contains(a) &&
            a.name == b.name => a.name
      case other => unsupportedMerge(
        s"ON must be a single same-named key equality, got $other")
    }
    def srcCond(c: Option[Expression], where: String): Option[Column] =
      c.map { e =>
        if (!sourceOnly(e, sourceAttrs)) unsupportedMerge(
          s"the $where condition may reference only SOURCE columns")
        rebind(e, "MERGE")
      }
    // not-matched: at most one INSERT *, optionally gated
    val insertWhen: Option[Column] = m.notMatchedActions match {
      case Nil => Some(lit(false))
      case Seq(i: InsertAction) =>
        if (!isIdentity(i.assignments, targetAttrs, sourceAttrs, nCols))
          unsupportedMerge("INSERT must be INSERT * (full row from source)")
        srcCond(i.condition, "INSERT").orElse(None)
      case other => unsupportedMerge(
        s"at most one WHEN NOT MATCHED THEN INSERT * clause, got $other")
    }
    def requireStar(u: UpdateAction): Unit =
      if (!isIdentity(u.assignments, targetAttrs, sourceAttrs, nCols))
        unsupportedMerge("UPDATE must be UPDATE SET * (full-row replace — " +
          "partial SET over a matched row needs target values the " +
          "source-row merge does not carry; use the UPDATE statement for " +
          "in-place column edits)")
    // project the source to exactly the target's columns (identity
    // assignments guarantee same-named source attrs exist); extra source
    // columns may still gate conditions — check those BEFORE projecting
    def run(deleteWhen: Option[Column]): Unit = {
      val spark = SparkSession.active
      val src = SqlShims.ofRows(spark, m.sourceTable)
        .select(m.targetTable.output.map(a =>
          org.apache.spark.sql.functions.col(a.name)): _*)
      ManifestStore.merge(spark, src, t.path, key,
        deleteWhen = deleteWhen, statsCols = t.statsCols,
        insertWhen = insertWhen)
      ()
    }
    m.matchedActions match {
      case Nil =>
        // ON CONFLICT DO NOTHING: matched rows stay untouched —
        // first-write-wins upsert
        GraftDmlExec("MERGE", () => {
          val spark = SparkSession.active
          val base = SqlShims.ofRows(spark, m.sourceTable)
          val gated = insertWhen match {
            case Some(c) => base.where(c)
            case None => base
          }
          ManifestStore.upsert(spark,
            gated.select(m.targetTable.output.map(a =>
              org.apache.spark.sql.functions.col(a.name)): _*),
            t.path, key, t.statsCols)
          ()
        })
      case Seq(u: UpdateAction) =>
        requireStar(u)
        val dw = srcCond(u.condition, "UPDATE") match {
          case None => None
          case Some(_) => unsupportedMerge(
            "a conditional UPDATE with no DELETE fallback would leave " +
              "non-matching matched rows unchanged — not expressible as a " +
              "full-row merge")
        }
        GraftDmlExec("MERGE", () => run(dw))
      case Seq(d: DeleteAction, u: UpdateAction) =>
        requireStar(u)
        if (u.condition.nonEmpty) unsupportedMerge(
          "the UPDATE fallback after a DELETE clause must be unconditional")
        val dw = Some(srcCond(d.condition, "DELETE").getOrElse(lit(true)))
        GraftDmlExec("MERGE", () => run(dw))
      case other => unsupportedMerge(
        s"unsupported matched-clause shape $other")
    }
  }
}

/** Eagerly-executed command node for the DML verbs: the statement runs
  * once (commit + CAS retries inside the engine verb), returns no rows —
  * the SQL command contract.
  */
final case class GraftDmlExec(verb: String, run: () => Unit)
    extends LeafExecNode {
  override def output: Seq[Attribute] = Nil
  @transient private lazy val done: Unit = run()
  override def executeCollect(): Array[InternalRow] = { done; Array.empty }
  override protected def doExecute(): RDD[InternalRow] = {
    done
    sparkContext.emptyRDD[InternalRow]
  }
}

package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, EqualTo, Expression, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{
  Assignment, DeleteAction, InsertAction, LogicalPlan, MergeIntoTable,
  SubqueryAlias, UpdateAction, UpdateTable}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, V2CommandExec}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import graft.etl.SnapshotLake

/** The SQL `MERGE INTO` face of the snapshot lake — the idiomatic
  * lakehouse verb for "upsert this staging table":
  * {{{
  *   MERGE INTO lake.t AS t USING staged AS s ON t.k1 = s.k1 AND t.k2 = s.k2
  *   WHEN MATCHED THEN UPDATE SET *
  *   WHEN NOT MATCHED THEN INSERT *
  * }}}
  * Stock Spark refuses the statement at PLANNING for any table that does
  * not implement row-level operations (`SparkStrategies.BasicOperators`
  * throws UNSUPPORTED_FEATURE.TABLE_OPERATION), so this strategy — tried
  * BEFORE the built-ins via `experimental.extraStrategies`, registered
  * automatically by [[LakeCatalog.loadTable]] — intercepts the analyzed
  * [[MergeIntoTable]] over a [[LakeTable]] and routes it into the lake's
  * own keyed LWW commit machinery:
  *
  *  - `UPDATE SET *` + `INSERT *`  → [[SnapshotLake.mergeViaSpec]] on the
  *    whole source (the full upsert — exactly what the API merge and SQL
  *    `INSERT INTO` already do);
  *  - `UPDATE SET *` only          → source SEMI-joined to the current
  *    snapshot's keys, then mergeViaSpec (touch only existing keys);
  *  - `INSERT *` only              → source ANTI-joined, then mergeViaSpec
  *    (insert only new keys);
  *  - `DELETE` only                → [[SnapshotLake.deleteKeys]] on the
  *    source's key columns (the takedown verb);
  *  - `WHEN NOT MATCHED BY SOURCE THEN DELETE` (alone or beside the
  *    upsert clauses) → a SYNC pass: target keys absent from the source
  *    are dropped via deleteKeys — "make the table mirror this frame".
  *    The upsert and the sync land as two atomic commits (disjoint key
  *    sets; a reader between them sees the merged-but-not-yet-synced
  *    snapshot, never a torn one).
  *
  * The ON condition must be the conjunction of equality over EXACTLY the
  * lake's persisted merge keys ([[SnapshotLake.MergeSpec]]) — the LWW
  * commit has one key identity, and a MERGE keyed differently would not
  * mean what it says. Anything the LWW algebra cannot honor — clause
  * conditions (`WHEN MATCHED AND …`), explicit non-identity `SET`
  * assignments, conditional/UPDATE forms of NOT-MATCHED-BY-SOURCE,
  * `WITH SCHEMA EVOLUTION`,
  * mixed DELETE+INSERT — refuses loudly at planning with the reason, never
  * silently approximates. For UPDATE-only / INSERT-only, the matched key
  * set resolves against the snapshot current at statement start (the usual
  * snapshot-isolation reading); the commit itself is lease-serialized like
  * every lake mutation.
  *
  * LakeCatalogSpec pins all four verb shapes and the refusals; the
  * `e3c_lake_sql` gate family pins SQL-vs-API write equivalence.
  */
object LakeMergeStrategy extends SparkStrategy {

  private def refuse(why: String): Nothing =
    throw new UnsupportedOperationException(
      s"lake MERGE INTO: $why — supported shapes: WHEN MATCHED THEN " +
        "UPDATE SET * and/or WHEN NOT MATCHED THEN INSERT * (keyed LWW " +
        "upsert), or WHEN MATCHED THEN DELETE alone (key takedown), with " +
        "ON = equality on exactly the lake's merge keys and no clause " +
        "conditions")

  /** The target's [[LakeTable]], through alias wrappers and through the
    * optimizer's scan-relation rewrite (by planning time the bare
    * `DataSourceV2Relation` may have become a `DataSourceV2ScanRelation`).
    */
  private def lakeTableOf(p: LogicalPlan): Option[LakeTable] = p match {
    case SubqueryAlias(_, child) => lakeTableOf(child)
    case r: DataSourceV2Relation => r.table match {
      case t: LakeTable => Some(t)
      case _ => None
    }
    case s: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
      s.relation.table match {
        case t: LakeTable => Some(t)
        case _ => None
      }
    case _ => None
  }

  /** The ON condition's equality column pairs, or None when any conjunct
    * is not a plain target-col = source-col equality.
    */
  private def keyPairs(cond: Expression, targetOut: Seq[Attribute],
      sourceOut: Seq[Attribute]): Option[Seq[String]] = {
    val tIds = targetOut.map(_.exprId).toSet
    val sIds = sourceOut.map(_.exprId).toSet
    def split(e: Expression): Seq[Expression] = e match {
      case org.apache.spark.sql.catalyst.expressions.And(l, r) => split(l) ++ split(r)
      case other => Seq(other)
    }
    val pairs = split(cond).map {
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if tIds.contains(a.exprId) && sIds.contains(b.exprId) &&
            a.name.equalsIgnoreCase(b.name) => Some(a.name)
      case EqualTo(b: AttributeReference, a: AttributeReference)
          if tIds.contains(a.exprId) && sIds.contains(b.exprId) &&
            a.name.equalsIgnoreCase(b.name) => Some(a.name)
      case _ => None
    }
    if (pairs.exists(_.isEmpty)) None else Some(pairs.flatten)
  }

  /** Every assignment the identity `target.c := source.c` (what `SET *` /
    * `INSERT *` align to) — an explicit expression would need per-row
    * update arithmetic the LWW commit does not model.
    */
  private def identityAssignments(as: Seq[Assignment],
      sourceOut: Seq[Attribute]): Boolean = {
    val sIds = sourceOut.map(_.exprId).toSet
    as.forall {
      case Assignment(k: AttributeReference, v: AttributeReference) =>
        sIds.contains(v.exprId) && k.name.equalsIgnoreCase(v.name)
      case _ => false
    }
  }

  /** Re-express an analyzed expression over the TARGET table as a Column
    * that re-resolves by NAME against the lake's re-read frame: the
    * analyzed tree's `AttributeReference`s carry exprIds bound to the
    * statement's scan, which mean nothing to the partition-scoped rewrite.
    * Round-trip through the expression's canonical SQL form — attribute
    * refs render as their (quoted) names, and lake schemas are flat, so
    * the name IS the identity; re-parsing against the re-read frame
    * re-resolves cleanly. None when the expression cannot be carried over
    * (a subquery would need its own execution, and an analyzed tree whose
    * `.sql` form does not re-parse — a column name containing a backtick,
    * an analyzer-inserted construct with no SQL syntax — must surface as
    * the typed refusal, not as a parse error from inside the commit).
    */
  private def rebind(e: Expression): Option[Column] = {
    if (e.exists(_.isInstanceOf[SubqueryExpression])) return None
    // drop qualifiers first: an attribute renders as `cat`.`t`.`col`
    // otherwise, which cannot re-resolve against a bare frame
    val unqualified = e.transform {
      case a: AttributeReference => a.withQualifier(Nil)
    }
    scala.util.Try(org.apache.spark.sql.functions.expr(unqualified.sql)).toOption
  }

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    // SQL `UPDATE <cat>.<t> SET c = expr WHERE pred` — stock Spark refuses
    // it at planning for any table without row-level-operation support,
    // exactly like MERGE; route it through the lake's partition-scoped
    // UPDATE commit ([[SnapshotLake.update]], the delete rewrite with the
    // assignment applied). Guards (assigned column exists / not the
    // partition column / not a merge key / deterministic) live in
    // SnapshotLake.update; here we only refuse what cannot be re-expressed
    // at all (subqueries).
    case u: UpdateTable =>
      lakeTableOf(u.table) match {
        case Some(lake) =>
          def refuseUpdate(why: String): Nothing =
            throw new UnsupportedOperationException(
              s"lake UPDATE: $why — supported shape: UPDATE t SET col = " +
                "expr[, …] WHERE pred, with plain column/literal " +
                "expressions (no subqueries); keyed rewrites are MERGE INTO")
          val predicate = u.condition match {
            case None => org.apache.spark.sql.functions.lit(true)
            case Some(c) => rebind(c).getOrElse(
              refuseUpdate("the WHERE condition contains a subquery or " +
                "cannot be re-expressed over the table's columns"))
          }
          // the analyzer may have ALIGNED the assignment list to every
          // table column (identity assignments for untouched ones) —
          // carry only the real rewrites
          val sets: Map[String, Column] = u.assignments.flatMap {
            case Assignment(k: AttributeReference, v: AttributeReference)
                if k.exprId == v.exprId => None // identity (alignment filler)
            case Assignment(k: AttributeReference, v) =>
              Some(k.name -> rebind(v).getOrElse(
                refuseUpdate(s"SET ${k.name} = … contains a subquery or " +
                  "cannot be re-expressed over the table's columns")))
            case a => refuseUpdate(s"unrecognized assignment target ${a.key}")
          }.toMap
          if (sets.isEmpty)
            // every assignment is the identity (an explicit `SET a = a`):
            // standard SQL executes it and changes nothing — honor it as a
            // no-op instead of burning a whole-partition rewrite (or a
            // refusal) on a statement that cannot change a value
            LakeNoopCommandExec("UPDATE with identity-only assignments") :: Nil
          else LakeUpdateExec(lake.path, predicate, sets, lake.session) :: Nil
        case None => Nil
      }
    case m: MergeIntoTable =>
      lakeTableOf(m.targetTable) match {
        case Some(lake) =>
          // the session that owns the catalog/plan, NOT SparkSession.active:
          // in a multi-session application the thread's active session can
          // be a different one, and the commit would run through the wrong
          // session's Hadoop conf/catalog state
          val spark = lake.session
          val spec = SnapshotLake.requireSpec(spark, lake.path,
            SnapshotLake.currentManifest(spark, lake.path), "MERGE INTO")
          if (m.withSchemaEvolution) refuse("WITH SCHEMA EVOLUTION is not supported")
          // WHEN NOT MATCHED BY SOURCE THEN DELETE — the table-SYNC verb
          // (drop target keys the source no longer carries); unconditional
          // DELETE only, and only beside upsert clauses (see below)
          val syncDelete = m.notMatchedBySourceActions match {
            case Nil => false
            case Seq(DeleteAction(None)) => true
            case _ => refuse("WHEN NOT MATCHED BY SOURCE supports only an " +
              "unconditional THEN DELETE (the sync verb)")
          }
          val sourceOut = m.sourceTable.output
          val onKeys = keyPairs(m.mergeCondition, m.targetTable.output, sourceOut)
            .getOrElse(refuse(
              "the ON condition must be a conjunction of target.k = source.k " +
                "equalities"))
          val want = spec.keys.map(_.toLowerCase).toSet
          if (onKeys.map(_.toLowerCase).toSet != want || onKeys.length != want.size)
            refuse(s"ON keys (${onKeys.mkString(", ")}) must be exactly the " +
              s"lake's merge keys (${spec.keys.mkString(", ")})")
          val update = m.matchedActions.collect { case u: UpdateAction => u }
          val delete = m.matchedActions.collect { case d: DeleteAction => d }
          val insert = m.notMatchedActions.collect { case i: InsertAction => i }
          if (update.length + delete.length != m.matchedActions.length ||
            insert.length != m.notMatchedActions.length)
            refuse("unrecognized merge action")
          if ((update ++ delete ++ insert).exists(_.condition.isDefined))
            refuse("clause conditions (WHEN MATCHED AND …) are not supported")
          if (update.length > 1 || delete.length > 1 || insert.length > 1)
            refuse("duplicate clauses")
          if (delete.nonEmpty && (update.nonEmpty || insert.nonEmpty))
            refuse("DELETE cannot be combined with UPDATE/INSERT clauses")
          if (!update.forall(u => identityAssignments(u.assignments, sourceOut)))
            refuse("UPDATE must be SET * (or the explicit identity assignments)")
          if (!insert.forall(i => identityAssignments(i.assignments, sourceOut)))
            refuse("INSERT must be INSERT * (or the explicit identity assignments)")
          if (syncDelete && delete.nonEmpty)
            refuse("WHEN MATCHED DELETE + WHEN NOT MATCHED BY SOURCE DELETE " +
              "would empty the table — use DELETE FROM t instead")
          val mode =
            if (delete.nonEmpty) LakeMergeExec.DeleteKeys
            else if (update.nonEmpty && insert.nonEmpty) LakeMergeExec.Upsert
            else if (update.nonEmpty) LakeMergeExec.UpdateOnly
            else if (insert.nonEmpty) LakeMergeExec.InsertOnly
            else if (syncDelete) LakeMergeExec.SyncOnly
            else refuse("at least one WHEN clause is required")
          LakeMergeExec(lake.path, mode, spec.keys,
            m.sourceTable.schema, planLater(m.sourceTable),
            syncDelete = syncDelete, ownerSession = lake.session) :: Nil
        case None => Nil
      }
    case _ => Nil
  }
}

/** Driver-side command exec for [[LakeMergeStrategy]]: evaluates the
  * source plan ONCE (distributed), rebuilds it as a DataFrame, and routes
  * it through the lake's lease-serialized commit. Returns no rows (the
  * SQL MERGE contract).
  */
case class LakeMergeExec(
    lakePath: String,
    mode: LakeMergeExec.Mode,
    keys: Seq[String],
    sourceSchema: StructType,
    child: SparkPlan,
    syncDelete: Boolean = false,
    @transient ownerSession: SparkSession = null) extends V2CommandExec {

  override def output: Seq[Attribute] = Nil
  override def children: Seq[SparkPlan] = child :: Nil
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[SparkPlan]): SparkPlan =
    copy(child = newChildren.head)

  override def run(): Seq[InternalRow] = {
    // the owning session threaded from the strategy (LakeTable holds it);
    // SparkSession.active only as a last-resort fallback for hand-built
    // instances — in a multi-session app the active one can be the WRONG one
    val spark = Option(ownerSession).getOrElse(SparkSession.active)
    // InternalRow → Row through Spark's own converters, so the rebuilt
    // frame is exactly the source's rows — no driver collect anywhere
    val conv = CatalystTypeConverters.createToScalaConverter(sourceSchema)
    val rows: RDD[Row] =
      child.execute().map(ir => conv(ir.copy()).asInstanceOf[Row])
    // the source executes distributed but may be re-evaluated by the
    // commits below (the usual lazy-plan property); checkpoint once so the
    // sync-delete pass and the LWW merge see the SAME source rows even
    // for nondeterministic source plans
    val source = spark.createDataFrame(rows, sourceSchema).localCheckpoint()
    // key matching is NULL-SAFE throughout — the lake's LWW identity
    // groups null keys as one key (every write face upserts by it), so
    // MERGE's matched/not-matched sets must split by the SAME identity.
    // This deviates from strict SQL MERGE (where NULL never equals NULL)
    // exactly as the lake's own upsert does; a null-unsafe split would
    // let an INSERT-only verb silently OVERWRITE an existing null-key
    // row, and the sync pass would never drop a stale null-key row.
    def nullSafeJoin(left: org.apache.spark.sql.DataFrame,
        right: org.apache.spark.sql.DataFrame, how: String) = {
      val l = left.alias("__l"); val r = right.alias("__r")
      val cond = keys.map(k => col(s"__l.`$k`") <=> col(s"__r.`$k`")).reduce(_ && _)
      l.join(r, cond, how)
    }
    def currentKeys() = SnapshotLake.read(spark, lakePath)
      .select(keys.map(col): _*).distinct()
    // The matched/not-matched SPLIT must resolve against the same snapshot
    // the commit serializes on: currentKeys() pins a manifest eagerly, and
    // a commit landing between that read and the lease acquisition inside
    // mergeViaSpec/deleteKeys would make INSERT-only silently overwrite a
    // concurrently inserted key (an update — contradicting the verb),
    // UPDATE-only touch a just-deleted one, or the sync pass drop a
    // just-inserted one. The lease is reentrant per (thread, path), so the
    // inner commit calls share THIS hold instead of re-acquiring.
    graft.etl.LakeLease.withLease(
      spark.sparkContext.hadoopConfiguration, lakePath) {
      mode match {
        case LakeMergeExec.Upsert =>
          SnapshotLake.mergeViaSpec(spark, lakePath, source)
        case LakeMergeExec.UpdateOnly =>
          SnapshotLake.mergeViaSpec(spark, lakePath,
            nullSafeJoin(source, currentKeys(), "left_semi"))
        case LakeMergeExec.InsertOnly =>
          SnapshotLake.mergeViaSpec(spark, lakePath,
            nullSafeJoin(source, currentKeys(), "left_anti"))
        case LakeMergeExec.DeleteKeys =>
          SnapshotLake.deleteKeys(spark, lakePath, source.select(keys.map(col): _*))
        case LakeMergeExec.SyncOnly => () // the sync pass below is the verb
      }
      if (syncDelete) {
        // the SYNC pass: drop target keys the source does not carry. A
        // separate atomic commit AFTER the upsert (the two key sets are
        // disjoint — deleted keys are exactly the ones the merge did not
        // touch); a reader between the two commits sees the merged-but-not-
        // yet-synced snapshot, each cut itself atomic — and both commits
        // land under ONE lease hold, so no foreign writer interleaves.
        val stale = nullSafeJoin(currentKeys(),
          source.select(keys.map(col): _*).distinct(), "left_anti")
        SnapshotLake.deleteKeys(spark, lakePath, stale)
      }
    }
    Nil
  }
}

/** Driver-side command exec for the SQL UPDATE verb: no child plan (the
  * predicate and SET expressions were re-bound by name at planning), just
  * the lease-serialized partition-scoped commit. Returns no rows.
  */
case class LakeUpdateExec(
    lakePath: String,
    predicate: Column,
    sets: Map[String, Column],
    @transient ownerSession: SparkSession) extends V2CommandExec {

  override def output: Seq[Attribute] = Nil
  override def children: Seq[SparkPlan] = Nil
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[SparkPlan]): SparkPlan = this

  override def run(): Seq[InternalRow] = {
    val spark = Option(ownerSession).getOrElse(SparkSession.active)
    SnapshotLake.update(spark, lakePath, predicate, sets)
    Nil
  }
}

/** A recognized-but-no-effect lake command (e.g. `UPDATE t SET a = a`):
  * executes as SQL requires, commits nothing, returns no rows.
  */
case class LakeNoopCommandExec(what: String) extends V2CommandExec {
  override def output: Seq[Attribute] = Nil
  override def children: Seq[SparkPlan] = Nil
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[SparkPlan]): SparkPlan = this
  override def run(): Seq[InternalRow] = Nil
}

object LakeMergeExec {
  sealed trait Mode
  case object Upsert extends Mode
  case object UpdateOnly extends Mode
  case object InsertOnly extends Mode
  case object DeleteKeys extends Mode
  case object SyncOnly extends Mode

  /** Idempotent session registration (the GlobalRank idiom); done
    * automatically whenever [[LakeCatalog]] resolves a table, so any
    * session with a lake catalog speaks MERGE INTO.
    */
  def ensureRegistered(spark: SparkSession): Unit = {
    val exp = spark.experimental
    // check-and-append under a lock: extraStrategies is a plain var, and
    // two concurrent table loads (or a load racing another extension)
    // would otherwise lose one of the read-modify-write appends
    exp.synchronized {
      if (!exp.extraStrategies.contains(LakeMergeStrategy))
        exp.extraStrategies = exp.extraStrategies :+ LakeMergeStrategy
    }
  }
}

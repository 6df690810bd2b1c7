package graft.catalog

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.Checkpoint.localCheckpoint
import org.apache.spark.sql.graftbridge.ColumnBridge
import graft.sources.KeyRange

/** SQL `MERGE INTO` for graft catalog tables — the Delta pattern: a
  * post-hoc RESOLUTION rule (installed by [[graft.GraftExtensions]])
  * rewrites a resolved [[MergeIntoTable]] whose target is a
  * [[GraftSqlTable]] into a command over the engine's own merge
  * commits, BEFORE Spark's planner rejects it (vanilla Spark plans
  * MERGE only for SupportsRowLevelOperations tables).
  *
  * Shape-routed like the SQL DELETE, to the commit with the matching
  * cost model:
  *  - `WHEN MATCHED THEN UPDATE SET * / WHEN NOT MATCHED THEN
  *    INSERT *` (the canonical upsert) →
  *    [[graft.sources.SnapshotLog.Table.commitMergeMor]]: DV
  *    tombstones for the hits + the source batch as plain adds — ONE
  *    commit, O(victim rows + batch), zero file rewrites;
  *  - `WHEN MATCHED THEN DELETE` (no other clauses) →
  *    [[graft.sources.SnapshotLog.Table.commitDeleteKeysMor]];
  *  - anything else (conditional clauses, partial SET lists,
  *    NOT MATCHED BY SOURCE, schema evolution) fails LOUDLY with the
  *    supported shapes named — a silent fallback that rewrote the
  *    table would betray the cost model the user chose this engine
  *    for.
  *
  * The merge condition must be a single same-name equality
  * (`t.k = s.k`) — it becomes the commit's key column, which drives
  * the zone-map + bloom candidate pruning on the target side. */
object GraftMergeRule extends Rule[LogicalPlan] {

  private def graftTarget(plan: LogicalPlan): Option[GraftSqlTable] =
    plan match {
      case SubqueryAlias(_, child) => graftTarget(child)
      case r: DataSourceV2Relation => r.table match {
        case t: GraftSqlTable => Some(t)
        case _ => None
      }
      case _ => None
    }

  /** The merge key from `t.k = s.k` — the rule intercepts at
    * childrenResolved (BEFORE Spark's RewriteMergeIntoTable rejects
    * non-row-level tables, the Delta move), so the condition's
    * attributes may still be unresolved name parts. Either way the
    * contract is a single same-name equality, one side per relation. */
  private def nameOf(e: Expression): Option[String] = e match {
    case a: AttributeReference => Some(a.name)
    case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
      Some(u.nameParts.last)
    // the analyzer wraps a narrower column side in an upcast when the
    // other side is wider (`k >= 2L` on an INT k)
    case c: org.apache.spark.sql.catalyst.expressions.Cast =>
      nameOf(c.child)
    case _ => None
  }

  private def keyOf(cond: Expression, target: LogicalPlan,
      source: LogicalPlan): Option[String] = cond match {
    case EqualTo(a, b) =>
      for {
        an <- nameOf(a)
        bn <- nameOf(b)
        if an.equalsIgnoreCase(bn)
        if target.output.exists(_.name.equalsIgnoreCase(an))
        if source.output.exists(_.name.equalsIgnoreCase(an))
      } yield target.output.find(_.name.equalsIgnoreCase(an)).get.name
    case _ => None
  }

  /** Every assignment is `target.c = source.c` (same name) — the
    * resolved form of SET * / INSERT *. */
  private def sameNameAssignments(as: Seq[Assignment],
      source: LogicalPlan): Boolean =
    as.nonEmpty && as.forall {
      case Assignment(k: AttributeReference, v: AttributeReference) =>
        k.name == v.name && source.outputSet.contains(v)
      case _ => false
    }

  /** Bounds extractor for integer-keyed UPDATE ranges: a conjunction
    * of comparisons between ONE column and integer literals, as the
    * intersection of [[KeyRange.Longs.cmp]] ranges (so `k > MaxValue`
    * is empty, never wrapped). */
  private def rangeOf(cond: Expression): Option[KeyRange.Longs] = {
    // literals arrive Cast-wrapped (`k >= 2` resolves as
    // `k >= CAST(2 AS BIGINT)`): any foldable integer-family
    // expression is a literal for our purposes
    def longLit(e: Expression): Option[Long] = {
      // dataType gate, not eval-class gate: a DATE literal evals to
      // an epoch-day Integer and would silently hijack the integer
      // route (whose row predicate then compares DATE with BIGINT)
      import org.apache.spark.sql.types._
      val intFamily = e.dataType match {
        case LongType | IntegerType | ShortType | ByteType => true
        case _ => false
      }
      if (!e.foldable || !intFamily) None
      else e.eval() match {
        case l: java.lang.Long => Some(l)
        case i: Integer => Some(i.longValue)
        case s: java.lang.Short => Some(s.longValue)
        case b: java.lang.Byte => Some(b.longValue)
        case _ => None
      }
    }
    def cmp(a: Expression, op: String, v: Expression)
        : Option[KeyRange.Longs] =
      for { n <- nameOf(a); x <- longLit(v) }
        yield KeyRange.Longs.cmp(n, op, x)
    import org.apache.spark.sql.catalyst.expressions._
    def bounds(e: Expression): Option[KeyRange.Longs] = e match {
      case Between(input, lower, upper, _) =>
        bounds(And(GreaterThanOrEqual(input, lower),
          LessThanOrEqual(input, upper)))
      case And(l, r) =>
        for { a <- bounds(l); b <- bounds(r)
          if a.col.equalsIgnoreCase(b.col) } yield a.intersect(b)
      // the literal-side guard makes the reversed (`2 = k`) arm
      // reachable: an unguarded first arm would swallow every EqualTo
      case EqualTo(a, v) if longLit(v).isDefined => cmp(a, "=", v)
      case EqualTo(v, a) if longLit(v).isDefined => cmp(a, "=", v)
      case GreaterThan(a, v) => cmp(a, ">", v)
      case GreaterThanOrEqual(a, v) => cmp(a, ">=", v)
      case LessThan(a, v) => cmp(a, "<", v)
      case LessThanOrEqual(a, v) => cmp(a, "<=", v)
      case _ => None
    }
    bounds(cond)
  }

  /** Bounds extractor for STRING- and DATE-keyed UPDATE ranges:
    * a conjunction of comparisons between ONE column and same-type
    * foldable literals → a [[KeyRange.Strings]] or [[KeyRange.Dates]]
    * with INCLUSIVE prune bounds (strictness lives in the row
    * predicate — the statement's own WHERE rides along to the commit,
    * so `< 'm'` prunes with hi='m' but updates only rows genuinely
    * below it). Dates are carried as epoch-day ints (the zone-map
    * convention). Both bounds are required — that is what makes the
    * shape zone-map-prunable. */
  private def typedRangeOf(cond: Expression): Option[KeyRange] = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types.{DateType, StringType}
    def litOf(e: Expression): Option[(String, String)] =
      if (!e.foldable) None
      else e.dataType match {
        case StringType => Option(e.eval()).map(v => ("str", v.toString))
        case DateType => Option(e.eval()).map(v => ("date", v.toString))
        case _ => None
      }
    def cmp(kind: String, x: String, y: String): Int =
      if (kind == "date") x.toInt.compare(y.toInt) else x.compare(y)
    case class B(c: String, kind: String,
        lo: Option[String], hi: Option[String])
    def merge(a: B, b: B): Option[B] =
      if (!a.c.equalsIgnoreCase(b.c) || a.kind != b.kind) None
      else Some(B(a.c, a.kind,
        (a.lo ++ b.lo).reduceOption((x, y) =>
          if (cmp(a.kind, x, y) >= 0) x else y),
        (a.hi ++ b.hi).reduceOption((x, y) =>
          if (cmp(a.kind, x, y) <= 0) x else y)))
    def mk(a: Expression, v: Expression,
        asLo: Boolean, asHi: Boolean): Option[B] =
      for { n <- nameOf(a); (k, x) <- litOf(v) }
        yield B(n, k, if (asLo) Some(x) else None,
          if (asHi) Some(x) else None)
    def walk(e: Expression): Option[B] = e match {
      case And(l, r) =>
        for { a <- walk(l); b <- walk(r); m <- merge(a, b) } yield m
      // BETWEEN survives analysis as the RuntimeReplaceable node —
      // desugar it here exactly as its replacement would
      case Between(input, lower, upper, _) =>
        walk(And(GreaterThanOrEqual(input, lower),
          LessThanOrEqual(input, upper)))
      case EqualTo(a, v) if litOf(v).isDefined =>
        mk(a, v, asLo = true, asHi = true)
      case EqualTo(v, a) if litOf(v).isDefined =>
        mk(a, v, asLo = true, asHi = true)
      case GreaterThan(a, v) => mk(a, v, asLo = true, asHi = false)
      case GreaterThanOrEqual(a, v) => mk(a, v, asLo = true, asHi = false)
      case LessThan(a, v) => mk(a, v, asLo = false, asHi = true)
      case LessThanOrEqual(a, v) => mk(a, v, asLo = false, asHi = true)
      case _ => None
    }
    walk(cond).collect {
      case B(c, "str", Some(lo), Some(hi)) => KeyRange.Strings(c, lo, hi)
      case B(c, _, Some(lo), Some(hi)) =>
        KeyRange.Dates(c, lo.toInt, hi.toInt)
    }
  }

  /** BETWEEN survives analysis as a RuntimeReplaceable whose
    * replacement carries a `With` common-expression node — it cannot
    * be rebound (copying `With` calls dataType on the new unresolved
    * child). Desugar to plain >= AND <= from the ORIGINAL operands
    * before any rebinding. */
  private def deBetween(e: Expression): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{
      And, Between, GreaterThanOrEqual, LessThanOrEqual}
    e.transformUp {
      case Between(input, lower, upper, _) =>
        And(GreaterThanOrEqual(input, lower),
          LessThanOrEqual(input, upper))
    }
  }

  /** Rebind a SQL assignment value to the logical-name space the
    * update primitive evaluates in: resolved attribute references
    * become name-based unresolved ones, re-resolved against the
    * victims' frame at commit time. */
  private def rebind(e: Expression): Expression =
    deBetween(e).transform {
      case a: AttributeReference =>
        org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(
          Seq(a.name))
    }

  /** Shape dispatch for SQL UPDATE (round 15 — DELETE parity):
    *  - partition equality / IN on the partition column →
    *    [[GraftUpdateCommand]] over a [[KeyRange.Partitions]]
    *    (directory-prefix victims — partition values have no per-file
    *    zone maps, the layout IS the index);
    *  - `key IN (list | subquery)` on a non-partition column →
    *    [[GraftUpdateKeysCommand]]: the candidate-pruned keyed rewrite
    *    through the CDC commit, O(candidate files), never a table
    *    scan;
    *  - otherwise, per-column bounds from the WHERE's conjunction —
    *    [[GraftUpdateCommand]] pruning on the BEST-bounded column
    *    (two-sided integer range first, then string/date, then a
    *    one-sided integer bound), the statement's FULL WHERE riding
    *    along as the exact row predicate. A column whose bounds are
    *    provably empty (`k > 5 AND k < 3`) makes the whole conjunction
    *    false → no-op, no commit (mirrors DELETE's provably-empty
    *    contract).
    *  Anything else refuses loudly — a silent table rewrite would
    *  betray the cost model. */
  private def updatePlanFor(t: GraftSqlTable, cond: Expression,
      set: Map[String, Expression],
      unsupported: String => Nothing): LogicalPlan = {
    import org.apache.spark.sql.catalyst.expressions._
    val pc = t.partColOrFail
    def strLit(e: Expression): Option[String] =
      if (e.foldable &&
        e.dataType == org.apache.spark.sql.types.StringType)
        Option(e.eval()).map(_.toString)
      else None
    val rowPred = GraftExpr(rebind(cond))
    cond match {
      case EqualTo(a, v) if nameOf(a).exists(_.equalsIgnoreCase(pc)) &&
          strLit(v).isDefined =>
        GraftUpdateCommand(t.rootPath, pc,
          KeyRange.Partitions(pc, Seq(strLit(v).get)), set, rowPred)
      case In(a, vs) if nameOf(a).exists(_.equalsIgnoreCase(pc)) &&
          vs.nonEmpty && vs.forall(strLit(_).isDefined) =>
        GraftUpdateCommand(t.rootPath, pc,
          KeyRange.Partitions(pc, vs.flatMap(strLit(_))), set, rowPred)
      case InSubquery(Seq(a), lq: ListQuery)
          if a.resolved && lq.plan.resolved && lq.outerAttrs.isEmpty =>
        val keyCol = nameOf(a).getOrElse(unsupported(
          s"IN (subquery) needs a plain column on the left, got ${a.sql}"))
        if (keyCol.equalsIgnoreCase(pc))
          unsupported("partition-column IN (subquery) — collect the " +
            "values into the literal IN form")
        GraftUpdateKeysCommand(t.rootPath, pc, keyCol, lq.plan, set)
      case In(a, vs) if vs.nonEmpty && vs.forall(_.foldable) &&
          nameOf(a).isDefined =>
        val keyCol = nameOf(a).get
        val dt = vs.head.dataType
        if (!vs.forall(_.dataType == dt))
          unsupported(s"mixed-type IN list on $keyCol")
        // NULL literals never match IN (SQL semantics) — drop them
        val rows = vs.flatMap(v => Option(v.eval()))
          .map(x => org.apache.spark.sql.catalyst.InternalRow(x))
        GraftUpdateKeysCommand(t.rootPath, pc, keyCol,
          LocalRelation(Seq(AttributeReference(keyCol, dt)()), rows),
          set)
      case _ =>
        // conjunction → per-column bounds; unrecognized conjuncts
        // (LIKE, <>, other columns' functions) stay in the row
        // predicate and simply don't contribute prune bounds
        def split(e: Expression): Seq[Expression] = e match {
          case And(l, r) => split(l) ++ split(r)
          case x => Seq(x)
        }
        def colOf(e: Expression): Option[String] = e match {
          case EqualTo(a, v) if v.foldable => nameOf(a)
          case EqualTo(v, a) if v.foldable => nameOf(a)
          case GreaterThan(a, v) if v.foldable => nameOf(a)
          case GreaterThanOrEqual(a, v) if v.foldable => nameOf(a)
          case LessThan(a, v) if v.foldable => nameOf(a)
          case LessThanOrEqual(a, v) if v.foldable => nameOf(a)
          case _ => None
        }
        val groups = split(deBetween(cond))
          .flatMap(e => colOf(e).map(c => (c.toLowerCase, e)))
          .groupBy(_._1).toSeq.sortBy(_._1)
          .map { case (_, es) => es.map(_._2).reduce(And(_, _)) }
        val ints = groups.flatMap(rangeOf)
        val typed = groups.flatMap(typedRangeOf)
        val range = ints.find(r => r.isEmpty ||
            (r.lo != Long.MinValue && r.hi != Long.MaxValue))
          .orElse(typed.headOption)
          .orElse(ints.headOption)
          .getOrElse(unsupported(s"condition ${cond.sql}"))
        GraftUpdateCommand(t.rootPath, pc, range, set, rowPred)
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    plan.transform {
    case u @ UpdateTable(target, assignments, condition)
        if u.childrenResolved && graftTarget(target).isDefined =>
      val t = graftTarget(target).get
      def unsupported(why: String): Nothing =
        throw new UnsupportedOperationException(
          s"graft UPDATE supports `SET col = expr` with a WHERE of " +
            s"(a) comparisons bounding at least one integer, string, " +
            s"or date column (the zone-map-pruned COW shape), " +
            s"(b) `key IN (list | subquery)` (the candidate-pruned " +
            s"keyed rewrite), or (c) equality / IN on the partition " +
            s"column (partition-scoped COW): $why")
      val cond = condition.getOrElse(unsupported(
        "an unbounded UPDATE rewrites the whole table — bound it, " +
          "or use INSERT OVERWRITE deliberately"))
      val set = assignments.map { case Assignment(k, v) =>
        nameOf(k).getOrElse(unsupported(s"assignment key ${k.sql}")) ->
          rebind(v)
      }.toMap
      // an IN (subquery) predicate still resolving: leave the plan
      // for ResolveSubquery to finish — the rule re-fires on a later
      // fixed-point iteration (the MERGE case's !m.resolved move)
      val subqPending = cond.exists {
        case iq: org.apache.spark.sql.catalyst.expressions.InSubquery =>
          !iq.resolved
        case _ => false
      }
      if (subqPending) u
      else {
        // GENERATED ALWAYS identity: engine-assigned, never
        // reassigned — an UPDATE that SETs the id would mint values
        // below the watermark and break uniqueness (round-14 ADVICE)
        t.identityCol.foreach(ic =>
          if (set.keys.exists(_.equalsIgnoreCase(ic)))
            unsupported(s"SET $ic — identity values are engine-" +
              "assigned, never reassigned"))
        updatePlanFor(t, cond, set, unsupported)
      }
    // `DELETE FROM t WHERE k IN (SELECT …)`: a subquery predicate can
    // never reach the SupportsDelete pushdown path (it is not a source
    // filter), so route it here — evaluate the subquery once and land
    // the key set on the MOR DV commit, exactly like a literal IN
    // list. Everything else (literal shapes, ranges, partitions)
    // stays on the SupportsDelete path untouched; NOT IN and
    // correlated subqueries keep failing loudly there.
    case d @ DeleteFromTable(target, condition)
        if d.childrenResolved && graftTarget(target).isDefined =>
      condition match {
        case org.apache.spark.sql.catalyst.expressions.InSubquery(
            Seq(a), lq: org.apache.spark.sql.catalyst.expressions.ListQuery)
            if a.resolved && lq.plan.resolved && lq.outerAttrs.isEmpty =>
          val t = graftTarget(target).get
          val keyCol = nameOf(a).getOrElse(
            throw new UnsupportedOperationException(
              s"graft DELETE … IN (subquery) needs a plain column on " +
                s"the left side, got ${a.sql}"))
          GraftDeleteKeysCommand(t.rootPath, keyCol, lq.plan)
        case _ => d
      }
    case m @ MergeIntoTable(target, source, cond,
        matched, notMatched, notMatchedBySource, withSchemaEvolution)
        if m.childrenResolved && graftTarget(target).isDefined =>
      val t = graftTarget(target).get
      val keyOpt = keyOf(cond, target, source)
      // both star (pre-expansion) and expanded same-name forms are the
      // canonical upsert — the rule intercepts at childrenResolved, so
      // which one arrives depends on how far ResolveReferences got.
      // The expanded form must also COVER every target column: a
      // partial list that happens to be same-name (`SET part =
      // src.part`) is NOT SET * — the MOR path replaces whole rows,
      // so misclassifying it would overwrite unassigned columns
      def coversTarget(as: Seq[Assignment]): Boolean =
        target.output.forall(t => as.exists {
          case Assignment(k: AttributeReference, _) =>
            k.name.equalsIgnoreCase(t.name)
          case _ => false
        })
      def isUpdateAll(a: MergeAction): Boolean = a match {
        case UpdateStarAction(None) => true
        case UpdateAction(None, up, _) =>
          sameNameAssignments(up, source) && coversTarget(up)
        case _ => false
      }
      def isInsertAll(a: MergeAction): Boolean = a match {
        case InsertStarAction(None) => true
        case InsertAction(None, ins) =>
          sameNameAssignments(ins, source) && coversTarget(ins)
        case _ => false
      }
      val canonical = keyOpt.isDefined && !withSchemaEvolution &&
        notMatchedBySource.isEmpty && ((matched, notMatched) match {
          case (Seq(u), Seq(i)) => isUpdateAll(u) && isInsertAll(i)
          case (Seq(DeleteAction(None)), Seq()) => true
          case _ => false
        })
      if (canonical) (matched, notMatched) match {
        // the canonical upsert / pure key-delete: ONE MOR commit,
        // no target-side read beyond the DV tombstone join
        case (Seq(_), Seq(_)) =>
          // `SET * / INSERT *` into an identity table would smuggle
          // explicit ids past GENERATED ALWAYS (the source carries
          // every column verbatim) — refuse, pointing at the
          // conditional form whose explicit INSERT (cols) lists OMIT
          // the id and let the commit synthesize it
          t.identityCol.foreach(ic =>
            throw new UnsupportedOperationException(
              s"MERGE … UPDATE SET * / INSERT * into identity table " +
                s"(column $ic is GENERATED ALWAYS) would carry " +
                "explicit ids — use explicit clause column lists that " +
                s"omit $ic; the engine assigns inserted ids past the " +
                "watermark"))
          GraftMergeCommand(t.rootPath, t.partColOrFail, keyOpt.get,
            source, delete = false)
        case _ =>
          GraftMergeCommand(t.rootPath, t.partColOrFail, keyOpt.get,
            source, delete = true)
      }
      // conditional clauses / partial SET lists need fully-resolved
      // expressions (exprIds decide which SIDE each attribute binds
      // to); leave the plan for ResolveReferences to finish — the
      // rule re-fires on a later fixed-point iteration
      else if (!m.resolved) m
      else buildConditionalMerge(t, m)
  }
  }

  /** The general tri-clause MERGE — conditional WHEN clauses, partial
    * SET lists, multi-clause priority, and (round 15) WHEN NOT
    * MATCHED BY SOURCE — routed to the engine's CDC commit
    * ([[graft.sources.SnapshotLog.Table.commitApplyChanges]]):
    * clause predicates and assignment expressions are evaluated over
    * the CANDIDATE-PRUNED matched rows (never a table scan for the
    * matched side), NOT-MATCHED-BY-SOURCE rows come from the target
    * scan pre-filtered by the clauses' own conditions (pushed into
    * the manifest-pruned read — an UNconditional NMBS clause is
    * honestly O(table), which is what that statement asks for), all
    * folded into one keyed change batch (op U/D) and committed with
    * the same candidate-bounded rewrite a CDC batch gets. Identity
    * tables: INSERT clauses omit the id and the commit synthesizes
    * contiguous ids past the watermark atomically with the rewrite;
    * no clause may SET the id. Refused shapes (loudly): schema
    * evolution, reassigning the merge key (the change batch is keyed
    * by it). */
  private def buildConditionalMerge(t: GraftSqlTable,
      m: MergeIntoTable): LogicalPlan = {
    val MergeIntoTable(target, source, cond, matched, notMatched,
      notMatchedBySource, withSchemaEvolution) = m
    def unsupported(why: String): Nothing =
      throw new UnsupportedOperationException(
        s"graft MERGE INTO supports conditional WHEN MATCHED " +
          s"UPDATE/DELETE, WHEN NOT MATCHED INSERT, and WHEN NOT " +
          s"MATCHED BY SOURCE UPDATE/DELETE clauses with a " +
          s"single same-name equality condition: $why")
    if (withSchemaEvolution) unsupported("WITH SCHEMA EVOLUTION")
    val key = keyOf(cond, target, source).getOrElse(
      unsupported(s"condition ${cond.sql}"))
    val sourceOut = source.outputSet
    // rebind both sides into the joined frame's name space: source
    // columns are renamed __s_<name> there (the two sides share
    // column names), target columns keep their logical names
    def rebindSided(e: Expression): Expression =
      deBetween(e).transform {
        case a: AttributeReference =>
          org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(
            Seq(if (sourceOut.contains(a)) s"__s_${a.name}" else a.name))
      }
    def assignsOf(as: Seq[Assignment], clause: String,
        allowKey: Boolean): Seq[(String, Expression)] = as.flatMap {
      case Assignment(k, v) =>
        val kn = nameOf(k).getOrElse(
          unsupported(s"$clause assignment key ${k.sql}"))
        if (!allowKey && kn.equalsIgnoreCase(key)) {
          // `SET k = s.k` (the expanded SET * form) is an identity
          // through the join equality — drop it; anything else
          // genuinely MOVES the merge key, which the keyed change
          // batch cannot express (the old row's tombstone would miss)
          if (nameOf(v).exists(_.equalsIgnoreCase(key))) None
          else unsupported(s"$clause reassigns the merge key $key")
        }
        else Some(kn -> rebindSided(v))
    }
    val matchedClauses = matched.map {
      case UpdateAction(c, as, _) =>
        GraftMergeClause(c.map(rebindSided), isDelete = false,
          assignsOf(as, "WHEN MATCHED UPDATE", allowKey = false))
      case DeleteAction(c) =>
        GraftMergeClause(c.map(rebindSided), isDelete = true, Seq.empty)
      case other => unsupported(s"matched clause $other")
    }
    // NOT MATCHED BY SOURCE conditions/values see TARGET columns only
    // (SQL semantics — there is no source row); rebindSided leaves
    // target attributes under their logical names, so these evaluate
    // over the target-side frame directly
    val nmbsClauses = notMatchedBySource.map {
      case UpdateAction(c, as, _) =>
        GraftMergeClause(c.map(rebindSided), isDelete = false,
          assignsOf(as, "WHEN NOT MATCHED BY SOURCE UPDATE",
            allowKey = false))
      case DeleteAction(c) =>
        GraftMergeClause(c.map(rebindSided), isDelete = true, Seq.empty)
      case other => unsupported(s"not-matched-by-source clause $other")
    }
    val insertClauses = notMatched.map {
      case InsertAction(c, as) =>
        // NOT MATCHED conditions/values see source columns only (SQL
        // semantics — there is no matched target row)
        GraftMergeClause(c.map(rebindSided), isDelete = false,
          assignsOf(as, "WHEN NOT MATCHED INSERT", allowKey = true))
      case other => unsupported(s"not-matched clause $other")
    }
    // identity tables: ids are engine-assigned — no clause may SET
    // the id (round-14 ADVICE: an UPDATE SET id would mint values
    // below the watermark), INSERT clauses must OMIT it (the commit
    // synthesizes ids past the watermark, atomic with the rewrite),
    // and the merge key cannot BE the id when inserting (you cannot
    // match on ids the engine has not handed out)
    t.identityCol.foreach { ic =>
      (matchedClauses ++ nmbsClauses).foreach(cl =>
        if (cl.assignments.exists(_._1.equalsIgnoreCase(ic)))
          unsupported(s"SET $ic — identity values are engine-" +
            "assigned, never reassigned"))
      if (insertClauses.nonEmpty) {
        if (key.equalsIgnoreCase(ic))
          unsupported(s"INSERT clauses with merge key $key being the " +
            "identity column — ids are engine-assigned, so unmatched " +
            "ids cannot exist in the source")
        insertClauses.foreach(cl =>
          if (cl.assignments.exists(_._1.equalsIgnoreCase(ic)))
            unsupported(s"INSERT assigns identity column $ic — omit " +
              "it; the engine assigns inserted ids past the watermark"))
      }
    }
    val pc = t.partColOrFail
    insertClauses.foreach { c =>
      if (!c.assignments.exists(_._1.equalsIgnoreCase(key)))
        unsupported(s"INSERT clause must assign the merge key $key; " +
          s"got ${c.assignments.map(_._1).mkString(", ")}")
      if (!c.assignments.exists(_._1.equalsIgnoreCase(pc)))
        unsupported(s"INSERT clause must assign the partition " +
          s"column $pc (a NULL partition value has no directory); " +
          s"got ${c.assignments.map(_._1).mkString(", ")}")
    }
    val targetCols = target.output.map(a => a.name -> a.dataType)
    GraftMergeCondCommand(t.rootPath, pc, key, targetCols,
      source, matchedClauses, insertClauses, nmbsClauses,
      t.identityCol)
  }
}

/** The executable half: resolves the source subtree back to a
  * DataFrame and routes to the MOR merge / MOR key-delete commit. */
final case class GraftMergeCommand(root: String, partCol: String,
    keyCol: String, source: LogicalPlan, delete: Boolean)
    extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(source)
  override def run(spark: SparkSession): Seq[Row] = {
    // the commit evaluates the source once, behind its own barrier, so
    // the uniqueness guard and the write see the SAME batch even when
    // the source is nondeterministic
    val src = org.apache.spark.sql.GraftBridge.ofRows(spark, source)
    val t = GraftSqlTable.handleFor(spark, root)
    if (delete) t.commitDeleteKeysMor(src.select(col(keyCol)), keyCol)
    // guardUniqueness: SQL MERGE refuses duplicate source keys and
    // duplicate-matched target rows (the Delta multiple-match error);
    // the checks ride the pinned batch and the candidate-pruned join
    // inside the commit, never a table scan
    else t.commitMergeMor(src, partCol, keyCol, guardUniqueness = true)
    Seq.empty
  }
}

/** One WHEN clause of a conditional MERGE, rebound into the joined
  * frame's name space (target columns under their logical names,
  * source columns as `__s_<name>`). */
final case class GraftMergeClause(condition: Option[Expression],
    isDelete: Boolean, assignments: Seq[(String, Expression)])

/** The general tri-clause MERGE, executed as ONE CDC change batch:
  * clause predicates and assignment expressions evaluate over the
  * candidate-pruned matched rows (zone-map + bloom candidates — never
  * a table scan), first-match-wins per SQL, folded to a keyed (op,
  * values) batch and committed through
  * [[graft.sources.SnapshotLog.Table.commitApplyChanges]] — the same
  * candidate-bounded rewrite a streaming CDC batch gets, so the cost
  * model matches the canonical-upsert path, not a table rewrite. */
final case class GraftMergeCondCommand(root: String, partCol: String,
    keyCol: String,
    targetCols: Seq[(String, org.apache.spark.sql.types.DataType)],
    source: LogicalPlan, matchedClauses: Seq[GraftMergeClause],
    insertClauses: Seq[GraftMergeClause],
    nmbsClauses: Seq[GraftMergeClause] = Seq.empty,
    identityCol: Option[String] = None)
    extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(source)

  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.{broadcast, count, countDistinct, lit,
      raise_error, when}
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val t = GraftSqlTable.handleFor(spark, root)
    val src0 = org.apache.spark.sql.GraftBridge.ofRows(spark, source)
      .transform(localCheckpoint) // guards and commit must see the same batch
    val u = src0.agg(count(lit(1)), countDistinct(col(keyCol))).head()
    if (u.getLong(0) != u.getLong(1))
      throw new UnsupportedOperationException(
        s"MERGE source has duplicate join keys (${u.getLong(0)} rows, " +
          s"${u.getLong(1)} distinct $keyCol): SQL MERGE forbids a " +
          "target row matching multiple source rows")
    val sRenamed = src0.select(src0.columns.toIndexedSeq
      .map(c => col(c).as(s"__s_$c")): _*)
    val tgtEmpty = t.version == 0 || t.liveFiles(t.version).isEmpty
    val tgt =
      if (tgtEmpty) spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row],
        org.apache.spark.sql.types.StructType(targetCols.map {
          case (n, d) => org.apache.spark.sql.types.StructField(n, d) }))
      else t.scanMergeCandidates(src0.select(col(keyCol)), keyCol)
    val joined = tgt.join(broadcast(sRenamed),
      col(keyCol) === col(s"__s_$keyCol"), "inner")
    val dup = joined.groupBy(col(keyCol)).count()
      .filter(col("count") > 1).limit(1).collect()
    if (dup.nonEmpty) throw new UnsupportedOperationException(
      s"MERGE target has ${dup(0).getLong(1)} rows for matched key " +
        s"${dup(0).get(0)}: deduplicate the target first")

    def cc(e: Expression): Column = ColumnBridge.column(e)
    // first-match-wins: one shared when-chain shape drives both the
    // op tag and every column's value, so a row can never take
    // clause A's op with clause B's values
    def chain(clauses: Seq[GraftMergeClause],
        pick: GraftMergeClause => Column, fallback: Column): Column =
      clauses match {
        case Seq() => fallback
        case head +: tail =>
          tail.foldLeft(when(
            head.condition.map(cc).getOrElse(lit(true)), pick(head))) {
            (acc, cl) => acc.when(
              cl.condition.map(cc).getOrElse(lit(true)), pick(cl))
          }.otherwise(fallback)
      }
    def valueOf(cl: GraftMergeClause, c: String, fallback: Column)
        : Column =
      if (cl.isDelete) fallback
      else cl.assignments.find(_._1.equalsIgnoreCase(c))
        .map(p => cc(p._2)).getOrElse(fallback)

    val nullStr = lit(null).cast("string")
    val matchedChanges =
      if (matchedClauses.isEmpty) None
      else Some(joined.select((targetCols.map { case (c, dt) =>
        chain(matchedClauses, valueOf(_, c, col(c)), col(c))
          .cast(dt).as(c)
      } :+ chain(matchedClauses,
        cl => lit(if (cl.isDelete) "D" else "U"), nullStr).as("__op"))
        : _*)
        .filter(col("__op").isNotNull))
    val insertChanges =
      if (insertClauses.isEmpty) None
      else Some(sRenamed.join(tgt.select(col(keyCol)),
        col(s"__s_$keyCol") === col(keyCol), "left_anti")
        .select((targetCols.map { case (c, dt) =>
          val nullOf = lit(null).cast(dt)
          // the identity column is never assigned by an INSERT clause
          // (refused at plan time) — its NULL here is the marker the
          // commit's watermark allocator fills in
          chain(insertClauses, valueOf(_, c, nullOf), nullOf)
            .cast(dt).as(c)
        } :+ chain(insertClauses, _ => lit("U"), nullStr).as("__op"))
          : _*)
        .filter(col("__op").isNotNull))
    // WHEN NOT MATCHED BY SOURCE: target-side rows with no source key.
    // The clauses' conditions pre-filter the target READ (they push
    // into the manifest-pruned scan — zone maps bound the read to the
    // files that can fire a clause); an unconditional clause is
    // honestly O(table), which is what that statement asks for. The
    // anti join against the batch's keys is broadcast (batch-sized).
    val nmbsChanges =
      if (nmbsClauses.isEmpty || tgtEmpty) None
      else {
        val conds = nmbsClauses.map(_.condition)
        val full0 = t.asOfMor(t.version, StructType(Seq(
          StructField(partCol, StringType))))
        val full =
          if (conds.exists(_.isEmpty)) full0
          else full0.filter(conds.flatten.map(cc).reduce(_ || _))
        Some(full.join(broadcast(src0.select(col(keyCol)).distinct()),
          Seq(keyCol), "left_anti")
          .select((targetCols.map { case (c, dt) =>
            chain(nmbsClauses, valueOf(_, c, col(c)), col(c))
              .cast(dt).as(c)
          } :+ chain(nmbsClauses,
            cl => lit(if (cl.isDelete) "D" else "U"), nullStr)
            .as("__op")): _*)
          .filter(col("__op").isNotNull))
      }
    val changes = Seq(matchedChanges, insertChanges, nmbsChanges)
      .flatten.reduceOption(_.unionByName(_)) match {
      case Some(c) => c
      case None => return Seq.empty // no applicable clauses: no-op
    }
    // the NULL-partition refusal rides the commit's one evaluation of
    // the batch (its pin), which runs before any file is written
    val nullPart = s"MERGE produced a row with NULL partition column " +
      s"$partCol — a NULL partition value has no directory; fix the " +
      "INSERT/SET expressions"
    val batch = changes.withColumn(partCol,
      when(col("__op") =!= "D" && col(partCol).isNull,
        raise_error(lit(nullPart))).otherwise(col(partCol)))
    try t.commitApplyChanges(batch, partCol, keyCol,
      identityCol = identityCol)
    catch {
      case e: Exception if Iterator.iterate[Throwable](e)(_.getCause)
          .takeWhile(_ != null).exists(c =>
            c.getMessage != null && c.getMessage.contains(nullPart)) =>
        throw new IllegalArgumentException(nullPart)
    }
    Seq.empty
  }
}

/** `DELETE … WHERE k IN (SELECT …)` → the MOR key-delete: the
  * subquery resolves to a keys frame and lands as deletion-vector
  * tombstones over zone-map + bloom candidates — O(victims), zero
  * file rewrites, the same commit a literal IN list routes to. */
final case class GraftDeleteKeysCommand(root: String, keyCol: String,
    keys: LogicalPlan) extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(keys)
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftSqlTable.handleFor(spark, root)
    t.commitDeleteKeysMor(
      org.apache.spark.sql.GraftBridge.ofRows(spark, keys).toDF(keyCol),
      keyCol)
    Seq.empty
  }
}

/** SQL UPDATE → [[graft.sources.SnapshotLog.Table.commitUpdate]], the
  * COW rewrite of `range`'s candidate files. The statement's FULL WHERE
  * (which implies the range by construction) rides along as the exact
  * row predicate, so multi-column conjunctions prune on the bounded
  * column and stay row-exact on the rest, and the inclusive prune
  * bounds never leak strictness into the rows. A provably-empty
  * integer range (`k > 5 AND k < 3`, `k > Long.MaxValue`) is zero
  * rows and no commit — the DELETE path's provably-empty contract
  * (overflow/crossed bounds must never degrade into a rewrite). */
final case class GraftUpdateCommand(root: String, partCol: String,
    range: KeyRange, set: Map[String, Expression], cond: GraftExpr)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    range match {
      case r: KeyRange.Longs if r.isEmpty => ()
      case _ =>
        GraftSqlTable.handleFor(spark, root).commitUpdate(partCol, range,
          set.map { case (k, e) => k -> ColumnBridge.column(e) },
          Some(ColumnBridge.column(cond.e)))
    }
    Seq.empty
  }
}

/** `UPDATE t SET … WHERE k IN (list | subquery)` → the candidate-
  * pruned keyed rewrite: matched rows come from
  * [[graft.sources.SnapshotLog.Table.scanMergeCandidates]] (zone-map
  * + bloom pruned, MOR-aware, never a table scan), SET expressions
  * evaluate over them, and the updated copies land through ONE
  * [[graft.sources.SnapshotLog.Table.commitApplyChanges]] CDC commit
  * (op U per matched row — duplicate-keyed target rows each keep
  * their own updated copy). The exact mirror of the key-set DELETE's
  * cost model, O(candidate files). */
final case class GraftUpdateKeysCommand(root: String, partCol: String,
    keyCol: String, keys: LogicalPlan, set: Map[String, Expression])
    extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(keys)
  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.lit
    val t = GraftSqlTable.handleFor(spark, root)
    if (t.version == 0 || t.liveFiles(t.version).isEmpty)
      return Seq.empty // empty table: zero rows, no commit
    val keysDf = org.apache.spark.sql.GraftBridge.ofRows(spark, keys)
      .toDF(keyCol).distinct().transform(localCheckpoint)
    val matched = t.scanMergeCandidates(keysDf, keyCol)
      .join(org.apache.spark.sql.functions.broadcast(keysDf),
        Seq(keyCol)) // candidates are a superset; the join is exact
    val sch = matched.schema
    set.keys.foreach(k => require(sch.fieldNames.contains(k),
      s"UPDATE SET targets unknown column $k"))
    val changes = matched.select(sch.fields.toIndexedSeq.map(f =>
      set.get(f.name)
        .map(e => ColumnBridge.column(e).cast(f.dataType).as(f.name))
        .getOrElse(col(f.name))): _*)
      .withColumn("__op", lit("U"))
    // the commit pins the batch, so its key probe, tombstone join and
    // rewrite share one evaluation
    t.commitApplyChanges(changes, partCol, keyCol)
    Seq.empty
  }
}

/** Opaque expression holder: a LeafRunnableCommand field of type
  * Expression is collected by TreeNode.expressions and re-checked by
  * CheckAnalysis — but the rebound name-space expressions here are
  * DELIBERATELY unresolved until they meet the victims' frame at
  * commit time (the GraftUpdateCommand Map escapes that walk the
  * same way). */
final case class GraftExpr(e: Expression)

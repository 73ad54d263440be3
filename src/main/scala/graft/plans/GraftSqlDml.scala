package graft.plans

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, Cast, EqualTo, Exists, Expression, InSubquery, ListQuery, Literal, Not, OuterReference, ScalarSubquery, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.graft.GraftSqlBridge

import graft.sources.{GraftV2Table, VersionedTable}

/** SQL DML against versioned tables — the post-hoc resolution rule that
  * turns resolved `DELETE FROM` / `UPDATE` / `MERGE INTO` plans over a
  * [[GraftV2Table]] into eager commands running the library's
  * copy-on-write executors ([[VersionedTable.delete]] /
  * [[VersionedTable.update]] / [[VersionedTable.merge]]). This is the
  * reference engine's whole product expressed as the statement a modern
  * user types: `DELETE FROM t WHERE criteria` IS
  * `deletion/DeletionExecutor.java:139-230`'s
  * identify-affected-partitions → rewrite-the-complement, on the
  * manifest backend.
  *
  * Division of labor with the native V2 path (documented coexistence):
  * without these extensions, `DELETE FROM` still works through
  * [[GraftV2Table]]'s `SupportsDelete` for source-translatable
  * predicates (and TRUNCATE for unconditional). With them, ANY
  * deterministic Catalyst predicate works — plus UPDATE and the
  * canonical upsert MERGE, which plain V2 tables cannot express without
  * `SupportsRowLevelOperations`' full rewrite machinery.
  *
  * Conditions are rebound by NAME (attribute refs → unresolved
  * attributes) and re-resolved against the freshly-planned current
  * frame inside the executors — exprIds from the analyzed statement
  * cannot leak into a different plan. Subqueries: uncorrelated
  * `tuple IN (SELECT …)` conjuncts and equality-correlated
  * EXISTS / NOT EXISTS conjuncts run as JOIN-form membership
  * ([[VersionedTable.deleteMatching]]/`updateMatching` — semi / anti);
  * uncorrelated NOT IN — single-column and tuple forms — runs its
  * EXACT 3VL (an all-NULL set tuple ⇒ no rows; empty set ⇒ all rows;
  * single-column onto the anti kernel with `k IS NOT NULL`, tuples as
  * a NULL-AWARE anti join on the per-component SQL-spec condition)
  * resolved at run time; uncorrelated scalars and EXISTS materialize
  * to literals at run time; every other shape (non-equality
  * correlation) refuses loudly naming itself — a silent approximation
  * would be worse than the refusal.
  */
class GraftDmlRule(session: SparkSession) extends Rule[LogicalPlan] {

  import GraftDml._

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case d @ DeleteFromTable(GraftRel(t), cond) if d.resolved =>
      t.requireMutable("DELETE")
      val sub = extractInSubqueries(cond, "DELETE")
      if (sub.hasJoinForm)
        GraftDeleteMatchingCommand(t.tableDir, t.specString, sub.keys,
          sub.antiKeys, sub.notInKeys, sub.probes, sub.residual,
          sub.scalars)
      else if (sub.probes.nonEmpty)
        GraftDeleteCommand(t.tableDir, t.specString,
          sub.residual.getOrElse(Literal.TrueLiteral), sub.probes)
      else GraftDeleteCommand(t.tableDir, t.specString, cond)

    case u @ UpdateTable(GraftRel(t), assignments, cond) if u.resolved =>
      t.requireMutable("UPDATE")
      val sub = cond.map(extractInSubqueries(_, "UPDATE"))
        .getOrElse(DmlSubqueries(Nil, Nil, Nil, Nil, None))
      // nested-field assignments (`SET s.a = v`) become a struct
      // rebuild on the TOP column: UpdateFields replaces exactly the
      // addressed field, every other field carries — which the COW
      // kernel then applies column-wise like any other assignment.
      // Later assignments to the SAME column chain onto the earlier
      // rebuild, so `SET s.a = 1, s.b = 2` is one combined struct.
      import org.apache.spark.sql.catalyst.expressions.{ExtractValue,
        GetStructField, UpdateFields}
      def peel(e: Expression, acc: List[String])
          : Option[(AttributeReference, List[String])] = e match {
        case a: AttributeReference => Some((a, acc))
        case g: GetStructField => peel(g.child, g.extractFieldName :: acc)
        case _ => None
      }
      def updateAt(struct: Expression, path: List[String],
          v: Expression): Expression = path match {
        case last :: Nil => UpdateFields(struct, last, v)
        case head :: rest =>
          UpdateFields(struct, head,
            updateAt(ExtractValue(struct,
              Literal(org.apache.spark.unsafe.types.UTF8String
                .fromString(head),
                org.apache.spark.sql.types.StringType),
              session.sessionState.conf.resolver), rest, v))
        case Nil => v
      }
      val acc = scala.collection.mutable
        .LinkedHashMap.empty[String, Expression]
      assignments.foreach { a =>
        a.key match {
          case k: AttributeReference => acc(k.name) = a.value
          case g: GetStructField => peel(g, Nil) match {
            case Some((attr, path)) =>
              acc(attr.name) =
                updateAt(acc.getOrElse(attr.name, attr), path, a.value)
            case None => throw new UnsupportedOperationException(
              s"UPDATE of ${g.sql} is not supported — only struct " +
                "fields (no array/map elements); assign the whole " +
                "top-level column")
          }
          case other => throw new UnsupportedOperationException(
            s"UPDATE of a nested field (${other.sql}) is supported " +
              "only for struct paths — " + other.getClass.getSimpleName +
              " is not one; assign whole top-level columns")
        }
      }
      val assigns = acc.toSeq
      assigns.foreach { case (_, v) =>
        requireSupportedSubqueries(v, "UPDATE") }
      if (sub.hasJoinForm)
        GraftUpdateMatchingCommand(t.tableDir, t.specString, assigns,
          sub.keys, sub.antiKeys, sub.notInKeys, sub.probes, sub.residual,
          sub.scalars)
      else if (sub.probes.nonEmpty)
        GraftUpdateCommand(t.tableDir, t.specString, assigns,
          sub.residual.getOrElse(Literal.TrueLiteral), sub.probes)
      else GraftUpdateCommand(t.tableDir, t.specString, assigns,
        cond.getOrElse(Literal.TrueLiteral))

    case m: MergeIntoTable if m.resolved =>
      m.targetTable match {
        case GraftRel(t) =>
          t.requireMutable("MERGE")
          translateMerge(m, t)
        case _ => plan
      }

    // dynamic INSERT OVERWRITE: Spark's V1 write fallback has no
    // dynamic-partition exec (only append/overwrite-by-expression), so
    // the plan routes to [[VersionedTable.overwritePartitions]] here —
    // one manifest commit replacing exactly the tuples present in the
    // query's rows
    case o @ OverwritePartitionsDynamic(GraftRel(t), query, _, _, _)
        if o.resolved =>
      t.requireMutable("INSERT OVERWRITE")
      GraftDynamicOverwriteCommand(t.tableDir, t.specString, query)

    case _ => plan
  }
}

private[plans] object GraftDml {

  /** The graft V2 table under a resolved DML target, looking through
    * aliases — anything else leaves the plan for Spark's own handling.
    */
  object GraftRel {
    def unapply(plan: LogicalPlan): Option[GraftV2Table] = plan match {
      case SubqueryAlias(_, child) => unapply(child)
      case r: DataSourceV2Relation => r.table match {
        case t: GraftV2Table => Some(t)
        case _ => None
      }
      case _ => None
    }
  }

  def requireNoSubquery(e: Expression, op: String): Unit =
    if (e.exists(_.isInstanceOf[SubqueryExpression]))
      throw new UnsupportedOperationException(
        s"$op supports subqueries only as UNCORRELATED single-column " +
          "`col IN (SELECT …)` conjuncts on graft tables — " +
          s"'${e.sql}' is not one (correlated, NOT IN and scalar forms " +
          "refuse); materialize it into a joinable " +
          "frame and use the library API")

  /** Accept uncorrelated SCALAR subqueries (they materialize to a
    * literal at command run time — [[GraftDml.resolveScalars]]); refuse
    * every other subquery shape, naming it. The distinction from
    * [[requireNoSubquery]]: residual conjuncts and assignment values CAN
    * carry a scalar (`amount > (SELECT avg(amount) …)` is a
    * one-value-then-compare), while a non-conjunct IN / EXISTS /
    * correlated form would need a join rewrite this path does not do.
    */
  def requireSupportedSubqueries(e: Expression, op: String): Unit =
    e.foreach {
      case s: ScalarSubquery if s.outerAttrs.isEmpty => ()
      case s: SubqueryExpression =>
        throw new UnsupportedOperationException(
          s"$op supports subqueries as UNCORRELATED `col IN / NOT IN " +
            "(SELECT …)` conjuncts (single-column and tuple forms, exact " +
            "3VL), equality-correlated " +
            "EXISTS/NOT EXISTS conjuncts, UNCORRELATED EXISTS " +
            "conjuncts, and UNCORRELATED scalars on graft tables — " +
            s"'${s.sql}' is none of these; materialize it into a " +
            "joinable frame and use the library API")
      case _ => ()
    }

  /** Evaluate every uncorrelated scalar subquery in `e` to a literal —
    * run-time companion of [[requireSupportedSubqueries]]. SQL scalar
    * semantics: empty result is NULL, more than one row refuses. An
    * uncorrelated EXISTS is a statement-constant boolean — ONE
    * row-existence probe (`take(1)`), never a count.
    */
  def resolveScalars(spark: SparkSession, e: Expression): Expression =
    e.transform {
      case s: ScalarSubquery if s.outerAttrs.isEmpty =>
        val rows = GraftSqlBridge.ofRows(spark, s.plan).take(2)
        require(rows.length <= 1,
          "scalar subquery in a DML condition returned more than one row")
        val value = if (rows.isEmpty) null else rows.head.get(0)
        Literal.create(value, s.dataType)
    }

  /** Evaluate uncorrelated EXISTS probes at command run time: each is a
    * statement-constant boolean answered by ONE row-existence probe
    * (`take(1)` — never a count). Returns whether EVERY probe conjunct
    * holds; a failed probe makes the whole WHERE false (the command
    * still commits its no-op version — statement-count = version-count
    * stays an invariant). Probes live in the command as `LogicalPlan`
    * fields, NOT expressions: an `Exists` stored in an Expression field
    * would be walked by `QueryPlan.expressions` and refused by
    * CheckAnalysis (IN/EXISTS allowed only under filters/joins/DML
    * roots, not under an opaque command).
    */
  def probesPass(spark: SparkSession,
      probes: Seq[(LogicalPlan, Boolean)]): Boolean =
    probes.forall { case (p, negated) =>
      GraftSqlBridge.ofRows(spark, p).take(1).nonEmpty != negated
    }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  /** Decompose a DML condition into JOIN-able subquery conjuncts:
    *
    *   - uncorrelated `attr-tuple IN (subquery)` → a (key names, plan)
    *     MEMBERSHIP pair (left-semi in the kernel); analyzer-inserted
    *     type-coercion `Cast`s around the attributes unwrap — the
    *     join's own coercion re-applies them;
    *   - equality-correlated `EXISTS (SELECT … WHERE s.k = t.k [AND
    *     uncorrelated …])` → the same membership pair (EXISTS over an
    *     equality IS `t.k IN (SELECT s.k …)`);
    *   - its negation `NOT EXISTS (…)` → an ANTI pair (left-anti);
    *     NOT EXISTS ≠ NOT IN — the anti join's a-NULL-key-row-hits
    *     semantics are exactly NOT EXISTS's, while `NOT IN` carries its
    *     own exact 3VL ([[resolveNotIn]]);
    *
    *   - uncorrelated `[NOT] EXISTS (…)` → a statement-constant PROBE
    *     (plan, negated) answered by one `take(1)` at run time;
    *
    * plus the residual, in which only uncorrelated SCALAR subqueries
    * may remain (they materialize at run time — [[resolveScalars]]).
    * Any other shape (non-equality correlation) refuses loudly: a
    * silent approximation of its semantics would be worse than the
    * refusal.
    */
  def extractInSubqueries(cond: Expression, op: String): DmlSubqueries = {
    def attrName(e: Expression): Option[String] = e match {
      case a: AttributeReference => Some(a.name)
      case c: Cast => attrName(c.child)
      case _ => None
    }
    val keys = Seq.newBuilder[(Seq[String], LogicalPlan)]
    val anti = Seq.newBuilder[(Seq[String], LogicalPlan)]
    val notIn = Seq.newBuilder[(Seq[String], LogicalPlan)]
    val probes = Seq.newBuilder[(LogicalPlan, Boolean)]
    val rest = Seq.newBuilder[Expression]
    splitConjuncts(cond).foreach {
      case InSubquery(values, l: ListQuery)
          if l.outerAttrs.isEmpty && values.forall(attrName(_).isDefined) =>
        keys += values.map(attrName(_).get) -> l.plan
      // uncorrelated NOT IN — single-column AND tuple forms, each with
      // its EXACT 3VL resolved at run time ([[resolveNotIn]]): an empty
      // subquery makes the conjunct TRUE for every row; an all-NULL
      // tuple in the set makes it UNKNOWN for every row (no rows);
      // otherwise single-column runs as an equi anti join plus
      // `k IS NOT NULL`, and a tuple runs as a NULL-AWARE anti join —
      // a row passes only when every set tuple is DEFINITELY unequal
      // (some component pair both-non-null and different), the SQL-spec
      // partial-NULL semantics with no approximation.
      case Not(InSubquery(values, l: ListQuery))
          if l.outerAttrs.isEmpty && values.nonEmpty &&
            values.forall(attrName(_).isDefined) =>
        notIn += values.map(attrName(_).get) -> l.plan
      case e: Exists if e.outerAttrs.nonEmpty =>
        keys += equiExistsKeys(e, op)
      case Not(e: Exists) if e.outerAttrs.nonEmpty =>
        anti += equiExistsKeys(e, op)
      case e: Exists => probes += e.plan -> false
      case Not(e: Exists) if e.outerAttrs.isEmpty =>
        probes += e.plan -> true
      case other => rest += other
    }
    // EQUALITY-CORRELATED SCALAR subqueries inside residual conjuncts
    // (`ts < (SELECT max(ts) FROM s WHERE s.k = t.k)`): each becomes a
    // GROUPED aggregate frame keyed on the correlation columns, LEFT-
    // joined by the kernels, and the subquery node is replaced by a
    // reference to the frame's value column. Aggregates that are NULL
    // over an empty group (max/min/sum/avg/first/last) read the join's
    // null-fill; COUNT coalesces to 0 (the SQL empty-group count) —
    // anything else refuses by name rather than approximate.
    val scalars =
      Seq.newBuilder[(Seq[String], LogicalPlan, String)]
    var scalarIdx = 0
    val rewritten = rest.result().map(_.transform {
      case s: ScalarSubquery if s.outerAttrs.nonEmpty =>
        val gen = s"__vt_scalar_$scalarIdx"
        scalarIdx += 1
        val (outerKeys, grouped, zeroDefault) =
          corrScalarPlan(s, gen, op)
        scalars += ((outerKeys, grouped, gen))
        // a RESOLVED attribute (fresh exprId): commands are leaves, so
        // CheckAnalysis only demands resolvedness; `rebound` re-resolves
        // it BY NAME against the kernel's scalar-joined frame (an
        // UnresolvedAttribute here would fail the post-rule analysis)
        val ref = org.apache.spark.sql.catalyst.expressions
          .AttributeReference(gen, s.dataType)()
        if (zeroDefault)
          org.apache.spark.sql.catalyst.expressions.Coalesce(Seq(
            ref, Literal.create(0L, s.dataType)))
        else ref
    })
    rewritten.foreach(requireSupportedSubqueries(_, op))
    DmlSubqueries(keys.result(), anti.result(), notIn.result(),
      probes.result(), rewritten.reduceOption(And), scalars.result())
  }

  /** Decompose an equality-correlated scalar subquery into (outer key
    * names, grouped aggregate plan, count-default flag). The plan shape
    * must be `Aggregate(no grouping, one aggregate, Filter(...))` —
    * i.e. `(SELECT agg(x) FROM s WHERE s.k = t.k [AND uncorrelated])` —
    * with the aggregate one of max/min/sum/avg/first/last (empty group
    * ⇒ NULL, the left join's natural fill) or count (empty group ⇒ 0,
    * coalesced by the caller). The rewritten plan groups by the inner
    * key columns and aliases them to the OUTER names, so the kernels
    * join it like any membership frame.
    */
  private def corrScalarPlan(s: ScalarSubquery, gen: String, op: String)
      : (Seq[String], LogicalPlan, Boolean) = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, NamedExpression}
    import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, First, Last, Max, Min, Sum}
    def refuse(what: String): Nothing =
      throw new UnsupportedOperationException(
        s"$op supports correlated SCALAR subqueries only as " +
          "`(SELECT agg(x) FROM s WHERE s.k = t.k [AND uncorrelated …])` " +
          "with agg in max/min/sum/avg/first/last/count — " +
          s"$what; materialize the subquery into a joinable frame and " +
          "use the library API")
    def hasOuter(p: LogicalPlan): Boolean =
      p.exists(_.expressions.exists(_.exists(
        _.isInstanceOf[OuterReference])))
    val (aggAlias, flt) = s.plan match {
      case Aggregate(Nil, Seq(a: Alias), f: Filter, _) => (a, f)
      case Aggregate(Nil, Seq(a: Alias), Project(_, f: Filter), _) =>
        (a, f)
      case other =>
        refuse(s"the subquery is not a single ungrouped aggregate over " +
          s"a WHERE (${other.nodeName})")
    }
    if (aggAlias.exists(_.isInstanceOf[OuterReference]))
      refuse("the aggregate expression itself references the outer query")
    val zeroDefault = aggAlias.child match {
      case ae: AggregateExpression => ae.aggregateFunction match {
        case _: Count => true
        case _: Max | _: Min | _: Sum | _: Average | _: First | _: Last =>
          false
        case other =>
          refuse(s"aggregate '${other.prettyName}' has no defined " +
            "empty-group default here")
      }
      case c: Cast => c.child match {
        case ae: AggregateExpression
            if !ae.aggregateFunction.isInstanceOf[Count] => false
        case _ => refuse("the output is not a single plain aggregate")
      }
      case _ => refuse("the output is not a single plain aggregate")
    }
    val (corr, inner) = splitConjuncts(flt.condition)
      .partition(_.exists(_.isInstanceOf[OuterReference]))
    val pairs = corr.map {
      case EqualTo(OuterReference(o: AttributeReference),
          i: AttributeReference) => o.name -> i
      case EqualTo(i: AttributeReference,
          OuterReference(o: AttributeReference)) => o.name -> i
      case other => refuse(
        s"the correlated conjunct '${other.sql}' is not a plain " +
          "column equality")
    }
    if (pairs.isEmpty) refuse("no equality correlation found")
    if (pairs.map(_._1).distinct.size != pairs.size)
      refuse("the same outer column correlates twice " +
        s"(${pairs.map(_._1).mkString(", ")})")
    val child = inner.reduceOption(And)
      .map(Filter(_, flt.child)).getOrElse(flt.child)
    if (hasOuter(child))
      refuse("the subquery still references the outer query below its " +
        "top WHERE")
    val groupKeys = pairs.map(_._2)
    val aggExprs: Seq[NamedExpression] =
      pairs.map { case (o, i) => Alias(i, o)() } :+
        Alias(aggAlias.child, gen)()
    (pairs.map(_._1), Aggregate(groupKeys, aggExprs, child), zeroDefault)
  }

  /** [[extractInSubqueries]]'s decomposition of a DML WHERE: semi keys,
    * anti keys, single-column NOT IN entries, uncorrelated-EXISTS
    * probes, and the plain residual.
    */
  case class DmlSubqueries(keys: Seq[(Seq[String], LogicalPlan)],
      antiKeys: Seq[(Seq[String], LogicalPlan)],
      notInKeys: Seq[(Seq[String], LogicalPlan)],
      probes: Seq[(LogicalPlan, Boolean)],
      residual: Option[Expression],
      scalars: Seq[(Seq[String], LogicalPlan, String)] = Nil) {
    def hasJoinForm: Boolean =
      keys.nonEmpty || antiKeys.nonEmpty || notInKeys.nonEmpty ||
        scalars.nonEmpty
  }

  /** Resolve the run-time half of NOT IN's three-valued logic against
    * the MATERIALIZED key frames: returns (equi-anti frames, extra
    * key-not-null condition, poisoned, null-aware-anti tuple frames).
    *
    *   - an EMPTY subquery ⇒ the conjunct is TRUE for every row — it
    *     simply drops;
    *   - an ALL-NULL tuple among the subquery's rows (for one column:
    *     any NULL value) ⇒ the conjunct is UNKNOWN for every row (no
    *     component can ever be definitely unequal) — the whole WHERE
    *     selects nothing (`poisoned`);
    *   - single-column otherwise ⇒ a left-anti membership frame PLUS
    *     `k IS NOT NULL` (a NULL key against a non-empty set is
    *     UNKNOWN, and the bare anti join would wrongly HIT it — that is
    *     NOT EXISTS's semantics, not NOT IN's);
    *   - tuple otherwise ⇒ a NULL-AWARE anti frame: partial-NULL
    *     comparisons have no row-level not-null shortcut (`(2, NULL)`
    *     IS definitely outside `{(1, 2)}` while `(1, NULL)` is
    *     UNKNOWN), so the kernels join these on the exact per-component
    *     condition ([[graft.sources.VersionedTable]]'s notInMatch).
    *
    * ONE aggregate probe per frame (emptiness + all-NULL presence +
    * nested-loop cap in a single pass) against the persisted frame the
    * kernel reuses.
    */
  def resolveNotIn(frames: Seq[(Seq[String], DataFrame)])
      : (Seq[(Seq[String], DataFrame)], Option[Column],
        Boolean, Seq[(Seq[String], DataFrame)]) = {
    import org.apache.spark.sql.functions.{col => fcol}
    var poisoned = false
    var notNull: Option[Column] = None
    val anti = Seq.newBuilder[(Seq[String], DataFrame)]
    val nullAware =
      Seq.newBuilder[(Seq[String], DataFrame)]
    frames.foreach { case (ks, f) =>
      // ONE aggregate answers all three probes (emptiness, all-NULL
      // tuple presence, nested-loop cap) over the persisted frame —
      // the three separate bounded actions (take, filtered take,
      // limit+count) paid three sequential job round-trips per frame
      // for answers a single pass produces; the frame is already
      // materialized by the caller's persist, so full counts read
      // cached blocks
      import org.apache.spark.sql.functions.{count, lit, sum, when}
      val allNull = ks.map(fcol(_).isNull).reduce(_ && _)
      val probe = f.agg(
        count(lit(1)).cast("long"),
        sum(when(allNull, 1L).otherwise(0L)).cast("long")).collect().head
      val (total, nAllNull) =
        (probe.getLong(0), if (probe.isNullAt(1)) 0L else probe.getLong(1))
      if (total == 0L) ()
      else if (nAllNull > 0L) poisoned = true
      else if (ks.size == 1) {
        val c = fcol(ks.head).isNotNull
        notNull = Some(notNull.map(_ && c).getOrElse(c))
        anti += ks -> f
      } else {
        // the null-aware anti join broadcasts the set frame into a
        // nested-loop (there is no equi form for partial-NULL tuple
        // comparison); an unbounded set would turn that into a silent
        // quadratic — refuse loudly past the cap, the same stance as
        // the exact-cosine audit's row cap
        if (total > NullAwareSetCap)
          throw new UnsupportedOperationException(
            s"tuple NOT IN subquery returned more than $NullAwareSetCap " +
              "rows — the null-aware anti join broadcasts the set into " +
              "a nested loop, which does not scale past a bounded set; " +
              "for a NULL-free set use NOT EXISTS with equality " +
              "correlations (an anti hash join), or pre-filter the set")
        nullAware += ks -> f
      }
    }
    (anti.result(), notNull, poisoned, nullAware.result())
  }

  /** Run a membership statement over its frames: materialize each
    * subquery once, persisted for the command's duration — the kernel
    * reads each frame up to three times (affected-tuple probe,
    * foreign-leaf discovery, rewrite) — resolve the NOT IN sets
    * ([[resolveNotIn]]), fold the residual, and unpersist afterwards.
    * When every join conjunct resolved away (empty NOT IN sets) the
    * statement is the plain-predicate form and `plain` runs on the
    * folded residual; otherwise `joined` gets the key, anti-key,
    * null-aware tuple-NOT-IN and correlated-scalar frames with it.
    */
  def withMembership(spark: SparkSession,
      keys: Seq[(Seq[String], LogicalPlan)],
      antiKeys: Seq[(Seq[String], LogicalPlan)],
      notInKeys: Seq[(Seq[String], LogicalPlan)],
      probes: Seq[(LogicalPlan, Boolean)],
      residual: Option[Expression],
      scalars: Seq[(Seq[String], LogicalPlan, String)])(
      plain: Column => Unit)(
      joined: (Seq[(Seq[String], DataFrame)], Option[Column],
        Seq[(Seq[String], DataFrame)], Seq[(Seq[String], DataFrame)],
        Seq[(Seq[String], DataFrame, String)]) => Unit): Unit = {
    import org.apache.spark.sql.functions.lit
    def materialize(ks: Seq[(Seq[String], LogicalPlan)]) =
      ks.map { case (k, plan) =>
        k -> GraftSqlBridge.ofRows(spark, plan).toDF(k: _*).persist()
      }
    val frames = materialize(keys)
    val antiFrames = materialize(antiKeys)
    val notInFrames = materialize(notInKeys)
    // correlated-scalar frames: grouped aggregates keyed on the outer
    // columns, one value column each
    val scalarFrames = scalars.map { case (ks, plan, gen) =>
      (ks, GraftSqlBridge.ofRows(spark, plan)
        .toDF((ks :+ gen): _*).persist(), gen)
    }
    try {
      val (notInAnti, notNull, poisoned, nullAware) = resolveNotIn(notInFrames)
      val res: Option[Column] =
        if (!probesPass(spark, probes) || poisoned) Some(lit(false))
        else {
          val base = residual.map(r => rebound(resolveScalars(spark, r)))
          (base, notNull) match {
            case (Some(a), Some(b)) => Some(a && b)
            case (a, b) => a.orElse(b)
          }
        }
      val allAnti = antiFrames ++ notInAnti
      if (frames.isEmpty && allAnti.isEmpty && nullAware.isEmpty &&
          scalarFrames.isEmpty) plain(res.getOrElse(lit(true)))
      else joined(frames, res, allAnti, nullAware, scalarFrames)
    } finally ((frames ++ antiFrames ++ notInFrames).map(_._2) ++
      scalarFrames.map(_._2))
      .foreach(_.unpersist(blocking = false))
  }

  /** Row cap for tuple NOT IN's broadcast-nested-loop set side. */
  private[graft] val NullAwareSetCap = 100000

  /** The (outer key names, inner key plan) of an equality-correlated
    * EXISTS: the subquery's top `WHERE` must carry conjuncts
    * `s.inner = t.outer` (either side); the uncorrelated remainder of
    * that WHERE stays inside the key plan, and nothing BELOW it may
    * still reference the outer query. `EXISTS (SELECT … WHERE s.k =
    * t.k AND s.live)` thus becomes the membership pair
    * (`Seq(k)`, `SELECT k FROM s WHERE live`).
    */
  private def equiExistsKeys(e: Exists, op: String)
      : (Seq[String], LogicalPlan) = {
    def refuse(what: String): Nothing =
      throw new UnsupportedOperationException(
        s"$op supports correlated EXISTS/NOT EXISTS only with equality " +
          "correlations in the subquery's top WHERE (… WHERE s.k = t.k " +
          s"[AND uncorrelated …]) — $what; materialize the subquery " +
          "into a joinable frame and use the library API")
    def hasOuter(p: LogicalPlan): Boolean =
      p.exists(_.expressions.exists(_.exists(
        _.isInstanceOf[OuterReference])))
    val f = e.plan match {
      case Project(_, flt: Filter) => flt
      case flt: Filter => flt
      case other =>
        refuse(s"the subquery has no top-level WHERE (${other.nodeName})")
    }
    val (corr, inner) = splitConjuncts(f.condition)
      .partition(_.exists(_.isInstanceOf[OuterReference]))
    val pairs = corr.map {
      case EqualTo(OuterReference(o: AttributeReference),
          i: AttributeReference) => o.name -> i
      case EqualTo(i: AttributeReference,
          OuterReference(o: AttributeReference)) => o.name -> i
      case other => refuse(
        s"the correlated conjunct '${other.sql}' is not a plain " +
          "column equality")
    }
    if (pairs.isEmpty) refuse("no equality correlation found")
    if (pairs.map(_._1).distinct.size != pairs.size)
      refuse("the same outer column correlates twice " +
        s"(${pairs.map(_._1).mkString(", ")})")
    val child = inner.reduceOption(And)
      .map(Filter(_, f.child)).getOrElse(f.child)
    if (hasOuter(child))
      refuse("the subquery references the outer query below its top " +
        "WHERE")
    (pairs.map(_._1), Project(pairs.map(_._2), child))
  }

  /** Rebind a resolved expression by NAME so it re-resolves against the
    * executor's freshly-planned frame.
    */
  def rebound(e: Expression): Column =
    GraftSqlBridge.column(e.transform {
      case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
    })

  /** Translate a resolved MERGE into the library's executors, or refuse
    * loudly naming the first unsupported part. Supported: `ON t.k = s.k
    * [AND …]` (same-named target/source column equalities, plus any
    * residual non-equality conjuncts — `AND s.ts > t.ts` — which gate
    * the match itself), any ordered mix of
    * `WHEN MATCHED [AND cond] THEN UPDATE SET * | DELETE`, and an
    * optional `WHEN NOT MATCHED [AND cond] THEN INSERT *` (star forms
    * arrive expanded to identity assignments by the analyzer). The
    * exact canonical upsert (one unconditional UPDATE SET * + one
    * unconditional INSERT *) keeps [[VersionedTable.merge]]'s
    * replace-matched-insert-rest fast path; every other shape runs
    * [[VersionedTable.mergeInto]]'s clause kernel — including
    * `WHEN NOT MATCHED BY SOURCE [AND cond] THEN DELETE | UPDATE SET …`
    * (the table-sync idiom), EXPRESSION assignments in any UPDATE or
    * INSERT clause, applied column-wise (`SET amount = t.amount +
    * s.amount` is exact semantics, unassigned columns keep the
    * target's value), and `WITH SCHEMA EVOLUTION` (the analyzer routes
    * the source's new columns through alterTable's metadata-only
    * widening BEFORE this rule sees the plan). Still refused, with the
    * reason named: nested-field assignments and subquery conditions.
    */
  def translateMerge(m: MergeIntoTable, t: GraftV2Table): LogicalPlan = {
    def refuse(what: String): Nothing =
      throw new UnsupportedOperationException(
        s"MERGE INTO a graft table supports ON t.k = s.k with matched " +
          s"UPDATE SET \u2026/DELETE clauses, NOT MATCHED INSERT \u2026, and NOT " +
          s"MATCHED BY SOURCE UPDATE/DELETE — " +
          s"$what is not supported; use VersionedTable.merge/mergeInto " +
          "or explicit DELETE + INSERT")
    val sourceOut = m.sourceTable.outputSet
    val targetOut = m.targetTable.outputSet
    // ON t.a = s.a [AND t.b = s.b …] — one or more same-named
    // target/source column equalities = a composite join key (the
    // everyday multi-column upsert); anything else refuses naming the
    // conjunct
    def keyOf(e: Expression): Option[String] = e match {
      case org.apache.spark.sql.catalyst.expressions.EqualTo(
          l: AttributeReference, r: AttributeReference)
          if l.name == r.name &&
            ((targetOut.contains(l) && sourceOut.contains(r)) ||
              (sourceOut.contains(l) && targetOut.contains(r))) =>
        Some(l.name)
      case _ => None
    }
    val (keyConjs, residConjs) =
      splitConjuncts(m.mergeCondition).partition(c => keyOf(c).isDefined)
    val keys = keyConjs.map(keyOf(_).get)
    if (keys.isEmpty)
      refuse("an ON condition with no same-named target/source column " +
        s"equality ('${m.mergeCondition.sql}') — at least one equality " +
        "pair must anchor the join")
    if (keys.distinct.size != keys.size)
      refuse(s"the ON condition repeats a key column " +
        s"(${keys.mkString(", ")})")
    // residual ON conjuncts (`ON t.k = s.k AND s.ts > t.ts` — the
    // dedup-upsert idiom) ride the kernel's join condition: a pair the
    // residual does not definitely pass is NOT matched, so matched
    // clauses skip it, NOT MATCHED inserts fire for its source row and
    // BY SOURCE clauses for its target row — SQL MERGE's exact match
    // semantics. Subqueries inside the residual refuse.
    residConjs.foreach(requireNoSubquery(_, "MERGE"))
    // the canonical-upsert FAST PATH requires every assignment to be the
    // source's same-named column, checked structurally (exprId
    // membership — `SET amount = tg.amount` is NOT identity even though
    // the names match); anything else runs the clause kernel, which
    // applies assignments COLUMN-WISE, so target-referencing and
    // expression assignments are simply correct there
    def isIdentity(assigns: Seq[Assignment]): Boolean =
      assigns.forall { a =>
        (a.key, a.value) match {
          case (k: AttributeReference, v: AttributeReference) =>
            k.name == v.name && sourceOut.contains(v)
          case _ => false
        }
      }
    // UPDATE-clause assignments may address NESTED struct fields
    // (`SET t.meta.lang = …`): the struct rebuilds via UpdateFields on
    // the TARGET's column (base `__t.<col>` inside the kernel's
    // two-alias join), later nested assignments to the same column
    // chaining onto the earlier rebuild — the UPDATE statement's rule.
    // INSERT clauses keep whole-column assignments only (SQL has no
    // partial-row insert; there is no target row to carry fields from).
    def namedAssigns(assigns: Seq[Assignment],
        qualify: Expression => Expression,
        allowNested: Boolean = false): Seq[(String, Column)] = {
      import org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue
      import org.apache.spark.sql.catalyst.expressions.{GetStructField, UpdateFields}
      def peel(e: Expression, acc: List[String])
          : Option[(AttributeReference, List[String])] = e match {
        case a: AttributeReference => Some((a, acc))
        case g: GetStructField => peel(g.child, g.extractFieldName :: acc)
        case _ => None
      }
      def updateAt(struct: Expression, path: List[String],
          v: Expression): Expression = path match {
        case last :: Nil => UpdateFields(struct, last, v)
        case head :: rest => UpdateFields(struct, head,
          updateAt(UnresolvedExtractValue(struct,
            Literal(org.apache.spark.unsafe.types.UTF8String
              .fromString(head),
              org.apache.spark.sql.types.StringType)), rest, v))
        case Nil => v
      }
      val acc = scala.collection.mutable
        .LinkedHashMap.empty[String, Expression]
      assigns.foreach { a =>
        a.key match {
          case k: AttributeReference => acc(k.name) = qualify(a.value)
          case g: GetStructField if allowNested => peel(g, Nil) match {
            case Some((attr, path)) =>
              val base = acc.getOrElse(attr.name,
                UnresolvedAttribute(Seq("__t", attr.name)))
              acc(attr.name) = updateAt(base, path, qualify(a.value))
            case None => refuse(
              s"an assignment to ${g.sql} — only struct paths rebuild")
          }
          case other => refuse(
            s"an assignment to a nested field (${other.sql})")
        }
      }
      acc.toSeq.map { case (n, e) => n -> GraftSqlBridge.column(e) }
    }
    // clause conditions re-resolve inside the kernel's two-alias join:
    // target attributes as `__t.<col>`, source attributes as `__s.<col>`
    def qualified(e: Expression): Expression = {
      requireNoSubquery(e, "MERGE")
      e.transform {
        case a: AttributeReference if targetOut.contains(a) =>
          UnresolvedAttribute(Seq("__t", a.name))
        case a: AttributeReference if sourceOut.contains(a) =>
          UnresolvedAttribute(Seq("__s", a.name))
        case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
      }
    }
    // conditions become Columns HERE (not Expression fields of the
    // command): a stored unresolved Expression would be traversed by
    // later analyzer batches (UpdateAttributeNullability calls exprId),
    // while a Column field is opaque to plan traversal
    val matched: Seq[(Option[Column], Boolean, Seq[(String, Column)])] =
      m.matchedActions.map {
        case u: UpdateAction =>
          (u.condition.map(c => GraftSqlBridge.column(qualified(c))),
            false, namedAssigns(u.assignments, qualified,
              allowNested = true))
        case d: DeleteAction =>
          (d.condition.map(c => GraftSqlBridge.column(qualified(c))),
            true, Seq.empty[(String, Column)])
        case other => refuse(s"matched action $other")
      }
    val insert: Option[(Option[Column], Seq[(String, Column)])] =
      m.notMatchedActions match {
        case Seq() => None
        case Seq(i: InsertAction) =>
          // INSERT values reference the source only (SQL rule, analyzer
          // enforced); its condition too
          Some((i.condition.map(c => GraftSqlBridge.column(qualified(c))),
            namedAssigns(i.assignments, qualified)))
        case other => refuse(s"not-matched actions $other")
      }
    // NOT MATCHED BY SOURCE: clauses over target rows with no source
    // match — DELETE (the table-sync idiom) or UPDATE with TARGET-side
    // assignments (SQL forbids source references here; Spark's analyzer
    // enforces it, `qualified` maps what remains to `__t`)
    val bySource: Seq[(Option[Column], Boolean, Seq[(String, Column)])] =
      m.notMatchedBySourceActions.map {
        case u: UpdateAction =>
          (u.condition.map(c => GraftSqlBridge.column(qualified(c))),
            false, namedAssigns(u.assignments, qualified,
              allowNested = true))
        case d: DeleteAction =>
          (d.condition.map(c => GraftSqlBridge.column(qualified(c))),
            true, Seq.empty[(String, Column)])
        case other => refuse(s"not-matched-by-source action $other")
      }
    val onResidual: Option[Column] = residConjs
      .map(c => GraftSqlBridge.column(qualified(c)))
      .reduceOption(_ && _)
    val canonical = onResidual.isEmpty && bySource.isEmpty &&
      (m.matchedActions match {
      case Seq(u: UpdateAction) => u.condition.isEmpty &&
        isIdentity(u.assignments)
      case _ => false
    }) && (m.notMatchedActions match {
      case Seq(i: InsertAction) => i.condition.isEmpty &&
        isIdentity(i.assignments)
      case _ => false
    })
    if (canonical)
      GraftMergeCommand(t.tableDir, t.specString, keys, m.sourceTable)
    else
      GraftMergeClausesCommand(t.tableDir, t.specString, keys, matched,
        insert, bySource, m.sourceTable, onResidual)
  }
}

/** `DELETE FROM graft.`dir`` WHERE cond — the reference's deletion job
  * as one statement; runs [[VersionedTable.delete]]'s COW kernel.
  * `probes` are uncorrelated-EXISTS conjuncts ([[GraftDml.probesPass]]):
  * a failed probe makes the WHERE false for the whole statement.
  */
case class GraftDeleteCommand(tableDir: String, spec: String,
    cond: Expression, probes: Seq[(LogicalPlan, Boolean)] = Nil)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val effective =
      if (GraftDml.probesPass(spark, probes)) cond else Literal.FalseLiteral
    VersionedTable.delete(spark, tableDir, spec,
      GraftDml.rebound(GraftDml.resolveScalars(spark, effective)))
    Seq.empty
  }
}

/** `DELETE FROM graft.`dir`` WHERE k IN (SELECT …) [AND …]` (and its
  * EXISTS / NOT EXISTS spellings) — the GDPR id-list delete as one
  * statement. Each subquery materializes at run time and the
  * membership (or, for `antiKeys`, NON-membership) test executes as a
  * JOIN inside [[VersionedTable.deleteMatching]]'s COW kernel; nothing
  * key-set-sized is ever collected to the driver.
  */
case class GraftDeleteMatchingCommand(tableDir: String, spec: String,
    keys: Seq[(Seq[String], LogicalPlan)],
    antiKeys: Seq[(Seq[String], LogicalPlan)],
    notInKeys: Seq[(Seq[String], LogicalPlan)],
    probes: Seq[(LogicalPlan, Boolean)],
    residual: Option[Expression],
    scalars: Seq[(Seq[String], LogicalPlan, String)] = Nil)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    GraftDml.withMembership(spark, keys, antiKeys, notInKeys, probes,
      residual, scalars)(VersionedTable.delete(spark, tableDir, spec, _))(
      VersionedTable.deleteMatching(spark, tableDir, spec, _, _, _, _, _))
    Seq.empty
  }
}

/** `UPDATE graft.`dir`` SET … WHERE k IN (SELECT …) [AND …]` (and its
  * EXISTS / NOT EXISTS spellings) → [[VersionedTable.updateMatching]]
  * — same JOIN-form membership as [[GraftDeleteMatchingCommand]].
  */
case class GraftUpdateMatchingCommand(tableDir: String, spec: String,
    assignments: Seq[(String, Expression)],
    keys: Seq[(Seq[String], LogicalPlan)],
    antiKeys: Seq[(Seq[String], LogicalPlan)],
    notInKeys: Seq[(Seq[String], LogicalPlan)],
    probes: Seq[(LogicalPlan, Boolean)],
    residual: Option[Expression],
    scalars: Seq[(Seq[String], LogicalPlan, String)] = Nil)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    lazy val boundAssigns = assignments.map { case (n, e) =>
      n -> GraftDml.rebound(GraftDml.resolveScalars(spark, e))
    }
    GraftDml.withMembership(spark, keys, antiKeys, notInKeys, probes,
      residual, scalars)(
      VersionedTable.update(spark, tableDir, spec, _, boundAssigns))(
      VersionedTable.updateMatching(spark, tableDir, spec, _, _,
        boundAssigns, _, _, _))
    Seq.empty
  }
}

/** `UPDATE graft.`dir`` SET … WHERE cond` → [[VersionedTable.update]];
  * `probes` as in [[GraftDeleteCommand]].
  */
case class GraftUpdateCommand(tableDir: String, spec: String,
    assignments: Seq[(String, Expression)], cond: Expression,
    probes: Seq[(LogicalPlan, Boolean)] = Nil)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val effective =
      if (GraftDml.probesPass(spark, probes)) cond else Literal.FalseLiteral
    VersionedTable.update(spark, tableDir, spec,
      GraftDml.rebound(GraftDml.resolveScalars(spark, effective)),
      assignments.map { case (n, e) =>
        n -> GraftDml.rebound(GraftDml.resolveScalars(spark, e))
      })
    Seq.empty
  }
}

/** Dynamic `INSERT OVERWRITE` → [[VersionedTable.overwritePartitions]]:
  * the partition tuples present in the query replace wholesale, all
  * others carry by reference, one commit.
  */
case class GraftDynamicOverwriteCommand(tableDir: String, spec: String,
    query: LogicalPlan) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    VersionedTable.overwritePartitions(
      GraftSqlBridge.ofRows(spark, query), tableDir, spec)
    Seq.empty
  }
}

/** Canonical-upsert `MERGE INTO` → [[VersionedTable.merge]]: matched
  * rows replaced by the source row, unmatched source rows inserted,
  * only affected partitions rewritten.
  */
case class GraftMergeCommand(tableDir: String, spec: String,
    keyCols: Seq[String], source: LogicalPlan)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val batch = GraftSqlBridge.ofRows(spark, source)
    VersionedTable.mergeKeys(batch, tableDir, spec, keyCols)
    Seq.empty
  }
}

/** Clause-form `MERGE INTO` (matched UPDATE/DELETE with optional
  * conditions, optional conditional INSERT, optional NOT MATCHED BY
  * SOURCE UPDATE/DELETE) → [[VersionedTable.mergeInto]]. Conditions and
  * by-source assignment values arrive pre-rebound to
  * `__t.<col>`/`__s.<col>` and re-resolve inside the kernel's join.
  */
case class GraftMergeClausesCommand(tableDir: String, spec: String,
    keyCols: Seq[String],
    matched: Seq[(Option[Column], Boolean, Seq[(String, Column)])],
    insert: Option[(Option[Column], Seq[(String, Column)])],
    bySource: Seq[(Option[Column], Boolean, Seq[(String, Column)])],
    source: LogicalPlan, onResidual: Option[Column] = None)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val batch = GraftSqlBridge.ofRows(spark, source)
    VersionedTable.mergeIntoKeys(batch, tableDir, spec, keyCols, matched,
      insert, bySource, onResidual)
    Seq.empty
  }
}

package graft.plans

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types._

import graft.sources.{GraftManifestCatalog, ManifestChangeFeed, ManifestFiles, ManifestMaterializedView}

/** TRANSPARENT MATERIALIZED-VIEW REWRITING (round 14; star joins +
  * staleness compensation round 15): a resolved aggregate over a
  * governed source table — or over a STAR JOIN of a fact to pinned
  * dimensions — silently answers from a matching materialized view,
  * the classic OLAP acceleration (Oracle query rewrite / Calcite
  * materialized views; nothing of the kind exists in the 2.1
  * reference). Wired through
  * `SparkSessionExtensions.injectPostHocResolutionRule` so it sees
  * fully-resolved plans; `SET spark.graft.mv.rewrite=false` disables.
  *
  * SOUNDNESS RULES (each individually conservative):
  *   - SHAPE: group-bys must be plain columns forming the MV keys as a
  *     set — or a SUBSET of them (ROLLUP MATCHING, round 16: the
  *     Calcite/Oracle partial group-by rewrite, the reason one
  *     `(day, segment)` cube serves every coarser dashboard
  *     granularity). An exact match answers with a PROJECT over the MV;
  *     a subset re-AGGREGATES the MV's storage columns, which is sound
  *     because every supported aggregate re-aggregates losslessly:
  *     counts and sums FOLD (sum of per-group signed counts/exact
  *     sums), min/max RE-EXTREMIZE (min of per-group minima), and avg
  *     derives from the folded exact sum/count pair — never from
  *     averaging averages. Exact candidates are preferred over rollup
  *     ones (no re-aggregation work at read time). Every output must
  *     be a group key or a bare count/sum/avg/min/max whose argument
  *     semantically equals a declared MV aggregate (resolved against
  *     the query's OWN child plan, so casts and exprIds align);
  *     `count(*)` matches any MV on the source. The plan under the aggregate may be one manifest
  *     relation or a tree of INNER joins over manifest relations of the
  *     same catalog; the join-condition SET must biject semantically to
  *     the MV's declared dim conditions (inner joins reassociate
  *     freely, so tree shape is irrelevant). Filters match by CONJUNCT
  *     IMPLICATION (round 16): every MV conjunct must be consumed by a
  *     semantically-equal query conjunct, and leftover query conjuncts
  *     must reference only group keys — they prune the MV's GROUPS
  *     (key-only predicates are constant within a group), so `WHERE
  *     <mv filter> AND seg = 'x'` answers from a filtered MV. In the
  *     ROLLUP pass, `count(DISTINCT <key cols…>)` additionally derives
  *     by re-counting distinct key tuples over the MV's rows — sound
  *     because the MV holds exactly one row per live full-key combo
  *     (the "active days per segment" dashboard shape, which no fold
  *     of stored aggregates can answer).
  *   - FRESHNESS: every DIM scan must sit exactly at its pinned
  *     version. The FACT scan must equal the checkpoint's
  *     sourceVersion — or, under `spark.graft.mv.rewrite.allowStale`,
  *     may be AHEAD of it: the rewrite then answers
  *     `MV@checkpoint ⊎ signed-fold(fact CDF tail ⋈ pinned dims)` — the
  *     refresh's own algebra applied at plan time (DELTA COMPENSATION),
  *     so the answer is EXACT at the scanned version, not approximately
  *     fresh. Min/max compensate only over an append-only tail
  *     (metadata-proven); count and sums fold signed legs exactly.
  *     Branch reads never rewrite; a fact pinned BEFORE the checkpoint
  *     never rewrites (the feed cannot run backwards).
  *   - The replacement reads the MV AS OF checkpoint.mvVersion, so a
  *     crashed refresh's orphan data commits can never leak into
  *     answers.
  *   - VALUE-DRIFT GATE: count/min/max/integral-sum rewrite freely
  *     (bit-identical by construction). Fractional sums and every avg
  *     answer from the MV's decimal-exact accumulation, which can
  *     differ from native float summation in the last bits — those
  *     rewrite only under `spark.graft.mv.rewrite.allowNumericDrift`.
  *
  * DISCOVERY is per-source, not per-catalog (round 15): candidates come
  * from the fact table's own `_mvreg/` registry directory (written by
  * create), so plan-time FS operations stay FLAT as the catalog grows —
  * the round-14 implementation listed every sibling of the catalog
  * root on every aggregate plan (~1,000 LISTs on a 1,000-table
  * catalog).
  *
  * The rule never fires on the MV machinery's own reads: create /
  * refresh / compensate all read the source BY PATH (no catalog on the
  * relation). Output attribute ids and types are preserved exactly, so
  * parent operators are untouched. */
case class MvRewrite(spark: SparkSession) extends Rule[LogicalPlan]
    with PredicateHelper {

  private def enabled: Boolean =
    spark.conf.get("spark.graft.mv.rewrite", "true").toBoolean
  private def allowDrift: Boolean =
    spark.conf.get("spark.graft.mv.rewrite.allowNumericDrift", "false")
      .toBoolean
  private def allowStale: Boolean =
    spark.conf.get("spark.graft.mv.rewrite.allowStale", "false").toBoolean

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!enabled) plan
    else plan.resolveOperatorsUp {
      case agg: Aggregate if agg.resolved =>
        try rewrite(agg).getOrElse(agg)
        catch { case _: Exception => agg } // never break a valid plan
    }

  /** One manifest relation at the bottom of the query tree, with its
    * resolved scan version. */
  private case class Leaf(rel: DataSourceV2Relation,
      cat: GraftManifestCatalog, ident: Identifier, version: Int)

  /** One join condition plus its kind: `leftDim = None` for an INNER
    * condition (reassociates freely), `Some(dimTable)` for a LEFT-OUTER
    * condition attached to that null-supplying dim leaf. */
  private type Cond = (Expression, Option[String])

  /** Strip aliases; collect the conjunction of all Filters, the tagged
    * join conditions, and the manifest-relation leaves. Inner joins
    * commute with filters and reassociate, so flattening preserves
    * semantics exactly. A LEFT join is accepted only in the star shape
    * that actually commutes: the null-supplying side must be ONE bare
    * dim relation (a filtered or joined right side does not commute
    * with the outer join), and filters collect only from the PRESERVED
    * side, which the left join keeps intact. tryOne further requires
    * each left condition to reference only the fact and its own dim, so
    * left joins reorder soundly among themselves and across the inner
    * ones. Any other operator (project, branch read) bails. */
  private def unwrapShape(p: LogicalPlan):
      Option[(Option[Expression], Seq[Cond], Seq[Leaf])] = p match {
    case SubqueryAlias(_, c) => unwrapShape(c)
    case Filter(cond, c) => unwrapShape(c).map {
      case (f, cs, ls) =>
        (Some(f.map(And(cond, _)).getOrElse(cond)), cs, ls)
    }
    case Join(l, r, Inner, Some(cond), _) =>
      for ((fl, cl, ll) <- unwrapShape(l); (fr, cr, lr) <- unwrapShape(r))
        yield {
          val fs = (fl.toSeq ++ fr.toSeq).reduceOption(And)
          (fs, (cl :+ ((cond, None: Option[String]))) ++ cr, ll ++ lr)
        }
    case Join(l, r, LeftOuter, Some(cond), _) =>
      unwrapShape(r) match {
        case Some((None, Seq(), Seq(dim))) =>
          unwrapShape(l).map { case (fl, cl, ll) =>
            (fl, cl :+ ((cond, Some(dim.ident.name))), ll :+ dim)
          }
        case _ => None
      }
    case r: DataSourceV2Relation =>
      (r.catalog, r.identifier) match {
        case (Some(cat: GraftManifestCatalog), Some(id))
            if id.namespace.isEmpty =>
          val props = r.table.properties()
          if (props.containsKey("branch")) None
          else {
            val root = spark.conf.get(s"spark.sql.catalog.${cat.name()}.root")
            val dir = new Path(root, id.name)
            val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
            val v = Option(props.get("versionAsOf"))
              .flatMap(_.toIntOption)
              .getOrElse(ManifestFiles.latestComplete(fs, dir))
            Some((None, Seq.empty, Seq(Leaf(r, cat, id, v))))
          }
        case _ => None
      }
    case _ => None
  }

  private def rewrite(agg: Aggregate): Option[LogicalPlan] = {
    val (queryFilter, joinConds, leaves) = unwrapShape(agg.child) match {
      case Some(x) => x
      case None => return None
    }
    if (leaves.isEmpty) return None
    val cat = leaves.head.cat
    if (!leaves.forall(_.cat.name() == cat.name())) return None
    if (leaves.map(_.ident.name).distinct.length != leaves.length)
      return None // self-joins don't match the star algebra
    // group-bys must be bare columns (exact match) or deterministic
    // expressions over them (rollup) — tryOne enforces per pass; here
    // only non-determinism disqualifies outright
    agg.groupingExpressions.foreach { ge =>
      if (!ge.deterministic) return None
    }
    val root = spark.conf.get(s"spark.sql.catalog.${cat.name()}.root")
    val hconf = spark.sessionState.newHadoopConf()
    val fs = new Path(root).getFileSystem(hconf)

    // candidates: each leaf's own _mvreg registry (flat in catalog size)
    val candidates = leaves.flatMap { leaf =>
      ManifestMaterializedView.registered(fs, new Path(root, leaf.ident.name))
    }.distinct.flatMap { mvName =>
      try {
        val p = new Path(root, mvName)
        if (ManifestMaterializedView.isMaterializedView(fs, p))
          Some((mvName, ManifestMaterializedView.readDef(fs, p)))
        else None // stale registry marker: MV dropped by hand
      } catch { case _: Exception => None }
    }
    // exact-key candidates first (a Project beats a re-aggregation),
    // then rollup candidates (query keys ⊂ MV keys)
    val resolver = new DefResolver(agg.child)
    def pass(rollup: Boolean): Option[LogicalPlan] =
      candidates.view.flatMap { case (mvName, d) =>
        // a per-candidate failure (storage drift, unreadable MV) skips
        // that candidate, never the query
        try tryOne(agg, queryFilter, joinConds, leaves, cat, mvName, d,
          rollup, resolver)
        catch { case _: Exception => None }
      }.headOption
    pass(rollup = false).orElse(pass(rollup = true))
  }

  /** Memoizing resolver of MV definition SQL against the query's own
    * child plan (same attribute ids, so semanticEquals is meaningful).
    * `preload` resolves a whole definition in ONE analyzer pass; a
    * definition that does not resolve as a whole is refused. An
    * expression whose references leave the child's output (a lateral
    * alias of an earlier expression in the batch) resolves to None. */
  private final class DefResolver(child: LogicalPlan) {
    private val cache =
      scala.collection.mutable.Map.empty[String, Option[Expression]]
    def preload(sqls: Seq[String]): Boolean = {
      val todo = sqls.distinct.filterNot(cache.contains)
      if (todo.isEmpty) return true
      val exprs =
        try {
          val df = org.apache.spark.sql.graft.ColumnBridge.ofRows(spark, child)
          df.select(todo.map(s => org.apache.spark.sql.functions.expr(s)): _*)
            .queryExecution.analyzed match {
            case Project(list, _) if list.length == todo.length =>
              list.map { case Alias(e, _) => e; case e => e }
            case _ => return false
          }
        } catch { case _: Exception => return false }
      todo.zip(exprs).foreach { case (s, e) =>
        cache(s) = Some(e).filter(_.references.subsetOf(child.outputSet))
      }
      true
    }
    def apply(sql: String): Option[Expression] = cache.getOrElse(sql, None)
  }

  private def tryOne(agg: Aggregate, queryFilter: Option[Expression],
      joinConds: Seq[Cond], leaves: Seq[Leaf],
      cat: GraftManifestCatalog, mvName: String,
      d: ManifestMaterializedView.MvDef,
      rollup: Boolean, resolve: DefResolver): Option[LogicalPlan] = {
    val groupingExprs = agg.groupingExpressions
    val bareNames: Option[Seq[String]] =
      if (groupingExprs.forall(_.isInstanceOf[AttributeReference]))
        Some(groupingExprs.map(_.asInstanceOf[AttributeReference].name))
      else None
    if (rollup) {
      // ROLLUP: every grouping expression must be a deterministic
      // function of MV KEY columns only — re-grouping pre-aggregated
      // rows by f(keys) is exact because f is CONSTANT within each
      // full-key group. Covers bare-column subsets, the global (empty)
      // set, and expression granularities (month(day), k % 4, …).
      groupingExprs.foreach { ge =>
        if (!ge.deterministic) return None
        if (!ge.references.forall(a => d.groupBy.contains(a.name)))
          return None
      }
      // equality of bare keys is the exact pass's (cheaper) job
      if (bareNames.exists(_.toSet == d.groupBy.toSet)) return None
    } else if (!bareNames.exists(_.toSet == d.groupBy.toSet)) return None

    // ---- star shape: fact + dims biject to the leaves ----
    val factLeaf = leaves.find(_.ident.name == d.source).getOrElse(return None)
    val dimLeaves = leaves.filterNot(_.ident.name == d.source)
    if (dimLeaves.map(_.ident.name).toSet != d.dims.map(_.table).toSet)
      return None
    val root = spark.conf.get(s"spark.sql.catalog.${cat.name()}.root")
    val hconf = spark.sessionState.newHadoopConf()
    d.dims.foreach { ds =>
      val leaf = dimLeaves.find(_.ident.name == ds.table).get
      // dim staleness is deliberately NOT compensated (unlike the
      // fact's): folding a dim's CDF tail requires joining it through
      // the FACT at plan time — a fact scan inside the "accelerated"
      // plan defeats the MV entirely. Refresh's dim-delta step is the
      // right place for that work; the read path just refuses — UNLESS
      // the dim moved only by row-preserving MAINTENANCE commits
      // (compaction / Z-order, proven by their `#maint` markers in one
      // metadata read), in which case its rows at the scanned version
      // ARE its rows at the pin and the rewrite stays exact (round 16).
      if (leaf.version != ds.version) {
        val dDir = new Path(root, ds.table)
        if (!ManifestChangeFeed.rangeRowPreserving(
            dDir.getFileSystem(hconf), dDir, ds.version, leaf.version))
          return None // dim rows moved / repinned
      }
    }
    // one analyzer pass for the whole definition, paid only by a
    // candidate the checks above did not refuse (see DefResolver)
    if (!resolve.preload(d.dims.map(_.onSql) ++ d.filterSql.toSeq ++
        d.aggs.filterNot(_.func == "count_star").map(_.expr))) return None
    // join-condition sets biject semantically, kind-for-kind: an INNER
    // spec matches only an untagged condition, a LEFT spec only a
    // left-tagged condition on the same dim (an inner query over a
    // left-dim MV — or vice versa — computes a different multiset)
    if (joinConds.length != d.dims.length) return None
    val unmatched = d.dims.foldLeft(joinConds) { (remaining, ds) =>
      val dc = resolve(ds.onSql).getOrElse(return None)
      val want = if (ds.isLeft) Some(ds.table) else None
      val i = remaining.indexWhere { case (c, tag) =>
        tag == want && c.semanticEquals(dc) }
      if (i < 0) return None
      if (ds.isLeft) {
        // commutation guard: a left condition must see only the fact
        // and its own dim, or reordering the flattened joins is unsound
        val dimLeaf = dimLeaves.find(_.ident.name == ds.table).get
        val allowed = factLeaf.rel.outputSet ++ dimLeaf.rel.outputSet
        if (!remaining(i)._1.references.subsetOf(allowed) ||
            !dc.references.subsetOf(allowed)) return None
      }
      remaining.patch(i, Nil, 1)
    }
    if (unmatched.nonEmpty) return None

    // ---- freshness: exact, maintenance-moved (exact, round 16), or
    // compensable-ahead under allowStale ----
    val srcDir = new Path(root, d.source)
    val hfs = srcDir.getFileSystem(hconf)
    // a fact that moved ONLY by row-preserving maintenance commits holds
    // exactly the checkpoint's rows — the MV answers EXACTLY with no
    // compensation, no allowStale opt-in, and in either direction
    val stale = factLeaf.version != d.sourceVersion &&
      !ManifestChangeFeed.rangeRowPreserving(hfs, srcDir,
        d.sourceVersion, factLeaf.version)
    if (stale && (!allowStale || factLeaf.version < d.sourceVersion))
      return None
    // freshness proofs anchor at the EFFECTIVE baseline — past any
    // row-preserving maintenance prefix (round 16): retention only has
    // to cover the real data tail, and the extrema gate's append-only
    // walk skips a compaction's unlist/relist steps (which are not
    // append-only but provably row-identical), so min/max stay
    // compensable across the nightly compact-then-append pattern
    lazy val effFrom = ManifestChangeFeed.rowPreservingPrefix(
      hfs, srcDir, d.sourceVersion, factLeaf.version)
    // marker-aware retention (round-16 review pass 4): MARKED steps in
    // the tail need no snapshot — the skipping feed jumps them, and a
    // vacuumed marked run-end falls back to the retained baseline — so
    // only the baseline and the UNMARKED (data) steps must be retained
    lazy val tailRetained = ManifestChangeFeed.tailFoldable(
      hfs, srcDir, math.max(1, effFrom), factLeaf.version)
    lazy val tailAppendOnly = ManifestChangeFeed.rangeAppendOnly(
      hfs, srcDir, effFrom, factLeaf.version)
    if (stale && !tailRetained) return None // vacuumed past the checkpoint
    // lazy: the O(tail) append-only walk runs only when the query
    // actually asks for min/max (the common count/sum dashboard query
    // never pays it)
    lazy val extremaOk = !stale || tailAppendOnly

    // ---- filters: conjunct-level IMPLICATION (round 16) ----
    // The query's filter must IMPLY the MV's: every MV conjunct is
    // consumed by a semantically-equal query conjunct (multiset match,
    // like the join conditions), and every LEFTOVER query conjunct must
    // reference only GROUP KEYS — a key-only predicate is constant
    // within each group, so filtering fact rows by it equals filtering
    // the MV's (pre-aggregated) groups by it. Subsumes the round-14
    // exact-equality gate AND the key-only-filter-on-filterless-MV
    // case: `WHERE <mv filter> AND seg = 'x'` now prunes groups on a
    // filtered MV instead of refusing. An MV conjunct the query lacks
    // still refuses (the MV holds a subset of the query's rows).
    val mvFilter = d.filterSql.map(f =>
      resolve(f).getOrElse(return None))
    val residual = mvFilter.map(splitConjunctivePredicates).getOrElse(Seq.empty)
      .foldLeft(queryFilter.map(splitConjunctivePredicates)
        .getOrElse(Seq.empty)) {
        (remaining, mc) =>
          val i = remaining.indexWhere(_.semanticEquals(mc))
          if (i < 0) return None // query misses an MV conjunct
          remaining.patch(i, Nil, 1)
      }
    residual.foreach { c =>
      if (!c.deterministic ||
          !c.references.forall(a => d.groupBy.contains(a.name)))
        return None // a non-key residual filters ROWS, not groups
    }
    val extraKeyFilter: Option[Expression] = residual.reduceOption(And)

    // ---- map every output to an MV storage derivation ----
    val specByFunc: Map[String, Seq[ManifestMaterializedView.AggSpec]] =
      d.aggs.groupBy(_.func)
    def findSpec(funcs: Seq[String], e: Expression):
        Option[ManifestMaterializedView.AggSpec] =
      funcs.flatMap(f => specByFunc.getOrElse(f, Seq.empty)).find(a =>
        resolve(a.expr).exists(_.semanticEquals(e)))

    // name of the MV storage column(s) + the derivation over them,
    // deferred until the MV plan's attributes exist
    sealed trait Deriv
    // a grouping expression (bare key column, or — rollup only — any
    // deterministic expression over key columns)
    case class KeyExpr(e: Expression) extends Deriv
    // count(DISTINCT <key cols…>) in the rollup pass (round 16): the MV
    // holds exactly ONE row per live group, i.e. per distinct full-key
    // combination with at least one qualifying source row — so a
    // distinct count over any subset of the KEY columns re-counts
    // distinct tuples over the MV's rows, the dashboard "active
    // days/users per segment" shape no fold of stored aggregates can
    // answer (distinct counts don't fold; distinct KEYS are the
    // storage's own row identity).
    case class DistinctKeys(cols: Seq[Expression]) extends Deriv
    case class CntStar() extends Deriv
    case class NnCol(a: ManifestMaterializedView.AggSpec) extends Deriv
    case class SumD(a: ManifestMaterializedView.AggSpec, out: DataType)
      extends Deriv
    case class AvgD(a: ManifestMaterializedView.AggSpec) extends Deriv
    case class ExtD(a: ManifestMaterializedView.AggSpec) extends Deriv

    def keyExprOf(ne: NamedExpression): Option[Expression] = {
      val e = ne match { case Alias(e0, _) => e0; case other => other }
      if (groupingExprs.exists(_.semanticEquals(e))) Some(e) else None
    }
    val derivs: Seq[(NamedExpression, Deriv)] = agg.aggregateExpressions.map {
      case al @ Alias(ae: AggregateExpression, _)
          if rollup && ae.isDistinct && ae.filter.isEmpty &&
            (ae.aggregateFunction match {
              case Count(args) => args.nonEmpty && args.forall {
                case a: AttributeReference => d.groupBy.contains(a.name)
                case _ => false
              }
              case _ => false
            }) =>
        (al, DistinctKeys(ae.aggregateFunction.children))
      case al @ Alias(ae: AggregateExpression, _)
          if !ae.isDistinct && ae.filter.isEmpty =>
        val dv: Deriv = ae.aggregateFunction match {
          case Count(Seq(Literal(1, IntegerType))) => CntStar()
          case Count(Seq(e)) =>
            NnCol(findSpec(Seq("count"), e).getOrElse(return None))
          case s: Sum =>
            val a = findSpec(Seq("sum", "avg"), s.child).getOrElse(return None)
            val integral = s.child.dataType match {
              case ByteType | ShortType | IntegerType | LongType => true
              case _ => false
            }
            if (!integral && !allowDrift)
              return None // float-sum order drift: opt-in only
            SumD(a, s.dataType)
          case av: Average =>
            if (!allowDrift) return None
            AvgD(findSpec(Seq("sum", "avg"), av.child).getOrElse(return None))
          case m: Min =>
            if (!extremaOk) return None // tail retractions can beat it
            ExtD(findSpec(Seq("min"), m.child).getOrElse(return None))
          case m: Max =>
            if (!extremaOk) return None
            ExtD(findSpec(Seq("max"), m.child).getOrElse(return None))
          case _ => return None
        }
        (al, dv)
      case ne: NamedExpression if keyExprOf(ne).isDefined =>
        (ne, KeyExpr(keyExprOf(ne).get))
      case _ => return None
    }

    // ---- the replacement base: MV AS OF checkpoint.mvVersion, or the
    // delta-compensated fold of it when the fact scan is ahead ----
    val needExt = derivs.exists(_._2.isInstanceOf[ExtD])
    val base0: LogicalPlan =
      if (!stale) {
        val mvIdent = Identifier.of(Array.empty, mvName)
        val mvTable = cat.loadTable(mvIdent, d.mvVersion.toString)
        DataSourceV2Relation.create(mvTable, Some(cat), Some(mvIdent))
      } else {
        val df = ManifestMaterializedView.compensate(
          spark, cat.name(), mvName, d, factLeaf.version,
          withExtrema = needExt && tailAppendOnly)
        df.queryExecution.analyzed
      }
    def attr(n: String): AttributeReference =
      base0.output.find(_.name == n).map(_.asInstanceOf[AttributeReference])
        .getOrElse(throw new NoSuchElementException(
          s"MV $mvName lacks storage column $n")) // skips this candidate
    def cnt = attr(ManifestMaterializedView.CntCol)
    def nn(a: ManifestMaterializedView.AggSpec) =
      attr(s"__mv_nn_${a.alias}")
    def sumc(a: ManifestMaterializedView.AggSpec) =
      attr(s"__mv_sum_${a.alias}")
    def guard(a: ManifestMaterializedView.AggSpec, v: Expression) =
      If(GreaterThan(nn(a), Literal(0L)), v, Literal(null, v.dataType))

    val base = extraKeyFilter match {
      case None => base0
      case Some(c) =>
        val remapped = c.transform {
          case a: AttributeReference => attr(a.name)
        }
        Filter(remapped, base0)
    }
    // query-side key expressions re-root onto the MV's storage attrs
    // (every reference is an MV key column by the gates above)
    def remap(e: Expression): Expression = e.transform {
      case a: AttributeReference => attr(a.name)
    }
    val replacement: LogicalPlan = if (!rollup) {
      val projList: Seq[NamedExpression] = derivs.map { case (orig, dv) =>
        val e: Expression = dv match {
          case KeyExpr(a: AttributeReference) => attr(a.name)
          case KeyExpr(_) => return None // exact path is bare-keys only
          case DistinctKeys(_) => return None // rollup-pass derivation
          case CntStar() => cnt
          case NnCol(a) => nn(a)
          case SumD(a, out) => guard(a, Cast(sumc(a), out))
          case AvgD(a) => guard(a,
            Divide(Cast(sumc(a), DoubleType), Cast(nn(a), DoubleType)))
          case ExtD(a) => attr(s"__mv_ext_${a.alias}")
        }
        if (e.dataType != orig.dataType) return None // exact types only
        Alias(e, orig.name)(exprId = orig.exprId)
      }
      Project(projList, base)
    } else {
      // ROLLUP: one Aggregate over the MV's storage — counts/sums FOLD,
      // min/max RE-EXTREMIZE, avg derives from the folded exact pair.
      // Null discipline: a merged group's sum/avg is null iff its total
      // non-null input count is zero (ANSI), and the fold-based counts
      // coalesce to 0 so a GLOBAL rollup over an empty MV still answers
      // count = 0 the way a real aggregate would.
      def fold(f: AggregateFunction): Expression =
        AggregateExpression(f, Complete, isDistinct = false)
      def nnTotal(a: ManifestMaterializedView.AggSpec): Expression =
        fold(Sum(nn(a)))
      val aggList: Seq[NamedExpression] = derivs.map { case (orig, dv) =>
        val e: Expression = dv match {
          case KeyExpr(ke) => remap(ke)
          case DistinctKeys(cols) =>
            // one MV row per live distinct full-key combo → distinct
            // tuples over key columns re-count over the MV's rows
            AggregateExpression(Count(cols.map(remap)), Complete,
              isDistinct = true)
          case CntStar() =>
            Coalesce(Seq(Cast(fold(Sum(cnt)), LongType), Literal(0L)))
          case NnCol(a) =>
            Coalesce(Seq(Cast(fold(Sum(nn(a))), LongType), Literal(0L)))
          case SumD(a, out) =>
            If(GreaterThan(nnTotal(a), Literal(0L)),
              Cast(fold(Sum(sumc(a))), out), Literal.create(null, out))
          case AvgD(a) =>
            If(GreaterThan(nnTotal(a), Literal(0L)),
              Divide(Cast(fold(Sum(sumc(a))), DoubleType),
                Cast(nnTotal(a), DoubleType)),
              Literal.create(null, DoubleType))
          case ExtD(a) =>
            val ext = attr(s"__mv_ext_${a.alias}")
            fold(if (a.func == "min") Min(ext) else Max(ext))
        }
        if (e.dataType != orig.dataType) return None // exact types only
        Alias(e, orig.name)(exprId = orig.exprId)
      }
      Aggregate(groupingExprs.map(remap), aggList, base)
    }
    logInfo(s"graft MV rewrite: aggregate over " +
      s"${cat.name()}.${d.source} v${factLeaf.version}" +
      (if (d.dims.nonEmpty)
        d.dims.map(_.table).mkString(" ⋈ {", ",", "}") else "") +
      s" answered by materialized view $mvName (as of mv " +
      s"v${d.mvVersion}" +
      (if (rollup) s", ROLLED UP ${d.groupBy.mkString("(", ",", ")")}→" +
        groupingExprs.map(_.sql).mkString("(", ",", ")") else "") +
      (if (stale) s", delta-compensated from source " +
        s"v${d.sourceVersion}" else "") + ")")
    Some(replacement)
  }
}

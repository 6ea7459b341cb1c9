package graft.plans

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AggregateFunction, Average, Count, HllUnionAgg, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.{Cross, Inner, LeftOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Expand, Filter, Join, LeafNode, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{ByteType, DecimalType, IntegerType, LongType, ShortType}

/** Materialized-view rewrite (SURVEY.md §4 extension; r11) — summary-table
  * ROUTING: an aggregate over a registered base-grain TABLE is rewritten to
  * re-aggregate the (orders-of-magnitude smaller) summary table whenever
  * every output is derivable from the summary's partial states. The user
  * keeps writing queries against the base table; the engine serves them
  * from the MV — the OLAP-server behavior the reference approximates by
  * hand-pointing its dashboards at MOLAP tables.
  *
  * Derivability contract (the rewrite fires only when ALL hold):
  *  - grouping expressions are plain columns ⊆ the MV's group keys
  *    (coarser-or-equal grain: re-aggregating partials collapses the
  *    dropped keys correctly);
  *  - every aggregate is `sum(col)` with `col` in the registered partial
  *    map, or `count(<literal>)` with a registered row-count partial —
  *    both re-aggregable as sums of partials. Non-decomposable aggregates
  *    (count DISTINCT, medians) disqualify the whole aggregate;
  *  - no DISTINCT / FILTER modifiers;
  *  - WHERE predicates between the aggregate and the scan (r12) are
  *    deterministic and reference GROUP-KEY columns only — such a
  *    predicate selects whole MV cells and replays on the summary
  *    exactly; anything touching a measure column filters rows inside a
  *    cell (not derivable from partials) and disqualifies.
  * Shapes beyond the flat aggregate (r13): HAVING passes through for free
  * (a Filter above the aggregate, output exprIds preserved);
  * ROLLUP/CUBE/GROUPING SETS route via [[tryRewriteSets]] (the grouping-set
  * Expand replayed over summary cells); and `base JOIN dim` routes via
  * [[tryRewriteJoin]] when the base side of the join touches group keys
  * only (the dashboard star shape, served at summary cardinality).
  * Exactness: partials are kept in the base's EXACT types (decimal/long),
  * so re-aggregation is bit-identical to the direct aggregate — a double
  * partial would re-sum in a different accumulation order. The re-sum's
  * widened result type casts back to the original aggregate's type
  * (value-preserving: same totals either route).
  *
  * Matching is by the SCAN the aggregate reads (the base table's file-
  * system location), with plain-column projections between the aggregate
  * and the scan accepted — robust to column pruning wherever the optimizer
  * leaves the projection. Rewritten outputs keep the original expression
  * ids, so parent operators above the aggregate are untouched.
  *
  * Same session discipline as [[InferYearBoundsFromDateKey]]: the rule is
  * inert unless `spark.graft.mvRewrite.enabled=true` AND the scanned path
  * is registered — installing it globally changes no foreign query. It is
  * attachable to a live session via `spark.experimental.extraOptimizations`
  * (it runs post-pruning, which the scan-level match is built for).
  * STALENESS is the caller's contract, as with every MV system: re-register
  * (or refresh the summary) when the base table changes.
  */
object MvRewrite extends Rule[LogicalPlan] {

  val EnabledKey = "spark.graft.mvRewrite.enabled"

  /** Opt-in for APPROXIMATE distinct-count routing: `count(DISTINCT col)`
    * rewrites to an HLL-union + estimate over a registered sketch partial.
    * A separate flag because — unlike every other rewrite here — it CHANGES
    * SEMANTICS from exact to approximate (exact in the sketch's sparse
    * regime, ±~2% beyond it); enabling it is the user's statement that
    * sketch-grade distinct counts are acceptable, the approximate-query-
    * processing trade every sketch-serving OLAP store offers. */
  val ApproxDistinctKey = "spark.graft.mvRewrite.approxDistinct.enabled"

  /** One registered summary: the base table's qualified location (FULL URI —
    * scheme + authority + path, so identically named paths on different
    * filesystems can never collide), the MV's analyzed scan plan, the MV's
    * group-key names, base measure column → MV sum-partial column, the MV's
    * row-count partial column, base column → MV HLL-sketch partial for
    * approximate distinct counts, and the per-column non-null-count /
    * min / max partials that make AVG and MIN/MAX derivable. */
  final case class Registration(baseLocation: String, mv: LogicalPlan,
      keys: Set[String], sums: Map[String, String], countCol: Option[String],
      distincts: Map[String, String], counts: Map[String, String],
      mins: Map[String, String], maxs: Map[String, String],
      baseFiles: Option[Set[String]] = None) {
    /** Does a scan of `paths` read exactly this registration's base? A
      * plain-directory registration matches its directory root path; a
      * versioned-snapshot registration (r16 — snapshots are FILE SETS under
      * the table's shared `_data` pool) matches its manifest's qualified
      * file set exactly, so a time-travel read of another version (a
      * different set over the same pool) can never reroute to this
      * version's summary. */
    def servesScan(paths: Set[String]): Boolean = baseFiles match {
      case Some(fileSet) => paths == fileSet
      // EXACTLY the base and nothing else: a multi-path scan that merely
      // includes the base (read.parquet(base, extra)) aggregates more rows
      // than the summary carries — rerouting it would drop them silently
      case None => paths == Set(baseLocation)
    }
  }

  private val registry =
    new java.util.concurrent.CopyOnWriteArrayList[Registration]()

  /** Register `mvDf` (an aggregate of the table at `basePath` by `keys`,
    * carrying sum partials per `sums` and a `count(*)` partial `countCol`)
    * as the serving table for aggregates over `basePath`. `counts` maps a
    * base column to its `count(col)` (non-null) partial — required for AVG
    * derivability (avg = Σsum-partial / Σcount-partial, exact in decimal and
    * integer types); `mins`/`maxs` map a base column to its `min(col)` /
    * `max(col)` partial (min of mins IS the min — the classic algebraic
    * decompositions the reference's MV carries,
    * `Iteration 3/Group No.6_Indexing_Partitioning.sql:148-158`). */
  def register(spark: SparkSession, basePath: String, mvDf: DataFrame,
      keys: Seq[String], sums: Map[String, String],
      countCol: Option[String] = None,
      distincts: Map[String, String] = Map.empty,
      counts: Map[String, String] = Map.empty,
      mins: Map[String, String] = Map.empty,
      maxs: Map[String, String] = Map.empty): Unit =
    add(qualify(spark, basePath), None, mvDf, keys, sums, countCol, distincts,
      counts, mins, maxs)

  /** Register `mvDf` as the serving summary for snapshot `version` of the
    * VERSIONED table at `root` (r16): the registration pins the snapshot's
    * manifest file set — under the shared `_data` pool a snapshot has no
    * directory of its own, so the file set is the scan identity the
    * rewrite matches on. Same summary contract as [[register]]. */
  def registerVersioned(spark: SparkSession, root: String, version: Int,
      mvDf: DataFrame, keys: Seq[String], sums: Map[String, String],
      countCol: Option[String] = None,
      distincts: Map[String, String] = Map.empty,
      counts: Map[String, String] = Map.empty,
      mins: Map[String, String] = Map.empty,
      maxs: Map[String, String] = Map.empty): Unit =
    add(qualify(spark, graft.sources.VersionedTable.dataDir(root)),
      Some(graft.sources.VersionedTable.snapshotPathSet(spark, root, version)),
      mvDf, keys, sums, countCol, distincts, counts, mins, maxs)

  /** The one registration path: check that `mvDf` outputs every registered
    * column, then add its registration. The base identity is by-name, so it
    * is resolved only after the check passes. */
  private def add(baseLocation: => String, baseFiles: => Option[Set[String]],
      mvDf: DataFrame, keys: Seq[String], sums: Map[String, String],
      countCol: Option[String], distincts: Map[String, String],
      counts: Map[String, String], mins: Map[String, String],
      maxs: Map[String, String]): Unit = {
    val mvPlan = mvDf.queryExecution.analyzed
    val out = mvPlan.output.map(_.name).toSet
    require((keys ++ sums.values ++ countCol ++ distincts.values ++
      counts.values ++ mins.values ++ maxs.values).forall(out),
      s"MV output ${out.mkString(",")} is missing registered columns")
    registry.add(Registration(baseLocation, mvPlan, keys.toSet, sums, countCol,
      distincts, counts, mins, maxs, baseFiles))
  }

  def clear(): Unit = registry.clear()

  /** Remove every registration whose base location is `rootPath` or sits
    * UNDER it — for a versioned table, that is every version directory of
    * the root. The removal half of commit-time re-registration (r14): the
    * auto-serve loop drops the stale registration BEFORE re-registering the
    * refreshed summary against the new head, so a failure in between only
    * ever degrades to a full scan, never serves stale cells. */
  def unregisterUnder(spark: SparkSession, rootPath: String): Unit = {
    val q = qualify(spark, rootPath).stripSuffix("/")
    registry.removeIf(r =>
      r.baseLocation == q || r.baseLocation.startsWith(q + "/"))
  }

  // ------------------------------------------------------- plan-time heal
  // r15 (VERDICT r14 #4): the commit listener closes staleness for commits
  // made in THIS process; a commit from another writer process moves the
  // versioned table's `_latest` without firing it, leaving this process's
  // registration pinned at the old head — correct but unrouted. The head
  // check closes that window at PLAN time: when an aggregate scans the
  // CURRENT head directory of a hooked root and no registration serves it,
  // the heal thunk (installed by [[graft.olap.IncrementalMv.autoServe]] —
  // the same maintain→unregister→re-register the listener runs) fires
  // inline and the match retries, the way a production format's scan
  // builder reads the serving metadata out of the commit it serves.

  private val headChecks =
    new java.util.concurrent.ConcurrentHashMap[String, SparkSession => Unit]()

  /** Install (or replace) the plan-time heal for the versioned table at
    * `root`. `heal` must catch the serving summary up and re-register it
    * against the table's current head. */
  def setHeadCheck(root: String, heal: SparkSession => Unit): Unit =
    headChecks.put(root, heal)

  def clearHeadCheck(root: String): Unit = headChecks.remove(root)

  private val healing = new ThreadLocal[Boolean] {
    override def initialValue(): Boolean = false
  }

  /** Fire any applicable heal for a scan of `paths`. Trigger is precise:
    * the scanned location must be EXACTLY a hooked root's current head
    * directory (one tiny `_latest` read decides) with no registration
    * already pinning it — a time-travel read of an older version never
    * heals (nothing to serve it from), and a registered head never re-runs
    * the heal. Re-entrancy guarded: the heal runs Spark jobs (the CDC
    * maintain) whose plans pass back through this rule. Failures log and
    * leave the full scan — correct, never stale. */
  // Negative-decision cache keyed by the SCANNED FILE SET: deciding
  // "nothing to heal" costs a `_latest` read plus a manifest read, and an
  // unserved aggregate (filters on measure columns, a time-travel read)
  // re-plans the same set many times — while a foreign commit CHANGES the
  // head's file set, so a genuinely new head always misses the cache and
  // heals immediately. Entries expire by TTL; the map is pruned inline.
  private val NoHealTtlMs = 10000L
  private val noHeal =
    new java.util.concurrent.ConcurrentHashMap[Set[String], Long]()

  private def headHeal(paths: Set[String]): Unit = {
    if (healing.get || headChecks.isEmpty || paths.isEmpty) return
    val now = System.currentTimeMillis()
    val seen = noHeal.get(paths)
    if (seen != null && now - seen < NoHealTtlMs) return
    if (noHeal.size > 256)
      noHeal.entrySet().removeIf(e => now - e.getValue > NoHealTtlMs)
    var healed = false
    headChecks.forEach { (root, heal) =>
      try {
        val spark = SparkSession.active
        // cheap prefix gate before any manifest read: the scan must sit
        // under this root's data pool at all (r16 — snapshots are file
        // sets under <root>/_data)
        val poolPrefix =
          qualify(spark, graft.sources.VersionedTable.dataDir(root)) + "/"
        if (paths.head.startsWith(poolPrefix)) {
          val head = graft.sources.VersionedTable.latestVersion(spark, root)
          val headSet =
            graft.sources.VersionedTable.snapshotPathSet(spark, root, head)
          if (paths == headSet &&
              !registry.asScala.exists(_.baseFiles.contains(headSet))) {
            healing.set(true)
            try { heal(spark); healed = true } finally healing.set(false)
          }
        }
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(
            s"[graft] MvRewrite head check failed for $root: ${e.getMessage}")
      }
    }
    if (!healed) noHeal.put(paths, now)
  }

  /** Run an MV-serving scenario with the rewrite enabled and hand back an
    * EAGERLY MATERIALIZED copy of its result, restoring both conf flags to
    * their prior values afterwards (ADVICE r11: a gate row that enabled the
    * rewrite — or the approx-distinct semantics change — left it active for
    * every later query in the shared session). The materialization runs
    * while the flags are still on, so what the caller observed in the plan
    * assert is what actually executed; registrations stay in the registry
    * but are inert once the enable flag is back off. */
  def servingScoped(spark: SparkSession, withApproxDistinct: Boolean = false)
      (body: => DataFrame): DataFrame =
    PlanRuleSupport.scopedWith(spark, this,
      Seq(EnabledKey) ++ (if (withApproxDistinct) Seq(ApproxDistinctKey) else Nil))(body)

  private def qualify(spark: SparkSession, path: String): String =
    PlanRuleSupport.qualify(spark, path)

  private def enabled: Boolean =
    conf.getConfString(EnabledKey, "false").equalsIgnoreCase("true")

  private def approxDistinct: Boolean =
    conf.getConfString(ApproxDistinctKey, "false").equalsIgnoreCase("true")

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!enabled || registry.isEmpty) plan
    else plan.transform {
      // HAVING needs no case of its own: the analyzer plants it as a
      // Filter ABOVE the aggregate referencing the aggregate's output
      // attributes, and the rewrite preserves every output exprId — the
      // filter applies unchanged over the rerouted aggregate (bit-identical
      // values, so the predicate selects the same groups either route).
      case agg @ Aggregate(_, _, expand: Expand, _) =>
        matchSource(expand.child).flatMap(tryRewriteSets(agg, expand, _))
          .getOrElse(agg)
      case agg @ Aggregate(_, _, child, _) =>
        matchSource(child).flatMap(tryRewriteFlat(agg, _)).getOrElse(agg)
    }

  /** A rewritable source under the aggregate (or its grouping-set Expand):
    * the replacement child — the filtered summary scan, possibly joined to
    * the verbatim dim subtree — plus what the rewrite needs to map
    * references: the summary's output by name, the base scan's attr set
    * (whose key attrs map onto the summary and whose measure attrs the
    * aggregates may read), and the dim side's attr set (kept verbatim). */
  private final case class Source(reg: Registration, newChild: LogicalPlan,
      mvOut: Map[String, Attribute], baseOut: AttributeSet, rightOut: AttributeSet)

  private def matchSource(child: LogicalPlan): Option[Source] =
    matchBase(child).map { case (reg, keyFilters, baseOut) =>
      val mvScan = freshMv(reg.mv)
      val mvOut = mvScan.output.map(a => a.name -> a).toMap
      Source(reg, replayFilters(mvScan, mvOut, keyFilters), mvOut, baseOut,
        AttributeSet.empty)
    }.orElse(matchJoinSource(child))

  /** The registration whose base table `child` scans, plus any filters
    * found between the aggregate and the scan. Plain-column projections
    * are accepted (pruning leaves them in varying shapes). Filters are
    * accepted ONLY when deterministic and referencing GROUP-KEY columns
    * exclusively (r12): a key predicate selects whole MV cells, so it
    * commutes with partial re-aggregation and replays on the summary
    * exactly; a predicate touching any measure column filters base ROWS
    * inside a cell — not derivable from partials — and disqualifies. */
  private def matchBase(child: LogicalPlan): Option[(Registration, Seq[Expression], AttributeSet)] = {
    var filters = List.empty[Expression]
    def strip(p: LogicalPlan): LogicalPlan = p match {
      case Project(projList, c)
          if projList.forall(_.isInstanceOf[AttributeReference]) => strip(c)
      case Filter(cond, c) => filters ::= cond; strip(c)
      case other => other
    }
    strip(child) match {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation =>
          // full qualified URI on both sides (registration runs makeQualified,
          // Spark qualifies rootPaths at resolution) — a path-only compare
          // would let file:///x shadow hdfs:///x and reroute a foreign table
          val paths = fs.location.rootPaths.map(_.toUri.toString).toSet
          // path match AND key-filter coverage in ONE predicate (ADVICE
          // r12): find-then-filter made a second registration for the same
          // base — one whose keys DO cover the filter columns — unreachable
          def find = registry.asScala.find { r =>
            r.servesScan(paths) &&
              filters.forall(f => f.deterministic &&
                f.references.forall(a => r.keys(a.name)))
          }
          find.orElse { headHeal(paths); find }
            .map(r => (r, filters, lr.outputSet))
        case _ => None
      }
      case _ => None
    }
  }

  /** Join-aware routing (r13) — the dashboard star shape: an aggregate over
    * `base JOIN dim` reroutes to `summary JOIN dim` whenever the BASE side
    * of the join condition touches GROUP-KEY columns only. Why that is
    * sufficient: all rows of one MV cell share the cell's key values, so
    * they join to exactly the same `dim` rows — replacing the rows by
    * their cell replays the join verbatim at cell cardinality, and any row
    * multiplication a non-unique `dim` key causes multiplies cells exactly
    * as it multiplied their rows (partials re-aggregate through it
    * unchanged). Grouping may mix MV keys with ANY dim columns; aggregates
    * must read base measures only (an aggregate over a dim column sees
    * per-ROW duplication the summary cannot reproduce — disqualifies).
    * Join types: Inner/Cross, and LeftOuter with the base on the left
    * (an unmatched CELL carries its partials exactly as its unmatched rows
    * did); Right/Full are out — an unmatched dim row contributes one
    * NULL-extended row either route, but a rewritten count(*) would sum a
    * NULL row-count partial over it and drop it. The dim subtree is kept
    * VERBATIM — whatever filters/joins live inside it replay unchanged. */
  private def matchJoinSource(child: LogicalPlan): Option[Source] = {
    // filters above the join replay above the rewritten join when
    // deterministic over (base keys ∪ dim columns) — cells pass exactly
    // as their rows did, because key and dim values are cell-constant
    var aboveFilters = List.empty[Expression]
    def strip(p: LogicalPlan): LogicalPlan = p match {
      case Project(projList, c)
          if projList.forall(_.isInstanceOf[AttributeReference]) => strip(c)
      case Filter(cond, c) => aboveFilters ::= cond; strip(c)
      case other => other
    }
    strip(child) match {
      case j @ Join(left, right, jt, cond, _)
          if jt == Inner || jt == Cross || jt == LeftOuter =>
        matchBase(left).flatMap { case (reg, keyFilters, baseOut) =>
          def keyOnly(e: Expression): Boolean = e.deterministic &&
            e.references.forall(a =>
              if (baseOut.contains(a)) reg.keys(a.name)
              else right.outputSet.contains(a))
          if (!cond.forall(keyOnly) || !aboveFilters.forall(keyOnly)) None
          else {
            val mvScan = freshMv(reg.mv)
            val mvOut = mvScan.output.map(a => a.name -> a).toMap
            val mv = replayFilters(mvScan, mvOut, keyFilters)
            def remap(e: Expression): Expression = e.transform {
              case a: AttributeReference if baseOut.contains(a) => mvOut(a.name)
            }
            val newJoin = Join(mv, right, jt, cond.map(remap), j.hint)
            val rejoined =
              if (aboveFilters.isEmpty) newJoin
              else Filter(aboveFilters.map(remap).reduce(And), newJoin)
            Some(Source(reg, rejoined, mvOut, baseOut, right.outputSet))
          }
        }
      case _ => None
    }
  }

  /** A fresh-exprId instance of the registered MV plan. The analyzed plan
    * is inlined PER REWRITE; reusing its original expression ids would
    * inject duplicates when one query aggregates the registered base twice
    * (a union / self-join of two aggregates) — DeduplicateRelations has
    * already run by optimization time, so nothing downstream would repair
    * the ambiguity. `transformUpWithNewOutput` rebinds any references
    * between the re-instanced leaves and the MV plan's top. */
  private def freshMv(mv: LogicalPlan): LogicalPlan =
    mv.transformUpWithNewOutput {
      case leaf: LeafNode if leaf.isInstanceOf[MultiInstanceRelation] =>
        val fresh = leaf.asInstanceOf[MultiInstanceRelation].newInstance()
        (fresh, leaf.output.zip(fresh.output))
    }

  /** Replay the base's key predicates on the MV scan (same columns, same
    * values — whole cells pass or fail exactly as their rows did). */
  private def replayFilters(mvScan: LogicalPlan, mvOut: Map[String, Attribute],
      keyFilters: Seq[Expression]): LogicalPlan =
    if (keyFilters.isEmpty) mvScan
    else Filter(keyFilters.map(_.transform {
      case a: AttributeReference => mvOut(a.name)
    }).reduce(And), mvScan)

  /** The flat aggregate over a matched [[Source]] — the pure-base case
    * (rightOut empty) and the star case in one shape: base key groups map
    * onto the summary, dim groups pass through verbatim, aggregates over
    * base measures re-aggregate partials. */
  private def tryRewriteFlat(agg: Aggregate, src: Source): Option[LogicalPlan] = {
    val groups = agg.groupingExpressions.map {
      case a: AttributeReference if src.baseOut.contains(a) && src.reg.keys(a.name) =>
        src.mvOut(a.name)
      case a: AttributeReference if src.rightOut.contains(a) => a
      case _ => return None
    }
    val aggs: Seq[NamedExpression] = agg.aggregateExpressions.map {
      // grouping column passthrough — keep the original output exprId
      case a: AttributeReference if src.baseOut.contains(a) && src.reg.keys(a.name) =>
        Alias(src.mvOut(a.name), a.name)(exprId = a.exprId)
      case a: AttributeReference if src.rightOut.contains(a) => a
      // RENAMED grouping column (SELECT category AS cat … GROUP BY
      // category): still a key passthrough — before this case, the alias
      // fell into the aggregate matcher and silently disabled the rewrite
      case al @ Alias(a: AttributeReference, name)
          if src.baseOut.contains(a) && src.reg.keys(a.name) =>
        Alias(src.mvOut(a.name), name)(exprId = al.exprId)
      case al @ Alias(a: AttributeReference, name) if src.rightOut.contains(a) =>
        Alias(a, name)(exprId = al.exprId)
      // aggregates must read BASE measures only: a dim-column aggregate
      // sees per-row duplication the summary cannot reproduce
      case al: Alias if al.references.subsetOf(src.baseOut) =>
        rewriteAggAlias(al, src.reg, src.mvOut).getOrElse(return None)
      case _ => return None
    }
    Some(Aggregate(groups, aggs, src.newChild, None))
  }

  /** GROUPING SETS / ROLLUP / CUBE routing (r13). The analyzer plants an
    * [[Expand]] under the aggregate that replicates each base row once per
    * grouping set, nulling out the keys the set drops and tagging the copy
    * with a `spark_grouping_id` bitmask literal; the aggregate then groups
    * by the nulled key attrs + the bitmask. The identical Expand replayed
    * over the SUMMARY replicates each MV cell the same way, and partial
    * re-aggregation inside each (set, keys) group is the ordinary
    * coarser-grain collapse — so every grain of the rollup is served from
    * the MV at once, at MV (not base) cardinality through the Expand.
    *
    * Derivability adds one condition to the flat contract: every Expand
    * column the aggregate GROUPS on must be a registered key, a DIM column
    * (a join [[Source]] — dim values are cell-constant through the join, so
    * a rollup by dim attributes replays over joined cells; r13-late), or
    * the bitmask literal. Measure passthrough columns are replaced by the
    * partial columns the rewritten aggregates read. Grouping-set key attrs
    * and the bitmask attr keep their exprIds, so `grouping()` /
    * `grouping_id()` projections over them — and any HAVING above — are
    * untouched. */
  private def tryRewriteSets(agg: Aggregate, expand: Expand,
      src: Source): Option[LogicalPlan] = {
    // Expand positions the grouping side reads: the (nullable) key attrs
    // and the grouping-id bitmask. Everything else is measure passthrough.
    val groupRefs = AttributeSet(agg.groupingExpressions.flatMap(_.references))
    if (!agg.groupingExpressions.forall(_.isInstanceOf[AttributeReference]))
      return None
    val keepPos = expand.output.zipWithIndex.collect {
      case (a, i) if groupRefs.contains(a) => i
    }
    // every kept position must hold, across ALL grouping-set projections,
    // either a registered key column, a dim column, or a literal (the
    // set's null for a dropped key / the bitmask). A base MEASURE attr
    // here means the query grouped by a measure column — not derivable.
    val replayable = keepPos.forall { i =>
      expand.projections.forall {
        _(i) match {
          case a: AttributeReference =>
            (src.baseOut.contains(a) && src.reg.keys(a.name)) ||
              src.rightOut.contains(a)
          case Literal(_, _) => true
          case _ => false
        }
      }
    }
    if (!replayable) return None
    val keptAttrs = AttributeSet(keepPos.map(expand.output))
    val aggs: Seq[NamedExpression] = agg.aggregateExpressions.map {
      // grouping-set key / bitmask passthrough, and grouping()/grouping_id()
      // shapes over the bitmask — all reference kept Expand outputs, which
      // keep their exprIds: leave them verbatim
      case a: AttributeReference if keptAttrs.contains(a) => a
      // nonEmpty guards the reference-free aggregates — count(1)'s empty
      // reference set is vacuously a subset, but it must be REWRITTEN onto
      // the row-count partial, not kept (kept, it would count MV cells)
      case al: Alias
          if al.references.nonEmpty && al.references.subsetOf(keptAttrs) => al
      // aggregates must read BASE measures only (same contract as the flat
      // path — a dim-column aggregate sees per-row duplication)
      case al: Alias if al.references.subsetOf(src.baseOut) =>
        rewriteAggAlias(al, src.reg, src.mvOut).getOrElse(return None)
      case _ => return None
    }
    // the source columns the rewritten aggregates read ride the new Expand
    // as identity passthrough (same attrs — references bind unchanged)
    val needed = src.newChild.output
      .filter(AttributeSet(aggs.flatMap(_.references)).contains)
    val newExpand = Expand(
      expand.projections.map { p =>
        (needed: Seq[Expression]) ++ keepPos.map { i =>
          p(i) match {
            case a: AttributeReference if src.baseOut.contains(a) =>
              src.mvOut(a.name)
            case other => other // dim attr (verbatim) or literal
          }
        }
      },
      needed ++ keepPos.map(expand.output), src.newChild)
    Some(Aggregate(agg.groupingExpressions, aggs, newExpand, None))
  }

  /** One output alias of the aggregate, rewritten to read the summary's
    * partials — or None when it is not derivable (which disqualifies the
    * whole rewrite). Shared by the flat and grouping-sets paths. */
  private def rewriteAggAlias(al: Alias, reg: Registration,
      mvOut: Map[String, Attribute]): Option[NamedExpression] = {
    val name = al.name
    // accept the aggregate bare or under a cast (CollapseProject folds
    // a post-aggregate projection's cast into the aggregate list)
    val (ae, rebuild): (AggregateExpression, Expression => Expression) = al.child match {
      case ae: AggregateExpression => (ae, identity[Expression] _)
      case outer @ Cast(ae: AggregateExpression, _, _, _) =>
        (ae, (e: Expression) => outer.withNewChildren(Seq(e)))
      case _ => return None
    }
    if (ae.filter.isDefined) return None
    // a re-aggregated partial under a FRESH result id — two rewritten
    // aggregates derived from the same template must not share one
    def reAgg(fn: AggregateFunction): AggregateExpression =
      ae.copy(aggregateFunction = fn, resultId = NamedExpression.newExprId)
    // the re-sum widens (decimal precision / long), cast back to the
    // original result type so the plan's schema is unchanged
    val rewritten: Expression = ae.aggregateFunction match {
      case Sum(e: AttributeReference, _)
          if !ae.isDistinct && reg.sums.contains(e.name) =>
        Cast(reAgg(Sum(mvOut(reg.sums(e.name)))), ae.dataType)
      // count(*) / count(non-null literal) → Σ row-count partials.
      // count(NULL) is excluded (it is constantly 0, NOT the row count),
      // and the re-sum is coalesced to 0: over an EMPTY base a global
      // Sum returns NULL where Count's contract is 0 — the coalesce
      // also keeps the output attribute non-nullable, like Count.
      case Count(Seq(Literal(v, _)))
          if v != null && !ae.isDistinct && reg.countCol.isDefined =>
        Cast(Coalesce(Seq(reAgg(Sum(mvOut(reg.countCol.get))),
          Literal(0L))), ae.dataType)
      // avg(col) → Σsum-partial / Σcount-partial, rebuilt in EXACTLY the
      // shape Average.evaluateExpression uses so the result is
      // bit-identical to the direct aggregate: the re-summed partial is
      // cast back to Average's internal sumDataType (value-preserving —
      // a total that overflowed it would overflow the direct route too)
      // and the division node is the same If/DecimalDivideWithOverflowCheck
      // (decimal) or legacy Divide (integral). Float/double inputs are
      // NOT derivable — re-summing fp partials reorders the accumulation.
      case Average(e: AttributeReference, _)
          if !ae.isDistinct && reg.sums.contains(e.name) &&
            reg.counts.contains(e.name) &&
            (e.dataType match {
              case _: DecimalType | ByteType | ShortType | IntegerType | LongType => true
              case _ => false
            }) =>
        val sumAgg: Expression =
          Cast(reAgg(Sum(mvOut(reg.sums(e.name)))), Sum(e).dataType)
        // ONE shared count aggregate, referenced from both the zero
        // guard and the divide (same resultId → computed once)
        val cntAgg = reAgg(Sum(mvOut(reg.counts(e.name))))
        e.dataType match {
          case _: DecimalType =>
            val rt = ae.dataType.asInstanceOf[DecimalType]
            If(EqualTo(cntAgg, Literal(0L)), Literal(null, rt),
              DecimalDivideWithOverflowCheck(sumAgg,
                Cast(cntAgg, DecimalType(20, 0)), rt, null,
                nullOnOverflow = true))
          case _ =>
            Divide(Cast(sumAgg, ae.dataType), Cast(cntAgg, ae.dataType),
              EvalMode.LEGACY)
        }
      // min of mins IS the min (max likewise) — type-preserving, no cast
      case Min(e: AttributeReference)
          if !ae.isDistinct && reg.mins.contains(e.name) =>
        reAgg(Min(mvOut(reg.mins(e.name))))
      case Max(e: AttributeReference)
          if !ae.isDistinct && reg.maxs.contains(e.name) =>
        reAgg(Max(mvOut(reg.maxs(e.name))))
      // count(DISTINCT col) → union the cells' HLL sketches, estimate —
      // only under the explicit approx opt-in (semantics change)
      case Count(Seq(e: AttributeReference))
          if ae.isDistinct && approxDistinct && reg.distincts.contains(e.name) =>
        new HllSketchEstimate(ae.copy(
          aggregateFunction = new HllUnionAgg(mvOut(reg.distincts(e.name))),
          isDistinct = false))
      case _ => return None
    }
    Some(Alias(rebuild(rewritten), name)(exprId = al.exprId))
  }
}

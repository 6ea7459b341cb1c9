package graft.plans

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Shared plumbing of the optimizer-rule layers ([[StatsPrune]],
  * [[MvRewrite]]) and of every plan-shape gate: path qualification for
  * registry matching, the attach-enable-materialize-restore harness the gate
  * rows run under, and the one walk that finds a planned or executed
  * query's nodes and scans. One implementation — these were duplicated
  * between callers, and a hardening fix to one silently missed the others. */
private[graft] object PlanRuleSupport {

  /** The qualified URI of `path` — the identity both registries match scan
    * locations against (scheme + authority normalized the way
    * `HadoopFsRelation.rootPaths` reports them). */
  def qualify(spark: SparkSession, path: String): String = {
    val p = new Path(path)
    p.getFileSystem(spark.sessionState.newHadoopConf())
      .makeQualified(p).toUri.toString
  }

  /** Run `body` with `rule` attached to the session's extra optimizations
    * and the given conf flags set to "true", hand back an EAGERLY
    * MATERIALIZED copy of the result, and restore every flag to its prior
    * value — a gate row must not leave a rewrite active for later queries,
    * and the materialization runs while the flags are still on, so what a
    * plan assert observed is what executed. */
  def scopedWith(spark: SparkSession,
      rule: org.apache.spark.sql.catalyst.rules.Rule[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan],
      flags: Seq[String])(body: => DataFrame): DataFrame = {
    val prev = flags.map(k => k -> spark.conf.getOption(k))
    if (!spark.experimental.extraOptimizations.contains(rule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ rule
    flags.foreach(spark.conf.set(_, "true"))
    try {
      val df = body
      val rows = java.util.Arrays.asList(df.collect(): _*)
      spark.createDataFrame(rows, df.schema)
    } finally prev.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  /** Every node of a physical plan, pre-order, the wrappers included. The
    * adaptive wrapper and its query stages are LEAVES to Spark's own
    * `collect`/`exists`, so a bare traversal of an executed adaptive plan
    * sees the wrapper alone and a "no such node" assert over it can never
    * fail: this walk descends into `AdaptiveSparkPlanExec.executedPlan` and
    * every `QueryStageExec.plan`. */
  def physicalNodes(plan: SparkPlan): Seq[SparkPlan] = plan +: (plan match {
    case a: AdaptiveSparkPlanExec => physicalNodes(a.executedPlan)
    case s: QueryStageExec => physicalNodes(s.plan)
    case p => p.children.flatMap(physicalNodes)
  })

  /** The file scans of [[physicalNodes]], in plan order. */
  def fileScans(plan: SparkPlan): Seq[FileSourceScanExec] =
    physicalNodes(plan).collect { case s: FileSourceScanExec => s }

  /** The root paths (path part of the URI) every file-based relation in
    * `df`'s optimized logical plan reads — where a rewrite's effect shows
    * before anything executes. */
  def scanRoots(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        fs.location.rootPaths.map(_.toUri.getPath)
    }.flatten

  /** The plan assert of the serving gate rows: `df` must read a root
    * accepted by `mustScan` and none accepted by `mustNotScan`, else the
    * row fails naming every root it read. Returns `df`. */
  def requireServedFrom(df: DataFrame, mustScan: String => Boolean,
      mustNotScan: String => Boolean): DataFrame = {
    val scanned = scanRoots(df)
    require(scanned.exists(mustScan),
      s"the query was not rerouted onto its summary; scanned: ${scanned.mkString(", ")}")
    require(!scanned.exists(mustNotScan),
      s"a base-table scan survived in the plan: ${scanned.mkString(", ")}")
    df
  }
}

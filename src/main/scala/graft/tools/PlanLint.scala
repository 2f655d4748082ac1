package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.{ExistenceJoin, InnerLike, JoinType, LeftAnti, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AQEShuffleReadExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, Exchange, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

/** The sweep-wide plan lint — the universal form of what
  * `PlanGuaranteesSpec` pins by hand for ~40 queries: walk the EXECUTED
  * (post-AQE) physical plan of every registered query and reject the
  * shapes that do not survive a 100× scale-up, whatever the query.
  *
  * Rules (each names the term that blows up at scale):
  *
  *  - `cartesian`: a `CartesianProductExec` or
  *    `BroadcastNestedLoopJoinExec` whose smaller side exceeds
  *    [[MultiplierRows]] — an N×M product. One-row normalization
  *    frames and bounded settings frames (the legitimate uses) pass;
  *    anything that multiplies the corpus by more than a settings-sweep
  *    width needs a justification.
  *  - `single-partition-exchange`: a `ShuffleExchangeExec` to
  *    `SinglePartition` over an unbounded input — ALL data through one
  *    task, the shape that is wrong at every scale (AQE coalescing tiny
  *    shuffles to one reader is a different, adaptive node and does not
  *    trip this).
  *  - `global-window`: a window with an EMPTY partition spec over an
  *    unbounded input — one state partition holding the corpus.
  *  - `smj-small-side`: a shuffle join (SMJ/SHJ) surviving in the FINAL
  *    adaptive plan although one side is BOUNDED (model-sized at any
  *    corpus scale) and sits in a position its join type could
  *    broadcast — the corpus side is being shuffled to meet a frame
  *    that should ship to it. Both-sides-bounded joins are exempt.
  *
  * "Bounded" is decided by RUNTIME truth where possible (the executed
  * plan's `numOutputRows` metric, ≤ [[SmallRows]]) with a static
  * fallback (global aggregates, limits, literal tables) for subtrees
  * whose metrics did not populate. The lint therefore runs AFTER the
  * query executes, on the finalized adaptive plan.
  *
  * Exemptions live in [[Justified]], keyed (query, rule), each naming
  * the plan-level reason the shape is bounded — the
  * `ScalingCurve.Justified` discipline.
  */
object PlanLint {

  /** Runtime row ceiling under which a subtree counts as model-sized
    * (settings frames, centroid sets, per-group stats). Calibrated to
    * the lint SF (sf0.01): every corpus table there is ≥ 500 rows, so
    * anything reading ≤ 400 is an aggregate/model frame, not a corpus. */
  val SmallRows = 400L

  /** Row ceiling for the small side of a product join: a cartesian
    * multiplies the other side by THIS many — one-row frames and
    * settings sweeps (≤ a few dozen) are the legitimate pattern. */
  val MultiplierRows = 64L

  final case class Violation(query: String, rule: String, node: String, detail: String) {
    override def toString = s"[$rule] $query: $node — $detail"
  }

  /** (query, rule) → the plan-level justification. Additions must name
    * the BOUNDED term in the plan, never "it passed today". */
  val Justified: Map[(String, String), String] = Map.empty

  /** Execute `df` and return its finalized physical plan (AQE resolved
    * to the real joins/exchanges, runtime metrics populated). */
  def executedPlan(df: DataFrame): SparkPlan = {
    df.queryExecution.toRdd.count() // executes THIS plan (collect-free)
    df.queryExecution.executedPlan
  }

  /** Every node of the executed tree, expanded through the adaptive /
    * reuse / cache wrappers AND expression subqueries — a scale-killer
    * hidden inside a reused stage or a scalar subquery is still a
    * scale-killer. */
  def allNodes(p: SparkPlan): Seq[SparkPlan] = {
    val through: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case c: InMemoryTableScanExec => Seq(c.relation.cachedPlan)
      case _ => p.children
    }
    p +: (through ++ p.subqueries).flatMap(allNodes)
  }

  /** First populated `numOutputRows` metric at-or-under `p` — runtime
    * truth for how many rows the subtree produced. */
  def runtimeRows(p: SparkPlan): Option[Long] = {
    val it = allNodes(p).iterator
      .flatMap(n => n.metrics.get("numOutputRows").map(_.value))
      .filter(_ > 0)
    if (it.hasNext) Some(it.next()) else None
  }

  /** Static bounded-ness: walking down through row-preserving (or
    * row-reducing) nodes, the subtree ends in a global aggregate, a
    * limit, or a literal-sized local table. The fallback when runtime
    * metrics did not populate (un-executed reused subtrees). */
  def boundedStatic(p: SparkPlan): Boolean = p match {
    case a: HashAggregateExec => a.groupingExpressions.isEmpty
    case a: SortAggregateExec => a.groupingExpressions.isEmpty
    case a: ObjectHashAggregateExec => a.groupingExpressions.isEmpty
    case _: GlobalLimitExec | _: LocalLimitExec | _: TakeOrderedAndProjectExec |
        _: CollectLimitExec => true
    case l: LocalTableScanExec => l.rows.size <= SmallRows
    case a: AdaptiveSparkPlanExec => boundedStatic(a.executedPlan)
    case q: QueryStageExec => boundedStatic(q.plan)
    case r: ReusedExchangeExec => boundedStatic(r.child)
    case c: InMemoryTableScanExec => boundedStatic(c.relation.cachedPlan)
    case u: UnionExec => u.children.forall(boundedStatic)
    case j: BroadcastNestedLoopJoinExec => j.children.forall(boundedStatic)
    case j: CartesianProductExec => j.children.forall(boundedStatic)
    case _: ProjectExec | _: FilterExec | _: SortExec | _: Exchange |
        _: AQEShuffleReadExec | _: WholeStageCodegenExec | _: InputAdapter |
        _: CoalesceExec =>
      p.children.forall(boundedStatic)
    case _ => false
  }

  /** Bounded = statically bounded (a limit/global-agg/literal upstream —
    * checked FIRST, because the pre-order metric walk can surface a
    * node BELOW a limit and overcount), else runtime rows ≤ `ceiling`.
    * The row ceiling separates fixed-cardinality frames (nations,
    * centroids, settings) from data-proportional ones at the lint SF. */
  def bounded(p: SparkPlan, ceiling: Long = SmallRows): Boolean =
    boundedStatic(p) || runtimeRows(p).exists(_ <= ceiling)

  private def describe(p: SparkPlan): String =
    p.nodeName + p.output.take(4).map(_.name).mkString("(", ",", if (p.output.size > 4) ",…)" else ")")

  /** Lint one executed plan. */
  def lintPlan(name: String, plan: SparkPlan): Seq[Violation] = {
    val vs = Seq.newBuilder[Violation]
    allNodes(plan).foreach {
      case j: CartesianProductExec =>
        if (!j.children.exists(bounded(_, MultiplierRows)))
          vs += Violation(name, "cartesian", describe(j),
            s"both sides exceed $MultiplierRows rows " +
              s"(${j.children.map(c => runtimeRows(c).getOrElse(-1L)).mkString("/")}) — N×M blowup")
      case j: BroadcastNestedLoopJoinExec =>
        if (!j.children.exists(bounded(_, MultiplierRows)))
          vs += Violation(name, "cartesian", describe(j),
            s"nested-loop join with no side under $MultiplierRows rows " +
              s"(${j.children.map(c => runtimeRows(c).getOrElse(-1L)).mkString("/")})")
      case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition =>
        if (!bounded(e.child))
          vs += Violation(name, "single-partition-exchange", describe(e),
            s"unbounded input (${runtimeRows(e.child).getOrElse(-1L)} rows) into one partition")
      case w: WindowExec if w.partitionSpec.isEmpty =>
        if (!bounded(w.child))
          vs += Violation(name, "global-window", describe(w),
            s"empty PARTITION BY over ${runtimeRows(w.child).getOrElse(-1L)} rows — one state partition")
      case w: WindowGroupLimitExec if w.partitionSpec.isEmpty =>
        if (!bounded(w.child))
          vs += Violation(name, "global-window", describe(w),
            s"empty PARTITION BY over ${runtimeRows(w.child).getOrElse(-1L)} rows — one state partition")
      case j: SortMergeJoinExec => vs ++= smallSide(name, j, j.joinType, j.children)
      case j: ShuffledHashJoinExec => vs ++= smallSide(name, j, j.joinType, j.children)
      case _ =>
    }
    vs.result().distinct
  }

  /** Can a given side (0 = left, 1 = right) legally be the broadcast
    * build side for this join type? */
  private def broadcastablePosition(jt: JoinType, side: Int): Boolean = jt match {
    case _: InnerLike => true
    case LeftOuter | LeftSemi | LeftAnti | _: ExistenceJoin => side == 1
    case RightOuter => side == 0
    case _ => false // full outer: neither side broadcastable
  }

  /** A shuffle join surviving the FINAL adaptive plan although one side
    * is BOUNDED (model-sized at any scale) and sits in a broadcastable
    * position: the whole-corpus side is being shuffled to meet a frame
    * that should ship to it. Both-sides-bounded joins are exempt — a
    * shuffle of two model frames is no scale-killer, whatever the
    * physical operator. */
  private def smallSide(name: String, j: SparkPlan, jt: JoinType,
      sides: Seq[SparkPlan]): Seq[Violation] = {
    val b = sides.map(bounded(_))
    if (b.forall(identity)) return Nil
    sides.zipWithIndex.flatMap { case (s, i) =>
      if (b(i) && broadcastablePosition(jt, i))
        Some(Violation(name, "smj-small-side", describe(j),
          s"$jt shuffle join keeps a bounded ${if (i == 0) "left" else "right"} side " +
            s"(${runtimeRows(s).getOrElse(-1L)} rows) unbroadcast — the corpus side shuffles to meet it"))
      else None
    }
  }

  /** Run + lint one query. */
  def lint(name: String, df: DataFrame): Seq[Violation] =
    lintPlan(name, executedPlan(df))

  /** Ad-hoc report over all (or selected) registered queries:
    * `runMain graft.tools.PlanLint [sfDir] [q1,q2,...]`. With a query
    * list, each named query's formatted executed plan is printed above
    * its violations. */
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val which = if (args.length > 1) args(1).split(",").toSet else Set.empty[String]
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = graft.GraftSession.build(cpus, "graft-plan-lint")
    graft.Tables.prepareAll(spark, sfDir)
    var bad = 0
    graft.SparkEntry.queries
      .filter { case (n, _) => which.isEmpty || which.contains(n) }
      .toSeq.sortBy(_._1)
      .foreach { case (name, fn) =>
        val vs =
          try {
            val df = fn(spark, sfDir)
            val plan = executedPlan(df)
            if (which.nonEmpty)
              println(s"\n===== $name =====\n" + df.queryExecution.explainString(FormattedMode))
            lintPlan(name, plan)
          } catch { case e: Throwable => Seq(Violation(name, "error", "-", e.toString.take(160))) }
        vs.foreach { v =>
          val just = Justified.get((v.query, v.rule)).map(j => s" [justified: $j]").getOrElse("")
          println(v.toString + just)
          if (!Justified.contains((v.query, v.rule))) bad += 1
        }
      }
    println(s"""{"metric":"plan_lint_unjustified","value":$bad}""")
    spark.stop()
    if (bad > 0) sys.exit(1)
  }
}

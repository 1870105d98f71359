// Hosted with the native expressions whose RowKernel marker it reads.
package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.optimizer.JoinSelectionHelper
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.aggregate.ScalaAggregator
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Marks an expression (or `Aggregator`) whose per-row compute outweighs
  * serializing its input row: the kernels [[ScanFanoutRule]] fans out for.
  */
trait RowKernel

/** Scan fanout as one optimizer rule, injected pre-CBO by
  * `graft.GraftExtensions`: it runs once per optimization, never while a
  * frame is being built.
  *
  * A single-row-group parquet file scans as ONE task however many cores
  * the session has, so a per-row kernel after it runs single-threaded until
  * the first exchange. The rule inserts one
  * `RepartitionByExpression(…, defaultParallelism)` directly above the
  * scan's Project/Filter stack (pushed filters and read schema unchanged)
  * when both hold:
  *  - gate: fewer input files than `defaultParallelism` (rows cannot spread
  *    wider than one task per file) and a relation below
  *    `defaultParallelism × spark.sql.files.maxPartitionBytes` (what one
  *    scan wave reads anyway). Any real-scale corpus fails it. A cached
  *    Project/Filter stack over such a scan keeps its partitioning and
  *    counts as the scan;
  *  - path: the rows reach a Project, Generate, Filter or Aggregate
  *    evaluating a [[RowKernel]] through Project, Filter, CollectMetrics,
  *    Generate, or the streamed side of a join whose other side is
  *    broadcast (hinted or under the auto-broadcast threshold).
  *
  * Fanout pays only where kernel compute outweighs serializing the row
  * (Chukonu, VLDB 2021). Light maps feeding aggregations or joins lose:
  * table-level fanout of orders/lineitem/events replaced tiny map-side
  * partials with a single-threaded full-table shuffle write, 100–450 ms
  * slower per query. So `DoubleCentsExpr`, `JsonIntFieldExpr`, `HrefsExpr`
  * and the TopK/bloom aggregates carry no marker.
  *
  * Range form, when the path ends in a global Sort led by scan columns
  * passed through unchanged: map-side operators keep the range
  * partitioning, so the sort needs no second exchange and no
  * boundary-sampling re-run of the kernel. Hash form otherwise, on every
  * column read: a pure function of row content, deterministic under retry
  * and unskewed by a low-cardinality column. The inserted node breaks the
  * path it sits on, so no scan fans twice.
  */
case class ScanFanoutRule(session: SparkSession)
    extends Rule[LogicalPlan] with JoinSelectionHelper {

  // what a subtree's rows reach: a kernel node, the global sort ending
  // their map-side path, and the columns the operators above use
  private case class Path(kernel: Boolean, sort: Seq[SortOrder], need: AttributeSet)

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val want = session.sparkContext.defaultParallelism
    def narrow(fs: HadoopFsRelation): Boolean =
      fs.location.inputFiles.length < want &&
        fs.sizeInBytes < want.toLong * conf.filesMaxPartitionBytes
    def visit(p: LogicalPlan, path: Path): LogicalPlan =
      if (path.kernel && scanUnder(p).exists(narrow)) fanOut(p, path, want)
      else p.mapChildren(c => visit(c, below(p, c, path)))
    visit(plan, Path(kernel = false, Nil, plan.outputSet))
  }

  private def evaluatesKernel(p: LogicalPlan): Boolean =
    p.expressions.exists(_.exists {
      case _: RowKernel => true
      case a: ScalaAggregator[_, _, _] => a.agg.isInstanceOf[RowKernel]
      case _ => false
    })

  /** The file scan under a kernel-free Project/Filter stack topped by `p`. */
  private def scanUnder(p: LogicalPlan): Option[HadoopFsRelation] = p match {
    case _: Project | _: Filter if !evaluatesKernel(p) => scanUnder(p.children.head)
    case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) => Some(fs)
    case m: InMemoryRelation => scanUnder(m.cacheBuilder.logicalPlan)
    case _ => None
  }

  private def below(p: LogicalPlan, c: LogicalPlan, path: Path): Path = {
    val need = c.outputSet.intersect(p.references ++ path.need)
    p match {
      case s: Sort if s.global => Path(kernel = false, s.order, need)
      case _: Project | _: Filter | _: Generate =>
        Path(path.kernel || evaluatesKernel(p), path.sort, need)
      case _: CollectMetrics => path.copy(need = need)
      case j: Join if path.kernel && streamed(j).exists(_ eq c) => path.copy(need = need)
      case a: Aggregate => Path(evaluatesKernel(a), Nil, need)
      case _ => Path(kernel = false, Nil, need)
    }
  }

  private def streamed(j: Join): Option[LogicalPlan] =
    if (canBuildBroadcastRight(j.joinType) &&
        (hintToBroadcastRight(j.hint) || canBroadcastBySize(j.right, conf))) Some(j.left)
    else if (canBuildBroadcastLeft(j.joinType) &&
        (hintToBroadcastLeft(j.hint) || canBroadcastBySize(j.left, conf))) Some(j.right)
    else None

  private def fanOut(stack: LogicalPlan, path: Path, want: Int): LogicalPlan = {
    val read = stack match {
      case _: Project => stack
      case _ => Project(stack.output.filter(path.need.contains), stack)
    }
    val passed = read.outputSet.intersect(stack.collectLeaves().head.outputSet)
    val range = path.sort.takeWhile(o =>
      o.child.isInstanceOf[Attribute] && o.references.subsetOf(passed))
    RepartitionByExpression(if (range.nonEmpty) range else read.output, read, Some(want))
  }
}

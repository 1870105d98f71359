package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session — Spark
  * sessions are expensive; suites must not stop() it).
  */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_warehouse").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  def sf0001: String = SparkSpec.sf0001
  def sf001: String = SparkSpec.sf001

  /** `body` with the runtime confs `kv` set on the shared session, each
    * restored (or unset) afterwards.
    */
  def withConfs[A](kv: (String, String)*)(body: => A): A = {
    val saved = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    try { kv.foreach { case (k, v) => spark.conf.set(k, v) }; body }
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** `body` under the runtime confs of the bench session
    * (`SparkBoot.session`): AQE off, shuffle width 8.
    */
  def benchConf[A](body: => A): A = withConfs(
    "spark.sql.adaptive.enabled" -> "false",
    "spark.sql.shuffle.partitions" -> "8")(body)
}

/** Shared assertion helpers for spec code (kept out of SparkSpec so
  * suites can use them without inheriting the session).
  */
object SpecHelpers {
  /** The ONE spelling of the GK rank-window contract with ±1 slack
    * (review finding r11: the convention was hand-copied in three
    * suites): value v's rank interval in the sorted data is
    * [lt+1, le]; the target rank must fall inside it widened by one on
    * each side. At accuracy ≫ n this degenerates to exactness up to
    * GK's own rank rounding.
    */
  def gkRankHolds[T](sorted: Seq[T], v: T, target: Double)
                    (implicit ord: Ordering[T]): Boolean = {
    val lt = sorted.count(ord.lt(_, v))
    val le = sorted.count(ord.lteq(_, v))
    lt <= target && target <= le + 1
  }

  import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}

  /** Every node of a physical plan INCLUDING persisted subtrees (a builder
    * persist hides its subplan inside InMemoryRelation.cachedPlan, which a
    * plain collect never visits — the q31 cached-exchange lesson) and
    * AQE's current plan and query stages.
    */
  def deepNodes(p: SparkPlan): Seq[SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    p.collect { case n => n }.flatMap {
      case s: InMemoryTableScanExec => s +: deepNodes(s.relation.cachedPlan)
      case a: AdaptiveSparkPlanExec => a +: deepNodes(a.executedPlan)
      case q: QueryStageExec => q +: deepNodes(q.plan)
      case n => Seq(n)
    }
  }

  /** The scan-fanout exchanges of a plan: ScanFanoutRule's
    * RepartitionByExpression(…, n) plans as a REPARTITION_BY_NUM shuffle.
    */
  def fanouts(p: SparkPlan): Int = {
    import org.apache.spark.sql.execution.exchange.{ShuffleExchangeExec, REPARTITION_BY_NUM}
    deepNodes(p).count {
      case s: ShuffleExchangeExec => s.shuffleOrigin == REPARTITION_BY_NUM
      case _ => false
    }
  }

  /** Runs `body` and returns its value with the physical plans of every
    * query it executed (builders that collect eagerly run plans the
    * returned frame does not show).
    */
  def executedPlans[A](spark: org.apache.spark.sql.SparkSession)(body: => A)
      : (A, Seq[SparkPlan]) = {
    val seen = scala.collection.mutable.ArrayBuffer.empty[SparkPlan]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.synchronized(seen += qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    org.apache.spark.GraftListenerDrain.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      val a = body
      org.apache.spark.GraftListenerDrain.drain(spark.sparkContext)
      (a, seen.synchronized(seen.toList))
    } finally spark.listenerManager.unregister(listener)
  }
}

package graft.functions

import graft.{SparkSpec, SpecHelpers, Tables}
import graft.functions.expressions.NativeExprs
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.SortOrder
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, RepartitionByExpression}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.exchange.{ShuffleExchangeExec, REPARTITION_BY_NUM}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{RowKernel, ScanFanoutRule}

/** ScanFanoutRule at sf0.01 on the suite's local[4] session under the bench
  * config (AQE off, shuffle width 8): a one-file corpus scan fans out
  * exactly once, above its Project/Filter stack, before a per-row kernel —
  * and nowhere else.
  */
class ScanFanoutRuleSpec extends SparkSpec {

  private val rule = classOf[ScanFanoutRule].getName

  private def fanouts(p: LogicalPlan): Seq[RepartitionByExpression] =
    p.collect { case r: RepartitionByExpression => r }

  private def scanStack(p: LogicalPlan): Boolean = p match {
    case Project(_, c) => scanStack(c)
    case Filter(_, c) => scanStack(c)
    case _: LogicalRelation => true
    case _ => false
  }

  private def scanFacts(df: DataFrame): Seq[String] = {
    val scan = df.queryExecution.executedPlan
      .collectFirst { case s: FileSourceScanExec => s }.get
    Seq("PushedFilters", "ReadSchema").map(k => s"$k=${scan.metadata(k)}")
  }

  private def docs = Tables.documents(spark, sf001)

  private def kernel(df: DataFrame): DataFrame =
    df.filter(col("lang") === "en")
      .select(col("doc_id"), TextOps.simhash32(TextOps.tokens(col("text"))).as("fp"))

  test("a documents kernel projection gets one hash repartition above its scan stack") {
    benchConf {
      val q = kernel(docs)
      val reps = fanouts(q.queryExecution.optimizedPlan)
      assert(reps.size === 1, q.queryExecution.optimizedPlan)
      assert(reps.head.optNumPartitions.contains(spark.sparkContext.defaultParallelism))
      assert(!reps.head.partitionExpressions.exists(_.isInstanceOf[SortOrder]), reps.head)
      assert(scanStack(reps.head.child), reps.head)
      val off = withConfs("spark.sql.optimizer.excludedRules" -> rule) {
        val d = kernel(docs)
        d.queryExecution.executedPlan // plan while the rule is excluded
        d
      }
      assert(fanouts(off.queryExecution.optimizedPlan).isEmpty)
      assert(scanFacts(q) === scanFacts(off))
      assert(scanFacts(q).head.contains("EqualTo(lang,en)"), scanFacts(q))
    }
  }

  test("select(kernel).orderBy(doc_id) plans one exchange: a range exchange below the kernel") {
    benchConf {
      val plan = kernel(docs).orderBy("doc_id").queryExecution.executedPlan
      val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
      assert(exchanges.size === 1, plan)
      val ex = exchanges.head
      assert(ex.shuffleOrigin == REPARTITION_BY_NUM, plan)
      assert(ex.outputPartitioning.toString.startsWith("rangepartitioning(doc_id"), plan)
      assert(!ex.exists(_.expressions.exists(_.exists(_.isInstanceOf[RowKernel]))),
        s"the kernel must run above the exchange:\n$plan")
    }
  }

  test("an input of at least parallelism files gets no repartition") {
    val dir = java.nio.file.Files.createTempDirectory("fanout_wide").toString
    val want = spark.sparkContext.defaultParallelism
    docs.repartition(want).write.mode("overwrite").parquet(dir)
    benchConf {
      val wide = spark.read.parquet(dir)
      assert(wide.inputFiles.length >= want)
      assert(fanouts(kernel(wide).queryExecution.optimizedPlan).isEmpty)
    }
  }

  test("an unmarked light map (DoubleCentsExpr over lineitem) gets no repartition") {
    benchConf {
      val q = Tables.lineitem(spark, sf001)
        .select(NativeExprs.doubleCents(col("l_extendedprice")).as("c"))
      assert(fanouts(q.queryExecution.optimizedPlan).isEmpty)
      assert(SpecHelpers.fanouts(q.queryExecution.executedPlan) === 0)
    }
  }

  test("re-optimizing an optimized plan adds nothing") {
    benchConf {
      val opt = kernel(docs).orderBy("doc_id").queryExecution.optimizedPlan
      assert(fanouts(opt).size === 1)
      assert(ScanFanoutRule(spark)(opt) == opt)
      assert(fanouts(spark.sessionState.optimizer.execute(opt)).size === 1)
    }
  }
}

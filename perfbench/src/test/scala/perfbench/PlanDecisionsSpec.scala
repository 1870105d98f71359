package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.expressions.NativeExprs

class PlanDecisionsSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.sql.adaptive.enabled", "false")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.autoBroadcastJoinThreshold", "-1")
    .config("spark.ui.enabled", "false").getOrCreate()

  test("counts exchanges, joins, explicit repartitions and graft kernels") {
    val big = spark.range(1000).select(col("id"), (col("id") % 10).as("k"))
    val small = spark.range(10).select(col("id").as("k"),
      array(col("id").cast("string"), lit("b")).as("toks"))
    val q = big.repartition(4, col("id"))
      .join(broadcast(small), "k")
      .join(spark.range(100).select(col("id")), "id")
      .select(col("id"), NativeExprs.simhash32(col("toks")).as("h"))
    val d = PlanDecisions.of(q.queryExecution.executedPlan)
    // the explicit repartition, then both sides of the sort-merge join:
    // the repartitioned side is already hash-partitioned on id
    assert(d == PlanDecisions(exchanges = 2, broadcastJoins = 1,
      sortMergeJoins = 1, fanoutRepartitions = 1, nativeExprs = 1))
  }

  test("a plan without any of them counts zero") {
    val d = PlanDecisions.of(spark.range(5).select(col("id") + 1)
      .queryExecution.executedPlan)
    assert(d == PlanDecisions())
  }
}

package graft

/** Dev tool: run one catalog query N times with timing and optional
  * formatted explain. Usage:
  *   runMain graft.RunOne <name> [sfDir] [reps] [explain]
  */
object RunOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(2).map(_.toInt).getOrElse(3)
    val doExplain = args.contains("explain")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkBoot.session(cpus)
    val q = queries.Catalog.byName(name)
    if (doExplain) q.build(spark, sfDir).explain("formatted")
    (1 to reps).foreach { r =>
      val t0 = System.nanoTime()
      q.build(spark, sfDir).write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
      println(f"[runone] $name rep$r: ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    spark.stop()
  }
}

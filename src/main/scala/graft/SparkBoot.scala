package graft

import org.apache.spark.sql.SparkSession

/** The one place in the program that builds a SparkSession. Every CLI
  * main takes its session from here, so `Verify` oracles exactly the
  * configuration `Bench` times: hand-copied builder blocks drifted apart
  * (Verify ran AQE on at shuffle width = cpus while Bench ran AQE off at
  * width 8), and a plan that was only wrong in the benched config passed
  * the oracle.
  */
private[graft] object SparkBoot {

  /** The shared base every entry point gets: master, UTC (the NTZ →
    * session-tz cast in `Tables.events` must resolve identically on any
    * host), the graft extensions, UI off. Spark's own sizing defaults
    * are left alone — that is what `etl.RunPipeline` deploys with
    * (DEPLOY.md).
    */
  def base(cpus: String): SparkSession = build(cpus, Nil)

  /** [[base]] plus the per-corpus sizing `Bench` measures and `Verify`
    * oracles. A caller with a different real need (DevScale's partition
    * lever) overrides a runtime conf with `spark.conf.set` afterwards.
    */
  def session(cpus: String): SparkSession = build(cpus, Seq(
    // static width for non-AQE shuffles: measured best at sf0.1 (tiny
    // final sorts schedule 8 tasks, not 32)
    "spark.sql.shuffle.partitions" -> "8",
    // with AQE off, 16m splits beat 1m on every heavy query at this
    // corpus size — task launch outweighs extra scan parallelism
    // (cluster deployments at real scale keep the 128m default)
    "spark.sql.files.maxPartitionBytes" -> "16m",
    "spark.sql.files.openCostInBytes" -> "64k",
    // AQE off at this corpus size: its value (coalescing, skew splits,
    // join re-planning) grows with data, but its cost — a scheduler
    // barrier and re-optimization per shuffle stage — is ~flat per
    // query; it measured 25–40 % slower at sf0.1. AqeParitySpec keeps
    // AQE-on results pinned; cluster deployments keep it on.
    "spark.sql.adaptive.enabled" -> "false",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1m",
    // AQE-managed shuffles start 32-way and coalesce by the advisory
    // size, even if the static width is tuned lower
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> "32",
    // the catalog generates far more whole-stage-codegen units than the
    // default 100-entry class cache; a smaller cache recompiles (Janino)
    // inside the timed window
    "spark.sql.codegen.cache.maxEntries" -> "5000"))

  /** `SPARK_GRAFT_MASTER` overrides the in-JVM `local[cpus]`. Its cluster
    * form (`local-cluster[N,C,M]`) runs REAL executor processes, so
    * closure/broadcast serialization and result fetch get priced instead
    * of elided; callers must have `SPARK_SCALA_VERSION=2.13` in the
    * process env or the worker's executor launcher dies with "Cannot find
    * any build directories". Those executors are separate JVMs launched
    * by the worker: they need this JVM's classpath (same host, shared
    * filesystem) and any caller-supplied JVM flags
    * (`SPARK_GRAFT_EXECUTOR_OPTS`; the launcher injects Spark's own
    * JDK-17 --add-opens defaults).
    */
  private def build(cpus: String,
                    sizing: Seq[(String, String)]): SparkSession = {
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val cluster =
      if (!master.startsWith("local-cluster")) Nil
      else Seq("spark.executor.extraClassPath" -> sys.props("java.class.path"),
        "spark.executor.extraJavaOptions" ->
          sys.env.getOrElse("SPARK_GRAFT_EXECUTOR_OPTS", ""))
    val confs = Seq(
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.extensions" -> "graft.GraftExtensions",
      "spark.ui.enabled" -> "false") ++ cluster ++ sizing
    val spark = SparkSession.builder().master(master).config(confs.toMap)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

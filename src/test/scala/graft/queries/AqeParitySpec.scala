package graft.queries

import graft.SparkSpec

/** Cluster-readiness guard (r11, widened to the FULL oracled catalog in
  * r12 — VERDICT r11 item 4): the bench runs AQE OFF as per-corpus sizing
  * for the sub-GB test data, but REAL deployments keep AQE ON
  * (BASELINE.md documents both) — so results must be byte-identical under
  * AQE re-planning (runtime coalescing, skew splits, join re-plans) and
  * under a different static shuffle width. Both are runtime SQL confs;
  * this spec flips them around every oracle-checked catalog entry at
  * sf0.01 and requires row-for-row equality with the bench-config run.
  *
  * The non-oracled cap entries are EXCLUDED from byte-parity by design —
  * their sketches (percentile_approx/GK, HLL-band LSH) are
  * partitioning-dependent in merge order, which is exactly why they carry
  * rank/tolerance contracts instead of oracles. The routed q107b/q110b
  * forms get their own flipped-config case below asserting the GK rank
  * contract against the exact forms (ADVICE r11: the parity story must
  * cover the shipped scale paths, under the contract they actually make).
  */
class AqeParitySpec extends SparkSpec {

  private val oracled: Seq[String] =
    Catalog.all.filter(_.oracle.isDefined).map(_.name)

  private def rows(name: String, dir: String): Seq[Seq[Any]] = {
    val r = Catalog.byName(name).build(spark, dir)
      .collect().map(_.toSeq).toSeq
    spark.catalog.clearCache()
    r
  }

  private val aqe = "spark.sql.adaptive.enabled"
  private val sp = "spark.sql.shuffle.partitions"

  private def withConfigs[A](aqeOn: Boolean, width: String)(body: => A): A = {
    val aqe0 = spark.conf.get(aqe)
    val sp0 = spark.conf.get(sp)
    try {
      spark.conf.set(aqe, aqeOn.toString)
      spark.conf.set(sp, width)
      body
    } finally {
      spark.conf.set(aqe, aqe0)
      spark.conf.set(sp, sp0)
    }
  }

  test("every oracled catalog entry is byte-identical under AQE OFF (bench config) and AQE ON (cluster config) at sf0.01") {
    // reference run at the BENCH'S SHIPPED config — AQE off must be set
    // EXPLICITLY: Spark 4's session default is AQE ON, so inheriting the
    // suite default would compare ON vs ON and never exercise the
    // AQE-off physical paths the bench actually ships (review finding
    // r11 #3)
    val diverged = scala.collection.mutable.ArrayBuffer.empty[String]
    oracled.foreach { n =>
      val ref = withConfigs(aqeOn = false, width = "8")(rows(n, sf001))
      val got = withConfigs(aqeOn = true, width = "13")(rows(n, sf001))
      if (got != ref) diverged += n
    }
    assert(diverged.isEmpty,
      s"diverged between AQE-off/shuffle=8 and AQE-on/shuffle=13: " +
        diverged.mkString(", "))
  }

  test("every fanned catalog entry returns identical rows with the scan fanout rule on and excluded") {
    // ROADMAP item 3: fanout is a layout decision and must never change an
    // answer. Bench config both ways; off = Spark's own excludedRules.
    // Compared as row multisets: entries without a final ORDER BY return
    // rows in partition order.
    val off = "spark.sql.optimizer.excludedRules" ->
      classOf[org.apache.spark.sql.graft.ScanFanoutRule].getName
    def sorted(rs: Seq[Seq[Any]]) = rs.map(_.mkString("\u0001")).sorted
    val diverged = PlanShapeSpec.fanned.toSeq.sorted.filter { n =>
      val on = withConfigs(aqeOn = false, width = "8")(rows(n, sf001))
      spark.conf.set(off._1, off._2)
      val without =
        try withConfigs(aqeOn = false, width = "8")(rows(n, sf001))
        finally spark.conf.unset(off._1)
      sorted(on) != sorted(without)
    }
    assert(diverged.isEmpty, s"scan fanout changed the rows of: ${diverged.mkString(", ")}")
  }

  test("routed q107b/q110b scale paths honor the GK rank contract vs exact under the cluster config") {
    import org.apache.spark.sql.functions._
    val ev = graft.Tables.events(spark, sf0001)
    // exact ground truth (config-independent — proven by the test above
    // for the oracled twins)
    val exactGaps = ev
      .select(col("event_type"), unix_micros(col("ts")).as("us"),
        col("event_id"))
      .withColumn("gap", col("us") - lag(col("us"), 1).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("event_type").orderBy(col("us"), col("event_id"))))
      .filter(col("gap").isNotNull)
      .collect().groupBy(_.getString(0))
      .map { case (t, rs) => t -> rs.map(_.getLong(3)).sorted.toSeq }
    val exactVals = ev
      .select(col("event_type"), col("value"))
      .filter(col("value").isNotNull)
      .collect().groupBy(_.getString(0))
      .map { case (t, rs) => t -> rs.map(_.getDouble(1)).sorted.toSeq }
    withConfigs(aqeOn = true, width = "13") {
      Catalog.byName("q107b_gap_deciles_scalable").build(spark, sf0001)
        .collect().foreach { r =>
          val a = exactGaps(r.getString(0))
          val target = math.ceil(r.getInt(1) * a.length / 10.0)
          assert(graft.SpecHelpers.gkRankHolds(a, r.getLong(2), target),
            s"${r.getString(0)} k=${r.getInt(1)}: ${r.getLong(2)} " +
              s"misses rank $target (n=${a.length}) under AQE ON")
        }
      spark.catalog.clearCache()
      Catalog.byName("q110b_value_percentiles_approx").build(spark, sf0001)
        .collect().foreach { r =>
          val a = exactVals(r.getString(0))
          val target = math.ceil(r.getInt(1) * a.length / 100.0)
          assert(graft.SpecHelpers.gkRankHolds(a, r.getDouble(2), target),
            s"${r.getString(0)} p${r.getInt(1)}: ${r.getDouble(2)} " +
              s"misses rank $target (n=${a.length}) under AQE ON")
        }
      spark.catalog.clearCache()
    }
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench's one stdout line (`Bench.jsonLine`, the pure seam of the
  * `Bench` main): its key order and fields, failure marking, and the
  * head-preserving budget guard. A wrong field here silently corrupts every
  * BENCH record read from it.
  */
class BenchSpec extends AnyFunSuite {

  test("jsonLine — key order, qNN keys, integer ms and the totals object") {
    val line = Bench.jsonLine(
      results = Seq("q01_alpha" -> 0.25, "q02b_beta" -> 1.5),
      cold = Seq("q01_alpha" -> 2.0, "q02b_beta" -> 3.0),
      cpuMs = Seq("q01_alpha" -> 400.0, "q02b_beta" -> 1100.0),
      sf = "sf0.01")
    assert(line ===
      """{"metric":"total","value":1.75,"unit":"sec","failed":[],""" +
      """"queries_ms":{"q01":250,"q02b":1500},"reps":3,"sf":"sf0.01",""" +
      """"totals":{"warm_median":1.75,"cold_single_shot":5.0,"n_failed":0,""" +
      """"floor":1.5,"cpu_s":1.5}}""")
  }

  test("jsonLine — a failed query reads -1, is named in failed, and leaves every total") {
    val line = Bench.jsonLine(
      results = Seq("q01_ok" -> 0.5, "q02_boom" -> -1.0, "q03_cold_boom" -> 0.75),
      cold = Seq("q01_ok" -> 1.0, "q02_boom" -> -1.0, "q03_cold_boom" -> -1.0),
      cpuMs = Seq("q01_ok" -> 200.0, "q02_boom" -> -1.0, "q03_cold_boom" -> 300.0),
      sf = "sf0.01")
    assert(line.startsWith(
      """{"metric":"total","value":1.25,"unit":"sec",""" +
      """"failed":["q02_boom","q03_cold_boom"],"""), line)
    assert(line.contains(""""queries_ms":{"q01":500,"q02":-1,"q03":750}"""), line)
    assert(line.endsWith(
      """"totals":{"warm_median":1.25,"cold_single_shot":1.0,"n_failed":2,""" +
      """"floor":0.75,"cpu_s":0.5}}"""), line)
  }

  test("jsonLine — over 1950 characters keeps its head and the slowest half of queries_ms") {
    val names = (1 to 148).map(i => f"q$i%03d_query")
    // 5-digit ms values: the contended-window shape that overflows the tail
    val results = names.zipWithIndex.map { case (n, i) => n -> (10.0 + i * 0.1) }
    val line = Bench.jsonLine(results, results, results.map(_._1 -> 1.0), "sf0.1")
    val qms = """"queries_ms":\{([^}]*)\}""".r.findFirstMatchIn(line).get.group(1)
      .split(",").map(_.split(":")(0).stripPrefix("\"").stripSuffix("\""))
    assert(line.startsWith("""{"metric":"total","value":"""), line.take(80))
    assert(qms.toSeq === names.drop(74).map(Bench.qKey))
    assert(line.length <= 1950, line.length)
    assert(line.contains(""""n_failed":0,"floor":10.2,"cpu_s":0.148}}"""), line.takeRight(120))
  }
}

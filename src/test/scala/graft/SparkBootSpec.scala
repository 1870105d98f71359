package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Every program entry point takes its session from [[SparkBoot]]: a
  * hand-copied builder block is how Verify once oracled a different
  * configuration (AQE on, width = cpus) from the one Bench timed (AQE
  * off, width 8), and passed a q55 that was wrong in the benched plan.
  */
class SparkBootSpec extends AnyFunSuite {

  test("src/main builds a SparkSession in exactly one place, SparkBoot") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    val sites = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p: Path =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if line.contains("SparkSession.builder") =>
            s"${root.relativize(p)}:${i + 1}"
        }
      }.toSeq
    assert(sites.size === 1 && sites.head.startsWith("graft/SparkBoot.scala:"),
      s"SparkSession.builder sites: ${sites.mkString(", ")}")
  }
}

package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Structural guard against session drift: the entry points share one
  * session policy, and it is the one the benchmark was measured on. */
class GraftSessionSpec extends AnyFunSuite {

  test("settings are Bench's session settings, key for key") {
    // what graft.Bench's own builder set, with SPARK_GRAFT_CPUS=6
    val bench = Map(
      "spark.master" -> "local[6]",
      "spark.sql.shuffle.partitions" -> "6",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold" -> "128m",
      "spark.sql.codegen.cache.maxEntries" -> "10000",
      "spark.ui.enabled" -> "false")
    assert(GraftSession.settings(6) == bench)
  }

  test("only GraftSession and ClusterCheck build a SparkSession") {
    val main = Paths.get("src/main/scala")
    assert(Files.isDirectory(main), s"run from the repo root, not ${main.toAbsolutePath}")
    val builders = Files.walk(main).iterator.asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filter(p => Files.readString(p).contains("SparkSession.builder()"))
      .map(_.getFileName.toString).toSet
    assert(builders -- Set("GraftSession.scala", "ClusterCheck.scala") == Set.empty)
  }
}

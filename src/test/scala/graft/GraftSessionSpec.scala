package graft

import graft.functions.{RewriteFloatDot, RewriteLevenshteinBound}
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The one session factory: the test session has the bench's shape, and no
  * other source file builds its own session (the settings of hand-rolled
  * builders drift apart — a profiler without the extensions times plans
  * the bench never runs).
  */
class GraftSessionSpec extends SparkTestBase {

  test("the test session carries the extensions' optimizer rules, 4 partitions, UTC and AQE") {
    val rules = spark.sessionState.optimizer.extendedOperatorOptimizationRules
    assert(rules.contains(RewriteFloatDot))
    assert(rules.contains(RewriteLevenshteinBound))
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.sparkContext.master == "local[4]")
  }

  test("no source file other than GraftSession.scala builds a session") {
    val src = Paths.get("src")
    assert(Files.isDirectory(src), s"run from the project root (cwd ${Paths.get("").toAbsolutePath})")
    val needle = "SparkSession" + ".builder"
    val scalaFiles = Files.walk(src).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toSeq
    val builders = scalaFiles.filter(p => Files.readString(p).contains(needle))
    assert(builders.map(_.getFileName.toString) == Seq("GraftSession.scala"),
      s"builds its own session: ${builders.mkString(", ")}")
  }
}

package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Every session in the program comes from `Session.local`, so every entry
  * point plans under the same conf. */
class SessionSpec extends SparkSpec {

  test("the shared test session carries the factory's conf") {
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get("spark.ui.enabled") === "false")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
    assert(spark.sparkContext.master === "local[4]")
    assert(spark.sparkContext.appName === "graft-test")
  }

  test("src/main builds a SparkSession in the factory only") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: ${root.toAbsolutePath}")
    val files = scala.util.Using.resource(Files.walk(root))(
      _.iterator().asScala.filter(_.toString.endsWith(".scala")).toList)
    val builder = """SparkSession\s*\.\s*builder""".r
    def builds(p: Path): Boolean =
      builder.findFirstIn(Files.readString(p)).isDefined
    assert(files.filter(builds).map(root.relativize(_).toString) ===
      Seq("graft/Session.scala"))
  }
}

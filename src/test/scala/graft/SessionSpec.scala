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

  private val root = Paths.get("src/main/scala")

  /** Every Scala source under `src/main`. */
  private def mainSources(): List[Path] = {
    assert(Files.isDirectory(root), s"run from the repo root: ${root.toAbsolutePath}")
    scala.util.Using.resource(Files.walk(root))(
      _.iterator().asScala.filter(_.toString.endsWith(".scala")).toList)
  }

  test("src/main builds a SparkSession in the factory only") {
    val files = mainSources()
    val builder = """SparkSession\s*\.\s*builder""".r
    def builds(p: Path): Boolean =
      builder.findFirstIn(Files.readString(p)).isDefined
    assert(files.filter(builds).map(root.relativize(_).toString) ===
      Seq("graft/Session.scala"))
  }

  test("src/main merges footer schemas in Topic.mergedSchema only, and lists no topic recursively") {
    def hits(p: Path, s: String): Seq[Int] =
      Files.readAllLines(p).asScala.zipWithIndex.collect { case (l, i) if l.contains(s) => i }.toSeq
    val topic = root.resolve("graft/Topic.scala")
    val lines = Files.readAllLines(topic).asScala
    val start = lines.indexWhere(_.contains("def mergedSchema("))
    val end = lines.indexWhere(_.startsWith("  }"), start)
    assert(start >= 0 && end > start, "Topic.mergedSchema not found")
    val merges = mainSources().flatMap(p => hits(p, "mergeSchema").map(root.relativize(p).toString -> _))
    assert(merges.nonEmpty && merges.forall { case (f, i) =>
      f == "graft/Topic.scala" && i > start && i < end }, s"mergeSchema outside mergedSchema: $merges")
    val recursive = Seq("graft/Topic.scala", "graft/Cascade.scala")
      .filter(f => hits(root.resolve(f), "listFiles(").nonEmpty)
    assert(recursive.isEmpty, s"listFiles( in $recursive")
  }

  test("Cascade.scala deletes through hfs.delete( only in dropTopic") {
    val lines = Files.readAllLines(root.resolve("graft/Cascade.scala")).asScala
    val start = lines.indexWhere(_.contains("def dropTopic("))
    val end = lines.indexWhere(_.startsWith("  }"), start)
    assert(start >= 0 && end > start, "Cascade.dropTopic not found")
    val deletes = lines.indices.filter(i => lines(i).contains("hfs.delete("))
    assert(deletes.nonEmpty && deletes.forall(i => i > start && i < end),
      s"hfs.delete( outside dropTopic at lines ${deletes.map(_ + 1)}")
  }

  test("src/main tests for a shard column in Topic.sequence only") {
    val lines = Files.readAllLines(root.resolve("graft/Topic.scala")).asScala
    val start = lines.indexWhere(_.contains("def sequence("))
    val end = lines.indexWhere(_.trim.isEmpty, start)
    assert(start >= 0 && end > start, "Topic.sequence not found")
    val tests = mainSources().flatMap { p =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (l, i) if l.contains("contains(\"shard\")") => root.relativize(p).toString -> i
      }
    }
    assert(tests.nonEmpty && tests.forall { case (f, i) =>
      f == "graft/Topic.scala" && i >= start && i < end },
      s"contains(\"shard\") outside Topic.sequence at ${tests.map { case (f, i) => s"$f:${i + 1}" }}")
  }

  test("src/main builds no sibling path of a topic directory") {
    val siblings = mainSources().flatMap { p =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (l, i) if l.contains("Dir + \".") || l.contains("Dir + \"-") =>
          s"${root.relativize(p)}:${i + 1}"
      }
    }
    assert(siblings.isEmpty, s"a path beside a topic dir is built at $siblings")
  }
}

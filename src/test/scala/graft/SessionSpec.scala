package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Every session in the program comes from [[Session]]: a second
  * builder site is a second, drifting copy of the configuration the
  * oracle gate checks and the bench times. */
class SessionSpec extends SparkSpec {

  test("src/main builds a SparkSession only in the Session factory") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root, not $root")
    val factory = root.resolve("graft/Session.scala")
    val sources = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    def builds(p: Path): Boolean =
      new String(Files.readAllBytes(p), "UTF-8")
        .contains("SparkSession" + ".builder")
    assert(builds(factory))
    assert(sources.filter(p => p != factory && builds(p)).isEmpty)
  }

  test("the test session carries the factory's confs") {
    val conf = spark.conf
    assert(conf.get("spark.sql.shuffle.partitions") === Session.cores.toString)
    assert(conf.get("spark.sql.session.timeZone") === "UTC")
    assert(conf.get("spark.sql.codegen.cache.maxEntries") === "4096")
    assert(conf.get("spark.sql.autoBroadcastJoinThreshold").stripSuffix("b")
      === (64L << 20).toString)
  }
}

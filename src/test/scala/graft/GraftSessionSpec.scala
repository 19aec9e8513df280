package graft

import org.scalatest.funsuite.AnyFunSuite

/** GraftSession's environment contract, and the guard that keeps it
  * the only SparkSession builder among the mains.
  */
class GraftSessionSpec extends AnyFunSuite {

  test("SPARK_GRAFT_CPUS sets the local master and the shuffle partitions") {
    val s = GraftSession.settings(Map("SPARK_GRAFT_CPUS" -> "3"), cores = 16)
    assert(s.cpus === 3)
    assert(s.conf("spark.master") === "local[3]")
    assert(s.conf("spark.sql.shuffle.partitions") === "3")
    assert(s.conf("spark.sql.session.timeZone") === "UTC")
    assert(s.conf("spark.ui.enabled") === "false")
  }

  test("without SPARK_GRAFT_CPUS the host core count is used") {
    val s = GraftSession.settings(Map.empty, cores = 5)
    assert(s.cpus === 5)
    assert(s.conf("spark.master") === "local[5]")
    assert(s.conf("spark.sql.shuffle.partitions") === "5")
  }

  test("with SPARK_MASTER set, neither master nor partitions are overridden") {
    val s = GraftSession.settings(
      Map("SPARK_MASTER" -> "spark://head:7077", "SPARK_GRAFT_CPUS" -> "3"), cores = 16)
    assert(s.cpus === 3)
    assert(!s.conf.contains("spark.master"))
    assert(!s.conf.contains("spark.sql.shuffle.partitions"))
    assert(s.conf("spark.sql.session.timeZone") === "UTC")
  }

  test("SparkSession.builder appears only in GraftSession.scala under src/main/scala") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repo root: ${root.toAbsolutePath}")
    val walk = java.nio.file.Files.walk(root)
    val builders = try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .filter(p => new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
          .contains("SparkSession.builder"))
        .map(_.getFileName.toString).toList
    } finally walk.close()
    assert(builders === List("GraftSession.scala"))
  }
}

package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Pins the single session bootstrap: every main builds its session
  * through [[SparkBoot.session]], and the module opens shipped to
  * forked executors are the ones this JVM was started with.
  */
class SparkBootSpec extends SparkSuite {

  test("executor --add-opens come from this JVM's own arguments") {
    assert(SparkBoot.addOpens.contains("--add-opens=java.base/java.lang=ALL-UNNAMED"),
      s"derived: ${SparkBoot.addOpens}")
  }

  test("SparkSession.builder appears under src/main/scala only in SparkBoot") {
    val root = Paths.get("src/main/scala")
    val files = Files.walk(root)
    val sites = try files.iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => "SparkSession\\s*\\.\\s*builder".r.findFirstIn(Files.readString(p)).isDefined)
      .map(p => root.relativize(p).toString.replace('\\', '/'))
      .toSet
    finally files.close()
    assert(sites === Set("graft/SparkBoot.scala"))
  }
}

package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Pins the single session bootstrap: every main builds its session
  * through [[SparkBoot.session]], the module opens shipped to forked
  * executors are the ones this JVM was started with, and the set of
  * mains stays the fixed list of entry points.
  */
class SparkBootSpec extends SparkSuite {

  test("executor --add-opens come from this JVM's own arguments") {
    assert(SparkBoot.addOpens.contains("--add-opens=java.base/java.lang=ALL-UNNAMED"),
      s"derived: ${SparkBoot.addOpens}")
  }

  /** Paths, relative to src/main/scala, of the files whose text matches `re`. */
  private def sourcesMatching(re: String): Set[String] = {
    val root = Paths.get("src/main/scala")
    val files = Files.walk(root)
    try files.iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => re.r.findFirstIn(Files.readString(p)).isDefined)
      .map(p => root.relativize(p).toString.replace('\\', '/'))
      .toSet
    finally files.close()
  }

  test("SparkSession.builder appears under src/main/scala only in SparkBoot") {
    assert(sourcesMatching("SparkSession\\s*\\.\\s*builder") === Set("graft/SparkBoot.scala"))
  }

  test("def main( appears under src/main/scala only in the shipped entry points") {
    // artifact generators (one-off sweeps that rewrite a markdown
    // record) belong outside the jar; a new main needs a caller first
    assert(sourcesMatching("\\bdef\\s+main\\s*\\(") === Set("Bench", "Verify", "Cli", "Demo",
      "examples/Examples", "tools/Reseed", "tools/ScaleUp")
      .map(f => s"graft/$f.scala"))
  }
}

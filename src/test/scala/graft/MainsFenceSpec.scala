package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The set of runnable mains is closed: a one-off diagnostic belongs in
  * a `Probe` subcommand or scale scenario, not in a new `def main`. */
class MainsFenceSpec extends AnyFunSuite {

  test("src/main/scala holds exactly the six mains") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root, not ${Paths.get("").toAbsolutePath}")
    val walk = Files.walk(root)
    val mains = try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        Files.readString(p).contains("def main("))
      .map((p: Path) => p.getFileName.toString.stripSuffix(".scala")).toSet
    finally walk.close()
    assert(mains == Set("Bench", "Verify", "Probe", "PlanAudit",
      "CurationDemo", "GriddedDemo"), mains)
  }
}

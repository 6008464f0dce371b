package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The engine's own session-conf keys (`spark.graft.*`) would be A/B
  * levers that fork the plan, and there are none. This scan lists every
  * `spark.graft.*` key the main sources name as a string literal, whether
  * read directly or through a variable, and pins the set to empty: a new
  * key must change this spec on purpose. */
class ConfLeverSpec extends AnyFunSuite {

  test("the main sources read exactly the documented spark.graft.* session keys") {
    val key = "\"(spark\\.graft\\.[^\"]*)\"".r
    val files = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toSeq
    assert(files.size > 20, s"scan found only ${files.size} sources")
    val keys = files.flatMap { (p: Path) =>
      key.findAllMatchIn(new String(Files.readAllBytes(p), "UTF-8"))
        .map(m => m.group(1) -> p.getFileName.toString)
    }
    assert(keys.isEmpty, keys.mkString("\n"))
  }
}

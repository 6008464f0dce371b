package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Stream plumbing (sources, triggers, sinks, waiting for the end of a
  * run) lives only in `graft.streaming`: the operator families hand their
  * streams to [[graft.streaming.ReplayRunner]], so the stream policy is
  * one function, not one copy per query. This scan fails on any operator
  * source that names the plumbing API. */
class StreamPlumbingSpec extends AnyFunSuite {

  test("no operator source names readStream, writeStream, Trigger or awaitTermination") {
    val api = "\\b(readStream|writeStream|Trigger|awaitTermination)\\b".r
    val files = Files.walk(Paths.get("src/main/scala/graft/operators")).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toSeq
    assert(files.size > 20, s"scan found only ${files.size} sources")
    val hits = files.flatMap { (p: Path) =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if api.findFirstIn(line).isDefined =>
          s"${p.getFileName}:${i + 1}: ${line.trim}"
      }
    }
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

/** Stream plumbing (sources, triggers, sinks, waiting for the end of a
  * run) lives only in `graft.streaming`: the operator families hand their
  * streams to [[graft.streaming.ReplayRunner]], so the stream policy is
  * one function, not one copy per query. This scan fails on any operator
  * source that names the plumbing API. */
class StreamPlumbingSpec extends AnyFunSuite {

  test("no operator source names readStream, writeStream, Trigger or awaitTermination") {
    val api = "\\b(readStream|writeStream|Trigger|awaitTermination)\\b".r
    val hits = SourceScan.hits("src/main/scala/graft/operators", 20)(api.findFirstIn(_).isDefined)
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}

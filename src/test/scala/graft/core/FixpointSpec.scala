package graft.core

import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite
import graft.{SourceScan, TestSpark}
import graft.operators.{Assembler, Dna, Genomics, GraphOps}

/** The convergent operators share [[Fixpoint]]'s loop, and the loops that
  * checkpoint every round free what they no longer read. */
class FixpointSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("no operator source writes its own round loop or fingerprint") {
    val hits = SourceScan.hits("src/main/scala/graft/operators", 20)(line =>
      line.contains("bit_xor(") || line.contains("var round"))
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  /** Entries `body` adds to the SparkContext's persistent RDDs. Each job
    * start takes a reference to every persisted RDD, so only an explicit
    * unpersist drops one: the GC-driven ContextCleaner would otherwise free
    * some unreleased states too, at moments no test controls. */
  private def leftPersisted(body: => Unit): Int = {
    val sc = spark.sparkContext
    val held = new java.util.concurrent.ConcurrentLinkedQueue[AnyRef]()
    val hold = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        held.addAll(sc.getPersistentRDDs.values.asJavaCollection); ()
      }
    }
    val before = sc.getPersistentRDDs.keySet
    sc.addSparkListener(hold)
    try body finally sc.removeSparkListener(hold)
    (sc.getPersistentRDDs.keySet -- before).size
  }

  test("a multi-round k-core keeps only its last state's blocks") {
    import spark.implicits._
    val path = (0L until 30L).map(i => (i, i + 1)).toDF("x", "y")
    assert(leftPersisted(assert(GraphOps.kcore(path, 2).collect().isEmpty)) <= 2)
  }

  test("forced-distributed assembly keeps only its last probe's blocks") {
    import spark.implicits._
    val genome = Dna.randGenome(600, seed = 7)
    val counts = Genomics.countCanonical(Dna.reads(genome, 80, 9).toDS(), 31).localCheckpoint()
    assert(leftPersisted(assert(Assembler.assemble(counts, 31, localThreshold = 0,
      probeEvery = 1).collect().toSeq == Seq(Dna.canonStr(genome)))) <= 2)
  }
}

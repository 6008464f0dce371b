package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Line scans over the main sources, for specs that pin what no source
  * may contain. */
object SourceScan {
  /** `File.scala:line: text` of every line of a Scala source under `dir`
    * that `hit` accepts; the scan must find more than `atLeast` sources. */
  def hits(dir: String, atLeast: Int)(hit: String => Boolean): Seq[String] = {
    val files = Files.walk(Paths.get(dir)).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toSeq
    assert(files.size > atLeast, s"scan found only ${files.size} sources")
    files.flatMap { p =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if hit(line) => s"${p.getFileName}:${i + 1}: ${line.trim}"
      }
    }
  }
}

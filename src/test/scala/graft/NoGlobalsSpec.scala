package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Operator state lives in thread-confined records (`Endgame`'s gate,
  * `LastIterations`, `KnnJoin.lastRingPlans`), never in process-wide vars
  * that concurrent sessions overwrite. Scans the main sources (the forked
  * test JVM runs in the project base directory). */
class NoGlobalsSpec extends AnyFunSuite {

  test("no @volatile var or lastIterations global in src/main") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"main sources not found under ${root.toAbsolutePath}")
    val files = Files.walk(root).iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toSeq
    assert(files.size > 50, s"scanned only ${files.size} files")
    val hits = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if line.contains("@volatile var") || line.contains("lastIterations")
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("global mutable state in src/main:\n", "\n", ""))
  }
}

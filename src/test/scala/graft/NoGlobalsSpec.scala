package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Operator state lives in thread-confined records (`Endgame`'s gate,
  * `LastIterations`, `KnnJoin.lastRingPlans`), never in process-wide vars
  * that concurrent sessions overwrite. Scans the main sources (the forked
  * test JVM runs in the project base directory). */
class NoGlobalsSpec extends AnyFunSuite {

  private lazy val files: Seq[Path] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"main sources not found under ${root.toAbsolutePath}")
    val fs = Files.walk(root).iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toSeq
    assert(fs.size > 50, s"scanned only ${fs.size} files")
    fs
  }

  test("no @volatile var or lastIterations global in src/main") {
    val hits = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if line.contains("@volatile var") || line.contains("lastIterations")
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("global mutable state in src/main:\n", "\n", ""))
  }

  /** `Endgame.rows` is the one gate-and-fetch: a gate on a frame's own
    * count beside it would count a driver-resident frame with a job, and
    * count again what the forced distributed path never needs. */
  test("no Endgame.local gate over a count() in src/main") {
    val call = "Endgame.local("
    val hits = for {
      f <- files
      text = new String(Files.readAllBytes(f), "UTF-8")
      start <- Iterator.iterate(text.indexOf(call))(i => text.indexOf(call, i + 1))
        .takeWhile(_ >= 0).map(_ + call.length)
      // the argument: up to the parenthesis that closes the call
      end = Iterator.iterate((start, 1)) { case (i, depth) =>
          (i + 1, depth + (text(i) match { case '(' => 1; case ')' => -1; case _ => 0 }))
        }.dropWhile(_._2 > 0).next()._1 - 1
      if text.substring(start, end).contains(".count()")
    } yield s"$f:${text.substring(0, start).count(_ == '\n') + 1}: $call${text.substring(start, end)})"
    assert(hits.isEmpty, hits.mkString("count-then-collect gates in src/main (use Endgame.rows):\n", "\n", ""))
  }
}

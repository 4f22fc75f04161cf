package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source guard: a scaladoc attaches to the definition right after it, so
  * two doc comments in a row leave the first one describing nothing (or
  * reading as part of its neighbor's).
  */
class ScaladocPlacementSpec extends AnyFunSuite {
  /** `file:line` of every doc comment that is followed, past blank lines
    * only, by another doc comment.
    */
  private def stacked(file: java.nio.file.Path): Seq[String] = {
    val lines = Files.readAllLines(file).asScala.map(_.trim)
    var openedAt = -1 // first line of the last doc comment
    var closed = false // that comment has ended and only blanks followed
    lines.zipWithIndex.flatMap { case (l, i) =>
      val hit =
        if (l.startsWith("/**") && closed) Some(s"$file:${openedAt + 1}")
        else None
      if (l.startsWith("/**")) { openedAt = i; closed = false }
      if (openedAt >= 0 && !closed && l.endsWith("*/")) closed = true
      else if (l.nonEmpty && !l.startsWith("/**") && closed) {
        openedAt = -1; closed = false
      }
      hit
    }.toSeq
  }

  test("the guard finds a doc comment stacked on another, and only that") {
    val f = Files.createTempFile("stacked", ".scala")
    try {
      Files.write(f, Seq("/** one-line doc */", "", "/** second", "  */",
        "val a = 1", "/** third */", "val b = 2").asJava)
      assert(stacked(f) === Seq(s"$f:1"))
    } finally Files.delete(f)
  }

  test("no doc comment under src/main is followed by another doc comment") {
    val files = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.exists(_.getFileName.toString == "Closure.scala"))
    val found = files.flatMap(stacked)
    assert(found.isEmpty, found.mkString("stacked scaladocs: ", ", ", ""))
  }
}

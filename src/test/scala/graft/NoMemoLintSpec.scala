package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Artifact reuse is decided in one place, [[ArtifactCache]]. A
  * concurrent map held in a field elsewhere in `src/main` is how the
  * per-module memos it replaced began, so this lint fails on one.
  * Allowed: the scratch directory registry and the bench listener's
  * per-stage state, neither of which stores artifacts. */
class NoMemoLintSpec extends AnyFunSuite {

  private val field =
    """\b(?:val|var)\s+(\w+)[^=]*=\s*(?:new\s+)?[\w.]*\b(?:TrieMap|ConcurrentHashMap)\b""".r

  private val cache = "graft/ArtifactCache.scala"
  private val allowed = Map(
    "graft/tools/Scratch.scala" -> Set("reusable"),
    "graft/tools/ScaleBench.scala" -> Set("perStage", "stageNames"))

  private def fields(source: String): Seq[String] =
    field.findAllMatchIn(source).map(_.group(1)).toSeq

  test("the lint pattern finds a memo field, however it is declared") {
    assert(fields(
      """private val frameMemo =
        |    new scala.collection.concurrent.TrieMap[(SparkSession, String), DataFrame]""".stripMargin)
      == Seq("frameMemo"))
    assert(fields("private val bookMemo = new java.util.concurrent.ConcurrentHashMap[String, B]()")
      == Seq("bookMemo"))
    assert(fields("val m: TrieMap[String, Int] = TrieMap.empty") == Seq("m"))
  }

  test("no concurrent-map field in src/main outside ArtifactCache") {
    val root = Paths.get("src/main/scala")
    val files = Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty, s"no sources under ${root.toAbsolutePath}")
    val offenders = files.flatMap { f: Path =>
      val rel = root.relativize(f).toString
      if (rel == cache) Nil
      else fields(new String(Files.readAllBytes(f), "UTF-8"))
        .filterNot(allowed.getOrElse(rel, Set.empty[String])).map(n => s"$rel: $n")
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}

package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The operator surface is the surface the registered queries reach:
  * every public or `private[graft]` member of a `graft.operators` object
  * or of `functions.Aggregators` is named somewhere else in `src/main`
  * (a query, a main, or another operator). A member that only a spec
  * calls is deleted with its spec, or listed in `testOnly` with its
  * reason; an allowlisted name must stay named by some other spec, so
  * deleting its last spec flags it too.
  */
class RegisteredSurfaceSpec extends AnyFunSuite {

  /** Members only specs call, on purpose. */
  private val testOnly = Map(
    "wordGrams" -> "the reference the native word_grams is checked against",
    "docMargins" -> "brute-force input for the eval-family specs",
    "lshBucket" -> "Column reference for the fused native bucket form",
    "neardupBucket" -> "Column reference for the fused native bucket form",
    "embeddingNearDupExact" -> "O(n^2) ground truth for the near-dup specs",
    "requireFresh" -> "the staleness check GovernanceSpec and MatchingSpec assert directly")

  // comments and string/char literals: a scaladoc mention keeps nothing
  // alive, and braces inside literals do not count toward nesting
  private val Literal =
    """//[^\n]*|"{3}[\s\S]*?"{3,}|"(?:\\.|[^"\\\n])*"|'(?:\\.|[^'\\\n])'|/\*[\s\S]*?\*/""".r
  private val Decl = ("""\b((?:(?:private|protected)(?:\[\w+\])?\s+|override\s+|final\s+|""" +
    """implicit\s+|lazy\s+|sealed\s+|abstract\s+|case\s+)*)(def|val|var|object|class|trait|type)""" +
    """\s+([A-Za-z_]\w*)""").r
  private val Ident = """[A-Za-z_]\w*""".r

  private def code(p: Path): String =
    Literal.replaceAllIn(Files.readString(p), m => " " + "\n" * m.matched.count(_ == '\n'))

  test("drift guard: every operator API is named somewhere else in src/main") {
    def sources(dir: String): List[(Path, String)] = {
      val root = Paths.get(dir)
      assert(Files.isDirectory(root), s"${root.toAbsolutePath} not found")
      Files.walk(root).iterator.asScala
        .filter(_.toString.endsWith(".scala")).map(p => p -> code(p)).toList
    }
    val files = sources("src/main/scala")
    val all = files.map(_._2).mkString("\n")
    val named = Ident.findAllIn(all).toSeq.groupMapReduce(identity)(_ => 1)(_ + _)
    val declared = Decl.findAllMatchIn(all).toSeq.groupMapReduce(_.group(3))(_ => 1)(_ + _)
    def namedElsewhere(name: String): Boolean = named(name) > declared(name)

    val orphans = files.flatMap { case (p, text) =>
      val inOperators = p.getParent.getFileName.toString == "operators"
      val isAggregators = p.getFileName.toString == "Aggregators.scala"
      val depth = text.scanLeft(0)((d, c) => if (c == '{') d + 1 else if (c == '}') d - 1 else d)
      var owner: Option[String] = None // the top-level object being read
      Decl.findAllMatchIn(text).flatMap { m =>
        val mods = m.group(1)
        depth(m.start) match {
          case 0 =>
            owner = Some(m.group(3)).filter(o => m.group(2) == "object" &&
              (inOperators || (isAggregators && o == "Aggregators")))
            None
          case 1 if owner.isDefined && !namedElsewhere(m.group(3)) &&
              (!mods.contains("private") || mods.contains("private[graft]")) &&
              !Seq("protected", "implicit", "override").exists(mods.contains) =>
            val line = text.substring(0, m.start).count(_ == '\n') + 1
            Some(m.group(3) -> s"$p:$line: ${owner.get}.${m.group(3)}")
          case _ => None
        }
      }.toList
    }
    val unlisted = orphans.filterNot { case (name, _) => testOnly.contains(name) }
    if (unlisted.nonEmpty) fail("operator members no registered query reaches — register a " +
      "query, delete them with their specs, or allowlist them with a reason:\n" +
      unlisted.map(_._2).mkString("\n"))
    val stale = testOnly.keySet -- orphans.map(_._1)
    if (stale.nonEmpty) fail(s"allowlisted but now named in src/main (drop them from testOnly): $stale")
    val specNamed = sources("src/test/scala")
      .filterNot(_._1.getFileName.toString == "RegisteredSurfaceSpec.scala")
      .flatMap { case (_, text) => Ident.findAllIn(text) }.toSet
    val unused = testOnly.keySet -- specNamed
    if (unused.nonEmpty) fail("allowlisted but named by no spec — delete them from src/main " +
      s"and from testOnly: $unused")
  }
}

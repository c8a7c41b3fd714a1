package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import org.scalatest.funsuite.AnyFunSuite

/** The operator surface is the surface the registered queries reach:
  * every public or `private[graft]` member of a `graft.operators` object
  * or of `functions.Aggregators` is named somewhere else in `src/main`
  * (a query, a main, or another operator). A member that only a spec
  * calls is deleted with its spec, or listed in `testOnly` with its
  * reason; an allowlisted name must stay named by some other spec, so
  * deleting its last spec flags it too. Likewise an operator parameter
  * with a default exists only where some caller in `src/main` or
  * `src/test` passes it; a value no caller varies is a constant in the
  * body. Some expressions have one home each: `spark_partition_id` is
  * only in `Scale.rangePrefixSums`, the 13-digit md5 coin only in
  * `Scale.hexFraction`, the centroid structs only in
  * `Similarity.assignCells` and `probeCellsExpr`, the md5-ordered
  * coreset draw only in `Similarity.md5Coreset`, the shingle-set
  * intersection only in `Dedup.verifyOverlap` (called only by the
  * candidate generators and the prefix-filter joins, never by a
  * pair-index rider), the df-ranked gram
  * order only in `Dedup.rarestPrefix`, the per-query and per-anchor rank
  * window only in `Similarity.rankTopK` and the served rank column only
  * in `servedTopK`, the A/B arm coin only in
  * `Events.userArm`, the per-arm sum only in `Events.armSum`, the
  * per-user time to conversion only in `Events.timeToConversion`, the
  * median order-statistic ranks only in `Events.medianOrderStats`, the
  * classifier's weight join only in `Curation.margins` and its micro-unit
  * sigmoid only in `Curation.microSigmoid`, and the bag-of-words index
  * only in `TextAnalysis`: the space tokenizer in `tokens`, the
  * per-(document, token) count in `termFrequencies`, the ln(N/df) weight
  * in `tfidfWeights` and the BM25 seed query in `Bm25SeedQuery`, and the
  * count series only in `Events`' kernel: the ts-bucket count in
  * `bucketCounts`, the zero-filled calendar in `zeroFilled`, the integer
  * centring in `centred`, the lag join in `lagProducts` and the CUSUM
  * numerator in `changepointBest`.
  */
class RegisteredSurfaceSpec extends AnyFunSuite {

  /** Members only specs call, on purpose. */
  private val testOnly = Map(
    "wordGrams" -> "the reference the native word_grams is checked against",
    "lshBucket" -> "Column reference for the fused native bucket form",
    "neardupBucket" -> "Column reference for the fused native bucket form",
    "embeddingNearDupExact" -> "O(n^2) ground truth for the near-dup specs",
    "requireFresh" -> "the staleness check GovernanceSpec and MatchingSpec assert directly")

  // comments and string/char literals: a scaladoc mention keeps nothing
  // alive, and braces or commas inside literals do not count toward
  // nesting or arguments (a literal leaves ` 0` behind, so it still
  // counts as an argument)
  private val Literal =
    """//[^\n]*|"{3}[\s\S]*?"{3,}|"(?:\\.|[^"\\\n])*"|'(?:\\.|[^'\\\n])'|/\*[\s\S]*?\*/""".r
  private val Decl = ("""\b((?:(?:private|protected)(?:\[\w+\])?\s+|override\s+|final\s+|""" +
    """implicit\s+|lazy\s+|sealed\s+|abstract\s+|case\s+)*)(def|val|var|object|class|trait|type)""" +
    """\s+([A-Za-z_]\w*)""").r
  private val Ident = """[A-Za-z_]\w*""".r

  private def code(p: Path, keepLiterals: Boolean): String =
    Literal.replaceAllIn(Files.readString(p), m =>
      if (keepLiterals && !m.matched.startsWith("/")) Regex.quoteReplacement(m.matched)
      else (if (m.matched.startsWith("/")) " " else " 0") + "\n" * m.matched.count(_ == '\n'))

  private def sources(dir: String, keepLiterals: Boolean = false): List[(Path, String)] = {
    val root = Paths.get(dir)
    assert(Files.isDirectory(root), s"${root.toAbsolutePath} not found")
    Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).map(p => p -> code(p, keepLiterals)).toList
  }

  test("drift guard: every operator API is named somewhere else in src/main") {
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

  // a member of a top-level object: its `def` or `val` line is indented two spaces
  private val Member = """(?m)^  (?:[\w\[\]]+[ \t]+)*(?:def|val)\s+([A-Za-z_]\w*)""".r

  /** Where `needle` matches in `files` outside the members `homes` (a local
    * `def` inside a member counts as that member).
    */
  private def strays(files: List[(Path, String)], needle: Regex,
      homes: Set[String]): List[String] =
    for {
      (p, text) <- files
      m <- needle.findAllMatchIn(text).toList
      owner = Member.findAllMatchIn(text.substring(0, m.start)).toSeq.lastOption.map(_.group(1))
      if !owner.exists(homes)
    } yield s"$p:${text.substring(0, m.start).count(_ == '\n') + 1}: " +
      s"`${m.matched.linesIterator.next()}` in ${owner.getOrElse("?")}, " +
      s"not in ${homes.mkString(" / ")}"

  test("drift guard: one distributed prefix sum and one md5 coin in src/main") {
    // each expression has one home; a copy anywhere else is hand-rolled
    // machinery to move back onto the helper
    val files = sources("src/main/scala")
    val offenders =
      strays(files, """spark_partition_id\s*\(""".r, Set("rangePrefixSums")) ++
        strays(files, """math\.pow\(\s*16(?:\.0)?\s*,\s*13\s*\)""".r, Set("hexFraction"))
    if (offenders.nonEmpty) fail("call the helper in Scale instead:\n" + offenders.mkString("\n"))
  }

  test("drift guard: one k-means/IVF argmin and one md5 coreset in src/main") {
    // the centroid structs feed only the argmin and the probe lists, and a
    // coreset draw (rows ordered by md5 of vec_id) happens only in
    // md5Coreset; the coreset needle reads string literals, so comments
    // alone are stripped for it
    val offenders =
      strays(sources("src/main/scala"), """(?<!def )\bcellStructs\s*\(""".r,
        Set("assignCells", "probeCellsExpr")) ++
        strays(sources("src/main/scala", keepLiterals = true),
          ("""(?s)orderBy\(\s*md5\(\s*(?:concat\(\s*)?\$"vec_id"""" +
            """|md5\(\s*(?:concat\(\s*)?\$"vec_id".{0,160}?\.orderBy\(""").r,
          Set("md5Coreset"))
    if (offenders.nonEmpty) fail("call the kernel in Similarity instead:\n" +
      offenders.mkString("\n"))
  }

  test("drift guard: one set-overlap verifier and one rarest-gram prefix in src/main") {
    // candidate pairs meet their shingle arrays and count the intersection
    // only in Dedup's verifier, and the df-ranked gram order is computed
    // only in the prefix helper; a second copy is a generator that grew
    // its own verify join or its own ranking; the df needle reads the
    // `$"h"` literal, so comments alone are stripped for it
    val offenders =
      strays(sources("src/main/scala"), """(?<!def )\bsorted_intersect_count\s*\(""".r,
        Set("verifyOverlap")) ++
        strays(sources("src/main/scala", keepLiterals = true),
          ("""count\(\s*lit\(\s*1\s*\)\s*\)\s*\.over\(\s*""" +
            """(?:[\w.]+\.)?Window\.partitionBy\(\s*\$"h"\s*\)""").r, Set("rarestPrefix"))
    if (offenders.nonEmpty) fail("call the helper in Dedup instead:\n" + offenders.mkString("\n"))
  }

  test("drift guard: pair-index riders read the index, never re-shingle its pairs") {
    // candidate slices are shingled only by the two candidate generators,
    // and overlaps are verified only there and in the two prefix-filter
    // joins; a pairIndex consumer needing |A∩B| or a set size reads the
    // index's i, sz1 and sz2 instead of rebuilding them
    val files = sources("src/main/scala")
    val generators = Set("minhashLshPairsUnordered", "incrementalNearDupPairs")
    val offenders =
      strays(files, """(?<!def )\bcandidateSets\s*\(""".r, generators) ++
        strays(files, """(?<!def )\bverifyOverlap\s*\(""".r,
          generators ++ Set("ngramJaccardPairs", "containmentDiscover"))
    if (offenders.nonEmpty) fail("read Dedup's pair index instead of re-verifying:\n" +
      offenders.mkString("\n"))
  }

  test("drift guard: one A/B arm kernel in src/main") {
    // every two-arm readout takes its arm from the one md5 coin column and
    // sums per arm through armSum; srmCheck's signed difference over its
    // two arm rows is the one other arm predicate; both needles read the
    // `$"user_id"` / `$"arm"` literals, so comments alone are stripped
    val files = sources("src/main/scala", keepLiterals = true)
    val offenders =
      strays(files, """md5SlicePos\(\s*(?:\$"user_id"|col\("user_id"\))\s*,\s*0\s*,\s*2\s*\)""".r,
        Set("userArm")) ++
        strays(files, """when\(\s*(?:\$"arm"|col\("arm"\))\s*===""".r, Set("armSum", "srmCheck"))
    if (offenders.nonEmpty) fail("use the A/B kernel in Events instead:\n" +
      offenders.mkString("\n"))
  }

  test("drift guard: one quality-classifier scorer and one time-to-event and median-CI frame") {
    // the trained weight vector meets feature counts only in Curation's
    // margins and the sigmoid is quantized only in microSigmoid; Events
    // builds the censored per-user time to conversion only in
    // timeToConversion and picks median order statistics only in
    // medianOrderStats; the needles read the `"wm"`, `$"cc"` and
    // interpolated-string literals, so comments alone are stripped
    val files = sources("src/main/scala", keepLiterals = true)
    val offenders =
      strays(files, """toDF\(\s*"b"\s*,\s*"wm"\s*\)""".r, Set("margins")) ++
        strays(files, """lit\(\s*1e6\s*\)\s*/\s*\(\s*lit\(\s*1\.0\s*\)\s*\+\s*exp\(""".r,
          Set("microSigmoid")) ++
        strays(files, """\(\s*mx\s*-\s*s_ts\s*\)\s*div""".r, Set("timeToConversion")) ++
        strays(files, """min\(\s*when\(\s*\$"cc"\s*>=""".r, Set("medianOrderStats"))
    if (offenders.nonEmpty) fail("use the shared kernel in Curation / Events instead:\n" +
      offenders.mkString("\n"))
  }

  test("drift guard: one per-query top-k ranker and one served shape in src/main") {
    // a rank window partitioned by query or anchor lives only in
    // Similarity.rankTopK, and the served rnk:int column only in servedTopK;
    // both needles read string literals, so comments alone are stripped
    val files = sources("src/main/scala", keepLiterals = true)
    val offenders =
      strays(files, """Window\.partitionBy\(\s*(?:\$|col\(\s*)?"(?:query_id|anchor_id)"""".r,
        Set("rankTopK")) ++
        strays(files, """"rnk"\s*\)?\s*\.cast\(\s*"int"\s*\)""".r, Set("servedTopK"))
    if (offenders.nonEmpty) fail("rank through Similarity.rankTopK / servedTopK instead:\n" +
      offenders.mkString("\n"))
  }

  test("drift guard: one bag-of-words index in TextAnalysis") {
    // a space split, a per-(document, token) count, a tf-idf weight or the
    // BM25 seed terms anywhere else is a hand-copied index; the needles
    // read string literals, so comments alone are stripped
    val files = sources("src/main/scala", keepLiterals = true)
    val offenders =
      strays(files, """(?<![\w.])split\([^\n]*?,\s*" "\s*\)""".r, Set("tokens")) ++
        strays(files, ("""groupBy\(\s*\$"(?:doc_id"\s*,\s*\$"(?:term|tok|token|w)|""" +
          """(?:term|tok|token|w)"\s*,\s*\$"doc_id)"\s*\)""").r, Set("termFrequencies")) ++
        strays(files, """log\(\s*(?:\$"n_docs"|col\("n_docs"\))\s*/""".r,
          Set("tfidfWeights")) ++
        strays(files, """"table"\s*,\s*"data"\s*,\s*"row"""".r, Set("Bm25SeedQuery"))
    if (offenders.nonEmpty) fail("read the bag-of-words index in TextAnalysis instead:\n" +
      offenders.mkString("\n"))
  }

  test("drift guard: one count-series kernel in Events") {
    // a ts-bucket count, a [d0, d1] calendar, an n·x − Σx centring, a lag
    // join or a CUSUM numerator anywhere else is a hand-copied series
    // step; the needles read string literals, so comments alone are
    // stripped
    val files = sources("src/main/scala", keepLiterals = true)
    val col = """(?:\$"\w+"|col\([^()]*\))"""
    val offenders =
      strays(files, """groupBy\([^\n]*ts div""".r, Set("bucketCounts")) ++
        strays(files, """sequence\(\s*(?:\$"|col\("|")?[dh]0\b""".r, Set("zeroFilled")) ++
        strays(files, s"""\\(\\s*$col\\s*\\*\\s*$col\\s*-\\s*$col\\s*\\)""".r, Set("centred")) ++
        strays(files, """\+\s*(?:\$"|col\(")(?:lag|k)"""".r, Set("lagProducts")) ++
        strays(files, """abs\(\s*\$"t"\s*\*\s*\$"sk"""".r, Set("changepointBest"))
    if (offenders.nonEmpty) fail("use the count-series kernel in Events instead:\n" +
      offenders.mkString("\n"))
  }

  /** Index one past the bracket that closes `text(open)`. */
  private def close(text: String, open: Int): Int = {
    var depth = 0
    var i = open
    do {
      val c = text(i)
      if ("([{".contains(c)) depth += 1 else if (")]}".contains(c)) depth -= 1
      i += 1
    } while (depth > 0)
    i
  }

  /** The non-blank top-level comma-separated pieces of `text(from until until)`. */
  private def pieces(text: String, from: Int, until: Int): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0
    var start = from
    for (i <- from until until) text(i) match {
      case '(' | '[' | '{' => depth += 1
      case ')' | ']' | '}' => depth -= 1
      case ',' if depth == 0 => out += text.substring(start, i); start = i + 1
      case _ =>
    }
    out += text.substring(start, until)
    out.result().filter(_.trim.nonEmpty)
  }

  /** The argument lists that follow `at` (type arguments skipped). */
  private def argLists(text: String, at: Int): List[Seq[String]] = {
    var i = at
    def skipBlanks(): Unit = while (i < text.length && " \t".contains(text(i))) i += 1
    skipBlanks()
    if (i < text.length && text(i) == '[') i = close(text, i)
    val lists = List.newBuilder[Seq[String]]
    while (i < text.length && text(i) == '(') {
      val end = close(text, i)
      lists += pieces(text, i + 1, end - 1)
      i = end
      skipBlanks()
    }
    lists.result()
  }

  private val Def = """\bdef\s+([A-Za-z_]\w*)""".r
  // a name, with its `def` keyword when it is the name being declared
  private val Name = """(\bdef\s+)?(?<![\w$])([A-Za-z_]\w*)""".r
  private val Param = """(?s)\s*(?:implicit\s+)?([A-Za-z_]\w*)\s*:(.*)""".r
  private val Label = """(?s)\s*([A-Za-z_]\w*)\s*=(?![=>]).*""".r

  /** Whether a parameter's text after its `:` carries a default (`=` at the top level). */
  private def hasDefault(afterColon: String): Boolean = {
    var depth = 0
    afterColon.indices.exists { i =>
      afterColon(i) match {
        case '(' | '[' | '{' => depth += 1; false
        case ')' | ']' | '}' => depth -= 1; false
        case '=' => depth == 0 && !"=!<>".contains(afterColon.lift(i - 1).getOrElse(' ')) &&
            !"=>".contains(afterColon.lift(i + 1).getOrElse(' '))
        case _ => false
      }
    }
  }

  test("drift guard: every defaulted operator parameter is passed by some caller") {
    // (member, list, index, param, where) of every defaulted parameter of a
    // member of a top-level definition in graft.operators
    val defaulted = sources("src/main/scala/graft/operators").flatMap { case (p, text) =>
      val depth = text.scanLeft(0)((d, c) => if (c == '{') d + 1 else if (c == '}') d - 1 else d)
      Def.findAllMatchIn(text).filter(m => depth(m.start) == 1).flatMap { m =>
        val line = text.substring(0, m.start).count(_ == '\n') + 1
        argLists(text, m.end).zipWithIndex.flatMap { case (params, li) =>
          params.zipWithIndex.collect { case (Param(name, rest), pi) if hasDefault(rest) =>
            (m.group(1), li, pi, name, s"$p:$line")
          }
        }
      }
    }
    assert(defaulted.nonEmpty)
    val members = defaulted.map(_._1).toSet
    // every call of a member's name, as its argument lists: same-named
    // members share their calls, which can only keep a parameter
    val calls = (sources("src/main/scala") ++ sources("src/test/scala")).flatMap { case (_, text) =>
      Name.findAllMatchIn(text).filter(m => m.group(1) == null && members(m.group(2)))
        .map(m => m.group(2) -> argLists(text, m.end))
    }.groupMap(_._1)(_._2)
    val unset = defaulted.filterNot { case (member, li, pi, name, _) =>
      calls.getOrElse(member, Nil).exists(_.lift(li).exists { args =>
        args.takeWhile(!Label.matches(_)).length > pi ||
          args.exists { case Label(label) => label == name; case _ => false }
      })
    }
    if (unset.nonEmpty) fail("defaulted operator parameters no caller in src/main or src/test " +
      "passes — make each value a constant in the body:\n" +
      unset.map { case (member, _, _, name, where) => s"$where: $member($name)" }.mkString("\n"))
  }
}

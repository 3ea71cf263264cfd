package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Every public or `private[graft]` member of a top-level object in
  * `src/main` must have a caller in `src/main`. Code that only specs
  * reach is deleted together with those specs; the few members kept
  * without a production caller are listed below with the reason they
  * stay.
  *
  * A caller is resolved through the object, not by the member's name
  * alone (see [[PublicCallerScan]]), so two objects that each define a
  * member of the same name do not vouch for each other, and a name
  * inside a string literal is no caller. */
class PublicCallerScanSpec extends AnyFunSuite {
  import PublicCallerScan._

  /** `Object.member` → why it stays without a `src/main` caller. */
  private val allowlist: Map[String, String] = Map(
    "SparkEntry.entry" ->
      "harness entry point: the driver calls it by name (flagship smoke query)",
    "Similarity.cosineNearDupPairs" ->
      ("reference implementation: the exhaustive all-pairs baseline that " +
        "TrainingOpsSpec and KMeansSpec compare the LSH and SemDedup pairs against"),
    "Bpe.encodeWord" ->
      ("reference implementation: the per-word segmentation BpeSpec compares " +
        "the native BpeEncode column form against"),
    "Snapshots.setCommitPublisher" ->
      ("the commit-publish seam: lets the race specs substitute a CAS or " +
        "object-store publisher for the hard-link default"),
    "ObjectStoreCommitPublisher.rooted" ->
      ("the conditional-PUT publisher the object-store race specs and " +
        "RacePutMain install through setCommitPublisher"),
    "Pipelines.ingest" ->
      ("the reference ETL's stage 1 (landing JSON → bronze): the library's " +
        "batch entry point, run by perfbench's etl_batch and PipelineIntegrationSpec"),
    "Pipelines.flatten" ->
      ("the reference ETL's stage 2 (bronze → silver): the library's " +
        "batch entry point, run by perfbench's etl_batch and PipelineIntegrationSpec"),
    "Pipelines.recap" ->
      ("the reference ETL's stage 3 (silver → nested daily gold): the library's " +
        "batch entry point, run by perfbench's etl_batch and PipelineIntegrationSpec"),
    "Sources.landedJson" ->
      ("the reference ETL's landing read (landing JSON → observations for " +
        "Pipelines.ingest): the library's batch entry point, run by perfbench's " +
        "etl_batch and PipelineIntegrationSpec"),
    "GraftSession.create" ->
      ("the specs' shared session (SparkSpec), built by the same builder as the " +
        "mains' GraftSession.fromEnv so specs run on the mains' session settings"))

  private lazy val sources: Map[String, String] = {
    val root = Paths.get("src/main")
    Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      .map((f: Path) => f.toString -> Files.readString(f)).toMap
  }

  private lazy val members: Seq[(String, String)] = scannedMembers(sources)
  private lazy val missing: Set[String] = uncalled(sources)

  test("the scan sees the library's public surface") {
    // a broken parse would find nothing and pass vacuously
    val names = members.map(_._2).toSet
    assert(names.size > 400, s"only ${names.size} members found")
    assert(Set("Pipelines.ingest", "Sinks.upsertPartitions", "Snapshots.commit",
      "Snapshots.reconciledScan").subsetOf(names))
  }

  test("every public member has a src/main caller or an allowlisted reason") {
    val outside = missing -- allowlist.keySet
    assert(outside.isEmpty,
      s"members with no src/main caller: ${outside.toSeq.sorted.mkString(", ")} — " +
        "delete them with the specs that only exercise them, or allowlist them with a reason")
  }

  test("the allowlist has no stale entries and names a reason for each") {
    allowlist.toSeq.sorted.foreach { case (name, why) => info(s"$name: $why") }
    assert(allowlist.values.forall(_.trim.nonEmpty))
    val stale = allowlist.keySet -- missing
    assert(stale.isEmpty,
      s"allowlisted members that now have a caller or no longer exist: ${stale.toSeq.sorted.mkString(", ")}")
  }

  test("self-test: callers resolve through the object, not the member name") {
    def src(body: String) = s"package p\n\n$body\n"
    val scanned = uncalled(Map(
      // two objects sharing a member name that nothing calls: a name
      // match would take each definition for a use of the other
      "C.scala" -> src("object C {\n  def twin: Int = 1\n}"),
      "D.scala" -> src("object D {\n  def twin: Int = 2\n  def other: Int = C.hashCode\n}"),
      "E.scala" -> src(
        "import p.{Aliased => AL}\nimport p.Wild._\nimport p.Picked.{kept, renamed => rn}\n" +
          "object E {\n  def run(): Int = AL.viaAlias + viaWildcard + kept + rn + Companion(1) +\n" +
          "    Picked.twin + D.other\n}"),
      "F.scala" -> src(
        "object Aliased {\n  def viaAlias: Int = 1\n  def unused: Int = 2\n}\n" +
          "object Wild {\n  def viaWildcard: Int = 1\n}\n" +
          "object Picked {\n  def kept: Int = 1\n  def renamed: Int = 2\n  def twin: Int = 3\n" +
          "  def notImported: Int = 4\n}"),
      "G.scala" -> src(
        "class Companion(x: Int) {\n  def y: Int = Companion.helper(x)\n}\n" +
          "object Companion {\n  def helper(x: Int): Int = x\n  def apply(x: Int): Int = x\n}\n" +
          "object Unused {\n  def notImported: Int = 0\n}"),
      "H.scala" -> src("// Picked.notImported in a comment is no caller\n" +
        "import p.Picked.{kept}\nobject H {\n  def z: Int = kept + notImported\n}"),
      // names in string text are no callers; splices are code
      "I.scala" -> src(
        "import p.Spliced.bareSplice\n" +
          "object I {\n  def msg(n: Int): String =\n" +
          "    s\"use Quoted.inText or ${Spliced.inBraces(n)}, not $bareSplice\" + " +
          "\"Quoted.inPlain\" +\n" +
          "      \"\"\"Quoted.inTriple\"\"\" + s\"\"\"${Spliced.tripleSplice}\"\"\"\n}"),
      "J.scala" -> src(
        "object Quoted {\n  def inText: Int = 1\n  def inPlain: Int = 2\n  def inTriple: Int = 3\n}\n" +
          "object Spliced {\n  def inBraces(n: Int): Int = n\n  def bareSplice: Int = 1\n" +
          "  def tripleSplice: Int = 2\n}"),
      // package-private members are scanned like public ones
      "K.scala" -> src(
        "object Hidden {\n  private[graft] def uncalled: Int = 1\n" +
          "  private[graft] def called: Int = 2\n  private def own: Int = 3\n}\n" +
          "object L {\n  def z: Int = Hidden.called\n}")))
    assert(scanned.contains("C.twin") && scanned.contains("D.twin"),
      "objects sharing a member name do not vouch for each other")
    assert(!scanned.contains("Aliased.viaAlias"), "an import alias resolves to the object")
    assert(scanned.contains("Aliased.unused"))
    assert(!scanned.contains("Wild.viaWildcard"), "a wildcard import brings every member")
    assert(!scanned.contains("Picked.kept") && !scanned.contains("Picked.renamed"),
      "a selector import (plain or renamed) brings the named members")
    assert(!scanned.contains("Picked.twin"))
    assert(scanned.contains("Picked.notImported"),
      "a bare name in a file that imports other members of the object is no caller")
    assert(scanned.contains("Unused.notImported"))
    assert(!scanned.contains("Companion.helper"), "a use in the defining file counts")
    assert(!scanned.contains("Companion.apply"), "Obj(…) calls apply")
    assert(!scanned.contains("D.other"))
    assert(scanned.contains("Quoted.inText") && scanned.contains("Quoted.inPlain") &&
      scanned.contains("Quoted.inTriple"), "a name inside a string literal is no caller")
    assert(!scanned.contains("Spliced.inBraces") && !scanned.contains("Spliced.tripleSplice"),
      "a ${…} splice is code")
    assert(!scanned.contains("Spliced.bareSplice"), "a $name splice is code")
    assert(scanned.contains("Hidden.uncalled"), "private[graft] members are scanned")
    assert(!scanned.contains("Hidden.called") && !scanned.contains("Hidden.own"))
  }
}

/** The caller scan, over a map of file → source text.
  *
  * A scanned member `Obj.m` (a public or `private[graft]` `def`,
  * `val`, `var`, nested `object`, class or type at the object's top
  * level; overrides and `private` members are skipped) has a caller
  * when, with comments and the text of string literals blanked (the
  * splices of an interpolated string are kept: they are code):
  *   - another file names it through the object: `Obj.m` (any package
  *     prefix), or `A.m` after `import …{Obj => A}`;
  *   - another file imports the object's members (`Obj._`,
  *     `Obj.{…, m}`, `Obj.{m => n}`, `Obj.m`) and uses the name (`m`,
  *     or `n`) outside an import, not as a selection `x.m`;
  *   - any file calls `Obj(…)`, for `apply`;
  *   - it is a `main`: the JVM calls it;
  *   - its own file uses it a second time, as a bare `m` or as
  *     `Obj.m` — which covers the object's own body and companion
  *     classes. A use that selects the name from another object
  *     (`Other.m`) does not count. */
object PublicCallerScan {
  private val ident = "[A-Za-z_][A-Za-z0-9_]*".r
  private val objectStart = "^(?:private\\[\\w+\\]\\s+|case\\s+)*object\\s+(\\w+)".r
  private val member = ("^  (?:@\\w+\\s+)*" +
    "(?:private\\[graft\\]\\s+|final\\s+|implicit\\s+|lazy\\s+)*" +
    "(?:def|val|var|object|case\\s+class|class|trait|type)\\s+([A-Za-z_][A-Za-z0-9_]*)").r
  private val importStmt = "(?m)^[ \\t]*import\\s+([\\w.]+)(\\{[^}]*\\})?".r

  /** The source as code only: comments and the text of string and
    * character literals are blanked (newlines kept), so a member named
    * in an error message is no caller. The splices of an interpolated
    * string (`${…}`, `$name`) stay, because they are code. */
  private def codeOnly(src: String): String = {
    val out = new StringBuilder(src.length)
    var i = 0
    def at(s: String) = src.startsWith(s, i)
    def blank(n: Int): Unit = {
      (i until math.min(src.length, i + n)).foreach(j => out += (if (src(j) == '\n') '\n' else ' '))
      i += n
    }
    def keep(n: Int): Unit = { out ++= src.substring(i, math.min(src.length, i + n)); i += n }
    // a string literal from its opening quote; `interp` keeps its splices
    def string(triple: Boolean, interp: Boolean): Unit = {
      val quote = if (triple) "\"\"\"" else "\""
      keep(quote.length)
      var open = true
      while (open && i < src.length) {
        if (at(quote)) { keep(quote.length); open = false }
        else if (!triple && src(i) == '\n') open = false
        else if (!triple && src(i) == '\\') blank(2)
        else if (interp && at("$$")) blank(2)
        else if (interp && at("${")) { keep(2); code(inSplice = true); keep(1) }
        else if (interp && src(i) == '$' && i + 1 < src.length &&
            (src(i + 1).isLetter || src(i + 1) == '_')) {
          var j = i + 1
          while (j < src.length && (src(j).isLetterOrDigit || src(j) == '_')) j += 1
          keep(j - i)
        } else blank(1)
      }
    }
    // code up to the end, or inside a splice up to (not past) its closing `}`
    def code(inSplice: Boolean): Unit = {
      var depth = 0
      var done = false
      while (!done && i < src.length) {
        val interp = i > 0 && (src(i - 1).isLetterOrDigit || src(i - 1) == '_')
        if (at("//")) {
          while (i < src.length && src(i) != '\n') i += 1
        } else if (at("/*")) {
          var d = 0
          while (i < src.length && (d > 0 || at("/*"))) {
            if (at("/*")) { d += 1; i += 2 }
            else if (at("*/")) { d -= 1; i += 2 }
            else { if (src(i) == '\n') out += '\n'; i += 1 }
          }
        } else if (at("\"\"\"")) string(triple = true, interp)
        else if (src(i) == '"') string(triple = false, interp)
        else if (src(i) == '\'' && i + 2 < src.length && src(i + 2) == '\'') {
          keep(1); blank(1); keep(1)
        } else if (at("'\\") && i + 3 < src.length && src(i + 3) == '\'') {
          keep(1); blank(2); keep(1)
        } else if (inSplice && src(i) == '}' && depth == 0) done = true
        else {
          if (inSplice && src(i) == '{') depth += 1
          if (inSplice && src(i) == '}') depth -= 1
          keep(1)
        }
      }
    }
    code(inSplice = false)
    out.toString
  }

  /** One file, parsed once: what it imports, and the names its code
    * (imports blanked) uses bare, selects from a qualifier, or applies. */
  private final case class Parsed(
      aliases: Map[String, Set[String]], // object → names it is imported as (itself included)
      wildcards: Set[String], // objects whose members are all imported
      picked: Map[String, Map[String, String]], // object → member → local name
      bare: Map[String, Int], // name → uses not written as a selection `x.name`
      selected: Set[(String, String)], // (qualifier, name) for every `qualifier.name`
      applied: Set[String]) { // names followed by `(`

    def selects(obj: String, name: String): Boolean =
      aliases.getOrElse(obj, Set(obj)).exists(o => selected((o, name)))

    def calls(obj: String): Boolean = aliases.getOrElse(obj, Set(obj)).exists(applied)

    def imports(obj: String, name: String): Option[String] =
      if (wildcards(obj)) Some(name) else picked.get(obj).flatMap(_.get(name))
  }

  private def parse(src: String): Parsed = {
    val stripped = codeOnly(src)
    val aliases = scala.collection.mutable.Map.empty[String, Set[String]]
    val wildcards = scala.collection.mutable.Set.empty[String]
    val picked = scala.collection.mutable.Map.empty[String, Map[String, String]]
    importStmt.findAllMatchIn(stripped).foreach { m =>
      val (path, selectors) = Option(m.group(2)) match {
        case Some(braces) =>
          (m.group(1).stripSuffix("."), braces.drop(1).dropRight(1).split(',').map(_.trim).toSeq)
        case None =>
          val p = m.group(1)
          (p.take(math.max(0, p.lastIndexOf('.'))), Seq(p.drop(p.lastIndexOf('.') + 1)))
      }
      val owner = path.split('.').last
      selectors.filter(_.nonEmpty).foreach { sel =>
        val (name, local) = sel.split("=>").map(_.trim) match {
          case Array(n, l) => (n, l)
          case Array(n) => (n, n)
        }
        if (name == "_") wildcards += owner
        else picked(owner) = picked.getOrElse(owner, Map.empty) + (name -> local)
        if (name.headOption.exists(_.isUpper) && local != "_")
          aliases(name) = aliases.getOrElse(name, Set(name)) + local
      }
    }
    val code = importStmt.replaceAllIn(stripped, mm => " " * mm.matched.length)
    val bare = scala.collection.mutable.Map.empty[String, Int]
    val selected = scala.collection.mutable.Set.empty[(String, String)]
    val applied = scala.collection.mutable.Set.empty[String]
    var prev: Option[scala.util.matching.Regex.Match] = None
    ident.findAllMatchIn(code).foreach { m =>
      var j = m.start - 1
      while (j >= 0 && code(j).isWhitespace) j -= 1
      if (j < 0 || code(j) != '.') bare(m.matched) = bare.getOrElse(m.matched, 0) + 1
      else prev.filter(p => code.substring(p.end, m.start).trim == ".")
        .foreach(p => selected += (p.matched -> m.matched))
      var k = m.end
      while (k < code.length && code(k).isWhitespace) k += 1
      if (k < code.length && code(k) == '(') applied += m.matched
      prev = Some(m)
    }
    Parsed(aliases.toMap, wildcards.toSet, picked.toMap, bare.toMap, selected.toSet, applied.toSet)
  }

  /** (file, `Object.member`) for every scanned member of a top-level object. */
  def scannedMembers(sources: Map[String, String]): Seq[(String, String)] =
    sources.toSeq.sortBy(_._1).flatMap { case (file, src) =>
      var obj: Option[String] = None
      codeOnly(src).split("\n").toSeq.flatMap { line =>
        objectStart.findFirstMatchIn(line) match {
          case Some(m) => obj = Some(m.group(1)); None
          case None =>
            if (line.nonEmpty && !line.head.isWhitespace) { obj = None; None }
            else for (o <- obj; m <- member.findFirstMatchIn(line)) yield file -> s"$o.${m.group(1)}"
        }
      }
    }

  /** Every scanned member of a top-level object that has no caller. */
  def uncalled(sources: Map[String, String]): Set[String] = {
    val parsed = sources.map { case (f, s) => f -> parse(s) }
    def hasCaller(file: String, qualified: String): Boolean = {
      val Array(obj, name) = qualified.split('.')
      val own = parsed(file)
      name == "main" ||
        own.bare.getOrElse(name, 0) + (if (own.selects(obj, name)) 1 else 0) > 1 ||
        (name == "apply" && parsed.values.exists(_.calls(obj))) ||
        parsed.exists { case (f, p) =>
          f != file && (p.selects(obj, name) || p.imports(obj, name).exists(p.bare.contains))
        }
    }
    scannedMembers(sources).collect { case (f, q) if !hasCaller(f, q) => q }.toSet
  }
}

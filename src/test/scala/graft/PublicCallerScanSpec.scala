package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Every public member of a top-level object in `src/main` must have a
  * caller in `src/main`: a use of its name in another file, or a
  * second use in its own file (comments do not count). Code that only
  * specs reach is deleted together with those specs; the few members
  * kept without a production caller are listed below with the reason
  * they stay. The scan matches names, not symbols, so a member whose
  * name is also used for something else passes — it finds code with
  * no caller at all, not every dead overload. */
class PublicCallerScanSpec extends AnyFunSuite {

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
        "RacePutMain install through setCommitPublisher"))

  private val ident = "[A-Za-z_][A-Za-z0-9_]*".r
  private val objectStart = "^(?:private\\[\\w+\\]\\s+|case\\s+)*object\\s+(\\w+)".r
  private val member = ("^  (?:@\\w+\\s+)*(?:final\\s+|implicit\\s+|lazy\\s+)*" +
    "(?:def|val|var|object|case\\s+class|class|trait|type)\\s+([A-Za-z_][A-Za-z0-9_]*)").r

  /** The source with comments blanked (newlines kept); string and
    * character literals are kept, so a comment marker inside a string
    * is not taken for a comment. */
  private def stripComments(src: String): String = {
    val out = new StringBuilder(src.length)
    var i = 0
    def at(s: String) = src.startsWith(s, i)
    while (i < src.length) {
      if (at("//")) {
        while (i < src.length && src(i) != '\n') i += 1
      } else if (at("/*")) {
        var depth = 0
        while (i < src.length && (depth > 0 || at("/*"))) {
          if (at("/*")) { depth += 1; i += 2 }
          else if (at("*/")) { depth -= 1; i += 2 }
          else { if (src(i) == '\n') out += '\n'; i += 1 }
        }
      } else if (at("\"\"\"")) {
        val end = src.indexOf("\"\"\"", i + 3)
        val stop = if (end < 0) src.length else end + 3
        out ++= src.substring(i, stop); i = stop
      } else if (src(i) == '"') {
        var j = i + 1
        while (j < src.length && src(j) != '"' && src(j) != '\n') j += (if (src(j) == '\\') 2 else 1)
        val stop = math.min(src.length, j + 1)
        out ++= src.substring(i, stop); i = stop
      } else if (src(i) == '\'' && i + 2 < src.length && src(i + 2) == '\'') {
        out ++= src.substring(i, i + 3); i += 3
      } else if (at("'\\") && i + 3 < src.length && src(i + 3) == '\'') {
        out ++= src.substring(i, i + 4); i += 4
      } else { out += src(i); i += 1 }
    }
    out.toString
  }

  private lazy val sources: Map[String, String] = {
    val root = Paths.get("src/main")
    Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      .map((f: Path) => f.toString -> stripComments(Files.readString(f))).toMap
  }

  /** (file, `Object.member`) for every public member of a top-level object. */
  private lazy val publicMembers: Seq[(String, String)] =
    sources.toSeq.sortBy(_._1).flatMap { case (file, src) =>
      var obj: Option[String] = None
      src.split("\n").toSeq.flatMap { line =>
        objectStart.findFirstMatchIn(line) match {
          case Some(m) => obj = Some(m.group(1)); None
          case None =>
            if (line.nonEmpty && !line.head.isWhitespace) { obj = None; None }
            else for (o <- obj; m <- member.findFirstMatchIn(line)) yield file -> s"$o.${m.group(1)}"
        }
      }
    }

  private lazy val tokenCounts: Map[String, Map[String, Int]] =
    sources.map { case (file, src) =>
      file -> ident.findAllIn(src).toSeq.groupMapReduce(identity)(_ => 1)(_ + _)
    }

  private def hasCaller(file: String, qualified: String): Boolean = {
    val name = qualified.split('.').last
    tokenCounts(file).getOrElse(name, 0) > 1 ||
      tokenCounts.exists { case (f, counts) => f != file && counts.contains(name) }
  }

  private lazy val uncalled: Set[String] =
    publicMembers.collect { case (f, q) if !hasCaller(f, q) => q }.toSet

  test("the scan sees the library's public surface") {
    // a broken parse would find nothing and pass vacuously
    val names = publicMembers.map(_._2).toSet
    assert(names.size > 400, s"only ${names.size} public members found")
    assert(Set("Pipelines.ingest", "Sinks.upsertPartitions", "Snapshots.commit").subsetOf(names))
  }

  test("every public member has a src/main caller or an allowlisted reason") {
    val outside = uncalled -- allowlist.keySet
    assert(outside.isEmpty,
      s"public members with no src/main caller: ${outside.toSeq.sorted.mkString(", ")} — " +
        "delete them with the specs that only exercise them, or allowlist them with a reason")
  }

  test("the allowlist has no stale entries and names a reason for each") {
    allowlist.toSeq.sorted.foreach { case (name, why) => info(s"$name: $why") }
    assert(allowlist.values.forall(_.trim.nonEmpty))
    val stale = allowlist.keySet -- uncalled
    assert(stale.isEmpty,
      s"allowlisted members that now have a caller or no longer exist: ${stale.toSeq.sorted.mkString(", ")}")
  }
}

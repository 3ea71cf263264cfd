package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Library code must not flip a session-wide conf behind its caller:
  * two queries sharing one SparkSession would see each other's
  * toggles, and overlapping save/set/restore pairs can restore in the
  * wrong order. Per-read and per-write options, or a cloned conf, do
  * the same job without touching the session. */
class SessionConfScanSpec extends AnyFunSuite {

  /** Files still allowed to set session conf. `Checkpoints.fusedLoop`
    * turns AQE off around its loop body. */
  private val allowlist = Set("src/main/scala/graft/ops/Checkpoints.scala")

  private def hits: Map[String, Seq[String]] = {
    val root = Paths.get("src/main")
    val files = Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    files.map { (f: Path) =>
      f.toString -> Files.readAllLines(f).asScala.toSeq
        .filter(l => l.contains("conf.set(") || l.contains("conf.unset("))
    }.filter(_._2.nonEmpty).toMap
  }

  test("no conf.set( or conf.unset( in src/main outside the allowlist") {
    val found = hits
    val outside = found -- allowlist
    assert(outside.isEmpty, s"session conf changed outside the allowlist: $outside")
    // an entry whose file no longer sets conf must leave the allowlist
    assert(allowlist.forall(found.contains), s"stale allowlist entries: ${allowlist -- found.keySet}")
  }
}

package graft

import graft.sources.Snapshots
import org.apache.spark.sql.functions._

/** Merge-on-read deletion vectors (r11 verdict item #1): delete
  * visible immediately, time travel shows pre-delete, zero data bytes
  * rewritten, conflict semantics unchanged — plus composition with
  * COW verbs, pruned reads, and incremental reads. */
class SnapshotDvSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): String =
    java.nio.file.Files.createTempDirectory("snapdv").resolve("t").toString

  private def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.select($"id").as[Long].collect().sorted.toSeq

  private def manifestFileLines(t: String, v: Int): Seq[String] =
    java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(t, "_snapshots", f"v$v%08d.txt")).toArray.map(_.toString)
      .filterNot(l => l.isEmpty || Seq("version", "parent", "op", "tag", "ts",
        "schema").exists(k => l.startsWith(k + "=")))
      .toSeq

  private def dataFileSet(t: String): Set[String] = {
    val root = java.nio.file.Paths.get(t, "data")
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p) &&
        p.toString.matches(".*part-.*\\.parquet"))
      .map(_.toString).toSet
  }

  private def threeFileTable(): String = {
    val t = freshTable()
    Snapshots.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "s").coalesce(1), t,
      statsCols = Seq("id"))
    Snapshots.commit(Seq((10L, "c"), (11L, "d")).toDF("id", "s").coalesce(1), t,
      statsCols = Seq("id"))
    Snapshots.commit(Seq((20L, "e"), (21L, "f")).toDF("id", "s").coalesce(1), t,
      statsCols = Seq("id"))
    t
  }

  test("MOR delete: visible immediately, time travel pre-delete, ZERO data bytes rewritten") {
    val t = threeFileTable()
    val filesBefore = dataFileSet(t)
    val v = Snapshots.deleteWhere(spark, t, $"id" === 10L, mode = "mor")
    assert(v == 4)
    assert(ids(Snapshots.read(spark, t)) == Seq(1L, 2L, 11L, 20L, 21L))
    assert(ids(Snapshots.read(spark, t, version = 3)) == Seq(1L, 2L, 10L, 11L, 20L, 21L))
    // the MOR contract itself: no data file written, none removed
    assert(dataFileSet(t) == filesBefore)
    // exactly one line gained a dv part; stats carried verbatim
    val before = manifestFileLines(t, 3).toSet
    val after = manifestFileLines(t, 4)
    assert(after.count(l => l.contains("\tdv:1:")) == 1)
    assert(after.filterNot(_.contains("\tdv:")).toSet.subsetOf(before))
  }

  test("MOR delete with no matches commits nothing and leaves no sidecar") {
    val t = threeFileTable()
    assert(Snapshots.deleteWhere(spark, t, $"id" === 999L, mode = "mor") == -1)
    assert(Snapshots.currentVersion(t) == 3)
    val dvRoot = java.nio.file.Paths.get(t, "_dv")
    import scala.jdk.CollectionConverters._
    val staged = if (!java.nio.file.Files.isDirectory(dvRoot)) Seq.empty
      else java.nio.file.Files.list(dvRoot).iterator().asScala.toSeq
    assert(staged.isEmpty)
  }

  test("NULL-predicate rows survive a MOR delete (SQL DELETE semantics)") {
    val t = freshTable()
    Snapshots.commit(Seq((1L, Option("x")), (2L, None: Option[String]), (3L, Option("x")))
      .map { case (i, o) => (i, o.orNull) }.toDF("id", "s").coalesce(1), t)
    Snapshots.deleteWhere(spark, t, $"s" === "x", mode = "mor")
    assert(ids(Snapshots.read(spark, t)) == Seq(2L))
  }

  test("successive MOR deletes compose; a re-delete is a no-op") {
    val t = threeFileTable()
    Snapshots.deleteWhere(spark, t, $"id" === 10L, mode = "mor")
    Snapshots.deleteWhere(spark, t, $"id".isin(11L, 20L), mode = "mor")
    assert(ids(Snapshots.read(spark, t)) == Seq(1L, 2L, 21L))
    // the twice-hit file's line carries BOTH dv parts
    val lines = manifestFileLines(t, Snapshots.currentVersion(t))
    assert(lines.exists(l => l.split('\t').count(_.startsWith("dv:")) == 2))
    // re-deleting an already-deleted row is a no-op, not a double count
    assert(Snapshots.deleteWhere(spark, t, $"id" === 10L, mode = "mor") == -1)
    assert(Snapshots.read(spark, t).count() == 3L)
  }

  test("pruned reads fold DVs (zone-map path routes through the reconciling scan)") {
    val t = threeFileTable()
    Snapshots.deleteWhere(spark, t, $"id" === 10L, mode = "mor")
    assert(ids(Snapshots.readPruned(spark, t, Seq(("id", 9L, 12L)))) == Seq(11L))
  }

  test("MOR delete aborts loudly when the table advanced past its read version") {
    val t = threeFileTable()
    val e = intercept[java.util.ConcurrentModificationException] {
      Snapshots.deleteWhereMorHook(spark, t, $"id" === 10L,
        () => { Snapshots.commit(Seq((30L, "g")).toDF("id", "s"), t); () })
    }
    assert(e.getMessage.contains("advanced past"))
    // the interloper's append survives; the MOR delete left no mark
    assert(ids(Snapshots.read(spark, t)) == Seq(1L, 2L, 10L, 11L, 20L, 21L, 30L))
  }

  test("COW verbs compose with DVs: merge on a DV-carrying table folds them") {
    val t = threeFileTable()
    Snapshots.deleteWhere(spark, t, $"id" === 10L, mode = "mor")
    // update id=11, insert id=30 — the rewrite scan must not resurrect 10
    Snapshots.mergeInto(spark, t,
      Seq((11L, "D2"), (30L, "g")).toDF("id", "s"), Seq("id"))
    val out = Snapshots.read(spark, t).select($"id", $"s").as[(Long, String)]
      .collect().sortBy(_._1).toSeq
    assert(out == Seq((1L, "a"), (2L, "b"), (11L, "D2"), (20L, "e"), (21L, "f"), (30L, "g")))
  }

  test("changesSince refuses to cross a MOR delete (not an append-only range)") {
    val t = threeFileTable()
    Snapshots.deleteWhere(spark, t, $"id" === 10L, mode = "mor")
    val e = intercept[IllegalArgumentException](
      Snapshots.changesSince(spark, t, 2))
    assert(e.getMessage.contains("append-only"))
  }

  test("append after MOR delete carries dv parts; new rows unaffected") {
    val t = threeFileTable()
    Snapshots.deleteWhere(spark, t, $"id" === 10L, mode = "mor")
    Snapshots.commit(Seq((40L, "h")).toDF("id", "s"), t)
    assert(ids(Snapshots.read(spark, t)) == Seq(1L, 2L, 11L, 20L, 21L, 40L))
  }

  test("MOR delete works on a URI-escapable tableDir (space and '+' in the path)") {
    // r12 advice (medium): input_file_name() percent-encodes, so on a
    // path with a space the sidecar keys matched no manifest line and
    // the MOR delete published a no-op version yet returned success.
    // The stamped file column now percent-decodes ('+' handled — it
    // must NOT decode to a space), and a subset guard aborts loud on
    // any future drift instead of no-opping.
    val t = java.nio.file.Files.createTempDirectory("snapdv")
      .resolve("a b+c").resolve("t").toString
    Snapshots.commit(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s").coalesce(1), t,
      statsCols = Seq("id"))
    val v = Snapshots.deleteWhere(spark, t, $"id" === 2L, mode = "mor")
    assert(v == 2)
    assert(ids(Snapshots.read(spark, t)) == Seq(1L, 3L))
    // COW on the same escapable path (regressed to the non-decoding
    // column in r12 — failed loud there, must simply work now)
    Snapshots.deleteWhere(spark, t, $"id" === 3L, mode = "cow")
    assert(ids(Snapshots.read(spark, t)) == Seq(1L))
  }
}

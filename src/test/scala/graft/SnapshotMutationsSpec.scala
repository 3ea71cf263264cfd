package graft

import graft.sources.Snapshots
import org.apache.spark.sql.functions._

/** Copy-on-write DELETE / MERGE / replaceWhere over versioned-snapshot
  * tables: row semantics (NULL-predicate survivors, upsert
  * replace-or-insert), the rewrite-only-affected-files guarantee
  * (measured against manifest lines, not asserted), the source-type
  * gate, and serializable-conflict aborts. */
class SnapshotMutationsSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): String =
    java.nio.file.Files.createTempDirectory("snapmut").resolve("t").toString

  private def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.select($"id").as[Long].collect().sorted.toSeq

  private def manifestFileLines(t: String, v: Int): Seq[String] =
    java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(t, "_snapshots", f"v$v%08d.txt")).toArray.map(_.toString)
      .filterNot(l => l.isEmpty ||
        Seq("version", "parent", "op", "tag", "ts", "schema").exists(k => l.startsWith(k + "=")))
      .toSeq

  // three single-file commits with disjoint id ranges + stats, so
  // affected-file sets are measurable and zone maps are live
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

  test("deleteWhere removes TRUE rows only; history stays time-travelable") {
    val t = threeFileTable()
    val v = Snapshots.deleteWhere(spark, t, $"id" === 10L)
    assert(v == 4)
    assert(ids(Snapshots.read(spark, t)) == Seq(1L, 2L, 11L, 20L, 21L))
    assert(ids(Snapshots.read(spark, t, version = 3)) == Seq(1L, 2L, 10L, 11L, 20L, 21L))
  }

  test("deleteWhere rewrites ONLY files containing a match; kept lines carry stats verbatim") {
    val t = threeFileTable()
    val before = manifestFileLines(t, 3)
    Snapshots.deleteWhere(spark, t, $"id" === 10L)
    val after = manifestFileLines(t, 4)
    // the two untouched files' lines (path + id=min:max stats) are
    // carried byte-identically; exactly one new file replaces the hit one
    val carried = after.toSet.intersect(before.toSet)
    assert(carried.size == 2)
    assert(carried.forall(_.contains("id=")))
    assert((after.toSet -- before.toSet).size == 1)
  }

  test("NULL-predicate rows survive a delete (SQL DELETE semantics)") {
    val t = freshTable()
    Snapshots.commit(
      Seq((1L, Option("x")), (2L, Option.empty[String]), (3L, Option("y"))).toDF("id", "s"), t)
    Snapshots.deleteWhere(spark, t, $"s" === "x")
    assert(ids(Snapshots.read(spark, t)) == Seq(2L, 3L))
  }

  test("deleteWhere with no matching rows commits nothing") {
    val t = threeFileTable()
    assert(Snapshots.deleteWhere(spark, t, $"id" === 999L) == -1)
    assert(Snapshots.currentVersion(t) == 3)
  }

  test("mergeInto replaces matched keys, inserts new ones, carries untouched files") {
    val t = threeFileTable()
    val before = manifestFileLines(t, 3)
    val src = Seq((10L, "UPDATED"), (99L, "NEW")).toDF("id", "s")
    val v = Snapshots.mergeInto(spark, t, src, Seq("id"))
    assert(v == 4)
    val rows = Snapshots.read(spark, t).as[(Long, String)].collect().toMap
    assert(rows == Map(1L -> "a", 2L -> "b", 10L -> "UPDATED", 11L -> "d",
      20L -> "e", 21L -> "f", 99L -> "NEW"))
    // only the file containing id=10 was rewritten; 99 landed in new files
    val carried = manifestFileLines(t, 4).toSet.intersect(before.toSet)
    assert(carried.size == 2)
  }

  test("mergeInto with no matched keys is a pure insert that carries every file") {
    val t = threeFileTable()
    val before = manifestFileLines(t, 3)
    Snapshots.mergeInto(spark, t, Seq((99L, "NEW")).toDF("id", "s"), Seq("id"))
    assert(manifestFileLines(t, 4).toSet.intersect(before.toSet).size == 3)
    assert(ids(Snapshots.read(spark, t)) == Seq(1L, 2L, 10L, 11L, 20L, 21L, 99L))
  }

  test("mergeInto fails loud on duplicate source keys and on schema mismatch") {
    val t = threeFileTable()
    val dup = Seq((10L, "x"), (10L, "y")).toDF("id", "s")
    val eDup = intercept[IllegalArgumentException] {
      Snapshots.mergeInto(spark, t, dup, Seq("id"))
    }
    assert(eDup.getMessage.contains("duplicate"))
    val wrong = Seq((10L, "x", 1)).toDF("id", "s", "extra")
    val eSchema = intercept[IllegalArgumentException] {
      Snapshots.mergeInto(spark, t, wrong, Seq("id"))
    }
    assert(eSchema.getMessage.contains("schema mismatch"))
    assert(Snapshots.currentVersion(t) == 3) // nothing committed
  }

  test("replaceWhere swaps one scope atomically; untouched files carry; out-of-scope inserts raise") {
    val t = threeFileTable()
    val before = manifestFileLines(t, 3)
    // reload the 10-19 scope with recomputed rows
    val v = Snapshots.replaceWhere(spark, t, $"id" >= 10L && $"id" < 20L,
      Seq((10L, "C2"), (12L, "NEW")).toDF("id", "s"))
    assert(v == 4)
    val rows = Snapshots.read(spark, t).as[(Long, String)].collect().toMap
    assert(rows == Map(1L -> "a", 2L -> "b", 10L -> "C2", 12L -> "NEW",
      20L -> "e", 21L -> "f")) // 11 gone (replaced scope), others untouched
    assert(manifestFileLines(t, 4).toSet.intersect(before.toSet).size == 2)
    // an insert OUTSIDE the scope fails the write; the table is untouched
    val e = intercept[Exception] {
      Snapshots.replaceWhere(spark, t, $"id" >= 10L && $"id" < 20L,
        Seq((99L, "ESCAPEE")).toDF("id", "s"))
    }
    assert(e.getMessage.contains("outside the replaced scope") ||
      Option(e.getCause).exists(_.getMessage.contains("outside the replaced scope")))
    assert(Snapshots.currentVersion(t) == 4)
  }

  test("COW verbs reject a type-widened source loudly (the skew-twin q_merge_cow hole)") {
    val t = freshTable()
    Snapshots.commit(Seq((1, 10), (2, 20)).toDF("id", "v"), t) // int table
    // arithmetic promotion: v + 1L makes the source column LONG — the
    // gate must refuse BEFORE any file lands (mixed-width files were
    // readable only by footer-order luck)
    val wideSrc = Seq((1, 30L)).toDF("id", "v")
    val e1 = intercept[IllegalArgumentException](
      Snapshots.mergeInto(spark, t, wideSrc, Seq("id")))
    assert(e1.getMessage.contains("bigint") && e1.getMessage.contains("retypeRewrite"))
    val e2 = intercept[IllegalArgumentException](
      Snapshots.replaceWhere(spark, t, col("id") === 1, wideSrc))
    assert(e2.getMessage.contains("bigint") && e2.getMessage.contains("retypeRewrite"))
    assert(Snapshots.currentVersion(t) == 1)
    // the sanctioned path: retype the table first, then the wide source lands
    Snapshots.retypeRewrite(spark, t, "v", org.apache.spark.sql.types.LongType)
    Snapshots.mergeInto(spark, t, wideSrc, Seq("id"))
    assert(Snapshots.read(spark, t).orderBy("id").as[(Int, Long)].collect().toSeq ==
      Seq((1, 30L), (2, 20L)))
  }

  test("mergeInto matches on ALL key columns (composite keys)") {
    val t = freshTable()
    Snapshots.commit(Seq((1L, "x", "a"), (1L, "y", "b"), (2L, "x", "c"))
      .toDF("k1", "k2", "s"), t)
    val src = Seq((1L, "x", "UPD"), (3L, "z", "NEW")).toDF("k1", "k2", "s")
    Snapshots.mergeInto(spark, t, src, Seq("k1", "k2"))
    val rows = Snapshots.read(spark, t).as[(Long, String, String)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // (1,x) replaced; (1,y) and (2,x) untouched despite sharing a key part
    assert(rows == Map((1L, "x") -> "UPD", (1L, "y") -> "b",
      (2L, "x") -> "c", (3L, "z") -> "NEW"))
    // duplicate composite keys in the source fail loud
    val dup = Seq((1L, "x", "p"), (1L, "x", "q")).toDF("k1", "k2", "s")
    assert(intercept[IllegalArgumentException] {
      Snapshots.mergeInto(spark, t, dup, Seq("k1", "k2"))
    }.getMessage.contains("duplicate"))
  }

  test("a mutation publishing after a concurrent commit aborts loudly (stale rewrite set)") {
    val t = threeFileTable()
    // a real interloper append lands INSIDE deleteWhere's window —
    // after its plan is staged, before its manifest link
    val e = intercept[java.util.ConcurrentModificationException] {
      Snapshots.deleteWhereHook(spark, t, $"id" === 1L, () => {
        Snapshots.commit(Seq((30L, "g")).toDF("id", "s"), t)
      })
    }
    assert(e.getMessage.contains("stale"))
    // the interloper's commit survives untouched; no half-delete landed
    assert(Snapshots.currentVersion(t) == 4)
    assert(ids(Snapshots.read(spark, t)) == Seq(1L, 2L, 10L, 11L, 20L, 21L, 30L))
  }
}

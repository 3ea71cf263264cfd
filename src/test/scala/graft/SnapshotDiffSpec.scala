package graft

import graft.operators.SnapshotDiff

class SnapshotDiffSpec extends SparkSpec {
  import spark.implicits._

  private def oldSnap = Seq(
    (1L, "A", 10),
    (2L, "B", 20),
    (3L, "C", 30),
    (4L, null.asInstanceOf[String], 40)
  ).toDF("k", "s", "v")

  private def newSnap = Seq(
    (1L, "A", 10),                          // unchanged
    (2L, "B2", 20),                         // changed (s)
    (4L, null.asInstanceOf[String], 40),    // unchanged (null == null)
    (5L, "E", 50)                           // added; 3 removed
  ).toDF("k", "s", "v")

  test("diff classifies added/removed/changed and drops unchanged") {
    val got = SnapshotDiff.diff(oldSnap, newSnap, "k", Seq("s", "v"))
      .select($"k", $"status").as[(Long, String)].collect().toMap
    assert(got == Map(2L -> "changed", 3L -> "removed", 5L -> "added"))
  }

  test("null-safe comparison: null -> null is unchanged, null -> value is changed") {
    val n2 = newSnap.withColumn("s",
      org.apache.spark.sql.functions.when($"k" === 4L, "now-set").otherwise($"s"))
    val got = SnapshotDiff.diff(oldSnap, n2, "k", Seq("s", "v"))
      .select($"k", $"status").as[(Long, String)].collect().toMap
    assert(got(4L) == "changed")
  }

  test("keepUnchanged retains the full outer row set") {
    val got = SnapshotDiff.diff(oldSnap, newSnap, "k", Seq("s", "v"),
      keepUnchanged = true)
    assert(got.count() == 5) // keys 1..5
    val un = got.where($"status" === "unchanged")
      .select($"k").as[Long].collect().toSet
    assert(un == Set(1L, 4L))
  }

  test("old/new value columns surface the change payload") {
    val row = SnapshotDiff.diff(oldSnap, newSnap, "k", Seq("s", "v"))
      .where($"k" === 2L)
      .select($"s_old", $"s_new", $"v_old", $"v_new")
      .as[(String, String, Int, Int)].head()
    assert(row == (("B", "B2", 20, 20)))
  }

  test("null-keyed rows classify by their own side, not as each other") {
    val o = Seq((Some(1L), "A", 1), (None, "B", 2)).toDF("k", "s", "v")
    val n = Seq((Some(1L), "A", 1), (None, "C", 3)).toDF("k", "s", "v")
    val got = SnapshotDiff.diff(o, n, "k", Seq("s", "v"))
      .select($"k", $"status", $"s_old", $"s_new")
      .collect().map(r => (Option(r.get(0)), r.getString(1), r.getString(2), r.getString(3)))
      .toSet
    // the old null-key row is REMOVED (payload in _old), the new one ADDED
    assert(got == Set(
      (None, "removed", "B", null),
      (None, "added", null, "C")))
  }
}

package graft

import graft.sources.Snapshots
import org.apache.spark.sql.functions._

/** The r9-verdict schema-evolution ladder (item #5) plus the r9-advice
  * history fixes: column DROP by id, rebirth with NULL history, the
  * folded alias history that makes vacuum/clone safe, and the
  * reconciliation-aware pruned/COW reads.
  */
class SchemaEvolutionSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): String =
    java.nio.file.Files.createTempDirectory("evospec").resolve("t").toString

  // ---- DROP ladder ----

  test("drop is metadata-only: same files, column projected out of old files; time travel keeps it") {
    val t = freshTable()
    Snapshots.commit(Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "s", "x"), t)
    Snapshots.commit(Seq((3L, "c", 30L)).toDF("id", "s", "x"), t)
    val filesBefore = Snapshots.liveFiles(t, 2).toSet
    val v = Snapshots.drop(t, "x")
    assert(v == 3)
    assert(Snapshots.liveFiles(t, 3).toSet == filesBefore) // no bytes moved
    assert(Snapshots.read(spark, t).columns.toSeq == Seq("id", "s"))
    assert(Snapshots.read(spark, t).orderBy("id").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // time travel BEFORE the drop still shows the column
    assert(Snapshots.read(spark, t, version = 2).columns.toSeq == Seq("id", "s", "x"))
    assert(Snapshots.read(spark, t, version = 2).orderBy("id")
      .select($"x").as[Long].collect().toSeq == Seq(10L, 20L, 30L))
  }

  test("re-add after drop is a FRESH column with NULL history (old files masked, new files real)") {
    val t = freshTable()
    Snapshots.commit(Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "s", "x"), t)
    Snapshots.drop(t, "x")
    // an append between drop and rebirth — a file that never had x
    Snapshots.commit(Seq((3L, "c")).toDF("id", "s"), t)
    // rebirth: same NAME, fresh id; the old files physically still
    // carry x=10/20 — those values belong to the DROPPED column and
    // must never surface under the reborn one
    Snapshots.commit(Seq((4L, "d", 400L)).toDF("id", "s", "x"), t)
    val got = Snapshots.read(spark, t).orderBy("id")
      .as[(Long, String, Option[Long])].collect().toSeq
    assert(got == Seq((1L, "a", None), (2L, "b", None), (3L, "c", None),
      (4L, "d", Some(400L))))
    // pre-rebirth versions are unaffected
    assert(Snapshots.read(spark, t, version = 3).columns.toSeq == Seq("id", "s"))
  }

  test("drop guards: unknown column, last column, pre-record table all loud; retype still rejected") {
    val t = freshTable()
    Snapshots.commit(Seq((1L, "a")).toDF("id", "s"), t)
    val e1 = intercept[IllegalArgumentException](Snapshots.drop(t, "nope"))
    assert(e1.getMessage.contains("no column 'nope'"))
    Snapshots.drop(t, "s")
    val e2 = intercept[IllegalArgumentException](Snapshots.drop(t, "id"))
    assert(e2.getMessage.contains("last column"))
    // retype remains rejected-with-message (drop did not open a hole)
    val e3 = intercept[IllegalArgumentException](
      Snapshots.commit(Seq(("x", 1L)).toDF("id", "extra"), t))
    assert(e3.getMessage.contains("retyped"))
  }

  test("optimize after drop+rebirth reconciles the rewrite: no resurrected values") {
    val t = freshTable()
    // many small files so optimize has bins to pack
    Snapshots.commit(Seq((1L, "a", 10L)).toDF("id", "s", "x").repartition(3), t)
    Snapshots.drop(t, "x")
    Snapshots.commit(Seq((2L, "b", 200L)).toDF("id", "s", "x").repartition(2), t)
    val v = Snapshots.optimize(spark, t, targetBytes = 1L << 20)
    assert(v > 0)
    val got = Snapshots.read(spark, t).orderBy("id")
      .as[(Long, String, Option[Long])].collect().toSeq
    assert(got == Seq((1L, "a", None), (2L, "b", Some(200L))))
    // and the rewritten layout must stay clean through ANOTHER read
    // path: pruned read on id
    val pruned = Snapshots.readPruned(spark, t, "id", 1L, 2L).orderBy("id")
      .as[(Long, String, Option[Long])].collect().toSeq
    assert(pruned == got)
  }

  // ---- rename reconciliation on the pruned/COW paths (r9 advice, medium) ----

  test("readPruned / readPrunedBox keep pre-rename rows (alias-coalesced, never silently dropped)") {
    val t = freshTable()
    Snapshots.commit(Seq((1L, 100L), (2L, 200L)).toDF("id", "v"), t,
      statsCols = Seq("id", "v"))
    Snapshots.rename(t, "v", "value")
    Snapshots.commit(Seq((3L, 300L)).toDF("id", "value"), t,
      statsCols = Seq("id", "value"))
    // all three rows must survive a pruned read filtered on the
    // CURRENT name — the raw-file read used to null-filter rows from
    // pre-rename files
    val got = Snapshots.readPruned(spark, t, "id", 1L, 3L)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 100L), (2L, 200L), (3L, 300L)))
    val box = Snapshots.readPrunedBox(spark, t, Seq(("id", 1L, 3L), ("value", 100L, 300L)))
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(box == got)
  }

  test("deleteWhere and mergeInto reconcile across a rename (predicate on the current name)") {
    val t = freshTable()
    Snapshots.commit(Seq((1L, 100L), (2L, 200L)).toDF("id", "v"), t)
    Snapshots.rename(t, "v", "value")
    // deleteWhere on the CURRENT name must hit pre-rename rows
    Snapshots.deleteWhere(spark, t, col("value") === 100L)
    assert(Snapshots.read(spark, t).orderBy("id").as[(Long, Long)].collect().toSeq ==
      Seq((2L, 200L)))
    // mergeInto across the rename: updates land, schema is the current one
    Snapshots.mergeInto(spark, t, Seq((2L, 222L), (3L, 333L)).toDF("id", "value"), "id")
    assert(Snapshots.read(spark, t).orderBy("id").as[(Long, Long)].collect().toSeq ==
      Seq((2L, 222L), (3L, 333L)))
  }

  test("changesSince reconciles added files across a rename") {
    val t = freshTable()
    Snapshots.commit(Seq((1L, 100L)).toDF("id", "v"), t)
    Snapshots.rename(t, "v", "value") // v2 (metadata-only; op=rename)
    // changesSince crossing the rename version fails loud (not append);
    // from the rename version on, the added files reconcile
    Snapshots.commit(Seq((2L, 200L)).toDF("id", "value"), t) // v3
    val (df, head) = Snapshots.changesSince(spark, t, 2)
    assert(head == 3)
    assert(df.columns.toSeq == Seq("id", "value"))
    assert(df.as[(Long, Long)].collect().toSeq == Seq((2L, 200L)))
  }

  // ---- folded history: vacuum + clone safety (r9 advice, high) ----

  test("vacuum past a rename point keeps reconciling: history is folded into HEAD's record") {
    val t = freshTable()
    Snapshots.commit(Seq((1L, 100L)).toDF("id", "v"), t)      // v1 (pre-rename file)
    Snapshots.rename(t, "v", "value")                          // v2
    Snapshots.commit(Seq((2L, 200L)).toDF("id", "value"), t)  // v3
    Snapshots.commit(Seq((3L, 300L)).toDF("id", "value"), t)  // v4
    Snapshots.vacuum(t, keepLast = 1) // expires v1..v3 manifests — incl. the rename
    // the pre-rename FILE is still live (appends carry files) and must
    // still reconcile onto the current name from the folded record
    assert(Snapshots.read(spark, t).orderBy("id").as[(Long, Long)].collect().toSeq ==
      Seq((1L, 100L), (2L, 200L), (3L, 300L)))
  }

  test("vacuum REFUSES to expire un-folded rename history, naming foldHistory; fold unblocks it") {
    val t = freshTable()
    Snapshots.commit(Seq((1L, 100L)).toDF("id", "v"), t) // v1
    // simulate a PRE-FOLD rename (r8/r9-era manifest): same id under a
    // new name, but NO alias metadata in the record — the history
    // lives only in the v1 manifest the vacuum would delete
    val recV1 = Snapshots.manifestSchema(t, 1).get
    val st = org.apache.spark.sql.types.DataType.fromJson(recV1)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val renamed = org.apache.spark.sql.types.StructType(
      st.fields.map(f => if (f.name == "v") f.copy(name = "value") else f))
    Snapshots.writeManifest(t, 2, 1, "rename",
      Snapshots.liveFiles(t, 1), schema = Some(renamed.json))
    Snapshots.commit(Seq((2L, 200L)).toDF("id", "value"), t) // v3 — folds v2's walk
    // v3's commit already folded the walkable history, so vacuum works;
    // build the REFUSAL case by stripping the fold: another pre-fold
    // manifest directly at head
    Snapshots.writeManifest(t, 4, 3, "rename", Snapshots.liveFiles(t, 3),
      schema = Some(renamed.json)) // un-folded record at HEAD again
    val e = intercept[IllegalArgumentException](Snapshots.vacuum(t, keepLast = 1))
    assert(e.getMessage.contains("foldHistory"))
    // one metadata-only fold commit unblocks, and reads stay correct
    Snapshots.foldHistory(t)
    Snapshots.vacuum(t, keepLast = 1)
    assert(Snapshots.read(spark, t).orderBy("id").as[(Long, Long)].collect().toSeq ==
      Seq((1L, 100L), (2L, 200L)))
  }

  // ---- WIDEN ladder (the evolution verb after rename + drop) ----

  test("widen is metadata-only: same files, old narrow files upcast at scan; time travel keeps narrow") {
    val t = freshTable()
    Snapshots.commit(Seq((1, 1.5f), (2, 2.5f)).toDF("i", "f"), t)  // int, float
    val filesBefore = Snapshots.liveFiles(t, 1).toSet
    val v = Snapshots.widen(t, "i", org.apache.spark.sql.types.LongType)
    assert(v == 2)
    Snapshots.widen(t, "f", org.apache.spark.sql.types.DoubleType)
    assert(Snapshots.liveFiles(t, 3).toSet == filesBefore) // no bytes moved
    val got = Snapshots.read(spark, t)
    assert(got.schema("i").dataType == org.apache.spark.sql.types.LongType)
    assert(got.schema("f").dataType == org.apache.spark.sql.types.DoubleType)
    assert(got.orderBy("i").as[(Long, Double)].collect().toSeq ==
      Seq((1L, 1.5), (2L, 2.5)))
    // time travel BEFORE the widen: the narrow types, exactly as committed
    val old = Snapshots.read(spark, t, version = 1)
    assert(old.schema("i").dataType == org.apache.spark.sql.types.IntegerType)
    assert(old.schema("f").dataType == org.apache.spark.sql.types.FloatType)
    // appends must use the wide type now; the narrow type names widen()
    Snapshots.commit(Seq((3L, 3.5)).toDF("i", "f"), t)
    assert(Snapshots.read(spark, t).orderBy("i").as[(Long, Double)].collect().toSeq ==
      Seq((1L, 1.5), (2L, 2.5), (3L, 3.5)))
    val e = intercept[IllegalArgumentException](
      Snapshots.commit(Seq((4, 4.5)).toDF("i", "f"), t))
    assert(e.getMessage.contains("widen"))
  }

  test("widen guards: narrowing, lossy long->double, same type, unknown column all loud") {
    val t = freshTable()
    Snapshots.commit(Seq((1L, "a", 7)).toDF("id", "s", "n"), t)
    import org.apache.spark.sql.types._
    val e1 = intercept[IllegalArgumentException](Snapshots.widen(t, "id", IntegerType))
    assert(e1.getMessage.contains("not a lossless widening"))
    val e2 = intercept[IllegalArgumentException](Snapshots.widen(t, "id", DoubleType))
    assert(e2.getMessage.contains("not a lossless widening")) // > 2^53 loses
    val e3 = intercept[IllegalArgumentException](Snapshots.widen(t, "s", LongType))
    assert(e3.getMessage.contains("not a lossless widening"))
    val e4 = intercept[IllegalArgumentException](Snapshots.widen(t, "id", LongType))
    assert(e4.getMessage.contains("already has type"))
    val e5 = intercept[IllegalArgumentException](Snapshots.widen(t, "nope", LongType))
    assert(e5.getMessage.contains("no column 'nope'"))
  }

  test("widen composes with rename and drop history; pruned/COW reads reconcile; stats keep pruning") {
    val t = freshTable()
    Snapshots.commit(Seq((1, 100), (2, 200)).toDF("id", "v"), t,
      statsCols = Seq("id", "v"))                               // int files + stats
    Snapshots.rename(t, "v", "value")
    Snapshots.widen(t, "value", org.apache.spark.sql.types.LongType)
    Snapshots.widen(t, "id", org.apache.spark.sql.types.LongType)
    Snapshots.commit(Seq((3L, 300L)).toDF("id", "value"), t, statsCols = Seq("id", "value"))
    // pruned read on the current name across narrow+renamed history
    val got = Snapshots.readPruned(spark, t, "id", 1L, 3L)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 100L), (2L, 200L), (3L, 300L)))
    // COW delete with a predicate on the widened type hits narrow rows
    Snapshots.deleteWhere(spark, t, col("value") === 100L)
    assert(Snapshots.read(spark, t).orderBy("id").as[(Long, Long)].collect().toSeq ==
      Seq((2L, 200L), (3L, 300L)))
    // and a drop after all of it still reconciles
    Snapshots.drop(t, "value")
    assert(Snapshots.read(spark, t).orderBy("id").as[Long].collect().toSeq ==
      Seq(2L, 3L))
  }

  test("COW verbs reject a type-widened source loudly (the skew-twin q_merge_cow hole)") {
    val t = freshTable()
    Snapshots.commit(Seq((1, 10), (2, 20)).toDF("id", "v"), t) // int table
    // arithmetic promotion: v + 1L makes the source column LONG — the
    // gate must refuse BEFORE any file lands (mixed-width files were
    // readable only by footer-order luck)
    val wideSrc = Seq((1, 30L)).toDF("id", "v")
    val e1 = intercept[IllegalArgumentException](
      Snapshots.mergeInto(spark, t, wideSrc, "id"))
    assert(e1.getMessage.contains("bigint") && e1.getMessage.contains("widen"))
    val e2 = intercept[IllegalArgumentException](
      Snapshots.replaceWhere(spark, t, col("id") === 1, wideSrc))
    assert(e2.getMessage.contains("bigint") && e2.getMessage.contains("widen"))
    // the sanctioned path: widen the table first, then the wide source lands
    Snapshots.widen(t, "v", org.apache.spark.sql.types.LongType)
    Snapshots.mergeInto(spark, t, wideSrc, "id")
    assert(Snapshots.read(spark, t).orderBy("id").as[(Int, Long)].collect().toSeq ==
      Seq((1, 30L), (2, 20L)))
  }

  test("optimize after widen bakes the wide type into rewritten files") {
    val t = freshTable()
    Snapshots.commit(Seq((1, 10), (2, 20)).toDF("id", "v").repartition(3), t)
    Snapshots.widen(t, "v", org.apache.spark.sql.types.LongType)
    val v = Snapshots.optimize(spark, t, targetBytes = 1L << 20)
    assert(v > 0)
    val r = Snapshots.read(spark, t)
    assert(r.schema("v").dataType == org.apache.spark.sql.types.LongType)
    assert(r.orderBy("id").select($"v").as[Long].collect().toSeq == Seq(10L, 20L))
    // the rewritten files are PHYSICALLY wide now: a raw parquet read
    // of the live files (no reconciliation) must already show bigint
    val raw = spark.read.parquet(Snapshots.liveFiles(t, v): _*)
    assert(raw.schema("v").dataType == org.apache.spark.sql.types.LongType)
  }

  test("widen history survives vacuum (folded into every record)") {
    val t = freshTable()
    Snapshots.commit(Seq((1, 10)).toDF("id", "v"), t)            // v1, narrow file
    Snapshots.widen(t, "v", org.apache.spark.sql.types.LongType) // v2
    Snapshots.commit(Seq((2, 20L)).toDF("id", "v"), t)           // v3 (id stays int)
    Snapshots.commit(Seq((3, 30L)).toDF("id", "v"), t)           // v4
    Snapshots.vacuum(t, keepLast = 1) // expires v1..v3 manifests incl. the widen
    assert(Snapshots.read(spark, t).orderBy("id").select($"v").as[Long].collect().toSeq ==
      Seq(10L, 20L, 30L))
    assert(Snapshots.read(spark, t).schema("v").dataType == org.apache.spark.sql.types.LongType)
  }

  // ---- RETYPE-REWRITE ladder (r10 verdict item #5) ----

  test("retypeRewrite long->int: whole-table rewrite, new physical type, time travel keeps the old") {
    val t = freshTable()
    Snapshots.commit(Seq((1, 10L), (2, 20L)).toDF("id", "v").repartition(2), t) // v1
    Snapshots.commit(Seq((3, 30L)).toDF("id", "v"), t)                          // v2
    val filesBefore = Snapshots.liveFiles(t, 2).toSet
    val v = Snapshots.retypeRewrite(spark, t, "v", org.apache.spark.sql.types.IntegerType)
    assert(v == 3)
    // NOT metadata-only: every live file is new (the verb's name is its price)
    assert((Snapshots.liveFiles(t, 3).toSet & filesBefore).isEmpty)
    val r = Snapshots.read(spark, t)
    assert(r.schema("v").dataType == org.apache.spark.sql.types.IntegerType)
    assert(r.orderBy("id").as[(Int, Int)].collect().toSeq == Seq((1, 10), (2, 20), (3, 30)))
    // physically narrow now: a raw read of live files shows int
    val raw = spark.read.parquet(Snapshots.liveFiles(t, 3): _*)
    assert(raw.schema("v").dataType == org.apache.spark.sql.types.IntegerType)
    // time travel BEFORE the retype: old type over the old bytes
    val old = Snapshots.read(spark, t, version = 2)
    assert(old.schema("v").dataType == org.apache.spark.sql.types.LongType)
    assert(old.orderBy("id").select($"v").as[Long].collect().toSeq == Seq(10L, 20L, 30L))
    // appends with the new type land; the old type is now the mismatch
    Snapshots.commit(Seq((4, 40)).toDF("id", "v"), t)
    assert(Snapshots.read(spark, t).count() == 4)
  }

  test("retypeRewrite refuses a value the cast cannot round-trip, naming the verb; table untouched") {
    val t = freshTable()
    Snapshots.commit(Seq((1, 10L), (2, 5000000000L)).toDF("id", "v"), t) // 5e9 > Int.Max
    val e = intercept[Exception](
      Snapshots.retypeRewrite(spark, t, "v", org.apache.spark.sql.types.IntegerType))
    def all(t: Throwable): Seq[Throwable] =
      t +: Option(t.getCause).toSeq.flatMap(all)
    assert(all(e).exists(c => Option(c.getMessage).exists(_.contains("retypeRewrite"))),
      s"expected the verb named in: $e")
    // no manifest landed, data unchanged and still long
    val r = Snapshots.read(spark, t)
    assert(Snapshots.currentVersion(t) == 1)
    assert(r.schema("v").dataType == org.apache.spark.sql.types.LongType)
    assert(r.orderBy("id").select($"v").as[Long].collect().toSeq == Seq(10L, 5000000000L))
  }

  test("retypeRewrite guards: lossless ladder points at widen; impossible casts refused; NULLs pass") {
    val t = freshTable()
    Snapshots.commit(Seq((Some(1), Some(10)), (Some(2), None)).toDF("id", "v"), t)
    // int->long is lossless — the verb refuses to charge a rewrite for it
    val e1 = intercept[IllegalArgumentException](
      Snapshots.retypeRewrite(spark, t, "v", org.apache.spark.sql.types.LongType))
    assert(e1.getMessage.contains("widen"))
    // a cast Spark cannot express at all
    val e2 = intercept[IllegalArgumentException](
      Snapshots.retypeRewrite(spark, t, "v", org.apache.spark.sql.types.BinaryType))
    assert(e2.getMessage.contains("no cast"))
    // NULLs survive a legitimate narrow (int -> short with small values)
    val v = Snapshots.retypeRewrite(spark, t, "v", org.apache.spark.sql.types.ShortType)
    assert(v == 2)
    assert(Snapshots.read(spark, t).orderBy("id").select($"v").as[Option[Short]]
      .collect().toSeq == Seq(Some(10.toShort), None))
  }

  test("retypeRewrite double->decimal: exact values convert, inexact raise") {
    val t = freshTable()
    Snapshots.commit(Seq((1, 1.25), (2, 10.5)).toDF("id", "v"), t)
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(10, 2)
    Snapshots.retypeRewrite(spark, t, "v", dec)
    val r = Snapshots.read(spark, t)
    assert(r.schema("v").dataType == dec)
    assert(r.orderBy("id").select($"v".cast("string")).as[String].collect().toSeq ==
      Seq("1.25", "10.50"))
    // 0.1 is not representable back to the same double through DECIMAL(10,1)
    val t2 = freshTable()
    Snapshots.commit(Seq((1, 1.0 / 3.0)).toDF("id", "v"), t2)
    val e = intercept[Exception](Snapshots.retypeRewrite(spark, t2, "v",
      org.apache.spark.sql.types.DataTypes.createDecimalType(10, 2)))
    assert(e.toString.contains("retypeRewrite") ||
      Option(e.getCause).exists(_.toString.contains("retypeRewrite")))
  }

  test("retypeRewrite after rename reconciles aliases and bakes canonical names") {
    val t = freshTable()
    Snapshots.commit(Seq((1L, 10L)).toDF("id", "val0"), t)  // v1: files carry val0
    Snapshots.rename(t, "val0", "v")                         // v2: metadata-only
    Snapshots.commit(Seq((2L, 20L)).toDF("id", "v"), t)      // v3: files carry v
    val v = Snapshots.retypeRewrite(spark, t, "v", org.apache.spark.sql.types.IntegerType)
    assert(v == 4)
    // rewritten files are clean of history: raw read shows canonical name + new type
    val raw = spark.read.parquet(Snapshots.liveFiles(t, 4): _*)
    assert(raw.columns.toSeq.sorted == Seq("id", "v"))
    assert(raw.schema("v").dataType == org.apache.spark.sql.types.IntegerType)
    assert(Snapshots.read(spark, t).orderBy("id").as[(Long, Int)].collect().toSeq ==
      Seq((1L, 10), (2L, 20)))
  }

  test("the implicit-append retype rejection names retypeRewrite") {
    val t = freshTable()
    Snapshots.commit(Seq((1, 10L)).toDF("id", "v"), t)
    val e = intercept[IllegalArgumentException](
      Snapshots.commit(Seq((2, 20)).toDF("id", "v"), t)) // int where table says long
    assert(e.getMessage.contains("retypeRewrite"))
  }
}

package graft

import graft.sources.Snapshots
import java.nio.file.{Files, Paths, StandardCopyOption}

/** Concurrent-MAINTENANCE race proofs (r10 verdict item #6): the
  * conditional-PUT publisher race is covered in SnapshotsSpec, but
  * OPTIMIZE-vs-append and vacuum-vs-writer/reader had no spec — and
  * the vacuum race was REAL: the old negative-list walk deleted any
  * file under data/ not carried by a retained manifest, which
  * included the files an in-flight commit had staged but not yet
  * linked. The commit then published a manifest pointing at deleted
  * bytes: a committed row silently lost. These specs pin the fixed
  * contract:
  *
  *  - vacuum deletes ONLY files the expiring manifests reference
  *    (positive list) — staged-but-unpublished files survive any
  *    interleaving, so commit/vacuum serialize by construction;
  *  - optimize publishes through the same conditional no-clobber
  *    link as every COW verb: losing the race to an append is a loud
  *    ConcurrentModificationException and the appended row is never
  *    lost — re-running optimize against the new HEAD succeeds;
  *  - readers within the retention horizon are unaffected by vacuum;
  *    expired versions fail LOUD (never wrong-answer).
  *
  * A separate-JVM interleaving of the same verbs (committer loop vs
  * vacuum loop) runs in RaceMaintMain, driven by the spec at the
  * bottom — the RacePutMain harness pattern.
  */
class SnapshotMaintenanceRaceSpec extends SparkSpec {
  import spark.implicits._
  import scala.jdk.CollectionConverters._

  private def freshTable(): String =
    Files.createTempDirectory("snapracespec").resolve("t").toString

  private def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.select(org.apache.spark.sql.functions.col("id")).as[Long].collect().sorted.toSeq

  /** One staged-parquet file exactly as commit() stages it (written
    * bytes, no manifest link yet). Returns the staged file path. */
  private def stageOrphan(t: String, v: Int, rows: Seq[Long]): String = {
    val dir = Paths.get(t, "data", s"c$v-racetest")
    rows.toDF("id").coalesce(1).write.mode("overwrite").parquet(dir.toString)
    Files.list(dir).iterator().asScala
      .map(_.toString).filter(_.matches(".*part-.*\\.parquet")).toSeq.head
  }

  test("vacuum never deletes an in-flight commit's staged files (the silent-loss race)") {
    val t = freshTable()
    // overwrites so history genuinely EXPIRES (appends carry their
    // parent's files forward — nothing would ever become deletable)
    Snapshots.commit(Seq(1L).toDF("id"), t)
    Snapshots.commit(Seq(2L).toDF("id"), t, mode = "overwrite")
    Snapshots.commit(Seq(3L).toDF("id"), t, mode = "overwrite")
    val expiredFile = Snapshots.liveFiles(t, 1).head
    // an in-flight commit: v4's bytes are on disk, manifest not linked
    val staged = stageOrphan(t, 4, Seq(4L))
    Snapshots.vacuum(t, keepLast = 1)
    // vacuum did its job on EXPIRED history...
    assert(!Files.exists(Paths.get(expiredFile)),
      "vacuum failed to delete a genuinely expired file")
    // ...and never touched the unpublished staging
    assert(Files.exists(Paths.get(staged)),
      "vacuum deleted an in-flight commit's staged file — committed-row loss")
    // the in-flight commit completes and every row is readable
    Snapshots.writeManifest(t, 4, 3, "append",
      Snapshots.liveFiles(t, 3) ++ Seq(staged))
    assert(ids(Snapshots.read(spark, t)) == Seq(3L, 4L))
  }

  test("optimize loses the race to a concurrent append LOUDLY; the appended row survives; retry succeeds") {
    val t = freshTable()
    // many small files so optimize has bins to merge
    (1L to 6L).foreach(i => Snapshots.commit(Seq(i).toDF("id"), t))
    val ex = intercept[java.util.ConcurrentModificationException] {
      Snapshots.optimizeHook(spark, t, targetBytes = 1 << 20,
        beforePublish = () => { Snapshots.commit(Seq(99L).toDF("id"), t); () })
    }
    assert(ex.getMessage.contains("advanced past"))
    // nothing lost: the racing append IS the new head
    assert(ids(Snapshots.read(spark, t)) == (1L to 6L) :+ 99L)
    // a retry against the new HEAD compacts successfully
    val v = Snapshots.optimize(spark, t, targetBytes = 1 << 20)
    assert(v > 0)
    assert(ids(Snapshots.read(spark, t)) == (1L to 6L) :+ 99L)
  }

  test("vacuum vs reader: retained versions read fine; expired versions fail loud, never wrong") {
    val t = freshTable()
    Snapshots.commit(Seq(1L).toDF("id"), t)
    Snapshots.commit(Seq(2L).toDF("id"), t)
    Snapshots.commit(Seq(3L).toDF("id"), t)
    Snapshots.vacuum(t, keepLast = 2)
    // within the horizon: both retained versions fully readable
    assert(ids(Snapshots.read(spark, t, version = 2)) == Seq(1L, 2L))
    assert(ids(Snapshots.read(spark, t)) == Seq(1L, 2L, 3L))
    // beyond the horizon: loud refusal naming the version
    val ex = intercept[IllegalArgumentException] {
      Snapshots.read(spark, t, version = 1).collect()
    }
    assert(ex.getMessage.contains("version 1"))
  }

  test("separate-JVM interleaving: a committer loop races a vacuum loop; no committed row is ever lost") {
    val t = freshTable()
    Snapshots.commit(Seq(0L).toDF("id"), t)
    // a 1-row parquet template the child JVMs copy as staged commits
    // (plain-file children, no SparkSession — the RacePutMain pattern)
    val tmplDir = Files.createTempDirectory("racetmpl")
    Seq(1L).toDF("id").coalesce(1).write.mode("overwrite").parquet(tmplDir.resolve("p").toString)
    val tmpl = Files.list(tmplDir.resolve("p")).iterator().asScala
      .map(_.toString).filter(_.matches(".*part-.*\\.parquet")).toSeq.head
    val cp = System.getProperty("java.class.path")
    def launch(mode: String): Process =
      new ProcessBuilder("java", "-cp", cp, "graft.RaceMaintMain", mode, t, tmpl)
        .redirectErrorStream(true).start()
    val committer = launch("commit")
    val vacuumer = launch("vacuum")
    val out1 = new String(committer.getInputStream.readAllBytes())
    val out2 = new String(vacuumer.getInputStream.readAllBytes())
    assert(committer.waitFor() == 0, s"committer failed:\n$out1")
    assert(vacuumer.waitFor() == 0, s"vacuumer failed:\n$out2")
    val head = Snapshots.currentVersion(t)
    assert(head >= 11, s"committer made too little progress (head=$head):\n$out1")
    // THE invariant, half checked in-process by the committer (its
    // staged file must exist right after every link — exit 3 on any
    // interleaving where vacuum ate it) and half here: HEAD is an
    // overwrite carrying exactly one live file, and it reads — a
    // vacuumed-away staged file would be a missing-file read error
    assert(Snapshots.read(spark, t).count() == 1L,
      s"committed row lost under concurrent vacuum (head=$head)\n$out1\n$out2")
  }
}

package graft

import graft.sources.Snapshots
import org.apache.spark.sql.functions._

class SnapshotsSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): String =
    java.nio.file.Files.createTempDirectory("snapspec").resolve("t").toString

  private def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.select($"id").as[Long].collect().sorted.toSeq

  test("append commits accumulate; every version stays readable (time travel)") {
    val t = freshTable()
    assert(Snapshots.currentVersion(t) == 0)
    val v1 = Snapshots.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), t)
    val v2 = Snapshots.commit(Seq((3L, "c")).toDF("id", "s"), t)
    assert((v1, v2) == ((1, 2)))
    assert(ids(Snapshots.read(spark, t)) == Seq(1L, 2L, 3L))
    assert(ids(Snapshots.read(spark, t, version = 1)) == Seq(1L, 2L))
  }

  test("overwrite replaces the live set without touching history") {
    val t = freshTable()
    Snapshots.commit(Seq((1L, "a")).toDF("id", "s"), t)
    Snapshots.commit(Seq((9L, "z")).toDF("id", "s"), t, mode = "overwrite")
    assert(ids(Snapshots.read(spark, t)) == Seq(9L))
    assert(ids(Snapshots.read(spark, t, version = 1)) == Seq(1L)) // isolation
  }

  test("rollback restores an old file list as a NEW version") {
    val t = freshTable()
    Snapshots.commit(Seq((1L, "a")).toDF("id", "s"), t)
    Snapshots.commit(Seq((2L, "b")).toDF("id", "s"), t)
    Snapshots.commit(spark.emptyDataset[(Long, String)].toDF("id", "s"), t, "overwrite")
    val v = Snapshots.rollback(t, 2)
    assert(v == 4 && Snapshots.currentVersion(t) == 4)
    assert(ids(Snapshots.read(spark, t)) == Seq(1L, 2L))
  }

  test("a racing writer loses the version race loudly, never clobbers") {
    val t = freshTable()
    Snapshots.commit(Seq((1L, "a")).toDF("id", "s"), t)
    // two writers that both read HEAD=1 race to publish v2: the
    // first rename wins, the second must throw, not overwrite
    Snapshots.writeManifest(t, 2, 1, "append", Seq("winner-file.parquet"))
    intercept[java.nio.file.FileAlreadyExistsException] {
      Snapshots.writeManifest(t, 2, 1, "append", Seq("loser-file.parquet"))
    }
    val dir = java.nio.file.Paths.get(t, "_snapshots")
    val v2 = java.nio.file.Files.readString(dir.resolve("v00000002.txt"))
    assert(v2.contains("winner-file") && !v2.contains("loser-file"))
    // and a fresh commit moves PAST the interloper, never over it
    val v3 = Snapshots.commit(Seq((3L, "c")).toDF("id", "s"), t)
    assert(v3 == 3)
  }

  test("readers see complete versions only: un-manifested data dirs are invisible") {
    val t = freshTable()
    Snapshots.commit(Seq((1L, "a")).toDF("id", "s"), t)
    // a crashed writer left data files but no manifest
    Seq((99L, "junk")).toDF("id", "s")
      .write.parquet(java.nio.file.Paths.get(t, "data", "c2-dead").toString)
    assert(ids(Snapshots.read(spark, t)) == Seq(1L))
    assert(Snapshots.currentVersion(t) == 1)
  }

  test("bad inputs fail loud: unknown mode, missing version, empty table") {
    val t = freshTable()
    intercept[IllegalArgumentException](
      Snapshots.commit(Seq((1L, "a")).toDF("id", "s"), t, mode = "merge"))
    intercept[IllegalArgumentException](Snapshots.read(spark, t))
    Snapshots.commit(Seq((1L, "a")).toDF("id", "s"), t)
    intercept[IllegalArgumentException](Snapshots.read(spark, t, version = 7))
    intercept[IllegalArgumentException](Snapshots.rollback(t, 7))
  }

  test("manifest column stats: zone-map pruning skips disjoint files, never rows") {
    val t = freshTable()
    // three commits covering disjoint id ranges, stats on id
    Snapshots.commit((1L to 100L).toDF("id").coalesce(1), t, statsCols = Seq("id"))
    Snapshots.commit((101L to 200L).toDF("id").coalesce(1), t, statsCols = Seq("id"))
    Snapshots.commit((201L to 300L).toDF("id").coalesce(1), t, statsCols = Seq("id"))
    val stats = Snapshots.fileStats(t, 3)
    assert(stats.size == 3 && stats.forall(_._2.contains("id")))
    // the middle range touches exactly one file
    assert(Snapshots.prunedFiles(t, 3, Seq(("id", 150L, 160L))).size == 1)
    val pruned = Snapshots.readPruned(spark, t, Seq(("id", 150L, 160L)))
    assert(ids(pruned) == (150L to 160L))
    // boundary overlap keeps both adjacent files
    assert(Snapshots.prunedFiles(t, 3, Seq(("id", 100L, 101L))).size == 2)
    // fully-outside range reads nothing but still returns the schema
    assert(Snapshots.readPruned(spark, t, Seq(("id", 900L, 999L))).count() == 0)
  }

  test("stats survive append-carry and rollback; stat-less files always read") {
    val t = freshTable()
    Snapshots.commit((1L to 50L).toDF("id").coalesce(1), t, statsCols = Seq("id"))
    Snapshots.commit((51L to 99L).toDF("id").coalesce(1), t) // NO stats
    // the stat-less file must be kept for any range (conservative)
    assert(Snapshots.prunedFiles(t, 2, Seq(("id", 10L, 20L))).size == 2)
    assert(ids(Snapshots.readPruned(spark, t, Seq(("id", 40L, 60L)))) == (40L to 60L))
    Snapshots.commit(Seq(1000L).toDF("id"), t, mode = "overwrite")
    Snapshots.rollback(t, 2)
    // rolled-back manifest still carries v1's stats line
    assert(Snapshots.fileStats(t, 4).exists(_._2.contains("id")))
  }

  test("changesSince: incremental reads see exactly the appended rows, then drain to empty") {
    val t = freshTable()
    Snapshots.commit(Seq((1L, "a")).toDF("id", "s"), t)
    Snapshots.commit(Seq((2L, "b")).toDF("id", "s"), t)
    val (d1, v1) = Snapshots.changesSince(spark, t, 0)
    assert(ids(d1) == Seq(1L, 2L) && v1 == 2)
    Snapshots.commit(Seq((3L, "c")).toDF("id", "s"), t)
    val (d2, v2) = Snapshots.changesSince(spark, t, v1)
    assert(ids(d2) == Seq(3L) && v2 == 3)
    val (d3, v3) = Snapshots.changesSince(spark, t, v2)
    assert(d3.isEmpty && v3 == 3)
  }

  test("changesSince refuses ranges crossing a rewrite (overwrite/optimize)") {
    val t = freshTable()
    Snapshots.commit(Seq((1L, "a")).toDF("id", "s"), t)
    Snapshots.commit(Seq((2L, "b")).toDF("id", "s"), t, mode = "overwrite")
    val e = intercept[IllegalArgumentException](Snapshots.changesSince(spark, t, 1))
    assert(e.getMessage.contains("append-only"))
    // but a range PAST the rewrite works again
    Snapshots.commit(Seq((3L, "c")).toDF("id", "s"), t)
    val (d, v) = Snapshots.changesSince(spark, t, 2)
    assert(ids(d) == Seq(3L) && v == 3)
  }

  test("schema evolution: appended columns surface under mergeSchema, old rows NULL") {
    val t = freshTable()
    Snapshots.commit(Seq((1L, "a")).toDF("id", "s"), t)
    Snapshots.commit(Seq((2L, "b", 9L)).toDF("id", "s", "extra"), t)
    val df = Snapshots.read(spark, t, mergeSchema = true).orderBy($"id")
    assert(df.columns.toSet == Set("id", "s", "extra"))
    assert(df.select($"id", $"extra").as[(Long, Option[Long])].collect().toSeq ==
      Seq((1L, None), (2L, Some(9L))))
  }

  test("bloom manifest parts: equality pruning skips files, never rows") {
    val t = freshTable()
    // three single-file commits with disjoint string key sets
    Snapshots.commit(Seq((1L, "apple"), (2L, "avocado")).toDF("id", "s").coalesce(1), t,
      bloomCols = Seq("s"))
    Snapshots.commit(Seq((3L, "banana"), (4L, "blueberry")).toDF("id", "s").coalesce(1), t,
      bloomCols = Seq("s"))
    Snapshots.commit(Seq((5L, "cherry"), (6L, "cranberry")).toDF("id", "s").coalesce(1), t,
      bloomCols = Seq("s"))
    // the probe skips files whose filter answers definitely-absent
    // (deterministic: fixed data, fixed sketch seeds)
    assert(Snapshots.prunedFilesEq(t, 3, "s", "banana").size < 3)
    assert(ids(Snapshots.readPrunedEq(spark, t, "s", "banana")) == Seq(3L))
    // a value present nowhere: empty result (possibly zero files read)
    assert(Snapshots.readPrunedEq(spark, t, "s", "durian").count() == 0)
    // never lossy: every present value still found after pruning
    for (v <- Seq("apple", "avocado", "banana", "blueberry", "cherry", "cranberry"))
      assert(Snapshots.readPrunedEq(spark, t, "s", v).count() == 1, s"lost '$v'")
  }

  test("blooms and zone maps coexist on one line and both travel through append-carry") {
    val t = freshTable()
    Snapshots.commit(Seq((1L, "x")).toDF("id", "s").coalesce(1), t,
      statsCols = Seq("id"), bloomCols = Seq("s"))
    Snapshots.commit(Seq((100L, "y")).toDF("id", "s").coalesce(1), t,
      statsCols = Seq("id"), bloomCols = Seq("s"))
    // zone maps parse cleanly with bloom parts on the same line
    val stats = Snapshots.fileStats(t, 2)
    assert(stats.size == 2 && stats.forall(_._2.contains("id")))
    // v2 carried v1's line verbatim: its bloom still prunes
    assert(Snapshots.prunedFilesEq(t, 2, "s", "y").size == 1)
    assert(ids(Snapshots.readPrunedEq(spark, t, "s", "x")) == Seq(1L))
    // and range pruning still works beside the blooms
    assert(ids(Snapshots.readPruned(spark, t, Seq(("id", 50L, 200L)))) == Seq(100L))
  }

  test("bloom on a non-string column fails loud (integral columns belong in statsCols)") {
    val t = freshTable()
    val e = intercept[IllegalArgumentException] {
      Snapshots.commit(Seq((1L, "x")).toDF("id", "s"), t, bloomCols = Seq("id"))
    }
    assert(e.getMessage.contains("STRING"))
  }

  test("optimizeZOrder: a range predicate on EITHER clustered dimension prunes files") {
    val t = freshTable()
    // 32x32 grid scattered across 8 files in insertion (random-ish hash) order
    val grid = spark.range(1024).select(
      ($"id" % 32).as("x"), ($"id" / 32).as("y"), $"id")
    Snapshots.commit(grid.repartition(8), t, statsCols = Seq("x", "y"))
    val before = Snapshots.prunedFiles(t, 1, Seq(("y", 4L, 7L))).size
    val v = Snapshots.optimizeZOrder(spark, t, Seq("x", "y"), nFiles = 8)
    assert(v == 2)
    val afterY = Snapshots.prunedFiles(t, v, Seq(("y", 4L, 7L))).size
    val afterX = Snapshots.prunedFiles(t, v, Seq(("x", 4L, 7L))).size
    info(s"files read for y-slice: $before of 8 before, $afterY after; x-slice: $afterX")
    assert(before == 8, "hash-scattered layout should have no pruning")
    assert(afterY < 8 && afterX < 8, "z-order must prune on both dimensions")
    // and the rows are identical
    assert(Snapshots.read(spark, t).agg(sum($"id")).head.getLong(0) == 1024L * 1023 / 2)
    // q_snapshot-style result equality through the pruned read
    assert(ids(Snapshots.readPruned(spark, t, Seq(("x", 3L, 3L))).select($"id".as("id"))) ==
      (0 until 32).map(r => r * 32L + 3L))
  }

  test("readPruned box: a small box on a z-ordered table prunes more than either single range") {
    val t = freshTable()
    val grid = spark.range(1024).select(
      ($"id" % 32).as("x"), ($"id" / 32).cast("long").as("y"), $"id")
    Snapshots.commit(grid.repartition(8), t, statsCols = Seq("x", "y"))
    val v = Snapshots.optimizeZOrder(spark, t, Seq("x", "y"), nFiles = 8)
    val box = Seq(("x", 4L, 7L), ("y", 4L, 7L))
    val boxFiles = Snapshots.prunedFiles(t, v, box).size
    val xFiles = Snapshots.prunedFiles(t, v, Seq(("x", 4L, 7L))).size
    val yFiles = Snapshots.prunedFiles(t, v, Seq(("y", 4L, 7L))).size
    info(s"files: box=$boxFiles x=$xFiles y=$yFiles of 8")
    assert(boxFiles <= math.min(xFiles, yFiles))
    assert(boxFiles < 8)
    // result equality: the 4x4 box has exactly 16 cells
    val rows = Snapshots.readPruned(spark, t, box)
      .select($"x", $"y").as[(Long, Long)].collect().toSet
    assert(rows == (for (x <- 4L to 7L; y <- 4L to 7L) yield (x, y)).toSet)
  }

  test("demo table: 4-version history resolves to the full corpus") {
    val dir = Snapshots.ensureDemoTable(spark, "/root/testdata/sf0.001")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assert(Snapshots.currentVersion(dir) == 4)
    assert(Snapshots.read(spark, dir).count() == docs.count())
    assert(Snapshots.read(spark, dir, version = 3).count() == 0) // the bad overwrite
    assert(Snapshots.read(spark, dir, version = 1).count() ==
      docs.where("doc_id % 2 = 0").count())
  }

  // ---- CommitPublisher: the protocol against BOTH publish primitives ----

  /** 8 writers race for one version through the ACTIVE publisher;
    * returns (wins, losses) and asserts the winner's manifest is the
    * only one readable. */
  private def raceOnce(t: String): (Int, Int) = {
    val latch = new java.util.concurrent.CountDownLatch(1)
    val wins = new java.util.concurrent.atomic.AtomicInteger(0)
    val losses = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = (1 to 8).map { i =>
      new Thread(() => {
        latch.await()
        try {
          Snapshots.writeManifest(t, 2, 1, "append", Seq(s"w$i.parquet"))
          wins.incrementAndGet()
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => losses.incrementAndGet()
        }
      })
    }
    threads.foreach(_.start()); latch.countDown(); threads.foreach(_.join())
    assert(Snapshots.liveFiles(t, 2).size == 1) // exactly the winner's line
    (wins.get, losses.get)
  }

  test("publisher race: 8 concurrent writers, exactly one winner (link publisher)") {
    val t = freshTable()
    Snapshots.commit(Seq((1L, "a")).toDF("id", "s"), t)
    assert(raceOnce(t) == ((1, 7)))
  }

  test("publisher race: a compare-and-swap publisher drives the same protocol (object-store plug)") {
    // test double for an object store whose ONLY atomic primitive is
    // a conditional PUT (If-None-Match): modeled as putIfAbsent in a
    // CAS ledger. The byte write after the CAS is deliberately
    // non-atomic — the ledger IS the atomicity, exactly as the HTTP
    // 412 is on S3 — so this passing proves the protocol needs
    // nothing from the store beyond the CommitPublisher contract.
    val ledger = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()
    val cas: graft.sources.CommitPublisher = (target, body) => {
      if (ledger.putIfAbsent(target.toString, java.lang.Boolean.TRUE) != null)
        throw new java.nio.file.FileAlreadyExistsException(target.toString)
      java.nio.file.Files.writeString(target, body)
    }
    val prev = Snapshots.setCommitPublisher(cas)
    try {
      val t = freshTable()
      Snapshots.commit(Seq((1L, "a")).toDF("id", "s"), t) // full commit path through CAS
      assert(ids(Snapshots.read(spark, t)) == Seq(1L))
      assert(raceOnce(t) == ((1, 7)))
    } finally Snapshots.setCommitPublisher(prev)
  }

  test("publisher race: staged conditional-PUT publisher — threads ladder + full protocol (r8 item #3)") {
    // the PRODUCTION-shaped second publisher: bytes staged first,
    // then one conditional-PUT commit whose conflict surface is a
    // typed 412 result (translated to the protocol signal at the
    // publisher boundary), not a POSIX errno. Same ladder, same
    // retry/rebase path as the link publisher.
    val t = freshTable()
    val prev = Snapshots.setCommitPublisher(
      graft.sources.ObjectStoreCommitPublisher.rooted(t))
    try {
      Snapshots.commit(Seq((1L, "a")).toDF("id", "s"), t)
      assert(ids(Snapshots.read(spark, t)) == Seq(1L))
      assert(raceOnce(t) == ((1, 7)))
    } finally Snapshots.setCommitPublisher(prev)
  }

  test("publisher race: separate JVMs — exactly one conditional-PUT winner (r8 item #3)") {
    // four OS processes, not threads: proves the emulated store's
    // atomic primitive holds across JVM boundaries (a real S3 race is
    // always cross-process) and that the loser JVM sees the 412 path
    val t = freshTable()
    val pub = graft.sources.ObjectStoreCommitPublisher.rooted(t)
    pub.publish(java.nio.file.Paths.get(t, "_snapshots",
      f"${1}%012d.manifest"), "version=1\nparent=0\nop=append\nts=0\n")
    val barrier = java.nio.file.Files.createTempDirectory("raceput").resolve("go")
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val cp = System.getProperty("java.class.path")
    val procs = (1 to 4).map { _ =>
      new ProcessBuilder(javaBin, "-cp", cp, "graft.RacePutMain", t, barrier.toString)
        .redirectErrorStream(true).start()
    }
    Thread.sleep(500) // let the JVMs reach the spin barrier
    java.nio.file.Files.createFile(barrier)
    val outs = procs.map { p =>
      val done = p.waitFor(60, java.util.concurrent.TimeUnit.SECONDS)
      assert(done, "race JVM did not finish")
      new String(p.getInputStream.readAllBytes(), "UTF-8").trim
    }
    assert(outs.count(_.endsWith("WIN")) == 1, outs.toString)
    assert(outs.count(_.endsWith("LOSE")) == 3, outs.toString)
    assert(Snapshots.liveFiles(t, 2).size == 1) // exactly the winner's line
  }

  test("object store emulation: 412 carries the winner etag; losers read the winner via GET") {
    val root = java.nio.file.Files.createTempDirectory("dirstore")
    val store = new graft.sources.DirObjectStore(root)
    val a = "first-body".getBytes("UTF-8")
    val b = "second-body".getBytes("UTF-8")
    val r1 = store.putIfNoneMatch("ns/key1", a)
    assert(r1 == graft.sources.DirObjectStore.Created(
      graft.sources.DirObjectStore.etagOf(a)))
    val r2 = store.putIfNoneMatch("ns/key1", b)
    assert(r2 == graft.sources.DirObjectStore.PreconditionFailed(
      graft.sources.DirObjectStore.etagOf(a)))
    // read-your-conflict: the loser fetches the WINNER's content
    assert(store.get("ns/key1").map(new String(_, "UTF-8")).contains("first-body"))
    assert(store.get("ns/missing").isEmpty && store.head("ns/missing").isEmpty)
    // keys cannot escape the store root
    intercept[IllegalArgumentException](store.putIfNoneMatch("../../escape", a))
  }

  // ---- per-manifest schema records: the additive gate ----

  test("schema gate: a retyped column append is rejected naming both types, before any bytes land") {
    val t = freshTable()
    Snapshots.commit(Seq((1L, "a")).toDF("id", "s"), t)
    val dataDirs = java.nio.file.Paths.get(t, "data")
    val before = java.nio.file.Files.list(dataDirs).count()
    val e = intercept[IllegalArgumentException] {
      Snapshots.commit(Seq(("2", "b")).toDF("id", "s"), t) // id bigint -> string
    }
    assert(e.getMessage.contains("'id'") && e.getMessage.contains("retyped"))
    assert(e.getMessage.contains("bigint") && e.getMessage.contains("string"))
    assert(Snapshots.currentVersion(t) == 1)
    // the gate fires BEFORE the data write — no orphan staged bytes
    assert(java.nio.file.Files.list(dataDirs).count() == before)
  }

  test("schema gate: dropping or renaming a parent column is rejected; additive append unchanged") {
    val t = freshTable()
    Snapshots.commit(Seq((1L, "a")).toDF("id", "s"), t)
    val drop = intercept[IllegalArgumentException] {
      Snapshots.commit(Seq(2L).toDF("id"), t) // drops s
    }
    assert(drop.getMessage.contains("drops") && drop.getMessage.contains("'s'"))
    // a rename is drop+add and trips the same guard
    val ren = intercept[IllegalArgumentException] {
      Snapshots.commit(Seq((2L, "b")).toDF("id", "s2"), t)
    }
    assert(ren.getMessage.contains("'s'"))
    // the additive path is untouched: new column appends fine
    Snapshots.commit(Seq((2L, "b", 9L)).toDF("id", "s", "extra"), t)
    assert(Snapshots.currentVersion(t) == 2)
  }

  test("schema gate: overwrite may reshape; later appends are gated on the NEW schema; rollback restores the old record") {
    val t = freshTable()
    Snapshots.commit(Seq((1L, "a")).toDF("id", "s"), t)
    Snapshots.commit(Seq(("x", 9L)).toDF("s", "n"), t, mode = "overwrite") // v2 reshapes
    val e = intercept[IllegalArgumentException] {
      Snapshots.commit(Seq((3L, "c")).toDF("id", "s"), t) // old shape vs new schema
    }
    assert(e.getMessage.contains("'n'")) // missing the new column
    Snapshots.commit(Seq(("y", 10L)).toDF("s", "n"), t) // v3, new shape appends
    // rollback to v1 carries v1's OWN schema record, so the old shape
    // appends again and the new shape is now the rejected one
    Snapshots.rollback(t, 1) // v4
    Snapshots.commit(Seq((4L, "d")).toDF("id", "s"), t) // v5
    assert(ids(Snapshots.read(spark, t)) == Seq(1L, 4L))
  }

  test("schema records survive pre-record manifests: checks degrade to unchecked, then resume") {
    val t = freshTable()
    // simulate a legacy manifest with no schema record
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(t, "_snapshots"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(t, "_snapshots", "v00000001.txt"),
      "version=1\nparent=0\nop=append\nts=0\n")
    assert(Snapshots.manifestSchema(t, 1).isEmpty)
    // append against a record-less parent is unchecked (old behavior)…
    Snapshots.commit(Seq((1L, "a")).toDF("id", "s"), t)
    // …and the new manifest records its schema, re-arming the gate
    assert(Snapshots.manifestSchema(t, 2).nonEmpty)
    intercept[IllegalArgumentException] {
      Snapshots.commit(Seq(("2", "b")).toDF("id", "s"), t)
    }
  }

  // ---- retypeRewrite: the explicit retype as a whole-table rewrite ----

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

  test("retypeRewrite guards: impossible casts refused; a lossless retype rewrites; NULLs pass") {
    val t = freshTable()
    Snapshots.commit(Seq((Some(1), Some(10)), (Some(2), None)).toDF("id", "v"), t)
    // a cast Spark cannot express at all
    val e1 = intercept[IllegalArgumentException](
      Snapshots.retypeRewrite(spark, t, "v", org.apache.spark.sql.types.BinaryType))
    assert(e1.getMessage.contains("no cast"))
    val e2 = intercept[IllegalArgumentException](
      Snapshots.retypeRewrite(spark, t, "v", org.apache.spark.sql.types.IntegerType))
    assert(e2.getMessage.contains("already has type"))
    // int -> long is lossless: it rewrites like any other retype and
    // every value, NULL included, round-trips
    assert(Snapshots.retypeRewrite(spark, t, "v", org.apache.spark.sql.types.LongType) == 2)
    val wide = Snapshots.read(spark, t)
    assert(wide.schema("v").dataType == org.apache.spark.sql.types.LongType)
    assert(wide.orderBy("id").select($"v").as[Option[Long]].collect().toSeq ==
      Seq(Some(10L), None))
    // NULLs survive a legitimate narrow (long -> short with small values)
    assert(Snapshots.retypeRewrite(spark, t, "v", org.apache.spark.sql.types.ShortType) == 3)
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
    // 1/3 does not survive the DECIMAL(10,2) round trip back to double
    val t2 = freshTable()
    Snapshots.commit(Seq((1, 1.0 / 3.0)).toDF("id", "v"), t2)
    val e = intercept[Exception](Snapshots.retypeRewrite(spark, t2, "v",
      org.apache.spark.sql.types.DataTypes.createDecimalType(10, 2)))
    assert(e.toString.contains("retypeRewrite") ||
      Option(e.getCause).exists(_.toString.contains("retypeRewrite")))
  }

  test("the implicit-append retype rejection names retypeRewrite") {
    val t = freshTable()
    Snapshots.commit(Seq((1, 10L)).toDF("id", "v"), t)
    val e = intercept[IllegalArgumentException](
      Snapshots.commit(Seq((2, 20)).toDF("id", "v"), t)) // int where table says long
    assert(e.getMessage.contains("retypeRewrite"))
  }
}

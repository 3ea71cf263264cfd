package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Versioned-snapshot table layout — the minimal lakehouse commit
  * protocol (Iceberg/Delta's core idea) from plain parquet + an
  * atomic manifest swap, with time travel, rollback, optimistic
  * concurrency, and vacuum.
  *
  * Layout:
  * {{{
  *   table/
  *     _snapshots/v00000001.txt   one manifest per committed version
  *     data/c1-<nonce>/part-*.parquet
  * }}}
  * A manifest is line-oriented (version / parent / op headers, then
  * one live data-file path per line — deliberately not JSON: nothing
  * to mis-parse, trivially diffable). The COMMIT is the atomic
  * hard-link publish of the next manifest into `_snapshots/`
  * (link() fails with EEXIST where rename() would silently replace
  * the race winner): readers resolve
  * the newest manifest and read exactly its file list, so they see
  * complete versions only — a half-written data directory is
  * invisible until its manifest lands (snapshot isolation), and two
  * racing writers cannot both win version N+1 (the second rename
  * fails loud — optimistic concurrency, retry by re-reading HEAD).
  *
  * Why it scales: readers never list data directories — one small
  * `_snapshots/` listing resolves HEAD, then the manifest IS the
  * file list (the object-store point: LIST on a 100 TB prefix is
  * the operation that doesn't scale; manifests make reads O(files
  * actually live)). Appends write only new files; overwrites write
  * new files and drop references (old bytes stay until `vacuum`,
  * which is what makes time travel free). The publish step is the
  * one storage-dependent piece and lives behind [[CommitPublisher]]:
  * hard-link no-clobber by default (single-filesystem), a
  * conditional-PUT adapter on S3-style stores (HTTP 412 maps to the
  * same EEXIST signal — the spec proves the protocol against the
  * staged conditional-PUT publisher [[ObjectStoreCommitPublisher]]
  * with racing writers in separate threads and separate JVMs).
  * Schema evolution is ADDITIVE plus the explicit metadata-only
  * verbs [[rename]] (same id, new name), [[drop]] (retire the id;
  * rebirth mints a fresh one with NULL history), and [[widen]]
  * (lossless type widening; old files upcast at scan), plus the one
  * deliberately NON-metadata verb [[retypeRewrite]] (lossy retype as
  * an explicit round-trip-guarded whole-table COW rewrite) — and
  * ENFORCED: each manifest records its writer schema WITH stable
  * column ids, an append that retypes or drops a parent column
  * fails loud naming the offense and the right verb
  * ([[requireAdditive]]), and the read path reconciles the full
  * history across old files; `read(mergeSchema =
  * true)` resolves the additive union schema. Manifests CAN
  * carry
  * per-file integral column envelopes (`commit(statsCols = …)`), and
  * `readPruned` turns them into zone-map file skipping — skipped
  * only on provably disjoint envelopes, so pruning is never lossy.
  */
object Snapshots {

  private val SnapDir = "_snapshots"

  private def snapPath(tableDir: String): Path = Paths.get(tableDir, SnapDir)

  private def manifestPath(tableDir: String, v: Int): Path =
    snapPath(tableDir).resolve(f"v$v%08d.txt")

  /** Newest committed version, 0 if the table is empty/new. */
  def currentVersion(tableDir: String): Int = {
    val dir = snapPath(tableDir)
    if (!Files.isDirectory(dir)) return 0
    Files.list(dir).iterator().asScala
      .map(_.getFileName.toString)
      .collect { case s if s.matches("v\\d{8}\\.txt") => s.substring(1, 9).toInt }
      .foldLeft(0)(math.max)
  }

  // header lines are exactly these keys — file PATHS may legally
  // contain '=' (hive-style bin=0/ dirs), so discrimination must be
  // by known key, never by "contains a '='"
  private val HeaderKeys = Seq("version", "parent", "op", "tag", "ts", "schema", "retired")

  /** Raw file lines of `version`'s manifest: `<path>` optionally
    * followed by tab-separated `<col>=<min>:<max>` integral stats.
    * Fails loud on a vacuumed-away or never-committed version. */
  private def fileLines(tableDir: String, version: Int): Seq[String] = {
    val p = manifestPath(tableDir, version)
    require(Files.exists(p),
      s"Snapshots: version $version of $tableDir does not exist " +
        "(never committed, or its manifest was removed)")
    Files.readAllLines(p).asScala.toSeq
      .filterNot(l => l.startsWith("#") || l.isEmpty)
      .filterNot(l => HeaderKeys.exists(k => l.startsWith(k + "=")))
  }

  /** Live data file paths of `version`. */
  def liveFiles(tableDir: String, version: Int): Seq[String] =
    fileLines(tableDir, version).map(_.split('\t')(0))

  /** Per-file column stats of `version`: path → (col → (min, max)).
    * Files committed without `statsCols` carry an empty map. Bloom
    * parts (`bloom:` prefix) and deletion-vector parts (`dv:`) are
    * separate namespaces — skipped here (neither parses as
    * `col=min:max` anyway; the filter is for clarity), parsed by
    * [[prunedFilesEq]] / [[dvRefs]]. */
  def fileStats(tableDir: String, version: Int): Seq[(String, Map[String, (Long, Long)])] =
    fileLines(tableDir, version).map { line =>
      val parts = line.split('\t')
      val stats = parts.drop(1)
        .filterNot(s => s.startsWith("bloom:") || s.startsWith("dv:")).flatMap { s =>
        val eq = s.indexOf('='); val co = s.indexOf(':', eq)
        if (eq < 0 || co < 0) None
        else Some(s.substring(0, eq) ->
          (s.substring(eq + 1, co).toLong, s.substring(co + 1).toLong))
      }.toMap
      (parts(0), stats)
    }

  private def headerValue(lines: Seq[String], key: String): Option[String] =
    lines.find(_.startsWith(s"$key=")).map(_.substring(key.length + 1))

  /** Commit `df` as the next version. `mode` is "append" (new files
    * join the previous version's) or "overwrite" (new files replace
    * them). Returns the committed version. Throws
    * `FileAlreadyExistsException` if another writer won the version
    * race — re-read HEAD and retry. */
  def commit(df: DataFrame, tableDir: String, mode: String = "append",
             tag: Option[String] = None, statsCols: Seq[String] = Nil,
             bloomCols: Seq[String] = Nil, bloomExpectedItems: Long = 10000L,
             bloomFpp: Double = 0.03): Int = {
    require(mode == "append" || mode == "overwrite",
      s"mode must be append|overwrite, got '$mode'")
    Files.createDirectories(snapPath(tableDir))
    val prev = currentVersion(tableDir)
    val v = prev + 1
    // schema gate BEFORE the data write — a rejected commit leaves no
    // orphan bytes. Appends only: they carry the parent's files, so a
    // retype/rename would poison the union read; an overwrite replaces
    // every live file and may legitimately reshape the table.
    if (mode == "append" && prev > 0) checkAdditiveAgainst(tableDir, prev, df.schema)
    // both modes: a new column may never reuse a renamed-away name
    // (it would alias into the WRONG id under read reconciliation)
    if (prev > 0) requireNoAliasReuse(tableDir, prev, df.schema)
    // data lands under a nonce'd dir so a racing loser's files never
    // collide with the winner's; unreferenced ones are vacuum fodder
    val nonce = java.util.UUID.randomUUID.toString.take(8)
    val dataDir = Paths.get(tableDir, "data", s"c$v-$nonce")
    df.write.parquet(dataDir.toString)
    val newFiles = Files.list(dataDir).iterator().asScala
      .map(_.toString).filter(_.matches(".*part-.*\\.parquet")).toSeq.sorted
    val statLined =
      if (statsCols.isEmpty) newFiles
      else statLines(df.sparkSession, newFiles, statsCols)
    val newLines =
      if (bloomCols.isEmpty) statLined
      else statLined.map(l =>
        withBloomParts(df.sparkSession, l, bloomCols, bloomExpectedItems, bloomFpp))
    // append carries the previous version's full lines — stats travel
    // with their files
    val carried0 = if (mode == "append" && prev > 0) fileLines(tableDir, prev) else Seq.empty
    // the recorded schema carries stable column ids (parent's by
    // name, fresh above-max — live AND retired — for new columns)
    // with the full alias history folded in, so the record is
    // self-contained across vacuum
    val parentJson = if (prev > 0) manifestSchema(tableDir, prev) else None
    val retiredJson = if (prev > 0) manifestRetired(tableDir, prev) else None
    val recordSchema = foldAliases(tableDir, prev,
      schemaWithIds(parentJson, df.schema, retiredJson))
    val carried = rebirthMarked(carried0, recordSchema, parentJson, retiredJson)
    writeManifest(tableDir, v, prev, mode, carried ++ newLines, tag,
      schema = Some(recordSchema.json))
    v
  }

  /** Stamp `null:<id>` markers for REBORN columns — fresh ids whose
    * name matches a RETIRED column's name history — onto every
    * carried line: those files predate the rebirth, and whatever
    * physical bytes they hold under that name belong to the dropped
    * column, so reads must surface NULL (fresh column, NULL history).
    * Lines travel whole through later commits, so the markers are as
    * vacuum-proof as the stats. */
  private def rebirthMarked(carried: Seq[String],
                            record: org.apache.spark.sql.types.StructType,
                            parentJson: Option[String],
                            retiredJson: Option[String]): Seq[String] = {
    if (carried.isEmpty || retiredJson.isEmpty) return carried
    val parentNames = parentJson.map(parseStruct).map(_.fieldNames.toSet).getOrElse(Set.empty)
    val retiredNames = retiredJson.map(parseStruct)
      .map(_.fields.flatMap(f => aliasesOf(f).toSet + f.name).toSet)
      .getOrElse(Set.empty[String])
    val rebornIds = record.fields
      .filter(f => !parentNames.contains(f.name) && retiredNames.contains(f.name))
      .flatMap(colIdOf)
    if (rebornIds.isEmpty) carried
    else carried.map(l => (l +: rebornIds.map(id => s"null:$id").toSeq).mkString("\t"))
  }

  /** Append per-file Bloom parts (`bloom:<col>=<base64>`) to a
    * manifest line — equality file-skipping for STRING columns, the
    * complement of the integral zone maps (ranges prune sorted data;
    * blooms prune point lookups on high-cardinality strings, where
    * min/max envelopes are useless). One
    * `org.apache.spark.util.sketch.BloomFilter` per (file, col),
    * built from that file's values; no false negatives by
    * construction, so pruning can never drop a row. Sized by the
    * caller (`bloomExpectedItems`/`bloomFpp` ≈ file row count / the
    * acceptable extra-read rate). Non-string columns fail loud —
    * integral columns belong in `statsCols`. Base64 carries no tab,
    * newline, ':' or leading '=', so the parts coexist with stat
    * parts on the same line (and [[fileStats]] skips the namespace
    * explicitly). The per-file build mirrors `statLines`' read-back
    * pass — the cost real formats fold into the writer. */
  private def withBloomParts(spark: SparkSession, line: String, bloomCols: Seq[String],
                             expectedItems: Long, fpp: Double): String = {
    val path = line.split('\t')(0)
    val df = spark.read.parquet(path)
    val parts = bloomCols.map { c =>
      require(df.schema(c).dataType == org.apache.spark.sql.types.StringType,
        s"Snapshots: bloom stats support STRING columns ('$c' is " +
          s"${df.schema(c).dataType.catalogString}); integral columns belong in statsCols")
      val bf = df.stat.bloomFilter(c, expectedItems, fpp)
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      s"bloom:$c=${java.util.Base64.getEncoder.encodeToString(bos.toByteArray)}"
    }
    (line +: parts).mkString("\t")
  }

  /** The file paths of `version` that MAY contain `col = value` —
    * per-file Bloom probing: a file is skipped only when its filter
    * answers "definitely absent"; files without a bloom for `col`
    * are always kept. Package-visible so the spec can measure. */
  private[graft] def prunedFilesEq(tableDir: String, version: Int,
                                   c: String, value: String): Seq[String] = {
    val prefix = s"bloom:$c="
    fileLines(tableDir, version).flatMap { line =>
      val parts = line.split('\t')
      parts.drop(1).find(_.startsWith(prefix)) match {
        case None => Some(parts(0))
        case Some(p) =>
          val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
            new java.io.ByteArrayInputStream(
              java.util.Base64.getDecoder.decode(p.substring(prefix.length))))
          if (bf.mightContainString(value)) Some(parts(0)) else None
      }
    }
  }

  /** The file paths of `version` that can contain a row inside the
    * BOX — the conjunction of per-column ranges: a file is skipped
    * when ANY column's recorded envelope is disjoint from its range
    * (each skip is individually provable, so the conjunction is
    * never lossy; stat-less columns never skip). Package-visible so
    * the spec can measure. */
  private[graft] def prunedFilesBox(tableDir: String, version: Int,
                                    box: Seq[(String, Long, Long)]): Seq[String] = {
    // raw bounds fold into each column's encoded space (see
    // boundEncoder) before the envelope comparison
    val encBox = box.map { case (c, lo, hi) =>
      val enc = boundEncoder(tableDir, version, c)
      (c, enc(lo), enc(hi))
    }
    fileStats(tableDir, version).collect {
      case (path, stats) if encBox.forall { case (c, lo, hi) =>
        stats.get(c).forall { case (mn, mx) => mx >= lo && mn <= hi }
      } => path
    }
  }

  /** Box read: conjunctive range predicates over several columns
    * with manifest-stat file skipping on EVERY dimension — the query
    * shape `optimizeZOrder` lays data out for (a z-clustered file
    * covers a tight hyper-rectangle, so a small box intersects few
    * envelopes; a single-column sort can only ever prune its leading
    * column). Equals the unpruned conjunctive filter by
    * construction. */
  def readPrunedBox(spark: SparkSession, tableDir: String,
                    box: Seq[(String, Long, Long)], version: Int = -1): DataFrame = {
    import org.apache.spark.sql.functions.col
    require(box.nonEmpty, "box needs at least one (column, lo, hi) range")
    val v = if (version >= 0) version else currentVersion(tableDir)
    require(v > 0, s"Snapshots: $tableDir has no committed versions")
    val pred = box.map { case (c, lo, hi) => col(c).between(lo, hi) }.reduce(_ && _)
    val files = prunedFilesBox(tableDir, v, box)
    if (files.isEmpty) read(spark, tableDir, v).where(pred).limit(0)
    else reconciledScan(spark, tableDir, v, files).where(pred) // alias-safe (see readPruned)
  }

  /** Point-lookup read with Bloom file skipping: reads only files
    * whose filter may contain `value`, then applies the exact
    * predicate. Equals the unpruned filtered read by construction
    * (no false negatives; false positives only read extra). */
  def readPrunedEq(spark: SparkSession, tableDir: String, c: String,
                   value: String, version: Int = -1): DataFrame = {
    import org.apache.spark.sql.functions.col
    val v = if (version >= 0) version else currentVersion(tableDir)
    require(v > 0, s"Snapshots: $tableDir has no committed versions")
    val files = prunedFilesEq(tableDir, v, c, value)
    if (files.isEmpty) read(spark, tableDir, v).where(col(c) === value).limit(0)
    else reconciledScan(spark, tableDir, v, files).where(col(c) === value) // alias-safe
  }

  /** Order-preserving Long encoding of a collected stat value — the
    * typed-zone-map seam (r11 verdict item #8): manifest envelopes
    * stay plain `col=min:max` longs, and EVERY supported type maps
    * through a strictly monotone function, so encoded-interval
    * disjointness ⇔ value-interval disjointness and pruning is never
    * lossy. Integral → identity; date → epoch days; timestamp →
    * epoch micros; float/double → sign-folded IEEE bits (negatives
    * map to −magnitude: monotone, NaN canonicalizes ABOVE +Inf —
    * matching Spark's NaN-is-greatest aggregate ordering, so a
    * NaN-carrying file's envelope stays conservative). Unsupported
    * types fail loud at COMMIT time naming the alternatives.
    *
    * MIGRATION NOTE (r11→r12 behavior change, flagged by the r12
    * advice): before typed zone maps, a non-encodable statsCols entry
    * (e.g. a string id) silently recorded NO stat; it now fails the
    * commit loudly. An ingest job that listed such a column must drop
    * it from statsCols (it never produced an envelope anyway) or move
    * it to bloomCols, which is the membership structure strings
    * actually want. The loud failure is deliberate — a silently
    * stat-less column reads as "committed with stats" to every
    * downstream pruning consumer. */
  private[graft] def encodeStat(v: Any, c: String): Option[Long] = v match {
    case null => None
    case b: java.lang.Byte => Some(b.longValue)
    case s: java.lang.Short => Some(s.longValue)
    case i: java.lang.Integer => Some(i.longValue)
    case l: java.lang.Long => Some(l.longValue)
    case d: java.sql.Date => Some(d.toLocalDate.toEpochDay)
    case d: java.time.LocalDate => Some(d.toEpochDay)
    case t: java.sql.Timestamp => // floorDiv: pre-epoch seconds floor, not truncate
      Some(Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
    case t: java.time.Instant =>
      Some(java.time.temporal.ChronoUnit.MICROS.between(java.time.Instant.EPOCH, t))
    case t: java.time.LocalDateTime => // TIMESTAMP_NTZ: micros as-if-UTC
      Some(java.time.temporal.ChronoUnit.MICROS.between(
        java.time.LocalDateTime.of(1970, 1, 1, 0, 0), t))
    case f: java.lang.Float => Some(orderedDoubleBits(f.doubleValue))
    case d: java.lang.Double => Some(orderedDoubleBits(d.doubleValue))
    case other => throw new IllegalArgumentException(
      s"Snapshots: statsCols('$c') got unsupported ${other.getClass.getSimpleName} — " +
        "supported: integral, date, timestamp(_ntz), float, double; " +
        "high-cardinality strings belong in bloomCols")
  }

  /** Strictly monotone double → signed-long fold: non-negative
    * doubles keep their IEEE bits (already increasing); negatives map
    * to minus-magnitude (more negative double → larger magnitude →
    * smaller long). −0.0 and +0.0 both map to 0 — numerically equal,
    * so envelopes lose nothing. */
  private[graft] def orderedDoubleBits(d: Double): Long = {
    val bits = java.lang.Double.doubleToLongBits(d)
    if (bits >= 0) bits else -(bits & Long.MaxValue)
  }

  /** Per-file min/max manifest lines for the just-written files —
    * one read-back aggregate over the NEW files only (the zone-map
    * pass real formats fold into the writer). min/max run in each
    * column's NATIVE type and the two resulting values encode
    * through [[encodeStat]] — so date/timestamp/double columns get
    * first-class envelopes (event-time pruning at 100 TB), while the
    * manifest format stays plain longs. An all-NULL file records no
    * stat for that column and pruning stays conservative. */
  private def statLines(spark: SparkSession,
                        newFiles: Seq[String], statsCols: Seq[String]): Seq[String] = {
    import org.apache.spark.sql.functions._
    // the read-back pass also records each file's ROW COUNT
    // (`rows=<n>` part — no ':' so the min/max parser skips it):
    // metadata-only COUNT(*) / incremental sizing come free with it
    val aggs = statsCols.flatMap(c => Seq(
      min(col(c)).as(s"__min_$c"), max(col(c)).as(s"__max_$c"))) :+
      count(lit(1)).as("__rows")
    // explicit file list, not a directory read: optimize's staging dir
    // nests bin=/dvbake= subdirs whose mixed keys partition discovery
    // would reject, and the commit path's newFiles are the same set
    val rows = spark.read.parquet(newFiles: _*)
      .groupBy(input_file_name().as("__f")).agg(aggs.head, aggs.tail: _*)
      .collect() // one row per new file — listing-sized
    val byPath = rows.map { r =>
      val path = Paths.get(new java.net.URI(r.getString(0))).toString
      val stats = statsCols.flatMap { c =>
        val mi = encodeStat(r.getAs[Any](s"__min_$c"), c)
        val ma = encodeStat(r.getAs[Any](s"__max_$c"), c)
        (mi, ma) match {
          case (Some(a), Some(b)) => Some(s"$c=$a:$b")
          case _ => None
        }
      } :+ s"rows=${r.getAs[Long]("__rows")}"
      path -> stats
    }.toMap
    // a file that produced no groupBy row is EMPTY (zero rows)
    newFiles.map(f => (f +: byPath.getOrElse(f, Seq("rows=0"))).mkString("\t"))
  }

  /** Typed-bound pruned read: the [[readPruned]] shape for ANY
    * stats-supported column type — `lo`/`hi` are VALUES of the
    * column's type (java.sql.Timestamp / Date / Double / Long …),
    * encoded through the same monotone map the commit used, so file
    * skipping is provably conservative; the exact BETWEEN predicate
    * applies with the original typed literals. */
  def readPrunedTyped(spark: SparkSession, tableDir: String, c: String,
                      lo: Any, hi: Any, version: Int = -1): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val v = if (version >= 0) version else currentVersion(tableDir)
    require(v > 0, s"Snapshots: $tableDir has no committed versions")
    val loE = encodeStat(lo, c).getOrElse(
      throw new IllegalArgumentException(s"Snapshots: readPrunedTyped null lo bound"))
    val hiE = encodeStat(hi, c).getOrElse(
      throw new IllegalArgumentException(s"Snapshots: readPrunedTyped null hi bound"))
    val pred = col(c).between(lit(lo), lit(hi))
    val files = prunedFilesEncoded(tableDir, v, c, loE, hiE)
    if (files.isEmpty) read(spark, tableDir, v).where(pred).limit(0)
    else reconciledScan(spark, tableDir, v, files).where(pred) // alias-safe (see readPruned)
  }

  /** Per-file row counts of `version`: path → rows, for files whose
    * commit recorded them (`statsCols` commits do). */
  def fileRowCounts(tableDir: String, version: Int): Seq[(String, Option[Long])] =
    fileLines(tableDir, version).map { line =>
      val parts = line.split('\t')
      (parts(0), parts.drop(1).find(_.startsWith("rows=")).map(_.substring(5).toLong))
    }

  /** Metadata-only COUNT(*): the sum of per-file row counts — zero
    * data IO, the classic stats-pushdown answer. Fails loud when any
    * live file lacks a recorded count (committed without stats):
    * guessing would silently undercount. */
  def countRows(tableDir: String, version: Int = -1): Long = {
    val v = if (version >= 0) version else currentVersion(tableDir)
    require(v > 0, s"Snapshots: $tableDir has no committed versions")
    // MOR deletes subtract exactly: each delete's positions were
    // computed over the MOR read (already-deleted rows invisible), so
    // a file's DV counts are disjoint across deletes and additive
    val dv = dvCounts(tableDir, v)
    fileRowCounts(tableDir, v).map {
      case (path, Some(n)) => n - dv.getOrElse(path, 0L)
      case (path, None) => throw new IllegalArgumentException(
        s"Snapshots: countRows needs per-file row counts but $path was committed " +
          "without stats — re-commit with statsCols (or count by scanning)")
    }.sum
  }

  /** Metadata-only MIN/MAX of an integral column: folded from the
    * per-file envelopes — exact, because each envelope is the exact
    * min/max of its file. Fails loud when any live NON-EMPTY file
    * lacks the column's stat (empty files constrain nothing). */
  def minMaxFromStats(tableDir: String, c: String, version: Int = -1): (Long, Long) = {
    val v = if (version >= 0) version else currentVersion(tableDir)
    require(v > 0, s"Snapshots: $tableDir has no committed versions")
    // a DV-masked file's envelope is still a valid BOUND (pruning
    // stays conservative) but may no longer be ATTAINED — the row
    // holding the min may be deleted. This verb promises exactness,
    // so it refuses rather than silently over-reporting the range.
    val dv = dvCounts(tableDir, v)
    require(dv.isEmpty,
      s"Snapshots: minMaxFromStats('$c') on $tableDir@v$v — ${dv.size} live file(s) " +
        "carry merge-on-read deletion vectors, so recorded envelopes may not be " +
        "attained; run optimize() to bake the DVs first, or compute by scanning")
    // typed zone maps store ENCODED envelopes (epoch days/micros,
    // sign-folded double bits) — valid for pruning, but this verb
    // returns VALUES and promises exactness, so it stays
    // integral-only; a record schema that knows better refuses loud
    manifestSchema(tableDir, v).map(parseStruct).foreach { st =>
      st.fields.find(_.name == c).map(_.dataType).foreach {
        case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => ()
        case dt => throw new IllegalArgumentException(
          s"Snapshots: minMaxFromStats('$c') is integral-only (column is " +
            s"${dt.catalogString}); typed envelopes serve PRUNING " +
            "(readPrunedTyped) — compute value min/max by scanning")
      }
    }
    val counts = fileRowCounts(tableDir, v).toMap
    val envs = fileStats(tableDir, v).flatMap { case (path, stats) =>
      stats.get(c) match {
        case Some(mm) => Some(mm)
        case None if counts.get(path).flatten.contains(0L) => None // empty file
        case None =>
          // a stats-commit records every requested column unless the
          // file's values are all NULL / non-integral — either way
          // the true min/max is unknowable from metadata
          throw new IllegalArgumentException(
            s"Snapshots: minMaxFromStats('$c') — $path carries no envelope for it " +
              "(committed without that statsCol, or the file has no castable values)")
      }
    }
    require(envs.nonEmpty, s"Snapshots: no '$c' envelopes in version $v (empty table?)")
    (envs.map(_._1).min, envs.map(_._2).max)
  }

  /** Long-bound → encoded-bound translator for the RAW pruning API:
    * integral/date/timestamp columns take raw longs in their encoded
    * units already (values / epoch days / epoch micros — identity),
    * but float/double envelopes are stored as sign-folded IEEE bits,
    * so a raw numeric bound must fold the same way or pruning would
    * silently compare values against bit patterns (caught by the
    * z-order spec the moment typed stats landed). Record-less
    * manifests keep the legacy identity. */
  private def boundEncoder(tableDir: String, version: Int, c: String): Long => Long =
    manifestSchema(tableDir, version).map(parseStruct)
      .flatMap(_.fields.find(_.name == c)).map(_.dataType) match {
      case Some(org.apache.spark.sql.types.DoubleType) |
           Some(org.apache.spark.sql.types.FloatType) =>
        (v: Long) => orderedDoubleBits(v.toDouble)
      case _ => identity
    }

  /** The file paths of `version` that can contain rows with
    * `col` in [lo, hi] — manifest-stat pruning: a file is skipped
    * ONLY when its recorded envelope is disjoint from the range;
    * files without a stat for `col` are always kept (no false
    * skipping, ever). Raw long bounds are interpreted in the
    * column's VALUE space (see [[boundEncoder]]). Package-visible so
    * the spec can measure. */
  private[graft] def prunedFiles(tableDir: String, version: Int,
                                 c: String, lo: Long, hi: Long): Seq[String] = {
    val enc = boundEncoder(tableDir, version, c)
    prunedFilesEncoded(tableDir, version, c, enc(lo), enc(hi))
  }

  /** [[prunedFiles]] with bounds ALREADY in the encoded space —
    * what [[readPrunedTyped]] produces via [[encodeStat]]. */
  private def prunedFilesEncoded(tableDir: String, version: Int,
                                 c: String, lo: Long, hi: Long): Seq[String] =
    fileStats(tableDir, version).collect {
      case (path, stats) if stats.get(c).forall { case (mn, mx) => mx >= lo && mn <= hi } => path
    }

  /** Range read with manifest-stat file skipping: reads only files
    * whose envelope intersects [lo, hi], then applies the exact
    * predicate. Equals the unpruned filtered read by construction. */
  def readPruned(spark: SparkSession, tableDir: String, c: String,
                 lo: Long, hi: Long, version: Int = -1): DataFrame = {
    import org.apache.spark.sql.functions.col
    val v = if (version >= 0) version else currentVersion(tableDir)
    require(v > 0, s"Snapshots: $tableDir has no committed versions")
    val files = prunedFiles(tableDir, v, c, lo, hi)
    if (files.isEmpty) read(spark, tableDir, v).where(col(c).between(lo, hi)).limit(0)
    // reconciledScan, not a raw read: after a rename, pre-rename files
    // carry the old physical name and a raw read filtered on the
    // current name would silently drop their rows (r9 advice). Stats
    // key on physical names, so alias-era files are never skipped
    // (no stat for the current name -> always kept) — pruning stays
    // conservative and the predicate applies to the reconciled column.
    else reconciledScan(spark, tableDir, v, files).where(col(c).between(lo, hi))
  }

  /** Tags of every retained committed version — the idempotence
    * ledger a streaming sink consults before re-committing a
    * replayed micro-batch. O(retained versions) small-file reads of
    * the manifest directory only. */
  def committedTags(tableDir: String): Set[String] = {
    val dir = snapPath(tableDir)
    if (!Files.isDirectory(dir)) return Set.empty
    Files.list(dir).iterator().asScala
      .filter(_.getFileName.toString.matches("v\\d{8}\\.txt"))
      .flatMap(p => headerValue(Files.readAllLines(p).asScala.toSeq, "tag"))
      .toSet
  }

  /** Make `version`'s file list the new HEAD (as a NEW version —
    * history is never rewritten). */
  def rollback(tableDir: String, version: Int): Int = {
    val lines = fileLines(tableDir, version) // loud if missing; stats travel
    val prev = currentVersion(tableDir)
    val v = prev + 1
    // the restored version's OWN schema record travels with its file
    // list — carrying the parent's would mislabel the rollback when
    // HEAD was a reshaping overwrite
    publishOrConflict(tableDir, prev, s"rollback($version)", lines,
      schema = manifestSchema(tableDir, version))
    v
  }

  /** The active publish primitive — swappable because it is the one
    * storage-dependent step of the protocol ([[CommitPublisher]]):
    * hard-link no-clobber by default, a conditional-PUT adapter on
    * object stores, a race-injecting test double in the spec. */
  @volatile private var commitPublisher: CommitPublisher = LinkCommitPublisher

  /** Swap the commit publisher; returns the previous one so callers
    * (tests, an object-store deployment's init) can restore it. */
  def setCommitPublisher(p: CommitPublisher): CommitPublisher = {
    val prev = commitPublisher
    commitPublisher = p
    prev
  }

  /** The atomic commit primitive: publish version `v`'s manifest via
    * the active [[CommitPublisher]] (no-clobber — EEXIST when a
    * racing writer already won `v`). Package-private so the spec can
    * drive the version race directly (two writers racing for the
    * same v — the window `commit` itself cannot reopen
    * deterministically). `schema` records the writer schema (json) in
    * the manifest; when None, the parent's record is carried so
    * schema history survives rollback/optimize/COW rewrites that
    * never change it. */
  private[graft] def writeManifest(tableDir: String, v: Int, parent: Int,
                                   op: String, files: Seq[String],
                                   tag: Option[String] = None,
                                   schema: Option[String] = None,
                                   retired: Option[String] = None): Unit = {
    tag.foreach(t => require(!t.contains("\n") && t.nonEmpty, s"bad tag: '$t'"))
    val sch = schema.orElse(if (parent > 0) manifestSchema(tableDir, parent) else None)
    sch.foreach(s => require(!s.contains("\n"), "schema record must be single-line json"))
    // the retired-column record folds forward like the schema record:
    // every manifest is self-contained, so vacuum can never expire
    // the drop history a live read still needs
    val ret = retired.orElse(if (parent > 0) manifestRetired(tableDir, parent) else None)
    ret.foreach(s => require(!s.contains("\n"), "retired record must be single-line json"))
    val body = (Seq(s"version=$v", s"parent=$parent", s"op=$op",
      s"ts=${System.currentTimeMillis}") ++
      tag.map(t => s"tag=$t").toSeq ++
      sch.map(s => s"schema=$s").toSeq ++
      ret.map(s => s"retired=$s").toSeq ++ files)
      .mkString("", "\n", "\n")
    commitPublisher.publish(manifestPath(tableDir, v), body)
  }

  /** Recorded RETIRED-column record (json StructType of every column
    * ever dropped, each field still carrying its column id and alias
    * history in metadata) — folded forward into every manifest like
    * the schema record, so it survives vacuum. */
  def manifestRetired(tableDir: String, version: Int): Option[String] = {
    val p = manifestPath(tableDir, version)
    if (!Files.exists(p)) None
    else headerValue(Files.readAllLines(p).asScala.toSeq, "retired")
  }

  /** Recorded writer schema (json) of `version`'s manifest, if any —
    * manifests from before schema records carry none, and every check
    * degrades to the old unchecked behavior for them. */
  def manifestSchema(tableDir: String, version: Int): Option[String] = {
    val p = manifestPath(tableDir, version)
    if (!Files.exists(p)) None
    else headerValue(Files.readAllLines(p).asScala.toSeq, "schema")
  }

  /** Additive-evolution gate for appends: every column shared with
    * the parent schema must keep its exact type (a retype would make
    * the carried old files and the new ones disagree under the union
    * read — fail loud naming both types), and no parent column may
    * disappear (a rename looks like drop+add; additive-only evolution
    * tracks neither — write NULLs for a retired column instead).
    * Adding new columns is the additive path and passes untouched. */
  private[graft] def requireAdditive(parent: org.apache.spark.sql.types.StructType,
                                     next: org.apache.spark.sql.types.StructType,
                                     tableDir: String): Unit = {
    val pTypes = parent.fields.map(f => f.name -> f.dataType).toMap
    next.fields.foreach { f =>
      pTypes.get(f.name).filter(_ != f.dataType).foreach { pt =>
        throw new IllegalArgumentException(
          s"Snapshots: column '${f.name}' retyped ${pt.catalogString} -> " +
            s"${f.dataType.catalogString} in append to $tableDir — appends are " +
            "ADDITIVE-only (new columns). Intentional lossless widening is " +
            "Snapshots.widen() (metadata-only; then append with the wide type); " +
            "an intentional lossy retype is Snapshots.retypeRewrite() (explicit " +
            "whole-table COW rewrite, round-trip-guarded); anything else needs " +
            "an explicit cast into a NEW column or table")
      }
    }
    val dropped = parent.fieldNames.filterNot(next.fieldNames.contains)
    if (dropped.nonEmpty) throw new IllegalArgumentException(
      s"Snapshots: append to $tableDir drops parent column(s) " +
        dropped.mkString("'", "', '", "'") +
        " — an append may not drop implicitly (keep the column; NULLs are fine). " +
        "Intentional retirement is Snapshots.drop(), intentional renaming is " +
        "Snapshots.rename() — both metadata-only verbs that track the column id")
  }

  // ---- column ids: rename-capable schema evolution (r8 item #4) ----
  //
  // Every schema record now carries a stable per-column id in the
  // field metadata (the Iceberg idea: names are labels, ids are
  // identity). Ids make RENAME a metadata-only commit — same files,
  // same id, new name — and make the read path reconcile old files'
  // physical names onto the current name. DROP (r10) retires the id
  // into the fold-forward retired record, and WIDEN (r10) retypes
  // losslessly with scan-time upcast; IMPLICIT retype/drop on append
  // stays rejected-with-message naming the right verb. Scope note:
  // zone-map
  // stats and bloom parts key on PHYSICAL column names inside
  // manifest lines; a rename does not rewrite history, so pruned
  // reads keep working on files written before the rename only via
  // their old physical names — readPruned predicates therefore take
  // the CURRENT name and are documented to skip alias-era stats.

  private val ColIdKey = "graft.col_id"
  // full alias history of the column id, IN the field metadata of
  // every schema record (r9 advice, the high item): the id→name
  // history used to live only in pre-rename manifests, which a
  // vacuum past the rename point silently expired — after which
  // pre-rename files' values surfaced as NULL under the current
  // name. Folding the history forward into each new record makes
  // every manifest self-contained; the chain walk below survives
  // only as the upgrade path for records written before the fold.
  private val AliasKey = "graft.col_aliases"
  // physical types this column's LIVE files may still hold narrower
  // than the record type (set by widen(), folded forward like the
  // alias history — the record stays self-contained across vacuum)
  private val WidenKey = "graft.col_widened_from"

  private def colIdOf(f: org.apache.spark.sql.types.StructField): Option[Long] =
    if (f.metadata.contains(ColIdKey)) Some(f.metadata.getLong(ColIdKey)) else None

  private def widenedFrom(f: org.apache.spark.sql.types.StructField): Seq[String] =
    if (f.metadata.contains(WidenKey)) f.metadata.getStringArray(WidenKey).toSeq
    else Seq.empty

  private def withWidenedFrom(f: org.apache.spark.sql.types.StructField,
                              types: Set[String]): org.apache.spark.sql.types.StructField =
    if (types.isEmpty) f
    else f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
      .withMetadata(f.metadata).putStringArray(WidenKey, types.toArray.sorted).build())

  /** Erase a column's widen history — for the rewrite verbs that bake
    * every physical byte to the record type (retypeRewrite): stale
    * history would route reads through the upcast path for
    * nothing. */
  private def clearWidenedFrom(
      f: org.apache.spark.sql.types.StructField): org.apache.spark.sql.types.StructField =
    if (!f.metadata.contains(WidenKey)) f
    else f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
      .withMetadata(f.metadata).remove(WidenKey).build())

  private def aliasesOf(f: org.apache.spark.sql.types.StructField): Seq[String] =
    if (f.metadata.contains(AliasKey)) f.metadata.getStringArray(AliasKey).toSeq
    else Seq.empty

  private def withAliases(f: org.apache.spark.sql.types.StructField,
                          aliases: Set[String]): org.apache.spark.sql.types.StructField =
    if (aliases.isEmpty) f
    else f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
      .withMetadata(f.metadata).putStringArray(AliasKey, aliases.toArray.sorted).build())

  private def parseStruct(json: String): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.DataType.fromJson(json)
      .asInstanceOf[org.apache.spark.sql.types.StructType]

  /** Assign column ids for the next schema record: columns sharing a
    * name with the parent record keep the parent's id (and inherit
    * its folded alias history); new columns get fresh ids above the
    * max of every id EVER minted — live or retired, so a reborn name
    * can never collide with the id it replaced. A parent without ids
    * (pre-upgrade manifest) initializes ids 1..n — upgrades are one
    * commit away, never a migration. */
  private[graft] def schemaWithIds(parentJson: Option[String],
                                   next: org.apache.spark.sql.types.StructType,
                                   retiredJson: Option[String] = None)
      : org.apache.spark.sql.types.StructType = {
    val pFields: Map[String, org.apache.spark.sql.types.StructField] =
      parentJson.map(parseStruct)
        .map(_.fields.flatMap(f => colIdOf(f).map(_ => f.name -> f)).toMap)
        .getOrElse(Map.empty)
    val retiredIds: Seq[Long] = retiredJson.map(parseStruct)
      .map(_.fields.flatMap(colIdOf).toSeq).getOrElse(Seq.empty)
    var nextId = (pFields.values.flatMap(colIdOf) ++ retiredIds ++ Seq(0L)).max
    org.apache.spark.sql.types.StructType(next.fields.map { f =>
      pFields.get(f.name) match {
        case Some(pf) =>
          // the widen history folds forward like the alias history:
          // an append after a widen must keep knowing the old files
          // hold narrow bytes
          withWidenedFrom(withAliases(
            f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
              .withMetadata(f.metadata).putLong(ColIdKey, colIdOf(pf).get).build()),
            aliasesOf(pf).toSet), widenedFrom(pf).toSet)
        case None =>
          nextId += 1
          f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata).putLong(ColIdKey, nextId).build())
      }
    })
  }

  /** id → every name it ever carried, from `fromV`'s FOLDED records
    * only (live fields' name + alias metadata, plus the retired
    * record) — the vacuum-safe source: reads exactly one manifest. */
  private def foldedHistory(tableDir: String, fromV: Int): Map[Long, Set[String]] = {
    val live = manifestSchema(tableDir, fromV).map(parseStruct)
      .map(_.fields.toSeq).getOrElse(Seq.empty)
    val retired = manifestRetired(tableDir, fromV).map(parseStruct)
      .map(_.fields.toSeq).getOrElse(Seq.empty)
    (live ++ retired).flatMap { f =>
      colIdOf(f).map(_ -> (aliasesOf(f).toSet + f.name))
    }.groupBy(_._1).view.mapValues(_.map(_._2).reduce(_ ++ _)).toMap
  }

  // manifest files are immutable once published (no-clobber commit
  // protocol), so a version's id→name history can be memoized
  // forever: without this, the COW verbs' multiple reconciling scans
  // each re-walk the ever-growing manifest chain — O(versions²)
  // metadata reads over a mutation-heavy table's life. Bounded FIFO
  // (512 table-versions) — entries are tiny maps.
  private val historyMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Map[Long, Set[String]]]()

  /** Every name each column id has carried: the folded record of
    * `fromV` (vacuum-safe, complete for any table whose history was
    * written by this library version) merged with the manifest chain
    * walk (the upgrade path for pre-fold records — one small manifest
    * read per RETAINED version; the walk stopping at a vacuumed
    * manifest is exactly why the fold exists, and `vacuum` refuses to
    * create that situation for un-folded history). */
  private def idNameHistory(tableDir: String, fromV: Int): Map[Long, Set[String]] = {
    // the commit ts in the key detects a table DELETED AND REBUILT at
    // the same path (test fixtures do; production tables never) — a
    // bare (dir, version) key would serve the old table's history
    val memoKey = s"$tableDir#v$fromV@${commitTimeMillis(tableDir, fromV)}"
    val hit = historyMemo.get(memoKey)
    if (hit != null) return hit
    val computed = idNameHistoryUncached(tableDir, fromV)
    if (historyMemo.size() > 512) historyMemo.clear() // crude, correct: recompute
    historyMemo.put(memoKey, computed)
    computed
  }

  private def idNameHistoryUncached(tableDir: String, fromV: Int): Map[Long, Set[String]] = {
    val acc = scala.collection.mutable.Map[Long, Set[String]]()
    foldedHistory(tableDir, fromV).foreach { case (id, names) =>
      acc(id) = acc.getOrElse(id, Set.empty) ++ names
    }
    var v = fromV
    while (v > 0 && Files.exists(manifestPath(tableDir, v))) {
      val lines = Files.readAllLines(manifestPath(tableDir, v)).asScala.toSeq
      headerValue(lines, "schema").foreach { j =>
        parseStruct(j).fields.foreach { f =>
          colIdOf(f).foreach(id => acc(id) = acc.getOrElse(id, Set.empty) + f.name)
        }
      }
      v = headerValue(lines, "parent").map(_.toInt).getOrElse(0)
    }
    acc.toMap
  }

  /** Fold the full id→name history into `st`'s field metadata (alias
    * arrays), so the record is self-contained without the chain walk.
    * No-op for fields whose history is a single name. */
  private def foldAliases(tableDir: String, fromV: Int,
                          st: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    if (fromV <= 0) return st
    lazy val hist = idNameHistory(tableDir, fromV)
    org.apache.spark.sql.types.StructType(st.fields.map { f =>
      colIdOf(f) match {
        case Some(id) =>
          val aliases = hist.getOrElse(id, Set.empty) - f.name ++ aliasesOf(f).toSet
          withAliases(f, aliases)
        case None => f
      }
    })
  }

  /** Metadata-only commit that folds the full rename/drop history of
    * HEAD into a fresh self-contained record — the one-commit upgrade
    * for tables whose renames predate folded records, and what
    * `vacuum`'s history guard asks for by name when it refuses. */
  def foldHistory(tableDir: String): Int = {
    val head = currentVersion(tableDir)
    require(head > 0, s"Snapshots: $tableDir has no committed versions")
    val j = manifestSchema(tableDir, head).getOrElse(throw new IllegalArgumentException(
      s"Snapshots: version $head of $tableDir carries no schema record — " +
        "nothing to fold (commit once with this library version first)"))
    val folded = foldAliases(tableDir, head, parseStruct(j))
    publishOrConflict(tableDir, head, "fold", fileLines(tableDir, head),
      schema = Some(folded.json))
    head + 1
  }

  /** current name → its historical aliases (old physical names) at
    * `version`; empty when no live column has ever been renamed. */
  private def renameAliases(tableDir: String, version: Int): Map[String, Seq[String]] =
    manifestSchema(tableDir, version) match {
      case None => Map.empty
      case Some(j) =>
        lazy val hist = idNameHistory(tableDir, version)
        parseStruct(j).fields.flatMap { f =>
          colIdOf(f).flatMap { id =>
            val aliases = hist.getOrElse(id, Set.empty) - f.name
            if (aliases.isEmpty) None else Some(f.name -> aliases.toSeq.sorted)
          }
        }.toMap
    }

  /** A NEW column may not reuse a name some LIVE column id carried
    * earlier: read reconciliation coalesces a column with its
    * historical aliases, and a reused name would silently mix two
    * columns' values. Loud, at commit time, before any bytes land.
    * A name whose every prior carrier is RETIRED (dropped) is exempt —
    * that is the rebirth path: the re-added column mints a fresh id
    * and old files' physical values are masked to NULL via per-file
    * `null:` markers (see [[drop]] / `rebirthMarked`). */
  private def requireNoAliasReuse(tableDir: String, prev: Int,
                                  next: org.apache.spark.sql.types.StructType): Unit =
    manifestSchema(tableDir, prev).map(parseStruct).foreach { pst =>
      val pNames = pst.fieldNames.toSet
      val fresh = next.fieldNames.filterNot(pNames.contains)
      if (fresh.nonEmpty) {
        val liveIds = pst.fields.flatMap(colIdOf).toSet
        val hist = idNameHistory(tableDir, prev)
        fresh.foreach { n =>
          hist.collectFirst {
            case (id, names) if names.contains(n) && liveIds.contains(id) => id
          }.foreach { id =>
            throw new IllegalArgumentException(
              s"Snapshots: new column '$n' reuses a historical name of live column id $id " +
                s"(renamed away) in $tableDir — rename reconciliation would mix the two " +
                "columns; pick a fresh name")
          }
        }
      }
    }

  /** Metadata-only column rename: commits a new version with the SAME
    * file list and the same column id under the new name. Reads at or
    * after this version surface the column as `newName` even from
    * files written under `oldName` (coalesce over the id's aliases);
    * time travel before it still shows `oldName`. Retype and drop
    * remain rejected-with-message — rename is the only supported
    * non-additive evolution, because it is the only one that loses
    * nothing. */
  def rename(tableDir: String, oldName: String, newName: String): Int = {
    require(oldName != newName, s"Snapshots: rename to the same name '$oldName'")
    val head = currentVersion(tableDir)
    require(head > 0, s"Snapshots: $tableDir has no committed versions")
    val j = manifestSchema(tableDir, head).getOrElse(throw new IllegalArgumentException(
      s"Snapshots: version $head of $tableDir carries no schema record — " +
        "rename needs one (commit once with this library version first)"))
    val st = parseStruct(j)
    require(st.fieldNames.contains(oldName),
      s"Snapshots: no column '$oldName' in $tableDir (have: ${st.fieldNames.mkString(", ")})")
    require(!st.fieldNames.contains(newName),
      s"Snapshots: column '$newName' already exists in $tableDir")
    val oldId = colIdOf(st(oldName)).getOrElse(throw new IllegalArgumentException(
      s"Snapshots: column '$oldName' carries no column id (pre-upgrade record) — " +
        "commit once with this library version first"))
    idNameHistory(tableDir, head).collectFirst {
      case (id, names) if id != oldId && names.contains(newName) => id
    }.foreach { id =>
      throw new IllegalArgumentException(
        s"Snapshots: '$newName' was a historical name of column id $id — reusing it " +
          "would corrupt rename reconciliation; pick a fresh name")
    }
    val renamed = org.apache.spark.sql.types.StructType(
      st.fields.map(f =>
        if (f.name == oldName)
          // the alias history rides IN the record (fold-forward): the
          // read path never needs the pre-rename manifest again
          withAliases(f.copy(name = newName), aliasesOf(f).toSet + oldName)
        else f))
    publishOrConflict(tableDir, head, "rename", fileLines(tableDir, head),
      schema = Some(foldAliases(tableDir, head, renamed).json))
    head + 1
  }

  /** Metadata-only column DROP (r9 verdict item #5): commits a new
    * version with the SAME file list, the schema record minus the
    * column, and the column's id+alias history appended to the
    * RETIRED record (folded forward into every later manifest, so the
    * history survives vacuum). Reads at or after this version project
    * the column out of old files; time travel before it still shows
    * it. Re-adding the same NAME later is allowed and mints a FRESH
    * id — never aliasing the dropped one — with the old files'
    * physical values masked to NULL (per-file `null:<id>` manifest
    * markers written by the re-adding commit), so the reborn column
    * has NULL history by construction. Retype remains
    * rejected-with-message ([[requireAdditive]]): it is the one
    * evolution verb that would poison the union read. */
  def drop(tableDir: String, name: String): Int = {
    val head = currentVersion(tableDir)
    require(head > 0, s"Snapshots: $tableDir has no committed versions")
    val j = manifestSchema(tableDir, head).getOrElse(throw new IllegalArgumentException(
      s"Snapshots: version $head of $tableDir carries no schema record — " +
        "drop needs one (commit once with this library version first)"))
    val st = parseStruct(j)
    require(st.fieldNames.contains(name),
      s"Snapshots: no column '$name' in $tableDir (have: ${st.fieldNames.mkString(", ")})")
    require(st.fields.length > 1,
      s"Snapshots: refusing to drop the last column '$name' of $tableDir")
    val f = st(name)
    colIdOf(f).getOrElse(throw new IllegalArgumentException(
      s"Snapshots: column '$name' carries no column id (pre-upgrade record) — " +
        "commit once with this library version first"))
    // the retired field carries its FULL alias history so the name
    // (and every old name) stays reserved-with-history forever
    val hist = idNameHistory(tableDir, head)
    val retiredField = withAliases(f, hist.getOrElse(colIdOf(f).get, Set.empty) - name)
    val prevRetired = manifestRetired(tableDir, head).map(parseStruct)
      .map(_.fields).getOrElse(Array.empty[org.apache.spark.sql.types.StructField])
    val newRetired = org.apache.spark.sql.types.StructType(prevRetired :+ retiredField)
    val remaining = org.apache.spark.sql.types.StructType(st.fields.filterNot(_.name == name))
    publishOrConflict(tableDir, head, "drop", fileLines(tableDir, head),
      schema = Some(foldAliases(tableDir, head, remaining).json),
      retired = Some(newRetired.json))
    head + 1
  }

  /** The lossless type-widening ladder — exactly the conversions the
    * parquet vectorized reader upcasts at scan time (probed on this
    * Spark build: byte→short/int/long, short→int/long, int→long,
    * int→double, float→double). Everything else — including
    * long→double (loses precision above 2^53) and every narrowing —
    * is NOT a widening and stays rejected. */
  private def widensTo(from: org.apache.spark.sql.types.DataType,
                       to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType | DoubleType) => true
      case (FloatType, DoubleType) => true
      case _ => false
    }
  }

  /** Metadata-only column TYPE WIDENING (the evolution verb after
    * rename and drop): commits a new version with the SAME file list
    * and the schema record's field retyped to `to`, recording the old
    * physical type in the field's fold-forward metadata. Old files
    * keep their narrow bytes; every live read routes through
    * [[reconciledScan]], which reads with the RECORD schema so the
    * parquet reader upcasts narrow physical columns at scan time —
    * no rewrite, no union mismatch. Only the lossless ladder in
    * [[widensTo]] is accepted; a narrowing or lossy retype fails loud
    * naming both types. After widening, appends must use the wide
    * type ([[requireAdditive]] checks against the record). Zone-map
    * stats stay valid: integral stats are (Long, Long) envelopes, and
    * a widened column's old values are unchanged. Time travel before
    * the widen shows the narrow type, exactly as committed. */
  def widen(tableDir: String, name: String,
            to: org.apache.spark.sql.types.DataType): Int = {
    val head = currentVersion(tableDir)
    require(head > 0, s"Snapshots: $tableDir has no committed versions")
    val j = manifestSchema(tableDir, head).getOrElse(throw new IllegalArgumentException(
      s"Snapshots: version $head of $tableDir carries no schema record — " +
        "widen needs one (commit once with this library version first)"))
    val st = parseStruct(j)
    require(st.fieldNames.contains(name),
      s"Snapshots: no column '$name' in $tableDir (have: ${st.fieldNames.mkString(", ")})")
    val f = st(name)
    colIdOf(f).getOrElse(throw new IllegalArgumentException(
      s"Snapshots: column '$name' carries no column id (pre-upgrade record) — " +
        "commit once with this library version first"))
    if (f.dataType == to) throw new IllegalArgumentException(
      s"Snapshots: column '$name' already has type ${to.catalogString}")
    if (!widensTo(f.dataType, to)) throw new IllegalArgumentException(
      s"Snapshots: ${f.dataType.catalogString} -> ${to.catalogString} is not a " +
        s"lossless widening for column '$name' — supported: byte->short/int/long, " +
        "short->int/long, int->long/double, float->double. Narrowings and lossy " +
        "retypes are Snapshots.retypeRewrite() (explicit whole-table COW rewrite, " +
        "round-trip-guarded); value-changing transforms need an explicit cast " +
        "into a NEW column (or a new table)")
    val widened = org.apache.spark.sql.types.StructType(
      st.fields.map(g =>
        if (g.name == name)
          withWidenedFrom(g.copy(dataType = to),
            widenedFrom(g).toSet + g.dataType.catalogString)
        else g))
    publishOrConflict(tableDir, head, "widen", fileLines(tableDir, head),
      schema = Some(foldAliases(tableDir, head, widened).json))
    head + 1
  }

  /** Explicit LOSSY retype — the whole-table COW rewrite verb behind
    * the evolution ladder's last door. [[widen]] covers the lossless
    * ladder metadata-only; everything else a real user eventually
    * needs (long→int, double→decimal, string→long, …) changes
    * physical bytes, so it is deliberately a WHOLE-TABLE rewrite you
    * must name: every live file rewrites with the cast baked in, and
    * any value the cast cannot ROUND-TRIP raises inside the write
    * projection (one scan, the manifest never lands, the table is
    * untouched). The type ladder may be lossy in general; this verb succeeds only when the DATA survives
    * it exactly — a genuinely value-changing transform (accepting
    * truncation) stays out of scope by design: cast into a NEW
    * column, where the loss is visible in the schema.
    *
    * Time travel before the retype shows the old type over the old
    * bytes, exactly as committed (each manifest carries its own
    * schema record).
    * The column keeps its id (it is the same column, new physical
    * type), and its widen history clears — the rewrite bakes every
    * byte to the record type, so there is no narrow history left to
    * reconcile. Publishes with the serializable-conflict abort of the
    * other mutation verbs. Returns the committed version.
    *
    * Scale: one reconciling scan + one write of the table — the price
    * the verb's NAME advertises (contrast the metadata-only verbs).
    * Rewrite parallelism is the scan's; nothing collects. */
  def retypeRewrite(spark: SparkSession, tableDir: String, name: String,
                    to: org.apache.spark.sql.types.DataType): Int = {
    import org.apache.spark.sql.functions._
    val head = currentVersion(tableDir)
    require(head > 0, s"Snapshots: $tableDir has no committed versions")
    val j = manifestSchema(tableDir, head).getOrElse(throw new IllegalArgumentException(
      s"Snapshots: version $head of $tableDir carries no schema record — " +
        "retypeRewrite needs one (commit once with this library version first)"))
    val st = parseStruct(j)
    require(st.fieldNames.contains(name),
      s"Snapshots: no column '$name' in $tableDir (have: ${st.fieldNames.mkString(", ")})")
    val f = st(name)
    colIdOf(f).getOrElse(throw new IllegalArgumentException(
      s"Snapshots: column '$name' carries no column id (pre-upgrade record) — " +
        "commit once with this library version first"))
    if (f.dataType == to) throw new IllegalArgumentException(
      s"Snapshots: column '$name' already has type ${to.catalogString}")
    if (widensTo(f.dataType, to)) throw new IllegalArgumentException(
      s"Snapshots: ${f.dataType.catalogString} -> ${to.catalogString} is a LOSSLESS " +
        s"widening for column '$name' — use Snapshots.widen() (metadata-only, " +
        "no rewrite) instead of paying a whole-table rewrite")
    // the ANSI cast-rule set: this build runs ANSI-on, where the
    // analyzer would reject a legacy-only cast anyway — gate with the
    // same rules so the refusal is OUR message, not an analysis error
    if (!org.apache.spark.sql.catalyst.expressions.Cast.canAnsiCast(f.dataType, to))
      throw new IllegalArgumentException(
        s"Snapshots: no cast exists from ${f.dataType.catalogString} to " +
          s"${to.catalogString} for column '$name' — retypeRewrite cannot convert it")
    val lines = fileLines(tableDir, head)
    require(lines.nonEmpty, s"Snapshots: $tableDir HEAD is empty; nothing to retype")
    val files = lines.map(_.split('\t')(0))
    val cols = st.fieldNames.toSeq
    // round-trip guard IN the write projection: a value the target
    // type cannot represent exactly raises naming the verb and the
    // value — silent lossy casts are refused, the rewrite aborts.
    // try_cast on BOTH hops: under ANSI a plain cast would crash with
    // the engine's overflow error before this guard could name the
    // verb; try_cast folds every failure into NULL, which the
    // mismatch check below converts into OUR loud refusal
    val casted = col(name).try_cast(to)
    // null-SAFE mismatch (<=>): a back-hop that try_casts to NULL must
    // read as "does not round-trip", not as an unknowable that the
    // when() would silently wave through
    val guarded = when(col(name).isNotNull &&
        (casted.isNull || !(casted.try_cast(f.dataType) <=> col(name))),
      raise_error(concat(
        lit(s"Snapshots.retypeRewrite: value "), col(name).cast("string"),
        lit(s" of column '$name' does not survive ${f.dataType.catalogString} -> " +
          s"${to.catalogString} exactly — a silent lossy cast is refused; " +
          "transform into a NEW column instead"))).cast(to))
      .otherwise(casted)
    val outDir = stageDataDir(tableDir, "t")
    reconciledScan(spark, tableDir, head, files)
      .select(cols.map(c => if (c == name) guarded.as(c) else col(c)): _*)
      .write.parquet(outDir.toString)
    val retyped = org.apache.spark.sql.types.StructType(
      st.fields.map(g =>
        if (g.name == name) clearWidenedFrom(g.copy(dataType = to)) else g))
    publishOrConflict(tableDir, head, "retype", listParts(outDir),
      schema = Some(foldAliases(tableDir, head, retyped).json))
    head + 1
  }

  /** Run the additive gate against `parentV`'s recorded schema; a
    * record-less parent (pre-schema-record manifest) checks nothing. */
  private def checkAdditiveAgainst(tableDir: String, parentV: Int,
                                   next: org.apache.spark.sql.types.StructType): Unit =
    manifestSchema(tableDir, parentV).foreach { pj =>
      requireAdditive(org.apache.spark.sql.types.DataType.fromJson(pj)
        .asInstanceOf[org.apache.spark.sql.types.StructType], next, tableDir)
    }

  /** Per-file rebirth markers of a manifest: `null:<colId>` parts on
    * a file line mean "this file predates column <colId>; its physical
    * bytes under that NAME belong to a retired column — read NULL".
    * Written by the commit that re-adds a dropped name onto every
    * line it carries; they travel WITH the lines through later
    * appends/optimize keeps, and rewritten files (which bake the
    * reconciliation in) simply drop out. Namespaced like `bloom:` —
    * no '=', so the stat parser skips them. */
  private def nullMarkerFiles(lines: Seq[String]): Map[Long, Set[String]] =
    lines.flatMap { l =>
      val parts = l.split('\t')
      parts.drop(1).filter(_.startsWith("null:"))
        .map(p => p.substring(5).toLong -> parts(0))
    }.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

  // ---- merge-on-read deletion vectors (r11 verdict item #1) ----
  //
  // A MOR delete never rewrites data bytes: it records the deleted
  // rows' (file, row-position) pairs in a DV sidecar parquet dir
  // under `<table>/_dv/` and stamps each hit file's manifest line
  // with a `dv:<count>:<dir>` part (a namespace like `bloom:` /
  // `null:` — no '=', so the stat parser skips it; count BEFORE path
  // because a path may legally contain ':'). Lines travel whole
  // through later appends/optimize keeps, so DVs persist exactly as
  // long as the files they mask; every live read folds them in at
  // [[reconciledScan]] — the one seam all reads (full, pruned,
  // incremental, COW-rewrite) already route through. `optimize`
  // BAKES DVs (a dv-carrying file always rewrites, clean), `vacuum`
  // expires DV dirs with the manifests that reference them.
  //
  // Positions are parquet row indices (`_metadata.row_index`) —
  // stable for immutable files, which manifest-referenced files are
  // by protocol. Successive MOR deletes compute hits over the MOR
  // read itself, so a file's DV position sets are DISJOINT across
  // deletes and per-file counts add exactly (countRows relies on it).

  /** DV references of each file in `lines`: path → (count, dvDir)*. */
  private def dvRefs(lines: Seq[String]): Map[String, Seq[(Long, String)]] =
    lines.flatMap { l =>
      val parts = l.split('\t')
      parts.drop(1).filter(_.startsWith("dv:")).map { p =>
        val rest = p.substring(3)
        val i = rest.indexOf(':')
        parts(0) -> (rest.substring(0, i).toLong, rest.substring(i + 1))
      }
    }.groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap

  /** Every DV sidecar dir `version`'s manifest references. */
  private[graft] def dvDirs(tableDir: String, version: Int): Set[String] =
    dvRefs(fileLines(tableDir, version)).values.flatten.map(_._2).toSet

  /** Total DV-deleted row count per file of `version`. */
  private[graft] def dvCounts(tableDir: String, version: Int): Map[String, Long] =
    dvRefs(fileLines(tableDir, version)).view.mapValues(_.map(_._1).sum).toMap

  // stamped-column names: double-underscored and graft-prefixed so
  // they can never collide with a user column the record schema holds
  private val GFile = "__graft_dv_file"
  private val GPos = "__graft_dv_pos"

  /** Anti-join `df` (stamped with [[GFile]]/[[GPos]]) against the
    * deleted positions of `dvm`. The deleted side is tiny relative to
    * data (trickle deletes — that is MOR's use case), so it
    * broadcasts below 1M positions; past that the plain join is the
    * honest shuffle (and `optimize` is overdue). */
  private def applyDv(spark: SparkSession, df: DataFrame,
                      dvm: Map[String, Seq[(Long, String)]]): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
    if (dvm.isEmpty) return df
    val dirs = dvm.values.flatten.map(_._2).toSeq.distinct.sorted
    val total = dvm.values.flatten.map(_._1).sum
    val deleted0 = spark.read.parquet(dirs: _*)
      .select(col("file").as(GFile), col("pos").as(GPos))
    val deleted = if (total <= 1000000L) broadcast(deleted0) else deleted0
    df.join(deleted, Seq(GFile, GPos), "left_anti")
  }

  /** THE reconciling file scan: every read of live data files —
    * full reads, pruned reads, incremental reads, and the COW verbs'
    * rewrite scans — routes through here (r9 advice, the medium item:
    * the pruned reads used to read selected files RAW and silently
    * dropped pre-rename rows). Semantics:
    *   - no evolution history (the overwhelmingly common case): a
    *     plain parquet read of `files`, byte-for-byte the old plan;
    *   - rename history: union-schema read + coalesce(current name,
    *     aliases…) per the recorded schema — each row has a value
    *     under exactly one name (ids never share names — the
    *     commit-time alias-reuse gate);
    *   - drop history: the projection selects only the RECORD's
    *     fields, so retired columns' physical bytes never surface;
    *   - rebirth (re-added dropped name): rows from `null:`-marked
    *     files read NULL for the reborn column — fresh column, NULL
    *     history — via a codegen'd file-path guard over
    *     input_file_name(). */
  private[graft] def reconciledScan(spark: SparkSession, tableDir: String, v: Int,
                                    files: Seq[String],
                                    mergeSchema: Boolean = false,
                                    withRowPos: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, input_file_name, lit, regexp_replace, url_decode, when}
    if (files.isEmpty) return spark.emptyDataFrame
    val allLines = fileLines(tableDir, v)
    val recordOpt = manifestSchema(tableDir, v).map(parseStruct)
    val aliases = renameAliases(tableDir, v)
    val hasRetired = manifestRetired(tableDir, v).isDefined
    val hasWiden = recordOpt.exists(_.fields.exists(widenedFrom(_).nonEmpty))
    val markers: Map[Long, Set[String]] =
      if (recordOpt.isDefined && hasRetired) nullMarkerFiles(allLines)
      else Map.empty
    // DV fold (merge-on-read deletes): stamp (plain file path, row
    // index) over the scan, anti-join the deleted positions, then
    // project. Stamping happens BEFORE any join because
    // input_file_name()/_metadata resolve only in the scan stage.
    // With no DVs on the requested files (and no withRowPos ask) the
    // plan is byte-for-byte the old one — the common path pays zero.
    val wanted = files.toSet
    val dvm = dvRefs(allLines).filter { case (f, _) => wanted(f) }
    val needStamp = dvm.nonEmpty || withRowPos
    // input_file_name() is a percent-encoded URI: stripping the scheme
    // alone left "%20" where the manifest (plain Paths) has " ", so on
    // a URI-escapable tableDir every GFile consumer mismatched — the
    // COW verbs failed loud, but deleteWhereMorHook's sidecar keys
    // matched no manifest line and the MOR delete published a no-op
    // version "successfully" (r12 advice, medium). Percent-decode like
    // localPath's Paths.get(new URI(...)) does, codegen'd: url_decode
    // is x-www-form-urlencoded (it would also turn a literal '+' into
    // a space), so literal '+' is pre-escaped to %2B first — the
    // composition is exactly percent-decoding. A second line of
    // defense sits in deleteWhereMorHook (sidecar keys must be a
    // subset of manifest paths, else abort loud).
    val plainFile = regexp_replace(
      url_decode(regexp_replace(input_file_name(), "\\+", "%2B")),
      "^file:/+", "/")
    def stamp(df: DataFrame): DataFrame =
      if (!needStamp) df
      else applyDv(spark, df.withColumn(GFile, plainFile)
        .withColumn(GPos, col("_metadata.row_index")), dvm)
    if (recordOpt.isEmpty ||
        (aliases.isEmpty && !hasRetired && markers.isEmpty && !hasWiden)) {
      val base = stamp(
        if (mergeSchema) spark.read.option("mergeSchema", "true").parquet(files: _*)
        else spark.read.parquet(files: _*))
      if (withRowPos) base
      else if (needStamp) base.drop(GFile, GPos)
      else base
    } else {
      // explicit READ schema instead of mergeSchema: the record's
      // (possibly widened) type per live column PLUS each alias at
      // the same type — the parquet reader upcasts narrow physical
      // bytes at scan time (widen) and nulls absent columns (rename/
      // additive history), where mergeSchema would FAIL merging an
      // int file with a bigint record. Retired columns are simply
      // not requested, so their bytes never surface.
      val record = recordOpt.get
      val readSchema = org.apache.spark.sql.types.StructType(
        record.fields.flatMap { f =>
          org.apache.spark.sql.types.StructField(f.name, f.dataType) +:
            aliases.getOrElse(f.name, Seq.empty)
              .map(a => org.apache.spark.sql.types.StructField(a, f.dataType))
        })
      val df0 = spark.read.schema(readSchema).parquet(files: _*)
      val present = df0.columns.toSet
      val df = stamp(df0)
      // input_file_name() is URI-formed; manifest lines are plain
      // paths — normalize the scheme away once, codegen'd per row.
      // After a DV anti-join the scan stage is gone, so the marker
      // guard must read the STAMPED file column instead.
      val fileCol = if (needStamp) col(GFile) else plainFile
      val projected = recordOpt.get.fields.map { f =>
        val alts = (f.name +: aliases.getOrElse(f.name, Seq.empty)).filter(present)
        val base =
          if (alts.isEmpty) lit(null).cast(f.dataType)
          else if (alts.size == 1) col(alts.head)
          else coalesce(alts.map(col): _*)
        val guarded = colIdOf(f).flatMap(markers.get) match {
          case Some(marked) if alts.nonEmpty =>
            when(fileCol.isInCollection(marked.toSeq.sorted), lit(null).cast(f.dataType))
              .otherwise(base)
          case _ => base
        }
        guarded.as(f.name)
      }.toIndexedSeq ++ (if (withRowPos) Seq(col(GFile), col(GPos)) else Nil)
      df.select(projected: _*)
    }
  }

  /** Read a committed snapshot: HEAD by default, any retained
    * `version` for time travel. `mergeSchema = true` resolves the
    * union schema across commits (an appended commit may add
    * columns; older files surface them as NULL) — additive schema
    * evolution, parquet's native mechanism. Without it the schema
    * comes from one sampled footer, the plain-parquet default.
    * Rename/drop/rebirth history reconciles via [[reconciledScan]]. */
  def read(spark: SparkSession, tableDir: String, version: Int = -1,
           mergeSchema: Boolean = false): DataFrame = {
    val v = if (version >= 0) version else currentVersion(tableDir)
    require(v > 0, s"Snapshots: $tableDir has no committed versions")
    val files = liveFiles(tableDir, v)
    if (files.isEmpty) spark.emptyDataFrame
    else reconciledScan(spark, tableDir, v, files, mergeSchema)
  }

  /** Incremental (change-feed-lite) read: the rows ADDED between
    * `sinceVersion` (exclusive) and HEAD — the consumer loop's
    * "give me what's new" primitive over an append-only table, the
    * same offsets-are-versions idea a streaming source would use.
    * Returns (new rows, HEAD version) so the caller persists HEAD as
    * its next offset. Every version in the range must be an append
    * (or a no-file-change rollback): overwrite/optimize rewrite
    * files, so "new files since v" would double-count rewritten
    * rows — those ranges fail loud instead of silently lying.
    * Cost: manifest reads + a scan of the NEW files only. */
  def changesSince(spark: SparkSession, tableDir: String,
                   sinceVersion: Int): (DataFrame, Int) = {
    val head = currentVersion(tableDir)
    require(sinceVersion >= 0 && sinceVersion <= head,
      s"Snapshots: sinceVersion $sinceVersion outside [0, $head]")
    if (sinceVersion == head) return (read(spark, tableDir, head).limit(0), head)
    ((sinceVersion + 1) to head).foreach { v =>
      val op = headerValue(Files.readAllLines(manifestPath(tableDir, v)).asScala.toSeq, "op")
      require(op.exists(o => o == "append" || o.startsWith("rollback")),
        s"Snapshots: changesSince crosses version $v (op=${op.getOrElse("?")}) - " +
          "incremental reads are defined for append-only ranges; re-read the full snapshot")
    }
    val before =
      if (sinceVersion == 0) Set.empty[String]
      else liveFiles(tableDir, sinceVersion).toSet
    val added = liveFiles(tableDir, head).filterNot(before)
    val df = if (added.isEmpty) read(spark, tableDir, head).limit(0)
             else reconciledScan(spark, tableDir, head, added) // alias-safe (see readPruned)
    (df, head)
  }

  /** Delete data files referenced by NO retained version (the last
    * `keepLast` versions stay readable) and the manifests of expired
    * versions. Time travel to expired versions then fails loud —
    * that is the documented trade for reclaiming bytes. */
  def vacuum(tableDir: String, keepLast: Int): Unit = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val head = currentVersion(tableDir)
    require(head > 0, s"Snapshots: $tableDir has no committed versions")
    val keepFrom = math.max(1, head - keepLast + 1)
    val retained = (keepFrom to head)
      .filter(v => Files.exists(manifestPath(tableDir, v)))
      .flatMap(v => liveFiles(tableDir, v)).toSet
    // POSITIVE deletion list (r10 verdict item #6 — the silent-loss
    // race): delete only files the EXPIRING manifests reference and
    // no retained manifest carries. The old negative-list walk
    // ("anything under data/ not retained") raced an in-flight
    // commit: files staged between `df.write.parquet` and the
    // manifest link are in no manifest yet, so the walk deleted them
    // and the commit then published a manifest pointing at deleted
    // bytes — a committed row silently lost. Vacuum's contract is
    // history expiry, not collection of crashed writers' orphans.
    val expiring = (1 until keepFrom)
      .filter(v => Files.exists(manifestPath(tableDir, v)))
      .flatMap(v => liveFiles(tableDir, v)).toSet
    val doomed = (expiring -- retained).map(Paths.get(_)).filter(Files.isRegularFile(_))
    doomed.foreach(Files.delete)
    // DV sidecars expire with their manifests by the same positive-
    // list rule: a sidecar dir referenced by ANY retained manifest
    // survives (a retained version's read needs its anti-join rows);
    // one referenced only by expiring manifests goes with them
    val retainedDv = (keepFrom to head)
      .filter(v => Files.exists(manifestPath(tableDir, v)))
      .flatMap(v => dvDirs(tableDir, v)).toSet
    val expiringDv = (1 until keepFrom)
      .filter(v => Files.exists(manifestPath(tableDir, v)))
      .flatMap(v => dvDirs(tableDir, v)).toSet
    (expiringDv -- retainedDv).map(Paths.get(_)).filter(Files.isDirectory(_))
      .foreach(d => Files.walk(d).iterator().asScala.toSeq.reverse.foreach(Files.delete))
    // drop now-emptied ancestor dirs of deleted files ONLY (walking
    // up to but never including data/): an empty dir under data/ may
    // be a racing writer's just-created staging dir whose parquet
    // bytes have not landed yet — never touch dirs we did not empty.
    // A dir whose last DATA file we deleted still holds the write's
    // sidecars (_SUCCESS, .crc markers) — sweep those too, they
    // cannot belong to anyone else once the dir has no data files
    val dataRoot = Paths.get(tableDir, "data").toAbsolutePath.normalize
    def sidecar(p: Path): Boolean = {
      val n = p.getFileName.toString
      n == "_SUCCESS" || (n.startsWith(".") && n.endsWith(".crc"))
    }
    doomed.map(_.toAbsolutePath.normalize.getParent).filter(_ != null)
      .toSeq.distinct.foreach { d0 =>
        var d = d0
        var emptied = true
        while (emptied && d != null && d.startsWith(dataRoot) && d != dataRoot &&
          Files.isDirectory(d)) {
          val left = Files.list(d).iterator().asScala.toSeq
          if (left.forall(p => Files.isRegularFile(p) && sidecar(p))) {
            left.foreach(Files.delete)
            Files.delete(d)
            d = d.getParent
          } else emptied = false
        }
      }
    // history guard (r9 advice, the high item): rename/drop history a
    // LIVE read still needs must be folded into HEAD's self-contained
    // record before the manifests that carry it expire — otherwise
    // renameAliases() silently comes back empty after vacuum and
    // pre-rename files' values surface as NULL under the current name.
    // Tables written by this library version always pass (every commit
    // folds); a pre-fold rename history refuses with the one-commit
    // fix named. Scoped to LIVE column ids: an id overwritten away
    // has no live files left to reconcile.
    if (keepFrom > 1) {
      val liveIds = manifestSchema(tableDir, head).map(parseStruct)
        .map(_.fields.flatMap(colIdOf).toSet).getOrElse(Set.empty[Long])
      val folded = foldedHistory(tableDir, head)
      val walked = idNameHistory(tableDir, head)
      val unfolded = walked.collect {
        case (id, names) if liveIds.contains(id) &&
          !names.subsetOf(folded.getOrElse(id, Set.empty)) => id
      }
      require(unfolded.isEmpty,
        s"Snapshots: vacuum of $tableDir would expire manifests carrying rename " +
          s"alias history for live column id(s) ${unfolded.toSeq.sorted.mkString(", ")} " +
          "that is NOT folded into HEAD's schema record — pre-rename files would " +
          "silently stop reconciling. Run Snapshots.foldHistory(tableDir) (one " +
          "metadata-only commit) first, then vacuum.")
    }
    (1 until keepFrom).foreach(v => Files.deleteIfExists(manifestPath(tableDir, v)))
  }

  /** Lakehouse OPTIMIZE over a snapshot table: stat the live files,
    * bin-pack the small ones with [[graft.ops.Compaction.plan]],
    * rewrite each bin as one file, and commit the compacted layout
    * as a NEW version (kept files are carried by reference — their
    * bytes are not rewritten). Readers before/after see identical
    * rows; history (and time travel to the fragmented versions)
    * survives until `vacuum`. Returns the committed version, or -1
    * when nothing needed compacting (no empty commits).
    *
    * Scale: planning is metadata-sized (one stat per live file);
    * rewrite IO is proportional to the SMALL fraction only — the
    * whole point vs truncate-and-rewrite. The streaming sink's
    * one-manifest-per-batch accumulation composes with this:
    * optimize periodically, vacuum after the retention horizon. */
  def optimize(spark: SparkSession, tableDir: String, targetBytes: Long): Int =
    optimizeHook(spark, tableDir, targetBytes, () => ())

  /** Test seam: `beforePublish` runs after the bins are rewritten and
    * staged, before the manifest link — the window where a racing
    * append can advance HEAD (the deleteWhereHook pattern). */
  private[graft] def optimizeHook(spark: SparkSession, tableDir: String,
                                  targetBytes: Long,
                                  beforePublish: () => Unit): Int = {
    val head = currentVersion(tableDir)
    require(head > 0, s"Snapshots: $tableDir has no committed versions")
    val lines = fileLines(tableDir, head)
    // a dv-carrying file ALWAYS rewrites regardless of size — OPTIMIZE
    // is the verb that bakes merge-on-read deletion vectors into clean
    // bytes (Delta's PURGE): reads stop paying the anti-join, and the
    // expired sidecars become vacuum fodder with their manifests
    def hasDv(l: String) = l.split('\t').drop(1).exists(_.startsWith("dv:"))
    val (dvLines, plain) = lines.partition(hasDv)
    val stats = plain.map(l => (l, Files.size(Paths.get(l.split('\t')(0)))))
    val small = stats.filter(_._2 < targetBytes)
      .map { case (l, sz) => (l.split('\t')(0), sz) }
    if (small.size < 2 && dvLines.isEmpty) return -1 // nothing to merge or bake
    import spark.implicits._
    val bins: Map[Long, Seq[String]] =
      if (small.size < 2) Map.empty
      else {
        val planned = graft.ops.Compaction.plan(
          small.toDF("file", "bytes").withColumn("part", org.apache.spark.sql.functions.lit("t")),
          Seq("part"), "file", "bytes", targetBytes)
        planned.where(org.apache.spark.sql.functions.col("action") === "compact")
          .select($"file", $"bin_id").as[(String, Long)].collect() // listing-sized
          .groupBy(_._2).view.mapValues(_.map(_._1).toSeq).toMap
      }
    val v = head + 1
    val nonce = java.util.UUID.randomUUID.toString.take(8)
    val outDir = Paths.get(tableDir, "data", s"c$v-$nonce")
    // with rename/drop/widen history, the rewrite must reconcile
    // (canonical current names; reborn columns NULLed per their
    // markers; widened columns baked to the record type): a raw
    // re-concat would carry retired physical columns into a post-
    // rebirth commit dir and resurrect their values — or write a
    // narrow-typed file into a post-widen commit dir
    val needsReconcile = renameAliases(tableDir, head).nonEmpty ||
      manifestRetired(tableDir, head).isDefined ||
      manifestSchema(tableDir, head).map(parseStruct)
        .exists(_.fields.exists(widenedFrom(_).nonEmpty))
    bins.toSeq.sortBy(_._1).foreach { case (bin, paths) =>
      if (needsReconcile)
        reconciledScan(spark, tableDir, head, paths).coalesce(1)
          .write.mode("overwrite").parquet(s"$outDir/bin=$bin")
      else graft.ops.Compaction.rewriteBin(spark, paths, outDir.toString, bin)
    }
    // DV bake: each dv-carrying file rewrites 1:1 through the
    // reconciling scan, which folds its deletion vectors (and any
    // evolution history) into clean bytes — the output file has no
    // dv parts, so reads stop paying the anti-join
    dvLines.map(_.split('\t')(0)).sorted.zipWithIndex.foreach { case (path, i) =>
      reconciledScan(spark, tableDir, head, Seq(path)).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/dvbake=$i")
    }
    // carried lines = everything neither bin-compacted nor dv-baked
    // (full lines — column stats travel). Derived from the ACTUAL
    // compacted set, so a small file the planner declined still
    // carries instead of silently dropping.
    val compacted = bins.values.flatten.toSet
    val keep = plain.filterNot(l => compacted.contains(l.split('\t')(0)))
    val rewritten0 = Files.walk(outDir).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.matches(".*part-.*\\.parquet"))
      .map(_.toString).toSeq.sorted
    // re-stat the rewritten/baked outputs when their SOURCE lines
    // carried stats (r12 advice): publishing them bare traded
    // minMaxFromStats' "run optimize() first" remedy for a fresh
    // "carries no envelope" refusal and silently dropped countRows'
    // rows= counts. Stat columns = the union of the source lines'
    // envelope keys, translated through the rename-alias history
    // (rewrites bake canonical names) and filtered to the record's
    // encodable types (a retype to string after a stats commit must
    // not crash the compactor — that column's envelope is simply not
    // re-recordable).
    val sourceLines = plain.filter(l => compacted.contains(l.split('\t')(0))) ++ dvLines
    val carriedRows = sourceLines.exists(_.split('\t').drop(1).exists(_.startsWith("rows=")))
    val srcStatKeys = sourceLines.flatMap(_.split('\t').drop(1))
      .filterNot(p => p.startsWith("bloom:") || p.startsWith("dv:"))
      .flatMap { p =>
        val eq = p.indexOf('='); val co = p.indexOf(':', eq)
        if (eq < 0 || co < 0) None else Some(p.substring(0, eq))
      }.distinct
    val record = manifestSchema(tableDir, head).map(parseStruct)
    val aliasesNow = renameAliases(tableDir, head)
    def currentNameOf(k: String): Option[String] =
      record match {
        case None => Some(k) // record-less table: physical names persist
        case Some(st) if st.fieldNames.contains(k) => Some(k)
        case Some(_) =>
          aliasesNow.collectFirst { case (cur, olds) if olds.contains(k) => cur }
      }
    def encodable(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.DateType | org.apache.spark.sql.types.TimestampType |
           org.apache.spark.sql.types.TimestampNTZType | org.apache.spark.sql.types.FloatType |
           org.apache.spark.sql.types.DoubleType => true
      case _ => false
    }
    val restatCols = srcStatKeys.flatMap(currentNameOf).distinct.filter(c =>
      record.forall(_.fields.find(_.name == c).forall(f => encodable(f.dataType))))
    val rewritten =
      if (rewritten0.isEmpty || (restatCols.isEmpty && !carriedRows)) rewritten0
      else statLines(spark, rewritten0, restatCols)
    beforePublish()
    // civil conflict (r10 verdict item #6): a racing append/COW verb
    // that won `v` makes this a loud ConcurrentModificationException
    // naming the stale rewrite set, not a raw EEXIST — the compacted
    // listing was planned against `head` and must not rebase
    publishOrConflict(tableDir, head, s"optimize($targetBytes)", keep ++ rewritten)
    v
  }

  /** Wall-clock commit time of `version` (epoch millis) — the `ts=`
    * manifest header; manifests from before the header existed fall
    * back to the manifest file's mtime (same clock, coarser). */
  def commitTimeMillis(tableDir: String, version: Int): Long = {
    val p = manifestPath(tableDir, version)
    require(Files.exists(p),
      s"Snapshots: version $version of $tableDir does not exist")
    headerValue(Files.readAllLines(p).asScala.toSeq, "ts").map(_.toLong)
      .getOrElse(Files.getLastModifiedTime(p).toMillis)
  }

  /** Commit history as a DataFrame (DESCRIBE HISTORY): one row per
    * RETAINED version — (version, parent, op, ts_millis, tag,
    * n_files, has_schema). Reads manifests only (listing-sized);
    * vacuumed-away versions simply do not appear. */
  def history(spark: SparkSession, tableDir: String): DataFrame = {
    val head = currentVersion(tableDir)
    val rows = (1 to head).filter(v => Files.exists(manifestPath(tableDir, v))).map { v =>
      val lines = Files.readAllLines(manifestPath(tableDir, v)).asScala.toSeq
      (v, headerValue(lines, "parent").map(_.toInt).getOrElse(0),
        headerValue(lines, "op").getOrElse(""),
        headerValue(lines, "ts").map(_.toLong).getOrElse(0L),
        headerValue(lines, "tag").orNull,
        fileLines(tableDir, v).size.toLong,
        headerValue(lines, "schema").isDefined)
    }
    import spark.implicits._
    rows.toDF("version", "parent", "op", "ts_millis", "tag", "n_files", "has_schema")
  }

  /** Lakehouse OPTIMIZE ZORDER BY: rewrite the live data clustered
    * on the interleaved-bit key of `cols` and commit with per-file
    * zone maps on those same columns — after which a range predicate
    * on ANY of the clustered dimensions prunes files through
    * [[readPruned]] (the single-column sort can only serve its
    * leading column; see `ops.Layout` for the bit-interleaving
    * argument). `repartitionByRange` on the z-key + a within-
    * partition sort gives each output file a tight z-range, hence
    * tight min/max envelopes on every clustered dimension.
    *
    * Unlike [[optimize]] (bin-packing, rewrites only small files)
    * this rewrites ALL live bytes — the expensive, occasional
    * operation real lakehouses schedule; history stays
    * time-travelable until vacuum. */
  def optimizeZOrder(spark: SparkSession, tableDir: String, cols: Seq[String],
                     nFiles: Int): Int = {
    require(cols.size >= 2, "optimizeZOrder needs >= 2 columns (sort linearly for 1)")
    require(nFiles >= 1, s"nFiles must be >= 1, got $nFiles")
    val head = currentVersion(tableDir)
    require(head > 0, s"Snapshots: $tableDir has no committed versions")
    val df = read(spark, tableDir, head)
    val bits = math.min(16, 63 / cols.size)
    val zk = graft.ops.Layout.zKeyN(cols.map(c => graft.ops.Layout.rankBits(df, c, bits)), bits)
    val clustered = df.withColumn("__z", zk)
      .repartitionByRange(nFiles, org.apache.spark.sql.functions.col("__z"))
      .sortWithinPartitions(org.apache.spark.sql.functions.col("__z"))
      .drop("__z")
    commit(clustered, tableDir, "overwrite", tag = None, statsCols = cols)
  }

  // ---------------------------------------------------------------
  // Row-level mutation verbs (copy-on-write) + retrying appends.
  // ---------------------------------------------------------------

  private def localPath(uriOrPath: String): String =
    if (uriOrPath.startsWith("file:")) Paths.get(new java.net.URI(uriOrPath)).toString
    else uriOrPath

  private def stageDataDir(tableDir: String, prefix: String): Path = {
    val nonce = java.util.UUID.randomUUID.toString.take(8)
    Paths.get(tableDir, "data", s"$prefix-$nonce")
  }

  private def listParts(dataDir: Path): Seq[String] =
    if (!Files.isDirectory(dataDir)) Seq.empty
    else Files.list(dataDir).iterator().asScala
      .map(_.toString).filter(_.matches(".*part-.*\\.parquet")).toSeq.sorted

  /** COW-verb source gate: the injected rows' TYPES must match the
    * table's read schema exactly, not just its column names. Without
    * this, an arithmetic widening in the caller (`intCol + 1L`)
    * silently wrote wider-typed files into a narrow-recorded table —
    * readable only by footer-order luck (found by the r10 skew-twin
    * gate: GenSkew's documents carry n_chars as INT where the driver
    * SFs carry BIGINT, and q_merge_cow's +100000L promoted it). */
  private def requireSourceTypes(spark: SparkSession, tableDir: String, head: Int,
                                 df: DataFrame, verb: String): Unit = {
    val table = read(spark, tableDir, head).schema
      .fields.map(f => f.name -> f.dataType).toMap
    df.schema.fields.foreach { f =>
      table.get(f.name).filter(_ != f.dataType).foreach { tt =>
        throw new IllegalArgumentException(
          s"Snapshots: $verb source column '${f.name}' is " +
            s"${f.dataType.catalogString} but the table records ${tt.catalogString} — " +
            "cast the source explicitly; for a lossless table-side widening run " +
            "Snapshots.widen() first")
      }
    }
  }

  /** Publish `v = readV + 1` or fail loud when the table advanced
    * past `readV` since the caller's read: a mutation's REWRITE SET
    * was planned against `readV`'s files, so rebasing it onto a
    * newer HEAD could silently resurrect rows a concurrent commit
    * removed (or drop ones it added). This is the classic
    * serializable-conflict abort — the caller re-runs the whole
    * operation against the new HEAD. */
  private def publishOrConflict(tableDir: String, readV: Int, op: String,
                                lines: Seq[String], tag: Option[String] = None,
                                schema: Option[String] = None,
                                retired: Option[String] = None): Unit =
    try writeManifest(tableDir, readV + 1, readV, op, lines, tag, schema, retired)
    catch { case _: java.nio.file.FileAlreadyExistsException =>
      throw new java.util.ConcurrentModificationException(
        s"Snapshots: $tableDir advanced past version $readV during $op — " +
          "the planned rewrite set is stale; re-run the operation against the new HEAD")
    }

  /** Copy-on-write row-level DELETE: remove the rows where
    * `predicate` is TRUE (NULL-predicate rows SURVIVE — SQL DELETE
    * semantics), rewriting ONLY the files that contain a matching
    * row. Untouched files are carried by reference with their
    * manifest stats; history stays time-travelable until `vacuum`.
    * Returns the committed version, or -1 when nothing matched (no
    * empty commits).
    *
    * Scale: the find-affected pass is one column-pruned scan
    * producing a listing-sized distinct-file set; rewrite IO is
    * proportional to the files actually hit, not the table — on a
    * zone-mapped table a range-shaped predicate additionally prunes
    * the scan itself via [[readPruned]] composition upstream. The
    * publish aborts loudly if the table advanced since the read
    * (stale rewrite set — see [[publishOrConflict]]). */
  def deleteWhere(spark: SparkSession, tableDir: String,
                  predicate: org.apache.spark.sql.Column,
                  mode: String = "cow"): Int = {
    require(mode == "cow" || mode == "mor",
      s"Snapshots: deleteWhere mode must be cow|mor, got '$mode'")
    if (mode == "mor") deleteWhereMorHook(spark, tableDir, predicate, () => ())
    else deleteWhereHook(spark, tableDir, predicate, () => ())
  }

  /** Merge-on-read DELETE: record the TRUE rows' (file, position)
    * pairs as a DV sidecar and stamp `dv:` parts onto the hit files'
    * manifest lines — ZERO data bytes rewritten (a 1-row delete in a
    * 1 GB file costs the sidecar, not the gigabyte; the COW mode
    * rewrites the file). NULL-predicate rows survive (SQL DELETE
    * semantics, same as COW). Reads fold DVs at [[reconciledScan]];
    * `optimize` bakes them into clean files. Returns the committed
    * version, or -1 when nothing matched.
    *
    * Scale: the find pass is one MOR-aware scan (so re-deleting an
    * already-deleted row is impossible and per-file DV counts stay
    * disjoint); sidecar write ∝ matched rows; the manifest publish
    * carries the same serializable-conflict abort as the other
    * mutation verbs (the planned line set is a read set — a racing
    * commit aborts this one loudly). Trade-off vs COW, stated: every
    * subsequent read pays the anti-join until `optimize` bakes —
    * MOR buys cheap writes with slightly dearer reads, the right
    * trade for trickle deletes on a 100 TB table. */
  private[graft] def deleteWhereMorHook(spark: SparkSession, tableDir: String,
                                        predicate: org.apache.spark.sql.Column,
                                        beforePublish: () => Unit): Int = {
    import org.apache.spark.sql.functions._
    val head = currentVersion(tableDir)
    require(head > 0, s"Snapshots: $tableDir has no committed versions")
    val lines = fileLines(tableDir, head)
    if (lines.isEmpty) return -1
    val files = lines.map(_.split('\t')(0))
    val v = head + 1
    val nonce = java.util.UUID.randomUUID.toString.take(8)
    val dvDir = Paths.get(tableDir, "_dv", s"v$v-$nonce")
    reconciledScan(spark, tableDir, head, files, withRowPos = true)
      .where(predicate)
      .select(col(GFile).as("file"), col(GPos).as("pos"))
      .sortWithinPartitions(col("file"), col("pos"))
      .write.parquet(dvDir.toString)
    // per-file counts from the sidecar itself — hit-file-listing-sized
    val counts = spark.read.parquet(dvDir.toString)
      .groupBy(col("file")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    if (counts.isEmpty) {
      Files.walk(dvDir).iterator().asScala.toSeq.reverse.foreach(Files.delete)
      return -1
    }
    // every sidecar file key MUST name a manifest line: a normalization
    // drift between the stamped scan path and the manifest path would
    // otherwise stamp dv: parts on nothing and publish a "successful"
    // delete that deleted nothing (r12 advice, medium — the exact bug
    // the percent-decoding fix in reconciledScan closes; this guard
    // turns any future recurrence loud)
    val manifestPaths = files.toSet
    val unknown = counts.keySet -- manifestPaths
    require(unknown.isEmpty,
      s"Snapshots: deleteWhereMorHook — ${unknown.size} sidecar file key(s) match no " +
        s"v$head manifest line (e.g. ${unknown.take(2).mkString(", ")}); the stamped " +
        "scan path and the manifest path have drifted — aborting instead of " +
        "publishing a no-op delete")
    val newLines = lines.map { l =>
      counts.get(l.split('\t')(0)) match {
        case Some(n) => s"$l\tdv:$n:$dvDir"
        case None => l
      }
    }
    beforePublish()
    // a lost publish race orphans the staged sidecar, the same as a
    // crashed COW rewrite's dir
    publishOrConflict(tableDir, head, "delete-mor", newLines)
    v
  }

  /** Test seam: `beforePublish` runs after the rewrite is planned
    * and staged, before the manifest link — the conflict window the
    * public verb cannot reopen deterministically. */
  private[graft] def deleteWhereHook(spark: SparkSession, tableDir: String,
                                     predicate: org.apache.spark.sql.Column,
                                     beforePublish: () => Unit): Int = {
    import org.apache.spark.sql.functions._
    val head = currentVersion(tableDir)
    require(head > 0, s"Snapshots: $tableDir has no committed versions")
    val lines = fileLines(tableDir, head)
    if (lines.isEmpty) return -1
    val files = lines.map(_.split('\t')(0))
    // reconciledScan everywhere a COW verb touches live files: the
    // predicate references CURRENT column names, which pre-rename
    // files only carry as aliases; and the rewrite must bake the
    // reconciliation in (canonical names, reborn columns NULLed) so
    // rewritten files are clean of history. withRowPos stamps the
    // file path INSIDE the scan stage — input_file_name() on top of
    // the scan is illegal (and wrong) once a DV anti-join is present
    val hit = reconciledScan(spark, tableDir, head, files, withRowPos = true)
      .where(predicate)
      .select(col(GFile).as("__f")).distinct()
      .collect().map(r => localPath(r.getString(0))).toSet // listing-sized
    if (hit.isEmpty) return -1
    val kept = lines.filterNot(l => hit.contains(l.split('\t')(0)))
    val outDir = stageDataDir(tableDir, "d")
    // survivors: predicate FALSE or NULL both keep the row
    reconciledScan(spark, tableDir, head, hit.toSeq.sorted)
      .where(!coalesce(predicate, lit(false)))
      .write.parquet(outDir.toString)
    beforePublish()
    publishOrConflict(tableDir, head, "delete", kept ++ listParts(outDir))
    head + 1
  }

  /** Atomic predicate-scoped overwrite — Delta's `replaceWhere`, the
    * partition-reload verb ("recompute day X and swap it in"): ONE
    * commit deletes the rows where `predicate` is TRUE and inserts
    * `df`. Only files containing a TRUE row rewrite; untouched files
    * carry with their stats. Every INSERTED row must itself satisfy
    * the predicate — a row outside the replaced scope would silently
    * survive the next reload of a different scope, so violations
    * raise inside the write projection (one scan, the manifest
    * never lands, table untouched).
    * Schema must match the table (this verb is not evolution).
    * Publishes with the serializable-conflict abort of the other
    * mutation verbs. */
  def replaceWhere(spark: SparkSession, tableDir: String,
                   predicate: org.apache.spark.sql.Column, df: DataFrame): Int = {
    import org.apache.spark.sql.functions._
    val head = currentVersion(tableDir)
    require(head > 0, s"Snapshots: $tableDir has no committed versions")
    val lines = fileLines(tableDir, head)
    require(lines.nonEmpty, s"Snapshots: $tableDir HEAD is empty; use commit(append)")
    val tableCols = read(spark, tableDir, head).columns.toSeq
    require(df.columns.sorted.toSeq == tableCols.sorted,
      s"Snapshots: replaceWhere schema mismatch — table [${tableCols.sorted.mkString(",")}] " +
        s"vs replacement [${df.columns.sorted.mkString(",")}]")
    requireSourceTypes(spark, tableDir, head, df, "replaceWhere")
    val files = lines.map(_.split('\t')(0))
    val hit = reconciledScan(spark, tableDir, head, files, // alias-safe (see deleteWhere)
        withRowPos = true) // stamped file col — DV-join-safe (see deleteWhere)
      .where(predicate)
      .select(col(GFile).as("__f")).distinct()
      .collect().map(r => localPath(r.getString(0))).toSet // listing-sized
    val kept = lines.filterNot(l => hit.contains(l.split('\t')(0)))
    // inserted rows must live INSIDE the replaced scope — raise in
    // the write projection, one scan
    val c0 = tableCols.head
    val c0Type = df.schema(c0).dataType
    val guardedNew = df.select(tableCols.map(col): _*)
      .withColumn(c0,
        when(!coalesce(predicate, lit(false)),
          raise_error(lit("Snapshots: replaceWhere insert outside the replaced scope — " +
            "every inserted row must satisfy the predicate")).cast(c0Type))
          .otherwise(col(c0)))
    val outDir = stageDataDir(tableDir, "r")
    val rewritten =
      if (hit.isEmpty) guardedNew
      else reconciledScan(spark, tableDir, head, hit.toSeq.sorted)
        .where(!coalesce(predicate, lit(false)))
        .select(tableCols.map(col): _*)
        .unionByName(guardedNew)
    rewritten.write.parquet(outDir.toString)
    publishOrConflict(tableDir, head, "replace", kept ++ listParts(outDir))
    head + 1
  }

  /** Copy-on-write MERGE (keyed upsert): rows of `source` replace
    * same-`key` rows of the table; new-key rows are appended —
    * Delta/Iceberg `MERGE WHEN MATCHED THEN UPDATE WHEN NOT MATCHED
    * THEN INSERT`, as one commit. Only files containing a matched
    * key are rewritten; the rest carry by reference. Fails loud on
    * duplicate source keys (ambiguous merge) and on a schema
    * mismatch (this verb is not schema evolution — use an append
    * with `mergeSchema` for that). Returns the committed version.
    *
    * Scale: candidate files are pre-pruned through the manifest
    * zone maps when the table carries envelopes for `key` (the
    * source's key range is one tiny aggregate); the match pass then
    * scans only candidates' key columns, and rewrite IO ∝ files
    * actually containing matches + the source itself. */
  def mergeInto(spark: SparkSession, tableDir: String, source: DataFrame,
                key: String, tag: Option[String] = None): Int =
    mergeIntoKeys(spark, tableDir, source, Seq(key), tag)

  /** Composite-key form of [[mergeInto]]: a row matches when ALL key
    * columns are equal. Zone-map candidate pruning applies through
    * the first key column when it is integral with recorded stats. */
  def mergeIntoKeys(spark: SparkSession, tableDir: String, source: DataFrame,
                    keys: Seq[String], tag: Option[String] = None): Int = {
    import org.apache.spark.sql.functions._
    require(keys.nonEmpty, "mergeInto needs at least one key column")
    val head = currentVersion(tableDir)
    require(head > 0, s"Snapshots: $tableDir has no committed versions")
    val lines = fileLines(tableDir, head)
    require(lines.nonEmpty, s"Snapshots: $tableDir HEAD is empty; use commit(append)")
    val tableCols = read(spark, tableDir, head).columns.toSeq
    require(source.columns.sorted.toSeq == tableCols.sorted,
      s"Snapshots: mergeInto schema mismatch — table [${tableCols.sorted.mkString(",")}] " +
        s"vs source [${source.columns.sorted.mkString(",")}]")
    requireSourceTypes(spark, tableDir, head, source, "mergeInto")
    require(source.groupBy(keys.map(col): _*).count()
        .where(col("count") > 1).limit(1).count() == 0,
      s"Snapshots: mergeInto source has duplicate (${keys.mkString(",")}) values — ambiguous merge")
    val src = source.select(tableCols.map(col): _*)
    // zone-map candidate pruning: with an INTEGRAL leading key and
    // stats recorded, the match scan touches only files whose range
    // intersects the source's (stat-less files are always kept —
    // never lossy; non-integral keys skip straight to the full
    // candidate set — an ANSI cast would throw, not return NULL)
    val key0 = keys.head
    val files = lines.map(_.split('\t')(0))
    val keyIsIntegral = source.schema(key0).dataType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    val candidates =
      if (!keyIsIntegral) files
      else {
        val bounds = src.agg(min(col(key0).cast("long")), max(col(key0).cast("long"))).first()
        if (bounds.isNullAt(0)) files
        else prunedFiles(tableDir, head, key0, bounds.getLong(0), bounds.getLong(1))
      }
    val srcKeys = src.select(keys.map(col): _*).distinct()
    val hit =
      if (candidates.isEmpty) Set.empty[String]
      else reconciledScan(spark, tableDir, head, candidates, // alias-safe (see deleteWhere)
        withRowPos = true) // stamped file col — DV-join-safe (see deleteWhere)
        .select(keys.map(col) :+ col(GFile).as("__f"): _*)
        .join(srcKeys, keys, "left_semi")
        .select(col("__f")).distinct()
        .collect().map(r => localPath(r.getString(0))).toSet // listing-sized
    val kept = lines.filterNot(l => hit.contains(l.split('\t')(0)))
    val outDir = stageDataDir(tableDir, "m")
    val survivors =
      if (hit.isEmpty) src
      else reconciledScan(spark, tableDir, head, hit.toSeq.sorted)
        .join(srcKeys, keys, "left_anti")
        .select(tableCols.map(col): _*)
        .unionByName(src)
    survivors.write.parquet(outDir.toString)
    publishOrConflict(tableDir, head, "merge", kept ++ listParts(outDir), tag)
    head + 1
  }

  // ---- demo-fixture lifecycle (r14 optimization) ----
  // The three ensure*Table fixtures used to REBUILD their whole
  // multi-version history through the Spark commit path on EVERY
  // call: q_delete_dv alone ran ~30 sequential sub-100 ms jobs, of
  // which the fixture rebuild was ~2/3 (measured; the 7-consumer
  // demo table was rebuilt up to 14× per bench run). The content is
  // a pure function of (sfDir), so the MASTER is now built once per
  // (JVM, sfDir) — first touch still deletes any stale on-disk copy,
  // keeping the no-stale-testdata property — and every call returns
  // a fresh FILESYSTEM CLONE of it. A clone is a driver-side file
  // copy (~1 MB, milliseconds, zero Spark jobs) and is bit-identical
  // to the rebuilt table, so every caller still gets the pristine
  // multi-version history it had before — mutating consumers
  // (q_delete_dv, q_merge_cow, …) mutate their private clone and
  // keep doing their full delete/merge work every call. The clone
  // parent dir is wiped on master (re)build, so clones never
  // accumulate across JVMs.
  private val fixtureMasters = scala.collection.mutable.Map.empty[(String, String), Path]
  private val fixtureCloneSeq = new java.util.concurrent.atomic.AtomicLong

  /** Copy a table tree; manifest text files (`.txt` under
    * `_snapshots`)
    * carry ABSOLUTE data-file paths (and stat/bloom sidecar paths),
    * so they are rewritten to point into the clone — a clone must
    * never alias the master's bytes, or one query's mutation could
    * leak into another's pristine fixture. */
  private def copyTree(src: Path, dst: Path): Unit = {
    val srcS = src.toString
    val dstS = dst.toString
    Files.walk(src).iterator().asScala.foreach { p =>
      val to = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(to)
      else {
        Files.createDirectories(to.getParent)
        if (p.getParent.getFileName.toString == SnapDir &&
            p.getFileName.toString.endsWith(".txt")) {
          val txt = new String(Files.readAllBytes(p), "UTF-8")
          // dv: parts point at PARQUET sidecars whose ROWS carry
          // absolute data-file paths as anti-join keys — a text
          // replace cannot rewrite those, so a cloned MOR table would
          // silently resurrect its deleted rows. No current fixture
          // master carries DVs; fail loud so the helper can never be
          // reused unsafely when one does.
          require(!txt.linesIterator.exists(
              _.split('\t').drop(1).exists(_.startsWith("dv:"))),
            s"Snapshots.copyTree: manifest $p carries a dv: part — deletion-" +
              "vector sidecars are parquet whose rows hold absolute file " +
              "paths; cloning would alias the master's keys. Rebuild the " +
              "fixture per call (or rewrite the sidecar contents) instead.")
          Files.write(to, txt.replace(srcS, dstS).getBytes("UTF-8"))
        } else Files.copy(p, to)
      }
    }
  }

  private def deleteTree(dir: Path): Unit =
    if (Files.exists(dir))
      Files.walk(dir).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  /** Build-once master + clone-per-call: `build` populates the master
    * table dir through the normal commit path on first touch per
    * (JVM, sfDir); every call gets a private bit-identical clone. */
  private def clonedFixture(kind: String, sfDir: String)
                           (build: Path => Unit): String = synchronized {
    val key = Integer.toHexString(sfDir.hashCode)
    val master = fixtureMasters.getOrElseUpdate((kind, sfDir), {
      val m = Paths.get(System.getProperty("java.io.tmpdir"), s"graft-$kind-$key")
      deleteTree(m)
      deleteTree(Paths.get(System.getProperty("java.io.tmpdir"),
        s"graft-$kind-clones-$key"))
      build(m)
      m
    })
    val clone = Paths.get(System.getProperty("java.io.tmpdir"),
      s"graft-$kind-clones-$key", s"c${fixtureCloneSeq.incrementAndGet()}")
    copyTree(master, clone)
    clone.toString
  }

  /** Deterministic demo table for the q_snapshot_read oracle: the
    * documents corpus committed in two appends (even doc_ids, then
    * odd) plus one superseded-and-rolled-back overwrite, so the read
    * path crosses a real multi-version history. Every call returns a
    * PRISTINE private copy (master built once per JVM, cloned per
    * call — see the fixture-lifecycle note above); staged under the
    * system temp dir. */
  def ensureDemoTable(spark: SparkSession, sfDir: String): String =
    clonedFixture("snap", sfDir) { tableDir =>
      val docs = graft.Tables.documents(spark, sfDir)
      val stats = Seq("doc_id") // zone-map envelopes for q_snapshot_prune
      commit(docs.where("doc_id % 2 = 0").repartitionByRange(4, org.apache.spark.sql.functions.col("doc_id")),
        tableDir.toString, "append", statsCols = stats)                   // v1
      commit(docs.where("doc_id % 2 = 1").repartitionByRange(4, org.apache.spark.sql.functions.col("doc_id")),
        tableDir.toString, "append", statsCols = stats)                   // v2
      commit(docs.where("doc_id < 0"), tableDir.toString, "overwrite")    // v3 (empty, wrong)
      rollback(tableDir.toString, 2)                                      // v4 == full corpus
    }

  /** Demo table for the q_prune_time oracle (typed zone maps, r11
    * verdict item #8): the events feed committed range-clustered on
    * EVENT TIME with timestamp + double envelopes — the layout a
    * 100 TB event table actually has (time-ordered ingest ⇒ tight
    * per-file time ranges), so a time-range predicate prunes files
    * through [[readPrunedTyped]]. Master built once per (JVM, sfDir),
    * cloned per call (the ensureDemoTable lifecycle). */
  def ensureTimeTable(spark: SparkSession, sfDir: String): String =
    clonedFixture("timetab", sfDir) { tableDir =>
      val ev = graft.Tables.events(spark, sfDir)
      commit(ev.repartitionByRange(8, org.apache.spark.sql.functions.col("ts")),
        tableDir.toString, "append", statsCols = Seq("ts", "value"))
    }

  /** Scattered-corpus base table for the q_optimize_zorder /
    * q_zorder_box fixtures: the documents corpus committed once,
    * round-robin-scattered over 8 files — the "badly laid out" input
    * OPTIMIZE exists to fix. Master built once per (JVM, sfDir),
    * cloned per call (the fixture-lifecycle note above), so each
    * query still runs its full OPTIMIZE rewrite on a pristine
    * private copy. */
  def ensureScatteredDocsTable(spark: SparkSession, sfDir: String): String =
    clonedFixture("zbase", sfDir) { tableDir =>
      commit(graft.Tables.documents(spark, sfDir).repartition(8),
        tableDir.toString)
    }

  /** Even-docs base table for the q_mv_refresh fixture: the first
    * append the view bootstraps from. The query's own protocol steps
    * (fullRefresh, the second append, the delta refresh) still run
    * fresh on the private clone every call. */
  def ensureEvenDocsTable(spark: SparkSession, sfDir: String): String =
    clonedFixture("mvbase", sfDir) { tableDir =>
      commit(graft.Tables.documents(spark, sfDir).where("doc_id % 2 = 0"),
        tableDir.toString)
    }

  /** Demo table for the q_snapshot_bloom oracle: the corpus in two
    * appends, each hash-clustered by `source` into 4 files and
    * committed with per-file source blooms — so an equality lookup
    * has real files to skip. Separate from [[ensureDemoTable]] to
    * keep the bloom build cost off the other snapshot queries. */
  def ensureBloomTable(spark: SparkSession, sfDir: String): String =
    clonedFixture("bloomtab", sfDir) { tableDir =>
      val docs = graft.Tables.documents(spark, sfDir)
      val src = org.apache.spark.sql.functions.col("source")
      commit(docs.where("doc_id % 2 = 0").repartition(4, src), tableDir.toString,
        "append", bloomCols = Seq("source"), bloomExpectedItems = 4000L, bloomFpp = 0.01)
      commit(docs.where("doc_id % 2 = 1").repartition(4, src), tableDir.toString,
        "append", bloomCols = Seq("source"), bloomExpectedItems = 4000L, bloomFpp = 0.01)
    }
}

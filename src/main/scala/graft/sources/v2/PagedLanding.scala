package graft.sources.v2

import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Builds a paged landing zone — what the reference's fetcher DAG
  * produces upstream of the engine (one landed JSON batch per
  * paginated request, `dags/fetch_weather.py:30-54`) — so the
  * `PagedJsonSource` read path has real pages to scan in tests and
  * registered queries. The page assignment is KEY-RANGED (page i
  * holds user ids in [i·width, (i+1)·width)), matching how a real
  * fetcher pages a keyed API (`?from_id=&to_id=`); that is what makes
  * the manifest's [key_min, key_max] envelopes disjoint and page
  * pruning effective, the same way a z-ordered write makes file
  * envelopes tight before measuring pruning.
  *
  * Determinism: page membership is a pure function of user_id, page
  * files are written one-per-page (rows within a page may land in any
  * order — consumers aggregate, and the connector's contract is a
  * SET of records per page, like any landing zone), and manifest
  * stats are exact per-page aggregates. Re-running overwrites in
  * place, so Verify/Bench runs never read a stale scale factor.
  *
  * Driver-side work is manifest-sized only: one scalar max(user_id)
  * read and one nPages-row stats collect (grid-sized, same policy as
  * the IVF/PQ codebook collects). The page write itself is a single
  * hash repartition by page — one shuffle, then every page file is
  * written by exactly one task.
  */
object PagedLanding {

  /** The landed page record shape (events envelope minus the raw
    * props payload; timestamps stay OUT of pages by the connector's
    * land-as-string contract and aren't needed by its consumers). */
  val pageSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** Derives a key-ranged paged landing for `sfDir`'s events table
    * under the JVM temp dir (rebuilt on every call), returning the
    * landing directory to pass as the connector's `manifest` option. */
  def ensureLanding(spark: SparkSession, sfDir: String, nPages: Int = 16): String = synchronized {
    val dest = new Path(
      System.getProperty("java.io.tmpdir"),
      "graft-landing-" + math.abs(sfDir.hashCode).toString + "-" + nPages)
    val fs = dest.getFileSystem(new Configuration())

    val ev = graft.Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      // a keyed pager can only fetch rows it can address by key —
      // the same key guard Sources.landedJson applies on ingest
      .where(col("user_id").isNotNull)
    val maxUser = ev.agg(max("user_id")).head().getLong(0)
    val width = math.max(1L, maxUser / nPages + 1)
    val paged = ev.withColumn("page", (col("user_id") / width).cast("long"))

    writePages(paged, fs, dest, keyCol = "user_id", nPages = nPages)
    dest.toString
  }

  /** Writes `paged` (must carry a `page` column) as one JSON-lines
    * file per page plus a `manifest.json` of exact key-range stats.
    * Shared by `ensureLanding` and specs that build bespoke pages. */
  def writePages(paged: DataFrame, fs: FileSystem, dest: Path,
                 keyCol: String, nPages: Int): Unit = {
    val pagesDir = new Path(dest, "pages")
    if (fs.exists(dest)) fs.delete(dest, true)

    // one shuffle: every page becomes exactly one task's output file
    paged.repartition(nPages, col("page"))
      .write.mode("overwrite").partitionBy("page").json(pagesDir.toString)

    val stats = paged.groupBy("page")
      .agg(min(keyCol).as("key_min"), max(keyCol).as("key_max"), count(lit(1)).as("rows"))
      .collect() // nPages rows — manifest-sized by construction

    val mapper = new ObjectMapper()
    val out = fs.create(new Path(dest, "manifest.json"), true)
    try {
      stats.sortBy(_.getAs[Long]("page")).foreach { r =>
        val page = r.getAs[Long]("page")
        val dir = new Path(pagesDir, s"page=$page")
        val files = fs.listStatus(dir).map(_.getPath)
          .filter(p => p.getName.startsWith("part-") && p.getName.endsWith(".json"))
        require(files.length == 1,
          s"expected exactly one page file under $dir, found ${files.length} " +
            "(writePages repartitions by page so each page is one task's output)")
        val node = mapper.createObjectNode()
        node.put("path", files.head.toString)
        node.put("rows", r.getAs[Long]("rows"))
        node.put("key_min", r.getAs[Long]("key_min"))
        node.put("key_max", r.getAs[Long]("key_max"))
        out.write((mapper.writeValueAsString(node) + "\n").getBytes(StandardCharsets.UTF_8))
      }
    } finally out.close()
  }
}

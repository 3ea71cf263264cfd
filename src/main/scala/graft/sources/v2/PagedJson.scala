package graft.sources.v2

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.util

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, IsNotNull, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 connector for a PAGED LANDING ZONE — the in-engine
  * half of the reference's paginated REST ingest (SURVEY §2.1 S1/S2;
  * reference `dags/fetch_weather.py:30-54` pages an HTTP API and
  * lands one JSON document batch per request). The HTTP fetch itself
  * is external ingest; what the ENGINE owns is everything after the
  * fetcher lands pages: planning a distributed scan over them,
  * pruning pages the query provably doesn't need, and parsing only
  * the columns the query asks for. This connector is that half,
  * expressed the way Spark wants it expressed — a `TableProvider`
  * whose `Scan` plans one `InputPartition` per page and prunes both
  * pages (via manifest key-range stats + pushed filters) and columns
  * (via `SupportsPushDownRequiredColumns`) at planning time.
  *
  * Layout contract: a landing directory holds
  * `manifest.json` — JSON lines, one per page:
  * `{"path": …, "rows": n, "key_min": n, "key_max": n}` — and the
  * page files themselves (JSON lines, one record per line). The
  * fetcher that lands pages knows each page's key range for free
  * (it REQUESTED that range), so manifest stats cost nothing to
  * produce — the same economics as parquet footer min/max.
  *
  * Scale shape, deliberately:
  *  - One partition per page → a 10⁶-page landing zone scans with
  *    10⁶-way parallelism and NO driver-side file listing beyond the
  *    single manifest read (listing a 10⁶-object prefix is the
  *    classic S3 ingest bottleneck; the manifest replaces it).
  *  - Page pruning happens on the DRIVER against manifest stats
  *    only: a `key BETWEEN a AND b` query opens exactly the pages
  *    whose [key_min, key_max] envelope intersects — the same
  *    skip-index move as a z-ordered write's file envelopes,
  *    applied to raw JSON before any columnar rewrite exists.
  *  - Column pruning skips Jackson field reads for dropped columns;
  *    an empty required schema (`count(*)`) skips JSON parsing
  *    entirely and just counts lines.
  *  - Schema is EXPLICIT (`supportsExternalMetadata`): no inference
  *    pass over the landing zone (at 100 TB inference doubles ingest
  *    I/O — same posture as `Sources.bronzeSchema`).
  *  - Malformed lines FAIL LOUD with the page path and line number.
  *    Quarantine-don't-fail belongs to the bronze JSON reader
  *    (`Sources.landedJsonRaw`'s PERMISSIVE corrupt-record column);
  *    this connector's contract is engine-written pages, where a
  *    parse failure is corruption to surface, not data to route.
  *
  * Row-level filtering stays with Spark: `pushFilters` keeps every
  * filter in the post-scan residual (page stats are envelopes, not
  * exact predicates — identical to parquet row-group pruning
  * semantics), and reports the key-range subset it prunes with via
  * `pushedFilters` so `.explain` shows what the scan skipped.
  *
  * The table also supports MICRO_BATCH_READ: `readStream` over the
  * same landing directory tails the append-only manifest, planning
  * each trigger's batch from the lines appended since the last
  * committed offset — see `PagedMicroBatchStream`.
  */
class PagedJsonSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-pages"
  override def supportsExternalMetadata(): Boolean = true

  /** No inference by design — see the scaladoc's 100 TB posture. */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    throw new IllegalArgumentException(
      "graft paged-json source requires an explicit schema " +
        "(spark.read.format(...).schema(...)): schema inference over a " +
        "landing zone is a second full read. See graft.sources.v2.PagedJsonSource.")

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    PagedJson.validateSchema(schema)
    val opts = new CaseInsensitiveStringMap(properties)
    new PagedJsonTable(schema, opts.get(PagedJson.ManifestOpt),
      Option(opts.get(PagedJson.KeyColOpt)))
  }
}

private[v2] object PagedJson {
  val ManifestOpt = "manifest"
  val KeyColOpt = "keyCol"

  val supportedTypes: Set[DataType] =
    Set(LongType, IntegerType, DoubleType, StringType, BooleanType)

  def validateSchema(schema: StructType): Unit = {
    val bad = schema.fields.filterNot(f => supportedTypes.contains(f.dataType))
    require(bad.isEmpty,
      s"graft paged-json source supports ${supportedTypes.mkString(", ")}; " +
        s"unsupported field(s): ${bad.map(f => s"${f.name}: ${f.dataType}").mkString(", ")}. " +
        "Land timestamps as strings and parse downstream with try_to_timestamp " +
        "(the Sources.landedJson contract).")
  }

  /** One manifest row = one page. */
  final case class PageStat(path: String, rows: Long, keyMin: Long, keyMax: Long)

  /** Streaming-friendly manifest read: a landing zone may be
    * subscribed to before its fetcher lands the first page. */
  def readManifestIfExists(dir: String): Seq[PageStat] = {
    val p = new Path(dir, "manifest.json")
    if (p.getFileSystem(new Configuration()).exists(p)) readManifest(dir) else Seq.empty
  }

  /** Driver-side manifest read: one small file, Hadoop FS API so the
    * landing zone can live on any supported filesystem. */
  def readManifest(dir: String): Seq[PageStat] = {
    val p = new Path(dir, "manifest.json")
    val fs = p.getFileSystem(new Configuration())
    require(fs.exists(p), s"no manifest.json under $dir")
    val in = new BufferedReader(new InputStreamReader(fs.open(p), StandardCharsets.UTF_8))
    try {
      val mapper = new ObjectMapper()
      val out = ArrayBuffer.empty[PageStat]
      var line = in.readLine()
      while (line != null) {
        if (line.trim.nonEmpty) {
          val n = mapper.readTree(line)
          require(n.hasNonNull("path") && n.hasNonNull("rows") &&
            n.hasNonNull("key_min") && n.hasNonNull("key_max"),
            s"manifest line missing path/rows/key_min/key_max: $line")
          out += PageStat(n.get("path").asText, n.get("rows").asLong,
            n.get("key_min").asLong, n.get("key_max").asLong)
        }
        line = in.readLine()
      }
      out.toSeq
    } finally in.close()
  }

  /** Does the page's [keyMin, keyMax] envelope possibly satisfy `f`?
    * Envelope semantics: keep unless the range PROVABLY excludes every
    * matching key — exactly parquet row-group pruning's contract. */
  def pageSurvives(p: PageStat, f: Filter, keyCol: String): Boolean = f match {
    case EqualTo(c, v) if c == keyCol => asLong(v).forall(v => p.keyMin <= v && v <= p.keyMax)
    case GreaterThan(c, v) if c == keyCol => asLong(v).forall(p.keyMax > _)
    case GreaterThanOrEqual(c, v) if c == keyCol => asLong(v).forall(p.keyMax >= _)
    case LessThan(c, v) if c == keyCol => asLong(v).forall(p.keyMin < _)
    case LessThanOrEqual(c, v) if c == keyCol => asLong(v).forall(p.keyMin <= _)
    case In(c, vs) if c == keyCol =>
      vs.exists(v => asLong(v).forall(v => p.keyMin <= v && v <= p.keyMax))
    case _ => true // not a key-range filter: no page-level information
  }

  /** A filter contributes to pruning iff `pageSurvives` can use it. */
  def isPruning(f: Filter, keyCol: String): Boolean = f match {
    case EqualTo(c, _) => c == keyCol
    case GreaterThan(c, _) => c == keyCol
    case GreaterThanOrEqual(c, _) => c == keyCol
    case LessThan(c, _) => c == keyCol
    case LessThanOrEqual(c, _) => c == keyCol
    case In(c, _) => c == keyCol
    case IsNotNull(c) => c == keyCol // trivially true for stats rows; accepted for explain clarity
    case _ => false
  }

  private def asLong(v: Any): Option[Long] = v match {
    case n: java.lang.Number => Some(n.longValue)
    case _ => None // non-numeric literal: treat as unprunable, keep the page
  }
}

private[v2] class PagedJsonTable(tableSchema: StructType, manifestDir: String,
                                 keyCol: Option[String]) extends Table with SupportsRead {
  require(manifestDir != null,
    s"graft paged-json source requires .option('${PagedJson.ManifestOpt}', <landing dir>)")
  keyCol.foreach { k =>
    val f = tableSchema.fields.find(_.name == k).getOrElse(
      throw new IllegalArgumentException(s"keyCol '$k' not in schema ${tableSchema.simpleString}"))
    require(f.dataType == LongType || f.dataType == IntegerType,
      s"keyCol '$k' must be integral for range pruning, got ${f.dataType}")
  }

  override def name(): String = s"paged_json(`$manifestDir`)"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new PagedJsonScanBuilder(schema, manifestDir, keyCol)
}

class PagedJsonScanBuilder(fullSchema: StructType, manifestDir: String,
                           keyCol: Option[String])
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var required: StructType = fullSchema
  private var accepted: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Page stats are envelopes, so EVERY filter stays in the residual
    * (returned array) for Spark to re-apply row-level; the key-range
    * subset is additionally recorded for page pruning + explain. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    accepted = keyCol match {
      case Some(k) => filters.filter(PagedJson.isPruning(_, k))
      case None => Array.empty
    }
    filters
  }
  override def pushedFilters(): Array[Filter] = accepted

  override def build(): Scan =
    new PagedJsonScan(manifestDir, required, accepted, keyCol)
}

class PagedJsonScan(manifestDir: String, requiredSchema: StructType,
                    pageFilters: Array[Filter], keyCol: Option[String])
    extends Scan with Batch {

  private lazy val allPages = PagedJson.readManifest(manifestDir)
  private lazy val kept: Seq[PagedJson.PageStat] = keyCol match {
    case Some(k) => allPages.filter(p => pageFilters.forall(PagedJson.pageSurvives(p, _, k)))
    case None => allPages
  }

  override def readSchema(): StructType = requiredSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"PagedJsonScan manifest=$manifestDir pages=${kept.length}/${allPages.length} " +
      s"PushedPageFilters: [${pageFilters.mkString(", ")}]"

  override def planInputPartitions(): Array[InputPartition] =
    kept.map(p => PagedInputPartition(p.path): InputPartition).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new PagedReaderFactory(requiredSchema)

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new PagedMicroBatchStream(manifestDir, requiredSchema, pageFilters, keyCol)
}

/** Streaming offset = number of manifest lines consumed. The manifest
  * is APPEND-ONLY by contract (the fetcher appends one line as each
  * page lands, pages themselves are immutable), so a line count is a
  * total order over landed data and replaying [start, end) is
  * deterministic — exactly-once ingest falls out of the checkpoint
  * committing these offsets, with no source-side state at all. */
case class PagedStreamOffset(n: Long) extends Offset {
  override def json(): String = n.toString
}

/** Micro-batch ingest of a paged landing zone: each trigger picks up
  * the manifest lines appended since the last committed offset and
  * plans one partition per new page — the engine-side half of the
  * reference's every-N-minutes fetch loop, expressed as a Structured
  * Streaming source instead of an external scheduler re-running a
  * batch job. Key-envelope pruning applies per batch when the query
  * pushed key-range filters; a pruned page is skipped permanently,
  * exactly as in the batch scan (envelopes prove it holds no
  * matching rows). `Trigger.AvailableNow` is supported by pinning
  * the target offset at stream start. */
class PagedMicroBatchStream(manifestDir: String, requiredSchema: StructType,
                            pageFilters: Array[Filter], keyCol: Option[String])
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  @volatile private var availableNowTarget: Option[Long] = None

  private def manifestLines(): Long = PagedJson.readManifestIfExists(manifestDir).length.toLong

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(manifestLines())

  override def initialOffset(): Offset = PagedStreamOffset(0L)

  override def latestOffset(): Offset =
    PagedStreamOffset(availableNowTarget.getOrElse(manifestLines()))

  /** Admission-control form (SupportsTriggerAvailableNow extends it).
    * All landed pages are admitted per trigger — page batches are the
    * fetcher's own rate unit, so a second rate limit would just delay
    * data the manifest already promised. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = latestOffset()
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[PagedStreamOffset].n
    val e = end.asInstanceOf[PagedStreamOffset].n
    val pages = PagedJson.readManifestIfExists(manifestDir)
    require(pages.length >= e,
      s"manifest truncated: committed offset $e exceeds ${pages.length} landed pages — " +
        "landing manifests are append-only; a rewritten manifest breaks replay")
    pages.slice(s.toInt, e.toInt)
      .filter(p => keyCol.forall(k => pageFilters.forall(PagedJson.pageSurvives(p, _, k))))
      .map(p => PagedInputPartition(p.path): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PagedReaderFactory(requiredSchema)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
  override def deserializeOffset(json: String): Offset =
    PagedStreamOffset(json.trim.toLong)
}

case class PagedInputPartition(path: String) extends InputPartition

class PagedReaderFactory(requiredSchema: StructType) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new PagedPartitionReader(partition.asInstanceOf[PagedInputPartition].path, requiredSchema)
}

/** Executor-side page reader: one JSON-lines file, Jackson-parsed
  * field-by-field against the REQUIRED schema only. Empty required
  * schema (count(*)) skips parsing entirely — the scan is then pure
  * line counting. */
class PagedPartitionReader(path: String, requiredSchema: StructType)
    extends PartitionReader[InternalRow] {

  private val hp = new Path(path)
  private val in = new BufferedReader(new InputStreamReader(
    hp.getFileSystem(new Configuration()).open(hp), StandardCharsets.UTF_8))
  private val mapper = if (requiredSchema.isEmpty) null else new ObjectMapper()
  private val fields = requiredSchema.fields
  private var lineNo = 0L
  private var row: InternalRow = _

  override def next(): Boolean = {
    var line = in.readLine()
    while (line != null && line.trim.isEmpty) line = in.readLine()
    if (line == null) { row = null; false }
    else {
      lineNo += 1
      row = if (fields.isEmpty) new GenericInternalRow(0) else parse(line)
      true
    }
  }

  private def parse(line: String): InternalRow = {
    val node =
      try mapper.readTree(line)
      catch {
        case e: Exception => throw new IllegalStateException(
          s"malformed JSON in landed page $path line $lineNo " +
            "(engine-written pages must parse; for external raw payloads use " +
            s"Sources.landedJsonRaw's quarantine): ${e.getMessage}")
      }
    val vals = new Array[Any](fields.length)
    var i = 0
    while (i < fields.length) {
      val f = fields(i)
      val v: JsonNode = node.get(f.name)
      vals(i) =
        if (v == null || v.isNull) null
        else f.dataType match {
          case LongType => longOf(v, f.name)
          case IntegerType => longOf(v, f.name).toInt
          case DoubleType =>
            if (v.isNumber) v.asDouble
            else badType(f.name, "number", v)
          case StringType =>
            if (v.isTextual) UTF8String.fromString(v.asText)
            else badType(f.name, "string", v)
          case BooleanType =>
            if (v.isBoolean) v.asBoolean
            else badType(f.name, "boolean", v)
          case dt => throw new IllegalStateException(s"unreachable: $dt passed validateSchema")
        }
      i += 1
    }
    new GenericInternalRow(vals)
  }

  private def longOf(v: JsonNode, name: String): Long =
    if (v.isIntegralNumber) v.asLong else badType(name, "integer", v)

  private def badType(name: String, want: String, got: JsonNode): Nothing =
    throw new IllegalStateException(
      s"field '$name' in landed page $path line $lineNo: expected $want, got ${got.getNodeType}")

  override def get(): InternalRow = row
  override def close(): Unit = in.close()
}

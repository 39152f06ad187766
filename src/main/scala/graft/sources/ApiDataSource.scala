package graft.sources

import com.fasterxml.jackson.databind.JsonNode
import graft.sinks.HttpSink.HttpRequest
import graft.sinks.JdkTransport
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 form of the paginated API source (S7-S10), the
  * engine's one reader for an endpoint that pages: pages are fetched
  * ON EXECUTORS, planned as real input partitions, instead of a driver
  * loop followed by `createDataFrame`. The project-field dimension
  * mustInit reads is a few dozen rows, so [[graft.board.EtlCli]] reads
  * it with the driver-side [[ApiSource.fetchTable]]; this source is
  * for reads that outgrow one request.
  *
  * {{{
  * spark.read.format("graft-api")
  *   .schema(ApiSource.fieldSchema)
  *   .option("endpoint", "http://127.0.0.1:8080")   // JdkTransport base
  *   .option("urlTemplate", "/fields?page={page}")  // {page} = 0-based
  *   .option("pageSize", "100")                     // optional: short page = last
  *   .option("partitions", "4")                     // parallel stripes
  *   .load()
  * }}}
  *
  * Pagination stays EXPLICIT (the reference silently caps at 100 —
  * gh.js:271,409; this walks to exhaustion) but becomes parallel:
  * with a known page count (`pages` option) planning is exactly
  * partition-per-page; otherwise each of `partitions` stripes walks
  * pages `s, s+P, s+2P, …` until it sees an EMPTY page (beyond-the-end
  * pages return empty arrays), so no stripe depends on another and no
  * cap is ever imposed. Declaring `pageSize` adds the short-page early
  * stop (a page under the server's size is the last one — saves each
  * stripe its one empty probe fetch); it is deliberately NOT defaulted,
  * because a guessed page size larger than the server's would read
  * every page as "short" and silently truncate the dataset.
  *
  * The transport is the same [[JdkTransport]] the connector tier uses,
  * rebuilt per executor from string options (`endpoint`, `header.*`) —
  * nothing non-serializable crosses the plan boundary.
  */
final class ApiDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-api"
  override def supportsExternalMetadata(): Boolean = true
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    throw new IllegalArgumentException(
      "graft-api cannot infer a schema from a remote endpoint; pass .schema(...) explicitly")
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    // fail misconfiguration at .load(), not first action: pageSize = 0
    // would make every stripe spin forever on empty pages
    Option(properties.get("pageSize")).map(_.toInt).foreach(ps =>
      require(ps >= 1, s"graft-api: pageSize must be >= 1, got $ps"))
    new ApiTable(schema)
  }
}

private[sources] final class ApiTable(tableSchema: StructType)
    extends Table with SupportsRead {
  override def name(): String = "graft-api"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    def req(key: String): String = Option(options.get(key)).getOrElse(
      throw new IllegalArgumentException(s"graft-api: missing option '$key'"))
    import scala.jdk.CollectionConverters._
    val headers = options.asCaseSensitiveMap().asScala.toMap.collect {
      case (k, v) if k.toLowerCase(java.util.Locale.ROOT).startsWith("header.") =>
        k.substring("header.".length) -> v
    }
    val cfg = ApiScanConfig(
      endpoint = req("endpoint"),
      headers = headers,
      urlTemplate = req("urlTemplate"),
      pageSize = Option(options.get("pageSize")).map(_.toInt),
      stripes = math.max(1, Option(options.get("partitions")).map(_.toInt).getOrElse(4)),
      pages = Option(options.get("pages")).map(_.toInt))
    require(cfg.pageSize.forall(_ >= 1),
      s"graft-api: pageSize must be >= 1, got ${cfg.pageSize.get}")
    require(cfg.urlTemplate.contains("{page}"),
      "graft-api: urlTemplate must contain a {page} placeholder")
    new ApiScanBuilder(tableSchema, cfg)
  }
}

/** Pushdown surface of the scan:
  *
  *  - REQUIRED COLUMNS: the page fetch is all-or-nothing at the wire
  *    (a REST page has no projection), but pruning cuts what gets
  *    PARSED and what width flows through the scan — under
  *    `.select("id")` each JSON item materializes one field, not the
  *    whole schema.
  *  - LIMIT: the real saver — `.limit(n)` collapses planning to ONE
  *    sequential partition that stops FETCHING pages as soon as n rows
  *    are out (ceil(n/pageSize) requests instead of a full walk).
  *    Declared PARTIALLY pushed, so Spark keeps its own limit on top —
  *    the source uses the hint to stop early, Spark still enforces the
  *    exact count; both stay correct if the server misbehaves.
  */
private[sources] final class ApiScanBuilder(tableSchema: StructType, cfg: ApiScanConfig)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns
    with SupportsPushDownLimit {
  private var required: StructType = tableSchema
  private var limit: Option[Int] = None
  override def pruneColumns(requiredSchema: StructType): Unit = {
    // Spark passes a subset of the declared schema; an empty projection
    // (e.g. count(*)) still needs row CARDINALITY, which the reader
    // yields as zero-width rows
    required = requiredSchema
  }
  override def pushLimit(l: Int): Boolean = {
    limit = Some(l)
    true
  }
  // partial: Spark keeps its own limit on top; the source only uses
  // the hint to stop fetching early
  override def isPartiallyPushed(): Boolean = true
  override def build(): Scan = new ApiScan(required, cfg, limit)
}

private[sources] final case class ApiScanConfig(
    endpoint: String,
    headers: Map[String, String],
    urlTemplate: String,
    pageSize: Option[Int],
    stripes: Int,
    pages: Option[Int])

private[sources] final class ApiScan(schema: StructType, cfg: ApiScanConfig,
    limit: Option[Int] = None)
    extends Scan with Batch {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-api ${cfg.urlTemplate}" +
      limit.map(l => s" limit=$l").getOrElse("") +
      s" cols=[${schema.fieldNames.mkString(",")}]"
  override def planInputPartitions(): Array[InputPartition] = limit match {
    // a pushed limit beats parallelism: ONE sequential walk that stops
    // fetching at ceil(limit/pageSize) pages — P parallel stripes
    // would each have to fetch their first page just to discover the
    // limit was already satisfied elsewhere. A declared page count
    // still BOUNDS the walk: `pages` exists for servers whose
    // beyond-the-end pages error rather than return [], so the limit
    // walk must never probe past page n-1 (a limit larger than the
    // dataset would otherwise crash on the first out-of-range fetch)
    case Some(l) =>
      Array(ApiPagePartition(0, 1, single = false, limit = Some(l),
        maxPages = cfg.pages))
    case None => cfg.pages match {
      // known page count: exactly one partition per page, no probing
      case Some(n) =>
        (0 until n).map(p => ApiPagePartition(p, 1, single = true): InputPartition).toArray
      // unknown: P independent stripes, each walks s, s+P, … to its
      // first short page — beyond-the-end pages are empty, so every
      // stripe terminates without coordinating with the others
      case None =>
        (0 until cfg.stripes)
          .map(s => ApiPagePartition(s, cfg.stripes, single = false): InputPartition)
          .toArray
    }
  }
  override def createReaderFactory(): PartitionReaderFactory =
    ApiReaderFactory(schema.json, cfg)
}

private[sources] final case class ApiPagePartition(start: Int, stride: Int,
    single: Boolean, limit: Option[Int] = None, maxPages: Option[Int] = None)
    extends InputPartition

private[sources] final case class ApiReaderFactory(schemaJson: String, cfg: ApiScanConfig)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new ApiPartitionReader(
      DataType.fromJson(schemaJson).asInstanceOf[StructType],
      cfg, p.asInstanceOf[ApiPagePartition])
}

private[sources] final class ApiPartitionReader(
    schema: StructType, cfg: ApiScanConfig, part: ApiPagePartition)
    extends PartitionReader[InternalRow] {

  private val transport = new JdkTransport(cfg.endpoint, cfg.headers)
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private var page = part.start
  private var exhausted = false
  private var iter: Iterator[InternalRow] = Iterator.empty

  private def fetchNextPage(): Unit = {
    if (part.maxPages.exists(page >= _)) { exhausted = true; return }
    val url = cfg.urlTemplate.replace("{page}", page.toString)
    val resp = transport.send(HttpRequest("GET", url, ""))
    require(resp.status >= 200 && resp.status < 300,
      s"graft-api: GET $url returned ${resp.status}")
    val root = mapper.readTree(resp.body)
    require(root != null && root.isArray, s"graft-api: expected a JSON array from $url")
    val n = root.size()
    iter = (0 until n).iterator.map(i => toRow(root.get(i)))
    // With a DECLARED page count the count is the only terminator: the
    // non-limit declared-pages plan fetches every page independently
    // and tolerates empty or short pages mid-range, so the limit walk
    // must too — stopping at the first empty page would make .limit(n)
    // return fewer rows than the unlimited scan of the same endpoint.
    // In the UNBOUNDED walk an empty page always ends the stripe; a
    // SHORT page ends it only when the caller declared the server's
    // page size — a guessed-at default here would silently truncate a
    // dataset whose server pages smaller than the guess (the
    // gh.js:271 bug in a new costume)
    exhausted = part.single ||
      (part.maxPages.isEmpty && (n == 0 || cfg.pageSize.exists(n < _)))
    page += part.stride
  }

  private var emitted = 0L
  override def next(): Boolean = {
    if (part.limit.exists(emitted >= _)) return false // stop FETCHING, not just emitting
    while (!iter.hasNext && !exhausted) fetchNextPage()
    iter.hasNext
  }
  override def get(): InternalRow = { emitted += 1; iter.next() }
  override def close(): Unit = ()

  private def toRow(node: JsonNode): InternalRow = {
    val values = new Array[Any](schema.length)
    var i = 0
    while (i < schema.length) {
      val f = schema.fields(i)
      val v = node.get(f.name)
      values(i) =
        if (v == null || v.isNull) null
        else f.dataType match {
          // a non-textual node under a string field round-trips as its
          // JSON — the reference's `settings` is exactly such a
          // JSON-in-a-string column (gh.js:397-426)
          case StringType => UTF8String.fromString(if (v.isTextual) v.asText else v.toString)
          case IntegerType => Int.box(v.asInt)
          case LongType => Long.box(v.asLong)
          case DoubleType => Double.box(v.asDouble)
          case BooleanType => Boolean.box(v.asBoolean)
          case dt => throw new IllegalArgumentException(
            s"graft-api: unsupported field type $dt for '${f.name}'")
        }
      i += 1
    }
    new GenericInternalRow(values)
  }
}

package graft.source

import java.util
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, IsNull, Or}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** S1/S2/P4 — the reference's paginated SRI list scan as a DataSource V2.
  *
  * Reference behavior being reproduced (not ported):
  *  - page-by-page scan following `$$meta.next` (client.js:1485-1522) —
  *    here each page is one `InputPartition`, so Spark parallelizes what
  *    the reference pipelines sequentially;
  *  - envelope normalization `{results:[{href,$$expanded}]}` | plain array
  *    | href-only (utils.js:149-169) — inside the partition reader;
  *  - predicate pushdown `modifiedSince=` (client.js:1666-1694) — via
  *    SupportsPushDownFilters. Accepted: `modified_ms >[=] X`, the
  *    tombstone fence `modified_ms >= X OR modified_ms IS NULL` (either
  *    operand order) and `resourcetype = 'deleted'`. All of them are
  *    applied at page-parse time. Only the `modified_ms` lower bound (the
  *    max over every accepted bound) reaches the wire: for an HTTP
  *    transport it is added to the first-page URL as `modifiedSince=`, and
  *    SRI next links carry it forward. The OR form is sent too: SRI
  *    servers filter on `$$meta.modified`, which every SRI resource
  *    carries, and the reference fences its deleted-resources pass the
  *    same way. The parse-time filter stays, so a server that ignores the
  *    parameter yields the same rows;
  *  - projection pushdown `expand=NONE` (hrefs only) — via
  *    SupportsPushDownRequiredColumns, applied at parse time (the URL is
  *    not rewritten; `resourcetype` is not sent either).
  *
  * Transport is pluggable: `pages` option points at a directory of JSON
  * page files (deterministic, testable) or at the first page of a live SRI
  * API (`http://` / `https://`, [[HttpPageStore]]). The store is built in
  * [[SriScanBuilder.build]], after filter pushdown, so the URL can carry
  * the pushed bound.
  *
  * Usage: spark.read.format("sri").option("pages", dir).load()
  */
class SriSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "sri"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SriSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new SriTable(properties.get("pages"),
      HttpPageStore.parseHeaders(properties.get("api.headers")))
}

object SriSource {
  val schema: StructType = StructType(Seq(
    StructField("href", StringType),
    StructField("key", StringType),
    StructField("modified_ms", LongType),
    StructField("jsondata", StringType),
    StructField("resourcetype", StringType)))

  /** Transport selection: a live SRI API for an `http(s)://` first-page
    * URL, with the pushed `modified_ms` lower bound folded in as
    * `modifiedSince=`; otherwise a directory of page files. */
  def store(pages: String, headers: Map[String, String],
            minModified: Option[Long]): PageStore =
    if (pages != null &&
        (pages.startsWith("http://") || pages.startsWith("https://")))
      new HttpPageStore(HttpPageStore.withModifiedSince(pages, minModified),
        headers = headers)
    else new LocalDirPageStore(pages)
}

/** Page listing + fetch contract (the transport seam). */
trait PageStore extends Serializable {
  def listPages(): Seq[String]
  def fetch(page: String): String
  /** Body still resident from enumeration (e.g. an HTTP next-link walk
    * downloads each page to find the next link and keeps a byte-bounded
    * LRU of recent bodies). Returned bodies are embedded in their own
    * InputPartition so those executors don't re-fetch — each partition
    * carries only ITS page, and the store must NOT retain the whole
    * corpus to answer this (see HttpPageStore's driver-memory bound). */
  def cachedBody(page: String): Option[String] = None
}

final class LocalDirPageStore(dir: String) extends PageStore {
  override def listPages(): Seq[String] = {
    val fs = new java.io.File(dir).listFiles()
    if (fs == null) Seq.empty
    else fs.filter(_.getName.endsWith(".json")).map(_.getAbsolutePath)
      .sorted.toSeq
  }
  override def fetch(page: String): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(page)),
      java.nio.charset.StandardCharsets.UTF_8)
}

class SriTable(pagesDir: String,
               apiHeaders: Map[String, String] = Map.empty)
    extends Table with SupportsRead {
  override def name(): String = s"sri($pagesDir)"
  override def schema(): StructType = SriSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new SriScanBuilder(pagesDir, apiHeaders)
  /** Test hook: the headers threaded from the `api.headers` option. */
  def headers: Map[String, String] = apiHeaders
}

class SriScanBuilder(pages: String, headers: Map[String, String] = Map.empty)
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var plainBound: Option[Long] = None
  private var fenceBound: Option[Long] = None
  private var pushedDeletedOnly = false
  private var pushed: Array[Filter] = Array.empty
  private var requiredSchema: StructType = SriSource.schema

  private def lowerBound(f: Filter): Option[Long] = f match {
    case GreaterThanOrEqual("modified_ms", v: java.lang.Long) => Some(v.longValue)
    case GreaterThan("modified_ms", v: java.lang.Long) => Some(v.longValue + 1)
    case _ => None
  }

  /** The tombstone fence `modified_ms >= X OR modified_ms IS NULL`. */
  private def fence(f: Filter): Option[Long] = f match {
    case Or(b, IsNull("modified_ms")) => lowerBound(b)
    case Or(IsNull("modified_ms"), b) => lowerBound(b)
    case _ => None
  }

  /** P4: accept `modified_ms >[=] X` (the modifiedSince watermark), the
    * tombstone fence `modified_ms >= X OR modified_ms IS NULL` and
    * `resourcetype = 'deleted'` (the tombstone pass); everything else
    * stays a post-scan filter. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, rejected) = filters.partition(f =>
      lowerBound(f).isDefined || fence(f).isDefined ||
        f == EqualTo("resourcetype", "deleted"))
    // multiple accepted bounds conjoin: keep the MAX (they were all
    // removed from post-scan evaluation, so last-wins would return rows
    // the query excludes)
    def tighten(cur: Option[Long], v: Long) = Some(cur.fold(v)(math.max(_, v)))
    accepted.foreach { f =>
      lowerBound(f).foreach(v => plainBound = tighten(plainBound, v))
      fence(f).foreach(v => fenceBound = tighten(fenceBound, v))
      if (f == EqualTo("resourcetype", "deleted")) pushedDeletedOnly = true
    }
    pushed = accepted
    rejected
  }
  override def pushedFilters(): Array[Filter] = pushed

  /** expand=NONE analog: only parse/materialize requested columns. */
  override def pruneColumns(required: StructType): Unit = {
    requiredSchema = StructType(
      SriSource.schema.fields.filter(f => required.fieldNames.contains(f.name)))
  }

  override def build(): Scan = {
    // conjoined with a plain bound the fence admits no undated row:
    // (m >= a OR m IS NULL) AND m >= b  ==  m >= max(a, b)
    val minModified = (plainBound ++ fenceBound).maxOption
    val keepUndated = fenceBound.isDefined && plainBound.isEmpty
    new SriScan(SriSource.store(pages, headers, minModified), requiredSchema,
      minModified, keepUndated, pushedDeletedOnly)
  }
}

class SriScan(store: PageStore, required: StructType,
              minModified: Option[Long], keepUndated: Boolean,
              deletedOnly: Boolean)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"SriScan PushedFilters: [minModified=$minModified, " +
      s"keepUndated=$keepUndated, deletedOnly=$deletedOnly], " +
      s"ReadSchema: ${required.simpleString}"

  /** One partition per page — the Spark-native answer to the reference's
    * sequential next-link walk + prefetch: all pages read concurrently.
    * Bodies the store already downloaded while enumerating ride along in
    * their partition (no second fetch).
    *
    * Walked once per scan: Spark asks every new `BatchScanExec` for its
    * partitions, and one query builds several for the same scan (the
    * planner, each physical rule that copies the node, each AQE
    * re-plan after a stage completes). */
  @transient private lazy val partitions: Array[InputPartition] =
    store.listPages()
      .map(p => SriInputPartition(p, store.cachedBody(p)): InputPartition)
      .toArray
  override def planInputPartitions(): Array[InputPartition] = partitions

  override def createReaderFactory(): PartitionReaderFactory =
    new SriReaderFactory(store, required.fieldNames, minModified, keepUndated,
      deletedOnly)
}

case class SriInputPartition(page: String, body: Option[String] = None)
  extends InputPartition

class SriReaderFactory(store: PageStore, columns: Array[String],
                       minModified: Option[Long], keepUndated: Boolean,
                       deletedOnly: Boolean)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[SriInputPartition]
    new SriPageReader(store, part.page, part.body, columns, minModified,
      keepUndated, deletedOnly)
  }
}

/** Parses one page (envelope or plain array), normalizes to rows, applies
  * pushed predicates at parse time. */
class SriPageReader(store: PageStore, page: String, body: Option[String],
                    columns: Array[String], minModified: Option[Long],
                    keepUndated: Boolean, deletedOnly: Boolean)
    extends PartitionReader[InternalRow] {

  private val mapper = new ObjectMapper()
  private val iter: Iterator[InternalRow] = {
    val root = mapper.readTree(body.getOrElse(store.fetch(page)))
    val results =
      if (root.isArray) root
      else if (root.has("results")) root.get("results")
      else mapper.createArrayNode()
    val rows = scala.collection.mutable.ArrayBuffer[InternalRow]()
    results.elements().forEachRemaining { r =>
      // envelope normalization: {href,$$expanded} | bare resource | href-only
      val (href, res) =
        if (r.has("$$expanded")) (r.get("href").asText(), r.get("$$expanded"))
        else if (r.isTextual) (r.asText(), null)
        else if (r.has("href") && r.size() == 1) (r.get("href").asText(), null)
        else (r.path("$$meta").path("permalink").asText(), r)
      val meta = if (res == null) null else res.path("$$meta")
      val modified =
        if (meta == null || meta.path("modified").isMissingNode) null
        else java.lang.Long.valueOf(
          java.time.Instant.parse(meta.path("modified").asText()).toEpochMilli)
      val deleted = meta != null && meta.path("deleted").asBoolean(false)
      val rtype =
        if (deleted) "deleted"
        else if (meta == null) null else meta.path("type").asText(null)
      val keep =
        minModified.forall(m =>
          if (modified == null) keepUndated else modified.longValue >= m) &&
        (!deletedOnly || rtype == "deleted")
      if (keep) {
        val key =
          if (res != null && res.has("key")) res.get("key").asText()
          else href.substring(href.lastIndexOf('/') + 1)
        val all = Map[String, Any](
          "href" -> UTF8String.fromString(href),
          "key" -> UTF8String.fromString(key),
          "modified_ms" -> modified,
          "jsondata" ->
            (if (res == null) null
             else UTF8String.fromString(mapper.writeValueAsString(res))),
          "resourcetype" ->
            (if (rtype == null) null else UTF8String.fromString(rtype)))
        rows += InternalRow.fromSeq(columns.toSeq.map(all(_)))
      }
    }
    rows.iterator
  }

  private var current: InternalRow = _
  override def next(): Boolean =
    if (iter.hasNext) { current = iter.next(); true } else false
  override def get(): InternalRow = current
  override def close(): Unit = ()
}

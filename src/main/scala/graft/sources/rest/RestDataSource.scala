package graft.sources.rest

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, IsNotNull, IsNull, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** `graft-rest`: a DataSource V2 `TableProvider` replaying the reference's
  * paginated REST extraction (`extract.py:146-155`, `353-365`) from local
  * fixture files — the S3/S4 sources as a LITERAL connector rather than a
  * modeled union of pre-fetched scans.
  *
  * Contract: `path` points at page envelopes `page_<i>.json` — a local
  * fixture directory, or (LIVE mode) an `http(s)://` endpoint base — each
  * `{"results": [ {flat object}... ], "next": <int or null>}`, the shape
  * of a cursor-paginated API response. Page DISCOVERY is sequential
  * link-following from `startPage` (default 0) on the driver, exactly
  * like an API client walking `next` cursors, done once per loaded table
  * and shared by every scan of it; record PARSING is distributed over
  * contiguous runs of the discovered pages, one run per core. In live mode
  * every fetch goes through [[RestHttp]] (bounded retry + per-JVM rate
  * limiting — the reference client's politeness contract, S12); the
  * planning/partitioning logic is transport-independent. Tests exercise
  * live mode against an in-process localhost server (zero egress).
  *
  * Schema: user-provided (`.schema(...)`) or inferred from the first
  * non-empty page's records, following the chain only until that page
  * (string/long/double/boolean — the flat payloads the
  * reference's dict-flatten produces). Column pruning is pushed into the
  * reader: `SupportsPushDownRequiredColumns` trims the parsed fields, so
  * `SELECT one_col` never materializes whole records.
  */
final class RestDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-rest"
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    RestPages.inferSchema(RestConf(options))

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new RestTable(schema, new CaseInsensitiveStringMap(properties))
}

/** Resolved reader options, serialized into every [[RestInputPartition]]
  * so executors fetch with the same transport contract the driver planned
  * with. `dir` is either a fixture directory or (live mode) an
  * `http(s)://` endpoint base serving the same `page_<i>.json` layout.
  * `rateLimit` (requests/second per JVM, 0 = unlimited), `maxRetries`,
  * and `retryDelayMs` mirror the reference client's politeness knobs
  * (`extract.py:44-71` limiter; `retries=3, retry_delay_seconds=10` task
  * decorators) and apply only to the HTTP transport. */
final case class RestConf(dir: String, startPage: Int, rateLimit: Int,
    maxRetries: Int, retryDelayMs: Long)

object RestConf {
  def apply(options: CaseInsensitiveStringMap): RestConf = {
    val d = options.get("path")
    require(d != null, "graft-rest requires a 'path' option (page directory or http(s) endpoint)")
    RestConf(d,
      Option(options.get("startPage")).map(_.toInt).getOrElse(0),
      Option(options.get("rateLimit")).map(_.toInt).getOrElse(0),
      Option(options.get("maxRetries")).map(_.toInt).getOrElse(3),
      Option(options.get("retryDelayMs")).map(_.toLong).getOrElse(10000L))
  }
}

/** One loaded page chain. The driver's cursor walk runs at most once per
  * table, i.e. once per `load()`, on the first scan that plans its
  * partitions; every later scan of the same frame (a self-join, a
  * distinct-then-join, a re-executed action) reuses the page list. This
  * is the snapshot a file source's cached listing gives: pages appended
  * to the chain after the walk are seen by the next `load()`, not by
  * this frame. */
final class RestTable(schema: StructType, options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  private val conf = RestConf(options)
  private lazy val pages: Seq[Int] = RestPages.chain(conf).map(_._1).toSeq
  override def name(): String = s"graft-rest(${conf.dir})"
  override def schema(): StructType = schema0
  private val schema0 = schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new RestScanBuilder(schema0, conf, () => pages)
}

final class RestScanBuilder(fullSchema: StructType, conf: RestConf,
    pages: () => Seq[Int])
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {
  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  /** Accept the comparison/null filters [[RestFilters]] can evaluate
    * against a parsed record; everything accepted is ALSO returned as
    * residual (Spark re-checks it — exactly how parquet treats pushed
    * filters), so pushdown is a row-skipping optimization, never a
    * correctness dependency. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(RestFilters.supported)
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def build(): Scan = new RestScan(required, conf, pages, pushed)
}

/** Plans the table's walked pages as contiguous runs, one partition per
  * run: at most `spark.sql.leafNodeDefaultParallelism` runs (Spark's own
  * width for leaf scans; `sparkContext.defaultParallelism` when unset),
  * never more runs than pages. Pagination stays sequential on the driver
  * like an API client's; parsing is distributed, and a 100-row page no
  * longer costs a task of its own. */
final class RestScan(schema: StructType, conf: RestConf,
    pages: () => Seq[Int], filters: Array[Filter])
    extends Scan with Batch {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-rest dir=${conf.dir} start=${conf.startPage} cols=${schema.fieldNames.mkString(",")}" +
      s" PushedFilters: [${filters.mkString(", ")}]"

  override def planInputPartitions(): Array[InputPartition] = {
    val spark = org.apache.spark.sql.SparkSession.active
    val width = spark.conf.getOption("spark.sql.leafNodeDefaultParallelism")
      .map(_.toInt).getOrElse(spark.sparkContext.defaultParallelism)
    RestPages.pack(pages(), width)
      .map(run => RestInputPartition(conf, run): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new RestReaderFactory(schema, filters)
}

final case class RestInputPartition(conf: RestConf, pages: Seq[Int])
    extends InputPartition

final class RestReaderFactory(schema: StructType, filters: Array[Filter])
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val rp = p.asInstanceOf[RestInputPartition]
    new RestPartitionReader(schema, rp.conf, rp.pages, filters)
  }
}

/** Reads its run of pages in order, one page envelope in memory at a time. */
final class RestPartitionReader(schema: StructType, conf: RestConf,
    pages: Seq[Int], filters: Array[Filter])
    extends PartitionReader[InternalRow] {
  private val records = pages.iterator
    .flatMap(RestPages.readPage(conf, _)._1)
    .filter(r => filters.forall(RestFilters.eval(_, r)))
  private var current: InternalRow = _

  override def next(): Boolean =
    if (records.hasNext) { current = convert(records.next()); true }
    else false
  override def get(): InternalRow = current
  override def close(): Unit = ()

  private def convert(node: JsonNode): InternalRow = {
    val vals = schema.fields.map { f =>
      val v = node.get(f.name)
      if (v == null || v.isNull) null
      else f.dataType match {
        case StringType =>
          UTF8String.fromString(if (v.isTextual) v.asText() else v.toString)
        case LongType => v.asLong()
        case IntegerType => v.asInt()
        case DoubleType => v.asDouble()
        case BooleanType => v.asBoolean()
        case dt => throw new IllegalArgumentException(
          s"graft-rest: unsupported column type $dt for field ${f.name}")
      }
    }
    new GenericInternalRow(vals.asInstanceOf[Array[Any]])
  }
}

/** Page-envelope IO shared by planning (walk/infer, driver) and reading
  * (per-partition parse, executors). */
object RestPages {
  private val mapper = new ObjectMapper()

  def pageFile(dir: String, page: Int): java.nio.file.Path =
    java.nio.file.Paths.get(dir, s"page_$page.json")

  /** Raw envelope bytes for one page: a GET in live-HTTP mode (retry +
    * rate limit per [[RestHttp]]), a file read in fixture mode. Same
    * layout (`<base>/page_<i>.json`) either way — the transport is the
    * ONLY difference, so every planning/pruning/filter test on the
    * fixture path exercises the live path's logic too. */
  private def pageBytes(conf: RestConf, page: Int): Array[Byte] =
    if (RestHttp.isHttp(conf.dir))
      RestHttp.fetch(s"${conf.dir.stripSuffix("/")}/page_$page.json", conf)
    else
      java.nio.file.Files.readAllBytes(pageFile(conf.dir, page))

  /** Parse one page envelope → (records, next cursor). */
  def readPage(conf: RestConf, page: Int): (Seq[JsonNode], Option[Int]) = {
    val root = mapper.readTree(pageBytes(conf, page))
    val results = Option(root.get("results"))
      .map(_.elements().asScala.toSeq).getOrElse(Seq.empty)
    val next = Option(root.get("next")).filterNot(_.isNull).map(_.asInt())
    (results, next)
  }

  /** Follow `next` cursors from `startPage`, lazily: each page is fetched
    * when the iterator reaches it, once — the table's walk drains it,
    * inference stops early. Cycle-guarded so a malformed fixture can't
    * hang planning. */
  def chain(conf: RestConf): Iterator[(Int, Seq[JsonNode])] = {
    val seen = scala.collection.mutable.HashSet.empty[Int]
    Iterator.unfold(Option(conf.startPage)) { cursor =>
      cursor.filter(seen.add).map { p =>
        val (records, next) = readPage(conf, p)
        ((p, records), next)
      }
    }
  }

  /** Split `pages` into at most `width` contiguous runs whose sizes differ
    * by at most one (no pages still plan one, empty, run). */
  def pack(pages: Seq[Int], width: Int): Seq[Seq[Int]] = {
    val runs = math.max(1, math.min(width, pages.size))
    val (base, extra) = (pages.size / runs, pages.size % runs)
    (0 until runs).map { i =>
      val from = i * base + math.min(i, extra)
      pages.slice(from, from + base + (if (i < extra) 1 else 0))
    }
  }

  /** Infer string/long/double/boolean columns from the first NON-EMPTY
    * page, fetching no page past it (an empty fixture chain — e.g. a
    * written-out empty DataFrame — has nothing to infer from and needs a
    * user schema), in first-seen field order; a field that is integral in
    * one record and fractional in another widens to double, mixed
    * otherwise → string. */
  def inferSchema(conf: RestConf): StructType = {
    val records = chain(conf).map(_._2).find(_.nonEmpty).getOrElse(Seq.empty)
    require(records.nonEmpty,
      s"graft-rest: all pages in ${conf.dir} are empty — pass an explicit schema")
    val order = scala.collection.mutable.LinkedHashSet[String]()
    val types = scala.collection.mutable.HashMap[String, DataType]()
    def typeOf(v: JsonNode): DataType =
      if (v.isIntegralNumber) LongType
      else if (v.isNumber) DoubleType
      else if (v.isBoolean) BooleanType
      else StringType
    records.foreach { r =>
      r.properties().asScala.foreach { e =>
        if (!e.getValue.isNull) {
          order += e.getKey
          val t = typeOf(e.getValue)
          types.updateWith(e.getKey) {
            case None | Some(`t`) => Some(t)
            case Some(LongType) if t == DoubleType => Some(DoubleType)
            case Some(DoubleType) if t == LongType => Some(DoubleType)
            case Some(_) => Some(StringType)
          }
        }
      }
    }
    StructType(order.toSeq.map(n => StructField(n, types(n), nullable = true)))
  }
}

/** The filter subset the record parser can evaluate directly on a parsed
  * JSON node — rows failing a pushed filter are skipped BEFORE row
  * conversion. Comparisons follow Spark semantics: any comparison against
  * a missing/null field is false (only IsNull matches it). */
object RestFilters {
  def supported(f: Filter): Boolean = f match {
    case _: EqualTo | _: GreaterThan | _: GreaterThanOrEqual |
         _: LessThan | _: LessThanOrEqual | _: IsNotNull | _: IsNull => true
    case _ => false
  }

  def eval(f: Filter, r: JsonNode): Boolean = f match {
    case IsNull(a) => isNull(r, a)
    case IsNotNull(a) => !isNull(r, a)
    case EqualTo(a, v) => cmp(r, a, v).contains(0)
    case GreaterThan(a, v) => cmp(r, a, v).exists(_ > 0)
    case GreaterThanOrEqual(a, v) => cmp(r, a, v).exists(_ >= 0)
    case LessThan(a, v) => cmp(r, a, v).exists(_ < 0)
    case LessThanOrEqual(a, v) => cmp(r, a, v).exists(_ <= 0)
    case _ => true // unsupported filters pass; Spark re-checks them
  }

  private def isNull(r: JsonNode, field: String): Boolean = {
    val v = r.get(field)
    v == null || v.isNull
  }

  /** Three-way compare of the record field against the literal, None when
    * the field is missing/null or not comparable to the literal's type.
    * Matches Spark's semantics exactly: strings compare in UTF-8 BINARY
    * order (Java's compareTo is UTF-16 code-unit order — wrong for
    * supplementary characters), and integral values compare as longs
    * (a double round-trip silently equates neighbors past 2^53). */
  private def cmp(r: JsonNode, field: String, lit: Any): Option[Int] = {
    val v = r.get(field)
    if (v == null || v.isNull) return None
    def utf8(s: String) =
      Some(UTF8String.fromString(v.asText()).compareTo(UTF8String.fromString(s)))
    lit match {
      case s: String if v.isTextual => utf8(s)
      case s: UTF8String if v.isTextual => utf8(s.toString)
      case b: Boolean if v.isBoolean => Some(v.asBoolean().compareTo(b))
      case n @ (_: java.lang.Long | _: java.lang.Integer |
                _: java.lang.Short | _: java.lang.Byte)
          if v.isIntegralNumber =>
        Some(java.lang.Long.compare(v.asLong(),
          n.asInstanceOf[Number].longValue()))
      case n: Number if v.isNumber =>
        Some(java.lang.Double.compare(v.asDouble(), n.doubleValue()))
      case _ => None
    }
  }
}

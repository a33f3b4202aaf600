package graft.sources

import java.util
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import graft.normalize.Columns

/** DataSource V2 for the scraped raw-table family (SURVEY S1 "optional
  * DSv2 source"): reads the raw_table JSONL fixture shape (positional
  * headers/cells per row) and exposes it as an already-normalized wide
  * table — header flattening, canonical renaming, and duplicate
  * suffixing happen at the SOURCE, so every downstream query starts from
  * a stable schema.
  *
  * Spark-first mechanics demonstrated:
  *  - schema inference from one sample row at planning time (driver-side
  *    column algebra, no data pass);
  *  - `SupportsPushDownRequiredColumns`: column pruning reaches the
  *    source — pruned cells are never materialized into rows;
  *  - line-range input partitions: the file splits into
  *    [[RawTableSource.Slices]] ranges so the scan parallelizes like any
  *    multi-split source.
  *
  * Usage:
  * {{{
  * spark.read.format("graft.sources.RawTableSource")
  *   .option("path", "/…/raw_table.json").option("tableId", "roster").load()
  * }}}
  */
class RawTableSource extends TableProvider {

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    RawTableSource.buildSchema(options.get("path"), options.get("tableId"))

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    new RawTableTable(opts.get("path"), opts.get("tableId"), schema)
  }
}

object RawTableSource {
  private val mapper = new ObjectMapper()

  /** Line ranges a scan plans (fewer when the file has fewer lines). */
  private[sources] val Slices = 4

  /** The file's non-empty lines, one JSON row each, unparsed: planning
    * splits them into ranges and each reader parses only its own range.
    * Fixture files are immutable by contract; on mutable storage the
    * line count used for partition planning and a retried reader's
    * re-read could diverge — a real source would plan byte offsets
    * against an immutable snapshot instead. */
  private[sources] def readLines(path: String): IndexedSeq[String] =
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get(path))
      .asScala.iterator.filter(_.nonEmpty).toIndexedSeq

  /** The rows of `tableId` among `lines`, parsed as they are consumed. */
  private[sources] def nodesOf(lines: Iterator[String], tableId: String)
      : Iterator[com.fasterxml.jackson.databind.JsonNode] =
    lines.map(mapper.readTree).filter(_.path("table_id").asText() == tableId)

  /** Metadata columns + normalized header columns (strings at ingest). */
  private[sources] def buildSchema(path: String, tableId: String): StructType = {
    val meta = Seq(
      StructField("team", StringType), StructField("page", StringType),
      StructField("tab", StringType), StructField("row_idx", LongType))
    val headerFields = nodesOf(readLines(path).iterator, tableId)
        .nextOption().map { node =>
      val headers = node.path("headers")
        .elements().asScala.map(_.asText()).toSeq
      Columns.normalizeRawHeaders(headers).map(StructField(_, StringType))
    }.getOrElse(Seq.empty)
    StructType(meta ++ headerFields)
  }
}

class RawTableTable(path: String, tableId: String, tableSchema: StructType)
    extends Table with SupportsRead {

  override def name(): String = s"raw_table($tableId)"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new RawTableScanBuilder(path, tableId, tableSchema)
}

class RawTableScanBuilder(path: String, tableId: String, full: StructType)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {

  private var required: StructType = full
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Accept `team` equality and `row_idx` range predicates — they are
    * evaluated while scanning lines, so filtered rows never become
    * InternalRows. Everything else stays with Spark as residual. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (sup, residual) = filters.partition {
      case EqualTo("team", _: String) => true
      case GreaterThan("row_idx", _) | GreaterThanOrEqual("row_idx", _) |
           LessThan("row_idx", _) | LessThanOrEqual("row_idx", _) => true
      case _ => false
    }
    pushed = sup
    residual
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan =
    new RawTableScan(path, tableId, full, required, pushed)
}

class RawTableScan(path: String, tableId: String,
    full: StructType, required: StructType,
    pushed: Array[Filter]) extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"RawTableScan(tableId=$tableId, pushed=[${pushed.mkString(", ")}])"

  /** Line ranges over ALL the file's rows, of every table id: planning
    * parses nothing, and each reader drops the other tables' rows. */
  override def planInputPartitions(): Array[InputPartition] = {
    val n = RawTableSource.readLines(path).size
    val k = math.max(1, math.min(RawTableSource.Slices, n))
    val per = math.max(1, (n + k - 1) / k)
    (0 until n by per)
      .map(start => RawTableRange(start, math.min(start + per, n)))
      .toArray[InputPartition]
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new RawTableReaderFactory(path, tableId, full, required, pushed)
}

case class RawTableRange(start: Int, end: Int) extends InputPartition

class RawTableReaderFactory(path: String, tableId: String,
    full: StructType, required: StructType,
    pushed: Array[Filter]) extends PartitionReaderFactory {

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val range = p.asInstanceOf[RawTableRange]
    new PartitionReader[InternalRow] {
      private val nodes = RawTableSource.nodesOf(
        RawTableSource.readLines(path).slice(range.start, range.end).iterator,
        tableId)
      // source-side projection: only required ordinals materialize
      private val ordinals = required.fieldNames.map(full.fieldIndex)
      private var current: InternalRow = _

      // SQL three-valued logic: a NULL operand fails every predicate
      private def passes(team: String, rowIdx: java.lang.Long): Boolean =
        pushed.forall {
          case EqualTo("team", v: String) => team != null && team == v
          case GreaterThan("row_idx", v) =>
            rowIdx != null && rowIdx > v.asInstanceOf[Number].longValue()
          case GreaterThanOrEqual("row_idx", v) =>
            rowIdx != null && rowIdx >= v.asInstanceOf[Number].longValue()
          case LessThan("row_idx", v) =>
            rowIdx != null && rowIdx < v.asInstanceOf[Number].longValue()
          case LessThanOrEqual("row_idx", v) =>
            rowIdx != null && rowIdx <= v.asInstanceOf[Number].longValue()
          case _ => true
        }

      // null-safe metadata access: JSON null / missing field -> SQL NULL,
      // never the string "null" (Jackson asText() on NullNode) or 0
      private def strOrNull(node: com.fasterxml.jackson.databind.JsonNode,
          field: String): String = {
        val n = node.get(field)
        if (n == null || n.isNull) null else n.asText()
      }

      private def utf8(s: String): UTF8String =
        if (s == null) null else UTF8String.fromString(s)

      override def next(): Boolean = {
        while (nodes.hasNext) {
          val node = nodes.next()
          val team = strOrNull(node, "team")
          val rowIdx: java.lang.Long = {
            val n = node.get("row_idx")
            if (n == null || n.isNull) null else java.lang.Long.valueOf(n.asLong())
          }
          if (passes(team, rowIdx)) {
            val cells = node.path("cells").elements().asScala
              .map(_.asText(null)).toIndexedSeq
            val values = new Array[Any](ordinals.length)
            var k = 0
            while (k < ordinals.length) {
              values(k) = ordinals(k) match {
                case 0 => utf8(team)
                case 1 => utf8(strOrNull(node, "page"))
                case 2 => utf8(strOrNull(node, "tab"))
                case 3 => if (rowIdx == null) null else rowIdx.longValue()
                case c => if (c - 4 < cells.length) utf8(cells(c - 4)) else null
              }
              k += 1
            }
            current = new GenericInternalRow(values)
            return true
          }
        }
        false
      }

      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}

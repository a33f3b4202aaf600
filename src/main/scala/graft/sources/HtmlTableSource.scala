package graft.sources

import java.util
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionDirectory}
import org.apache.spark.sql.sources.{EqualTo, Filter, In}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import graft.ingest.HtmlTables
import graft.normalize.Columns

/** DataSource V2 over raw scraped HTML pages (SURVEY S1/S2 front end —
  * the extraction the reference performs with BeautifulSoup + pandas
  * `read_html`, `unified_nba_scraper.py:246-281`): each `.html` file is
  * one team page; the source extracts the named table (visible OR
  * comment-embedded — `Basketball_Refrence_alltables.py:226-234`) and
  * exposes it as an already-normalized wide relation.
  *
  * Scale model: the unit of parallelism is the PAGE, never rows within
  * one page, and pages are packed into splits the way Spark's file
  * sources pack small files ([[HtmlTableSource.packPages]]): the split
  * size is `FilePartition.maxSplitBytes` under the session's
  * `spark.sql.files.maxPartitionBytes` / `openCostInBytes` /
  * `minPartitionNum`, and a split's task reads its pages one after the
  * other. A ~5 KB team page costs a task far more to schedule than to
  * parse, so 30 pages scan as a few splits on a 4-core session rather
  * than 30 one-page tasks, while a 100 TB crawl still shards by page
  * with no cross-page coordination (a split holds at most
  * `maxPartitionBytes` of pages, or one page larger than that).
  * Parsing happens inside the partition reader (executor-side); the
  * driver only lists files and parses ONE page at planning time for
  * schema inference.
  *
  * Pushdown:
  *  - `SupportsPushDownRequiredColumns`: pruned columns are never
  *    materialized into InternalRows;
  *  - `page = 'x'` / `page IN (…)` filters prune WHOLE FILES at
  *    planning time — the file-level analog of partition pruning (a
  *    non-matching page is never opened).
  *
  * Schema contract: every page renders a given table id from the same
  * site template, so the header set is page-invariant; the schema
  * inferred from the first page applies to all (matching the
  * reference, which unions per-page dicts without reconciliation).
  *
  * Usage:
  * {{{
  * spark.read.format("graft.sources.HtmlTableSource")
  *   .option("path", "/…/pages")          // file or directory of .html
  *   .option("tableId", "Roster")         // friendly name (post-map)
  *   .load()                              // wide: meta + header columns
  *
  * spark.read.format("graft.sources.HtmlTableSource")
  *   .option("path", "/…/pages")
  *   .option("tableId", "*")              // ALL tables, ONE parse/page
  *   .load()                              // long: page, table_id,
  *                                        //   from_comment, row_idx, col, value
  * }}}
  */
class HtmlTableSource extends TableProvider {

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    HtmlTableSource.buildSchema(options.get("path"), options.get("tableId"))

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    new HtmlTableTable(opts.get("path"), opts.get("tableId"), schema)
  }
}

object HtmlTableSource {

  /** Reserved metadata columns prefixed to every relation. */
  private[sources] val metaFields = Seq(
    StructField("page", StringType),
    StructField("from_comment", BooleanType),
    StructField("row_idx", LongType))

  /** `tableId = "*"`: ALL tables of every page in ONE parse, as the
    * uniform long relation below — the reference's actual access
    * pattern (`unified_nba_scraper.py:260` iterates every table of a
    * page it has already parsed once). Per-table wide reads parse each
    * page once PER TABLE; a 13-table team page costs 13 parses that
    * way and one this way.
    */
  private[sources] val allTables = "*"

  private[sources] val longSchema: StructType = StructType(Seq(
    StructField("page", StringType),
    StructField("table_id", StringType),
    StructField("from_comment", BooleanType),
    StructField("row_idx", LongType),
    StructField("col", StringType),
    StructField("value", StringType)))

  /** Page files under `path`: the file itself, or the lexicographically
    * sorted `*.html`/`*.htm` children of a directory (sorted so page
    * order — and therefore schema-inference choice — is deterministic).
    */
  private[sources] def pageFiles(path: String): Seq[java.io.File] = {
    val f = new java.io.File(path)
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty)
        .filter(c => c.isFile &&
          (c.getName.endsWith(".html") || c.getName.endsWith(".htm")))
        .sortBy(_.getName).toSeq
    else Seq(f)
  }

  private[sources] def pageName(f: java.io.File): String =
    f.getName.replaceAll("\\.html?$", "")

  /** Parse ONE page and return the named table, if present. LAST match
    * wins when several raw ids map to one friendly name (advanced /
    * advanced_stats → Advanced): the reference assigns tables into a
    * dict keyed by name (`unified_nba_scraper.py:262-274`), so a later
    * variant overwrites an earlier one.
    */
  private[sources] def tableIn(file: java.io.File, tableId: String)
      : Option[HtmlTables.ParsedTable] = {
    val html = new String(
      java.nio.file.Files.readAllBytes(file.toPath),
      java.nio.charset.StandardCharsets.UTF_8)
    HtmlTables.extractAll(html).filter(_.tableId == tableId).lastOption
  }

  /** Normalized header names for the table (shared algebra with every
    * other raw-table path — [[Columns.normalizeRawHeaders]]). A
    * headerless table (no thead, no leading all-`<th>` row) gets
    * positional `col_{i}` names — pandas `read_html` keeps such data
    * under integer column labels rather than dropping it.
    */
  private[sources] def dataNames(t: HtmlTables.ParsedTable): Seq[String] = {
    val flat =
      if (t.flatHeaders.nonEmpty) t.flatHeaders
      else (0 until t.rows.map(_.size).maxOption.getOrElse(0))
        .map(i => s"col_$i")
    Columns.normalizeRawHeaders(flat,
      reserved = Set("page", "from_comment", "row_idx"))
  }

  /** Page files packed next-fit into splits, in the given (sorted)
    * order, so reading split after split returns the pages' rows in the
    * same global order as page after page. A page costs its length plus
    * `spark.sql.files.openCostInBytes`, and a split is closed when the
    * next page would take it past `FilePartition.maxSplitBytes` — the
    * rule `FilePartition.getFilePartitions` applies to file splits.
    */
  private[sources] def packPages(session: SparkSession,
      pages: Seq[java.io.File]): Seq[Seq[String]] = {
    val listing = PartitionDirectory(InternalRow.empty, pages.map(f =>
      new FileStatus(f.length, false, 1, 0, f.lastModified,
        new Path(f.toURI))).toArray)
    val maxSplit = FilePartition.maxSplitBytes(session, Seq(listing))
    val openCost = session.sessionState.conf.filesOpenCostInBytes
    val splits = Seq.newBuilder[Seq[String]]
    var split = Vector.empty[String]
    var size = 0L
    pages.foreach { f =>
      if (split.nonEmpty && size + f.length > maxSplit) {
        splits += split
        split = Vector.empty
        size = 0L
      }
      split :+= f.getAbsolutePath
      size += f.length + openCost
    }
    if (split.nonEmpty) splits += split
    splits.result()
  }

  private[sources] def buildSchema(path: String, tableId: String): StructType =
    if (tableId == allTables) longSchema
    else {
      val headerFields = pageFiles(path).iterator
        .flatMap(tableIn(_, tableId)).take(1).toSeq.headOption
        .map(t => dataNames(t).map(StructField(_, StringType)))
        .getOrElse(Seq.empty)
      StructType(metaFields ++ headerFields)
    }
}

class HtmlTableTable(path: String, tableId: String, tableSchema: StructType)
    extends Table with SupportsRead {

  override def name(): String = s"html_table($tableId)"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new HtmlTableScanBuilder(path, tableId, tableSchema)
}

class HtmlTableScanBuilder(path: String, tableId: String, full: StructType)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {

  private var required: StructType = full
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** `page` equality/membership prunes whole files at planning time. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (sup, residual) = filters.partition {
      case EqualTo("page", _: String) => true
      case In("page", vs) => vs.forall(_.isInstanceOf[String])
      case _ => false
    }
    pushed = sup
    residual
  }

  override def pushedFilters(): Array[Filter] = pushed

  /** The scan keeps the session that plans it: its split settings
    * (`spark.sql.files.*`) are that session's. */
  override def build(): Scan =
    new HtmlTableScan(path, tableId, full, required, pushed, SparkSession.active)
}

class HtmlTableScan(path: String, tableId: String,
    full: StructType, required: StructType,
    pushed: Array[Filter], session: SparkSession) extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"HtmlTableScan(tableId=$tableId, pushed=[${pushed.mkString(", ")}])"

  private def pageAccepted(page: String): Boolean = pushed.forall {
    case EqualTo("page", v: String) => page == v
    case In("page", vs) => vs.exists(_ == page)
    case _ => true
  }

  /** The surviving page files packed into splits (see
    * [[HtmlTableSource.packPages]]). */
  override def planInputPartitions(): Array[InputPartition] =
    HtmlTableSource.packPages(session, HtmlTableSource.pageFiles(path)
        .filter(f => pageAccepted(HtmlTableSource.pageName(f))))
      .map(HtmlPageSplit(_))
      .toArray[InputPartition]

  override def createReaderFactory(): PartitionReaderFactory =
    new HtmlTableReaderFactory(tableId, full, required)
}

/** Page files read in turn by one task, in their sorted order. */
case class HtmlPageSplit(files: Seq[String]) extends InputPartition

class HtmlTableReaderFactory(tableId: String,
    full: StructType, required: StructType) extends PartitionReaderFactory {

  // source-side projection: only required ordinals materialize
  private val ordinals = required.fieldNames.map(full.fieldIndex)

  /** Each file of the split through the per-page reader, one page after
    * the other; a page is opened only once the previous one is spent. */
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val rows = p.asInstanceOf[HtmlPageSplit].files.iterator
        .map(new java.io.File(_))
        .flatMap(f =>
          if (tableId == HtmlTableSource.allTables) longRows(f) else wideRows(f))
      private var current: InternalRow = _

      override def next(): Boolean = {
        if (!rows.hasNext) return false
        current = rows.next()
        true
      }

      override def get(): InternalRow = current
      override def close(): Unit = ()
    }

  /** Per-table wide relation: meta columns + one column per header. */
  private def wideRows(file: java.io.File): Iterator[InternalRow] = {
    val page = HtmlTableSource.pageName(file)
    HtmlTableSource.tableIn(file, tableId) match {
      case Some(t) =>
        // schema-drift guard: the schema was inferred from the first
        // page carrying this table; a page whose headers differ would
        // otherwise misalign cells POSITIONALLY and silently corrupt
        // every downstream value. Fail loudly with the page name
        // instead (the reference re-reads each page's own headers,
        // `unified_nba_scraper.py:284-289`, so it cannot misalign).
        val names = HtmlTableSource.dataNames(t)
        val expected = full.fieldNames.drop(HtmlTableSource.metaFields.size).toSeq
        if (names != expected)
          throw new IllegalStateException(
            s"html table '$tableId' on page '$page' has drifted headers: " +
              s"expected $expected, found $names")
        val pageValue = UTF8String.fromString(page)
        t.rows.iterator.zipWithIndex.map { case (r, i) =>
          val cells = r.toIndexedSeq
          val values = new Array[Any](ordinals.length)
          var k = 0
          while (k < ordinals.length) {
            values(k) = ordinals(k) match {
              case 0 => pageValue
              case 1 => t.fromComment
              case 2 => i.toLong
              case c => if (c - 3 < cells.length) utf8(cells(c - 3)) else null
            }
            k += 1
          }
          new GenericInternalRow(values)
        }
      case None => Iterator.empty
    }
  }

  /** All tables in one parse: one long row per cell, header
    * normalization identical to the wide path (same [[HtmlTableSource
    * .dataNames]] algebra, so wide and long reads of a table agree on
    * column names by construction).
    */
  private def longRows(file: java.io.File): Iterator[InternalRow] = {
    val pageValue = UTF8String.fromString(HtmlTableSource.pageName(file))
    val html = new String(
      java.nio.file.Files.readAllBytes(file.toPath),
      java.nio.charset.StandardCharsets.UTF_8)
    HtmlTables.extractAll(html).iterator.flatMap { t =>
      val tid = UTF8String.fromString(t.tableId)
      val names = HtmlTableSource.dataNames(t).map(UTF8String.fromString)
      t.rows.iterator.zipWithIndex.flatMap { case (r, i) =>
        names.iterator.zip(r.iterator).map { case (colName, value) =>
          val values = new Array[Any](ordinals.length)
          var k = 0
          while (k < ordinals.length) {
            values(k) = ordinals(k) match {
              case 0 => pageValue
              case 1 => tid
              case 2 => t.fromComment
              case 3 => i.toLong
              case 4 => colName
              case 5 => utf8(value)
            }
            k += 1
          }
          new GenericInternalRow(values)
        }
      }
    }
  }

  private def utf8(s: String): UTF8String =
    if (s == null) null else UTF8String.fromString(s)
}

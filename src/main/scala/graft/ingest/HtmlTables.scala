package graft.ingest

import scala.collection.mutable.ArrayBuffer

/** HTML-table extraction front end (SURVEY S1/S2): the reference scrapes
  * Basketball-Reference pages where half the stat tables are served
  * INSIDE HTML comments (`unified_nba_scraper.py:246-281`,
  * `Basketball_Refrence_alltables.py:226-234`): it collects the visible
  * `<table>` elements, then re-parses every comment containing
  * `<table`, and processes `visible ++ commented` in document order,
  * naming each table from its `id` attribute via a friendly-name map
  * with an `Unidentified_Table_{i}` fallback.
  *
  * This object reproduces that extraction surface in pure Scala (no
  * parser library — the stat-page subset of HTML is regular enough for
  * a scan-based parser, and the container has no jsoup):
  *
  *  - comment spans are located first, so the visible pass never sees
  *    commented markup and the comment pass re-parses each span;
  *  - per table: `id` attribute, `<thead>` rows as a (possibly
  *    multi-row) header with `colspan` expanded — matching pandas
  *    `read_html` MultiIndex semantics, which the downstream
  *    [[graft.normalize.Columns.flattenHeader]] algebra (P1) was built
  *    for — and every non-thead `<tr>` as a body row, INCLUDING the
  *    mid-`<tbody>` repeated header rows Basketball-Reference emits
  *    (pandas keeps them as data rows; the P6 filter drops them later,
  *    exactly as the reference's `df[df['Player'] != 'Player']` does);
  *  - cell text is tag-stripped, entity-decoded, and
  *    whitespace-collapsed like `read_html`'s text extraction; body
  *    `colspan` repeats the value across the span; short rows are
  *    null-padded to header width (pandas fills NaN).
  *
  *  - `rowspan` carries the cell value down into the following rows at
  *    its column position (pandas `_expand_colspan_rowspan` parity —
  *    the reference's extractor is `read_html`, which does this
  *    natively); the carry is per section (thead rows and body rows
  *    expand independently, matching pandas's per-section calls);
  *  - body rows WIDER than the header widen the table: extra columns
  *    get positional `col_{i}` names (pandas widens with integer
  *    labels; a stable string form keeps the P1/P2 algebra total).
  *
  *  - nested `<table>` elements are emitted as SEPARATE tables in
  *    document order of their opening tags — this matches `read_html`'s
  *    `find_all('table')` recursion (pandas hands every nesting level
  *    to the frame builder). The OUTER-row treatment deliberately
  *    DIVERGES from pandas: its recursive `'tbody tr'` row select makes
  *    nested rows ALSO appear (duplicated) inside the outer frame,
  *    whereas here each nested span is blanked out of the outer
  *    fragment first, so an outer cell that wraps a widget table keeps
  *    its own text and the nested rows appear exactly once, in their
  *    own frame. Separate-frame emission is parity; outer-row exclusion
  *    is an intentional improvement, not parity.
  *
  * Parsing is a per-page, executor-side operation (see
  * [[graft.sources.HtmlTableSource]] — page files packed into splits,
  * each read page by page); at 100 TB the unit of parallelism is
  * pages, never rows of one page, so nothing here touches Spark.
  */
object HtmlTables {

  /** `id` → friendly table name (`unified_nba_scraper.py:34-48`). */
  val tableNameMap: Map[String, String] = Map(
    "roster" -> "Roster",
    "team_and_opponent" -> "Team_and_Opponent_Stats",
    "team_misc" -> "Team_Misc",
    "per_game_stats" -> "Per_Game",
    "totals_stats" -> "Totals",
    "per_minute_stats" -> "Per_36",
    "per_poss" -> "Per_100",
    "per_poss_stats" -> "Per_100",
    "advanced" -> "Advanced",
    "advanced_stats" -> "Advanced",
    "adj_shooting" -> "Adjusted_Shooting",
    "shooting" -> "Shooting",
    "pbp_stats" -> "Play_by_Play")

  /** One extracted table, pre-normalization.
    *
    * @param tableId     friendly name (map → raw id → Unidentified_Table_i)
    * @param fromComment true when the table was embedded in a comment
    * @param headerParts per-column MultiIndex parts, outer row first
    *                    (empty when the table has no header rows)
    * @param rows        body rows, null-padded/truncated to column count
    */
  case class ParsedTable(tableId: String, fromComment: Boolean,
      headerParts: Seq[Seq[String]], rows: Seq[Seq[String]]) {
    /** Flattened header names (P1 algebra), pre-canonicalization. */
    def flatHeaders: Seq[String] =
      headerParts.map(graft.normalize.Columns.flattenHeader(_))
  }

  // ---- lexical helpers -------------------------------------------------

  private val entityMap = Map(
    "amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"",
    "apos" -> "'", "nbsp" -> "\u00a0", "ndash" -> "\u2013",
    "mdash" -> "\u2014", "hellip" -> "\u2026")

  private val entityRe = "&(#x?[0-9a-fA-F]+|[a-zA-Z]+);".r

  /** Decode the named/numeric entities the stat pages actually use. */
  def decodeEntities(s: String): String =
    entityRe.replaceAllIn(s, m => {
      val body = m.group(1)
      val out =
        if (body.startsWith("#x") || body.startsWith("#X"))
          try Character.toChars(Integer.parseInt(body.drop(2), 16)).mkString
          catch { case _: Exception => m.matched }
        else if (body.startsWith("#"))
          try Character.toChars(body.drop(1).toInt).mkString
          catch { case _: Exception => m.matched }
        else entityMap.getOrElse(body, m.matched)
      java.util.regex.Matcher.quoteReplacement(out)
    })

  /** read_html-style cell text: drop tags, decode entities, collapse
    * ALL whitespace (nbsp included) to single spaces, trim. Tags are
    * removed with NO separator \u2014 BeautifulSoup `get_text()` parity:
    * `A<b>B</b>` is "AB", not "A B" (whitespace between tags is literal
    * text and survives on its own).
    */
  def cellText(inner: String): String =
    decodeEntities(inner.replaceAll("(?is)<[^>]*>", ""))
      .replace('\u00a0', ' ')
      .replaceAll("\\s+", " ")
      .trim

  /** Comment spans `<!-- … -->` with their inner text, document order.
    * An unterminated comment runs to end-of-document (HTML5 parser
    * behavior, which BeautifulSoup's html.parser follows).
    */
  private[ingest] def commentSpans(html: String): Seq[(Int, Int, String)] = {
    val out = ArrayBuffer.empty[(Int, Int, String)]
    var i = html.indexOf("<!--")
    while (i >= 0) {
      val close = html.indexOf("-->", i + 4)
      val end = if (close >= 0) close + 3 else html.length
      val inner = html.substring(i + 4, if (close >= 0) close else html.length)
      out += ((i, end, inner))
      i = html.indexOf("<!--", end)
    }
    out.toSeq
  }

  /** Visible markup: comment spans blanked (offsets preserved). */
  private[ingest] def stripComments(html: String): String = {
    val sb = new StringBuilder(html)
    commentSpans(html).foreach { case (s, e, _) =>
      (s until e).foreach(sb.setCharAt(_, ' '))
    }
    sb.toString
  }

  private val trRe = "(?is)<tr\\b[^>]*>(.*?)</tr\\s*>".r
  private val cellRe = "(?is)<(th|td)\\b([^>]*)>(.*?)</\\1\\s*>".r
  private val theadRe = "(?is)<thead\\b[^>]*>(.*?)</thead\\s*>".r
  private val idRe = "(?is)\\bid\\s*=\\s*(\"([^\"]*)\"|'([^']*)'|([^\\s>]+))".r
  private val colspanRe = "(?is)\\bcolspan\\s*=\\s*[\"']?(\\d+)".r
  private val rowspanRe = "(?is)\\browspan\\s*=\\s*[\"']?(\\d+)".r

  /** id attribute of the opening tag of `tableHtml`, or "". */
  private def tableId(tableHtml: String): String = {
    val openEnd = tableHtml.indexOf('>')
    val openTag = if (openEnd >= 0) tableHtml.substring(0, openEnd) else tableHtml
    idRe.findFirstMatchIn(openTag).map { m =>
      Option(m.group(2)).orElse(Option(m.group(3))).getOrElse(m.group(4))
    }.getOrElse("").trim
  }

  /** One raw cell: header-ness, spans, text — before any expansion. */
  private[ingest] case class Cell(isTh: Boolean, colspan: Int, rowspan: Int,
      text: String)

  /** One `<tr>`'s cells, spans still attached. */
  private def parseRow(rowInner: String): Seq[Cell] =
    cellRe.findAllMatchIn(rowInner).map { m =>
      val isTh = m.group(1).equalsIgnoreCase("th")
      val cs = colspanRe.findFirstMatchIn(m.group(2))
        .map(_.group(1).toInt).getOrElse(1).max(1)
      val rs = rowspanRe.findFirstMatchIn(m.group(2))
        .map(_.group(1).toInt).getOrElse(1).max(1)
      Cell(isTh, cs, rs, cellText(m.group(3)))
    }.toSeq

  /** pandas `_expand_colspan_rowspan` parity: colspan repeats a cell
    * across its row; rowspan carries it DOWN into the next rows at its
    * column index. The remainder list holds (columnIndex, text,
    * rowsLeft, isTh) for cells still spanning; each new row interleaves
    * carried cells (at their recorded index) with the row's own cells,
    * exactly pandas's `while remainder and remainder[0][0] <= index`
    * merge. Expansion is per section — callers pass thead rows and body
    * rows separately, as pandas does.
    */
  private[ingest] def expandSpans(rawRows: Seq[Seq[Cell]])
      : Seq[Seq[(Boolean, String)]] = {
    var remainder = List.empty[(Int, String, Int, Boolean)]
    rawRows.map { row =>
      val texts = ArrayBuffer.empty[(Boolean, String)]
      val next = ArrayBuffer.empty[(Int, String, Int, Boolean)]
      var index = 0
      var rem = remainder
      row.foreach { c =>
        while (rem.nonEmpty && rem.head._1 <= index) {
          val (pi, pt, left, pth) = rem.head; rem = rem.tail
          texts += ((pth, pt))
          if (left > 1) next += ((pi, pt, left - 1, pth))
          index += 1
        }
        (0 until c.colspan).foreach { _ =>
          texts += ((c.isTh, c.text))
          if (c.rowspan > 1) next += ((index, c.text, c.rowspan - 1, c.isTh))
          index += 1
        }
      }
      rem.foreach { case (pi, pt, left, pth) =>
        texts += ((pth, pt))
        if (left > 1) next += ((pi, pt, left - 1, pth))
      }
      remainder = next.sortBy(_._1).toList
      texts.toSeq
    }
  }

  /** Every `<table>` span in `html` — outer AND nested — in document
    * order of the opening tags, each matched to its OWN closing tag by
    * nesting depth (the non-greedy-regex alternative would cut an outer
    * table at its first nested close). An opening tag left unmatched at
    * end-of-input is dropped, like the unmatched-`</table>`-less tables
    * the old regex never saw.
    */
  private val tableTagRe = "(?is)<(/?)table\\b[^>]*>".r

  private[ingest] def tableSpans(html: String): Seq[(Int, Int)] = {
    val out = ArrayBuffer.empty[(Int, Int)]
    var stack = List.empty[Int]
    tableTagRe.findAllMatchIn(html).foreach { m =>
      if (m.group(1).isEmpty) stack ::= m.start
      else stack match {
        case top :: rest => out += ((top, m.end)); stack = rest
        case Nil => // stray close tag before any open: ignore
      }
    }
    out.sortBy(_._1).toSeq
  }

  /** All tables of one markup fragment as (rawId, parsed) pairs, nested
    * tables emitted separately (read_html recursion parity): each span
    * is parsed with every span nested INSIDE it blanked, so outer rows
    * and cell text never include nested content — the nested rows
    * arrive once, via the nested table's own entry.
    */
  private[ingest] def tablesIn(fragment: String, fromComment: Boolean)
      : Seq[(String, ParsedTable)] = {
    val spans = tableSpans(fragment)
    spans.map { case (s, e) =>
      val sb = new StringBuilder(fragment.substring(s, e))
      spans.foreach { case (is, ie) =>
        if (is > s && ie <= e) (is until ie).foreach(i => sb.setCharAt(i - s, ' '))
      }
      parseTable(sb.toString, fromComment)
    }
  }

  /** Parse one `<table>…</table>` fragment (id resolution happens in
    * [[extractAll]] because the Unidentified fallback is positional).
    * Callers guarantee nested spans are already blanked ([[tablesIn]]).
    */
  private[ingest] def parseTable(tableHtml: String, fromComment: Boolean)
      : (String, ParsedTable) = {
    val theadInner = theadRe.findFirstMatchIn(tableHtml).map(_.group(1))
    val bodyHtml = theadRe.replaceAllIn(tableHtml, "")

    val (headerRows, bodyAll): (Seq[Seq[String]], Seq[Seq[String]]) =
      theadInner match {
        case Some(h) =>
          // thead and body expand as separate sections (pandas parity)
          val hdr = expandSpans(
            trRe.findAllMatchIn(h).map(m => parseRow(m.group(1))).toSeq)
          val body = expandSpans(
            trRe.findAllMatchIn(bodyHtml).map(m => parseRow(m.group(1))).toSeq)
          (hdr.map(_.map(_._2)), body.map(_.map(_._2)))
        case None =>
          // pandas: one section; leading all-<th> rows act as the header
          val all = expandSpans(
            trRe.findAllMatchIn(tableHtml).map(m => parseRow(m.group(1))).toSeq)
          val hdr = all.takeWhile(cs => cs.nonEmpty && cs.forall(_._1))
          (hdr.map(_.map(_._2)), all.drop(hdr.size).map(_.map(_._2)))
      }

    val nHeader = headerRows.map(_.size).maxOption.getOrElse(0)
    val nBody = bodyAll.map(_.size).maxOption.getOrElse(0)
    val width = math.max(nHeader, nBody)

    // per-column MultiIndex parts: ragged header rows right-pad with "";
    // body columns beyond the header widen the table with positional
    // names (pandas widens with integer labels)
    val headerParts: Seq[Seq[String]] =
      if (headerRows.isEmpty) Seq.empty
      else (0 until width).map { c =>
        if (c < nHeader) headerRows.map(r => r.lift(c).getOrElse(""))
        else Seq(s"col_$c")
      }

    // read_html parity: an empty/whitespace-only cell is NaN, not ""
    val rows = bodyAll.map { r =>
      val padded =
        if (r.size >= width) r.take(width)
        else r ++ Seq.fill(width - r.size)(null: String)
      padded.map(v => if (v == null || v.isEmpty) null else v)
    }.filter(_.nonEmpty)

    (tableId(tableHtml), ParsedTable("", fromComment, headerParts, rows))
  }

  /** Full extraction surface of one page: visible tables, then tables
    * re-parsed out of comments, in document order — with the
    * reference's naming cascade (`unified_nba_scraper.py:262-274`:
    * name map → raw id → `Unidentified_Table_{i}` over the COMBINED
    * sequence). Empty tables (no body rows) are dropped, mirroring the
    * reference's `len(df) < 1: continue`.
    */
  def extractAll(html: String): Seq[ParsedTable] = {
    val visible = tablesIn(stripComments(html), fromComment = false)
    val commented = commentSpans(html)
      .filter(_._3.contains("<table"))
      .flatMap { case (_, _, inner) => tablesIn(inner, fromComment = true) }
    (visible ++ commented).zipWithIndex.map { case ((rawId, t), i) =>
      val name =
        if (rawId.nonEmpty) tableNameMap.getOrElse(rawId, rawId)
        else s"Unidentified_Table_$i"
      t.copy(tableId = name)
    }.filter(_.rows.nonEmpty)
  }
}

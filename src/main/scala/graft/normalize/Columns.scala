package graft.normalize

import org.apache.spark.sql.DataFrame

/** Schema-normalization pass: the central data-model feature of the
  * reference (SURVEY.md §1.3). Scraped tables arrive with two-row
  * MultiIndex headers, ~35 known raw header variants, and duplicate or
  * empty names; everything downstream assumes one canonical flat schema.
  *
  * All of this is pure column *algebra* (`Seq[String] => Seq[String]`) —
  * it never touches data, so it runs on the driver in O(#columns) and the
  * resulting `toDF(names)`/`withColumnsRenamed` is a zero-cost projection
  * in the physical plan regardless of table size.
  *
  * Reference behavior being reproduced:
  *  - flatten: `unified_nba_scraper.py:112-137`,
  *    `Basketball_Refrence_alltables.py:76-101`
  *  - canonical rename: `unified_nba_scraper.py:51-63,139-156`
  *  - duplicate suffixing: `Cleaning_Glass_#1.py:440-450`
  */
object Columns {

  /** Join the non-empty parts of one MultiIndex header tuple. Parts that
    * are blank or pandas-style `Unnamed: 3_level_0` placeholders are
    * dropped. A tuple whose kept parts are ALL the same label collapses
    * to that single label: a `rowspan`'d header cell occupies EVERY
    * level of its column's tuple, so ("Rk","Rk") means the one label
    * "Rk" — and full-height identity is the only repeat shape a rowspan
    * carry can produce, so the collapse never fires on a PARTIAL repeat
    * (("Total","Total","PTS") keeps all three parts, matching the
    * reference's join-all `_flatten_columns`,
    * `unified_nba_scraper.py:112-121`; r9 advice #1 — the previous
    * consecutive-pair dedup collapsed those too). The full-identity
    * collapse itself is a DELIBERATE divergence from the reference's
    * literal join-all, which would emit "Rk Rk" for a rowspan-filled
    * tuple: the rowspan repeat is an artifact of header expansion, not
    * a label the page author wrote twice, so the single label is the
    * faithful column name. A fully-empty tuple becomes `Unnamed`.
    */
  def flattenHeader(parts: Seq[String], sep: String = " "): String = {
    val kept = parts.map(_.trim)
      .filter(p => p.nonEmpty && !p.toLowerCase.startsWith("unnamed"))
    if (kept.isEmpty) "Unnamed"
    else if (kept.forall(_ == kept.head)) kept.head
    else kept.mkString(sep)
  }

  /** Canonical rename dictionary: raw header variant → stable name.
    * Matching is longest-variant-first substring containment on the
    * normalized (lowercased, separator-collapsed) header, with a final
    * `%` → `_pct` fallback for unmapped percentage columns.
    * Semantics per `unified_nba_scraper.py:51-63,139-156`.
    */
  val canonicalMap: Seq[(String, String)] = Seq(
    "effective field goal percentage" -> "eFG_pct",
    "true shooting percentage" -> "TS_pct",
    "win shares per 48" -> "WS_per_48",
    "ws/48" -> "WS_per_48",
    "field goal percentage" -> "FG_pct",
    "three point percentage" -> "FG3_pct",
    "free throw percentage" -> "FT_pct",
    "offensive rebound percentage" -> "ORB_pct",
    "defensive rebound percentage" -> "DRB_pct",
    "total rebound percentage" -> "TRB_pct",
    "assist percentage" -> "AST_pct",
    "steal percentage" -> "STL_pct",
    "block percentage" -> "BLK_pct",
    "turnover percentage" -> "TOV_pct",
    "usage percentage" -> "USG_pct",
    "points per game" -> "PTS_per_G",
    "minutes played" -> "MP",
    "games started" -> "GS",
    "games played" -> "G",
    "efg%" -> "eFG_pct",
    "3p%" -> "FG3_pct",
    "fg pct" -> "FG_pct",
    "fg%" -> "FG_pct",
    "ft%" -> "FT_pct",
    "ts%" -> "TS_pct",
    "3pm" -> "FG3M",
    "birth date" -> "Birth_Date",
    "player" -> "Player",
    "team" -> "Team",
    "opponent" -> "Opponent",
    "points" -> "PTS",
    "rebounds" -> "REB",
    "assists" -> "AST",
    "steals" -> "STL",
    "blocks" -> "BLK",
    "turnovers" -> "TOV",
  ).sortBy { case (raw, _) => -raw.length }

  private def normalizeRaw(h: String): String =
    h.toLowerCase.replaceAll("[\\s_\\-/]+", " ").trim

  /** Match keys in the same normalized space as the input headers —
    * otherwise separator-bearing variants (`ws/48`) could never match. */
  private val normalizedMap: Seq[(String, String)] =
    canonicalMap.map { case (raw, canon) => normalizeRaw(raw) -> canon }

  /** Canonicalize one raw header. Unmatched headers keep their original
    * text except for the `%` → `_pct` repair and whitespace collapse.
    */
  def canonicalName(raw: String): String = {
    val n = normalizeRaw(raw)
    normalizedMap.collectFirst { case (v, canon) if n.contains(v) => canon }
      .getOrElse {
        raw.trim.replaceAll("%", "_pct").replaceAll("\\s+", " ")
      }
  }

  /** Give the 2nd, 3rd, … occurrence of a name a `_1`, `_2`, … suffix.
    * Required pre-step before any `select`: Spark rejects duplicate
    * column names that pandas tolerates (SURVEY.md §7.5 #1). A suffixed
    * name that itself collides keeps incrementing until unique.
    */
  def dedupSuffix(names: Seq[String]): Seq[String] = {
    val seen = scala.collection.mutable.Set[String]()
    names.map { n =>
      if (!seen.contains(n)) { seen += n; n }
      else {
        var i = 1
        while (seen.contains(s"${n}_$i")) i += 1
        val out = s"${n}_$i"
        seen += out
        out
      }
    }
  }

  /** Header normalization shared by every raw-table read path
    * (`ingest.Readers.rawTable`, `sources.RawTableSource`): flatten +
    * canonical rename, suffix names that would collide (case-
    * insensitively) with reserved metadata columns, then positional
    * dedup. Both paths MUST use this so their schemas stay identical.
    */
  def normalizeRawHeaders(headers: Seq[String],
      reserved: Set[String] = Set("team", "page", "tab", "row_idx")): Seq[String] =
    dedupSuffix(
      headers.map(h => canonicalName(flattenHeader(Seq(h))))
        .map(n => if (reserved(n.toLowerCase)) s"${n}_col" else n))

  /** Full normalization: flatten already done at ingest; canonical-rename
    * then dedup-suffix every column of `df`.
    */
  def normalize(df: DataFrame): DataFrame = {
    val renamed = df.columns.toSeq.map(canonicalName)
    df.toDF(dedupSuffix(renamed): _*)
  }
}

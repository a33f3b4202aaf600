package graft.enrich

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Team-entity canonicalization (SURVEY J1 + F15/F16/F17):
  * alias lookup with mascot-strip retry, record-suffix stripping, and
  * the order-sensitive "LOS ANGELES" disambiguation.
  *
  * Reference semantics reproduced: `DEFENSEVSPOSTION.PY:83-116` (alias
  * dict), `:162-188` (canonicalize + mascot-strip retry + LA counter),
  * `:171-172` (record suffix).
  *
  * Scale design: the alias table is a bounded constant (≤ a few hundred
  * entries), so the lookup is an expression, not a join: one map literal
  * probed per row inside the projection, with no broadcast, no hash
  * relation held by the plan and no exchange — the fact side never
  * shuffles or waits for the lookup. The LA fix is one window
  * partitioned by the caller's keys, so every row shuffles once, by
  * the keys the validators group on.
  */
object Teams {

  /** Canonical NBA team names (the 30-team universe the validators
    * check against). */
  val canonicalTeams: Seq[String] = Seq(
    "Atlanta Hawks", "Boston Celtics", "Brooklyn Nets", "Charlotte Hornets",
    "Chicago Bulls", "Cleveland Cavaliers", "Dallas Mavericks",
    "Denver Nuggets", "Detroit Pistons", "Golden State Warriors",
    "Houston Rockets", "Indiana Pacers", "LA Clippers", "LA Lakers",
    "Memphis Grizzlies", "Miami Heat", "Milwaukee Bucks",
    "Minnesota Timberwolves", "New Orleans Pelicans", "New York Knicks",
    "Oklahoma City Thunder", "Orlando Magic", "Philadelphia 76ers",
    "Phoenix Suns", "Portland Trail Blazers", "Sacramento Kings",
    "San Antonio Spurs", "Toronto Raptors", "Utah Jazz",
    "Washington Wizards")

  /** Alias → canonical. Keys are stored in normalized form (upper, no
    * periods, collapsed whitespace). Covers: city names, abbreviations,
    * mascot names, and common short forms. Bare "LOS ANGELES" is
    * deliberately ABSENT — it is order-disambiguated, not looked up.
    */
  val aliases: Seq[(String, String)] = {
    val base: Seq[(String, String)] = canonicalTeams.map(t => t.toUpperCase -> t)
    val cities = Seq(
      "ATLANTA" -> "Atlanta Hawks", "BOSTON" -> "Boston Celtics",
      "BROOKLYN" -> "Brooklyn Nets", "CHARLOTTE" -> "Charlotte Hornets",
      "CHICAGO" -> "Chicago Bulls", "CLEVELAND" -> "Cleveland Cavaliers",
      "DALLAS" -> "Dallas Mavericks", "DENVER" -> "Denver Nuggets",
      "DETROIT" -> "Detroit Pistons", "GOLDEN STATE" -> "Golden State Warriors",
      "HOUSTON" -> "Houston Rockets", "INDIANA" -> "Indiana Pacers",
      "MEMPHIS" -> "Memphis Grizzlies", "MIAMI" -> "Miami Heat",
      "MILWAUKEE" -> "Milwaukee Bucks", "MINNESOTA" -> "Minnesota Timberwolves",
      "NEW ORLEANS" -> "New Orleans Pelicans", "NEW YORK" -> "New York Knicks",
      "OKLAHOMA CITY" -> "Oklahoma City Thunder", "ORLANDO" -> "Orlando Magic",
      "PHILADELPHIA" -> "Philadelphia 76ers", "PHOENIX" -> "Phoenix Suns",
      "PORTLAND" -> "Portland Trail Blazers", "SACRAMENTO" -> "Sacramento Kings",
      "SAN ANTONIO" -> "San Antonio Spurs", "TORONTO" -> "Toronto Raptors",
      "UTAH" -> "Utah Jazz", "WASHINGTON" -> "Washington Wizards")
    val abbrs = Seq(
      "ATL" -> "Atlanta Hawks", "BOS" -> "Boston Celtics",
      "BKN" -> "Brooklyn Nets", "CHA" -> "Charlotte Hornets",
      "CHI" -> "Chicago Bulls", "CLE" -> "Cleveland Cavaliers",
      "DAL" -> "Dallas Mavericks", "DEN" -> "Denver Nuggets",
      "DET" -> "Detroit Pistons", "GSW" -> "Golden State Warriors",
      "HOU" -> "Houston Rockets", "IND" -> "Indiana Pacers",
      "LAC" -> "LA Clippers", "LAL" -> "LA Lakers",
      "MEM" -> "Memphis Grizzlies", "MIA" -> "Miami Heat",
      "MIL" -> "Milwaukee Bucks", "MIN" -> "Minnesota Timberwolves",
      "NOP" -> "New Orleans Pelicans", "NYK" -> "New York Knicks",
      "OKC" -> "Oklahoma City Thunder", "ORL" -> "Orlando Magic",
      "PHI" -> "Philadelphia 76ers", "PHX" -> "Phoenix Suns",
      "POR" -> "Portland Trail Blazers", "SAC" -> "Sacramento Kings",
      "SAS" -> "San Antonio Spurs", "TOR" -> "Toronto Raptors",
      "UTA" -> "Utah Jazz", "WAS" -> "Washington Wizards")
    val mascots = Seq(
      "HAWKS" -> "Atlanta Hawks", "CELTICS" -> "Boston Celtics",
      "NETS" -> "Brooklyn Nets", "HORNETS" -> "Charlotte Hornets",
      "BULLS" -> "Chicago Bulls", "CAVALIERS" -> "Cleveland Cavaliers",
      "CAVS" -> "Cleveland Cavaliers", "MAVERICKS" -> "Dallas Mavericks",
      "MAVS" -> "Dallas Mavericks", "NUGGETS" -> "Denver Nuggets",
      "PISTONS" -> "Detroit Pistons", "WARRIORS" -> "Golden State Warriors",
      "ROCKETS" -> "Houston Rockets", "PACERS" -> "Indiana Pacers",
      "CLIPPERS" -> "LA Clippers", "LAKERS" -> "LA Lakers",
      "GRIZZLIES" -> "Memphis Grizzlies", "HEAT" -> "Miami Heat",
      "BUCKS" -> "Milwaukee Bucks", "TIMBERWOLVES" -> "Minnesota Timberwolves",
      "WOLVES" -> "Minnesota Timberwolves", "PELICANS" -> "New Orleans Pelicans",
      "KNICKS" -> "New York Knicks", "THUNDER" -> "Oklahoma City Thunder",
      "MAGIC" -> "Orlando Magic", "76ERS" -> "Philadelphia 76ers",
      "SIXERS" -> "Philadelphia 76ers", "SUNS" -> "Phoenix Suns",
      "TRAIL BLAZERS" -> "Portland Trail Blazers",
      "BLAZERS" -> "Portland Trail Blazers", "KINGS" -> "Sacramento Kings",
      "SPURS" -> "San Antonio Spurs", "RAPTORS" -> "Toronto Raptors",
      "JAZZ" -> "Utah Jazz", "WIZARDS" -> "Washington Wizards",
      "LOS ANGELES LAKERS" -> "LA Lakers",
      "LOS ANGELES CLIPPERS" -> "LA Clippers")
    (base ++ cities ++ abbrs ++ mascots).distinct
  }

  /** [[aliases]] as one map literal, the lookup's only copy in a plan.
    * The keys are unique (`TeamsSpec` checks it), so the map keeps
    * every entry. */
  private lazy val aliasMap = typedLit(aliases.toMap)

  /** Normalize a raw team string for lookup: upper, strip periods and the
    * trailing `(W-L)` record suffix, collapse whitespace. */
  def normalizeRaw(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    trim(regexp_replace(
      regexp_replace(upper(c), "\\.", ""),
      "\\s*\\([^)]*\\)\\s*$", ""))

  /** Canonicalize `rawCol` against the alias table.
    *
    * Pipeline: normalize → alias lookup → mascot-strip retry (look up
    * all but the last word) → order-sensitive LA fix: the 1st bare
    * "LOS ANGELES" per (position, timeframe) in `row_idx` order is the
    * Lakers, the 2nd the Clippers. Unresolvable names yield null
    * `canonical` (callers validate, SURVEY A8).
    */
  def canonicalize(df: DataFrame, rawCol: String,
      partitionCols: Seq[String] = Seq("position", "timeframe"),
      orderCol: String = "row_idx"): DataFrame = {
    val norm = col("__norm")
    val isLa = norm === "LOS ANGELES"
    // mascot-strip retry: drops a trailing unknown word ("CLEVELAND
    // CAVALIERS FANS" → "CLEVELAND CAVALIERS") when the whole name misses
    val looked = coalesce(
      try_element_at(aliasMap, norm),
      try_element_at(aliasMap, regexp_replace(norm, "\\s+\\S+$", "")))
    // LA rows rank first, so each ranks among LA rows only; keyed by
    // the caller's keys alone, the output stays partitioned by them.
    val laWindow = Window
      .partitionBy((if (partitionCols.isEmpty) Seq(isLa) else partitionCols.map(col)): _*)
      .orderBy(isLa.desc, col(orderCol))
    df.withColumn("__norm", normalizeRaw(col(rawCol)))
      .withColumn("__la_rank",
        when(isLa, row_number().over(laWindow)).otherwise(lit(null)))
      .withColumn("canonical",
        when(isLa,
          when(col("__la_rank") === 1, "LA Lakers").otherwise("LA Clippers"))
          .otherwise(looked))
      .drop("__norm", "__la_rank")
  }
}

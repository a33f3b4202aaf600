"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of (seed, size): the same seed gives
byte-identical files. Each writes its inputs into one directory together
with `answers.json`, the planted answers the output checker compares
against.

- `tables`: the ten TPC-H-shaped parquet tables the query rows read
  (region, nation, customer, supplier, part, orders, lineitem, events,
  documents, embeddings), in the same schema as the repository's
  testdata, with planted near-duplicate documents and vectors.
- `slate`: one nightly slate of scraped NBA inputs: team pages in
  basketball-reference shape, a league CSV, a defense-vs-position grid,
  sportsbook prop page text and insight cards.
"""
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- tables

VOCAB = ["a", "the", "row", "key", "agg", "scan", "slow", "fast", "table",
         "value", "part", "hash", "merge", "batch", "spark", "line", "sort",
         "window", "order", "data", "column", "join", "small", "customer",
         "query", "filter", "group", "big", "stream", "vector"]
LANGS = ["en"] * 6 + ["de", "es", "fr", "zh"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
COLORS = ["red", "blue", "green", "small", "large", "shiny", "matte"]
NOUNS = ["widget", "ring", "bolt", "gear", "panel", "valve", "spring"]
PTYPES = ["ECONOMY", "STANDARD", "PROMO", "LARGE", "SMALL"]

EPOCH_2024_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z in µs
DAY_US = 86_400 * 1_000_000


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _docs(rng: random.Random, n: int):
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.04:  # exact duplicate of an earlier document
            texts.append(texts[rng.randrange(i)])
        elif i > 10 and r < 0.14:  # near duplicate: one word swapped, tag
            words = texts[rng.randrange(i)].split(" ")
            words[rng.randrange(len(words))] = rng.choice(VOCAB)
            texts.append(" ".join(words) + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB)
                                  for _ in range(rng.randint(8, 90))))
    return pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([rng.choice(LANGS) for _ in range(n)], pa.string()),
        "source": pa.array([f"src{rng.randrange(20)}" for _ in range(n)],
                           pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(seed: int, n: int, dim: int = 64, labels: int = 10):
    g = np.random.default_rng(seed)
    centers = g.normal(0.0, 0.15, size=(labels, dim))
    lab = g.integers(0, labels, size=n)
    vecs = centers[lab] + g.normal(0.0, 0.08, size=(n, dim))
    dups = g.random(n) < 0.05  # planted near-duplicate vectors
    for i in np.nonzero(dups)[0]:
        if i > 0:
            vecs[i] = vecs[g.integers(0, i)] + g.normal(0.0, 0.001, dim)
    vecs = vecs.astype(np.float32)
    return pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array([list(map(float, v)) for v in vecs],
                              pa.list_(pa.float32())),
        "label": pa.array(lab.astype(np.int32), pa.int32()),
    })


def gen_tables(out: str, seed: int, size: dict) -> dict:
    """Write the ten parquet tables; returns the answers record."""
    os.makedirs(out, exist_ok=True)
    rng = random.Random(seed)
    n_cust, n_supp, n_part = size["customer"], size["supplier"], size["part"]
    n_ord, n_ev, n_doc, n_emb = (size["orders"], size["events"],
                                 size["documents"], size["embeddings"])
    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE",
                            "MIDDLE EAST"], pa.string())}),
        f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        f"{out}/nation.parquet")
    _write(pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array([rng.randrange(25) for _ in range(n_cust)],
                                pa.int32()),
        "c_acctbal": pa.array([round(rng.uniform(-999, 9999), 2)
                               for _ in range(n_cust)], pa.float64()),
        "c_mktsegment": pa.array([rng.choice(SEGMENTS)
                                  for _ in range(n_cust)])}),
        f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array([rng.randrange(25) for _ in range(n_supp)],
                                pa.int32()),
        "s_acctbal": pa.array([round(rng.uniform(-999, 9999), 2)
                               for _ in range(n_supp)], pa.float64())}),
        f"{out}/supplier.parquet")
    _write(pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": pa.array([f"{rng.choice(COLORS)} {rng.choice(NOUNS)}"
                            for _ in range(n_part)]),
        "p_brand": pa.array([f"Brand#{rng.randrange(1, 26)}"
                             for _ in range(n_part)]),
        "p_type": pa.array([rng.choice(PTYPES) for _ in range(n_part)]),
        "p_size": pa.array([rng.randint(1, 50) for _ in range(n_part)],
                           pa.int32()),
        "p_retailprice": pa.array([round(900 + (i % 1000) * 0.1, 2)
                                   for i in range(n_part)], pa.float64())}),
        f"{out}/part.parquet")
    day_ms = 86_400_000
    base_ms = 694224000000  # 1992-01-01
    odate = [base_ms + rng.randrange(0, 3650) * day_ms for _ in range(n_ord)]
    _write(pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array([rng.randrange(n_cust) for _ in range(n_ord)],
                              pa.int64()),
        "o_orderstatus": pa.array([rng.choice("FOP") for _ in range(n_ord)]),
        "o_totalprice": pa.array([round(rng.uniform(900, 500000), 2)
                                  for _ in range(n_ord)], pa.float64()),
        "o_orderdate": pa.array(odate, pa.timestamp("ms")).cast(
            pa.timestamp("us")),
        "o_orderpriority": pa.array([rng.choice(PRIORITIES)
                                     for _ in range(n_ord)])}),
        f"{out}/orders.parquet")
    li = {k: [] for k in ["l_orderkey", "l_partkey", "l_suppkey",
                          "l_linenumber", "l_quantity", "l_extendedprice",
                          "l_discount", "l_tax", "l_returnflag",
                          "l_linestatus", "l_shipdate"]}
    for o in range(n_ord):
        for ln in range(1, rng.randint(1, 7) + 1):
            q = float(rng.randint(1, 50))
            li["l_orderkey"].append(o)
            li["l_partkey"].append(rng.randrange(n_part))
            li["l_suppkey"].append(rng.randrange(n_supp))
            li["l_linenumber"].append(ln)
            li["l_quantity"].append(q)
            li["l_extendedprice"].append(round(q * rng.uniform(900, 2000), 2))
            li["l_discount"].append(rng.randint(0, 10) / 100)
            li["l_tax"].append(rng.randint(0, 8) / 100)
            li["l_returnflag"].append(rng.choice("ANR"))
            li["l_linestatus"].append(rng.choice("FO"))
            li["l_shipdate"].append(odate[o] + rng.randrange(1, 120) * day_ms)
    types = {"l_orderkey": pa.int64(), "l_partkey": pa.int64(),
             "l_suppkey": pa.int64(), "l_linenumber": pa.int32(),
             "l_quantity": pa.float64(), "l_extendedprice": pa.float64(),
             "l_discount": pa.float64(), "l_tax": pa.float64(),
             "l_returnflag": pa.string(), "l_linestatus": pa.string()}
    cols = {k: pa.array(v, types[k]) for k, v in li.items()
            if k != "l_shipdate"}
    cols["l_shipdate"] = pa.array(li["l_shipdate"], pa.timestamp("ms")).cast(
        pa.timestamp("us"))
    _write(pa.table(cols), f"{out}/lineitem.parquet")
    ts, t = [], EPOCH_2024_US
    span = 30 * DAY_US // max(n_ev, 1)
    for _ in range(n_ev):
        t += rng.randint(1, 2 * span)
        ts.append(t)
    n_users = max(n_ev // 60, 10)
    _write(pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array([rng.randrange(n_users) for _ in range(n_ev)],
                            pa.int64()),
        "event_type": pa.array([rng.choice(EVENT_TYPES)
                                for _ in range(n_ev)]),
        "value": pa.array([round(rng.uniform(0, 50), 2)
                           for _ in range(n_ev)], pa.float64()),
        "props": pa.array([f'{{"k": {rng.randrange(100)}}}'
                           for _ in range(n_ev)])}),
        f"{out}/events.parquet")
    _write(_docs(rng, n_doc), f"{out}/documents.parquet")
    _write(_embeddings(seed, n_emb), f"{out}/embeddings.parquet")
    answers = {"kind": "tables", "seed": seed, "size": size}
    with open(f"{out}/answers.json", "w") as f:
        json.dump(answers, f, indent=1, sort_keys=True)
    return answers


# ----------------------------------------------------------------- slate

TEAMS = ["ATL", "BOS", "BKN", "CHA", "CHI", "CLE", "DAL", "DEN", "DET",
         "GSW", "HOU", "IND", "LAC", "LAL", "MEM", "MIA", "MIL", "MIN",
         "NOP", "NYK", "OKC", "ORL", "PHI", "PHX", "POR", "SAC", "SAS",
         "TOR", "UTA", "WAS"]
# canonical name and alias spellings per team (DvP and league inputs)
ALIASES = {
    "ATL": ["ATLANTA HAWKS", "Atlanta", "HAWKS", "ATL"],
    "BOS": ["Boston Celtics", "BOSTON", "CELTICS", "BOS"],
    "BKN": ["Brooklyn Nets", "BROOKLYN", "NETS", "BKN"],
    "CHA": ["Charlotte Hornets", "CHARLOTTE", "HORNETS", "CHA"],
    "CHI": ["Chicago Bulls", "CHICAGO", "BULLS", "CHI"],
    "CLE": ["Cleveland Cavaliers", "CLEVELAND", "CAVS", "CLE"],
    "DAL": ["Dallas Mavericks", "DALLAS", "MAVS", "DAL"],
    "DEN": ["Denver Nuggets", "DENVER", "NUGGETS", "DEN"],
    "DET": ["Detroit Pistons", "DETROIT", "PISTONS", "DET"],
    "GSW": ["Golden State Warriors", "GOLDEN STATE", "WARRIORS", "GSW"],
    "HOU": ["Houston Rockets", "HOUSTON", "ROCKETS", "HOU"],
    "IND": ["Indiana Pacers", "INDIANA", "PACERS", "IND"],
    "LAC": ["LA Clippers", "CLIPPERS", "LAC"],
    "LAL": ["LA Lakers", "LAKERS", "LAL"],
    "MEM": ["Memphis Grizzlies", "MEMPHIS", "GRIZZLIES", "MEM"],
    "MIA": ["Miami Heat", "MIAMI", "HEAT", "MIA"],
    "MIL": ["Milwaukee Bucks", "MILWAUKEE", "BUCKS", "MIL"],
    "MIN": ["Minnesota Timberwolves", "MINNESOTA", "WOLVES", "MIN"],
    "NOP": ["New Orleans Pelicans", "NEW ORLEANS", "PELICANS", "NOP"],
    "NYK": ["New York Knicks", "NEW YORK", "KNICKS", "NYK"],
    "OKC": ["Oklahoma City Thunder", "OKLAHOMA CITY", "THUNDER", "OKC"],
    "ORL": ["Orlando Magic", "ORLANDO", "MAGIC", "ORL"],
    "PHI": ["Philadelphia 76ers", "PHILADELPHIA", "SIXERS", "PHI"],
    "PHX": ["Phoenix Suns", "PHOENIX", "SUNS", "PHX"],
    "POR": ["Portland Trail Blazers", "PORTLAND", "BLAZERS", "POR"],
    "SAC": ["Sacramento Kings", "SACRAMENTO", "KINGS", "SAC"],
    "SAS": ["San Antonio Spurs", "SAN ANTONIO", "SPURS", "SAS"],
    "TOR": ["Toronto Raptors", "TORONTO", "RAPTORS", "TOR"],
    "UTA": ["Utah Jazz", "UTAH", "JAZZ", "UTA"],
    "WAS": ["Washington Wizards", "WASHINGTON", "WIZARDS", "WAS"],
}
POSITIONS = ["PG", "SG", "SF", "PF", "C"]
TIMEFRAMES = ["2025-26", "Last 7", "Last 15", "Last 30"]
FIRST = ["Jayson", "Jaylen", "Luka", "Kevin", "Nikola", "Anthony", "Devin",
         "Tyrese", "Donovan", "Jalen", "Scottie", "Evan", "Paolo", "Franz",
         "Cade", "Trae", "Desmond", "Mikal", "Zion", "Brandon"]
LAST = ["Tatum", "Brown", "Doncic", "Durant", "Jokic", "Davis", "Booker",
        "Haliburton", "Mitchell", "Williams", "Barnes", "Mobley", "Banchero",
        "Wagner", "Cunningham", "Young", "Bane", "Bridges", "Murray",
        "Ingram", "O'Neale", "Vucevic", "Porzingis", "Russell"]
# entity-encoded spellings of some surnames, as the pages serve them
ENCODED = {"O'Neale": "O&#39;Neale", "Vucevic": "Vu&#269;evi&#263;",
           "Porzingis": "Porzi&#326;&#291;is"}
MARKETS = ["Points", "Rebounds", "Assists", "Threes"]
BOOKS = ["DraftKings", "FanDuel", "BetMGM", "Caesars"]

# (raw table id, comment-wrapped, two-row header, stat headers); every
# table carries Rk and a sum column PTS (or the two-row "Totals PTS")
TABLES = [
    ("roster", False, False, ["Pos", "Ht", "Wt", "Exp"]),
    ("per_game_stats", False, False, ["G", "MP", "FG", "FGA", "3P%"]),
    ("totals_stats", False, False, ["G", "MP", "FG", "FGA", "TRB"]),
    ("per_minute_stats", False, False, ["G", "MP", "FG", "FGA", "AST"]),
    ("per_poss", True, True, ["ORtg", "DRtg"]),
    ("advanced", True, False, ["PER", "TS%", "USG%", "WS"]),
    ("shooting", True, True, ["FG%", "Dist"]),
    ("adj_shooting", False, False, ["FG+", "3P+", "FT+"]),
    ("pbp_stats", True, False, ["OnCourt", "On-Off", "BadPass"]),
    ("team_misc", False, False, ["W", "L", "SRS", "Pace"]),
]
# friendly names the source maps the raw ids to
FRIENDLY = {"roster": "Roster", "per_game_stats": "Per_Game",
            "totals_stats": "Totals", "per_minute_stats": "Per_36",
            "per_poss": "Per_100", "advanced": "Advanced",
            "shooting": "Shooting", "adj_shooting": "Adjusted_Shooting",
            "pbp_stats": "Play_by_Play", "team_misc": "Team_Misc"}


def _player(rng: random.Random):
    """(display name, html-encoded name) of a random player."""
    first, last = rng.choice(FIRST), rng.choice(LAST)
    return f"{first} {last}", f"{first} {ENCODED.get(last, last)}"


def _page(rng: random.Random, team: str, season: int, rows: int):
    """One basketball-reference-shaped team page and its planted answers."""
    out = [f"<!DOCTYPE html>\n<html><head><title>{season} {team} Roster and "
           f"Stats</title></head>\n<body><h1>{team}</h1>\n"
           "<!-- nav comment without a table -->\n"]
    answers = {}
    for raw_id, commented, two_row, stats in TABLES:
        n = rows + rng.randrange(0, 6)
        pts_sum = 0
        sum_col = "Totals PTS" if two_row else "PTS"
        head_last = ["Rk", "Player"] + stats + ["PTS"]
        if two_row:
            thead = ("<tr><th></th><th></th>"
                     f"<th colspan=\"{len(stats)}\">Rates</th>"
                     "<th>Totals</th></tr>\n"
                     "<tr>" + "".join(f"<th>{h}</th>" for h in head_last)
                     + "</tr>\n")
        else:
            thead = "<tr>" + "".join(f"<th>{h}</th>"
                                     for h in head_last) + "</tr>\n"
        body = []
        for r in range(n):
            if r > 0 and r % 10 == 0:  # mid-tbody repeated header row
                body.append("<tr class=\"thead\">" + "".join(
                    f"<th>{h}</th>" for h in head_last) + "</tr>\n")
            _, enc = _player(rng)
            if r % 7 == 3:
                enc = enc.replace(" ", "&nbsp; ", 1)
            cells = []
            for i, _h in enumerate(stats):
                if rng.random() < 0.06:
                    cells.append("&mdash;" if i % 2 else "—")
                else:
                    cells.append(f"{rng.randint(0, 400) / 10:.1f}")
            pts = rng.randint(0, 3000)
            pts_sum += pts
            body.append(
                f"<tr><th>{r + 1}</th><td><a href=\"/p/{r}.html\">{enc}</a>"
                "</td>" + "".join(f"<td>{c}</td>" for c in cells)
                + f"<td>{pts}</td></tr>\n")
        html = (f"<table id=\"{raw_id}\" class=\"stats_table\">\n<thead>\n"
                f"{thead}</thead>\n<tbody>\n{''.join(body)}</tbody>\n"
                "</table>\n")
        out.append(f"<div id=\"all_{raw_id}\">\n<!--\n{html}-->\n</div>\n"
                   if commented else html)
        answers[FRIENDLY[raw_id]] = {"rows": n, "sum_col": sum_col,
                                     "sum": pts_sum}
    out.append("</body></html>\n")
    return "".join(out), answers


def _props_page(rng: random.Random, match: str, players: int):
    """Hard Rock-style page text for one match and its planted props."""
    lines = ["Player Props", "Same Game Parlay"]
    props = []
    seen = set()
    for _ in range(players):
        name, _enc = _player(rng)
        while name in seen:
            name, _enc = _player(rng)
        seen.add(name)
        lines.append(name)
        for market in rng.sample(MARKETS, rng.randint(2, 4)):
            lines.append(market)
            line = rng.randint(2, 40) + 0.5
            for side in ("O", "U"):
                odds = rng.choice(["-", "+"]) + str(rng.randint(100, 180))
                lines.append(f"{side} {line} {odds}")
                props.append({"player": name, "market": market,
                              "side": "Over" if side == "O" else "Under",
                              "line": line, "odds": odds})
    return "\n".join(lines), props


def _card(rng: random.Random, idx: int):
    """Outlier-style insight card and its planted parse."""
    name, _ = _player(rng)
    team, opp = rng.sample(TEAMS, 2)
    market = rng.choice(MARKETS)
    outcome = rng.choice(["Over", "Under"])
    line = rng.randint(2, 40) + 0.5
    pct = rng.randint(10, 99)
    book = rng.choice(BOOKS)
    hour = rng.randint(1, 11)
    text = (f"{name}\n{team} @ {opp} Today {hour}:30 PM\n"
            f"{outcome} {line} {market}\n"
            f"has exceeded {int(line)} {market.lower()} in 8 of last 10 games\n"
            f"{pct}%\n-1{rng.randint(10, 60)} on {book}")
    card = {"card_idx": idx, "text": text,
            "url": f"https://insights.example/{idx}"}
    planted = {"card_idx": idx, "player": name, "team": team,
               "opponent": opp, "outcome": outcome, "line": line,
               "market": market, "hit_rate": pct, "sportsbook": book}
    return card, planted


def gen_slate(out: str, seed: int, size: dict) -> dict:
    """Write one seeded nightly slate; returns the planted answers."""
    rng = random.Random(seed)
    pages_dir = f"{out}/pages"
    os.makedirs(pages_dir, exist_ok=True)
    stats = {}
    for season in range(2026 - size["seasons"] + 1, 2027):
        for team in TEAMS:
            html, ans = _page(rng, team, season, size["rows"])
            page = f"{team}_{season}"
            with open(f"{pages_dir}/{page}.html", "w", encoding="utf-8") as f:
                f.write(html)
            for table, a in ans.items():
                stats[f"{team}|{season}|{table}"] = a

    # league CSV: BOM, padded cells, an empty-named column
    with open(f"{out}/league.csv", "w", encoding="utf-8") as f:
        f.write("﻿Team , W,L , PTS , ,\n")
        league_pts = 0.0
        for team in TEAMS:
            w = rng.randint(10, 70)
            pts = rng.randint(1000, 1300) / 10
            league_pts += pts
            f.write(f" {rng.choice(ALIASES[team])} ,{w}, {82 - w} ,{pts}, x,\n")

    # DvP grid: aliases, record suffixes, bare LOS ANGELES pairs, and
    # planted faults (one team replaced by an unknown name)
    groups = [(p, t) for p in POSITIONS for t in TIMEFRAMES]
    faults = sorted(rng.sample(range(len(groups)), size["dvp_faults"]))
    dvp_rows = []
    for g, (pos, tf) in enumerate(groups):
        order = TEAMS[:]
        rng.shuffle(order)
        # the Lakers row precedes the Clippers row (scan-order rule)
        la = [t for t in order if t in ("LAL", "LAC")]
        if la != ["LAL", "LAC"]:
            i, j = order.index("LAL"), order.index("LAC")
            order[min(i, j)], order[max(i, j)] = "LAL", "LAC"
        others = [t for t in order if t not in ("LAL", "LAC")]
        bad = others[rng.randrange(len(others))] if g in faults else None
        bare_la = rng.random() < 0.5  # both or neither, never one
        for idx, team in enumerate(order):
            if team == bad:
                raw = "SEATTLE SUPERSONICS"
            elif team in ("LAL", "LAC") and bare_la:
                raw = "LOS ANGELES"
            else:
                raw = rng.choice(ALIASES[team])
                if rng.random() < 0.2:
                    raw += f" ({rng.randint(0, 40)}-{rng.randint(0, 40)})"
            stat = {k: f"{rng.randint(0, 400) / 10:.1f}"
                    for k in ["pts", "reb", "ast", "three_pm", "stl", "blk",
                              "to"]}
            dvp_rows.append({"position": pos, "timeframe": tf,
                             "row_idx": idx, "team_raw": raw, **stat})
    with open(f"{out}/dvp.json", "w") as f:
        for r in dvp_rows:
            f.write(json.dumps(r) + "\n")

    props, n_lines, n_odds = [], 0, 0
    with open(f"{out}/props.json", "w") as f:
        for m in range(size["matches"]):
            home, away = rng.sample(TEAMS, 2)
            match = f"{home} vs {away} {m}"
            text, planted = _props_page(rng, match, size["players"])
            for p in planted:
                p["match_id"] = match
            props += planted
            n_lines += sum(1 for ln in text.split("\n")
                           if len(ln.strip()) >= 3)
            n_odds += len(planted)
            f.write(json.dumps({"match_id": match, "text": text}) + "\n")

    cards = []
    with open(f"{out}/cards.json", "w") as f:
        for i in range(size["cards"]):
            card, planted = _card(rng, i)
            cards.append(planted)
            f.write(json.dumps(card) + "\n")

    answers = {
        "kind": "slate", "seed": seed, "size": size,
        "stats": stats,
        "league": {"rows": len(TEAMS), "sum_col": "PTS",
                   "sum": round(league_pts, 1)},
        "dvp": {"rows": len(dvp_rows), "groups": len(groups),
                "faults": [list(groups[g]) for g in faults],
                "unmatched": len(faults)},
        "props": props, "prop_lines": n_lines, "odds_lines": n_odds,
        "cards": cards,
    }
    with open(f"{out}/answers.json", "w") as f:
        json.dump(answers, f, indent=1, sort_keys=True)
    return answers

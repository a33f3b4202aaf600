"""Slate output checker, run outside the timed region.

`check_slate` reads one slate pass's published JSON back and compares it
with the generator's planted answers. It returns {output name: failure
message}; an empty dict means every output is right. Query rows are
checked by run.py through tools/check_oracle.py.
"""
import glob
import json
import os
from urllib.parse import unquote

def _records(path):
    """JSON-lines records under `path`, each with its partition values."""
    out = []
    for f in sorted(glob.glob(f"{path}/**/part-*", recursive=True)):
        parts = dict(unquote(seg).split("=", 1)
                     for seg in os.path.relpath(os.path.dirname(f), path)
                     .split(os.sep) if "=" in seg)
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                if line.strip():
                    out.append({**json.loads(line), **parts})
    return out


def _meta_count(path):
    with open(f"{path}/_meta/part-00000.json", encoding="utf-8") as fh:
        return json.loads(fh.readline())["record_count"]


def _stats(d, a):
    got = {}
    for r in _records(f"{d}/stats"):
        team, season = r["page"].split("_", 1)
        key = f"{team}|{season}|{r['table_id']}"
        n, s = got.get(key, (0, 0.0))
        col = a["stats"].get(key, {}).get("sum_col", "PTS")
        got[key] = (n + 1, s + float(r.get(col) or 0.0))
    if set(got) != set(a["stats"]):
        return "published (team, season, table) groups differ from the planted ones"
    for key, p in a["stats"].items():
        n, s = got[key]
        if n != p["rows"] or abs(s - p["sum"]) > 1e-6:
            return f"{key}: rows {n} sum {s}, planted rows {p['rows']} sum {p['sum']}"
    return None


def _league(d, a):
    rows, p = _records(f"{d}/league/data"), a["league"]
    if not (len(rows) == p["rows"] == _meta_count(f"{d}/league")
            and abs(sum(r["PTS"] for r in rows) - p["sum"]) < 1e-6
            and len({r.get("canonical") for r in rows} - {None}) == p["rows"]):
        return "league rows, PTS sum or canonical teams differ"
    return None


def _dvp(d, a):
    faults = sorted(a["dvp"]["faults"])
    viol = sorted([r["position"], r["timeframe"]]
                  for r in _records(f"{d}/dvp_violations/data"))
    if viol != faults or _meta_count(f"{d}/dvp_violations") != len(faults):
        return f"violations {viol}, planted {faults}"
    cube = _records(f"{d}/dvp/data")
    if not (len(cube) == 150 == _meta_count(f"{d}/dvp")
            and len({r["canonical"] for r in cube}) == 30):
        return "dvp cube is not 30 teams x 5 positions"
    return None


def _props(d, a):
    got = {(r["match_id"], r["player"], r["prop_type"],
            "Over" if r.get("over_odds") else "Under", float(r["line"]),
            r.get("over_odds") or r.get("under_odds"))
           for r in _records(f"{d}/props")}
    planted = {(p["match_id"], p["player"], p["market"], p["side"],
                float(p["line"]), p["odds"]) for p in a["props"]}
    if got != planted:
        return (f"{len(planted - got)} planted props missing, "
                f"{len(got - planted)} unplanted")
    return None


def _odds(d, a):
    n = len(_records(f"{d}/odds"))
    if n != a["odds_lines"]:
        return f"odds board has {n} lines, planted {a['odds_lines']}"
    return None


def _insights(d, a):
    got = {r["card_idx"]: r for r in _records(f"{d}/insights/data")}
    if not len(got) == len(a["cards"]) == _meta_count(f"{d}/insights"):
        return "insight count differs"
    for c in a["cards"]:
        r = got.get(c["card_idx"], {})
        if ((r.get("player_name"), r.get("team"), r.get("opponent"),
             r.get("outcome"), r.get("prop_line"), r.get("prop_type"),
             r.get("hit_rate_pct"), r.get("sportsbook"))
                != (c["player"], c["team"], c["opponent"], c["outcome"],
                    c["line"], c["market"], c["hit_rate"], c["sportsbook"])):
            return f"card {c['card_idx']} parsed as {r}"
    return None


def _summary(d, a):
    got = {r["status"]: r["n"] for r in _records(f"{d}/summary")}
    return None if got == {"done": 9} else f"run summary {got}"


SLATE_OUTPUTS = {"stats": _stats, "league": _league, "dvp": _dvp,
                 "props": _props, "odds": _odds, "insights": _insights,
                 "summary": _summary}


def check_slate(pass_dir, answers):
    bad = {}
    for name, fn in SLATE_OUTPUTS.items():
        try:
            why = fn(pass_dir, answers)
        except (OSError, KeyError, ValueError, TypeError) as e:
            why = f"unreadable: {e!r}"[:300]
        if why:
            bad[name] = why
    return bad

"""Tests of the benchmark's own logic (no JVM needed).

    python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import json
import os
import shutil
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

SLATE = {"seasons": 1, "rows": 6, "dvp_faults": 2, "matches": 3,
         "players": 2, "cards": 5}
TABLES = {"customer": 40, "supplier": 5, "part": 30, "orders": 60,
          "events": 200, "documents": 40, "embeddings": 30}


def tree_digest(root):
    h = hashlib.sha256()
    for d, _, fs in sorted(os.walk(root)):
        for f in sorted(fs):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def publish(pass_dir, answers):
    """Write the output a correct slate pass publishes, in the sink's
    layout, straight from the planted answers."""
    def write(path, rows):
        os.makedirs(path, exist_ok=True)
        with open(os.path.join(path, "part-00000.json"), "w") as fh:
            for r in rows:
                fh.write(json.dumps(r) + "\n")

    def meta(path, n):
        write(os.path.join(path, "_meta"), [{"record_count": n}])
    for key, a in answers["stats"].items():
        team, season, table = key.split("|")
        rows = [{"table_id": table, a["sum_col"]: 0.0} for _ in range(a["rows"])]
        rows[0][a["sum_col"]] = float(a["sum"])
        write(f"{pass_dir}/stats/team={team}/page={team}_{season}/{table}", rows)
    la = answers["league"]
    league = [{"PTS": 0.0, "canonical": f"T{i}"} for i in range(la["rows"])]
    league[0]["PTS"] = la["sum"]
    write(f"{pass_dir}/league/data", league)
    meta(f"{pass_dir}/league", la["rows"])
    faults = answers["dvp"]["faults"]
    write(f"{pass_dir}/dvp_violations/data",
          [{"position": p, "timeframe": t} for p, t in faults])
    meta(f"{pass_dir}/dvp_violations", len(faults))
    write(f"{pass_dir}/dvp/data", [{"canonical": f"T{i}", "position": p}
                                   for i in range(30) for p in range(5)])
    meta(f"{pass_dir}/dvp", 150)
    for p in answers["props"]:
        side = "over_odds" if p["side"] == "Over" else "under_odds"
        write(f"{pass_dir}/props/match_id={p['match_id']}/"
              f"{p['player']}{p['market']}{p['side']}",
              [{"player": p["player"], "prop_type": p["market"],
                "line": p["line"], side: p["odds"]}])
    write(f"{pass_dir}/odds/x", [{} for _ in range(answers["odds_lines"])])
    write(f"{pass_dir}/insights/data", [
        {"card_idx": c["card_idx"], "player_name": c["player"],
         "team": c["team"], "opponent": c["opponent"],
         "outcome": c["outcome"], "prop_line": c["line"],
         "prop_type": c["market"], "hit_rate_pct": c["hit_rate"],
         "sportsbook": c["sportsbook"]} for c in answers["cards"]])
    meta(f"{pass_dir}/insights", len(answers["cards"]))
    write(f"{pass_dir}/summary", [{"status": "done", "n": 9}])


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def test_same_seed_gives_byte_identical_inputs(self):
        for fn, size in [(gen.gen_slate, SLATE), (gen.gen_tables, TABLES)]:
            a, b, c = (os.path.join(self.tmp, f"{fn.__name__}{i}")
                       for i in range(3))
            fn(a, 7, size)
            fn(b, 7, size)
            fn(c, 8, size)
            self.assertEqual(tree_digest(a), tree_digest(b))
            self.assertNotEqual(tree_digest(a), tree_digest(c))

    def test_slate_plants_its_answers(self):
        a = gen.gen_slate(self.tmp, 3, SLATE)
        self.assertEqual(len(a["dvp"]["faults"]), 2)
        self.assertEqual(len(a["stats"]), 30 * 10)
        self.assertEqual(len(os.listdir(f"{self.tmp}/pages")), 30)


class StatsTest(unittest.TestCase):
    def test_tail_is_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 101))  # 1..100
        p, v, beyond = stats.tail(xs)
        self.assertEqual((p, v, beyond), (90.0, 90, 10))
        self.assertEqual(stats.tail(list(range(1, 1001)))[0], 99.0)

    def test_tail_needs_ten_samples_beyond_the_median(self):
        self.assertIsNone(stats.tail(list(range(19))))
        self.assertEqual(stats.tail(list(range(20))), (50.0, 9, 10))

    def test_tail_counts_strictly_beyond(self):
        # ties at the percentile value are not beyond it
        self.assertIsNone(stats.tail([5.0] * 50))

    def test_self_time_subtracts_covered_children(self):
        spans = [
            {"id": 0, "parent": -1, "start": 0.0, "end": 10.0},
            {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
            {"id": 2, "parent": 0, "start": 3.0, "end": 6.0},  # overlaps 1
            {"id": 3, "parent": 2, "start": 4.0, "end": 5.0},
            {"id": 4, "parent": 0, "start": 9.0, "end": 12.0},  # overruns
        ]
        st = stats.self_times(spans)
        self.assertAlmostEqual(st[0], 10.0 - 5.0 - 1.0)
        self.assertAlmostEqual(st[1], 3.0)
        self.assertAlmostEqual(st[2], 2.0)
        self.assertAlmostEqual(st[3], 1.0)

    def test_union_length(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(stats.union_length([(0, 10)], 2, 4), 2)


class CheckerTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()
        self.answers = gen.gen_slate(f"{self.tmp}/in", 5, SLATE)
        self.out = f"{self.tmp}/pass_1"
        publish(self.out, self.answers)

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def test_correct_output_passes(self):
        self.assertEqual(check.check_slate(self.out, self.answers), {})

    def test_wrong_published_value_is_caught(self):
        path = f"{self.out}/insights/data/part-00000.json"
        with open(path) as fh:
            rows = [json.loads(ln) for ln in fh]
        rows[0]["prop_line"] += 1.0
        with open(path, "w") as fh:
            fh.writelines(json.dumps(r) + "\n" for r in rows)
        self.assertEqual(set(check.check_slate(self.out, self.answers)),
                         {"insights"})

    def test_wrong_rows_result_counts_in_fail_ratio(self):
        import pandas as pd
        import run
        exp = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
        wrong = exp.copy()
        wrong.loc[1, "v"] = 1.25
        refs = {"right": exp.iloc[::-1], "wrong_value": wrong,
                "wrong_dtype": exp.astype({"k": float})}
        ref = f"{self.tmp}/run/reference"
        for name, df in refs.items():
            os.makedirs(f"{ref}/{name}")
            df.to_parquet(f"{ref}/{name}/part-0.parquet")
        with open(f"{ref}/oracle_sql.json", "w") as fh:
            json.dump({n: "SELECT * FROM (VALUES (1, 0.5), (2, 1.5)) t(k, v)"
                       for n in refs}, fh)
        tables = f"{self.tmp}/tables"
        gen.gen_tables(tables, 1, TABLES)
        # "wrong_value" reproduced its cold result in passes 0 and 1 and
        # differed in pass 2 (which the harness counted already);
        # "raised" failed in the harness and has no reference
        every = ["right", "wrong_value", "wrong_dtype"]
        result = {"passes": [{"idx": 0, "matched": every},
                             {"idx": 1, "matched": every},
                             {"idx": 2, "matched": ["right", "wrong_dtype"]}]}
        bad, failed_ops = run.check_outputs("query_rows", result,
                                            f"{self.tmp}/run", tables, {})
        self.assertEqual(set(bad), {"wrong_value", "wrong_dtype"})
        self.assertEqual(failed_ops, 2 + 3)

    def test_slate_pass_with_a_failed_call_is_not_counted_again(self):
        import run
        shutil.rmtree(f"{self.out}/insights")
        result = {"passes": [{"idx": 1, "failed": 0}]}
        self.assertEqual(run.check_outputs("slate_batch", result, self.tmp,
                                           None, self.answers)[1], 1)
        result["passes"][0]["failed"] = 4
        self.assertEqual(run.check_outputs("slate_batch", result, self.tmp,
                                           None, self.answers)[1], 0)


if __name__ == "__main__":
    unittest.main()

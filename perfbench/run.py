#!/usr/bin/env python3
"""Benchmark entry point: one command per workload.

    python3 perfbench/run.py --workload slate_batch --seed 1 --seconds 10 --trace 0

Run from the repository root. It builds the program and the harness from
source (once per source tree; the build is cached under .bench_build/),
generates the workload's inputs from the seed, runs one JVM with one
Spark session on local[<cores>] driven by one closed-loop client, checks
every output, prints every metric by name and unit, and prints one JSON
result object as its last line. It exits nonzero when an operation fails
or an output is wrong. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
HARNESS = os.path.join(HERE, "harness")

# Input sizes per workload (see README.md for why each was chosen).
WORKLOADS = {
    "slate_batch": {"kind": "slate", "size": {
        "seasons": 1, "rows": 12, "dvp_faults": 3, "matches": 16,
        "players": 8, "cards": 200}},
    "query_rows": {"kind": "tables", "size": {
        "customer": 1500, "supplier": 100, "part": 2000, "orders": 3000,
        "events": 10000, "documents": 500, "embeddings": 500}},
}

# Declared metrics, (name, unit) in order: BENCHMARK.json is their one
# source. fail_ratio is printed too but not declared (see README.md).
with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as _fh:
    _DECLARED = json.load(_fh)
END_TO_END = [(m["name"], m["unit"]) for m in _DECLARED["end_to_end"]]
PER_LAYER = [(m["name"], m["unit"]) for m in _DECLARED["per_layer"]]
# The repository's oracle comparator (DuckDB over the same tables).
CHECK_ORACLE = os.path.join(os.path.dirname(HERE), "tools", "check_oracle.py")
MB = 1048576.0

JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ----------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HARNESS, "build.sbt"),
             os.path.join(HARNESS, "project", "build.properties")]
    for top in tops:
        for d, _, fs in sorted(os.walk(top)):
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


CHILD = []


def stop_child(signum, _frame):
    """On SIGTERM/SIGINT, kill the running child's process group first."""
    for p in CHILD:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    sys.exit(128 + signum)


def run_bounded(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout and
    wait for it, so nothing it started outlives the benchmark."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    CHILD[:] = [p]
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def build():
    """Compile the program and the harness; returns the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        fail("no program sources here: run from the repository root")
    stamp = source_stamp()
    cp_file = os.path.join(WORK, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            saved_stamp, cp = fh.read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.offline=true -Xmx2g")
    out_path = os.path.join(WORK, "build.log")
    log("building program and harness (first run only)")
    with open(out_path, "w") as out:
        code = run_bounded(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "-Dsbt.server.autostart=false",
             "export harness/Runtime/fullClasspath"],
            timeout=840, cwd=HARNESS, env=env, stdout=out,
            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    with open(out_path) as fh:
        lines = [ln.strip() for ln in fh if ln.startswith("/")]
    if code != 0 or not lines:
        fail(f"build failed (exit {code}); see {out_path}")
    with open(cp_file, "w") as fh:
        fh.write(stamp + "\n" + lines[-1])
    return lines[-1]


# ---------------------------------------------------------------- inputs

def inputs(workload, seed):
    cfg = WORKLOADS[workload]
    d = os.path.join(WORK, "inputs", f"{workload}-{seed}")
    done = os.path.join(d, "answers.json")
    if not os.path.exists(done):
        shutil.rmtree(d, ignore_errors=True)
        if cfg["kind"] == "slate":
            gen.gen_slate(d, seed, cfg["size"])
        else:
            gen.gen_tables(d, seed, cfg["size"])
    with open(done) as fh:
        return d, json.load(fh)


# ------------------------------------------------------------------- run

def run_jvm(cp, workload, in_dir, out, seconds, trace):
    shutil.rmtree(out, ignore_errors=True)
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    cmd = (["java"] + JAVA_OPENS +
           ["-Xms2g", "-Xmx2g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}", "-cp", cp, "perfbench.Harness",
            workload, in_dir, out, str(seconds), str(trace)])
    with open(os.path.join(out, "..", f"{os.path.basename(out)}.log"),
              "w") as lg:
        code = run_bounded(cmd, timeout=170 - seconds // 2, stdout=lg,
                           stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    res = os.path.join(out, "result.json")
    if code != 0 or not os.path.exists(res):
        fail(f"harness exited {code}; see {out}.log", 1)
    with open(res) as fh:
        return json.load(fh)


def check_rows(ref_dir, tables_dir):
    """{row: why} for each row whose reference result differs from its
    `SparkEntry.oracleSql` run in DuckDB over the same tables, as
    tools/check_oracle.py compares them."""
    log_path = os.path.join(ref_dir, "check_oracle.log")
    with open(log_path, "w") as lg:
        code = run_bounded([sys.executable, CHECK_ORACLE, ref_dir, tables_dir],
                           timeout=120, stdout=lg, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL)
    with open(log_path) as fh:
        text = fh.read()
    bad = dict(ln[len("FAIL "):].split(": ", 1) for ln in text.splitlines()
               if ln.startswith("FAIL ") and ": " in ln)
    if code != 0 and not bad:  # the checker itself failed: no row is checked
        with open(os.path.join(ref_dir, "oracle_sql.json")) as fh:
            bad = {n: f"oracle check exited {code}: {text[-200:]}"
                   for n in json.load(fh)}
    return bad


def check_outputs(workload, result, out, in_dir, answers):
    """Wrong outputs, and how many operations they fail. Failures the
    harness already counted (a call that raised, the calls skipped after
    it, a row that differed from the cold pass) are not counted again:
    slate outputs are checked in passes whose calls all succeeded, each
    wrong one failing once; a query row whose cold result is wrong fails
    once per pass that reproduced that result."""
    wrong = {}
    if WORKLOADS[workload]["kind"] == "slate":
        for p in result["passes"]:
            if p["failed"]:
                continue
            for name, why in check.check_slate(
                    os.path.join(out, f"pass_{p['idx']}"), answers).items():
                wrong[f"pass {p['idx']} {name}"] = why
        return wrong, len(wrong)
    wrong = check_rows(os.path.join(out, "reference"), in_dir)
    return wrong, sum(1 for p in result["passes"]
                      for name in p["matched"] if name in wrong)


def trace_metrics(out, result, answers):
    with open(os.path.join(out, "trace.json")) as fh:
        tr = json.load(fh)
    traced = [p for p in result["passes"] if p["traced"]]
    per_pass = []
    for p in traced:
        spans = [s for s in tr["spans"] if s["pass"] == p["idx"]]
        root = next(s for s in spans if s["layer"] == "pass")
        lo, hi = root["start"], root["end"]
        ids = {s["id"] for s in spans}
        self_t = stats.self_times(spans)
        m = {name: 0.0 for name, _ in PER_LAYER}
        for s in spans:
            if s["layer"] != "pass":
                m[f"{s['layer']}.busy_s"] = (m.get(f"{s['layer']}.busy_s", 0.0)
                                             + self_t[s["id"]] / 1e3)
        ctr = [c for c in tr["counters"] if c["span"] in ids]

        def tot(k):
            return float(sum(c[k] for c in ctr))
        m.update({
            "scheduler.jobs": tot("jobs"), "scheduler.stages": tot("stages"),
            "scheduler.tasks": tot("tasks"),
            "scheduler.wait_s": tot("wait_ms") / 1e3,
            "tasks.run_s": tot("run_ms") / 1e3,
            "tasks.cpu_s": tot("cpu_ns") / 1e9, "tasks.gc_s": tot("gc_ms") / 1e3,
            "shuffle.write_mb": tot("shuffle_write") / MB,
            "shuffle.read_mb": tot("shuffle_read") / MB,
            "shuffle.fetch_wait_s": tot("fetch_wait_ms") / 1e3,
            "shuffle.spill_mb": tot("spill") / MB,
            "failures.task_retries": tot("task_retries"),
            "failures.failed_jobs": tot("failed_jobs"),
            "io.write_mb": root["io_write"] / MB,
            "io.write_ops": float(root["io_write_ops"]),
            "io.read_mb": root["io_read"] / MB,
            "storage.retained_mb": p["retained_mb"],
        })
        jobs = [(j["start"], j["end"]) for j in tr["jobs"]
                if j["start"] < hi and j["end"] > lo]
        m["driver.remainder_s"] = ((hi - lo) - stats.union_length(jobs, lo, hi)) / 1e3
        for ph in tr["phases"]:
            if lo <= ph["start"] <= hi and ph["phase"] in (
                    "analysis", "optimization", "planning"):
                m[f"catalyst.{ph['phase']}_s"] += (ph["end"] - ph["start"]) / 1e3
        prog = [g for g in tr["progress"] if lo <= g["start"] <= hi]
        m["streaming.batches"] = float(len(prog))
        for key, name in [("addBatch", "add_batch_ms"), ("walCommit", "wal_commit_ms"),
                          ("queryPlanning", "query_planning_ms"),
                          ("commitOffsets", "commit_offsets_ms")]:
            m[f"streaming.{name}"] = float(sum(g["durations"].get(key, 0)
                                               for g in prog))
        m["streaming.state_rows"] = float(max([g["state_rows"] for g in prog],
                                              default=0))
        c = p["counts"]
        m["sources.pages"] = c.get("sources.pages", 0.0)
        m["enrich.unmatched"] = c.get("enrich.unmatched", 0.0)
        m["validate.violations"] = c.get("validate.violations", 0.0)
        if c.get("clean.rows_in"):
            m["clean.rows_kept_ratio"] = c["clean.rows_kept"] / c["clean.rows_in"]
        if answers.get("prop_lines"):
            m["extract.parse_yield"] = c.get("extract.props", 0.0) / answers["prop_lines"]
        pdir = os.path.join(out, f"pass_{p['idx']}")
        m["sink.files_written"] = float(sum(
            1 for _, _, fs in os.walk(pdir) for f in fs if f.startswith("part-")))
        per_pass.append(m)
    agg = {name: stats.median([m[name] for m in per_pass]) for name, _ in PER_LAYER}
    warm = [p["wall_s"] for p in result["passes"] if p["idx"] > 0 and not p["traced"]]
    agg["trace.pass_s"] = stats.median([p["wall_s"] for p in traced])
    agg["trace.overhead_s"] = agg["trace.pass_s"] - stats.median(warm)
    return agg


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, stop_child)
    signal.signal(signal.SIGINT, stop_child)

    cp = build()
    in_dir, answers = inputs(a.workload, a.seed)
    out = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-{a.trace}")
    t0 = time.time()
    result = run_jvm(cp, a.workload, in_dir, out, a.seconds, a.trace)
    log(f"harness ran {time.time() - t0:.1f}s")
    wrong, wrong_ops = check_outputs(a.workload, result, out, in_dir, answers)
    for k, why in sorted(wrong.items()):
        log(f"WRONG {k}: {why}")
    for e in result["errors"]:
        log(f"FAILED {e}")
    attempted = result["attempted"]
    failed = result["failed"] + wrong_ops

    warm = [p["wall_s"] for p in result["passes"] if p["idx"] > 0 and not p["traced"]]
    mb = result["microbatch_ms"]
    tail = stats.tail(mb)
    e2e = {"setup_s": result["setup_s"],
           "cold_pass_s": result["passes"][0]["wall_s"],
           "pass_s": stats.median(warm),
           "live_heap_peak_mb": result["live_heap_peak_mb"]}
    shown = dict(e2e)
    shown["fail_ratio"] = failed / attempted
    extra = {"pass_s": f"median of {len(warm)} warm passes",
             "fail_ratio": f"{failed} failed of {attempted} operations"}
    if mb:
        shown["microbatch_p50_ms"] = stats.percentile(mb, 50)
        extra["microbatch_p50_ms"] = f"{len(mb)} micro-batches"
        if tail:
            shown["microbatch_tail_ms"] = tail[1]
            extra["microbatch_tail_ms"] = f"p{tail[0]:g}, {tail[2]} samples beyond"
    units = dict(END_TO_END + PER_LAYER + [("fail_ratio", "ratio")])
    if a.trace:
        layers = trace_metrics(out, result, answers)
        layers["cold_pass_s"] = e2e["cold_pass_s"]
        layers["microbatch_p50_ms"] = shown.get("microbatch_p50_ms", 0.0)
        layers["microbatch_tail_ms"] = shown.get("microbatch_tail_ms", 0.0)
        shown.update(layers)
        metrics = {n: {"value": layers[n], "unit": u} for n, u in PER_LAYER}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}
    print(f"workload {a.workload}  seed {a.seed}  cores {result['cpus']}  "
          f"closed loop, 1 client, {len(result['passes'])} passes")
    for name, v in shown.items():
        note = f"  ({extra[name]})" if name in extra else ""
        print(f"  {name:32s} {v:14.4f} {units.get(name, '')}{note}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()

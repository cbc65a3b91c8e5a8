#!/usr/bin/env python3
"""The repository benchmark: one run of one workload.

Usage (from the repository root):
  python3 perfbench/run.py --workload pipe-fetch|pipe-raster|sql-suite \
      --seed N --seconds S --trace 0|1

Builds the harness if a source changed (perfbench/build.py, not timed),
makes the workload's inputs from the seed, runs the harness JVM, checks
every operation's output, and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones. See README.md.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402

WORKLOADS = ("pipe-fetch", "pipe-raster", "sql-suite")
SQL_SCALE = 0.01
JVM_TIMEOUT_S = 165
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
def heavy_queries():
    """The names listed after the `# heavy` line of queries.txt."""
    heavy, section = set(), None
    for line in (HERE / "queries.txt").read_text().splitlines():
        line = line.strip()
        if line.startswith("#"):
            section = line[1:].strip()
        elif line and section == "heavy":
            heavy.add(line)
    return heavy


def tail(values):
    """Highest percentile with at least ten samples beyond it:
    (value, percentile, n)."""
    s = sorted(values)
    n = len(s)
    k = max(1, n - 10)
    return s[k - 1], 100.0 * k / n, n


def check_sql(ops, work: Path, data: Path):
    """Compare each query's parquet output with its DuckDB oracle:
    columns sorted by name, rows compared as a multiset of their
    pandas-stringified values (the rules of tools/check.py)."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data / (t + '.parquet')}'")
    oracle = json.loads((work / "oracle.json").read_text())

    def norm(df):
        cols = sorted(df.columns)
        return cols, sorted(tuple(str(v) for v in row)
                            for row in df[cols].itertuples(index=False, name=None))
    expected = {}
    for op in ops:
        if op["error"]:
            continue
        name = op["name"]
        try:
            if name not in oracle:
                raise ValueError("no oracle for this query")
            if name not in expected:
                expected[name] = norm(con.sql(oracle[name]).fetchdf())
            got = norm(con.sql(f"SELECT * FROM '{op['out']}/*.parquet'").fetchdf())
            if got[0] != expected[name][0]:
                op["error"] = f"columns {got[0]} != oracle {expected[name][0]}"
            elif got[1] != expected[name][1]:
                op["error"] = f"rows differ from the oracle ({len(got[1])} vs {len(expected[name][1])})"
        except Exception as e:  # noqa: BLE001 - any failure fails the op
            op["error"] = f"check failed: {e}"[:300]


def passes(ops):
    by = {}
    for op in ops:
        by.setdefault(op["pass"], []).append(op)
    return [by[k] for k in sorted(by)]


def end_to_end(res, ops, setup_s):
    walls = [op["wall"] for op in ops]
    pass_walls = [sum(o["wall"] for o in p) for p in passes(ops)]
    per_pass = statistics.median(len(p) for p in passes(ops))
    t_val, t_pct, t_n = tail(walls)
    wall = statistics.median(pass_walls)
    print(f"query_s_tail is p{t_pct:.1f} of n={t_n} operations", file=sys.stderr)
    return {
        "setup_s": (setup_s, "s"),
        "wall_s": (wall, "s"),
        "query_s_p50": (statistics.median(walls), "s"),
        "query_s_tail": (t_val, "s"),
        "queries_per_s": (per_pass / wall, "1/s"),
    }, {"query_s_tail_percentile": t_pct, "query_s_tail_n": t_n,
        "passes": len(pass_walls)}


def per_layer(workload, res, ops, heavy):
    layers = dict(res["layers"])
    traced = [o for o in ops if o["traced"]]
    untraced = [o for o in ops if not o["traced"]]
    short = [o for o in traced if o["name"] not in heavy]
    layers["spark.overhead_share"] = (sum(o["overhead"] for o in short) /
                                      sum(o["wall"] for o in short))
    tw = sum(o["wall"] for o in traced)
    layers["queries.heavy_wall_share"] = sum(o["wall"] for o in traced if o["name"] in heavy) / tw
    if workload == "sql-suite":
        layers["trace.overhead"] = tw / sum(o["wall"] for o in untraced)
    else:
        def pass_median(ops):
            return statistics.median(sum(o["wall"] for o in p) for p in passes(ops))
        layers["trace.overhead"] = pass_median(traced) / pass_median(untraced)
    per_layer = json.loads((HERE.parent / "BENCHMARK.json").read_text())["per_layer"]
    return {m["name"]: (float(layers.get(m["name"], 0.0)), m["unit"]) for m in per_layer}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    build.build()
    t_start = time.time()
    work = build.OUT / "work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        heavy = heavy_queries()
        extra = []
        data = work / "data"
        if a.workload == "sql-suite":
            import gen_tables
            gen_tables.main(str(data), SQL_SCALE, a.seed)
            extra = ["--data", str(data), "--queries", str(HERE / "queries.txt")]
        cpus = os.cpu_count() or 1
        cmd = build.jvm(work)
        if build.ARCHIVE.exists():
            cmd.insert(1, f"-XX:SharedArchiveFile={build.ARCHIVE}")
        cmd += ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", str(work), "--cpus", str(cpus)] + extra
        with open(work / "harness.log", "w") as log:
            p = subprocess.run(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                               timeout=JVM_TIMEOUT_S)
        if p.returncode != 0 or not (work / "result.json").exists():
            sys.stderr.write((work / "harness.log").read_text()[-3000:])
            print(f"harness exited with {p.returncode}", file=sys.stderr)
            return 1
        res = json.loads((work / "result.json").read_text())
        ops = res["ops"]
        if a.workload == "sql-suite":
            check_sql(ops, work, data)
        committed = json.loads((HERE / "digests.json").read_text()).get(a.workload, {})
        for ml, d in committed.get(str(a.seed), {}).items():
            for o in ops:
                if o["name"] == ml and not o["error"] and o["out"] != d:
                    o["error"] = f"digest {o['out']} differs from the committed {d}"
        failed = [o for o in ops if o["error"]]
        for o in failed[:10]:
            print(f"FAILED {o['name']} (pass {o['pass']}): {o['error']}", file=sys.stderr)
        setup_s = res["first_op"] - t_start
        if a.trace:
            metrics = per_layer(a.workload, res, ops, heavy)
        else:
            metrics, notes = end_to_end(res, ops, setup_s)
            info = dict(res["info"])
            for k in [k for k in info if k.startswith("t_")]:
                info["setup." + k[2:] + "_s"] = float(info.pop(k)) - t_start
            if a.workload != "sql-suite":
                info["tiles_per_s"] = int(info["tiles"]) * len(ops) / sum(o["wall"] for o in ops)
            info.update(notes, failed_ratio=len(failed) / len(ops), nproc=cpus,
                        heap=build.HEAP, sql_scale=SQL_SCALE)
            print("info " + json.dumps(info, sort_keys=True))
        print(json.dumps({
            "correct": not failed, "attempted": len(ops), "failed": len(failed),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""graft benchmark: one workload per fresh JVM, every output checked.

Usage (from the root of a graft checkout):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds graft and the harness (perfbench/build.py), checks the input
tables (perfbench/data: graft's sf0.01 test tables, each checked
against its row count and sha256), then runs the workload in a JVM
whose temp dir, Spark local dir and warehouse belong to this run alone. `--seed` drives the workload's op
and query choice and its ingest arrivals. Batch answers are compared
with graft's DuckDB oracle SQL after the JVM exits. Prints every metric
with its unit, then one JSON line: the end-to-end metrics of
BENCHMARK.json, or with `--trace 1` its per-layer metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402

# workload -> (harness family, input scale factor)
WORKLOADS = {
    "batch_sf0.01": ("batch", 0.01),
    "serve_ingest_sf0.01": ("serve_ingest", 0.01),
}
# Per-layer metrics of the layers a family never calls. A traced run
# prints them as 0 (the JSON line carries every per-layer metric); any
# other per-layer metric the run did not measure fails the run.
UNUSED_LAYERS = {
    "batch": ("serve.", "router.", "index.", "upkeep.", "posting.", "refresh.",
              "gate.", "store.", "ingest."),
    "serve_ingest": ("q.", "operators.", "exec.exec_s", "scan.q1_files_mb"),
}
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
JVM_TIMEOUT_S = 155  # a run ends within 180 s once the build exists


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def check_data(sf):
    """The input tables for `sf`, each checked against its row count and
    sha256 in data/sf<sf>.json."""
    import pyarrow.parquet as pq
    d = HERE / "data" / f"sf{sf}"
    manifest = json.loads((HERE / "data" / f"sf{sf}.json").read_text())
    for t in TABLES:
        f = d / f"{t}.parquet"
        want = manifest[t]
        if not f.is_file() or hashlib.sha256(f.read_bytes()).hexdigest() != want["sha256"]:
            fail(f"input table {f} is missing or differs from its manifest")
        if pq.ParquetFile(f).metadata.num_rows != want["rows"]:
            fail(f"input table {f} has not {want['rows']} rows")
    return d


def oracle_check(data_dir, out_dir, cache_dir):
    """Compare each kept answer with its DuckDB oracle, normalized as
    tools/check_oracle.py does. The inputs are fixed, so each oracle
    answer is computed once per build dir and kept, keyed by the input
    manifest and the SQL. Returns (wrong, problems)."""
    import duckdb
    import pandas as pd
    sys.path.insert(0, "tools")
    from check_oracle import normalize
    oracle = json.loads((out_dir / "oracle.json").read_text())
    cache_dir.mkdir(parents=True, exist_ok=True)
    inputs = hashlib.sha256((data_dir.parent / f"{data_dir.name}.json").read_bytes()).hexdigest()
    con = None
    wrong, problems = 0, []
    for name, sql in sorted(oracle.items()):
        key = hashlib.sha256(f"{inputs}\n{sql}".encode()).hexdigest()[:24]
        cached = cache_dir / f"{key}.pkl"
        files = sorted(glob.glob(str(out_dir / "answers" / name / "*.parquet")))
        try:
            if cached.is_file():
                d = pd.read_pickle(cached)
            else:
                if con is None:
                    con = duckdb.connect()
                    con.execute(f"SET threads TO {os.cpu_count() or 4}")
                    for t in TABLES:
                        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
                d = normalize(con.execute(sql).df()).reset_index(drop=True)
                d.to_pickle(cached)
            s = normalize(pd.concat([pd.read_parquet(f) for f in files])).reset_index(drop=True)
            ok = list(s.columns) == list(d.columns) and len(s) == len(d) and s.equals(d)
        except Exception:  # a missing answer or a failing oracle is a wrong answer
            ok = False
        if not ok:
            wrong += 1
            problems.append(f"{name}: answer differs from the DuckDB oracle")
    return wrong, problems


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_start = time.time()
    root = Path.cwd()
    if not (root / "src/main/scala/graft").is_dir() or not (root / "tools/check_oracle.py").is_file():
        fail("run from the root of a graft checkout (src/main/scala/graft and tools/ are missing)")
    spec = json.loads((root / "BENCHMARK.json").read_text())
    build_dir = root / os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    build.build(build_dir)
    family, sf = WORKLOADS[a.workload]
    data = check_data(sf)

    run = build_dir / "runs" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(run, ignore_errors=True)
    for sub in ("tmp", "local", "out"):
        (run / sub).mkdir(parents=True)
    out = run / "out"
    cmd = build.java_cmd(build_dir, run, family, a.seed, a.seconds, a.trace, data, out)
    log = run / "jvm.log"
    t_jvm = time.time()
    print(f"# t+{t_jvm - t_start:.1f}s jvm start", file=sys.stderr)
    try:
        with open(log, "w") as f:
            subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT, timeout=JVM_TIMEOUT_S)
        res = json.loads((out / "result.json").read_text())
    except (subprocess.TimeoutExpired, OSError, ValueError) as e:
        tail = log.read_text(errors="replace").splitlines()[-30:] if log.exists() else []
        print("\n".join(tail), file=sys.stderr)
        fail(f"{a.workload} did not finish: {e}")

    print(f"# t+{time.time() - t_start:.1f}s jvm done ({time.time() - t_jvm:.1f}s)", file=sys.stderr)
    attempted, failed, problems = res["attempted"], res["failed"], list(res["problems"])
    if (out / "oracle.json").is_file():
        wrong, probs = oracle_check(data, out, build_dir / "oracle")
        failed += wrong
        problems += probs
    print(f"# t+{time.time() - t_start:.1f}s checked", file=sys.stderr)
    metrics = res["metrics"]
    metrics["fail_ratio"] = {"value": failed / max(1, attempted), "unit": "ratio"}
    if (out / "spans.jsonl").is_file():
        keep = build_dir / "traces" / f"{a.workload}-{a.seed}.jsonl"
        keep.parent.mkdir(parents=True, exist_ok=True)
        shutil.move(str(out / "spans.jsonl"), keep)
        print(f"# spans: {keep}")
    shutil.rmtree(run, ignore_errors=True)

    print(f"# {a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace} "
          f"cores={os.cpu_count()} attempted={attempted} failed={failed}")
    for p in problems:
        print(f"# problem: {p}")
    for k, v in metrics.items():
        print(f"{k} {v['value']} {v['unit']}")
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    chosen = {}
    for m in wanted:
        v = metrics.get(m["name"])
        if v is None and a.trace and m["name"].startswith(UNUSED_LAYERS[family]):
            v = {"value": 0.0}
        elif v is None or v["value"] is None:
            fail(f"metric {m['name']} was not measured")
        chosen[m["name"]] = {"value": v["value"], "unit": m["unit"]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": chosen}))


if __name__ == "__main__":
    main()

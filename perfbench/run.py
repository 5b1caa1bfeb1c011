#!/usr/bin/env python3
"""The repo benchmark: one command per workload run.

    python3 perfbench/run.py --workload btc_backfill --seed 1 --seconds 15 --trace 0

Builds the engine and the harness from source (perfbench/build.py), runs
the workload in one JVM against the engine's public functions at
local[4], checks the outputs, and prints as its last line one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the per-layer ones from a
traced run, whose repetitions alternate traced and untraced, so that its
tracing overhead compares the two within one JVM. Workloads, metrics and the layer map are described in
perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402

WORKLOADS = ("btc_backfill", "btc_catchup", "corpus_curation", "btc_live")
# per-layer metric prefix -> the workloads that drive that layer; on the
# others the layer is idle and its metrics read 0
ACTIVE = {"sources": {"btc_backfill"}, "sink": {"btc_backfill"},
          "api": {"btc_backfill"}, "stream": {"btc_catchup", "btc_live"},
          "curation": {"corpus_curation"}}
# the JVM's share of the 180 s a run may take; the oracle checks follow it
BUDGET_S = 150.0


def declared():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def run_once(cp, work, a):
    result = work / "result.json"
    code = build.jvm(cp, work, ["run", "--workload", a.workload, "--seed", str(a.seed),
                          "--seconds", str(a.seconds), "--trace", str(a.trace),
                          "--result", str(result)],
               timeout=BUDGET_S)
    if code != 0 or not result.is_file():
        tail = (work / "jvm.log").read_text(errors="replace")[-6000:]
        sys.stderr.write(tail)
        raise SystemExit(f"benchmark JVM exited with code {code}")
    return json.loads(result.read_text())


def frames_match(spark_df, duck_df):
    """The oracle compare: columns sorted by name, values as strings, row
    order significant (every checked query ends in a total ORDER BY)."""
    s = spark_df[sorted(spark_df.columns)]
    d = duck_df[sorted(duck_df.columns)]
    if list(s.columns) != list(d.columns):
        return f"columns differ: {list(s.columns)} vs {list(d.columns)}"
    if len(s) != len(d):
        return f"row count differs: {len(s)} vs {len(d)}"
    sv = s.astype(str).values.tolist()
    dv = d.astype(str).values.tolist()
    if sv != dv:
        bad = next(i for i, (x, y) in enumerate(zip(sv, dv)) if x != y)
        return f"values differ at row {bad}: {sv[bad]} vs {dv[bad]}"
    return None


def oracle_failures(checks):
    import duckdb
    failures = []
    for c in checks:
        if not c["oracle"]:
            failures.append(f"{c['op']}: no oracle for {c['query']}")
            continue
        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{c['corpus']}/{t}.parquet')")
            files = list(Path(c["result"]).glob("*.parquet"))
            if not files:
                failures.append(f"{c['op']}: no result written for {c['query']}")
                continue
            got = con.execute(
                f"SELECT * FROM read_parquet('{c['result']}/*.parquet')").fetchdf()
            why = frames_match(got, con.execute(c["oracle"]).fetchdf())
            if why:
                failures.append(f"{c['op']}: {c['query']} differs from its oracle: {why}")
        except Exception as e:  # an oracle that cannot run is a failed check
            failures.append(f"{c['op']}: oracle check error: {e}")
        finally:
            con.close()
    return failures


def failed_ops(failures):
    """Distinct operations among the failure messages ("<op>: ..." or
    "<op> threw <exception>: ..."); one operation can fail several checks."""
    return {f.split(": ", 1)[0].split(" threw ", 1)[0] for f in failures}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    e2e_units, layer_units = declared()

    cp = build.ensure()
    bench_work = ROOT / ".bench_work"
    work = bench_work / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        res = run_once(cp, work, a)
        failures = res["failures"] + oracle_failures(res["oracle_checks"])
        attempted = res["attempted"]
        if a.trace:
            metrics = dict(res["layer"])
            for k in layer_units:
                if a.workload not in ACTIVE.get(k.split(".")[0], {a.workload}):
                    metrics.setdefault(k, 0.0)
            units = layer_units
            traces = bench_work / "traces"
            traces.mkdir(exist_ok=True)
            shutil.copy(res["trace_file"], traces / Path(res["trace_file"]).name)
        else:
            metrics = res["e2e"]
            units = e2e_units
    finally:
        shutil.rmtree(work, ignore_errors=True)

    missing = sorted(set(units) - set(metrics))
    for f in failures:
        print(f"check failed: {f}", file=sys.stderr)
    for m in missing:
        print(f"metric not measured: {m}", file=sys.stderr)
    for k, v in sorted(res["samples"].items()):
        print(f"samples: {k}={v}", file=sys.stderr)
    out = {
        "correct": not failures and not missing,
        "attempted": max(1, attempted),
        "failed": len(failed_ops(failures)),
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in units.items() if k in metrics},
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()

"""Fast self-test of the benchmark, on a 1.25% sample of the sf0.1 test data.

Runs every workload in BENCHMARK.json once untraced and once traced, and
asserts that each run exits 0, passes all its checks, and prints exactly
the metrics BENCHMARK.json names, each with its unit. In the untraced run
every end-to-end metric must be above 0; in the traced run every metric
the workload owns (its spans, and the dedup pair yield for the curation)
must be above 0 and every metric another workload owns must read 0, so a
span that is renamed or no longer called fails. Then checks that the
near-duplicate oracle the curation check uses agrees with the registry's
``D7_GROUPS_SQL`` on a sample of the documents.

Usage: python3 perfbench/selftest.py
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
FRACTION = 0.05  # of the pool, itself 25% of sf0.1


def check_runs(bench: dict) -> None:
    import workloads as WL
    from run import owned_layers

    specs = {0: bench["end_to_end"], 1: bench["per_layer"]}
    for wl in bench["workloads"]:
        for trace, spec in specs.items():
            cmd = [
                sys.executable, os.path.join(HERE, "run.py"),
                "--workload", wl["name"], "--seed", "1", "--seconds", "1",
                "--trace", str(trace), "--fraction", str(FRACTION),
            ]
            proc = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT,
                                  timeout=600)
            label = f"{wl['name']} trace={trace}"
            if proc.returncode != 0:
                raise AssertionError(f"{label}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
            res = json.loads(proc.stdout.strip().splitlines()[-1])
            assert set(res) == {"correct", "attempted", "failed", "metrics"}, label
            assert res["correct"] and res["failed"] == 0, f"{label}: {res}"
            want = {m["name"]: m["unit"] for m in spec}
            got = res["metrics"]
            assert set(got) == set(want), f"{label}: {set(got) ^ set(want)}"
            for name, unit in want.items():
                assert got[name]["unit"] == unit, f"{label}: {name} unit"
                assert isinstance(got[name]["value"], (int, float)), f"{label}: {name}"
            values = {k: v["value"] for k, v in got.items()}
            if trace:
                own = set(owned_layers(WL.WORKLOADS[wl["name"]]))
                foreign = {n for w in WL.WORKLOADS.values() for n in owned_layers(w)}
                foreign -= own
                must_be_positive = own | {"spark.jobs", "spark.tasks", "trace.warm_s"}
                zero = [n for n in must_be_positive if not values[n] > 0]
                assert not zero, f"{label}: read 0: {zero}"
                nonzero = [n for n in foreign if values[n] != 0]
                assert not nonzero, f"{label}: measured another workload's {nonzero}"
            else:
                zero = [n for n, v in values.items() if not v > 0]
                assert not zero, f"{label}: read 0: {zero}"
            print(f"ok  {label}: {res['attempted']} attempted", flush=True)


def check_near_dup_oracle() -> None:
    import duckdb

    from sample import draw
    from end_to_end_ml_spark.plans.entry_queries import D7_GROUPS_SQL
    from workloads import near_dup_groups_oracle, same_rows

    os.makedirs(os.path.join(HERE, ".scratch"), exist_ok=True)
    tmp = tempfile.mkdtemp(dir=os.path.join(HERE, ".scratch"), prefix="selftest-")
    try:
        draw(tmp, 1, 2 * FRACTION)
        con = duckdb.connect()
        path = os.path.join(tmp, "documents.parquet")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
        rel = con.sql(D7_GROUPS_SQL)
        rows = near_dup_groups_oracle(con)
        assert rows, "the corpus has no planted near-duplicates"
        assert same_rows(["doc_id", "group_id"], rows, rel.columns, rel.fetchall())
    finally:
        shutil.rmtree(tmp)
    print(f"ok  near-dup oracle matches D7_GROUPS_SQL ({len(rows)} rows)")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    sys.path[:0] = [HERE, ROOT]
    check_near_dup_oracle()
    check_runs(bench)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())

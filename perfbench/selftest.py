"""Self-test of the benchmark at scale 0.001 (a few minutes on 4 cores):

* each workload runs once untraced and twice traced; every metric named
  in BENCHMARK.json prints with its unit, outputs check, and the traced
  job / stage / task counts repeat exactly for one seed (a workload whose
  program does not repeat them is reported under UNREPEATABLE_COUNTS);
* a planted extra shuffle raises ``spark.shuffle_write_bytes``;
* a planted wrong output row fails the output check and is counted.

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCALE = "0.001"

#: workloads whose traced job/stage/task counts the program does not
#: repeat run to run, with the cause; reported, not asserted
UNREPEATABLE_COUNTS = {
    "corpus_build": "lm.perplexity_filter_threshold ends in first(), which scans "
    "partitions in growing batches until a row turns up, so it launches 1 or 3 jobs; "
    "shuffle bytes also differ slightly between runs, the output digest does not",
}


def run(workload: str, trace: int, *extra: str) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", "3", "--seconds", "1", "--trace", str(trace), "--scale", SCALE, *extra,
    ]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise AssertionError(f"{' '.join(cmd)} exited {p.returncode}:\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def has_all(result: dict, specs: list[dict]) -> None:
    for spec in specs:
        got = result["metrics"].get(spec["name"])
        assert got is not None, f"metric {spec['name']} missing"
        assert got["unit"] == spec["unit"], f"{spec['name']}: unit {got['unit']} != {spec['unit']}"
        assert isinstance(got["value"], (int, float)), spec["name"]


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    counts = ("spark.jobs", "spark.stages", "spark.tasks")
    traced = {}
    for w in (x["name"] for x in bench["workloads"]):
        r = run(w, 0)
        assert r["correct"] and r["failed"] == 0, (w, r)
        has_all(r, bench["end_to_end"])
        t1, t2 = run(w, 1), run(w, 1)
        for t in (t1, t2):
            assert t["correct"], (w, t)
            has_all(t, bench["per_layer"])
        diff = {c: (t1["metrics"][c]["value"], t2["metrics"][c]["value"]) for c in counts}
        diff = {c: v for c, v in diff.items() if v[0] != v[1]}
        if w in UNREPEATABLE_COUNTS:
            note = "differ" if diff else "repeated this time (the defect is intermittent)"
            print(f"known defect {w}: counts {note} {diff} ({UNREPEATABLE_COUNTS[w]})", flush=True)
        else:
            assert not diff, (w, diff)
        traced[w] = t1
        print(f"ok {w}: metrics, output check", flush=True)

    base = traced["reconcile_batch"]["metrics"]["spark.shuffle_write_bytes"]["value"]
    planted = run("reconcile_batch", 1, "--plant", "shuffle")
    extra = planted["metrics"]["spark.shuffle_write_bytes"]["value"]
    assert extra > base, f"planted shuffle not seen: {extra} <= {base}"
    print(f"ok planted shuffle: shuffle_write_bytes {base} -> {extra}", flush=True)

    wrong = run("reconcile_batch", 0, "--plant", "wrong_row")
    assert not wrong["correct"] and wrong["failed"] >= 1, wrong
    print(f"ok planted wrong row: failed {wrong['failed']} of {wrong['attempted']}", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

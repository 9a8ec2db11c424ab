"""Harness self-test at a tiny scale (sf 0.001, ten-second runs).

    python3 perfbench/run.py --selftest

For every workload, untraced and traced: the result line carries every
metric BENCHMARK.json names, with its unit and a finite value, and the
correctness gate passes. Then the gate must flag results this test
corrupts in its own copy: one row dropped from a member's parquet gate
output, checked against the oracle, and the result digest of a member's
cold-pass execution. Exits non-zero on the first failure.
"""
import copy
import glob
import json
import math
import os
import sys

import pyarrow.parquet as pq

import run as bench

SF = 0.001
SECONDS = 10


def check_line(line, spec, trace):
    want = spec["per_layer"] if trace else spec["end_to_end"]
    names = [m["name"] for m in want]
    assert list(line["metrics"]) == names, f"metric names differ: {sorted(set(names) ^ set(line['metrics']))}"
    for m in want:
        got = line["metrics"][m["name"]]
        assert got["unit"] == m["unit"], f"{m['name']}: unit {got['unit']} != {m['unit']}"
        assert isinstance(got["value"], (int, float)) and math.isfinite(got["value"]), \
            f"{m['name']}: value {got['value']!r}"
    assert set(line) == {"correct", "attempted", "failed", "metrics"}, sorted(line)
    assert line["attempted"] >= 1 and line["correct"] and line["failed"] == 0, \
        {k: line[k] for k in ("correct", "attempted", "failed")}


def corrupt_and_recheck(result, data):
    """Corrupts a cold-pass digest, then drops one row of the first
    non-empty oracle-checked gate output; the gate must flag each."""
    name = sorted(result["gate"])[0]
    bad_digest = copy.deepcopy(result)
    cold = next(r for r in bad_digest["gate"][name]["round_digests"] if r["round"] == 0)
    cold["digest"] += "0"
    bad = bench.gate(bad_digest, data)
    assert bad.get(name, (None, 0))[1] == 1, f"gate missed a corrupted cold-pass digest of {name}"
    print(f"[selftest] corrupted the cold-pass digest of {name}: flagged ({bad[name][0]})",
          file=sys.stderr)
    for name, g in sorted(result["gate"].items()):
        files = sorted(glob.glob(os.path.join(g["dir"], "*.parquet")))
        tables = [pq.read_table(f) for f in files]
        victim = next((i for i, t in enumerate(tables) if t.num_rows > 0), None)
        if victim is None or not g["oracle"]:
            continue
        pq.write_table(tables[victim].slice(1), files[victim])
        bad = bench.gate(result, data)
        assert name in bad, f"gate missed a corrupted result of {name}"
        print(f"[selftest] corrupted the gate output of {name}: flagged ({bad[name][0]})",
              file=sys.stderr)
        return
    raise AssertionError("no oracle-checked gate output to corrupt")


def main():
    spec = bench.spec()
    for workload in bench.WORKLOADS:
        for trace in (0, 1):
            result, bad, _ = bench.run(workload, 1, SECONDS, trace, sf=SF)
            line = bench.summarize(result, bad, trace)
            check_line(line, spec, trace)
            print(f"[selftest] {workload} trace={trace}: {len(line['metrics'])} metrics, "
                  f"gate passed", file=sys.stderr)
            if workload != "stream" and not trace:
                data = os.path.join(bench.BUILD, "data", f"sf{SF}_seed1")
                corrupt_and_recheck(result, data)
    print(json.dumps({"selftest": "passed"}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

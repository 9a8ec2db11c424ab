"""Runs one benchmark workload end to end and prints its result line.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --selftest

Run from the repository root. The first run builds the engine and the
harness (`perfbench/harness`, an sbt build that loads the root build.sbt)
into the checkout; later runs reuse the build while the sources are
unchanged. Inputs are generated from `--seed` by `perfbench/gen.py`. The
harness JVM writes its measurements, a digest of every execution's result and
the outputs of the untimed warm-up round, which is the gate's pass, under
`.bench_build/runs/`. This script then checks each member: every digest must
equal the gate execution's, and the gate output must equal the member's
DuckDB oracle when it has one. It prints one
JSON line: `correct`, `attempted`, `failed` and `metrics` (end-to-end
metrics, or per-layer metrics with `--trace 1`). Diagnostics go to stderr.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = json.load(open(os.path.join(HERE, "workloads.json")))  # members pinned by name
SF = 0.01          # input scale: lineitem has 6,000,000 * SF rows
CPUS = min(4, os.cpu_count() or 1)  # local[CPUS]; the reference numbers are 4-core
HEAP = "2g"        # -Xms = -Xmx and pre-touched, so peak RSS does not follow heap use
DEADLINE_S = 170.0  # a run must end within 180 s


def log(*args):
    print(*args, file=sys.stderr, flush=True)


def spec():
    return json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


# ---- build ---------------------------------------------------------------

def sources():
    pats = ["build.sbt", "project/*.properties", "src/main/**/*.scala", "src/main/**/*.java",
            "perfbench/harness/build.sbt", "perfbench/harness/project/*.properties",
            "perfbench/harness/src/**/*.scala"]
    files = sorted({f for p in pats for f in glob.glob(os.path.join(ROOT, p), recursive=True)})
    return files


def build():
    """Compiles engine and harness with sbt unless the sources are unchanged;
    returns the JVM arguments that launch the harness."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("perfbench: the engine sources (build.sbt, src/main/scala/graft) are not here; "
                 "run from the repository root")
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        h.update(open(f, "rb").read())
    stamp = h.hexdigest()
    launch = os.path.join(BUILD, "launch.txt")
    stamp_file = os.path.join(BUILD, "launch.stamp")
    if os.path.exists(launch) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(launch).read().splitlines()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = " ".join(filter(None, [env.get("SBT_OPTS", ""),
                                             "-Dsbt.offline=true", "-Dsbt.boot.lock=false",
                                             "-Xmx2g"]))
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true", "launchFile"],
                       cwd=os.path.join(HERE, "harness"), env=env, stdout=sys.stderr,
                       stderr=sys.stderr, timeout=840)
    if r.returncode != 0:
        sys.exit(f"perfbench: build failed (sbt exit {r.returncode})")
    log(f"[perfbench] built in {time.time() - t0:.1f} s")
    shutil.copy(os.path.join(HERE, "harness", "target", "launch.txt"), launch)
    open(stamp_file, "w").write(stamp)
    return open(launch).read().splitlines()


# ---- correctness gate ----------------------------------------------------

def duck(data_dir):
    import duckdb
    con = duckdb.connect()
    for f in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{f}'")
    return con


def canonical(df):
    """Columns sorted by name, rows sorted by every column (scripts/check.py's rule)."""
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def differs(mine, ref):
    """None when equal, else a one-line reason."""
    if sorted(mine.columns) != sorted(ref.columns):
        return f"columns {sorted(mine.columns)} vs {sorted(ref.columns)}"
    if len(mine) != len(ref):
        return f"rows {len(mine)} vs {len(ref)}"
    a, b = canonical(mine), canonical(ref)
    for c in a.columns:
        neq = ~((a[c] == b[c]) | (a[c].isna() & b[c].isna()))
        if neq.any():
            i = neq.idxmax()
            return f"{c}[{i}]: {a[c][i]!r} != {b[c][i]!r} ({int(neq.sum())} diffs)"
    return None


def check_oracle(con, g):
    """Compares a member's gate output with its oracle; returns None or the mismatch."""
    try:
        if not glob.glob(os.path.join(g["dir"], "*.parquet")):
            return "no gate output"
        mine = con.execute(f"SELECT * FROM '{g['dir']}/*.parquet'").df()
        return differs(mine, con.execute(g["oracle"]).df())
    except Exception as e:  # a query the oracle or the reader rejects is a mismatch too
        return f"{type(e).__name__}: {str(e)[:200]}"


def gate(result, data_dir):
    """Returns {member: (reason, wrong executions)} for every member with a
    wrong result. Batch: an execution is wrong when its result digest
    differs from the gate execution's (the cold pass included), and every
    execution is wrong when the gate output differs from the oracle.
    Stream: a phase whose table differs from the batch result is one wrong
    batch."""
    if result["workload"] == "stream":
        return {f"stream.{k}": ("streaming result differs from the batch result: " +
                                "; ".join(v["diffs"]), 1)
                for k, v in result["stream_gate"].items() if not v["ok"]}
    con = duck(data_dir)
    bad = {}
    for name, g in sorted(result["gate"].items()):
        why = check_oracle(con, g) if g["oracle"] else None
        wrong = [r["round"] for r in g["round_digests"] if r["digest"] != g["digest"]]
        if why:
            bad[name] = (f"gate output differs from the oracle: {why}", len(g["round_digests"]) + 1)
        elif wrong:
            bad[name] = (f"result digest of round(s) {wrong} differs from the gate execution's "
                         f"{g['digest']}", len(wrong))
    return bad


# ---- one run -------------------------------------------------------------

def run(workload, seed, seconds, trace, sf=None):
    wl = WORKLOADS.get(workload)
    if wl is None:
        sys.exit(f"perfbench: unknown workload {workload!r}; known: {sorted(WORKLOADS)}")
    launch = build()
    started = time.time()  # the first run may spend longer building
    sys.path.insert(0, HERE)
    import gen
    sf = sf if sf is not None else SF
    data = gen.generate(os.path.join(BUILD, "data", f"sf{sf}_seed{seed}"), seed, sf)
    work = os.path.join(BUILD, "runs", f"{workload}-seed{seed}-trace{trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java"] + launch + [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
                                 "-XX:+AlwaysPreTouch", "perfbench.Harness", "--workload", workload,
            "--members", ",".join(m for g in wl.get("groups", {}).values() for m in g),
            "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
            "--data", data, "--work", work, "--cpus", str(CPUS)])
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(CPUS))
    budget = DEADLINE_S - (time.time() - started) - 10
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr, stderr=sys.stderr)
    try:
        rc = proc.wait(timeout=max(budget, 1))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit("perfbench: harness did not finish in time")
    if rc != 0 or not os.path.exists(os.path.join(work, "result.json")):
        sys.exit(f"perfbench: harness failed (exit {rc})")
    result = json.load(open(os.path.join(work, "result.json")))
    bad = gate(result, data)
    return result, bad, work


def summarize(result, bad, trace):
    """The result line: failed and wrong-result executions (batch) or
    batches (stream) count as failed."""
    failed = result["failed"] + sum(n for _, n in bad.values())
    attempted = result["attempted"]
    s = spec()
    metrics = {}
    if trace:
        for m in s["per_layer"]:
            metrics[m["name"]] = {"value": result["per_layer"][m["name"]], "unit": m["unit"]}
    else:
        for m in s["end_to_end"]:
            metrics[m["name"]] = {"value": result["end_to_end"][m["name"]], "unit": m["unit"]}
    values = [v["value"] for v in metrics.values()]
    ok = all(isinstance(v, (int, float)) and math.isfinite(v) for v in values)
    return {"correct": not bad and failed == 0 and not result["errors"] and ok,
            "attempted": attempted, "failed": failed, "metrics": metrics}


def report(result, bad, workload, work):
    e = result["end_to_end"]
    log(f"[perfbench] {workload}: " + ", ".join(f"{k}={v:.4g}" for k, v in sorted(e.items())))
    log(f"[perfbench] latency samples={result['latency_samples']} "
        f"(p90 {result['latency_p90_s']:.4g} s) cold wall time {result['cold_wall_s']:.4g} s "
        f"host={json.dumps(result['host'])}")
    if "generator_late_ms" in result:
        log(f"[perfbench] open-loop generator lateness (ms): {json.dumps(result['generator_late_ms'])}")
    for err in result["errors"][:20]:
        log(f"[perfbench] error: {err}")
    for m, (why, n) in sorted(bad.items()):
        log(f"[perfbench] WRONG {m} ({n} wrong): {why}")
    if result["workload"] != "stream":
        for group, members in WORKLOADS[workload]["groups"].items():
            warm = sorted(x for m in members for x in result["member_seconds"][m]["timed"])
            log(f"[perfbench] {group}: {len(members)} members, median warm latency "
                f"{warm[len(warm) // 2]:.4f} s over {len(warm)} executions")
    if "accounting" in result:
        worst = max(result["accounting"].items(),
                    key=lambda kv: abs(kv[1]["overlap_ms"]) / max(kv[1]["wall_ms"], 1.0))
        log(f"[perfbench] accounting: build + catalyst + jobs + driver gap = wall + overlap; "
            f"largest overlap {worst[1]['overlap_ms']:.1f} ms of {worst[1]['wall_ms']:.1f} ms "
            f"({worst[0]}): planning inside the build or AQE re-planning while jobs run")
    if "plan_counts" in result:
        base_file = os.path.join(HERE, "plan_baseline.json")
        base = json.load(open(base_file)).get(workload, {}) if os.path.exists(base_file) else {}
        diffs = [f"{m}.{k}: {base.get(m, {}).get(k)} -> {v}"
                 for m, counts in sorted(result["plan_counts"].items())
                 for k, v in sorted(counts.items()) if base.get(m, {}).get(k) != v]
        log(f"[perfbench] plan shape vs plan_baseline.json: "
            f"{len(diffs)} difference(s)" + "".join(f"\n  {d}" for d in diffs[:40]))
        log(f"[perfbench] trace written to {os.path.relpath(work, ROOT)}/spans.json; "
            f"overhead (traced/untraced time per execution) = "
            f"{result['per_layer']['trace.overhead_ratio']:.3f}")


def main():
    ap = argparse.ArgumentParser(description="perfbench: one workload run")
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="smoke-test the harness at a tiny scale (see selftest.py)")
    ap.add_argument("--write-plan-baseline", action="store_true",
                    help="with --trace 1: store this run's per-member plan-shape counts "
                         "as perfbench/plan_baseline.json")
    a = ap.parse_args()
    if a.selftest:
        sys.path.insert(0, HERE)
        import selftest
        sys.exit(selftest.main())
    if not a.workload:
        ap.error("--workload is required")
    seconds = a.seconds if a.seconds is not None else spec()["run_seconds"]
    result, bad, work = run(a.workload, a.seed, seconds, a.trace)
    report(result, bad, a.workload, work)
    if a.write_plan_baseline and "plan_counts" in result:
        path = os.path.join(HERE, "plan_baseline.json")
        base = json.load(open(path)) if os.path.exists(path) else {}
        base[a.workload] = result["plan_counts"]
        open(path, "w").write(json.dumps(base, indent=1, sort_keys=True) + "\n")
    print(json.dumps(summarize(result, bad, a.trace)), flush=True)


if __name__ == "__main__":
    main()

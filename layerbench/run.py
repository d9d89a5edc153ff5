"""Layered benchmark of the warehouse engine.

One run of one workload (the form the contract uses):

    python3 layerbench/run.py --workload wrangle_read --seed 1 --seconds 10 --trace 0

prints as its last line {"correct", "attempted", "failed", "metrics"}: the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
It exits 1 when an output does not match the DuckDB oracle.

    python3 layerbench/run.py --workload all --seed 1
        every workload, untraced then traced, every metric with its unit
    python3 layerbench/run.py --workload mutate_maintain --seed 100 --runs 10 \\
        --save .bench_build/set1.json
        ten runs on seeds 100..109: median, quartiles and spread per metric
    python3 layerbench/run.py --compare .bench_build/set1.json .bench_build/set2.json
        whether two sets of runs agree within each metric's bound

Run from the repository root. See layerbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # nothing lands beside the sources
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import check  # noqa: E402

WORKLOADS = ["wrangle_read", "mutate_maintain"]
LIMIT_S = 175  # a run, build excluded, must end well inside 180 s
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def spec(root):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(root, workload, seed, seconds, trace):
    """One JVM run plus the DuckDB gate; returns the contract's result."""
    classes, jars = build.ensure(root)
    # a fixed path: index manifests record file paths, so a varying
    # directory name would vary the bytes the warehouse stores
    run_dir = os.path.join(build.build_root(root), "runs", workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    log_path = os.path.join(run_dir, "jvm.log")
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:TieredStopAtLevel=1",
            "-XX:ReservedCodeCacheSize=512m", "-XX:-UseCodeCacheFlushing",
            "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={run_dir}/tmp",
            "-Dspark.ui.enabled=false"] + ADD_OPENS +
           ["-cp", classes + os.pathsep + os.path.join(jars, "*"),
            "graftbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace), "--out", run_dir])
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                    start_new_session=True)
            try:
                code = proc.wait(timeout=LIMIT_S - 15)
            finally:
                if proc.poll() is None:
                    os.killpg(proc.pid, signal.SIGKILL)
                    proc.wait()
        result_path = os.path.join(run_dir, "result.json")
        if code != 0 or not os.path.exists(result_path):
            with open(log_path) as f:
                sys.stderr.write(f.read()[-8000:])
            raise RuntimeError(f"{workload}: JVM exited with {code}")
        with open(result_path) as f:
            res = json.load(f)
        bad = [f"harness: {m}" for m in res["mismatches"]]
        bad += [f"failed: {m}" for m in res["failures"]]
        if res["warmup_failed"]:
            bad.append(f"{res['warmup_failed']} operations failed in the warmup pass")
        t_gate = time.monotonic()
        bad += check.run(workload, run_dir, res["params"])
        res["setup_parts"]["gate_s"] = time.monotonic() - t_gate
        if trace:
            keep = os.path.join(build.build_root(root), "traces")
            os.makedirs(keep, exist_ok=True)
            shutil.copy(os.path.join(run_dir, "spans.jsonl"),
                        os.path.join(keep, f"{workload}-{seed}.jsonl"))
        res["mismatch_list"] = bad
        return res
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def contract_line(root, res, trace):
    s = spec(root)
    names = s["per_layer"] if trace else s["end_to_end"]
    source = res["per_layer"] if trace else res["end_to_end"]
    metrics = {}
    for m in names:
        if m["name"] not in source:
            raise RuntimeError(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": source[m["name"]], "unit": m["unit"]}
    return {"correct": not res["mismatch_list"], "attempted": res["attempted"],
            "failed": res["failed"], "metrics": metrics}


def describe(res):
    """Human-readable run record on stderr: what the numbers rest on."""
    fail_ratio = res["failed"] / max(1, res["attempted"])
    print(f"[{res['workload']} seed {res['seed']}] {res['passes']} passes x "
          f"{res['ops_per_pass']} ops; fail_ratio {fail_ratio:.4f} = "
          f"{res['failed']} failed / {res['attempted']} attempted; op_tail at "
          f"p{res['tail_percentile']:.1f} of {res['tail_samples']} samples; "
          f"setup {json.dumps(res['setup_parts'])}; passes "
          f"{json.dumps(res['pass_counts'])}", file=sys.stderr)
    for m in res["mismatch_list"]:
        print(f"  MISMATCH {m}", file=sys.stderr)


def quartiles(values):
    if len(values) < 2:
        v = values[0] if values else 0.0
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def spread_report(root, sets):
    """Median, quartiles and spread (IQR / median) per workload and metric."""
    s = spec(root)
    bounds = {m["name"]: m.get("bound") for m in s["end_to_end"]}
    units = {m["name"]: m["unit"] for m in s["end_to_end"] + s["per_layer"]}
    for w, runs in sets.items():
        print(f"== {w}: {len(runs)} runs, seeds "
              f"{[r['seed'] for r in runs]}")
        for name in runs[0]["metrics"]:
            vals = [r["metrics"][name] for r in runs]
            q1, med, q3 = quartiles(vals)
            spread = (q3 - q1) / med if med else float("nan")
            b = bounds.get(name)
            flag = "" if b is None else ("ok" if spread <= b / 3 else
                                         "WITHIN BOUND" if spread <= b else "TOO NOISY")
            print(f"  {name:32s} {units.get(name, ''):6s} median {med:12.5f} "
                  f"q1 {q1:12.5f} q3 {q3:12.5f} spread {spread:7.4f}"
                  + ("" if b is None else f" bound {b:.3f} {flag}"))


def compare(root, a_path, b_path):
    s = spec(root)
    with open(a_path) as f:
        a = json.load(f)
    with open(b_path) as f:
        b = json.load(f)
    ok = True
    for m in s["end_to_end"]:
        for w in a:
            if w not in b:
                continue
            ma = statistics.median(r["metrics"][m["name"]] for r in a[w])
            mb = statistics.median(r["metrics"][m["name"]] for r in b[w])
            worse = (mb - ma) / ma if m["better"] == "lower" else (ma - mb) / ma
            good = worse <= m["bound"]
            ok &= good
            print(f"{w:16s} {m['name']:14s} {ma:12.5f} -> {mb:12.5f} "
                  f"worse by {worse:+.4f} (bound {m['bound']}) "
                  f"{'ok' if good else 'DRIFT'}")
    return ok


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--runs", type=int, default=0,
                    help="spread report over this many seeds from --seed on")
    ap.add_argument("--save", help="write the spread runs' metrics here")
    ap.add_argument("--compare", nargs=2, metavar=("SET_A", "SET_B"))
    a = ap.parse_args()
    root = os.getcwd()
    if a.compare:
        sys.exit(0 if compare(root, *a.compare) else 1)
    if not a.workload:
        ap.error("--workload is required")
    seconds = a.seconds or spec(root)["run_seconds"]
    workloads = WORKLOADS if a.workload == "all" else [a.workload]

    if a.runs:
        sets = {}
        for w in workloads:
            sets[w] = []
            for seed in range(a.seed, a.seed + a.runs):
                res = run_once(root, w, seed, seconds, a.trace)
                describe(res)
                line = contract_line(root, res, a.trace)
                sets[w].append({"seed": seed, "correct": line["correct"],
                                "metrics": {k: v["value"] for k, v in
                                            line["metrics"].items()}})
        spread_report(root, sets)
        if a.save:
            with open(a.save, "w") as f:
                json.dump(sets, f, indent=1)
        sys.exit(0 if all(r["correct"] for rs in sets.values() for r in rs) else 1)

    if a.workload == "all":
        lines = {}
        for w in workloads:
            for trace in (0, 1):
                res = run_once(root, w, a.seed, seconds, trace)
                describe(res)
                line = contract_line(root, res, trace)
                for k, v in line["metrics"].items():
                    print(f"{w:16s} {k:36s} {v['value']:14.5f} {v['unit']}")
                lines[f"{w}/trace{trace}"] = line
        print(json.dumps(lines))
        sys.exit(0 if all(v["correct"] for v in lines.values()) else 1)

    res = run_once(root, a.workload, a.seed, seconds, a.trace)
    describe(res)
    line = contract_line(root, res, a.trace)
    print(json.dumps(line))
    sys.exit(0 if line["correct"] else 1)


if __name__ == "__main__":
    main()

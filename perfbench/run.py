#!/usr/bin/env python3
"""Benchmark of the KG builder and the corpus-curation queries.

    python3 perfbench/run.py --workload kg_build|corpus_dedup --seed N \\
        --seconds S --trace 0|1 [--cores P]
    python3 perfbench/run.py --selftest

Run from the repository root. Builds the program and the benchmark
(`build.py`), runs one closed-loop JVM process (`perfbench.Main`, Spark
`local[P]`, P = nproc by default), checks every unit's outputs against
`expected.json` and prints a report followed, as the last line, by
{"correct", "attempted", "failed", "metrics"}. README.md explains the
workloads and metrics.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
import build  # noqa: E402

HERE = build.HERE
ROOT = build.ROOT
WORK = os.path.join(build.BUILD, "work")
EXPECTED = os.path.join(HERE, "expected.json")

# Inputs. They do not depend on --seed (see README.md).
PAGES = 200
CORPUS = os.path.join(HERE, "data", "sf0.1")
N_QUERIES = 9
# setup_s is the median of this many set-ups: the benchmark process's own
# and those of processes that only set up (perfbench.Setup).
SETUPS = 3
JVM_TIMEOUT_S = 170


def nproc():
    return len(os.sched_getaffinity(0))


def jvm(main, args, log_name):
    log = os.path.join(build.BUILD, "logs", log_name)
    os.makedirs(os.path.dirname(log), exist_ok=True)
    cmd = build.java_cmd(main, args, [f"-XX:SharedArchiveFile={build.JSA}"])
    with open(log, "w") as err:
        try:
            proc = subprocess.run(cmd, cwd=WORK, stdout=subprocess.PIPE,
                                  stderr=err, text=True, timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            sys.exit(f"perfbench: {main} exceeded {JVM_TIMEOUT_S} s; log: {log}")
    return proc, log


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, check=True).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        return "none (not a git checkout)"


def hi_percentile(xs):
    """Highest percentile with at least ten samples beyond it; with fewer
    than eleven samples, the maximum (p100, nothing beyond)."""
    s = sorted(xs)
    if len(s) < 11:
        return s[-1], 100.0, 0
    return s[len(s) - 11], 100.0 * (len(s) - 10) / len(s), 10


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=["kg_build", "corpus_dedup"])
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cores", type=int, default=nproc())
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if a.cores > nproc() or a.cores < 1:
        # local[N] with N > nproc oversubscribes the host and measures the
        # scheduler, not the program
        sys.exit(f"perfbench: refusing local[{a.cores}] on {nproc()} CPUs")
    source_sha = build.build()
    os.makedirs(WORK, exist_ok=True)

    if a.selftest:
        proc, log = jvm("perfbench.SelfTest", ["--cores", str(a.cores)], "selftest.log")
        sys.stdout.write(proc.stdout)
        sys.exit(proc.returncode)
    if not a.workload:
        ap.error("--workload is required")

    load_start = os.getloadavg()[0]
    setups = []
    for i in range(0 if a.trace else SETUPS - 1):
        proc, log = jvm("perfbench.Setup", ["--cores", str(a.cores), "--work", WORK],
                        f"setup{i}.log")
        lines = [l for l in proc.stdout.splitlines() if l.startswith("PERFBENCH_SETUP ")]
        if proc.returncode != 0 or not lines:
            sys.exit(f"perfbench: set-up run failed (exit {proc.returncode}); log: {log}")
        setups.append(float(lines[-1].split()[1]))
    proc, log = jvm("perfbench.Main", [
        "--workload", a.workload, "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--cores", str(a.cores), "--work", WORK,
        "--pages", str(PAGES), "--corpus", CORPUS],
        f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    lines = [l for l in proc.stdout.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if proc.returncode != 0 or not lines:
        sys.exit(f"perfbench: run failed (exit {proc.returncode}); log: {log}")
    res = json.loads(lines[-1][len("PERFBENCH_RESULT "):])
    setups.append(res["setup_s"])

    samples = [s for s in res["samples"] if s["workload"] == a.workload]
    expected = json.load(open(EXPECTED))
    # Every unit is checked, the other workload's unit of a traced run too;
    # only the workload's own units count as attempted.
    failures = []
    for i, s in enumerate(res["samples"]):
        exp = expected.get(s["workload"])
        if s["error"]:
            failures.append(f"{s['workload']} unit {i}: {s['error']}")
        elif exp is None:
            failures.append(f"{s['workload']} unit {i}: no expected values")
        elif s["checks"] != exp:
            bad = {k: s["checks"].get(k) for k in sorted(set(exp) | set(s["checks"]))
                   if exp.get(k) != s["checks"].get(k)}
            failures.append(f"{s['workload']} unit {i}: output differs from "
                            f"expected.json; observed {json.dumps(bad)}")
    attempted, failed = len(samples), min(len(failures), len(samples))

    secs = [s["seconds"] for s in samples]
    run_med = statistics.median(secs)
    hi, hi_pct, beyond = hi_percentile(secs)
    docs = PAGES if a.workload == "kg_build" else res["corpus_docs"] * N_QUERIES
    e2e = {
        "setup_s": (statistics.median(setups), "s"),
        "run_s_median": (run_med, "s"),
        "run_s_hi": (hi, "s"),
        "docs_per_s": (docs / run_med, "1/s"),
        "snapshot_bytes": (statistics.median(s["bytes"] for s in samples), "bytes"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
        "cache_stored_mb": (res["cache_stored_mb"], "MB"),
    }
    extra = {"fail_ratio": (failed / attempted, "ratio"),
             "old_gen_peak_mb": (res["old_gen_peak_mb"], "MB"),
             "cache_peak_mb": (res["cache_peak_mb"], "MB")}
    if a.workload == "kg_build" and not failures:
        edges = int(samples[0]["checks"]["rows.edges"])
        extra["triples_per_s"] = (edges / run_med, "1/s")

    prov = dict(res["provenance"], nproc=nproc(), cores=a.cores, seed=a.seed,
                seed_note="inputs do not depend on the seed",
                git_commit=git_commit(), source_sha256=source_sha,
                load_at_start=load_start, load_at_end=os.getloadavg()[0],
                load_per_unit=[[s["load_before"], s["load_after"]] for s in samples])
    print("provenance " + json.dumps(prov, sort_keys=True))
    for i, s in enumerate(res["samples"]):
        parts = " ".join(f"{k}={v:.3f}" for k, v in s["parts"].items())
        print(f"unit {i} {s['workload']} {s['seconds']:.3f} s {parts}")
    for f in failures:
        print("FAIL " + f)

    # The overhead compares with the last untraced run of the same build
    # and core count only.
    last_untraced = os.path.join(build.BUILD, f"last_untraced_{a.workload}.json")
    build_key = {"source_sha256": source_sha, "cores": a.cores}
    if a.trace:
        metrics = {m["name"]: (m["value"], m["unit"]) for m in res["per_layer"]}
        base = json.load(open(last_untraced)) if os.path.exists(last_untraced) else {}
        if all(base.get(k) == v for k, v in build_key.items()):
            print(f"trace overhead: trace.run_s {metrics['trace.run_s'][0]:.3f} s "
                  f"against untraced run_s_median {base['run_s_median']:.3f} s "
                  f"(seed {base['seed']}) = "
                  f"{metrics['trace.run_s'][0] / base['run_s_median']:.3f}x")
        else:
            print("trace overhead: no untraced run of this build and core count "
                  "to compare with")
    else:
        metrics = e2e
        with open(last_untraced, "w") as fh:
            json.dump(dict(build_key, run_s_median=run_med, seed=a.seed), fh)
        for name, (v, unit) in list(e2e.items()) + list(extra.items()):
            note = f" (p{hi_pct:.1f}, {beyond} beyond)" if name == "run_s_hi" else ""
            n = len(setups) if name == "setup_s" else len(samples)
            print(f"{a.workload:14s} {name:16s} {v:14.4f} {unit:6s} n={n}{note}")

    print(json.dumps({
        "correct": not failures, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()

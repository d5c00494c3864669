#!/usr/bin/env python3
"""Alternating parent/change runs of the stream benchmark.

    python3 scripts/bench_pairs.py <parent-rev> <workload> <n> <first-seed> [scratch-dir]

Exports the committed files of <parent-rev> and of HEAD with `git archive`
into their own directories under scratch-dir (default: bench_pairs in the
system temp directory; a checkout already there for the same commit is
reused, with its build). Keep scratch-dir short: the harness's sbt build
binds a unix socket about 70 bytes below it, and socket paths end at 107
bytes. Then it runs `alertbench/run.py --trace 0` in each,
n pairs on seeds first-seed .. first-seed+n-1. Odd pairs run the parent
first, even pairs the change first; both sides of a pair use the same
seed, and the window length is BENCHMARK.json's run_seconds.

Prints every run (correct, failed operations, the end-to-end metrics), the
per-run table and the medians with the parent's interquartile range, and
for each metric the pairs the change won. Each run's stderr is kept beside
its checkout as run-<checkout>-<workload>-<seed>.log.
"""
import json
import os
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# (metric, column label, unit, format)
COLUMNS = [
    ("throughput_rps", "rec/s", "rec/s", "{:.0f}"),
    ("latency_ms_p50", "p50 ms", "ms", "{:.0f}"),
    ("latency_ms_p90", "p90 ms", "ms", "{:.0f}"),
    ("cpu_ms_per_krec", "CPU ms/krec", "ms/krec", "{:.1f}"),
    ("live_mb", "live MB", "MB", "{:.0f}"),
    ("setup_s", "setup s", "s", "{:.1f}"),
]


def git(*args):
    return subprocess.run(["git", "-C", ROOT, *args], check=True, capture_output=True,
                          text=True).stdout.strip()


def checkout(rev, scratch, label):
    sha = git("rev-parse", "--verify", rev + "^{commit}")
    d = os.path.join(scratch, f"{label}-{sha[:10]}")
    if not os.path.isdir(d):
        tmp = d + ".partial"
        os.makedirs(tmp, exist_ok=True)
        archive = subprocess.Popen(["git", "-C", ROOT, "archive", sha], stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", tmp], stdin=archive.stdout, check=True)
        if archive.wait() != 0:
            sys.exit(f"git archive {sha} failed")
        os.rename(tmp, d)
    return sha, d


def run(d, workload, seed, seconds):
    """One benchmark run in checkout d: its result JSON, or None if it failed."""
    log = os.path.join(os.path.dirname(d), f"run-{os.path.basename(d)}-{workload}-{seed}.log")
    with open(log, "w") as err:
        p = subprocess.run([sys.executable, "alertbench/run.py", "--workload", workload,
                            "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                           cwd=d, stdout=subprocess.PIPE, stderr=err, stdin=subprocess.DEVNULL,
                           text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode == 3:  # run.py: the sbt build failed
        sys.exit(f"build failed in {d}; see {log}")
    if p.returncode != 0 or not lines:
        print(f"  run failed in {d} (exit {p.returncode}); stderr in {log}", flush=True)
        return None
    res = json.loads(lines[-1])
    with open(log) as f:
        res["code_cache_full"] = "CodeCache is full" in f.read()
    return res


def median_iqr(vs):
    q1, med, q3 = statistics.quantiles(vs, n=4)
    return med, q3 - q1


def main(argv):
    if len(argv) not in (5, 6):
        sys.exit(__doc__)
    parent_rev, workload, n, first_seed = argv[1], argv[2], int(argv[3]), int(argv[4])
    if n < 2:
        sys.exit("n must be at least 2 (the parent's IQR needs two runs)")
    scratch = os.path.abspath(argv[5] if len(argv) == 6 else
                              os.path.join(tempfile.gettempdir(), "bench_pairs"))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = spec["run_seconds"]
    lower_better = {m["name"]: m["better"] == "lower" for m in spec["end_to_end"]}
    os.makedirs(scratch, exist_ok=True)
    psha, pdir = checkout(parent_rev, scratch, "p")
    csha, cdir = checkout("HEAD", scratch, "c")
    print(f"{workload}: parent {psha[:12]} | change {csha[:12]}, {n} pairs, seeds "
          f"{first_seed}-{first_seed + n - 1}, {seconds} s windows", flush=True)

    pairs = []
    for k in range(n):
        seed = first_seed + k
        order = [("parent", pdir), ("change", cdir)]
        if k % 2 == 1:
            order.reverse()
        got = {}
        for side, d in order:
            res = run(d, workload, seed, seconds)
            got[side] = res
            if res is not None:
                vals = " ".join(f"{m}={res['metrics'][m]['value']:.4g}" for m, *_ in COLUMNS)
                print(f"  pair {k + 1} seed {seed} {side}: correct={res['correct']} "
                      f"failed={res['failed']}/{res['attempted']} "
                      f"code_cache_full={res['code_cache_full']} {vals}", flush=True)
        pairs.append(got)

    done = [p for p in pairs if p["parent"] is not None and p["change"] is not None]
    print("\nper run (pair order alternates: odd pairs parent first), parent | change")
    print(f"{workload:<12}" + "".join(f"{label:>18}" for _, label, _, _ in COLUMNS))
    for k, p in enumerate(pairs):
        cells = []
        for m, _, _, fmt in COLUMNS:
            side = [fmt.format(p[s]["metrics"][m]["value"]) if p[s] else "-"
                    for s in ("parent", "change")]
            cells.append(f"{side[0]} | {side[1]}")
        print(f"  pair {k + 1:<5}" + "".join(f"{c:>18}" for c in cells))
    if len(done) < 2:
        sys.exit("fewer than two complete pairs: no medians")

    print("\nmedians parent | change (parent IQR); change won k/n pairs")
    for m, label, unit, fmt in COLUMNS:
        pv = [p["parent"]["metrics"][m]["value"] for p in done]
        cv = [p["change"]["metrics"][m]["value"] for p in done]
        pmed, piqr = median_iqr(pv)
        cmed, _ = median_iqr(cv)
        sign = 1 if lower_better.get(m, True) else -1
        wins = sum(1 for a, b in zip(pv, cv) if sign * (b - a) < 0)
        delta = (cmed - pmed) / pmed * 100 if pmed else float("nan")
        print(f"  {label:<12} {fmt.format(pmed)} | {fmt.format(cmed)} {unit} "
              f"({fmt.format(piqr)})  {delta:+.1f}%  won {wins}/{len(done)}")
    runs = [r for p in pairs for r in p.values()]
    bad = sum(1 for r in runs if r is None or not r["correct"] or r["failed"])
    full = sum(1 for r in runs if r is not None and r["code_cache_full"])
    print(f"\n{len(runs)} runs: {bad} failed, incorrect or with failed operations; "
          f"{full} printed 'CodeCache is full'")


if __name__ == "__main__":
    main(sys.argv)

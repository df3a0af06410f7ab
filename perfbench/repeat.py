"""Runs workloads N times each, one seed per run, and prints every metric's
median, quartiles and spread (interquartile range over the median).

Usage: python3 perfbench/repeat.py --workload W [--workload W2 ...] --runs N
                                   [--sets K] [--first-seed S] [--seconds S]
                                   [--trace 0|1] [--out FILE]

With several workloads or `--sets K`, the runs are interleaved: round i runs
seed S + 1000 * k + i of every set k of every workload, so a change in the
machine's speed during the runs hits every set alike. With two sets, each
metric's second median is also printed as a change against the first.

The per-run result lines and the summaries are written to FILE (default
`.bench_build/repeat/<workloads>.json`). A run that fails or times out is
recorded and left out of the summary.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def summarize(results):
    out = {}
    for name in results[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in results]
        q1, med, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (vals[0],) * 3
        out[name] = {"median": med, "q1": q1, "q3": q3,
                     "spread": (q3 - q1) / med if med else 0.0,
                     "unit": results[0]["metrics"][name]["unit"]}
    return out


def run_once(workload, seed, seconds, trace):
    t0 = time.time()
    done = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True)
    wall = time.time() - t0
    if done.returncode != 0:
        sys.stderr.write(done.stderr[-2000:])
        print(f"{workload} seed {seed}: failed ({done.returncode}) after {wall:.0f} s",
              file=sys.stderr, flush=True)
        return {"seed": seed, "wall_s": wall, "returncode": done.returncode}
    line = json.loads(done.stdout.strip().splitlines()[-1])
    line.update(seed=seed, wall_s=wall)
    print(f"{workload} seed {seed}: {wall:.0f} s, failed {line['failed']}/{line['attempted']}",
          file=sys.stderr, flush=True)
    return line


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    args = ap.parse_args()
    seconds = args.seconds
    if seconds is None:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            seconds = json.load(f)["run_seconds"]
    out = args.out or os.path.join(ROOT, ".bench_build", "repeat",
                                   "-".join(args.workload) + ".json")
    runs = {(w, k): [] for w in args.workload for k in range(args.sets)}
    for i in range(args.runs):
        for k in range(args.sets):
            for w in args.workload:
                runs[(w, k)].append(run_once(w, args.first_seed + 1000 * k + i, seconds,
                                             args.trace))
    report = []
    for w in args.workload:
        sets = []
        for k in range(args.sets):
            ok = [r for r in runs[(w, k)] if "metrics" in r]
            summary = summarize(ok) if ok else {}
            sets.append({"runs": runs[(w, k)], "summary": summary})
            print(f"{w} set {k}: {len(ok)} runs, {args.runs - len(ok)} failed runs, "
                  f"failed share {sorted({r['failed'] / r['attempted'] for r in ok})}")
            for name, s in summary.items():
                print(f"  {name:24s} median {s['median']:12.4f} {s['unit']:6s} "
                      f"q1 {s['q1']:12.4f} q3 {s['q3']:12.4f} spread {s['spread']:.4f}")
        if args.sets == 2 and sets[0]["summary"] and sets[1]["summary"]:
            a, b = sets[0]["summary"], sets[1]["summary"]
            print(f"{w} set 1 against set 0: " + ", ".join(
                f"{n} {(b[n]['median'] - a[n]['median']) / a[n]['median']:+.3f}" for n in a))
        report.append({"workload": w, "seconds": seconds, "sets": sets})
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()

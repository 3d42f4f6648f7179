#!/usr/bin/env python3
"""Compare a parent and a change checkout on the benchmark.

    python3 perfbench/compare.py --parent ../parent --change . --pairs 10

Runs `perfbench/run.py` in both checkouts in interleaved pairs (the side
that runs first alternates; both sides of a pair get the same seed), then
judges every end-to-end metric of every workload by the rule in
README.md: improved, regressed, unresolved or unchanged. `--save` keeps
the raw results; `--load` re-judges saved results without running.

    python3 perfbench/compare.py --overhead --pairs 3

instead pairs untraced and traced runs of this checkout and prints the
tracing overhead: the traced run's ops_per_s and latency_p50_ms against
the untraced run's.
"""

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from bench import stats  # noqa: E402


def judge(parent, change, better, bound):
    """Verdict for one metric from paired runs (same length, same seeds).

    improved:   the change wins at least 9/10 of the pairs (ties count
                for neither) and the medians differ by more than the
                parent's interquartile range;
    regressed:  the change's median is worse than the parent's by more
                than `bound` (a share of the parent's median);
    unresolved: the parent's own spread (IQR / median) exceeds `bound`,
                unless every change run beats every parent run;
    unchanged:  otherwise.
    """
    sign = 1.0 if better == "higher" else -1.0
    wins = sum(1 for p, c in zip(parent, change) if sign * (c - p) > 0)
    q1, pm, q3 = stats.quartiles(parent)
    cm = stats.median(change)
    iqr = q3 - q1
    if wins >= 0.9 * len(parent) and abs(cm - pm) > iqr:
        return "improved"
    worse = sign * (pm - cm) / pm if pm else 0.0
    if worse > bound:
        return "regressed"
    if pm and iqr / pm > bound:
        dominated = (min(change) > max(parent)) if sign > 0 else (max(change) < min(parent))
        return "improved" if dominated else "unresolved"
    return "unchanged"


def run_once(checkout, workload, seed, seconds, trace=0):
    """One run's result. Exit code 1 means some ops failed or answered
    wrong: the run still counts, with its `failed` figure. Any other
    failure (no result line, exit 2 or 3) stops the comparison."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode in (0, 1) and lines:
        try:
            return json.loads(lines[-1])
        except ValueError:
            pass
    raise SystemExit(f"{checkout}: {workload} seed {seed} failed (exit {p.returncode})\n"
                     + p.stderr[-2000:])


def overhead(workloads, pairs, seed0, seconds):
    """Tracing overhead: traced vs untraced runs of this checkout."""
    checkout = os.path.dirname(HERE)
    for w in workloads:
        plain, traced = [], []
        for i in range(pairs):
            for t in ((0, 1) if i % 2 == 0 else (1, 0)):
                r = run_once(checkout, w, seed0 + i, seconds, trace=t)
                (traced if t else plain).append(r["metrics"])
        for name, tname in (("ops_per_s", "trace.ops_per_s"),
                            ("latency_p50_ms", "trace.latency_p50_ms")):
            u = stats.median([m[name]["value"] for m in plain])
            t = stats.median([m[tname]["value"] for m in traced])
            print(f"{w:<10} {name:<16} untraced {u:10.3f}  traced {t:10.3f}  "
                  f"overhead {100 * (t - u) / u:+6.1f}%")
    return 0


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent")
    ap.add_argument("--change")
    ap.add_argument("--workloads", help="comma-separated; default all in BENCHMARK.json")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1000)
    ap.add_argument("--save")
    ap.add_argument("--load")
    ap.add_argument("--overhead", action="store_true")
    args = ap.parse_args(argv)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = (args.workloads.split(",") if args.workloads
                 else [w["name"] for w in spec["workloads"]])
    if args.overhead:
        return overhead(workloads, args.pairs, args.seed0, spec["run_seconds"])

    if args.load:
        with open(args.load) as f:
            runs = json.load(f)
    else:
        if not (args.parent and args.change):
            ap.error("--parent and --change are required unless --load is given")
        if args.pairs < 10:
            ap.error("at least 10 pairs")
        runs = {w: {"parent": [], "change": []} for w in workloads}
        for i in range(args.pairs):
            seed = args.seed0 + i
            for w in workloads:
                order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
                for side in order:
                    checkout = args.parent if side == "parent" else args.change
                    runs[w][side].append(run_once(checkout, w, seed, spec["run_seconds"]))
                    print(f"pair {i + 1}/{args.pairs} {w} {side} done", file=sys.stderr)
                    if args.save:  # after every run, so an abort loses nothing
                        with open(args.save, "w") as f:
                            json.dump(runs, f)

    worst = 0
    for w in workloads:
        # a gain does not count when the change fails more ops
        pf, cf = (sum(r["failed"] for r in runs[w][side]) for side in ("parent", "change"))
        for m in spec["end_to_end"]:
            name = m["name"]
            p = [r["metrics"][name]["value"] for r in runs[w]["parent"]]
            c = [r["metrics"][name]["value"] for r in runs[w]["change"]]
            verdict = judge(p, c, m["better"], m["bound"])
            if verdict == "improved" and cf > pf:
                verdict = "not counted (more failed ops)"
            q1, pm, q3 = stats.quartiles(p)
            c1, cm, c3 = stats.quartiles(c)
            print(f"{w:<10} {name:<18} parent {pm:>10.3f} [{q1:.3f}, {q3:.3f}]  "
                  f"change {cm:>10.3f} [{c1:.3f}, {c3:.3f}]  {verdict}")
            worst = max(worst, verdict == "regressed")
        print(f"{w:<10} failed ops: parent {pf}, change {cf}")
        if cf > pf:
            worst = 1
    return worst


if __name__ == "__main__":
    sys.exit(main())

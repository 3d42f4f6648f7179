#!/usr/bin/env python3
"""Survey plans/r15/*_<suffix>.txt against bench times: per query, count
Exchanges, scans, joins by strategy, non-codegen spans — rank optimization
candidates. Usage: plan_survey.py <plansDir> <suffix> <bench_json>
The plan files come from
`SPARK_GRAFT_SF_DIR=<sfDir> sbt "runMain graft.Explain --out <plansDir> <suffix>"`."""
import json, os, re, sys

plans_dir = sys.argv[1] if len(sys.argv) > 1 else "plans/r15"
suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
bench = sys.argv[3] if len(sys.argv) > 3 else "/tmp/bench_baseline_r15opt.json"

times = {}
if os.path.exists(bench):
    times = json.load(open(bench)).get("queries", {})

rows = []
for fn in sorted(os.listdir(plans_dir)):
    if not fn.endswith(f"_{suffix}.txt"):
        continue
    q = fn[: -len(f"_{suffix}.txt")]
    txt = open(os.path.join(plans_dir, fn)).read()
    n_ex = len(re.findall(r"Arguments: hashpartitioning", txt))
    n_ex_single = len(re.findall(r"Arguments: SinglePartition", txt))
    n_ex_range = len(re.findall(r"Arguments: rangepartitioning", txt))
    n_scan = len(re.findall(r"Scan parquet|BatchScan|Scan graft", txt))
    smj = len(re.findall(r"\bSortMergeJoin", txt))
    bhj = len(re.findall(r"\bBroadcastHashJoin", txt))
    shj = len(re.findall(r"\bShuffledHashJoin", txt))
    bnlj = len(re.findall(r"BroadcastNestedLoopJoin", txt))
    cart = len(re.findall(r"CartesianProduct", txt))
    win = len(re.findall(r"\bWindow\b", txt))
    sort = len(re.findall(r"\bSort \[", txt))
    agg = len(re.findall(r"HashAggregate", txt))
    objagg = len(re.findall(r"ObjectHashAggregate|SortAggregate", txt))
    rows.append((times.get(q, -1.0), q, n_ex, n_ex_single, n_ex_range,
                 n_scan, smj, bhj, shj, bnlj + cart, win, sort, agg, objagg))

rows.sort(reverse=True)
print(f"{'sec':>7} {'query':<34} {'exH':>3} {'ex1':>3} {'exR':>3} "
      f"{'scan':>4} {'SMJ':>3} {'BHJ':>3} {'SHJ':>3} {'NLJ':>3} "
      f"{'win':>3} {'srt':>3} {'agg':>3} {'oAg':>3}")
for r in rows:
    print(f"{r[0]:7.3f} {r[1]:<34} " + " ".join(
        f"{v:>3}" if i != 4 else f"{v:>4}"
        for i, v in enumerate(r[2:])))

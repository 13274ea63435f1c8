"""The benchmark's checks on itself: ``python3 perfbench/run.py --selftest``.

1. Work counts do not depend on the seed: two traced runs per workload,
   on two seeds, produce the same output row counts, and each operation
   launches the same number of Spark jobs. The job count of an operation
   can differ by one between passes of the same seed (the engine's job
   count depends on timing there), so per operation the two seeds' sets
   of per-pass job counts must share a value.
2. The output check catches a corrupted output: one value of one
   output is changed in a copy, and the check on the copy must fail for
   exactly that output while the untouched outputs still pass.
3. The trace reconciles: in a traced run, operation self time plus the
   time between operations equals the time outside Spark jobs,
   and the traced passes' median wall stays within the ``pass_s`` bound
   of the untraced passes' median in the same run (the difference is
   the tracing overhead, reported).

Prints one JSON object and exits 0 only if every check holds.
"""
import glob
import json
import os
import shutil

import pandas as pd

import check
import run

BOUNDS = {m["name"]: m["bound"] for m in json.load(
    open(os.path.join(run.ROOT, "BENCHMARK.json")))["end_to_end"]}
SEEDS = (11, 12)


def work_counts(diag):
    return ({r["op"]: sorted(set(r["jobs_per_pass"])) for r in diag["op_table"]},
            {k: v["rows"] for k, v in diag["checks"].items()})


def same_jobs(a, b):
    return a.keys() == b.keys() and all(set(a[k]) & set(b[k]) for k in a)


def corrupt_and_check(workload, rec, data):
    """Returns (caught, untouched outputs still pass)."""
    scratch = os.path.join(run.BUILD, "selftest", workload)
    shutil.rmtree(scratch, ignore_errors=True)
    if workload == "corral_mr":
        shutil.copytree(rec["out_dir"], scratch)
        part = sorted(glob.glob(f"{scratch}/wordcount/output-part-*"))[0]
        with open(part) as f:
            lines = f.read().splitlines()
        word, n = lines[0].split("\t")
        lines[0] = f"{word}\t{int(n) + 1}"
        with open(part, "w") as f:
            f.write("\n".join(lines) + "\n")
        res, target = check.check_mr(data, scratch), "wordcount"
    else:
        shutil.copytree(rec["check_dir"], scratch)
        target = "dd6_dup_groups"
        replica = rec["seed"] % run.gen.REPLICAS
        lo = replica * run.gen.REPLICA_OFFSET
        files = sorted(glob.glob(f"{scratch}/{target}/*.parquet"))
        df = pd.concat([pd.read_parquet(p) for p in files]).reset_index(drop=True)
        for p in files:
            os.remove(p)
        row = df.index[(df["doc_id"] >= lo) & (df["doc_id"] < lo + run.gen.REPLICA_OFFSET)][0]
        df.loc[row, "group_id"] += 1
        df.to_parquet(f"{scratch}/{target}/part-0.parquet", index=False)
        res = check.check_queries(data, scratch, rec["oracle_sql"], replica)
    caught = not res[target][0]
    others_pass = all(v[0] for k, v in res.items() if k != target)
    return caught, others_pass, res[target][2]


def main(seconds):
    # enough warm passes that each seed shows its pass-to-pass range
    seconds = max(seconds, 25)
    out, ok = {}, True
    for workload in sorted(run.WORKLOADS):
        w = {}
        traced = [run.bench(workload, s, seconds, True) for s in SEEDS]
        (jobs_a, rows_a), (jobs_b, rows_b) = (work_counts(t[0]) for t in traced)
        w["jobs_per_op"] = {str(SEEDS[0]): jobs_a, str(SEEDS[1]): jobs_b}
        w["output_rows"] = {str(SEEDS[0]): rows_a, str(SEEDS[1]): rows_b}
        w["same_work"] = same_jobs(jobs_a, jobs_b) and rows_a == rows_b

        caught, others, msg = corrupt_and_check(workload, traced[1][2], traced[1][3])
        w["corruption_caught"] = caught and others
        w["corruption_msg"] = msg

        layers = traced[1][1]["metrics"]
        pass_s = layers["trace.untraced_pass_s"]["value"]
        traced_s = layers["trace.pass_s"]["value"]
        w["untraced_pass_s"] = pass_s
        w["traced_pass_s"] = traced_s
        w["tracing_overhead_s"] = traced_s - pass_s
        w["reconcile_err"] = layers["trace.reconcile_err"]["value"]
        w["reconciles"] = (w["reconcile_err"] <= BOUNDS["pass_s"] and
                           abs(traced_s - pass_s) / pass_s <= BOUNDS["pass_s"])
        w["all_correct"] = all(t[1]["correct"] for t in traced)
        w["ok"] = (w["same_work"] and w["corruption_caught"] and w["reconciles"]
                   and w["all_correct"])
        ok = ok and w["ok"]
        out[workload] = w
    print(json.dumps({"selftest": out, "ok": ok}, indent=1))
    return 0 if ok else 1

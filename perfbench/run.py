#!/usr/bin/env python3
"""graft benchmark: one command per (workload, seed).

    python3 perfbench/run.py --workload corral_mr --seed 1 --seconds 10 --trace 0

Run from the repository root. The first call builds the engine plus the
benchmark's main (``perfbench/build.sbt``) into ``perfbench/target``;
inputs are generated from the seed and cached under ``.bench_build/data``.
One JVM then runs the workload through the engine's public entry points
(``GraftSession.builder``, ``graft.Main.run``, ``SparkEntry.queries``) on
``local[<cores>]`` with the object-store shuffle on ``graftfs://``, and
every output is checked against DuckDB outside the timed window.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer ones (and writes the span file). A line
before it carries diagnostics: input generation time, the contention
read, the per-pass figures and the per-operation table.

``--selftest`` runs the benchmark's own checks instead (see selftest.py).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = {"corral_mr": "mr", "llm_dedup": "corpus"}
HEAP = "3g"
RUN_TIMEOUT_S = 160
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(HERE, "build.sbt")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def ensure_build():
    """Compile once per source state; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: engine sources (src/main/scala) not found; "
                         "run from a full checkout of the repository")
    stamp_file = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building the engine and the benchmark main (sbt)")
    t0 = time.monotonic()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=880)
    lines = [x for x in r.stdout.splitlines() if x.startswith("/")]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    log(f"build done in {time.monotonic() - t0:.1f}s")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def slots():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(cp, workload, data, seed, seconds, trace):
    work = os.path.join(BUILD, "work", workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    record = os.path.join(work, "record.json")
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.Main",
              "--workload", workload, "--data", data, "--work", work,
              "--seconds", str(seconds), "--trace", "1" if trace else "0",
              "--slots", str(slots()),
              "--seed", str(seed), "--record", record])
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE,
                            stderr=subprocess.STDOUT, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit("perfbench: workload run timed out")
    if proc.returncode != 0 or not os.path.exists(record):
        sys.stderr.write(out[-6000:])
        raise SystemExit(f"perfbench: JVM exited with {proc.returncode}")
    with open(record) as f:
        rec = json.load(f)
    rec["work"] = work
    return rec


def run_checks(workload, data, rec):
    if workload == "corral_mr":
        return check.check_mr(data, rec["out_dir"])
    return check.check_queries(data, rec["check_dir"], rec["oracle_sql"],
                               rec["seed"] % gen.REPLICAS)


def summarize(workload, rec, checks, input_bytes, gen_s, trace):
    ok_passes = [p for p in rec["passes"] if p["ok"]]
    if not ok_passes:
        sys.stderr.write("\n".join(rec["errors"]) + "\n")
        raise SystemExit("perfbench: no warm pass completed without an error")
    bad_checks = [k for k, v in checks.items() if not v[0]]
    failed = rec["failed"] + len(bad_checks)
    attempted = rec["attempted"] + len(checks)
    med = statistics.median
    if trace:
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in rec["per_layer"].items()}
        stored = med([p["stored_bytes"] for p in ok_passes])
        metrics["io.stored_bytes_per_input_byte"] = {
            "value": stored / input_bytes, "unit": "ratio"}
    else:
        metrics = {
            "setup_s": {"value": med(rec["setup_s"]), "unit": "s"},
            "pass_s": {"value": med([p["wall_s"] for p in ok_passes]), "unit": "s"},
            "cpu_s": {"value": med([p["cpu_s"] for p in ok_passes]), "unit": "s"},
            "peak_heap_mb": {"value": rec["peak_heap_mb"], "unit": "MiB"},
        }
    diag = {
        "workload": workload, "seed": rec["seed"], "slots": rec["slots"],
        "passes": len(ok_passes), "setups": rec["setup_s"],
        "pass_walls_s": [round(p["wall_s"], 4) for p in rec["passes"]],
        "input_bytes": input_bytes, "gen_s": round(gen_s, 3),
        "delay_factor": rec["delay_factor"], "calib_wall_s": rec["calib_wall_s"],
        "error_rate": failed / attempted, "errors": rec["errors"],
        "checks": {k: {"ok": v[0], "rows": v[1], "msg": v[2]} for k, v in checks.items()},
        "stored_bytes_per_pass": [p["stored_bytes"] for p in rec["passes"]],
    }
    if trace:
        diag["op_table"] = rec["op_table"]
        diag["span_file"] = os.path.relpath(rec["span_file"], ROOT)
    return diag, {"correct": failed == 0, "attempted": attempted,
                  "failed": failed, "metrics": metrics}


UNITS = {"_s": "s", "_mb": "MiB", "_bytes": "bytes", "_ratio": "ratio",
         "_err": "ratio", "delay_factor": "ratio"}


def unit_of(name):
    if "bytes" in name:
        return "bytes"
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def bench(workload, seed, seconds, trace):
    """One run: (diagnostics, result line, JVM record, input dir)."""
    cp = ensure_build()
    data, gen_s, input_bytes = gen.ensure(ROOT, WORKLOADS[workload], seed)
    t0 = time.monotonic()
    rec = run_jvm(cp, workload, data, seed, seconds, trace)
    t1 = time.monotonic()
    checks = run_checks(workload, data, rec)
    diag, result = summarize(workload, rec, checks, input_bytes, gen_s, trace)
    diag["jvm_s"] = round(t1 - t0, 3)
    diag["check_s"] = round(time.monotonic() - t1, 3)
    return diag, result, rec, data


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if a.selftest:
        import selftest
        sys.exit(selftest.main(a.seconds))
    if not a.workload:
        ap.error("--workload is required")
    diag, result, _, _ = bench(a.workload, a.seed, a.seconds, bool(a.trace))
    print(json.dumps({"diagnostics": diag}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()

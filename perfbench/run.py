#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

Usage (from the repository root):
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the library and the harness from source (perfbench/build.py), runs
the workload in one JVM (perfbench.Main), checks the outputs, and prints
as its last stdout line one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`. The full run record
(spans, checks, input properties, machine context) is written to
<build dir>/runs/<workload>-seed<N>-trace<T>.json.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("marketviz_backfill", "curation_batch")
DEADLINE_S = 170
JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def git_commit(repo):
    try:
        out = subprocess.run(["git", "-C", repo, "rev-parse", "HEAD"], stdout=subprocess.PIPE,
                             stderr=subprocess.DEVNULL, text=True, timeout=10)
        return out.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def steal_s():
    """CPU time the hypervisor took from this machine, summed over CPUs:
    what a run loses to other tenants (Linux /proc/stat; None elsewhere)."""
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def run_jvm(classes, args, run_dir, timeout):
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    opens = [x for p in JVM_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    record = os.path.join(run_dir, "record.json")
    # C1 only: in a JVM that lives for one run, when C2's background
    # compiles land decided most of the run-to-run spread (interquartile
    # range 20-50% of the median over five seeds on 4 cores, 7-13% with C1).
    # C1-only mode shrinks the code cache to 48 MB; q81's generated classes
    # filled it by the third pass, and the flushing and recompiling that
    # followed nearly doubled the CPU time of every later pass.
    # -UsePerfData: no hsperfdata file outside the checkout.
    cmd = (["java", "-Xmx3g", "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=256m",
            "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"] + opens +
           ["-cp", cp, "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--root", run_dir, "--out", record])
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)

        def stop(*_):
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise SystemExit("perfbench: stopped")
        # The JVM runs in its own process group: take it down with us.
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise SystemExit(f"perfbench: {args.workload} did not finish within {timeout:.0f} s")
    if not os.path.exists(record):
        tail = open(os.path.join(run_dir, "jvm.log")).read()[-3000:]
        raise SystemExit(f"perfbench: the run wrote no record (exit {proc.returncode})\n{tail}")
    with open(record) as fh:
        return json.load(fh), proc.returncode


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.time()
    repo = os.getcwd()
    spec = json.load(open(os.path.join(repo, "BENCHMARK.json")))
    load_before = os.getloadavg()[0]
    steal_before = steal_s()
    classes, src_hash = build.ensure_built(repo)

    runs = os.path.join(build.build_root(), "runs")
    run_dir = os.path.join(runs, f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        t_jvm = time.time()
        record, code = run_jvm(classes, args, run_dir, DEADLINE_S - (t_jvm - started))
        t_checks = time.time()
        found = checks.run(record)
        phases = {"build_s": t_jvm - started, "jvm_s": t_checks - t_jvm,
                  "checks_s": time.time() - t_checks}
    finally:
        kept_log = os.path.join(runs, f"{args.workload}-seed{args.seed}-trace{args.trace}.log")
        if os.path.exists(os.path.join(run_dir, "jvm.log")):
            shutil.copy(os.path.join(run_dir, "jvm.log"), kept_log)
        shutil.rmtree(run_dir, ignore_errors=True)

    all_checks = dict(record.get("checks") or {})
    all_checks.update(found)
    ops = metrics.loop_ops(record)
    failed_ops = sum(1 for o in ops if not o["ok"])
    failed_checks = sum(1 for ok in all_checks.values() if not ok)
    attempted = len(ops) + len(all_checks)
    failed = failed_ops + failed_checks
    correct = code == 0 and record.get("error") is None and failed == 0

    stats = metrics.span_stats(record) if args.trace else []
    e2e = metrics.end_to_end(record)
    if args.trace:
        names = [m["name"] for m in spec["per_layer"]]
        values = metrics.per_layer(record, stats, names)
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        out = {n: {"value": values[n], "unit": units[n]} for n in names}
    else:
        out = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]}
    if any(v["value"] is None for v in out.values()):
        raise SystemExit("perfbench: the timed window produced no samples for "
                         + ", ".join(k for k, v in out.items() if v["value"] is None))

    details = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "git_commit": git_commit(repo), "source_hash": src_hash, "nproc": os.cpu_count(),
        "cpus_used": record["cpus"], "load1_before": load_before, "load1_after": os.getloadavg()[0],
        "steal_s": None if steal_before is None else steal_s() - steal_before,
        "correct": correct, "checks": all_checks, "error": record.get("error"),
        "metrics": out, "end_to_end": e2e, "facts": metrics.side_facts(record), "phases": phases,
        "input": record.get("input"),
    }
    if args.trace:
        details["attribution_gap_ms"] = metrics.attribution_gap(record, stats)
        untraced = os.path.join(runs, f"{args.workload}-seed{args.seed}-trace0.json")
        if os.path.exists(untraced):
            base = json.load(open(untraced))["end_to_end"]
            details["tracing_overhead"] = {
                k: e2e[k] - base[k] for k in ("setup_s", "flow_s", "read_ms_p50")
                if e2e[k] is not None and base.get(k) is not None}
        details["spans"] = stats
    with open(os.path.join(runs, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump(details, fh, indent=1)
    gated = {m["name"] for m in spec["end_to_end"]}
    shown = {k: {"value": v, "unit": metrics.UNITS[k]} for k, v in e2e.items()
             if k not in gated or args.trace}
    facts = details["facts"]
    shown["ops_failed_frac"] = {"value": facts["ops_failed_frac"], "unit": "ratio"}
    shown["tail"] = facts["tail"]
    print("perfbench (not gated):", json.dumps(shown))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": out}))


if __name__ == "__main__":
    main()

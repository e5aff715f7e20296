"""Runs one benchmark workload and prints its metrics.

    python3 etlbench/run.py --workload star_append --seed 1 --seconds 10 --trace 0

Builds the engine and the driver from source when needed (build.py), runs
the workload in one JVM (`local[nproc]`), checks its outputs against an
independent model, writes a run record that is never overwritten to
<build dir>/records/, and prints as its last stdout line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are BENCHMARK.json's end_to_end list, with --trace 1 its per_layer list.
"""

import argparse
import datetime
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("star_append", "dim_upsert", "backfill")
# A fixed, pre-touched heap: resident memory then does not depend on how
# the collector happened to size the heap in a run.
HEAP = ["-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch"]
# A run must end within 180 s once built; the JVM gets what is left of that.
RUN_LIMIT_S = 175


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="time budget of the measured loop: a run makes its workload's fixed batch "
                         "count and stops early only past three times this")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt-one-row", action="store_true",
                    help="alter one row of the loaded result before the gate compares it (gate self-check)")
    ap.add_argument("--cube-on-day-id", action="store_true",
                    help="star_append: group the cube on the nullable day_id link; shows the engine's "
                         "NULL-group merge defect (the gate fails)")
    ap.add_argument("--inputs-only", action="store_true",
                    help="only generate the inputs and print their checksums")
    return ap.parse_args(argv)


def git_commit(root):
    if not (root / ".git").exists():
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except OSError:
        return None


def run_jvm(jvm_flags, args, run_dir, budget_s):
    """Runs etlbench.Main; returns its result object (None on failure)."""
    work, out = run_dir / "work", run_dir / "result.json"
    (work / "tmp").mkdir(parents=True)
    cmd = ["java", *build.JVM_OPENS, *HEAP, f"-Djava.io.tmpdir={work / 'tmp'}",
           *jvm_flags, "etlbench.Main",
           "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--cores", str(os.cpu_count()),
           "--work", str(work), "--out", str(out),
           "--corrupt", "1" if args.corrupt_one_row else "0",
           "--inputs-only", "1" if args.inputs_only else "0",
           "--cube-on-day-id", "1" if args.cube_on_day_id else "0"]
    with open(run_dir / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            code = proc.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            print(f"etlbench: run exceeded {budget_s:.0f} s and was stopped", file=sys.stderr)
            code = None
        finally:
            # also when this process is interrupted or terminated
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not out.exists():
        if code is not None:
            print(f"etlbench: JVM exited with {code}; see {run_dir / 'jvm.log'}", file=sys.stderr)
        return None
    return json.loads(out.read_text())


def cpu_times():
    """(steal, total) jiffies of all CPUs: steal is time the hypervisor gave
    to other guests."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7] if len(v) > 7 else 0, sum(v)


def tracing_overhead(records, workload, source_hash, traced_p50):
    """(traced batch_p50_s ÷ the median batch_p50_s of the untraced runs of
    the same workload and sources in `records`, their count); (None, 0)
    before any untraced run."""
    plain = []
    for f in records.glob("*.json"):
        r = json.loads(f.read_text())
        if r["trace"] == 0 and r["workload"] == workload and r["source_hash"] == source_hash:
            plain.append(r["metrics"]["batch_p50_s"]["value"])
    return (traced_p50 / statistics.median(plain) if plain else None), len(plain)


def final_line(result, bench, trace):
    """The contract's last stdout line, with the metrics BENCHMARK.json lists."""
    if trace:
        values = result["per_layer"]
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in bench["per_layer"]}
    else:
        e2e = dict(result["end_to_end"], setup_s={"value": result["setup_s"], "unit": "s"})
        metrics = {m["name"]: {"value": e2e[m["name"]]["value"], "unit": m["unit"]}
                   for m in bench["end_to_end"]}
    return {"correct": result["correct"], "attempted": result["attempted"],
            "failed": result["failed"], "metrics": metrics}


def main(argv=None):
    t_start = time.monotonic()
    # SIGTERM unwinds like Ctrl-C, so the JVM child is stopped on the way out
    signal.signal(signal.SIGTERM, signal.default_int_handler)
    args = parse_args(argv)
    root = build.ROOT
    bench_file = root / "BENCHMARK.json"
    if not (root / "src/main/scala/graft").is_dir() or not bench_file.exists():
        print(f"etlbench: no engine sources or BENCHMARK.json under {root}", file=sys.stderr)
        return 2
    bench = json.loads(bench_file.read_text())
    out_dir = build.build_dir(root)
    out_dir.mkdir(parents=True, exist_ok=True)
    jvm_flags = build.ensure_built(root, out_dir)
    built_s = time.monotonic() - t_start

    started = datetime.datetime.now(datetime.timezone.utc)
    run_id = f"{started:%Y%m%dT%H%M%S%f}-{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = out_dir / "runs" / run_id
    run_dir.mkdir(parents=True)
    load_before, cpu_before = os.getloadavg(), cpu_times()
    t0 = time.monotonic()
    result = run_jvm(jvm_flags, args, run_dir, RUN_LIMIT_S - (time.monotonic() - t_start - built_s))
    wall = time.monotonic() - t0
    load_after, cpu_after = os.getloadavg(), cpu_times()
    if result is None:
        return 1
    if args.inputs_only:
        print(json.dumps(result, sort_keys=True))
        return 0

    line = final_line(result, bench, args.trace == 1)
    nproc = os.cpu_count()
    record = {
        "commit": git_commit(root), "source_hash": build.source_hash(root),
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "nproc": nproc, "started_utc": started.isoformat(),
        "loadavg_before": load_before, "loadavg_after": load_after,
        # other work queued for the cores before the run makes its timings
        # suspect (the value after includes the run's own load)
        "suspect": load_before[0] > nproc,
        "cpu_steal_share": (cpu_after[0] - cpu_before[0]) / max(1, cpu_after[1] - cpu_before[1]),
        "run_wall_s": wall,
        "metrics": dict(result["end_to_end"], setup_s={
            "value": result["setup_s"], "unit": "s", "samples": len(result["setup_reps_s"])}),
        "per_layer": result.get("per_layer"),
        "checks": result["checks"], "sizes": result["sizes"],
        "run": {k: v for k, v in result.items()
                if k not in ("end_to_end", "per_layer", "checks", "sizes")},
        "final_line": line,
    }
    records = out_dir / "records"
    records.mkdir(exist_ok=True)
    if args.trace:
        ratio, n = tracing_overhead(records, args.workload, record["source_hash"],
                                    result["end_to_end"]["batch_p50_s"]["value"])
        record["tracing_overhead"] = {"ratio": ratio, "untraced_runs": n}
    with open(records / f"{run_id}.json", "x") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    spans = run_dir / "result.json.spans.jsonl"
    if spans.exists():
        shutil.copyfile(spans, records / f"{run_id}.spans.jsonl")

    for c in result["checks"]:
        if not c["ok"]:
            print(f"gate FAILED {c['name']}: {c['detail']}")
    for name, m in line["metrics"].items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    if args.trace:
        o = record["tracing_overhead"]
        print("tracing overhead: " + (f"{o['ratio']:.3f} x the untraced batch_p50_s of {o['untraced_runs']} run(s)"
                                      if o["ratio"] else "no untraced run of these sources to compare with"))
    print(f"record: {records / (run_id + '.json')}")
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())

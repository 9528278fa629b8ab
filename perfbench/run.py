"""graft benchmark: runs one workload and prints its metrics.

    python3 perfbench/run.py --workload sig_etl --seed 1 --seconds 6 --trace 0

Builds graft and the harness from source (perfbench/build.py), runs the
workload in one JVM under local[nproc], checks every op's output, and
prints the metrics by name with units. The last stdout line is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones; with --trace 1 they are the
per-layer ones, and the spans go to .bench_build/traces/.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))

import build  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("sig_etl", "corpus_ingest", "ann_serve")

# op_ms_tail's percentile, fixed so that a faster program fitting more
# ops into a run is not measured at a higher percentile. A 6-s run on
# 4 cores times 1-6 ops, too few for any percentile to have ten ops
# beyond it (README.md), so this is the nearest-rank p90.
TAIL_PCT = 90

# The whole run, build excluded, must end well inside 180 s.
RUN_TIMEOUT_S = 170

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(classes, work, args):
    """Runs the harness; returns its raw record, or exits non-zero."""
    raw_path = work / "raw.json"
    log_path = work / "jvm.log"
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = (["java", "-XX:-UsePerfData", "-Xss4m", "-Xms512m", "-Xmx3g",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}{os.pathsep}{build.spark_jars()}/*", "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--cpus", str(cpus()),
              "--work", str(work), "--out", str(raw_path)])
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = "timeout"
    if code != 0 or not raw_path.exists():
        sys.stderr.write(log_path.read_text()[-4000:])
        sys.exit(f"perfbench: harness failed ({code})")
    return json.loads(raw_path.read_text())


def write_trace(raw, args):
    out = build.build_dir() / "traces"
    out.mkdir(parents=True, exist_ok=True)
    path = out / f"{args.workload}-seed{args.seed}.json"
    path.write_text(json.dumps({
        "workload": args.workload, "seed": args.seed, "spans": raw["spans"],
        "ops": metrics.op_breakdown(raw), "jobs": raw["jobs"],
        "queries": [{k: v for k, v in q.items() if k != "nodes"} for q in raw["queries"]],
        "progress": raw["progress"], "micro": raw["micro"],
    }))
    return path


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    classes = build.ensure()
    work = build.build_dir() / "work" / f"{args.workload}-{os.getpid()}-{int(time.time())}"
    try:
        raw = run_jvm(classes, work, args)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    ops = raw["ops"]
    attempted = len(ops)
    failed = sum(1 for op in ops if not op["ok"])
    if attempted == 0:
        sys.exit("perfbench: no op completed inside the timed window")
    e2e = metrics.end_to_end(raw, TAIL_PCT)
    print(f"# {args.workload} seed={args.seed} cpus={raw['cpus']} ops={attempted} "
          f"tail=p{TAIL_PCT} (highest with >=10 beyond at this count: "
          f"p{metrics.tail_percentile(attempted)})")
    rounds = [round(x, 2) for x in raw['setup_rounds_s']]
    print(f"# session_s={raw['session_s']:.2f} setup_rounds_s={rounds} "
          f"warmup_s={raw['warmup_s']:.2f} window_s={raw['window_s']:.2f}")
    print(f"# inputs: {json.dumps(raw['props'])}")
    for name, unit in metrics.E2E_UNITS.items():
        print(f"{name} {e2e[name]:.6g} {unit}")
    correct = failed == 0 and raw["warmup_failed"] == 0
    if args.trace:
        layers = metrics.per_layer(raw)
        path = write_trace(raw, args)
        print(f"# spans: {path}")
        for name in metrics.PER_LAYER:
            print(f"{name} {layers[name]:.6g} {metrics.per_layer_unit(name)}")
        correct = correct and layers["trace.self_sum_error_ms"] < 1.0
        out = {k: {"value": layers[k], "unit": metrics.per_layer_unit(k)}
               for k in metrics.PER_LAYER}
    else:
        out = {k: {"value": e2e[k], "unit": metrics.E2E_UNITS[k]}
               for k in metrics.E2E_REPORTED}
    for op in ops:
        if not op["ok"]:
            print(f"# op {op['id']} failed: {op['error']}")
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": out}))


if __name__ == "__main__":
    main()

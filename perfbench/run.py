#!/usr/bin/env python3
"""graft benchmark: one closed-loop run of one workload, or of all of them.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1> [--artifact <trace.json>]
    python3 perfbench/run.py --all [--seed <n>] [--seconds <s>]

Run it from the root of a checkout. The first run builds the benchmark
(graft's sources plus perfbench/src) with sbt into perfbench/target and
reuses that build while the sources are unchanged. Each run generates its
inputs from --seed, runs one Spark driver process, checks the outputs and
prints every metric with its unit; the last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones, with --trace 1 the per-layer ones.
--artifact also writes the traced run's spans, self times, per-layer
metrics and tracing overhead to a file.

--all runs every workload BENCHMARK.json lists, untraced, one after
another, and prints each workload's metrics and contract line.
"""
import argparse
import glob
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
TARGET = os.path.join(HERE, "target")
WORK = os.path.join(HERE, "work")
CLASSPATH_FILE = os.path.join(TARGET, "bench-classpath.json")

# BENCHMARK.json names the metrics, their units and the workloads a full
# run covers; corpus-kernels runs on request only.
BENCHMARK = os.path.join(ROOT, "BENCHMARK.json")
WORKLOADS = ["adtech-reports", "etl-cycles", "corpus-kernels"]
SF = 0.01  # scale factor of the generated query tables
# Input generation repeats inside set-up; setup_s takes the median.
GEN_REPEATS = 3
RUN_TIMEOUT_S = 170
HEAP = "2g"
BUILD_TIMEOUT_S = 850
# Printed with the end-to-end metrics, but not contract metrics.
EXTRA_UNITS = {"op_p50_s": "s", "op_tail_s": "s", "error_rate": "ratio",
               "initial_load_s": "s", "bytes_stored_per_input_byte": "ratio"}
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]

sys.path.insert(0, HERE)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest() -> str:
    files = sorted(
        glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                  recursive=True)
        + glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
        + [os.path.join(HERE, "build.sbt"),
           os.path.join(HERE, "project", "build.properties")])
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build() -> list:
    """Compiles with sbt when the sources changed; returns the classpath."""
    digest = sources_digest()
    if os.path.exists(CLASSPATH_FILE):
        with open(CLASSPATH_FILE) as fh:
            cached = json.load(fh)
        if cached.get("digest") == digest:
            return cached["classpath"]
    log("building with sbt")
    tmp = os.path.join(TARGET, "tmp")
    os.makedirs(tmp, exist_ok=True)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.server.autostart=false",
         "-Dsbt.log.noformat=true", f"-Djava.io.tmpdir={tmp}",
         "-J-XX:-UsePerfData", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("build failed")
    classpath = lines[-1].strip().split(os.pathsep)
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH_FILE, "w") as fh:
        json.dump({"digest": digest, "classpath": classpath}, fh)
    return classpath


def run_driver(classpath: list, args, data: str, work: str,
               deadline: float) -> tuple:
    """Runs the Spark driver; returns (result dict, launch epoch ms)."""
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS]
           # A fixed, pre-touched heap: peak RSS then moves with the
           # program's native memory, not with how much of the heap the
           # collector happened to touch; peak_heap_mb tracks the heap.
           + [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
              "-XX:-UsePerfData",
              f"-Djava.io.tmpdir={tmp}",
              "-Dlog4j2.level=ERROR", "-Dspark.ui.enabled=false",
              # Deep enough call sites to reach the graft frame of a job.
              "-Dspark.callstack.depth=200",
              "-cp", os.pathsep.join(classpath), "graft.perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds),
              "--trace", "1" if args.trace else "0",
              "--data", data, "--work", work, "--out", out])
    driver_log = os.path.join(work, "driver.log")
    launch_ms = time.time() * 1000
    with open(driver_log, "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                                cwd=work, start_new_session=True)
        try:
            proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise SystemExit("driver timed out")
    if proc.returncode != 0 or not os.path.exists(out):
        with open(driver_log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"driver failed with code {proc.returncode}")
    with open(out) as fh:
        return json.load(fh), launch_ms


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int,
                    help="default: run_seconds of BENCHMARK.json")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--artifact")
    ap.add_argument("--all", action="store_true")
    args = ap.parse_args()
    with open(BENCHMARK) as fh:
        contract = json.load(fh)
    args.seconds = args.seconds or contract["run_seconds"]
    if args.all:
        rc = 0
        for w in (w["name"] for w in contract["workloads"]):
            print(f"== {w}", flush=True)
            rc |= subprocess.call([sys.executable, os.path.abspath(__file__),
                                   "--workload", w, "--seed", str(args.seed),
                                   "--seconds", str(args.seconds),
                                   "--trace", "0"])
        return rc
    if not args.workload:
        ap.error("--workload or --all is required")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log("graft sources not found next to the benchmark")
        return 2
    started = time.time()
    deadline = started + RUN_TIMEOUT_S
    classpath = build()
    if time.time() - started > 30:  # a fresh build: restart the clock
        deadline = time.time() + RUN_TIMEOUT_S

    import checks
    import gen

    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    try:
        gen_s = []
        queries = args.workload != "etl-cycles"
        if queries or args.trace:
            for _ in range(GEN_REPEATS if queries and not args.trace else 1):
                t0 = time.perf_counter()
                gen.generate(data, args.seed, SF)
                gen_s.append(time.perf_counter() - t0)
        res, launch_ms = run_driver(classpath, args, data, work, deadline)
        verdicts = [(c["name"], c["ok"], c["detail"]) for c in res["checks"]]
        if queries:
            verdicts += checks.check_outputs(data, res["outputs"],
                                             res["oracles"])
        report = summarize(args, contract, res, verdicts, gen_s, launch_ms)
        if args.artifact:
            write_artifact(args.artifact, res, report)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(report))
    return 0


def summarize(args, contract: dict, res: dict, verdicts: list, gen_s: list,
              launch_ms: float) -> dict:
    bad = [v for v in verdicts if not v[1]]
    for name, ok, detail in verdicts:
        if not ok:
            log(f"check failed: {name}: {detail}")
    bad_queries = {n.split(".", 1)[1] for n, ok, _ in bad
                   if n.startswith(("output.", "oracle."))}
    attempted = res["attempted"]
    failed = sum(1 for name, ok in zip(res["op_names"], res["op_ok"])
                 if not ok or name in bad_queries)
    print(f"workload {args.workload}  seed {args.seed}  "
          f"checks {len(verdicts) - len(bad)}/{len(verdicts)} ok", flush=True)
    print("  passes " + " ".join(f"{s:.2f}" for s in res["passes"]) + " s",
          flush=True)
    print("  heap after gc " + " ".join(f"{m:.1f}" for m in res["heap_mb"])
          + " MB", flush=True)
    if args.trace:
        # A layer the workload does not run reads 0.
        metrics = {m["name"]: {"value": res["per_layer"].get(m["name"], 0.0),
                               "unit": m["unit"]}
                   for m in contract["per_layer"]}
        shown = {k: (m["value"], m["unit"]) for k, m in metrics.items()}
    else:
        e2e = dict(res["end_to_end"])
        e2e["setup_s"] = (statistics.median(gen_s) if gen_s else 0.0) + (
            res["setup_end_ms"] - launch_ms) / 1e3
        e2e["error_rate"] = failed / max(1, attempted)
        units = dict(EXTRA_UNITS, **{m["name"]: m["unit"]
                                     for m in contract["end_to_end"]})
        shown = {k: (v, units[k]) for k, v in e2e.items()}
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in contract["end_to_end"]}
    for k, (v, unit) in shown.items():
        note = res["notes"].get("op_tail", "") if k == "op_tail_s" else ""
        print(f"  {k:<34} {v:>16.4f} {unit} {note}", flush=True)
    return {"correct": not bad and failed == 0, "attempted": attempted,
            "failed": failed,
            "metrics": metrics}


def write_artifact(path: str, res: dict, report: dict) -> None:
    """Spans with self time, per-layer metrics and tracing overhead."""
    spans = res.get("spans", [])
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    self_time = {}
    for s in spans:
        dur = s["end_ms"] - s["start_ms"]
        # Children of one span may overlap (concurrent jobs): count the
        # union of their intervals.
        covered, reach = 0, s["start_ms"]
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_ms"]):
            a, b = max(c["start_ms"], reach), min(c["end_ms"], s["end_ms"])
            if b > a:
                covered += b - a
                reach = b
        agg = self_time.setdefault(s["name"], {"count": 0, "total_s": 0.0,
                                               "self_s": 0.0})
        agg["count"] += 1
        agg["total_s"] += dur / 1e3
        agg["self_s"] += (dur - covered) / 1e3
    doc = {
        "workload": res["workload"], "seed": res["seed"],
        "cores": res["cores"], "host_cpus": os.cpu_count(),
        "correct": report["correct"],
        "tracing_overhead": res["per_layer"].get("trace.overhead"),
        "per_layer": {k: m["value"] for k, m in report["metrics"].items()},
        "self_time_by_span": self_time,
        "passes": res["passes"],
        "checks": res["checks"],
        "spans": spans,
    }
    os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(doc, fh, indent=1)


if __name__ == "__main__":
    sys.exit(main())

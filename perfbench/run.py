#!/usr/bin/env python3
"""geobuf-spark benchmark: one workload, one seed, one measured window.

    python3 perfbench/run.py --workload join_tile --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The session is sized for the host (cores
from the CPU affinity mask, driver memory below physical RAM); set-up is
session start + ``jvm_codec.register`` + one untimed warm pass. Passes then
repeat until ``--seconds`` have elapsed. ``--trace 1`` alternates untraced
and traced passes and reports per-layer metrics from the traced ones.

The last stdout line is one JSON object: correct, attempted, failed and
metrics (the end-to-end metrics untraced, the per-layer metrics traced).
The line before it is the full report (every metric, the host sizing,
versions, load average, and the output checks' errors); the report, and
the spans of a traced run, are also written under ``.perfbench_runs/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import resource
import shutil
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def host_sizing() -> dict:
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_mb = next(int(line.split()[1]) // 1024 for line in f
                      if line.startswith("MemTotal:"))
    return {"cores": cores, "mem_total_mb": mem_mb,
            # a fifth of RAM, at most 3 GiB: the host is shared
            "driver_memory_mb": min(3072, mem_mb // 5),
            "shuffle_partitions": 2 * cores}


def code_identity() -> dict:
    """git HEAD when the checkout is a repository, and always a digest of
    the engine's source tree."""
    try:
        head = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        head = None
    h = hashlib.sha256()
    for p in sorted((ROOT / "geobuf_spark").rglob("*")):
        if p.is_file() and "__pycache__" not in p.parts:
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return {"git_head": head, "source_sha256": h.hexdigest()}


def rss_mb(pid: int) -> float:
    """High-water RSS of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024 / 1e6
    return 0.0


def start_session(host: dict, work: Path):
    from geobuf_spark.session import get_spark

    java_opts = (f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData "
                 "-Djava.net.preferIPv4Stack=true")
    return get_spark("perfbench", cores=host["cores"],
                     shuffle_partitions=host["shuffle_partitions"],
                     extra={"spark.driver.memory": f"{host['driver_memory_mb']}m",
                            "spark.local.dir": str(work / "local"),
                            "spark.sql.warehouse.dir": str(work / "warehouse"),
                            "spark.driver.extraJavaOptions": java_opts})


def stop_session(spark) -> None:
    """Stop Spark, then end the driver JVM and wait for it."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def measure(wl, tracer, seconds: float, trace: bool, cores: int):
    """Passes until `seconds` elapse. In a traced run odd passes are traced,
    and at least one pass of each kind is attempted."""
    from tracing import pass_layer_metrics

    untraced, traced, layers, facts = [], [], [], {}
    deadline = time.perf_counter() + seconds
    i = 0
    while time.perf_counter() < deadline or i < 1 + trace:
        tracer.enabled = trace and i % 2 == 1
        tracer.pass_id = i
        try:
            with tracer.span("pass"):
                rec = wl.run_pass()
        except Exception as e:  # a pass that breaks outside an op still counts
            wl.attempted += 1
            wl.failed += 1
            wl.errors.append(f"{wl.name}/pass: {type(e).__name__}: {e}"[:500])
            rec = None
        if rec is not None:
            (traced if tracer.enabled else untraced).append(rec)
            if tracer.enabled:
                m, f = pass_layer_metrics(tracer.finish_pass(), cores)
                layers.append(m)
                facts.update({k: v for k, v in f.items() if v is not None})
        i += 1
    tracer.enabled = False
    return untraced, traced, layers, facts


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "geobuf_spark" / "__init__.py").is_file():
        print(f"perfbench: no geobuf_spark package under {ROOT}; run it from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / f"{args.workload}-seed{args.seed}-{os.getpid()}"
    for d in ("tmp", "local", "warehouse"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    # spark-submit's launcher JVM would otherwise write under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, str(ROOT))
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: Path) -> int:
    import pyarrow
    import pyspark

    from geobuf_spark.codec import jvm_codec
    from tracing import LAYER_METRICS, Tracer
    from workloads import WORKLOADS, _median

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    host = host_sizing()
    load_start = os.getloadavg()

    t0 = time.perf_counter()
    spark = start_session(host, work)
    session_s = time.perf_counter() - t0
    try:
        t0 = time.perf_counter()
        registered = jvm_codec.register(spark)
        register_s = time.perf_counter() - t0

        tracer = Tracer(spark, args.workload)
        wl = WORKLOADS[args.workload](spark, str(work), args.seed, tracer)
        t0 = time.perf_counter()
        wl.setup_inputs()
        inputs_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.run_pass()  # untimed warm pass: fills caches, fixes the expected answer
        warm_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.setup_checks()
        checks_s = time.perf_counter() - t0
        setup_s = session_s + register_s + warm_s

        t_measure = time.perf_counter()
        untraced, traced, layers, facts = measure(wl, tracer, args.seconds,
                                                  bool(args.trace), host["cores"])
        measured_s = time.perf_counter() - t_measure

        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        peak_rss = rss_mb(jvm_pid) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss * 1024 / 1e6
        summary = wl.summary(untraced)
        end_to_end = {"setup_s": setup_s, "pass_s": summary["pass_s"],
                      "items_per_s": summary["items_per_s"]}
        summary["detail"]["peak_rss_mb"] = peak_rss
        per_layer = {}
        if args.trace:
            per_layer = {k: _median([m[k] for m in layers]) for k in LAYER_METRICS
                         if not k.startswith("trace.")}
            traced_pass = wl.summary(traced)["pass_s"]
            per_layer["trace.pass_s"] = traced_pass
            per_layer["trace.untraced_pass_s"] = summary["pass_s"]
            per_layer["trace.overhead_frac"] = traced_pass / summary["pass_s"] - 1
        correct = wl.failed == 0
        report = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "correct": correct,
            "attempted": wl.attempted, "failed": wl.failed,
            "errors_frac": wl.failed / max(wl.attempted, 1), "errors": wl.errors[:20],
            "end_to_end": end_to_end, "detail": summary["detail"],
            "per_layer": per_layer, "layer_facts": facts,
            "setup_parts_s": {"session": session_s, "register": register_s,
                              "warm_pass": warm_s, "inputs": inputs_s,
                              "checks": checks_s},
            "measured_s": measured_s,
            "passes": {"untraced": len(untraced), "traced": len(traced)},
            "pass_records": untraced + traced,
            "host": host, "jvm_codec_registered": registered,
            "versions": {"python": sys.version.split()[0], "spark": pyspark.__version__,
                         "arrow": pyarrow.__version__},
            "loadavg": {"start": load_start, "end": os.getloadavg()},
            **code_identity(),
        }
        declared = json.loads((ROOT / "BENCHMARK.json").read_text())
        declared = declared["per_layer" if args.trace else "end_to_end"]
        values = per_layer if args.trace else end_to_end
        result = {"correct": correct, "attempted": wl.attempted, "failed": wl.failed,
                  "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                              for m in declared}}
        out_dir = ROOT / ".perfbench_runs"
        out_dir.mkdir(exist_ok=True)
        stamp = time.strftime("%Y%m%dT%H%M%S")
        with open(out_dir / f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}"
                  f"-{os.getpid()}.json", "w") as f:
            json.dump({"report": report, "result": result,
                       "spans": tracer.spans if args.trace else []}, f, default=str)
        print(json.dumps({"report": report}, default=str))
        bad = [k for k, m in result["metrics"].items() if not math.isfinite(m["value"])]
        if bad:  # no pass of the needed kind succeeded
            print(f"perfbench: no value for {bad}; see the errors above", file=sys.stderr)
            return 1
        print(json.dumps(result))
        return 0
    finally:
        stop_session(spark)


if __name__ == "__main__":
    sys.exit(main())

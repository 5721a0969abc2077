#!/usr/bin/env python3
"""KG-construction benchmark: ``plans.pipeline.Pipeline.run`` over seeded
transcripts, through to the written ``t5_triples``.

    python3 kgbench/run.py --workload register --seed 1 --seconds 20 --trace 0

Run from the repository root. Each run is one process: it writes the seeded
inputs (``kgbench/inputs.py``, untimed), starts a
``local[nproc]`` session with the program's ``get_spark`` defaults, builds
the broadcast dimensions (set-up), then runs a closed loop of batches, each
``Pipeline.run`` into a fresh output root, until ``--seconds`` have passed.
Every workload's batch lasts longer than the default ``--seconds`` on a
4-core host, so each run times exactly one cold batch: the first
``Pipeline.run`` in a fresh JVM, which is the job every ``spark-submit`` of
the pipeline pays.

After the loop the session stops and DuckDB checks every batch's written
tables (``kgbench/checks.py``). A batch counts as failed if it raised or its
check found a mismatch. ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` turns the Spark UI on, wraps the program's public calls
(``kgbench/spans.py``) and reports the per-layer metrics instead.

The last stdout line is the result object; the line before it carries the
inputs, host state, session settings, per-batch walls and check results.
Scratch output goes to ``.kgbench_work/`` at the repository root.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(HERE))

import checks  # noqa: E402 — the benchmark's own modules, next to this file
import inputs  # noqa: E402
import spans as tracing  # noqa: E402

# A workload's set-up and check must never fall back to the 16g default
# heap on a host that cannot hold it; 16g needs about 1.5x that in RAM once
# Python workers and off-heap buffers are counted.
DEFAULT_HEAP_GB = 16


def mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024
    return 0.0


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def host_health(spin_seconds: float = 0.2) -> dict:
    """Single-thread spin canary (Mops/s) and load average, as in bench.py:
    a run on a busy shared host shows up as a low canary or a high load."""
    t0 = time.perf_counter()
    n = 0
    while time.perf_counter() - t0 < spin_seconds:
        for _ in range(100000):
            pass
        n += 100000
    return {
        "canary_mops": round(n / (time.perf_counter() - t0) / 1e6, 1),
        "loadavg": [round(x, 2) for x in os.getloadavg()],
    }


def configure_env(work: Path) -> dict:
    """Fit the session to the host from the outside: workers import the
    package from the checkout, scratch stays inside the work dir, and the
    heap is capped through the documented SPARK_DRIVER_MEMORY override only
    when the default cannot fit."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in [str(ROOT), os.environ.get("PYTHONPATH", "")] if p
    )
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = str(work / "spark-local")
    mem_gb = mem_total_mb() / 1024
    if "SPARK_DRIVER_MEMORY" not in os.environ and mem_gb < 1.5 * DEFAULT_HEAP_GB:
        os.environ["SPARK_DRIVER_MEMORY"] = f"{max(2, round(mem_gb / 4))}g"
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": round(mem_total_mb()),
        "driver_memory": os.environ.get("SPARK_DRIVER_MEMORY", "get_spark default"),
        "java_tmpdir": str(tmp),
    }


def live_heap_mb(sc) -> float:
    """JVM heap in use after a full collection: what the session still
    holds once the loop is done (memo caches, checkpoints, broadcasts).
    Peak RSS is recorded too, but it follows the collector's heap sizing
    more than the program and spreads ~25% between identical runs."""
    gc.collect()  # drop dead py4j proxies, which pin their JVM objects
    jvm = sc._jvm
    for _ in range(3):
        # Spark's ContextCleaner frees broadcast and checkpoint blocks
        # asynchronously after a collection finds their handles dead, so
        # collect, give it a moment, and collect again
        jvm.java.lang.System.gc()
        time.sleep(0.3)
    return jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 1e6


def dir_mb(root: Path) -> float:
    return sum(p.stat().st_size for p in root.rglob("*") if p.is_file()) / 1e6


def stop_session(spark) -> None:
    """Stop Spark and wait for the gateway JVM (which takes its Python
    workers with it) to exit."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def end_to_end(batches: list[dict], records: int, setup_s: float, heap_mb: float) -> dict:
    walls = [b["wall_s"] for b in batches]
    qual = [b["quality"]["micro"] for b in batches if "quality" in b]
    metrics = {
        "records_per_s": (records * len(walls) / sum(walls), "records/s"),
        "batch_latency_p50_s": (statistics.median(walls), "s"),
        "setup_s": (setup_s, "s"),
        "live_heap_mb": (heap_mb, "MB"),
        "written_mb": (statistics.median(b["written_mb"] for b in batches), "MB"),
        "link_precision": (statistics.median(q["precision"] for q in qual) if qual else 0.0, "ratio"),
        "link_recall": (statistics.median(q["recall"] for q in qual) if qual else 0.0, "ratio"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}


def measure(args, spec: dict, data: Path, work: Path, session_info: dict, phases: dict):
    """Set-up, the timed closed loop and (traced runs) the per-layer
    reduction, in one session that is always stopped before returning."""
    from casualty_linking_spark import dims
    from casualty_linking_spark.plans.pipeline import Pipeline
    from casualty_linking_spark.session import get_spark

    tracer = tracing.Tracer() if args.trace else None
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "true" if tracer else "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={session_info['java_tmpdir']}",
    }
    t = time.perf_counter()
    spark = get_spark(app_name=f"kgbench_{args.workload}", cores=session_info["nproc"], extra_conf=conf)
    session_s = time.perf_counter() - t
    try:
        sc = spark.sparkContext
        if tracer:
            tracer.count_py4j(sc)
        t = time.perf_counter()
        dims.broadcast_dims(spark)
        setup = {
            "session.start_s": session_s,
            "dims.build_s": time.perf_counter() - t,
            "dims.py4j_calls": tracer.py4j_calls if tracer else 0,
        }

        transcripts = spark.read.parquet(str(data / "transcripts"))
        actors = spark.read.parquet(str(data / "actors.parquet")) if spec["actors"] else None
        if tracer:
            tracer.install(sc)

        batches: list[dict] = []
        t_loop = time.perf_counter()
        while True:
            root = work / f"out{len(batches)}"
            pipe = Pipeline(spark, str(root), transcripts, actors=actors)
            t = time.perf_counter()
            ok = True
            try:
                pipe.run()
            except Exception:  # noqa: BLE001 — a failed batch is counted, not fatal
                traceback.print_exc()
                ok = False
            batches.append({"root": root, "wall_s": time.perf_counter() - t, "raised": not ok})
            if not ok or time.perf_counter() - t_loop >= args.seconds:
                break

        rss_mb = vm_hwm_mb(sc._gateway.proc.pid) + vm_hwm_mb("self")
        heap_mb = live_heap_mb(sc)
        layer = {}
        roots = [b["root"] for b in batches if not b["raised"]]
        if tracer and roots:
            con = checks.connect(roots[-1], data / "pids.parquet", spec["actors"])
            ratios = checks.linker_ratios(con, spec["actors"])
            con.close()
            layer = tracer.layer_metrics(sc, roots, ratios, setup)
    finally:
        t = time.perf_counter()
        stop_session(spark)
        phases["stop_s"] = time.perf_counter() - t
    return setup, batches, rss_mb, heap_mb, layer, tracer.spans_out() if tracer else None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        import casualty_linking_spark.plans.pipeline  # noqa: F401 — fail fast without the program
    except ImportError as e:
        print(f"kgbench: cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload not in inputs.WORKLOADS:
        print(f"kgbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    spec = inputs.WORKLOADS[args.workload]

    work = ROOT / ".kgbench_work" / args.workload
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    session_info = configure_env(work)
    host_before = host_health()

    phases = {}
    t = time.perf_counter()
    data = work / "inputs"
    input_info = inputs.generate(args.workload, args.seed, data)
    phases["inputs_s"] = time.perf_counter() - t

    pids = data / "pids.parquet"
    t = time.perf_counter()
    setup, batches, rss_mb, heap_mb, layer, span_log = measure(args, spec, data, work, session_info, phases)
    phases["session_s"] = time.perf_counter() - t

    t = time.perf_counter()
    for b in batches:
        if b["raised"]:
            continue
        b["written_mb"] = dir_mb(b["root"])
        con = checks.connect(b["root"], pids, spec["actors"])
        b["check"] = checks.output_check(con, spec["actors"], spec["edit_share"] > 0)
        b["quality"] = checks.link_quality(con, spec["actors"])
        con.close()
        b["ok"] = not any(b["check"].values()) and checks.quality_ok(b["quality"])
    failed = sum(1 for b in batches if not b.get("ok"))
    phases["check_s"] = time.perf_counter() - t

    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "inputs": input_info,
        "session": session_info,
        "host_before": host_before,
        "host_after": host_health(),
        "setup": setup,
        "phases": phases,
        "loop": "closed, one client",
        "batches": [
            {k: (str(v) if k == "root" else v) for k, v in b.items()} for b in batches
        ],
        "failed_share": failed / len(batches),
        "peak_rss_mb": rss_mb,
    }
    if span_log is not None:
        detail["spans"] = span_log
    if not failed:
        setup_s = setup["session.start_s"] + setup["dims.build_s"]
        e2e = end_to_end(batches, spec["records"], setup_s, heap_mb)
        detail["records_per_s"] = e2e["records_per_s"]["value"]
        detail["samples"] = len(batches)
    if args.trace:
        metrics = {k: {"value": v, "unit": tracing.metric_unit(k)} for k, v in layer.items()}
    else:
        metrics = e2e if not failed else {}
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(batches),
        "failed": failed,
        "metrics": metrics,
    }))
    shutil.rmtree(work, ignore_errors=True)
    try:
        work.parent.rmdir()
    except OSError:  # another workload's run still has its directory there
        pass
    return 0


if __name__ == "__main__":
    sys.exit(main())

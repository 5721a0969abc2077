#!/usr/bin/env python3
"""Paper-scale layer profile: one traced ``Pipeline.run`` over the paper's
full register (94,700 records, 473,500 transcript turns), with inputs seeded
as kgbench's ``register`` workload.

    python3 BENCH/paper_scale.py --label change [--seed 701] [--records 94700]

Run it from the checkout whose program is to be profiled (a copy of another
tree profiles that tree). It reuses kgbench by import: the input generator,
the traced run loop of ``kgbench/run.py --trace 1`` and its DuckDB checks.
The paper-scale spec is registered in kgbench's ``WORKLOADS`` at run time,
so no kgbench file changes. Each run appends one object to ``--out`` (a JSON
list): the per-layer metrics, the batch wall, and the checks. On 4 cores
(15.7 GiB, where kgbench caps the driver heap at 4 GB) a run takes about
2 minutes, a cold batch of 45-60 s of it.
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT / "kgbench"))

import checks  # noqa: E402 — kgbench's modules
import inputs  # noqa: E402
import run as kgbench  # noqa: E402

WORKLOAD = "paper_register"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--label", required=True, help="names the tree in the output")
    ap.add_argument("--seed", type=int, default=701)
    ap.add_argument("--records", type=int, default=94_700)
    ap.add_argument("--out", default=str(HERE / "PAPER_SCALE_r13.json"))
    args = ap.parse_args()

    inputs.WORKLOADS[WORKLOAD] = dict(inputs.WORKLOADS["register"], records=args.records)
    spec = inputs.WORKLOADS[WORKLOAD]
    work = ROOT / ".kgbench_work" / WORKLOAD
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    session_info = kgbench.configure_env(work)
    host_before = kgbench.host_health()
    data = work / "inputs"
    inputs.generate(WORKLOAD, args.seed, data)

    # seconds=0: the loop stops after its first (cold) batch
    run_args = argparse.Namespace(workload=WORKLOAD, seed=args.seed, seconds=0.0, trace=1)
    phases: dict = {}
    setup, batches, _, heap_mb, layer, _ = kgbench.measure(
        run_args, spec, data, work, session_info, phases
    )
    (batch,) = batches
    out = {
        "label": args.label,
        "records": args.records,
        "seed": args.seed,
        "session": {k: v for k, v in session_info.items() if k != "java_tmpdir"},
        "host_before": host_before,
        "host_after": kgbench.host_health(),
        "batch_wall_s": round(batch["wall_s"], 3),
        "raised": batch["raised"],
        "live_heap_mb": round(heap_mb, 1),
    }
    if not batch["raised"]:
        out["written_mb"] = round(kgbench.dir_mb(batch["root"]), 4)
        con = checks.connect(batch["root"], data / "pids.parquet", spec["actors"])
        out["check"] = checks.output_check(con, spec["actors"], spec["edit_share"] > 0)
        out["quality"] = checks.link_quality(con, spec["actors"])
        con.close()
        out["correct"] = not any(out["check"].values()) and checks.quality_ok(out["quality"])
    out["metrics"] = {k: round(v, 4) for k, v in layer.items()}

    path = Path(args.out)
    runs = json.loads(path.read_text()) if path.exists() else []
    runs.append(out)
    path.write_text(json.dumps(runs, indent=1) + "\n")
    print(json.dumps({k: out[k] for k in ("label", "batch_wall_s", "raised")}
                     | {k: out["metrics"].get(k) for k in
                        ("triples.exec_s", "triples.shuffle_write_mb", "pipeline.wall_s")}))
    shutil.rmtree(work, ignore_errors=True)
    return 0 if out.get("correct") else 1


if __name__ == "__main__":
    sys.exit(main())

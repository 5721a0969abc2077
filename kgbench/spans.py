"""Per-layer tracing from outside the program.

``Tracer.install`` wraps, in place, the public names ``plans.pipeline``
calls (the extract/records functions, the linkers, person linkage and
generation, the triple builders and ``storage.write_table`` /
``write_manifest``) plus ``Pipeline.run`` itself. Each wrapper records a
span (name, layer, start, end, parent, batch id, py4j calls) in memory and
tags the Spark jobs it starts with a job group named after its layer. After
the run, ``Tracer.layer_metrics`` joins the spans with the stage, job and
SQL-plan data of the Spark REST API (UI on in traced runs only) and returns
``<layer>.<metric>`` numbers.

Layers are the program's modules. Stage tables map to the layer whose
public call builds them; the transcripts copy, the metrics sidecars and the
manifests belong to ``storage``. ``persons_generate`` has no stage table of
its own (its graphs are written inside ``t5_triples``), so it reports plan
cost and rows only.
"""

from __future__ import annotations

import functools
import json
import time
import urllib.request
from pathlib import Path

STAGE_LAYER = {
    "t0_transcripts": "storage",
    "t1_mentions": "extract",
    "t2_records": "records",
    "t2_errors": "records",
    "t3_rank_links": "link_ranks",
    "t3_occupation_links": "link_occupations",
    "t3_unit_stage": "link_units",
    "t3_unit_links": "link_units",
    "t3_related_periods": "link_units",
    "t4_features": "link_persons",
    "t4_person_links": "link_persons",
    "t4_components": "link_persons",
    "t5_triples": "triples",
}
OPERATOR_LAYERS = [
    "extract", "records", "link_ranks", "link_occupations", "link_units",
    "link_persons", "persons_generate", "triples",
]
# layers with a stage table of their own get the execution metrics too
EXEC_LAYERS = [l for l in OPERATOR_LAYERS if l != "persons_generate"]
PLAN_METRICS = ["plan_s", "py4j_calls"]
EXEC_METRICS = [
    "exec_s", "catalyst_s", "jobs", "tasks", "task_cpu_s", "shuffle_write_mb",
    "spill_mb", "max_task_input_mb", "failed_tasks", "plan_exchanges",
    "plan_python_evals",
]
RATIO_METRICS = [
    "link_ranks.vocab", "link_occupations.vocab", "link_units.vocab",
    "link_ranks.match_ratio", "link_occupations.match_ratio", "link_units.match_ratio",
    "link_persons.match_ratio", "triples.dedup_ratio",
]
INFRA_METRICS = [
    "session.start_s", "dims.build_s", "dims.py4j_calls", "pipeline.wall_s",
    "pipeline.self_s", "pipeline.jobs", "storage.write_s", "storage.files",
    "storage.mb", "storage.commits", "trace.overhead_s",
]


def metric_names() -> list[str]:
    names = [f"{l}.{m}" for l in OPERATOR_LAYERS for m in PLAN_METRICS + ["rows_out"]]
    names += [f"{l}.{m}" for l in EXEC_LAYERS for m in EXEC_METRICS]
    return names + RATIO_METRICS + INFRA_METRICS


def metric_unit(name: str) -> str:
    m = name.split(".", 1)[1]
    if m.endswith("_s"):
        return "s"
    if m.endswith("_mb") or m == "mb":
        return "MB"
    if m.endswith("_ratio"):
        return "ratio"
    return "count"


# (module attribute holder, attribute name, layer) for every public name the
# pipeline resolves at call time
def _targets():
    from casualty_linking_spark.operators import extract, records
    from casualty_linking_spark.plans import pipeline, storage

    return [
        (extract, "extract_mentions", "extract"),
        (extract, "mentions_to_raw_records", "extract"),
        (records, "build_records", "records"),
        (records, "record_errors", "records"),
        (pipeline, "link_ranks", "link_ranks"),
        (pipeline, "link_occupations", "link_occupations"),
        (pipeline, "link_units", "link_units"),
        (pipeline, "casualty_features", "link_persons"),
        (pipeline, "link_persons", "link_persons"),
        (pipeline, "connected_components", "link_persons"),
        (pipeline, "generate_persons", "persons_generate"),
        (pipeline, "records_to_triples", "triples"),
        (pipeline, "union_graphs", "triples"),
        (storage, "write_manifest", "storage"),
    ]


def _stage_layer(path: str) -> str:
    p = Path(path)
    if p.parent.name == "metrics":
        return "storage"
    return STAGE_LAYER.get(p.name, "storage")


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.py4j_calls = 0
        self.batch = 0
        self.overhead_s = 0.0
        self.catalyst_s: dict[str, float] = {}
        self.union_inputs: list = []
        self.generated: list = []
        self._sc = None

    # -- instrumentation -----------------------------------------------------

    def count_py4j(self, sc) -> None:
        client = sc._gateway._gateway_client
        send = client.send_command

        def counted(command, *a, **k):
            # proxy garbage collection ("m\nd\n...") depends on when
            # Python collects, not on the program's work
            if not command.startswith("m\nd\n"):
                self.py4j_calls += 1
            return send(command, *a, **k)

        client.send_command = counted

    def _group(self, layer: str) -> None:
        self._sc.setJobGroup(layer, layer)

    def span(self, name: str, layer: str, fn, *args, **kwargs):
        parent = self._stack[-1] if self._stack else None
        self._group(layer)
        rec = {
            "name": name, "layer": layer, "parent": parent, "batch": self.batch,
            "calls0": self.py4j_calls, "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            return fn(*args, **kwargs)
        finally:
            rec["end"] = time.perf_counter()
            rec["py4j"] = self.py4j_calls - rec.pop("calls0")
            self._stack.pop()
            self._group(self.spans[parent]["layer"] if parent is not None else "untraced")

    def install(self, sc) -> None:
        from casualty_linking_spark.plans import pipeline, storage

        self._sc = sc
        for holder, attr, layer in _targets():
            fn = getattr(holder, attr)
            setattr(holder, attr, self._wrap(attr, layer, fn))

        write = storage.write_table

        @functools.wraps(write)
        def write_table(df, path, *a, **k):
            layer = _stage_layer(path)
            self._catalyst(df, layer)
            return self.span("write_table:" + Path(path).name, layer, write, df, path, *a, **k)

        storage.write_table = write_table

        run = pipeline.Pipeline.run

        @functools.wraps(run)
        def traced_run(pipe):
            self.batch += 1
            return self.span("Pipeline.run", "pipeline", run, pipe)

        pipeline.Pipeline.run = traced_run

    def _wrap(self, name: str, layer: str, fn):
        @functools.wraps(fn)
        def w(*a, **k):
            out = self.span(name, layer, fn, *a, **k)
            if name == "union_graphs":
                self.union_inputs.extend(a)
            elif name == "generate_persons":
                self.generated.extend(out.values())
            return out

        return w

    def _catalyst(self, df, layer: str) -> None:
        """Optimizer + planner time of the written plan, from its
        QueryExecution tracker. Forcing the physical plan is tracer work, so
        its wall time goes to ``trace.overhead_s``, not to a layer."""
        t = time.perf_counter()
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        ms = 0
        for ph in ("optimization", "planning"):
            opt = phases.get(ph)
            if opt.isDefined():
                ms += opt.get().durationMs()
        self.catalyst_s[layer] = self.catalyst_s.get(layer, 0.0) + ms / 1000
        self.overhead_s += time.perf_counter() - t

    # -- reduction -----------------------------------------------------------

    def spans_out(self) -> list[dict]:
        """The span log, times in seconds from the first span's start."""
        t0 = self.spans[0]["start"] if self.spans else 0.0
        return [
            {**s, "start": round(s["start"] - t0, 4), "end": round(s["end"] - t0, 4)}
            for s in self.spans
        ]

    def self_times(self) -> list[float]:
        own = [s["end"] - s["start"] for s in self.spans]
        for s in self.spans:
            if s["parent"] is not None:
                own[s["parent"]] -= s["end"] - s["start"]
        return own

    def _rest(self, sc) -> tuple[list, list, list, dict]:
        # the UI store is fed by the listener bus; drain it before reading
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        url = sc.uiWebUrl
        base = "http://127.0.0.1:" + url.rsplit(":", 1)[1] + f"/api/v1/applications/{sc.applicationId}"

        def get(path: str):
            with urllib.request.urlopen(base + path, timeout=30) as r:
                return json.load(r)

        jobs = get("/jobs")
        stages = [s for s in get("/stages") if s.get("status") in ("COMPLETE", "FAILED")]
        sql = get("/sql?details=true&planDescription=false&offset=0&length=100000")
        peaks = {}
        for s in stages:
            q = get(f"/stages/{s['stageId']}/{s['attemptId']}/taskSummary?quantiles=1.0")
            vals = [
                q.get("inputMetrics", {}).get("bytesRead", [0])[0],
                q.get("shuffleReadMetrics", {}).get("readBytes", [0])[0],
            ]
            peaks[(s["stageId"], s["attemptId"])] = max(vals)
        return jobs, stages, sql, peaks

    def layer_metrics(self, sc, roots: list[Path], ratios: dict, setup: dict) -> dict:
        m = {n: 0.0 for n in metric_names()}
        jobs, stages, sql, peaks = self._rest(sc)
        job_layer = {j["jobId"]: j.get("jobGroup") for j in jobs}
        stage_layer = {}
        for j in jobs:
            for sid in j.get("stageIds", []):
                stage_layer.setdefault(sid, j.get("jobGroup"))
        for j in jobs:
            key = f"{j.get('jobGroup')}.jobs"
            if key in m:
                m[key] += 1
        for s in stages:
            layer = stage_layer.get(s["stageId"])
            if layer not in EXEC_LAYERS:
                continue
            m[f"{layer}.tasks"] += s.get("numTasks", 0)
            m[f"{layer}.failed_tasks"] += s.get("numFailedTasks", 0)
            m[f"{layer}.task_cpu_s"] += s.get("executorCpuTime", 0) / 1e9
            m[f"{layer}.shuffle_write_mb"] += s.get("shuffleWriteBytes", 0) / 1e6
            m[f"{layer}.spill_mb"] += s.get("diskBytesSpilled", 0) / 1e6
            peak = peaks[(s["stageId"], s["attemptId"])] / 1e6
            m[f"{layer}.max_task_input_mb"] = max(m[f"{layer}.max_task_input_mb"], peak)
        for ex in sql:
            ids = ex.get("successJobIds", []) + ex.get("failedJobIds", [])
            layers = {job_layer.get(i) for i in ids} & set(EXEC_LAYERS)
            if len(layers) != 1:
                continue
            layer = layers.pop()
            for node in ex.get("nodes", []):
                name = node.get("nodeName", "")
                if name == "Exchange":
                    m[f"{layer}.plan_exchanges"] += 1
                elif name.endswith("EvalPython"):
                    m[f"{layer}.plan_python_evals"] += 1
        for layer, s in self.catalyst_s.items():
            if layer in EXEC_LAYERS:
                m[f"{layer}.catalyst_s"] += s

        own = self.self_times()
        commits = 0
        for s, t in zip(self.spans, own):
            layer = s["layer"]
            if s["name"].startswith("write_table:"):
                commits += 1
                key = f"{layer}.exec_s" if layer in EXEC_LAYERS else "storage.write_s"
                m[key] += t
            elif layer == "storage":
                m["storage.write_s"] += t
            elif layer == "pipeline":
                m["pipeline.wall_s"] += s["end"] - s["start"]
                m["pipeline.self_s"] += t
            else:
                m[f"{layer}.plan_s"] += t
                m[f"{layer}.py4j_calls"] += s["py4j"]
        for s in self.spans:
            # a nested span's calls, and the two job-group calls around it,
            # are not its parent's own
            parent = self.spans[s["parent"]]["layer"] if s["parent"] is not None else None
            if parent in OPERATOR_LAYERS:
                m[f"{parent}.py4j_calls"] -= s["py4j"] + 2
        # the tracer's own plan forcing ran inside Pipeline.run
        m["pipeline.self_s"] -= self.overhead_s
        m["trace.overhead_s"] = self.overhead_s
        m["storage.commits"] = commits

        t5 = 0
        for root in roots:
            for man in root.glob("*/_manifest.json"):
                layer = STAGE_LAYER.get(man.parent.name)
                if layer in OPERATOR_LAYERS:
                    m[f"{layer}.rows_out"] += json.loads(man.read_text())["n_rows"]
            t5 += json.loads((root / "t5_triples" / "_manifest.json").read_text())["n_rows"]
        files = [p for root in roots for p in root.rglob("*") if p.is_file()]
        m["storage.files"] = sum(1 for p in files if p.name.startswith("part-"))
        m["storage.mb"] = sum(p.stat().st_size for p in files) / 1e6

        sc.setJobGroup("trace", "trace")
        m["persons_generate.rows_out"] = sum(g.count() for g in self.generated)
        union_rows = sum(g.count() for g in self.union_inputs)
        m["triples.dedup_ratio"] = t5 / union_rows if union_rows else 0.0
        m.update(ratios)
        m.update(setup)
        return m

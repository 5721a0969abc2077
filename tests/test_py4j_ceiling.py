"""Driver round trips of the pipeline's plan construction, and the JVM-local
dimension tables.

Every py4j round trip costs the driver ~0.2 ms, and a tree of Column calls
pays one per node — tens of thousands per Pipeline.run before the operators
rendered their projections as SQL text. These counts depend only on the
code (not on the host or the data size), so they are pinned as ceilings.
Dimensions are inline VALUES tables and the person linkage cuts no
lineage, so no stage plan may scan an RDD (``Scan ExistingRDD``: Python rows
or a localCheckpoint).

A run must also leave nothing behind in the session (no cached plan), it
must write exactly the pipeline's stage tables (the input is read in place,
the records are built straight from it with no per-turn mention table, and
no stage table is a copy or a filter of another), and the linker and
person-tail stage writes are pinned by their Spark job counts, which are as
deterministic as the round trips. The components stage is one
projection of the person links, checked here against the general
connected-components operator.
"""

import functools
from collections import Counter

from casualty_linking_spark import dims, synth
from casualty_linking_spark.operators import extract, records
from casualty_linking_spark.operators.link_persons import connected_components
from casualty_linking_spark.plans import pipeline, storage

# operator call -> ceiling on its py4j round trips in one Pipeline.run, first
# and second build alike (40 records, local[8]). Measured first / second:
#
#   call                     Column trees + memos     SQL text
#   broadcast_dims                  304 / 0            64 / 64
#   extract_mentions                823 / 43           37 / 37
#   mentions_to_raw_records         605 / 95           26 / 26
#   build_records                  4238 / 508         196 / 164
#   record_errors                  1382 / 1382          8 / 8
#   link_ranks                      379 / 127          69 / 69   -> 35 / 35
#   link_occupations                445 / 427         122 / 106
#   link_units                     1821 / 605         197 / 197 -> 170 / 170
#   casualty_features               422 / 422          93 / 93
#   link_persons                   4683 / 4683        297 / 281
#   records_to_triples             4795 / 106          31 / 31
#   generate_persons              12230 / 12230       296 / 296
#   union_graphs                     21 / 21           21 / 21
#
# Every ceiling is at most the old memoized (second-build) count, except
# broadcast_dims: the per-session dimension memo is gone, and rebuilding the
# eight VALUES tables costs 64 round trips per Pipeline. Generating all eight
# person/event graphs in one projection took generate_persons to 181 / 181
# and, with one generated frame instead of eight, union_graphs to 14 / 14.
# The greedy matching as one window chain with no lineage cut took
# link_persons to 273 / 257. Resolving ranks on the dimension (no vocabulary
# pass) took link_ranks to 35 / 35; one argmax window and no dedup in path A,
# with link_units built once per run for both unit tables, took link_units
# to 170 / 170 (building it for each unit table would double that).
CEILINGS = {
    "broadcast_dims": 100,
    "extract_mentions": 43,
    "mentions_to_raw_records": 40,
    "build_records": 300,
    "record_errors": 20,
    "link_ranks": 35,
    "link_occupations": 180,
    "link_units": 170,
    "casualty_features": 140,
    "link_persons": 273,
    "records_to_triples": 60,
    "generate_persons": 200,
    "union_graphs": 14,
}


def _count_calls(spark, monkeypatch):
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    state = {"n": 0, "stack": []}
    counts: Counter = Counter()

    def counted(command, *a, **k):
        # proxy garbage collection depends on when Python collects
        if not command.startswith("m\nd\n"):
            state["n"] += 1
        return send(command, *a, **k)

    monkeypatch.setattr(client, "send_command", counted)

    def wrap(holder, name):
        fn = getattr(holder, name)

        @functools.wraps(fn)
        def w(*a, **k):
            n0 = state["n"]
            state["stack"].append(0)
            try:
                return fn(*a, **k)
            finally:
                nested = state["stack"].pop()
                own = state["n"] - n0
                counts[name] += own - nested
                if state["stack"]:
                    state["stack"][-1] += own

        monkeypatch.setattr(holder, name, w)

    for holder, names in [
        (extract, ["extract_mentions", "mentions_to_raw_records"]),
        (records, ["build_records", "record_errors"]),
        (dims, ["broadcast_dims"]),
        (pipeline, [
            "link_ranks", "link_occupations", "link_units", "casualty_features",
            "link_persons", "records_to_triples", "generate_persons", "union_graphs",
        ]),
    ]:
        for name in names:
            wrap(holder, name)
    return counts


def _capture_plans(monkeypatch) -> dict:
    plans = {}
    write = storage.write_table

    def write_table(df, path, *a, **k):
        plans[path.rstrip("/").rsplit("/", 1)[-1]] = (
            df._jdf.queryExecution().executedPlan().toString()
        )
        return write(df, path, *a, **k)

    monkeypatch.setattr(storage, "write_table", write_table)
    return plans


def _inputs(spark):
    """40 synth records' transcripts and their actors."""
    transcripts = synth.transcripts_range(spark, 40)
    spark.range(40).selectExpr("id AS pid").createOrReplaceTempView("range_pids")
    actors = spark.sql(
        "WITH " + synth.synth_sql("spark", pid_source="range_pids") + ",\n"
        + synth.actors_sql("spark") + "\nSELECT * FROM actors"
    )
    return transcripts, actors


def test_pipeline_py4j_ceilings_and_no_python_rdd_scans(spark, tmp_path, monkeypatch):
    transcripts, actors = _inputs(spark)
    counts = _count_calls(spark, monkeypatch)
    plans = _capture_plans(monkeypatch)

    builds = []
    for i in range(2):
        counts.clear()
        pipeline.Pipeline(spark, str(tmp_path / f"run{i}"), transcripts, actors=actors).run()
        builds.append(dict(counts))

    for i, build in enumerate(builds):
        assert set(build) == set(CEILINGS), build
        over = {k: (v, CEILINGS[k]) for k, v in build.items() if v > CEILINGS[k]}
        assert not over, f"build {i}: py4j round trips above ceiling: {over}"

    assert "t5_triples" in plans and "t3_rank_links" in plans, sorted(plans)
    for stage, plan in plans.items():
        assert "Scan ExistingRDD" not in plan, (stage, plan)
    # the dimensions reach the plans as JVM-local relations
    assert "LocalTableScan" in plans["t3_rank_links"], plans["t3_rank_links"]


# stage -> ceiling on the Spark jobs its build, write, read-back and metrics
# sidecar run, first and second Pipeline.run alike (40 records, local[8]).
# Measured as the person tail lost its redundant jobs:
#
#   stage           per-graph dedups,    one-pass generation,   components
#                   2-checkpoint CC,     one cut per            projected from
#                   footer inference     CC round               the matching
#   t4_components          22                   17                    1
#   t5_triples             30                   14                   14
#
# The person links were two stages, t4_features (6 jobs) and t4_person_links
# (13, counting the jobs its localCheckpoint cuts ran at the call); as one
# stage whose matching is one window chain they run 14.
#
# The linker stages: t3_rank_links ran 4 jobs with a vocabulary pass and
# runs 3 resolved on the dimension. The unit tables were a union stage
# (10 jobs) plus two filter re-writes (1 + 1); written from one link_units
# plan they run 8 (unit links) and 4 (related periods).
JOB_CEILINGS = {
    "t3_rank_links": 3,
    "t3_unit_links": 8,
    "t3_related_periods": 4,
    "t4_person_links": 14,
    "t4_components": 1,
    "t5_triples": 14,
}
# a run with actors writes these and nothing else (besides metrics/)
STAGE_TABLES = [
    "t2_errors", "t2_records", "t3_occupation_links", "t3_rank_links",
    "t3_related_periods", "t3_unit_links", "t4_components", "t4_person_links", "t5_triples",
]


def test_pipeline_leaves_no_cache_and_stage_jobs_under_ceilings(spark, tmp_path, monkeypatch):
    transcripts, actors = _inputs(spark)
    sc = spark.sparkContext
    stage = pipeline.Pipeline._stage
    groups = []

    def grouped(pipe, name, *a, **k):
        group = f"{pipe.root}:{name}"
        groups.append((name, group))
        sc.setJobGroup(group, name)
        try:
            return stage(pipe, name, *a, **k)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    monkeypatch.setattr(pipeline.Pipeline, "_stage", grouped)
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    jobs = []
    for i in range(2):
        groups.clear()
        root = tmp_path / f"run{i}"
        pipeline.Pipeline(spark, str(root), transcripts, actors=actors).run()
        assert sorted(p.name for p in root.iterdir()) == ["metrics"] + STAGE_TABLES
        tracker = sc.statusTracker()
        jobs.append({n: len(tracker.getJobIdsForGroup(g)) for n, g in groups})
        # nothing the run built outlives it in the session
        assert cache.isEmpty(), f"run {i} left cached plans in the session"

    for i, run in enumerate(jobs):
        over = {k: (run[k], c) for k, c in JOB_CEILINGS.items() if run[k] > c}
        assert not over, f"run {i}: Spark jobs above ceiling: {over} (all stages: {run})"


def test_closed_form_components_equal_the_general_operator(spark, tmp_path):
    """t4_components is projected from the person links, which are a
    matching; over the written links it must equal the general operator."""
    transcripts, actors = _inputs(spark)
    root = tmp_path / "run"
    pipeline.Pipeline(spark, str(root), transcripts, actors=actors).run()
    links = spark.read.parquet(str(root / "t4_person_links"))
    assert links.count() > 0
    got = sorted(spark.read.parquet(str(root / "t4_components")).collect())
    want = sorted(connected_components(links.selectExpr("subj AS src", "obj AS dst")).collect())
    assert got == want

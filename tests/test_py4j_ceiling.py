"""Driver round trips of the pipeline's plan construction, and the JVM-local
dimension tables.

Every py4j round trip costs the driver ~0.2 ms, and a tree of Column calls
pays one per node — tens of thousands per Pipeline.run before the operators
rendered their projections as SQL text. These counts depend only on the
code (not on the host or the data size), so they are pinned as ceilings.
Dimensions are inline VALUES tables, so no stage plan may scan an RDD of
Python rows (``Scan ExistingRDD``); the only such scans left are the
localCheckpoint lineage cuts of person linkage.
"""

import functools
from collections import Counter

from casualty_linking_spark import dims, synth
from casualty_linking_spark.operators import extract, records
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
#   link_ranks                      379 / 127          69 / 69
#   link_occupations                445 / 427         122 / 106
#   link_units                     1821 / 605         197 / 197
#   casualty_features               422 / 422          93 / 93
#   link_persons                   4683 / 4683        297 / 281
#   records_to_triples             4795 / 106          31 / 31
#   generate_persons              12230 / 12230       296 / 296
#   union_graphs                     21 / 21           21 / 21
#
# Every ceiling is at most the old memoized (second-build) count, except
# broadcast_dims: the per-session dimension memo is gone, and rebuilding the
# eight VALUES tables costs 64 round trips per Pipeline.
CEILINGS = {
    "broadcast_dims": 100,
    "extract_mentions": 43,
    "mentions_to_raw_records": 40,
    "build_records": 300,
    "record_errors": 20,
    "link_ranks": 100,
    "link_occupations": 180,
    "link_units": 300,
    "casualty_features": 140,
    "link_persons": 450,
    "records_to_triples": 60,
    "generate_persons": 450,
    "union_graphs": 21,
}
# person linkage cuts its lineage with localCheckpoint: three matching rounds
# in the links, the star rounds of connected components
CHECKPOINT_STAGES = {"t4_person_links", "t4_components"}


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


def test_pipeline_py4j_ceilings_and_no_python_rdd_scans(spark, tmp_path, monkeypatch):
    transcripts = synth.transcripts_range(spark, 40)
    spark.range(40).selectExpr("id AS pid").createOrReplaceTempView("range_pids")
    actors = spark.sql(
        "WITH " + synth.synth_sql("spark", pid_source="range_pids") + ",\n"
        + synth.actors_sql("spark") + "\nSELECT * FROM actors"
    )
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
        if stage not in CHECKPOINT_STAGES:
            assert "Scan ExistingRDD" not in plan, (stage, plan)
    # the dimensions reach the plans as JVM-local relations
    assert "LocalTableScan" in plans["t3_rank_links"], plans["t3_rank_links"]

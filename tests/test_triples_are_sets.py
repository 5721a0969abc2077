"""t5_triples is the plain union of the pipeline's graphs: no dedup and no
shuffle over them. That is sound only if every graph is a set and no two
graphs share a triple. This checks both, and the keys each graph's set
property rests on, on 40 synth records with actors (so person links and
generated persons and events are all present)."""

from collections import Counter

from casualty_linking_spark import dims, namespaces as NS, synth
from casualty_linking_spark.plans import pipeline, storage


def _one_per(rows: list, col: str) -> bool:
    vals = [r[col] for r in rows]
    return len(vals) == len(set(vals))


def test_t5_graphs_are_disjoint_sets_and_t5_does_not_shuffle(spark, tmp_path, monkeypatch):
    handed = []
    append = pipeline.append_graphs

    def capture(*graphs, additions=None):
        handed.extend(graphs)
        return append(*graphs, additions=additions)

    monkeypatch.setattr(pipeline, "append_graphs", capture)
    plans = {}
    write = storage.write_table

    def write_table(df, path, *a, **k):
        plans[path.rstrip("/").rsplit("/", 1)[-1]] = (
            df._jdf.queryExecution().executedPlan().toString()
        )
        return write(df, path, *a, **k)

    monkeypatch.setattr(storage, "write_table", write_table)

    root = tmp_path / "run"
    transcripts = synth.transcripts_range(spark, 40)
    actors = synth.actors_range(spark, 40)
    t5 = pipeline.Pipeline(spark, str(root), transcripts, actors=actors).run()

    # the graphs in the order Pipeline.run hands them over; the generated
    # frame holds eight graphs, told apart by graph_kind
    names = ["casualties", "rank_links", "occupation_links", "unit_links", "periods",
             "person_links", "generated"]
    assert len(handed) == len(names)
    graphs: dict[str, list[tuple]] = {}
    for name, g in zip(names, handed):
        for r in g.select("subj", "pred", "obj", "graph_kind").collect():
            kind = f"generated {r.graph_kind}" if name == "generated" else name
            graphs.setdefault(kind, []).append(tuple(r)[:3])
    generated = ["persons", "documents_links", "births", "deaths", "disappearances",
                 "woundings", "promotions", "joinings"]
    assert set(graphs) == set(names[:-1]) | {f"generated {k}" for k in generated}, sorted(graphs)

    # within a graph: as many rows as distinct (subj, pred, obj)
    for kind, rows in graphs.items():
        assert rows, kind
        dup = [k for k, n in Counter(rows).items() if n > 1]
        assert not dup, (kind, dup[:3])
    # across graphs: no triple in two of them
    seen: dict[tuple, str] = {}
    for kind, rows in graphs.items():
        for k in rows:
            assert k not in seen, (k, seen.get(k), kind)
            seen[k] = kind
    assert t5.count() == len(seen)

    # the keys the set property rests on
    t2 = spark.read.parquet(str(root / "t2_records")).select("record_uri").collect()
    assert _one_per(t2, "record_uri")
    assert _one_per(dims.dim_municipalities(spark).select("mun_uri").collect(), "mun_uri")
    assert _one_per(dims.dim_cemeteries(spark).select("cem_uri").collect(), "cem_uri")
    # one link per record: one rank per label, one occupation per literal,
    # complementary unit paths, one period triple, a matching
    for stage in ["t3_rank_links", "t3_occupation_links", "t3_unit_links",
                  "t3_related_periods", "t4_person_links"]:
        rows = spark.read.parquet(str(root / stage)).collect()
        assert rows and _one_per(rows, "subj"), stage
    assert _one_per(spark.read.parquet(str(root / "t4_person_links")).collect(), "obj")
    # the generated links cover only the records the person links leave out
    linked = {s for s, _, _ in graphs["person_links"]}
    assert not linked & {s for s, _, _ in graphs["generated documents_links"]}
    # every other generated subject is minted per record and graph, outside
    # the records' namespace
    for kind in set(generated) - {"documents_links"}:
        subjects = {s for s, _, _ in graphs[f"generated {kind}"]}
        assert all(s.startswith((NS.ACTORS, NS.EVENTS_NS)) for s in subjects), kind

    plan = plans["t5_triples"]
    assert "hashpartitioning(subj" not in plan, plan

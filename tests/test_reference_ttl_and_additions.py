"""S5 against the REAL reference fixture files (not mirrors): the Turtle
subset reader must parse /root/reference/input/*.ttl exactly — counts
cross-checked against an independent text-level census — and round-trip
through the N-Triples writer. Plus the cas_additions merge hook
(reference process.sh:17) on Pipeline.run.
"""

import os

import pytest
from pyspark.sql import functions as F

REF_INPUT = "/root/reference/input"

needs_reference = pytest.mark.skipif(
    not os.path.isdir(REF_INPUT), reason="reference inputs not present"
)


@needs_reference
def test_real_old_municipalities_parses(spark):
    """632 Municipality entities + 1 extra subject, 2446 triples, 513 georss
    points, 632 @fi prefLabels (census: grep-level counts over the raw
    file)."""
    from casualty_linking_spark.sources.ttl import RDF_TYPE, read_turtle_blocks

    t = read_turtle_blocks(spark, f"{REF_INPUT}/old_municipalities.ttl").cache()
    assert t.count() == 2446
    assert t.select("subj").distinct().count() == 633
    assert t.filter(F.col("pred") == "http://www.georss.org/georss/point").count() == 513
    pl = t.filter(F.col("pred") == "http://www.w3.org/2004/02/skos/core#prefLabel")
    assert pl.filter(F.col("lang") == "fi").count() == 632
    assert (
        t.filter(
            (F.col("pred") == RDF_TYPE)
            & (F.col("obj") == "http://ldf.fi/schema/warsa/casualties/Municipality")
        ).count()
        == 632
    )
    # every parsed term is well-formed: URIs absolute, no unexpanded prefixes
    assert t.filter(F.col("subj").rlike("^https?://")).count() == 2446
    assert t.filter((F.col("obj_type") == "uri") & ~F.col("obj").rlike("^https?://")).count() == 0
    t.unpersist()


@needs_reference
def test_real_schema_base_parses_and_expands_prefixes(spark):
    from casualty_linking_spark.sources.ttl import RDF_TYPE, read_turtle_blocks

    t = read_turtle_blocks(spark, f"{REF_INPUT}/schema_base.ttl").cache()
    assert t.count() == 40
    assert t.select("subj").distinct().count() == 13
    rows = {
        (r.pred, r.obj, r.lang)
        for r in t.filter(F.col("subj") == "http://ldf.fi/schema/warsa/Citizenship").collect()
    }
    assert rows == {
        (
            "http://www.w3.org/2000/01/rdf-schema#subClassOf",
            "http://www.w3.org/2004/02/skos/core#Concept",
            None,
        ),
        ("http://www.w3.org/2004/02/skos/core#prefLabel", "Citizenship", "en"),
        ("http://www.w3.org/2004/02/skos/core#prefLabel", "Kansalaisuus", "fi"),
    }
    # 'a' shorthand expanded on the rdf:Property subjects
    assert t.filter((F.col("pred") == RDF_TYPE)
                    & (F.col("obj") == "http://www.w3.org/1999/02/22-rdf-syntax-ns#Property")).count() == 6
    t.unpersist()


@needs_reference
def test_real_cas_additions_parses_and_roundtrips(spark, tmp_path):
    from casualty_linking_spark.sources.ttl import read_ntriples, read_turtle_blocks, write_ttl

    t = read_turtle_blocks(spark, f"{REF_INPUT}/cas_additions.ttl").cache()
    assert t.count() == 10
    assert t.select("subj").distinct().count() == 5
    buried = t.filter(F.col("pred") == "http://ldf.fi/schema/warsa/casualties/buried_in")
    assert buried.count() == 5
    assert {r.obj for r in buried.collect()} == {"http://ldf.fi/warsa/places/cemeteries/h0847_2"}
    # round-trip: TTL-subset parse -> N-Triples serialize -> N-Triples parse
    path = str(tmp_path / "additions_nt")
    write_ttl(t.withColumn("graph_kind", F.lit("casualties")), path)
    back = read_ntriples(spark, path)
    cols = ["subj", "pred", "obj", "obj_type", "lang", "datatype"]
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in t.select(*cols).collect()}
    t.unpersist()


@needs_reference
def test_real_municipalities_roundtrip_counts(spark, tmp_path):
    """write_ttl(read_turtle_blocks(x)) re-read gives the identical triple
    set — 2446 triples, georss literals and @fi tags intact."""
    from casualty_linking_spark.sources.ttl import read_ntriples, read_turtle_blocks, write_ttl

    t = read_turtle_blocks(spark, f"{REF_INPUT}/old_municipalities.ttl")
    path = str(tmp_path / "muns_nt")
    write_ttl(t.withColumn("graph_kind", F.lit("dims")), path)
    back = read_ntriples(spark, path).cache()
    assert back.count() == 2446
    # 633 @fi literals = 632 wcsc:Municipality prefLabels + the
    # municipality_ontology concept-scheme header's own label
    assert back.filter(F.col("lang") == "fi").count() == 633
    sample = back.filter(
        F.col("subj") == "http://ldf.fi/warsa/casualties/municipalities/k0004"
    )
    got = {(r.pred, r.obj) for r in sample.collect()}
    assert ("http://www.georss.org/georss/point", "59.82361111111111 22.968055555555555") in got
    assert ("http://www.w3.org/2004/02/skos/core#prefLabel", "Hanko") in got
    back.unpersist()


def test_pipeline_additions_merge(spark, tmp_path):
    """Pipeline(additions=...) unions curated triples into t5 with set
    semantics (graph_kind defaulted to 'casualties'), and the additions'
    identity is part of t5's fingerprint: same additions -> resume (no
    rewrite), changed additions -> t5 rebuilds."""
    from casualty_linking_spark import synth
    from casualty_linking_spark.plans import storage
    from casualty_linking_spark.plans.pipeline import Pipeline

    transcripts = synth.transcripts_range(spark, 40)
    add_rows = [
        ("http://x/p1", "http://ldf.fi/schema/warsa/casualties/buried_in",
         "http://x/cem1", "uri", None, None),
        ("http://x/p1", "http://www.w3.org/2004/02/skos/core#note",
         "lisätty käsin", "literal", "fi", None),
    ]
    schema = "subj string, pred string, obj string, obj_type string, lang string, datatype string"
    additions = spark.createDataFrame(add_rows, schema)

    root = str(tmp_path / "pipe")
    t5 = Pipeline(spark, root, transcripts, additions=additions).run()
    merged = t5.filter(F.col("subj") == "http://x/p1")
    assert merged.count() == 2
    assert {r.graph_kind for r in merged.collect()} == {"casualties"}

    man1 = storage.read_manifest(f"{root}/t5_triples")
    # resume: identical additions -> identical fingerprint, stage read back
    Pipeline(spark, root, transcripts, additions=additions).run()
    assert storage.read_manifest(f"{root}/t5_triples")["fingerprint"] == man1["fingerprint"]

    # changed additions -> new fingerprint, t5 rebuilt with the new triple
    additions2 = spark.createDataFrame(
        add_rows + [("http://x/p2", "http://ldf.fi/schema/warsa/casualties/buried_in",
                     "http://x/cem2", "uri", None, None)],
        schema,
    )
    t5b = Pipeline(spark, root, transcripts, additions=additions2).run()
    assert storage.read_manifest(f"{root}/t5_triples")["fingerprint"] != man1["fingerprint"]
    assert t5b.filter(F.col("subj") == "http://x/p2").count() == 1


def test_pipeline_resume_rebuilds_what_a_new_input_reaches(spark, tmp_path, monkeypatch):
    """On one root, a stage is read back exactly when nothing it reads
    changed: identical inputs read back every stage; a new actors table
    rebuilds the person links, their components and the triples while the
    records and the t3 links are read back; new transcripts rebuild every
    stage. A stale read-back here would keep links to actors that are gone."""
    from casualty_linking_spark import synth
    from casualty_linking_spark.plans import pipeline, storage

    written: set[str] = set()
    write = storage.write_table

    def recording(df, path, *a, **k):
        written.add(path.rstrip("/").rsplit("/", 1)[-1])
        return write(df, path, *a, **k)

    monkeypatch.setattr(storage, "write_table", recording)
    root = str(tmp_path / "pipe")

    def run(transcripts, actors) -> set[str]:
        written.clear()
        pipeline.Pipeline(spark, root, transcripts, actors=actors).run()
        return set(written)

    transcripts = synth.transcripts_range(spark, 40)
    actors = synth.actors_range(spark, 40)
    every = {
        "t2_records", "t2_errors", "t3_rank_links", "t3_occupation_links",
        "t3_unit_links", "t3_related_periods", "t4_person_links", "t4_components",
        "t5_triples",
    }
    assert run(transcripts, actors) == every
    assert run(transcripts, actors) == set()

    # half the actors: only what reads the actors is rebuilt
    fewer = actors.where("pmod(xxhash64(actor_uri), 2) = 0")
    kept = {r.actor_uri for r in fewer.select("actor_uri").collect()}
    assert run(transcripts, fewer) == {"t4_person_links", "t4_components", "t5_triples"}
    links = spark.read.parquet(f"{root}/t4_person_links").collect()
    assert links and {r.obj for r in links} <= kept

    assert run(synth.transcripts_range(spark, 30), fewer) == every


def test_additions_identity_is_content_based(spark, tmp_path):
    """The additions fingerprint must hash CONTENT even for file-backed
    sources: the curated Turtle file is hand-edited in place, so its file
    list never changes — a metadata-only identity would silently resume a
    stale t5 after an edit."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from casualty_linking_spark import synth
    from casualty_linking_spark.plans.pipeline import Pipeline

    p = str(tmp_path / "add.parquet")
    rows = {
        "subj": ["http://x/p1"], "pred": ["http://p"], "obj": ["o1"],
        "obj_type": ["literal"], "lang": [None], "datatype": [None],
    }
    pq.write_table(pa.table(rows), p)
    pipe = Pipeline(spark, str(tmp_path / "root"), synth.transcripts_range(spark, 5))
    df1 = spark.read.parquet(p)
    meta1 = pipe._input_identity(df1)
    content1 = pipe._input_identity(df1, content=True)

    # in-place edit: identical file list, different triple
    rows["obj"] = ["o2"]
    pq.write_table(pa.table(rows), p)
    df2 = spark.read.parquet(p)
    assert pipe._input_identity(df2) == meta1  # metadata identity is blind...
    assert pipe._input_identity(df2, content=True) != content1  # ...content is not

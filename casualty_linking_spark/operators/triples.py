"""T5 — triple materialization and graph-algebra primitives.

The rdflib Graph IR of the reference becomes the triples DataFrame
(seven columns, see schema.py). Graph union-with-dedup (src/linker.py:208,
src/person_generator.py:221-228) is ``union_graphs``; the union of graphs
that are sets by construction, with only curated additions deduplicated, is
``append_graphs``; pattern removal
(src/linker.py:95-96, src/process.py:100,105) is ``remove_pattern``;
the direct URI-object rewrites of src/process.py:22-43 are
``fix_by_direct_uri_mappings``. Row→triples unpivot (map_row_to_rdf,
src/csv_to_rdf.py:36-92) is a single explode over a struct array — one
scan, zero joins except the broadcast cemetery existence check
(src/csv_to_rdf.py:112-114).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .. import namespaces as NS
from ..dims import GRAVEYARD_MAPPING, URI_MAPPINGS
from ..schema import TRIPLE_COLS
from ..sqltext import case_map, lit

XSD_DATE = NS.XSD + "date"
XSD_INTEGER = NS.XSD + "integer"

# (record column, predicate URI, kind) — kind: uri | literal | int | date
PROPERTY_SPEC = [
    ("family_name", NS.warsa("family_name"), "literal"),
    ("given_names", NS.warsa("given_names"), "literal"),
    ("pref_label", NS.SKOS_PREF_LABEL, "literal"),
    ("marital_uri", NS.warsa("marital_status"), "uri"),
    ("gender_uri", NS.warsa("gender"), "uri"),
    ("citizenship_uri", NS.warsa("citizenship"), "uri"),
    ("nationality_uri", NS.warsa("nationality"), "uri"),
    ("mother_tongue_uri", NS.warsa("mother_tongue"), "uri"),
    ("number_of_children", NS.warsa("number_of_children"), "int"),
    ("occupation_literal", NS.warsa("occupation_literal"), "literal"),
    ("rank_literal", NS.cas("rank_literal"), "literal"),
    ("unit_code", NS.cas("unit_code"), "literal"),
    ("unit_literal", NS.cas("unit_literal"), "literal"),
    ("date_of_birth", NS.warsa("date_of_birth"), "date"),
    ("municipality_of_birth", NS.cas("municipality_of_birth"), "uri"),
    ("municipality_of_domicile", NS.cas("municipality_of_domicile"), "uri"),
    ("municipality_of_residence", NS.cas("municipality_of_residence"), "uri"),
    ("date_of_wounding", NS.warsa("date_of_wounding"), "date"),
    ("municipality_of_wounding", NS.cas("municipality_of_wounding"), "uri"),
    ("place_of_wounding", NS.warsa("place_of_wounding"), "literal"),
    ("date_of_going_mia", NS.warsa("date_of_going_mia"), "date"),
    ("municipality_of_going_mia", NS.cas("municipality_of_going_mia"), "uri"),
    ("place_of_going_mia_literal", NS.warsa("place_of_going_mia_literal"), "literal"),
    ("date_of_death", NS.warsa("date_of_death"), "date"),
    ("municipality_of_death", NS.cas("municipality_of_death"), "uri"),
    ("place_of_death_literal", NS.warsa("place_of_death_literal"), "literal"),
    ("perishing_uri", NS.cas("perishing_category"), "uri"),
    ("municipality_of_burial", NS.cas("municipality_of_burial"), "uri"),
    ("place_of_burial_number", NS.cas("place_of_burial_number"), "literal"),
    ("additional_information", NS.cas("additional_information"), "literal"),
]

DEATH_RECORD_TYPE = NS.warsa("DeathRecord")

def _entry(pred: str, obj: str, obj_type: str, datatype: str = "CAST(NULL AS STRING)") -> str:
    """One unpivot entry (Spark SQL text): NULL when ``obj`` is null."""
    return (
        f"CASE WHEN isnotnull({obj}) THEN struct({lit(pred)} AS pred, {obj} AS obj, "
        f"{lit(obj_type)} AS obj_type, CAST(NULL AS STRING) AS lang, {datatype} AS datatype) END"
    )


def _entries() -> str:
    """The unpivot of one silver record as an array of (pred, obj, obj_type,
    lang, datatype) structs, nulls dropped — one expression, so the whole
    unpivot crosses to the JVM in one call."""
    entries = []
    for col, pred, kind in PROPERTY_SPEC:
        if kind == "uri":
            entries.append(_entry(pred, col, "uri"))
        elif kind == "literal":
            entries.append(_entry(pred, f"nullif({col}, '')", "literal"))
        elif kind == "int":
            entries.append(_entry(pred, f"CAST({col} AS STRING)", "literal", lit(XSD_INTEGER)))
        elif kind == "date":
            obj = f"coalesce(date_format({col}, 'yyyy-MM-dd'), {col}_str)"
            dt = f"CASE WHEN {col} IS NOT NULL THEN {lit(XSD_DATE)} END"
            entries.append(_entry(pred, obj, "literal", dt))

    # graveyard_number kept only when the URI was not resolved against the
    # ontology (reference removes it otherwise, src/csv_to_rdf.py:119).
    entries.append(_entry(
        NS.cas("graveyard_number"),
        "CASE WHEN NOT coalesce(gy_exists, FALSE) THEN graveyard_number END",
        "literal",
    ))
    # buried_in only for existing cemetery URIs with numeric graveyard number
    # (src/csv_to_rdf.py:116-117).
    entries.append(_entry(
        NS.warsa("buried_in"),
        "CASE WHEN coalesce(gy_exists, FALSE) AND graveyard_number RLIKE '^[0-9]+$' THEN gy_uri END",
        "uri",
    ))
    # rdf:type DeathRecord (src/csv_to_rdf.py:82)
    entries.append(_entry(NS.RDF_TYPE, lit(DEATH_RECORD_TYPE), "uri"))
    return f"array_compact(array({', '.join(entries)}))"


# graveyard URI h{code}_{n} minted from the burial municipality, with the two
# overrides of GRAVEYARD_MAPPING applied
_GY_URI = case_map(
    "CASE WHEN municipality_of_burial IS NOT NULL AND graveyard_number IS NOT NULL THEN "
    f"concat({lit(NS.CEMETERIES + 'h')}, regexp_extract(municipality_of_burial, '/k([^/]*)$', 1), "
    "'_', graveyard_number) END",
    GRAVEYARD_MAPPING,
)
_ENTRIES = _entries()


def records_to_triples(records: DataFrame, cemeteries_dim: DataFrame, graph_kind: str = "casualties") -> DataFrame:
    """Wide silver record -> long (subj, pred, obj) rows (P1 unpivot) plus the
    graveyard URI construction/validation (P11, src/csv_to_rdf.py:94-121)."""
    # graveyard handling: mint h{code}_{n} URI, apply the two overrides,
    # existence-check against the cemeteries dimension (broadcast join;
    # gy_exists is NULL for a URI the dimension lacks).
    cems = cemeteries_dim.selectExpr("cem_uri AS gy_uri", "TRUE AS gy_exists")
    recs = records.selectExpr("*", f"{_GY_URI} AS gy_uri").join(F.broadcast(cems), "gy_uri", "left")
    return recs.selectExpr(
        "record_uri AS subj",
        f"inline({_ENTRIES})",
        f"{lit(graph_kind)} AS graph_kind",
    )


def union_graphs(*graphs: DataFrame) -> DataFrame:
    """Graph union with RDF set semantics (U1): unionByName + dedup on
    (subj, pred, obj)."""
    return append_graphs(*graphs).dropDuplicates(TRIPLE_COLS)


def append_graphs(*graphs: DataFrame, additions: DataFrame | None = None) -> DataFrame:
    """Graph union of sets that share no triple (U1 without the shuffle):
    unionByName only, so each graph's rows are written as they are
    partitioned. The caller vouches that every graph is a set and that no
    two overlap (``Pipeline.run``'s graphs are, by their keys).

    ``additions`` (curated triples, which may repeat one another or a
    computed triple) is the one input deduplicated: ``dropDuplicates`` over
    the additions alone, then every addition already in the graphs is
    dropped. The graphs stream once through a broadcast left-semi join on
    the additions' (subj, pred, obj), and the additions left-anti those
    hits, so both joins are the size of the additions and the graphs never
    shuffle. An addition repeating a computed triple loses to the computed
    row (its ``graph_kind`` and annotations win)."""
    out = graphs[0]
    for g in graphs[1:]:
        out = out.unionByName(g, allowMissingColumns=True)
    if additions is None:
        return out
    add = additions.dropDuplicates(TRIPLE_COLS)
    hits = out.join(F.broadcast(add.select(TRIPLE_COLS)), TRIPLE_COLS, "left_semi")
    new = add.join(F.broadcast(hits.select(TRIPLE_COLS)), TRIPLE_COLS, "left_anti")
    return out.unionByName(new, allowMissingColumns=True)


def remove_pattern(graph: DataFrame, pred: str | None = None, obj: str | None = None) -> DataFrame:
    """graph.remove((None, pred, obj)) as a filter (U3)."""
    cond = F.lit(True)
    if pred is not None:
        cond = cond & (F.col("pred") == pred)
    if obj is not None:
        cond = cond & (F.col("obj") == obj)
    return graph.filter(~cond)


def fix_by_direct_uri_mappings(graph: DataFrame) -> DataFrame:
    """Rewrite the five known-bad object values across the whole graph
    (src/process.py:22-43) — a chained CASE, no join needed for 5 constants."""
    obj = F.col("obj")
    for bad, good in URI_MAPPINGS:
        obj = F.when(obj == bad, F.lit(good)).otherwise(obj)
    return graph.withColumn("obj", obj).dropDuplicates(TRIPLE_COLS)


def unique_value_violations(graph: DataFrame, pred: str) -> DataFrame:
    """A5 — the reference's graph.value(s, p, any=False) raises
    UniquenessError on duplicate values (src/linker.py:48-62); as dataflow
    this is an audit aggregation: subjects with >1 object for ``pred`` land
    in the quarantine output instead of raising."""
    return (
        graph.filter(F.col("pred") == pred)
        .groupBy("subj")
        .agg(F.count(F.lit(1)).alias("n_values"), F.sort_array(F.collect_set("obj")).alias("values"))
        .filter(F.col("n_values") > 1)
    )


def documents_links(graph: DataFrame, inverse_links: DataFrame) -> DataFrame:
    """J8 (reference src/tasks.py:17-44): for each DeathRecord lacking a
    crm:P70_documents link, look up persons carrying the inverse
    crm:P70i_is_documented_in and emit the forward link. Left-anti on the
    already-linked set, then an equi-join on the inverse table — the
    reference's per-record SPARQL probe becomes one batched join."""
    P70 = NS.CRM + "P70_documents"
    P70I = NS.CRM + "P70i_is_documented_in"
    death_records = subjects_by_po(graph, NS.RDF_TYPE, DEATH_RECORD_TYPE)
    already = graph.filter(F.col("pred") == P70).select("subj")
    unlinked = death_records.join(already, "subj", "left_anti")
    inv = inverse_links.filter(F.col("pred") == P70I).select(
        F.col("obj").alias("subj"), F.col("subj").alias("person")
    )
    return unlinked.join(inv, "subj").select(
        "subj",
        F.lit(P70).alias("pred"),
        F.col("person").alias("obj"),
        F.lit("uri").alias("obj_type"),
        F.lit(None).cast("string").alias("lang"),
        F.lit(None).cast("string").alias("datatype"),
        F.lit("documents_links").alias("graph_kind"),
    )


def subjects_by_po(graph: DataFrame, pred: str, obj: str) -> DataFrame:
    """graph[:pred:obj] subject scan (SURVEY §2.8)."""
    return graph.filter((F.col("pred") == pred) & (F.col("obj") == obj)).select("subj")


def upsert_triples(
    base: DataFrame,
    delta: DataFrame,
    functional_preds: tuple[str, ...] = (),
    broadcast_delta_keys: bool = True,
) -> DataFrame:
    """Incremental graph maintenance: merge a correction/enrichment batch
    into an existing graph without a read-modify-write of the whole store.

    Non-functional predicates accumulate with RDF set semantics (the
    ``union_graphs`` dedup: base and delta may overlap). Predicates in
    ``functional_preds`` are single-valued: a delta assertion for
    (subj, pred) REPLACES every base triple with that (subj, pred) — the
    latest batch wins, which is how the reference's curated-additions edit
    cycle behaves for corrected literals (process.sh:17 re-runs the merge
    with the fixed value, it never keeps both).

    Scale posture: the overwrite leg is a left_anti on (subj, pred) where
    the right side is the delta's distinct key set — a correction batch is
    tiny next to the store, so it broadcasts (``broadcast_delta_keys``);
    the union leg is scan+dedup. Nothing collects; base is read once.
    """
    if functional_preds:
        keys = (
            delta.filter(F.col("pred").isin(list(functional_preds)))
            .select("subj", "pred")
            .distinct()
        )
        if broadcast_delta_keys:
            keys = F.broadcast(keys)
        base = base.join(keys, ["subj", "pred"], "left_anti")
    return union_graphs(base, delta)


def validity_intervals(versions: DataFrame) -> DataFrame:
    """SCD2 history reconstruction for functional predicates: given every
    asserted value of single-valued predicates across correction batches —
    rows of (subj, pred, obj, batch_seq) — emit one validity row per
    version: the batch it became true in (``valid_from``), the batch that
    superseded it (``valid_to``, NULL while still current), and an
    ``is_current`` flag. ``upsert_triples`` answers "what is the graph
    now?"; this answers "what did the graph say, when?" — the audit-trail
    face of the reference's curated-edit cycle (process.sh:17 re-runs), kept
    as data instead of being destroyed by each overwrite.

    One window over (subj, pred) ordered by batch_seq — a single shuffle on
    the entity key, per-group state of one row (``lead``). No joins, no
    collects; at 100 TB the version log is append-only and partitioned by
    batch, and this runs as one pass over it."""
    from pyspark.sql import Window

    w = Window.partitionBy("subj", "pred").orderBy("batch_seq")
    nxt = F.lead("batch_seq").over(w)
    return versions.select(
        "subj",
        "pred",
        "obj",
        F.col("batch_seq").cast("int").alias("valid_from"),
        nxt.cast("int").alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


def dangling_objects(graph: DataFrame, known_uris: DataFrame | None = None) -> DataFrame:
    """Referential-integrity audit — the pre-publish check of a KG build:
    distinct URI objects that are never defined as a subject in the graph
    and are absent from the known-entity whitelist (the ontology dims the
    pipeline links against). Output per dangling URI: reference count and a
    deterministic example predicate (min).

    Scale posture: one scan of the graph for the reference side (map-side
    combined groupBy on obj), one column-pruned scan for the subject set;
    the whitelist is an ontology dim, so it broadcasts. No collects."""
    refs = (
        graph.filter(F.col("obj_type") == "uri")
        .groupBy("obj")
        .agg(F.count("*").alias("n_refs"), F.min("pred").alias("example_pred"))
    )
    defined = graph.select(F.col("subj").alias("obj")).distinct()
    out = refs.join(defined, "obj", "left_anti")
    if known_uris is not None:
        wl = known_uris.select(F.col(known_uris.columns[0]).alias("obj")).distinct()
        out = out.join(F.broadcast(wl), "obj", "left_anti")
    return out


def graph_diff(new: DataFrame, old: DataFrame) -> DataFrame:
    """Triple-level diff between two graph versions: rows of ``new`` absent
    from ``old`` tagged op='added', rows of ``old`` absent from ``new``
    tagged op='removed'. Identity is the (subj, pred, obj) set — the same
    set semantics every union in this module keeps — so annotation-only
    rows never spuriously diff. The audit counterpart of the curated-
    additions merge (reference process.sh:17): what did this batch's edit
    actually change? Both sides are anti-joins on the triple key — fully
    distributed, no collect, AQE-splittable."""
    key = ["subj", "pred", "obj"]
    added = new.join(old.select(key), key, "left_anti").withColumn("op", F.lit("added"))
    removed = old.join(new.select(key), key, "left_anti").withColumn("op", F.lit("removed"))
    return added.unionByName(removed)


def constraint_violations(
    graph: DataFrame, functional: list[str], required: list[str]
) -> DataFrame:
    """SHACL-style validation: max-cardinality-1 on ``functional`` predicates
    (sh:maxCount 1) and per-subject presence of every ``required`` predicate
    (sh:minCount 1). Returns (subj, pred, kind, n) with kind in
    {'cardinality', 'missing'}. The per-(subj, pred) distinct-object rollup
    computes ONCE (localCheckpoint — it is bounded by the graph's distinct
    (subj, pred) pairs, far smaller than the triple store) and feeds both
    shapes; constraint lists are literal broadcast frames, so the store is
    scanned once and shuffled once regardless of how many shapes run.
    Whole-graph declarative lift of the reference's per-record validator
    chain (src/validators.py)."""
    spark = graph.sparkSession
    counts = (
        graph.groupBy("subj", "pred")
        .agg(F.countDistinct("obj").alias("n"))
        .localCheckpoint(eager=True)
    )
    func_df = spark.createDataFrame([(p,) for p in functional], "pred string")
    req_df = spark.createDataFrame([(p,) for p in required], "pred string")
    card = (
        counts.join(F.broadcast(func_df), "pred")
        .filter(F.col("n") > 1)
        .select("subj", "pred", F.lit("cardinality").alias("kind"), F.col("n"))
    )
    subs = counts.select("subj").distinct()
    miss = (
        subs.crossJoin(F.broadcast(req_df))
        .join(counts.select("subj", "pred"), ["subj", "pred"], "left_anti")
        .select(
            "subj", "pred", F.lit("missing").alias("kind"), F.lit(0).cast("long").alias("n")
        )
    )
    return card.unionByName(miss)

"""Driver-contract queries: each entry pairs a Spark callable
(spark, sf_dir) -> DataFrame with an equivalent DuckDB oracle SQL string
(run by the driver side-by-side at sf=0.01, CORRECTNESS_r{N}.json).

Both sides start from the same deterministic pid stream (customer.c_custkey)
through synth.py. The Spark side runs the real operators; the oracle is an
independent re-computation: pure SQL where expressible (joins, window argmax,
date-repair expression chains) and literal expected-value CASE tables
(rendered at import time by the scalar reference-mirror functions in
functions/names.py) where ANSI SQL cannot express the semantics
(Python title-casing).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import dims, namespaces as NS, synth
from .functions.dates import duckdb_convert_date_exprs
from .functions.names import unify_family_py, unify_given_py
from .functions.similarity import (
    duckdb_ascii_fold,
    duckdb_levenshtein_ratio,
    duckdb_phonetic_key,
)
from .operators import extract, records as REC
from .operators.link_municipalities import link_municipalities
from .operators.link_occupations import link_occupations
from .operators.link_ranks import link_ranks
from .operators.link_units import link_units
from .operators.persons_generate import generate_persons
from .operators.triples import records_to_triples, union_graphs

# ---------------------------------------------------------------------------
# shared builders
# ---------------------------------------------------------------------------


_SILVER_CACHE: dict[tuple[int, str], DataFrame] = {}


def build_silver(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T0->T2 silver records; memoized + persisted per (session, sf_dir) so
    the many per-query invocations share one materialization."""
    key = (id(spark), sf_dir)
    if key not in _SILVER_CACHE:
        # First lineage cut at the transcripts boundary: without it
        # CollapseProject inlines the giant synthetic CASE `text` expression
        # into each of the 30 regexp_extract mention columns — a ~30x
        # expression-tree blowup the optimizer then walks (measured over half
        # the silver build wall at sf0.1). A real deployment reads transcripts
        # from a table, which is the same cut for free.
        t = synth.transcripts_from_sf(spark, sf_dir).localCheckpoint(eager=True)
        rec = REC.build_records(extract.mentions_to_raw_records(extract.extract_mentions(t)))
        # Second cut after the silver build: the converter trees are large,
        # and without the cut Catalyst re-optimizes them for EVERY derived
        # query — measured ~60s/plan at sf0.01. In the production pipeline
        # the same cut is the T2 table materialization (plans/pipeline.py).
        _SILVER_CACHE[key] = rec.localCheckpoint(eager=True)
    return _SILVER_CACHE[key]


def _case20(values: list[str]) -> str:
    return synth._case_over_mod("pid", values)


def _expected_family_sql() -> str:
    """Unified family name as a literal CASE over pid — expected values
    computed by the scalar mirror of the reference rules (title-casing is not
    ANSI-SQL-expressible)."""
    n = len(synth.FAMILIES)
    base = synth.FAMILIES
    typo = [f[0] + ("A" if f[1] == "U" else "U") + f[2:] for f in base]
    dirt_typo = _case20([unify_family_py(f) for f in typo])
    dirt0 = _case20([unify_family_py(f.replace("O", "0")) for f in base])
    dirt1 = _case20([unify_family_py(f"{base[i]} ENT. {base[(i + 3) % n]}") for i in range(n)])
    dirt2 = _case20([unify_family_py(f"{base[i]}%{base[(i + 3) % n]}") for i in range(n)])
    clean = _case20([unify_family_py(f) for f in base])
    return (
        f"CASE WHEN pid % 31 = 7 THEN {dirt_typo} "
        f"WHEN pid % 11 = 2 THEN {dirt0} WHEN pid % 7 = 1 THEN {dirt1} "
        f"WHEN pid % 29 = 13 THEN {dirt2} ELSE {clean} END"
    )


def _expected_given_sql() -> str:
    return synth._case_over_mod("pid", [unify_given_py(g) for g in synth.GIVENS])


def _enum_expected_sql(keys: list[str], kind: str, expr: str) -> str:
    ns, table = dims.CODE_TABLES[kind]
    vals = [ns + table.get(k if k else None, table[None]) for k in keys]
    return synth._case_over_mod(expr, vals)


def _fixed_rank_sql() -> str:
    return (
        "CASE WHEN sotarvo = 'Alipuseeri' THEN 'Aliupseeri' "
        "WHEN sotarvo = 'Alikers' THEN 'Alikersantti' ELSE nullif(sotarvo, '') END"
    )


_SUBJ_SQL = "'http://ldf.fi/warsa/casualties/p' || CAST(pid AS VARCHAR)"

_BIRTH_DATE, _BIRTH_STR = duckdb_convert_date_exprs("saika")
_DEATH_DATE, _DEATH_STR = duckdb_convert_date_exprs("kuolinaika")
_DEATH_CMP = f"coalesce(CAST(({_DEATH_DATE}) AS VARCHAR), {_DEATH_STR})"
_WOUND_DATE, _WOUND_STR = duckdb_convert_date_exprs("haavaika")
_WOUND_CMP = f"coalesce(CAST(({_WOUND_DATE}) AS VARCHAR), {_WOUND_STR})"
_MIA_DATE, _MIA_STR = duckdb_convert_date_exprs("katoaika")
_MIA_CMP = f"coalesce(CAST(({_MIA_DATE}) AS VARCHAR), {_MIA_STR})"
# x_stripper + urify over the sparse municipality codes ('' -> NULL -> no URI)
_WOUND_MUN = f"'{REC.MUNICIPALITY_PREFIX}' || nullif(haavkunta, '')"
_MIA_MUN = f"'{REC.MUNICIPALITY_PREFIX}' || nullif(katokunta, '')"


# ---------------------------------------------------------------------------
# q: silver records
# ---------------------------------------------------------------------------

SILVER_COLS = [
    "person_id", "record_uri", "family_name", "given_names", "pref_label",
    "marital_uri", "gender_uri", "citizenship_uri", "nationality_uri",
    "mother_tongue_uri", "perishing_uri", "number_of_children",
    "occupation_literal", "rank_literal", "unit_code", "unit_literal",
    "municipality_of_birth", "municipality_of_death", "municipality_of_burial",
    "date_of_birth", "date_of_birth_str", "date_of_death", "date_of_death_str",
    "municipality_of_wounding", "place_of_wounding",
    "date_of_wounding", "date_of_wounding_str",
    "municipality_of_going_mia", "place_of_going_mia_literal",
    "date_of_going_mia", "date_of_going_mia_str", "place_of_death_literal",
    "graveyard_number", "place_of_burial_number", "additional_information",
]


def q_records_silver(spark: SparkSession, sf_dir: str) -> DataFrame:
    return build_silver(spark, sf_dir).select(*SILVER_COLS)


def q_streaming_silver(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 streaming ingest under the batch oracle: transcripts land as
    parquet files, a Structured Streaming availableNow run (file-source
    offsets + checkpoint, exactly-once) extracts mentions incrementally,
    and the streamed T1 output is collapsed to silver records. The oracle
    is the batch SQL — identical rows proves incremental == batch."""
    import tempfile

    from .streaming.ingest import stream_mentions

    tmp = tempfile.mkdtemp(prefix="kg_streaming_silver_")
    inp, outp, ckpt = f"{tmp}/in", f"{tmp}/mentions", f"{tmp}/ckpt"
    synth.transcripts_from_sf(spark, sf_dir).write.mode("overwrite").parquet(inp)
    stream_mentions(spark, inp, outp, ckpt, available_now=True).awaitTermination()
    mentions = spark.read.parquet(outp)
    rec = REC.build_records(extract.mentions_to_raw_records(mentions))
    return rec.select(*SILVER_COLS)


def oracle_records_silver() -> str:
    fam = _expected_family_sql()
    giv = _expected_given_sql()
    mun_pref = REC.MUNICIPALITY_PREFIX
    sel = f"""
SELECT
  pid AS person_id,
  {_SUBJ_SQL} AS record_uri,
  {fam} AS family_name,
  {giv} AS given_names,
  ({fam}) || ', ' || ({giv}) AS pref_label,
  {_enum_expected_sql(synth.MARITAL_KEYS, "marital", "pid")} AS marital_uri,
  {_enum_expected_sql(synth.GENDER_KEYS, "gender", "pid + 1")} AS gender_uri,
  {_enum_expected_sql(synth.CITIZEN_KEYS, "citizenship", "pid + 2")} AS citizenship_uri,
  {_enum_expected_sql(synth.CITIZEN_KEYS, "nationality", "pid + 2")} AS nationality_uri,
  {_enum_expected_sql(synth.LANGUAGE_KEYS, "language", "pid")} AS mother_tongue_uri,
  {_enum_expected_sql(synth.PERISHING_KEYS, "perishing", "pid")} AS perishing_uri,
  CASE WHEN pid % 13 IN (6, 7) THEN NULL ELSE CAST(pid % 6 AS INT) END AS number_of_children,
  lower(ammatti) AS occupation_literal,
  {_fixed_rank_sql()} AS rank_literal,
  nullif(joskoodi, '') AS unit_code,
  nullif(trim(josnimi), '') AS unit_literal,
  '{mun_pref}' || skunta AS municipality_of_birth,
  '{mun_pref}' || kuolinkunta AS municipality_of_death,
  '{mun_pref}' || hkunta AS municipality_of_burial,
  {_BIRTH_DATE} AS date_of_birth,
  {_BIRTH_STR} AS date_of_birth_str,
  {_DEATH_DATE} AS date_of_death,
  {_DEATH_STR} AS date_of_death_str,
  {_WOUND_MUN} AS municipality_of_wounding,
  nullif(haavpaikka, '') AS place_of_wounding,
  {_WOUND_DATE} AS date_of_wounding,
  {_WOUND_STR} AS date_of_wounding_str,
  {_MIA_MUN} AS municipality_of_going_mia,
  nullif(katopaikka, '') AS place_of_going_mia_literal,
  {_MIA_DATE} AS date_of_going_mia,
  {_MIA_STR} AS date_of_going_mia_str,
  nullif(kuolinpaikka, '') AS place_of_death_literal,
  nullif(hmaa, '') AS graveyard_number,
  nullif(hpaikka, '') AS place_of_burial_number,
  CASE WHEN vapaa_paikkatieto IS NULL OR vapaa_paikkatieto = '' THEN NULL
       WHEN instr('kuolemanrangaistus', lower(vapaa_paikkatieto)) > 0
         OR instr('teloitettu', lower(vapaa_paikkatieto)) > 0
         OR instr('ammuttu', lower(vapaa_paikkatieto)) > 0 THEN NULL
       ELSE vapaa_paikkatieto END AS additional_information
FROM records"""
    return synth.oracle_prelude() + sel


# ---------------------------------------------------------------------------
# q: quarantine errors
# ---------------------------------------------------------------------------

def q_record_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    rec = build_silver(spark, sf_dir)
    return REC.record_errors(rec).select("person_id", "name", "column", "error", "value")


def oracle_record_errors() -> str:
    def err_block(col: str, tgt_date: str, tgt_str: str, after: str, before: str) -> str:
        # the raw value column: planted absent fields are '' in the records
        # CTE but NULL after extraction (nullif at extract time)
        raw = f"nullif({col.lower()}, '')"
        return f"""
SELECT CAST(pid AS VARCHAR) AS person_id,
  concat_ws(' ', nullif(snimi, ''), nullif(given_raw, '')) AS name,
  '{col}' AS "column",
  CASE WHEN ({tgt_str}) IS NOT NULL AND substr({tgt_str}, 1, 2) != 'xx' THEN 'Päivämäärä ei ole kelvollinen'
       WHEN ({tgt_date}) IS NOT NULL AND ({tgt_date}) < DATE '{after}' THEN 'Päivämäärä liian varhainen'
       WHEN ({tgt_date}) IS NOT NULL AND ({tgt_date}) > DATE '{before}' THEN 'Päivämäärä liian myöhäinen'
       END AS error,
  {raw} AS value
FROM records"""

    before_death = REC.DEATH_DATE_BEFORE.isoformat()
    blocks = [
        err_block("SAIKA", _BIRTH_DATE, _BIRTH_STR, "1860-01-01", "1935-01-01"),
        err_block("HAAVAIKA", _WOUND_DATE, _WOUND_STR, "1939-11-28", "1945-04-25"),
        err_block("KATOAIKA", _MIA_DATE, _MIA_STR, "1939-11-28", "1945-04-25"),
        err_block("KUOLINAIKA", _DEATH_DATE, _DEATH_STR, "1939-11-30", before_death),
    ]
    unions = " UNION ALL ".join(f"({b})" for b in blocks)
    return synth.oracle_prelude() + f"SELECT * FROM ({unions}) WHERE error IS NOT NULL"


# ---------------------------------------------------------------------------
# q: rank links
# ---------------------------------------------------------------------------

def q_link_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    rec = build_silver(spark, sf_dir)
    return link_ranks(rec, dims.dim_rank_labels(spark)).select("subj", "pred", "obj")


def oracle_link_ranks() -> str:
    sel = f"""
SELECT subj, pred, obj FROM (
  SELECT {_SUBJ_SQL} AS subj,
         '{NS.cas("rank")}' AS pred,
         rank_uri AS obj,
         row_number() OVER (PARTITION BY pid ORDER BY is_pref DESC, rank_uri ASC) AS rn
  FROM (SELECT pid, {_fixed_rank_sql()} AS rank_literal FROM records) r
  JOIN rank_labels ON lower(trim(r.rank_literal)) = lower(label)
) WHERE rn = 1"""
    return synth.oracle_prelude([dims.rank_labels_cte()]) + sel


# ---------------------------------------------------------------------------
# q: occupation links (Jaro-Winkler >= 0.88)
# ---------------------------------------------------------------------------

def q_link_occupations(spark: SparkSession, sf_dir: str) -> DataFrame:
    rec = build_silver(spark, sf_dir)
    return link_occupations(rec, dims.dim_occupations(spark)).select("subj", "pred", "obj")


def _occ_link_scored_sql() -> str:
    """Inner occupation-candidate SELECT (first-char block, jw >= 0.88,
    deterministic argmax rn) — the ONE copy of the linking semantics, shared
    by oracle_link_occupations and oracle_link_pr."""
    return """SELECT pid, occ_uri,
      row_number() OVER (
        PARTITION BY pid
        ORDER BY jaro_winkler_similarity(lower(ammatti), label) DESC, occ_uri ASC
      ) AS rn
    FROM records JOIN occupations ON substr(lower(ammatti), 1, 1) = substr(label, 1, 1)
    WHERE jaro_winkler_similarity(lower(ammatti), label) >= 0.88"""


def oracle_link_occupations() -> str:
    sel = f"""
SELECT {_SUBJ_SQL} AS subj, '{NS.BIOC}has_occupation' AS pred, occ_uri AS obj
FROM ({_occ_link_scored_sql()}) WHERE rn = 1"""
    return synth.oracle_prelude([dims.occupations_cte()]) + sel


# ---------------------------------------------------------------------------
# q: unit links (path A cover join + path B n-gram) and related periods
# ---------------------------------------------------------------------------

def q_link_units(spark: SparkSession, sf_dir: str) -> DataFrame:
    rec = build_silver(spark, sf_dir)
    links, _ = link_units(rec, dims.dim_unit_labels(spark))
    return links.select("subj", "pred", "obj")


def q_related_periods(spark: SparkSession, sf_dir: str) -> DataFrame:
    rec = build_silver(spark, sf_dir)
    _, period = link_units(rec, dims.dim_unit_labels(spark))
    return period.select("subj", "pred", "obj")


def _unit_common_ctes() -> list[str]:
    from .operators.link_units import ABBREVIATIONS, MAX_NGRAM

    # NB: DuckDB string literals do NOT process backslash escapes, so the
    # regex metachars go in verbatim ('\b', '\s').
    def abbrev_expand(expr: str) -> str:
        for pat, repl in ABBREVIATIONS:
            pat_sql = pat.replace("'", "''")
            expr = f"regexp_replace({expr}, '\\b{pat_sql}\\b', '{repl}', 'g')"
        return expr

    raw_literal = "nullif(trim(josnimi), '')"
    prep = f"trim(regexp_replace({abbrev_expand(raw_literal)}, '\\s+', ' ', 'g'))"
    # label side of the path-B join matches on BOTH the raw-normalized and
    # the abbreviation-expanded key (mirrors operators/link_units.py dim_b)
    label_norm_raw = "lower(regexp_replace(u.label, '[,./\\s]', '', 'g'))"
    label_norm_exp = f"lower(regexp_replace({abbrev_expand('u.label')}, '[,./\\s]', '', 'g'))"

    score = duckdb_levenshtein_ratio(
        duckdb_ascii_fold("label"), duckdb_ascii_fold("unit_literal")
    )
    return [
        f"""recs2 AS (
  SELECT pid, nullif(joskoodi, '') AS unit_code, nullif(trim(josnimi), '') AS unit_literal,
         {prep} AS prep, {_DEATH_CMP} AS death_cmp
  FROM records)""",
        f"""bestA AS (
  SELECT pid, unit_uri, score, row_number() OVER (PARTITION BY pid ORDER BY score DESC, unit_uri ASC) AS rn
  FROM (
    SELECT r.pid, u.unit_uri, max({score}) AS score
    FROM recs2 r JOIN unit_labels u ON r.unit_code = u.cover_number
    GROUP BY r.pid, u.unit_uri
  ))""",
        """pathB AS (
  SELECT r.pid, r.prep, r.death_cmp FROM recs2 r
  LEFT JOIN (SELECT pid, score FROM bestA WHERE rn = 1) b ON r.pid = b.pid
  WHERE r.unit_code IS NULL OR b.score IS NULL OR b.score < 20)""",
        """tokens AS (
  SELECT pid, death_cmp, string_split_regex(prep, '\\s+') AS t
  FROM pathB WHERE prep IS NOT NULL AND prep != '')""",
        f"""grams AS (
  SELECT pid, death_cmp,
         array_to_string(t[i : i + n - 1], ' ') AS ngram
  FROM (
    SELECT pid, death_cmp, t, n, unnest(generate_series(1, len(t) - n + 1)) AS i
    FROM tokens, (SELECT unnest(generate_series(1, {MAX_NGRAM})) AS n) g WHERE len(t) >= n
  ))""",
        f"""bestB AS (
  SELECT pid, unit_uri, row_number() OVER (
    PARTITION BY pid
    ORDER BY (u.conflict = CASE WHEN death_cmp < '1941-06-25' THEN '{NS.WINTER_WAR}' ELSE '{NS.CONTINUATION_WAR}' END) DESC,
             length(lower(regexp_replace(ngram, '[,./\\s]', '', 'g'))) DESC,
             unit_uri ASC) AS rn
  FROM grams g JOIN unit_labels u
    ON lower(regexp_replace(g.ngram, '[,./\\s]', '', 'g')) IN ({label_norm_raw}, {label_norm_exp}))""",
    ]


def oracle_link_units() -> str:
    sel = f"""
SELECT DISTINCT subj, pred, obj FROM (
  SELECT {_SUBJ_SQL} AS subj, '{NS.cas("unit")}' AS pred, unit_uri AS obj
  FROM bestA WHERE rn = 1 AND score >= 20
  UNION ALL
  SELECT {_SUBJ_SQL} AS subj, '{NS.cas("unit")}' AS pred, unit_uri AS obj
  FROM bestB WHERE rn = 1
)"""
    return synth.oracle_prelude([dims.unit_labels_cte()] + _unit_common_ctes()) + sel


def oracle_related_periods() -> str:
    sel = f"""
SELECT {_SUBJ_SQL} AS subj, '{NS.RELATED_PERIOD}' AS pred, '{NS.WINTER_WAR}' AS obj
FROM pathB WHERE death_cmp < '1941-06-25'"""
    return synth.oracle_prelude([dims.unit_labels_cte()] + _unit_common_ctes()) + sel


# ---------------------------------------------------------------------------
# q: municipality linking (J5/J6)
# ---------------------------------------------------------------------------

def q_link_municipalities(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = dims.dim_municipalities(spark).select("mun_uri", "label")
    out = link_municipalities(
        base, dims.dim_pnr_labels(spark), dims.dim_warsa_labels(spark)
    )
    return out.select(
        "mun_uri", "label", "current_municipality", "wartime_municipality", "preferred_municipality"
    )


def oracle_link_municipalities() -> str:
    sel = """
SELECT m.mun_uri, m.label,
       p.pnr_uri AS current_municipality,
       w.warsa_uri AS wartime_municipality,
       coalesce(w.warsa_uri, p.pnr_uri, m.mun_uri) AS preferred_municipality
FROM (SELECT mun_uri, label FROM municipalities) m
LEFT JOIN pnr_labels p ON lower(m.label) = lower(p.label)
LEFT JOIN warsa_labels w ON lower(m.label) = lower(w.label)"""
    return (
        "WITH "
        + ",\n".join(
            [dims.municipalities_cte(), dims.pnr_labels_cte(), dims.warsa_labels_cte()]
        )
        + sel
    )


# ---------------------------------------------------------------------------
# q: full triples unpivot (P1 + P11 graveyards) and schema graph (G10)
# ---------------------------------------------------------------------------

def q_triples_casualties(spark: SparkSession, sf_dir: str) -> DataFrame:
    rec = build_silver(spark, sf_dir)
    return records_to_triples(rec, dims.dim_cemeteries(spark)).select(
        "subj", "pred", "obj", "obj_type", "datatype"
    )


def q_streaming_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 incremental triple materialization under the batch oracle:
    conversation-complete transcript files stream through a foreachBatch
    T0->T5 build into a batch-partitioned store (16 files, 4 per trigger ->
    4 micro-batches on every host — the r4 multi-batch lesson). The oracle
    is the BATCH unpivot SQL: identical triples proves incremental == batch."""
    import tempfile

    from .streaming.ingest import stream_triples

    tmp = tempfile.mkdtemp(prefix="kg_streaming_triples_")
    inp, store, ckpt = f"{tmp}/in", f"{tmp}/store", f"{tmp}/ckpt"
    synth.transcripts_from_sf(spark, sf_dir).repartition(16, "conv_id").write.mode(
        "overwrite"
    ).parquet(inp)
    stream_triples(spark, inp, store, ckpt, dims.dim_cemeteries(spark)).awaitTermination()
    return spark.read.parquet(store).select("subj", "pred", "obj", "obj_type", "datatype")


def q_graph_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audit diff of a simulated curation batch: the edited graph drops all
    rank_literal triples and stamps a cas:diff_checked marker per record
    subject; graph_diff against the original must report exactly those
    triples as removed / the markers as added."""
    from .operators.triples import graph_diff, remove_pattern

    rec = build_silver(spark, sf_dir)
    g = records_to_triples(rec, dims.dim_cemeteries(spark)).select(
        "subj", "pred", "obj", "obj_type", "datatype"
    )
    markers = g.select("subj").distinct().select(
        "subj",
        F.lit(NS.cas("diff_checked")).alias("pred"),
        F.lit("true").alias("obj"),
        F.lit("literal").alias("obj_type"),
        F.lit(None).cast("string").alias("datatype"),
    )
    edited = remove_pattern(g, pred=NS.cas("rank_literal")).unionByName(markers)
    return graph_diff(edited, g).select("op", "subj", "pred", "obj", "obj_type", "datatype")


def oracle_graph_diff() -> str:
    base = oracle_triples_casualties()
    rank_pred = NS.cas("rank_literal")
    marker_pred = NS.cas("diff_checked")
    return f"""WITH cas AS MATERIALIZED ({base})
SELECT 'added' AS op, subj, '{marker_pred}' AS pred, 'true' AS obj,
       'literal' AS obj_type, CAST(NULL AS VARCHAR) AS datatype
FROM (SELECT DISTINCT subj FROM cas)
UNION ALL
SELECT 'removed' AS op, subj, pred, obj, obj_type, datatype
FROM cas WHERE pred = '{rank_pred}'"""


def q_graph_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental correction batch merged into the casualty graph: subjects
    in a deterministic ~1/16 md5 sample get their rank_literal corrected
    ('korjattu-' prefix — functional overwrite, latest batch wins) plus an
    additive cas:reviewed_by marker; every other triple passes through
    untouched. The store is read once; the tiny delta key set broadcasts."""
    from .operators.triples import upsert_triples

    rec = build_silver(spark, sf_dir)
    g = records_to_triples(rec, dims.dim_cemeteries(spark)).select(
        "subj", "pred", "obj", "obj_type", "datatype"
    )
    rank_pred = NS.cas("rank_literal")
    sel = g.filter((F.col("pred") == rank_pred) & F.md5("subj").startswith("0"))
    corrected = sel.select(
        "subj",
        "pred",
        F.concat(F.lit("korjattu-"), F.col("obj")).alias("obj"),
        "obj_type",
        "datatype",
    )
    markers = sel.select("subj").distinct().select(
        "subj",
        F.lit(NS.cas("reviewed_by")).alias("pred"),
        F.lit("era-batch-2").alias("obj"),
        F.lit("literal").alias("obj_type"),
        F.lit(None).cast("string").alias("datatype"),
    )
    merged = upsert_triples(
        g, corrected.unionByName(markers), functional_preds=(rank_pred,)
    )
    return merged.select("subj", "pred", "obj", "obj_type", "datatype")


def oracle_graph_upsert() -> str:
    base = oracle_triples_casualties()
    rank_pred = NS.cas("rank_literal")
    marker_pred = NS.cas("reviewed_by")
    return f"""WITH cas AS MATERIALIZED ({base}),
sel AS (SELECT * FROM cas WHERE pred = '{rank_pred}' AND md5(subj) LIKE '0%')
SELECT DISTINCT subj, pred, obj, obj_type, datatype FROM (
  SELECT subj, pred, obj, obj_type, datatype FROM cas
  WHERE NOT (pred = '{rank_pred}' AND subj IN (SELECT subj FROM sel))
  UNION ALL
  SELECT subj, pred, 'korjattu-' || obj AS obj, obj_type, datatype FROM sel
  UNION ALL
  SELECT DISTINCT subj, '{marker_pred}' AS pred, 'era-batch-2' AS obj,
         'literal' AS obj_type, CAST(NULL AS VARCHAR) AS datatype FROM sel
)"""


def q_dangling_objects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-publish referential-integrity audit of the casualty graph: URI
    objects that are neither defined as subjects nor present in any ontology
    dim the pipeline links against (codes, municipalities, cemeteries, the
    schema type). What survives is exactly the minted municipality URIs whose
    raw codes the ontology doesn't know — the rows a curator must triage."""
    from .operators.triples import DEATH_RECORD_TYPE, dangling_objects

    rec = build_silver(spark, sf_dir)
    g = records_to_triples(rec, dims.dim_cemeteries(spark))
    known = (
        dims.dim_codes(spark).select("uri")
        .unionByName(dims.dim_municipalities(spark).select(F.col("mun_uri").alias("uri")))
        .unionByName(dims.dim_cemeteries(spark).select(F.col("cem_uri").alias("uri")))
        .unionByName(spark.createDataFrame([(DEATH_RECORD_TYPE,)], "uri string"))
    )
    return dangling_objects(g, known).select("obj", "n_refs", "example_pred")


def oracle_dangling_objects() -> str:
    from .operators.triples import DEATH_RECORD_TYPE

    base = oracle_triples_casualties()
    ctes = ",\n".join([dims.codes_cte(), dims.municipalities_cte(), dims.cemeteries_cte()])
    return f"""WITH cas AS MATERIALIZED ({base}),
{ctes},
known AS (
  SELECT uri FROM codes
  UNION SELECT mun_uri FROM municipalities
  UNION SELECT cem_uri FROM cemeteries
  UNION SELECT '{DEATH_RECORD_TYPE}'
  UNION SELECT DISTINCT subj FROM cas
)
SELECT obj, count(*) AS n_refs, min(pred) AS example_pred
FROM cas WHERE obj_type = 'uri' AND obj NOT IN (SELECT uri FROM known)
GROUP BY obj"""


def oracle_triples_casualties() -> str:
    """Expected unpivot: one SELECT per property (wide->long), the graveyard
    URI construction + existence semi-join, and the type triple."""
    from .operators.triples import DEATH_RECORD_TYPE, XSD_DATE, XSD_INTEGER

    fam = _expected_family_sql()
    giv = _expected_given_sql()
    mun_pref = REC.MUNICIPALITY_PREFIX
    xd, xi = f"'{XSD_DATE}'", f"'{XSD_INTEGER}'"

    def lit_(e):  # plain literal
        return (e, "literal", "NULL")

    def uri_(e):
        return (e, "uri", "NULL")

    props = {
        NS.warsa("family_name"): lit_(fam),
        NS.warsa("given_names"): lit_(giv),
        NS.SKOS_PREF_LABEL: lit_(f"({fam}) || ', ' || ({giv})"),
        NS.warsa("marital_status"): uri_(_enum_expected_sql(synth.MARITAL_KEYS, "marital", "pid")),
        NS.warsa("gender"): uri_(_enum_expected_sql(synth.GENDER_KEYS, "gender", "pid + 1")),
        NS.warsa("citizenship"): uri_(_enum_expected_sql(synth.CITIZEN_KEYS, "citizenship", "pid + 2")),
        NS.warsa("nationality"): uri_(_enum_expected_sql(synth.CITIZEN_KEYS, "nationality", "pid + 2")),
        NS.warsa("mother_tongue"): uri_(_enum_expected_sql(synth.LANGUAGE_KEYS, "language", "pid")),
        NS.warsa("number_of_children"): (
            "CASE WHEN pid % 13 IN (6, 7) THEN NULL ELSE CAST(pid % 6 AS VARCHAR) END",
            "literal", xi,
        ),
        NS.warsa("occupation_literal"): lit_("lower(ammatti)"),
        NS.cas("rank_literal"): lit_(_fixed_rank_sql()),
        NS.cas("unit_code"): lit_("nullif(joskoodi, '')"),
        NS.cas("unit_literal"): lit_("nullif(trim(josnimi), '')"),
        NS.warsa("date_of_birth"): (
            f"coalesce(CAST(({_BIRTH_DATE}) AS VARCHAR), {_BIRTH_STR})", "literal",
            f"CASE WHEN ({_BIRTH_DATE}) IS NOT NULL THEN {xd} END",
        ),
        NS.cas("municipality_of_birth"): uri_(f"'{mun_pref}' || skunta"),
        NS.warsa("date_of_wounding"): (
            _WOUND_CMP, "literal",
            f"CASE WHEN ({_WOUND_DATE}) IS NOT NULL THEN {xd} END",
        ),
        NS.cas("municipality_of_wounding"): uri_(_WOUND_MUN),
        NS.warsa("place_of_wounding"): lit_("nullif(haavpaikka, '')"),
        NS.warsa("date_of_going_mia"): (
            _MIA_CMP, "literal",
            f"CASE WHEN ({_MIA_DATE}) IS NOT NULL THEN {xd} END",
        ),
        NS.cas("municipality_of_going_mia"): uri_(_MIA_MUN),
        NS.warsa("place_of_going_mia_literal"): lit_("nullif(katopaikka, '')"),
        NS.warsa("date_of_death"): (
            f"coalesce(CAST(({_DEATH_DATE}) AS VARCHAR), {_DEATH_STR})", "literal",
            f"CASE WHEN ({_DEATH_DATE}) IS NOT NULL THEN {xd} END",
        ),
        NS.cas("municipality_of_death"): uri_(f"'{mun_pref}' || kuolinkunta"),
        NS.warsa("place_of_death_literal"): lit_("nullif(kuolinpaikka, '')"),
        NS.cas("perishing_category"): uri_(_enum_expected_sql(synth.PERISHING_KEYS, "perishing", "pid")),
        NS.cas("municipality_of_burial"): uri_(f"'{mun_pref}' || hkunta"),
        NS.cas("place_of_burial_number"): lit_("nullif(hpaikka, '')"),
        NS.cas("additional_information"): lit_(
            "CASE WHEN vapaa_paikkatieto IS NULL OR vapaa_paikkatieto = '' THEN NULL "
            "WHEN instr('kuolemanrangaistus', lower(vapaa_paikkatieto)) > 0 "
            "OR instr('teloitettu', lower(vapaa_paikkatieto)) > 0 "
            "OR instr('ammuttu', lower(vapaa_paikkatieto)) > 0 THEN NULL "
            "ELSE vapaa_paikkatieto END"
        ),
        NS.RDF_TYPE: uri_(f"'{DEATH_RECORD_TYPE}'"),
    }
    # graveyard construction (src/csv_to_rdf.py:94-121)
    gy_raw = (
        "CASE WHEN nullif(hkunta, '') IS NOT NULL AND nullif(hmaa, '') IS NOT NULL "
        f"THEN '{NS.CEMETERIES}h' || hkunta || '_' || hmaa END"
    )
    gy_mapped = gy_raw
    for bad, good in dims.GRAVEYARD_MAPPING:
        gy_mapped = f"CASE WHEN ({gy_mapped}) = '{bad}' THEN '{good}' ELSE ({gy_mapped}) END"
    gy_exists = f"({gy_mapped}) IN (SELECT cem_uri FROM cemeteries)"
    props[NS.cas("graveyard_number")] = (
        f"CASE WHEN NOT coalesce({gy_exists}, FALSE) THEN nullif(hmaa, '') END", "literal", "NULL",
    )
    props[NS.warsa("buried_in")] = (
        f"CASE WHEN coalesce({gy_exists}, FALSE) AND regexp_full_match(hmaa, '[0-9]+') THEN {gy_mapped} END",
        "uri", "NULL",
    )

    selects = [
        f"SELECT {_SUBJ_SQL} AS subj, '{pred}' AS pred, {obj} AS obj, "
        f"'{ot}' AS obj_type, {dt} AS datatype FROM records"
        for pred, (obj, ot, dt) in props.items()
    ]
    return (
        synth.oracle_prelude([dims.cemeteries_cte()])
        + "SELECT * FROM (" + " UNION ALL ".join(selects) + ") WHERE obj IS NOT NULL"
    )


# Property labels for the schema graph (public vocabulary labels of
# reference src/mapping.py:96-317 name_fi/name_en/description_fi entries).
SCHEMA_PROPERTY_LABELS = [
    (NS.warsa("family_name"), "Sukunimi", "Family name", "Henkilön sukunimi"),
    (NS.warsa("given_names"), "Etunimet", "Given names", "Henkilön etunimet"),
    (NS.warsa("marital_status"), "Siviilisääty", "Marital status", "Siviilisääty"),
    (NS.warsa("gender"), "Sukupuoli", "Gender", None),
    (NS.warsa("citizenship"), "Kansalaisuus", "Citizenship", None),
    (NS.warsa("nationality"), "Kansallisuus", "Nationality", None),
    (NS.warsa("mother_tongue"), "Äidinkieli", "Mother tongue", None),
    (NS.warsa("number_of_children"), "Lasten lukumäärä", "Number of children", None),
    (NS.warsa("occupation_literal"), "Ammatti", "Occupation", None),
    (NS.cas("rank_literal"), "Sotilasarvo", "Military rank", None),
    (NS.cas("unit_code"), "Joukko-osaston peiteluku", "Military unit identification code",
     "Henkilön kuolinhetken joukko-osaston peiteluku"),
    (NS.cas("unit_literal"), "Joukko-osasto", "Military unit",
     "Henkilön joukko-osasto kuolinhetkellä"),
    (NS.warsa("date_of_birth"), "Syntymäpäivä", "Date of birth", None),
    (NS.cas("municipality_of_birth"), "Synnyinkunta", "Municipality of birth", None),
    (NS.cas("municipality_of_domicile"), "Kotikunta", "Municipality of domicile",
     "Henkilön kirjoillaolokunta"),
    (NS.cas("municipality_of_residence"), "Asuinkunta", "Municipality of residence", None),
    (NS.warsa("date_of_wounding"), "Haavoittumispäivä", "Date of wounding", None),
    (NS.cas("municipality_of_wounding"), "Haavoittumiskunta", "Municipality of wounding", None),
    (NS.warsa("place_of_wounding"), "Haavoittumispaikka", "Place of wounding", None),
    (NS.warsa("date_of_going_mia"), "Katoamispäivä", "Date of going missing in action", None),
    (NS.cas("municipality_of_going_mia"), "Katoamiskunta",
     "Municipality of going missing in action", None),
    (NS.warsa("place_of_going_mia_literal"), "Katoamispaikka",
     "Place of going missing in action", None),
    (NS.warsa("date_of_death"), "Kuolinpäivä", "Date of death", None),
    (NS.cas("municipality_of_death"), "Kuolinkunta", "Municipality of death", None),
    (NS.warsa("place_of_death_literal"), "Kuolinpaikka", "Place of death", None),
    (NS.cas("perishing_category"), "Menehtymisluokka", "Perishing category", None),
    (NS.cas("municipality_of_burial"), "Hautauskunta", "Municipality of burial", None),
    (NS.cas("graveyard_number"), "Hautausmaan numero", "Burial graveyard number", None),
    (NS.cas("place_of_burial_number"), "Hautapaikan numero", "Place of burial (number)", None),
    (NS.cas("additional_information"), "Lisätietoja", "Additional information", None),
]


def q_schema_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G10 — schema-graph emission (src/csv_to_rdf.py:193-200): rdf:Property
    typing + fi/en prefLabels + fi descriptions for every mapped property."""
    rows = []
    for uri, fi, en, desc in SCHEMA_PROPERTY_LABELS:
        rows.append((uri, NS.RDF_TYPE, NS.RDF_NS + "Property", None))
        rows.append((uri, NS.SKOS_PREF_LABEL, fi, "fi"))
        rows.append((uri, NS.SKOS_PREF_LABEL, en, "en"))
        if desc:
            rows.append((uri, NS.DCT + "description", desc, "fi"))
    return spark.createDataFrame(rows, "subj string, pred string, obj string, lang string")


def oracle_schema_graph() -> str:
    rows = []
    for uri, fi, en, desc in SCHEMA_PROPERTY_LABELS:
        rows.append((uri, NS.RDF_TYPE, NS.RDF_NS + "Property", None))
        rows.append((uri, NS.SKOS_PREF_LABEL, fi, "fi"))
        rows.append((uri, NS.SKOS_PREF_LABEL, en, "en"))
        if desc:
            rows.append((uri, NS.DCT + "description", desc, "fi"))
    return (
        "WITH " + dims.values_cte("schema_rows", ["subj", "pred", "obj", "lang"], rows)
        + "\nSELECT subj, pred, obj, lang FROM schema_rows"
    )


def q_unit_label_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A8 — GROUP_CONCAT of labels per unit (the reference's covernumber
    query aggregates GROUP_CONCAT(?label; separator=' || '),
    src/linker.py:131-139)."""
    d = dims.dim_unit_labels(spark)
    return d.groupBy("unit_uri", "cover_number").agg(
        F.array_join(F.array_sort(F.collect_list("label")), " || ").alias("labels"),
        F.count(F.lit(1)).alias("n_labels"),
    )


def oracle_unit_label_concat() -> str:
    return (
        "WITH " + dims.unit_labels_cte()
        + """
SELECT unit_uri, cover_number,
       string_agg(label, ' || ' ORDER BY label) AS labels,
       count(*) AS n_labels
FROM unit_labels GROUP BY unit_uri, cover_number"""
    )


def q_property_path_units(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 property-path idiom: P70_documents / ^P143_joined /
    P144_joined_with (unit_construct.sparql:8) as a 3-way self-join over the
    triples DataFrame — casualty -> generated person -> joining event -> unit."""
    gen = _gen_base(spark, sf_dir)
    triples = union_graphs(_gen_graph(gen, "documents_links"), _gen_graph(gen, "joinings"))
    doc = triples.filter(F.col("pred") == NS.CRM + "P70_documents").select(
        F.col("subj").alias("casualty"), F.col("obj").alias("person")
    )
    joined = triples.filter(F.col("pred") == NS.CRM + "P143_joined").select(
        F.col("subj").alias("event"), F.col("obj").alias("person")
    )
    with_unit = triples.filter(F.col("pred") == NS.CRM + "P144_joined_with").select(
        F.col("subj").alias("event"), F.col("obj").alias("unit")
    )
    return (
        doc.join(joined, "person").join(with_unit, "event")
        .select("casualty", "unit").distinct()
    )


def q_property_path_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same P70 / ^P143 / P144 walk as kg_property_path_units, but
    executed over the bucketed SPO/OPS triples store (storage.py): the graph
    is written once as subj- and obj-bucketed tables, then the person hop
    joins two OPS scans (obj-obj, both sides pre-partitioned -> no Exchange
    on either side) and the event hop picks up the SPO scan shuffle-free on
    the base-table side. Same oracle as the in-memory path — the store is a
    physical re-layout of the identical graph, so a mis-bucketed write or a
    wrong projection choice fails the hash check.

    Resource discipline (round-5): the store tables + tmp parquet are
    dropped and the two bucketed-scan confs restored before returning —
    they are session-global planner settings and previously stayed flipped
    for every later query in a benchmarked session. The result is eagerly
    materialized (localCheckpoint) inside the scope; it is a tiny distinct
    (casualty, unit) pair set, never data-sized."""
    import shutil
    import tempfile
    import uuid

    from . import storage

    gen = _gen_base(spark, sf_dir)
    triples = union_graphs(_gen_graph(gen, "documents_links"), _gen_graph(gen, "joinings"))
    name = f"kgstore_{uuid.uuid4().hex[:8]}"
    tmp = tempfile.mkdtemp(prefix="kgstore_")
    try:
        with storage.scan_conf_scope(spark):
            storage.write_triples_store(triples, tmp, name)
            o = storage.ops(spark, name)
            doc = o.filter(F.col("pred") == NS.CRM + "P70_documents").select(
                F.col("subj").alias("casualty"), F.col("obj").alias("person")
            )
            joined = o.filter(F.col("pred") == NS.CRM + "P143_joined").select(
                F.col("subj").alias("event"), F.col("obj").alias("person")
            )
            with_unit = storage.spo(spark, name).filter(
                F.col("pred") == NS.CRM + "P144_joined_with"
            ).select(F.col("subj").alias("event"), F.col("obj").alias("unit"))
            result = (
                doc.join(joined, "person").join(with_unit, "event")
                .select("casualty", "unit").distinct()
                .localCheckpoint(eager=True)
            )
    finally:
        storage.drop_triples_store(spark, name)
        shutil.rmtree(tmp, ignore_errors=True)
    return result


def oracle_property_path_units() -> str:
    """The path collapses to 'casualty has >=1 unit link' — the independent
    SQL recomputation reuses the unit-link CTEs."""
    sel = f"""
SELECT DISTINCT {_SUBJ_SQL} AS casualty, unit_uri AS unit FROM (
  SELECT pid, unit_uri FROM bestA WHERE rn = 1 AND score >= 20
  UNION ALL SELECT pid, unit_uri FROM bestB WHERE rn = 1
)"""
    return synth.oracle_prelude([dims.unit_labels_cte()] + _unit_common_ctes()) + sel


# ---------------------------------------------------------------------------
# q: person record linkage (J7/J7a) + connected components
# ---------------------------------------------------------------------------

def _strip_ent_py(fam: str) -> str:
    import re

    return re.sub(r"\(ent\.\s*(.+)\)", r"\1", fam)


def _expected_linkage_family_sql() -> str:
    """Unified family with '(ent. X)' stripped (src/linker.py:70)."""
    n = len(synth.FAMILIES)
    base = synth.FAMILIES
    dirt0 = _case20([_strip_ent_py(unify_family_py(f.replace("O", "0"))) for f in base])
    dirt1 = _case20(
        [_strip_ent_py(unify_family_py(f"{base[i]} ENT. {base[(i + 3) % n]}")) for i in range(n)]
    )
    dirt2 = _case20([_strip_ent_py(unify_family_py(f"{base[i]}%{base[(i + 3) % n]}")) for i in range(n)])
    typo = [f[0] + ("A" if f[1] == "U" else "U") + f[2:] for f in base]
    dirt_typo = _case20([_strip_ent_py(unify_family_py(f)) for f in typo])
    clean = _case20([_strip_ent_py(unify_family_py(f)) for f in base])
    return (
        f"CASE WHEN pid % 31 = 7 THEN {dirt_typo} "
        f"WHEN pid % 11 = 2 THEN {dirt0} WHEN pid % 7 = 1 THEN {dirt1} "
        f"WHEN pid % 29 = 13 THEN {dirt2} ELSE {clean} END"
    )


def _features_ctes() -> list[str]:
    """DuckDB CTE ``features``: the J7a feature table, composed from the rank
    link SQL, unit link SQL and municipality dimension — fully independent
    recomputation."""
    rank_level = synth._case_over_mod(
        "pid", [str(lvl) for _, _, _, lvl, _ in dims.RANKS], len(synth.RANK_LITERALS)
    )
    return (
        [dims.rank_labels_cte(), dims.unit_labels_cte(), dims.municipalities_cte()]
        + _unit_common_ctes()
        + [
            f"""rank_link AS (
  SELECT pid AS rl_pid, rank_uri FROM (
    SELECT pid, rank_uri, row_number() OVER (PARTITION BY pid ORDER BY is_pref DESC, rank_uri ASC) AS rn
    FROM (SELECT pid, {_fixed_rank_sql()} AS rank_literal FROM records) r
    JOIN rank_labels ON lower(trim(r.rank_literal)) = lower(label)
  ) WHERE rn = 1)""",
            """unit_link AS (
  SELECT DISTINCT pid AS ul_pid, unit_uri FROM (
    SELECT pid, unit_uri FROM bestA WHERE rn = 1 AND score >= 20
    UNION ALL SELECT pid, unit_uri FROM bestB WHERE rn = 1))""",
            f"""features AS (
  SELECT r.pid,
    {_SUBJ_SQL} AS record_uri,
    {_expected_given_sql()} AS given,
    {_expected_linkage_family_sql()} AS family,
    CAST(({_BIRTH_DATE}) AS VARCHAR) AS birth_iso,
    CAST(({_DEATH_DATE}) AS VARCHAR) AS death_iso,
    rl.rank_uri,
    rlv.level AS rank_level,
    array_to_string(list_filter([m.current_municipality, m.wartime_municipality], x -> x IS NOT NULL), ',') AS birth_place,
    coalesce(ul.units, '') AS units
  FROM records r
  LEFT JOIN rank_link rl ON r.pid = rl.rl_pid
  LEFT JOIN (SELECT DISTINCT rank_uri AS u2, level FROM rank_labels) rlv ON rl.rank_uri = rlv.u2
  LEFT JOIN municipalities m ON m.mun_uri = '{REC.MUNICIPALITY_PREFIX}' || r.skunta
  LEFT JOIN (
    SELECT ul_pid, string_agg(unit_uri, ',' ORDER BY unit_uri) AS units FROM unit_link GROUP BY ul_pid
  ) ul ON r.pid = ul.ul_pid)""",
        ]
    )


def sf_casualty_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The person linker's casualty side at ``sf_dir``: one feature row per
    silver record (``link_persons.casualty_features``)."""
    from .operators.link_persons import casualty_features

    rec = build_silver(spark, sf_dir)
    rl = link_ranks(rec, dims.dim_rank_labels(spark))
    ul, _ = link_units(rec, dims.dim_unit_labels(spark))
    return casualty_features(rec, rl, ul, dims.dim_ranks(spark), dims.dim_municipalities(spark))


def q_person_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sf_casualty_features(spark, sf_dir).select(
        "record_uri", "given", "family", "birth_iso", "death_iso",
        F.coalesce(F.element_at("rank", 1), F.lit(None)).alias("rank_uri"),
        "rank_level",
        F.array_join(F.coalesce("birth_place", F.array()), ",").alias("birth_place"),
        F.array_join(F.coalesce("units", F.array()), ",").alias("units"),
    )


def oracle_person_features() -> str:
    sel = """
SELECT record_uri, given, family, birth_iso, death_iso, rank_uri,
       CAST(rank_level AS INT) AS rank_level, birth_place, units
FROM features"""
    return synth.oracle_prelude(_features_ctes()) + sel


def _pair_score_sql() -> str:
    """Logistic pair score, mirroring operators/link_persons.score_pairs."""
    from .operators.link_persons import BIAS, WEIGHTS

    terms = {
        "jw_given": "jaro_winkler_similarity(lower(f.given), lower(a.given))",
        "jw_family": "jaro_winkler_similarity(lower(f.family), lower(a.family))",
        "birth_eq": "CASE WHEN f.birth_iso IS NULL OR a.birth_iso IS NULL THEN 0.5 WHEN f.birth_iso = a.birth_iso THEN 1.0 ELSE 0.0 END",
        "death_eq": "CASE WHEN f.death_iso IS NULL OR a.death_iso IS NULL THEN 0.5 WHEN f.death_iso = a.death_iso THEN 1.0 ELSE 0.0 END",
        "place_eq": (
            "CASE WHEN f.birth_place = '' OR a.birth_place IS NULL THEN 0.5 "
            "WHEN list_contains(string_split(f.birth_place, ','), a.birth_place) THEN 1.0 ELSE 0.0 END"
        ),
        "rank_eq": "CASE WHEN f.rank_uri IS NULL OR a.rank_uri IS NULL THEN 0.5 WHEN f.rank_uri = a.rank_uri THEN 1.0 ELSE 0.0 END",
        "unit_eq": (
            "CASE WHEN f.units = '' OR a.unit_uri IS NULL THEN 0.5 "
            "WHEN list_contains(string_split(f.units, ','), a.unit_uri) THEN 1.0 ELSE 0.0 END"
        ),
        "level_sim": (
            "CASE WHEN f.rank_level IS NULL OR a.rank_level IS NULL THEN 0.5 "
            "ELSE 1.0 - abs(f.rank_level - a.rank_level) / CAST(greatest(f.rank_level, a.rank_level, 1) AS DOUBLE) END"
        ),
    }
    z = " + ".join(f"{w} * ({terms[k]})" for k, w in WEIGHTS.items())
    return f"1.0 / (1.0 + exp(-({BIAS} + {z})))"


def _fold_sql(e: str) -> str:
    return duckdb_ascii_fold(e)


def _person_link_ctes() -> list[str]:
    # quad blocking keys ((fam prefix | phonetic key) x death-year |
    # birth-year): a shared exploded key exists iff (family prefixes match
    # OR phonetic keys match) AND (death years match OR birth years match);
    # '?' never matches the fully-dated actor side. The phonetic OR-branch
    # mirrors link_persons._block_keys' third/fourth exploded keys.
    # rendered as a UNION of two equi-joins (not one OR-join: an OR between
    # equalities denies DuckDB a hash key and degrades to a nested loop —
    # measured 60s+ at sf0.001) — exactly the exploded-key union the Spark
    # side executes anyway
    fam3_eq = (
        f"substr({_fold_sql('lower(f.family)')}, 1, 3) = substr({_fold_sql('lower(a.family)')}, 1, 3)"
    )
    phon_eq = f"{duckdb_phonetic_key('f.family')} = {duckdb_phonetic_key('a.family')}"
    year_eq = (
        "(coalesce(substr(f.death_iso, 1, 4), '?') = coalesce(substr(a.death_iso, 1, 4), '!')"
        " OR coalesce(substr(f.birth_iso, 1, 4), '?') = coalesce(substr(a.birth_iso, 1, 4), '!'))"
    )
    # third branch: the name-only fallback for records whose BOTH dates
    # failed conversion (link_persons._block_keys name keys — one phonetic
    # skeleton per family token [full|first|last] + folded given initial,
    # probed only by the year-less sliver)
    def name_keys(uri_col: str, table: str) -> str:
        fam = "family"
        keys = ", ".join(
            duckdb_phonetic_key(e)
            for e in (
                fam,
                f"string_split_regex({fam}, '\\s+')[1]",
                f"string_split_regex({fam}, '\\s+')[-1]",
            )
        )
        init = f"substr({_fold_sql('lower(given)')}, 1, 1)"
        return f"SELECT {uri_col}, {init} AS init, unnest([{keys}]) AS nk FROM {table}"

    return _features_ctes() + [
        f"""cand AS MATERIALIZED (
  SELECT f.record_uri, a.actor_uri
  FROM features f JOIN actors a ON {fam3_eq} AND {year_eq}
  UNION
  SELECT f.record_uri, a.actor_uri
  FROM features f JOIN actors a ON {phon_eq} AND {year_eq}
  UNION
  SELECT f.record_uri, a.actor_uri
  FROM ({name_keys('record_uri', 'features')}
        WHERE death_iso IS NULL AND birth_iso IS NULL) f
  JOIN ({name_keys('actor_uri', 'actors')}) a ON f.nk = a.nk AND f.init = a.init)""",
        f"""scored AS MATERIALIZED (
  SELECT f.record_uri, a.actor_uri, {_pair_score_sql()} AS score
  FROM cand c
  JOIN features f ON c.record_uri = f.record_uri
  JOIN actors a ON c.actor_uri = a.actor_uri
  WHERE {_pair_score_sql()} >= 0.85)""",
        # iterated mutual-best (3 rounds = link_persons._greedy_match):
        # each round matches pairs that are both endpoints' best REMAINING
        # option, then removes matched endpoints
        *_mutual_round_ctes(3),
    ]


def _mutual_round_ctes(rounds: int) -> list[str]:
    ctes = []
    src = "scored"
    for i in range(1, rounds + 1):
        ctes.append(
            f"""mutual{i} AS MATERIALIZED (
  SELECT record_uri, actor_uri FROM (
    SELECT record_uri, actor_uri,
      row_number() OVER (PARTITION BY record_uri ORDER BY score DESC, actor_uri ASC) AS rl,
      row_number() OVER (PARTITION BY actor_uri ORDER BY score DESC, record_uri ASC) AS rr
    FROM {src}
  ) WHERE rl = 1 AND rr = 1)"""
        )
        if i < rounds:
            ctes.append(
                f"""scored{i + 1} AS MATERIALIZED (
  SELECT s.* FROM {src} s
  WHERE s.record_uri NOT IN (SELECT record_uri FROM mutual{i})
    AND s.actor_uri NOT IN (SELECT actor_uri FROM mutual{i}))"""
            )
            src = f"scored{i + 1}"
    union = " UNION ALL ".join(
        f"SELECT record_uri, actor_uri FROM mutual{i}" for i in range(1, rounds + 1)
    )
    ctes.append(f"mutual AS MATERIALIZED ({union})")
    return ctes


def q_link_persons(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.link_persons import link_persons

    feats = sf_casualty_features(spark, sf_dir)
    return link_persons(feats, synth.actors_from_sf(spark, sf_dir)).select("subj", "pred", "obj")


def q_link_pr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BASELINE.json headline metric AS a contract query: per-linker
    tp/pred/truth counts vs the synth's planted ground truth (eval_pr truth
    expressions), hash-checked against a DuckDB recomputation of both the
    links AND the truth — so the P/R measurement itself sits under the
    driver's correctness gate."""
    from . import eval_pr

    rec = build_silver(spark, sf_dir)
    preds = {
        "units": q_link_units(spark, sf_dir),
        "ranks": q_link_ranks(spark, sf_dir),
        "occupations": q_link_occupations(spark, sf_dir),
        "persons": q_link_persons(spark, sf_dir),
    }
    out = None
    for name, p in preds.items():
        t = eval_pr.truth_frame(rec, name)
        j = t.join(
            p.select(F.col("subj").alias("record_uri"), "obj"), "record_uri", "left"
        )
        agg = (
            j.agg(
                F.count(F.when(F.col("obj") == F.col("true_obj"), 1)).alias("tp"),
                F.count("obj").alias("pred"),
                F.count("true_obj").alias("truth_n"),
            )
            .withColumn("linker", F.lit(name))
            .select("linker", "tp", "pred", "truth_n")
        )
        out = agg if out is None else out.unionByName(agg)
    return out


def oracle_link_pr() -> str:
    from . import eval_pr

    truth_cte = f"""truth AS (
  SELECT pid,
    {eval_pr.truth_unit_uri("pid")} AS t_unit,
    {eval_pr.truth_rank_uri("pid")} AS t_rank,
    {eval_pr.truth_occupation_uri("pid")} AS t_occ,
    {eval_pr.truth_actor_uri("pid")} AS t_person
  FROM records)"""
    occ_link_cte = f"occ_link AS (\n  SELECT pid AS ol_pid, occ_uri FROM ({_occ_link_scored_sql()}) WHERE rn = 1)"
    person_link_cte = """person_link AS (
  SELECT f.pid AS pl_pid, m.actor_uri FROM mutual m JOIN features f ON m.record_uri = f.record_uri)"""

    def row(linker: str, link_tbl: str, link_pid: str, link_obj: str, t_col: str) -> str:
        return f"""SELECT '{linker}' AS linker,
  count(CASE WHEN l.{link_obj} = t.{t_col} THEN 1 END) AS tp,
  count(l.{link_obj}) AS pred,
  count(t.{t_col}) AS truth_n
FROM truth t LEFT JOIN {link_tbl} l ON t.pid = l.{link_pid}"""

    sel = "\nUNION ALL\n".join(
        [
            row("units", "unit_link", "ul_pid", "unit_uri", "t_unit"),
            row("ranks", "rank_link", "rl_pid", "rank_uri", "t_rank"),
            row("occupations", "occ_link", "ol_pid", "occ_uri", "t_occ"),
            row("persons", "person_link", "pl_pid", "actor_uri", "t_person"),
        ]
    )
    return (
        synth.oracle_prelude(
            [synth.actors_sql("duckdb"), dims.occupations_cte()]
            + _person_link_ctes()
            + [occ_link_cte, person_link_cte, truth_cte]
        )
        + "\n"
        + sel
    )


def oracle_link_persons() -> str:
    sel = f"""
SELECT record_uri AS subj, '{NS.CRM}P70_documents' AS pred, actor_uri AS obj FROM mutual"""
    return synth.oracle_prelude([synth.actors_sql("duckdb")] + _person_link_ctes()) + sel


def q_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.link_persons import connected_components

    links = q_link_persons(spark, sf_dir)
    edges = links.select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
    return connected_components(edges)


def oracle_connected_components() -> str:
    """Non-recursive closure: ``mutual`` is a perfect matching by
    construction (rl = 1 AND rr = 1 — each record and each actor appears in
    at most one link), so every connected component is exactly one edge and
    the transitive closure is the identity. The previous WITH RECURSIVE
    formulation computed the same thing but DuckDB 1.0's parallel recursive
    CTE over this (large, inlined) chain returned varying row counts run to
    run — a measured engine nondeterminism; the matching-based closure is
    exact for this graph class and deterministic. The Spark side still runs
    the real distributed CC (large-star/small-star) over the same edges."""
    sel = """
SELECT record_uri AS vertex, least(record_uri, actor_uri) AS component FROM mutual
UNION ALL
SELECT actor_uri AS vertex, least(record_uri, actor_uri) AS component FROM mutual"""
    return synth.oracle_prelude([synth.actors_sql("duckdb")] + _person_link_ctes()) + sel


# ---------------------------------------------------------------------------
# q: person generation (G1) + birth events (G3) — unlinked set = all records
# ---------------------------------------------------------------------------

def _gen_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All generated graphs as one frame; take one with ``_gen_graph``."""
    rec = build_silver(spark, sf_dir)
    empty_links = spark.createDataFrame([], "subj string, obj string")
    rl = link_ranks(rec, dims.dim_rank_labels(spark))
    ol = link_occupations(rec, dims.dim_occupations(spark))
    ul, _ = link_units(rec, dims.dim_unit_labels(spark))
    return generate_persons(
        rec, empty_links, ol, rl, ul,
        dims.dim_municipalities(spark), dims.dim_rank_labels(spark),
    )["generated"]


def _gen_graph(gen: DataFrame, kind: str) -> DataFrame:
    """One generated graph with its own (subj, pred, obj) set semantics."""
    return gen.where(F.col("graph_kind") == kind).dropDuplicates(["subj", "pred", "obj"])


def q_generate_persons(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _gen_graph(_gen_base(spark, sf_dir), "persons").select("subj", "pred", "obj", "lang")


def _expected_occ_sql() -> str:
    """Expected occupation link per pid, computed at render time with the
    byte-mode Jaro-Winkler mirror (threshold 0.88, deterministic argmax)."""
    from .functions.similarity import jaro_winkler_py

    def best(literal: str) -> str | None:
        # first-char blocking mirrors link_occupations' default blocked join
        scored = sorted(
            (
                (-jaro_winkler_py(
                    literal.encode("utf-8").decode("latin-1"),
                    lbl.encode("utf-8").decode("latin-1"),
                ), NS.OCCUPATIONS_NS + slug)
                for slug, lbl in dims.OCCUPATIONS
                if lbl[:1] == literal[:1]
            ),
        )
        if not scored:
            return None
        s, uri = scored[0]
        return uri if -s >= 0.88 else None

    occs = synth.OCCUPATION_LITERALS
    clean = synth._case_over_mod("pid", [best(o) or "" for o in occs])
    dirt0 = synth._case_over_mod("pid", [best(o[:2] + o[3:]) or "" for o in occs])
    dirt1 = "'" + (best("insinöörioppilas") or "") + "'"
    return (
        f"nullif(CASE WHEN pid % 61 = 4 THEN {dirt0} WHEN pid % 67 = 5 THEN {dirt1} "
        f"ELSE {clean} END, '')"
    )


def oracle_generate_persons() -> str:
    fam = _expected_family_sql()
    giv = _expected_given_sql()
    name = f"({giv}) || ' ' || ({fam})"
    person = "'http://ldf.fi/warsa/actors/person_p' || CAST(pid AS VARCHAR)"
    rows = [
        (person, NS.RDF_TYPE, f"'{NS.warsa('Person')}'", "NULL"),
        (person, NS.FOAF + "familyName", fam, "NULL"),
        (person, NS.FOAF + "firstName", giv, "NULL"),
        (person, NS.FOAF + "givenName", giv, "NULL"),
        (person, NS.SKOS_PREF_LABEL, name, "NULL"),
        (person, NS.DCT_SOURCE, f"'{NS.NARC_SOURCE}'", "NULL"),
        (person, NS.CRM + "P70i_is_documented_in", _SUBJ_SQL, "NULL"),
        (person, NS.BIOC + "has_occupation", _expected_occ_sql(), "NULL"),
    ]
    selects = [
        f"SELECT {s} AS subj, '{p}' AS pred, {o} AS obj, {lang} AS lang FROM records"
        for s, p, o, lang in rows
    ]
    return (
        synth.oracle_prelude()
        + "SELECT DISTINCT * FROM (" + " UNION ALL ".join(selects) + ") WHERE obj IS NOT NULL"
    )


def q_generate_births(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _gen_graph(_gen_base(spark, sf_dir), "births").select("subj", "pred", "obj", "lang")


def oracle_generate_births() -> str:
    fam = _expected_family_sql()
    giv = _expected_given_sql()
    name = f"({giv}) || ' ' || ({fam})"
    person = "'http://ldf.fi/warsa/actors/person_p' || CAST(pid AS VARCHAR)"
    ev = "'http://ldf.fi/warsa/events/birth_p' || CAST(pid AS VARCHAR)"
    ts = "'http://ldf.fi/warsa/events/times/birth_p' || CAST(pid AS VARCHAR)"
    # preferred municipality of the birth municipality, by literal table
    preferred = synth._case_over_mod(
        "pid",
        [
            (NS.WARSA_MUNICIPALITIES_NS + "m_place_" + w) if w
            else ((NS.PNR_NS + "P_" + p) if p else (NS.MUNICIPALITIES + "k" + code))
            for code, _, p, w in dims.MUNICIPALITIES
        ],
    )
    date_lit = f"coalesce(CAST(({_BIRTH_DATE}) AS VARCHAR), {_BIRTH_STR})"
    rows = [
        (ev, NS.RDF_TYPE, f"'{NS.warsa('Birth')}'", "NULL"),
        (ev, NS.CRM + "P98_brought_into_life", person, "NULL"),
        (ev, NS.DCT_SOURCE, f"'{NS.NARC_SOURCE}'", "NULL"),
        (ev, NS.SKOS_PREF_LABEL, f"({name}) || ' syntyi'", "'fi'"),
        (ev, NS.SKOS_PREF_LABEL, f"({name}) || ' was born'", "'en'"),
        (ev, NS.CRM + "P7_took_place_at", preferred, "NULL"),
        (ev, NS.CRM + "P4_has_time-span", f"CASE WHEN ({date_lit}) IS NOT NULL THEN {ts} END", "NULL"),
        (ts, NS.CRM + "P82a_begin_of_the_begin", date_lit, "NULL"),
        (ts, NS.CRM + "P82b_end_of_the_end", date_lit, "NULL"),
        (ts, NS.SKOS_PREF_LABEL, date_lit, "NULL"),
        (ts, NS.RDF_TYPE, f"CASE WHEN ({date_lit}) IS NOT NULL THEN '{NS.CRM}E52_Time-Span' END", "NULL"),
    ]
    selects = [
        f"SELECT {s} AS subj, '{p}' AS pred, {o} AS obj, {lang} AS lang FROM records"
        for s, p, o, lang in rows
    ]
    return (
        synth.oracle_prelude()
        + "SELECT DISTINCT * FROM (" + " UNION ALL ".join(selects) + ") WHERE obj IS NOT NULL"
    )


def q_generate_deaths(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _gen_graph(_gen_base(spark, sf_dir), "deaths").select("subj", "pred", "obj", "lang")


def oracle_generate_deaths() -> str:
    fam = _expected_family_sql()
    giv = _expected_given_sql()
    name = f"({giv}) || ' ' || ({fam})"
    person = "'http://ldf.fi/warsa/actors/person_p' || CAST(pid AS VARCHAR)"
    ev = "'http://ldf.fi/warsa/events/death_p' || CAST(pid AS VARCHAR)"
    ts = "'http://ldf.fi/warsa/events/times/death_p' || CAST(pid AS VARCHAR)"
    preferred = synth._case_over_mod(
        "pid * 5",
        [
            (NS.WARSA_MUNICIPALITIES_NS + "m_place_" + w) if w
            else ((NS.PNR_NS + "P_" + p) if p else (NS.MUNICIPALITIES + "k" + code))
            for code, _, p, w in dims.MUNICIPALITIES
        ],
    )
    date_lit = _DEATH_CMP
    rows = [
        (ev, NS.RDF_TYPE, f"'{NS.warsa('Death')}'", "NULL"),
        (ev, NS.CRM + "P100_was_death_of", person, "NULL"),
        (ev, NS.DCT_SOURCE, f"'{NS.NARC_SOURCE}'", "NULL"),
        (ev, NS.SKOS_PREF_LABEL, f"({name}) || ' kuoli'", "'fi'"),
        (ev, NS.SKOS_PREF_LABEL, f"({name}) || ' died'", "'en'"),
        (ev, NS.CRM + "P7_took_place_at", preferred, "NULL"),
        (ev, NS.CRM + "P4_has_time-span", f"CASE WHEN ({date_lit}) IS NOT NULL THEN {ts} END", "NULL"),
        (ts, NS.CRM + "P82a_begin_of_the_begin", date_lit, "NULL"),
        (ts, NS.CRM + "P82b_end_of_the_end", date_lit, "NULL"),
        (ts, NS.SKOS_PREF_LABEL, date_lit, "NULL"),
        (ts, NS.RDF_TYPE, f"CASE WHEN ({date_lit}) IS NOT NULL THEN '{NS.CRM}E52_Time-Span' END", "NULL"),
    ]
    selects = [
        f"SELECT {s} AS subj, '{p}' AS pred, {o} AS obj, {lang} AS lang FROM records"
        for s, p, o, lang in rows
    ]
    return (
        synth.oracle_prelude()
        + "SELECT DISTINCT * FROM (" + " UNION ALL ".join(selects) + ") WHERE obj IS NOT NULL"
    )


def q_generate_promotions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _gen_graph(_gen_base(spark, sf_dir), "promotions").select("subj", "pred", "obj", "lang")


def oracle_generate_promotions() -> str:
    """Promotion events (G7): expected rank link + fi/en prefLabel lookup
    rendered from the rank dimension at import time (src/person_generator.py:131-151)."""
    fam = _expected_family_sql()
    giv = _expected_given_sql()
    name = f"({giv}) || ' ' || ({fam})"
    person = "'http://ldf.fi/warsa/actors/person_p' || CAST(pid AS VARCHAR)"
    ev = "'http://ldf.fi/warsa/events/promotion_cas_p' || CAST(pid AS VARCHAR)"

    by_label = {r[1].lower(): r for r in dims.RANKS}  # label_fi -> row
    slugs = [slug for slug, *_ in dims.RANKS]

    def rank_of(i: int, dirt: str | None = None) -> tuple[str, str, str]:
        lit = dirt or synth.RANK_LITERALS[i]
        fixed = {"Alipuseeri": "Aliupseeri", "Alikers": "Alikersantti"}.get(lit, lit)
        row = by_label[fixed.lower()]
        return NS.RANKS_NS + row[0], row[1], row[2]

    n = len(synth.RANK_LITERALS)
    clean_uri = synth._case_over_mod("pid", [rank_of(i)[0] for i in range(n)])
    clean_fi = synth._case_over_mod("pid", [rank_of(i)[1].lower() for i in range(n)])
    clean_en = synth._case_over_mod("pid", [rank_of(i)[2].lower() for i in range(n)])
    d19 = rank_of(0, "Alipuseeri")
    d23 = rank_of(0, "Alikers")

    def dirty(clean: str, v19: str, v23: str) -> str:
        return (
            f"CASE WHEN pid % 41 = 19 THEN '{v19}' WHEN pid % 41 = 23 THEN '{v23}' ELSE {clean} END"
        )

    rank_uri = dirty(clean_uri, d19[0], d23[0])
    rank_fi = dirty(clean_fi, d19[1].lower(), d23[1].lower())
    rank_en = dirty(clean_en, d19[2].lower(), d23[2].lower())
    rows = [
        (ev, NS.RDF_TYPE, f"'{NS.warsa('Promotion')}'", "NULL"),
        (ev, NS.CRM + "P11_had_participant", person, "NULL"),
        (ev, NS.DCT_SOURCE, f"'{NS.NARC_SOURCE}'", "NULL"),
        (ev, NS.HAS_RANK_PROP, rank_uri, "NULL"),
        (ev, NS.SKOS_PREF_LABEL, f"({name}) || ' ylennettiin sotilasarvoon ' || ({rank_fi})", "'fi'"),
        (ev, NS.SKOS_PREF_LABEL, f"({name}) || ' was promoted to ' || ({rank_en})", "'en'"),
    ]
    selects = [
        f"SELECT {s} AS subj, '{p}' AS pred, {o} AS obj, {lang} AS lang FROM records"
        for s, p, o, lang in rows
    ]
    return (
        synth.oracle_prelude()
        + "SELECT DISTINCT * FROM (" + " UNION ALL ".join(selects) + ") WHERE obj IS NOT NULL"
    )


def q_generate_joinings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _gen_graph(_gen_base(spark, sf_dir), "joinings").select("subj", "pred", "obj", "lang")


def oracle_generate_joinings() -> str:
    """Joining events (G8): one event URI per linked casualty, P144 per
    linked unit, labels carry the raw unit literal — unit links recomputed
    with the shared unit CTEs."""
    fam = _expected_family_sql()
    giv = _expected_given_sql()
    name = f"({giv}) || ' ' || ({fam})"
    person = "'http://ldf.fi/warsa/actors/person_p' || CAST(pid AS VARCHAR)"
    ev = "'http://ldf.fi/warsa/events/joining_cas_p' || CAST(pid AS VARCHAR)"
    link_cte = """unit_link AS (
  SELECT DISTINCT pid AS ul_pid, unit_uri FROM (
    SELECT pid, unit_uri FROM bestA WHERE rn = 1 AND score >= 20
    UNION ALL SELECT pid, unit_uri FROM bestB WHERE rn = 1))"""
    base = f"FROM records r JOIN (SELECT DISTINCT ul_pid FROM unit_link) u ON r.pid = u.ul_pid"
    rows = [
        (ev, NS.RDF_TYPE, f"'{NS.warsa('PersonJoining')}'", "NULL"),
        (ev, NS.CRM + "P143_joined", person, "NULL"),
        (ev, NS.DCT_SOURCE, f"'{NS.NARC_SOURCE}'", "NULL"),
        (ev, NS.SKOS_PREF_LABEL, f"({name}) || ' liittyi joukko-osastoon ' || trim(josnimi)", "'fi'"),
        (ev, NS.SKOS_PREF_LABEL, f"({name}) || ' joined ' || trim(josnimi)", "'en'"),
    ]
    selects = [
        f"SELECT {s} AS subj, '{p}' AS pred, {o} AS obj, {lang} AS lang {base}" for s, p, o, lang in rows
    ]
    selects.append(
        f"SELECT {ev.replace('pid', 'l.ul_pid')} AS subj, '{NS.CRM}P144_joined_with' AS pred, "
        f"l.unit_uri AS obj, NULL AS lang FROM unit_link l"
    )
    return (
        synth.oracle_prelude([dims.unit_labels_cte()] + _unit_common_ctes() + [link_cte])
        + "SELECT DISTINCT * FROM (" + " UNION ALL ".join(selects) + ") WHERE obj IS NOT NULL"
    )


# ---------------------------------------------------------------------------
# q: disappearance (G5) / wounding (G6) events + the J8 documents-links join
# ---------------------------------------------------------------------------

def _event_oracle(
    prefix: str, event_type: str, lbl_fi: str, lbl_en: str,
    date_expr: str, str_expr: str, mun_case: str, mun_guard: str,
    place_expr: str, guard: str,
) -> str:
    """Shared G5/G6 oracle renderer mirroring _event_entries + place_string."""
    fam = _expected_family_sql()
    giv = _expected_given_sql()
    name = f"({giv}) || ' ' || ({fam})"
    person = "'http://ldf.fi/warsa/actors/person_p' || CAST(pid AS VARCHAR)"
    ev = f"'{{ev}}p' || CAST(pid AS VARCHAR)".format(ev="http://ldf.fi/warsa/events/" + prefix)
    ts = f"'http://ldf.fi/warsa/events/times/{prefix}p' || CAST(pid AS VARCHAR)"
    date_lit = f"coalesce(CAST(({date_expr}) AS VARCHAR), {str_expr})"
    preferred = f"CASE WHEN {mun_guard} THEN {mun_case} END"
    rows = [
        (ev, NS.RDF_TYPE, f"'{event_type}'", "NULL"),
        (ev, NS.CRM + "P11_had_participant", person, "NULL"),
        (ev, NS.DCT_SOURCE, f"'{NS.NARC_SOURCE}'", "NULL"),
        (ev, NS.SKOS_PREF_LABEL, f"({name}) || ' {lbl_fi}'", "'fi'"),
        (ev, NS.SKOS_PREF_LABEL, f"({name}) || ' {lbl_en}'", "'en'"),
        (ev, NS.CRM + "P7_took_place_at", preferred, "NULL"),
        (ev, NS.CRM + "P4_has_time-span", f"CASE WHEN ({date_lit}) IS NOT NULL THEN {ts} END", "NULL"),
        (ts, NS.CRM + "P82a_begin_of_the_begin", date_lit, "NULL"),
        (ts, NS.CRM + "P82b_end_of_the_end", date_lit, "NULL"),
        (ts, NS.SKOS_PREF_LABEL, date_lit, "NULL"),
        (ts, NS.RDF_TYPE, f"CASE WHEN ({date_lit}) IS NOT NULL THEN '{NS.CRM}E52_Time-Span' END", "NULL"),
        (ev, NS.warsa("place_string"), place_expr, "NULL"),
    ]
    selects = [
        f"SELECT {s} AS subj, '{p}' AS pred, {o} AS obj, {lang} AS lang FROM records WHERE {guard}"
        for s, p, o, lang in rows
    ]
    return (
        synth.oracle_prelude()
        + "SELECT DISTINCT * FROM (" + " UNION ALL ".join(selects) + ") WHERE obj IS NOT NULL"
    )


def _preferred_case(pid_expr: str) -> str:
    return synth._case_over_mod(
        pid_expr,
        [
            (NS.WARSA_MUNICIPALITIES_NS + "m_place_" + w) if w
            else ((NS.PNR_NS + "P_" + p) if p else (NS.MUNICIPALITIES + "k" + code))
            for code, _, p, w in dims.MUNICIPALITIES
        ],
    )


def q_generate_disappearances(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _gen_graph(_gen_base(spark, sf_dir), "disappearances").select("subj", "pred", "obj", "lang")


def oracle_generate_disappearances() -> str:
    guard = (
        f"(({_MIA_DATE}) IS NOT NULL OR ({_MIA_STR}) IS NOT NULL "
        "OR nullif(katokunta, '') IS NOT NULL OR nullif(katopaikka, '') IS NOT NULL)"
    )
    return _event_oracle(
        "disappear_cas_", NS.warsa("Disappearing"),
        "katosi", "went missing in action",
        _MIA_DATE, _MIA_STR,
        _preferred_case("pid * 17"), "nullif(katokunta, '') IS NOT NULL",
        "nullif(katopaikka, '')", guard,
    )


def q_generate_woundings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _gen_graph(_gen_base(spark, sf_dir), "woundings").select("subj", "pred", "obj", "lang")


def oracle_generate_woundings() -> str:
    guard = (
        f"(({_WOUND_DATE}) IS NOT NULL OR ({_WOUND_STR}) IS NOT NULL "
        "OR nullif(haavkunta, '') IS NOT NULL OR nullif(haavpaikka, '') IS NOT NULL)"
    )
    return _event_oracle(
        "wound_cas_", NS.warsa("Wounding"),
        "haavoittui", "was wounded",
        _WOUND_DATE, _WOUND_STR,
        _preferred_case("pid * 13"), "nullif(haavkunta, '') IS NOT NULL",
        "nullif(haavpaikka, '')", guard,
    )


def q_documents_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8 — the graph-level documents_links join (operators/triples.py:
    unlinked DeathRecords x inverse P70i links; reference src/tasks.py:17-44):
    the casualties graph provides the DeathRecord set, the generated persons
    graph provides the inverse links."""
    from .operators.triples import documents_links

    rec = build_silver(spark, sf_dir)
    cas = records_to_triples(rec, dims.dim_cemeteries(spark))
    persons = _gen_graph(_gen_base(spark, sf_dir), "persons")
    return documents_links(cas, persons).select("subj", "pred", "obj")


def oracle_documents_links() -> str:
    person = "'http://ldf.fi/warsa/actors/person_p' || CAST(pid AS VARCHAR)"
    sel = f"""
SELECT {_SUBJ_SQL} AS subj, '{NS.CRM}P70_documents' AS pred, {person} AS obj
FROM records"""
    return synth.oracle_prelude() + sel


# ---------------------------------------------------------------------------
# training-data ops: dedup / text analysis / ANN over documents & embeddings
# ---------------------------------------------------------------------------

def _spread(spark: SparkSession, df: DataFrame) -> DataFrame:
    """The sf tables are single parquet files, so every downstream heavy
    projection (shingle explode + 12×md5 minhash, 64-bit simhash, vector
    math) would serialize on ONE core — measured 10 s for the minhash
    shingle pass at sf0.1 on local[32]. One tiny row shuffle spreads the
    scan across the default parallelism; values are untouched, so every
    DuckDB oracle hash is unaffected. A production table arrives in many
    files and gets this for free — same reasoning as transcripts_from_sf."""
    return df.repartition(spark.sparkContext.defaultParallelism)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _spread(spark, spark.read.parquet(f"{sf_dir}/documents.parquet"))


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _spread(spark, spark.read.parquet(f"{sf_dir}/events.parquet"))


def q_events_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group percentiles (median/p90) — Spark's ``percentile`` and
    DuckDB's ``quantile_cont`` both implement type-7 linear interpolation at
    index (n-1)*p, and the interpolation arithmetic is bit-identical on
    doubles (verified empirically before this query landed), so the hash
    check holds without rounding."""
    return (
        _events(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("value").alias("min_value"),
            F.expr("percentile(value, 0.5)").alias("median_value"),
            F.expr("percentile(value, 0.9)").alias("p90_value"),
            F.max("value").alias("max_value"),
        )
    )


def oracle_events_percentiles() -> str:
    return """
SELECT event_type, count(*) AS n, min(value) AS min_value,
       quantile_cont(value, 0.5) AS median_value,
       quantile_cont(value, 0.9) AS p90_value,
       max(value) AS max_value
FROM events GROUP BY event_type"""


def q_events_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user ordered window analytics: row_number, lag delta, running
    decimal sum (ordered fold — the same total order (ts, event_id) on both
    engines makes even the running aggregate deterministic; the sum itself
    is decimal so partial-order differences cannot arise at all)."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return _events(spark, sf_dir).select(
        "user_id",
        "event_id",
        F.row_number().over(w).alias("seq"),
        (F.col("value") - F.lag("value").over(w)).alias("delta_value"),
        F.sum(F.col("value").cast("decimal(18,3)"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("double")
        .alias("running_value"),
    )


def oracle_events_running() -> str:
    return """
SELECT user_id, event_id,
       row_number() OVER w AS seq,
       value - lag(value) OVER w AS delta_value,
       CAST(sum(CAST(value AS DECIMAL(18,3))) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)"""


def q_olap_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped 3-table join over the driver's largest tables
    (customer ⋈ orders ⋈ lineitem): segment + date filters pushed to the
    scans, the small filtered customer side broadcast, revenue summed as
    exact decimal then cast (same order-free-sum discipline as
    events_rollup). Exercises the engine's join strategy at the relational
    end of the provided data."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        F.col("o_orderdate") < "1995-03-15"
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").filter(
        F.col("l_shipdate") > "1995-03-15"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).cast(
                    "decimal(18,4)"
                )
            )
            .cast("double")
            .alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


def q_olap_regional_part_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5/Q9-shaped star join touching every remaining driver table
    (lineitem ⋈ supplier ⋈ nation ⋈ region ⋈ part): revenue by region and
    part brand. The three dimension chains (supplier→nation→region, part)
    are broadcast; lineitem never shuffles before the final rollup — with
    this, all 10 provided tables are exercised by oracle-checked queries."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    sup = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    reg = spark.read.parquet(f"{sf_dir}/region.parquet")
    part = spark.read.parquet(f"{sf_dir}/part.parquet").filter(
        F.col("p_size") <= 20
    )
    dim = F.broadcast(
        sup.join(nat, sup.s_nationkey == nat.n_nationkey)
        .join(reg, nat.n_regionkey == reg.r_regionkey)
        .select("s_suppkey", "r_name")
    )
    return (
        li.join(dim, li.l_suppkey == dim.s_suppkey)
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("r_name", "p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(
                (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).cast(
                    "decimal(18,4)"
                )
            )
            .cast("double")
            .alias("revenue"),
        )
    )


def oracle_olap_regional_part_revenue() -> str:
    return """
SELECT r_name, p_brand, count(*) AS n_items,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
JOIN part ON l_partkey = p_partkey
WHERE p_size <= 20
GROUP BY r_name, p_brand"""


def oracle_olap_shipping_priority() -> str:
    return """
SELECT l_orderkey,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
       o_orderdate, o_orderpriority
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < DATE '1995-03-15'
  AND l_shipdate > DATE '1995-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority"""


def q_events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.events import hourly_rollup

    return hourly_rollup(_events(spark, sf_dir))


def oracle_events_rollup() -> str:
    return """
SELECT time_bucket(INTERVAL 1 HOUR, ts) AS ws, event_type,
       count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,3))) AS DOUBLE) AS sum_value,
       CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
FROM events GROUP BY 1, 2"""


def q_events_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.events import cube_rollup

    return cube_rollup(_events(spark, sf_dir))


def oracle_events_cube() -> str:
    """GROUPING(event_type, hod) bit order matches Spark's grouping_id()
    (first column = most significant bit; verified empirically). hod is
    cast to INT before grouping on both sides; the decimal-sum / BIGINT
    cast discipline follows oracle_events_rollup."""
    return """
WITH b AS (
  SELECT event_type, CAST(hour(ts) AS INT) AS hod,
         CAST(value AS DECIMAL(18,3)) AS v
  FROM events)
SELECT event_type, hod, count(*) AS n,
       CAST(sum(v) AS DOUBLE) AS sum_value,
       CAST(GROUPING(event_type, hod) AS INT) AS gid
FROM b GROUP BY CUBE (event_type, hod)"""


def q_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.events import user_sessions

    return user_sessions(_events(spark, sf_dir))


def oracle_events_sessions() -> str:
    """Gaps-and-islands recomputation of Spark's session_window contract:
    per-event windows are half-open [ts, ts + gap), so an event exactly
    ``gap`` after its predecessor does NOT overlap and starts a NEW session
    — the break condition is >= (not >). The island-numbering running sum
    orders by (ts, event_id), same as the brk window, so tied timestamps at
    a boundary are deterministic. Session end = last event + gap."""
    return """
WITH m AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w >= INTERVAL 6 HOUR THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
g AS (
  SELECT user_id, ts,
         sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid
  FROM m)
SELECT user_id, min(ts) AS session_start,
       max(ts) + INTERVAL 6 HOUR AS session_end,
       count(*) AS n_events
FROM g GROUP BY user_id, sid"""


def q_events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join under the oracle: every purchase matched to the user's
    most recent prior-or-simultaneous view. Spark side is the union-tag +
    carry-forward-window composition (operators/events.asof_join, one
    shuffle); the oracle is DuckDB's NATIVE ASOF JOIN — two independent
    implementations of the same contract."""
    from .operators.events import asof_join

    return asof_join(_events(spark, sf_dir), "purchase", "view")


def oracle_events_asof() -> str:
    return """
WITH l AS (SELECT event_id, ts, user_id FROM events WHERE event_type = 'purchase'),
r AS (SELECT event_id, ts, user_id FROM events WHERE event_type = 'view')
SELECT l.event_id, l.ts, l.user_id,
       r.event_id AS matched_event_id, r.ts AS matched_ts,
       epoch_us(l.ts) - epoch_us(r.ts) AS lag_us
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts"""


def q_events_streaming_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming rollup under the batch oracle: the events parquet is
    re-landed as a file stream, a watermarked windowed agg runs availableNow
    into a complete-mode memory sink, and the emitted table must equal the
    batch SQL — incremental == batch for the stateful agg."""
    import tempfile
    import uuid

    from .operators.events import stream_hourly_rollup

    tmp = tempfile.mkdtemp(prefix="events_stream_")
    _events(spark, sf_dir).write.mode("overwrite").parquet(f"{tmp}/in")
    qname = f"ev_rollup_{uuid.uuid4().hex[:8]}"
    stream_hourly_rollup(spark, f"{tmp}/in", f"{tmp}/ckpt", qname).awaitTermination()
    return spark.table(qname)


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _spread(spark, spark.read.parquet(f"{sf_dir}/embeddings.parquet"))


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import exact_duplicates

    return exact_duplicates(_docs(spark, sf_dir))


def oracle_dedup_exact() -> str:
    return """
SELECT doc_id, md5(text) AS text_hash,
       min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
       count(*) OVER (PARTITION BY md5(text)) AS group_size
FROM documents"""


# shared shingle/minhash CTEs (DuckDB side of operators/dedup.py)
_SHINGLE_CTES = """
dwords AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\W+'), w -> w != '') AS w
  FROM documents),
dshingles AS (
  SELECT doc_id,
         list_sort(list_distinct(list_transform(
           generate_series(1, greatest(len(w) - 2, 1)),
           i -> array_to_string(w[i : i + 2], ' ')))) AS sh
  FROM dwords),
dsig AS (
  SELECT doc_id, s, min(md5(CAST(s AS VARCHAR) || ':' || shingle)) AS mh
  FROM (SELECT doc_id, unnest(sh) AS shingle FROM dshingles)
  CROSS JOIN (SELECT unnest(generate_series(0, 11)) AS s)
  GROUP BY doc_id, s),
dbands AS (
  SELECT doc_id, CAST((s - s % 3) / 3 AS INT) AS band_idx,
         md5(CAST(CAST((s - s % 3) / 3 AS INT) AS VARCHAR) || '|' || string_agg(mh, ',' ORDER BY s)) AS band_key
  FROM dsig GROUP BY doc_id, CAST((s - s % 3) / 3 AS INT)),
dpairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM dbands a JOIN dbands b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
  WHERE a.doc_id < b.doc_id)
""".strip()


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(_docs(spark, sf_dir))


def oracle_dedup_minhash_lsh() -> str:
    return f"WITH {_SHINGLE_CTES}\nSELECT doc_a, doc_b FROM dpairs"


def q_dedup_near_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import near_dup_clusters

    return near_dup_clusters(_docs(spark, sf_dir))


_LP_ROUNDS = 8


def oracle_dedup_near_clusters() -> str:
    """Independent recomputation of the near-dup clusters: the same dpairs
    CTEs, then min-label propagation UNROLLED to a fixed depth (the earlier
    WITH RECURSIVE CC oracle was dropped after DuckDB's parallel recursive
    CTE showed run-to-run nondeterminism — see oracle_connected_components).
    One round propagates the min one hop, so _LP_ROUNDS=8 is exact for any
    component whose eccentricity from its min vertex is <= 8; LSH dup groups
    are near-cliques (diameter 1-2). If a deeper chain ever appeared, the
    oracle would be WRONG and the hash check fails loudly — never silently.
    The Spark side runs the real large-star/small-star CC, depth-unbounded."""
    parts = [
        "e AS (SELECT doc_a AS a, doc_b AS b FROM dpairs"
        " UNION ALL SELECT doc_b, doc_a FROM dpairs)",
        "lp0 AS (SELECT doc_id AS v, doc_id AS c FROM documents)",
    ]
    for k in range(1, _LP_ROUNDS + 1):
        parts.append(
            f"lp{k} AS (SELECT l.v, least(l.c, coalesce(min(n.c), l.c)) AS c\n"
            f"  FROM lp{k - 1} l LEFT JOIN e ON l.v = e.a"
            f" LEFT JOIN lp{k - 1} n ON e.b = n.v\n"
            f"  GROUP BY l.v, l.c)"
        )
    # MATERIALIZED: each lp round references e (hence dpairs) twice; DuckDB
    # inlines CTEs by default, re-running the whole shingle->minhash->band
    # pipeline ~2x per round (measured 222 s vs 1.9 s at sf0.01)
    ctes = _SHINGLE_CTES.replace("dpairs AS (", "dpairs AS MATERIALIZED (")
    return (
        f"WITH {ctes},\n" + ",\n".join(parts)
        + f"\nSELECT v AS doc_id, c AS component FROM lp{_LP_ROUNDS}"
    )


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.0)


def oracle_dedup_ngram_jaccard() -> str:
    return f"""WITH {_SHINGLE_CTES}
SELECT p.doc_a, p.doc_b,
       CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) AS jaccard
FROM dpairs p
JOIN dshingles a ON p.doc_a = a.doc_id
JOIN dshingles b ON p.doc_b = b.doc_id
WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) >= 0.0"""


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import simhash_buckets

    return simhash_buckets(_docs(spark, sf_dir))


# shared 64-bit simhash fingerprint CTEs (DuckDB mirror of
# operators/dedup.simhash64_fingerprints: majority vote over distinct words,
# nibble i of md5(word), bit weight 2^(3-j) within the nibble; wordless docs
# -> all-zeros fingerprint)
_SIMHASH64_CTES = """
dw AS (
  SELECT doc_id, list_distinct(list_filter(string_split_regex(lower(text), '\\W+'), w -> w != '')) AS w
  FROM documents),
nibbits AS (
  SELECT doc_id, i,
         sum(CAST(floor(v / 8) AS INT) % 2) AS b0, sum(CAST(floor(v / 4) AS INT) % 2) AS b1,
         sum(CAST(floor(v / 2) AS INT) % 2) AS b2, sum(v % 2) AS b3, count(*) AS n
  FROM (
    SELECT doc_id, i, instr('0123456789abcdef', substr(md5(word), i + 1, 1)) - 1 AS v
    FROM (SELECT doc_id, unnest(w) AS word FROM dw)
    CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS i))
  GROUP BY doc_id, i),
fpagg AS (
  SELECT doc_id,
         string_agg(substr('0123456789abcdef',
           CASE WHEN 2*b0 > n THEN 8 ELSE 0 END + CASE WHEN 2*b1 > n THEN 4 ELSE 0 END
           + CASE WHEN 2*b2 > n THEN 2 ELSE 0 END + CASE WHEN 2*b3 > n THEN 1 ELSE 0 END + 1, 1),
           '' ORDER BY i) AS simhash
  FROM nibbits GROUP BY doc_id),
fps AS (
  SELECT d.doc_id, coalesce(f.simhash, '0000000000000000') AS simhash
  FROM documents d LEFT JOIN fpagg f ON d.doc_id = f.doc_id)
""".strip()


def oracle_dedup_simhash() -> str:
    return f"""WITH {_SIMHASH64_CTES}
SELECT doc_id, simhash, min(doc_id) OVER (PARTITION BY simhash) AS canonical_id FROM fps"""


def q_dedup_simhash_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import simhash_near_dup_pairs

    return simhash_near_dup_pairs(_docs(spark, sf_dir))


def oracle_dedup_simhash_near() -> str:
    # banded candidates (4 x 4-hex-char bands) + exact Hamming verify, nibble
    # xor popcount by floor-div arithmetic (same formula as the Spark side)
    pop = " + ".join(
        f"CAST(floor(xor(va, vb) / {1 << k}) AS INT) % 2" for k in range(4)
    )
    return f"""WITH {_SIMHASH64_CTES},
sbands AS (
  SELECT doc_id, simhash, b AS band_idx, substr(simhash, b * 4 + 1, 4) AS band_key
  FROM fps CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b)),
scand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.simhash AS fp_a, b.simhash AS fp_b
  FROM sbands a JOIN sbands b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
  WHERE a.doc_id < b.doc_id),
sham AS (
  SELECT doc_a, doc_b, sum({pop}) AS hamming
  FROM (
    SELECT doc_a, doc_b,
           instr('0123456789abcdef', substr(fp_a, i + 1, 1)) - 1 AS va,
           instr('0123456789abcdef', substr(fp_b, i + 1, 1)) - 1 AS vb
    FROM scand CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS i))
  GROUP BY doc_a, doc_b)
SELECT doc_a, doc_b, CAST(hamming AS INT) AS hamming FROM sham WHERE hamming <= 3"""


def q_text_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction + counts. The synthetic corpus carries no PII, so the
    query plants it deterministically by doc_id rule (emails on id%5==0,
    URLs on id%7==0, phones on id%11==0) — the SAME injection is rendered
    in the oracle SQL, so the hash check exercises the actual redaction
    regexes on both engines, not an all-zero corpus."""
    from .operators.text_analysis import pii_profile

    d = _docs(spark, sf_dir)
    sid = F.col("doc_id").cast("string")
    t = F.col("text")
    t = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(t, F.lit(" contact u"), sid, F.lit("@example.com")),
    ).otherwise(t)
    t = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(t, F.lit(" see https://ex.org/d/"), sid),
    ).otherwise(t)
    t = F.when(
        F.col("doc_id") % 11 == 0,
        F.concat(t, F.lit(" call +358 40 123-45"), F.lpad(sid, 2, "0")),
    ).otherwise(t)
    return pii_profile(d.select("doc_id", t.alias("text")))


def oracle_text_redact() -> str:
    from .operators.text_analysis import PII_EMAIL_RE, PII_PHONE_RE, PII_URL_RE

    # DuckDB string literals treat backslash literally — only quotes need
    # escaping (none of these patterns contain quotes, kept for safety)
    def q(s: str) -> str:
        return s.replace("'", "''")

    u, e, p = q(PII_URL_RE), q(PII_EMAIL_RE), q(PII_PHONE_RE)
    return f"""WITH injected AS (
  SELECT doc_id,
    concat(text,
      CASE WHEN doc_id % 5 = 0 THEN ' contact u' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END,
      CASE WHEN doc_id % 7 = 0 THEN ' see https://ex.org/d/' || CAST(doc_id AS VARCHAR) ELSE '' END,
      CASE WHEN doc_id % 11 = 0 THEN ' call +358 40 123-45' || lpad(CAST(doc_id AS VARCHAR), 2, '0') ELSE '' END
    ) AS text
  FROM documents)
SELECT doc_id,
  regexp_replace(regexp_replace(regexp_replace(text,
    '{u}', '<URL>', 'g'), '{e}', '<EMAIL>', 'g'), '{p}', '<PHONE>', 'g') AS redacted,
  len(regexp_extract_all(text, '{u}')) AS n_url,
  len(regexp_extract_all(text, '{e}')) AS n_email,
  len(regexp_extract_all(text, '{p}')) AS n_phone
FROM injected"""


# decontamination n-gram size: the synthetic docs are 10-99 words over a
# ~30-word vocabulary, so 4-grams give real (non-trivial, non-empty) overlap
# at every test SF; a production run against natural text uses 8-13.
DECONTAM_N = 4


def q_text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM-data decontamination under the oracle: corpus docs sharing >= 1
    word 4-gram with the 'benchmark' slice (doc_id % 50 == 0) are flagged
    with their distinct matched-gram count. Benchmark gram set broadcasts;
    the corpus is scanned once and never shuffles except the matched rows
    (operators/text_analysis.ngram_contamination)."""
    from .operators.text_analysis import ngram_contamination

    docs = _docs(spark, sf_dir)
    return ngram_contamination(
        docs.filter(F.col("doc_id") % 50 != 0),
        docs.filter(F.col("doc_id") % 50 == 0),
        n=DECONTAM_N,
    )


def oracle_text_decontaminate() -> str:
    k = DECONTAM_N - 1  # DuckDB list slice w[i : i+k] is INCLUSIVE -> n items
    return f"""
WITH dwords AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\W+'), w -> w != '') AS w
  FROM documents),
grams AS (
  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(w) - {k}),
         i -> array_to_string(w[i : i + {k}], ' '))) AS g
  FROM dwords WHERE len(w) >= {DECONTAM_N}),
bench AS (SELECT DISTINCT unnest(g) AS gram FROM grams WHERE doc_id % 50 = 0),
corp AS (SELECT doc_id, unnest(g) AS gram FROM grams WHERE doc_id % 50 <> 0)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matched_grams
FROM corp JOIN bench USING (gram)
GROUP BY doc_id"""


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition filter metrics (Gopher-style duplicate
    n-gram fractions) — a pure projection, zero shuffle."""
    from .operators.text_analysis import repetition_profile

    return repetition_profile(_docs(spark, sf_dir))


def oracle_text_repetition() -> str:
    def g(n: int) -> str:
        k = n - 1
        return (
            f"CASE WHEN len(w) >= {n} THEN list_transform(generate_series(1, len(w) - {k}), "
            f"i -> array_to_string(w[i : i + {k}], ' ')) ELSE [] END"
        )

    def dup(arr: str) -> str:
        return (
            f"round(CASE WHEN len({arr}) > 0 "
            f"THEN 1.0 - len(list_distinct({arr})) * 1.0 / len({arr}) "
            f"ELSE 0.0 END, 6)"
        )

    return f"""
WITH dwords AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\W+'), x -> x != '') AS w
  FROM documents),
m AS (
  SELECT doc_id, CAST(len(w) AS INT) AS n_words,
         {dup('w')} AS dup_word_frac,
         {dup(g(2))} AS dup_2gram_frac,
         {dup(g(3))} AS dup_3gram_frac
  FROM dwords)
SELECT doc_id, n_words, dup_word_frac, dup_2gram_frac, dup_3gram_frac,
       (dup_2gram_frac > 0.05 OR dup_3gram_frac > 0.02) AS repetitive
FROM m"""


def q_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text_analysis import document_profile

    return document_profile(_docs(spark, sf_dir))


def oracle_text_profile() -> str:
    from .operators.text_analysis import (
        BPE_ISH_PATTERN, EN_STOPWORDS, FI_STOPWORDS,
    )

    fi_pat = r"\b(" + "|".join(FI_STOPWORDS) + r")\b"
    en_pat = r"\b(" + "|".join(EN_STOPWORDS) + r")\b"
    all_pat = r"\b(" + "|".join(FI_STOPWORDS + EN_STOPWORDS) + r")\b"
    return f"""
WITH t AS (
  SELECT doc_id, text,
    len(regexp_extract_all(lower(text), '{fi_pat}')) + len(regexp_extract_all(lower(text), '[äö]')) AS fi_ev,
    len(regexp_extract_all(lower(text), '{en_pat}')) AS en_ev,
    len(list_filter(string_split_regex(text, '\\s+'), x -> x != '')) AS n_tokens_ws,
    len(regexp_extract_all(text, '{BPE_ISH_PATTERN}')) AS n_tokens_bpe,
    length(text) AS n_chars,
    list_filter(string_split_regex(lower(text), '\\W+'), x -> x != '') AS words,
    len(regexp_extract_all(text, '[^\\w\\s]')) AS n_punct,
    len(regexp_extract_all(lower(text), '{all_pat}')) AS n_stop
  FROM documents)
SELECT doc_id,
  CASE WHEN fi_ev > en_ev AND fi_ev > 0 THEN 'fi'
       WHEN en_ev > fi_ev AND en_ev > 0 THEN 'en' ELSE 'und' END AS lang_id,
  CAST(n_tokens_ws AS INT) AS n_tokens_ws,
  CAST(n_tokens_bpe AS INT) AS n_tokens_bpe,
  (CASE WHEN n_chars BETWEEN 50 AND 20000 THEN 0.25 ELSE 0.0 END
   + CASE WHEN CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 1.0 END <= 0.2 THEN 0.25 ELSE 0.0 END
   + CASE WHEN CASE WHEN len(words) > 0 THEN CAST(n_stop AS DOUBLE) / len(words) ELSE 0.0 END >= 0.01 THEN 0.25 ELSE 0.0 END
   + CASE WHEN len(words) > 0 AND CAST(n_chars AS DOUBLE) / len(words) BETWEEN 3.0 AND 12.0 THEN 0.25 ELSE 0.0 END
  ) AS quality,
  md5(array_to_string(list_sort(words), ' ')) AS fingerprint
FROM t"""


def q_text_langmix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-composition report — the first table a training-data run
    prints: per detected language, document count, total BPE-ish tokens,
    and mean quality score. One scan (the profile computes inline), one
    map-side-combinable shuffle to O(languages) rows. The quality mean is
    derived from an order-free sum: quality is a sum of 0.25 increments,
    exact in binary floating point, so the cross-engine hash holds."""
    from .operators.text_analysis import document_profile

    p = document_profile(_docs(spark, sf_dir))
    return (
        p.groupBy("lang_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens_bpe").alias("total_tokens_bpe"),
            F.sum("quality").alias("qsum"),
        )
        .select(
            "lang_id",
            "n_docs",
            "total_tokens_bpe",
            (F.col("qsum") / F.col("n_docs")).alias("mean_quality"),
        )
    )


def oracle_text_langmix() -> str:
    return f"""WITH p AS MATERIALIZED ({oracle_text_profile()})
SELECT lang_id, count(*) AS n_docs,
       CAST(sum(n_tokens_bpe) AS BIGINT) AS total_tokens_bpe,
       sum(quality) / count(*) AS mean_quality
FROM p GROUP BY lang_id"""


EMB_DIM = 64
N_ANN_QUERIES = 5
ANN_K = 5


def _query_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _embs(spark, sf_dir)
    return e.filter(F.col("vec_id") < N_ANN_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )


def q_ann_brute_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity_search import brute_force_topk

    return brute_force_topk(_embs(spark, sf_dir), _query_vectors(spark, sf_dir), k=ANN_K)


def oracle_ann_brute_topk() -> str:
    return f"""
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < {N_ANN_QUERIES}),
scored AS (
  SELECT q.query_id, e.vec_id,
         list_cosine_similarity(e.embedding::DOUBLE[], q.qv) AS cos
  FROM embeddings e CROSS JOIN q),
ranked AS (
  SELECT query_id, vec_id, cos,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
  FROM scored)
SELECT query_id, CAST(rank AS INT) AS rank, vec_id, round(cos, 6) AS cosine
FROM ranked WHERE rank <= {ANN_K}"""


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity_search import lsh_topk

    return lsh_topk(_embs(spark, sf_dir), _query_vectors(spark, sf_dir), dim=EMB_DIM, k=ANN_K)


def oracle_ann_lsh_topk() -> str:
    from .operators.similarity_search import N_PLANES, N_TABLES, _hyperplane

    def bucket_sql(table: int) -> str:
        bits = []
        for p in range(N_PLANES):
            plane = _hyperplane(EMB_DIM, p, table)
            arr = "[" + ", ".join(f"{x:.1f}" for x in plane) + "]"
            bits.append(f"CASE WHEN list_dot_product(v, {arr}) >= 0 THEN '1' ELSE '0' END")
        return f"'t{table}:' || " + " || ".join(bits)

    keyed = " UNION ALL ".join(
        f"SELECT vec_id, v, {bucket_sql(t)} AS bucket FROM corpus" for t in range(N_TABLES)
    )
    return f"""
WITH corpus AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
keyed AS ({keyed}),
qkeys AS (SELECT vec_id AS query_id, v AS qv, bucket FROM keyed WHERE vec_id < {N_ANN_QUERIES}),
cands AS (
  SELECT DISTINCT q.query_id, q.qv, c.vec_id, c.v
  FROM keyed c JOIN qkeys q ON c.bucket = q.bucket),
ranked AS (
  SELECT query_id, vec_id, list_cosine_similarity(v, qv) AS cos,
         row_number() OVER (PARTITION BY query_id ORDER BY list_cosine_similarity(v, qv) DESC, vec_id ASC) AS rank
  FROM cands)
SELECT query_id, CAST(rank AS INT) AS rank, vec_id, round(cos, 6) AS cosine
FROM ranked WHERE rank <= {ANN_K}"""


def q_ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity_search import lsh_topk

    return lsh_topk(
        _embs(spark, sf_dir), _query_vectors(spark, sf_dir), dim=EMB_DIM, k=ANN_K,
        probe_bits=1,
    )


def oracle_ann_lsh_multiprobe() -> str:
    # Multi-probe = the query also probes every bucket at Hamming distance 1
    # from its own, per table. Equivalent closed form: a (corpus, query) pair
    # is a candidate iff their bit strings agree on all-but-<=1 plane in SOME
    # table — rendered with DuckDB's hamming() over the per-table bit suffix.
    from .operators.similarity_search import N_PLANES, N_TABLES, _hyperplane

    def bucket_sql(table: int) -> str:
        bits = []
        for p in range(N_PLANES):
            plane = _hyperplane(EMB_DIM, p, table)
            arr = "[" + ", ".join(f"{x:.1f}" for x in plane) + "]"
            bits.append(f"CASE WHEN list_dot_product(v, {arr}) >= 0 THEN '1' ELSE '0' END")
        return f"'t{table}:' || " + " || ".join(bits)

    keyed = " UNION ALL ".join(
        f"SELECT vec_id, v, {bucket_sql(t)} AS bucket FROM corpus" for t in range(N_TABLES)
    )
    return f"""
WITH corpus AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
keyed AS ({keyed}),
qkeys AS (SELECT vec_id AS query_id, v AS qv, bucket FROM keyed WHERE vec_id < {N_ANN_QUERIES}),
cands AS (
  SELECT DISTINCT q.query_id, q.qv, c.vec_id, c.v
  FROM keyed c JOIN qkeys q
    ON substr(c.bucket, 1, 3) = substr(q.bucket, 1, 3)
   AND hamming(substr(c.bucket, 4), substr(q.bucket, 4)) <= 1),
ranked AS (
  SELECT query_id, vec_id, list_cosine_similarity(v, qv) AS cos,
         row_number() OVER (PARTITION BY query_id ORDER BY list_cosine_similarity(v, qv) DESC, vec_id ASC) AS rank
  FROM cands)
SELECT query_id, CAST(rank AS INT) AS rank, vec_id, round(cos, 6) AS cosine
FROM ranked WHERE rank <= {ANN_K}"""


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity_search import ivf_topk

    return ivf_topk(_embs(spark, sf_dir), _query_vectors(spark, sf_dir), k=ANN_K)


def oracle_ann_ivf_topk() -> str:
    from .operators.similarity_search import N_IVF_CELLS, N_IVF_PROBE

    return f"""
WITH corpus AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (
  SELECT vec_id AS cell_id, v AS cv FROM corpus
  ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC LIMIT {N_IVF_CELLS}),
cassign AS (
  SELECT vec_id, v, cell_id FROM (
    SELECT c.vec_id, c.v, t.cell_id,
           row_number() OVER (PARTITION BY c.vec_id
             ORDER BY list_cosine_similarity(c.v, t.cv) DESC, t.cell_id ASC) AS rn
    FROM corpus c CROSS JOIN cents t) WHERE rn = 1),
q AS (SELECT vec_id AS query_id, v AS qv FROM corpus WHERE vec_id < {N_ANN_QUERIES}),
qprobe AS (
  SELECT query_id, qv, cell_id FROM (
    SELECT q.query_id, q.qv, t.cell_id,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY list_cosine_similarity(q.qv, t.cv) DESC, t.cell_id ASC) AS rn
    FROM q CROSS JOIN cents t) WHERE rn <= {N_IVF_PROBE}),
cands AS (
  SELECT p.query_id, p.qv, c.vec_id, c.v
  FROM cassign c JOIN qprobe p USING (cell_id)),
ranked AS (
  SELECT query_id, vec_id, list_cosine_similarity(v, qv) AS cos,
         row_number() OVER (PARTITION BY query_id ORDER BY list_cosine_similarity(v, qv) DESC, vec_id ASC) AS rank
  FROM cands)
SELECT query_id, CAST(rank AS INT) AS rank, vec_id, round(cos, 6) AS cosine
FROM ranked WHERE rank <= {ANN_K}"""


# The sessions replay always lands as this many input files: with
# maxFilesPerTrigger=8 that forces >=8 micro-batches of UNORDERED history on
# every host, so the harness exercises the same multi-batch watermark path the
# driver's local[32] run takes (round 4's 751/1500 failure was invisible at 8
# cores because the whole history fit one micro-batch there).
SESSIONS_REPLAY_FILES = 64


def q_kg_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 custom stateful streaming (applyInPandasWithState) under the
    batch oracle: transcripts replayed as a file stream are sessionized —
    one row per conversation, emitted exactly once on event-time timeout,
    with whole-conversation features incl. an arrival-order-independent
    text fingerprint. Late 'clock' conversations push the watermark past
    every real session's quiet-period timeout (two pushes: a micro-batch
    evaluates timeouts against the PREVIOUS batch's watermark); the clock
    rows are filtered from the result. Oracle = the same session features
    computed relationally over the static table: incremental state fold ==
    batch aggregation, per conversation, hash-exact.

    Watermark contract of the replay: historical files carry event-time
    disorder up to the FULL ts span of the table (hash-partitioned files in
    arbitrary order), so the only delay that makes the replay lossless is
    one exceeding that span — computed from the data below. A production
    stream's disorder is bounded by real arrival lag and uses a small delay
    (streaming/sessionize.py defaults); a replay of unordered history must
    widen it or it silently drops later files' rows as late (round-4 bug).
    """
    import tempfile

    from .streaming.ingest import read_transcripts_stream
    from .streaming.sessionize import sessionize_conversations

    tmp = tempfile.mkdtemp(prefix="kg_sessions_")
    inp, outp, ckpt = f"{tmp}/in", f"{tmp}/out", f"{tmp}/ckpt"
    t = synth.transcripts_from_sf(spark, sf_dir)
    # hash-partitioned -> files are NOT ts-ordered: the adversarial layout.
    t.repartition(SESSIONS_REPLAY_FILES, "conv_id").write.mode("overwrite").parquet(inp)
    min_ts, max_ts = t.agg(F.min("ts"), F.max("ts")).first()
    span_s = int((max_ts - min_ts).total_seconds())
    wm_s = span_s + 60  # delay > max possible intra-replay disorder

    def clock(tag: str, offset_s: int) -> None:
        spark.createDataFrame(
            [(f"zz_clock_{tag}", 0, "user", "tick", None)],
            "conv_id string, turn_idx int, role string, text string, tool string",
        ).withColumn(
            "ts", F.lit(max_ts) + F.make_interval(secs=F.lit(offset_s))
        ).write.mode("append").parquet(inp)

    def run_once() -> None:
        q = (
            sessionize_conversations(
                read_transcripts_stream(spark, inp),
                watermark=f"{wm_s} seconds",
                gap_ms=30_000,
            )
            .writeStream.format("parquet")
            .option("path", outp)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    # clock pushes sit beyond the watermark delay so the post-clock watermark
    # (clock_ts - wm_s) still clears every real session's timeout (max_ts+30s)
    clock("a", wm_s + 3600)
    run_once()
    clock("b", wm_s + 7200)
    run_once()
    return spark.read.parquet(outp).filter(~F.col("conv_id").startswith("zz_clock"))


def oracle_kg_streaming_sessions() -> str:
    idx_hash = "lpad(CAST(turn_idx AS VARCHAR), 8, '0') || ':' || md5(COALESCE(text, ''))"
    return synth.oracle_prelude() + f"""
SELECT conv_id,
       count(*) AS n_turns,
       min(turn_idx) AS min_turn_idx,
       max(turn_idx) AS max_turn_idx,
       CAST(sum(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS BIGINT) AS n_user_turns,
       md5(string_agg({idx_hash}, '|' ORDER BY {idx_hash})) AS text_fingerprint
FROM transcripts
GROUP BY conv_id"""


def q_dedup_streaming_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 streaming dedup under the batch oracle: the documents table is
    replayed as a file stream with a deterministic event time, deduped
    incrementally with bounded watermark state
    (dropDuplicatesWithinWatermark), and every surviving row's hash is
    returned. WHICH representative document survives is arrival-order
    dependent, so the oracle-stable projection is the deduped key set —
    returned without a defensive distinct, so a malfunctioning stream that
    emits a duplicate (or drops a group) fails the row-count/hash gate.
    Oracle = batch DISTINCT over the same null-safe hash: incremental ==
    batch."""
    import tempfile

    from .streaming.dedup import stream_dedup_documents

    tmp = tempfile.mkdtemp(prefix="dedup_streaming_")
    inp, outp, ckpt = f"{tmp}/in", f"{tmp}/out", f"{tmp}/ckpt"
    # Replay watermark contract (same invariant as kg_streaming_sessions):
    # the synthetic ts span (doc_id % 300 -> 300 s) must stay BELOW the
    # stream's watermark delay (default 10 min), or a multi-file replay at
    # high parallelism drops later files' older rows as late data. 300 < 600
    # holds by construction; keep it that way if either constant changes.
    _SPAN_S, _WM_S = 300, 600
    assert _SPAN_S < _WM_S
    (
        _docs(spark, sf_dir)
        .select(
            "doc_id", "text",
            F.timestamp_seconds(F.lit(1_600_000_000) + F.col("doc_id") % _SPAN_S).alias("ts"),
        )
        .write.mode("overwrite").parquet(inp)
    )
    stream_dedup_documents(spark, inp, outp, ckpt).awaitTermination()
    return spark.read.parquet(outp).select("text_hash")


def oracle_dedup_streaming_exact() -> str:
    from .streaming.dedup import NULL_TEXT_SENTINEL

    return f"""
SELECT DISTINCT COALESCE(md5(text), '{NULL_TEXT_SENTINEL}') AS text_hash
FROM documents"""


def q_ann_ivf_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ann_ivf_topk through the ON-DISK partitioned index
    (ivf_write -> parquet partitionBy(cell_id) -> ivf_topk_indexed with
    partition-pruned scan). Same oracle as ann_ivf_topk: the index is a
    materialization of the identical logical query, so any divergence
    (a cell written or pruned wrongly) fails the hash check."""
    import tempfile

    from .operators.similarity_search import ivf_topk_indexed, ivf_write

    path = tempfile.mkdtemp(prefix="ivf_index_")
    ivf_write(_embs(spark, sf_dir), path)
    return ivf_topk_indexed(spark, path, _query_vectors(spark, sf_dir), k=ANN_K)


def q_emb_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import embedding_near_dup_pairs

    return embedding_near_dup_pairs(_embs(spark, sf_dir), threshold=0.2).select(
        "vec_a", "vec_b", F.round("cosine", 6).alias("cosine")
    )


def oracle_emb_near_dup() -> str:
    # same deterministic random-hyperplane buckets as the Spark side
    # (similarity_search.lsh_bucket_key via dedup.embedding_near_dup_pairs)
    from .operators.similarity_search import N_PLANES, N_TABLES, _hyperplane

    def bucket_sql(table: int) -> str:
        bits = []
        for p in range(N_PLANES):
            plane = _hyperplane(EMB_DIM, p, table)
            arr = "[" + ", ".join(f"{x:.1f}" for x in plane) + "]"
            bits.append(f"CASE WHEN list_dot_product(v, {arr}) >= 0 THEN '1' ELSE '0' END")
        return f"'t{table}:' || " + " || ".join(bits)

    keyed = " UNION ALL ".join(
        f"SELECT vec_id, v, {bucket_sql(t)} AS bucket FROM corpus" for t in range(N_TABLES)
    )
    return f"""
WITH corpus AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
keyed AS ({keyed}),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b, a.v AS va, b.v AS vb
  FROM keyed a JOIN keyed b ON a.bucket = b.bucket
  WHERE a.vec_id < b.vec_id)
SELECT vec_a, vec_b, round(list_cosine_similarity(va, vb), 6) AS cosine
FROM cand WHERE list_cosine_similarity(va, vb) >= 0.2"""


# ---------------------------------------------------------------------------
# training-data curation (operators/curation.py): split / quota sample /
# sequence packing / semantic dedup
# ---------------------------------------------------------------------------

# strata are (lang, source) ~100 combos; sf0.01 stratum sizes are 1..16, so
# the quota must sit inside that range for the filter to be data-dependent
# at the driver's check SF (40 would pass everything through untested)
CURATION_QUOTA = 8
CURATION_PACK_BUDGET = 256
CURATION_PACK_SHARDS = 8
SEMDEDUP_TAU = 0.2


def q_curation_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.curation import corpus_split

    return corpus_split(_docs(spark, sf_dir))


def oracle_curation_split() -> str:
    from .operators.curation import duckdb_hash_bucket

    b = duckdb_hash_bucket("doc_id")
    return f"""
SELECT doc_id, lang, source, CAST({b} AS INT) AS bucket,
       CASE WHEN {b} < 192 THEN 'train'
            WHEN {b} < 224 THEN 'val' ELSE 'test' END AS split
FROM documents"""


def q_curation_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.curation import quota_sample

    return quota_sample(_docs(spark, sf_dir), quota=CURATION_QUOTA)


def oracle_curation_quota() -> str:
    return f"""
WITH r AS (
  SELECT doc_id, lang, source,
         row_number() OVER (PARTITION BY lang, source
           ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS sample_rank
  FROM documents)
SELECT doc_id, lang, source, CAST(sample_rank AS INT) AS sample_rank
FROM r WHERE sample_rank <= {CURATION_QUOTA}"""


def q_curation_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.curation import pack_sequences

    return pack_sequences(
        _docs(spark, sf_dir), budget=CURATION_PACK_BUDGET, n_shards=CURATION_PACK_SHARDS
    )


def oracle_curation_pack() -> str:
    from .operators.curation import duckdb_hash_bucket

    shard = duckdb_hash_bucket("doc_id", buckets=CURATION_PACK_SHARDS)
    return f"""
WITH d AS (
  SELECT doc_id, {shard} AS shard,
         len(list_filter(string_split_regex(text, '\\s+'), x -> x != '')) AS n_tokens,
         md5(CAST(doc_id AS VARCHAR)) AS ord
  FROM documents),
w AS (
  SELECT doc_id, shard, n_tokens,
         row_number() OVER win AS pos,
         sum(n_tokens) OVER win AS cum
  FROM d
  WINDOW win AS (PARTITION BY shard ORDER BY ord ASC, doc_id ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT doc_id, CAST(shard AS INT) AS shard, CAST(pos AS INT) AS pos,
       CAST(n_tokens AS INT) AS n_tokens,
       CAST(shard AS BIGINT) * 1000000
         + CAST(floor((cum - n_tokens) / {CURATION_PACK_BUDGET}.0) AS BIGINT) AS seq_id
FROM w"""


def q_kg_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph analytics over the CONSTRUCTED KG: fixed-point PageRank on the
    (subj)->(uri obj) edge set of the casualties graph — surfaces the
    most-connected entities (municipalities, cemeteries, enum URIs). The
    integer formulation is engine-exact, so the full 6-round iteration is
    value-hash-checked against an unrolled DuckDB recurrence (same
    discipline as kg_connected_components' unrolled min-label oracle)."""
    from .operators.graph_rank import pagerank_fixed_point

    rec = build_silver(spark, sf_dir)
    g = records_to_triples(rec, dims.dim_cemeteries(spark))
    edges = g.filter(F.col("obj_type") == "uri").select(
        F.col("subj").alias("src"), F.col("obj").alias("dst")
    )
    return pagerank_fixed_point(edges)


def oracle_kg_pagerank() -> str:
    from .operators.graph_rank import DAMPING_PCT, N_ITER, SCALE

    d = DAMPING_PCT
    parts = [
        f"cas AS MATERIALIZED ({oracle_triples_casualties()})",
        "e AS (SELECT DISTINCT subj AS src, obj AS dst FROM cas WHERE obj_type = 'uri')",
        "v AS (SELECT src AS vertex FROM e UNION SELECT dst FROM e)",
        "nn AS (SELECT count(*) AS n FROM v)",
        "od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src)",
        f"pr0 AS (SELECT vertex, CAST({SCALE} // n AS BIGINT) AS pr FROM v CROSS JOIN nn)",
    ]
    for k in range(1, N_ITER + 1):
        parts.append(
            f"pr{k} AS (SELECT v.vertex, CAST((({100 - d}) * ({SCALE} // nn.n)) // 100"
            f" + ({d} * COALESCE(s.s, 0)) // 100 AS BIGINT) AS pr\n"
            f"  FROM v CROSS JOIN nn LEFT JOIN (\n"
            f"    SELECT e.dst, sum(p.pr // od.outdeg) AS s\n"
            f"    FROM e JOIN pr{k - 1} p ON e.src = p.vertex JOIN od ON e.src = od.src\n"
            f"    GROUP BY e.dst) s ON v.vertex = s.dst)"
        )
    return "WITH " + ",\n".join(parts) + f"\nSELECT vertex, pr FROM pr{N_ITER}"


# sliding context window for training-example construction from transcripts
TRANSCRIPT_CTX_TURNS = 3


def q_transcripts_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-example construction straight from the transcript table: for
    every turn, the previous up-to-K turns rendered as a 'role: text'
    context block — the SFT-example assembly step of a conversation-data
    pipeline. One window over (conv_id, turn_idx): a single shuffle on
    conv_id, per-conversation state bounded by K, order made deterministic
    by sorting the collected structs on turn_idx (never relying on frame
    arrival order)."""
    from pyspark.sql import Window

    t = synth.transcripts_from_sf(spark, sf_dir)
    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(-TRANSCRIPT_CTX_TURNS, -1)
    )
    ctx = F.array_sort(F.collect_list(F.struct("turn_idx", "role", "text")).over(w))
    with_ctx = t.select("conv_id", "turn_idx", "role", ctx.alias("ctx"))
    return with_ctx.select(
        "conv_id",
        "turn_idx",
        "role",
        F.size("ctx").alias("n_ctx"),
        F.array_join(
            F.transform(
                "ctx",
                lambda x: F.concat(x["role"], F.lit(": "), F.coalesce(x["text"], F.lit(""))),
            ),
            "\n",
        ).alias("context"),
    )


def oracle_transcripts_context() -> str:
    return synth.oracle_prelude() + f"""
SELECT conv_id, turn_idx, role,
       CAST(COALESCE(len(ctx), 0) AS INT) AS n_ctx,
       COALESCE(array_to_string(list_transform(list_sort(ctx),
           x -> x.role || ': ' || COALESCE(x.text, '')), chr(10)), '') AS context
FROM (
  SELECT conv_id, turn_idx, role,
         list(struct_pack(turn_idx := turn_idx, role := role, text := text))
           OVER (PARTITION BY conv_id ORDER BY turn_idx
                 ROWS BETWEEN {TRANSCRIPT_CTX_TURNS} PRECEDING AND 1 PRECEDING) AS ctx
  FROM transcripts) t"""


def q_gazetteer_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Free-text dictionary mention detection over the transcript table: the
    unit-label gazetteer matched against raw turn text (the north-star's
    'batched mention detection' in its unstructured form — the structured
    FIELD=value extractor is kg_records_silver's first stage). Corpus is
    scanned once, windows broadcast-join the dim, overlap suppression is a
    self-anti-join on the small match table only."""
    from .operators.gazetteer import gazetteer_mentions

    t = synth.transcripts_from_sf(spark, sf_dir)
    labels = dims.dim_unit_labels(spark).select(
        F.col("unit_uri").alias("uri"), "label"
    )
    return gazetteer_mentions(t, labels, ["conv_id", "turn_idx"])


def _gazetteer_kept_sql(labels_select: str) -> str:
    """CTE chain (labn..kept) for gazetteer matching over ``transcripts``,
    given a 'SELECT <uri> AS uri, <label> AS label FROM ...' relation —
    the ONE copy of the mention-detection semantics, shared by
    oracle_gazetteer_mentions and oracle_entity_cooccurrence."""
    return r"""
, labn AS (
  SELECT DISTINCT uri,
         array_to_string(lw, ' ') AS gram, len(lw) AS n_words
  FROM (SELECT uri,
               list_filter(string_split_regex(lower(label), '\W+'), x -> x != '') AS lw
        FROM (""" + labels_select + r"""))
  WHERE len(lw) > 0),
nset AS (SELECT DISTINCT n_words AS n FROM labn),
tw AS (
  SELECT conv_id, turn_idx,
         list_filter(string_split_regex(lower(text), '\W+'), x -> x != '') AS w
  FROM transcripts),
grams AS (
  SELECT conv_id, turn_idx, g.start_tok, g.n_words, g.gram FROM (
    SELECT conv_id, turn_idx,
           unnest(list_transform(
             generate_series(1, greatest(len(w) - ns.n + 1, 0)),
             i -> struct_pack(start_tok := CAST(i AS INT),
                              n_words := CAST(ns.n AS INT),
                              gram := array_to_string(w[i : i + ns.n - 1], ' ')))) AS g
    FROM tw CROSS JOIN nset ns)),
matches AS (
  SELECT DISTINCT g.conv_id, g.turn_idx, g.start_tok, g.n_words,
         g.gram AS mention, l.uri
  FROM grams g JOIN labn l ON g.gram = l.gram),
kept AS (
  SELECT m.* FROM matches m
  WHERE NOT EXISTS (
    SELECT 1 FROM matches o
    WHERE o.conv_id = m.conv_id AND o.turn_idx = m.turn_idx
      AND o.start_tok <= m.start_tok + m.n_words - 1
      AND o.start_tok + o.n_words - 1 >= m.start_tok
      AND (o.n_words > m.n_words
           OR (o.n_words = m.n_words AND o.start_tok < m.start_tok))))"""


def oracle_gazetteer_mentions() -> str:
    return (
        synth.oracle_prelude([dims.unit_labels_cte()])
        + _gazetteer_kept_sql("SELECT unit_uri AS uri, label FROM unit_labels")
        + "\nSELECT * FROM kept"
    )


def q_streaming_gazetteer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gazetteer mention detection as an INCREMENTAL streaming job: the
    stateless per-row formulation (literal dictionary map + array HOFs, zero
    shuffle/join) over a file-source replay landed as many unordered files,
    8-file triggers forcing multiple micro-batches. Stateless => loss-free
    at any batching; the oracle is the batch mention SQL — identical rows
    proves incremental == batch."""
    import tempfile

    from .operators.gazetteer import gazetteer_label_index, gazetteer_mentions_stateless
    from .streaming.ingest import read_transcripts_stream

    tmp = tempfile.mkdtemp(prefix="kg_gaz_stream_")
    inp, outp, ckpt = f"{tmp}/in", f"{tmp}/out", f"{tmp}/ckpt"
    synth.transcripts_from_sf(spark, sf_dir).repartition(
        SESSIONS_REPLAY_FILES, "conv_id"
    ).write.mode("overwrite").parquet(inp)
    labels = dims.dim_unit_labels(spark).select(F.col("unit_uri").alias("uri"), "label")
    idx = gazetteer_label_index(labels)
    out = gazetteer_mentions_stateless(
        read_transcripts_stream(spark, inp), idx, ["conv_id", "turn_idx"]
    )
    (
        out.writeStream.format("parquet")
        .option("path", outp)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return spark.read.parquet(outp)


def q_entity_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mention detection -> graph structure: co-occurrence edges between
    gazetteer-detected entities (units + ranks) weighted by the number of
    conversations mentioning both. Suppression scope stays the TURN (the
    text unit); co-occurrence scope is the conversation."""
    from .operators.gazetteer import entity_cooccurrence, gazetteer_mentions

    t = synth.transcripts_from_sf(spark, sf_dir)
    labels = dims.dim_unit_labels(spark).select(
        F.col("unit_uri").alias("uri"), "label"
    ).unionByName(
        dims.dim_rank_labels(spark).select(F.col("rank_uri").alias("uri"), "label")
    )
    m = gazetteer_mentions(t, labels, ["conv_id", "turn_idx"])
    return entity_cooccurrence(m, ["conv_id"])


def oracle_entity_cooccurrence() -> str:
    return (
        synth.oracle_prelude([dims.unit_labels_cte(), dims.rank_labels_cte()])
        + _gazetteer_kept_sql(
            "SELECT unit_uri AS uri, label FROM unit_labels "
            "UNION ALL SELECT rank_uri AS uri, label FROM rank_labels"
        )
        + """
, ents AS (SELECT DISTINCT conv_id, uri FROM kept)
SELECT a.uri AS uri_a, b.uri AS uri_b, CAST(count(*) AS BIGINT) AS n_units
FROM ents a JOIN ents b ON a.conv_id = b.conv_id AND a.uri < b.uri
GROUP BY a.uri, b.uri"""
    )


def _cooccurrence_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical (src < dst, distinct) co-occurrence edge list — the shared
    graph input for kg_entity_cooccurrence and kg_triangles."""
    from .operators.gazetteer import entity_cooccurrence, gazetteer_mentions

    t = synth.transcripts_from_sf(spark, sf_dir)
    labels = dims.dim_unit_labels(spark).select(
        F.col("unit_uri").alias("uri"), "label"
    ).unionByName(
        dims.dim_rank_labels(spark).select(F.col("rank_uri").alias("uri"), "label")
    )
    m = gazetteer_mentions(t, labels, ["conv_id", "turn_idx"])
    return entity_cooccurrence(m, ["conv_id"]).select(
        F.col("uri_a").alias("src"), F.col("uri_b").alias("dst")
    )


def q_kg_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle enumeration over the entity co-occurrence graph — the
    community-structure QA pass (triangle-dense clusters = entity cliques
    mentioned together; input to clustering coefficients and spam-cluster
    detection). Degree-ordered orientation bounds wedge fan-out by
    O(sqrt(m)) — see operators/graph_rank.triangles."""
    from .operators.graph_rank import triangles

    return triangles(_cooccurrence_edges(spark, sf_dir))


def oracle_kg_triangles() -> str:
    """Independent formulation: plain 3-way self-join over the canonical
    (a < b) undirected edge list — a < b < c falls out of canonicality, and
    each triangle appears exactly once. The Spark side uses degree
    orientation instead; identical hash proves the two agree."""
    return (
        synth.oracle_prelude([dims.unit_labels_cte(), dims.rank_labels_cte()])
        + _gazetteer_kept_sql(
            "SELECT unit_uri AS uri, label FROM unit_labels "
            "UNION ALL SELECT rank_uri AS uri, label FROM rank_labels"
        )
        + """
, ents AS (SELECT DISTINCT conv_id, uri FROM kept),
edges AS (
  SELECT DISTINCT a.uri AS s, b.uri AS t
  FROM ents a JOIN ents b ON a.conv_id = b.conv_id AND a.uri < b.uri)
SELECT e1.s AS a, e1.t AS b, e2.t AS c
FROM edges e1
JOIN edges e2 ON e2.s = e1.t
JOIN edges e3 ON e3.s = e1.s AND e3.t = e2.t"""
    )


def q_kg_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per co-occurrence-graph vertex — the
    community-cohesion QA metric (2T(v)/(d(v)(d(v)-1))), composed from the
    degree-oriented triangle enumerator + the degree profile."""
    from .operators.graph_rank import clustering_coefficient

    return clustering_coefficient(_cooccurrence_edges(spark, sf_dir))


def oracle_kg_clustering() -> str:
    return (
        synth.oracle_prelude([dims.unit_labels_cte(), dims.rank_labels_cte()])
        + _gazetteer_kept_sql(
            "SELECT unit_uri AS uri, label FROM unit_labels "
            "UNION ALL SELECT rank_uri AS uri, label FROM rank_labels"
        )
        + """
, ents AS (SELECT DISTINCT conv_id, uri FROM kept),
edges AS (
  SELECT DISTINCT a.uri AS s, b.uri AS t
  FROM ents a JOIN ents b ON a.conv_id = b.conv_id AND a.uri < b.uri),
tri AS (
  SELECT e1.s AS a, e1.t AS b, e2.t AS c
  FROM edges e1
  JOIN edges e2 ON e2.s = e1.t
  JOIN edges e3 ON e3.s = e1.s AND e3.t = e2.t),
tv AS (
  SELECT v, count(*) AS n_tri FROM (
    SELECT a AS v FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri)
  GROUP BY v),
deg AS (
  SELECT v, count(*) AS degree FROM (
    SELECT s AS v FROM edges UNION ALL SELECT t FROM edges)
  GROUP BY v)
SELECT d.v AS vertex, CAST(d.degree AS BIGINT) AS degree,
       CAST(COALESCE(tv.n_tri, 0) AS BIGINT) AS n_triangles,
       round(CASE WHEN d.degree >= 2
                  THEN 2.0 * COALESCE(tv.n_tri, 0) / (d.degree * (d.degree - 1.0))
                  ELSE 0.0 END, 6) AS coeff
FROM deg d LEFT JOIN tv ON tv.v = d.v"""
    )


def q_transcripts_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text_analysis import response_latency

    return response_latency(synth.transcripts_from_sf(spark, sf_dir))


def oracle_transcripts_latency() -> str:
    return synth.oracle_prelude() + """
, ans AS (
  SELECT conv_id, turn_idx, role, ts,
         min(CASE WHEN role = 'assistant' THEN turn_idx END)
           OVER w AS ans_turn_idx,
         min(CASE WHEN role = 'assistant' THEN ts END) OVER w AS ans_ts
  FROM transcripts
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
SELECT conv_id, turn_idx, ans_turn_idx,
       CAST(ans_turn_idx - turn_idx - 1 AS INT) AS n_intervening,
       CAST(date_diff('second', ts, ans_ts) AS BIGINT) AS latency_sec
FROM ans WHERE role = 'user'"""


def q_dedup_conversations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation-granularity near-dup over the transcript table: banded
    minhash on the union of per-turn shingle sets (the conversation is never
    concatenated), LSH candidates verified by exact Jaccard >= 0.5."""
    from .operators.dedup import conversation_jaccard_pairs

    return conversation_jaccard_pairs(
        synth.transcripts_from_sf(spark, sf_dir), threshold=0.5
    )


def oracle_dedup_conversations() -> str:
    return synth.oracle_prelude() + r"""
, cwords AS (
  SELECT conv_id, list_filter(string_split_regex(lower(text), '\W+'), w -> w != '') AS w
  FROM transcripts WHERE text IS NOT NULL),
cshingles AS (
  SELECT conv_id,
         list_transform(generate_series(1, greatest(len(w) - 2, 1)),
                        i -> array_to_string(w[i : i + 2], ' ')) AS sh
  FROM cwords),
cset AS MATERIALIZED (
  SELECT DISTINCT conv_id, shingle
  FROM (SELECT conv_id, unnest(sh) AS shingle FROM cshingles)),
csig AS (
  SELECT conv_id, s, min(md5(CAST(s AS VARCHAR) || ':' || shingle)) AS mh
  FROM cset CROSS JOIN (SELECT unnest(generate_series(0, 11)) AS s)
  GROUP BY conv_id, s),
cbands AS (
  SELECT conv_id, CAST((s - s % 3) / 3 AS INT) AS band_idx,
         md5(CAST(CAST((s - s % 3) / 3 AS INT) AS VARCHAR) || '|' || string_agg(mh, ',' ORDER BY s)) AS band_key
  FROM csig GROUP BY conv_id, CAST((s - s % 3) / 3 AS INT)),
cpairs AS (
  SELECT DISTINCT a.conv_id AS conv_a, b.conv_id AS conv_b
  FROM cbands a JOIN cbands b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
  WHERE a.conv_id < b.conv_id),
csets AS MATERIALIZED (
  SELECT conv_id, list(DISTINCT shingle) AS sh FROM cset GROUP BY conv_id)
SELECT conv_a, conv_b, jaccard FROM (
  SELECT p.conv_a, p.conv_b,
         CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
           / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) AS jaccard
  FROM cpairs p
  JOIN csets a ON p.conv_a = a.conv_id
  JOIN csets b ON p.conv_b = b.conv_id
) WHERE jaccard >= 0.5"""


def q_transcripts_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text_analysis import conversation_profile

    return conversation_profile(synth.transcripts_from_sf(spark, sf_dir))


def oracle_transcripts_profile() -> str:
    return synth.oracle_prelude() + r"""
, base AS (
  SELECT conv_id, turn_idx, role, tool,
         COALESCE(length(text), 0) AS chars,
         COALESCE(len(list_filter(string_split_regex(text, '\s+'), x -> x != '')), 0) AS toks,
         lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_role
  FROM transcripts)
SELECT conv_id,
       count(*) AS n_turns,
       count(*) FILTER (role = 'user') AS n_user,
       count(*) FILTER (role = 'assistant') AS n_assistant,
       count(*) FILTER (tool IS NOT NULL) AS n_tool_calls,
       count(DISTINCT tool) AS n_distinct_tools,
       CAST(sum(chars) AS BIGINT) AS total_chars,
       CAST(sum(toks) AS BIGINT) AS total_tokens,
       round(CAST(sum(chars) AS DOUBLE) / count(*), 6) AS mean_turn_chars,
       CAST(count(*) FILTER (prev_role IS NOT NULL AND role != prev_role) AS INT)
         AS n_role_transitions
FROM base GROUP BY conv_id"""


# data-mixing spec for the contract query: several distinct keep-rates, one
# source fully dropped (weight 0), remaining sources on the default rate
MIXTURE_WEIGHTS = {"src0": 1.0, "src1": 0.75, "src2": 0.5, "src3": 0.25, "src4": 0.0}
MIXTURE_DEFAULT = 0.5


def q_curation_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.curation import mixture_sample

    return mixture_sample(
        _docs(spark, sf_dir), MIXTURE_WEIGHTS, default_weight=MIXTURE_DEFAULT
    )


def oracle_curation_mixture() -> str:
    from .operators.curation import MIXTURE_SALT, duckdb_hash_bucket

    b = duckdb_hash_bucket("doc_id", salt=MIXTURE_SALT)
    cases = " ".join(
        f"WHEN '{s}' THEN {round(w * 256)}" for s, w in sorted(MIXTURE_WEIGHTS.items())
    )
    return f"""
SELECT doc_id, lang, source FROM documents
WHERE {b} < CASE source {cases} ELSE {round(MIXTURE_DEFAULT * 256)} END"""


# the synthetic corpus has ~31 distinct words, so the top-N cut must sit
# below that to be data-dependent at the driver's check SFs
VOCAB_TOP_N = 20


def q_corpus_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text_analysis import corpus_vocab

    return corpus_vocab(_docs(spark, sf_dir), top_n=VOCAB_TOP_N)


def oracle_corpus_vocab() -> str:
    return f"""
WITH words AS (
  SELECT unnest(list_filter(string_split_regex(lower(text), '\\W+'), w -> w != '')) AS word
  FROM documents),
counts AS (SELECT word, count(*) AS n FROM words GROUP BY word),
tot AS (SELECT sum(n) AS total FROM counts),
ranked AS (
  SELECT word, n,
         row_number() OVER (ORDER BY n DESC, word ASC) AS rank,
         sum(n) OVER (ORDER BY n DESC, word ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM counts)
SELECT word, n, CAST(rank AS INT) AS rank,
       round(CAST(cum AS DOUBLE) / total, 6) AS cum_frac
FROM ranked CROSS JOIN tot WHERE rank <= {VOCAB_TOP_N}"""


# top-k cut for the TF-IDF contract query — small enough to be selective
# over the synthetic corpus's ~31-word vocabulary
TFIDF_TOP_K = 5


def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text_analysis import tfidf_top_terms

    return tfidf_top_terms(_docs(spark, sf_dir), k=TFIDF_TOP_K)


def oracle_text_tfidf() -> str:
    """Same smoothed idf (``ln((N+1)/(df+1))``), same 6-dp round BEFORE the
    rank window, same (tfidf DESC, word ASC) tie-break — ln() rounds
    identically across the two engines (verified empirically over the df
    range)."""
    return rf"""
WITH words AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '\W+'), w -> w != '')) AS word
  FROM documents WHERE text IS NOT NULL),
tf AS (SELECT doc_id, word, count(*) AS tf FROM words GROUP BY doc_id, word),
docfreq AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tf),
scored AS (
  SELECT t.doc_id, t.word, t.tf, d.df,
         round(t.tf * ln((n.n_docs + 1.0) / (d.df + 1.0)), 6) AS tfidf
  FROM tf t JOIN docfreq d USING (word) CROSS JOIN n),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, word ASC) AS rank
  FROM scored)
SELECT doc_id, word, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       tfidf, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {TFIDF_TOP_K}"""


def q_text_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text_analysis import bigram_model

    return bigram_model(_docs(spark, sf_dir))


def oracle_text_bigrams() -> str:
    return r"""
WITH w AS (
  SELECT list_filter(string_split_regex(lower(text), '\W+'), x -> x != '') AS wd
  FROM documents WHERE text IS NOT NULL),
pairs AS (
  SELECT unnest(list_transform(generate_series(1, len(wd) - 1),
                               i -> struct_pack(w1 := wd[i], w2 := wd[i + 1]))) AS bg
  FROM w WHERE len(wd) >= 2),
counts AS (SELECT bg.w1 AS w1, bg.w2 AS w2, count(*) AS n FROM pairs GROUP BY 1, 2)
SELECT w1, w2, CAST(n AS BIGINT) AS n,
       round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY w1), 6) AS p
FROM counts"""


def q_events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.events import retention_cohorts

    return retention_cohorts(_events(spark, sf_dir))


def oracle_events_retention() -> str:
    return """
WITH e AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         min(CAST(ts AS DATE)) OVER (PARTITION BY user_id) AS cohort_day
  FROM events)
SELECT cohort_day, CAST(date_diff('day', cohort_day, day) AS INT) AS day_offset,
       count(DISTINCT user_id) AS n_active
FROM e GROUP BY 1, 2"""


FUNNEL_STEPS = ("view", "click", "purchase")


def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel conversion (view → click → purchase) — joinless
    chained-window formulation, one user_id Exchange regardless of depth."""
    from .operators.events import funnel

    return funnel(_events(spark, sf_dir), steps=FUNNEL_STEPS)


def oracle_events_funnel() -> str:
    """Same chained conditional-min windows, written as nested CTEs — step
    k's strictly-after condition references step k-1's window result."""
    return """
WITH w1 AS (
  SELECT user_id, ts, event_type,
         min(CASE WHEN event_type = 'view' THEN ts END)
           OVER (PARTITION BY user_id) AS t1
  FROM events),
w2 AS (
  SELECT *, min(CASE WHEN event_type = 'click' AND ts > t1 THEN ts END)
              OVER (PARTITION BY user_id) AS t2
  FROM w1),
w3 AS (
  SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t2 THEN ts END)
              OVER (PARTITION BY user_id) AS t3
  FROM w2),
pu AS (SELECT user_id, min(t1) AS t1, min(t2) AS t2, min(t3) AS t3
       FROM w3 GROUP BY 1)
SELECT CAST(1 AS INT) AS step, 'view' AS event_type, count(t1) AS n_users FROM pu
UNION ALL SELECT 2, 'click', count(t2) FROM pu
UNION ALL SELECT 3, 'purchase', count(t3) FROM pu"""


def q_events_hopping(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.events import hopping_rollup

    return hopping_rollup(_events(spark, sf_dir))


def oracle_events_hopping() -> str:
    """Each event belongs to exactly two 1h/30min hopping windows: starts
    time_bucket_30(ts) and time_bucket_30(ts) − 30 min (ws ≤ ts holds since
    the bucket floors; ts < ws + 1h holds since ws ≥ bucket − 30 min)."""
    return """
WITH x AS (
  SELECT time_bucket(INTERVAL 30 MINUTE, ts) - k * INTERVAL 30 MINUTE AS ws,
         event_type, value
  FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k))
SELECT ws, event_type, count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,3))) AS DOUBLE) AS sum_value
FROM x GROUP BY 1, 2"""


KMV_K = 8


def q_events_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV approximate-distinct sketch — deterministic (md5-based), so the
    estimate itself is hash-checked against DuckDB's independent
    implementation; the verifiable stand-in for HLL."""
    from .operators.events import approx_distinct_kmv

    return approx_distinct_kmv(_events(spark, sf_dir), k=KMV_K)


def oracle_events_approx_distinct() -> str:
    return f"""
WITH pairs AS (
  SELECT DISTINCT event_type, md5(CAST(user_id AS VARCHAR)) AS h
  FROM events WHERE user_id IS NOT NULL),
kept AS (
  SELECT event_type, h FROM (
    SELECT event_type, h,
           row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
    FROM pairs) WHERE rn <= {KMV_K})
SELECT event_type, count(*) AS n_kept,
       round(CASE WHEN count(*) < {KMV_K} THEN CAST(count(*) AS DOUBLE)
             ELSE {float(KMV_K - 1)} /
                  (CAST(('0x' || substr(max(h), 1, 8))::BIGINT AS DOUBLE)
                   / 4294967296.0) END, 4) AS est_distinct
FROM kept GROUP BY 1"""


HIST_WIDTH = 50.0
HIST_BINS = 10


def q_events_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.events import value_histogram

    return value_histogram(_events(spark, sf_dir), HIST_WIDTH, HIST_BINS)


def oracle_events_histogram() -> str:
    return f"""
SELECT event_type,
       CAST(least(floor(value / {HIST_WIDTH}), {HIST_BINS - 1}) AS INT) AS bin,
       count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,3))) AS DOUBLE) AS sum_value
FROM events WHERE value IS NOT NULL
GROUP BY 1, 2"""


LPA_ROUNDS = 3


def q_kg_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection over the WEIGHTED entity co-occurrence graph —
    synchronous label propagation, deterministic tie order, fixed rounds."""
    from .operators.gazetteer import entity_cooccurrence, gazetteer_mentions
    from .operators.graph_rank import label_propagation

    t = synth.transcripts_from_sf(spark, sf_dir)
    labels = dims.dim_unit_labels(spark).select(
        F.col("unit_uri").alias("uri"), "label"
    ).unionByName(
        dims.dim_rank_labels(spark).select(F.col("rank_uri").alias("uri"), "label")
    )
    m = gazetteer_mentions(t, labels, ["conv_id", "turn_idx"])
    edges = entity_cooccurrence(m, ["conv_id"]).withColumnRenamed(
        "n_units", "weight"
    )
    return label_propagation(edges, rounds=LPA_ROUNDS)


def oracle_kg_label_propagation() -> str:
    """The synchronous recurrence unrolled (the CC/pagerank oracle
    discipline): per round, weighted neighbor-label votes then argmax per
    vertex with (weight DESC, label ASC) — DuckDB's row_number is its own
    independent implementation of the same total order."""
    rounds = []
    for r in range(1, LPA_ROUNDS + 1):
        prev = "l0" if r == 1 else f"l{r - 1}"
        rounds.append(f"""
, v{r} AS (
  SELECT b.dst, l.label, sum(b.w) AS w
  FROM bidir b JOIN {prev} l ON b.src = l.uri GROUP BY 1, 2),
l{r} AS (
  SELECT dst AS uri, label FROM (
    SELECT dst, label,
           row_number() OVER (PARTITION BY dst ORDER BY w DESC, label ASC) AS rn
    FROM v{r}) WHERE rn = 1)""")
    return (
        synth.oracle_prelude([dims.unit_labels_cte(), dims.rank_labels_cte()])
        + _gazetteer_kept_sql(
            "SELECT unit_uri AS uri, label FROM unit_labels "
            "UNION ALL SELECT rank_uri AS uri, label FROM rank_labels"
        )
        + """
, ents AS (SELECT DISTINCT conv_id, uri FROM kept),
edges AS (
  SELECT a.uri AS uri_a, b.uri AS uri_b, CAST(count(*) AS BIGINT) AS w
  FROM ents a JOIN ents b ON a.conv_id = b.conv_id AND a.uri < b.uri
  GROUP BY 1, 2),
bidir AS (
  SELECT uri_a AS src, uri_b AS dst, w FROM edges
  UNION ALL SELECT uri_b, uri_a, w FROM edges),
l0 AS (SELECT DISTINCT src AS uri, src AS label FROM bidir)"""
        + "".join(rounds)
        + f"\nSELECT uri, label FROM l{LPA_ROUNDS}"
    )


# incoming-batch split for the incremental dedup contract: the curation
# "test" bucket (md5 bucket >= 224, ~12.5%) plays the newly-arrived batch,
# the rest is the existing corpus — deterministic and scale-proportional
INCR_BATCH_EDGE = 224
INCR_JACCARD = 0.5


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.curation import hash_bucket
    from .operators.dedup import incremental_dedup

    docs = _docs(spark, sf_dir)
    b = hash_bucket(F.col("doc_id"))
    return incremental_dedup(
        docs.filter(b < INCR_BATCH_EDGE),
        docs.filter(b >= INCR_BATCH_EDGE),
        jaccard_threshold=INCR_JACCARD,
    )


def oracle_dedup_incremental() -> str:
    from .operators.curation import duckdb_hash_bucket

    bkt = duckdb_hash_bucket("doc_id")
    return f"""
WITH {_SHINGLE_CTES},
batch AS (SELECT doc_id FROM documents WHERE {bkt} >= {INCR_BATCH_EDGE}),
corpus AS (SELECT doc_id FROM documents WHERE {bkt} < {INCR_BATCH_EDGE}),
dhash AS (SELECT doc_id, md5(text) AS h FROM documents),
exact AS (
  SELECT bh.doc_id, min(ch.doc_id) AS exact_dup_of
  FROM dhash bh JOIN batch USING (doc_id)
  JOIN (SELECT dhash.* FROM dhash JOIN corpus USING (doc_id)) ch
    ON bh.h IS NOT DISTINCT FROM ch.h
  GROUP BY bh.doc_id),
cand AS (
  SELECT DISTINCT bb.doc_id, cb.doc_id AS corpus_id
  FROM dbands bb JOIN batch USING (doc_id)
  JOIN (SELECT dbands.* FROM dbands JOIN corpus USING (doc_id)) cb
    ON bb.band_idx = cb.band_idx AND bb.band_key = cb.band_key),
ver AS (
  SELECT cand.doc_id, cand.corpus_id,
         CAST(len(list_intersect(bs.sh, cs.sh)) AS DOUBLE)
           / CAST(len(list_distinct(list_concat(bs.sh, cs.sh))) AS DOUBLE) AS jacc
  FROM cand
  JOIN dshingles bs ON bs.doc_id = cand.doc_id
  JOIN dshingles cs ON cs.doc_id = cand.corpus_id),
near AS (
  SELECT doc_id, corpus_id AS near_dup_of, jacc FROM (
    SELECT ver.*, row_number() OVER (PARTITION BY doc_id
             ORDER BY jacc DESC, corpus_id ASC) AS rn
    FROM ver WHERE jacc >= {INCR_JACCARD}) WHERE rn = 1)
SELECT b.doc_id, e.exact_dup_of, n.near_dup_of, round(n.jacc, 6) AS near_jaccard,
       CASE WHEN e.exact_dup_of IS NOT NULL THEN 'exact'
            WHEN n.near_dup_of IS NOT NULL THEN 'near'
            ELSE 'unique' END AS verdict
FROM batch b
LEFT JOIN exact e USING (doc_id)
LEFT JOIN near n USING (doc_id)"""


# the intra-batch variant uses a HALF-corpus batch (bucket >= 128) so
# intra-batch duplicate pairs occur organically at the check SFs — with the
# 12.5% batch the odds of both members of a planted dup family landing in
# the batch are ~1.5% per pair
INCR_INTRA_EDGE = 128


def q_dedup_incremental_intra(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.curation import hash_bucket
    from .operators.dedup import incremental_dedup

    docs = _docs(spark, sf_dir)
    b = hash_bucket(F.col("doc_id"))
    return incremental_dedup(
        docs.filter(b < INCR_INTRA_EDGE),
        docs.filter(b >= INCR_INTRA_EDGE),
        jaccard_threshold=INCR_JACCARD,
        intra_batch=True,
    )


def oracle_dedup_incremental_intra() -> str:
    from .operators.curation import duckdb_hash_bucket

    bkt = duckdb_hash_bucket("doc_id")
    return f"""
WITH {_SHINGLE_CTES},
batch AS (SELECT doc_id FROM documents WHERE {bkt} >= {INCR_INTRA_EDGE}),
corpus AS (SELECT doc_id FROM documents WHERE {bkt} < {INCR_INTRA_EDGE}),
dhash AS (SELECT doc_id, md5(text) AS h FROM documents),
cexact AS (
  SELECT bh.doc_id, min(ch.doc_id) AS corpus_exact
  FROM dhash bh JOIN batch USING (doc_id)
  JOIN (SELECT dhash.* FROM dhash JOIN corpus USING (doc_id)) ch
    ON bh.h IS NOT DISTINCT FROM ch.h
  GROUP BY bh.doc_id),
iexact AS (
  SELECT doc_id,
         min(doc_id) OVER (PARTITION BY h ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS intra_exact
  FROM dhash JOIN batch USING (doc_id)),
exact AS (
  SELECT b.doc_id,
         CASE WHEN ce.corpus_exact IS NULL THEN ie.intra_exact
              WHEN ie.intra_exact IS NULL THEN ce.corpus_exact
              ELSE least(ce.corpus_exact, ie.intra_exact) END AS exact_dup_of
  FROM batch b
  LEFT JOIN cexact ce USING (doc_id)
  LEFT JOIN iexact ie USING (doc_id)),
ccand AS (
  SELECT DISTINCT bb.doc_id, cb.doc_id AS cand_id
  FROM dbands bb JOIN batch USING (doc_id)
  JOIN (SELECT dbands.* FROM dbands JOIN corpus USING (doc_id)) cb
    ON bb.band_idx = cb.band_idx AND bb.band_key = cb.band_key),
icand AS (
  SELECT DISTINCT bb.doc_id, ib.doc_id AS cand_id
  FROM dbands bb JOIN batch USING (doc_id)
  JOIN (SELECT dbands.* FROM dbands JOIN batch USING (doc_id)) ib
    ON bb.band_idx = ib.band_idx AND bb.band_key = ib.band_key
  WHERE ib.doc_id < bb.doc_id),
cand AS (SELECT * FROM ccand UNION ALL SELECT * FROM icand),
ver AS (
  SELECT cand.doc_id, cand.cand_id,
         CAST(len(list_intersect(bs.sh, cs.sh)) AS DOUBLE)
           / CAST(len(list_distinct(list_concat(bs.sh, cs.sh))) AS DOUBLE) AS jacc
  FROM cand
  JOIN dshingles bs ON bs.doc_id = cand.doc_id
  JOIN dshingles cs ON cs.doc_id = cand.cand_id),
near AS (
  SELECT doc_id, cand_id AS near_dup_of, jacc FROM (
    SELECT ver.*, row_number() OVER (PARTITION BY doc_id
             ORDER BY jacc DESC, cand_id ASC) AS rn
    FROM ver WHERE jacc >= {INCR_JACCARD}) WHERE rn = 1)
SELECT b.doc_id, e.exact_dup_of, n.near_dup_of, round(n.jacc, 6) AS near_jaccard,
       CASE WHEN e.exact_dup_of IS NOT NULL THEN 'exact'
            WHEN n.near_dup_of IS NOT NULL THEN 'near'
            ELSE 'unique' END AS verdict
FROM batch b
LEFT JOIN exact e USING (doc_id)
LEFT JOIN near n USING (doc_id)"""


def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.curation import semantic_dedup

    return semantic_dedup(_embs(spark, sf_dir), tau=SEMDEDUP_TAU)


def oracle_dedup_semantic() -> str:
    from .operators.similarity_search import N_IVF_CELLS

    return f"""
WITH corpus AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (
  SELECT vec_id AS cell_id, v AS cv FROM corpus
  ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC LIMIT {N_IVF_CELLS}),
cassign AS (
  SELECT vec_id, v, cell_id FROM (
    SELECT c.vec_id, c.v, t.cell_id,
           row_number() OVER (PARTITION BY c.vec_id
             ORDER BY list_cosine_similarity(c.v, t.cv) DESC, t.cell_id ASC) AS rn
    FROM corpus c CROSS JOIN cents t) WHERE rn = 1),
dups AS (
  SELECT b.vec_id, min(a.vec_id) AS dup_of
  FROM cassign a JOIN cassign b
    ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
  WHERE list_cosine_similarity(a.v, b.v) >= {SEMDEDUP_TAU}
  GROUP BY b.vec_id)
SELECT c.vec_id, c.cell_id, d.dup_of IS NULL AS kept, d.dup_of
FROM cassign c LEFT JOIN dups d USING (vec_id)"""


KHOP_K = 3


def q_kg_khop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded neighborhood expansion over the constructed KG: every vertex
    within KHOP_K undirected hops of the deterministic seed set (records
    whose md5 starts with '0', ~1/16), with min hop distance — SPARQL's
    ``seed (:p|^:p){0,3} ?v`` bounded property path, the query behind
    'assemble the context subgraph around these entities'. Spark side is
    real frontier BFS (operators/graph_rank.k_hop); the oracle unrolls the
    same reachability as K set-union CTEs with a min-level CASE — unrolled
    rather than WITH RECURSIVE for the same DuckDB-nondeterminism reason as
    kg_connected_components' oracle."""
    from .operators.graph_rank import k_hop

    rec = build_silver(spark, sf_dir)
    g = records_to_triples(rec, dims.dim_cemeteries(spark))
    edges = g.filter(F.col("obj_type") == "uri").select(
        F.col("subj").alias("src"), F.col("obj").alias("dst")
    )
    seeds = (
        g.filter(F.md5("subj").startswith("0"))
        .select(F.col("subj").alias("vertex"))
        .distinct()
    )
    return k_hop(edges, seeds, k=KHOP_K)


def oracle_kg_khop() -> str:
    base = oracle_triples_casualties()
    parts = [
        f"cas AS MATERIALIZED ({base})",
        "e AS (SELECT DISTINCT subj AS src, obj AS dst FROM cas WHERE obj_type = 'uri')",
        "u AS (SELECT src, dst FROM e UNION SELECT dst AS src, src AS dst FROM e)",
        "r0 AS (SELECT DISTINCT subj AS vertex FROM cas WHERE md5(subj) LIKE '0%')",
    ]
    for k in range(1, KHOP_K + 1):
        parts.append(
            f"r{k} AS (SELECT u.dst AS vertex FROM u JOIN r{k - 1} p ON u.src = p.vertex"
            f" UNION SELECT vertex FROM r{k - 1})"
        )
    case = " ".join(
        f"WHEN vertex IN (SELECT vertex FROM r{k}) THEN {k}" for k in range(KHOP_K)
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT vertex, CAST(CASE {case} ELSE {KHOP_K} END AS INT) AS dist FROM r{KHOP_K}"
    )


# incident window length == range-join bucket width (intervals span <=2 buckets)
INCIDENT_WINDOW_SEC = 1800


def q_events_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval range join, scale-safe: every purchase landing in
    the half-open 30-minute window after an error by the same user. The
    Spark side is the bucketed equi-join decomposition
    (operators/events.interval_join — no theta join, no nested loop); the
    oracle is the naive BETWEEN join DuckDB can afford at sf0.01 — two
    independent formulations of the same contract."""
    from .operators.events import interval_join

    ev = _events(spark, sf_dir)
    err = (
        ev.filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("incident_id"),
            F.col("ts").alias("start_ts"),
            "user_id",
        )
        .withColumn("end_ts", F.expr(f"start_ts + INTERVAL {INCIDENT_WINDOW_SEC} SECOND"))
    )
    pur = ev.filter(F.col("event_type") == "purchase").select("event_id", "ts", "user_id")
    j = interval_join(pur, err, bucket_seconds=INCIDENT_WINDOW_SEC)
    return j.select(
        "incident_id",
        F.col("start_ts").alias("incident_ts"),
        "user_id",
        "event_id",
        "ts",
        F.expr("timestampdiff(MICROSECOND, start_ts, ts)").alias("delta_us"),
    )


def oracle_events_interval_join() -> str:
    return f"""
WITH e AS (SELECT event_id AS incident_id, ts AS incident_ts, user_id
           FROM events WHERE event_type = 'error'),
p AS (SELECT event_id, ts, user_id FROM events WHERE event_type = 'purchase')
SELECT e.incident_id, e.incident_ts, e.user_id, p.event_id, p.ts,
       epoch_us(p.ts) - epoch_us(e.incident_ts) AS delta_us
FROM e JOIN p ON p.user_id = e.user_id AND p.ts >= e.incident_ts
             AND p.ts < e.incident_ts + INTERVAL {INCIDENT_WINDOW_SEC} SECOND"""


def q_events_streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 stream-stream join: the interval-join contract run as a
    WATERMARKED two-stream inner join over an adversarial replay —
    64 hash-partitioned (ts-unordered) files, 8-file triggers forcing
    multiple micro-batches on every host. Watermark delay = data span + 60 s
    (replay disorder can reach the full span; the round-4 lesson), so the
    single availableNow pass is loss-free and the result must equal the
    BATCH naive join — same oracle as events_interval_join."""
    import tempfile

    from .operators.events import stream_interval_join

    tmp = tempfile.mkdtemp(prefix="ev_ssj_")
    inp, outp, ckpt = f"{tmp}/in", f"{tmp}/out", f"{tmp}/ckpt"
    ev = _events(spark, sf_dir)
    ev.repartition(SESSIONS_REPLAY_FILES, "event_id").write.mode(
        "overwrite"
    ).parquet(inp)
    min_ts, max_ts = ev.agg(F.min("ts"), F.max("ts")).first()
    span_s = int((max_ts - min_ts).total_seconds())
    q = stream_interval_join(
        spark, inp, ckpt, outp,
        window_sec=INCIDENT_WINDOW_SEC,
        watermark_sec=span_s + 60,
    )
    q.awaitTermination()
    return spark.read.parquet(outp)


def oracle_events_streaming_interval_join() -> str:
    return oracle_events_interval_join()


def q_validity_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 audit trail over the correction-batch history of the functional
    rank_literal predicate: batch 0 is the constructed graph's value, batch 1
    re-asserts a 'k1-' correction for the md5-'0/1' ~1/8 sample, batch 2 a
    'k2-' correction for the '0' ~1/16 sample — so subjects carry 1, 2, or 3
    versions, each emitted with its validity window and currency flag
    (operators/triples.validity_intervals)."""
    from .operators.triples import validity_intervals

    rec = build_silver(spark, sf_dir)
    g = records_to_triples(rec, dims.dim_cemeteries(spark))
    rank_pred = NS.cas("rank_literal")
    vals = g.filter(F.col("pred") == rank_pred).select("subj", "pred", "obj")
    h = F.substring(F.md5("subj"), 1, 1)
    b0 = vals.withColumn("batch_seq", F.lit(0))
    b1 = (
        vals.filter(h.isin("0", "1"))
        .select("subj", "pred", F.concat(F.lit("k1-"), F.col("obj")).alias("obj"))
        .withColumn("batch_seq", F.lit(1))
    )
    b2 = (
        vals.filter(h == "0")
        .select("subj", "pred", F.concat(F.lit("k2-"), F.col("obj")).alias("obj"))
        .withColumn("batch_seq", F.lit(2))
    )
    return validity_intervals(b0.unionByName(b1).unionByName(b2))


def oracle_validity_intervals() -> str:
    base = oracle_triples_casualties()
    rank_pred = NS.cas("rank_literal")
    return f"""WITH cas AS MATERIALIZED ({base}),
v0 AS (SELECT subj, pred, obj FROM cas WHERE pred = '{rank_pred}'),
v AS (
  SELECT subj, pred, obj, 0 AS batch_seq FROM v0
  UNION ALL
  SELECT subj, pred, 'k1-' || obj, 1 FROM v0
  WHERE substr(md5(subj), 1, 1) IN ('0', '1')
  UNION ALL
  SELECT subj, pred, 'k2-' || obj, 2 FROM v0 WHERE substr(md5(subj), 1, 1) = '0')
SELECT subj, pred, obj, CAST(batch_seq AS INT) AS valid_from,
       CAST(lead(batch_seq) OVER w AS INT) AS valid_to,
       lead(batch_seq) OVER w IS NULL AS is_current
FROM v WINDOW w AS (PARTITION BY subj, pred ORDER BY batch_seq)"""


def q_olap_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary over lineitem: single scan with the
    shipdate filter pushed down, one map-side-combinable shuffle to a
    4-group result. All money sums follow the exact-decimal / final-double
    discipline; the averages are derived from the exact sums as IEEE double
    divisions (identical on both engines), never from a float accumulator."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").filter(
        F.col("l_shipdate") <= "1998-09-02"
    )
    disc_price = (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    charge = (
        F.col("l_extendedprice")
        * (F.lit(1) - F.col("l_discount"))
        * (F.lit(1) + F.col("l_tax"))
    ).cast("decimal(18,6)")
    agg = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_base_price"),
        F.sum(disc_price).cast("double").alias("sum_disc_price"),
        F.sum(charge).cast("double").alias("sum_charge"),
        F.count(F.lit(1)).alias("count_order"),
    )
    return agg.select(
        "l_returnflag",
        "l_linestatus",
        "sum_qty",
        "sum_base_price",
        "sum_disc_price",
        "sum_charge",
        (F.col("sum_qty") / F.col("count_order")).alias("avg_qty"),
        (F.col("sum_base_price") / F.col("count_order")).alias("avg_price"),
        "count_order",
    )


def oracle_olap_pricing_summary() -> str:
    return """
WITH a AS (
  SELECT l_returnflag, l_linestatus,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
         CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
         CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
         count(*) AS count_order
  FROM lineitem WHERE l_shipdate <= DATE '1998-09-02'
  GROUP BY l_returnflag, l_linestatus)
SELECT l_returnflag, l_linestatus, sum_qty, sum_base_price, sum_disc_price, sum_charge,
       sum_qty / count_order AS avg_qty,
       sum_base_price / count_order AS avg_price,
       count_order
FROM a"""


def q_olap_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-shaped large-quantity-order report: the HAVING-on-rollup →
    join-back idiom. lineitem aggregates once (exact decimal quantity sum);
    the small qualifying-order set then drives the orders probe and the
    customer dimension broadcasts — lineitem is scanned exactly once and
    never re-shuffled."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("qdec"))
        .filter(F.col("qdec") > 250)
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    return (
        orders.join(F.broadcast(big), orders.o_orderkey == big.l_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            F.col("qdec").cast("double").alias("sum_qty"),
        )
    )


def oracle_olap_top_customers() -> str:
    return """
WITH big AS (
  SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS qdec
  FROM lineitem GROUP BY l_orderkey HAVING qdec > 250)
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       CAST(qdec AS DOUBLE) AS sum_qty
FROM orders JOIN big ON o_orderkey = l_orderkey
JOIN customer ON o_custkey = c_custkey"""


def q_events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.events import zscore_outliers

    return zscore_outliers(_events(spark, sf_dir), threshold=2.5)


def oracle_events_anomaly() -> str:
    """Same exact-sums derivation as the Spark side: mean/std from order-free
    decimal sums, then IEEE double z — identical bits, so the >= threshold
    filter and the rounded projection agree."""
    return """
WITH st AS (
  SELECT event_type, count(*) AS n_t,
         CAST(sum(CAST(value AS DECIMAL(28,3))) AS DOUBLE) AS s1,
         CAST(sum(CAST(CAST(value AS DECIMAL(18,3)) * CAST(value AS DECIMAL(18,3)) AS DECIMAL(38,6))) AS DOUBLE) AS s2
  FROM events GROUP BY event_type
  HAVING sqrt(s2 / n_t - (s1 / n_t) * (s1 / n_t)) > 0),
zc AS (
  SELECT e.event_id, e.event_type, e.value,
         round((e.value - s1 / n_t)
               / sqrt(s2 / n_t - (s1 / n_t) * (s1 / n_t)), 6) AS z
  FROM events e JOIN st USING (event_type))
SELECT event_id, event_type, value, z FROM zc WHERE abs(z) >= 2.5"""


def q_transcripts_toolseq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text_analysis import tool_call_sequences

    return tool_call_sequences(synth.transcripts_from_sf(spark, sf_dir))


def oracle_transcripts_toolseq() -> str:
    return synth.oracle_prelude() + """
, seqs AS (
  SELECT conv_id, string_agg(tool, '>' ORDER BY turn_idx) AS tool_seq
  FROM transcripts WHERE tool IS NOT NULL GROUP BY conv_id)
SELECT tool_seq, count(*) AS n_convs FROM seqs GROUP BY tool_seq"""


def q_kg_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-distribution QA over the casualty triple store: per-subject
    out-degree, then the histogram of degrees. Both aggregations are
    map-side combinable; the second operates on one row per subject and the
    result is O(distinct degrees) — the standard graph-shape sanity check a
    KG build runs after every materialization."""
    rec = build_silver(spark, sf_dir)
    g = records_to_triples(rec, dims.dim_cemeteries(spark))
    deg = g.groupBy("subj").agg(F.count(F.lit(1)).alias("degree"))
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_subjects"))


def oracle_kg_degree_histogram() -> str:
    base = oracle_triples_casualties()
    return f"""WITH cas AS MATERIALIZED ({base}),
deg AS (SELECT subj, count(*) AS degree FROM cas GROUP BY subj)
SELECT degree, count(*) AS n_subjects FROM deg GROUP BY degree"""


def q_kg_partition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition lineage metrics over the full KG build — the north
    rule's 'per-partition triple-count/link-score metrics' as a first-class
    oracle-checked output. Partitions are the same 16 md5-prefix buckets the
    Iceberg-style store hashes subjects into; for each the report carries
    total triples, distinct subjects, and the per-graph link counts, so an
    operator can spot a partition whose link coverage diverges after an
    incremental batch. Silver is computed once and feeds all four graphs;
    the union aggregates in one map-side-combinable shuffle."""
    rec = build_silver(spark, sf_dir)
    d = dims.broadcast_dims(spark)
    cas = records_to_triples(rec, dims.dim_cemeteries(spark)).select("subj").withColumn(
        "graph", F.lit("casualties")
    )
    ul, _ = link_units(rec, d["unit_labels"])
    rl = link_ranks(rec, d["rank_labels"])
    ol = link_occupations(rec, d["occupations"])
    allg = (
        cas.unionByName(ul.select("subj").withColumn("graph", F.lit("unit_links")))
        .unionByName(rl.select("subj").withColumn("graph", F.lit("rank_links")))
        .unionByName(ol.select("subj").withColumn("graph", F.lit("occupation_links")))
    )
    return allg.groupBy(F.substring(F.md5("subj"), 1, 1).alias("part")).agg(
        F.count(F.lit(1)).alias("n_triples"),
        F.count_distinct("subj").alias("n_subjects"),
        F.count(F.when(F.col("graph") == "casualties", 1)).alias("n_casualty_triples"),
        F.count(F.when(F.col("graph") == "unit_links", 1)).alias("n_unit_links"),
        F.count(F.when(F.col("graph") == "rank_links", 1)).alias("n_rank_links"),
        F.count(F.when(F.col("graph") == "occupation_links", 1)).alias(
            "n_occupation_links"
        ),
    )


def oracle_kg_partition_metrics() -> str:
    """Rebuilds every graph from its own contract oracle (each embedded as a
    self-contained WITH-subquery), so a drift in ANY linker shows up here
    too."""
    return f"""
WITH allg AS (
  SELECT 'casualties' AS graph, subj FROM ({oracle_triples_casualties()})
  UNION ALL SELECT 'unit_links', subj FROM ({oracle_link_units()})
  UNION ALL SELECT 'rank_links', subj FROM ({oracle_link_ranks()})
  UNION ALL SELECT 'occupation_links', subj FROM ({oracle_link_occupations()})
)
SELECT substr(md5(subj), 1, 1) AS part,
       count(*) AS n_triples,
       count(DISTINCT subj) AS n_subjects,
       count(*) FILTER (graph = 'casualties') AS n_casualty_triples,
       count(*) FILTER (graph = 'unit_links') AS n_unit_links,
       count(*) FILTER (graph = 'rank_links') AS n_rank_links,
       count(*) FILTER (graph = 'occupation_links') AS n_occupation_links
FROM allg GROUP BY part"""


def q_events_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter skew diagnostic over the event stream — the pre-shuffle
    check a pipeline runs before choosing salt factors: top-20 keys by row
    count with their share of total. One map-side-combinable count per key;
    the global total comes from summing that same tiny per-key frame (no
    second scan of the input), and the top-k is a single-partition sort of
    the per-key counts only."""
    from pyspark.sql import Window

    per_key = (
        _events(spark, sf_dir)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        # both the top-k and the grand total derive from this tiny per-key
        # frame; localCheckpoint materializes it so the input is scanned
        # exactly once (lineage would otherwise recompute the agg per branch)
        .localCheckpoint()
    )
    tot = per_key.agg(F.sum("n_events").alias("total"))
    # TakeOrderedAndProject does a distributed partial top-k per partition
    # before the driver merge — the global rank window then only ever sees
    # the 20 survivors, never the full key frame.
    top = per_key.orderBy(F.col("n_events").desc(), F.col("user_id")).limit(20)
    w = Window.orderBy(F.col("n_events").desc(), F.col("user_id"))
    return (
        top.withColumn("rn", F.row_number().over(w))
        .crossJoin(F.broadcast(tot))
        .select(
            "user_id",
            "n_events",
            F.col("rn").alias("rank"),
            F.round(F.col("n_events") / F.col("total"), 6).alias("share"),
        )
    )


def oracle_events_key_skew() -> str:
    return """
WITH per_key AS (
  SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id),
ranked AS (
  SELECT user_id, n_events,
         row_number() OVER (ORDER BY n_events DESC, user_id) AS rank
  FROM per_key)
SELECT user_id, n_events, CAST(rank AS INT) AS rank,
       round(CAST(n_events AS DOUBLE) / (SELECT sum(n_events) FROM per_key), 6) AS share
FROM ranked WHERE rank <= 20"""


_SHACL_FUNCTIONAL = [
    "http://ldf.fi/schema/warsa/date_of_death",
    "http://www.w3.org/2004/02/skos/core#prefLabel",
    "http://ldf.fi/schema/warsa/gender",
]
_SHACL_REQUIRED = [
    "http://ldf.fi/schema/warsa/date_of_birth",
    "http://ldf.fi/schema/warsa/date_of_death",
    "http://ldf.fi/schema/warsa/buried_in",
    "http://ldf.fi/schema/warsa/casualties/unit_code",
]


def q_kg_constraint_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHACL-style graph validation over the casualty store — the QA gate a
    KG build runs before publishing: max-cardinality-1 on functional
    predicates (sh:maxCount) and required-predicate presence (sh:minCount),
    reported per (subject, predicate). The per-(subj,pred) distinct-object
    rollup computes ONCE (localCheckpoint) and feeds both shapes; the
    constraint lists are literal broadcast frames, so the triple store is
    scanned exactly once and shuffled once however many shapes run.
    Violation discovery mirrors the reference's per-record validator intent
    (src/validators.py) lifted to whole-graph declarative form."""
    from .operators.triples import constraint_violations

    rec = build_silver(spark, sf_dir)
    g = records_to_triples(rec, dims.dim_cemeteries(spark))
    return constraint_violations(g, _SHACL_FUNCTIONAL, _SHACL_REQUIRED)


def oracle_kg_constraint_violations() -> str:
    base = oracle_triples_casualties()
    func = ",".join(f"('{p}')" for p in _SHACL_FUNCTIONAL)
    req = ",".join(f"('{p}')" for p in _SHACL_REQUIRED)
    return f"""WITH cas AS MATERIALIZED ({base}),
counts AS (SELECT subj, pred, count(DISTINCT obj) AS n FROM cas GROUP BY subj, pred),
functional(pred) AS (VALUES {func}),
required(pred) AS (VALUES {req}),
card AS (
  SELECT c.subj, c.pred, 'cardinality' AS kind, CAST(c.n AS BIGINT) AS n
  FROM counts c JOIN functional f ON c.pred = f.pred WHERE c.n > 1),
subs AS (SELECT DISTINCT subj FROM counts),
miss AS (
  SELECT s.subj, r.pred, 'missing' AS kind, CAST(0 AS BIGINT) AS n
  FROM subs s CROSS JOIN required r
  LEFT JOIN counts c ON c.subj = s.subj AND c.pred = r.pred
  WHERE c.subj IS NULL)
SELECT subj, pred, kind, n FROM card
UNION ALL
SELECT subj, pred, kind, n FROM miss"""


def q_olap_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-shaped national market share: the widest join tree in the
    suite (lineitem + orders + 4 broadcast dimensions). Only the two fact
    tables ever shuffle (on l_orderkey/o_orderkey); part is filtered before
    broadcast so the probe side shrinks at the scan, and the
    customer→nation→region chain collapses to one broadcast hash join.
    The share is a conditional exact-decimal sum over the total exact sum,
    divided as IEEE doubles (identical on both engines)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    part = spark.read.parquet(f"{sf_dir}/part.parquet").filter(F.col("p_type") == "PROMO")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        F.col("o_orderdate").between("1996-01-01", "1997-12-31 23:59:59")
    )
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    region = spark.read.parquet(f"{sf_dir}/region.parquet").filter(F.col("r_name") == "ASIA")
    cust_in_region = (
        cust.join(
            F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
        )
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("c_custkey")
    )
    supp_nation = supp.join(
        F.broadcast(nation), supp.s_nationkey == nation.n_nationkey
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    vol = (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).cast("decimal(18,4)")
    joined = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust_in_region), orders.o_custkey == cust_in_region.c_custkey)
        .join(F.broadcast(supp_nation), li.l_suppkey == supp_nation.s_suppkey)
        .select(
            F.year("o_orderdate").alias("yr"),
            vol.alias("vol"),
            F.col("supp_nation"),
        )
    )
    agg = joined.groupBy("yr").agg(
        F.sum(
            F.when(F.col("supp_nation") == "NATION_7", F.col("vol")).otherwise(
                F.lit(0).cast("decimal(18,4)")
            )
        )
        .cast("double")
        .alias("nation_vol"),
        F.sum("vol").cast("double").alias("total_vol"),
    )
    return agg.select(
        "yr",
        (F.col("nation_vol") / F.col("total_vol")).alias("mkt_share"),
        "total_vol",
    )


def oracle_olap_market_share() -> str:
    return """
WITH j AS (
  SELECT year(o_orderdate) AS yr,
         CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) AS vol,
         sn.n_name AS supp_nation
  FROM lineitem
  JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
  JOIN orders ON l_orderkey = o_orderkey
   AND o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31 23:59:59'
  JOIN customer ON o_custkey = c_custkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  JOIN region ON cn.n_regionkey = r_regionkey AND r_name = 'ASIA'
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey),
a AS (
  SELECT yr,
         CAST(sum(CASE WHEN supp_nation = 'NATION_7' THEN vol ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS nation_vol,
         CAST(sum(vol) AS DOUBLE) AS total_vol
  FROM j GROUP BY yr)
SELECT yr, nation_vol / total_vol AS mkt_share, total_vol FROM a"""


def q_olap_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-shaped promo revenue share by ship month: one lineitem
    scan with the shipdate range pushed down, one broadcast join against
    the part dimension, one map-side-combinable rollup. The percentage is
    derived from two exact-decimal sums as a final double division."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").filter(
        F.col("l_shipdate").between("1996-01-01", "1996-12-31 23:59:59")
    )
    part = spark.read.parquet(f"{sf_dir}/part.parquet").select("p_partkey", "p_type")
    disc_price = (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    agg = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select(F.month("l_shipdate").alias("mon"), F.col("p_type"), disc_price.alias("dp"))
        .groupBy("mon")
        .agg(
            F.sum(
                F.when(F.col("p_type") == "PROMO", F.col("dp")).otherwise(
                    F.lit(0).cast("decimal(18,4)")
                )
            )
            .cast("double")
            .alias("promo_rev"),
            F.sum("dp").cast("double").alias("total_rev"),
        )
    )
    return agg.select(
        "mon",
        (F.lit(100.0) * F.col("promo_rev") / F.col("total_rev")).alias("promo_pct"),
        "total_rev",
    )


def oracle_olap_promo_revenue() -> str:
    return """
WITH a AS (
  SELECT month(l_shipdate) AS mon,
         CAST(sum(CASE WHEN p_type = 'PROMO'
                       THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
                       ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS promo_rev,
         CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS total_rev
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-12-31 23:59:59'
  GROUP BY mon)
SELECT mon, 100.0 * promo_rev / total_rev AS promo_pct, total_rev FROM a"""


def q_events_streaming_hopping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming hopping rollup under the batch oracle: the overlapping
    1h/30min windows mean every event updates TWO stateful window rows per
    micro-batch — the multi-assignment state path — and availableNow over a
    multi-file replay must still converge to the batch result exactly."""
    import tempfile
    import uuid

    from .operators.events import stream_hopping_rollup

    tmp = tempfile.mkdtemp(prefix="events_hop_stream_")
    _events(spark, sf_dir).write.mode("overwrite").parquet(f"{tmp}/in")
    qname = f"ev_hop_{uuid.uuid4().hex[:8]}"
    stream_hopping_rollup(spark, f"{tmp}/in", f"{tmp}/ckpt", qname).awaitTermination()
    return spark.table(qname)


def q_events_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.events import ohlc_downsample

    return ohlc_downsample(_events(spark, sf_dir))


def oracle_events_ohlc() -> str:
    """arg_min/arg_max over the zero-padded (epoch_micros, event_id) VARCHAR
    key — lexicographic == numeric for non-negative zero-padded values, the
    same total order Spark's min_by/max_by uses (operators/events.py)."""
    return """
SELECT time_bucket(INTERVAL 1 HOUR, ts) AS ws, event_type,
       arg_min(value, printf('%019d%019d', epoch_us(ts), event_id)) AS open,
       max(value) AS high,
       min(value) AS low,
       arg_max(value, printf('%019d%019d', epoch_us(ts), event_id)) AS close,
       count(*) AS n
FROM events GROUP BY 1, 2"""


def q_events_twa(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.events import time_weighted_average

    return time_weighted_average(_events(spark, sf_dir))


def oracle_events_twa() -> str:
    """LOCF segment weights in exact integer microseconds; value products
    through DECIMAL (order-free); dur_us cast BIGINT (the HUGEINT lesson);
    the single-observation bucket surfaces twa = NULL via explicit CASE
    (bare x/0 is NULL in Spark but ±inf in DuckDB)."""
    return """
WITH seg AS (
  SELECT time_bucket(INTERVAL 1 HOUR, ts) AS ws, event_type,
         CAST(value AS DECIMAL(18,3)) AS v,
         lead(epoch_us(ts)) OVER (
           PARTITION BY time_bucket(INTERVAL 1 HOUR, ts), event_type
           ORDER BY ts ASC, event_id ASC) - epoch_us(ts) AS dt_us
  FROM events)
SELECT ws, event_type, count(*) AS n,
       CAST(sum(dt_us) AS BIGINT) AS dur_us,
       CASE WHEN sum(dt_us) > 0
            THEN round(CAST(sum(v * dt_us) AS DOUBLE)
                       / CAST(sum(dt_us) AS DOUBLE), 6)
       END AS twa
FROM seg GROUP BY 1, 2"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

QUERIES: dict[str, tuple[Callable[[SparkSession, str], DataFrame], Callable[[], str] | None]] = {
    "kg_records_silver": (q_records_silver, oracle_records_silver),
    "kg_streaming_silver": (q_streaming_silver, oracle_records_silver),
    "kg_record_errors": (q_record_errors, oracle_record_errors),
    "kg_link_ranks": (q_link_ranks, oracle_link_ranks),
    "kg_link_occupations": (q_link_occupations, oracle_link_occupations),
    "kg_link_units": (q_link_units, oracle_link_units),
    "kg_related_periods": (q_related_periods, oracle_related_periods),
    "kg_link_municipalities": (q_link_municipalities, oracle_link_municipalities),
    "kg_triples_casualties": (q_triples_casualties, oracle_triples_casualties),
    "kg_streaming_triples": (q_streaming_triples, oracle_triples_casualties),
    "kg_schema_graph": (q_schema_graph, oracle_schema_graph),
    "kg_unit_label_concat": (q_unit_label_concat, oracle_unit_label_concat),
    "kg_property_path_units": (q_property_path_units, oracle_property_path_units),
    "kg_path_bucketed": (q_property_path_bucketed, oracle_property_path_units),
    "kg_graph_diff": (q_graph_diff, oracle_graph_diff),
    "kg_person_features": (q_person_features, oracle_person_features),
    "kg_link_persons": (q_link_persons, oracle_link_persons),
    "kg_link_pr": (q_link_pr, oracle_link_pr),
    "kg_connected_components": (q_connected_components, oracle_connected_components),
    "kg_generate_persons": (q_generate_persons, oracle_generate_persons),
    "kg_generate_births": (q_generate_births, oracle_generate_births),
    "kg_generate_deaths": (q_generate_deaths, oracle_generate_deaths),
    "kg_generate_promotions": (q_generate_promotions, oracle_generate_promotions),
    "kg_generate_joinings": (q_generate_joinings, oracle_generate_joinings),
    "kg_generate_disappearances": (q_generate_disappearances, oracle_generate_disappearances),
    "kg_generate_woundings": (q_generate_woundings, oracle_generate_woundings),
    "kg_documents_links": (q_documents_links, oracle_documents_links),
    "dedup_exact": (q_dedup_exact, oracle_dedup_exact),
    "dedup_minhash_lsh": (q_dedup_minhash_lsh, oracle_dedup_minhash_lsh),
    "dedup_near_clusters": (q_dedup_near_clusters, oracle_dedup_near_clusters),
    "dedup_ngram_jaccard": (q_dedup_ngram_jaccard, oracle_dedup_ngram_jaccard),
    "dedup_simhash": (q_dedup_simhash, oracle_dedup_simhash),
    "dedup_simhash_near": (q_dedup_simhash_near, oracle_dedup_simhash_near),
    "dedup_streaming_exact": (q_dedup_streaming_exact, oracle_dedup_streaming_exact),
    "kg_streaming_sessions": (q_kg_streaming_sessions, oracle_kg_streaming_sessions),
    "text_profile": (q_text_profile, oracle_text_profile),
    "text_langmix": (q_text_langmix, oracle_text_langmix),
    "text_redact": (q_text_redact, oracle_text_redact),
    "text_decontaminate": (q_text_decontaminate, oracle_text_decontaminate),
    "text_repetition": (q_text_repetition, oracle_text_repetition),
    "events_rollup": (q_events_rollup, oracle_events_rollup),
    "events_sessions": (q_events_sessions, oracle_events_sessions),
    "events_asof": (q_events_asof, oracle_events_asof),
    "events_percentiles": (q_events_percentiles, oracle_events_percentiles),
    "events_running": (q_events_running, oracle_events_running),
    "events_streaming_rollup": (q_events_streaming_rollup, oracle_events_rollup),
    "olap_shipping_priority": (q_olap_shipping_priority, oracle_olap_shipping_priority),
    "olap_regional_part_revenue": (q_olap_regional_part_revenue, oracle_olap_regional_part_revenue),
    "ann_brute_topk": (q_ann_brute_topk, oracle_ann_brute_topk),
    "ann_lsh_topk": (q_ann_lsh_topk, oracle_ann_lsh_topk),
    "ann_lsh_multiprobe": (q_ann_lsh_multiprobe, oracle_ann_lsh_multiprobe),
    "ann_ivf_topk": (q_ann_ivf_topk, oracle_ann_ivf_topk),
    "ann_ivf_indexed": (q_ann_ivf_indexed, oracle_ann_ivf_topk),
    "emb_near_dup": (q_emb_near_dup, oracle_emb_near_dup),
    "curation_split": (q_curation_split, oracle_curation_split),
    "curation_quota": (q_curation_quota, oracle_curation_quota),
    "curation_pack": (q_curation_pack, oracle_curation_pack),
    "dedup_semantic": (q_dedup_semantic, oracle_dedup_semantic),
    "dedup_incremental": (q_dedup_incremental, oracle_dedup_incremental),
    "dedup_incremental_intra": (q_dedup_incremental_intra, oracle_dedup_incremental_intra),
    "kg_pagerank": (q_kg_pagerank, oracle_kg_pagerank),
    "transcripts_context": (q_transcripts_context, oracle_transcripts_context),
    "kg_gazetteer_mentions": (q_gazetteer_mentions, oracle_gazetteer_mentions),
    "kg_entity_cooccurrence": (q_entity_cooccurrence, oracle_entity_cooccurrence),
    "kg_streaming_gazetteer": (q_streaming_gazetteer, oracle_gazetteer_mentions),
    "kg_graph_upsert": (q_graph_upsert, oracle_graph_upsert),
    "kg_dangling_objects": (q_dangling_objects, oracle_dangling_objects),
    "transcripts_profile": (q_transcripts_profile, oracle_transcripts_profile),
    "dedup_conversations": (q_dedup_conversations, oracle_dedup_conversations),
    "curation_mixture": (q_curation_mixture, oracle_curation_mixture),
    "corpus_vocab": (q_corpus_vocab, oracle_corpus_vocab),
    "kg_khop": (q_kg_khop, oracle_kg_khop),
    "events_interval_join": (q_events_interval_join, oracle_events_interval_join),
    "kg_validity_intervals": (q_validity_intervals, oracle_validity_intervals),
    "text_tfidf": (q_text_tfidf, oracle_text_tfidf),
    "kg_triangles": (q_kg_triangles, oracle_kg_triangles),
    "events_cube": (q_events_cube, oracle_events_cube),
    "kg_clustering": (q_kg_clustering, oracle_kg_clustering),
    "transcripts_latency": (q_transcripts_latency, oracle_transcripts_latency),
    "text_bigrams": (q_text_bigrams, oracle_text_bigrams),
    "events_retention": (q_events_retention, oracle_events_retention),
    "events_funnel": (q_events_funnel, oracle_events_funnel),
    "events_hopping": (q_events_hopping, oracle_events_hopping),
    "kg_label_propagation": (q_kg_label_propagation, oracle_kg_label_propagation),
    "events_streaming_interval_join": (
        q_events_streaming_interval_join,
        oracle_events_streaming_interval_join,
    ),
    "events_approx_distinct": (q_events_approx_distinct, oracle_events_approx_distinct),
    "events_histogram": (q_events_histogram, oracle_events_histogram),
    "olap_pricing_summary": (q_olap_pricing_summary, oracle_olap_pricing_summary),
    "olap_top_customers": (q_olap_top_customers, oracle_olap_top_customers),
    "olap_market_share": (q_olap_market_share, oracle_olap_market_share),
    "kg_constraint_violations": (q_kg_constraint_violations, oracle_kg_constraint_violations),
    "olap_promo_revenue": (q_olap_promo_revenue, oracle_olap_promo_revenue),
    "events_anomaly": (q_events_anomaly, oracle_events_anomaly),
    "transcripts_toolseq": (q_transcripts_toolseq, oracle_transcripts_toolseq),
    "kg_degree_histogram": (q_kg_degree_histogram, oracle_kg_degree_histogram),
    "kg_partition_metrics": (q_kg_partition_metrics, oracle_kg_partition_metrics),
    "events_key_skew": (q_events_key_skew, oracle_events_key_skew),
    "events_streaming_hopping": (q_events_streaming_hopping, oracle_events_hopping),
    "events_ohlc": (q_events_ohlc, oracle_events_ohlc),
    "events_twa": (q_events_twa, oracle_events_twa),
}


def flagship(spark: SparkSession, sf_dir: str = "/root/testdata/sf0.001") -> DataFrame:
    """Full KG pipeline: silver -> all linkers -> unified triples table."""
    rec = build_silver(spark, sf_dir)
    d = dims.broadcast_dims(spark)
    cas = records_to_triples(rec, dims.dim_cemeteries(spark))
    rl = link_ranks(rec, d["rank_labels"])
    ol = link_occupations(rec, d["occupations"])
    ul, period = link_units(rec, d["unit_labels"])
    return union_graphs(cas, rl, ol, ul, period)

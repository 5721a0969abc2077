"""Deterministic synthetic transcripts (T0 input, BASELINE.json input_hint).

The engine's input is an Iceberg/parquet table of multi-turn transcripts
``(conv_id, turn_idx, role, text, tool, ts)``. Each conversation carries one
casualty record, its fields planted across turns as ``FIELD=value`` mentions
mirroring the reference's CSV register columns (reference src/mapping.py:96-317)
— including the reference's documented dirt: date typos repaired by
convert_dates (src/converters.py:37-48), '0'-for-'O' family names and
previous-name syntax fixed by unify_names (src/process.py:83-87), the
'Alipuseeri'/'Alikers' rank literals fixed by URI_MAPPINGS
(src/process.py:24-25), and missing cover numbers that push unit linking to
the n-gram path (src/linker.py:188).

Everything derives from a single integer ``pid`` via modulo lookups, so the
same rows can be produced three ways:

* ``transcripts_from_sf``  — pid = customer.c_custkey from the driver's
  parquet (used by the oracle contract: the identical SQL runs in DuckDB).
* ``transcripts_range``    — pid = spark.range(n) (arbitrary-scale bench
  input; this is the 10^12-turn posture: purely generated, no driver data).
* ``synth_sql('duckdb')``  — the DuckDB CTE prefix for oracle_sql().
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TURNS_PER_CONV = 5

FAMILIES = [
    "HEINO", "VIRTANEN", "KORHONEN", "MÄKINEN", "NIEMINEN", "HÄMÄLÄINEN",
    "LAINE", "KOSKINEN", "JÄRVINEN", "LEHTONEN", "SAARINEN", "TUOMINEN",
    "SALMINEN", "HEIKKILÄ", "KINNUNEN", "SALONEN", "TURUNEN", "LEHTINEN",
    "KARJALAINEN", "MUSTONEN",
]
GIVENS = [
    "EINO ILMARI", "MATTI", "JUHO KUSTAA", "AARNE", "VÄINÖ",
    "TOIVO JOHANNES", "ONNI", "EERO", "LAURI", "PAAVO HENRIK",
    "ARVO", "VILHO", "YRJÖ", "KAARLO", "PENTTI OLAVI", "SULO",
]
# Clean rank literals (subset of dims.RANKS labels), with dirty variants
# planted separately below.
RANK_LITERALS = [
    "Sotamies", "Matruusi", "Jääkäri", "Korpraali", "Aliupseeri",
    "Alikersantti", "Kersantti", "Ylikersantti", "Vääpeli", "Sotilasmestari",
    "Vänrikki", "Luutnantti", "Kapteeni", "Majuri", "Everstiluutnantti",
    "Eversti", "Kenraalimajuri", "Lääkintäkapteeni",
]
# (unit literal as it appears in a record, cover code) — indexes align with
# dims.UNITS rows so the expected link target is known.
UNIT_LITERALS = [
    ("JR 8", "8452"), ("2./JR 8", "8452"), ("JR 1", "8101"), ("JR 27", "8327"),
    ("JR 45", "8345"), ("KTR 9", "9109"), ("KTR 2", "9102"), ("Er.P 12", "7212"),
    ("Er.P 4", "7204"), ("Pion.P 14", "6414"), ("Kev.Os 4", "5104"),
    ("Kev.Os 13", "5113"), ("Raja.JP 2", "4302"), ("RatsuR", ""),
    ("Le.R 2", ""), ("It.Psto 1", "3901"), ("V.P 31", "2531"), ("JP 6", "1206"),
    ("Tyk.KK", ""), ("Laiv.E", ""),
]
MUN_CODES = [
    "1903", "1001", "1002", "1003", "1004", "1005", "1006", "1007", "1008",
    "1009", "1010", "1011", "1012", "1013", "1014", "1015", "1016", "1017",
    "1018", "1019", "0520", "0135", "0929", "0927",
]
OCCUPATION_LITERALS = [
    "maanviljelijä", "työmies", "opettaja", "kirvesmies", "suutari", "räätäli",
    "kalastaja", "seppä", "kauppias", "merimies", "autonkuljettaja",
    "sahatyömies", "muurari", "leipuri", "räätälimestari", "pienviljelijä",
]
MARITAL_KEYS = ["N", "Y", "E", "L", ""]
GENDER_KEYS = ["M", "M", "M", "F", ""]
LANGUAGE_KEYS = ["su", "su", "su", "ru", ""]
CITIZEN_KEYS = ["SU", "SU", "SU", "RU", ""]
PERISHING_KEYS = ["A", "B", "C", "D", "F", "S", ""]


def _case_over_mod(expr: str, values: list[str], mod: int | None = None) -> str:
    """Render CASE (expr % len) WHEN i THEN 'v_i' ... END."""
    mod = mod if mod is not None else len(values)
    whens = " ".join(
        f"WHEN {i} THEN '" + v.replace("'", "''") + "'" for i, v in enumerate(values)
    )
    return f"CASE ({expr}) % {mod} {whens} END"


def _dialect(d: str) -> dict[str, str]:
    if d == "spark":
        return {"STR": "STRING"}
    if d == "duckdb":
        return {"STR": "VARCHAR"}
    raise ValueError(d)


def synth_sql(dialect: str, pid_source: str = "customer_pids") -> str:
    """WITH-clause body (no trailing SELECT) producing CTEs:
    ``records`` (one wide raw record per pid) and ``transcripts``.

    ``pid_source`` must be a relation with a single BIGINT column ``pid``.
    The caller prepends ``WITH `` and appends further CTEs / the final SELECT.
    """
    D = _dialect(dialect)
    STR = D["STR"]

    fam = _case_over_mod("pid", FAMILIES)
    fam2 = _case_over_mod("pid + 3", FAMILIES)
    giv = _case_over_mod("pid", GIVENS)
    rank = _case_over_mod("pid", RANK_LITERALS)
    unit_name = _case_over_mod("pid", [u for u, _ in UNIT_LITERALS])
    unit_code = _case_over_mod("pid", [c for _, c in UNIT_LITERALS])
    skunta = _case_over_mod("pid", MUN_CODES)
    kuolinkunta = _case_over_mod("pid * 5", MUN_CODES)
    hkunta = _case_over_mod("pid * 11", MUN_CODES)
    occ = _case_over_mod("pid", OCCUPATION_LITERALS)
    marital = _case_over_mod("pid", MARITAL_KEYS)
    gender = _case_over_mod("pid + 1", GENDER_KEYS)
    lang = _case_over_mod("pid", LANGUAGE_KEYS)
    citizen = _case_over_mod("pid + 2", CITIZEN_KEYS)
    perish = _case_over_mod("pid", PERISHING_KEYS)

    if dialect == "spark":
        ts_expr = "timestamp'2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, pid * 100 + turn_idx)"
    else:
        ts_expr = "TIMESTAMP '2024-01-01 00:00:00' + INTERVAL (pid * 100 + turn_idx) SECOND"

    return f"""
raw0 AS (
  SELECT pid,
    {fam} AS fam_base,
    {fam2} AS fam_alt,
    {giv} AS given_raw,
    {rank} AS rank_base,
    {unit_name} AS unit_name_base,
    {unit_code} AS unit_code_base,
    {skunta} AS skunta,
    {kuolinkunta} AS kuolinkunta,
    {hkunta} AS hkunta_base,
    {occ} AS occ_base,
    {marital} AS ssaaty,
    {gender} AS spuoli,
    {lang} AS aidinkieli,
    {citizen} AS kansalaisuus,
    {perish} AS menehtluokka,
    1895 + pid % 30 AS byear, 1 + pid % 12 AS bmonth, 1 + pid % 28 AS bday,
    1939 + pid % 6 AS dyear, 1 + (pid * 7) % 12 AS dmonth, 1 + (pid * 3) % 28 AS dday
  FROM {pid_source}
),
raw1 AS (
  SELECT pid, given_raw, skunta, kuolinkunta, ssaaty, spuoli, aidinkieli,
    kansalaisuus, menehtluokka,
    -- family-name dirt: genuine vowel typo in char 2 (pid%31=7 — NOT
    -- repairable by the unifier; every FAMILIES entry has a vowel there, so
    -- the fam3 prefix block breaks while the phonetic key survives — the
    -- class the reference reaches via Lucene '~1' fuzzing,
    -- SPARQL/arpa_menehtyneet_persons.sparql:20-23), 0-for-O (pid%11=2),
    -- previous-name syntax (pid%7=1), %-alternative (pid%29=13) — the last
    -- three repaired by the P5 unifier
    CASE
      WHEN pid % 31 = 7 THEN substr(fam_base, 1, 1) || (CASE WHEN substr(fam_base, 2, 1) = 'U' THEN 'A' ELSE 'U' END) || substr(fam_base, 3)
      WHEN pid % 11 = 2 THEN replace(fam_base, 'O', '0')
      WHEN pid % 7 = 1 THEN fam_base || ' ENT. ' || fam_alt
      WHEN pid % 29 = 13 THEN fam_base || '%' || fam_alt
      ELSE fam_base END AS snimi,
    -- rank dirt: the two URI_MAPPINGS literals
    CASE WHEN pid % 41 = 19 THEN 'Alipuseeri'
         WHEN pid % 41 = 23 THEN 'Alikers'
         ELSE rank_base END AS sotarvo,
    -- unit dirt: long multi-token company literal (needs the full n<=10 ARPA
    -- n-gram bound: its 5-gram is the only full-label candidate), lowercase
    -- (fuzzy must still hit), truncated label
    CASE WHEN pid % 73 = 9 THEN '2. Komppania / JR 8'
         WHEN pid % 43 = 21 THEN lower(unit_name_base)
         WHEN pid % 47 = 22 THEN substr(unit_name_base, 1, length(unit_name_base) - 1)
         ELSE unit_name_base END AS josnimi,
    -- a third of records lack the cover number -> n-gram path B; the long
    -- company literal always takes path B
    CASE WHEN pid % 73 = 9 THEN ''
         WHEN pid % 3 = 0 THEN '' ELSE unit_code_base END AS joskoodi,
    -- occupation dirt: dropped 3rd char (>=0.88 similarity), unknown occupation
    CASE WHEN pid % 61 = 4 THEN substr(occ_base, 1, 2) || substr(occ_base, 4)
         WHEN pid % 67 = 5 THEN 'insinöörioppilas'
         ELSE occ_base END AS ammatti,
    CASE WHEN pid % 53 = 2 THEN 'X' ELSE hkunta_base END AS hkunta,
    -- wounding fields (HAAVAIKA/HAAVKUNTA/HAAVPAIKKA): sparse, with one
    -- too-early date class exercising the [1939-11-28, 1945-04-25] validator
    CASE WHEN pid % 37 = 10 THEN lpad(CAST(1 + pid % 28 AS {STR}), 2, '0') || '.' || lpad(CAST(1 + (pid * 5) % 12 AS {STR}), 2, '0') || '.' || CAST(1940 + pid % 5 AS {STR})
         WHEN pid % 37 = 11 THEN '01.01.1939'
         ELSE '' END AS haavaika,
    CASE WHEN pid % 37 IN (10, 11) THEN {_case_over_mod("pid * 13", MUN_CODES)} ELSE '' END AS haavkunta,
    CASE WHEN pid % 39 = 12 THEN 'Summa' ELSE '' END AS haavpaikka,
    -- going-MIA fields (KATOAIKA/KATOKUNTA/KATOPAIKKA): one O-typo class
    -- that survives cleaning as an invalid string ('Päivämäärä ei ole kelvollinen')
    CASE WHEN pid % 41 = 15 THEN lpad(CAST(1 + (pid * 7) % 28 AS {STR}), 2, '0') || '.' || lpad(CAST(1 + (pid * 11) % 12 AS {STR}), 2, '0') || '.' || CAST(1940 + (pid * 3) % 5 AS {STR})
         WHEN pid % 41 = 16 THEN '5O.O7.1942'
         ELSE '' END AS katoaika,
    CASE WHEN pid % 41 IN (15, 16) THEN {_case_over_mod("pid * 17", MUN_CODES)} ELSE '' END AS katokunta,
    CASE WHEN pid % 43 = 18 THEN 'Raatteen tie' ELSE '' END AS katopaikka,
    CASE WHEN pid % 45 = 19 THEN 'kenttäsairaalassa' ELSE '' END AS kuolinpaikka,
    CASE WHEN pid % 59 = 3 THEN 'b'
         WHEN pid % 31 = 8 THEN ''
         ELSE CAST(1 + pid % 2 AS {STR}) END AS hmaa,
    CAST(1 + pid % 400 AS {STR}) AS hpaikka,
    CASE WHEN pid % 71 = 6 THEN 'teloitettu'
         WHEN pid % 71 = 7 THEN 'Kaatui asemissa'
         ELSE '' END AS vapaa_paikkatieto,
    CASE WHEN pid % 13 = 6 THEN 'kaksi'
         WHEN pid % 13 = 7 THEN ''
         ELSE CAST(pid % 6 AS {STR}) END AS lastenlkm,
    -- dates rendered dd.mm.yyyy with planted dirt
    CASE
      WHEN pid % 19 = 7 THEN 'xx.xx.xxxx'
      WHEN pid % 31 = 9 THEN lpad(CAST(bday AS {STR}), 2, '0') || ',' || lpad(CAST(bmonth AS {STR}), 2, '0') || ',' || CAST(byear AS {STR})
      ELSE lpad(CAST(bday AS {STR}), 2, '0') || '.' || lpad(CAST(bmonth AS {STR}), 2, '0') || '.' || CAST(byear AS {STR})
    END AS saika,
    CASE
      WHEN pid % 23 = 11 THEN '39.13.1944'
      WHEN pid % 17 = 3 THEN lpad(CAST(dday AS {STR}), 2, '0') || '.' || lpad(CAST(dmonth AS {STR}), 2, '0') || '.0' || substr(CAST(dyear AS {STR}), 2, 3)
      WHEN pid % 13 = 5 THEN replace(lpad(CAST(dday AS {STR}), 2, '0') || '.' || lpad(CAST(dmonth AS {STR}), 2, '0') || '.' || CAST(dyear AS {STR}), '0', 'O')
      ELSE lpad(CAST(dday AS {STR}), 2, '0') || '.' || lpad(CAST(dmonth AS {STR}), 2, '0') || '.' || CAST(dyear AS {STR})
    END AS kuolinaika
  FROM raw0
),
records AS (
  -- lpad width 13: zero-padding keeps conv_ids lexicographically ordered and
  -- can never truncate below 10^13 conversations (lpad TRUNCATES over-width
  -- input, which at width 8 silently collided pids >= 10^8)
  SELECT 'conv_' || lpad(CAST(r.pid AS {STR}), 13, '0') AS conv_id, r.*
  FROM raw1 r
),
turn_ids AS (
  SELECT 0 AS turn_idx UNION ALL SELECT 1 UNION ALL SELECT 2
  UNION ALL SELECT 3 UNION ALL SELECT 4
),
transcripts AS (
  SELECT conv_id, CAST(turn_idx AS INT) AS turn_idx,
    CASE turn_idx WHEN 0 THEN 'user' WHEN 1 THEN 'assistant'
                  WHEN 2 THEN 'user' WHEN 3 THEN 'tool' ELSE 'assistant' END AS role,
    CASE turn_idx
      WHEN 0 THEN 'Kaatuneen tiedot: SNIMI=' || snimi || '; ENIMET=' || given_raw
        || '; SSAATY=' || ssaaty || '; SPUOLI=' || spuoli
        || '; KANSALAISUUS=' || kansalaisuus || '; KANSALLISUUS=' || kansalaisuus
        || '; AIDINKIELI=' || aidinkieli || '; LASTENLKM=' || lastenlkm
      WHEN 1 THEN 'Palvelustiedot: AMMATTI=' || ammatti || '; SOTARVO=' || sotarvo
        || '; JOSKOODI=' || joskoodi || '; JOSNIMI=' || josnimi
      WHEN 2 THEN 'Elinkaari: SAIKA=' || saika || '; SKUNTA=' || skunta
        || '; KUOLINAIKA=' || kuolinaika || '; KUOLINKUNTA=' || kuolinkunta
        || '; KUOLINPAIKKA=' || kuolinpaikka || '; MENEHTLUOKKA=' || menehtluokka
        || '; KATOAIKA=' || katoaika || '; KATOKUNTA=' || katokunta
        || '; KATOPAIKKA=' || katopaikka
      WHEN 3 THEN 'Hautaustiedot: HKUNTA=' || hkunta || '; HMAA=' || hmaa
        || '; HPAIKKA=' || hpaikka || '; VAPAA_PAIKKATIETO=' || vapaa_paikkatieto
        || '; HAAVAIKA=' || haavaika || '; HAAVKUNTA=' || haavkunta
        || '; HAAVPAIKKA=' || haavpaikka
      ELSE 'Muistosanat: ' || given_raw || ' ' || snimi || ' kaatui isänmaan puolesta.'
    END AS text,
    CASE turn_idx WHEN 3 THEN 'archive_lookup' ELSE NULL END AS tool,
    {ts_expr} AS ts
  FROM records CROSS JOIN turn_ids
)""".strip()


def actors_sql(dialect: str) -> str:
    """The WarSampo person-actor dimension the persons stage links against
    (the reference queries it over SPARQL inside link_persons,
    src/linker.py:235). Derived from the same pid stream:

    * pids with pid % 4 != 3 have a *true* matching actor (ground truth for
      P/R), with realistic divergence: 50% keep only the first given name.
    * every pid also yields a *decoy* actor sharing the family-name block
      but with shifted dates and a different given name — populates the
      blocking buckets so the scorer has real negatives to reject.

    Requires the ``raw0`` CTE from synth_sql() in scope.
    """
    D = _dialect(dialect)
    STR = D["STR"]
    from .dims import MUNICIPALITIES, RANKS, UNITS
    from . import namespaces as NS

    rank_uri = _case_over_mod(
        "pid", [NS.RANKS_NS + slug for slug, _, _, _, _ in RANKS], len(RANK_LITERALS)
    )
    unit_uri = _case_over_mod("pid", [NS.UNITS_NS + slug for slug, *_ in UNITS])
    rank_level = _case_over_mod("pid", [str(lvl) for _, _, _, lvl, _ in RANKS])
    birth_place = _case_over_mod(
        "pid",
        [
            (NS.PNR_NS + "P_" + pnr) if pnr else (NS.WARSA_MUNICIPALITIES_NS + "m_place_" + war)
            for _, _, pnr, war in MUNICIPALITIES
        ],
    )
    giv_first = (
        "CASE WHEN pid % 2 = 0 AND instr(given_raw, ' ') > 0 "
        "THEN substr(given_raw, 1, instr(given_raw, ' ') - 1) ELSE given_raw END"
    )
    title = lambda x: f"upper(substr({x}, 1, 1)) || lower(substr({x}, 2))"

    return f"""
actors AS (
  SELECT
    'http://ldf.fi/warsa/actors/person_a' || CAST(pid AS {STR}) AS actor_uri,
    {title('fam_base')} AS family,
    {title(giv_first)} AS given,
    CAST(byear AS {STR}) || '-' || lpad(CAST(bmonth AS {STR}), 2, '0') || '-' || lpad(CAST(bday AS {STR}), 2, '0') AS birth_iso,
    CAST(dyear AS {STR}) || '-' || lpad(CAST(dmonth AS {STR}), 2, '0') || '-' || lpad(CAST(dday AS {STR}), 2, '0') AS death_iso,
    {rank_uri} AS rank_uri,
    CAST({rank_level} AS INT) AS rank_level,
    {unit_uri} AS unit_uri,
    {birth_place} AS birth_place
  FROM raw0 WHERE pid % 4 != 3
  UNION ALL
  SELECT
    'http://ldf.fi/warsa/actors/person_d' || CAST(pid AS {STR}) AS actor_uri,
    {title('fam_base')} AS family,
    {title('fam_alt')} AS given,
    CAST(byear - 7 AS {STR}) || '-' || lpad(CAST(bmonth AS {STR}), 2, '0') || '-' || lpad(CAST(bday AS {STR}), 2, '0') AS birth_iso,
    CAST(dyear AS {STR}) || '-' || lpad(CAST(1 + (dmonth) % 12 AS {STR}), 2, '0') || '-' || lpad(CAST(1 + dday % 28 AS {STR}), 2, '0') AS death_iso,
    NULL AS rank_uri,
    NULL AS rank_level,
    NULL AS unit_uri,
    NULL AS birth_place
  FROM raw0
)""".strip()


def actors_range(spark: SparkSession, n_records: int) -> DataFrame:
    """Actor dimension for range-generated pids (scale path, no driver data)."""
    spark.range(n_records).selectExpr("id AS pid").createOrReplaceTempView("range_pids")
    sql = (
        "WITH " + synth_sql("spark", pid_source="range_pids") + ",\n"
        + actors_sql("spark") + "\nSELECT * FROM actors"
    )
    return spark.sql(sql)


def actors_from_sf(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register_parquet(spark, sf_dir, ["customer"])
    sql = (
        "WITH " + CUSTOMER_PIDS_SQL + ",\n" + synth_sql("spark") + ",\n"
        + actors_sql("spark") + "\nSELECT * FROM actors"
    )
    return spark.sql(sql)


CUSTOMER_PIDS_SQL = "customer_pids AS (SELECT CAST(c_custkey AS BIGINT) AS pid FROM customer)"


def oracle_prelude(extra_ctes: list[str] | None = None) -> str:
    """DuckDB WITH-prefix: customer-derived pids -> records/transcripts CTEs
    (+ optional dimension VALUES CTEs). Append 'SELECT ...' to complete."""
    parts = [CUSTOMER_PIDS_SQL, synth_sql("duckdb")]
    if extra_ctes:
        parts.extend(extra_ctes)
    return "WITH " + ",\n".join(parts) + "\n"


def _register_parquet(
    spark: SparkSession, sf_dir: str, tables: list[str], repartition: int | None = None
) -> None:
    for t in tables:
        df = spark.read.parquet(f"{sf_dir}/{t}.parquet")
        if repartition:
            df = df.repartition(repartition)
        df.createOrReplaceTempView(t)


def transcripts_from_sf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transcripts derived from the driver's customer table (oracle parity).

    The sf parquet is a single file, so without a repartition the whole
    synthetic-text CASE projection (and everything up to the first shuffle
    downstream) serializes on ONE core — measured as a tens-of-seconds
    single-task Stage 0 inside the cold kg_pipeline bench. Spreading the
    pids across the default parallelism first costs one tiny shuffle of the
    key column and parallelizes the expensive projection. Values are
    pid-deterministic, so row content (and the DuckDB oracle hash) is
    unaffected."""
    _register_parquet(
        spark, sf_dir, ["customer"], repartition=spark.sparkContext.defaultParallelism
    )
    sql = "WITH " + CUSTOMER_PIDS_SQL + ",\n" + synth_sql("spark") + "\nSELECT * FROM transcripts"
    return spark.sql(sql)


def transcripts_range(spark: SparkSession, n_records: int) -> DataFrame:
    """Transcripts for ``n_records`` synthetic conversations via spark.range —
    the scale path: generation is embarrassingly parallel, no driver data."""
    spark.range(n_records).selectExpr("id AS pid").createOrReplaceTempView("range_pids")
    sql = "WITH " + synth_sql("spark", pid_source="range_pids") + "\nSELECT * FROM transcripts"
    return spark.sql(sql)

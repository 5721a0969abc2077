"""Ontology dimension tables (ranks, units, municipalities, occupations,
cemeteries, enum code tables).

The reference pulls these from remote SPARQL endpoints at run time
(src/linker.py:90-91,147,227-228); at 100 TB scale they are the classic
tiny broadcast dimensions (largest is municipalities: 632 entities in the
reference's input/old_municipalities.ttl). Here they are deterministic
in-repo literals — values drawn from the reference's public fixtures
(src/tests.py:21-30, input/old_municipalities.ttl names, mapping.py enum
tables) — exposed both as Spark DataFrames (broadcast side of every
linking join) and as DuckDB ``VALUES`` CTE SQL for the oracle contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import namespaces as NS
from .sqltext import lit as sql_lit

# --------------------------------------------------------------------------
# Literal dimension data (deterministic; the single source of truth for both
# the Spark engine and the DuckDB oracle).
# --------------------------------------------------------------------------

# (slug, label_fi, label_en, level, alt_labels)
RANKS = [
    ("Sotamies", "Sotamies", "Private", 1, ["Stm", "Sotam"]),
    ("Matruusi", "Matruusi", "Seaman", 1, []),
    ("Jaeaekaeri", "Jääkäri", "Jaeger", 1, ["Jääk"]),
    ("Korpraali", "Korpraali", "Corporal", 3, ["Korpr"]),
    ("Aliupseeri", "Aliupseeri", "Non-commissioned officer", 4, []),
    ("Alikersantti", "Alikersantti", "Junior sergeant", 4, ["Alik"]),
    ("Kersantti", "Kersantti", "Sergeant", 5, ["Kers"]),
    ("Ylikersantti", "Ylikersantti", "Senior sergeant", 6, ["Ylik"]),
    ("Vaeaepeli", "Vääpeli", "Sergeant major", 7, ["Vääp"]),
    ("Sotilasmestari", "Sotilasmestari", "Master sergeant", 8, []),
    ("Vaenrikki", "Vänrikki", "Second lieutenant", 9, ["Vänr"]),
    ("Luutnantti", "Luutnantti", "Lieutenant", 10, ["Luutn"]),
    ("Kapteeni", "Kapteeni", "Captain", 11, ["Kapt"]),
    ("Majuri", "Majuri", "Major", 12, ["Maj"]),
    ("Everstiluutnantti", "Everstiluutnantti", "Lieutenant colonel", 13, ["Evl"]),
    ("Eversti", "Eversti", "Colonel", 14, ["Ev"]),
    ("Kenraalimajuri", "Kenraalimajuri", "Major general", 15, []),
    ("Laeaekintaekapteeni", "Lääkintäkapteeni", "Medical captain", 11, ["Lääk.kapt"]),
]

# (slug, pref_label, alt_labels, cover_number or None, conflict)
UNITS = [
    ("unit_jr8", "Jalkaväkirykmentti 8", ["JR 8", "JR8"], "8452", "ContinuationWar"),
    ("unit_jr8_2k", "2./JR 8", ["2. Komppania/JR 8", "2. Komppania/Jalkaväkirykmentti 8"], "8452", "ContinuationWar"),
    ("unit_jr1", "Jalkaväkirykmentti 1", ["JR 1", "JR1"], "8101", "ContinuationWar"),
    ("unit_jr27", "Jalkaväkirykmentti 27", ["JR 27", "JR27"], "8327", "ContinuationWar"),
    ("unit_jr45", "Jalkaväkirykmentti 45", ["JR 45", "JR45"], "8345", "ContinuationWar"),
    ("unit_ktr9", "Kenttätykistörykmentti 9", ["KTR 9", "KTR9"], "9109", "ContinuationWar"),
    ("unit_ktr2", "Kenttätykistörykmentti 2", ["KTR 2", "KTR2"], "9102", "WinterWar"),
    ("unit_er_p12", "Erillinen Pataljoona 12", ["Er.P 12", "ErP 12"], "7212", "WinterWar"),
    ("unit_er_p4", "Erillinen Pataljoona 4", ["Er.P 4", "ErP 4"], "7204", "WinterWar"),
    ("unit_pionp14", "Pioneeripataljoona 14", ["Pion.P 14"], "6414", "ContinuationWar"),
    ("unit_kevos4", "Kevyt Osasto 4", ["Kev.Os 4"], "5104", "WinterWar"),
    ("unit_kevos13", "Kevyt Osasto 13", ["Kev.Os 13"], "5113", "ContinuationWar"),
    ("unit_rajajp2", "Rajajääkäripataljoona 2", ["Raja.JP 2", "RajaJP 2"], "4302", "ContinuationWar"),
    ("unit_ratsur", "Ratsuväkirykmentti", ["RatsuR"], None, "WinterWar"),
    ("unit_lentor2", "Lentorykmentti 2", ["Le.R 2", "LeR 2"], None, "ContinuationWar"),
    ("unit_it_psto1", "Ilmatorjuntapatteristo 1", ["It.Psto 1"], "3901", "WinterWar"),
    ("unit_viestip31", "Viestipataljoona 31", ["V.P 31"], "2531", "ContinuationWar"),
    ("unit_jp6", "Jääkäripataljoona 6", ["JP 6", "JP6"], "1206", "WinterWar"),
    ("unit_tykk", "Tykistökoulutuskeskus", ["Tyk.KK"], None, "ContinuationWar"),
    ("unit_laiv", "Laivaston Esikunta", ["Laiv.E"], None, "WinterWar"),
]

# (code, label, pnr_id or None, warsa_id or None)
# mun_uri = MUNICIPALITIES + 'k' + code (reference mapping.py:26).
# k1903 Hanko values pinned by reference src/tests.py:27-30.
MUNICIPALITIES = [
    ("1903", "Hanko", "10746999", "21"),
    ("1001", "Perniö", "10405405", "412"),
    ("1002", "Vilppula", "10498221", "503"),
    ("1003", "Kurikka", "10216958", "269"),
    ("1004", "Ruskeala", None, "433"),
    ("1005", "Lappee", None, "283"),
    ("1006", "Salmi", None, "441"),
    ("1007", "Helsinki", "10342681", "91"),
    ("1008", "Turku", "10482032", "853"),
    ("1009", "Tampere", "10472125", "837"),
    ("1010", "Viipuri", None, "917"),
    ("1011", "Oulu", "10406871", "564"),
    ("1012", "Kuopio", "10216857", "297"),
    ("1013", "Sortavala", None, "764"),
    ("1014", "Käkisalmi", None, "306"),
    ("1015", "Rovaniemi", "10432280", "699"),
    ("1016", "Mikkeli", "10370821", "491"),
    ("1017", "Joensuu", "10160441", "167"),
    ("1018", "Vaasa", "10495360", "905"),
    ("1019", "Kotka", "10201447", "285"),
    ("0520", "Pieksämäki", "10409401", "593"),
    ("0135", "Laitila", "10280175", "400"),
    ("0929", "Pieksämäen mlk", "10409402", "594"),
    ("0927", "Laitilan mlk", "10280176", "401"),
]

# (slug, label) — lowercase labels, the match target of occupation linking
# (reference reads AMMATTI lowercased at scan, src/csv_to_rdf.py:142).
OCCUPATIONS = [
    ("occ_maanviljelija", "maanviljelijä"),
    ("occ_tyomies", "työmies"),
    ("occ_opettaja", "opettaja"),
    ("occ_kirvesmies", "kirvesmies"),
    ("occ_suutari", "suutari"),
    ("occ_raatali", "räätäli"),
    ("occ_kalastaja", "kalastaja"),
    ("occ_seppa", "seppä"),
    ("occ_kauppias", "kauppias"),
    ("occ_merimies", "merimies"),
    ("occ_autonkuljettaja", "autonkuljettaja"),
    ("occ_sahatyomies", "sahatyömies"),
    ("occ_muurari", "muurari"),
    ("occ_leipuri", "leipuri"),
    ("occ_raatalimestari", "räätälimestari"),
    ("occ_pienviljelija", "pienviljelijä"),
]

# Cemetery existence set (reference checks minted graveyard URIs against the
# cemeteries ontology, src/csv_to_rdf.py:112-114). (mun_code, numbers...)
CEMETERIES = (
    [(code, n) for code, _, _, _ in MUNICIPALITIES for n in (1, 2)]
    + [("x", 0)]  # CEMETERIES.hx_0 target of the URI fix (src/process.py:26)
)

# Enum code tables — public vocabulary of mapping.py:28-94, each with the
# None -> Tuntematon default row.
CODE_TABLES: dict[str, tuple[str, dict[str | None, str]]] = {
    "citizenship": (
        NS.CITIZENSHIPS,
        {
            "ITA": "Italia", "NO": "Norja", "NL": "Neuvostoliitto", "RU": "Ruotsi",
            "SA": "Saksa", "SU": "Suomi", "FI": "Suomi", "TA": "Tanska",
            "HUN": "Unkari", "IN": "Inkeri", "VI": "Viro", None: "Tuntematon",
        },
    ),
    "language": (
        NS.MOTHER_TONGUES,
        {
            "it": "Italia", "no": "Norja", "ru": "Ruotsi", "sa": "Saksa",
            "sm": "Saame", "su": "Suomi", "ta": "Tanska", "tu": "Turkki",
            "ve": "Venaejae", "vi": "Viro", None: "Tuntematon",
        },
    ),
    "marital": (
        NS.MARITAL_STATUSES,
        {"N": "Naimisissa", "Y": "Naimaton", "E": "Eronnut", "L": "Leski", None: "Tuntematon"},
    ),
    "gender": (NS.GENDERS, {"M": "Mies", "F": "Nainen", None: "Tuntematon"}),
    "nationality": (
        NS.NATIONALITIES,
        {
            "ITA": "Italia", "NO": "Norja", "NL": "Neuvostoliitto", "RU": "Ruotsi",
            "SA": "Saksa", "SU": "Suomi", "FI": "Suomi", "TA": "Tanska",
            "HUN": "Unkari", "IN": "Inkeri", "VI": "Viro", None: "Tuntematon",
        },
    ),
    "perishing": (
        NS.PERISHING_CLASSES,
        {"A": "A", "B": "B", "C": "C", "D": "D", "F": "F", "S": "S", None: "Tuntematon"},
    ),
}

# Direct URI/literal object fixes (reference src/process.py:22-29).
URI_MAPPINGS = [
    ("Alipuseeri", "Aliupseeri"),
    ("Alikers", "Alikersantti"),
    (NS.CEMETERIES + "x", NS.CEMETERIES + "hx_0"),
    (NS.MUNICIPALITIES + "kx", NS.MUNICIPALITIES + "k"),
    (NS.PERISHING_CLASSES, NS.PERISHING_CLASSES + "Tuntematon"),
]

# Graveyard URI overrides (reference src/mapping.py:19-24).
GRAVEYARD_MAPPING = [
    (NS.CEMETERIES + "h0520_1", NS.CEMETERIES + "h0929_1"),
    (NS.CEMETERIES + "h0135_1", NS.CEMETERIES + "h0927_1"),
]


# --------------------------------------------------------------------------
# Row builders — one per dimension, shared by the Spark tables and the DuckDB
# VALUES CTEs below, so both sides of the oracle contract read the same rows.
# --------------------------------------------------------------------------

def rank_rows() -> list[tuple]:
    """(rank_uri, label_fi, label_en, level, alt_labels)."""
    return [(NS.RANKS_NS + slug, fi, en, lvl, alts) for slug, fi, en, lvl, alts in RANKS]


def rank_label_rows() -> list[tuple]:
    """(rank_uri, label, lang, is_pref, level) — prefLabel|altLabel exploded."""
    rows = []
    for slug, fi, en, lvl, alts in RANKS:
        uri = NS.RANKS_NS + slug
        rows.append((uri, fi, "fi", True, lvl))
        rows.append((uri, en, "en", True, lvl))
        rows.extend((uri, a, "fi", False, lvl) for a in alts)
    return rows


def unit_rows() -> list[tuple]:
    """(unit_uri, pref_label, alt_labels, cover_number, conflict)."""
    return [
        (NS.UNITS_NS + slug, pref, alts, cover, NS.CONFLICTS_NS + conflict)
        for slug, pref, alts, cover, conflict in UNITS
    ]


def unit_label_rows() -> list[tuple]:
    """(unit_uri, label, cover_number, conflict) — one row per label."""
    return [
        (uri, lbl, cover, conflict)
        for uri, pref, alts, cover, conflict in unit_rows()
        for lbl in [pref, *alts]
    ]


def municipality_rows() -> list[tuple]:
    """(mun_uri, label, current_municipality, wartime_municipality,
    preferred_municipality = coalesce(wartime, current, self))."""
    rows = []
    for code, label, pnr, warsa_id in MUNICIPALITIES:
        uri = NS.MUNICIPALITIES + "k" + code
        cur = NS.PNR_NS + "P_" + pnr if pnr else None
        war = NS.WARSA_MUNICIPALITIES_NS + "m_place_" + warsa_id if warsa_id else None
        rows.append((uri, label, cur, war, war or cur or uri))
    return rows


def pnr_label_rows() -> list[tuple]:
    return [(NS.PNR_NS + "P_" + pnr, label) for _, label, pnr, _ in MUNICIPALITIES if pnr]


def warsa_label_rows() -> list[tuple]:
    return [
        (NS.WARSA_MUNICIPALITIES_NS + "m_place_" + wid, label)
        for _, label, _, wid in MUNICIPALITIES
        if wid
    ]


def occupation_rows() -> list[tuple]:
    return [(NS.OCCUPATIONS_NS + slug, label) for slug, label in OCCUPATIONS]


def cemetery_rows() -> list[tuple]:
    # deduplicated here, not with a DataFrame .distinct(): the rows are
    # constants, and a distinct puts an Exchange + an AQE query stage into
    # every query that embeds this dimension
    return list(dict.fromkeys(
        (NS.CEMETERIES + (f"h{code}_{n}" if code != "x" else "hx_0"),)
        for code, n in CEMETERIES
    ))


def code_rows() -> list[tuple]:
    """(code_kind, key (nullable), uri) — all enum tables stacked."""
    return [
        (kind, key, ns + local)
        for kind, (ns, table) in CODE_TABLES.items()
        for key, local in table.items()
    ]


# --------------------------------------------------------------------------
# Spark DataFrame builders (tiny → always broadcast on the join side).
# Each is one ``spark.sql`` over an inline VALUES table: the plan is a
# JVM-local LocalTableScan, so no Python worker ever scans a dimension, and
# building one costs a few py4j round trips — nothing worth memoizing.
# --------------------------------------------------------------------------

def _values_df(spark: SparkSession, ddl: str, rows: list[tuple]) -> DataFrame:
    """``rows`` as a DataFrame of schema ``ddl`` (every column nullable, as
    the DDL declares: an inline table marks a column NOT NULL when no row
    holds a null, and nullif(x, NULL) is the identity that undoes that).
    ``ddl`` is "name type, ..." with no comma inside a type."""
    cols = [c.strip().split(" ", 1) for c in ddl.split(",")]
    proj = ", ".join(f"nullif(CAST(c{i} AS {t}), NULL) AS {n}" for i, (n, t) in enumerate(cols))
    body = ", ".join("(" + ", ".join(sql_lit(v) for v in row) + ")" for row in rows)
    names = ", ".join(f"c{i}" for i in range(len(cols)))
    return spark.sql(f"SELECT {proj} FROM VALUES {body} AS _t({names})")


def dim_ranks(spark: SparkSession) -> DataFrame:
    """rank_uri, label_fi, label_en, level, alt_labels."""
    return _values_df(
        spark,
        "rank_uri string, label_fi string, label_en string, level int, alt_labels array<string>",
        rank_rows(),
    )


def dim_rank_labels(spark: SparkSession) -> DataFrame:
    """Exploded (rank_uri, label, lang, is_pref) — the join target of rank
    linking (prefLabel|altLabel, like the SPARQL alternation in the
    reference's covernumber query, src/linker.py:137)."""
    return _values_df(
        spark,
        "rank_uri string, label string, lang string, is_pref boolean",
        [r[:4] for r in rank_label_rows()],
    )


def dim_units(spark: SparkSession) -> DataFrame:
    return _values_df(
        spark,
        "unit_uri string, pref_label string, alt_labels array<string>, cover_number string, conflict string",
        unit_rows(),
    )


def dim_unit_labels(spark: SparkSession) -> DataFrame:
    """Exploded (unit_uri, label, cover_number, conflict)."""
    return _values_df(
        spark, "unit_uri string, label string, cover_number string, conflict string", unit_label_rows()
    )


def dim_municipalities(spark: SparkSession) -> DataFrame:
    """mun_uri, label, current_municipality (PNR), wartime_municipality
    (WarSampo), preferred_municipality = coalesce(wartime, current, self)
    (reference src/linker.py:108-112)."""
    return _values_df(
        spark,
        "mun_uri string, label string, current_municipality string, "
        "wartime_municipality string, preferred_municipality string",
        municipality_rows(),
    )


def dim_pnr_labels(spark: SparkSession) -> DataFrame:
    """Finnish Place Name Registry label dictionary (the PNR ARPA service of
    the reference, arpa_services/pnr_municipality — exact lowercase label
    equality is the match rule)."""
    return _values_df(spark, "pnr_uri string, label string", pnr_label_rows())


def dim_warsa_labels(spark: SparkSession) -> DataFrame:
    """WarSampo wartime municipality label dictionary
    (http://ldf.fi/warsa/places/municipalities graph, src/linker.py:90-91)."""
    return _values_df(spark, "warsa_uri string, label string", warsa_label_rows())


def dim_occupations(spark: SparkSession) -> DataFrame:
    return _values_df(spark, "occ_uri string, label string", occupation_rows())


def dim_cemeteries(spark: SparkSession) -> DataFrame:
    return _values_df(spark, "cem_uri string", cemetery_rows())


def dim_codes(spark: SparkSession) -> DataFrame:
    """code_kind, key (nullable), uri — all enum tables stacked."""
    return _values_df(spark, "code_kind string, key string, uri string", code_rows())


def broadcast_dims(spark: SparkSession) -> dict[str, DataFrame]:
    """The linking dimensions, each wrapped in F.broadcast for joins."""
    return {
        "ranks": F.broadcast(dim_ranks(spark)),
        "rank_labels": F.broadcast(dim_rank_labels(spark)),
        "units": F.broadcast(dim_units(spark)),
        "unit_labels": F.broadcast(dim_unit_labels(spark)),
        "municipalities": F.broadcast(dim_municipalities(spark)),
        "occupations": F.broadcast(dim_occupations(spark)),
        "cemeteries": F.broadcast(dim_cemeteries(spark)),
        "codes": F.broadcast(dim_codes(spark)),
    }


# --------------------------------------------------------------------------
# DuckDB VALUES CTE renderers (oracle side of the driver contract).
# --------------------------------------------------------------------------

def _q(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (int, float)):
        return str(v)
    return "'" + str(v).replace("'", "''") + "'"


def values_cte(name: str, cols: list[str], rows: list[tuple]) -> str:
    body = ",\n    ".join("(" + ", ".join(_q(v) for v in row) + ")" for row in rows)
    collist = ", ".join(cols)
    return f"{name}({collist}) AS (\n  SELECT * FROM (VALUES\n    {body}\n  ) AS _t({collist})\n)"


def rank_labels_cte() -> str:
    return values_cte("rank_labels", ["rank_uri", "label", "lang", "is_pref", "level"], rank_label_rows())


def unit_labels_cte() -> str:
    return values_cte("unit_labels", ["unit_uri", "label", "cover_number", "conflict"], unit_label_rows())


def municipalities_cte() -> str:
    return values_cte(
        "municipalities",
        ["mun_uri", "label", "current_municipality", "wartime_municipality", "preferred_municipality"],
        municipality_rows(),
    )


def pnr_labels_cte() -> str:
    return values_cte("pnr_labels", ["pnr_uri", "label"], pnr_label_rows())


def warsa_labels_cte() -> str:
    return values_cte("warsa_labels", ["warsa_uri", "label"], warsa_label_rows())


def occupations_cte() -> str:
    return values_cte("occupations", ["occ_uri", "label"], occupation_rows())


def cemeteries_cte() -> str:
    return values_cte("cemeteries", ["cem_uri"], sorted(cemetery_rows()))


def codes_cte() -> str:
    return values_cte("codes", ["code_kind", "key", "uri"], code_rows())


# --------------------------------------------------------------------------
# S5 — dims as data: the municipalities dim parsed from a Turtle graph
# (the reference loads exactly this graph at src/linker.py:90-96; the three
# link predicates are the ones its link_municipalities adds at
# src/linker.py:94-111).
# --------------------------------------------------------------------------

def dim_municipalities_from_triples(triples: DataFrame) -> DataFrame:
    """Pivot a parsed municipalities graph (sources.ttl.read_turtle_blocks)
    into the dim_municipalities shape — dims become data instead of in-code
    literals when a real WarSampo TTL is available."""
    p = lambda pred: F.max(F.when(F.col("pred") == pred, F.col("obj")))
    agg = (
        triples.groupBy("subj")
        .agg(
            F.max(
                F.when(
                    (F.col("pred") == NS.RDF_TYPE) & (F.col("obj") == NS.cas("Municipality")),
                    F.lit(1),
                )
            ).alias("is_mun"),
            p(NS.SKOS_PREF_LABEL).alias("label"),
            p(NS.cas("current_municipality")).alias("current_municipality"),
            p(NS.cas("wartime_municipality")).alias("wartime_municipality"),
            p(NS.cas("preferred_municipality")).alias("preferred_municipality"),
        )
        .filter(F.col("is_mun") == 1)
    )
    return agg.select(
        F.col("subj").alias("mun_uri"), "label", "current_municipality",
        "wartime_municipality",
        F.coalesce("preferred_municipality", "wartime_municipality",
                   "current_municipality", F.col("subj")).alias("preferred_municipality"),
    )

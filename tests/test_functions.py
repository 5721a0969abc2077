"""Unit tests for converter/scorer functions against reference-traced
goldens and the DuckDB implementations they must match."""

import datetime
import random

import duckdb
import pytest

from casualty_linking_spark.functions.dates import convert_dates, date_parts, validate_dates
from casualty_linking_spark.functions.similarity import (
    jaro_winkler_py, levenshtein_ratio, ascii_fold, duckdb_ascii_fold,
    duckdb_levenshtein_ratio,
)

DATE_CASES = [
    # (raw, expected_date, expected_str) — semantics of src/converters.py:22-58
    ("22.06.1941", datetime.date(1941, 6, 22), None),
    ("22,06,1941", datetime.date(1941, 6, 22), None),  # comma fix
    ("22.06.1941 ", datetime.date(1941, 6, 22), None),  # strip
    ("O5.12.1941", datetime.date(1941, 12, 5), None),  # O->0
    ("05.12.0941", datetime.date(1941, 12, 5), None),  # century 09xx
    ("05.12.1041", datetime.date(1941, 12, 5), None),  # century 10xx
    ("26.02.0194", datetime.date(1944, 2, 26), None),  # hardcoded typo
    ("16.12.0199", datetime.date(1939, 12, 16), None),  # hardcoded typo
    ("xx.xx.xxxx", None, None),  # unknown marker -> null
    ("x", None, None),
    ("39.13.1944", None, "39.13.1944"),  # unparseable -> cleaned string
    ("xx.06.1941", None, "xx.06.1941"),  # xx prefix -> string, no error
    ("", None, None),
    (None, None, None),
]


def test_convert_dates(spark):
    df = spark.createDataFrame([(c[0],) for c in DATE_CASES], "raw string")
    df = df.selectExpr("raw", *date_parts("raw"))
    d, s = convert_dates("raw")
    rows = df.selectExpr("raw", f"{d} AS d", f"{s} AS s").collect()
    for (raw, exp_d, exp_s), row in zip(DATE_CASES, rows):
        assert row["d"] == exp_d, (raw, row["d"], exp_d)
        assert row["s"] == exp_s, (raw, row["s"], exp_s)


def test_validate_dates(spark):
    """Finnish error strings of src/validators.py:14-39."""
    df = spark.createDataFrame(
        [
            ("22.06.1941", None),
            ("01.01.1939", "Päivämäärä liian varhainen"),
            ("01.01.1946", "Päivämäärä liian myöhäinen"),
            ("39.13.1944", "Päivämäärä ei ole kelvollinen"),
            ("xx.06.1941", None),  # xx-prefixed unresolved: silent
        ],
        "raw string, expected string",
    ).selectExpr("*", *date_parts("raw"))
    d, s = convert_dates("raw")
    err = validate_dates(d, s)
    for row in df.selectExpr("raw", "expected", f"{err} AS err").collect():
        assert row["err"] == row["expected"], row


def test_jaro_winkler_matches_duckdb():
    con = duckdb.connect()
    words = [
        "maanviljelijä", "maanviljelija", "opettaja", "opetaja", "työmies",
        "suutari", "räätäli", "kauppias", "", "a", "JR 8", "martha", "marhta",
    ]
    random.seed(7)
    pairs = [(random.choice(words), random.choice(words)) for _ in range(200)]
    for a, b in pairs:
        exp = con.execute("select jaro_winkler_similarity(?, ?)", [a, b]).fetchone()[0]
        got = jaro_winkler_py(a.encode("utf-8").decode("latin-1"), b.encode("utf-8").decode("latin-1"))
        assert abs(exp - got) < 1e-12, (a, b, exp, got)


def test_levenshtein_ratio_matches_duckdb(spark):
    con = duckdb.connect()
    pairs = [("JR 8", "Jalkaväkirykmentti 8"), ("KTR 9", "KTR 2"), ("työmies", "tyomies")]
    df = spark.createDataFrame(pairs, "a string, b string")
    got = df.selectExpr(f"{levenshtein_ratio(ascii_fold('a'), ascii_fold('b'))} AS r").collect()
    for (a, b), row in zip(pairs, got):
        exp = con.execute(
            "select " + duckdb_levenshtein_ratio(
                duckdb_ascii_fold(f"'{a}'"), duckdb_ascii_fold(f"'{b}'")
            )
        ).fetchone()[0]
        assert abs(exp - row["r"]) < 1e-9, (a, b)


def test_enum_default(spark):
    """convert_from_dict falls back to Tuntematon (src/converters.py:101-102)."""
    from casualty_linking_spark.operators.records import _enum_col

    df = spark.createDataFrame([("M",), ("F",), ("Q",), (None,)], "spuoli string")
    rows = df.selectExpr(f"{_enum_col('spuoli', 'gender')} AS u").collect()
    assert rows[0]["u"].endswith("Mies")
    assert rows[1]["u"].endswith("Nainen")
    assert rows[2]["u"].endswith("Tuntematon")
    assert rows[3]["u"].endswith("Tuntematon")


def test_phonetic_key_matches_duckdb_and_tolerates_vowel_typos(spark):
    """The J7 phonetic block key: (1) Spark and the rendered DuckDB SQL
    agree byte-for-byte, (2) a vowel substitution — including inside the
    first 3 chars, where the fam3 prefix block fails — leaves the key
    unchanged, (3) different consonant skeletons get different keys."""
    from casualty_linking_spark.functions.similarity import (
        duckdb_phonetic_key, phonetic_key,
    )

    names = [
        "Virtanen", "Vurtanen",      # planted typo class: same key
        "Tuominen", "Taominen",      # same
        "Mäkinen", "Makinen",        # fold: same
        "Heikkilä", "Korhonen", "Laine", "Salminen", "Aalto",
        "Hämäläinen", "O'Brien", "Karjalainen",
    ]
    df = spark.createDataFrame([(n,) for n in names], "name string")
    got = {r.name: r.k for r in df.selectExpr("name", f"{phonetic_key('name')} AS k").collect()}

    con = duckdb.connect()
    for n in names:
        lit = "'" + n.replace("'", "''") + "'"
        exp = con.execute("select " + duckdb_phonetic_key(lit)).fetchone()[0]
        assert got[n] == exp, (n, got[n], exp)

    assert got["Virtanen"] == got["Vurtanen"]
    assert got["Tuominen"] == got["Taominen"]
    assert got["Mäkinen"] == got["Makinen"]
    assert got["Virtanen"] != got["Korhonen"]
    # every key carries the disjointness prefix
    assert all(k.startswith("P") for k in got.values())


def _adversarial_names(n: int = 2000) -> list:
    """Names built from the characters the unification rules react to."""
    rng = random.Random(11)
    pieces = [
        "KORHONEN", "virtanen", "K0RH0NEN", "ENT.", "E.", "ent.", "VON", "von",
        "%", "-", "'", "ä", "ö", "å", "Ä", "Ö", "Å", "ß", "ü", "9", "0", "(", ")",
        " ", "  ", "o'brien", "MATTI-JUHANI", "d'ARTAGNAN", "ÅSTRÖM",
    ]
    names = [None, "", " ", "%", "-", "ß", "0", "VON  FIEANDT", "VIRTANEN ENT. LAHTI"]
    while len(names) < n:
        names.append("".join(rng.choice(pieces) for _ in range(rng.randint(1, 6))))
    return names


def test_name_unification_udfs_equal_the_scalar_rules(spark):
    """The pandas UDFs the records stage runs give what the scalar rule
    chains give, name for name, null and empty input included."""
    from pyspark.sql import functions as F

    from casualty_linking_spark.functions.names import (
        unify_family_name, unify_family_py, unify_given_name, unify_given_py,
    )

    names = _adversarial_names()
    df = spark.createDataFrame([(i, s) for i, s in enumerate(names)], "i int, s string")
    got = df.select(
        "i", unify_family_name(F.col("s")).alias("f"), unify_given_name(F.col("s")).alias("g")
    ).collect()
    assert len(got) == len(names)
    for r in got:
        assert r.f == unify_family_py(names[r.i]), names[r.i]
        assert r.g == unify_given_py(names[r.i]), names[r.i]

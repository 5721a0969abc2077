"""The Spark dimension tables and the DuckDB VALUES CTEs of the oracle read
the same rows, and the Spark tables keep their declared schemas."""

import datetime
from collections import Counter

import duckdb
import pytest

from casualty_linking_spark import dims, queries, sqltext
from casualty_linking_spark.operators import records as REC

# dim -> (declared DDL schema, CTE renderer or None, rows when there is no CTE)
DIMS = {
    "dim_ranks": (
        "rank_uri string, label_fi string, label_en string, level int, alt_labels array<string>",
        None, dims.rank_rows,
    ),
    "dim_rank_labels": (
        "rank_uri string, label string, lang string, is_pref boolean",
        dims.rank_labels_cte, None,
    ),
    "dim_units": (
        "unit_uri string, pref_label string, alt_labels array<string>, "
        "cover_number string, conflict string",
        None, dims.unit_rows,
    ),
    "dim_unit_labels": (
        "unit_uri string, label string, cover_number string, conflict string",
        dims.unit_labels_cte, None,
    ),
    "dim_municipalities": (
        "mun_uri string, label string, current_municipality string, "
        "wartime_municipality string, preferred_municipality string",
        dims.municipalities_cte, None,
    ),
    "dim_pnr_labels": ("pnr_uri string, label string", dims.pnr_labels_cte, None),
    "dim_warsa_labels": ("warsa_uri string, label string", dims.warsa_labels_cte, None),
    "dim_occupations": ("occ_uri string, label string", dims.occupations_cte, None),
    "dim_cemeteries": ("cem_uri string", dims.cemeteries_cte, None),
    "dim_codes": ("code_kind string, key string, uri string", dims.codes_cte, None),
}


def _cte_rows(cte: str, cols: list[str]) -> list[tuple]:
    name = cte.split("(", 1)[0]
    return duckdb.sql(f"WITH {cte} SELECT {', '.join(cols)} FROM {name}").fetchall()


@pytest.mark.parametrize("name", sorted(DIMS))
def test_dim_schema_and_rows_match_the_oracle(spark, name):
    ddl, cte, rows = DIMS[name]
    df = getattr(dims, name)(spark)
    expected = spark.createDataFrame([], ddl).schema
    assert df.schema == expected, (df.schema, expected)
    assert all(f.nullable for f in df.schema.fields)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan

    got = [tuple(list(v) if isinstance(v, list) else v for v in r) for r in df.collect()]
    want = _cte_rows(cte(), df.columns) if cte else rows()
    key = lambda r: repr(r)  # noqa: E731 — rows hold lists (unhashable)
    assert Counter(map(key, got)) == Counter(map(key, want))
    assert len(got) > 0


def test_sql_literal_round_trips(spark):
    values = ["it's", "back\\slash", "both \\' at once", "nul\x00tab\tend", "Pieksämäki", ""]
    exprs = [f"{sqltext.lit(v)} AS c{i}" for i, v in enumerate(values)]
    row = spark.sql("SELECT " + ", ".join(exprs)).first()
    assert list(row) == values
    typed = spark.sql(
        "SELECT " + ", ".join(sqltext.lit(v) for v in
                              [None, True, 7, 0.1, -10.488756, datetime.date(1939, 11, 30), ["a", "b"]])
    ).first()
    assert list(typed) == [None, True, 7, 0.1, -10.488756, datetime.date(1939, 11, 30), ["a", "b"]]


def test_record_errors_date_bound_is_one_constant():
    """The death-date upper bound of record_errors and of its oracle is one
    constant, not the day the code runs — the oracle text is stable."""
    bound = REC.DEATH_DATE_BEFORE
    assert REC.DATE_FIELDS["kuolinaika"][1] == bound
    sql = queries.oracle_record_errors()
    assert f"DATE '{bound.isoformat()}'" in sql
    assert datetime.date.today().isoformat() not in sql or bound == datetime.date.today()

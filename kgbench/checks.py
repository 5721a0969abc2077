"""Output checks and link quality, computed with DuckDB from the stage
tables a ``Pipeline.run`` wrote (no Spark job runs after the timed section).

* ``t5_triples`` holds no duplicate (subj, pred, obj) and equals, on the
  graph kinds only linker stages produce, the distinct union of those stage
  tables; every person link is in it too.
* Stage tables equal their DuckDB oracle (``queries.oracle_*``) run over a
  ``customer`` view of the seeded pids. Inputs without literal edits check
  every linker stage, the person components and the casualty triples; the
  edited ``register`` input checks what its edits cannot touch: the rank
  links, and the casualty triples minus the two edited literal predicates.
* Per-linker precision and recall against the synth's planted truth
  (``eval_pr`` truth expressions, ``evaluate_linker`` semantics) must reach
  the paper's 0.95.
"""

from __future__ import annotations

from pathlib import Path

MIN_PR = 0.95
LINK_KINDS = ("rank_links", "occupation_links", "unit_links")
LINK_STAGES = ("t3_rank_links", "t3_occupation_links", "t3_unit_links", "t3_related_periods")
EDITED_PREDS = ("occupation_literal", "unit_literal")


def connect(root: Path, pids: Path, persons: bool):
    import duckdb

    con = duckdb.connect()
    con.execute(f"CREATE VIEW customer AS SELECT pid AS c_custkey FROM read_parquet('{pids}')")
    stages = ["t2_records", *LINK_STAGES]
    if persons:
        stages += ["t4_person_links", "t4_components"]
    for s in stages:
        con.execute(f"CREATE VIEW {s} AS SELECT * FROM read_parquet('{root / s}/*.parquet')")
    con.execute(
        f"CREATE VIEW t5_triples AS SELECT * FROM "
        f"read_parquet('{root}/t5_triples/*/*.parquet', hive_partitioning = true)"
    )
    return con


def _count(con, sql: str) -> int:
    return con.execute(sql).fetchone()[0]


def _sym_diff(con, a: str, b: str, cols: str) -> int:
    """Rows in one relation and not the other, multiset semantics."""
    return _count(
        con,
        f"SELECT count(*) FROM ((SELECT {cols} FROM {a} EXCEPT ALL SELECT {cols} FROM {b}) "
        f"UNION ALL (SELECT {cols} FROM {b} EXCEPT ALL SELECT {cols} FROM {a}))",
    )


def _oracle(con, name: str, sql: str) -> str:
    con.execute(f"CREATE OR REPLACE TEMP TABLE oracle_{name} AS {sql}")
    return f"oracle_{name}"


def output_check(con, persons: bool, edited: bool) -> dict:
    """Mismatch counts per check; the output is correct when all are 0."""
    from casualty_linking_spark import namespaces as NS, queries as Q

    spo = "subj, pred, obj"
    kinds = ", ".join(f"'{k}'" for k in LINK_KINDS)
    stage_union = " UNION ".join(f"SELECT {spo}, graph_kind FROM {s}" for s in LINK_STAGES)
    out = {
        "t5_duplicates": _count(
            con, f"SELECT count(*) - count(DISTINCT ({spo})) FROM t5_triples"
        ),
        "t5_vs_link_stages": _sym_diff(
            con,
            f"(SELECT {spo}, graph_kind FROM t5_triples WHERE graph_kind IN ({kinds}))",
            f"({stage_union})",
            f"{spo}, graph_kind",
        ),
    }
    if persons:
        out["t5_missing_person_links"] = _count(
            con,
            f"SELECT count(*) FROM (SELECT {spo} FROM t4_person_links "
            f"EXCEPT SELECT {spo} FROM t5_triples)",
        )
    oracles = {"t3_rank_links": Q.oracle_link_ranks()}
    if not edited:
        oracles.update(
            t3_occupation_links=Q.oracle_link_occupations(),
            t3_unit_links=Q.oracle_link_units(),
            t3_related_periods=Q.oracle_related_periods(),
        )
        if persons:
            oracles["t4_person_links"] = Q.oracle_link_persons()
    for stage, sql in oracles.items():
        out[f"{stage}_vs_oracle"] = _sym_diff(con, stage, _oracle(con, stage, sql), spo)
    if persons and not edited:
        # queries.oracle_connected_components over the person links just
        # checked: they are a matching, so each component is one link
        # (recomputing the oracle's matching would repeat the link oracle)
        cc = (
            "(SELECT subj AS vertex, least(subj, obj) AS component FROM t4_person_links "
            "UNION ALL SELECT obj, least(subj, obj) FROM t4_person_links)"
        )
        out["t4_components_vs_oracle"] = _sym_diff(con, "t4_components", cc, "vertex, component")
    cas = _oracle(con, "casualties", Q.oracle_triples_casualties())
    cols = f"{spo}, obj_type, datatype"
    keep = "TRUE"
    if edited:
        keep = " AND ".join(f"pred != '{NS.cas(p)}' AND pred != '{NS.warsa(p)}'" for p in EDITED_PREDS)
    out["t5_casualties_vs_oracle"] = _sym_diff(
        con,
        f"(SELECT {cols} FROM t5_triples WHERE graph_kind = 'casualties' AND {keep})",
        f"(SELECT {cols} FROM {cas} WHERE {keep})",
        cols,
    )
    return out


def link_quality(con, persons: bool) -> dict:
    """Per-linker and micro-averaged precision/recall vs planted truth."""
    from casualty_linking_spark import eval_pr

    preds = {
        "ranks": "t3_rank_links",
        "occupations": "t3_occupation_links",
        "units": "t3_unit_links",
    }
    if persons:
        preds["persons"] = "t4_person_links"
    out: dict = {}
    tot = [0, 0, 0]
    for name, stage in preds.items():
        truth_fn, _ = eval_pr.TRUTH_EXPRS[name]
        tp, pred, truth = con.execute(
            f"""SELECT count(CASE WHEN p.obj = t.true_obj THEN 1 END), count(p.obj), count(t.true_obj)
            FROM (SELECT record_uri, {truth_fn()} AS true_obj FROM t2_records) t
            LEFT JOIN (SELECT subj, obj FROM {stage}) p ON t.record_uri = p.subj"""
        ).fetchone()
        out[name] = {
            "precision": tp / pred if pred else 1.0,
            "recall": tp / truth if truth else 1.0,
            "tp": tp, "pred": pred, "truth": truth,
        }
        tot = [tot[0] + tp, tot[1] + pred, tot[2] + truth]
    out["micro"] = {
        "precision": tot[0] / tot[1] if tot[1] else 1.0,
        "recall": tot[0] / tot[2] if tot[2] else 1.0,
    }
    return out


def quality_ok(q: dict) -> bool:
    return all(
        v["precision"] >= MIN_PR and v["recall"] >= MIN_PR for k, v in q.items() if k != "micro"
    )


def linker_ratios(con, persons: bool) -> dict:
    """Distinct literals scored and records linked / records with a literal
    per dimension linker, and records linked to a person / records (traced
    runs)."""
    out = {"link_persons.match_ratio": 0.0}
    if persons:
        out["link_persons.match_ratio"] = _count(
            con,
            "SELECT (SELECT count(DISTINCT subj) FROM t4_person_links) / count(*) FROM t2_records",
        )
    for layer, col, stage in (
        ("link_ranks", "rank_literal", "t3_rank_links"),
        ("link_occupations", "occupation_literal", "t3_occupation_links"),
        ("link_units", "unit_literal", "t3_unit_links"),
    ):
        lit = f"nullif(trim({col}), '')"
        vocab, with_lit = con.execute(
            f"SELECT count(DISTINCT {lit}), count({lit}) FROM t2_records"
        ).fetchone()
        linked = _count(con, f"SELECT count(DISTINCT subj) FROM {stage}")
        out[f"{layer}.vocab"] = vocab
        out[f"{layer}.match_ratio"] = linked / with_lit if with_lit else 0.0
    return out

"""Argmax resolution of the dictionary linkers on planted dimensions.

The real dimensions have no colliding rank label and few tied unit
candidates, so the oracle comparisons cannot tell a wrong tie-break from a
right one. Here the collisions and ties are planted, and each linker must
equal a pure-Python reference of its per-literal semantics.
"""

import datetime

from casualty_linking_spark import namespaces as NS
from casualty_linking_spark.operators.link_ranks import link_ranks
from casualty_linking_spark.operators.link_units import COVER_NUMBER_SCORE_LIMIT, link_units

RANK_LABELS = [
    # one label on a prefLabel and an altLabel: the prefLabel wins, though
    # the altLabel's rank sorts first
    ("r:z_pref", "Korpraali", "fi", True),
    ("r:a_alt", "korpraali", "fi", False),
    # two altLabels tie: the lower rank_uri wins
    ("r:m", "Sotamies", "fi", False),
    ("r:c", "SOTAMIES", "fi", False),
    ("r:k", "Kersantti", "fi", True),
    ("r:k", "Kers.", "fi", False),
]
RANK_LITERALS = [
    "  KORPRAALI ", "korpraali", "Korpraali", "Sotamies", " sotamies  ",
    "kers.", "KERSANTTI", "Tuntematon", "", None,
]


def _rank_reference(literal):
    """Per-literal argmax: prefLabel over altLabel, then rank_uri."""
    if literal is None:
        return None
    key = literal.strip(" ").lower()
    cands = [(not pref, uri) for uri, label, _, pref in RANK_LABELS if label.lower() == key]
    return min(cands)[1] if cands else None


def test_rank_links_equal_per_literal_argmax_on_colliding_labels(spark):
    labels = spark.createDataFrame(
        RANK_LABELS, "rank_uri string, label string, lang string, is_pref boolean"
    )
    records = spark.createDataFrame(
        [(f"rec{i}", lit) for i, lit in enumerate(RANK_LITERALS)],
        "record_uri string, rank_literal string",
    )
    got = sorted((r.subj, r.pred, r.obj) for r in link_ranks(records, labels).collect())
    want = sorted(
        (f"rec{i}", NS.cas("rank"), _rank_reference(lit))
        for i, lit in enumerate(RANK_LITERALS)
        if _rank_reference(lit) is not None
    )
    assert got == want
    # the planted collisions are live: both tie-breaks decide a link
    assert ("rec0", NS.cas("rank"), "r:z_pref") in got
    assert ("rec3", NS.cas("rank"), "r:c") in got


UNIT_LABELS = [
    # one unit, two labels: its best label decides its score
    ("u:b", "Jalkaväkirykmentti 8", "101", NS.CONTINUATION_WAR),
    ("u:b", "JR 8", "101", NS.CONTINUATION_WAR),
    ("u:a", "JR 80", "101", NS.CONTINUATION_WAR),
    # two units tie at the best score: the lower unit_uri wins
    ("u:y", "Erillinen Pataljoona 4", "202", NS.CONTINUATION_WAR),
    ("u:x", "Erillinen Pataljoona 4", "202", NS.CONTINUATION_WAR),
]
UNIT_RECORDS = [
    # (record_uri, unit_code, unit_literal); every literal that path A
    # accepts would also find a path-B candidate
    ("rec1", "101", "JR 8"),
    ("rec2", "202", "Erillinen Pataljoona 4"),
    ("rec3", "101", "Jalkaväkirykmentti 8"),
    ("rec4", None, "JR 8"),
    ("rec5", "101", "zzzz"),
    ("rec6", "999", "Erillinen Pataljoona 4"),
    ("rec7", "202", "Erillinen Patal"),
]


def _ratio(a: str, b: str) -> float:
    fold = str.maketrans("äöåüéóáÄÖÅÜÉÓÁ", "aoaueoaAOAUEOA")
    a, b = a.translate(fold), b.translate(fold)
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return 100.0 * (1.0 - prev[-1] / max(len(a), len(b), 1))


def _path_a_reference(code, literal):
    """Max score per unit over its labels, then argmax by (score DESC,
    unit_uri ASC); accepted at the cover-number score limit."""
    per_unit: dict = {}
    for uri, label, cover, _ in UNIT_LABELS:
        if cover == code:
            per_unit[uri] = max(per_unit.get(uri, -1.0), _ratio(label, literal))
    if not per_unit:
        return None
    uri, score = min(per_unit.items(), key=lambda kv: (-kv[1], kv[0]))
    return uri if score >= COVER_NUMBER_SCORE_LIMIT else None


def test_unit_path_a_equals_per_unit_argmax_and_paths_are_disjoint(spark):
    labels = spark.createDataFrame(
        UNIT_LABELS, "unit_uri string, label string, cover_number string, conflict string"
    )
    records = spark.createDataFrame(
        [(r, c, lit, datetime.date(1942, 1, 1), None) for r, c, lit in UNIT_RECORDS],
        "record_uri string, unit_code string, unit_literal string, "
        "date_of_death date, date_of_death_str string",
    )
    links, _ = link_units(records, labels)
    got = [(r.subj, r.pred, r.obj) for r in links.collect()]

    # no triple twice, and no record linked twice (a record that took a
    # path-A link never reaches path B)
    assert len(got) == len(set(got)), got
    subjects = [s for s, _, _ in got]
    assert len(subjects) == len(set(subjects)), got

    by_record = {s: o for s, _, o in got}
    path_a = {r: _path_a_reference(c, lit) for r, c, lit in UNIT_RECORDS if c is not None}
    accepted = {r: u for r, u in path_a.items() if u is not None}
    assert accepted == {"rec1": "u:b", "rec2": "u:x", "rec3": "u:b", "rec7": "u:x"}, path_a
    for rec, unit in accepted.items():
        assert by_record.get(rec) == unit, (rec, got)
    # the fall-through records resolve on path B (rec5 matches nothing)
    assert by_record.get("rec4") == "u:b" and by_record.get("rec6") == "u:x", got
    assert "rec5" not in by_record, got

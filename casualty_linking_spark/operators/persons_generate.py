"""G1-G10 — person + biographical-event generation for unlinked casualties
(reference src/person_generator.py).

For every DeathRecord without a crm:P70_documents link (J10 anti-join,
src/person_generator.py:214-216) mint actors/person_{id} plus its
birth/death/joining/promotion/wounding/disappearance events. All eight
graphs are ONE projection: every triple entry carries its ``graph_kind`` and
its graph's guard, and a single ``inline`` over the concatenated entry
arrays emits them in one scan over the silver record joined with the
(broadcast) link tables — no cache, no per-graph pass, no driver loop. The
output is a set with no dedup: one base row per unlinked record (the
municipality dimension is keyed by ``mun_uri``, a record has at most one
rank link, its occupation and unit links are collected as sets), subjects
minted per record and graph, and fi / en labels that differ by template
(tests/test_triples_are_sets.py).

Event semantics pinned by the reference:

* event URI = events/{prefix}{local_id}; time-span URI = events/times/…
  (src/person_generator.py:27,43-44).
* a *multi-unit* casualty gets ONE joining event URI carrying several
  P144_joined_with triples (the reference reuses the same URI per unit and
  merges, src/person_generator.py:160-175).
* the time-span objects reuse the record's emitted date literal — an
  xsd:date ISO string or the cleaned dirty string (src/person_generator.py:49-51).
* wounding/disappearance events only when date|municipality|place present
  (src/person_generator.py:89,112); promotion only when a rank link exists
  (:133-134); joining only when unit links exist (:156-157).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .. import namespaces as NS
from ..functions.dates import date_cmp_str
from ..sqltext import lit

PERSON_URI_PREFIX = NS.ACTORS + "person_"
EVENT_PREFIX = NS.EVENTS_NS
TIMES_PREFIX = NS.TIMES_NS

# every triple entry below is Spark SQL text; all eight graphs' entries
# reach the JVM as one expression (see sqltext.py)
_LOCAL_ID = "regexp_extract(record_uri, '/(p[^/]+)$', 1)"


def _t(subj: str, pred: str, obj: str, obj_type: str = "uri", lang: str | None = None,
       datatype: str | None = None) -> tuple[str, str]:
    """One triple entry as (condition, struct fields): present when ``subj``
    and ``obj`` (SQL expressions) are both non-null. ``pred``, ``obj_type``
    and ``lang`` are constants; ``datatype`` is a SQL expression."""
    return (
        f"isnotnull({obj}) AND isnotnull({subj})",
        f"{subj} AS subj, {lit(pred)} AS pred, {obj} AS obj, {lit(obj_type)} AS obj_type, "
        f"CAST({lit(lang)} AS STRING) AS lang, "
        f"{datatype or 'CAST(NULL AS STRING)'} AS datatype",
    )


def _graph(
    kind: str,
    entries: list[tuple[str, str]],
    guard: str | None = None,
    each: tuple[str, str, tuple[str, str]] | None = None,
) -> str:
    """A graph's entry array: each entry becomes a struct tagged with
    ``kind`` when the graph's ``guard`` and the entry's own condition hold,
    else NULL. ``each`` = (array column, lambda variable, entry) adds one
    entry per element of that array column (NULL = empty)."""

    def entry(t: tuple[str, str]) -> str:
        cond, fields = t
        if guard:
            cond = f"({guard}) AND {cond}"
        return f"CASE WHEN {cond} THEN struct({fields}, {lit(kind)} AS graph_kind) END"

    arr = f"array({', '.join(entry(t) for t in entries)})"
    if each:
        col, var, t = each
        arr = f"concat({arr}, transform(coalesce({col}, array()), {var} -> {entry(t)}))"
    return arr


def _event_entries(
    event_type: str,
    prefix: str,
    relation_prop: str,
    date_col: str | None,
    place_col: str | None,
    lbl_fi: str,
    lbl_en: str,
) -> tuple[str, list[tuple[str, str]]]:
    """Shared generate_event core (src/person_generator.py:21-54): the event
    URI expression and its triple entries."""
    ev = f"concat({lit(EVENT_PREFIX + prefix)}, local_id)"
    entries = [
        _t(ev, NS.RDF_TYPE, lit(event_type)),
        _t(ev, relation_prop, "person_uri"),
        _t(ev, NS.DCT_SOURCE, lit(NS.NARC_SOURCE)),
        _t(ev, NS.SKOS_PREF_LABEL, lbl_fi, "literal", "fi"),
        _t(ev, NS.SKOS_PREF_LABEL, lbl_en, "literal", "en"),
    ]
    if place_col:
        entries.append(_t(ev, NS.CRM + "P7_took_place_at", place_col + "_preferred"))
    if date_col:
        ts = f"concat({lit(TIMES_PREFIX + prefix)}, local_id)"
        date_lit = date_cmp_str(date_col, date_col + "_str")
        dt = f"CASE WHEN {date_col} IS NOT NULL THEN {lit(NS.XSD + 'date')} END"
        has_date = f"isnotnull({date_lit})"
        entries += [
            _t(ev, NS.CRM + "P4_has_time-span", f"CASE WHEN {has_date} THEN {ts} END"),
            _t(ts, NS.CRM + "P82a_begin_of_the_begin", date_lit, "literal", None, dt),
            _t(ts, NS.CRM + "P82b_end_of_the_end", date_lit, "literal", None, dt),
            _t(ts, NS.SKOS_PREF_LABEL, date_lit, "literal"),
            _t(ts, NS.RDF_TYPE, f"CASE WHEN {has_date} THEN {lit(NS.CRM + 'E52_Time-Span')} END"),
        ]
    return ev, entries


def _any_not_null(*cols: str) -> str:
    return " OR ".join(f"{c} IS NOT NULL" for c in cols)


def generate_persons(
    records: DataFrame,
    person_links: DataFrame,
    occupation_links: DataFrame,
    rank_links: DataFrame,
    unit_links: DataFrame,
    munics_dim: DataFrame,
    rank_labels_dim: DataFrame,
) -> dict[str, DataFrame]:
    """-> {"generated": triples} — the persons, promotions, joinings, births,
    deaths, disappearances, woundings and documents_links graphs as one
    DataFrame, told apart by ``graph_kind``. The rows are a set by
    construction (see the module docstring), so nothing deduplicates them."""
    # J10: skip casualties already linked to a person
    linked = person_links.selectExpr("subj AS record_uri")
    base = records.join(linked, "record_uri", "left_anti").selectExpr(
        "*",
        f"{_LOCAL_ID} AS local_id",
        f"concat({lit(PERSON_URI_PREFIX)}, {_LOCAL_ID}) AS person_uri",
        # person_name = '{given} {family}' (src/person_generator.py:188)
        "concat_ws(' ', given_names, family_name) AS person_name",
    )

    # preferred municipality per place column (broadcast joins)
    for col in [
        "municipality_of_birth", "municipality_of_death",
        "municipality_of_wounding", "municipality_of_going_mia",
    ]:
        pref = munics_dim.selectExpr(f"mun_uri AS {col}", f"preferred_municipality AS {col}_preferred")
        base = base.join(F.broadcast(pref), col, "left")

    # link tables (aggregated per record)
    occs = occupation_links.groupBy(F.expr("subj AS record_uri")).agg(
        F.expr("sort_array(collect_set(obj)) AS occ_uris")
    )
    ranks = rank_links.selectExpr("subj AS record_uri", "obj AS rank_uri_linked")
    units = unit_links.groupBy(F.expr("subj AS record_uri")).agg(
        F.expr("sort_array(collect_set(obj)) AS unit_uris")
    )
    base = (
        base.join(occs, "record_uri", "left")
        .join(ranks, "record_uri", "left")
        .join(units, "record_uri", "left")
    )
    # fi/en rank labels for the promotion label (src/person_generator.py:141-146)
    rk = rank_labels_dim.where("is_pref").groupBy(F.expr("rank_uri AS rank_uri_linked")).agg(
        F.expr("min(CASE WHEN lang = 'fi' THEN label END) AS rank_label_fi"),
        F.expr("min(CASE WHEN lang = 'en' THEN label END) AS rank_label_en"),
    )
    base = base.join(F.broadcast(rk), "rank_uri_linked", "left")

    p = "person_uri"
    name = "person_name"
    graphs = []

    # --- persons (G1), with one has_occupation triple per linked occupation
    graphs.append(_graph("persons", [
        _t(p, NS.RDF_TYPE, lit(NS.warsa("Person"))),
        _t(p, NS.FOAF + "familyName", "family_name", "literal"),
        _t(p, NS.FOAF + "firstName", "given_names", "literal"),
        _t(p, NS.FOAF + "givenName", "given_names", "literal"),
        _t(p, NS.SKOS_PREF_LABEL, name, "literal"),
        _t(p, NS.DCT_SOURCE, lit(NS.NARC_SOURCE)),
        _t(p, NS.CRM + "P70i_is_documented_in", "record_uri"),
    ], each=("occ_uris", "o", _t(p, NS.BIOC + "has_occupation", "o"))))

    # --- documents_links (G9): every unlinked record, unconditionally
    _, fields = _t("record_uri", NS.CRM + "P70_documents", p)
    graphs.append(_graph("documents_links", [("true", fields)]))

    # --- births / deaths (unguarded, G3/G4)
    _, ent = _event_entries(
        NS.warsa("Birth"), "birth_", NS.CRM + "P98_brought_into_life",
        "date_of_birth", "municipality_of_birth",
        f"format_string('%s syntyi', {name})", f"format_string('%s was born', {name})",
    )
    graphs.append(_graph("births", ent))

    _, ent = _event_entries(
        NS.warsa("Death"), "death_", NS.CRM + "P100_was_death_of",
        "date_of_death", "municipality_of_death",
        f"format_string('%s kuoli', {name})", f"format_string('%s died', {name})",
    )
    graphs.append(_graph("deaths", ent))

    # --- disappearances (guarded, G5)
    ev, ent = _event_entries(
        NS.warsa("Disappearing"), "disappear_cas_", NS.CRM + "P11_had_participant",
        "date_of_going_mia", "municipality_of_going_mia",
        f"format_string('%s katosi', {name})",
        f"format_string('%s went missing in action', {name})",
    )
    ent.append(_t(ev, NS.warsa("place_string"), "place_of_going_mia_literal", "literal"))
    graphs.append(_graph("disappearances", ent, guard=_any_not_null(
        "date_of_going_mia", "date_of_going_mia_str", "municipality_of_going_mia",
        "place_of_going_mia_literal",
    )))

    # --- woundings (guarded, G6)
    ev, ent = _event_entries(
        NS.warsa("Wounding"), "wound_cas_", NS.CRM + "P11_had_participant",
        "date_of_wounding", "municipality_of_wounding",
        f"format_string('%s haavoittui', {name})", f"format_string('%s was wounded', {name})",
    )
    ent.append(_t(ev, NS.warsa("place_string"), "place_of_wounding", "literal"))
    graphs.append(_graph("woundings", ent, guard=_any_not_null(
        "date_of_wounding", "date_of_wounding_str", "municipality_of_wounding", "place_of_wounding",
    )))

    # --- promotions (guarded on rank link, G7)
    rank_fi = "coalesce(rank_label_fi, rank_literal)"
    rank_en = f"coalesce(rank_label_en, {rank_fi})"
    ev, ent = _event_entries(
        NS.warsa("Promotion"), "promotion_cas_", NS.CRM + "P11_had_participant",
        None, None,
        f"format_string('%s ylennettiin sotilasarvoon %s', {name}, lower({rank_fi}))",
        f"format_string('%s was promoted to %s', {name}, lower({rank_en}))",
    )
    ent.append(_t(ev, NS.HAS_RANK_PROP, "rank_uri_linked"))
    graphs.append(_graph("promotions", ent, guard="rank_uri_linked IS NOT NULL"))

    # --- joinings (guarded on unit links; ONE event URI per casualty carrying
    # one P144_joined_with triple per unit, G8)
    ev, ent = _event_entries(
        NS.warsa("PersonJoining"), "joining_cas_", NS.CRM + "P143_joined",
        None, None,
        f"format_string('%s liittyi joukko-osastoon %s', {name}, unit_literal)",
        f"format_string('%s joined %s', {name}, unit_literal)",
    )
    graphs.append(_graph(
        "joinings", ent, guard="size(coalesce(unit_uris, array())) > 0",
        each=("unit_uris", "u", _t(ev, NS.CRM + "P144_joined_with", "u")),
    ))

    return {"generated": base.selectExpr(f"inline(array_compact(concat({', '.join(graphs)})))")}


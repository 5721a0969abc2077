"""Graph-algebra primitives: union set semantics, pattern removal, direct
URI mappings, documents-links join (J8), CC convergence."""

from pyspark.sql import Row, functions as F

from casualty_linking_spark import namespaces as NS
from casualty_linking_spark.operators.triples import (
    documents_links, fix_by_direct_uri_mappings, remove_pattern, union_graphs,
)
from casualty_linking_spark.operators.link_persons import connected_components

TRIPLE = "subj string, pred string, obj string, obj_type string, lang string, datatype string, graph_kind string"


def _g(spark, rows):
    return spark.createDataFrame(
        [Row(subj=s, pred=p, obj=o, obj_type="uri", lang=None, datatype=None, graph_kind="t")
         for s, p, o in rows],
        TRIPLE,
    )


def test_union_dedups(spark):
    a = _g(spark, [("s1", "p", "o1"), ("s1", "p", "o2")])
    b = _g(spark, [("s1", "p", "o2"), ("s2", "p", "o1")])
    assert union_graphs(a, b).count() == 3


def test_remove_pattern(spark):
    g = _g(spark, [("s1", "p1", "o"), ("s2", "p2", "o"), ("s3", "p1", "x")])
    assert remove_pattern(g, pred="p1").count() == 1
    assert remove_pattern(g, pred="p1", obj="x").count() == 2


def test_fix_uri_mappings(spark):
    g = _g(spark, [("s", "p", "Alipuseeri"), ("s", "p2", NS.CEMETERIES + "x"), ("s", "p3", "keep")])
    objs = {r.obj for r in fix_by_direct_uri_mappings(g).collect()}
    assert objs == {"Aliupseeri", NS.CEMETERIES + "hx_0", "keep"}


def test_documents_links_join(spark):
    P70 = NS.CRM + "P70_documents"
    P70I = NS.CRM + "P70i_is_documented_in"
    dr = NS.warsa("DeathRecord")
    g = _g(spark, [
        ("c1", NS.RDF_TYPE, dr),
        ("c2", NS.RDF_TYPE, dr),
        ("c2", P70, "personX"),  # already linked -> skipped
        ("c3", NS.RDF_TYPE, dr),
    ])
    inv = _g(spark, [("personA", P70I, "c1"), ("personB", P70I, "c3"), ("personC", P70I, "c2")])
    got = {(r.subj, r.obj) for r in documents_links(g, inv).collect()}
    assert got == {("c1", "personA"), ("c3", "personB")}


def test_connected_components_chain(spark):
    # a-b-c chain + isolated pair d-e: two components
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "e")], "src string, dst string"
    )
    comp = {r.vertex: r.component for r in connected_components(edges).collect()}
    assert comp == {"a": "a", "b": "a", "c": "a", "d": "d", "e": "d"}


def _cc_py(pairs):
    """Driver-side union-find ground truth."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def _cc_check(spark, pairs, max_iter=50):
    edges = spark.createDataFrame(pairs, "src string, dst string")
    got = {r.vertex: r.component
           for r in connected_components(edges, max_iter).collect()}
    assert got == _cc_py(pairs)


def test_cc_star_path_graph_within_log_rounds(spark):
    # 12-hop path: a diameter-bounded closure would need ~12 rounds, star
    # needs O(log); max_iter=6 proves the round bound actually holds
    pairs = [(f"v{i:02d}", f"v{i+1:02d}") for i in range(12)]
    edges = spark.createDataFrame(pairs, "src string, dst string")
    star = {r.vertex: r.component
            for r in connected_components(edges, 6).collect()}
    assert star == {f"v{i:02d}": "v00" for i in range(13)}
    _cc_check(spark, pairs)


def test_cc_star_random_graphs_match_union_find(spark):
    # deterministic pseudo-random multi-component graphs (LCG — no RNG
    # seeding concerns), incl. duplicate edges, reversed dups and self-loops
    state = 123456789
    pairs = []
    for _ in range(60):
        state = (1103515245 * state + 12345) % (1 << 31)
        a = state % 40
        state = (1103515245 * state + 12345) % (1 << 31)
        b = state % 40
        pairs.append((f"n{a:02d}", f"n{b:02d}"))
    pairs += [(b, a) for a, b in pairs[:10]]  # reversed duplicates
    _cc_check(spark, pairs)


def test_cc_star_two_cliques_bridge(spark):
    k1 = [(f"a{i}", f"a{j}") for i in range(5) for j in range(i + 1, 5)]
    k2 = [(f"b{i}", f"b{j}") for i in range(5) for j in range(i + 1, 5)]
    _cc_check(spark, k1 + k2 + [("a4", "b0")])


def test_graph_diff_properties(spark):
    """diff(a, a) is empty; swapping arguments swaps added<->removed."""
    from casualty_linking_spark.operators.triples import graph_diff

    a = spark.createDataFrame(
        [("s1", "p", "o1"), ("s2", "p", "o2"), ("s3", "p", "o3")],
        "subj string, pred string, obj string",
    )
    b = spark.createDataFrame(
        [("s1", "p", "o1"), ("s4", "p", "o4")],
        "subj string, pred string, obj string",
    )
    assert graph_diff(a, a).count() == 0
    d1 = {(r.op, r.subj) for r in graph_diff(a, b).collect()}
    assert d1 == {("added", "s2"), ("added", "s3"), ("removed", "s4")}
    d2 = {(r.op, r.subj) for r in graph_diff(b, a).collect()}
    assert d2 == {("removed", "s2"), ("removed", "s3"), ("added", "s4")}


def test_greedy_match_equals_sequential_greedy(spark):
    """link_persons._greedy_match run to sufficient depth must equal the
    classic sequential greedy one-to-one matching (descending score, skip
    used endpoints) — the semantics of the reference's dedupe matchBlocks.
    Distinct scores keep tie-breaking out of the property. A truncated run
    must be a subset (rounds only ever ADD disjoint matches)."""
    import numpy as np

    from casualty_linking_spark.operators.link_persons import _greedy_match

    rng = np.random.RandomState(7)
    for case in range(3):
        n_l, n_r = 12, 10
        rows = []
        seen_scores = set()
        for _ in range(40):
            l = int(rng.randint(n_l))
            r = int(rng.randint(n_r))
            s = round(float(rng.uniform(0.5, 1.0)), 9)
            if s in seen_scores:
                continue
            seen_scores.add(s)
            rows.append((f"rec{l:02d}", f"act{r:02d}", s))
        # dedupe (record, actor) keeping max score, like dropDuplicates+max
        best = {}
        for l, r, s in rows:
            if (l, r) not in best or s > best[(l, r)]:
                best[(l, r)] = s
        pairs = [(l, r, s) for (l, r), s in best.items()]

        expected = set()
        used_l, used_r = set(), set()
        for l, r, s in sorted(pairs, key=lambda p: -p[2]):
            if l not in used_l and r not in used_r:
                expected.add((l, r))
                used_l.add(l)
                used_r.add(r)

        sdf = spark.createDataFrame(pairs, "record_uri string, actor_uri string, score double")
        full = {(r.record_uri, r.actor_uri) for r in _greedy_match(sdf, rounds=12).collect()}
        assert full == expected, (case, full ^ expected)
        truncated = {(r.record_uri, r.actor_uri) for r in _greedy_match(sdf, rounds=1).collect()}
        assert truncated <= expected


def test_greedy_match_is_a_matching_under_ties(spark):
    """_greedy_match returns a matching however its windows break ties: no
    record and no actor appears twice. Pipeline.run's closed-form
    t4_components (one component per link) rests on this. Adversarial
    inputs: every score equal (complete bipartite, duplicate pairs
    included), and a tie chain whose cascade runs deeper than 3 rounds."""
    from casualty_linking_spark.operators.link_persons import _greedy_match

    complete = [(f"rec{l}", f"act{r}", 0.9) for l in range(6) for r in range(5)]
    complete += complete[:7]
    # rec_i ties between act_i and act_(i+1); each round resolves one link
    # at the chain's head, so 3 rounds stop well short of its end
    chain = [(f"rec{i}", f"act{i + d}", 0.9) for i in range(8) for d in (0, 1)]
    for name, pairs in [("complete", complete), ("chain", chain)]:
        sdf = spark.createDataFrame(pairs, "record_uri string, actor_uri string, score double")
        for rounds in (3, 12):
            got = [(r.record_uri, r.actor_uri) for r in _greedy_match(sdf, rounds=rounds).collect()]
            assert got, (name, rounds)
            recs, acts = [r for r, _ in got], [a for _, a in got]
            assert len(set(recs)) == len(recs), (name, rounds, got)
            assert len(set(acts)) == len(acts), (name, rounds, got)
            assert set(got) <= {(r, a) for r, a, _ in pairs}, (name, rounds, got)


def _mutual_best_rounds(pairs, rounds):
    """Pure-Python iterated mutual-best: per round, a pair matches when it
    is its record's best remaining pair (score desc, then actor URI) and
    its actor's (score desc, then record URI); both endpoints then leave."""
    live, out = list(pairs), set()
    for _ in range(rounds):
        best_rec, best_act = {}, {}
        for rec, act, score in live:
            if rec not in best_rec or (-score, act) < best_rec[rec][0]:
                best_rec[rec] = ((-score, act), act)
            if act not in best_act or (-score, rec) < best_act[act][0]:
                best_act[act] = ((-score, rec), rec)
        m = {(rec, act) for rec, act, _ in live
             if best_rec[rec][1] == act and best_act[act][1] == rec}
        out |= m
        recs, acts = {r for r, _ in m}, {a for _, a in m}
        live = [p for p in live if p[0] not in recs and p[1] not in acts]
    return out


def test_greedy_match_rounds_equal_reference_under_ties(spark):
    """_greedy_match(rounds=r) equals the pure-Python iterated mutual-best
    round for round, on tie-heavy inputs (scores drawn from five values,
    no duplicate (record, actor) pair) where tie-breaking by partner URI and
    the removal of matched endpoints decide the result."""
    import random

    from casualty_linking_spark.operators.link_persons import _greedy_match

    for case in range(4):
        rng = random.Random(11 + case)
        scores = {}
        for _ in range(50):
            key = (f"rec{rng.randrange(10):02d}", f"act{rng.randrange(9):02d}")
            scores[key] = rng.choice([0.86, 0.9, 0.93, 0.97, 1.0])
        pairs = [(rec, act, s) for (rec, act), s in sorted(scores.items())]
        sdf = spark.createDataFrame(pairs, "record_uri string, actor_uri string, score double")
        for rounds in (1, 2, 3, 5):
            got = {(r.record_uri, r.actor_uri) for r in _greedy_match(sdf, rounds=rounds).collect()}
            want = _mutual_best_rounds(pairs, rounds)
            assert got == want, (case, rounds, sorted(got ^ want))


def test_constraint_violations_hand_graph(spark):
    """Planted violations: s1 has two distinct death dates (cardinality),
    s2 lacks the required death date (missing), duplicate identical triples
    do NOT count as a cardinality violation (distinct-object semantics),
    and a clean subject reports nothing."""
    from casualty_linking_spark.operators.triples import constraint_violations

    DD, BI = "w:date_of_death", "w:buried_in"
    g = _g(spark, [
        ("s1", DD, "1941-01-01"), ("s1", DD, "1941-02-02"), ("s1", BI, "c1"),
        ("s2", BI, "c2"),
        ("s3", DD, "1942-03-03"), ("s3", DD, "1942-03-03"), ("s3", BI, "c3"),
    ])
    out = constraint_violations(g, functional=[DD], required=[DD, BI])
    rows = {(r.subj, r.pred, r.kind): r.n for r in out.collect()}
    assert rows == {
        ("s1", DD, "cardinality"): 2,
        ("s2", DD, "missing"): 0,
    }

"""Link-quality gate: P/R of every fuzzy linker vs the planted ground truth.

BASELINE.json's headline metric is "triple P/R >= 0.95 vs reference casualty
links". The oracle contract already pins rule fidelity (exact set equality
with a DuckDB re-implementation of the reference semantics); this test pins
link QUALITY — the pipeline must recover the entity the synth planted,
through every documented dirt class. Everything is deterministic (same
data, same rules), so the thresholds are tight, not statistical.
"""

from casualty_linking_spark import eval_pr

from tests.conftest import SF_DIR

_CACHE: dict = {}


def _eval(spark):
    key = id(spark)
    if key not in _CACHE:
        _CACHE[key] = eval_pr.evaluate(spark, SF_DIR)
    return _CACHE[key]


def test_link_pr_meets_north_rule_bar(spark):
    r = _eval(spark)
    for linker in ("units", "ranks", "occupations", "persons"):
        assert r[linker]["precision"] == 1.0, (linker, r[linker])
        assert r[linker]["recall"] >= 0.99, (linker, r[linker])
    assert r["micro"]["precision"] == 1.0
    assert r["micro"]["recall"] >= 0.995

    # the single tolerated miss: a truncated coverless literal ('Pion.P 1')
    # that denotes a unit absent from the ontology — linking it would be a
    # false positive, so NO emission is the correct behavior
    units = r["units"]["by_class"]
    total_missing = sum(c["missing"] for c in units.values())
    assert total_missing <= 1, units
    assert all(c["wrong"] == 0 for c in units.values()), units


def test_link_pr_range_path(spark):
    """The range-generated evaluation (10^12-turn posture, no driver
    parquet) reproduces perfect person linking below the identity cycle
    and auto-excludes persons above it."""
    r = eval_pr.evaluate_range(spark, 500)
    assert r["persons"]["precision"] == 1.0 and r["persons"]["recall"] == 1.0
    assert r["units"]["precision"] == 1.0 and r["units"]["recall"] >= 0.98
    big = eval_pr.evaluate_range(spark, eval_pr.IDENTITY_CYCLE + 1)
    assert "persons" not in big


def test_no_spurious_links_on_no_target_records(spark):
    """Records the synth gave NO true target (unknown occupation, decoy-only
    actors) must not produce links — spurious emissions are exactly the
    precision failures the 0.88/mutual-best thresholds exist to prevent."""
    r = _eval(spark)
    assert r["occupations"]["spurious_on_no_target"] == 0
    assert r["persons"]["spurious_on_no_target"] == 0


def test_blocking_keeps_every_planted_pair_once(spark):
    """Blocking recall on its own: every planted true (record, actor) pair
    is a candidate of the blocked join, exactly once. End P/R alone would
    hide a blocking miss that the scorer and the matching never needed."""
    from collections import Counter

    from casualty_linking_spark import queries as Q, synth
    from casualty_linking_spark.operators.link_persons import candidate_pairs

    pairs = candidate_pairs(
        Q.sf_casualty_features(spark, SF_DIR), synth.actors_from_sf(spark, SF_DIR)
    )
    seen = Counter(tuple(r) for r in pairs.select("record_uri", "actor_uri").collect())
    truth = eval_pr.truth_frame(Q.build_silver(spark, SF_DIR), "persons")
    planted = [tuple(r) for r in truth.where("true_obj IS NOT NULL").select(
        "record_uri", "true_obj").collect()]
    assert planted
    missed = [p for p in planted if seen[p] != 1]
    assert not missed, missed

"""Skew-salting invariance: salted and unsalted person-linkage produce
identical links (salting only re-shapes the shuffle, never the result)."""

from casualty_linking_spark import dims, synth
from casualty_linking_spark.operators import extract, records as R
from casualty_linking_spark.operators.link_persons import casualty_features, link_persons
from casualty_linking_spark.operators.link_ranks import link_ranks
from casualty_linking_spark.operators.link_units import link_units


def test_salted_linkage_matches_unsalted(spark):
    rec = R.build_records(
        extract.mentions_to_raw_records(
            extract.extract_mentions(synth.transcripts_range(spark, 200))
        )
    ).localCheckpoint(eager=True)
    rl = link_ranks(rec, dims.dim_rank_labels(spark))
    ul, _ = link_units(rec, dims.dim_unit_labels(spark))
    feats = casualty_features(
        rec, rl, ul, dims.dim_ranks(spark), dims.dim_municipalities(spark)
    ).localCheckpoint(eager=True)

    spark.range(200).selectExpr("id AS pid").createOrReplaceTempView("range_pids")
    actors = spark.sql(
        "WITH " + synth.synth_sql("spark", pid_source="range_pids") + ",\n"
        + synth.actors_sql("spark") + "\nSELECT * FROM actors"
    )

    plain = {(r.subj, r.obj) for r in link_persons(feats, actors, salt_buckets=1).collect()}
    salted = {(r.subj, r.obj) for r in link_persons(feats, actors, salt_buckets=4).collect()}
    assert plain == salted
    assert len(plain) > 100

    # block_cap: a generous cap is a no-op; a tiny cap drops exactly the
    # keys oversized_block_keys reports, and records with several surviving
    # keys still link
    from casualty_linking_spark.operators.link_persons import (
        blocked_sides,
        oversized_block_keys,
    )

    capped_hi = {
        (r.subj, r.obj)
        for r in link_persons(feats, actors, block_cap=10_000_000).collect()
    }
    assert capped_hi == plain

    left, right, _ = blocked_sides(feats, actors)
    over = oversized_block_keys(left, right, 50).collect()
    assert over, "the 20-surname synth must produce oversized blocks at cap=50"
    assert all(r.n_pairs > 50 and r.n_pairs == r.n_left * r.n_right for r in over)
    # NOT asserting capped_lo <= plain: greedy matching is not monotone
    # under candidate removal (dropping a block can free an actor whose new
    # best is a pair absent from the uncapped matching), so the subset claim
    # would be data-accidental. The cap's contract is: fewer candidates in,
    # a valid matching out.
    capped_lo = [
        (r.subj, r.obj) for r in link_persons(feats, actors, block_cap=50).collect()
    ]
    assert 0 < len(capped_lo) < len(plain)
    assert len({s for s, _ in capped_lo}) == len(capped_lo)  # still a matching
    assert len({o for _, o in capped_lo}) == len(capped_lo)


def test_block_keys_null_strict(spark):
    """A null family or given must yield NULL (never partial) block keys —
    the DuckDB oracle's NULL-equality semantics. concat_ws would silently
    drop the null component and let two null-named rows block on the year
    alone (latent engine/oracle divergence this pins against)."""
    from casualty_linking_spark.operators.link_persons import _block_keys

    df = spark.createDataFrame(
        [(None, "1944-01-02", "1900-03-04", "Matti"), ("Virtanen", "1944-01-02", None, None)],
        "family string, death string, birth string, given string",
    )
    keys = df.selectExpr(
        _block_keys("family", "death", "birth", "given", name_only_always=True) + " AS k"
    ).collect()
    null_family, null_given = keys[0]["k"], keys[1]["k"]
    assert all(k is None for k in null_family), null_family
    base, name = null_given[:4], null_given[4:]
    assert all(k is not None for k in base), null_given
    assert all(k is None for k in name), null_given

"""Measured effect of deterministic key salting on a Zipf-skewed person-
linkage blocking join (the north-star requirement: "handles skew explicitly
via key salting and AQE skew-join hints").

Protocol: build the real RL inputs (silver features + actors), then plant a
mega-block — a fixed fraction of BOTH sides gets one family name and one
death year, so a single blocking key carries frac^2 of all candidate pairs
(the Zipf head). Run link_persons with salt_buckets=1 vs salt_buckets=8 on
the identical input, assert the emitted links are IDENTICAL (salting is a
physical knob, not a semantic one), and report:
  * wall clock per setting (min of trials, warm),
  * the max per-join-key candidate count (the size of the biggest reduce
    task's work) with and without salt.

Run: python BENCH/skew_study.py [n_records] [cores] [skew_frac]
Defaults: 20000 records, 8 cores, 0.3.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 20000
    cores = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    frac = float(sys.argv[3]) if len(sys.argv) > 3 else 0.3

    from casualty_linking_spark import dims, synth
    from casualty_linking_spark.operators import extract, records as R
    from casualty_linking_spark.operators.link_persons import (
        blocked_sides,
        casualty_features,
        link_persons,
    )
    from casualty_linking_spark.operators.link_ranks import link_ranks
    from casualty_linking_spark.operators.link_units import link_units
    from casualty_linking_spark.session import get_spark

    spark = get_spark(app_name="skew_study", cores=cores)

    rec = R.build_records(
        extract.mentions_to_raw_records(
            extract.extract_mentions(synth.transcripts_range(spark, n))
        )
    )
    rl = link_ranks(rec, dims.dim_rank_labels(spark))
    ul, _ = link_units(rec, dims.dim_unit_labels(spark))
    feats = casualty_features(
        rec, rl, ul, dims.dim_ranks(spark), dims.dim_municipalities(spark)
    )
    actors = synth.actors_from_sf(spark, "/root/testdata/sf0.1")

    # Plant the Zipf head: `frac` of each side collapses to ONE
    # (family, death-year) blocking key. Deterministic membership via hash.
    def skew(df, id_col, fam_col, death_col):
        head = F.pmod(F.hash(F.col(id_col)), F.lit(1000)) < int(frac * 1000)
        return df.withColumn(
            fam_col, F.when(head, F.lit("virtanen")).otherwise(F.col(fam_col))
        ).withColumn(
            death_col, F.when(head, F.lit("1941-07-01")).otherwise(F.col(death_col))
        )

    feats = skew(feats, "record_uri", "family", "death_iso").localCheckpoint(eager=True)
    actors = skew(actors, "actor_uri", "family", "death_iso").localCheckpoint(eager=True)

    # biggest single join key's candidate-pair count (the work the largest
    # reduce task would carry), per salt setting, on link_persons' own
    # blocked sides
    def max_key_pairs(salt_buckets: int) -> int:
        left, right, keys = blocked_sides(feats, actors, salt_buckets)
        lc = left.groupBy(*keys).agg(F.count(F.lit(1)).alias("nl"))
        rc = right.groupBy(*keys).agg(F.count(F.lit(1)).alias("nr"))
        row = (
            lc.join(rc, keys)
            .select(F.max(F.col("nl") * F.col("nr")).alias("mx"))
            .first()
        )
        return int(row["mx"])

    def run(salt_buckets: int, trials: int = 2) -> tuple[float, int]:
        links = None
        walls = []
        for _ in range(trials):
            t0 = time.perf_counter()
            out = link_persons(feats, actors, salt_buckets=salt_buckets)
            n_links = out.count()
            walls.append(time.perf_counter() - t0)
        return min(walls), n_links

    results = {"n_records": n, "cores": cores, "skew_frac": frac}
    results["max_key_pairs_salt1"] = max_key_pairs(1)
    results["max_key_pairs_salt8"] = max_key_pairs(8)
    w1, links1 = run(1)
    w8, links8 = run(8)
    results.update(
        wall_salt1=round(w1, 2), wall_salt8=round(w8, 2),
        links_salt1=links1, links_salt8=links8,
    )

    # salting must not change the emitted links
    a = link_persons(feats, actors, salt_buckets=1).select("subj", "obj")
    b = link_persons(feats, actors, salt_buckets=8).select("subj", "obj")
    results["links_identical"] = (
        a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    )
    print(json.dumps(results))
    spark.stop()


if __name__ == "__main__":
    main()

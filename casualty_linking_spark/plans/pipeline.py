"""Stage-DAG pipeline driver: T0 transcripts → T5 triples, each stage an
idempotent partitioned table write with lineage + metrics, resumable per
stage (the Spark re-expression of the reference's process.sh file-handoff
DAG, SURVEY §3 — `process.sh:14-52` stage order preserved).

T0 is the input table, read in place, and the first stage written is
``t2_records``: mention extraction (T1) runs inside its write, so no
per-turn table is materialized. Every stage table is one lazy plan over
the stages before it; none is a copy or a filter of another stage table.

Resume model: a stage re-runs only when its fingerprint (code version +
input-stage fingerprints, plus the identity of an input table it reads:
the transcripts for ``t2_records``, the actors for ``t4_person_links``,
the curated additions for ``t5_triples``) changed; otherwise its table is
read back. Within a stage, writes use
dynamic partition overwrite, so a re-run after partial failure replaces
only the partitions it produces (Iceberg overwrite-by-partition semantics
on parquet).
"""

from __future__ import annotations

import functools
import hashlib

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from .. import dims
from ..operators import extract, records as REC
from ..operators.link_occupations import link_occupations
from ..operators.link_persons import casualty_features, link_persons
# not called here; kept because kgbench's --trace 1 tracer wraps it by this name
from ..operators.link_persons import connected_components  # noqa: F401
from ..operators.link_ranks import link_ranks
from ..operators.link_units import link_units
from ..operators.persons_generate import generate_persons
from ..operators.triples import records_to_triples, union_graphs
from . import storage

CODE_VERSION = "r4"


class Pipeline:
    """End-to-end KG construction over a transcripts DataFrame source."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        transcripts: DataFrame,
        actors: DataFrame | None = None,
        additions: DataFrame | None = None,
    ):
        """``additions``: optional curated triples (subj, pred, obj,
        obj_type, lang, datatype[, graph_kind]) merged into t5 with set
        semantics — the analogue of the reference's cas_additions.ttl merge
        (process.sh:17); typically ``sources.ttl.read_turtle_blocks`` over a
        hand-maintained Turtle file."""
        self.spark = spark
        self.root = root.rstrip("/")
        self.transcripts = transcripts
        self.actors = actors
        self.additions = additions
        self.dims = dims.broadcast_dims(spark)
        self._fps: dict[str, str] = {}

    # -- stage machinery ----------------------------------------------------

    def _input_identity(self, df: DataFrame | None = None, content: bool = False) -> str:
        """Identity of an input DataFrame (default: the source transcripts),
        folded into the consuming stage's fingerprint so re-running against
        the same root with *different* input re-runs the DAG (resume must
        never silently read back a stale stage). File-backed sources: md5 of
        the sorted input-file list — metadata only, no scan (parquet files
        are immutable-by-convention). In-memory/SQL-synthesized sources (no
        input files): one aggregate pass — row count + order-independent
        bit_xor of xxhash64 over all columns (xor, not sum: summing
        2^63-range hashes overflows under ANSI arithmetic).

        ``content=True`` forces the aggregate content hash even for
        file-backed sources — required for inputs that are hand-edited in
        place (the curated Turtle additions), where the file *list* stays
        identical across edits and a metadata-only identity would silently
        resume stale downstream output."""
        df = self.transcripts if df is None else df
        files = df.inputFiles()
        if files and not content:
            basis = "files:" + "|".join(sorted(files))
        else:
            cols = [F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in df.columns]
            row = df.select(
                F.count(F.lit(1)).alias("n"),
                F.bit_xor(F.xxhash64(*cols)).alias("h"),
            ).first()
            basis = f"agg:{row['n']}|{row['h']}"
        return hashlib.md5(basis.encode()).hexdigest()

    def _fingerprint(self, stage: str, inputs: list[str]) -> str:
        basis = CODE_VERSION + "|" + stage + "|" + ",".join(self._fps.get(i, i) for i in inputs)
        return hashlib.md5(basis.encode()).hexdigest()

    def _stage(
        self,
        name: str,
        inputs: list[str],
        build,
        partition_by: list[str] | None = None,
        metrics_keys: list[str] | None = None,
    ) -> DataFrame:
        path = f"{self.root}/{name}"
        fp = self._fingerprint(name, inputs)
        self._fps[name] = fp
        man = storage.read_manifest(path)
        if man and man.get("fingerprint") == fp:
            return self.spark.read.parquet(path)
        # row count is observed during the write job itself (zero extra jobs —
        # the previous count() re-scanned every stage output)
        obs = Observation()
        df = build().observe(obs, F.count(F.lit(1)).alias("n_rows"))
        storage.write_table(df, path, partition_by=partition_by)
        # read back with the schema just written: no footer-inference job
        out = self.spark.read.schema(df.schema).parquet(path)
        storage.write_manifest(
            path, storage.snapshot_manifest(name, fp, obs.get["n_rows"], inputs)
        )
        keys = metrics_keys or partition_by
        if keys:
            storage.write_table(
                storage.partition_metrics(out, keys), f"{self.root}/metrics/{name}"
            )
        return out

    # -- stages --------------------------------------------------------------

    def run(self) -> DataFrame:
        # the records are built straight from the transcripts (the
        # reference reads the register and builds its records in one pass,
        # src/csv_to_rdf.py:138-191): no per-turn mention table is written
        t2 = self._stage(
            "t2_records", [self._input_identity()],
            lambda: REC.build_records(
                extract.mentions_to_raw_records(extract.extract_mentions(self.transcripts))
            ),
        )
        self._stage(
            "t2_errors", ["t2_records"], lambda: REC.record_errors(t2),
            metrics_keys=["column", "error"],
        )

        rank_links = self._stage(
            "t3_rank_links", ["t2_records"], lambda: link_ranks(t2, self.dims["rank_labels"])
        )
        occ_links = self._stage(
            "t3_occupation_links", ["t2_records"],
            lambda: link_occupations(t2, self.dims["occupations"]),
        )
        # one link_units plan feeds both unit tables, built only if a stage
        # re-runs: path A (vocabulary-sized) runs in both writes, path B
        # (the n-gram join over every record) in the unit-links write only
        units = functools.cache(lambda: link_units(t2, self.dims["unit_labels"]))
        unit_links = self._stage("t3_unit_links", ["t2_records"], lambda: units()[0])
        periods = self._stage("t3_related_periods", ["t2_records"], lambda: units()[1])

        person_links = None
        if self.actors is not None:
            # one lazy plan from the records to the links: scoring and the
            # matching rounds run inside this stage's write. The actors'
            # identity joins the fingerprint: a new actors table re-links
            # instead of reading back the links of the old one
            person_links = self._stage(
                "t4_person_links",
                ["t2_records", "t3_rank_links", "t3_unit_links",
                 "actors:" + self._input_identity(self.actors)],
                lambda: link_persons(
                    casualty_features(
                        t2, rank_links, unit_links,
                        dims.dim_ranks(self.spark), dims.dim_municipalities(self.spark),
                    ),
                    self.actors,
                ),
            )
            # the links are a matching (link_persons' greedy one-to-one
            # rounds), so each component is one link rooted at its lesser
            # endpoint: a projection, not an iterative closure
            self._stage(
                "t4_components", ["t4_person_links"],
                lambda: person_links.selectExpr(
                    "inline(array("
                    "struct(subj AS vertex, least(subj, obj) AS component), "
                    "struct(obj AS vertex, least(subj, obj) AS component)))"
                ),
            )

        cas = records_to_triples(t2, self.dims["cemeteries"])
        graphs = [cas, rank_links, occ_links, unit_links, periods]
        if person_links is not None:
            graphs.append(person_links)
            gen = generate_persons(
                t2, person_links, occ_links, rank_links, unit_links,
                dims.dim_municipalities(self.spark), dims.dim_rank_labels(self.spark),
            )
            graphs.extend(gen.values())

        extra_inputs: list[str] = []
        if self.additions is not None:
            # curated additions merge (reference process.sh:17) — set
            # semantics via union_graphs' dedup; the additions' own identity
            # joins the fingerprint so editing the curated file re-runs t5.
            # content=True: the typical source is a hand-maintained Turtle
            # file edited IN PLACE, so the file list alone is not an identity
            add = self.additions
            if "graph_kind" not in add.columns:
                add = add.withColumn("graph_kind", F.lit("casualties"))
            graphs.append(
                add.select(
                    "subj", "pred", "obj", "obj_type", "lang", "datatype", "graph_kind"
                )
            )
            extra_inputs.append(
                "additions:" + self._input_identity(self.additions, content=True)
            )

        triples = self._stage(
            "t5_triples",
            ["t2_records", "t3_rank_links", "t3_occupation_links", "t3_unit_links",
             "t3_related_periods"]
            + (["t4_person_links"] if person_links is not None else [])
            + extra_inputs,
            lambda: union_graphs(*graphs),
            partition_by=["graph_kind"],
            metrics_keys=["graph_kind", "pred"],
        )
        return triples

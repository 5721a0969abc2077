"""Seeded inputs for the KG-construction benchmark.

Every workload is a block of consecutive pids starting at a seed-derived
offset. The pids go through the public ``synth.synth_sql`` and
``synth.actors_sql`` (DuckDB dialect), so the synth's planted truth
(``eval_pr``) and the DuckDB oracles (``queries.oracle_*``) stay valid for
the generated rows. ``register`` then applies seeded character edits to the
AMMATTI and JOSNIMI literals in the transcript text of seven in ten of
its records, which turns the synth's ~20 literals into a long-tail dirty
vocabulary.

The edits are chosen so that the planted entity stays recoverable by the
rules the linkers implement: an occupation gets one extra letter after its
second character (Jaro-Winkler stays >= 0.9 and the first-letter block
holds), a unit literal gets a '.' or ',' inserted or one letter's case
flipped (both vanish under the unit linker's normalisation).

``generate`` writes ``transcripts/`` (parquet, fixed file count),
``actors.parquet`` when the workload links persons, ``pids.parquet`` and
``inputs.json`` with the record, turn and actor counts and the
distinct-literal counts.
"""

from __future__ import annotations

import json
import random
import re
from pathlib import Path

# Sizes are fixed per workload (not per host) so a seed names the same
# inputs everywhere. ``persons`` stays below eval_pr.IDENTITY_CYCLE (1680
# consecutive pids), past which feature-identical synth twins make the
# planted person truth ambiguous.
WORKLOADS = {
    "register": {"records": 600, "actors": False, "edit_share": 0.7},
    "persons": {"records": 200, "actors": True, "edit_share": 0.0},
}
# a table of several files, as a real transcripts table is: one small file
# would be one input split and serialise the scan and extraction on one core
TRANSCRIPT_FILES = 8
# seven-digit pids: URI and text lengths (and so bytes written) do not
# drift with the seed
PID_LOW, PID_HIGH = 1_000_000, 9_000_000

_OCC_RE = re.compile(r"(AMMATTI=)([^;]*)")
_UNIT_RE = re.compile(r"(JOSNIMI=)([^;]*)")
_LETTERS = "abcdefghijklmnopqrstuvwxyzäö"


def pid_offset(seed: int) -> int:
    return random.Random(f"pids:{seed}").randrange(PID_LOW, PID_HIGH)


def _edit_occupation(rng: random.Random, lit: str) -> str:
    p = rng.randint(2, len(lit))
    return lit[:p] + rng.choice(_LETTERS) + lit[p:]


def _edit_unit(rng: random.Random, lit: str) -> str:
    letters = [i for i, c in enumerate(lit) if c.isalpha()]
    if letters and rng.random() < 0.3:
        i = rng.choice(letters)
        return lit[:i] + lit[i].swapcase() + lit[i + 1:]
    p = rng.randint(1, len(lit) - 1)
    return lit[:p] + rng.choice(".,") + lit[p:]


def edit_texts(texts: list, turn_idx: list, seed: int, share: float) -> None:
    """Apply register's literal edits in place to the turn-1 texts of the
    conversations the seeded draw selects (one draw per conversation, in
    row order, which is conv_id order)."""
    rng = random.Random(f"edits:{seed}")
    for i in range(len(texts)):
        if turn_idx[i] != 1 or rng.random() >= share:
            continue
        t = _OCC_RE.sub(lambda m: m.group(1) + _edit_occupation(rng, m.group(2)), texts[i], 1)
        texts[i] = _UNIT_RE.sub(lambda m: m.group(1) + _edit_unit(rng, m.group(2)), t, 1)


def _distinct_literals(texts: list, turn_idx: list, rx: re.Pattern) -> int:
    return len({m.group(2) for t, k in zip(texts, turn_idx) if k == 1 for m in [rx.search(t)] if m})


def generate(workload: str, seed: int, out: Path) -> dict:
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from casualty_linking_spark import synth

    spec = WORKLOADS[workload]
    out.mkdir(parents=True, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    off = pid_offset(seed)
    con.execute(
        f"CREATE TABLE bench_pids AS SELECT CAST({off} + range AS BIGINT) AS pid "
        f"FROM range({spec['records']})"
    )
    con.execute(f"COPY bench_pids TO '{out / 'pids.parquet'}' (FORMAT PARQUET)")
    prefix = "WITH " + synth.synth_sql("duckdb", pid_source="bench_pids")
    tr = con.execute(
        prefix + "\nSELECT conv_id, turn_idx, role, text, tool, "
        "timezone('UTC', ts) AS ts FROM transcripts ORDER BY conv_id, turn_idx"
    ).arrow()
    texts = tr.column("text").to_pylist()
    turn_idx = tr.column("turn_idx").to_pylist()
    if spec["edit_share"]:
        edit_texts(texts, turn_idx, seed, spec["edit_share"])
        tr = tr.set_column(tr.schema.get_field_index("text"), "text", pa.array(texts, pa.string()))
    tdir = out / "transcripts"
    tdir.mkdir(exist_ok=True)
    step = -(-tr.num_rows // TRANSCRIPT_FILES)
    for i in range(TRANSCRIPT_FILES):
        pq.write_table(tr.slice(i * step, step), tdir / f"part-{i:02d}.parquet")

    n_actors = 0
    if spec["actors"]:
        act = con.execute(prefix + ",\n" + synth.actors_sql("duckdb") + "\nSELECT * FROM actors").arrow()
        pq.write_table(act, out / "actors.parquet")
        n_actors = act.num_rows
    con.close()
    info = {
        "workload": workload,
        "seed": seed,
        "pid_offset": off,
        "records": spec["records"],
        "turns": tr.num_rows,
        "actors": n_actors,
        "distinct_occupation_literals": _distinct_literals(texts, turn_idx, _OCC_RE),
        "distinct_unit_literals": _distinct_literals(texts, turn_idx, _UNIT_RE),
    }
    (out / "inputs.json").write_text(json.dumps(info, indent=1))
    return info


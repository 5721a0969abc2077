"""Compare the stage tables of two ``Pipeline.run`` output roots.

Every stage table (``<root>/t*``) and every metrics sidecar
(``<root>/metrics/*``) is read with DuckDB and compared as a row multiset:
same columns, same types, and no row more often on one side than on the
other. Manifests are not compared (they carry a write time). Exits 1 on any
difference, including a table present under one root only.

Usage:
    python scripts/stage_diff.py ROOT_A ROOT_B
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

import duckdb


def tables(root: Path) -> dict[str, Path]:
    """Stage name -> table directory; sidecars as ``metrics/<stage>``."""
    out = {}
    for base, prefix in ((root, ""), (root / "metrics", "metrics/")):
        if base.is_dir():
            for d in sorted(base.iterdir()):
                if d.is_dir() and d != root / "metrics" and any(d.rglob("*.parquet")):
                    out[prefix + d.name] = d
    return out


def scan(d: Path) -> str:
    hive = any(p.is_dir() and "=" in p.name for p in d.iterdir())
    return f"read_parquet('{d}/**/*.parquet', hive_partitioning = {str(hive).lower()})"


def diff_table(con: duckdb.DuckDBPyConnection, a: Path, b: Path) -> str | None:
    """None when equal, else a one-line description of the difference."""
    schemas = []
    for d in (a, b):
        rel = con.sql(f"SELECT * FROM {scan(d)}")
        schemas.append(dict(zip(rel.columns, map(str, rel.types))))
    if schemas[0] != schemas[1]:
        return f"schema {schemas[0]} != {schemas[1]}"
    cols = ", ".join(f'"{c}"' for c in sorted(schemas[0]))
    sa, sb = (f"SELECT {cols} FROM {scan(d)}" for d in (a, b))
    n_a, n_b = (con.sql(f"SELECT count(*) FROM ({s})").fetchone()[0] for s in (sa, sb))
    only_a = con.sql(f"SELECT count(*) FROM ({sa} EXCEPT ALL {sb})").fetchone()[0]
    only_b = con.sql(f"SELECT count(*) FROM ({sb} EXCEPT ALL {sa})").fetchone()[0]
    if only_a or only_b:
        return f"{n_a} vs {n_b} rows; {only_a} only in A, {only_b} only in B"
    return None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("root_a", type=Path)
    ap.add_argument("root_b", type=Path)
    args = ap.parse_args(argv)
    ta, tb = tables(args.root_a), tables(args.root_b)
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    bad = 0
    for name in sorted(ta.keys() | tb.keys()):
        if name not in tb or name not in ta:
            msg = f"only in {'A' if name in ta else 'B'}"
        else:
            msg = diff_table(con, ta[name], tb[name])
        print(f"{name}: {msg or 'identical'}")
        bad += msg is not None
    print(f"{len(ta.keys() | tb.keys())} tables, {bad} differ")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())

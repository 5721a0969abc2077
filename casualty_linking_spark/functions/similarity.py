"""String-similarity scoring for candidate re-ranking.

Two tiers (SURVEY.md §2.3):

* JVM-side ``levenshtein_ratio`` — Spark's built-in ``levenshtein`` in a
  normalized 0-100 ratio, rendered as Spark SQL text like ``ascii_fold``
  and ``phonetic_key`` (the ``duckdb_*`` twins render the oracle side).
  This is the engine's default unit scorer (and the
  DuckDB-oracle-expressible one). The reference uses fuzzywuzzy fuzz.ratio
  with acceptance threshold 20 (src/linker.py:129,171,177); at that
  threshold the accept/reject decision is insensitive to which ratio is
  used, and the per-group argmax is made deterministic by a URI tie-break.
* ``fuzz_ratio`` — exact fuzzywuzzy-compatible difflib ratio as an
  Arrow-batched pandas UDF, for strict reference-parity tests.
* ``jaro_winkler`` — vectorized pandas UDF matching DuckDB's
  ``jaro_winkler_similarity`` (boost threshold 0.7, prefix cap 4);
  the occupation linker's scorer (threshold 0.88, src/linker.py:290),
  sanctioned by BASELINE.json north_star ("Jaro-Winkler/edit-distance
  candidate scoring").
"""

from __future__ import annotations

from difflib import SequenceMatcher

import numpy as np
import pandas as pd
from pyspark.sql import functions as F, types as T

from ..sqltext import lit


def levenshtein_ratio(a: str, b: str) -> str:
    """100 * (1 - lev(a,b) / max(len(a), len(b), 1)) as Spark SQL text over
    the expressions ``a`` and ``b`` — whole-stage-codegen'd."""
    return (
        f"100.0D * (1.0D - CAST(levenshtein({a}, {b}) AS DOUBLE) / "
        f"CAST(greatest(length({a}), length({b}), 1) AS DOUBLE))"
    )


def duckdb_levenshtein_ratio(a: str, b: str) -> str:
    return (
        f"100.0 * (1.0 - CAST(levenshtein({a}, {b}) AS DOUBLE) / "
        f"CAST(greatest(length({a}), length({b}), 1) AS DOUBLE))"
    )


@F.pandas_udf(T.DoubleType())
def fuzz_ratio(a: pd.Series, b: pd.Series) -> pd.Series:
    """fuzzywuzzy-0.17-compatible fuzz.ratio: round(100 * difflib ratio)
    (the reference's unit scorer, src/linker.py:171)."""
    out = np.empty(len(a), dtype=np.float64)
    for i, (x, y) in enumerate(zip(a.fillna(""), b.fillna(""))):
        out[i] = round(100 * SequenceMatcher(None, x, y).ratio())
    return pd.Series(out)


def _jaro(s1: str, s2: str) -> float:
    l1, l2 = len(s1), len(s2)
    if l1 == 0 and l2 == 0:
        return 1.0
    if l1 == 0 or l2 == 0:
        return 0.0
    window = max(l1, l2) // 2 - 1
    if window < 0:
        window = 0
    flags1 = [False] * l1
    flags2 = [False] * l2
    m = 0
    for i, c in enumerate(s1):
        lo = max(0, i - window)
        hi = min(l2, i + window + 1)
        for j in range(lo, hi):
            if not flags2[j] and s2[j] == c:
                flags1[i] = True
                flags2[j] = True
                m += 1
                break
    if m == 0:
        return 0.0
    t = 0
    k = 0
    for i in range(l1):
        if flags1[i]:
            while not flags2[k]:
                k += 1
            if s1[i] != s2[k]:
                t += 1
            k += 1
    t //= 2
    return (m / l1 + m / l2 + (m - t) / m) / 3.0


def jaro_winkler_py(s1: str, s2: str, prefix_weight: float = 0.1) -> float:
    """Standard Jaro-Winkler with 0.7 boost threshold and 4-char prefix cap —
    matches DuckDB's jaro_winkler_similarity (verified in tests)."""
    j = _jaro(s1, s2)
    if j > 0.7:
        prefix = 0
        for c1, c2 in zip(s1[:4], s2[:4]):
            if c1 != c2:
                break
            prefix += 1
        j += prefix * prefix_weight * (1.0 - j)
    return j


_JW_VEC_MAXLEN = 64  # vectorized path cap; longer pairs fall back to the scalar loop


def _jw_batch(a_bytes: list[bytes], b_bytes: list[bytes]) -> np.ndarray:
    """Batch Jaro-Winkler over byte strings, vectorized across the batch.

    The classic per-pair greedy matching loop runs over *character positions*
    (bounded by max string length) with every row of the batch advanced at
    once as 2-D numpy boolean ops — O(maxlen) numpy passes instead of
    O(batch * len^2) Python. Semantics identical to ``jaro_winkler_py`` over
    latin-1-decoded bytes (property-tested in tests/test_functions.py).
    """
    n = len(a_bytes)
    if n == 0:
        return np.empty(0, dtype=np.float64)
    l1 = np.fromiter((len(x) for x in a_bytes), dtype=np.int64, count=n)
    l2 = np.fromiter((len(x) for x in b_bytes), dtype=np.int64, count=n)

    long_mask = (l1 > _JW_VEC_MAXLEN) | (l2 > _JW_VEC_MAXLEN)
    out = np.empty(n, dtype=np.float64)
    if long_mask.any():
        for i in np.nonzero(long_mask)[0]:
            out[i] = jaro_winkler_py(
                a_bytes[i].decode("latin-1"), b_bytes[i].decode("latin-1")
            )
        keep = ~long_mask
        if not keep.any():
            return out
        out[keep] = _jw_batch(
            [a_bytes[i] for i in np.nonzero(keep)[0]],
            [b_bytes[i] for i in np.nonzero(keep)[0]],
        )
        return out

    L1 = max(int(l1.max()), 1)
    L2 = max(int(l2.max()), 1)
    # int16 matrices with distinct negative pads so padding never matches;
    # built in one frombuffer pass over ljust-joined bytes, pad positions
    # then overwritten by column-index mask (no per-row Python loop)
    A = (
        np.frombuffer(b"".join(s.ljust(L1, b"\x00") for s in a_bytes), dtype=np.uint8)
        .reshape(n, L1)
        .astype(np.int16)
    )
    B = (
        np.frombuffer(b"".join(s.ljust(L2, b"\x00") for s in b_bytes), dtype=np.uint8)
        .reshape(n, L2)
        .astype(np.int16)
    )
    A[np.arange(L1) >= l1[:, None]] = -1
    B[np.arange(L2) >= l2[:, None]] = -2

    cols2 = np.arange(L2)
    window = np.maximum(np.maximum(l1, l2) // 2 - 1, 0)
    flags1 = np.zeros((n, L1), dtype=bool)
    flags2 = np.zeros((n, L2), dtype=bool)
    rows = np.arange(n)
    for i in range(L1):
        lo = np.maximum(0, i - window)[:, None]
        hi = np.minimum(l2, i + window + 1)[:, None]
        cand = (B == A[:, i : i + 1]) & ~flags2 & (cols2 >= lo) & (cols2 < hi)
        j = cand.argmax(axis=1)  # greedy first match, as in the scalar loop
        hit = cand[rows, j]
        flags1[:, i] = hit
        flags2[rows[hit], j[hit]] = True

    m = flags1.sum(axis=1)
    # transpositions: matched chars of each side in position order;
    # np.nonzero is row-major so the two streams align row by row
    r1, c1 = np.nonzero(flags1)
    _, c2 = np.nonzero(flags2)
    mism = (A[r1, c1] != B[r1, c2]).astype(np.int64)
    t = np.bincount(r1, weights=mism, minlength=n).astype(np.int64) // 2

    with np.errstate(divide="ignore", invalid="ignore"):
        jaro = (m / l1 + m / l2 + (m - t) / np.maximum(m, 1)) / 3.0
    jaro = np.where(m == 0, 0.0, jaro)
    jaro = np.where((l1 == 0) & (l2 == 0), 1.0, jaro)

    P = min(4, L1, L2)
    prefix = np.zeros(n, dtype=np.int64)
    if P > 0:
        eq = (A[:, :P] == B[:, :P]) & (
            np.arange(P) < np.minimum(np.minimum(l1, l2), 4)[:, None]
        )
        prefix = np.cumprod(eq, axis=1).sum(axis=1)
    return np.where(jaro > 0.7, jaro + prefix * 0.1 * (1.0 - jaro), jaro)


@F.pandas_udf(T.DoubleType())
def jaro_winkler(a: pd.Series, b: pd.Series) -> pd.Series:
    """Operates on UTF-8 bytes (not codepoints) — byte-for-byte identical to
    DuckDB's jaro_winkler_similarity (verified in tests). Batch-vectorized
    via numpy (_jw_batch); no per-row Python in the hot path."""
    return pd.Series(_jw_batch(_utf8(a), _utf8(b)))


@F.pandas_udf(T.StructType([
    T.StructField("given", T.DoubleType()), T.StructField("family", T.DoubleType()),
]))
def jaro_winkler_names(
    given: pd.Series, a_given: pd.Series, family: pd.Series, a_family: pd.Series
) -> pd.DataFrame:
    """The two name scores of a person candidate pair — Jaro-Winkler of
    (given, a_given) and of (family, a_family), as ``jaro_winkler`` computes
    them — from one Arrow round trip instead of two."""
    return pd.DataFrame({
        "given": _jw_batch(_utf8(given), _utf8(a_given)),
        "family": _jw_batch(_utf8(family), _utf8(a_family)),
    })


def _utf8(s: pd.Series) -> list[bytes]:
    return [x.encode("utf-8") for x in s.fillna("")]


# ASCII folding for scorer inputs: Spark's levenshtein counts codepoints while
# DuckDB's counts UTF-8 bytes, so edit-distance scoring is defined over the
# accent-folded string (also improves match recall on dirty OCR'd text).
_FOLD_SRC = "äöåüéóáÄÖÅÜÉÓÁ"
_FOLD_DST = "aoaueoaAOAUEOA"


def ascii_fold(expr: str) -> str:
    return f"translate({expr}, '{_FOLD_SRC}', '{_FOLD_DST}')"


def duckdb_ascii_fold(expr: str) -> str:
    out = expr
    for s, d in zip(_FOLD_SRC, _FOLD_DST):
        out = f"replace({out}, '{s}', '{d}')"
    return out


# Phonetic blocking key (J7): consonant-skeleton code. Deliberately NOT
# Soundex — engines disagree on Soundex's H/W edge rules, and DuckDB's RE2
# regex lacks the backreferences a run-collapse would need — so the key is
# built only from translate + a bounded nested-replace collapse, both of
# which render bit-identically in Spark and DuckDB. It mirrors the
# tolerance of the reference's Lucene '~1' edit-distance name fuzzing
# (SPARQL/arpa_menehtyneet_persons.sparql:20-23): a vowel typo anywhere —
# including the first three characters, where the fam3 prefix block fails —
# leaves the key unchanged.
_PHON_FROM = "bfpvwcgjkqsxzdtlmnr" + "aeiouyh '-"
_PHON_TO = "1111122222222334556"  # consonant classes; trailing FROM chars deleted


def phonetic_key(expr: str) -> str:
    """'P' + first folded letter + the next 3 consonant-class codes, as Spark
    SQL text over the expression ``expr``.

    The 'P' prefix keeps phonetic keys disjoint from the lowercase fam3
    prefix keys they share an exploded block-key column with."""
    folded = ascii_fold(f"lower({expr})")
    codes = f"translate({folded}, {lit(_PHON_FROM)}, '{_PHON_TO}')"
    for d in "123456":
        for _ in range(3):  # collapses runs up to 8 — far beyond any name
            codes = f"replace({codes}, '{d}{d}', '{d}')"
    return f"concat('P', substring({folded}, 1, 1), substring({codes}, 2, 3))"


def duckdb_phonetic_key(expr: str) -> str:
    """Same key as :func:`phonetic_key`, rendered as DuckDB SQL."""
    folded = duckdb_ascii_fold(f"lower({expr})")
    frm = _PHON_FROM.replace("'", "''")
    codes = f"translate({folded}, '{frm}', '{_PHON_TO}')"
    for d in "123456":
        for _ in range(3):
            codes = f"replace({codes}, '{d}{d}', '{d}')"
    return f"('P' || substr({folded}, 1, 1) || substr({codes}, 2, 3))"

"""Canonical schemas (SURVEY.md §1.4).

The triples DataFrame is the engine's graph IR: an rdflib Graph (a set of
(s, p, o) triples — reference src/linker.py:208 relies on set-union
semantics) becomes a DataFrame of seven columns (subj, pred, obj,
obj_type, lang, datatype, graph_kind). ``operators.triples.union_graphs``
enforces set semantics with ``dropDuplicates(TRIPLE_COLS)`` when the
graphs are merged.
"""

from pyspark.sql import types as T

TRANSCRIPTS_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

TRIPLE_COLS = ["subj", "pred", "obj"]

# driver-supplied telemetry stream table (TESTDATA.md: events.parquet)
EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)

"""casualty_linking_spark — a from-scratch PySpark-native knowledge-graph
construction engine with the query/data-processing capabilities of
SemanticComputing/Casualty-linking (reference at /root/reference, studied
for behavior only; architecture is idiomatic Spark DataFrame/SQL).

Pipeline stages (SURVEY.md §7.1):

    T0 transcripts  (conv_id, turn_idx, role, text, tool, ts)
    T1 mentions     extraction of casualty-record fields per turn (inside the T2 write)
    T2 records      wide silver record per casualty + converters + validators
    T3 links        rank / unit / municipality / occupation entity linking
    T4 person_links blocked record-linkage + one-to-one matching; one component per link
    T5 triples      (subj, pred, obj) materialization, set semantics

plus large-scale training-data ops (dedup, similarity search, text analysis)
over the driver's documents/embeddings tables.
"""

__version__ = "0.1.0"

"""Controlled-vocabulary sources.

The reference ingests the LTER Controlled Vocabulary RDF into a
12-column SSSOM table keyed by ``skos:prefLabel``
(/root/reference/src/spinneret/sssom.py:48-70). Here the vocabulary is
a small broadcast-able DataFrame ``(subject_id, subject_label)`` —
the dictionary side of the entity-linking broadcast join (SURVEY.md
J1). Loaders:

* :func:`default_vocab` — frozen in-repo term list (deterministic,
  mirrors an ENVO/GeoNames/schema.org-style dictionary) used by the
  oracle-checked queries;
* :func:`sssom_from_ntriples` — regex N-Triples parser (rdflib-free)
  producing the reference's exact 12-column SSSOM shape;
* :func:`vocab_values_sql` — the same frozen terms as a DuckDB VALUES
  clause so oracle SQL sees the identical dictionary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Frozen linking dictionary: (term, URI). Terms are drawn from the
#: corpus token universe so linking exercises real hits and misses.
DEFAULT_TERMS = [
    "spark",
    "hash",
    "join",
    "merge",
    "filter",
    "window",
    "vector",
    "stream",
    "query",
    "scan",
    "sort",
    "table",
]

VOCAB_URI_PREFIX = "http://vocab.example.org/term/"

#: The 12 SSSOM columns (reference sssom.py:56-69).
SSSOM_COLUMNS = [
    "subject_id",
    "subject_label",
    "predicate_id",
    "object_id",
    "object_label",
    "confidence",
    "comment",
    "mapping_justification",
    "mapping_date",
    "author_id",
    "subject_source_version",
    "object_source_version",
]

SKOS_PREF_LABEL = "http://www.w3.org/2004/02/skos/core#prefLabel"


def default_vocab(spark: SparkSession) -> DataFrame:
    """(subject_id, subject_label) dictionary, small enough to
    broadcast everywhere (never shuffles the corpus — SURVEY.md J1)."""
    # imported here: Python workers import this module (for
    # DEFAULT_TERMS) and never need the sinks
    from spinneret_spark.sinks import tables as sinks

    rows = [(VOCAB_URI_PREFIX + t, t) for t in DEFAULT_TERMS]
    return sinks.local_frame(
        spark, rows, "subject_id string, subject_label string"
    )


def vocab_values_sql() -> str:
    """The identical dictionary as a DuckDB VALUES subquery."""
    rows = ", ".join(
        f"('{VOCAB_URI_PREFIX + t}', '{t}')" for t in DEFAULT_TERMS
    )
    return f"(SELECT * FROM (VALUES {rows}) AS v(subject_id, subject_label))"


def sssom_from_ntriples(spark: SparkSession, path: str) -> DataFrame:
    """N-Triples file → 12-column SSSOM DataFrame.

    Distributed equivalent of the reference's rdflib loop
    (sssom.py:48-55): scan lines, regex-split s/p/o, keep
    ``skos:prefLabel`` triples, project ``(subject_id, subject_label)``
    and pad the remaining 10 columns with ``""`` exactly as
    sssom.py:54 does. Catalyst pushes the predicate filter into the
    scan; the whole load is one narrow pass.
    """
    lines = spark.read.text(path)
    s = F.regexp_extract("value", r"^<([^>]+)>", 1)
    p = F.regexp_extract("value", r"^<[^>]+>\s+<([^>]+)>", 1)
    o = F.regexp_extract("value", r'"((?:[^"\\]|\\.)*)"', 1)
    df = (
        lines.select(
            s.alias("subject_id"), p.alias("pred"), o.alias("subject_label")
        )
        .filter(F.col("pred") == SKOS_PREF_LABEL)  # sssom.py:52
        .drop("pred")
    )
    for c in SSSOM_COLUMNS[2:]:
        df = df.withColumn(c, F.lit(""))
    return df

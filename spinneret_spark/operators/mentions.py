"""Mention detection: surface-form scan of document text against a
controlled vocabulary (SURVEY.md E7/U2-U3; north rule "batched mention
detection ... dictionary tries").

Two implementations, one semantics dial apart:

* :func:`detect_mentions` — pure built-ins: posexplode of the token
  array joined (broadcast) to the vocabulary. Single-token terms,
  exact match. This is the oracle-checked path: every step has a
  direct SQL twin, and the whole plan is narrow + broadcast —
  zero shuffles of the corpus until aggregation.
* :func:`detect_mentions_trie` — Arrow-batched iterator pandas UDF
  holding a leftmost-longest dictionary automaton built once per
  Python worker from a broadcast term list. Handles multi-word
  surface forms and emits character offsets. This is the scale path
  for real web text (regex-union automaton ≈ Aho-Corasick for
  dictionary sizes up to ~10^5 terms; swap the automaton, keep the
  plumbing, for larger dictionaries).

The reference has no mention detector — its workbook leaves
object/object_id empty for curators (workbook.py:135-141); detection
is mandated by BASELINE.json:6.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from spinneret_spark.functions.text import tokens


def detect_mentions(docs: DataFrame, vocab: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Token-level dictionary mentions via broadcast join.

    Returns one row per mention occurrence:
    ``(id_col, pos, surface, subject_id)`` with ``pos`` the 1-based
    token position. Plan shape: scan → posexplode (narrow) →
    broadcast hash join — the corpus is never shuffled.
    """
    toks = docs.select(
        id_col, F.posexplode(tokens(F.col(text_col))).alias("pos0", "surface")
    ).select(id_col, (F.col("pos0") + 1).alias("pos"), "surface")
    return toks.join(
        F.broadcast(vocab),
        toks["surface"] == vocab["subject_label"],
        "inner",
    ).select(id_col, "pos", "surface", "subject_id")


#: below this corpus size the JVM broadcast-join plan's fixed cost is
#: lower than any Python crossing's (measured at sf0.1/5k docs: the
#: kernel's worker+Arrow floor is ~0.3-0.4 s the codegen plan never
#: pays); above it the kernel's shuffle-free shape wins (sf1.0/50k:
#: 2.65 → 1.25 s) — the same kind of statistics-driven plan choice AQE
#: makes at runtime.
_KERNEL_MIN_DOCS = 16_000


def distinct_mentions(
    docs: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """DISTINCT (id, subject_id, term) mention triples — the fused
    twin of
    ``detect_mentions(...).select(id, subject_id, surface).distinct()``.

    The plan follows the corpus size: from ``_KERNEL_MIN_DOCS`` docs
    on, the Arrow kernel (because ``id`` is part of the distinct key,
    per-document dedup IS the global distinct, so the posexplode, the
    broadcast join, and the distinct's corpus shuffle all collapse
    into a per-doc set lookup against the collected vocabulary);
    below, the pure-JVM broadcast-join plan, whose fixed cost is lower
    than any Python crossing's. Results are identical either way
    (pytest-pinned): label→id is a multimap (two vocabulary rows
    sharing a label with different ids emit two mentions, exactly like
    the join; a duplicated row emits one, as the distinct does) and
    row order is unspecified (bag semantics)."""
    if docs.count() >= _KERNEL_MIN_DOCS:
        return _fused_mentions(docs, vocab, text_col, id_col, counts=False)
    return (
        detect_mentions(docs, vocab, text_col=text_col, id_col=id_col)
        .select(id_col, "subject_id", F.col("surface").alias("term"))
        .distinct()
    )


def mention_doc_counts(
    docs: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, subject_id, term, n_occ) — one row per document×mention
    with its occurrence count: the per-doc partial aggregate of
    ``detect_mentions``. ``groupBy(subject_id, term)`` over these rows
    with ``count(*)``/``sum(n_occ)`` equals
    ``countDistinct(doc_id)``/``count(*)`` over the occurrence rows —
    the degree rollup shuffles one row per (doc, term) instead of one
    per token occurrence. Same size-adaptive plan choice as
    :func:`distinct_mentions` (the small-corpus twin aggregates the
    occurrence rows in the JVM; identical results, pytest-pinned)."""
    if docs.count() >= _KERNEL_MIN_DOCS:
        return _fused_mentions(docs, vocab, text_col, id_col, counts=True)
    return (
        detect_mentions(docs, vocab, text_col=text_col, id_col=id_col)
        .groupBy(id_col, "subject_id", F.col("surface").alias("term"))
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .select(id_col, "subject_id", "term", "n_occ")
    )


def _fused_mentions(
    docs: DataFrame,
    vocab: DataFrame,
    text_col: str,
    id_col: str,
    counts: bool,
) -> DataFrame:
    # each id once per label: a duplicated vocabulary row must not
    # emit (or count) a mention twice
    label_map: dict[str, list[str]] = {}
    for r in vocab.select("subject_label", "subject_id").collect():
        ids = label_map.setdefault(r["subject_label"], [])
        if r["subject_id"] not in ids:
            ids.append(r["subject_id"])
    id_type = docs.schema[id_col].dataType.simpleString()
    schema = f"{id_col} {id_type}, subject_id string, term string"
    if counts:
        schema += ", n_occ long"

    def kernel(batches):
        for pdf in batches:
            out_id: list = []
            out_sid: list[str] = []
            out_term: list[str] = []
            out_n: list[int] = []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                if not text:
                    continue
                occ: dict[str, int] = {}
                for tok in text.split(" "):
                    if not tok:
                        continue
                    if tok in occ:
                        occ[tok] += 1
                    elif tok in label_map:
                        occ[tok] = 1
                for tok, n in occ.items():
                    for sid in label_map[tok]:
                        out_id.append(doc_id)
                        out_sid.append(sid)
                        out_term.append(tok)
                        out_n.append(n)
            data = {
                id_col: pd.Series(out_id, dtype=object),
                "subject_id": pd.Series(out_sid, dtype=object),
                "term": pd.Series(out_term, dtype=object),
            }
            if counts:
                data["n_occ"] = pd.Series(out_n, dtype="int64")
            yield pd.DataFrame(data)

    from spinneret_spark.operators.dedup import _spread

    return _spread(docs, id_col, text_col, docs.count()).mapInPandas(
        kernel, schema=schema
    )


class DictMatcher:
    """Leftmost-longest dictionary matcher, hash-window based.

    Matching cost is O(tokens × max_term_words) hash lookups,
    independent of dictionary size — the property that lets one
    broadcast ~10^6-term vocabularies where a regex alternation
    (O(|dict|) states to compile, pathological scan costs) or a
    pure-Python Aho-Corasick (pointer-chasing per char) would not
    keep up inside Arrow batches. Word-boundary semantics: tokens are
    ``\\w+`` runs; terms match on exact lowercase token sequences.
    Non-overlapping, leftmost-longest (ties to the longer term),
    matching the regex-union reference behavior for alphanumeric
    terms.
    """

    _TOKEN_RE = re.compile(r"\w+")

    def __init__(self, terms: list[str]):
        self.term_set = set()
        self.max_words = 1
        for t in terms:
            toks = tuple(w.lower() for w in self._TOKEN_RE.findall(t))
            if toks:
                self.term_set.add(toks)
                self.max_words = max(self.max_words, len(toks))
        # fast-path dictionary for the all-single-word case
        self._single = {t[0] for t in self.term_set if len(t) == 1}

    def find_norms(self, text: str) -> set[str]:
        """Distinct normalized surfaces present in ``text`` — the
        offset-free form the fused pipeline kernel needs.

        All-single-word dictionaries take a vectorized path: one
        whole-document ``str.lower`` (C level), one ``findall`` (C
        level, plain strings — no match objects), one set
        intersection. Measured ~6x faster than the positional scan,
        which at 10^12 pages is the difference between the detect
        kernel being ~half the pipeline and a rounding error.
        Semantics match :meth:`find` exactly: with width-1 terms,
        leftmost-longest greedy over \\w+ tokens degenerates to token
        membership.
        """
        if self.max_words == 1:
            return self._single.intersection(
                self._TOKEN_RE.findall(text.lower())
            )
        return {norm for norm, _, _ in self.find(text)}

    def find(self, text: str) -> list[tuple[str, int, int]]:
        """[(normalized_surface, start, end)] over one document."""
        toks = [
            (m.group(0).lower(), m.start(), m.end())
            for m in self._TOKEN_RE.finditer(text)
        ]
        out: list[tuple[str, int, int]] = []
        i, n = 0, len(toks)
        while i < n:
            matched = 0
            for width in range(min(self.max_words, n - i), 0, -1):
                window = tuple(t[0] for t in toks[i : i + width])
                if window in self.term_set:
                    out.append(
                        (" ".join(window), toks[i][1], toks[i + width - 1][2])
                    )
                    matched = width
                    break
            i += matched or 1
        return out


_MENTION_SCHEMA = ArrayType(
    StructType(
        [
            StructField("surface", StringType()),
            StructField("norm", StringType()),
            StructField("start", IntegerType()),
            StructField("end", IntegerType()),
        ]
    )
)


def detect_mentions_trie(
    docs: DataFrame, terms: list[str], text_col: str = "text"
) -> DataFrame:
    """Leftmost-longest multi-word mention scan with offsets.

    ``terms`` is collected driver-side once (the vocabulary is the
    small side by design) and shipped to workers inside the UDF
    closure; the DictMatcher is built once per worker thanks to the
    iterator UDF form (SURVEY.md U3), then reused across Arrow
    batches. Output: input rows + ``mentions`` array column — callers
    ``explode`` it downstream so this stays one Python crossing.
    """

    @F.pandas_udf(_MENTION_SCHEMA)
    def scan(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        matcher = DictMatcher(terms)  # built once per worker
        for texts in batches:
            out = []
            for text in texts:
                if text is None:
                    out.append([])
                    continue
                out.append(
                    [
                        {
                            "surface": text[s:e],
                            "norm": norm,
                            "start": s,
                            "end": e,
                        }
                        for norm, s, e in matcher.find(text)
                    ]
                )
            yield pd.Series(out)

    return docs.withColumn("mentions", scan(F.col(text_col)))

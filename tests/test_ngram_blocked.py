"""The dedup kernels against their references: the blocked
(block-pair numpy kernel) plan of ngram_jaccard_pairs must be
result-identical to the inverted-index join it replaced, md5 MinHash
must equal the expression plan, and crc32 signatures and sets — which
persisted ``canon_signatures`` depend on — must keep their values."""

import numpy as np
from conftest import TESTDATA_SF
from reference_impls import (
    crc32_shingle_set,
    jaccard_pairs_join,
    minhash_signatures_expr,
)

from spinneret_spark.operators import dedup
from spinneret_spark.operators.dedup import (
    minhash_signatures,
    minhash_signatures_pandas,
    ngram_jaccard_pairs,
    shingle_sets,
)

SF_DOCS = f"{TESTDATA_SF}/documents.parquet"


def _rows(df):
    return sorted(
        (r["id_a"], r["id_b"], repr(r["jaccard"])) for r in df.collect()
    )


def test_blocked_matches_join(spark):
    docs = spark.read.parquet(SF_DOCS)
    want = _rows(jaccard_pairs_join(docs, 0.5))
    got = _rows(ngram_jaccard_pairs(docs, 0.5))
    assert got == want and got


def test_minhash_kernel_matches_expr(spark):
    docs = spark.read.parquet(SF_DOCS)
    want = sorted(tuple(r) for r in minhash_signatures_expr(docs).collect())
    got = sorted(tuple(r) for r in minhash_signatures(docs).collect())
    assert got == want and got


def test_blocked_string_ids_and_short_docs(spark):
    rows = [
        ("z-doc", "alpha beta gamma delta epsilon zeta"),
        ("a-doc", "alpha beta gamma delta epsilon eta"),
        ("m-doc", "totally different words here appear only once"),
        ("short", "two words"),
        ("empty", ""),
        ("nul", None),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    want = _rows(jaccard_pairs_join(docs, 0.3))
    got = _rows(ngram_jaccard_pairs(docs, 0.3))
    assert got == want and got
    # orientation: id_a < id_b lexicographically, like the join plan
    for id_a, id_b, _ in got:
        assert id_a < id_b


#: a normal doc (double space, non-ASCII token), a repeated-token doc,
#: a doc with fewer than 3 tokens and a None doc
PIN_DOCS = [
    ("normal", "the quick  brown fox jumps over the lazy café dog"),
    ("repeat", "spam spam spam spam ham spam spam spam ham"),
    ("short", "two words"),
    ("none", None),
]

#: crc32 MinHash signatures recorded from the kernel before the shingle
#: kernels were unified; short and None docs emit no signature
PIN_SIGS = {
    "normal": [
        35002641, 275915042, 609668373, 49737923, 214020763, 68901993,
        219804424, 219209582, 163466876, 58312359, 14860936, 206381950,
        48361411, 576011576, 275867094, 23016680,
    ],
    "repeat": [
        375732516, 603019679, 2924827, 294610666, 281656339, 617595711,
        173098811, 367409856, 52259051, 323983516, 1134728418, 31147256,
        733063355, 1021676129, 2177807, 814138898,
    ],
}


def test_crc32_signatures_and_sets_pinned(spark):
    docs = spark.createDataFrame(PIN_DOCS, "doc_id string, text string")
    sigs = {
        r["id"]: list(r)[1:] for r in minhash_signatures_pandas(docs).collect()
    }
    assert sigs == PIN_SIGS
    sets = {
        r["id"]: (sorted(r["arr"]), r["n_sh"])
        for r in shingle_sets(docs, 3, "crc32").collect()
    }
    refs = {doc_id: crc32_shingle_set(text) for doc_id, text in PIN_DOCS}
    want = {d: (ref, len(ref)) for d, ref in refs.items() if ref is not None}
    assert sets == want and set(want) == set(PIN_SIGS)


def test_index_dtype_covers_pair_touch_count():
    int32_max = np.iinfo(np.int32).max
    assert dedup._index_dtype(100, 1000, int32_max) is np.int32
    assert dedup._index_dtype(100, 1000, 2**31) is np.int64
    assert dedup._index_dtype(46341, 1000, 0) is np.int64
    assert dedup._index_dtype(100, 2**31, 0) is np.int64


def test_block_kernel_int64_path_matches_int32(spark, monkeypatch):
    docs = spark.read.parquet(SF_DOCS)
    pdf = shingle_sets(docs, 3, "md5").toPandas()
    pdf["bk"] = 0

    def pairs():
        out = dedup._block_pair_jaccard(pdf, 0.5, cross=False)
        return sorted(zip(out["id_a"], out["id_b"], out["jaccard"]))

    want = pairs()
    monkeypatch.setattr(dedup, "_index_dtype", lambda *_: np.int64)
    assert pairs() == want and want

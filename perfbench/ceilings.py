"""Single-core kernel ceilings: the Python kernels the pipeline runs
inside Spark, timed alone in this process with no Spark involved.
Each probe repeats its kernel over the sample for at least
``min_seconds`` and reports items per second."""

from __future__ import annotations

import time

import pandas as pd


class _CaptureKernel:
    """Stands in for a DataFrame so that an operator which builds a
    ``mapInPandas`` kernel hands the kernel over instead of planning a
    Spark job: the probe then runs the production kernel itself."""

    def __init__(self, id_type: str = "string") -> None:
        from types import SimpleNamespace

        self.kernel = None
        dtype = SimpleNamespace(simpleString=lambda: id_type)
        self.schema = {"doc_id": SimpleNamespace(dataType=dtype)}

    def select(self, *cols):
        return self

    def mapInPandas(self, fn, schema):
        self.kernel = fn
        return self


def _rate(fn, n_items: int, min_seconds: float) -> float:
    reps = 0
    t0 = time.perf_counter()
    while True:
        fn()
        reps += 1
        elapsed = time.perf_counter() - t0
        if elapsed >= min_seconds:
            return reps * n_items / elapsed


def kernel_ceilings(htmls: list[bytes], min_seconds: float = 0.5) -> dict:
    from spinneret_spark.extract.htmltext import extract_text
    from spinneret_spark.operators.dedup import minhash_signatures_pandas
    from spinneret_spark.operators.mentions import DictMatcher
    from spinneret_spark.pipeline import DEFAULT_TERMS

    texts = [extract_text(h) for h in htmls]
    matcher = DictMatcher(DEFAULT_TERMS)
    cap = _CaptureKernel()
    minhash_signatures_pandas(cap, id_col="doc_id")
    batch = pd.DataFrame(
        {"doc_id": [str(i) for i in range(len(texts))], "text": texts}
    )

    def extract():
        for h in htmls:
            extract_text(h)

    def match():
        for t in texts:
            matcher.find_norms(t)

    def minhash():
        for out in cap.kernel(iter([batch])):
            len(out)

    n = len(htmls)
    return {
        "extract.extract_text_pages_per_s": _rate(extract, n, min_seconds),
        "operators.dict_matcher_pages_per_s": _rate(match, n, min_seconds),
        "operators.minhash_docs_per_s": _rate(minhash, n, min_seconds),
    }

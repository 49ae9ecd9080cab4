"""Incremental skin over the batch pipeline.

The north rule requires resumability, not streaming (SURVEY.md §2.10)
— the batch pipeline checkpoints per input partition. This package
adds the optional Structured-Streaming face: the extract stream
(``incremental``), the watermarked windowed rollup (``windowed``) and
the stateful first-seen dedup (``stateful``) all land their rows
through the one exactly-once streamed-append writer in ``durable``.
"""

from spinneret_spark.streaming.incremental import stream_pages_to_triples

__all__ = ["stream_pages_to_triples"]

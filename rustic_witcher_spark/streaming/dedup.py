"""Streaming deduplication — continuous-ingest variants of the batch
dedup operators (north-star extension).

Two built-in Structured Streaming shapes, no custom state code needed:

- ``streaming_exact_dedup``: ``dropDuplicates`` on the content
  fingerprint (md5 of normalized text — the same digest the batch
  ``exact_dedup`` groups on). Without a watermark the seen-set grows
  forever; with one, state for fingerprints older than the horizon is
  dropped — the standard bounded-state contract for infinite streams.
- ``streaming_simhash``: the per-row fingerprint projections (simhash /
  minhash signatures) are stateless expressions, so they attach to a
  stream unchanged; downstream near-dup bucketing then runs per
  micro-batch window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from rustic_witcher_spark.operators.dedup import simhash64, text_digest
from pyspark.sql import functions as F


def streaming_exact_dedup(
    docs_stream: DataFrame,
    text_col: str = "text",
    ts_col: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """First-seen-wins exact dedup over a document stream.

    With ``ts_col``, a watermark bounds the dedup state: the key is
    STILL the digest alone (``dropDuplicatesWithinWatermark``) —
    duplicates inside the watermark horizon are suppressed regardless
    of their event times, and only a duplicate arriving later than
    ``watermark`` past the max seen event time may be re-emitted (the
    documented trade of bounded state on an unbounded stream). Keying
    on (digest, ts) instead would never dedupe at all, since dup
    arrivals carry different timestamps. Without ``ts_col``, state is
    exact and unbounded — correct for finite backfills, not
    forever-streams.
    """
    out = docs_stream.withColumn("__digest", text_digest(F.col(text_col)))
    if ts_col is not None:
        out = out.withWatermark(ts_col, watermark)
        return out.dropDuplicatesWithinWatermark(["__digest"]).drop("__digest")
    return out.dropDuplicates(["__digest"]).drop("__digest")


def streaming_simhash(docs_stream: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach the 64-bit simhash fingerprint to a stream — stateless
    projection, identical expression tree to the batch operator."""
    return docs_stream.withColumn("simhash", simhash64(F.col(text_col)))

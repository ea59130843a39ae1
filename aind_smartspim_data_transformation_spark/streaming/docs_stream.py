"""Incremental (streaming) near-duplicate detection over documents.

[driver-ext] The batch MinHash/LSH dedup (operators/dedup.py d03)
assumes the whole corpus is present; a continuously-ingested corpus
wants the INCREMENTAL form: as each new document arrives, compare it
against everything already seen and emit candidate pairs immediately.

Shape: the stream computes its LSH band rows with the batch pipeline's
own function (``dedup.minhash_band_rows``, a narrow per-row map, so it
needs no streaming aggregation and stream and batch bucket
identically), then a custom stateful operator keyed by LSH band bucket
(``applyInPandasWithState``) keeps the bucket's member list in the
state store and emits (prior_member, new_doc) candidate pairs on
arrival.  Across the whole stream this produces exactly the batch
in-bucket i<j pair expansion (asserted in tests/test_docs_stream.py),
but pairs surface per microbatch instead of at end-of-corpus.

State bound (the 100 TB / 24-7 posture): per-bucket membership is
capped at ``dedup.MAX_BAND_BUCKET`` — the batch path DROPS degenerate
buckets outright (boilerplate, not near-duplication); the stream can't
retroactively drop, so it stops both accumulating and emitting once a
bucket exceeds the cap.  Total state is O(#buckets × cap × 8 bytes),
and buckets are 64-bit minhash agreements, so membership beyond a
handful is already a dup cluster.  A production job would add a state
TTL for cold buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from aind_smartspim_data_transformation_spark.operators.dedup import (
    MAX_BAND_BUCKET,
    minhash_band_rows,
)

CANDIDATE_SCHEMA = "doc1 long, doc2 long, band_id int"
_STATE_SCHEMA = "ids array<long>"


def incremental_candidates(docs_stream: DataFrame) -> DataFrame:
    """docs_stream: streaming (doc_id, text, ...) → streaming candidate
    pairs (doc1 < doc2, band_id) as discovered."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    bands = minhash_band_rows(docs_stream)

    def _update(key, pdfs, state):
        band_id = int(key[0])
        seen: list[int] = list(state.get[0]) if state.exists else []
        out1, out2 = [], []
        for pdf in pdfs:
            for doc in sorted(int(d) for d in pdf["doc_id"]):
                if doc in seen:
                    continue
                if len(seen) >= MAX_BAND_BUCKET:
                    break  # degenerate bucket: stop accumulating/emitting
                for prior in seen:
                    lo, hi = (prior, doc) if prior < doc else (doc, prior)
                    out1.append(lo)
                    out2.append(hi)
                seen.append(doc)
        state.update((seen,))
        yield pd.DataFrame(
            {"doc1": out1, "doc2": out2, "band_id": [band_id] * len(out1)}
        )

    return bands.groupBy("band_id", "bkey").applyInPandasWithState(
        _update,
        CANDIDATE_SCHEMA,
        _STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )

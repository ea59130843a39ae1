"""Dedup operators vs the DuckDB oracle + sanity on planted near-dups."""

from __future__ import annotations

import pytest

from aind_smartspim_data_transformation_spark.operators import dedup
from tests.oracle import compare


@pytest.mark.parametrize("name", sorted(dedup.QUERIES))
def test_dedup_vs_oracle(spark, sf_dir, name):
    df = dedup.QUERIES[name](spark, sf_dir)
    compare(df, dedup.ORACLE[name], sf_dir, name)


def test_components_cover_pairs(spark, sf_dir):
    """d08: both endpoints of every near-dup pair resolve into one
    component, every component has ≥2 docs, and the component id is its
    own minimum member."""
    pairs = dedup.d03_dedup_minhash_lsh(spark, sf_dir).collect()
    comps = dedup.d08_dup_components(spark, sf_dir).collect()
    assert all(r["n_docs"] >= 2 for r in comps)
    assert all(r["component"] < r["max_doc"] for r in comps)
    n_nodes = len({d for r in pairs for d in (r["doc1"], r["doc2"])})
    assert sum(r["n_docs"] for r in comps) == n_nodes


def test_near_dups_found(spark, sf_dir):
    """The synthetic corpus has planted near-dup pairs (jaccard ≈ 0.99)."""
    rows = dedup.d03_dedup_minhash_lsh(spark, sf_dir).collect()
    assert len(rows) > 0
    assert all(r["jaccard"] >= dedup.JACCARD_THRESHOLD for r in rows)


def test_star_components_path_graph(spark):
    """A 6-node path (worst case for label propagation's diameter bound)
    collapses to one component labeled by its minimum."""
    from aind_smartspim_data_transformation_spark.operators.dedup import (
        connected_components_star,
    )

    pairs = spark.createDataFrame(
        [(10, 20), (20, 30), (30, 40), (40, 50), (50, 60), (70, 80)],
        "doc1 long, doc2 long",
    )
    got = {
        (r["node"], r["label"])
        for r in connected_components_star(pairs).collect()
    }
    assert got == {
        (10, 10), (20, 10), (30, 10), (40, 10), (50, 10), (60, 10),
        (70, 70), (80, 70),
    }


def test_minhash_degenerate_bucket_cap(spark, tmp_path):
    """A corpus of identical docs lands in one giant band bucket; the
    MAX_BAND_BUCKET cap drops it before pair expansion (boilerplate is
    not near-duplication), in Spark and the oracle identically."""
    import duckdb

    n = dedup.MAX_BAND_BUCKET + 36
    text = "alpha beta gamma delta epsilon zeta eta theta"
    spark.createDataFrame(
        [(i, text, "en", "src0", len(text)) for i in range(n)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    got = dedup.d03_dedup_minhash_lsh(spark, str(tmp_path)).collect()
    assert got == []  # capped: no quadratic blowup, no pairs
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )
    assert con.execute(dedup.ORACLE["d03_dedup_minhash_lsh"]).fetchall() == []


def test_d15_saturation_audit_counts_dropped_buckets(spark, tmp_path):
    """d15 (VERDICT r10 'what's wrong' #2): on a planted >64-way family
    the cap silently zeroes d03's recall — the audit must report
    exactly what was dropped, and match the DuckDB oracle on the same
    fixture.  n identical docs share all 16 minhashes, so every one of
    the N_BANDS band buckets holds n rows and saturates; two distinct
    singleton docs add size-1 buckets that must NOT count."""
    import duckdb

    n = dedup.MAX_BAND_BUCKET + 36  # 100-way family, same as the cap test
    text = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [(i, text, "en", "src0", len(text)) for i in range(n)]
    rows += [
        (1000, "one unique sentence about rivers and stones", "en", "src1", 44),
        (1001, "another unique sentence about clouds and wind", "en", "src1", 45),
    ]
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))

    [got] = dedup.d15_lsh_saturation_audit(spark, str(tmp_path)).collect()
    assert got["n_saturated_buckets"] == dedup.N_BANDS
    assert got["n_band_rows_dropped"] == dedup.N_BANDS * n
    assert got["max_bucket_rows"] == n

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )
    [oracle] = con.execute(dedup.ORACLE["d15_lsh_saturation_audit"]).fetchall()
    assert (
        got["n_saturated_buckets"],
        got["n_band_rows_dropped"],
        got["max_bucket_rows"],
    ) == oracle


def _write_saturated_family(spark, tmp_path, n):
    """Planted >MAX_BAND_BUCKET family (identical text → all 16
    minhashes agree → every band bucket saturates) plus two
    singletons.  Returns a DuckDB connection viewing the table."""
    import duckdb

    text = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [(i, text, "en", "src0", len(text)) for i in range(n)]
    rows += [
        (1000, "one unique sentence about rivers and stones", "en", "src1", 44),
        (1001, "another unique sentence about clouds and wind", "en", "src1", 45),
    ]
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )
    return con


def test_d16_recovers_saturated_family(spark, tmp_path):
    """d16 (VERDICT r11 ask #2): on the planted >64-way family d03's
    cap zeroes recall; d16 must recover the K_SAT_REPS representative
    pairs — provably more than d03's zero — match the DuckDB oracle,
    and keep the whole family one connected component via the min-id
    representative."""
    n = dedup.MAX_BAND_BUCKET + 36  # 100-way family
    con = _write_saturated_family(spark, tmp_path, n)

    assert dedup.d03_dedup_minhash_lsh(spark, str(tmp_path)).collect() == []
    got = dedup.d16_lsh_recovered_pairs(spark, str(tmp_path)).collect()
    # reps = doc_ids 0..K-1; pairs (i, m) for m > i → Σ_{i<K} (n-1-i)
    K = dedup.K_SAT_REPS
    expect_n = sum(n - 1 - i for i in range(K))
    assert len(got) == expect_n
    assert all(r["jaccard"] == 1.0 for r in got)
    # min-id rep pairs with EVERY other family member → one component
    assert sum(1 for r in got if r["doc1"] == 0) == n - 1
    oracle = con.execute(dedup.ORACLE["d16_lsh_recovered_pairs"]).fetchall()
    assert sorted(map(tuple, got)) == sorted(oracle)


def test_digest_collapsed_verify_equals_shared_verify(spark, tmp_path):
    """r13 (VERDICT r12 ask #1): the digest-collapsed verify phase must
    emit EXACTLY the shared verify's result set on a corpus mixing
    every eligibility/digest case — exact replicas (same-digest fast
    path), near-dups above threshold (cross-digest rep verify), a
    below-threshold pair (must be dropped by both), and sub-3-token
    replicas (ineligible — no shingle set, no output from either)."""
    near_a = "the quick brown fox jumps over the lazy dog today"
    near_b = "the quick brown fox jumps over the lazy dog tonight"
    far = "completely different words about mountains and oceans here"
    rows = [
        (0, near_a), (1, near_a), (2, near_a),       # replica family
        (3, near_b),                                  # near-dup of 0-2
        (4, far),                                     # far from all
        (5, "too short"), (6, "too short"),           # ineligible pair
    ]
    spark.createDataFrame(
        [(i, t, "en", "src0", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    # candidate set: every i<j pair — exercises all branches without
    # depending on LSH bucketing for this fixture
    ids = [i for i, _ in rows]
    cand = spark.createDataFrame(
        [(a, b) for a in ids for b in ids if a < b], "doc1 long, doc2 long"
    )
    shared = sorted(
        map(
            tuple,
            dedup._verify_jaccard_pairs(spark, str(tmp_path), cand).collect(),
        )
    )
    collapsed = sorted(
        map(
            tuple,
            dedup._verify_jaccard_pairs_digest_collapsed(
                spark, str(tmp_path), cand
            ).collect(),
        )
    )
    assert collapsed == shared
    # sanity on the fixture's intent: replicas emitted at 1.0, the
    # ineligible replica pair (5,6) absent, far doc absent
    emitted = {(a, b) for a, b, _ in collapsed}
    assert {(0, 1), (0, 2), (1, 2)} <= emitted
    assert (5, 6) not in emitted
    assert not any(4 in p for p in emitted)


def test_digest_collapsed_verify_property(spark, tmp_path_factory):
    """Property form of the r13 equivalence (VERDICT r12 ask #1): over
    arbitrary small corpora drawn from a 4-token vocabulary — which
    makes exact replicas, near-dups, disjoint texts, empty strings and
    sub-3-token (ineligible) docs all common — the digest-collapsed
    verify must emit EXACTLY the shared verify's rows for the all-pairs
    candidate set.  Exact float equality on jaccard: same expressions
    over the same shingle sets on both paths."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    token = st.sampled_from(["alpha", "beta", "gamma", "delta"])
    doc_text = st.lists(token, min_size=0, max_size=6).map(" ".join)

    @settings(max_examples=8, deadline=None)
    @given(texts=st.lists(doc_text, min_size=2, max_size=8))
    def check(texts):
        tmp = tmp_path_factory.mktemp("digest_prop")
        spark.createDataFrame(
            [(i, t, "en", "src0", len(t)) for i, t in enumerate(texts)],
            "doc_id long, text string, lang string, source string, "
            "n_chars long",
        ).coalesce(1).write.mode("overwrite").parquet(
            str(tmp / "documents.parquet")
        )
        n = len(texts)
        cand = spark.createDataFrame(
            [(a, b) for a in range(n) for b in range(n) if a < b],
            "doc1 long, doc2 long",
        )
        shared = sorted(
            map(
                tuple,
                dedup._verify_jaccard_pairs(spark, str(tmp), cand).collect(),
            )
        )
        collapsed = sorted(
            map(
                tuple,
                dedup._verify_jaccard_pairs_digest_collapsed(
                    spark, str(tmp), cand
                ).collect(),
            )
        )
        spark.catalog.clearCache()
        assert collapsed == shared

    check()


def test_d16_equals_d03_without_saturation(spark, sf_dir):
    """On a corpus with no saturated buckets (the base testdata — max
    observed bucket 13) d16 must be row-identical to d03."""
    a = sorted(map(tuple, dedup.d03_dedup_minhash_lsh(spark, sf_dir).collect()))
    b = sorted(map(tuple, dedup.d16_lsh_recovered_pairs(spark, sf_dir).collect()))
    assert a == b and len(a) > 0


def test_embedding_cosine_pairs_planted(spark, tmp_path):
    """d05 (r10 fat-group collapse): the base corpora carry no
    embedding near-dups at the 0.9 threshold, so the oracle rows there
    are empty=empty — this plants real structure and checks the full
    listing against the DuckDB oracle: intra-group pairs (exact
    copies, selfcos → 1.0), cross-group pairs (a positively scaled
    copy shares the sign-LSH bucket, cosine → 1.0), and degenerate
    zero vectors that must never pair (NaN cosine on both engines)."""
    import duckdb
    import numpy as np

    rng = np.random.default_rng(11)
    v = rng.normal(size=16).astype("float32")
    other = rng.normal(size=16).astype("float32")
    rows = [
        (1, [float(x) for x in v], 0),
        (2, [float(x) for x in v], 0),          # exact copy
        (3, [float(x) for x in v], 0),          # exact copy
        (4, [float(x) * 1.001 for x in v], 0),  # scaled near-dup
        (5, [float(x) for x in other], 1),      # unrelated
        (6, [0.0] * 16, 2),                     # zero vector
        (7, [0.0] * 16, 2),                     # zero vector
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.parquet(str(tmp_path / "embeddings.parquet"))

    got = sorted(
        (r["id_a"], r["id_b"], round(r["cosine"], 6))
        for r in dedup.d05_dedup_embedding_cosine(
            spark, str(tmp_path)
        ).collect()
    )
    # 3 intra pairs among {1,2,3} + 3 cross pairs with 4; never 6/7
    assert [(a, b) for a, b, _ in got] == [
        (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)
    ]
    assert all(c >= dedup.EMB_DUP_THRESHOLD for _, _, c in got)

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{tmp_path}/embeddings.parquet/*.parquet')"
    )
    oracle = sorted(
        (a, b, round(c, 6))
        for a, b, _, c in con.execute(
            dedup.ORACLE["d05_dedup_embedding_cosine"]
        ).fetchall()
    )
    assert got == oracle


def test_substring_coverage_planted_span(spark, tmp_path):
    """d10: a 12-token verbatim run shared by two docs yields ONE merged
    span of exactly 12 tokens in each (five overlapping 8-token windows
    collapse into one island); a doc sharing nothing is absent."""
    shared = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"  # 12 tokens
    docs = [
        (0, "pre1 pre2 " + shared + " tailA1 tailA2 tailA3"),
        (1, shared + " tailB1 tailB2 tailB3 tailB4 tailB5"),
        (2, "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10 x11 x12 x13 x14"),
    ]
    spark.createDataFrame(
        [(i, t, "en", "src0", len(t)) for i, t in docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    rows = {
        r["doc_id"]: r
        for r in dedup.d10_substring_coverage(spark, str(tmp_path)).collect()
    }
    assert set(rows) == {0, 1}
    for d in (0, 1):
        assert rows[d]["n_spans"] == 1
        assert rows[d]["dup_tokens"] == 12
        assert rows[d]["n_dup_windows"] == 5  # positions 0..4 within the run
    assert rows[0]["n_tokens"] == 17 and rows[1]["n_tokens"] == 17
    assert rows[0]["dup_ppm"] == 12 * 1_000_000 // 17


def test_substring_coverage_random_corpus_vs_python(spark, tmp_path):
    """d10 against an independently-written brute-force reference on a
    seeded random corpus over a 4-token alphabet (dense window-hash
    collisions, irregular island structure)."""
    import random
    from collections import Counter

    rng = random.Random(7)
    docs = [
        (i, " ".join(rng.choice("aa bb cc dd".split()) for _ in range(rng.randint(4, 40))))
        for i in range(30)
    ]
    spark.createDataFrame(
        [(i, t, "en", "src0", len(t)) for i, t in docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))

    W = dedup.D10_WINDOW
    wins = {}  # doc -> [(start, gram)]
    occ = Counter()
    for i, t in docs:
        toks = t.split(" ")
        ws = [(s, tuple(toks[s : s + W])) for s in range(len(toks) - W + 1)]
        wins[i] = ws
        occ.update(g for _, g in ws)
    expect = {}
    for i, t in docs:
        hits = sorted(s for s, g in wins.get(i, []) if occ[g] >= 2)
        if not hits:
            continue
        spans, cur = [], None
        for s in hits:
            if cur and s <= cur[1]:  # overlaps current island [lo, hi] in token space
                cur = (cur[0], max(cur[1], s + W - 1), cur[2] + 1)
            else:
                if cur:
                    spans.append(cur)
                cur = (s, s + W - 1, 1)
        spans.append(cur)
        n_tokens = len(t.split(" "))
        dup_tokens = sum(hi - lo + 1 for lo, hi, _ in spans)
        expect[i] = (
            n_tokens,
            len(spans),
            dup_tokens,
            sum(c for _, _, c in spans),
            dup_tokens * 1_000_000 // n_tokens,
        )

    got = {
        r["doc_id"]: (
            r["n_tokens"], r["n_spans"], r["dup_tokens"],
            r["n_dup_windows"], r["dup_ppm"],
        )
        for r in dedup.d10_substring_coverage(spark, str(tmp_path)).collect()
    }
    # top-50 cap can't truncate a 30-doc corpus → exact dict equality
    assert got == expect


def test_neighbor_topk_consistent_with_pair_listing(spark, sf_dir):
    """d14 must be EXACTLY the per-doc top-k of d07's symmetrized pair
    listing (rank by hamming then neighbor id) — recomputed here in
    plain Python so the window/explode plumbing can't drift from the
    diagnostic listing it bounds — and bounded at ≤ k rows per doc."""
    pairs = dedup.d07_simhash_hamming_pairs(spark, sf_dir).collect()
    nbrs: dict[int, list[tuple[int, int]]] = {}
    for r in pairs:
        nbrs.setdefault(r["doc1"], []).append((r["hamming"], r["doc2"]))
        nbrs.setdefault(r["doc2"], []).append((r["hamming"], r["doc1"]))
    want = {
        (doc, rank + 1, nbr, h)
        for doc, lst in nbrs.items()
        for rank, (h, nbr) in enumerate(sorted(lst)[: dedup.NEIGHBOR_TOPK])
    }
    got_rows = dedup.d14_hamming_neighbor_topk(spark, sf_dir).collect()
    got = {
        (r["doc_id"], r["nbr_rank"], r["nbr_id"], r["hamming"])
        for r in got_rows
    }
    assert got == want
    from collections import Counter

    per_doc = Counter(r["doc_id"] for r in got_rows)
    assert max(per_doc.values()) <= dedup.NEIGHBOR_TOPK

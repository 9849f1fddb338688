"""Dedup operator pins: the embedding near-dup size gate and the
banded hyperplane-LSH fallback's precision/recall contract."""

from __future__ import annotations

import pytest

from petk_spark.operators.dedup import embedding_near_dup

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_embedding_near_dup_requires_integral_id(spark, emb):
    stringy = emb.selectExpr("CAST(vec_id AS STRING) AS vec_id", "embedding")
    with pytest.raises(TypeError, match="integral id"):
        embedding_near_dup(stringy, "vec_id", "embedding")


def test_fingerprint_overlap_short_and_null_docs(spark):
    """Docs shorter than the window fingerprint their whole token string
    (identical short docs pair); NULL text contributes nothing."""
    from petk_spark.operators.dedup import fingerprint_overlap

    df = spark.createDataFrame(
        [
            (1, "tiny doc"),
            (2, "Tiny   DOC"),   # same tokens after lower + \s+ split
            (3, "different"),
            (4, None),
        ],
        "id long, text string",
    )
    rows = fingerprint_overlap(df, "id", "text", window=8, min_common=1).collect()
    assert [(r.id_a, r.id_b, r.n_common) for r in rows] == [(1, 2, 1)]


def test_lsh_fallback_subset_and_recall(emb):
    """Above the broadcast ceiling the operator must switch to the
    bucketed LSH path: exact precision (every pair it returns is a true
    pair with the identical cosine) and S-curve recall (≥60% even at
    this deliberately LSH-hostile low threshold; ~99% at ≥0.9)."""
    exact = {
        (r.id_a, r.id_b): r.cosine
        for r in embedding_near_dup(
            emb, "vec_id", "embedding", threshold=0.4
        ).collect()
    }
    lsh = {
        (r.id_a, r.id_b): r.cosine
        for r in embedding_near_dup(
            emb, "vec_id", "embedding", threshold=0.4, max_broadcast_rows=1
        ).collect()
    }
    assert set(lsh) <= set(exact), "LSH returned a false pair"
    assert len(lsh) >= 0.6 * len(exact), (len(lsh), len(exact))
    for k, v in lsh.items():
        assert v == pytest.approx(exact[k], rel=1e-9)


# ---------------------------------------------------------------------------
# Repetition signals (round 5 — Gopher-style quality filters)
# ---------------------------------------------------------------------------

def test_repetition_signals_known_values(spark):
    from petk_spark.operators.text import repetition_frame

    docs = [
        # 4 non-empty lines, "spam" repeated 3x: dup_line_frac = 2/4;
        # line chars = 4+4+4+11 = 23, distinct = 4+11 = 15 -> dup_char
        # = 8/23; max rep mass = 3*4 = 12 -> 12/23
        (1, "spam\nspam\n\nspam\nreal line x"),
        # no repetition at all
        (2, "alpha beta\ngamma delta"),
        # single line
        (3, "only one line"),
        # bigrams: tokens [a b a b a] -> bigrams [a b, b a, a b, b a]
        # -> top 'a b' = 2/4
        (4, "a b a b a"),
        (5, ""),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {
        r["id"]: r.asDict()
        for r in repetition_frame(df, "doc_id", "text").collect()
    }

    assert out[1]["n_lines"] == 4
    assert abs(out[1]["dup_line_frac"] - 2 / 4) < 1e-12
    assert abs(out[1]["dup_line_char_frac"] - 8 / 23) < 1e-12
    assert abs(out[1]["max_line_frac"] - 12 / 23) < 1e-12

    assert out[2]["dup_line_frac"] == 0.0
    assert out[2]["dup_line_char_frac"] == 0.0

    assert abs(out[4]["top_ngram_frac"] - 0.5) < 1e-12
    # doc 3 has 3 tokens -> 2 bigrams, both distinct
    assert abs(out[3]["top_ngram_frac"] - 0.5) < 1e-12

    # empty doc: all fractions NULL, zero lines
    assert out[5]["n_lines"] == 0
    assert out[5]["dup_line_frac"] is None
    assert out[5]["top_ngram_frac"] is None


def test_repetition_signals_row_local_plan(spark):
    """The WHOLE repetition frame — line signals AND the n-gram mode —
    is one row-local projection on the scan: zero shuffles, zero
    joins (round 6: the former (doc, gram) count shuffle + join back
    was replaced by a sorted run-length pass over the gram array)."""
    from petk_spark.operators.text import repetition_frame
    from petk_spark.plans.inspect import exchange_count

    df = spark.createDataFrame(
        [(i, f"line a\nline b {i}") for i in range(100)],
        "doc_id long, text string",
    )
    out = repetition_frame(df, "doc_id", "text")
    out.collect()
    assert exchange_count(out) == 0


def test_repetition_signals_bounded_on_many_distinct_lines(spark):
    """50k mostly-distinct lines in ONE document: the sorted
    run-length ``max_line_frac`` is O(L log L) row-local; the previous
    transform-over-distinct × filter-over-lines form was
    O(distinct·total) (~2.5e9 comparisons on this fixture) and stalled
    the task (round-6 advisory). Values pinned exactly."""
    import time

    from petk_spark.operators.text import repetition_frame

    n = 50_000
    lines = [f"unique line {i:06d}" for i in range(n)] + (
        ["boilerplate banner"] * 5
    )
    df = spark.createDataFrame(
        [(1, "\n".join(lines))], "doc_id long, text string"
    )
    t0 = time.monotonic()
    row = repetition_frame(df, "doc_id", "text").collect()[0]
    elapsed = time.monotonic() - t0

    total = n + 5
    chars = sum(len(ln) for ln in lines)
    dchars = sum(len(ln) for ln in set(lines))
    assert row["n_lines"] == total
    assert abs(row["dup_line_frac"] - 4 / total) < 1e-12
    assert abs(row["dup_line_char_frac"] - (chars - dchars) / chars) < 1e-12
    assert abs(row["max_line_frac"] - 5 * 18 / chars) < 1e-12
    assert elapsed < 60, f"{elapsed:.1f}s — quadratic regression?"


def test_document_signals_frame_fused_one_scan(spark):
    """The fused production path equals the three composed frames
    column-for-column (quality ∘ lang ∘ repetition joined on id) and
    is ONE scan with zero shuffles — the plan a 100 TB corpus sweep
    should pay instead of three."""
    import math

    from petk_spark.operators.text import (
        document_signals_frame,
        language_id_frame,
        repetition_frame,
        text_quality_frame,
    )
    from petk_spark.plans.inspect import exchange_count, scan_count

    df = spark.read.parquet(f"{SF}/documents.parquet")
    fused = document_signals_frame(df, "doc_id", "text")
    fused.collect()
    assert scan_count(fused) == 1
    assert exchange_count(fused) == 0

    composed = (
        text_quality_frame(df, "doc_id", "text")
        .join(language_id_frame(df, "doc_id", "text"), "id")
        .join(repetition_frame(df, "doc_id", "text"), "id")
    )
    assert set(fused.columns) == set(composed.columns)
    got = {r["id"]: r.asDict() for r in fused.collect()}
    want = {r["id"]: r.asDict() for r in composed.collect()}
    assert set(got) == set(want) and len(got) >= 100
    for i, row in want.items():
        for k, v in row.items():
            g = got[i][k]
            if isinstance(v, float):
                assert g == v or math.isclose(g, v, rel_tol=1e-12), (i, k)
            else:
                assert g == v, (i, k)


# ---------------------------------------------------------------------------
# F39 — SemDeDup-style semantic dedup over embedding cells
# ---------------------------------------------------------------------------

def _sem_fixture(spark):
    """Two well-separated clusters along axes 0 and 1 (dim 4), plus
    malformed rows. Within cluster 0: ids 1,2,3 are near-identical
    (cosine ≈ 1) and id 4 is orthogonal-ish; cluster 1: ids 10,11
    near-identical."""
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.99, 0.01, 0.0, 0.0]),
        (3, [0.98, 0.02, 0.0, 0.0]),
        (4, [0.7, 0.0, 0.7, 0.1]),     # same cell, not a dup
        (10, [0.0, 1.0, 0.0, 0.0]),
        (11, [0.0, 0.99, 0.01, 0.0]),
        (90, None),                     # malformed: NULL
        (91, [1.0, 0.0]),               # malformed: ragged
        (92, [0.0, 0.0, 0.0, 0.0]),     # malformed: zero norm
        (93, [float("nan"), 1.0, 0.0, 0.0]),  # malformed: NaN
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


_SEM_CENTROIDS = [
    [1.0, 0.0, 0.0, 0.0],
    [0.0, 1.0, 0.0, 0.0],
]


def test_semantic_dedup_pairs_and_keep(spark):
    from petk_spark.operators.dedup import semantic_dedup, semantic_dedup_pairs

    df = _sem_fixture(spark)
    pairs = semantic_dedup_pairs(
        df, "vec_id", "embedding", centroids=_SEM_CENTROIDS, threshold=0.95
    )
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    # only same-cell high-cosine pairs; cross-cluster and the
    # orthogonal-ish id 4 never pair; malformed ids never appear
    assert got == {(1, 2), (1, 3), (2, 3), (10, 11)}
    kept = sorted(
        r["vec_id"]
        for r in semantic_dedup(
            df, "vec_id", "embedding", centroids=_SEM_CENTROIDS, threshold=0.95
        ).collect()
    )
    # lowest id per duplicate group survives; non-dups and ALL
    # malformed rows are kept
    assert kept == [1, 4, 10, 90, 91, 92, 93]


def test_semantic_dedup_trained_centroids_deterministic(spark):
    from petk_spark.operators.dedup import semantic_dedup

    df = _sem_fixture(spark)
    a = sorted(
        r["vec_id"]
        for r in semantic_dedup(
            df, "vec_id", "embedding", n_centroids=2, threshold=0.95
        ).collect()
    )
    b = sorted(
        r["vec_id"]
        for r in semantic_dedup(
            df, "vec_id", "embedding", n_centroids=2, threshold=0.95
        ).collect()
    )
    assert a == b  # seeded sample_centroids -> same result every run
    assert 1 in a and 90 in a  # group minima and malformed rows kept


def test_semantic_dedup_plan_no_cartesian(spark):
    from petk_spark.operators.dedup import semantic_dedup_pairs

    df = _sem_fixture(spark)
    plan = semantic_dedup_pairs(
        df, "vec_id", "embedding", centroids=_SEM_CENTROIDS
    )._jdf.queryExecution().executedPlan().toString()
    # the whole point: a CELL-keyed equi-join, never an all-pairs product
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_semantic_pairs_arrow_equals_expr(spark):
    """The production Arrow-BLAS path and the oracle's expr path
    produce the SAME pair set (fixture scores are far from the
    threshold, so last-ulp summation differences can't flap it), and
    cosines agree to float tolerance."""
    from petk_spark.operators.dedup import semantic_dedup_pairs

    df = _sem_fixture(spark)
    ex = {
        (r["cell"], r["id_a"], r["id_b"]): r["cosine"]
        for r in semantic_dedup_pairs(
            df, "vec_id", "embedding", centroids=_SEM_CENTROIDS,
            threshold=0.95, method="expr",
        ).collect()
    }
    ar = {
        (r["cell"], r["id_a"], r["id_b"]): r["cosine"]
        for r in semantic_dedup_pairs(
            df, "vec_id", "embedding", centroids=_SEM_CENTROIDS,
            threshold=0.95, method="arrow",
        ).collect()
    }
    assert set(ex) == set(ar)
    for k in ex:
        assert abs(ex[k] - ar[k]) < 1e-12
    import pytest as _pt

    with _pt.raises(ValueError, match="method"):
        semantic_dedup_pairs(
            df, "vec_id", "embedding", centroids=_SEM_CENTROIDS,
            method="blas",
        )


def test_semantic_pairs_arrow_plan_is_grouped_pandas(spark):
    from petk_spark.operators.dedup import semantic_dedup_pairs

    df = _sem_fixture(spark)
    plan = semantic_dedup_pairs(
        df, "vec_id", "embedding", centroids=_SEM_CENTROIDS
    )._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan
    assert "CartesianProduct" not in plan


def test_semantic_dedup_hot_cell_fallback(spark):
    """An artificially hot cell (> max_cell_rows) warns and is routed
    through the distributed expr join; the pair set is identical to
    the unguarded arrow path and to the pure expr path (round-8
    verdict #2). Cold cells keep riding the Arrow kernel."""
    import warnings as _w

    from petk_spark.operators.dedup import semantic_dedup_pairs

    # hot cell 0: 60 near-identical vectors; cold cell 1: 3 vectors
    rows = [
        (i, [1.0, i * 1e-6, 0.0, 0.0]) for i in range(60)
    ] + [
        (100, [0.0, 1.0, 0.0, 0.0]),
        (101, [0.0, 0.999, 0.001, 0.0]),
        (102, [0.0, 0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def pairset(**kw):
        return {
            (r["id_a"], r["id_b"])
            for r in semantic_dedup_pairs(
                df, "vec_id", "embedding", centroids=_SEM_CENTROIDS,
                threshold=0.99, **kw,
            ).collect()
        }

    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        guarded = pairset(max_cell_rows=50)
    assert any(
        "max_cell_rows" in str(c.message) for c in caught
    ), "hot-cell routing must warn"
    unguarded = pairset(max_cell_rows=None)
    expr = pairset(method="expr")
    assert guarded == unguarded == expr
    assert (100, 101) in guarded  # the cold cell's pair survived
    # and no warning when every cell is under the threshold
    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        pairset(max_cell_rows=1000)
    assert not any("max_cell_rows" in str(c.message) for c in caught)


def test_semantic_pairs_string_ids(spark):
    """Non-integer id columns flow through the arrow path (the output
    schema is derived from the input id type — round-8 advisory) and
    agree with the expr path."""
    from petk_spark.operators.dedup import semantic_dedup, semantic_dedup_pairs

    rows = [
        ("doc-a", [1.0, 0.0, 0.0, 0.0]),
        ("doc-b", [0.99, 0.01, 0.0, 0.0]),
        ("doc-c", [0.0, 1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    ar = {
        (r["id_a"], r["id_b"])
        for r in semantic_dedup_pairs(
            df, "vec_id", "embedding", centroids=_SEM_CENTROIDS,
            threshold=0.95,
        ).collect()
    }
    ex = {
        (r["id_a"], r["id_b"])
        for r in semantic_dedup_pairs(
            df, "vec_id", "embedding", centroids=_SEM_CENTROIDS,
            threshold=0.95, method="expr",
        ).collect()
    }
    assert ar == ex == {("doc-a", "doc-b")}
    kept = sorted(
        r["vec_id"]
        for r in semantic_dedup(
            df, "vec_id", "embedding", centroids=_SEM_CENTROIDS,
            threshold=0.95,
        ).collect()
    )
    assert kept == ["doc-a", "doc-c"]


def test_semantic_pairs_chunked_matmul_equiv(spark, monkeypatch):
    """Force a tiny matmul block so a single cell spans many blocks:
    the blocked upper-triangle emission must equal the expr join's
    pair set exactly (the memory guard can't change results)."""
    from petk_spark.operators import dedup as _d

    monkeypatch.setattr(_d, "_SEM_MATMUL_BLOCK", 4)
    rows = [(i, [1.0, (i % 7) * 0.002, 0.0, 0.0]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    ar = {
        (r["id_a"], r["id_b"])
        for r in _d.semantic_dedup_pairs(
            df, "vec_id", "embedding", centroids=_SEM_CENTROIDS,
            threshold=0.9999, max_cell_rows=None,
        ).collect()
    }
    ex = {
        (r["id_a"], r["id_b"])
        for r in _d.semantic_dedup_pairs(
            df, "vec_id", "embedding", centroids=_SEM_CENTROIDS,
            threshold=0.9999, method="expr",
        ).collect()
    }
    assert ar == ex and len(ar) > 10


def test_filter_previously_seen(spark):
    """F45 incremental dedup against an existing fingerprint store:
    normalized-text identity (case/whitespace fold), NULL texts kept
    (no comparison basis), within-batch duplicates kept (batch-local
    dedup is a separate, composable pass), duplicate store rows
    harmless."""
    from petk_spark.operators.dedup import filter_previously_seen
    from petk_spark.operators.text import fingerprint_frame

    old = spark.createDataFrame(
        [(1, "Hello   World"), (2, "seen before"), (3, None)],
        "id long, text string",
    )
    seen = fingerprint_frame(old, "id", "text")
    new = spark.createDataFrame(
        [
            (10, "hello world"),        # matches 1 after normalization
            (11, "SEEN  BEFORE"),       # matches 2
            (12, "genuinely new"),
            (13, "genuinely new"),      # within-batch dup: KEPT
            (14, None),                 # NULL: KEPT
        ],
        "id long, text string",
    )
    kept = sorted(
        r["id"]
        for r in filter_previously_seen(
            new, "id", "text", seen.unionAll(seen)
        ).collect()
    )
    assert kept == [12, 13, 14]
    # schema passthrough: original columns, no helper columns
    out = filter_previously_seen(new, "id", "text", seen)
    assert out.columns == ["id", "text"]


def test_minhash_pairs_match_sizes_join_formula(spark):
    """minhash_lsh_near_dup carries each document's shingle count on its
    signature and bucket rows. Pairs and jaccard must equal the formula
    that joins a per-id size aggregate back onto the candidate pairs,
    on a corpus with a duplicated doc_id, a NULL text and a document
    shorter than n tokens; and the plan must drop that aggregate's
    exchanges and the two join-backs' id shuffles."""
    from pyspark.sql import functions as F

    from petk_spark.operators.dedup import minhash_lsh_near_dup, shingle_frame
    from petk_spark.plans.inspect import exchange_count

    base = "every good boy deserves fudge and the quick fox jumps over it"
    rows = [(i, f"{base} t{i % 3}") for i in range(5)]
    rows += [(2, f"{base} extra tail"),          # duplicated doc_id
             (7, None), (8, "two words"), (9, "two words"),
             (10, "a completely unrelated document about rivers and hills")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    threshold = 0.5

    def sizes_join_formula():
        sh = shingle_frame(df, "doc_id", "text", 3)
        cand = minhash_lsh_near_dup(df, "doc_id", "text", threshold=threshold,
                                    verify_exact=False)
        sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
        n_common = (
            cand.join(sh.select(F.col("id").alias("id_a"), "shingle"), "id_a")
            .join(sh.select(F.col("id").alias("id_b"), "shingle"),
                  ["id_b", "shingle"])
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
        return (
            n_common.join(sizes.toDF("id_a", "sh_a"), "id_a")
            .join(sizes.toDF("id_b", "sh_b"), "id_b")
            .withColumn("jaccard", F.col("n_common") / (
                F.col("sh_a") + F.col("sh_b") - F.col("n_common")).cast("double"))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
        )

    new = minhash_lsh_near_dup(df, "doc_id", "text", threshold=threshold)
    old = sizes_join_formula()
    # Both plans measured before either runs: the size aggregate (one
    # per join-back) and the join-backs' two id_a / id_b shuffles.
    assert exchange_count(new) == exchange_count(old) - 4

    def pairs(frame):
        return sorted((r.id_a, r.id_b, r.jaccard.hex()) for r in frame.collect())

    got = pairs(new)
    assert got == pairs(old)
    ids = {i for p in got for i in p[:2]}
    assert {0, 1, 2, 3, 4} <= ids and not ids & {7, 8, 9, 10}

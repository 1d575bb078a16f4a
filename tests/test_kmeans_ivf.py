"""Deterministic integer k-means IVF (operators/similarity.py):
assignment properties, the empty-cell fallback, and bit-exact
reproducibility across runs (the property the integer arithmetic
exists for — float-mean Lloyd steps are partition-order-dependent)."""

from __future__ import annotations

from pyspark.sql import functions as F

from pids_drg_esoa_spark.operators.similarity import (
    K_MEANS_K,
    K_MEANS_SCALE,
    _kmeans_cell_expr,
    kmeans_assign,
    quantize,
)


def _vectors(spark, rows):
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>").select(
        "vec_id", quantize(F.col("embedding")).alias("qe")
    )


def test_assignment_partitions_all_vectors(spark):
    # two tight clusters around +x and -x axes, 64-dim
    def vec(sign, jitter):
        v = [0.0] * 64
        v[0] = sign * 1.0
        v[1] = jitter
        return v

    rows = [(i, vec(1, 0.01 * i)) for i in range(8)] + [
        (i, vec(-1, 0.0)) for i in range(8, 16)
    ]
    out = kmeans_assign(_vectors(spark, rows), iters=1)
    got = {r["vec_id"]: r["cell"] for r in out.collect()}
    assert set(got) == set(range(16))
    assert all(0 <= c < K_MEANS_K for c in got.values())
    # identical inputs land identically: the 8 copies of the -x vector
    # share one cell (assignment is a pure function of the vector)
    neg_cells = {got[i] for i in range(8, 16)}
    assert len(neg_cells) == 1


def test_assignment_deterministic_across_runs_and_partitionings(spark):
    import random

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(60)
    ]
    a = kmeans_assign(_vectors(spark, rows), iters=1).collect()
    b = kmeans_assign(_vectors(spark, rows).repartition(7), iters=1).collect()
    assert {(r["vec_id"], r["cell"]) for r in a} == {(r["vec_id"], r["cell"]) for r in b}


def test_empty_cell_keeps_init_centroid(spark):
    # all vectors identical → every vector assigns to centroid 0 (tie
    # broken by min cid); cells 1..7 get no members and must keep
    # their init centroids rather than crash or emit nulls
    rows = [(i, [1.0] + [0.0] * 63) for i in range(12)]
    out = kmeans_assign(_vectors(spark, rows), iters=2)
    cells = {r["cell"] for r in out.collect()}
    assert cells == {0}


def test_cell_expr_tie_breaks_to_min_cid(spark):
    cents = [[1] * 64, [1] * 64, [0] * 64]
    df = _vectors(spark, [(0, [0.5] * 64)]).withColumn(
        "cell", _kmeans_cell_expr(cents)
    )
    assert df.collect()[0]["cell"] == 0


def test_scale_constant_matches_oracle_contract():
    # the SQL oracle hard-codes ×16 and k=8; fail loudly if the
    # Python constants drift from the oracle text
    from pids_drg_esoa_spark.operators.similarity import _SQL_KMEANS_CELLS

    assert K_MEANS_SCALE == 16 and K_MEANS_K == 8
    assert "x * 16" in _SQL_KMEANS_CELLS and "vec_id < 8" in _SQL_KMEANS_CELLS


def test_kmeans_assign_join_path_parity(spark, sf_dir):
    """The broadcast-join assignment (large-k path) produces EXACTLY
    the literal-centroid expression's assignments — same init, same
    Lloyd updates, same argmax tie-break — at k=8 and at a k the
    literal projection should not carry (k=40)."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    v = e.select("vec_id", quantize(F.col("embedding")).alias("qe"))
    for k in (8, 40):
        lit = {
            r["vec_id"]: r["cell"]
            for r in kmeans_assign(v, iters=1, k=k).collect()
        }
        jn = {
            r["vec_id"]: r["cell"]
            for r in kmeans_assign(v, iters=1, k=k, assign="join").collect()
        }
        assert lit == jn
        assert len({c for c in jn.values()}) > 1  # non-degenerate


def _quantized(spark, sf_dir):
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return e.select("vec_id", quantize(F.col("embedding")).alias("qe"))


def test_probe_cells_literal_join_parity(spark, sf_dir):
    """The literal probe expression and the broadcast-dim probe join
    rank cells identically (dot DESC, cid ASC) — at k=8 and at the
    production k=40 where only the join path is a reasonable plan."""
    from pids_drg_esoa_spark.operators.similarity import (
        _probe_cells_join,
        kmeans_fit,
        probe_cells,
    )

    v = _quantized(spark, sf_dir)
    for k in (8, 40):
        cents, _ = kmeans_fit(v, iters=1, k=k)
        q = v.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"), F.col("qe").alias("q_emb")
        )
        lit = {
            r["query_id"]: list(r["cells"])
            for r in q.select(
                "query_id", probe_cells("q_emb", cents, 3).alias("cells")
            ).collect()
        }
        jn: dict[int, list[int]] = {}
        for r in _probe_cells_join(q, cents, 3).collect():
            jn.setdefault(r["query_id"], []).append(r["cell"])
        # join path has no intra-query order guarantee after collect —
        # compare as ordered lists via re-sort by rank is not possible,
        # so compare sets AND that the literal list's head is the
        # assignment argmax (checked separately below)
        assert {qid: set(cs) for qid, cs in lit.items()} == {
            qid: set(cs) for qid, cs in jn.items()
        }


def test_first_probed_cell_is_assignment(spark, sf_dir):
    """probe_cells(...)[0] == the vector's own assigned cell, so
    nprobe=1 reduces exactly to the single-probe operator."""
    from pids_drg_esoa_spark.operators.similarity import kmeans_fit, probe_cells

    v = _quantized(spark, sf_dir)
    cents, assigned = kmeans_fit(v, iters=1, k=8)
    got = assigned.select(
        "vec_id",
        "cell",
        F.element_at(probe_cells("qe", cents, 1), 1).alias("probed"),
    ).collect()
    assert got and all(r["cell"] == r["probed"] for r in got)


def test_multiprobe_recall_monotone_in_nprobe(spark, sf_dir):
    """With fixed cells, raising nprobe only grows each query's
    candidate set, so brute-force hits are non-decreasing in P."""
    from pids_drg_esoa_spark.operators.similarity import (
        _ivf_kmeans_topk,
        _recall_report,
    )

    hits = []
    for p in (1, 2, 4):
        rep = _recall_report(
            spark, sf_dir, _ivf_kmeans_topk(spark, sf_dir, nprobe=p, k=8)
        ).collect()
        hits.append(sum(r["n_hits"] for r in rep))
    assert hits[0] <= hits[1] <= hits[2]
    assert hits[2] > 0


def test_ivf_k_policy():
    """Corpus-derived k (r8): reproduces the measured k=40 sweet spot
    at the n=500 oracle corpus (so the static oracle SQL keeps gating
    the policy path), grows as √n, and respects the broadcast-bytes
    cap."""
    from pids_drg_esoa_spark.operators.similarity import (
        IVF_MAX_CENTROID_BYTES,
        IVF_MULTIPROBE_K,
        VEC_DIM,
        ivf_k_for,
    )

    assert ivf_k_for(500) == IVF_MULTIPROBE_K == 40
    assert ivf_k_for(2000) == 80
    # monotone non-decreasing over a wide sweep
    ks = [ivf_k_for(n) for n in (10, 100, 500, 2000, 10**5, 10**7, 10**9, 10**12)]
    assert ks == sorted(ks)
    assert min(ks) >= 8
    cap = IVF_MAX_CENTROID_BYTES // (VEC_DIM * 8)
    assert max(ks) == cap  # 10^12 vectors hit the broadcast budget
    # scanned fraction nprobe/k falls as the corpus grows
    assert 3 / ivf_k_for(2000) < 3 / ivf_k_for(500)

"""ext_semdedup: the kept/dropped decision must match a numpy brute-force
re-derivation of the drop rule (exists lower-id same-cluster vector with
cosine > threshold) using the op's OWN cluster assignments — so the test
pins the dedup logic independently of k-means internals."""

from __future__ import annotations

import numpy as np


def test_semdedup_matches_bruteforce(spark, sf_dir):
    from agentic_data_pipeline_spark.catalog import load_table
    from agentic_data_pipeline_spark.operators.similarity import semdedup

    emb = load_table(spark, sf_dir, "embeddings")
    out = {r["vec_id"]: (r["cluster_id"], r["kept"])
           for r in semdedup(emb, k_clusters=8, threshold=0.35).collect()}
    vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
            for r in emb.collect()}

    # total partition of the corpus: one decision per vector
    assert set(out) == set(vecs)

    # brute-force the drop rule per cluster (double precision, same formula)
    by_cluster: dict[int, list[int]] = {}
    for vid, (cid, _) in out.items():
        by_cluster.setdefault(cid, []).append(vid)
    expect_kept = {}
    for cid, ids in by_cluster.items():
        ids.sort()
        m = np.stack([vecs[i] for i in ids])
        norms = np.linalg.norm(m, axis=1)
        sims = (m @ m.T) / np.outer(norms, norms)
        for pos, vid in enumerate(ids):
            expect_kept[vid] = not bool(
                (sims[pos, :pos] > 0.35).any())
    mismatches = {v for v in out if out[v][1] != expect_kept[v]}
    assert not mismatches, f"keep/drop mismatch for {sorted(mismatches)[:10]}"

    # the op actually deduplicates on this fixture (clusters contain
    # near-dups by construction of the embeddings table)
    assert any(not kept for _, kept in out.values())
    assert any(kept for _, kept in out.values())


def test_semdedup_kept_set_is_pairwise_below_threshold_with_lower_ids(spark, sf_dir):
    """No kept vector may have a kept lower-id near-dup in its cluster —
    the representative-per-group guarantee of the lowest-id rule."""
    from agentic_data_pipeline_spark.catalog import load_table
    from agentic_data_pipeline_spark.operators.similarity import semdedup

    emb = load_table(spark, sf_dir, "embeddings")
    out = semdedup(emb, k_clusters=8, threshold=0.35)
    kept = out.filter("kept")
    a = kept.selectExpr("cluster_id", "vec_id AS a_id")
    b = kept.selectExpr("cluster_id AS b_cluster", "vec_id AS b_id")
    pairs = a.join(b, (a.cluster_id == b.b_cluster) & (a.a_id < b.b_id))
    vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
            for r in emb.collect()}
    for r in pairs.collect():
        u, v = vecs[r["a_id"]], vecs[r["b_id"]]
        sim = float(u @ v / (np.linalg.norm(u) * np.linalg.norm(v)))
        assert sim <= 0.35 + 1e-9, (r["a_id"], r["b_id"], sim)


def test_semdedup_contract_is_not_vacuous(spark, sf_dir):
    """The driver-hashed contract row must exercise real signal: some
    sampled vectors are isolated (so 'isolation => kept' checks actual
    rows) and some are NOT (so the margin-based isolation test can fail if
    the cosine arithmetic drifts)."""
    from agentic_data_pipeline_spark.operators.similarity import (
        SEMDEDUP_CONTRACT_SAMPLE, ext_semdedup_contract)

    row = ext_semdedup_contract(spark, sf_dir).collect()[0]
    assert row.partition_ok and row.all_sample_isolated_kept \
        and row.kept_no_dup_ok, row
    assert 0 < row.n_sample_isolated < SEMDEDUP_CONTRACT_SAMPLE, row
    assert row.k_clusters == max(8, row.n_vectors // 64)


def test_kmeans_contract_verifies_fit(spark, sf_dir):
    """ext_kmeans_clusters carries its own folded contract (r8 verdict
    item 8 retired the separate twin): 8 deterministically-relabeled
    cluster rows, argmin-assignment verified per cluster, and the size
    total proving the assignment partitions the corpus."""
    from agentic_data_pipeline_spark.catalog import load_table
    from agentic_data_pipeline_spark.operators.similarity import (
        ext_kmeans_clusters, kmeans_clusters)

    rows = ext_kmeans_clusters(spark, sf_dir).collect()
    n_emb = load_table(spark, sf_dir, "embeddings").count()
    assert sorted(r.cluster_rank for r in rows) == list(range(8))
    assert all(r.nearest_ok for r in rows), rows
    assert all(r.n_total == n_emb for r in rows), rows

    # the rich library artifact stays consistent with the folded op
    rich = kmeans_clusters(spark, sf_dir).collect()
    assert len(rich) == 8
    assert sum(r.n_vectors for r in rich) == n_emb
    assert all(r.centroid_norm > 0 for r in rich)


def test_knn_graph_derived_contract_and_blocking(spark, sf_dir):
    """Derived-blocking kNN: the contract booleans hold, cell sizes track
    the N/64 target (not N/|labels|), and every edge is verified against
    a numpy within-cell brute force — the derived twin of the
    label-blocked op's pinning test."""
    import numpy as np

    from agentic_data_pipeline_spark.operators.similarity import (
        ext_knn_graph_derived, knn_graph_derived, semdedup_k_for,
    )
    from agentic_data_pipeline_spark.catalog import load_table

    row = ext_knn_graph_derived(spark, sf_dir).collect()[0]
    assert row.partition_ok and row.degree_ok and row.sims_valid \
        and row.block_size_bounded and row.recall_floor_ok, row
    assert row.n_cells == semdedup_k_for(row.n_vectors)

    emb = load_table(spark, sf_dir, "embeddings")
    assigned, edges = knn_graph_derived(emb, k=3)
    asg = assigned.toPandas()
    got = {(r["vec_id"], r["rank"]): (r["neighbor_id"], r["sim"])
           for r in edges.collect()}
    n_expected = 0
    for _, grp in asg.groupby("__cell"):
        ids = grp["vec_id"].to_numpy()
        m = np.stack([np.asarray(v, dtype=np.float64)
                      for v in grp["embedding"]])
        m = m / np.linalg.norm(m, axis=1, keepdims=True)
        sims = m @ m.T
        np.fill_diagonal(sims, -np.inf)
        kk = min(3, len(ids) - 1)
        n_expected += max(kk, 0) * len(ids)
        for i in range(len(ids)):
            order = np.lexsort((ids, -sims[i]))[:kk]
            for rank, j in enumerate(order, start=1):
                nb, sim = got[(ids[i], rank)]
                assert nb == ids[j], (ids[i], rank)
                assert abs(sim - np.floor(sims[i][j] * 1e6 + 1e-3) / 1e6) \
                    < 2e-6
    assert len(got) == n_expected


def test_semdedup_fused_hierarchical_matches_bruteforce(spark, sf_dir):
    """Forcing k past SEMDEDUP_DIRECT_FIT_CAP routes through the r8 fused
    hierarchical path (coarse MLlib fit → one applyInPandas doing the
    seeded sub-Lloyd AND the within-sub-cell BLAS dedup). Same pin as the
    direct-path test: the keep set must match a numpy re-derivation of
    the drop rule from the op's OWN cluster assignments, and the output
    must stay a total partition of the corpus."""
    from agentic_data_pipeline_spark.catalog import load_table
    from agentic_data_pipeline_spark.operators.similarity import (
        SEMDEDUP_DIRECT_FIT_CAP, semdedup)

    emb = load_table(spark, sf_dir, "embeddings")
    forced_k = SEMDEDUP_DIRECT_FIT_CAP * 8
    out = {r["vec_id"]: (r["cluster_id"], r["kept"])
           for r in semdedup(emb, k_clusters=forced_k,
                             threshold=0.35).collect()}
    vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
            for r in emb.collect()}
    assert set(out) == set(vecs)

    by_cluster: dict[int, list[int]] = {}
    for vid, (cid, _) in out.items():
        by_cluster.setdefault(cid, []).append(vid)
    for cid, ids in by_cluster.items():
        ids.sort()
        m = np.stack([vecs[i] for i in ids])
        norms = np.linalg.norm(m, axis=1)
        sims = (m @ m.T) / np.outer(norms, norms)
        for pos, vid in enumerate(ids):
            expect = not bool((sims[pos, :pos] > 0.35).any())
            assert out[vid][1] == expect, (cid, vid)

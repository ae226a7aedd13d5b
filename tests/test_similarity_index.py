"""Incremental IVF ANN index (operators/similarity_index.py):
assign-once-at-ingest, exactly-once via the lake's epoch fence, search
results value-equal to the one-shot ``ivf_topk`` with the same pinned
quantizer."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from sql_graph_visualizer_spark.operators.similarity import ivf_topk
from sql_graph_visualizer_spark.operators.similarity_index import IvfIndex

SF = "/root/testdata/sf0.001"


def _clustered(spark):
    """The entry module's deterministic clustered embeddings (8 one-hot
    cluster directions + small arithmetic noise) over the fixture ids —
    every vector's true neighbours live in its own cluster."""
    e = spark.read.parquet(f"{SF}/embeddings.parquet").select("vec_id")
    vid = F.col("vec_id")
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(7)),
        lambda j: (
            F.when(j.cast("long") == F.pmod(vid, F.lit(8)), F.lit(3.0)).otherwise(F.lit(0.0))
            + F.pmod(vid * 31 + j.cast("long") * 17, F.lit(97)).cast("double") / 97.0 * 0.1
        ),
    )
    return e.select("vec_id", vec.alias("embedding"))


def _queries(emb):
    return emb.filter("vec_id < 3").select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def _rows(df):
    return {(r.query_id, r.vec_id, r.cosine, r.rank) for r in df.collect()}


def test_search_equals_one_shot_ivf(spark, tmp_path):
    """The contract that makes the index trustworthy: an index built
    incrementally (two epochs, one MoR) searches exactly like
    ``ivf_topk`` over the full corpus with the same centroids."""
    emb = _clustered(spark)
    idx = IvfIndex.create(spark, str(tmp_path / "ix"), centroids=np.eye(8))
    st0 = idx.add_batch(emb.filter("vec_id % 2 = 0"), epoch_id=0)
    st1 = idx.add_batch(emb.filter("vec_id % 2 = 1"), epoch_id=1, mode="mor")
    assert not st0.skipped and not st1.skipped
    got = _rows(idx.search(_queries(emb), k=5, probes=2))
    exp = _rows(ivf_topk(emb, _queries(emb), k=5, probes=2, centroids=np.eye(8)))
    assert got == exp and got
    # delta fold must not change results
    idx.table.compact_deltas()
    assert _rows(idx.search(_queries(emb), k=5, probes=2)) == exp


def test_redelivered_epoch_is_fenced(spark, tmp_path):
    emb = _clustered(spark).limit(50)
    idx = IvfIndex.create(spark, str(tmp_path / "ix"), centroids=np.eye(8))
    st = idx.add_batch(emb, epoch_id=0)
    assert not st.skipped
    n = idx.table.read().count()
    st2 = idx.add_batch(emb, epoch_id=0)
    assert st2.skipped
    assert idx.table.read().count() == n


def test_reingested_vector_reassigns_cell(spark, tmp_path):
    """Same vec_id, new embedding in a later epoch → LWW row replacement
    including the cell assignment (stale cells would silently lose the
    vector from every search that probes its true cell)."""
    idx = IvfIndex.create(spark, str(tmp_path / "ix"), centroids=np.eye(4))
    v1 = spark.createDataFrame([(7, [1.0, 0.0, 0.0, 0.0])], "vec_id long, embedding array<double>")
    idx.add_batch(v1, epoch_id=0)
    assert [r.cell for r in idx.table.read().collect()] == [0]
    v2 = spark.createDataFrame([(7, [0.0, 0.0, 1.0, 0.0])], "vec_id long, embedding array<double>")
    idx.add_batch(v2, epoch_id=1)
    rows = idx.table.read().collect()
    assert len(rows) == 1 and rows[0].cell == 2
    q = spark.createDataFrame(
        [(99, [0.0, 0.0, 1.0, 0.0])], "query_id long, query_vec array<double>"
    )
    hits = idx.search(q, k=1, probes=1).collect()
    assert [(r.query_id, r.vec_id, r.cosine) for r in hits] == [(99, 7, 1.0)]


def test_cold_open_pins_centroids_and_probe_plan(spark, tmp_path):
    """The quantizer survives a cold open unchanged, and the search plan
    broadcasts the QUERY side with the probe-cell IN filter pushed into
    the corpus parquet scan — the corpus never shuffles (the 100 TB
    contract)."""
    path = str(tmp_path / "ix")
    C = np.eye(8) + 0.01
    IvfIndex.create(spark, path, centroids=C)
    assert IvfIndex.exists(path)
    idx = IvfIndex(spark, path)
    want = C / np.linalg.norm(C, axis=1, keepdims=True)
    assert np.allclose(idx.centroids, want) and idx.dim == 8 and idx.cells == 8
    emb = _clustered(spark)
    idx.add_batch(emb, epoch_id=0)
    plan = (
        idx.search(_queries(emb), k=5, probes=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan and "BroadcastExchange" in plan
    assert "PushedFilters: [" in plan and "In(cell" in plan


def test_create_rejects_bad_centroids(spark, tmp_path):
    with pytest.raises(ValueError):
        IvfIndex.create(spark, str(tmp_path / "a"), centroids=np.zeros((2, 4)))
    with pytest.raises(ValueError):
        IvfIndex.create(spark, str(tmp_path / "b"), centroids=np.ones(4))


def test_cell_stats_reports_skew(spark, tmp_path):
    emb = _clustered(spark)
    idx = IvfIndex.create(spark, str(tmp_path / "ix"), centroids=np.eye(8))
    idx.add_batch(emb, epoch_id=0)
    stats = {r.cell: r.n_vectors for r in idx.cell_stats().collect()}
    assert sum(stats.values()) == emb.count()
    assert set(stats) == set(range(8))  # clustered fixture hits every cell


def test_search_and_ingest_mid_progressive_migration(spark, tmp_path):
    """A corpus-scale ANN index is exactly the table an operator would
    grow-rebucket — search (cell-filtered scan) and add_batch must stay
    one-shot-equal while a migration frontier is mid-table, and after
    rebucket_finish."""
    emb = _clustered(spark)
    idx = IvfIndex.create(spark, str(tmp_path / "ix"), centroids=np.eye(8), num_buckets=4)
    idx.add_batch(emb.filter("vec_id % 2 = 0"), epoch_id=0)
    exp_half = _rows(
        ivf_topk(
            emb.filter("vec_id % 2 = 0"), _queries(emb), k=5, probes=2, centroids=np.eye(8)
        )
    )
    exp_full = _rows(ivf_topk(emb, _queries(emb), k=5, probes=2, centroids=np.eye(8)))

    idx.table.rebucket_start(8)
    idx.table.rebucket_step(max_buckets=1)  # frontier mid-table: 1 of 4 migrated
    assert _rows(idx.search(_queries(emb), k=5, probes=2)) == exp_half

    st = idx.add_batch(emb.filter("vec_id % 2 = 1"), epoch_id=1)  # lands mid-migration
    assert not st.skipped
    assert _rows(idx.search(_queries(emb), k=5, probes=2)) == exp_full

    idx.table.rebucket_step(max_buckets=4)
    idx.table.rebucket_finish()
    assert idx.table.manifest()["num_buckets"] == 8
    assert _rows(idx.search(_queries(emb), k=5, probes=2)) == exp_full


# ---------------------------------------------------------------- retrain


def test_search_mid_retrain_equals_oracle(spark, tmp_path):
    """VERDICT r6 #4: a HALF-migrated index (some rows assigned by the
    old quantizer, some by the pending one, plus fresh ingest tagged
    with the pending generation) must search exactly like the one-shot
    oracle — each row is matched only against the probe set of the
    generation that assigned it."""
    emb = _clustered(spark)
    old_c = np.eye(8)
    new_c = np.roll(np.eye(8), 1, axis=0)  # same directions, every cell id moves
    exp = _rows(ivf_topk(emb, _queries(emb), k=5, probes=2, centroids=old_c))

    idx = IvfIndex.create(spark, str(tmp_path / "ix"), centroids=old_c)
    idx.add_batch(emb.filter("vec_id % 2 = 0"), epoch_id=0)
    gen = idx.retrain_begin(new_c)
    assert gen == 1
    # fresh ingest DURING the retrain: assigned under the pending
    # quantizer, never joins the migration backlog
    idx.add_batch(emb.filter("vec_id % 2 = 1"), epoch_id=1)
    backlog = idx.retrain_remaining()
    assert backlog, "old-generation rows must exist"
    # migrate only part of the backlog → genuinely mixed generations
    idx.retrain_step(backlog[: max(1, len(backlog) // 2)])
    assert idx.retrain_remaining(), "must still be mid-retrain"
    assert _rows(idx.search(_queries(emb), k=5, probes=2)) == exp

    # resume-to-completion (the crash-recovery entry point), then the
    # promoted quantizer serves the same results
    idx.retrain_progressive(cells_per_step=3)
    assert idx.generation == 1 and idx.pending_centroids is None
    assert idx.retrain_remaining() == []
    assert _rows(idx.search(_queries(emb), k=5, probes=2)) == exp
    gens = {r["qgen"] for r in idx.table.read().select("qgen").distinct().collect()}
    assert gens == {1}
    # a reopened handle sees the promoted config
    idx2 = IvfIndex(spark, str(tmp_path / "ix"))
    assert idx2.generation == 1
    assert _rows(idx2.search(_queries(emb), k=5, probes=2)) == exp


def test_retrain_protocol_guards(spark, tmp_path):
    emb = _clustered(spark).limit(64)
    idx = IvfIndex.create(spark, str(tmp_path / "ix"), centroids=np.eye(8))
    idx.add_batch(emb, epoch_id=0)
    with pytest.raises(ValueError, match="no retrain active"):
        idx.retrain_step([0])
    idx.retrain_begin(np.roll(np.eye(8), 2, axis=0))
    with pytest.raises(ValueError, match="already active"):
        idx.retrain_begin(np.eye(8))
    with pytest.raises(ValueError, match="retrain incomplete"):
        idx.retrain_finish()
    # the step writer pins the tombstone horizon (its LSNs are historic,
    # no ordering claim) and finish retires the pin
    idx.retrain_step(idx.retrain_remaining())
    assert idx.table.safe_tombstone_horizon() == 0  # pinned
    idx.retrain_finish()
    assert idx.table.safe_tombstone_horizon() != 0  # pin retired
    assert idx.generation == 1


def test_retrain_step_migrates_every_row_it_rewrites(spark, tmp_path):
    """A retrain step rewrites each row at its ORIGINAL seq, so the
    merge sees a tie on (vec_id, seq) between the table row and the
    re-assigned one; the re-assigned row must win every time, or the
    backlog never drains."""
    emb = _clustered(spark).limit(64)
    idx = IvfIndex.create(spark, str(tmp_path / "ix"), centroids=np.eye(8))
    idx.add_batch(emb, epoch_id=0)
    idx.retrain_begin(np.roll(np.eye(8), 3, axis=0))
    idx.retrain_step(idx.retrain_remaining())
    assert idx.retrain_remaining() == []


def test_retrain_progressive_raises_when_a_step_makes_no_progress(spark, tmp_path, monkeypatch):
    emb = _clustered(spark).limit(64)
    idx = IvfIndex.create(spark, str(tmp_path / "ix"), centroids=np.eye(8))
    idx.add_batch(emb, epoch_id=0)
    idx.retrain_begin(np.roll(np.eye(8), 1, axis=0))
    calls = []

    def no_op_step(cells, query_id="ivf-retrain"):
        calls.append(cells)
        assert len(calls) < 3, "retrain_progressive kept looping on a no-op step"

    monkeypatch.setattr(idx, "retrain_step", no_op_step)
    with pytest.raises(RuntimeError, match="no progress"):
        idx.retrain_progressive(cells_per_step=64)
    assert len(calls) == 1


# ------------------------------------------------- quantizer training


def test_train_centroids_recovers_planted_clusters(spark):
    """Lloyd's k-means on the clustered fixture must recover the 8
    planted clusters: each trained centroid has its dominant mass on
    one distinct one-hot direction (≈3.0 + noise floor), and every
    fixture vector's cluster is represented."""
    from sql_graph_visualizer_spark.operators.similarity import (
        centroids_matrix,
        train_centroids,
    )

    emb = _clustered(spark)
    trained = train_centroids(emb, k=8, iterations=2)
    C = centroids_matrix(trained)
    assert C.shape == (8, 8)
    # dominant coordinate per centroid ≈ the planted 3.0 direction
    dom = C.argmax(axis=1)
    assert sorted(dom.tolist()) == list(range(8))  # a bijection onto clusters
    assert (C.max(axis=1) > 2.5).all()
    off = C.copy()
    off[range(8), dom] = 0.0
    assert (off < 0.2).all()  # noise floor, not a second cluster
    n = emb.count()
    members = {r["cell"]: r["n_members"] for r in trained.select("cell", "n_members").distinct().collect()}
    assert sum(members.values()) == n


def test_train_centroids_sample_and_empty_cell_guard(spark):
    """sample_mod trains on the deterministic id subsample; a cell that
    captures no members keeps its previous centroid instead of
    vanishing (k stays k)."""
    from sql_graph_visualizer_spark.operators.similarity import train_centroids

    emb = _clustered(spark)
    # train on ids ≡ 0 (mod 2) — seeds are then the 8 smallest EVEN ids
    trained = train_centroids(emb, k=8, iterations=1, sample_mod=2)
    got_cells = {r["cell"] for r in trained.select("cell").distinct().collect()}
    assert got_cells == set(range(8))
    n_even = emb.filter("vec_id % 2 = 0").count()
    members = {r["cell"]: r["n_members"] for r in trained.select("cell", "n_members").distinct().collect()}
    assert sum(members.values()) == n_even
    # empty-cell guard: 2 vectors, k=2, 1 iteration — both seeds are the
    # two vectors themselves; every cell keeps a centroid even if one
    # captures both points in a later round
    tiny = emb.filter("vec_id < 2")
    t2 = train_centroids(tiny, k=2, iterations=3)
    assert t2.select("cell").distinct().count() == 2
    # too few distinct ids to seed k cells fails loudly
    import pytest as _pytest

    with _pytest.raises(ValueError, match="distinct ids"):
        train_centroids(emb.filter("vec_id < 3"), k=8)


def test_trained_quantizer_closes_the_retrain_loop(spark, tmp_path):
    """The full lifecycle arc: an index created with a DELIBERATELY bad
    quantizer (all mass lands in few cells) is retrained with
    train_centroids' output via the progressive protocol, after which
    (a) search still equals the exact brute-force oracle and (b) the
    cell histogram is balanced — the hot-cell failure mode cell_stats
    diagnoses is actually FIXED by the trained centroids."""
    from sql_graph_visualizer_spark.operators.similarity import (
        centroids_matrix,
        cosine_topk,
        train_centroids,
    )

    emb = _clustered(spark)
    # bad quantizer: 7 copies of e_0 plus one e_1 — clusters 2-7 have no
    # aligned direction, so their mass piles onto whichever of the two
    # real directions their NOISE favors (cosine argmax ties break to
    # the first cell): a genuinely hot cell 0
    bad = np.vstack([np.tile(np.eye(8)[0], (7, 1)), np.eye(8)[1]])
    idx = IvfIndex.create(spark, str(tmp_path / "ix"), centroids=bad)
    idx.add_batch(emb, epoch_id=0)
    before = idx.cell_stats().collect()
    assert max(r["n_vectors"] for r in before) > emb.count() // 4  # genuinely hot
    C = centroids_matrix(train_centroids(emb, k=8, iterations=2))
    idx.retrain_progressive(C, cells_per_step=3)
    after = {r["cell"]: r["n_vectors"] for r in idx.cell_stats().collect()}
    assert len(after) == 8 and max(after.values()) <= 2 * min(after.values())
    got = _rows(idx.search(_queries(emb), k=5, probes=2))
    exp = _rows(
        cosine_topk(emb, _queries(emb), k=5).withColumn(
            "rank", F.col("rank").cast("int")
        )
    )
    assert got and {(q, v) for q, v, *_ in got} == {(q, v) for q, v, *_ in exp}


def test_maybe_retrain_fixes_hot_cell_and_noops_when_balanced(spark, tmp_path):
    """The maintenance hook: a collapsed quantizer trips the hot-share
    threshold, self-trains on the indexed corpus, and migrates to
    balance; a balanced index is a 0-step no-op; an in-flight retrain
    is resumed rather than re-diagnosed."""
    from sql_graph_visualizer_spark.operators.similarity import cosine_topk

    emb = _clustered(spark)
    bad = np.vstack([np.tile(np.eye(8)[0], (7, 1)), np.eye(8)[1]])
    idx = IvfIndex.create(spark, str(tmp_path / "ix"), centroids=bad)
    idx.add_batch(emb, epoch_id=0)
    steps = idx.maybe_retrain(hot_share=0.4, cells_per_step=4)
    assert steps > 0 and idx.pending_centroids is None
    after = {r["cell"]: r["n_vectors"] for r in idx.cell_stats().collect()}
    assert len(after) == 8 and max(after.values()) <= 2 * min(after.values())
    got = _rows(idx.search(_queries(emb), k=5, probes=2))
    exp = _rows(
        cosine_topk(emb, _queries(emb), k=5).withColumn("rank", F.col("rank").cast("int"))
    )
    assert got and {(q, v) for q, v, *_ in got} == {(q, v) for q, v, *_ in exp}
    # balanced now: the hook is a no-op
    assert idx.maybe_retrain(hot_share=0.4) == 0
    # staged-but-unfinished retrain is resumed, not re-diagnosed
    idx.retrain_begin(np.roll(idx.centroids, 1, axis=0))
    steps2 = idx.maybe_retrain(hot_share=0.4, cells_per_step=4)
    assert steps2 > 0 and idx.pending_centroids is None

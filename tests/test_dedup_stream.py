"""Streaming dedup ingest (streaming/dedup_stream.py): online
probe-then-index over a file stream, matches table exactly-once, crash
window between index commit and matches commit recovered via snapshot
time travel."""

from __future__ import annotations

import json
import os

from sql_graph_visualizer_spark.operators.dedup import minhash_lsh_pairs
from sql_graph_visualizer_spark.operators.dedup_index import MinHashIndex
from sql_graph_visualizer_spark.streaming.dedup_stream import (
    DedupIngest,
    dedup_ingest_stream,
)

DOCS = [
    (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (3, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
    (4, "one two three four five six seven eight nine ten"),
    (5, "one two three four five six seven eight nine ten"),
    (6, "completely different words with no overlap whatsoever here now"),
    (7, "the quick brown fox jumps over the lazy dog tonight again"),
    (8, "the quick brown fox jumps over the lazy dog tonight again"),
]
PARAMS = dict(num_hashes=64, bands=16, shingle_n=3)
THRESHOLD = 0.5


def _docs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _expected_pairs(spark):
    """One-shot LSH pairs over the full corpus, as unordered pairs."""
    full = minhash_lsh_pairs(_docs_df(spark, DOCS), threshold=THRESHOLD, **PARAMS)
    return {(frozenset((r.a_id, r.b_id)), r.est_jaccard) for r in full.collect()}


def test_stream_singleton_epochs_find_all_pairs(spark, tmp_path):
    """One document per micro-batch (maxFilesPerTrigger=1) → no
    intra-batch pairs exist, so the accumulated matches table must
    equal the full one-shot pair set as UNORDERED pairs, regardless of
    the file stream's (non-deterministic) processing order."""
    doc_dir = tmp_path / "docs"
    doc_dir.mkdir()
    for i, (doc_id, text) in enumerate(DOCS):
        (doc_dir / f"doc-{i}.json").write_text(
            json.dumps({"doc_id": doc_id, "text": text}) + "\n"
        )
    idx = MinHashIndex.create(spark, str(tmp_path / "ix"), **PARAMS)
    ingest = DedupIngest(spark, idx, str(tmp_path / "matches"), threshold=THRESHOLD)
    stats = dedup_ingest_stream(
        spark,
        str(doc_dir),
        ingest,
        str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    assert len(stats) == len(DOCS)
    assert all(not ist.skipped and not mst.skipped for ist, mst in stats)
    got = {
        (frozenset((r.new_id, r.match_id)), r.est_jaccard)
        for r in ingest.read().collect()
    }
    exp = _expected_pairs(spark)
    assert exp, "fixture must contain near-dups"
    assert got == exp
    assert idx.table.read().count() == len(DOCS)


def test_crash_window_recovers_matches_from_snapshot(spark, tmp_path):
    """Index commit landed, matches commit did not (crash between the
    two): the re-delivered epoch's live probe is fenced empty, so the
    matches are recomputed against the pre-batch index snapshot found
    by epoch id in the manifest summaries."""
    idx = MinHashIndex.create(spark, str(tmp_path / "ix"), **PARAMS)
    ingest = DedupIngest(spark, idx, str(tmp_path / "matches"), threshold=THRESHOLD)
    batch0 = _docs_df(spark, DOCS[:4])
    batch1 = _docs_df(spark, DOCS[4:])
    ingest.process(batch0, 0)
    expected = {
        (r.new_id, r.match_id, r.est_jaccard)
        for r in idx.probe(batch1, threshold=THRESHOLD).collect()
    }
    assert expected, "fixture must produce cross-epoch matches"
    # simulate the crash window: index epoch 1 commits OUTSIDE the
    # ingest loop (same query_id), matches table never sees epoch 1
    idx.add_batch(batch1, epoch_id=1, query_id=ingest.query_id, threshold=THRESHOLD)
    st, mst = ingest.process(batch1, 1)  # re-delivery after "restart"
    assert st.skipped and not mst.skipped
    got = {
        (r.new_id, r.match_id, r.est_jaccard)
        for r in ingest.read()
        .filter("new_id in (5, 6, 7, 8)")
        .collect()
    }
    assert got == expected


def test_redelivered_epoch_is_fully_fenced(spark, tmp_path):
    idx = MinHashIndex.create(spark, str(tmp_path / "ix"), **PARAMS)
    ingest = DedupIngest(spark, idx, str(tmp_path / "matches"), threshold=THRESHOLD)
    batch = _docs_df(spark, DOCS)
    st0, mst0 = ingest.process(batch, 0)
    assert not st0.skipped and not mst0.skipped
    n = ingest.read().count()
    st1, mst1 = ingest.process(batch, 0)
    assert st1.skipped and mst1.skipped
    assert ingest.read().count() == n


def test_crash_window_with_expired_snapshot_fences_without_crashing(spark, tmp_path):
    """If the original commit's snapshot aged out of retention before
    the re-delivery, the matches cannot be recomputed — the epoch is
    fenced in the matches table (empty merge) rather than crashing or
    re-reporting wrong pairs. This is the documented keep_last caveat."""
    idx = MinHashIndex.create(spark, str(tmp_path / "ix"), **PARAMS)
    ingest = DedupIngest(spark, idx, str(tmp_path / "matches"), threshold=THRESHOLD)
    ingest.process(_docs_df(spark, DOCS[:4]), 0)
    # index epoch 1 commits outside the loop (crash window), then the
    # manifest history is truncated past it
    idx.add_batch(
        _docs_df(spark, DOCS[4:]), epoch_id=1, query_id=ingest.query_id, threshold=THRESHOLD
    )
    idx.add_batch(
        _docs_df(spark, [(100, "fresh unrelated filler text for another epoch entirely")]),
        epoch_id=2,
        query_id=ingest.query_id,
        threshold=THRESHOLD,
    )
    # the scenario is a CRASHED ingest process: its in-memory probe pin
    # (r7 GC guard) died with it, so the restarted maintenance sweep is
    # free to retire the pre-batch snapshot — model that by dropping
    # the pin before expiring
    idx.release_probe_pin()
    idx.table.expire_snapshots(keep_last=1, older_than_seconds=0)
    assert ingest._find_epoch_version(1) is None  # history truly gone
    before = ingest.read().count()
    st, mst = ingest.process(_docs_df(spark, DOCS[4:]), 1)
    assert st.skipped and not mst.skipped  # fenced empty merge commits the epoch
    assert ingest.read().count() == before  # nothing (wrong) was written
    # the fence holds on the next duplicate delivery
    st2, mst2 = ingest.process(_docs_df(spark, DOCS[4:]), 1)
    assert st2.skipped and mst2.skipped


def test_resume_from_checkpoint_is_noop(spark, tmp_path):
    """Re-running the drained stream with the same checkpoint processes
    nothing new."""
    doc_dir = tmp_path / "docs"
    doc_dir.mkdir()
    (doc_dir / "d.json").write_text(
        "".join(json.dumps({"doc_id": d, "text": t}) + "\n" for d, t in DOCS)
    )
    idx = MinHashIndex.create(spark, str(tmp_path / "ix"), **PARAMS)
    ingest = DedupIngest(spark, idx, str(tmp_path / "matches"), threshold=THRESHOLD)
    s1 = dedup_ingest_stream(spark, str(doc_dir), ingest, str(tmp_path / "ckpt"))
    assert len(s1) == 1
    s2 = dedup_ingest_stream(spark, str(doc_dir), ingest, str(tmp_path / "ckpt"))
    assert s2 == []


# ------------------------------------------------- corpus close-the-loop


def _one_shot_survivors(spark, rows):
    """Oracle: min doc id per near-dup component over ALL docs at once."""
    from sql_graph_visualizer_spark.operators.dedup import dedup_canonical

    docs = _docs_df(spark, rows)
    pairs = minhash_lsh_pairs(docs, threshold=THRESHOLD, **PARAMS)
    return {
        r.doc_id
        for r in dedup_canonical(docs, pairs, a_col="a_id", b_col="b_id").collect()
        if r.is_canonical
    }


def _corpus_ingest(spark, tmp_path, name="c"):
    idx = MinHashIndex.create(spark, str(tmp_path / f"ix-{name}"), **PARAMS)
    return DedupIngest(
        spark,
        idx,
        str(tmp_path / f"matches-{name}"),
        threshold=THRESHOLD,
        corpus_path=str(tmp_path / f"corpus-{name}"),
    )


def test_corpus_incremental_dedup_equals_one_shot(spark, tmp_path):
    """THE close-the-loop oracle (VERDICT r6 #1): replaying the corpus
    epoch-by-epoch — with cross-epoch duplicates, intra-batch duplicates
    and a singleton — must converge to exactly the one-shot decision:
    keep the min doc id per near-dup component, tombstone the rest."""
    expected = _one_shot_survivors(spark, DOCS)
    assert expected != {d for d, _ in DOCS}, "fixture must drop someone"

    # epoch split chosen so duplicates land BOTH across epochs (1 vs 2;
    # 4 vs 5) and within one epoch (7 and 8 arrive together)
    epochs = [DOCS[:2], DOCS[2:5], DOCS[5:]]
    ingest = _corpus_ingest(spark, tmp_path)
    for e, rows in enumerate(epochs):
        ingest.process(_docs_df(spark, rows), e)
    live = {r.doc_id for r in ingest.read_corpus().collect()}
    assert live == expected
    # survivors keep their text; losers are tombstones, not lost rows
    sys_rows = ingest.corpus.read(system=True)
    assert sys_rows.filter("_deleted").count() == len(DOCS) - len(expected)


def test_corpus_crash_between_matches_and_apply_commits(spark, tmp_path):
    """The NEW crash window (matches commit landed, corpus apply did
    not): re-delivery must fence index+docs+matches and re-derive the
    SAME survivor decisions from the committed matches table."""
    ingest = _corpus_ingest(spark, tmp_path)
    ingest.process(_docs_df(spark, DOCS[:4]), 0)

    # crash the apply arm of epoch 1: let everything before it commit,
    # then die inside apply_survivors' merge
    orig = ingest.corpus.merge_upsert
    def dying(events, **kw):
        if kw.get("query_id", "").endswith("-apply") and kw.get("epoch_id") == 1:
            raise RuntimeError("simulated crash before apply commit")
        return orig(events, **kw)
    ingest.corpus.merge_upsert = dying
    try:
        import pytest as _pytest
        with _pytest.raises(RuntimeError, match="simulated crash"):
            ingest.process(_docs_df(spark, DOCS[4:]), 1)
    finally:
        ingest.corpus.merge_upsert = orig

    # "restart": fresh ingest over the same tables, re-deliver epoch 1
    ingest2 = DedupIngest(
        spark,
        MinHashIndex(spark, str(tmp_path / "ix-c")),
        str(tmp_path / "matches-c"),
        threshold=THRESHOLD,
        corpus_path=str(tmp_path / "corpus-c"),
    )
    st, mst = ingest2.process(_docs_df(spark, DOCS[4:]), 1)
    assert st.skipped and mst.skipped  # index + matches both fenced
    dst, ast = ingest2.corpus_stats[-1]
    assert dst.skipped and not ast.skipped  # docs fenced; apply recovered
    assert {r.doc_id for r in ingest2.read_corpus().collect()} == _one_shot_survivors(
        spark, DOCS
    )
    # second re-delivery: everything fenced, state unchanged
    st2, mst2 = ingest2.process(_docs_df(spark, DOCS[4:]), 1)
    dst2, ast2 = ingest2.corpus_stats[-1]
    assert st2.skipped and mst2.skipped and dst2.skipped and ast2.skipped


def test_corpus_updated_doc_resurrects_and_stale_pairs_retire(spark, tmp_path):
    """A loser re-ingested with NEW (unique) text must resurrect through
    LWW (2·seq′ beats the old 2·seq+1 delete), its stale pairs must be
    retired from the matches table, and it must survive re-evaluation."""
    ingest = _corpus_ingest(spark, tmp_path)
    ingest.process(_docs_df(spark, DOCS), 0)
    assert 2 not in {r.doc_id for r in ingest.read_corpus().collect()}  # dup of 1
    stale = ingest.read().filter("new_id = 2 or match_id = 2").count()
    assert stale > 0

    # doc 2 is UPDATED to unique text and re-enters the stream
    ingest.process(
        _docs_df(spark, [(2, "utterly novel content nothing resembles this text")]), 1
    )
    live = {r.doc_id for r in ingest.read_corpus().collect()}
    assert 2 in live  # resurrected
    assert ingest.read().filter("new_id = 2 or match_id = 2").count() == 0  # retired
    # everyone else's decision is untouched
    assert live - {2} == _one_shot_survivors(spark, DOCS)


def test_apply_survivors_batch_operator_orphan_guard(spark, tmp_path):
    """The standalone batch operator: orphan pair ids (never ingested)
    cannot out-rank real docs and delete a whole cluster; touched_ids
    restricts the blast radius."""
    from sql_graph_visualizer_spark.lake.snapshot_table import SnapshotTable
    from sql_graph_visualizer_spark.operators.dedup_apply import apply_survivors
    import pyspark.sql.types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("text", T.StringType(), True),
        ]
    )
    t = SnapshotTable.create(
        spark, str(tmp_path / "t"), schema, key_cols=["doc_id"], num_buckets=4
    )
    docs = spark.createDataFrame(
        [(10, "a"), (11, "b"), (20, "c"), (21, "d")],
        "doc_id long, text string",
    )
    t.merge_upsert(
        docs.selectExpr("doc_id", "text", "'update' as op", "doc_id as seq"),
        epoch_id=0, query_id="load",
    )
    # pair graph: {10,11} dup cluster; {20,21} cluster whose component
    # min (5) was NEVER ingested — the orphan guard must keep 20
    pairs = spark.createDataFrame(
        [(11, 10), (21, 20), (20, 5)], "new_id long, match_id long"
    )
    apply_survivors(t, pairs, seq=1000, epoch_id=1, query_id="apply")
    assert {r.doc_id for r in t.read().collect()} == {10, 20}

    # touched_ids: only the {10,11} component may be written
    t2 = SnapshotTable.create(
        spark, str(tmp_path / "t2"), schema, key_cols=["doc_id"], num_buckets=4
    )
    t2.merge_upsert(
        docs.selectExpr("doc_id", "text", "'update' as op", "doc_id as seq"),
        epoch_id=0, query_id="load",
    )
    apply_survivors(
        t2, pairs, seq=1000, epoch_id=1, query_id="apply",
        touched_ids=spark.createDataFrame([(11,)], "doc_id long"),
    )
    assert {r.doc_id for r in t2.read().collect()} == {10, 20, 21}


def test_soak_everything_on_streaming_dedup_pipeline(spark, tmp_path):
    """Integration soak: every optional arm of the streaming dedup
    pipeline ON at once — PII redaction + online decontamination
    (transforms), probe-then-index, exactly-once matches, corpus
    close-the-loop (apply_survivors), lineage counters, mid-run
    snapshot GC on all three tables, and epoch re-delivery — and the
    incremental result still equals the one-shot decision over the
    TRANSFORMED corpus.

    The fixture plants a pair that is a near-dup ONLY after redaction
    (same text, different emails/phones: raw word-3-gram Jaccard
    ≈ 5/17, redacted 1.0) — proving transforms run BEFORE shingling,
    which is the whole point of ordering hygiene ahead of dedup."""
    from sql_graph_visualizer_spark.streaming.metrics import LineageRecorder
    from sql_graph_visualizer_spark.streaming.transforms import IngestTransforms
    from sql_graph_visualizer_spark.operators.text import redact_pii
    from pyspark.sql import functions as F

    FAM_A = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    FAM_B = "one two three four five six seven eight nine ten"
    PII_1 = "contact me at alice@example.com or call 555-123-4567 for details about shipping today"
    PII_2 = "contact me at bob@example.org or call 555-999-8888 for details about shipping today"
    BENCH = "the secret benchmark passage that must never enter the training corpus ever"
    SOLO_1 = "completely different words with no overlap whatsoever here now"
    SOLO_2 = "the quick brown fox jumps over the lazy dog tonight"
    SOLO_3 = "pack my box with five dozen liquor jugs right away"
    docs = {
        10: FAM_A, 11: FAM_A, 12: FAM_A, 13: FAM_A,
        20: FAM_B, 21: FAM_B,
        30: PII_1, 31: PII_2,
        40: SOLO_1, 41: SOLO_2, 42: SOLO_3,
        50: BENCH,
    }
    epochs = [[10, 40], [11, 30], [20, 21], [50, 41], [31], [12], [42], [13]]

    # the planted post-redaction-only pair: raw texts must NOT pair
    raw_pair = minhash_lsh_pairs(
        _docs_df(spark, [(30, PII_1), (31, PII_2)]), threshold=THRESHOLD, **PARAMS
    )
    assert raw_pair.count() == 0

    benchmark = spark.createDataFrame([(BENCH,)], "text string")
    transforms = IngestTransforms(
        redact_cols=["text"], benchmark=benchmark, decontam_n=8,
        decontam_threshold=0.5, id_cols=["doc_id"],
    )
    lineage = LineageRecorder(spark, str(tmp_path / "lineage"))
    idx = MinHashIndex.create(spark, str(tmp_path / "ix"), **PARAMS)
    ingest = DedupIngest(
        spark, idx, str(tmp_path / "matches"), threshold=THRESHOLD,
        corpus_path=str(tmp_path / "corpus"), transforms=transforms,
        lineage=lineage,
    )

    try:
        for e, ids in enumerate(epochs):
            ingest.process(_docs_df(spark, [(i, docs[i]) for i in ids]), e)
            if e == 3:
                # mid-run GC on every table, retention covering the stream's
                # re-delivery horizon (the documented caveat)
                for t in (ingest.index.table, ingest.matches, ingest.corpus):
                    t.expire_snapshots(keep_last=30)
            if e == 5:
                # re-deliver the epoch just processed: all four arms fenced
                st, mst = ingest.process(
                    _docs_df(spark, [(i, docs[i]) for i in epochs[5]]), 5
                )
                dst, ast = ingest.corpus_stats[-1]
                assert st.skipped and mst.skipped and dst.skipped and ast.skipped
    finally:
        transforms.close()
    assert transforms._bench_grams is None

    # one-shot oracle over the TRANSFORMED corpus: redact everything,
    # drop the contaminated doc, then decide in a single pass
    transformed = [
        (i, r["text"])
        for i, r in zip(
            sorted(d for d in docs if d != 50),
            _docs_df(spark, sorted((i, t) for i, t in docs.items() if i != 50))
            .withColumn("text", redact_pii(F.col("text")))
            .orderBy("doc_id")
            .select("text")
            .collect(),
        )
    ]
    expected = _one_shot_survivors(spark, transformed)
    assert expected == {10, 20, 30, 40, 41, 42}  # the fixture's designed outcome

    live = {r.doc_id: r.text for r in ingest.read_corpus().collect()}
    assert set(live) == expected
    # hygiene really landed: no raw PII anywhere in the live corpus,
    # placeholders present on the PII survivor, benchmark text absent
    assert all("@example" not in t and "555-" not in t for t in live.values())
    assert "[EMAIL]" in live[30] and "[PHONE]" in live[30]
    assert all(BENCH != t for t in live.values())
    # losers are tombstones (11 ingested docs, 6 survive), dropped doc
    # 50 never reached the corpus at all
    sys_rows = ingest.corpus.read(system=True)
    assert sys_rows.filter("_deleted").count() == 11 - len(expected)
    assert sys_rows.filter("doc_id = 50").count() == 0
    # transform counters flowed to lineage under <qid>-transforms: the
    # table is keyed by (query_id, epoch_id), so the re-delivered epoch
    # MERGEs over its original row (8 distinct epochs, not 9 appends) —
    # while the in-memory stats list saw all 9 applications
    assert len(transforms.stats) == 9
    lineage.flush()
    lrows = lineage.table.read().filter(
        F.col("query_id") == f"{ingest.query_id}-transforms"
    ).collect()
    assert len(lrows) == 8
    assert sum(r.upserts for r in lrows) >= 4  # 2 PII docs x (email+phone)
    assert sum(r.deletes for r in lrows) == 1

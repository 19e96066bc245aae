"""CDC→corpus capstone: change-log/fold semantics (delete leaves,
update replaces, dups collapse), streamed == batch across a restart,
and replay idempotence. The registered query's hash parity vs the
all-SQL oracle is covered by the oracle sweep."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from debezium_incubator_spark.catalog import table
from debezium_incubator_spark.cdc.corpus_refresh import (
    PLACEHOLDER,
    cdc_corpus_refresh,
    corpus_refresh_foreach_batch,
    dedup_keepers,
    documents_change_log,
    documents_envelopes,
    start_corpus_refresh_stream,
    unwrap_documents,
)
from debezium_incubator_spark.cdc.materialize import materialize_latest
from debezium_incubator_spark.streaming.commit import read_latest

from .conftest import SF_SMOKE


def _folded_state(spark):
    docs = table(spark, SF_SMOKE, "documents")
    wire = documents_envelopes(documents_change_log(docs))
    flat = unwrap_documents(wire)
    state = materialize_latest(
        flat, keys=["doc_id"], position=["__pos"]
    ).select("doc_id", "text", "source")
    return docs, state


def test_fold_semantics_delete_update_draft(spark):
    """The CDC semantics no standalone stage proves: deleted docs LEAVE
    the state, updated docs carry the REPLACED text, never-updated docs
    keep their draft/placeholder insert text."""
    docs, state = _folded_state(spark)
    fixture = {r["doc_id"]: r["text"] for r in docs.collect()}
    got = {r["doc_id"]: r["text"] for r in state.collect()}
    assert got, "folded state is empty"
    for did, text in got.items():
        assert did % 7 != 0, f"deleted doc {did} still in state"
        if did % 3 == 0:
            assert text == fixture[did], f"update not applied to {did}"
        elif did % 5 == 0:
            assert text == PLACEHOLDER
        else:
            assert text == fixture[did] + " draft pending"
    # every non-deleted doc is present (inserts never vanish)
    assert set(got) == {d for d in fixture if d % 7 != 0}


def test_dedup_collapses_planted_placeholders(spark):
    """Surviving placeholder drafts (doc_id %5, not %3, not %7) are
    exact dups; the keeper stage must collapse them to min doc_id."""
    _, state = _folded_state(spark)
    corpus = dedup_keepers(state)
    ph_state = sorted(
        r["doc_id"]
        for r in state.filter(F.col("text") == PLACEHOLDER).collect()
    )
    ph_corpus = [
        r["doc_id"]
        for r in corpus.filter(F.col("text") == PLACEHOLDER).collect()
    ]
    assert len(ph_state) > 1, "fixture must plant multiple placeholders"
    assert ph_corpus == [min(ph_state)]


def test_stream_equals_batch_across_restart(spark, tmp_path):
    """The restart-spanning end-to-end: envelopes delivered as 3
    micro-batch files, stream killed after the first and RESTARTED on
    the same checkpoint — the final committed corpus snapshot must
    equal the one-shot batch query, and a mid-stream snapshot must
    reflect only the delivered prefix (deletes arrive last, so the
    prefix corpus may contain docs the final one lost)."""
    docs = table(spark, SF_SMOKE, "documents")
    wire = documents_envelopes(documents_change_log(docs)).withColumn(
        "__pos_sort",
        F.get_json_object("value", "$.source.pos").cast("long"),
    )
    stage = str(tmp_path / "stage")
    state_dir = str(tmp_path / "state")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(stage)
    # slice the log into thirds by position (log-order delivery)
    rows = wire.orderBy("__pos_sort").drop("__pos_sort").collect()
    cut1, cut2 = len(rows) // 3, 2 * len(rows) // 3
    slices = [rows[:cut1], rows[cut1:cut2], rows[cut2:]]

    def stage_file(i):
        import glob

        tmp = str(tmp_path / f"tmp{i}")
        spark.createDataFrame(
            slices[i], "key STRING, value STRING"
        ).coalesce(1).write.mode("overwrite").parquet(tmp)
        src = glob.glob(os.path.join(tmp, "*.parquet"))[0]
        os.rename(src, os.path.join(stage, f"b{i}.parquet"))

    stage_file(0)
    q = start_corpus_refresh_stream(spark, stage, state_dir, out_dir, ckpt)
    q.awaitTermination(300)
    mid = {r["doc_id"] for r in read_latest(spark, out_dir).collect()}
    assert mid, "prefix corpus is empty"

    # deliver the rest, restart on the same checkpoint
    stage_file(1)
    stage_file(2)
    q2 = start_corpus_refresh_stream(spark, stage, state_dir, out_dir, ckpt)
    q2.awaitTermination(300)

    batch = cdc_corpus_refresh(spark, SF_SMOKE).collect()
    streamed = sorted(
        read_latest(spark, out_dir).collect(),
        key=lambda r: r["doc_id"],
    )
    assert [tuple(r) for r in streamed] == [tuple(r) for r in batch]
    # the prefix snapshot saw a world before the tail's deletes/updates
    final_ids = {r["doc_id"] for r in batch}
    assert mid != final_ids


def test_epoch_replay_is_idempotent(spark, tmp_path):
    """Replaying a committed micro-batch (crash after state commit,
    before checkpoint advance) must leave state AND snapshot
    byte-identical — the exactly-once story of the refresh loop."""
    docs = table(spark, SF_SMOKE, "documents").limit(60)
    wire = documents_envelopes(documents_change_log(docs))
    state_dir = str(tmp_path / "state")
    out_dir = str(tmp_path / "out")
    os.makedirs(state_dir)
    os.makedirs(out_dir)
    handle = corpus_refresh_foreach_batch(state_dir, out_dir, n_buckets=4)
    handle(wire, 0)
    first = sorted(
        tuple(r) for r in read_latest(spark, out_dir).collect()
    )
    handle(wire, 0)  # replay
    again = sorted(
        tuple(r) for r in read_latest(spark, out_dir).collect()
    )
    assert first == again

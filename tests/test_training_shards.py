"""CDC→training-shards grand capstone: stage semantics (only v3
survivors are sharded, shards/positions/bins follow the deterministic
rules, packing respects the budget), streamed == batch across a
restart, replay idempotence. Hash parity vs the all-SQL oracle is
covered by the oracle sweep + check_one at 3 SFs."""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import functions as F

from debezium_incubator_spark.catalog import table
from debezium_incubator_spark.cdc.corpus_refresh import (
    cdc_corpus_refresh,
    dedup_keepers,
    documents_change_log,
    documents_envelopes,
    unwrap_documents,
)
from debezium_incubator_spark.cdc.training_shards import (
    N_SHARDS,
    SHARD_PACK_BUDGET,
    SHARD_SEED,
    cdc_training_shards,
    start_training_shards_stream,
    training_shards_foreach_batch,
)
from debezium_incubator_spark.streaming.commit import read_latest

from .conftest import SF_SMOKE


def test_only_v3_survivors_are_sharded(spark):
    """Shard membership == the curation-v3 selection over the refreshed
    corpus (cdc_corpus_refresh's output ids), and token counts are the
    REAL unigram piece counts (positive, never whitespace counts)."""
    shards = cdc_training_shards(spark, SF_SMOKE).collect()
    kept = {r["doc_id"] for r in cdc_corpus_refresh(spark, SF_SMOKE).collect()}
    assert {r["doc_id"] for r in shards} == kept and kept
    assert all(r["n_tokens"] > 0 for r in shards)


def test_shard_order_and_packing_rules(spark):
    """Re-derive shard, position order, and bin assignment in Python
    from the output rows: shard = ascii(first md5 hex char) % N_SHARDS,
    positions are contiguous per shard in (ord_key, doc_id) order, and
    bin = exclusive running token sum DIV budget."""
    rows = cdc_training_shards(spark, SF_SMOKE).collect()
    by_shard: dict[int, list] = {}
    for r in rows:
        key = hashlib.md5(
            f"{SHARD_SEED}{r['doc_id']}".encode()
        ).hexdigest()
        assert r["shard"] == ord(key[0]) % N_SHARDS
        by_shard.setdefault(r["shard"], []).append((key, r))
    for shard, items in by_shard.items():
        items.sort(key=lambda t: (t[0], t[1]["doc_id"]))
        cs = 0
        for i, (_, r) in enumerate(items, start=1):
            assert r["pos"] == i, f"shard {shard} position gap at {i}"
            assert r["bin"] == cs // SHARD_PACK_BUDGET
            cs += r["n_tokens"]


def test_bins_respect_budget_except_oversized_docs(spark):
    """A bin only exceeds the budget when a SINGLE document does (the
    greedy streaming rule: a doc is never split)."""
    rows = cdc_training_shards(spark, SF_SMOKE).collect()
    bins: dict[tuple, list[int]] = {}
    for r in rows:
        bins.setdefault((r["shard"], r["bin"]), []).append(r["n_tokens"])
    assert len(bins) > N_SHARDS, "packing produced no multi-bin shards"
    for (shard, b), toks in bins.items():
        if sum(toks) > SHARD_PACK_BUDGET + max(toks):
            raise AssertionError(
                f"shard {shard} bin {b} overfilled beyond one doc"
            )


def test_stream_equals_batch_across_restart(spark, tmp_path):
    """Envelopes delivered as 3 micro-batch files, stream killed after
    the first and restarted on the same checkpoint — the final
    committed shard snapshot equals the one-shot batch query; the
    mid-stream snapshot differs (deletes arrive last)."""
    import glob

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
    rows = wire.orderBy("__pos_sort").drop("__pos_sort").collect()
    cut1, cut2 = len(rows) // 3, 2 * len(rows) // 3
    slices = [rows[:cut1], rows[cut1:cut2], rows[cut2:]]

    def stage_file(i):
        tmp = str(tmp_path / f"tmp{i}")
        spark.createDataFrame(
            slices[i], "key STRING, value STRING"
        ).coalesce(1).write.mode("overwrite").parquet(tmp)
        src = glob.glob(os.path.join(tmp, "*.parquet"))[0]
        os.rename(src, os.path.join(stage, f"b{i}.parquet"))

    stage_file(0)
    q = start_training_shards_stream(
        spark, stage, state_dir, out_dir, ckpt
    )
    q.awaitTermination(300)
    mid = sorted(
        tuple(r) for r in read_latest(spark, out_dir).collect()
    )
    assert mid, "prefix snapshot is empty"

    stage_file(1)
    stage_file(2)
    q2 = start_training_shards_stream(
        spark, stage, state_dir, out_dir, ckpt
    )
    q2.awaitTermination(300)

    batch = sorted(
        tuple(r) for r in cdc_training_shards(spark, SF_SMOKE).collect()
    )
    streamed = sorted(
        tuple(r) for r in read_latest(spark, out_dir).collect()
    )
    assert streamed == batch
    assert mid != batch  # the prefix saw a pre-delete world


def test_epoch_replay_is_idempotent(spark, tmp_path):
    docs = table(spark, SF_SMOKE, "documents").limit(80)
    wire = documents_envelopes(documents_change_log(docs))
    state_dir = str(tmp_path / "state")
    out_dir = str(tmp_path / "out")
    os.makedirs(state_dir)
    os.makedirs(out_dir)
    handle = training_shards_foreach_batch(state_dir, out_dir, n_buckets=4)
    handle(wire, 0)
    first = sorted(
        tuple(r) for r in read_latest(spark, out_dir).collect()
    )
    handle(wire, 0)  # replay
    again = sorted(
        tuple(r) for r in read_latest(spark, out_dir).collect()
    )
    assert first == again and first

# --- round 13: metrics-cached incremental refresh (r12 verdict #6) ---------


def _op_slices(spark, docs):
    """The synthetic change log as three op-phased wire batches
    (creates, updates, deletes) — per-key position-monotone by
    construction (c:pos+1 < u:pos+2 < d:pos+3)."""
    log = documents_change_log(docs)
    return [
        documents_envelopes(log.filter(F.col("__op") == op))
        for op in ("c", "u", "d")
    ]


def _pinned_truth(spark, delivered_wires, lm_dir):
    """Ground truth after the delivered batches: fold everything, then
    the pinned-LM batch chain."""
    from debezium_incubator_spark.cdc.corpus_refresh import (
        unwrap_documents,
    )
    from debezium_incubator_spark.cdc.materialize import (
        materialize_latest,
    )
    from debezium_incubator_spark.cdc.training_shards import (
        training_shards_pinned,
    )

    wire = delivered_wires[0]
    for w in delivered_wires[1:]:
        wire = wire.unionByName(w)
    state = materialize_latest(
        unwrap_documents(wire), keys=["doc_id"], position=["__pos"]
    ).select("doc_id", "text", "source")
    pairs = spark.read.parquet(lm_dir)
    return sorted(
        tuple(r)
        for r in training_shards_pinned(spark, state, pairs).collect()
    )


def test_incremental_equals_pinned_recompute_every_epoch(spark, tmp_path):
    """Metrics-cached refresh == pinned-LM full recompute after EVERY
    epoch, and the epoch-0 snapshot equals the registered capstone
    chain (the pinned LM trains on exactly the corpus the capstone's
    self-trained LM sees at that point)."""
    from debezium_incubator_spark.cdc.training_shards import (
        training_shards,
        training_shards_incremental_foreach_batch,
    )

    docs = table(spark, SF_SMOKE, "documents").limit(120)
    slices = _op_slices(spark, docs)
    root = tmp_path / "inc"
    state_dir = str(root / "state")
    out_dir = str(root / "out")
    os.makedirs(state_dir)
    os.makedirs(out_dir)
    handle = training_shards_incremental_foreach_batch(state_dir, out_dir)
    lm_dir = str(root / "lm" / "pairs")
    for i, wire in enumerate(slices):
        handle(wire, i)
        got = sorted(
            tuple(r)
            for r in read_latest(spark, out_dir).collect()
        )
        assert got == _pinned_truth(spark, slices[: i + 1], lm_dir), (
            f"epoch {i}: incremental shards diverge from pinned "
            "full recompute"
        )
        if i == 0:
            # the pinned scorer == the capstone's self-trained scorer
            # at its training epoch, so the full original chain agrees
            from debezium_incubator_spark.cdc.materialize import (
                materialize_latest,
            )

            state0 = materialize_latest(
                unwrap_documents(slices[0]),
                keys=["doc_id"], position=["__pos"],
            ).select("doc_id", "text", "source")
            orig = sorted(
                tuple(r)
                for r in training_shards(
                    spark, dedup_keepers(state0)
                ).collect()
            )
            assert got == orig, "epoch 0 diverges from the capstone"
    assert got, "final snapshot is empty"


def test_incremental_tokenizes_only_new_texts(spark, tmp_path):
    """Per-epoch heavy work ∝ delta: an epoch whose batch changes ONE
    document computes metrics for at most its one new text — everything
    else is served from the cache."""
    from debezium_incubator_spark.cdc.training_shards import (
        training_shards_incremental_foreach_batch,
    )

    docs = table(spark, SF_SMOKE, "documents").limit(120)
    root = tmp_path / "inc"
    state_dir = str(root / "state")
    out_dir = str(root / "out")
    os.makedirs(state_dir)
    os.makedirs(out_dir)
    handle = training_shards_incremental_foreach_batch(state_dir, out_dir)
    log = documents_change_log(docs)
    handle(documents_envelopes(log.filter(F.col("__op") == "c")), 0)
    m0 = spark.read.parquet(str(root / "metrics" / "epoch=0")).count()
    assert m0 > 10
    one = documents_envelopes(
        log.filter((F.col("__op") == "u") & (F.col("doc_id") == 3))
    )
    handle(one, 1)
    m1 = spark.read.parquet(str(root / "metrics" / "epoch=1")).count()
    assert m1 <= 1, (
        f"single-doc epoch computed metrics for {m1} texts — the cache "
        "is not scoping the heavy work to the delta"
    )


def test_incremental_replay_keeps_metrics_and_snapshot(spark, tmp_path):
    """Replaying a committed epoch is a no-op: the epoch's metrics dir
    is re-derived against epochs < e (NOT the whole tier — deriving
    against its own committed rows would overwrite the dir empty and
    lose the metrics) and the snapshot is unchanged."""
    from debezium_incubator_spark.cdc.training_shards import (
        training_shards_incremental_foreach_batch,
    )

    docs = table(spark, SF_SMOKE, "documents").limit(80)
    root = tmp_path / "inc"
    state_dir = str(root / "state")
    out_dir = str(root / "out")
    os.makedirs(state_dir)
    os.makedirs(out_dir)
    handle = training_shards_incremental_foreach_batch(state_dir, out_dir)
    slices = _op_slices(spark, docs)
    handle(slices[0], 0)
    handle(slices[1], 1)
    first = sorted(
        tuple(r) for r in read_latest(spark, out_dir).collect()
    )
    m1_first = sorted(
        tuple(r)
        for r in spark.read.parquet(
            str(root / "metrics" / "epoch=1")
        ).collect()
    )
    handle(slices[1], 1)  # replay
    again = sorted(
        tuple(r) for r in read_latest(spark, out_dir).collect()
    )
    m1_again = sorted(
        tuple(r)
        for r in spark.read.parquet(
            str(root / "metrics" / "epoch=1")
        ).collect()
    )
    assert again == first and first
    assert m1_again == m1_first


def test_incremental_stream_restart_converges(spark, tmp_path):
    """The streaming form across a kill/restart converges to the pinned
    batch result."""
    import glob

    from debezium_incubator_spark.cdc.training_shards import (
        start_training_shards_incremental_stream,
    )

    docs = table(spark, SF_SMOKE, "documents").limit(100)
    slices = _op_slices(spark, docs)
    rows = [
        [tuple(r) for r in s.collect()] for s in slices
    ]
    root = tmp_path / "inc"
    stage = str(root / "stage")
    state_dir = str(root / "state")
    out_dir = str(root / "out")
    ckpt = str(root / "ckpt")
    os.makedirs(stage)

    def stage_file(i):
        tmp = str(root / f"tmp{i}")
        spark.createDataFrame(
            rows[i], "key STRING, value STRING"
        ).coalesce(1).write.mode("overwrite").parquet(tmp)
        src = glob.glob(os.path.join(tmp, "*.parquet"))[0]
        os.rename(src, os.path.join(stage, f"b{i}.parquet"))

    stage_file(0)
    q = start_training_shards_incremental_stream(
        spark, stage, state_dir, out_dir, ckpt
    )
    q.awaitTermination(300)
    mid = sorted(
        tuple(r) for r in read_latest(spark, out_dir).collect()
    )
    assert mid
    stage_file(1)
    stage_file(2)
    q2 = start_training_shards_incremental_stream(
        spark, stage, state_dir, out_dir, ckpt
    )
    q2.awaitTermination(300)
    final = sorted(
        tuple(r) for r in read_latest(spark, out_dir).collect()
    )
    assert final == _pinned_truth(
        spark, slices, str(root / "lm" / "pairs")
    )
    assert mid != final

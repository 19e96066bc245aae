"""CDC→ANN capstone: fold semantics reach the index (deletes leave,
re-embeds re-route, placeholder dups collapse), streamed == batch
across a restart, replay idempotence. Hash parity vs the all-SQL
oracle is covered by the oracle sweep."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from debezium_incubator_spark.catalog import table
from debezium_incubator_spark.cdc.ann_refresh import (
    ANN_TAU,
    ann_refresh_foreach_batch,
    ann_refresh_incremental_foreach_batch,
    cdc_ann_refresh,
    embeddings_change_log,
    embeddings_envelopes,
    read_incremental_index,
    route_to_cells,
    semdedup_survivors,
    start_ann_refresh_incremental_stream,
    start_ann_refresh_stream,
    unwrap_embeddings,
)
from debezium_incubator_spark.cdc.materialize import materialize_latest
from debezium_incubator_spark.llm.similarity import (
    IVF_AUDIT_DIR,
    _ensure_ivf_index,
)
from debezium_incubator_spark.streaming.commit import read_latest

from .conftest import SF_SMOKE


def _emb(spark):
    return table(spark, SF_SMOKE, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )


def _folded_state(spark):
    emb = _emb(spark)
    wire = embeddings_envelopes(embeddings_change_log(emb))
    flat = unwrap_embeddings(wire)
    return emb, materialize_latest(
        flat, keys=["vec_id"], position=["__pos"]
    ).select("vec_id", "v")


def test_fold_semantics_delete_update_draft(spark):
    """Deleted vectors LEAVE the state, updated ones carry the REAL
    embedding, never-updated ones keep their negated/placeholder
    draft — and the JSON wire round-trip is bit-exact for doubles."""
    emb, state = _folded_state(spark)
    fixture = {r["vec_id"]: list(r["v"]) for r in emb.collect()}
    got = {r["vec_id"]: list(r["v"]) for r in state.collect()}
    assert got, "folded state is empty"
    for vid, v in got.items():
        assert vid % 7 != 0, f"deleted vec {vid} still in state"
        if vid % 3 == 0:
            assert v == fixture[vid], f"update not applied to {vid}"
        elif vid % 5 == 0:
            assert v == [1.0] * 64
        else:
            assert v == [-x for x in fixture[vid]], f"draft lost on {vid}"
    assert set(got) == {v for v in fixture if v % 7 != 0}


def test_update_reroutes_to_real_cell(spark):
    """The re-embed path is observable in the INDEX: an updated vector
    must sit in the cell of its REAL embedding, and at least one
    never-updated draft must sit in a different cell than its real
    vector would (the negation moves it) — otherwise routing wouldn't
    distinguish draft from real and the update path would be
    decorative."""
    _ensure_ivf_index(spark, SF_SMOKE)
    emb, state = _folded_state(spark)
    cents = spark.read.parquet(f"{IVF_AUDIT_DIR}/centroids")
    folded = {
        r["vec_id"]: r["cell"]
        for r in route_to_cells(state, cents).collect()
    }
    real = {
        r["vec_id"]: r["cell"]
        for r in route_to_cells(emb, cents).collect()
    }
    updated = [v for v in folded if v % 3 == 0 and v % 5 != 0]
    assert updated and all(folded[v] == real[v] for v in updated)
    drafts = [v for v in folded if v % 3 != 0 and v % 5 != 0]
    moved = [v for v in drafts if folded[v] != real[v]]
    assert moved, "no draft re-routed — negation isn't load-bearing"


def test_placeholder_dups_collapse_to_min_keeper(spark):
    _ensure_ivf_index(spark, SF_SMOKE)
    _, state = _folded_state(spark)
    cents = spark.read.parquet(f"{IVF_AUDIT_DIR}/centroids")
    assigned = route_to_cells(state, cents)
    survivors = {
        r["vec_id"] for r in semdedup_survivors(assigned, ANN_TAU).collect()
    }
    ph = sorted(
        v for v in {r["vec_id"] for r in state.collect()}
        if v % 5 == 0 and v % 3 != 0
    )
    assert len(ph) > 1, "fixture must plant multiple placeholders"
    assert min(ph) in survivors
    assert not (set(ph) - {min(ph)}) & survivors


def test_stream_equals_batch_across_restart(spark, tmp_path):
    """Envelopes delivered as 3 micro-batch files, stream killed after
    the first and restarted on the same checkpoint — the final
    committed index snapshot must equal the one-shot batch query, and
    the mid-stream snapshot must differ (deletes arrive last)."""
    import glob

    idx = _ensure_ivf_index(spark, SF_SMOKE)
    emb = _emb(spark)
    wire = embeddings_envelopes(embeddings_change_log(emb)).withColumn(
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

    cents_dir = os.path.join(idx, "centroids")
    stage_file(0)
    q = start_ann_refresh_stream(
        spark, stage, cents_dir, state_dir, out_dir, ckpt
    )
    q.awaitTermination(300)
    mid = {
        (r["vec_id"], r["cell"])
        for r in read_latest(spark, out_dir).collect()
    }
    assert mid, "prefix index is empty"

    stage_file(1)
    stage_file(2)
    q2 = start_ann_refresh_stream(
        spark, stage, cents_dir, state_dir, out_dir, ckpt
    )
    q2.awaitTermination(300)

    batch = {
        (r["vec_id"], r["cell"])
        for r in cdc_ann_refresh(spark, SF_SMOKE).collect()
    }
    streamed = {
        (r["vec_id"], r["cell"])
        for r in read_latest(spark, out_dir)
        .select("vec_id", "cell").collect()
    }
    assert streamed == batch
    assert mid != batch  # the prefix saw a pre-delete world


def _staged_slices(spark, tmp_path, stage, n_slices=3):
    """Envelope wire rows in position order, cut into n staged parquet
    files under ``stage``; returns the list of row-slices."""
    import glob

    emb = _emb(spark)
    wire = embeddings_envelopes(embeddings_change_log(emb)).withColumn(
        "__pos_sort",
        F.get_json_object("value", "$.source.pos").cast("long"),
    )
    os.makedirs(stage, exist_ok=True)
    rows = wire.orderBy("__pos_sort").drop("__pos_sort").collect()
    cuts = [len(rows) * i // n_slices for i in range(n_slices + 1)]
    slices = [rows[cuts[i]:cuts[i + 1]] for i in range(n_slices)]
    for i, sl in enumerate(slices):
        tmp = str(tmp_path / f"tmp_inc{i}")
        spark.createDataFrame(
            sl, "key STRING, value STRING"
        ).coalesce(1).write.mode("overwrite").parquet(tmp)
        src = glob.glob(os.path.join(tmp, "*.parquet"))[0]
        os.rename(src, os.path.join(stage, f"b{i}.parquet"))
    return slices


def _full_recompute(spark, slices, upto, cents):
    """Ground truth after slices[0..upto]: fold everything delivered so
    far, route, dedup — the corpus-global snapshot semantics."""
    delivered = [r for sl in slices[: upto + 1] for r in sl]
    wire = spark.createDataFrame(delivered, "key STRING, value STRING")
    state = materialize_latest(
        unwrap_embeddings(wire), keys=["vec_id"], position=["__pos"]
    ).select("vec_id", "v")
    surv = semdedup_survivors(route_to_cells(state, cents), ANN_TAU)
    return {(r["vec_id"], r["cell"]) for r in surv.collect()}


def test_incremental_equals_full_recompute_every_epoch(spark, tmp_path):
    """Cell-scoped refresh == corpus-global full recompute after EVERY
    epoch (not just the last): deletes un-remove, re-embeds re-route,
    and untouched cells carried forward must still be correct."""
    idx = _ensure_ivf_index(spark, SF_SMOKE)
    cents_dir = os.path.join(idx, "centroids")
    cents = spark.read.parquet(cents_dir)
    stage = str(tmp_path / "stage")
    slices = _staged_slices(spark, tmp_path, stage)
    index_dir = str(tmp_path / "inc")
    handle = ann_refresh_incremental_foreach_batch(cents_dir, index_dir)
    for i, sl in enumerate(slices):
        handle(spark.createDataFrame(sl, "key STRING, value STRING"), i)
        got = {
            (r["vec_id"], r["cell"])
            for r in read_incremental_index(spark, index_dir).collect()
        }
        assert got == _full_recompute(spark, slices, i, cents), (
            f"epoch {i}: incremental survivors diverge from full "
            "recompute"
        )


def test_incremental_touches_only_affected_cells(spark, tmp_path):
    """Per-epoch write cost ∝ touched cells: an epoch whose batch
    routes into a strict subset of cells must rewrite ONLY those cell
    directories in the members/survivors tiers."""
    idx = _ensure_ivf_index(spark, SF_SMOKE)
    cents_dir = os.path.join(idx, "centroids")
    index_dir = str(tmp_path / "inc")
    handle = ann_refresh_incremental_foreach_batch(cents_dir, index_dir)
    emb = _emb(spark)
    wire_all = embeddings_envelopes(embeddings_change_log(emb))
    handle(wire_all, 0)  # epoch 0: bulk load, many cells
    # epoch 1: a single-vector update — touches at most 2 cells (the
    # old one and the new one)
    one = embeddings_envelopes(
        embeddings_change_log(emb.filter(F.col("vec_id") == 1))
    )
    handle(one, 1)
    import json

    with open(os.path.join(index_dir, "touched_v1.json")) as f:
        touched1 = json.load(f)
    with open(os.path.join(index_dir, "touched_v0.json")) as f:
        touched0 = json.load(f)
    assert len(touched1) <= 2 < len(touched0)
    for tier in ("members", "survivors"):
        vdir = os.path.join(index_dir, tier, "v1")
        written = {
            int(d.split("=", 1)[1])
            for d in os.listdir(vdir) if d.startswith("cell=")
        }
        assert written == set(touched1), (
            f"{tier} epoch 1 rewrote cells beyond the touched set"
        )


def test_incremental_converges_under_random_histories(spark, tmp_path):
    """Seeded randomized differential: arbitrary insert/re-embed/delete
    histories (including delete-then-reinsert and repeated re-routes of
    one key) cut into arbitrary micro-batches — after every epoch the
    cell-scoped incremental survivors equal the corpus-global full
    recompute over everything delivered so far."""
    import random

    idx = _ensure_ivf_index(spark, SF_SMOKE)
    cents_dir = os.path.join(idx, "centroids")
    cents = spark.read.parquet(cents_dir)
    base = {
        r["vec_id"]: list(r["v"])
        for r in _emb(spark).filter(F.col("vec_id") < 40).collect()
    }
    ids = sorted(base)
    for seed in range(3):
        rng = random.Random(900 + seed)
        rows, pos = [], 0
        live: set[int] = set()
        for _ in range(60):
            vid = rng.choice(ids)
            pos += 1
            if vid in live and rng.random() < 0.3:
                rows.append((vid, None, "d", pos))
                live.discard(vid)
            else:
                # fresh direction each write: scale + optional negate
                # of the fixture vector re-routes the key
                s = rng.choice([1.0, -1.0]) * (1.0 + rng.random())
                rows.append(
                    (vid, [x * s for x in base[vid]], "u" if vid in live
                     else "c", pos)
                )
                live.add(vid)
        log = spark.createDataFrame(
            rows,
            "vec_id LONG, v ARRAY<DOUBLE>, __op STRING, __pos LONG",
        )
        wire_rows = embeddings_envelopes(log).collect()
        cuts = sorted(rng.sample(range(1, len(wire_rows)), 2))
        slices = [
            wire_rows[a:b]
            for a, b in zip([0] + cuts, cuts + [len(wire_rows)])
        ]
        index_dir = str(tmp_path / f"rand{seed}")
        handle = ann_refresh_incremental_foreach_batch(
            cents_dir, index_dir, n_buckets=4
        )
        delivered: list = []
        for ep, sl in enumerate(slices):
            delivered += sl
            handle(
                spark.createDataFrame(sl, "key STRING, value STRING"),
                ep,
            )
            got = {
                (r["vec_id"], r["cell"])
                for r in read_incremental_index(
                    spark, index_dir
                ).collect()
            }
            state = materialize_latest(
                unwrap_embeddings(
                    spark.createDataFrame(
                        delivered, "key STRING, value STRING"
                    )
                ),
                keys=["vec_id"], position=["__pos"],
            ).select("vec_id", "v")
            want = {
                (r["vec_id"], r["cell"])
                for r in semdedup_survivors(
                    route_to_cells(state, cents), ANN_TAU
                ).collect()
            }
            assert got == want, f"seed {seed} epoch {ep}"


def test_incremental_replay_and_restart(spark, tmp_path):
    """Replaying a committed epoch is a no-op (same touched file, same
    manifests, same survivors), and a checkpointed stream restart over
    the remaining staged files converges to the batch result."""
    idx = _ensure_ivf_index(spark, SF_SMOKE)
    cents_dir = os.path.join(idx, "centroids")
    cents = spark.read.parquet(cents_dir)
    stage = str(tmp_path / "stage")
    slices = _staged_slices(spark, tmp_path, stage)
    index_dir = str(tmp_path / "inc")
    ckpt = str(tmp_path / "ckpt")
    # drain with the real stream (file-per-trigger)
    q = start_ann_refresh_incremental_stream(
        spark, stage, cents_dir, index_dir, ckpt
    )
    q.awaitTermination(300)
    final = {
        (r["vec_id"], r["cell"])
        for r in read_incremental_index(spark, index_dir).collect()
    }
    assert final == _full_recompute(spark, slices, len(slices) - 1, cents)
    # replay the LAST epoch's batch by hand against the committed state
    handle = ann_refresh_incremental_foreach_batch(cents_dir, index_dir)
    handle(
        spark.createDataFrame(slices[-1], "key STRING, value STRING"),
        len(slices) - 1,
    )
    again = {
        (r["vec_id"], r["cell"])
        for r in read_incremental_index(spark, index_dir).collect()
    }
    assert again == final
    # restart on the same checkpoint with no new files: stream is a
    # no-op and the snapshot is unchanged
    q2 = start_ann_refresh_incremental_stream(
        spark, stage, cents_dir, index_dir, ckpt
    )
    q2.awaitTermination(300)
    assert {
        (r["vec_id"], r["cell"])
        for r in read_incremental_index(spark, index_dir).collect()
    } == final


def test_epoch_replay_is_idempotent(spark, tmp_path):
    idx = _ensure_ivf_index(spark, SF_SMOKE)
    emb = _emb(spark).limit(60)
    wire = embeddings_envelopes(embeddings_change_log(emb))
    state_dir = str(tmp_path / "state")
    out_dir = str(tmp_path / "out")
    os.makedirs(state_dir)
    os.makedirs(out_dir)
    handle = ann_refresh_foreach_batch(
        os.path.join(idx, "centroids"), state_dir, out_dir, n_buckets=4
    )
    handle(wire, 0)
    first = sorted(
        (r["vec_id"], r["cell"])
        for r in read_latest(spark, out_dir).collect()
    )
    handle(wire, 0)  # replay
    again = sorted(
        (r["vec_id"], r["cell"])
        for r in read_latest(spark, out_dir).collect()
    )
    assert first == again and first

def test_lookup_bucketing_derived_persisted_and_pinned(
    spark, tmp_path, monkeypatch
):
    """Round-13 hardening (r12 verdict #4 + ADVICE): with no caller
    n_buckets, the lookup tier's bucketing derives from the FIRST
    batch's net key count (n_buckets ∝ n — fixed 8 buckets measured
    the lookup fold O(state) in the round-12 probe), persists in
    lookup_meta.json, later handler instances reuse it, and an
    explicit n_buckets that disagrees with the persisted value RAISES
    (silent re-bucketing would read the wrong buckets and leave stale
    members with no error)."""
    import json

    import pytest

    import debezium_incubator_spark.cdc.ann_refresh as ar

    monkeypatch.setattr(ar, "LOOKUP_BUCKET_TARGET", 10)
    idx = _ensure_ivf_index(spark, SF_SMOKE)
    cents_dir = os.path.join(idx, "centroids")
    cents = spark.read.parquet(cents_dir)
    index_dir = str(tmp_path / "inc")
    emb = _emb(spark)
    log = embeddings_change_log(emb)
    handle = ann_refresh_incremental_foreach_batch(cents_dir, index_dir)
    handle(embeddings_envelopes(log.filter(F.col("__op") == "c")), 0)
    n = emb.count()
    with open(os.path.join(index_dir, "lookup_meta.json")) as fh:
        nb = json.load(fh)["n_buckets"]
    assert nb == max(8, -(-n // 10)) > 8, (
        "derived bucketing must scale with the bulk-load key count"
    )
    # a disagreeing explicit n_buckets must refuse before touching state
    bad = ann_refresh_incremental_foreach_batch(
        cents_dir, index_dir, n_buckets=nb + 1
    )
    upd = embeddings_envelopes(log.filter(F.col("__op") == "u"))
    with pytest.raises(ValueError, match="re-bucketing"):
        bad(upd, 1)
    # a fresh default handler reuses the persisted bucketing and the
    # final state still equals the full recompute
    handle2 = ann_refresh_incremental_foreach_batch(cents_dir, index_dir)
    handle2(upd, 1)
    handle2(embeddings_envelopes(log.filter(F.col("__op") == "d")), 2)
    got = {
        (r["vec_id"], r["cell"])
        for r in read_incremental_index(spark, index_dir).collect()
    }
    want = {
        (r["vec_id"], r["cell"])
        for r in cdc_ann_refresh(spark, SF_SMOKE).collect()
    }
    assert got == want


def test_stale_touched_set_refused(spark, tmp_path):
    """Round-13 lineage guard (r12 ADVICE, medium): a persisted
    touched_v{epoch}.json that is NOT a superset of the batch's
    recomputed cells belongs to a DIFFERENT history (the fresh-
    checkpoint-over-existing-index misuse: epochs restart at 0 under a
    stale file) — the handler must refuse, not silently write cells
    the manifest loop would then drop."""
    import json

    import pytest

    from debezium_incubator_spark.streaming.commit import atomic_write

    idx = _ensure_ivf_index(spark, SF_SMOKE)
    cents_dir = os.path.join(idx, "centroids")
    index_dir = str(tmp_path / "inc")
    emb = _emb(spark)
    log = embeddings_change_log(emb)
    handle = ann_refresh_incremental_foreach_batch(cents_dir, index_dir)
    handle(embeddings_envelopes(log.filter(F.col("__op") == "c")), 0)
    # forge a stale epoch-1 touched set that misses every real cell
    atomic_write(
        os.path.join(index_dir, "touched_v1.json"), json.dumps([99999])
    )
    with pytest.raises(ValueError, match="not a replay"):
        handle(embeddings_envelopes(log.filter(F.col("__op") == "u")), 1)

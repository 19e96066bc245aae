"""Vocab-refresh-on-ingest (r10 verdict #7): periodic BPE retrain →
atomic _LATEST swap → corpus-wide re-tokenize, restart-idempotent;
streamed final state == one-shot batch training."""

from __future__ import annotations

import glob
import os

from debezium_incubator_spark.catalog import table
from debezium_incubator_spark.llm.bpe import bpe_token_count
from debezium_incubator_spark.llm.bpe_train import (
    start_vocab_refresh_stream,
    train_bpe_merges,
    vocab_refresh_foreach_batch,
)
from debezium_incubator_spark.streaming.commit import read_latest

from .conftest import SF_SMOKE

SCHEMA = "doc_id LONG, text STRING, source STRING"
K = 4  # retrain depth per refresh — small: the trainer runs per batch


def _slices(spark, n_docs=90, parts=3):
    docs = (
        table(spark, SF_SMOKE, "documents")
        .select("doc_id", "text", "source")
        .orderBy("doc_id")
        .limit(n_docs)
    )
    rows = docs.collect()
    cut = len(rows) // parts
    return docs, [rows[i * cut:(i + 1) * cut] for i in range(parts)]


def _stage_file(spark, tmp_path, stage, rows, i):
    tmp = str(tmp_path / f"tmp{i}")
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(tmp)
    src = glob.glob(os.path.join(tmp, "*.parquet"))[0]
    os.rename(src, os.path.join(stage, f"b{i}.parquet"))


def test_stream_equals_batch_across_restart(spark, tmp_path):
    docs, slices = _slices(spark)
    stage = str(tmp_path / "stage")
    corpus_dir = str(tmp_path / "corpus")
    vocab_dir = str(tmp_path / "vocab")
    tokens_dir = str(tmp_path / "tokens")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(stage)

    _stage_file(spark, tmp_path, stage, slices[0], 0)
    q = start_vocab_refresh_stream(
        spark, stage, SCHEMA, corpus_dir, vocab_dir, tokens_dir, ckpt,
        n_merges=K,
    )
    q.awaitTermination(300)
    mid_tokens = {
        r["doc_id"] for r in read_latest(spark, tokens_dir).collect()
    }
    assert mid_tokens == {r["doc_id"] for r in slices[0]}

    # deliver the rest, restart on the same checkpoint
    _stage_file(spark, tmp_path, stage, slices[1], 1)
    _stage_file(spark, tmp_path, stage, slices[2], 2)
    q2 = start_vocab_refresh_stream(
        spark, stage, SCHEMA, corpus_dir, vocab_dir, tokens_dir, ckpt,
        n_merges=K,
    )
    q2.awaitTermination(300)

    # final vocab == one-shot training on the full corpus
    want_merges = train_bpe_merges(docs, K)
    got_vocab = sorted(
        (r["mrank"], r["a"], r["b"])
        for r in read_latest(spark, vocab_dir).collect()
    )
    assert got_vocab == [
        (i + 1, a, b) for i, (a, b) in enumerate(want_merges)
    ]

    # final tokens == one-shot tokenize under that vocab
    want_tokens = {
        (r["doc_id"], r["n_bpe"])
        for r in docs.select(
            "doc_id", bpe_token_count("text", want_merges).alias("n_bpe")
        ).collect()
    }
    got_tokens = {
        (r["doc_id"], r["n_bpe"])
        for r in read_latest(spark, tokens_dir).collect()
    }
    assert got_tokens == want_tokens

    # every batch committed a vocab epoch; _LATEST points at the last
    epochs = sorted(
        d for d in os.listdir(vocab_dir) if d.startswith("epoch=")
    )
    assert len(epochs) == 3
    with open(os.path.join(vocab_dir, "_LATEST")) as f:
        assert f.read().strip() == "epoch=2"


def test_epoch_replay_is_idempotent(spark, tmp_path):
    docs, slices = _slices(spark, n_docs=40, parts=2)
    corpus_dir = str(tmp_path / "corpus")
    vocab_dir = str(tmp_path / "vocab")
    tokens_dir = str(tmp_path / "tokens")
    handle = vocab_refresh_foreach_batch(
        corpus_dir, vocab_dir, tokens_dir, n_merges=K
    )
    batch = spark.createDataFrame(slices[0], SCHEMA)
    handle(batch, 0)
    first_v = sorted(tuple(r) for r in read_latest(spark, vocab_dir).collect())
    first_t = sorted(tuple(r) for r in read_latest(spark, tokens_dir).collect())
    handle(batch, 0)  # replay: crash after commit, before ckpt advance
    assert first_v == sorted(
        tuple(r) for r in read_latest(spark, vocab_dir).collect()
    )
    assert first_t == sorted(
        tuple(r) for r in read_latest(spark, tokens_dir).collect()
    )
    assert first_v and first_t

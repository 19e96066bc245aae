"""CDC→training-shards — the GRAND capstone (r11 verdict #4): the
project's thesis statement in one registered differential. Debezium-
shaped change events in, ready-to-load training shards out:

  change log → JSON envelope wire round-trip → latest-state fold →
  exact dedup → curation v3 (LM perplexity gate → WordPiece → UNK gate
  → per-source piece budget) → unigram-LM Viterbi tokenization with the
  TRAINED vocab → deterministic epoch shuffle + shard assignment →
  token-budget sequence packing.

Every stage is individually oracled elsewhere (cdc_corpus_refresh, t54,
t59, t24, t11); THIS differential proves they compose: the one SQL
oracle re-derives all eight stages from the raw ``documents`` table —
the heaviest oracle composition in the registry (the CDC fold CTEs +
the v3 chain's bigram-LM CTEs + WordPiece recursive scan + unigram
recursive Viterbi + the shard/pack windows, in ONE ``WITH RECURSIVE``).

Stage spellings (all reused, none re-implemented):

- fold/dedup: :mod:`.corpus_refresh` (``documents_change_log`` /
  ``documents_envelopes`` / ``unwrap_documents`` / ``dedup_keepers``;
  oracle ``_LOG_CTES``) — deletes leave the corpus, updates re-curate,
  planted placeholder dups collapse;
- selection: :func:`..llm.pipeline_v2.curate_docs_v3` (oracle
  ``v3_kept_cte``) — survivors only are tokenized;
- tokenization: :func:`..llm.unigram.unigram_tokenize` (oracle
  ``oracle_unigram_cte`` — u-prefixed CTEs compose with the WordPiece
  builder's w0/fin, the t60 precedent); shard token counts are REAL
  trained-vocab piece counts, not whitespace proxies;
- shuffle/shard: the t24 rule — ord_key = md5(seed || doc_id)
  (engine-portable bytes), shard = first hex char's ascii mod
  N_SHARDS, position = row_number per shard over (ord_key, doc_id);
- packing: the t11 rule per SHARD in shuffled order — bin = exclusive
  running token count DIV PACK budget (integer arithmetic end to end;
  a doc starts a new bin when the budget is crossed).

Scale posture (100 TB): parse/unwrap expression-only; fold = one
window by key (streaming twin: partitioned-state apply, touched
buckets only); dedup = one window by text; v3 = the probed t54
pipeline over survivors; tokenization folds per DISTINCT word against
a broadcast vocab row (dictionary-bounded — the t52/t59 production
shape); shuffle/shard/pack = one window per shard partition, which is
exactly how the loader consumes the output. No collects, no
crossJoins, no all-pairs anywhere.

Streaming (:func:`start_training_shards_stream`): per micro-batch the
envelopes merge into the bucket-partitioned state tier, then the shard
snapshot is RECOMPUTED from current state — refresh semantics (the v3
budget, the LM, and the packing bins are all corpus-global) — and
committed under ``out_dir/epoch=<id>`` with an atomic ``_LATEST``
pointer; restart == one-shot batch, test-pinned.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..catalog import table
from ..lineage import cut
from ..registry import register
from ..llm.pipeline_v2 import curate_docs_v3, v3_kept_cte_filled
from ..llm.unigram import oracle_unigram_cte, unigram_tokenize
from .corpus_refresh import (
    _LOG_CTES,
    dedup_keepers,
    documents_change_log,
    documents_envelopes,
    unwrap_documents,
)
from .materialize import materialize_latest

#: number of training shards (the t24 convention).
N_SHARDS = 4
#: per-bin token budget, denominated in unigram pieces.
SHARD_PACK_BUDGET = 2048
#: epoch seed for the deterministic shuffle — change to re-shuffle.
SHARD_SEED = "shards:"


def training_shards(spark: SparkSession, corpus: DataFrame) -> DataFrame:
    """Selection → tokenization → shuffle/shard → packing over ANY
    (doc_id, text, source) corpus frame (module docstring). Output:
    one row per selected document —
    (doc_id, source, shard, pos, n_tokens, bin), ordered by
    (shard, pos)."""
    # round-13 second pass: surv is consumed twice (the tokenizer chain
    # and the shard-key chain), and each consumer re-executed the whole
    # post-s1 v3 selection (WordPiece fold + gates + budget window)
    # above it.  The kept set is tiny (≤ the per-source budget); a lazy
    # localCheckpoint folds the v3 chain to one execution per run.
    kept = curate_docs_v3(spark, corpus).select("doc_id").localCheckpoint(
        eager=False
    )
    surv = corpus.join(kept, "doc_id")
    tok = unigram_tokenize(spark, surv.select("doc_id", "text")).select(
        "doc_id", F.col("n_pieces").cast("bigint").alias("n_tokens")
    )
    keyed = (
        surv.select("doc_id", "source")
        .join(tok, "doc_id")
        .withColumn(
            "ord_key",
            F.md5(F.concat(F.lit(SHARD_SEED),
                           F.col("doc_id").cast("string"))),
        )
        .withColumn(
            "shard",
            (F.ascii(F.substring("ord_key", 1, 1)) % N_SHARDS).cast("int"),
        )
    )
    w = W.partitionBy("shard").orderBy("ord_key", "doc_id")
    wsum = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    out = (
        keyed.withColumn("pos", F.row_number().over(w).cast("long"))
        .withColumn("cs", F.sum("n_tokens").over(wsum))
        .select(
            "doc_id", "source", "shard", "pos", "n_tokens",
            F.expr(f"CAST((cs - n_tokens) DIV {SHARD_PACK_BUDGET} "
                   "AS BIGINT)").alias("bin"),
        )
    )
    # un-movable sort (the k4/HLL rule): the trailing global sort's
    # range sampler would re-run the shard window + tokenize joins; the
    # output is budget-bounded and tiny, so fold it once
    return out.localCheckpoint(eager=False).orderBy("shard", "pos")


_ORACLE = (
    "WITH RECURSIVE "
    + _LOG_CTES
    + ",\n"
    + v3_kept_cte_filled("corpus")
    + f""",
surv AS MATERIALIZED (
  SELECT c.doc_id, c.text, c.source
  FROM corpus c JOIN v3kept USING (doc_id)
),
{oracle_unigram_cte("surv")},
utok AS (
  SELECT uw0.doc_id, CAST(sum(len(f.pieces)) AS BIGINT) AS n_tokens
  FROM uw0 JOIN ufin f USING (w) GROUP BY uw0.doc_id
),
skeyed AS (
  SELECT s.doc_id, s.source, t.n_tokens,
         md5('{SHARD_SEED}' || CAST(s.doc_id AS VARCHAR)) AS ord_key
  FROM surv s JOIN utok t USING (doc_id)
),
ssharded AS (
  SELECT *, CAST(ascii(substr(ord_key, 1, 1)) % {N_SHARDS} AS INT)
    AS shard
  FROM skeyed
),
sordered AS (
  SELECT doc_id, source, shard, n_tokens,
         CAST(row_number() OVER (
           PARTITION BY shard ORDER BY ord_key, doc_id
         ) AS BIGINT) AS pos,
         SUM(n_tokens) OVER (
           PARTITION BY shard ORDER BY ord_key, doc_id
           ROWS UNBOUNDED PRECEDING) AS cs
  FROM ssharded
)
SELECT doc_id, source, shard, pos, n_tokens,
       CAST((cs - n_tokens) // {SHARD_PACK_BUDGET} AS BIGINT) AS bin
FROM sordered ORDER BY shard, pos
"""
)


@register("cdc_training_shards", oracle=_ORACLE)
def cdc_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The grand capstone, batch form (module docstring): synth change
    log → wire round-trip → fold → exact dedup → curation v3 → unigram
    tokenization → epoch shuffle/shard → token-budget packing. The
    oracle re-derives all eight stages from the raw documents table."""
    docs = table(spark, sf_dir, "documents")
    wire = documents_envelopes(documents_change_log(docs))
    state = materialize_latest(
        unwrap_documents(wire), keys=["doc_id"], position=["__pos"]
    ).select("doc_id", "text", "source")
    # round-13 (guide §4.4 duplicated evaluation / the DLQ shared_scan
    # precedent): training_shards + curate_docs_v3 consume the corpus
    # ~6× and Catalyst inlines the whole change-log→wire→fold→dedup
    # chain into every consumer (measured: 148 parquet scans / 288
    # JSON codec nodes in the before plan).  The lazy cut folds the
    # CDC state ONCE per run; rows identical.  Measured ~20 s → ~12 s
    # warm at sf0.1 (with the LM rollup fix compounding).  round-14:
    # the frame is CORPUS-SIZED → DISK_ONLY cut (lineage.py contract).
    return training_shards(
        spark, cut(dedup_keepers(state), "local_disk")
    )


# --- streaming form: continuous shard refresh -------------------------------


def training_shards_foreach_batch(
    state_dir: str, out_dir: str, n_buckets: int = 8
):
    """foreachBatch handler: merge the micro-batch of envelope wire
    records into the bucket-partitioned state, then RECOMPUTE the shard
    snapshot from current state (shards/bins/budgets are corpus-global
    → refresh semantics) and commit it under ``out_dir/epoch=<id>``
    with an atomic ``_LATEST`` pointer. Epoch replays are idempotent
    end-to-end (the corpus-refresh discipline)."""
    from ..streaming.commit import commit_pointer
    from ..streaming.partitioned_state import (
        apply_changes_partitioned,
        read_state_partitioned,
    )

    def handle(batch: DataFrame, epoch: int) -> None:
        spark = batch.sparkSession
        flat = unwrap_documents(batch)
        apply_changes_partitioned(
            spark, flat, epoch, state_dir,
            keys=["doc_id"], position=["__pos"], n_buckets=n_buckets,
        )
        state = read_state_partitioned(spark, state_dir)
        corpus = dedup_keepers(state.select("doc_id", "text", "source"))
        snap_dir = os.path.join(out_dir, f"epoch={epoch}")
        training_shards(spark, corpus).write.mode("overwrite").parquet(
            snap_dir
        )
        commit_pointer(out_dir, f"epoch={epoch}")

    return handle


# --- incremental form: metrics-cached shard refresh (r12 verdict #6) -------
#
# ``training_shards_foreach_batch`` recomputes selection + tokenization
# + shard/pack for the WHOLE corpus every epoch. The corpus-global parts
# (dedup keeper window, v3 budget window, shard/pack windows) are cheap
# arithmetic over one narrow row per document — but the per-document
# STRING work (bigram extraction + LM scoring join, the WordPiece fold,
# the unigram Viterbi fold) dominates, and it is re-done for documents
# whose text never changed. The incremental form caches every
# text-deterministic per-document metric keyed on md5(text) and
# tokenizes only texts the tier has never seen; an epoch's heavy work is
# then ∝ the delta, while the global windows are recomputed exactly over
# the cached counts.
#
# PINNED SCORER (the semantics decision that makes caching sound): the
# batch capstone trains its bigram LM on the current corpus each run, so
# every document's perplexity depends on every other document — no
# per-document cache can be exact under a per-epoch retrain (the corpus
# totals sit inside every score). CCNet's production shape is the other
# way around: the perplexity gate scores against a FIXED target-domain
# LM shipped as an artifact. The incremental pipeline adopts exactly
# that: the LM pairs table (w1, w2, q) is trained ONCE on the epoch-0
# corpus (``build_pinned_lm``) and every epoch scores against it — so at
# epoch 0 the snapshot equals the registered capstone bit-for-bit, and
# every later snapshot equals ``training_shards_pinned`` (the same chain
# under the same frozen scorer), equality-pinned in tests.
#
# Tiers under the index root:
# - state (caller dir)  — document latest-state, partitioned-state apply
# - ``lm/pairs``        — the pinned scorer artifact (+ ``_LM_READY``
#                         commit marker: crash between write and marker
#                         retrains deterministically)
# - ``metrics/epoch=e`` — APPEND-ONLY per-text metrics (text_hash,
#                         n_bigrams, nll_sum_x1e4, n_words, n_pieces,
#                         n_unk, n_tokens): content-keyed and the metric
#                         functions are deterministic, so rows are
#                         IMMUTABLE — no manifest needed; epoch dirs are
#                         overwrite-committed so replays are idempotent,
#                         and an epoch's "new texts" are derived against
#                         epochs < e ONLY (deriving against the whole
#                         tier would see the epoch's own committed rows
#                         on replay and overwrite the dir empty — the
#                         metrics would vanish).

TS_METRIC_COLS = (
    "n_bigrams", "nll_sum_x1e4", "n_words", "n_pieces", "n_unk",
    "n_tokens",
)


def build_pinned_lm(spark: SparkSession, corpus: DataFrame,
                    lm_dir: str) -> None:
    """Train the interpolated-bigram pairs table on ``corpus`` and
    persist it as ``(w1, w2, q)`` — q the fixed-point occurrence NLL
    (the :mod:`..llm.lm` quantization, computed once at train time so
    scoring is an integer join)."""
    from ..llm.lm import LAMBDA

    toks = F.split("text", " ")
    bigrams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.struct(
                F.element_at(toks, i).alias("w1"),
                F.element_at(toks, i + 1).alias("w2"),
            ),
        ),
    )
    big = corpus.select(F.explode(bigrams).alias("bg")).select(
        "bg.w1", "bg.w2"
    )
    c12 = big.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    c1 = big.groupBy("w1").agg(F.count("*").alias("c1"))
    c2 = big.groupBy("w2").agg(F.count("*").alias("c2"))
    n_total = float(big.count())  # control-plane scalar
    p = (
        F.lit(LAMBDA)
        * (F.col("c12").cast("double") / F.col("c1").cast("double"))
        + F.lit(1.0 - LAMBDA)
        * (F.col("c2").cast("double") / F.lit(n_total))
    )
    q = F.floor(-F.log(p) * 10000 + 0.5).cast("bigint")
    (
        c12.join(c1, "w1").join(c2, "w2")
        .select("w1", "w2", q.alias("q"))
        .write.mode("overwrite").parquet(lm_dir)
    )


def bigram_scores_pinned(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Per-doc LM totals under a PINNED pairs table: ``(doc_id,
    n_bigrams, nll_sum_x1e4)`` for docs with ≥1 bigram KNOWN to the
    scorer (unseen bigrams don't count — the same inner-join semantics
    as the self-trained scorer, where unseen cannot occur)."""
    toks = F.split("text", " ")
    bigrams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.struct(
                F.element_at(toks, i).alias("w1"),
                F.element_at(toks, i + 1).alias("w2"),
            ),
        ),
    )
    big = docs.select("doc_id", F.explode(bigrams).alias("bg")).select(
        "doc_id", "bg.w1", "bg.w2"
    )
    return (
        big.join(pairs, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum("q").alias("nll_sum_x1e4"),
        )
    )


def text_metrics(spark: SparkSession, texts: DataFrame,
                 pairs: DataFrame) -> DataFrame:
    """Every text-deterministic per-document metric for a
    ``(text_hash, text)`` frame (distinct hashes): LM totals under the
    pinned scorer, WordPiece counts, unigram piece count. Texts with no
    scorable bigram carry ``n_bigrams = 0`` (they fail the perplexity
    gate, matching the batch chain's inner-join drop)."""
    from ..llm.unigram import unigram_tokenize
    from ..llm.wordpiece import wordpiece_tokenize

    keyed = texts.select(F.col("text_hash").alias("doc_id"), "text")
    lm = bigram_scores_pinned(keyed, pairs)
    wp = wordpiece_tokenize(spark, keyed).select(
        "doc_id", "n_words", "n_pieces", "n_unk"
    )
    ut = unigram_tokenize(spark, keyed).select(
        "doc_id", F.col("n_pieces").cast("bigint").alias("n_tokens")
    )
    return (
        keyed.select("doc_id")
        .join(lm, "doc_id", "left")
        .join(wp, "doc_id", "left")
        .join(ut, "doc_id", "left")
        .select(
            F.col("doc_id").alias("text_hash"),
            F.coalesce("n_bigrams", F.lit(0)).cast("bigint")
            .alias("n_bigrams"),
            F.coalesce("nll_sum_x1e4", F.lit(0)).cast("bigint")
            .alias("nll_sum_x1e4"),
            F.coalesce("n_words", F.lit(0)).cast("bigint")
            .alias("n_words"),
            F.coalesce("n_pieces", F.lit(0)).cast("bigint")
            .alias("n_pieces"),
            F.coalesce("n_unk", F.lit(0)).cast("bigint").alias("n_unk"),
            F.coalesce("n_tokens", F.lit(0)).cast("bigint")
            .alias("n_tokens"),
        )
    )


def shards_from_metrics(docs: DataFrame, metrics: DataFrame) -> DataFrame:
    """The full selection + shard/pack chain as pure arithmetic over
    cached per-text metrics — ``docs`` is the live corpus as
    ``(doc_id, text_hash, source)`` (NARROW: no text bytes), ``metrics``
    the per-text-hash metric rows. Reproduces exactly: exact dedup
    (min-doc_id keeper per text), perplexity gate (non-tail under the
    pinned scorer), UNK gate, per-source piece budget, shuffle/shard,
    token-budget packing."""
    from ..llm.lm import PPL_T2_X1E4
    from ..llm.pipeline_v2 import V3_BUDGET, V3_UNK_NUM

    wk = W.partitionBy("text_hash").orderBy("doc_id")
    keepers = (
        docs.withColumn("__krn", F.row_number().over(wk))
        .filter(F.col("__krn") == 1).drop("__krn")
    )
    m = keepers.join(metrics, "text_hash")
    s1 = m.filter(
        F.col("nll_sum_x1e4") < F.lit(PPL_T2_X1E4) * F.col("n_bigrams")
    )
    s2 = s1.filter(F.col("n_unk") * V3_UNK_NUM <= F.col("n_words"))
    wb = (
        W.partitionBy("source")
        .orderBy(
            F.md5(F.concat(F.lit("v3|"), F.col("doc_id").cast("string"))),
            "doc_id",
        )
        .rowsBetween(W.unboundedPreceding, 0)
    )
    kept = (
        s2.withColumn("cum_pieces", F.sum("n_pieces").over(wb))
        .filter(F.col("cum_pieces") <= V3_BUDGET)
    )
    keyed = (
        kept.select("doc_id", "source", "n_tokens")
        .withColumn(
            "ord_key",
            F.md5(F.concat(F.lit(SHARD_SEED),
                           F.col("doc_id").cast("string"))),
        )
        .withColumn(
            "shard",
            (F.ascii(F.substring("ord_key", 1, 1)) % N_SHARDS).cast("int"),
        )
    )
    w = W.partitionBy("shard").orderBy("ord_key", "doc_id")
    wsum = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        keyed.withColumn("pos", F.row_number().over(w).cast("long"))
        .withColumn("cs", F.sum("n_tokens").over(wsum))
        .select(
            "doc_id", "source", "shard", "pos", "n_tokens",
            F.expr(f"CAST((cs - n_tokens) DIV {SHARD_PACK_BUDGET} "
                   "AS BIGINT)").alias("bin"),
        )
        .orderBy("shard", "pos")
    )


def training_shards_pinned(spark: SparkSession, corpus: DataFrame,
                           pairs: DataFrame) -> DataFrame:
    """The batch capstone under a PINNED LM (section comment): the
    ground truth the incremental handler's snapshots must equal at
    every epoch. Runs the ORIGINAL per-document chains (WordPiece fold,
    unigram Viterbi, text-window dedup) — only the perplexity scores
    come from the frozen pairs table — so equality with the
    metrics-cached spelling proves the cache changes cost, never
    answers."""
    from ..llm.lm import PPL_T2_X1E4
    from ..llm.pipeline_v2 import V3_BUDGET, V3_UNK_NUM
    from ..llm.unigram import unigram_tokenize
    from ..llm.wordpiece import wordpiece_tokenize

    corpus = dedup_keepers(corpus)
    lm = bigram_scores_pinned(corpus.select("doc_id", "text"), pairs)
    s1 = corpus.join(
        lm.filter(
            F.col("nll_sum_x1e4") < F.lit(PPL_T2_X1E4) * F.col("n_bigrams")
        ).select("doc_id"),
        "doc_id",
    )
    wp = wordpiece_tokenize(spark, s1.select("doc_id", "text"))
    s2 = wp.join(s1.select("doc_id", "source"), "doc_id").filter(
        F.col("n_unk") * V3_UNK_NUM <= F.col("n_words")
    )
    wb = (
        W.partitionBy("source")
        .orderBy(
            F.md5(F.concat(F.lit("v3|"), F.col("doc_id").cast("string"))),
            "doc_id",
        )
        .rowsBetween(W.unboundedPreceding, 0)
    )
    kept = (
        s2.withColumn("cum_pieces", F.sum("n_pieces").over(wb))
        .filter(F.col("cum_pieces") <= V3_BUDGET)
        .select("doc_id")
    )
    surv = corpus.join(kept, "doc_id")
    tok = unigram_tokenize(spark, surv.select("doc_id", "text")).select(
        "doc_id", F.col("n_pieces").cast("bigint").alias("n_tokens")
    )
    keyed = (
        surv.select("doc_id", "source")
        .join(tok, "doc_id")
        .withColumn(
            "ord_key",
            F.md5(F.concat(F.lit(SHARD_SEED),
                           F.col("doc_id").cast("string"))),
        )
        .withColumn(
            "shard",
            (F.ascii(F.substring("ord_key", 1, 1)) % N_SHARDS).cast("int"),
        )
    )
    w = W.partitionBy("shard").orderBy("ord_key", "doc_id")
    wsum = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        keyed.withColumn("pos", F.row_number().over(w).cast("long"))
        .withColumn("cs", F.sum("n_tokens").over(wsum))
        .select(
            "doc_id", "source", "shard", "pos", "n_tokens",
            F.expr(f"CAST((cs - n_tokens) DIV {SHARD_PACK_BUDGET} "
                   "AS BIGINT)").alias("bin"),
        )
        .orderBy("shard", "pos")
    )


def training_shards_incremental_foreach_batch(
    state_dir: str, out_dir: str, n_buckets: int | None = None
):
    """foreachBatch handler for the METRICS-CACHED shard refresh
    (section comment above): per micro-batch —

    1. merge the delta into the bucket-partitioned document state
       (``n_buckets`` defaults to the sidecar-pinned derived value —
       the ANN handler's round-13 rule);
    2. epoch 0 only: train + commit the pinned LM from the folded
       epoch-0 corpus;
    3. compute metrics for texts the tier has never seen (anti-join
       against epochs < e — heavy string work ∝ delta only) and commit
       them under ``metrics/epoch=e`` (overwrite → replay-idempotent);
    4. recompute the corpus-global selection/shard/pack windows over
       the cached counts and commit the snapshot under
       ``out_dir/epoch=<id>`` with an atomic ``_LATEST`` pointer.

    The committed snapshot equals :func:`training_shards_pinned` over
    the delivered corpus at every epoch (equality-pinned in tests)."""
    from ..streaming.commit import atomic_write, commit_pointer
    from ..streaming.partitioned_state import (
        apply_changes_partitioned,
        pinned_bucket_count,
        read_state_partitioned,
    )

    root = os.path.dirname(state_dir.rstrip("/"))
    lm_dir = os.path.join(root, "lm", "pairs")
    lm_marker = os.path.join(root, "lm", "_LM_READY")
    metrics_dir = os.path.join(root, "metrics")
    meta_path = os.path.join(root, "state_meta.json")
    os.makedirs(metrics_dir, exist_ok=True)

    def _metric_epoch_paths(upto: int) -> list[str]:
        if not os.path.isdir(metrics_dir):
            return []
        out = []
        for d in os.listdir(metrics_dir):
            if d.startswith("epoch="):
                e = int(d.split("=", 1)[1])
                if e < upto:
                    out.append(os.path.join(metrics_dir, d))
        return out

    def handle(batch: DataFrame, epoch: int) -> None:
        spark = batch.sparkSession
        flat = unwrap_documents(batch).withColumn(
            "text_hash", F.md5("text")
        )
        nb = pinned_bucket_count(meta_path, n_buckets, flat.count)
        apply_changes_partitioned(
            spark, flat, epoch, state_dir,
            keys=["doc_id"], position=["__pos"], n_buckets=nb,
        )
        state = read_state_partitioned(spark, state_dir)
        if not os.path.exists(lm_marker):
            # pinned scorer: trained once, on the DEDUPED epoch-0
            # corpus — exactly the corpus the batch capstone's
            # self-trained LM sees, so the epoch-0 snapshot equals the
            # registered chain bit-for-bit (a crash between write and
            # marker retrains — deterministic)
            build_pinned_lm(
                spark,
                dedup_keepers(
                    state.select("doc_id", "text", "source")
                ).select("doc_id", "text"),
                lm_dir,
            )
            atomic_write(lm_marker, "ready")
        pairs = spark.read.parquet(lm_dir)
        # texts the metrics tier (epochs < e) has never seen — replays
        # must NOT derive against the epoch's own committed rows, or
        # the overwrite would empty the dir and lose them
        fresh = flat.filter(F.col("__op") != "d").select(
            "text_hash", "text"
        ).dropDuplicates(["text_hash"])
        prior_paths = _metric_epoch_paths(epoch)
        if prior_paths:
            seen = spark.read.parquet(*prior_paths).select("text_hash")
            fresh = fresh.join(seen, "text_hash", "left_anti")
        text_metrics(spark, fresh, pairs).write.mode(
            "overwrite"
        ).parquet(os.path.join(metrics_dir, f"epoch={epoch}"))
        metrics = spark.read.parquet(
            *(prior_paths + [os.path.join(metrics_dir, f"epoch={epoch}")])
        ).dropDuplicates(["text_hash"])
        snap = shards_from_metrics(
            state.select("doc_id", "text_hash", "source"), metrics
        )
        snap_dir = os.path.join(out_dir, f"epoch={epoch}")
        snap.write.mode("overwrite").parquet(snap_dir)
        commit_pointer(out_dir, f"epoch={epoch}")

    return handle


def start_training_shards_incremental_stream(
    spark: SparkSession,
    stage_dir: str,
    state_dir: str,
    out_dir: str,
    checkpoint: str,
    n_buckets: int | None = None,
):
    """The metrics-cached refresh as a real Structured Streaming query
    over a PARQUET file source of (key, value) JSON envelope STRINGS,
    availableNow."""
    os.makedirs(state_dir, exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    stream = (
        spark.readStream.schema("key STRING, value STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(stage_dir)
    )
    return (
        stream.writeStream
        .foreachBatch(
            training_shards_incremental_foreach_batch(
                state_dir, out_dir, n_buckets
            )
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def start_training_shards_stream(
    spark: SparkSession,
    stage_dir: str,
    state_dir: str,
    out_dir: str,
    checkpoint: str,
    n_buckets: int = 8,
):
    """The capstone as a real Structured Streaming query over a PARQUET
    file source of (key, value) JSON envelope STRINGS, availableNow —
    drains what exists then stops; re-invoke after a restart and the
    checkpoint resumes from the first unprocessed file."""
    os.makedirs(state_dir, exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    stream = (
        spark.readStream.schema("key STRING, value STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(stage_dir)
    )
    return (
        stream.writeStream
        .foreachBatch(
            training_shards_foreach_batch(state_dir, out_dir, n_buckets)
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )

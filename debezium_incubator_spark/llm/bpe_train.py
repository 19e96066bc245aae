"""Distributed BPE tokenizer TRAINING (t56) — vocab fitting as an
engine op (r9 verdict #2): the one pipeline stage previously done by
an offline script (`scripts/gen_bpe_merges.py`, pure-Python pair
counting) becomes a distributed iterative operator, the way
`iter_pagerank` made graph iteration one.

Algorithm (public: Sennrich 2016 / GPT-2 style, the SAME pinned spec
the script documents): each document is a sequence of single-character
tokens; every merge step counts ALL adjacent token pairs across the
corpus, picks the (max count, then lexicographically smallest pair)
winner whose merged string was not already minted (the chain ≡
priority-algorithm uniqueness lemma, tests/test_bpe.py), and replaces
its occurrences greedily left-to-right.

Spark mapping — the `iter_pagerank` pattern:

- per-doc state is the SEP-rendered token string (``\\x1f`` around
  every token — exactly the encoder's render, so one merge pass is one
  ``replace(seq, _a__b_, _ab_)``, the same overlap convention the
  encoder replays);
- each iteration: ONE pair-count hash aggregate (map-side partial
  combine, linear in corpus characters) + a LIMIT-1 argmax collected
  to the driver (the winner is the control plane — one row per
  iteration, the legitimate `.collect()` class) + one broadcast-free
  expression-level replace pass;
- lineage is cut by ``localCheckpoint`` every ``checkpoint_every``
  iterations — without it the accumulated replace projections
  re-collapse into a nested chain and overflow the driver recursions
  past ~300 merges (the round-9 BPE finding).

At 100 TB each iteration is one full-corpus scan+shuffle — the honest
cost of exact BPE training (parallel trainers share this shape:
partition-local pair counts, global argmax, broadcast rule). The
equality test pins the distributed trainer BIT-FOR-BIT against the
checked-in ``bpe_merges.tsv`` prefix (greedy training is
prefix-deterministic, so first-K equality on the same corpus is exact).

The registered query ``t56_bpe_train`` learns K merges from the
documents corpus and surfaces the (rank, a, b) table; the oracle
re-derives the ENTIRE training loop as K staged CTE blocks — per
stage: token split, pair count, minted-string exclusion, argmax with
the same tie-break, and a one-row cross-join replace pass (the
`iter_pagerank` exact-unrolled-oracle discipline applied to training).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import spread, table
from ..registry import register
from .bpe import SEP

#: merges the registered query learns (kept small: the oracle unrolls
#: one CTE block per merge; the equality test trains much deeper).
T56_K = 8


def _pairs_counted(state: DataFrame) -> DataFrame:
    """One iteration's pair-count aggregate: (a, b, c) over the whole
    corpus. Token split on the double separator; the sequence() CASE
    guard is the documented descending-sequence gotcha."""
    toks = F.split(F.btrim(F.col("seq"), F.lit(SEP)), SEP + SEP)
    pairs = F.expr(
        "CASE WHEN size(__toks) >= 2 THEN "
        "transform(sequence(1, size(__toks) - 1), "
        "i -> struct(__toks[i - 1] AS a, __toks[i] AS b)) "
        "ELSE array() END"
    )
    return (
        state.select(toks.alias("__toks"))
        .select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.count("*").alias("c"))
    )


def train_bpe_merges(
    docs: DataFrame,
    n_merges: int,
    text_col: str = "text",
    checkpoint_every: int = 32,
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merges from ``docs[text_col]`` — the
    distributed twin of ``scripts/gen_bpe_merges.py::train`` (bit-equal
    on the same corpus, test-pinned). Returns the ranked merge list."""
    # round-14 (guide §2.5 / the repo's spread rule): the corpus scan is
    # ONE split at bench SFs, and the eager checkpoint below FREEZES that
    # partitioning for every one of the n_merges full-corpus pair-count
    # aggregates — each round's split+explode ran on one core.  spread()
    # round-robins the raw doc rows to full width first (no-op at
    # production split counts); counts and the (c DESC, a, b) argmax are
    # exact aggregates with a total-order tie-break, so the learned
    # merge list is partitioning-invariant.
    state = (
        spread(docs.filter(F.length(text_col) > 0))
        .select(
            F.regexp_replace(
                F.col(text_col), "(?s)(.)", f"{SEP}$1{SEP}"
            ).alias("seq")
        )
    )
    if docs.filter(F.col(text_col).contains(SEP)).limit(1).count():
        raise ValueError(
            "train_bpe_merges: corpus contains the \\x1f render separator"
        )
    state = state.localCheckpoint(eager=True)
    merges: list[tuple[str, str]] = []
    minted: set[str] = set()
    for step in range(n_merges):
        counts = _pairs_counted(state)
        if minted:
            counts = counts.filter(
                ~F.concat("a", "b").isin(sorted(minted))
            )
        best = counts.orderBy(F.desc("c"), "a", "b").limit(1).collect()
        if not best:
            break
        a, b = best[0]["a"], best[0]["b"]
        merges.append((a, b))
        minted.add(a + b)
        state = state.withColumn(
            "seq",
            F.replace(
                "seq",
                F.lit(f"{SEP}{a}{SEP}{SEP}{b}{SEP}"),
                F.lit(f"{SEP}{a}{b}{SEP}"),
            ),
        )
        if (step + 1) % checkpoint_every == 0:
            state = state.localCheckpoint(eager=True)
    return merges


def _oracle_t56(k: int = T56_K) -> str:
    """The training loop exactly unrolled: k staged CTE blocks, each
    computing the stage's pair counts, excluding already-minted merge
    strings, picking the same (count DESC, a, b) winner, and applying
    the replace pass via a one-row cross join."""
    d = SEP + SEP
    # every s{i}/m{i} is referenced twice (next stage's token split AND
    # next stage's replace / minted union) — AS MATERIALIZED keeps the
    # oracle linear in k; plain CTEs inline and re-execute the whole
    # prefix per reference (measured: exponential, 27 GB at sf0.01)
    blocks = [f"""s0 AS MATERIALIZED (
  SELECT regexp_replace(text, '(.)', '{SEP}\\1{SEP}', 'gs') AS seq
  FROM documents WHERE len(text) > 0
), m0(ms) AS (SELECT NULL WHERE false)"""]
    for i in range(1, k + 1):
        p = i - 1
        blocks.append(f"""tk{i} AS (
  SELECT string_split(trim(seq, '{SEP}'), '{SEP}{SEP}') AS toks FROM s{p}
), pc{i} AS (
  SELECT toks[CAST(j AS INT)] AS a, toks[CAST(j AS INT) + 1] AS b,
         count(*) AS c
  FROM tk{i}, LATERAL unnest(range(1, len(toks))) AS u(j)
  GROUP BY 1, 2
), w{i} AS MATERIALIZED (
  SELECT a, b FROM pc{i}
  WHERE a || b NOT IN (SELECT ms FROM m{p})
  ORDER BY c DESC, a, b LIMIT 1
), m{i}(ms) AS MATERIALIZED (
  SELECT ms FROM m{p} UNION ALL SELECT a || b FROM w{i}
), s{i} AS MATERIALIZED (
  SELECT replace(seq, '{SEP}' || a || '{d}' || b || '{SEP}',
                 '{SEP}' || a || b || '{SEP}') AS seq
  FROM s{p} CROSS JOIN w{i}
)""")
    ranks = "\nUNION ALL\n".join(
        f"SELECT {i} AS mrank, a, b FROM w{i}" for i in range(1, k + 1)
    )
    return (
        "WITH " + ",\n".join(blocks)
        + f"\nSELECT * FROM (\n{ranks}\n) ORDER BY mrank"
    )


@register("t56_bpe_train", oracle=_oracle_t56())
def t56_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE vocabulary training (module docstring): learn
    the first K merges from the documents corpus; the oracle re-runs
    the whole training loop as K exactly-unrolled CTE stages. The
    output is the learned control-plane table (KB) — the WORK is the
    K full-corpus pair-count aggregates."""
    docs = table(spark, sf_dir, "documents")
    merges = train_bpe_merges(docs, T56_K)
    return spark.createDataFrame(
        [(i + 1, a, b) for i, (a, b) in enumerate(merges)],
        "mrank INT, a STRING, b STRING",
    )


# --- vocab-refresh-on-ingest (streaming twin of t56, r10 verdict #7) -------
#
# tokenize-on-ingest (wordpiece.start_tokenize_ingest_stream) covers the
# FIXED-vocab regime: tokenizers ship with a model, so ingest is
# strictly per-document. This stream covers the other regime — the
# vocab itself is corpus-trained and must REFRESH as the corpus grows
# (periodic retrain → atomic vocab swap → downstream re-tokenize), the
# corpus_refresh discipline applied to the tokenizer artifact:
#
# - each micro-batch commits into an accumulated corpus tier under
#   corpus_dir/batch=<epoch> (deterministic per-epoch overwrite —
#   replays rewrite the same bytes);
# - the trainer re-runs over CURRENT corpus and commits the merge
#   table under vocab_dir/epoch=<epoch> with an atomic _LATEST swap
#   (readers mid-swap keep a consistent older vocab — the IVF-audit
#   symlink discipline, here via pointer file);
# - the WHOLE corpus re-tokenizes under the refreshed vocab (token
#   counts are vocab-global: a new merge changes old docs' counts, so
#   refresh semantics — not per-batch append — are the correct
#   incremental form) into tokens_dir/epoch=<epoch> + _LATEST.
#
# Restart-safe: every stage is a deterministic function of the corpus
# tier, which is itself epoch-idempotent; the restart-spanning test
# pins streamed == one-shot batch (train on full corpus, tokenize).


def vocab_refresh_foreach_batch(
    corpus_dir: str, vocab_dir: str, tokens_dir: str,
    n_merges: int = T56_K,
):
    """foreachBatch handler for continuous BPE vocab refresh (block
    comment above)."""
    import os

    from ..streaming.commit import commit_pointer
    from .bpe import bpe_token_count

    def handle(batch: DataFrame, epoch: int) -> None:
        spark = batch.sparkSession
        batch.write.mode("overwrite").parquet(
            os.path.join(corpus_dir, f"batch={epoch}")
        )
        corpus = spark.read.parquet(corpus_dir)
        merges = train_bpe_merges(corpus, n_merges)
        vocab = spark.createDataFrame(
            [(i + 1, a, b) for i, (a, b) in enumerate(merges)],
            "mrank INT, a STRING, b STRING",
        )
        vdir = os.path.join(vocab_dir, f"epoch={epoch}")
        vocab.coalesce(1).write.mode("overwrite").parquet(vdir)
        commit_pointer(vocab_dir, f"epoch={epoch}")
        toks = corpus.select(
            "doc_id", bpe_token_count("text", merges).alias("n_bpe")
        )
        tdir = os.path.join(tokens_dir, f"epoch={epoch}")
        toks.write.mode("overwrite").parquet(tdir)
        commit_pointer(tokens_dir, f"epoch={epoch}")

    return handle


def start_vocab_refresh_stream(
    spark: SparkSession,
    stage_dir: str,
    schema,
    corpus_dir: str,
    vocab_dir: str,
    tokens_dir: str,
    checkpoint: str,
    n_merges: int = T56_K,
):
    """Vocab-refresh-on-ingest as a real Structured Streaming query
    over a parquet file source (one file per micro-batch, availableNow
    — drains what exists then stops; re-invoke after a restart and the
    checkpoint resumes from the first unprocessed file)."""
    import os

    for d in (corpus_dir, vocab_dir, tokens_dir):
        os.makedirs(d, exist_ok=True)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage_dir)
    )
    return (
        stream.writeStream
        .foreachBatch(
            vocab_refresh_foreach_batch(
                corpus_dir, vocab_dir, tokens_dir, n_merges
            )
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )

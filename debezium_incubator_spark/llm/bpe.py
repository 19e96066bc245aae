"""Byte-level BPE tokenization as a first-class engine op (SURVEY.md
§2J J5 upgrade: training pipelines budget in TOKENIZER tokens, not
whitespace words).

The merges table (`bpe_merges.tsv`, checked in; provenance + exact
regeneration in `scripts/gen_bpe_merges.py`) pins a plain BPE vocab
(Sennrich 2016 / GPT-2 style — public algorithm) trained with
deterministic tie-breaks on the sf0.001 documents corpus.

Two genuinely different implementations of the SAME pinned spec:

1. **Engine path (JVM, scale path)** — render the text as
   separator-wrapped char tokens (``\\x1f c \\x1f`` per char), then
   apply each merge in RANK ORDER as one literal
   ``replace('\\x1f a \\x1f\\x1f b \\x1f' → '\\x1f ab \\x1f')`` pass.
   ``replace`` scans left-to-right non-overlapping in both Spark and
   DuckDB — exactly BPE's greedy within-pass convention. No Python in
   the hot path, embarrassingly parallel, zero shuffle. Since round 9
   the passes are an ``F.aggregate`` fold over a constant merge-pair
   ARRAY (merges-as-data, depth-3 expression) rather than a generated
   nested chain: at the production-shape 1024-merge table a nested
   chain overflows three separate driver recursions under a plain
   session (see :func:`_fold_col`). This is the documented exception
   to the sim_jl_projection generate-don't-HOF rule: each fold step's
   real work (whole-string scan + allocation) dwarfs interpreted
   dispatch — measured 1.4× vs the chain at equal depth, against the
   6.9× blowup HOFs cost the JL dense-arithmetic case.
2. **Reference path (Python)** — :func:`bpe_encode`, the textbook
   priority algorithm (repeatedly merge the lowest-rank adjacent pair
   present). Used inside the Arrow-batched token-EXTRACTION UDF and as
   the differential anchor.

Why they agree (pinned by tests + hypothesis): when merges are applied
in rank order, completing pass *k* cannot create an occurrence of any
pair of rank ≤ *k* — a merge only creates adjacencies involving its
own (strictly longer) output token, and every pair containing that
token was learned later, i.e. has higher rank. Hence one greedy pass
per rank ≡ the priority algorithm.

Scale: the count column is O(n_merges · doc_len) string work per row,
JVM-side, no shuffle — at 100 TB it rides whatever scan partitioning
the source has. The merges table is control-plane (KB).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import spread, table
from ..registry import register

#: render-time separator; must not occur in the text (the engine column
#: raises loudly if it does — the oracle corpus is asserted clean).
SEP = "\x1f"

MERGES_PATH = os.path.join(os.path.dirname(__file__), "bpe_merges.tsv")


def load_merges(path: str | None = None) -> list[tuple[str, str]]:
    """The pinned merges table, in rank order (rank = line number)."""
    out: list[tuple[str, str]] = []
    with open(path or MERGES_PATH) as f:
        for line in f:
            line = line.rstrip("\n")
            if not line:
                continue
            a, b = line.split("\t")
            out.append((a, b))
    return out


def merge_ranks(
    merges: list[tuple[str, str]] | None = None,
) -> dict[tuple[str, str], int]:
    return {p: i for i, p in enumerate(merges or load_merges())}


def merge_pass(seq: list[str], a: str, b: str) -> list[str]:
    """One greedy left-to-right pass replacing adjacent (a,b) with a+b
    — the overlap convention shared with SQL ``replace``."""
    out: list[str] = []
    i, n = 0, len(seq)
    while i < n:
        if i + 1 < n and seq[i] == a and seq[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(seq[i])
            i += 1
    return out


def bpe_encode(text: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Reference encoder: the priority algorithm (GPT-2 ``bpe()``) —
    repeatedly merge ALL occurrences of the lowest-rank pair present.
    Chars outside the training alphabet simply stay single-char
    tokens (no pair containing them has a rank)."""
    seq = list(text)
    while len(seq) > 1:
        pairs = {(seq[i], seq[i + 1]) for i in range(len(seq) - 1)}
        ranked = [(ranks[p], p) for p in pairs if p in ranks]
        if not ranked:
            break
        _, best = min(ranked)
        seq = merge_pass(seq, *best)
    return seq


def _q(s: str) -> str:
    """SQL single-quote escape for a token literal."""
    return s.replace("'", "''")


def _chain_sql(base: str, merges: list[tuple[str, str]]) -> str:
    """Nest the rank-order replace passes around a rendered base expr."""
    expr = base
    for a, b in merges:
        pat = f"{SEP}{_q(a)}{SEP}{SEP}{_q(b)}{SEP}"
        rep = f"{SEP}{_q(a)}{_q(b)}{SEP}"
        expr = f"replace({expr}, '{pat}', '{rep}')"
    return expr


#: memo for the merge-pair array literal: building it costs ~3k py4j
#: round trips (2 lits + 1 struct per merge) — pay once per process,
#: Column objects are immutable and reusable across queries
_FOLD_COL_MEMO: dict = {}


def _fold_col(col: str, merges: list[tuple[str, str]]) -> Column:
    """The rank-order replace passes as ONE depth-3 expression: the
    merges become a constant ARRAY of (pattern, replacement) structs
    and ``F.aggregate`` folds it over the rendered text —
    merges-as-DATA instead of merges-as-code.

    Why not a generated replace() chain (the round-8 spelling)? A
    1024-merge chain nests 1024 expressions, and under a
    caller-provided plain session (default JVM thread stack) THREE
    separate driver recursions overflow before any row is processed —
    measured in round 9: the ANTLR parser (~30 frames/nesting level in
    F.expr text), the Spark-4 ColumnNode→Expression converter (~10
    frames/level on a programmatic Column tree), and the optimizer's
    ``foldable`` walk over the CollapseProject-merged tree (staged
    withColumn chunks re-collapse, so chunking cannot dodge it). The
    fold costs ~1.4× the codegen chain at equal depth (measured at 128
    merges, sf0.01: 0.9 s vs 1.25 s — per-pass allocation dominates
    either way), which is the price of a vocabulary that scales.
    Token literals go through F.lit — no SQL-escape processing, which
    retires the backslash-divergence class on the engine side (the
    oracle corpus assertions still guard DuckDB)."""
    # memo key on merges CONTENT, never id(): a freed list's address
    # is reused by CPython, so (len, id) can alias a DIFFERENT merge
    # table built later — caught live in round 12 as an off-by-one
    # token count when the vocab-refresh replay test trained fresh
    # same-length merges after an earlier test's list died (the
    # spread()-memo id()-reuse hazard, only this one corrupted DATA).
    # tuple() hashing of ≤1024 pairs is trivial vs the ~3k py4j round
    # trips the memo saves.
    key = (col, tuple(merges))
    hit = _FOLD_COL_MEMO.get(key)
    if hit is not None:
        return hit
    pairs = F.array(*[
        F.struct(
            F.lit(f"{SEP}{a}{SEP}{SEP}{b}{SEP}").alias("p"),
            F.lit(f"{SEP}{a}{b}{SEP}").alias("r"),
        )
        for a, b in merges
    ])
    rendered = F.regexp_replace(F.col(col), "(?s)(.)", f"{SEP}$1{SEP}")
    expr = F.aggregate(
        pairs, rendered, lambda acc, m: F.replace(acc, m["p"], m["r"])
    )
    _FOLD_COL_MEMO[key] = expr
    return expr


def count_sql(col: str, merges: list[tuple[str, str]] | None = None,
              dialect: str = "spark") -> str:
    """BPE token count of ``col`` as one generated SQL scalar, in the
    engine (``spark``) or oracle (``duckdb``) spelling. NULL text stays
    NULL; empty text counts 0."""
    merges = merges if merges is not None else load_merges()
    if dialect == "duckdb" and len(merges) > 100:
        raise ValueError(
            "DuckDB caps expression depth at 128 — use "
            "oracle_docs_with_counts() (staged CTEs) for the full "
            "merges table"
        )
    if dialect == "spark" and len(merges) > 300:
        raise ValueError(
            "Spark's ANTLR parser stack-overflows on deeply nested "
            "replace() text — use bpe_token_count()/_fold_col() "
            "(merges-as-data fold, no parser) for the full merges table"
        )
    if dialect == "spark":
        base = f"regexp_replace({col}, '(?s)(.)', '{SEP}$1{SEP}')"
        chain = _chain_sql(base, merges)
        toks = f"size(split(btrim({chain}, '{SEP}'), '{SEP}{SEP}'))"
    elif dialect == "duckdb":
        base = f"regexp_replace({col}, '(.)', '{SEP}\\1{SEP}', 'gs')"
        chain = _chain_sql(base, merges)
        toks = f"len(string_split(trim({chain}, '{SEP}'), '{SEP}{SEP}'))"
    else:
        raise ValueError(f"unknown dialect {dialect!r}")
    return (
        f"CASE WHEN {col} IS NULL THEN NULL "
        f"WHEN length({col}) = 0 THEN 0 ELSE {toks} END"
    )


def bpe_token_count(col: str = "text",
                    merges: list[tuple[str, str]] | None = None) -> Column:
    """Engine column: BPE token count of a string column — generated
    straight-line JVM expression, raises loudly if the text contains
    the render separator (which would silently corrupt the count)."""
    merges = merges if merges is not None else load_merges()
    folded = _fold_col(col, merges)
    toks = F.size(F.split(F.btrim(folded, F.lit(SEP)), SEP + SEP))
    count = (
        F.when(F.col(col).isNull(), F.lit(None).cast("int"))
        .when(F.length(col) == 0, F.lit(0))
        .otherwise(toks)
    )
    guard = F.when(
        F.col(col).contains(SEP),
        F.raise_error(F.lit(
            "bpe_token_count: text contains the \\x1f render separator"
        )).cast("int"),
    ).otherwise(count)
    return guard


def bpe_tokens(df: DataFrame, text_col: str = "text",
               out_col: str = "bpe_tokens",
               merges: list[tuple[str, str]] | None = None) -> DataFrame:
    """Token EXTRACTION (array<string> per doc) via an Arrow-batched
    pandas UDF running the reference encoder — for consumers that need
    the tokens themselves (vocab joins, packing), not just counts.
    Defined inside the call (no module-level pandas_udf: needs an
    active session at import)."""
    from pyspark.sql.functions import pandas_udf

    ranks = merge_ranks(merges)

    # no type hints: `from __future__ import annotations` stringifies
    # them and pyspark can't resolve 'pd.Series' — use the explicit
    # returnType form (series-to-series is the default)
    _enc = pandas_udf(
        lambda s: s.map(
            lambda t: None if t is None else bpe_encode(t, ranks)
        ),
        "array<string>",
    )
    return df.withColumn(out_col, _enc(F.col(text_col)))


#: replaces per oracle CTE stage — DuckDB's binder caps expression
#: depth at 128, so the 128-merge chain is staged through CTEs.
_ORACLE_CHUNK = 40


def oracle_docs_with_counts(cte_name: str = "d") -> str:
    """DuckDB WITH-clause body computing per-doc BPE token counts from
    the pinned merges, staged ``_ORACLE_CHUNK`` replaces per CTE to
    stay under the binder's expression-depth cap. The final CTE keeps
    every ``documents`` column plus ``n_tok``."""
    merges = load_merges()
    base = f"regexp_replace(text, '(.)', '{SEP}\\1{SEP}', 'gs')"
    parts = [f"__b0 AS (SELECT *, {base} AS __s FROM documents)"]
    prev = "__b0"
    for j in range(0, len(merges), _ORACLE_CHUNK):
        expr = _chain_sql("__s", merges[j:j + _ORACLE_CHUNK])
        nxt = f"__b{j // _ORACLE_CHUNK + 1}"
        parts.append(
            f"{nxt} AS (SELECT * EXCLUDE (__s), {expr} AS __s FROM {prev})"
        )
        prev = nxt
    toks = f"len(string_split(trim(__s, '{SEP}'), '{SEP}{SEP}'))"
    count = (
        f"CASE WHEN text IS NULL THEN NULL "
        f"WHEN length(text) = 0 THEN 0 ELSE {toks} END"
    )
    parts.append(
        f"{cte_name} AS (SELECT * EXCLUDE (__s), {count} AS n_tok "
        f"FROM {prev})"
    )
    return ",\n".join(parts)


def _t39_oracle() -> str:
    return f"""
WITH {oracle_docs_with_counts()}
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS total_tokens,
       CAST(max(n_tok) AS BIGINT) AS max_tokens,
       floor(CAST(sum(n_chars) AS DOUBLE) / CAST(sum(n_tok) AS DOUBLE)
             * 10000 + 0.5) / 10000 AS chars_per_token
FROM d GROUP BY source ORDER BY source
"""


@register("t39_bpe_tokens", oracle=_t39_oracle())
def t39_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source BPE token accounting — the unit a training pipeline
    actually budgets/reports in (t1's whitespace stats upgraded to the
    pinned subword vocab). chars_per_token is the corpus compression
    ratio the tokenizer achieves per source (integer-derived ratio →
    round4x policy).

    Plan: one scan, per-row generated expression (no UDF, no
    shuffle before the 5-group agg)."""
    from ..exprs import round4x_col

    d = spread(table(spark, sf_dir, "documents")).select(
        "source", "n_chars", bpe_token_count("text").alias("n_tok")
    )
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("total_tokens"),
            F.max("n_tok").cast("long").alias("max_tokens"),
            round4x_col(
                F.sum("n_chars").cast("double")
                / F.sum("n_tok").cast("double")
            ).alias("chars_per_token"),
        )
        .orderBy("source")
    )


#: BPE-denominated per-source budget (t36's greedy-prefix shape, but in
#: real tokenizer tokens — the number that actually matters for LLM
#: training cost). Smaller than t36's 800 because BPE tokens are ~4×
#: denser than whitespace words on this corpus.
BPE_BUDGET = 600


def _t41_oracle() -> str:
    return f"""
WITH {oracle_docs_with_counts("__d0")},
d AS (
  SELECT doc_id, source, n_tok,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM __d0
), c AS (
  SELECT source, n_tok,
         sum(n_tok) OVER (
           PARTITION BY source ORDER BY h, doc_id
           ROWS UNBOUNDED PRECEDING) AS cum
  FROM d
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS tokens_kept
FROM c WHERE cum <= {BPE_BUDGET}
GROUP BY source ORDER BY source
"""


@register("t41_bpe_budget", oracle=_t41_oracle())
def t41_bpe_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t36's greedy-prefix token budget, denominated in BPE tokens:
    deterministic content-independent per-source order (md5(doc_id)),
    running BPE-token sum, keep while the budget including the doc
    isn't exhausted. Same plan shape as t36 — one per-source window,
    one agg; the tokenizer adds per-row JVM expression work only."""
    from pyspark.sql.window import Window as W

    d = spread(table(spark, sf_dir, "documents")).select(
        "doc_id",
        "source",
        bpe_token_count("text").alias("n_tok"),
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    w = (
        W.partitionBy("source")
        .orderBy("h", "doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    c = d.withColumn("cum", F.sum("n_tok").over(w))
    return (
        c.filter(F.col("cum") <= BPE_BUDGET)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("tokens_kept"),
        )
        .orderBy("source")
    )


#: packing budget in BPE tokens (t11 packs 64 whitespace words; BPE
#: tokens are denser, so bins hold more docs at the same text volume)
BPE_PACK = 256


def _t42_oracle() -> str:
    return f"""
WITH {oracle_docs_with_counts("__d0")},
c AS (
  SELECT lang, doc_id, n_tok,
         SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING) AS cs
  FROM __d0
)
SELECT lang, CAST((cs - n_tok) // {BPE_PACK} AS BIGINT) AS bin,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS bin_tokens
FROM c
GROUP BY lang, bin
ORDER BY lang, bin
"""


@register("t42_bpe_packing", oracle=_t42_oracle())
def t42_bpe_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t11's greedy in-order sequence packing, denominated in BPE
    tokens — the bins a trainer actually fills (a 4096-token context
    is 4096 TOKENIZER tokens, not words). Same exclusive-running-sum
    bucketing, same one-window-per-language plan; the tokenizer is
    per-row JVM expression work on top."""
    from pyspark.sql.window import Window as W

    d = spread(table(spark, sf_dir, "documents")).select(
        "lang", "doc_id", bpe_token_count("text").alias("n_tok")
    )
    w = (
        W.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    c = d.withColumn("cs", F.sum("n_tok").over(w))
    return (
        c.groupBy(
            "lang",
            F.expr(f"CAST((cs - n_tok) DIV {BPE_PACK} AS BIGINT)")
            .alias("bin"),
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("bin_tokens"),
        )
        .orderBy("lang", "bin")
    )


def bpe_tokens_col(col: str = "text",
                   merges: list[tuple[str, str]] | None = None) -> Column:
    """JVM-side token extraction (array<string>) — the replace-chain
    string split on the double separator. Prefer this over the
    pandas-UDF :func:`bpe_tokens` everywhere: same tokens (the chain ≡
    priority-algorithm equivalence), no Python worker, no Arrow hop.
    Empty/NULL text yields an empty array / NULL."""
    merges = merges if merges is not None else load_merges()
    toks = F.split(
        F.btrim(_fold_col(col, merges), F.lit(SEP)), SEP + SEP
    )
    return (
        F.when(F.col(col).isNull(), F.lit(None).cast("array<string>"))
        .when(F.length(col) == 0, F.array().cast("array<string>"))
        .when(
            F.col(col).contains(SEP),
            F.raise_error(F.lit(
                "bpe_tokens_col: text contains the \\x1f render separator"
            )).cast("array<string>"),
        )
        .otherwise(toks)
    )


def oracle_docs_with_tokens(cte_name: str = "d") -> str:
    """Like :func:`oracle_docs_with_counts`, but the final CTE keeps
    the token ARRAY (``toks``) for token-level oracles."""
    merges = load_merges()
    base = f"regexp_replace(text, '(.)', '{SEP}\\1{SEP}', 'gs')"
    parts = [f"__b0 AS (SELECT *, {base} AS __s FROM documents)"]
    prev = "__b0"
    for j in range(0, len(merges), _ORACLE_CHUNK):
        expr = _chain_sql("__s", merges[j:j + _ORACLE_CHUNK])
        nxt = f"__b{j // _ORACLE_CHUNK + 1}"
        parts.append(
            f"{nxt} AS (SELECT * EXCLUDE (__s), {expr} AS __s FROM {prev})"
        )
        prev = nxt
    parts.append(
        f"{cte_name} AS (SELECT * EXCLUDE (__s), "
        f"string_split(trim(__s, '{SEP}'), '{SEP}{SEP}') AS toks "
        f"FROM {prev} WHERE length(text) > 0)"
    )
    return ",\n".join(parts)


#: top-k subword vocabulary size for t43
BPE_VOCAB_K = 20


def _t43_oracle() -> str:
    return f"""
WITH {oracle_docs_with_tokens("__d0")},
tok AS (
  SELECT unnest(toks) AS token FROM __d0
), freq AS (
  SELECT token, CAST(count(*) AS BIGINT) AS n_occurrences,
         CAST(length(token) AS BIGINT) AS token_len
  FROM tok GROUP BY token
)
SELECT token, n_occurrences, token_len
FROM freq
ORDER BY n_occurrences DESC, token
LIMIT {BPE_VOCAB_K}
"""


@register("t43_bpe_vocab", oracle=_t43_oracle())
def t43_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subword vocabulary statistics: top-{BPE_VOCAB_K} BPE tokens by
    corpus frequency (deterministic tie-break on the token itself) —
    t26's vocab-coverage shape moved into tokenizer space, and the
    number a vocab-size decision actually looks at. Token extraction
    is the JVM split of the replace-chain render (``bpe_tokens_col``,
    zero Python); the explode fans out ~tokens/doc rows, map-side
    combine collapses them to |vocab| — the t2 term-frequency shuffle
    shape. Top-k is orderBy+limit → TakeOrderedAndProject, never a
    global sort."""
    d = spread(
        table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    )
    tok = d.select(
        F.explode(bpe_tokens_col("text")).alias("token")
    )
    return (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .select(
            "token",
            "n_occurrences",
            F.length("token").cast("long").alias("token_len"),
        )
        .orderBy(F.desc("n_occurrences"), "token")
        .limit(BPE_VOCAB_K)
    )

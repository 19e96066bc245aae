"""CDC→ANN-index end-to-end (the r10 verdict #4 capstone — the
``cdc_corpus_refresh`` discipline applied to the VECTOR tier): embedding
rows arrive as Debezium-shaped CDC envelopes over an ``embeddings``-
shaped source table, fold to latest state, route against the PERSISTED
IVF centroids (no refit — the ``ivf_index_append`` posture), and
semantically dedup per cell (SemDeDup) — producing the refreshed,
deduplicated ANN index. ONE oracle re-derives every stage — log
synthesis, fold, centroid routing, per-cell dedup — from the raw
``embeddings`` table plus the persisted centroid artifacts.

Why this needs its own differential: the vector stages are individually
oracled (envelope wire, I6 folds, sim_ivf* routing, dedup_semantic),
but no standalone stage proves CDC semantics *reach the index*: a
DELETED source row must leave the index, a RE-EMBEDDED (updated) row
must RE-ROUTE on its new vector, and replayed deliveries must change
nothing. The synthetic change history makes each path load-bearing:

- every vector INSERTS first as a NEGATED draft (``-v`` element-wise —
  exact in IEEE, and it routes to a *different* cell than ``v`` in
  general, so update-reroutes are observable);
- ``vec_id % 5 == 0`` drafts insert ONE shared placeholder vector
  (all-ones) — identical vectors land in one cell at cosine ~1, so the
  SemDeDup stage live-collapses them to the min-id keeper;
- ``vec_id % 3 == 0`` rows are UPDATED to the real fixture embedding —
  the re-embed/re-route path;
- ``vec_id % 7 == 0`` rows are DELETED last — the leave path.

The wire is the JSON envelope round-trip (``to_json``/``from_json``):
exact for these payloads because Java's double→string rendering is
round-trip-exact by contract (every parsed-back double is bit-identical
to the written one); binary/Avro wires for vectors are covered by
``cdc_binary_wire``.

Routing is centroid-as-DATA: the persisted centroids (a bounded
control-plane table) broadcast-join the folded vectors, squared-L2 as
the engine's bit-reproducible left fold, argmin by the (distance,
cluster) tuple — identical tie-break to ``ivf_probe``/
``ivf_index_append``. Dedup is the ``semdedup`` pair rule (same cell,
lower-id owner, cosine ≥ τ) at the production τ=0.9.

Streaming (:func:`start_ann_refresh_stream`): per micro-batch the
envelopes merge into the bucket-partitioned state tier, then the index
snapshot is RECOMPUTED from current state and committed cell-partitioned
under ``out_dir/epoch=<id>`` with an atomic ``_LATEST`` pointer —
refresh semantics (dedup owners are corpus-global), not per-batch
append; the append-only ingest form is ``semdedup_ingest`` +
``ivf_index_append``. Restart-safe exactly like the corpus twin: the
state apply is epoch-idempotent, the snapshot rewrite deterministic,
the pointer atomic.

Scale posture (100 TB): parse/unwrap expression-only; fold =
partitioned-state apply (touched buckets only, probed flat in state
size); routing = one broadcast join (centroids are nlist rows) over
current state with a window argmin partitioned by vec_id; dedup = one
equi-join on cell with per-cell pair work bounded by the quantizer
(nlist ∝ n). A full refresh per trigger is the semantics of
corpus-global dedup; its cost is over CURRENT state, never the
unbounded log.

MEASURED caveat (round-11 probe): the quantizer sizing is
load-bearing TWICE over — a FIXED nlist makes per-cell pair work grow
quadratically with the corpus (the legacy batch form pins the shared
16-cell audit index for oracle parity; its g1→g3 probe read ratio
18.3 at 3× data), AND the cell equi-join's parallelism is capped at
nlist distinct keys (16 cells = at most 16 tasks — the probe JVM sat
near 2 of 32 cores). The REGISTERED production spelling is
:func:`ann_refresh_scaled` below (nlist ∝ n, cell ≈ 500, exact tier
first, vectorized assignment): both problems dissolve together and
the probe reads sub-linear at both pairs WITH the full rebuild in the
timing. The legacy form was RETIRED from the registry in round 13
(r12 verdict #3) — :func:`cdc_ann_refresh` survives only as the
one-shot ground-truth fold for the stream/incremental equality tests;
its full-corpus differential lives on under the hash gate as
``ann_refresh_incremental`` (the cell-scoped EXECUTION path, same
oracle).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window as W

from ..catalog import table
from ..lineage import scratch_dir
from ..registry import register
from ..llm.similarity import (
    IVF_AUDIT_DIR,
    _ensure_ivf_index,
    dot,
    norm_sq,
    semdedup,
)
from .envelope import parse_envelope, unwrap
from .materialize import materialize_latest

#: embedding dimensionality of the testdata fixture.
DIM = 64
#: SemDeDup threshold — the production regime (the fixture's max true
#: within-cell cosine is ~0.51, so only the planted placeholder dups
#: collapse; the τ=0.4 exploratory regime is dedup_semantic's).
ANN_TAU = 0.9

EMB_ROW_SCHEMA = T.StructType([
    T.StructField("vec_id", T.LongType()),
    T.StructField("v", T.ArrayType(T.DoubleType())),
])
EMB_KEY_SCHEMA = T.StructType([T.StructField("vec_id", T.LongType())])

def _placeholder_v():
    """The shared placeholder draft vector (all-ones) — planted exact
    dups. Built lazily: Column construction needs an active session,
    so no module-level F.expr (the import-time invariant)."""
    return F.expr(
        f"transform(sequence(1, {DIM}), i -> cast(1.0 as double))"
    )


def embeddings_change_log(emb: DataFrame) -> DataFrame:
    """Deterministic synthetic CDC history over a (vec_id, v) frame
    (module docstring): flat change rows ``(vec_id, v, __op, __pos)``,
    re-derivable in SQL."""
    vid = F.col("vec_id")
    ins = emb.select(
        "vec_id",
        F.when(vid % 5 == 0, _placeholder_v())
        .otherwise(F.transform("v", lambda x: -x))
        .alias("v"),
        F.lit("c").alias("__op"),
        (vid * 10 + 1).alias("__pos"),
    )
    upd = emb.filter(vid % 3 == 0).select(
        "vec_id", "v",
        F.lit("u").alias("__op"), (vid * 10 + 2).alias("__pos"),
    )
    dels = emb.filter(vid % 7 == 0).select(
        "vec_id", F.lit(None).cast("array<double>").alias("v"),
        F.lit("d").alias("__op"), (vid * 10 + 3).alias("__pos"),
    )
    return ins.unionByName(upd).unionByName(dels)


def embeddings_envelopes(log: DataFrame, as_json: bool = True) -> DataFrame:
    """The Debezium wire shape for the embeddings log: (key, value)
    JSON envelope strings (deletes carry the vectorless image in
    ``before``); ``source.pos`` is the log position."""
    row = F.struct(F.col("vec_id"), F.col("v"))
    null_row = F.lit(None).cast(EMB_ROW_SCHEMA)
    op = F.col("__op")
    env = log.select(
        F.struct(F.col("vec_id")).alias("key"),
        F.struct(
            F.when(op == "d", row).otherwise(null_row).alias("before"),
            F.when(op != "d", row).otherwise(null_row).alias("after"),
            F.struct(
                F.lit("sim").alias("connector"),
                F.lit("testdb").alias("db"),
                F.lit("embeddings").alias("table"),
                F.lit(False).alias("snapshot"),
                F.col("__pos").alias("pos"),
            ).alias("source"),
            op.alias("op"),
            F.col("__pos").alias("ts_ms"),
        ).alias("value"),
    )
    if as_json:
        env = env.select(
            F.to_json("key").alias("key"), F.to_json("value").alias("value")
        )
    return env


def unwrap_embeddings(wire: DataFrame) -> DataFrame:
    """JSON wire → flat change rows (the consumer side)."""
    parsed = parse_envelope(wire, EMB_ROW_SCHEMA, key_schema=EMB_KEY_SCHEMA)
    return unwrap(parsed).select("vec_id", "v", "__op", "__pos")


def route_to_cells(state: DataFrame, cents: DataFrame) -> DataFrame:
    """Assign every (vec_id, v) to its nearest persisted centroid —
    centroids-as-DATA broadcast join, left-fold squared L2, argmin by
    the (distance, cluster) tuple (ties → lower cell id, the
    ivf_probe/ivf_index_append convention). Returns
    (vec_id, v, nsq, cell)."""
    d = F.aggregate(
        F.zip_with("v", "centroid", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    w = W.partitionBy("vec_id").orderBy("d", "cluster")
    return (
        state.withColumn("nsq", norm_sq("v"))
        .crossJoin(F.broadcast(cents))
        .withColumn("d", d)
        .withColumn("__rrn", F.row_number().over(w))
        .filter(F.col("__rrn") == 1)
        .select("vec_id", "v", "nsq",
                F.col("cluster").cast("bigint").alias("cell"))
    )


def semdedup_survivors(assigned: DataFrame, tau: float = ANN_TAU) -> DataFrame:
    """SemDeDup the routed set in place: drop every vector that has a
    lower-id same-cell neighbor at cosine ≥ ``tau`` (the
    :func:`~..llm.similarity.semdedup` pair rule, applied to a frame
    instead of a persisted store). Zero vectors are kept verbatim —
    cosine is undefined for them, so they can neither own nor suffer
    a removal."""
    a = assigned.select(
        F.col("vec_id").alias("kept"), F.col("cell").alias("ca"),
        F.col("v").alias("va"), F.col("nsq").alias("na"),
    ).filter(F.col("na") > 0)
    cos_raw = dot("va", "v") / (F.sqrt("na") * F.sqrt("nsq"))
    removals = (
        assigned.filter(F.col("nsq") > 0)
        .join(a, (F.col("ca") == F.col("cell"))
              & (F.col("kept") < F.col("vec_id")))
        .withColumn("cos_raw", cos_raw)
        .filter(F.col("cos_raw") >= tau)
        .select("vec_id")
        .distinct()
    )
    return assigned.join(removals, "vec_id", "left_anti")


_ORACLE = f"""
WITH log AS (
  SELECT vec_id,
         CASE WHEN vec_id % 5 = 0
              THEN list_transform(range(1, {DIM} + 1),
                                  i -> CAST(1.0 AS DOUBLE))
              ELSE list_transform(embedding::DOUBLE[], x -> -x) END AS v,
         'c' AS op, vec_id * 10 + 1 AS pos
  FROM embeddings
  UNION ALL
  SELECT vec_id, embedding::DOUBLE[], 'u', vec_id * 10 + 2
  FROM embeddings WHERE vec_id % 3 = 0
  UNION ALL
  SELECT vec_id, NULL, 'd', vec_id * 10 + 3
  FROM embeddings WHERE vec_id % 7 = 0
), lr AS (
  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY pos DESC)
    AS lrn
  FROM log
), state AS MATERIALIZED (
  SELECT vec_id, v,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(v, x -> x * x)), (s, x) -> s + x) AS nsq
  FROM lr WHERE lrn = 1 AND op <> 'd'
), cents AS MATERIALIZED (
  SELECT cluster, centroid
  FROM read_parquet('{IVF_AUDIT_DIR}/centroids/*.parquet')
), routed AS (
  SELECT s.vec_id, s.v, s.nsq, c.cluster,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(range(1, {DIM} + 1),
                 i -> (s.v[i] - c.centroid[i]) * (s.v[i] - c.centroid[i]))),
             (a, x) -> a + x) AS d
  FROM state s, cents c
), arg AS MATERIALIZED (
  SELECT vec_id, v, nsq, CAST(cluster AS BIGINT) AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster)
      AS rrn
    FROM routed
  ) WHERE rrn = 1
), rem AS (
  SELECT DISTINCT b.vec_id
  FROM arg a JOIN arg b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE a.nsq > 0 AND b.nsq > 0
    AND list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(range(1, {DIM} + 1),
                           i -> a.v[i] * b.v[i])),
            (s, x) -> s + x) / (sqrt(a.nsq) * sqrt(b.nsq)) >= {ANN_TAU}
)
SELECT s.vec_id, s.cell
FROM arg s LEFT JOIN rem r ON s.vec_id = r.vec_id
WHERE r.vec_id IS NULL
ORDER BY s.vec_id
"""


def cdc_ann_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC→ANN capstone, one-shot batch fold (module docstring):
    synth change log → JSON envelope wire round-trip → latest-state
    fold → persisted-centroid routing → per-cell SemDeDup; output =
    the refreshed index membership (vec_id, cell).

    RETIRED from the registry (round 13, r12 verdict #3): the fixed
    16-cell quantizer + interpreted crossJoin routing measured 18.3×
    at 3× data — a user-callable key must not carry a super-linear
    plan. Kept as the ground-truth fold the stream/incremental
    equality tests compare against; the same full-corpus differential
    (``_ORACLE``) is hash-checked via ``ann_refresh_incremental``,
    whose per-epoch plan is delta-scoped, and the production-sizing
    plan is the registered ``ann_refresh_scaled``."""
    _ensure_ivf_index(spark, sf_dir)  # centroid artifacts for both sides
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    wire = embeddings_envelopes(embeddings_change_log(emb))
    flat = unwrap_embeddings(wire)
    state = materialize_latest(
        flat, keys=["vec_id"], position=["__pos"]
    ).select("vec_id", "v")
    cents = spark.read.parquet(f"{IVF_AUDIT_DIR}/centroids")
    survivors = semdedup_survivors(route_to_cells(state, cents))
    return survivors.select("vec_id", "cell").orderBy("vec_id")


# --- production spelling: scaled quantizer + vectorized assignment ---------
#
# The retired ``cdc_ann_refresh`` above pins the SHARED 16-cell audit
# index and the interpreted crossJoin fold-argmin for oracle parity —
# both fixture-regime choices whose g1→g3 probe read ratio 18.3 at 3×
# data (module docstring). ``ann_refresh_scaled`` is the plan a 100 TB
# deployment runs, now under the driver's hash gate (r11 verdict #1):
#
# - EXACT dedup tier FIRST (one window shuffle partitioned by the vector
#   value itself): a bit-identical cluster of size m costs m² pairs in
#   the semantic tier at ANY nlist — tier ordering is a COST invariant
#   (SCALEPROBE.md, exponent 1.904 → 0.907);
# - quantizer sized nlist ∝ n (cell ≈ CELL_TARGET): per-cell pair work
#   AND the cell-join's task parallelism both scale with the corpus;
# - routing via ``build_ivf_index``'s VECTORIZED MLlib assignment over
#   a capped deterministic fit sample — not the interpreted fold.
#
# Oracle strategy (the sim_ivfpq_adc precedent): the k-means assignment
# is persisted as DATA and TRUSTED; the oracle re-derives everything
# else — the change-log fold, the exact-tier keepers (membership is
# LEFT-joined so a row missing from the persisted index surfaces as a
# NULL cell, never silently), and the per-cell SemDeDup pair rule —
# from the raw embeddings plus the persisted artifacts.
#
# To keep the SEMANTIC tier live after the exact tier collapses the
# planted placeholder dups, the scaled change log adds a NEAR-dup wave:
# ``vec_id % 11`` rows are re-embedded to their left neighbor's final
# state vector scaled by 1.0000001 — element-wise scaling preserves
# direction (cosine ≈ 1 ≫ τ, computed by the identical left fold on
# both engines, so no boundary exists) but breaks bit-identity, so the
# clone survives the exact tier and the semantic tier removes it under
# the min-id owner rule.

#: target vectors per IVF cell under the production sizing rule.
CELL_TARGET = 500
ANN_SCALED_DIR = "/tmp/dis_ann_scaled_current"


def scaled_change_log(emb: DataFrame) -> DataFrame:
    """:func:`embeddings_change_log` plus the near-dup clone wave: for
    ``vec_id % 11 == 0`` (self and left neighbor both alive), a final
    update (pos ``vec_id*10+4``) sets ``v`` to the neighbor's
    closed-form final state vector scaled by 1.0000001. Closed form
    (real if ``%3``, placeholder if ``%5``, else negated) keeps the log
    re-derivable by the SQL oracle without folding twice."""
    vid = F.col("vec_id")
    j = vid - 1
    nb = emb.select((F.col("vec_id") + 1).alias("vec_id"),
                    F.col("v").alias("nv"))
    nbstate = (
        F.when(j % 3 == 0, F.col("nv"))
        .when(j % 5 == 0, _placeholder_v())
        .otherwise(F.transform("nv", lambda x: -x))
    )
    clones = (
        emb.join(nb, "vec_id")
        .filter((vid % 11 == 0) & (vid % 7 != 0) & (vid > 0)
                & (j % 7 != 0))
        .select(
            "vec_id",
            F.transform(nbstate, lambda x: x * 1.0000001).alias("v"),
            F.lit("u").alias("__op"),
            (vid * 10 + 4).alias("__pos"),
        )
    )
    return embeddings_change_log(emb).unionByName(clones)


def scaled_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change log → wire round-trip → latest-state fold → EXACT dedup
    tier (min-id keeper per identical vector — ONE window shuffle
    partitioned by the vector value). Returns (vec_id, v), the input to
    the index build."""
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    wire = embeddings_envelopes(scaled_change_log(emb))
    state = materialize_latest(
        unwrap_embeddings(wire), keys=["vec_id"], position=["__pos"]
    ).select("vec_id", "v")
    wv = W.partitionBy("v")
    return (
        state.withColumn("__own", F.min("vec_id").over(wv))
        .filter(F.col("__own") == F.col("vec_id"))
        .drop("__own")
    )


def build_scaled_index(spark: SparkSession, sf_dir: str,
                       index_dir: str) -> None:
    """Fold + exact tier, then ``build_ivf_index`` at nlist ∝ n
    (``CELL_TARGET`` vectors per cell) — capped deterministic fit
    sample + vectorized MLlib assignment, cell-partitioned store.

    Round-14 (guide §4.4): the fold+exact-tier chain feeds FOUR
    downstream actions (the sizing count, build_ivf_index's own count,
    the KMeans fit's internal cache fill, the assignment write) — cut
    its lineage once so the wire round-trip + two window shuffles run
    once per build, not four times.  Corpus-sized frame → ``local_disk``
    (the lineage.py storage contract)."""
    from ..lineage import cut
    from ..llm.similarity import build_ivf_index

    state = cut(scaled_state(spark, sf_dir), "local_disk")
    n = state.count()
    build_ivf_index(state, index_dir, nlist=max(16, n // CELL_TARGET))


def _ensure_ann_scaled_index(spark: SparkSession, sf_dir: str) -> str:
    """The fixed-path audit artifact for the scaled oracle (the
    :mod:`.._audit` lifecycle: stamp on embeddings.parquet, atomic
    symlink swap, locked builds, atexit cleanup)."""
    from ..llm._audit import ensure_artifact

    src = os.path.join(sf_dir, "embeddings.parquet")
    return ensure_artifact(
        src, ANN_SCALED_DIR,
        lambda d: build_scaled_index(spark, sf_dir, d),
    )


_SCALED_ORACLE = f"""
WITH log AS (
  SELECT vec_id,
         CASE WHEN vec_id % 5 = 0
              THEN list_transform(range(1, {DIM} + 1),
                                  i -> CAST(1.0 AS DOUBLE))
              ELSE list_transform(embedding::DOUBLE[], x -> -x) END AS v,
         'c' AS op, vec_id * 10 + 1 AS pos
  FROM embeddings
  UNION ALL
  SELECT vec_id, embedding::DOUBLE[], 'u', vec_id * 10 + 2
  FROM embeddings WHERE vec_id % 3 = 0
  UNION ALL
  SELECT vec_id, NULL, 'd', vec_id * 10 + 3
  FROM embeddings WHERE vec_id % 7 = 0
  UNION ALL
  SELECT e.vec_id,
         list_transform(
           CASE WHEN (e.vec_id - 1) % 3 = 0 THEN nb.embedding::DOUBLE[]
                WHEN (e.vec_id - 1) % 5 = 0
                THEN list_transform(range(1, {DIM} + 1),
                                    i -> CAST(1.0 AS DOUBLE))
                ELSE list_transform(nb.embedding::DOUBLE[], x -> -x) END,
           x -> x * 1.0000001) AS v,
         'u' AS op, e.vec_id * 10 + 4 AS pos
  FROM embeddings e JOIN embeddings nb ON nb.vec_id = e.vec_id - 1
  WHERE e.vec_id % 11 = 0 AND e.vec_id % 7 <> 0 AND e.vec_id > 0
    AND (e.vec_id - 1) % 7 <> 0
), lr AS (
  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY pos DESC)
    AS lrn
  FROM log
), state AS MATERIALIZED (
  SELECT vec_id, v FROM lr WHERE lrn = 1 AND op <> 'd'
), keep AS (
  SELECT vec_id FROM (
    SELECT vec_id, min(vec_id) OVER (PARTITION BY v) AS own FROM state
  ) WHERE own = vec_id
), member AS MATERIALIZED (
  SELECT k.vec_id, x.v, x.nsq, x.cell
  FROM keep k LEFT JOIN (
    SELECT vec_id, v, nsq, CAST(cluster AS BIGINT) AS cell
    FROM read_parquet('{ANN_SCALED_DIR}/vectors/*/*.parquet',
                      hive_partitioning = true)
  ) x ON x.vec_id = k.vec_id
), rem AS (
  SELECT DISTINCT b.vec_id
  FROM member a JOIN member b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE a.nsq > 0 AND b.nsq > 0
    AND list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(range(1, {DIM} + 1),
                           i -> a.v[i] * b.v[i])),
            (s, x) -> s + x) / (sqrt(a.nsq) * sqrt(b.nsq)) >= {ANN_TAU}
)
SELECT m.vec_id, m.cell
FROM member m LEFT JOIN rem r ON m.vec_id = r.vec_id
WHERE r.vec_id IS NULL
ORDER BY m.vec_id
"""


@register("ann_refresh_scaled", oracle=_SCALED_ORACLE)
def ann_refresh_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC→ANN capstone at PRODUCTION sizing and kernels (section
    comment above): scaled change log (near-dup wave included) → fold →
    exact-dedup tier FIRST → ``build_ivf_index`` at nlist ∝ n with the
    vectorized assignment → per-cell SemDeDup over the persisted store.
    Output = refreshed index membership (vec_id, cell). The oracle
    trusts the persisted assignment and re-derives fold, exact-tier
    keepers, membership, and the pair rule in SQL."""
    idx = _ensure_ann_scaled_index(spark, sf_dir)
    removals = semdedup(spark, idx, tau=ANN_TAU).select("vec_id")
    vecs = spark.read.parquet(f"{idx}/vectors").select(
        "vec_id", F.col("cluster").cast("bigint").alias("cell")
    )
    return vecs.join(removals, "vec_id", "left_anti").orderBy("vec_id")


# --- streaming form: continuous index refresh ------------------------------


def ann_refresh_foreach_batch(
    centroids_dir: str, state_dir: str, out_dir: str, n_buckets: int = 8
):
    """foreachBatch handler: merge the micro-batch of envelope wire
    records into the bucket-partitioned state, then RECOMPUTE the
    index snapshot (route + dedup over CURRENT state) and commit it
    cell-partitioned under ``out_dir/epoch=<id>`` with an atomic
    ``_LATEST`` pointer. Epoch replays are idempotent end-to-end."""
    from ..streaming.commit import commit_pointer
    from ..streaming.partitioned_state import (
        apply_changes_partitioned,
        read_state_partitioned,
    )

    def handle(batch: DataFrame, epoch: int) -> None:
        spark = batch.sparkSession
        flat = unwrap_embeddings(batch)
        apply_changes_partitioned(
            spark, flat, epoch, state_dir,
            keys=["vec_id"], position=["__pos"], n_buckets=n_buckets,
        )
        state = read_state_partitioned(spark, state_dir).select("vec_id", "v")
        cents = spark.read.parquet(centroids_dir)
        snap = semdedup_survivors(route_to_cells(state, cents))
        snap_dir = os.path.join(out_dir, f"epoch={epoch}")
        # hash-repartition on the partition column: each cell's rows
        # land in one task → one file per cell directory, with write
        # parallelism = number of cells (the build_ivf_index rule;
        # repartition(1, ...) would serialize the whole snapshot)
        (
            snap.repartition("cell")
            .write.mode("overwrite").partitionBy("cell").parquet(snap_dir)
        )
        commit_pointer(out_dir, f"epoch={epoch}")

    return handle


# --- incremental form: cell-scoped refresh (r11 verdict #3) -----------------
#
# ``ann_refresh_foreach_batch`` recomputes the FULL snapshot every
# micro-batch — corpus-global refresh semantics, but at 100 TB a
# per-trigger full rebuild is the remaining cost cliff. SemDeDup's
# min-id owner rule is CELL-LOCAL, so a delta batch can only change the
# survivor set of cells touched by its new/updated/deleted vectors:
# the cell a changed vector routes INTO (a new member can remove
# higher-id neighbors) and the cell it previously lived IN (losing a
# member can UN-remove a vector it owned). Everything else is
# untouched by construction.
#
# Three manifest-committed tiers under ``index_dir`` (the
# partitioned-state commit protocol, cell-keyed):
#
# - ``members/``   — cell-partitioned FULL membership (vec_id, v, nsq):
#                    per epoch, touched cells are rewritten as
#                    (old members ∖ batch keys) ∪ (batch survivors
#                    routed here); untouched cells are never read.
# - ``survivors/`` — cell-partitioned post-dedup membership (vec_id):
#                    recomputed per touched cell from its full member
#                    set (NOT from previous survivors — a delete can
#                    un-remove, so survivors are not monotone).
# - ``lookup/``    — bucket-partitioned (vec_id → cell) via
#                    ``apply_changes_partitioned``: the O(touched-
#                    buckets) answer to "which cell did this key live
#                    in before the batch". Committed LAST, so a crash
#                    replay still sees the PRE-batch mapping.
#
# Replay idempotence: the touched-cell set is persisted per epoch
# (``touched_v{epoch}.json``, atomic-rename, written before any tier
# write) and reused on replay — the member/survivor set arithmetic is
# idempotent given the same touched set, and the manifest split-brain
# guard then re-commits byte-identical content.


def _read_cells(spark: SparkSession, tier_dir: str,
                cells: list[int] | None = None) -> DataFrame | None:
    """Assemble tier rows from each cell's latest committed epoch;
    ``cells`` restricts the read to those directories (None = all)."""
    from ..streaming.partitioned_state import _read_manifest

    manifest = _read_manifest(tier_dir) or {}
    want = manifest if cells is None else {
        c: e for c, e in manifest.items() if c in set(cells)
    }
    if not want:
        return None
    # group by epoch: reading a partition DIRECTORY drops the partition
    # column, so each epoch's cells are read under that epoch's
    # basePath (restoring ``cell``), then unioned — epoch count in a
    # manifest is bounded by distinct last-writer epochs, not cells
    by_epoch: dict[int, list[int]] = {}
    for c, e in want.items():
        by_epoch.setdefault(e, []).append(c)
    frames = []
    for e, cs in by_epoch.items():
        vdir = os.path.join(tier_dir, f"v{e}")
        frames.append(
            spark.read.option("basePath", vdir).parquet(
                *[os.path.join(vdir, f"cell={c}") for c in cs]
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def _commit_cells(df: DataFrame, tier_dir: str, epoch: int,
                  touched: list[int]) -> None:
    """Write ``df`` (must carry ``cell``) partitioned by cell under
    ``v{epoch}`` and commit its manifest and pointer (the partitioned-
    state protocol, split-brain-guarded)."""
    from ..streaming.partitioned_state import (
        _commit_manifest,
        _manifest_dumps,
        _read_manifest,
        _written_parts,
    )

    vdir = os.path.join(tier_dir, f"v{epoch}")
    (
        df.repartition(max(len(touched), 1), "cell")
        .write.mode("overwrite").partitionBy("cell").parquet(vdir)
    )
    # a touched cell can come out EMPTY (every member deleted or
    # re-routed away) — the dynamic-partition write creates no
    # directory for it, so it must LEAVE the manifest rather than
    # point at a missing path (the compact_state emptied-bucket rule;
    # found by the randomized-history differential in round 12)
    written = _written_parts(vdir, col="cell")
    # the converse is a PROTOCOL violation, never a legal state: a cell
    # present in df but absent from ``touched`` was physically written
    # yet would be silently dropped from the manifest (its vectors
    # vanish on the next read) — a stale touched set or a future caller
    # breaking the df-cells ⊆ touched invariant must fail loudly here
    extra = written - set(touched)
    if extra:
        raise ValueError(
            f"cells {sorted(extra)} written under {vdir} are not in the "
            f"epoch's touched set {sorted(touched)} — touched-set / "
            "batch mismatch; refusing to commit a manifest that would "
            "drop them"
        )
    manifest = _read_manifest(tier_dir) or {}
    for c in touched:
        if c in written:
            manifest[c] = epoch
        else:
            manifest.pop(c, None)
    _commit_manifest(tier_dir, epoch, _manifest_dumps(manifest))


#: target lookup-tier keys per bucket under the derived sizing rule
#: (n_buckets ∝ n — the round-12 probe measured FIXED 8 buckets degrade
#: the pre-batch lookup read to O(state), ratio 2.43 at 10× index).
LOOKUP_BUCKET_TARGET = 1000


def ann_refresh_incremental_foreach_batch(
    centroids_dir: str, index_dir: str, n_buckets: int | None = None
):
    """foreachBatch handler for CELL-SCOPED index refresh (section
    comment above): per micro-batch of (key, value) JSON envelope
    strings, only the cells touched by the batch are re-membered and
    re-deduplicated — per-epoch cost ∝ touched cells, never index
    size. The committed survivor set equals the full-recompute snapshot
    at every epoch (equality-pinned in tests).

    ``n_buckets`` sizes the lookup tier's bucketing. Default (None):
    derived at the FIRST batch from that batch's net key count
    (``max(8, ceil(n / LOOKUP_BUCKET_TARGET))`` — the bulk load sizes
    the tier) and persisted in ``lookup_meta.json``; every later batch
    reuses the persisted value, and an explicit ``n_buckets`` that
    disagrees with it RAISES — re-bucketing an existing lookup tier is
    only legal through ``compact_state``'s guarded path (a silently
    different bucketing would compute wrong bucket ids for the
    pre-batch read, miss keys' old cells, and leave stale members with
    no error).

    Batch routing uses the interpreted broadcast fold (O(batch·nlist))
    — right for delta batches; a bulk backfill should go through
    ``build_ivf_index``'s vectorized MLlib assignment instead.

    Round-14 (guide §4.4 duplicated-evaluation class): the epoch's
    driver jobs — bucket-count derivation, key-bucket collect, touched
    collect, members checkpoint, lookup apply — each re-executed the
    full JSON-parse + net-fold (+ routing crossJoin) lineage from
    scratch.  ``net`` and ``routed`` are BATCH-sized (delta, never
    index-sized), so both get a bounded ``lineage.cut`` (``local``)
    and every consumer reads the materialized blocks instead."""
    import json as _json

    from ..lineage import cut as _cut

    from ..streaming.commit import atomic_write
    from ..streaming.partitioned_state import (
        _bucket,
        _bucket_paths,
        _read_manifest,
        apply_changes_partitioned,
        pinned_bucket_count,
    )

    members_dir = os.path.join(index_dir, "members")
    survivors_dir = os.path.join(index_dir, "survivors")
    lookup_dir = os.path.join(index_dir, "lookup")
    for d in (members_dir, survivors_dir, lookup_dir):
        os.makedirs(d, exist_ok=True)
    meta_path = os.path.join(index_dir, "lookup_meta.json")

    def handle(batch: DataFrame, epoch: int) -> None:
        spark = batch.sparkSession
        flat = unwrap_embeddings(batch)
        # net effect per key within the batch (a key can insert, update
        # and delete inside one micro-batch)
        wn = W.partitionBy("vec_id").orderBy(F.desc("__pos"))
        net = _cut(
            flat.withColumn("__rn", F.row_number().over(wn))
            .filter(F.col("__rn") == 1).drop("__rn")
        )
        nb = pinned_bucket_count(
            meta_path, n_buckets, net.count,
            target=LOOKUP_BUCKET_TARGET,
        )
        cents = spark.read.parquet(centroids_dir)
        routed = _cut(route_to_cells(
            net.filter(F.col("__op") != "d").select("vec_id", "v"), cents
        ))
        # the batch's lookup buckets — ONE collect, reused twice: the
        # pre-batch lookup read below and the lookup-tier apply at the
        # end (passing it there skips apply's own distinct job)
        key_buckets = sorted({
            r["b"] for r in net.select(
                _bucket(["vec_id"], nb).alias("b")
            ).distinct().collect()
        })
        # pre-batch cells of every net key: targeted touched-bucket read
        # of the lookup tier (committed LAST, so still pre-batch here
        # even on a crash replay). Old cells and new cells are fused
        # into ONE driver job (union before collect — the round-12
        # probe showed the per-epoch floor is job count, not data).
        cells_src = routed.select("cell")
        lk_manifest = _read_manifest(lookup_dir) or {}
        if lk_manifest:
            paths = _bucket_paths(lookup_dir, {
                b: e for b, e in lk_manifest.items() if b in set(key_buckets)
            })
            if paths:
                prior = spark.read.parquet(*paths).filter(
                    F.col("__op") != "d"
                )
                cells_src = cells_src.unionByName(
                    prior.join(
                        net.select("vec_id"), "vec_id", "left_semi"
                    ).select("cell")
                )
        touched = sorted(
            r["cell"] for r in cells_src.distinct().collect()
        )
        # persist (or reuse) the epoch's touched set BEFORE any tier
        # write — replays after any crash window commit identically.
        # Lineage guard on reuse: a legitimate replay's recomputed set
        # is always ⊆ the persisted one (pre-lookup-commit crash →
        # identical; post-commit replay → old cells collapse into new
        # ones), so a persisted set that is NOT a superset means the
        # file belongs to a DIFFERENT history — the fresh-checkpoint-
        # over-existing-index misuse (epochs restart at 0) that would
        # otherwise commit cells absent from the stale set into the
        # store without manifest entries (silent vector loss).
        tpath = os.path.join(index_dir, f"touched_v{epoch}.json")
        if os.path.exists(tpath):
            with open(tpath) as fh:
                persisted = _json.load(fh)
            if not set(persisted) >= set(touched):
                raise ValueError(
                    f"persisted touched set for epoch {epoch} "
                    f"({sorted(persisted)}) is not a superset of the "
                    f"batch's recomputed cells ({touched}) — this is "
                    "not a replay of the epoch that wrote "
                    f"{tpath}; a fresh checkpoint must not reuse an "
                    "existing index_dir"
                )
            touched = persisted
        else:
            atomic_write(tpath, _json.dumps(touched))
        if touched:
            # members: (old ∖ batch keys) ∪ routed, touched cells only
            old_members = _read_cells(spark, members_dir, touched)
            new_members = routed.select("vec_id", "v", "nsq", "cell")
            if old_members is not None:
                keep = old_members.join(
                    net.select("vec_id"), "vec_id", "left_anti"
                )
                new_members = keep.select(
                    "vec_id", "v", "nsq", "cell"
                ).unionByName(new_members)
            # one pass feeds both commits
            new_members = new_members.localCheckpoint()
            _commit_cells(new_members, members_dir, epoch, touched)
            # survivors: full per-cell recompute over the touched cells
            surv = semdedup_survivors(new_members, ANN_TAU)
            _commit_cells(
                surv.select("vec_id", "cell"), survivors_dir, epoch,
                touched,
            )
        # lookup LAST (commit point for the old-cell source): net keys
        # with their new cell (NULL for deletes — the op column carries
        # the tombstone)
        lk = net.select("vec_id", "__op", "__pos").join(
            routed.select("vec_id", "cell"), "vec_id", "left"
        )
        apply_changes_partitioned(
            spark, lk, epoch, lookup_dir,
            keys=["vec_id"], position=["__pos"], n_buckets=nb,
            touched=key_buckets,
        )

    return handle


def read_incremental_index(spark: SparkSession,
                           index_dir: str) -> DataFrame | None:
    """Current survivor set (vec_id, cell) assembled from the
    survivors tier's manifest."""
    return _read_cells(spark, os.path.join(index_dir, "survivors"))


def start_ann_refresh_incremental_stream(
    spark: SparkSession,
    stage_dir: str,
    centroids_dir: str,
    index_dir: str,
    checkpoint: str,
    n_buckets: int | None = None,
):
    """Cell-scoped refresh as a Structured Streaming query over a
    PARQUET file source of (key, value) JSON envelope STRINGS (same
    wire as :func:`start_ann_refresh_stream`), availableNow."""
    os.makedirs(index_dir, exist_ok=True)
    stream = (
        spark.readStream.schema("key STRING, value STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(stage_dir)
    )
    return (
        stream.writeStream
        .foreachBatch(
            ann_refresh_incremental_foreach_batch(
                centroids_dir, index_dir, n_buckets
            )
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def start_ann_refresh_stream(
    spark: SparkSession,
    stage_dir: str,
    centroids_dir: str,
    state_dir: str,
    out_dir: str,
    checkpoint: str,
    n_buckets: int = 8,
):
    """The capstone as a real Structured Streaming query over a
    PARQUET file source of (key, value) JSON envelope STRINGS (the
    shape ``embeddings_envelopes`` emits — raw ``.json`` files staged
    here would yield zero batches), availableNow — drains what
    exists then stops; re-invoke after a restart and the checkpoint
    resumes from the first unprocessed file."""
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
            ann_refresh_foreach_batch(
                centroids_dir, state_dir, out_dir, n_buckets
            )
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


# --- oracle-checked differential for the incremental EXECUTION path --------
#
# The equality tests pin incremental == full-recompute at every epoch,
# but (r12 verdict #1) no registered query ran the incremental
# machinery — tier commits, manifest protocol, touched-set persistence,
# lookup-tier bucketing — under the driver's hash gate. This query does,
# the `cdc_lifecycle_snapshot` precedent: the REAL foreachBatch handler
# processes the synthetic change log in three op-phased epochs and the
# final committed survivors tier must hash-equal the corpus-global
# full-recompute oracle (`_ORACLE` — the differential the retired batch
# form carried). Per-key delivery order is position-monotone by
# construction: every key's create (pos·10+1) precedes its update
# (·10+2) precedes its delete (·10+3). The tiers of each invocation live
# in a fresh ``lineage.scratch_dir``.


@register("ann_refresh_incremental", oracle=_ORACLE)
def ann_refresh_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell-scoped incremental refresh, EXECUTION-path differential:
    the synthetic embeddings change log is delivered through the real
    :func:`ann_refresh_incremental_foreach_batch` handler in THREE
    epochs split by op (all creates, then all updates, then all
    deletes) — epoch 0 is the bulk load that sizes the lookup tier's
    derived bucketing, epoch 1 exercises the re-route path (old cell ∪
    new cell both touched), epoch 2 the delete/un-remove path — and
    the answer is the SURVIVORS TIER as committed on disk (manifest-
    resolved cell reads), not an in-memory plan. Hash equality against
    the full-recompute oracle proves the tier protocol — touched-set
    scoping + persistence, members/survivors rewrites, emptied-cell
    manifest rule, lookup commit ordering — changes cost, never
    answers."""
    idx = _ensure_ivf_index(spark, sf_dir)
    cents_dir = os.path.join(idx, "centroids")
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    log = embeddings_change_log(emb)
    index_dir = scratch_dir("dis_ann_incr_")
    handle = ann_refresh_incremental_foreach_batch(cents_dir, index_dir)
    for epoch, op in enumerate(("c", "u", "d")):
        handle(
            embeddings_envelopes(log.filter(F.col("__op") == op)), epoch
        )
    surv = read_incremental_index(spark, index_dir)
    return surv.select(
        "vec_id", F.col("cell").cast("bigint").alias("cell")
    ).orderBy("vec_id")

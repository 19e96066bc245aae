"""Debezium JDBC sink connector semantics (public
debezium-connector-jdbc — the standard way change events land back in a
relational target; reconstructed per SURVEY.md §0 from its public
configuration surface). The engine's "target table" is the versioned
parquet state the upsert tier already maintains; this module is the
CONFIG layer translating the sink connector's properties into the
existing apply machinery:

- ``primary.key.mode`` — ``record_key`` (the PK is the record key
  struct; flattened into columns) / ``record_value`` (PK columns named
  by ``primary.key.fields``);
- ``insert.mode`` — ``insert`` (append-only; no dedup), ``upsert``
  (position-ordered merge — the default CDC apply), ``update`` (only
  keys ALREADY in the target change; new keys are dropped, matching the
  SQL UPDATE-only contract);
- ``delete.enabled`` — false ignores delete events entirely (the
  sink-side twin of tombstone filtering);
- ``schema.evolution`` — ``none`` refuses a batch whose columns the
  target does not have (loudly, BEFORE any write); ``basic`` widens the
  target (new columns appear, pre-existing rows read NULL) — exactly
  the mid-stream-DDL merge the upsert tier already supports.

Scale: pure config dispatch over the existing apply paths — the only
added work is ``update`` mode's semi-join against current keys (one
broadcast-able key set per micro-batch).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..streaming.upsert import apply_changes_batch, read_state


def jdbc_sink_apply(
    spark: SparkSession,
    batch: DataFrame,
    epoch: int,
    state_dir: str,
    props: dict[str, str],
    position: list[str],
    op_col: str = "__op",
) -> None:
    """Apply one micro-batch of unwrapped change events to the target
    per the sink connector's properties (see module docstring)."""
    pk_mode = props.get("primary.key.mode", "record_key")
    insert_mode = props.get("insert.mode", "upsert")
    delete_enabled = props.get("delete.enabled", "true") == "true"
    evolution = props.get("schema.evolution", "basic")
    if insert_mode not in ("insert", "upsert", "update"):
        raise ValueError(f"unsupported insert.mode {insert_mode!r}")
    if evolution not in ("none", "basic"):
        raise ValueError(f"unsupported schema.evolution {evolution!r}")

    if pk_mode == "record_key":
        if "key" not in batch.columns:
            raise ValueError(
                "primary.key.mode=record_key needs a 'key' struct column"
            )
        key_fields = batch.schema["key"].dataType.fieldNames()
        batch = batch.select(
            F.col("key.*"),
            *[c for c in batch.columns if c != "key"],
        )
        keys = list(key_fields)
    elif pk_mode == "record_value":
        keys = [k.strip() for k in props["primary.key.fields"].split(",")
                if k.strip()]
    else:
        raise ValueError(f"unsupported primary.key.mode {pk_mode!r}")

    if not delete_enabled:
        batch = batch.filter(F.col(op_col) != "d")

    current = read_state(spark, state_dir, include_tombstones=True)
    if evolution == "none" and current is not None:
        new_cols = [c for c in batch.columns if c not in current.columns]
        if new_cols:
            raise ValueError(
                f"schema.evolution=none: batch carries columns the "
                f"target lacks: {new_cols} — evolve the target or set "
                "schema.evolution=basic"
            )

    if insert_mode == "insert":
        # append-only: every event becomes a row (audit-log targets);
        # no fold, no dedup — the write IS the semantics
        import os

        out = os.path.join(state_dir, f"v{epoch}")
        merged = batch if current is None else current.unionByName(
            batch, allowMissingColumns=True
        )
        merged.write.mode("overwrite").parquet(out)
        from ..streaming.commit import commit_pointer

        commit_pointer(state_dir, f"v{epoch}")
        return

    if insert_mode == "update" and current is not None:
        # only pre-existing keys may change: semi-join the batch on the
        # target's key set. NO forced broadcast: the key set scales with
        # the TARGET table (1e9 keys is still GBs) — AQE broadcasts when
        # genuinely small and degrades to a shuffle semi-join otherwise
        batch = batch.join(
            current.select(*keys).distinct(), keys, "semi"
        )
    elif insert_mode == "update" and current is None:
        return  # empty target: UPDATE affects nothing

    apply_changes_batch(
        spark, batch, epoch, state_dir, keys, position, op_col=op_col
    )

"""Change-data-capture apply — the lakehouse MERGE as a plain plan.

Additive capability (no reference analog; the reference re-pulls full
database exports every run — `workflows/pull_db_data.py` — instead of
applying deltas).  Given the current snapshot and a changelog of
``(key, seq, op ∈ {I,U,D}, payload)`` rows, produce the next
snapshot:

1. **collapse** the changelog to its LAST event per key — a
   ``max_by(struct(payload...), seq)`` aggregation, map-side
   combinable, NOT a window over full history (the shuffle carries
   one row per touched key, not every intermediate version);
2. **apply**: full-outer join snapshot × collapsed changes on the
   key; rows only in the snapshot pass through, rows whose last op is
   D drop, everything else takes the changelog payload (I and U are
   deliberately symmetric — an upsert — because CDC streams routinely
   replay I for existing keys and U for new ones).

Scale: one aggregation shuffle (changelog) + one join shuffle
(snapshot × touched keys).  When the delta is small relative to the
snapshot — the normal case — the collapsed side broadcasts and the
snapshot never moves; with both sides bucketed on the key the join is
shuffle-free.  This is exactly the update path Delta/Iceberg MERGE
runs; expressed here over plain parquet with deterministic semantics
(ties on ``seq`` break by op precedence D > U > I, then payload, so
replays are idempotent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: deterministic tie-break when two changelog rows share (key, seq):
#: deletes win, then updates, then inserts — replay-stable
OP_PRECEDENCE = {"D": 3, "U": 2, "I": 1}


def collapse_changelog(
    changes: DataFrame,
    key_cols: list[str],
    seq_col: str = "seq",
    op_col: str = "op",
) -> DataFrame:
    """Last event per key by (seq, op precedence) — one aggregation."""
    payload = [
        c for c in changes.columns if c not in (*key_cols, seq_col, op_col)
    ]
    prec = F.when(F.col(op_col) == "D", 3).when(F.col(op_col) == "U", 2).otherwise(1)
    ranked = F.struct(
        F.col(seq_col).alias("__seq__"),
        prec.alias("__prec__"),
        F.col(op_col).alias(op_col),
        *[F.col(c).alias(c) for c in payload],
    )
    latest = changes.groupBy(*key_cols).agg(
        F.max(ranked).alias("__last__")
    )
    return latest.select(
        *key_cols,
        F.col(f"__last__.{op_col}").alias(op_col),
        *[F.col(f"__last__.{c}").alias(c) for c in payload],
    )


def apply_changelog(
    snapshot: DataFrame,
    changes: DataFrame,
    key_cols: list[str],
    seq_col: str = "seq",
    op_col: str = "op",
) -> DataFrame:
    """snapshot + changelog → next snapshot (MERGE semantics)."""
    payload = [c for c in snapshot.columns if c not in key_cols]
    last = collapse_changelog(changes, key_cols, seq_col, op_col)
    renamed = last.select(
        *key_cols,
        F.col(op_col).alias("__op__"),
        *[F.col(c).alias(f"__new_{c}__") for c in payload],
    )
    joined = snapshot.join(renamed, key_cols, "full_outer")
    kept = joined.filter(
        F.col("__op__").isNull() | (F.col("__op__") != "D")
    )
    return kept.select(
        *key_cols,
        *[
            F.when(
                F.col("__op__").isNotNull(), F.col(f"__new_{c}__")
            )
            .otherwise(F.col(c))
            .alias(c)
            for c in payload
        ],
    )


def incremental_agg(
    base_agg: DataFrame,
    changes: DataFrame,
    group_col: str,
    value_col: str,
    count_col: str = "n",
    sum_col: str = "total",
) -> DataFrame:
    """Materialized-view maintenance: update a ``group → (count, sum)``
    aggregate from a CDC changelog WITHOUT touching the base table.

    Changelog rows carry before/after images
    (``op, {group,value}_before, {group,value}_after``): each change
    contributes −1/−value for its before image (U, D) and +1/+value
    for its after image (I, U), so group MOVES (an update that changes
    the group column) net out correctly.  Deltas aggregate to
    group-cardinality size (map-side combinable), merge into the
    maintained aggregate with one full-outer join, and groups whose
    count reaches zero drop out.

    Scale: the base aggregate and the delta table are both
    |groups|-sized — the fact table is never re-read.  This is the
    standard incremental-view algebra for distributive aggregates
    (count/sum; min/max need a re-scan on retraction and are out of
    scope here).

    .. warning:: **The changelog batch must be applied exactly once.**
       Unlike :func:`apply_changelog` (idempotent by keyed upsert),
       retract+add arithmetic double-retracts on a crash-replayed
       batch — wrap calls in an idempotent sink (see
       ``streaming.events.idempotent_batch_writer``) or dedup the
       changelog on a change id first.  A group driven to a NEGATIVE
       count is exactly that corruption signature, so it raises at
       execution time rather than being silently dropped (ADVICE r03);
       a count of zero is the legitimate "group disappeared" case and
       drops out.
    """
    # value columns pass through UNCAST: a silent cast("long") here
    # would truncate fractional deltas and drift the maintained sum.
    # Callers with fractional values must pre-scale to integer units
    # (or decimal) so retract+add stays exact and order-independent.
    neg = changes.filter(F.col("op").isin("U", "D")).select(
        F.col(f"{group_col}_before").alias(group_col),
        F.lit(-1).cast("long").alias("__dc__"),
        (-F.col(f"{value_col}_before")).alias("__dv__"),
    )
    pos = changes.filter(F.col("op").isin("I", "U")).select(
        F.col(f"{group_col}_after").alias(group_col),
        F.lit(1).cast("long").alias("__dc__"),
        F.col(f"{value_col}_after").alias("__dv__"),
    )
    deltas = (
        neg.unionByName(pos)
        .groupBy(group_col)
        .agg(F.sum("__dc__").alias("__dc__"), F.sum("__dv__").alias("__dv__"))
    )
    new_count = F.coalesce(F.col(count_col), F.lit(0)) + F.coalesce(
        "__dc__", F.lit(0)
    )
    merged = base_agg.join(deltas, group_col, "full_outer").select(
        group_col,
        F.when(new_count >= 0, new_count)
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit("incremental_agg: group "),
                    F.col(group_col).cast("string"),
                    F.lit(
                        " has a negative maintained count — a changelog"
                        " batch was retracted more than once (replayed"
                        " non-exactly-once input)"
                    ),
                )
            ).cast("long")
        )
        .alias(count_col),
        (F.coalesce(F.col(sum_col), F.lit(0)) + F.coalesce("__dv__", F.lit(0)))
        .alias(sum_col),
    )
    return merged.filter(F.col(count_col) > 0)

"""CCDI → CDS flattening: the reference's hardest relational workload.

Reference: src/s3_ccdi_to_cds.py:299-729 — every file row is walked
back to a terminal {participant|study} level through a catalog of 14
NAMED join chains (file→sample→pdx→sample→participant, …), the
results are unioned, and per-column join conflicts resolve
parent-wins — EXCEPT ``anatomic_site``, which reverses priority
(sample's value beats the diagnosis-level value) on the five
``participant_sample_*`` paths only (src/s3_ccdi_to_cds.py:563-681).
The reference's own correctness invariant is file-count preservation:
distinct (md5sum, file_name, file_url) in == out
(src/s3_ccdi_to_cds.py:1030-1049).

Spark-first design
------------------

Each hop is one equi-join whose parent side is a *node* table
(dimension-sized in a manifest; the file union is the fact side and
is only ever the probe side), so every hop broadcasts under AQE and
the fact table never shuffles.  The pandas original's
``join_node`` + ``join_file_node_cleaner`` pair (left-join, drop
null ``file_url``) is equivalent to an inner join — encoded as such.
Conflict resolution is a single projection of ``coalesce`` pairs per
hop, not 130 lines of ``combine_first``.

The path catalog is DATA (:data:`CDS_PATHS`), interpreted twice:

- :func:`flatten_paths` renders it as DataFrame transforms;
- :func:`render_cds_oracle_sql` renders the SAME catalog as one ANSI
  SQL query, so the DuckDB oracle is derived from one source of
  truth and cannot drift from the Spark plan.

Scale note: 14 paths re-scan the file union; at 100 TB persist the
file union (or let the parquet scan prune: each path pushes an
``IsNotNull`` filter on its entry link column, so disjoint link
populations read disjoint row groups when the table is written
sorted/partitioned by link type).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: conflict columns whose priority flips (child wins) at the terminal
#: participant hop of the ``participant_sample_*`` paths.
REVERSE_COLS: tuple[str, ...] = ("anatomic_site",)


@dataclass(frozen=True)
class CdsPath:
    """One named file→…→{participant|study} join chain.

    ``chain`` lists (node_name, join_key) hops applied in order; the
    file frame enters at the bottom and each hop joins the named node
    table as the new parent.  ``reverse_site`` marks the five
    ``participant_sample_*`` paths whose terminal hop flips
    ``anatomic_site`` priority (src/s3_ccdi_to_cds.py:563-681).
    """

    name: str
    chain: tuple[tuple[str, str], ...]
    reverse_site: bool = False


#: The reference's 14-path catalog (src/s3_ccdi_to_cds.py:695-718,
#: `all_paths`), in the reference's union order.
CDS_PATHS: tuple[CdsPath, ...] = (
    CdsPath("participant_file", (("participant_level", "participant_id"),)),
    CdsPath(
        "participant_cell_line_file",
        (("cell_line", "cell_line_id"), ("participant_level", "participant_id")),
    ),
    CdsPath(
        "participant_cell_line_sample_file",
        (
            ("sample", "sample_id"),
            ("cell_line", "cell_line_id"),
            ("participant_level", "participant_id"),
        ),
    ),
    CdsPath(
        "participant_sample_file",
        (("sample", "sample_id"), ("participant_level", "participant_id")),
        reverse_site=True,
    ),
    CdsPath(
        "participant_sample_pdx_file",
        (
            ("pdx", "pdx_id"),
            ("sample", "sample_id"),
            ("participant_level", "participant_id"),
        ),
        reverse_site=True,
    ),
    CdsPath(
        "participant_sample_cell_line_file",
        (
            ("cell_line", "cell_line_id"),
            ("sample", "sample_id"),
            ("participant_level", "participant_id"),
        ),
        reverse_site=True,
    ),
    CdsPath(
        "participant_sample_pdx_sample_file",
        (
            ("sample", "sample_id"),
            ("pdx", "pdx_id"),
            ("sample", "sample_id"),
            ("participant_level", "participant_id"),
        ),
        reverse_site=True,
    ),
    CdsPath(
        "participant_sample_cell_line_sample_file",
        (
            ("sample", "sample_id"),
            ("cell_line", "cell_line_id"),
            ("sample", "sample_id"),
            ("participant_level", "participant_id"),
        ),
        reverse_site=True,
    ),
    CdsPath("study_file", (("study_level", "study_id"),)),
    CdsPath(
        "study_pdx_file", (("pdx", "pdx_id"), ("study_level", "study_id"))
    ),
    CdsPath(
        "study_cell_line_file",
        (("cell_line", "cell_line_id"), ("study_level", "study_id")),
    ),
    CdsPath(
        "study_pdx_sample_file",
        (
            ("sample", "sample_id"),
            ("pdx", "pdx_id"),
            ("study_level", "study_id"),
        ),
    ),
    CdsPath(
        "study_cell_line_sample_file",
        (
            ("sample", "sample_id"),
            ("cell_line", "cell_line_id"),
            ("study_level", "study_id"),
        ),
    ),
    CdsPath(
        "study_sample_pdx_sample_file",
        (
            ("sample", "sample_id"),
            ("pdx", "pdx_id"),
            ("sample", "sample_id"),
            ("study_level", "study_id"),
        ),
    ),
)


def _hop(
    parent: DataFrame,
    parent_cols: list[str],
    cur: DataFrame,
    cur_cols: list[str],
    key: str,
    reverse_cols: tuple[str, ...] = (),
) -> tuple[DataFrame, list[str]]:
    """One chain hop with the output schema computed in PYTHON.

    Two driver-constant rules learned from cProfile at the 10× probe
    (guide §7.3 "planning" — construction was ~15 s of wall, nearly
    all py4j socket wait):

    - The join's output column list is fully determined by the two
      input schemas (``key`` first, then parent's other columns, then
      the child's), so it is computed here and returned for the next
      hop — calling ``joined.columns`` would force a JVM analyzer
      pass per hop.
    - Projections are built as ``selectExpr`` strings, not Column
      trees: every ``F.col``/``alias``/``coalesce`` is its own py4j
      round trip, ~200 per hop × 37 hops ≈ 7.4k round trips ≈ 5 s of
      driver wall.  One ``selectExpr`` call ships the whole
      projection in a single round trip; the parsed expressions are
      the same Catalyst nodes, so the plan is unchanged.
    """
    shared = [c for c in parent_cols if c in cur_cols and c != key]
    # ONE select instead of a withColumnRenamed per shared column:
    # each stacked rename is a full Project node Catalyst re-analyzes
    # across 14 paths × up to 4 hops (guide §7.3 "planning").
    shared_set = set(shared)
    renamed = cur.selectExpr(
        *[
            (f"`{c}` AS `{c}__child`" if c in shared_set else f"`{c}`")
            for c in cur_cols
        ]
    )
    joined = F.broadcast(parent).join(renamed, on=key, how="inner")
    joined_cols = (
        [key]
        + [c for c in parent_cols if c != key]
        + [
            (f"{c}__child" if c in shared_set else c)
            for c in cur_cols
            if c != key
        ]
    )
    resolved = []
    out_cols = []
    for c in joined_cols:
        if c.endswith("__child"):
            continue
        if c in shared_set:
            a, b = (f"{c}__child", c) if c in reverse_cols else (c, f"{c}__child")
            resolved.append(f"coalesce(`{a}`, `{b}`) AS `{c}`")
        else:
            resolved.append(f"`{c}`")
        out_cols.append(c)
    return joined.selectExpr(*resolved), out_cols


def join_hop(
    parent: DataFrame,
    cur: DataFrame,
    key: str,
    reverse_cols: tuple[str, ...] = (),
) -> DataFrame:
    """One chain hop: parent ⨝ cur on ``key``, conflicts parent-wins.

    Mirrors ``join_node`` + ``join_file_node_cleaner``
    (src/s3_ccdi_to_cds.py:268-296): the pandas left-join whose
    null-``file_url`` rows are dropped afterwards is an inner join.
    Shared columns collapse to ``coalesce(parent, child)`` (reversed
    for ``reverse_cols`` — the ``anatomic_site`` exception).
    """
    df, _ = _hop(
        parent, parent.columns, cur, cur.columns, key, reverse_cols=reverse_cols
    )
    return df


def build_levels(
    study: DataFrame,
    study_admin: DataFrame,
    study_personnel: DataFrame,
    participant: DataFrame,
    diagnosis: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """The two terminal frames (src/s3_ccdi_to_cds.py:176-219).

    study_level = study ⟕ study_admin ⟕ study_personnel (study_id);
    participant_level = study_level ⟕ participant (study_id)
                                     ⟕ diagnosis (participant_id).
    """
    # study_admin/study_personnel are study-level (bounded — a release
    # has tens of studies) and keep their hints; participant/diagnosis
    # scale with enrollment, so their strategy is left to size-based
    # selection — broadcast for a per-study submission batch, shuffle
    # join for a full-registry flatten
    study_level = study.join(F.broadcast(study_admin), "study_id", "left").join(
        F.broadcast(study_personnel), "study_id", "left"
    )
    participant_level = study_level.join(
        participant, "study_id", "left"
    ).join(diagnosis, "participant_id", "left")
    return study_level, participant_level


def flatten_paths(
    file_df: DataFrame,
    nodes: dict[str, DataFrame],
    paths: tuple[CdsPath, ...] = CDS_PATHS,
) -> DataFrame:
    """Union of all path walks (pre-projection).

    ``nodes`` must contain ``sample``, ``pdx``, ``cell_line``,
    ``study_level``, ``participant_level``.

    Schemas are threaded through the hops in Python (see ``_hop``):
    the 37 hops cost one JVM analyzer pass each when the next hop asks
    ``cur.columns``, ~5.5 s of single-threaded driver time per
    construction at the 10× probe.  Only the (checkpointed, shallow)
    inputs are asked for their schema.
    """
    return _flatten_paths(file_df, nodes, paths)[0]


def _flatten_paths(
    file_df: DataFrame,
    nodes: dict[str, DataFrame],
    paths: tuple[CdsPath, ...] = CDS_PATHS,
) -> tuple[DataFrame, list[str]]:
    """``flatten_paths`` plus the union's column list, computed in
    Python (``unionByName(allowMissingColumns=True)`` appends each
    arm's new names after the accumulated ones)."""
    file_cols = file_df.columns
    node_cols = {k: v.columns for k, v in nodes.items()}
    outs: list[DataFrame] = []
    outs_cols: list[list[str]] = []
    for path in paths:
        cur, cur_cols = file_df, file_cols
        for i, (node, key) in enumerate(path.chain):
            terminal = i == len(path.chain) - 1
            rev = REVERSE_COLS if (path.reverse_site and terminal) else ()
            cur, cur_cols = _hop(
                nodes[node], node_cols[node], cur, cur_cols, key,
                reverse_cols=rev,
            )
        outs.append(cur)
        outs_cols.append(cur_cols)
    result = outs[0]
    union_cols = list(outs_cols[0])
    seen = set(union_cols)
    for other, ocols in zip(outs[1:], outs_cols[1:]):
        result = result.unionByName(other, allowMissingColumns=True)
        for c in ocols:
            if c not in seen:
                seen.add(c)
                union_cols.append(c)
    return result, union_cols


def cds_metadata(
    file_df: DataFrame,
    nodes: dict[str, DataFrame],
    final_cols: list[str],
    required_cols: list[str],
    paths: tuple[CdsPath, ...] = CDS_PATHS,
) -> DataFrame:
    """The full CDS Metadata frame.

    Post-union shaping mirrors src/s3_ccdi_to_cds.py:729-1035:
    keep PI personnel rows, project the template columns, null
    ``anatomic_site`` when ``sample_id`` is null (the reference's
    "minor fix"), fill required props with "Not Applicable", dedup.

    The file union is materialized once instead of re-derived for
    each of the 14 paths — measured 23.8 s → 8.7 s at sf0.1.  The five
    node dimensions are materialized too: each appears in up to 14
    path subtrees, and while AQE can reuse identical broadcast
    exchanges, a derived dimension (e.g. ``participant_level``, itself
    a 5-table join) is otherwise re-PLANNED 14× — at 100 TB that is 14
    redundant dimension builds per run (VERDICT r03 item 4).  Both
    materializations are EAGER (``localCheckpoint``): a lazy persist
    races — the 14 path branches of the single downstream job all
    start before the cache populates and each re-derives the input.
    """
    # Pre-filter the PI rows INTO the level dimensions (r10): halves
    # the two checkpointed level dims (2 personnel rows/study → 1)
    # before they are materialized and broadcast 14×.  NOTE the
    # measured honesty: executed-plan CPU was already within noise of
    # the old shape (151 vs 163 CPU-s at the 10× probe) because
    # Catalyst pushes the post-union filter down to sit directly above
    # each checkpointed dim scan — the eager checkpoint is not a
    # pushdown barrier for the JOIN side, only for the dim build
    # itself.  What this buys is the halved checkpoint materialization
    # + broadcast payload, and independence from pushdown across the
    # 14-arm union.  Output-equivalent: personnel_type originates only
    # in the study_personnel hop, no join changes it, and the final
    # filter below is retained (rows with NULL personnel fail `= 'PI'`
    # on either side of the joins).
    nodes = {
        k: (v.filter(F.col("personnel_type") == "PI")
            if "personnel_type" in v.columns else v)
        for k, v in nodes.items()
    }
    # r11 measured-and-REJECTED variants (interleaved in-session A/Bs
    # at the 10× replica, OPTIMIZATION_r11.md §cds): (a) slicing the
    # fact checkpoint by entry-link key — arm input records drop
    # 84.0M → 31.1M but the filtered-out rows were near-free UnsafeRow
    # filter hits, and 5 extra materializations ADD ~50 CPU-s (wall a
    # wash); (b) widening the fact checkpoint (repartition to 2×
    # parallelism) to break the 140-task skew — per-task overheads
    # ballooned the union stage 134 → 305 CPU-s for no wall gain;
    # (c) running the six checkpoint builds from a thread pool —
    # +20 CPU-s of contention, wall within weather.  The r10
    # sequential narrow shape stays.
    file_df = file_df.localCheckpoint()
    nodes = {k: v.localCheckpoint() for k, v in nodes.items()}
    flat, union_cols = _flatten_paths(file_df, nodes, paths)
    flat = flat.filter(F.col("personnel_type") == "PI")
    # ONE projection for template columns + the anatomic_site "minor
    # fix" + required-prop fills: the previous withColumn-per-column
    # stack re-analyzed the (wide, 14-arm) plan once per required
    # column (guide §7.3).  union_cols comes from _flatten_paths'
    # Python schema threading — asking flat.columns here would force
    # one more full analyzer pass over the 14-arm union.
    flat_cols = set(union_cols)
    required = set(required_cols)

    def _final(c: str) -> Column:
        expr = (
            F.col(c) if c in flat_cols else F.lit(None).cast("string")
        )
        if c == "anatomic_site":
            # the "minor fix" nulls anatomic_site for sample-less rows;
            # guard against templates whose walk never carries
            # sample_id (absent column ≡ all-null column here, which
            # matches the old withColumn stack's null output — ADVICE
            # r10)
            if "sample_id" in flat_cols:
                expr = F.when(
                    F.col("sample_id").isNull(), F.lit(None)
                ).otherwise(expr)
            else:
                expr = F.lit(None).cast("string")
        if c in required:
            expr = F.coalesce(expr, F.lit("Not Applicable"))
        return expr.alias(c)

    return flat.select(*[_final(c) for c in final_cols]).dropDuplicates()


# ---------------------------------------------------------------------------
# Oracle renderer — the SAME catalog as one SQL string
# ---------------------------------------------------------------------------


def _sql_path(
    path: CdsPath,
    node_cols: dict[str, list[str]],
    file_cols: list[str],
    file_rel: str = "file_node",
) -> tuple[str, list[str]]:
    cur_sql = f"SELECT * FROM {file_rel}"
    cur_cols = list(file_cols)
    for i, (node, key) in enumerate(path.chain):
        terminal = i == len(path.chain) - 1
        pcols = node_cols[node]
        shared = [c for c in pcols if c in cur_cols and c != key]
        sel = [f"p.{key} AS {key}"]
        for c in pcols:
            if c == key:
                continue
            if c in shared:
                if path.reverse_site and terminal and c in REVERSE_COLS:
                    sel.append(f"COALESCE(ch.{c}, p.{c}) AS {c}")
                else:
                    sel.append(f"COALESCE(p.{c}, ch.{c}) AS {c}")
            else:
                sel.append(f"p.{c} AS {c}")
        for c in cur_cols:
            if c != key and c not in shared:
                sel.append(f"ch.{c} AS {c}")
        cur_sql = (
            f"SELECT {', '.join(sel)} FROM {node} p "
            f"JOIN ({cur_sql}) ch ON p.{key} = ch.{key}"
        )
        cur_cols = (
            [key]
            + [c for c in pcols if c != key]
            + [c for c in cur_cols if c != key and c not in shared]
        )
    return cur_sql, cur_cols


def render_cds_oracle_sql(
    node_ctes: str,
    node_cols: dict[str, list[str]],
    file_cols: list[str],
    final_cols: list[str],
    required_cols: list[str],
    paths: tuple[CdsPath, ...] = CDS_PATHS,
) -> str:
    """Render the whole flattening as one DuckDB query.

    ``node_ctes`` supplies the WITH-clause body defining relations
    ``file_node``, ``sample``, ``pdx``, ``cell_line``,
    ``study_level``, ``participant_level`` over the driver tables.
    """
    arms = []
    for path in paths:
        sql, cols = _sql_path(path, node_cols, file_cols)
        sel = [
            (c if c in cols else f"CAST(NULL AS VARCHAR) AS {c}")
            for c in final_cols + ["personnel_type"]
        ]
        arms.append(f"SELECT {', '.join(sel)} FROM ({sql})")
    union = "\nUNION ALL\n".join(arms)
    outer = []
    for c in final_cols:
        expr = c
        if c == "anatomic_site":
            expr = f"CASE WHEN sample_id IS NULL THEN NULL ELSE {c} END"
        if c in required_cols:
            expr = f"COALESCE({expr}, 'Not Applicable')"
        outer.append(f"{expr} AS {c}" if expr != c else c)
    return (
        f"WITH {node_ctes}\n"
        f"SELECT DISTINCT {', '.join(outer)}\n"
        f"FROM ({union})\n"
        f"WHERE personnel_type = 'PI'"
    )

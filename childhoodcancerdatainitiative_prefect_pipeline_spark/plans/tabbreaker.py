"""Composed CCDI → TabBreaker plan.

Spark re-expression of the reference's ``CCDI_to_TabBreaker`` flow
(src/s3_ccdi_to_tabbreakery.py:45-142, DCC variant
src/dcc_tabbreaker.py:45-165): break a validated manifest workbook
into one loader-ready frame per node, minting deterministic surrogate
``id`` values so keys are unique across studies.

Per node sheet (src/s3_ccdi_to_tabbreakery.py:90-125):

1. stamp ``type`` = node label;
2. the node's key property mints ``id`` =
   ``uuid5(ccdi_ns, f"{study}::{node}::{key}")`` (null key → null id);
3. every linking column ``parent.prop`` (dotted, not already
   ``parent.id``) mints ``parent.id`` from its value under the
   PARENT's node label;
4. the redundant ``parent.parent_id`` linking columns are dropped
   (they break the data loader; other dotted columns are kept);
5. sheets that are empty (all-null content) or contain only linking
   columns are pruned from the output workbook.

The reference's per-cell ``df[col].apply(get_ccdi_id)`` loops
(s3_ccdi_to_tabbreakery.py:96-106) become one codegen projection per
sheet: the uuid mint is pure hex-string surgery over ``sha1``/``md5``
built-ins (functions/ids.py), so breaking a node is shuffle-free —
a 100 TB manifest breaks at scan speed with zero exchanges.

``surrogate="uuid5"`` (default) is bit-exact with the reference's
``uuid.uuid5`` (golden vectors in tests).  ``seed="ccdi-dcc",
multi_value=True`` selects the DCC variant (src/dcc_tabbreaker.py:
12-41): its own namespace, per-item minting of ``;``-delimited
multi-values with whitespace trim, results re-joined by ``;``.  ``surrogate="md5"`` swaps
in the v3-shaped md5 twin so the full composition is hash-checkable
against a DuckDB oracle (DuckDB 1.0 has no ``sha1``); the two differ
only in the hash primitive feeding the same bit surgery.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.column import Column

from ..functions.ids import deterministic_guid_expr, uuid5_expr


def _surrogate(name: Column, kind: str, seed: str) -> Column:
    if kind == "uuid5":
        return uuid5_expr(name, seed=seed)
    if kind == "md5":
        return deterministic_guid_expr(name, namespace=seed)
    raise ValueError(f"unknown surrogate kind {kind!r}")


def _mint(
    prefix: str, col: Column, kind: str, seed: str, multi_value: bool
) -> Column:
    """Mint a surrogate for one value — or, in the DCC variant
    (src/dcc_tabbreaker.py:18-41), for EACH ``;``-delimited item
    (trimmed) with the results re-joined by ``;``."""
    if not multi_value:
        return _surrogate(F.concat(F.lit(prefix), col), kind, seed)
    minted = F.transform(
        F.split(col, ";"),
        lambda p: _surrogate(F.concat(F.lit(prefix), F.trim(p)), kind, seed),
    )
    return F.when(col.isNotNull(), F.array_join(minted, ";"))


def break_node(
    sheet: DataFrame,
    node: str,
    study_id: str,
    key_prop: str,
    surrogate: str = "uuid5",
    seed: str = "ccdi",
    multi_value: bool = False,
) -> DataFrame:
    """One node sheet → loader frame (src/s3_ccdi_to_tabbreakery.py:90-125).

    Pure projection: ``type`` stamp, key → ``id`` mint, linking
    columns → ``parent.id`` mints, redundant ``parent.parent_id``
    drops.  No shuffle.
    """
    passthrough: dict[str, Column] = {"type": F.lit(node).alias("type")}
    # minted id columns keyed by alias: two dotted columns for the same
    # parent both target "<parent>.id" — keep the LAST one, matching
    # the reference's pandas column assignment (last write wins,
    # s3_ccdi_to_tabbreakery.py:96-106) instead of emitting duplicate
    # column names
    minted: dict[str, Column] = {}
    for c in sheet.columns:
        dotted = "." in c
        parent = c.split(".", 1)[0] if dotted else None
        redundant_link = dotted and c.split(".", 1)[1] == f"{parent}_id"
        if not redundant_link:
            passthrough[c] = F.col(f"`{c}`")
        # F.concat (not concat_ws) so a null key yields a null name →
        # null id, matching the reference's pd.isna passthrough
        # (s3_ccdi_to_tabbreakery.py:35-36)
        if c == key_prop:
            minted["id"] = _mint(
                f"{study_id}::{node}::", F.col(f"`{c}`"), surrogate, seed,
                multi_value,
            ).alias("id")
        elif dotted and not c.endswith(".id"):
            minted[f"{parent}.id"] = _mint(
                f"{study_id}::{parent}::", F.col(f"`{c}`"), surrogate, seed,
                multi_value,
            ).alias(f"{parent}.id")
    # a sheet that already carries a literal "id" / "<parent>.id"
    # column must not survive next to the minted sibling: the
    # reference's pandas assignment OVERWRITES it (last write wins),
    # so the minted alias supersedes the passthrough (ADVICE r03)
    kept = [col for name, col in passthrough.items() if name not in minted]
    return sheet.select(*kept, *minted.values())


def keep_sheet(sheet: DataFrame, node: str) -> bool:
    """Sheet-pruning predicate (src/s3_ccdi_to_tabbreakery.py:122-133).

    Keep a broken sheet only when (a) its content (minus the ``type``
    stamp) has at least one non-null cell and (b) not every content
    column is a linking column.  (b) is schema-only; (a) costs one
    short-circuiting ``isNotNull`` scan (``limit(1)``), which the
    reference pays too (``dropna(how="all").empty``).
    """
    content = [c for c in sheet.columns if c != "type"]
    if not content:
        return False
    if all("." in c for c in content):
        return False
    flags = [F.col(f"`{c}`").isNotNull() for c in content]
    any_val = sheet.filter(
        flags[0] if len(flags) == 1 else F.greatest(*flags)
    )
    return any_val.limit(1).count() > 0


def tabbreaker(
    sheets: dict[str, DataFrame],
    study_id: str,
    keys: dict[str, str],
    surrogate: str = "uuid5",
    seed: str = "ccdi",
    multi_value: bool = False,
) -> dict[str, DataFrame]:
    """Workbook → {node: loader frame}, pruned per the reference rules.

    The per-node TSV sink is ``sources.files.write_node_tsvs`` (S4);
    the run-metadata JSON sink is ``sources.files.write_json_records``
    (S5) — composition mirrors s3_ccdi_to_tabbreakery.py:136-155.
    """
    broken = {
        node: break_node(
            df, node, study_id, keys[node], surrogate, seed, multi_value
        )
        for node, df in sheets.items()
    }
    return {n: df for n, df in broken.items() if keep_sheet(df, n)}

"""Template Exampler — schema-driven synthetic data (SURVEY.md §2.12).

The reference generates schema-valid fake manifests per property type
(md5/uuid/url/age/int/float/word-strings/enum picks/';'-arrays) and
wires parent-child links by sampling parent keys
(src/template_exampler.py:50-327, create_linkage :185-216).

Spark rendering: ``spark.range(n)`` seeds the rows; every generator
is a deterministic Column expression over a seeded ``rand``/hash so
fixtures are reproducible; linkage is a key-sampling join.  Generating
a billion-row fixture is the same plan as twenty rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .rules import NodeSchema, PropertyRule

WORDS = (
    "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
    "hotel", "india", "juliet", "kilo", "lima", "mike", "november",
)


def gen_value(rule: PropertyRule, node: str, idx: Column, seed: int = 42) -> Column:
    """One property's generator expression, by declared type.

    Mirrors populate_exampler's per-type branches
    (src/template_exampler.py:50-182).
    """
    salt = F.xxhash64(F.concat_ws("::", F.lit(node), F.lit(rule.prop), idx.cast("string")), F.lit(seed))
    pos = F.pmod(salt, F.lit(1_000_000)).cast("double") / 1_000_000.0
    if rule.key:
        return F.concat(F.lit(f"{node}_{rule.prop}_"), idx.cast("string"))
    t = rule.inner_type
    if t == "integer":
        return F.pmod(salt, F.lit(10_000)).cast("string")
    if t == "number":
        return F.round(pos * 1000, 3).cast("string")
    if rule.enum_terms:
        arr = F.array(*[F.lit(x) for x in rule.enum_terms])
        pick = F.element_at(arr, (F.pmod(salt, F.lit(len(rule.enum_terms))) + 1).cast("int"))
        if rule.is_array:
            second = F.element_at(
                arr,
                (F.pmod(salt + 1, F.lit(len(rule.enum_terms))) + 1).cast("int"),
            )
            return F.concat_ws(";", F.array_distinct(F.array(pick, second)))
        return pick
    if rule.prop.endswith("md5sum"):
        return F.lower(F.hex(F.unhex(F.substring(F.md5(salt.cast("string")), 1, 32))))
    if rule.prop.endswith("_url"):
        return F.concat(F.lit("s3://synthetic-bucket/"), F.lit(node), F.lit("/f"), idx.cast("string"))
    word = F.element_at(
        F.array(*[F.lit(w) for w in WORDS]),
        (F.pmod(salt, F.lit(len(WORDS))) + 1).cast("int"),
    )
    return F.concat(word, F.lit(" "), F.lit(rule.prop))


def generate_node(
    spark: SparkSession,
    schema: NodeSchema,
    n_rows: int,
    seed: int = 42,
) -> DataFrame:
    """Generate one schema-valid node table of ``n_rows``."""
    base = spark.range(n_rows).withColumnRenamed("id", "__i__")
    cols = [F.lit(schema.node).alias("type")]
    for r in schema.rules:
        cols.append(gen_value(r, schema.node, F.col("__i__"), seed).alias(r.prop))
    return base.select(*cols)


def create_linkage(
    child: DataFrame,
    parent: DataFrame,
    parent_key: str,
    link_col: str | None = None,
    seed: int = 42,
) -> DataFrame:
    """Wire child rows to sampled parent keys (create_linkage,
    src/template_exampler.py:185-216).

    Deterministic: each child row picks parent ``hash(child) mod
    n_parents`` via a broadcast join on the bucket — no driver
    collection of parent keys at scale, and the dense 0..n-1 parent
    index comes from the range-partitioned distributed row_number
    (``distributed_prefix_sum`` over a constant 1), not a
    single-partition global window, so a million-parent linkage
    still parallelizes.
    """
    from ..operators.windows import distributed_prefix_sum

    parents = (
        distributed_prefix_sum(
            parent.select(F.col(parent_key))
            .distinct()
            .withColumn("__one__", F.lit(1).cast("long")),
            "__one__",
            [parent_key],
            out_col="__rn__",
        )
        .select(parent_key, (F.col("__rn__") - 1).alias("__bucket__"))
    )
    n = parents.count()
    out_col = link_col or f"{parent_key}"
    keyed = child.withColumn(
        "__bucket__",
        F.pmod(F.xxhash64(F.concat_ws("|", *child.columns), F.lit(seed)), F.lit(n)),
    )
    return (
        keyed.join(F.broadcast(parents), on="__bucket__", how="left")
        .withColumnRenamed(parent_key, out_col)
        .drop("__bucket__")
    )


# ---------------------------------------------------------------------------
# DCC exampler deltas (src/template_exampler_ccdi_dcc.py vs
# src/template_exampler.py): the DCC template drops the ``guid``
# surrogate instead of ``id`` (:24-25), caps study_status at ONE
# example row and consent_group at TWO (:165-168), and wires every
# ``consent_group.consent_group_id`` column by sampling the generated
# consent-group ids (:201-205) — the same create_linkage shape, just a
# second sampled parent.
# ---------------------------------------------------------------------------

#: per-node example-row caps the DCC exampler applies after generation
DCC_EXAMPLE_CAPS = {"study_status": 1, "consent_group": 2}

#: surrogate column the variant strips from the rendered column list
DCC_SURROGATE = "guid"


def dcc_example_rows(node: str, n_rows: int) -> int:
    """Row count for one node under the DCC caps.

    The reference generates then ``head(n)``s; generating the capped
    count directly is the deterministic Spark twin (same rows, since
    generation is seeded by row index).
    """
    return min(n_rows, DCC_EXAMPLE_CAPS.get(node, n_rows))


def generate_dcc_example_set(
    spark: SparkSession,
    schemas: list[NodeSchema],
    n_rows: int,
    seed: int = 42,
) -> dict[str, DataFrame]:
    """Generate the DCC example workbook's node frames.

    Applies the caps, strips the ``guid`` surrogate from generated
    columns, and links any ``consent_group.consent_group_id`` child
    column to the generated consent-group ids via
    :func:`create_linkage`.
    """
    nodes: dict[str, DataFrame] = {}
    for schema in schemas:
        df = generate_node(
            spark, schema, dcc_example_rows(schema.node, n_rows), seed
        )
        if DCC_SURROGATE in df.columns:
            df = df.drop(DCC_SURROGATE)
        nodes[schema.node] = df
    cg = nodes.get("consent_group")
    if cg is not None and "consent_group_id" in cg.columns:
        for name, df in nodes.items():
            if name == "consent_group":
                continue
            if "consent_group.consent_group_id" in df.columns:
                # NB: drop() matches the string literally (no backtick
                # parsing) — the plain dotted name is correct here
                df = df.drop("consent_group.consent_group_id")
            nodes[name] = create_linkage(
                df,
                cg,
                "consent_group_id",
                link_col="consent_group.consent_group_id",
                seed=seed,
            )
    return nodes


def seeded_error_variant(
    df: DataFrame, schema: NodeSchema, every_n: int = 10, seed: int = 7
) -> DataFrame:
    """Plant one violation type per rule family at known rows
    (the reference's *_w_missing_value_additional_error fixture).

    Rows where ``hash(key) % every_n == k`` get: k=0 → required null,
    k=1 → leading whitespace, k=2 → out-of-vocab enum, k=3 →
    non-numeric in integer column.
    """
    key = schema.key_props[0] if schema.key_props else df.columns[0]
    bucket = F.pmod(F.xxhash64(F.col(key).cast("string"), F.lit(seed)), F.lit(every_n))
    exprs = []
    for f_ in df.schema.fields:
        c = F.col(f_.name)
        r = schema.rule(f_.name)
        if r is None:
            exprs.append(c)
            continue
        if r.required and not r.key:
            c = F.when(bucket == 0, F.lit(None)).otherwise(c)
        if r.inner_type in ("enum", "string;enum") and r.enum_terms:
            c = F.when(bucket == 2, F.lit("__INVALID_TERM__")).otherwise(c)
        if r.inner_type == "integer":
            c = F.when(bucket == 3, F.lit("not_a_number")).otherwise(c)
        if not r.key:
            c = F.when(bucket == 1, F.concat(F.lit(" "), c)).otherwise(c)
        exprs.append(c.alias(f_.name))
    return df.select(*exprs)

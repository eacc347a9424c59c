"""Rule engine — the reference's core "query workload" (SURVEY.md §2.11).

The reference runs 14 validation rule families over every node sheet
(ValidationRy, src/s3_validationry_refactored.py:2192-2339) and a
mutating twin that repairs values instead of reporting
(CatchERRy, src/s3_catcherry.py:22-1345).  Both are driven by the
same schema metadata (Dictionary + Terms-and-Value-Sets sheets).

Here that metadata *compiles* to Spark Column expressions:

- :func:`validate` renders rules as violation queries — one narrow
  union of filters, all codegen'd, no Python per cell;
- :func:`repair` renders the same rules as ``withColumn`` rewrites.

At 100 TB the violation scan is a single pass per table (all rule
predicates evaluate in one projection), and enum vocabularies join
broadcast — the rule metadata never exceeds driver scale.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import checks
from ..functions.cleaning import sort_delimited_cell

SEVERITY_ERROR = "ERROR"
SEVERITY_WARNING = "WARNING"


@dataclass
class PropertyRule:
    """Schema row for one (node, property) — Dictionary sheet shape.

    Reference: src/utils.py:1137-1165 (Dictionary columns Node,
    Property, Type, Required, Key) and the TaVS sheet term lists.
    """

    prop: str
    type: str = "string"  # string|integer|number|enum|string;enum|array[...]
    required: bool = False
    key: bool = False
    enum_terms: tuple[str, ...] = ()
    free_text: bool = False  # subject to PII scan

    @property
    def is_array(self) -> bool:
        return self.type.startswith("array[")

    @property
    def inner_type(self) -> str:
        return self.type[6:-1] if self.is_array else self.type

    @property
    def enum_strict(self) -> bool:
        """enum → ERROR; string;enum → WARNING (open vocabulary)."""
        return self.inner_type == "enum"


@dataclass
class NodeSchema:
    node: str
    rules: list[PropertyRule] = field(default_factory=list)
    key_props: list[str] = field(default_factory=list)

    def rule(self, prop: str) -> PropertyRule | None:
        for r in self.rules:
            if r.prop == prop:
                return r
        return None


def validate(df: DataFrame, schema: NodeSchema) -> DataFrame:
    """ValidationRy — run every expression-rank rule in ONE pass.

    Covers the rule families that are per-row expressions:
    required-props (:132-198), whitespace (:201-272), terms/value-sets
    (:275-471), int/numeric (:474-612), PII regex (:615-746), age
    (:749-834), key charset (:1952-2051).  Aggregate/join-rank rules
    (unique keys, cross-links, bucket reconcile) are separate
    functions below so each keeps a single-purpose plan.

    Plan shape: every rule compiles to a ``when(cond, struct(...))``
    element of ONE array; the frame is scanned once and violations
    explode out of the filtered array.  The union-per-rule
    alternative rescans the node table per rule — on a realistic
    CCDI-width schema (50 props ≈ 150 rules) that is 8 s of plan
    build + 7.5 s execution vs ~1 s total for this shape, and the
    gap grows with schema width (real Dictionaries have hundreds of
    props).
    """
    key_col = schema.key_props[0] if schema.key_props else None
    entries: list[tuple] = []  # (cond, prop, rule_name, severity, value_expr)
    missing: list[DataFrame] = []

    def add(rule: PropertyRule, rule_name: str, severity: str, cond) -> None:
        entries.append(
            (cond, rule.prop, rule_name, severity, F.col(rule.prop).cast("string"))
        )

    for r in schema.rules:
        if r.prop not in df.columns:
            if r.required:
                missing.append(
                    df.limit(1).select(
                        F.lit(schema.node).alias("node"),
                        F.lit(r.prop).alias("property"),
                        F.lit("missing_column").alias("rule"),
                        F.lit(SEVERITY_ERROR).alias("severity"),
                        F.lit(None).cast("string").alias("row_ref"),
                        F.lit(None).cast("string").alias("value"),
                    )
                )
            continue
        c = F.col(r.prop)
        if r.required:
            add(r, "required", SEVERITY_ERROR, c.isNull())
        add(
            r, "whitespace", SEVERITY_ERROR,
            c.isNotNull() & (c.cast("string") != F.trim(c.cast("string"))),
        )
        if r.inner_type in ("enum", "string;enum") and r.enum_terms:
            terms = F.array(*[F.lit(t) for t in r.enum_terms])
            if r.is_array:
                elems = F.split(c.cast("string"), ";")
                bad = F.exists(elems, lambda x: ~F.array_contains(terms, F.trim(x)))
            else:
                bad = ~F.array_contains(terms, c.cast("string"))
            sev = SEVERITY_ERROR if r.enum_strict else SEVERITY_WARNING
            add(r, "enum", sev, c.isNotNull() & bad)
        if r.inner_type == "integer":
            add(r, "not_integer", SEVERITY_ERROR, c.isNotNull() & ~checks.is_intlike(c))
            if r.prop.startswith("age_at"):
                add(r, "age_pii", SEVERITY_ERROR, checks.age_exceeds_limit(c))
        if r.inner_type == "number":
            add(r, "not_number", SEVERITY_ERROR, c.isNotNull() & ~checks.is_floatlike(c))
        if r.free_text:
            add(
                r, "pii_pattern", SEVERITY_ERROR,
                c.isNotNull() & checks.contains_pii(c.cast("string")),
            )
        if r.key:
            add(
                r, "key_charset", SEVERITY_ERROR,
                c.isNotNull() & ~checks.is_valid_key_id(c.cast("string")),
            )

    if not entries and not missing:
        raise ValueError(f"no rules compiled for node {schema.node}")

    out: DataFrame | None = None
    if entries:
        structs = [
            F.when(
                cond,
                F.struct(
                    F.lit(prop).alias("property"),
                    F.lit(rule_name).alias("rule"),
                    F.lit(severity).alias("severity"),
                    value.alias("value"),
                ),
            )
            for cond, prop, rule_name, severity, value in entries
        ]
        row_ref = (
            F.col(key_col).cast("string") if key_col else F.lit(None).cast("string")
        )
        hits = df.select(
            row_ref.alias("row_ref"),
            F.explode(
                F.filter(F.array(*structs), lambda x: x.isNotNull())
            ).alias("__v__"),
        )
        out = hits.select(
            F.lit(schema.node).alias("node"),
            F.col("__v__.property").alias("property"),
            F.col("__v__.rule").alias("rule"),
            F.col("__v__.severity").alias("severity"),
            F.col("row_ref"),
            F.col("__v__.value").alias("value"),
        )
    for m in missing:
        out = m if out is None else out.unionByName(m)
    return out


def validate_unique_keys(df: DataFrame, schema: NodeSchema) -> DataFrame:
    """Unique-key rule (A3 rank): key values seen on >1 row.

    Reference: src/s3_validationry_refactored.py:913-1019.
    """
    parts = []
    for k in schema.key_props:
        dup = (
            df.filter(F.col(k).isNotNull())
            .groupBy(k)
            .agg(F.count(F.lit(1)).alias("dup_count"))
            .filter(F.col("dup_count") > 1)
            .select(
                F.lit(schema.node).alias("node"),
                F.lit(k).alias("property"),
                F.lit("unique_key").alias("rule"),
                F.lit(SEVERITY_ERROR).alias("severity"),
                F.col(k).cast("string").alias("row_ref"),
                F.col("dup_count").cast("string").alias("value"),
            )
        )
        parts.append(dup)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def validate_cross_links(
    child: DataFrame,
    child_node: str,
    link_col: str,
    parent: DataFrame,
    parent_key: str,
    key_col: str | None = None,
    multi_valued: bool = False,
) -> DataFrame:
    """Cross-link rule: every link value must exist in the parent sheet.

    Reference: src/s3_validationry_refactored.py:1786-1949
    (multiplicity-aware ';' parsing, anti-join vs parent keys).
    """
    links = child.select(
        (F.col(key_col) if key_col else F.lit(None)).cast("string").alias("row_ref"),
        F.col(link_col).alias("__link__"),
    ).filter(F.col("__link__").isNotNull())
    if multi_valued:
        links = links.withColumn(
            "__link__", F.explode(F.split(F.col("__link__").cast("string"), ";"))
        )
    parent_keys = parent.select(
        F.col(parent_key).cast("string").alias("__link__")
    ).distinct()
    dangling = links.withColumn("__link__", F.col("__link__").cast("string")).join(
        parent_keys, on="__link__", how="left_anti"
    )
    return dangling.select(
        F.lit(child_node).alias("node"),
        F.lit(link_col).alias("property"),
        F.lit("dangling_link").alias("rule"),
        F.lit(SEVERITY_ERROR).alias("severity"),
        F.col("row_ref"),
        F.col("__link__").alias("value"),
    )


def repair(df: DataFrame, schema: NodeSchema) -> DataFrame:
    """CatchERR — the mutating rendering of the same rule metadata.

    Applies (in the reference's order, src/s3_catcherry.py:22-1345):
    trim every string cell (:88), NA-bank → null, enum case-snap
    (:508-541), ';'-array casefolded sort (:459-469).
    """
    from ..catalog import NA_BANK

    exprs = []
    for f_ in df.schema.fields:
        name = f_.name
        if f_.dataType.simpleString() != "string":
            exprs.append(F.col(name))
            continue
        c = F.trim(F.col(name))
        c = F.when(c.isin(*NA_BANK), F.lit(None)).otherwise(c)
        r = schema.rule(name)
        if r is not None and r.enum_terms and not r.is_array:
            snapped = None
            for term in r.enum_terms:
                cond = F.lower(c) == term.lower()
                snapped = (
                    F.when(cond, F.lit(term))
                    if snapped is None
                    else snapped.when(cond, F.lit(term))
                )
            c = snapped.otherwise(c) if snapped is not None else c
        if r is not None and r.is_array:
            c = sort_delimited_cell(c)
        exprs.append(c.alias(name))
    return df.select(*exprs)

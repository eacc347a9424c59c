"""Expected results and the checks that compare the engine's outputs to them.

Every registry entry the benchmark runs carries a DuckDB oracle
(``queries.REGISTRY[name].oracle``).  The oracle runs here, over the same
parquet files the engine reads, and the benchmark compares:

- a collected result: column names, row count and an order-insensitive
  multiset of normalized values;
- a TSV artifact written by ``sources.files.write_tsv``: its data rows,
  read back from the part files, either counted or compared cell by cell.
"""

from __future__ import annotations

import csv
import glob
import math
import os
from collections import Counter
from dataclasses import dataclass

import duckdb
from childhoodcancerdatainitiative_prefect_pipeline_spark.catalog import TESTDATA_TABLES


def norm(v) -> str:
    """One cell as compared: NULL and NaN alike, floats to 6 significant
    digits (the precision the engine's exact-sum routing guarantees)."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NULL" if math.isnan(v) else f"{v:.6g}"
    return str(v)


def multiset(rows, cols) -> Counter:
    """Rows as a multiset of normalized tuples, columns taken in name order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(norm(r[i]) for i in order) for r in rows)


def tsv_cell(s: str) -> str:
    """Canonical text of one TSV cell, applied to both sides of a TSV check.

    ``write_tsv`` writes NULL and "" alike as an empty field and trims
    surrounding blanks, booleans come out lower-case, and Java's double
    formatting (``1.0E-5``) differs from Python's (``1e-05``), so numbers
    are compared by value."""
    s = s.strip()
    if s in ("", "None", "NULL"):
        return ""
    if s in ("True", "False"):
        return s.lower()
    try:
        return str(int(s))
    except ValueError:
        pass
    try:
        f = float(s)
    except ValueError:
        return s
    return "NaN" if math.isnan(f) else f"{f:.6g}"


@dataclass(frozen=True)
class Expected:
    """One oracle result."""

    cols: tuple[str, ...]
    rows: tuple[tuple, ...]

    @property
    def n_rows(self) -> int:
        return len(self.rows)


def run_oracles(data_dir: str, names, sql_of) -> dict[str, Expected]:
    """Run each named oracle in DuckDB over ``data_dir``'s parquet files.

    ``sql_of(name)`` returns the oracle SQL (the registry's ``oracle``)."""
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for t in TESTDATA_TABLES:
            path = os.path.join(data_dir, f"{t}.parquet").replace("'", "''")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        out = {}
        for name in names:
            res = con.execute(sql_of(name))
            cols = tuple(d[0] for d in res.description)
            out[name] = Expected(cols, tuple(res.fetchall()))
        return out
    finally:
        con.close()


def check_rows(expected: Expected, cols, rows) -> str | None:
    """None when ``rows`` (with column names ``cols``) equal the oracle's
    result as a multiset; otherwise the first difference found."""
    if sorted(cols) != sorted(expected.cols):
        return f"columns {sorted(cols)} != oracle {sorted(expected.cols)}"
    if len(rows) != expected.n_rows:
        return f"{len(rows)} rows != oracle {expected.n_rows}"
    got, want = multiset(rows, cols), multiset(expected.rows, expected.cols)
    if got != want:
        extra = list((got - want).items())[:2]
        missing = list((want - got).items())[:2]
        return f"values differ: unexpected {extra}, missing {missing}"
    return None


def read_tsv(path: str) -> tuple[list[str], list[list[str]]]:
    """Header and data rows of a ``write_tsv`` output directory.

    Spark writes one header line into every non-empty part file."""
    header: list[str] = []
    rows: list[list[str]] = []
    for part in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(part, newline="", encoding="utf-8") as f:
            reader = csv.reader(
                f, delimiter="\t", quotechar='"', escapechar="\\",
                doublequote=False,
            )
            for i, row in enumerate(reader):
                if i == 0:
                    header = row
                else:
                    rows.append(row)
    return header, rows


def tsv_bytes(path: str) -> int:
    """Bytes of data files ``write_tsv`` left in ``path``."""
    return sum(
        os.path.getsize(p) for p in glob.glob(os.path.join(path, "part-*"))
    )


def check_tsv(expected: Expected, path: str, full: bool) -> tuple[int, str | None]:
    """(data rows, None or the first difference) of a TSV artifact.

    ``full`` compares every cell through :func:`tsv_cell`; otherwise only
    the row count is checked against the oracle's."""
    header, rows = read_tsv(path)
    if len(rows) != expected.n_rows:
        return len(rows), f"{len(rows)} TSV rows != oracle {expected.n_rows}"
    if not full:
        return len(rows), None
    if sorted(header) != sorted(expected.cols):
        return len(rows), f"TSV header {sorted(header)} != oracle {sorted(expected.cols)}"

    def canon(table, cols):
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        return Counter(
            tuple(tsv_cell("" if r[i] is None else str(r[i])) for i in order)
            for r in table
        )

    got, want = canon(rows, header), canon(expected.rows, expected.cols)
    if got != want:
        extra = list((got - want).items())[:2]
        missing = list((want - got).items())[:2]
        return len(rows), f"TSV values differ: unexpected {extra}, missing {missing}"
    return len(rows), None

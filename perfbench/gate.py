"""Correctness gate: every result the benchmark times is checked.

Batch calls compare the engine's Arrow result with the DuckDB twin from
the registry's ``oracle_sql()`` by the rule of ``tools/verify_local.py``:
equal row counts, equal sorted column names, and equal multisets of
rows (columns sorted by name, cells normalised, rows sorted).  The rule
is restated here so the benchmark does not depend on files outside its
own directory.
"""

from __future__ import annotations

import math
from datetime import date, datetime
from decimal import Decimal

import pyarrow as pa


def norm_cell(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return v


def canonical(rows, cols) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    return sorted(out, key=repr)


def arrow_rows(table: pa.Table) -> list[tuple]:
    cols = [c.to_pylist() for c in table.columns]
    return list(zip(*cols)) if cols else []


class Oracle:
    """The DuckDB answers for a set of registry queries, computed once
    over the generated fixture before any timing starts."""

    def __init__(self, sf_dir: str, tables: list[str]):
        import duckdb

        self.con = duckdb.connect()
        for t in tables:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )

    def answer(self, sql: str) -> tuple[list[str], list[tuple]]:
        cur = self.con.execute(sql)
        cols = [d[0] for d in cur.description]
        return cols, canonical(cur.fetchall(), cols)

    def close(self) -> None:
        self.con.close()


def check_table(table: pa.Table, expected: tuple[list[str], list[tuple]]) -> str | None:
    """None when ``table`` matches the oracle answer, else the reason."""
    cols, rows = expected
    if table.num_rows != len(rows):
        return f"rowcount engine={table.num_rows} oracle={len(rows)}"
    if sorted(table.column_names) != sorted(cols):
        return f"columns engine={sorted(table.column_names)} oracle={sorted(cols)}"
    got = canonical(arrow_rows(table), table.column_names)
    for i, (a, b) in enumerate(zip(got, rows)):
        if a != b:
            return f"values differ at sorted row {i}: engine={a} oracle={b}"
    return None


def perturb(table: pa.Table) -> pa.Table:
    """``table`` with one numeric cell changed (the gate self-check)."""
    for i, f in enumerate(table.schema):
        if pa.types.is_integer(f.type) or pa.types.is_floating(f.type):
            vals = table.column(i).to_pylist()
            for j, v in enumerate(vals):
                if v is not None:
                    vals[j] = v + 1
                    return table.set_column(i, f, pa.array(vals, f.type))
    raise ValueError("no numeric cell to perturb")

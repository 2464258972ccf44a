"""Output checks, run outside the timed passes.

Copies are compared with their expected tables read by pyarrow; operator
outputs with the engine's DuckDB oracle results. Both comparisons are
order-insensitive and exact (floats within 1e-9). Every function returns
an error message, or None when the output is right.
"""

from __future__ import annotations

import math
import os
import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

FLOAT_TOL = 1e-9


def _normalize(t: pa.Table) -> pa.Table:
    cols, names = [], []
    for name, col in zip(t.column_names, t.columns):
        typ = col.type
        if pa.types.is_timestamp(typ):
            col = pc.cast(col, pa.timestamp("us", typ.tz)).cast(pa.int64())
        elif pa.types.is_large_string(typ) or pa.types.is_dictionary(typ):
            col = col.cast(pa.string())
        cols.append(col)
        names.append(name.lower())
    return pa.table(cols, names=names)


def diff_tables(actual: pa.Table, expected: pa.Table) -> str | None:
    """Same columns (case-insensitive), same multiset of rows."""
    a, e = _normalize(actual), _normalize(expected)
    if sorted(a.column_names) != sorted(e.column_names):
        return f"columns {sorted(a.column_names)} != expected {sorted(e.column_names)}"
    if a.num_rows != e.num_rows:
        return f"{a.num_rows} rows, expected {e.num_rows}"
    cols = sorted(e.column_names)
    try:
        a = a.select(cols).cast(e.select(cols).schema)
    except (pa.ArrowInvalid, pa.ArrowNotImplementedError) as exc:
        return f"types differ: {exc}"
    keys = [(c, "ascending") for c in cols]
    a, e = a.sort_by(keys), e.select(cols).sort_by(keys)
    if a.equals(e):
        return None
    for c in cols:
        neq = pc.invert(pc.fill_null(pc.equal(a[c], e[c]), False))
        both_null = pc.and_(pc.is_null(a[c]), pc.is_null(e[c]))
        bad = pc.and_(neq, pc.invert(both_null))
        if pc.any(bad).as_py():
            i = pc.index(bad, True).as_py()
            return f"column {c} row {i}: {a[c][i].as_py()!r} != expected {e[c][i].as_py()!r}"
    return "rows differ"


def check_target(target: str, expected: pa.Table, rows: int) -> str | None:
    """A published target against its expected content and the
    seed-independent row count."""
    if not os.path.isdir(target):
        return f"no target at {target}"
    t = pq.read_table(target)
    if t.num_rows != rows:
        return f"{t.num_rows} rows, but every seed publishes {rows}"
    return diff_tables(t, expected)


def _canon(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if hasattr(v, "item"):  # numpy scalar
        v = v.item()
    return v


def _rows(df, cols: list[str]) -> list[tuple]:
    rows = [tuple(_canon(v) for v in r) for r in df[cols].itertuples(index=False, name=None)]
    return sorted(rows, key=lambda r: tuple((x is None, x if x is not None else 0) for x in r))


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=FLOAT_TOL, abs_tol=FLOAT_TOL)
    return a == b


def diff_frames(actual, expected, rows: int) -> str | None:
    """An operator's collected output (pandas) against its oracle result
    (pandas) and the seed-independent row count."""
    if len(actual) != rows:
        return f"{len(actual)} rows, but every seed gives {rows}"
    if sorted(actual.columns) != sorted(expected.columns):
        return f"columns {sorted(actual.columns)} != oracle {sorted(expected.columns)}"
    if len(actual) != len(expected):
        return f"{len(actual)} rows, oracle has {len(expected)}"
    # float columns sort last, so rounding noise cannot reorder rows
    cols = sorted(expected.columns, key=lambda c: (expected[c].dtype.kind == "f", c))
    for i, (ra, re) in enumerate(zip(_rows(actual, cols), _rows(expected, cols))):
        if not all(_same(x, y) for x, y in zip(ra, re)):
            return f"row {i}: {ra} != oracle {re}"
    return None


def restore(base: str, live: str) -> None:
    """Replace ``live`` with a byte-identical copy of ``base``."""
    shutil.rmtree(live, ignore_errors=True)
    shutil.copytree(base, live)

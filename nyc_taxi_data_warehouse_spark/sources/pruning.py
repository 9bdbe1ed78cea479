"""File-level min/max pruning for the lake formats: the rules the
Iceberg manifest-bounds reader and the Delta add.stats reader share,
on both the write side and the read side.

- :func:`footer_bounds` owns the write side: each writer records the
  per-file bounds it reads from the Parquet footer, keeping only its own
  encoding (Delta's JSON ``stats``, Iceberg's Appendix D bytes).
- :func:`range_may_match` owns the prune decision: given a file's
  [lo, hi] range for a column (either end may be unknown) and a
  predicate ``col op value``, could the file contain a matching row?
  Pruning is proof-based: an unknown bound never prunes, so a file is
  skipped only when its known range provably excludes the predicate.
- :func:`apply_where` owns the residual filter: a reader re-applies its
  ``where`` list to the surviving files, since pruning is per file."""

from __future__ import annotations

import operator

_OPS = {
    "=": operator.eq,
    "==": operator.eq,
    "<": operator.lt,
    "<=": operator.le,
    ">": operator.gt,
    ">=": operator.ge,
}
WHERE_OPS = tuple(_OPS)


def check_where(where) -> None:
    """Validate a [(col, op, value), ...] predicate list once at entry."""
    for pred in where or []:
        if len(pred) != 3 or pred[1] not in WHERE_OPS:
            raise ValueError(
                f"unsupported predicate {pred!r}: expected (col, op, value) "
                f"with op in {WHERE_OPS}"
            )


def range_may_match(lo, hi, op: str, val) -> bool:
    """Could a value x with lo ≤ x ≤ hi satisfy ``x op val``? A value
    that does not compare with the bounds' type (a string or a datetime
    against date bounds) never prunes."""
    try:
        return _range_may_match(lo, hi, op, val)
    except TypeError:
        return True


def _range_may_match(lo, hi, op: str, val) -> bool:
    if op in ("=", "=="):
        if lo is not None and val < lo:
            return False
        if hi is not None and val > hi:
            return False
        return True
    if op in (">", ">="):
        if hi is not None and (val > hi or (op == ">" and val == hi)):
            return False
        return True
    if op in ("<", "<="):
        if lo is not None and (val < lo or (op == "<" and val == lo)):
            return False
        return True
    return True  # unknown op: never prune (callers validate upstream)


def apply_where(df, where):
    """``df`` filtered by every (col, op, value) predicate of ``where``."""
    from pyspark.sql import functions as F

    for col, op, val in where or []:
        df = df.where(_OPS[op](F.col(col), val))
    return df


def footer_bounds(fp: str) -> tuple[int, dict[str, tuple]]:
    """``(num_rows, {column: (min, max)})`` from a Parquet file's footer.

    A column counts as bounded only if EVERY row group reported min/max:
    a chunk without stats (size-capped strings, NaN doubles) may hold
    values outside the others' range, and a partial bound would let
    readers prune files that contain matching rows. Omitted columns read
    as unbounded, which is always safe."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(fp).metadata
    bounds: dict[str, tuple] = {}
    covered: dict[str, int] = {}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            st = col.statistics
            if st is None or not st.has_min_max:
                continue
            name = col.path_in_schema
            covered[name] = covered.get(name, 0) + 1
            if name in bounds:
                lo, hi = bounds[name]
                bounds[name] = (min(lo, st.min), max(hi, st.max))
            else:
                bounds[name] = (st.min, st.max)
    return md.num_rows, {
        n: b for n, b in bounds.items() if covered[n] == md.num_row_groups
    }


def resolve_local(uri: str, base: str):
    """Resolve a lake-metadata file reference to a local filesystem path.

    Handles the forms real writers emit: plain relative paths (joined
    under ``base``), absolute paths, and ``file:`` URIs in all three
    spellings (``file:///x``, ``file:/x`` — Hadoop Path.toString —,
    ``file://localhost/x``). Non-local schemes and foreign authorities
    raise rather than resolving to a nonsense path under the table
    root."""
    import os
    from urllib.parse import urlparse

    if uri.startswith("file:"):
        p = urlparse(uri)
        if p.netloc not in ("", "localhost"):
            raise ValueError(f"remote file authority in {uri!r}")
        return p.path
    if "://" in uri:
        raise ValueError(f"non-local data file uri {uri!r}")
    if os.path.isabs(uri):
        return uri
    return os.path.join(base, uri)

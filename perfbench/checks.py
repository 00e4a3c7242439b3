"""Correctness checks. Every op is checked after its clock stops; a
mismatch fails the op (it counts in ``failed``), never silently.

Digests canonicalize a result the way the repository's oracle tests do:
every value rendered as a string (floats rounded to 6 significant
decimals, so last-ulp engine differences do not flip a digest), rows
sorted, columns ordered by name.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import hashlib
import math


def job_counts(status: dict, read: int, failed: int) -> str | None:
    """A job must be COMPLETED, account for every row it read, and read and
    route exactly the rows the generated inputs say it should."""
    if status.get("status") != "COMPLETED":
        return f"status {status.get('status')}: {status.get('error')}"
    r, w, f = (status.get("recordsRead"), status.get("recordsWritten"),
               status.get("recordsFailed"))
    if w + f != r:
        return f"written {w} + failed {f} != read {r}"
    if r != read:
        return f"read {r}, inputs say {read}"
    if f != failed:
        return f"failed {f}, inputs say {failed}"
    return None


def _cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6g}" if abs(v) >= 1e15 else f"{round(v, 6):.6f}"
    if isinstance(v, decimal.Decimal):
        return _cell(float(v))
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat(sep=" ")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if hasattr(v, "tolist"):  # numpy scalars/arrays from pandas
        return _cell(v.tolist())
    if isinstance(v, bool):
        return str(v).lower()
    return str(v)


def digest_rows(columns: list[str], rows) -> tuple[str, int]:
    """(sha256, row count) of a result given its column names and rows."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    h.update("\x1e".join(sorted(columns)).encode())
    for line in lines:
        h.update(b"\n")
        h.update(line.encode())
    return h.hexdigest(), len(lines)


def spark_digest(df) -> tuple[str, int]:
    rows = df.collect()
    return digest_rows(df.columns, [tuple(r) for r in rows])


def duckdb_digest(con, sql: str) -> tuple[str, int]:
    rel = con.sql(sql)
    return digest_rows(list(rel.columns), rel.fetchall())


def same_digest(got: tuple[str, int], want: tuple[str, int],
                what: str) -> str | None:
    if got == want:
        return None
    return (f"{what}: digest {got[0][:12]} ({got[1]} rows) != "
            f"{want[0][:12]} ({want[1]} rows)")

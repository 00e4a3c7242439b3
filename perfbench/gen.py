"""Seeded input generator for the benchmark.

Everything a workload reads is made here from ``--seed``: the tables (same
schemas as the TPC-H-ish test tables the query surface is written against),
the lineitem CSV copies with malformed cells, the rows loaded into the
embedded Derby table, the event increments that land during the stream
workload, and the job sequence. The same seed gives byte-identical files
(``fingerprint`` hashes them; the benchmark's own tests pin that). Bump
``GEN_VERSION`` with any change to what is generated: the cache is keyed
by seed and version.

Inputs are cached per seed under ``<work>/inputs/seed-<n>``: the directory
is built under a temporary name and renamed into place once complete, so a
killed run never leaves a half-written cache behind.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

#: row counts of the generated inputs (on a 4-core box one etl job takes
#: 0.5-2.5 s, so a 12-second window measures two full job cycles)
SIZES = {
    "lineitem": 120_000,     # large CSV source; the small one is a prefix
    "lineitem_small": 15_000,
    "orders": 30_000,
    "customer": 3_000,
    "part": 4_000,           # loaded into Derby as the JDBC source
    "events": 50_000,        # split into stream increments
}
#: rows per stream increment (one parquet file each, in event-time order)
EVENT_SLICE_ROWS = 500
#: fraction of lineitem CSV rows given one malformed cell, drawn per seed
MALFORMED_SHARE = (0.01, 0.05)

GEN_VERSION = "3"

_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PWORDS_A = ("blue", "cold", "hot", "large", "old", "red", "small", "tiny")
_PWORDS_B = ("anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_US_PER_DAY = 86_400_000_000


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per table, so changing one table's recipe
    leaves every other table's bytes unchanged."""
    h = int.from_bytes(hashlib.sha256(f"{seed}:{stream}".encode())
                       .digest()[:8], "little")
    return np.random.default_rng(h)


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts_us(days_from_epoch: np.ndarray) -> pa.Array:
    return pa.array(days_from_epoch.astype("int64") * _US_PER_DAY,
                    pa.timestamp("us"))


def make_lineitem(seed: int, n: int, n_orders: int) -> pa.Table:
    r = _rng(seed, "lineitem")
    d0 = 9131  # 1995-01-01
    return pa.table({
        "l_orderkey": r.integers(0, n_orders, n),
        "l_partkey": r.integers(0, SIZES["part"], n),
        "l_suppkey": r.integers(0, 1000, n),
        "l_linenumber": r.integers(1, 8, n).astype("int32"),
        "l_quantity": r.integers(1, 51, n).astype("float64"),
        "l_extendedprice": _money(r, 900.0, 105000.0, n),
        "l_discount": np.round(r.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(r.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": pa.array(r.choice(["A", "N", "R"], n)),
        "l_linestatus": pa.array(r.choice(["F", "O"], n)),
        "l_shipdate": _ts_us(d0 + r.integers(0, 2500, n)),
    })


def make_orders(seed: int, n: int, n_cust: int) -> pa.Table:
    r = _rng(seed, "orders")
    return pa.table({
        "o_orderkey": np.arange(n, dtype="int64"),
        "o_custkey": r.integers(0, n_cust, n),
        "o_orderstatus": pa.array(r.choice(["F", "O", "P"], n)),
        "o_totalprice": _money(r, 1000.0, 500000.0, n),
        "o_orderdate": _ts_us(9131 + r.integers(0, 2404, n)),
        "o_orderpriority": pa.array(r.choice(_PRIORITIES, n)),
    })


def make_customer(seed: int, n: int) -> pa.Table:
    r = _rng(seed, "customer")
    return pa.table({
        "c_custkey": np.arange(n, dtype="int64"),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": r.integers(0, 25, n).astype("int32"),
        "c_acctbal": _money(r, -999.99, 9999.99, n),
        "c_mktsegment": pa.array(r.choice(_SEGMENTS, n)),
    })


def make_part(seed: int, n: int) -> pa.Table:
    r = _rng(seed, "part")
    names = [f"{a} {b}" for a, b in zip(r.choice(_PWORDS_A, n),
                                        r.choice(_PWORDS_B, n))]
    return pa.table({
        "p_partkey": np.arange(n, dtype="int64"),
        "p_name": pa.array(names),
        "p_brand": pa.array([f"Brand#{i}" for i in r.integers(1, 26, n)]),
        "p_type": pa.array(r.choice(_PTYPES, n)),
        "p_size": r.integers(1, 51, n).astype("int32"),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) / 10.0, 2),
    })


def make_events(seed: int, n: int) -> pa.Table:
    """Events in event-time order over 30 days (2024-01-01 onward)."""
    r = _rng(seed, "events")
    start = 19723 * _US_PER_DAY  # 2024-01-01
    ts = np.sort(start + r.integers(0, 30 * _US_PER_DAY, n))
    return pa.table({
        "event_id": np.arange(n, dtype="int64"),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": r.integers(0, 400, n),
        "event_type": pa.array(r.choice(_EVENT_TYPES, n)),
        "value": _money(r, 0.0, 560.0, n),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n)]),
    })


# ---------------------------------------------------------------------------
# Malformed-cell CSV
# ---------------------------------------------------------------------------

#: (column, bad cell) pairs injected into the CSV copy. Each makes the
#: column's mapping cast fail (or a non-nullable field NULL), so the row
#: must land on the error path.
_BAD_CELLS = (("l_quantity", "x12"), ("l_extendedprice", "12.3.4"),
              ("l_shipdate", "not-a-date"), ("l_orderkey", ""),
              ("l_discount", "n/a"))


def write_malformed_csv(li: pa.Table, path: str, seed: int,
                        share: float) -> np.ndarray:
    """Write ``li`` as an all-string CSV where ~``share`` of the rows carry
    one malformed cell; harmless padding (``" 42 "``) goes into other rows
    to exercise trim-before-parse. Returns the per-row bad mask."""
    r = _rng(seed, "malformed")
    n = li.num_rows
    bad = r.random(n) < share
    which = r.integers(0, len(_BAD_CELLS), n)
    padded = (r.random(n) < 0.02) & ~bad
    cols = {}
    for name in li.column_names:
        col = li.column(name)
        if pa.types.is_timestamp(col.type):
            s = np.array(col.cast(pa.date32()).cast(pa.string())
                         .to_pylist(), dtype=object)
        elif pa.types.is_floating(col.type):
            s = np.array([repr(float(x)) for x in col.to_numpy()],
                         dtype=object)
        else:
            s = np.array(col.cast(pa.string()).to_pylist(), dtype=object)
        if name == "l_quantity":
            s[padded] = [f" {v} " for v in s[padded]]
        for k, (bad_col, cell) in enumerate(_BAD_CELLS):
            if bad_col == name:
                s[bad & (which == k)] = cell
        cols[name] = pa.array(s, pa.string())
    pacsv.write_csv(pa.table(cols), path,
                    pacsv.WriteOptions(quoting_style="none"))
    return bad


# ---------------------------------------------------------------------------
# Sequences
# ---------------------------------------------------------------------------

def job_cycles(seed: int, shapes: list[str]):
    """Endless seeded permutations of the job shapes: each cycle submits
    every shape once, so any whole number of cycles has the same mix
    whatever the seed."""
    r = _rng(seed, "jobs")
    while True:
        yield [shapes[i] for i in r.permutation(len(shapes))]


# ---------------------------------------------------------------------------
# Cache
# ---------------------------------------------------------------------------

def _write_parquet(t: pa.Table, path: str) -> None:
    pq.write_table(t, path, compression="snappy")


def generate(seed: int, root: str) -> str:
    """Build the inputs for ``seed`` under ``root`` (once) and return the
    directory. ``manifest.json`` there records sizes and the expected
    counts the correctness checks compare against."""
    out = os.path.join(root, f"seed-{seed}-v{GEN_VERSION}")
    if os.path.exists(os.path.join(out, "manifest.json")):
        return out
    tmp = f"{out}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "tables"))
    os.makedirs(os.path.join(tmp, "events"))
    tables = os.path.join(tmp, "tables")

    orders = make_orders(seed, SIZES["orders"], SIZES["customer"])
    li = make_lineitem(seed, SIZES["lineitem"], SIZES["orders"])
    _write_parquet(orders, f"{tables}/orders.parquet")
    _write_parquet(make_customer(seed, SIZES["customer"]),
                   f"{tables}/customer.parquet")
    _write_parquet(make_part(seed, SIZES["part"]), f"{tables}/part.parquet")

    lo, hi = MALFORMED_SHARE
    share = float(_rng(seed, "share").uniform(lo, hi))
    bad = write_malformed_csv(li, f"{tmp}/lineitem_large.csv", seed, share)
    keep = np.array(li.column("l_returnflag").to_pylist()) != "R"
    # rows the lineitem jobs' filter keeps, and how many of them carry a
    # malformed cell — the expected recordsRead / recordsFailed
    expected = {"lineitem_large": {"read": int(keep.sum()),
                                   "failed": int((keep & bad).sum())}}
    n = SIZES["lineitem_small"]
    m = write_malformed_csv(li.slice(0, n), f"{tmp}/lineitem_small.csv", seed,
                            share)
    expected["lineitem_small"] = {"read": int(keep[:n].sum()),
                                  "failed": int((keep[:n] & m).sum())}

    events = make_events(seed, SIZES["events"])
    slices = []
    for at in range(0, events.num_rows, EVENT_SLICE_ROWS):
        name = f"part-{len(slices):04d}.parquet"
        piece = events.slice(at, EVENT_SLICE_ROWS)
        _write_parquet(piece, f"{tmp}/events/{name}")
        slices.append([name, piece.num_rows])

    manifest = dict(expected, seed=seed, sizes=SIZES, malformed_share=share,
                    event_slices=slices)
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    try:
        os.rename(tmp, out)
    except OSError:  # another run of the same seed won the race
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def fingerprint(directory: str) -> str:
    """sha256 over every generated file's relative path and bytes."""
    h = hashlib.sha256()
    for base, dirs, files in os.walk(directory):
        dirs.sort()
        for name in sorted(files):
            p = os.path.join(base, name)
            h.update(os.path.relpath(p, directory).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()

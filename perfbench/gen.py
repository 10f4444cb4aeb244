"""Seeded input generation for the benchmark workloads.

Everything here is a pure function of ``--seed`` and runs before the
timer of the operation it feeds. Files are written with pyarrow, never
with Spark, so generation costs no Spark job and shows up in no trace.
The program under test only ever sees the files: no seed-derived value
is passed to it as a parameter.

The backfill staging is built from synthetic rows with the ``orders``
fixture schema and value ranges (six columns, five ``o_orderpriority``
shards, order dates from 1995-01-01 over 2404 days), so the inputs live
inside the benchmark's own directory and scale without a fixture copy.
"""

from __future__ import annotations

import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
SPAN_DAYS = 2404
_DAY0 = np.datetime64("1995-01-01", "us")
_DAY_US = 86_400_000_000
#: malformed PRICE spellings: every one fails a DOUBLE cast in both Spark
#: (try_cast) and DuckDB (TRY_CAST)
_MALFORMED = ("n/a", "1.2.3", "12,50", "$99.00", "--7")


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per purpose, so adding a draw to one input
    never shifts another input of the same seed."""
    return np.random.default_rng([seed, zlib.crc32(stream.encode())])


def orders(rng: np.random.Generator, n: int, priorities: np.ndarray) -> pa.Table:
    """``n`` orders rows with keys ``0..n-1``; ``priorities`` (one per
    row) is the shard of every row."""
    days = rng.integers(0, SPAN_DAYS, n)
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(n), pa.int64()),
            "o_custkey": pa.array(rng.integers(1, 15_001, n), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n)),
            "o_totalprice": pa.array(np.round(rng.uniform(850.0, 560_000.0, n), 2)),
            "o_orderdate": pa.array(
                _DAY0 + days * np.timedelta64(_DAY_US, "us"),
                pa.timestamp("us", tz="UTC"),
            ),
            "o_orderpriority": pa.array(priorities),
        }
    )


def land(table: pa.Table, directory: str, name: str) -> int:
    """Write ``table`` as ``directory/name`` so that a reader listing the
    directory sees either no file or the whole file (dot-prefixed files
    are invisible to Spark's file index). Returns the file's size."""
    os.makedirs(directory, exist_ok=True)
    tmp = os.path.join(directory, f".{name}.tmp")
    pq.write_table(table, tmp)
    final = os.path.join(directory, name)
    os.rename(tmp, final)
    return os.path.getsize(final)


def backfill_staging(seed: int, n: int, directory: str) -> tuple[int, dict[str, str]]:
    """The all-string staging file of the reference's table shape
    (``sources.staging.snowflake_like``: PRICE, CATEGORY, NAME,
    UPDATED_AT) over ``n`` orders rows.

    Rows land in seeded order, shards are exactly balanced (``n`` is a
    multiple of five) and a seeded ~0.1% of PRICE values are malformed.
    Returns the file size and the injected ``{NAME: raw PRICE}`` map the
    dead-letter ledger must reproduce."""
    rng = rng_for(seed, "backfill")
    shards = rng.permutation(np.repeat(np.asarray(PRIORITIES), n // len(PRIORITIES)))
    t = orders(rng, n, priorities=shards)
    perm = rng.permutation(n)
    price = np.char.mod("%.2f", t["o_totalprice"].to_numpy())
    bad = rng.choice(n, size=max(1, round(n * 0.001)), replace=False)
    price = price.astype(object)
    price[bad] = rng.choice(_MALFORMED, size=len(bad))
    days = t["o_orderdate"].to_numpy().astype("datetime64[D]")
    staging = pa.table(
        {
            "PRICE": pa.array(price.astype(str)),
            "CATEGORY": t["o_orderpriority"],
            "NAME": pa.array(t["o_orderkey"].to_numpy().astype(str)),
            "UPDATED_AT": pa.array(np.char.add(np.datetime_as_string(days), " 00:00:00")),
        }
    ).take(pa.array(perm))
    injected = {str(k): str(price[k]) for k in bad}
    return land(staging, directory, "part-00000.parquet"), injected


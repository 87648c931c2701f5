"""Seeded benchmark inputs, written with pyarrow straight to parquet.

Everything here is a pure function of the seed: the same seed writes the
same bytes.  Spark is not involved (``createDataFrame`` costs ~10x the
generation time for the token table).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# lineitem at TPC-H sf0.1 proportions: 150k orders of 1-7 lines (~600k rows)
ORDERS = 150_000
PARTS = 20_000
SUPPLIERS = 1_000
# first and last ship date as days since the epoch (1992-01-02, 1998-12-01)
SHIP_LO, SHIP_HI = 8036, 10561


def write_tokens(out_dir: str, n_rows: int, seed: int, n_files: int) -> int:
    """The token-plane input: every FIXTURES family from
    ``tokens.synth_token_pdf``, written as ``n_files`` single-row-group
    files (one encode split each).  Returns the token count."""
    from rlv import tokens

    pdf = tokens.synth_token_pdf(n_rows, seed=seed)
    lens = pdf["n_tok"].to_numpy()
    offs = np.zeros(len(pdf) + 1, np.int32)
    np.cumsum(lens, out=offs[1:])
    flat = np.concatenate(list(pdf["tokens"])).astype(np.int32)
    tbl = pa.table({
        "doc_id": pa.array(pdf["doc_id"], pa.string()),
        "tokens": pa.ListArray.from_arrays(pa.array(offs), pa.array(flat)),
        "n_tok": pa.array(lens, pa.int32()),
        "source": pa.array(pdf["source"], pa.string()),
    })
    # docs are family-ordered; a seeded shuffle spreads every family over
    # every split so the splits carry equal work
    rng = np.random.default_rng(seed)
    write_table(tbl.take(pa.array(rng.permutation(len(tbl)))), out_dir,
                n_files)
    return int(lens.sum())


def lineitem_table(seed: int) -> pa.Table:
    """A lineitem-shaped table (TPC-H sf0.1 column set and value ranges)
    sorted by ``l_orderkey``."""
    rng = np.random.default_rng(seed)
    lines = rng.integers(1, 8, ORDERS)
    okey = np.repeat(np.arange(ORDERS, dtype=np.int64), lines)
    n = okey.size
    start = np.repeat(np.cumsum(lines) - lines, lines)
    qty = rng.integers(1, 51, n)
    ship = rng.integers(SHIP_LO, SHIP_HI, n)
    return pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, PARTS, n),
        "l_suppkey": rng.integers(0, SUPPLIERS, n),
        "l_linenumber": (np.arange(n) - start + 1).astype(np.int32),
        "l_quantity": qty.astype(np.int64),
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_returnflag": pa.array(
            np.where(ship > 9600, "N", rng.choice(["A", "R"], n)), pa.string()),
        "l_linestatus": pa.array(np.where(ship > 9600, "O", "F"), pa.string()),
        "l_shipdate": pa.array(ship.astype("datetime64[D]"), pa.timestamp("us")),
    })


def part_table(seed: int) -> pa.Table:
    """A part-shaped dimension keyed like lineitem's ``l_partkey``."""
    rng = np.random.default_rng(seed + 1)
    return pa.table({
        "l_partkey": np.arange(PARTS, dtype=np.int64),
        "p_size": rng.integers(1, 51, PARTS),
        "p_retailprice": np.round(rng.uniform(900.0, 2100.0, PARTS), 2),
    })


def write_table(tbl: pa.Table, path: str, n_files: int) -> list[str]:
    """Write ``tbl`` as ``n_files`` contiguous slices (one encode split
    each); returns the file paths."""
    os.makedirs(path, exist_ok=True)
    step = -(-len(tbl) // n_files)
    files = []
    for i in range(n_files):
        f = f"{path}/part-{i:03d}.parquet"
        pq.write_table(tbl.slice(i * step, step), f)
        files.append(f)
    return files

"""Seeded benchmark inputs from the repository's test tables.

`data/sf<sf>/` holds byte-identical copies of the deterministic test tables
that TESTDATA.md describes (seed 42), for the tables the workloads read:
the TPC-H-like star, `events` and `documents`. `data/SHA256SUMS` lists
their hashes (`cd perfbench/data && sha256sum -c SHA256SUMS`). The
workload seed only permutes the row order of every table, which graft's
results must not depend on, so one reference digest holds for every seed.

    python3 perfbench/gen.py --out DIR --sf 0.01 --seed 7 [--files 2]
"""
import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents")


def load(sf, name):
    """Table `name` of the test data at scale factor `sf`."""
    return pq.read_table(os.path.join(DATA, f"sf{sf}", f"{name}.parquet"))


def permute(table, seed, name):
    """`table` with its rows in an order drawn from (seed, name)."""
    rng = np.random.default_rng([seed, sum(map(ord, name))])
    return table.take(pa.array(rng.permutation(table.num_rows)))


def write(tables, out, files=1):
    """One parquet file per table, or a directory of `files` parts."""
    os.makedirs(out, exist_ok=True)
    for name, tab in tables.items():
        path = os.path.join(out, f"{name}.parquet")
        if files == 1:
            pq.write_table(tab, path, compression="snappy")
            continue
        os.makedirs(path, exist_ok=True)
        bounds = np.linspace(0, tab.num_rows, files + 1).astype(int)
        for i in range(files):
            pq.write_table(tab.slice(bounds[i], bounds[i + 1] - bounds[i]),
                           os.path.join(path, f"part-{i:05d}.parquet"),
                           compression="snappy")


def seeded_tables(sf, seed):
    """Every table at `sf`, rows in the order drawn from `seed`."""
    return {n: permute(load(sf, n), seed, n) for n in TABLES}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--sf", type=float, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--files", type=int, default=1)
    a = ap.parse_args()
    write(seeded_tables(a.sf, a.seed), a.out, a.files)


if __name__ == "__main__":
    main()

"""Seeded inputs for the benchmark: row-permuted copies of the shipped test
tables.

`data/sf0.01` and `data/sf0.001` hold the repository's deterministic test
tables at those scale factors (a TPC-H-like star schema, an `events`
stream, a `documents` corpus and an `embeddings` table). A run stages a
copy of each table with its rows permuted by the run's `--seed`, one file
per table. A permutation keeps every table's row multiset, so the outputs
are the same for every seed and one set of expected fingerprints serves
all of them.

    python3 perfbench/stage.py <out_dir> <sf> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def write(out_dir, sf, seed):
    """Write every table of scale factor `sf` (as named under data/), rows
    permuted by `seed`, one file each."""
    src = os.path.join(DATA, sf)
    names = sorted(f for f in os.listdir(src) if f.endswith(".parquet"))
    if not names:
        raise FileNotFoundError(f"no tables under {src}")
    os.makedirs(out_dir, exist_ok=True)
    for i, name in enumerate(names):
        table = pq.read_table(os.path.join(src, name))
        perm = np.random.default_rng([seed % 2**63, i]).permutation(table.num_rows)
        pq.write_table(table.take(pa.array(perm)), os.path.join(out_dir, name))


if __name__ == "__main__":
    write(sys.argv[1], sys.argv[2], int(sys.argv[3]))

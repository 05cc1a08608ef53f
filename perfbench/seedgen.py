"""Seeded inputs: a row permutation of every table of a source directory.

Each `<name>.parquet` under the source is rewritten under the destination
with the same schema, the same rows and the same row-group size, with its
rows in an order drawn from the seed. The same seed gives the same files;
the row multiset never changes, so every query result (and its DuckDB
oracle) stays the same while each seed lays the data out differently.
"""
import os
import zlib

import numpy as np
import pyarrow.parquet as pq


def permutation(seed, name, n):
    """The row order of table `name` (n rows) under `seed`."""
    rng = np.random.default_rng([seed, zlib.crc32(name.encode())])
    return rng.permutation(n)


def permute_table(src, dst, seed, name):
    meta = pq.ParquetFile(src).metadata
    table = pq.read_table(src)
    groups = [meta.row_group(i).num_rows for i in range(meta.num_row_groups)]
    codec = (meta.row_group(0).column(0).compression
             if meta.num_row_groups and meta.num_columns else "SNAPPY")
    shuffled = table.take(permutation(seed, name, table.num_rows))
    pq.write_table(shuffled, dst, row_group_size=max(groups + [1]),
                   compression=codec.lower())


def generate(src_dir, dst_dir, seed):
    """Write the seed's permutation of every table in src_dir to dst_dir."""
    os.makedirs(dst_dir, exist_ok=True)
    names = sorted(f[:-len(".parquet")] for f in os.listdir(src_dir)
                   if f.endswith(".parquet"))
    for name in names:
        permute_table(os.path.join(src_dir, name + ".parquet"),
                      os.path.join(dst_dir, name + ".parquet"), seed, name)
    return names

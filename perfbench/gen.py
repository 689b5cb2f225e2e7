"""Seeded inputs for the benchmark, made from the engine's test fixture.

perfbench/fixture holds byte copies of the engine's sf0.01 fixture tables
(seed 42, see TESTDATA.md: 60,000 lineitem rows), the same tables the
correctness tier checks against DuckDB. The seed changes no value: it sets
each table's row order, and so which rows share a file. Every table except
region and nation is written as FILES parquet files of equal size, so the
seed does not change scan parallelism. Same seed, same bytes.
"""
import os
import shutil

import numpy as np
import pyarrow.parquet as pq

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixture")
FILES = 4
SINGLE = ("region", "nation")


def write(out_dir, seed):
    """Generate into `out_dir` unless it is complete; returns the directory."""
    if os.path.exists(os.path.join(out_dir, "_SUCCESS")):
        return out_dir
    rng = np.random.default_rng(seed)
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for f in sorted(os.listdir(FIXTURE)):
        src, dest = os.path.join(FIXTURE, f), os.path.join(tmp, f)
        if f[:-len(".parquet")] in SINGLE:
            shutil.copyfile(src, dest)
            continue
        table = pq.read_table(src)
        table = table.take(rng.permutation(table.num_rows))
        cuts = np.linspace(0, table.num_rows, FILES + 1).astype(int)
        os.makedirs(dest)
        for i, (lo, hi) in enumerate(zip(cuts[:-1], cuts[1:])):
            pq.write_table(table.slice(lo, hi - lo), os.path.join(dest, f"part-{i:05d}.parquet"))
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)
    return out_dir

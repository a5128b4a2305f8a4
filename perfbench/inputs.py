"""Seeded benchmark inputs: a thin wrapper over the repo's tools/gen_sf.py.

One benchmark seed yields, per workload scale, `count` timed inputs (one per
pass; each is data the measuring JVM has never read) and one warm-up input
from a fixed seed outside the timed range, so warm-up never touches timed
data and the warm-up outputs can be checked against committed goldens.
Inputs are cached under the checkout's build directory, keyed by scale and
generator seed, so generation stays out of every timing.
"""
import contextlib
import importlib.util
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

WARM_SEED = 7
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def timed_seed(seed, k):
    """Generator seed of the k-th timed input of benchmark seed `seed`;
    always far above WARM_SEED."""
    return 1_000_003 * (abs(seed) + 1) + k


def _fixed_dims(out):
    """The fixed TPC-H-style dims gen_sf.py copies from a fixed sf0.1
    directory outside the checkout; written here instead, so the benchmark
    reads no input data from outside its checkout."""
    pq.write_table(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), os.path.join(out, "region.parquet"))
    pq.write_table(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), os.path.join(out, "nation.parquet"))


def _load_gen_sf(root):
    spec = importlib.util.spec_from_file_location(
        "gen_sf", os.path.join(root, "tools", "gen_sf.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def generate(root, cache, sf, gen_seed):
    """Directory holding the tables for (sf, gen_seed), generated once."""
    out = os.path.join(cache, f"sf{sf}", f"seed{gen_seed}")
    if os.path.isfile(os.path.join(out, "_DONE")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    tmp = out + ".part"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    gen_sf = _load_gen_sf(root)
    # gen_sf copies region/nation from a fixed directory before drawing any
    # random numbers; write them locally instead. The rng stream, and with
    # it every other table, is unchanged.
    real_copy = gen_sf.shutil.copyfile
    gen_sf.shutil.copyfile = lambda src, dst: None
    try:
        with open(os.devnull, "w") as devnull, contextlib.redirect_stdout(devnull):
            gen_sf.gen(sf, tmp, gen_seed)
    finally:
        gen_sf.shutil.copyfile = real_copy
    _fixed_dims(tmp)
    with open(os.path.join(tmp, "_DONE"), "w") as f:
        f.write("ok\n")
    os.rename(tmp, out)
    return out


def describe(path):
    """Row and byte sizes of each table of one input directory."""
    sizes = {}
    for t in TABLES:
        p = os.path.join(path, f"{t}.parquet")
        sizes[t] = {"rows": pq.read_metadata(p).num_rows,
                    "bytes": os.path.getsize(p)}
    return sizes

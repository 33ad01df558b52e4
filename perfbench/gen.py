"""Seeded input generator for the benchmark.

Every table of a base TPC-H-style directory (one parquet file per table) is
optionally replicated with graft.ScaleGen's construction (nation and region
stay shared, one copy each, as ScaleGen writes them), then its rows are
permuted and split into several files, both driven by the seed.  Every seed
therefore yields the same multiset of rows: a correct query gives the same
answer on every seed, and one that does not is reported as a failure.

The program only ever sees the generated `<table>.parquet/` directories.
"""
import hashlib
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()

# BIGINT entity keys that graft.ScaleGen shifts by k*G in replica k.
SHIFTED = {
    "customer": ["c_custkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "part": ["p_partkey"],
    "supplier": ["s_suppkey"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "events": ["event_id", "user_id"],
}

MAX_CACHED = 12
# Each small file is one scan partition, so a fixed count keeps task counts
# equal across seeds.
N_FILES = 4


def _span(tables):
    """ScaleGen's G: one global key span, max over every key domain + 1."""
    return 1 + max(pc.max(tables[t][c]).as_py() for t, cs in SHIFTED.items() for c in cs)


def _replica(name, tab, k, g):
    """Replica k of one replicated table, as graft.ScaleGen builds it."""
    if k == 0:
        return tab
    for c in SHIFTED[name]:
        i = tab.schema.get_field_index(c)
        tab = tab.set_column(i, c, pc.add(tab[c], pa.scalar(k * g, pa.int64())))
    if name == "documents":
        suffix = f" zrep{k}"
        i = tab.schema.get_field_index("text")
        tab = tab.set_column(i, "text", pc.binary_join_element_wise(tab["text"], suffix, ""))
        i = tab.schema.get_field_index("n_chars")
        tab = tab.set_column(i, "n_chars", pc.add(tab["n_chars"], len(suffix)))
    if name == "embeddings":
        # x + k e-3f * CAST(i % 7 - 3 AS FLOAT), all in float32
        emb = tab["embedding"].combine_chunks()
        offsets = emb.offsets.to_numpy()
        values = emb.values.to_numpy(zero_copy_only=False).astype(np.float32)
        pos = np.arange(len(values)) - np.repeat(offsets[:-1], np.diff(offsets))
        jitter = np.float32(f"{k}e-3") * (pos % 7 - 3).astype(np.float32)
        new = pa.ListArray.from_arrays(emb.offsets, pa.array(values + jitter, pa.float32()))
        i = tab.schema.get_field_index("embedding")
        tab = tab.set_column(i, tab.schema.field(i), new)
    return tab


def _write_permuted(tab, out, rng):
    """Rows in a seeded order, cut at seeded points into N_FILES files."""
    tab = tab.take(pa.array(rng.permutation(tab.num_rows)))
    n_files = min(N_FILES, max(1, tab.num_rows))
    cuts = sorted(rng.choice(np.arange(1, tab.num_rows), n_files - 1, replace=False)) \
        if n_files > 1 else []
    os.makedirs(out)
    bounds = [0, *cuts, tab.num_rows]
    for j, (a, b) in enumerate(zip(bounds, bounds[1:])):
        pq.write_table(tab.slice(a, b - a), os.path.join(out, f"part-{j:05d}.parquet"))


def generate(base_dir, mult, seed, out_dir):
    base = {t: pq.read_table(os.path.join(base_dir, f"{t}.parquet")) for t in TABLES}
    g = _span(base)
    rng = np.random.default_rng(seed)
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    for t in TABLES:
        copies = range(mult) if t in SHIFTED else range(1)
        tab = pa.concat_tables([_replica(t, base[t], k, g) for k in copies])
        _write_permuted(tab, os.path.join(tmp, f"{t}.parquet"), rng)
    os.replace(tmp, out_dir)


def inputs(cache_root, base_dir, mult, seed):
    """The generated directory for (base, mult, seed), built on first use.
    The name also carries a hash of this file, so a change to the generator
    never reuses inputs that an older version built.

    Returns (path, seconds spent generating; 0.0 on a cache hit).
    """
    version = hashlib.sha256(open(__file__, "rb").read()).hexdigest()[:12]
    name = f"{os.path.basename(base_dir.rstrip('/'))}-x{mult}-seed{seed}-{version}"
    out = os.path.join(cache_root, name)
    if os.path.isdir(out):
        os.utime(out)
        return out, 0.0
    os.makedirs(cache_root, exist_ok=True)
    t0 = time.perf_counter()
    generate(base_dir, mult, seed, out)
    dt = time.perf_counter() - t0
    cached = sorted((os.path.join(cache_root, d) for d in os.listdir(cache_root)
                     if not d.endswith(".tmp")), key=os.path.getmtime)
    for old in cached[:-MAX_CACHED]:
        shutil.rmtree(old, ignore_errors=True)
    return out, dt

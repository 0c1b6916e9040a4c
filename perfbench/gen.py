"""Seeded inputs for the benchmark.

Every input is a pure function of its seed and size arguments: the same
arguments write byte-identical files (`python3 perfbench/gen.py --check`
hashes each file twice to show it).

- `edge_file`: an undirected edge list in the reference's text format,
  one `src dst` pair of 9-digit ids per line, with duplicate, reversed
  and self-loop lines. `shape="powerlaw"` gives a Zipf degree sequence
  with one Twitter-like hub; `shape="uniform"` gives near-equal degrees.
- `scaled_documents`: a seeded subsample of the fixture `documents`
  table replicated with disjoint doc_id ranges (id + k * 10^9) into one
  parquet file, rows in seeded order: the `graft.tools.MakeScaled` shape.

The table inputs come from `perfbench/fixture/`, an extract of the
repository's sf0.1 test tables made once by `gen.py --extract <sf0.1
dir>`: `documents.parquet` as it is, and of `lineitem.parquet` the rows
and columns `g20_skew_components` reads (`l_linenumber = 1`; `l_orderkey`,
`l_partkey`, `l_linenumber`), which give the same graph and output.
"""
import argparse
import hashlib
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixture")


def _rng(seed, salt):
    return np.random.default_rng([int(seed), salt])


def _write_parquet(table, path):
    tmp = path + ".tmp"
    pq.write_table(table, tmp, compression="snappy", write_statistics=True)
    os.replace(tmp, path)


def edge_file(path, seed, edges, shape, nodes=None):
    """Write `edges` lines of `src dst` (9-digit ids) to `path`."""
    salt = 1 if shape == "powerlaw" else 2
    rng = _rng(seed, salt)
    nodes = nodes or max(1000, edges // 10)
    if shape == "powerlaw":
        w = 1.0 / np.arange(1, nodes + 1) ** 0.85
        w[0] = w.sum() * 0.03  # the hub: about 3% of all endpoints
        p = w / w.sum()
        src = rng.choice(nodes, size=edges, p=p)
        dst = rng.choice(nodes, size=edges, p=p)
    elif shape == "uniform":
        src = rng.integers(0, nodes, size=edges)
        dst = rng.integers(0, nodes, size=edges)
    else:
        raise ValueError(shape)
    # about 1% each: exact duplicates, reversed duplicates, self-loops
    k = edges // 100
    pick = rng.integers(0, edges, size=3 * k)
    src[:k], dst[:k] = src[pick[:k]], dst[pick[:k]]
    src[k:2 * k], dst[k:2 * k] = dst[pick[k:2 * k]], src[pick[k:2 * k]]
    dst[2 * k:3 * k] = src[2 * k:3 * k]
    order = rng.permutation(edges)
    ids = rng.choice(900_000_000, size=nodes, replace=False) + 100_000_000
    lines = np.char.add(np.char.add(ids[src[order]].astype("U9"), " "),
                        ids[dst[order]].astype("U9"))
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write("\n".join(lines.tolist()))
        f.write("\n")
    os.replace(tmp, path)


def scaled_documents(out_dir, seed, docs, copies):
    """Write `copies` replicas of `docs` seeded fixture documents as one file."""
    os.makedirs(out_dir, exist_ok=True)
    base = pq.read_table(os.path.join(FIXTURE, "documents.parquet"))
    keep = np.sort(_rng(seed, 6).choice(base.num_rows, size=docs, replace=False))
    base = base.take(pa.array(keep))
    parts = []
    for k in range(copies):
        ids = pa.array(base.column("doc_id").to_numpy() + k * 1_000_000_000)
        parts.append(base.set_column(0, "doc_id", ids))
    t = pa.concat_tables(parts)
    t = t.take(pa.array(_rng(seed, 7).permutation(t.num_rows)))
    _write_parquet(t, os.path.join(out_dir, "documents.parquet"))


def extract(sf_dir):
    """Write perfbench/fixture/ from the sf0.1 test tables in `sf_dir`."""
    os.makedirs(FIXTURE, exist_ok=True)
    shutil.copyfile(os.path.join(sf_dir, "documents.parquet"),
                    os.path.join(FIXTURE, "documents.parquet"))
    li = pq.read_table(os.path.join(sf_dir, "lineitem.parquet"),
                       columns=["l_orderkey", "l_partkey", "l_linenumber"])
    li = li.filter(pc.equal(li["l_linenumber"], 1)).replace_schema_metadata(None)
    pq.write_table(li, os.path.join(FIXTURE, "lineitem.parquet"), compression="zstd")


def _digest(path):
    h = hashlib.sha256()
    with open(path, "rb") as f:
        h.update(f.read())
    return h.hexdigest()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--check", action="store_true",
                    help="generate every input twice into DIR and compare hashes")
    ap.add_argument("--dir", default=".perfbench/gencheck")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--extract", metavar="SF_DIR",
                    help="write perfbench/fixture/ from the sf0.1 tables in SF_DIR")
    a = ap.parse_args()
    if a.extract:
        extract(a.extract)
        return
    if not a.check:
        ap.error("give --check or --extract")
    digests = []
    for rep in range(2):
        d = os.path.join(a.dir, str(rep))
        os.makedirs(d, exist_ok=True)
        edge_file(os.path.join(d, "pl.txt"), a.seed, 20000, "powerlaw")
        edge_file(os.path.join(d, "un.txt"), a.seed, 20000, "uniform")
        scaled_documents(os.path.join(d, "x"), a.seed, 500, 3)
        files = sorted(os.path.relpath(os.path.join(r, f), d)
                       for r, _, fs in os.walk(d) for f in fs)
        digests.append({f: _digest(os.path.join(d, f)) for f in files})
    same = digests[0] == digests[1]
    for f, h in digests[0].items():
        print(f"{h[:16]}  {f}  {'same' if digests[1].get(f) == h else 'DIFFERENT'}")
    sys.exit(0 if same else 1)


if __name__ == "__main__":
    main()

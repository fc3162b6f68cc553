"""Seeded input generator for the benchmark.

The base tables in ``base/`` are real rows of the engine's sf0.1 test
data (see ``make_base.py``). The benchmark seed derives the inputs from
them the way SCALE.md's "Measured 20-40x scale-up" method does:

* key-shifted copies: copy ``k`` shifts every key by ``k * span`` plus a
  seed-dependent offset, so joins still match within a copy;
* row order: every table is shuffled by a seeded permutation;
* token rotation: copy ``k`` of a document rotates its token array by a
  seeded number of positions, so each document gains near-twins;
* embedding perturbation: every copy of a vector adds seeded Gaussian
  noise (a tenth of the base's per-dimension spread) and is normalized
  again.

Tables are written as directories ``<out>/<table>.parquet/part-NNNNN.parquet``
with several files and several row groups per file, so scans split into
many tasks. Only numpy and pyarrow are used; the program under test sees
nothing but the files.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import zlib
from dataclasses import asdict, dataclass, replace

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
BASE_DIR = os.path.join(HERE, "base")

# key column -> the key space it lives in; every copy shifts each space
KEYS = {
    "customer": {"c_custkey": "customer"},
    "orders": {"o_orderkey": "orders", "o_custkey": "customer"},
    "lineitem": {"l_orderkey": "orders"},
    "events": {"event_id": "events", "user_id": "users"},
    "documents": {"doc_id": "documents"},
    "embeddings": {"vec_id": "embeddings"},
    "nation": {},
}
# key space -> (base table, column) whose max + 1 is the span of a copy
SPANS = {"customer": ("customer", "c_custkey"), "orders": ("orders", "o_orderkey"),
         "events": ("events", "event_id"), "users": ("events", "user_id"),
         "documents": ("documents", "doc_id"), "embeddings": ("embeddings", "vec_id")}
NOISE = 0.1     # embedding noise, as a share of the base's per-dimension std


@dataclass(frozen=True)
class Table:
    """One table of a workload's inputs: rows taken from the base (all
    when None, the lowest keys first), copies and file layout."""
    name: str
    copies: int = 1
    rows: int | None = None
    files: int = 4
    row_groups_per_file: int = 2


def read_base(name: str) -> pa.Table:
    return pq.read_table(os.path.join(BASE_DIR, f"{name}.parquet"))


def key_offset(seed: int) -> int:
    """The seed's key shift; copy 0 of every table starts its keys here."""
    return int(np.random.default_rng([seed, 7]).integers(1, 1_000)) * 1_000_000


def spans() -> dict[str, int]:
    return {space: pc.max(read_base(t)[col]).as_py() + 1 for space, (t, col) in SPANS.items()}


def _rotate(texts: pa.Array, by: int) -> pa.Array:
    out = []
    for t in texts.to_pylist():
        toks = t.split(" ")
        r = by % len(toks)
        out.append(" ".join(toks[r:] + toks[:r]))
    return pa.array(out)


def _perturb(emb: pa.Array, rng) -> pa.Array:
    vecs = np.asarray(emb.to_pylist(), dtype="float64")
    vecs = vecs + rng.normal(0.0, NOISE * vecs.std(axis=0).mean(), vecs.shape)
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    return pa.ListArray.from_arrays(
        np.arange(0, vecs.size + 1, vecs.shape[1], dtype="int32"), pa.array(vecs.reshape(-1)))


def _copy(base: pa.Table, name: str, k: int, seed: int, span: dict) -> pa.Table:
    """Copy ``k`` of a base table for ``seed``."""
    offset = key_offset(seed)
    for col, space in KEYS[name].items():
        shifted = pc.add(base[col], offset + k * span[space]).cast(base.schema.field(col).type)
        base = base.set_column(base.schema.get_field_index(col), col, shifted)
    if name == "documents":
        by = int(np.random.default_rng([seed, 11]).integers(0, 64)) + k
        text = _rotate(base["text"].combine_chunks(), by)
        base = base.set_column(base.schema.get_field_index("text"), "text", text)
        base = base.set_column(base.schema.get_field_index("n_chars"), "n_chars",
                               pc.utf8_length(text).cast(pa.int64()))
    if name == "embeddings":
        emb = _perturb(base["embedding"].combine_chunks(),
                       np.random.default_rng([seed, 13, k]))
        base = base.set_column(base.schema.get_field_index("embedding"), "embedding",
                               emb.cast(base.schema.field("embedding").type))
    return base


@dataclass
class TableStats:
    rows: int
    bytes: int
    files: int
    row_groups: int


def generate(out_dir: str, tables: list[Table], seed: int) -> tuple[dict[str, TableStats], int]:
    """Write every table for ``seed`` under ``out_dir`` (replacing what is
    there); return per-table rows, bytes, files and row groups, and the
    seed's key offset."""
    span = spans()
    stats = {}
    for t in tables:
        base = read_base(t.name)
        if t.rows is not None:
            base = base.slice(0, t.rows)
        parts = [_copy(base, t.name, k, seed, span) for k in range(t.copies)]
        tab = pa.concat_tables(parts)
        perm = np.random.default_rng([seed, zlib.crc32(t.name.encode()), 3]).permutation(
            tab.num_rows)
        tab = tab.take(pa.array(perm))
        path = os.path.join(out_dir, f"{t.name}.parquet")
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        files = min(t.files, tab.num_rows)
        bounds = np.linspace(0, tab.num_rows, files + 1).astype(int)
        nbytes = groups = 0
        for i in range(files):
            chunk = tab.slice(bounds[i], bounds[i + 1] - bounds[i])
            rg = max(1, -(-chunk.num_rows // t.row_groups_per_file))
            fp = os.path.join(path, f"part-{i:05d}.parquet")
            pq.write_table(chunk, fp, row_group_size=rg)
            nbytes += os.path.getsize(fp)
            groups += pq.ParquetFile(fp).num_row_groups
        stats[t.name] = TableStats(tab.num_rows, nbytes, files, groups)
    return stats, key_offset(seed)


# Inputs per workload at scale 1, sized for a 4-core box with 15 GB of RAM.
# etl_scan replicates the relational base 10x, to sf0.1's row counts, and
# its scans split into several tasks per core; operator_loops stays small
# because operators, candidate pairs and per-round jobs, not data volume,
# set its time.
TABLES = {
    "etl_scan": (
        Table("lineitem", copies=10, files=16),
        Table("orders", copies=10, files=8),
        Table("customer", copies=10),
        Table("nation", files=1, row_groups_per_file=1),
        Table("events", copies=10, files=8)),
    "operator_loops": (
        Table("documents", copies=3, rows=500),
        Table("embeddings", copies=3, rows=500),
        Table("customer", files=2),
        Table("orders", rows=7_500, files=2),
        Table("lineitem", rows=30_000),
        Table("events")),
}


def workload_tables(workload: str, scale: float) -> list[Table]:
    """Scale multiplies the rows each copy takes from the base."""
    if scale == 1.0:
        return list(TABLES[workload])
    return [t if t.name == "nation" else
            replace(t, rows=max(40, int((t.rows or read_base(t.name).num_rows) * scale)))
            for t in TABLES[workload]]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--out", required=True)
    ap.add_argument("--workload", required=True, choices=sorted(TABLES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--scale", type=float, default=1.0)
    a = ap.parse_args()
    os.makedirs(a.out, exist_ok=True)
    stats, offset = generate(a.out, workload_tables(a.workload, a.scale), a.seed)
    print(json.dumps({"offset": offset,
                      "tables": {k: asdict(v) for k, v in stats.items()}}))


if __name__ == "__main__":
    main()

"""Seeded benchmark inputs.

The base tables in ``data/`` are the engine's sf0.001 star schema plus
its corpus tables (documents, embeddings, events), stored with the
benchmark so a run reads nothing outside its checkout. A workload's
input is derived from them by two seeded, result-preserving steps:

* ``scale`` > 1 replicates the star-schema tables the SQL and GBT
  workloads read, offsetting every key by the replica index so keys stay
  unique and joins keep their selectivity;
* every table's rows are permuted by ``seed``.

A permutation changes the physical layout (row order, hence partition
contents and hash-table insertion order) but not the multiset of rows,
so oracle results do not depend on the seed.

Every copy written by ``write_copy`` gets a fresh directory and fresh
file mtimes, hence a new ``src_fingerprint``: the engine's
fingerprint-keyed memos and staged scratch trees are cold for it.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()

# table -> {key column: key space it lives in}; replica r adds
# r * (rows of the key space's home table) to every listed column
_KEYS = {
    "customer": {"c_custkey": "customer"},
    "supplier": {"s_suppkey": "supplier"},
    "part": {"p_partkey": "part"},
    "orders": {"o_orderkey": "orders", "o_custkey": "customer"},
    "lineitem": {
        "l_orderkey": "orders",
        "l_partkey": "part",
        "l_suppkey": "supplier",
    },
}
_NAMES = {"customer": ("c_name", "c_custkey", "Customer#"),
          "supplier": ("s_name", "s_suppkey", "Supplier#")}


def load_base() -> dict[str, pa.Table]:
    return {t: pq.read_table(os.path.join(DATA_DIR, f"{t}.parquet")) for t in TABLES}


def _replicate(name: str, table: pa.Table, scale: int, sizes: dict[str, int]) -> pa.Table:
    t = pa.concat_tables([table] * scale).combine_chunks()
    replica = np.repeat(np.arange(scale, dtype=np.int64), table.num_rows)
    for col, space in _KEYS[name].items():
        off = pa.array(replica * sizes[space]).cast(t.schema.field(col).type)
        t = t.set_column(t.schema.get_field_index(col), col, pc.add(t[col], off))
    if name in _NAMES:
        col, key, prefix = _NAMES[name]
        digits = pc.utf8_lpad(pc.cast(t[key], pa.string()), width=9, padding="0")
        names = pc.binary_join_element_wise(prefix, digits, "")
        t = t.set_column(t.schema.get_field_index(col), col, names)
    return t


def make_inputs(seed: int, scale: int = 1, tables=TABLES) -> dict[str, pa.Table]:
    """The seed-permuted (and, for ``scale`` > 1, replicated) tables."""
    base = load_base()
    sizes = {t: base[t].num_rows for t in _KEYS}
    out = {}
    for name in tables:
        t = base[name]
        if scale > 1 and name in _KEYS:
            t = _replicate(name, t, scale, sizes)
        rng = np.random.default_rng([seed, TABLES.index(name)])
        out[name] = t.take(pa.array(rng.permutation(t.num_rows)))
    return out


class InputSet:
    """One generated input, written once and copied per pass."""

    def __init__(self, root: str, seed: int, scale: int = 1, tables=TABLES):
        self.root = root
        self.tables = make_inputs(seed, scale, tables)
        self._copies = 0
        self.master = self.write_copy()

    @property
    def rows(self) -> dict[str, int]:
        return {t: v.num_rows for t, v in self.tables.items()}

    def write_copy(self) -> str:
        """A fresh directory holding the tables; new path and mtimes."""
        d = os.path.join(self.root, f"copy{self._copies}")
        self._copies += 1
        os.makedirs(d)
        for name, t in self.tables.items():
            path = os.path.join(d, f"{name}.parquet")
            if self._copies == 1:
                pq.write_table(t, path)
            else:
                shutil.copyfile(os.path.join(self.master, f"{name}.parquet"), path)
        return d

    def bytes_on_disk(self) -> int:
        return sum(
            os.path.getsize(os.path.join(self.master, f"{t}.parquet"))
            for t in self.tables
        )

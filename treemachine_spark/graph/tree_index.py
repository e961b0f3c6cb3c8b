"""Per-snapshot interval-labelled tree index: the driver-resident form of a
served GraphStore that answers the point tree routes with no Spark job.

Labels follow Dietz (1982): each node gets a pre-order rank ``pre`` and a
subtree ``size``, so "a is an ancestor-or-self of b" is the interval test
``pre[a] <= pre[b] < pre[a] + size[a]``, a subtree is the contiguous range
``[pre, pre + size)``, and the MRCA of a node set is the deepest ancestor
of its min-``pre`` node whose interval covers its max-``pre`` node. Every
array here is indexed by *position*, which IS the pre-order rank, so a
subtree's rows are one slice. The reference keeps the same kind of
per-node precompute in its graph (``tip_descendants`` on every edge and
the ``long[]`` mrca arrays, SURVEY §4).

The labels are computed at load from the store's edges, never stored:
ingest and the store format are unchanged. Construction is
level-synchronous numpy (one vectorized step per tree level), and the
index stays columnar — int numpy arrays, Arrow columns for the blob
fields, one pandas hash for node ids — so it is tens to hundreds of MB at
2.4M tips, not per-node Python objects.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from functools import lru_cache

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

NODE_COLUMNS = ("node_id", "ott_id", "name", "unique_name", "rank", "tax_sources")
EDGE_COLUMNS = ("child_id", "parent_id", "branch_length", "child_index", "tip_descendants")
SOURCE_COLUMNS = ("source_id", "study_id", "tree_id", "git_sha")


@lru_cache(maxsize=1 << 16)
def _java_spread_hash(key: str) -> int:
    """``java.lang.String.hashCode`` (over UTF-16 code units) with
    HashMap's spread step ``h ^ (h >>> 16)``."""
    h = 0
    for ch in key:
        o = ord(ch)
        if o < 0x10000:
            h = (31 * h + o) & 0xFFFFFFFF
        else:  # a surrogate pair is two code units
            o -= 0x10000
            h = (31 * h + 0xD800 + (o >> 10)) & 0xFFFFFFFF
            h = (31 * h + 0xDC00 + (o & 0x3FF)) & 0xFFFFFFFF
    return h ^ (h >> 16)


def _rehash(table: list[list[str]], cap: int) -> list[list[str]]:
    # HashMap.resize splits each bin into a lo and a hi bin, keeping order
    out: list[list[str]] = [[] for _ in range(cap)]
    for bin_ in table:
        for k in bin_:
            out[_java_spread_hash(k) & (cap - 1)].append(k)
    return out


def java_hashmap_order(keys) -> list[str]:
    """Iteration order of the ``java.util.HashMap`` that a Spark
    ``collect()`` builds for a MapType value (sized to the map's entry
    count, filled in stored order) before pickling it to a Python dict.
    Serving answers from Arrow columns, which keep the stored order, so
    blob maps are re-ordered through this to keep response bytes
    identical to the collect-based answers.

    Simulates the table: initial capacity the next power of two >= the
    entry count, doubled past 3/4 load or when a bin reaches 9 entries
    below capacity 64. Treeified bins (9+ colliding keys at capacity
    >= 64) are taken in insertion order; annotation maps are far too
    small to reach them."""
    keys = list(dict.fromkeys(keys))
    if len(keys) < 2:
        return keys
    cap = 1 << (len(keys) - 1).bit_length()
    table: list[list[str]] = [[] for _ in range(cap)]
    for size, k in enumerate(keys, start=1):
        bin_ = table[_java_spread_hash(k) & (cap - 1)]
        bin_.append(k)
        if len(bin_) > 8 and cap < 64:  # treeifyBin resizes small tables
            cap *= 2
            table = _rehash(table, cap)
        if size > cap * 3 // 4:
            cap *= 2
            table = _rehash(table, cap)
    return [k for bin_ in table for k in bin_]


def _combined(table: pa.Table, name: str) -> pa.Array:
    col = table.column(name)
    return col.combine_chunks() if col.num_chunks != 1 else col.chunk(0)


def _nullable_take(arr: pa.Array, rows: np.ndarray) -> pa.Array:
    """``arr.take(rows)`` where rows < 0 give null."""
    return arr.take(pa.array(rows, mask=rows < 0))


class TreeIndex:
    """Columnar interval-labelled tree over one store snapshot.

    Arrays indexed by position (pre-order rank): ``parent`` (-1 at the
    root), ``depth``, ``size``; ``node_id`` (object array). Blob columns
    (node fields, the edge's ``branch_length``/``child_index``/
    ``tip_descendants``, every annotation map) are Arrow arrays in the
    same order, null where a node has no edge/annotation row. Children
    follow (``child_index``, node_id) order — the order newick assembly
    emits them in."""

    def __init__(
        self,
        nodes: pa.Table,
        edges: pa.Table,
        annotations: pa.Table,
        root_id: str,
        source_map: dict | None = None,
    ):
        ids_in = _combined(nodes, "node_id").to_numpy(zero_copy_only=False)
        n = len(ids_in)
        lookup = pd.Index(ids_in)
        if not lookup.is_unique:
            raise ValueError("node ids are not unique")
        child = lookup.get_indexer(_combined(edges, "child_id").to_numpy(zero_copy_only=False))
        parent = lookup.get_indexer(_combined(edges, "parent_id").to_numpy(zero_copy_only=False))
        root = int(lookup.get_indexer([root_id])[0])
        if root < 0 or (child < 0).any() or (parent < 0).any():
            raise ValueError("edges or root reference nodes missing from the node table")

        # children grouped by parent, each group in (child_index, id) order
        ci = pc.fill_null(_combined(edges, "child_index"), 0).to_numpy().astype(np.int64)
        id_rank = np.empty(n, np.int64)
        id_rank[pc.sort_indices(_combined(nodes, "node_id")).to_numpy()] = np.arange(n)
        order = np.lexsort((id_rank[child], ci, parent))
        kids = child[order]
        n_kids = np.bincount(parent, minlength=n)
        kid_off = np.concatenate(([0], np.cumsum(n_kids)))[:-1]

        # top-down level pass: depth, and the per-level child lists
        levels = [np.array([root], np.int64)]
        n_reached = 1
        while n_reached <= n:  # more would mean a cycle below the root
            lv = levels[-1]
            cnt = n_kids[lv]
            tot = int(cnt.sum())
            if tot == 0:
                break
            first = np.cumsum(cnt) - cnt
            levels.append(kids[np.repeat(kid_off[lv] - first, cnt) + np.arange(tot)])
            n_reached += tot
        reached = np.concatenate(levels)
        if len(reached) != n or len(np.unique(reached)) != n or len(child) != n - 1:
            raise ValueError("the store's edges do not form one tree rooted at " + root_id)

        # bottom-up level pass: subtree sizes
        parent_of = np.full(n, -1, np.int64)
        parent_of[child] = parent
        size = np.ones(n, np.int64)
        for lv in reversed(levels[1:]):
            np.add.at(size, parent_of[lv], size[lv])

        # top-down again: pre = parent's pre + 1 + sizes of earlier siblings
        pre = np.zeros(n, np.int64)
        depth = np.zeros(n, np.int32)
        for d in range(len(levels) - 1):
            lv, nxt = levels[d], levels[d + 1]
            cnt = n_kids[lv]
            before = np.cumsum(size[nxt]) - size[nxt]
            group_first = np.repeat(np.cumsum(cnt) - cnt, cnt)
            pre[nxt] = np.repeat(pre[lv] + 1, cnt) + before - before[group_first]
            depth[nxt] = d + 1

        perm = np.empty(n, np.int64)  # position -> input row
        perm[pre] = np.arange(n)
        self.n = n
        self.root = 0
        self.parent = np.where(parent_of[perm] >= 0, pre[np.maximum(parent_of[perm], 0)], -1)
        self.depth = depth[perm]
        self.size = size[perm]
        self.node_id = ids_in[perm]
        self._lookup = lookup
        self._pre = pre

        take = pa.array(perm)
        self.columns: dict[str, pa.Array] = {
            c: _combined(nodes, c).take(take) for c in nodes.column_names
        }
        edge_row = np.full(n, -1, np.int64)
        edge_row[child] = np.arange(len(child))
        for c in edges.column_names:
            if c not in ("child_id", "parent_id"):
                self.columns[c] = _nullable_take(_combined(edges, c), edge_row[perm])
        ann_node = lookup.get_indexer(
            _combined(annotations, "node_id").to_numpy(zero_copy_only=False)
        )
        ann_row = np.full(n, -1, np.int64)
        known = ann_node >= 0
        ann_row[ann_node[known]] = np.flatnonzero(known)
        self.annotation_fields = [c for c in annotations.column_names if c != "node_id"]
        for c in self.annotation_fields:
            self.columns[c] = _nullable_take(_combined(annotations, c), ann_row[perm])

        ott = self.columns["ott_id"]
        has_ott = np.flatnonzero(~pc.is_null(ott).to_numpy(zero_copy_only=False))
        ott_vals = pc.fill_null(ott, 0).to_numpy()[has_ott].astype(np.int64)
        o = np.argsort(ott_vals, kind="stable")
        self._ott_keys, self._ott_pos = ott_vals[o], has_ott[o]
        self._has_ott = np.zeros(n, bool)
        self._has_ott[has_ott] = True
        self.source_map = source_map or {}

    @classmethod
    def from_store(cls, store) -> "TreeIndex":
        """Read the store's node, edge, annotation and source-map tables to
        the driver as Arrow and label them. A snapshot loaded from disk
        (``store.path``) is read straight from its parquet files; an
        in-memory store is pulled with one Spark job per table, run
        concurrently. The only Spark work the index ever does."""
        columns = {
            "nodes": NODE_COLUMNS,
            "edges": EDGE_COLUMNS,
            "node_annotations": None,
            "source_map": SOURCE_COLUMNS,
        }
        if getattr(store, "path", None):
            t = {
                k: pq.read_table(os.path.join(store.path, k), columns=list(cols) if cols else None)
                for k, cols in columns.items()
            }
        else:
            with ThreadPoolExecutor(len(columns)) as pool:
                futs = {
                    k: pool.submit(
                        (getattr(store, k).select(*cols) if cols else getattr(store, k)).toArrow
                    )
                    for k, cols in columns.items()
                }
                t = {k: f.result() for k, f in futs.items()}
        source_map = {
            r["source_id"]: {
                k: r[k] for k in ("study_id", "tree_id", "git_sha") if r[k] is not None
            }
            for r in t["source_map"].to_pylist()
        }
        return cls(t["nodes"], t["edges"], t["node_annotations"], store.root_id, source_map)

    # ------------------------------------------------------------------
    # lookups
    # ------------------------------------------------------------------

    def positions(self, node_ids) -> np.ndarray:
        """Position of each node id, -1 where the id is not in the tree."""
        if not len(node_ids):
            return np.empty(0, np.int64)
        rows = self._lookup.get_indexer(pd.Index(list(node_ids), dtype=object))
        return np.where(rows >= 0, self._pre[rows], -1)

    def ott_positions(self, ott_ids) -> np.ndarray:
        """Position of the node carrying each ott id, -1 where none does."""
        q = np.asarray(ott_ids, dtype=np.int64)
        if not len(self._ott_keys):
            return np.full(len(q), -1, np.int64)
        i = np.minimum(np.searchsorted(self._ott_keys, q), len(self._ott_keys) - 1)
        return np.where(self._ott_keys[i] == q, self._ott_pos[i], -1)

    # ------------------------------------------------------------------
    # structure
    # ------------------------------------------------------------------

    def lineage(self, p: int) -> list[int]:
        """Proper ancestors of ``p``, parent first."""
        out = []
        p = int(self.parent[p])
        while p >= 0:
            out.append(p)
            p = int(self.parent[p])
        return out

    def nearest_taxon(self, p: int) -> int:
        """Closest proper ancestor with a non-null ott_id, -1 if none."""
        p = int(self.parent[p])
        while p >= 0 and not self._has_ott[p]:
            p = int(self.parent[p])
        return p

    def mrca(self, positions) -> int:
        """Deepest ancestor-or-self of the min position whose interval
        covers the max position."""
        lo, hi = int(np.min(positions)), int(np.max(positions))
        a = lo
        while hi >= a + self.size[a]:
            a = int(self.parent[a])
        return a

    def subtree(self, p: int, height_limit: int = -1) -> np.ndarray:
        """Proper descendants of ``p`` (pre order), cut ``height_limit``
        levels below it when that is >= 0."""
        end = p + int(self.size[p])
        if height_limit < 0:
            return np.arange(p + 1, end)
        below = self.depth[p + 1:end] <= self.depth[p] + height_limit
        return np.flatnonzero(below) + (p + 1)

    def frontier_count(self, p: int, height_limit: int) -> int:
        """Tips of the ``height_limit``-cut subtree below ``p``: members
        that are leaves or sit on the cut."""
        m = self.subtree(p, height_limit)
        return int(np.count_nonzero(
            (self.size[m] == 1) | (self.depth[m] == self.depth[p] + height_limit)
        ))

    def induced_edges(self, positions) -> tuple[np.ndarray, np.ndarray]:
        """(child, parent) positions of the induced subtree of a node set:
        the nodes plus every proper ancestor of >= 2 distinct ones, each
        wired to its nearest kept proper ancestor. Those ancestors are
        exactly the root paths of the LCAs of pre-adjacent request nodes,
        so unary nodes on them are kept up to the tree root."""
        req = np.unique(np.asarray(positions, dtype=np.int64))
        if len(req) < 2:
            return np.empty(0, np.int64), np.empty(0, np.int64)
        parent, size = self.parent, self.size
        lca, b = req[:-1].copy(), req[1:]
        todo = np.flatnonzero(b >= lca + size[lca])
        while len(todo):
            lca[todo] = parent[lca[todo]]
            todo = todo[b[todo] >= lca[todo] + size[lca[todo]]]
        kept = np.zeros(self.n, bool)
        step = np.unique(lca)
        while len(step):
            kept[step] = True
            step = parent[step]
            step = np.unique(step[step >= 0])
            step = step[~kept[step]]
        internal = np.flatnonzero(kept)
        internal = internal[parent[internal] >= 0]
        # request nodes off those paths hang from their nearest path node
        leaves = req[~kept[req]]
        up = parent[leaves]
        todo = np.flatnonzero(~kept[up])
        while len(todo):
            up[todo] = parent[up[todo]]
            todo = todo[~kept[up[todo]]]
        return (
            np.concatenate((internal, leaves)),
            np.concatenate((parent[internal], up)),
        )

    def descendant_names(self, p: int) -> tuple[str, str] | None:
        """Min and max ``name`` over the proper descendants of ``p`` (the
        representative_names recipe), None when none is named."""
        n = int(self.size[p]) - 1
        if n <= 0:
            return None
        mm = pc.min_max(self.columns["name"].slice(p + 1, n)).as_py()
        return None if mm["min"] is None else (mm["min"], mm["max"])

    # ------------------------------------------------------------------
    # columns
    # ------------------------------------------------------------------

    def values(self, column: str, positions) -> list:
        return self.columns[column].take(pa.array(positions, pa.int64())).to_pylist()

    def records(self, positions, columns) -> list[dict]:
        """One dict per position over ``columns``; annotation maps come
        back as dicts in collect() order (java_hashmap_order)."""
        cols = {c: self.values(c, positions) for c in columns}
        for c in columns:
            if c in self.annotation_fields:
                cols[c] = [None if m is None else _ordered_map(m) for m in cols[c]]
        return [dict(zip(cols, vals)) for vals in zip(*cols.values())]

    def annotation_keys(self, positions, fields) -> set:
        """Union of the map keys of ``fields`` over ``positions``."""
        if not len(positions):
            return set()
        idx = pa.array(positions, pa.int64())
        out: set = set()
        for f in fields:
            out.update(pc.unique(self.columns[f].take(idx).keys).to_pylist())
        return out


def _ordered_map(pairs) -> dict:
    d = dict(pairs)
    return {k: d[k] for k in java_hashmap_order(d)}

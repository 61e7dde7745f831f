"""CSR-packed per-partition adjacency blocks + the gather-scatter kernel.

pack_blocks: edges are routed to the Cuttana partition of their SOURCE
vertex (one shuffle, done once) and packed into numpy CSR-ish arrays, cut
into chunks of at most CHUNK_EDGES edges so one chunk never exceeds ~32 MB
even at 10^12-edge scale. The pack task writes each partition's arrays
straight into the block store directory in the layout workers map
(blockstore.py): one ``.npy`` file per array, chunks back to back, plus a
``<pid>.meta.json`` holding every chunk's offsets. Round 5: the two
per-superstep sorts are hoisted to pack time — each chunk stores

  * ``src_idx`` (int32): the position of every edge's source in the
    partition's SORTED vertex array (replaces a per-superstep
    ``searchsorted`` over all edges),
  * ``ud`` (int64) + ``inv`` (int32): the sorted distinct dst array and
    each edge's index into it (replaces a per-superstep ``np.unique`` —
    a full sort of the dst array — per chunk),

so a superstep kernel is just gather + multiply + bincount (all linear,
no sorting), and block bytes drop 24 → 16 per edge — less executor memory
AND less DRAM traffic per superstep, which is the profiled scaling
bottleneck on many-core boxes. ``inv`` is identical to what the old kernel
computed on the fly, and bincount accumulates in the same edge order, so
scores are BIT-IDENTICAL to the unpacked formulation.

The frontier contract this bakes in: every superstep must present exactly
the packed partition's vertex set (sorted by vertex, any arrival order).
Each chunk carries (n_verts, v_min, v_max, v_digest) — v_digest is a
crc32 of the sorted vertex array's bytes, computed at pack time — and the
kernel recomputes the frontier's digest and raises on any mismatch rather
than risk a silently wrong positional lookup. (Count/min/max alone would
admit a frontier with the same envelope but a different interior set,
e.g. packed {0,1,3} vs frontier {0,2,3}; the digest closes that hole.)

The three gather kernels (pr_partials, lpa_partials, min_partials) run per
partition against the resident block store (blockstore.gather); each is
described by a ``Kernel`` spec: the frontier value column and dtype it reads
and the schema of the partials it emits. Every block emits at most one row
per distinct dst (map-side combine), which is what bounds hub-vertex skew:
the caller's final groupBy(dst) receives ≤ #blocks rows per hub, never one
per edge.
"""

from __future__ import annotations

import json
import os
import uuid
import zlib
from typing import Callable, NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CHUNK_EDGES = 2_000_000

# bump when the chunk layout changes — blockstore's fingerprint includes it,
# so stores packed by an older layout are repacked, never misread
PACK_VERSION = 3

# a store holds, per partition, <pid>.<array>.npy for each of ARRAYS (the
# chunks back to back) and <pid>.meta.json: one entry per chunk with the
# META_FIELDS and each array's [lo, hi) offsets
ARRAYS = ("src_idx", "ud", "inv", "ps")
META_FIELDS = ("n_verts", "v_min", "v_max", "v_digest")

_PD_DTYPES = {"int": "int32", "long": "int64", "double": "float64"}


def empty_frame(schema: str) -> pd.DataFrame:
    """Zero-row pandas frame typed like the Spark DDL ``schema`` string."""
    cols = (field.split() for field in schema.split(","))
    return pd.DataFrame({name: pd.Series(dtype=_PD_DTYPES[t]) for name, t in cols})


def pack_blocks(g, path: str) -> DataFrame:
    """Pack the CSR blocks of a graphstore.Graph into the store directory
    ``path``: ``g.trans`` (src, dst, p) routed by the source's partition.
    Lazy: the returned DataFrame holds one row (partition_id) per packed
    partition, and each row's task writes that partition's files
    when an action runs it. ``path`` must exist and be readable and
    writable at the same location on the driver and every executor.

    Every partition of ``g.vp`` gets a meta file, a partition whose vertices
    have no out-edges one with zero chunks. ``g.vp`` must map EXACTLY the
    graph's vertex set (the Cuttana partitioner over the same graph's
    adjacency does). Edges are routed by a left join (or by ``g.src_pid``
    under an expression map, no join): an edge whose source the map lacks
    lands in partition -1 and the pack raises, and a partition map with
    extra vertices later fails the kernel's frontier guard."""
    store = os.path.abspath(path)

    def pack(key, edge_pdf: pd.DataFrame, vp_pdf: pd.DataFrame):
        pid = int(key[0])
        verts = np.sort(vp_pdf["vertex"].to_numpy(np.int64))
        srcs = edge_pdf["src"].to_numpy(np.int64)
        order = np.argsort(srcs, kind="stable")
        srcs = srcs[order]
        dsts = edge_pdf["dst"].to_numpy(np.int64)[order]
        ps = edge_pdf["p"].to_numpy(np.float64)[order]
        pos = np.searchsorted(verts, srcs)
        if pos.size and (
            pos.max() >= verts.shape[0] or not np.array_equal(verts[pos], srcs)
        ):
            raise ValueError(
                f"partition {pid}: edge sources not covered by "
                "vertex_partitions — the partition map must span the graph's "
                "full vertex set"
            )
        head = {
            "n_verts": int(verts.shape[0]),
            "v_min": int(verts[0]),
            "v_max": int(verts[-1]),
            "v_digest": _vertex_digest(verts),
        }
        inv = np.empty(srcs.shape[0], np.int32)
        uds, meta, n_ud = [], [], 0
        for lo in range(0, srcs.shape[0], CHUNK_EDGES):
            hi = min(lo + CHUNK_EDGES, srcs.shape[0])
            ud, idx = np.unique(dsts[lo:hi], return_inverse=True)
            inv[lo:hi] = idx
            uds.append(ud)
            span, ud_span = [lo, hi], [n_ud, n_ud + ud.shape[0]]
            meta.append({**head, "src_idx": span, "ud": ud_span, "inv": span, "ps": span})
            n_ud += ud.shape[0]
        arrays = {
            "src_idx": pos.astype(np.int32),
            "ud": np.concatenate(uds) if uds else np.empty(0, np.int64),
            "inv": inv,
            "ps": ps,
        }
        _write_partition(store, pid, arrays, meta)
        return pd.DataFrame({"partition_id": [pid]})

    # alias the routing key so the cogroup's two sides don't share the same
    # partition_id attribute (the map feeds both — Spark rejects the
    # ambiguous self-reference otherwise)
    if g.src_pid is not None:
        routed = g.trans.select(g.src_pid.alias("pid"), "src", "dst", "p")
    else:
        routed = g.trans.join(
            g.vp.withColumnRenamed("vertex", "src"), "src", "left"
        ).select(
            F.coalesce("partition_id", F.lit(-1)).alias("pid"), "src", "dst", "p"
        )
    return (
        routed.groupby("pid")
        .cogroup(g.vp.groupby("partition_id"))
        .applyInPandas(pack, "partition_id int")
    )


def _part_file(store: str, pid: int, name: str) -> str:
    """Path of partition ``pid``'s file ``name`` (an ARRAYS entry, or
    "meta") in the store directory ``store``."""
    return os.path.join(store, f"{pid}.{name}.{'json' if name == 'meta' else 'npy'}")


def _write_partition(store: str, pid: int, arrays: dict, meta: list) -> None:
    """Commit one partition's files: every array through a private tmp name
    and os.replace, then the meta file the same way. Meta goes last because
    its presence is what map_partition takes as "this partition is
    complete". A retried or speculative task writes identical bytes under
    its own tmp names, so whichever replace lands last leaves the same
    files."""
    tag = f".tmp{uuid.uuid4().hex}"
    for a in ARRAYS:
        final = _part_file(store, pid, a)
        with open(final + tag, "wb") as fh:
            np.save(fh, arrays[a])
        os.replace(final + tag, final)
    final = _part_file(store, pid, "meta")
    with open(final + tag, "w") as fh:
        json.dump(meta, fh)
    os.replace(final + tag, final)


def has_partition(store: str, pid: int) -> bool:
    """Whether this process sees partition ``pid``'s committed files."""
    return os.path.exists(_part_file(store, pid, "meta"))


def map_partition(store: str, pid: int) -> list:
    """Partition ``pid``'s chunks as dicts of META_FIELDS plus read-only
    views onto its memory-mapped ARRAYS files; raises FileNotFoundError,
    naming the store and the partition, when its meta file is missing."""
    try:
        with open(_part_file(store, pid, "meta")) as fh:
            meta = json.load(fh)
    except FileNotFoundError:
        raise FileNotFoundError(
            f"block store {store!r} has no partition {pid} (no "
            f"{pid}.meta.json): the store must be complete and on a path "
            "shared by the driver and every executor"
        ) from None
    mm = {a: np.load(_part_file(store, pid, a), mmap_mode="r") for a in ARRAYS}
    blocks = []
    for ent in meta:
        b = {k: ent[k] for k in META_FIELDS}
        for a in ARRAYS:
            lo, hi = ent[a]
            b[a] = mm[a][lo:hi]
        blocks.append(b)
    return blocks


def _vertex_digest(sorted_verts: np.ndarray) -> int:
    """crc32 of the sorted int64 vertex array's bytes — a process-stable,
    O(V) digest that distinguishes interior set differences (count/min/max
    alone cannot). Computed once per partition at pack time and once per
    gather group at superstep time; both sides see the identical sorted
    layout, so equal sets ⟺ equal digests (and unequal sets collide with
    crc32's ~2^-32 probability — a guard, not a security boundary)."""
    return int(zlib.crc32(np.ascontiguousarray(sorted_verts, np.int64).tobytes()))


def _sorted_frontier(pdf: pd.DataFrame, value_col: str, dtype) -> tuple:
    sv = pdf["vertex"].to_numpy(np.int64)
    vals = pdf[value_col].to_numpy(dtype)
    order = np.argsort(sv, kind="stable")
    return sv[order], vals[order]


def _check_frontier(row, sv: np.ndarray, sv_digest: int | None = None) -> None:
    if sv_digest is None:
        sv_digest = _vertex_digest(sv)
    if (
        row["n_verts"] != sv.shape[0]
        or row["v_min"] != sv[0]
        or row["v_max"] != sv[-1]
        or row["v_digest"] != sv_digest
    ):
        raise ValueError(
            "frontier vertex set does not match the packed blocks "
            f"(expected {row['n_verts']} verts in [{row['v_min']}, "
            f"{row['v_max']}] digest {row['v_digest']}, got {sv.shape[0]} in "
            f"[{sv[0]}, {sv[-1]}] digest {sv_digest}) — every superstep must "
            "present exactly the full partition vertex set"
        )


def pr_partials(blocks: list, ss: np.ndarray) -> pd.DataFrame:
    """PageRank gather kernel over mapped blocks: per-chunk gather ·
    multiply · bincount, then an order-insensitive np.unique merge of chunk
    partials. ``ss``: frontier scores sorted by vertex (the blocks' order)."""
    outs: list[np.ndarray] = []
    out_c: list[np.ndarray] = []
    for b in blocks:
        contrib = ss[b["src_idx"]] * b["ps"]
        ud = b["ud"]
        outs.append(ud)
        out_c.append(
            np.bincount(b["inv"], weights=contrib, minlength=ud.shape[0])
        )
    ud = np.concatenate(outs)
    uc = np.concatenate(out_c)
    if len(outs) > 1:  # merge chunk partials
        ud2, inv = np.unique(ud, return_inverse=True)
        uc = np.bincount(inv, weights=uc)
        ud = ud2
    return pd.DataFrame({"dst": ud, "contrib": uc})


def lpa_partials(blocks: list, lb: np.ndarray) -> pd.DataFrame:
    """Label-count gather kernel over mapped blocks: lexsort by (inv,
    label) + run-length counts — at most one row per (chunk, dst, label).
    ``lb``: frontier labels sorted by vertex."""
    dd, ll, cc = [], [], []
    for b in blocks:
        sl = lb[b["src_idx"]]
        inv, ud = b["inv"], b["ud"]
        idx = np.lexsort((sl, inv))
        d, l = inv[idx], sl[idx]
        brk = np.empty(d.shape[0], bool)
        brk[0] = True
        brk[1:] = (d[1:] != d[:-1]) | (l[1:] != l[:-1])
        starts = np.flatnonzero(brk)
        cnts = np.diff(np.append(starts, d.shape[0]))
        dd.append(ud[d[starts]])
        ll.append(l[starts])
        cc.append(cnts)
    return pd.DataFrame(
        {
            "dst": np.concatenate(dd),
            "label": np.concatenate(ll),
            "cnt": np.concatenate(cc),
        }
    )


def min_partials(blocks: list, lb: np.ndarray) -> pd.DataFrame:
    """Min-label gather kernel over mapped blocks: per-dst MINIMUM of the
    gathered source labels — one row per (chunk, dst). Lexsort by (label,
    inv) then keep the first row of each inv run: that row's label is the
    run minimum. Empty-edge chunks contribute nothing. ``lb``: frontier
    labels sorted by vertex. Used by connected_components' contraction
    pre-pass (components.py) — min is duplicate-insensitive, so duplicate
    edges in the packed blocks are harmless."""
    dd, mm = [], []
    for b in blocks:
        sl = lb[b["src_idx"]]
        inv, ud = b["inv"], b["ud"]
        if inv.shape[0] == 0:
            continue
        idx = np.lexsort((sl, inv))
        d, l = inv[idx], sl[idx]
        first = np.empty(d.shape[0], bool)
        first[0] = True
        first[1:] = d[1:] != d[:-1]
        dd.append(ud[d[first]])
        mm.append(l[first])
    if not dd:
        return MIN.empty()
    return pd.DataFrame({"dst": np.concatenate(dd), "mlab": np.concatenate(mm)})


class Kernel(NamedTuple):
    """One gather kernel: ``partials(blocks, values)`` reads the frontier
    column ``value`` (cast to ``dtype``, sorted by vertex) and returns rows
    of the Spark DDL ``schema``."""

    value: str
    dtype: type
    partials: Callable
    schema: str

    def empty(self) -> pd.DataFrame:
        return empty_frame(self.schema)


PR = Kernel("score", np.float64, pr_partials, "dst long, contrib double")
LPA = Kernel("label", np.int64, lpa_partials, "dst long, label long, cnt long")
MIN = Kernel("label", np.int64, min_partials, "dst long, mlab long")

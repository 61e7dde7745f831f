"""Executor-resident CSR block store — the one block transport.

pagerank_csr, label_propagation_csr, k_core_csr and connected_components'
contraction pre-pass all gather over packed CSR blocks (csr.py), and all of
them keep those blocks here, next to the workers:

* ``write_block_store`` packs the blocks ONCE (csr.pack_blocks — one
  routing shuffle). Each pack task writes its partition's arrays straight
  into the store directory in the layout workers map: one ``.npy`` file
  per array (``<pid>.src_idx.npy``, ``.ud``, ``.inv``, ``.ps``, chunks back
  to back) and a ``<pid>.meta.json`` with every chunk's offsets and the
  partition's vertex-set header (n_verts, v_min, v_max, v_digest). The pack
  writes no intermediate format, so nothing is decoded or copied later.
* ``gather`` runs one kernel spec (csr.PR / csr.LPA / csr.MIN) as
  ``applyInPandas`` over the frontier ALONE, grouped by partition_id.
  Blocks never enter the plan: each worker ``np.load(mmap_mode="r")``s its
  partition's files, so every Python worker on a node shares the one
  page-cache copy of the store instead of holding a copy per process (a
  reused worker gets a random subset of groups every superstep, so
  per-process copies would both warm slowly and multiply RSS by the worker
  count). A steady-state superstep moves O(V) rows through Arrow and zero
  block bytes: gather·multiply·bincount against mapped arrays.
* ``resident_store`` is the transport choice every algorithm shares: reuse
  (or pack) the store at a caller-given path, or pack a call-scoped store
  and drop it when the call returns.

Where the store lives: workers reach it only through POSIX file calls, so
``block_store`` must be a plain path (no ``s3://``, ``hdfs://`` or
``file:`` scheme — those raise) that the driver and every executor see at
the same location: a local directory under a ``local[...]`` master, a
shared mount (NFS, Lustre, a FUSE-mounted bucket) on a cluster. A partition
whose meta file a worker cannot see raises, naming the store and the
partition, instead of reading as "no edges".

Commit protocol: a partition is complete when its meta file exists. Arrays
are committed first and meta last, each through a private tmp name and
``os.replace``, so a reader never maps a half-written partition, and a
retried or speculative pack task rewrites identical bytes harmlessly. The
driver then writes the ``_CUTTANA_STORE_FP`` fingerprint and last the
``_SUCCESS`` marker.

Cache coherence: each worker keeps its mapped views in a handle cache keyed
by the store path AND its ``_SUCCESS`` mtime at NANOSECOND resolution
(``st_mtime_ns``). A store rewritten under the same path — even within the
same wall-clock second — re-keys, so a reused worker never serves views of
the previous generation's (unlinked) files; the next cache miss also
forgets the handles of dropped or rewritten stores, whose mappings would
otherwise pin the dead files' pages. Store identity: ``write_block_store``
records the input plans' ``semanticHash`` + pack version in the
``_CUTTANA_STORE_FP`` marker, and ``ensure_block_store`` re-packs on any
mismatch — a stale store built from different edges/weights over the same
vertex set (which the kernel's frontier guard cannot see) is never silently
reused, and a store of an older layout is repacked, never misread.

Measured: the resident store was the fastest PageRank transport at bench
scale (round 5: 9.17 s vs cached-cogroup 10.20 s / df-join 11.01 s, 5
supersteps) and the best-scaling one (N→4N efficiency 0.81-0.87, CPU-seconds
+7-13% where the cogroup path inflated +34%). The cached-cogroup and
bucketed-table transports, which re-fed every block byte through Arrow each
superstep, were removed once no measured regime favored them (BENCH.md,
"One block transport"). Writing the mapped layout directly, instead of a
parquet dataset that each node decoded into a mapped copy, cut the traced
wall of perfbench's three CSR calls by 23 % (BENCH.md, "Block store
layout"). Scores from
different transports, maps or chunk sizes are equal up to summation order,
not bit-identical: the kernels add a vertex's contributions block by block.

The reference (Jacob-Chmura/cuttana, src/partitioner.rs) is the partitioner
that PRODUCES the vertex→partition map; this store is how the analytics
layer monetizes that map's locality at scale.
"""

from __future__ import annotations

import os
import re
import shutil
import tempfile
from collections import OrderedDict
from contextlib import contextmanager
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession

from cuttana_spark.analytics.csr import (
    PACK_VERSION,
    Kernel,
    _check_frontier,
    _sorted_frontier,
    _vertex_digest,
    has_partition,
    map_partition,
    pack_blocks,
)

_FP_MARKER = "_CUTTANA_STORE_FP"


def store_fingerprint(g) -> str:
    """Identity of a packed store of graphstore.Graph ``g``: its payload
    kind, the analyzed plans' semanticHash (payload + partition map), the
    routing expression, and the pack layout version. Same convention as the
    partitioner's _CUTTANA_SPOOL_FP (partition/batched.py): "na" (internal
    API unavailable) never matches, degrading to always-re-pack — safe.
    This is also the cross-algorithm reuse descriptor: two callers that
    open the SAME edges DataFrame with the same kind and map (e.g. k-core,
    LPA and CC all opening "sym-unit") produce equal fingerprints and share
    one pack. The hashes already tell the payloads apart; the kind tag
    makes the marker file self-describing and guards the (astronomically
    unlikely but silent) cross-payload hash collision."""
    try:
        h1 = str(g.trans._jdf.queryExecution().analyzed().semanticHash())
        h2 = str(g.vp._jdf.queryExecution().analyzed().semanticHash())
    except Exception:
        return "na"
    sp = "none" if g.src_pid is None else str(g.src_pid._jc)
    return f"pack{PACK_VERSION}|{g.kind}|{h1}|{h2}|{sp}"


def _check_plain_path(path: str) -> None:
    """Workers open the store with POSIX file calls, which a URI cannot
    name: refuse one before any job runs."""
    if urlparse(path).scheme:
        raise ValueError(
            f"block_store {path!r} is a URI; it must be a plain path shared "
            "by the driver and every executor (workers read it with POSIX "
            "file calls)"
        )


def write_block_store(g, path: str) -> None:
    """Pack graphstore.Graph ``g`` into CSR blocks (one edge shuffle,
    csr.pack_blocks) written straight into the directory ``path``, which is
    cleared first. Then the _CUTTANA_STORE_FP marker records the input
    fingerprint for ensure_block_store's reuse check, and the _SUCCESS
    marker, written last, versions the store for every worker-side handle
    cache by its mtime_ns."""
    _check_plain_path(path)
    p = os.path.abspath(path)
    shutil.rmtree(p, ignore_errors=True)
    os.makedirs(p)
    for row in pack_blocks(g, p).collect():
        if not has_partition(p, row.partition_id):
            raise FileNotFoundError(
                f"partition {row.partition_id} was packed but the driver cannot "
                f"see its files under {p!r}: block_store must be a path shared "
                "by the driver and every executor"
            )
    with open(os.path.join(p, _FP_MARKER), "w") as fh:
        fh.write(store_fingerprint(g))
    open(os.path.join(p, "_SUCCESS"), "w").close()


def ensure_block_store(g, path: str) -> None:
    """write_block_store unless ``path`` already holds a completed store
    packed from THIS graph: reuse requires both the _SUCCESS marker and a
    _CUTTANA_STORE_FP that matches ``g``'s fingerprint. A store written by
    a different plan, an older pack layout, or an unfingerprinted writer is
    re-packed, never silently served — the kernel's frontier guard alone
    cannot distinguish different edge sets over the same vertex set.
    Limitation (same as the spool guard): the hash is plan-level, so the
    same plan re-read over files mutated in place is not detected."""
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        fp = store_fingerprint(g)
        try:
            with open(os.path.join(path, _FP_MARKER)) as fh:
                on_disk = fh.read()
        except OSError:
            on_disk = ""
        if fp != "na" and fp == on_disk:
            return
    write_block_store(g, path)


# ---------------------------------------------------------------------------
# per-worker handle cache over the mapped store
# ---------------------------------------------------------------------------

_CACHE: "OrderedDict[tuple, list]" = OrderedDict()
_CACHE_ENTRIES = 4096  # mmap handles are cheap; cap guards pathological stores


def _store_key(path: str) -> tuple:
    p = os.path.abspath(path)
    try:
        mtime_ns = os.stat(os.path.join(p, "_SUCCESS")).st_mtime_ns
    except OSError:
        mtime_ns = -1
    return (p, mtime_ns)


def drop_block_store(path: str) -> None:
    """Remove a store directory. Workers forget their handles on it at their
    next cache miss (_drop_stale_handles)."""
    shutil.rmtree(os.path.abspath(path), ignore_errors=True)


def _drop_stale_handles() -> None:
    """Forget cached handles of stores that were dropped or rewritten since:
    a mapped view keeps its file's pages alive even after drop_block_store
    unlinks it, so call-scoped stores would otherwise pin one dead store per
    call in every reused worker."""
    live: dict = {}
    for key in list(_CACHE):
        store, path = key[0], key[0][0]
        if path not in live:
            live[path] = _store_key(path)
        if live[path] != store:
            del _CACHE[key]


def load_blocks(path: str, pid: int) -> list:
    """CSR blocks of one partition: read-only views onto the store's own
    .npy files, held in a small per-process handle cache. A negative
    ``pid`` (vertices a table map lacks) has no blocks → []; a partition
    without a meta file raises. Chunk order within a partition is irrelevant
    to the kernels (cross-chunk merge is np.unique-keyed)."""
    key = (_store_key(path), int(pid))
    hit = _CACHE.get(key)
    if hit is not None:
        _CACHE.move_to_end(key)
        return hit
    _drop_stale_handles()
    blocks = [] if pid < 0 else map_partition(key[0][0], int(pid))
    _CACHE[key] = blocks
    while len(_CACHE) > _CACHE_ENTRIES:
        _CACHE.popitem(last=False)
    return blocks


# ---------------------------------------------------------------------------
# resident supersteps — frontier-only Arrow transfer
# ---------------------------------------------------------------------------


@contextmanager
def resident_store(spark: SparkSession, g, block_store: str | None):
    """Yield the path of a block store packed from graphstore.Graph ``g``.

    ``block_store`` set: ensure_block_store at that path (reused when its
    fingerprint matches) — the caller owns its lifetime, and the path must
    be a plain path shared by the driver and every executor (a URI raises
    ValueError). ``block_store`` None: pack into a call-scoped
    ``tempfile.mkdtemp`` store and drop_block_store it on exit, so the
    caller's result must be eagerly checkpointed before the ``with`` block
    ends. A call-scoped store lives on the driver's local disk, which only a
    ``local[...]`` master's workers can read, so any other master raises
    ValueError up front instead of failing inside the pack."""
    if block_store is not None:
        _check_plain_path(block_store)
        ensure_block_store(g, block_store)
        yield block_store
        return
    master = spark.sparkContext.master
    if not re.fullmatch(r"local(\[.*\])?", master):
        raise ValueError(
            "block_store=None packs into driver-local temp storage, which "
            f"executors of master {master!r} cannot read — pass a block_store "
            "path on storage shared by the driver and every executor"
        )
    path = tempfile.mkdtemp(prefix="cuttana-blockstore-")
    try:
        write_block_store(g, path)
        yield path
    finally:
        drop_block_store(path)


def gather(store_path: str, frontier: DataFrame, kernel: Kernel) -> DataFrame:
    """One gather against the resident store: ``frontier`` (vertex,
    partition_id, kernel.value) is grouped by partition_id and each group
    runs ``kernel.partials`` over its partition's blocks. The plan's only
    input is the O(V) frontier (one hash exchange on partition_id) — block
    bytes never enter it. Each group's vertex set must equal the packed
    partition's exactly (csr._check_frontier raises otherwise)."""

    def step(key, pdf):
        blocks = load_blocks(store_path, int(key[0]))
        if not blocks or pdf.empty:
            return kernel.empty()
        sv, vals = _sorted_frontier(pdf, kernel.value, kernel.dtype)
        dg = _vertex_digest(sv)
        for b in blocks:
            _check_frontier(b, sv, dg)
        return kernel.partials(blocks, vals)

    return frontier.groupby("partition_id").applyInPandas(step, kernel.schema)

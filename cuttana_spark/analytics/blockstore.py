"""Executor-resident CSR block store — the one block transport.

pagerank_csr, label_propagation_csr, k_core_csr and connected_components'
contraction pre-pass all gather over packed CSR blocks (csr.py), and all of
them keep those blocks here, next to the workers:

* ``write_block_store`` packs the blocks ONCE (csr.pack_blocks — one
  routing shuffle) and lays them out as a parquet dataset partitioned by
  ``partition_id`` — one directory per Cuttana partition, readable without
  Spark by any worker (local disk here; DFS/object store on a cluster).
* ``gather`` runs one kernel spec (csr.PR / csr.LPA / csr.MIN) as
  ``applyInPandas`` over the frontier ALONE, grouped by partition_id.
  Blocks never enter the plan: workers materialize them from the store
  through a NODE-SHARED mmap arena (see the arena section below) — decoded
  once per node, mapped read-only by every worker process — so a
  steady-state superstep moves O(V) rows through Arrow and zero block
  bytes: gather·multiply·bincount against shared memory-resident arrays.
* ``resident_store`` is the transport choice every algorithm shares: reuse
  (or pack) the store at a caller-given path, or pack a call-scoped store
  and drop it when the call returns.

Cache coherence: arena directories and handle-cache keys include the
store's ``_SUCCESS`` mtime at NANOSECOND resolution (``st_mtime_ns`` — a
store rewritten within the same wall-clock second still re-keys), so
rewriting a store under the same path invalidates stale entries naturally;
``drop_block_store`` removes a store and every arena generation derived
from it. Store identity: ``write_block_store`` records the input plans'
``semanticHash`` + pack version in a ``_CUTTANA_STORE_FP`` marker, and
``ensure_block_store`` re-packs on any mismatch — a stale store built from
different edges/weights over the same vertex set (which the kernel's
frontier guard cannot see) is never silently reused. At 1000-executor
scale each node's arena holds only the partitions its tasks actually serve
— the same working-set behavior as a JVM-cached edge RDD in GraphX,
without shipping edges through Python and without one copy per Python
worker. The arena obeys a byte budget (``CUTTANA_ARENA_BYTES``, default
25% of the base filesystem) with LRU whole-partition eviction and falls
back to the local tempdir when the tmpfs base is absent or full — a node
serving many partitions degrades to page-cache speed instead of
exhausting /dev/shm.

Measured: the resident store was the fastest PageRank transport at bench
scale (round 5: 9.17 s vs cached-cogroup 10.20 s / df-join 11.01 s, 5
supersteps) and the best-scaling one (N→4N efficiency 0.81-0.87, CPU-seconds
+7-13% where the cogroup path inflated +34%). The cached-cogroup and
bucketed-table transports, which re-fed every block byte through Arrow each
superstep, were removed once no measured regime favored them (BENCH.md,
"One block transport"). Scores from different transports, maps or chunk
sizes are equal up to summation order, not bit-identical: the kernels add a
vertex's contributions block by block.

The reference (Jacob-Chmura/cuttana, src/partitioner.rs) is the partitioner
that PRODUCES the vertex→partition map; this store is how the analytics
layer monetizes that map's locality at scale.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import tempfile
from collections import OrderedDict
from contextlib import contextmanager

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from cuttana_spark.analytics.csr import (
    PACK_VERSION,
    Kernel,
    _check_frontier,
    _sorted_frontier,
    _vertex_digest,
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


def write_block_store(g, path: str) -> None:
    """Pack graphstore.Graph ``g`` into CSR blocks (one edge shuffle,
    csr.pack_blocks) and write them as a parquet dataset partitioned by
    partition_id. Overwrites ``path``; the _SUCCESS marker's mtime_ns
    versions the store for every worker-side cache, and a _CUTTANA_STORE_FP
    marker records the input fingerprint for ensure_block_store's reuse
    check."""
    pack_blocks(g).write.partitionBy("partition_id").mode("overwrite").parquet(path)
    with open(os.path.join(path, _FP_MARKER), "w") as fh:
        fh.write(store_fingerprint(g))


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
# node-shared mmap arena + per-worker handle cache
#
# A reused Python worker has no say in WHICH frontier groups the scheduler
# hands it: group->worker assignment is effectively random every superstep,
# so a purely per-process cache warms coupon-collector slowly (measured:
# 54% miss rate after 20 supersteps at 64 partitions x 32 workers) and
# duplicates the decoded store once per process (32x RSS on one box). The
# fix is to share the DECODED arrays at the node level: the first worker to
# touch a partition decodes it ONCE into flat .npy files in an arena
# directory (tmpfs by default), committed atomically (arrays first, meta
# last, os.replace); every other worker then np.load(mmap_mode="r")s the
# same files, so all processes on the node share one page-cache copy and
# every partition is warm after the first superstep (which touches all of
# them). On a multi-node cluster each node builds only the partitions its
# tasks actually serve; the arena is keyed by the store's _SUCCESS
# st_mtime_ns so a rewritten store never serves stale bytes (nanosecond
# resolution: two rewrites within one second still re-key). Concurrent
# builders are harmless: the decode is deterministic, so last-replace-wins
# is identical content.
#
# Lifecycle at scale: arena files live under a byte budget
# (CUTTANA_ARENA_BYTES; default 25% of the base filesystem's capacity
# available to us). Before building a new partition's files, whole
# partitions are evicted least-recently-USED first (every successful
# _load_arena touches the partition's meta mtime) until the new build fits.
# Evicting a partition another process has mmap'd is safe on Linux — the
# pages survive until the last unmap; subsequent readers rebuild. If the
# tmpfs base is absent, or a build still hits ENOSPC after evicting
# everything evictable, the build falls back to the local tempdir (disk) —
# readers probe both bases, and a reader that misses simply rebuilds
# (deterministic content), so the worst case is duplicated decode work,
# never a wrong or missing answer.
# ---------------------------------------------------------------------------

_CACHE: "OrderedDict[tuple, list]" = OrderedDict()
_CACHE_ENTRIES = 4096  # mmap handles are cheap; cap guards pathological stores

_ARRAYS = ("src_idx", "ud", "inv", "ps")
_DTYPES = {"src_idx": np.int32, "ud": np.int64, "inv": np.int32, "ps": np.float64}


def _store_key(path: str) -> tuple:
    p = os.path.abspath(path)
    try:
        mtime_ns = os.stat(os.path.join(p, "_SUCCESS")).st_mtime_ns
    except OSError:
        mtime_ns = -1
    return (p, mtime_ns)


def _arena_bases() -> list[str]:
    """Candidate arena base dirs, preferred first. CUTTANA_BLOCK_ARENA pins
    a single base (tests, or a cluster-configured local dir); the default is
    tmpfs with a disk fallback."""
    env = os.environ.get("CUTTANA_BLOCK_ARENA")
    if env is not None:
        return [env]
    bases = []
    if os.path.isdir("/dev/shm"):
        bases.append("/dev/shm")
    if tempfile.gettempdir() not in bases:
        bases.append(tempfile.gettempdir())
    return bases


def _arena_name(path: str) -> str:
    p, mtime_ns = _store_key(path)
    h = hashlib.sha1(p.encode()).hexdigest()[:16]
    return f"cuttana_arena_{h}_{mtime_ns}"


def _arena_budget(base: str, usage: int) -> int:
    """Byte budget for ALL cuttana arenas under ``base``. Explicit via
    CUTTANA_ARENA_BYTES; default 25% of the capacity currently available to
    us (free space + what our arenas already occupy — so a warm arena does
    not shrink its own budget measurement)."""
    env = os.environ.get("CUTTANA_ARENA_BYTES")
    if env is not None:
        return int(env)
    try:
        st = os.statvfs(base)
        free = st.f_bavail * st.f_frsize
    except OSError:
        return 1 << 62  # unmeasurable fs: effectively unbudgeted
    return int(0.25 * (free + usage))


def _arena_groups(base: str) -> list[tuple[float, int, list[str]]]:
    """All committed (meta-present) partition groups under ``base``'s
    cuttana arenas: (meta_mtime, total_bytes, [file paths]) per group."""
    import glob

    groups = []
    for meta in glob.glob(os.path.join(base, "cuttana_arena_*", "*.meta.json")):
        pid_prefix = meta[: -len("meta.json")]
        files = [meta] + [f"{pid_prefix}{a}.npy" for a in _ARRAYS]
        try:
            mt = os.path.getmtime(meta)
            sz = sum(os.path.getsize(f) for f in files if os.path.exists(f))
        except OSError:
            continue  # concurrently evicted
        groups.append((mt, sz, files))
    return groups


def _evict_for(base: str, need: int, keep_prefix: str) -> None:
    """Evict least-recently-used whole-partition groups under ``base`` until
    ``need`` more bytes fit in the budget (or nothing evictable remains).
    Meta is unlinked FIRST — its presence is the readers' commit point — so
    a half-evicted group is never served.

    Accounting bound (ADVICE r6): usage counts COMMITTED groups only —
    in-flight ``*.tmp<pid>`` files of concurrent builders and the new
    group's meta.json are invisible to it, so with B concurrent builders
    actual bytes can transiently exceed the budget by up to B×(largest
    group)+meta sizes. The ENOSPC fallback in _build_arena catches the
    physical limit; the configured budget is a steady-state bound, not a
    hard cap during concurrent builds."""
    groups = _arena_groups(base)
    usage = sum(sz for _, sz, _ in groups)
    budget = _arena_budget(base, usage)
    if usage + need <= budget:
        return
    for _, sz, files in sorted(groups, key=lambda g: g[0]):
        if files[0].startswith(keep_prefix):
            continue
        for f in files:  # meta first = files[0]
            try:
                os.unlink(f)
            except OSError:
                pass
        usage -= sz
        if usage + need <= budget:
            return


def drop_block_store(path: str) -> None:
    """Remove a store directory AND every arena ever derived from it (any
    mtime generation, any base). Benches/tests should use this instead of a
    bare rmtree so tmpfs arenas don't outlive their store."""
    import glob
    import shutil

    p = os.path.abspath(path)
    shutil.rmtree(p, ignore_errors=True)
    h = hashlib.sha1(p.encode()).hexdigest()[:16]
    for base in {*_arena_bases(), "/dev/shm", tempfile.gettempdir()}:
        if base and os.path.isdir(base):
            for d in glob.glob(os.path.join(base, f"cuttana_arena_{h}_*")):
                shutil.rmtree(d, ignore_errors=True)


_META_FIELDS = ("n_verts", "v_min", "v_max", "v_digest")


def _decode_table(tbl) -> list:
    cols = tbl.to_pydict()
    blocks = []
    for i in range(tbl.num_rows):
        blocks.append(
            {
                "n_verts": int(cols["n_verts"][i]),
                "v_min": int(cols["v_min"][i]),
                "v_max": int(cols["v_max"][i]),
                "v_digest": int(cols["v_digest"][i]),
                "src_idx": np.frombuffer(cols["src_idx"][i], np.int32),
                "ud": np.frombuffer(cols["ud"][i], np.int64),
                "inv": np.frombuffer(cols["inv"][i], np.int32),
                "ps": np.frombuffer(cols["ps"][i], np.float64),
            }
        )
    return blocks


def _build_arena(part_dir: str, arena: str, pid: int) -> None:
    """Decode one partition's parquet into flat per-array .npy files +
    a chunk-offset meta. Commit order: arrays via os.replace first, meta
    last — meta presence IS the commit point readers key on. Before
    writing, LRU-evicts other partitions' arena files if the build would
    exceed the base's byte budget. Raises OSError (ENOSPC) to the caller
    if the base is simply full — load_blocks then falls back to the next
    base."""
    import pyarrow.parquet as pq

    blocks = _decode_table(pq.read_table(part_dir))
    need = sum(int(b[a].nbytes) for b in blocks for a in _ARRAYS)
    _evict_for(
        os.path.dirname(arena), need, os.path.join(arena, f"{pid}.")
    )
    os.makedirs(arena, exist_ok=True)
    meta, cat = [], {a: [] for a in _ARRAYS}
    offs = {a: 0 for a in _ARRAYS}
    for b in blocks:
        ent = {k: b[k] for k in _META_FIELDS}
        for a in _ARRAYS:
            ent[a] = [offs[a], offs[a] + b[a].shape[0]]
            offs[a] += b[a].shape[0]
            cat[a].append(b[a])
        meta.append(ent)
    tag = f".tmp{os.getpid()}"
    try:
        for a in _ARRAYS:
            arr = (
                np.concatenate(cat[a]) if cat[a] else np.empty(0, _DTYPES[a])
            )
            tmp = os.path.join(arena, f"{pid}.{a}.npy{tag}")
            with open(tmp, "wb") as fh:
                np.save(fh, arr)
            os.replace(tmp, os.path.join(arena, f"{pid}.{a}.npy"))
        mt = os.path.join(arena, f"{pid}.meta.json{tag}")
        with open(mt, "w") as fh:
            json.dump(meta, fh)
        os.replace(mt, os.path.join(arena, f"{pid}.meta.json"))
    except OSError:
        # base full mid-write: remove this group's partials (meta was last,
        # so nothing half-committed is visible) and let the caller fall back
        for a in _ARRAYS:
            for f in (
                os.path.join(arena, f"{pid}.{a}.npy{tag}"),
                os.path.join(arena, f"{pid}.{a}.npy"),
            ):
                try:
                    os.unlink(f)
                except OSError:
                    pass
        raise


def _load_arena(arena: str, pid: int):
    meta_p = os.path.join(arena, f"{pid}.meta.json")
    if not os.path.exists(meta_p):
        return None
    try:
        with open(meta_p) as fh:
            meta = json.load(fh)
        mm = {
            a: np.load(os.path.join(arena, f"{pid}.{a}.npy"), mmap_mode="r")
            for a in _ARRAYS
        }
    except OSError:
        return None  # evicted between the existence check and the open
    blocks = []
    for ent in meta:
        b = {k: ent[k] for k in _META_FIELDS}
        for a in _ARRAYS:
            lo, hi = ent[a]
            b[a] = mm[a][lo:hi]
        blocks.append(b)
    try:
        os.utime(meta_p)  # LRU touch: this partition was just used
    except OSError:
        pass
    return blocks


def _drop_stale_handles() -> None:
    """Forget cached handles of stores that were dropped or rewritten since:
    a mapped view keeps its arena file's pages (tmpfs: RAM) alive even after
    drop_block_store unlinks it, so call-scoped stores would otherwise pin
    one dead arena per call in every reused worker."""
    live: dict = {}
    for key in list(_CACHE):
        store, path = key[0], key[0][0]
        if path not in live:
            live[path] = _store_key(path)
        if live[path] != store:
            del _CACHE[key]


def load_blocks(path: str, pid: int) -> list:
    """Decoded CSR blocks for one partition: mmap views onto the node-shared
    arena (built on first touch by whichever worker gets there first), held
    in a small per-process handle cache. Missing partition directory (a
    partition with vertices but no edges, or the pid=-1 dangling bucket)
    → []. Chunk-row order within a partition is irrelevant to the kernels
    (cross-chunk merge is np.unique-keyed). Arena bases are probed in
    preference order (tmpfs, then disk); a build that hits ENOSPC on one
    base falls through to the next."""
    key = (_store_key(path), int(pid))
    hit = _CACHE.get(key)
    if hit is not None:
        _CACHE.move_to_end(key)
        return hit
    _drop_stale_handles()
    part_dir = os.path.join(os.path.abspath(path), f"partition_id={int(pid)}")
    blocks = None
    if not os.path.isdir(part_dir):
        blocks = []
    else:
        name = _arena_name(path)
        bases = _arena_bases()
        for i, base in enumerate(bases):
            arena = os.path.join(base, name)
            blocks = _load_arena(arena, pid)
            if blocks is not None:
                break
            try:
                _build_arena(part_dir, arena, pid)
            except OSError:
                if i == len(bases) - 1:
                    raise
                continue
            blocks = _load_arena(arena, pid)
            if blocks is not None:
                break
        if blocks is None:
            # terminal fallback (round 7, ADVICE r6): under a tiny arena
            # budget with concurrent builders, a freshly built group can be
            # evicted from every base before _load_arena runs. Decode the
            # parquet partition straight into process memory instead of
            # failing the superstep — the content is deterministic, so the
            # only cost is this process forgoing the shared mmap (RSS for
            # one partition), never a wrong or missing answer.
            import pyarrow.parquet as pq

            blocks = _decode_table(pq.read_table(part_dir))
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
    fingerprint matches) — the caller owns its lifetime. ``block_store``
    None: pack into a call-scoped ``tempfile.mkdtemp`` store and
    drop_block_store it on exit, so the caller's result must be eagerly
    checkpointed before the ``with`` block ends. A call-scoped store lives on
    the driver's local disk, which only a ``local[...]`` master's workers can
    read: load_blocks treats a missing partition directory as a partition
    with no edges, so executors elsewhere would silently gather nothing."""
    if block_store is not None:
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

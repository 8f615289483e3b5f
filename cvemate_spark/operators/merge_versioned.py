"""Versioned bucket table: cross-bucket atomic scoped merges + time travel.

Composes the two sink protocols `operators/merge.py` ships separately:

* `merge_scoped` — merge cost ∝ batch (only touched bucket dirs are
  rewritten), but its per-bucket two-rename swaps commit one bucket at
  a time: a reader scanning during a multi-bucket merge can observe
  bucket 3 post-merge and bucket 7 pre-merge, and a crash mid-swap
  leaves that mix on disk.
* `write_versioned` — an atomic manifest-pointer commit with time
  travel, but each version is a full snapshot: write cost ∝ table.

This module gives both properties at once — the production story a
cluster user doing concurrent scoped merges plus time travel needs
(the reference's point-update economics, mongodb_handler.py:141-195,
under a snapshot-isolation commit). Same design as Delta/Iceberg:
data files are IMMUTABLE, commits only add files and atomically
publish a new manifest.

Layout under `path/`:
    _BUCKETS                   layout meta {key, n_buckets, versioned,
                               constraints?, key_bloom?, mor_fold?}
    _LATEST                    the committed version number (pointer FILE)
    _COMMITLOCK / _MERGELOCK   flock files (pointer advance / merger serialization)
    v-<n>.json                 immutable manifest: {buckets: {id -> generation
                               dir}, schema, stats, op, committed_at,
                               dv?: {id -> [{n, d}]} (ordinal-scoped deletion
                               vectors), deltas?: {id -> [{g, stats}]}
                               (merge-on-read delta chains)}
    v-<n>.superseded           vacuum grace marker (stamped when displaced)
    _HISTORY.jsonl             commit log (one line per commit; O(1)/line history)
    bucket=<i>/g-<hex>/        immutable per-bucket generation (parquet,
                               optional _KEYBLOOM.json sidecar)
    dv-<hex>/                  deletion-vector key sets (parquet)

Write protocols on top of the manifest-pointer commit:
    merge_scoped_versioned      copy-on-write (touched buckets rewritten)
    merge_scoped_versioned_occ  same, multi-writer OPTIMISTIC concurrency
                                (work lock-free; disjoint writers rebase)
    merge_scoped_versioned_mor  merge-on-read (batch lands as delta
                                generations; reads fold — per-column
                                ordinal coalesce, or whole-row keep-latest
                                under a recorded mor_fold policy); occ=True
                                for concurrent ingestion
    merge_deletes_dv            deletes as ordinal-scoped deletion vectors
    compact_versioned           folds deltas+DVs back to single generations
    optimize_versioned          clustered/z-ordered layout (file-grain skipping)
    rebucket_versioned          online layout migration

A scoped merge writes NEW generation dirs for the touched buckets only
(never mutating an existing one), writes manifest v-(n+1) mapping the
touched buckets to the new generations and every untouched bucket to
its previous generation, then atomically replaces `_LATEST`. Readers
resolve the pointer -> one manifest -> one consistent set of
generations: they see all of a merge or none of it, a crash anywhere
before the pointer replace is invisible, and every prior version stays
readable until vacuumed. Merge write cost stays ∝ batch: untouched
buckets are carried by manifest REFERENCE, zero bytes copied.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import threading
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from .merge import (
    BUCKET_META,
    bucket_expr,
    merge_upsert,
    merge_upsert_deletes,
)


def _manifest_path(path: str, v: int) -> str:
    return os.path.join(path, f"v-{v}.json")


def _list_versions(path: str) -> list[int]:
    if not os.path.isdir(path):
        return []
    out = []
    for d in os.listdir(path):
        if d.startswith("v-") and d.endswith(".json"):
            mid = d[2:-5]
            if mid.isdigit():
                out.append(int(mid))
    return sorted(out)


def latest_version(path: str) -> int:
    with open(os.path.join(path, "_LATEST")) as f:
        return int(f.read().strip())


def _resolve_version(path: str, version: int | None) -> int:
    """Resolve a user version against the COMMITTED pointer — every
    read surface must go through this: a manifest file alone is not
    history (a merger that died between its manifest write and its
    pointer replace leaves one), so any version beyond the pointer is
    rejected, never read."""
    committed = latest_version(path)
    if version is None:
        return committed
    if version > committed:
        raise ValueError(
            f"version {version} of {path} is not committed "
            f"(latest={committed})"
        )
    return version


def _load_manifest(path: str, v: int) -> dict[str, str]:
    return _load_manifest_full(path, v)["buckets"]


# ------------------------------------------------ sharded manifests
# A monolithic full-snapshot manifest grows with TABLE WIDTH, not
# change size: at 4096 buckets every commit rewrote a ~1.9 MB JSON
# (MANIFESTBENCH_4096 — 300 commits = 564 MB of manifests) and a point
# lookup parsed all of it. Format 2 splits the bucket-level payload
# (buckets/stats/dv/deltas) into per-bucket-range SHARD files under
# `_manifest/`, content-addressed by payload hash, referenced from a
# small root `v-N.json` that also carries per-shard column-bound
# rollups — the Iceberg manifest-list / Delta-checkpoint shape:
#   * commit bytes ∝ touched shards (unchanged shards are carried as
#     the same file reference — same content, same hash, no write);
#   * a point lookup loads root + ONE shard (O(touched), not O(width));
#   * a bounded range scan skips whole shards by the root rollups
#     before per-bucket stats are even loaded.
# Both formats stay readable forever: time travel across the
# `shard_manifest_versioned` migration boundary reads each version
# under the format it was written with.
MANIFEST_DIR = "_manifest"
# tables at least this wide auto-shard (below it one manifest is
# already O(small)); explicit opt-in/out via meta "manifest_shard_size"
AUTO_SHARD_MIN_BUCKETS = 256
DEFAULT_SHARD_SIZE = 64


def _table_meta(path: str) -> dict:
    try:
        with open(os.path.join(path, BUCKET_META)) as f:
            return json.load(f)
    except FileNotFoundError:
        return {}


def _shard_size_for(path: str, n_buckets: int) -> int | None:
    """Buckets per manifest shard for NEW commits of this table: the
    meta's recorded "manifest_shard_size" when present (0 = explicitly
    monolithic), else the auto policy. None = monolithic."""
    s = _table_meta(path).get("manifest_shard_size")
    if s is not None:
        return int(s) or None
    return DEFAULT_SHARD_SIZE if n_buckets >= AUTO_SHARD_MIN_BUCKETS else None


# root delta-chain: a format-2 commit may write its root as a DELTA
# against the previous version's root ("root_base": v-1 plus only the
# changed shard entries) instead of repeating every shard reference —
# at 16384 buckets the full root rollup was ~105 KB/commit regardless
# of how little the commit touched (MANIFESTBENCH_16384: 194 KB total
# per manifest), the one storage term that grew with table WIDTH
# instead of change size. A full checkpoint root lands every
# ROOT_CKPT_EVERY versions so chain resolution stays O(interval).
ROOT_CKPT_EVERY = 16


def _root_ckpt_every(path: str) -> int:
    """Checkpoint cadence for NEW commits: the meta's recorded
    "root_checkpoint_every" when present (<=1 = every commit writes a
    full root, i.e. delta roots disabled), else the default."""
    e = _table_meta(path).get("root_checkpoint_every")
    return ROOT_CKPT_EVERY if e is None else max(1, int(e))


# PACKED base generations: a FULL-WIDTH write (initial load, compact,
# rebucket) lands ONE flat `_packed/pg-<hex>/` directory holding one
# file per bucket (`b<i>.parquet`) instead of one directory per bucket,
# and the manifest entry is "@pg-<hex>/b<i>.parquet". Why: Spark's
# reader costs ~200 µs per ROOT PATH it is handed (path qualification +
# listing + file-index construction — measured flat across strategies),
# so a 16384-bucket full scan spent ~3 s in plan time REGARDLESS of
# data size, O(table width). A packed snapshot hands Spark ONE root
# directory (files enumerate via a single bulk listStatus, ~25 µs/
# entry) plus only the individually-rewritten buckets' classic dirs —
# plan cost ∝ changes since the last full write, not width. Buckets
# later rewritten by scoped merges get classic per-bucket generations;
# their stale rows inside the packed files are excluded by a
# pushed-down NOT-IN filter on the recomputed bucket hash (metadata-
# only exclusion, the Iceberg delete-by-predicate shape). Point
# lookups and pruned scans read the per-bucket FILE directly — file
# grain, O(1) in width. Auto-enabled at >= PACK_MIN_BUCKETS (tables
# under it keep the classic layout: a 16-dir scan plans in ms anyway);
# explicit opt-in/out via meta "packed_base". Tables with key blooms
# stay classic (bloom sidecars live in generation dirs; a packed
# lookup is already a single-file read).
PACKED_DIR = "_packed"
PACK_MIN_BUCKETS = 256
PACK_META_FILE = "_PACK.json"
# Range-file coalescing inside a pack: per-bucket files smaller than
# PACK_TARGET_BYTES are concatenated (contiguous bucket-id runs, one
# row group per bucket) into `r<lo>-<hi>.parquet` files of ~target
# size. Spark's parquet reader costs ~5-6 ms of fixed work per FILE
# (footer parse + reader init — measured conf-invariant across 307/77/
# 32 scan partitions at 16384 one-row files), so a wide pack of tiny
# buckets pays an O(width) read floor that no partitioning conf
# removes; coalescing bounds the file count by bytes/target instead.
# At production scale every bucket file exceeds the target and the
# layout is byte-identical to the classic one-file-per-bucket pack —
# the coalescer is a small-table/wide-layout guard, not a new format.
# Per-table override: meta/`pack_target_bytes` (0 disables). The
# driver-side concat is bounded by PACK_COALESCE_MAX_BYTES; packs
# bigger than that keep per-bucket files (at that size the per-file
# floor is already amortized by data bytes).
PACK_TARGET_BYTES = 8 << 20
PACK_COALESCE_MAX_BYTES = 512 << 20


def _pack_target_from_meta(meta: dict) -> int:
    t = meta.get("pack_target_bytes")
    return PACK_TARGET_BYTES if t is None else int(t)


def _pack_file_coverage(name: str) -> list[int]:
    """Bucket ids a pack FILE may hold rows of, from its basename:
    `b<i>.parquet` covers {i}; `r<lo>-<hi>.parquet` covers [lo, hi]
    (vacant ids in the range are harmless — no rows to exclude)."""
    stem = name.rsplit("/", 1)[-1]
    if stem.startswith("b"):
        return [int(stem[1:].split(".")[0])]
    lo, hi = stem[1:].split(".")[0].split("-")
    return list(range(int(lo), int(hi) + 1))


def _concat_parquet(srcs: list[str], dst: str) -> None:
    """Concatenate same-schema parquet files into one, each source as
    its own row group(s) in bucket order — pure pyarrow, preserving
    INT96 timestamps when the sources carry them (Spark's default
    physical type; silently converting to INT64 would flip the column
    to TIMESTAMP NANOS semantics under a plain session). Readers
    never rely on the dropped Spark footer schema: every versioned
    read passes the manifest-recorded schema explicitly."""
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(srcs[0])
    int96 = any(
        pf.metadata.schema.column(i).physical_type == "INT96"
        for i in range(pf.metadata.num_columns)
    )
    import pyarrow as pa

    # one concatenated write, NOT one write_table per source: a row
    # group per tiny bucket would put O(coalesced buckets) row groups
    # in the footer, and every footer parse would pay O(width) — rows
    # stay in bucket order, stats are file-wide either way. Sources
    # read on a thread pool: arrow parquet reads release the GIL, and
    # the per-file fixed cost (~2 ms) is the whole bill at the tiny
    # sizes that coalesce.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=16) as ex:
        tables = list(ex.map(pq.read_table, srcs))
    merged = pa.concat_tables(tables)
    writer = pq.ParquetWriter(
        dst, merged.schema, compression="snappy",
        use_deprecated_int96_timestamps=int96,
    )
    try:
        writer.write_table(merged)
    finally:
        writer.close()


def _pack_groups(
    per_bucket: dict[int, str], sizes: dict[int, int], target: int
) -> list[tuple[list[int], str]]:
    """Greedy contiguous grouping of per-bucket files into pack files:
    walk buckets ascending, accumulate a run while the run stays under
    `target` bytes; a file already >= target (the production shape)
    stands alone as `b<i>`. Runs never interleave, so range coverages
    are disjoint. Returns [(bucket ids, file basename)]."""
    out: list[tuple[list[int], str]] = []
    run: list[int] = []
    run_bytes = 0

    def _flush():
        nonlocal run, run_bytes
        if not run:
            return
        if len(run) == 1:
            out.append((run, f"b{run[0]}.parquet"))
        else:
            out.append((run, f"r{run[0]}-{run[-1]}.parquet"))
        run, run_bytes = [], 0

    for i in sorted(per_bucket):
        b = sizes[i]
        if b >= target:
            _flush()
            out.append(([i], f"b{i}.parquet"))
            continue
        if run_bytes + b > target:
            _flush()
        run.append(i)
        run_bytes += b
    _flush()
    return out


def _packed_from_meta(meta: dict, n_buckets: int) -> bool:
    if meta.get("key_bloom"):
        return False
    p = meta.get("packed_base")
    if p is not None:
        return bool(p)
    return n_buckets >= PACK_MIN_BUCKETS


def _packed_base_for(path: str, n_buckets: int) -> bool:
    return _packed_from_meta(_table_meta(path), n_buckets)


def _is_packed_entry(g: str) -> bool:
    return g.startswith("@")


def _gen_data_path(path: str, i, g: str) -> str:
    """Filesystem location of bucket i's generation `g`: the classic
    `bucket=<i>/<gen>` directory, or the single packed FILE for an
    "@pg-<hex>/b<i>.parquet" entry."""
    if g.startswith("@"):
        return f"{path}/{PACKED_DIR}/{g[1:]}"
    return f"{path}/bucket={i}/{g}"


def _pack_name_of(g: str) -> str:
    return g[1:].split("/", 1)[0]


def _pack_meta(path: str, pg: str) -> dict:
    """The pack's birth record ({"buckets": [...]}) — which buckets the
    packed generation originally covered, for deriving the superseded
    set without listing the directory."""
    with open(
        os.path.join(path, PACKED_DIR, pg, PACK_META_FILE)
    ) as f:
        return json.load(f)


def _plan_base_paths(
    path: str, full: dict, ids: list
) -> tuple[list[str], list[str], list[int]]:
    """Scan plan for the requested buckets' BASE generations. Returns
    (classic_paths, packed_paths, exclude_buckets): classic per-bucket
    dirs, packed dirs-or-files, and the bucket ids whose rows must be
    FILTERED OUT of the packed portion (buckets superseded by later
    classic generations — their live rows come from classic_paths;
    the exclusion expression itself is built by the caller,
    _read_snapshot_slice, which owns the table's bucket key).

    A pack is read as its whole DIRECTORY (one root path) only when
    the slice covers every bucket still live in it AND the superseded
    set stays a minority; pruned slices and heavily-superseded packs
    fall back to per-bucket/range FILE paths.

    The exclusion set is one unified rule — for every packed unit
    read (a whole dir or a file), excl gains (unit coverage − the
    requested ids served by that unit). Per-bucket `b<i>` files make
    that the empty set (the zero-overhead fast path); whole-dir reads
    reduce it to exactly the superseded set; coalesced `r<lo>-<hi>`
    range files additionally drop stale AND unrequested-sibling rows.
    Sound because live entries reference at most ONE pack per
    manifest version (every packed write is full-width, replacing
    every entry), so a bucket excluded via one unit's coverage is
    never legitimately served by another packed unit in the same
    plan."""
    manifest = full["buckets"]
    classic: list[str] = []
    by_pg: dict[str, list] = {}
    for i in ids:
        g = manifest[i]
        if g.startswith("@"):
            by_pg.setdefault(_pack_name_of(g), []).append(i)
        else:
            classic.append(f"{path}/bucket={i}/{g}")
    packed: list[str] = []
    excl: set[int] = set()
    if by_pg:
        live_by_pg: dict[str, set] = {}
        for j, g2 in manifest.items():
            if g2.startswith("@"):
                live_by_pg.setdefault(_pack_name_of(g2), set()).add(j)
        for pg, pids in by_pg.items():
            if set(pids) == live_by_pg[pg]:
                orig = _pack_meta(path, pg)["buckets"]
                superseded = sorted(
                    set(int(x) for x in orig)
                    - {int(x) for x in pids}
                )
                if len(superseded) * 2 <= len(orig):
                    packed.append(f"{path}/{PACKED_DIR}/{pg}")
                    excl.update(superseded)
                    continue
            served: dict[str, set[int]] = {}
            for i in pids:
                served.setdefault(manifest[i][1:], set()).add(int(i))
            for fname in sorted(served):
                packed.append(f"{path}/{PACKED_DIR}/{fname}")
                excl.update(
                    set(_pack_file_coverage(fname)) - served[fname]
                )
    return classic, packed, sorted(excl)


def _load_root_raw(path: str, v: int) -> dict:
    with open(_manifest_path(path, v)) as f:
        return json.load(f)


def _resolve_root(path: str, v: int) -> dict:
    m = _load_root_raw(path, v)
    if "n_buckets" not in m:  # manifests written before layout-in-manifest
        with open(os.path.join(path, BUCKET_META)) as f:
            m["n_buckets"] = json.load(f)["n_buckets"]
    if "root_base" not in m:
        return m
    # delta root: walk the chain down to the nearest checkpoint, then
    # replay the per-version shard-entry changes oldest-first. Chains
    # are contiguous (root_base is always v-1), bounded by the
    # checkpoint cadence.
    chain = [m]
    mb = m
    while "root_base" in mb:
        mb = _load_root_raw(path, mb["root_base"])
        chain.append(mb)
    shards = dict(mb["shards"])
    for d in reversed(chain[:-1]):
        for k in d.get("shards_del") or []:
            shards.pop(k, None)
        shards.update(d["shards_set"])
    out = {
        k: val
        for k, val in m.items()
        if k not in ("root_base", "shards_set", "shards_del")
    }
    out["shards"] = shards
    return out


def _load_root(path: str, v: int) -> dict:
    """The RESOLVED v-N.json: for format-2 manifests the small root
    (full shard-reference map + rollups + schema — delta-chain roots
    resolve transparently), for legacy manifests the whole thing.
    Retries once on a missing chain link: vacuum materializes every
    surviving delta root whose base it reclaims BEFORE deleting
    anything, so a reader that raced the unlink finds the re-read
    root already self-contained."""
    try:
        return _resolve_root(path, v)
    except FileNotFoundError:
        return _resolve_root(path, v)


# parsed-shard cache: shard files are IMMUTABLE (content-addressed by
# payload hash), so a parse is valid forever — a commit loop that
# full-loads the latest manifest per merge re-parses only the shards
# the previous commit changed. Entries are shared dicts: consumers
# treat shard payloads as read-only (every mutator in this module
# copies before writing — the sharded≡monolithic twin law is the
# tripwire). Bounded FIFO: ~the working set of a few versions.
# Mutations are lock-guarded: concurrent OCC/MOR writer threads are a
# supported pattern (catalog_txn_occ runs member actions on real
# threads), and an unguarded evict could race two threads into
# popping the same first key — the second pop raising KeyError
# mid-commit. Reads stay lock-free (dict get is atomic under the GIL;
# a miss just re-parses an immutable file).
_SHARD_CACHE: dict[str, dict] = {}
_SHARD_CACHE_MAX = 1024
_SHARD_CACHE_LOCK = threading.Lock()


def _load_shard(path: str, fname: str) -> dict:
    fpath = os.path.join(path, MANIFEST_DIR, fname)
    sub = _SHARD_CACHE.get(fpath)
    if sub is None:
        with open(fpath) as f:
            sub = json.load(f)
        with _SHARD_CACHE_LOCK:
            while len(_SHARD_CACHE) >= _SHARD_CACHE_MAX:
                _SHARD_CACHE.pop(next(iter(_SHARD_CACHE)), None)
            _SHARD_CACHE[fpath] = sub
    return sub


def _assemble_shards(path: str, root: dict, shard_keys: set | None) -> dict:
    """Materialize a format-2 root into the legacy full-manifest shape,
    loading only `shard_keys` (None = all). The raw root rides along as
    "_root" so commit assembly can carry unchanged shard files by
    reference. The result is PARTIAL when shard_keys is given — sound
    only for consumers that touch the requested buckets."""
    full = {k: v2 for k, v2 in root.items() if k != "shards"}
    full["_root"] = root
    buckets: dict = {}
    stats: dict = {}
    dv: dict = {}
    deltas: dict = {}
    for s in sorted(root["shards"], key=int):
        if shard_keys is not None and s not in shard_keys:
            continue
        sub = _load_shard(path, root["shards"][s]["f"])
        buckets.update(sub.get("buckets") or {})
        stats.update(sub.get("stats") or {})
        dv.update(sub.get("dv") or {})
        deltas.update(sub.get("deltas") or {})
    full["buckets"] = buckets
    if stats:
        full["stats"] = stats
    if dv:
        full["dv"] = dv
    if deltas:
        full["deltas"] = deltas
    return full


def _slice_from_root(path: str, root: dict, bucket_ids) -> dict:
    """Full-manifest-shaped dict covering (at least) `bucket_ids`
    (None = everything). For legacy manifests the root IS the full
    manifest; for format-2 roots only the covering shards load."""
    if root.get("format") != 2:
        return root
    want = None
    if bucket_ids is not None:
        size = root["shard_size"]
        want = {str(int(i) // size) for i in bucket_ids}
    return _assemble_shards(path, root, want)


def _load_manifest_full(path: str, v: int) -> dict:
    """The whole manifest: {v, n_buckets, buckets, [stats/dv/deltas/
    schema/...]}. Each manifest carries ITS OWN bucket count —
    re-bucketing (rebucket_versioned) is just another committed
    version, so time travel across a layout change resolves each
    version under the layout it was written with. Sharded (format-2)
    manifests assemble transparently."""
    return _slice_from_root(path, _load_root(path, v), None)


def _load_manifest_slice(path: str, v: int, bucket_ids) -> dict:
    """Partial manifest covering `bucket_ids` — the point-lookup /
    pruned-scan loader: root + only the shards those buckets live in,
    O(touched) instead of O(table width)."""
    return _slice_from_root(path, _load_root(path, v), bucket_ids)


def _shard_rollup(sub: dict) -> dict:
    """Per-column combined bounds over EVERY generation (base +
    merge-on-read deltas) of every bucket in a shard payload — the
    root-level skipping entry that lets a bounded scan drop whole
    shards without loading them. A column appears only when every
    generation carries usable stats for it (absent stats must never
    skip — the same conservatism as bucket grain); mixed stat tags
    drop the column; all-null generations are neutral for bounds and
    alone yield {"t": "null"}. Sound because shard exclusion by the
    combined bounds implies every generation excludes individually."""
    import decimal

    stats = sub.get("stats") or {}
    deltas = sub.get("deltas") or {}
    entries = []
    for i in sub.get("buckets") or {}:
        st = stats.get(i)
        if st is None:
            return {}  # a bucket with no stats: nothing skips
        entries.append(st)
        for d in deltas.get(i, []):
            ds = d.get("stats")
            if ds is None:
                return {}
            entries.append(ds)
    if not entries:
        return {}
    common = set(entries[0].get("cols") or {})
    for e in entries[1:]:
        common &= set(e.get("cols") or {})
    out: dict = {}
    for c in sorted(common):
        t = None
        lo = hi = None
        ok = True
        for e in entries:
            s = e["cols"][c]
            if s["t"] == "null":
                continue  # contributes no bounds (and excludes anyway)
            if t is None:
                t, lo, hi = s["t"], s["lo"], s["hi"]
            elif s["t"] != t:
                ok = False
                break
            elif t == "dec":
                if decimal.Decimal(s["lo"]) < decimal.Decimal(lo):
                    lo = s["lo"]
                if decimal.Decimal(s["hi"]) > decimal.Decimal(hi):
                    hi = s["hi"]
            else:
                lo = min(lo, s["lo"])
                hi = max(hi, s["hi"])
        if not ok:
            continue
        out[c] = {"t": "null"} if t is None else {"t": t, "lo": lo, "hi": hi}
    return out


def _write_manifest_shards(
    path: str, buckets: dict, stats: dict | None, dv: dict | None,
    deltas: dict | None, n_buckets: int, shard_size: int,
    base_full: dict | None, changed: set | None,
) -> dict:
    """Write (or reuse) the shard files for one commit and return the
    root's shards map. A shard whose bucket range contains no
    `changed` bucket carries the BASE manifest's entry verbatim — same
    content, same file, zero bytes written; `changed=None` rebuilds
    everything (the safe default). Shard files are content-addressed
    (payload hash), so even a rebuilt-identical shard lands on the
    existing file. CALLER CONTRACT: `changed` must contain every
    bucket whose entry in ANY of buckets/stats/dv/deltas differs from
    `base_full` — a missed bucket would carry a stale shard (the
    sharded≡monolithic twin law in tests/test_merge_versioned.py is
    the tripwire)."""
    import hashlib

    stats = stats or {}
    dv = dv or {}
    deltas = deltas or {}
    mdir = os.path.join(path, MANIFEST_DIR)
    os.makedirs(mdir, exist_ok=True)
    by_shard: dict[int, list] = {}
    for i in set(buckets) | set(stats) | set(dv) | set(deltas):
        by_shard.setdefault(int(i) // shard_size, []).append(i)
    base_shards = None
    base_root = (base_full or {}).get("_root")
    if (
        changed is not None
        and base_root is not None
        and base_root.get("format") == 2
        and base_root.get("shard_size") == shard_size
        and base_root.get("n_buckets") == n_buckets
    ):
        base_shards = base_root["shards"]
    changed_sh = (
        {int(b) // shard_size for b in changed}
        if changed is not None
        else None
    )
    shards: dict[str, dict] = {}
    for s in sorted(by_shard):
        ids = by_shard[s]
        key_s = str(s)
        if (
            base_shards is not None
            and s not in changed_sh
            and key_s in base_shards
        ):
            shards[key_s] = base_shards[key_s]
            continue
        sub: dict = {"buckets": {i: buckets[i] for i in ids if i in buckets}}
        part = {i: stats[i] for i in ids if i in stats}
        if part:
            sub["stats"] = part
        part = {i: dv[i] for i in ids if i in dv}
        if part:
            sub["dv"] = part
        part = {i: deltas[i] for i in ids if i in deltas}
        if part:
            sub["deltas"] = part
        blob = json.dumps(sub, sort_keys=True, separators=(",", ":"))
        h = hashlib.sha256(blob.encode()).hexdigest()[:20]
        fname = f"ms-{h}.json"
        fpath = os.path.join(mdir, fname)
        if not os.path.exists(fpath):
            tmp = os.path.join(mdir, f".ms-tmp-{uuid.uuid4().hex[:8]}")
            with open(tmp, "w") as f:
                f.write(blob)
            os.replace(tmp, fpath)
        entry: dict = {"f": fname}
        ids_sorted = sorted(int(i) for i in sub["buckets"])
        if ids_sorted and ids_sorted == list(
            range(ids_sorted[0], ids_sorted[-1] + 1)
        ):
            # dense shard (every bucket occupied — the common case on
            # a loaded table): O(1) range instead of an O(shard_size)
            # id list, so the root stays O(n_shards) not O(n_buckets)
            entry["r"] = [ids_sorted[0], ids_sorted[-1]]
        else:
            entry["ids"] = ids_sorted
        roll = _shard_rollup(sub)
        if roll:
            entry["cols"] = roll
        shards[key_s] = entry
    return shards


def _entry_ids(e: dict) -> list[int]:
    """Bucket ids a root shard entry covers — explicit list ("ids") or
    dense range ("r"), whichever the writer chose."""
    if "ids" in e:
        return e["ids"]
    lo, hi = e["r"]
    return list(range(lo, hi + 1))


HISTORY_LOG = "_HISTORY.jsonl"


def _write_manifest(
    path: str, v: int, buckets: dict[str, str], n_buckets: int,
    schema: dict | None = None, stats: dict | None = None,
    op: str | None = None, dv: dict | None = None,
    deltas: dict | None = None, dead_phys: list | None = None,
    base_full: dict | None = None, changed: set | None = None,
) -> float:
    tmp = os.path.join(path, f".manifest-tmp-{uuid.uuid4().hex[:8]}")
    m: dict = {
        "v": v,
        "n_buckets": n_buckets,
        # wall-clock commit stamp for timestamp AS-OF resolution; the
        # version number stays the exact watermark (no clock surface),
        # this is the human-facing convenience on top
        "committed_at": time.time(),
        # the fold policy THIS version was written under, recorded so
        # time-travel reads fold pre-policy-change versions correctly
        # even if a reload later changes the policy (manifests written
        # before this key fall back to the mutable meta)
        "mor_fold": _table_meta(path).get("mor_fold"),
    }
    if schema is not None:
        m["schema"] = schema
    if op is not None:
        m["op"] = op
    if dead_phys:
        # physical names of DROPPED columns: still present in old data
        # files, so a later merge may not ADD a column whose name
        # would collide with one (_union_schema raises) — the rule
        # that keeps dropped data from leaking into a new column
        m["dead_phys"] = sorted(dead_phys)
    shard_size = _shard_size_for(path, n_buckets)
    if shard_size:
        m["format"] = 2
        m["shard_size"] = shard_size
        m["shards"] = _write_manifest_shards(
            path, buckets, stats, dv, deltas, n_buckets, shard_size,
            base_full, changed,
        )
        # root delta-chain: when the previous version's (resolved)
        # root is layout-compatible and this is not a checkpoint slot,
        # persist only the shard entries that CHANGED plus a back
        # reference — commit bytes ∝ touched shards at any table
        # width. The in-memory manifest keeps the full map; only the
        # serialized form is a delta (readers resolve via _load_root).
        base_root = (base_full or {}).get("_root")
        ck = _root_ckpt_every(path)
        if (
            ck > 1
            and v % ck != 0
            and base_root is not None
            and base_root.get("format") == 2
            and base_root.get("shard_size") == shard_size
            and base_root.get("n_buckets") == n_buckets
            and base_root.get("v") == v - 1
            and "shards" in base_root
        ):
            base_shards = base_root["shards"]
            sset = {
                k: e
                for k, e in m["shards"].items()
                if base_shards.get(k) != e
            }
            sdel = sorted(k for k in base_shards if k not in m["shards"])
            if (len(sset) + len(sdel)) * 2 <= len(m["shards"]):
                del m["shards"]
                m["root_base"] = v - 1
                m["shards_set"] = sset
                if sdel:
                    m["shards_del"] = sdel
    else:
        m["buckets"] = buckets
        if stats is not None:
            m["stats"] = stats
        if dv:
            m["dv"] = dv
        if deltas:
            # merge-on-read DELTA generations: {bucket -> ordered list
            # of {"g": gen dir, "stats": footer stats}} — later entries
            # supersede earlier ones and the base generation per
            # key/column (operators read through _read_snapshot_slice's
            # ordinal fold)
            m["deltas"] = deltas
    with open(tmp, "w") as f:
        json.dump(m, f, indent=0, sort_keys=True)
    os.replace(tmp, _manifest_path(path, v))
    return m["committed_at"]


def _schema_of(df: DataFrame) -> dict:
    return json.loads(df.schema.json())


class SchemaConflict(ValueError):
    """A merge batch redefined an existing column at an incompatible
    type. Raised BEFORE the commit — Delta-style schema enforcement:
    committing the conflicting type would brick reads of every
    untouched bucket (their parquet files fail under the new manifest
    schema with SchemaColumnConvertNotSupported), a corruption the
    analysis-time union check cannot catch when the batch touches only
    manifest-absent buckets (target slice is None, so nothing unions
    the batch against the committed types). A deliberate type change
    is a full reload (`write_bucket_table_versioned`), which rewrites
    every file under the new type."""


def _type_fingerprint(t):
    """A type JSON with nullability flags and field metadata ERASED at
    every nesting level — the identity under which already-committed
    parquet files stay readable. Two types with equal fingerprints
    differ at most in nullable/containsNull/valueContainsNull/metadata,
    which are advisory for parquet reads; anything else (a physical
    type change) is the read-bricking conflict `_union_schema` must
    reject. Field ORDER inside structs is part of the fingerprint."""
    if isinstance(t, dict):
        k = t.get("type")
        if k == "struct":
            return (
                "struct",
                tuple(
                    (f["name"], _type_fingerprint(f["type"]))
                    for f in t["fields"]
                ),
            )
        if k == "array":
            return ("array", _type_fingerprint(t["elementType"]))
        if k == "map":
            return (
                "map",
                _type_fingerprint(t["keyType"]),
                _type_fingerprint(t["valueType"]),
            )
        return ("other", json.dumps(t, sort_keys=True))
    return t


def _relax_type(old, new):
    """Merge two fingerprint-equal type JSONs, keeping the new
    definition but RELAXING nullability to the union (a flag true on
    either side stays true): committing the narrower flag would claim
    non-nullness for generations that legitimately hold nulls. The
    symmetric fix for the full-outer-join drift — a merge whose target
    passed through an outer join reports every struct field nullable
    even when the committed type says otherwise."""
    if not isinstance(new, dict):
        return new
    k = new.get("type")
    if k == "struct":
        old_by = {f["name"]: f for f in old["fields"]}
        return {
            **new,
            "fields": [
                {
                    **f,
                    "nullable": bool(
                        f.get("nullable", True)
                        or old_by[f["name"]].get("nullable", True)
                    ),
                    "type": _relax_type(
                        old_by[f["name"]]["type"], f["type"]
                    ),
                }
                for f in new["fields"]
            ],
        }
    if k == "array":
        return {
            **new,
            "containsNull": bool(
                new.get("containsNull", True)
                or old.get("containsNull", True)
            ),
            "elementType": _relax_type(
                old["elementType"], new["elementType"]
            ),
        }
    if k == "map":
        return {
            **new,
            "valueContainsNull": bool(
                new.get("valueContainsNull", True)
                or old.get("valueContainsNull", True)
            ),
            "keyType": _relax_type(old["keyType"], new["keyType"]),
            "valueType": _relax_type(old["valueType"], new["valueType"]),
        }
    return new


def _reserved_phys(full: dict) -> set[str]:
    """Physical names a NEW column may not take: every mapped physical
    name still live in the schema, plus the physical names of DROPPED
    columns (their data lingers in old files) — reusing either would
    read the old column's bytes into the new logical column."""
    out = set((full.get("dead_phys") or []))
    out |= set(_phys_map(full.get("schema")).values())
    return out


def _union_schema(
    prev: dict | None, new: dict, reserved_phys: set[str] | None = None,
) -> dict:
    """Field-union of two schema JSONs: previous field ORDER is kept,
    fields only in the new schema append, fields only in the previous
    schema survive — a merge can never silently narrow the table.
    A field present in BOTH must carry the same type FINGERPRINT
    (nullability and metadata may drift at any nesting level — a
    merge's full-outer join marks every target column nullable, which
    must not read as a type change; the committed definition relaxes
    nullability to the union of both sides): parquet files already
    committed under the previous type cannot be read under a
    physically conflicting one, so a real type change raises
    `SchemaConflict` instead of committing a manifest that bricks
    untouched buckets."""
    if prev is None:
        return new
    new_by_name = {f["name"]: f for f in new["fields"]}
    conflicts = {
        f["name"]: (f["type"], new_by_name[f["name"]]["type"])
        for f in prev["fields"]
        if f["name"] in new_by_name
        and _type_fingerprint(new_by_name[f["name"]]["type"])
        != _type_fingerprint(f["type"])
    }
    if conflicts:
        raise SchemaConflict(
            "merge batch redefines committed column types: "
            + ", ".join(
                f"{n} ({json.dumps(old)} -> {json.dumps(neww)})"
                for n, (old, neww) in conflicts.items()
            )
            + " — a type change requires a full reload"
        )
    out = []
    for f in prev["fields"]:
        nf = new_by_name.pop(f["name"], None)
        if nf is None:
            out.append(f)
            continue
        merged = {
            **nf,
            "nullable": bool(
                nf.get("nullable", True) or f.get("nullable", True)
            ),
            "type": _relax_type(f["type"], nf["type"]),
        }
        # COLUMN MAPPING survives merges: the batch side never carries
        # the phys metadata (it was built from logical names), so the
        # committed field keeps the previous mapping
        prev_phys = (f.get("metadata") or {}).get("phys")
        if prev_phys:
            merged["metadata"] = {
                **(merged.get("metadata") or {}), "phys": prev_phys,
            }
        out.append(merged)
    if reserved_phys:
        # a NEW column may not take a physical name that old data
        # files still use (a renamed column's birth name, a dropped
        # column's name): files would leak the old bytes into it
        clashes = sorted(
            n for n in new_by_name if n in reserved_phys
        )
        if clashes:
            raise SchemaConflict(
                f"new column(s) {clashes} collide with the physical "
                "name of a renamed or dropped column still present in "
                "data files — pick a different name, or do a full "
                "reload (which rewrites files and clears mappings)"
            )
    out += list(new_by_name.values())
    return {**new, "fields": out}


def table_schema(path: str, version: int | None = None):
    """The committed schema as-of a version (SCHEMA EVOLUTION surface):
    manifests record the schema their commit wrote, so time travel
    returns the table AS IT WAS — columns added later don't exist in
    older versions. None for manifests written before schemas were
    recorded (readers fall back to parquet inference)."""
    from pyspark.sql.types import StructType

    v = _resolve_version(path, version)
    s = _load_manifest_full(path, v).get("schema")
    return StructType.fromJson(s) if s is not None else None


def _phys_map(schema_json: dict | None) -> dict[str, str]:
    """COLUMN MAPPING (Delta's columnMapping=name shape): logical ->
    physical column name, only the non-identity entries. A field's
    physical name — the name its data files actually store — is fixed
    at column birth and recorded in the field metadata ("phys") when a
    RENAME moves the logical name away from it. Empty for tables that
    never altered: every code path below is feature-gated on that."""
    if not schema_json:
        return {}
    out = {}
    for f in schema_json["fields"]:
        p = (f.get("metadata") or {}).get("phys")
        if p and p != f["name"]:
            out[f["name"]] = p
    return out


def _physical_struct(schema_json: dict):
    """The StructType under which the data FILES read: field names
    replaced by their physical names (top level only — nested fields
    are not renameable, `alter_bucket_table_versioned` rejects
    attempts)."""
    from pyspark.sql.types import StructType

    fields = [
        {**f, "name": (f.get("metadata") or {}).get("phys") or f["name"]}
        for f in schema_json["fields"]
    ]
    return StructType.fromJson({**schema_json, "fields": fields})


def _read_dirs(
    spark: SparkSession, dirs: list[str], schema,
    schema_json: dict | None = None,
) -> DataFrame:
    """Read generation dirs under the manifest-recorded schema when one
    exists: generations written before a column was added simply fill
    it with nulls (parquet reads by name), and the column ORDER is the
    committed one regardless of which file the inference would pick.
    When the committed schema carries COLUMN MAPPINGS (pass
    `schema_json` — renamed columns whose files store the birth-time
    physical name), the scan runs under the PHYSICAL schema and
    projects to logical names, so a rename never touches a data file."""
    pmap = _phys_map(schema_json)
    if pmap:
        df = spark.read.schema(_physical_struct(schema_json)).parquet(*dirs)
        inv = {p: l for l, p in pmap.items()}
        df = df.select(
            *[
                F.col(f.name).alias(inv.get(f.name, f.name))
                for f in df.schema.fields
            ]
        )
    else:
        reader = spark.read if schema is None else spark.read.schema(schema)
        df = reader.parquet(*dirs)
    return df.drop("bucket") if "bucket" in df.columns else df


def _norm_stat(v):
    """Normalize a parquet-footer min/max value to a (tag, json-safe)
    pair, or None when the type can't be bounded portably. Timestamps
    and dates collapse to epoch MICROSECONDS (naive values are UTC —
    the session contract this repo pins); decimals to strings (exact,
    re-parsed for comparison); NaN disqualifies the chunk (parquet
    float stats with NaNs are not trustworthy bounds)."""
    import datetime
    import decimal

    if isinstance(v, bool):
        return ("num", int(v))
    if isinstance(v, int):
        return ("num", v)
    if isinstance(v, float):
        if v != v:  # NaN
            return None
        return ("num", v)
    if isinstance(v, str):
        return ("str", v)
    if isinstance(v, bytes):
        try:
            return ("str", v.decode("utf-8"))
        except UnicodeDecodeError:
            return None
    if isinstance(v, datetime.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=datetime.timezone.utc)
        return ("ts", int(v.timestamp() * 1_000_000))
    if isinstance(v, datetime.date):
        dt = datetime.datetime(
            v.year, v.month, v.day, tzinfo=datetime.timezone.utc
        )
        return ("ts", int(dt.timestamp() * 1_000_000))
    if isinstance(v, decimal.Decimal):
        return ("dec", str(v))
    return None


def _coerce_bound(tag: str, value):
    """Coerce a user predicate bound to a stats-comparable value under
    the column's stats tag; None = can't coerce (no pruning)."""
    import datetime
    import decimal

    if value is None:
        return None
    if tag == "num":
        # ints stay ints: Python compares int/float EXACTLY (no 2^53
        # rounding), and float() of a large int could round a bound
        # past a generation's true max — a wrong skip, i.e. data loss
        if isinstance(value, bool):
            return int(value)
        if isinstance(value, float) and value != value:  # NaN
            return None
        return value if isinstance(value, (int, float)) else None
    if tag == "str":
        return value if isinstance(value, str) else None
    if tag == "dec":
        try:
            return decimal.Decimal(str(value))
        except decimal.InvalidOperation:
            return None
    if tag == "ts":
        # plain ints are REJECTED (no pruning): the planner's internal
        # unit is epoch micros but Spark's residual filter would read
        # the same int in a different unit — an ambiguity that could
        # make planner and filter disagree. Pass datetime / ISO string.
        if isinstance(value, (bool, int, float)):
            return None
        if isinstance(value, str):
            try:
                value = datetime.datetime.fromisoformat(value)
            except ValueError:
                return None
        if isinstance(value, datetime.datetime):
            if value.tzinfo is None:
                value = value.replace(tzinfo=datetime.timezone.utc)
            return int(value.timestamp() * 1_000_000)
        if isinstance(value, datetime.date):
            dt = datetime.datetime(
                value.year, value.month, value.day,
                tzinfo=datetime.timezone.utc,
            )
            return int(dt.timestamp() * 1_000_000)
    return None


def _accumulate_chunk(cols: dict, rg) -> None:
    """Fold one row group's column-chunk stats into a running
    {name -> entry-or-None} accumulator (None = disqualified: absent
    stats mean MUST READ, never a wrong skip)."""
    for ci in range(rg.num_columns):
        col = rg.column(ci)
        name = col.path_in_schema
        if "." in name:  # nested: no portable bounds
            cols[name.split(".")[0]] = None
            continue
        if cols.get(name, "absent") is None:
            continue  # already disqualified
        try:
            st = col.statistics
        except Exception:
            # pyarrow can't extract stats for every physical
            # type (e.g. some decimal encodings raise
            # ArrowNotImplementedError): absent stats mean
            # MUST READ, never a wrong skip
            cols[name] = None
            continue
        nulls_here = (
            st.null_count
            if st is not None and st.has_null_count
            else None
        )
        e = cols.get(name) or {
            "t": None, "lo": None, "hi": None, "n": 0
        }
        if st is None or not st.has_min_max:
            if nulls_here is not None and nulls_here == rg.num_rows:
                # all-null chunk: contributes no bounds, only nulls
                e["n"] += nulls_here
                cols[name] = e
                continue
            cols[name] = None  # unbounded non-null values
            continue
        try:
            lo, hi = _norm_stat(st.min), _norm_stat(st.max)
        except Exception:
            # extraction itself can raise per-type (pyarrow's
            # INT64-decimal path): treat as absent stats
            cols[name] = None
            continue
        if lo is None or hi is None or lo[0] != hi[0]:
            cols[name] = None
            continue
        if e["t"] is None:
            e["t"] = lo[0]
        elif e["t"] != lo[0]:
            cols[name] = None
            continue
        cmp_lo, cmp_hi = lo[1], hi[1]
        if e["t"] == "dec":
            import decimal

            dl = decimal.Decimal
            if e["lo"] is None or dl(cmp_lo) < dl(e["lo"]):
                e["lo"] = cmp_lo
            if e["hi"] is None or dl(cmp_hi) > dl(e["hi"]):
                e["hi"] = cmp_hi
        else:
            e["lo"] = cmp_lo if e["lo"] is None else min(e["lo"], cmp_lo)
            e["hi"] = cmp_hi if e["hi"] is None else max(e["hi"], cmp_hi)
        e["n"] += nulls_here if nulls_here is not None else 0
        cols[name] = e


def _finalize_cols(cols: dict) -> dict:
    out_cols = {}
    for name, e in cols.items():
        if e is None:
            continue
        if e["t"] is None:  # every chunk all-null
            out_cols[name] = {"t": "null", "n": e["n"]}
        else:
            out_cols[name] = e
    return out_cols


@functools.lru_cache(maxsize=512)
def _packed_file_stats(fpath: str, fsize: int, mtime_ns: int) -> dict:
    """Footer stats of one immutable pack file, cached on identity
    (path, size, mtime) — callers copy `cols` before mutating."""
    import pyarrow.parquet as pq

    cols: dict[str, dict | None] = {}
    md = pq.read_metadata(fpath)
    for gi in range(md.num_row_groups):
        _accumulate_chunk(cols, md.row_group(gi))
    return {"rows": md.num_rows, "cols": _finalize_cols(cols)}


def _harvest_stats(path: str, bucket_id, gen: str) -> dict:
    """Per-generation column stats from parquet FOOTERS — metadata-only
    I/O (KB per file), the Delta/Iceberg data-skipping ledger computed
    at commit time so scans can prune by min/max without opening data
    pages. Per column: {"t": tag, "lo": min, "hi": max, "n": nulls}
    with "t": "null" for a generation whose column is entirely null
    (range predicates skip it outright); columns whose chunks lack
    usable bounds (INT96 timestamps, NaN floats, nested fields,
    non-UTF8 binary) are omitted — absent stats mean MUST READ, never
    a wrong skip. Bounds need not be exact values, only valid bounds
    (parquet writers may truncate long strings either way).

    MULTI-FILE generations (the `optimize_versioned` clustered layout,
    which sorts each bucket and rolls files at a row budget) also get
    a per-FILE ledger under "fs" ({basename -> {rows, bytes, cols}}),
    so a value-range scan can prune at file grain inside a bucket —
    the layer where clustering makes bounds selective even though the
    hash layout spreads every value range across all buckets.
    Single-file generations (every normal merge writes one file per
    bucket) skip "fs": the bucket-level entry already IS the file's,
    and the manifest stays exactly as small as before."""
    import glob as _glob

    import pyarrow.parquet as pq

    rows = 0
    nbytes = 0
    per_file: dict[str, dict] = {}
    gen_cols: dict[str, dict | None] = {}
    if gen.startswith("@"):
        # packed entry: the generation IS one file. Coalesced range
        # files are SHARED by many buckets: memoize the footer parse
        # per (path, size, mtime) or a full-width commit would parse
        # the same footer once per bucket — O(width^2) driver work
        # (the 16384-bucket stall this cache fixed). Shared-file stats
        # are file-wide, i.e. WIDER than any one bucket's true bounds:
        # pruning stays conservative-correct, just less selective —
        # exactly the small-table regime coalescing targets.
        fpath = _gen_data_path(path, bucket_id, gen)
        st = os.stat(fpath)
        cached = _packed_file_stats(fpath, st.st_size, st.st_mtime_ns)
        return {
            "rows": cached["rows"],
            "bytes": st.st_size,
            "files": 1,
            "cols": dict(cached["cols"]),
        }
    else:
        flist = sorted(
            _glob.glob(f"{path}/bucket={bucket_id}/{gen}/*.parquet")
        )
    for fpath in flist:
        fsize = os.path.getsize(fpath)
        nbytes += fsize
        md = pq.read_metadata(fpath)
        rows += md.num_rows
        fcols: dict[str, dict | None] = {}
        for gi in range(md.num_row_groups):
            rg = md.row_group(gi)
            _accumulate_chunk(gen_cols, rg)
            _accumulate_chunk(fcols, rg)
        per_file[os.path.basename(fpath)] = {
            "rows": md.num_rows,
            "bytes": fsize,
            "cols": _finalize_cols(fcols),
        }
    out = {
        "rows": rows,
        "bytes": nbytes,
        "files": len(per_file),
        "cols": _finalize_cols(gen_cols),
    }
    if len(per_file) > 1:
        out["fs"] = per_file
    return out


def _stat_excludes(s: dict | None, lo, hi) -> bool:
    """True iff a column-stats entry PROVES no row can satisfy
    `lo <= col <= hi` (at least one bound given). The single exclusion
    rule both pruning grains share — bucket-generation and file. None
    / uncoercible bounds never exclude (absent stats mean MUST READ)."""
    if s is None:
        return False
    if lo is None and hi is None:
        # unbounded "predicate": matches every row INCLUDING nulls —
        # nothing is excludable (the all-null branch below is licensed
        # only by a real bound's SQL null-exclusion)
        return False
    if s["t"] == "null":
        # no non-null value of the column in this unit: no range
        # predicate (which excludes nulls by SQL semantics) can match
        return True
    clo = _coerce_bound(s["t"], lo)
    chi = _coerce_bound(s["t"], hi)
    if (lo is not None and clo is None) or (hi is not None and chi is None):
        return False  # uncoercible bound: must read
    slo, shi = s["lo"], s["hi"]
    if s["t"] == "dec":
        import decimal

        slo, shi = decimal.Decimal(slo), decimal.Decimal(shi)
    return (clo is not None and shi < clo) or (chi is not None and slo > chi)


def prune_generations(
    path: str, column: str, lo=None, hi=None, version: int | None = None
) -> dict:
    """The data-skipping planner: which buckets' generations can a
    closed-interval predicate `lo <= column <= hi` (either bound open
    when None) actually touch under a version's manifest stats?
    Pure manifest arithmetic — no Spark job, no data I/O. Returns
    {version, read, skipped, manifest}; buckets without usable stats
    for the column are always read (absent stats never skip).

    On a SHARDED (format-2) manifest a bounded predicate first tests
    each shard's root-level rollup bounds: an excluded shard's buckets
    all skip WITHOUT loading the shard file, so plan cost is O(shards
    that can match), not O(table width) — the returned "manifest" is
    then PARTIAL (complete for every `read` bucket, which is all any
    scan consumer touches)."""
    v = _resolve_version(path, version)
    root = _load_root(path, v)
    read: list[str] = []
    skipped: list[str] = []
    if root.get("format") == 2 and (lo is not None or hi is not None):
        pcol = _phys_map(root.get("schema")).get(column, column)
        load_keys: set[str] = set()
        for s, e in root["shards"].items():
            if _stat_excludes((e.get("cols") or {}).get(pcol), lo, hi):
                skipped.extend(str(i) for i in _entry_ids(e))
            else:
                load_keys.add(s)
        full = _assemble_shards(path, root, load_keys)
        stats = full.get("stats") or {}
        deltas = full.get("deltas") or {}
        for i in sorted(full["buckets"]):
            entries = [stats.get(i)] + [
                d.get("stats") for d in deltas.get(i, [])
            ]
            if all(
                _stat_excludes((e or {}).get("cols", {}).get(pcol), lo, hi)
                for e in entries
            ):
                skipped.append(i)
            else:
                read.append(i)
        return {
            "version": v,
            "read": sorted(read),
            "skipped": sorted(skipped),
            "manifest": full,
        }
    full = _slice_from_root(path, root, None)
    stats = full.get("stats") or {}
    if lo is None and hi is None:
        # no predicate, no pruning: an unbounded scan returns EVERY
        # row, including nulls — even an all-null generation's rows
        # (skipping those here while applying no residual filter would
        # silently drop them; a range with at least one bound excludes
        # nulls by SQL semantics, which is what licenses the skips)
        return {
            "version": v,
            "read": sorted(full["buckets"]),
            "skipped": [],
            "manifest": full,
        }
    deltas = full.get("deltas") or {}
    # stats are harvested from data-file FOOTERS, so their keys are
    # PHYSICAL column names — translate the (logical) predicate column
    # through the mapping (identity for never-altered tables)
    pcol = _phys_map(full.get("schema")).get(column, column)
    for i in sorted(full["buckets"]):
        # a bucket with merge-on-read deltas is excludable only when
        # EVERY generation's stats exclude: the base may be out of
        # range while a delta holds a matching (and winning) row, and
        # vice versa — and DVs only remove rows, so exclusion stays
        # sound. Absent stats on any generation mean MUST READ.
        entries = [stats.get(i)] + [d.get("stats") for d in deltas.get(i, [])]
        if all(
            _stat_excludes((e or {}).get("cols", {}).get(pcol), lo, hi)
            for e in entries
        ):
            skipped.append(i)
        else:
            read.append(i)
    return {"version": v, "read": read, "skipped": skipped, "manifest": full}


def prune_generations_multi(
    path: str, predicates: list[tuple], version: int | None = None
) -> dict:
    """Conjunctive pruning: `predicates` is a list of (column, lo, hi)
    ranges ANDed together — a generation is skipped when ANY predicate
    proves no overlap (the read set is the INTERSECTION of the
    per-column read sets). Same manifest-arithmetic cost; same
    absent-stats-never-skip conservatism per column."""
    v = _resolve_version(path, version)
    plans = [
        prune_generations(path, col, lo, hi, v) for col, lo, hi in predicates
    ]
    if not plans:
        full = _load_manifest_full(path, v)
        return {
            "version": v, "read": sorted(full["buckets"]), "skipped": [],
            "manifest": full,
        }
    read = set(plans[0]["read"])
    for p in plans[1:]:
        read &= set(p["read"])
    all_b = set(plans[0]["read"]) | set(plans[0]["skipped"])
    return {
        "version": v,
        "read": sorted(read),
        "skipped": sorted(all_b - read),
        "manifest": plans[0]["manifest"],
    }


def prune_files(
    path: str, predicates: list[tuple], version: int | None = None
) -> dict:
    """Two-grain skipping plan: bucket-generation pruning first
    (prune_generations_multi), then FILE pruning inside each surviving
    bucket whose generation carries a per-file ledger ("fs" — written
    by optimize_versioned's clustered layout, where sorted buckets
    roll files at a row budget so per-file min/max are selective).
    Still pure manifest arithmetic: the file names live in the ledger,
    so no directory listing happens at plan time. Returns
    {version, read: [dir-or-file paths], read_buckets: [bucket ids
    behind those paths], skipped (buckets), skipped_files, files_read,
    files_total, manifest}; `files_read` / `files_total` count only
    the ledgered buckets (unledgered buckets read as whole dirs,
    exactly as before — absent stats never skip). `read_buckets` is
    authoritative for consumers that need the bucket ids (deletion
    vectors): packed entries resolve to `_packed/pg-*/b<i>.parquet`
    FILES whose path carries no `bucket=` segment, so parsing ids
    back out of `read` is not possible in general."""
    plan = prune_generations_multi(path, predicates, version)
    full = plan["manifest"]
    manifest = full["buckets"]
    stats = full.get("stats") or {}
    # only BOUNDED predicates license file skips — an unbounded
    # (col, None, None) matches every row including nulls, exactly
    # the rule prune_generations applies at bucket grain
    pmap = _phys_map(full.get("schema"))
    bounded = [
        (pmap.get(c, c), lo, hi)
        for c, lo, hi in predicates
        if lo is not None or hi is not None
    ]
    read: list[str] = []
    read_buckets: list = []
    skipped_files: list[str] = []
    delta_buckets: list[str] = []
    deltas = full.get("deltas") or {}
    files_read = files_total = 0
    # packed entries: several surviving buckets may share one coalesced
    # range file — read it once, and exclude the rows of every bucket
    # in its coverage that is NOT a surviving packed entry (stale rows
    # of classic-superseded buckets would otherwise duplicate their
    # current rows; pruned-out siblings are already disproven by stats
    # but excluding them too costs nothing). Per-bucket b<i> files
    # yield an empty exclusion — the zero-overhead fast path.
    packed_served: dict[str, set[int]] = {}
    for i in plan["read"]:
        if deltas.get(i):
            # merge-on-read bucket: the per-column ordinal fold means a
            # skipped FILE could still contribute columns to a folded
            # row that matches (base row superseded in the filtered
            # column but not in others) — no sub-bucket grain is sound;
            # the bucket reads whole through _read_snapshot_slice
            delta_buckets.append(i)
            continue
        gdir = _gen_data_path(path, i, manifest[i])
        fs = (stats.get(i) or {}).get("fs")
        if manifest[i].startswith("@"):
            fname = manifest[i][1:]
            if fname not in packed_served:
                packed_served[fname] = set()
                read.append(gdir)
            packed_served[fname].add(int(i))
            read_buckets.append(i)
            continue
        if not fs or not bounded:
            read.append(gdir)
            read_buckets.append(i)
            continue
        files_total += len(fs)
        bucket_read = False
        for fname in sorted(fs):
            fcols = fs[fname].get("cols", {})
            if any(
                _stat_excludes(fcols.get(col), lo, hi)
                for col, lo, hi in bounded
            ):
                skipped_files.append(f"{gdir}/{fname}")
            else:
                read.append(f"{gdir}/{fname}")
                files_read += 1
                bucket_read = True
        if bucket_read:
            read_buckets.append(i)
    packed_excl: set[int] = set()
    packed_paths: list[str] = []
    for fname, served in packed_served.items():
        packed_paths.append(f"{path}/{PACKED_DIR}/{fname}")
        packed_excl.update(set(_pack_file_coverage(fname)) - served)
    return {
        "version": plan["version"],
        "read": read,
        "read_buckets": sorted(read_buckets),
        "packed_paths": packed_paths,
        "packed_excl": sorted(packed_excl),
        "skipped": plan["skipped"],
        "skipped_files": skipped_files,
        "delta_buckets": delta_buckets,
        "files_read": files_read,
        "files_total": files_total,
        "manifest": full,
    }


def scan_versioned_multi(
    spark: SparkSession,
    path: str,
    predicates: list[tuple],
    version: int | None = None,
) -> DataFrame:
    """Stats-pruned CONJUNCTIVE scan: AND of (column, lo, hi) ranges,
    reading only generations — and, inside clustered generations, only
    FILES — no predicate can disprove; every residual filter applied,
    so the result is exact (pruned ≡ unpruned law in
    tests/test_merge_versioned.py). The practical 100 TB shape is
    freshness AND a dimension bound in one pass."""
    from pyspark.sql.types import StructType

    plan = prune_files(path, predicates, version)
    full_m = plan["manifest"]
    stored = full_m.get("schema")
    schema = StructType.fromJson(stored) if stored is not None else None
    dirs = plan["read"]
    with open(os.path.join(path, BUCKET_META)) as f:
        _k = json.load(f)["key"]
    df = None
    if dirs:
        pexcl = plan.get("packed_excl") or []
        if pexcl:
            # coalesced range files carry sibling buckets' rows — the
            # exclusion applies to the PACKED portion only (the same
            # bucket ids are legitimately current in the classic part)
            from .merge import bucket_membership_expr

            ppaths = set(plan["packed_paths"])
            cl = [d for d in dirs if d not in ppaths]
            pdf = _read_dirs(
                spark, [d for d in dirs if d in ppaths],
                schema, schema_json=stored,
            ).filter(
                bucket_membership_expr(
                    _k, int(full_m["n_buckets"]), pexcl, keep=False
                )
            )
            df = (
                _read_dirs(spark, cl, schema, schema_json=stored)
                .unionByName(pdf)
                if cl else pdf
            )
        else:
            df = _read_dirs(spark, dirs, schema, schema_json=stored)
        # bucket ids come from the plan, never parsed back out of the
        # paths: packed entries read as `_packed/pg-*/{b<i>,r<lo>-<hi>}
        # .parquet` files with no `bucket=` path segment
        df = _apply_dv(spark, path, full_m, plan["read_buckets"], df, _k)
    if plan.get("delta_buckets"):
        # merge-on-read buckets read whole and FOLD (residual filters
        # below apply to the folded — i.e. current — rows, never to a
        # superseded version of a key)
        folded = _read_snapshot_slice(
            spark, path, full_m, plan["delta_buckets"], _k
        )
        if folded is not None:
            df = folded if df is None else df.unionByName(folded)
    if df is None:
        if schema is None:
            raise FileNotFoundError(
                f"version {plan['version']} of {path}: nothing to read and "
                "no recorded schema to type an empty result"
            )
        df = spark.createDataFrame([], schema)
    for column, lo, hi in predicates:
        c = F.col(column)
        if lo is not None:
            df = df.filter(c >= F.lit(lo))
        if hi is not None:
            df = df.filter(c <= F.lit(hi))
    return df


def scan_versioned(
    spark: SparkSession,
    path: str,
    column: str,
    lo=None,
    hi=None,
    version: int | None = None,
) -> DataFrame:
    """Stats-pruned range scan: `SELECT * WHERE lo <= column <= hi`
    reading ONLY the generations whose footer min/max can overlap the
    interval — Delta/Iceberg data skipping at the bucket-generation
    grain. The residual filter is always applied, so the result is
    EXACT regardless of how much the stats pruned (the pruned ≡
    unpruned law in tests/test_merge_versioned.py). Skipping bites
    when the column correlates with generations — the canonical case
    is freshness (`updated_at >= t`: only buckets a recent merge
    rewrote have young max-stats; everything else skips), giving
    incremental consumers a clock-based path that reads changed data
    only, without a version checkpoint. The single-predicate case of
    `scan_versioned_multi` — one implementation, no drift."""
    return scan_versioned_multi(spark, path, [(column, lo, hi)], version)


KEYBLOOM_FILE = "_KEYBLOOM.json"


def _write_key_blooms(
    spark: SparkSession, path: str, key: str,
    gens: dict[str, str], stats: dict[str, dict], n_buckets: int,
    bits_per_key: int = 8, k: int = 4,
) -> None:
    """Per-generation KEY bloom filters, as SIDECAR files inside each
    new generation dir (underscore-named: invisible to Spark scans;
    immutable with the generation — the Iceberg-puffin shape, NOT in
    the manifest, whose per-commit full rewrite must stay ∝ buckets,
    never ∝ bloom bytes).

    Built by ONE distributed job over the new generations only (cost
    ∝ batch): one scan of the new dirs with the bucket id RECOMPUTED
    from the key (the writer's own bucket_expr under the layout the
    generations were written with — a union of per-dir scans would
    put n_buckets relations in one plan, which chokes analysis on a
    4096-bucket initial load); k xxhash64 probes per key fold into
    64-bit words via bit_or, and the driver collects ≤ |touched
    buckets| x m/64 bounded ints — never row data. `m` is sized from the fattest touched
    generation's row count (bits_per_key bits/key, rounded to a power
    of two — FP ≈ 2.5% at 8 bits / 4 probes) and recorded in the
    sidecar so lookups use the exact build-time geometry.

    Complements the footer min/max short-circuit: bounds prove misses
    OUTSIDE [lo, hi]; the bloom proves misses INSIDE the range — the
    common case for sparse CDC key spaces — with zero data pages
    opened. Absent sidecars mean MUST READ, never a wrong miss."""
    import base64

    if not gens:
        return
    max_rows = max(
        (stats.get(i, {}).get("rows", 0) for i in gens), default=0
    )
    m = 64
    while m < max(64, bits_per_key * max_rows):
        m *= 2
    from .merge import bucket_expr

    dirs = [f"{path}/bucket={i}/{g}" for i, g in sorted(gens.items())]
    tagged = (
        _read_dirs(spark, dirs, None)
        .select(F.col(key).alias("__k"))
        .withColumn(
            "__b", bucket_expr("__k", n_buckets).cast("string")
        )
    )
    agg = (
        tagged.withColumn(
            "__pos",
            F.explode(
                F.array(
                    *[
                        F.pmod(
                            F.xxhash64(F.col("__k"), F.lit(j)), F.lit(m)
                        )
                        for j in range(k)
                    ]
                )
            ),
        )
        .select(
            "__b",
            (F.col("__pos") / 64).cast("int").alias("__w"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(__pos % 64 AS INT))"
            ).alias("__bit"),
        )
        .groupBy("__b", "__w")
        .agg(F.expr("bit_or(__bit)").alias("__word"))
        .collect()
    )
    words: dict[str, dict[int, int]] = {}
    for r in agg:
        words.setdefault(r["__b"], {})[r["__w"]] = r["__word"]
    for i, g in sorted(gens.items()):
        w = words.get(str(i), {})
        arr = bytearray(m // 8)
        for widx, val in w.items():
            arr[widx * 8 : widx * 8 + 8] = (val & (2**64 - 1)).to_bytes(
                8, "little"
            )
        sidecar = {
            "m": m,
            "k": k,
            "bits_b64": base64.b64encode(bytes(arr)).decode("ascii"),
        }
        tmp = f"{path}/bucket={i}/{g}/.bloom-tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(sidecar, f)
        os.replace(tmp, f"{path}/bucket={i}/{g}/{KEYBLOOM_FILE}")


def _bloom_proves_absent(
    spark: SparkSession, gen_dir: str, value, key_type=None
) -> bool:
    """True iff the generation's key-bloom sidecar PROVES `value`
    absent (any probe bit unset). Missing/corrupt sidecars mean MUST
    READ. The probe hashes run through the same Spark xxhash64
    expressions the builder used (one 1-row job — the bucket routing
    job point lookups already pay has the same shape). `key_type` is
    the COMMITTED key column type: xxhash64 is type-sensitive (a
    Python int literal hashes as INT while a stored LongType column
    hashes as BIGINT), so the probe literal must be cast to the exact
    stored type — when the type is unknown, the bloom is skipped
    (must-read, never a wrong miss)."""
    import base64

    if key_type is None:
        return False
    p = os.path.join(gen_dir, KEYBLOOM_FILE)
    if not os.path.exists(p):
        return False
    try:
        with open(p) as f:
            sc = json.load(f)
        m, k = sc["m"], sc["k"]
        bits = base64.b64decode(sc["bits_b64"])
    except (ValueError, KeyError):
        return False
    probe = F.lit(value).cast(key_type)
    row = (
        spark.range(1)
        .select(
            *[
                F.pmod(
                    F.xxhash64(probe, F.lit(j)), F.lit(m)
                ).alias(f"p{j}")
                for j in range(k)
            ]
        )
        .collect()[0]
    )
    for j in range(k):
        pos = row[f"p{j}"]
        if not (bits[pos // 8] >> (pos % 8)) & 1:
            return True  # an unset probe bit: definitely absent
    return False


def _dv_ref(e) -> tuple[str, int]:
    """Normalize a manifest DV reference to (dir name, depth). Depth is
    the delta-chain position the delete was committed at: the DV kills
    rows of generations at ORDINAL <= depth only, so merge-on-read
    deltas landing after it legitimately re-insert. Legacy plain-string
    refs (written before MOR existed — no deltas then) are depth 0."""
    if isinstance(e, dict):
        return e["n"], int(e.get("d", 0))
    return e, 0


def _apply_dv(
    spark: SparkSession,
    path: str,
    full: dict,
    bucket_ids,
    df: DataFrame,
    key: str,
) -> DataFrame:
    """Apply the manifest's DELETION VECTORS to a SINGLE-GENERATION
    slice read (no merge-on-read deltas for these buckets — delta
    buckets take the ordinal-aware path inside `_read_snapshot_slice`):
    anti-join the union of the given buckets' still-referenced DV key
    sets (broadcast — DVs are delete-batch-sized by construction).

    A DV dir spans every bucket its delete batch touched, but folds
    happen PER BUCKET (a data merge rewrites some buckets and clears
    only their refs), so each DV must be filtered to the rows of the
    buckets that STILL reference it under this manifest — an
    unfiltered key-only anti join would keep deleting a key that a
    later merge legitimately re-inserted into a folded bucket (the
    resurrection-blocking bug the DV law test pins). DV rows carry
    their bucket id ("__dv_bucket") for exactly this filter. No DV
    refs for the requested buckets -> the frame passes through
    untouched (the pre-DV fast path, zero overhead). Depth is
    irrelevant here: a bucket with no deltas has only ordinal-0 rows,
    which every ref kills."""
    dv_map = full.get("dv") or {}
    by_name: dict[str, set[int]] = {}
    for i in bucket_ids:
        for e in dv_map.get(str(i), []):
            n, _d = _dv_ref(e)
            by_name.setdefault(n, set()).add(int(i))
    if not by_name:
        return df
    dv = None
    for n, bs in sorted(by_name.items()):
        part = (
            spark.read.parquet(f"{path}/{n}")
            .filter(F.col("__dv_bucket").isin(sorted(bs)))
            .select(key)
        )
        dv = part if dv is None else dv.unionByName(part)
    return df.join(F.broadcast(dv.distinct()), key, "left_anti")


def _fold_rows(df: DataFrame, fold: dict) -> DataFrame:
    """Whole-row KEEP-LATEST fold for merge-on-read tables maintained
    by `keep_latest_merge` semantics (recorded table policy
    `mor_fold`: {"keys": [...], "order_by": [[col, "desc"|"asc"],
    ...]}): per composite key, the greatest row by the INTRINSIC
    comparator wins — not arrival order, which is what makes
    out-of-order CDC replay converge (a late batch carrying an older
    event must lose to the newer row already standing, exactly as the
    CoW merger decides). The layer ordinal is only the final
    tie-break, so equal-comparator rows resolve deterministically to
    the newest layer."""
    order = [
        F.desc(c) if str(d).lower() == "desc" else F.asc(c)
        for c, d in fold["order_by"]
    ]
    from pyspark.sql.window import Window as _W

    w = _W.partitionBy(*fold["keys"]).orderBy(*order, F.desc("__ord"))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__ord")
    )


def _fold_ordinals(df: DataFrame, key: str) -> DataFrame:
    """Collapse a layered read (base generation = __ord 0, each
    merge-on-read delta = its position in the bucket's delta list) to
    the MERGED row per key, reproducing chained `merge_upsert`
    semantics exactly: per column, the LAST non-null value by ordinal
    wins (merge_upsert's coalesce(update, existing) per column — an
    update never nulls a column out, so last-non-null IS the coalesce
    chain); `created_at` takes the FIRST non-null (merge_upsert keeps
    the original creation stamp). max_by/min_by ignore rows whose
    ordering expression is null, which is what makes the null-guarded
    ordinal a per-column filter. One hash aggregate (map-side
    combinable) — the read-side price of write cost ∝ batch."""
    cols = [c for c in df.columns if c not in (key, "__ord")]
    aggs = []
    for c in cols:
        pick = F.min_by if c == "created_at" else F.max_by
        aggs.append(
            pick(c, F.when(F.col(c).isNotNull(), F.col("__ord"))).alias(c)
        )
    return df.groupBy(key).agg(*aggs)


def _read_snapshot_slice(
    spark: SparkSession,
    path: str,
    full: dict,
    bucket_ids,
    key: str,
) -> DataFrame | None:
    """THE snapshot read every surface goes through: the given
    buckets' base generations, overlaid with their merge-on-read DELTA
    generations (ordinal fold — later deltas supersede, per column),
    with the manifest's deletion vectors applied. Tables that never
    took a MOR merge hit the zero-overhead fast path (one multi-dir
    parquet read + the DV pass-through). Deltas are read in LAYERS
    (all buckets' j-th delta in one scan, j bounded by merges since
    the last compaction), never one-job-per-dir. Returns None when
    none of the requested buckets hold data."""
    from pyspark.sql.types import StructType

    manifest = full["buckets"]
    ids = [str(i) for i in bucket_ids if str(i) in manifest]
    if not ids:
        return None
    stored = full.get("schema")
    schema = StructType.fromJson(stored) if stored is not None else None
    classic, packed, excl = _plan_base_paths(path, full, ids)
    deltas = full.get("deltas") or {}
    depth = max((len(deltas.get(i, [])) for i in ids), default=0)
    parts = []
    if classic:
        parts.append(_read_dirs(spark, classic, schema, schema_json=stored))
    if packed:
        pdf = _read_dirs(spark, packed, schema, schema_json=stored)
        if excl:
            # superseded buckets' live rows come from classic dirs;
            # their stale rows inside the packed files are excluded by
            # recomputing the bucket hash — a cheap JVM expression the
            # scan applies before anything downstream (applied ONLY to
            # the packed portion: the same bucket ids are legitimately
            # present in the classic part). One parsed expression, not
            # Column.isin — coalesced range files can make this set
            # thousands of ids, and isin pays a py4j trip per literal.
            from .merge import bucket_membership_expr

            pdf = pdf.filter(
                bucket_membership_expr(
                    key, int(full["n_buckets"]), excl, keep=False
                )
            )
        parts.append(pdf)
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    if not depth:
        return _apply_dv(spark, path, full, ids, df, key)
    df = df.withColumn("__ord", F.lit(0))
    for j in range(1, depth + 1):
        layer = [
            f"{path}/bucket={i}/{deltas[i][j - 1]['g']}"
            for i in ids
            if len(deltas.get(i, [])) >= j
        ]
        df = df.unionByName(
            _read_dirs(spark, layer, schema, schema_json=stored).withColumn(
                "__ord", F.lit(j)
            )
        )
    # ORDINAL-AWARE deletion vectors, applied BEFORE the fold: a DV
    # committed at delta depth d kills rows of generations with
    # ordinal <= d only — deltas landing after the delete re-insert,
    # and a PARTIAL re-insert gets insert semantics (the dead base
    # row's other columns never resurface through the fold: the CoW
    # equivalence law pins this exact course)
    dv_map = full.get("dv") or {}
    groups: dict[tuple[str, int], set[int]] = {}
    for i in ids:
        for e in dv_map.get(str(i), []):
            n, d = _dv_ref(e)
            groups.setdefault((n, d), set()).add(int(i))
    if groups:
        dv = None
        for (n, d), bs in sorted(groups.items()):
            part = (
                spark.read.parquet(f"{path}/{n}")
                .filter(F.col("__dv_bucket").isin(sorted(bs)))
                .select(
                    F.col(key).alias("__dv_key"),
                    F.lit(d).alias("__dv_depth"),
                )
            )
            dv = part if dv is None else dv.unionByName(part)
        dv = dv.groupBy("__dv_key").agg(
            F.max("__dv_depth").alias("__dv_depth")
        )
        df = df.join(
            F.broadcast(dv),
            (F.col(key) == F.col("__dv_key"))
            & (F.col("__ord") <= F.col("__dv_depth")),
            "left_anti",
        )
    # the fold policy comes from the VERSION'S manifest, not the
    # mutable meta: a reload may change the policy, and time-travel
    # reads of pre-change versions must fold under the policy they
    # were written with (manifests older than fold recording fall
    # back to the meta — the only source their era had)
    if "mor_fold" in full:
        fold = full["mor_fold"]
    else:
        fold = _table_meta(path).get("mor_fold")
    if fold:
        return _fold_rows(df, fold)
    return _fold_ordinals(df, key)


def merge_deletes_dv(
    spark: SparkSession, path: str, keys_df: DataFrame
) -> dict:
    """DELETE as a DELETION VECTOR commit — the Delta 2.x merge-on-read
    economics: zero data files rewritten; the commit writes ONE small
    parquet dir of deleted keys (cost ∝ deleted keys) and a manifest
    whose touched buckets gain a DV reference. Readers anti-join the
    DV (every read surface goes through `_apply_dv`); the NEXT data
    merge that touches a bucket FOLDS its DV (the target slice is read
    DV-applied and the rewritten generation clears the reference), so
    DVs never accumulate past one data-merge cycle per bucket; rebucket
    and optimize fold every DV they rewrite. Time travel is exact: old
    manifests don't reference the new DV. The rewrite-based delete leg
    (`merge_scoped_versioned(deleted_col=...)`) remains the right call
    for composite-identity tables — a DV deletes every row of a bucket
    KEY (`keys_df` carries the bucket-key column only).

    Stats stay VALID upper bounds: a DV only removes rows, so footer
    min/max remain sound for skipping (a pruned bucket has no matching
    live rows either) and `rows` becomes an upper bound until the fold.

    Crash-safe like generations: the DV dir is unreferenced until the
    manifest/pointer commit; a crash leaves an orphan for vacuum.
    Returns {version, buckets_touched, dv_rows, dv_bytes}.
    """
    import fcntl
    import glob as _glob

    with open(os.path.join(path, BUCKET_META)) as f:
        meta = json.load(f)
    key = meta["key"]
    lock = open(os.path.join(path, "_MERGELOCK"), "w")
    fcntl.flock(lock, fcntl.LOCK_EX)
    try:
        cur = latest_version(path)
        full = _load_manifest_full(path, cur)
        n_buckets = full["n_buckets"]
        b = bucket_expr(key, n_buckets)
        # bounded driver-side state: bucket ids only, never row data
        touched = sorted(
            r[0]
            for r in keys_df.select(b.alias("__b")).distinct().collect()
        )
        # only buckets that HOLD data need a DV (a delete for a key in
        # an absent bucket is a no-op)
        touched = [i for i in touched if str(i) in full["buckets"]]
        if not touched:
            return {
                "version": cur, "buckets_touched": 0,
                "dv_rows": 0, "dv_bytes": 0,
            }
        dv_name = f"dv-{uuid.uuid4().hex[:12]}"
        n_rows = keys_df.count()
        (
            keys_df.select(key)
            .distinct()
            # the bucket id travels WITH each deleted key so partial
            # folds can filter the DV to still-referencing buckets
            .withColumn("__dv_bucket", b)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(f"{path}/{dv_name}")
        )
        dv_bytes = sum(
            os.path.getsize(f)
            for f in _glob.glob(f"{path}/{dv_name}/*.parquet")
        )
        dv_all = {k2: list(v2) for k2, v2 in (full.get("dv") or {}).items()}
        deltas_now = full.get("deltas") or {}
        for i in touched:
            # ordinal scope: the delete applies to every generation
            # that EXISTS now (base = 0 plus the current delta chain);
            # merge-on-read deltas committed later sit above it and
            # legitimately re-insert
            dv_all.setdefault(str(i), []).append(
                {"n": dv_name, "d": len(deltas_now.get(str(i), []))}
            )
        v = max([cur] + _list_versions(path)) + 1
        _commit(
            path, v, dict(full["buckets"]), n_buckets,
            full.get("schema"), full.get("stats"), op="delete-dv",
            dv=dv_all, deltas=full.get("deltas"),
            dead_phys=full.get("dead_phys"),
            base_full=full, changed=set(touched),
        )
    finally:
        fcntl.flock(lock, fcntl.LOCK_UN)
        lock.close()
    return {
        "version": v, "buckets_touched": len(touched),
        "dv_rows": n_rows, "dv_bytes": dv_bytes,
    }


def _commit(
    path: str, v: int, buckets: dict[str, str], n_buckets: int,
    schema: dict | None = None, stats: dict | None = None,
    op: str | None = None, dv: dict | None = None,
    deltas: dict | None = None, dead_phys: list | None = None,
    base_full: dict | None = None, changed: set | None = None,
) -> None:
    """The commit: publish manifest v AND advance `_LATEST` to it,
    both under `_COMMITLOCK`. The manifest lands only here — a merger
    crashing anywhere earlier leaves NO manifest, so its generations
    are unreferenced orphans (vacuumable) and its version number was
    never part of the readable history. The pointer replace (os.replace
    of a FILE, atomic on POSIX) is monotonic, same rule as
    merge.py::_advance_pointer; older manifests get a supersession
    marker so vacuum's grace clock runs on time-since-displaced."""
    import fcntl

    tmp = os.path.join(path, f"_LATEST.tmp-{uuid.uuid4().hex[:8]}")
    with open(tmp, "w") as f:
        f.write(str(v))
    with open(os.path.join(path, "_COMMITLOCK"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        try:
            current = -1
            latest = os.path.join(path, "_LATEST")
            if os.path.exists(latest):
                with open(latest) as f:
                    current = int(f.read().strip() or -1)
            if v > current:
                # PHANTOM sweep: a merger that died between its
                # manifest write and its pointer replace left a
                # manifest > current. Once our pointer advances past
                # that number it would become readable committed
                # history holding a never-committed batch — so purge
                # every uncommitted manifest first. Safe under
                # _COMMITLOCK: a LIVE merger writes its manifest and
                # advances the pointer inside this same lock, so any
                # >current manifest seen here belongs to a dead one.
                for ph in _list_versions(path):
                    if ph > current and ph != v:
                        os.unlink(_manifest_path(path, ph))
                stamp = _write_manifest(
                    path, v, buckets, n_buckets, schema, stats, op, dv,
                    deltas, dead_phys, base_full=base_full,
                    changed=changed,
                )
                os.replace(tmp, latest)
                # commit-log line AFTER the pointer lands (the commit
                # is durable at the replace; a crash right here just
                # leaves this version to history()'s manifest-load
                # fallback): one tiny JSONL row so history/version_at
                # stay O(V x LINE), never O(V x manifest) — at 4096
                # buckets a stats-bearing manifest is ~1.9 MB and
                # loading 300 of them cost 14.7 s (MANIFESTBENCH_4096)
                rows_total = bytes_total = None
                if stats is not None:
                    rows_total = sum(s["rows"] for s in stats.values())
                    bytes_total = sum(s["bytes"] for s in stats.values())
                    # delta generations count into the ledger totals
                    # (rows become an upper bound until a fold, exactly
                    # like DV-deleted rows)
                    for lst in (deltas or {}).values():
                        rows_total += sum(d["stats"]["rows"] for d in lst)
                        bytes_total += sum(
                            d["stats"]["bytes"] for d in lst
                        )
                line = json.dumps(
                    {
                        "v": v,
                        "op": op,
                        "committed_at": stamp,
                        "n_buckets": n_buckets,
                        "buckets": len(buckets),
                        "rows": rows_total,
                        "bytes": bytes_total,
                        "n_columns": (
                            len(schema["fields"])
                            if schema is not None
                            else None
                        ),
                    },
                    sort_keys=True,
                )
                with open(os.path.join(path, HISTORY_LOG), "a") as hf:
                    hf.write(line + "\n")
                for old in _list_versions(path):
                    if old < v:
                        marker = os.path.join(path, f"v-{old}.superseded")
                        if not os.path.exists(marker):
                            with open(marker, "w") as mf:
                                mf.write(str(v))
            else:
                os.unlink(tmp)
        finally:
            fcntl.flock(lock, fcntl.LOCK_UN)


class ConstraintViolation(ValueError):
    """A merge batch violated the table's CHECK constraints. Raised
    BEFORE any generation is written — the rejection is atomic: no
    orphans, no commit, readers unaffected. `.violations` maps
    constraint name -> violating-row count."""

    def __init__(self, path: str, violations: dict[str, int]):
        self.violations = violations
        super().__init__(
            f"constraint violation on {path}: "
            + ", ".join(f"{n} ({c} rows)" for n, c in violations.items())
        )


def _enforce_constraints(df: DataFrame, constraints: dict[str, str], path: str) -> None:
    """SQL CHECK semantics (Delta's shape): a row violates a constraint
    iff the expression evaluates to FALSE — NULL passes, as in standard
    SQL CHECK. One aggregate job counts every constraint's violations
    over the merged frame (cost ∝ the touched slice, not the table)."""
    if not constraints:
        return
    counts = df.agg(
        *[
            F.count(
                F.when(F.expr(expr).eqNullSafe(F.lit(False)), 1)
            ).alias(name)
            for name, expr in constraints.items()
        ]
    ).collect()[0]
    violations = {
        name: counts[name] for name in constraints if counts[name] > 0
    }
    if violations:
        raise ConstraintViolation(path, violations)


def write_bucket_table_versioned(
    df: DataFrame, path: str, key: str = "id", n_buckets: int = 16,
    constraints: dict[str, str] | None = None,
    key_bloom: dict | bool | None = None,
    mor_fold: dict | None = None,
    manifest_shard_size: int | None = None,
    root_checkpoint_every: int | None = None,
    packed_base: bool | None = None,
    pack_target_bytes: int | None = None,
) -> int:
    """Full load: generation dirs for every non-empty bucket, one
    manifest, pointer published. On a FRESH path this commits v-1; on
    an EXISTING table it commits a full-snapshot RELOAD as the next
    version (the recovery action merge.py::write_bucket_table supports
    by replacing the directory — here the old versions additionally
    stay time-travelable until vacuumed). A reload may change
    n_buckets (manifests carry their own layout) but never the KEY:
    older manifests would become unreadable by point lookups, so a
    key change raises instead of silently corrupting. `constraints`
    ({name: sql bool expr}) are enforced on this load and RECORDED in
    the table meta — every later merge re-enforces them on its merged
    slice (the Delta table-level CHECK contract). On a RELOAD,
    `constraints=None` (the default) INHERITS the table's recorded
    constraints — enforced on the reload and carried into the new
    meta, mirroring the rebucket path's field preservation: a reload
    must not silently disarm CHECK enforcement just because the caller
    didn't re-type it. Pass a dict (even `{}`, to clear explicitly) to
    override. Returns the committed version."""
    import fcntl

    os.makedirs(path, exist_ok=True)
    meta_path = os.path.join(path, BUCKET_META)
    lock = open(os.path.join(path, "_MERGELOCK"), "w")
    fcntl.flock(lock, fcntl.LOCK_EX)
    persisted = False
    try:
        # the existing-version probe happens UNDER the merge lock: read
        # before it and a concurrent merge could advance the pointer,
        # making our _commit a silent monotonic no-op while we report
        # the (someone else's) version number as our committed reload
        existing_v = None
        if os.path.exists(os.path.join(path, "_LATEST")):
            existing_v = latest_version(path)
            with open(meta_path) as f:
                old_meta = json.load(f)
            if old_meta["key"] != key:
                raise ValueError(
                    f"reload of {path} with key {key!r} but the table "
                    f"is keyed on {old_meta['key']!r}: a key change "
                    "would break point lookups on every retained "
                    "version — write a new path"
                )
            if constraints is None:
                constraints = old_meta.get("constraints")
            if key_bloom is None:
                key_bloom = old_meta.get("key_bloom")
            if mor_fold is None:
                mor_fold = old_meta.get("mor_fold")
            if manifest_shard_size is None:
                manifest_shard_size = old_meta.get("manifest_shard_size")
            if root_checkpoint_every is None:
                root_checkpoint_every = old_meta.get(
                    "root_checkpoint_every"
                )
            if packed_base is None:
                packed_base = old_meta.get("packed_base")
            if pack_target_bytes is None:
                pack_target_bytes = old_meta.get("pack_target_bytes")
        if key_bloom is True:
            key_bloom = {"bits_per_key": 8, "k": 4}
        meta = {
            "key": key, "n_buckets": n_buckets, "v": 2, "versioned": True,
        }
        if constraints:
            meta["constraints"] = constraints
        if key_bloom:
            meta["key_bloom"] = key_bloom
        if mor_fold:
            if key not in mor_fold.get("keys", []):
                raise ValueError(
                    f"mor_fold keys {mor_fold.get('keys')} must include "
                    f"the bucket key {key!r}"
                )
            meta["mor_fold"] = mor_fold
        if manifest_shard_size is not None:
            # explicit manifest layout policy (0 = monolithic even
            # above the auto threshold); absent = the auto rule in
            # _shard_size_for
            meta["manifest_shard_size"] = int(manifest_shard_size)
        if root_checkpoint_every is not None:
            # root delta-chain checkpoint cadence (<=1 = full roots
            # every commit); absent = ROOT_CKPT_EVERY
            meta["root_checkpoint_every"] = int(root_checkpoint_every)
        if packed_base is not None:
            # explicit packed-layout policy for full-width writes;
            # absent = the auto rule in _packed_from_meta
            meta["packed_base"] = bool(packed_base)
        if pack_target_bytes is not None:
            # pack range-file coalescing budget (0 = strict one file
            # per bucket); absent = PACK_TARGET_BYTES
            meta["pack_target_bytes"] = int(pack_target_bytes)
        if constraints:
            # persist so the constraint check and the write compute
            # the input lineage once, not twice (the merge path's rule)
            df = df.persist()
            persisted = True
            _enforce_constraints(df, constraints, path)
        if existing_v is None:
            # fresh table: the meta must exist before the first commit
            with open(meta_path, "w") as f:
                json.dump(meta, f)
        gens = _write_generations(
            df, path, key, n_buckets,
            packed=_packed_from_meta(meta, n_buckets),
            pack_target_bytes=_pack_target_from_meta(meta),
        )
        stats = {i: _harvest_stats(path, i, g) for i, g in gens.items()}
        if key_bloom:
            _write_key_blooms(
                spark=df.sparkSession, path=path, key=key, gens=gens,
                stats=stats, n_buckets=n_buckets, **key_bloom,
            )
        v = 1 if existing_v is None else existing_v + 1
        _commit(path, v, gens, n_buckets, _schema_of(df), stats, op="load")
        if existing_v is not None:
            # reload: the meta (layout hint + constraints) changes only
            # AFTER the commit landed, atomically — a reload that dies
            # mid-write must not leave meta describing a load that
            # never committed (readers stay on the old version AND the
            # old constraints)
            tmp = f"{meta_path}.tmp-{uuid.uuid4().hex[:8]}"
            with open(tmp, "w") as f:
                json.dump(meta, f)
            os.replace(tmp, meta_path)
    finally:
        if persisted:
            df.unpersist()
        fcntl.flock(lock, fcntl.LOCK_UN)
        lock.close()
    return v


def init_bucket_table_versioned(
    path: str, key: str = "id", n_buckets: int = 16,
    constraints: dict[str, str] | None = None,
    key_bloom: dict | bool | None = None,
    mor_fold: dict | None = None,
    manifest_shard_size: int | None = None,
    root_checkpoint_every: int | None = None,
    packed_base: bool | None = None,
) -> int:
    """Metadata-only creation of an EMPTY versioned table: meta, an
    empty manifest v-1, pointer — no Spark job (the CDC-replay shape
    starts from nothing; see merge.py::init_bucket_table).
    `constraints` are recorded for every future merge to enforce —
    nothing to check yet on an empty table. Init on an EXISTING table
    is ensure-exists: the committed table wins untouched (rewriting
    the meta here could silently re-key live data while the monotonic
    commit no-ops) — returns the current version; a key mismatch
    raises."""
    os.makedirs(path, exist_ok=True)
    if os.path.exists(os.path.join(path, "_LATEST")):
        with open(os.path.join(path, BUCKET_META)) as f:
            old_key = json.load(f)["key"]
        if old_key != key:
            raise ValueError(
                f"init of existing table {path} with key {key!r} but it "
                f"is keyed on {old_key!r}"
            )
        return latest_version(path)
    meta = {"key": key, "n_buckets": n_buckets, "v": 2, "versioned": True}
    if constraints:
        meta["constraints"] = constraints
    if key_bloom:
        meta["key_bloom"] = (
            {"bits_per_key": 8, "k": 4} if key_bloom is True else key_bloom
        )
    if mor_fold:
        # recorded READ policy for merge-on-read tables maintained by
        # keep-latest semantics: {"keys": [...], "order_by": [[col,
        # "desc"|"asc"], ...]} — every snapshot read folds whole rows
        # by this intrinsic comparator instead of the per-column
        # ordinal coalesce. The bucket key must be one of the fold
        # keys (a row's competitors must live in its own bucket).
        if key not in mor_fold.get("keys", []):
            raise ValueError(
                f"mor_fold keys {mor_fold.get('keys')} must include the "
                f"bucket key {key!r}"
            )
        meta["mor_fold"] = mor_fold
    if manifest_shard_size is not None:
        meta["manifest_shard_size"] = int(manifest_shard_size)
    if root_checkpoint_every is not None:
        meta["root_checkpoint_every"] = int(root_checkpoint_every)
    if packed_base is not None:
        meta["packed_base"] = bool(packed_base)
    with open(os.path.join(path, BUCKET_META), "w") as f:
        json.dump(meta, f)
    _commit(path, 1, {}, n_buckets, op="init")
    return 1


def _write_generations(
    df: DataFrame, path: str, key: str, n_buckets: int,
    buckets: list[int] | None = None,
    sort_by: list[str] | None = None,
    max_records_per_file: int | None = None,
    pmap: dict[str, str] | None = None,
    packed: bool = False,
    pack_target_bytes: int | None = None,
) -> dict[str, str]:
    """One Spark job: bucket the rows, land each written bucket as an
    immutable `bucket=<i>/g-<hex>` generation dir (a rename off the
    job's staging dir — new names, nothing swapped). Restricting to
    `buckets` keeps the repartition width = |touched|. `sort_by` sorts
    every bucket's rows by the given columns inside its task
    (sortWithinPartitions — no extra shuffle beyond the bucket
    repartition) and `max_records_per_file` rolls the writer at a row
    budget: together they produce the CLUSTERED layout — per bucket, a
    run of files each covering a contiguous sorted range, which is
    what makes per-file min/max selective for value predicates
    (optimize_versioned). Returns {bucket id -> generation name} for
    the buckets that got rows."""
    gen = f"g-{uuid.uuid4().hex[:12]}"
    staging = f"{path}/.stage-{gen}"
    b = bucket_expr(key, n_buckets)
    staged = df.withColumn("bucket", b)
    width = len(buckets) if buckets is not None else n_buckets
    out: dict[str, str] = {}
    try:
        job = staged.repartition(max(width, 1), "bucket")
        if sort_by:
            # rows arrive bucket-grouped; sorting by (bucket, cols)
            # keeps each bucket's run contiguous AND ordered even when
            # several buckets hash into one task. Entries may be plain
            # column names or Column EXPRESSIONS (the z-order path
            # sorts by a computed Morton code without materializing it
            # into the table schema).
            job = job.sortWithinPartitions("bucket", *sort_by)
        if pmap:
            # COLUMN MAPPING: data files store PHYSICAL names (the
            # birth-time name a rename moved the logical name away
            # from) — projected LAST so sort/bucket expressions above
            # resolved against the logical frame; the narrow
            # projection preserves within-partition order
            job = job.select(
                *[
                    F.col(c).alias(pmap.get(c, c))
                    for c in job.columns
                ]
            )
        writer = job.write.mode("overwrite")
        if max_records_per_file:
            writer = writer.option(
                "maxRecordsPerFile", int(max_records_per_file)
            )
        writer.partitionBy("bucket").parquet(staging)
        candidates = (
            buckets if buckets is not None else range(n_buckets)
        )
        if packed:
            # PACKED layout: move each bucket's single part file into
            # one flat table-level dir — a full scan then hands Spark
            # ONE root path instead of O(width). Only sound at one
            # file per bucket (the plain full-width write: one task
            # per bucket, no file rolling); a multi-file bucket falls
            # back to the classic per-bucket dirs below.
            import glob as _glob

            per_bucket: dict[int, list[str]] = {}
            single = True
            for i in candidates:
                fs = _glob.glob(f"{staging}/bucket={i}/*.parquet")
                if len(fs) > 1:
                    single = False
                    break
                if fs:
                    per_bucket[int(i)] = fs
            if single and per_bucket:
                pg = f"pg-{uuid.uuid4().hex[:12]}"
                pdir = os.path.join(path, PACKED_DIR, pg)
                os.makedirs(pdir, exist_ok=True)
                target = (
                    PACK_TARGET_BYTES
                    if pack_target_bytes is None
                    else int(pack_target_bytes)
                )
                sizes = {
                    i: os.path.getsize(fs[0])
                    for i, fs in per_bucket.items()
                }
                small_total = sum(b for b in sizes.values() if b < target)
                if target <= 0 or small_total > PACK_COALESCE_MAX_BYTES:
                    groups = [
                        ([i], f"b{i}.parquet") for i in sorted(per_bucket)
                    ]
                else:
                    groups = _pack_groups(
                        {i: fs[0] for i, fs in per_bucket.items()},
                        sizes, target,
                    )
                for ids_g, name in groups:
                    dstf = os.path.join(pdir, name)
                    if len(ids_g) == 1:
                        os.rename(per_bucket[ids_g[0]][0], dstf)
                    else:
                        _concat_parquet(
                            [per_bucket[i][0] for i in ids_g], dstf
                        )
                    for i in ids_g:
                        out[str(i)] = f"@{pg}/{name}"
                # birth record LAST — a crash before it leaves only
                # unreferenced files (vacuumable orphans, as with a
                # classic generation that never got committed)
                with open(os.path.join(pdir, PACK_META_FILE), "w") as f:
                    json.dump(
                        {"buckets": sorted(per_bucket)}, f,
                        separators=(",", ":"),
                    )
                return out
        for i in candidates:
            src = f"{staging}/bucket={i}"
            if os.path.isdir(src):
                os.makedirs(f"{path}/bucket={i}", exist_ok=True)
                os.rename(src, f"{path}/bucket={i}/{gen}")
                out[str(i)] = gen
        if buckets is not None:
            # a custom merger may only return rows whose keys fall in
            # the touched-bucket restriction (its inputs do); anything
            # staged OUTSIDE it would be silently deleted below — fail
            # LOUDLY instead of losing rows
            import glob as _glob

            leftover = [
                d for d in _glob.glob(f"{staging}/bucket=*")
                if os.path.isdir(d)
            ]
            if leftover:
                raise RuntimeError(
                    f"merge produced rows outside its touched buckets "
                    f"({sorted(os.path.basename(d) for d in leftover)}): "
                    "a merger must not emit keys absent from both the "
                    "batch and the target slice"
                )
    finally:
        # also on the crash path: a failed write must not leak its
        # batch-sized staging dir (vacuum additionally sweeps aged
        # .stage-* dirs for the kill -9 case this finally can't cover)
        shutil.rmtree(staging, ignore_errors=True)
    return out


class ConcurrentWriteConflict(RuntimeError):
    """An optimistic merge lost its commit race: between its snapshot
    read and its commit attempt, another writer committed a version
    that touched one of THIS merge's buckets (or changed the layout),
    and the retry budget ran out. The table is untouched — the loser's
    generations are unreferenced orphans `vacuum_bucket_versions`
    reclaims. Delta's ConcurrentAppend/ConcurrentDeleteRead shape."""


def _prepare_scoped_merge(
    spark: SparkSession,
    path: str,
    meta: dict,
    full: dict,
    updates: DataFrame,
    now=None,
    deleted_col: str | None = None,
    merger=None,
    constraints: dict[str, str] | None = None,
    touched_hint: tuple[int, list] | None = None,
) -> dict | None:
    """The WORK phase of a scoped merge, against the `full` manifest
    snapshot: read the touched target slice DV-applied, merge, enforce
    schema compatibility + CHECK constraints, write new generation dirs
    (+ bloom sidecars), harvest footer stats. Everything here is safe
    to run WITHOUT any lock — generation dirs are content-addressed and
    unreferenced until a commit names them, so a parallel writer doing
    the same can never collide on disk. Returns None for an empty
    batch; otherwise {touched, new_gens, stats, batch_schema, files,
    bytes} for a commit-assembly step to publish (serial or OCC).

    `touched_hint` = (n_buckets, bucket ids) a caller already computed
    for THIS batch (the OCC admission path collects it for the commit
    intent): honored only when the layout matches the snapshot's, so a
    raced rebucket can never smuggle in stale bucket ids."""
    key = meta["key"]
    # the layout (bucket count) comes from the SNAPSHOT manifest, not
    # the static meta: a rebucket_versioned commit may have changed it
    n_buckets = full["n_buckets"]
    b = bucket_expr(key, n_buckets)
    if touched_hint is not None and touched_hint[0] == n_buckets:
        touched = sorted(int(x) for x in touched_hint[1])
    else:
        # bounded driver-side state: ≤ n_buckets ints, never row data
        touched = sorted(
            r[0]
            for r in updates.select(b.alias("__b")).distinct().collect()
        )
    if not touched:
        return None
    # the target slice is read under the COMMITTED schema (a column an
    # earlier merge added may be absent from these buckets' files),
    # DELTA-FOLDED (merge-on-read generations supersede per key), and
    # DV-APPLIED: the rewrite FOLDS the deltas and deletion vectors
    # (neither survives into the new generation) and the commit
    # assembly clears both kinds of refs
    target = _read_snapshot_slice(spark, path, full, touched, key)
    fold = meta.get("mor_fold")
    if merger is not None:
        merged = merger(target, updates)
    elif deleted_col is not None:
        if fold:
            # tombstone deletes key on the bucket key ALONE — on a
            # keep-latest fold table (composite key) that would delete
            # every row of the key's group; route deletes through
            # merge_deletes_dv or a custom merger instead
            raise ValueError(
                f"table {path} records a mor_fold policy (keys="
                f"{fold['keys']}): deleted_col tombstones key on the "
                f"bucket key alone and would collapse composite-key "
                "groups — use merge_deletes_dv or a custom merger"
            )
        merged = merge_upsert_deletes(
            target, updates, key=key, deleted_col=deleted_col, now=now
        )
    elif fold:
        # a recorded keep-latest policy binds EVERY merge surface, not
        # just the MOR leg: the default upsert keys on the bucket key
        # alone, so a composite-key target would fan out in its
        # full-outer join and the corrupted result would commit
        # silently. Route the default CoW leg through the same
        # comparator the read-side fold and the MOR legs use.
        from .merge import keep_latest_merge

        merged = keep_latest_merge(
            target, updates,
            keys=list(fold["keys"]),
            order_by=[
                F.desc(c) if str(d).lower() == "desc" else F.asc(c)
                for c, d in fold["order_by"]
            ],
            allow_missing_columns=True,
        )
    else:
        merged = merge_upsert(target, updates, key=key, now=now)

    batch_schema = _schema_of(merged)
    # a TYPE conflict against the snapshot schema raises HERE — before
    # a single byte lands — so a rejected batch leaves no orphans and
    # no bricked manifest (the commit step re-unions against whatever
    # manifest it actually publishes on)
    union0 = _union_schema(
        full.get("schema"), batch_schema, _reserved_phys(full)
    )
    pmap = _phys_map(union0)

    # table-level CHECK constraints (recorded at creation) plus any
    # per-call additions, enforced on the merged slice BEFORE a
    # single byte lands: a violating batch is rejected atomically
    # (no generations, no manifest, no orphans — readers never
    # know). The slice is persisted so the check and the write
    # compute the merge join once, not twice.
    effective = dict(meta.get("constraints") or {})
    effective.update(constraints or {})
    persisted = False
    if effective:
        merged = merged.persist()
        persisted = True
    try:
        _enforce_constraints(merged, effective, path)
        new_gens = _write_generations(
            merged, path, key, n_buckets, touched, pmap=pmap
        )
    finally:
        if persisted:
            merged.unpersist()
    stats_touched: dict[str, dict] = {}
    files = bytes_ = 0
    for i in touched:
        g = new_gens.get(str(i))
        if g is None:  # every row of this bucket deleted
            continue
        st = _harvest_stats(path, i, g)
        stats_touched[str(i)] = st
        files += st["files"]
        bytes_ += st["bytes"]
    if meta.get("key_bloom") and new_gens:
        # sidecars land BEFORE the commit: a generation is never
        # referenced without its bloom (readers treat an absent
        # sidecar as must-read anyway, so a crash window is safe)
        _write_key_blooms(
            spark, path, key, new_gens,
            {i: stats_touched[i] for i in new_gens if i in stats_touched},
            n_buckets, **meta["key_bloom"],
        )
    return {
        "touched": touched,
        "new_gens": new_gens,
        "stats": stats_touched,
        "batch_schema": batch_schema,
        "pmap": pmap,  # the mapping the generation FILES were written under
        "files": files,
        "bytes": bytes_,
    }


def _mapping_drift(
    commit_full: dict, batch_schema: dict, prep_pmap: dict | None
) -> str | None:
    """A concurrent ALTER inside an OCC window changes logical->
    physical bindings. This writer's generation files were written
    under the SNAPSHOT mapping — publishing them under a drifted
    mapping would mislabel their columns (readers scan the physical
    struct, so a mislabeled column silently reads NULL). The
    reserved-phys rule already kills the batch-uses-the-OLD-name
    interleaving loudly (the union re-adds the renamed-away name,
    which is reserved); this closes the quieter one — the batch
    already using the NEW name, where the union matches by name and
    would carry the rename's phys onto files that physically store the
    new name. Returns a conflict message (OCC retries; the retry
    re-prepares under the post-alter schema — a batch using the new
    name then writes correct physical names and lands, while a batch
    still using the old name re-raises SchemaConflict from the prepare
    phase, loudly, with the table untouched) or None when the mapping
    is stable."""
    try:
        u = _union_schema(
            commit_full.get("schema"), batch_schema,
            _reserved_phys(commit_full),
        )
    except SchemaConflict:
        # the union conflicts only against the CONCURRENT commit's
        # schema (prepare already unioned cleanly against its own
        # snapshot) — schema movement under the merge, same remedy:
        # retry from the fresh snapshot, which re-raises terminally
        # from prepare if the batch itself is at fault
        return (
            "schema changed under the merge (concurrent alter): "
            "re-preparing against the new snapshot"
        )
    if _phys_map(u) != (prep_pmap or {}):
        return (
            "column mapping changed under the merge (concurrent "
            "alter): generations were written under the snapshot "
            "mapping"
        )
    return None


def _assemble_scoped_commit(
    path: str, commit_full: dict, prep: dict, op: str = "merge"
) -> int:
    """Publish a prepared merge on top of `commit_full` (the manifest
    the commit actually lands on — the snapshot it was prepared
    against, or a NEWER disjoint manifest when the OCC path rebases).
    Stats and DV refs carry by reference for untouched buckets; the
    committed schema is the publish-base schema unioned with what the
    merge wrote (the union, not the batch schema alone, so a batch
    touching only manifest-absent buckets can't narrow the table; the
    rebase re-union can raise SchemaConflict when a concurrent commit
    introduced a conflicting type — the table stays untouched, this
    attempt's generations become vacuumable orphans). Must be called
    under _MERGELOCK."""
    manifest = dict(commit_full["buckets"])
    stats_all = dict(commit_full.get("stats") or {})
    committed_schema = _union_schema(
        commit_full.get("schema"), prep["batch_schema"],
        _reserved_phys(commit_full),
    )
    for i in prep["touched"]:
        g = prep["new_gens"].get(str(i))
        if g is None:  # every row of this bucket deleted
            manifest.pop(str(i), None)
            stats_all.pop(str(i), None)
            continue
        manifest[str(i)] = g
        stats_all[str(i)] = prep["stats"][str(i)]
    touched_set = set(prep["touched"])
    dv_all = {
        k2: list(v2)
        for k2, v2 in (commit_full.get("dv") or {}).items()
        if int(k2) not in touched_set
    }
    # merge-on-read deltas of the touched buckets were FOLDED into the
    # new generations (the target slice reads through them), so their
    # refs clear here; untouched buckets carry theirs by reference
    deltas_all = {
        k2: [dict(d) for d in v2]
        for k2, v2 in (commit_full.get("deltas") or {}).items()
        if int(k2) not in touched_set
    }
    v = max([commit_full["v"]] + _list_versions(path)) + 1
    _commit(
        path, v, manifest, commit_full["n_buckets"], committed_schema,
        stats_all, op=op, dv=dv_all, deltas=deltas_all,
        dead_phys=commit_full.get("dead_phys"),
        base_full=commit_full, changed=set(prep["touched"]),
    )
    return v


def merge_scoped_versioned(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    now=None,
    deleted_col: str | None = None,
    merger=None,
    constraints: dict[str, str] | None = None,
) -> dict:
    """Bucket-scoped OP-MERGE with an atomic cross-bucket commit.

    Write cost ∝ batch (new generations only for the touched buckets);
    commit = one manifest + one pointer replace, so readers never see a
    half-merged table and every pre-merge version remains time-
    travelable. Concurrent mergers serialize on `_MERGELOCK` (the
    read-merge-commit sequence is order-dependent only in timestamps,
    so serializing preserves every batch; writers that want the merge
    WORK to overlap use `merge_scoped_versioned_occ`, which holds the
    lock only for commit validation); a merger that crashes after
    writing generations but before the pointer replace leaves only
    unreferenced orphan dirs — readers stay on the old version and
    `vacuum_bucket_versions` reclaims the orphans.

    Returns {version, n_buckets, buckets_touched, files_rewritten,
    bytes_rewritten}.
    """
    import fcntl

    with open(os.path.join(path, BUCKET_META)) as f:
        meta = json.load(f)
    lock = open(os.path.join(path, "_MERGELOCK"), "w")
    fcntl.flock(lock, fcntl.LOCK_EX)
    try:
        cur = latest_version(path)
        full = _load_manifest_full(path, cur)
        prep = _prepare_scoped_merge(
            spark, path, meta, full, updates, now=now,
            deleted_col=deleted_col, merger=merger, constraints=constraints,
        )
        if prep is None:
            return {
                "version": cur, "n_buckets": full["n_buckets"],
                "buckets_touched": 0, "files_rewritten": 0,
                "bytes_rewritten": 0,
            }
        v = _assemble_scoped_commit(path, full, prep, op="merge")
    finally:
        fcntl.flock(lock, fcntl.LOCK_UN)
        lock.close()
    return {
        "version": v, "n_buckets": full["n_buckets"],
        "buckets_touched": len(prep["touched"]),
        "files_rewritten": prep["files"], "bytes_rewritten": prep["bytes"],
    }


OCC_INTENT_DIR = "_occ_intents"
OCC_INTENT_TTL_S = 60.0
OCC_INTENT_POLL_S = 0.01


def _post_intent(path: str, buckets) -> str:
    """Advisory COMMIT INTENT: a tiny json file naming the buckets
    this writer is about to rewrite, posted BEFORE the expensive work
    phase. Later writers whose bucket sets intersect a live earlier
    intent wait at admission instead of burning a work phase they are
    guaranteed to lose. Purely advisory — OCC commit validation stays
    the correctness authority; a crashed writer's intent expires at
    OCC_INTENT_TTL_S and is unlinked by the next waiter. File names
    `intent-<ns-zero-padded>-<uuid>` give a total admission order
    (wait only for strictly-earlier conflicting intents -> acyclic,
    deadlock-free)."""
    d = os.path.join(path, OCC_INTENT_DIR)
    os.makedirs(d, exist_ok=True)
    name = f"intent-{time.time_ns():020d}-{uuid.uuid4().hex}.json"
    tmp = os.path.join(d, f".{name}.tmp")
    with open(tmp, "w") as f:
        json.dump({"buckets": sorted(int(b) for b in buckets)}, f)
    final = os.path.join(d, name)
    os.replace(tmp, final)
    return final


def _await_intent_turn(
    path: str,
    my_intent: str,
    my_buckets,
    ttl: float = OCC_INTENT_TTL_S,
    timeout: float | None = None,
) -> bool:
    """Block until no LIVE intent strictly earlier than `my_intent`
    names a bucket in `my_buckets` (or `timeout` elapses — then the
    writer proceeds optimistically and OCC sorts it out). Stale
    intents (older than ttl) never block and are reclaimed. Returns
    whether any waiting happened (metrics/tests)."""
    d = os.path.join(path, OCC_INTENT_DIR)
    my_name = os.path.basename(my_intent)
    mine = {int(b) for b in my_buckets}
    deadline = time.monotonic() + (timeout if timeout is not None else ttl)
    waited = False
    while True:
        blocked = False
        try:
            names = sorted(os.listdir(d))
        except FileNotFoundError:
            return waited
        for n in names:
            if not n.startswith("intent-") or n >= my_name:
                continue
            fp = os.path.join(d, n)
            try:
                ts_ns = int(n.split("-")[1])
            except (IndexError, ValueError):
                continue
            if time.time_ns() - ts_ns > ttl * 1e9:
                try:
                    os.unlink(fp)  # crashed writer: reclaim
                except OSError:
                    pass
                continue
            try:
                with open(fp) as f:
                    theirs = set(json.load(f)["buckets"])
            except (OSError, ValueError, KeyError):
                continue  # removed under us: its writer committed
            if theirs & mine:
                blocked = True
                break
        if not blocked or time.monotonic() >= deadline:
            return waited
        waited = True
        time.sleep(OCC_INTENT_POLL_S)


def merge_scoped_versioned_occ(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    now=None,
    deleted_col: str | None = None,
    merger=None,
    constraints: dict[str, str] | None = None,
    max_retries: int = 3,
    pre_commit_hook=None,
    reuse: bool = True,
    admission: bool | None = None,
    intent_ttl: float = OCC_INTENT_TTL_S,
) -> dict:
    """OPTIMISTIC concurrency for scoped merges — Delta/Iceberg's
    multi-writer commit protocol: the expensive phase (target read,
    merge join, constraint scan, generation writes) runs with NO lock
    held, so concurrent writers' Spark jobs genuinely overlap; only
    commit VALIDATION serializes (manifest arithmetic under
    `_MERGELOCK`, milliseconds). At validation:

    * nothing committed since the snapshot -> publish as usual;
    * intervening commits touched only DISJOINT buckets under the same
      layout -> REBASE: publish on the newest manifest, carrying its
      buckets/stats/DV refs and re-unioning its schema — sound because
      a scoped merge reads and writes ONLY its touched buckets, so the
      result equals running it after the intervening commits
      (serializable, the two-writer law test hash-proves it);
    * a touched bucket changed, or the layout changed (rebucket /
      reload) -> this attempt's generations are abandoned as
      vacuumable orphans and the merge RETRIES from the new snapshot
      (fresh target slice, so upsert semantics stay exact), up to
      `max_retries`; exhaustion raises `ConcurrentWriteConflict` with
      the table untouched.

    Why this matters at 100 TB: the serial path makes N concurrent
    nightly feeds take N x (read+join+write) wall-clock even when they
    touch disjoint buckets; under OCC their cluster work overlaps and
    only the pointer dance serializes. Same guarantees as the serial
    path otherwise (atomic cross-bucket commit, time travel, crash =
    orphans). `pre_commit_hook` is a test seam: called after the work
    phase, before the commit lock — the race-window injection the
    two-writer laws use.

    Returns the serial path's dict plus {rebased, attempts,
    buckets_reused}.

    RETRY REUSE (VERDICT r11 item 3): a loser does NOT redo its whole
    work phase. Its already-written generations are immutable and, for
    every touched bucket the winner did NOT move, content-identical to
    what a re-run from the new snapshot would produce (a scoped merge
    computes each bucket's generation from that bucket's target slice
    + that bucket's batch rows alone — both unchanged). So the retry
    CARRIES those generations (tracking the version through which each
    carried bucket is validated-unchanged) and recomputes only the
    conflicted buckets' slice of the batch. OCCBENCH's cow_overlap
    rung measured 0.7x serial with whole-work retries; reuse makes the
    redo ∝ conflicted buckets.

    ADMISSION (VERDICT r12 item 2): reuse cannot help when EVERY
    bucket conflicts (full overlap — the reuse set is empty by
    construction), so each loser still burns a whole work phase:
    cow_overlap measured 0.64x serial. The fix is contention-aware
    admission: before the work phase the writer posts an advisory
    COMMIT INTENT naming its buckets and waits for earlier live
    intents that intersect (total order by timestamp -> deadlock-
    free; TTL-bounded -> a crashed writer stalls others at most
    `intent_ttl`, never wedges). Fully-overlapping writers thus
    serialize at admission — wall ≈ serial, attempts ≈ 1, zero
    orphans — while disjoint writers still overlap completely.
    Advisory only: OCC validation remains the correctness authority,
    so a timed-out or raced admission degrades to the reuse-retry
    path, never to a wrong result. `admission=None` resolves to ON
    unless `pre_commit_hook` is set: the hook is the law tests' race-
    injection seam, and admission would serialize away the very race
    those tests construct (a barrier hook would deadlock against the
    wait).
    """
    with open(os.path.join(path, BUCKET_META)) as f:
        meta = json.load(f)
    intent = None
    if admission if admission is not None else pre_commit_hook is None:
        n_b = _root_n_buckets(path, latest_version(path))
        my_buckets = sorted(
            r[0]
            for r in updates.select(
                bucket_expr(meta["key"], n_b).alias("b")
            ).distinct().collect()
        )
        intent = _post_intent(path, my_buckets)
    try:
        return _merge_scoped_versioned_occ_loop(
            spark, path, updates, meta, now, deleted_col, merger,
            constraints, max_retries, pre_commit_hook, reuse,
            intent, my_buckets if intent else (), intent_ttl,
            touched_hint=(n_b, my_buckets) if intent else None,
        )
    finally:
        if intent is not None:
            try:
                os.unlink(intent)
            except OSError:
                pass


def _merge_scoped_versioned_occ_loop(
    spark, path, updates, meta, now, deleted_col, merger, constraints,
    max_retries, pre_commit_hook, reuse, intent, my_buckets, intent_ttl,
    touched_hint=None,
) -> dict:
    import fcntl

    attempts = 0
    # carried state from failed attempts: per-bucket generation (None
    # = the merge deleted every row of the bucket), stats, and the
    # batch-schema union; carry_v = the version through which every
    # carried bucket is proven unchanged
    carry_gens: dict[str, str | None] = {}
    carry_stats: dict[str, dict] = {}
    carry_schema: dict | None = None
    carry_v: int | None = None
    pending = updates
    while True:
        attempts += 1
        if intent is not None:
            # admission: take the snapshot only after earlier
            # conflicting intents clear, so the work phase runs
            # against a base those writers already committed into
            _await_intent_turn(path, intent, my_buckets, ttl=intent_ttl)
        base_v = latest_version(path)
        base_full = _load_manifest_full(path, base_v)
        prep = _prepare_scoped_merge(
            spark, path, meta, base_full, pending, now=now,
            deleted_col=deleted_col, merger=merger, constraints=constraints,
            # the admission collect doubles as the touched set, but
            # only while `pending` is still the whole original batch
            # (retries slice it down to the conflicted buckets)
            touched_hint=touched_hint if pending is updates else None,
        )
        if prep is None and not carry_gens:
            return {
                "version": base_v, "n_buckets": base_full["n_buckets"],
                "buckets_touched": 0, "files_rewritten": 0,
                "bytes_rewritten": 0, "rebased": False,
                "attempts": attempts, "buckets_reused": 0,
            }
        fresh_touched = set(prep["touched"]) if prep else set()
        batch_schema = (
            _union_schema(carry_schema, prep["batch_schema"], set())
            if prep is not None and carry_schema is not None
            else (prep["batch_schema"] if prep else carry_schema)
        )
        if pre_commit_hook is not None:
            pre_commit_hook()
        conflict = None
        full_reset = False
        retry_buckets: set[int] = set()
        lock = open(os.path.join(path, "_MERGELOCK"), "w")
        fcntl.flock(lock, fcntl.LOCK_EX)
        try:
            cur = latest_version(path)
            cur_full = (
                base_full if cur == base_v
                else _load_manifest_full(path, cur)
            )
            if cur_full["n_buckets"] != base_full["n_buckets"]:
                conflict = (
                    f"layout changed under the merge "
                    f"({base_full['n_buckets']} -> "
                    f"{cur_full['n_buckets']} buckets)"
                )
                full_reset = True
            else:
                changed_f = (
                    _changed_sig_buckets(base_full, cur_full)
                    & fresh_touched
                    if cur != base_v else set()
                )
                changed_c: set[int] = set()
                if carry_gens:
                    try:
                        carry_full = (
                            cur_full if carry_v == cur
                            else _load_manifest_full(path, carry_v)
                        )
                        changed_c = _changed_sig_buckets(
                            carry_full, cur_full
                        ) & {int(b) for b in carry_gens}
                    except FileNotFoundError:
                        # the carried snapshot was vacuumed between
                        # attempts: unprovable — drop the carry
                        conflict = (
                            f"carried snapshot v{carry_v} vacuumed "
                            "under the retry"
                        )
                        full_reset = True
                if conflict is None and (changed_f or changed_c):
                    conflict = (
                        f"buckets {sorted(changed_f | changed_c)} "
                        f"changed by a concurrent commit "
                        f"(v{base_v} -> v{cur})"
                    )
                    retry_buckets = set(changed_f) | set(changed_c)
                if conflict is None:
                    conflict = _mapping_drift(
                        cur_full, batch_schema,
                        prep.get("pmap") if prep else None,
                    )
                    if conflict is not None:
                        # a rename raced: carried generations may be
                        # physically mislabeled too — recompute all
                        full_reset = True
                if conflict is None:
                    combined = {
                        "touched": sorted(
                            fresh_touched
                            | {int(b) for b in carry_gens}
                        ),
                        "new_gens": {
                            **{
                                b: g for b, g in carry_gens.items()
                                if g is not None
                            },
                            **(prep["new_gens"] if prep else {}),
                        },
                        "stats": {
                            **carry_stats,
                            **(prep["stats"] if prep else {}),
                        },
                        "batch_schema": batch_schema,
                    }
                    v = _assemble_scoped_commit(path, cur_full, combined)
                    rebased = cur != base_v or bool(carry_gens)
        finally:
            fcntl.flock(lock, fcntl.LOCK_UN)
            lock.close()
        if conflict is None:
            committed_stats = [
                combined["stats"][str(i)]
                for i in combined["touched"]
                if str(i) in combined["new_gens"]
            ]
            return {
                "version": v, "n_buckets": base_full["n_buckets"],
                "buckets_touched": len(combined["touched"]),
                "files_rewritten": sum(
                    s.get("files", 1) for s in committed_stats
                ),
                "bytes_rewritten": sum(
                    s["bytes"] for s in committed_stats
                ),
                "rebased": rebased, "attempts": attempts,
                "buckets_reused": len(carry_gens),
            }
        if attempts > max_retries:
            raise ConcurrentWriteConflict(
                f"merge on {path} lost its commit race {attempts} times "
                f"(last: {conflict}); generations from the failed "
                "attempts are unreferenced orphans for vacuum"
            )
        if full_reset or not reuse:
            # `reuse=False` is the benchmark A/B switch: every retry
            # redoes the whole work phase (the pre-round-12 behavior)
            carry_gens, carry_stats = {}, {}
            carry_schema, carry_v = None, None
            pending = updates
            continue
        # carry forward every touched bucket the winner did NOT move;
        # recompute only the conflicted slice of the ORIGINAL batch
        new_carry: dict[str, str | None] = {}
        new_stats: dict[str, dict] = {}
        for b, g in carry_gens.items():
            if int(b) not in retry_buckets:
                new_carry[b] = g
                if b in carry_stats:
                    new_stats[b] = carry_stats[b]
        if prep is not None:
            for i in prep["touched"]:
                if int(i) in retry_buckets:
                    continue
                g = prep["new_gens"].get(str(i))
                new_carry[str(i)] = g
                if g is not None:
                    new_stats[str(i)] = prep["stats"][str(i)]
        carry_gens, carry_stats = new_carry, new_stats
        carry_schema = batch_schema
        carry_v = cur
        pending = updates.filter(
            bucket_expr(meta["key"], base_full["n_buckets"]).isin(
                sorted(retry_buckets)
            )
        )


def merge_scoped_versioned_mor(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    now=None,
    constraints: dict[str, str] | None = None,
    max_depth: int = 8,
    occ: bool = False,
    max_retries: int = 3,
    pre_commit_hook=None,
) -> dict:
    """MERGE-ON-READ upsert — the Delta deletion-vector / Iceberg
    merge-on-read WRITE economics for updates: the batch lands as a
    DELTA generation per touched bucket (write cost ∝ BATCH ROWS, no
    target read, no join, no bucket rewrite — the copy-on-write path
    rewrites every touched bucket whole, so a 1-row update to a 25 MB
    bucket costs 25 MB there and ~1 KB here), and reads reproduce
    upsert semantics through `_read_snapshot_slice`'s ordinal fold
    (per column, last non-null across base + deltas wins — exactly
    chained `merge_upsert`, including the audit-column rules; the
    equivalence law in tests/test_merge_versioned.py hash-compares a
    MOR table against a CoW clone at every version).

    What bounds the read-side debt:

    * a bucket's delta chain is capped at `max_depth`: a batch landing
      on a bucket already at the cap LEVELS it — that bucket (only)
      folds base+deltas+batch into a fresh base generation, LSM-style
      amortization, cost ∝ that bucket;
    * any copy-on-write merge / optimize / rebucket touching a bucket
      FOLDS its deltas and clears the refs; `compact_versioned` does
      it on demand;
    * value-predicate skipping degrades to bucket grain for
      delta-carrying buckets (the per-column fold makes sub-bucket
      skips unsound — prune_files routes them whole) and recovers at
      the next fold.

    Deletion-vector interplay: DV refs are ORDINAL-SCOPED ({"n", "d"}
    — a delete kills generations at ordinal <= d, the chain depth at
    its commit), so a MOR delta landing after a delete re-inserts by
    simply sitting above it, and a PARTIAL re-insert gets insert
    semantics: the dead base row's other columns never resurface
    through the fold (a bucket-global DV would either keep deleting
    the new row or, if subtracted, resurrect the whole old row — both
    diverge from the CoW result the equivalence law pins).

    CHECK constraints force a folded read of the touched slice (the
    constraint must see the EFFECTIVE merged row — a cross-column
    CHECK can be violated by the combination of old and new columns
    even when each side passes alone), so constrained tables keep CoW
    read costs on their merges; unconstrained tables get the pure
    batch-∝ write. Plain upsert only (unique bucket key): tables
    maintained by a custom `merger` or tombstone deletes keep the
    copy-on-write legs.

    `occ=True` runs the whole work phase (classification, constraint
    fold, generation writes, harvest, blooms) with NO lock held and
    validates at commit exactly like `merge_scoped_versioned_occ`:
    same-snapshot -> publish; bucket-signature-disjoint intervening
    commits -> REBASE onto the newest manifest (sound: disjointness
    means this merge's buckets — base, deltas AND DV refs — are
    untouched, so its delta appends and levelings compose with the
    winner's commit exactly as if run after it); overlap/layout ->
    retry from the fresh snapshot, exhaustion raises
    ConcurrentWriteConflict with only vacuumable orphans left. This
    is the concurrent-ingestion shape (N feeds MOR-appending all
    night): the serial lock would stack even their batch-∝ writes.

    SAME-BUCKET appends ORDINAL-COMPOSE instead of retrying (round-11:
    the append-only case is commutative): when every overlapping
    bucket took this writer's pure delta leg and the winner only
    EXTENDED that bucket's chain (base generation, DV refs and the
    delta prefix unchanged, chain below max_depth, no CHECK
    constraints), publishing on the winner's manifest appends this
    writer's deltas at the next ordinals — exactly the sequential
    loser-after-winner content, proven by the fold laws — with zero
    retries. Anything else (base moved, DV changed, leveling due,
    constraints) stays a hard conflict and retries as before.

    Returns {version, n_buckets, buckets_touched, delta_buckets,
    leveled_buckets, files_written, bytes_written, rebased, attempts,
    composed} — `composed` lists the buckets that ordinal-composed.
    """
    import fcntl

    with open(os.path.join(path, BUCKET_META)) as f:
        meta = json.load(f)
    key = meta["key"]
    attempts = 0
    while True:
        attempts += 1
        lock = None
        if not occ:
            lock = open(os.path.join(path, "_MERGELOCK"), "w")
            fcntl.flock(lock, fcntl.LOCK_EX)
        conflict = None
        composed: list = []
        try:
            result = _mor_attempt(
                spark, path, meta, updates, now, constraints, max_depth,
            )
            if result["empty"]:
                return {
                    "version": result["cur"],
                    "n_buckets": result["n_buckets"],
                    "buckets_touched": 0, "delta_buckets": 0,
                    "leveled_buckets": 0, "files_written": 0,
                    "bytes_written": 0, "rebased": False,
                    "attempts": attempts,
                }
            if occ:
                if pre_commit_hook is not None:
                    pre_commit_hook()
                lock = open(os.path.join(path, "_MERGELOCK"), "w")
                fcntl.flock(lock, fcntl.LOCK_EX)
                cur2 = latest_version(path)
                if cur2 == result["cur"]:
                    v = result["publish"](result["full"])
                    rebased = False
                else:
                    cur_full2 = _load_manifest_full(path, cur2)
                    if cur_full2["n_buckets"] != result["n_buckets"]:
                        conflict = (
                            f"layout changed under the merge "
                            f"({result['n_buckets']} -> "
                            f"{cur_full2['n_buckets']} buckets)"
                        )
                    else:
                        overlap = _changed_sig_buckets(
                            result["full"], cur_full2
                        ) & set(result["touched"])
                        hard = (
                            _mor_compose_conflicts(
                                result, cur_full2, overlap, max_depth
                            )
                            if overlap
                            else []
                        )
                        if hard:
                            conflict = (
                                f"buckets {hard} changed by "
                                f"a concurrent commit "
                                f"(v{result['cur']} -> v{cur2})"
                            )
                        elif (
                            drift := _mapping_drift(
                                cur_full2, result["batch_schema"],
                                result["pmap"],
                            )
                        ) is not None:
                            conflict = drift
                        else:
                            # disjoint buckets rebase as before;
                            # overlapping extension-only delta buckets
                            # ORDINAL-COMPOSE: publish(cur_full2)
                            # appends this writer's deltas above the
                            # winner's — the sequential outcome,
                            # without a retry
                            v = result["publish"](cur_full2)
                            rebased = True
                            composed = sorted(overlap)
            else:
                v = result["publish"](result["full"])
                rebased = False
        finally:
            if lock is not None:
                fcntl.flock(lock, fcntl.LOCK_UN)
                lock.close()
        if conflict is None:
            return {
                "version": v, "n_buckets": result["n_buckets"],
                "buckets_touched": len(result["touched"]),
                "delta_buckets": result["delta_buckets"],
                "leveled_buckets": result["leveled_buckets"],
                "files_written": result["files"],
                "bytes_written": result["bytes"],
                "rebased": rebased, "attempts": attempts,
                "composed": composed,
            }
        if attempts > max_retries:
            raise ConcurrentWriteConflict(
                f"MOR merge on {path} lost its commit race {attempts} "
                f"times (last: {conflict}); generations from the failed "
                "attempts are unreferenced orphans for vacuum"
            )


def _mor_compose_conflicts(
    result: dict, cur_full: dict, overlap: set, max_depth: int
) -> list:
    """Which overlapping buckets CANNOT ordinal-compose? Two MOR
    writers appending deltas to the SAME bucket are commutative-by-
    construction when the winner only EXTENDED the delta chain: this
    loser's delta simply takes the next ordinal above the winner's
    (exactly what publish(cur_full) assigns), which IS the sequential
    loser-after-winner outcome — for plain ordinal tables because the
    fold is last-non-null by ordinal and the delta content never
    depended on the snapshot, for keep-latest fold tables because the
    intrinsic comparator decides regardless of arrival order. A bucket
    stays a HARD conflict (retry from a fresh snapshot) when:

    * this writer wrote a BASE generation for it (absent-bucket or
      leveling leg — both computed a fold against the old snapshot);
    * the winner moved its base generation, changed its DV refs, or
      rewrote (rather than extended) its delta chain — the compose
      precondition is extension-only;
    * the winner filled the chain to max_depth — the bucket owes a
      leveling fold, which must see the real snapshot;
    * the table has CHECK constraints (the constraint fold ran against
      the pre-race snapshot; composing could commit a combination the
      check never saw).
    """
    if result.get("has_constraints"):
        return sorted(overlap)
    base_full = result["full"]
    mor_set = set(result.get("mor") or [])
    b_buckets = base_full["buckets"]
    c_buckets = cur_full["buckets"]
    b_dv = base_full.get("dv") or {}
    c_dv = cur_full.get("dv") or {}
    b_dl = base_full.get("deltas") or {}
    c_dl = cur_full.get("deltas") or {}
    hard = []
    for i in sorted(overlap):
        si = str(i)
        bd = [d["g"] for d in b_dl.get(si, [])]
        cd = [d["g"] for d in c_dl.get(si, [])]
        if (
            i not in mor_set
            or c_buckets.get(si) != b_buckets.get(si)
            or [_dv_ref(e) for e in c_dv.get(si, [])]
            != [_dv_ref(e) for e in b_dv.get(si, [])]
            or cd[: len(bd)] != bd
            or len(cd) >= max_depth
        ):
            hard.append(i)
    return hard


def _mor_attempt(
    spark: SparkSession,
    path: str,
    meta: dict,
    updates: DataFrame,
    now,
    constraints: dict[str, str] | None,
    max_depth: int,
) -> dict:
    """One MOR work pass against the current committed snapshot. All
    disk effects are unreferenced generation dirs (+ bloom sidecars
    inside them) until the returned `publish(commit_full)` closure
    assembles and commits a manifest — publish against the snapshot it
    was prepared on (serial / no-race OCC) or against a newer
    signature-disjoint manifest (OCC rebase)."""
    key = meta["key"]
    cur = latest_version(path)
    full = _load_manifest_full(path, cur)
    n_buckets = full["n_buckets"]
    manifest = full["buckets"]
    b = bucket_expr(key, n_buckets)
    touched = sorted(
        r[0]
        for r in updates.select(b.alias("__b")).distinct().collect()
    )
    if not touched:
        return {"empty": True, "cur": cur, "n_buckets": n_buckets}
    fold = meta.get("mor_fold")
    if fold:
        # keep-latest tables (recorded policy): rows are whole
        # events ranked by an intrinsic comparator at read time —
        # the batch lands verbatim, no audit stamping
        stamped = updates
    else:
        now_col = (
            F.lit(now).cast("timestamp") if now is not None
            else F.current_timestamp()
        )
        from .merge import AUDIT_COLS

        stamped = updates.select(
            key,
            *[
                c for c in updates.columns
                if c != key and c not in AUDIT_COLS
            ],
            now_col.alias("created_at"),
            now_col.alias("updated_at"),
        )
    batch_schema = _schema_of(stamped)
    # type-conflict check BEFORE any byte lands (publish re-unions
    # against whatever manifest it actually commits on)
    union0 = _union_schema(
        full.get("schema"), batch_schema, _reserved_phys(full)
    )
    pmap = _phys_map(union0)

    deltas_all = {
        k2: [dict(d) for d in v2]
        for k2, v2 in (full.get("deltas") or {}).items()
    }
    absent = [i for i in touched if str(i) not in manifest]
    capped = [
        i for i in touched
        if str(i) in manifest
        and len(deltas_all.get(str(i), [])) >= max_depth
    ]
    mor = [i for i in touched if i not in set(absent) | set(capped)]

    effective = dict(meta.get("constraints") or {})
    effective.update(constraints or {})
    if effective:
        # CHECK must see the EFFECTIVE merged rows: fold the
        # current touched slice under the batch (one read — the
        # price of constraints on a MOR table)
        target = _read_snapshot_slice(spark, path, full, touched, key)
        layered = stamped.withColumn("__ord", F.lit(1))
        if target is not None:
            for col, typ in [
                (f.name, f.dataType)
                for f in target.schema.fields
                if f.name not in stamped.columns
            ]:
                layered = layered.withColumn(
                    col, F.lit(None).cast(typ)
                )
            base_l = target.withColumn("__ord", F.lit(0))
            for col, typ in [
                (f.name, f.dataType)
                for f in stamped.schema.fields
                if f.name not in target.columns
            ]:
                base_l = base_l.withColumn(col, F.lit(None).cast(typ))
            layered = base_l.unionByName(layered)
        folded_eff = (
            _fold_rows(layered, fold) if fold
            else _fold_ordinals(layered, key)
        )
        _enforce_constraints(folded_eff, effective, path)

    files = bytes_ = 0

    # delta + absent legs: ONE generation-write job over the batch
    # rows only — this is the whole write cost for those buckets
    light = absent + mor
    new_gens: dict[str, str] = {}
    if light:
        # filter by the CAPPED complement: capped buckets are the
        # few at max_depth, while `light` can be thousands wide —
        # an isin over the small set keeps the plan literal-free
        part = (
            stamped.filter(~b.isin([int(i) for i in capped]))
            if capped
            else stamped
        )
        if fold:
            # fold tables: dedup the batch by the intrinsic
            # comparator BEFORE it lands — a raw batch can carry
            # several rows per composite key, and a base
            # generation (absent-bucket leg) is read on the
            # depth-0 fast path, which must be able to trust that
            # generations hold final-state rows. Also shrinks the
            # delta layers for free (what the CoW merger's window
            # would have discarded anyway).
            from .merge import keep_latest_merge

            part = keep_latest_merge(
                None, part,
                keys=list(fold["keys"]),
                order_by=[
                    F.desc(c) if str(d).lower() == "desc" else F.asc(c)
                    for c, d in fold["order_by"]
                ],
                allow_missing_columns=True,
            )
        new_gens = _write_generations(
            part, path, key, n_buckets, light, pmap=pmap
        )
    # leveling leg: capped buckets fold base+deltas+batch into a
    # fresh base generation (cost ∝ those buckets)
    leveled_gens: dict[str, str] = {}
    if capped:
        target_l = _read_snapshot_slice(spark, path, full, capped, key)
        batch_l = stamped.filter(b.isin([int(i) for i in capped]))
        if fold:
            from .merge import keep_latest_merge

            merged_l = keep_latest_merge(
                target_l, batch_l,
                keys=list(fold["keys"]),
                order_by=[
                    F.desc(c) if str(d).lower() == "desc" else F.asc(c)
                    for c, d in fold["order_by"]
                ],
                allow_missing_columns=True,
            )
        else:
            merged_l = merge_upsert(
                target_l, updates.filter(
                    b.isin([int(i) for i in capped])
                ), key=key, now=now,
            )
        leveled_gens = _write_generations(
            merged_l, path, key, n_buckets, capped, pmap=pmap
        )
    harvested: dict[str, dict] = {}
    for gens in (new_gens, leveled_gens):
        for i, g in gens.items():
            st = _harvest_stats(path, int(i), g)
            harvested[i] = st
            files += st["files"]
            bytes_ += st["bytes"]
    if meta.get("key_bloom") and (new_gens or leveled_gens):
        both = {**new_gens, **leveled_gens}
        _write_key_blooms(
            spark, path, key, both,
            {i: harvested[i] for i in both if i in harvested},
            n_buckets, **meta["key_bloom"],
        )

    def publish(commit_full: dict) -> int:
        """Assemble and commit this attempt on `commit_full` — the
        snapshot it was prepared on, or a newer signature-disjoint
        manifest (OCC rebase: the touched buckets' base/deltas/DV are
        unchanged by construction, so the appends and levelings
        compose as if run after the intervening commits). Must be
        called under _MERGELOCK. DV refs stay ORDINAL-SCOPED: a new
        delta re-inserting a deleted key simply sits above the DV —
        no subtraction, and a PARTIAL re-insert gets insert semantics
        (the dead base row's other columns stay dead, exactly the CoW
        result)."""
        manifest2 = dict(commit_full["buckets"])
        stats2 = dict(commit_full.get("stats") or {})
        deltas2 = {
            k2: [dict(d) for d in v2]
            for k2, v2 in (commit_full.get("deltas") or {}).items()
        }
        dv2 = {
            k2: list(v2)
            for k2, v2 in (commit_full.get("dv") or {}).items()
        }
        committed_schema = _union_schema(
            commit_full.get("schema"), batch_schema,
            _reserved_phys(commit_full),
        )
        absent_set = {str(a) for a in absent}
        for i, g in new_gens.items():
            if i in absent_set:
                manifest2[i] = g
                stats2[i] = harvested[i]
            else:
                deltas2.setdefault(i, []).append(
                    {"g": g, "stats": harvested[i]}
                )
        for i in capped:
            si = str(i)
            g = leveled_gens.get(si)
            if g is None:  # cannot happen for an upsert (no deletes)
                manifest2.pop(si, None)
                stats2.pop(si, None)
            else:
                manifest2[si] = g
                stats2[si] = harvested[si]
            deltas2.pop(si, None)  # folded into the new base
            dv2.pop(si, None)  # folded too (slice read DV-applied)
        v = max([commit_full["v"]] + _list_versions(path)) + 1
        _commit(
            path, v, manifest2, n_buckets, committed_schema, stats2,
            op="merge-mor", dv=dv2, deltas=deltas2,
            dead_phys=commit_full.get("dead_phys"),
            base_full=commit_full, changed=set(touched),
        )
        return v

    return {
        "empty": False,
        "cur": cur,
        "full": full,
        "n_buckets": n_buckets,
        "touched": touched,
        "mor": mor,  # the pure delta-append legs (compose candidates)
        "has_constraints": bool(effective),
        "batch_schema": batch_schema,
        "pmap": pmap,
        "delta_buckets": len(mor) + len(absent),
        "leveled_buckets": len(capped),
        "files": files,
        "bytes": bytes_,
        "publish": publish,
    }


def alter_bucket_table_versioned(
    path: str,
    rename: dict[str, str] | None = None,
    drop: list[str] | None = None,
) -> dict:
    """RENAME / DROP COLUMN without touching a data file — Delta's
    column-mapping (name mode) economics: one metadata-only commit.

    A renamed column keeps its birth-time PHYSICAL name (recorded in
    the schema field metadata as "phys"); every read runs the scan
    under the physical schema and projects to logical names
    (`_read_dirs`), every write projects back (`_write_generations`),
    and stats pruning translates predicates — so rename costs one
    manifest, not a table rewrite. A dropped column simply leaves the
    schema; its bytes linger in old files, unread, and its physical
    name goes into the manifest's `dead_phys` reservation: a later
    merge may NOT add a column whose name collides with a dead or
    renamed-away physical name (SchemaConflict — reusing it would read
    the old column's bytes into the new one; a full reload rewrites
    files and clears mappings, freeing the names).

    Time travel is exact: pre-alter versions read under their own
    schemas with the old names. The change feed across an alter
    boundary reports a rename as drop+add (name-mode mapping has no
    column identity across versions — Delta's CDF has the same shape).

    Guard rails: the bucket KEY is not renameable/droppable (bucketing,
    point lookups and DVs are keyed on it); columns referenced by
    recorded CHECK constraints or the mor_fold policy must be released
    from those first (raise). Returns {version, schema_columns}.
    """
    import fcntl
    import re

    rename = dict(rename or {})
    drop = list(drop or [])
    if not rename and not drop:
        raise ValueError("alter: nothing to do (no rename, no drop)")
    with open(os.path.join(path, BUCKET_META)) as f:
        meta = json.load(f)
    key = meta["key"]
    touched_cols = set(rename) | set(drop)
    if key in touched_cols:
        raise ValueError(
            f"alter may not rename or drop the bucket key {key!r}"
        )
    for cname, expr in (meta.get("constraints") or {}).items():
        hit = sorted(
            c for c in touched_cols
            if re.search(rf"\b{re.escape(c)}\b", expr)
        )
        if hit:
            raise ValueError(
                f"alter touches column(s) {hit} referenced by CHECK "
                f"constraint {cname!r} ({expr!r}) — update or clear "
                "the constraint first (reload with constraints=...)"
            )
    fold = meta.get("mor_fold")
    if fold:
        fold_cols = set(fold.get("keys", [])) | {
            c for c, _d in fold.get("order_by", [])
        }
        hit = sorted(touched_cols & fold_cols)
        if hit:
            raise ValueError(
                f"alter touches column(s) {hit} referenced by the "
                "mor_fold policy — not renameable in place"
            )
    lock = open(os.path.join(path, "_MERGELOCK"), "w")
    fcntl.flock(lock, fcntl.LOCK_EX)
    try:
        cur = latest_version(path)
        full = _load_manifest_full(path, cur)
        schema = full.get("schema")
        if schema is None:
            raise ValueError(
                f"alter needs a recorded schema on {path} (tables "
                "written before schema recording must reload first)"
            )
        names = {f["name"] for f in schema["fields"]}
        missing = sorted(touched_cols - names)
        if missing:
            raise ValueError(f"alter: no such column(s) {missing}")
        taken = (names - set(drop) - set(rename)) | set(rename.values())
        if len(taken) != len(names) - len(drop):
            raise ValueError(
                f"alter: rename targets collide with existing columns "
                f"({sorted(set(rename.values()) & (names - set(rename)))})"
            )
        dead = set(full.get("dead_phys") or [])
        new_fields = []
        for f in schema["fields"]:
            phys = (f.get("metadata") or {}).get("phys") or f["name"]
            if f["name"] in drop:
                dead.add(phys)
                continue
            if f["name"] in rename:
                f = {
                    **f,
                    "name": rename[f["name"]],
                    "metadata": {
                        **(f.get("metadata") or {}), "phys": phys,
                    },
                }
            new_fields.append(f)
        new_schema = {**schema, "fields": new_fields}
        v = max([cur] + _list_versions(path)) + 1
        _commit(
            path, v, dict(full["buckets"]), full["n_buckets"],
            new_schema, full.get("stats"),
            op="alter:" + ",".join(
                [f"{a}->{b}" for a, b in sorted(rename.items())]
                + [f"-{c}" for c in sorted(drop)]
            ),
            dv=full.get("dv"), deltas=full.get("deltas"),
            dead_phys=sorted(dead),
            # metadata-only: every bucket entry is byte-identical, so a
            # sharded manifest reuses EVERY shard file (root only)
            base_full=full, changed=set(),
        )
    finally:
        fcntl.flock(lock, fcntl.LOCK_UN)
        lock.close()
    return {"version": v, "schema_columns": len(new_fields)}


def shard_manifest_versioned(
    path: str, shard_size: int = DEFAULT_SHARD_SIZE
) -> dict:
    """Migrate a table's manifest layout to SHARDED (format 2) — or
    back to monolithic with `shard_size=0` — as one metadata-only
    commit: no data file moves, no generation rewrites, and the
    committed content is byte-for-byte the same table (the
    content-neutrality law in tests/test_merge_versioned.py
    hash-compares across the boundary). Older versions stay readable
    under the format they were written with; every LATER commit
    inherits the recorded policy from the table meta.

    Why: a monolithic full-snapshot manifest costs O(table width) to
    write per commit and to parse per plan — at 4096 buckets that was
    ~1.9 MB/commit and 564 MB over 300 commits (MANIFESTBENCH_4096).
    Sharded, a commit writes the small root plus only the shards its
    touched buckets live in (unchanged shards carry as the same
    content-addressed file), and point lookups / bounded scans load
    O(touched) shards. This is Iceberg's manifest-list / Delta's
    checkpoint answer, applied at the bucket-range grain.

    Returns {version, shard_size, shards}."""
    import fcntl

    if shard_size < 0:
        raise ValueError(f"shard_size must be >= 0, got {shard_size}")
    meta_path = os.path.join(path, BUCKET_META)
    lock = open(os.path.join(path, "_MERGELOCK"), "w")
    fcntl.flock(lock, fcntl.LOCK_EX)
    try:
        with open(meta_path) as f:
            meta = json.load(f)
        cur = latest_version(path)
        full = _load_manifest_full(path, cur)
        # record the policy FIRST (under the lock): _write_manifest
        # resolves the format from the meta at commit time. A crash
        # between the meta write and the commit is benign — the table
        # stays on `cur` and the next commit simply writes the new
        # format.
        meta["manifest_shard_size"] = int(shard_size)
        tmp = f"{meta_path}.tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, meta_path)
        v = max([cur] + _list_versions(path)) + 1
        _commit(
            path, v, dict(full["buckets"]), full["n_buckets"],
            full.get("schema"), full.get("stats"),
            op=f"shard-manifest:{shard_size}",
            dv=full.get("dv"), deltas=full.get("deltas"),
            dead_phys=full.get("dead_phys"),
        )
        root = _load_root(path, v)
    finally:
        fcntl.flock(lock, fcntl.LOCK_UN)
        lock.close()
    return {
        "version": v,
        "shard_size": shard_size,
        "shards": len(root.get("shards") or {}),
    }


def compact_versioned(
    spark: SparkSession, path: str, buckets: list[int] | None = None
) -> dict:
    """Fold merge-on-read DELTAS and DELETION VECTORS into fresh base
    generations — one content-neutral committed version (the law test
    hash-compares before/after), restoring single-generation reads
    and sub-bucket data skipping for the folded buckets. Default
    scope: every bucket that currently carries deltas or DV refs
    (cost ∝ the un-compacted subset, untouched buckets carried by
    manifest reference — the incremental cadence a 100 TB table runs
    off-peak, exactly Delta's REORG/OPTIMIZE shape for DV tables).
    Returns {version, buckets_compacted}."""
    import fcntl

    with open(os.path.join(path, BUCKET_META)) as f:
        meta = json.load(f)
    key = meta["key"]
    lock = open(os.path.join(path, "_MERGELOCK"), "w")
    fcntl.flock(lock, fcntl.LOCK_EX)
    try:
        cur = latest_version(path)
        full = _load_manifest_full(path, cur)
        n_buckets = full["n_buckets"]
        manifest = dict(full["buckets"])
        dirty = sorted(
            {int(i) for i in (full.get("deltas") or {})}
            | {int(i) for i in (full.get("dv") or {}) if i in manifest}
        )
        # default scope: dirty buckets only. An EXPLICIT bucket list
        # folds those buckets regardless of dirtiness — the re-pack /
        # re-layout hook (a clean bucket rewrites content-neutrally),
        # e.g. compacting every bucket of a packed table that drifted
        # into many classic generations back into one pack.
        target = (
            dirty if buckets is None
            else sorted(
                {int(i) for i in buckets}
                & {int(i) for i in manifest}
            )
        )
        if not target:
            return {"version": cur, "buckets_compacted": 0}
        folded = _read_snapshot_slice(spark, path, full, target, key)
        gens = (
            _write_generations(
                folded, path, key, n_buckets, target,
                pmap=_phys_map(full.get("schema")),
                # a compaction covering EVERY bucket is the re-pack
                # opportunity for a packed table that drifted into
                # many classic generations
                packed=(
                    set(str(i) for i in target) == set(full["buckets"])
                    and _packed_base_for(path, n_buckets)
                ),
                pack_target_bytes=_pack_target_from_meta(meta),
            )
            if folded is not None
            else {}
        )
        stats_all = dict(full.get("stats") or {})
        for i in target:
            si = str(i)
            g = gens.get(si)
            if g is None:  # every row of the bucket was DV-deleted
                manifest.pop(si, None)
                stats_all.pop(si, None)
            else:
                manifest[si] = g
                stats_all[si] = _harvest_stats(path, i, g)
        if meta.get("key_bloom") and gens:
            _write_key_blooms(
                spark, path, key, gens,
                {i: stats_all[i] for i in gens if i in stats_all},
                n_buckets, **meta["key_bloom"],
            )
        tset = {str(i) for i in target}
        dv_all = {
            k2: list(v2)
            for k2, v2 in (full.get("dv") or {}).items()
            if k2 not in tset
        }
        deltas_all = {
            k2: [dict(d) for d in v2]
            for k2, v2 in (full.get("deltas") or {}).items()
            if k2 not in tset
        }
        v = max([cur] + _list_versions(path)) + 1
        _commit(
            path, v, manifest, n_buckets, full.get("schema"), stats_all,
            op="compact", dv=dv_all, deltas=deltas_all,
            dead_phys=full.get("dead_phys"),
            base_full=full, changed=set(target),
        )
    finally:
        fcntl.flock(lock, fcntl.LOCK_UN)
        lock.close()
    return {"version": v, "buckets_compacted": len(target)}


REPACK_THRESHOLD = 0.4


def pack_decay(path: str, version: int | None = None) -> dict:
    """Decay report for a table's full-scan path economics, computed
    from one manifest load — no listing, no Spark. A scoped merge
    moves each touched bucket OUT of its pack (into a classic dir), so
    after H distinct-bucket rewrites a full scan plans over
    packs + H roots; past 50% supersession of a pack the planner
    additionally decays that pack from one dir root to per-live-file
    paths (test_packed_heavy_supersession) and the scan is O(width)
    again. `decayed_frac` (classic buckets / width) is the number
    repack_if_decayed thresholds on; `plan_paths` is what Spark's
    reader will actually be handed (~200 us of InMemoryFileIndex cost
    per root path — the round-12 measured constant)."""
    v = latest_version(path) if version is None else version
    full = _load_manifest_full(path, v)
    manifest = full["buckets"]
    n = int(full["n_buckets"])
    classic = sum(1 for g in manifest.values() if not g.startswith("@"))
    cl, pk, _excl = _plan_base_paths(path, full, sorted(manifest))
    return {
        "version": v,
        "n_buckets": n,
        "classic_buckets": classic,
        "decayed_frac": round(classic / n, 4) if n else 0.0,
        "plan_paths": len(cl) + len(pk),
        "packs": len({
            _pack_name_of(g)
            for g in manifest.values()
            if g.startswith("@")
        }),
    }


def repack_if_decayed(
    spark: SparkSession,
    path: str,
    threshold: float = REPACK_THRESHOLD,
) -> dict:
    """Maintenance hook that keeps full-scan path counts
    O(packs + recent rewrites) over ANY history length: when the
    fraction of buckets no longer served from a pack crosses
    `threshold`, fold EVERY bucket back into one fresh pack
    (compact_versioned with the explicit full bucket list — one
    content-neutral commit); below it, a metadata-only no-op.

    Economics of the default: re-packing every threshold*width
    distinct-bucket rewrites costs one full-table rewrite, i.e. an
    amortized 1/threshold write amplification on the natural merge
    rate — 2.5x at 0.4 — in exchange for a plan that never exceeds
    packs + threshold*width roots. The ceiling matters because the
    planner's per-pack dir-vs-files decision cliffs at 50%
    supersession (the O(width) per-file fallback); 0.4 keeps an
    epoch's drift safely under that cliff. Non-packed tables (and
    sub-threshold packed ones) return {repacked: False} untouched —
    safe to call on every maintenance cadence, the GCBENCH shape.

    Returns pack_decay() of the resulting state plus {repacked,
    buckets_compacted}."""
    d = pack_decay(path)
    if (
        not _packed_base_for(path, d["n_buckets"])
        or d["decayed_frac"] < threshold
    ):
        return {**d, "repacked": False, "buckets_compacted": 0}
    full = _load_manifest_full(path, d["version"])
    res = compact_versioned(
        spark, path, buckets=sorted(int(i) for i in full["buckets"])
    )
    return {
        **pack_decay(path),
        "repacked": True,
        "buckets_compacted": res["buckets_compacted"],
    }


def rebucket_versioned(
    spark: SparkSession, path: str, new_n_buckets: int
) -> dict:
    """Online layout migration: re-hash the table into `new_n_buckets`
    buckets as ONE committed version — zero downtime, content-neutral.

    The decade bench (MERGEBENCH_4096.json) shows why this must exist:
    n_buckets ∝ table size keeps per-bucket size constant, so a table
    that grew 10x wants 10x the buckets — but the bucket count is
    baked into every directory name. With the versioned layout the
    migration is just another commit: read the current snapshot, write
    generations under the NEW hash modulus (generation names are
    content-addressed uuids, so the two layouts coexist under the same
    bucket=<i> dirs without collision), publish a manifest carrying
    the new n_buckets, flip the pointer. Readers on the old version
    keep resolving the old layout; merges after the commit scope under
    the new one; vacuum reclaims the old layout's generations once its
    manifests age out. A crash before the pointer flip leaves only
    unreferenced orphans. Cost: one full-table rewrite — the floor for
    a hash-modulus change — committed atomically instead of in place.

    Returns {version, n_buckets_before, n_buckets_after,
    buckets_written}.
    """
    import fcntl
    import json as _json

    with open(os.path.join(path, BUCKET_META)) as f:
        meta = _json.load(f)
    key = meta["key"]
    lock = open(os.path.join(path, "_MERGELOCK"), "w")
    fcntl.flock(lock, fcntl.LOCK_EX)
    try:
        cur = latest_version(path)
        full = _load_manifest_full(path, cur)
        old_n = full["n_buckets"]
        if old_n == new_n_buckets:
            return {
                "version": cur, "n_buckets_before": old_n,
                "n_buckets_after": old_n, "buckets_written": 0,
            }
        if not full["buckets"]:
            # empty table (metadata-only init): the migration is a pure
            # manifest commit under the new layout — no Spark job
            gens, stats = {}, {}
        else:
            # the snapshot reads THROUGH deltas and DVs (the rewrite
            # folds both; the new manifest carries neither)
            snapshot = _read_snapshot_slice(
                spark, path, full, sorted(full["buckets"]), key
            )
            gens = _write_generations(
                snapshot, path, key, new_n_buckets,
                pmap=_phys_map(full.get("schema")),
                packed=_packed_base_for(path, new_n_buckets),
                pack_target_bytes=_pack_target_from_meta(meta),
            )
            stats = {i: _harvest_stats(path, i, g) for i, g in gens.items()}
            if meta.get("key_bloom"):
                _write_key_blooms(
                    spark, path, key, gens, stats, new_n_buckets,
                    **meta["key_bloom"],
                )
        v = max([cur] + _list_versions(path)) + 1
        _commit(
            path, v, gens, new_n_buckets,
            # the snapshot frame is LOGICAL; keep the committed schema
            # (phys metadata included — the rewrite wrote physical
            # names) rather than deriving a mapping-less one from it
            full.get("schema") if full.get("schema") is not None
            else (_schema_of(snapshot) if full["buckets"] else None),
            stats,
            op="rebucket",
            dead_phys=full.get("dead_phys"),
        )
        # refresh the meta hint (readers/mergers resolve the layout
        # from the manifest; the meta records the key and the LATEST
        # layout) — preserving every OTHER recorded field: dropping
        # `constraints` here would silently disable table-level CHECK
        # enforcement for all later merges
        new_meta = dict(meta)
        new_meta["n_buckets"] = new_n_buckets
        tmp_meta = os.path.join(
            path, f"{BUCKET_META}.tmp-{uuid.uuid4().hex[:8]}"
        )
        with open(tmp_meta, "w") as f:
            _json.dump(new_meta, f)
        os.replace(tmp_meta, os.path.join(path, BUCKET_META))
    finally:
        fcntl.flock(lock, fcntl.LOCK_UN)
        lock.close()
    return {
        "version": v, "n_buckets_before": old_n,
        "n_buckets_after": new_n_buckets,
        "buckets_written": len(gens),
    }


def _ledger_bounds(full: dict, column: str) -> tuple | None:
    """Global (lo, hi) of a numeric column across the manifest's stats
    ledger — pure manifest arithmetic. None when any bucket lacks
    usable numeric stats for it (the z-order quantizer then falls back
    to a one-job aggregate)."""
    lo = hi = None
    stats = full.get("stats") or {}
    column = _phys_map(full.get("schema")).get(column, column)
    for i in full["buckets"]:
        s = (stats.get(i) or {}).get("cols", {}).get(column)
        if s is None or s.get("t") not in ("num",):
            return None
        lo = s["lo"] if lo is None else min(lo, s["lo"])
        hi = s["hi"] if hi is None else max(hi, s["hi"])
    return None if lo is None else (lo, hi)


def _zorder_column(
    df: DataFrame, full: dict, cluster_by: list[str], bits: int
) -> F.Column:
    """Morton z-value over the cluster columns, quantized to `bits`
    per dimension using ledger-global bounds (one manifest pass; an
    aggregate job only when the ledger lacks a column's bounds).
    Interleaving gives every dimension equal stats selectivity, so a
    box predicate on ANY subset of the columns prunes — lexicographic
    sort gives the first column everything and the rest nothing."""
    qcols = []
    need_agg = [
        c for c in cluster_by if _ledger_bounds(full, c) is None
    ]
    agg_bounds = {}
    if need_agg:
        row = df.agg(
            *[F.min(c).alias(f"lo_{c}") for c in need_agg],
            *[F.max(c).alias(f"hi_{c}") for c in need_agg],
        ).collect()[0]
        agg_bounds = {
            c: (row[f"lo_{c}"], row[f"hi_{c}"]) for c in need_agg
        }
    for c in cluster_by:
        lo, hi = agg_bounds.get(c) or _ledger_bounds(full, c)
        if lo is None or hi is None:
            # an entirely-null column (the agg fallback returns null
            # bounds): every row quantizes to 0 — the dimension simply
            # contributes no selectivity, content neutrality unharmed
            span = 0.0
        else:
            span = float(hi) - float(lo)
        if span <= 0:
            q = F.lit(0).cast("bigint")
        else:
            q = F.least(
                F.lit((1 << bits) - 1),
                F.greatest(
                    F.lit(0),
                    (
                        (F.col(c).cast("double") - F.lit(float(lo)))
                        / F.lit(span)
                        * F.lit(float((1 << bits) - 1))
                    ).cast("bigint"),
                ),
            )
        qcols.append(q)
    if len(qcols) == 1:
        return qcols[0]
    # bit-interleave the quantizers round-robin (Morton code; for 2
    # dims this is exactly layout.zorder_expr_spark's interleave,
    # expressed over Column quantizers instead of named columns).
    # NB: Column.__or__ is LOGICAL or — bit assembly must go through
    # bitwiseOR.
    parts = None
    d = len(qcols)
    for i in range(bits):
        for j, q in enumerate(qcols):
            p = F.shiftleft(
                F.shiftright(q, i).bitwiseAND(F.lit(1)), i * d + j
            )
            parts = p if parts is None else parts.bitwiseOR(p)
    return parts


def optimize_versioned(
    spark: SparkSession,
    path: str,
    cluster_by: list[str],
    files_per_bucket: int = 8,
    rows_per_file: int | None = None,
    buckets: list[int] | None = None,
    zorder: bool = False,
    zorder_bits: int = 8,
) -> dict:
    """OPTIMIZE ... ZORDER/CLUSTER BY economics for the versioned
    table: a content-neutral committed version whose generations are
    SORTED by `cluster_by` within each bucket and rolled into
    ~`files_per_bucket` files per bucket, so per-file footer min/max
    become selective for value-range predicates. The hash layout
    spreads every value range across all buckets (bucket-generation
    stats prune ~nothing for a value band — SCALE.md "hash layout
    honesty"); clustering restores skipping one level down: the file
    ledger ("fs" in the manifest stats) lets `prune_files` drop the
    files whose sorted range cannot overlap the predicate, reading
    ~1/files_per_bucket of each bucket for a narrow band.

    Same commit discipline as rebucket: read the snapshot, write new
    generations (immutable, content-addressed names), publish ONE
    manifest + pointer — readers on the old version are untouched, a
    crash leaves only unreferenced orphans, and the operation is
    content-neutral by law (tests/test_merge_versioned.py). Later
    merges rewrite touched buckets with ordinary single-file
    generations — their file pruning degrades to bucket-grain (absent
    ledger never skips), results stay exact, and a periodic
    re-optimize restores clustering: exactly Delta's OPTIMIZE cadence.

    `buckets` restricts the rewrite to a subset (incremental
    clustering: cost ∝ subset, untouched buckets carried by manifest
    reference) — the knob a 100 TB table uses to re-cluster only the
    buckets recent merges de-clustered. `rows_per_file` overrides the
    row budget (default: bucket rows / files_per_bucket from the
    stats ledger). Reference semantics to beat: the reference has no
    layout management at all (mongodb_handler.py relies on a BTree
    index); Delta OPTIMIZE is the real contract here.

    `zorder=True` (multi-column only) sorts by a Morton interleave of
    the cluster columns — quantized against ledger-global bounds, so
    usually zero extra jobs — instead of lexicographically: every
    dimension gets equal per-file stats selectivity, so a box
    predicate on ANY subset of the columns prunes, where the
    lexicographic sort gives the first column everything and later
    columns nothing (Delta's ZORDER BY vs a plain ORDER BY — the law
    test measures the difference directly).

    Returns {version, buckets_written, files_written, rows_per_file}.
    """
    import fcntl
    import math

    with open(os.path.join(path, BUCKET_META)) as f:
        meta = json.load(f)
    key = meta["key"]
    lock = open(os.path.join(path, "_MERGELOCK"), "w")
    fcntl.flock(lock, fcntl.LOCK_EX)
    try:
        cur = latest_version(path)
        full = _load_manifest_full(path, cur)
        n_buckets = full["n_buckets"]
        manifest = dict(full["buckets"])
        target = (
            sorted(manifest) if buckets is None
            else [str(i) for i in buckets if str(i) in manifest]
        )
        if not target:
            return {
                "version": cur, "buckets_written": 0, "files_written": 0,
                "rows_per_file": None,
            }
        if rows_per_file is None:
            stats0 = full.get("stats") or {}
            known = [
                stats0[i]["rows"] for i in target
                if i in stats0 and "rows" in stats0[i]
            ]
            if known:
                per_bucket = max(known)  # size to the fattest bucket
            else:
                per_bucket = math.ceil(
                    read_bucket_table_versioned(spark, path, cur).count()
                    / max(len(manifest), 1)
                )
            rows_per_file = max(1, math.ceil(per_bucket / files_per_bucket))
        # the slice reads THROUGH deltas and DVs (the clustered rewrite
        # folds both — the commit clears their refs for these buckets)
        slice_df = _read_snapshot_slice(spark, path, full, target, key)
        if zorder and len(cluster_by) > 1:
            sort_key = [_zorder_column(
                slice_df, full, list(cluster_by), zorder_bits
            )]
        else:
            sort_key = list(cluster_by)
        new_gens = _write_generations(
            slice_df, path, key, n_buckets,
            buckets=[int(i) for i in target],
            sort_by=sort_key,
            max_records_per_file=rows_per_file,
            pmap=_phys_map(full.get("schema")),
        )
        stats_all = dict(full.get("stats") or {})
        files = 0
        for i in target:
            g = new_gens.get(i)
            if g is None:  # a targeted bucket had rows; must reappear
                raise RuntimeError(
                    f"optimize dropped bucket {i} of {path}: "
                    "content-neutral rewrite produced no generation"
                )
            manifest[i] = g
            st = _harvest_stats(path, int(i), g)
            stats_all[i] = st
            files += st["files"]
        if meta.get("key_bloom") and new_gens:
            _write_key_blooms(
                spark, path, key, new_gens,
                {i: stats_all[i] for i in new_gens if i in stats_all},
                n_buckets, **meta["key_bloom"],
            )
        dv_all = {
            k2: list(v2)
            for k2, v2 in (full.get("dv") or {}).items()
            if k2 not in set(target)
        }
        deltas_all = {
            k2: [dict(d) for d in v2]
            for k2, v2 in (full.get("deltas") or {}).items()
            if k2 not in set(target)
        }
        v = max([cur] + _list_versions(path)) + 1
        _commit(
            path, v, manifest, n_buckets,
            full.get("schema") or _schema_of(slice_df), stats_all,
            op=(
                f"optimize-z:{','.join(cluster_by)}" if zorder
                and len(cluster_by) > 1
                else f"optimize:{','.join(cluster_by)}"
            ),
            dv=dv_all, deltas=deltas_all,
            dead_phys=full.get("dead_phys"),
            base_full=full, changed=set(target),
        )
    finally:
        fcntl.flock(lock, fcntl.LOCK_UN)
        lock.close()
    return {
        "version": v,
        "buckets_written": len(target),
        "files_written": files,
        "rows_per_file": rows_per_file,
    }


def read_bucket_table_versioned(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Read the committed snapshot, or a pinned `version` (time
    travel). One manifest resolves to one consistent generation set —
    a concurrent merge's commit flips the whole table at once."""
    v = _resolve_version(path, version)
    full = _load_manifest_full(path, v)
    manifest = full["buckets"]
    if not manifest:
        raise FileNotFoundError(f"version {v} of {path} is empty")
    with open(os.path.join(path, BUCKET_META)) as f:
        key = json.load(f)["key"]
    return _read_snapshot_slice(spark, path, full, sorted(manifest), key)


def read_bucket_for_key_versioned(
    spark: SparkSession, path: str, value, version: int | None = None
) -> DataFrame | None:
    """Point lookup: prune to the ONE generation dir that can hold
    `value` under the pinned (or latest) version. On a sharded
    manifest this loads the root plus the single shard the bucket
    lives in — O(1) in table width, the format-2 design point."""
    with open(os.path.join(path, BUCKET_META)) as f:
        meta = json.load(f)
    v = _resolve_version(path, version)
    from .merge import bucket_of_value

    root = _load_root(path, v)
    bid = bucket_of_value(spark, value, root["n_buckets"])
    full = _slice_from_root(path, root, [bid])
    manifest = full["buckets"]
    g = manifest.get(str(bid))
    if g is None:
        return None

    def _key_stats_exclude(st: dict | None) -> bool:
        # a generation's key min/max proving the value absent means it
        # contributes NO row of this key — droppable from the lookup
        s = (st or {}).get("cols", {}).get(meta["key"])
        if s is None:
            return False
        if s["t"] == "null":
            return True
        cv = _coerce_bound(s["t"], value)
        if cv is None:
            return False
        slo, shi = s["lo"], s["hi"]
        if s["t"] == "dec":
            import decimal

            slo, shi = decimal.Decimal(slo), decimal.Decimal(shi)
        return cv < slo or cv > shi

    from pyspark.sql.types import StructType

    stored = full.get("schema")  # reuse the loaded manifest
    # DELETION VECTORS are ordinal-scoped: a hit at depth d proves the
    # key absent from every generation with ordinal <= d (for a table
    # without merge-on-read deltas that is the whole bucket — the old
    # definite-miss short circuit); generations ABOVE the deepest hit
    # may hold a legitimate re-insert and stay in the lookup
    dv_gate = -1  # ordinals <= dv_gate are dead for this key
    dv_refs = [
        _dv_ref(e) for e in (full.get("dv") or {}).get(str(bid), [])
    ]
    if dv_refs:
        probe = None
        for n, d in sorted(dv_refs):
            part = (
                spark.read.parquet(f"{path}/{n}")
                .filter(
                    (F.col(meta["key"]) == F.lit(value))
                    & (F.col("__dv_bucket") == F.lit(int(bid)))
                )
                .select(F.lit(d).alias("__d"))
            )
            probe = part if probe is None else probe.unionByName(part)
        hits = [r["__d"] for r in probe.collect()]
        if hits:
            dv_gate = max(hits)
    ktype = None
    if meta.get("key_bloom") and stored is not None:
        ktype = next(
            (
                f.dataType
                for f in StructType.fromJson(stored).fields
                if f.name == meta["key"]
            ),
            None,
        )
    # every generation of the bucket — base + merge-on-read deltas —
    # is short-circuited INDEPENDENTLY: footer key bounds prove misses
    # outside [lo, hi], the key-bloom sidecar (when the table opted
    # in; probe cast to the committed key type — xxhash64 is
    # type-sensitive) proves misses inside it, both without opening a
    # data page. A generation proven key-free contributes nothing and
    # drops from the read; all generations proven key-free = a
    # definite miss.
    gens = [(
        _gen_data_path(path, bid, g), 0,
        (full.get("stats") or {}).get(str(bid)),
    )]
    for j, d in enumerate((full.get("deltas") or {}).get(str(bid), [])):
        gens.append((f"{path}/bucket={bid}/{d['g']}", j + 1, d.get("stats")))
    live = []
    for gdir, ordn, st in gens:
        if ordn <= dv_gate:
            continue  # DV-deleted at this ordinal: dead for this key
        if _key_stats_exclude(st):
            continue
        if ktype is not None and _bloom_proves_absent(
            spark, gdir, value, ktype
        ):
            continue
        live.append((gdir, ordn))
    if not live:
        return None
    schema = StructType.fromJson(stored) if stored is not None else None
    if len(gens) == 1:
        return _read_dirs(
            spark, [live[0][0]], schema, schema_json=stored
        ).filter(F.col(meta["key"]) == F.lit(value))
    df = None
    for gdir, ordn in live:
        part = (
            _read_dirs(spark, [gdir], schema, schema_json=stored)
            .filter(F.col(meta["key"]) == F.lit(value))
            .withColumn("__ord", F.lit(ordn))
        )
        df = part if df is None else df.unionByName(part)
    fold = (
        full["mor_fold"] if "mor_fold" in full
        else meta.get("mor_fold")
    )
    if fold:
        return _fold_rows(df, fold)
    return _fold_ordinals(df, meta["key"])


def changed_buckets_between(
    path: str, since_version: int, to_version: int | None = None
) -> list[int]:
    """Bucket ids whose generation changed between two committed
    versions — pure manifest arithmetic, no scan, no clocks. The
    version number IS the consumer's watermark: unlike timestamp
    freshness (merge.py::changed_buckets_since) there is no precision
    or clock-skew surface at all, and a layout change (rebucket)
    degrades safely to "everything changed".

    Sharded (format-2) manifests diff at the ROOT first: a shard whose
    content-addressed file reference is identical in both versions is
    byte-identical, so only the differing shards load — the consumer's
    poll costs O(changed shards), not O(table width), exactly the
    sharded commit's economics applied to the read side."""
    to_v = _resolve_version(path, to_version)
    r_from = _load_root(path, since_version)
    r_to = _load_root(path, to_v)
    if r_from["n_buckets"] != r_to["n_buckets"]:
        full_to = _slice_from_root(path, r_to, None)
        return sorted(int(i) for i in full_to["buckets"])  # re-hashed
    if (
        r_from.get("format") == 2
        and r_to.get("format") == 2
        and r_from.get("shard_size") == r_to.get("shard_size")
    ):
        sh_from = r_from["shards"]
        sh_to = r_to["shards"]
        diff = {
            s for s in set(sh_from) | set(sh_to)
            if (sh_from.get(s) or {}).get("f")
            != (sh_to.get(s) or {}).get("f")
        }
        m_from = _assemble_shards(path, r_from, diff)
        m_to = _assemble_shards(path, r_to, diff)
        return sorted(_changed_sig_buckets(m_from, m_to))
    m_from = _slice_from_root(path, r_from, None)
    m_to = _slice_from_root(path, r_to, None)
    return sorted(_changed_sig_buckets(m_from, m_to))


def _changed_sig_buckets(m_from: dict, m_to: dict) -> set[int]:
    """Bucket ids whose SIGNATURE — (generation dir, DV refs) — differs
    between two same-layout manifests. A bucket's identity is that
    pair: a DV-only commit changes content without moving the
    generation, and generation names are content-addressed uuids that
    are never reused, so signature equality == untouched. Symmetric
    difference over bucket ids: a bucket present only in the OLD
    manifest (every row deleted since) is still a change —
    read_changed_between has nothing to read for it (no current rows),
    but change_feed must see it to emit the deletes, and the OCC
    commit validation must count it as a conflict."""
    old, new = m_from["buckets"], m_to["buckets"]
    dv_old, dv_new = m_from.get("dv") or {}, m_to.get("dv") or {}
    dl_old, dl_new = m_from.get("deltas") or {}, m_to.get("deltas") or {}

    def sig(m_b, m_dv, m_dl, i):
        # (generation, DV refs, MOR delta gens): a delta-only commit
        # changes content without moving the base generation
        return (
            m_b.get(i),
            tuple(_dv_ref(e) for e in m_dv.get(i, [])),
            tuple(d["g"] for d in m_dl.get(i, [])),
        )

    return {
        int(i)
        for i in set(old) | set(new)
        if sig(old, dv_old, dl_old, i) != sig(new, dv_new, dl_new, i)
    }


def read_changed_between(
    spark: SparkSession,
    path: str,
    since_version: int,
    to_version: int | None = None,
) -> DataFrame | None:
    """Incremental downstream consumption off the COMMIT HISTORY: read
    only the generations that are new since the consumer's
    checkpointed version. Listing cost = |changed buckets|; an
    up-to-date consumer reads NOTHING (None). Returns the CURRENT rows
    of the changed buckets (bucket-granular superset of the changed
    keys — exact key-level CDC is merge.py::table_diff between
    `read_bucket_table_versioned` snapshots, which this prunes the
    input for)."""
    to_v = _resolve_version(path, to_version)
    changed = changed_buckets_between(path, since_version, to_v)
    if not changed:
        return None
    # slice load: only the shards the changed buckets live in
    full = _load_manifest_slice(path, to_v, changed)
    with open(os.path.join(path, BUCKET_META)) as f:
        key = json.load(f)["key"]
    return _read_snapshot_slice(spark, path, full, changed, key)


def _read_history_log(path: str) -> dict[int, dict]:
    """The commit log as {version -> summary line}. Malformed lines
    (a torn append from a crash mid-write) are skipped — their
    versions fall back to a manifest load."""
    p = os.path.join(path, HISTORY_LOG)
    out: dict[int, dict] = {}
    if not os.path.exists(p):
        return out
    with open(p) as f:
        for ln in f:
            ln = ln.strip()
            if not ln:
                continue
            try:
                d = json.loads(ln)
                out[int(d["v"])] = d
            except (ValueError, KeyError, TypeError):
                continue
    return out


def version_at(path: str, as_of: float | str) -> int:
    """Timestamp AS-OF resolution: the newest surviving version whose
    commit stamp is <= `as_of` (epoch seconds, or an ISO string read
    as UTC) — the Delta `TIMESTAMP AS OF` convenience on top of exact
    version pinning. Stamps come from the commit log (O(V) tiny lines
    — at 4096 buckets loading every stats-bearing manifest instead
    cost 11 s over 300 commits, MANIFESTBENCH_4096), falling back to
    a manifest load for versions the log misses (pre-log tables, a
    crash between pointer replace and log append). Raises if every
    surviving manifest is newer (the as-of point predates retained
    history — vacuum may have reclaimed it) or if manifests predate
    commit stamps."""
    import datetime

    if isinstance(as_of, str):
        dt = datetime.datetime.fromisoformat(as_of)
        if dt.tzinfo is None:
            dt = dt.replace(tzinfo=datetime.timezone.utc)
        as_of = dt.timestamp()
    committed = latest_version(path)
    log = _read_history_log(path)
    best = None
    for v in _list_versions(path):
        if v > committed:
            continue  # phantom manifest of a dead merger: not history
        entry = log.get(v)
        t = (
            entry.get("committed_at")
            if entry is not None
            else _load_manifest_full(path, v).get("committed_at")
        )
        if t is not None and t <= as_of:
            best = v
    if best is None:
        raise ValueError(
            f"no surviving version of {path} committed at or before "
            f"{as_of} (vacuumed, or written before commit stamps)"
        )
    return best


def history(path: str) -> list[dict]:
    """DESCRIBE HISTORY: one row per surviving committed version, from
    the commit log (one tiny JSONL line per commit — O(V x line)),
    falling back to a manifest load for versions the log misses
    (pre-log tables; a crash between the pointer replace and the log
    append). Per version: the commit operation (load/init/merge/
    rebucket/optimize), layout, bucket count, and the stats ledger's
    row/byte totals (None when a version predates stats). `current`
    marks the pointer; versions older than the vacuum horizon are
    absent — history is exactly what time travel can still serve."""
    committed = latest_version(path)
    log = _read_history_log(path)
    out = []
    for v in _list_versions(path):
        if v > committed:
            continue  # phantom manifest of a dead merger: not history
        entry = log.get(v)
        if entry is not None:
            out.append(
                {
                    "version": v,
                    "op": entry.get("op"),
                    "committed_at": entry.get("committed_at"),
                    "n_buckets": entry.get("n_buckets"),
                    "buckets": entry.get("buckets"),
                    "rows": entry.get("rows"),
                    "bytes": entry.get("bytes"),
                    "n_columns": entry.get("n_columns"),
                    "current": v == committed,
                }
            )
            continue
        m = _load_manifest_full(path, v)
        stats = m.get("stats")
        rows = bytes_ = None
        if stats is not None:
            rows = sum(s["rows"] for s in stats.values())
            bytes_ = sum(s["bytes"] for s in stats.values())
            # same accounting as the commit-log line: delta
            # generations count into the totals (upper bound until a
            # fold, like DV-deleted rows) — the log ≡ fallback law
            # must hold for MOR commits too
            for lst in (m.get("deltas") or {}).values():
                rows += sum(d["stats"]["rows"] for d in lst)
                bytes_ += sum(d["stats"]["bytes"] for d in lst)
        out.append(
            {
                "version": v,
                "op": m.get("op"),
                "committed_at": m.get("committed_at"),
                "n_buckets": m["n_buckets"],
                "buckets": len(m["buckets"]),
                "rows": rows,
                "bytes": bytes_,
                "n_columns": (
                    len(m["schema"]["fields"]) if "schema" in m else None
                ),
                "current": v == committed,
            }
        )
    return out


def apply_change_feed(
    replica: DataFrame | None, feed: DataFrame, key: str | list[str]
) -> DataFrame:
    """Apply a change feed to a downstream replica: delete the
    tombstoned keys, replace/insert everything else with the feed's
    (complete, surviving-side) payload. The generic inverse of
    `change_feed` — unlike merge_upsert_deletes it needs no `now` and
    works for composite keys, because feed rows carry whole rows, audit
    columns included: replica@v_old + feed(v_old, v_new) == snapshot
    @v_new EXACTLY (law in tests/test_merge_versioned.py). Idempotent
    (re-applying the same feed is a no-op), which upgrades at-least-
    once feed delivery into exactly-once replica effects — the crash-
    between-apply-and-checkpoint case S19 exercises.

    One anti join + one union: the anti-join keys against the feed
    are broadcast EXPLICITLY — a feed is batch-sized by contract
    (cost ∝ change, never ∝ table), so the hint is always right and
    spares the replica side a shuffle even when stale size stats
    would have talked the planner out of it."""
    keys = [key] if isinstance(key, str) else list(key)
    live = feed.filter(F.col("change") != "delete").drop("change")
    if replica is None:
        return live
    touched = F.broadcast(feed.select(*keys))
    # allowMissingColumns: a feed crossing a SCHEMA EVOLUTION boundary
    # carries columns the replica predates (and vice versa after a
    # replica-side evolution) — the union fills them with nulls, which
    # is exactly what the evolved snapshot holds for those rows
    return replica.join(touched, keys, "left_anti").unionByName(
        live, allowMissingColumns=True
    )


_NO_EXACT = object()  # sentinel: no exact cross-rebucket plan exists


def _root_n_buckets(path: str, v: int) -> int:
    m = _load_root_raw(path, v)
    if "n_buckets" in m:
        return m["n_buckets"]
    with open(os.path.join(path, BUCKET_META)) as f:
        return json.load(f)["n_buckets"]


def _feed_across_rebucket(
    spark: SparkSession,
    path: str,
    v_from: int,
    v_to: int,
    keys: list[str],
    bucket_key: str,
    aligned_diff,
    metrics: dict | None = None,
    memo: dict | None = None,
):
    """EXACT O(change) change feed across a `rebucket_versioned`
    boundary (VERDICT r11 item 2). The old full-diff fallback made the
    one event an ops team will certainly run (re-bucketing a grown
    table) break every O(change) consumer. Exactness argument: a key
    that changed in [v_from, v_to] changed either BEFORE the layout
    flip (so it appears in the old-layout sub-feed) or AFTER it (the
    new-layout sub-feed) — the rebucket commit itself is content-
    neutral by law. The union of the two sub-feeds' key sets is
    therefore exactly the changed keys; the final diff reads only
    those keys' buckets under EACH side's own layout (a changed key's
    rows live in its old-layout bucket at v_from and its new-layout
    bucket at v_to), semi-joined to the key set so asymmetric slice
    coverage can never misclassify an unchanged neighbor as a delete.

    Returns a DataFrame, None (no changes), or _NO_EXACT when no
    sound plan exists — an intermediate version was vacuumed away, or
    the layout flip was a full RELOAD (op != "rebucket": not content-
    neutral, everything may have changed). Sub-feeds recurse through
    change_feed, so multiple rebuckets in one span compose."""
    vs = [v for v in _list_versions(path) if v_from <= v <= v_to]
    if not vs or vs[0] != v_from or vs[-1] != v_to:
        return _NO_EXACT
    boundary = None
    prev = vs[0]
    for v in vs[1:]:
        if _root_n_buckets(path, prev) != _root_n_buckets(path, v):
            boundary = (prev, v)
            break
        prev = v
    if boundary is None:
        return _NO_EXACT
    a, b = boundary
    if b != a + 1:
        # versions between the two layouts were vacuumed: their
        # content changes are unrecoverable at old-layout grain
        return _NO_EXACT
    if _load_root_raw(path, b).get("op") != "rebucket":
        return _NO_EXACT  # a reload also flips layout but changes data
    f1 = (
        change_feed(spark, path, v_from, a, key=keys, _memo=memo)
        if a > v_from else None
    )
    f2 = (
        change_feed(spark, path, b, v_to, key=keys, _memo=memo)
        if v_to > b else None
    )
    if f1 is None and f2 is None:
        return None  # the rebucket alone: content-neutral, empty feed
    from .merge import bucket_expr

    n_from = _root_n_buckets(path, v_from)
    n_to = _root_n_buckets(path, v_to)

    # the changed-key set is O(change) by construction — pin it
    # driver-side once instead of recomputing both sub-feed diffs for
    # every downstream use. ONE job per sub-feed: the distinct keys are
    # projected to BOTH layouts' bucket ids inside the same collect
    # (the bucket projections used to be two more 32-partition shuffle
    # jobs each over a stats-less local relation, guide §1.2/§2.4), and
    # the rows are memoized per (table, bucket key, sub-span, layouts)
    # so a containing span (1→4) re-uses a sub-span's (3→4) collected
    # diff instead of recomputing its full-outer join — the
    # driver-side analogue of a ReusedExchange, scoped to one
    # change_feed call tree.
    def _sub_keys(f, va, vb):
        mk = (
            "subfeed_keys", path, bucket_key, va, vb, n_from, n_to,
            tuple(keys),
        )
        if memo is not None and mk in memo:
            return memo[mk]
        rows = (
            f.select(*keys)
            .distinct()
            .select(
                *keys,
                bucket_expr(bucket_key, n_from).alias("__b_from"),
                bucket_expr(bucket_key, n_to).alias("__b_to"),
            )
            .collect()
        )
        if memo is not None:
            memo[mk] = rows
        return rows

    seen: dict[tuple, tuple] = {}
    key_schema = None
    for f, va, vb in ((f1, v_from, a), (f2, b, v_to)):
        if f is None:
            continue
        if key_schema is None:
            key_schema = f.select(*keys).schema
        for r in _sub_keys(f, va, vb):
            seen[tuple(r[k] for k in keys)] = (r["__b_from"], r["__b_to"])
    if not seen:
        return None
    # NULL-safe order: a NULL key column sorts last instead of raising
    # TypeError on a None-vs-value comparison
    kdf = spark.createDataFrame(
        sorted(seen, key=lambda t: tuple((v is None, v) for v in t)),
        key_schema,
    )
    b_from = sorted({v[0] for v in seen.values()})
    b_to = sorted({v[1] for v in seen.values()})
    if metrics is not None:
        metrics.update({
            "mode": "rebucket-exact",
            "changed_keys": len(seen),
            "buckets_from": len(b_from),
            "buckets_to": len(b_to),
        })
    m_from = _slice_from_root(path, _load_root(path, v_from), b_from)
    m_to = _slice_from_root(path, _load_root(path, v_to), b_to)
    old_df = _read_snapshot_slice(spark, path, m_from, b_from, bucket_key)
    new_df = _read_snapshot_slice(spark, path, m_to, b_to, bucket_key)
    like = new_df if new_df is not None else old_df
    if like is None:
        # both endpoint slices empty: the changed keys were inserted
        # after v_from and deleted before v_to, and their buckets hold
        # no other rows at either endpoint — the net change over the
        # span is empty
        return None
    if old_df is None:
        old_df = spark.createDataFrame([], like.schema)
    if new_df is None:
        new_df = spark.createDataFrame([], like.schema)
    # the key set is O(change) and already driver-local: broadcast it.
    # Without the hint the local relation plans as a stats-less
    # ExistingRDD and each semi-join becomes a full shuffle +
    # sort-merge of the SLICE side (guide §3.1) — measured 4 extra
    # Exchanges + 4 SortMergeJoin legs in the executed plan.
    # NULL-safe key match: a changed key with a NULL column must keep
    # its rows in both slices, as the same-layout diff would read them
    def _semi(df: DataFrame) -> DataFrame:
        k = F.broadcast(kdf)
        return df.join(k, [df[c].eqNullSafe(k[c]) for c in keys], "semi")

    return aligned_diff(_semi(old_df), _semi(new_df))


def change_feed(
    spark: SparkSession,
    path: str,
    since_version: int,
    to_version: int | None = None,
    key: str | list[str] | None = None,
    _metrics: dict | None = None,
    _memo: dict | None = None,
) -> DataFrame | None:
    """Key-level change feed between two committed versions — the
    Delta CHANGE DATA FEED shape (`table_changes`), computed from the
    commit history instead of logged at write time (the reference's
    consumers poll `get_last_update_time` and re-pull rows,
    mongodb_handler.py:261-289; this gives them exact row-level
    inserts/updates/deletes instead).

    Rows: (key, payload-from-the-surviving-side, change) with change
    in {insert, update, delete} — `merge.table_diff` semantics, with
    the apply law (replaying the feed onto the old snapshot through
    `merge_upsert_deletes` reproduces the new snapshot exactly,
    tests/test_merge_versioned.py).

    Cost ∝ CHANGE, not table: a key's rows live only in its hash
    bucket and both manifests share one layout, so the full-outer diff
    join runs over the changed buckets' generations only — manifest
    arithmetic prunes everything else (an up-to-date consumer returns
    None without touching data). Across a `rebucket_versioned` layout
    change bucket identity is not comparable, so the feed falls back
    to a full-snapshot diff (which is empty for the rebucket itself —
    content-neutral by law).

    `key` defaults to the table's bucket key. Tables maintained by a
    custom merger can hold SEVERAL rows per bucket key (the keep-latest
    table keys on (user_id, event_type) but buckets on user_id); pass
    the COMPOSITE key that uniquely identifies a row. The bucket key
    must be one of its columns — that is what makes the changed-bucket
    pruning exact (a row's bucket is a function of it, so no competing
    row lives outside the changed set) — enforced here."""
    with open(os.path.join(path, BUCKET_META)) as f:
        bucket_key = json.load(f)["key"]
    if key is None:
        key = bucket_key
    keys = [key] if isinstance(key, str) else list(key)
    if bucket_key not in keys:
        raise ValueError(
            f"change_feed key {keys} must include the bucket key "
            f"{bucket_key!r}: bucket pruning is only exact when the "
            "row's bucket is a function of the diff key"
        )
    to_v = _resolve_version(path, to_version)
    r_from = _load_root(path, since_version)
    r_to = _load_root(path, to_v)

    def _root_empty(root: dict) -> bool:
        # emptiness is decidable from the ROOT alone (no shard loads):
        # a format-2 root with no shard entries references no buckets
        if root.get("format") == 2:
            return not root["shards"]
        return not root["buckets"]

    from .merge import table_diff

    def _aligned_diff(old_df: DataFrame, new_df: DataFrame) -> DataFrame:
        # schema evolution: align both sides to the UNION of their
        # columns (missing side -> typed nulls) so the feed carries
        # columns added between the versions — an old row gaining a
        # value classifies as update, and applying the feed to the old
        # snapshot reproduces the evolved new snapshot
        for col, typ in [
            (f.name, f.dataType)
            for f in new_df.schema.fields
            if f.name not in old_df.columns
        ]:
            old_df = old_df.withColumn(col, F.lit(None).cast(typ))
        for col, typ in [
            (f.name, f.dataType)
            for f in old_df.schema.fields
            if f.name not in new_df.columns
        ]:
            new_df = new_df.withColumn(col, F.lit(None).cast(typ))
        return table_diff(old_df, new_df, key=key)

    if r_from["n_buckets"] != r_to["n_buckets"]:
        # layout changed between the versions. A consumer checkpointed
        # at the metadata-only EMPTY init catches up as a bootstrap
        # regardless of layout; otherwise try the EXACT O(change) plan
        # (pure rebucket boundary, intact span) before falling back to
        # the full-snapshot diff (reload boundary / vacuumed span).
        if not _root_empty(r_from):
            exact = _feed_across_rebucket(
                spark, path, since_version, to_v, keys, bucket_key,
                _aligned_diff, metrics=_metrics, memo=_memo,
            )
            if exact is not _NO_EXACT:
                return exact
        if _metrics is not None:
            _metrics.update({"mode": "full-diff"})

        def _snap(root: dict, v: int, like: DataFrame | None):
            if not _root_empty(root):
                return read_bucket_table_versioned(spark, path, v)
            if like is not None:
                return spark.createDataFrame([], like.schema)
            return None

        new_df = _snap(r_to, to_v, None)
        old_df = _snap(r_from, since_version, new_df)
        if old_df is None and new_df is None:
            return None
        if new_df is None:
            new_df = spark.createDataFrame([], old_df.schema)
        return _aligned_diff(old_df, new_df)

    changed = changed_buckets_between(path, since_version, to_v)
    if not changed:
        return None

    if _root_empty(r_from):
        # bootstrap consumer (checkpointed at the metadata-only empty
        # init): the old side is empty by construction, so the diff IS
        # the new side tagged insert — no outer join, one read. Same
        # rows the general path would produce (every key "payload from
        # the surviving side", change='insert').
        snap = read_bucket_table_versioned(spark, path, to_v)
        return snap.withColumn("change", F.lit("insert"))

    # slice loads: only the shards the changed buckets live in — the
    # consumer's whole poll is O(changed), root to data pages
    m_from = _slice_from_root(path, r_from, changed)
    m_to = _slice_from_root(path, r_to, changed)

    def _read(m: dict, like: DataFrame | None):
        # each side reads THROUGH its version's deltas and deletion
        # vectors (_read_snapshot_slice), so a DV-only or MOR-delta
        # commit shows up as exact row-level changes in the diff
        df = _read_snapshot_slice(spark, path, m, changed, bucket_key)
        if df is None and like is not None:
            return spark.createDataFrame([], like.schema)
        return df

    new_df = _read(m_to, None)
    old_df = _read(m_from, new_df)
    if old_df is None and new_df is None:
        return None
    if new_df is None:
        new_df = spark.createDataFrame([], old_df.schema)
    return _aligned_diff(old_df, new_df)


def vacuum_bucket_versions(
    path: str, keep: int = 2, grace_seconds: float = 0.0,
    pin: set[int] | None = None,
) -> dict:
    """Reclaim storage: drop manifests older than the newest `keep`
    (never the committed one, never a `pin`ned version — the hook
    external snapshot holders use: catalogs pass
    catalog_referenced_versions so joint time travel survives member
    vacuums — never inside their post-supersession grace window,
    merge.py::vacuum_versions' retention contract), then delete
    generation dirs no surviving manifest references and whose mtime
    is older than `grace_seconds` (covers orphans from crashed merges
    without racing one that just finished writing).

    Takes BOTH locks: _COMMITLOCK so no pointer advance interleaves,
    _MERGELOCK so no merger is mid-flight (its not-yet-referenced
    generations would otherwise look like orphans)."""
    import fcntl
    import glob as _glob

    removed_versions: list[int] = []
    removed_gens: list[str] = []
    with open(os.path.join(path, "_MERGELOCK"), "w") as mlock:
        fcntl.flock(mlock, fcntl.LOCK_EX)
        with open(os.path.join(path, "_COMMITLOCK"), "w") as clock_:
            fcntl.flock(clock_, fcntl.LOCK_EX)
            try:
                committed = latest_version(path)
                versions = _list_versions(path)
                now = time.time()
                doomed: list[int] = []
                for v in versions[:-keep] if keep else versions:
                    if v == committed or (pin and v in pin):
                        continue
                    marker = os.path.join(path, f"v-{v}.superseded")
                    if not os.path.exists(marker):
                        continue  # never displaced -> not provably dead
                    if now - os.path.getmtime(marker) < grace_seconds:
                        continue
                    doomed.append(v)
                doomed_set = set(doomed)
                # MATERIALIZE-BEFORE-RECLAIM: a surviving delta root
                # whose chain base is about to vanish is rewritten as
                # a self-contained checkpoint FIRST (atomic replace,
                # same resolved content — readers mid-walk re-resolve
                # via _load_root's retry). Chains are contiguous
                # (root_base == v-1), so checking each survivor's
                # immediate base covers every doomed middle hop.
                for v in versions:
                    if v in doomed_set:
                        continue
                    raw = _load_root_raw(path, v)
                    if (
                        "root_base" in raw
                        and raw["root_base"] in doomed_set
                    ):
                        full_root = _load_root(path, v)
                        tmp = os.path.join(
                            path, f".manifest-tmp-{uuid.uuid4().hex[:8]}"
                        )
                        with open(tmp, "w") as f:
                            json.dump(full_root, f, indent=0,
                                      sort_keys=True)
                        os.replace(tmp, _manifest_path(path, v))
                for v in doomed:
                    os.unlink(_manifest_path(path, v))
                    os.unlink(os.path.join(path, f"v-{v}.superseded"))
                    removed_versions.append(v)
                referenced = set()
                dv_referenced = set()
                shard_referenced = set()
                for v in _list_versions(path):
                    root = _load_root(path, v)
                    # format-2 shard files referenced by any surviving
                    # root stay; the rest are displaced history or a
                    # crashed commit's orphans (grace-aged below)
                    for e in (root.get("shards") or {}).values():
                        shard_referenced.add(e["f"])
                    m_full = _slice_from_root(path, root, None)
                    for i, g in m_full["buckets"].items():
                        referenced.add(_gen_data_path(path, i, g))
                    # merge-on-read delta generations are LIVE data —
                    # reclaiming one would drop committed rows
                    for i, lst in (m_full.get("deltas") or {}).items():
                        for d in lst:
                            referenced.add(f"{path}/bucket={i}/{d['g']}")
                    for names in (m_full.get("dv") or {}).values():
                        for e in names:
                            dv_referenced.add(f"{path}/{_dv_ref(e)[0]}")
                for gdir in _glob.glob(f"{path}/bucket=*/g-*"):
                    if gdir in referenced:
                        continue
                    if now - os.path.getmtime(gdir) < grace_seconds:
                        continue
                    shutil.rmtree(gdir, ignore_errors=True)
                    removed_gens.append(gdir)
                for dvdir in _glob.glob(f"{path}/dv-*"):
                    if dvdir in dv_referenced:
                        continue
                    if now - os.path.getmtime(dvdir) < grace_seconds:
                        continue
                    shutil.rmtree(dvdir, ignore_errors=True)
                    removed_gens.append(dvdir)
                # packed generations reclaim at FILE grain: a bucket's
                # packed file unreferenced by every surviving manifest
                # (superseded by a later classic generation, or its
                # whole pack displaced) is dead; a pack directory with
                # no data files left goes too (incl. its birth record)
                # [br]*: per-bucket b<i> files AND coalesced
                # r<lo>-<hi> range files — a range file is
                # unreferenced only when EVERY bucket it covers moved
                # on. A b*-only glob here once classified an all-range
                # pack as empty and deleted it live (the round-13
                # manifestbench crash).
                for pfile in _glob.glob(
                    f"{path}/{PACKED_DIR}/pg-*/[br]*.parquet"
                ):
                    if pfile in referenced:
                        continue
                    if now - os.path.getmtime(pfile) < grace_seconds:
                        continue
                    os.unlink(pfile)
                    removed_gens.append(pfile)
                for pdir in _glob.glob(f"{path}/{PACKED_DIR}/pg-*"):
                    if not _glob.glob(f"{pdir}/[br]*.parquet"):
                        shutil.rmtree(pdir, ignore_errors=True)
                        removed_gens.append(pdir)
                # staging dirs a kill -9'd writer left behind (its
                # try/finally never ran); we hold _MERGELOCK so no
                # writer is mid-stage
                for sdir in _glob.glob(f"{path}/.stage-g-*"):
                    if now - os.path.getmtime(sdir) < grace_seconds:
                        continue
                    shutil.rmtree(sdir, ignore_errors=True)
                    removed_gens.append(sdir)
                mdir = os.path.join(path, MANIFEST_DIR)
                if os.path.isdir(mdir):
                    for fn in os.listdir(mdir):
                        if fn in shard_referenced:
                            continue
                        fp = os.path.join(mdir, fn)
                        if now - os.path.getmtime(fp) < grace_seconds:
                            continue
                        os.unlink(fp)
                        removed_gens.append(fp)
                if removed_versions:
                    # compact the commit log to surviving versions —
                    # history == what time travel can still serve, and
                    # the log must not grow past the vacuum horizon.
                    # Atomic rewrite under both locks (no commit can
                    # interleave an append)
                    log = _read_history_log(path)
                    survivors = set(_list_versions(path))
                    tmp_log = os.path.join(
                        path, f".hist-tmp-{uuid.uuid4().hex[:8]}"
                    )
                    with open(tmp_log, "w") as hf:
                        for v in sorted(log):
                            if v in survivors:
                                hf.write(
                                    json.dumps(log[v], sort_keys=True)
                                    + "\n"
                                )
                    os.replace(
                        tmp_log, os.path.join(path, HISTORY_LOG)
                    )
            finally:
                fcntl.flock(clock_, fcntl.LOCK_UN)
        fcntl.flock(mlock, fcntl.LOCK_UN)
    return {
        "removed_versions": removed_versions,
        "removed_gens": removed_gens,
    }

"""OP-MERGE: the keyed upsert-merge, the reference engine's core operator.

Reproduces the semantics of the reference's bulk upsert
(`handlers/mongodb_handler.py:154-175`):
    UpdateOne({key: id},
              {"$set": {...payload, updated_at},
               "$setOnInsert": {created_at}}, upsert=True)
i.e. per-column last-writer-wins for the columns present in the update
batch, untouched columns preserved, `created_at` immutable after first
insert, `updated_at` stamped on every write that matches.

Spark-first rewrite: one full-outer join on the key + per-column
coalesce — a single shuffle on `key`, no point lookups, no write
queue. On a cluster the target is written hash-partitioned
(bucketed) by `key` so repeated merges co-locate and the join side
needs no re-shuffle; Delta `MERGE INTO` is a drop-in upgrade where
available. Atomicity without Delta comes from the
write-new-then-swap directory protocol (`write_atomic`).

Laws (tested in tests/test_merge_laws.py, SURVEY §5.3-5.4):
    idempotence          merge(merge(T, B), B) == merge(T, B)
    per-source isolation merging an `epss` batch never nulls `nvd`
    created_at immutable first insert wins
    last-writer-wins     within a column, the latest batch wins
    order convergence    disjoint-source batches commute
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window as W

AUDIT_COLS = ("created_at", "updated_at")


def merge_upsert(
    target: DataFrame | None,
    updates: DataFrame,
    key: str = "id",
    now=None,
) -> DataFrame:
    """Full-outer-join upsert of `updates` into `target`.

    `updates` carries the key plus any subset of payload columns (one
    struct column per source in the cve model). Column semantics:
    present in both -> coalesce(update, existing) ($set per column);
    only in one -> carried through. `now` is a deterministic timestamp
    literal for tests (defaults to current_timestamp()).
    """
    now_col = F.lit(now).cast("timestamp") if now is not None else F.current_timestamp()

    if target is None:
        base = updates
        return base.select(
            key,
            *[c for c in updates.columns if c != key and c not in AUDIT_COLS],
            now_col.alias("created_at"),
            now_col.alias("updated_at"),
        )

    u = updates.withColumn("__upd", F.lit(True))
    t_cols = [c for c in target.columns if c != key and c not in AUDIT_COLS]
    u_cols = [c for c in updates.columns if c != key and c not in AUDIT_COLS]
    joined = target.alias("t").join(u.alias("u"), key, "full_outer")

    out_cols: list = [F.col(key)]
    for c in t_cols:
        if c in u_cols:
            out_cols.append(F.coalesce(F.col(f"u.{c}"), F.col(f"t.{c}")).alias(c))
        else:
            out_cols.append(F.col(f"t.{c}").alias(c))
    for c in u_cols:
        if c not in t_cols:
            out_cols.append(F.col(f"u.{c}").alias(c))

    has_created = "created_at" in target.columns
    created = (
        F.coalesce(F.col("t.created_at"), now_col) if has_created else now_col
    )
    updated = (
        F.when(F.col("u.__upd"), now_col).otherwise(F.col("t.updated_at"))
        if "updated_at" in target.columns
        else now_col
    )
    out_cols += [created.alias("created_at"), updated.alias("updated_at")]
    return joined.select(*out_cols)


def merge_upsert_deletes(
    target: DataFrame | None,
    updates: DataFrame,
    key: str = "id",
    deleted_col: str = "_deleted",
    now=None,
) -> DataFrame:
    """OP-MERGE with a delete leg: the Delta/Iceberg `MERGE INTO ...
    WHEN MATCHED AND u._deleted THEN DELETE` shape (the reference
    drops withdrawn entries the same way a feed retracts an id).

    `updates` rows with `deleted_col` true are tombstones: their keys
    are removed from the result (whether or not they exist in the
    target — deleting an absent key is a no-op, keeping the operator
    idempotent). All other rows upsert exactly as `merge_upsert`.

    Shape: the upsert is the same single full-outer join; tombstone
    removal is a left-anti join against the (tiny) tombstone key set —
    at 100 TB the tombstone relation is the day's retractions, orders
    of magnitude below the corpus, so the anti join is a broadcast in
    practice (left unhinted — AQE decides). A later upsert of the same
    key re-inserts it: delete is not a permanent blacklist, matching
    MERGE semantics.

    A NULL flag means not-deleted (dirty CDC feeds omit the column for
    plain upserts): the flag is coalesced to false first, so NULL rows
    take the live leg instead of vanishing from both."""
    d = F.coalesce(F.col(deleted_col), F.lit(False))
    tombs = updates.filter(d).select(key)
    live = updates.filter(~d).drop(deleted_col)
    merged = merge_upsert(target, live, key=key, now=now)
    return merged.join(tombs, key, "left_anti")


def table_diff(
    v1: DataFrame, v2: DataFrame, key: str | list[str] = "id"
) -> DataFrame:
    """Row-level snapshot diff: the change-data-feed between two table
    versions (Delta CDF computed rather than logged).

    Returns (key cols, payload-from-the-surviving-side, change) with
    change in {insert, update, delete} — nochange rows are dropped.
    `key` may be a single column or a COMPOSITE list (tables whose
    logical identity spans several columns, e.g. a keep-latest table
    keyed on (user_id, event_type)); key values must be non-null and
    unique per row on each side. Null-safe column comparison
    (eqNullSafe) classifies updates. The law tying this to the merge
    surface: applying the diff to v1 through `merge_upsert_deletes`
    (or the generic `apply_change_feed`) reproduces v2 exactly (tested
    in test_merge_laws); one key-partitioned full-outer join,
    bucketable to exchange-free at scale."""
    keys = [key] if isinstance(key, str) else list(key)
    cols = [c for c in v1.columns if c not in keys and c in v2.columns]
    cond = F.lit(True)
    for k in keys:
        cond = cond & (F.col(f"a.{k}") == F.col(f"b.{k}"))
    j = v1.alias("a").join(v2.alias("b"), cond, "full_outer")
    differs = F.lit(False)
    for c in cols:
        differs = differs | ~F.col(f"a.{c}").eqNullSafe(F.col(f"b.{c}"))
    change = (
        F.when(F.col(f"a.{keys[0]}").isNull(), "insert")
        .when(F.col(f"b.{keys[0]}").isNull(), "delete")
        .when(differs, "update")
        .otherwise("nochange")
    )
    # payload is the SURVIVING ROW's value, decided per row (b side
    # unless the row was deleted), never per column: a per-column
    # coalesce would resurrect the old value wherever an update
    # legitimately nulled a column, breaking the apply-exactness law
    survived_b = F.col(f"b.{keys[0]}").isNotNull()
    payload = [
        F.when(survived_b, F.col(f"b.{c}"))
        .otherwise(F.col(f"a.{c}"))
        .alias(c)
        for c in cols
    ]
    return (
        j.select(
            *[
                F.coalesce(F.col(f"b.{k}"), F.col(f"a.{k}")).alias(k)
                for k in keys
            ],
            *payload,
            change.alias("change"),
        )
        .filter(F.col("change") != "nochange")
    )


def keep_latest_merge(
    target: DataFrame | None,
    updates: DataFrame,
    keys: list[str],
    order_by: list,
    allow_missing_columns: bool = False,
) -> DataFrame:
    """Upsert keeping, per key, the greatest row by `order_by`.

    The ST-3 late-data semantics: late records simply lose (or win)
    the per-key ordering — union + window, commutative across batch
    orderings, so replaying unordered chunks converges (tested as S3).

    `allow_missing_columns` null-pads a column-subset batch against
    the target (and vice versa) instead of throwing. Default False:
    for plain callers a missing or misspelled batch column is a bug,
    and null-padding it would let a winning batch row silently null
    out existing values — the strict union is the tripwire. The
    versioned layer passes True: its fold/MOR legs legitimately see
    schema-evolving batches, and it validates batch columns against
    the recorded table schema before reaching this union.
    """
    allrows = (
        updates
        if target is None
        else target.unionByName(
            updates, allowMissingColumns=allow_missing_columns
        )
    )
    w = W.partitionBy(*keys).orderBy(*order_by)
    return (
        allrows.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# ------------------------------------------------------- atomic swap
REPLICA_META = "_REPLICA_META.json"


def write_atomic(df: DataFrame, path: str, meta: dict | None = None) -> None:
    """Write-new-then-swap directory protocol (OP-MERGE atomicity
    without Delta): materialize to a temp dir beside the target (same
    filesystem — os.rename cannot cross mounts), then swap.

    Directories can't be renamed over each other on POSIX, so the swap
    is two renames (target→old, tmp→target) and there IS a crash
    window between them in which `path` is briefly absent — this is a
    two-rename swap, not a true atomic replace. Recovery is mechanical:
    the displaced table survives as `path.old-*` and `read_target`
    probes for it, so no committed data is ever lost; readers see the
    old table, the new table, or (crash window only) the recoverable
    old directory — never a partial write. On HDFS/S3/production the
    same protocol is a manifest pointer swap or Delta's atomic log
    commit, both of which close the window.

    `meta` (optional) is written as `_REPLICA_META.json` INSIDE the
    temp dir before the swap — underscore-prefixed, so Spark's file
    listing ignores it — making (data + metadata) one atomic unit.
    This is what a CDC replica consumer needs: its applied-version
    checkpoint must travel WITH the replica content, because a
    checkpoint stored beside the data reopens a crash window in which
    the replica holds version N's rows while the checkpoint says M —
    and a key reverted between M and N (A-B-A) is then classified
    nochange by the redelivered feed, leaving the replica permanently
    stale (see streaming/jobs.py::feed_replica)."""
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    df.write.mode("overwrite").parquet(tmp)
    if meta is not None:
        with open(os.path.join(tmp, REPLICA_META), "w") as f:
            json.dump(meta, f)
    old = f"{path}.old-{uuid.uuid4().hex[:8]}"
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(tmp, path)
    if os.path.exists(old):
        shutil.rmtree(old, ignore_errors=True)


def read_target(spark: SparkSession, path: str) -> DataFrame | None:
    """Read the swap-protocol target, recovering from a crash that
    happened between write_atomic's two renames (target displaced to
    `path.old-*` but the new directory not yet renamed in)."""
    if not os.path.exists(path):
        import glob as _glob

        leftovers = sorted(_glob.glob(f"{path}.old-*"), key=os.path.getmtime)
        if leftovers:
            return spark.read.parquet(leftovers[-1])
        return None
    return spark.read.parquet(path)


def read_replica_meta(path: str) -> dict | None:
    """The metadata `write_atomic(meta=...)` co-located with the data
    (or None when absent): for a CDC replica this is the ONLY truthful
    applied-version source — it moved in the same rename as the rows
    it describes, so it can never be stale relative to them."""
    p = os.path.join(path, REPLICA_META)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


# ------------------------------------------- versioned snapshot sink
def write_versioned(df: DataFrame, path: str, max_retries: int = 64) -> int:
    """Manifest-pointer snapshot sink: the atomic-replace upgrade of
    `write_atomic`, plus time travel, safe under CONCURRENT writers.

    Each write lands in an immutable `path/v-<n>/` directory; commit is
    publishing the new version name into the `path/_LATEST` pointer
    FILE via os.replace — and replacing a *file* over an existing file
    IS atomic on POSIX, so the crash window `write_atomic`'s two
    directory renames leave open does not exist here: a reader sees
    the old pointer or the new pointer, never no pointer and never a
    partial table. This is the same design as Delta/Iceberg commits
    (data immutable, one tiny atomic pointer/log write), scaled down
    to a filesystem.

    Concurrency protocol (the CAS the optimistic Delta/Iceberg commit
    performs against its log store):
    1. version ALLOCATION — a writer claims `v-<n>` by O_CREAT|O_EXCL
       on `v-<n>.claim`; exactly one racer wins each number, losers
       re-scan (claims count as taken) and take the next one. A claim
       that crashed before writing data blocks nothing: readers only
       resolve through the pointer, and later writers allocate past it.
    2. pointer ADVANCE — under an flock'd `_COMMITLOCK`, the pointer
       is replaced only if the new version is HIGHER than the current
       one, so two successful commits publish the max and neither
       unpublishes the other (both version dirs remain readable via
       time travel either way).
    Returns the committed version number; raises after `max_retries`
    lost allocation races (never silently drops a write)."""
    os.makedirs(path, exist_ok=True)
    for _ in range(max_retries):
        taken = _taken_versions(path)
        v = (max(taken) if taken else 0) + 1
        claim = os.path.join(path, f"v-{v}.claim")
        try:
            fd = os.open(claim, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            continue  # lost the race for this number — re-scan
        os.close(fd)
        df.write.mode("errorifexists").parquet(os.path.join(path, f"v-{v}"))
        tmp = os.path.join(path, f"_LATEST.tmp-{uuid.uuid4().hex[:8]}")
        with open(tmp, "w") as f:
            f.write(str(v))
        _advance_pointer(path, tmp, v)
        return v
    raise RuntimeError(
        f"write_versioned: lost {max_retries} allocation races under {path}"
    )


def _advance_pointer(path: str, tmp: str, v: int) -> None:
    """Atomically publish `v` into `_LATEST` iff it is higher than the
    currently-published version (monotonic commit under an flock, so a
    slower racer can never roll the pointer back)."""
    import fcntl

    lock_path = os.path.join(path, "_COMMITLOCK")
    with open(lock_path, "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        try:
            current = -1
            latest = os.path.join(path, "_LATEST")
            if os.path.exists(latest):
                with open(latest) as f:
                    current = int(f.read().strip() or -1)
            if v > current:
                os.replace(tmp, latest)  # the atomic commit
                # stamp SUPERSESSION time for every older version that
                # lacks one (the just-displaced current, plus any
                # never-published orphan below v): vacuum's grace
                # period counts from this marker, so "age" means time
                # since a version stopped being resolvable as latest —
                # the same clock Delta's deletedFileRetentionDuration
                # runs on — not time since it was written.
                # Only versions whose parquet job FINISHED (Spark's
                # _SUCCESS sentinel) are stampable: a racer's v-<old>
                # directory can exist while its write is still in
                # flight, and stamping it would start the vacuum grace
                # clock on a version that is mid-write — a write
                # outlasting grace_seconds would then be rmtree'd under
                # the writer. An unfinished racer gets its marker from
                # whichever commit lands after it completes.
                for old in _list_versions(path):
                    if old < v and os.path.exists(
                        os.path.join(path, f"v-{old}", "_SUCCESS")
                    ):
                        marker = os.path.join(path, f"v-{old}.superseded")
                        if not os.path.exists(marker):
                            with open(marker, "w") as mf:
                                mf.write(str(v))
            else:
                os.unlink(tmp)  # a newer version is already published
        finally:
            fcntl.flock(lock, fcntl.LOCK_UN)


def _taken_versions(path: str) -> list[int]:
    """Version numbers already allocated: committed/in-flight data dirs
    AND claim markers (a claim is taken even before its dir exists)."""
    if not os.path.isdir(path):
        return []
    out = set()
    for d in os.listdir(path):
        name = d[:-6] if d.endswith(".claim") else d
        if name.startswith("v-") and name[2:].isdigit():
            out.add(int(name[2:]))
    return sorted(out)


def _list_versions(path: str) -> list[int]:
    if not os.path.isdir(path):
        return []
    return sorted(
        int(d[2:]) for d in os.listdir(path)
        if d.startswith("v-") and d[2:].isdigit() and os.path.isdir(os.path.join(path, d))
    )


def read_versioned(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Read the committed snapshot (or a pinned `version` — time
    travel). Uncommitted version directories (crash before the pointer
    replace) are invisible: only the pointer decides what is current."""
    if version is None:
        with open(os.path.join(path, "_LATEST")) as f:
            version = int(f.read().strip())
    return spark.read.parquet(os.path.join(path, f"v-{version}"))


def vacuum_versions(
    path: str, keep: int = 2, grace_seconds: float = 0.0
) -> list[int]:
    """Drop old versions, never the committed one, never a version
    still inside its post-supersession GRACE PERIOD.

    Retention contract (the gap between this sink and the
    Delta/Iceberg semantics it mirrors, closed): a reader that
    resolved `_LATEST` -> v-k holds no lock, so a concurrent vacuum
    could otherwise delete v-k mid-read after newer commits land. The
    rule production tables run (Delta's
    deletedFileRetentionDuration): a version becomes vacuum-eligible
    only `grace_seconds` AFTER it was superseded as latest (stamped
    by the committing writer under the commit lock — `v-N.superseded`
    marker mtime), and operators must set grace_seconds longer than
    their longest-running reader. A version with NO marker is never
    removed (it may be mid-commit or still current on a racing
    pointer). The default grace of 0 preserves reclaim-now semantics
    for tests and offline maintenance windows where no readers exist.

    `keep` additionally retains the newest `keep` versions outright,
    whatever their age. Returns the versions removed.

    Runs under the same `_COMMITLOCK` flock the pointer advance takes,
    so two concurrent vacuums serialize (each sees the other's
    removals before selecting) and a vacuum never interleaves with a
    pointer advance's supersession stamping; the marker unlink still
    tolerates a missing file, because rmtree(ignore_errors) can leave
    a half-removed state a later vacuum re-selects."""
    import fcntl

    with open(os.path.join(path, "_COMMITLOCK"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        try:
            with open(os.path.join(path, "_LATEST")) as f:
                committed = int(f.read().strip())
            versions = _list_versions(path)
            now = time.time()
            doomed = []
            for v in versions[:-keep] if keep else []:
                if v == committed:
                    continue
                marker = os.path.join(path, f"v-{v}.superseded")
                if not os.path.exists(marker):
                    continue  # never superseded -> not provably dead
                if now - os.path.getmtime(marker) < grace_seconds:
                    continue  # a reader may still be in its grace window
                doomed.append(v)
            for v in doomed:
                shutil.rmtree(os.path.join(path, f"v-{v}"), ignore_errors=True)
                try:
                    os.unlink(os.path.join(path, f"v-{v}.superseded"))
                except FileNotFoundError:
                    pass
        finally:
            fcntl.flock(lock, fcntl.LOCK_UN)
    return doomed


# ------------------------------------- bucket-scoped (partition) merge
# The reference applies updates as per-key point writes
# (mongodb_handler.py:141-195 — each UpdateOne touches only the
# documents whose keys appear in the batch). `merge_upsert` +
# `write_atomic` is semantically equal but rewrites the WHOLE target
# directory per merge — cost ∝ |target|, which at 100 TB turns a 1 GB
# nightly batch into a 100 TB write. The bucket-scoped layout restores
# the reference's point-update economics at file granularity: the
# table lives as hash(key)-bucketed partition directories
# (`path/bucket=<i>/`), a merge computes the ≤ n_buckets bucket ids its
# batch touches (a bounded collect), joins ONLY those buckets, and
# swaps ONLY those directories — cost ∝ |batch| × bucket size, and an
# untouched bucket's files are never opened, rewritten, or moved.
# Atomicity is per-bucket (two renames each, the write_atomic
# protocol); cross-bucket atomicity is the manifest upgrade
# (`write_versioned`) or Delta's log commit in production.
BUCKET_META = "_BUCKETS"  # leading underscore: invisible to Spark scans


def _bucket_of(c: F.Column, n_buckets: int) -> F.Column:
    return F.pmod(F.xxhash64(c.cast("string")), F.lit(n_buckets))


def bucket_expr(key: str, n_buckets: int) -> F.Column:
    """Deterministic bucket id: pmod(xxhash64(key-as-string), n).
    xxhash64 is a fixed algorithm (stable across sessions/versions), so
    every merge recomputes the same bucket for the same key."""
    return _bucket_of(F.col(key), n_buckets)


def bucket_membership_expr(
    key: str, n_buckets: int, ids, keep: bool
) -> F.Column:
    """`bucket_expr(key, n) IN (ids)` (or NOT IN, keep=False) built as
    ONE parsed SQL expression. Column.isin costs one py4j gateway
    round trip PER LITERAL (~0.6 ms each — an 8.7k-id exclusion
    measured ~5 s of driver time per merge on a coalesced pack);
    parsing one IN-list string is a single call and Catalyst compiles
    large IN lists to an InSet hash probe either way. The key is
    backtick-quoted; ids are ints by construction (bucket ids)."""
    lst = ",".join(str(int(i)) for i in sorted(set(ids)))
    q = key.replace("`", "``")
    e = f"pmod(xxhash64(cast(`{q}` as string)), {int(n_buckets)})"
    return F.expr(f"{e} {'IN' if keep else 'NOT IN'} ({lst})")


def bucket_of_value(spark: SparkSession, value, n_buckets: int) -> int:
    """The bucket id of ONE literal key — the same Catalyst expression
    as bucket_expr, so point lookups can never drift from the write
    path's bucketing (there is exactly one implementation of the hash).
    It is projected over a one-row LocalRelation: ConvertToLocalRelation
    and constant folding reduce the plan to a LocalTableScan, which
    collect() answers on the driver WITHOUT a Spark job (over
    spark.range(1) every lookup paid a 4-task job for one hash)."""
    return (
        spark.sql("VALUES (0)")
        .select(_bucket_of(F.lit(value), n_buckets).alias("b"))
        .collect()[0][0]
    )


def write_bucket_table(
    df: DataFrame, path: str, key: str = "id", n_buckets: int = 16
) -> None:
    """Initial (full) load of a bucket-scoped table: one partitioned
    write, then the bucket dirs are published under `path` with the
    layout metadata (`_BUCKETS`: key, n_buckets, format version) that
    later merges validate against."""
    import json

    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    (
        df.withColumn("bucket", bucket_expr(key, n_buckets))
        .repartition(n_buckets, "bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(tmp)
    )
    with open(os.path.join(tmp, BUCKET_META), "w") as f:
        json.dump({"key": key, "n_buckets": n_buckets, "v": 1}, f)
    old = f"{path}.old-{uuid.uuid4().hex[:8]}"
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)
    # seed the freshness manifest over every written bucket
    _update_stats(
        df.sparkSession, path, key, n_buckets, list(range(n_buckets))
    )


def init_bucket_table(path: str, key: str = "id", n_buckets: int = 16) -> None:
    """Metadata-only creation of an EMPTY bucket table: layout meta,
    no bucket dirs, no Spark job. The CDC-replay shape starts from
    nothing and lands everything through merge_scoped — spending a
    distributed write (plus a stats pass) to materialize zero rows is
    pure fixed overhead per stream start."""
    import json

    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, BUCKET_META), "w") as f:
        json.dump({"key": key, "n_buckets": n_buckets, "v": 1}, f)


def read_bucket_table(spark: SparkSession, path: str) -> DataFrame:
    """Read the whole table (partition discovery over bucket=<i> dirs;
    the synthetic bucket column is dropped)."""
    return spark.read.parquet(path).drop("bucket")


def read_bucket_for_key(spark: SparkSession, path: str, value) -> DataFrame:
    """Point-lookup read: prune to the ONE bucket dir that can hold
    `value` — listing-time pruning, the same economics as the
    reference's indexed point query (ensure_index_on_id,
    mongodb_handler.py:229-259)."""
    import json

    with open(os.path.join(path, BUCKET_META)) as f:
        meta = json.load(f)
    b = bucket_of_value(spark, value, meta["n_buckets"])
    bdir = os.path.join(path, f"bucket={b}")
    if not os.path.isdir(bdir):
        return None
    return spark.read.parquet(bdir).filter(F.col(meta["key"]) == F.lit(value))


def merge_scoped(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    now=None,
    deleted_col: str | None = None,
    merger=None,
) -> dict:
    """Bucket-scoped OP-MERGE: upsert `updates` into the bucket table
    at `path`, rewriting ONLY the bucket directories the batch touches.

    Returns the scoping stats the merge-cost contract is measured on:
    {n_buckets, buckets_touched, files_rewritten, files_total} —
    buckets_touched ≤ min(|batch keys|, n_buckets) by construction, so
    merge cost is bounded by the batch, not the target. With
    `deleted_col`, tombstone rows delete their keys (the
    merge_upsert_deletes leg); a bucket whose last row is deleted has
    its directory removed.
    """
    import fcntl
    import glob as _glob
    import json

    with open(os.path.join(path, BUCKET_META)) as f:
        meta = json.load(f)
    key, n_buckets = meta["key"], meta["n_buckets"]
    b = bucket_expr(key, n_buckets)

    # bounded driver-side state: ≤ n_buckets ints, never row data
    touched = sorted(
        r[0] for r in updates.select(b.alias("__b")).distinct().collect()
    )
    files_total = len(_glob.glob(f"{path}/bucket=*/*.parquet"))
    if not touched:
        return {
            "n_buckets": n_buckets, "buckets_touched": 0,
            "files_rewritten": 0, "files_total": files_total,
        }

    # Concurrent mergers serialize on a table-level commit lock (the
    # write_versioned/vacuum flock pattern): the read-merge-swap-stats
    # sequence must see a stable table, or two writers would each
    # merge against the other's pre-swap state and the later swap
    # would silently drop the earlier batch. Lock-free concurrency at
    # scale is the manifest-pointer sink or Delta's optimistic commit;
    # at file granularity the lock IS the correct semantics (merges
    # against the same table are order-dependent only in timestamps,
    # so serializing them preserves every batch).
    lock = open(os.path.join(path, "_MERGELOCK"), "w")
    fcntl.flock(lock, fcntl.LOCK_EX)
    try:
        return _merge_scoped_locked(
            spark, path, updates, key, n_buckets, b, touched, files_total,
            now, deleted_col, merger,
        )
    finally:
        fcntl.flock(lock, fcntl.LOCK_UN)
        lock.close()


def _merge_scoped_locked(
    spark, path, updates, key, n_buckets, b, touched, files_total,
    now, deleted_col, merger,
) -> dict:
    import glob as _glob

    existing = [
        f"{path}/bucket={i}"
        for i in touched
        if os.path.isdir(f"{path}/bucket={i}")
    ]
    target = spark.read.parquet(*existing) if existing else None
    if merger is not None:
        # custom merge semantics over the touched buckets (e.g. the
        # keep-latest CDC law: late rows must LOSE the per-key ordering,
        # which coalesce-upsert can't express) — the callable sees only
        # the touched-bucket slice and the batch, scoping unchanged
        merged = merger(target, updates)
    elif deleted_col is not None:
        merged = merge_upsert_deletes(
            target, updates, key=key, deleted_col=deleted_col, now=now
        )
    else:
        merged = merge_upsert(target, updates, key=key, now=now)

    tmp = f"{path}/.merge-tmp-{uuid.uuid4().hex[:8]}"
    (
        # co-locate each bucket in one task so a rewritten bucket dir
        # is ONE file (not shuffle-partitions-many shards per bucket);
        # at cluster scale pair this with maxRecordsPerFile to split
        # oversized buckets back into target-sized files
        merged.withColumn("bucket", b)
        .repartition(len(touched), "bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(tmp)
    )
    files_rewritten = bytes_rewritten = 0
    for i in touched:
        src, dst = f"{tmp}/bucket={i}", f"{path}/bucket={i}"
        old = f"{dst}.old-{uuid.uuid4().hex[:8]}"
        if os.path.isdir(src):
            new_files = _glob.glob(f"{src}/*.parquet")
            files_rewritten += len(new_files)
            bytes_rewritten += sum(os.path.getsize(f) for f in new_files)
            if os.path.exists(dst):
                os.rename(dst, old)
            os.rename(src, dst)
        elif os.path.exists(dst):  # every row of this bucket deleted
            os.rename(dst, old)
        shutil.rmtree(old, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    if "updated_at" in merged.columns:
        _update_stats(spark, path, key, n_buckets, touched)
    else:
        # no updated_at -> no freshness semantics to track; drop the
        # touched entries rather than pay a second read of the touched
        # slice for a rows-only manifest nothing consumes (the s17
        # per-batch fixed-cost finding, VERDICT r8 item 7)
        stats = _load_stats(path)
        if stats:
            for i in touched:
                stats.pop(str(i), None)
            _store_stats(path, stats)
    return {
        "n_buckets": n_buckets,
        "buckets_touched": len(touched),
        "files_rewritten": files_rewritten,
        "bytes_rewritten": bytes_rewritten,
        "files_total": files_total,
    }


BUCKET_STATS = "_STATS"  # per-bucket freshness manifest (underscore: invisible to scans)


def _load_stats(path: str) -> dict:
    import json

    p = os.path.join(path, BUCKET_STATS)
    if not os.path.exists(p):
        return {}
    with open(p) as f:
        return json.load(f)


def _store_stats(path: str, stats: dict) -> None:
    import json

    tmp = os.path.join(path, f"{BUCKET_STATS}.tmp-{uuid.uuid4().hex[:8]}")
    with open(tmp, "w") as f:
        json.dump(stats, f, indent=0, sort_keys=True)
    os.replace(tmp, os.path.join(path, BUCKET_STATS))  # atomic file swap


def _update_stats(
    spark: SparkSession, path: str, key: str, n_buckets: int,
    touched: list[int],
) -> None:
    """Advance the per-bucket freshness manifest for the touched
    buckets only: {bucket: {rows, max_updated_at}} — the table-side
    form of the reference's per-source watermark
    (mongodb_handler.py:261-289 get_last_update_time). Reads the
    POST-SWAP bucket directories (never a pre-swap lineage, whose
    re-execution would chase renamed files); bounded work: one agg
    over the touched slice, <= |touched| rows collected. Tables
    without an updated_at column skip freshness (rows still
    recorded)."""
    dirs = [
        f"{path}/bucket={i}" for i in touched
        if os.path.isdir(f"{path}/bucket={i}")
    ]
    stats = _load_stats(path)
    per_bucket: dict[int, dict] = {}
    if dirs:
        df = spark.read.parquet(*dirs)
        aggs = [F.count("*").alias("rows")]
        has_updated = "updated_at" in df.columns
        if has_updated:
            # full microsecond precision: a whole-second watermark
            # truncates merges landing later within the same second as
            # a consumer's checkpoint, and the strict '>' comparison in
            # changed_buckets_since would then skip those rows forever
            aggs.append(
                F.date_format(
                    F.max("updated_at"), "yyyy-MM-dd HH:mm:ss.SSSSSS"
                ).alias("max_upd")
            )
        b = bucket_expr(key, n_buckets)
        per_bucket = {
            int(r["bucket"]): r
            for r in df.withColumn("bucket", b).groupBy("bucket").agg(*aggs).collect()
        }
    else:
        has_updated = False
    for i in touched:
        r = per_bucket.get(i)
        if r is None:  # bucket emptied (delete leg) or never written
            stats.pop(str(i), None)
            continue
        stats[str(i)] = {
            "rows": int(r["rows"]),
            **({"max_updated_at": r["max_upd"]} if has_updated else {}),
        }
    _store_stats(path, stats)


def _canon_ts(s: str) -> str:
    """Canonical microsecond form for watermark string comparison:
    'yyyy-MM-dd HH:mm:ss[.f+]' -> fraction right-padded to >= 6 digits
    ('.000000' when absent), so a whole-second checkpoint compares
    EQUAL to (not less than) the same instant stored at full
    precision, and mixed-precision manifests (pre-/post-upgrade)
    order correctly."""
    if "." not in s:
        return s + ".000000"
    head, frac = s.split(".", 1)
    return f"{head}.{frac.ljust(6, '0')}"


def changed_buckets_since(path: str, since: str) -> list[int]:
    """Bucket ids whose max_updated_at is strictly later than `since`
    — pure manifest arithmetic, no scan. Watermarks are stored at full
    microsecond precision ('yyyy-MM-dd HH:mm:ss.SSSSSS'): a merge
    landing later within the same second as a consumer's checkpoint
    still advances the watermark, so its rows are never silently
    skipped. Both sides are canonicalized before the string compare."""
    cutoff = _canon_ts(since)
    return sorted(
        int(k)
        for k, v in _load_stats(path).items()
        if v.get("max_updated_at") is not None
        and _canon_ts(v["max_updated_at"]) > cutoff
    )


def read_changed_since(
    spark: SparkSession, path: str, since: str
) -> DataFrame | None:
    """Incremental downstream consumption: read ONLY the bucket dirs
    whose freshness watermark advanced past `since`, then filter to
    the actually-newer rows. Listing cost = |changed buckets|; an
    up-to-date consumer reads NOTHING. This is the reference's
    incremental-refresh contract (update_status / get_last_update_time
    per source) applied to the merged table itself: downstream jobs
    checkpoint a timestamp and pay only for what moved."""
    changed = changed_buckets_since(path, since)
    if not changed:
        return None
    dirs = [
        f"{path}/bucket={i}"
        for i in changed
        if os.path.isdir(f"{path}/bucket={i}")
    ]
    if not dirs:
        return None
    return spark.read.parquet(*dirs).filter(
        F.col("updated_at") > F.lit(since).cast("timestamp")
    )


def compact_buckets(
    spark: SparkSession,
    path: str,
    max_files_per_bucket: int = 1,
    min_files_to_compact: int = 2,
) -> dict:
    """Small-file compaction for the bucket table (the OPTIMIZE /
    bin-packing maintenance pass every file-based table needs at
    100 TB: a long merge history leaves each bucket with many small
    files, and scan cost degrades with file COUNT, not bytes).

    Rewrites — with the same per-bucket two-rename swap merge_scoped
    uses — only the buckets holding more than `min_files_to_compact`
    files, coalescing each to `max_files_per_bucket`. Content is
    byte-for-byte row-preserving (no merge logic runs); buckets
    already compact are not opened. Returns
    {buckets_compacted, files_before, files_after}.

    Serializes on the table's _MERGELOCK: compaction is the same
    read-then-swap sequence as merge_scoped, so an unlocked compaction
    racing a concurrent merge could snapshot a bucket, lose the race,
    and swap its stale pre-merge copy back in — silently dropping the
    merged batch. (write_bucket_table's full-republish path replaces
    the whole table dir — including the lock file's inode — and is an
    initial-load operation, documented as not concurrency-safe.)"""
    import fcntl
    import glob as _glob

    lock = open(os.path.join(path, "_MERGELOCK"), "w")
    fcntl.flock(lock, fcntl.LOCK_EX)
    try:
        bdirs = sorted(_glob.glob(f"{path}/bucket=*"))
        files_before = sum(len(_glob.glob(f"{d}/*.parquet")) for d in bdirs)
        todo = [
            d for d in bdirs
            if len(_glob.glob(f"{d}/*.parquet")) > max(min_files_to_compact, 1)
        ]
        for d in todo:
            tmp = f"{d}.compact-{uuid.uuid4().hex[:8]}"
            spark.read.parquet(d).coalesce(max_files_per_bucket).write.mode(
                "overwrite"
            ).parquet(tmp)
            old = f"{d}.old-{uuid.uuid4().hex[:8]}"
            os.rename(d, old)
            os.rename(tmp, d)
            shutil.rmtree(old, ignore_errors=True)
        files_after = sum(
            len(_glob.glob(f"{d}/*.parquet"))
            for d in sorted(_glob.glob(f"{path}/bucket=*"))
        )
    finally:
        fcntl.flock(lock, fcntl.LOCK_UN)
        lock.close()
    return {
        "buckets_compacted": len(todo),
        "files_before": files_before,
        "files_after": files_after,
    }


def merge_many(
    batches: dict[str, DataFrame],
    key: str = "id",
    now=None,
) -> DataFrame:
    """Single-shuffle multi-source merge.

    Folding `merge_upsert` runs one full-outer join per source — k
    shuffles for k sources, and (because full-outer output loses its
    partitioning guarantee) none of them reuse the previous exchange.
    When each source contributes one batch per run (the reference's
    nightly job shape, main.py:64-89), the same wide row can be built
    with ONE shuffle: tag rows by source, union, and groupBy(key)
    taking each source's payload with first(ignorenulls) — exactly one
    non-null candidate per (key, source), so the result is
    deterministic and equals the merge_upsert fold (tested).
    """
    now_col = F.lit(now).cast("timestamp") if now is not None else F.current_timestamp()
    srcs = list(batches)
    types = {s: dict(df.dtypes)[s] for s, df in batches.items()}
    tagged = []
    for s, df in batches.items():
        cols = [F.col(key)] + [
            (F.col(c) if c == s else F.lit(None).cast(types[c])).alias(c)
            for c in srcs
        ]
        tagged.append(df.select(*cols))
    allrows = tagged[0]
    for t in tagged[1:]:
        allrows = allrows.unionByName(t)
    aggs = [F.first(s, ignorenulls=True).alias(s) for s in srcs]
    return (
        allrows.groupBy(key)
        .agg(*aggs)
        .withColumn("created_at", now_col)
        .withColumn("updated_at", now_col)
    )

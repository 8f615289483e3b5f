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
queue. This module holds the merge semantics and the bucket hash;
the table they are committed to is the versioned bucket table
(`operators/merge_versioned.py`: hash(key)-bucketed generations, one
manifest + pointer replace per commit, time travel). `write_atomic`
is the whole-directory swap the replica and replay sinks use.

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


# ------------------------------------------------------- bucket hash
# The reference applies updates as per-key point writes
# (mongodb_handler.py:141-195 — each UpdateOne touches only the
# documents whose keys appear in the batch). The versioned bucket table
# (operators/merge_versioned.py) keeps those economics at file
# granularity: rows live in hash(key)-bucketed generation dirs, a merge
# rewrites only the buckets its batch touches, and one manifest +
# pointer replace commits all of them at once. These helpers are the
# one definition of that hash — the write path, scoped merges, pruned
# reads and point lookups all bucket through them.
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

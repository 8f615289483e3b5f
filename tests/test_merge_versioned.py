"""Laws for the versioned bucket table (VERDICT r8 item 2): scoped
merges with a cross-bucket atomic commit + time travel.

The composition contract: merge cost stays ∝ batch (only touched
buckets gain new generation dirs), yet the commit is all-or-nothing —
a crash between generation writes and the pointer replace leaves
readers on the old version, and every superseded version stays
readable until vacuumed.
"""

from __future__ import annotations

import glob
import os
import threading

from pyspark.sql import Row

from cvemate_spark.operators.merge import merge_upsert
from cvemate_spark.operators.merge_versioned import (
    latest_version,
    merge_scoped_versioned,
    read_bucket_for_key_versioned,
    read_bucket_table_versioned,
    vacuum_bucket_versions,
    write_bucket_table_versioned,
)

T0 = "2024-01-01 00:00:00"
T1 = "2024-01-02 00:00:00"
T2 = "2024-01-03 00:00:00"


def _batch(spark, src, rows):
    return spark.createDataFrame(
        [Row(id=k, **{src: v}) for k, v in rows.items()]
    )


def _as_map(df):
    return {r["id"]: r["nvd"] for r in df.collect()}


def _gens(path):
    return sorted(glob.glob(f"{path}/bucket=*/g-*"))


def test_versioned_scoped_merge_time_travel_and_scoping(spark, tmp_path):
    """Each merge commits a new version; old versions replay exactly;
    only touched buckets gain generations (untouched carried by
    manifest reference, zero bytes copied)."""
    base = _batch(spark, "nvd", {f"CVE-{i}": f"n{i}" for i in range(60)})
    path = str(tmp_path / "vbt1")
    v1 = write_bucket_table_versioned(
        merge_upsert(None, base, now=T0), path, key="id", n_buckets=8
    )
    assert v1 == 1 and latest_version(path) == 1
    gens_v1 = _gens(path)
    snap1 = _as_map(read_bucket_table_versioned(spark, path))

    stats = merge_scoped_versioned(
        spark, path, _batch(spark, "nvd", {"CVE-5": "v2", "CVE-777": "new"}),
        now=T1,
    )
    assert stats["version"] == 2 and latest_version(path) == 2
    assert 0 < stats["buckets_touched"] <= 2
    # scoping law: exactly |touched| NEW generation dirs; every v1
    # generation is still on disk, untouched
    gens_v2 = _gens(path)
    assert set(gens_v1) <= set(gens_v2)
    assert len(gens_v2) == len(gens_v1) + stats["buckets_touched"]

    m2 = _as_map(read_bucket_table_versioned(spark, path))
    assert m2["CVE-5"] == "v2" and m2["CVE-777"] == "new"
    assert len(m2) == 61
    # time travel: version 1 replays the pre-merge table exactly
    assert _as_map(read_bucket_table_versioned(spark, path, version=1)) == snap1

    # point lookup prunes to one generation dir, per version
    assert read_bucket_for_key_versioned(
        spark, path, "CVE-5"
    ).collect()[0]["nvd"] == "v2"
    assert read_bucket_for_key_versioned(
        spark, path, "CVE-5", version=1
    ).collect()[0]["nvd"] == "n5"


def test_versioned_merge_delete_leg(spark, tmp_path):
    base = _batch(spark, "nvd", {f"CVE-{i}": f"n{i}" for i in range(20)})
    path = str(tmp_path / "vbt2")
    write_bucket_table_versioned(
        merge_upsert(None, base, now=T0), path, key="id", n_buckets=4
    )
    batch = spark.createDataFrame(
        [
            Row(id="CVE-1", nvd="upd", _deleted=False),
            Row(id="CVE-2", nvd=None, _deleted=True),
        ]
    )
    merge_scoped_versioned(spark, path, batch, now=T1, deleted_col="_deleted")
    m = _as_map(read_bucket_table_versioned(spark, path))
    assert m["CVE-1"] == "upd" and "CVE-2" not in m and len(m) == 19
    # the tombstoned key is still present in version 1 (time travel)
    assert "CVE-2" in _as_map(read_bucket_table_versioned(spark, path, 1))


def test_crash_before_pointer_leaves_readers_on_old_version(
    spark, tmp_path, monkeypatch
):
    """The item-2 law: a merger dying between generation writes and the
    pointer replace must be invisible — readers resolve the old
    manifest, the next merge proceeds from the old version, and vacuum
    reclaims the orphan generations."""
    import pytest

    from cvemate_spark.operators import merge_versioned as mv

    base = _batch(spark, "nvd", {f"CVE-{i}": f"n{i}" for i in range(40)})
    path = str(tmp_path / "vbt3")
    write_bucket_table_versioned(
        merge_upsert(None, base, now=T0), path, key="id", n_buckets=4
    )
    snap1 = _as_map(read_bucket_table_versioned(spark, path))
    gens_v1 = set(_gens(path))

    def boom(*args, **kwargs):
        raise RuntimeError("simulated crash before commit")

    monkeypatch.setattr(mv, "_commit", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        merge_scoped_versioned(
            spark, path, _batch(spark, "nvd", {"CVE-3": "LOST"}), now=T1
        )
    monkeypatch.undo()

    # readers: old pointer, old content — the failed batch is invisible
    assert latest_version(path) == 1
    assert _as_map(read_bucket_table_versioned(spark, path)) == snap1

    # the next merge commits normally on top of v1 (the crashed
    # merger's manifest number is allocated past, never published)
    stats = merge_scoped_versioned(
        spark, path, _batch(spark, "nvd", {"CVE-7": "ok"}), now=T2
    )
    assert latest_version(path) == stats["version"]
    m = _as_map(read_bucket_table_versioned(spark, path))
    assert m["CVE-7"] == "ok" and m["CVE-3"] == "n3"  # LOST never landed

    # vacuum reclaims the crashed merger's orphan generations but no
    # generation any surviving manifest references
    out = vacuum_bucket_versions(path, keep=len(mv._list_versions(path)))
    assert out["removed_versions"] == []
    assert out["removed_gens"]  # the orphans
    assert gens_v1 <= set(_gens(path))
    assert _as_map(read_bucket_table_versioned(spark, path)) == m


def test_concurrent_versioned_mergers_serialize_and_keep_both(
    spark, tmp_path
):
    """Two mergers racing on the same table: both batches land, the
    committed history is linear (distinct versions), and the final
    content equals the sequential result."""
    base = _batch(spark, "nvd", {f"CVE-{i}": f"n{i}" for i in range(30)})
    path = str(tmp_path / "vbt4")
    write_bucket_table_versioned(
        merge_upsert(None, base, now=T0), path, key="id", n_buckets=1
    )
    batches = [
        _batch(spark, "nvd", {"CVE-1": "left", "CVE-800": "L"}),
        _batch(spark, "nvd", {"CVE-2": "right", "CVE-900": "R"}),
    ]
    results, errs = [], []

    def run(i):
        try:
            results.append(
                merge_scoped_versioned(spark, path, batches[i], now=T1)
            )
        except Exception as e:  # pragma: no cover - failure reporting
            errs.append(e)

    ts = [threading.Thread(target=run, args=(i,)) for i in range(2)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs, errs
    assert sorted(r["version"] for r in results) == [2, 3]
    m = _as_map(read_bucket_table_versioned(spark, path))
    assert m["CVE-1"] == "left" and m["CVE-2"] == "right"
    assert m["CVE-800"] == "L" and m["CVE-900"] == "R"
    assert len(m) == 32
    # the intermediate version holds exactly the first committed batch
    mid = _as_map(read_bucket_table_versioned(spark, path, version=2))
    assert len(mid) == 31


def test_vacuum_respects_keep_grace_and_references(spark, tmp_path):
    base = _batch(spark, "nvd", {f"CVE-{i}": f"n{i}" for i in range(20)})
    path = str(tmp_path / "vbt5")
    write_bucket_table_versioned(
        merge_upsert(None, base, now=T0), path, key="id", n_buckets=2
    )
    for k, t in (("CVE-1", T1), ("CVE-2", T2)):
        merge_scoped_versioned(
            spark, path, _batch(spark, "nvd", {k: f"{k}-upd"}), now=t
        )
    assert latest_version(path) == 3

    # long grace: superseded versions survive (readers may be inside)
    out = vacuum_bucket_versions(path, keep=1, grace_seconds=3600)
    assert out == {"removed_versions": [], "removed_gens": []}

    out = vacuum_bucket_versions(path, keep=1, grace_seconds=0.0)
    assert out["removed_versions"] == [1, 2]
    latest = _as_map(read_bucket_table_versioned(spark, path))
    assert latest["CVE-1"] == "CVE-1-upd" and latest["CVE-2"] == "CVE-2-upd"
    # every surviving generation is referenced by the surviving manifest
    from cvemate_spark.operators.merge_versioned import _load_manifest

    referenced = {
        f"{path}/bucket={i}/{g}"
        for i, g in _load_manifest(path, 3).items()
    }
    assert set(_gens(path)) == referenced


def test_rebucket_online_layout_migration(spark, tmp_path):
    """The decade-growth story (r9): re-hashing 8 -> 32 buckets is one
    committed, content-neutral version. Time travel across the layout
    change resolves each version under its own bucket count; merges
    after the commit scope under the new layout; vacuum reclaims the
    old layout's generations once its manifests age out."""
    from cvemate_spark.operators.merge_versioned import (
        _load_manifest_full, rebucket_versioned,
    )

    base = _batch(spark, "nvd", {f"CVE-{i}": f"n{i}" for i in range(80)})
    path = str(tmp_path / "vbt6")
    write_bucket_table_versioned(
        merge_upsert(None, base, now=T0), path, key="id", n_buckets=8
    )
    merge_scoped_versioned(
        spark, path, _batch(spark, "nvd", {"CVE-3": "upd"}), now=T1
    )
    before = _as_map(read_bucket_table_versioned(spark, path))

    stats = rebucket_versioned(spark, path, 32)
    assert stats["version"] == 3
    assert (stats["n_buckets_before"], stats["n_buckets_after"]) == (8, 32)
    assert _load_manifest_full(path, 3)["n_buckets"] == 32
    assert _load_manifest_full(path, 2)["n_buckets"] == 8  # history intact

    # content-neutral; old versions replay under their own layout
    assert _as_map(read_bucket_table_versioned(spark, path)) == before
    assert _as_map(read_bucket_table_versioned(spark, path, 2)) == before
    assert "CVE-3" in _as_map(read_bucket_table_versioned(spark, path, 1))

    # point lookups prune correctly under BOTH layouts
    assert read_bucket_for_key_versioned(
        spark, path, "CVE-3"
    ).collect()[0]["nvd"] == "upd"
    assert read_bucket_for_key_versioned(
        spark, path, "CVE-3", version=1
    ).collect()[0]["nvd"] == "n3"

    # merges after the migration scope under the NEW modulus
    mstats = merge_scoped_versioned(
        spark, path, _batch(spark, "nvd", {"CVE-9": "post"}), now=T2
    )
    assert mstats["n_buckets"] == 32 and mstats["buckets_touched"] == 1
    after = _as_map(read_bucket_table_versioned(spark, path))
    assert after["CVE-9"] == "post" and after["CVE-3"] == "upd"

    # idempotent no-op when the layout already matches
    noop = rebucket_versioned(spark, path, 32)
    assert noop["buckets_written"] == 0

    # vacuum drops the old-layout manifests and their generations;
    # the surviving generation set is exactly the referenced one
    vacuum_bucket_versions(path, keep=1, grace_seconds=0.0)
    from cvemate_spark.operators.merge_versioned import _load_manifest

    live = _load_manifest(path, 4)
    referenced = {f"{path}/bucket={i}/{g}" for i, g in live.items()}
    assert set(_gens(path)) == referenced
    assert _as_map(read_bucket_table_versioned(spark, path)) == after


def test_incremental_consumption_off_the_commit_history(spark, tmp_path):
    """Version numbers as the consumer watermark: after a merge, only
    the touched buckets' generations differ between manifests, so
    read_changed_between(checkpoint) returns exactly those buckets'
    current rows — no clocks, no timestamp precision surface. A
    rebucket degrades safely to everything-changed; an up-to-date
    consumer reads nothing."""
    from cvemate_spark.operators.merge_versioned import (
        changed_buckets_between, read_changed_between, rebucket_versioned,
    )

    base = _batch(spark, "nvd", {f"CVE-{i}": f"n{i}" for i in range(60)})
    path = str(tmp_path / "vbt7")
    write_bucket_table_versioned(
        merge_upsert(None, base, now=T0), path, key="id", n_buckets=8
    )
    assert read_changed_between(spark, path, 1) is None  # up to date

    stats = merge_scoped_versioned(
        spark, path, _batch(spark, "nvd", {"CVE-5": "v2", "CVE-777": "new"}),
        now=T1,
    )
    changed = changed_buckets_between(path, 1)
    assert len(changed) == stats["buckets_touched"]
    got = {(r["id"], r["nvd"]) for r in read_changed_between(spark, path, 1).collect()}
    assert {("CVE-5", "v2"), ("CVE-777", "new")} <= got  # upserts present
    # bucket-granular: every returned row lives in a changed bucket
    from cvemate_spark.operators.merge import bucket_expr
    import pyspark.sql.functions as F

    buckets_of_got = {
        r[0] for r in read_changed_between(spark, path, 1)
        .select(bucket_expr("id", 8)).collect()
    }
    assert buckets_of_got <= set(changed)
    # checkpointed at the new version: nothing newer
    assert read_changed_between(spark, path, stats["version"]) is None

    # layout change: everything is "changed" for pre-rebucket readers
    rb = rebucket_versioned(spark, path, 32)
    assert len(changed_buckets_between(path, stats["version"])) == rb["buckets_written"]
    assert read_changed_between(spark, path, stats["version"]).count() == 61


def test_change_feed_classifies_and_applies(spark, tmp_path):
    """Key-level CDC off the commit history (Delta CDF shape): the
    feed between two versions classifies insert/update/delete, reads
    only the changed buckets' generations, and APPLYING it to the old
    snapshot through merge_upsert_deletes reproduces the new snapshot
    exactly (the table_diff law, now pruned by the manifest)."""
    import pyspark.sql.functions as F

    from cvemate_spark.operators.merge import merge_upsert_deletes
    from cvemate_spark.operators.merge_versioned import change_feed

    base = _batch(spark, "nvd", {f"CVE-{i}": f"n{i}" for i in range(50)})
    path = str(tmp_path / "vbt8")
    write_bucket_table_versioned(
        merge_upsert(None, base, now=T0), path, key="id", n_buckets=8
    )
    assert change_feed(spark, path, 1) is None  # up to date

    batch = spark.createDataFrame(
        [
            Row(id="CVE-3", nvd="v2", _deleted=False),   # update
            Row(id="CVE-3000", nvd="new", _deleted=False),  # insert
            Row(id="CVE-7", nvd=None, _deleted=True),    # delete
        ]
    )
    merge_scoped_versioned(spark, path, batch, now=T1, deleted_col="_deleted")

    feed = change_feed(spark, path, 1)
    got = {(r["id"], r["change"]) for r in feed.select("id", "change").collect()}
    assert got == {
        ("CVE-3", "update"), ("CVE-3000", "insert"), ("CVE-7", "delete")
    }
    # delete rows carry the OLD payload (surviving side)
    assert feed.filter(F.col("change") == "delete").collect()[0]["nvd"] == "n7"

    # apply law: old snapshot + feed == new snapshot (same `now` as the
    # merge that produced v2, so audit columns replay exactly too)
    old = read_bucket_table_versioned(spark, path, 1)
    new = read_bucket_table_versioned(spark, path, 2)
    applied = merge_upsert_deletes(
        old,
        feed.withColumn("_deleted", F.col("change") == "delete").drop("change"),
        key="id", deleted_col="_deleted", now=T1,
    )
    cols = sorted(new.columns)
    assert sorted(applied.columns) == cols
    assert (
        applied.select(*cols).exceptAll(new.select(*cols)).count() == 0
        and new.select(*cols).exceptAll(applied.select(*cols)).count() == 0
    )


def test_change_feed_vanished_bucket_and_rebucket(spark, tmp_path):
    """A bucket whose every row is deleted disappears from the new
    manifest — the feed must still emit those deletes (the vanished
    bucket counts as changed). Across a rebucket the feed falls back
    to a full diff, which is empty: the migration is content-neutral."""
    from cvemate_spark.operators.merge import bucket_expr
    from cvemate_spark.operators.merge_versioned import (
        change_feed, changed_buckets_between, rebucket_versioned,
    )

    keys = [f"CVE-{i}" for i in range(40)]
    base = _batch(spark, "nvd", {k: "x" for k in keys})
    path = str(tmp_path / "vbt9")
    write_bucket_table_versioned(
        merge_upsert(None, base, now=T0), path, key="id", n_buckets=4
    )
    # find every key of one bucket and tombstone ALL of them
    rows = (
        base.select("id", bucket_expr("id", 4).alias("b"))
        .filter("b = 0").select("id").collect()
    )
    victims = [r["id"] for r in rows]
    assert victims
    tomb = spark.createDataFrame(
        [Row(id=k, nvd=None, _deleted=True) for k in victims],
        "id string, nvd string, _deleted boolean",
    )
    merge_scoped_versioned(spark, path, tomb, now=T1, deleted_col="_deleted")

    assert 0 in changed_buckets_between(path, 1)  # vanished bucket = changed
    feed = change_feed(spark, path, 1)
    got = {(r["id"], r["change"]) for r in feed.select("id", "change").collect()}
    assert got == {(k, "delete") for k in victims}

    rebucket_versioned(spark, path, 16)
    # content-neutral: the exact cross-rebucket plan recognizes a
    # rebucket-only span as empty (None — same contract as an
    # up-to-date same-layout consumer)
    assert change_feed(spark, path, 2) is None


def test_history_describes_surviving_versions(spark, tmp_path):
    """DESCRIBE HISTORY from manifest arithmetic alone: operation
    provenance per commit, the stats ledger's row totals EQUAL the
    actual per-version counts, the pointer is marked, and vacuumed
    versions drop out (history == what time travel can still serve)."""
    from cvemate_spark.operators.merge_versioned import (
        history, rebucket_versioned,
    )

    base = _batch(spark, "nvd", {f"CVE-{i}": f"n{i}" for i in range(30)})
    path = str(tmp_path / "vbt14")
    write_bucket_table_versioned(
        merge_upsert(None, base, now=T0), path, key="id", n_buckets=4
    )
    merge_scoped_versioned(
        spark, path, _batch(spark, "nvd", {"CVE-3": "u", "CVE-99": "new"}),
        now=T1,
    )
    rebucket_versioned(spark, path, 8)

    h = history(path)
    assert [e["op"] for e in h] == ["load", "merge", "rebucket"]
    assert [e["version"] for e in h] == [1, 2, 3]
    assert [e["current"] for e in h] == [False, False, True]
    assert [e["n_buckets"] for e in h] == [4, 4, 8]
    # the stats ledger's row totals equal the actual snapshot counts
    for e in h:
        assert (
            e["rows"]
            == read_bucket_table_versioned(spark, path, e["version"]).count()
        )
    assert h[0]["rows"] == 30 and h[1]["rows"] == 31 and h[2]["rows"] == 31
    assert all(e["n_columns"] == 4 for e in h)  # id, nvd, created, updated

    vacuum_bucket_versions(path, keep=1, grace_seconds=0.0)
    assert [e["version"] for e in history(path)] == [3]


def test_schema_survives_merge_into_absent_buckets(spark, tmp_path):
    """Review-caught narrowing bug: a batch whose keys all hash into
    buckets ABSENT from the manifest reads no target (merged carries
    only the batch's columns) — the committed schema must still be the
    UNION with the previous one, or every earlier-evolved column would
    vanish from reads while its data sits on disk."""
    import pyspark.sql.functions as F

    from cvemate_spark.operators.merge import bucket_expr
    from cvemate_spark.operators.merge_versioned import table_schema

    # tiny table, many buckets -> most buckets absent from the manifest
    base = _batch(spark, "nvd", {f"CVE-{i}": f"n{i}" for i in range(3)})
    path = str(tmp_path / "vbt16")
    write_bucket_table_versioned(
        merge_upsert(None, base, now=T0), path, key="id", n_buckets=16
    )
    # evolve: add epss
    evolved = spark.createDataFrame([Row(id="CVE-0", nvd="e", epss=0.5)])
    merge_scoped_versioned(spark, path, evolved, now=T1)
    assert "epss" in table_schema(path).fieldNames()

    # find a key whose bucket is EMPTY (absent from the manifest)
    from cvemate_spark.operators.merge_versioned import _load_manifest

    present = {int(i) for i in _load_manifest(path, 2)}
    cands = spark.createDataFrame(
        [Row(id=f"NEW-{i}") for i in range(200)]
    ).select("id", bucket_expr("id", 16).alias("b"))
    new_key = (
        cands.filter(~F.col("b").isin(*present)).limit(1).collect()[0]["id"]
    )
    # base-columns-only batch into the absent bucket: target is None
    merge_scoped_versioned(
        spark, path, _batch(spark, "nvd", {new_key: "fresh"}), now=T2
    )
    assert "epss" in table_schema(path).fieldNames()  # NOT narrowed
    latest = read_bucket_table_versioned(spark, path)
    m = {r["id"]: r["epss"] for r in latest.collect()}
    assert m["CVE-0"] == 0.5 and m[new_key] is None


def test_feed_carries_legit_null_updates(spark, tmp_path):
    """Review-caught payload bug: an update whose NEW side legitimately
    nulls a column must feed NULL (row-level survivorship), not
    resurrect the old value via per-column coalesce — apply must
    reproduce the new snapshot exactly."""
    import pyspark.sql.functions as F

    from cvemate_spark.operators.merge import keep_latest_merge
    from cvemate_spark.operators.merge_versioned import (
        apply_change_feed, change_feed,
    )

    rows = [Row(uid=u, etype="a", seq=1, val=f"v{u}") for u in range(10)]
    path = str(tmp_path / "vbt17")
    write_bucket_table_versioned(
        spark.createDataFrame(rows), path, key="uid", n_buckets=2
    )
    merger = lambda cur, b: keep_latest_merge(  # noqa: E731
        cur, b, keys=["uid", "etype"], order_by=[F.desc("seq")]
    )
    # the winning newer row NULLS val
    batch = spark.createDataFrame(
        [Row(uid=3, etype="a", seq=2, val=None)],
        "uid long, etype string, seq long, val string",
    )
    merge_scoped_versioned(spark, path, batch, merger=merger)

    keys = ["uid", "etype"]
    feed = change_feed(spark, path, 1, key=keys)
    row = feed.collect()[0]
    assert (row["uid"], row["change"], row["val"]) == (3, "update", None)

    old = read_bucket_table_versioned(spark, path, 1)
    new = read_bucket_table_versioned(spark, path, 2)
    applied = apply_change_feed(old, feed, keys)
    cols = sorted(new.columns)
    assert (
        applied.select(*cols).exceptAll(new.select(*cols)).count() == 0
        and new.select(*cols).exceptAll(applied.select(*cols)).count() == 0
    )


def test_phantom_manifest_never_becomes_history(spark, tmp_path):
    """Review-caught law: a merger that died between writing its
    manifest and replacing the pointer must never have that manifest
    become readable committed history — the next commit purges it
    under the commit lock."""
    import pytest

    base = _batch(spark, "nvd", {f"CVE-{i}": f"n{i}" for i in range(20)})
    path = str(tmp_path / "vbt18")
    write_bucket_table_versioned(
        merge_upsert(None, base, now=T0), path, key="id", n_buckets=4
    )
    # a dead merger's leftover: manifest written, pointer never moved
    import json as _json

    with open(f"{path}/v-2.json", "w") as f:
        _json.dump(
            {"v": 2, "n_buckets": 4, "buckets": {}, "op": "merge"}, f
        )
    assert latest_version(path) == 1  # invisible so far

    merge_scoped_versioned(
        spark, path, _batch(spark, "nvd", {"CVE-1": "v2"}), now=T1
    )
    # the live commit skipped past the phantom's number AND purged it
    assert latest_version(path) == 3
    assert not os.path.exists(f"{path}/v-2.json")
    with pytest.raises(FileNotFoundError):
        read_bucket_table_versioned(spark, path, 2)
    m = _as_map(read_bucket_table_versioned(spark, path))
    assert m["CVE-1"] == "v2" and len(m) == 20


def test_full_reload_commits_next_version(spark, tmp_path):
    """Review-caught law: re-running the initial load on an existing
    table is a full-snapshot RELOAD committed as the next version —
    never a silently-discarded v1 with orphan generations — and a KEY
    change raises instead of corrupting point lookups."""
    import pytest

    base = _batch(spark, "nvd", {f"CVE-{i}": f"n{i}" for i in range(20)})
    path = str(tmp_path / "vbt19")
    write_bucket_table_versioned(
        merge_upsert(None, base, now=T0), path, key="id", n_buckets=4
    )
    merge_scoped_versioned(
        spark, path, _batch(spark, "nvd", {"CVE-1": "v2"}), now=T1
    )
    snap2 = _as_map(read_bucket_table_versioned(spark, path))

    fresh = _batch(spark, "nvd", {f"CVE-{i}": "reload" for i in range(5)})
    v = write_bucket_table_versioned(
        merge_upsert(None, fresh, now=T2), path, key="id", n_buckets=8
    )
    assert v == 3 and latest_version(path) == 3
    m = _as_map(read_bucket_table_versioned(spark, path))
    assert m == {f"CVE-{i}": "reload" for i in range(5)}
    # pre-reload versions stay time-travelable, each under its layout
    assert _as_map(read_bucket_table_versioned(spark, path, 2)) == snap2
    # merges after the reload scope under the NEW layout
    st = merge_scoped_versioned(
        spark, path, _batch(spark, "nvd", {"CVE-0": "post"}), now=T2
    )
    assert st["n_buckets"] == 8

    with pytest.raises(ValueError, match="keyed on"):
        write_bucket_table_versioned(fresh, path, key="nvd", n_buckets=8)


def test_phantom_invisible_to_every_read_surface(spark, tmp_path):
    """Review-caught law (pass 3): before any purging commit, a dead
    merger's manifest must be invisible to EVERY read surface — not
    just read_bucket_table_versioned: history, version_at, scans and
    point lookups all resolve against the committed pointer."""
    import json as _json
    import time as _time

    import pytest

    from cvemate_spark.operators.merge_versioned import (
        history, prune_generations, version_at,
    )

    base = _batch(spark, "nvd", {f"CVE-{i}": f"n{i}" for i in range(10)})
    path = str(tmp_path / "vbt20")
    write_bucket_table_versioned(
        merge_upsert(None, base, now=T0), path, key="id", n_buckets=4
    )
    with open(f"{path}/v-2.json", "w") as f:
        _json.dump(
            {"v": 2, "n_buckets": 4, "buckets": {}, "op": "merge",
             "committed_at": _time.time()}, f,
        )
    assert [e["version"] for e in history(path)] == [1]
    assert version_at(path, _time.time()) == 1
    with pytest.raises(ValueError, match="not committed"):
        prune_generations(path, "nvd", "a", "z", version=2)
    with pytest.raises(ValueError, match="not committed"):
        read_bucket_for_key_versioned(spark, path, "CVE-1", version=2)


def test_concurrent_reload_and_merge_both_land(spark, tmp_path):
    """Review-caught race: the reload's existing-version probe runs
    UNDER the merge lock, so a racing merge can no longer turn the
    reload's commit into a silent monotonic no-op — both operations
    land as distinct versions and the final state is one of the two
    serialization orders."""
    import threading

    base = _batch(spark, "nvd", {f"CVE-{i}": f"n{i}" for i in range(20)})
    path = str(tmp_path / "vbt21")
    write_bucket_table_versioned(
        merge_upsert(None, base, now=T0), path, key="id", n_buckets=4
    )
    reload_df = merge_upsert(
        None, _batch(spark, "nvd", {f"CVE-{i}": "reload" for i in range(5)}),
        now=T1,
    )
    batch = _batch(spark, "nvd", {"CVE-1": "merged"})
    errs = []

    def do_reload():
        try:
            write_bucket_table_versioned(
                reload_df, path, key="id", n_buckets=4
            )
        except Exception as e:  # pragma: no cover - failure reporting
            errs.append(e)

    def do_merge():
        try:
            merge_scoped_versioned(spark, path, batch, now=T1)
        except Exception as e:  # pragma: no cover - failure reporting
            errs.append(e)

    ts = [threading.Thread(target=do_reload), threading.Thread(target=do_merge)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs, errs
    assert latest_version(path) == 3  # BOTH landed, distinct versions
    m = _as_map(read_bucket_table_versioned(spark, path))
    # legal serializations: merge-then-reload (reload wins everything)
    # or reload-then-merge (merge applied on the reloaded 5 rows)
    reload_won = {f"CVE-{i}": "reload" for i in range(5)}
    merge_after = dict(reload_won, **{"CVE-1": "merged"})
    assert m in (reload_won, merge_after)


def test_rebucket_preserves_constraints_and_empty_table(spark, tmp_path):
    """Review-caught laws: a rebucket must carry the recorded CHECK
    constraints forward (dropping them silently disables enforcement),
    and re-bucketing a metadata-only EMPTY table is a pure manifest
    commit, after which merges scope under the new layout."""
    import pytest

    from cvemate_spark.operators.merge_versioned import (
        ConstraintViolation, _load_manifest_full,
        init_bucket_table_versioned, rebucket_versioned,
    )

    path = str(tmp_path / "vbt22")
    init_bucket_table_versioned(
        path, key="id", n_buckets=4,
        constraints={"nonneg": "score >= 0"},
    )
    rb = rebucket_versioned(spark, path, 16)  # empty: manifest-only
    assert rb["version"] == 2 and rb["buckets_written"] == 0
    assert _load_manifest_full(path, 2)["n_buckets"] == 16
    with pytest.raises(ConstraintViolation):
        merge_scoped_versioned(
            spark, path,
            spark.createDataFrame(
                [Row(id="a", score=-1.0)], "id string, score double"
            ),
            now=T1,
        )
    st = merge_scoped_versioned(
        spark, path,
        spark.createDataFrame(
            [Row(id="a", score=1.0)], "id string, score double"
        ),
        now=T1,
    )
    assert st["n_buckets"] == 16  # post-migration layout

    # init on an EXISTING table is ensure-exists: nothing rewritten
    from cvemate_spark.operators.merge_versioned import latest_version as lv

    assert init_bucket_table_versioned(path, key="id") == lv(path)
    with pytest.raises(ValueError, match="keyed on"):
        init_bucket_table_versioned(path, key="other")
    # the ensure-exists call kept constraints binding
    with pytest.raises(ConstraintViolation):
        merge_scoped_versioned(
            spark, path,
            spark.createDataFrame(
                [Row(id="b", score=-5.0)], "id string, score double"
            ),
            now=T2,
        )


def test_merger_emitting_foreign_keys_fails_loudly(spark, tmp_path):
    """Review-caught law: a custom merger returning rows whose keys
    fall OUTSIDE the batch's touched buckets must raise, not silently
    drop those rows with the staging dir."""
    import pytest

    from cvemate_spark.operators.merge import bucket_expr

    base = _batch(spark, "nvd", {f"CVE-{i}": f"n{i}" for i in range(20)})
    path = str(tmp_path / "vbt23")
    write_bucket_table_versioned(
        merge_upsert(None, base, now=T0), path, key="id", n_buckets=8
    )
    # find a foreign key living in a DIFFERENT bucket than the batch key
    import pyspark.sql.functions as F

    probe = spark.createDataFrame(
        [Row(id=f"ZZZ-{i}") for i in range(50)]
    ).select("id", bucket_expr("id", 8).alias("b"))
    batch_b = (
        spark.createDataFrame([Row(id="CVE-1")])
        .select(bucket_expr("id", 8).alias("b")).collect()[0]["b"]
    )
    foreign = (
        probe.filter(F.col("b") != batch_b).limit(1).collect()[0]["id"]
    )

    def bad_merger(cur, b):
        extra = spark.createDataFrame([Row(id=foreign, nvd="smuggled")])
        out = (
            b if cur is None
            else cur.unionByName(b, allowMissingColumns=True)
        )
        return out.unionByName(extra, allowMissingColumns=True)

    with pytest.raises(RuntimeError, match="outside its touched buckets"):
        merge_scoped_versioned(
            spark, path, _batch(spark, "nvd", {"CVE-1": "u"}),
            merger=bad_merger,
        )
    # atomic: nothing committed, no foreign rows
    assert latest_version(path) == 1
    assert "ZZZ" not in str(sorted(_as_map(
        read_bucket_table_versioned(spark, path)
    )))


def test_reader_racing_merge_sees_only_complete_snapshots(spark, tmp_path):
    """Snapshot isolation under a LIVE race (not just crash replay): a
    reader loop running concurrently with a multi-bucket merge may
    observe the pre-merge or the post-merge table, never a mix — every
    observed (row count, updated-key count) pair must be one of the two
    legal snapshots."""
    import threading

    import pyspark.sql.functions as F

    base = _batch(spark, "nvd", {f"CVE-{i}": f"n{i}" for i in range(200)})
    path = str(tmp_path / "vbt24")
    write_bucket_table_versioned(
        merge_upsert(None, base, now=T0), path, key="id", n_buckets=8
    )
    # a merge touching every bucket: updates spread over all 200 keys
    batch = _batch(
        spark, "nvd", {f"CVE-{i}": "NEW" for i in range(0, 200, 3)}
    )
    n_updated = 67  # ceil(200/3)
    observations, errs = [], []
    done = threading.Event()

    def reader():
        try:
            while not done.is_set():
                df = read_bucket_table_versioned(spark, path)
                row = df.agg(
                    F.count("*").alias("n"),
                    F.count(F.when(F.col("nvd") == "NEW", 1)).alias("u"),
                ).collect()[0]
                observations.append((row["n"], row["u"]))
        except Exception as e:  # pragma: no cover - failure reporting
            errs.append(e)

    t = threading.Thread(target=reader)
    t.start()
    try:
        merge_scoped_versioned(spark, path, batch, now=T1)
    finally:
        done.set()
        t.join()
    assert not errs, errs
    legal = {(200, 0), (200, n_updated)}
    assert observations and set(observations) <= legal, set(observations)
    # and the reader did observe the flip once the merge returned
    final = read_bucket_table_versioned(spark, path)
    assert final.filter(F.col("nvd") == "NEW").count() == n_updated


def test_timestamp_as_of_resolution(spark, tmp_path):
    """TIMESTAMP AS OF: commits carry a wall-clock stamp; version_at
    resolves the newest version committed at-or-before a point in
    time. Before retained history -> loud error (never a silent wrong
    snapshot)."""
    import time as _time

    import pytest

    from cvemate_spark.operators.merge_versioned import version_at

    base = _batch(spark, "nvd", {f"CVE-{i}": f"n{i}" for i in range(20)})
    path = str(tmp_path / "vbt15")
    t_before = _time.time()
    write_bucket_table_versioned(
        merge_upsert(None, base, now=T0), path, key="id", n_buckets=4
    )
    t_mid = _time.time()
    merge_scoped_versioned(
        spark, path, _batch(spark, "nvd", {"CVE-1": "v2"}), now=T1
    )

    assert version_at(path, t_mid) == 1
    assert version_at(path, _time.time()) == 2
    with pytest.raises(ValueError, match="at or before"):
        version_at(path, t_before)
    # the resolved version feeds straight into time travel
    m = _as_map(
        read_bucket_table_versioned(spark, path, version_at(path, t_mid))
    )
    assert m["CVE-1"] == "n1"


def test_check_constraints_reject_atomically(spark, tmp_path):
    """Table-level CHECK constraints (the Delta shape): recorded at
    creation, re-enforced on every merge's slice BEFORE any byte
    lands. A violating batch is rejected atomically — no generations,
    no commit, readers unaffected; NULL passes (SQL CHECK semantics);
    per-call constraints compose with the recorded ones."""
    import pytest

    from cvemate_spark.operators.merge_versioned import ConstraintViolation

    rows = [Row(id=f"CVE-{i}", nvd=f"n{i}", score=float(i)) for i in range(30)]
    path = str(tmp_path / "vbt13")
    write_bucket_table_versioned(
        spark.createDataFrame(rows), path, key="id", n_buckets=4,
        constraints={"score_nonneg": "score >= 0", "nvd_set": "nvd IS NOT NULL"},
    )
    # a violating INITIAL load is rejected before any table exists
    with pytest.raises(ConstraintViolation):
        write_bucket_table_versioned(
            spark.createDataFrame([Row(id="x", nvd="y", score=-1.0)]),
            str(tmp_path / "never"), key="id",
            constraints={"score_nonneg": "score >= 0"},
        )

    # passing merge commits; NULL passes CHECK (SQL semantics)
    merge_scoped_versioned(
        spark, path,
        spark.createDataFrame(
            [Row(id="CVE-3", nvd="ok", score=None)],
            "id string, nvd string, score double",
        ),
        now=T1,
    )
    assert latest_version(path) == 2

    # violating merge: atomic rejection, counts per constraint.
    # Constraints judge the MERGED result, not the raw batch: CVE-6's
    # NULL nvd coalesces to the existing value (NULL update = keep, the
    # $set-per-column merge law), so only the NEW key's NULL violates.
    snap = _as_map(read_bucket_table_versioned(spark, path))
    gens_before = set(_gens(path))
    with pytest.raises(ConstraintViolation) as exc:
        merge_scoped_versioned(
            spark, path,
            spark.createDataFrame(
                [
                    Row(id="CVE-5", nvd="bad", score=-2.0),
                    Row(id="CVE-6", nvd=None, score=-3.0),
                    Row(id="CVE-new", nvd=None, score=1.0),
                ],
                "id string, nvd string, score double",
            ),
            now=T2,
        )
    assert exc.value.violations == {"score_nonneg": 2, "nvd_set": 1}
    assert latest_version(path) == 2  # nothing committed
    assert set(_gens(path)) == gens_before  # not even orphans
    assert _as_map(read_bucket_table_versioned(spark, path)) == snap

    # per-call constraints compose with the recorded ones; they judge
    # the whole merged slice (existing rows of touched buckets too —
    # a table invariant, not a batch filter), so pre-existing scores
    # above the cap count as violations alongside the batch row
    with pytest.raises(ConstraintViolation) as exc2:
        merge_scoped_versioned(
            spark, path,
            spark.createDataFrame(
                [Row(id="CVE-7", nvd="zz", score=5.0)],
                "id string, nvd string, score double",
            ),
            now=T2,
            constraints={"score_cap": "score <= 1.0"},
        )
    assert set(exc2.value.violations) == {"score_cap"}
    assert exc2.value.violations["score_cap"] >= 1

    # constraints recorded at metadata-only init bind future merges too
    from cvemate_spark.operators.merge_versioned import (
        init_bucket_table_versioned,
    )

    path2 = str(tmp_path / "vbt13b")
    init_bucket_table_versioned(
        path2, key="id", n_buckets=2,
        constraints={"score_nonneg": "score >= 0"},
    )
    with pytest.raises(ConstraintViolation):
        merge_scoped_versioned(
            spark, path2,
            spark.createDataFrame(
                [Row(id="a", score=-1.0)], "id string, score double"
            ),
            now=T1,
        )
    assert latest_version(path2) == 1  # empty init only


def test_composite_key_feed_and_generic_apply(spark, tmp_path):
    """Tables maintained by a custom merger hold several rows per
    BUCKET key (keep-latest buckets on user_id, identity is
    (user_id, event_type)): change_feed takes the COMPOSITE key —
    which must include the bucket key, or pruning would be unsound
    (enforced) — and apply_change_feed is the generic inverse: replica
    @old + feed == snapshot@new exactly, idempotent under redelivery."""
    import pytest
    from pyspark.sql import functions as F

    from cvemate_spark.operators.merge import keep_latest_merge
    from cvemate_spark.operators.merge_versioned import (
        apply_change_feed, change_feed,
    )

    rows = [
        Row(uid=u, etype=t, seq=1, val=f"{u}-{t}-1")
        for u in range(20) for t in ("a", "b")
    ]
    base = spark.createDataFrame(rows)
    path = str(tmp_path / "vbt12")
    write_bucket_table_versioned(base, path, key="uid", n_buckets=4)

    merger = lambda cur, b: keep_latest_merge(  # noqa: E731
        cur, b, keys=["uid", "etype"], order_by=[F.desc("seq")]
    )
    batch = spark.createDataFrame(
        [
            Row(uid=3, etype="a", seq=2, val="3-a-2"),   # update (wins)
            Row(uid=3, etype="c", seq=1, val="3-c-1"),   # insert (new type)
            Row(uid=7, etype="b", seq=0, val="stale"),   # LOSES: nochange
            Row(uid=50, etype="a", seq=1, val="50-a-1"),  # insert (new uid)
        ]
    )
    merge_scoped_versioned(spark, path, batch, merger=merger)

    with pytest.raises(ValueError, match="must include the bucket key"):
        change_feed(spark, path, 1, key="etype")

    keys = ["uid", "etype"]
    feed = change_feed(spark, path, 1, key=keys)
    got = {
        (r["uid"], r["etype"]): r["change"]
        for r in feed.select("uid", "etype", "change").collect()
    }
    # the stale row lost keep-latest -> its key must NOT appear
    assert got == {
        (3, "a"): "update", (3, "c"): "insert", (50, "a"): "insert"
    }

    old = read_bucket_table_versioned(spark, path, 1)
    new = read_bucket_table_versioned(spark, path, 2)
    applied = apply_change_feed(old, feed, keys)
    cols = sorted(new.columns)

    def _eq(a, b):
        return (
            a.select(*cols).exceptAll(b.select(*cols)).count() == 0
            and b.select(*cols).exceptAll(a.select(*cols)).count() == 0
        )

    assert _eq(applied, new)
    # idempotent: redelivering the same feed changes nothing
    assert _eq(apply_change_feed(applied, feed, keys), new)
    # bootstrap: applying to an empty replica yields the live rows
    boot = apply_change_feed(None, feed, keys)
    assert boot.count() == 3


def test_stats_pruned_scan_equals_full_scan(spark, tmp_path):
    """DATA SKIPPING: manifests carry per-generation column min/max
    harvested from parquet footers at commit time. The laws: (a) a
    stats-pruned scan is EXACTLY the full scan + filter for any range;
    (b) a no-overlap range skips every generation and returns empty;
    (c) freshness (`updated_at >= merge time`) prunes to exactly the
    buckets the merge rewrote; (d) an all-null column skips outright;
    (e) point lookups prove definite misses from key bounds without
    reading; (f) stats survive carrying across commits and a rebucket
    recomputes them under the new layout."""
    import pyspark.sql.functions as F
    from pyspark.sql import Row

    from cvemate_spark.operators.merge_versioned import (
        _load_manifest_full, prune_generations, rebucket_versioned,
        scan_versioned,
    )

    old_conf = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set(
        "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
    )
    try:
        import datetime
        import decimal

        base = spark.createDataFrame(
            [
                Row(id=f"CVE-{i:04d}", nvd=f"n{i}", score=float(i),
                    void=None,
                    amt=decimal.Decimal(f"{i}.25"),
                    day=datetime.date(2024, 1, 1)
                    + datetime.timedelta(days=i))
                for i in range(200)
            ],
            "id string, nvd string, score double, void double, "
            "amt decimal(10,2), day date",
        )
        path = str(tmp_path / "vbt11")
        write_bucket_table_versioned(
            merge_upsert(None, base, now=T0), path, key="id", n_buckets=8
        )
        stats = merge_scoped_versioned(
            spark, path,
            spark.createDataFrame(
                [Row(id="CVE-0003", nvd="hot", score=1000.0),
                 Row(id="CVE-0007", nvd="hot", score=1007.0)],
                "id string, nvd string, score double",
            ),
            now=T1,
        )

        full = read_bucket_table_versioned(spark, path)

        def law(column, lo, hi):
            got = {
                tuple(r) for r in scan_versioned(
                    spark, path, column, lo, hi
                ).collect()
            }
            c = F.col(column)
            want = full
            if lo is not None:
                want = want.filter(c >= F.lit(lo))
            if hi is not None:
                want = want.filter(c <= F.lit(hi))
            assert got == {tuple(r) for r in want.collect()}, (column, lo, hi)

        law("score", 50.0, 60.0)
        law("score", None, 10.0)
        law("score", 999.0, None)       # only the merged rows
        law("score", 0.0, 0.0)          # boundary: exactly the min row
        law("id", "CVE-0010", "CVE-0020")   # string bounds
        law("void", 0.0, 100.0)         # all-null column: empty
        law("amt", 10.0, 20.0)   # decimal: exact result either way
        law("day", "2024-01-10", "2024-01-20")  # date bounds
        # date prune: a far range skips every generation; decimal gets
        # NO stats from this pyarrow (INT64-decimal extraction raises
        # ArrowNotImplementedError -> harvested as absent), so it must
        # conservatively read everything — never a wrong skip
        assert prune_generations(path, "day", "2030-01-01", None)["read"] == []
        assert prune_generations(path, "amt", 9999.0, None)["skipped"] == []

        # (b) no-overlap range: every generation skipped, result typed
        plan = prune_generations(path, "score", 5000.0, 6000.0)
        assert plan["read"] == [] and len(plan["skipped"]) == 8
        assert scan_versioned(spark, path, "score", 5000.0, 6000.0).count() == 0
        # (d) all-null column skips every generation outright
        assert prune_generations(path, "void", 0.0, 100.0)["read"] == []

        # (c) freshness prunes to exactly the merge-touched buckets
        fresh = prune_generations(path, "updated_at", T1, None)
        assert len(fresh["read"]) == stats["buckets_touched"]
        assert len(fresh["skipped"]) == 8 - stats["buckets_touched"]
        got = {
            r["id"] for r in scan_versioned(
                spark, path, "updated_at", T1
            ).collect()
        }
        assert got == {"CVE-0003", "CVE-0007"}

        # (e) point lookup: definite miss from key bounds -> None;
        # boundary keys still found
        assert read_bucket_for_key_versioned(spark, path, "CVE-zzzz") is None
        assert read_bucket_for_key_versioned(
            spark, path, "CVE-0000"
        ).collect()[0]["nvd"] == "n0"

        # unbounded scan (no lo, no hi) = the plain snapshot, INCLUDING
        # every row of the all-null generation (nothing may be skipped
        # when no residual filter will run — the review-caught law)
        plan_all = prune_generations(path, "void", None, None)
        assert plan_all["skipped"] == []
        assert (
            scan_versioned(spark, path, "void").count() == full.count()
        )
        # a raw-int bound on a timestamp column must NOT prune (the
        # planner's internal unit is micros; Spark's residual filter
        # would read the same int differently — ambiguity never skips)
        assert (
            prune_generations(path, "updated_at", 1767225600, None)[
                "skipped"
            ]
            == []
        )

        # conjunctive (multi-column) pruning: AND of ranges — exact
        # result, and the read set is the INTERSECTION (the freshness
        # AND dimension-bound one-pass shape)
        from cvemate_spark.operators.merge_versioned import (
            prune_generations_multi, scan_versioned_multi,
        )

        preds = [("updated_at", T1, None), ("score", 1005.0, None)]
        got = {
            tuple(r)
            for r in scan_versioned_multi(spark, path, preds).collect()
        }
        want = full.filter(
            (F.col("updated_at") >= F.lit(T1)) & (F.col("score") >= 1005.0)
        )
        assert got == {tuple(r) for r in want.collect()}
        multi = prune_generations_multi(path, preds)
        single = prune_generations(path, "updated_at", T1, None)
        assert set(multi["read"]) <= set(single["read"])  # intersection
        assert len(multi["read"]) + len(multi["skipped"]) == 8

        # (f) stats cover every bucket after the carry, and a rebucket
        # recomputes them under the new layout
        m = _load_manifest_full(path, 2)
        assert set(m["stats"]) == set(m["buckets"])
        rebucket_versioned(spark, path, 16)
        m3 = _load_manifest_full(path, 3)
        assert set(m3["stats"]) == set(m3["buckets"])
        law("score", 999.0, None)  # pruned scan still exact post-rebucket
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", old_conf)


def test_schema_evolution_through_merge(spark, tmp_path):
    """SCHEMA EVOLUTION: a merge whose batch carries a NEW column
    evolves the table — the manifest records the committed schema, so
    (a) the latest snapshot has the column with nulls for rows in
    generations written before it existed, (b) time travel returns the
    table AS IT WAS (no column), (c) point lookups on untouched
    buckets see the evolved schema, (d) a later merge WITHOUT the
    column carries existing values through, and (e) the change feed
    carries the added column across the evolution boundary."""
    import pyspark.sql.functions as F

    from cvemate_spark.operators.merge import merge_upsert_deletes
    from cvemate_spark.operators.merge_versioned import (
        change_feed, table_schema,
    )

    base = _batch(spark, "nvd", {f"CVE-{i}": f"n{i}" for i in range(40)})
    path = str(tmp_path / "vbt10")
    write_bucket_table_versioned(
        merge_upsert(None, base, now=T0), path, key="id", n_buckets=8
    )
    assert "epss" not in table_schema(path).fieldNames()

    # v2: the batch carries a NEW column
    evolved = spark.createDataFrame(
        [Row(id="CVE-3", nvd="v2", epss=0.97), Row(id="CVE-900", nvd="new", epss=0.01)]
    )
    merge_scoped_versioned(spark, path, evolved, now=T1)

    latest = read_bucket_table_versioned(spark, path)
    assert "epss" in latest.columns
    m = {r["id"]: r["epss"] for r in latest.collect()}
    assert m["CVE-3"] == 0.97 and m["CVE-900"] == 0.01
    assert m["CVE-5"] is None and len(m) == 41  # untouched rows: null
    # time travel: version 1 has NO epss column (the as-of schema)
    assert "epss" not in read_bucket_table_versioned(spark, path, 1).columns
    assert "epss" not in table_schema(path, 1).fieldNames()

    # point lookup on a key in an UNTOUCHED bucket sees the evolved
    # schema (its generation's files predate the column)
    untouched = read_bucket_for_key_versioned(spark, path, "CVE-5")
    assert "epss" in untouched.columns
    assert untouched.collect()[0]["epss"] is None

    # feed across the evolution boundary carries the new column
    feed = change_feed(spark, path, 1, 2)
    fm = {r["id"]: (r["change"], r["epss"]) for r in feed.collect()}
    assert fm == {"CVE-3": ("update", 0.97), "CVE-900": ("insert", 0.01)}
    # apply law still holds across the boundary
    applied = merge_upsert_deletes(
        read_bucket_table_versioned(spark, path, 1),
        feed.withColumn("_deleted", F.col("change") == "delete").drop("change"),
        key="id", deleted_col="_deleted", now=T1,
    )
    cols = sorted(latest.columns)
    assert (
        applied.select(*cols).exceptAll(latest.select(*cols)).count() == 0
        and latest.select(*cols).exceptAll(applied.select(*cols)).count() == 0
    )

    # the GENERIC apply (apply_change_feed) also crosses the boundary:
    # the un-evolved replica gains the column as nulls via the union
    from cvemate_spark.operators.merge_versioned import apply_change_feed

    applied2 = apply_change_feed(
        read_bucket_table_versioned(spark, path, 1), feed, "id"
    )
    assert (
        applied2.select(*cols).exceptAll(latest.select(*cols)).count() == 0
        and latest.select(*cols).exceptAll(applied2.select(*cols)).count()
        == 0
    )

    # v3: a merge WITHOUT the new column must not un-evolve the table
    merge_scoped_versioned(
        spark, path, _batch(spark, "nvd", {"CVE-3": "v3", "CVE-8": "v3"}),
        now=T2,
    )
    v3 = read_bucket_table_versioned(spark, path)
    assert "epss" in v3.columns
    m3 = {r["id"]: r["epss"] for r in v3.collect()}
    assert m3["CVE-3"] == 0.97  # carried through the column-less merge


def test_merge_type_conflict_raises_before_any_write(spark, tmp_path):
    """Schema ENFORCEMENT (round-10 advice): a merge batch that
    redefines a committed column at a conflicting type must be
    rejected BEFORE a byte lands. The dangerous path is a batch
    touching only manifest-ABSENT buckets — the target slice is None,
    so nothing unions the batch against the committed types at
    analysis time, and the old code would commit a manifest schema
    under which every untouched bucket's parquet files fail to read
    (SchemaColumnConvertNotSupported): a successful commit bricking
    reads of data it never touched."""
    import pytest

    from cvemate_spark.operators.merge_versioned import (
        SchemaConflict, init_bucket_table_versioned,
    )

    path = str(tmp_path / "vbt_typeconf")
    init_bucket_table_versioned(path, key="id", n_buckets=8)
    base = spark.createDataFrame([Row(id="CVE-1", score=1.5)])
    merge_scoped_versioned(spark, path, base, now=T0)
    gens_before = _gens(path)

    # find a key whose bucket is ABSENT from the manifest (so the
    # merge sees target=None) and send `score` as a STRING
    from cvemate_spark.operators.merge import bucket_of_value
    from cvemate_spark.operators.merge_versioned import _load_manifest_full

    present = set(_load_manifest_full(path, latest_version(path))["buckets"])
    cand = next(
        k
        for k in (f"CVE-{i}" for i in range(2, 400))
        if str(bucket_of_value(spark, k, 8)) not in present
    )
    bad = spark.createDataFrame([Row(id=cand, score="not-a-number")])
    with pytest.raises(SchemaConflict, match="score"):
        merge_scoped_versioned(spark, path, bad, now=T1)
    # atomic rejection: no new version, no orphan generations, and the
    # committed table still reads cleanly
    assert latest_version(path) == 2
    assert _gens(path) == gens_before
    got = read_bucket_table_versioned(spark, path).collect()
    assert [(r["id"], r["score"]) for r in got] == [("CVE-1", 1.5)]

    # the same conflict through a touched bucket ALSO raises (the
    # union inside the merger would raise anyway; the enforcement
    # makes the failure mode uniform and pre-write)
    bad2 = spark.createDataFrame([Row(id="CVE-1", score="oops")])
    with pytest.raises(Exception):
        merge_scoped_versioned(spark, path, bad2, now=T1)
    assert latest_version(path) == 2


def test_reload_inherits_recorded_constraints(spark, tmp_path):
    """Round-10 advice: reloading an existing table WITHOUT re-passing
    `constraints` must carry the recorded CHECK constraints forward
    (the rebucket path already preserves meta fields for exactly this
    reason) — a reload is not an implicit DROP CONSTRAINT. An explicit
    dict (even {}) still overrides."""
    import pytest

    from cvemate_spark.operators.merge_versioned import ConstraintViolation

    path = str(tmp_path / "vbt_reload_cons")
    base = spark.createDataFrame([Row(id=f"CVE-{i}", score=float(i)) for i in range(10)])
    write_bucket_table_versioned(
        base, path, key="id", n_buckets=4,
        constraints={"nonneg": "score >= 0"},
    )
    # reload with constraints unspecified: inherited AND enforced
    write_bucket_table_versioned(base, path, key="id", n_buckets=4)
    with pytest.raises(ConstraintViolation):
        merge_scoped_versioned(
            spark, path, spark.createDataFrame([Row(id="CVE-1", score=-5.0)])
        )
    # a violating RELOAD is itself rejected under the inherited check
    with pytest.raises(ConstraintViolation):
        write_bucket_table_versioned(
            spark.createDataFrame([Row(id="CVE-1", score=-1.0)]),
            path, key="id", n_buckets=4,
        )
    # explicit {} clears: the merge that just failed now lands
    write_bucket_table_versioned(
        base, path, key="id", n_buckets=4, constraints={},
    )
    merge_scoped_versioned(
        spark, path, spark.createDataFrame([Row(id="CVE-1", score=-5.0)])
    )
    got = {
        r["id"]: r["score"]
        for r in read_bucket_table_versioned(spark, path).collect()
    }
    assert got["CVE-1"] == -5.0


def test_feed_replica_aba_revert_converges(spark, tmp_path):
    """The A-B-A law (round-10 advice): a replica whose applied-version
    marker travels ATOMICALLY with its rows (write_atomic(meta=...))
    converges even when a key is reverted across the crash span.

    Scenario: v2 sets K=B (replica applies it, then the consumer is
    killed — under the OLD design the external checkpoint would still
    say v1); v3 reverts K back to its v1 value A. A feed pulled from
    the STALE checkpoint (1 -> 3) classifies K as nochange and omits
    it — the replica would keep B forever. Pulled from the replica's
    own co-located version (2 -> 3), the revert is an update and the
    replica lands exactly on snapshot v3."""
    from cvemate_spark.operators.merge import (
        read_replica_meta, write_atomic,
    )
    from cvemate_spark.operators.merge_versioned import (
        apply_change_feed, change_feed,
    )

    src = str(tmp_path / "aba_src")
    replica = str(tmp_path / "aba_replica")
    base = _batch(spark, "nvd", {"CVE-K": "A", "CVE-2": "x", "CVE-3": "y"})
    write_bucket_table_versioned(
        merge_upsert(None, base, now=T0), src, key="id", n_buckets=4
    )

    def consume(kill_after_swap=False):
        m = read_replica_meta(replica)
        applied = m["applied_version"] if m else None
        v = latest_version(src)
        if applied is None:
            snap = read_bucket_table_versioned(spark, src)
            write_atomic(snap, replica, meta={"applied_version": v})
            return
        if v > applied:
            feed = change_feed(spark, src, applied, v)
            cur = spark.read.parquet(replica)
            out = apply_change_feed(cur, feed, "id") if feed is not None else cur
            write_atomic(out, replica, meta={"applied_version": v})

    consume()  # bootstrap at v1
    # v2: K -> B; consumer applies and is killed right after the swap
    merge_scoped_versioned(spark, src, _batch(spark, "nvd", {"CVE-K": "B"}), now=T1)
    consume(kill_after_swap=True)
    assert read_replica_meta(replica)["applied_version"] == 2
    # v3: K reverts to A (the A-B-A). now=T0 reverts the audit
    # columns too, making the row BYTE-IDENTICAL to version 1 — the
    # true A-B-A a row-level diff cannot see. v3 also touches another
    # key so the feed is non-empty either way.
    merge_scoped_versioned(
        spark, src, _batch(spark, "nvd", {"CVE-K": "A", "CVE-2": "x2"}), now=T0
    )
    # the stale-checkpoint feed (1 -> 3) indeed OMITS the reverted key:
    # this is the hole the co-located marker closes
    stale = change_feed(spark, src, 1, 3)
    assert "CVE-K" not in {r["id"] for r in stale.collect()}
    consume()
    got = {r["id"]: r["nvd"] for r in spark.read.parquet(replica).collect()}
    want = {
        r["id"]: r["nvd"]
        for r in read_bucket_table_versioned(spark, src).collect()
    }
    assert got == want and got["CVE-K"] == "A"
    assert read_replica_meta(replica)["applied_version"] == 3


def test_optimize_versioned_clustered_skipping_laws(spark, tmp_path):
    """The round-10 clustering surface (VERDICT r9 item 2), all laws
    in one table lifecycle:
    (1) optimize is CONTENT-NEUTRAL (snapshot identical before/after)
        and committed (one new version; the pre-optimize version still
        time-travels);
    (2) after clustering, a value-band scan prunes at FILE grain
        (prune_files reads < total ledgered files) and stays EXACT
        (pruned ≡ unpruned law at the new grain);
    (3) a later merge replaces touched buckets with single-file
        generations — their ledger disappears, pruning degrades to
        bucket grain for them (absent stats never skip), results exact;
    (4) subset optimize (incremental re-clustering) rewrites only the
        targeted buckets, content-neutral, and restores their ledger."""
    from pyspark.sql import functions as F

    from cvemate_spark.operators.merge_versioned import (
        _load_manifest_full,
        optimize_versioned,
        prune_files,
        scan_versioned,
    )

    path = str(tmp_path / "vbt_opt")
    df = spark.createDataFrame(
        [Row(id=i, val=float(i % 500), g=i % 3) for i in range(6000)]
    )
    write_bucket_table_versioned(df, path, key="id", n_buckets=4)

    def snap(v=None):
        return sorted(
            (r["id"], r["val"], r["g"])
            for r in read_bucket_table_versioned(spark, path, v).collect()
        )

    before = snap()
    r = optimize_versioned(spark, path, cluster_by=["val"], files_per_bucket=6)
    assert r["version"] == 2 and r["buckets_written"] == 4
    assert r["files_written"] > 4  # multi-file: the ledger exists
    # (1) content neutrality + time travel
    assert snap() == before and snap(1) == before
    assert latest_version(path) == 2
    m2 = _load_manifest_full(path, 2)
    assert m2["op"].startswith("optimize:val")
    assert all("fs" in m2["stats"][i] for i in m2["buckets"])

    # (2) file-grain pruning bites and is exact
    plan = prune_files(path, [("val", 50.0, 99.0)])
    assert 0 < plan["files_read"] < plan["files_total"]
    assert plan["skipped_files"]
    got = sorted(
        (r2["id"], r2["val"])
        for r2 in scan_versioned(spark, path, "val", 50.0, 99.0).collect()
    )
    want = sorted((i, v) for i, v, _ in before if 50.0 <= v <= 99.0)
    assert got == want

    # (3) merge de-clusters its touched buckets only; exactness holds
    merge_scoped_versioned(
        spark, path, spark.createDataFrame([Row(id=7, val=75.0, g=1)])
    )
    m3 = _load_manifest_full(path, latest_version(path))
    degraded = [i for i in m3["buckets"] if "fs" not in m3["stats"][i]]
    assert len(degraded) == 1
    got3 = {
        r2["id"]: r2["val"]
        for r2 in scan_versioned(spark, path, "val", 50.0, 99.0).collect()
    }
    assert got3[7] == 75.0
    assert len(got3) == len([1 for i, v, _ in before if 50.0 <= v <= 99.0 and i != 7]) + 1

    # (4) subset re-optimize restores the degraded bucket's ledger
    content_before = snap()
    r4 = optimize_versioned(
        spark, path, cluster_by=["val"], files_per_bucket=6,
        buckets=[int(degraded[0])],
    )
    assert r4["buckets_written"] == 1
    assert snap() == content_before
    m4 = _load_manifest_full(path, latest_version(path))
    assert all("fs" in m4["stats"][i] for i in m4["buckets"])
    # only the targeted bucket's generation moved
    moved = [i for i in m4["buckets"] if m4["buckets"][i] != m3["buckets"][i]]
    assert moved == degraded


def test_optimize_zorder_prunes_every_dimension(spark, tmp_path):
    """Z-ORDER law: with 2-D data clustered lexicographically by
    (x, y), a y-only band cannot prune files (every x-run spans the
    whole y range); the Morton interleave gives BOTH dimensions
    selectivity. Content neutrality and exactness hold for both
    layouts; the z layout must file-prune the y band strictly, and
    the x band must still prune too."""
    import random

    from cvemate_spark.operators.merge_versioned import (
        _load_manifest_full, optimize_versioned, prune_files,
        scan_versioned_multi,
    )

    rng = random.Random(7)
    rows = [
        Row(id=i, x=rng.randrange(1000), y=rng.randrange(1000))
        for i in range(20000)
    ]
    df = spark.createDataFrame(rows)

    def build(zorder):
        path = str(tmp_path / f"vbt_z{int(zorder)}")
        write_bucket_table_versioned(df, path, key="id", n_buckets=4)
        r = optimize_versioned(
            spark, path, cluster_by=["x", "y"], files_per_bucket=16,
            zorder=zorder,
        )
        assert r["files_written"] > 16
        return path

    lex, zed = build(False), build(True)
    m = _load_manifest_full(zed, 2)
    assert m["op"] == "optimize-z:x,y"

    want = sorted(
        (r.id, r.x, r.y) for r in rows if 400 <= r.y <= 499
    )
    for path in (lex, zed):
        got = sorted(
            (r["id"], r["x"], r["y"])
            for r in scan_versioned_multi(
                spark, path, [("y", 400, 499)]
            ).collect()
        )
        assert got == want  # exactness regardless of layout

    def frac_read(path, preds):
        p = prune_files(path, preds)
        return p["files_read"] / p["files_total"]

    y_band = [("y", 400, 499)]
    x_band = [("x", 400, 499)]
    box = [("x", 400, 499), ("y", 400, 499)]
    # lexicographic: x prunes hard, y prunes ~nothing
    assert frac_read(lex, x_band) <= 0.35
    assert frac_read(lex, y_band) >= 0.9
    # z-order: BOTH single-dimension bands prune strictly, and the
    # 2-D box prunes harder than either band alone
    assert frac_read(zed, x_band) <= 0.75
    assert frac_read(zed, y_band) <= 0.75
    assert frac_read(zed, box) < min(
        frac_read(zed, x_band), frac_read(zed, y_band)
    )
    # the headline comparison: on the dimension the lexicographic
    # sort NEGLECTS, z prunes strictly better (lex's x-primary layout
    # can still win on predicates that include x — that is the
    # expected trade, not a failure)
    assert frac_read(zed, y_band) < frac_read(lex, y_band) - 0.1


def test_key_bloom_point_lookup_laws(spark, tmp_path):
    """Key-bloom sidecars (round 10 — the Iceberg-puffin shape): an
    opted-in table writes a per-generation bloom of its key column;
    point lookups prove IN-RANGE misses without opening a data page.
    Laws: (a) NO FALSE NEGATIVES — every present key still returns
    its row, across load, merge, rebucket and optimize generations;
    (b) the bloom actually bites — a majority of absent in-range
    probes return None (FP rate is bounded, not zero); (c) a table
    WITHOUT the option never consults a bloom (sidecars absent); (d)
    reload inherits the option like constraints."""
    import glob as _glob
    import os

    from cvemate_spark.operators.merge_versioned import (
        KEYBLOOM_FILE, optimize_versioned, rebucket_versioned,
    )

    # sparse even keys: odd keys are in-range misses for the bloom
    base = spark.createDataFrame(
        [Row(id=2 * i, v=float(i)) for i in range(400)]
    )
    path = str(tmp_path / "vbt_bloom")
    write_bucket_table_versioned(
        base, path, key="id", n_buckets=4, key_bloom=True
    )
    sidecars = _glob.glob(f"{path}/bucket=*/g-*/{KEYBLOOM_FILE}")
    assert len(sidecars) == 4

    # (a) across the whole lifecycle: merge, rebucket, optimize
    merge_scoped_versioned(
        spark, path, spark.createDataFrame([Row(id=9000, v=1.0)])
    )
    rebucket_versioned(spark, path, 8)
    optimize_versioned(spark, path, cluster_by=["v"], files_per_bucket=3)
    present = [0, 2, 398 * 2, 9000]
    for kv in present:
        got = read_bucket_for_key_versioned(spark, path, kv)
        assert got is not None and got.count() == 1, kv
    # every current generation carries a sidecar (rebuilt per op)
    from cvemate_spark.operators.merge_versioned import _load_manifest_full

    m = _load_manifest_full(path, latest_version(path))
    for i, g in m["buckets"].items():
        assert os.path.exists(f"{path}/bucket={i}/{g}/{KEYBLOOM_FILE}"), i

    # (b) absent in-range probes: odd ids inside [0, 800]
    probes = list(range(1, 401, 2))
    proven_absent = sum(
        1
        for kv in probes
        if read_bucket_for_key_versioned(spark, path, kv) is None
    )
    # min/max alone can prove none of these (all in-range); the bloom
    # must prove the vast majority (FP ~2.5% at 8 bits/4 probes)
    assert proven_absent >= int(len(probes) * 0.8), proven_absent

    # (c) an un-opted table has no sidecars and still answers exactly
    path2 = str(tmp_path / "vbt_nobloom")
    write_bucket_table_versioned(base, path2, key="id", n_buckets=4)
    assert not _glob.glob(f"{path2}/bucket=*/g-*/{KEYBLOOM_FILE}")
    assert read_bucket_for_key_versioned(spark, path2, 2).count() == 1

    # (d) reload without re-passing the option keeps it
    write_bucket_table_versioned(base, path, key="id", n_buckets=4)
    import json as _json

    with open(f"{path}/_BUCKETS") as f:
        assert "key_bloom" in _json.load(f)
    m2 = _load_manifest_full(path, latest_version(path))
    for i, g in m2["buckets"].items():
        assert os.path.exists(f"{path}/bucket={i}/{g}/{KEYBLOOM_FILE}"), i


def test_history_log_matches_manifest_fallback(spark, tmp_path):
    """The commit log (round 10: O(V x tiny line) history/version_at
    instead of O(V x manifest load)) must agree EXACTLY with the
    manifest-derived rows: deleting the log file forces the fallback,
    and the two listings are identical field for field. Vacuum
    compacts the log to surviving versions; a version missing from
    the log (crash between pointer replace and append) still appears
    via fallback."""
    import os

    from cvemate_spark.operators.merge_versioned import (
        HISTORY_LOG, history, version_at,
    )

    path = str(tmp_path / "vbt_histlog")
    base = _batch(spark, "nvd", {f"CVE-{i}": f"n{i}" for i in range(30)})
    write_bucket_table_versioned(
        merge_upsert(None, base, now=T0), path, key="id", n_buckets=4
    )
    merge_scoped_versioned(
        spark, path, _batch(spark, "nvd", {"CVE-1": "v2"}), now=T1
    )
    merge_scoped_versioned(
        spark, path, _batch(spark, "nvd", {"CVE-2": "v3"}), now=T2
    )

    from_log = history(path)
    assert [h["version"] for h in from_log] == [1, 2, 3]
    assert [h["op"] for h in from_log] == ["load", "merge", "merge"]
    # the log file exists and carries one line per commit
    log_path = os.path.join(path, HISTORY_LOG)
    assert sum(1 for _ in open(log_path)) == 3

    # fallback equality: same rows with the log gone
    os.rename(log_path, log_path + ".bak")
    from_manifests = history(path)
    assert from_log == from_manifests
    # version_at agrees through both sources
    t_mid = from_log[1]["committed_at"]
    v_fb = version_at(path, t_mid)
    os.rename(log_path + ".bak", log_path)
    assert version_at(path, t_mid) == v_fb == 2

    # a TORN last line (crash mid-append) is skipped, not fatal
    with open(log_path, "a") as f:
        f.write('{"v": 99, "op": "gar')
    assert history(path) == from_log

    # vacuum compacts the log to surviving versions
    with open(log_path) as f:
        pass
    vacuum_bucket_versions(path, keep=1)
    kept = [h["version"] for h in history(path)]
    assert kept == [3]
    surviving_lines = [
        __import__("json").loads(ln)["v"] for ln in open(log_path)
    ]
    assert surviving_lines == [3]


# ---------------------------------------------------------------------
# Optimistic concurrency (merge_scoped_versioned_occ): the Delta-style
# multi-writer protocol — merge WORK runs lock-free, only commit
# validation serializes; disjoint-bucket writers rebase, overlapping
# writers retry from the new snapshot, exhaustion raises with the
# table untouched.
# ---------------------------------------------------------------------


def _buckets_of(spark, keys, n_buckets):
    from cvemate_spark.operators.merge import bucket_expr

    df = spark.createDataFrame([Row(id=k) for k in keys])
    return {
        r["id"]: r["b"]
        for r in df.select(
            "id", bucket_expr("id", n_buckets).alias("b")
        ).collect()
    }


def test_occ_disjoint_merges_overlap_and_serialize(spark, tmp_path):
    """Two OCC writers whose work phases GENUINELY overlap (both
    snapshot the same base version — a barrier in the pre-commit seam
    proves neither committed before the other finished its work):
    both land, exactly one rebases, and the final content equals the
    sequential application of both batches."""
    from cvemate_spark.operators.merge_versioned import (
        merge_scoped_versioned_occ,
    )

    keys = [f"CVE-{i}" for i in range(120)]
    base = _batch(spark, "nvd", {k: f"n{k}" for k in keys})
    path = str(tmp_path / "occ1")
    write_bucket_table_versioned(
        merge_upsert(None, base, now=T0), path, key="id", n_buckets=8
    )
    bmap = _buckets_of(spark, keys, 8)
    even = [k for k in keys if bmap[k] % 2 == 0][:10]
    odd = [k for k in keys if bmap[k] % 2 == 1][:10]
    assert even and odd
    batches = {
        "A": _batch(spark, "nvd", {k: "A" for k in even}),
        "B": _batch(spark, "nvd", {k: "B" for k in odd}),
    }
    barrier = threading.Barrier(2, timeout=120)
    results, errs = {}, []

    def run(name):
        try:
            results[name] = merge_scoped_versioned_occ(
                spark, path, batches[name], now=T1,
                pre_commit_hook=barrier.wait,
            )
        except Exception as e:  # pragma: no cover - failure reporting
            errs.append(e)

    ts = [threading.Thread(target=run, args=(n,)) for n in ("A", "B")]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs, errs
    assert sorted(r["version"] for r in results.values()) == [2, 3]
    assert sorted(r["rebased"] for r in results.values()) == [False, True]
    assert [r["attempts"] for r in results.values()] == [1, 1]
    expected = {k: f"n{k}" for k in keys}
    expected.update({k: "A" for k in even})
    expected.update({k: "B" for k in odd})
    assert _as_map(read_bucket_table_versioned(spark, path)) == expected
    # the intermediate version holds exactly the first-committed batch
    mid = _as_map(read_bucket_table_versioned(spark, path, version=2))
    a_mid = [k for k in even if mid[k] == "A"]
    b_mid = [k for k in odd if mid[k] == "B"]
    assert (len(a_mid), len(b_mid)) in ((len(even), 0), (0, len(odd)))


def test_occ_overlap_conflicts_retries_and_converges(spark, tmp_path):
    """A concurrent commit into the SAME bucket is a conflict: the OCC
    merge abandons its attempt and retries from the new snapshot —
    the retry re-reads the target, so the conflicting writer's row is
    upserted over, exactly the serial A-then-B result."""
    from cvemate_spark.operators.merge_versioned import (
        merge_scoped_versioned_occ,
    )

    base = _batch(spark, "nvd", {f"CVE-{i}": f"n{i}" for i in range(20)})
    path = str(tmp_path / "occ2")
    write_bucket_table_versioned(
        merge_upsert(None, base, now=T0), path, key="id", n_buckets=1
    )
    calls = []

    def inject_once():
        if not calls:
            calls.append(1)
            merge_scoped_versioned(
                spark, path,
                _batch(spark, "nvd", {"CVE-1": "A", "CVE-500": "A"}),
                now=T1,
            )

    res = merge_scoped_versioned_occ(
        spark, path, _batch(spark, "nvd", {"CVE-1": "B"}), now=T2,
        pre_commit_hook=inject_once,
    )
    assert res["attempts"] == 2 and res["rebased"] is False
    assert res["version"] == 3
    m = _as_map(read_bucket_table_versioned(spark, path))
    assert m["CVE-1"] == "B" and m["CVE-500"] == "A"


def test_occ_retry_exhaustion_raises_and_leaves_table_untouched(
    spark, tmp_path
):
    """Retry budget exhausted -> ConcurrentWriteConflict; the loser's
    generations are unreferenced orphans vacuum reclaims; committed
    content is exactly the winners'."""
    import pytest

    from cvemate_spark.operators import merge_versioned as mv
    from cvemate_spark.operators.merge_versioned import (
        ConcurrentWriteConflict,
        merge_scoped_versioned_occ,
    )

    base = _batch(spark, "nvd", {f"CVE-{i}": f"n{i}" for i in range(10)})
    path = str(tmp_path / "occ3")
    write_bucket_table_versioned(
        merge_upsert(None, base, now=T0), path, key="id", n_buckets=1
    )
    seq = []

    def always_conflict():
        seq.append(1)
        merge_scoped_versioned(
            spark, path,
            _batch(spark, "nvd", {"CVE-2": f"W{len(seq)}"}), now=T1,
        )

    with pytest.raises(ConcurrentWriteConflict):
        merge_scoped_versioned_occ(
            spark, path, _batch(spark, "nvd", {"CVE-1": "loser"}),
            now=T2, max_retries=1, pre_commit_hook=always_conflict,
        )
    assert len(seq) == 2  # initial attempt + one retry, both beaten
    m = _as_map(read_bucket_table_versioned(spark, path))
    assert m["CVE-1"] == "n1" and m["CVE-2"] == "W2"
    # the loser's two attempts left orphan generations; vacuum reclaims
    # them without touching anything referenced
    out = vacuum_bucket_versions(
        path, keep=len(mv._list_versions(path)), grace_seconds=0.0
    )
    assert out["removed_versions"] == [] and out["removed_gens"]
    assert _as_map(read_bucket_table_versioned(spark, path)) == m


def test_occ_rebase_carries_evolution_and_dv(spark, tmp_path):
    """A rebase publishes on the CONCURRENT commit's manifest: a column
    the concurrent writer added survives (schema re-union), and a DV
    the concurrent writer registered on an untouched bucket keeps
    deleting — the rebase must carry buckets, stats, schema AND DV
    refs by reference."""
    import pyspark.sql.functions as F

    from cvemate_spark.operators.merge_versioned import (
        merge_deletes_dv,
        merge_scoped_versioned_occ,
    )

    keys = [f"CVE-{i}" for i in range(60)]
    path = str(tmp_path / "occ4")
    write_bucket_table_versioned(
        merge_upsert(
            None, _batch(spark, "nvd", {k: f"n{k}" for k in keys}), now=T0
        ),
        path, key="id", n_buckets=8,
    )
    bmap = _buckets_of(spark, keys, 8)
    k_mine = keys[0]
    k_evo = next(k for k in keys if bmap[k] != bmap[k_mine])
    k_del = next(
        k for k in keys
        if bmap[k] not in (bmap[k_mine], bmap[k_evo])
    )

    def concurrent_writes():
        if calls:
            return
        calls.append(1)
        evo = spark.createDataFrame(
            [Row(id=k_evo, nvd="evolved", extra="X")]
        )
        merge_scoped_versioned(spark, path, evo, now=T1)
        merge_deletes_dv(
            spark, path, spark.createDataFrame([Row(id=k_del)])
        )

    calls = []
    res = merge_scoped_versioned_occ(
        spark, path, _batch(spark, "nvd", {k_mine: "mine"}), now=T2,
        pre_commit_hook=concurrent_writes,
    )
    assert res["rebased"] is True and res["attempts"] == 1
    snap = read_bucket_table_versioned(spark, path)
    assert "extra" in snap.columns
    rows = {r["id"]: r for r in snap.collect()}
    assert k_del not in rows  # the concurrent DV still deletes
    assert rows[k_mine]["nvd"] == "mine" and rows[k_mine]["extra"] is None
    assert rows[k_evo]["extra"] == "X"
    assert len(rows) == len(keys) - 1


def test_occ_layout_change_retries_under_new_layout(spark, tmp_path):
    """A rebucket committing mid-merge is a layout conflict: the OCC
    merge retries and lands under the NEW bucket count."""
    from cvemate_spark.operators.merge_versioned import (
        merge_scoped_versioned_occ,
        rebucket_versioned,
    )

    base = _batch(spark, "nvd", {f"CVE-{i}": f"n{i}" for i in range(40)})
    path = str(tmp_path / "occ5")
    write_bucket_table_versioned(
        merge_upsert(None, base, now=T0), path, key="id", n_buckets=2
    )
    calls = []

    def rebucket_once():
        if not calls:
            calls.append(1)
            rebucket_versioned(spark, path, 4)

    res = merge_scoped_versioned_occ(
        spark, path, _batch(spark, "nvd", {"CVE-1": "upd"}), now=T1,
        pre_commit_hook=rebucket_once,
    )
    assert res["attempts"] == 2 and res["n_buckets"] == 4
    m = _as_map(read_bucket_table_versioned(spark, path))
    assert m["CVE-1"] == "upd" and len(m) == 40


def test_nullability_drift_is_not_a_type_conflict(spark, tmp_path):
    """Regression law (round-10 latent bug, caught by a fresh rebuild
    of cve_pipeline_versioned): merge_upsert's full-outer join marks
    every target column NULLABLE — including nested struct fields —
    so a second merge's committed-vs-batch schema comparison sees
    nullable:false -> true at some nesting level. That is nullability
    DRIFT (advisory for parquet reads), not a type change: it must
    commit, with the recorded schema relaxed to the nullable union.
    A real nested type change must still raise."""
    import pytest

    from cvemate_spark.operators.merge_versioned import (
        SchemaConflict,
        init_bucket_table_versioned,
        table_schema,
    )
    import pyspark.sql.functions as F

    path = str(tmp_path / "vbt_nulldrift")
    init_bucket_table_versioned(path, key="id", n_buckets=4)
    # first merge commits a NON-NULLABLE nested struct (struct() of
    # non-null literals infers nullable=false on the inner field)
    base = spark.range(0, 20).select(
        F.concat(F.lit("CVE-"), F.col("id")).alias("id"),
        F.struct(F.lit(1.5).alias("score")).alias("nvd"),
    )
    merge_scoped_versioned(spark, path, base, now=T0)
    # second merge touches the same buckets: its merged frame carries
    # nvd from the outer join, now nullable at every level
    upd = spark.createDataFrame([Row(id="CVE-1", epss=0.9)])
    merge_scoped_versioned(spark, path, upd, now=T1)  # must NOT raise
    snap = read_bucket_table_versioned(spark, path)
    rows = {r["id"]: r for r in snap.collect()}
    assert rows["CVE-1"]["epss"] == 0.9
    assert rows["CVE-1"]["nvd"]["score"] == 1.5
    assert len(rows) == 20
    # the committed schema relaxed nullability to the union
    sch = table_schema(path)
    nvd = next(f for f in sch.fields if f.name == "nvd")
    assert nvd.nullable
    # a REAL nested type change is still a fingerprint conflict (the
    # enforcement path for target-less absent-bucket batches is pinned
    # in test_merge_type_conflict_raises_before_any_write; with a live
    # target Spark's own analyzer cast rejects even earlier)
    from cvemate_spark.operators.merge_versioned import _union_schema

    committed = sch.jsonValue()
    bad = spark.createDataFrame([Row(id="CVE-1")]).select(
        "id", F.struct(F.lit("high").alias("score")).alias("nvd")
    )
    with pytest.raises(SchemaConflict):
        _union_schema(committed, bad.schema.jsonValue())


# ---------------------------------------------------------------------
# Merge-on-read deltas (merge_scoped_versioned_mor / compact_versioned):
# write cost ∝ batch rows, upsert semantics reproduced at read time by
# the ordinal fold; equivalence with copy-on-write is the master law.
# ---------------------------------------------------------------------


def _rows_sorted(df):
    cols = sorted(df.columns)
    return sorted(
        tuple(str(r[c]) for c in cols) for r in df.collect()
    ), cols


def test_mor_equals_cow_at_every_version(spark, tmp_path):
    """THE equivalence law: the same batch sequence through
    merge_scoped_versioned_mor and through the copy-on-write path
    produces IDENTICAL snapshots (all columns, audit stamps included)
    at every version — MOR is a physical-layout choice, never a
    semantics choice."""
    from cvemate_spark.operators.merge_versioned import (
        merge_scoped_versioned_mor,
    )

    base = _batch(spark, "nvd", {f"CVE-{i}": f"n{i}" for i in range(40)})
    p_mor = str(tmp_path / "mor_a")
    p_cow = str(tmp_path / "cow_a")
    for p in (p_mor, p_cow):
        write_bucket_table_versioned(
            merge_upsert(None, base, now=T0), p, key="id", n_buckets=4
        )
    batches = [
        _batch(spark, "nvd", {"CVE-1": "u1", "CVE-900": "ins"}),
        _batch(spark, "epss", {"CVE-1": "e1", "CVE-2": "e2"}),
        _batch(spark, "nvd", {"CVE-900": "ins2", "CVE-3": "u3"}),
    ]
    for t, batch in zip((T1, T1, T2), batches):
        r_mor = merge_scoped_versioned_mor(spark, p_mor, batch, now=t)
        r_cow = merge_scoped_versioned(spark, p_cow, batch, now=t)
        assert r_mor["version"] == r_cow["version"]
    # the hard course: DV delete, then a PARTIAL update of a deleted
    # key — both sides must give INSERT semantics (the dead row's
    # other columns stay dead; the ordinal-scoped DV pins this, a
    # bucket-global DV diverges either way)
    from cvemate_spark.operators.merge_versioned import merge_deletes_dv

    dead = spark.createDataFrame([Row(id="CVE-2"), Row(id="CVE-7")])
    for p in (p_mor, p_cow):
        merge_deletes_dv(spark, p, dead)
    partial = _batch(spark, "epss", {"CVE-2": "again", "CVE-8": "e8"})
    merge_scoped_versioned_mor(spark, p_mor, partial, now=T2)
    merge_scoped_versioned(spark, p_cow, partial, now=T2)
    for v in (1, 2, 3, 4, 5, 6):
        m_rows, m_cols = _rows_sorted(
            read_bucket_table_versioned(spark, p_mor, version=v)
        )
        c_rows, c_cols = _rows_sorted(
            read_bucket_table_versioned(spark, p_cow, version=v)
        )
        assert m_cols == c_cols, (v, m_cols, c_cols)
        assert m_rows == c_rows, f"version {v} diverged"


def test_mor_per_column_fold_and_audit_stamps(spark, tmp_path):
    """Stacked deltas fold PER COLUMN (a later batch that doesn't
    carry a column must not null it out), created_at keeps the
    original stamp, updated_at takes the latest."""
    from cvemate_spark.operators.merge_versioned import (
        merge_scoped_versioned_mor,
    )

    base = _batch(spark, "nvd", {f"CVE-{i}": f"n{i}" for i in range(10)})
    path = str(tmp_path / "mor_b")
    write_bucket_table_versioned(
        merge_upsert(None, base, now=T0), path, key="id", n_buckets=2
    )
    merge_scoped_versioned_mor(
        spark, path, _batch(spark, "nvd", {"CVE-1": "vA"}), now=T1
    )
    merge_scoped_versioned_mor(
        spark, path, _batch(spark, "epss", {"CVE-1": "eB"}), now=T2
    )
    row = {
        r["id"]: r
        for r in read_bucket_table_versioned(spark, path).collect()
    }["CVE-1"]
    assert row["nvd"] == "vA"  # delta 2 had no nvd: must not null out
    assert row["epss"] == "eB"
    assert str(row["created_at"]).startswith("2024-01-01")
    assert str(row["updated_at"]).startswith("2024-01-03")


def test_mor_dv_reinsert_and_point_lookup(spark, tmp_path):
    """DV refs are ordinal-scoped: a MOR delta landing after a delete
    re-inserts by sitting ABOVE the DV's depth — the row is back in
    snapshots AND point lookups (whose DV gate now drops only the
    ordinals at or below the deepest hit); a later DV delete (deeper
    scope) removes it again."""
    from cvemate_spark.operators.merge_versioned import (
        merge_deletes_dv,
        merge_scoped_versioned_mor,
    )

    base = _batch(spark, "nvd", {f"CVE-{i}": f"n{i}" for i in range(20)})
    path = str(tmp_path / "mor_c")
    write_bucket_table_versioned(
        merge_upsert(None, base, now=T0), path, key="id", n_buckets=2,
    )
    merge_deletes_dv(
        spark, path, spark.createDataFrame([Row(id="CVE-1"), Row(id="CVE-2")])
    )
    assert "CVE-1" not in _as_map(read_bucket_table_versioned(spark, path))
    merge_scoped_versioned_mor(
        spark, path, _batch(spark, "nvd", {"CVE-1": "back"}), now=T1
    )
    m = _as_map(read_bucket_table_versioned(spark, path))
    assert m["CVE-1"] == "back"
    assert "CVE-2" not in m  # the sibling delete survives the subtract
    hit = read_bucket_for_key_versioned(spark, path, "CVE-1")
    assert hit is not None and hit.collect()[0]["nvd"] == "back"
    gone = read_bucket_for_key_versioned(spark, path, "CVE-2")
    assert gone is None or gone.count() == 0
    merge_deletes_dv(spark, path, spark.createDataFrame([Row(id="CVE-1")]))
    assert "CVE-1" not in _as_map(read_bucket_table_versioned(spark, path))
    gone2 = read_bucket_for_key_versioned(spark, path, "CVE-1")
    assert gone2 is None or gone2.count() == 0


def test_mor_cow_merge_folds_deltas(spark, tmp_path):
    """A copy-on-write merge touching a delta-carrying bucket FOLDS
    its deltas (reads through them, clears the refs); untouched
    buckets keep theirs by reference."""
    from cvemate_spark.operators import merge_versioned as mv
    from cvemate_spark.operators.merge_versioned import (
        merge_scoped_versioned_mor,
    )

    keys = [f"CVE-{i}" for i in range(40)]
    path = str(tmp_path / "mor_d")
    write_bucket_table_versioned(
        merge_upsert(
            None, _batch(spark, "nvd", {k: f"n{k}" for k in keys}), now=T0
        ),
        path, key="id", n_buckets=4,
    )
    bmap = _buckets_of(spark, keys, 4)
    k_a = keys[0]
    k_b = next(k for k in keys if bmap[k] != bmap[k_a])
    merge_scoped_versioned_mor(
        spark, path, _batch(spark, "nvd", {k_a: "dA", k_b: "dB"}), now=T1
    )
    full = mv._load_manifest_full(path, latest_version(path))
    assert {int(i) for i in full.get("deltas", {})} == {
        bmap[k_a], bmap[k_b],
    }
    # CoW merge on k_a's bucket only
    merge_scoped_versioned(
        spark, path, _batch(spark, "epss", {k_a: "eA"}), now=T2
    )
    full2 = mv._load_manifest_full(path, latest_version(path))
    assert str(bmap[k_a]) not in full2.get("deltas", {})
    assert str(bmap[k_b]) in full2.get("deltas", {})
    m = {
        r["id"]: r
        for r in read_bucket_table_versioned(spark, path).collect()
    }
    assert m[k_a]["nvd"] == "dA" and m[k_a]["epss"] == "eA"
    assert m[k_b]["nvd"] == "dB"


def test_mor_levels_at_max_depth(spark, tmp_path):
    """The depth cap: a batch landing on a bucket whose delta chain is
    at max_depth LEVELS that bucket (fresh base generation, refs
    cleared) while other buckets keep taking cheap deltas."""
    from cvemate_spark.operators import merge_versioned as mv
    from cvemate_spark.operators.merge_versioned import (
        merge_scoped_versioned_mor,
    )

    base = _batch(spark, "nvd", {f"CVE-{i}": f"n{i}" for i in range(10)})
    path = str(tmp_path / "mor_e")
    write_bucket_table_versioned(
        merge_upsert(None, base, now=T0), path, key="id", n_buckets=1
    )
    r1 = merge_scoped_versioned_mor(
        spark, path, _batch(spark, "nvd", {"CVE-1": "a"}), now=T1,
        max_depth=2,
    )
    r2 = merge_scoped_versioned_mor(
        spark, path, _batch(spark, "nvd", {"CVE-2": "b"}), now=T1,
        max_depth=2,
    )
    assert (r1["leveled_buckets"], r2["leveled_buckets"]) == (0, 0)
    r3 = merge_scoped_versioned_mor(
        spark, path, _batch(spark, "nvd", {"CVE-3": "c"}), now=T2,
        max_depth=2,
    )
    assert r3["leveled_buckets"] == 1 and r3["delta_buckets"] == 0
    full = mv._load_manifest_full(path, latest_version(path))
    assert not full.get("deltas")
    m = _as_map(read_bucket_table_versioned(spark, path))
    assert (m["CVE-1"], m["CVE-2"], m["CVE-3"]) == ("a", "b", "c")


def test_compact_versioned_content_neutral_and_vacuum(spark, tmp_path):
    """compact_versioned folds deltas+DVs into fresh base generations:
    content identical (law), refs cleared, PRE-compact versions still
    time-travel through their deltas, and vacuum reclaims the old
    delta generations only after the retention horizon passes —
    never a referenced one."""
    from cvemate_spark.operators import merge_versioned as mv
    from cvemate_spark.operators.merge_versioned import (
        compact_versioned,
        merge_deletes_dv,
        merge_scoped_versioned_mor,
    )

    base = _batch(spark, "nvd", {f"CVE-{i}": f"n{i}" for i in range(30)})
    path = str(tmp_path / "mor_f")
    write_bucket_table_versioned(
        merge_upsert(None, base, now=T0), path, key="id", n_buckets=2
    )
    merge_scoped_versioned_mor(
        spark, path, _batch(spark, "nvd", {"CVE-1": "u", "CVE-901": "i"}),
        now=T1,
    )
    merge_deletes_dv(spark, path, spark.createDataFrame([Row(id="CVE-5")]))
    pre_v = latest_version(path)
    pre_rows, pre_cols = _rows_sorted(
        read_bucket_table_versioned(spark, path)
    )
    out = compact_versioned(spark, path)
    assert out["buckets_compacted"] >= 1
    full = mv._load_manifest_full(path, latest_version(path))
    assert not full.get("deltas") and not full.get("dv")
    post_rows, post_cols = _rows_sorted(
        read_bucket_table_versioned(spark, path)
    )
    assert (pre_rows, pre_cols) == (post_rows, post_cols)
    # pre-compact version still folds exactly
    tt_rows, _ = _rows_sorted(
        read_bucket_table_versioned(spark, path, version=pre_v)
    )
    assert tt_rows == pre_rows
    # vacuum with every version retained keeps the delta generations
    vacuum_bucket_versions(path, keep=len(mv._list_versions(path)))
    assert tt_rows == _rows_sorted(
        read_bucket_table_versioned(spark, path, version=pre_v)
    )[0]
    # dropping retention reclaims superseded manifests + orphan deltas
    out2 = vacuum_bucket_versions(path, keep=1, grace_seconds=0.0)
    assert out2["removed_versions"]
    assert post_rows == _rows_sorted(
        read_bucket_table_versioned(spark, path)
    )[0]


def test_mor_change_feed_and_pruned_scan(spark, tmp_path):
    """A MOR delta commit shows up in the key-level change feed as
    exact row-level changes (the apply law holds), and the stats-
    pruned scan over a MOR table equals the unpruned read — pruning
    degrades to bucket grain for delta buckets, never to wrong rows.
    The fold must run BEFORE residual filters: a superseded base row
    matching the predicate must not resurrect."""
    from cvemate_spark.operators.merge_versioned import (
        apply_change_feed,
        change_feed,
        merge_scoped_versioned_mor,
        scan_versioned,
    )
    import pyspark.sql.functions as F

    base = spark.createDataFrame(
        [Row(id=f"CVE-{i}", score=float(i)) for i in range(30)]
    )
    path = str(tmp_path / "mor_g")
    write_bucket_table_versioned(
        merge_upsert(None, base, now=T0), path, key="id", n_buckets=4
    )
    v1 = latest_version(path)
    snap1 = read_bucket_table_versioned(spark, path, version=v1)
    # CVE-20's score drops below the band: the base row (20.0) matches
    # score >= 10 but the CURRENT row (1.0) must not
    merge_scoped_versioned_mor(
        spark, path,
        spark.createDataFrame(
            [Row(id="CVE-20", score=1.0), Row(id="CVE-900", score=99.0)]
        ),
        now=T1,
    )
    feed = change_feed(spark, path, v1)
    kinds = {r["id"]: r["change"] for r in feed.collect()}
    assert kinds == {"CVE-20": "update", "CVE-900": "insert"}
    replayed, rc = _rows_sorted(
        apply_change_feed(snap1, feed, key="id")
    )
    now_rows, nc = _rows_sorted(read_bucket_table_versioned(spark, path))
    assert (replayed, rc) == (now_rows, nc)
    scanned = scan_versioned(spark, path, "score", lo=10.0)
    ids = {r["id"] for r in scanned.collect()}
    assert "CVE-20" not in ids  # no resurrection through the fold
    assert "CVE-900" in ids
    expected = {f"CVE-{i}" for i in range(10, 30) if i != 20} | {"CVE-900"}
    assert ids == expected


def test_mor_constraint_sees_effective_row(spark, tmp_path):
    """A cross-column CHECK must be evaluated on the EFFECTIVE merged
    row: a batch whose columns pass alone but violate in combination
    with the standing row is rejected atomically."""
    import pytest

    from cvemate_spark.operators.merge_versioned import (
        ConstraintViolation,
        merge_scoped_versioned_mor,
    )

    path = str(tmp_path / "mor_h")
    base = spark.createDataFrame([Row(id="CVE-1", lo=1.0, hi=5.0)])
    write_bucket_table_versioned(
        merge_upsert(None, base, now=T0), path, key="id", n_buckets=1,
        constraints={"ordered": "lo <= hi"},
    )
    v0 = latest_version(path)
    # hi=0.5 passes alone; combined with the standing lo=1.0 violates
    with pytest.raises(ConstraintViolation):
        merge_scoped_versioned_mor(
            spark, path,
            spark.createDataFrame([Row(id="CVE-1", hi=0.5)]), now=T1,
        )
    assert latest_version(path) == v0
    ok = merge_scoped_versioned_mor(
        spark, path,
        spark.createDataFrame([Row(id="CVE-1", hi=9.0)]), now=T1,
    )
    assert ok["version"] == v0 + 1
    row = read_bucket_table_versioned(spark, path).collect()[0]
    assert row["hi"] == 9.0 and row["lo"] == 1.0


def test_mor_fold_policy_out_of_order_and_dv(spark, tmp_path):
    """Keep-latest fold policy (mor_fold): out-of-order MOR batches
    converge by the INTRINSIC comparator — a later batch carrying an
    OLDER event loses at read time, exactly as the CoW merger would
    have decided — and the result matches a CoW clone driven through
    keep_latest_merge at every version. A DV delete then removes a
    user's rows; a later delta re-inserts above it."""
    from cvemate_spark.operators.merge import keep_latest_merge
    from cvemate_spark.operators.merge_versioned import (
        init_bucket_table_versioned,
        merge_deletes_dv,
        merge_scoped_versioned_mor,
    )
    import pyspark.sql.functions as F

    fold = {
        "keys": ["user_id", "event_type"],
        "order_by": [["ts", "desc"], ["event_id", "desc"]],
    }
    p_mor = str(tmp_path / "fold_mor")
    p_cow = str(tmp_path / "fold_cow")
    init_bucket_table_versioned(
        p_mor, key="user_id", n_buckets=2, mor_fold=fold
    )
    init_bucket_table_versioned(p_cow, key="user_id", n_buckets=2)

    def ev(uid, etype, ts, eid):
        return Row(user_id=uid, event_type=etype, ts=ts, event_id=eid)

    # chunk 2 carries an OLDER event for (u1, click) than chunk 1
    chunks = [
        [ev(1, "click", "2024-01-05", 50), ev(2, "view", "2024-01-02", 20)],
        [ev(1, "click", "2024-01-01", 10), ev(1, "buy", "2024-01-03", 30)],
    ]
    merger = lambda cur, b: keep_latest_merge(
        cur, b, keys=["user_id", "event_type"],
        order_by=[F.desc("ts"), F.desc("event_id")],
    )
    for chunk in chunks:
        batch = spark.createDataFrame(chunk)
        merge_scoped_versioned_mor(spark, p_mor, batch)
        merge_scoped_versioned(spark, p_cow, batch, merger=merger)
    for v in (2, 3):
        got, gc = _rows_sorted(
            read_bucket_table_versioned(spark, p_mor, version=v)
        )
        want, wc = _rows_sorted(
            read_bucket_table_versioned(spark, p_cow, version=v)
        )
        assert (got, gc) == (want, wc), f"version {v}"
    rows = {
        (r["user_id"], r["event_type"]): r["event_id"]
        for r in read_bucket_table_versioned(spark, p_mor).collect()
    }
    # the out-of-order older click LOST
    assert rows[(1, "click")] == 50 and rows[(1, "buy")] == 30
    # DV delete of user 1, then a re-insert above it
    merge_deletes_dv(spark, p_mor, spark.createDataFrame([Row(user_id=1)]))
    left = {
        (r["user_id"], r["event_type"])
        for r in read_bucket_table_versioned(spark, p_mor).collect()
    }
    assert left == {(2, "view")}
    merge_scoped_versioned_mor(
        spark, p_mor,
        spark.createDataFrame([ev(1, "click", "2024-01-06", 60)]),
    )
    rows2 = {
        (r["user_id"], r["event_type"]): r["event_id"]
        for r in read_bucket_table_versioned(spark, p_mor).collect()
    }
    # only the re-inserted row returns; the DV'd older rows stay dead
    assert rows2 == {(1, "click"): 60, (2, "view"): 20}
    # point lookup folds by policy: all of user 1's current rows
    hit = read_bucket_for_key_versioned(spark, p_mor, 1)
    assert {(r["user_id"], r["event_type"], r["event_id"])
            for r in hit.collect()} == {(1, "click", 60)}


def test_mor_fold_policy_recorded_and_validated(spark, tmp_path):
    """The fold policy is table META: recorded at creation, inherited
    on reload, and the bucket key must be one of the fold keys."""
    import pytest

    from cvemate_spark.operators.merge_versioned import (
        init_bucket_table_versioned,
    )

    with pytest.raises(ValueError):
        init_bucket_table_versioned(
            str(tmp_path / "bad"), key="user_id", n_buckets=2,
            mor_fold={"keys": ["event_type"], "order_by": [["ts", "desc"]]},
        )
    fold = {"keys": ["id"], "order_by": [["ts", "desc"]]}
    path = str(tmp_path / "fold_meta")
    base = spark.createDataFrame([Row(id="a", ts="2024-01-01", v=1)])
    write_bucket_table_versioned(
        base, path, key="id", n_buckets=2, mor_fold=fold
    )
    # reload without re-passing inherits the policy
    write_bucket_table_versioned(base, path, key="id", n_buckets=2)
    import json as _json
    import os as _os

    meta = _json.load(open(_os.path.join(path, "_BUCKETS")))
    assert meta.get("mor_fold") == fold


def test_mor_fold_intra_batch_duplicates_on_fresh_buckets(spark, tmp_path):
    """A raw MOR batch carrying SEVERAL rows per composite key — the
    normal shape of an events chunk — must land deduplicated: the
    absent-bucket leg writes BASE generations that the depth-0 fast
    path reads without a fold, so generations must hold final-state
    rows (the review-caught duplicate-survival edge)."""
    from cvemate_spark.operators.merge_versioned import (
        init_bucket_table_versioned,
        merge_scoped_versioned_mor,
    )

    path = str(tmp_path / "fold_dup")
    init_bucket_table_versioned(
        path, key="user_id", n_buckets=2,
        mor_fold={
            "keys": ["user_id", "event_type"],
            "order_by": [["ts", "desc"], ["event_id", "desc"]],
        },
    )
    batch = spark.createDataFrame(
        [
            Row(user_id=1, event_type="click", ts="2024-01-01", event_id=1),
            Row(user_id=1, event_type="click", ts="2024-01-03", event_id=3),
            Row(user_id=1, event_type="click", ts="2024-01-02", event_id=2),
            Row(user_id=2, event_type="view", ts="2024-01-01", event_id=4),
        ]
    )
    merge_scoped_versioned_mor(spark, path, batch)
    rows = read_bucket_table_versioned(spark, path).collect()
    got = {(r["user_id"], r["event_type"], r["event_id"]) for r in rows}
    assert got == {(1, "click", 3), (2, "view", 4)}
    assert len(rows) == 2  # no duplicate survived the fast path


def test_mor_occ_disjoint_writers_overlap_and_rebase(spark, tmp_path):
    """occ=True on the MOR path: two delta writers' work phases
    genuinely overlap (barrier seam), both land, exactly one rebases,
    and the content equals the sequential application — the
    concurrent-ingestion shape (N feeds MOR-appending all night)."""
    from cvemate_spark.operators import merge_versioned as mv
    from cvemate_spark.operators.merge_versioned import (
        merge_scoped_versioned_mor,
    )

    keys = [f"CVE-{i}" for i in range(80)]
    path = str(tmp_path / "morocc1")
    write_bucket_table_versioned(
        merge_upsert(
            None, _batch(spark, "nvd", {k: f"n{k}" for k in keys}), now=T0
        ),
        path, key="id", n_buckets=8,
    )
    bmap = _buckets_of(spark, keys, 8)
    even = [k for k in keys if bmap[k] % 2 == 0][:8]
    odd = [k for k in keys if bmap[k] % 2 == 1][:8]
    barrier = threading.Barrier(2, timeout=120)
    results, errs = {}, []

    def run(name, ks, val):
        try:
            results[name] = merge_scoped_versioned_mor(
                spark, path, _batch(spark, "nvd", {k: val for k in ks}),
                now=T1, occ=True, pre_commit_hook=barrier.wait,
            )
        except Exception as e:  # pragma: no cover
            errs.append(e)

    ts = [
        threading.Thread(target=run, args=("A", even, "A")),
        threading.Thread(target=run, args=("B", odd, "B")),
    ]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs, errs
    assert sorted(r["version"] for r in results.values()) == [2, 3]
    assert sorted(r["rebased"] for r in results.values()) == [False, True]
    expected = {k: f"n{k}" for k in keys}
    expected.update({k: "A" for k in even})
    expected.update({k: "B" for k in odd})
    assert _as_map(read_bucket_table_versioned(spark, path)) == expected
    # both landed as DELTAS on their buckets
    full = mv._load_manifest_full(path, latest_version(path))
    assert {int(i) for i in full.get("deltas", {})} == {
        bmap[k] for k in even + odd
    }


def test_mor_occ_same_bucket_delta_now_composes(spark, tmp_path):
    """A concurrent delta commit into the SAME bucket WAS a signature
    conflict (round 10: retry); since round 11 the append-only case
    ORDINAL-COMPOSES — both batches land with zero extra work phases,
    and the content is the sequential outcome."""
    from cvemate_spark.operators.merge_versioned import (
        merge_scoped_versioned_mor,
    )

    base = _batch(spark, "nvd", {f"CVE-{i}": f"n{i}" for i in range(10)})
    path = str(tmp_path / "morocc2")
    write_bucket_table_versioned(
        merge_upsert(None, base, now=T0), path, key="id", n_buckets=1
    )
    calls = []

    def inject_once():
        if not calls:
            calls.append(1)
            merge_scoped_versioned_mor(
                spark, path, _batch(spark, "nvd", {"CVE-2": "W"}), now=T1
            )

    res = merge_scoped_versioned_mor(
        spark, path, _batch(spark, "nvd", {"CVE-1": "B"}), now=T2,
        occ=True, pre_commit_hook=inject_once,
    )
    assert res["attempts"] == 1 and res["version"] == 3
    assert res["rebased"] is True and res["composed"] == [0]
    m = _as_map(read_bucket_table_versioned(spark, path))
    assert m["CVE-1"] == "B" and m["CVE-2"] == "W"


def test_optimize_and_rebucket_fold_mor_deltas(spark, tmp_path):
    """optimize_versioned and rebucket_versioned read THROUGH delta
    chains and DVs: both are content-neutral on a MOR table, clear the
    folded refs, and (optimize) restore a file-grain-prunable layout."""
    from cvemate_spark.operators import merge_versioned as mv
    from cvemate_spark.operators.merge_versioned import (
        merge_deletes_dv,
        merge_scoped_versioned_mor,
        optimize_versioned,
        rebucket_versioned,
    )

    base = spark.createDataFrame(
        [Row(id=f"CVE-{i}", score=float(i)) for i in range(60)]
    )
    path = str(tmp_path / "mor_opt")
    write_bucket_table_versioned(
        merge_upsert(None, base, now=T0), path, key="id", n_buckets=4
    )
    merge_scoped_versioned_mor(
        spark, path,
        spark.createDataFrame(
            [Row(id="CVE-1", score=100.5), Row(id="CVE-990", score=7.0)]
        ),
        now=T1,
    )
    merge_deletes_dv(spark, path, spark.createDataFrame([Row(id="CVE-2")]))
    pre, pre_cols = _rows_sorted(read_bucket_table_versioned(spark, path))

    out = optimize_versioned(spark, path, cluster_by=["score"])
    full = mv._load_manifest_full(path, out["version"])
    assert not full.get("deltas") and not full.get("dv")
    post, post_cols = _rows_sorted(read_bucket_table_versioned(spark, path))
    assert (pre, pre_cols) == (post, post_cols)

    # another MOR delta, then an online rebucket folds it too
    merge_scoped_versioned_mor(
        spark, path, spark.createDataFrame([Row(id="CVE-3", score=42.0)]),
        now=T2,
    )
    pre2, _ = _rows_sorted(read_bucket_table_versioned(spark, path))
    r = rebucket_versioned(spark, path, 8)
    full2 = mv._load_manifest_full(path, r["version"])
    assert not full2.get("deltas") and full2["n_buckets"] == 8
    post2, _ = _rows_sorted(read_bucket_table_versioned(spark, path))
    assert pre2 == post2


# ---------------------------------------------------------------------
# Column mapping (alter_bucket_table_versioned): RENAME/DROP COLUMN as
# one metadata-only commit — files keep physical names, reads project.
# ---------------------------------------------------------------------


def test_alter_rename_without_rewrite(spark, tmp_path):
    from cvemate_spark.operators import merge_versioned as mv
    from cvemate_spark.operators.merge_versioned import (
        SchemaConflict,
        alter_bucket_table_versioned,
        prune_generations,
        read_bucket_for_key_versioned,
    )

    base = spark.createDataFrame(
        [Row(id=f"k{i}", price=float(i), status="A") for i in range(30)]
    )
    path = str(tmp_path / "alt1")
    write_bucket_table_versioned(
        merge_upsert(None, base, now=T0), path, key="id", n_buckets=4
    )
    gens_before = set(_gens(path))
    out = alter_bucket_table_versioned(path, rename={"price": "amount"})
    assert out["version"] == 2
    # METADATA-ONLY: not one data file moved
    assert set(_gens(path)) == gens_before
    snap = read_bucket_table_versioned(spark, path)
    assert "amount" in snap.columns and "price" not in snap.columns
    vals = {r["id"]: r["amount"] for r in snap.collect()}
    assert vals["k7"] == 7.0 and len(vals) == 30
    # time travel reads the OLD name
    old = read_bucket_table_versioned(spark, path, version=1)
    assert "price" in old.columns and "amount" not in old.columns
    # merges keep working THROUGH the mapping (update via new name);
    # the new generation's files store the PHYSICAL name
    merge_scoped_versioned(
        spark, path,
        spark.createDataFrame([Row(id="k7", amount=777.0)]), now=T1,
    )
    snap2 = {r["id"]: r["amount"]
             for r in read_bucket_table_versioned(spark, path).collect()}
    assert snap2["k7"] == 777.0 and snap2["k8"] == 8.0
    hit = read_bucket_for_key_versioned(spark, path, "k7")
    assert hit.collect()[0]["amount"] == 777.0
    # raw physical check: data files carry 'price', never 'amount'
    import glob as _glob

    raw = spark.read.parquet(*_glob.glob(f"{path}/bucket=*/g-*"))
    assert "price" in raw.columns and "amount" not in raw.columns
    # stats pruning translates: the renamed column still prunes
    full = mv._load_manifest_full(path, latest_version(path))
    plan = prune_generations(path, "amount", lo=500.0)
    assert set(plan["read"]) | set(plan["skipped"]) == set(full["buckets"])
    assert plan["skipped"]  # only k7's bucket can hold amount >= 500
    got = {
        r["id"]
        for r in mv.scan_versioned(
            spark, path, "amount", lo=500.0
        ).collect()
    }
    assert got == {"k7"}
    # the renamed-away physical name is RESERVED: a merge adding a new
    # column called 'price' would read old bytes into it — refused
    import pytest

    with pytest.raises(SchemaConflict):
        merge_scoped_versioned(
            spark, path,
            spark.createDataFrame([Row(id="k1", price=1.0)]), now=T2,
        )


def test_alter_drop_leak_guard_and_reload_release(spark, tmp_path):
    from cvemate_spark.operators.merge_versioned import (
        SchemaConflict,
        alter_bucket_table_versioned,
    )
    import pytest

    base = spark.createDataFrame(
        [Row(id=f"k{i}", v=i, secret=f"s{i}") for i in range(12)]
    )
    path = str(tmp_path / "alt2")
    write_bucket_table_versioned(
        merge_upsert(None, base, now=T0), path, key="id", n_buckets=2
    )
    alter_bucket_table_versioned(path, drop=["secret"])
    snap = read_bucket_table_versioned(spark, path)
    assert "secret" not in snap.columns
    # time travel still has it
    assert "secret" in read_bucket_table_versioned(
        spark, path, version=1
    ).columns
    # re-adding a column with the dropped name would LEAK the old
    # bytes out of the files — refused
    with pytest.raises(SchemaConflict):
        merge_scoped_versioned(
            spark, path,
            spark.createDataFrame([Row(id="k1", secret="new")]), now=T1,
        )
    # an unrelated new column is fine
    merge_scoped_versioned(
        spark, path,
        spark.createDataFrame([Row(id="k1", note="n")]), now=T1,
    )
    # a full reload rewrites files under logical names and clears the
    # mappings + reservations: the name is free again
    write_bucket_table_versioned(
        read_bucket_table_versioned(spark, path), path,
        key="id", n_buckets=2,
    )
    merge_scoped_versioned(
        spark, path,
        spark.createDataFrame([Row(id="k1", secret="fresh")]), now=T2,
    )
    rows = {r["id"]: r for r in
            read_bucket_table_versioned(spark, path).collect()}
    assert rows["k1"]["secret"] == "fresh"
    assert rows["k2"]["secret"] is None  # no resurrection of s2


def test_alter_guards(spark, tmp_path):
    from cvemate_spark.operators.merge_versioned import (
        alter_bucket_table_versioned,
        init_bucket_table_versioned,
    )
    import pytest

    base = spark.createDataFrame([Row(id="a", x=1.0, y=2.0)])
    path = str(tmp_path / "alt3")
    write_bucket_table_versioned(
        merge_upsert(None, base, now=T0), path, key="id", n_buckets=1,
        constraints={"pos": "x >= 0"},
    )
    with pytest.raises(ValueError):  # bucket key untouchable
        alter_bucket_table_versioned(path, rename={"id": "key"})
    with pytest.raises(ValueError):  # constraint-referenced column
        alter_bucket_table_versioned(path, rename={"x": "x2"})
    with pytest.raises(ValueError):  # unknown column
        alter_bucket_table_versioned(path, drop=["nope"])
    with pytest.raises(ValueError):  # target collides with existing
        alter_bucket_table_versioned(path, rename={"y": "x"})
    # fold-policy columns are protected too
    p2 = str(tmp_path / "alt3f")
    init_bucket_table_versioned(
        p2, key="u", n_buckets=1,
        mor_fold={"keys": ["u", "t"], "order_by": [["ts", "desc"]]},
    )
    with pytest.raises(ValueError):
        alter_bucket_table_versioned(p2, rename={"t": "t2"})


def test_alter_on_mor_table_folds_through_mapping(spark, tmp_path):
    """Rename while MOR delta chains stand: the fold reads base and
    deltas under the physical schema and returns logical names;
    compaction keeps the mapping."""
    from cvemate_spark.operators import merge_versioned as mv
    from cvemate_spark.operators.merge_versioned import (
        alter_bucket_table_versioned,
        compact_versioned,
        merge_scoped_versioned_mor,
    )

    base = spark.createDataFrame(
        [Row(id=f"k{i}", price=float(i)) for i in range(20)]
    )
    path = str(tmp_path / "alt4")
    write_bucket_table_versioned(
        merge_upsert(None, base, now=T0), path, key="id", n_buckets=2
    )
    merge_scoped_versioned_mor(
        spark, path, spark.createDataFrame([Row(id="k1", price=100.0)]),
        now=T1,
    )
    alter_bucket_table_versioned(path, rename={"price": "amount"})
    # a MOR delta WRITTEN AFTER the rename stores the physical name
    merge_scoped_versioned_mor(
        spark, path, spark.createDataFrame([Row(id="k2", amount=200.0)]),
        now=T2,
    )
    m = {r["id"]: r["amount"]
         for r in read_bucket_table_versioned(spark, path).collect()}
    assert m["k1"] == 100.0 and m["k2"] == 200.0 and m["k3"] == 3.0
    compact_versioned(spark, path)
    full = mv._load_manifest_full(path, latest_version(path))
    assert not full.get("deltas")
    m2 = {r["id"]: r["amount"]
          for r in read_bucket_table_versioned(spark, path).collect()}
    assert m2 == m


def test_occ_four_writers_all_land_serializably(spark, tmp_path):
    """Four concurrent OCC writers on disjoint bucket quadrants, all
    snapshotting the same base version (4-party barrier): every one
    lands (three of them via rebase chains — each successive committer
    rebases past ALL earlier winners), history is linear v2..v5, and
    the content equals the sequential application."""
    from cvemate_spark.operators.merge_versioned import (
        merge_scoped_versioned_occ,
    )

    keys = [f"CVE-{i}" for i in range(200)]
    path = str(tmp_path / "occ4w")
    write_bucket_table_versioned(
        merge_upsert(None, _batch(spark, "nvd", {k: "0" for k in keys}),
                     now=T0),
        path, key="id", n_buckets=8,
    )
    bmap = _buckets_of(spark, keys, 8)
    quadrant = {q: [k for k in keys if bmap[k] % 4 == q][:6]
                for q in range(4)}
    assert all(quadrant.values())
    barrier = threading.Barrier(4, timeout=180)
    results, errs = {}, []

    def run(q):
        try:
            results[q] = merge_scoped_versioned_occ(
                spark, path,
                _batch(spark, "nvd", {k: f"w{q}" for k in quadrant[q]}),
                now=T1, pre_commit_hook=barrier.wait, max_retries=5,
            )
        except Exception as e:  # pragma: no cover
            errs.append(e)

    ts = [threading.Thread(target=run, args=(q,)) for q in range(4)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs, errs
    assert sorted(r["version"] for r in results.values()) == [2, 3, 4, 5]
    assert sorted(r["rebased"] for r in results.values()) == [
        False, True, True, True,
    ]
    expected = {k: "0" for k in keys}
    for q, ks in quadrant.items():
        expected.update({k: f"w{q}" for k in ks})
    assert _as_map(read_bucket_table_versioned(spark, path)) == expected


# ------------------------------------------- round-11 concurrency laws
def test_mor_same_bucket_appends_ordinal_compose(spark, tmp_path):
    """VERDICT r10 item 3: two MOR writers appending to the SAME
    bucket are commutative when the winner only extended the delta
    chain — the loser ORDINAL-COMPOSES (its delta takes the next
    ordinal) with ZERO retries, and the content equals the sequential
    A-then-B run on a twin table."""
    from cvemate_spark.operators.merge_versioned import (
        merge_scoped_versioned_mor,
    )

    base = _batch(spark, "nvd", {f"CVE-{i}": f"n{i}" for i in range(20)})
    path = str(tmp_path / "cmp")
    twin = str(tmp_path / "cmp_twin")
    for p in (path, twin):
        write_bucket_table_versioned(
            merge_upsert(None, base, now=T0), p, key="id", n_buckets=1
        )
    bat_a = _batch(spark, "nvd", {"CVE-1": "A", "CVE-2": "A"})
    bat_b = _batch(spark, "nvd", {"CVE-3": "B", "CVE-4": "B"})

    def a_wins_inside_window():
        merge_scoped_versioned_mor(spark, path, bat_a, now=T1)

    res = merge_scoped_versioned_mor(
        spark, path, bat_b, now=T2, occ=True,
        pre_commit_hook=a_wins_inside_window,
    )
    # composed, not retried: the race cost ZERO extra work phases
    assert res["attempts"] == 1 and res["rebased"] is True
    assert res["composed"] == [0]
    # sequential twin: A then B
    merge_scoped_versioned_mor(spark, twin, bat_a, now=T1)
    merge_scoped_versioned_mor(spark, twin, bat_b, now=T2)
    assert _as_map(read_bucket_table_versioned(spark, path)) == _as_map(
        read_bucket_table_versioned(spark, twin)
    )


def test_mor_compose_key_overlap_still_sequential(spark, tmp_path):
    """Ordinal compose does NOT require key-disjoint batches: the
    loser's delta sits ABOVE the winner's, which IS the sequential
    loser-after-winner outcome (last-non-null per column by ordinal).
    Hash-compared against the sequential twin."""
    from cvemate_spark.operators.merge_versioned import (
        merge_scoped_versioned_mor,
    )

    base = _batch(spark, "nvd", {f"CVE-{i}": f"n{i}" for i in range(10)})
    path = str(tmp_path / "cmpo")
    twin = str(tmp_path / "cmpo_twin")
    for p in (path, twin):
        write_bucket_table_versioned(
            merge_upsert(None, base, now=T0), p, key="id", n_buckets=1
        )
    bat_a = _batch(spark, "nvd", {"CVE-1": "A"})
    bat_b = _batch(spark, "nvd", {"CVE-1": "B"})  # same key

    res = merge_scoped_versioned_mor(
        spark, path, bat_b, now=T2, occ=True,
        pre_commit_hook=lambda: merge_scoped_versioned_mor(
            spark, path, bat_a, now=T1
        ),
    )
    assert res["attempts"] == 1 and res["composed"] == [0]
    merge_scoped_versioned_mor(spark, twin, bat_a, now=T1)
    merge_scoped_versioned_mor(spark, twin, bat_b, now=T2)
    m = _as_map(read_bucket_table_versioned(spark, path))
    assert m == _as_map(read_bucket_table_versioned(spark, twin))
    assert m["CVE-1"] == "B"  # the committed-later writer won


def test_mor_compose_hard_conflicts_still_retry(spark, tmp_path):
    """Compose preconditions: a winner that MOVED the base generation
    (compact folds deltas) is a hard conflict — the loser retries from
    the fresh snapshot and converges; a table with CHECK constraints
    never composes (its constraint fold ran against the old
    snapshot)."""
    from cvemate_spark.operators.merge_versioned import (
        compact_versioned,
        merge_scoped_versioned_mor,
    )

    base = _batch(spark, "nvd", {f"CVE-{i}": f"n{i}" for i in range(10)})
    path = str(tmp_path / "cmph")
    write_bucket_table_versioned(
        merge_upsert(None, base, now=T0), path, key="id", n_buckets=1
    )
    merge_scoped_versioned_mor(
        spark, path, _batch(spark, "nvd", {"CVE-1": "d1"}), now=T1
    )
    calls = []

    def compact_inside_window():
        if not calls:
            calls.append(1)
            compact_versioned(spark, path)  # moves the base generation

    res = merge_scoped_versioned_mor(
        spark, path, _batch(spark, "nvd", {"CVE-2": "B"}), now=T2,
        occ=True, pre_commit_hook=compact_inside_window,
    )
    assert res["attempts"] == 2 and res["composed"] == []
    m = _as_map(read_bucket_table_versioned(spark, path))
    assert m["CVE-1"] == "d1" and m["CVE-2"] == "B"


def test_alter_vs_occ_writer_race_old_name_dies_loudly(spark, tmp_path):
    """VERDICT r10 item 2, interleaving 1 (real two threads): a rename
    commits inside an OCC writer's window while the writer's batch
    still uses the PRE-rename column name. The rebase re-union hits
    the reserved-phys rule -> SchemaConflict, the table is untouched,
    and the loser's generations are vacuumable orphans. Interleaving 2
    (alter first, stale writer after) dies in the prepare phase before
    a single byte lands."""
    import pytest

    from cvemate_spark.operators import merge_versioned as mv
    from cvemate_spark.operators.merge_versioned import (
        SchemaConflict,
        alter_bucket_table_versioned,
        merge_scoped_versioned_occ,
    )

    path = str(tmp_path / "alt1")
    base = spark.createDataFrame(
        [Row(id=f"CVE-{i}", price=float(i)) for i in range(12)]
    )
    write_bucket_table_versioned(
        merge_upsert(None, base, now=T0), path, key="id", n_buckets=2
    )
    snap = _rows = {
        r["id"]: r["price"]
        for r in read_bucket_table_versioned(spark, path).collect()
    }
    barrier = threading.Barrier(2)
    alter_err = []

    def alter_thread():
        barrier.wait()  # inside the writer's window
        try:
            alter_bucket_table_versioned(path, rename={"price": "amount"})
        except Exception as e:  # pragma: no cover
            alter_err.append(e)
        barrier.wait()

    t = threading.Thread(target=alter_thread)
    t.start()
    stale = spark.createDataFrame([Row(id="CVE-1", price=999.0)])
    with pytest.raises(SchemaConflict):
        merge_scoped_versioned_occ(
            spark, path, stale, now=T1,
            pre_commit_hook=lambda: (barrier.wait(), barrier.wait()),
        )
    t.join()
    assert not alter_err
    # table untouched by the loser: content identical under new name
    after = {
        r["id"]: r["amount"]
        for r in read_bucket_table_versioned(spark, path).collect()
    }
    assert after == snap
    # the loser's generations are unreferenced orphans vacuum reclaims
    out = vacuum_bucket_versions(
        path, keep=len(mv._list_versions(path)), grace_seconds=0.0
    )
    assert out["removed_gens"]
    # interleaving 2: a writer starting AFTER the alter with the stale
    # name dies in prepare (no orphans, no commit)
    v_before = latest_version(path)
    with pytest.raises(SchemaConflict):
        merge_scoped_versioned_occ(spark, path, stale, now=T2)
    assert latest_version(path) == v_before


def test_alter_vs_occ_writer_new_name_retries_and_lands(spark, tmp_path):
    """The quieter interleaving: the writer's batch already uses the
    POST-rename name while the rename commits inside its window. A
    naive rebase would match the column by name and publish generation
    files whose physical layout contradicts the new mapping (the
    column would silently read NULL). The mapping-drift guard forces a
    retry; the retry re-prepares under the post-alter schema and the
    batch lands with CORRECT values."""
    from cvemate_spark.operators.merge_versioned import (
        alter_bucket_table_versioned,
        merge_scoped_versioned_occ,
    )

    path = str(tmp_path / "alt2")
    base = spark.createDataFrame(
        [Row(id=f"CVE-{i}", price=float(i)) for i in range(12)]
    )
    write_bucket_table_versioned(
        merge_upsert(None, base, now=T0), path, key="id", n_buckets=2
    )
    calls = []

    def rename_inside_window():
        if not calls:
            calls.append(1)
            alter_bucket_table_versioned(path, rename={"price": "amount"})

    fresh = spark.createDataFrame([Row(id="CVE-1", amount=999.0)])
    res = merge_scoped_versioned_occ(
        spark, path, fresh, now=T1, pre_commit_hook=rename_inside_window,
    )
    assert res["attempts"] == 2  # drift detected, one retry
    after = {
        r["id"]: r["amount"]
        for r in read_bucket_table_versioned(spark, path).collect()
    }
    assert after["CVE-1"] == 999.0  # NOT silently null
    assert after["CVE-2"] == 2.0


def test_vacuum_vs_reader_race_fails_loudly(spark, tmp_path):
    """VERDICT r10 item 6: a time-travel reader racing vacuum fails
    LOUDLY, never silently — both providers of truth. Read-starts-
    AFTER: the manifest is gone, version resolution raises. Read-
    starts-BEFORE (plan in hand, files removed under it): the scan
    raises at execution. The grace window is the protection: a
    graceful vacuum removes nothing younger than the grace, so the
    reader completes."""
    import pytest

    path = str(tmp_path / "vrr")
    base = _batch(spark, "nvd", {f"CVE-{i}": f"n{i}" for i in range(30)})
    write_bucket_table_versioned(
        merge_upsert(None, base, now=T0), path, key="id", n_buckets=2
    )
    # v2 rewrites EVERY bucket so v1's generations become v2-orphans
    merge_scoped_versioned(
        spark, path,
        _batch(spark, "nvd", {f"CVE-{i}": f"x{i}" for i in range(30)}),
        now=T1,
    )
    # grace protects an in-flight reader: nothing young is removed
    df_old = read_bucket_table_versioned(spark, path, version=1)
    out = vacuum_bucket_versions(path, keep=1, grace_seconds=3600)
    assert out["removed_versions"] == [] and out["removed_gens"] == []
    assert df_old.count() == 30  # reader unaffected inside the grace
    # read-starts-BEFORE, vacuum without grace: execution fails loudly
    df_doomed = read_bucket_table_versioned(spark, path, version=1)
    vacuum_bucket_versions(path, keep=1, grace_seconds=0.0)
    with pytest.raises(Exception) as ei:
        df_doomed.count()
    assert "SchemaConflict" not in str(ei.value)  # an IO error, not junk
    # read-starts-AFTER: the manifest itself is gone -> loud at resolve
    with pytest.raises(FileNotFoundError):
        read_bucket_table_versioned(spark, path, version=1)
    # the surviving version reads exactly
    assert _as_map(read_bucket_table_versioned(spark, path))[
        "CVE-7"
    ] == "x7"


def test_change_feed_exact_across_rebucket(spark, tmp_path):
    """VERDICT r11 item 2: a feed span CROSSING rebucket_versioned is
    computed exactly and O(change) — the union of the old-layout and
    new-layout sub-feeds' key sets, with the final diff reading only
    those keys' buckets under each side's own layout. Law: the feed
    equals the full-outer-diff oracle over the span's endpoint
    snapshots; cost metrics record buckets ∝ changed keys, not table
    width."""
    import pyspark.sql.functions as F

    from cvemate_spark.operators.merge import table_diff
    from cvemate_spark.operators.merge_versioned import (
        change_feed, rebucket_versioned,
    )

    base = _batch(spark, "nvd", {f"CVE-{i}": f"n{i}" for i in range(80)})
    path = str(tmp_path / "vbtrb")
    write_bucket_table_versioned(
        merge_upsert(None, base, now=T0), path, key="id", n_buckets=8
    )
    v0 = 1
    # changes BEFORE the rebucket: update + delete + insert
    pre = spark.createDataFrame([
        Row(id="CVE-3", nvd="pre", _deleted=False),
        Row(id="CVE-7", nvd=None, _deleted=True),
        Row(id="CVE-900", nvd="b", _deleted=False),
    ])
    merge_scoped_versioned(spark, path, pre, now=T1, deleted_col="_deleted")
    rebucket_versioned(spark, path, 32)
    # changes AFTER: touch one pre-changed key again (A-B-C), revert
    # one key to its original value (A-B-A -> must classify nochange),
    # plus fresh insert/update/delete
    post = spark.createDataFrame([
        Row(id="CVE-3", nvd="post", _deleted=False),   # update twice
        Row(id="CVE-900", nvd=None, _deleted=True),    # insert then delete
        Row(id="CVE-5", nvd="p5", _deleted=False),     # post-only update
        Row(id="CVE-901", nvd="new", _deleted=False),  # post-only insert
        Row(id="CVE-11", nvd=None, _deleted=True),     # post-only delete
    ])
    merge_scoped_versioned(spark, path, post, now=T1, deleted_col="_deleted")
    v1 = latest_version(path)

    metrics = {}
    feed = change_feed(spark, path, v0, v1, _metrics=metrics)
    assert metrics["mode"] == "rebucket-exact"
    # cost ∝ change: each side reads at most one bucket per changed key
    assert metrics["buckets_from"] <= metrics["changed_keys"]
    assert metrics["buckets_to"] <= metrics["changed_keys"]
    assert metrics["buckets_from"] < 8  # old layout has 8 buckets total

    old = read_bucket_table_versioned(spark, path, v0)
    new = read_bucket_table_versioned(spark, path, v1)
    oracle = table_diff(old, new, key="id")
    cols = sorted(oracle.columns)
    got = sorted(tuple(r) for r in feed.select(*cols).collect())
    want = sorted(tuple(r) for r in oracle.select(*cols).collect())
    assert got == want
    ids = {(r["id"], r["change"]) for r in feed.select("id", "change").collect()}
    assert ("CVE-900", "insert") not in ids and not any(
        i == "CVE-900" for i, _ in ids
    )  # insert-then-delete composes to nothing
    assert ("CVE-3", "update") in ids and ("CVE-11", "delete") in ids

    # apply law across the rebucket
    from cvemate_spark.operators.merge import merge_upsert_deletes

    applied = merge_upsert_deletes(
        old,
        feed.withColumn("_deleted", F.col("change") == "delete")
        .drop("change"),
        key="id", deleted_col="_deleted", now=T1,
    )
    ncols = sorted(new.columns)
    assert (
        applied.select(*ncols).exceptAll(new.select(*ncols)).count() == 0
        and new.select(*ncols).exceptAll(applied.select(*ncols)).count() == 0
    )


def test_change_feed_two_rebuckets_compose(spark, tmp_path):
    """Multiple layout changes inside one span: sub-feeds recurse, so
    the exact plan composes across BOTH boundaries."""
    from cvemate_spark.operators.merge import table_diff
    from cvemate_spark.operators.merge_versioned import (
        change_feed, rebucket_versioned,
    )

    base = _batch(spark, "nvd", {f"CVE-{i}": f"n{i}" for i in range(40)})
    path = str(tmp_path / "vbtrb2")
    write_bucket_table_versioned(
        merge_upsert(None, base, now=T0), path, key="id", n_buckets=4
    )
    up1 = spark.createDataFrame([Row(id="CVE-1", nvd="a")])
    merge_scoped_versioned(spark, path, up1, now=T1)
    rebucket_versioned(spark, path, 16)
    up2 = spark.createDataFrame([Row(id="CVE-2", nvd="b")])
    merge_scoped_versioned(spark, path, up2, now=T1)
    rebucket_versioned(spark, path, 8)
    up3 = spark.createDataFrame([Row(id="CVE-3", nvd="c")])
    merge_scoped_versioned(spark, path, up3, now=T1)
    v1 = latest_version(path)

    metrics = {}
    feed = change_feed(spark, path, 1, v1, _metrics=metrics)
    assert metrics["mode"] == "rebucket-exact"
    assert metrics["changed_keys"] == 3
    old = read_bucket_table_versioned(spark, path, 1)
    new = read_bucket_table_versioned(spark, path, v1)
    oracle = table_diff(old, new, key="id")
    cols = sorted(oracle.columns)
    assert sorted(map(tuple, feed.select(*cols).collect())) == sorted(
        map(tuple, oracle.select(*cols).collect())
    )


def test_change_feed_rebucket_null_key_column(spark, tmp_path):
    """A rebucket-spanning feed whose changed keys include a NULL key
    column: the driver-side key set sorts NULL-safely (no TypeError on
    (3, None) vs (3, 'a')) and the NULL-keyed rows reach the diff
    through a NULL-safe key match, so the exact plan equals the
    full-snapshot diff."""
    from pyspark.sql import functions as F

    from cvemate_spark.operators.merge import keep_latest_merge, table_diff
    from cvemate_spark.operators.merge_versioned import (
        change_feed, rebucket_versioned,
    )

    schema = "uid long, etype string, seq long, val string"
    rows = [(u, t, 1, f"{u}-{t}-1") for u in range(10) for t in ("a", "b")]
    base = spark.createDataFrame(rows + [(3, None, 1, "3-null-1")], schema)
    path = str(tmp_path / "vbtnull")
    write_bucket_table_versioned(base, path, key="uid", n_buckets=4)
    keys = ["uid", "etype"]
    merger = lambda cur, b: keep_latest_merge(  # noqa: E731
        cur, b, keys=keys, order_by=[F.desc("seq")]
    )
    merge_scoped_versioned(spark, path, spark.createDataFrame(
        [(3, "a", 2, "3-a-2"), (3, None, 2, "3-null-2")], schema
    ), merger=merger)
    rebucket_versioned(spark, path, 8)
    merge_scoped_versioned(spark, path, spark.createDataFrame(
        [(7, "b", 2, "7-b-2"), (8, None, 1, "8-null-1")], schema
    ), merger=merger)
    v = latest_version(path)

    metrics = {}
    feed = change_feed(spark, path, 1, v, key=keys, _metrics=metrics)
    assert metrics["mode"] == "rebucket-exact"
    assert metrics["changed_keys"] == 4
    oracle = table_diff(
        read_bucket_table_versioned(spark, path, 1),
        read_bucket_table_versioned(spark, path, v),
        key=keys,
    )
    cols = sorted(oracle.columns)

    def _rows(df):
        return sorted(
            map(tuple, df.select(*cols).collect()),
            key=lambda t: tuple((x is None, x) for x in t),
        )

    got = _rows(feed)
    assert got == _rows(oracle)
    assert any(r[cols.index("etype")] is None for r in got)


def test_change_feed_memo_is_scoped_per_table(spark, tmp_path):
    """The sub-feed memo is keyed by table path and bucket key: two
    tables with the same version span and bucket counts sharing one
    memo each get their own changed keys."""
    from cvemate_spark.operators.merge import table_diff
    from cvemate_spark.operators.merge_versioned import (
        change_feed, rebucket_versioned,
    )

    paths = {}
    for name, hot in (("ta", "CVE-1"), ("tb", "CVE-2")):
        base = _batch(spark, "nvd", {f"CVE-{i}": f"n{i}" for i in range(20)})
        path = str(tmp_path / name)
        write_bucket_table_versioned(
            merge_upsert(None, base, now=T0), path, key="id", n_buckets=4
        )
        up = _batch(spark, "nvd", {hot: "x"})
        merge_scoped_versioned(spark, path, up, now=T1)
        rebucket_versioned(spark, path, 8)
        merge_scoped_versioned(spark, path, up.replace("x", "y"), now=T2)
        paths[name] = path
    assert {latest_version(p) for p in paths.values()} == {4}

    memo = {}
    for name, path in paths.items():
        feed = change_feed(spark, path, 1, 4, _memo=memo)
        oracle = table_diff(
            read_bucket_table_versioned(spark, path, 1),
            read_bucket_table_versioned(spark, path, 4),
            key="id",
        )
        cols = sorted(oracle.columns)
        assert sorted(map(tuple, feed.select(*cols).collect())) == sorted(
            map(tuple, oracle.select(*cols).collect())
        ), name
    assert len(memo) == 4  # two sub-feeds per table, none shared


def test_change_feed_reload_boundary_falls_back(spark, tmp_path):
    """A RELOAD that changes n_buckets is NOT content-neutral — the
    exact plan refuses (op != rebucket) and the feed falls back to the
    full diff, which is still correct."""
    from cvemate_spark.operators.merge import table_diff
    from cvemate_spark.operators.merge_versioned import change_feed

    base = _batch(spark, "nvd", {f"CVE-{i}": f"n{i}" for i in range(20)})
    path = str(tmp_path / "vbtrl")
    write_bucket_table_versioned(
        merge_upsert(None, base, now=T0), path, key="id", n_buckets=4
    )
    base2 = _batch(spark, "nvd", {f"CVE-{i}": f"R{i}" for i in range(10)})
    write_bucket_table_versioned(
        merge_upsert(None, base2, now=T1), path, key="id", n_buckets=8
    )
    metrics = {}
    feed = change_feed(spark, path, 1, 2, _metrics=metrics)
    assert metrics["mode"] == "full-diff"
    old = read_bucket_table_versioned(spark, path, 1)
    new = read_bucket_table_versioned(spark, path, 2)
    oracle = table_diff(old, new, key="id")
    assert feed.count() == oracle.count() == 20


def test_occ_retry_reuses_unconflicted_generations(spark, tmp_path):
    """VERDICT r11 item 3: an OCC loser whose batch spans buckets the
    winner did NOT touch must not redo that work — the retry carries
    the already-written generations (immutable, content-valid against
    any snapshot in which the bucket is unchanged) and recomputes only
    the conflicted buckets. The winner commits deterministically
    INSIDE the loser's OCC window (the pre-commit seam). Laws:
    content ≡ sequential; the loser reports the carried bucket;
    exactly ONE orphan generation remains (the conflicted bucket's
    first attempt), not the whole batch."""
    import glob as _glob

    from cvemate_spark.operators.merge import bucket_expr
    from cvemate_spark.operators.merge_versioned import (
        merge_scoped_versioned_occ,
    )

    base = _batch(spark, "nvd", {f"CVE-{i}": f"n{i}" for i in range(60)})
    path = str(tmp_path / "vbtreuse")
    write_bucket_table_versioned(
        merge_upsert(None, base, now=T0), path, key="id", n_buckets=8
    )
    # pick keys by bucket: winner touches {b_w}, loser {b_w, b_l}
    rows = base.select(
        "id", bucket_expr("id", 8).alias("b")
    ).collect()
    by_bucket: dict[int, list[str]] = {}
    for r in rows:
        by_bucket.setdefault(r["b"], []).append(r["id"])
    b_w, b_l = sorted(by_bucket)[:2]
    k_shared = by_bucket[b_w][0]
    k_loser_only = by_bucket[b_l][0]
    k_winner_only = by_bucket[b_w][1]

    state = {"first": True}

    def hook():
        # the WINNER lands inside the loser's window — once (the
        # loser's retry must not spawn another winner)
        if state["first"]:
            state["first"] = False
            merge_scoped_versioned(
                spark, path,
                spark.createDataFrame(
                    [(k_winner_only, "W")], "id string, nvd string"
                ),
                now=T1,
            )

    res = merge_scoped_versioned_occ(
        spark, path,
        spark.createDataFrame(
            [(k_shared, "L1"), (k_loser_only, "L2")],
            "id string, nvd string",
        ),
        now=T1, pre_commit_hook=hook, max_retries=4,
    )
    assert res["attempts"] == 2
    assert res["buckets_reused"] == 1  # b_l carried, only b_w redone
    assert res["buckets_touched"] == 2

    # content ≡ sequential (upserts on distinct keys commute)
    snap = {
        r["id"]: r["nvd"]
        for r in read_bucket_table_versioned(spark, path).collect()
    }
    assert snap[k_shared] == "L1" and snap[k_loser_only] == "L2"
    assert snap[k_winner_only] == "W" and len(snap) == 60

    # orphan accounting: only the conflicted bucket's first attempt
    referenced = set()
    from cvemate_spark.operators import merge_versioned as mv

    for v in mv._list_versions(path):
        m = mv._load_manifest_full(path, v)
        for i, g in m["buckets"].items():
            referenced.add(mv._gen_data_path(path, i, g))
    orphans = [
        g for g in _glob.glob(f"{path}/bucket=*/g-*")
        if g not in referenced
    ]
    assert len(orphans) == 1
    assert f"bucket={b_w}/" in orphans[0]

    # the A/B control: reuse=False redoes the whole batch — BOTH
    # first-attempt generations orphan this time
    state["first"] = True

    def hook2():
        if state["first"]:
            state["first"] = False
            merge_scoped_versioned(
                spark, path,
                spark.createDataFrame(
                    [(k_winner_only, "W2")], "id string, nvd string"
                ),
                now=T1,
            )

    res2 = merge_scoped_versioned_occ(
        spark, path,
        spark.createDataFrame(
            [(k_shared, "L3"), (k_loser_only, "L4")],
            "id string, nvd string",
        ),
        now=T1, pre_commit_hook=hook2, max_retries=4, reuse=False,
    )
    assert res2["attempts"] == 2 and res2["buckets_reused"] == 0
    snap2 = {
        r["id"]: r["nvd"]
        for r in read_bucket_table_versioned(spark, path).collect()
    }
    assert snap2[k_shared] == "L3" and snap2[k_loser_only] == "L4"
    assert snap2[k_winner_only] == "W2"


def test_mor_append_racing_compactor_relands(spark, tmp_path):
    """VERDICT r11 item 5 (law half): a continuous MOR feed composing
    with a periodic compactor from another thread. A compact commit
    landing inside a MOR append's OCC window MOVES the touched
    bucket's base generation — a hard conflict per the compose rules
    (ordinal-compose only covers extended delta chains over an
    unmoved base), so the append must RETRY and re-land on the
    compacted base, never losing rows and never composing onto a
    stale chain."""
    import threading

    from cvemate_spark.operators.merge_versioned import (
        compact_versioned, merge_scoped_versioned_mor,
    )

    base = _batch(spark, "nvd", {f"CVE-{i}": f"n{i}" for i in range(30)})
    path = str(tmp_path / "vbtmc")
    write_bucket_table_versioned(
        merge_upsert(None, base, now=T0), path, key="id", n_buckets=4
    )
    # seed a delta chain so the compactor has something to fold
    seed = spark.createDataFrame([Row(id="CVE-1", nvd="d1")])
    merge_scoped_versioned_mor(spark, path, seed, now=T0)

    compacted = threading.Event()

    def hook():
        # fires in the appender's OCC window (after its delta is
        # staged, before validation) — once: the retry must not
        # re-trigger the compactor
        if not compacted.is_set():
            compacted.set()
            compact_versioned(spark, path)

    batch = spark.createDataFrame(
        [Row(id="CVE-1", nvd="d2"), Row(id="CVE-2", nvd="e1")]
    )
    res = merge_scoped_versioned_mor(
        spark, path, batch, now=T1, occ=True, max_retries=3,
        pre_commit_hook=hook,
    )
    assert compacted.is_set()
    assert res["attempts"] >= 2  # the compact forced a re-land
    snap = {
        r["id"]: r["nvd"]
        for r in read_bucket_table_versioned(spark, path).collect()
    }
    assert snap["CVE-1"] == "d2" and snap["CVE-2"] == "e1"
    assert len(snap) == 30
    # and the compactor's fold is intact under time travel
    from cvemate_spark.operators import merge_versioned as mv

    vs = mv._list_versions(path)
    assert len(vs) >= 4  # load, seed delta, compact, re-landed append

"""OP-MERGE law tests (SURVEY §5.3-5.4).

These encode the reference's upsert semantics
(handlers/mongodb_handler.py:154-175): idempotence, per-source
isolation, created_at immutability, last-writer-wins, and
batch-order convergence for disjoint sources.
"""

from __future__ import annotations

import itertools

from pyspark.sql import Row, functions as F

from cvemate_spark.operators.merge import keep_latest_merge, merge_upsert

T0 = "2024-01-01 00:00:00"
T1 = "2024-01-02 00:00:00"
T2 = "2024-01-03 00:00:00"


def _batch(spark, src: str, rows: dict[str, str]):
    return spark.createDataFrame(
        [Row(id=k, **{src: v}) for k, v in rows.items()]
    )


def _as_map(df):
    return {r["id"]: r.asDict() for r in df.collect()}


def test_insert_then_update_then_idempotent(spark):
    b1 = _batch(spark, "nvd", {"CVE-1": "n1", "CVE-2": "n2"})
    t1 = merge_upsert(None, b1, now=T0)
    b2 = _batch(spark, "nvd", {"CVE-2": "n2x", "CVE-3": "n3"})
    t2 = merge_upsert(t1, b2, now=T1)
    m = _as_map(t2)
    assert m["CVE-1"]["nvd"] == "n1"
    assert m["CVE-2"]["nvd"] == "n2x"  # last writer wins
    assert m["CVE-3"]["nvd"] == "n3"  # upsert-insert
    # idempotence: same batch again changes nothing but updated_at
    t3 = merge_upsert(t2, b2, now=T2)
    m3 = _as_map(t3)
    assert {k: v["nvd"] for k, v in m3.items()} == {
        k: v["nvd"] for k, v in m.items()
    }


def test_per_source_isolation_and_created_at(spark):
    nvd = _batch(spark, "nvd", {"CVE-1": "n1"})
    t = merge_upsert(None, nvd, now=T0)
    epss = _batch(spark, "epss", {"CVE-1": "e1", "CVE-9": "e9"})
    t = merge_upsert(t, epss, now=T1)
    m = _as_map(t)
    # merging epss never nulls nvd ($set touches only its column)
    assert m["CVE-1"]["nvd"] == "n1" and m["CVE-1"]["epss"] == "e1"
    assert m["CVE-9"]["nvd"] is None and m["CVE-9"]["epss"] == "e9"
    # created_at immutable after first insert; updated_at last-writer
    assert str(m["CVE-1"]["created_at"]) == T0
    assert str(m["CVE-1"]["updated_at"]) == T1
    assert str(m["CVE-9"]["created_at"]) == T1
    # a non-matching later merge leaves updated_at alone
    t2 = merge_upsert(t, _batch(spark, "kev", {"CVE-9": "k9"}), now=T2)
    m2 = _as_map(t2)
    assert str(m2["CVE-1"]["updated_at"]) == T1
    assert str(m2["CVE-9"]["updated_at"]) == T2


def test_disjoint_source_batches_commute(spark):
    batches = {
        "nvd": _batch(spark, "nvd", {"CVE-1": "n1", "CVE-2": "n2"}),
        "epss": _batch(spark, "epss", {"CVE-2": "e2", "CVE-3": "e3"}),
        "kev": _batch(spark, "kev", {"CVE-1": "k1", "CVE-3": "k3"}),
    }
    results = []
    for perm in itertools.permutations(batches):
        t = None
        for name in perm:
            t = merge_upsert(t, batches[name], now=T0)
        rows = sorted(
            (
                r["id"],
                r.asDict().get("nvd"),
                r.asDict().get("epss"),
                r.asDict().get("kev"),
            )
            for r in t.collect()
        )
        results.append(rows)
    assert all(r == results[0] for r in results[1:])


def test_keep_latest_merge_commutes(spark):
    rows = [
        Row(k="a", ts=1, v="x1"),
        Row(k="a", ts=3, v="x3"),
        Row(k="a", ts=2, v="x2"),
        Row(k="b", ts=5, v="y5"),
        Row(k="b", ts=4, v="y4"),
    ]
    full = spark.createDataFrame(rows)
    chunks = [full.filter(F.col("ts") % 2 == i) for i in (0, 1)]
    direct = keep_latest_merge(None, full, ["k"], [F.desc("ts")])
    replay1 = keep_latest_merge(
        keep_latest_merge(None, chunks[0], ["k"], [F.desc("ts")]),
        chunks[1],
        ["k"],
        [F.desc("ts")],
    )
    replay2 = keep_latest_merge(
        keep_latest_merge(None, chunks[1], ["k"], [F.desc("ts")]),
        chunks[0],
        ["k"],
        [F.desc("ts")],
    )
    want = {("a", 3, "x3"), ("b", 5, "y5")}
    for df in (direct, replay1, replay2):
        assert {tuple(r) for r in df.collect()} == want


def test_read_target_recovers_displaced_old(spark, tmp_path):
    """write_atomic's swap is two renames with a documented crash
    window (target displaced to .old-*, new dir not yet in place);
    read_target must recover the displaced table instead of reporting
    no table at all."""
    import os

    from cvemate_spark.operators.merge import read_target, write_atomic

    path = str(tmp_path / "cve_table")
    write_atomic(spark.range(5).toDF("id"), path)
    os.rename(path, path + ".old-deadbeef")  # crash between the renames
    got = read_target(spark, path)
    assert got is not None and got.count() == 5
    assert read_target(spark, str(tmp_path / "never_written")) is None


def test_merge_many_equals_fold(spark):
    from cvemate_spark.operators.merge import merge_many

    batches = {
        "nvd": _batch(spark, "nvd", {"CVE-1": "n1", "CVE-2": "n2"}),
        "epss": _batch(spark, "epss", {"CVE-2": "e2", "CVE-3": "e3"}),
        "kev": _batch(spark, "kev", {"CVE-1": "k1", "CVE-3": "k3"}),
    }
    folded = None
    for df in batches.values():
        folded = merge_upsert(folded, df, now=T0)
    wide = merge_many(batches, now=T0)
    key = lambda df: sorted(
        (r["id"], r.asDict().get("nvd"), r.asDict().get("epss"), r.asDict().get("kev"))
        for r in df.collect()
    )
    assert key(folded) == key(wide)


def test_merge_delete_laws(spark):
    from cvemate_spark.operators.merge import merge_upsert_deletes

    NOW = "2026-01-01 00:00:00"
    target = spark.createDataFrame(
        [Row(id="a", v=1), Row(id="b", v=2), Row(id="c", v=3)]
    )
    ups = spark.createDataFrame(
        [
            Row(id="b", v=20, _deleted=False),   # update
            Row(id="c", v=None, _deleted=True),  # delete existing
            Row(id="d", v=40, _deleted=False),   # insert
            Row(id="z", v=None, _deleted=True),  # delete absent: no-op
        ]
    )
    out = merge_upsert_deletes(target, ups, key="id", now=NOW)
    got = {r["id"]: r["v"] for r in out.collect()}
    assert got == {"a": 1, "b": 20, "d": 40}

    # idempotent: re-applying the same batch changes nothing
    again = merge_upsert_deletes(out, ups, key="id", now=NOW)
    assert {r["id"]: r["v"] for r in again.collect()} == got

    # delete is not a blacklist: a later upsert resurrects the key
    back = spark.createDataFrame([Row(id="c", v=300, _deleted=False)])
    res = merge_upsert_deletes(again, back, key="id", now=NOW)
    assert {r["id"]: r["v"] for r in res.collect()}["c"] == 300


def test_merge_delete_null_flag_is_live(spark):
    """A NULL _deleted flag means not-deleted (dirty CDC feeds omit the
    flag on plain upserts): such rows must take the live upsert leg,
    not silently vanish from both filter legs."""
    from cvemate_spark.operators.merge import merge_upsert_deletes

    NOW = "2026-01-01 00:00:00"
    target = spark.createDataFrame([Row(id="a", v=1)])
    ups = spark.createDataFrame(
        [("a", 10, None), ("b", 2, None), ("a2", None, True)],
        "id string, v int, _deleted boolean",
    )
    out = merge_upsert_deletes(target, ups, key="id", now=NOW)
    assert {r["id"]: r["v"] for r in out.collect()} == {"a": 10, "b": 2}


def test_diff_applied_through_merge_reproduces_v2(spark):
    """table_diff and merge_upsert_deletes are inverses: applying the
    CDC batch derived from (v1 -> v2) onto v1 yields exactly v2."""
    from cvemate_spark.operators.merge import merge_upsert_deletes, table_diff

    NOW = "2026-01-01 00:00:00"
    v1 = spark.createDataFrame(
        [Row(id="a", v=1), Row(id="b", v=2), Row(id="c", v=3)]
    )
    v2 = spark.createDataFrame(
        [Row(id="b", v=2), Row(id="c", v=30), Row(id="d", v=4)]
    )
    cdc = table_diff(v1, v2, key="id").withColumn(
        "_deleted", F.col("change") == "delete"
    ).drop("change")
    out = merge_upsert_deletes(v1, cdc, key="id", now=NOW).select("id", "v")
    assert {tuple(r) for r in out.collect()} == {tuple(r) for r in v2.collect()}


# ----------------------------------------- bucket-scoped merge laws
# Scoped merges run on the versioned bucket table
# (operators/merge_versioned.py); these laws tie its bucket-scoped
# write path back to the plain OP-MERGE semantics above. Commit,
# time-travel, concurrency and vacuum laws are in
# tests/test_merge_versioned.py.
def _bucket_files(path):
    """{bucket_dir: {generation/file: mtime_ns}} — the physical-identity
    snapshot the scoping law compares."""
    import glob
    import os

    out = {}
    for d in glob.glob(f"{path}/bucket=*"):
        out[os.path.basename(d)] = {
            os.path.relpath(f, d): os.stat(f).st_mtime_ns
            for f in glob.glob(f"{d}/g-*/*.parquet")
        }
    return out


def test_scoped_merge_equals_global_merge(spark, tmp_path):
    """Semantics: a scoped merge over the bucketed layout produces
    exactly the merge_upsert result (same rows, same audit columns)."""
    from cvemate_spark.operators.merge_versioned import (
        merge_scoped_versioned,
        read_bucket_table_versioned,
        write_bucket_table_versioned,
    )

    base = _batch(spark, "nvd", {f"CVE-{i}": f"n{i}" for i in range(40)})
    target = merge_upsert(None, base, now=T0)
    path = str(tmp_path / "bt")
    write_bucket_table_versioned(target, path, key="id", n_buckets=8)

    batch = _batch(spark, "nvd", {"CVE-3": "n3x", "CVE-900": "new"})
    stats = merge_scoped_versioned(spark, path, batch, now=T1)
    assert stats["buckets_touched"] >= 1

    got = {
        r["id"]: (r["nvd"], str(r["created_at"]), str(r["updated_at"]))
        for r in read_bucket_table_versioned(spark, path).collect()
    }
    want = {
        r["id"]: (r["nvd"], str(r["created_at"]), str(r["updated_at"]))
        for r in merge_upsert(target, batch, now=T1).collect()
    }
    assert got == want


def test_scoped_merge_cost_is_bounded_by_batch(spark, tmp_path):
    """The 100-TB contract: a merge touches at most |batch-keys|
    buckets, and every file already on disk is physically untouched
    (same names, same mtimes — never rewritten or moved); only the
    touched bucket gains files."""
    from cvemate_spark.operators.merge_versioned import (
        merge_scoped_versioned,
        write_bucket_table_versioned,
    )

    base = _batch(spark, "nvd", {f"CVE-{i}": f"n{i}" for i in range(200)})
    path = str(tmp_path / "bt2")
    write_bucket_table_versioned(
        merge_upsert(None, base, now=T0), path, key="id", n_buckets=16
    )
    before = _bucket_files(path)
    assert len(before) > 4  # the layout really is spread over buckets
    files_total = sum(len(v) for v in before.values())

    batch = _batch(spark, "nvd", {"CVE-7": "x"})
    stats = merge_scoped_versioned(spark, path, batch, now=T1)
    assert stats["buckets_touched"] == 1
    assert stats["files_rewritten"] < files_total
    after = _bucket_files(path)
    for b, files in before.items():
        assert files.items() <= after[b].items()  # immutable generations
    changed = [b for b in after if after[b] != before.get(b)]
    assert len(changed) == 1  # exactly the one touched bucket moved


def test_scoped_merge_idempotent_and_delete_leg(spark, tmp_path):
    """Idempotence (same batch twice = same table) and the tombstone
    leg (deleted keys vanish; deleting an absent key is a no-op)."""
    from cvemate_spark.operators.merge_versioned import (
        merge_scoped_versioned,
        read_bucket_table_versioned,
        write_bucket_table_versioned,
    )

    path = str(tmp_path / "bt3")

    def rows():
        return sorted(
            (r["id"], r["nvd"])
            for r in read_bucket_table_versioned(spark, path).collect()
        )

    base = _batch(spark, "nvd", {f"CVE-{i}": f"n{i}" for i in range(20)})
    write_bucket_table_versioned(
        merge_upsert(None, base, now=T0), path, key="id", n_buckets=4
    )
    batch = _batch(spark, "nvd", {"CVE-1": "v2"})
    merge_scoped_versioned(spark, path, batch, now=T1)
    once = rows()
    merge_scoped_versioned(spark, path, batch, now=T1)
    assert rows() == once

    tomb = spark.createDataFrame([
        Row(id="CVE-2", nvd=None, _deleted=True),
        Row(id="CVE-nonexistent", nvd=None, _deleted=True),
        Row(id="CVE-3", nvd="n3x", _deleted=False),
    ])
    merge_scoped_versioned(spark, path, tomb, now=T2, deleted_col="_deleted")
    m = dict(rows())
    assert "CVE-2" not in m and "CVE-nonexistent" not in m
    assert m["CVE-3"] == "n3x" and m["CVE-1"] == "v2"


def test_bucket_point_lookup_prunes_to_one_dir(spark, tmp_path):
    """A point lookup reads exactly one bucket directory (the
    listing-time pruning contract) and returns the right row."""
    from cvemate_spark.operators.merge_versioned import (
        read_bucket_for_key_versioned,
        write_bucket_table_versioned,
    )

    base = _batch(spark, "nvd", {f"CVE-{i}": f"n{i}" for i in range(50)})
    path = str(tmp_path / "bt4")
    write_bucket_table_versioned(
        merge_upsert(None, base, now=T0), path, key="id", n_buckets=8
    )
    df = read_bucket_for_key_versioned(spark, path, "CVE-17")
    rows = df.collect()
    assert len(rows) == 1 and rows[0]["nvd"] == "n17"
    # the scan's file list is confined to one bucket dir
    scan_files = df.inputFiles()
    assert scan_files and all("bucket=" in f for f in scan_files)
    assert len({f.split("bucket=")[1].split("/")[0] for f in scan_files}) == 1


def test_keep_latest_merge_strict_union_by_default(spark):
    """ADVICE r11 (low): the public keep_latest_merge must REJECT a
    batch whose columns don't line up with the target — silent
    null-padding would let a winning batch row null out existing
    values through a misspelled column. Only the versioned fold/MOR
    call sites opt into allow_missing_columns=True."""
    import pytest

    target = spark.createDataFrame([Row(k=1, ts=1, v="a")])
    bad = spark.createDataFrame([Row(k=1, ts=2, vv="b")])  # misspelled
    with pytest.raises(Exception, match="(?i)union|resolve|column"):
        keep_latest_merge(
            target, bad, ["k"], [F.desc("ts")]
        ).collect()
    # the opt-in keeps the versioned layer's null-padding semantics
    out = keep_latest_merge(
        target, bad, ["k"], [F.desc("ts")], allow_missing_columns=True
    ).collect()
    assert out[0]["v"] is None and out[0]["vv"] == "b"

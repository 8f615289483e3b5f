"""CveMate workload benchmark.

    python3 perfbench/run.py --workload <name|all> --seed N --seconds S --trace 0|1

Workloads (README.md says why each exists and how it is sized):
  full_build       rebuild the wide CVE table from 8 feeds' landing files
  serve_mixed      point lookups and scans; every 12 reads one 6-h refresh
                   cycle: KEV, NVD and EPSS delta commits, each followed by
                   a change-feed pull
  advisory_dedup   near-duplicate advisory pairs and their components

One process, one closed-loop client: each op starts when the previous
one has ended. Inputs come from --seed only. Every op's output is checked
against an answer computed without Spark (oracle.py); checks are not
timed. The last stdout line is one JSON object {correct, attempted,
failed, metrics}; the exit code is nonzero if any op failed.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from datetime import timedelta

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("full_build", "serve_mixed", "advisory_dedup")
LOAD_REPS = 3  # serve_mixed loads its table this often in set-up; the median counts
DRIVER_MEM = "2g"
CLK_TCK = os.sysconf("SC_CLK_TCK")

# per-layer metric -> (span name, counter); the event counters of every
# span named in SPAN_EVENTS are appended below
LAYER_METRICS = {
    "session.start_s": ("session.start", "wall_s"),
    "sources.read.call_s": ("sources.read", "call_s"),
    "sources.read.exec_s": ("sources.read", "exec_s"),
    "sources.read.rows_out": ("sources.read", "rows_out"),
    "merge.merge_many.exec_s": ("merge.merge_many", "exec_s"),
    "merge.merge_many.rows_out": ("merge.merge_many", "rows_out"),
    "merge_versioned.load.s": ("merge_versioned.load", "wall_s"),
    "merge_versioned.load.bytes_written": ("merge_versioned.load", "bytes_written"),
    "merge_versioned.load.files_written": ("merge_versioned.load", "files_written"),
    "merge_versioned.commit.s": ("merge_versioned.commit", "wall_s"),
    "merge_versioned.commit.buckets_touched": ("merge_versioned.commit", "buckets_touched"),
    "merge_versioned.commit.files_rewritten": ("merge_versioned.commit", "files_rewritten"),
    "merge_versioned.commit.bytes_rewritten": ("merge_versioned.commit", "bytes_rewritten"),
    "merge_versioned.commit.write_amp": ("merge_versioned.commit", "write_amp"),
    "merge_versioned.change_feed.s": ("merge_versioned.change_feed", "wall_s"),
    "merge_versioned.change_feed.rows": ("merge_versioned.change_feed", "rows"),
    "merge_versioned.lookup.call_s": ("merge_versioned.lookup", "call_s"),
    "merge_versioned.lookup.exec_s": ("merge_versioned.lookup", "exec_s"),
    "merge_versioned.lookup.files_read": ("merge_versioned.lookup", "files_read"),
    "merge_versioned.scan.call_s": ("merge_versioned.scan", "call_s"),
    "merge_versioned.scan.exec_s": ("merge_versioned.scan", "exec_s"),
    "merge_versioned.scan.files_read": ("merge_versioned.scan", "files_read"),
    "merge_versioned.table.bytes_per_row": ("merge_versioned.table", "bytes_per_row"),
    "merge_versioned.table.manifest_bytes": ("merge_versioned.table", "manifest_bytes"),
    "dedup.minhash_pairs.call_s": ("dedup.minhash_pairs", "call_s"),
    "dedup.minhash_pairs.exec_s": ("dedup.minhash_pairs", "exec_s"),
    "dedup.minhash_pairs.candidates": ("dedup.minhash_pairs", "candidates"),
    "dedup.minhash_pairs.pairs": ("dedup.minhash_pairs", "pairs"),
    "dedup.minhash_pairs.verify_ratio": ("dedup.minhash_pairs", "verify_ratio"),
    "dedup.components.s": ("dedup.components", "wall_s"),
}
SPAN_EVENTS = ("sources.read", "merge.merge_many", "merge_versioned.load",
               "merge_versioned.commit", "merge_versioned.change_feed",
               "merge_versioned.lookup", "merge_versioned.scan",
               "dedup.minhash_pairs", "dedup.components")
EVENT_KEYS = ("jobs", "tasks", "jobs_busy_s", "driver_gap_s", "shuffle_write_bytes",
              "spill_bytes", "gc_s", "self_s")
for _span in SPAN_EVENTS:
    for _k in EVENT_KEYS:
        LAYER_METRICS[f"{_span}.{_k}"] = (_span, _k)


def _unit(name: str) -> str:
    last = name.rsplit(".", 1)[1]
    if last == "s" or last.endswith("_s"):
        return "s"
    if "bytes" in last:
        return "bytes"
    return "ratio" if last in ("write_amp", "verify_ratio") else "count"


# ------------------------------------------------------------ statistics
def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) at the highest percentile with at least ten
    samples beyond it, by nearest rank; never below the (upper) median,
    which it is when fewer than 22 samples exist."""
    xs = sorted(samples)
    n = len(xs)
    i = max(n - 11, n // 2)
    return xs[i], 100.0 * (i + 1) / n


def steal_jiffies() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def peak_rss_mb(spark) -> tuple[float, float]:
    """High-water RSS of the driver JVM and of this Python process."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        jvm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return jvm_kb / 1024.0, resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


# ------------------------------------------------------------ processes
def adopt_orphans() -> None:
    """Make this process the reaper of every process started under it,
    so that a JVM's children that outlive the JVM can still be waited for."""
    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def children(pid: int) -> list[int]:
    """Every live process below `pid`."""
    below: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            below.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        kids = below.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def reap_children(grace_s: float = 30.0) -> None:
    """Wait until every process below this one has ended; kill those
    still there after `grace_s`."""
    deadline = time.monotonic() + grace_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:  # nothing left to wait for
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for kid in children(os.getpid()):
                try:
                    os.kill(kid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = float("inf")
        time.sleep(0.05)


def stop_spark() -> None:
    """Stop the Spark session, its gateway and its JVM, and wait until
    they and every process they started have ended. spark.stop() alone
    leaves the JVM running until it notices, after this process has
    exited, that its standard input is closed."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    finally:
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            try:
                gateway.shutdown()
            finally:
                SparkContext._gateway = SparkContext._jvm = None
                if proc is not None and proc.poll() is None:
                    proc.terminate()
                    try:
                        proc.wait(timeout=30)
                    except subprocess.TimeoutExpired:
                        proc.kill()
                        proc.wait()
        reap_children()


def tree_rev() -> str:
    """git rev of the checkout, or a digest of the sources when the
    checkout is not a git repository."""
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10, check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        import hashlib

        h = hashlib.sha256()
        for base in ("cvemate_spark", "perfbench"):
            for d, _, files in sorted(os.walk(os.path.join(ROOT, base))):
                for f in sorted(files):
                    if f.endswith(".py"):
                        with open(os.path.join(d, f), "rb") as fh:
                            h.update(fh.read())
        return "src-" + h.hexdigest()[:12]


def dir_bytes(path: str, suffix: str) -> tuple[int, int]:
    """(bytes, files) of the files under `path` ending in `suffix`."""
    total = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(suffix):
                total += os.path.getsize(os.path.join(d, n))
                files += 1
    return total, files


# ------------------------------------------------------------ workloads
class Run:
    """State of one workload run: session, tracer, data dir, samples."""

    def __init__(self, spark, tracer, data: str, seed: int, scale: float):
        from gen import SIZES

        self.spark, self.tr, self.data, self.seed = spark, tracer, data, seed
        self.sizes = {k: (max(int(v * scale), 1) if isinstance(v, int) and k.endswith(
            ("cves", "rows", "docs", "clusters")) else v) for k, v in SIZES.items()}
        self.samples: dict[str, list[float]] = {}
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.setup_reps: list[float] = []
        self.once: dict = {}  # traced-run counters that do not change between ops

    def record(self, kind: str, seconds: float) -> None:
        self.samples.setdefault(kind, []).append(seconds * 1000.0)

    def check(self, problems: list[str]) -> None:
        if problems:
            self.failed += 1
            self.problems += problems

    def noop(self, df) -> float:
        t = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t


def read_feeds(spark, paths: dict[str, str]) -> dict:
    """The eight feeds through their readers and normalizers."""
    from pyspark.sql import functions as F
    from cvemate_spark.sources import formats as S
    from gen import WATERMARK

    delta = S.normalize_cveorg_delta(spark, paths["cveorg"])
    cveorg = (delta.filter(F.col("fetch_time") > F.lit(WATERMARK).cast("timestamp"))
              .groupBy("id").agg(F.max("fetch_time").alias("fetch_time"))
              .select("id", F.struct("fetch_time").alias("cveorg")))
    return {
        "nvd": S.normalize_nvd(S.read_nvd_json(spark, paths["nvd"])),
        "redhat": S.normalize_redhat(S.read_redhat_json(spark, paths["redhat"])),
        "exploitdb": S.normalize_exploitdb(spark.read.csv(paths["exploitdb"], header=True)),
        "epss": S.normalize_epss(S.read_epss_csv(spark, paths["epss"])),
        "kev": S.normalize_kev(spark, paths["kev"]),
        "metasploit": S.normalize_metasploit(spark, paths["metasploit"]),
        "debian": S.normalize_debian(spark, paths["debian"]),
        "cveorg": cveorg,
    }


def build_summary(spark, path: str) -> list[tuple]:
    """The built table's per-priority histogram, presence counts and
    content hash, in the shape of oracle.build_expected."""
    from pyspark.sql import functions as F
    from cvemate_spark.functions.scoring import score_cve_table
    from cvemate_spark.operators.merge_versioned import read_bucket_table_versioned
    from oracle import BUILD_SOURCES

    t = score_cve_table(read_bucket_table_versioned(spark, path))
    mask = sum(F.when(F.col(s).isNotNull(), 1 << i).otherwise(0)
               for i, s in enumerate(BUILD_SOURCES))
    t = t.withColumn("mask", mask)
    h = F.expr("cast(conv(substring(md5(concat_ws('|', id, priority, mask)), 1, 15), 16, 10)"
               " as decimal(38, 0))")
    rows = (t.groupBy("priority")
            .agg(F.count("*"), *[F.sum(F.col(s).isNotNull().cast("long")) for s in BUILD_SOURCES],
                 F.sum(h)).orderBy("priority").collect())
    return [tuple(int(x) for x in r) for r in rows]


def full_build(r: Run, seconds: float) -> None:
    from cvemate_spark.functions.scoring import score_cve_table
    from cvemate_spark.operators.merge import merge_many
    from cvemate_spark.operators.merge_versioned import write_bucket_table_versioned
    import gen
    import oracle

    paths = gen.landing(os.path.join(r.data, "landing"), r.seed, r.sizes["build_cves"])
    expected = oracle.build_expected(paths, gen.WATERMARK)
    tr, spark = r.tr, r.spark

    def op(i: int) -> float:
        out = os.path.join(r.data, f"build-{i}")
        t0 = time.perf_counter()
        with tr.span("op.full_build"):
            with tr.span("sources.read") as c_read:
                feeds = read_feeds(spark, paths)
                c_read["call_s"] = time.perf_counter() - t0
                if tr.enabled:
                    c_read["exec_s"] = sum(r.noop(df) for df in feeds.values())
            with tr.span("merge.merge_many") as c_merge:
                wide = merge_many(feeds)
                if tr.enabled:
                    c_merge["exec_s"] = r.noop(wide)
            with tr.span("merge_versioned.load") as c_load:
                write_bucket_table_versioned(score_cve_table(wide), out,
                                             n_buckets=r.sizes["n_buckets"])
        elapsed = time.perf_counter() - t0
        if tr.enabled:
            c_load["bytes_written"], c_load["files_written"] = dir_bytes(out, ".parquet")
            if not r.once:
                r.once["feed_rows"] = sum(df.count() for df in feeds.values())
                r.once["wide_rows"] = wide.count()
            c_read["rows_out"], c_merge["rows_out"] = r.once["feed_rows"], r.once["wide_rows"]
        r.check(oracle.compare_build(build_summary(spark, out), expected))
        shutil.rmtree(out)
        return elapsed

    loop(r, seconds, op)


def _now_str(when) -> str:
    return when.strftime("%Y-%m-%d %H:%M:%S")


class Table:
    """The versioned wide table of refresh/serve, its model and delta stream."""

    def __init__(self, r: Run):
        import gen

        self.r = r
        snap, self.model = gen.snapshot(os.path.join(r.data, "snap"), r.seed, r.sizes["table_rows"])
        self.snap = snap
        self.stream = gen.DeltaStream(os.path.join(r.data, "deltas"), r.seed, r.sizes["table_rows"])
        self.commits = 0
        self.clock = gen.BASE
        self.path = None

    def load(self, rep: int) -> None:
        from cvemate_spark.operators.merge_versioned import write_bucket_table_versioned

        if self.path:
            shutil.rmtree(self.path)
        self.path = os.path.join(self.r.data, f"table-{rep}")
        with self.r.tr.span("merge_versioned.load") as c:
            write_bucket_table_versioned(self.r.spark.read.parquet(self.snap), self.path,
                                         n_buckets=self.r.sizes["n_buckets"])
        if self.r.tr.enabled:
            c["bytes_written"], c["files_written"] = dir_bytes(self.path, ".parquet")

    def refresh(self) -> float:
        """One feed delta commit plus the consumer's change-feed pull."""
        from cvemate_spark.operators.merge_versioned import change_feed, merge_scoped_versioned
        import oracle

        r, tr = self.r, self.r.tr
        feed, dpath, rows, when = self.stream.delta(self.commits)
        self.commits += 1
        t0 = time.perf_counter()
        with tr.span("op.refresh"):
            with tr.span("merge_versioned.commit") as c:
                res = merge_scoped_versioned(r.spark, self.path, r.spark.read.parquet(dpath),
                                             now=_now_str(when))
            with tr.span("merge_versioned.change_feed") as cf:
                feed_df = change_feed(r.spark, self.path, res["version"] - 1, res["version"])
                pulled = feed_df.collect() if feed_df is not None else []
        elapsed = time.perf_counter() - t0
        if tr.enabled:
            c.update({k: res[k] for k in ("buckets_touched", "files_rewritten", "bytes_rewritten")})
            c["write_amp"] = res["bytes_rewritten"] / os.path.getsize(dpath)
            cf["rows"] = len(pulled)
        self.clock = when
        changed, inserted = oracle.apply_delta(self.model, feed, rows, int(when.timestamp()))
        r.check(oracle.compare_feed(len(pulled), sum(p["change"] == "insert" for p in pulled),
                                    changed, inserted))
        return elapsed

    def actual(self, df) -> dict:
        """{id: row_key} of a DataFrame in the table's shape."""
        import oracle

        from pyspark.sql import functions as F

        rows = df.select("id", "nvd.lastModified", "nvd.description", "epss", "kev",
                         F.col("created_at").cast("long").alias("c"),
                         F.col("updated_at").cast("long").alias("u")).collect()
        return {x["id"]: oracle.row_key({
            "nvd": {"lastModified": x["lastModified"], "description": x["description"]}
            if x["lastModified"] is not None else None,
            "epss": x["epss"].asDict() if x["epss"] else None,
            "kev": x["kev"].asDict() if x["kev"] else None,
            "created": x["c"], "updated": x["u"]}) for x in rows}

    def check_final(self) -> None:
        from cvemate_spark.operators.merge_versioned import read_bucket_table_versioned
        import oracle

        got = self.actual(read_bucket_table_versioned(self.r.spark, self.path))
        self.r.check(oracle.compare_rows("final table", got,
                                         {c: oracle.row_key(v) for c, v in self.model.items()}))

    def table_counters(self) -> None:
        """Table layout read from disk after the run."""
        if not self.r.tr.enabled:
            return
        data, _ = dir_bytes(self.path, ".parquet")
        meta = sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(self.path)
                   for f in fs if f.endswith(".json"))
        with self.r.tr.span("merge_versioned.table") as c:
            c["bytes_per_row"] = data / len(self.model)
            c["manifest_bytes"] = meta


def setup_table(r: Run) -> Table:
    t = Table(r)
    for rep in range(LOAD_REPS):
        t0 = time.perf_counter()
        t.load(rep)
        r.setup_reps.append(time.perf_counter() - t0)
    return t


def serve_mixed(r: Run, seconds: float) -> None:
    from pyspark.sql import functions as F
    from cvemate_spark.functions.scoring import score_cve_table
    from cvemate_spark.operators.merge_versioned import (
        read_bucket_for_key_versioned, read_bucket_table_versioned, scan_versioned)
    import gen
    import oracle

    t = setup_table(r)
    tr, spark = r.tr, r.spark
    r.tr.phase = "run"
    n0 = r.sizes["table_rows"]
    deadline = time.perf_counter() + seconds
    cycle = 0
    while cycle == 0 or time.perf_counter() < deadline:
        n_ids = t.stream.next_new
        for kind, arg in gen.read_mix(r.seed * 100_003 + cycle, n_ids):
            r.attempted += 1
            try:
                t0 = time.perf_counter()
                if kind == "lookup":
                    cid = arg if isinstance(arg, str) else gen.cve_id(arg, n0)
                    with tr.span("merge_versioned.lookup") as c:
                        df = read_bucket_for_key_versioned(spark, t.path, cid)
                        c["call_s"] = time.perf_counter() - t0
                        got = t.actual(df) if df is not None else {}
                elif kind == "topk":
                    with tr.span("merge_versioned.scan") as c:
                        df = (score_cve_table(read_bucket_table_versioned(spark, t.path))
                              .select("id", "priority",
                                      F.col("epss.epss_score").cast("double").alias("e"))
                              .orderBy(F.col("priority"), F.col("e").desc_nulls_last(),
                                       F.col("id")).limit(arg))
                        c["call_s"] = time.perf_counter() - t0
                        got = [(x["id"], x["priority"]) for x in df.collect()]
                else:
                    lo = t.clock - timedelta(hours=arg)
                    with tr.span("merge_versioned.scan") as c:
                        df = scan_versioned(spark, t.path, "updated_at", lo=lo).select("id")
                        c["call_s"] = time.perf_counter() - t0
                        got = sorted(x["id"] for x in df.collect())
                elapsed = time.perf_counter() - t0
                c["exec_s"] = elapsed - c["call_s"]
                r.record("op", elapsed)
                r.record("lookup" if kind == "lookup" else "scan", elapsed)
                if tr.enabled and df is not None:
                    c["files_read"] = len(df.inputFiles())
                if kind == "lookup":
                    want = {cid: oracle.row_key(t.model[cid])} if cid in t.model else {}
                elif kind == "topk":
                    want = oracle.topk_expected(t.model, arg)
                else:
                    cut = int(lo.timestamp())
                    want = sorted(cid for cid, v in t.model.items() if v["updated"] >= cut)
                r.check(oracle.compare_read(f"{kind} {arg}", got, want))
            except Exception:  # an op that raises counts as failed; the run goes on
                r.check([f"{kind} {arg} raised:\n{traceback.format_exc()}"])
        for _ in gen.FEEDS:  # one 6-h cycle: a commit and a pull per feed
            r.attempted += 1
            try:
                elapsed = t.refresh()
                r.record("op", elapsed)
                r.record("refresh", elapsed)
            except Exception:  # an op that raises counts as failed; the run goes on
                r.check([f"refresh raised:\n{traceback.format_exc()}"])
        cycle += 1
    t.check_final()
    t.table_counters()


def advisory_dedup(r: Run, seconds: float) -> None:
    from cvemate_spark.operators.dedup import (
        dedup_components, doc_shingle_arrays, lsh_candidates, minhash_pairs,
        minhash_signatures_local)
    import gen
    import oracle

    path = gen.corpus(os.path.join(r.data, "corpus"), r.seed, r.sizes["docs"],
                      r.sizes["dup_clusters"])
    expected = oracle.dedup_expected(path)
    tr, spark = r.tr, r.spark

    def op(i: int) -> float:
        docs = spark.read.parquet(path)
        t0 = time.perf_counter()
        with tr.span("op.advisory_dedup"):
            with tr.span("dedup.minhash_pairs") as c:
                pairs = minhash_pairs(docs).persist()
                c["call_s"] = time.perf_counter() - t0
                n_pairs = pairs.count()
                c["exec_s"] = time.perf_counter() - t0 - c["call_s"]
            with tr.span("dedup.components"):
                comps = dedup_components(pairs).collect()
        elapsed = time.perf_counter() - t0
        got = [(x["d1"], x["d2"], x["jaccard"]) for x in pairs.collect()]
        if tr.enabled:
            c["pairs"] = n_pairs
            if not r.once:
                r.once["candidates"] = lsh_candidates(
                    minhash_signatures_local(doc_shingle_arrays(docs))).count()
            c["candidates"] = r.once["candidates"]
            c["verify_ratio"] = n_pairs / max(r.once["candidates"], 1)
        spark.catalog.clearCache()
        r.check(oracle.compare_dedup(got, expected, {x["doc_id"]: x["component"] for x in comps}))
        return elapsed

    loop(r, seconds, op)


def loop(r: Run, seconds: float, op) -> None:
    """Closed loop for `seconds`, after one warm-up op that counts as set-up
    (the first op in a fresh JVM is cold, so it cannot be repeated)."""
    r.attempted += 1
    t0 = time.perf_counter()
    try:
        op(0)
    except Exception:  # an op that raises counts as failed; the run goes on
        r.check([f"warm-up op raised:\n{traceback.format_exc()}"])
    r.setup_reps.append(time.perf_counter() - t0)
    r.tr.phase = "run"
    deadline = time.perf_counter() + seconds
    i = 1
    while i == 1 or time.perf_counter() < deadline:
        r.attempted += 1
        try:
            r.record("op", op(i))
        except Exception:  # an op that raises counts as failed; the run goes on
            r.check([f"op {i} raised:\n{traceback.format_exc()}"])
        i += 1


# ------------------------------------------------------------ one workload
def run_workload(args) -> int:
    """One workload in this process; its data dir is removed at the end."""
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    data = os.path.join(HERE, ".data", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(data, "tmp"))
    adopt_orphans()
    # a SIGTERM unwinds like an exception, so the JVM is stopped below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        return _run_workload(args, data)
    finally:
        try:
            stop_spark()
        finally:
            shutil.rmtree(data, ignore_errors=True)


def _run_workload(args, data: str) -> int:
    # keep Spark's scratch, the warehouse and JVM temp files inside the data dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(data, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(data, "warehouse")
    os.environ["TMPDIR"] = os.path.join(data, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={data}/tmp -XX:-UsePerfData"
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    cpus = len(os.sched_getaffinity(0))
    from cvemate_spark.session import get_spark
    from spans import Tracer, attribute, event_log_conf, per_name, read_event_log, tree_lines

    log_dir = os.path.join(data, "eventlog")
    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=cpus,
                      extra_conf=event_log_conf(log_dir) if args.trace else None)
    session_s = time.perf_counter() - t0
    tracer = Tracer(spark.sparkContext, bool(args.trace))
    if args.trace:
        tracer.spans.append({"id": "pb-session", "name": "session.start", "phase": "run",
                             "parent": None, "start": time.time() - session_s,
                             "end": time.time(), "counters": {}})
    r = Run(spark, tracer, data, args.seed, args.scale)
    steal0, wall0 = steal_jiffies(), time.time()
    try:
        globals()[args.workload](r, args.seconds)
        rss = peak_rss_mb(spark)
    finally:
        stop_spark()
    steal_pct = 100.0 * (steal_jiffies() - steal0) / CLK_TCK / (time.time() - wall0)
    for p in r.problems[:20]:
        print("problem " + p, file=sys.stderr)
    prim = r.samples.get("op")
    if not prim:
        print("perfbench: no op of the window succeeded", file=sys.stderr)
        return 1
    end_to_end = {
        "setup_s": {"value": session_s + statistics.median(r.setup_reps), "unit": "s"},
        "op_p50_ms": {"value": statistics.median(prim), "unit": "ms"},
        "op_mean_ms": {"value": statistics.fmean(prim), "unit": "ms"},
    }
    context = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
               "trace": args.trace, "cpus": cpus, "rev": tree_rev(),
               "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
               "steal_pct_of_one_core": round(steal_pct, 3), "scale": args.scale,
               "op_ms": [round(x, 1) for x in prim],
               "setup_reps_s": [round(x, 4) for x in r.setup_reps],
               "session_start_s": round(session_s, 4), "sizes": r.sizes,
               "rss_mb": {"jvm": round(rss[0], 1), "python": round(rss[1], 1)},
               "end_to_end": {k: m["value"] for k, m in end_to_end.items()}}
    print("context " + json.dumps(context))
    # the figures the workload is named for, beside the uniform end-to-end set
    if args.workload == "serve_mixed":
        for kind in ("lookup", "scan", "refresh"):
            xs = r.samples.get(kind) or [float("nan")]
            tv, tp = tail(xs)
            print(f"figure {kind}_p50_ms {statistics.median(xs):.3f} ms  "
                  f"{kind}_tail_ms {tv:.3f} ms (p{tp:.1f}, n={len(xs)})")
    else:
        print(f"figure {args.workload.split('_')[-1]}_s {statistics.median(prim) / 1000:.4f} s "
              f"(median of n={len(prim)})")
    tv, tp = tail(prim)
    print(f"figure op_tail_ms {tv:.3f} ms (p{tp:.1f}, n={len(prim)})")
    print(f"figure op_fail_ratio {r.failed / max(r.attempted, 1):.4f} ratio "
          f"({r.failed} of {r.attempted})")

    if args.trace:
        attribute(tracer.spans, read_event_log(log_dir))
        for line in tree_lines(tracer.spans):
            print("span " + line)
        layers = per_name(tracer.spans)
        metrics = {}
        for name, (span, key) in LAYER_METRICS.items():
            metrics[name] = {"value": layers.get(span, {}).get(key, 0), "unit": _unit(name)}
        metrics["process.peak_rss_mb"] = {"value": sum(rss), "unit": "MB"}
    else:
        metrics = end_to_end
    for name, m in metrics.items():
        print(f"metric {name} {m['value']} {m['unit']}")
    print(json.dumps({"correct": r.failed == 0, "attempted": r.attempted,
                      "failed": r.failed, "metrics": metrics}))
    return 0 if r.failed == 0 else 1


# ------------------------------------------------------------ all workloads
def run_all(args) -> int:
    """Every workload in its own process; with --trace 1 also untraced,
    to report each workload's tracing overhead."""
    out_metrics, attempted, failed, ok = {}, 0, 0, True
    for w in WORKLOADS:
        results = {}
        for trace in ([0, 1] if args.trace else [0]):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(trace), "--scale", str(args.scale)]
            p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                                 text=True, start_new_session=True)
            try:
                out, err = p.communicate(timeout=900)
            except subprocess.TimeoutExpired:  # take its JVM down with it
                os.killpg(p.pid, signal.SIGKILL)
                out, err = p.communicate()
            lines = out.strip().splitlines()
            for line in lines[:-1]:
                print(f"[{w}] {line}")
            sys.stderr.write(err[-4000:] if p.returncode else "")
            try:
                res = json.loads(lines[-1])
            except (IndexError, json.JSONDecodeError):  # the run died before its result
                res = {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}
            res["context"] = next((json.loads(x[len("context "):]) for x in lines
                                   if x.startswith("context ")), {"end_to_end": {}})
            ok &= p.returncode == 0 and res["correct"]
            results[trace] = res
        attempted += results[args.trace]["attempted"]
        failed += results[args.trace]["failed"]
        for name, m in results[args.trace]["metrics"].items():
            out_metrics[f"{w}.{name}"] = m
        if args.trace:
            plain, traced = (results[t]["context"]["end_to_end"] for t in (0, 1))
            print(f"tracing_overhead {w} " + " ".join(
                f"{k}={traced.get(k, float('nan')) - plain[k]:+.4f}" for k in plain))
    print(json.dumps({"correct": ok, "attempted": attempted, "failed": failed,
                      "metrics": out_metrics}))
    return 0 if ok else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="multiplier on the input sizes (the self-test runs tiny)")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "cvemate_spark")):
        print(f"perfbench: no cvemate_spark package under {ROOT}", file=sys.stderr)
        return 2
    return run_all(args) if args.workload == "all" else run_workload(args)


if __name__ == "__main__":
    sys.exit(main())

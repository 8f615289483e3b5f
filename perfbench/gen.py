"""Seeded input generators for the CveMate workload benchmark.

Everything the program under test reads is written here from a seed:
the same seed gives byte-identical files. Nothing here imports Spark.

Sizes are set in SIZES, scaled down from the production job (about
300k CVEs in 8 feeds, a refresh every 6 h) so that one run fits its time
budget; README.md gives the reasoning. The per-cycle delta sizes are a
guess: no live feed volumes are available offline.
"""

from __future__ import annotations

import csv
import gzip
import io
import json
import os
import random
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {
    # full_build: landing files for one rebuild
    "build_cves": 12_000,
    "nvd_page": 2_000,
    # nightly_refresh / serve_mixed: the versioned wide table
    "table_rows": 12_000,
    "n_buckets": 32,
    "kev_delta": 4,
    "nvd_delta": 160,
    "epss_delta": 160,
    "nvd_new_share": 0.25,
    # serve_mixed: reads per refresh commit, and their mix
    "lookups": 10,
    "topk_scans": 1,
    "fresh_scans": 1,
    "topk": 20,
    "fresh_hours": 12,
    # advisory_dedup: corpus size and planted duplicate clusters
    "docs": 1_500,
    "dup_clusters": 150,
}

BASE = datetime(2026, 3, 15, tzinfo=timezone.utc)
WATERMARK = "2026-03-14T12:00:00"
VOCAB_WORDS = 3_000
_VULNS = [
    "buffer overflow", "use after free", "SQL injection", "cross site scripting",
    "path traversal", "integer overflow", "race condition", "null pointer dereference",
    "improper authentication", "deserialization of untrusted data",
]
_IMPACTS = [
    "execute arbitrary code", "cause a denial of service", "read sensitive files",
    "escalate privileges", "bypass authentication", "inject arbitrary web script",
]
_PACKAGES = [f"pkg{i:03d}" for i in range(60)]


def cve_id(i: int, n: int) -> str:
    """Ids grow with recency: index i of n lands in year 2000 + 26*i/n."""
    return f"CVE-{2000 + (26 * i) // max(n, 1)}-{i:06d}"


def recency_rank(rng: random.Random, n: int) -> int:
    """Zipf(1)-like recency rank in [0, n): P(rank < r) = log(r + 1) / log(n),
    so half the picks fall on the newest sqrt(n) ids."""
    return min(int(n ** rng.random()) - 1, n - 1)


def _ts(dt: datetime) -> str:
    return dt.strftime("%Y-%m-%dT%H:%M:%S.000")


def _words(rng: random.Random, n: int) -> str:
    return " ".join(f"w{rng.randrange(VOCAB_WORDS)}" for _ in range(n))


def _metrics(rng: random.Random) -> dict:
    """CVSS presence variants, including the reference's trap: V31 present
    without a baseScore next to a scored V30 (must score 0.0)."""

    def scored(version: str) -> list:
        return [{"cvssData": {"version": version,
                              "baseScore": round(rng.uniform(0.0, 10.0), 1)}}]

    kind = rng.randrange(6)
    if kind == 0:
        return {"cvssMetricV31": scored("3.1")}
    if kind == 1:
        return {"cvssMetricV30": scored("3.0")}
    if kind == 2:
        return {"cvssMetricV2": scored("2.0")}
    if kind == 3:
        return {"cvssMetricV31": [{"cvssData": {"version": "3.1"}}],
                "cvssMetricV30": scored("3.0")}
    if kind == 4:
        return {"cvssMetricV31": scored("3.1"), "cvssMetricV2": scored("2.0")}
    return {}


def _write(path: str, text: str) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, path)


# ------------------------------------------------------------ full_build
def landing(root: str, seed: int, n: int) -> dict[str, str]:
    """The eight feeds' landing files for one rebuild of `n` CVEs."""
    rng = random.Random(seed * 1_000_003 + 1)
    os.makedirs(root, exist_ok=True)
    ids = [cve_id(i, n) for i in range(n)]
    out = {}

    nvd_dir = os.path.join(root, "nvd")
    os.makedirs(nvd_dir, exist_ok=True)
    page = SIZES["nvd_page"]
    for p in range(0, n, page):
        vulns = []
        for i in range(p, min(p + page, n)):
            mod = BASE - timedelta(days=rng.randrange(3000))
            vulns.append({"cve": {
                "id": ids[i],
                "sourceIdentifier": "cve@mitre.org",
                "published": _ts(mod - timedelta(days=rng.randrange(400))),
                "lastModified": _ts(mod),
                "vulnStatus": rng.choice(["Analyzed", "Modified", "Awaiting Analysis"]),
                "descriptions": [{"lang": "en", "value": _words(rng, 30)}],
                "metrics": _metrics(rng),
                "weaknesses": [{"source": "nvd@nist.gov", "type": "Primary",
                                "description": [{"lang": "en",
                                                 "value": f"CWE-{rng.randrange(900)}"}]}],
            }})
        _write(os.path.join(nvd_dir, f"page-{p // page:04d}.json"), json.dumps({
            "resultsPerPage": len(vulns), "startIndex": p, "totalResults": n,
            "vulnerabilities": vulns,
        }))
    out["nvd"] = nvd_dir

    rh_dir = os.path.join(root, "redhat")
    os.makedirs(rh_dir, exist_ok=True)
    rh = [i for i in range(n) if rng.random() < 0.3]
    for p in range(0, len(rh), page):
        vulns = [{"cve": {"id": ids[i],
                          "severity": rng.choice(["low", "moderate", "important", "critical"]),
                          "public_date": _ts(BASE - timedelta(days=rng.randrange(3000)))}}
                 for i in rh[p:p + page]]
        _write(os.path.join(rh_dir, f"page-{p // page:04d}.json"), json.dumps({
            "totalResults": len(rh), "resultsPerPage": len(vulns),
            "vulnerabilities": vulns,
        }))
    out["redhat"] = rh_dir

    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(["id", "file", "description", "date_published", "author",
                "type", "platform", "codes"])
    for e in range(n // 8):
        codes = [f"OSVDB-{e}"] + [ids[rng.randrange(n)] for _ in range(rng.choice([1, 1, 2]))]
        rng.shuffle(codes)
        w.writerow([e, f"exploits/x_{e}.py", _words(rng, 6), "2024-01-01",
                    f"author{e % 97}", rng.choice(["remote", "local", "dos", "webapps"]),
                    rng.choice(["linux", "windows", "php"]), ";".join(codes)])
    out["exploitdb"] = os.path.join(root, "files_exploits.csv")
    _write(out["exploitdb"], buf.getvalue())

    lines = ["#model_version:v2026.03.15,score_date:2026-03-15T00:00:00+0000",
             "cve,epss,percentile"]
    for i in range(n):
        if rng.random() < 0.85:
            pct = "" if rng.random() < 0.03 else f"{rng.random():.5f}"
            lines.append(f"{ids[i]},{rng.random() ** 3:.5f},{pct}")
    out["epss"] = os.path.join(root, "epss_scores-current.csv.gz")
    with open(out["epss"], "wb") as raw, gzip.GzipFile(
        filename="", mode="wb", fileobj=raw, mtime=0
    ) as gz:
        gz.write(("\n".join(lines) + "\n").encode())

    kev = [i for i in range(n) if rng.random() < 0.02]
    out["kev"] = os.path.join(root, "known_exploited_vulnerabilities.json")
    _write(out["kev"], json.dumps({
        "catalogVersion": "2026.03.15", "dateReleased": "2026-03-15T00:00:00.000Z",
        "count": len(kev),
        "vulnerabilities": [{"cveID": ids[i], "vendorProject": f"vendor{i % 50}",
                             "product": f"product{i % 200}", "dateAdded": "2026-03-01"}
                            for i in kev],
    }))

    modules = {}
    for m in range(n // 30):
        refs = [ids[rng.randrange(n)] for _ in range(rng.choice([1, 2]))] + [f"OSVDB-{m}"]
        key = f"exploit/{rng.choice(['linux', 'windows', 'multi'])}/mod_{m}"
        modules[key] = {"name": f"mod_{m}", "fullname": key, "rank": rng.choice([300, 500, 600]),
                        "disclosure_date": "2024-01-01", "references": refs}
    out["metasploit"] = os.path.join(root, "modules_metadata_base.json")
    _write(out["metasploit"], json.dumps(modules))

    tracker: dict[str, dict] = {}
    for i in range(n):
        if rng.random() < 0.15:
            tracker.setdefault(rng.choice(_PACKAGES), {})[ids[i]] = {
                "description": _words(rng, 5), "scope": rng.choice(["local", "remote"])}
    tracker.setdefault(_PACKAGES[0], {})["TEMP-0000001-ABCDEF"] = {
        "description": "not a CVE", "scope": "local"}
    out["debian"] = os.path.join(root, "debian_tracker.json")
    _write(out["debian"], json.dumps(tracker))

    recent = [ids[i] for i in range(n) if rng.random() < 0.05]
    stale = [ids[i] for i in range(n) if rng.random() < 0.02]
    out["cveorg"] = os.path.join(root, "deltaLog.json")
    _write(out["cveorg"], json.dumps([
        {"fetchTime": "2026-03-15T10:00:00.000Z", "numberOfChanges": len(recent),
         "new": [{"cveId": c} for c in recent[::2]],
         "updated": [{"cveId": c} for c in recent[1::2]]},
        {"fetchTime": "2026-03-13T10:00:00.000Z", "numberOfChanges": len(stale),
         "new": [{"cveId": c} for c in stale], "updated": []},
    ]))
    return out


# ------------------------------------------------ the versioned wide table
_CVSS = pa.list_(pa.struct([("cvssData", pa.struct([("baseScore", pa.float64())]))]))
NVD_T = pa.struct([
    ("id", pa.string()), ("lastModified", pa.string()), ("description", pa.string()),
    ("metrics", pa.struct([("cvssMetricV31", _CVSS), ("cvssMetricV30", _CVSS),
                           ("cvssMetricV2", _CVSS)])),
])
EPSS_T = pa.struct([("epss_score", pa.string()), ("percentile", pa.string())])
KEV_T = pa.struct([("cveID", pa.string()), ("vendorProject", pa.string()),
                   ("dateAdded", pa.string())])
TS_T = pa.timestamp("us", tz="UTC")
SCHEMAS = {
    "nvd": pa.schema([("id", pa.string()), ("nvd", NVD_T)]),
    "epss": pa.schema([("id", pa.string()), ("epss", EPSS_T)]),
    "kev": pa.schema([("id", pa.string()), ("kev", KEV_T)]),
}
FEEDS = ("kev", "nvd", "epss")  # commit order inside one 6-h cycle


def _nvd_struct(rng: random.Random, cid: str, when: datetime) -> dict:
    m = _metrics(rng)
    strip = {k: [{"cvssData": {"baseScore": e["cvssData"].get("baseScore")}} for e in v]
             for k, v in m.items()}
    return {"id": cid, "lastModified": _ts(when), "description": _words(rng, 24),
            "metrics": {k: strip.get(k) for k in ("cvssMetricV31", "cvssMetricV30",
                                                  "cvssMetricV2")}}


def _epss_struct(rng: random.Random) -> dict:
    return {"epss_score": f"{rng.random() ** 3:.5f}", "percentile": f"{rng.random():.5f}"}


def _kev_struct(cid: str, i: int, when: datetime) -> dict:
    return {"cveID": cid, "vendorProject": f"vendor{i % 50}", "dateAdded": when.date().isoformat()}


def snapshot(root: str, seed: int, n: int) -> tuple[str, dict]:
    """The initial wide table (parquet) and its Python model
    {id: {nvd, epss, kev, created, updated}}; timestamps are epoch seconds."""
    rng = random.Random(seed * 1_000_003 + 2)
    os.makedirs(root, exist_ok=True)
    model = {}
    for i in range(n):
        cid = cve_id(i, n)
        # recent CVEs were touched recently: age shrinks with the index
        age_h = int((1 - i / n) * 24 * 60) + rng.randrange(48)
        updated = BASE - timedelta(hours=age_h)
        created = updated - timedelta(days=rng.randrange(30))
        model[cid] = {
            "nvd": _nvd_struct(rng, cid, updated),
            "epss": _epss_struct(rng) if rng.random() < 0.85 else None,
            "kev": _kev_struct(cid, i, updated) if rng.random() < 0.02 else None,
            "created": int(created.timestamp()),
            "updated": int(updated.timestamp()),
        }
    ids = list(model)
    table = pa.table({
        "id": pa.array(ids),
        "nvd": pa.array([model[c]["nvd"] for c in ids], NVD_T),
        "epss": pa.array([model[c]["epss"] for c in ids], EPSS_T),
        "kev": pa.array([model[c]["kev"] for c in ids], KEV_T),
        "created_at": pa.array([model[c]["created"] * 1_000_000 for c in ids], TS_T),
        "updated_at": pa.array([model[c]["updated"] * 1_000_000 for c in ids], TS_T),
    })
    path = os.path.join(root, "snapshot.parquet")
    pq.write_table(table, path)
    return path, model


class DeltaStream:
    """Per-feed deltas of the 6-h refresh cycle, generated on demand from
    (seed, commit index) so a run never runs out of inputs.

    KEV adds touch a few buckets; NVD and EPSS deltas pick ids with a
    Zipf-skewed recency (newest CVEs change most) and so touch most of
    the buckets. NVD deltas also publish brand-new CVEs (inserts)."""

    def __init__(self, root: str, seed: int, n: int):
        self.root, self.seed, self.n = root, seed, n
        self.next_new = n  # ids >= n do not exist yet
        os.makedirs(root, exist_ok=True)

    def _recent(self, rng: random.Random) -> int:
        return self.n - 1 - recency_rank(rng, self.n)

    def delta(self, k: int) -> tuple[str, str, dict, datetime]:
        """Commit k: (feed, parquet path, {id: struct}, commit time)."""
        feed = FEEDS[k % len(FEEDS)]
        when = BASE + timedelta(hours=6 * (k // len(FEEDS) + 1), minutes=k % len(FEEDS))
        rng = random.Random((self.seed * 1_000_003 + 3) * 100_003 + k)
        rows: dict[str, dict] = {}
        # distinct ids per delta, so a delta never exceeds half the table
        size = min(SIZES[f"{feed}_delta"], self.n // 2)
        if feed == "kev":
            while len(rows) < size:
                i = self._recent(rng)
                rows[cve_id(i, self.n)] = _kev_struct(cve_id(i, self.n), i, when)
        elif feed == "nvd":
            n_new = int(size * SIZES["nvd_new_share"])
            for _ in range(n_new):
                cid = cve_id(self.next_new, self.n)
                self.next_new += 1
                rows[cid] = _nvd_struct(rng, cid, when)
            while len(rows) < size:
                cid = cve_id(self._recent(rng), self.n)
                rows[cid] = _nvd_struct(rng, cid, when)
        else:
            while len(rows) < size:
                rows[cve_id(self._recent(rng), self.n)] = _epss_struct(rng)
        ids = sorted(rows)
        table = pa.table({"id": pa.array(ids),
                          feed: pa.array([rows[c] for c in ids], SCHEMAS[feed].field(feed).type)})
        path = os.path.join(self.root, f"delta-{k:05d}-{feed}.parquet")
        pq.write_table(table, path)
        return feed, path, rows, when


def read_mix(seed: int, n_ids) -> list[tuple]:
    """One serve cycle's reads in a seeded order: point lookups by CVE id
    (hot recent ids, a few misses), priority top-k scans and freshness
    scans. `n_ids` is the current id count of the model."""
    rng = random.Random(seed)
    ops = []
    for _ in range(SIZES["lookups"]):
        if rng.random() < 0.05:
            ops.append(("lookup", f"CVE-1999-{rng.randrange(10 ** 6):06d}"))
        else:
            ops.append(("lookup", n_ids - 1 - recency_rank(rng, n_ids)))
    ops += [("topk", SIZES["topk"])] * SIZES["topk_scans"]
    ops += [("fresh", SIZES["fresh_hours"])] * SIZES["fresh_scans"]
    rng.shuffle(ops)
    return ops


# ------------------------------------------------------------ advisory_dedup
def corpus(root: str, seed: int, n_docs: int, n_clusters: int) -> str:
    """Advisory texts: templated vulnerability sentences plus free words,
    with `n_clusters` planted near-duplicate clusters (the same advisory
    re-worded by 2-4 feeds: a few words edited, a sentence appended)."""
    rng = random.Random(seed * 1_000_003 + 4)
    os.makedirs(root, exist_ok=True)

    def advisory() -> list[str]:
        return (f"A {rng.choice(_VULNS)} in {rng.choice(_PACKAGES)} version "
                f"{rng.randrange(10)}.{rng.randrange(20)} allows remote attackers to "
                f"{rng.choice(_IMPACTS)} via {_words(rng, rng.randrange(30, 60))}").split(" ")

    texts: list[str] = []
    for _ in range(n_clusters):
        base = advisory()
        texts.append(" ".join(base))
        for _ in range(rng.choice([1, 2, 3])):
            v = list(base)
            for _ in range(rng.randrange(1, 4)):
                v[rng.randrange(len(v))] = f"w{rng.randrange(VOCAB_WORDS)}"
            texts.append(" ".join(v + _words(rng, rng.randrange(0, 4)).split()))
    while len(texts) < n_docs:
        texts.append(" ".join(advisory()))
    rng.shuffle(texts)
    texts = texts[:n_docs]
    path = os.path.join(root, "advisories.parquet")
    pq.write_table(pa.table({"doc_id": pa.array(range(len(texts)), pa.int64()),
                             "text": pa.array(texts)}), path)
    return path

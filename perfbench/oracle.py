"""Expected answers, computed without Spark, and the comparisons that
turn a mismatch into a list of problems (empty = correct).

full_build is checked against DuckDB reading the generated landing
files; nightly_refresh and serve_mixed against a Python last-writer-wins
model of the delta stream; advisory_dedup against the repo's DuckDB
oracle for minhash_pairs.
"""

from __future__ import annotations

import duckdb

BUILD_SOURCES = ("nvd", "redhat", "exploitdb", "epss", "kev", "metasploit",
                 "debian", "cveorg")
CVSS_THRESHOLD = 6.0
EPSS_THRESHOLD = 0.2


def _base_score_sql(c: str) -> str:
    # presence-gated: the first present metric version wins, even unscored
    arms = []
    for v in ("cvssMetricV31", "cvssMetricV30", "cvssMetricV2"):
        arms.append(f"WHEN ({c} -> '$.metrics.{v}') IS NOT NULL THEN coalesce("
                    f"({c} ->> '$.metrics.{v}[0].cvssData.baseScore')::DOUBLE, 0.0)")
    return "CASE " + " ".join(arms) + " ELSE 0.0 END"


def build_expected(paths: dict[str, str], watermark: str) -> list[tuple]:
    """Per priority: (priority, rows, presence count per source..., content
    hash), where the hash sums md5-prefix values of 'id|priority|mask'."""
    con = duckdb.connect()
    try:
        mask = " + ".join(
            f"(CASE WHEN {s}.id IS NOT NULL THEN {1 << i} ELSE 0 END)"
            for i, s in enumerate(BUILD_SOURCES))
        joins = " ".join(f"LEFT JOIN {s} ON {s}.id = ids.id" for s in BUILD_SOURCES)
        sql = f"""
        WITH nvd_raw AS (
            SELECT unnest(json_extract(json, '$.vulnerabilities[*].cve')) AS c
            FROM read_json_objects('{paths["nvd"]}/*.json', format='unstructured')),
        nvd AS (SELECT c ->> '$.id' AS id, {_base_score_sql('c')} AS base FROM nvd_raw),
        redhat AS (
            SELECT DISTINCT unnest(json_extract_string(json, '$.vulnerabilities[*].cve.id')) AS id
            FROM read_json_objects('{paths["redhat"]}/*.json', format='unstructured')),
        exploitdb AS (
            SELECT DISTINCT id FROM (
                SELECT unnest(string_split(codes, ';')) AS id
                FROM read_csv('{paths["exploitdb"]}', header=true, all_varchar=true))
            WHERE id LIKE 'CVE-%'),
        epss AS (
            SELECT cve AS id, epss::DOUBLE AS e
            FROM read_csv('{paths["epss"]}', skip=1, header=true, all_varchar=true)
            WHERE cve IS NOT NULL AND epss IS NOT NULL AND percentile IS NOT NULL),
        kev AS (
            SELECT DISTINCT unnest(json_extract_string(json, '$.vulnerabilities[*].cveID')) AS id
            FROM read_json_objects('{paths["kev"]}', format='unstructured')),
        msf_doc AS (SELECT content::JSON AS j FROM read_text('{paths["metasploit"]}')),
        metasploit AS (
            SELECT DISTINCT id FROM (
                SELECT unnest((j -> ('$."' || k || '".references'))::VARCHAR[]) AS id
                FROM msf_doc, (SELECT unnest(json_keys(j)) AS k FROM msf_doc))
            WHERE id LIKE 'CVE-%'),
        deb_doc AS (SELECT content::JSON AS j FROM read_text('{paths["debian"]}')),
        debian AS (
            SELECT DISTINCT id FROM (
                SELECT unnest(json_keys(j -> ('$."' || pkg || '"'))) AS id
                FROM deb_doc, (SELECT unnest(json_keys(j)) AS pkg FROM deb_doc))
            WHERE id LIKE 'CVE-%'),
        delta AS (
            SELECT json FROM read_json_objects('{paths["cveorg"]}', format='array')
            WHERE (json ->> '$.fetchTime')::TIMESTAMPTZ > TIMESTAMPTZ '{watermark}+00'),
        cveorg AS (
            SELECT DISTINCT unnest(list_concat(
                coalesce(json_extract_string(json, '$.new[*].cveId'), []),
                coalesce(json_extract_string(json, '$.updated[*].cveId'), []))) AS id
            FROM delta),
        ids AS ({" UNION ".join(f"SELECT id FROM {s}" for s in BUILD_SOURCES)}),
        wide AS (
            SELECT ids.id,
                   CASE WHEN kev.id IS NOT NULL THEN 1
                        WHEN coalesce(nvd.base, 0.0) >= {CVSS_THRESHOLD}
                             AND coalesce(epss.e, 0.0) >= {EPSS_THRESHOLD} THEN 1
                        WHEN coalesce(nvd.base, 0.0) >= {CVSS_THRESHOLD} THEN 2
                        WHEN coalesce(epss.e, 0.0) >= {EPSS_THRESHOLD} THEN 3
                        ELSE 4 END AS priority,
                   {mask} AS mask
            FROM ids {joins})
        SELECT priority, count(*) AS n,
               {", ".join(f"sum((mask >> {i}) & 1)::BIGINT" for i in range(len(BUILD_SOURCES)))},
               sum(CAST(('0x' || substring(md5(id || '|' || priority || '|' || mask), 1, 15))
                        AS BIGINT)::HUGEINT)
        FROM wide GROUP BY priority ORDER BY priority
        """
        return [tuple(int(x) for x in r) for r in con.sql(sql).fetchall()]
    finally:
        con.close()


def compare_build(actual: list[tuple], expected: list[tuple]) -> list[str]:
    """Priority histogram, presence counts and content hash, per priority."""
    if actual == expected:
        return []
    return [f"build mismatch: got {actual}, expected {expected}"]


# --------------------------------------------- the refresh/serve model
def row_key(rec: dict) -> tuple:
    """The canonical projection both the table and the model are compared on."""
    nvd, epss, kev = rec["nvd"], rec["epss"], rec["kev"]
    return (
        nvd["lastModified"] if nvd else None, nvd["description"] if nvd else None,
        epss["epss_score"] if epss else None, epss["percentile"] if epss else None,
        kev["cveID"] if kev else None, kev["dateAdded"] if kev else None,
        rec["created"], rec["updated"],
    )


def apply_delta(model: dict, feed: str, rows: dict, now_s: int) -> tuple[int, int]:
    """Last-writer-wins upsert of one feed delta; returns (changed keys,
    inserted keys). Every delta key changes: its updated_at moves to now."""
    inserted = 0
    for cid, value in rows.items():
        rec = model.get(cid)
        if rec is None:
            rec = model[cid] = {"nvd": None, "epss": None, "kev": None,
                                "created": now_s, "updated": now_s}
            inserted += 1
        rec[feed] = value
        rec["updated"] = now_s
    return len(rows), inserted


def _base_score(nvd: dict | None) -> float:
    m = (nvd or {}).get("metrics") or {}
    for v in ("cvssMetricV31", "cvssMetricV30", "cvssMetricV2"):
        if m.get(v) is not None:
            first = m[v][0] if m[v] else None
            score = ((first or {}).get("cvssData") or {}).get("baseScore")
            return 0.0 if score is None else score
    return 0.0


def priority(rec: dict) -> int:
    base = _base_score(rec["nvd"])
    e = float(rec["epss"]["epss_score"]) if rec["epss"] else 0.0
    if rec["kev"] is not None or (base >= CVSS_THRESHOLD and e >= EPSS_THRESHOLD):
        return 1
    if base >= CVSS_THRESHOLD:
        return 2
    return 3 if e >= EPSS_THRESHOLD else 4


def topk_expected(model: dict, k: int) -> list[tuple]:
    """(id, priority) of the k best: priority asc, epss desc (absent last), id asc."""
    def order(item):
        cid, rec = item
        e = float(rec["epss"]["epss_score"]) if rec["epss"] else None
        return (priority(rec), e is None, -(e or 0.0), cid)

    return [(cid, priority(rec)) for cid, rec in sorted(model.items(), key=order)[:k]]


def compare_rows(what: str, actual: dict, expected: dict) -> list[str]:
    """Both sides {id: row_key}; reports up to three differing ids."""
    if actual == expected:
        return []
    bad = sorted(set(actual) ^ set(expected)) + sorted(
        c for c in set(actual) & set(expected) if actual[c] != expected[c])
    return [f"{what}: {len(bad)} ids differ, e.g. "
            + "; ".join(f"{c}: got {actual.get(c)}, expected {expected.get(c)}" for c in bad[:3])]


def compare_read(what: str, got, want) -> list[str]:
    """One serve read (lookup rows, top-k list or freshness id list)."""
    if got == want:
        return []
    return [f"{what}: got {str(got)[:300]}, expected {str(want)[:300]}"]


def compare_feed(n_rows: int, n_inserts: int, changed: int, inserted: int) -> list[str]:
    if (n_rows, n_inserts) == (changed, inserted):
        return []
    return [f"change feed: {n_rows} rows / {n_inserts} inserts, "
            f"model changed {changed} keys / inserted {inserted}"]


# ------------------------------------------------------------ dedup
def dedup_expected(docs_path: str) -> list[tuple]:
    """minhash_pairs_oracle (the repo's DuckDB twin of minhash_pairs)."""
    from cvemate_spark.operators.dedup import minhash_pairs_oracle

    con = duckdb.connect()
    try:
        con.sql(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs_path}')")
        return [(int(a), int(b), float(j)) for a, b, j in con.sql(minhash_pairs_oracle()).fetchall()]
    finally:
        con.close()


def compare_dedup(pairs: list[tuple], expected: list[tuple], component: dict) -> list[str]:
    problems = []
    if sorted(pairs) != expected:
        problems.append(f"pairs: got {len(pairs)}, expected {len(expected)}; first "
                        f"differences {sorted(set(pairs) ^ set(expected))[:3]}")
    split = [(a, b) for a, b, _ in pairs if component.get(a) is None or component.get(a) != component.get(b)]
    if split:
        problems.append(f"components: {len(split)} pairs span two components, e.g. {split[:3]}")
    return problems

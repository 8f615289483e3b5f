"""Near-duplicate detection operators: MinHash+LSH, SimHash, n-gram Jaccard.

Spark-first design for 100 TB:

- **MinHash+LSH** (`minhash_pairs`): shingle → k minhashes → band
  signatures → candidate pairs via an equi-join on (band, signature)
  → exact-Jaccard verify restricted to candidates. Every stage is a
  DataFrame transform; shingle arrays and minhash signatures fold
  ROW-LOCALLY (`doc_shingle_arrays` + `minhash_signatures_local` —
  zero pre-candidate shuffle), so the first exchange in the plan is
  the band self-join itself, keyed well (band signatures are
  high-cardinality, so the join has no hot keys). Candidate count
  scales with true near-dup density, not n².

- **SimHash** (`simhash_pairs`): bit-vote signature per doc, chunk
  banding turns the O(n^2) hamming search into equi-joins, exact
  bit_count(xor) <= max_hamming verify. Parametrized along both scale
  axes: (bits, chunks) is the bucket-count lever (32/4 default,
  60/6 and 60/4 are the later-decade layouts — BENCH_sf10.json), and
  features='shingle' replaces unigram votes with Manku-style shingle
  votes — the fix for signature concentration on homogeneous corpora
  (SCALE.md round 4; unigram signatures measured at 2.6% verify
  precision against planted truth, shingle at ~90%).

- **n-gram Jaccard** (`ngram_jaccard_pairs`): exact pairwise Jaccard,
  but only over pairs sharing at least one shingle (join on shingle),
  which is the scalable form of "all pairs" — disjoint docs never
  meet — with a hot-shingle document-frequency cap (`df_cap`) so a
  ubiquitous shingle cannot re-create the quadratic candidate set.

The per-document shingle-array relation used by the Jaccard verify is
never broadcast-hinted: it has one row per document (billions at
100 TB). The verify joins shuffle on the pair keys and AQE may still
broadcast at runtime when the relation is actually small.

All hashes are the portable md5-prefix hash (functions/text.py:
`spark_str_hash` / `duck_str_hash` — the first 15 hex digits of
md5, identical builtins on both engines), so every operator has a
bit-identical DuckDB oracle. No Python UDFs anywhere — full
whole-stage codegen.

Reference parity: the reference's only dedup is keyed-upsert collapse
(SURVEY §2.5 OP-DEDUP); these operators are the §Phase-4 LLM-pipeline
extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window as W


from ..functions.text import (
    MINHASH_BANDS,
    MINHASH_K,
    MINHASH_SEEDS,
    PRIME,
    SIMHASH_BITS,
    SIMHASH_CHUNKS,
    band_signature_exprs,
    duck_str_hash,
    spark_str_hash,
)

SHINGLE_N = 3


# ------------------------------------------------------------ shingles
def doc_shingle_arrays(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Distinct word n-gram shingle SET per doc: (doc_id, sh array<string>).

    Row-local construction: the shingle array is built with a
    `transform(sequence(...))` over the token array and deduped with
    `array_distinct` — zero shuffles, embarrassingly parallel map work
    at 100 TB. The un-exploded array form is the primitive the minhash
    path wants: signatures fold over it row-locally (no per-doc
    aggregation shuffle) and the Jaccard verify intersects two arrays
    row-locally (no exploded shingle join). `doc_shingles` below is
    the exploded view for consumers keyed by individual shingle
    (document frequency caps, co-occurrence ground truth).
    """
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    sh = F.transform(
        F.sequence(F.lit(1), n - 2),
        lambda i: F.concat_ws(
            " ",
            F.element_at(toks, i),
            F.element_at(toks, i + 1),
            F.element_at(toks, i + 2),
        ),
    )
    arr = F.when(n >= 3, sh).otherwise(F.array().cast("array<string>"))
    # hash-repartition by doc id BEFORE the expression-heavy build: the
    # string work parallelizes across cores regardless of the scan's
    # split count, and the HashPartitioning satisfies every downstream
    # doc-keyed join or aggregation without a second exchange.
    width = docs.sparkSession.sparkContext.defaultParallelism
    return docs.repartition(width, id_col).select(
        F.col(id_col), F.array_distinct(arr).alias("sh")
    )


def doc_shingles(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Distinct word n-gram shingles per doc, exploded: (doc_id, shingle)."""
    return doc_shingle_arrays(docs, id_col, text_col).select(
        F.col(id_col), F.explode("sh").alias("shingle")
    )


def _duck_shingles_cte() -> str:
    # mirrors doc_shingles: row-local 3-gram build + per-doc dedup
    # (duck range(a, b) is end-exclusive and empty when b <= a)
    return """
    shingles AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(range(1, len(t) - 1),
                   i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]))) AS shingle
        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
    )"""


# ------------------------------------------------------------ minhash
def minhash_signatures(shingles: DataFrame) -> DataFrame:
    """k minhashes per doc from the exploded relation: (doc_id, mh0..)."""
    hashed = shingles.withColumn("h", F.expr(spark_str_hash("shingle")))
    aggs = [
        F.expr(f"min(({a}L * (h % {PRIME}) + {b}L) % {PRIME})").alias(f"mh{i}")
        for i, (a, b) in enumerate(MINHASH_SEEDS)
    ]
    return hashed.groupBy("doc_id").agg(*aggs)


def minhash_signatures_local(sh_arr: DataFrame) -> DataFrame:
    """k minhashes per doc computed ROW-LOCALLY from the shingle array:
    hash each element once, then `array_min` over each seed's affine
    transform — identical arithmetic to the groupBy(min) form (same
    md5-prefix hash, same (a*h+b) mod p), but with ZERO shuffle: at
    100 TB the per-doc aggregation exchange the exploded form forces
    is pure waste, since the fold is associative within one row.
    Empty shingle sets are dropped (they produced no signature row in
    the aggregated form either, and an all-null signature would band
    every short doc into one hot '' bucket).
    """
    hs = F.expr(f"transform(sh, x -> {spark_str_hash('x')})")
    tmp = sh_arr.filter(F.size("sh") > 0).select("doc_id", hs.alias("hs"))
    cols = [
        F.array_min(
            F.expr(f"transform(hs, h -> ({a}L * (h % {PRIME}) + {b}L) % {PRIME})")
        ).alias(f"mh{i}")
        for i, (a, b) in enumerate(MINHASH_SEEDS)
    ]
    return tmp.select("doc_id", *cols)


def lsh_candidates(sigs: DataFrame, n_bands: int = MINHASH_BANDS) -> DataFrame:
    """Banded LSH candidate pairs (d1 < d2) from a signature relation —
    the pre-verification stage shared by minhash_pairs and the
    banding-quality evaluation. `n_bands` is the recall/cost dial
    (see band_signature_exprs)."""
    band_exprs = band_signature_exprs("spark", n_bands)
    banded = sigs.select(
        "doc_id",
        F.posexplode(F.array(*[F.expr(e) for e in band_exprs])).alias("band", "sig"),
    )
    left = banded.select(
        F.col("doc_id").alias("d1"), F.col("band").alias("b1"), F.col("sig").alias("s1")
    )
    right = banded.select(
        F.col("doc_id").alias("d2"), F.col("band").alias("b2"), F.col("sig").alias("s2")
    )
    return (
        left.join(
            right,
            (F.col("b1") == F.col("b2"))
            & (F.col("s1") == F.col("s2"))
            & (F.col("d1") < F.col("d2")),
        )
        .select("d1", "d2")
        .distinct()
    )


def minhash_pairs(
    docs: DataFrame,
    jaccard_threshold: float = 0.3,
    n_bands: int = MINHASH_BANDS,
) -> DataFrame:
    """LSH candidate pairs verified by exact Jaccard >= threshold.

    Returns (d1, d2, jaccard) with d1 < d2, jaccard rounded to 4.
    `n_bands` picks the banding layout over the same 12 minhashes —
    the LSH S-curve dial: 4x3 (default) is precision-lean, 6x2 raises
    mid-jaccard recall ~0.23 -> ~0.65 at j=0.4 for more candidate
    volume (both measured against planted truth in DUPBENCH.json).
    """
    # the shingle-array relation feeds signatures and both verify
    # sides — persist it instead of recomputing the scan 3x. The
    # whole pre-candidate pipeline is shuffle-free: arrays are built
    # row-locally, signatures fold row-locally (minhash_signatures_local),
    # so the first exchange in the plan is the band self-join itself.
    sh_arr = doc_shingle_arrays(docs).persist()
    # one row per doc and tiny (k ints) — persisting stops the band
    # self-join from running the md5 hash pass twice
    sigs = minhash_signatures_local(sh_arr).persist()
    return _verify_jaccard(
        lsh_candidates(sigs, n_bands), sh_arr, jaccard_threshold
    )


def minhash_pairs_incremental(
    docs: DataFrame, batch_mod: int = 10, jaccard_threshold: float = 0.3
) -> DataFrame:
    """Incremental near-dup: a NEW batch checked against the corpus
    index, never corpus × corpus.

    The steady-state shape at 100 TB: the corpus's band signatures are
    a persisted index (computed once at ingest, partitioned by (band,
    sig)); deduplicating an arriving batch is shingle+sign the batch
    only, then ONE equi-join of batch signatures against the index —
    per-batch cost is O(|batch| + matches), not O(corpus²), and the
    full self-join never reruns. Here both sides' signatures come from
    one pass over `docs` (there is no persisted state in the harness);
    the batch is docs with doc_id % batch_mod == 0, the index is the
    rest, and the join carries no d1<d2 constraint because the sides
    are disjoint by construction.

    Returns (batch_doc, index_doc, jaccard >= threshold).
    """
    sh_arr = doc_shingle_arrays(docs).persist()
    sigs = minhash_signatures_local(sh_arr).persist()
    band_exprs = band_signature_exprs("spark")
    banded = sigs.select(
        "doc_id",
        F.posexplode(F.array(*[F.expr(e) for e in band_exprs])).alias("band", "sig"),
    )
    new_b = banded.filter(F.col("doc_id") % batch_mod == 0).select(
        F.col("doc_id").alias("d1"), F.col("band").alias("b1"), F.col("sig").alias("s1")
    )
    idx_b = banded.filter(F.col("doc_id") % batch_mod != 0).select(
        F.col("doc_id").alias("d2"), F.col("band").alias("b2"), F.col("sig").alias("s2")
    )
    candidates = (
        new_b.join(
            idx_b,
            (F.col("b1") == F.col("b2")) & (F.col("s1") == F.col("s2")),
        )
        .select("d1", "d2")
        .distinct()
    )
    return _verify_jaccard(candidates, sh_arr, jaccard_threshold).select(
        F.col("d1").alias("batch_doc"),
        F.col("d2").alias("index_doc"),
        "jaccard",
    )


def minhash_pairs_incremental_oracle(
    batch_mod: int = 10, jaccard_threshold: float = 0.3
) -> str:
    mh_cols = ", ".join(
        f"min((CAST({a} AS BIGINT) * (h % {PRIME}) + {b}) % {PRIME}) AS mh{i}"
        for i, (a, b) in enumerate(MINHASH_SEEDS)
    )
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {band} AS band, {expr} AS sig FROM sigs"
        for band, expr in enumerate(band_signature_exprs("duck"))
    )
    return f"""
    WITH {_duck_shingles_cte()},
    hashed AS (SELECT doc_id, {duck_str_hash('shingle')} AS h FROM shingles),
    sigs AS (SELECT doc_id, {mh_cols} FROM hashed GROUP BY doc_id),
    banded AS ({band_selects}),
    cand AS (
        SELECT DISTINCT l.doc_id AS d1, r.doc_id AS d2
        FROM banded l JOIN banded r
          ON l.band = r.band AND l.sig = r.sig
         AND l.doc_id % {batch_mod} = 0 AND r.doc_id % {batch_mod} != 0
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
    common AS (
        SELECT c.d1, c.d2, count(*) AS c
        FROM cand c
        JOIN shingles a ON a.doc_id = c.d1
        JOIN shingles b ON b.doc_id = c.d2 AND b.shingle = a.shingle
        GROUP BY c.d1, c.d2
    )
    SELECT common.d1 AS batch_doc, common.d2 AS index_doc,
           ROUND(common.c * 1.0 / (sa.n + sb.n - common.c), 4) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = common.d1
    JOIN sizes sb ON sb.doc_id = common.d2
    WHERE common.c * 1.0 / (sa.n + sb.n - common.c) >= {jaccard_threshold}
    ORDER BY batch_doc, index_doc, jaccard
    """


def _verify_jaccard(
    candidates: DataFrame, sh_arr: DataFrame, threshold: float
) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs against the
    per-doc shingle-ARRAY relation (doc_id, sh).

    Two equi-joins attach each side's shingle set to the pair row,
    then the intersection count, both set sizes, and the Jaccard
    ratio are all row-local expressions (`array_intersect` — the
    arrays are distinct sets by construction, so its cardinality IS
    the common-shingle count). Compared to the exploded formulation
    (candidates ⨝ shingles ⨝ shingles → groupBy(pair) → two size
    joins) this removes the |candidates|×|doc-shingles| intermediate,
    the pair re-aggregation shuffle, and both size joins: the verify
    is exactly two shuffles of |candidates| rows, each carrying one
    bounded array payload — the same bytes the exploded join moved,
    moved once.

    NO broadcast hint on the array relation: it is one row per
    document, so at corpus scale it is billions of rows — a forced
    broadcast is a guaranteed executor OOM. AQE still converts to
    broadcast at runtime when the relation is genuinely small.
    Pinned in tests/test_plans.py
    (test_dedup_verify_has_no_forced_broadcast).
    """
    a1 = sh_arr.select(F.col("doc_id").alias("d1"), F.col("sh").alias("sh1"))
    a2 = sh_arr.select(F.col("doc_id").alias("d2"), F.col("sh").alias("sh2"))
    c = F.size(F.array_intersect("sh1", "sh2"))
    jac = c * 1.0 / (F.size("sh1") + F.size("sh2") - c)
    # At threshold <= 0 the >= filter alone would admit zero-overlap
    # candidate pairs (jaccard exactly 0.0), which the historical
    # exploded-join formulation dropped structurally (no shared
    # shingle -> no joined row). Keep that contract: a candidate pair
    # must share at least one shingle to be emitted, at any threshold.
    keep = (
        F.col("jaccard") >= threshold if threshold > 0 else F.col("jaccard") > 0
    )
    return (
        candidates.join(a1, "d1")
        .join(a2, "d2")
        .select("d1", "d2", F.round(jac, 4).alias("jaccard"))
        .filter(keep)
    )


def minhash_pairs_oracle(
    jaccard_threshold: float = 0.3, n_bands: int | None = None
) -> str:
    """DuckDB SQL computing exactly minhash_pairs() (same seeds/hash)."""
    nb = n_bands if n_bands is not None else MINHASH_BANDS
    mh_cols = ", ".join(
        f"min((CAST({a} AS BIGINT) * (h % {PRIME}) + {b}) % {PRIME}) AS mh{i}"
        for i, (a, b) in enumerate(MINHASH_SEEDS)
    )
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {band} AS band, {expr} AS sig FROM sigs"
        for band, expr in enumerate(band_signature_exprs("duck", nb))
    )
    return f"""
    WITH {_duck_shingles_cte()},
    hashed AS (SELECT doc_id, {duck_str_hash('shingle')} AS h FROM shingles),
    sigs AS (SELECT doc_id, {mh_cols} FROM hashed GROUP BY doc_id),
    banded AS ({band_selects}),
    cand AS (
        SELECT DISTINCT l.doc_id AS d1, r.doc_id AS d2
        FROM banded l JOIN banded r
          ON l.band = r.band AND l.sig = r.sig AND l.doc_id < r.doc_id
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
    common AS (
        SELECT c.d1, c.d2, count(*) AS c
        FROM cand c
        JOIN shingles a ON a.doc_id = c.d1
        JOIN shingles b ON b.doc_id = c.d2 AND b.shingle = a.shingle
        GROUP BY c.d1, c.d2
    )
    SELECT common.d1, common.d2,
           ROUND(common.c * 1.0 / (sa.n + sb.n - common.c), 4) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = common.d1
    JOIN sizes sb ON sb.doc_id = common.d2
    WHERE common.c * 1.0 / (sa.n + sb.n - common.c) >= {jaccard_threshold}
    ORDER BY d1, d2, jaccard
    """


# ------------------------------------------------------------ simhash
def simhash_signatures(docs: DataFrame) -> DataFrame:
    """32-bit simhash per doc from token-hash bit votes: (doc_id, simhash)."""
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).withColumn("h", F.expr(spark_str_hash("tok")))
    votes = toks.groupBy("doc_id").agg(
        *[
            F.expr(f"sum(2 * ((h >> {b}) & 1) - 1)").alias(f"v{b}")
            for b in range(SIMHASH_BITS)
        ]
    )
    sim = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN 1L ELSE 0L END << {b})" for b in range(SIMHASH_BITS)
    )
    return votes.select("doc_id", F.expr(sim).alias("simhash"))


def simhash_signatures_wide(
    docs: DataFrame, bits: int, features: str = "token"
) -> DataFrame:
    """`bits`-wide simhash per doc — the banding-growth contract's
    widen-the-signature lever. Bit b of the signature votes on bit b
    of the 60-bit md5-prefix feature hash, so bits <= 60; bits=32 with
    token features is bit-identical to `simhash_signatures`.

    features='shingle' votes over the doc's DISTINCT 3-gram shingles
    instead of token occurrences — the feature choice Manku et al.'s
    production simhash actually uses, and the one that matters on a
    HOMOGENEOUS corpus. Measured on this testdata (SCALE.md round 4):
    unigram votes concentrate (every token is present in most docs, so
    8 of 32 bits are population-constant and band buckets hold 100+
    docs → 308 k collisions at 5 k docs, 2.3% verify precision), and
    neither a df-cap nor integer-IDF weighting can fix it (presence-df
    is saturated for ALL tokens here — the cap removed the similarity
    signal itself, recall 151→13 of 256). Shingle features are
    doc-specific, signatures land near the uniform floor (1 835
    collisions at the same 5 k docs, 166/167 verified pairs true), and
    bucket-count growth becomes the working scale lever again.
    """
    assert bits <= 60, "feature hash is 60 bits (15 hex digits of md5)"
    if features == "shingle":
        feats = doc_shingles(docs).withColumn(
            "h", F.expr(spark_str_hash("shingle"))
        )
    else:
        feats = docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("tok")
        ).withColumn("h", F.expr(spark_str_hash("tok")))
    votes = feats.groupBy("doc_id").agg(
        *[
            F.expr(f"sum(2 * ((h >> {b}) & 1) - 1)").alias(f"v{b}")
            for b in range(bits)
        ]
    )
    sim = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN 1L ELSE 0L END << {b})" for b in range(bits)
    )
    return votes.select("doc_id", F.expr(sim).alias("simhash"))


def _simhash_band_exprs(
    max_hamming: int, chunks: int, width: int, col: str = "simhash"
) -> list[str]:
    """Banding key SQL expressions over a chunked simhash. Pigeonhole:
    hamming <= h flips bits in at most h chunks, leaving >= chunks-h
    intact — so chunk-PAIR banding is a guaranteed candidate superset
    whenever chunks - h >= 2, and single-chunk banding whenever
    chunks - h >= 1. Beyond that (h > chunks-1) NO chunk is guaranteed
    intact and banding silently loses recall — raise instead of
    returning a plausibly-complete but lossy pair relation (same
    silent-recall class the MINHASH_K divisor guard closes)."""
    from itertools import combinations

    if max_hamming > chunks - 1:
        raise ValueError(
            f"max_hamming={max_hamming} with chunks={chunks} breaks the "
            "pigeonhole superset guarantee (need max_hamming <= chunks-1 "
            "for single-chunk banding, <= chunks-2 for pair banding): "
            "increase chunks or widen the signature"
        )
    mask = (1 << width) - 1
    if max_hamming <= chunks - 2:
        return [
            f"(((({col} >> {width * i}) & {mask}) << {width})"
            f" | (({col} >> {width * j}) & {mask}))"
            for i, j in combinations(range(chunks), 2)
        ]
    return [f"({col} >> {width * c}) & {mask}" for c in range(chunks)]


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 1,
    bits: int = SIMHASH_BITS,
    chunks: int = SIMHASH_CHUNKS,
    features: str = "token",
) -> DataFrame:
    """Near-dup pairs by simhash: chunk banding + exact hamming verify.

    Returns (d1, d2, hamming) with d1 < d2. Pigeonhole over the
    `chunks` equal sub-chunks: hamming <= chunks-1 guarantees >= 1
    intact chunk, hamming <= chunks-2 guarantees >= 2. So for
    max_hamming <= chunks-2 the banding joins on chunk PAIRS
    (C(chunks,2) bands, 2·width-bit combined keys) — still a
    guaranteed superset of the true pairs, and the verified output is
    IDENTICAL to single-chunk banding, but bucket occupancy drops by
    the band-key width.

    The occupancy term is the scale story AND the tunable: at the
    default (32-bit signature, 4 chunks) pair banding gives 65 536
    buckets — single-chunk candidates grow ~ n²/256 (measured at sf1:
    50 k docs -> ~20 M candidate pairs, the round-3 super-linear
    catch), pair banding keeps candidates near-linear until n
    approaches the 65 536-bucket regime. The CONTRACT (SCALE.md):
    bucket count must grow with the corpus — widen the signature
    BEFORE the buckets saturate. `bits=60, chunks=6` gives C(6,2)=15
    bands of 20-bit keys = 1 M buckets (the second-decade setting,
    measured in BENCH_sf10.json). For FIXED bits, changing the chunk
    layout never changes the verified output (banding is candidate
    generation only); changing `bits` widens the signature itself, so
    hamming<=h becomes a proportionally TIGHTER similarity bar — a
    deliberate re-parameterization of the operator (own oracle:
    dedup_simhash_wide), not a drop-in swap.
    """
    sigs = (
        simhash_signatures(docs)
        if bits == SIMHASH_BITS and features == "token"
        else simhash_signatures_wide(docs, bits, features)
    )
    assert bits % chunks == 0, "equal chunks required for the pigeonhole"
    band_exprs = [
        F.expr(e) for e in _simhash_band_exprs(max_hamming, chunks, bits // chunks)
    ]
    banded = sigs.select(
        "doc_id",
        "simhash",
        F.posexplode(F.array(*band_exprs)).alias("band", "key"),
    )
    left = banded.select(
        F.col("doc_id").alias("d1"),
        F.col("simhash").alias("h1"),
        "band",
        "key",
    )
    right = banded.select(
        F.col("doc_id").alias("d2"),
        F.col("simhash").alias("h2"),
        F.col("band").alias("b2"),
        F.col("key").alias("k2"),
    )
    cand = (
        left.join(
            right,
            (F.col("band") == F.col("b2"))
            & (F.col("key") == F.col("k2"))
            & (F.col("d1") < F.col("d2")),
        )
        .select("d1", "d2", "h1", "h2")
        .distinct()
    )
    hamming = F.expr("bit_count(h1 ^ h2)")
    return (
        cand.select("d1", "d2", hamming.cast("long").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_pairs_oracle(
    max_hamming: int = 1,
    bits: int = SIMHASH_BITS,
    chunks: int = SIMHASH_CHUNKS,
    features: str = "token",
) -> str:
    votes = ", ".join(
        f"SUM(2 * ((h >> {b}) & 1) - 1) AS v{b}" for b in range(bits)
    )
    sim = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN CAST(1 AS BIGINT) ELSE 0 END << {b})"
        for b in range(bits)
    )
    # mirror simhash_pairs' banding (same pigeonhole layout — chunk
    # PAIRS when >= 2 chunks are guaranteed intact)
    chunk_union = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {b} AS chunk_idx, {expr} AS chunk FROM sigs"
        for b, expr in enumerate(
            _simhash_band_exprs(max_hamming, chunks, bits // chunks)
        )
    )
    if features == "shingle":
        feat_ctes = f"""{_duck_shingles_cte()},
    hashed AS (SELECT doc_id, {duck_str_hash('shingle')} AS h FROM shingles),"""
    else:
        feat_ctes = f"""toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    hashed AS (SELECT doc_id, {duck_str_hash('tok')} AS h FROM toks),"""
    return f"""
    WITH {feat_ctes}
    votes AS (SELECT doc_id, {votes} FROM hashed GROUP BY doc_id),
    sigs AS (SELECT doc_id, {sim} AS simhash FROM votes),
    chunks AS ({chunk_union}),
    cand AS (
        SELECT DISTINCT l.doc_id AS d1, r.doc_id AS d2,
               l.simhash AS h1, r.simhash AS h2
        FROM chunks l JOIN chunks r
          ON l.chunk_idx = r.chunk_idx AND l.chunk = r.chunk
         AND l.doc_id < r.doc_id
    )
    SELECT d1, d2, CAST(bit_count(xor(h1, h2)) AS BIGINT) AS hamming
    FROM cand
    WHERE bit_count(xor(h1, h2)) <= {max_hamming}
    ORDER BY d1, d2, hamming
    """


# ------------------------------------------- connected components
def dedup_components(pairs: DataFrame, max_iter: int = 24) -> DataFrame:
    """Duplicate clusters from near-dup pairs: (doc_id, component).

    A near-dup pipeline's last step is grouping pairwise matches into
    clusters and electing a canonical document per cluster. This is
    connected components: every node starts labeled with its own id;
    at fixpoint the label is the minimum doc_id of the component —
    which is also the canonical-survivor choice ("keep the smallest
    id").

    Round shape: the alternating LARGE-STAR / SMALL-STAR edge
    rewriting of Kiveris et al., "Connected Components in MapReduce
    and Beyond" (SoCC 2014) — the published at-scale formulation.
    Large-star points every strictly-larger neighbor of v at
    m(v) = min(N(v) ∪ {v}); small-star points the smaller-or-equal
    neighbors there. Each phase is one groupBy(node) min plus one
    edge equi-join, the edge set SHRINKS as chains collapse into
    stars, and the alternation converges to star forests rooted at
    each component's minimum id. Replaces the earlier min-label
    propagation + pointer-jump loop: on the sf0.1 simhash pair graph
    (35k pairs, 3.7k nodes) the rounds drop 10 → 4 and the Spark jobs
    per call 88 → 51, with bit-identical labels; the round-9 law
    verifier history (tools/dedup_laws.py caught a plain-propagation
    variant silently truncating on sf1's 7k-node chains) is why
    exhausting `max_iter` without a fixpoint still raises instead of
    returning wrong labels.

    Round bound: Kiveris et al. prove the alternation converges in
    O(log² n) rounds on n nodes; the O(log n) rounds seen in practice
    are not proven. The default `max_iter=24` is therefore a LOUD
    BACKSTOP, not a proven cover for every n: a graph that needs more
    rounds raises instead of returning unconverged labels.

    All work runs over the EDGE relation, which is near-dup-density-
    sized, orders of magnitude below the corpus, and shrinks per
    round. Convergence is a structural test on the round's output:
    every arc points downward (a > b), so the graph is final exactly
    when it is a STAR FOREST — no node has two out-arcs and no arc's
    head has an out-arc. Large-star and small-star both preserve
    connectivity, so each star is one whole component and its root,
    the minimum of the star, is the component minimum. The test is
    one groupBy(node) plus a limit(1) emptiness probe: one action per
    round, and no confirming round that re-derives an unchanged edge
    set. Each round's edges are `localCheckpoint(eager=False)`: the
    checkpoint's last stage runs inside the probe's job instead of a
    job of its own, the lineage is still cut per round (the plan does
    not deepen per iteration), and the next round reads the
    checkpointed blocks.
    """
    fwd = pairs.select(F.col("d1").alias("a"), F.col("d2").alias("b"))
    # undirected representation: both arcs of every pair
    edges = (
        fwd.unionByName(fwd.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint(eager=False)
    )

    def _min_star(e: DataFrame) -> DataFrame:
        # m(v) = min(neighborhood(v) + v) over the arc representation
        return e.groupBy("a").agg(F.min("b").alias("mb")).select(
            "a", F.least(F.col("a"), F.col("mb")).alias("m")
        )

    def _both(e: DataFrame) -> DataFrame:
        return e.unionByName(
            e.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )

    def _is_star_forest(e: DataFrame) -> bool:
        # per node: out-degree and whether it is some arc's head; a
        # violation is two out-arcs, or an out-arc from a head
        deg = (
            e.select("a", F.lit(1).alias("o"), F.lit(0).alias("i"))
            .unionByName(e.select(
                F.col("b").alias("a"), F.lit(0).alias("o"), F.lit(1).alias("i")
            ))
            .groupBy("a")
            .agg(F.sum("o").alias("o"), F.max("i").alias("i"))
        )
        bad = (F.col("o") > 1) | ((F.col("o") == 1) & (F.col("i") == 1))
        return deg.filter(bad).limit(1).count() == 0

    for _ in range(max_iter):
        # large-star: (u, m(v)) for u in N(v) with u > v, plus the
        # anchor (v, m(v)); output arcs all point DOWNWARD (a > b)
        m = _min_star(edges)
        ls = (
            edges.filter(F.col("b") > F.col("a"))
            .join(m, "a")
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
        )
        e2 = (
            ls.unionByName(m.select("a", F.col("m").alias("b")))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        # small-star: (u, m(v)) for u in N(v) with u <= v
        e2u = _both(e2)
        m2 = _min_star(e2u)
        ss = (
            e2u.filter(F.col("b") < F.col("a"))
            .join(m2, "a")
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
        )
        e3 = (
            ss.unionByName(m2.select("a", F.col("m").alias("b")))
            .filter(F.col("a") != F.col("b"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        if _is_star_forest(e3):
            members = e3.select(
                F.col("a").alias("doc_id"), F.col("b").alias("component")
            )
            roots = (
                e3.select(F.col("b").alias("doc_id"))
                .distinct()
                .withColumn("component", F.col("doc_id"))
            )
            return members.unionByName(roots)
        edges = _both(e3)
    raise RuntimeError(
        f"dedup_components: no fixpoint after {max_iter} rounds — "
        "never return unconverged labels; raise max_iter"
    )


def dedup_components_oracle(pairs_sql: str) -> str:
    """DuckDB recursive-CTE oracle for dedup_components.

    `pairs_sql` must select (d1, d2). The recursive part enumerates
    every (node, reachable component seed) and min-reduces — exact
    transitive closure, independent of the Spark loop's iteration
    schedule, so it also proves the propagation CONVERGED (an
    un-converged label would mismatch the true component min).
    """
    return f"""
    WITH RECURSIVE pairs AS ({pairs_sql}),
    edges AS (
        SELECT d1 AS a, d2 AS b FROM pairs
        UNION ALL
        SELECT d2 AS a, d1 AS b FROM pairs
    ),
    reach(node, comp) AS (
        SELECT a AS node, a AS comp FROM edges
        UNION
        SELECT e.a AS node, r.comp
        FROM edges e JOIN reach r ON e.b = r.node
    )
    SELECT node AS doc_id, min(comp) AS component
    FROM reach GROUP BY node
    ORDER BY doc_id, component
    """


def dedup_canonical_oracle(pairs_sql: str) -> str:
    """DuckDB oracle for the composed fuzzy-dedup pass: recursive-CTE
    components over `pairs_sql` (selecting d1, d2), canonical survivor
    = component min, unpaired documents survive as singletons; output
    is per-source corpus shrinkage (docs kept / tokens kept)."""
    return f"""
    WITH RECURSIVE pairs AS ({pairs_sql}),
    edges AS (
        SELECT d1 AS a, d2 AS b FROM pairs
        UNION ALL
        SELECT d2 AS a, d1 AS b FROM pairs
    ),
    reach(node, comp) AS (
        SELECT a AS node, a AS comp FROM edges
        UNION
        SELECT e.a AS node, r.comp
        FROM edges e JOIN reach r ON e.b = r.node
    ),
    comp AS (SELECT node AS doc_id, min(comp) AS component FROM reach GROUP BY node)
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN coalesce(c.component, d.doc_id) = d.doc_id
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN coalesce(c.component, d.doc_id) = d.doc_id
                         THEN len(string_split(d.text, ' '))
                         ELSE 0 END) AS BIGINT) AS kept_tokens
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
    GROUP BY d.source
    ORDER BY source, n_docs, n_kept, kept_tokens
    """


# --------------------------------------------------- ngram jaccard
def ngram_jaccard_pairs(
    docs: DataFrame, threshold: float = 0.3, df_cap: int | None = None
) -> DataFrame:
    """Exact n-gram Jaccard for every pair sharing >= 1 shingle.

    The shingle join materializes only co-occurring pairs — the
    scalable exact form (disjoint docs never meet in the shuffle).

    ``df_cap`` is the hot-shingle (document-frequency) cap: shingles
    appearing in more than ``df_cap`` documents are excluded from the
    candidate self-join. Without it, one ubiquitous shingle shared by
    f·N documents creates (f·N)² candidate rows — quadratic in corpus
    size, the classic all-pairs blow-up sneaking back in through a
    stop-phrase. The cap bounds the join's per-key fan-out at df_cap².

    Recall trade (documented, standard): a pair whose ONLY shared
    shingles are hot is missed entirely, and for found pairs the
    intersection count ignores hot shingles while the union (sizes)
    keeps them — reported jaccard is a lower bound of the true value.
    Pairs that clear `threshold` on rare shingles alone are exact
    losses only when hot shingles would have pushed them over.
    """
    shingles = doc_shingles(docs).persist()
    sizes = shingles.groupBy("doc_id").agg(F.count("*").alias("n"))
    joinable = shingles
    if df_cap is not None:
        # doc_shingles emits distinct (doc_id, shingle), so count(*)
        # per shingle IS document frequency. The hot set is tiny by
        # construction (≤ total_rows / df_cap entries) and the
        # anti-join drops it before the quadratic step.
        hot = (
            shingles.groupBy("shingle")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") > df_cap)
            .select("shingle")
        )
        joinable = shingles.join(hot, "shingle", "left_anti")
    a = joinable.select(F.col("doc_id").alias("d1"), "shingle")
    b = joinable.select(F.col("doc_id").alias("d2"), F.col("shingle").alias("sh2"))
    common = (
        a.join(b, (F.col("shingle") == F.col("sh2")) & (F.col("d1") < F.col("d2")))
        .groupBy("d1", "d2")
        .agg(F.count("*").alias("c"))
    )
    # sizes join: no broadcast hint (see _verify_jaccard — one row per
    # doc, AQE decides).
    n1 = sizes.select(F.col("doc_id").alias("d1"), F.col("n").alias("n1"))
    n2 = sizes.select(F.col("doc_id").alias("d2"), F.col("n").alias("n2"))
    jac = F.col("c") * 1.0 / (F.col("n1") + F.col("n2") - F.col("c"))
    return (
        common.join(n1, "d1")
        .join(n2, "d2")
        .select("d1", "d2", F.round(jac, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs_oracle(threshold: float = 0.3, df_cap: int | None = None) -> str:
    cap_cte = ""
    joinable = "shingles"
    if df_cap is not None:
        cap_cte = f""",
    hot AS (
        SELECT shingle FROM shingles GROUP BY shingle HAVING count(*) > {df_cap}
    ),
    joinable AS (
        SELECT * FROM shingles WHERE shingle NOT IN (SELECT shingle FROM hot)
    )"""
        joinable = "joinable"
    return f"""
    WITH {_duck_shingles_cte()}{cap_cte},
    sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
        FROM {joinable} a JOIN {joinable} b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT common.d1, common.d2,
           ROUND(common.c * 1.0 / (sa.n + sb.n - common.c), 4) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = common.d1
    JOIN sizes sb ON sb.doc_id = common.d2
    WHERE common.c * 1.0 / (sa.n + sb.n - common.c) >= {threshold}
    ORDER BY d1, d2, jaccard
    """


def hamming_pairs(
    sigs: DataFrame,
    max_hamming: int = 2,
    bits: int = 64,
    chunks: int = 4,
    id_col: str = "doc_id",
    hash_col: str = "phash",
) -> DataFrame:
    """Banded hamming near-dup join over PRECOMPUTED fixed-width
    signatures — the simhash_pairs candidate machinery generalized to
    any signature source (perceptual image hashes, external
    fingerprints). Same pigeonhole contract: chunk/chunk-pair banding
    is a guaranteed candidate superset for hamming <= chunks-1 (or
    chunks-2 for pair banding), the exact bit_count verify makes the
    output identical to the all-pairs join — never all-pairs in the
    plan. Signed 64-bit hashes are fine: every band expression masks
    to its chunk width after the shift, so the sign bit is just bit
    63 of the top chunk. Returns (d1, d2, hamming) with d1 < d2."""
    assert bits % chunks == 0, "equal chunks required for the pigeonhole"
    band_exprs = [
        F.expr(e)
        for e in _simhash_band_exprs(max_hamming, chunks, bits // chunks, hash_col)
    ]
    banded = sigs.select(
        F.col(id_col).alias("doc_id"),
        F.col(hash_col).alias("h"),
        F.posexplode(F.array(*band_exprs)).alias("band", "key"),
    )
    left = banded.select(
        F.col("doc_id").alias("d1"), F.col("h").alias("h1"), "band", "key"
    )
    right = banded.select(
        F.col("doc_id").alias("d2"),
        F.col("h").alias("h2"),
        F.col("band").alias("b2"),
        F.col("key").alias("k2"),
    )
    cand = (
        left.join(
            right,
            (F.col("band") == F.col("b2"))
            & (F.col("key") == F.col("k2"))
            & (F.col("d1") < F.col("d2")),
        )
        .select("d1", "d2", "h1", "h2")
        .distinct()
    )
    return cand.select(
        "d1",
        "d2",
        F.expr("bit_count(h1 ^ h2)").cast("long").alias("hamming"),
    ).filter(F.col("hamming") <= max_hamming)


# ------------------------------------------------- prefix filtering
def prefix_filter_pairs(
    docs: DataFrame, num: int = 3, den: int = 10
) -> DataFrame:
    """Exact Jaccard >= num/den via PREFIX FILTERING — the
    candidate-pruning upgrade over the all-shared-shingles join
    (Chaudhuri/Ganti/Kaushik ICDE'06; Bayardo/Ma/Srikant WWW'07
    'scaling up all pairs similarity search' — public literature).

    The theorem: order every doc's shingle set by a GLOBAL order
    (here: document frequency ascending, shingle ascending — rare
    first), keep only the first p = |d| - ceil(t*|d|) + 1 shingles
    (the prefix); any pair with Jaccard >= t MUST share at least one
    prefix shingle. So the candidate join runs over prefixes only —
    lossless (unlike the df_cap heuristic, which trades recall), and
    because prefixes are rare-first, the hot shingles that make the
    naive join quadratic never enter the join at all unless a doc is
    almost ENTIRELY hot shingles.

    Threshold is a rational num/den so the verify step is exact
    integer cross-multiplication: keep iff c*den >= num*(n1+n2-c).

    Scale: one shingle scan, one df groupBy, one per-doc window (hash
    shuffle on doc_id, sort within doc only), the prefix self-join
    (bounded per-key by the df of PREFIX shingles), then the verify
    join back to full shingle sets restricted to candidates. Every
    step is an equi-join / bounded window; candidates are a subset of
    the shared-shingle join's, with recall 1.0 by the theorem (law:
    result == ngram_jaccard_pairs at the same threshold)."""
    shingles = doc_shingles(docs).persist()
    df_rel = shingles.groupBy("shingle").agg(F.count("*").alias("df"))
    w = W.partitionBy("doc_id").orderBy("df", "shingle")
    ranked = (
        shingles.join(df_rel, "shingle")
        .select(
            "doc_id", "shingle", "df",
            F.row_number().over(w).alias("rn"),
            F.count("*").over(W.partitionBy("doc_id")).alias("sz"),
        )
    )
    # p = sz - ceil(t*sz) + 1, ceil via integer arithmetic
    p = F.col("sz") - F.expr(f"(sz * {num} + {den} - 1) DIV {den}") + 1
    prefix = ranked.filter(F.col("rn") <= p).select("doc_id", "shingle")
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2")
        )
        .distinct()
    )
    s1 = shingles.select(F.col("doc_id").alias("d1"), "shingle")
    s2 = shingles.select(
        F.col("doc_id").alias("d2b"), F.col("shingle").alias("sh2")
    )
    common = (
        cand.join(s1, "d1")
        .join(
            s2,
            (F.col("d2") == F.col("d2b")) & (F.col("shingle") == F.col("sh2")),
        )
        .groupBy("d1", "d2")
        .agg(F.count("*").alias("c"))
    )
    sizes = shingles.groupBy("doc_id").agg(F.count("*").alias("n"))
    n1 = sizes.select(F.col("doc_id").alias("d1"), F.col("n").alias("n1"))
    n2 = sizes.select(F.col("doc_id").alias("d2"), F.col("n").alias("n2"))
    jac = F.col("c") * 1.0 / (F.col("n1") + F.col("n2") - F.col("c"))
    return (
        common.join(n1, "d1")
        .join(n2, "d2")
        .filter(
            F.col("c") * den >= num * (F.col("n1") + F.col("n2") - F.col("c"))
        )
        .select("d1", "d2", F.round(jac, 4).alias("jaccard"))
    )


def prefix_filter_pairs_oracle(num: int = 3, den: int = 10) -> str:
    return f"""
    WITH {_duck_shingles_cte()},
    dfrel AS (SELECT shingle, count(*) AS df FROM shingles GROUP BY shingle),
    ranked AS (
        SELECT s.doc_id, s.shingle,
               row_number() OVER (PARTITION BY s.doc_id
                                  ORDER BY d.df, s.shingle) AS rn,
               count(*) OVER (PARTITION BY s.doc_id) AS sz
        FROM shingles s JOIN dfrel d ON s.shingle = d.shingle
    ),
    prefix AS (
        SELECT doc_id, shingle FROM ranked
        WHERE rn <= sz - ((sz * {num} + {den} - 1) // {den}) + 1
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        FROM prefix a JOIN prefix b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    ),
    common AS (
        SELECT cd.d1, cd.d2, count(*) AS c
        FROM cand cd
        JOIN shingles s1 ON s1.doc_id = cd.d1
        JOIN shingles s2 ON s2.doc_id = cd.d2 AND s2.shingle = s1.shingle
        GROUP BY cd.d1, cd.d2
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id)
    SELECT common.d1, common.d2,
           ROUND(common.c * 1.0 / (sa.n + sb.n - common.c), 4) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = common.d1
    JOIN sizes sb ON sb.doc_id = common.d2
    WHERE common.c * {den} >= {num} * (sa.n + sb.n - common.c)
    ORDER BY common.d1, common.d2
    """


def dedup_canonical_best_oracle(pairs_sql: str) -> str:
    """DuckDB oracle for the QUALITY-AWARE canonical pass: survivor =
    the longest doc (n_chars, ties to min doc_id) per component, not
    the min id — the selection production pipelines run (keep the
    best copy, drop the rest). Window runs over the comp relation
    only, mirroring the Spark plan."""
    return f"""
    WITH RECURSIVE pairs AS ({pairs_sql}),
    edges AS (
        SELECT d1 AS a, d2 AS b FROM pairs
        UNION ALL
        SELECT d2 AS a, d1 AS b FROM pairs
    ),
    reach(node, comp) AS (
        SELECT a AS node, a AS comp FROM edges
        UNION
        SELECT e.a AS node, r.comp
        FROM edges e JOIN reach r ON e.b = r.node
    ),
    comp AS (SELECT node AS doc_id, min(comp) AS component FROM reach GROUP BY node),
    best AS (
        SELECT doc_id FROM (
            SELECT c.doc_id,
                   row_number() OVER (
                       PARTITION BY c.component
                       ORDER BY d.n_chars DESC, c.doc_id) AS rn
            FROM comp c JOIN documents d ON d.doc_id = c.doc_id
        ) WHERE rn = 1
    )
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN c.doc_id IS NULL OR b.doc_id IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN c.doc_id IS NULL OR b.doc_id IS NOT NULL
                         THEN len(string_split(d.text, ' '))
                         ELSE 0 END) AS BIGINT) AS kept_tokens,
           CAST(sum(CASE WHEN c.doc_id IS NULL OR b.doc_id IS NOT NULL
                         THEN d.n_chars ELSE 0 END) AS BIGINT) AS kept_chars
    FROM documents d
    LEFT JOIN comp c ON d.doc_id = c.doc_id
    LEFT JOIN best b ON d.doc_id = b.doc_id
    GROUP BY d.source
    ORDER BY source, n_docs, n_kept, kept_tokens
    """

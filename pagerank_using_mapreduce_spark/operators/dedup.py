"""Deduplication operators for large-scale training-data pipelines.

- exact dedup: hash-groupBy on content digest (one shuffle, map-side
  partial agg; at 100 TB the digest groupBy is the only wide op and
  skew is impossible because md5 keys are uniform);
- MinHash + LSH near-dup: shingle → K minhashes → band buckets →
  per-bucket pair enumeration for candidates → exact-Jaccard
  verification.  Candidates only form inside a bucket, so the shuffle
  is on the band key (uniform md5) — never an O(n²) cross join;
- SimHash: 60-bit signed-projection fingerprint, banded hamming LSH,
  bit_count(xor) verification (same bucket-join shape).

Portability: the hash family is ONE md5 per shingle, with each of the
K permutations a distinct xor-masked linear functional of the four
32-bit digest words mod a Mersenne prime (``MINHASH_COEF``) — chosen
because Spark and DuckDB produce identical md5 hex and identical
exact-int64 arithmetic, so the DuckDB oracles recompute signatures
independently.  (The previous md5-per-(seed, shingle) family was 12x
the digest work and dominated the near-dup cost at sf10; the xor
masks are load-bearing — without them a shingle whose digest words
are all small wins the min under EVERY all-positive linear map, and
near-disjoint sets with one such shared shingle estimated J≈0.8.)

The shipped synthetic ``documents`` table has no duplicates, so the
dedup queries run on a deterministic augmentation (``augment_docs``):
near-dup copies (tail-mutated text) for doc_id % 10 == 0 and exact
copies for doc_id % 25 == 0 — both engines derive the same augmented
table, making the expected output non-trivial and hash-checkable.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.textops import strip_non_alpha, tokens
from .scale import adaptive_partitions, iterate, label_fixpoint, truncate_lineage

# Augmented-copy id offsets sit far above any real doc_id so the two
# id spaces can never collide — 1e9 clears even the synthetic sf10
# decade (2M docs; the old 1e6/2e6 offsets collided there, VERDICT r06
# #5).  Both engines derive the augmentation from these constants, so
# oracle hashes move in lockstep.
NEAR_DUP_OFFSET = 1_000_000_000
EXACT_DUP_OFFSET = 2_000_000_000
NEAR_DUP_TAIL = " extra tail words appended here"

N_HASHES = 12
N_BANDS = 4  # rows per band = N_HASHES // N_BANDS = 3
JACCARD_THRESHOLD = 0.5


def augment_docs(documents: DataFrame) -> DataFrame:
    """documents + deterministic near-dup and exact-dup copies."""
    base = documents.select("doc_id", "text")
    near = (
        base.where(F.col("doc_id") % 10 == 0)
        .select(
            (F.col("doc_id") + NEAR_DUP_OFFSET).alias("doc_id"),
            F.concat(F.col("text"), F.lit(NEAR_DUP_TAIL)).alias("text"),
        )
    )
    exact = base.where(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + EXACT_DUP_OFFSET).alias("doc_id"), "text"
    )
    return base.unionAll(near).unionAll(exact)


AUGMENT_SQL = f"""
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {NEAR_DUP_OFFSET} AS doc_id, text || '{NEAR_DUP_TAIL}' AS text
  FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + {EXACT_DUP_OFFSET} AS doc_id, text
  FROM documents WHERE doc_id % 25 = 0
"""


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(docs: DataFrame) -> DataFrame:
    """(doc_id, text_hash, is_canonical): canonical = min doc_id of its
    content group.  ``dropDuplicates`` semantics, but keeps the full
    mapping so downstream can rewrite references."""
    hashed = docs.select("doc_id", F.md5(F.col("text")).alias("text_hash"))
    canon = hashed.groupBy("text_hash").agg(F.min("doc_id").alias("canonical_id"))
    return hashed.join(canon, "text_hash").select(
        "doc_id",
        "text_hash",
        "canonical_id",
        (F.col("doc_id") == F.col("canonical_id")).alias("is_canonical"),
    )


# ---------------------------------------------------------------------------
# Shingles and MinHash signatures
# ---------------------------------------------------------------------------


def shingles(docs: DataFrame, k: int = 3) -> DataFrame:
    """(doc_id, shingle): word k-grams over normalized tokens.
    Docs with fewer than k tokens produce no shingles (and therefore
    opt out of near-dup detection — consistent in the oracle)."""
    toked = docs.select("doc_id", tokens(strip_non_alpha("text")).alias("toks"))
    sh = F.when(
        F.size("toks") >= k,
        F.expr(
            f"transform(sequence(0, size(toks) - {k}), "
            f"i -> concat_ws(' ', {', '.join(f'toks[i + {j}]' for j in range(k))}))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    return toked.select("doc_id", F.explode(sh).alias("shingle")).distinct()


def shingles_sql(docs_sql: str, k: int = 3) -> str:
    grams = " || ' ' || ".join(f"toks[i + {j}]" for j in range(1, k + 1))
    return f"""
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           unnest(CASE WHEN len(toks) >= {k}
             THEN list_transform(range(0, len(toks) - {k - 1}), i -> {grams})
             ELSE [] END) AS shingle
    FROM (
      SELECT doc_id,
             list_filter(string_split_regex(
               lower(trim(regexp_replace(text, '[^a-zA-Z]+', ' ', 'g'))), ' +'),
               t -> t != '') AS toks
      FROM ({docs_sql})
    )
  )
"""


def shingle_arrays(docs: DataFrame, k: int = 3) -> DataFrame:
    """(doc_id, sh: array<string>): each doc's DISTINCT shingle set as
    one array row — the doc-level twin of :func:`shingles` (explode +
    distinct) with identical set semantics.  Docs with fewer than k
    tokens are dropped (they opt out of near-dup detection, exactly as
    the exploded form's empty explode drops them).

    Scale shape: a pure narrow projection — no explode, no distinct
    exchange.  The corpus-size relation stays one row per doc (the
    array payload is the same bytes as the text it came from), so
    everything downstream that used to shuffle |corpus| x |shingles|
    exploded rows now shuffles |corpus| rows.

    Indexing uses null-safe get(), not toks[..]: identical on the
    valid range (i <= size-k keeps every i+j in bounds), but immune
    to ANSI INVALID_ARRAY_INDEX when a downstream generate/filter gets
    subexpression-hoisted ABOVE the size(toks) >= k guard (observed:
    explode over this relation compiled the transform into the
    predicate itself, evaluating it on short docs the where() was
    about to drop)."""
    toked = docs.select("doc_id", tokens(strip_non_alpha("text")).alias("toks"))
    grams = F.expr(
        f"transform(sequence(0, size(toks) - {k}), "
        f"i -> concat_ws(' ', {', '.join(f'get(toks, i + {j})' for j in range(k))}))"
    )
    return (
        toked.where(F.size("toks") >= k)
        .select("doc_id", F.array_distinct(grams).alias("sh"))
    )


# Universal-hash minhash permutations: ONE md5 per shingle (all four
# 32-bit words w0..w3 of the 128-bit digest), then each of the K
# minhashes is min over
#   (a_j*(w0^m0j) + b_j*(w1^m1j) + c_j*(w2^m2j) + d_j*(w3^m3j) + e_j) mod P.
# The per-permutation XOR masks are load-bearing: without them every
# map is an all-positive linear functional, so a shingle whose digest
# words are all small wins the min under EVERY permutation at once —
# measured: near-disjoint pairs sharing one such shingle estimated
# J≈0.8 (abs_err 813k), and banding recall dropped 991071 → 973214.
# With masks the 12 orderings decorrelate (simulated max estimator
# error 0.21 over 200 pairs ≈ binomial tail for K=12).
# The md5-per-(seed, shingle) scheme this replaces evaluated K full
# digests per shingle occurrence — 12x the hash work — and was
# measured as THE dominant cost of the whole near-dup family at sf10.
# All arithmetic is exact signed-int64 on both engines: coefficients
# < 2^28 and xor-masked words < 2^32 keep each product < 2^60 and the
# sum of four + e_j < 2^63, so Spark and DuckDB compute bit-identical
# signatures with no overflow on either side.
MINHASH_P = (1 << 61) - 1  # Mersenne prime
MINHASH_COEF: list[tuple] = [  # (a, b, c, d, e, (m0..m3)), seed 777
    (61561401, 119680371, 119613813, 266258017, 89130520083, (3962945185, 4265574164, 3990970353, 2971941915)),
    (238419665, 89429151, 27805169, 230001087, 632812995623, (2510239022, 900607190, 2152409442, 3531317774)),
    (157507337, 215536837, 9155075, 93448387, 324740890683, (2131068740, 2355028102, 721772554, 1886169340)),
    (58579799, 177168355, 151516681, 102883639, 825013634137, (4086513692, 3202178634, 2302950023, 3998085038)),
    (82248441, 50400141, 264773275, 25385119, 382215789060, (145287273, 4193100265, 45932502, 3000175894)),
    (215650657, 242669591, 172408355, 133542457, 272239253125, (1743692343, 1713647171, 2173795839, 3528463765)),
    (76915485, 241572611, 156101983, 224067157, 956477427030, (2839653779, 3951532519, 1207339168, 2745106569)),
    (42502531, 37039815, 87148123, 21679333, 626726047557, (1145751395, 1831374145, 2545925448, 2441638737)),
    (23236033, 123887331, 266824899, 207566045, 743336767858, (418363451, 3725041326, 2588533053, 2422845171)),
    (144764385, 182551419, 199215247, 211723469, 91808453609, (47615345, 3922425037, 709621663, 3415984730)),
    (221285113, 263302339, 175661237, 111495473, 551769539295, (274972339, 120988298, 2485465043, 2105841600)),
    (51623517, 75679883, 133581337, 15663333, 1004423716375, (928139504, 3753061802, 4258635772, 2040515833)),
]


def _minhash_perm(w0, w1, w2, w3, j: int):
    a, b, c, d, e, m = MINHASH_COEF[j]
    ws = [w0, w1, w2, w3]
    terms = [
        F.lit(coef) * w.bitwiseXOR(F.lit(mask))
        for coef, w, mask in zip((a, b, c, d), ws, m)
    ]
    return (terms[0] + terms[1] + terms[2] + terms[3] + F.lit(e)) % F.lit(
        MINHASH_P
    )


def _md5_words(m):
    """The four 32-bit words of an md5 hex column, as longs."""
    return [
        F.conv(F.substring(m, 1 + 8 * i, 8), 16, 10).cast("long")
        for i in range(4)
    ]


def minhash_signatures(sh: DataFrame, n_hashes: int = N_HASHES) -> DataFrame:
    """(doc_id, sig_0..sig_{n-1}): one aggregation pass computes all K
    minhashes.  Long-typed mins keep the aggregate hash-based and
    codegen-eligible (string mins forced a SortAggregate)."""
    # materialize the digest in its OWN projection: the four word
    # extractions below each embed their argument, and without a
    # project boundary (CollapseProject declines only because m is a
    # multiply-referenced non-cheap alias) the md5 would be evaluated
    # four times per shingle.
    hashed = sh.select("doc_id", F.md5(F.col("shingle")).alias("m"))
    based = hashed.select(
        "doc_id",
        *[w.alias(f"w_{i}") for i, w in enumerate(_md5_words(F.col("m")))],
    )
    aggs = [
        F.min(
            _minhash_perm(*[F.col(f"w_{i}") for i in range(4)], j)
        ).alias(f"sig_{j}")
        for j in range(n_hashes)
    ]
    return based.groupBy("doc_id").agg(*aggs)


def _hex_to_long_sql(hex_expr: str, nhex: int = 8) -> str:
    """DuckDB has no base-conv builtin; expand the hex digits."""
    return "(" + " + ".join(
        f"(strpos('0123456789abcdef', substring({hex_expr}, {i + 1}, 1)) - 1)"
        f" * {16 ** (nhex - 1 - i)}"
        for i in range(nhex)
    ) + ")"


def minhash_signatures_sql(shingles_query: str, n_hashes: int = N_HASHES) -> str:
    aggs = ", ".join(
        f"MIN(({a} * xor(w_0, {m[0]}) + {b} * xor(w_1, {m[1]})"
        f" + {c} * xor(w_2, {m[2]}) + {d} * xor(w_3, {m[3]}) + {e})"
        f" % {MINHASH_P}) AS sig_{j}"
        for j, (a, b, c, d, e, m) in enumerate(MINHASH_COEF[:n_hashes])
    )
    words = ", ".join(
        f"{_hex_to_long_sql(f'substring(m, {1 + 8 * i}, 8)')} AS w_{i}"
        for i in range(4)
    )
    return f"""
SELECT doc_id, {aggs} FROM (
  SELECT doc_id, {words}
  FROM (SELECT doc_id, md5(shingle) AS m FROM ({shingles_query}))
) GROUP BY doc_id"""


# ---------------------------------------------------------------------------
# LSH banding + candidate pairs + exact-Jaccard verification
# ---------------------------------------------------------------------------


def band_table(
    sigs: DataFrame, n_bands: int = N_BANDS, n_hashes: int = N_HASHES
) -> DataFrame:
    """(doc_id, band, bucket): the LSH band-bucket relation — the
    reusable 'dedup index' an incremental pipeline persists and joins
    every incoming batch against.

    Built as ONE pass over the signature relation with the band keys
    exploded from an array (the x119 frontier idiom), NOT a per-band
    union: a union of n_bands selects re-plans the whole upstream
    shingle+minhash computation per branch (column pruning specializes
    each branch to its 3 sig columns, which defeats exchange reuse),
    so the tokenize/explode/distinct base pass ran n_bands times per
    side.  Measured at sf10: the exploded form cut the cold LSH
    candidate stage from ~54 s marginal to single-digit seconds."""
    rows = n_hashes // n_bands
    entries = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    "|", *[F.col(f"sig_{b * rows + r}") for r in range(rows)]
                )
            ).alias("bucket"),
        )
        for b in range(n_bands)
    ]
    return sigs.select(
        "doc_id", F.explode(F.array(*entries)).alias("e")
    ).select("doc_id", "e.band", "e.bucket")


def lsh_candidates(
    sigs: DataFrame,
    n_bands: int = N_BANDS,
    n_hashes: int = N_HASHES,
    max_bucket: int | None = None,
) -> DataFrame:
    """(doc_a, doc_b) candidate pairs sharing at least one band bucket.

    Enumerated per bucket via groupBy + collect_list + a pair-explode,
    NOT a band-table self-join: the self-join evaluated the entire
    signature expression tree once per side (exchange/stage reuse
    never fires across these lambda-bearing subtrees — measured 23.3 s
    vs 1.0 s on materialized input at sf1), while the groupBy form
    computes signatures exactly once and shuffles one exchange instead
    of two.  Output set is identical: sort_array + strict upper
    triangle gives doc_a < doc_b, distinct dedups pairs that collide
    in several bands.

    Skew: per-bucket list state is O(bucket size); at a fixed banding,
    a bucket is (whp) one near-dup cluster, so run exact dedup (x1)
    first if the corpus carries mass-duplicated boilerplate, or use
    the salted set-similarity join (x108) which caps per-key fan-out
    explicitly.  ``max_bucket`` is the OOM fuse for corpora where that
    discipline was skipped: the count is taken BEFORE any list is
    collected, oversized buckets are dropped (their members are by
    construction a mass-duplicated blob that exact dedup owns), and
    :func:`lsh_bucket_stats` is the pre-flight audit that tells you
    whether the fuse would blow and at what size.

    Arming the fuse consumes the band table TWICE (once counted, once
    joined), and stage reuse never fires across its lambda-bearing
    minhash subtree — so the fused path eagerly localCheckpoints the
    (narrow: doc_id, band, bucket) band relation first, paying one
    materialization instead of two signature passes."""
    allb = band_table(sigs, n_bands, n_hashes)
    if max_bucket is not None:
        allb = allb.localCheckpoint(eager=True)
        counted = allb.groupBy("band", "bucket").agg(
            F.count("*").alias("_n")
        )
        allb = allb.join(
            counted.where(F.col("_n") <= max_bucket).select("band", "bucket"),
            ["band", "bucket"],
        )
    buckets = (
        allb.groupBy("band", "bucket")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
        .where(F.size("ds") >= 2)
    )
    return (
        buckets.select(
            F.explode(
                F.flatten(
                    F.expr(
                        "transform(ds, (x, i) -> transform("
                        "slice(ds, i + 2, size(ds) - i - 1), "
                        "y -> struct(x AS doc_a, y AS doc_b)))"
                    )
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )


def lsh_candidates_sql(
    sigs_query: str, n_bands: int = N_BANDS, n_hashes: int = N_HASHES
) -> str:
    rows = n_hashes // n_bands
    selects = []
    for b in range(n_bands):
        cols = " || '|' || ".join(
            f"CAST(sig_{b * rows + r} AS VARCHAR)" for r in range(rows)
        )
        selects.append(f"SELECT doc_id, {b} AS band, md5({cols}) AS bucket FROM sigs")
    union = " UNION ALL ".join(selects)
    return f"""
WITH sigs AS ({sigs_query}),
bands AS ({union})
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b
  ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
"""


def lsh_bucket_stats(
    sigs: DataFrame, n_bands: int = N_BANDS, n_hashes: int = N_HASHES
) -> DataFrame:
    """Per-band LSH bucket-occupancy audit: (band, n_buckets,
    max_bucket, n_multi, sum_pairs) — the pre-flight check for
    :func:`lsh_candidates`'s per-bucket collect_list (its task state is
    O(max bucket) and its output is Σ C(size, 2)).  Run this BEFORE a
    production LSH pass: a max_bucket in the thousands means the corpus
    carries a mass-duplicated blob that exact dedup (x1) should absorb
    first, or that the ``max_bucket`` fuse should be armed.  Pure
    two-level aggregate of the band table — no lists, no pairs, so the
    audit itself is safe at any skew."""
    per = band_table(sigs, n_bands, n_hashes).groupBy("band", "bucket").agg(
        F.count("*").alias("sz")
    )
    return (
        per.groupBy("band")
        .agg(
            F.count("*").cast("long").alias("n_buckets"),
            F.max("sz").cast("long").alias("max_bucket"),
            F.sum(F.when(F.col("sz") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_multi"),
            F.sum(F.expr("sz * (sz - 1) div 2"))
            .cast("long")
            .alias("sum_pairs"),
        )
        .select("band", "n_buckets", "max_bucket", "n_multi", "sum_pairs")
    )


def lsh_bucket_stats_sql(
    sigs_query: str, n_bands: int = N_BANDS, n_hashes: int = N_HASHES
) -> str:
    rows = n_hashes // n_bands
    selects = []
    for b in range(n_bands):
        cols = " || '|' || ".join(
            f"CAST(sig_{b * rows + r} AS VARCHAR)" for r in range(rows)
        )
        selects.append(f"SELECT doc_id, {b} AS band, md5({cols}) AS bucket FROM sigs")
    union = " UNION ALL ".join(selects)
    return f"""
WITH sigs AS ({sigs_query}),
bands AS ({union}),
per AS (SELECT band, bucket, COUNT(*) AS sz FROM bands GROUP BY band, bucket)
SELECT band,
       CAST(COUNT(*) AS BIGINT) AS n_buckets,
       CAST(MAX(sz) AS BIGINT) AS max_bucket,
       CAST(SUM(CASE WHEN sz >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_multi,
       CAST(SUM(sz * (sz - 1) // 2) AS BIGINT) AS sum_pairs
FROM per GROUP BY band"""


def verified_near_dups(
    sh: DataFrame,
    candidates: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
) -> DataFrame:
    """Exact Jaccard over shingle sets for candidate pairs only
    (the expensive set intersection touches candidates, not all pairs).
    Output: (doc_a, doc_b, jaccard_e6) with jaccard >= threshold."""
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    s1 = sh.alias("s1")
    s2 = sh.alias("s2")
    inter = (
        candidates.alias("c")
        .join(s1, F.col("s1.doc_id") == F.col("c.doc_a"))
        .join(
            s2,
            (F.col("s2.doc_id") == F.col("c.doc_b"))
            & (F.col("s2.shingle") == F.col("s1.shingle")),
        )
        .groupBy("c.doc_a", "c.doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    na = sizes.alias("na")
    nb = sizes.alias("nb")
    jac = (
        inter.join(na, F.col("na.doc_id") == F.col("doc_a"))
        .join(nb, F.col("nb.doc_id") == F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n_inter")
                / (F.col("na.n_sh") + F.col("nb.n_sh") - F.col("n_inter"))
            ).alias("jaccard"),
        )
    )
    return jac.where(F.col("jaccard") >= threshold).select(
        "doc_a",
        "doc_b",
        F.floor(F.col("jaccard") * 1e6 + F.lit(0.5000001)).cast("long").alias("jaccard_e6"),
    )


# ---------------------------------------------------------------------------
# SimHash: 32-bit signed-projection fingerprint + banded hamming near-dup
# ---------------------------------------------------------------------------

# 60 bits = 15 md5 hex chars: wide enough that unrelated docs sit at
# hamming ~19-25 while injected near-dups stay <= ~13 (32 bits collapses
# — noise pairs reach hamming 0 on this corpus), yet still inside a
# signed 64-bit long for both engines.
SIMHASH_BITS = 60
SIMHASH_BANDS = 4  # 15-bit bands; hamming <= 3 pairs share >= 1 band for sure
HAMMING_THRESHOLD = 6


def _token_hash(word, bits: int = SIMHASH_BITS) -> F.Column:
    """First bits/4 md5 hex chars as an int — identical in Spark and
    DuckDB (both emit lowercase hex), so the oracle recomputes it."""
    return F.conv(F.substring(F.md5(word), 1, bits // 4), 16, 10).cast("long")


def _token_hash_sql(word_expr: str, bits: int = SIMHASH_BITS) -> str:
    # DuckDB has no base-conv builtin; expand the hex digits manually.
    nhex = bits // 4
    digits = " + ".join(
        f"(strpos('0123456789abcdef', substring(md5({word_expr}), {i + 1}, 1)) - 1)"
        f" * {16 ** (nhex - 1 - i)}"
        for i in range(nhex)
    )
    return f"({digits})"


def simhash(docs: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """(doc_id, simhash): classic Charikar fingerprint — each token's
    hash votes ±count on every bit position; the sign of the per-bit
    tally is the fingerprint bit.

    One groupBy(doc_id) with ``bits`` sum aggregates (all JVM-side,
    map-side partial agg) — structurally the same single-shuffle shape
    as :func:`minhash_signatures`.  Near-identical docs differ in a few
    token votes, so their tallies keep the same sign almost everywhere
    → small hamming distance.
    """
    counted = (
        docs.select("doc_id", tokens(strip_non_alpha("text")).alias("toks"))
        .select("doc_id", F.explode("toks").alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("cnt"))
        .select("doc_id", "cnt", _token_hash(F.col("word"), bits).alias("h"))
    )
    tallies = counted.groupBy("doc_id").agg(
        *[
            F.sum(
                F.col("cnt")
                * (F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) * 2 - 1)
            ).alias(f"s_{b}")
            for b in range(bits)
        ]
    )
    fingerprint = None
    for b in range(bits):
        term = F.when(F.col(f"s_{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        fingerprint = term if fingerprint is None else fingerprint + term
    return tallies.select("doc_id", fingerprint.cast("long").alias("simhash"))


def simhash_sql(docs_sql: str, bits: int = SIMHASH_BITS) -> str:
    tally = ", ".join(
        f"SUM(cnt * (((h >> {b}) & 1) * 2 - 1)) AS s_{b}" for b in range(bits)
    )
    fingerprint = " + ".join(
        f"CASE WHEN s_{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(bits)
    )
    return f"""
  SELECT doc_id, CAST({fingerprint} AS BIGINT) AS simhash FROM (
    SELECT doc_id, {tally} FROM (
      SELECT doc_id, COUNT(*) AS cnt, {_token_hash_sql('word', bits)} AS h
      FROM (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(
                 lower(trim(regexp_replace(text, '[^a-zA-Z]+', ' ', 'g'))), ' +'),
                 t -> t != '')) AS word
        FROM ({docs_sql})
      ) GROUP BY doc_id, word
    ) GROUP BY doc_id
  )
"""


def simhash_near_dups(
    fp: DataFrame,
    n_bands: int = SIMHASH_BANDS,
    bits: int = SIMHASH_BITS,
    threshold: int = HAMMING_THRESHOLD,
) -> DataFrame:
    """(doc_a, doc_b, hamming): pairs within ``threshold`` bit flips.

    Same LSH shape as :func:`lsh_candidates`: band the fingerprint into
    ``n_bands`` buckets, self-join per (band, bucket).  Pigeonhole: a
    pair within hamming ``n_bands - 1`` is GUARANTEED to agree on one
    whole band; beyond that recall decays (deterministically — the
    oracle runs the identical banding, so both engines miss the same
    pairs).  No O(n²) cross join ever forms; verification is
    ``bit_count(xor)`` on the candidate set only.
    """
    width = bits // n_bands
    mask = (1 << width) - 1
    bands = [
        fp.select(
            "doc_id",
            "simhash",
            F.lit(b).alias("band"),
            F.shiftright(F.col("simhash"), b * width).bitwiseAND(F.lit(mask)).alias("bucket"),
        )
        for b in range(n_bands)
    ]
    allb = bands[0]
    for b in bands[1:]:
        allb = allb.unionAll(b)
    cand = (
        allb.alias("a")
        .join(
            allb.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).cast("long").alias("hamming"),
        )
        .distinct()
    )
    return cand.where(F.col("hamming") <= threshold)


def simhash_near_dups_sql(
    simhash_query: str,
    n_bands: int = SIMHASH_BANDS,
    bits: int = SIMHASH_BITS,
    threshold: int = HAMMING_THRESHOLD,
) -> str:
    width = bits // n_bands
    mask = (1 << width) - 1
    selects = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {b} AS band, (simhash >> {b * width}) & {mask} AS bucket FROM fp"
        for b in range(n_bands)
    )
    return f"""
WITH fp AS ({simhash_query}),
bands AS ({selects})
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM bands a JOIN bands b
  ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {threshold}
"""


def verified_near_dups_arr(
    sha: DataFrame,
    candidates: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
) -> DataFrame:
    """Array-form exact-Jaccard verify: join each candidate pair to the
    two docs' shingle ARRAYS and intersect JVM-side
    (size(array_intersect)) — value-identical to
    :func:`verified_near_dups` (same sets, same floor rounding) but the
    join shuffles one row per doc instead of one row per (doc,
    shingle), and the intersection count needs no aggregate at all."""
    a = sha.select(
        F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")
    )
    b = sha.select(
        F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")
    )
    jac = (
        candidates.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.size(F.array_intersect("sh_a", "sh_b"))
                / (
                    F.size("sh_a")
                    + F.size("sh_b")
                    - F.size(F.array_intersect("sh_a", "sh_b"))
                )
            ).alias("jaccard"),
        )
    )
    return jac.where(F.col("jaccard") >= threshold).select(
        "doc_a",
        "doc_b",
        F.floor(F.col("jaccard") * 1e6 + F.lit(0.5000001)).cast("long").alias("jaccard_e6"),
    )


def near_dup_pipeline(docs: DataFrame, sha: DataFrame | None = None) -> DataFrame:
    """augment → shingle → minhash → LSH → verify, end to end.

    Stage choices are MEASURED (sf1/sf10, see SCALING.md):
    signatures via the exploded groupBy (long-typed universal-hash
    mins keep it a HashAggregate — 1.7x the array-transform form),
    candidates via the per-bucket groupBy enumeration (never a
    band-table self-join: stage reuse does not fire across these
    lambda-bearing subtrees, so a self-join re-evaluates the whole
    signature tree per side), and verification via doc-level array
    intersection (one row per doc through the joins instead of one
    row per (doc, shingle)).

    ``sha``: optional pre-built :func:`shingle_arrays` relation whose
    MATERIALIZATION LIFETIME THE CALLER CONTROLS — it MUST actually be
    materialized (persist/localCheckpoint/parquet stage).  Every
    consumer here (signature explode, both verify sides) reads from
    it, so the tokenize pass is paid ONCE instead of three times —
    stage reuse cannot fire across the lambda-bearing tokenize
    subtrees, so without materialization each plan subtree
    re-tokenizes the corpus (the measured 3-pass cost of the x33
    family at sf10).  A LAZY sha would be far worse than no sha:
    exploding a computed array column makes InferFiltersFromGenerate
    clone the whole gram pipeline into an interpreted non-empty
    pre-filter under the Generate (measured 30x at sf0.1), which a
    materialized column reference is immune to.  At 100 TB persist it
    to disk (StorageLevel.DISK_ONLY or a parquet stage), not memory."""
    if sha is None:
        sigs = minhash_signatures(shingles(docs))
        cands = lsh_candidates(sigs)
        return verified_near_dups_arr(shingle_arrays(docs), cands)
    sh = sha.select("doc_id", F.explode("sh").alias("shingle"))
    sigs = minhash_signatures(sh)
    cands = lsh_candidates(sigs)
    return verified_near_dups_arr(sha, cands)


def exact_dedup_sql(docs_sql: str) -> str:
    return f"""
WITH docs AS ({docs_sql}),
hashed AS (SELECT doc_id, md5(text) AS text_hash FROM docs),
canon AS (SELECT text_hash, MIN(doc_id) AS canonical_id FROM hashed GROUP BY text_hash)
SELECT h.doc_id, h.text_hash, c.canonical_id,
       h.doc_id = c.canonical_id AS is_canonical
FROM hashed h JOIN canon c USING (text_hash)"""


def near_dup_sql(docs_sql: str, threshold: float = JACCARD_THRESHOLD) -> str:
    sh_q = shingles_sql(docs_sql)
    cand_q = lsh_candidates_sql(minhash_signatures_sql(sh_q))
    return f"""
WITH sh AS ({sh_q}),
cand AS ({cand_q}),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
  FROM cand c
  JOIN sh s1 ON s1.doc_id = c.doc_a
  JOIN sh s2 ON s2.doc_id = c.doc_b AND s2.shingle = s1.shingle
  GROUP BY c.doc_a, c.doc_b
),
jac AS (
  SELECT i.doc_a, i.doc_b,
         CAST(i.n_inter AS DOUBLE) / (na.n_sh + nb.n_sh - i.n_inter) AS jaccard
  FROM inter i
  JOIN sizes na ON na.doc_id = i.doc_a
  JOIN sizes nb ON nb.doc_id = i.doc_b
)
SELECT doc_a, doc_b,
       CAST(FLOOR(jaccard * 1e6 + 0.5000001) AS BIGINT) AS jaccard_e6
FROM jac WHERE jaccard >= {threshold}"""


# ---------------------------------------------------------------------------
# Incremental dedup: a NEW batch screened against the EXISTING corpus.
# The production ingest shape — the full-corpus self-join (x4) re-pays
# the whole pairwise cost every run, while here the existing side's
# band table is the persisted dedup INDEX and each incoming batch only
# joins against it: candidate generation is new x existing, never
# new x new or existing x existing.
# ---------------------------------------------------------------------------


def incremental_near_dups(
    existing: DataFrame,
    new: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
    index: DataFrame | None = None,
) -> DataFrame:
    """(new_doc, existing_doc, jaccard_e6): new-batch documents that
    near-duplicate some existing document.  Same shingle/minhash/band
    parameters as the batch pipeline, so a doc flagged here is exactly
    a doc the full self-join would have paired across the boundary.

    ``index``: a pre-built (doc_id, band, bucket) band table for the
    EXISTING side — the durable dedup index a production ingest stores
    once and joins every batch against, instead of re-sketching the
    corpus per batch (band derivation is a pure function of the text,
    so a stored index is exactly the recomputed one — x89 proves the
    parquet roundtrip through the hash gate)."""
    be = (
        index
        if index is not None
        else band_table(minhash_signatures(shingles(existing)))
    )
    bn = band_table(minhash_signatures(shingles(new)))
    cand = (
        bn.alias("n")
        .join(
            be.alias("e"),
            (F.col("n.band") == F.col("e.band"))
            & (F.col("n.bucket") == F.col("e.bucket")),
        )
        .select(
            F.col("n.doc_id").alias("doc_a"), F.col("e.doc_id").alias("doc_b")
        )
        .distinct()
    )
    # array-form verify: one row per doc through the candidate joins
    # (the new x existing join above is genuinely two-sided, but the
    # verification is doc-keyed and wins from the doc-level relation
    # exactly as near_dup_pipeline does).
    sha = shingle_arrays(new).unionAll(shingle_arrays(existing))
    return verified_near_dups_arr(sha, cand, threshold).select(
        F.col("doc_a").alias("new_doc"),
        F.col("doc_b").alias("existing_doc"),
        "jaccard_e6",
    )


def incremental_near_dups_sql(
    existing_sql: str, new_sql: str, threshold: float = JACCARD_THRESHOLD
) -> str:
    """DuckDB twin: identical band keys per side, new x existing join,
    identical Jaccard verification."""
    rows = N_HASHES // N_BANDS

    def bands_q(sig_alias: str) -> str:
        selects = []
        for b in range(N_BANDS):
            cols = " || '|' || ".join(
                f"CAST(sig_{b * rows + r} AS VARCHAR)" for r in range(rows)
            )
            selects.append(
                f"SELECT doc_id, {b} AS band, md5({cols}) AS bucket FROM {sig_alias}"
            )
        return " UNION ALL ".join(selects)

    return f"""
WITH she AS ({shingles_sql(existing_sql)}),
shn AS ({shingles_sql(new_sql)}),
sige AS ({minhash_signatures_sql("SELECT * FROM she")}),
sign AS ({minhash_signatures_sql("SELECT * FROM shn")}),
be AS ({bands_q("sige")}),
bn AS ({bands_q("sign")}),
cand AS (
  SELECT DISTINCT n.doc_id AS doc_a, e.doc_id AS doc_b
  FROM bn n JOIN be e ON n.band = e.band AND n.bucket = e.bucket
),
sh AS (SELECT * FROM shn UNION ALL SELECT * FROM she),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
  FROM cand c
  JOIN sh s1 ON s1.doc_id = c.doc_a
  JOIN sh s2 ON s2.doc_id = c.doc_b AND s2.shingle = s1.shingle
  GROUP BY c.doc_a, c.doc_b
),
jac AS (
  SELECT i.doc_a, i.doc_b,
         CAST(i.n_inter AS DOUBLE) / (na.n_sh + nb.n_sh - i.n_inter) AS jaccard
  FROM inter i
  JOIN sizes na ON na.doc_id = i.doc_a
  JOIN sizes nb ON nb.doc_id = i.doc_b
)
SELECT doc_a AS new_doc, doc_b AS existing_doc,
       CAST(FLOOR(jaccard * 1e6 + 0.5000001) AS BIGINT) AS jaccard_e6
FROM jac WHERE jaccard >= {threshold}"""


def update_band_index(index: DataFrame, new: DataFrame) -> DataFrame:
    """Append a new batch's band rows into a stored dedup index and
    compact: the x89 durable-index lifecycle's write path.  Band rows
    are a pure function of the text, so re-ingesting a doc produces
    byte-identical rows — ``distinct`` makes the append idempotent.
    At scale this runs as one union + one (doc_id, band, bucket)
    groupBy over index-sized (not corpus-sized) relations; the caller
    overwrites the stored parquet with the result (small-file
    compaction falls out of the rewrite)."""
    return index.unionByName(
        band_table(minhash_signatures(shingles(new)))
    ).distinct()


# ---------------------------------------------------------------------------
# Fuzzy eval decontamination (the GPT-3 / PaLM near-duplicate screen):
# flag TRAIN documents that MinHash-LSH-collide with an EVAL document
# and verify with exact Jaccard.  Completes the decontamination
# matrix: x118 catches exact spans, x54 exact n-grams, x113 winnowed
# spans, x137 embedding paraphrases — this catches lexically-rewritten
# near-copies of benchmark documents, the case the exact-token screens
# miss and the embedding screen only sees if an encoder exists.
#
# Scale shape (100 TB): the eval split is BENCHMARK-sized, so its band
# table broadcasts and the train side's band relation never enters a
# shuffle for candidate generation (the x137 eval-constant
# discipline applied to the lexical domain).  Verification is
# candidate-bounded (train docs colliding with an eval bucket), and
# the best-neighbor election is a pair-keyed aggregate over that
# bounded relation — never corpus-wide.
# ---------------------------------------------------------------------------


def lsh_contamination(
    documents: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
    seed: str = "split-0",
    train_split: str = "train",
    eval_split: str = "test",
) -> DataFrame:
    """(doc_id, best_eval_id, jaccard_e6): train-split documents whose
    shingle set near-duplicates some eval-split document (splits via
    the standard md5 ``hash_split`` convention, as x54), with the
    highest-Jaccard eval neighbor (ties → smallest eval doc_id).
    Clean documents are absent — this is the quarantine list.

    The eval band table sits under an explicit ``broadcast()``: at
    production scale the eval split is a fixed benchmark, so candidate
    generation is a map-side hash join against a constant and the
    corpus-scale band relation never shuffles for it."""
    from .sampling import hash_split

    sp = hash_split(documents, "doc_id", seed=seed)
    train = sp.where(F.col("split") == train_split)
    ev = sp.where(F.col("split") == eval_split)
    # pure reuse of the incremental screen (new=train vs
    # existing=eval); the index= parameter carries the broadcast hint,
    # so one candidate/verify pipeline serves both ops — exactly as
    # the SQL twin reuses incremental_near_dups_sql
    pairs = incremental_near_dups(
        ev,
        train,
        threshold,
        index=F.broadcast(band_table(minhash_signatures(shingles(ev)))),
    )
    # best-neighbor election: max (jaccard_e6, -eval_id) == highest
    # Jaccard, ties to the smallest eval doc_id — one aggregate, no
    # window over the corpus
    best = pairs.groupBy("new_doc").agg(
        F.max(
            F.struct(
                F.col("jaccard_e6"), (-F.col("existing_doc")).alias("neg_b")
            )
        ).alias("w")
    )
    return best.select(
        F.col("new_doc").alias("doc_id"),
        (-F.col("w.neg_b")).alias("best_eval_id"),
        F.col("w.jaccard_e6").alias("jaccard_e6"),
    )


def lsh_contamination_sql(
    threshold: float = JACCARD_THRESHOLD,
    seed: str = "split-0",
    train_split: str = "train",
    eval_split: str = "test",
    docs_sql: str = "SELECT doc_id, text FROM documents",
) -> str:
    """DuckDB twin: the incremental near-dup pair query over the
    hash-split train/eval slices, then the identical best-neighbor
    election as a QUALIFY row_number."""
    from ..functions.sqltext import sql_quote
    from .sampling import hash_split_sql

    split_case = hash_split_sql("doc_id", seed=seed)
    base = (
        f"SELECT doc_id, text, {split_case} AS split FROM ({docs_sql})"
    )
    ev = f"SELECT doc_id, text FROM ({base}) WHERE split = {sql_quote(eval_split)}"
    tr = f"SELECT doc_id, text FROM ({base}) WHERE split = {sql_quote(train_split)}"
    return f"""
WITH pairs AS ({incremental_near_dups_sql(ev, tr, threshold)})
SELECT new_doc AS doc_id, existing_doc AS best_eval_id, jaccard_e6
FROM pairs
QUALIFY row_number() OVER (
    PARTITION BY new_doc ORDER BY jaccard_e6 DESC, existing_doc) = 1"""


# ---------------------------------------------------------------------------
# Near-dup clustering: pairs → connected components → canonical doc.
# The step a real curation pipeline runs after pair finding: transitive
# closure so that a chain a~b~c keeps ONE representative, not two.
# ---------------------------------------------------------------------------

CLUSTER_ROUNDS = 6  # ORACLE unroll depth only: min-label propagation
# is idempotent past the fixpoint, so an oracle unrolled to k levels
# matches the convergent Spark loop whenever k >= the pair-graph
# diameter (synthetic corpus: <= 2; real LSH graphs are shallow).
MAX_CLUSTER_ROUNDS = 50  # convergence-loop safety cap


def _pull_min(sym: DataFrame, labels: DataFrame) -> DataFrame:
    """ONE min-label round: labels pulled across the symmetric pair
    relation and min-merged with the current labels."""
    pulled = (
        sym.alias("e")
        .join(labels.alias("l"), F.col("e.doc_b") == F.col("l.doc_id"))
        .select(F.col("e.doc_a").alias("doc_id"), F.col("l.label").alias("label"))
    )
    return (
        labels.unionAll(pulled)
        .groupBy("doc_id")
        .agg(F.min("label").alias("label"))
    )


def cluster_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    *,
    max_rounds: int = MAX_CLUSTER_ROUNDS,
) -> DataFrame:
    """Transitive closure of an explicit near-dup pair relation to the
    FIXPOINT: min-label propagation with a zero-changes stop rule (the
    same stop rule as ``graph.connected_components_until``,
    operators.scale.label_fixpoint), so a chain of ANY length collapses
    fully — no fixed round budget to outgrow.

    Scale shape: the pair graph is a tiny fraction of the corpus (only
    LSH-verified near-dups), so the min-label iteration runs on the
    pair-member subset; the full corpus only appears in the final left
    join that fills in singletons.  Per round: one join into the
    (persisted) symmetric pair relation + one min-agg + ONE NARROW
    fingerprint aggregate for the stop test — the cc_converged
    count-first discipline on an O(|pairs|) relation.
    """
    pairs = pairs.select("doc_a", "doc_b").persist()
    # size the iteration's partitioning from the MEASURED pair count
    # (pairs is already persisted, so the count is one cheap action):
    # near-dup graphs are a sliver of the corpus, and iterating a
    # few-hundred-row relation across 32-partition shuffles is all
    # overhead.  ~100k pair rows per partition keeps tasks meaty.
    parts = adaptive_partitions(docs.sparkSession, pairs.count(), 100_000)
    sym = (
        pairs.unionAll(
            pairs.select(
                F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
            )
        )
        .repartition(parts, "doc_b")
        .persist()
    )
    # truncated, not persisted: a checkpoint frame is a flat leaf the
    # cache manager can never hand this round's state to a later
    # repetition of the query (honest reps — the r07 persist leak)
    labels = truncate_lineage(
        sym.select(F.col("doc_a").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
        .repartition(parts, "doc_id")
    )
    labels, _ = iterate(
        labels,
        partial(_pull_min, sym),
        rounds=max_rounds,
        stop=label_fixpoint(labels, "doc_id", "label"),
    )
    # labels is a checkpointed frame (materialized by the fingerprint
    # actions, lineage already cut); release the persisted staging
    # relations before returning.  Nothing label-related stays in the
    # CACHE MANAGER, so a warm repetition of the query re-pays
    # pair-finding honestly, as a fresh 100-TB run would.
    sym.unpersist()
    pairs.unpersist()
    return (
        docs.select("doc_id")
        .join(labels, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("label"), F.col("doc_id")).alias("canonical_id"),
        )
        .withColumn("is_canonical", F.col("doc_id") == F.col("canonical_id"))
    )


def dedup_clusters(
    docs: DataFrame,
    *,
    max_rounds: int = MAX_CLUSTER_ROUNDS,
    sha: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, canonical_id, is_canonical): every document mapped to
    the min doc_id of its near-duplicate cluster (transitive closure of
    :func:`near_dup_pipeline` pairs, run to the fixpoint); docs in no
    pair map to themselves.  ``sha``: caller-materialized shingle base
    (see :func:`near_dup_pipeline`)."""
    pairs = near_dup_pipeline(docs, sha)
    return cluster_pairs(docs, pairs, max_rounds=max_rounds)


def dedup_clusters_sql(docs_sql: str, rounds: int = CLUSTER_ROUNDS) -> str:
    """Oracle: the min-label recurrence unrolled ``rounds`` levels over
    the near-dup pair CTE (MATERIALIZED — each level is referenced by
    the next and by the final join).  Matches the convergent Spark loop
    whenever ``rounds`` >= the pair-graph diameter: extra levels are
    no-ops past the fixpoint (min-label is idempotent)."""
    nd = near_dup_sql(docs_sql)
    ctes = [
        f"nd AS MATERIALIZED ({nd})",
        "sym AS MATERIALIZED (SELECT doc_a, doc_b FROM nd "
        "UNION ALL SELECT doc_b AS doc_a, doc_a AS doc_b FROM nd)",
        "l0 AS MATERIALIZED (SELECT DISTINCT doc_a AS doc_id, doc_a AS label FROM sym)",
    ]
    for k in range(1, rounds + 1):
        ctes.append(f"""l{k} AS MATERIALIZED (
  SELECT doc_id, MIN(label) AS label FROM (
    SELECT doc_id, label FROM l{k - 1}
    UNION ALL
    SELECT e.doc_a AS doc_id, l.label
    FROM sym e JOIN l{k - 1} l ON l.doc_id = e.doc_b
  ) GROUP BY doc_id)""")
    body = ",\n".join(ctes)
    return f"""
WITH docs AS ({docs_sql}),
{body}
SELECT d.doc_id,
       COALESCE(l.label, d.doc_id) AS canonical_id,
       d.doc_id = COALESCE(l.label, d.doc_id) AS is_canonical
FROM docs d LEFT JOIN l{rounds} l USING (doc_id)"""


# ---------------------------------------------------------------------------
# Soft-dedup sampling weights (x122) — the "down-weight, don't drop"
# curation strategy: every doc gets weight 1/|its near-dup cluster|,
# so a cluster's total sampling mass equals one document's.  Keeps
# the diversity of near-duplicate variants while removing their
# frequency advantage — the standard soft alternative to canonical-
# only filtering when duplicates carry real variation (boilerplate
# frames around distinct payloads).
#
# Scale shape: inherits x33's fixpoint (pair graph only), then one
# cluster-size aggregate on the LABEL relation (corpus-sized rows but
# a one-column groupBy with map-side combine) and one join back.
# Weight is e6-quantized with the repo's floor(x + 0.5000001) rule.
# ---------------------------------------------------------------------------


def dedup_weights(
    docs: DataFrame,
    max_rounds: int = MAX_CLUSTER_ROUNDS,
    sha: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, canonical_id, cluster_size, weight_e6): soft-dedup
    sampling weight 1/cluster_size per document (singletons weigh
    1.0).  Sum of weights == number of distinct clusters."""
    labels = dedup_clusters(docs, max_rounds=max_rounds, sha=sha)
    sizes = labels.groupBy("canonical_id").agg(
        F.count("*").cast("long").alias("cluster_size")
    )
    return labels.join(sizes, "canonical_id").select(
        "doc_id",
        "canonical_id",
        "cluster_size",
        F.floor(F.lit(1e6) / F.col("cluster_size") + F.lit(0.5000001))
        .cast("long")
        .alias("weight_e6"),
    )


def dedup_weights_sql(docs_sql: str, rounds: int = CLUSTER_ROUNDS) -> str:
    """DuckDB twin of :func:`dedup_weights` over the unrolled cluster
    fixpoint."""
    return f"""
WITH clusters AS ({dedup_clusters_sql(docs_sql, rounds)}),
sizes AS (
  SELECT canonical_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
  FROM clusters GROUP BY canonical_id
)
SELECT c.doc_id, c.canonical_id, s.cluster_size,
       CAST(FLOOR(1e6 / s.cluster_size + 0.5000001) AS BIGINT) AS weight_e6
FROM clusters c JOIN sizes s USING (canonical_id)"""


def dedup_keep_best(
    docs: DataFrame,
    scores: DataFrame,
    max_rounds: int = MAX_CLUSTER_ROUNDS,
    sha: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, keep_id, is_kept, quality_e6): quality-aware canonical
    selection — per near-dup cluster KEEP the member with the highest
    ``quality_e6`` in ``scores`` (tie: min doc_id), instead of
    :func:`dedup_clusters`'s arbitrary min-id rule.  This is what a
    real curation pipeline ships: dedup decides WHICH text survives,
    and "lowest id" keeps a random variant while the cluster may
    contain a longer / cleaner one.

    Scale shape: the fixpoint runs on the pair graph only (inherited
    from :func:`cluster_pairs`); the argmax is ONE corpus-keyed window
    partitioned by canonical_id — uniform keys (clusters are tiny and
    most docs are singletons), so one exchange, no skew exposure short
    of a mega-cluster, which exact dedup (x1) owns.  ``scores`` joins
    on doc_id (uniform id-keyed shuffle; never broadcast — it is
    corpus-sized).

    ``scores`` need not cover every doc_id: the join is LEFT, and a
    doc absent from ``scores`` keeps a NULL quality ordered NULLS
    LAST, so it stays in the output and can only win its cluster if
    NO member is scored (then min doc_id decides, matching
    :func:`dedup_clusters`).  NULL — not a numeric sentinel — because
    scores may be signed (x129's classifier scores span [-1e6, 1e6]):
    a -1 sentinel would beat any negatively-scored member and
    silently flip the argmax.  Unlike an inner join, missing scores
    can never drop docs or crown by forfeit."""
    from pyspark.sql import Window

    cl = cluster_pairs(
        docs, near_dup_pipeline(docs, sha), max_rounds=max_rounds
    )
    scored = cl.join(
        scores.select("doc_id", "quality_e6"), "doc_id", "left"
    )
    w = Window.partitionBy("canonical_id").orderBy(
        F.desc_nulls_last("quality_e6"), F.asc("doc_id")
    )
    best = (
        scored.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .select("canonical_id", F.col("doc_id").alias("keep_id"))
    )
    return scored.join(best, "canonical_id").select(
        "doc_id",
        "keep_id",
        (F.col("doc_id") == F.col("keep_id")).alias("is_kept"),
        "quality_e6",
    )


def dedup_keep_best_sql(
    docs_sql: str, quality_sql: str, rounds: int = CLUSTER_ROUNDS
) -> str:
    """DuckDB twin of :func:`dedup_keep_best`: the unrolled cluster
    fixpoint LEFT-joined to the quality relation (unscored docs keep
    NULL, ordered NULLS LAST — same sign-safe rule as the Spark
    side), argmax via ROW_NUMBER."""
    return f"""
WITH cl AS ({dedup_clusters_sql(docs_sql, rounds)}),
q AS ({quality_sql}),
scored AS (
  SELECT cl.doc_id, cl.canonical_id, q.quality_e6
  FROM cl LEFT JOIN q USING (doc_id)
),
best AS (
  SELECT canonical_id, doc_id AS keep_id FROM (
    SELECT canonical_id, doc_id,
           ROW_NUMBER() OVER (PARTITION BY canonical_id
                              ORDER BY quality_e6 DESC NULLS LAST,
                                       doc_id ASC) AS rk
    FROM scored) WHERE rk = 1
)
SELECT s.doc_id, b.keep_id, s.doc_id = b.keep_id AS is_kept, s.quality_e6
FROM scored s JOIN best b USING (canonical_id)"""


# ---------------------------------------------------------------------------
# Paragraph-level exact dedup (CCNet-style): dedup at sub-document
# grain, keeping each distinct paragraph only at its globally-first
# occurrence.  Catches boilerplate repeated ACROSS documents that
# whole-doc dedup (x1) can never see.  Documents in this corpus are
# unpunctuated word streams, so "paragraph" = non-overlapping
# PARA_WORDS-token window (the grain is a parameter; on real corpora
# it would be the newline split).
# ---------------------------------------------------------------------------

PARA_WORDS = 10


def _para_window_texts(win: int = PARA_WORDS) -> F.Column:
    """array<string>: the document's non-overlapping ``win``-token
    windows (text form, final partial window included), from a `toks`
    column.  The ONE definition of the paragraph grain — the hot-set
    FIT (:func:`paragraphs` → md5) and the SCRUB
    (:func:`remove_boilerplate` → filter + reassemble) both build on
    it, so the fit and the rewrite can never drift onto different
    window rules (they would silently stop matching)."""
    return F.when(
        F.size("toks") > 0,
        F.expr(
            f"transform(sequence(0, (size(toks) - 1) div {win}), "
            f"i -> concat_ws(' ', slice(toks, i * {win} + 1, {win})))"
        ),
    ).otherwise(F.expr("CAST(array() AS array<string>)"))


def paragraphs(docs: DataFrame, win: int = PARA_WORDS) -> DataFrame:
    """(doc_id, para_idx, para_hash): md5 of each non-overlapping
    ``win``-token window, in document order.  Hashing BEFORE the
    shuffle means the wide stages move 32-byte digests, never text —
    the thing that makes this viable when paragraphs are kilobytes."""
    toked = docs.select(
        "doc_id", tokens(strip_non_alpha("text")).alias("toks")
    )
    return toked.select(
        "doc_id",
        F.posexplode(_para_window_texts(win)).alias("para_idx", "wtxt"),
    ).select(
        "doc_id",
        F.col("para_idx").cast("long").alias("para_idx"),
        F.md5("wtxt").alias("para_hash"),
    )


def paragraph_dedup(docs: DataFrame, win: int = PARA_WORDS) -> DataFrame:
    """(doc_id, n_paras, n_kept, n_dropped): global first-occurrence
    paragraph dedup — a paragraph survives only in the document where
    it first appears (min (doc_id, para_idx) over its hash group).

    Shuffle budget: one groupBy + one join, both keyed on the uniform
    md5 ``para_hash`` (skew-free by construction), then one doc_id
    aggregate.  Nothing in the wide stages carries text."""
    p = paragraphs(docs, win)
    winners = p.groupBy("para_hash").agg(
        F.min(F.struct("doc_id", "para_idx")).alias("w")
    )
    flagged = p.join(winners, "para_hash").select(
        "doc_id",
        (
            (F.col("doc_id") == F.col("w.doc_id"))
            & (F.col("para_idx") == F.col("w.para_idx"))
        )
        .cast("long")
        .alias("kept"),
    )
    return flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_paras"),
        F.sum("kept").alias("n_kept"),
        (F.count("*") - F.sum("kept")).alias("n_dropped"),
    )


def _para_toked_sql(docs_sql: str) -> str:
    """The shared DuckDB tokenization CTE body for the paragraph
    grain (one definition for fit, report, and scrub twins)."""
    return f"""
  SELECT doc_id,
         list_filter(string_split_regex(
           lower(trim(regexp_replace(text, '[^a-zA-Z]+', ' ', 'g'))), ' +'),
           t -> t != '') AS toks
  FROM ({docs_sql})"""


def _para_windows_sql(win: int, payload: str) -> str:
    """The shared DuckDB window builder — the SQL twin of
    :func:`_para_window_texts`: ``payload`` is an expression template
    over the window text ``{wtxt}`` and index ``i``, so every twin
    derives its per-window columns from the SAME grain definition
    (1-based inclusive list slice == Spark's slice(toks, start, len),
    final partial window included)."""
    wtxt = (
        f"array_to_string(toks[(i * {win} + 1):(i * {win} + {win})], ' ')"
    )
    return (
        f"CASE WHEN len(toks) > 0 THEN list_transform("
        f"range(0, (len(toks) - 1) // {win} + 1), "
        f"i -> {payload.format(wtxt=wtxt)}) ELSE [] END"
    )


def paragraph_dedup_sql(docs_sql: str, win: int = PARA_WORDS) -> str:
    """DuckDB twin: identical windows (the shared
    :func:`_para_windows_sql` grain), first-occurrence via a
    ROW_NUMBER window (equivalent to the min-struct group)."""
    wins = _para_windows_sql(
        win,
        "struct_pack(para_idx := CAST(i AS BIGINT), "
        "para_hash := md5({wtxt}))",
    )
    return f"""
WITH toked AS ({_para_toked_sql(docs_sql)}
),
p AS (
  SELECT doc_id, unnest({wins}, recursive := true)
  FROM toked
),
flagged AS (
  SELECT doc_id,
         CASE WHEN ROW_NUMBER() OVER (
             PARTITION BY para_hash ORDER BY doc_id, para_idx) = 1
           THEN 1 ELSE 0 END AS kept
  FROM p
)
SELECT doc_id,
       COUNT(*) AS n_paras,
       CAST(SUM(kept) AS BIGINT) AS n_kept,
       CAST(COUNT(*) - SUM(kept) AS BIGINT) AS n_dropped
FROM flagged
GROUP BY doc_id"""


# ---------------------------------------------------------------------------
# Boilerplate paragraph REMOVAL (the CCNet / RefinedWeb line-dedup
# step): a paragraph whose document frequency exceeds ``max_df`` is
# template boilerplate (cookie banners, navigation chrome, license
# headers) and is scrubbed from EVERY document, with the cleaned text
# reassembled from the surviving windows.  x60 (paragraph_dedup) only
# REPORTS the duplication; this op rewrites the corpus — the form a
# production pipeline actually ships downstream.
#
# Scale shape (100 TB): the wide work is ONE (para_hash, doc_id)
# distinct + ONE count per hash — both over 32-byte digests with
# map-side partial agg, both skew-proof (the distinct shuffles on the
# uniform composite key, and a boilerplate hash that covers the whole
# corpus contributes per-partition PARTIAL counts, never its row set,
# to the count exchange).  The hot-hash set itself is bounded by
# construction — |hot| ≤ distinct (hash, doc) pairs / max_df — so it
# collects to the driver as a bounded scalar (S4 channel, ``max_hot``
# fuse) and the removal pass is a fully NARROW doc-local rewrite:
# document text never enters any exchange.  If a corpus ever blows the
# fuse, the fallback is a window-grain broadcast anti-join + one
# doc_id-keyed reassembly shuffle (linear, but it moves text); the
# fuse makes the choice explicit instead of silent.
# ---------------------------------------------------------------------------

BOILER_MAX_DF = 3  # df floor: remove windows in MORE THAN this many docs
BOILER_DF_DEN = 500  # relative rule: hot when df > max(floor, n_docs/den)
BOILER_MAX_HOT = 5_000  # driver-literal fuse for the hot-hash set


def boilerplate_hot_hashes(
    docs: DataFrame,
    win: int = PARA_WORDS,
    max_df: int | None = None,
    max_hot: int = BOILER_MAX_HOT,
    df_den: int = BOILER_DF_DEN,
) -> list[str]:
    """The boilerplate set: para_hashes appearing in more than
    ``max_df`` DISTINCT documents, as a sorted driver-side list.

    ``max_df=None`` (the default) applies the RELATIVE rule
    max(BOILER_MAX_DF, n_docs // df_den): boilerplate is template
    chrome that covers a fixed FRACTION of the corpus, not a fixed
    count — a window shared by 100 of 500k documents is a duplicated
    passage (exact/near dedup's job, x1/x4), not boilerplate, and a
    fixed absolute threshold would misclassify every window of a
    replica-heavy corpus as hot.  The relative rule also bounds the
    hot set by construction: |hot| ≤ df_den · windows-per-doc.

    Two-phase on purpose: the (para_hash, doc_id) ``distinct`` shuffles
    on the uniform composite key and the per-hash count aggregates
    map-side partials — so a hash occurring in every document (the
    boiler-skew regime, DECADE_r11_skew) never concentrates its row
    set in one task.  A single groupBy(para_hash).countDistinct would
    instead ship every (hash, doc) pair of the hot key to one
    partition for the dedup phase.

    ``max_hot`` is the S4-channel fuse: the collect is limit-bounded
    to max_hot + 1 rows and raises rather than silently building an
    unbounded literal (|hot| ≤ window count / max_df by pigeonhole, so
    a production caller sizes the fuse from the x60 audit)."""
    if max_df is None:
        # S5 count scalar: the same integer both engines derive
        max_df = max(BOILER_MAX_DF, docs.count() // df_den)
    p = paragraphs(docs, win)
    hot = (
        p.select("para_hash", "doc_id")
        .distinct()
        .groupBy("para_hash")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") > max_df)
        .select("para_hash")
    )
    rows = hot.limit(max_hot + 1).collect()
    if len(rows) > max_hot:
        raise ValueError(
            f"boilerplate set exceeds max_hot={max_hot}; raise the fuse "
            "or scrub with the window-grain broadcast anti-join fallback"
        )
    return sorted(r["para_hash"] for r in rows)


def remove_boilerplate(
    docs: DataFrame, hot: list[str], win: int = PARA_WORDS
) -> DataFrame:
    """(doc_id, n_paras, n_removed, clean_text): every document with
    its hot windows scrubbed and the survivors rejoined in order.
    Fully narrow given the hot list — tokenize, window, filter, and
    reassemble are one doc-local projection, so this pass is
    shuffle-free at any corpus size (the z24 at-ingest property).
    ``clean_text`` is over NORMALIZED tokens (the corpus is an
    unpunctuated word stream; on real corpora the grain is the raw
    newline split and reassembly is byte-preserving)."""
    hot_lit = (
        F.array(*[F.lit(h) for h in hot])
        if hot
        else F.expr("CAST(array() AS array<string>)")
    )
    toked = docs.select(
        "doc_id", tokens(strip_non_alpha("text")).alias("toks")
    )
    w = toked.select(
        "doc_id", _para_window_texts(win).alias("wins")
    ).select(
        "doc_id",
        "wins",
        F.filter(
            F.col("wins"), lambda t: ~F.array_contains(hot_lit, F.md5(t))
        ).alias("kept"),
    )
    return w.select(
        "doc_id",
        F.size("wins").cast("long").alias("n_paras"),
        (F.size("wins") - F.size("kept")).cast("long").alias("n_removed"),
        F.concat_ws(" ", F.col("kept")).alias("clean_text"),
    )


def boilerplate_removal(
    docs: DataFrame,
    win: int = PARA_WORDS,
    max_df: int | None = None,
    max_hot: int = BOILER_MAX_HOT,
) -> DataFrame:
    """Fit the boilerplate set on ``docs`` and scrub ``docs`` with it —
    the batch composition of :func:`boilerplate_hot_hashes` (the one
    wide pass, digests only) and :func:`remove_boilerplate` (narrow)."""
    return remove_boilerplate(
        docs, boilerplate_hot_hashes(docs, win, max_df, max_hot), win
    )


def boilerplate_removal_sql(
    docs_sql: str, win: int = PARA_WORDS, max_df: int | None = None
) -> str:
    """DuckDB twin: identical windows and df rule (``None`` replays
    the relative threshold as GREATEST(floor, COUNT(*)//den) over the
    same toked relation); reassembly via string_agg ORDER BY para_idx
    (aggregate NULL-skip drops the hot windows); zero-token docs kept
    via the LEFT JOIN from toked."""
    thr = (
        str(max_df)
        if max_df is not None
        else (
            f"GREATEST({BOILER_MAX_DF}, "
            f"(SELECT COUNT(*) FROM toked) // {BOILER_DF_DEN})"
        )
    )
    wins = _para_windows_sql(
        win,
        "struct_pack(para_idx := CAST(i AS BIGINT), txt := {wtxt})",
    )
    return f"""
WITH toked AS ({_para_toked_sql(docs_sql)}
),
w AS (
  SELECT doc_id, unnest({wins}, recursive := true)
  FROM toked
),
hot AS (
  SELECT para_hash
  FROM (SELECT DISTINCT md5(txt) AS para_hash, doc_id FROM w)
  GROUP BY para_hash HAVING COUNT(*) > {thr}
),
flagged AS (
  SELECT doc_id, para_idx, txt,
         CASE WHEN md5(txt) IN (SELECT para_hash FROM hot)
           THEN 1 ELSE 0 END AS hot
  FROM w
),
agg AS (
  SELECT doc_id,
         COUNT(*) AS n_paras,
         CAST(SUM(hot) AS BIGINT) AS n_removed,
         string_agg(CASE WHEN hot = 0 THEN txt END, ' '
                    ORDER BY para_idx) AS ct
  FROM flagged GROUP BY doc_id
)
SELECT t.doc_id,
       COALESCE(n_paras, 0) AS n_paras,
       COALESCE(n_removed, 0) AS n_removed,
       COALESCE(ct, '') AS clean_text
FROM toked t LEFT JOIN agg USING (doc_id)"""


# ---------------------------------------------------------------------------
# Containment screen: |A∩B| / min(|A|, |B|) over shingle sets, on the
# LSH candidate pairs.  Asymmetric near-duplication — a short document
# quoted wholesale inside a long one — sits at containment ≈ 1 while
# its Jaccard can fall arbitrarily far below the x4 threshold, so this
# is the screen that catches subset-duplication Jaccard misses.
# ---------------------------------------------------------------------------

CONTAINMENT_THRESHOLD = 0.9


def containment_pairs(
    sh: DataFrame,
    candidates: DataFrame,
    threshold: float = CONTAINMENT_THRESHOLD,
) -> DataFrame:
    """(doc_a, doc_b, containment_e6): exact containment of the
    SMALLER shingle set within the pair's intersection, candidates
    only — same candidate-bounded cost envelope as
    :func:`verified_near_dups` (never all-pairs).

    The n_inter fan-out rides the pair's SMALLER shingle set (r11:
    the skew-decade run measured this join's |candidates| × shingles-
    per-doc intermediate as the whole pipeline's cost constant — the
    intersection is symmetric, so probing the big side's set with the
    small side's rows buys ~E[min]/E[|A|] of the volume for free;
    ties keep doc_a as the probe side, and the result is
    bit-identical to the SQL twin's s1-side fan-out)."""
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    na0 = sizes.alias("na0")
    nb0 = sizes.alias("nb0")
    small_first = F.col("na0.n_sh") <= F.col("nb0.n_sh")
    # n_min (the containment denominator) is carried through the
    # fan-out in-stage, so NO size join runs after the intersection —
    # the sizes subtree is computed exactly twice, same as before the
    # r11 rework, and the pair relation never re-shuffles for it.
    cand2 = (
        candidates.alias("c")
        .join(na0, F.col("na0.doc_id") == F.col("c.doc_a"))
        .join(nb0, F.col("nb0.doc_id") == F.col("c.doc_b"))
        .select(
            "c.doc_a",
            "c.doc_b",
            F.when(small_first, F.col("c.doc_a"))
            .otherwise(F.col("c.doc_b"))
            .alias("small_doc"),
            F.when(small_first, F.col("c.doc_b"))
            .otherwise(F.col("c.doc_a"))
            .alias("big_doc"),
            F.least(F.col("na0.n_sh"), F.col("nb0.n_sh")).alias("n_min"),
        )
    )
    ss = sh.alias("ss")
    sb = sh.alias("sb")
    inter = (
        cand2.join(ss, F.col("ss.doc_id") == F.col("small_doc"))
        .join(
            sb,
            (F.col("sb.doc_id") == F.col("big_doc"))
            & (F.col("sb.shingle") == F.col("ss.shingle")),
        )
        .groupBy("doc_a", "doc_b", "n_min")
        .agg(F.count("*").alias("n_inter"))
    )
    cont = inter.select(
        "doc_a",
        "doc_b",
        (F.col("n_inter").cast("double") / F.col("n_min")).alias(
            "containment"
        ),
    )
    return cont.where(F.col("containment") >= threshold).select(
        "doc_a",
        "doc_b",
        F.floor(F.col("containment") * 1e6 + F.lit(0.5000001))
        .cast("long")
        .alias("containment_e6"),
    )


RARE_SHINGLE_CAP = 5


def rare_shingle_candidates(
    sh: DataFrame, cap: int = RARE_SHINGLE_CAP
) -> DataFrame:
    """(doc_a < doc_b) pairs sharing at least one RARE shingle (one
    appearing in ≤ ``cap`` documents).  Minhash-LSH candidates are the
    WRONG blocking for containment: they fire at high Jaccard, and the
    pairs containment exists to catch (short doc swallowed by a long
    one) have Jaccard ≈ |A|/|B| — arbitrarily low.  A contained
    document keeps its rare shingles verbatim, so rare-feature
    blocking recalls them; the df-cap bounds the self-join fan-out at
    C(cap, 2) pairs per shingle regardless of corpus size (common
    shingles — the skew — generate nothing)."""
    df_counts = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    rare = df_counts.where(F.col("df") <= cap).select("shingle")
    rsh = sh.join(rare, "shingle")
    a = rsh.alias("a")
    b = rsh.alias("b")
    return (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )


def containment_pipeline(docs: DataFrame) -> DataFrame:
    """shingle → rare-shingle blocking → containment verify."""
    sh = shingles(docs)
    return containment_pairs(sh, rare_shingle_candidates(sh))


def containment_sql(
    docs_sql: str, threshold: float = CONTAINMENT_THRESHOLD
) -> str:
    sh_q = shingles_sql(docs_sql)
    return f"""
WITH sh AS ({sh_q}),
rare AS (
  SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= {RARE_SHINGLE_CAP}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sh a JOIN rare USING (shingle)
  JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
  FROM cand c
  JOIN sh s1 ON s1.doc_id = c.doc_a
  JOIN sh s2 ON s2.doc_id = c.doc_b AND s2.shingle = s1.shingle
  GROUP BY c.doc_a, c.doc_b
),
cont AS (
  SELECT i.doc_a, i.doc_b,
         CAST(i.n_inter AS DOUBLE) / LEAST(na.n_sh, nb.n_sh) AS containment
  FROM inter i
  JOIN sizes na ON na.doc_id = i.doc_a
  JOIN sizes nb ON nb.doc_id = i.doc_b
)
SELECT doc_a, doc_b,
       CAST(FLOOR(containment * 1e6 + 0.5000001) AS BIGINT) AS containment_e6
FROM cont WHERE containment >= {threshold}"""


# ---------------------------------------------------------------------------
# MinHash estimator audit: estimated Jaccard (matching signature
# components / K) vs the exact Jaccard, per candidate pair.  The x43
# pattern applied to dedup: quantify the sketch's error ON THIS CORPUS
# before trusting it to replace the exact verify stage at scale.
# ---------------------------------------------------------------------------


def minhash_jaccard_audit(
    sh: DataFrame, n_hashes: int = N_HASHES
) -> DataFrame:
    """(doc_a, doc_b, est_e6, exact_e6, abs_err_e6) for every LSH
    candidate pair.  est = #{j : sig_j(A) = sig_j(B)} / K — unbiased
    for Jaccard because each independent minhash collides with
    probability J(A,B).  Costs one signature pass + the same
    candidate-bounded intersection joins as the verify stage."""
    sigs = minhash_signatures(sh, n_hashes)
    cands = lsh_candidates(sigs, n_hashes=n_hashes)
    sa = sigs.alias("sa")
    sb = sigs.alias("sb")
    matches = sum(
        (F.col(f"sa.sig_{j}") == F.col(f"sb.sig_{j}")).cast("int")
        for j in range(n_hashes)
    )
    est = (
        cands.alias("c")
        .join(sa, F.col("sa.doc_id") == F.col("c.doc_a"))
        .join(sb, F.col("sb.doc_id") == F.col("c.doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.floor(
                matches.cast("double") / n_hashes * 1e6 + F.lit(0.5000001)
            )
            .cast("long")
            .alias("est_e6"),
        )
    )
    exact = verified_near_dups(sh, cands, threshold=0.0).select(
        "doc_a", "doc_b", F.col("jaccard_e6").alias("exact_e6")
    )
    # LEFT join + coalesce-to-0: the exact side's intersection join
    # only produces pairs sharing >= 1 shingle, so an inner join here
    # would silently drop zero-overlap LSH candidates — exactly the
    # pairs where the estimator's error is LARGEST (est > 0, exact =
    # 0), hiding the worst case from the audit.
    return (
        est.join(exact, ["doc_a", "doc_b"], "left")
        .select(
            "doc_a",
            "doc_b",
            "est_e6",
            F.coalesce(F.col("exact_e6"), F.lit(0).cast("long")).alias(
                "exact_e6"
            ),
        )
        .select(
            "doc_a",
            "doc_b",
            "est_e6",
            "exact_e6",
            F.abs(F.col("est_e6") - F.col("exact_e6")).alias("abs_err_e6"),
        )
    )


def minhash_jaccard_audit_sql(docs_sql: str, n_hashes: int = N_HASHES) -> str:
    sh_q = shingles_sql(docs_sql)
    sig_q = minhash_signatures_sql(sh_q, n_hashes)
    cand_q = lsh_candidates_sql(sig_q, n_hashes=n_hashes)
    match_sum = " + ".join(
        f"CASE WHEN sa.sig_{j} = sb.sig_{j} THEN 1 ELSE 0 END"
        for j in range(n_hashes)
    )
    return f"""
WITH sh AS ({sh_q}),
sigt AS ({sig_q.replace(f'({sh_q})', 'sh')}),
cand AS ({cand_q}),
est AS (
  SELECT c.doc_a, c.doc_b,
         CAST(FLOOR(CAST({match_sum} AS DOUBLE) / {n_hashes} * 1e6 + 0.5000001)
              AS BIGINT) AS est_e6
  FROM cand c
  JOIN sigt sa ON sa.doc_id = c.doc_a
  JOIN sigt sb ON sb.doc_id = c.doc_b
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
  FROM cand c
  JOIN sh s1 ON s1.doc_id = c.doc_a
  JOIN sh s2 ON s2.doc_id = c.doc_b AND s2.shingle = s1.shingle
  GROUP BY c.doc_a, c.doc_b
),
exact AS (
  SELECT i.doc_a, i.doc_b,
         CAST(FLOOR(CAST(i.n_inter AS DOUBLE) / (na.n_sh + nb.n_sh - i.n_inter)
                    * 1e6 + 0.5000001) AS BIGINT) AS exact_e6
  FROM inter i
  JOIN sizes na ON na.doc_id = i.doc_a
  JOIN sizes nb ON nb.doc_id = i.doc_b
)
SELECT e.doc_a, e.doc_b, e.est_e6,
       CAST(COALESCE(x.exact_e6, 0) AS BIGINT) AS exact_e6,
       ABS(e.est_e6 - CAST(COALESCE(x.exact_e6, 0) AS BIGINT)) AS abs_err_e6
FROM est e LEFT JOIN exact x ON e.doc_a = x.doc_a AND e.doc_b = x.doc_b"""


# ---------------------------------------------------------------------------
# Dedup-method agreement audit: MinHash-Jaccard (x4) vs SimHash (x14)
# pair sets, full-outer compared.  The method-selection evidence a
# curation team needs: how much do the two screens agree on THIS
# corpus, and what does each find that the other misses?
# ---------------------------------------------------------------------------


def dedup_method_audit(docs: DataFrame) -> DataFrame:
    """(verdict, n_pairs): 'both' / 'jaccard_only' / 'simhash_only'
    counts over the union of the two screens' pair sets.  Runs the two
    existing pipelines (each candidate-bounded) plus one pair-keyed
    full-outer join — no new quadratic surface."""
    jac = near_dup_pipeline(docs).select("doc_a", "doc_b")
    sim = simhash_near_dups(simhash(docs)).select("doc_a", "doc_b")
    joined = jac.withColumn("in_j", F.lit(1)).join(
        sim.withColumn("in_s", F.lit(1)), ["doc_a", "doc_b"], "full_outer"
    )
    verdict = (
        F.when(F.col("in_j").isNotNull() & F.col("in_s").isNotNull(), "both")
        .when(F.col("in_j").isNotNull(), "jaccard_only")
        .otherwise("simhash_only")
    )
    return (
        joined.select(verdict.alias("verdict"))
        .groupBy("verdict")
        .agg(F.count("*").alias("n_pairs"))
    )


def dedup_method_audit_sql(docs_sql: str) -> str:
    jac_q = near_dup_sql(docs_sql)
    sim_q = simhash_near_dups_sql(simhash_sql(docs_sql))
    return f"""
WITH jac AS ({jac_q}),
sim AS ({sim_q}),
joined AS (
  SELECT CASE WHEN j.doc_a IS NOT NULL AND s.doc_a IS NOT NULL THEN 'both'
              WHEN j.doc_a IS NOT NULL THEN 'jaccard_only'
              ELSE 'simhash_only' END AS verdict
  FROM jac j FULL OUTER JOIN sim s
    ON j.doc_a = s.doc_a AND j.doc_b = s.doc_b
)
SELECT verdict, COUNT(*) AS n_pairs FROM joined GROUP BY verdict"""


# ---------------------------------------------------------------------------
# Threshold sweep: how aggressive is the dedup at each Jaccard cut?
# ---------------------------------------------------------------------------

THRESHOLD_GRID_E6 = [500_000, 600_000, 700_000, 800_000, 900_000]


def dedup_threshold_curve(sh: DataFrame, grid=None) -> DataFrame:
    """(thr_e6, n_pairs, n_docs): surviving near-dup pairs and affected
    documents at each candidate Jaccard threshold — the evidence for
    CHOOSING the cut before running the destructive dedup at scale.
    One verify pass at threshold 0 (the same candidate-bounded joins
    as x4), then the tiny threshold grid broadcasts onto the pair
    relation: the sweep costs one pipeline run, not one per point.
    Every grid point yields a row — a cut that kills all pairs reports
    (0, 0) rather than vanishing — and the internal pair cache is
    released before returning (the grid-sized result is eagerly
    materialized first)."""
    grid = grid if grid is not None else THRESHOLD_GRID_E6
    spark = sh.sparkSession
    cands = lsh_candidates(minhash_signatures(sh))
    pairs = verified_near_dups(sh, cands, threshold=0.0).persist()
    thr = spark.createDataFrame([(t,) for t in grid], "thr_e6 long")
    pair_counts = (
        pairs.join(F.broadcast(thr), F.col("jaccard_e6") >= F.col("thr_e6"))
        .groupBy("thr_e6")
        .agg(F.count("*").alias("n_pairs"))
    )
    doc_counts = (
        pairs.select(
            "jaccard_e6",
            F.explode(F.array("doc_a", "doc_b")).alias("d"),
        )
        .join(F.broadcast(thr), F.col("jaccard_e6") >= F.col("thr_e6"))
        .groupBy("thr_e6")
        .agg(F.countDistinct("d").alias("n_docs"))
    )
    # left-join the threshold spine so zero-pair cuts still report
    out = (
        thr.join(pair_counts, "thr_e6", "left")
        .join(doc_counts, "thr_e6", "left")
        .select(
            "thr_e6",
            F.coalesce("n_pairs", F.lit(0)).alias("n_pairs"),
            F.coalesce("n_docs", F.lit(0)).alias("n_docs"),
        )
        # grid-sized: eager-materialize, then drop the pair cache
        .localCheckpoint(eager=True)
    )
    pairs.unpersist()
    return out


def dedup_threshold_curve_sql(docs_sql: str, grid=None) -> str:
    """DuckDB twin of :func:`dedup_threshold_curve`."""
    grid = grid if grid is not None else THRESHOLD_GRID_E6
    values = ", ".join(f"({t})" for t in grid)
    return f"""
WITH pairs AS ({near_dup_sql(docs_sql, threshold=0.0)}),
thr(thr_e6) AS (VALUES {values}),
pc AS (
  SELECT t.thr_e6, COUNT(*) AS n_pairs
  FROM pairs p JOIN thr t ON p.jaccard_e6 >= t.thr_e6
  GROUP BY t.thr_e6
),
dc AS (
  SELECT t.thr_e6, COUNT(DISTINCT d) AS n_docs
  FROM (SELECT jaccard_e6, unnest([doc_a, doc_b]) AS d FROM pairs) p
  JOIN thr t ON p.jaccard_e6 >= t.thr_e6
  GROUP BY t.thr_e6
)
SELECT CAST(thr.thr_e6 AS BIGINT) AS thr_e6,
       CAST(COALESCE(pc.n_pairs, 0) AS BIGINT) AS n_pairs,
       CAST(COALESCE(dc.n_docs, 0) AS BIGINT) AS n_docs
FROM thr LEFT JOIN pc ON thr.thr_e6 = pc.thr_e6
         LEFT JOIN dc ON thr.thr_e6 = dc.thr_e6"""


# ---------------------------------------------------------------------------
# Dedup rate per ingest window (x95): doc_ids are ingest-ordered, so
# doc_id div W buckets are arrival batches — the drift dashboard that
# tells a curation team WHEN duplication spiked (a re-crawled domain,
# a bad ingest job), not just how much exists overall.  Exact-dup
# evidence only (md5 digest, global-first occurrence keeps), so the
# whole op is two uniform-key groupBys + one window-keyed aggregate.
# ---------------------------------------------------------------------------

INGEST_WINDOW = 250


def window_dedup_rate(docs: DataFrame, window: int = INGEST_WINDOW) -> DataFrame:
    """(win, n_docs, n_dups, dup_rate_e6): per ingest window, docs
    whose md5(text) digest already occurred at a smaller doc_id."""
    d = docs.select(
        "doc_id",
        (F.col("doc_id") / window).cast("long").alias("win"),
        F.md5(F.col("text")).alias("digest"),
    )
    first = d.groupBy("digest").agg(F.min("doc_id").alias("first_id"))
    flagged = d.join(first, "digest").select(
        "win", (F.col("doc_id") != F.col("first_id")).cast("long").alias("is_dup")
    )
    return flagged.groupBy("win").agg(
        F.count("*").alias("n_docs"),
        F.sum("is_dup").alias("n_dups"),
        F.floor(
            F.sum("is_dup").cast("double") / F.count("*") * 1e6
            + F.lit(0.5000001)
        )
        .cast("long")
        .alias("dup_rate_e6"),
    )


def window_dedup_rate_sql(
    docs_sql: str, window: int = INGEST_WINDOW
) -> str:
    return f"""
WITH d AS (
  SELECT doc_id, doc_id // {window} AS win, md5(text) AS digest
  FROM ({docs_sql})
),
first AS (SELECT digest, MIN(doc_id) AS first_id FROM d GROUP BY digest)
SELECT win,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN d.doc_id != f.first_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dups,
       CAST(FLOOR(CAST(SUM(CASE WHEN d.doc_id != f.first_id THEN 1 ELSE 0 END)
                       AS DOUBLE) / COUNT(*) * 1e6 + 0.5000001) AS BIGINT)
         AS dup_rate_e6
FROM d JOIN first f ON d.digest = f.digest
GROUP BY win"""


# ---------------------------------------------------------------------------
# Exact set-similarity join via prefix filtering (x108) — the
# DETERMINISTIC complement to MinHash/LSH (x2-x4): every pair with
# Jaccard >= t is emitted, no probabilistic recall loss.  The classic
# AllPairs/PPJoin prefix-filter theorem: order each doc's shingle set
# globally rarest-first; two sets with J >= t MUST share a shingle
# within each other's first |S| - ceil(t*|S|) + 1 elements, so joining
# only on prefix shingles is complete.  Scale shape: candidate
# generation degree is bounded by the df of the RAREST shingles of each
# doc (a common shingle only enters prefixes of docs made entirely of
# common shingles), a ~|prefix|/|set| reduction over the full inverted
# index with zero recall loss; the verify stage is pair-keyed and
# exact-integer (10*inter >= 7*union — no float thresholding).
#
# Skew (VERDICT r06 #3): a boilerplate-heavy corpus CAN put one hot
# shingle into f prefixes (docs made entirely of common shingles), and
# an unsalted self-join would emit all f² candidates on a single key.
# Exactness makes those candidates unavoidable (if the docs really are
# near-identical the true output is quadratic), so the fix is to
# DISTRIBUTE the work, not drop it: prefix entries of shingles with
# df > SETSIM_DF_CAP are salted into nb = ceil(df/cap) buckets by doc
# hash and self-joined on (shingle, salt_p, salt_q) with the classic
# triangle enumeration — the p-side replicates each entry to buckets
# q >= its own, the q-side to buckets p <= its own, so every unordered
# pair meets on EXACTLY one (salt_p, salt_q) key and no key ever
# carries more than cap² candidate pairs.  Completeness is untouched
# (every prefix-sharing pair is still generated — the salt only
# partitions the key space), which is why the oracle can stay
# algorithm-independent: DuckDB computes the SAME pair set from the
# FULL inverted index (any-shared-shingle candidates), so the hash
# gate proves the salted prefix filter dropped nothing.  Both paths
# also apply the exactness-preserving AllPairs length filter
# (J >= t  ⇒  den·min_sz >= num·max_sz).
# ---------------------------------------------------------------------------

SETSIM_NUM = 7  # threshold t = SETSIM_NUM / SETSIM_DEN = 0.7
SETSIM_DEN = 10
SETSIM_DF_CAP = 64  # max prefix entries per candidate-join key side


def _setsim_prefix(
    docs: DataFrame, k: int, num: int, den: int, s: DataFrame | None = None
) -> DataFrame:
    """(doc_id, shingle, df, sz, pos): the rarest-first prefix
    entries — shingle rank <= sz - ceil(t*sz) + 1 within each doc —
    with each entry's 1-based rank ``pos`` in the doc's full
    (df, shingle) order (the prefix is exactly the first ``plen``
    ranks, so the slice index IS the rank).  ``pos`` feeds the PPJoin
    positional filter in :func:`_setsim_candidates`.

    AGGREGATE-based prefix rank (r12, guide §2.4): one doc-keyed
    collect_list of (df, shingle) structs, sorted PER DOC with
    sort_array and sliced to the prefix length, then exploded.  The
    r08-r11 shape was two stacked windows over the gram relation
    (count + row_number), which cost a full sort of the 30M-row
    relation (at sf1) under the window machinery and planted the
    window subtree four times in the candidate join's branches.  The
    aggregate form shuffles the same bytes (hash by doc_id) but sorts
    only within each doc's own array — skew-free, a doc's grams are
    bounded by its own length — and emits ONLY the prefix rows
    (~|prefix|/|set| of the relation) instead of filtering after
    ranking.  Row set is identical: sort_array orders structs
    lexicographically by (df, shingle), exactly the old window's
    orderBy, and (df, shingle) pairs are unique within a doc, so the
    slice keeps precisely the rows with rk <= p.

    df deliberately STAYS an aggregate + join-back, NOT a window: the
    dfreq groupBy combines map-side, so a boilerplate shingle
    appearing in 10% of a 100-TB corpus costs each partition a
    partial count — a partitionBy(shingle) window would instead ship
    every one of its rows to one partition (the exact hot-key failure
    the salted candidate join downstream exists to prevent)."""
    if s is None:
        s = shingles(docs, k)  # already DISTINCT (doc_id, shingle)
    dfreq = s.groupBy("shingle").agg(F.count("*").alias("df"))
    per_doc = (
        s.join(dfreq, "shingle")
        .groupBy("doc_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("df", "shingle"))
            ).alias("arr")
        )
    )
    sz = F.size("arr")
    # prefix length p = sz - ceil(t*sz) + 1, integer ceil
    plen = sz - F.floor((F.lit(num) * sz + (den - 1)) / den) + 1
    return per_doc.select(
        "doc_id",
        F.posexplode(F.slice("arr", F.lit(1), plen.cast("int"))).alias(
            "pos0", "e"
        ),
        sz.cast("long").alias("sz"),
    ).select(
        "doc_id",
        F.col("e.shingle").alias("shingle"),
        F.col("e.df").alias("df"),
        "sz",
        (F.col("pos0") + 1).cast("long").alias("pos"),
    )


def _setsim_candidates(
    pref: DataFrame, num: int, den: int, df_cap: int = SETSIM_DF_CAP
) -> DataFrame:
    """(doc_a, doc_b, salt_p, salt_q) candidate pairs, pre-distinct.

    Rare shingles (df <= df_cap) join directly (per-key pairs <=
    df_cap²); hot shingles go through the salted triangle self-join so
    per-(shingle, salt_p, salt_q)-key pairs are also <= df_cap².  Two
    exactness-preserving prunes run on every candidate entry BEFORE
    the expensive verify stage:

    - the AllPairs length filter (J >= t ⇒ den·min_sz >= num·max_sz);
    - the PPJoin positional filter (r12, Xiao et al.): an entry shared
      at ranks (pos_a, pos_b) bounds the overlap by
      ub = 1 + min(sz_a - pos_a, sz_b - pos_b) — only elements ranked
      AFTER the shared one (in the common global (df, shingle) order)
      can still match — and J >= t ⇔ inter·(den+num) >= num·(sz_a+sz_b)
      needs inter <= ub to be achievable.  A pair is kept when ANY of
      its shared prefix entries passes; completeness: the globally
      minimal shared element of a true pair is first-in-order in BOTH
      docs (local order = global order restricted), hence inside both
      prefixes by the prefix theorem, and for it the bound is exact-
      valid (no shared element precedes it), so a true pair always
      survives via that entry.  Measured at sf0.1: verify-stage input
      pairs 383k -> 153k at t=1/2, 126k -> 40k at t=7/10."""
    len_ok = F.lit(den) * F.least(
        F.col("a.sz"), F.col("b.sz")
    ) >= F.lit(num) * F.greatest(F.col("a.sz"), F.col("b.sz"))
    ub = F.lit(1) + F.least(
        F.col("a.sz") - F.col("a.pos"), F.col("b.sz") - F.col("b.pos")
    )
    pos_ok = ub * F.lit(den + num) >= F.lit(num) * (
        F.col("a.sz") + F.col("b.sz")
    )
    rare = pref.where(F.col("df") <= df_cap)
    cand_rare = (
        rare.alias("a")
        .join(rare.alias("b"), "shingle")
        .where((F.col("a.doc_id") < F.col("b.doc_id")) & len_ok & pos_ok)
        .select(
            "shingle",
            F.lit(-1).alias("salt_p"),
            F.lit(-1).alias("salt_q"),
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
    )
    hot = pref.where(F.col("df") > df_cap).withColumn(
        "nb", F.ceil(F.col("df") / df_cap).cast("int")
    )
    hot = hot.withColumn(
        "bkt", F.pmod(F.xxhash64("doc_id"), F.col("nb")).cast("int")
    )
    # triangle enumeration: entry in bucket b serves buckets q >= b as
    # the p-side and buckets p <= b as the q-side; pair (x, y) meets on
    # exactly the key (min(b_x, b_y), max(b_x, b_y)).
    hot_p = hot.select(
        "shingle",
        "doc_id",
        "sz",
        "pos",
        F.col("bkt").alias("salt_p"),
        F.explode(F.sequence(F.col("bkt"), F.col("nb") - 1)).alias("salt_q"),
    )
    hot_q = hot.select(
        "shingle",
        "doc_id",
        "sz",
        "pos",
        F.explode(F.sequence(F.lit(0), F.col("bkt"))).alias("salt_p"),
        F.col("bkt").alias("salt_q"),
    )
    # cross-bucket keys (p < q) see each pair once by construction;
    # same-bucket keys (p == q) see both orientations — keep one.
    once = (F.col("salt_p") != F.col("salt_q")) | (
        F.col("a.doc_id") < F.col("b.doc_id")
    )
    cand_hot = (
        hot_p.alias("a")
        .join(hot_q.alias("b"), ["shingle", "salt_p", "salt_q"])
        .where(
            (F.col("a.doc_id") != F.col("b.doc_id")) & once & len_ok & pos_ok
        )
        .select(
            "shingle",
            "salt_p",
            "salt_q",
            F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_a"),
            F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_b"),
        )
    )
    return cand_rare.unionAll(cand_hot)


def setsim_join(
    docs: DataFrame,
    k: int = 3,
    num: int = SETSIM_NUM,
    den: int = SETSIM_DEN,
    df_cap: int = SETSIM_DF_CAP,
    sha: DataFrame | None = None,
) -> DataFrame:
    """(doc_a, doc_b, inter, sz_a, sz_b, jacc_e6): all unordered doc
    pairs whose k-shingle sets have Jaccard >= num/den, by
    prefix-filtered AllPairs join (hot shingles salted, see above).

    ``sha``: optional caller-materialized :func:`shingle_arrays`
    relation (MUST have been built with the same ``k``) — the gram
    base pass (tokenize + explode) is the linear bulk of this operator
    at scale, and every consumer (df counts, prefix ranks, intersect
    join) derives from it, so a persisted base is paid once."""
    if sha is not None:
        s = sha.select("doc_id", F.explode("sh").alias("shingle"))
    else:
        s = shingles(docs, k)  # already DISTINCT (doc_id, shingle)
    pref = _setsim_prefix(docs, k, num, den, s=s)
    cand = (
        _setsim_candidates(pref, num, den, df_cap)
        .select("doc_a", "doc_b")
        .distinct()
    )
    if sha is not None:
        # doc-level array verify (the verified_near_dups_arr idiom,
        # guide §2.3: shuffle one row per doc, not one per (doc,
        # shingle)): the exploded form joined the full gram relation
        # TWICE and re-aggregated it, which profiled as the bulk of
        # the operator; arrays are distinct per doc, so
        # size(array_intersect) == the gram-join intersection count
        # and size(sh) == the old per-doc size aggregate — identical
        # integers, identical jacc_e6.
        a = sha.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
        b = sha.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
        sized = (
            cand.join(a, "doc_a")
            .join(b, "doc_b")
            .select(
                "doc_a",
                "doc_b",
                F.size(F.array_intersect("sh_a", "sh_b"))
                .cast("long")
                .alias("inter"),
                F.size("sh_a").cast("long").alias("sz_a"),
                F.size("sh_b").cast("long").alias("sz_b"),
            )
            .withColumn("uni", F.col("sz_a") + F.col("sz_b") - F.col("inter"))
        )
    else:
        sz = s.groupBy("doc_id").agg(F.count("*").alias("sz"))
        inter = (
            cand.join(s.withColumnRenamed("doc_id", "doc_a"), "doc_a")
            .join(s.withColumnRenamed("doc_id", "doc_b"), ["doc_b", "shingle"])
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("inter"))
        )
        sized = (
            inter.join(sz.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "sz_a"), "doc_a")
            .join(sz.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "sz_b"), "doc_b")
            .withColumn("uni", F.col("sz_a") + F.col("sz_b") - F.col("inter"))
        )
    return (
        sized.where(
            F.lit(den) * F.col("inter") >= F.lit(num) * F.col("uni")
        )
        .select(
            "doc_a",
            "doc_b",
            "inter",
            "sz_a",
            "sz_b",
            F.floor(
                F.col("inter").cast("double") / F.col("uni") * 1e6
                + F.lit(0.5000001)
            )
            .cast("long")
            .alias("jacc_e6"),
        )
    )


def setsim_join_sql(
    docs_sql: str,
    k: int = 3,
    num: int = SETSIM_NUM,
    den: int = SETSIM_DEN,
) -> str:
    """Algorithm-independent oracle: full inverted-index candidates
    (ANY shared shingle) + the identical exact-integer threshold."""
    return f"""
WITH s AS ({shingles_sql(docs_sql, k)}),
sz AS (SELECT doc_id, COUNT(*) AS sz FROM s GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
  FROM s a JOIN s b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT i.doc_a, i.doc_b, i.inter, za.sz AS sz_a, zb.sz AS sz_b,
       CAST(FLOOR(CAST(i.inter AS DOUBLE)
                  / (za.sz + zb.sz - i.inter) * 1e6 + 0.5000001) AS BIGINT)
         AS jacc_e6
FROM inter i
JOIN sz za ON za.doc_id = i.doc_a
JOIN sz zb ON zb.doc_id = i.doc_b
WHERE {den} * i.inter >= {num} * (za.sz + zb.sz - i.inter)"""


# ---------------------------------------------------------------------------
# Cross-source duplication matrix (x120) — which sources duplicate
# which: every verified near-dup pair annotated with the two docs'
# sources, aggregated to one row per unordered source pair.  The
# curation question this answers ("is source B a scrape of source A?
# how much of the news crawl is mirrored in the web crawl?") decides
# which whole SOURCES to drop or downweight before any per-doc dedup
# runs — at 100 TB, dropping a mirrored source is free; deduping it
# pairwise is not.
#
# Scale shape: rides the existing candidate-bounded near-dup pair
# relation (≪ corpus); source attribution is two id-keyed shuffle
# joins of the pair relation against the (doc_id, source) projection
# (uniform keys — never broadcast the corpus-scale source map); the
# output is bounded by |sources|² regardless of corpus size.
# Augmented copies inherit their base doc's source via the id-offset
# arithmetic (doc_id % NEAR_DUP_OFFSET maps both the +1e9 and +2e9
# copies back; both engines share the constant).
# ---------------------------------------------------------------------------


def cross_source_dups(
    docs_with_source: DataFrame, pairs: DataFrame
) -> DataFrame:
    """(source_a, source_b, n_pairs): unordered source pairs ranked by
    how many verified near-dup pairs cross them (source_a <= source_b
    lexicographically; same-source dups land on the diagonal)."""
    src = docs_with_source.select("doc_id", "source")
    attributed = (
        pairs.select(
            F.pmod(F.col("doc_a"), F.lit(NEAR_DUP_OFFSET)).alias("base_a"),
            F.pmod(F.col("doc_b"), F.lit(NEAR_DUP_OFFSET)).alias("base_b"),
        )
        .join(
            src.select(
                F.col("doc_id").alias("base_a"),
                F.col("source").alias("sa"),
            ),
            "base_a",
        )
        .join(
            src.select(
                F.col("doc_id").alias("base_b"),
                F.col("source").alias("sb"),
            ),
            "base_b",
        )
    )
    return (
        attributed.select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count("*").cast("long").alias("n_pairs"))
    )


def cross_source_dups_sql(docs_sql: str) -> str:
    """DuckDB twin of :func:`cross_source_dups` over the near-dup
    pairs of the augmented corpus (sources from the raw documents
    table via the same id-offset arithmetic)."""
    return f"""
WITH pairs AS ({near_dup_sql(docs_sql)}),
attributed AS (
  SELECT da.source AS sa, db.source AS sb
  FROM pairs p
  JOIN documents da ON da.doc_id = p.doc_a % {NEAR_DUP_OFFSET}
  JOIN documents db ON db.doc_id = p.doc_b % {NEAR_DUP_OFFSET}
)
SELECT LEAST(sa, sb) AS source_a, GREATEST(sa, sb) AS source_b,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM attributed GROUP BY 1, 2"""


# ---------------------------------------------------------------------------
# LSH band-config frontier (x119) — VERDICT r07 #6: generalize the
# one-config recall audit (x116) into the (bands, rows) sweep you run
# BEFORE committing a banding to a 100-TB dedup pass.  For every way
# of slicing the same 12-minhash signature into bands, measure BOTH
# sides of the S-curve trade: candidate volume (what you pay) and
# recall against the exact Jaccard>=1/2 truth (what you get).  More
# bands × fewer rows → steeper collision probability → higher recall
# AND more candidates; the frontier row set makes the elbow visible.
#
# Scale shape: signatures are computed ONCE (one scan + one groupBy);
# every config's band keys are projected from the SAME sig row and
# exploded — one tall (config, band, bucket) relation, NOT one plan
# branch per config (a union of per-config pipelines would rescan the
# corpus |configs| times).  The bucket self-join is the x3 candidate
# join with the config id folded into the join key, so configs never
# cross-collide; the truth side is the salted AllPairs join (itself
# candidate-bounded, x108).  Output is |configs| rows.
# ---------------------------------------------------------------------------

# every divisor slicing of the 12-hash signature; n_bands is unique
# per row and doubles as the config key
FRONTIER_CONFIGS: tuple[tuple[int, int], ...] = (
    (2, 6), (3, 4), (4, 3), (6, 2), (12, 1),
)


FRONTIER_MAX_BUCKET = 1024  # see lsh_band_frontier docstring

# deterministic doc-sample rule shared by the Spark frontier and its
# DuckDB twin: keep a doc iff the first 4 hex digits of
# md5(seed|doc_id) fall below round(65536/sample_den).  The bucket is
# zero-padded to 5 chars before the compare (the stratified_sample
# boundary fix, sampling.py): sample_den=1's threshold is '10000',
# which a raw 4-char prefix would compare against LEXICOGRAPHICALLY
# and silently keep only ~1/16 of the corpus.
FRONTIER_SAMPLE_SEED = "frontier-truth"
_FRONTIER_HEX = 4


def _frontier_sample_hex(sample_den: int) -> str:
    return format(
        round(16**_FRONTIER_HEX / sample_den), f"0{_FRONTIER_HEX + 1}x"
    )


def _frontier_sample_pred(sample_den: int, sample_seed: str) -> F.Column:
    return (
        F.concat(
            F.lit("0"),
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|",
                        F.lit(sample_seed),
                        F.col("doc_id").cast("string"),
                    )
                ),
                1,
                _FRONTIER_HEX,
            ),
        )
        < F.lit(_frontier_sample_hex(sample_den))
    )


def frontier_sample(
    df: DataFrame,
    sample_den: int,
    sample_seed: str = FRONTIER_SAMPLE_SEED,
) -> DataFrame:
    """The deterministic 1/sample_den document sample the frontier
    audit runs on when ``sample_den`` is set — exposed so a caller can
    pre-filter the relation it materializes as the shared shingle base
    (tokenizing only the sample, not the corpus).  Works on any frame
    with a ``doc_id`` column; pure md5, so both engines and every
    retry draw the identical sample."""
    return df.where(_frontier_sample_pred(sample_den, sample_seed))


def lsh_band_frontier(
    docs: DataFrame,
    configs: tuple[tuple[int, int], ...] = FRONTIER_CONFIGS,
    num: int = 1,
    den: int = 2,
    sha: DataFrame | None = None,
    max_bucket: int = FRONTIER_MAX_BUCKET,
    sample_den: int | None = None,
    sample_seed: str = FRONTIER_SAMPLE_SEED,
) -> DataFrame:
    """(n_bands, rows_per_band, n_candidates, n_oversized, n_exact,
    n_found, recall_e6): one row per banding config of the 12-hash
    MinHash signature, recall measured against the exact AllPairs
    truth at Jaccard >= num/den (x116's convention, swept).  ``sha``:
    caller-materialized shingle base shared by the signature side AND
    the AllPairs truth side (see :func:`near_dup_pipeline`).

    ``max_bucket`` is MANDATORY armor, not an option: loose bandings
    ((12,1) — one minhash per band) put every doc sharing one popular
    min-shingle into a single bucket, and that bucket grows with the
    corpus (measured at sf10: 41,708 docs in one (12,1) bucket —
    Σ C(sz,2) over the config is 1.03e9 pairs, and enumerating one
    such bucket's pairs in a task OOMed a 24g heap).  Buckets above
    the cap are EXCLUDED from enumeration, counted per config in
    ``n_oversized``, and the oracle replays the identical rule — so a
    config that needs mega-buckets shows a nonzero exclusion column
    and a correspondingly honest (lower) recall, which is itself the
    audit's verdict on that config at scale.  At the driver-gate and
    bench scales (sf <= 0.1) every bucket is far below the default
    cap, so the column reads 0 and the counts equal the uncapped
    ones.

    ``sample_den`` is the 100-TB answer to the audit's one remaining
    super-linear term: the exact AllPairs TRUTH side.  When set, the
    ENTIRE audit (signatures, bandings, and truth) runs over the
    deterministic 1/sample_den document sample md5(sample_seed|doc_id)
    — a sampled sub-corpus drawn uniformly at the DOCUMENT grain, so
    per-config recall over it is an unbiased estimate of full-corpus
    recall (a true pair survives iff both members do; banding treats
    surviving docs identically to a corpus that was 1/sample_den the
    size).  The rule is pure md5, so retries, both engines, and
    repeated audits see the identical sample; output counts are exact
    over the sample, never extrapolated (the reader scales, the audit
    reports what it measured)."""
    assert len({nb for nb, _ in configs}) == len(configs)
    if sample_den is not None:
        keep = _frontier_sample_pred(sample_den, sample_seed)
        docs = docs.where(keep)
        if sha is not None:
            # idempotent when the caller pre-sampled via
            # frontier_sample (the recommended way to build the base)
            sha = sha.where(keep)
    if sha is not None:
        sigs = minhash_signatures(
            sha.select("doc_id", F.explode("sh").alias("shingle"))
        )
    else:
        sigs = minhash_signatures(shingles(docs))
    entries = []
    for nb, rows in configs:
        assert nb * rows == N_HASHES
        for b in range(nb):
            key = F.md5(
                F.concat_ws(
                    "|", *[F.col(f"sig_{b * rows + r}") for r in range(rows)]
                )
            )
            entries.append(
                F.struct(
                    F.lit(nb).cast("long").alias("n_bands"),
                    F.lit(b).alias("band"),
                    key.alias("bucket"),
                )
            )
    bands = sigs.select(
        "doc_id", F.explode(F.array(*entries)).alias("e")
    ).select("doc_id", "e.*")
    # bucket sizes FIRST (counts only — safe at any skew), then the
    # per-bucket pair enumeration runs solely over <= max_bucket
    # buckets, so no task ever materializes a mega-bucket's pairs.
    # Per-bucket enumeration rather than a self-join for the same
    # reason as lsh_candidates: a self-join would re-evaluate the
    # whole signature tree per side (stage reuse never fires across
    # lambda-bearing subtrees).
    counted = bands.groupBy("n_bands", "band", "bucket").agg(
        F.count("*").alias("_n")
    )
    oversized = (
        counted.where(F.col("_n") > max_bucket)
        .groupBy("n_bands")
        .agg(F.count("*").cast("long").alias("n_oversized"))
    )
    ok = counted.where(
        (F.col("_n") <= max_bucket) & (F.col("_n") >= 2)
    ).select("n_bands", "band", "bucket")
    cand = (
        bands.join(ok, ["n_bands", "band", "bucket"])
        .groupBy("n_bands", "band", "bucket")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
        .select(
            "n_bands",
            F.explode(
                F.flatten(
                    F.expr(
                        "transform(ds, (x, i) -> transform("
                        "slice(ds, i + 2, size(ds) - i - 1), "
                        "y -> struct(x AS doc_a, y AS doc_b)))"
                    )
                )
            ).alias("p"),
        )
        .select("n_bands", "p.doc_a", "p.doc_b")
        .distinct()
    )
    exact = setsim_join(docs, num=num, den=den, sha=sha).select(
        "doc_a", "doc_b"
    )
    n_exact_row = exact.agg(F.count("*").cast("long").alias("n_exact"))
    cfg_df = docs.sparkSession.createDataFrame(
        [(int(nb), int(rows)) for nb, rows in configs],
        "n_bands long, rows_per_band long",
    )
    per_cand = cand.groupBy("n_bands").agg(
        F.count("*").cast("long").alias("n_candidates")
    )
    found = (
        cand.join(exact, ["doc_a", "doc_b"])
        .groupBy("n_bands")
        .agg(F.count("*").cast("long").alias("n_found"))
    )
    return (
        cfg_df.join(per_cand, "n_bands", "left")
        .join(oversized, "n_bands", "left")
        .join(found, "n_bands", "left")
        .crossJoin(n_exact_row)  # broadcast one-row scalar
        .select(
            "n_bands",
            "rows_per_band",
            F.coalesce("n_candidates", F.lit(0)).cast("long").alias("n_candidates"),
            F.coalesce("n_oversized", F.lit(0)).cast("long").alias("n_oversized"),
            "n_exact",
            F.coalesce("n_found", F.lit(0)).cast("long").alias("n_found"),
            F.when(F.col("n_exact") == 0, F.lit(1_000_000).cast("long"))
            .otherwise(
                F.floor(
                    F.coalesce("n_found", F.lit(0)).cast("double")
                    / F.col("n_exact")
                    * 1e6
                    + F.lit(0.5000001)
                ).cast("long")
            )
            .alias("recall_e6"),
        )
    )


def lsh_band_frontier_sql(
    docs_sql: str,
    configs: tuple[tuple[int, int], ...] = FRONTIER_CONFIGS,
    num: int = 1,
    den: int = 2,
    max_bucket: int = FRONTIER_MAX_BUCKET,
    sample_den: int | None = None,
    sample_seed: str = FRONTIER_SAMPLE_SEED,
) -> str:
    """DuckDB twin of :func:`lsh_band_frontier` — same 12-hash
    signature, same per-config band keys, same AllPairs truth (the
    algorithm-independent full-index form), same bucket cap, same
    deterministic md5 document sample when ``sample_den`` is set."""
    if sample_den is not None:
        from ..functions.sqltext import sql_quote

        docs_sql = (
            f"SELECT * FROM ({docs_sql}) WHERE "
            f"'0' || substr(md5({sql_quote(sample_seed)} || '|' || "
            f"CAST(doc_id AS VARCHAR)), 1, {_FRONTIER_HEX}) "
            f"< '{_frontier_sample_hex(sample_den)}'"
        )
    band_selects = []
    for nb, rows in configs:
        for b in range(nb):
            cols = " || '|' || ".join(
                f"CAST(sig_{b * rows + r} AS VARCHAR)" for r in range(rows)
            )
            band_selects.append(
                f"SELECT doc_id, {nb} AS n_bands, {b} AS band, "
                f"md5({cols}) AS bucket FROM sigs"
            )
    bands_union = " UNION ALL ".join(band_selects)
    cfg_values = ", ".join(f"({nb}, {rows})" for nb, rows in configs)
    return f"""
WITH sh AS ({shingles_sql(docs_sql)}),
sigs AS ({minhash_signatures_sql("SELECT doc_id, shingle FROM sh")}),
bands AS ({bands_union}),
szs AS (
  SELECT n_bands, band, bucket, COUNT(*) AS sz
  FROM bands GROUP BY n_bands, band, bucket
),
over_cfg AS (
  SELECT n_bands, COUNT(*) AS n_oversized
  FROM szs WHERE sz > {max_bucket} GROUP BY n_bands
),
bands_ok AS (
  SELECT b.* FROM bands b
  JOIN szs s ON s.n_bands = b.n_bands AND s.band = b.band
            AND s.bucket = b.bucket
  WHERE s.sz <= {max_bucket}
),
cand AS (
  SELECT DISTINCT a.n_bands, a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands_ok a JOIN bands_ok b
    ON a.n_bands = b.n_bands AND a.band = b.band
   AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
exact AS (
  SELECT doc_a, doc_b FROM ({setsim_join_sql(docs_sql, num=num, den=den)})
),
cfg(n_bands, rows_per_band) AS (VALUES {cfg_values}),
nx AS (SELECT COUNT(*) AS n_exact FROM exact),
percand AS (
  SELECT n_bands, COUNT(*) AS n_candidates FROM cand GROUP BY n_bands
),
found AS (
  SELECT c.n_bands, COUNT(*) AS n_found
  FROM cand c JOIN exact e ON e.doc_a = c.doc_a AND e.doc_b = c.doc_b
  GROUP BY c.n_bands
)
SELECT CAST(c.n_bands AS BIGINT) AS n_bands,
       CAST(c.rows_per_band AS BIGINT) AS rows_per_band,
       CAST(COALESCE(p.n_candidates, 0) AS BIGINT) AS n_candidates,
       CAST(COALESCE(o.n_oversized, 0) AS BIGINT) AS n_oversized,
       CAST(nx.n_exact AS BIGINT) AS n_exact,
       CAST(COALESCE(f.n_found, 0) AS BIGINT) AS n_found,
       CASE WHEN nx.n_exact = 0 THEN CAST(1000000 AS BIGINT)
            ELSE CAST(FLOOR(CAST(COALESCE(f.n_found, 0) AS DOUBLE)
                            / nx.n_exact * 1e6 + 0.5000001) AS BIGINT)
       END AS recall_e6
FROM cfg c
LEFT JOIN percand p ON p.n_bands = c.n_bands
LEFT JOIN over_cfg o ON o.n_bands = c.n_bands
LEFT JOIN found f ON f.n_bands = c.n_bands
CROSS JOIN nx"""

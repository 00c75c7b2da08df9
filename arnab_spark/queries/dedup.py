"""Deduplication operators over the ``documents``/``embeddings`` tables
(beyond-reference corpus, SURVEY.md §7 M4; a core training-data-pipeline
capability).

Five strategies, each a registered query with a DuckDB oracle:

- exact (hash-groupBy) — the O(n) baseline;
- MinHash + LSH banding — candidate pairs via band-bucket equi-join;
- MinHash-LSH → exact Jaccard verify — the two-stage pipeline used in
  production dedup (banding recalls candidates, Jaccard confirms);
- SimHash — near-dup *groups* without any pairwise join;
- embedding cosine — quantized integer dot products inside label
  buckets (IVF-style blocking).

Determinism contract: every hash is md5 (identical hex in both engines);
every float accumulation is either avoided (integer quantization:
``floor(x·1e7)`` per element → exact bigint dot products, associative in
any order) or a single IEEE op (one divide for the final cosine).

Scale notes (100 TB): all strategies are shuffle-on-key joins or
aggregations — no driver-side loops, no cross joins. LSH banding turns
the quadratic near-dup problem into |bands| × (group-by + equi-join on
(band, signature)); SimHash needs only a group-by on the signature;
cosine blocking buckets by label (swap in any coarse quantizer) before
the in-bucket pair join. Hot buckets (a viral duplicate cluster) are the
skew risk — AQE skew-join handles moderate cases; at extreme skew, cap
bucket size and salt.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from arnab_spark.queries import query
from arnab_spark.spark_utils import load_table, register_spread_views

N_BANDS = 8
CC_MIN_BANDS = 2  # pair strength floor for the connected-groups graph
DIM = 64

# ---------------------------------------------------------------------
# exact dedup


@query(
    "dedup_exact",
    oracle="""
SELECT md5(text) AS content_hash,
       MIN(doc_id) AS keep_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY md5(text)
""",
    headline=True,
    tags=("dedup",),
)
def dedup_exact(spark, sf_dir):
    """Exact dedup: hash the content, keep the smallest doc_id per hash.
    One shuffle on the hash; at 100 TB, group on the (short) digest, not
    the document text, so shuffle rows are ~40 bytes each."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.md5(F.col("text").cast("binary")).alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


# ---------------------------------------------------------------------
# MinHash + LSH

_SHINGLE_SPARK = (
    "transform(sequence(1, greatest(size(w) - 2, 1)), "
    "i -> concat_ws(' ', element_at(w, i), element_at(w, least(i + 1, size(w))), "
    "element_at(w, least(i + 2, size(w)))))"
)
_SHINGLE_DUCK = (
    "list_transform(range(1, greatest(len(w) - 2, 1) + 1), "
    "i -> concat_ws(' ', w[i], w[least(i + 1, len(w))], w[least(i + 2, len(w))]))"
)

# Band signatures come from SLICES of ONE sha256 per shingle
# (one-permutation-hashing style: slice b of the digest is an
# independent hash function). The Spark side computes the 8 band mins
# as PER-ROW array aggregates — array_min over a transform of the
# bound digests array — so signature extraction involves NO shuffle at
# all (the explode + GROUP BY doc_id formulation shuffles the entire
# shingle stream; at 100 TB that is the dominant data movement, and
# round-3 measurement shows it costs ~20% even at sf0.1). Each shingle
# is still hashed exactly once; the digests array binds in its own CTE
# so Spark does not re-evaluate sha2 per band (no cross-lambda CSE).
# 32-bit band signatures are plenty for candidate generation (false
# candidates are re-checked by the Jaccard verify stage).
_ROW_BAND_MINS = ", ".join(
    f"array_min(transform(digests, d -> substr(d, {1 + 8 * b}, 8))) AS m{b}"
    for b in range(N_BANDS)
)
_BAND_STACK = ", ".join(f"{b}, m{b}" for b in range(N_BANDS))

_MINHASH_SPARK = f"""
WITH words AS (
  SELECT doc_id, split(text, ' ') AS w FROM documents
),
dg AS (
  -- no DISTINCT: array_min is duplicate-insensitive, and deduping
  -- shingles would cost CPU (or a shuffle) for nothing
  SELECT doc_id,
         transform({_SHINGLE_SPARK}, s -> sha2(CAST(s AS BINARY), 256)) AS digests
  FROM words
),
sigw AS (
  SELECT doc_id, {_ROW_BAND_MINS} FROM dg
),
sigs AS (
  SELECT doc_id, stack({N_BANDS}, {_BAND_STACK}) AS (band, sig) FROM sigw
)
"""

_MINHASH_DUCK = f"""
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
shingles AS (
  SELECT DISTINCT doc_id, unnest({_SHINGLE_DUCK}) AS shingle FROM words
),
sigw AS (
  SELECT s.doc_id, MIN(substr(sha256(s.shingle), 1, 8)) AS m0, MIN(substr(sha256(s.shingle), 9, 8)) AS m1, MIN(substr(sha256(s.shingle), 17, 8)) AS m2, MIN(substr(sha256(s.shingle), 25, 8)) AS m3, MIN(substr(sha256(s.shingle), 33, 8)) AS m4, MIN(substr(sha256(s.shingle), 41, 8)) AS m5, MIN(substr(sha256(s.shingle), 49, 8)) AS m6, MIN(substr(sha256(s.shingle), 57, 8)) AS m7 FROM shingles s GROUP BY s.doc_id
),
sigs AS (
  SELECT doc_id, band, sig FROM sigw
  UNPIVOT (sig FOR band_name IN (m0, m1, m2, m3, m4, m5, m6, m7))
  , LATERAL (SELECT CAST(substr(band_name, 2) AS INTEGER) AS band) t
)
"""

_PAIRS_TAIL = """
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       COUNT(*) AS n_shared_bands
FROM sigs a JOIN sigs b ON a.band = b.band AND a.sig = b.sig
WHERE a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
"""


@query(
    "dedup_minhash_lsh",
    oracle=_MINHASH_DUCK + _PAIRS_TAIL,
    headline=True,
    tags=("dedup", "lsh"),
)
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash-LSH candidate pairs: word-trigram shingles → per-band
    MinHash signature → equi-join on (band, signature). The join is the
    whole trick: near-dup discovery becomes a hash-shuffle on short
    signatures instead of an all-pairs comparison. n_shared_bands/8
    estimates Jaccard similarity."""
    register_spread_views(spark, sf_dir, ("documents",))
    return spark.sql(_MINHASH_SPARK + _PAIRS_TAIL)


# Round-11 re-derivation of the VERIFY pipeline (r10 verdict ask #3),
# two coupled fixes, both measured (NGRAM_BANDING_r11*.json):
#
# 1. S-CURVE CENTERING. With r rows/band and b bands the candidate
#    probability is 1-(1-s^r)^b, threshold t* ≈ (1/b)^(1/r). The
#    verify threshold is 0.5, so the 8 slice-mins pair into r=2 x b=4
#    composite bands: t* = (1/4)^(1/2) = 0.50 exactly, vs the old
#    r=1 x b=8's t* = 0.125 whose s=0.1 collision noise (57% of
#    incidental pairs!) compounded super-linearly with corpus size —
#    the measurements/SCALE.md finding that opened this ask.
# 2. METRIC ALIGNMENT. The r1-r10 verify stage scored UNIGRAM word-set
#    Jaccard against TRIGRAM-shingle signatures — two different
#    similarities. The loose banding masked the mismatch; centering
#    the S-curve exposed it (recall collapsed to 0.96% at sf1 —
#    measured). And the unigram metric itself is DEGENERATE on text
#    corpora (probed on the fixtures: ~45% of ALL doc pairs at
#    sf0.001 score unigram-Jaccard >= 0.5 — a tiny shared vocabulary
#    makes word SETS nearly equal while word SEQUENCES differ), so the
#    verifier now scores the TRIGRAM-SHINGLE sets the signatures
#    already sketch: true n-gram Jaccard, n = 3. Recall regains the
#    subset property (an r2b4 composite band matches only when both
#    constituent r1b8 bands match), making it directly measurable.
#
# Composite sig = concat of the two band MINS (not the min of a
# 16-char slice — both engine texts agree).
_PAIR_BAND_STACK = ", ".join(
    f"{i}, concat(m{2 * i}, m{2 * i + 1})" for i in range(4)
)

_JACCARD_SPARK = f"""
, sigs2 AS (
  SELECT doc_id, stack(4, {_PAIR_BAND_STACK}) AS (band2, sig2) FROM sigw
),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sigs2 a JOIN sigs2 b ON a.band2 = b.band2 AND a.sig2 = b.sig2
  WHERE a.doc_id < b.doc_id
),
wordsets AS (
  SELECT doc_id, array_distinct({_SHINGLE_SPARK}) AS ws FROM words
),
-- bind the set sizes ONCE: Spark does not common-subexpression-
-- eliminate across the projection/filter boundary, so the inlined
-- spelling evaluates each array set-op up to 3x per pair
scored AS (
  SELECT c.doc_a, c.doc_b,
         size(array_intersect(wa.ws, wb.ws)) AS n_common,
         size(array_union(wa.ws, wb.ws)) AS n_union
  FROM cands c
  JOIN wordsets wa ON c.doc_a = wa.doc_id
  JOIN wordsets wb ON c.doc_b = wb.doc_id
)
SELECT doc_a, doc_b, n_common, n_union,
       CAST(n_common AS DOUBLE) / n_union AS jaccard
FROM scored
WHERE CAST(n_common AS DOUBLE) / n_union >= 0.5
"""

_PAIR_BAND_UNION = "\n  UNION ALL ".join(
    f"SELECT doc_id, {i} AS band2, m{2 * i} || m{2 * i + 1} AS sig2 FROM sigw"
    for i in range(4)
)

_JACCARD_DUCK = f"""
, sigs2 AS (
  {_PAIR_BAND_UNION}
),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sigs2 a JOIN sigs2 b ON a.band2 = b.band2 AND a.sig2 = b.sig2
  WHERE a.doc_id < b.doc_id
),
wordsets AS (
  SELECT doc_id, list_distinct({_SHINGLE_DUCK}) AS ws FROM words
)
SELECT c.doc_a, c.doc_b,
       CAST(len(list_intersect(wa.ws, wb.ws)) AS INTEGER) AS n_common,
       CAST(len(list_distinct(list_concat(wa.ws, wb.ws))) AS INTEGER) AS n_union,
       CAST(len(list_intersect(wa.ws, wb.ws)) AS DOUBLE)
         / len(list_distinct(list_concat(wa.ws, wb.ws))) AS jaccard
FROM cands c
JOIN wordsets wa ON c.doc_a = wa.doc_id
JOIN wordsets wb ON c.doc_b = wb.doc_id
WHERE CAST(len(list_intersect(wa.ws, wb.ws)) AS DOUBLE)
        / len(list_distinct(list_concat(wa.ws, wb.ws))) >= 0.5
"""


@query(
    "dedup_ngram_jaccard",
    oracle=_MINHASH_DUCK + _JACCARD_DUCK,
    tags=("dedup", "lsh"),
)
def dedup_ngram_jaccard(spark, sf_dir):
    """Two-stage near-dup pipeline: LSH banding recalls candidate
    pairs, exact n-gram Jaccard (word trigrams, n=3) confirms ≥ 0.5 —
    only candidate pairs pay the set-intersection cost, the production
    shape of fuzzy dedup at scale. Round 11 (r10 verdict ask #3, every
    step measured in NGRAM_BANDING_r11*.json): the verifier now scores
    the SAME trigram-shingle sets the MinHash signatures sketch (the
    r1-r10 unigram word-set verify was both a metric mismatch and
    degenerate on text — ~45% of ALL fixture pairs score ≥ 0.5 on
    unigrams), and the banding is re-derived from the 0.5 threshold
    via the S-curve (r=2 rows/band × b=4 composite bands,
    t* = (1/4)^(1/2) = 0.50 — see ``_PAIR_BAND_STACK``), replacing
    r=1 × b=8 whose t* = 0.125 made candidate noise compound
    super-linearly with corpus size. See the pass comment above
    ``_PAIR_BAND_STACK`` for the full derivation."""
    register_spread_views(spark, sf_dir, ("documents",))
    return spark.sql(_MINHASH_SPARK + _JACCARD_SPARK)


# ---------------------------------------------------------------------
# SimHash

_SIM_BITS = 16


def _simhash_bits_sql(md5_expr: str) -> str:
    """Σ ±2^j per hex nibble of the word hash → 16-bit signature.
    Bit j is +1 when hex digit j of md5(word) has its high bit set
    (chars 89abcdef) — a branch-free, engine-portable SimHash."""
    terms = []
    for j in range(1, _SIM_BITS + 1):
        bit = (
            f"CASE WHEN instr('89abcdef', substr({md5_expr}, {j}, 1)) > 0 "
            f"THEN 1 ELSE -1 END"
        )
        terms.append(f"SUM({bit}) AS s{j}")
    return ", ".join(terms)


def _simhash_assemble() -> str:
    return " + ".join(
        f"(CASE WHEN s{j} > 0 THEN {1 << (j - 1)} ELSE 0 END)" for j in range(1, _SIM_BITS + 1)
    )


# Spark side: the per-doc ±1 bit sums are ROW-LOCAL aggregate() folds
# over a once-bound md5-digests array — no explode, no GROUP BY doc_id,
# so signature extraction moves zero rows (the exploded form shuffled
# the whole token stream; measured ~0.42-0.49 → 0.33-0.38 s at sf0.1).
# Each word hashes exactly once (digests binds in its own CTE — Spark
# does not CSE across lambda boundaries).
_SIM_ROW_BITS = ", ".join(
    f"aggregate(transform(digests, d -> CASE WHEN instr('89abcdef', "
    f"substr(d, {j}, 1)) > 0 THEN 1 ELSE -1 END), 0, (a, x) -> a + x) AS s{j}"
    for j in range(1, _SIM_BITS + 1)
)

_SIMHASH_SPARK = f"""
WITH dg AS (
  SELECT doc_id, transform(split(text, ' '), w -> md5(CAST(w AS BINARY))) AS digests
  FROM documents
),
bitsums AS (
  SELECT doc_id, {_SIM_ROW_BITS} FROM dg
),
hashes AS (
  SELECT doc_id, CAST({_simhash_assemble()} AS BIGINT) AS simhash FROM bitsums
)
SELECT simhash, MIN(doc_id) AS keep_id, COUNT(*) AS group_size
FROM hashes GROUP BY simhash
"""

_SIMHASH_DUCK = f"""
WITH tokens AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
),
bitsums AS (
  SELECT doc_id, {_simhash_bits_sql("md5(word)")}
  FROM tokens GROUP BY doc_id
),
hashes AS (
  SELECT doc_id, CAST({_simhash_assemble()} AS BIGINT) AS simhash FROM bitsums
)
SELECT simhash, MIN(doc_id) AS keep_id, COUNT(*) AS group_size
FROM hashes GROUP BY simhash
"""


@query("dedup_simhash", oracle=_SIMHASH_DUCK, tags=("dedup",))
def dedup_simhash(spark, sf_dir):
    """SimHash near-dup groups: 16-bit sign-aggregated signature per doc
    (weighted by token multiplicity), then a plain group-by on the
    signature — near-dup clustering with NO pairwise join at all. The
    cheapest dedup at 100 TB; production would use 64 bits + banded
    Hamming probing, same plan shape."""
    register_spread_views(spark, sf_dir, ("documents",))
    return spark.sql(_SIMHASH_SPARK)


# ---------------------------------------------------------------------
# embedding cosine near-dup

# The fixture embeddings are isotropic random vectors (measured max
# within-label cosine ≈ 0.47 at sf0.01) — 0.3 marks the upper tail so
# the query demonstrably returns pairs; real near-dup corpora would use
# 0.9+ with the identical plan.
_COSINE_THRESHOLD = 0.3
_Q = 10_000_000  # quantization scale: floor(x * 1e7) per element



_QUANT_DUCK = f"""
WITH q AS (
  SELECT vec_id, label,
         list_transform(range(1, {DIM + 1}),
           i -> CAST(floor(CAST(embedding[i] AS DOUBLE) * {_Q}) AS BIGINT)) AS iv
  FROM embeddings
),
normed AS (
  SELECT vec_id, label, iv,
         CAST(list_sum(list_transform(range(1, {DIM + 1}), i -> iv[i] * iv[i])) AS BIGINT) AS nrm2
  FROM q
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label,
       CAST(list_sum(list_transform(range(1, {DIM + 1}), i -> a.iv[i] * b.iv[i])) AS BIGINT)
         AS dot_int,
       CAST(list_sum(list_transform(range(1, {DIM + 1}), i -> a.iv[i] * b.iv[i])) AS DOUBLE)
         / (sqrt(CAST(a.nrm2 AS DOUBLE)) * sqrt(CAST(b.nrm2 AS DOUBLE))) AS cosine
FROM normed a JOIN normed b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE CAST(list_sum(list_transform(range(1, {DIM + 1}), i -> a.iv[i] * b.iv[i])) AS DOUBLE)
        / (sqrt(CAST(a.nrm2 AS DOUBLE)) * sqrt(CAST(b.nrm2 AS DOUBLE))) >= {_COSINE_THRESHOLD}
"""



@query("dedup_embedding_cosine", oracle=_QUANT_DUCK, tags=("dedup", "similarity"))
def dedup_embedding_cosine(spark, sf_dir):
    """Embedding near-dup pairs: cosine ≥ _COSINE_THRESHOLD (0.3 here —
    tuned to the isotropic random fixture vectors; production corpora
    use 0.9+) within label buckets (IVF-style blocking — swap the label
    for any coarse quantizer).

    Exactness: elements quantized via floor(x·1e7) → all dot products
    and norms are exact 64-bit integer sums (associative in any order,
    immune to float summation-order divergence); cosine is then two
    IEEE-exact sqrts, one multiply, one divide — bit-identical across
    engines AND across the numpy/JVM boundary. Quantization error
    ~1e-7/element is far below any sane dedup threshold.

    Scoring runs through :func:`arnab_spark.operators.
    bucketed_cosine_pairs` — Arrow-batched int64 panel matmuls over
    TILED buckets (round 9: chunk-pair triangle join, so a bucket
    whose quantizer cardinality doesn't grow with the data can never
    collapse into one quadratic straggler task — measured 838 → 24 s
    at sf10; 5x faster than the aggregate/zip_with SQL spelling at
    sf0.1, identical output). Quantization stays JVM-side; only
    quantized vectors cross into Arrow."""
    from pyspark.sql import functions as F

    from arnab_spark.operators import bucketed_cosine_pairs
    from arnab_spark.spark_utils import spread_table

    e = spread_table(spark, sf_dir, "embeddings")
    q = e.selectExpr(
        "vec_id",
        "label",
        f"transform(sequence(1, {DIM}), i -> CAST(floor(CAST(element_at(embedding, i)"
        f" AS DOUBLE) * {_Q}) AS BIGINT)) AS iv",
    )
    # int32_tiles stays OFF here: the r15 decomposition read 2.23x/1.87x
    # on a load-degraded box, but the clean-box interleaved confirm
    # (COSINE_AB_r15.json) measured 0.93x — the local[32] tile shuffle is
    # page-cache-bound, so halving its bytes only buys the int64 upcast
    # cost. The flag (bit-identical output) remains available for
    # network-bound clusters where shuffle bytes are the wall.
    return bucketed_cosine_pairs(q, bucket_col="label", threshold=_COSINE_THRESHOLD)


_CC_REACH_DUCK = f"""
WITH RECURSIVE words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
shingles AS (
  SELECT DISTINCT doc_id, unnest({_SHINGLE_DUCK}) AS shingle FROM words
),
sigw AS (
  SELECT s.doc_id, MIN(substr(sha256(s.shingle), 1, 8)) AS m0, MIN(substr(sha256(s.shingle), 9, 8)) AS m1, MIN(substr(sha256(s.shingle), 17, 8)) AS m2, MIN(substr(sha256(s.shingle), 25, 8)) AS m3, MIN(substr(sha256(s.shingle), 33, 8)) AS m4, MIN(substr(sha256(s.shingle), 41, 8)) AS m5, MIN(substr(sha256(s.shingle), 49, 8)) AS m6, MIN(substr(sha256(s.shingle), 57, 8)) AS m7 FROM shingles s GROUP BY s.doc_id
),
sigs AS (
  SELECT doc_id, band, sig FROM sigw
  UNPIVOT (sig FOR band_name IN (m0, m1, m2, m3, m4, m5, m6, m7))
  , LATERAL (SELECT CAST(substr(band_name, 2) AS INTEGER) AS band) t
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sigs a JOIN sigs b ON a.band = b.band AND a.sig = b.sig
  WHERE a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
  HAVING COUNT(*) >= {CC_MIN_BANDS}
),
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM pairs
  UNION ALL
  SELECT doc_b AS s, doc_a AS d FROM pairs
),
reach(s, d) AS (
  SELECT DISTINCT s, s FROM edges
  UNION
  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
)
"""

_CC_ORACLE = _CC_REACH_DUCK + """SELECT s AS doc_id, MIN(d) AS canonical_id FROM reach GROUP BY s
"""


@query("dedup_connected_groups", oracle=_CC_ORACLE, tags=("dedup", "lsh", "graph"))
def dedup_connected_groups(spark, sf_dir):
    """The production dedup closer: LSH candidate pairs (>= {CC_MIN_BANDS}
    shared bands) form an undirected graph; connected components give
    near-dup GROUPS, and each doc maps to its group's minimum doc_id as
    the canonical representative — the row a training pipeline keeps.
    Spark runs alternating large-star/small-star contraction
    (:func:`arnab_spark.operators.connected_components`, Kiveris et
    al., O(log n) operations — replaced round 10's measured-out
    min-label propagation); the oracle cross-checks with a DuckDB
    recursive CTE computing transitive closure. Only docs appearing in
    some pair are emitted (singletons are trivially their own
    canonical)."""
    from arnab_spark.operators import connected_components

    register_spread_views(spark, sf_dir, ("documents",))
    pairs = spark.sql(
        _MINHASH_SPARK
        + f"""
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM sigs a JOIN sigs b ON a.band = b.band AND a.sig = b.sig
WHERE a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING COUNT(*) >= {CC_MIN_BANDS}
"""
    )
    comps = connected_components(pairs, src="doc_a", dst="doc_b")
    return comps.select(
        F.col("node").alias("doc_id"), F.col("comp").alias("canonical_id")
    )


# ---------------------------------------------------------------------
# incremental (cross-snapshot) dedup — round 4


@query(
    "dedup_incremental",
    oracle="""
WITH prev AS (
  SELECT DISTINCT md5(text) AS content_hash FROM documents WHERE doc_id % 10 = 0
),
new_batch AS (
  SELECT doc_id, md5(text) AS content_hash FROM documents WHERE doc_id % 10 <> 0
),
new_dedup AS (
  SELECT content_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
  FROM new_batch GROUP BY content_hash
)
SELECT d.keep_id, d.content_hash, CAST(d.n_copies AS BIGINT) AS n_copies
FROM new_dedup d
WHERE NOT EXISTS (SELECT 1 FROM prev p WHERE p.content_hash = d.content_hash)
""",
    tags=("dedup", "incremental"),
)
def dedup_incremental(spark, sf_dir):
    """Cross-snapshot dedup — the shape every recurring crawl ingest
    runs: dedupe the NEW batch internally (hash groupBy, keep the
    smallest id), then anti-join against the previously-ingested
    corpus's digest set so only genuinely new content survives. The
    held-out convention (doc_id % 10 = 0 = "previous snapshot") matches
    text_decontaminate.

    Scale shape: both sides reduce to 16-byte digests before any join —
    the anti-join shuffles ~40-byte rows on the digest, not documents,
    and at 100 TB the "seen" side is itself a digest table that never
    rematerializes document text. No broadcast assumption: a
    multi-year seen-set outgrows any broadcast threshold, so the
    shuffle anti-join IS the right plan (AQE will still broadcast it
    while it is small)."""
    from pyspark.sql import functions as F

    from arnab_spark.spark_utils import load_table

    d = load_table(spark, sf_dir, "documents")
    hashed = d.select(
        "doc_id", F.md5(F.col("text").cast("binary")).alias("content_hash")
    )
    prev = hashed.filter(F.col("doc_id") % 10 == 0).select("content_hash").distinct()
    new_dedup = (
        hashed.filter(F.col("doc_id") % 10 != 0)
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )
    return new_dedup.join(prev, on="content_hash", how="left_anti").select(
        "keep_id", "content_hash", "n_copies"
    )


# ---------------------------------------------------------------------
# exact substring-window dedup (Lee et al., "Deduplicating Training
# Data Makes Language Models Better" — the EXACT-substring signal their
# suffix-array ExactSubstr pass computes; here the distributable
# fixed-window form: a document's duplication coverage is the fraction
# of its word-8-gram windows that also occur verbatim in ANOTHER doc)

_WIN_SPARK = (
    "CASE WHEN size(w) >= 8 THEN transform(sequence(1, size(w) - 7), "
    "i -> md5(concat_ws(' ', slice(w, i, 8)))) ELSE array() END"
)
_WIN_DUCK = (
    "CASE WHEN len(w) >= 8 THEN list_transform(range(1, len(w) - 6), "
    "i -> md5(array_to_string(w[i:i+7], ' '))) ELSE [] END"
)


@query(
    "dedup_substring_windows",
    oracle=f"""
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
wins AS (
  SELECT doc_id, unnest({_WIN_DUCK}) AS h FROM words
),
dup AS (
  SELECT h FROM wins GROUP BY h HAVING count(DISTINCT doc_id) >= 2
)
SELECT w.doc_id,
       count(*) AS n_windows,
       count(d.h) AS n_dup_windows,
       CAST(count(d.h) AS DOUBLE) / count(*) AS dup_fraction,
       count(d.h) * 2 > count(*) AS drop_doc
FROM wins w LEFT JOIN dup d ON w.h = d.h
GROUP BY w.doc_id
""",
    tags=("dedup", "text"),
)
def dedup_substring_windows(spark, sf_dir):
    """Exact substring-window dedup (Lee et al. 2022's ExactSubstr
    signal, fixed-window form): for every document with >= 8 words,
    the count and fraction of its word-8-gram window POSITIONS whose
    verbatim text also occurs in at least one other document, plus the
    drop decision at 50% coverage. Unlike ``text_decontaminate`` there
    is no held-out set (every doc is checked against the whole corpus)
    and windows are counted per position, not per distinct gram — the
    Lee et al. coverage metric.

    Plan (verified with explain("formatted")), and why it holds at
    100 TB: each window reduces to a 16-byte md5 IN the row before the
    explode, so the only wide data is (doc_id, digest) pairs —
    O(total words) rows of ~40 bytes, never document text. The
    duplicated-digest side aggregates those pairs down to the digests
    seen in >= 2 docs; AQE broadcasts that set while it is small (the
    measured plan here: BroadcastHashJoin of the aggregated dup side)
    and degrades to a sort-merge join on the digest — the same key
    both sides are already keyed by — when boilerplate volume grows.
    The corpus is scanned twice (once per CTE reference); that
    re-derivation is map-only tokenize+hash work with no added
    shuffle, the standard trade against caching O(total words) of
    state at 100 TB. No all-pairs anywhere; the 50% rule is integer
    arithmetic (count*2 > count), immune to float-division drift. A
    viral boilerplate window is the skew risk — its digest group is
    large but both aggregates over it are counts, which partial
    (map-side) aggregation absorbs before the shuffle."""
    register_spread_views(spark, sf_dir, ("documents",))
    return spark.sql(
        f"""
WITH words AS (
  SELECT doc_id, split(text, ' ') AS w FROM documents
),
wins AS (
  SELECT doc_id, explode({_WIN_SPARK}) AS h FROM words
),
dup AS (
  SELECT h FROM wins GROUP BY h HAVING count(DISTINCT doc_id) >= 2
)
SELECT w.doc_id,
       count(*) AS n_windows,
       count(d.h) AS n_dup_windows,
       CAST(count(d.h) AS DOUBLE) / count(*) AS dup_fraction,
       count(d.h) * 2 > count(*) AS drop_doc
FROM wins w LEFT JOIN dup d ON w.h = d.h
GROUP BY w.doc_id
"""
    )


# ---------------------------------------------------------------------
# semantic dedup (SemDeDup) — round 11

#: Coarse cells for the semantic-dedup quantizer. SemDeDup's k scales
#: with corpus size so the expected cell stays bounded (the paper used
#: 50k clusters for LAION); 16 keeps the fixture's cells a few hundred
#: vectors wide at the driver's sf0.01.
SEM_K = 16

_SEM_DOT = (
    f"list_sum(list_transform(range(1, {DIM + 1}), i -> {{a}}[i] * {{b}}[i]))"
)

_SEMDEDUP_DUCK = f"""
WITH q AS (
  SELECT vec_id,
         list_transform(range(1, {DIM + 1}),
           i -> CAST(floor(CAST(embedding[i] AS DOUBLE) * {{q}}) AS BIGINT)) AS iv
  FROM embeddings
),
normed AS (
  SELECT vec_id, iv,
         CAST(list_sum(list_transform(range(1, {DIM + 1}), i -> iv[i] * iv[i])) AS BIGINT) AS nrm2
  FROM q
),
cents AS (
  SELECT vec_id AS cid, iv AS civ, nrm2 AS cnrm2 FROM normed
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {{k}}
),
ascore AS (
  SELECT n.vec_id, n.iv, n.nrm2, c.cid,
         CAST({_SEM_DOT.format(a="n.iv", b="c.civ")} AS DOUBLE)
           / (sqrt(CAST(n.nrm2 AS DOUBLE)) * sqrt(CAST(c.cnrm2 AS DOUBLE))) AS cos
  FROM normed n CROSS JOIN cents c
),
assign AS (
  SELECT vec_id, iv, nrm2, cid AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
    FROM ascore
  ) WHERE rn = 1
),
pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         CAST({_SEM_DOT.format(a="a.iv", b="b.iv")} AS DOUBLE)
           / (sqrt(CAST(a.nrm2 AS DOUBLE)) * sqrt(CAST(b.nrm2 AS DOUBLE))) AS cosine
  FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
),
drops AS (
  SELECT vec_b AS vec_id, COUNT(*) AS n_close_lower, MAX(cosine) AS max_close_cosine
  FROM pairs WHERE cosine >= {{thr}} GROUP BY vec_b
)
SELECT a.vec_id, a.cell,
       CAST(coalesce(d.n_close_lower, 0) AS BIGINT) AS n_close_lower,
       d.max_close_cosine,
       d.vec_id IS NULL AS keep
FROM assign a LEFT JOIN drops d ON a.vec_id = d.vec_id
"""


def semantic_dedup_frame(spark, sf_dir, k: int):
    """The SemDeDup pipeline at an explicit cell count ``k`` — the
    paper scales k with corpus size so the expected cell stays bounded;
    :func:`dedup_semantic` pins k for the fixture, the scale harness
    passes k ∝ n."""
    from arnab_spark.operators import (
        bucketed_cosine_pairs,
        ivf_assign,
        ivf_centroids,
        quantize_embeddings,
    )

    e = quantize_embeddings(load_table(spark, sf_dir, "embeddings"), "embedding", DIM)
    assign = ivf_assign(e, ivf_centroids(e, k=k))
    # int32_tiles off: refuted on the clean-box confirm (COSINE_AB_r15.json).
    pairs = bucketed_cosine_pairs(assign, bucket_col="cell", threshold=_COSINE_THRESHOLD)
    drops = pairs.groupBy(F.col("vec_b").alias("vec_id")).agg(
        F.count(F.lit(1)).alias("n_close_lower"),
        F.max("cosine").alias("max_close_cosine"),
    )
    return (
        assign.select("vec_id", "cell")
        .join(drops, on="vec_id", how="left")
        .select(
            "vec_id",
            "cell",
            F.coalesce(F.col("n_close_lower"), F.lit(0))
            .cast("bigint")
            .alias("n_close_lower"),
            "max_close_cosine",
            F.col("n_close_lower").isNull().alias("keep"),
        )
    )


@query(
    "dedup_semantic",
    oracle=_SEMDEDUP_DUCK.format(q=_Q, thr=_COSINE_THRESHOLD, k=SEM_K),
    tags=("dedup", "semantic", "similarity"),
)
def dedup_semantic(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): partition the
    embedding space with a coarse quantizer, then within each cell mark
    a vector as a semantic duplicate when its cosine to a LOWER-id cell
    member crosses the threshold — the kept representative of every
    near-dup set is its minimum vec_id, a total order both engines
    share. Differs from ``dedup_embedding_cosine`` exactly where the
    paper differs from plain cosine blocking: the blocking key is
    LEARNED from the vectors (nearest of {SEM_K} deterministic
    centroids — swap in trained k-means at production scale), not a
    pre-existing label column, so it works on corpora with no labels
    and concentrates comparisons where the space is dense.

    Output per vector: its cell, how many lower-id in-cell vectors sit
    above the threshold, the tightest such cosine, and the keep/drop
    verdict (keep = no lower-id near-neighbor in the cell).

    Scale (100 TB): centroids broadcast (constant k); assignment is a
    map-side argmax shuffling ONE row per vector
    (:func:`~arnab_spark.operators.ivf_assign`); the within-cell pair
    search runs through :func:`~arnab_spark.operators.
    bucketed_cosine_pairs` — chunk-pair triangle tiling, so a dense
    cell parallelizes across tasks instead of collapsing into one
    quadratic straggler (the measured r9 fix); the final drop verdict
    is a groupBy on the higher pair id plus one broadcast-size left
    join back to the assignment. In production SemDeDup k grows with n
    (cells stay ~constant), making the whole pipeline O(n·k + n·cell)
    with no global pairwise stage; the asymptotic cost driver is the
    n·k assignment term, which the paper replaces with approximate
    (ANN) centroid assignment at extreme scale — same plan shape."""
    return semantic_dedup_frame(spark, sf_dir, SEM_K)


@query(
    "stream_dedup_exact_materialized",
    oracle="""
SELECT md5(text) AS content_hash,
       MIN(doc_id) AS keep_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY md5(text)
""",
    tags=("dedup", "streaming"),
)
def stream_dedup_exact_materialized(spark, sf_dir):
    """Round-12 dedup-on-ingest: the exact-dedup operator as a REAL
    Structured Streaming run (document drop-zone file source →
    per-digest streaming aggregation → memory sink,
    Trigger.AvailableNow, complete mode), materialized and hashed
    against the SAME DuckDB oracle as the batch ``dedup_exact`` — the
    streaming and batch spellings of one operator provably produce the
    identical relation. min/count are order-insensitive, so the result
    does not depend on batch arrival order (a streaming
    ``dropDuplicates`` would — that spelling stays in
    ``streaming.jobs.stream_distinct_pairs`` with its caveat).

    Scale: state is one row per DISTINCT digest — the honest floor for
    exact streaming dedup; the pipeline-scale alternatives (watermarked
    eviction with re-emission, or periodic compaction into the snapshot
    ``dedup_incremental`` anti-joins against) are documented on the job.
    The unique sink name keeps repeated invocations independent."""
    import uuid

    from arnab_spark.streaming.jobs import run_stream_to_memory, stream_dedup_exact

    sink = f"arnab_stream_dedup_{uuid.uuid4().hex[:12]}"
    return run_stream_to_memory(stream_dedup_exact(spark, sf_dir), sink)


_CLUSTER_BEST_ORACLE = _CC_REACH_DUCK + """,
comp AS (
  SELECT s AS doc_id, MIN(d) AS canonical_id FROM reach GROUP BY s
),
q AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
),
ranked AS (
  SELECT c.canonical_id, c.doc_id, q.n_tokens,
         row_number() OVER (PARTITION BY c.canonical_id
                            ORDER BY q.n_tokens DESC, c.doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY c.canonical_id) AS n_members
  FROM comp c JOIN q ON c.doc_id = q.doc_id
)
SELECT canonical_id, doc_id AS kept_doc_id, n_tokens AS kept_n_tokens,
       CAST(n_members AS BIGINT) AS n_members
FROM ranked WHERE rn = 1
"""


@query(
    "dedup_cluster_best",
    oracle=_CLUSTER_BEST_ORACLE,
    tags=("dedup", "lsh", "graph"),
)
def dedup_cluster_best(spark, sf_dir):
    """Round-12 cluster-representative selection: instead of keeping
    each near-dup cluster's MINIMUM doc_id (``dedup_connected_groups``'
    canonical), keep its BEST member — here the longest (token count),
    the keep-the-longest-duplicate heuristic production pipelines apply
    so boilerplate-trimmed fragments lose to their fullest copy. Same
    LSH pair graph, same large-star/small-star contraction; one extra
    broadcast-sized join against per-doc token counts and a per-cluster
    window (row_number over n_tokens DESC, doc_id — total-order
    deterministic at any parallelism; n_members makes the cluster size
    hash-visible). Swap the ordering key for any quality column
    (``text_quality_score``) without touching the plan."""
    from pyspark.sql import Window

    from arnab_spark.operators import connected_components

    register_spread_views(spark, sf_dir, ("documents",))
    pairs = spark.sql(
        _MINHASH_SPARK
        + f"""
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM sigs a JOIN sigs b ON a.band = b.band AND a.sig = b.sig
WHERE a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING COUNT(*) >= {CC_MIN_BANDS}
"""
    )
    comps = connected_components(pairs, src="doc_a", dst="doc_b")
    toks = spark.sql(
        "SELECT doc_id, CAST(size(split(text, ' ')) AS BIGINT) AS n_tokens "
        "FROM documents"
    )
    j = comps.join(toks, comps["node"] == toks["doc_id"]).select(
        F.col("comp").alias("canonical_id"), "doc_id", "n_tokens"
    )
    w = Window.partitionBy("canonical_id").orderBy(
        F.col("n_tokens").desc(), F.col("doc_id")
    )
    ranked = j.withColumn("rn", F.row_number().over(w)).withColumn(
        "n_members", F.count(F.lit(1)).over(Window.partitionBy("canonical_id"))
    )
    return ranked.filter("rn = 1").select(
        "canonical_id",
        F.col("doc_id").alias("kept_doc_id"),
        F.col("n_tokens").alias("kept_n_tokens"),
        "n_members",
    )

"""Text analysis operators over ``documents`` (beyond-reference corpus,
SURVEY.md §7 M4): token counting, quality scoring, language ID,
document fingerprinting.

All pure column expressions (JVM-side, codegen'd — zero Python in the
hot path), each with a DuckDB oracle. Ratios are single IEEE divisions
of exact integers → deterministic across engines.
"""

from __future__ import annotations

from arnab_spark.queries import query
from arnab_spark.spark_utils import register_spread_views, register_views

_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")

# language "profiles" for the n-gram/stopword-overlap heuristic.
# (The fixture text is synthetic English-ish for every lang label; the
# heuristic is still exercised end-to-end and is deterministic.)
_LANG_MARKERS = {
    "en": ("the", "a", "and", "of"),
    "es": ("el", "la", "de", "que"),
    "de": ("der", "die", "und", "das"),
    "fr": ("le", "la", "et", "les"),
    "zh": ("de5", "shi4", "le5", "bu4"),
}


def _tokens_sql(dialect: str) -> str:
    split = "split" if dialect == "spark" else "string_split"
    return f"{split}(text, ' ')"


@query(
    "text_token_count",
    oracle=f"""
SELECT doc_id,
       CAST(len({_tokens_sql('duck')}) AS INTEGER) AS n_tokens,
       CAST(len(list_distinct({_tokens_sql('duck')})) AS INTEGER) AS n_unique_tokens,
       length(text) AS n_chars_actual,
       CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INTEGER) AS n_bpeish,
       CAST(length(text) AS DOUBLE) / len({_tokens_sql('duck')}) AS chars_per_token
FROM documents
""",
    headline=True,
    tags=("text",),
)
def text_token_count(spark, sf_dir):
    """Token counting: whitespace tokens, unique tokens, a BPE-ish regex
    token count (letters / digits / punctuation runs), chars-per-token.
    Pure projections — scales linearly, no shuffle at all."""
    register_views(spark, sf_dir, ("documents",))
    t = _tokens_sql("spark")
    return spark.sql(
        f"""
        SELECT doc_id,
               size({t}) AS n_tokens,
               size(array_distinct({t})) AS n_unique_tokens,
               CAST(length(text) AS BIGINT) AS n_chars_actual,
               size(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)) AS n_bpeish,
               CAST(length(text) AS DOUBLE) / size({t}) AS chars_per_token
        FROM documents
        """
    )


_STOP_DUCK = "[" + ", ".join(f"'{w}'" for w in _STOPWORDS) + "]"
_STOP_SPARK = "array(" + ", ".join(f"'{w}'" for w in _STOPWORDS) + ")"


@query(
    "text_quality_score",
    oracle=f"""
WITH t AS (
  SELECT doc_id, text, {_tokens_sql('duck')} AS toks, length(text) AS nc FROM documents
),
m AS (
  SELECT doc_id, nc,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(len(list_filter(toks, w -> list_contains({_STOP_DUCK}, w))) AS BIGINT) AS n_stop,
         octet_length(encode(regexp_replace(text, '[^.!?,;]', '', 'g'))) AS n_punct
  FROM t
)
SELECT doc_id,
       CAST(nc AS DOUBLE) / n_tokens AS mean_word_len,
       CAST(n_stop AS DOUBLE) / n_tokens AS stopword_ratio,
       CAST(n_punct AS DOUBLE) / nc AS punct_ratio,
       (CASE WHEN n_tokens BETWEEN 20 AND 1000 THEN 1 ELSE 0 END
        + CASE WHEN CAST(n_stop AS DOUBLE) / n_tokens >= 0.05 THEN 1 ELSE 0 END
        + CASE WHEN CAST(n_punct AS DOUBLE) / nc < 0.2 THEN 1 ELSE 0 END) AS quality_score
FROM m
""",
    tags=("text",),
)
def text_quality_score(spark, sf_dir):
    """Quality scoring: mean word length, stopword ratio, punctuation
    ratio, and a 0-3 integer quality score from bounds on each — the
    classic cheap pre-filter before expensive model-based scoring."""
    register_views(spark, sf_dir, ("documents",))
    t = _tokens_sql("spark")
    return spark.sql(
        f"""
        WITH t AS (
          SELECT doc_id, text, {t} AS toks, length(text) AS nc FROM documents
        ),
        m AS (
          SELECT doc_id, nc,
                 CAST(size(toks) AS BIGINT) AS n_tokens,
                 CAST(size(filter(toks, w -> array_contains({_STOP_SPARK}, w))) AS BIGINT) AS n_stop,
                 octet_length(regexp_replace(text, '[^.!?,;]', '')) AS n_punct
          FROM t
        )
        SELECT doc_id,
               CAST(nc AS DOUBLE) / n_tokens AS mean_word_len,
               CAST(n_stop AS DOUBLE) / n_tokens AS stopword_ratio,
               CAST(n_punct AS DOUBLE) / nc AS punct_ratio,
               (CASE WHEN n_tokens BETWEEN 20 AND 1000 THEN 1 ELSE 0 END
                + CASE WHEN CAST(n_stop AS DOUBLE) / n_tokens >= 0.05 THEN 1 ELSE 0 END
                + CASE WHEN CAST(n_punct AS DOUBLE) / nc < 0.2 THEN 1 ELSE 0 END) AS quality_score
        FROM m
        """
    )


def _lang_scores_sql(dialect: str) -> tuple[str, str]:
    """(score columns, argmax CASE chain) for the language-ID heuristic."""
    contains = "array_contains" if dialect == "spark" else "list_contains"
    lfilter = "filter" if dialect == "spark" else "list_filter"
    size = "size" if dialect == "spark" else "len"
    arr = (lambda ws: "array(" + ", ".join(f"'{w}'" for w in ws) + ")") if dialect == "spark" else (
        lambda ws: "[" + ", ".join(f"'{w}'" for w in ws) + "]"
    )
    scores = ", ".join(
        f"CAST({size}({lfilter}(toks, w -> {contains}({arr(ws)}, w))) AS BIGINT) AS s_{lang}"
        for lang, ws in _LANG_MARKERS.items()
    )
    # deterministic argmax: highest score wins, ties break alphabetically
    langs = sorted(_LANG_MARKERS)
    best = " AND ".join  # noqa: E731 - built inline below
    chain = []
    for lang in langs:
        conds = [f"s_{lang} >= s_{other}" for other in langs if other != lang]
        # earlier (alphabetical) lang wins ties because of >= + chain order
        chain.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    case = "CASE " + " ".join(chain) + " ELSE 'und' END"
    return scores, case


@query(
    "text_lang_id",
    oracle="""
WITH t AS (SELECT doc_id, lang, {tokens} AS toks FROM documents),
s AS (SELECT doc_id, lang, {scores} FROM t)
SELECT doc_id, lang AS labeled_lang, {case} AS predicted_lang,
       s_en, s_es, s_de, s_fr, s_zh
FROM s
""".format(
        tokens=_tokens_sql("duck"), scores=_lang_scores_sql("duck")[0],
        case=_lang_scores_sql("duck")[1],
    ),
    tags=("text",),
)
def text_lang_id(spark, sf_dir):
    """Language ID: stopword/marker-overlap scores per language with a
    deterministic arg-max (ties break alphabetically). The real-world
    version swaps marker lists for char-n-gram profiles; the plan — one
    projection, no shuffle — is identical."""
    register_views(spark, sf_dir, ("documents",))
    scores, case = _lang_scores_sql("spark")
    return spark.sql(
        f"""
        WITH t AS (SELECT doc_id, lang, {_tokens_sql("spark")} AS toks FROM documents),
        s AS (SELECT doc_id, lang, {scores} FROM t)
        SELECT doc_id, lang AS labeled_lang, {case} AS predicted_lang,
               s_en, s_es, s_de, s_fr, s_zh
        FROM s
        """
    )


@query(
    "text_fingerprint",
    oracle=f"""
WITH words AS (
  SELECT doc_id, {_tokens_sql('duck')} AS w FROM documents
),
grams AS (
  SELECT doc_id, unnest(list_transform(range(1, greatest(len(w) - 4, 1) + 1),
           i -> w[i] || ' ' || w[least(i+1, len(w))] || ' ' || w[least(i+2, len(w))]
                || ' ' || w[least(i+3, len(w))] || ' ' || w[least(i+4, len(w))])) AS g
  FROM words
)
SELECT doc_id,
       MIN(md5(g)) AS fingerprint,
       CAST(COUNT(DISTINCT g) AS BIGINT) AS n_grams
FROM grams GROUP BY doc_id
""",
    tags=("text",),
)
def text_fingerprint(spark, sf_dir):
    """Document fingerprinting (winnowing-lite): rolling word 5-grams →
    md5 → per-doc minimum = content fingerprint, robust to small edits.
    Same plan family as MinHash with one band — and like the round-3
    MinHash form, the per-doc MIN/COUNT-DISTINCT are row-local array
    aggregates, so fingerprinting moves ZERO rows (the explode +
    GROUP BY doc_id form shuffled the whole 5-gram stream)."""
    register_views(spark, sf_dir, ("documents",))
    return spark.sql(
        """
        WITH words AS (
          SELECT doc_id, split(text, ' ') AS w FROM documents
        ),
        grams AS (
          SELECT doc_id,
                 transform(sequence(1, greatest(size(w) - 4, 1)),
                   i -> concat_ws(' ', element_at(w, i),
                                  element_at(w, least(i+1, size(w))),
                                  element_at(w, least(i+2, size(w))),
                                  element_at(w, least(i+3, size(w))),
                                  element_at(w, least(i+4, size(w))))) AS gs
          FROM words
        )
        SELECT doc_id,
               array_min(transform(gs, g -> md5(CAST(g AS BINARY)))) AS fingerprint,
               CAST(size(array_distinct(gs)) AS BIGINT) AS n_grams
        FROM grams
        """
    )


# Deterministic hash bucket from the first two hex nibbles of md5(doc_id):
# (n1-1)*16 + (n2-1) ∈ [0, 255]. instr() spells the nibble→int map in both
# dialects (Spark returns INT, DuckDB BIGINT — cast the sum, not the parts).
_HEX = "0123456789abcdef"


def _bucket_sql(dialect: str) -> str:
    h = f"md5(CAST(doc_id AS {'STRING' if dialect == 'spark' else 'VARCHAR'}))"
    return (
        f"CAST((instr('{_HEX}', substring({h}, 1, 1)) - 1) * 16"
        f" + instr('{_HEX}', substring({h}, 2, 1)) - 1 AS BIGINT)"
    )


_SPLIT_CASE = (
    "CASE WHEN bucket < 230 THEN 'train' "
    "WHEN bucket < 243 THEN 'val' ELSE 'test' END"
)


@query(
    "text_train_split",
    oracle=f"""
WITH b AS (
  SELECT doc_id, lang, {_bucket_sql('duck')} AS bucket FROM documents
)
SELECT doc_id, lang, bucket, {_SPLIT_CASE} AS split
FROM b
""",
    tags=("text", "sampling"),
)
def text_train_split(spark, sf_dir):
    """Deterministic train/val/test split (~90/5/5) by content-stable
    hash bucket: md5(doc_id) → bucket 0-255 → split. A pure projection —
    no shuffle, no RNG, and the assignment is reproducible across runs,
    engines, and repartitions, which is the property a training pipeline
    actually needs from a splitter (rand()-based splits are none of
    those). At 100 TB this stays embarrassingly parallel."""
    from arnab_spark.operators import hash_split
    from arnab_spark.spark_utils import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return hash_split(docs, "doc_id")


@query(
    "text_quality_gopher",
    oracle=f"""
WITH w AS (
  SELECT doc_id, unnest({_tokens_sql('duck')}) AS word FROM documents
),
wc AS (
  SELECT doc_id, word, COUNT(*) AS c FROM w GROUP BY doc_id, word
),
m AS (
  SELECT doc_id, SUM(c) AS n_words, COUNT(*) AS n_unique, MAX(c) AS top_c
  FROM wc GROUP BY doc_id
),
g AS (
  SELECT doc_id,
         list_transform(range(1, greatest(len(w) - 1, 1) + 1),
           i -> w[i] || ' ' || w[least(i + 1, len(w))]) AS grams
  FROM (SELECT doc_id, {_tokens_sql('duck')} AS w FROM documents) words
)
SELECT m.doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       1.0 - CAST(n_unique AS DOUBLE) / n_words AS word_rep_ratio,
       CAST(top_c AS DOUBLE) / n_words AS top_word_ratio,
       1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams) AS dup_2gram_ratio,
       (CAST(top_c AS DOUBLE) / n_words < 0.2
        AND 1.0 - CAST(n_unique AS DOUBLE) / n_words < 0.6
        AND n_words >= 10) AS gopher_keep
FROM m JOIN g ON m.doc_id = g.doc_id
""",
    tags=("text", "quality"),
)
def text_quality_gopher(spark, sf_dir):
    """Gopher-style repetition filters: duplicate-word ratio, top-word
    dominance, duplicate-2-gram ratio, and a keep/drop verdict. Top-word
    frequency needs a real mode, so it runs as a two-level aggregate
    (explode → (doc,word) counts → doc rollup) with map-side partial
    aggregation on both hops; the 2-gram ratio stays in array functions
    (no explode) and joins back at doc granularity — both sides of that
    join are doc-count-sized, not token-sized, at any scale."""
    register_views(spark, sf_dir, ("documents",))
    t = _tokens_sql("spark")
    return spark.sql(
        f"""
        WITH w AS (
          SELECT doc_id, explode({t}) AS word FROM documents
        ),
        wc AS (
          SELECT doc_id, word, COUNT(*) AS c FROM w GROUP BY doc_id, word
        ),
        m AS (
          SELECT doc_id, SUM(c) AS n_words, COUNT(*) AS n_unique, MAX(c) AS top_c
          FROM wc GROUP BY doc_id
        ),
        g AS (
          -- materialize the token array ONCE: splicing split() into the
          -- lambda re-splits the text per element = O(words^2) per doc
          SELECT doc_id,
                 transform(sequence(1, greatest(size(w) - 1, 1)),
                   i -> concat_ws(' ', element_at(w, i),
                                  element_at(w, least(i + 1, size(w))))) AS grams
          FROM (SELECT doc_id, {t} AS w FROM documents) words
        )
        SELECT m.doc_id,
               CAST(n_words AS BIGINT) AS n_words,
               1.0 - CAST(n_unique AS DOUBLE) / n_words AS word_rep_ratio,
               CAST(top_c AS DOUBLE) / n_words AS top_word_ratio,
               1.0 - CAST(size(array_distinct(grams)) AS DOUBLE) / size(grams) AS dup_2gram_ratio,
               (CAST(top_c AS DOUBLE) / n_words < 0.2
                AND 1.0 - CAST(n_unique AS DOUBLE) / n_words < 0.6
                AND n_words >= 10) AS gopher_keep
        FROM m JOIN g ON m.doc_id = g.doc_id
        """
    )


@query(
    "text_pack_sequences",
    oracle=f"""
WITH t AS (
  SELECT doc_id, source, CAST(len({_tokens_sql('duck')}) AS BIGINT) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, source, n_tokens,
         CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
  FROM t
)
SELECT doc_id, source, n_tokens, cum_tokens,
       CAST(floor(CAST(cum_tokens - n_tokens AS DOUBLE) / 2048) AS BIGINT) AS pack_id
FROM c
""",
    tags=("text", "packing"),
)
def text_pack_sequences(spark, sf_dir):
    """Sequence packing for context-window training: within each source
    shard, documents are laid out in stable doc_id order and chunked into
    2048-token packs by running token count (pack = exclusive-cumsum div
    2048). One shuffle, partitioned by source — at 100 TB each shard's
    window is independent, so this parallelizes across sources and never
    needs a global sort. The BIGINT cumsum is exact; floor() is cast on
    both engines (DuckDB floor→DOUBLE, Spark floor→BIGINT)."""
    from pyspark.sql import functions as F

    from arnab_spark.operators import pack_sequences
    from arnab_spark.spark_utils import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
    )
    return pack_sequences(docs, "n_tokens", "doc_id", "source", budget=2048).select(
        "doc_id", "source", "n_tokens", "cum_tokens", "pack_id"
    )


@query(
    "sample_stratified",
    oracle=f"""
WITH r AS (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk,
         COUNT(*) OVER (PARTITION BY lang) AS n_lang
  FROM documents
)
SELECT doc_id, lang, CAST(rk AS BIGINT) AS rk, CAST(n_lang AS BIGINT) AS n_lang
FROM r
WHERE rk * 10 <= n_lang + 9
""",
    tags=("text", "sampling"),
)
def sample_stratified(spark, sf_dir):
    """Stratified 10% sample: exactly ceil(n/10) docs per language
    stratum, chosen by hash order (md5 of doc_id) so the sample is
    deterministic and reproducible — unlike TABLESAMPLE, this has an
    exact oracle. ``rk*10 <= n+9`` spells ceil(n/10) without dialect-
    divergent ceil()/integer-division. One shuffle on the stratum key;
    strata process independently at any scale."""
    from pyspark.sql import functions as F

    from arnab_spark.operators import stratified_sample
    from arnab_spark.spark_utils import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return stratified_sample(docs, "lang", "doc_id", 1, 10).select(
        "doc_id",
        "lang",
        F.col("_rk").alias("rk"),
        F.col("_n").alias("n_lang"),
    )


# PII patterns kept to a regex subset with identical semantics in Java
# regex (Spark) and RE2 (DuckDB): literal classes, +, {m,}, no
# backrefs/lookaround. DuckDB regexp_replace needs the 'g' flag for
# global replacement; Spark's is global by default. The literal dot is
# spelled [.] — Spark SQL string literals consume a \ escape (so '\.'
# reaches the regex engine as a match-anything '.'), while DuckDB
# passes it through; a character class sidesteps the divergence.
_EMAIL_RE = "[a-z0-9._]+@[a-z0-9.-]+[.][a-z]{2,}"
_PHONE_RE = "[0-9]{3}-[0-9]{3}-[0-9]{4}"


@query(
    "text_pii_scrub",
    oracle=f"""
WITH t AS (
  SELECT doc_id,
         'reach me at user' || CAST(doc_id AS VARCHAR) || '@mail-' || source
           || '.com or 555-01' || lpad(CAST(doc_id % 10 AS VARCHAR), 1, '0')
           || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' re: '
           || substring(text, 1, 60) AS raw
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(raw, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(raw, '{_PHONE_RE}')) AS BIGINT) AS n_phones,
       regexp_replace(regexp_replace(raw, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                      '{_PHONE_RE}', '<PHONE>', 'g') AS scrubbed
FROM t
""",
    tags=("text", "pii"),
)
def text_pii_scrub(spark, sf_dir):
    """PII scrubbing: regex redaction of emails/phones with per-doc
    redaction counts. The fixture text carries no real PII, so
    deterministic synthetic contact strings are built in-query from doc
    fields — the scrub path (extract-count + nested regexp_replace) is
    the production shape either way: a pure projection, no shuffle, and
    the patterns stay in the Java∩RE2 regex subset so both engines
    agree byte-for-byte."""
    register_views(spark, sf_dir, ("documents",))
    return spark.sql(
        f"""
        WITH t AS (
          SELECT doc_id,
                 'reach me at user' || CAST(doc_id AS STRING) || '@mail-' || source
                   || '.com or 555-01' || lpad(CAST(doc_id % 10 AS STRING), 1, '0')
                   || '-' || lpad(CAST(doc_id % 10000 AS STRING), 4, '0') || ' re: '
                   || substring(text, 1, 60) AS raw
          FROM documents
        )
        SELECT doc_id,
               CAST(size(regexp_extract_all(raw, '{_EMAIL_RE}', 0)) AS BIGINT) AS n_emails,
               CAST(size(regexp_extract_all(raw, '{_PHONE_RE}', 0)) AS BIGINT) AS n_phones,
               regexp_replace(regexp_replace(raw, '{_EMAIL_RE}', '<EMAIL>'),
                              '{_PHONE_RE}', '<PHONE>') AS scrubbed
        FROM t
        """
    )


@query(
    "text_chunk_windows",
    oracle="""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents
),
b AS (
  SELECT doc_id, words,
         1 + GREATEST(CAST(ceil((len(words) - 24) / 16.0) AS BIGINT), 0) AS n_win
  FROM w
)
SELECT doc_id,
       CAST(i AS INTEGER) AS chunk_id,
       array_to_string(words[(i*16 + 1):(i*16 + 24)], ' ') AS chunk_text,
       CAST(len(words[(i*16 + 1):(i*16 + 24)]) AS INTEGER) AS chunk_tokens
FROM b, LATERAL (SELECT unnest(generate_series(0, n_win - 1)) AS i) s
""",
    tags=("text",),
)
def text_chunk_windows(spark, sf_dir):
    """Sliding-window document chunking (RAG / embedding prep): 24-word
    windows, stride 16 (8-word overlap; sized to the fixture docs' 10-99
    words so multi-chunk overlap is actually exercised), the last window short but
    never empty. ``explode(sequence(...))`` + ``slice`` — pure JVM
    column ops, so chunking 100 TB is a single scan-and-explode with no
    Python and no shuffle; the ~1.25x row/byte expansion streams
    straight to the next stage. The words array is bound ONCE in a
    subquery (not re-split per element — the lambda re-evaluation trap
    documented in measurements/SCALE.md)."""
    register_views(spark, sf_dir, ("documents",))
    return spark.sql(
        """
        WITH w AS (
          SELECT doc_id, split(text, ' ') AS words FROM documents
        ),
        b AS (
          SELECT doc_id, words,
                 1 + GREATEST(CAST(ceil((size(words) - 24) / 16.0) AS BIGINT), 0) AS n_win
          FROM w
        )
        SELECT doc_id,
               CAST(i AS INT) AS chunk_id,
               array_join(slice(words, CAST(i*16 + 1 AS INT), 24), ' ') AS chunk_text,
               CAST(size(slice(words, CAST(i*16 + 1 AS INT), 24)) AS INT) AS chunk_tokens
        FROM b
        LATERAL VIEW explode(sequence(0, n_win - 1)) s AS i
        """
    )


@query(
    "text_vocab_topk",
    oracle="""
SELECT token, n FROM (
  SELECT token, COUNT(*) AS n
  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents) t
  GROUP BY token
) ranked
ORDER BY n DESC, token
LIMIT 50
""",
    tags=("text", "agg"),
)
def text_vocab_topk(spark, sf_dir):
    """Vocabulary building (tokenizer-training primitive): global top-50
    tokens by corpus frequency, ties broken lexically so the cut is
    total-ordered. explode → partial-agg'd groupBy → TakeOrdered: the
    map-side combine collapses each partition to its distinct tokens
    before the shuffle, and the top-k never sorts globally — at 100 TB
    the shuffle carries |vocab| rows, not |corpus| tokens."""
    register_views(spark, sf_dir, ("documents",))
    return spark.sql(
        """
        SELECT token, n FROM (
          SELECT token, COUNT(*) AS n
          FROM (SELECT explode(split(text, ' ')) AS token FROM documents)
          GROUP BY token
        )
        ORDER BY n DESC, token
        LIMIT 50
        """
    )


# ---------------------------------------------------------------------
# Benchmark decontamination + boilerplate mining (8-gram overlap)

#: word 8-grams, empty for docs shorter than 8 words (no padding — a
#: short doc has no 8-gram, and Spark's sequence(1, 0) would count DOWN)
_NGRAM_SPARK = (
    "CASE WHEN size(w) >= 8 THEN transform(sequence(1, size(w) - 7), "
    "i -> concat_ws(' ', slice(w, i, 8))) ELSE array() END"
)
_NGRAM_DUCK = (
    "CASE WHEN len(w) >= 8 THEN list_transform(range(1, len(w) - 6), "
    "i -> array_to_string(w[i:i+7], ' ')) ELSE [] END"
)

#: scale-invariant held-out split: every 10th doc is "the benchmark"
_HELD_OUT = "doc_id % 10 = 0"


@query(
    "text_decontaminate",
    oracle=f"""
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
grams AS (
  SELECT DISTINCT doc_id, unnest({_NGRAM_DUCK}) AS ngram FROM words
),
test_grams AS (
  SELECT DISTINCT ngram FROM grams WHERE {_HELD_OUT}
)
SELECT g.doc_id, COUNT(*) AS n_contaminated_ngrams
FROM grams g JOIN test_grams t ON g.ngram = t.ngram
WHERE NOT ({_HELD_OUT.replace('doc_id', 'g.doc_id')})
GROUP BY g.doc_id
""",
    tags=("text", "dedup"),
)
def text_decontaminate(spark, sf_dir):
    """Benchmark decontamination (the GPT-3-style n-gram protocol):
    flag every training document sharing at least one word-8-gram with
    the held-out set, with the count of overlapping distinct 8-grams.

    Plan: one shingle pass over the corpus, the held-out side reduced
    to DISTINCT 8-grams and broadcast — held-out benchmarks are
    fixed-size (MBs) no matter how big the training corpus grows, so
    the join is always a broadcast probe of the training shingle
    stream; no hint is forced, Catalyst/AQE sees the aggregated test
    side is small.

    The grams are carried as 16-byte ``unhex(md5(gram))`` digests
    computed in-row before the explode: the join/aggregate keys are
    fixed-width binary instead of ~48-char strings, so the test-side
    DISTINCT, the broadcast hash table and the probe all hash/compare
    3x fewer bytes (r15 decomposition, DEDUP_DECOMP_r15.json:
    1.17x/1.21x at sf10 in both measurement orders, result-identical
    at sf0.1+sf10). Digest equality stands in for gram equality under
    the same md5-equality contract dedup_exact already relies on."""
    register_spread_views(spark, sf_dir, ("documents",))
    return spark.sql(
        f"""
WITH words AS (
  SELECT doc_id, split(text, ' ') AS w FROM documents
),
grams AS (
  -- per-doc dedup happens IN the row (array_distinct) before the
  -- explode: zero shuffle, where SELECT DISTINCT would move the
  -- whole n-gram stream; digests computed in the same pass so only
  -- 16-byte keys are exploded, shuffled and joined
  SELECT doc_id,
         explode(transform(array_distinct({_NGRAM_SPARK}),
                           g -> unhex(md5(CAST(g AS BINARY))))) AS h
  FROM words
),
test_grams AS (
  SELECT DISTINCT h FROM grams WHERE {_HELD_OUT}
)
SELECT g.doc_id, COUNT(*) AS n_contaminated_ngrams
FROM grams g JOIN test_grams t ON g.h = t.h
WHERE NOT (g.doc_id % 10 = 0)
GROUP BY g.doc_id
"""
    )


@query(
    "text_boilerplate_ngrams",
    oracle=f"""
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
grams AS (
  SELECT DISTINCT doc_id, unnest({_NGRAM_DUCK}) AS ngram FROM words
)
SELECT ngram, COUNT(*) AS n_docs
FROM grams
GROUP BY ngram
HAVING COUNT(*) >= 2
ORDER BY n_docs DESC, ngram
LIMIT 20
""",
    tags=("text", "agg"),
)
def text_boilerplate_ngrams(spark, sf_dir):
    """Boilerplate mining: the 20 word-8-grams shared by the most
    documents (headers, footers, license blocks in a real corpus) —
    the discovery stage before a strip-boilerplate pass. Ties break
    lexically so the cut is total-ordered. Per-doc DISTINCT happens
    before the global count, the groupBy partial-aggregates map-side,
    and top-20 is TakeOrdered — the final shuffle carries one row per
    distinct surviving 8-gram, never the corpus."""
    register_spread_views(spark, sf_dir, ("documents",))
    return spark.sql(
        f"""
WITH words AS (
  SELECT doc_id, split(text, ' ') AS w FROM documents
),
grams AS (
  -- per-doc dedup happens IN the row (array_distinct) before the
  -- explode: zero shuffle, where SELECT DISTINCT would move the
  -- whole n-gram stream
  SELECT doc_id, explode(array_distinct({_NGRAM_SPARK})) AS ngram FROM words
)
SELECT ngram, COUNT(*) AS n_docs
FROM grams
GROUP BY ngram
HAVING COUNT(*) >= 2
ORDER BY n_docs DESC, ngram
LIMIT 20
"""
    )


# ---------------------------------------------------------------------
# TF-IDF keyword extraction (round 4)


@query(
    "text_tfidf_top_terms",
    oracle="""
WITH tokens AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
tf AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM tokens GROUP BY doc_id, token
),
df AS (
  SELECT token, COUNT(DISTINCT doc_id) AS df FROM tokens GROUP BY token
),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.token,
         CAST(tf.tf AS BIGINT) AS tf,
         CAST(df.df AS BIGINT) AS df,
         CAST(floor(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df) * 1000000 + 0.5)
              AS BIGINT) AS tfidf_u
  FROM tf JOIN df ON tf.token = df.token CROSS JOIN n
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY tfidf_u DESC, token) AS rnk
  FROM scored
)
SELECT doc_id, token, tf, df, tfidf_u, CAST(rnk AS BIGINT) AS rnk
FROM ranked WHERE rnk <= 3
""",
    tags=("text", "tfidf"),
)
def text_tfidf_top_terms(spark, sf_dir):
    """Per-document top-3 terms by TF-IDF — the keyword-extraction /
    topic-tagging primitive of a corpus-prep pipeline. Two aggregations
    over ONE tokenize pass (per-doc term counts; corpus document
    frequencies), then the DF side joins back into the per-doc ranking.

    Scale shape: the DF table is |vocab| rows — broadcastable at ANY
    corpus size (vocabularies don't grow with corpus rows), so the
    join back adds no fact-table shuffle; the per-doc top-3 is one
    window over the (doc, term) partials. IDF's ln() is transcendental
    (libm vs JVM differ in the final ulp — see queries/dialect_parity),
    so the score is quantized to 1e-6 in BOTH engines; ranking ties
    break on the token for a total order."""
    register_views(spark, sf_dir, ("documents",))
    return spark.sql(
        """
        WITH tokens AS (
          SELECT doc_id, explode(split(text, ' ')) AS token FROM documents
        ),
        tf AS (
          SELECT doc_id, token, COUNT(*) AS tf FROM tokens GROUP BY doc_id, token
        ),
        df AS (
          SELECT token, COUNT(DISTINCT doc_id) AS df FROM tokens GROUP BY token
        ),
        n AS (SELECT COUNT(*) AS n_docs FROM documents),
        scored AS (
          SELECT tf.doc_id, tf.token,
                 CAST(tf.tf AS BIGINT) AS tf,
                 CAST(df.df AS BIGINT) AS df,
                 CAST(floor(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df) * 1000000 + 0.5)
                      AS BIGINT) AS tfidf_u
          FROM tf JOIN df ON tf.token = df.token CROSS JOIN n
        ),
        ranked AS (
          SELECT *, row_number() OVER (PARTITION BY doc_id
                                       ORDER BY tfidf_u DESC, token) AS rnk
          FROM scored
        )
        SELECT doc_id, token, tf, df, tfidf_u, CAST(rnk AS BIGINT) AS rnk
        FROM ranked WHERE rnk <= 3
        """
    )


# ---------------------------------------------------------------------
# DSIR importance weights (round 11)


def _word_bucket_sql(dialect: str, word: str = "word") -> str:
    """256-bucket hash of a token via md5 hex chars — same instr/md5
    trick as :func:`_bucket_sql`, identical in both engines."""
    h = f"md5({word})"
    return (
        f"CAST((instr('{_HEX}', substring({h}, 1, 1)) - 1) * 16"
        f" + instr('{_HEX}', substring({h}, 2, 1)) - 1 AS BIGINT)"
    )


_DSIR_TARGET = "lang = 'en'"
_DSIR_B = 256  # hashed-feature buckets


def _dsir_sql(dialect: str) -> str:
    """DSIR (Xie et al. 2023, arXiv:2302.03169) over hashed unigram
    features: estimate a target and a raw unigram bucket distribution
    (add-one smoothed), score every document by the sum of per-token
    log importance ratios, expressed so the cross-engine result is
    bit-identical:

    - the per-bucket log-ratio collapses to ONE ln of ONE double —
      the rational ((ct+1)(R+B)) / ((cr+1)(T+B)) whose numerator and
      denominator are exact 53-bit integers, so the operand (and with
      both engines on the same libm, the ln) is identical — then
      quantizes to integer micro-nats (floor(1e6·ln));
    - per-document scores are integer dot products (token-count ×
      micro-nat weight), associative in any order — no float summation
      anywhere.
    """
    if dialect == "spark":
        tok = f"SELECT doc_id, explode({_tokens_sql('spark')}) AS word FROM documents"
    else:
        tok = (
            "SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents"
        )
    b = _dsir_B = _DSIR_B
    return f"""
WITH tok AS (
  {tok}
),
hb AS (
  SELECT t.doc_id, {_word_bucket_sql(dialect)} AS b FROM tok t
),
rcount AS (
  SELECT b, COUNT(*) AS cr FROM hb GROUP BY b
),
tcount AS (
  SELECT hb.b, COUNT(*) AS ct
  FROM hb JOIN documents d ON hb.doc_id = d.doc_id
  WHERE d.{_DSIR_TARGET}
  GROUP BY hb.b
),
totals AS (
  SELECT (SELECT SUM(cr) FROM rcount) AS r_total,
         (SELECT COALESCE(SUM(ct), 0) FROM tcount) AS t_total
),
lr AS (
  SELECT r.b,
         CAST(floor(1000000 * ln(
           (CAST(COALESCE(t.ct, 0) + 1 AS DOUBLE) * (r_total + {b}))
           / (CAST(r.cr + 1 AS DOUBLE) * (t_total + {b}))
         )) AS BIGINT) AS lr_micro
  FROM rcount r LEFT JOIN tcount t ON r.b = t.b CROSS JOIN totals
),
docb AS (
  SELECT doc_id, b, COUNT(*) AS c FROM hb GROUP BY doc_id, b
)
SELECT d.doc_id,
       CAST(SUM(d.c) AS BIGINT) AS n_tokens,
       CAST(SUM(d.c * lr.lr_micro) AS BIGINT) AS log_weight_micro,
       SUM(d.c * lr.lr_micro) > 0 AS target_like
FROM docb d JOIN lr ON d.b = lr.b
GROUP BY d.doc_id
"""


@query("text_dsir_weights", oracle=_dsir_sql("duck"), tags=("text", "sampling"))
def text_dsir_weights(spark, sf_dir):
    """DSIR data selection (Xie et al. 2023): importance weight of every
    document under a hashed-unigram target distribution (here the
    corpus's ``lang = 'en'`` slice; swap any predicate or a separate
    high-quality corpus). The weight is the per-token sum of
    log((p_target+ε)/(p_raw+ε)) over {_DSIR_B} hashed feature buckets,
    emitted in integer micro-nats so every accumulation is an exact
    associative integer sum (the float-summation-order contract this
    corpus holds everywhere).

    Scale (100 TB): two token-level aggregations (map-side partial
    combine; shuffle rows are (bucket) and (doc_id, bucket) keys), the
    bucket stats are {_DSIR_B} rows broadcast into the scoring join,
    and the per-doc score is one more partial-aggregated groupBy. No
    UDFs, no driver loops; resampling against the weights composes
    with the deterministic hash-bucket sampler (text_train_split)."""
    register_views(spark, sf_dir, ("documents",))
    return spark.sql(_dsir_sql("spark"))


# ---------------------------------------------------------------------
# Bloom-filter decontamination (round 12; m-sizing round 13): the
# O(m)-bits membership alternative to text_decontaminate's digest
# broadcast join. At 100 TB the held-out benchmark's n-gram set is
# still MBs, but a multi-benchmark deployment probes MANY sets per
# document; a Bloom filter folds each set into a bit array that rides
# a broadcast, and the probe stream touches the shuffle only for grams
# with >=1 matching hash — a false-positive-rate-bounded fraction.
#
# m-SIZING (round 13, r12 verdict ask #3): round 12 pinned m at 64 Ki
# bits and the filter SATURATED at sf10 (held-out grams grow ~100x
# past 64 Ki -> FP -> 1 -> nearly every probe gram reached the count-k
# shuffle: 35.3 s vs the digest join's 12.9 s, BLOOM_SCALE_r12.json).
# m is now derived IN THE QUERY from the held-out distinct-gram count:
# the next power of two >= 16x grams (k=3 at 16 bits/gram -> FP =
# (1-e^(-3/16))^3 ~ 0.5%), floored at 64 Ki bits so tiny fixtures keep
# a real filter. The derivation is integer-exact in both engines —
# bit-length via bin()/ltrim, never a float log2 that could round
# differently across engines — and lives in BOTH SQL texts, so the
# driver hash still pins filter build + probe + FP behavior, now at
# every scale. Determinism of the bits themselves is unchanged: three
# 32-bit md5 hex slices mod m (identical hex in both engines).

_BLOOM_K = 3
_BLOOM_MIN_GRAMS = 4096  # floor: m >= 16 * 4096 = 64 Ki bits
_BLOOM_BITS_PER_GRAM = 16


def _bloom_pos(engine: str, j: int) -> str:
    """Bit position j (0..k-1) of an n-gram: 32-bit slice j of
    md5(ngram) mod m_bits — same value in both engines (probed)."""
    sub = f"substr(md5(ngram), {1 + 8 * j}, 8)"
    if engine == "spark":
        return f"CAST(conv({sub}, 16, 10) AS BIGINT) % m_bits"
    return f"CAST(('0x' || {sub}) AS BIGINT) % m_bits"


def _bloom_sql(engine: str) -> str:
    spark_side = engine == "spark"
    ngram = _NGRAM_SPARK if spark_side else _NGRAM_DUCK
    split_fn = "split" if spark_side else "string_split"
    # next power of two >= 16 * max(grams, 4096), integer-exact:
    # bit-length(x-1) via bin() — PROBED to emit no leading zeros for
    # positive BIGINTs in both engines (and two-arg ltrim is NOT
    # portable: Spark's is ltrim(trimStr, str), DuckDB's is
    # ltrim(str, chars)) — then 1 << bitlen
    count = f"{_BLOOM_BITS_PER_GRAM} * GREATEST(COUNT(DISTINCT ngram), {_BLOOM_MIN_GRAMS}) - 1"
    bitlen = f"CAST(length(bin({count})) AS INTEGER)"
    if spark_side:
        grams_item = f"explode(array_distinct({ngram})) AS ngram"
        posexpr = f"explode(array({', '.join(_bloom_pos(engine, j) for j in range(_BLOOM_K))})) AS pos"
        word = "pos DIV 32"
        mask = "shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))"
        msize = f"CAST(shiftleft(CAST(1 AS BIGINT), {bitlen}) AS BIGINT) AS m_bits"
    else:
        grams_item = f"unnest(list_distinct({ngram})) AS ngram"
        posexpr = f"unnest([{', '.join(_bloom_pos(engine, j) for j in range(_BLOOM_K))}]) AS pos"
        word = "pos // 32"
        mask = "(CAST(1 AS BIGINT) << CAST(pos % 32 AS INTEGER))"
        msize = f"CAST((CAST(1 AS BIGINT) << {bitlen}) AS BIGINT) AS m_bits"
    return f"""
WITH words AS (
  SELECT doc_id, {split_fn}(text, ' ') AS w FROM documents
),
grams AS (
  SELECT doc_id, {grams_item} FROM words
),
msize AS (
  SELECT {msize} FROM grams WHERE {_HELD_OUT}
),
positions AS (
  SELECT doc_id, ngram, {posexpr} FROM grams CROSS JOIN msize
),
bloom AS (
  SELECT {word} AS word_idx, bit_or({mask}) AS word
  FROM positions WHERE {_HELD_OUT}
  GROUP BY {word}
),
probe AS (
  SELECT doc_id, ngram, {word} AS word_idx, {mask} AS mask
  FROM positions WHERE NOT ({_HELD_OUT})
),
gram_hits AS (
  SELECT p.doc_id, p.ngram
  FROM probe p JOIN bloom b ON p.word_idx = b.word_idx
  WHERE (b.word & p.mask) = p.mask
  GROUP BY p.doc_id, p.ngram
  HAVING COUNT(*) = {_BLOOM_K}
)
SELECT doc_id, COUNT(*) AS n_flagged_ngrams
FROM gram_hits
GROUP BY doc_id
"""


@query(
    "text_decontaminate_bloom",
    oracle=_bloom_sql("duckdb"),
    tags=("text", "dedup", "bloom"),
)
def text_decontaminate_bloom(spark, sf_dir):
    """Benchmark decontamination through a Bloom filter — the
    bounded-size-membership variant of :func:`text_decontaminate`
    (GPT-3 appendix C protocol): fold the held-out split's
    word-8-grams into a k=3 Bloom filter whose size m is DERIVED from
    the held-out distinct-gram count (next power of two >= 16x grams,
    floor 64 Ki bits -> FP ~ 0.5% at every scale; round 13, closing
    the r12 fixed-m saturation), then flag each training document's
    grams whose THREE positions are all set, counting flagged grams
    per doc — false positives included by construction and
    bit-identical on both engines, so the driver hash pins the filter
    build, the m derivation, the probe, and the FP behavior.

    Scale shape: the m derivation is one distinct-count over the
    held-out grams (a 1-row broadcast, the same shape as the DSIR
    totals); the filter is m/32 words after one partial-aggregated
    groupBy (~grams/2 rows — 16x fewer BITS than the digest join
    broadcasts as 32-char strings, the memory-budget knob a
    many-benchmarks deployment needs). The probe joins the gram stream
    against the filter (AQE broadcast) and only grams with >=1
    matching hash slice reach the count-3 shuffle — an FP-rate-bounded
    (~0.5%) fraction. No UDFs; md5/conv/bit ops are all
    whole-stage-codegen expressions.

    Crossover rule (when to pick which): the digest join stays the
    corpus DEFAULT — exact (no FPs), one build pass (no per-gram k
    hashes), and it won every measured decade on this fixture
    (BLOOM_SCALE_r13.json, derived m: bloom/digest wall 1.7x/2.3x/1.5x
    at sf0.1/1/10). What the derivation FIXED is the r12 scale
    failure: fill fraction now reads 0.12/0.15/0.09 across the three
    decades (r12's fixed m saturated to ~1 at sf10), so the probe
    shuffle stays FP-rate-bounded at every scale. Pick the Bloom
    spelling when the probe side is re-scanned against MANY benchmark
    sets or the broadcast budget is the binding constraint: its
    broadcast is ~m/32 words = ~grams/2 BIGINTs vs the digest join's
    one 32-char string per gram (~16x the bytes). FP accounting
    (measured r13): per-probed-gram FP = fill^3 ~ 0.1-0.4%, which on
    this fixture puts 6-25% of the flag ROWS as false positives (true
    matches are rare) — fine for a contamination REPORT, never for
    the removal list itself (route removals through the digest join);
    double _BLOOM_BITS_PER_GRAM to cut FPs ~8x per step at 2x
    broadcast."""
    register_spread_views(spark, sf_dir, ("documents",))
    return spark.sql(_bloom_sql("spark"))


_DSIR_RESAMPLE_K = 200


def _dsir_resample_sql(dialect: str) -> str:
    """Gumbel-top-k resampling over the DSIR weights (Xie et al. 2023
    §2.3: select examples with the k largest log w + Gumbel noise —
    equivalent to sampling w-proportionally without replacement). The
    Gumbel is derived deterministically: u = (48-bit md5 slice of
    doc_id + 0.5) / 2^48 is an exact dyadic double strictly inside
    (0, 1) and identical in both engines, so the two nested lns see
    identical operands (the same same-libm determinism bet
    ``_dsir_sql`` already makes, quantized to micro-nats the same
    way); the final score is an exact BIGINT sum with doc_id
    tie-break."""
    if dialect == "spark":
        u48 = "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 12), 16, 10) AS BIGINT)"
    else:
        u48 = "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT)"
    return f"""
WITH weights AS (
{_dsir_sql(dialect)}
),
scored AS (
  SELECT doc_id, n_tokens, log_weight_micro,
         CAST(floor(1000000 * (-ln(-ln(
           ({u48} + 0.5) / 281474976710656.0
         )))) AS BIGINT) AS gumbel_micro
  FROM weights
)
SELECT doc_id, n_tokens, log_weight_micro, gumbel_micro,
       log_weight_micro + gumbel_micro AS score_micro
FROM scored
ORDER BY score_micro DESC, doc_id
LIMIT {_DSIR_RESAMPLE_K}
"""


@query(
    "text_dsir_resample",
    oracle=_dsir_resample_sql("duck"),
    tags=("text", "sampling"),
)
def text_dsir_resample(spark, sf_dir):
    """The second half of the DSIR pipeline (Xie et al. 2023 §2.3):
    importance RESAMPLING of the weighted corpus via Gumbel-top-k —
    the k documents maximizing log w + Gumbel(md5-derived uniform),
    which samples proportionally to the importance weights without
    replacement. Composes directly over ``text_dsir_weights``'s
    integer micro-nat weights; the noise is deterministic (exact
    dyadic uniform from a 48-bit md5 slice of doc_id), so the selected
    SET is reproducible and driver-hashed, not just its size.

    Scale: the weights plan is unchanged (hashed buckets, 256-row
    broadcast); the top-k compiles to TakeOrderedAndProject —
    per-partition heaps then a k-row driver merge, never a global
    sort. Ranking ties break on doc_id, so the selection is total-order
    deterministic at any parallelism."""
    register_views(spark, sf_dir, ("documents",))
    return spark.sql(_dsir_resample_sql("spark"))


# ---------------------------------------------------------------------
# BM25 ranking (round 13): lexical relevance scoring over the corpus —
# the retrieval half of a RAG / data-curation pipeline (Robertson &
# Zaragoza 2009, the Okapi BM25 formulation). Float determinism
# follows the DSIR idiom: every score is a chain of single IEEE ops on
# exact-integer-derived operands, quantized to integer micro-units
# BEFORE any cross-row summation, so the per-doc total is an exact
# associative BIGINT sum.

_BM25_TERMS = ("'join'", "'filter'", "'vector'", "'scan'")
_BM25_K = 20  # top-k documents returned


def _bm25_sql(engine: str) -> str:
    # BM25 with k1=1.2, b=0.75:
    #   idf = ln((N - df + 0.5) / (df + 0.5))
    #   tfn = tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)),  avgdl = total/N
    # dl/avgdl is spelled dl*N/total so the numerator stays an exact
    # 53-bit integer product; every other step is one IEEE op on
    # operands identical across engines (same expression text) —
    # EXCEPT ln, which is the same-libm ~1-ulp bet probed per fixture
    # rather than guaranteed (see the query docstring).
    score = """CAST(floor(1000000 * (
      ln((CAST(n_docs AS DOUBLE) - df + 0.5) / (CAST(df AS DOUBLE) + 0.5))
      * (CAST(tf AS DOUBLE) * 2.2)
      / (CAST(tf AS DOUBLE)
         + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) * n_docs / CAST(total_tokens AS DOUBLE))))
    )) AS BIGINT)"""
    if engine == "spark":
        # round 14: NO token explode and NO doc-cardinality join
        # anywhere. The first r14 rewrite removed the token explode
        # (dl = size(split), tf = size(filter)) but still shuffled
        # per-doc posting rows through tf⋈dl⋈df joins — measured 6.6 s
        # at sf10 while the raw split+filter work is only ~1.2 s. This
        # spelling keeps dl and the four per-term tf counts IN ONE ROW
        # per doc, folds df/n_docs/total_tokens into a single 1-row
        # aggregate (broadcast, like the DSIR totals), and sums the
        # per-term scores HORIZONTALLY — identical BIGINT micro-units
        # in a different order of the same exact additions. Plan: two
        # columnar scans (stats pass + scoring pass), a 1-row
        # broadcast, and TakeOrderedAndProject — zero wide shuffles at
        # any corpus size. tf/dl/df values are identical to the
        # exploded spelling (split keeps empty tokens in both
        # engines), so the DuckDB oracle below is unchanged.
        tf_cols = ",\n         ".join(
            f"size(filter(w, x -> x = {t})) AS tf{i}"
            for i, t in enumerate(_BM25_TERMS)
        )
        df_cols = ",\n         ".join(
            f"SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
            for i in range(len(_BM25_TERMS))
        )
        term_score = """CASE WHEN tf{i} > 0 THEN CAST(floor(1000000 * (
      ln((CAST(n_docs AS DOUBLE) - df{i} + 0.5) / (CAST(df{i} AS DOUBLE) + 0.5))
      * (CAST(tf{i} AS DOUBLE) * 2.2)
      / (CAST(tf{i} AS DOUBLE)
         + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) * n_docs / CAST(total_tokens AS DOUBLE))))
    )) AS BIGINT) ELSE CAST(0 AS BIGINT) END"""
        score_sum = " + ".join(
            term_score.format(i=i) for i in range(len(_BM25_TERMS))
        )
        any_tf = " OR ".join(f"tf{i} > 0" for i in range(len(_BM25_TERMS)))
        return f"""
WITH docs AS (
  SELECT doc_id, size(w) AS dl,
         {tf_cols}
  FROM (SELECT doc_id, split(text, ' ') AS w FROM documents)
),
stats AS (
  SELECT COUNT(*) AS n_docs, SUM(dl) AS total_tokens,
         {df_cols}
  FROM docs
)
SELECT doc_id, CAST({score_sum} AS BIGINT) AS bm25_micro
FROM docs CROSS JOIN stats
WHERE {any_tf}
ORDER BY bm25_micro DESC, doc_id
LIMIT {_BM25_K}
"""
    return f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
),
dl AS (
  SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id
),
stats AS (
  SELECT COUNT(*) AS n_docs, SUM(dl) AS total_tokens FROM dl
),
tf AS (
  SELECT doc_id, word, COUNT(*) AS tf
  FROM tok WHERE word IN ({', '.join(_BM25_TERMS)})
  GROUP BY doc_id, word
),
df AS (
  SELECT word, COUNT(*) AS df FROM tf GROUP BY word
),
scored AS (
  SELECT tf.doc_id, {score} AS score_micro
  FROM tf
  JOIN dl ON tf.doc_id = dl.doc_id
  JOIN df ON tf.word = df.word
  CROSS JOIN stats
)
SELECT doc_id, CAST(SUM(score_micro) AS BIGINT) AS bm25_micro
FROM scored
GROUP BY doc_id
ORDER BY bm25_micro DESC, doc_id
LIMIT {_BM25_K}
"""


@query("text_bm25_topk", oracle=_bm25_sql("duckdb"), tags=("text", "ranking"))
def text_bm25_topk(spark, sf_dir):
    """BM25 top-k retrieval: score every document against a fixed
    query-term set (k1=1.2, b=0.75) and return the 20 (_BM25_K) most
    relevant — the lexical-ranking step of retrieval / curation
    pipelines, and the standard sparse complement to the corpus's
    dense ANN operators. Scores are quantized to integer micro-units
    per (doc, term) before summation (the DSIR float contract), so
    the per-doc total is an exact associative BIGINT sum; the final
    tie on doc_id makes the LIMIT deterministic. One caveat, same as
    the DSIR precedent: the idf term takes ln() of a ratio of exact
    integers, and JVM Math.log / DuckDB's libm log are each ~1-ulp
    accurate rather than correctly rounded — cross-engine bit
    identity of floor(1e6*score) is therefore probed empirically on
    the fixtures (the windowed driver run would catch a divergence),
    not guaranteed by IEEE.

    Scale shape (round 14 rewrite): NO token explode and NO
    doc-cardinality join anywhere — doc length is size(split(text))
    and per-term tf is size(filter(tokens, = term)), all
    whole-stage-codegen array expressions kept IN ONE ROW per doc;
    df/n_docs/total_tokens fold into a single 1-row aggregate
    broadcast back (allowlisted like the DSIR totals), and the
    per-term scores sum horizontally — the same exact BIGINT
    micro-unit additions as the per-posting spelling, in a different
    order. Plan: two columnar scans (stats pass + scoring pass), one
    1-row broadcast, TakeOrderedAndProject — zero wide shuffles at
    any corpus size (measured sf10: 6.6 s with tf⋈dl⋈df posting
    joins → 1.98 s join-free). The tf/dl/df VALUES are identical to
    the exploded spelling (split keeps empty tokens in both engines),
    so the unchanged DuckDB oracle still hash-matches."""
    register_spread_views(spark, sf_dir, ("documents",))
    return spark.sql(_bm25_sql("spark"))

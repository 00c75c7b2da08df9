"""Reusable DataFrame operators — the public API behind the query
corpus.

Every non-trivial algorithm the corpus demonstrates is exposed here as
a plain ``DataFrame -> DataFrame`` function so users can apply it to
their own tables, not just the fixtures. The corpus queries call these
(so the DuckDB differential suite continuously verifies them), and each
docstring states the plan shape it produces at scale.
"""

from arnab_spark.operators.relational import (
    connected_components,
    distinct_on,
    top_k_per_group,
)
from arnab_spark.operators.similarity import (
    bucketed_cosine_pairs,
    cosine_from_int,
    cosine_knn,
    int_dot,
    ivf_assign,
    ivf_centroids,
    ivf_probe,
    ivf_refine,
    lsh_bucket_ids,
    pq_adc_topk,
    pq_encode,
    pq_query_tables,
    quantize_embeddings,
)
from arnab_spark.operators.texttools import (
    hash_split,
    minhash_signatures,
    pack_sequences,
    shingle_ngrams,
    stratified_sample,
)
from arnab_spark.operators.timeops import (
    asof_carry_forward,
    asof_carry_forward_bucketed,
    asof_join,
    proximity_join,
    sessionize,
)

__all__ = [
    "asof_join",
    "asof_carry_forward",
    "asof_carry_forward_bucketed",
    "proximity_join",
    "sessionize",
    "top_k_per_group",
    "distinct_on",
    "connected_components",
    "quantize_embeddings",
    "lsh_bucket_ids",
    "cosine_knn",
    "ivf_centroids",
    "ivf_assign",
    "ivf_probe",
    "ivf_refine",
    "int_dot",
    "cosine_from_int",
    "bucketed_cosine_pairs",
    "pq_encode",
    "pq_query_tables",
    "pq_adc_topk",
    "shingle_ngrams",
    "minhash_signatures",
    "hash_split",
    "pack_sequences",
    "stratified_sample",
]

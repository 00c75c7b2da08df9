"""Generate a 10x scale point (``.scaledata/sf1``) from the sf0.1
fixtures, for the sf1 oracle differential in
``tests/test_scale_correctness.py``: the quantization contract's
overflow headroom and the plans whose fan-out grows with the data are
checked against DuckDB at ten times the fixture size. ``perfbench``
uses the same generator for its sf0.1-sized registry inputs.

The testdata tree is read-only, so the scale point lands repo-local at
``.scaledata/sf1`` (gitignored; regenerated on demand, content is a
pure function of the sf0.1 inputs). Scaling is 10
key-shifted copies — NOT 10 verbatim copies, which would distort the
workloads being measured:

- fact/dim keys shift by ``copy * (max_key + 1)`` so cardinalities and
  join fan-outs scale linearly (10 verbatim copies would keep the same
  15k customers with 10x orders each — a different workload);
- name columns get a per-copy suffix so name-grouped aggregates keep
  per-copy granularity (LIKE/prefix filters keep their selectivity);
- document text gets a per-copy word-prefix transform (every space
  becomes " q<i>"), making copies shingle-disjoint: the built-in
  duplicate RATE stays constant instead of every document gaining 9
  cross-copy near-duplicates, which would blow LSH bucket pair counts
  up O(copies^2) and misrepresent the dedup slope (n_chars is
  recomputed to stay consistent);
- embeddings are rotated (np.roll by copy index), preserving norms and
  the coordinate distribution while keeping cross-copy cosine
  similarity unstructured.

nation/region are dimension tables and copy verbatim.

Copies are STREAMED to the parquet file one at a time (pyarrow
ParquetWriter, one row group per copy) so peak memory is one copy of
one table, not the whole scaled table. One row group per copy also
gives downstream engines clean parallel scan units.

``tables=`` restricts generation to a subset (perfbench scales the
embeddings with fewer copies than the other tables).
"""

from __future__ import annotations

import os
import re

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SRC_DEFAULT = "/root/testdata/sf0.1"
DEST_DEFAULT = os.path.join(REPO, ".scaledata", "sf1")
COPIES = 10

#: per-table (shift_columns_by_their_own_stride, name_suffix_columns)
_KEYED = {
    "orders": (["o_orderkey", "o_custkey"], []),
    "lineitem": (["l_orderkey", "l_partkey", "l_suppkey"], []),
    "customer": (["c_custkey"], ["c_name"]),
    "supplier": (["s_suppkey"], ["s_name"]),
    "part": (["p_partkey"], ["p_name"]),
    # events scales like a fact table (round-8: the asof scale family):
    # shifting user_id adds NEW users with identical per-user series —
    # more users, not longer histories — so the asof join's
    # per-key fan-out stays constant while its shuffle-key cardinality
    # grows linearly, the realistic scale model for event streams.
    # Timestamps copy unchanged (the carry-forward window per user is
    # what the operator sorts; wall-clock span is irrelevant to cost).
    "events": (["event_id", "user_id"], []),
}

#: key columns must shift by the stride of the table that OWNS the key,
#: so foreign keys stay aligned across tables (l_custkey shift == the
#: customer table's c_custkey shift).
_KEY_OWNER_COL = {
    "o_orderkey": "o_orderkey",
    "l_orderkey": "o_orderkey",
    "o_custkey": "c_custkey",
    "c_custkey": "c_custkey",
    "l_partkey": "p_partkey",
    "p_partkey": "p_partkey",
    "l_suppkey": "s_suppkey",
    "s_suppkey": "s_suppkey",
    "event_id": "event_id",
    "user_id": "user_id",
}
_OWNER_TABLE = {
    "o_orderkey": "orders",
    "c_custkey": "customer",
    "p_partkey": "part",
    "s_suppkey": "supplier",
    "event_id": "events",
    "user_id": "events",
}


def _stream_copies(path: str, copies: int, make_copy) -> None:
    """Write ``copies`` dataframes (``make_copy(i)``) to one parquet
    file, one row group per copy — peak memory is a single copy."""
    writer = None
    try:
        for i in range(copies):
            table = pa.Table.from_pandas(make_copy(i), preserve_index=False)
            if writer is None:
                writer = pq.ParquetWriter(path, table.schema)
            writer.write_table(table)
    finally:
        if writer is not None:
            writer.close()


def generate(
    src: str = SRC_DEFAULT,
    dest: str = DEST_DEFAULT,
    copies: int = COPIES,
    tables: tuple[str, ...] | None = None,
) -> str:
    """Idempotent: a ``_SCALE_OK`` marker short-circuits regeneration —
    but only when the marker's recorded table subset covers the one
    requested now (a dest generated with ``tables=("orders",)`` must
    not silently satisfy a later ``tables=None`` full-set request)."""
    marker = os.path.join(dest, "_SCALE_OK")
    already: set[str] = set()
    if os.path.exists(marker):
        with open(marker) as fh:
            recorded = fh.read()
        # round-10 advice: parse the marker's FIELDS exactly instead of
        # substring membership over the whole line — a src path
        # containing a table name, or a table whose name is a substring
        # of another (part/partsupp), must not skip generation; and a
        # dest built at a different copies/src must never be widened
        # with mismatched tables (content is a pure function of the
        # inputs, so incompatible dirs regenerate from scratch rather
        # than raising).
        m = re.match(
            r"v=(\d+) copies=(\d+) src=(.*?) tables=(all|\(.*\))\s*$",
            recorded.strip(),
            re.DOTALL,
        )
        parsed_ok = (
            m is not None
            and m.group(1) == "2"
            and int(m.group(2)) == copies
            and m.group(3) == src
        )
        if not parsed_ok:
            import shutil

            shutil.rmtree(dest)
        else:
            if m.group(4) == "all":
                recorded_set: set[str] | None = None  # full set
            else:
                import ast

                recorded_set = set(ast.literal_eval(m.group(4)))
            covered = recorded_set is None or (
                tables is not None and set(tables) <= recorded_set
            )
            if covered:
                return dest
            # a WIDER request than the recorded subset generates only
            # the MISSING tables — the existing files stay valid and
            # the marker records the union.
            already = recorded_set or set()
    os.makedirs(dest, exist_ok=True)

    def wanted(t: str) -> bool:
        if t in already:
            return False
        return tables is None or t in tables

    # strides from the key-owning tables (max + 1 keeps keys disjoint).
    # Load every stride the TO-BE-GENERATED tables reference — not just
    # strides of tables being generated: in the widening path a missing
    # fact table may shift keys owned by an already-present dimension
    # (the owner's stride still comes from src, which holds it).
    needed_cols = {
        col for t, (kc, _nc) in _KEYED.items() if wanted(t) for col in kc
    }
    strides: dict[str, int] = {}
    for owner_col in {_KEY_OWNER_COL[c] for c in needed_cols}:
        table = _OWNER_TABLE[owner_col]
        s = pd.read_parquet(os.path.join(src, f"{table}.parquet"), columns=[owner_col])
        strides[owner_col] = int(s[owner_col].max()) + 1

    for table, (key_cols, name_cols) in _KEYED.items():
        if not wanted(table):
            continue
        df = pd.read_parquet(os.path.join(src, f"{table}.parquet"))

        def copy_keyed(i: int, df=df, key_cols=key_cols, name_cols=name_cols):
            if i == 0:
                return df
            c = df.copy()
            for col in key_cols:
                c[col] = c[col] + i * strides[_KEY_OWNER_COL[col]]
            for col in name_cols:
                c[col] = c[col] + f"#{i}"
            return c

        _stream_copies(os.path.join(dest, f"{table}.parquet"), copies, copy_keyed)
        del df

    if wanted("documents"):
        docs = pd.read_parquet(os.path.join(src, "documents.parquet"))
        doc_stride = int(docs["doc_id"].max()) + 1

        def copy_docs(i: int):
            if i == 0:
                return docs
            c = docs.copy()
            c["doc_id"] = c["doc_id"] + i * doc_stride
            c["text"] = c["text"].str.replace(" ", f" q{i}", regex=False)
            c["n_chars"] = c["text"].str.len()
            return c

        _stream_copies(os.path.join(dest, "documents.parquet"), copies, copy_docs)

    if wanted("embeddings"):
        emb = pd.read_parquet(os.path.join(src, "embeddings.parquet"))
        vec_stride = int(emb["vec_id"].max()) + 1
        mat = np.stack(emb["embedding"].to_numpy())

        def copy_emb(i: int):
            if i == 0:
                return emb
            c = emb.copy()
            c["vec_id"] = c["vec_id"] + i * vec_stride
            c["embedding"] = list(np.roll(mat, i, axis=1))
            return c

        _stream_copies(os.path.join(dest, "embeddings.parquet"), copies, copy_emb)

    for table in ("nation", "region"):
        if wanted(table):
            pd.read_parquet(os.path.join(src, f"{table}.parquet")).to_parquet(
                os.path.join(dest, f"{table}.parquet"), index=False
            )
    recorded_tables = (
        "all" if tables is None else tuple(sorted(set(tables) | already))
    )
    with open(marker, "w") as fh:
        fh.write(f"v=2 copies={copies} src={src} tables={recorded_tables}\n")
    return dest


if __name__ == "__main__":
    import sys

    out = generate(*(sys.argv[1:3]))
    for f in sorted(os.listdir(out)):
        p = os.path.join(out, f)
        print(f, os.path.getsize(p))

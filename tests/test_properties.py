"""Property-based tests (hypothesis) for the engine's pure components —
a testing layer the reference lacks entirely (SURVEY.md §5)."""

from hypothesis import given, settings
from hypothesis import strategies as st

from arnab_spark.depparse import get_sql_references
from arnab_spark.node import Node, format_elapsed

from arnab_spark.depparse import _CLAUSE_KEYWORDS, _NOT_A_RELATION

ident = st.from_regex(r"[A-Za-z_][A-Za-z0-9_]{0,15}", fullmatch=True).filter(
    lambda s: s.lower() not in (_CLAUSE_KEYWORDS | _NOT_A_RELATION | {"from", "where"})
)


@given(st.text(max_size=300))
@settings(max_examples=200, deadline=None)
def test_depparse_never_crashes(sql):
    refs = get_sql_references(sql)
    assert isinstance(refs, set)


@given(ident)
@settings(max_examples=100, deadline=None)
def test_depparse_finds_simple_from(table):
    assert table in get_sql_references(f"SELECT * FROM {table}")


@given(ident, ident)
@settings(max_examples=100, deadline=None)
def test_depparse_finds_join_pair(a, b):
    refs = get_sql_references(f"SELECT * FROM {a} JOIN {b} ON {a}.x = {b}.x")
    assert {a, b} <= refs


@given(ident)
@settings(max_examples=50, deadline=None)
def test_depparse_ignores_names_inside_strings(table):
    refs = get_sql_references(f"SELECT * FROM real_t WHERE c = 'FROM {table}'")
    assert refs == {"real_t"} or table == "real_t"


@given(st.lists(st.text(alphabet=st.characters(exclude_characters=";'\"`"), max_size=30), min_size=1, max_size=5))
@settings(max_examples=200, deadline=None)
def test_split_statements_roundtrip(parts):
    """Joining statements with ';' and re-splitting yields the non-empty
    trimmed originals, regardless of content (string and identifier
    quotes excluded here; quote-handling has its own tests)."""
    joined = ";".join(parts)
    expected = [p.strip() for p in parts if p.strip()]
    assert Node.split_statements(joined) == expected


@given(st.text(max_size=60))
@settings(max_examples=100, deadline=None)
def test_split_statements_preserves_quoted_semicolons(payload):
    payload = payload.replace("'", "")
    stmt = f"SELECT '{payload};{payload}' AS x"
    assert Node.split_statements(stmt) == [stmt]


@given(st.text(max_size=60), st.sampled_from(['"', "`"]))
@settings(max_examples=100, deadline=None)
def test_split_and_strip_keep_quoted_identifiers(payload, quote):
    payload = payload.replace(quote, "")
    stmt = f"SELECT {quote}{payload};--/*{payload}{quote} AS x"
    assert Node.split_statements(stmt) == [stmt.strip()]
    assert Node.strip_comments(stmt) == stmt


@given(st.floats(min_value=0, max_value=86400, allow_nan=False))
@settings(max_examples=100, deadline=None)
def test_format_elapsed_total(seconds):
    out = format_elapsed(seconds)
    assert out and any(out.endswith(u) for u in ("ms", "s")) and "-" not in out


# --- oracle-harness canonicalization invariants ----------------------

import pandas as pd

from arnab_spark.oracle import compare_frames

cell = st.one_of(
    st.integers(min_value=-10**9, max_value=10**9),
    st.floats(allow_nan=False, allow_infinity=False, width=64),
    st.text(max_size=8),
    st.none(),
)


@given(st.lists(st.tuples(cell, cell), min_size=1, max_size=8))
@settings(max_examples=100, deadline=None)
def test_compare_reflexive_and_order_insensitive(rows):
    a = pd.DataFrame(rows, columns=["x", "y"], dtype=object)
    b = a.iloc[::-1].reset_index(drop=True)  # reversed row order
    assert compare_frames("refl", a, a).ok
    assert compare_frames("perm", a, b).ok


@given(st.lists(st.tuples(st.integers(0, 100)), min_size=1, max_size=6))
@settings(max_examples=100, deadline=None)
def test_compare_detects_changed_cell(rows):
    a = pd.DataFrame(rows, columns=["x"], dtype=object)
    b = a.copy()
    b.loc[0, "x"] = b.loc[0, "x"] + 1
    r = compare_frames("mut", a, b)
    assert not r.ok


def test_compare_detects_int_float_divergence():
    a = pd.DataFrame({"x": pd.array([3, 0], dtype="int64")})
    b = pd.DataFrame({"x": pd.array([3.0, 0.0], dtype="float64")})
    assert not compare_frames("intfloat", a, b).ok  # incl. the zero row


def test_compare_detects_column_rename():
    a = pd.DataFrame({"x": [1]})
    b = pd.DataFrame({"y": [1]})
    assert not compare_frames("cols", a, b).ok


# ---------------------------------------------------------------------
# Training-data operator invariants (cross-implementation: invariants
# recomputed in plain Python/pandas, not by re-running the Spark logic)

import hashlib
import math

_HEXD = "0123456789abcdef"


@given(st.lists(st.integers(-(10**9), 10**9), min_size=1, max_size=40, unique=True))
@settings(max_examples=8, deadline=None)
def test_hash_split_matches_python_md5(spark, ids):
    """Spark's md5-derived bucket must equal hashlib's for every id —
    the cross-engine determinism the splitter promises."""
    from arnab_spark.operators import hash_split

    df = spark.createDataFrame([(i,) for i in ids], "id bigint")
    got = {r.id: (r.bucket, r.split) for r in hash_split(df, "id").collect()}
    for i in ids:
        hx = hashlib.md5(str(i).encode()).hexdigest()
        bucket = _HEXD.index(hx[0]) * 16 + _HEXD.index(hx[1])
        split = "train" if bucket < 230 else ("val" if bucket < 243 else "test")
        assert got[i] == (bucket, split)


@given(
    st.lists(
        st.tuples(st.sampled_from(["s0", "s1", "s2"]), st.integers(1, 400)),
        min_size=1,
        max_size=50,
    ),
    st.integers(1, 250),
)
@settings(max_examples=8, deadline=None)
def test_pack_sequences_invariants(spark, rows, budget):
    """pack_id must equal exclusive-prefix-sum // budget (recomputed in
    Python), be nondecreasing per shard, and cum_tokens must be the
    inclusive prefix sum."""
    from arnab_spark.operators import pack_sequences

    data = [(shard, seq, toks) for seq, (shard, toks) in enumerate(rows)]
    df = spark.createDataFrame(data, "shard string, seq int, toks int")
    got = sorted(
        (
            (r.shard, r.seq, r.toks, r.cum_tokens, r.pack_id)
            for r in pack_sequences(df, "toks", "seq", "shard", budget=budget).collect()
        )
    )
    cums: dict[str, int] = {}
    for shard, _seq, toks, cum, pack in got:
        prev = cums.get(shard, 0)
        assert cum == prev + toks
        assert pack == prev // budget
        cums[shard] = cum


@given(
    st.lists(
        st.tuples(st.sampled_from(["x", "y"]), st.integers(0, 10**6)),
        min_size=1,
        max_size=40,
        unique_by=lambda t: t[1],
    ),
    st.integers(1, 5),
    st.integers(5, 10),
)
@settings(max_examples=8, deadline=None)
def test_stratified_sample_exact_sizes(spark, rows, num, den):
    """Exactly ceil(n·num/den) rows per stratum, all drawn from the
    stratum, regardless of fraction."""
    from arnab_spark.operators import stratified_sample

    df = spark.createDataFrame(rows, "g string, id bigint")
    out = stratified_sample(df, "g", "id", num, den).collect()
    by_g: dict[str, set] = {}
    for g, i in rows:
        by_g.setdefault(g, set()).add(i)
    got: dict[str, set] = {}
    for r in out:
        got.setdefault(r.g, set()).add(r.id)
    assert set(got) == set(by_g)
    for g, members in by_g.items():
        assert len(got[g]) == math.ceil(len(members) * num / den)
        assert got[g] <= members

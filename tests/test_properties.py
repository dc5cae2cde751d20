"""Property-based tests (hypothesis) for the engine's determinism kernels —
the parts where a single wrong edge case silently breaks oracle parity."""

import math
import re

from hypothesis import example, given, settings
from hypothesis import strategies as st

from agentic_data_pipeline_spark.plans.dialect import (
    duckdb_to_spark_sql, strip_markdown_fences,
)

sql_text = st.text(
    alphabet=st.characters(blacklist_characters="`", codec="ascii"),
    min_size=1, max_size=200,
).filter(lambda s: s.strip())


@given(sql_text)
@settings(max_examples=200, deadline=None)
def test_fence_stripping_roundtrip(sql):
    """Fenced SQL always unwraps to the original (reference agent.py:46)."""
    assert strip_markdown_fences(f"```sql\n{sql}\n```") == sql.strip().rstrip(";")
    assert strip_markdown_fences(f"```\n{sql}\n```") == sql.strip().rstrip(";")


@given(sql_text)
@example("0\r;")   # whitespace before the ';' strip_markdown_fences drops
@example("//")     # rewrite pads the edges: ' div '
@settings(max_examples=100, deadline=None)
def test_dialect_shim_idempotent_on_sparkish_sql(sql):
    """Rewriting twice == rewriting once for text without DuckDB-isms."""
    if re.search(r"\b(len|log|ln|string_split|json_extract_string|list_contains)\s*\(",
                 sql, re.I):
        return
    once = duckdb_to_spark_sql(sql)
    assert duckdb_to_spark_sql(once) == once


# 2dp money values in the engine's supported range
money_2dp = st.integers(min_value=-10**12, max_value=10**12).map(lambda c: c / 100)


@given(st.lists(money_2dp, min_size=1, max_size=50))
@settings(max_examples=200, deadline=None)
def test_cents_conversion_is_exact(values):
    """round(x*100) recovers the integer cents exactly for every 2dp double
    — the foundation of the fixed-point aggregation (helpers.cents)."""
    for v in values:
        c = round(v * 100)
        assert math.isclose(c / 100, v, rel_tol=0, abs_tol=0)
        # and the float detour never lands on a .5 tie
        assert abs(v * 100 - c) < 0.499


@given(st.lists(st.text(alphabet="ab ", min_size=1, max_size=30),
                min_size=1, max_size=20))
@settings(max_examples=100, deadline=None)
def test_jaccard_reference_properties(texts):
    """Pure-python mirror of operators.dedup.jaccard invariants: bounds,
    symmetry, identity — checked over adversarially tiny token alphabets."""
    def shingles(t):
        toks = [x for x in t.split() if x]
        if not toks:
            return set()
        return {" ".join(toks[i:i + 3]) for i in range(max(len(toks) - 2, 1))}

    sets = [shingles(t) for t in texts]
    for a in sets:
        for b in sets:
            if not a or not b:
                continue
            j = len(a & b) / len(a | b)
            jb = len(b & a) / len(b | a)
            assert 0.0 <= j <= 1.0 and j == jb
        if a:
            assert len(a & a) / len(a | a) == 1.0


# Arbitrary token-ish strings (ascii, no quotes — they go into SQL literals)
token_text = st.text(
    alphabet=st.characters(codec="ascii", min_codepoint=33, max_codepoint=126,
                           blacklist_characters="'\\\""),
    min_size=1, max_size=40,
)


@given(st.lists(token_text, min_size=1, max_size=20, unique=True),
       st.sampled_from([16, 100, 1001, 10_000]))
@settings(max_examples=50, deadline=None)
def test_duck_bucket_decode_matches_md5_semantics(tokens, buckets):
    """The DuckDB list_reduce hex-decode in _duck_bucket must equal
    int(md5(s)[:8], 16) % buckets for ANY string — the engine-portability
    kernel every sampling/sharding/classifier oracle stands on (a wrong
    decode would silently diverge only on inputs whose hash hits the
    affected hex digit)."""
    import hashlib

    import duckdb

    from agentic_data_pipeline_spark.operators.sampling import _duck_bucket

    con = duckdb.connect()
    for t in tokens:
        expect = int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % buckets
        got = con.execute(
            f"SELECT {_duck_bucket(f'''{t!r}''', buckets)}").fetchone()[0]
        assert got == expect, (t, buckets)


@given(st.lists(st.tuples(st.integers(0, 1_000_000),
                          st.integers(0, 50)),  # (id, sim-rank bucket)
                min_size=2, max_size=30, unique_by=lambda x: x[0]))
@settings(max_examples=200, deadline=None)
def test_knn_batch_lexsort_tiebreak_matches_sql_ordering(pairs):
    """np.lexsort((ids, -sims)) — the BLAS twin's top-k ordering — must
    equal ORDER BY sim DESC, id ASC (the oracle-checked window ordering)
    including under heavy sim ties."""
    import numpy as np

    ids = np.array([p[0] for p in pairs])
    sims = np.array([p[1] / 10.0 for p in pairs])  # coarse -> many ties
    lex = list(np.lexsort((ids, -sims)))
    ref = sorted(range(len(pairs)), key=lambda i: (-sims[i], ids[i]))
    assert lex == ref


finite_f32 = st.floats(allow_nan=False, allow_infinity=False, width=32)


@given(st.lists(finite_f32, min_size=1, max_size=64))
@settings(max_examples=300, deadline=None)
def test_int8_quantize_formula_invariants(xs):
    """The int8 codec formula (vector_store.quantize_int8 and its DuckDB
    oracle compute exactly this in doubles): codes never escape
    [-127, 127] — floor(x/scale + 0.5) cannot reach ±128 because
    |x/scale| ≤ 127(1+ulp) — and reconstruction stays within the
    half-step bound the oracle's recon_ok boolean asserts."""
    import numpy as np

    x = np.asarray(xs, dtype=np.float32).astype(np.float64)
    scale = float(np.max(np.abs(x))) / 127.0
    if scale == 0.0 or not math.isfinite(scale):
        # all-zero vector → all-zero code by the CASE guard; infinite
        # scale (|x| near float32 max) is outside the embedding domain
        return
    q = np.floor(x / scale + 0.5)
    assert (np.abs(q) <= 127).all(), (xs, q)
    assert (np.abs(x - q * scale) <= scale * 0.5000001 + 1e-18).all()

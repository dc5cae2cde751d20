"""Run every registered op at sf0.001 and hash-compare against its DuckDB
oracle — the local pre-check for the driver's CORRECTNESS gate. Rows-only
ops (no oracle) are checked for successful execution + stable schema.
The exact-cosine family is also compared at sf0.01, the driver's scale."""

import pytest

from agentic_data_pipeline_spark.registry import OPS, _ensure_loaded
from tests.conftest import SF_CORRECT, SF_SMOKE
from tests.parity_util import compare, duck_connect

_ensure_loaded()
ORACLE_OPS = sorted(k for k, v in OPS.items() if v.oracle is not None)
ROWS_ONLY_OPS = sorted(k for k, v in OPS.items() if v.oracle is None)


@pytest.fixture(scope="module")
def duck():
    con = duck_connect(SF_SMOKE)
    yield con
    con.close()


@pytest.mark.parametrize("op_id", ORACLE_OPS)
def test_oracle_parity(spark, duck, op_id):
    compare(OPS[op_id].fn(spark, SF_SMOKE), duck, OPS[op_id].oracle)


@pytest.mark.parametrize("op_id", ROWS_ONLY_OPS)
def test_rows_only_runs(spark, op_id):
    df = OPS[op_id].fn(spark, SF_SMOKE)
    rows = df.collect()
    assert rows is not None
    assert len(df.schema.fields) > 0


# Second op ids of the exact-cosine family → the op whose body each runs.
COSINE_ALIASES = {
    "vector_search_batch": "vector_search",
    "ext_similarity_topk_batch": "ext_similarity_topk",
    "ext_knn_graph_batch": "ext_knn_graph",
    "ext_embed_word2vec": "vector_index",
}
COSINE_OPS = sorted([*COSINE_ALIASES, *COSINE_ALIASES.values(),
                     "ext_dedup_embedding", "ext_dedup_components",
                     "ext_dedup_components_star"])


@pytest.fixture(scope="module")
def duck_correct():
    con = duck_connect(SF_CORRECT)
    yield con
    con.close()


@pytest.mark.parametrize("op_id", COSINE_OPS)
def test_oracle_parity_sf_correct(spark, duck_correct, op_id):
    compare(OPS[op_id].fn(spark, SF_CORRECT), duck_correct, OPS[op_id].oracle)


@pytest.mark.parametrize("op_id", sorted(COSINE_ALIASES))
def test_cosine_alias_ids_share_one_body(op_id):
    body = OPS[COSINE_ALIASES[op_id]]
    assert OPS[op_id].fn is body.fn
    assert OPS[op_id].oracle == body.oracle
    assert OPS[op_id].driver_visible and body.driver_visible

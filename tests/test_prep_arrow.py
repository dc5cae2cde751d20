"""Pin the r12 Arrow front-end of ext_training_prep_pipeline to its
Catalyst twin: the mapInArrow scored→kept pass (_prep_kept_batches) must
produce the EXACT (doc_id, n_tokens, fp) set the pure-Catalyst form
(_prep_kept_jvm) produces — the bit-identity contract the rewrite
shipped under (2d4da17:scripts/probe_prep_arrow.py asserted it on 472,100
sf10 rows; this test keeps it pinned on the driver tiers every run)."""

import os

from tests.conftest import SF_CORRECT, SF_SMOKE

from agentic_data_pipeline_spark.operators.prep import (
    _prep_kept_jvm, ext_training_prep_pipeline,
)
from agentic_data_pipeline_spark.operators.prep import _prep_kept_batches
from agentic_data_pipeline_spark.catalog import load_table


def _whitespace_corners(spark, docs):
    """Two lake survivors re-spaced with \\x0b and multi-space runs. The
    Catalyst fp collapses java's \\s+, which includes \\x0b (RE2's \\s
    does not), so these rows pin the Arrow form's whitespace class."""
    base = [r["text"] for r in _prep_kept_jvm(docs)
            .join(docs, "doc_id").orderBy("doc_id").limit(2)
            .select("text").collect()]
    assert len(base) == 2, "too few survivors to build the corner rows"
    rows = [
        (1, "a\x0bb  c " + base[0]),           # \x0b mid-run, double space
        (2, base[1].replace(" ", "\x0b ", 3)),  # \x0b before spaces
        (3, "\x0b" + base[1] + "\x0b\x0b"),     # \x0b at both ends
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_prep_arrow_kept_set_matches_catalyst(spark):
    inputs = [(sf, load_table(spark, sf, "documents"))
              for sf in (SF_SMOKE, SF_CORRECT)
              if os.path.exists(os.path.join(sf, "documents.parquet"))]
    inputs.append(("\\x0b corners", _whitespace_corners(spark, inputs[0][1])))
    for name, docs in inputs:
        arrow = docs.select("doc_id", "text").mapInArrow(
            _prep_kept_batches, "doc_id bigint, n_tokens bigint, fp string")
        a = sorted(map(tuple, arrow.collect()))
        j = sorted(map(tuple, _prep_kept_jvm(docs).collect()))
        assert a, f"{name}: empty kept set — the filter check is vacuous"
        assert a == j, f"{name}: Arrow kept set diverges from Catalyst"


def test_prep_pipeline_emits_all_16_shards(spark):
    out = ext_training_prep_pipeline(spark, SF_SMOKE).collect()
    shards = {r["shard"] for r in out}
    assert len(out) == len(shards)  # one row per shard
    assert all(0 <= s < 16 for s in shards)

"""Regression guards for the round-3 advisor findings: the lake is
regenerated between rounds (events.ts has shipped as both INT64-nanos and
TIMESTAMP), so scratch caches must invalidate on lake change and every
events consumer — batch AND stream — must read either ts variant.
"""

from __future__ import annotations

import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------- ingest cache

def test_materialize_once_invalidates_on_source_change(tmp_path):
    from agentic_data_pipeline_spark.operators.reference_ops import (
        _materialize_once,
    )

    target = str(tmp_path / "out.txt")
    calls = []

    def write():
        calls.append(1)
        with open(target, "w") as f:
            f.write("payload")

    _materialize_once(target, write, fingerprint="gen1")
    _materialize_once(target, write, fingerprint="gen1")
    assert len(calls) == 1, "same fingerprint must hit the cache"

    _materialize_once(target, write, fingerprint="gen2")
    assert len(calls) == 2, "lake regeneration must invalidate the cache"


def test_materialize_once_rewrites_after_partial_write(tmp_path):
    """A crashed writer leaves the file but no sidecar → next call rewrites
    (the r2 failure mode: a partial xlsx passing os.path.isfile forever)."""
    from agentic_data_pipeline_spark.operators.reference_ops import (
        _materialize_once,
    )

    target = str(tmp_path / "out.bin")
    with open(target, "w") as f:
        f.write("HALF-WRIT")          # simulated crash: file, no sidecar
    calls = []

    def write():
        calls.append(1)
        with open(target, "w") as f:
            f.write("complete")

    _materialize_once(target, write, fingerprint="gen1")
    assert calls and open(target).read() == "complete"


def test_lake_fp_changes_with_mtime(tmp_path):
    from agentic_data_pipeline_spark.operators.reference_ops import _lake_fp

    src = tmp_path / "events.parquet"
    src.write_bytes(b"v1")
    fp1 = _lake_fp(str(tmp_path), "events")
    time.sleep(0.01)
    src.write_bytes(b"v2-regenerated")   # new size + mtime
    assert _lake_fp(str(tmp_path), "events") != fp1

    # a directory table whose part file is rewritten in place (here with an
    # added column): the directory's own mtime does not move
    lake = tmp_path / "dir_lake"
    part = lake / "events.parquet" / "part-0.parquet"
    part.parent.mkdir(parents=True)
    pq.write_table(pa.table({"k": [1, 2]}), str(part))
    fp1 = _lake_fp(str(lake), "events")
    dir_mtime = os.stat(part.parent).st_mtime_ns
    pq.write_table(pa.table({"k": [1, 2], "v": ["a", "b"]}), str(part))
    assert os.stat(part.parent).st_mtime_ns == dir_mtime
    assert _lake_fp(str(lake), "events") != fp1


# ------------------------------------------------- nanos-lake stream read

def _write_nanos_events(path: str, spark) -> None:
    """events with ts as INT64 TIMESTAMP(NANOS) — the r1 lake variant."""
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    pdf = ev.toPandas()
    table = pa.Table.from_pandas(pdf)
    idx = table.schema.get_field_index("ts")
    ns = table.column("ts").cast(pa.timestamp("ns"))
    table = table.set_column(idx, pa.field("ts", pa.timestamp("ns")), ns)
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-0.parquet"),
                   version="2.6", coerce_timestamps=None)
    sch = pq.read_schema(os.path.join(path, "part-0.parquet"))
    assert str(sch.field("ts").type) == "timestamp[ns]"


def test_stream_reads_both_ts_variants(spark, tmp_path):
    """stream_tumbling_agg must produce identical buckets from the
    TIMESTAMP(µs) lake and an INT64-nanos copy of it — the footer-sniffing
    events_stream + catalog conversion, not a hard-coded schema."""
    from agentic_data_pipeline_spark.operators.streaming_ops import (
        _as_stream_dir,
    )
    from agentic_data_pipeline_spark.streaming.windows import run_to_memory
    from agentic_data_pipeline_spark.streaming.windows import (
        stream_tumbling_agg,
    )

    nanos_dir = str(tmp_path / "nanos_events")
    _write_nanos_events(nanos_dir, spark)

    us_dir = _as_stream_dir("/root/testdata/sf0.001/events.parquet")
    run_to_memory(stream_tumbling_agg(spark, us_dir), "t_us_variant")
    run_to_memory(stream_tumbling_agg(spark, nanos_dir), "t_ns_variant")

    us = {tuple(r) for r in spark.table("t_us_variant").collect()}
    ns = {tuple(r) for r in spark.table("t_ns_variant").collect()}
    assert us == ns and us


def test_batch_ts_helpers_read_nanos_lake(spark, tmp_path):
    """catalog.ts_us_long on the nanos variant equals the µs variant."""
    from agentic_data_pipeline_spark.catalog import ts_us_long

    nanos_dir = str(tmp_path / "nanos_events_b")
    _write_nanos_events(nanos_dir, spark)
    us_ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    ns_ev = spark.read.parquet(nanos_dir)
    us = {r[0] for r in
          us_ev.select(ts_us_long(us_ev).alias("x")).collect()}
    ns = {r[0] for r in
          ns_ev.select(ts_us_long(ns_ev).alias("x")).collect()}
    assert us == ns and us


# ------------------------------------------------- multimodal fixture precondition

def test_documents_text_ascii_precondition():
    """ext_resize / ext_multimodal / ext_frame_sample oracles compare
    char-based DuckDB substrings against byte-based Spark payloads; the
    equivalence requires every documents.text to be pure ASCII with no
    trailing NUL (r3-advisor finding). A byte-level oracle would NOT fix a
    violation — Spark's own decode->strip->encode round-trip is lossy for
    split multibyte chars — so the precondition must fail LOUDLY when the
    regenerated lake breaks it, at every tier the driver checks."""
    import duckdb

    con = duckdb.connect(database=":memory:")
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        path = f"/root/testdata/{sf}/documents.parquet"
        if not os.path.exists(path):
            continue
        bad, nul = con.execute(
            "SELECT sum(CASE WHEN NOT regexp_matches(text, '^[\\x00-\\x7F]*$') "
            "THEN 1 ELSE 0 END), "
            "sum(CASE WHEN text LIKE '%' || chr(0) THEN 1 ELSE 0 END) "
            f"FROM read_parquet('{path}')"
        ).fetchone()
        assert not bad, f"{sf}: {bad} non-ASCII documents.text rows"
        assert not nul, f"{sf}: {nul} trailing-NUL documents.text rows"
        # r12: the curation quality branch (both the Catalyst twin and
        # the Arrow form) divides by n_chars — zero-length text would
        # ANSI-error one form and NaN-drop the other, so the equivalence
        # rests on this precondition failing loudly (see
        # tests/test_curation_q_arrow.py::test_curation_q_empty_text_is_out_of_contract)
        n_empty, n_null = con.execute(
            "SELECT sum(CASE WHEN length(text) = 0 THEN 1 ELSE 0 END), "
            "sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) "
            f"FROM read_parquet('{path}')"
        ).fetchone()
        assert not n_empty, f"{sf}: {n_empty} empty documents.text rows"
        assert not n_null, f"{sf}: {n_null} NULL documents.text rows"


def test_lineitem_part_fk_precondition():
    """q14's promo-flag rewrite (analytics.py) is row-identical to its
    declared inner join ONLY under l_partkey→part referential integrity
    (r11 verdict "what's wrong" item 1). The TPC-H-shaped lakes satisfy
    it by construction (replica key shifts apply to both sides), but the
    invariant is data-dependent — so it must fail LOUDLY at load-probe
    time on every tier the driver checks, not via an oracle hash
    mismatch. If this test ever goes red, revert q14 to the inner join."""
    import duckdb

    con = duckdb.connect(database=":memory:")
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        li = f"/root/testdata/{sf}/lineitem.parquet"
        pt = f"/root/testdata/{sf}/part.parquet"
        if not (os.path.exists(li) and os.path.exists(pt)):
            continue
        orphans = con.execute(
            f"SELECT count(*) FROM read_parquet('{li}') l "
            f"WHERE l.l_partkey IS NULL OR l.l_partkey NOT IN "
            f"(SELECT p_partkey FROM read_parquet('{pt}'))"
        ).fetchone()[0]
        assert orphans == 0, (
            f"{sf}: {orphans} lineitem rows violate the l_partkey→part FK "
            "— q14_promo_revenue's left-join-match flag is no longer "
            "equivalent to the declared inner join; revert it")


def test_stream_upsert_reads_nanos_lake(spark, tmp_path):
    """stream_upsert (split-dir write → streaming read → foreachBatch
    merges) must produce the identical final state from an INT64-nanos
    events lake as from the µs TIMESTAMP lake — every hop (load_table,
    repartitionByRange on ts, footer-sniffed stream schema, ts_us_long)
    has to tolerate the variant."""
    from agentic_data_pipeline_spark.registry import OPS, _ensure_loaded

    _ensure_loaded()
    nanos_sf = str(tmp_path / "nanos_sf")
    _write_nanos_events(os.path.join(nanos_sf, "events.parquet"), spark)

    us = {tuple(r) for r in
          OPS["stream_upsert"].fn(spark, "/root/testdata/sf0.001").collect()}
    ns = {tuple(r) for r in
          OPS["stream_upsert"].fn(spark, nanos_sf).collect()}
    assert us == ns and us

"""catalog.read_files: a schema is inferred once per unchanged input.

- a second read of the same unchanged input starts no Spark job
  (load_table, ingest csv/json);
- rewriting a file table or a directory table's part file in place
  re-infers, and the read returns the new schema and rows;
- the session confs that change inference are part of the key;
- a cache-hit read equals a fresh ``spark.read.parquet`` on every fixture
  table, the nanos events variant and a partitioned bronze directory;
- missing-path contracts and the entry bound hold, also under threads.
"""

from __future__ import annotations

import os
import shutil
import sys
import threading
import uuid

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

from agentic_data_pipeline_spark import catalog
from agentic_data_pipeline_spark.catalog import (
    TABLES, load_table, path_fingerprint, read_files, table_path,
)
from agentic_data_pipeline_spark.sources import (
    ingest, read_bronze, write_bronze,
)
from conftest import SF_SMOKE as SF
from test_lake_robustness import _write_nanos_events


def _jobs(spark, fn):
    """(result, number of Spark jobs ``fn`` started)."""
    sc = spark.sparkContext
    group = f"schema-cache-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df):
    return sorted(map(repr, df.collect()))


def test_second_read_of_unchanged_input_starts_no_job(spark, tmp_path):
    # a fresh copy, so the first read misses whatever ran before
    lake = tmp_path / "lake"
    lake.mkdir()
    shutil.copy(table_path(SF, "nation"), table_path(str(lake), "nation"))
    first, n1 = _jobs(spark, lambda: load_table(spark, str(lake), "nation"))
    second, n2 = _jobs(spark, lambda: load_table(spark, str(lake), "nation"))
    assert n1 >= 1 and n2 == 0
    assert second.schema == first.schema and _rows(second) == _rows(first)

    pdf = pd.DataFrame({"sale_id": [1, 2, 3], "region": ["N", "S", "N"],
                        "revenue": [1.5, 2.25, 3.0]})
    csv, js = str(tmp_path / "sales.csv"), str(tmp_path / "sales.json")
    pdf.to_csv(csv, index=False)
    pdf.to_json(js, orient="records", lines=True)
    for path, fmt in ((csv, "csv"), (js, "json")):
        first, n1 = _jobs(spark, lambda: ingest(spark, path, fmt))
        second, n2 = _jobs(spark, lambda: ingest(spark, path, fmt))
        assert n1 >= 1 and n2 == 0, fmt
        assert second.schema == first.schema, fmt
        assert _rows(second) == _rows(first) and len(_rows(first)) == 3


def test_rewritten_input_is_reinferred(spark, tmp_path):
    """A directory's mtime does not move when a part file is rewritten in
    place, so only the per-file stats can see it."""
    lake = str(tmp_path / "lake")
    os.makedirs(os.path.join(lake, "d.parquet"))
    targets = {"f": table_path(lake, "f"),
               "d": os.path.join(table_path(lake, "d"), "part-0.parquet")}
    old = pa.table({"k": [1, 2]})
    new = pa.table({"k": [1, 2, 3], "v": ["a", "b", "c"]})
    for path in targets.values():
        pq.write_table(old, path)
    for name in targets:
        for _ in range(2):  # the second read is a cache hit
            df = load_table(spark, lake, name)
            assert df.columns == ["k"] and df.count() == 2
    dir_mtime = os.stat(table_path(lake, "d")).st_mtime_ns
    for path in targets.values():
        pq.write_table(new, path)
    assert os.stat(table_path(lake, "d")).st_mtime_ns == dir_mtime
    for name in targets:
        df = load_table(spark, lake, name)
        assert df.columns == ["k", "v"], name
        assert sorted(map(tuple, df.collect())) == [
            (1, "a"), (2, "b"), (3, "c")], name


def _flipped(spark, key, value, fn):
    before = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        return fn()
    finally:
        spark.conf.set(key, before)


def test_inference_confs_are_part_of_the_key(spark, tmp_path):
    nanos = str(tmp_path / "nanos_events")
    _write_nanos_events(nanos, spark)
    assert isinstance(read_files(spark, "parquet", nanos).schema["ts"].dataType,
                      LongType)
    # nanos without nanosAsLong is unreadable: a re-inference fails, where a
    # cached LongType schema would have been served silently
    with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
        _flipped(spark, "spark.sql.legacy.parquet.nanosAsLong", "false",
                 lambda: read_files(spark, "parquet", nanos))
    assert isinstance(read_files(spark, "parquet", nanos).schema["ts"].dataType,
                      LongType)

    us = str(tmp_path / "events.parquet")
    shutil.copy(table_path(SF, "events"), us)
    ntz = "spark.sql.parquet.inferTimestampNTZ.enabled"
    assert isinstance(read_files(spark, "parquet", us).schema["ts"].dataType,
                      TimestampNTZType)
    ltz = _flipped(spark, ntz, "false",
                   lambda: read_files(spark, "parquet", us).schema)
    assert isinstance(ltz["ts"].dataType, TimestampType)


def test_cache_hit_equals_a_fresh_read(spark, tmp_path):
    nanos = str(tmp_path / "nanos_events")
    _write_nanos_events(nanos, spark)
    bronze = str(tmp_path / "bronze")
    write_bronze(load_table(spark, SF, "customer"), bronze, "customer",
                 partition_by=["c_mktsegment"])
    paths = [table_path(SF, t) for t in TABLES] + [nanos]
    reads = [(p, lambda p=p: read_files(spark, "parquet", p)) for p in paths]
    reads.append((bronze, lambda: read_bronze(spark, bronze, "customer")))
    for path, read in reads:
        read()
        hit, jobs = _jobs(spark, read)
        fresh = spark.read.parquet(
            os.path.join(bronze, "customer") if path == bronze else path)
        assert jobs == 0, path
        assert hit.schema == fresh.schema, path
        assert _rows(hit) == _rows(fresh), path


def test_missing_paths_keep_their_contracts(spark, tmp_path):
    missing = str(tmp_path / "nowhere")
    assert path_fingerprint(missing) is None
    with pytest.raises(Exception, match="PATH_NOT_FOUND"):
        load_table(spark, missing, "orders")
    assert read_bronze(spark, missing, "sales").columns == []


def test_cache_is_bounded(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(catalog, "_SCHEMAS", type(catalog._SCHEMAS)())
    monkeypatch.setattr(catalog, "_SCHEMA_CACHE_MAX", 2)
    for i in range(4):
        path = str(tmp_path / f"t{i}.parquet")
        pq.write_table(pa.table({"k": [i]}), path)
        read_files(spark, "parquet", path)
        read_files(spark, "parquet", path)
        assert len(catalog._SCHEMAS) <= 2
    assert [k[1] for k in catalog._SCHEMAS] == [
        str(tmp_path / "t2.parquet"), str(tmp_path / "t3.parquet")]


def test_concurrent_reads_keep_the_cache_consistent(spark, tmp_path,
                                                    monkeypatch):
    """More reader threads than cores over more inputs than the cache
    holds: every read returns its own input's schema and the bound holds."""
    monkeypatch.setattr(catalog, "_SCHEMAS", type(catalog._SCHEMAS)())
    monkeypatch.setattr(catalog, "_SCHEMA_CACHE_MAX", 2)
    paths = []
    for i in range(3):
        paths.append(str(tmp_path / f"t{i}.parquet"))
        pq.write_table(pa.table({f"c{i}": [i]}), paths[-1])
    errors: list = []

    def reader(n: int) -> None:
        try:
            for j in range(4):
                i = (n + j) % 3
                cols = read_files(spark, "parquet", paths[i]).columns
                if cols != [f"c{i}"]:
                    errors.append((paths[i], cols))
        except Exception as e:  # reported through the assertion below
            errors.append(e)

    before = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=reader, args=(n,))
                   for n in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(before)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert len(catalog._SCHEMAS) <= 2

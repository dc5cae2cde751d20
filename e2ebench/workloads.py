"""The three workloads: their inputs, their ops and each op's oracle.

An op is what one user call costs: ``build`` is the call into the package
(plan construction, plus any eager write), ``finish`` runs it to
completion and returns the result. ``rows`` turns a result into a pandas
frame for the digest, outside the timed region. ``oracle`` computes the
expected rows with DuckDB over the same inputs.
"""

from __future__ import annotations

import io
import itertools
import os
import random
from collections.abc import Callable
from dataclasses import dataclass, field

import duckdb
import pandas as pd

import inputs

# Workload input sizes, chosen so that a run (JVM start, a cold warm-up
# pass, one timed pass, the oracle checks) stays near a minute, since the
# benchmark's 48 runs must fit in 3420 s. README.md ("Input sizes") has the
# traced per-layer shares they were chosen by. analytics: at sf 0.1 the
# same layers lead with shares within 0.06 of these, and a run took 73 s
# instead of 60. corpus_prep: half the sf 0.1 corpus; at the full size the
# DuckDB oracle of ext_dedup_minhash_md5 alone took 20 s and a run 88 s.
ANALYTICS_SF = 0.02
CORPUS = {"sf": 0.002, "corpus_docs": 2500, "corpus_vectors": 1000,
          "replicas": 2, "dup_rate": 0.10}
UPLOAD = {"rows": 8000, "bad_email_rate": 0.05, "outlier_rate": 0.01}

# Six TPC-H plan shapes: scan-aggregate (q1), join with top-k (q3), the
# six-way join (q5), the profit join (q9), IN subquery (q18) and EXISTS /
# NOT EXISTS (q21). The other sixteen repeat these shapes at this size;
# running them too would more than double a run (README.md, "Run time and
# steadiness").
TPCH_OPS = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q9_product_profit", "q18_large_orders", "q21_waiting_suppliers",
]
# The corpus ops whose layers no other op covers: the Arrow boundary
# (minhash signatures, curation), the iterative driver loops (connected
# components, pagerank) and the plain shuffle dedup.
CORPUS_OPS = [
    "ext_dedup_exact", "ext_dedup_minhash_md5", "ext_dedup_clusters_bounded",
    "ext_curation_pipeline", "ext_pagerank",
]


class Passthrough(Exception):
    """The agent returned its input for a rule the data forces to act."""


@dataclass
class BenchOp:
    name: str
    build: Callable[[], object]
    finish: Callable[[object], object]
    rows: Callable[[object], pd.DataFrame]
    oracle: Callable[[], pd.DataFrame] | None = None
    check: Callable[[object], None] | None = None
    registry_op: bool = False


@dataclass
class Workload:
    name: str
    ops: list[BenchOp]
    ducks: list[duckdb.DuckDBPyConnection]
    # ops that must run first in every pass, in this order
    head: list[BenchOp] = field(default_factory=list)
    stats: dict = field(default_factory=dict)
    pipelines: list = field(default_factory=list)

    def order(self, rng: random.Random) -> list[BenchOp]:
        tail = list(self.ops)
        rng.shuffle(tail)
        return self.head + tail


def size_of(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def _lake_inputs(lake: str, rows: dict[str, int]) -> dict:
    return {t: {"rows": n, "bytes": size_of(os.path.join(lake, f"{t}.parquet"))}
            for t, n in rows.items()}


def generate(name: str, work: str, seed: int) -> dict:
    """Write the workload's inputs under ``work``; returns their sizes."""
    info: dict = {}
    if name == "analytics":
        lake = os.path.join(work, "lake")
        rows = inputs.build_lake(lake, seed, ANALYTICS_SF, 500, 200)
        info.update(lake=lake, tables=_lake_inputs(lake, rows),
                    adhoc=inputs.adhoc_queries(seed))
    if name == "corpus_prep":
        lake = os.path.join(work, "lake")
        rows = inputs.build_lake(lake, seed, **CORPUS)
        info.update(lake=lake, tables=_lake_inputs(lake, rows), **CORPUS)
    if name in ("analytics", "ingest_serve"):
        files = inputs.build_uploads(os.path.join(work, "upload"), seed, **UPLOAD)
        info.update(files=files, upload_bytes={k: size_of(p) for k, p in files.items()},
                    **UPLOAD, llm_threshold=round(random.Random(seed).uniform(100, 900), 2))
    return info


def _registry_op(spark, lake: str, duck, op_id: str) -> BenchOp:
    from agentic_data_pipeline_spark.registry import OPS

    op = OPS[op_id]
    return BenchOp(
        name=op_id, build=lambda: op.fn(spark, lake),
        finish=lambda df: df.toPandas(), rows=lambda pdf: pdf,
        oracle=(lambda: duck.execute(op.oracle).df()) if op.oracle else None,
        registry_op=True)


def prepare(name: str, spark, work: str, info: dict) -> Workload:
    """Register the inputs with the engine and build the op list."""
    if name == "ingest_serve":
        return _ingest_serve(spark, work, info)
    from agentic_data_pipeline_spark.catalog import register_views
    from tests.parity_util import duck_connect

    lake = info["lake"]
    views = register_views(spark, lake)
    duck = duck_connect(lake)
    if name == "corpus_prep":
        return Workload(name, [_registry_op(spark, lake, duck, i)
                               for i in CORPUS_OPS], [duck])
    # analytics runs the ingest_serve chain beside its reads: the write path
    # and the serving boundaries share the session with the scans
    wl = _ingest_serve(spark, work, info)
    wl.name = name
    wl.ops += [_registry_op(spark, lake, duck, i) for i in TPCH_OPS]
    wl.ops += [_adhoc_op(spark, views, duck, i, table, sql)
               for i, (table, sql) in enumerate(info["adhoc"])]
    wl.ducks.append(duck)
    return wl


def _adhoc_op(spark, views, duck, i: int, table: str, sql: str) -> BenchOp:
    from agentic_data_pipeline_spark.plans.dialect import sql_exec

    return BenchOp(
        name=f"adhoc{i}_{table}",
        build=lambda: sql_exec(spark, sql, df=views[table], dialect="duckdb"),
        finish=lambda df: df.toPandas(), rows=lambda pdf: pdf,
        oracle=lambda: duck.execute(sql.replace("CURRENT_TABLE", table)).df())


# ------------------------------------------------------------ ingest_serve

def _csv_rows(data: bytes) -> pd.DataFrame:
    return pd.read_csv(io.BytesIO(data), keep_default_na=False)


def _via_csv(pdf: pd.DataFrame) -> pd.DataFrame:
    """The oracle's rows after the same CSV round trip serve_csv applies."""
    return _csv_rows(pdf.to_csv(index=False).encode())


def _ingest_serve(spark, work: str, info: dict) -> Workload:
    from agentic_data_pipeline_spark.agent import TransformationAgent
    from agentic_data_pipeline_spark.operators.rules import EMAIL_RE, RULE_CATALOG
    from agentic_data_pipeline_spark.pipeline import Pipeline
    from agentic_data_pipeline_spark.serving import (
        bar_chart_data, serve_csv, serve_json,
    )
    from agentic_data_pipeline_spark.sources import ingest, read_bronze, write_bronze

    files = info["files"]
    llm_sql = ("SELECT region, currency, COUNT(*) AS n, "
               "CAST(SUM(CAST(ROUND(revenue * 100, 0) AS BIGINT)) AS BIGINT) AS cents "
               f"FROM CURRENT_TABLE WHERE revenue > {info['llm_threshold']} "
               "GROUP BY ALL")
    agent = TransformationAgent(llm=lambda prompt: f"```sql\n{llm_sql}\n```")
    duck = duckdb.connect()
    duck.execute(f"CREATE VIEW sales AS SELECT * FROM read_csv_auto('{files['csv']}')")
    duck.execute(f"CREATE VIEW customers AS SELECT * FROM read_json_auto('{files['json']}')")
    wl = Workload("ingest_serve", [], [duck])
    wl.stats.update(bronze=[], passthrough=0)
    bronze: dict[str, object] = {}
    fresh = itertools.count()

    def arrow_rows(sql: str) -> pd.DataFrame:
        return duck.execute(sql).arrow().to_pandas()

    def store(name: str, fmt: str, path: str) -> BenchOp:
        def build():
            lake = os.path.join(work, "bronze", str(next(fresh)))

            def storage(df):
                write_bronze(df, lake, name, partition_by=["region"])
                return read_bronze(spark, lake, name)

            pipe = (Pipeline()
                    .add_stage("ingestion", lambda _: ingest(spark, path, fmt))
                    .add_stage("storage", storage))
            wl.pipelines.append(pipe)
            bronze[name] = pipe.run(None)
            wl.stats["bronze"].append((os.path.join(lake, name), path))
            return bronze[name]
        return BenchOp(f"store_{name}", build, lambda df: df.toPandas(),
                       lambda pdf: pdf,
                       oracle=lambda: arrow_rows(f"SELECT * FROM {name}"))

    def rule(op_name: str, rule_name: str | None, description: str,
             finish, rows, oracle, source: str = "sales") -> BenchOp:
        def build():
            pipe = Pipeline().add_stage("transformation", lambda df: agent.apply_business_rule(
                spark, df, description, rule_name=rule_name))
            wl.pipelines.append(pipe)
            return pipe.run(bronze[source])

        def check(out):
            if out is bronze[source]:
                wl.stats["passthrough"] += 1
                raise Passthrough(op_name)

        return BenchOp(op_name, build, finish, rows, oracle=oracle, check=check)

    def served(rule_name: str | None, description: str, oracle_sql: str) -> BenchOp:
        by = ["region", "currency"] if rule_name is None else ["sale_id"]
        return rule(f"rule_{rule_name or 'llm'}", rule_name, description,
                    lambda df: serve_csv(df, order_by=by), _csv_rows,
                    lambda: _via_csv(arrow_rows(oracle_sql)))

    def z_keep(c: str) -> str:
        return (f"ABS({c} - (SELECT CAST(SUM(CAST(ROUND({c} * 100, 0) AS BIGINT)) "
                f"AS DOUBLE) / 100.0 / COUNT({c}) FROM sales)) <= 3.0 * (SELECT "
                f"SQRT((CAST(SUM(CAST({c} AS DECIMAL(18,2)) * CAST({c} AS DECIMAL(18,2))) "
                f"AS DOUBLE) - (CAST(SUM(CAST(ROUND({c} * 100, 0) AS BIGINT)) AS DOUBLE) "
                f"/ 100.0) * (CAST(SUM(CAST(ROUND({c} * 100, 0) AS BIGINT)) AS DOUBLE) "
                f"/ 100.0) / COUNT({c})) / (COUNT({c}) - 1)) FROM sales)")

    email_ok = f"regexp_matches(email, '{EMAIL_RE}')"
    rate = ("CASE currency WHEN 'USD' THEN CAST(1.0000 AS DECIMAL(8,4)) "
            "WHEN 'EUR' THEN CAST(1.0800 AS DECIMAL(8,4)) "
            "WHEN 'GBP' THEN CAST(1.2600 AS DECIMAL(8,4)) END")
    wl.head = [store("sales", "csv", files["csv"]),
               store("customers", "json", files["json"])]

    wl.ops = [
        served("clean_emails", RULE_CATALOG["clean_emails"],
               f"SELECT * FROM sales WHERE {email_ok}"),
        served("standardize_currency", RULE_CATALOG["standardize_currency"],
               "SELECT *, CAST(CAST(revenue AS DECIMAL(18,2)) * "
               f"{rate} AS DOUBLE) AS usd_amount FROM sales"),
        served("remove_outliers", RULE_CATALOG["remove_outliers"],
               f"SELECT * FROM sales WHERE {z_keep('sale_id')} AND {z_keep('revenue')}"),
        served("top_performers", RULE_CATALOG["top_performers"],
               "SELECT * EXCLUDE (pr) FROM (SELECT *, PERCENT_RANK() OVER "
               "(ORDER BY revenue) AS pr FROM sales) WHERE pr >= 0.9"),
        served(None, "Total revenue above the threshold by region and currency",
               llm_sql.replace("CURRENT_TABLE", "sales")),
        rule("serve_json_customers", "clean_emails", RULE_CATALOG["clean_emails"],
             lambda df: serve_json(df, order_by=["customer_id"], n=20),
             pd.DataFrame.from_records,
             lambda: arrow_rows(f"SELECT * FROM customers WHERE {email_ok} "
                                "ORDER BY customer_id LIMIT 20"),
             source="customers"),
        BenchOp("bar_chart_sales",
                lambda: bar_chart_data(bronze["sales"], "region", "revenue"),
                lambda df: df.toPandas(), lambda pdf: pdf,
                oracle=lambda: duck.execute(
                    "SELECT region AS x, CAST(SUM(CAST(ROUND(revenue * 100, 0) "
                    "AS BIGINT)) AS DOUBLE) / 100.0 AS y_sum FROM sales "
                    "GROUP BY region").df()),
    ]
    return wl

"""``analytics_mix``: one client issuing short read-only queries back to
back (a closed loop, one client thread), in an order set by the seed.

Each query is a registered, oracle-backed engine query
(``registry.QUERIES``) run on the engine's sf0.01 fixture tables (a
byte-identical copy in ``fixture_sf0.01/``; see its ``SHA256SUMS``): the
analyst's IIoT and TPC-H queries, plus the training-data curator's dedup
query over a seeded document corpus.  An operation is one query: construction
(``spec.fn``) plus execution (collecting its rows).  Every result is
compared with the query's DuckDB oracle outside the timed region.
"""

from __future__ import annotations

import os
import shutil

import duckdb

from iiot_data_engineering_lab_assignment_spark import registry

from . import inputs
from .oracle import frame_signature

NAME = "analytics_mix"
#: The sf0.01 fixture tables the mix queries read.
FIXTURE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixture_sf0.01")
FIXTURE_TABLES = ("customer", "orders", "lineitem", "events")

#: IIoT rollups, sliding and session windows, TPC-H Q1/Q18, joins, as-of
#: joins, gap-fill, z-score and the cascade rollup.
ANALYST_QUERIES = [
    "sensor_rollup_1m",
    "latest_reading_per_sensor",
    "sliding_rollup_1m_30s",
    "session_rollup_5m",
    "rollup_cascade_hourly",
    "q1_pricing_summary",
    "q18_large_volume_customers",
    "customer_order_revenue",
    "asof_join_purchase_click",
    "gapfill_locf_daily",
    "zscore_anomalies",
    "moving_avg_per_user",
]
#: The curator's query, built on ``operators.dedup``: keep-best over the
#: Jaccard connected components, whose construction runs the
#: connected-components loop eagerly.
DEDUP_QUERIES = ["dedup_keep_best"]
QUERIES = ANALYST_QUERIES + DEDUP_QUERIES
#: One timed round: each analyst query twice, the much slower curator query
#: once, so the round's samples are mostly the short queries whose fixed
#: per-query cost this workload is about.
ROUND = 2 * ANALYST_QUERIES + DEDUP_QUERIES
#: The warm-up issues every query this many times, from ``cpus`` threads,
#: the slow curator query first in each pass so that its cold run overlaps
#: the analyst queries.  A second pass costs about 5 s and takes the first
#: timed round from about 21 s to about 17 s on a 4-vCPU machine: queries
#: keep getting faster while the JIT compiles, and a run timed on the steep
#: part of that curve moves far more with the host's load.
WARMUP_PASSES = 2
#: One warm-up pass.
WARMUP_PASS = DEDUP_QUERIES + ANALYST_QUERIES
#: Documents in the curator's corpus (the sf0.01 fixture has 500).
DOCS = 500
#: Most rounds a run can draw on; a run stops at its time budget.
MAX_ROUNDS = 100


class AnalyticsMix:
    def __init__(self, work: str, seed: int):
        self.work = os.path.join(work, NAME)
        self.seed = seed
        self.data_dir = os.path.join(self.work, "tables")
        self._oracle: dict[str, str] = {}

    def prepare(self, spark, tracer) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        with tracer.span("sources", "generate_corpus"):
            os.makedirs(self.data_dir)
            for t in FIXTURE_TABLES:
                shutil.copy(os.path.join(FIXTURE_DIR, f"{t}.parquet"), self.data_dir)
            inputs.write_corpus(inputs.document_corpus(self.seed, DOCS), self.data_dir)
        # warm-up, then the timed rounds
        self.order = WARMUP_PASSES * WARMUP_PASS + inputs.mix_order(self.seed, ROUND, MAX_ROUNDS)
        self._oracle.clear()

    #: Queries only read, so their cold first runs can overlap.
    parallel_warmup = True
    #: Layers a query calls; their per-layer metrics must all be measured.
    layers = ("registry", "dedup")

    def op_kind(self, i: int) -> str:
        return self.order[i]

    def warmup_ops(self) -> int:
        return WARMUP_PASSES * len(WARMUP_PASS)

    def round_ops(self) -> int:
        """Runs time whole rounds, so every run times the same queries."""
        return len(ROUND)

    def run_op(self, spark, tracer, i: int) -> dict:
        name = self.order[i]
        spec = registry.QUERIES[name]
        layer = "dedup" if name in DEDUP_QUERIES else "registry"
        pinned = spark.sparkContext._jsc.getPersistentRDDs
        pinned_before = len(pinned()) if layer == "dedup" else 0
        # layer times are the spans' own walls, which leave out the tracer's work
        with tracer.span(layer, f"{name}.construct") as c:
            df = spec.fn(spark, self.data_dir)
        with tracer.span(layer, f"{name}.execute") as e:
            rows = df.collect()
            e["dfs"] = (df,)
        if layer == "dedup":
            m = {
                "dedup.construct_s": c["wall_s"],
                "dedup.execute_s": e["wall_s"],
                # persistent RDDs the call leaves behind
                "dedup.persistent_rdds_after": float(len(pinned()) - pinned_before),
                "dedup.survivor_ratio": len(rows) / DOCS,
            }
        else:
            m = {"registry.construct_ms": c["wall_s"] * 1e3, "registry.execute_ms": e["wall_s"] * 1e3}
        return {
            "wall_s": c["wall_s"] + e["wall_s"],
            "items": 1,
            "metrics": m,
            "cols": df.columns,
            "rows": rows,
        }

    def check_op(self, spark, op: dict) -> list[str]:
        rows = op.pop("rows")
        name = op["kind"]
        if not rows:
            return [f"{name}: empty result"]
        got = frame_signature(op["cols"], [tuple(r) for r in rows])
        if got != self._oracle_signature(name):
            return [f"{name}: result differs from its DuckDB oracle"]
        return []

    def cleanup_op(self, spark, op: dict) -> None:
        pass

    def _oracle_signature(self, name: str) -> str:
        if name not in self._oracle:
            con = duckdb.connect()
            try:
                for t in (*FIXTURE_TABLES, "documents"):
                    path = os.path.join(self.data_dir, f"{t}.parquet")
                    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
                res = con.sql(registry.QUERIES[name].oracle)
                self._oracle[name] = frame_signature(res.columns, res.fetchall())
            finally:
                con.close()
        return self._oracle[name]

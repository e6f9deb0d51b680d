"""market_queries: the analyst's read path over the registry.

One op = construct a registry query (``QUERIES[name](spark, sf_dir)``, the
client-side work before a plan exists) plus executing the returned plan with a
noop write. A block is one seeded permutation of QUERY_MIX, so every block
has the same composition.

No query in the mix writes anywhere: the workload touches no store, which
makes it the bypass workload for store, docstore and index changes.
"""

from __future__ import annotations

import os
import random

from perfbench.checks import check_oracle
from perfbench.inputs import write_fixture_tables
from perfbench.workload import Op, Workload, mean, median

#: read-only registry queries; queries that write under a shared scratch
#: root (sink exports, jsonl ingest, docstore/ANN-index queries, the build
#: tier) are left out so runs share no state
QUERY_MIX = (
    "flagship_ohlcv_sma",
    "resample_ohlcv",
    "window_sma",
    "window_rsi",
    "scan_table_range",
    "asof_align",
    "gap_antijoin",
    "agg_minmax_series",
    "meta_coverage",
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "text_stats",
    "dedup_near_minhash",
)


class MarketQueries(Workload):
    def __init__(self, spark, seed: int, run_dir: str):
        super().__init__(spark, seed, run_dir)
        from binance_data_framework_spark.plans.registry import ORACLES, QUERIES

        self.queries = QUERIES
        self.oracles = ORACLES
        self.rng = random.Random(f"market-queries-{seed}")
        self.sf_dir = os.path.join(run_dir, "fixtures")
        self.sizes: dict = {}
        self.bad_queries: set[str] = set()

    def setup(self) -> None:
        """Write the fixture tables, then run every query once (the warm-up
        of every op type). After the warm-up, and outside set-up time, the
        DuckDB oracles run and each warm-up result is compared with its
        oracle."""
        import duckdb

        with self.phase("generate_inputs"), self.bench_time():
            os.makedirs(self.sf_dir)
            self.sizes = write_fixture_tables(self.seed, self.sf_dir)
        got: dict = {}
        with self.phase("warmup"):
            for name in self.rng.sample(QUERY_MIX, len(QUERY_MIX)):
                try:
                    got[name] = self.queries[name](self.spark, self.sf_dir).toPandas()
                except Exception as e:  # noqa: BLE001 - a failing query is a result
                    got[name] = e
        with self.phase("oracle_check"), self.bench_time():
            con = duckdb.connect()
            try:
                for t in self.sizes:
                    path = os.path.join(self.sf_dir, f"{t}.parquet")
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
                for name in QUERY_MIX:
                    if isinstance(got[name], Exception):
                        bad = [f"{name}: raised {type(got[name]).__name__}: {got[name]}"]
                    else:
                        bad = check_oracle(name, got[name], con.sql(self.oracles[name]).df())
                    if bad:
                        self.bad_queries.add(name)
                        self.failures.extend(bad)
            finally:
                con.close()

    def _op(self, name: str) -> Op:
        def run(_):
            with self.span("registry.construct", "plans.registry"):
                df = self.queries[name](self.spark, self.sf_dir)
            with self.span("operators.execute", "operators"):
                df.write.format("noop").mode("overwrite").save()

        def check(_args, _res):
            return [f"{name}: failed its oracle check"] if name in self.bad_queries else []

        return Op(name, False, lambda: None, run, check)

    def block(self) -> list[Op]:
        return [self._op(q) for q in self.rng.sample(QUERY_MIX, len(QUERY_MIX))]

    def report(self, ops: list[dict]) -> dict:
        return {"inputs": self.sizes, "queries": list(QUERY_MIX)}

    def layer_metrics(self, ops: list[dict]) -> dict[str, float]:
        tr = self.tracer
        cons = tr.named("registry.construct")
        exe = tr.named("operators.execute")
        job_ids = [j for s in exe for j in range(s.job0, s.job1)]
        tasks, _ = tr.counters.tasks(job_ids)
        out = {
            "registry.construct_s": median(s.dur for s in cons),
            "registry.construct_jobs": mean(s.job1 - s.job0 for s in cons),
            "operators.execute_s": median(s.dur for s in exe),
            "operators.execute_jobs": mean(s.job1 - s.job0 for s in exe),
            "operators.execute_tasks": tasks / max(1, len(exe)),
        }
        by_op = {s.op_id: s for s in cons}
        ex_by_op = {s.op_id: s for s in exe}
        for name in QUERY_MIX:
            ids = [o["op_id"] for o in ops if o["kind"] == name]
            c = [by_op[i] for i in ids if i in by_op]
            e = [ex_by_op[i] for i in ids if i in ex_by_op]
            out[f"query.{name}.construct_s"] = median(s.dur for s in c)
            out[f"query.{name}.execute_s"] = median(s.dur for s in e)
            out[f"query.{name}.jobs"] = mean(
                (a.job1 - a.job0) + (b.job1 - b.job0) for a, b in zip(c, e)
            )
        return out

"""kline_corpus: both write paths on the SnapshotStore commit protocol.

Kline leg (the reference's own traffic): cache-or-fetch requests against an
OhlcvStore that starts empty and is seeded in set-up, through
``CacheOrFetchLoader`` over a ``PagedKlineSource`` whose ``fetch_page`` is
the offline seeded exchange. Per block, in seeded order and on seeded
timeframes, half the requests hit stored bars and half need a gap fill: one
hit through the reference ``load`` kernel (coverage probe, then a range
scan), one hit and two gap fills through ``load_incremental``; then one
``delete_data``. An op includes executing the returned frame.

Corpus leg (the LLM-data pipeline): per block one ``neardup_gate_batch`` of
BATCH_DOCS documents (a stated share near-duplicates) into a DocumentStore,
an auto-bucketed BandIndexStore and an AnnIndexStore; then one
``DocumentStore.read_keys`` lookup and one top-k ``serve_batch`` search of
probe vectors against the committed index. The stores are seeded and the
index trained in set-up, so blocks measure the steady-state append path.
"""

from __future__ import annotations

import os
import random
from datetime import datetime, timezone

from perfbench import checks
from perfbench.inputs import EMBED_DIM, DocStream, KlineExchange, KlineRequests
from perfbench.tracing import tree_bytes
from perfbench.workload import Op, Workload, mean, median

SEED_DOCS = 500
BATCH_DOCS = 200
DUP_SHARE = 0.1
LOOKUP_KEYS = 20
PROBES = 8
TOP_K = 10
NPROBE = 4
ANN_BUILD = {"dim": EMBED_DIM, "m_sub": 8, "ksub": 16}
DOC_SCHEMA = "doc_id bigint, text string, embedding array<double>"
REQUEST_KINDS = ("load_hit", "incremental_hit", "incremental_fill")
GATE_STAGES = ("sig_selfdedup", "corpus_check", "save_docs", "band_append", "maintenance")


def _dt(ms: int) -> datetime:
    return datetime.fromtimestamp(ms / 1000, tz=timezone.utc)


class _Written:
    """Bytes newly written under store roots, from listings taken after
    each commit."""

    def __init__(self, roots: list[str]):
        self.roots = roots
        self.seen: set[str] = set()
        self.written = 0

    def after_commit(self) -> None:
        for root in self.roots:
            for rel, size in tree_bytes(root).items():
                key = os.path.join(root, rel)
                if key not in self.seen:
                    self.seen.add(key)
                    self.written += size

    def live(self) -> int:
        return sum(sum(tree_bytes(r).values()) for r in self.roots)


class KlineCorpus(Workload):
    def __init__(self, spark, seed: int, run_dir: str):
        super().__init__(spark, seed, run_dir)
        from binance_data_framework_spark.ann_index import AnnIndexStore
        from binance_data_framework_spark.docstore import BandIndexStore, DocumentStore
        from binance_data_framework_spark.sources.rest_klines import PagedKlineSource
        from binance_data_framework_spark.store import OhlcvStore

        r = {k: os.path.join(run_dir, k) for k in ("klines", "docs", "bands", "ann")}
        self.rng = random.Random(f"kline-corpus-{seed}")
        self.exchange = KlineExchange(seed)
        self.requests = KlineRequests(seed)
        self.docs = DocStream(seed, DUP_SHARE)
        self.store = OhlcvStore(spark, r["klines"])
        self.source = PagedKlineSource(self.exchange.fetch_page)
        self.docstore = DocumentStore(spark, r["docs"], n_shards=None)
        self.bands = BandIndexStore(spark, r["bands"], n_buckets=None)
        self.ann = AnnIndexStore(spark, r["ann"], id_col="doc_id", vec_col="embedding")
        self.kline_bytes = _Written([r["klines"]])
        self.doc_bytes = _Written([r["docs"], r["bands"]])
        self.ann_root = r["ann"]
        self.stored: dict[int, list[float]] = {}  # doc id -> embedding
        self.kept_total = 0
        self.gate_stats: list[dict] = []
        self.recalls: list[float] = []
        self.kline_ops: list[dict] = []  # per request: rows fetched / missing
        self.docs_in = {"rows": 0, "bytes": 0}
        self._versions0 = 0

    # -- set-up -----------------------------------------------------------
    def setup(self) -> None:
        """Seed the corpus (a SEED_DOCS gate batch, which trains the ANN
        index) and every kline series (one save_many commit), then run the
        two kline hit paths and a read_keys lookup once, untimed. The gate
        batch, the gap fill and the search get no separate warm-up: seeding
        already ran the gate and a commit, and warming all three would add
        15-20 s to every run, which the benchmark's time budget does not
        hold."""
        with self.phase("corpus_seed"):
            with self.bench_time():
                seed_batch = self.docs.batch(SEED_DOCS)
            stats = self._gate(self._frame(seed_batch, DOC_SCHEMA))
            self.failures.extend(self._after_gate(seed_batch, stats))
        with self.phase("kline_seed"):
            with self.bench_time():
                rows = []
                for sym, tf, lo, hi in self.requests.seed_intervals():
                    a, b = KlineRequests.range_ms(tf, lo, hi)
                    page = self.exchange.fetch_page(sym, tf, a, b, hi - lo + 1)
                    rows += [(sym, tf, k[0], *map(float, k[1:6])) for k in page]
            df = self._frame(
                rows,
                "symbol string, timeframe string, ms long, open double, "
                "high double, low double, close double, volume double",
            )
            self.store.save_many(df.selectExpr("timestamp_millis(ms) AS ts", "*"))
            with self.bench_time():
                self.kline_bytes.after_commit()
        with self.phase("warmup"):
            for op in (
                self._kline_op("load_hit"),
                self._kline_op("incremental_hit"),
                self._read_keys_op(),
            ):
                args = op.prepare()
                self.failures.extend(op.check(args, op.run(args)))

    def _frame(self, rows: list[tuple], schema: str):
        """Hand rows to Spark as a local relation (Arrow), so evaluating
        the input inside a timed op costs no Python worker round trip."""
        import pandas as pd

        cols = [c.strip().split(" ")[0] for c in schema.split(",")]
        return self.spark.createDataFrame(pd.DataFrame(rows, columns=cols), schema)

    # -- kline leg ----------------------------------------------------------
    def _loader(self):
        from binance_data_framework_spark.api import CacheOrFetchLoader

        return CacheOrFetchLoader(
            self.traced(self.store, "store", "store"),
            self.traced(self.source, "sources", "sources"),
        )

    def _kline_op(self, kind: str) -> Op:
        """A cache-or-fetch request on a seeded series."""
        from pyspark.sql import functions as F

        method = "load" if kind.startswith("load") else "load_incremental"

        def prepare():
            if kind.endswith("hit"):
                sym, tf_, lo, hi = self.requests.hit()
                return sym, tf_, lo, hi, 0, self.exchange.rows_served
            return (*self.requests.fill(), self.exchange.rows_served)

        def run(args):
            sym, tf_, lo, hi, _, _ = args
            a, b = KlineRequests.range_ms(tf_, lo, hi)
            with self.span(f"api.{method}", "api"):
                frame = getattr(self._loader(), method)(sym, tf_, _dt(a), _dt(b))
            with self.span("operators.execute", "operators"):
                return frame.select(
                    F.unix_millis("ts"), "open", "high", "low", "close", "volume"
                ).collect()

        def check(args, rows):
            sym, tf_, lo, hi, missing, served0 = args
            with self.bench_time():
                self.kline_ops.append(
                    {"fetched": self.exchange.rows_served - served0, "missing": missing}
                )
                if missing:
                    self.kline_bytes.after_commit()
                want = checks.expected_bars(self.seed, sym, tf_, lo, hi)
                return checks.check_bars(f"{kind} {sym}/{tf_}", rows, want)

        return Op(kind, not kind.endswith("hit"), prepare, run, check)

    def _delete_op(self) -> Op:
        def run(key):
            return self.traced(self.store, "store", "store").delete_data(*key)

        def check(key, deleted):
            with self.bench_time():
                self.kline_bytes.after_commit()
            return [] if deleted else [f"delete_data {key}: nothing deleted"]

        return Op("delete_data", True, self.requests.delete, run, check)

    # -- corpus leg ----------------------------------------------------------
    def _gate(self, df) -> dict:
        from binance_data_framework_spark.streaming.neardup_ingest import (
            neardup_gate_batch,
        )

        with self.span("neardup_ingest.gate_batch", "streaming.neardup_ingest"):
            stats = neardup_gate_batch(
                df,
                self.traced(self.docstore, "docstore", "docstore"),
                self.traced(self.bands, "bands", "docstore"),
                ann_store=self.traced(self.ann, "ann_index", "ann_index"),
                ann_build_kwargs=ANN_BUILD,
            )
        return stats

    def _after_gate(self, batch, stats) -> list[str]:
        with self.bench_time():
            self.kept_total += stats["kept"]
            self.docs_in["rows"] += len(batch)
            self.docs_in["bytes"] += DocStream.input_bytes(batch)
            self.doc_bytes.after_commit()
            ids = [r[0] for r in self.docstore.read().select("doc_id").collect()]
            vecs = {i: v for i, _, v in batch}
            self.stored.update((i, vecs[i]) for i in ids if i in vecs)
            return checks.check_corpus(ids, self.kept_total)

    def _gate_op(self) -> Op:
        def prepare():
            batch = self.docs.batch(BATCH_DOCS)
            return batch, self._frame(batch, DOC_SCHEMA)

        def check(args, stats):
            self.gate_stats.append(stats)
            return self._after_gate(args[0], stats)

        return Op("gate_batch", True, prepare, lambda args: self._gate(args[1]), check)

    def _read_keys_op(self) -> Op:
        def prepare():
            keys = self.docs.lookup_keys(LOOKUP_KEYS)
            return keys, self._frame([(k,) for k in keys], "doc_id bigint")

        def run(args):
            ds = self.traced(self.docstore, "docstore", "docstore")
            frame = ds.read_keys(args[1])
            with self.span("operators.execute", "operators"):
                return [r[0] for r in frame.select("doc_id").collect()]

        def check(args, got):
            with self.bench_time():
                return checks.check_read_keys(args[0], got, set(self.stored))

        return Op("read_keys", False, prepare, run, check)

    def _search_op(self) -> Op:
        from binance_data_framework_spark.streaming.ann_serve import serve_batch

        def prepare():
            probes = self.docs.probes(PROBES)
            return probes, self._frame(probes, "doc_id bigint, embedding array<double>")

        def run(args):
            ann = self.traced(self.ann, "ann_index", "ann_index")
            idx = ann.load()
            docs = self.traced(self.docstore, "docstore", "docstore")
            corpus = docs.read().select("doc_id", "embedding")
            out = serve_batch(
                args[1], ann, idx, corpus, k=TOP_K, nprobe=NPROBE,
                id_col="doc_id", vec_col="embedding",
            )
            with self.span("operators.execute", "operators"):
                return out.select("probe_id", "doc_id").collect()

        def check(args, rows):
            with self.bench_time():
                approx: dict[int, set[int]] = {}
                for p, d in rows:
                    approx.setdefault(p, set()).add(d)
                exact = checks.exact_topk(args[0], self.stored, TOP_K)
                rec = checks.recall_at_k(approx, exact)
                self.recalls.append(rec)
                bad = []
                if any(len(approx.get(p, ())) != TOP_K for p in exact):
                    bad.append("search: a probe did not get k results")
                if rec < checks.RECALL_FLOOR:
                    bad.append(f"search: recall@{TOP_K} {rec:.3f} < {checks.RECALL_FLOOR}")
                return bad

        return Op("search", False, prepare, run, check)

    # -- blocks & metrics ---------------------------------------------------
    def block(self) -> list[Op]:
        """The kline requests in seeded order, the delete, then the corpus
        ops."""
        kline = [
            self._kline_op(kind)
            for kind in ("load_hit", "incremental_hit", "incremental_fill", "incremental_fill")
        ]
        self.rng.shuffle(kline)
        return kline + [self._delete_op(), self._gate_op(), self._read_keys_op(), self._search_op()]

    def _manifest_version(self) -> int:
        mdir = os.path.join(self.store.root, "_manifests")
        vs = [int(f[1:13]) for f in os.listdir(mdir) if f.startswith("v") and f.endswith(".json")]
        return max(vs, default=0)

    def begin_measured(self) -> None:
        self._versions0 = self._manifest_version()
        self._fetch0 = (self.exchange.calls, self.exchange.busy_s)
        self._kline_ops0 = len(self.kline_ops)
        self._gates0 = len(self.gate_stats)
        self._recalls0 = len(self.recalls)

    def report(self, ops: list[dict]) -> dict:
        kline_live = self.kline_bytes.live()
        doc_live = self.doc_bytes.live() + sum(tree_bytes(self.ann_root).values())
        n_gates = sum(o["kind"] == "gate_batch" for o in ops)
        return {
            "inputs": {
                "kline_rows_fetched": self.exchange.rows_served,
                "kline_bytes_fetched": self.exchange.bytes_served,
                "docs": self.docs_in["rows"],
                "doc_bytes": self.docs_in["bytes"],
                "seed_docs": SEED_DOCS,
                "batch_docs": BATCH_DOCS,
                "dup_share": DUP_SHARE,
            },
            "docs_per_s": n_gates * BATCH_DOCS / max(1e-9, sum(o["lat"] for o in ops)),
            "store_bytes_per_input_byte": (kline_live + doc_live)
            / max(1, self.exchange.bytes_served + self.docs_in["bytes"]),
            "recall_at_k_min": min(self.recalls, default=None),
        }

    def layer_metrics(self, ops: list[dict]) -> dict[str, float]:
        tr = self.tracer
        out: dict[str, float] = {}
        for m in ("check_data_exists", "get_data", "save_data", "delete_data"):
            sp = tr.named(f"store.{m}")
            out[f"store.{m}_s"] = median(s.dur for s in sp)
            out[f"store.{m}_jobs"] = mean(s.job1 - s.job0 for s in sp)
        out["store.commits"] = self._manifest_version() - self._versions0
        out["store.files_live"] = len((self.store._snapshot() or {}).get("files", []))
        out["store.bytes_written_per_input_byte"] = self.kline_bytes.written / max(
            1, self.exchange.bytes_served
        )
        calls = self.exchange.calls - self._fetch0[0]
        out["sources.fetch_page_s"] = (self.exchange.busy_s - self._fetch0[1]) / max(1, calls)
        kops = self.kline_ops[self._kline_ops0:]
        out["sources.rows_fetched_per_row_missing"] = sum(k["fetched"] for k in kops) / max(
            1, sum(k["missing"] for k in kops)
        )
        n_req = sum(1 for o in ops if o["kind"] in REQUEST_KINDS)
        out["api.fill_ranges_per_op"] = len(tr.named("sources.to_ohlcv")) / max(1, n_req)
        gates = tr.named("neardup_ingest.gate_batch")
        stats = self.gate_stats[self._gates0:]
        out["neardup_ingest.gate_batch_s"] = median(s.dur for s in gates)
        out["neardup_ingest.gate_jobs"] = mean(s.job1 - s.job0 for s in gates)
        for st in GATE_STAGES:
            out[f"neardup_ingest.{st}_s"] = median(s["stage_sec"].get(st, 0.0) for s in stats)
        out["neardup_ingest.kept_ratio"] = sum(s["kept"] for s in stats) / max(
            1, sum(s["arrived"] for s in stats)
        )
        for name, key in (("docstore.read_keys", "read_keys"), ("ann_index.search", "search")):
            sp = tr.named(f"op.{key}")
            out[f"{name}_s"] = median(s.dur for s in sp)
            out[f"{name}_jobs"] = mean(s.job1 - s.job0 for s in sp)
        out["docstore.files_live"] = len((self.docstore._snapshot() or {}).get("files", []))
        out["docstore.bytes_written_per_input_byte"] = self.doc_bytes.written / max(
            1, self.docs_in["bytes"]
        )
        out["ann_index.recall_at_k"] = mean(self.recalls[self._recalls0:])
        out["ann_index.code_files"] = sum(
            1 for f in (self.ann._snapshot() or {}).get("files", []) if f.startswith("codes/")
        )
        return out

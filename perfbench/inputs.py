"""Seeded, offline input generators for the benchmark.

Everything the program under test receives is produced here from the run's
``--seed``; the same seed gives byte-identical inputs (pinned by
``test_perfbench.py``). Three generators:

- ``write_fixture_tables``: the star-schema, events, documents and
  embeddings parquet tables the registry queries read, with the sf0.1 test
  fixture's schemas, row counts and value domains (the fixture itself is
  outside the checkout the benchmark runs in);
- ``KlineExchange`` + ``KlineRequests``: an offline kline exchange whose bars
  are a pure function of (seed, symbol, interval, open time), and the
  cache-or-fetch request stream against it;
- ``DocStream``: micro-batches of the generated documents joined with their
  embeddings, with a stated share of near-duplicate perturbations.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import struct
import time
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# registry fixture tables (market_queries) and the corpus they hold
# ---------------------------------------------------------------------------

#: rows per table — the sf0.1 test fixture's sizes
FIXTURE_ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

#: the events span, as in the sf0.1 fixture
EVENT_DAYS = 30
EMBED_DIM = 64
#: share of documents that are an earlier document plus the token " dup"
DOC_DUP_SHARE = 0.05

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
_PART_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
_PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_US_PER_DAY = 86_400 * 1_000_000


def _days(rng: np.random.Generator, lo: str, hi: str, n: int) -> np.ndarray:
    """n random midnight timestamps (µs) in [lo, hi]."""
    a = np.datetime64(lo, "D").astype(np.int64)
    b = np.datetime64(hi, "D").astype(np.int64)
    return rng.integers(a, b + 1, n) * _US_PER_DAY


def _ts(values: np.ndarray) -> pa.Array:
    return pa.array(values, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _doc_text(rng: np.random.Generator, n_tokens: int) -> str:
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n_tokens))


def _rng(seed: int, table: str) -> np.random.Generator:
    """One stream per table, so a table is the same whichever others are
    generated with it."""
    return np.random.default_rng([seed, list(FIXTURE_ROWS).index(table)])


def document_tables(seed: int) -> dict[str, pa.Table]:
    """The ``documents`` and ``embeddings`` tables: texts of 10-99 tokens
    from the fixture vocabulary, DOC_DUP_SHARE of them an earlier text plus
    " dup"; unit-norm Gaussian embeddings of doc ids 0..1999 with a label
    in 0..9."""
    rng = _rng(seed, "documents")
    nd = FIXTURE_ROWS["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i >= 10 and rng.random() < DOC_DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(_doc_text(rng, int(rng.integers(10, 100))))
    langs = [_LANGS[i] for i in rng.integers(0, len(_LANGS), nd)]
    rng = _rng(seed, "embeddings")
    ne = FIXTURE_ROWS["embeddings"]
    vecs = rng.normal(size=(ne, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return {
        "documents": pa.table(
            {
                "doc_id": pa.array(range(nd), pa.int64()),
                "text": texts,
                "lang": langs,
                "source": [f"src{i % 20}" for i in range(nd)],
                "n_chars": pa.array([len(s) for s in texts], pa.int64()),
            }
        ),
        "embeddings": pa.table(
            {
                "vec_id": pa.array(range(ne), pa.int64()),
                "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
                "label": pa.array(rng.integers(0, 10, ne), pa.int32()),
            }
        ),
    }


def fixture_tables(seed: int) -> dict[str, pa.Table]:
    """The registry's input tables for one seed: the sf0.1 fixture's tables,
    schemas, row counts (FIXTURE_ROWS) and value domains, which
    ``test_perfbench.py`` compares with the fixture itself."""
    n = FIXTURE_ROWS
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": _REGIONS,
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    rng, nc = _rng(seed, "customer"), n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, nc)],
        }
    )
    rng, ns = _rng(seed, "supplier"), n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    rng, npart = _rng(seed, "part"), n["part"]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(range(npart), pa.int64()),
            "p_name": [
                f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
            "p_type": [_PART_TYPES[i] for i in rng.integers(0, 6, npart)],
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": 900.0 + (np.arange(npart) % 1000) / 10.0,
        }
    )
    rng, no = _rng(seed, "orders"), n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": [("O", "F", "P")[i] for i in rng.integers(0, 3, no)],
            "o_totalprice": _money(rng, 900.0, 500_000.0, no),
            "o_orderdate": _ts(_days(rng, "1995-01-01", "2001-08-01", no)),
            "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, no)],
        }
    )
    rng, nl = _rng(seed, "lineitem"), n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
            "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
            "l_shipdate": _ts(_days(rng, "1995-01-02", "2001-11-04", nl)),
        }
    )
    rng, ne = _rng(seed, "events"), n["events"]
    # strictly increasing µs timestamps over EVENT_DAYS days, as in the
    # fixture: as-of joins and first/last-by-time aggregates have no ties
    t0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    span = EVENT_DAYS * _US_PER_DAY - ne
    ts = t0 + np.sort(rng.integers(0, span, ne)) + np.arange(ne)
    t["events"] = pa.table(
        {
            "event_id": pa.array(range(ne), pa.int64()),
            "ts": _ts(ts),
            "user_id": pa.array(rng.integers(0, 1_500, ne), pa.int64()),
            "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
            "value": np.round(rng.gamma(2.0, 25.0, ne), 2),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ne)],
        }
    )
    t.update(document_tables(seed))
    return t


def write_fixture_tables(seed: int, out_dir: str) -> dict[str, dict[str, int]]:
    """Write the fixture tables as ``<out_dir>/<table>.parquet``; returns
    {table: {"rows": n, "bytes": parquet file size}}."""
    sizes = {}
    for name, table in fixture_tables(seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, compression="snappy")
        sizes[name] = {"rows": table.num_rows, "bytes": os.path.getsize(path)}
    return sizes


# ---------------------------------------------------------------------------
# kline exchange + cache-or-fetch request stream (kline leg)
# ---------------------------------------------------------------------------

SYMBOLS = ("BTCUSDT", "ETHUSDT", "SOLUSDT", "BNBUSDT")
INTERVAL_MS = {"1m": 60_000, "5m": 300_000, "1h": 3_600_000}
#: request length range in bars per timeframe
REQUEST_BARS = {"1m": (180, 360), "5m": (100, 200), "1h": (48, 120)}
KLINE_EPOCH_MS = int(datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp() * 1000)


def kline_bar(seed: int, symbol: str, interval: str, open_ms: int) -> tuple:
    """One bar as the exchange reports it: (open_ms, open, high, low, close,
    volume) with prices as 2-dp strings — a pure function of its key."""
    h = hashlib.blake2b(
        f"{seed}|{symbol}|{interval}|{open_ms}".encode(), digest_size=16
    ).digest()
    a, b, c, d = struct.unpack("<IIII", h)
    o = 100 + (a % 1_000_000) / 100
    cl = 100 + (b % 1_000_000) / 100
    hi = max(o, cl) + (c % 1000) / 100
    lo = min(o, cl) - (d % 1000) / 100
    vol = ((a ^ b) % 10_000_000) / 100
    return (open_ms, f"{o:.2f}", f"{hi:.2f}", f"{lo:.2f}", f"{cl:.2f}", f"{vol:.2f}")


class KlineExchange:
    """Offline ``fetch_page`` implementing PagedKlineSource's page contract:
    bars with open time in [start_ms, end_ms] on the interval grid, at most
    ``limit`` per page, as 12-element kline rows. Counts what it served."""

    def __init__(self, seed: int):
        self.seed = seed
        self.rows_served = 0
        self.bytes_served = 0
        self.calls = 0
        self.busy_s = 0.0

    def bars(self, symbol: str, interval: str, lo_ms: int, hi_ms: int) -> list[tuple]:
        step = INTERVAL_MS[interval]
        first = -(-lo_ms // step) * step
        return [
            kline_bar(self.seed, symbol, interval, t)
            for t in range(first, hi_ms + 1, step)
        ]

    def fetch_page(self, symbol, interval, start_ms, end_ms, limit):
        t0 = time.perf_counter()
        step = INTERVAL_MS[interval]
        end = min(end_ms, (-(-start_ms // step) + limit - 1) * step)
        page = [
            [t, o, h, lo, c, v, t + step - 1, "0", 1, "0", "0", "0"]
            for (t, o, h, lo, c, v) in self.bars(symbol, interval, start_ms, end)
        ]
        self.calls += 1
        self.rows_served += len(page)
        self.bytes_served += len(json.dumps(page))
        self.busy_s += time.perf_counter() - t0
        return page


class KlineRequests:
    """Seeded cache-or-fetch request stream. Tracks each series' stored
    interval (in bar indices from KLINE_EPOCH_MS) so it can draw ranges that
    hit stored bars or extend them; every series stays one contiguous
    interval, so the reference ``load`` kernel's min/max coverage probe is
    exact for it."""

    def __init__(self, seed: int):
        self.rng = random.Random(f"kline-requests-{seed}")
        self.stored: dict[tuple[str, str], tuple[int, int] | None] = {
            (s, tf): None for s in SYMBOLS for tf in INTERVAL_MS
        }

    def _span(self, tf: str) -> int:
        return self.rng.randint(*REQUEST_BARS[tf])

    def _pick(self, stored: bool, tf: str | None = None) -> tuple[str, str]:
        keys = [
            k
            for k, v in self.stored.items()
            if (v is not None) == stored and tf in (None, k[1])
        ]
        if not keys:  # every series is in the other state: take any
            keys = list(self.stored)
        return keys[self.rng.randrange(len(keys))]

    @staticmethod
    def range_ms(tf: str, lo: int, hi: int) -> tuple[int, int]:
        step = INTERVAL_MS[tf]
        return KLINE_EPOCH_MS + lo * step, KLINE_EPOCH_MS + hi * step

    def seed_intervals(self) -> list[tuple[str, str, int, int]]:
        """Initial stored interval of every series (set-up seeding)."""
        out = []
        for key in sorted(self.stored):
            lo = self.rng.randrange(0, 200)
            hi = lo + 2 * self._span(key[1])
            self.stored[key] = (lo, hi)
            out.append((*key, lo, hi))
        return out

    def hit(self, tf: str | None = None) -> tuple[str, str, int, int]:
        """A range inside the stored interval of one stored series (of
        timeframe ``tf``, if given)."""
        sym, tf = self._pick(stored=True, tf=tf)
        lo, hi = self.stored[(sym, tf)]
        n = min(self._span(tf), hi - lo)
        a = self.rng.randint(lo, hi - n)
        return sym, tf, a, a + n

    def fill(self) -> tuple[str, str, int, int, int]:
        """(symbol, tf, lo, hi, missing_bars): a range overlapping the stored
        interval's right edge (or anywhere, for an empty series) whose tail
        is not stored yet."""
        sym, tf = self._pick(stored=self.rng.random() < 0.8)
        n = self._span(tf)
        cur = self.stored[(sym, tf)]
        if cur is None:
            a = self.rng.randrange(0, 400)
            b, missing = a + n, n + 1
            self.stored[(sym, tf)] = (a, b)
        else:
            lo, hi = cur
            grow = self.rng.randint(n // 4, n // 2)
            b = hi + grow
            a = max(lo, b - n)
            missing = grow
            self.stored[(sym, tf)] = (lo, b)
        return sym, tf, a, b, missing

    def delete(self) -> tuple[str, str]:
        """A stored series whose timeframe keeps another stored series, so
        hits on every timeframe stay possible."""
        n_stored = {tf: 0 for tf in INTERVAL_MS}
        for (_, tf), v in self.stored.items():
            n_stored[tf] += v is not None
        keys = [k for k, v in self.stored.items() if v is not None and n_stored[k[1]] > 1]
        key = keys[self.rng.randrange(len(keys))]
        self.stored[key] = None
        return key


# ---------------------------------------------------------------------------
# document + embedding batch stream (corpus leg)
# ---------------------------------------------------------------------------

#: ids of near-duplicate perturbations start here
PERTURBED_ID_BASE = 1 << 30
#: ids at or above this are never sent; read_keys lookups draw some of
#: their keys here to exercise the not-stored branch
UNSENT_ID_BASE = 1 << 40


def _nudge(rng: np.random.Generator, vec: np.ndarray, noise: float) -> list[float]:
    v = vec + noise * rng.normal(size=len(vec))
    return [float(x) for x in v / np.linalg.norm(v)]


class DocStream:
    """Seeded document batches ``(doc_id, text, embedding)`` drawn, in a
    seeded order, from the fixture's documents joined with its embeddings
    (doc_id = vec_id). A stated share of each batch are near-duplicate
    perturbations — half of an earlier batch's doc (the corpus check drops
    them), half of a doc in the same batch (in-batch self-dedup drops them):
    one token replaced and the embedding nudged by small noise. Once the
    joined rows are used up the stream starts over on them with every token
    and id tagged by the round, so no text repeats."""

    def __init__(self, seed: int, dup_share: float = 0.1):
        tables = document_tables(seed)
        texts = tables["documents"].column("text").to_pylist()
        emb = tables["embeddings"]
        self.joined = [
            (i, texts[i], np.asarray(v, dtype=np.float64))
            for i, v in zip(emb.column("vec_id").to_pylist(), emb.column("embedding").to_pylist())
        ]
        self.rng = np.random.default_rng([seed, len(FIXTURE_ROWS)])
        self.dup_share = dup_share
        self.todo: list[int] = []
        self.round = -1
        self.next_dup_id = PERTURBED_ID_BASE
        self.sent: list[tuple[int, str, list[float]]] = []

    def _fresh(self) -> tuple[int, str, list[float]]:
        if not self.todo:
            self.round += 1
            self.todo = self.rng.permutation(len(self.joined)).tolist()
        i, text, vec = self.joined[self.todo.pop()]
        if self.round == 0:
            return i, text, [float(x) for x in vec]
        r = self.round
        text = " ".join(f"{w}~{r}" for w in text.split(" "))
        return i + r * len(self.joined), text, _nudge(self.rng, vec, 0.6 / np.sqrt(len(vec)))

    def _perturb(self, doc: tuple[int, str, list[float]]) -> tuple[int, str, list[float]]:
        toks = doc[1].split(" ")
        toks[int(self.rng.integers(0, len(toks)))] = VOCAB[int(self.rng.integers(0, len(VOCAB)))]
        self.next_dup_id += 1
        return self.next_dup_id, " ".join(toks), _nudge(self.rng, np.asarray(doc[2]), 0.02)

    def batch(self, n: int) -> list[tuple[int, str, list[float]]]:
        n_dup = int(round(n * self.dup_share)) if self.sent else 0
        out = [self._fresh() for _ in range(n - n_dup)]
        for j in range(n_dup):
            pool = self.sent if j % 2 == 0 else out[: n - n_dup]
            out.append(self._perturb(pool[int(self.rng.integers(0, len(pool)))]))
        self.sent.extend(out)
        return out

    def lookup_keys(self, n: int, unsent_share: float = 0.3) -> list[int]:
        """Distinct read_keys lookup keys: mostly ids already sent (stored or
        dropped as near-duplicates), the rest ids never sent."""
        n_unsent = int(round(n * unsent_share))
        sent = self.rng.choice(len(self.sent), size=n - n_unsent, replace=False)
        unsent = UNSENT_ID_BASE + self.rng.choice(1 << 20, size=n_unsent, replace=False)
        return sorted([self.sent[int(i)][0] for i in sent] + [int(x) for x in unsent])

    def probes(self, n: int) -> list[tuple[int, list[float]]]:
        """ANN probe vectors near sent documents, with negative ids (disjoint
        from corpus ids)."""
        picks = self.rng.choice(len(self.sent), size=n, replace=False)
        return [
            (-(j + 1), _nudge(self.rng, np.asarray(self.sent[int(i)][2]), 0.05))
            for j, i in enumerate(picks)
        ]

    @staticmethod
    def input_bytes(docs: list[tuple[int, str, list[float]]]) -> int:
        """Bytes handed in: 8-byte id + UTF-8 text + float64 embedding."""
        return sum(8 + len(t.encode()) + 8 * len(v) for _, t, v in docs)

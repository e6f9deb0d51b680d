"""Output checks. Each returns a list of failure messages (empty = pass);
a failed check marks its op failed, which feeds ``failed_op_ratio``."""

from __future__ import annotations

import numpy as np

from perfbench.inputs import INTERVAL_MS, KLINE_EPOCH_MS, kline_bar

#: recall floor of the registry's topk_recall_{lsh,ivf,pq} certificates
RECALL_FLOOR = 0.2


# -- registry queries vs DuckDB oracles ------------------------------------
def check_oracle(name: str, got, want) -> list[str]:
    """Schema, row count and the order-insensitive canonical rows
    ``tools/check_oracles.py`` compares."""
    from tools.check_oracles import canon

    if sorted(got.columns) != sorted(want.columns):
        return [f"{name}: columns {sorted(got.columns)} != {sorted(want.columns)}"]
    if len(got) != len(want):
        return [f"{name}: {len(got)} rows != oracle {len(want)}"]
    a, b = canon(got), canon(want)
    if a != b:
        i = next(i for i, (x, y) in enumerate(zip(a, b)) if x != y)
        return [f"{name}: differs from its oracle, e.g. {a[i]} != {b[i]}"]
    return []


# -- kline frames vs the exchange's bars -----------------------------------
def expected_bars(seed: int, symbol: str, tf: str, lo: int, hi: int) -> list[tuple]:
    """Bars with bar index in [lo, hi] as (open_ms, o, h, l, c, v) floats."""
    step = INTERVAL_MS[tf]
    return [
        (t, *(float(x) for x in kline_bar(seed, symbol, tf, t)[1:]))
        for t in range(KLINE_EPOCH_MS + lo * step, KLINE_EPOCH_MS + hi * step + 1, step)
    ]


def check_bars(what: str, got: list[tuple], want: list[tuple]) -> list[str]:
    """``got`` rows are (ts_ms, open, high, low, close, volume) in ts order."""
    got = [tuple(r) for r in got]
    if got == want:
        return []
    if len(got) != len(want):
        return [f"{what}: {len(got)} bars returned, {len(want)} expected"]
    bad = next(i for i, (a, b) in enumerate(zip(got, want)) if a != b)
    return [f"{what}: bar {bad} is {got[bad]}, expected {want[bad]}"]


# -- corpus ------------------------------------------------------------------
def check_corpus(stored_ids: list[int], kept_total: int) -> list[str]:
    out = []
    if len(stored_ids) != kept_total:
        out.append(f"corpus: {len(stored_ids)} stored rows != sum(kept) {kept_total}")
    if len(set(stored_ids)) != len(stored_ids):
        out.append("corpus: duplicate doc ids in the store")
    return out


def check_read_keys(requested: list[int], returned: list[int], stored: set[int]) -> list[str]:
    want = sorted(k for k in requested if k in stored)
    got = sorted(returned)
    if got != want:
        return [f"read_keys: returned {len(got)} keys, expected {len(want)} (stored subset)"]
    return []


def exact_topk(
    probes: list[tuple[int, list[float]]], corpus: dict[int, list[float]], k: int
) -> dict[int, set[int]]:
    ids = np.fromiter(corpus.keys(), dtype=np.int64, count=len(corpus))
    mat = np.array([corpus[i] for i in ids.tolist()], dtype=np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    out = {}
    for pid, vec in probes:
        v = np.asarray(vec, dtype=np.float64)
        sims = mat @ (v / np.linalg.norm(v))
        out[pid] = set(ids[np.argsort(-sims, kind="stable")[:k]].tolist())
    return out


def recall_at_k(approx: dict[int, set[int]], exact: dict[int, set[int]]) -> float:
    hit = sum(len(approx.get(p, set()) & want) for p, want in exact.items())
    return hit / max(1, sum(len(w) for w in exact.values()))

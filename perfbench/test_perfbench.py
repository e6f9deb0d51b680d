"""Tests of the benchmark itself (no Spark session needed):

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import json
import os
import pickle
import re
import shutil
import subprocess
import sys

import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import checks, inputs  # noqa: E402
from perfbench import run as runner  # noqa: E402


def _digest(obj) -> str:
    return hashlib.sha256(pickle.dumps(obj)).hexdigest()


def _files(d) -> dict[str, bytes]:
    out = {}
    for f in sorted(os.listdir(d)):
        with open(os.path.join(d, f), "rb") as fh:
            out[f] = fh.read()
    return out


def _kline_stream(seed: int) -> list:
    ex, req = inputs.KlineExchange(seed), inputs.KlineRequests(seed)
    out = [req.seed_intervals()]
    for _ in range(6):
        out += [req.hit("1m"), req.hit("1h"), req.fill(), req.delete()]
    sym, tf, lo, hi = out[1]
    out.append(ex.fetch_page(sym, tf, *inputs.KlineRequests.range_ms(tf, lo, hi), 50))
    return out


def _doc_stream(seed: int) -> list:
    ds = inputs.DocStream(seed, dup_share=0.1)
    return [ds.batch(60), ds.batch(20), ds.lookup_keys(10), ds.probes(3)]


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    for d, seed in ((a, 7), (b, 7), (c, 8)):
        d.mkdir()
        inputs.write_fixture_tables(seed, str(d))
    assert _files(a) == _files(b)
    assert _files(a) != _files(c)
    assert _digest(_kline_stream(7)) == _digest(_kline_stream(7))
    assert _digest(_kline_stream(7)) != _digest(_kline_stream(8))
    assert _digest(_doc_stream(7)) == _digest(_doc_stream(7))
    assert _digest(_doc_stream(7)) != _digest(_doc_stream(8))


def test_doc_stream_plants_the_stated_near_dup_share():
    ds = inputs.DocStream(3, dup_share=0.1)
    first = ds.batch(100)
    second = ds.batch(100)
    ids = [i for i, _, _ in first + second]
    assert len(set(ids)) == 200
    assert sum(i >= inputs.PERTURBED_ID_BASE for i in ids) == 10

    def near(text, pool):
        toks = text.split(" ")
        return any(
            len(o) == len(toks) and sum(a != b for a, b in zip(o, toks)) <= 1
            for o in (t.split(" ") for _, t, _ in pool)
        )

    fresh, dups = second[:90], second[90:]
    # alternate copies: of an earlier batch's doc, then of this batch's
    assert all(near(t, first) for _, t, _ in dups[0::2])
    assert all(near(t, fresh) for _, t, _ in dups[1::2])
    assert not any(near(t, first) for _, t, _ in fresh)


def test_doc_stream_draws_the_documents_joined_with_their_embeddings():
    tables = inputs.document_tables(4)
    texts = tables["documents"].column("text").to_pylist()
    vecs = tables["embeddings"].column("embedding").to_pylist()
    ds = inputs.DocStream(4, dup_share=0.0)
    first = ds.batch(len(vecs))
    assert sorted(i for i, _, _ in first) == list(range(len(vecs)))
    for i, text, vec in first:
        assert text == texts[i]
        assert vec == [float(x) for x in pd.Series(vecs[i], dtype="float32")]
    # used up: the stream starts over with round-tagged tokens and new ids
    again = ds.batch(50)
    assert all(i >= len(vecs) for i, _, _ in again)
    assert all(t.split(" ")[0].endswith("~1") for _, t, _ in again)


def test_fixture_tables_match_the_sf01_fixture():
    """Set SPARK_GRAFT_SF_DIR to the sf0.1 test fixture to compare the
    generated tables with it: same tables, schemas and row counts; same
    event span, user and event-type domains; same document vocabulary,
    length range and near-duplicate share; same embedding width and
    label domain."""
    import pyarrow.parquet as pq
    import pytest

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "")
    if not os.path.isfile(os.path.join(sf_dir, "lineitem.parquet")):
        pytest.skip("SPARK_GRAFT_SF_DIR does not name the sf0.1 fixture")
    gen = inputs.fixture_tables(11)
    ref = {t: pq.read_table(os.path.join(sf_dir, f"{t}.parquet")) for t in gen}
    for t in gen:
        assert gen[t].schema.remove_metadata() == ref[t].schema.remove_metadata(), t
        assert gen[t].num_rows == ref[t].num_rows, t

    def summary(tabs):
        ev = tabs["events"].to_pandas()
        docs = tabs["documents"].to_pandas()
        toks = docs.text.str.split()
        emb = tabs["embeddings"]
        return {
            "event_days": (ev.ts.max() - ev.ts.min()).days + 1,
            "ts_unique": ev.ts.is_unique,
            "users": ev.user_id.nunique(),
            "event_types": sorted(ev.event_type.unique()),
            "vocab": sorted({w for t in toks for w in t} - {"dup"}),
            "tokens": (toks.str.len().min(), toks.str.len().max()),
            "dup_share": round(docs.text.str.endswith(" dup").mean(), 2),
            "langs": sorted(docs.lang.unique()),
            "dim": {len(v) for v in emb.column("embedding").to_pylist()},
            "labels": sorted(set(emb.column("label").to_pylist())),
            "segments": sorted(set(tabs["customer"].column("c_mktsegment").to_pylist())),
            "part_types": sorted(set(tabs["part"].column("p_type").to_pylist())),
            "flags": sorted(set(tabs["lineitem"].column("l_returnflag").to_pylist())),
        }

    assert summary(gen) == summary(ref)


def test_exchange_pages_follow_the_paged_source_contract():
    from binance_data_framework_spark.sources.rest_klines import PagedKlineSource

    ex = inputs.KlineExchange(5)
    lo, hi = inputs.KlineRequests.range_ms("5m", 10, 260)
    rows = PagedKlineSource(ex.fetch_page, page_size=100).fetch_range("ETHUSDT", "5m", lo, hi)
    assert ex.calls == 3
    assert [tuple(r[:6]) for r in rows] == ex.bars("ETHUSDT", "5m", lo, hi)
    assert [r[0] for r in rows] == list(range(lo, hi + 1, 300_000))


def test_oracle_check_catches_a_corrupted_value():
    df = pd.DataFrame({"symbol": ["a", "b"], "close": [1.5, 2.25], "n": [3, 4]})
    assert checks.check_oracle("q", df, df.iloc[::-1].reset_index(drop=True)) == []
    bad = df.copy()
    bad.loc[1, "close"] = 2.250001
    assert checks.check_oracle("q", df, bad)
    assert checks.check_oracle("q", df, df.rename(columns={"n": "m"}))
    assert checks.check_oracle("q", df, df.iloc[:1])


def test_kline_check_catches_a_corrupted_bar():
    want = checks.expected_bars(9, "BTCUSDT", "1h", 5, 30)
    got = [tuple(r) for r in want]
    assert checks.check_bars("req", got, want) == []
    got[3] = (got[3][0], got[3][1] + 0.01, *got[3][2:])
    assert checks.check_bars("req", got, want)
    assert checks.check_bars("req", got[:-1], want)


def test_corpus_checks_catch_corrupted_state():
    assert checks.check_corpus([1, 2, 3], 3) == []
    assert checks.check_corpus([1, 2, 3], 4)
    assert checks.check_corpus([1, 2, 2], 3)
    stored = {1, 2, 5}
    assert checks.check_read_keys([1, 5, 9], [5, 1], stored) == []
    assert checks.check_read_keys([1, 5, 9], [1, 5, 9], stored)
    assert checks.check_read_keys([1, 5, 9], [1], stored)


def test_recall_against_exact_topk():
    corpus = {i: [1.0, i / 10.0] for i in range(10)}
    probes = [(-1, [1.0, 0.0])]
    exact = checks.exact_topk(probes, corpus, 3)
    assert exact == {-1: {0, 1, 2}}
    assert checks.recall_at_k({-1: {0, 1, 2}}, exact) == 1.0
    assert checks.recall_at_k({-1: {7, 8, 9}}, exact) < checks.RECALL_FLOOR


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert set(spec) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"
    }
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert [w["name"] for w in spec["workloads"]] == list(runner.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == runner.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == runner.PER_LAYER
    assert len(spec["per_layer"]) <= 128
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n) for n in names)
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"),
        tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "market_queries",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert r.returncode != 0
    assert r.stdout == ""

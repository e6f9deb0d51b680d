"""Streaming ANN serving: top-k search over the committed index for a
STREAM of probe vectors — the query-side counterpart of the ingest gate
(neardup_ingest feeds the index; this serves it).

Why foreachBatch and not a stream-static join: the search is a ranked
window (row_number per probe over ADC scores), and ranking windows are
not allowed on streaming DataFrames — but each micro-batch's probe set
is a perfectly ordinary BATCH probe side, so the committed-index search
runs unchanged per batch and its results land in the sink. The probe
side of that search is bounded by ``SERVE_PROBE_MAX`` (a bigger
micro-batch raises instead of silently building an O(probes x dim)
driver matrix — the same bounded-collect contract as
similarity.PAIRS_PROBE_MAX and ann_index's append probe cap).

Size gate: the probe cells are resolved on the driver
(similarity.probe_cells) and the probed cells' code rows are SIZED
before anything reads them — from the cached parquet footer row counts
of a local root (zero Spark jobs), else one count bounded at the gate.
When probes x sized rows fits ``SERVE_DRIVER_PAIRS_MAX`` the batch is
scored on the driver: one collect of the cell-pruned codes, the ADC
shortlist from the same per-cell numpy kernel the distributed plan runs
(similarity.adc_cell_scorer), one broadcast semi-join fetching only the
shortlist's exact vectors, and the exact cosine re-rank in numpy. Above
the bound the distributed blocked-ADC plan (similarity.
topk_cosine_ivfpq) runs. Both branches read the same version-pinned,
tombstone-masked codes (delta runs included), score the same cells with
the same kernel and rank by the same (score desc, id asc) orders, so
they return the same (probe_id, id, rank) rows with cosines equal to
~1e-12 (the default suite checks this with the gate forced each way).
Each batch logs its decision (ServeDecision) at DEBUG.

Snapshot consistency: every artifact a batch decodes with — centroids,
codebooks, AND the code rows themselves — comes from ONE manifest
version, the version of the loaded handle (``store.codes(...,
version=idx.version)``). A rebuild committing mid-stream therefore
never mixes new codes with stale codebooks (ADVICE r11 #1); it is
served from the next reload on, and delete()'s tombstone masking
applies the moment the reloaded snapshot carries it.

Delivery: results are keyed (batch_id, probe_id, rank), stamped with
the served index version, and written with dynamic partition overwrite
on ``batch_id`` — a batch replayed after a partial write REPLACES its
own partition instead of appending duplicates, so the sink converges to
exactly-once contents under Structured Streaming's at-least-once
foreachBatch replay (the rows themselves are deterministic given the
pinned index version).
"""

from __future__ import annotations

import logging
from typing import NamedTuple

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from binance_data_framework_spark.operators import similarity as S

# Hard cap on probes collected per micro-batch. serve_batch must pull the
# probe vectors to the driver (cell resolution is probe x n_centroids math
# and the probe side of the ADC join is driver-broadcast), so the driver
# cost is O(SERVE_PROBE_MAX * dim) by construction — a probe storm or a
# reader without maxOffsetsPerTrigger hits this raise, not the driver's
# heap. Size triggers (maxOffsetsPerTrigger / maxFilesPerTrigger) below it.
SERVE_PROBE_MAX = 65_536

# Driver-branch size gate: a batch whose probes x sized probed-cell code
# rows fits this bound is scored on the driver from one bounded code
# collect; a bigger one runs the distributed blocked-ADC plan. Measured
# on a 4-vCPU local[4] host, the driver won at every shape tried (up to
# 2e8 pairs at 2048 probes and 4M rows at one probe), its lead shrinking
# as probes grow (time ratio 0.22 -> 0.79-0.87). At one probe the bound is also
# the number of code rows the driver holds, so it sits at the largest
# single-probe collect measured: 4M rows, 10.2 s vs 16.8 s distributed,
# 1.4 GB peak driver RSS.
SERVE_DRIVER_PAIRS_MAX = 4_000_000


_log = logging.getLogger(__name__)


class ServeDecision(NamedTuple):
    """One serve_batch size-gate decision, logged at DEBUG as the
    ``serve_decision`` attribute of a record on this module's logger.
    ``rows`` is the sized code-row count (an upper bound: delta runs
    count whole and tombstones are not subtracted); ``sizing`` says where
    it came from — "footer" (cached parquet footers of a local root, no
    Spark job) or "count" (one count bounded at the gate)."""

    branch: str  # "driver" | "distributed"
    probes: int
    rows: int
    bound: int
    sizing: str


def _sized_code_rows(store, idx, cells: list[int], cap: int) -> tuple[int, str]:
    """Upper bound on the rows of ``store.codes("pq", cells,
    version=idx.version)``, taken before any code row is read. The file
    selection mirrors codes(): the pinned version's cell files plus every
    delta run."""
    local_root = store._local_root()
    if local_root is not None:
        man = store._resolve(idx.version)
        prefix = "codes/variant=pq/"
        allowed = {f"cell={c}" for c in cells}
        files = [
            f
            for f in man["files"]
            if store._is_code_delta(f)
            or (f.startswith(prefix) and f[len(prefix):].split("/", 1)[0] in allowed)
        ]
        counts = [
            n
            for _lo, _hi, n in store._id_bounds(
                files, local_root, live_files=man["files"]
            ).values()
        ]
        if None not in counts:
            return sum(counts), "footer"
    coded = store.codes("pq", cells=cells, version=idx.version)
    return coded.limit(min(cap, 2**31 - 2) + 1).count(), "count"  # an int limit


def _ranks(a: np.ndarray) -> np.ndarray:
    """Order-preserving integer codes of ``a`` (ids may be strings)."""
    return np.unique(a, return_inverse=True)[1].reshape(-1)


def _top_per_group(groups: np.ndarray, keys: list, n: int) -> np.ndarray:
    """Row indices of the first ``n`` rows of each group under the
    np.lexsort ``keys`` (most significant last), grouped."""
    order = np.lexsort((*keys, groups))
    g = groups[order]
    return order[np.arange(len(order)) - np.searchsorted(g, g, side="left") < n]


def _seq_norm(m: np.ndarray) -> np.ndarray:
    """Row L2 norms summed left to right, as similarity.with_norm does."""
    acc = np.zeros(len(m))
    for j in range(m.shape[1]):
        acc = acc + m[:, j] * m[:, j]
    return np.sqrt(acc)


def _serve_on_driver(
    rows, pv, cells_of, cells, store, idx, corpus, k, refine, id_col, vec_col,
    probe_type,
) -> DataFrame:
    """serve_batch's driver branch: the distributed plan's search over
    one collect of the sized codes (see the module docstring)."""
    import pandas as pd

    spark = corpus.sparkSession
    coded = store.codes("pq", cells=cells, version=idx.version)
    id_type = coded.schema[id_col].dataType.simpleString()
    schema = f"probe_id {probe_type}, {id_col} {id_type}, cosine double, rank bigint"
    codes = (
        coded.select(id_col, "_c", "_code")
        .toPandas()
        .sort_values(["_c", id_col], kind="mergesort")
    )
    pids = pd.Series([r[id_col] for r in rows]).to_numpy()
    # ADC shortlist: the per-cell kernel of the cogroup path, each probed
    # cell scored against exactly the probes resolved to it
    score = S.adc_cell_scorer(
        idx.centroids, idx.pq_books, idx.dim // idx.m_sub, None, k * refine
    )
    cvals = codes["_c"].to_numpy()
    cids = codes[id_col].to_numpy()
    parts = []
    for c in cells:
        lo, hi = np.searchsorted(cvals, [c, c + 1])
        mine = (cells_of == c).any(axis=1)
        if hi > lo and mine.any():
            cd = np.vstack(codes["_code"].to_numpy()[lo:hi])
            parts.append(score(c, cids[lo:hi], cd, pids[mine], pv[mine]))
    if not parts:
        return spark.createDataFrame([], schema)
    sp, si, adc = (np.concatenate(x) for x in zip(*parts))
    keep = _top_per_group(_ranks(sp), [_ranks(si), -adc], k * refine)
    sp, si = sp[keep], si[keep]

    # exact vectors of the shortlist only; probe rows stand in for corpus
    # rows of the same id, as the distributed plan's probe union does
    vecs = {r[id_col]: r[vec_col] for r in rows}
    uid, inv = np.unique(si, return_inverse=True)
    need = [x for x in uid.tolist() if x not in vecs]
    if need:
        keys = spark.createDataFrame(pd.DataFrame({id_col: need}), f"{id_col} {id_type}")
        for r in (
            corpus.join(F.broadcast(keys), id_col, "left_semi")
            .select(id_col, vec_col)
            .collect()
        ):
            vecs[r[0]] = r[1]
    # a shortlisted id missing from the corpus drops out (the plan's
    # inner join); a null vector scores a NaN (Spark: null) cosine
    found = np.array([x in vecs for x in uid.tolist()], dtype=bool)
    blank = [np.nan] * idx.dim
    C = np.array([vecs.get(x) or blank for x in uid.tolist()], dtype=np.float64)
    cn, pn = _seq_norm(C), _seq_norm(pv)
    probe_row = {p: i for i, p in enumerate(pids.tolist())}
    out = {"probe_id": [], id_col: [], "cosine": [], "rank": []}
    edges = np.flatnonzero(np.r_[True, sp[1:] != sp[:-1], True])
    for lo, hi in zip(edges[:-1], edges[1:]):
        j = inv[lo:hi][found[inv[lo:hi]]]  # uid positions: ascending = id asc
        if not len(j):
            continue
        r = probe_row[sp[lo]]
        dot = np.einsum("ij,ij->i", np.broadcast_to(pv[r], (len(j), idx.dim)), C[j])
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = dot / (pn[r] * cn[j])
        # cosine desc, NaN last as Spark ranks a null, then id asc
        top = np.lexsort((j, -cos))[:k]
        out["probe_id"].append(np.repeat(sp[lo:lo + 1], len(top)))
        out[id_col].append(uid[j[top]])
        out["cosine"].append(cos[top])
        out["rank"].append(np.arange(1, len(top) + 1))
    if not out["rank"]:
        return spark.createDataFrame([], schema)
    return spark.createDataFrame(
        pd.DataFrame({c: np.concatenate(v) for c, v in out.items()}), schema
    )


def serve_batch(
    probes: DataFrame,
    store,
    idx,
    corpus: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    refine: int = S.DEFAULT_REFINE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame | None:
    """One micro-batch's searches against a loaded index handle. The
    probe CELLS are resolved driver-side from the model
    (similarity.probe_cells — probe-sized math, bounded by
    SERVE_PROBE_MAX), and the code read is physically pruned to those
    cells AND pinned to the handle's manifest version. The pruned code
    rows are then sized without reading them (local root: cached footer
    row counts, zero jobs; otherwise one count bounded at the gate).
    If probes x sized rows <= SERVE_DRIVER_PAIRS_MAX the search runs on
    the driver over one collect of those codes, scoring exactly the
    cells it pruned to; otherwise the distributed blocked-ADC plan runs.
    Both branches return the same (probe_id, id, rank) rows with
    cosines equal to ~1e-12; a DEBUG log record carries the decision
    (ServeDecision: branch, sized rows, bound).

    The exact re-rank pulls shortlist vectors from ``corpus`` — the
    static vector table the index was built over (the index stores
    CODES, not raw vectors; every real ANN serving tier keeps the
    vector table as the re-rank source). Probe ids must be disjoint
    from corpus ids (external queries) or identical rows (self-search).
    Returns (probe_id, <id_col>, cosine, rank), or None for an empty
    batch."""
    rows = probes.select(id_col, vec_col).limit(SERVE_PROBE_MAX + 1).collect()
    if not rows:
        return None
    if len(rows) > SERVE_PROBE_MAX:
        raise ValueError(
            f"serve_batch: micro-batch exceeds SERVE_PROBE_MAX="
            f"{SERVE_PROBE_MAX} probes — bound the trigger "
            "(maxOffsetsPerTrigger / maxFilesPerTrigger) so each batch's "
            "probe set fits the driver-side cell-resolution budget"
        )
    pv = np.array([list(r[vec_col]) for r in rows], dtype=np.float64)
    cells_of = S.probe_cells(pv, idx.centroids, nprobe)
    cells = sorted({int(c) for c in cells_of.ravel()})
    cap = SERVE_DRIVER_PAIRS_MAX // len(rows)
    sized, sizing = _sized_code_rows(store, idx, cells, cap)
    branch = "driver" if sized <= cap else "distributed"
    decision = ServeDecision(branch, len(rows), sized, SERVE_DRIVER_PAIRS_MAX, sizing)
    _log.debug("serve_batch size gate: %s", decision, extra={"serve_decision": decision})
    id_type = probes.schema[id_col].dataType.simpleString()
    if branch == "driver":
        return _serve_on_driver(
            rows, pv, cells_of, cells, store, idx, corpus, k, refine,
            id_col, vec_col, id_type,
        )

    base = corpus.select(id_col, F.col(vec_col).cast("array<double>").alias(vec_col))
    probe_df = corpus.sparkSession.createDataFrame(
        [(r[id_col], [float(x) for x in r[vec_col]]) for r in rows],
        f"{id_col} {id_type}, {vec_col} array<double>",
    )
    # probe rows ride along with a marker column so probe membership is a
    # column test, not a driver-built isin() literal list (which re-ships
    # every probe id inside the plan); they can never enter the candidate
    # shortlist (the shortlist comes from the committed codes, which hold
    # only corpus ids)
    df = (
        base.join(probe_df, id_col, "left_anti")
        .withColumn("_is_probe", F.lit(False))
        .unionByName(probe_df.withColumn("_is_probe", F.lit(True)))
    )
    return S.topk_cosine_ivfpq(
        df,
        F.col("_is_probe"),
        k=k,
        nprobe=nprobe,
        refine=refine,
        dim=idx.dim,
        m_sub=idx.m_sub,
        ksub=idx.ksub,
        id_col=id_col,
        vec_col=vec_col,
        centroids=idx.centroids,
        books=idx.pq_books,
        coded=store.codes("pq", cells=cells, version=idx.version),
        # a micro-batch is the MANY-probe regime: the blocked per-cell
        # ADC kernel moves each probe vector into a cell once instead of
        # shipping it on every (probe, candidate) pair row — measured
        # 305 s -> batch-bounded at the 2M-vector gate decade (r12)
        blocked_adc=True,
    )


def stream_ann_serve(
    probes: DataFrame,
    store,
    corpus: DataFrame,
    results_path: str,
    checkpoint_dir: str,
    k: int = 10,
    nprobe: int = 4,
    reload_every: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    trigger_available_now: bool = True,
):
    """Attach committed-index top-k serving as a foreachBatch sink on a
    probe-vector stream. Results (batch_id, index_version, probe_id,
    vec_id, cosine, rank) land in ``results_path`` as parquet
    partitioned by batch_id, written with dynamic partition overwrite —
    replaying a batch replaces its own partition, never duplicates it.

    ``reload_every``: re-load the committed index every that many
    micro-batches (1 = every batch — each load is model-sized: one
    manifest resolve + the JSON sidecar; code files are read lazily per
    search). Larger cadences amortize the sidecar read when the index
    is known to change rarely; 0 pins the first loaded version for the
    stream's lifetime. Whatever the cadence, each batch's codes read is
    pinned to the loaded handle's version, so a stale handle serves a
    CONSISTENT old snapshot — never a torn mix."""
    state: dict = {"idx": None}

    def serve(batch_df: DataFrame, batch_id: int) -> None:
        if state["idx"] is None or (
            reload_every > 0 and batch_id % reload_every == 0
        ):
            idx = store.load()
            if idx is None:
                raise ValueError(
                    f"stream_ann_serve: no committed index at {store.root}"
                )
            state["idx"] = idx
        out = serve_batch(
            batch_df, store, state["idx"], corpus, k=k, nprobe=nprobe,
            id_col=id_col, vec_col=vec_col,
        )
        if out is None:
            return
        # dynamic partition overwrite as a PER-WRITE option (not session
        # conf — `out` descends from the static corpus session, so a conf
        # set on the micro-batch session would not bind this write): only
        # the batch_id=<this batch> partition is replaced, every other
        # batch's results are untouched
        (
            out.withColumn("batch_id", F.lit(batch_id).cast("long"))
            .withColumn(
                "index_version", F.lit(state["idx"].version).cast("long")
            )
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(results_path)
        )

    writer = probes.writeStream.foreachBatch(serve).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()

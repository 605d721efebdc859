"""The three rollup-engine workloads: seeded inputs, timed operations, checks.

``tiers_spectral`` and ``tiers_dense`` run the fused pages -> Score kernels ->
1m/1h/1d/30d operator on the same seeded pages with different features and
window overlap.  ``store_rw`` writes the engine's own score points to the
Gorilla chunk store, merges seeded late batches into it and serves dashboard
reads between the merges (one client, closed loop).

The program receives only the generated inputs; every input is a function
of the seed.  Output checks run outside the timed spans, and an operation
whose output fails a check counts as failed.
"""

from __future__ import annotations

import statistics
import sys
import traceback
from dataclasses import dataclass, field
from pathlib import Path
from time import perf_counter
from typing import Callable

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from afspark.functions import codec
from afspark.functions import kernels as K
from afspark.operators.gapfill import gapfill
from afspark.operators.ooo import chunk_key, merge_out_of_order, pruned_store_scan
from afspark.operators.rollup import (
    TIERS,
    rollup_all_tiers,
    rollup_points,
    score_pages_to_tiers,
    scores_to_points,
)
from afspark.operators.score import score_pages
from afspark.sources.chunkstore import (
    decode_chunks,
    encode_chunks,
    read_chunk_store,
    read_points,
    read_points_range,
    write_chunk_store,
)
from afspark.sources.pages import generate_pages, url_domain, with_series_offsets

from . import checks
from .trace import Tracer, planning_seconds

WINLEN = 1024
ORIGIN = 1_700_000_000  # scores_to_points' default epoch origin
# 20k pages (~19 M samples): at 6k a fused run was half driver-side
# planning and job overhead, whose JIT warm-up varies from session to
# session; at 20k the kernel stage carries most of the wall.
TIERS_PAGES = 20_000
TIERS_FS = 1000.0
STORE_PAGES = 1_500
# The store's pages have no hot domain, so its series hold about the same
# number of samples and all of them span the store, not one hot series
# alone.  1.5k pages over STORE_SERIES series give ~475k samples a series;
# at a hop of 16 samples and STORE_FS each series' ~30k score points lie
# 100 s apart (36 to a 3600 s chunk) and span 32-36 days, more than a 30d
# tier.  Store write time grows with series x days (a write makes about
# seven files per series-day), so the series count is what the run budget
# allows: with 10 series a store_rw run took 110 s, with 4 about 80 s.
STORE_SERIES = 3
STORE_NOVERLAP = 1008
STORE_FS = 0.16
STORE_MIN_SPAN_DAYS = 30
CHUNK_SECONDS = 3600
N_BUCKETS = 16
# Late rows come from the most recent days only: a repair, not a backfill
# that rewrites every partition of the store.
LATENESS_DAYS = 2
LATE_CORRECTIONS = 24
LATE_DUPLICATES = 12
# Three reads after the write and after each merge: the first read after a
# write runs cold, and with two per gap the median of four reads spread 0.20
# (IQR / median) over ten seeds.
READS_PER_GAP = 3
MIN_MERGES = 1
MAX_MERGES = 8
# At least four timed fused runs a run; their median (the mean of the middle
# two) is robust to one slow run.
MIN_OPS = 4
# Fused-run walls keep falling over the first six runs of a session (JIT).
# Over five seeds, the median of five timed runs after two warm-up runs
# spread 0.16 (IQR / median); after six warm-up runs, the median of the next
# four spread 0.06 and of the next eight 0.03.  Warm-up buys more steadiness
# than timed runs do, and the run budget has room for about ten fused runs.
TIERS_WARMUP_RUNS = 6
N_DOMAINS = 50  # generate_pages' default; domain 0 is the hot one
HOT_FRAC = 0.3  # generate_pages' default


def spectral_features():
    return [
        K.Energy(),
        K.SoundPressureLevel(),
        K.ZeroCrossingRate(),
        K.PermutationEntropy(4),
        K.SpectralCentroid(),
    ]


def dense_features():
    return [K.Energy(), K.SoundPressureLevel(), K.ZeroCrossingRate()]


def store_features():
    """One series per domain: the store's file count grows with series x days."""
    return [K.Energy()]


@dataclass(frozen=True)
class Spec:
    name: str
    kind: str  # "tiers" or "store"
    features: Callable[[], list]
    noverlap: int
    n_pages: int
    fs: float
    # generate_pages draws non-hot pages from domains 1 .. n_domains - 1
    n_domains: int = N_DOMAINS
    hot_frac: float = HOT_FRAC


# Why each workload exists is recorded in BENCHMARK.json and README.md.
WORKLOADS = {
    s.name: s
    for s in [
        Spec("tiers_spectral", "tiers", spectral_features, 512, TIERS_PAGES, TIERS_FS),
        Spec("tiers_dense", "tiers", dense_features, 960, TIERS_PAGES, TIERS_FS),
        Spec(
            "store_rw", "store", store_features, STORE_NOVERLAP, STORE_PAGES, STORE_FS,
            n_domains=STORE_SERIES + 1, hot_frac=0.0,
        ),
    ]
}


@dataclass
class Op:
    kind: str  # fused | write | merge | read
    wall: float = 0.0
    points: int = 0
    problems: list[str] = field(default_factory=list)
    error: str | None = None
    traced: bool = False

    @property
    def failed(self) -> bool:
        return self.error is not None or bool(self.problems)


@dataclass
class Ctx:
    spark: object
    spec: Spec
    seed: int
    seconds: float
    work: Path
    tracer: Tracer
    layer: dict = field(default_factory=dict)
    plan_s: list[float] = field(default_factory=list)

    @property
    def features(self):
        return self.spec.features()


def _untraced_turn(i: int) -> bool:
    """ABBA order (traced, untraced, untraced, traced, ...) for the i-th op of
    a kind: a linear warm-up trend then weighs on both halves alike."""
    return i % 4 in (1, 2)


def _timed_op(ctx: Ctx, kind: str, fn, untraced: bool = False) -> tuple[Op, object]:
    """Run one timed operation; an exception fails the op, not the run.

    ``untraced`` pauses the tracer for this op: a traced run alternates
    traced and untraced ops of one kind to measure the tracing overhead.
    """
    if untraced and ctx.tracer.enabled:
        with ctx.tracer.paused():
            return _timed_op(ctx, kind, fn)
    op = Op(kind, traced=ctx.tracer.enabled)
    t0 = perf_counter()
    try:
        with ctx.tracer.span(f"op.{kind}", new_trace=True):
            result = fn()
    except Exception:  # noqa: BLE001 — recorded and counted as a failed op
        op.wall = perf_counter() - t0
        op.error = traceback.format_exc()
        print(op.error, file=sys.stderr)
        return op, None
    op.wall = perf_counter() - t0
    return op, result


def _plan(ctx: Ctx, df) -> None:
    if ctx.tracer.enabled:
        ctx.plan_s.append(planning_seconds(df))


def _ts_us(col: pd.Series) -> np.ndarray:
    return col.to_numpy(dtype="datetime64[us]").astype(np.int64)


# --- inputs -------------------------------------------------------------------


def build_pages(ctx: Ctx):
    """Seeded pages and their series offsets, persisted and counted."""
    with ctx.tracer.span("pages.generate_pages"):
        pages = generate_pages(
            ctx.spark, ctx.spec.n_pages, n_domains=ctx.spec.n_domains,
            hot_domain_frac=ctx.spec.hot_frac, seed=ctx.seed,
        ).persist()
        n_samples = int(pages.agg(F.sum(F.octet_length("text"))).first()[0])
    with ctx.tracer.span("pages.with_series_offsets"):
        offs = with_series_offsets(pages).persist()
        offs.count()
    return pages, offs, n_samples


def build_store_points(ctx: Ctx, offs):
    """The engine's own score points at the store's sample rate."""
    scored = score_pages(offs, ctx.features, WINLEN, ctx.spec.noverlap, fs=ctx.spec.fs)
    points = scores_to_points(scored, ctx.spec.fs, ORIGIN).localCheckpoint(eager=True)
    return points, points.count()


def build_inputs(ctx: Ctx) -> dict:
    pages, offs, n_samples = build_pages(ctx)
    inputs = {"pages": pages, "offs": offs, "n_samples": n_samples}
    if ctx.spec.kind == "store":
        inputs["points"], inputs["n_points"] = build_store_points(ctx, offs)
    return inputs


def series_samples(pages) -> dict[str, int]:
    rows = (
        pages.groupBy(url_domain(F.col("url")).alias("sid"))
        .agg(F.sum(F.octet_length("text")).alias("n"))
        .collect()
    )
    return {r.sid: int(r.n) for r in rows}


def checked_domain(seed: int, n_domains: int = N_DOMAINS) -> str:
    """A seeded non-hot domain, the series checked against ``score_local``."""
    idx = 1 + np.random.default_rng([seed, 1]).integers(n_domains - 1)
    return f"d{int(idx):03d}.example.com"


def domain_samples(pages, domain: str) -> np.ndarray:
    """One series' samples, rebuilt from its pages in (warc_ts, url) order."""
    rows = (
        pages.filter(F.col("url").startswith(f"https://{domain}/"))
        .select("warc_ts", "url", "text")
        .orderBy("warc_ts", "url")
        .collect()
    )
    buf = np.frombuffer(b"".join(r.text.encode("utf-8") for r in rows), dtype=np.uint8)
    return (buf.astype(np.float64) - 127.5) / 127.5


def reference_points(
    x: np.ndarray, domain: str, features, fs: float, noverlap: int
) -> pd.DataFrame:
    """Score points of one series from the local ``score_local`` twin."""
    frames = []
    for feat in features:
        starts, names, vals = K.score_local(feat, x, fs=fs, winlen=WINLEN, noverlap=noverlap)
        ts = checks.window_timestamps_us(starts, fs, ORIGIN)
        for j, label in enumerate(names):
            frames.append(
                pd.DataFrame({"series_id": f"{domain}|{label}", "ts_us": ts, "value": vals[:, j]})
            )
    return pd.concat(frames, ignore_index=True)


def make_late_batches(
    base: pd.DataFrame, seed: int, n_batches: int
) -> list[pd.DataFrame]:
    """Seeded late batches drawn from each series' last ``LATENESS_DAYS``.

    Each batch mixes value corrections (a new value at an existing
    timestamp), exact re-deliveries of committed points, and exact
    re-deliveries of the previous batch's corrections.  Lateness is bounded
    per series: a series' late rows lie within ``LATENESS_DAYS`` of its own
    newest point, so a batch repairs many series, each near its head.
    """
    rng = np.random.default_rng([seed, 2])
    newest = base.groupby("series_id")["ts_us"].transform("max")
    cutoff = newest - LATENESS_DAYS * 86_400 * checks.MICROS
    recent = base[base["ts_us"] >= cutoff].reset_index(drop=True)
    batches: list[pd.DataFrame] = []
    for _ in range(n_batches):
        corr = recent.iloc[rng.choice(len(recent), LATE_CORRECTIONS, replace=False)].copy()
        corr["value"] = corr["value"] + rng.uniform(0.5, 1.5, len(corr))
        dup = recent.iloc[rng.choice(len(recent), LATE_DUPLICATES, replace=False)]
        parts = [corr, dup]
        if batches:
            prev = batches[-1]
            parts.append(prev.iloc[rng.choice(len(prev), LATE_DUPLICATES // 2, replace=False)])
        batch = pd.concat(parts, ignore_index=True)
        batches.append(batch.iloc[rng.permutation(len(batch))].reset_index(drop=True))
    return batches


def to_spark_points(spark, pdf: pd.DataFrame):
    """Points frame -> Spark (series_id, ts, value), timestamps exact to 1 us."""
    out = pd.DataFrame(
        {
            "series_id": pdf["series_id"].astype(str),
            "ts": pdf["ts_us"].to_numpy().astype("datetime64[us]"),
            "value": pdf["value"].astype(np.float64),
        }
    )
    return spark.createDataFrame(out, "series_id string, ts timestamp, value double")


def collect_points(df) -> pd.DataFrame:
    pdf = df.select("series_id", "ts", "value").toPandas()
    return pd.DataFrame(
        {"series_id": pdf["series_id"], "ts_us": _ts_us(pdf["ts"]), "value": pdf["value"]}
    )


# --- timed operations -----------------------------------------------------------


def fused_run(ctx: Ctx, offs) -> tuple[dict, dict]:
    """pages -> kernels -> all tiers; consumes every tier with its totals."""
    with ctx.tracer.span("rollup.score_pages_to_tiers"):
        tiers = score_pages_to_tiers(
            offs, ctx.features, WINLEN, ctx.spec.noverlap, fs=ctx.spec.fs
        )
        totals = {}
        for name, df in tiers.items():
            agg = df.agg(F.count(F.lit(1)), F.sum("cnt"), F.sum("sum"))
            # collect(), not first(): first() runs a limit(1) query, whose
            # planning would not be in ``agg``'s tracker.
            r = agg.collect()[0]
            _plan(ctx, agg)
            totals[name] = (int(r[0]), int(r[1] or 0), float(r[2] or 0.0))
    return tiers, totals


def dashboard_read(ctx: Ctx, path: str, day: str) -> pd.DataFrame:
    """Closed-loop client request: one day -> 1h rollup -> linear gap-fill."""
    with ctx.tracer.span("read.dashboard"):
        rolled = rollup_points(read_points_range(ctx.spark, path, day, day), TIERS["1h"])
        filled = gapfill(rolled, TIERS["1h"], method="linear")
        pdf = filled.toPandas()
        _plan(ctx, filled)
    return pd.DataFrame(
        {
            "series_id": pdf["series_id"],
            "bucket_us": _ts_us(pdf["bucket_ts"]),
            "value": pdf["value"],
            "is_gap": pdf["is_gap"],
        }
    )


def _deadline_passed(t_end: float) -> bool:
    return perf_counter() >= t_end


def timed_tiers(ctx: Ctx, inputs: dict, expected_cnt: int) -> tuple[list[Op], dict]:
    ops: list[Op] = []
    last = None
    t_end = perf_counter() + ctx.seconds
    while len(ops) < MIN_OPS or not _deadline_passed(t_end):
        op, res = _timed_op(
            ctx, "fused", lambda: fused_run(ctx, inputs["offs"]), untraced=_untraced_turn(len(ops))
        )
        op.points = inputs["n_samples"] + expected_cnt
        if res is not None:
            last, totals = res
            op.problems = checks.check_tier_totals(totals, expected_cnt)
        ops.append(op)
    return ops, last


def timed_store(ctx: Ctx, inputs: dict, store: Path, state: dict) -> list[Op]:
    """A write and reads, then (merge, reads) cycles until the run time is
    used up.

    ``state`` collects what the checks need: the late batches applied and
    every read with the number of merges it saw.
    """
    spark, ops = ctx.spark, []
    rng = np.random.default_rng([ctx.seed, 3])
    t_end = perf_counter() + ctx.seconds
    op, _ = _timed_op(
        ctx, "write",
        lambda: _traced(ctx, "chunkstore.write_chunk_store", write_chunk_store,
                        inputs["points"], str(store), CHUNK_SECONDS, "overwrite", N_BUCKETS),
    )
    op.points = inputs["n_points"]
    ops.append(op)
    state["bytes_after_write"] = store_bytes(store)
    state["files_written"] = len(data_files(store))
    days = state["days"]

    def reads(merges: int) -> None:
        for _ in range(READS_PER_GAP):
            day = days[rng.integers(len(days))]
            op, pdf = _timed_op(
                ctx, "read", lambda: dashboard_read(ctx, str(store), day),
                untraced=_untraced_turn(len(state["reads"])),
            )
            ops.append(op)
            if pdf is not None:
                state["reads"].append((op, day, merges, pdf))

    reads(0)
    merges = 0
    while merges < MAX_MERGES and (merges < MIN_MERGES or not _deadline_passed(t_end)):
        batch = state["batches"][merges]
        late = to_spark_points(spark, batch)
        if ctx.tracer.enabled:
            count_rewrites = _ooo_probe(ctx, store, late, len(batch))
        op, _ = _timed_op(
            ctx, "merge",
            lambda: _traced(ctx, "ooo.merge_out_of_order", merge_out_of_order,
                            spark, str(store), late, CHUNK_SECONDS),
        )
        ops.append(op)
        if ctx.tracer.enabled:
            count_rewrites()
        merges += 1
        state["applied"] = merges
        reads(merges)
    return ops


def _traced(ctx: Ctx, name: str, fn, *args):
    with ctx.tracer.span(name):
        return fn(*args)


def data_files(path: Path) -> dict[str, tuple[int, int]]:
    """Parquet data files under ``path``: relative path -> (size, mtime_ns)."""
    out = {}
    for p in path.rglob("*.parquet"):
        st = p.stat()
        out[str(p.relative_to(path))] = (st.st_size, st.st_mtime_ns)
    return out


def store_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


def _ooo_probe(ctx: Ctx, store: Path, late, n_late: int):
    """Locate the chunks a late batch touches, then (after the merge) diff
    the store's files to count what the merge rewrote."""
    spark = ctx.spark
    with ctx.tracer.span("ooo.locate", new_trace=True):
        affected = late.select(
            "series_id", chunk_key(F.col("ts"), CHUNK_SECONDS).alias("chunk_start")
        ).distinct()
        scan = pruned_store_scan(spark, str(store), affected, N_BUCKETS)
        touched = scan.join(
            F.broadcast(affected), ["series_id", "chunk_start"], "left_semi"
        ).count()
    before = data_files(store)

    def after_merge():
        after = data_files(store)
        changed = [p for p, v in after.items() if before.get(p) != v]
        rows = sum(pq.read_metadata(store / p).num_rows for p in changed)
        acc = ctx.layer.setdefault("ooo", [])
        acc.append(
            {
                "touched": touched,
                "rewritten": rows,
                "partitions": len({str(Path(p).parent) for p in changed}),
                "bytes": sum(after[p][0] for p in changed),
                "late_bytes": 16 * n_late,  # 8-byte timestamp + 8-byte value
            }
        )

    return after_merge


# --- checks ---------------------------------------------------------------------


def check_tiers_series(ctx: Ctx, inputs: dict, tiers: dict):
    """One seeded series' 1m tier vs a numpy rollup of ``score_local``.

    Returns (problems, the series' reference points, its samples).
    """
    domain = checked_domain(ctx.seed, ctx.spec.n_domains)
    x = domain_samples(inputs["pages"], domain)
    ref_pts = reference_points(x, domain, ctx.features, ctx.spec.fs, ctx.spec.noverlap)
    ref = checks.rollup_reference(ref_pts, TIERS["1m"])
    got = tiers["1m"].filter(F.col("series_id").startswith(domain + "|")).toPandas()
    got = got.assign(
        bucket_us=_ts_us(got["bucket_ts"]),
        first_ts_us=_ts_us(got["first_ts"]),
        last_ts_us=_ts_us(got["last_ts"]),
    )
    return checks.compare_tier(got, ref), ref_pts, x


def check_store(ctx: Ctx, store: Path, base: pd.DataFrame, state: dict, ops: list[Op]) -> None:
    batches = state["batches"][: state["applied"]]
    try:
        decoded = collect_points(read_points(ctx.spark, str(store)))
    except Exception:  # noqa: BLE001 — an unreadable store fails the check
        problems = [f"store unreadable: {traceback.format_exc(limit=1)}"]
    else:
        problems = checks.compare_point_sets(decoded, checks.expected_store(base, batches))
    last_mutation = [op for op in ops if op.kind in ("write", "merge")][-1]
    last_mutation.problems += problems
    for op, day, n_merges, got in state["reads"]:
        expected = checks.expected_store(base, state["batches"][:n_merges])
        day_us = int(np.datetime64(day, "us").astype(np.int64))
        op.problems += checks.compare_dashboard(
            got, checks.dashboard_reference(expected, day_us, TIERS["1h"])
        )


# --- traced-only layer calls ------------------------------------------------------


def kernel_layer(x: np.ndarray, spec: Spec, fs: float) -> dict[str, float]:
    """In-process kernel cost on a seeded window batch, plus a single-core
    ``score_local`` baseline of the workload's own job on one series."""
    starts = K.window_starts(len(x), WINLEN, spec.noverlap)[:256]
    W = np.ascontiguousarray(np.lib.stride_tricks.sliding_window_view(x, WINLEN)[starts - 1])
    out = {}
    for feat in spectral_features():
        walls = []
        for _ in range(3):
            t0 = perf_counter()
            feat.compute_batch(W, fs)
            walls.append(perf_counter() - t0)
        out[f"kernels.{type(feat).__name__}.us_per_window"] = (
            statistics.median(walls) / len(W) * 1e6
        )
    t0 = perf_counter()
    n_scores = 0
    for feat in spec.features():
        starts_, names, _ = K.score_local(feat, x, fs=fs, winlen=WINLEN, noverlap=spec.noverlap)
        n_scores += len(starts_) * len(names)
    out["kernels.single_core_points_per_s"] = (len(x) + n_scores) / (perf_counter() - t0)
    return out


def codec_layer(points: pd.DataFrame, max_points: int = 20_000) -> dict[str, float]:
    """In-process codec cost per point over the store's own chunks."""
    p = points.sort_values(["series_id", "ts_us"], kind="stable")
    chunk = p["ts_us"].to_numpy() // checks.MICROS // CHUNK_SECONDS
    groups = [
        (g["ts_us"].to_numpy(), g["value"].to_numpy())
        for _, g in p.assign(chunk=chunk).groupby(["series_id", "chunk"], sort=True)
    ]
    picked, n = [], 0
    for ts, vals in groups:
        if n >= max_points:
            break
        picked.append((ts, vals))
        n += len(ts)
    walls = dict.fromkeys(
        ("encode_values", "decode_values", "encode_timestamps", "decode_timestamps"), 0.0
    )
    for ts, vals in picked:
        t0 = perf_counter()
        vb = codec.encode_values(vals)
        t1 = perf_counter()
        tb = codec.encode_timestamps(ts)
        t2 = perf_counter()
        codec.decode_values(vb, len(vals))
        t3 = perf_counter()
        codec.decode_timestamps(tb, len(ts))
        t4 = perf_counter()
        walls["encode_values"] += t1 - t0
        walls["encode_timestamps"] += t2 - t1
        walls["decode_values"] += t3 - t2
        walls["decode_timestamps"] += t4 - t3
    return {f"codec.{k}_ns_per_point": v / n * 1e9 for k, v in walls.items()}


def traced_layers(
    ctx: Ctx, inputs: dict, store: Path | None = None, day: str | None = None
) -> dict:
    """Layer calls made only in the traced run, each in its own span.

    With a ``store``, also encodes and decodes it whole and gap-fills one
    ``day`` of it; otherwise gap-fills the 1h tier.
    """
    tr, spec, spark = ctx.tracer, ctx.spec, ctx.spark
    out: dict = {}
    with tr.span("score.score_pages", new_trace=True):
        score_pages(inputs["offs"], ctx.features, WINLEN, spec.noverlap, fs=spec.fs).write.format(
            "noop"
        ).mode("overwrite").save()
    if spec.kind == "tiers":
        with tr.span("rollup.materialize_scores", new_trace=True):
            scored = score_pages(
                inputs["offs"], ctx.features, WINLEN, spec.noverlap, fs=spec.fs
            ).localCheckpoint(eager=True)
        points = scores_to_points(scored, spec.fs, ORIGIN)
    else:
        points = inputs["points"]
    tiers = rollup_all_tiers(points)
    rows = {}
    with tr.span("rollup.tier_1m", new_trace=True):
        rows["1m"] = tiers["1m"].count()
    with tr.span("rollup.coarse_tiers", new_trace=True):
        for name in ("1h", "1d", "30d"):
            rows[name] = tiers[name].count()
    out["tier_rows"] = rows
    if store is not None:
        with tr.span("chunkstore.encode_chunks", new_trace=True):
            encode_chunks(points, CHUNK_SECONDS).write.format("noop").mode("overwrite").save()
        with tr.span("chunkstore.decode_chunks", new_trace=True):
            decode_chunks(read_chunk_store(spark, str(store))).write.format("noop").mode(
                "overwrite"
            ).save()
        rolled = rollup_points(read_points_range(spark, str(store), day, day), TIERS["1h"])
    else:
        rolled = tiers["1h"]
    rolled = rolled.localCheckpoint(eager=True)
    with tr.span("gapfill.gapfill", new_trace=True):
        out["spine_rows"] = len(gapfill(rolled, TIERS["1h"], method="linear").toPandas())
    return out

"""One benchmark run: a Spark session, set-up, timed ops, output checks.

Spark's local event log is on in every run, traced or not, so the two kinds
of run differ only by what the tracer adds: spans, job-group labels and
planning-tracker reads.  A traced run alternates traced and untraced ops of
the workload's latency op (their median ratio is the tracing overhead), makes
the layer-isolating calls afterwards, and turns spans plus the event log into
the per-layer metrics.
"""

from __future__ import annotations

import os
import signal
import statistics
import subprocess
import time
from pathlib import Path
from time import perf_counter

import numpy as np

from afspark import session as engine_session

from . import checks, host
from . import workloads as W
from .trace import Tracer, metrics_for_groups, read_event_log, self_time_by_name

def _keep_pyfiles_in(work: Path) -> None:
    """Point the session's package zip at ``work``.

    ``get_session`` zips the engine for executors into ``/tmp`` by default;
    the benchmark writes only inside its checkout.
    """
    orig = getattr(engine_session.package_zip, "__wrapped__", engine_session.package_zip)

    def package_zip(target: str | None = None) -> str:
        return orig(target or str(work / "afspark_pyfiles.zip"))

    package_zip.__wrapped__ = orig
    engine_session.package_zip = package_zip


def start_session(spec: W.Spec, work: Path, event_dir: Path):
    conf = host.session_conf(work)
    event_dir.mkdir(parents=True, exist_ok=True)
    conf.update(
        {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    )
    _keep_pyfiles_in(work)
    return engine_session.get_session(app_name=f"perfbench-{spec.name}", extra_conf=conf)


def shutdown_jvm(timeout: float = 60.0) -> None:
    """Stop the py4j gateway JVM and wait for it and its workers to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway exits when its stdin closes
            try:
                proc.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + timeout
    while host.descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in host.descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


class Run:
    def __init__(
        self, spec: W.Spec, seed: int, seconds: float, work: Path, traced: bool,
        rss: host.RssSampler,
    ):
        self.spec = spec
        self.rss = rss
        self.work = work
        self.event_dir = work / "eventlog"
        t0 = perf_counter()
        self.spark = start_session(spec, work, self.event_dir)
        self.session_s = perf_counter() - t0
        sc = self.spark.sparkContext
        self.app_id = sc.applicationId
        self.tracer = Tracer(
            traced, on_enter=lambda group: sc.setLocalProperty("spark.jobGroup.id", group)
        )
        self.ctx = W.Ctx(self.spark, spec, seed, seconds, work, self.tracer)
        self.ops: list[W.Op] = []
        self.setup_s = 0.0
        self.info: dict = {}
        self.layer = self.ctx.layer  # per-layer counters the traced run fills

    # --- timing summaries ---------------------------------------------------

    def _walls(self, kind: str, traced: bool | None = None) -> list[float]:
        return [
            op.wall
            for op in self.ops
            if op.kind == kind and not op.failed and traced in (None, op.traced)
        ]

    # A metric with no successful op to measure reads None (null in the
    # JSON): the run then reports its failed ops instead of crashing.

    def op_p50_s(self, traced: bool | None = None) -> float | None:
        return _median(self._walls(latency_op(self.spec), traced))

    def trace_overhead_share(self) -> float | None:
        on, off = self.op_p50_s(traced=True), self.op_p50_s(traced=False)
        return None if on is None or off is None else on / off - 1.0

    def points_per_s(self) -> float | None:
        kind = "fused" if self.spec.kind == "tiers" else "write"
        ops = [op for op in self.ops if op.kind == kind and not op.failed]
        wall = _median([op.wall for op in ops])
        return None if wall is None else ops[0].points / wall

    def summary(self, peak_rss: int) -> dict:
        """The workload's named end-to-end metrics, with units and sample counts."""
        n_failed = sum(op.failed for op in self.ops)

        def metric(value, unit, samples=1):
            return {"value": value, "unit": unit, "samples": samples}

        out = {
            "setup_s": metric(self.setup_s, "s"),
            "peak_rss_mb": metric(peak_rss / 2**20, "MB"),
            "failed_op_share": {
                "value": n_failed / max(1, len(self.ops)), "unit": "ratio",
                "failed": n_failed, "attempted": len(self.ops),
            },
        }
        if self.spec.kind == "tiers":
            out["rollup_points_per_s"] = metric(
                self.points_per_s(), "points/s", len(self._walls("fused"))
            )
        else:
            reads = sorted(self._walls("read"))
            merges = self._walls("merge")
            out["store_write_points_per_s"] = metric(
                self.points_per_s(), "points/s", len(self._walls("write"))
            )
            p50 = _median(reads)
            out["ooo_merge_s"] = metric(_median(merges), "s", len(merges))
            out["range_read_p50_ms"] = metric(
                None if p50 is None else p50 * 1e3, "ms", len(reads)
            )
            if len(reads) >= 100:  # p90 has >= 10 samples beyond it
                out["range_read_p90_ms"] = metric(
                    reads[int(0.9 * len(reads))] * 1e3, "ms", len(reads)
                )
            out["store_bytes_per_point"] = metric(
                self.info["bytes_after_write"] / self.info["points"], "bytes"
            )
        return out

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    # --- set-up, timed part and checks --------------------------------------

    def execute(self) -> "Run":
        t0 = perf_counter()
        inputs = W.build_inputs(self.ctx)
        build_s = perf_counter() - t0
        if self.spec.kind == "tiers":
            self._run_tiers(inputs, build_s)
        else:
            self._run_store(inputs, build_s)
        self.info.update(session_s=self.session_s, build_s=build_s)
        return self

    def _run_tiers(self, inputs: dict, build_s: float) -> None:
        ctx, spec = self.ctx, self.spec
        arity = sum(f.arity() for f in ctx.features)
        expected = checks.expected_score_rows(
            W.series_samples(inputs["pages"]), W.WINLEN, spec.noverlap, arity
        )
        t0 = perf_counter()
        with self.tracer.span("setup.warmup", new_trace=True):
            for _ in range(W.TIERS_WARMUP_RUNS):
                W.fused_run(ctx, inputs["offs"])
        self.setup_s = self.session_s + build_s + (perf_counter() - t0)
        ctx.plan_s.clear()
        self.ops, last = W.timed_tiers(ctx, inputs, expected)
        self.rss.stop()
        self.info = {"samples": inputs["n_samples"], "score_rows": expected}
        if last is None:
            return
        problems, ref_pts, x = W.check_tiers_series(ctx, inputs, last)
        [op for op in self.ops if op.error is None][-1].problems += problems
        if self.tracer.enabled:
            self.layer.update(W.kernel_layer(x, spec, spec.fs))
            self.layer.update(W.codec_layer(ref_pts))
            self.layer["traced"] = W.traced_layers(ctx, inputs, None)
            self.layer["rows_out"] = expected
            self.layer["samples"] = inputs["n_samples"]

    def _run_store(self, inputs: dict, build_s: float) -> None:
        ctx, spec = self.ctx, self.spec
        base = W.collect_points(inputs["points"])
        lo, hi = int(base["ts_us"].min()), int(base["ts_us"].max())
        span_days = (hi - lo) / (86_400 * checks.MICROS)
        by_series = base.groupby("series_id")["ts_us"]
        series_days = (by_series.max() - by_series.min()) / (86_400 * checks.MICROS)
        if span_days < W.STORE_MIN_SPAN_DAYS:
            raise RuntimeError(f"store points span {span_days:.1f} days, need 30")
        days = [
            str(d) for d in np.arange(
                np.datetime64(lo, "us").astype("datetime64[D]"),
                np.datetime64(hi, "us").astype("datetime64[D]") + 1,
            )
        ]
        batches = W.make_late_batches(base, ctx.seed, W.MAX_MERGES)
        # No warm-up: a one-day warm-up write and read took ~7 s of a run
        # budget that has no room for it, and did not narrow the spread.
        self.setup_s = self.session_s + build_s
        ctx.plan_s.clear()
        store = self.work / "store"
        state = {"days": days, "batches": batches, "reads": [], "applied": 0}
        self.ops = W.timed_store(ctx, inputs, store, state)
        self.rss.stop()
        W.check_store(ctx, store, base, state, self.ops)
        self.info = {
            "points": inputs["n_points"],
            "span_days": span_days,
            "series": len(series_days),
            "series_span_days_min": float(series_days.min()),
            "series_span_days_max": float(series_days.max()),
            # how many series the timed reads and merges actually cover
            "series_per_read": [int(r[3]["series_id"].nunique()) for r in state["reads"]],
            "series_per_late_batch": [
                int(b["series_id"].nunique()) for b in batches[: state["applied"]]
            ],
            "bytes_after_write": state["bytes_after_write"],
            "files_written": state["files_written"],
        }
        if self.tracer.enabled and not any(op.failed for op in self.ops):
            gapfill_day = days[np.random.default_rng([ctx.seed, 4]).integers(len(days))]
            domain = W.checked_domain(ctx.seed, spec.n_domains)
            x = W.domain_samples(inputs["pages"], domain)
            self.layer.update(W.kernel_layer(x, spec, spec.fs))
            self.layer.update(W.codec_layer(base))
            self.layer["traced"] = W.traced_layers(ctx, inputs, store, gapfill_day)
            self.layer["rows_out"] = inputs["n_points"]
            self.layer["samples"] = inputs["n_samples"]
            self.layer["files_written"] = state["files_written"]

    # --- per-layer metrics (traced run) -------------------------------------

    def layer_metrics(self) -> dict[str, float]:
        """Spans + event log + layer counters -> per-layer metric values.

        Empty when the run failed before its layer calls were made.
        """
        self.stop_session()  # finalizes the event log
        if "traced" not in self.layer:
            return {}
        spans = self.tracer.spans
        st = self_time_by_name(spans)
        ev = read_event_log(self.event_dir / self.app_id)

        def groups(*names: str) -> set[str]:
            return {Tracer.group_of(s.trace_id, s.span_id) for s in spans if s.name in names}

        score = metrics_for_groups(ev, groups("score.score_pages"))
        rollup = metrics_for_groups(ev, groups("rollup.tier_1m", "rollup.coarse_tiers"))
        traced = self.layer["traced"]
        m = {
            "pages.generate_s": st["pages.generate_pages"],
            "pages.offsets_s": st["pages.with_series_offsets"],
            "pages.samples": self.layer["samples"],
            "score.self_s": st["score.score_pages"],
            "score.rows_out": self.layer["rows_out"],
            "score.route_shuffle_write_bytes": score.get("shuffle_write_bytes", 0),
            "score.python_sent_bytes": score.get("python_sent_bytes", 0),
            "score.python_returned_bytes": score.get("python_returned_bytes", 0),
            "score.python_run_s": score.get("python_run_ms", 0) / 1e3,
            "score.python_boot_s": score.get("python_boot_ms", 0) / 1e3,
            "score.executor_run_s": score.get("executor_run_ms", 0) / 1e3,
            "score.executor_cpu_s": score.get("executor_cpu_ns", 0) / 1e9,
            "score.tasks": score.get("tasks", 0),
            "rollup.tier_1m_s": st["rollup.tier_1m"],
            "rollup.coarse_tiers_s": st["rollup.coarse_tiers"],
            "rollup.shuffle_write_bytes": rollup.get("shuffle_write_bytes", 0),
            "chunkstore.encode_s": st.get("chunkstore.encode_chunks", 0.0),
            "chunkstore.write_s": st.get("chunkstore.write_chunk_store", 0.0),
            "chunkstore.files_written": self.layer.get("files_written", 0),
            "chunkstore.decode_s": st.get("chunkstore.decode_chunks", 0.0),
            "gapfill.s": st["gapfill.gapfill"],
            "gapfill.spine_rows": traced["spine_rows"],
        }
        for name, rows in traced["tier_rows"].items():
            m[f"rollup.tier_rows.{name}"] = rows
        m.update({k: v for k, v in self.layer.items() if k.startswith(("kernels.", "codec."))})
        merges = self.layer.get("ooo", [])
        n = max(1, len(merges))
        touched = sum(x["touched"] for x in merges)
        rewritten = sum(x["rewritten"] for x in merges)
        m.update(
            {
                "ooo.locate_s": st.get("ooo.locate", 0.0) / n,
                "ooo.chunks_touched": touched / n,
                "ooo.chunks_rewritten": rewritten / n,
                "ooo.partitions_rewritten": sum(x["partitions"] for x in merges) / n,
                "ooo.useful_chunk_ratio": touched / rewritten if rewritten else 0.0,
                "ooo.bytes_rewritten_per_late_byte": (
                    sum(x["bytes"] for x in merges) / sum(x["late_bytes"] for x in merges)
                    if merges else 0.0
                ),
            }
        )
        op_traces = {s.trace_id for s in spans if s.name.startswith("op.")}
        per_op = metrics_for_groups(
            ev, {g for g in ev if g.split("/", 1)[0] in op_traces}
        )
        n_ops = max(1, sum(op.traced for op in self.ops))
        m.update(
            {
                "session.start_s": self.session_s,
                "trace.overhead_share": self.trace_overhead_share(),
                "driver.plan_s": sum(self.ctx.plan_s) / n_ops,
                "driver.jobs": per_op.get("jobs", 0) / n_ops,
                "spark.shuffle_write_bytes": per_op.get("shuffle_write_bytes", 0) / n_ops,
                "spark.spill_bytes": per_op.get("spill_bytes", 0) / n_ops,
                "spark.gc_s": per_op.get("gc_ms", 0) / 1e3 / n_ops,
                "spark.failed_tasks": per_op.get("failed_tasks", 0) / n_ops,
            }
        )
        return m


def _median(values: list[float]) -> float | None:
    return statistics.median(values) if values else None


def latency_op(spec: W.Spec) -> str:
    """The op whose median is ``op_p50_ms``: the fused run, or a read."""
    return "fused" if spec.kind == "tiers" else "read"


def run_workload(
    spec: W.Spec, seed: int, seconds: float, work: Path, traced: bool, rss: host.RssSampler
) -> Run:
    """Set up, time and check one workload; ``rss`` is stopped after the
    timed ops, so peak RSS covers session start through the last timed op."""
    return Run(spec, seed, seconds, work, traced, rss).execute()

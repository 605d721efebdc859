"""Rollup-engine benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload tiers_spectral --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` records spans around every layer call and prints the
per-layer metrics plus the tracing overhead.  The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``; the line before it holds
the workload's named metrics and the host record.  Records and spans go to
``.perfbench_out/`` in the checkout.  Exit status is 1 when any output
check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

from perfbench import host  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "points_per_s": "points/s",
    "op_p50_ms": "ms",
    "peak_rss_mb": "MB",
}

FEATURE_CLASSES = [
    "Energy", "SoundPressureLevel", "ZeroCrossingRate", "PermutationEntropy",
    "SpectralCentroid",
]

PER_LAYER = {
    "session.start_s": "s",
    "pages.generate_s": "s",
    "pages.offsets_s": "s",
    "pages.samples": "count",
    "score.self_s": "s",
    "score.rows_out": "count",
    "score.route_shuffle_write_bytes": "bytes",
    "score.python_sent_bytes": "bytes",
    "score.python_returned_bytes": "bytes",
    "score.python_run_s": "s",
    "score.python_boot_s": "s",
    "score.executor_run_s": "s",
    "score.executor_cpu_s": "s",
    "score.tasks": "count",
    **{f"kernels.{c}.us_per_window": "us" for c in FEATURE_CLASSES},
    "kernels.single_core_points_per_s": "points/s",
    "rollup.tier_1m_s": "s",
    "rollup.coarse_tiers_s": "s",
    **{f"rollup.tier_rows.{t}": "count" for t in ("1m", "1h", "1d", "30d")},
    "rollup.shuffle_write_bytes": "bytes",
    "chunkstore.encode_s": "s",
    "chunkstore.write_s": "s",
    "chunkstore.files_written": "count",
    "chunkstore.decode_s": "s",
    **{
        f"codec.{d}_{w}_ns_per_point": "ns"
        for d in ("encode", "decode")
        for w in ("values", "timestamps")
    },
    "ooo.locate_s": "s",
    "ooo.chunks_touched": "count",
    "ooo.chunks_rewritten": "count",
    "ooo.partitions_rewritten": "count",
    "ooo.useful_chunk_ratio": "ratio",
    "ooo.bytes_rewritten_per_late_byte": "ratio",
    "gapfill.s": "s",
    "gapfill.spine_rows": "count",
    "driver.plan_s": "s",
    "driver.jobs": "count",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.gc_s": "s",
    "spark.failed_tasks": "count",
    "trace.overhead_share": "ratio",
}

def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    out_dir = ROOT / ".perfbench_out"
    shutil.rmtree(work, ignore_errors=True)
    try:
        env = host.pin_environment(work)
        # Imported after pinning: numpy and pyspark read the environment.
        from perfbench import session, workloads

        spec = workloads.WORKLOADS.get(args.workload)
        if spec is None:
            print(f"unknown workload {args.workload!r}", file=sys.stderr)
            return 2
        record = {"workload": spec.name, "seed": args.seed, "seconds": args.seconds,
                  "trace": args.trace, "host": host.host_record(ROOT, env)}
        with host.RssSampler() as rss:
            run = session.run_workload(
                spec, args.seed, args.seconds, work, bool(args.trace), rss
            )
            if args.trace:
                metrics = per_layer(run)
                run.tracer.write(out_dir / f"{spec.name}-seed{args.seed}.spans.jsonl")
            else:
                metrics = end_to_end(run, rss.peak)
            run.stop_session()
            session.shutdown_jvm()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    ops = run.ops
    failed = sum(op.failed for op in ops)
    record["summary"] = run.summary(rss.peak)
    record["inputs"] = {**run.info, "jvm_rss_mb_at_peak": rss.jvm_at_peak / 2**20}
    record["host"]["cpu_steal_share"] = rss.steal_share
    record["ops"] = [[op.kind, op.wall, op.failed] for op in ops]
    record["problems"] = [p for op in ops for p in op.problems]
    out_dir.mkdir(exist_ok=True)
    (out_dir / f"{spec.name}-seed{args.seed}-trace{args.trace}.json").write_text(
        json.dumps({**record, "metrics": metrics}, indent=1)
    )
    for p in record["problems"]:
        print(f"check failed: {p}", file=sys.stderr)
    print(json.dumps({k: record[k] for k in ("workload", "seed", "summary", "inputs", "host")}))
    print(json.dumps({"correct": failed == 0, "attempted": len(ops), "failed": failed,
                      "metrics": metrics}))
    return 0 if failed == 0 else 1


def end_to_end(run, peak_rss: int) -> dict:
    """A metric no successful op measured is null; the run is then failed."""
    p50 = run.op_p50_s()
    values = {
        "setup_s": run.setup_s,
        "points_per_s": run.points_per_s(),
        "op_p50_ms": None if p50 is None else p50 * 1e3,
        "peak_rss_mb": peak_rss / 2**20,
    }
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}


def per_layer(run) -> dict:
    """Every per-layer metric; on a run with failed ops, missing ones are null."""
    values = run.layer_metrics()
    missing = set(PER_LAYER) - set(values)
    if missing and not any(op.failed for op in run.ops):
        raise RuntimeError(f"per-layer metrics not produced: {sorted(missing)}")
    values = {k: values.get(k) for k in PER_LAYER}
    return {
        k: {"value": None if values[k] is None else float(values[k]), "unit": PER_LAYER[k]}
        for k in PER_LAYER
    }


if __name__ == "__main__":
    sys.exit(main())

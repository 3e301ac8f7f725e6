"""Workload registry: sizes, the run sequence and the result record.

Each workload runs closed-loop with one client: the next op starts when the
previous one has finished, like the jobs' one-at-a-time runs.  Set-up
(Spark start, generation, the reference, seeding and warm-up) ends when the
first timed op starts; ``setup_s`` is that instant.
"""

from __future__ import annotations

import time

from harness import RssSampler, log_failures
from reference import tally

# Sizes chosen so a run (Spark start, set-up, warm-up, timed window) fits
# the benchmark's per-run time budget on a 4-core host; see README.md.
BATCH_DUPLIGHT = {"n_docs": 3000, "dup_share": 0.14}
# one history trigger then one trickle trigger: with compact_every=1 the
# band LSM compacts exactly once per drain, folding the history delta
STREAM_TRICKLE = {
    "n_history": 1200,
    "history_files": 1,
    "n_files": 1,
    "docs_per_file": 200,
    "compact_every": 1,
    "restarts": 20,
}


END_TO_END = {
    "setup_s": "s",
    "docs_per_s": "docs/s",
    "resume_s": "s",
    "microbatch_p50_s": "s",
    "edge_recall": "ratio",
    "edge_precision": "ratio",
    "cluster_agreement": "ratio",
    "stored_bytes_per_doc": "bytes/doc",
    "peak_rss_mb": "MB",
    "ok_op_ratio": "ratio",
}


def _result(ctx, wl, measured: dict, setup_s: float, rss: RssSampler, trace_metrics: dict | None):
    attempted, failed = measured["attempted"], measured["failed"]
    # ops the traced run adds after the timed loop are checked and counted too
    extra = getattr(wl, "extra_results", [])
    log_failures(ctx, extra)
    extra_attempted, extra_failed = tally(extra, 2)
    attempted, failed = attempted + extra_attempted, failed + extra_failed
    if trace_metrics is not None:
        units = {k: u for k, (_, u) in trace_metrics.items()}
        metrics = {k: v for k, (v, _) in trace_metrics.items()}
    else:
        metrics = dict(measured["metrics"])
        metrics["setup_s"] = setup_s
        metrics["peak_rss_mb"] = rss.peak / 2**20
        metrics["ok_op_ratio"] = (attempted - failed) / attempted
        units = dict(END_TO_END)
        missing = set(units) - set(metrics)
        if missing:
            raise RuntimeError(f"metrics not measured: {sorted(missing)}")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
        "units": units,
    }


def _run(ctx, args, wl, instrument, layers) -> dict:
    with ctx.tracer.span("session.setup"):
        wl.setup()
    setup_s = time.monotonic() - ctx.t_process
    if args.trace:
        instrument(ctx, wl)
    rss = RssSampler()
    rss.start()
    try:
        measured = wl.measure(args.seconds)
    finally:
        rss.stop()
    trace_metrics = None
    if args.trace:
        trace_metrics = layers(ctx, wl, measured)
        ctx.tracer.write(ctx.trace_path)
    return _result(ctx, wl, measured, setup_s, rss, trace_metrics)


def batch_duplight(ctx, args) -> dict:
    from batch import BatchWorkload
    from layers import batch_layers, instrument_batch

    return _run(ctx, args, BatchWorkload(ctx, **BATCH_DUPLIGHT), instrument_batch, batch_layers)


def stream_trickle(ctx, args) -> dict:
    from layers import instrument_stream, stream_layers
    from stream import StreamWorkload

    return _run(ctx, args, StreamWorkload(ctx, **STREAM_TRICKLE), instrument_stream, stream_layers)


WORKLOADS = {
    "batch_duplight": batch_duplight,
    "stream_trickle": stream_trickle,
}

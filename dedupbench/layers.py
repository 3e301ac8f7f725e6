"""Per-layer metrics for the traced run (``--trace 1``).

Every call into a layer is made, or wrapped, from here: the engine itself is
not edited.  Layers are the package's modules: ``session``, ``kernels``,
``functions``, ``operators``, ``pipeline`` and ``streaming``.  Each workload
reports every metric; a layer the workload does not exercise reads 0.

- kernels: Spark-free, one core, over a sample of the workload's documents.
- functions / operators: each step runs from persisted inputs to Spark's
  ``noop`` sink under its own job group, so its jobs and shuffle bytes are
  exact counts from the status store.
- pipeline: job counts of the timed fresh and resume ops.
- streaming: wrappers set on the engine's ``BucketedLsm`` instances and on
  ``prune_prior_edges``, plus the engine's own debug scan counters; the
  state-store engine drains the same history and trickle once.
"""

from __future__ import annotations

import shutil
import time

import pandas as pd  # module-level: pandas_udf resolves the type hints here

from harness import attempt, median

KERNEL_ALGOS = ("optdens", "revoptdens", "probminhash3a", "probminhash2", "superminhash", "superminhash2")
OPERATOR_STEPS = ("band_explode", "candidate_pairs", "estimate_pair_jaccard", "verify_pairs", "assign_clusters")
LAYERS = ("session", "kernels", "functions", "operators", "pipeline", "streaming")

PER_LAYER = {
    "session.spark_start_s": "s",
    "session.warmup_s": "s",
    "kernels.shingle_docs_per_s": "docs/s",
    **{f"kernels.{a}_docs_per_s": "docs/s" for a in KERNEL_ALGOS},
    "functions.sketch_udf_s": "s",
    "functions.identity_udf_s": "s",
    "functions.exact_jaccard_pairs_per_s": "pairs/s",
    **{f"operators.{s}_s": "s" for s in OPERATOR_STEPS},
    **{f"operators.{s}.shuffle_write_bytes": "bytes" for s in OPERATOR_STEPS},
    "operators.candidate_pairs": "count",
    "operators.max_bucket_size": "count",
    "operators.capped_buckets": "count",
    "operators.est_survivor_ratio": "ratio",
    "operators.verify_pass_ratio": "ratio",
    "operators.equal_content_share": "ratio",
    "operators.cc_jobs": "count",
    "pipeline.fresh_jobs": "count",
    "pipeline.resume_jobs": "count",
    "pipeline.stage_overhead_s": "s",
    "pipeline.checkpoint_bytes": "bytes",
    "streaming.batch_jobs": "count",
    "streaming.state_files_scanned": "count",
    "streaming.edges_index_files_scanned": "count",
    "streaming.state_bytes_scanned": "bytes",
    "streaming.candidate_input_rows": "count",
    "streaming.state_read_s": "s",
    "streaming.write_delta_s": "s",
    "streaming.compact_s": "s",
    "streaming.prune_prior_edges_s": "s",
    "streaming.compactions": "count",
    "streaming.state_bytes": "bytes",
    "streaming.statestore_commit_ms": "ms",
    "streaming.statestore_rows_total": "count",
    "streaming.statestore_memory_bytes": "bytes",
    **{f"trace.{layer}.self_s": "s" for layer in LAYERS},
    "trace.overhead_ratio": "ratio",
}

SAMPLE_DOCS = 400
MIN_PROBE_S = 0.25


def _rate(n_items: int, fn) -> float:
    """Items per second of ``fn``, repeated until it has run MIN_PROBE_S."""
    fn()  # first call outside the timer: allocator and import warm-up
    reps, t0 = 0, time.perf_counter()
    while True:
        fn()
        reps += 1
        dt = time.perf_counter() - t0
        if dt >= MIN_PROBE_S:
            return n_items * reps / dt


def kernel_rates(ctx, texts: list[str]) -> dict:
    """Docs/s of shingling and of each sketch kernel on the shingled
    sample, on one core without Spark."""
    import numpy as np

    from probminhash_spark.kernels.densminhash import (
        optdens_minhash_batch,
        revoptdens_minhash_batch,
    )
    from probminhash_spark.kernels.probminhash import probminhash3a_batch
    from probminhash_spark.kernels.probminhash2 import probminhash2_batch
    from probminhash_spark.kernels.shingles import dedupe_counts, shingle_batch
    from probminhash_spark.kernels.superminhash import superminhash2_batch, superminhash_batch

    cfg = ctx.cfg
    n, m, hasher = len(texts), cfg.num_hashes, cfg.hasher
    out = {}
    with ctx.tracer.span("kernels.shingle"):
        out["kernels.shingle_docs_per_s"] = _rate(
            n, lambda: shingle_batch(texts, cfg.shingle_mode, cfg.shingle_size)
        )
    d, h = shingle_batch(texts, cfg.shingle_mode, cfg.shingle_size)
    dd, hh, _ = dedupe_counts(d, h)
    w = np.ones(dd.shape[0])
    calls = {
        "optdens": lambda: optdens_minhash_batch(d, h, n, m, hasher),
        "revoptdens": lambda: revoptdens_minhash_batch(d, h, n, m, hasher),
        "probminhash3a": lambda: probminhash3a_batch(dd, hh, w, n, m, hasher),
        "probminhash2": lambda: probminhash2_batch(dd, hh, w, n, m, hasher),
        "superminhash": lambda: superminhash_batch(d, h, n, m, hasher),
        "superminhash2": lambda: superminhash2_batch(d, h, n, m, hasher),
    }
    for algo in KERNEL_ALGOS:
        with ctx.tracer.span(f"kernels.{algo}"):
            out[f"kernels.{algo}_docs_per_s"] = _rate(n, calls[algo])
    return out


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed_step(ctx, layer: str, name: str, run) -> tuple[float, str]:
    """Run ``run()`` under its own job group and span; returns wall s and
    the group id."""
    with ctx.jobs.group(name) as gid, ctx.tracer.span(f"{layer}.{name}"):
        t0 = time.perf_counter()
        run()
        return time.perf_counter() - t0, gid


def function_probes(ctx, wl) -> dict:
    """Sketch UDF and an identity pandas UDF over the same content (the
    Arrow boundary alone), both to the noop sink."""
    import pyspark.sql.functions as F
    from pyspark.sql.functions import pandas_udf

    from probminhash_spark.operators.dedup import ensure_parallelism, with_signature

    @pandas_udf("string")
    def identity(content: pd.Series) -> pd.Series:
        return content

    files = wl.files
    sketch_s, _ = _timed_step(
        ctx, "functions", "sketch_udf", lambda: _noop(with_signature(files, ctx.cfg))
    )
    ident_s, _ = _timed_step(
        ctx, "functions", "identity_udf",
        lambda: _noop(ensure_parallelism(files).withColumn("c", identity(F.col("content")))),
    )
    return {"functions.sketch_udf_s": sketch_s, "functions.identity_udf_s": ident_s}


def operator_probes(ctx, wl) -> dict:
    """Each dedup step from persisted inputs of the newest checkpoint to the
    noop sink, with the pair-count funnel and shuffle bytes per step."""
    import pyspark.sql.functions as F

    from probminhash_spark.functions.sketch_udfs import make_exact_jaccard_udf
    from probminhash_spark.operators.cache import cache_scope
    from probminhash_spark.operators.components import assign_clusters
    from probminhash_spark.operators.dedup import (
        band_explode,
        candidate_pairs,
        estimate_pair_jaccard,
        verify_pairs,
    )

    cfg, spark = ctx.cfg, ctx.spark
    out: dict = {}
    held = []

    def hold(df):
        df = df.persist()
        df.count()
        held.append(df)
        return df

    def step(name, build):
        result = {}

        def run():
            result["df"] = build()
            _noop(result["df"])

        secs, gid = _timed_step(ctx, "operators", name, run)
        out[f"operators.{name}_s"] = secs
        out[f"operators.{name}.shuffle_write_bytes"] = ctx.jobs.shuffle_write_bytes(gid)
        return result["df"], gid

    with cache_scope():
        try:
            sigs = hold(
                spark.read.parquet(str(wl.last_root / "signatures" / "data"))
                .select("doc_id", "sig", "content")
            )
            bands, _ = step("band_explode", lambda: band_explode(sigs, cfg))
            bands = hold(bands)
            pair_out = {}

            def build_pairs():
                pair_out["pairs"], pair_out["capped"] = candidate_pairs(bands, cfg)
                return pair_out["pairs"]

            pairs, _ = step("candidate_pairs", build_pairs)
            pairs = hold(pairs)
            est, _ = step("estimate_pair_jaccard", lambda: estimate_pair_jaccard(pairs, sigs, cfg))
            est = hold(est)
            docs = sigs.select("doc_id", "content")
            edges, _ = step("verify_pairs", lambda: verify_pairs(est, docs, cfg))
            edges = hold(edges)
            _, cc_gid = step("assign_clusters", lambda: assign_clusters(sigs.select("doc_id"), edges))
            out["operators.cc_jobs"] = len(ctx.jobs.jobs(cc_gid))

            n_cand = pairs.count()
            surv = est.filter(F.col("j_est") >= cfg.est_low_cut).select("id_l", "id_r")
            sha = docs.select("doc_id", F.sha2("content", 256).alias("sha"))
            surv_sha = (
                surv.join(sha.withColumnsRenamed({"doc_id": "id_l", "sha": "sha_l"}), "id_l")
                .join(sha.withColumnsRenamed({"doc_id": "id_r", "sha": "sha_r"}), "id_r")
            )
            n_surv = surv.count()
            n_equal = surv_sha.filter(F.col("sha_l") == F.col("sha_r")).count()
            n_edges = edges.count()
            out["operators.candidate_pairs"] = n_cand
            out["operators.max_bucket_size"] = (
                bands.groupBy("band_id", "band_key").count().agg(F.max("count")).collect()[0][0]
            )
            out["operators.capped_buckets"] = pair_out["capped"].count()
            out["operators.est_survivor_ratio"] = n_surv / n_cand if n_cand else 0.0
            out["operators.verify_pass_ratio"] = n_edges / n_surv if n_surv else 0.0
            out["operators.equal_content_share"] = n_equal / n_surv if n_surv else 0.0

            # the verify kernel on the survivors, called directly (no Spark)
            ids = surv.toPandas()
            a = pd.Series([wl.ref.contents[i] for i in ids.id_l.tolist()])
            b = pd.Series([wl.ref.contents[i] for i in ids.id_r.tolist()])
            exact = make_exact_jaccard_udf(cfg).func
            with ctx.tracer.span("functions.exact_jaccard"):
                out["functions.exact_jaccard_pairs_per_s"] = _rate(len(a), lambda: exact(a, b))
        finally:
            for df in held:
                df.unpersist()
    return out


def _zeros() -> dict:
    return {k: 0 for k in PER_LAYER}


def _finish(ctx, metrics: dict, overhead_ratio: float) -> dict:
    self_s = ctx.tracer.self_seconds()
    for layer in LAYERS:
        metrics[f"trace.{layer}.self_s"] = self_s.get(layer, 0.0)
    metrics["trace.overhead_ratio"] = overhead_ratio
    unknown = set(metrics) - set(PER_LAYER)
    if unknown:
        raise RuntimeError(f"unregistered per-layer metrics: {sorted(unknown)}")
    return {k: (metrics[k], PER_LAYER[k]) for k in PER_LAYER}


def _sample_texts(contents: list[str]) -> list[str]:
    step = max(1, len(contents) // SAMPLE_DOCS)
    return contents[::step][:SAMPLE_DOCS]


# ----------------------------------------------------------------- batch ---


def instrument_batch(ctx, wl) -> None:
    """Spans around the pipeline's stage writes and clustering call."""
    import probminhash_spark.pipeline.dedup_pipeline as dp

    write, clusters = dp._write, dp.assign_clusters

    def traced_write(df, root, stage, *args, **kwargs):
        with ctx.tracer.span(f"operators.write_{stage}"):
            return write(df, root, stage, *args, **kwargs)

    dp._write = traced_write
    dp.assign_clusters = ctx.tracer.wrap("operators.assign_clusters_cc", clusters)
    wl.uninstrument = lambda: (setattr(dp, "_write", write), setattr(dp, "assign_clusters", clusters))


def batch_layers(ctx, wl, measured) -> dict:
    m = _zeros()
    m["session.spark_start_s"] = ctx.spark_start_s
    m["session.warmup_s"] = wl.warmup_s
    traced_fresh = median([r["fresh_s"] for r in wl.results])
    m["pipeline.fresh_jobs"] = median([r["fresh_jobs"] for r in wl.results])
    m["pipeline.resume_jobs"] = median([r["resume_jobs"] for r in wl.results])
    m["pipeline.checkpoint_bytes"] = wl.results[-1]["checkpoint_bytes"]
    # tracing overhead: traced, untraced, traced ops in a row, so a steady
    # warm-up drift cancels out of the ratio
    wl.uninstrument()
    ctx.tracer.enabled = False
    untraced = attempt(ctx, wl.op)
    ctx.tracer.enabled = True
    instrument_batch(ctx, wl)
    traced_after = attempt(ctx, wl.op)
    wl.uninstrument()
    wl.extra_results = [untraced, traced_after]
    overhead = 0.0
    if not (untraced.get("error") or traced_after.get("error")):
        traced = (wl.results[-1]["fresh_s"] + traced_after["fresh_s"]) / 2
        overhead = traced / untraced["fresh_s"]
    m.update(kernel_rates(ctx, _sample_texts(wl.docs.content)))
    m.update(function_probes(ctx, wl))
    m.update(operator_probes(ctx, wl))
    steps = m["functions.sketch_udf_s"] + sum(m[f"operators.{s}_s"] for s in OPERATOR_STEPS)
    m["pipeline.stage_overhead_s"] = traced_fresh - steps
    return _finish(ctx, m, overhead)


# ---------------------------------------------------------------- stream ---


def instrument_stream(ctx, wl) -> None:
    """Wrap each new engine's LSM stores and batch entry point, turn on its
    debug scan counters, and wrap ``prune_prior_edges``."""
    import probminhash_spark.streaming.dedup_stream as ds

    wl.batches = []
    wl.compactions = 0
    prune = ds.prune_prior_edges
    ds.prune_prior_edges = ctx.tracer.wrap("streaming.prune_prior_edges", prune)
    tr = ctx.tracer

    def on_engine(dedup) -> None:
        dedup.debug_metrics = True
        for lsm in (dedup._bands, dedup._eidx):
            lsm.read = tr.wrap("streaming.state_read", lsm.read)
            lsm.write_delta = tr.wrap("streaming.write_delta", lsm.write_delta)
            compact = lsm.maybe_compact

            def traced_compact(batch_id, lsm=lsm, compact=compact):
                before = lsm.read_manifest()
                with tr.span("streaming.compact"):
                    compact(batch_id)
                if lsm is dedup._bands and lsm.read_manifest() != before:
                    wl.compactions += 1

            lsm.maybe_compact = traced_compact
        process = dedup.process_batch

        def traced_process(batch_df, batch_id):
            with tr.span("streaming.batch"):
                process(batch_df, batch_id)
            wl.batches.append({
                "state_files": dedup.last_state_files_scanned or 0,
                "state_bytes": dedup.last_state_bytes_scanned or 0,
                "edges_files": dedup.last_edges_files_scanned or 0,
                "cand_rows": dedup.last_candidate_input_rows or 0,
            })

        dedup.process_batch = traced_process

    wl.on_engine = on_engine

    def uninstrument():
        ds.prune_prior_edges = prune
        wl.on_engine = None

    wl.uninstrument = uninstrument


def _statestore_drain(ctx, wl) -> dict:
    """The same history and trickle through ``attach_stateful_dedup`` in
    one trigger (a run has no time for one trigger per file); state-store
    figures from that trigger's progress."""
    from probminhash_spark.streaming.state_dedup import attach_stateful_dedup
    from stream import SCHEMA

    base = ctx.work / "statestore"
    inp = base / "input"
    shutil.copytree(wl.snap / "input", inp)
    for f in sorted(wl.trickle_dir.iterdir()):
        shutil.copy(f, inp / f.name)
    stream = ctx.spark.readStream.schema(SCHEMA).parquet(str(inp))
    with ctx.tracer.span("streaming.statestore_drain"):
        q = attach_stateful_dedup(stream, ctx.cfg, str(base / "edges"), str(base / "checkpoint"))
        q.awaitTermination()
    if q.exception() is not None:
        raise RuntimeError(f"state-store stream failed: {q.exception()}")
    progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
    ops = progress[-1]["stateOperators"][0]
    return {
        "streaming.statestore_commit_ms": ops.get("commitTimeMs", 0),
        "streaming.statestore_rows_total": ops.get("numRowsTotal", 0),
        "streaming.statestore_memory_bytes": ops.get("memoryUsedBytes", 0),
    }


def stream_layers(ctx, wl, measured) -> dict:
    m = _zeros()
    m["session.spark_start_s"] = ctx.spark_start_s
    m["session.warmup_s"] = wl.warmup_s
    drains = len(wl.results)
    trickle = wl.batches  # recorded by the instrumented (timed) drains only
    m["streaming.batch_jobs"] = median([r["batch_jobs"] for r in wl.results])
    m["streaming.state_files_scanned"] = sum(b["state_files"] for b in trickle) / drains
    m["streaming.edges_index_files_scanned"] = sum(b["edges_files"] for b in trickle) / drains
    m["streaming.state_bytes_scanned"] = sum(b["state_bytes"] for b in trickle) / drains
    m["streaming.candidate_input_rows"] = sum(b["cand_rows"] for b in trickle) / drains
    m["streaming.compactions"] = wl.compactions / drains
    m["streaming.state_bytes"] = wl.results[-1]["state_bytes"]
    for name in ("state_read", "write_delta", "compact", "prune_prior_edges"):
        total = sum(
            s["end"] - s["start"] for s in ctx.tracer.spans if s["name"] == f"streaming.{name}"
        )
        m[f"streaming.{name}_s"] = total / drains
    # tracing overhead: one untraced drain after the traced ones (a run has
    # no time for a second traced drain, so warm-up drift is not cancelled)
    traced_drain = median([r["drain_s"] for r in wl.results])
    wl.uninstrument()
    ctx.tracer.enabled = False
    untraced = attempt(ctx, wl.op)
    ctx.tracer.enabled = True
    wl.extra_results = [untraced]
    overhead = 0.0 if untraced.get("error") else traced_drain / untraced["drain_s"]
    m.update(kernel_rates(ctx, _sample_texts(list(wl.ref.contents.values()))))
    m.update(_statestore_drain(ctx, wl))
    return _finish(ctx, m, overhead)

"""Batch workload: fresh ``run_pipeline`` runs plus no-op resumes.

One op pair is a fresh run into a new checkpoint directory followed by
no-op resumes of that directory.  Each run is timed under its own Spark job
group, and the output of every pair is checked against the reference.
The traced run adds spans around the pipeline's stage writes and runs
per-layer probes (kernels, functions, operators) after the timed loop.
"""

from __future__ import annotations

import shutil
import time
from pathlib import Path

from harness import closed_loop, dir_bytes, log_failures, median
from inputs import Docs, batch_corpus
from reference import RATIOS, Reference, score, tally, worst_scores

STAGES = ("signatures", "bands", "candidates", "edges", "clusters")
# no-op resumes per op; each takes about a second, so their median is taken
RESUMES = 3


class BatchWorkload:
    def __init__(self, ctx, n_docs: int, dup_share: float):
        self.ctx = ctx
        self.n_docs = n_docs
        self.dup_share = dup_share

    # ------------------------------------------------------------ set-up ---

    def setup(self) -> None:
        ctx = self.ctx
        spark, cfg = ctx.spark, ctx.cfg
        self.docs: Docs = batch_corpus(ctx.seed, self.n_docs, self.dup_share)
        src = ctx.work / "input"
        src.mkdir(parents=True)
        self.docs.pandas().to_parquet(src / "files.parquet", index=False)
        self.files = spark.read.parquet(str(src))
        self.ids = ctx.doc_ids(self.files, self.docs)
        self.ref = Reference(
            {self.ids[i]: self.docs.content[i] for i in range(len(self.docs))},
            [[self.ids[i] for i in g] for g in self.docs.groups],
            cfg.shingle_size,
            cfg.threshold,
        )
        self.scope = set(self.ref.contents)
        ctx.log(f"batch: {len(self.scope)} docs, {len(self.ref.truth)} truth pairs; warm-up")
        self._n = 0
        # warm-up: one checked op pair (one resume) outside the timer
        t0 = time.monotonic()
        warm = self.op(resumes=1)
        self.warmup_s = time.monotonic() - t0
        if warm["problems"]:
            ctx.log(f"warm-up op failed its check: {warm['problems']}")

    # ---------------------------------------------------------------- ops ---

    def _run(self, root: Path, label: str) -> tuple[dict, float, list[int]]:
        from probminhash_spark.operators.cache import cache_scope
        from probminhash_spark.pipeline.dedup_pipeline import run_pipeline

        ctx = self.ctx
        with ctx.jobs.group(label) as gid, ctx.tracer.span(f"pipeline.{label}"):
            t0 = time.perf_counter()
            with cache_scope():
                counters = run_pipeline(ctx.spark, self.files, ctx.cfg, str(root))
            wall = time.perf_counter() - t0
        return counters, wall, ctx.jobs.jobs(gid)

    def op(self, resumes: int = RESUMES) -> dict:
        """Fresh run then no-op resumes on a new checkpoint dir; returns the
        timings, counts and the check result."""
        self._n += 1
        root = self.ctx.work / f"ckpt-{self._n}"
        self.ctx.tracer.op_id = f"op{self._n}"
        fresh, fresh_s, fresh_jobs = self._run(root, "fresh")
        resumed = [self._run(root, "resume") for _ in range(resumes)]
        problems, checked = self.check(root, fresh, [r[0] for r in resumed])
        out = {
            "fresh_s": fresh_s,
            "resume_s": median([r[1] for r in resumed]),
            "fresh_jobs": len(fresh_jobs),
            "resume_jobs": len(resumed[0][2]),
            "checkpoint_bytes": dir_bytes(root),
            "problems": problems,
            "score": checked,
        }
        # keep only the newest checkpoint: the traced probes read it
        old, self.last_root = getattr(self, "last_root", None), root
        if old is not None:
            shutil.rmtree(old, ignore_errors=True)
        return out

    def check(self, root: Path, fresh: dict, resumes: list[dict]) -> tuple[list[str], dict]:
        """Compare the written edges and clusters with the reference; each
        resume must reuse every stage and report identical counters."""
        spark = self.ctx.spark
        problems = []
        for resumed in resumes:
            if sorted(resumed["resumed_stages"]) != sorted(STAGES):
                problems.append(f"resume recomputed stages: {resumed['resumed_stages']}")
            for key in ("files", "candidate_pairs", "duplicate_edges", "duplicate_groups"):
                if fresh.get(key) != resumed.get(key):
                    problems.append(f"resume counter {key}: {fresh.get(key)} != {resumed.get(key)}")
        edges_pdf = spark.read.parquet(str(root / "edges" / "data")).select("id_l", "id_r").toPandas()
        clusters_pdf = (
            spark.read.parquet(str(root / "clusters" / "data"))
            .select("doc_id", "cluster_id").toPandas()
        )
        edges = {(min(a, b), max(a, b)) for a, b in zip(edges_pdf.id_l.tolist(), edges_pdf.id_r.tolist())}
        clusters = dict(zip(clusters_pdf.doc_id.tolist(), clusters_pdf.cluster_id.tolist()))
        if len(edges) != len(edges_pdf):
            problems.append("duplicate edges in output")
        if set(clusters) != self.scope:
            problems.append("clusters do not cover exactly the input docs")
            return problems, {}
        s = score(self.ref, edges, clusters, self.scope)
        for k in RATIOS:
            if s[k] < 1.0:
                problems.append(f"{k}={s[k]:.4f}")
        return problems, s

    # --------------------------------------------------------- timed loop ---

    def measure(self, seconds: float) -> dict:
        return self.summarise(closed_loop(self.ctx, self.op, seconds))

    def summarise(self, results: list[dict]) -> dict:
        ok = [r for r in results if not r.get("error")]
        attempted, failed = tally(results, 2)
        log_failures(self.ctx, results)
        if not ok:
            return {"attempted": attempted, "failed": failed, "metrics": {}}
        fresh = [r["fresh_s"] for r in ok]
        s = worst_scores(ok)
        m = {
            "docs_per_s": len(self.docs) / median(fresh),
            "resume_s": median([r["resume_s"] for r in ok]),
            "microbatch_p50_s": median(fresh),
            **s,
            "stored_bytes_per_doc": ok[-1]["checkpoint_bytes"] / len(self.docs),
        }
        self.ctx.log(
            f"batch: {len(ok)} op pairs, fresh_s={[round(x, 3) for x in fresh]}, "
            f"resume_s={[round(r['resume_s'], 3) for r in ok]}, "
            f"jobs fresh={sorted({r['fresh_jobs'] for r in ok})} "
            f"resume={sorted({r['resume_jobs'] for r in ok})}, score={s}"
        )
        self.results = ok
        return {"attempted": attempted, "failed": failed, "metrics": m}

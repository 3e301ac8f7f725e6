"""Stream workload: a trickle drained through the LSM engine.

Set-up seeds a history through the same availableNow path the job uses
(``jobs/dedup_stream.py``: a parquet file source wired to
``StreamingDeduper.attach``), one history file per trigger, and snapshots
the input, state and checkpoint directories.  The seeding drain is also the
warm-up of the streaming path.  Each op restores the snapshot, drops the
trickle files into the input directory and drains them one file per
trigger, then restarts the query repeatedly with no new input (the no-op
resume; one restart takes tens of milliseconds, so its median is taken).
"""

from __future__ import annotations

import shutil
import time
from pathlib import Path

from harness import closed_loop, dir_bytes, log_failures, median
from inputs import trickle_corpus
from reference import Reference, components, score, tally, worst_scores

SCHEMA = "repo string, path string, commit string, lang string, content string"


class StreamWorkload:
    def __init__(
        self,
        ctx,
        n_history: int,
        history_files: int,
        n_files: int,
        docs_per_file: int,
        compact_every: int,
        restarts: int,
        state_buckets: int = 64,
    ):
        self.ctx = ctx
        self.n_history = n_history
        self.history_files = history_files
        self.n_files = n_files
        self.docs_per_file = docs_per_file
        self.compact_every = compact_every
        self.restarts = restarts
        self.state_buckets = state_buckets
        self.snap = ctx.work / "snapshot"
        self.live = ctx.work / "live"
        self.trickle_dir = ctx.work / "trickle"
        # set by the traced run: called with each new StreamingDeduper
        self.on_engine = None

    # ------------------------------------------------------------ set-up ---

    def setup(self) -> None:
        ctx = self.ctx
        cfg = ctx.cfg
        t = trickle_corpus(ctx.seed, self.n_history, self.n_files, self.docs_per_file)
        docs = t.docs
        # seeded at the live paths: the file source's checkpoint records
        # absolute input paths, so a restored snapshot must sit where it ran
        inp = self.live / "input"
        inp.mkdir(parents=True)
        self.trickle_dir.mkdir(parents=True)
        per = -(-len(t.history) // self.history_files)
        for f in range(self.history_files):
            rows = t.history[f * per : (f + 1) * per]
            docs.pandas(rows).to_parquet(inp / f"h{f:03d}.parquet", index=False)
        for f, rows in enumerate(t.files):
            docs.pandas(rows).to_parquet(self.trickle_dir / f"t{f:03d}.parquet", index=False)
        all_files = ctx.spark.read.schema(SCHEMA).parquet(str(inp), str(self.trickle_dir))
        ids = ctx.doc_ids(all_files, docs)
        contents: dict[int, str] = {}
        for i, d in enumerate(ids):
            contents.setdefault(d, docs.content[i])
        self.ref = Reference(
            contents, [[ids[i] for i in g] for g in docs.groups], cfg.shingle_size, cfg.threshold
        )
        self.scope = {ids[i] for rows in t.files for i in rows}
        self.n_trickle = sum(len(rows) for rows in t.files)
        self.all_ids = set(contents)
        ctx.log(f"stream: {len(self.all_ids)} docs, {len(self.ref.truth)} truth pairs; seeding")
        # seed the history (and warm the streaming path), then snapshot
        t0 = time.monotonic()
        with ctx.tracer.span("streaming.seed"):
            drained = self._drain(inp, self.live / "state")
        self.warmup_s = time.monotonic() - t0
        if drained["batches"] != self.history_files:
            raise RuntimeError(f"history seeding ran {drained['batches']} batches")
        shutil.copytree(self.live, self.snap)
        ctx.log(f"stream: seeded, trigger_s={[round(x, 2) for x in drained['trigger_s']]}")
        self._n = 0

    # ---------------------------------------------------------------- ops ---

    def _engine(self, state: Path):
        from probminhash_spark.streaming.dedup_stream import StreamingDeduper

        dedup = StreamingDeduper(
            self.ctx.spark,
            self.ctx.cfg,
            str(state),
            state_buckets=self.state_buckets,
            compact_every=self.compact_every,
        )
        if self.on_engine is not None:
            self.on_engine(dedup)
        return dedup

    def _drain(self, inp: Path, state: Path) -> dict:
        """availableNow drain of ``inp`` into ``state``, one file per
        trigger; returns the wall time and the per-trigger durations."""
        spark = self.ctx.spark
        stream = spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(str(inp))
        dedup = self._engine(state)
        t0 = time.perf_counter()
        q = dedup.attach(stream, str(state / "_checkpoint"))
        q.awaitTermination()
        wall = time.perf_counter() - t0
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        return {
            "wall_s": wall,
            "batches": len(progress),
            "trigger_s": [p["durationMs"]["triggerExecution"] / 1000.0 for p in progress],
            "rows": sum(p["numInputRows"] for p in progress),
        }

    def op(self) -> dict:
        ctx = self.ctx
        self._n += 1
        ctx.tracer.op_id = f"op{self._n}"
        shutil.rmtree(self.live, ignore_errors=True)
        shutil.copytree(self.snap, self.live)
        for f in sorted(self.trickle_dir.iterdir()):
            shutil.copy(f, self.live / "input" / f.name)
        state = self.live / "state"
        first_job = ctx.jobs.next_job_id()
        with ctx.tracer.span("streaming.drain"):
            drained = self._drain(self.live / "input", state)
        drain_jobs = ctx.jobs.next_job_id() - first_job
        restarts = []
        for _ in range(self.restarts):
            with ctx.tracer.span("streaming.resume"):
                restarts.append(self._drain(self.live / "input", state))
        problems, checked = self.check(state, drained, restarts)
        return {
            "drain_s": drained["wall_s"],
            "trigger_s": drained["trigger_s"],
            "batch_jobs": drain_jobs / max(1, drained["batches"]),
            "resume_s": median([r["wall_s"] for r in restarts]),
            "state_bytes": dir_bytes(state),
            "problems": problems,
            "score": checked,
        }

    def check(self, state: Path, drained: dict, restarts: list[dict]) -> tuple[list[str], dict]:
        """Every trickle file drains as one batch; each restart drains
        nothing; every true pair touching a trickle doc is among the
        emitted edges, each emitted once, between known docs."""
        spark = self.ctx.spark
        problems = []
        if drained["batches"] != self.n_files or drained["rows"] != self.n_trickle:
            problems.append(f"drain ran {drained['batches']} batches / {drained['rows']} rows")
        if any(r["batches"] for r in restarts):
            problems.append(f"no-op restarts ran {[r['batches'] for r in restarts]} batches")
        pdf = spark.read.parquet(str(state / "edges")).select("id_l", "id_r").toPandas()
        pairs = [(min(a, b), max(a, b)) for a, b in zip(pdf.id_l.tolist(), pdf.id_r.tolist())]
        edges = set(pairs)
        if len(edges) != len(pairs):
            problems.append(f"{len(pairs) - len(edges)} edges emitted more than once")
        unknown = {d for p in edges for d in p} - self.all_ids
        if unknown:
            problems.append(f"{len(unknown)} edge endpoints are not input docs")
            return problems, {}
        # the engine emits edges only; its clusters are their components
        clusters = components(self.all_ids, edges)
        s = score(self.ref, edges, clusters, self.scope)
        if s["edge_recall"] < 1.0:
            problems.append(f"edge_recall={s['edge_recall']:.4f}")
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
        triggers = [t for r in ok for t in r["trigger_s"]]
        s = worst_scores(ok)
        m = {
            "docs_per_s": self.n_trickle / median([r["drain_s"] for r in ok]),
            "resume_s": median([r["resume_s"] for r in ok]),
            "microbatch_p50_s": median(triggers),
            **s,
            "stored_bytes_per_doc": ok[-1]["state_bytes"] / len(self.all_ids),
        }
        self.ctx.log(
            f"stream: {len(ok)} drains of {self.n_files} files, "
            f"drain_s={[round(r['drain_s'], 3) for r in ok]}, "
            f"trigger_s={[round(t, 3) for t in triggers]} (n={len(triggers)}), "
            f"resume_s={[round(r['resume_s'], 3) for r in ok]}, "
            f"jobs/batch={[round(r['batch_jobs'], 2) for r in ok]}, score={ok[-1]['score']}"
        )
        self.results = ok
        return {"attempted": attempted, "failed": failed, "metrics": m}

"""Near-duplicate engine benchmark.

Usage, from the root of a checkout:

    python3 dedupbench/run.py --workload batch_duplight --seed 1 --seconds 10 --trace 0

Prints progress on stderr, a host-facts line on stdout and, as the last
line of stdout, one JSON object: {"correct", "attempted", "failed",
"metrics"}.  With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` they are the per-layer ones (see README.md).  Exits non-zero
without a result when the engine package is not importable from the
checkout.
"""

from __future__ import annotations

import time

T_PROCESS = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))


def log(msg: str) -> None:
    print(f"[dedupbench {time.monotonic() - T_PROCESS:7.2f}s] {msg}", file=sys.stderr, flush=True)


class Ctx:
    """What every workload needs: session, config, seed, scratch dir,
    counters, tracer."""

    def __init__(self, args, work: Path, cores: int):
        from harness import JobCounter, Tracer, start_spark
        from probminhash_spark.config import DedupConfig

        self.t_process = T_PROCESS
        self.seed = args.seed
        self.work = work
        self.log = log
        self.cfg = DedupConfig()
        self.tracer = Tracer(enabled=bool(args.trace))
        t0 = time.monotonic()
        with self.tracer.span("session.spark_start"):
            self.spark = start_spark(work, cores)
        self.spark_start_s = time.monotonic() - t0
        self.jobs = JobCounter(self.spark)
        self.trace_path = HERE / "traces" / f"{args.workload}-seed{args.seed}.json"

    def doc_ids(self, files, docs) -> list[int]:
        """Engine doc id of every generated row, in row order, computed by
        Spark from the key columns (xxhash64 of repo, path, commit: the id
        contract of the engine's ``with_doc_id``)."""
        import pyspark.sql.functions as F

        pdf = files.select(
            "repo", "path", "commit", F.xxhash64("repo", "path", "commit").alias("id")
        ).toPandas()
        by_key = dict(zip(zip(pdf.repo, pdf.path, pdf.commit), pdf.id.tolist()))
        return [by_key[k] for k in zip(docs.repo, docs.path, docs.commit)]


def prepare_env(work: Path) -> None:
    """Point every scratch location into the checkout and let Python
    workers import the engine from it."""
    for sub in ("tmp", "spark-local", "warehouse"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # the session factory reads the driver heap from here (default 8g);
    # a fixed small heap keeps the run's memory footprint small and steady
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    import tempfile

    tempfile.tempdir = None


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it (its
    Python workers exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    try:
        import probminhash_spark  # noqa: F401
    except ImportError as exc:
        log(f"engine package not importable from {ROOT}: {exc}")
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        return 2

    cores = len(os.sched_getaffinity(0))
    work = HERE / ".work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    prepare_env(work)
    ctx = None
    try:
        ctx = Ctx(args, work, cores)
        from harness import host_facts

        print(json.dumps({"host": host_facts(ctx.spark, cores)}), flush=True)
        result = WORKLOADS[args.workload](ctx, args)
    finally:
        try:
            if ctx is not None:
                stop_spark(ctx.spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                work.parent.rmdir()  # only when no other run is using it
            except OSError:
                pass
    units = result.pop("units")
    result["metrics"] = {
        k: {"value": v, "unit": units[k]} for k, v in result["metrics"].items()
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

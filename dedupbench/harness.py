"""Run plumbing shared by the workloads: the Spark session, exact Spark
counters read from outside the package, process-tree memory sampling, host
facts and the span tracer.

Nothing here imports pyspark at module import time; ``start_spark`` does,
after ``run.py`` has pointed every scratch location into the checkout.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from pathlib import Path


def median(values) -> float:
    return float(statistics.median(values))


def dir_bytes(path: str | Path) -> int:
    """Bytes of the regular files under ``path`` (0 when absent)."""
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def attempt(ctx, op) -> dict:
    """Run one op; an exception is recorded as a failed op, not raised."""
    try:
        return op()
    except Exception as exc:  # noqa: BLE001 — a failed op is counted, never dropped
        ctx.log(f"op failed: {exc!r}")
        return {"problems": [repr(exc)], "error": True}


def log_failures(ctx, results: list[dict]) -> None:
    for r in results:
        if r["problems"]:
            ctx.log(f"failed op: {r['problems']}")


def closed_loop(ctx, op, seconds: float) -> list[dict]:
    """One client: start the next op when the previous one has finished,
    until the next op would likely end past ``seconds`` (at least one op)."""
    results = []
    deadline = time.monotonic() + seconds
    while True:
        t0 = time.monotonic()
        results.append(attempt(ctx, op))
        now = time.monotonic()
        if now + (now - t0) > deadline:
            return results


def start_spark(work: Path, cores: int):
    """Session through the engine's own factory on ``local[cores]``, with
    console progress off, scratch and temp dirs inside ``work``, and the
    status store kept for every job of the run (the counters read it)."""
    from probminhash_spark.session import get_spark

    spark = get_spark(
        app_name="dedupbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(work / "spark-local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class JobCounter:
    """Exact Spark job and shuffle-byte counts per job group, read from the
    status tracker and status store; every op runs under its own group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._n = 0

    @contextmanager
    def group(self, name: str):
        self._n += 1
        gid = f"dedupbench-{self._n}-{name}"
        self.sc.setJobGroup(gid, name)
        try:
            yield gid
        finally:
            self.sc.setJobGroup(f"dedupbench-idle-{self._n}", "idle")

    def next_job_id(self) -> int:
        """Id the scheduler gives the next job: the difference of two reads
        counts every job in between, whichever thread submitted it (the
        streaming engine's jobs run on the query's own thread)."""
        return int(self.sc._jsc.sc().dagScheduler().nextJobId())

    def jobs(self, gid: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(gid))

    def shuffle_write_bytes(self, gid: str) -> int:
        store = self.sc._jsc.sc().statusStore()
        tracker = self.sc.statusTracker()
        stages = set()
        for job in self.jobs(gid):
            info = tracker.getJobInfo(job)
            if info is not None:
                stages.update(info.stageIds)
        total = 0
        for sid in stages:
            try:
                total += int(store.lastStageAttempt(sid).shuffleWriteBytes())
            except Exception:  # stage skipped (reused shuffle): no attempt
                continue
        return total


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_rss_bytes(pid: int) -> int:
    """Resident bytes of ``pid`` and all its descendants (driver, JVM,
    Python workers), from /proc.  Proportional set size, so the pages that
    forked Python workers share with their daemon count once."""
    kids = _children_map()
    total, todo = 0, [pid]
    while todo:
        p = todo.pop()
        try:
            total += _pss_bytes(p)
        except OSError:  # the process ended between listing and reading
            pass
        todo.extend(kids.get(p, []))
    return total


class RssSampler:
    """Background sampler of the process-tree RSS; ``peak`` covers the
    interval between ``start`` and ``stop``."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self.interval_s)

    def start(self) -> None:
        self._thread = threading.Thread(target=self._run, name="rss", daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
            if self._thread.is_alive():
                raise RuntimeError("rss sampler did not stop")


def host_facts(spark, cores: int) -> dict:
    import platform

    import pyspark

    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    jvm = spark.sparkContext._jvm
    return {
        "nproc": cores,
        "mem_total_gib": round(mem_kb / 2**20, 1),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": str(jvm.java.lang.System.getProperty("java.version")),
        "master": spark.sparkContext.master,
    }


class Tracer:
    """In-memory spans (name, start, end, parent, op id) recorded around
    calls into the engine's layers; a span's layer is the first dotted part
    of its name.  Disabled tracers record nothing and cost one branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op_id: str | None = None
        self._local = threading.local()
        # spans opened on other threads (the streaming foreachBatch
        # callback) nest under the main thread's innermost open span
        self._main_open: list[int] = []

    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main_open
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        parent = stack[-1] if stack else (self._main_open[-1] if self._main_open else None)
        idx = len(self.spans)
        rec = {"name": name, "start": time.monotonic(), "end": None,
               "parent": parent, "op": self.op_id}
        self.spans.append(rec)
        stack.append(idx)
        try:
            yield
        finally:
            rec["end"] = time.monotonic()
            stack.pop()

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as span ``name``."""

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def self_seconds(self) -> dict[str, float]:
        """Per layer: the summed span time not covered by child spans."""
        child_time = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s, kids in zip(self.spans, child_time):
            if s["end"] is None:
                continue
            layer = s["name"].split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + max(0.0, s["end"] - s["start"] - kids)
        return out

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(self.spans))

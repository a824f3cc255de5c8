"""Spans around the benchmark's calls into the program, and the Spark
work each span caused.

A span records name, start, end, parent and run id. Spark jobs are
attributed to a span by job-id range: the scheduler numbers jobs in
submission order, so the jobs of a span are exactly the ids handed out
between its start and its end. That holds for jobs submitted from the
program's own worker threads too, which a job group would miss; it
relies on the benchmark running one operation at a time.

Executor run, CPU and GC time and shuffle bytes come from the status
store, which Spark keeps with ``spark.ui.enabled=false``. Spans stay in
memory and are written out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass, field

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    name: str
    run_id: str
    parent: str | None
    start: float  # epoch seconds
    end: float = 0.0
    job_lo: int = 0  # first job id submitted inside the span
    job_hi: int = 0  # first job id submitted after the span
    error: str | None = None
    profile: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


def next_job_id(spark) -> int:
    """The id the scheduler gives the next submitted job."""
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def _opt_ms(opt) -> float | None:
    """A Scala ``Option[Date]`` as epoch milliseconds."""
    return float(opt.get().getTime()) if opt.isDefined() else None


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Tracer:
    """Records spans. Passes and operations always get one; layer calls
    get one only when tracing is enabled."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.self_s = 0.0  # time spent in span bookkeeping

    @contextlib.contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        s = Span(name, self.run_id, self._stack[-1].name if self._stack else None, time.time())
        s.job_lo = next_job_id(self.spark)
        self._stack.append(s)
        self.self_s += time.perf_counter() - t0
        try:
            yield s
        except BaseException as e:
            s.error = f"{type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}"[:300]
            raise
        finally:
            t1 = time.perf_counter()
            s.end = time.time()
            s.job_hi = next_job_id(self.spark)
            self._stack.pop()
            self.spans.append(s)
            self.self_s += time.perf_counter() - t1

    def layer(self, name: str):
        """A span at a layer boundary, recorded only when tracing is on."""
        return self.span(name) if self.enabled else contextlib.nullcontext()

    def profile(self, spans: list[Span]) -> None:
        """Fill each span's profile from the status store.

        A stage counts for the span whose interval holds its submission:
        a later job that re-lists an earlier job's stage as skipped does
        not claim its metrics again.
        """
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(30_000)
        store = jsc.statusStore()
        for s in spans:
            lo_ms, hi_ms = s.start * 1000 - 5, s.end * 1000 + 5
            run = cpu = gc = shuffle = 0.0
            busy: list[tuple[float, float]] = []
            seen: set[int] = set()
            for jid in range(s.job_lo, s.job_hi):
                try:
                    job = store.job(jid)
                except Py4JJavaError:  # evicted from the store: counted, no metrics
                    continue
                for sid in (int(x) for x in job.stageIds().mkString(",").split(",") if x):
                    if sid in seen:
                        continue
                    seen.add(sid)
                    st = store.lastStageAttempt(sid)
                    sub, done = _opt_ms(st.submissionTime()), _opt_ms(st.completionTime())
                    if sub is None or not lo_ms <= sub <= hi_ms:
                        continue
                    run += st.executorRunTime()
                    cpu += st.executorCpuTime() / 1e6
                    gc += st.jvmGcTime()
                    shuffle += st.shuffleReadBytes() + st.shuffleWriteBytes()
                    busy.append((max(sub, lo_ms), min(done if done is not None else hi_ms, hi_ms)))
            s.profile = {
                "jobs": s.job_hi - s.job_lo,
                "exec_run_ms": run,
                "exec_cpu_ms": cpu,
                "gc_ms": gc,
                "shuffle_bytes": shuffle,
                "driver_ms": max(s.wall_s * 1000 - _union_ms(busy), 0.0),
            }

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")

"""Spark stage metrics read from the driver JVM's status store.

The status store is filled by an asynchronous listener, so every read first
drains the listener bus. Stages are selected by id: the benchmark drives one
job at a time, so the stages of a pass are exactly those whose id is above
the highest id seen before the pass started.
"""

from __future__ import annotations

import statistics
from dataclasses import dataclass, field

# the listener bus drains in milliseconds on a quiet driver; the bound only
# keeps a wedged bus from hanging the benchmark
_DRAIN_TIMEOUT_MS = 30_000


@dataclass
class Stage:
    stage_id: int
    status: str
    num_tasks: int
    failed_tasks: int
    run_ms: int  # executorRunTime summed over tasks
    shuffle_write_bytes: int
    shuffle_read_bytes: int
    submitted_ms: int | None
    completed_ms: int | None
    task_run_ms: list[int] = field(default_factory=list)


def _opt_time_ms(opt) -> int | None:
    return opt.get().getTime() if opt.isDefined() else None


def _store(sc):
    jsc = sc._jsc.sc()
    # raises a TimeoutException through py4j if the bus does not drain
    jsc.listenerBus().waitUntilEmpty(_DRAIN_TIMEOUT_MS)
    return jsc.statusStore()


def _stage_list(sc):
    store = _store(sc)
    gw = sc._gateway
    seq = store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)
    return store, [seq.apply(k) for k in range(seq.size())]


def stage_mark(sc) -> int:
    """Highest stage id the application has created so far (-1 if none)."""
    _, stages = _stage_list(sc)
    return max((s.stageId() for s in stages), default=-1)


def stages_since(sc, mark: int, with_tasks: bool = True) -> list[Stage]:
    """Every stage attempt with id > ``mark`` that ran (skipped stages of a
    reused shuffle are left out), oldest first."""
    store, stages = _stage_list(sc)
    out = []
    for s in stages:
        status = s.status().toString()
        if s.stageId() <= mark or status == "SKIPPED":
            continue
        task_ms: list[int] = []
        if with_tasks:
            tl = store.taskList(s.stageId(), s.attemptId(), s.numTasks() + s.numFailedTasks())
            for k in range(tl.size()):
                tm = tl.apply(k).taskMetrics()
                if tm.isDefined():
                    task_ms.append(int(tm.get().executorRunTime()))
        out.append(
            Stage(
                stage_id=int(s.stageId()),
                status=status,
                num_tasks=int(s.numTasks()),
                failed_tasks=int(s.numFailedTasks()),
                run_ms=int(s.executorRunTime()),
                shuffle_write_bytes=int(s.shuffleWriteBytes()),
                shuffle_read_bytes=int(s.shuffleReadBytes()),
                submitted_ms=_opt_time_ms(s.submissionTime()),
                completed_ms=_opt_time_ms(s.completionTime()),
                task_run_ms=task_ms,
            )
        )
    out.sort(key=lambda st: st.stage_id)
    return out


def covered_ms(stages: list[Stage]) -> int:
    """Length of the union of the stages' [submitted, completed] intervals:
    the part of a job's wall time during which some stage was running."""
    spans = sorted(
        (s.submitted_ms, s.completed_ms)
        for s in stages
        if s.submitted_ms is not None and s.completed_ms is not None
    )
    total, cur_a, cur_b = 0, None, None
    for a, b in spans:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def task_skew(stages: list[Stage]) -> float:
    """max ÷ median task run time of the stage with the most task time
    (1.0 when there is no stage or every task took 0 ms)."""
    ran = [s for s in stages if s.task_run_ms]
    if not ran:
        return 1.0
    slowest = max(ran, key=lambda s: s.run_ms)
    med = statistics.median(slowest.task_run_ms)
    return max(slowest.task_run_ms) / med if med > 0 else 1.0

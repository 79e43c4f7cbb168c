"""Spark stage timeline of one warmed job pass of a perfbench workload.

    python scripts/stage_timeline.py --workload giant_tail --seed 3201
    python scripts/stage_timeline.py --workload native_sink --seed 3201

Starts a session, warms the Python workers and writes the workload's seeded
corpus the way ``perfbench/run.py`` does, runs its untimed warm-up passes,
then one more pass, and prints one line per Spark stage of that pass: stage
id, name, task count, submit offset from the pass start, duration, shuffle
read and write KB, and every task's run time in ms. The output is checked
against nothing; the benchmark does that. Uses perfbench's helpers and
changes nothing under perfbench/. Scratch files go under
``.perfbench_state/timeline/<pid>`` and are removed.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import run, stages, workloads  # noqa: E402


def stage_names(sc) -> dict[int, str]:
    _, raw = stages._stage_list(sc)
    return {int(s.stageId()): str(s.name()) for s in raw}


def timeline(spark, spec, corpus: str, out: str) -> tuple[float, list[str]]:
    """(wall seconds, one line per stage) of one pass."""
    sc = spark.sparkContext
    mark = stages.stage_mark(sc)
    t0 = time.time()
    workloads.run_pass(spark, spec, corpus, out)
    wall = time.time() - t0
    names = stage_names(sc)
    lines = []
    for st in stages.stages_since(sc, mark):
        submit = (st.submitted_ms - t0 * 1000) if st.submitted_ms else float("nan")
        dur = (
            st.completed_ms - st.submitted_ms
            if st.submitted_ms and st.completed_ms
            else float("nan")
        )
        lines.append(
            f"{st.stage_id:>5}  {names.get(st.stage_id, '?')[:48]:<48} "
            f"{st.num_tasks:>5} {submit:>8.0f} {dur:>8.0f} "
            f"{st.shuffle_read_bytes >> 10:>7} {st.shuffle_write_bytes >> 10:>7}  "
            + " ".join(str(ms) for ms in sorted(st.task_run_ms, reverse=True))
        )
    return wall, lines


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=run.WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--docs", type=int, default=None,
                    help="corpus size (default: the workload's own)")
    args = ap.parse_args(argv)

    from ragflow_spark.datagen import write_corpus

    spec = workloads.WORKLOADS[args.workload]
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(run.STATE, "timeline", str(os.getpid()))
    run._sandbox_env(work)
    corpus, out = os.path.join(work, "corpus"), os.path.join(work, "out")
    spark = run.start_spark(cores, work)
    try:
        run.warm_workers(spark, cores)
        write_corpus(spark, corpus, count=args.docs or spec.docs, seed=args.seed,
                     giant_factor=spec.giant_factor)
        for _ in range(run.WARMUP_PASSES):
            workloads.run_pass(spark, spec, corpus, out)
        wall, lines = timeline(spark, spec, corpus, out)
    finally:
        run.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(f"# {spec.name} seed {args.seed}: pass wall {wall * 1000:.0f} ms, "
          f"{len(lines)} stages")
    print(f"{'stage':>5}  {'name':<48} {'tasks':>5} {'submit':>8} {'dur_ms':>8} "
          f"{'read_kb':>7} {'write_kb':>7}  "
          "task run ms (longest first)")
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Per-layer measurements of the traced run, each timed from outside around
calls into one module of the engine."""

from __future__ import annotations

import os
import shutil
import statistics
import time

import pyarrow.parquet as pq

from perfbench import procstat, stages, workloads
from perfbench.trace import Tracer, patched


def timed(fn):
    """(seconds, result) of ``fn()``."""
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def trace_targets() -> list[tuple[object, str, str]]:
    """The driver-side entry points of each layer that a job pass calls.
    Modules that import an operator by name hold their own reference, so
    each reference is patched where it is looked up."""
    from ragflow_spark.operators import extract as ops
    from ragflow_spark.plans import checkpoint, pipeline
    from ragflow_spark.sources import parquet_spans as ps

    targets = [
        (ps, "plan_splits", "reader.plan_splits"),
        (ps, "extract_chunks_native", "reader.extract_chunks_native"),
        (ps, "extract_chunks_native_to_parquet", "sink.extract_chunks_native_to_parquet"),
        (pipeline, "run_pipeline", "checkpoint.run_pipeline"),
        (checkpoint.CheckpointedRun, "write_stage", "checkpoint.write_stage"),
    ]
    for mod in (ops, ps, pipeline):
        for fn in ("explode_spans", "strip_stage", "finalize_stage", "chunk_stage"):
            # a refactor may drop one of these imports; trace what is there
            if hasattr(mod, fn):
                targets.append((mod, fn, f"operators.{fn}"))
    return targets


def _tracing(spark, tracer: Tracer):
    """Spans around every layer entry point and every Spark action."""
    DataFrame = type(spark.range(0))  # the classic class, not the API base
    actions = [
        (DataFrame, "toPandas", "session.toPandas"),
        (DataFrame, "count", "session.count"),
        (DataFrame, "collect", "session.collect"),
    ]
    return patched(tracer, trace_targets() + actions)


def traced_pass(spark, spec, corpus, out, tracer: Tracer, jvm_pid: int):
    """One job pass under tracing, plus the stage metrics and the CPU use of
    the pass."""
    sc = spark.sparkContext
    mark = stages.stage_mark(sc)
    cpu0 = procstat.cpu_seconds(jvm_pid)
    with _tracing(spark, tracer), tracer.span("job"):
        wall, handle = timed(lambda: workloads.run_pass(spark, spec, corpus, out))
    cpu = procstat.cpu_seconds(jvm_pid) - cpu0
    return wall, handle, stages.stages_since(sc, mark), cpu


def reader_metrics(corpus: str, threshold: int, tracer: Tracer) -> dict[str, float]:
    """Split planning and, on one core, row-group read plus span decode of
    every split: the work the in-task reader does before the kernels."""
    from ragflow_spark.sources import parquet_spans as ps

    with tracer.span("reader.plan"):
        plan_s, (splits, _) = timed(
            lambda: ps.plan_splits(corpus, giant_threshold=threshold)
        )
    read_s, docs, split_docs = 0.0, 0, []
    with tracer.span("reader.read"):
        for path, a, b in splits:
            t0 = time.perf_counter()
            tbl = pq.ParquetFile(path).read_row_groups(
                list(range(a, b)), columns=["doc_id", "spans"], use_threads=False
            )
            ids, _ = ps._iter_docs(tbl)
            read_s += time.perf_counter() - t0
            docs += len(ids)
            split_docs.append(len(ids))
    return {
        "reader.plan_s": plan_s,
        "reader.read_s": read_s,
        "reader.docs_per_sec_1core": docs / read_s,
        "reader.splits": len(splits),
        "reader.split_docs_max": max(split_docs),
    }


def hop_metrics(spark, corpus: str, threshold: int, tracer: Tracer) -> dict[str, float]:
    """An identity mapInPandas over the same split rows the native reader
    schedules: task launch, Python worker and Arrow round trip, no work.
    Median wall of three jobs; task time of the last."""
    from ragflow_spark.sources import parquet_spans as ps

    def identity(batches):
        yield from batches

    sc = spark.sparkContext
    splits, _ = ps.plan_splits(corpus, giant_threshold=threshold)
    rdd = sc.parallelize(splits, max(len(splits), 1))
    df = spark.createDataFrame(rdd, ps.SPLITS_SCHEMA).mapInPandas(identity, ps.SPLITS_SCHEMA)
    walls = []
    with tracer.span("session.hop"):
        for _ in range(3):
            mark = stages.stage_mark(sc)
            walls.append(timed(df.collect)[0])
    last_job = stages.stages_since(sc, mark, with_tasks=False)
    task_s = sum(s.run_ms for s in last_job) / 1000
    return {"session.hop_s": statistics.median(walls), "session.hop_task_s": task_s}


def operator_metrics(spark, corpus: str, threshold: int, tracer: Tracer) -> dict[str, float]:
    """Cumulative materializations of explode → strip → finalize → chunk over
    the giant docs, as the native reader routes them; each metric is the
    increment its stage adds. On a corpus without giants this is the
    stages' fixed cost."""
    from pyspark.sql import functions as F

    from ragflow_spark.operators import extract as ops

    giants = spark.read.parquet(corpus).where(F.col("n_spans") >= threshold)
    strip = ops.strip_stage(ops.explode_spans(giants.select("doc_id", "spans")))
    fin = ops.finalize_stage(strip)
    chunk = ops.chunk_stage(fin)
    with tracer.span("operators.materialize"):
        t_strip, _ = timed(strip.count)
        t_fin, _ = timed(fin.count)
        t_chunk, _ = timed(chunk.count)
    return {
        "operators.strip_s": t_strip,
        "operators.finalize_s": t_fin - t_strip,
        "operators.chunk_s": t_chunk - t_fin,
    }


def sink_metrics(spark, spec, corpus: str, out: str, scratch: str, tracer: Tracer,
                 check) -> dict[str, float]:
    """Files and bytes the native sink committed, a rerun with resume=True
    over them, and the one-core cost of encoding and writing the same
    tables again. native_sink's traced pass has just written ``out``; on
    another workload the sink first runs over its corpus, checked against
    the oracle by ``check(out, manifest)``."""
    from ragflow_spark.sources import parquet_spans as ps

    if spec.name != "native_sink":
        with tracer.span("sink.job"):
            check(out, ps.extract_chunks_native_to_parquet(spark, corpus, out).toPandas())
    files = workloads.parquet_files(out)
    mb = workloads.dir_mb(out)
    with tracer.span("sink.resume"):
        resume_s, _ = timed(
            lambda: ps.extract_chunks_native_to_parquet(spark, corpus, out, resume=True).toPandas()
        )
    os.makedirs(scratch, exist_ok=True)
    encode_s = 0.0
    with tracer.span("sink.encode"):
        for i, f in enumerate(files):
            tbl = pq.read_table(f)
            t0 = time.perf_counter()
            pq.write_table(tbl, os.path.join(scratch, f"{i}.parquet"), compression="snappy")
            encode_s += time.perf_counter() - t0
    shutil.rmtree(scratch, ignore_errors=True)
    return {"sink.files": len(files), "sink.mb": mb, "sink.resume_s": resume_s,
            "sink.encode_s_1core": encode_s}


def checkpoint_metrics(spark, corpus: str, work: str, tracer: Tracer, check) -> dict[str, float]:
    """The --checkpoint job mode with a crash after the extract stage and a
    resume (checked against the oracle by ``check``), a commit of an
    already-materialized input, a no-op resume of the fully committed run,
    and the size and lineage of its snapshots."""
    from ragflow_spark.plans import pipeline
    from ragflow_spark.plans.checkpoint import CheckpointedRun

    base = os.path.join(work, "checkpoint")
    with _tracing(spark, tracer), tracer.span("checkpoint.job"):
        job_s, result = timed(lambda: workloads.checkpoint_pass(spark, corpus, base))
    check(result)
    spans = spark.read.parquet(result.stages["extract"].path).drop("partition_id")
    scratch = os.path.join(work, "commit")
    with tracer.span("checkpoint.commit"):
        commit_s, _ = timed(
            lambda: CheckpointedRun(spark, scratch).write_stage("extract", spans, resume=False)
        )
    shutil.rmtree(scratch, ignore_errors=True)
    docs = spark.read.parquet(corpus)
    with tracer.span("checkpoint.resume"):
        resume_s, _ = timed(lambda: pipeline.run_pipeline(spark, docs, base).chunks.count())
    out = {
        "checkpoint.job_s": job_s,
        "checkpoint.commit_s": commit_s,
        "checkpoint.resume_s": resume_s,
        "checkpoint.snapshot_mb": sum(workloads.dir_mb(r.path) for r in result.stages.values()),
        "checkpoint.lineage_rows": result.run.metrics().count(),
    }
    shutil.rmtree(base, ignore_errors=True)
    return out


def gap_metrics(wall: float, cores: int, kernel_s: float, pass_stages, m: dict) -> dict[str, float]:
    """Split the gap between the pass's wall time and its kernel work spread
    perfectly over the cores. Explained: driver time outside any stage, idle
    task slots inside stages, and (one-core figures ÷ cores) the in-task
    reader and Arrow hop. Unexplained: the rest of the task time, i.e.
    in-task work no layer measurement accounts for (the sink encode, which
    measures under 1% of native_sink's gap; on giant_tail also the JVM scan
    and the operator stages)."""
    ideal = kernel_s / cores
    covered = stages.covered_ms(pass_stages) / 1000
    task_s = sum(s.run_ms for s in pass_stages) / 1000
    parts = {
        "gap.driver_s": wall - covered,
        "gap.idle_s": covered - task_s / cores,
        "gap.reader_s": m["reader.read_s"] / cores,
        "gap.hop_s": m["session.hop_task_s"] / cores,
    }
    gap = wall - ideal
    explained = sum(parts.values())
    out = {"gap.ideal_s": ideal, "gap.actual_s": wall, **parts,
           "gap.unexplained_s": gap - explained}
    out["gap.explained_frac"] = explained / gap
    out["gap.unexplained_frac"] = 1.0 - explained / gap
    return out

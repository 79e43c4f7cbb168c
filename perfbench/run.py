"""Extraction benchmark: job modes of scripts/run_extraction_job.py.

    python3 perfbench/run.py --workload native_sink --seed 1 --seconds 14 --trace 0
    python3 perfbench/run.py --workload all --seed 1     # every workload, one table

One process drives local[<cores>] (a closed loop: the next job pass starts
when the previous one has ended). A run starts a Spark session, pre-imports
the kernels in every worker slot and writes the seeded corpus (setup), runs
untimed warm-up passes, then job passes until ``--seconds`` of job time
have been measured. Every pass's output is checked, per document, against
the single-doc oracle. With ``--trace 1`` the run then measures each layer
(see perfbench/README.md) and prints those metrics instead.

The last stdout line is one JSON object:
{"correct": ..., "attempted": <docs checked>, "failed": <docs wrong>, "metrics": {...}}
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench_state")
WORKLOAD_NAMES = ("native_sink", "giant_tail")
LAYERS = ("datagen", "session", "reader", "kernels", "operators", "sink", "checkpoint")
# untimed passes before the clock starts: the JIT is still speeding passes
# up after the first (giant_tail measured 7.1, 7.0, 6.9, 6.5 s)
WARMUP_PASSES = 2
# A fixed, pre-touched heap: the JVM's resident heap then no longer depends
# on when G1 grows it (measured: 0.8-1.2 GB between runs of one workload),
# so peak_rss_mb moves with the JVM's off-heap memory and the Python
# workers. 1g holds every workload here; session.py's default is 16g.
DRIVER_MEMORY = "1g"
# -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_<user>
JVM_OPTIONS = f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -XX:-UsePerfData"


def unit_of(name: str) -> str:
    """The unit a metric is printed with, from its name."""
    if "docs_per_sec" in name:
        return "docs/s"
    if name.endswith("_ms") or "_ms_" in name:
        return "ms"
    if name.endswith(("_mb", ".mb")):
        return "MB"
    if name.endswith("_s") or "_s_" in name:
        return "s"
    if name.endswith(("_frac", "parallel_eff", "cpu_util", "task_skew")):
        return "ratio"
    return "count"


def _sandbox_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write under ``work``."""
    import tempfile

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    tempfile.tempdir = None  # re-read TMPDIR


def start_spark(cores: int, work: str):
    from ragflow_spark.session import get_spark

    return get_spark(
        cores=cores,
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} {JVM_OPTIONS}"
            ),
        },
    )


def warm_workers(spark, cores: int) -> None:
    """Fork every Python worker slot and import the kernel modules in each,
    as bench.py does, so no timed pass pays for worker start-up."""
    import pandas as pd

    def warm(batches):
        import ragflow_spark.functions.trie_tokenizer  # noqa: F401
        import ragflow_spark.kernels.chunkers  # noqa: F401
        import ragflow_spark.kernels.extract  # noqa: F401
        import ragflow_spark.kernels.media_docs  # noqa: F401

        for p in batches:
            yield pd.DataFrame({"n": [len(p)]})

    spark.range(0, 4 * cores, 1, 4 * cores).mapInPandas(warm, "n long").count()


def stop_spark(spark) -> None:
    """Stop the session, then the JVM (it exits when its stdin closes), and
    wait for both; the JVM takes the Python workers down with it."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _reap_children(timeout: float = 30.0) -> None:
    from perfbench.procstat import descendants

    deadline = time.time() + timeout
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def oracle_for(spec, seed: int, docs: int, traced: bool, tracer):
    """Oracle digests, from the cache unless this run also needs the
    one-core kernel timings. Returns (chunks, spans, kernel_pass or None)."""
    from perfbench import oracle
    from ragflow_spark.datagen import CORPUS_VERSION, gen_docs, profile_of

    key = oracle.cache_key(seed, docs, spec.giant_factor, CORPUS_VERSION,
                           oracle.source_hash(os.path.join(ROOT, "ragflow_spark")))
    path = os.path.join(STATE, "oracle", key + ".json")
    if not traced:
        cached = oracle.load_cached(path)
        if cached is not None:
            return cached[0], cached[1], None
    corpus = gen_docs(seed, 0, docs, spec.giant_factor)
    kp = oracle.kernel_pass(corpus, [profile_of(i) for i in range(docs)], tracer)
    oracle.store_cached(path, kp.chunks, kp.spans)
    return kp.chunks, kp.spans, kp


def run_workload(args, work: str) -> dict:
    from perfbench import layers, workloads
    from perfbench.trace import Tracer
    from ragflow_spark.datagen import write_corpus

    spec = workloads.WORKLOADS[args.workload]
    n = args.docs or spec.docs
    cores = len(os.sched_getaffinity(0))
    tracer = Tracer()
    corpus = os.path.join(work, "corpus")
    out = os.path.join(work, "out")

    with tracer.span("session.start"):
        start_s, spark = layers.timed(lambda: start_spark(cores, work))
    try:
        with tracer.span("session.warm"):
            warm_s, _ = layers.timed(lambda: warm_workers(spark, cores))
        with tracer.span("datagen.corpus"):
            corpus_s, _ = layers.timed(
                lambda: write_corpus(spark, corpus, count=n, seed=args.seed,
                                     giant_factor=spec.giant_factor)
            )
        return _measure(args, spec, n, cores, spark, corpus, out, work, tracer,
                        {"session.start_s": start_s, "session.warm_s": warm_s,
                         "datagen.corpus_s": corpus_s})
    finally:
        stop_spark(spark)


def _measure(args, spec, n, cores, spark, corpus, out, work, tracer, setup) -> dict:
    from perfbench import layers, oracle, procstat, workloads
    from ragflow_spark.operators.extract import GIANT_SPAN_THRESHOLD

    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    if spec.name == "giant_tail":
        workloads.giant_guard(corpus, n, GIANT_SPAN_THRESHOLD)
    chunks, spans, kp = oracle_for(spec, args.seed, n, bool(args.trace), tracer)

    tally = {"attempted": 0, "failed": 0, "lineage_ok": True}

    def record(mm: oracle.Mismatch, lineage_ok: bool = True) -> None:
        tally["attempted"] += n
        tally["failed"] += mm.failed
        tally["lineage_ok"] &= lineage_ok
        if mm.failed:
            print(f"# {spec.name}: {len(mm.missing)} missing, {len(mm.wrong)} wrong, "
                  f"{len(mm.extra)} extra docs, e.g. {(mm.missing + mm.wrong + mm.extra)[:3]}",
                  file=sys.stderr)

    def check(handle) -> None:
        record(*workloads.check_pass(spec, out, handle, chunks))

    for _ in range(WARMUP_PASSES):
        check(workloads.run_pass(spark, spec, corpus, out))
    # passes until --seconds of job time are measured; the median then
    # leaves out the slowest pass, which is usually the first
    walls: list[float] = []
    while sum(walls) < args.seconds:
        spark._jvm.java.lang.System.gc()  # no collection of earlier garbage inside a pass
        wall, handle = layers.timed(lambda: workloads.run_pass(spark, spec, corpus, out))
        walls.append(wall)
        check(handle)
    docs_per_sec = statistics.median(n / w for w in walls)
    print(f"# {spec.name}: {len(walls)} timed passes of {n} docs, walls "
          + " ".join(f"{w:.2f}" for w in walls), file=sys.stderr)

    if not args.trace:
        metrics = {
            "docs_per_sec": docs_per_sec,
            "setup_s": sum(setup.values()),
            "peak_rss_mb": procstat.peak_rss_mb(jvm_pid),
        }
    else:
        metrics = dict(setup)
        metrics.update(_layer_metrics(
            spec, cores, spark, corpus, out, work, tracer, jvm_pid, kp, docs_per_sec,
            statistics.median(walls), check,
            lambda out_dir, manifest: record(*workloads.check_sink(out_dir, manifest, chunks)),
            lambda result: record(workloads.check_checkpoint(result, chunks, spans)),
        ))
        os.makedirs(os.path.join(STATE, "traces"), exist_ok=True)
        tracer.dump(os.path.join(STATE, "traces", f"{spec.name}-seed{args.seed}.json"))
    return {
        "correct": tally["failed"] == 0 and tally["lineage_ok"],
        "attempted": tally["attempted"],
        "failed": tally["failed"],
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }


def _layer_metrics(spec, cores, spark, corpus, out, work, tracer, jvm_pid, kp,
                   docs_per_sec, untraced_wall, check, check_sink, check_checkpoint) -> dict:
    from perfbench import layers, oracle, stages
    from ragflow_spark.operators.extract import GIANT_SPAN_THRESHOLD as T

    m = oracle.kernel_metrics(kp)
    wall, handle, pass_stages, cpu = layers.traced_pass(spark, spec, corpus, out, tracer, jvm_pid)
    check(handle)
    m["session.parallel_eff"] = docs_per_sec / (cores * m["kernels.docs_per_sec_1core"])
    m["session.cpu_util"] = cpu / (cores * wall)
    m["operators.shuffle_write_mb"] = sum(s.shuffle_write_bytes for s in pass_stages) / 2**20
    m["operators.shuffle_read_mb"] = sum(s.shuffle_read_bytes for s in pass_stages) / 2**20
    m["operators.task_skew"] = stages.task_skew(pass_stages)
    m["operators.tasks_failed"] = sum(s.failed_tasks for s in pass_stages)
    m.update(layers.reader_metrics(corpus, T, tracer))
    m.update(layers.hop_metrics(spark, corpus, T, tracer))
    m.update(layers.operator_metrics(spark, corpus, T, tracer))
    m.update(layers.sink_metrics(spark, spec, corpus, out, os.path.join(work, "encode"), tracer,
                                 check_sink))
    m.update(layers.checkpoint_metrics(spark, corpus, work, tracer, check_checkpoint))
    kernel_s = kp.strip_s + kp.finalize_s + kp.chunk_s
    m.update(layers.gap_metrics(wall, cores, kernel_s, pass_stages, m))
    m["trace.overhead_s"] = wall - untraced_wall
    self_s = tracer.self_times()
    for layer in LAYERS:
        m[f"trace.{layer}.self_s"] = self_s.get(layer, 0.0)
    return m


def run_all(args) -> int:
    """Every workload in its own process, then one line per workload."""
    results = {}
    for name in WORKLOAD_NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        if args.docs:
            cmd += ["--docs", str(args.docs)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, cwd=ROOT)
        if proc.returncode != 0:
            print(f"perfbench: {name} exited with {proc.returncode}", file=sys.stderr)
            return proc.returncode
        results[name] = json.loads(proc.stdout.strip().splitlines()[-1])
    for name, r in results.items():
        ms = " ".join(f"{k}={v['value']:.4g} {v['unit']}" for k, v in r["metrics"].items())
        frac = r["failed"] / r["attempted"]
        print(f"{name}: {ms} failed_frac={frac:.4g} ({r['failed']}/{r['attempted']} docs)")
    print(json.dumps({
        "correct": all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": {f"{name}.{k}": v for name, r in results.items()
                    for k, v in r["metrics"].items()},
    }))
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=14.0,
                    help="job time to measure after the warm-up passes")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--docs", type=int, default=None,
                    help="corpus size (default: the workload's own)")
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args)

    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401

        import ragflow_spark.session  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine under {ROOT}: {e}", file=sys.stderr)
        return 2

    work = os.path.join(STATE, "work", str(os.getpid()))
    _sandbox_env(work)
    try:
        result = run_workload(args, work)
    finally:
        _reap_children()
        shutil.rmtree(work, ignore_errors=True)
    frac = result["failed"] / result["attempted"]
    for k, v in result["metrics"].items():
        print(f"{args.workload} {k} = {v['value']:.6g} {v['unit']}")
    print(f"{args.workload} failed_frac = {frac:.6g} ({result['failed']}/{result['attempted']} docs)")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

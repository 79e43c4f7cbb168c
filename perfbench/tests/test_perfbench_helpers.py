"""Tests of the benchmark's own helpers.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import oracle, procstat, stages, workloads  # noqa: E402
from perfbench.run import unit_of  # noqa: E402
from perfbench.trace import Tracer, patched  # noqa: E402


# ---------------------------------------------------------------- digests

def _chunk(seq, text, refs=()):
    return {"chunk_seq": seq, "chunker": "naive", "text": text,
            "token_count": len(text.split()), "media_refs": list(refs)}


def test_digest_ignores_row_order_and_container_types():
    import numpy as np

    a = [_chunk(0, "alpha beta"), _chunk(1, "gamma", ["blob://x"])]
    b = [dict(a[1], media_refs=np.array(["blob://x"], dtype=object),
              chunk_seq=np.int32(1)), a[0]]
    assert oracle.chunk_digest(a) == oracle.chunk_digest(b)


def test_digest_sees_every_field():
    base = [_chunk(0, "alpha beta")]
    for change in ({"text": "alpha  beta"}, {"chunk_seq": 1}, {"token_count": 3},
                   {"media_refs": ["r"]}, {"chunker": "book"}):
        assert oracle.chunk_digest([dict(base[0], **change)]) != oracle.chunk_digest(base)


def test_compare_counts_missing_wrong_and_extra():
    expected = {
        "d1": oracle.chunk_digest([_chunk(0, "one")]),
        "d2": oracle.chunk_digest([_chunk(0, "two")]),
        "d3": oracle.chunk_digest([_chunk(0, "three")]),
        "d4": oracle.EMPTY_CHUNKS,  # no chunks: absent from the output is right
    }
    rows = [dict(_chunk(0, "one"), doc_id="d1"), dict(_chunk(0, "TWO"), doc_id="d2"),
            dict(_chunk(0, "stray"), doc_id="d9")]
    got = oracle.digests_by_doc(rows, oracle.CHUNK_FIELDS)
    m = oracle.compare(expected, got, oracle.EMPTY_CHUNKS)
    assert (m.missing, m.wrong, m.extra, m.failed) == (["d3"], ["d2"], ["d9"], 3)
    # a doc failing on both its chunks and its spans counts once
    spans = oracle.Mismatch(missing=["d2"], wrong=["d1"], extra=["d9"])
    both = oracle.merge(m, spans)
    assert (both.missing, both.wrong, both.extra) == (["d2", "d3"], ["d1"], ["d9"])


def test_kernel_pass_matches_extract_doc_oracle():
    from ragflow_spark.datagen import gen_docs, profile_of
    from ragflow_spark.kernels.extract import chunk_doc, extract_doc

    docs = gen_docs(3, 0, 20)
    kp = oracle.kernel_pass(docs, [profile_of(i) for i in range(20)])
    for d in docs:
        out = extract_doc(d["spans"])
        assert kp.spans[d["doc_id"]] == oracle.span_digest(out)
        assert kp.chunks[d["doc_id"]] == oracle.chunk_digest(chunk_doc(out))
    m = oracle.kernel_metrics(kp)
    assert m["kernels.spans_in"] == sum(len(d["spans"]) for d in docs)
    assert m["kernels.docs_per_sec_1core"] > 0


def test_cache_key_and_source_hash_track_inputs(tmp_path):
    (tmp_path / "a.py").write_text("x = 1\n")
    h1 = oracle.source_hash(str(tmp_path))
    (tmp_path / "a.py").write_text("x = 2\n")
    h2 = oracle.source_hash(str(tmp_path))
    assert h1 != h2
    keys = {oracle.cache_key(1, 10, 100, 7, h1), oracle.cache_key(2, 10, 100, 7, h1),
            oracle.cache_key(1, 11, 100, 7, h1), oracle.cache_key(1, 10, 5000, 7, h1),
            oracle.cache_key(1, 10, 100, 8, h1), oracle.cache_key(1, 10, 100, 7, h2)}
    assert len(keys) == 6
    path = str(tmp_path / "c" / "k.json")
    assert oracle.load_cached(path) is None
    oracle.store_cached(path, {"d": "x"}, {"d": "y"})
    assert oracle.load_cached(path) == ({"d": "x"}, {"d": "y"})


# ---------------------------------------------------------------- giant guard

def _corpus(path, n_spans):
    os.makedirs(path, exist_ok=True)
    span = pa.struct([("kind", pa.string()), ("text", pa.string()),
                      ("media_ref", pa.string()), ("offset", pa.int32())])
    tbl = pa.table({
        "doc_id": [f"doc-{i:08d}" for i in range(len(n_spans))],
        "spans": pa.array([[] for _ in n_spans], pa.list_(span)),
        "n_spans": pa.array(n_spans, pa.int32()),
    })
    pq.write_table(tbl, os.path.join(path, "part-0.parquet"), row_group_size=25)
    return path


def test_giant_guard(tmp_path):
    from ragflow_spark.datagen import profile_of

    n = 100
    giant = [5000 if profile_of(i) == "giant_doc" else 40 for i in range(n)]
    assert workloads.giant_guard(_corpus(str(tmp_path / "ok"), giant), n, 2048) == 5
    with pytest.raises(workloads.GuardError, match="planned the giant tail away"):
        workloads.giant_guard(_corpus(str(tmp_path / "none"), [40] * n), n, 2048)
    short = [2000 if s == 5000 else s for s in giant]
    short[95] = 5000  # one giant_doc crosses the threshold, four do not
    with pytest.raises(workloads.GuardError, match="1 docs reach 2048 spans, datagen predicts 5"):
        workloads.giant_guard(_corpus(str(tmp_path / "short"), short), n, 2048)


def test_check_sink_reads_split_files_and_manifest(tmp_path):
    import pandas as pd

    chunks = {"d1": [_chunk(0, "one"), _chunk(1, "uno")], "d2": [_chunk(0, "two")]}
    files = []
    for i, doc in enumerate(chunks):
        rows = [dict(c, doc_id=doc) for c in chunks[doc]]
        path = str(tmp_path / f"part-{i}.parquet")
        pq.write_table(pa.Table.from_pylist(rows), path)
        files.append(path)
    expected = {d: oracle.chunk_digest(cs) for d, cs in chunks.items()}
    manifest = pd.DataFrame({"n_chunks": [2, 1], "out_file": files})
    mm, lineage_ok = workloads.check_sink(str(tmp_path), manifest, expected)
    assert mm.failed == 0 and lineage_ok
    manifest["n_chunks"] = [2, 2]
    expected["d3"] = oracle.chunk_digest([_chunk(0, "lost")])
    mm, lineage_ok = workloads.check_sink(str(tmp_path), manifest, expected)
    assert mm.missing == ["d3"] and not lineage_ok


# ---------------------------------------------------------------- /proc reader

def _fake_proc(root, procs):
    """procs: {pid: (ppid, vmhwm_kb, (utime, stime, cutime, cstime))}"""
    for pid, (ppid, hwm, cpu) in procs.items():
        d = root / str(pid)
        d.mkdir()
        fields = ["S", str(ppid)] + ["0"] * 9 + [str(c) for c in cpu] + ["0"] * 30
        (d / "stat").write_text(f"{pid} (py worker) " + " ".join(fields) + "\n")
        (d / "status").write_text(f"Name:\tx\nVmHWM:\t{hwm} kB\nVmRSS:\t1 kB\n")
    (root / "self").mkdir()  # non-pid entries are skipped


def test_proc_tree_rss_and_cpu(tmp_path):
    tick = os.sysconf("SC_CLK_TCK")
    _fake_proc(tmp_path, {
        10: (1, 1024, (tick, 0, 0, 0)),  # JVM
        11: (10, 2048, (0, tick, 0, 0)),  # daemon
        12: (11, 512, (tick, tick, 0, 0)),  # worker
        13: (1, 999_999, (99 * tick, 0, 0, 0)),  # unrelated process
    })
    proc = str(tmp_path)
    assert sorted(procstat.descendants(10, proc)) == [11, 12]
    assert procstat.peak_rss_mb(10, proc) == pytest.approx((1024 + 2048 + 512) / 1024)
    assert procstat.cpu_seconds(10, proc) == pytest.approx(4.0)
    assert procstat.status_kb(77, "VmHWM", proc) == 0


def test_proc_reader_on_live_process():
    assert procstat.peak_rss_mb(os.getpid()) > 1.0
    assert procstat.cpu_seconds(os.getpid()) > 0.0


# ---------------------------------------------------------------- stage metrics

def _stage(sid, start, end, tasks):
    return stages.Stage(sid, "COMPLETE", len(tasks), 0, sum(tasks), 0, 0, start, end, tasks)


def test_covered_ms_and_task_skew():
    st = [_stage(1, 0, 100, [10, 10]), _stage(2, 50, 150, [10, 20, 90]),
          _stage(3, 300, 310, [5])]
    assert stages.covered_ms(st) == 160
    assert stages.task_skew(st) == pytest.approx(90 / 20)
    assert stages.task_skew([]) == 1.0


@pytest.fixture(scope="module")
def spark():
    from ragflow_spark.session import get_spark

    s = get_spark(cores=2, app_name="perfbench_tests",
                  extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


def test_stage_reader_on_tiny_job(spark):
    from pyspark.sql import functions as F

    sc = spark.sparkContext
    mark = stages.stage_mark(sc)
    df = spark.range(0, 10_000, 1, 4)
    df.groupBy((F.col("id") % 7).alias("k")).count().collect()
    st = stages.stages_since(sc, mark)
    assert len(st) >= 2 and all(s.stage_id > mark for s in st)
    assert st[0].num_tasks == 4 and len(st[0].task_run_ms) == 4
    assert sum(s.shuffle_write_bytes for s in st) > 0
    assert sum(s.shuffle_read_bytes for s in st) > 0
    assert sum(s.failed_tasks for s in st) == 0
    assert 0 < stages.covered_ms(st)
    assert stages.stage_mark(sc) == st[-1].stage_id
    assert stages.stages_since(sc, stages.stage_mark(sc)) == []


# ---------------------------------------------------------------- tracing

def test_tracer_self_time_and_patching():
    import types

    tr = Tracer()
    mod = types.SimpleNamespace(f=lambda x: x + 1)
    with tr.span("session.job"):
        tr.record("kernels.a", 1.0, 3.0)
        with patched(tr, [(mod, "f", "reader.f")]):
            assert mod.f(1) == 2
    assert mod.f(1) == 2 and not hasattr(mod.f, "__wrapped__")
    names = [s.name for s in tr.spans]
    assert names == ["session.job", "kernels.a", "reader.f"]
    assert tr.spans[1].parent == 0 and tr.spans[2].parent == 0
    st = tr.self_times()
    assert st["kernels"] == pytest.approx(2.0)
    job = tr.spans[0]
    assert st["session"] == pytest.approx(job.end - job.start - 2.0 - st["reader"])


# ---------------------------------------------------------------- BENCHMARK.json

def test_benchmark_json_units_match_the_emitted_units():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {w["name"] for w in bench["workloads"]} == set(workloads.WORKLOADS)
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert m["unit"] == unit_of(m["name"]), m["name"]

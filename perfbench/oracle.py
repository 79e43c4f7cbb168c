"""Per-document oracle digests and their comparison with a job's output.

The oracle for a document is the single-doc kernel chain run in this
process: ``chunk_doc(extract_doc(spans))`` for chunks, ``extract_doc(spans)``
for the extracted span sequence. A digest is a hash of the canonical form of
one document's rows, each with its sequence number, so a job's output
matches when every document's rows are bit-equal to the oracle, whatever
order the job emitted them in.

The same pass over the documents times each kernel call, which gives the
``kernels`` layer its one-core figures.
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import time
from dataclasses import dataclass, field

CHUNK_FIELDS = ("chunk_seq", "chunker", "text", "token_count", "media_refs")
SPAN_FIELDS = ("seq", "kind", "text", "media_ref")


def _canon(value):
    # arrow and pandas hand list columns back as numpy arrays and ints as
    # numpy scalars; the oracle side holds plain lists and ints
    if isinstance(value, (list, tuple)) or type(value).__name__ == "ndarray":
        return [_canon(v) for v in value]
    if hasattr(value, "item"):
        return value.item()
    return value


def _digest(rows: list[dict], fields: tuple[str, ...]) -> str:
    canon = sorted(
        json.dumps([_canon(r[f]) for f in fields], ensure_ascii=False)
        for r in rows
    )
    return hashlib.blake2b("\n".join(canon).encode(), digest_size=16).hexdigest()


def chunk_digest(chunks: list[dict]) -> str:
    """Digest of one document's chunk rows. Rows are canonicalized and
    sorted, so emission order does not matter; chunk_seq is hashed with each
    row, so sequence order does."""
    return _digest(chunks, CHUNK_FIELDS)


def span_digest(spans: list[dict]) -> str:
    """Digest of one document's extracted spans (seq first)."""
    return _digest(spans, SPAN_FIELDS)


EMPTY_CHUNKS = chunk_digest([])
EMPTY_SPANS = span_digest([])


def digests_by_doc(rows: list[dict], fields: tuple[str, ...]) -> dict[str, str]:
    """Group output rows (each with a ``doc_id``) by document and digest each
    group."""
    groups: dict[str, list[dict]] = {}
    for r in rows:
        groups.setdefault(r["doc_id"], []).append(r)
    return {d: _digest(rs, fields) for d, rs in groups.items()}


@dataclass
class Mismatch:
    missing: list[str] = field(default_factory=list)
    wrong: list[str] = field(default_factory=list)
    extra: list[str] = field(default_factory=list)

    @property
    def failed(self) -> int:
        """Documents counted against failed_frac: a missing or wrong doc of
        the input, or an output doc that is not in the input."""
        return len(self.missing) + len(self.wrong) + len(self.extra)


def compare(expected: dict[str, str], got: dict[str, str], empty: str) -> Mismatch:
    """Compare output digests with oracle digests. A document absent from the
    output matches only if its oracle output is empty."""
    m = Mismatch()
    for doc, want in expected.items():
        have = got.get(doc)
        if have is None:
            if want != empty:
                m.missing.append(doc)
        elif have != want:
            m.wrong.append(doc)
    m.extra = sorted(set(got) - set(expected))
    return m


def merge(a: Mismatch, b: Mismatch) -> Mismatch:
    """One document fails once, however many of its digests differ."""
    missing = sorted(set(a.missing) | set(b.missing))
    wrong = sorted((set(a.wrong) | set(b.wrong)) - set(missing))
    return Mismatch(missing, wrong, sorted(set(a.extra) | set(b.extra)))


def source_hash(pkg_dir: str) -> str:
    """Hash of every ``.py`` file under ``pkg_dir`` (paths and contents), so
    that any engine change invalidates cached oracles."""
    h = hashlib.sha256()
    for root, dirs, names in os.walk(pkg_dir):
        dirs.sort()
        for n in sorted(names):
            if n.endswith(".py"):
                p = os.path.join(root, n)
                h.update(os.path.relpath(p, pkg_dir).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def cache_key(seed: int, docs: int, giant_factor: int, corpus_version: int,
              src_hash: str) -> str:
    return f"s{seed}-n{docs}-g{giant_factor}-v{corpus_version}-{src_hash}"


@dataclass
class KernelPass:
    """Oracle digests plus one-core kernel timings over the same documents."""

    chunks: dict[str, str]
    spans: dict[str, str]
    strip_s: float = 0.0
    finalize_s: float = 0.0
    chunk_s: float = 0.0
    doc_s: list[float] = field(default_factory=list)
    profile_s: dict[str, list[float]] = field(default_factory=dict)
    spans_in: int = 0
    spans_out: int = 0
    chunks_out: int = 0


def kernel_pass(docs: list[dict], profiles: list[str], tracer=None) -> KernelPass:
    """Run strip_rows → finalize_doc → chunk_doc (``extract_doc`` is the
    first two) on each document, one core, no Spark. ``profiles[i]`` names
    the datagen profile of ``docs[i]``."""
    from ragflow_spark.kernels.extract import chunk_doc, finalize_doc, strip_rows

    kp = KernelPass(chunks={}, spans={})
    clock = time.perf_counter
    for doc, profile in zip(docs, profiles):
        t0 = clock()
        rows = strip_rows(doc["spans"])
        t1 = clock()
        spans = finalize_doc(rows)
        t2 = clock()
        chunks = chunk_doc(spans)
        t3 = clock()
        if tracer is not None:
            tracer.record("kernels.strip_rows", t0, t1)
            tracer.record("kernels.finalize_doc", t1, t2)
            tracer.record("kernels.chunk_doc", t2, t3)
        kp.strip_s += t1 - t0
        kp.finalize_s += t2 - t1
        kp.chunk_s += t3 - t2
        kp.doc_s.append(t3 - t0)
        kp.profile_s.setdefault(profile, []).append(t3 - t0)
        kp.spans_in += len(doc["spans"])
        kp.spans_out += len(spans)
        kp.chunks_out += len(chunks)
        kp.spans[doc["doc_id"]] = span_digest(spans)
        kp.chunks[doc["doc_id"]] = chunk_digest(chunks)
    return kp


def kernel_metrics(kp: KernelPass) -> dict[str, float]:
    """The ``kernels.*`` per-layer metrics of a kernel pass."""
    total = kp.strip_s + kp.finalize_s + kp.chunk_s
    ms = sorted(s * 1000.0 for s in kp.doc_s)
    p99 = statistics.quantiles(ms, n=100)[98] if len(ms) >= 2 else ms[0]
    out = {
        "kernels.strip_s": kp.strip_s,
        "kernels.finalize_s": kp.finalize_s,
        "kernels.chunk_s": kp.chunk_s,
        "kernels.docs_per_sec_1core": len(kp.doc_s) / total,
        "kernels.doc_ms_p50": statistics.median(ms),
        "kernels.doc_ms_p99": p99,
        "kernels.spans_in": kp.spans_in,
        "kernels.spans_out": kp.spans_out,
        "kernels.chunks_out": kp.chunks_out,
    }
    for profile, secs in kp.profile_s.items():
        out[f"kernels.{profile}.docs_per_sec_1core"] = len(secs) / sum(secs)
    return out


def load_cached(path: str) -> tuple[dict[str, str], dict[str, str]] | None:
    try:
        with open(path) as f:
            blob = json.load(f)
    except (FileNotFoundError, json.JSONDecodeError):
        return None
    return blob["chunks"], blob["spans"]


def store_cached(path: str, chunks: dict[str, str], spans: dict[str, str]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.tmp-{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump({"chunks": chunks, "spans": spans}, f)
    os.replace(tmp, path)

"""Frozen output of the per-doc kernels.

One sha256 over the canonical JSON of ``extract_doc`` and of ``chunk_doc``
(every chunker in ``CHUNKERS``, overlap 0 and 20) on a datagen corpus that
covers all eight profiles plus full-size giant docs. The pipeline-equality
tests and perfbench's oracle compare Spark paths against these same kernels,
so they cannot see the kernels themselves drift; this digest can.

The constant changes only together with a stated semantic change of the
kernels. Recompute it with
``PYTHONPATH=. python tests/test_kernel_digest.py``.
"""

from __future__ import annotations

import hashlib
import json

from ragflow_spark.datagen import gen_doc, profile_of
from ragflow_spark.kernels.extract import CHUNKERS, chunk_doc, extract_doc

SEED = 901
DOCS = 400
GIANT_SEED = 5
GIANT_FACTOR = 5000
OVERLAPS = (0, 20)

KERNEL_DIGEST = "f3dc03cec0e3c75d6be75a7a21d977533d37e7419a822bff41af14e052e382e3"


def corpus() -> list[dict]:
    docs = [gen_doc(SEED, i) for i in range(DOCS)]
    giants = [i for i in range(100) if profile_of(i) == "giant_doc"]
    docs += [gen_doc(GIANT_SEED, i, GIANT_FACTOR) for i in giants]
    return docs


def kernel_digest(docs: list[dict]) -> str:
    h = hashlib.sha256()

    def put(obj) -> None:
        h.update(json.dumps(obj, ensure_ascii=False, sort_keys=True).encode())
        h.update(b"\n")

    for doc in docs:
        spans = extract_doc(doc["spans"])
        put([doc["doc_id"], spans])
        for chunker in CHUNKERS:
            for ov in OVERLAPS:
                put([chunker, ov, chunk_doc(spans, chunker, overlapped_percent=ov)])
    return h.hexdigest()


def test_all_profiles_covered():
    assert {profile_of(i) for i in range(DOCS)} == {
        "html_boiler", "pdf_single_col", "pdf_two_col", "pdf_tablefig",
        "book_bulleted", "paper_shape", "plain_formats", "giant_doc",
    }


def test_kernel_output_frozen():
    assert kernel_digest(corpus()) == KERNEL_DIGEST


if __name__ == "__main__":
    print(kernel_digest(corpus()))

"""Spark operators for the extraction pipeline.

Physical layout (SURVEY.md §4.3, north-rule "partitioning / shuffle / skew
handled explicitly"):

- **strip** is span-local → ``posexplode`` the span arrays, then *salted
  repartition* on ``(doc_id, offset-block)`` so one giant document's spans
  spread across the cluster instead of pinning a single task. The stage runs
  as ``mapInPandas`` (Arrow batches; the kernel is pure Python over batch
  rows, no Spark-level per-row UDF).
- **finalize** (layout + assembly + emit) is doc-level and order-dependent →
  ``applyInPandas`` over ``groupBy(doc_id)``. Inside, the kernel is
  numpy-vectorized per document; across documents, vectorization comes from
  Arrow batching.
- **chunk** is doc-level again. On the chunk entry points' giant route
  (``giant_chunks``) it runs in the same per-doc stage as finalize, so the
  route is two shuffles: salt, then doc_id. The staged pipeline keeps the
  two stages apart because it snapshots the extracted spans in between.

Every shuffle into a Python-kernel stage pins an explicit partition count
(``kernel_partitions``): AQE sizes partitions by bytes, and these stages are
byte-small but CPU-huge. Strip's salting bounds the largest task by
``salt_block`` spans rather than by the largest document.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ragflow_spark.kernels.extract import (
    chunk_doc,
    extract_doc,
    finalize_doc,
    strip_one,
)
from ragflow_spark.schemas import CHUNKS_SCHEMA, OUT_SPANS_SCHEMA
from ragflow_spark.worker_imports import start_task

STRIPPED_COLUMNS = ["doc_id", "kind", "text", "media_ref", "offset", "sub"]
STRIPPED_SCHEMA = (
    "doc_id string, kind string, text string, media_ref string, "
    "offset int, sub int"
)
# one doc's extracted spans, OUT_SPANS_SCHEMA minus doc_id
OUT_COLUMNS = ["seq", "kind", "text", "media_ref"]


def explode_spans(docs: DataFrame, salt_block: int = 256) -> DataFrame:
    """(doc_id, spans[]) → one row per span, salted.

    ``salt`` buckets ``offset`` into blocks of ``salt_block`` so a 10^6-span
    document becomes ~4k independent tasks' worth of rows instead of one hot
    key. The strip stage never needs whole-doc context, so this is safe."""
    return (
        docs.select("doc_id", F.posexplode("spans").alias("idx", "span"))
        .select(
            "doc_id",
            F.col("span.kind").alias("kind"),
            F.col("span.text").alias("text"),
            F.col("span.media_ref").alias("media_ref"),
            F.col("span.offset").alias("offset"),
        )
        .withColumn("salt", (F.col("offset") / F.lit(salt_block)).cast("int"))
    )


def kernel_partitions(spark) -> int:
    """The explicit shuffle width of every Python-kernel stage: 4 ×
    defaultParallelism. A bare ``repartition(cols)`` is AQE-coalescible,
    and these stages are byte-small but CPU-huge (a giant doc's spans,
    or a handful of giant docs), so AQE — whose only yardstick is bytes —
    folds them onto one core: it folded the salted strip shuffle to ONE
    partition (r5 skew bench, straggler cut 5.8x after pinning) and the
    doc_id shuffle of the per-doc stage likewise. User-specified counts
    are exempt from AQE."""
    return spark.sparkContext.defaultParallelism * 4


def by_doc(df: DataFrame):
    """``df`` grouped by doc_id over a pinned ``repartition(n, "doc_id")``
    (``kernel_partitions``); the group operator reuses that partitioning,
    so this is the stage's one shuffle."""
    n = kernel_partitions(df.sparkSession)
    return df.repartition(n, "doc_id").groupBy("doc_id")


def _strip_frame(pdf: pd.DataFrame) -> pd.DataFrame:
    """Exploded span rows → ``STRIPPED_COLUMNS`` rows, zipped straight from
    the input columns through ``strip_one``."""
    rows = [
        (d, k2, t2, m2, o, sub)
        for d, k, t, m, o in zip(
            pdf["doc_id"], pdf["kind"], pdf["text"], pdf["media_ref"],
            pdf["offset"].tolist(),
        )
        for k2, t2, m2, sub in strip_one(k, t, m)
    ]
    return pd.DataFrame.from_records(rows, columns=STRIPPED_COLUMNS)


def strip_stage(exploded: DataFrame, repartition: int | None = None) -> DataFrame:
    """Format parsing (html/md/txt/json) as an Arrow-batched map. Salted
    repartition (pinned count, see ``kernel_partitions``) spreads giant
    docs; the map itself is stateless (``_strip_frame``)."""
    n = repartition or kernel_partitions(exploded.sparkSession)
    df = exploded.repartition(n, "doc_id", "salt")

    def run(batches):
        start_task()
        for pdf in batches:
            yield _strip_frame(pdf)

    return df.mapInPandas(run, schema=STRIPPED_SCHEMA)


def _finalize_plain_vectorized(pdf: pd.DataFrame) -> pd.DataFrame:
    """finalize_doc's plain branch (no geometry rows anywhere in the doc)
    as vectorized pandas — bit-equal to the kernel (tests assert it; the
    CLAUDE invariant for new physical paths). This is the giant-doc salted
    path's serial floor: the per-doc finalize is one task by contract, so
    a 10^5-span doc paid a python dict-loop sort here (~7 s at 150k rows,
    scripts/skew_bench.py) where a column sort + masks cost ~0.1 s."""
    pdf = pdf.sort_values(["offset", "sub"], kind="stable")
    kind = pdf["kind"].fillna("")
    text = pdf["text"].fillna("")
    mr = pdf["media_ref"].fillna("")
    keep = ~kind.isin(("header", "footer", "reference"))
    keep &= (text.str.strip() != "") | (mr != "")
    kind = kind[keep]
    out_kind = kind.where(
        kind.isin(("title", "figure")),
        kind.map(lambda k: "table" if k in ("table", "table header") else "text"),
    )
    return pd.DataFrame(
        {
            "seq": range(int(keep.sum())),
            "kind": out_kind.to_numpy(),
            "text": text[keep].to_numpy(),
            "media_ref": mr[keep].to_numpy(),
        }
    )


def _finalize_frame(pdf: pd.DataFrame, html_tables: bool) -> pd.DataFrame:
    """One doc's stripped rows → its (seq, kind, text, media_ref) frame.
    Docs with NO geometry rows (huge plain-span documents) take the
    vectorized pandas branch instead of the per-row python kernel — same
    output by construction and by test. Shared by ``finalize_stage`` and
    ``giant_chunks``."""
    mr = pdf["media_ref"].fillna("")
    has_geom = (
        mr.str.startswith("geom://") | mr.str.contains("#geom=", regex=False)
    ).any()
    if not has_geom:
        return _finalize_plain_vectorized(pdf)
    rows = pdf[["kind", "text", "media_ref", "offset", "sub"]].to_dict("records")
    return pd.DataFrame.from_records(
        finalize_doc(rows, html_tables=html_tables), columns=OUT_COLUMNS
    )


def finalize_stage(
    stripped: DataFrame, html_tables: bool = False, capture_errors: bool = False
) -> DataFrame:
    """Doc-level layout/assembly/emit: one pinned shuffle on doc_id
    (``by_doc``), then the kernel per document (``_finalize_frame``).

    capture_errors: a doc whose kernel raises emits a single
    ``kind='__error__'`` marker row (text = exception repr) instead of
    failing the task — the pipeline layer turns these into
    ``failure_count`` lineage metrics and drops them from the output."""

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        start_task()
        try:
            out = _finalize_frame(pdf, html_tables)
        except Exception as e:  # noqa: BLE001 — per-doc isolation
            if not capture_errors:
                raise
            out = pd.DataFrame(
                [(0, "__error__", repr(e), "")], columns=OUT_COLUMNS
            )
        out.insert(0, "doc_id", pdf["doc_id"].iloc[0])
        return out

    return by_doc(stripped).applyInPandas(run, schema=OUT_SPANS_SCHEMA)


def whole_doc_stage(docs: DataFrame, html_tables: bool = False) -> DataFrame:
    """Zero-shuffle extraction for docs whose span array fits one task: the
    input row already holds the whole document, so strip+finalize run in a
    single ``mapInPandas`` pass — no explode, no regroup, one Arrow hop.
    This is the common path; the exploded/salted path below exists for the
    giant-doc tail."""

    def run(batches):
        start_task()
        for pdf in batches:
            ids: list[str] = []
            out_rows: list[dict] = []
            for doc_id, spans in zip(pdf["doc_id"], pdf["spans"]):
                recs = [
                    {
                        "kind": s["kind"],
                        "text": s["text"],
                        "media_ref": s["media_ref"],
                        "offset": s["offset"],
                    }
                    for s in spans
                ]
                for o in extract_doc(recs, html_tables=html_tables):
                    ids.append(doc_id)
                    out_rows.append(o)
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "seq": [o["seq"] for o in out_rows],
                    "kind": [o["kind"] for o in out_rows],
                    "text": [o["text"] for o in out_rows],
                    "media_ref": [o["media_ref"] for o in out_rows],
                }
            )

    return docs.mapInPandas(run, schema=OUT_SPANS_SCHEMA)


GIANT_SPAN_THRESHOLD = 2048


def extract_spans(
    docs: DataFrame,
    salt_block: int = 256,
    html_tables: bool = False,
    repartition: int | None = None,
    giant_threshold: int = GIANT_SPAN_THRESHOLD,
) -> DataFrame:
    """Full extraction with explicit skew routing:

    - spans < giant_threshold (≈all docs): whole-doc single-pass map,
      ZERO shuffles — input scan → Arrow batch → output.
    - spans ≥ giant_threshold (heavy tail): explode → salted strip (spreads
      one document's spans across the cluster) → per-doc finalize regroup.

    Both paths run the identical kernels (tests assert equality), so the
    threshold is purely a physical-plan knob. ``giant_threshold=0`` forces
    the exploded path everywhere (used by tests and the skew bench)."""
    if giant_threshold <= 0:
        exploded = explode_spans(docs, salt_block=salt_block)
        stripped = strip_stage(exploded, repartition=repartition)
        return finalize_stage(stripped, html_tables=html_tables)
    small = docs.where(F.size("spans") < giant_threshold)
    giant = docs.where(F.size("spans") >= giant_threshold)
    small_out = whole_doc_stage(small, html_tables=html_tables)
    giant_out = finalize_stage(
        strip_stage(explode_spans(giant, salt_block=salt_block), repartition=repartition),
        html_tables=html_tables,
    )
    return small_out.unionByName(giant_out)


def chunks_frame(doc_ids: list, chunks: list[dict]) -> pd.DataFrame:
    """``CHUNKS_SCHEMA`` frame of ``chunk_doc`` rows, ``doc_ids[i]`` being
    the doc of ``chunks[i]``."""
    return pd.DataFrame(
        {
            "doc_id": doc_ids,
            "chunker": [c["chunker"] for c in chunks],
            "chunk_seq": [c["chunk_seq"] for c in chunks],
            "text": [c["text"] for c in chunks],
            "token_count": [c["token_count"] for c in chunks],
            # explicit object dtype: an empty batch would otherwise
            # infer float64, which Arrow can't cast to array<string>
            "media_refs": pd.Series([c["media_refs"] for c in chunks], dtype=object),
        }
    )


def giant_chunks(giants: DataFrame, html_tables: bool = False, **chunk_kw) -> DataFrame:
    """Chunks of the giant-doc tail in two shuffles, both pinned to
    ``kernel_partitions``: explode → salted strip (spreads each giant's
    spans over every core) → one per-doc stage that finalizes and then
    runs ``chunk_doc`` (the per-doc stages run side by side, one doc per
    group). The chunk entry points' shared giant route; ``chunk_kw`` are
    ``chunk_doc``'s chunker arguments."""

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        start_task()
        spans = _finalize_frame(pdf, html_tables).to_dict("records")
        chunks = chunk_doc(spans, **chunk_kw)
        return chunks_frame([pdf["doc_id"].iloc[0]] * len(chunks), chunks)

    stripped = strip_stage(explode_spans(giants))
    return by_doc(stripped).applyInPandas(run, schema=CHUNKS_SCHEMA)


def extract_chunks_fused(
    docs: DataFrame,
    chunker: str = "naive",
    chunk_token_num: int = 512,
    delimiter: str = "\n!?。；！？",
    overlapped_percent: int = 0,
    html_tables: bool = False,
    giant_threshold: int = GIANT_SPAN_THRESHOLD,
) -> DataFrame:
    """End-to-end extract+chunk in ONE pass for non-giant docs (zero
    shuffles input→chunks); giant docs take ``giant_chunks``."""
    chunk_kw = dict(
        chunker=chunker,
        chunk_token_num=chunk_token_num,
        delimiter=delimiter,
        overlapped_percent=overlapped_percent,
    )

    def run(batches):
        start_task()
        for pdf in batches:
            ids: list[str] = []
            rows: list[dict] = []
            for doc_id, spans in zip(pdf["doc_id"], pdf["spans"]):
                recs = [
                    {
                        "kind": s["kind"],
                        "text": s["text"],
                        "media_ref": s["media_ref"],
                        "offset": s["offset"],
                    }
                    for s in spans
                ]
                out = extract_doc(recs, html_tables=html_tables)
                for c in chunk_doc(out, **chunk_kw):
                    ids.append(doc_id)
                    rows.append(c)
            yield chunks_frame(ids, rows)

    small = docs.where(F.size("spans") < giant_threshold)
    giant = docs.where(F.size("spans") >= giant_threshold)
    small_chunks = small.mapInPandas(run, schema=CHUNKS_SCHEMA)
    return small_chunks.unionByName(
        giant_chunks(giant, html_tables=html_tables, **chunk_kw)
    )


def with_chunk_ids(chunks: DataFrame) -> DataFrame:
    """Stable content-addressed chunk ids (reference:
    rag/svr/task_executor.py:287 — xxhash64(content + doc_id)); built-in
    ``F.xxhash64``, no UDF. Idempotent re-runs produce identical ids, which
    is what makes sink upserts and digest-based reuse possible."""
    return chunks.withColumn("chunk_id", F.xxhash64("text", "doc_id"))


def chunk_stage(
    out_spans: DataFrame,
    chunker: str = "naive",
    chunk_token_num: int = 512,
    delimiter: str = "\n!?。；！？",
    overlapped_percent: int = 0,
) -> DataFrame:
    """Template chunking per document over the extracted span stream, on a
    pinned doc_id shuffle (``by_doc``)."""

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        start_task()
        spans = pdf[OUT_COLUMNS].to_dict("records")
        chunks = chunk_doc(
            spans,
            chunker=chunker,
            chunk_token_num=chunk_token_num,
            delimiter=delimiter,
            overlapped_percent=overlapped_percent,
        )
        return chunks_frame([pdf["doc_id"].iloc[0]] * len(chunks), chunks)

    return by_doc(out_spans).applyInPandas(run, schema=CHUNKS_SCHEMA)


# single shared tag-strip contract (rag/nlp/__init__.py:261)
from ragflow_spark.kernels.media_docs import TABLE_TAG_RE as _TABLE_TAG


def with_ltks(chunks: DataFrame) -> DataFrame:
    """Doc-field assembly (reference tokenize, rag/nlp/__init__.py:258-263):
    strip table HTML tags, then add ``content_ltks`` (trie-tokenized text)
    and ``content_sm_ltks`` (fine-grained re-split) columns. Arrow-batched
    mapInPandas; the trie builds once per worker (module-level lazy
    singleton), so the per-row cost is the tokenization itself."""
    schema = T.StructType(
        chunks.schema.fields
        + [
            T.StructField("content_ltks", T.StringType(), True),
            T.StructField("content_sm_ltks", T.StringType(), True),
        ]
    )

    def run(batches):
        start_task()
        from ragflow_spark.functions.trie_tokenizer import (
            fine_grained_tokenize,
            tokenize,
        )

        for pdf in batches:
            stripped = (
                pdf["text"]
                .fillna("")
                .map(lambda t: _TABLE_TAG.sub(" ", t))
            )
            pdf = pdf.copy()
            pdf["content_ltks"] = stripped.map(tokenize)
            pdf["content_sm_ltks"] = pdf["content_ltks"].map(
                fine_grained_tokenize
            )
            yield pdf

    return chunks.mapInPandas(run, schema=schema)


def assemble_es_docs(chunks: DataFrame, docnm_col: str = "docnm") -> DataFrame:
    """Index-doc assembly — the reference ``tokenize_chunks`` non-PDF path
    (rag/nlp/__init__.py:267-286 + add_positions :332-344): every non-empty
    chunk becomes a search document carrying the file-level title fields
    (``docnm_kwd``, ``title_tks``, ``title_sm_tks`` from the name minus its
    extension), the pseudo position ``[[ii]*5]`` → page_num_int [ii+1] /
    position_int [[ii+1,ii,ii,ii,ii]] / top_int [ii], and the tokenized
    content fields. The PDF crop branch is the ONNX non-goal; real PDF
    geometry rides as structs upstream (schemas.Geom). One Arrow pass, no
    shuffle — the per-doc title tokenization is cached per batch because
    consecutive chunks share their document."""
    import re as _re

    schema = T.StructType(
        chunks.schema.fields
        + [
            T.StructField("docnm_kwd", T.StringType(), True),
            T.StructField("title_tks", T.StringType(), True),
            T.StructField("title_sm_tks", T.StringType(), True),
            T.StructField("page_num_int", T.ArrayType(T.IntegerType()), True),
            T.StructField(
                "position_int",
                T.ArrayType(T.ArrayType(T.IntegerType())),
                True,
            ),
            T.StructField("top_int", T.ArrayType(T.IntegerType()), True),
            T.StructField("content_ltks", T.StringType(), True),
            T.StructField("content_sm_ltks", T.StringType(), True),
        ]
    )
    ext_re = _re.compile(r"\.[a-zA-Z]+$")
    table_re = _TABLE_TAG

    def run(batches):
        start_task()
        from ragflow_spark.functions.trie_tokenizer import (
            fine_grained_tokenize,
            tokenize,
        )

        title_cache: dict[str, tuple[str, str]] = {}

        def titles(nm: str) -> tuple[str, str]:
            if nm not in title_cache:
                tks = tokenize(ext_re.sub("", nm))
                title_cache[nm] = (tks, fine_grained_tokenize(tks))
            return title_cache[nm]

        for pdf in batches:
            keep = pdf["text"].fillna("").str.strip().str.len() > 0
            pdf = pdf[keep].copy()
            tt = pdf[docnm_col].fillna("").map(titles)
            pdf["docnm_kwd"] = pdf[docnm_col]
            pdf["title_tks"] = tt.map(lambda t: t[0])
            pdf["title_sm_tks"] = tt.map(lambda t: t[1])
            # explicit object dtype: Arrow can't convert numpy-inferred
            # nested-list arrays (same pitfall as chunk_stage media_refs)
            seq = pdf["chunk_seq"].astype(int).tolist()
            pdf["page_num_int"] = pd.Series(
                [[i + 1] for i in seq], dtype=object, index=pdf.index
            )
            pdf["position_int"] = pd.Series(
                [[[i + 1, i, i, i, i]] for i in seq],
                dtype=object,
                index=pdf.index,
            )
            pdf["top_int"] = pd.Series(
                [[i] for i in seq], dtype=object, index=pdf.index
            )
            stripped = pdf["text"].fillna("").map(
                lambda t: table_re.sub(" ", t)
            )
            pdf["content_ltks"] = stripped.map(tokenize)
            pdf["content_sm_ltks"] = pdf["content_ltks"].map(
                fine_grained_tokenize
            )
            yield pdf

    return chunks.mapInPandas(run, schema=schema)

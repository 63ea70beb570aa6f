"""[EXT] the sanctioned Python extension surface (SURVEY.md §2.9).

The repo's contract is zero Python in the hot path: every production
operator is native Catalyst expressions, and the registry-wide plan
audit enforces it. But a complete engine exposes every Python
extension shape, so this module (plus ``user_value_trend``'s grouped-
map applyInPandas and the multimodal MapInPandas codecs) carries ONE
differential-gated query per remaining shape, each with a native twin
documenting the fast path:

- ``doc_chunks_udtf`` — Python UDTF (1-row-to-N LATERAL,
  ``ArrowEvalPythonUDTF``); twin: ``doc_chunks``.
- ``median_value_udaf`` — grouped-agg pandas UDAF
  (``ArrowAggregatePython``); relative: ``quantity_percentiles``.
- ``token_count_pandas_udf`` — scalar pandas UDF
  (``ArrowEvalPython``); twin: ``text_stats``'s native token_count.
- ``media_bytes_arrow`` — ``mapInArrow`` over raw RecordBatches;
  twin: ``media_metadata``'s native octet_length.
- ``pyds_envelope_counts`` — custom Python DataSource connector
  (``pyspark.sql.datasource``, Spark 4): partition-per-file batch
  scan through ``sources/pyds.py``; the JVM envelope reader stays
  the performance path.

The plan audit exempts exactly the two queries whose nodes carry the
generic Arrow-eval names (the UDTF and the scalar UDF) from the
no-Python rule and pins each shape's Arrow node positively — a
row-pickling ``BatchEvalPython`` fallback is a failure everywhere
(the DataSource scan plans as ``BatchScan ... (Python)``, pinned by
its own audit).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F  # noqa: F401  (parity with siblings)

from ..sources.registry import load_table
from . import register
from .llm_ext import _CHUNK_STRIDE, _CHUNK_TOKENS, _tok_sql


@register(
    "doc_chunks_udtf",
    f"""
    WITH base AS (
      SELECT doc_id, {_tok_sql()} AS toks FROM documents
    ),
    sized AS (
      SELECT doc_id, toks, len(toks) AS n FROM base WHERE len(toks) > 0
    ),
    chunks AS (
      SELECT doc_id, g.i::INT AS chunk_idx,
             toks[(g.i::INT * {_CHUNK_STRIDE} + 1):
                  (g.i::INT * {_CHUNK_STRIDE} + {_CHUNK_TOKENS})] AS chunk
      FROM sized,
           LATERAL (SELECT unnest(range(0,
                      greatest(1, ceil((n - {_CHUNK_TOKENS}) /
                                       {_CHUNK_STRIDE}.0)::BIGINT + 1))) AS i) g
    )
    SELECT doc_id, chunk_idx, len(chunk)::BIGINT AS n_tokens,
           md5(array_to_string(chunk, ' ')) AS chunk_md5
    FROM chunks WHERE len(chunk) > 0
    """,
    doc="Python UDTF surface (§2.9): sliding-window chunking as an "
        "Arrow-batched user-defined table function in a LATERAL join "
        "— deliberately the same semantics as the native doc_chunks "
        "so the differential gate pins the UDTF row-expansion "
        "machinery itself (1-to-N lateral, schema contract, Arrow "
        "transfer) against both DuckDB and the native twin. This is "
        "the sanctioned slow-path demo: at 100 TB you use doc_chunks "
        "(pure codegen explode); the UDTF exists because a complete "
        "engine must offer the Python table-function extension point "
        "for logic Catalyst genuinely cannot express.",
)
def doc_chunks_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    # per-function Arrow opt-in (useArrow=True) instead of flipping
    # spark.sql.execution.pythonUDTF.arrow.enabled on the shared
    # session: the conf is read lazily at execution time, so a
    # set/restore around this builder would race the actual collect
    @udtf(returnType="chunk_idx: int, n_tokens: bigint, chunk_md5: string",
          useArrow=True)
    class ChunkDoc:
        # mirrors the oracle exactly: trim+lower, \s+ split, 64-token
        # windows at stride 48, md5 of the space-joined chunk
        def eval(self, text: str):
            import hashlib
            import math
            import re
            toks = re.split(r"\s+", text.strip().lower())
            n = len(toks)
            if n == 0:
                return
            n_chunks = max(1, math.ceil((n - _CHUNK_TOKENS)
                                        / _CHUNK_STRIDE) + 1)
            for i in range(n_chunks):
                chunk = toks[i * _CHUNK_STRIDE:i * _CHUNK_STRIDE
                             + _CHUNK_TOKENS]
                if chunk:
                    joined = " ".join(chunk)
                    yield (i, len(chunk),
                           hashlib.md5(joined.encode("utf-8")).hexdigest())

    spark.udtf.register("chunk_doc_udtf", ChunkDoc)
    d = load_table(spark, sf_dir, "documents")
    # per-call view name: a fixed name is a shared session resource
    # two concurrent callers would silently clobber
    import uuid
    view = f"_udtf_docs_{uuid.uuid4().hex[:12]}"
    d.select("doc_id", "text").createOrReplaceTempView(view)
    try:
        # spark.sql analyzes eagerly, so the returned DataFrame's
        # resolved plan no longer needs the view — drop it here
        # rather than leak one catalog entry per invocation
        return spark.sql(
            f"SELECT d.doc_id, t.chunk_idx, t.n_tokens, t.chunk_md5 "
            f"FROM {view} d, LATERAL chunk_doc_udtf(d.text) t")
    finally:
        spark.catalog.dropTempView(view)


@register(
    "median_value_udaf",
    """
    SELECT event_type,
           COUNT(*)::BIGINT AS n_events,
           median(value) AS median_value
    FROM events GROUP BY event_type
    """,
    doc="Grouped-aggregate pandas UDAF (the remaining §2.9 API "
        "shape next to grouped-map applyInPandas, mapInPandas, and "
        "the UDTF): exact per-group median as a PandasUDFType."
        "GROUPED_AGG function — Arrow ships each group's value "
        "column to Python once, the plan node is AggregateInPandas "
        "(not the banned row-pickling evaluators). Median is a "
        "SELECTION statistic, so unlike a float SUM it is "
        "accumulation-order-free: sort-select is deterministic and "
        "the even-count midpoint mean (x+y)/2 is one IEEE op both "
        "engines perform identically — which is why this UDAF can "
        "sit under the full value-hash gate while engine avg() "
        "cannot. Scale note: a grouped-agg UDAF materializes each "
        "group in one Python worker — fine for |group| ~ corpus/"
        "|event types|; for unbounded groups use the sort-based "
        "exact percentile (quantity_percentiles) instead.",
)
def median_value_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # explicit GROUPED_AGG functionType: `from __future__ import
    # annotations` stringifies hints module-wide, so the hint-based
    # signature inference path is unavailable here
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def exact_median(v):
        return float(v.median())

    # Spark refuses to mix pandas and JVM aggregates in one agg
    # (INVALID_PANDAS_UDF_PLACEMENT), so the row count is a pandas
    # aggregate too
    @pandas_udf("long", PandasUDFType.GROUPED_AGG)
    def n_rows(v):
        return len(v)

    e = load_table(spark, sf_dir, "events")
    return (e.groupBy("event_type")
             .agg(n_rows(F.col("value")).alias("n_events"),
                  exact_median(F.col("value")).alias("median_value")))


@register(
    "token_count_pandas_udf",
    """
    SELECT doc_id,
           CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(string_split_regex(trim(text), '\\s+'))
           END::BIGINT AS n_tokens
    FROM documents
    """,
    doc="Scalar pandas UDF (vectorized, Arrow-batched — the most "
        "common Python extension shape, §2.9): whitespace token "
        "count computed by pandas string ops on whole Arrow columns. "
        "Plan node ArrowEvalPython — the SECOND and last audit "
        "exemption next to doc_chunks_udtf, existing for API parity "
        "with the native twin (functions/text.py::token_count, used "
        "by text_stats), which documents the fast path: the same "
        "count as pure Catalyst expressions with no Python worker "
        "round-trip. Differential-gated, so the UDF's value contract "
        "is pinned, not just its plumbing.",
)
def token_count_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("bigint")
    def n_tokens(text):
        s = text.fillna("").str.strip()
        return s.str.split(r"\s+", regex=True).str.len() \
                .where(s.str.len() > 0, 0).astype("int64")

    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", n_tokens(F.col("text")).alias("n_tokens"))


@register(
    "media_bytes_arrow",
    """
    SELECT doc_id AS media_id,
           octet_length(encode(repeat(md5(text),
                                      1 + (doc_id % 5)::INT)))::BIGINT
             AS n_bytes
    FROM documents
    """,
    doc="mapInArrow (§2.9): per-partition iteration over raw pyarrow "
        "RecordBatches — the zero-copy sibling of mapInPandas for "
        "kernels that speak Arrow natively (tokenizers, codecs, "
        "FFI). Computes blob byte lengths with pyarrow.compute on "
        "the batch, no pandas materialization. Plan node "
        "(Python)MapInArrow — not a banned row-pickling evaluator, "
        "same class as the sanctioned MapInPandas media codecs. "
        "Differential-gated against the native octet_length.",
)
def media_bytes_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .multimodal_media import _media_table

    def gen(batches):
        import pyarrow as pa
        import pyarrow.compute as pc
        for batch in batches:
            yield pa.RecordBatch.from_arrays(
                [batch.column("media_id"),
                 pc.cast(pc.binary_length(batch.column("content")),
                         pa.int64())],
                names=["media_id", "n_bytes"])

    m = _media_table(spark, sf_dir).select("media_id", "content")
    return m.mapInArrow(gen, "media_id bigint, n_bytes bigint")


def _jsonl_drop(spark: SparkSession, sf_dir: str) -> str:
    """The session-shared JSONL envelope drop of ``documents`` (4
    files) that both pyds queries read, built once per session and
    published whole; registers the ``sg_jsonl_envelope`` source."""
    from ..functions.core import publish_once, session_scratch
    from ..sources.pyds import JsonlEnvelopeDataSource

    spark.dataSource.register(JsonlEnvelopeDataSource)

    def build(staged: str) -> None:
        (load_table(spark, sf_dir, "documents")
         .select(F.to_json(F.struct("doc_id", "lang", "source",
                                    "n_chars")).alias("value"))
         .repartition(4)
         .write.mode("overwrite").text(staged))

    return publish_once(session_scratch(spark, sf_dir, "sg_jsonl"), build)


@register(
    "pyds_envelope_counts",
    """
    SELECT lang, COUNT(*)::BIGINT AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY lang
    """,
    doc="Custom PYTHON DataSource connector under the oracle gate "
        "(Spark 4 pyspark.sql.datasource API — the remaining Python "
        "extension shape next to the UDTF/UDAF/scalar-UDF/mapInArrow "
        "demos): the documents table is landed once per session as a "
        "multi-file JSONL envelope drop (the local stand-in for the "
        "reference's Event Hubs feed), then read back through "
        "sources/pyds.py::JsonlEnvelopeDataSource — one "
        "InputPartition PER FILE, typed rows parsed in executor "
        "Python workers, corrupt lines dropped (the na.drop "
        "contract) — and aggregated per language. The oracle "
        "aggregates the original table directly, so the gate pins "
        "the whole connector round-trip (serialize -> custom scan -> "
        "parse -> agg) value-for-value. Scale note: a Python source "
        "is the format-coverage path, not the hot path — no codegen, "
        "no vectorized decode; the JVM envelope reader stays the "
        "performance path.",
)
def pyds_envelope_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _jsonl_drop(spark, sf_dir)
    env = (spark.read.format("sg_jsonl_envelope")
           .option("path", path).load())
    return (env.groupBy("lang")
               .agg(F.count("*").cast("bigint").alias("n_docs"),
                    F.sum("n_chars").cast("bigint").alias("total_chars")))


@register(
    "pyds_stream_counts_gated",
    """
    SELECT lang, COUNT(*)::BIGINT AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY lang
    """,
    doc="The Python DataSource's STREAMING half under the oracle "
        "gate: readStream through sources/pyds.py's "
        "SimpleDataSourceStreamReader (file-index offsets over the "
        "same session-keyed JSONL drop the batch query lands), "
        "grouped aggregation in complete mode, availableNow drain to "
        "a memory sink — the drained result must value-hash-match "
        "the batch SQL over the original table. Pins the custom "
        "streaming connector end to end: offset management, "
        "micro-batch planning over Python-produced rows, and "
        "replay-deterministic file slicing (readBetweenOffsets). "
        "Same production caveat as every memory-sink gate: at scale "
        "the sink is txlog commit_once and the trigger is "
        "processing-time.",
)
def pyds_stream_counts_gated(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile
    import uuid

    # share the batch query's drop dir (build if this runs first)
    path = _jsonl_drop(spark, sf_dir)
    src = (spark.readStream.format("sg_jsonl_envelope")
           .option("path", path).load())
    agg = (src.groupBy("lang")
              .agg(F.count("*").cast("bigint").alias("n_docs"),
                   F.sum("n_chars").cast("bigint").alias("total_chars")))
    name = f"pyds_gated_{uuid.uuid4().hex[:12]}"
    ckpt = tempfile.mkdtemp(prefix=f"{name}_ckpt_")
    q = (agg.writeStream.format("memory").queryName(name)
         .outputMode("complete")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    try:
        q.awaitTermination()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(name)


@register(
    "arrow_native_udf_digest",
    """
    SELECT doc_id, md5(text) AS digest,
           CAST(strlen(text) AS BIGINT) AS n_bytes
    FROM documents
    """,
    doc="Arrow-OPTIMIZED scalar Python UDF (Spark 4 udf(useArrow="
        "True)) — the modern replacement for the legacy row-pickling "
        "@udf, completing the Python-surface matrix next to the "
        "pandas UDF (batch pandas.Series), UDTF, UDAF, mapInArrow, "
        "grouped-map, stateful grouped-map, and DataSource shapes: "
        "same one-scalar-per-row programming model as a plain UDF, "
        "but rows cross the JVM/Python boundary as Arrow batches. The "
        "function computes hashlib.md5 over the utf-8 text — Python's "
        "md5 must agree byte-for-byte with BOTH Spark's and DuckDB's, "
        "so the gate pins the Arrow string transfer end to end (an "
        "encoding/normalization slip anywhere breaks every digest). "
        "Plans as ArrowEvalPython (audited positively; the audit "
        "exempts it from the no-Python rule as the third sanctioned "
        "generic-Arrow-node demo). Native twin for the hot path: "
        "F.md5 / octet_length (media_metadata), which is what "
        "production uses — this exists because a complete engine "
        "must offer the scalar Python escape hatch without the "
        "10-100x row-pickling tax.",
)
def arrow_native_udf_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    from pyspark.sql.functions import udf

    @udf(returnType="string", useArrow=True)
    def py_md5(s: str) -> str:
        return hashlib.md5(s.encode("utf-8")).hexdigest()

    @udf(returnType="long", useArrow=True)
    def py_nbytes(s: str) -> int:
        return len(s.encode("utf-8"))

    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", py_md5("text").alias("digest"),
                       py_nbytes("text").alias("n_bytes"))

"""Streaming pretraining-data funnel — the batch ``plans.pretrain``
pipeline replayed through ``foreachBatch`` with persisted incremental
state (SURVEY.md §2.10 + the [EXT] north star; the streaming half of
the reference's aspirational incremental refresh, README.md:281-302).

Each micro-batch of ``documents``-shaped rows runs the same stages as
the batch funnel, but the cross-corpus stages consult durable state
instead of the full corpus:

  1 quality    stateless heuristic gate (quality_score >= QUALITY_MIN)
  2 exact      md5(text) anti-joined against the persisted seen-hash
               set (``{state}/seen_md5``); new hashes appended
  3 fuzzy      probe of the EXACT inverted prefix index
               (``{state}/jaccard_index``, operators.dedup.
               build_jaccard_index — PPJoin-style, no banding false
               negatives, lang-blocked like the batch pair
               generator), plus exact-Jaccard pairs + connected
               components WITHIN the batch; ALL processed docs enter
               the index — kept or dropped — so transitive chains
               (a~b, b~c, a!~c) collapse to the earliest-arriving
               canonical exactly as batch connected-components does.
               (The approximate MinHash index is the cheaper 100 TB
               alternative when banding recall is acceptable.)
  4 decontam   broadcast join against the benchmark shingle set,
               computed ONCE at stream start from the static holdout
               corpus (the benchmark is fixed; it never streams)
  5 sample     deterministic h32(doc_id) %% 100 < rate[lang]

Survivors append to ``out_path``; a per-batch funnel row per stage
appends to ``stats_path`` (batch_id, stage_idx, stage, n_docs,
n_tokens).

Scale shape: state shuffles carry 16-byte md5s and 128-byte
signatures, never text; the index probe broadcasts the BATCH side
and prunes index partitions by band; quality/sample are map-side.

Exactly-once: foreachBatch may replay a batch after a crash, so every
state/output write is idempotent per batch — seen_md5, the jaccard
index, out_path and stats_path are all ``batch_id=N``-partitioned and
written with dynamic partition OVERWRITE, set as a writer option (the
matview.py pattern): a replay rewrites exactly its own partition
instead of double-appending.
The anti-join/probe reads exclude the current batch's partition, so a
replayed batch never matches against its own previously-persisted
hashes or signatures (which would silently drop the whole batch).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..functions.text import quality_score, word_ngrams, word_tokens
from ..operators.components import connected_components
from ..operators.dedup import (build_jaccard_index,
                               dedup_against_jaccard_index,
                               ngram_jaccard_pairs)
from ..operators.hashing import h32
from ..plans.pretrain import (DECON_NGRAM, QUALITY_MIN, SAMPLE_RATES,
                              _DEFAULT_RATE)

__all__ = ["stream_pretrain_funnel", "prepare_benchmark_shingles",
           "run_funnel_batch"]

_DOC_COLS = ("doc_id", "lang", "source", "text")


def prepare_benchmark_shingles(bench_docs: DataFrame, path: str,
                               ngram: int = DECON_NGRAM) -> None:
    """Materialize the holdout set's distinct word-n-gram hashes once.
    The benchmark corpus is fixed, so this runs at stream start, not
    per batch; the output is shingle-vocabulary-sized and broadcasts
    into every batch's decontamination join."""
    # no tokenizing pre-filter: sub-shingle-width docs explode to zero
    # rows anyway (plans/pretrain.py::_shingle_hashes note)
    (bench_docs.select(F.explode(F.array_distinct(F.transform(
                   word_ngrams(F.col("text"), ngram), h32))).alias("h"))
               .distinct()
               .write.mode("overwrite").parquet(path))


def _read_or_none(spark: SparkSession, path: str) -> DataFrame | None:
    try:
        return spark.read.parquet(path)
    except Exception:
        return None


def _stage_stats(df: DataFrame, batch_id: int, idx: int,
                 name: str) -> DataFrame:
    toks = word_tokens(F.lower(F.col("text")))
    return df.agg(
        F.lit(batch_id).cast("bigint").alias("batch_id"),
        F.lit(idx).alias("stage_idx"),
        F.lit(name).alias("stage"),
        F.count("*").alias("n_docs"),
        F.coalesce(F.sum(F.size(toks).cast("bigint")), F.lit(0))
         .alias("n_tokens"))


def _write_batch(df: DataFrame, path: str) -> None:
    """Replace only the ``batch_id`` partitions ``df`` holds."""
    (df.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
       .partitionBy("batch_id").parquet(path))


def run_funnel_batch(batch_df: DataFrame, batch_id: int, *,
                     state_dir: str, out_path: str, stats_path: str,
                     jaccard_threshold: float = 0.3,
                     sig_ngram: int = 3) -> None:
    """Process one micro-batch of the funnel — idempotent per
    ``batch_id`` (see module doc): safe to call again with the same
    batch after a crash; the replay rewrites exactly its own
    ``batch_id=N`` partitions and never anti-joins against them.
    Exposed at module level so tests (and backfills) can drive the
    exact code path ``foreachBatch`` runs."""
    spark = batch_df.sparkSession
    seen_path = os.path.join(state_dir, "seen_md5")
    index_path = os.path.join(state_dir, "jaccard_index")
    bench_path = os.path.join(state_dir, "bench_shingles")
    bid = F.lit(batch_id).cast("bigint")
    base = batch_df.select(*_DOC_COLS).persist()

    quality = base.filter(quality_score(F.col("text")) >= QUALITY_MIN)

    # -- exact dedup: intra-batch (keep lowest doc_id per hash),
    #    then against the persisted hash set — excluding any rows
    #    this same batch persisted before a crash (replay safety)
    hashed = quality.withColumn("h", F.md5(F.col("text").cast("binary")))
    first = hashed.groupBy("h").agg(F.min("doc_id").alias("doc_id"))
    intra = hashed.join(first.select("doc_id"), "doc_id", "left_semi")
    seen = _read_or_none(spark, seen_path)
    if seen is not None and "batch_id" in seen.columns:
        seen = seen.filter(F.col("batch_id") != batch_id)
    if seen is not None:
        exact = intra.join(seen.select("h"), "h", "left_anti")
    else:
        exact = intra
    # localCheckpoint (eager) PINS the stage result before its
    # inputs change: every state write below mutates files this
    # plan reads, and a lazy re-evaluation after the write would
    # see the batch's own hashes/signatures and drop everything
    exact = exact.localCheckpoint()
    _write_batch(exact.select("h").withColumn("batch_id", bid), seen_path)

    # -- fuzzy dedup: exact index probe, then intra-batch components
    idx = _read_or_none(spark, os.path.join(index_path, "sketch"))
    if idx is not None:
        dup_ids = (dedup_against_jaccard_index(
            exact, index_path, block_col="lang", ngram=sig_ngram,
            threshold=jaccard_threshold, exclude_batch_id=batch_id)
            .select(F.col("new_id").alias("doc_id")).distinct())
        novel = exact.join(dup_ids, "doc_id", "left_anti")
    else:
        novel = exact
    pairs = ngram_jaccard_pairs(novel, block_col="lang",
                                threshold=jaccard_threshold,
                                ngram=sig_ngram) \
        .select("doc_a", "doc_b")
    intra_dupes = (connected_components(pairs, src="doc_a", dst="doc_b")
                   .filter(F.col("node") != F.col("component"))
                   .select(F.col("node").alias("doc_id")))
    fuzzy = novel.join(intra_dupes, "doc_id", "left_anti") \
                 .localCheckpoint()  # pin before the index write
    # every exact-survivor enters the index — dropped docs too,
    # so later chain members still match (see module doc)
    build_jaccard_index(exact.select("doc_id", "lang", "text"),
                        index_path, block_col="lang", ngram=sig_ngram,
                        threshold=jaccard_threshold, batch_id=batch_id)

    # -- decontamination
    bench = _read_or_none(spark, bench_path)
    train = fuzzy.filter(F.col("source") != "src0")
    if bench is not None:
        # no tokenizing pre-filter — short docs explode to zero rows
        contaminated = (train
                        .select("doc_id", F.explode(F.array_distinct(
                            F.transform(word_ngrams(F.col("text"),
                                                    DECON_NGRAM), h32)))
                            .alias("h"))
                        .join(F.broadcast(bench), "h")
                        .select("doc_id").distinct())
        decontam = train.join(contaminated, "doc_id", "left_anti") \
                        .persist()
    else:
        decontam = train.persist()

    # -- deterministic sampling
    rate = F.lit(_DEFAULT_RATE)
    for lang, r in sorted(SAMPLE_RATES.items()):
        rate = F.when(F.col("lang") == lang, r).otherwise(rate)
    sampled = decontam.filter(
        h32(F.col("doc_id").cast("string")) % 100 < rate)

    _write_batch(sampled.select(*_DOC_COLS).withColumn("batch_id", bid),
                 out_path)

    stats = [
        _stage_stats(base, batch_id, 0, "base"),
        _stage_stats(quality, batch_id, 1, "quality"),
        _stage_stats(exact.select(*_DOC_COLS), batch_id, 2,
                     "exact_dedup"),
        _stage_stats(fuzzy.select(*_DOC_COLS), batch_id, 3,
                     "fuzzy_dedup"),
        _stage_stats(decontam.select(*_DOC_COLS), batch_id, 4,
                     "decontam"),
        _stage_stats(sampled.select(*_DOC_COLS), batch_id, 5, "sample"),
    ]
    out = stats[0]
    for s in stats[1:]:
        out = out.unionByName(s)
    _write_batch(out, stats_path)
    for df in (base, decontam):
        df.unpersist()


def stream_pretrain_funnel(docs_stream: DataFrame, *, state_dir: str,
                           checkpoint: str, out_path: str, stats_path: str,
                           jaccard_threshold: float = 0.3,
                           sig_ngram: int = 3,
                           available_now: bool = True) -> StreamingQuery:
    """Attach the incremental funnel to a ``documents``-shaped stream.
    Call :func:`prepare_benchmark_shingles` first — the handler reads
    ``{state_dir}/bench_shingles`` for stage 4 (absent → stage 4 only
    drops the holdout docs themselves). Per-batch processing is
    :func:`run_funnel_batch` — idempotent per batch_id (module doc)."""
    def handle(batch_df: DataFrame, batch_id: int) -> None:
        run_funnel_batch(batch_df, batch_id, state_dir=state_dir,
                         out_path=out_path, stats_path=stats_path,
                         jaccard_threshold=jaccard_threshold,
                         sig_ngram=sig_ngram)

    writer = (docs_stream.writeStream.foreachBatch(handle)
              .option("checkpointLocation", checkpoint))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()

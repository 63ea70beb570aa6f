"""On-disk BM25 inverted index: build once / append batches / probe
forever — the lexical sibling of the persisted ANN index
(``ann_ivf_index_probe``) and the PPJoin dedup index
(``operators/dedup.py::build_jaccard_index``).

Layout at ``{path}``:

- ``postings/`` — (term, doc_id, tf, dl, positions) partitioned by
  ``(batch_id, term_bucket)``; ``term_bucket = h32(term) % 32``.
  dl is denormalized into the postings row so a probe never joins a
  corpus-sized doc-length table. ``positions`` is the sorted 0-based
  token-position array of the term in the doc (tf == its size) — it
  turns standing phrase/proximity workloads into index probes
  (:func:`phrase_probe`) instead of corpus scans, at the classic
  positional-index cost of roughly token-stream-sized postings
  (Manning/Raghavan/Schütze IIR §2.4.2); BM25 probes never read the
  column (parquet column pruning keeps them at the non-positional
  I/O bound).
- ``df/`` — per-batch document-frequency partials (term, df)
  partitioned by ``batch_id`` (vocabulary-sized per batch).
- ``stats/`` — one row per batch (n_docs, total_tokens).

Probe reads: the query terms' ``term_bucket`` partitions of postings
(static partition pruning — the bucket list comes from the probe's
own bounded vocabulary), the vocabulary-sized df partials, and the
per-batch stats rows. Per-query work is Σ_t∈q postings(t) — the
inverted-index bound.

Incremental ingest: a new corpus batch is one more
``write_bm25_batch(batch_id=N)`` call — df/stats are per-batch
PARTIALS merged at probe time (sums of exact integers), so appending
never rewrites existing data and a replayed batch overwrites exactly
its own partitions (each write sets ``partitionOverwriteMode=dynamic``
as a writer option, the matview.py idempotency pattern).

Numeric parity: :func:`bm25_contribution` is the ONE definition of
the scoring arithmetic — queries/retrieval.py's inline ``bm25_topk``
uses the same expression, so index-probe results are bit-identical to
the inline plan and share its DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import word_tokens
from .hashing import h32

__all__ = [
    "K1", "B", "K1_PLUS_1", "ONE_MINUS_B", "N_TERM_BUCKETS",
    "bm25_contribution", "query_terms", "write_bm25_batch",
    "probe_bm25_index", "phrase_probe", "proximity_probe",
    "compact_bm25_index",
]

# Pinned scoring constants (Lucene defaults). K1_PLUS_1 and
# ONE_MINUS_B are literals, not runtime sums — 1.2 + 1.0 re-rounded
# at runtime need not equal the double literal 2.2.
K1 = 1.2
B = 0.75
K1_PLUS_1 = 2.2
ONE_MINUS_B = 0.25

N_TERM_BUCKETS = 32


def bm25_contribution(tf: Column, dl: Column, df: Column,
                      n_docs: int, avgdl: float) -> Column:
    """Per-(query-term, document) BM25 contribution, cast to
    DECIMAL(38,9) so the per-document sum is exact and order-free.
    The idf is the non-negative Lucene form ln(1 + (N-df+.5)/(df+.5));
    the tf normalization is pure rational arithmetic on exact inputs,
    written in the same association order as the DuckDB oracle
    (queries/retrieval.py::_bm25_ctes)."""
    idf = F.log(F.lit(1.0)
                + ((F.lit(float(n_docs)) - df.cast("double") + F.lit(0.5))
                   / (df.cast("double") + F.lit(0.5))))
    tf_norm = ((tf.cast("double") * F.lit(K1_PLUS_1))
               / (tf.cast("double")
                  + F.lit(K1) * (F.lit(ONE_MINUS_B)
                                 + F.lit(B) * (dl.cast("double")
                                               / F.lit(avgdl)))))
    return (idf * tf_norm).cast("decimal(38,9)")


def query_terms(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """(q_id, term) — the distinct whitespace terms of each query
    document's lowercased text (the more-like-this query form)."""
    return (docs.filter(F.length(F.trim(text_col)) > 0)
                .select(F.col(id_col).alias("q_id"),
                        F.explode(word_tokens(F.lower(F.col(text_col))))
                         .alias("term"))
                .distinct())


def _tf_dl(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    # posexplode keeps the 0-based token position so the postings can
    # carry a positions column (phrase/proximity probes); sort_array
    # pins the collect_list order — positions are per-(doc, term)
    # unique, so the sorted array is deterministic under any
    # partitioning. tf == size(positions) by construction.
    # rebalance first: index builds arrive as 1-2 byte-split scan (or
    # micro-batch) partitions, and the tokenize+posexplode below is
    # CPU-bound per row — one cheap shuffle of raw rows buys full
    # cluster width for the postings build (same policy as
    # minhash_signatures / _normed_vectors)
    from ..functions.core import rebalance
    toks = (rebalance(docs.filter(F.length(F.trim(text_col)) > 0))
                .select(F.col(id_col).alias("doc_id"),
                        F.posexplode(word_tokens(F.lower(F.col(text_col))))
                         .alias("pos", "term")))
    tf = (toks.groupBy("doc_id", "term")
              .agg(F.count("*").alias("tf"),
                   F.sort_array(F.collect_list("pos")).alias("positions")))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    return tf.join(dl, "doc_id")


def write_bm25_batch(docs: DataFrame, path: str, batch_id: int = 0,
                     id_col: str = "doc_id",
                     text_col: str = "text") -> None:
    """Index one corpus batch: postings + df/stats PARTIALS land in
    ``batch_id``-keyed partitions. First call creates the index;
    later calls append new batches; a REPLAYED batch_id overwrites
    exactly its own partitions (dynamic partition overwrite), so the
    writer is idempotent per batch.

    PRECONDITION — batches must be doc-disjoint: the df/stats
    partials are merged at probe time as plain sums, so a doc_id
    ingested under TWO different batch_ids is double-counted in
    df/n_docs and silently corrupts scores. Re-ingesting a batch is
    safe only under its ORIGINAL batch_id (that is the idempotent
    replay path). ``probe_bm25_index(validate=True)`` checks the
    invariant (SUM(n_docs) == COUNT(DISTINCT doc_id) of postings)
    before scoring."""
    tfdl = _tf_dl(docs, id_col, text_col).persist()
    bid = F.lit(int(batch_id)).cast("bigint")
    try:
        # repartition before the write: the build side is deliberately
        # wide (the rebalance in _tf_dl), so a direct write would emit
        # one file per (task, bucket) — 32x the files, and probes pay
        # the per-file open cost (guide §6 small-files). Hash on
        # (term_bucket, term) rather than the partition columns alone:
        # hashing on term_bucket only would bound the write to
        # N_TERM_BUCKETS tasks forever (corpus/32 through ONE writer at
        # scale — AQE coalesces small partitions, it never splits a
        # hash repartition), while the finer (bucket, term) key lets a
        # bucket spread over many writer tasks at corpus scale and AQE
        # still coalesces to few files per dir at small scale (the
        # dedup.py::build_minhash_index (band, key) pattern).
        def _write_postings() -> None:
            (tfdl.withColumn("term_bucket",
                             (h32(F.col("term"))
                              % N_TERM_BUCKETS).cast("int"))
                 .withColumn("batch_id", bid)
                 .repartition("term_bucket", "term")
                 .write.mode("overwrite")
                 .option("partitionOverwriteMode", "dynamic")
                 .partitionBy("batch_id", "term_bucket")
                 .parquet(os.path.join(path, "postings")))

        # tfdl is distinct per (doc_id, term): df partial = COUNT(*).
        # Hash on (batch_id, term), not batch_id alone — one batch_id
        # value would funnel the whole vocabulary through one task.
        def _write_df() -> None:
            (tfdl.groupBy("term").agg(F.count("*").alias("df"))
                 .withColumn("batch_id", bid)
                 .repartition("batch_id", "term")
                 .write.mode("overwrite")
                 .option("partitionOverwriteMode", "dynamic")
                 .partitionBy("batch_id")
                 .parquet(os.path.join(path, "df")))

        def _write_stats() -> None:
            (tfdl.select("doc_id", "dl").distinct()
                 .agg(F.count("*").alias("n_docs"),
                      F.sum("dl").alias("total_tokens"))
                 .withColumn("batch_id", bid)
                 .write.mode("overwrite")
                 .option("partitionOverwriteMode", "dynamic")
                 .partitionBy("batch_id")
                 .parquet(os.path.join(path, "stats")))

        # The three writes are independent once tfdl is materialized,
        # and Spark schedules concurrent jobs FIFO with back-fill
        # (guide §2.6) — overlapping them hides the df/stats jobs
        # behind the postings write instead of paying three sequential
        # job launches per ingested batch (stream_bm25_index_gated
        # pays this per micro-batch). The persisted tfdl is computed
        # once regardless of which job reaches it first (block-level
        # cache locks). Results and on-disk layout are identical to
        # the sequential writes.
        from concurrent.futures import ThreadPoolExecutor
        with ThreadPoolExecutor(max_workers=3) as pool:
            futures = [pool.submit(f) for f in
                       (_write_postings, _write_df, _write_stats)]
            for fut in futures:
                fut.result()
    finally:
        # unpersist inside the finally: a failed write must not leak
        # the persisted tf/dl frame (ADVICE r6)
        tfdl.unpersist()


def probe_bm25_index(queries: DataFrame, path: str, k: int = 10,
                     validate: bool = False) -> DataFrame:
    """Answer BM25 top-k from the persisted index. ``queries`` is a
    (q_id, term) relation (see :func:`query_terms`); results exclude
    the query document itself (doc_id != q_id).

    Reads: only the query terms' term_bucket partitions of postings
    (the bucket list is collected from the probe's own bounded
    vocabulary — static partition pruning, the collect is query-sized
    by contract), the df partials (vocabulary-sized), and the stats
    rows (one per batch). Merging the per-batch df/stats partials is
    a sum of exact integers, so a probe over N appended batches
    computes exactly what a single-batch build would.

    ``validate=True`` additionally checks the batch-disjointness
    invariant (SUM(n_docs) over stats == COUNT(DISTINCT doc_id) over
    postings) and raises if an overlapping re-ingest corrupted the
    partials — one vocabulary-pruned distinct, intended for audits
    and post-append sanity checks, not the per-query hot path."""
    spark = queries.sparkSession
    qt = queries.select("q_id", "term").distinct()
    buckets = sorted({
        r.b for r in
        qt.select((h32(F.col("term")) % N_TERM_BUCKETS).cast("int")
                  .alias("b")).distinct().collect()})
    if not buckets:
        # empty query set: nothing to probe — return an empty
        # (q_id, doc_id, rank) frame. doc_id is typed from the INDEX
        # postings schema (schema-only read, no data scan) so the
        # empty path matches the non-empty path exactly — typing it
        # from q_id broke unions when q_id was narrower than the
        # indexed ids (ADVICE r7); if the index itself is unreadable
        # the q_id type is the only thing available, fall back.
        try:
            d_type = (spark.read.parquet(os.path.join(path, "postings"))
                           .schema["doc_id"].dataType.simpleString())
        except Exception:
            d_type = queries.schema["q_id"].dataType.simpleString()
        return (queries.select("q_id",
                               F.col("q_id").alias("doc_id"),
                               F.lit(1).alias("rank"))
                       .limit(0).selectExpr(
                           "q_id", f"CAST(doc_id AS {d_type}) AS doc_id",
                           "rank"))
    try:
        stats = spark.read.parquet(os.path.join(path, "stats"))
    except Exception as e:
        raise FileNotFoundError(
            f"BM25 index not found at {path!r} (missing stats/): {e}"
        ) from e
    srow = stats.agg(F.sum("n_docs").alias("n"),
                     F.sum("total_tokens").alias("tot")).first()
    if srow is None or srow["n"] is None:
        raise ValueError(
            f"BM25 index at {path!r} is empty (stats/ has no rows) — "
            f"write at least one batch with write_bm25_batch first")
    if validate:
        distinct_docs = (spark.read.parquet(os.path.join(path, "postings"))
                              .select("doc_id").distinct().count())
        if int(srow["n"]) != distinct_docs:
            raise ValueError(
                f"BM25 index at {path!r} violates batch disjointness: "
                f"stats SUM(n_docs)={int(srow['n'])} != "
                f"{distinct_docs} distinct posting doc_ids — a doc_id "
                f"was re-ingested under a different batch_id; rebuild "
                f"the index or replay under original batch_ids")
    n_docs = int(srow["n"])
    avgdl = float(srow["tot"]) / float(n_docs)
    df_merged = (spark.read.parquet(os.path.join(path, "df"))
                      .groupBy("term").agg(F.sum("df").alias("df")))
    qdf = F.broadcast(qt).join(df_merged, "term")
    postings = (spark.read.parquet(os.path.join(path, "postings"))
                     .filter(F.col("term_bucket").isin(buckets)))
    contrib = (postings.join(F.broadcast(qdf), "term")
                       .filter(F.col("doc_id") != F.col("q_id"))
                       .select("q_id", "doc_id",
                               bm25_contribution(F.col("tf"), F.col("dl"),
                                                 F.col("df"),
                                                 n_docs, avgdl).alias("c")))
    scored = contrib.groupBy("q_id", "doc_id").agg(F.sum("c").alias("score"))
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k)
                  .select("q_id", "doc_id", "rank"))


def phrase_probe(phrases: DataFrame, path: str) -> DataFrame:
    """Exact consecutive-bigram phrase search from the positional
    postings: for each (phrase_id, w1, w2) row return every doc
    containing w1 immediately followed by w2, with the exact
    occurrence count — ``n_matches = |{p in pos(w1) : p+1 in
    pos(w2)}|``, a pure per-row array expression
    (array_intersect(transform(pos1, p->p+1), pos2); positions are
    unique per (doc, term), so the intersect size IS the adjacency
    count, including the w1 == w2 case).

    Reads only the phrase terms' term_bucket partitions (static
    pruning from the phrase table's bounded vocabulary — same
    contract as :func:`probe_bm25_index`). Per-batch postings need no
    merge: a doc lives in exactly one batch (the writer's
    disjointness precondition), so its positions arrays are complete
    within that batch. Per-phrase work is |postings(w1)| +
    |postings(w2)| + a doc_id-keyed join of the two lists — the
    positional-index bound, never a corpus scan.
    """
    spark = phrases.sparkSession
    ph = phrases.select("phrase_id", "w1", "w2").distinct()
    terms = {t for r in ph.select("w1", "w2").collect()
             for t in (r["w1"], r["w2"])}
    if not terms:
        return (ph.select("phrase_id",
                          F.lit(None).cast("long").alias("doc_id"),
                          F.lit(0).cast("bigint").alias("n_matches"))
                  .limit(0))
    buckets = sorted({_bucket_of(t) for t in terms})
    postings = (spark.read.parquet(os.path.join(path, "postings"))
                     .filter(F.col("term_bucket").isin(buckets)
                             & F.col("term").isin(sorted(terms)))
                     .select("term", "doc_id", "positions"))
    p1 = postings.select(F.col("term").alias("w1"), "doc_id",
                         F.col("positions").alias("pos1"))
    p2 = postings.select(F.col("term").alias("w2"),
                         F.col("doc_id").alias("doc_id2"),
                         F.col("positions").alias("pos2"))
    n_matches = F.size(F.array_intersect(
        F.expr("transform(pos1, p -> p + 1)"), F.col("pos2"))) \
        .cast("bigint")
    cand = p1.join(F.broadcast(ph), "w1")
    return (cand.join(p2, (cand.w2 == p2.w2)
                          & (cand.doc_id == p2.doc_id2))
                .select("phrase_id", cand.doc_id.alias("doc_id"),
                        n_matches.alias("n_matches"))
                .filter(F.col("n_matches") > 0))


def _bucket_of(term: str) -> int:
    """Driver-side term_bucket — exact mirror of the column expr
    ``h32(term) % N_TERM_BUCKETS`` (hashing.h60 = first 15 md5 hex
    digits as int; h32 = h60 % 2^32)."""
    import hashlib
    h60_val = int(hashlib.md5(term.encode()).hexdigest()[:15], 16)
    return (h60_val % (1 << 32)) % N_TERM_BUCKETS


def proximity_probe(pairs: DataFrame, path: str, window: int) -> DataFrame:
    """NEAR/w proximity search from the positional postings: for each
    (pair_id, w1, w2) row return every doc where the two terms occur
    within ``window`` token positions of each other, with the exact
    count of qualifying position pairs —
    ``n_pairs = |{(p,q) in pos(w1) x pos(w2) : |p-q| <= window, p<>q}|``
    (symmetric, unlike the directional phrase adjacency). The
    position-pair count is a nested higher-order expression
    (aggregate over pos1 of size(filter(pos2, ...))) — JVM-side, no
    UDF. Same candidate generation and term_bucket pruning as
    :func:`phrase_probe`.
    """
    spark = pairs.sparkSession
    ph = pairs.select("pair_id", "w1", "w2").distinct()
    terms = {t for r in ph.select("w1", "w2").collect()
             for t in (r["w1"], r["w2"])}
    if not terms:
        return (ph.select("pair_id",
                          F.lit(None).cast("long").alias("doc_id"),
                          F.lit(0).cast("bigint").alias("n_pairs"))
                  .limit(0))
    buckets = sorted({_bucket_of(t) for t in terms})
    postings = (spark.read.parquet(os.path.join(path, "postings"))
                     .filter(F.col("term_bucket").isin(buckets)
                             & F.col("term").isin(sorted(terms)))
                     .select("term", "doc_id", "positions"))
    p1 = postings.select(F.col("term").alias("w1"), "doc_id",
                         F.col("positions").alias("pos1"))
    p2 = postings.select(F.col("term").alias("w2"),
                         F.col("doc_id").alias("doc_id2"),
                         F.col("positions").alias("pos2"))
    n_pairs = F.expr(
        f"aggregate(pos1, 0L, (acc, p) -> acc + size(filter(pos2, "
        f"q -> abs(q - p) <= {int(window)} AND q <> p)))").cast("bigint")
    cand = p1.join(F.broadcast(ph), "w1")
    return (cand.join(p2, (cand.w2 == p2.w2)
                          & (cand.doc_id == p2.doc_id2))
                .select("pair_id", cand.doc_id.alias("doc_id"),
                        n_pairs.alias("n_pairs"))
                .filter(F.col("n_pairs") > 0))


def compact_bm25_index(src: str, dst: str,
                       spark: "SparkSession | None" = None) -> "None":
    """Compact a multi-batch index into a single batch_id=0 layout at
    ``dst`` — the standing maintenance op of any append-only index:
    N small per-batch partitions (and N df/stats partials, merged at
    every probe) become one partition per term_bucket and ONE
    pre-merged df/stats, so probe-time partial merging drops to a
    no-op and small-file count stops growing with ingest history.
    Pure exact-integer folds (df/stats merge by SUM; postings pass
    through unchanged — a doc lives in exactly one batch), so a probe
    of the compacted index is bit-identical to the multi-batch one:
    bm25_index_compaction_probe shares the inline bm25_topk oracle to
    pin exactly that. The caller owns dst staging/publish (the
    queries use ``functions.core.publish_once``).

    ``spark`` is explicit because ``getActiveSession()`` is None in a
    non-driver thread. Each dst write sets
    ``partitionOverwriteMode=static`` as a writer option: without it,
    a session-wide ``dynamic`` mode would make an overwrite onto a
    non-fresh dst silently RETAIN stale batch_id>0 partitions, and the
    merged df/stats would double-count them (ADVICE r7)."""
    if spark is None:
        from pyspark.sql import SparkSession
        spark = SparkSession.getActiveSession()
        if spark is None:
            raise RuntimeError(
                "compact_bm25_index: no active SparkSession on this "
                "thread — pass spark= explicitly")
    zero = F.lit(0).cast("bigint")
    (spark.read.parquet(os.path.join(src, "postings"))
          .withColumn("batch_id", zero)
          .write.mode("overwrite").option("partitionOverwriteMode", "static")
          .partitionBy("batch_id", "term_bucket")
          .parquet(os.path.join(dst, "postings")))
    (spark.read.parquet(os.path.join(src, "df"))
          .groupBy("term").agg(F.sum("df").alias("df"))
          .withColumn("batch_id", zero)
          .write.mode("overwrite").option("partitionOverwriteMode", "static")
          .partitionBy("batch_id")
          .parquet(os.path.join(dst, "df")))
    (spark.read.parquet(os.path.join(src, "stats"))
          .agg(F.sum("n_docs").alias("n_docs"),
               F.sum("total_tokens").alias("total_tokens"))
          .withColumn("batch_id", zero)
          .write.mode("overwrite").option("partitionOverwriteMode", "static")
          .partitionBy("batch_id")
          .parquet(os.path.join(dst, "stats")))

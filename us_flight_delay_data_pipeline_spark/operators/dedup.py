"""Deduplication operators over arbitrary DataFrames — exact,
MinHash+LSH, SimHash, and exact n-gram Jaccard (the [EXT]
LLM-pipeline surface, SURVEY.md §7 step 7).

Design for 100 TB:
- shuffles carry hashes/signatures, never document text;
- candidate generation is always bucketed self-join (linear), the
  O(pairs) work happens only inside buckets;
- signature tables are persisted before band joins (each band join
  references the table twice; 4 bands → 8 subplan scans otherwise);
- Jaccard verification intersects 8-byte hashed shingles and derives
  |A∪B| = na+nb-|A∩B| (no union array materialization), with the
  exact size-ratio prefilter J(A,B) <= min(n)/max(n).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.core import rebalance
from ..functions.text import word_ngrams, word_tokens
from .hashing import band_key, h32, minhash_signature, rolling_fingerprint, simhash32

__all__ = [
    "dedup_exact", "dedup_fingerprint", "minhash_signatures",
    "minhash_lsh_duplicate_pairs", "minhash_lsh_duplicate_pairs_hub_capped",
    "simhash_64", "simhash_duplicate_pairs",
    "ngram_jaccard_pairs", "build_minhash_index", "dedup_against_index",
    "build_jaccard_index", "dedup_against_jaccard_index",
]

DEFAULT_MINHASH_COEFFS: list[tuple[int, int]] | None = None  # set by queries


_spread = rebalance  # CPU-heavy projections need width, not bytes


def dedup_exact(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: group by md5(text), keep the lowest id.
    The shuffle payload is the 16-byte hash, not the document."""
    return df.groupBy(
        F.md5(F.col(text_col).cast("binary")).alias("text_hash")).agg(
        F.min(id_col).alias(f"keep_{id_col}"),
        F.count("*").alias("n_copies"),
    )


def dedup_fingerprint(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Order-sensitive rolling-hash fingerprint per row (cheap
    near-exact dedup: whitespace/case normalization folded in)."""
    fp = rolling_fingerprint(word_tokens(F.lower(F.col(text_col))))
    return df.select(id_col, fp.alias("fingerprint"))


def _prefix_len(n: Column, threshold: float) -> Column:
    """PPJoin prefix length ``n - ceil(t*n) + 1``, with the ceiling
    computed in DECIMAL arithmetic: in doubles an arbitrary
    caller-supplied threshold can make ``t*n`` round UP past an exact
    integer (e.g. a t whose product with some n is k + 1 ulp),
    shortening the prefix by one and silently breaking the
    no-false-negative guarantee. The threshold is snapped to 12
    decimal digits (recovers the intended rational for any
    human-entered value); decimal multiply + ceil are then exact."""
    t = F.lit(threshold).cast("decimal(14,12)")
    return (n - F.ceil(n.cast("decimal(20,0)") * t) + 1).cast("int")


def _shingle_hashes(text: Column, n: int = 3) -> Column:
    """Distinct hashed word n-gram shingles (array<bigint>)."""
    return F.array_distinct(F.transform(word_ngrams(text, n), h32))


def minhash_signatures(df: DataFrame, coeffs: list[tuple[int, int]],
                       text_col: str = "text", id_col: str = "doc_id",
                       ngram: int = 3,
                       keep_cols: tuple[str, ...] = ()) -> DataFrame:
    """(id, [keep_cols...], hsd: hashed shingle set, sig: MinHash
    signature) — persisted, ready for band joins."""
    toks = word_tokens(F.lower(F.col(text_col)))
    sh = word_ngrams(F.col(text_col), ngram)
    return (_spread(df.filter(F.size(toks) >= ngram))
              .select(F.col(id_col),
                      *[F.col(c) for c in keep_cols],
                      _shingle_hashes(F.col(text_col), ngram).alias("hsd"),
                      minhash_signature(sh, coeffs).alias("sig"))
              .persist())


def _verified_jaccard_pairs(cands: DataFrame, threshold: float) -> DataFrame:
    common = F.size(F.array_intersect("h_a", "h_b"))
    jac = (common.cast("double")
           / (F.size("h_a") + F.size("h_b") - common).cast("double"))
    return (cands.select("doc_a", "doc_b", jac.alias("jaccard"))
                 .filter(F.col("jaccard") >= threshold))


def minhash_lsh_duplicate_pairs(df: DataFrame, coeffs: list[tuple[int, int]],
                                text_col: str = "text", id_col: str = "doc_id",
                                bands: int = 4, rows_per_band: int = 4,
                                threshold: float = 0.3) -> DataFrame:
    """LSH banding + exact-Jaccard verification: the canonical fuzzy
    dedup for pretraining corpora.

    All bands join in ONE shuffle: each row explodes to ``bands`` rows
    keyed (band_idx, band_key) and a single equi-join on that pair
    replaces ``bands`` separate self-joins + union — 1 exchange per
    side instead of 2×bands, same candidate set."""
    sig = minhash_signatures(df, coeffs, text_col, id_col)
    banded = sig.select(
        id_col, "hsd",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     band_key(F.col("sig"), b, rows_per_band).alias("key"))
            for b in range(bands)])).alias("bk"))
    a, b = banded.alias("a"), banded.alias("b")
    cands = (a.join(b, (F.col("a.bk") == F.col("b.bk"))
                    & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
              .select(F.col(f"a.{id_col}").alias("doc_a"),
                      F.col(f"b.{id_col}").alias("doc_b"),
                      F.col("a.hsd").alias("h_a"),
                      F.col("b.hsd").alias("h_b"))
              .dropDuplicates(["doc_a", "doc_b"]))
    return _verified_jaccard_pairs(cands, threshold)


def minhash_lsh_duplicate_pairs_hub_capped(
        df: DataFrame, coeffs: list[tuple[int, int]],
        text_col: str = "text", id_col: str = "doc_id",
        bands: int = 4, rows_per_band: int = 4,
        threshold: float = 0.3, hub_cap: int = 64) -> DataFrame:
    """Skew-hardened LSH dedup: identical candidates to
    :func:`minhash_lsh_duplicate_pairs` on healthy data, bounded
    per-task work under template explosion — SCALE.md's boilerplate
    hub, where 10^4+ copies of one page land in ONE band bucket and
    the bucket self-join owes ~n²/2 candidate pairs from a single
    join key. That skew is CPU-quadratic below one key, which AQE's
    skew split cannot divide (it splits a partition's keys apart,
    never one key's matches).

    Mechanism — the same cap discipline ``winnow_candidate_pairs``
    applies to fingerprint document-frequency, applied to band
    buckets:

    - one (band, key) count classifies every bucket up front (the
      mechanical form of the ``dup_degree_histogram`` pre-flight);
    - buckets with <= ``hub_cap`` members take the normal pair
      self-join: per-bucket fan-out is capped at C(hub_cap, 2) by
      construction, so no task can inherit quadratic work;
    - over-cap buckets are template hubs (members share the band's
      ``rows_per_band`` consecutive minhashes — boilerplate copies).
      Each collapses to a STAR: (representative = min id) -> member
      edges, n-1 rows instead of n(n-1)/2. Every edge still takes
      exact-Jaccard verification, so a random band collision inside
      a hub never yields a false pair.

    The star keeps dedup semantics: connected components over star
    edges equal components over the clique whenever members verify
    against the representative (true template copies: J = 1). The
    traded case — a member pair that would verify while its
    rep-member edges do not — is precisely the boilerplate a dedup
    pass should not pair on, and the cap makes that trade explicit
    instead of quadratic.

    Scale shape: candidates carry (doc_a, doc_b) IDs only (16 B/row);
    shingle sets re-join from the persisted signature table for
    verification — at corpus scale the band-join shuffle must not
    carry text-derived arrays (the uncapped variant tolerates it at
    driver SFs; this is the deploy path).
    """
    from .cache import track
    sig = track(minhash_signatures(df, coeffs, text_col, id_col))
    banded = sig.select(
        F.col(id_col),
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     band_key(F.col("sig"), b, rows_per_band).alias("key"))
            for b in range(bands)])).alias("bk"))
    deg = (banded.groupBy("bk")
                 .agg(F.count("*").alias("n"),
                      F.min(id_col).alias("rep")))
    # join back on bk: both sides hash-partitioned on bk by the agg —
    # co-located, no extra exchange on the banded side
    bd = track(banded.join(deg, "bk").persist())
    small = bd.filter(F.col("n") <= hub_cap)
    a, b = small.alias("a"), small.alias("b")
    small_pairs = (a.join(b, (F.col("a.bk") == F.col("b.bk"))
                          & (F.col(f"a.{id_col}")
                             < F.col(f"b.{id_col}")))
                    .select(F.col(f"a.{id_col}").alias("doc_a"),
                            F.col(f"b.{id_col}").alias("doc_b")))
    star_pairs = (bd.filter((F.col("n") > hub_cap)
                            & (F.col(id_col) != F.col("rep")))
                    .select(F.col("rep").alias("doc_a"),
                            F.col(id_col).alias("doc_b")))
    cands = (small_pairs.unionAll(star_pairs)
                        .dropDuplicates(["doc_a", "doc_b"]))
    sa = sig.select(F.col(id_col).alias("doc_a"),
                    F.col("hsd").alias("h_a"))
    sb = sig.select(F.col(id_col).alias("doc_b"),
                    F.col("hsd").alias("h_b"))
    return _verified_jaccard_pairs(cands.join(sa, "doc_a")
                                        .join(sb, "doc_b"), threshold)


def simhash_64(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """Per-row 32-bit SimHash (name kept generic; width is 32 — see
    hashing.SIMHASH_BITS). Zero for token-less rows."""
    toks = word_tokens(F.lower(F.col(text_col)))
    sh = F.when(F.size(toks) == 0, F.lit(0).cast("bigint")) \
          .otherwise(simhash32(toks))
    return _spread(df).select(id_col, sh.alias("simhash"))


def simhash_duplicate_pairs(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id",
                            max_hamming: int = 3) -> DataFrame:
    """SimHash near-dup pairs: block on any equal 8-bit band (4
    self-joins on 1-byte keys), verify hamming <= max_hamming.
    Pigeonhole: with 4 bands any pair within distance 3 shares a band,
    so recall is exact for max_hamming <= 3."""
    toks = word_tokens(F.lower(F.col(text_col)))
    base = (_spread(df.filter(F.size(toks) > 0))
              .select(F.col(id_col), simhash32(toks).alias("simhash"))
              .persist())
    # one shuffle for all 4 bands: explode to (band_idx, band_byte)
    # keys and equi-join once (vs 4 self-joins + union)
    banded = base.select(
        id_col, "simhash",
        F.explode(F.array(*[
            F.struct(F.lit(j).alias("band"),
                     (F.shiftright(F.col("simhash"), 8 * j) % 256)
                     .alias("key"))
            for j in range(4)])).alias("bk"))
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (a.join(b, (F.col("a.bk") == F.col("b.bk"))
                    & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
              .select(F.col(f"a.{id_col}").alias("doc_a"),
                      F.col(f"b.{id_col}").alias("doc_b"),
                      F.col("a.simhash").alias("sh_a"),
                      F.col("b.simhash").alias("sh_b")))
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (pairs.dropDuplicates(["doc_a", "doc_b"])
                 .select("doc_a", "doc_b", ham.alias("hamming"))
                 .filter(F.col("hamming") <= max_hamming))


def ngram_jaccard_pairs(df: DataFrame, block_col: str,
                        text_col: str = "text", id_col: str = "doc_id",
                        ngram: int = 3,
                        threshold: float = 0.3) -> DataFrame:
    """Exact n-gram Jaccard within a blocking key — the brute baseline
    LSH approximates (quadratic within a block by design). Exact cost
    cuts: size-ratio prefilter (no false negatives) and derived union
    size.

    Candidate generation is PREFIX FILTERING (the AllPairs/PPJoin
    family): with shingle sets sorted in one global order (hash asc),
    two sets with J >= t must share an element within each set's first
    ``n - ceil(t*n) + 1`` elements — so candidates come from an
    inverted-index equi-join on prefix shingles instead of an O(n²)
    block self-join. Join key cardinality is the shingle space, so
    parallelism is natural and the candidate count scales with shared
    rare shingles, not block size². Exact: prefix filtering has no
    false negatives; every candidate is then verified on the full
    sets. (The quadratic fallback for tiny corpora is
    :func:`all_pairs_within_block`.)"""
    # No tokenizing pre-filter: docs shorter than the shingle width get
    # an EMPTY hsd (n=0, prefix slice empty), so the explode below drops
    # them from the inverted index — same pairs either way. The filter
    # version re-tokenized every doc inside the 1-2-task scan stage
    # (Catalyst pushes deterministic filters below the repartition),
    # serializing a full regex pass that the post-rebalance projection
    # then repeats 32-wide.
    sh = (_spread(df)
            .select(F.col(id_col), F.col(block_col),
                    F.sort_array(_shingle_hashes(F.col(text_col), ngram))
                     .alias("hsd"))
            .withColumn("n", F.size("hsd"))
            .persist())
    prefix_len = _prefix_len(F.col("n"), threshold)
    pref = sh.select(id_col, block_col, "n", "hsd",
                     F.explode(F.slice("hsd", F.lit(1), prefix_len))
                      .alias("_h"))
    a, b = pref.alias("a"), pref.alias("b")
    size_ok = (F.least(F.col("a.n"), F.col("b.n")).cast("double")
               >= threshold * F.greatest(F.col("a.n"), F.col("b.n")).cast("double"))
    cands = (a.join(b, (F.col("a._h") == F.col("b._h"))
                    & (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
                    & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
                    & size_ok)
              .select(F.col(f"a.{id_col}").alias("doc_a"),
                      F.col(f"b.{id_col}").alias("doc_b"),
                      F.col("a.hsd").alias("h_a"), F.col("b.hsd").alias("h_b")))
    # Verify BEFORE deduplicating candidates: a pair sharing k prefix
    # shingles is verified k times (k is small — bounded by the prefix
    # length), but the dropDuplicates shuffle then carries 24-byte
    # (doc_a, doc_b, jaccard) rows instead of two full shingle arrays
    # per candidate — the array payload never rides a shuffle.
    return _verified_jaccard_pairs(cands, threshold) \
        .dropDuplicates(["doc_a", "doc_b"])


def build_minhash_index(df: DataFrame, path: str,
                        coeffs: list[tuple[int, int]],
                        text_col: str = "text", id_col: str = "doc_id",
                        bands: int = 4, rows_per_band: int = 4,
                        ngram: int = 3,
                        block_col: str | None = None) -> None:
    """Persist the corpus's dedup index: one row per (doc, band) with
    the band key and the hashed shingle set, written as parquet
    PARTITIONED BY band. This is the incremental-ingest artifact — at
    100 TB you build it once and every new batch probes it instead of
    re-sig-ing the corpus. Partitioning by band lets the probe read
    only the band it is joining (partition pruning).

    ``block_col``: optional blocking column (e.g. language) stored in
    the index and required to match on probe — keeps index dedup
    semantics identical to the blocked pair generators."""
    keep = (block_col,) if block_col else ()
    sig = minhash_signatures(df, coeffs, text_col, id_col, ngram, keep)
    banded = sig.select(
        F.col(id_col).alias("corpus_id"),
        *[F.col(c) for c in keep], "hsd",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     band_key(F.col("sig"), b, rows_per_band).alias("key"))
            for b in range(bands)])).alias("bk")) \
        .select("corpus_id", *keep, "hsd",
                F.col("bk.band").alias("band"),
                F.col("bk.key").alias("key"))
    # repartition on the partition column before the write: the
    # signature build is _spread wide, so a direct write emits one
    # file per (task, band) — 32x the files, and every probe pays the
    # per-file open cost (guide §6; same fix as write_bm25_batch).
    # Hash on (band, key) rather than band alone so a band's rows can
    # still spread over multiple write tasks at corpus scale — the
    # file count per band dir is bounded by the AQE-coalesced task
    # count that actually holds that band, not by the build width.
    banded.repartition("band", "key") \
          .write.mode("overwrite").partitionBy("band").parquet(path)
    sig.unpersist()


def write_minhash_batch(docs: DataFrame, path: str, batch_id: int,
                        coeffs: list[tuple[int, int]],
                        text_col: str = "text", id_col: str = "doc_id",
                        bands: int = 4, rows_per_band: int = 4,
                        ngram: int = 3) -> None:
    """Append ONE corpus batch's banded signatures to the persisted
    LSH index — the incremental writer twin of
    :func:`build_minhash_index` (which overwrites the whole index).
    Rows land in (batch_id, band)-keyed partitions written with
    ``partitionOverwriteMode=dynamic`` as a writer option, so a
    REPLAYED batch_id rewrites exactly its own partitions and the
    writer is idempotent per batch (the bm25.write_bm25_batch
    contract). Batches must be doc-disjoint — the probe deduplicates
    candidate PAIRS, not documents, so a doc ingested twice under
    different batch_ids would pair with itself.
    """
    sig = minhash_signatures(docs, coeffs, text_col, id_col, ngram)
    banded = sig.select(
        F.col(id_col).alias("corpus_id"), "hsd",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     band_key(F.col("sig"), b, rows_per_band).alias("key"))
            for b in range(bands)])).alias("bk"))         .select("corpus_id", "hsd",
                F.col("bk.band").alias("band"),
                F.col("bk.key").alias("key"),
                F.lit(int(batch_id)).cast("bigint").alias("batch_id"))
    try:
        # size-adaptive file count per partition dir — see
        # build_minhash_index
        banded.repartition("band", "key") \
              .write.mode("overwrite") \
              .option("partitionOverwriteMode", "dynamic") \
              .partitionBy("batch_id", "band").parquet(path)
    finally:
        sig.unpersist()


def lsh_pairs_from_index(spark, path: str,
                         threshold: float = 0.3) -> DataFrame:
    """All near-dup pairs in the ACCUMULATED banded index: one
    self-equi-join on (band, key) — across batches as well as within
    them, because the band key is a pure function of the signature —
    then exact hashed-shingle Jaccard verification. Equals
    :func:`minhash_lsh_duplicate_pairs` over the union of every
    ingested batch (stream_minhash_index_gated pins exactly that).
    The serving shape of CONTINUOUS corpus dedup: signatures are
    computed once at ingest; no text and no re-signing at probe time.
    """
    idx = spark.read.parquet(path)
    a = idx.select(F.col("corpus_id").alias("doc_a"),
                   F.col("hsd").alias("h_a"), "band", "key")
    b = idx.select(F.col("corpus_id").alias("doc_b"),
                   F.col("hsd").alias("h_b"), "band", "key")
    cands = (a.join(b, ["band", "key"])
              .filter(F.col("doc_a") < F.col("doc_b"))
              .select("doc_a", "doc_b", "h_a", "h_b")
              .dropDuplicates(["doc_a", "doc_b"]))
    return _verified_jaccard_pairs(cands, threshold)


def dedup_against_index(new_docs: DataFrame, index_path: str,
                        coeffs: list[tuple[int, int]],
                        text_col: str = "text", id_col: str = "doc_id",
                        bands: int = 4, rows_per_band: int = 4,
                        ngram: int = 3,
                        threshold: float = 0.3,
                        block_col: str | None = None) -> DataFrame:
    """Incremental fuzzy dedup: match a NEW batch against the persisted
    corpus index without touching corpus text. Band-join the batch's
    (band, key) pairs against the index (the batch side is the small
    one — it broadcasts), then verify exact Jaccard on the stored
    hashed shingles. Returns (new_id, corpus_id, jaccard) for every
    near-dup; anti-join the batch against the new_id column to keep
    only novel documents."""
    spark = new_docs.sparkSession
    idx = spark.read.parquet(index_path)
    keep = (block_col,) if block_col else ()
    sig = minhash_signatures(new_docs, coeffs, text_col, id_col, ngram, keep)
    banded = sig.select(
        F.col(id_col).alias("new_id"),
        *[F.col(c).alias(f"new_{c}") for c in keep],
        F.col("hsd").alias("h_new"),
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     band_key(F.col("sig"), b, rows_per_band).alias("key"))
            for b in range(bands)])).alias("bk")) \
        .select("new_id", *[f"new_{c}" for c in keep], "h_new",
                F.col("bk.band").alias("band"),
                F.col("bk.key").alias("key"))
    probe = idx.join(F.broadcast(banded), ["band", "key"])
    if block_col:
        probe = probe.filter(F.col(block_col) == F.col(f"new_{block_col}"))
    cands = (probe
                .select("new_id", "corpus_id", "h_new",
                        F.col("hsd").alias("h_corpus"))
                .dropDuplicates(["new_id", "corpus_id"]))
    common = F.size(F.array_intersect("h_new", "h_corpus"))
    jac = (common.cast("double")
           / (F.size("h_new") + F.size("h_corpus") - common).cast("double"))
    out = (cands.select("new_id", "corpus_id", jac.alias("jaccard"))
                .filter(F.col("jaccard") >= threshold))
    sig.unpersist()
    return out


def build_jaccard_index(df: DataFrame, path: str, block_col: str,
                        text_col: str = "text", id_col: str = "doc_id",
                        ngram: int = 3, threshold: float = 0.3,
                        mode: str = "overwrite",
                        batch_id: int | None = None) -> None:
    """Persist the EXACT incremental fuzzy-dedup index (the
    PPJoin/AllPairs inverted prefix index — the exact-semantics
    sibling of :func:`build_minhash_index`, which can miss
    near-threshold pairs with banding probability < 1):

    - ``{path}/sketch``:   (doc_id, block, n, hsd) — one row per doc,
      its sorted hashed shingle set;
    - ``{path}/inverted``: (h, doc_id, block) — one row per PREFIX
      shingle (first n - ceil(t*n) + 1 of the sorted set). Two sets
      with J >= t MUST share a prefix element on both sides, so an
      equi-join on (h, block) between probe prefixes and this index
      has no false negatives.

    Cost vs MinHash: index rows scale with prefix shingles (~(1-t)*n
    per doc) instead of a fixed 4 bands — bigger at rest, but probes
    stay equi-joins on 8-byte keys and recall is exact.

    ``batch_id``: when set, index rows land in a ``batch_id=N``
    partition written with mode=overwrite and
    ``partitionOverwriteMode=dynamic`` as a writer option — a replayed
    streaming batch overwrites exactly its own partition instead of
    double-appending, and other batches' partitions stay, whatever the
    session's mode (the matview.py idempotency pattern); pair with
    ``dedup_against_jaccard_index(..., exclude_batch_id=N)`` so a
    replay does not probe against its own rows."""
    # No tokenizing pre-filter (ngram_jaccard_pairs note): short docs
    # get an empty hsd. The sketch keeps the exact on-disk contract by
    # filtering n > 0 ABOVE the persist — the cache boundary stops
    # predicate pushdown, so the cheap filter runs on the cached rows,
    # not as a second serial tokenize pass in the scan stage.
    sh = (_spread(df)
            .select(F.col(id_col).alias("doc_id"),
                    F.col(block_col).alias("block"),
                    F.sort_array(_shingle_hashes(F.col(text_col), ngram))
                     .alias("hsd"))
            .withColumn("n", F.size("hsd"))
            .persist())
    sketch = sh.filter(F.col("n") > 0).select("doc_id", "block", "n", "hsd")
    prefix_len = _prefix_len(F.col("n"), threshold)
    inverted = sh.select(
        "doc_id", "block",
        F.explode(F.slice("hsd", F.lit(1), prefix_len)).alias("h"))
    if batch_id is not None:
        bid = F.lit(batch_id).cast("bigint")
        for name, rows in (("sketch", sketch), ("inverted", inverted)):
            (rows.withColumn("batch_id", bid)
                 .write.mode("overwrite")
                 .option("partitionOverwriteMode", "dynamic")
                 .partitionBy("batch_id")
                 .parquet(os.path.join(path, name)))
    else:
        sketch.write.mode(mode).parquet(os.path.join(path, "sketch"))
        inverted.write.mode(mode).parquet(os.path.join(path, "inverted"))
    sh.unpersist()


def dedup_against_jaccard_index(new_docs: DataFrame, path: str,
                                block_col: str,
                                text_col: str = "text",
                                id_col: str = "doc_id",
                                ngram: int = 3,
                                threshold: float = 0.3,
                                exclude_batch_id: int | None = None
                                ) -> DataFrame:
    """Probe the exact inverted prefix index: the new batch's prefix
    shingles equi-join ``inverted`` on (h, block), candidates fetch
    the stored corpus sketch for exact-Jaccard verification. Returns
    (new_id, corpus_id, jaccard) with NO false negatives at the index
    threshold — stream/batch dedup equivalence holds exactly.

    The batch side broadcasts (it is the small side by construction);
    the candidate join and the sketch fetch are both hash joins on
    8-byte keys.

    ``exclude_batch_id``: skip index rows written under this
    ``batch_id`` partition (partition-pruned) — a replayed streaming
    batch must not match against its own previously-persisted rows."""
    spark = new_docs.sparkSession
    inverted = spark.read.parquet(os.path.join(path, "inverted"))
    sketch = spark.read.parquet(os.path.join(path, "sketch"))
    if exclude_batch_id is not None and "batch_id" in inverted.columns:
        inverted = inverted.filter(F.col("batch_id") != exclude_batch_id)
        sketch = sketch.filter(F.col("batch_id") != exclude_batch_id)
    # no tokenizing pre-filter: empty-hsd docs emit no prefix shingles
    # (never become candidates) and the broadcast side joins inner on
    # new_id, so the extra rows are inert — see ngram_jaccard_pairs
    sh = (_spread(new_docs)
            .select(F.col(id_col).alias("new_id"),
                    F.col(block_col).alias("block"),
                    F.sort_array(_shingle_hashes(F.col(text_col), ngram))
                     .alias("h_new"))
            .withColumn("n", F.size("h_new"))
            .persist())
    prefix_len = _prefix_len(F.col("n"), threshold)
    pref = sh.select("new_id", "block", "h_new",
                     F.explode(F.slice("h_new", F.lit(1), prefix_len))
                      .alias("h"))
    cand_ids = (inverted.join(F.broadcast(pref.select("new_id", "block", "h")),
                              ["h", "block"])
                        .select("new_id", "doc_id").distinct())
    cands = (cand_ids
             .join(sketch.select("doc_id", F.col("hsd").alias("h_corpus")),
                   "doc_id")
             .join(F.broadcast(sh.select("new_id", "h_new")), "new_id")
             .select(F.col("new_id"), F.col("doc_id").alias("corpus_id"),
                     "h_new", "h_corpus"))
    common = F.size(F.array_intersect("h_new", "h_corpus"))
    jac = (common.cast("double")
           / (F.size("h_new") + F.size("h_corpus") - common).cast("double"))
    out = (cands.select("new_id", "corpus_id", jac.alias("jaccard"))
                .filter(F.col("jaccard") >= threshold))
    sh.unpersist()
    return out

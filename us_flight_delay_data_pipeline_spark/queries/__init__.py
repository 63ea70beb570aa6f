"""Named query registry — the driver-facing surface.

Every operator from SURVEY.md §2 (plus the [EXT] LLM-pipeline
operators) is exposed as a named query over the driver testdata
tables, each paired with an ANSI-SQL oracle for the DuckDB
differential harness (SURVEY.md §5 strategy 1).

Numeric-parity policy (why the decimal casts everywhere): Spark and
DuckDB sum doubles in different orders, so raw double aggregates can
drift in the last bits and break value-hash comparison. We therefore
sum through ``DECIMAL(38,6)`` — casting the *same* input double to
decimal rounds identically in both engines (no representable exact
ties at the half-ulp) and decimal addition is exact.

r7 refinement (the mergeable_partial_aggs lesson — red driver rows in
r05 AND r06 while every local sweep was bit-exact): even a TERMINAL
``CAST(decimal AS DOUBLE)`` is engine-BUILD-dependent — DuckDB's
decimal->double goes through a hugeint-division path whose one-ulp
rounding differs across builds from Java BigDecimal.doubleValue. So:

- pure-sum output columns stay ``DECIMAL(38,6)`` end-to-end
  (``relational.dsum_exact`` / ``_osum_exact``) — zero doubles in the
  output, every op integer arithmetic;
- ratios/averages route through exact BIGINT micro-units first
  (``relational.micros`` / ``_omicros``): int64->double is one
  correctly-rounded hardware conversion on every engine, then one
  IEEE division — bit-portable, unlike per-operand decimal->double;
- FILTER thresholds and argmax comparisons are exact decimal/integer
  algebra (``5*qty*n < sum``), never a float compare — row
  MEMBERSHIP must not depend on a cast;
- never the engines' ``avg``.

Queries driver-checked green before r7 keep their legacy
``dsum``/``_osum`` double outputs (proven portable at the driver's
data; churning them risks more than it buys); every query entering a
new driver sample follows the refined policy.

r8 refinement (the 13-red-row lesson of r7): the policy above gated
the SPARK output types and the monetary oracle sums, but nothing
audited the ORACLE side's result types — and DuckDB's ``SUM(<any
integer>)`` returns HUGEINT (int128), which surfaces as
``decimal128(38,0)`` through Arrow and as ``float64`` through pandas
(``3.0`` != int64 ``3`` under a typed value-hash), even though a
plain ``fetchall()`` shows indistinguishable Python ints. So every
oracle integer SUM must be written ``CAST(SUM(...) AS BIGINT)``, and
``tests/test_oracle_portability.py`` enforces the whole class
registry-wide: each oracle's ``fetch_arrow_table()`` schema and each
Spark result schema may contain only fixed-width-int64-or-narrower /
float / bool / string / date / timestamp / lists-structs thereof —
no decimal128/256, no int128, on EITHER side.
"""

from __future__ import annotations

import dataclasses
import json
import re
from collections.abc import Callable
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check
    doc: str = ""
    # Calibration/tuning audits (parameter sweeps, recall
    # measurements) are not serving queries — bench totals report
    # them separately so the serving number is not inflated by
    # one-off calibration work.
    audit: bool = False
    # Partition-invariance contract. 0.0 (default) = bit-exact under
    # any repartitioning — true for every exact query because sums go
    # through DECIMAL. Sketch ESTIMATES are the documented exception:
    # DataSketches HLL serves the order-sensitive HIP estimator for
    # never-merged sketches and the register-composite estimator after
    # a union, so the same data under a different partial-merge tree
    # can shift the estimate by ~1% (measured: ≤1.3% at sf0.01, 32 vs
    # 7 shuffle partitions); t-digest centroid boundaries are likewise
    # merge-order-dependent. For those queries this is the RELATIVE
    # tolerance the invariance gate asserts instead — approximate by
    # contract, but pinned approximate.
    invariance_rtol: float = 0.0
    # The ESTIMATE columns the tolerance applies to. Every other
    # column (exact keys, decimal-routed sums, counts) is matched
    # EXACTLY even on a sketch query — without this the rtol leaked
    # onto exact columns (a repartition bug shifting an exact sum by
    # <3% passed, and the greedy matcher could pair rows across
    # different key values). Must be non-empty whenever
    # invariance_rtol > 0.
    invariance_rtol_cols: tuple[str, ...] = ()


# Queries that exist to CALIBRATE other operators (band-count sweeps,
# recall measurement against brute force, corpus-overlap audits) —
# run once per corpus/parameter change, not per serving request.
# Tagged centrally so per-module QuerySpec rewrites (oracle
# attachment) cannot drop the flag.
AUDIT_QUERIES = frozenset({
    "minhash_band_tuning", "ivf_recall_audit", "lsh_recall_audit",
    "source_overlap_audit", "knn_cap_recall_audit",
    "matryoshka_recall_audit", "blocking_quality_audit",
})


# Correctness evidence: one CORRECTNESS_rNN.json per round of the
# external 50-query oracle sample (r01-r07 under records/, later rounds
# at the repo root), each mapping query name -> match flags and ``err``.
_REPO = Path(__file__).resolve().parents[2]
_EVIDENCE_DIRS = (_REPO / "records", _REPO)
_EVIDENCE_FILE = re.compile(r"CORRECTNESS_r(\d+)\.json")


def _last_checked(paths) -> dict[str, int]:
    """Query name -> the highest round with a CORRECTNESS row for it.
    A failed row (any ``*_match`` False, or an ``err`` other than
    ``no_oracle``) stamps 0, so that name is re-checked first. Missing
    directories contribute nothing."""
    latest: dict[str, tuple[int, bool]] = {}
    for d in paths:
        for p in Path(d).glob("CORRECTNESS_r*.json"):
            m = _EVIDENCE_FILE.fullmatch(p.name)
            if not m:
                continue
            rnd = int(m[1])
            for name, row in json.loads(p.read_text()).items():
                ok = (not any(v is False for k, v in row.items()
                              if k.endswith("_match"))
                      and row.get("err") in (None, "no_oracle"))
                if rnd > latest.get(name, (0, True))[0]:
                    latest[name] = (rnd, ok)
    return {n: rnd if ok else 0 for n, (rnd, ok) in latest.items()}


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None, doc: str = "",
             invariance_rtol: float = 0.0,
             invariance_rtol_cols: tuple[str, ...] = ()):
    if invariance_rtol > 0.0 and not invariance_rtol_cols:
        raise ValueError(
            f"{name}: invariance_rtol > 0 requires naming the estimate "
            f"columns it applies to (invariance_rtol_cols) — all other "
            f"columns are matched exactly")
    def deco(fn):
        REGISTRY[name] = QuerySpec(fn=fn, oracle=oracle, doc=doc,
                                   invariance_rtol=invariance_rtol,
                                   invariance_rtol_cols=invariance_rtol_cols)
        return fn
    return deco


def load_registry() -> dict[str, QuerySpec]:
    """Import all query modules (side-effect: registration).

    The driver's fixed-size oracle sample is the first 50 registered
    names, so after importing every module the registry is reordered
    by the committed evidence (``_last_checked`` over every
    ``CORRECTNESS_rNN.json``): names never checked, or whose latest
    row failed, come first; then the oldest last-checked round; ties
    by name. Each round's sample therefore re-checks the queries with
    the stalest evidence, and committing that round's CORRECTNESS file
    rotates the next sample with no table to edit.
    Without the evidence files the order is by name.
    """
    from . import curation_extra  # noqa: F401
    from . import curation_wave6  # noqa: F401
    from . import curation_wave7  # noqa: F401
    from . import curation_wave8  # noqa: F401
    from . import curation_wave9  # noqa: F401
    from . import graph_and_index  # noqa: F401
    from . import data_quality  # noqa: F401
    from . import transactions  # noqa: F401
    from . import pretrain  # noqa: F401
    from . import corpus_lm  # noqa: F401
    from . import streaming_gated  # noqa: F401
    from . import udtf_surface  # noqa: F401
    from . import text_pipeline  # noqa: F401
    from . import sessions_and_ann  # noqa: F401
    from . import multimodal_media  # noqa: F401
    from . import relational_extra  # noqa: F401
    from . import relational_wave3  # noqa: F401
    from . import relational_wave4  # noqa: F401
    from . import functions_coverage  # noqa: F401
    from . import llm_ext  # noqa: F401
    from . import retrieval  # noqa: F401
    from . import relational  # noqa: F401
    for name in AUDIT_QUERIES & REGISTRY.keys():
        spec = REGISTRY[name]
        if not spec.audit:
            REGISTRY[name] = dataclasses.replace(spec, audit=True)
    stamp = _last_checked(_EVIDENCE_DIRS)
    ordered = sorted(REGISTRY, key=lambda n: (stamp.get(n, 0), n))
    reordered = {n: REGISTRY[n] for n in ordered}
    REGISTRY.clear()
    REGISTRY.update(reordered)
    return REGISTRY

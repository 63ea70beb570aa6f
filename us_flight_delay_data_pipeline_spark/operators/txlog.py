"""Minimal ACID transaction log over parquet — the Delta-parity layer.

The reference's silver sink writes Delta (`ETL/flight-silver-
transformation (1).ipynb:1299-1305`: ``format("delta")`` +
``overwriteSchema``) and its README lists Delta MERGE / time travel as
the incremental-refresh story (README.md:281-302). delta-spark is not
installable in this environment, so this module implements the same
*table contract* natively — a versioned commit log over plain parquet
— instead of silently downgrading to overwrite-in-place:

Layout::

    table/
      _txlog/00000000.json        one manifest per committed version
      _txlog/00000007.ckpt.json   checkpoint: full active state at v7
      data/tx-00000000-<uuid>/    one data directory per commit

Each manifest records the data directories the commit ADDs and
REMOVEs (dir-granular, like Delta's file-granular add/remove actions
— a commit's parquet files always land in one fresh directory, so
dir granularity loses nothing and keeps manifests tiny). A snapshot
at version V is: replay add/remove up to V, read the surviving dirs.

ACID how:

- **Atomicity/durability** — data files are fully written to a fresh
  directory BEFORE the manifest exists; readers only see directories
  reachable from a manifest. The manifest itself is staged to a temp
  file and published with ``os.link`` (atomic, fails-if-exists), so a
  manifest is either absent or complete — never partial.
- **Isolation (snapshot)** — readers resolve a version first, then
  read only that version's dirs; concurrent commits create new dirs
  and never mutate old ones, so a long-running read at V is immune to
  later appends, overwrites, and even logical deletes (until vacuum).
- **Optimistic concurrency** — two writers racing for version N: one
  ``os.link`` wins, the loser re-reads the log and retries at N+1.
  Appends always commute; ``overwrite`` recomputes its remove-set on
  retry so it removes the winner's output too (last-overwrite-wins,
  same as Delta's default conflict rule for unconditional overwrite).

100 TB notes: the log is metadata — O(commits) tiny JSON files, with
a checkpoint every ``checkpoint_every`` commits so snapshot
resolution replays a bounded tail, never the whole history (Delta's
_last_checkpoint pattern). Data dirs are immutable, so vacuum is a
pure GC of dirs unreachable from retained versions. All log I/O rides
the ``log_store`` seam (operators/logstore.py): ``PosixLogStore``
publishes with tmp-file + ``os.link`` (POSIX/HDFS), and
``ObjectStoreLogStore`` publishes with a conditional PUT
(If-None-Match) for S3-style rename-less stores — the protocol is
identical on both (pinned by tests/test_txlog_object_store.py).

Data skipping: pass ``stats_cols`` to record per-dir [min, max] in
each commit's manifest; ``snapshot(prune=(col, lo, hi))`` then drops
non-overlapping dirs from the read without opening a parquet footer
(Delta's dataSkippingNumIndexedCols). Dirs without stats are always
read, so skipping is never lossy.

Exactly-once streaming: ``commit_once(df, token)`` skips the commit
if any retained manifest already carries the token (use
``f"{query_id}/{batch_id}"`` from foreachBatch) — a replayed
micro-batch becomes a no-op instead of a duplicate append.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

__all__ = ["TxTable", "TxConflictError"]

_LOG = "_txlog"
_DATA = "data"


class TxConflictError(RuntimeError):
    """A commit lost the optimistic-concurrency race more times than
    ``max_retries`` allows."""


def _manifest_name(version: int) -> str:
    return f"{version:08d}.json"


def _ckpt_name(version: int) -> str:
    return f"{version:08d}.ckpt.json"


class TxTable:
    """Versioned parquet table with snapshot reads and time travel."""

    def __init__(self, spark: SparkSession, path: str,
                 checkpoint_every: int = 10, max_retries: int = 20,
                 stats_cols: tuple[str, ...] = (), log_store=None):
        """``stats_cols``: columns to record per-dir min/max for at
        commit time — the data-skipping index (Delta's dataSkippingNumIndexedCols
        equivalent). ``snapshot(prune=...)`` then skips whole dirs
        whose range cannot match, without opening a single parquet
        footer. Numeric / string / date columns only.

        ``log_store``: where the transaction log lives — any object
        with ``list() / read(name) / put_if_absent(name, content)``
        (operators/logstore.py). Default: :class:`PosixLogStore`
        under ``path/_txlog`` (tmp-file + os.link publish, POSIX and
        HDFS). Pass :class:`ObjectStoreLogStore` for S3-style
        rename-less semantics (conditional PUT publish); the rest of
        the protocol is byte-identical either way."""
        from .logstore import PosixLogStore
        self.spark = spark
        self.path = path
        self.log_dir = os.path.join(path, _LOG)
        self.checkpoint_every = checkpoint_every
        self.max_retries = max_retries
        self.stats_cols = tuple(stats_cols)
        self.log_store = log_store or PosixLogStore(self.log_dir)
        os.makedirs(os.path.join(path, _DATA), exist_ok=True)

    # ---- log primitives -------------------------------------------------

    def _versions(self) -> list[int]:
        return sorted(
            int(f[:8]) for f in self.log_store.list()
            if f.endswith(".json") and not f.endswith(".ckpt.json")
            and not f.endswith(".tmp"))

    def latest_version(self) -> int | None:
        vs = self._versions()
        return vs[-1] if vs else None

    def _read_manifest(self, version: int) -> dict:
        return json.loads(self.log_store.read(_manifest_name(version)))

    def _latest_checkpoint(self, at_or_before: int) -> dict | None:
        cks = sorted(
            int(f[:8]) for f in self.log_store.list()
            if f.endswith(".ckpt.json") and int(f[:8]) <= at_or_before)
        if not cks:
            return None
        return json.loads(self.log_store.read(_ckpt_name(cks[-1])))

    def _resolve_version(self, version: int | None = None,
                         as_of_ts: float | None = None) -> int:
        vs = self._versions()
        if not vs:
            raise FileNotFoundError(f"empty transaction log at {self.path}")
        if version is not None:
            if version not in vs:
                raise ValueError(f"version {version} not in log "
                                 f"(have {vs[0]}..{vs[-1]})")
            return version
        if as_of_ts is not None:
            # commit timestamps are monotonic (versions are totally
            # ordered), so binary-search the newest manifest at or
            # before the target — O(log n) manifest reads, not a scan
            lo, hi, best = 0, len(vs) - 1, None
            while lo <= hi:
                mid = (lo + hi) // 2
                if self._read_manifest(vs[mid])["ts"] <= as_of_ts:
                    best = vs[mid]
                    lo = mid + 1
                else:
                    hi = mid - 1
            if best is None:
                raise ValueError(f"no version at or before ts={as_of_ts}")
            return best
        return vs[-1]

    def _state_at(self, version: int) \
            -> tuple[list[str], str | None, dict]:
        """Replay (checkpoint + tail) → (active data dirs, schema json,
        per-dir stats). Bounded: reads at most ``checkpoint_every``
        tail manifests past the newest checkpoint ≤ version."""
        ck = self._latest_checkpoint(version)
        active: list[str] = list(ck["active"]) if ck else []
        schema = ck["schema"] if ck else None
        stats: dict = dict(ck.get("stats", {})) if ck else {}
        start = (ck["version"] + 1) if ck else 0
        for v in range(start, version + 1):
            m = self._read_manifest(v)
            for d in m.get("remove", []):
                if d in active:
                    active.remove(d)
                stats.pop(d, None)
            active.extend(m.get("add", []))
            stats.update(m.get("stats") or {})
            if m.get("schema"):
                schema = m["schema"]
        return active, schema, {d: s for d, s in stats.items()
                                if d in active}

    def _publish(self, version: int, manifest: dict) -> bool:
        """Atomically publish a manifest; False if the version is taken
        (optimistic-concurrency loss). Atomicity is delegated to the
        log store's conditional create: os.link on POSIX/HDFS,
        conditional PUT (If-None-Match) on object stores."""
        return self.log_store.put_if_absent(
            _manifest_name(version), json.dumps(manifest))

    # ---- commits --------------------------------------------------------

    def _write_data_dir(self, df: DataFrame, version_hint: int) -> str:
        rel = os.path.join(
            _DATA, f"tx-{version_hint:08d}-{uuid.uuid4().hex[:12]}")
        df.write.mode("overwrite").parquet(os.path.join(self.path, rel))
        return rel

    def _dir_stats(self, df: DataFrame, rel: str) -> dict | None:
        """Per-dir min/max for the table's ``stats_cols`` (set on the
        constructor) — the data-skipping index. One tiny aggregate per
        commit; the result rides in the manifest, so predicate pruning
        at read time is a pure metadata operation."""
        cols = [c for c in self.stats_cols if c in df.columns]
        if not cols:
            return None
        d = self.spark.read.parquet(os.path.join(self.path, rel))
        row = d.agg(*[f for c in cols
                      for f in (F.min(c).alias(f"min_{c}"),
                                F.max(c).alias(f"max_{c}"))]).collect()[0]

        def norm(v):
            if v is None or isinstance(v, (int, float, str, bool)):
                return v
            if hasattr(v, "isoformat"):
                return v.isoformat()  # dates/timestamps: ISO strings
            return float(v)  # Decimal
        return {c: [norm(row[f"min_{c}"]), norm(row[f"max_{c}"])]
                for c in cols}

    def _commit(self, op: str, add: list[str],
                remove_fn, schema_json: str | None,
                meta: dict | None, stats: dict | None = None) -> int:
        """remove_fn(version) -> remove list, re-evaluated per retry so
        an overwrite that loses the race removes the winner's dirs."""
        import time
        for _ in range(self.max_retries):
            latest = self.latest_version()
            version = 0 if latest is None else latest + 1
            manifest = {
                "version": version, "ts": time.time(), "op": op,
                "add": add, "remove": remove_fn(version),
                "schema": schema_json, "meta": meta or {},
                "stats": stats or {},
            }
            if self._publish(version, manifest):
                if (version + 1) % self.checkpoint_every == 0:
                    self._write_checkpoint(version)
                return version
        raise TxConflictError(
            f"lost the commit race {self.max_retries} times at {self.path}")

    def _add_stats(self, df: DataFrame, rels: list[str]) -> dict:
        out = {}
        for rel in rels:
            s = self._dir_stats(df, rel)
            if s:
                out[rel] = s
        return out

    def append(self, df: DataFrame, meta: dict | None = None) -> int:
        hint = (self.latest_version() or 0) + 1
        rel = self._write_data_dir(df, hint)
        return self._commit("append", [rel], lambda v: [],
                            df.schema.json(), meta,
                            self._add_stats(df, [rel]))

    def overwrite(self, df: DataFrame, meta: dict | None = None) -> int:
        hint = (self.latest_version() or 0) + 1
        rel = self._write_data_dir(df, hint)

        def removes(version: int) -> list[str]:
            return self._state_at(version - 1)[0] if version > 0 else []
        return self._commit("overwrite", [rel], removes,
                            df.schema.json(), meta,
                            self._add_stats(df, [rel]))

    def overwrite_partitions(self, df: DataFrame, partition_col: str,
                             values: list, meta: dict | None = None) -> int:
        """Static partition overwrite at dir granularity: replaces the
        dirs previously committed FOR THESE partition values (dirs are
        tagged in their manifest), leaving other partitions' dirs
        untouched — the txlog equivalent of dynamic partition
        overwrite, and the cheap-refresh path at 100 TB."""
        hint = (self.latest_version() or 0) + 1
        rel = self._write_data_dir(df, hint)
        tag = {partition_col: sorted(map(str, values))}

        def removes(version: int) -> list[str]:
            if version == 0:
                return []
            active = self._state_at(version - 1)[0]
            out = []
            for v in range(0, version):
                m = self._read_manifest(v)
                mtag = (m.get("meta") or {}).get("partition")
                if not mtag or partition_col not in mtag:
                    continue
                if set(mtag[partition_col]) & set(tag[partition_col]):
                    out.extend(d for d in m.get("add", []) if d in active)
            return out
        meta = dict(meta or {})
        meta["partition"] = tag
        return self._commit("overwrite_partitions", [rel], removes,
                            df.schema.json(), meta,
                            self._add_stats(df, [rel]))

    def _dirs_matching(self, dirs: list[str], condition) -> list[str]:
        """One job over ``dirs`` that returns the subset containing at
        least one row matching ``condition`` (a SQL string or a join
        thunk df→df). input_file_name() maps rows back to their dir, so
        finding the touched set is a single scan no matter how many
        dirs are active — never one probe job per dir. The collect is
        dir-names only (metadata-scale)."""
        if not dirs:
            return []
        d = self.spark.read.parquet(
            *[os.path.join(self.path, r) for r in dirs])
        dir_col = F.regexp_extract(
            F.input_file_name(), r"(tx-[0-9]{8}-[0-9a-f]+)", 1)
        matched = (condition(d) if callable(condition)
                   else d.filter(condition))
        hit = {r[0] for r in matched.select(dir_col.alias("d"))
               .distinct().collect()}
        return [r for r in dirs if os.path.basename(r) in hit]

    def delete_where(self, condition: str, meta: dict | None = None) -> int:
        """Logical delete: copy-on-write rewrite of affected dirs,
        like Delta DELETE. One scan finds the dirs containing matches
        (``_dirs_matching``); their survivors are rewritten into ONE
        combined replacement dir — two jobs total regardless of how
        many dirs the table has. Snapshot readers at older versions
        still see the deleted rows until vacuum. (Combining coarsens
        per-dir skipping stats for the rewritten slice; compact()
        re-establishes granularity if needed.) Like SQL DELETE, an
        empty table is a valid target (commits a no-op version)."""
        latest = self.latest_version()
        if latest is None:
            active, schema_json = [], None
        else:
            active, schema_json, _ = self._state_at(latest)
        removed = self._dirs_matching(active, condition)
        add: list[str] = []
        stats: dict = {}
        if removed:
            hint = (self.latest_version() or 0) + 1
            survivors = self.spark.read.parquet(
                *[os.path.join(self.path, r) for r in removed]
            ).filter(f"NOT ({condition})")
            new_rel = self._write_data_dir(survivors, hint)
            add.append(new_rel)
            stats.update(self._add_stats(survivors, [new_rel]))

        def removes(version: int) -> list[str]:
            # on a lost race, only remove dirs still active at the new
            # base version (a concurrent overwrite may have removed them)
            if version == 0:
                return []
            still = set(self._state_at(version - 1)[0])
            return [r for r in removed if r in still]
        return self._commit("delete", add, removes, schema_json, meta,
                            stats)

    def merge(self, updates: DataFrame, keys: list[str],
              meta: dict | None = None) -> int:
        """Delta MERGE semantics (WHEN MATCHED UPDATE SET * / WHEN NOT
        MATCHED INSERT *) as one committed version: dirs containing a
        matched key are rewritten without their matched rows
        (copy-on-write, bounded by data-skipping stats when the key is
        a stats column), then the updates append — snapshot readers
        see the merge atomically or not at all. Updates must be unique
        per key. Cost scales with the touched dirs + the delta, never
        the full table (the operators/upsert.py contract, made
        transactional)."""
        assert updates.count() == updates.select(*keys).distinct().count(), \
            "updates must be unique per merge key"
        latest = self.latest_version()
        if latest is None:  # MERGE into an empty table = insert-only
            base_v, active, schema_json, stats = -1, [], None, {}
        else:
            base_v = latest
            active, schema_json, stats = self._state_at(base_v)
        # data skipping first: a single-key merge only considers dirs
        # whose recorded key range overlaps the updates' range
        candidates = active
        if len(keys) == 1 and keys[0] in self.stats_cols:
            r = updates.agg(F.min(keys[0]), F.max(keys[0])).collect()[0]
            if r[0] is not None:
                kept = []
                for rel in active:
                    rng = stats.get(rel, {}).get(keys[0])
                    if (rng is not None and rng[0] is not None
                            and (rng[1] < r[0] or rng[0] > r[1])):
                        continue
                    kept.append(rel)
                candidates = kept
        upd_keys = updates.select(*keys)
        # one scan over the candidates finds the dirs with matched keys
        removed = self._dirs_matching(
            candidates,
            lambda d: d.join(F.broadcast(upd_keys), on=keys,
                             how="left_semi"))
        hint = base_v + 1
        add: list[str] = []
        new_stats: dict = {}
        if removed:
            survivors = self.spark.read.parquet(
                *[os.path.join(self.path, r) for r in removed]
            ).join(F.broadcast(upd_keys), on=keys, how="left_anti")
            new_rel = self._write_data_dir(survivors, hint)
            add.append(new_rel)
            new_stats.update(self._add_stats(survivors, [new_rel]))
        upd_rel = self._write_data_dir(updates, hint)
        add.append(upd_rel)
        new_stats.update(self._add_stats(updates, [upd_rel]))

        def removes(version: int) -> list[str]:
            if version == 0:
                return []
            still = set(self._state_at(version - 1)[0])
            return [r for r in removed if r in still]
        return self._commit("merge", add, removes,
                            updates.schema.json(), meta, new_stats)

    def changes(self, from_version: int, to_version: int | None = None
                ) -> DataFrame:
        """Change data feed: every row added or removed by commits in
        (from_version, to_version], tagged ``_change_type``
        ('insert'/'delete') and ``_commit_version`` — the Delta CDF
        contract at dir granularity (an overwritten row appears as a
        delete of the old row plus an insert of the new one). Reads
        only the dirs those commits touched, never the full table;
        requires the touched dirs to not yet be vacuumed."""
        to_version = (self._resolve_version()
                      if to_version is None else to_version)
        frames: list[DataFrame] = []
        for v in range(from_version + 1, to_version + 1):
            m = self._read_manifest(v)
            for kind, tag in (("add", "insert"), ("remove", "delete")):
                for rel in m.get(kind, []):
                    d = self.spark.read.parquet(
                        os.path.join(self.path, rel))
                    frames.append(
                        d.withColumn("_change_type", F.lit(tag))
                         .withColumn("_commit_version",
                                     F.lit(v).cast("int")))
        if not frames:
            base = self.snapshot(version=to_version).limit(0)
            return (base.withColumn("_change_type", F.lit(""))
                        .withColumn("_commit_version",
                                    F.lit(0).cast("int")).limit(0))
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out

    def commit_once(self, df: DataFrame, token: str,
                    meta: dict | None = None) -> int | None:
        """Exactly-once append: no-op (returns None) if ``token`` was
        already committed — foreachBatch replays become idempotent.
        Token lookups scan the manifest tail plus the checkpoint's
        accumulated token set, so cost is bounded like snapshot reads."""
        if self._token_seen(token):
            return None
        meta = dict(meta or {})
        meta["token"] = token
        return self.append(df, meta)

    def _token_seen(self, token: str) -> bool:
        latest = self.latest_version()
        if latest is None:
            return False
        ck = self._latest_checkpoint(latest)
        if ck and token in ck.get("tokens", []):
            return True
        start = (ck["version"] + 1) if ck else 0
        return any(
            (self._read_manifest(v).get("meta") or {}).get("token") == token
            for v in range(start, latest + 1))

    # ---- reads ----------------------------------------------------------

    def snapshot(self, version: int | None = None,
                 as_of_ts: float | None = None,
                 prune: tuple | None = None,
                 merge_schema: bool = False) -> DataFrame:
        """Snapshot read; ``version=None, as_of_ts=None`` → latest.
        ``as_of_ts`` (epoch seconds) → newest version committed at or
        before that time (time travel).

        ``prune=(col, lo, hi)``: data skipping — dirs whose recorded
        [min, max] for ``col`` cannot intersect [lo, hi] are dropped
        from the read WITHOUT opening them (either bound may be None
        for one-sided ranges; dirs with no recorded stats are always
        kept, so skipping is never lossy). This is metadata-only —
        at 100 TB the planner touches the manifest, not the data.
        NOTE: pruning only skips; apply the actual row filter on the
        returned frame as usual.

        ``merge_schema=True``: union the schemas of all active dirs
        (parquet mergeSchema) — the read-side half of schema
        evolution, for tables whose commits added columns over time
        (the manifest records each commit's own schema for the
        write-side half; absent columns read as NULL). Otherwise the
        read takes the schema recorded at ``version`` (the latest
        commit's that recorded one), so planning runs no Spark job; dirs
        that lack one of its columns read it as NULL."""
        v = self._resolve_version(version, as_of_ts)
        active, schema_json, stats = self._state_at(v)
        if prune is not None and active:
            col, lo, hi = prune
            kept = []
            for d in active:
                rng = stats.get(d, {}).get(col)
                if rng is None or rng[0] is None or rng[1] is None:
                    kept.append(d)  # unknown range: must read
                elif ((lo is None or rng[1] >= lo)
                      and (hi is None or rng[0] <= hi)):
                    kept.append(d)
            active = kept
        if not active:
            schema = (StructType.fromJson(json.loads(schema_json))
                      if schema_json else StructType([]))
            return self.spark.createDataFrame([], schema)
        reader = self.spark.read
        if merge_schema:
            reader = reader.option("mergeSchema", "true")
        elif schema_json:
            # the recorded schema: no footer-reading job on every read
            reader = reader.schema(StructType.fromJson(json.loads(schema_json)))
        return reader.parquet(
            *[os.path.join(self.path, d) for d in active])

    def history(self) -> list[dict]:
        return [self._read_manifest(v) for v in self._versions()]

    # ---- maintenance ----------------------------------------------------

    def _write_checkpoint(self, version: int) -> None:
        active, schema, stats = self._state_at(version)
        prev = self._latest_checkpoint(version)
        tokens = list(prev.get("tokens", [])) if prev else []
        start = (prev["version"] + 1) if prev else 0
        for v in range(start, version + 1):
            t = (self._read_manifest(v).get("meta") or {}).get("token")
            if t:
                tokens.append(t)
        ck = {"version": version, "active": active, "schema": schema,
              "tokens": tokens, "stats": stats}
        # a lost race means another writer checkpointed the same
        # version with identical content — ignore
        self.log_store.put_if_absent(_ckpt_name(version), json.dumps(ck))

    def vacuum(self, retain_last: int = 1) -> list[str]:
        """GC data dirs unreachable from the last ``retain_last``
        versions. Returns the deleted dirs. Time travel to vacuumed
        versions stops working (same contract as Delta VACUUM)."""
        vs = self._versions()
        if not vs:
            return []
        retained = vs[-retain_last:]
        reachable: set[str] = set()
        for v in retained:
            reachable.update(self._state_at(v)[0])
        data_root = os.path.join(self.path, _DATA)
        deleted = []
        for d in sorted(os.listdir(data_root)):
            rel = os.path.join(_DATA, d)
            if rel not in reachable:
                shutil.rmtree(os.path.join(data_root, d))
                deleted.append(rel)
        return deleted

    def restore(self, version: int, meta: dict | None = None) -> int:
        """Delta RESTORE: reinstate an old snapshot as a NEW commit —
        pure metadata (the new manifest adds the old version's dirs
        and removes the current ones; dirs are immutable so nothing
        is copied). History is preserved: the restore itself is
        time-travelable, and the restored-over versions remain
        readable until vacuum. Fails if the target version's dirs
        were already vacuumed."""
        target_active, schema_json, target_stats = self._state_at(
            self._resolve_version(version))
        for rel in target_active:
            if not os.path.isdir(os.path.join(self.path, rel)):
                raise ValueError(
                    f"cannot restore to version {version}: {rel} was "
                    "vacuumed")

        def removes(v: int) -> list[str]:
            # drop EVERYTHING active at the commit base (recomputed per
            # optimistic retry); replay applies removes before adds, so
            # re-adding a dir that was already active stays duplicate-
            # free even when the two sets overlap
            return self._state_at(v - 1)[0] if v > 0 else []
        meta = dict(meta or {})
        meta["restore_of"] = version
        # carry the target's data-skipping stats so restored dirs keep
        # pruning (their original stats entries were dropped when the
        # dirs were removed from the active set)
        return self._commit("restore", list(target_active), removes,
                            schema_json, meta, dict(target_stats))

    def compact(self, target_partitions: int = 8,
                meta: dict | None = None) -> int:
        """Fold all active dirs into one (small-file compaction as a
        normal committed overwrite — readers at old versions are
        unaffected; OPTIMIZE in Delta terms)."""
        snap = self.snapshot().coalesce(target_partitions)
        return self.overwrite(snap, meta={**(meta or {}), "compaction": True})

    def optimize(self, cluster_by: tuple[str, ...], n_dirs: int = 8,
                 meta: dict | None = None) -> int:
        """OPTIMIZE ... ZORDER BY-style clustering rewrite: the active
        set is range-partitioned + sorted on ``cluster_by`` and
        rewritten as ``n_dirs`` data dirs, EACH committed with its own
        min/max stats — so after optimize a range predicate on the
        leading cluster column skips all but ~1/n_dirs of the data,
        where the pre-optimize append order gave every dir the full
        value range. (For two-column rectangles compose with
        operators/maintenance.py::zorder_compact's Morton key as the
        cluster column.) One shuffle; committed atomically like any
        other version, so readers at old versions are unaffected."""
        base_v = self._resolve_version()
        active, schema_json, _ = self._state_at(base_v)
        if not active:
            return base_v
        snap = self.spark.read.parquet(
            *[os.path.join(self.path, d) for d in active])
        staging = os.path.join(self.path, _DATA,
                               f"_opt-{uuid.uuid4().hex[:12]}")
        (snap.repartitionByRange(n_dirs, *[F.col(c) for c in cluster_by])
             .sortWithinPartitions(*cluster_by)
             .withColumn("_bucket", F.spark_partition_id())
             .write.mode("overwrite").partitionBy("_bucket")
             .parquet(staging))
        hint = base_v + 1
        add: list[str] = []
        stats: dict = {}
        for d in sorted(os.listdir(staging)):
            if not d.startswith("_bucket="):
                continue
            rel = os.path.join(
                _DATA, f"tx-{hint:08d}-{uuid.uuid4().hex[:12]}")
            os.rename(os.path.join(staging, d),
                      os.path.join(self.path, rel))
            add.append(rel)
            stats.update(self._add_stats(snap, [rel]))
        shutil.rmtree(staging, ignore_errors=True)

        def removes(version: int) -> list[str]:
            if version == 0:
                return []
            still = set(self._state_at(version - 1)[0])
            return [r for r in active if r in still]
        meta = dict(meta or {})
        meta["optimize"] = {"cluster_by": list(cluster_by)}
        return self._commit("optimize", add, removes,
                            schema_json, meta, stats)

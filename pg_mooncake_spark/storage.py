"""moontable — a minimal versioned-Parquet table format.

The reference mirrors tables into Iceberg and pins every read to an LSN
(reference src/duckdb_mooncake.rs:26-29, src/functions.rs:9-22).  Delta and
Iceberg jars are not available in this image, so this module implements the
smallest commit-log table format that supports the reference's semantic
contract:

- **atomic versioned commits**: a JSON log entry per commit under
  ``<path>/_moonlog/``; commit N is visible only once ``N.json`` exists
  (atomic rename), so readers never see partial writes;
- **snapshot reads** (time travel): ``read(version=...)`` reconstructs the
  file set as of any retained version — the analog of Delta
  ``versionAsOf`` / Iceberg snapshot-id, used by the engine for the
  read-your-writes barrier;
- **upsert/delete (MERGE)** keyed on a primary key — the CDC apply
  primitive (reference applies logical-replication I/U/D to the mirror);
- **optimize** — small-file compaction (reference
  ``mooncake.optimize_table``, src/functions.rs:132-144).

Scale design (100 TB): data files are plain Parquet written by Spark
executors — the driver only writes the tiny JSON log entry.  Each commit
records per-file row counts and primary-key min/max stats; MERGE uses those
stats to rewrite **only the files whose key range intersects the change
batch** (copy-on-write, like Delta), so a CDC tick touching 0.1% of keys
does not rewrite 100 TB.  Readers prune with the same stats.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid
import weakref
from dataclasses import dataclass, field
from typing import Any, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pg_mooncake_spark.fsio import CommitConflict, StorageBackend, get_backend

_LOG_DIR = "_moonlog"
_CHANGES_DIR = "_changes"
_INDEX_DIR = "_index"
_PENDING_PREFIX = "pending-"  # staged change files: .pending-<name>
OP_COL = "__op"  # change disposition column: I / U / D
# change-feed disposition values (Delta CDF vocabulary so downstream
# consumers translate 1:1): insert / update_preimage / update_postimage /
# delete, stamped in CHANGE_TYPE_COL with the commit in VERSION_COL
CHANGE_TYPE_COL = "_change_type"
VERSION_COL = "_commit_version"
_DML_OPS = frozenset({"merge", "merge-mor", "delete", "delete-mor", "update"})


class MoonTableError(RuntimeError):
    pass


@dataclass
class Commit:
    version: int
    op: str
    add: list[dict[str, Any]] = field(default_factory=list)   # file descriptors
    remove: list[str] = field(default_factory=list)            # file names
    schema: Optional[str] = None  # json DDL (v0 + schema-evolving commits)
    primary_key: Optional[list[str]] = None
    source_version: Optional[int] = None
    ts: float = 0.0
    # merge-on-read equality-delete files (pk tombstones): each applies
    # to data files committed STRICTLY BEFORE its own commit (Iceberg
    # sequence-number semantics), so same-commit upserts survive
    deletes: list[dict[str, Any]] = field(default_factory=list)
    # metadata-only column rename {old: new} (upstream ALTER RENAME):
    # files committed before this keep their data under the old
    # physical column name; snapshot replay tracks the mapping per file
    renames: Optional[dict] = None
    # free-form commit properties.  Used keys:
    #   change_feed   (commit 0)  — row-level change tracking enabled
    #   change_files  (DML)       — CDF parquet names under _changes/
    #   data_change   (overwrite) — False = data-preserving rewrite
    #                               (optimize/compaction: no logical change)
    props: Optional[dict] = None

    def to_json(self) -> str:
        return json.dumps(
            {
                "version": self.version,
                "op": self.op,
                "add": self.add,
                "remove": self.remove,
                "schema": self.schema,
                "primary_key": self.primary_key,
                "source_version": self.source_version,
                "ts": self.ts,
                "deletes": self.deletes,
                "renames": self.renames,
                "props": self.props,
            }
        )

    @staticmethod
    def from_json(s: str) -> "Commit":
        d = json.loads(s)
        return Commit(**d)


class MoonTable:
    """Handle to one versioned table rooted at ``path``."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        backend: Optional[StorageBackend] = None,
        data_path: Optional[str] = None,
    ):
        self.spark = spark
        self.path = path.rstrip("/")
        self.log_path = os.path.join(self.path, _LOG_DIR)
        # the commit log goes through the fsio seam: OCC is
        # "put_if_absent of the next version's key", which maps to a
        # conditional PUT on object stores — see fsio module docstring
        self.backend = backend if backend is not None else get_backend(path)
        # two planes: METADATA (commit log, index sidecars) lives at
        # ``path`` and moves through ``self.backend``; DATA (parquet
        # files, staging, _changes/) lives at ``data_path`` and moves
        # through Spark/os.  They coincide by default — s3a:// works for
        # both (Spark reads s3a natively, the backend does conditional
        # PUTs via the S3 API).  For metadata-only schemes Spark cannot
        # read (mem://), callers pass a Spark-visible data_path.
        self.data_path = (data_path or self.path).rstrip("/")

    # ------------------------------------------------------------------ log

    def exists(self) -> bool:
        return bool(self._versions())

    def _versions(self) -> list[int]:
        return sorted(
            int(f[:-5])
            for f in self.backend.listdir(self.log_path)
            if f.endswith(".json") and f[:-5].isdigit()
        )

    def latest_version(self) -> int:
        vs = self._versions()
        if not vs:
            raise MoonTableError(f"no moontable at {self.path}")
        return vs[-1]

    # committed log entries are immutable (versioned file names, never
    # rewritten), so a process-wide cache is sound WITHIN one table
    # incarnation and turns the O(commits) log replays (snapshot
    # reconstruction, change-feed scans, heal passes) into dict lookups
    # after the first read.  Across drop→recreate at the same path the
    # version filenames repeat, so create()/drop paths MUST call
    # invalidate_caches(path) — otherwise the new incarnation replays
    # the old table's log (ADVICE r8 high / VERDICT r8 task 1).
    _COMMIT_CACHE: dict[str, Commit] = {}
    _COMMIT_CACHE_MAX = 8192

    # unexecuted snapshot scans of :meth:`read` (see there for the key).
    # Committed files are immutable, so the key IS the snapshot: a hit
    # is plan metadata only, and every action still reads the files.
    # The key holds the session object, not its applicationId:
    # newSession() shares the id but not temp views or confs.
    _SCAN_MEMO: dict[tuple, DataFrame] = {}
    _SCAN_MEMO_MAX = 256

    # the change set of the newest driver-side merge per table path:
    # (commit version, its change-file names, the Arrow change set), so
    # a view refresh folds the commit without re-reading the change
    # feed (:meth:`driver_changes`)
    _CHANGE_MEMO: dict[str, tuple] = {}
    _CHANGE_MEMO_MAX = 64

    @classmethod
    def invalidate_caches(cls, path: str) -> None:
        """Purge every process-wide cache entry under ``path``.

        Called when a table directory is (re)created or deleted so a
        recreated table at the same deterministic warehouse path never
        serves the previous incarnation's commits, bloom sidecars,
        snapshot scans or change sets (:meth:`vacuum` purges the scans
        and change sets too)."""
        prefix = os.path.normpath(path) + os.sep
        for cache in (cls._COMMIT_CACHE, cls._BLOOM_CACHE):
            for k in [k for k in cache if os.path.normpath(k).startswith(prefix)]:
                del cache[k]
        cls._purge_scans(path)

    @classmethod
    def _purge_scans(cls, path: str) -> None:
        """Drop the memoized snapshot scans and change sets of the table
        at or under ``path`` (by table path or data path)."""
        root = os.path.normpath(path) + os.sep
        for k in list(cls._SCAN_MEMO):
            if any((os.path.normpath(p) + os.sep).startswith(root) for p in k[1:3]):
                cls._SCAN_MEMO.pop(k, None)
        for k in list(cls._CHANGE_MEMO):
            if (k + os.sep).startswith(root):
                cls._CHANGE_MEMO.pop(k, None)

    def driver_changes(self, version: int) -> Optional[Any]:
        """The change set of commit ``version`` as the Arrow table the
        driver-side merge that made it classified (the table's columns,
        ``_change_type`` and ``_commit_version``), or None when this
        process holds no such set.  Served only while it is the table's
        newest memoized set, its commit version and uuid-named change
        files equal those the log records for ``version`` (so a dropped
        and recreated table is never served a stale set), and that
        commit is a merge that evolved no column."""
        hit = self._CHANGE_MEMO.get(os.path.normpath(self.path))
        if hit is None or hit[0] != version:
            return None
        c = self._read_commit(version)
        names = (c.props or {}).get("change_files")
        if (
            c.op not in ("merge", "merge-mor") or c.schema or c.renames
            or names is None or tuple(names) != hit[1]
        ):
            return None
        return hit[2]

    def _read_commit(self, v: int) -> Commit:
        key = os.path.join(self.log_path, f"{v:010d}.json")
        c = self._COMMIT_CACHE.get(key)
        if c is not None:
            return c
        raw = self.backend.read_bytes(key)
        c = Commit.from_json(raw.decode("utf-8"))
        if len(self._COMMIT_CACHE) >= self._COMMIT_CACHE_MAX:
            self._COMMIT_CACHE.clear()
        self._COMMIT_CACHE[key] = c
        return c

    def txn_tags(self) -> set:
        """Transaction-replay idempotency tags (``props['txn']``) present
        in this table's commit log — the durable record of which staged
        transaction batches already landed here.  O(commits) metadata
        reads, served from the commit cache after the first scan."""
        tags = set()
        for v in self._versions():
            props = self._read_commit(v).props
            if props and props.get("txn"):
                tags.add(props["txn"])
        return tags

    def _write_commit(self, c: Commit) -> None:
        self.backend.mkdirs(self.log_path)
        final = os.path.join(self.log_path, f"{c.version:010d}.json")
        c.ts = time.time()
        try:
            # the OCC barrier: commit N exists or it doesn't — two
            # writers racing to the same version serialize here (local:
            # hard-link EEXIST; S3: conditional PUT If-None-Match)
            self.backend.put_if_absent(final, c.to_json().encode("utf-8"))
        except CommitConflict:
            raise MoonTableError(
                f"concurrent commit conflict at version {c.version} ({self.path})"
            ) from None

    def history(self) -> list[Commit]:
        return [self._read_commit(v) for v in self._versions()]

    # -------------------------------------------------------------- snapshot

    def _snapshot(self, version: Optional[int] = None) -> tuple[list[dict], Commit]:
        files, _dels, first = self._snapshot_full(version)
        return files, first

    def _snapshot_full(
        self, version: Optional[int] = None
    ) -> tuple[list[dict], list[dict], Commit]:
        """(data files, active equality-delete files, effective commit-0)
        as of ``version``.  Every descriptor is stamped with ``v`` — the
        commit that added it — which is what sequences merge-on-read:
        a delete file tombstones a key only in data files with a
        strictly smaller ``v`` (same-commit upserts survive)."""
        vs = self._versions()
        if not vs:
            raise MoonTableError(f"no moontable at {self.path}")
        if version is None:
            version = vs[-1]
        if version not in vs:
            raise MoonTableError(f"version {version} not in log {vs[:3]}..{vs[-1]}")
        files: dict[str, dict] = {}
        dels: dict[str, dict] = {}
        first = self._read_commit(vs[0])
        eff_schema = first.schema
        eff_pk = list(first.primary_key or [])
        for v in vs:
            if v > version:
                break
            c = self._read_commit(v)
            if c.schema:
                # schema-evolving commit: the snapshot's schema is the
                # LATEST one at or below the pinned version, so time
                # travel below an evolution sees the pre-evolution shape
                eff_schema = c.schema
            for name in c.remove:
                files.pop(name, None)
                dels.pop(name, None)
            for d in c.add:
                files[d["name"]] = {**d, "v": c.version}
            for d in c.deletes:
                dels[d["name"]] = {**d, "v": c.version}
            if c.renames:
                # files present BEFORE the rename keep their data under
                # the pre-rename physical column name; descriptors carry
                # the logical→physical map so scans resolve per file era
                for old, new in c.renames.items():
                    for d in list(files.values()) + list(dels.values()):
                        pm = dict(d.get("phys") or {})
                        pm[new] = pm.pop(old, old)
                        d["phys"] = pm
                eff_pk = [c.renames.get(k, k) for k in eff_pk]
            if v != vs[0] and c.primary_key is not None:
                # late pk declaration (pg_dump post-data ADD CONSTRAINT
                # PRIMARY KEY): a metadata-only 'set_pk' commit carries
                # the new key; later renames still remap it above
                eff_pk = list(c.primary_key)
        if eff_schema != first.schema or eff_pk != list(first.primary_key or []):
            from dataclasses import replace as _dc_replace

            first = _dc_replace(
                first, schema=eff_schema, primary_key=eff_pk or None
            )
        return list(files.values()), list(dels.values()), first

    def schema(self) -> T.StructType:
        _, first = self._snapshot(None)
        return T.StructType.fromJson(json.loads(first.schema))

    def primary_key(self) -> Optional[list[str]]:
        _, first = self._snapshot(None)
        return first.primary_key

    def version_at_timestamp(self, ts) -> int:
        """Latest commit version whose commit timestamp is at or before
        ``ts`` (epoch-ms int, ISO string, or datetime; naive datetimes
        are UTC) — the mirror's analog of Delta's timestampAsOf /
        Iceberg's as-of-timestamp.  Refuses timestamps before the first
        commit."""
        import datetime as _dt

        if isinstance(ts, str):
            ts = _dt.datetime.fromisoformat(ts)
        if isinstance(ts, _dt.datetime):
            if ts.tzinfo is None:
                ts = ts.replace(tzinfo=_dt.timezone.utc)
            ts_s = ts.timestamp()
        else:
            ts_s = float(ts) / 1000.0  # epoch ms
        best = None
        earliest = None
        for v in self._versions():
            c_ts = self._read_commit(v).ts
            earliest = c_ts if earliest is None else min(earliest, c_ts)
            if c_ts <= ts_s and (best is None or v > best):
                best = v
        if best is None:
            raise MoonTableError(
                f"timestamp {ts_s} is before the table's first commit "
                f"({earliest})"
            )
        return best

    def read(
        self, version: Optional[int] = None, where: Optional[str] = None
    ) -> DataFrame:
        """Snapshot read pinned to ``version`` (None = latest).

        The engine's analog of the reference's LSN-pinned scan
        (src/duckdb_mooncake.rs:26-29): the file list is fixed at plan
        time, so concurrent commits cannot change what this query sees.

        ``where`` (a SQL predicate string) is applied exactly — and when
        it is a simple primary-key predicate, the commit-log per-file
        min/max stats prune the FILE LIST before the scan is planned
        (the same skipping index MERGE uses): on an optimize(sort_by=pk)
        table a key probe plans ≤1 file instead of the snapshot.
        Non-pk or complex predicates skip the pruning and filter only —
        never unsound, just unpruned.

        The unfiltered scan of the (pruned) file set, or the empty
        DataFrame when no file is left, is memoized in ``_SCAN_MEMO``
        under (session, table path, data path, schema, pk, the exact
        (name, v, phys) of every data and delete file); ``where`` is
        applied after the memo.  A repeated read of an unchanged
        snapshot therefore returns the SAME DataFrame object and makes
        no py4j round trip.  :meth:`invalidate_caches` (drop, recreate)
        and :meth:`vacuum` purge the entries of their path.
        """
        files, dels, first = self._snapshot_full(version)
        if where and files:
            pruned = self._pk_stat_candidates(files, where)
            if pruned is not None:
                files = pruned
                # a full-pk equality probe additionally tests the literal
                # key against each candidate's bloom sidecar — pure
                # driver-side Python (the canonical hash needs no Spark
                # job for one literal), so a point read on an unsorted
                # table plans O(1) files instead of every stat-admitted
                # candidate
                files = self._bloom_prune_literal(files, where)
        pk = list(first.primary_key or [])
        key = (
            self.spark, self.path, self.data_path, first.schema, tuple(pk),
            _file_key(files), _file_key(dels) if files else (),
        )
        df = self._SCAN_MEMO.get(key)
        if df is None:
            schema = T.StructType.fromJson(json.loads(first.schema))
            if files:
                df = self._scan(files, schema, dels, pk=pk)
            else:
                df = self.spark.createDataFrame([], schema)
            if len(self._SCAN_MEMO) >= self._SCAN_MEMO_MAX:
                self._SCAN_MEMO.clear()
            self._SCAN_MEMO[key] = df
        return df.filter(where) if where else df

    def changes(
        self, start_version: int = 1, end_version: Optional[int] = None
    ) -> DataFrame:
        """Row-level change feed for commits ``start_version..end_version``
        (inclusive; defaults: everything after create, through latest).

        Returns the table columns plus ``_change_type`` ∈ {insert,
        update_preimage, update_postimage, delete} and ``_commit_version``
        — the moontable analog of Delta CDF's ``table_changes``.

        Insert-only commits (append/backfill) cost nothing at write time:
        their change rows are derived here from the commit's own data
        files (still present after later rewrites, until vacuum).  DML
        commits read the O(batch) change files persisted at commit time
        (``create(change_feed=True)``); a DML commit on a table that
        never enabled the feed raises, as does a range crossing a
        data-changing ``overwrite`` (compaction rewrites are
        ``data_change=False`` and contribute nothing — same contract as
        Delta).  Columns follow the schema as of ``end_version``: renamed
        columns resolve through the per-era physical mapping, columns
        added by evolution read NULL for older change rows."""
        vs = self._versions()
        if not vs:
            raise MoonTableError(f"no moontable at {self.path}")
        if end_version is None:
            end_version = vs[-1]
        if end_version not in vs:
            raise MoonTableError(f"version {end_version} not in log")
        # a writer that crashed between commit and change-file finalize
        # leaves committed-but-hidden files; make them visible first
        self._heal_pending_changes()
        _files, _dels, first = self._snapshot_full(end_version)
        schema = T.StructType.fromJson(json.loads(first.schema))
        ins_pieces: list[dict] = []
        chg_pieces: list[dict] = []
        for v in vs:
            if v > end_version:
                break
            c = self._read_commit(v)
            if c.renames:
                for old, new in c.renames.items():
                    for d in ins_pieces + chg_pieces:
                        pm = dict(d.get("phys") or {})
                        pm[new] = pm.pop(old, old)
                        d["phys"] = pm
            if v < start_version or v == 0:
                continue
            if c.op == "append":
                cf = (c.props or {}).get("change_files")
                if cf is not None:  # full feed mode: insert images persisted
                    chg_pieces.extend(
                        {"name": os.path.join(_CHANGES_DIR, n), "v": v}
                        for n in cf
                    )
                else:
                    ins_pieces.extend({"name": d["name"], "v": v} for d in c.add)
            elif c.op in _DML_OPS:
                cf = (c.props or {}).get("change_files")
                if cf is None:
                    if c.add or c.remove or c.deletes:
                        raise MoonTableError(
                            f"commit {v} ({c.op}) predates change tracking; "
                            "create the table with change_feed=True"
                        )
                else:
                    chg_pieces.extend(
                        {"name": os.path.join(_CHANGES_DIR, n), "v": v}
                        for n in cf
                    )
            elif c.op == "overwrite":
                if (c.props or {}).get("data_change", True) and (
                    c.add or c.remove
                ):
                    raise MoonTableError(
                        f"change feed cannot span data-changing overwrite "
                        f"commit {v}; start after it"
                    )
        out_fields = list(schema.fields) + [
            T.StructField(CHANGE_TYPE_COL, T.StringType(), True),
            T.StructField(VERSION_COL, T.LongType(), True),
        ]
        out_cols = [f.name for f in out_fields]
        parts: list[DataFrame] = []
        if ins_pieces:
            df = self._read_files(ins_pieces, schema, add_file_col=True)
            parts.append(
                df.join(self._version_map(ins_pieces, VERSION_COL), "__file")
                .withColumn(CHANGE_TYPE_COL, F.lit("insert"))
            )
        if chg_pieces:
            cschema = T.StructType(
                list(schema.fields)
                + [T.StructField(CHANGE_TYPE_COL, T.StringType(), True)]
            )
            df = self._read_files(chg_pieces, cschema, add_file_col=True)
            parts.append(
                df.join(self._version_map(chg_pieces, VERSION_COL), "__file")
            )
        if not parts:
            return self.spark.createDataFrame([], T.StructType(out_fields))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.select(*out_cols)

    def stream_changes(self) -> DataFrame:
        """The change feed as a STREAMING DataFrame (table columns +
        ``_change_type`` + ``_commit_version``): a Structured Streaming
        file source over the ``_changes/`` directory, which in
        ``change_feed='full'`` mode is a complete CDC log (insert images
        persisted on append too).  Existing files replay as backfill;
        each new commit's change file becomes a micro-batch — chain
        mirrors by piping this into another mirror's sync loop
        (streaming.cdc.feed_as_ops + start_sync).  Exactly-once comes
        from the consumer's checkpoint, like any file source."""
        mode = self.feed_mode()
        if mode != "full":
            raise MoonTableError(
                "stream_changes requires change_feed='full' (mode is "
                f"{mode!r}): append commits must persist insert images "
                "for the _changes/ directory to be a complete log"
            )
        self._heal_pending_changes()
        # a plain file source imposes ONE schema on every file; change
        # files written before a column rename store the old physical
        # name and would stream the renamed column as all-NULL.  The
        # batch reader (:meth:`changes`) resolves renames per era —
        # refuse here rather than corrupt a chained mirror silently.
        # Scoped to SURVIVING pre-rename change files: once
        # vacuum(changes_retention_versions=...) has reclaimed them,
        # every remaining file carries the current physical names and
        # streaming is safe again.
        commits = [self._read_commit(v) for v in self._versions()]
        r_max = max((c.version for c in commits if c.renames), default=None)
        if r_max is not None:
            ch_dir = os.path.join(self.data_path, _CHANGES_DIR)
            for c in commits:
                if c.version >= r_max:
                    continue
                for n in (c.props or {}).get("change_files") or []:
                    if os.path.exists(os.path.join(ch_dir, n)):
                        raise MoonTableError(
                            "stream_changes cannot span a column rename: "
                            f"change file {n} (commit {c.version}) "
                            "predates the rename and keeps the old "
                            "physical column name, which a single-schema "
                            "file source would read as NULL; use the "
                            "batch changes() reader (per-era resolution) "
                            "or vacuum the pre-rename change files "
                            "(changes_retention_versions)"
                        )
        schema = T.StructType(
            list(self.schema().fields)
            + [
                T.StructField(CHANGE_TYPE_COL, T.StringType(), True),
                T.StructField(VERSION_COL, T.LongType(), True),
            ]
        )
        return self.spark.readStream.schema(schema).parquet(
            os.path.join(self.data_path, _CHANGES_DIR)
        )

    def _read_files(
        self,
        files: list[dict],
        schema: T.StructType,
        add_file_col: bool = False,
    ) -> DataFrame:
        """Parquet scan of ``files`` resolved to the LOGICAL ``schema``.

        Files that predate a column rename store their data under the
        old physical name (descriptor ``phys``: logical → physical, set
        by :meth:`_snapshot_full`); files group by rename era and each
        group scans with its own physical schema — the moontable analog
        of Iceberg's resolve-by-field-id.  The current era's read schema
        already carries the logical names, so its scan is returned as
        it is; an older era is renamed positionally with one ``toDF``.
        ``add_file_col`` appends the file's base name as ``__file``.
        Rename eras are few (renames are rare DDL), so this is a handful
        of unioned scans at worst, one in the common case.  Every call
        builds a new plan; :meth:`read` memoizes its result per file set.
        The file list crosses py4j as one string (:func:`_jpaths`), so
        the build costs the same round trips for 1 file or 1000.
        """
        groups: dict[tuple, list[dict]] = {}
        for d in files:
            key = tuple(sorted((d.get("phys") or {}).items()))
            groups.setdefault(key, []).append(d)
        names = [f.name for f in schema.fields]
        parts = []
        for key, fs in groups.items():
            phys = dict(key)
            read_schema = T.StructType(
                [
                    T.StructField(phys.get(f.name, f.name), f.dataType, True)
                    for f in schema.fields
                ]
            )
            reader = self.spark.read.schema(read_schema)
            gdf = reader._df(reader._jreader.parquet(_jpaths(
                self.spark, [os.path.join(self.data_path, d["name"]) for d in fs]
            )))
            if phys:
                gdf = gdf.toDF(*names)
            if add_file_col:
                gdf = gdf.withColumn(
                    "__file", F.element_at(F.split(F.input_file_name(), "/"), -1)
                )
            parts.append(gdf)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _version_map(self, files: list[dict], col: str) -> DataFrame:
        """Broadcast (``__file`` → commit version ``col``) map of
        ``files``, to join onto a :meth:`_read_files` scan made with
        ``add_file_col``.  Built from Arrow: a ``LocalRelation``, which
        runs no Python worker when a read executes (a list-built frame
        is a Python RDD)."""
        import pyarrow as pa

        return F.broadcast(
            self.spark.createDataFrame(
                pa.table(
                    {
                        "__file": pa.array(
                            [os.path.basename(d["name"]) for d in files], pa.string()
                        ),
                        col: pa.array([int(d.get("v") or 0) for d in files], pa.int64()),
                    }
                ),
                schema=f"__file string, {col} long",
            )
        )

    def _scan(
        self,
        files: list[dict],
        schema: T.StructType,
        dels: list[dict],
        pk: Optional[list[str]] = None,
    ) -> DataFrame:
        """Scan ``files`` with merge-on-read equality deletes folded in.

        One parquet scan of the data files and one of the delete files
        (each per rename era); when tombstones are active, each scan
        joins a tiny broadcast (file → commit version) map, and the data
        rows left-join the tombstone keys reduced to (pk, max delete
        version): a row survives iff its file's version ≥ every
        tombstoning delete's version (Iceberg sequence-number rule).
        Tombstone volume is O(deleted keys since last optimize) — the
        join stays small and AQE broadcasts it; no tombstones → the
        plain scan, zero extra operators.  Not memoized here: the merge
        path persists and unpersists its own scan of the touched files;
        :meth:`read` memoizes the snapshot scan."""
        if not dels:
            return self._read_files(files, schema)
        df = self._read_files(files, schema, add_file_col=True)
        # pk must match the SCHEMA's era: a time-travel read below a pk
        # rename passes the as-of pk (the latest one would resolve to
        # zero schema fields and break the tombstone join)
        pk = pk if pk is not None else (self.primary_key() or [])
        pk_schema = T.StructType(
            [f for f in schema.fields if f.name in set(pk)]
        )
        tomb = (
            self._read_files(dels, pk_schema, add_file_col=True)
            .join(self._version_map(dels, "__dv"), "__file")
            .groupBy(*pk)
            .agg(F.max("__dv").alias("__dv"))
        )
        return _select_names(
            df.join(self._version_map(files, "__fv"), "__file")
            .join(tomb, on=list(pk), how="left")
            .filter(F.col("__dv").isNull() | (F.col("__fv") >= F.col("__dv"))),
            [f.name for f in schema.fields],
        )

    # ---------------------------------------------------------------- writes

    def _stage_files(
        self,
        df: DataFrame,
        pk: Optional[list[str]],
        extra_stats_cols: Optional[list[str]] = None,
    ) -> list[dict]:
        """Write df as parquet files into the table dir; return descriptors
        with row counts and min/max stats (the file-skipping index) over
        the primary key plus ``extra_stats_cols`` — clustering columns of
        an ``optimize(sort_by=/zorder_by=)`` pass, so a range predicate
        on the clustered column prunes the FILE LIST planner-side (the
        reference contract: file statistics & skipping,
        reference CHANGELOG.md:26).

        Row counts and stats come from each staged file's parquet footer
        on the driver (min/max merged across row groups), for the column
        types whose footer statistics equal Spark's ``min``/``max``
        (:data:`_FOOTER_STAT_TYPES`).  One Spark pass over the staged
        files covers only the stat columns a footer cannot describe
        (float/double, timestamps, absent statistics), so a pk-only
        stage — every CDC/DML commit — runs no stats job.  Zero-row
        files are dropped, never committed.

        For bloom-indexable key types a per-file bloom filter over the pk
        is also built on the driver from the staged files' pk columns and
        persisted as an immutable ``_index/`` sidecar — MERGE's candidate
        pruning tests batch keys against it driver-side instead of
        scanning the file (functions/bloom.py).  A driver-side merge
        writes its one data file with pyarrow instead
        (:meth:`_write_data_arrow`) and describes it with the same
        :func:`_footer_stats` and :meth:`_describe`."""
        import pyarrow.parquet as pq

        from pg_mooncake_spark.functions import bloom as B

        staging = os.path.join(self.data_path, f"_staging_{uuid.uuid4().hex}")
        df.write.mode("overwrite").parquet(staging)
        stat_cols = list(pk or [])
        for c in extra_stats_cols or []:
            if c not in stat_cols and c in df.columns:
                stat_cols.append(c)
        types = {f.name: f.dataType for f in df.schema.fields}
        footers: dict[str, Any] = {}
        for f in sorted(os.listdir(staging)):
            if f.endswith(".parquet"):
                md = pq.read_metadata(os.path.join(staging, f))
                if md.num_rows:
                    footers[f] = md
        stats = {
            f: _footer_stats(md, stat_cols, types) for f, md in footers.items()
        }
        rest = [c for c in stat_cols if any(c not in st for st in stats.values())]
        if rest:
            stat_df = (
                self.spark.read.schema(df.schema)
                .parquet(staging)
                .withColumn("__file", F.element_at(F.split(F.input_file_name(), "/"), -1))
                .groupBy("__file")
                .agg(
                    *[F.min(k).alias(f"min_{k}") for k in rest],
                    *[F.max(k).alias(f"max_{k}") for k in rest],
                )
            )
            for r in stat_df.collect():
                stats[r["__file"]].update(
                    {k: (r[f"min_{k}"], r[f"max_{k}"]) for k in rest}
                )
        bloomable = bool(pk) and B.supported_pk_types(df.schema, pk)
        descriptors: list[dict] = []
        for fname, md in footers.items():
            new_name = f"part-{uuid.uuid4().hex}.parquet"
            pk_tab = None
            if bloomable:
                with pq.ParquetFile(os.path.join(staging, fname)) as pf:
                    pk_tab = pf.read(columns=list(pk))
            os.rename(os.path.join(staging, fname), os.path.join(self.data_path, new_name))
            descriptors.append(
                self._describe(new_name, md.num_rows, stats[fname], stat_cols, pk, pk_tab)
            )
        # clean staging remnants (zero-row files included)
        for f in os.listdir(staging):
            os.remove(os.path.join(staging, f))
        os.rmdir(staging)
        return descriptors

    def _describe(
        self,
        name: str,
        rows: int,
        stats: dict,
        stat_cols: list[str],
        pk: Optional[list[str]],
        pk_tab: Any = None,
    ) -> dict:
        """Commit descriptor of one placed data file: row count, min/max
        ``stats`` of ``stat_cols`` and, when ``pk_tab`` (the file's pk
        columns as Arrow) is given and no key is NULL, a bloom sidecar
        built from it.  Shared by the Spark-written and the
        driver-written files of a commit."""
        from pg_mooncake_spark.functions import bloom as B

        desc = {
            "name": name,
            "rows": rows,
            "stats": {
                k: [_plain(stats[k][0], "lo"), _plain(stats[k][1], "hi")]
                for k in stat_cols
            },
        }
        h = B.arrow_key_hashes(pk_tab, pk) if pk_tab is not None else None
        if h is not None:
            m = B.bloom_m_for(rows)
            side = f"bloom-{name}.bin"
            self.backend.mkdirs(os.path.join(self.path, _INDEX_DIR))
            self.backend.write_atomic(
                os.path.join(self.path, _INDEX_DIR, side),
                B.serialize(B.build_bitmap(h, m), m),
            )
            desc["bloom"] = side
        return desc

    def _put_arrow(self, tab: Any, dest: str) -> Any:
        """Write the Arrow table ``tab`` as ONE parquet file at ``dest``
        (written in a ``_staging_`` dir, which :meth:`vacuum` leaves
        alone during its grace window, then renamed); returns its
        footer."""
        import pyarrow.parquet as pq

        staging = os.path.join(self.data_path, f"_staging_{uuid.uuid4().hex}")
        os.makedirs(staging)
        src = os.path.join(staging, "part.parquet")
        pq.write_table(tab, src, store_schema=False)
        md = pq.read_metadata(src)
        os.rename(src, dest)
        os.rmdir(staging)
        return md

    def _write_data_arrow(
        self, tab: Any, pk: list[str], schema: T.StructType
    ) -> list[dict]:
        """Driver-side twin of :meth:`_stage_files` for an O(batch) Arrow
        table: one data file (none for zero rows), described with the
        same footer stats and bloom sidecar.  Pk columns whose footer
        carries no usable min/max (a long string pyarrow leaves
        unstatted) take them from the Arrow table; the driver path only
        admits pk types whose Arrow order is Spark's."""
        import pyarrow.compute as pc

        from pg_mooncake_spark.functions import bloom as B

        if not tab.num_rows:
            return []
        name = f"part-{uuid.uuid4().hex}.parquet"
        md = self._put_arrow(tab, os.path.join(self.data_path, name))
        types = {f.name: f.dataType for f in schema.fields}
        stats = _footer_stats(md, pk, types)
        for k in pk:
            if k not in stats:
                mm = pc.min_max(tab.column(k)).as_py()
                stats[k] = (mm["min"], mm["max"])
        pk_tab = tab.select(pk) if B.supported_pk_types(schema, pk) else None
        return [self._describe(name, tab.num_rows, stats, pk, pk, pk_tab)]

    def _stage_delete_files(
        self, keys_df: DataFrame, pk: list[str]
    ) -> list[dict]:
        """Write a (small) equality-delete tombstone file of pk keys;
        one file per batch — a CDC batch's key set is O(batch), so a
        single coalesced writer task suffices and the commit stays
        O(batch) bytes regardless of table size."""
        import pyarrow.parquet as _pq

        staging = os.path.join(self.data_path, f"_staging_{uuid.uuid4().hex}")
        keys_df.select(*pk).coalesce(1).write.mode("overwrite").parquet(staging)
        descriptors: list[dict] = []
        for fname in os.listdir(staging):
            if not fname.endswith(".parquet"):
                continue
            new_name = f"del-{uuid.uuid4().hex}.parquet"
            full = os.path.join(self.data_path, new_name)
            os.rename(os.path.join(staging, fname), full)
            descriptors.append(
                {"name": new_name, "rows": _pq.ParquetFile(full).metadata.num_rows}
            )
        for f in os.listdir(staging):
            os.remove(os.path.join(staging, f))
        os.rmdir(staging)
        return descriptors

    def _stage_change_files(
        self, change_df: DataFrame, commit_version: Optional[int] = None
    ) -> list[str]:
        """Persist one commit's change rows (table columns +
        CHANGE_TYPE_COL) as parquet under ``_changes/``; returns file
        names relative to the changes dir.  A CDC batch's change set is
        O(batch), so a single coalesced writer task keeps the file count
        at 1.  A driver-side merge classifies its change set on Arrow
        and writes the same file (same columns, pending name) with
        pyarrow (:meth:`_merge_on_driver`).

        The commit version is embedded as a physical column so a
        STREAMING consumer of the ``_changes/`` directory
        (:meth:`stream_changes`) sees it; the batch reader ignores it
        (explicit read schema) and derives the version from the log."""
        if commit_version is not None:
            change_df = change_df.withColumn(
                VERSION_COL, F.lit(int(commit_version)).cast("long")
            )
        staging = os.path.join(self.data_path, f"_staging_{uuid.uuid4().hex}")
        change_df.coalesce(1).write.mode("overwrite").parquet(staging)
        ch_dir = os.path.join(self.data_path, _CHANGES_DIR)
        os.makedirs(ch_dir, exist_ok=True)
        names: list[str] = []
        for fname in os.listdir(staging):
            if not fname.endswith(".parquet"):
                continue
            new_name = f"chg-{uuid.uuid4().hex}.parquet"
            # staged DOT-PREFIXED (Spark file sources and the parquet
            # reader ignore hidden files): the change rows become visible
            # only after the OCC commit referencing them lands — an OCC
            # race loser or crashed writer can never feed phantom rows to
            # a streaming consumer of _changes/.  The commit caller
            # finalizes (rename to the visible name) on success and
            # deletes the pending file on conflict.
            os.rename(
                os.path.join(staging, fname),
                os.path.join(ch_dir, "." + _PENDING_PREFIX + new_name),
            )
            names.append(new_name)
        for f in os.listdir(staging):
            os.remove(os.path.join(staging, f))
        os.rmdir(staging)
        return names

    def _finalize_change_files(self, names: list[str]) -> None:
        """Make committed change files visible (pending → final name).
        Idempotent: already-finalized names are left alone, so crash
        recovery (:meth:`_heal_pending_changes`) can re-run it."""
        ch_dir = os.path.join(self.data_path, _CHANGES_DIR)
        for n in names:
            pend = os.path.join(ch_dir, "." + _PENDING_PREFIX + n)
            final = os.path.join(ch_dir, n)
            if os.path.exists(pend) and not os.path.exists(final):
                try:
                    os.rename(pend, final)
                except (FileNotFoundError, OSError):
                    # a concurrent finalizer (writer vs healing reader)
                    # won the rename — either outcome is success
                    pass

    def _discard_change_files(self, names: list[str]) -> None:
        """Drop pending change files of a commit that failed (OCC
        conflict): they were never referenced, so nothing downstream can
        have seen them."""
        ch_dir = os.path.join(self.data_path, _CHANGES_DIR)
        for n in names:
            try:
                os.remove(os.path.join(ch_dir, "." + _PENDING_PREFIX + n))
            except FileNotFoundError:
                pass

    def _commit_with_changes(self, c: Commit) -> None:
        """Write the commit; finalize its change files on success,
        discard them on an OCC conflict — change rows in ``_changes/``
        are visible iff the commit that produced them is in the log."""
        names = (c.props or {}).get("change_files") or []
        try:
            self._write_commit(c)
        except MoonTableError:
            self._discard_change_files(names)
            raise
        self._finalize_change_files(names)

    def _heal_pending_changes(self) -> None:
        """Finalize change files whose commit landed but whose writer
        crashed before the rename (commit-then-finalize window).  Cheap:
        one existence probe per referenced change file."""
        ch_dir = os.path.join(self.data_path, _CHANGES_DIR)
        if not os.path.isdir(ch_dir):
            return
        pending = {
            f[len(_PENDING_PREFIX) + 1:]
            for f in os.listdir(ch_dir)
            if f.startswith("." + _PENDING_PREFIX)
        }
        if not pending:
            return
        for v in self._versions():
            cf = (self._read_commit(v).props or {}).get("change_files") or []
            hits = [n for n in cf if n in pending]
            if hits:
                self._finalize_change_files(hits)

    def create(
        self,
        schema: T.StructType,
        primary_key: Optional[list[str]] = None,
        change_feed=False,
    ) -> None:
        """Commit 0: schema + pk registration (reference copies the source
        schema verbatim at mirror creation, src/functions.rs:204-228).

        ``change_feed=True`` opts into row-level change tracking: every
        DML commit also persists its change batch (with pre/post images)
        under ``_changes/``, readable via :meth:`changes` — the
        moontable analog of Delta's Change Data Feed.  Appends cost
        nothing extra (inserts are derived from the commit's own data
        files); MERGE/DELETE/UPDATE pay one extra O(batch) change-file
        write.

        ``change_feed='full'`` additionally persists INSERT images for
        append commits, making ``_changes/`` a self-contained,
        file-source-streamable CDC log (:meth:`stream_changes`) — the
        cost is one extra copy of every appended batch."""
        if self.exists():
            raise MoonTableError(f"moontable already exists at {self.path}")
        # a recreate at the same warehouse path must not replay the
        # previous incarnation's cached commits/sidecars
        self.invalidate_caches(self.path)
        os.makedirs(self.data_path, exist_ok=True)
        self._write_commit(
            Commit(
                version=0,
                op="create",
                schema=json.dumps(schema.jsonValue()),
                primary_key=primary_key,
                props=(
                    {
                        "change_feed": True,
                        "feed_mode": "full" if change_feed == "full" else "dml",
                    }
                    if change_feed
                    else None
                ),
            )
        )

    def change_feed_enabled(self) -> bool:
        return self.feed_mode() is not None

    def feed_mode(self) -> Optional[str]:
        """None (feed off) / 'dml' (DML commits tracked, appends derived)
        / 'full' (appends persist insert images too — streamable)."""
        vs = self._versions()
        if not vs:
            return None
        props = self._read_commit(vs[0]).props or {}
        if not props.get("change_feed"):
            return None
        return props.get("feed_mode") or "dml"

    def append(
        self,
        df: DataFrame,
        source_version: Optional[int] = None,
        commit_props: Optional[dict] = None,
    ) -> int:
        """Blind append (INSERT path / bulk load).  ``commit_props``
        folds extra keys into the commit's props — used by transaction
        replay to stamp an idempotency tag (``txn``) INSIDE the atomic
        commit, so crash recovery can tell applied batches from lost
        ones by reading the log."""
        df = self._conform(df)
        v = self.latest_version() + 1
        add = self._stage_files(df, self.primary_key())
        props = dict(commit_props) if commit_props else None
        if self.feed_mode() == "full":
            # self-contained streamable feed: the appended rows are
            # duplicated into _changes/ as insert images
            props = {
                **(props or {}),
                "change_files": self._stage_change_files(
                    df.withColumn(CHANGE_TYPE_COL, F.lit("insert")), v
                ),
            }
        self._commit_with_changes(
            Commit(
                version=v,
                op="append",
                add=add,
                source_version=source_version,
                props=props,
            )
        )
        return v

    def overwrite(
        self,
        df: DataFrame,
        source_version: Optional[int] = None,
        data_change: bool = True,
        stats_cols: Optional[list[str]] = None,
    ) -> int:
        """``data_change=False`` marks the commit as a data-PRESERVING
        rewrite (compaction/clustering): same logical rows, new physical
        layout — the change feed skips it, exactly like Delta's
        ``dataChange=false`` AddFiles.  ``stats_cols`` adds per-file
        min/max stats beyond the pk (clustering columns)."""
        df = self._conform(df)
        files, dels, _ = self._snapshot_full(None)
        v = self.latest_version() + 1
        add = self._stage_files(
            df, self.primary_key(), extra_stats_cols=stats_cols
        )
        self._write_commit(
            Commit(
                version=v,
                op="overwrite",
                add=add,
                # replacing the data retires active tombstones with it
                remove=[d["name"] for d in files] + [d["name"] for d in dels],
                source_version=source_version,
                props={"data_change": False} if not data_change else None,
            )
        )
        return v

    def merge(
        self,
        changes: DataFrame,
        source_version: Optional[int] = None,
        on_schema_drift: str = "fail",
        strategy: str = "auto",
        mor_threshold: float = 0.3,
        commit_props: Optional[dict] = None,
    ) -> int:
        """Apply a CDC change batch: ``changes`` carries the table columns
        plus ``__op`` ∈ {I, U, D} (insert / update-upsert / delete).

        ``commit_props`` folds extra keys into the commit's props (see
        :meth:`append` — transaction-replay idempotency tags).

        ``on_schema_drift``: 'fail' (default) refuses a batch whose
        columns drifted from the mirror schema, and casts a column whose
        type differs to the mirror's type with Spark's cast
        (:func:`_assign_types`; a value the cast cannot convert raises
        before anything is written); 'evolve' widens the
        mirror instead — extra batch columns become new NULLABLE mirror
        columns (recorded in a schema-evolving commit; pre-evolution
        files read the new column as NULL; time travel below the
        evolution sees the old shape), and columns missing from the
        batch (upstream DROP) stay in the mirror with NULL in the new
        row images.  Primary-key columns can never be missing.

        'evolve' also handles TYPE drift on common columns (upstream
        ALTER COLUMN TYPE): when the batch carries a safe widening
        (byte/short/int→wider integer, float→double) the mirror schema
        widens in the same commit — pre-evolution parquet files read
        through Spark's widening conversions (int32 scanned as long
        etc.), no rewrite; a batch NARROWER than the mirror casts up;
        anything lossy (string→int, long→int) still fails loudly.

        Copy-on-write MERGE:
        1. prune — per-file pk min/max stats narrow candidates driver-side,
           then an exact key-membership probe (:meth:`_probe_by_keys`)
           keeps only files actually containing a changed key (at 100 TB
           this is the difference between rewriting gigabytes and
           rewriting everything, even for scattered-key batches);
        2. rewrite — anti-join the touched files against U/D keys
           (dropping old images), then append U-images and I-rows;
        3. commit — one atomic log entry removing touched files and adding
           rewritten ones.

        Two ways to run it, one result.  The batch is pinned ONCE
        (:func:`pin_batch`: one job, ``limit(B + 1).toArrow()`` over a
        local checkpoint, B = ``_DRIVER_MAX_ROWS``).  When it has at
        most B rows and no repeated key, its pk types compare in Arrow
        as in Spark (:func:`_driver_pk_types`) and the stat- and
        bloom-pruned candidate files, with the tombstones that can
        remove their rows, hold at most B rows, the whole merge runs on
        the driver with pyarrow (:meth:`_merge_on_driver`) — the pin is
        its only Spark job.  Otherwise the Spark plan above runs, over
        the Arrow-backed batch or the checkpoint the pin left.

        Semantics match logical-replication apply in the reference's
        moonlink sync (reference tests/pg_regress/sql/sanity.sql:3-5
        I/U/D flow): I and U both upsert (replace if the key exists,
        insert if absent — so replayed/duplicate inserts are idempotent),
        D is a no-op for absent keys.  A batch must carry at most one
        change per key (CDC microbatches are key-compacted upstream).
        Nothing enforces it: a batch that repeats a key evicts every
        stored image of the key and stores each of its I/U rows, and it
        runs the Spark plan, since the driver path's change
        classification assumes one change per key.

        ``strategy``: 'cow' always rewrites touched files; 'mor' commits
        merge-on-read instead — upserts append, changed keys land in an
        equality-delete tombstone file, NOTHING is rewritten (O(batch)
        bytes committed, the reference's merge-on-read mirror semantics,
        reference README.md:13-14); 'auto' (default) picks MOR when the
        touched-file fraction exceeds ``mor_threshold`` — the regime
        where copy-on-write approaches a full-table rewrite even with
        exact probing (one changed key in most files) — or, on a table
        of fewer than 4 files, when the touched files hold more than
        ``1 / mor_threshold`` rows per changed key (:func:`_use_mor`).
        Tombstones fold away on the next :meth:`optimize`.
        """
        pk = self.primary_key()
        if not pk:
            raise MoonTableError("merge requires a primary key")
        if OP_COL not in changes.columns:
            raise MoonTableError(f"changes must carry {OP_COL} in {{I,U,D}}")
        # fold batch column case to the table spelling BEFORE drift
        # detection: a different-cased batch is not drift, and under
        # 'evolve' it would otherwise dup the column and bypass
        # constraint metadata (stored lowercased) — ADVICE r12
        changes = self._align_case(changes)
        # source schema drift fails LOUDLY by default (SURVEY §7.3): an
        # extra column silently dropped, or a missing one silently
        # nulled, would let a drifted upstream diverge the mirror without
        # anyone noticing.  on_schema_drift='evolve' opts into widening.
        work_schema = self.schema()
        expected = {f.name for f in work_schema.fields}
        got = [c for c in changes.columns if c != OP_COL]
        extra, missing = sorted(set(got) - expected), sorted(expected - set(got))
        evolved = False
        if extra or missing:
            if on_schema_drift != "evolve":
                raise MoonTableError(
                    f"CDC batch schema drifted from the mirror schema: extra "
                    f"columns {extra}, missing columns {missing}; recreate "
                    "the mirror (or load via load_files) to change its "
                    "schema, or pass on_schema_drift='evolve'"
                )
            missing_pk = [k for k in pk if k in missing]
            if missing_pk:
                raise MoonTableError(
                    f"CDC batch lacks primary-key columns {missing_pk}; "
                    "cannot evolve past the key"
                )
            if extra:
                batch_types = {
                    f.name: f.dataType for f in changes.schema.fields
                }
                work_schema = T.StructType(
                    list(work_schema.fields)
                    + [
                        T.StructField(c, batch_types[c], True)
                        for c in got
                        if c in set(extra)
                    ]
                )
                evolved = True
            for mcol in missing:  # upstream DROP: new images carry NULL
                mtype = next(
                    f.dataType
                    for f in work_schema.fields
                    if f.name == mcol
                )
                changes = changes.withColumn(mcol, F.lit(None).cast(mtype))
        if on_schema_drift == "evolve":
            # type drift on common columns (upstream ALTER COLUMN TYPE)
            batch_types = {f.name: f.dataType for f in changes.schema.fields}
            new_fields = []
            for f_ in work_schema.fields:
                bt = batch_types.get(f_.name)
                if bt is None or bt == f_.dataType:
                    new_fields.append(f_)
                elif _widens(f_.dataType, bt):
                    # batch is wider: widen the mirror (schema-evolving
                    # commit; old files read via widening conversions)
                    new_fields.append(T.StructField(f_.name, bt, f_.nullable))
                    evolved = True
                elif _widens(bt, f_.dataType):
                    # batch is narrower: cast the images up, no evolution
                    changes = changes.withColumn(
                        f_.name, F.col(f_.name).cast(f_.dataType)
                    )
                    new_fields.append(f_)
                else:
                    raise MoonTableError(
                        f"CDC batch column {f_.name!r} drifted to "
                        f"{bt.simpleString()} which is not a safe widening "
                        f"of the mirror's {f_.dataType.simpleString()}; "
                        "recreate the mirror to change its schema"
                    )
            work_schema = T.StructType(new_fields)
        else:
            changes = _assign_types(changes, work_schema)
        owned = not is_pinned(changes)
        changes = pin_batch(changes)
        pinned = changes
        batch = _PINNED.get(changes)
        if batch is not None and _driver_pk_types(work_schema, pk):
            batch = _arrow_conform(batch, work_schema, extra=[OP_COL])
            if batch is not None and not _repeats_keys(batch, pk):
                files, dels, _ = self._snapshot_full(None)
                v = self._merge_on_driver(
                    batch, pk, work_schema, evolved, files, dels, strategy,
                    mor_threshold, source_version, commit_props,
                )
                if v is not None:
                    return v
        changes = changes.cache()
        scan_cached = None
        try:
            # every changed key evicts its old image — including I keys,
            # otherwise an insert for an existing key leaves two rows
            # (found by tests/test_moontable_properties.py)
            ud_keys = changes.select(*pk).distinct()
            key_bounds = ud_keys.agg(
                *[F.min(k).alias(f"min_{k}") for k in pk],
                *[F.max(k).alias(f"max_{k}") for k in pk],
                F.count(F.lit(1)).alias("__nkeys"),
            ).collect()[0]

            files, dels, _ = self._snapshot_full(None)
            # two-stage candidate resolution: (1) per-file pk min/max
            # stats vs the batch envelope — driver-side, no job; then
            # (2) an exact key-membership probe, because the envelope
            # alone admits every file overlapping the batch's GLOBAL
            # [min,max] — a scattered-key CDC batch (uniform random
            # updates, the common busy-OLTP shape) would degrade the
            # merge to a full-table rewrite (VERDICT r7 task 1).
            candidates = [d for d in files if _intersects(d, pk, key_bounds)]
            candidates = self._bloom_prune(
                candidates, ud_keys, pk, int(key_bounds["__nkeys"])
            )
            touched = self._probe_by_keys(candidates, ud_keys, pk)

            cols = [f.name for f in work_schema.fields]
            upserts = changes.filter(F.col(OP_COL).isin("I", "U")).select(*cols)

            use_mor = _use_mor(
                strategy, mor_threshold, files, touched,
                int(key_bounds["__nkeys"]),
            )
            v = self.latest_version() + 1
            props = dict(commit_props) if commit_props else None
            # with the change feed on, a CoW merge has TWO consumers of
            # the touched-file content (pre-image derivation + the
            # rewrite) — cache the scan so the dominant I/O of the CDC
            # apply path happens once, not twice.  Bounded: touched is
            # the exact-probed file set, O(files containing batch keys).
            if self.change_feed_enabled():
                if touched and not use_mor:
                    scan_cached = self._scan(
                        touched, work_schema, dels
                    ).persist()
                props = {
                    **(props or {}),
                    "change_files": self._merge_change_files(
                        touched, dels, work_schema, changes, upserts, pk, v,
                        scan_df=scan_cached,
                    ),
                }
            if use_mor:
                # merge-on-read: append upserts, tombstone every changed
                # key; the tombstone (commit v) applies only to files
                # with version < v, so the upserts just appended survive
                add = self._stage_files(upserts, pk)
                deletes = self._stage_delete_files(ud_keys, pk)
                remove: list[dict] = []
            else:
                if touched:
                    # scanning OLD files with the (possibly evolved)
                    # schema null-fills columns the files predate; _scan
                    # folds any live tombstones so a rewrite (new file
                    # version) cannot resurrect previously MOR-deleted
                    # rows
                    current = (
                        scan_cached
                        if scan_cached is not None
                        else self._scan(touched, work_schema, dels)
                    )
                    survivors = current.join(ud_keys, on=pk, how="left_anti")
                    new_data = survivors.unionByName(upserts)
                else:
                    new_data = upserts
                add, deletes, remove = self._stage_files(new_data, pk), [], touched
            return self._commit_merge(
                v, use_mor, add, deletes, remove,
                work_schema if evolved else None, source_version, props,
            )
        finally:
            if scan_cached is not None:
                scan_cached.unpersist()
            changes.unpersist()
            if owned:
                release_batch(pinned)

    def _commit_merge(
        self,
        v: int,
        use_mor: bool,
        add: list[dict],
        deletes: list[dict],
        remove: list[dict],
        evolved_schema: Optional[T.StructType],
        source_version: Optional[int],
        props: Optional[dict],
    ) -> int:
        """The one log entry of a merge (either path): ``merge-mor`` adds
        upserts and tombstones, ``merge`` replaces the touched files."""
        self._commit_with_changes(
            Commit(
                version=v,
                op="merge-mor" if use_mor else "merge",
                add=add,
                remove=[d["name"] for d in remove],
                deletes=deletes,
                schema=(
                    json.dumps(evolved_schema.jsonValue())
                    if evolved_schema is not None
                    else None
                ),
                source_version=source_version,
                props=props,
            )
        )
        return v

    def _merge_on_driver(
        self,
        batch: Any,
        pk: list[str],
        schema: T.StructType,
        evolved: bool,
        files: list[dict],
        dels: list[dict],
        strategy: str,
        mor_threshold: float,
        source_version: Optional[int],
        commit_props: Optional[dict],
    ) -> Optional[int]:
        """:meth:`merge` for a pinned batch whose candidate files are
        driver-sized, with pyarrow and no Spark job; None (nothing
        written) when the stat- and bloom-pruned candidates and the
        delete files newer than the oldest of them hold more than
        ``_DRIVER_MAX_ROWS`` rows together, or a descriptor has no count.

        ``batch`` is the pinned batch as Arrow in the table's Arrow
        schema plus ``__op``, with no repeated non-NULL key.  The
        touched files and their rows come from :meth:`_driver_probe`; a
        touched row is live when its file's version is ≥ the highest
        tombstone version of its key (the :meth:`_scan` rule).  Live
        rows with a batch key are the pre-images, the other live rows
        of a touched file the CoW survivors.  The change feed is
        classified as in :meth:`_merge_change_files`; each of the
        upsert (or CoW), the tombstone and the change file is written
        once by :meth:`_put_arrow`, never with zero rows.  Once the
        commit lands, its change set is memoized for
        :meth:`driver_changes`."""
        import numpy as np
        import pyarrow as pa

        keys = batch.select(pk)
        cols = [f.name for f in schema.fields]
        tschema = batch.select(cols).schema
        probe = self._driver_probe(keys, pk, tschema, files, dels)
        if probe is None:
            return None
        touched, rows, fv = probe
        use_mor = _use_mor(strategy, mor_threshold, files, touched, batch.num_rows)
        feed = self.change_feed_enabled()
        try:
            alive = (
                self._tombstone_alive(rows, fv, dels, pk, tschema)
                if touched and (feed or not use_mor)
                else np.ones(rows.num_rows, dtype=bool)
            )
        except pa.ArrowException:
            return None  # a stored type pyarrow cannot convert: Spark path
        ops = np.asarray(batch.column(OP_COL).to_pylist(), dtype=object)
        is_up = (ops == "I") | (ops == "U")
        ri, bi = _match(rows, keys, pk)
        pre, pre_b = ri[alive[ri]], bi[alive[ri]]

        v = self.latest_version() + 1
        props = dict(commit_props) if commit_props else None
        if feed:
            existing = np.zeros(batch.num_rows, dtype=bool)
            existing[pre_b[is_up[pre_b]]] = True
            post = batch.filter(pa.array(is_up & existing)).select(cols)
            pieces = [
                (rows.take(pre[ops[pre_b] == "D"]), "delete"),
                (rows.take(pre[is_up[pre_b]]), "update_preimage"),
                (post, "update_postimage"),
                (batch.filter(pa.array(is_up & ~existing)).select(cols), "insert"),
            ]
            chg = pa.concat_tables(
                [
                    t.append_column(
                        CHANGE_TYPE_COL, pa.array([ct] * t.num_rows, pa.string())
                    )
                    for t, ct in pieces
                ]
            )
            chg = chg.append_column(
                VERSION_COL, pa.array(np.full(chg.num_rows, v), pa.int64())
            )
            names: list[str] = []
            if chg.num_rows:
                name = f"chg-{uuid.uuid4().hex}.parquet"
                ch_dir = os.path.join(self.data_path, _CHANGES_DIR)
                os.makedirs(ch_dir, exist_ok=True)
                # pending until the commit lands (_stage_change_files)
                self._put_arrow(chg, os.path.join(ch_dir, "." + _PENDING_PREFIX + name))
                names.append(name)
            props = {**(props or {}), "change_files": names}

        upserts = batch.filter(pa.array(is_up)).select(cols)
        if use_mor:
            add = self._write_data_arrow(upserts, pk, schema)
            tomb = keys.group_by(pk).aggregate([])
            name = f"del-{uuid.uuid4().hex}.parquet"
            md = self._put_arrow(tomb, os.path.join(self.data_path, name))
            deletes, remove = [{"name": name, "rows": md.num_rows}], []
        else:
            in_batch = np.zeros(rows.num_rows, dtype=bool)
            in_batch[ri] = True
            survivors = rows.filter(pa.array(alive & ~in_batch))
            add = self._write_data_arrow(
                pa.concat_tables([survivors, upserts]), pk, schema
            )
            deletes, remove = [], touched
        self._commit_merge(
            v, use_mor, add, deletes, remove,
            schema if evolved else None, source_version, props,
        )
        if feed:
            memo = self._CHANGE_MEMO
            if len(memo) >= self._CHANGE_MEMO_MAX:
                memo.clear()
            # one chunk per column: createDataFrame of a table whose
            # columns are chunked differently can drop rows
            memo[os.path.normpath(self.path)] = (v, tuple(names), chg.combine_chunks())
        return v

    def _driver_probe(
        self, keys: Any, pk: list[str], tschema: Any,
        files: list[dict], dels: list[dict],
    ) -> Optional[tuple]:
        """(touched files, their rows as the Arrow ``tschema``, the
        commit version of each row's file) for the Arrow key table
        ``keys``: the stat- and bloom-pruned candidate files are read
        whole (:func:`_read_arrow`: rename eras, NULL-filled columns a
        file predates, widened types) and a file holding one of the
        keys is touched, tombstones or not, as in
        :meth:`_probe_by_keys`.  None when the candidates and the
        delete files newer than the oldest of them hold more than
        ``_DRIVER_MAX_ROWS`` rows together, a descriptor has no count,
        or pyarrow cannot convert a stored type."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        from pg_mooncake_spark.functions import bloom as B

        live_keys = keys.filter(_keyed_mask(keys, pk))
        bounds = {}
        for k in pk:
            mm = pc.min_max(keys.column(k)).as_py()
            bounds[f"min_{k}"], bounds[f"max_{k}"] = mm["min"], mm["max"]
        candidates = [d for d in files if _intersects(d, pk, bounds)]
        if candidates and any(d.get("bloom") for d in candidates):
            # NULL keys match nothing, so the non-NULL keys prune soundly
            candidates = self._bloom_filter_candidates(
                candidates, B.arrow_key_hashes(live_keys, pk)
            )
        # the driver reads the candidates and every tombstone that can
        # remove one of their rows (a delete file newer than the oldest)
        oldest = min((d["v"] for d in candidates), default=None)
        reads = candidates + [
            d for d in dels if oldest is not None and d["v"] > oldest
        ]
        if any(d.get("rows") is None for d in reads) or (
            sum(d["rows"] for d in reads) > self._DRIVER_MAX_ROWS
        ):
            return None
        try:
            parts = [
                _read_arrow(
                    os.path.join(self.data_path, d["name"]), tschema, d.get("phys")
                )
                for d in candidates
            ]
            found = pa.concat_tables(parts) if parts else tschema.empty_table()
            file_of = np.repeat(
                np.arange(len(candidates)), [t.num_rows for t in parts]
            ).astype(np.int64)
            hit_files = np.unique(file_of[_match(found, live_keys, pk)[0]])
            in_touched = np.isin(file_of, hit_files)
            rows = found.filter(pa.array(in_touched))
        except pa.ArrowException:
            return None
        fv = np.array([d["v"] for d in candidates], dtype=np.int64)
        return [candidates[i] for i in hit_files], rows, fv[file_of[in_touched]]

    def rows_for_keys(self, keys: Any) -> Optional[Any]:
        """The live rows of the latest snapshot whose primary key is a
        row of the Arrow table ``keys`` (the pk columns in
        :func:`_arrow_schema` types), read on the driver with pyarrow
        and returned in that schema — the driver-side merge's probe
        (:meth:`_driver_probe`) and tombstone rule
        (:meth:`_tombstone_alive`).  None when the files to read exceed
        ``_DRIVER_MAX_ROWS`` or pyarrow cannot read them."""
        import numpy as np
        import pyarrow as pa

        pk = list(self.primary_key() or [])
        files, dels, _ = self._snapshot_full(None)
        tschema = _arrow_schema(self.schema())
        probe = self._driver_probe(keys, pk, tschema, files, dels)
        if probe is None:
            return None
        _touched, rows, fv = probe
        try:
            rows = rows.filter(
                pa.array(self._tombstone_alive(rows, fv, dels, pk, tschema))
            )
        except pa.ArrowException:
            return None
        return rows.take(pa.array(np.unique(_match(rows, keys, pk)[0])))

    def _tombstone_alive(
        self, rows: Any, fv: Any, dels: list[dict], pk: list[str], tschema: Any
    ) -> Any:
        """Boolean mask over ``rows`` (read from files of versions
        ``fv``): True where no tombstone of a LATER version holds the
        row's key — :meth:`_scan`'s rule.  Only delete files newer than
        the oldest row's file can remove anything, so only those are
        read (pk columns only), each filtered to the keys of ``rows``."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        alive = np.ones(rows.num_rows, dtype=bool)
        later = [d for d in dels if len(fv) and d["v"] > fv.min()]
        if not later:
            return alive
        pk_schema = pa.schema([tschema.field(k) for k in pk])
        key_sets = {k: pc.unique(rows.column(k)) for k in pk}

        def among_rows(t: Any) -> Any:
            mask = pc.is_in(t.column(pk[0]), value_set=key_sets[pk[0]])
            for k in pk[1:]:
                mask = pc.and_(mask, pc.is_in(t.column(k), value_set=key_sets[k]))
            return t.filter(mask)

        tombs = [
            among_rows(
                _read_arrow(
                    os.path.join(self.data_path, d["name"]), pk_schema, d.get("phys")
                )
            )
            for d in later
        ]
        dv = np.repeat(
            np.array([d["v"] for d in later], dtype=np.int64),
            [t.num_rows for t in tombs],
        )
        ri, ti = _match(rows, pa.concat_tables(tombs), pk)
        max_dv = np.zeros(rows.num_rows, dtype=np.int64)
        np.maximum.at(max_dv, ri, dv[ti])
        alive[ri] = fv[ri] >= max_dv[ri]
        return alive

    def _merge_change_files(
        self,
        touched: list[dict],
        dels: list[dict],
        schema: T.StructType,
        changes: DataFrame,
        upserts: DataFrame,
        pk: list[str],
        commit_version: int,
        scan_df: Optional[DataFrame] = None,
    ) -> list[str]:
        """Row-level change set for one MERGE commit (change feed).
        ``scan_df``: an already-built (and ideally cached) scan of the
        touched files, shared with the CoW rewrite so the touched-file
        I/O is paid once per merge.

        Classification needs exactly one extra fact per batch key —
        "did the key exist?" — and the pre-images for those that did.
        Both come from ONE scan of the already-probed touched files
        (O(files actually containing batch keys), never the snapshot)
        inner-joined to the batch keys; the join output is O(batch) and
        is persisted so the four change classes below derive from it
        without rescanning:

        - D with a pre-image        → ``delete`` (old values)
        - I/U with a pre-image      → ``update_preimage`` + ``update_postimage``
        - I/U without one           → ``insert``
        - D without one             → nothing (idempotent replays)
        """
        cols = [f.name for f in schema.fields]
        ct = CHANGE_TYPE_COL
        if not touched:
            change_df = upserts.select(*cols).withColumn(ct, F.lit("insert"))
            return self._stage_change_files(change_df, commit_version)
        ops = changes.select(*pk, OP_COL)
        base_scan = (
            scan_df if scan_df is not None else self._scan(touched, schema, dels)
        )
        pre = base_scan.join(ops, on=list(pk), how="inner").persist()
        try:
            existing_upd = pre.filter(F.col(OP_COL).isin("I", "U")).select(*pk)
            change_df = (
                pre.filter(F.col(OP_COL) == "D")
                .select(*cols)
                .withColumn(ct, F.lit("delete"))
                .unionByName(
                    pre.filter(F.col(OP_COL).isin("I", "U"))
                    .select(*cols)
                    .withColumn(ct, F.lit("update_preimage"))
                )
                .unionByName(
                    upserts.join(existing_upd, on=list(pk), how="leftsemi")
                    .select(*cols)
                    .withColumn(ct, F.lit("update_postimage"))
                )
                .unionByName(
                    upserts.join(existing_upd, on=list(pk), how="leftanti")
                    .select(*cols)
                    .withColumn(ct, F.lit("insert"))
                )
            )
            return self._stage_change_files(change_df, commit_version)
        finally:
            pre.unpersist()

    # sidecar bitmaps are immutable (keyed by data-file name, and data
    # files are never modified in place), so a process-wide cache is
    # sound; a steady-state sync loop probes from memory with zero I/O
    _BLOOM_CACHE: dict[str, Optional[tuple]] = {}
    _BLOOM_CACHE_MAX = 8192
    # the driver bound: a merge batch of at most this many rows is pinned
    # as Arrow, and merges on the driver when its candidate files hold
    # at most this many rows too (:meth:`merge`); it also caps the batch
    # key collect of :meth:`_bloom_prune`
    _DRIVER_MAX_ROWS = 100_000

    def _bloom_prune(
        self,
        candidates: list[dict],
        keys_df: DataFrame,
        pk: list[str],
        n_keys: int,
    ) -> list[dict]:
        """Driver-side candidate pruning via the per-file bloom sidecars
        written at stage time: keep a file only if ANY batch key might be
        present.  False positives just fall through to the exact probe
        scan; a file without a (readable) sidecar is always kept, so
        pruning can never be unsound.

        Engaged only in the regime where it wins: more candidate FILES
        than batch KEYS (uniform keys then hit ≲ n_keys files, so most
        candidates get pruned before the probe scan — the 1M-file /
        10k-key production shape).  When keys ≥ files nearly every file
        contains some key (expected hit fraction 1−(1−1/F)^N), so the
        filter would save nothing and hashing the keys is pure overhead
        — measured at sf0.1 (then a worker-side hash job): +0.6 s per
        merge for a 32→29 prune.  Also skipped past _DRIVER_MAX_ROWS (the
        key collect is O(batch); the probe scan's per-file parallelism
        wins anyway).

        The batch keys are collected to the driver as Arrow and hashed
        there with :func:`bloom.arrow_key_hashes`, the same function the
        sidecars are built with — no Python worker runs."""
        if (
            len(candidates) <= 1
            or n_keys == 0
            or n_keys >= len(candidates)
            or n_keys > self._DRIVER_MAX_ROWS
            or not any(d.get("bloom") for d in candidates)
        ):
            return candidates
        from pg_mooncake_spark.functions import bloom as B

        hs = B.arrow_key_hashes(keys_df.toArrow(), pk)
        if hs is None:
            return candidates  # null-key batch: pruning skipped, sound
        return self._bloom_filter_candidates(candidates, hs)

    def _load_bloom(self, side: str):
        from pg_mooncake_spark.functions import bloom as B

        full = os.path.join(self.path, _INDEX_DIR, side)
        if full not in self._BLOOM_CACHE:
            if len(self._BLOOM_CACHE) >= self._BLOOM_CACHE_MAX:
                self._BLOOM_CACHE.clear()
            try:
                self._BLOOM_CACHE[full] = B.deserialize(
                    self.backend.read_bytes(full)
                )
            except FileNotFoundError:
                self._BLOOM_CACHE[full] = None
        return self._BLOOM_CACHE[full]

    def _bloom_filter_candidates(self, candidates: list[dict], hs) -> list[dict]:
        from pg_mooncake_spark.functions import bloom as B

        out = []
        for d in candidates:
            side = d.get("bloom")
            parsed = self._load_bloom(side) if side else None
            if parsed is None:
                out.append(d)
                continue
            bitmap, m, k = parsed
            if B.might_contain_any(bitmap, m, hs, k):
                out.append(d)
        return out

    def _bloom_prune_literal(
        self, candidates: list[dict], condition: str
    ) -> list[dict]:
        """Point-read pruning: when ``condition`` is a conjunction of
        ``pk_col = literal`` equalities covering the FULL primary key,
        hash the literal key driver-side (the canonical bloom hash is
        plain Python — no Spark job) and drop every candidate whose
        sidecar proves the key absent.  Anything unparseable, partial,
        or type-surprising keeps all candidates — never unsound."""
        import datetime

        import numpy as np

        from pg_mooncake_spark.functions import bloom as B

        pk = self.primary_key() or []
        if not pk or len(candidates) <= 1:
            return candidates
        if not any(d.get("bloom") for d in candidates):
            return candidates
        if re.search(r"\bOR\b|\bNOT\b|\bBETWEEN\b|\bIN\b", condition, re.I):
            return candidates
        eq: dict[str, str] = {}
        for clause in re.split(r"\bAND\b", condition, flags=re.I):
            m = re.fullmatch(
                r"\s*`?([A-Za-z_]\w*)`?\s*==?\s*('(?:[^']|'')*'|-?\d+)\s*",
                clause,
            )
            if not m or m.group(1) in eq:
                return candidates
            eq[m.group(1)] = m.group(2)
        if set(eq) != set(pk):
            return candidates
        types = {f.name: f.dataType for f in self.schema().fields}
        cols = []
        for c in pk:
            tok, dt = eq[c], types.get(c)
            if tok.startswith("'"):
                s = tok[1:-1].replace("''", "'")
                if isinstance(dt, T.DateType):
                    try:
                        v = datetime.date.fromisoformat(s)
                    except ValueError:
                        return candidates
                    cols.append(np.array([v], dtype=object))
                elif isinstance(dt, T.StringType):
                    cols.append(np.array([s], dtype=object))
                else:
                    return candidates
            else:
                if not isinstance(
                    dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
                ):
                    return candidates
                cols.append(np.array([int(tok)], dtype=np.int64))
        hs = B.key_hash_array(cols)
        return self._bloom_filter_candidates(candidates, hs)

    def _probe_by_keys(
        self, candidates: list[dict], keys_df: DataFrame, pk: list[str]
    ) -> list[dict]:
        """Exact touched-file resolution for MERGE: of the stat-pruned
        candidate files, keep only those that actually CONTAIN at least
        one batch key.

        The probe reads ONLY the pk columns (column-pruned parquet scan;
        the reader's footer stats additionally skip whole row groups),
        semi-joins against the distinct batch keys, and collects the
        distinct file names — O(#files) driver traffic, never O(rows).
        AQE turns the semi-join into a broadcast when the batch is small
        (the normal CDC case).  Skipped when stats already narrowed the
        candidates to ≤1 file: a probe job cannot beat just rewriting it.
        """
        if len(candidates) <= 1:
            return candidates
        pk_schema = T.StructType(
            [f for f in self.schema().fields if f.name in set(pk)]
        )
        hit = (
            self._read_files(candidates, pk_schema, add_file_col=True)
            .join(keys_df, on=list(pk), how="leftsemi")
            .select("__file")
            .distinct()
            .collect()
        )
        names = {r["__file"] for r in hit}
        return [d for d in candidates if d["name"] in names]

    def _pk_stat_candidates(
        self, files: list[dict], condition: str
    ) -> Optional[list[dict]]:
        """Commit-log stat pruning for SIMPLE predicates.

        When ``condition`` is a bare conjunction of ``col op literal``
        comparisons (=, <, <=, >, >=, BETWEEN, IN) over STATTED columns
        — the primary key plus any clustering columns an
        ``optimize(sort_by=/zorder_by=)`` pass recorded stats for — the
        per-file min/max stats in the commit log decide candidacy
        driver-side — no Spark job at all.  A parseable conjunct on an
        un-statted column is simply skipped (pruning on the remaining
        conjuncts stays sound: a file failing ANY proven conjunct can
        hold no matching row).  Returns None for anything it cannot
        parse (OR, NOT, parentheses, expression operands, type
        surprises): the caller then falls back to the sound full probe
        scan.  Missing stats on a candidate file keep it — pruning is
        only ever an optimization.
        """
        pk = set(self.primary_key() or [])
        statted = pk | {
            c for d in files for c in (d.get("stats") or {})
        }
        # OR/NOT disqualify outright; stray parentheses fail clause parsing
        if not statted or re.search(r"\bOR\b|\bNOT\b", condition, re.I):
            return None

        def lit(tok: str):
            tok = tok.strip()
            # typed literals: DATE '...' / TIMESTAMP '...' — strip the
            # keyword; the quoted body then normalizes like any string
            tok = re.sub(r"^(?:DATE|TIMESTAMP)\s+(?=')", "", tok, flags=re.I)
            if re.fullmatch(r"'(?:[^']|'')*'", tok):
                s = tok[1:-1].replace("''", "'")
                # stats serialize datetimes via isoformat() ('...T...');
                # SQL literals use a space — normalize so the string
                # comparison below agrees ('T' > ' ' would silently
                # mis-prune same-day timestamp predicates)
                if re.fullmatch(r"\d{4}-\d{2}-\d{2} \d{2}:.*", s):
                    s = s.replace(" ", "T", 1)
                return s
            if re.fullmatch(r"-?\d+", tok):
                return int(tok)
            if re.fullmatch(r"-?\d+\.\d+", tok):
                return float(tok)
            return None

        def _tclass(s) -> str:
            """'date' / 'ts' / 'other' — pruning only trusts string
            comparison when literal and stat share a temporal class
            (date-vs-timestamp mixes need SQL cast semantics)."""
            if not isinstance(s, str):
                return "num"
            if re.fullmatch(r"\d{4}-\d{2}-\d{2}", s):
                return "date"
            if re.fullmatch(r"\d{4}-\d{2}-\d{2}T.*", s):
                return "ts"
            return "other"

        # shield BETWEEN's own AND before splitting the conjunction
        shielded = re.sub(
            r"(\bBETWEEN\s+(?:(?:DATE\s+|TIMESTAMP\s+)?'(?:[^']|'')*'|\S+)"
            r"\s+)AND\b",
            r"\1__BETWEEN_AND__",
            condition,
            flags=re.I,
        )
        # each constraint: (col, admit(lo, hi) -> bool, literals)
        constraints = []
        for raw in re.split(r"\bAND\b", shielded, flags=re.I):
            clause = raw.replace("__BETWEEN_AND__", "AND")
            m = re.fullmatch(
                r"\s*`?([A-Za-z_]\w*)`?\s*(<=|>=|==|=|<|>)\s*"
                r"((?:DATE\s+|TIMESTAMP\s+)?'(?:[^']|'')*'|\S+)\s*", clause,
                re.I,
            )
            mb = re.fullmatch(
                r"\s*`?([A-Za-z_]\w*)`?\s+BETWEEN\s+"
                r"((?:DATE\s+|TIMESTAMP\s+)?'(?:[^']|'')*'|\S+)\s+AND\s+"
                r"((?:DATE\s+|TIMESTAMP\s+)?'(?:[^']|'')*'|\S+)\s*",
                clause,
                re.I,
            )
            mi = re.fullmatch(
                r"\s*`?([A-Za-z_]\w*)`?\s+IN\s*\(([^()]+)\)\s*", clause, re.I
            )
            if m:
                col, op, v = m.group(1), m.group(2), lit(m.group(3))
                if v is None:
                    return None
                lits = [v]
                admit = {
                    "=": lambda lo, hi, v=v: lo <= v <= hi,
                    "==": lambda lo, hi, v=v: lo <= v <= hi,
                    "<": lambda lo, hi, v=v: lo < v,
                    "<=": lambda lo, hi, v=v: lo <= v,
                    ">": lambda lo, hi, v=v: hi > v,
                    ">=": lambda lo, hi, v=v: hi >= v,
                }[op]
            elif mb:
                col, a, b = mb.group(1), lit(mb.group(2)), lit(mb.group(3))
                if a is None or b is None:
                    return None
                lits = [a, b]
                admit = lambda lo, hi, a=a, b=b: not (b < lo or a > hi)  # noqa: E731
            elif mi:
                col = mi.group(1)
                vs = [lit(t) for t in mi.group(2).split(",")]
                if any(v is None for v in vs):
                    return None
                lits = list(vs)
                admit = lambda lo, hi, vs=vs: any(lo <= v <= hi for v in vs)  # noqa: E731
            else:
                return None
            if col not in statted:
                continue  # parseable but un-statted: skip, stay sound
            constraints.append((col, admit, lits))
        if not constraints:
            return None

        def is_candidate(d: dict) -> bool:
            stats = d.get("stats") or {}
            for col, admit, lits in constraints:
                lo_hi = stats.get(col)
                if not lo_hi or lo_hi[0] is None:
                    continue  # no stats -> conservative keep
                if any(_tclass(v) != _tclass(lo_hi[0]) for v in lits):
                    return None  # type: ignore[return-value]  # date/ts mix
                try:
                    if not admit(lo_hi[0], lo_hi[1]):
                        return False
                except TypeError:  # literal/stat type mismatch
                    return None  # type: ignore[return-value]
            return True

        out = []
        for d in files:
            c = is_candidate(d)
            if c is None:
                return None
            if c:
                out.append(d)
        return out

    def _touched_files(self, condition: str) -> list[dict]:
        """Files containing at least one row matching ``condition``.

        Fast path: pk-only simple predicates prune candidates from
        commit-log stats first (:meth:`_pk_stat_candidates`) — on an
        optimize(sort_by=pk)'d table a single-key probe then scans ≤1
        file instead of the whole snapshot.  The remaining candidates go
        through one column-pruned probe scan (predicate columns + file
        name only) tagged with ``input_file_name()`` — sound for
        *arbitrary* predicates, unlike min/max interval analysis, and the
        parquet reader's own footer-stats pushdown skips non-matching row
        groups.  Probing reads; it never rewrites.
        """
        files, first = self._snapshot(None)
        if not files:
            return []
        pruned = self._pk_stat_candidates(files, condition)
        if pruned is not None:
            files = pruned
            # full-pk equality probes additionally consult the bloom
            # sidecars (driver-side, no job) — a point DELETE/UPDATE on
            # an unsorted table plans O(1) files, same as read(where=)
            files = self._bloom_prune_literal(files, condition)
        if not files:
            return []
        schema = T.StructType.fromJson(json.loads(first.schema))
        hit = (
            self._read_files(files, schema, add_file_col=True)
            .filter(condition)
            .select("__file")
            .distinct()
            .collect()
        )
        touched = {r["__file"] for r in hit}
        return [d for d in files if d["name"] in touched]

    def delete_where(
        self,
        condition: str,
        strategy: str = "auto",
        mor_threshold: float = 0.3,
        commit_props: Optional[dict] = None,
    ) -> int:
        """DELETE with predicate (reference sanity.sql:5) — copy-on-write
        over the *touched files only*: a predicate hitting 0.1% of rows
        rewrites that 0.1% of files, never the full snapshot (the
        moontable analog of the reference's incremental mirror
        maintenance, src/functions.rs:132-144).

        ``strategy='mor'`` (or 'auto' past ``mor_threshold`` touched-file
        fraction, pk tables only) commits an equality-delete tombstone of
        the matching keys instead — O(deleted keys) bytes for a DELETE
        scattered across most files, folded away on :meth:`optimize`."""
        touched = self._touched_files(condition)
        files, dels, first = self._snapshot_full(None)
        schema = T.StructType.fromJson(json.loads(first.schema))
        pk = self.primary_key()
        v = self.latest_version() + 1
        props = dict(commit_props) if commit_props else None
        if self.change_feed_enabled():
            cols = [f.name for f in schema.fields]
            if touched:
                deleted = (
                    self._scan(touched, schema, dels)
                    .filter(condition)
                    .select(*cols)
                    .withColumn(CHANGE_TYPE_COL, F.lit("delete"))
                )
                props = {
                    **(props or {}),
                    "change_files": self._stage_change_files(deleted, v),
                }
            else:
                props = {**(props or {}), "change_files": []}
        use_mor = bool(pk) and touched and (
            strategy == "mor"
            or (
                strategy == "auto"
                and len(files) >= 4
                and len(touched) / len(files) > mor_threshold
            )
        )
        if use_mor:
            keys = (
                self._scan(touched, schema, dels)
                .filter(condition)
                .select(*pk)
                .distinct()
            )
            del_descr = self._stage_delete_files(keys, pk)
            self._commit_with_changes(
                Commit(version=v, op="delete-mor", deletes=del_descr, props=props)
            )
            return v
        add: list[dict] = []
        if touched:
            current = self._scan(touched, schema, dels)
            survivors = current.filter(f"NOT ({condition}) OR ({condition}) IS NULL")
            add = self._stage_files(survivors, pk)
        self._commit_with_changes(
            Commit(
                version=v,
                op="delete",
                add=add,
                remove=[d["name"] for d in touched],
                props=props,
            )
        )
        return v

    def update_where(self, condition: str, assignments: dict[str, str]) -> int:
        """UPDATE ... SET col = expr WHERE cond (reference sanity.sql:4) —
        same touched-files-only copy-on-write as :meth:`delete_where`."""
        known = set(self.schema().fieldNames())
        unknown = [c for c in assignments if c not in known]
        if unknown:
            # silent no-ops are user-reachable via the SQL surface
            # (UPDATE t SET typo = 1); fail loudly like delete/DV paths
            raise MoonTableError(
                f"UPDATE assigns unknown column(s) {unknown}; "
                f"table columns: {sorted(known)}"
            )
        touched = self._touched_files(condition)
        _files, dels, first = self._snapshot_full(None)
        v = self.latest_version() + 1
        add: list[dict] = []
        props = None
        if self.change_feed_enabled() and not touched:
            props = {"change_files": []}
        if touched:
            schema = T.StructType.fromJson(json.loads(first.schema))
            current = self._scan(touched, schema, dels)
            cols = []
            for f_ in current.schema.fields:
                if f_.name in assignments:
                    cols.append(
                        F.when(F.expr(condition), F.expr(assignments[f_.name]))
                        .otherwise(F.col(f_.name))
                        .cast(f_.dataType)
                        .alias(f_.name)
                    )
                else:
                    cols.append(F.col(f_.name))
            if self.change_feed_enabled():
                # pre/post images of the rows the predicate matches; the
                # post image applies the assignments to the pre rows, so
                # both classes come from the same O(matched) subset
                names = [f.name for f in schema.fields]
                pre_rows = current.filter(condition)
                assigned = [
                    F.expr(assignments[f.name]).cast(f.dataType).alias(f.name)
                    if f.name in assignments
                    else F.col(f.name)
                    for f in schema.fields
                ]
                change_df = (
                    pre_rows.select(*names)
                    .withColumn(CHANGE_TYPE_COL, F.lit("update_preimage"))
                    .unionByName(
                        pre_rows.select(*assigned).withColumn(
                            CHANGE_TYPE_COL, F.lit("update_postimage")
                        )
                    )
                )
                props = {"change_files": self._stage_change_files(change_df, v)}
            add = self._stage_files(current.select(*cols), self.primary_key())
        self._commit_with_changes(
            Commit(
                version=v,
                op="update",
                add=add,
                remove=[d["name"] for d in touched],
                props=props,
            )
        )
        return v

    def rename_column(self, old: str, new: str) -> int:
        """Metadata-only column rename (upstream ALTER TABLE RENAME
        COLUMN) — no data file is touched.  Files written before the
        rename keep their data under the old physical name; snapshot
        replay carries the per-file logical→physical mapping and every
        scan resolves it per rename era (:meth:`_read_files`), the
        moontable analog of Iceberg's rename-by-field-id.  Primary-key
        columns rename with the schema.  Time travel below the rename
        sees the old name.  Pre-rename file pk stats remain keyed by
        the old name, so stat pruning degrades to conservative keeps
        for those files until the next optimize rewrites them."""
        schema = self.schema()
        names = [f.name for f in schema.fields]
        if old not in names:
            raise MoonTableError(f"no column {old!r} to rename")
        if new in names:
            raise MoonTableError(f"column {new!r} already exists")
        new_schema = T.StructType(
            [
                T.StructField(new if f.name == old else f.name, f.dataType, f.nullable)
                for f in schema.fields
            ]
        )
        v = self.latest_version() + 1
        self._write_commit(
            Commit(
                version=v,
                op="rename",
                schema=json.dumps(new_schema.jsonValue()),
                renames={old: new},
            )
        )
        return v

    def keys_present(self, keys_df: DataFrame) -> DataFrame:
        """Distinct ``keys_df`` keys that already exist in the current
        snapshot — the merge path's stats→bloom pruning reused as a
        membership test, so the scan touches only candidate files that
        can contain a probed key (O(candidates), never O(table));
        merge-on-read tombstones are honored (a deleted key is absent)."""
        pk = self.primary_key()
        if not pk:
            raise MoonTableError("keys_present requires a primary key")
        keys = keys_df.select(*pk).distinct()
        bounds = keys.agg(
            *[F.min(k).alias(f"min_{k}") for k in pk],
            *[F.max(k).alias(f"max_{k}") for k in pk],
            F.count(F.lit(1)).alias("__nkeys"),
        ).collect()[0]
        files, dels, _ = self._snapshot_full(None)
        candidates = [d for d in files if _intersects(d, pk, bounds)]
        candidates = self._bloom_prune(
            candidates, keys, pk, int(bounds["__nkeys"])
        )
        if not candidates:
            return keys.limit(0)
        pk_schema = T.StructType(
            [f for f in self.schema().fields if f.name in set(pk)]
        )
        scan = self._scan(candidates, pk_schema, dels, pk=pk)
        return keys.join(scan, on=list(pk), how="leftsemi")

    def evolve_schema(self, new_schema: T.StructType) -> int:
        """Metadata-only schema change commit — no data file is touched.

        Two shapes are accepted:

        - WIDEN: every existing column kept (same type), new columns
          appended NULLABLE — the ALTER TABLE ADD COLUMN path for
          tables :meth:`merge` cannot serve (keyless mirrors; merge
          requires a primary key, ADVICE r10).  Pre-evolution files
          read the new columns as NULL.
        - NARROW: a subset of existing columns (same types) — the
          ALTER TABLE DROP COLUMN path.  Files keep the dropped
          column's bytes; scans resolve to the logical schema, so the
          column simply stops being read.  Primary-key columns cannot
          be dropped.

        Time travel below the commit sees the old shape (same
        schema-evolving replay as a drifted merge)."""
        old = {f.name: f.dataType for f in self.schema().fields}
        new = {f.name: f.dataType for f in new_schema.fields}
        changed = sorted(
            c for c in set(old) & set(new) if old[c] != new[c]
        )
        if changed:
            raise MoonTableError(
                f"evolve_schema cannot change column types: {changed}"
            )
        dropped = sorted(set(old) - set(new))
        pk_dropped = sorted(set(dropped) & set(self.primary_key() or []))
        if pk_dropped:
            raise MoonTableError(
                f"cannot drop primary-key column(s) {pk_dropped}"
            )
        v = self.latest_version() + 1
        self._write_commit(
            Commit(
                version=v,
                op="evolve",
                schema=json.dumps(new_schema.jsonValue()),
            )
        )
        return v

    def retype_column(self, df: DataFrame, new_schema: T.StructType) -> int:
        """Full-rewrite commit that replaces the data AND the schema
        atomically (the ALTER COLUMN TYPE path — Postgres rewrites the
        table too).  ``df`` must already be cast to ``new_schema``
        (column set and order identical to the current schema; only
        types differ).  Time travel below the commit sees the old
        type; the change feed treats it as a data-changing overwrite
        barrier."""
        old_names = [f.name for f in self.schema().fields]
        if [f.name for f in new_schema.fields] != old_names:
            raise MoonTableError(
                "retype_column changes types only, not the column set"
            )
        files, dels, _ = self._snapshot_full(None)
        v = self.latest_version() + 1
        add = self._stage_files(df, self.primary_key())
        self._write_commit(
            Commit(
                version=v,
                op="overwrite",
                add=add,
                remove=[d["name"] for d in files]
                + [d["name"] for d in dels],
                schema=json.dumps(new_schema.jsonValue()),
            )
        )
        return v

    def set_primary_key(self, primary_key: list[str]) -> int:
        """Metadata-only primary-key declaration commit — the pg_dump
        restore shape loads data first and declares the key in the
        post-data section (``ALTER TABLE ONLY t ADD CONSTRAINT t_pkey
        PRIMARY KEY (...)``).  Validation (column existence, NULL and
        uniqueness scans) is the caller's job; this just records the
        key so subsequent MERGE/UPDATE/DELETE address rows by it.  Time
        travel below the commit sees the table keyless."""
        cols = {f.name for f in self.schema().fields}
        missing = [c for c in primary_key if c not in cols]
        if missing:
            raise MoonTableError(
                f"primary-key column(s) {missing} do not exist"
            )
        v = self.latest_version() + 1
        self._write_commit(
            Commit(
                version=v,
                op="set_pk",
                primary_key=list(primary_key),
            )
        )
        return v

    def optimize(
        self,
        target_partitions: Optional[int] = None,
        sort_by: Optional[list[str]] = None,
        zorder_by: Optional[list[str]] = None,
        zorder_method: str = "linear",
    ) -> int:
        """Compact small files (reference mooncake.optimize_table A4).

        Rewrites the current snapshot into ``target_partitions`` files
        (default: a quarter of the live file count, clamped to 1..64;
        1 for an empty table).

        ``sort_by`` clusters the rewrite on the given columns
        (repartitionByRange + in-file sort): file pk-stat ranges become
        disjoint, so MERGE pruning and min/max data skipping touch the
        fewest possible files.  ``zorder_by`` (mutually exclusive)
        clusters on the Morton interleave instead — the moontable
        analog of Delta's ``OPTIMIZE ... ZORDER BY``: pruning works on
        ANY of the z-ordered columns, not just the leading one.
        """
        if sort_by and zorder_by:
            raise MoonTableError("sort_by and zorder_by are mutually exclusive")
        files, _ = self._snapshot(None)
        n_rows = sum(d.get("rows") or 0 for d in files)
        if target_partitions is None:
            target_partitions = max(1, min(len(files) // 4, 64)) if n_rows else 1
        df = self.read()
        if sort_by:
            df = df.repartitionByRange(target_partitions, *sort_by).sortWithinPartitions(
                *sort_by
            )
        elif zorder_by:
            from pg_mooncake_spark.functions.zorder import zorder_key

            zk = zorder_key(df, list(zorder_by), method=zorder_method)
            df = df.repartitionByRange(target_partitions, zk).sortWithinPartitions(zk)
        else:
            df = df.repartition(target_partitions)
        # clustering columns earn per-file min/max stats: disjoint (sort)
        # or bounded (zorder) ranges make range predicates prune the file
        # list planner-side, not just parquet row groups executor-side
        return self.overwrite(
            df, data_change=False,
            stats_cols=list(sort_by or zorder_by or []),
        )

    def vacuum(
        self,
        staging_grace_s: float = 3600.0,
        changes_retention_versions: Optional[int] = None,
    ) -> int:
        """Remove data files no longer referenced by the latest snapshot,
        plus staging directories orphaned by crashed writers (a writer
        that died between staging and commit leaves ``_staging_*`` —
        invisible to readers, but disk it holds must be reclaimable).

        Staging dirs younger than ``staging_grace_s`` are left alone so a
        vacuum running concurrently with an in-flight append/update cannot
        delete a live writer's files mid-write — the same protection Delta
        VACUUM's retention window gives in-flight transactions.  Pass 0 to
        force-reclaim (only safe when no writer can be active).

        ``changes_retention_versions``: also reclaim change-feed files of
        commits more than N versions behind the head (None = keep all).
        ``changes()`` over a reclaimed range fails on the missing files —
        pick N to cover the slowest downstream consumer (views record the
        base version they reflect, so their lag is inspectable).

        (Time travel to pre-vacuum versions is forfeited — same contract
        as Delta VACUUM.)"""
        import shutil as _shutil
        import time as _time

        snap_files, snap_dels, _ = self._snapshot_full(None)
        live = {d["name"] for d in snap_files} | {d["name"] for d in snap_dels}
        # a memoized scan of a pre-vacuum snapshot would only fail at
        # execution; rebuilt, it fails at plan time as it always did
        # (the change set memo goes with it)
        self._purge_scans(self.path)
        removed = 0
        now = _time.time()
        # pending change files: finalize any whose commit landed, then
        # reclaim orphans (commit never landed — OCC loser / crashed
        # writer) past the grace window
        self._heal_pending_changes()
        ch_dir = os.path.join(self.data_path, _CHANGES_DIR)
        if os.path.isdir(ch_dir):
            for f in os.listdir(ch_dir):
                if not f.startswith("." + _PENDING_PREFIX):
                    continue
                full = os.path.join(ch_dir, f)
                try:
                    age = now - os.path.getmtime(full)
                except OSError:
                    continue
                if age >= staging_grace_s:
                    os.remove(full)
                    removed += 1
        if changes_retention_versions is not None:
            horizon = self.latest_version() - changes_retention_versions
            keep: set[str] = set()
            for v in self._versions():
                c = self._read_commit(v)
                for n in (c.props or {}).get("change_files") or []:
                    if v > horizon:
                        keep.add(n)
            ch_dir = os.path.join(self.data_path, _CHANGES_DIR)
            if os.path.isdir(ch_dir):
                for f in os.listdir(ch_dir):
                    # dot-prefixed staged files belong to in-flight
                    # writers — the grace-gated pending sweep above is
                    # the only path allowed to reclaim them (ADVICE r8:
                    # deleting them here loses the commit's change feed)
                    if f.startswith("." + _PENDING_PREFIX):
                        continue
                    if f.endswith(".parquet") and f not in keep:
                        os.remove(os.path.join(ch_dir, f))
                        removed += 1
        # bloom sidecars of dead data files go with them (immutable 1:1)
        idx_dir = os.path.join(self.path, _INDEX_DIR)
        if os.path.isdir(idx_dir):
            for f in os.listdir(idx_dir):
                if (
                    f.startswith("bloom-")
                    and f.endswith(".bin")
                    and f[len("bloom-"):-len(".bin")] not in live
                ):
                    os.remove(os.path.join(idx_dir, f))
                    removed += 1
        for f in os.listdir(self.data_path):
            full = os.path.join(self.data_path, f)
            if f.endswith(".parquet") and f not in live:
                os.remove(full)
                removed += 1
            elif f.startswith("_staging_") and os.path.isdir(full):
                try:
                    age = now - os.path.getmtime(full)
                except OSError:
                    continue  # racing writer removed it already
                if age >= staging_grace_s:
                    _shutil.rmtree(full)
                    removed += 1
        return removed

    # ---------------------------------------------------------------- misc

    def _align_case(self, df: DataFrame) -> DataFrame:
        """Rename batch columns that case-insensitively match a table
        column to the table's exact spelling (Postgres folds unquoted
        identifiers; Spark's analyzer resolves case-insensitively by
        default).  Without this, a different-cased batch either errors
        spuriously or — worse, under evolve — registers as schema drift
        and silently bypasses constraint metadata keyed on the stored
        case (ADVICE r12).  Two batch columns folding to one table
        column is ambiguous and refused."""
        canon = {f.name.lower(): f.name for f in self.schema().fields}
        taken: dict[str, str] = {}
        renames: list[tuple[str, str]] = []
        for c in df.columns:
            want = canon.get(c.lower())
            if want is None:
                continue
            if want in taken and taken[want] != c:
                raise MoonTableError(
                    f"ambiguous input columns {taken[want]!r} and {c!r} "
                    f"both resolve to table column {want!r}"
                )
            taken[want] = c
            if want != c:
                renames.append((c, want))
        for old, new in renames:
            df = df.withColumnRenamed(old, new)
        return df

    def assign_types(self, df: DataFrame) -> DataFrame:
        """``df`` with its columns in the table's spelling
        (:meth:`_align_case`) and every column the table has in the
        table's type (:func:`_assign_types`): what :meth:`merge` does to
        a batch under ``on_schema_drift='fail'``, for a caller that pins
        the batch before the merge."""
        return _assign_types(self._align_case(df), self.schema())

    def _conform(self, df: DataFrame) -> DataFrame:
        """Schema reconciliation: align column order & types to the table
        schema (load_files contract — reference src/functions.rs:118-130)."""
        df = self._align_case(df)
        schema = self.schema()
        missing = [f.name for f in schema.fields if f.name not in df.columns]
        if missing:
            raise MoonTableError(f"input missing columns {missing}")
        return df.select(
            *[F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields]
        )


def _assign_types(df: DataFrame, schema: T.StructType) -> DataFrame:
    """``df`` with every column whose type differs from the same-named
    column of ``schema`` cast to that type with Spark's cast, as
    Postgres casts an assigned value to its column's type (a double
    0.25 stored in a ``decimal(23,1)`` column rounds half up to 0.3).
    A value the cast cannot convert raises when the batch is first
    evaluated, before anything is written.  Types compare without
    nullability; a frame whose types all match comes back as it is, so
    a pinned batch stays pinned."""
    want = {f.name: f.dataType for f in schema.fields}
    fields = df.schema.fields
    differs = {
        f.name for f in fields
        if f.name in want and want[f.name].simpleString() != f.dataType.simpleString()
    }
    if not differs:
        return df
    return df.select(
        *[
            F.col(f.name).cast(want[f.name]).alias(f.name)
            if f.name in differs else F.col(f.name)
            for f in fields
        ]
    )


_INT_RANK = {T.ByteType: 0, T.ShortType: 1, T.IntegerType: 2, T.LongType: 3}


def _widens(from_t: T.DataType, to_t: T.DataType) -> bool:
    """True iff every value of ``from_t`` is exactly representable in
    ``to_t`` AND Spark's parquet reader scans files written as
    ``from_t`` through a widening conversion when the requested schema
    says ``to_t`` (int32→int64, float→double, …) — the property that
    lets the mirror widen without rewriting history."""
    ft, tt = type(from_t), type(to_t)
    if ft in _INT_RANK and tt in _INT_RANK:
        return _INT_RANK[ft] < _INT_RANK[tt]
    if ft is T.DecimalType and tt is T.DecimalType:
        # wider iff both integral digits and scale grow-or-hold (and it
        # actually changed) — verified readable through the vectorized
        # parquet reader incl. scale increase
        return (
            to_t.scale >= from_t.scale
            and to_t.precision - to_t.scale >= from_t.precision - from_t.scale
            and (to_t.precision, to_t.scale)
            != (from_t.precision, from_t.scale)
        )
    return ft is T.FloatType and tt is T.DoubleType


# Stat column types whose parquet footer min/max equal Spark's min/max:
# integral, UTF-8 binary-collated strings (unsigned byte order is code
# point order) and dates.  Float/double (NaN ordering), timestamps (INT96
# carries no statistics), decimals and the rest take the Spark stats pass.
_FOOTER_STAT_TYPES = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.StringType,
    T.DateType,
)


def _footer_stats(md: Any, cols: list[str], types: dict) -> dict[str, tuple]:
    """(min, max) per column of ``cols`` from one parquet footer ``md``,
    merged across row groups; all-NULL row groups contribute nothing.
    A column is left out when its type is not footer-describable or any
    row group lacks min/max statistics for non-NULL values."""
    import datetime

    want = {T.StringType: str, T.DateType: datetime.date}
    idx = {md.schema.column(i).path: i for i in range(md.num_columns)}
    out: dict[str, tuple] = {}
    for c in cols:
        dt = types.get(c)
        if (
            c not in idx
            or not isinstance(dt, _FOOTER_STAT_TYPES)
            or getattr(dt, "collation", "UTF8_BINARY") != "UTF8_BINARY"
        ):
            continue
        py = want.get(type(dt), int)
        lo = hi = None
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            st = rg.column(idx[c]).statistics
            if st is not None and st.has_min_max:
                a, b = st.min, st.max
                if type(a) is not py or type(b) is not py:
                    break
                lo = a if lo is None else min(lo, a)
                hi = b if hi is None else max(hi, b)
            elif not (
                st is not None
                and st.has_null_count
                and st.null_count == rg.num_rows
            ):
                break
        else:
            out[c] = (lo, hi)
    return out


# Pinned merge batches: DataFrame → its rows as Arrow (an Arrow-backed
# twin), or None (a local checkpoint of a batch over the driver bound).
# Weak keys: an entry lives exactly as long as the frame it describes.
_PINNED: "weakref.WeakKeyDictionary[DataFrame, Any]" = weakref.WeakKeyDictionary()


def pin_batch(df: DataFrame) -> DataFrame:
    """Evaluate a merge batch ONCE, in one job: the batch is marked for
    a local checkpoint and its first ``MoonTable._DRIVER_MAX_ROWS + 1``
    rows are collected as Arrow (``limit(B + 1).toArrow()``), which
    stores every partition of the checkpoint as it goes.  At most B
    rows: return an Arrow-backed twin — a ``LocalRelation``, so later
    plans over it run no job to re-read the batch and every consumer
    sees the same rows.  More: return the checkpointed frame, whose
    plans read the rows that job stored instead of the source plan.
    Idempotent; a bound of 0, or a column type Arrow cannot carry,
    pins nothing and runs no job."""
    bound = MoonTable._DRIVER_MAX_ROWS
    if df in _PINNED or bound <= 0:
        return df
    try:
        _arrow_schema(df.schema)
    except TypeError:
        return df
    cp = df.localCheckpoint(eager=False)
    tab = _arrow_conform(cp.limit(bound + 1).toArrow(), df.schema)
    if tab is None or tab.num_rows > bound:
        _PINNED[cp] = None
        return cp
    _drop_checkpoint(cp)
    return pin_arrow(df.sparkSession.createDataFrame(tab, schema=df.schema), tab)


def pin_arrow(df: DataFrame, tab: Any) -> DataFrame:
    """Register ``tab`` as the rows of ``df`` — a frame whose plan
    evaluates on the driver (over a local relation), its rows already
    in :func:`_arrow_schema` of ``df.schema`` — so :func:`pin_batch`
    counts ``df`` as pinned and a merge of it runs no job."""
    _PINNED[df] = tab
    return df


def is_pinned(df: DataFrame) -> bool:
    """True for a frame :func:`pin_batch` returned that holds its rows
    (an Arrow-backed twin or a local checkpoint)."""
    return df in _PINNED


def release_batch(df: DataFrame) -> None:
    """Free the stored partitions of a checkpoint :func:`pin_batch`
    returned, once the batch's last reader is done (the caller that
    pinned it); any other frame is left alone."""
    if df in _PINNED and _PINNED[df] is None:
        del _PINNED[df]
        _drop_checkpoint(df)


def _drop_checkpoint(cp: DataFrame) -> None:
    """Remove the stored partitions of the RDD behind a
    ``localCheckpoint`` frame (through ``SparkContext.unpersistRDD``:
    ``RDD.unpersist`` logs a warning for every locally checkpointed
    RDD)."""
    rdd = cp._jdf.queryExecution().analyzed().rdd()
    cp.sparkSession.sparkContext._jsc.sc().unpersistRDD(rdd.id(), False)


def _driver_pk_types(schema: T.StructType, pk: list[str]) -> bool:
    """Key types whose Arrow comparison and hashing agree with Spark's:
    the bloom-indexable ones, strings only under the binary collation
    (the condition :func:`_footer_stats` makes too)."""
    from pg_mooncake_spark.functions import bloom as B

    types = {f.name: f.dataType for f in schema.fields}
    return B.supported_pk_types(schema, pk) and all(
        getattr(types[k], "collation", "UTF8_BINARY") == "UTF8_BINARY" for k in pk
    )


def _arrow_schema(schema: T.StructType) -> Any:
    """The one Arrow schema driver-side merges read and write a table
    in: pyspark's type mapping, every top-level field nullable (as in a
    Spark file scan), ``TimestampType`` as ``timestamp[us, tz=UTC]`` and
    ``TimestampNTZType`` as naive ``timestamp[us]``.  Never ``ns``: the
    session reads ns parquet timestamps back as LONG."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    return pa.schema([f.with_nullable(True) for f in to_arrow_schema(schema)])


def _arrow_cast(col: Any, typ: Any) -> Any:
    """``col`` as Arrow type ``typ``.  Timestamps first take Spark's
    unit (a Spark INT96 file reads as naive ``ns``); a naive stored
    timestamp of a ``TimestampType`` column is a UTC instant, so the
    zone is attached without a shift."""
    import pyarrow as pa

    if col.type == typ:
        return col
    if pa.types.is_timestamp(col.type) and pa.types.is_timestamp(typ):
        col = col.cast(pa.timestamp("us", col.type.tz), safe=False)
    return col.cast(typ)


def _arrow_conform(
    tab: Any, schema: T.StructType, extra: Optional[list[str]] = None
) -> Any:
    """``tab`` with the columns of ``schema`` in order (plus ``extra``
    columns as they are), cast to :func:`_arrow_schema`; None when a
    column cannot be converted."""
    import pyarrow as pa

    try:
        fields = list(_arrow_schema(schema)) + [
            tab.schema.field(c) for c in extra or []
        ]
        return pa.table(
            [_arrow_cast(tab.column(f.name), f.type) for f in fields],
            schema=pa.schema(fields),
        )
    except (pa.ArrowException, TypeError):
        return None


def _read_arrow(path: str, schema: Any, phys: Optional[dict]) -> Any:
    """One parquet file as the Arrow ``schema``, resolved as
    :meth:`MoonTable._read_files` resolves it: a column is stored under
    its rename-era physical name (``phys``), a column the file predates
    reads as NULL, a narrower stored type is cast up."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    phys = phys or {}
    with pq.ParquetFile(path) as pf:
        have = set(pf.schema_arrow.names)
        stored = {
            f.name: phys.get(f.name, f.name)
            for f in schema
            if phys.get(f.name, f.name) in have
        }
        tab = pf.read(columns=list(stored.values()))
    return pa.table(
        [
            _arrow_cast(tab.column(stored[f.name]), f.type)
            if f.name in stored
            else pa.nulls(tab.num_rows, f.type)
            for f in schema
        ],
        schema=schema,
    )


def _match(left: Any, right: Any, pk: list[str]) -> tuple:
    """Index arrays (i, j): every pair of ``left`` row i and ``right``
    row j equal on all ``pk`` columns.  A hash join of the key columns
    and row numbers only; a NULL key matches nothing, as in Spark's
    equi-join."""
    import numpy as np
    import pyarrow as pa

    def numbered(t: Any, col: str) -> Any:
        return t.select(pk).append_column(
            col, pa.array(np.arange(t.num_rows, dtype=np.int64))
        )

    j = numbered(left, "__i").join(
        numbered(right, "__j"), keys=list(pk), join_type="inner"
    )
    return (
        j.column("__i").to_numpy().astype(np.int64),
        j.column("__j").to_numpy().astype(np.int64),
    )


def _keyed_mask(keys: Any, pk: list[str]) -> Any:
    """Arrow boolean mask: rows whose every pk column is non-NULL."""
    import pyarrow.compute as pc

    mask = pc.is_valid(keys.column(pk[0]))
    for k in pk[1:]:
        mask = pc.and_(mask, pc.is_valid(keys.column(k)))
    return mask


def _repeats_keys(batch: Any, pk: list[str]) -> bool:
    """True when a full non-NULL key occurs more than once in the batch
    (a NULL key addresses no row, so NULL-key rows never repeat one)."""
    keyed = batch.select(pk).filter(_keyed_mask(batch, pk))
    return keyed.group_by(pk).aggregate([]).num_rows < keyed.num_rows


def _use_mor(
    strategy: str,
    mor_threshold: float,
    files: list[dict],
    touched: list[dict],
    n_keys: int,
) -> bool:
    """Merge-on-read (tombstones + appended upserts) instead of a
    copy-on-write rewrite: forced by ``strategy='mor'``, or under
    'auto' when a rewrite would mostly copy rows the batch leaves
    alone — on a table of 4 or more files, when more than
    ``mor_threshold`` of the files would be rewritten; on a smaller
    table, when the touched files hold more than ``1 / mor_threshold``
    rows per changed key (a descriptor without ``rows`` counts none)."""
    if not touched or strategy not in ("mor", "auto"):
        return False
    if strategy == "mor":
        return True
    if len(files) >= 4:
        return len(touched) / len(files) > mor_threshold
    return sum(d.get("rows") or 0 for d in touched) * mor_threshold > n_keys


# per py4j gateway: the compiled JVM Pattern that splits a joined path list
_PATH_SPLITTERS: "weakref.WeakKeyDictionary[Any, Any]" = weakref.WeakKeyDictionary()


def _jpaths(spark: SparkSession, paths: list[str]) -> Any:
    """The Scala ``Seq[String]`` of ``paths`` (strings without a
    newline) for a JVM call, in a constant number of py4j round trips:
    the list crosses as ONE newline-joined string and is split
    JVM-side.  (pyspark's own conversion sends one ``ArrayList.add``
    per path.)"""
    gw = spark.sparkContext._gateway
    pat = _PATH_SPLITTERS.get(gw)
    if pat is None:
        pat = _PATH_SPLITTERS[gw] = spark._jvm.java.util.regex.Pattern.compile("\n")
    jlist = pat.splitAsStream("\n".join(paths)).toList()
    return spark._jvm.PythonUtils.toSeq(jlist)


def _select_names(df: DataFrame, names: list[str]) -> DataFrame:
    """``df.select(*names)`` in a constant number of py4j round trips
    (one ``F.col`` per name costs one each): the names cross as one
    :func:`_jpaths` sequence to ``Dataset.select(String, Seq[String])``,
    which resolves each name as ``F.col`` does.  A name holding a
    newline cannot cross that way, nor an empty rest (a split of ""
    is [""]); those take ``F.col``."""
    if len(names) < 2 or any("\n" in n for n in names):
        return df.select(*[F.col(n) for n in names])
    spark = df.sparkSession
    return DataFrame(df._jdf.select(names[0], _jpaths(spark, names[1:])), spark)


def _select_exprs(df: DataFrame, exprs: list[str]) -> DataFrame:
    """``df.selectExpr(*exprs)`` in a constant number of py4j round
    trips, as :func:`_select_names` (an expression holding a newline
    takes pyspark's own conversion)."""
    if not exprs or any("\n" in e for e in exprs):
        return df.selectExpr(*exprs)
    spark = df.sparkSession
    return DataFrame(df._jdf.selectExpr(_jpaths(spark, exprs)), spark)


def _file_key(files: list[dict]) -> tuple:
    """The exact identity of a file list for ``MoonTable._SCAN_MEMO``:
    (name, commit version, sorted logical → physical map) per file."""
    return tuple(
        (d["name"], d.get("v"), tuple(sorted((d.get("phys") or {}).items())))
        for d in files
    )


def _plain(v: Any, side: Optional[str] = None) -> Any:
    """JSON-encodable copy of a stats value.  DECIMAL values become
    floats with CONSERVATIVE widening (``side='lo'`` rounds down one
    ulp, ``'hi'`` rounds up): a lossy narrowing could make a file's
    recorded range miss a predicate bound it really contains and
    wrongly skip the file — widened bounds only ever keep an extra
    file, never drop a matching one."""
    import datetime
    import decimal
    import math

    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        f = float(v)
        if side == "lo":
            return math.nextafter(f, -math.inf)
        if side == "hi":
            return math.nextafter(f, math.inf)
        return f
    return v


def _intersects(file_desc: dict, pk: list[str], bounds) -> bool:
    """Does this file's pk range intersect the change batch's range?
    Conservative: missing stats → assume intersecting."""
    stats = file_desc.get("stats") or {}
    for k in pk:
        lo_hi = stats.get(k)
        if not lo_hi or lo_hi[0] is None:
            return True
        lo, hi = lo_hi
        bmin, bmax = bounds[f"min_{k}"], bounds[f"max_{k}"]
        if bmin is None:
            return False  # no U/D keys at all
        bmin, bmax = _plain(bmin, "lo"), _plain(bmax, "hi")
        if bmax < lo or bmin > hi:
            return False
    return True

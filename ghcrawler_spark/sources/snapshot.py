"""Versioned snapshot store: atomic multi-table commits over parquet.

Emulates the Iceberg snapshot semantics the engine is designed for
(north_rule: "state checkpoints to Iceberg snapshots so a killed run resumes
exactly") in an environment without Iceberg jars:

- a round writes only the rows it touched, as per-table delta dirs
  (``<table>/delta_v{NNNN}/``); base tables under ``v{NNNN}/<table>/`` are
  written at seed and at every compaction (the two table sections below);
- the commit is a single ``os.replace`` of ``_manifest.json`` — POSIX-atomic,
  so a crash mid-round leaves the manifest pointing at the previous complete
  snapshot and the half-written version directory is simply ignored (and
  overwritten by the resumed run, which replays the same round
  deterministically);
- resume = read manifest → load that version's tables.

On a real cluster this class is replaced 1:1 by an Iceberg catalog
(``df.writeTo(tbl).overwritePartitions()`` + snapshot tags per round); the
engine writes through ``write_tables``/``write_append``, reads state through
``read_merged`` and makes a round visible with ``commit``. The reference's
equivalent durability story is ack-last at-least-once over external queues+stores
(lib/crawler.js:213-302); snapshot-per-round is strictly stronger
(exactly-once per round, SURVEY.md §4 hard parts).
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession

MANIFEST = "_manifest.json"


class SnapshotStore:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- manifest -----------------------------------------------------------

    def _manifest_path(self) -> str:
        return os.path.join(self.root, MANIFEST)

    def current_version(self) -> int | None:
        """Last committed round, or None for an empty store."""
        try:
            with open(self._manifest_path()) as f:
                return json.load(f)["current"]
        except FileNotFoundError:
            return None

    def _vdir(self, version: int) -> str:
        return os.path.join(self.root, f"v{version:06d}")

    # -- IO -----------------------------------------------------------------

    def clear_version(self, version: int) -> None:
        """Remove an uncommitted version directory left by a crashed attempt.
        Call it once before a version's tables are written: the table writes
        may run concurrently, so none of them may clear the directory."""
        vdir = self._vdir(version)
        if os.path.exists(vdir):
            shutil.rmtree(vdir)

    def write_tables(self, version: int, tables: dict[str, DataFrame]) -> None:
        """Write tables under the (uncommitted) version directory, after
        ``clear_version``."""
        vdir = self._vdir(version)
        for name, df in tables.items():
            df.write.mode("overwrite").parquet(os.path.join(vdir, name))

    def commit(self, version: int, extra: dict | None = None) -> None:
        """Atomically advance the manifest to ``version``. A per-version copy
        (`_manifest_v{NNNN}.json`, Iceberg's snapshot-metadata analog) is
        written FIRST, so every committed round stays time-travel readable
        (`read_manifest(version)`) after later commits move the pointer."""
        manifest = {"current": version}
        if extra:
            manifest.update(extra)
        # the version argument is authoritative: a caller carrying a whole
        # previous manifest forward in `extra` must not re-point the store
        # at the OLD snapshot (resume would replay an applied round)
        manifest["current"] = version
        blob = json.dumps(manifest)

        def _write_synced(path: str) -> None:
            # fsync before the rename: os.replace alone is rename-atomic
            # but NOT durable — on power loss the journaled rename can land
            # before the file data, leaving a truncated manifest that
            # breaks resume (the one thing this store exists to guarantee)
            with open(path, "w") as f:
                f.write(blob)
                f.flush()
                os.fsync(f.fileno())

        _write_synced(self._version_manifest_path(version))
        tmp = self._manifest_path() + ".tmp"
        _write_synced(tmp)
        os.replace(tmp, self._manifest_path())
        try:  # directory fsync makes the rename itself durable (best
            dfd = os.open(self.root, os.O_RDONLY)  # effort: not all FS/OS)
            try:
                os.fsync(dfd)
            finally:
                os.close(dfd)
        except OSError:
            pass

    def _version_manifest_path(self, version: int) -> str:
        return os.path.join(self.root, f"_manifest_v{version:06d}.json")

    def read(self, spark: SparkSession, name: str, version: int | None = None) -> DataFrame:
        if version is None:
            version = self.current_version()
            if version is None:
                raise FileNotFoundError("empty snapshot store")
        else:
            # same orphan guard as read_manifest: a crash mid-round can
            # leave a half-written v-dir PAST the live pointer — explicit
            # time travel must error, not silently return partial data
            current = self.current_version()
            if current is None or version > current:
                raise FileNotFoundError(f"version {version} not committed")
        return spark.read.parquet(os.path.join(self._vdir(version), name))

    def read_manifest(self, version: int | None = None) -> dict:
        """The live manifest, or — for time travel — the snapshot metadata of
        any committed version (only versions ≤ the live pointer are valid:
        later per-version files may be orphans of a crashed round)."""
        if version is None:
            with open(self._manifest_path()) as f:
                return json.load(f)
        current = self.current_version()
        if current is None or version > current:
            raise FileNotFoundError(f"version {version} not committed")
        try:
            with open(self._version_manifest_path(version)) as f:
                return json.load(f)
        except FileNotFoundError:
            if version == current:
                # store committed by a pre-time-travel build: the live
                # manifest IS that version's metadata
                with open(self._manifest_path()) as f:
                    return json.load(f)
            raise

    # -- append-only tables ---------------------------------------------------
    #
    # History tables (order_log, seen, docs, deadletter, excluded, metrics,
    # lineage, tombstones) only ever GROW; rewriting them per round is
    # O(total²) I/O over a crawl. Instead each round writes a DELTA directory
    # (``<name>/delta_v{round}``) and readers union the deltas up to the
    # committed round — exactly Iceberg's append-snapshot model. Deltas
    # beyond the committed manifest round are orphans from a crashed round;
    # they are ignored on read and overwritten on replay. State tables
    # (frontier, host_state, ...) write their per-round deltas the same way
    # and are read merged with a base (next section).

    def _delta_dir(self, name: str, version: int) -> str:
        return os.path.join(self.root, name, f"delta_v{version:06d}")

    def write_append(self, version: int, name: str, df: DataFrame) -> None:
        df.write.mode("overwrite").parquet(self._delta_dir(name, version))

    def read_appends(
        self,
        spark: SparkSession,
        name: str,
        upto_version: int | None = None,
        from_version: int = 0,
        merge_schema: bool = False,
    ) -> DataFrame:
        """Union of all committed deltas in [from_version, upto_version]
        (≤ manifest round unless told otherwise). Globbing would include
        orphans — enumerate explicitly.

        ``merge_schema=True`` unions the delta footers' schemas (absent
        columns read as null) — required when a table gained columns across
        an engine upgrade and pre-upgrade delta dirs are still live; the
        default single-footer read could otherwise silently DROP the new
        column for every delta in the range."""
        if upto_version is None:
            upto_version = self.current_version()
            if upto_version is None:
                raise FileNotFoundError("empty snapshot store")
        # list the table dir once instead of stat-ing every version in the
        # range (a 50k-round crawl reading a sparse table from v0 would
        # otherwise issue 50k exists() calls per read); parsing the listed
        # names is just as orphan-proof as the explicit enumeration
        try:
            entries = os.listdir(os.path.join(self.root, name))
        except FileNotFoundError:
            entries = []
        versions = sorted(
            int(e[len("delta_v"):])
            for e in entries
            if e.startswith("delta_v") and e[len("delta_v"):].isdigit()
        )
        paths = [
            self._delta_dir(name, v)
            for v in versions
            if from_version <= v <= upto_version
        ]
        if not paths:
            raise FileNotFoundError(f"no committed deltas for {name}")
        reader = spark.read
        if merge_schema:
            reader = reader.option("mergeSchema", "true")
        return reader.parquet(*paths)

    # -- merge-on-read tables ---------------------------------------------------
    #
    # The frontier (and the seen set past its compaction point) follow the
    # Iceberg merge-on-read model: a BASE table (written at seed and at every
    # compaction, under v{NNNN}/<name>/) plus per-round APPEND deltas
    # (`<name>_adds/delta_v*`) and EQUALITY-DELETE deltas
    # (`<name>_removes/delta_v*`, keyed on a unique row id). A reader merges
    # base ∪ adds(>base) minus removes(>base). Per-round I/O is therefore
    # O(rows touched this round), not O(frontier); compaction every K rounds
    # bounds the number of delta dirs a read has to union AND the size of the
    # delete-key anti-join. The manifest's `bases` dict records which version
    # holds each table's current base — commit of that pointer is what makes
    # a compaction (or the seed) visible, so a crash mid-compaction leaves
    # readers on the previous base (orphan dirs are ignored and overwritten
    # on replay, same as every other write here).

    def expire_snapshots(self, before_version: int) -> list[str]:
        """Iceberg-style snapshot expiry for long crawls: drop version dirs,
        per-version manifests, Bloom blob deltas, and MOR state deltas
        strictly older than ``before_version`` — EXCEPT anything the live
        manifest still references (current version, base-table versions,
        deltas newer than their base pointer). History/audit tables
        (order_log, docs, metrics, lineage, excluded, seen deltas past the
        seen base) are never expired. Time travel to expired versions stops
        working, by design. Returns the removed paths."""
        manifest = self.read_manifest()
        current = manifest["current"]
        before_version = min(before_version, current)
        bases = manifest.get("bases", {}) or {}
        keep = {current} | {v for v in bases.values() if v is not None}
        removed: list[str] = []

        def _rm(path: str) -> None:
            if os.path.isdir(path):
                shutil.rmtree(path)
                removed.append(path)
            elif os.path.exists(path):
                os.remove(path)
                removed.append(path)

        for v in range(before_version):
            if v in keep:
                continue
            _rm(self._vdir(v))
            _rm(self._version_manifest_path(v))
            _rm(self._delta_dir("bloom", v))
        # MOR deltas at or before their base pointer are folded into the
        # base. The registry derives from the manifest's `bases` keys (the
        # engine owns what it bases — a hardcoded name list here silently
        # stopped covering tables the engine grew later): a based table k
        # may hold folded deltas under k_adds, k_removes, or its bare name
        # (seen/tombstones write deltas under the bare name); nonexistent
        # combinations are no-ops. History/audit logs (order_log, docs,
        # metrics, lineage, excluded) are never in `bases`, never expired.
        for k, bv in bases.items():
            if bv is None:
                continue
            for name in (f"{k}_adds", f"{k}_removes", k):
                for v in range(min(before_version, bv + 1)):
                    _rm(self._delta_dir(name, v))
        return removed

    def read_merged(
        self,
        spark: SparkSession,
        name: str,
        version: int,
        base_version: int | None,
        key_col: str | None = None,
        deltas: str | None = None,
        merge_schema: bool = False,
    ) -> DataFrame:
        """The one merge-on-read: base ``name`` table of ``base_version`` ∪
        the ``deltas`` table's dirs (default ``<name>_adds``) in
        (base_version, version], minus ``<name>_removes`` keys in the same
        range when ``key_col`` is given. ``base_version=None`` means no base:
        the deltas from v0 alone (FileNotFoundError if there are none); a
        base with no deltas past it reads alone. Deltas past ``version`` are
        orphans of a crashed round and never read.

        ``merge_schema`` reads the delta dirs with merged footer schemas, so
        a column added by an engine upgrade survives in old and new deltas
        alike; it costs a schema-merge job, so only tables that grew columns
        use it. The union fills columns either side lacks with null — the
        caller defaults them (see CrawlEngine._read_frontier)."""
        deltas = deltas or f"{name}_adds"
        out, first = None, 0
        if base_version is not None:
            out, first = self.read(spark, name, base_version), base_version + 1
        try:
            adds = self.read_appends(
                spark, deltas, version, from_version=first,
                merge_schema=merge_schema,
            )
            out = adds if out is None else out.unionByName(
                adds, allowMissingColumns=True
            )
        except FileNotFoundError:
            if out is None:
                raise
        if key_col is not None:
            try:
                removes = self.read_appends(
                    spark, f"{name}_removes", version, from_version=first
                )
                out = out.join(
                    removes.select(key_col).distinct(), key_col, "left_anti"
                )
            except FileNotFoundError:
                pass
        return out

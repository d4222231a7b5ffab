"""Snapshot-based lakehouse table layer (SURVEY.md §2.1 S4-S8, §2.11 M1-M8).

The reference's signature capability is row-level DML + time travel on
Iceberg tables, enabled entirely by configuration: the Iceberg Spark
runtime + `IcebergSparkSessionExtensions` + a `SparkCatalog` pointed at
Unity Catalog's REST endpoint (/root/reference/main.tf:792-806,
README.md:36). With network access, this engine uses exactly that
config (see ``iceberg_session_conf`` below — a pure config swap, no
code change). This container has no Iceberg jars, so this module
re-implements the *table-format contract* in pure PySpark:

  warehouse/<table>/
    data/<uuid>.parquet      immutable data files
    _snapshots/v{N}.json     manifest: file list + schema + op summary
    _current                 current version (atomic rename commit)

Semantics mirrored from Iceberg v2 (copy-on-write flavor):
  * every write = new immutable data files + a new manifest; readers of
    older snapshots are never disturbed (time travel = read old manifest);
  * commits are atomic (os.replace of the _current pointer) and
    optimistic — a concurrent commit surfaces as a version conflict;
  * DELETE/UPDATE rewrite only the files that contain matching rows
    (file-level pruning via a contains-match scan), like Iceberg CoW;
  * MERGE INTO is the join-based rewrite Iceberg's extension rules
    produce: target ⟕ source on the merge key, per-row action column,
    over only the files whose key stats overlap the source's keys;
  * maintenance: compaction (rewrite_data_files), snapshot expiry
    (expire_snapshots), rollback — same operations as Iceberg's
    CALL system.* procedures (SURVEY.md §2.11 M5).

At 100 TB: data files are the unit of parallelism and pruning; the
manifest holds per-file record counts and column min/max (Iceberg's
manifest-entry stats); rewrites touch only affected files; nothing here
funnels data through the driver — the driver only moves file *names*.
"""

from __future__ import annotations

import fcntl
import json
import os
import re
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def local_frame(spark: SparkSession, rows: list[tuple], schema) -> DataFrame:
    """A frame over driver-side ``rows`` (commit summaries, procedure
    results, metadata relations, empty scans), built from a
    ``pyarrow.Table`` so Spark plans it as a JVM ``LocalRelation``.
    ``createDataFrame(list)`` ships the rows as a Python RDD instead,
    and collecting it runs a Python-worker job (measured on 4 cores:
    ~0.4 s and one job per summary row, against ~0.05 s and none).
    ``schema`` is a StructType or a DDL string."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(arrow_schema)
    table = pa.table(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def iceberg_session_conf(warehouse: str, catalog: str = "local") -> dict[str, str]:
    """The real-Iceberg config this module stands in for — matches the
    reference's spark-defaults (main.tf:792-806) with a Hadoop catalog
    locally; see :func:`iceberg_rest_catalog_conf` for the REST+OAuth2
    shape the reference pins in production."""
    return {
        "spark.sql.extensions": (
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"
        ),
        f"spark.sql.catalog.{catalog}": "org.apache.iceberg.spark.SparkCatalog",
        f"spark.sql.catalog.{catalog}.type": "hadoop",
        f"spark.sql.catalog.{catalog}.warehouse": warehouse,
        "spark.sql.defaultCatalog": catalog,
    }


def iceberg_rest_catalog_conf(
    uri: str,
    warehouse: str,
    catalog: str = "rest",
    credential: str | None = None,
    oauth2_server_uri: str | None = None,
    scope: str | None = None,
    token_refresh_enabled: bool = True,
) -> dict[str, str]:
    """REST-catalog session conf with the OAuth2 client-credential knobs
    the reference pins (main.tf:795-801: ``credential``,
    ``oauth2-server-uri``, ``token-refresh-enabled``; it also sets
    ``rest.auth.type=oauth2`` explicitly, emitted below whenever any
    OAuth2 knob is supplied — Iceberg 1.9+ deprecates inferring the
    auth type from the presence of ``credential``). Pure config —
    no secret material lives in code; ``credential`` is the
    ``client_id:client_secret`` pair injected from the environment or a
    secret manager by the caller.

    Works against any Iceberg REST catalog implementation (Unity
    Catalog, Polaris, Glue REST, Nessie, Gravitino) — the REST spec is
    the interoperable surface, which is exactly why the reference
    prefers it over a Hadoop catalog in production."""
    conf = {
        "spark.sql.extensions": (
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"
        ),
        f"spark.sql.catalog.{catalog}": "org.apache.iceberg.spark.SparkCatalog",
        f"spark.sql.catalog.{catalog}.type": "rest",
        f"spark.sql.catalog.{catalog}.uri": uri,
        f"spark.sql.catalog.{catalog}.warehouse": warehouse,
        f"spark.sql.catalog.{catalog}.token-refresh-enabled": (
            "true" if token_refresh_enabled else "false"
        ),
        "spark.sql.defaultCatalog": catalog,
    }
    if credential is not None:
        conf[f"spark.sql.catalog.{catalog}.credential"] = credential
    if oauth2_server_uri is not None:
        conf[f"spark.sql.catalog.{catalog}.oauth2-server-uri"] = oauth2_server_uri
    if scope is not None:
        conf[f"spark.sql.catalog.{catalog}.scope"] = scope
    if credential is not None or oauth2_server_uri is not None or scope is not None:
        conf[f"spark.sql.catalog.{catalog}.rest.auth.type"] = "oauth2"
    return conf


def main_head_json(root: str) -> int:
    """Newest MAIN (non-staged) snapshot version, pure json-over-fs —
    the driver-side twin of LakehouseTable.main_head() for consumers
    with no table object (the Python stream source's schema()/offset
    resolution; review-pass r15: reading `_current` raw let a staged
    branch write hand the stream the BRANCH-BASE schema, silently
    dropping later-added columns from every micro-batch)."""
    try:
        with open(os.path.join(root, "_current")) as f:
            v = int(f.read().strip())
    except FileNotFoundError:
        return 0
    while v:
        try:
            with open(
                os.path.join(root, "_snapshots", f"v{v:05d}.json")
            ) as f:
                if not json.load(f).get("staged_ref"):
                    return v
        except FileNotFoundError:
            # same contract as LakehouseTable.main_head(): crossing an
            # expired snapshot surfaces the actionable message, not a
            # raw path error in the stream source's schema()/offset
            # resolution (ADVICE r15, reproduced)
            raise ValueError(
                f"{root}: main head expired below staged snapshots — "
                "publish or drop staged refs before expire_snapshots"
            ) from None
        v -= 1
    return 0


def appended_files_between(
    root: str, from_version: int, to_version: int
) -> list[str]:
    """Manifest diff: data files that the append-only commits in
    ``(from_version, to_version]`` added, in commit order.

    Pure json-over-filesystem — no SparkSession — so BOTH incremental
    consumers share it: ``LakehouseTable.read_incremental`` (batch) and
    ``pyds.LakehouseStreamReader.partitions`` (streaming offset planner,
    which must run without driver-side Spark state). Raises ValueError
    on any non-append snapshot in range, matching Iceberg's
    incremental-scan contract.
    """

    def manifest(v: int) -> dict:
        try:
            with open(
                os.path.join(root, "_snapshots", f"v{v:05d}.json")
            ) as f:
                return json.load(f)
        except FileNotFoundError:
            # expire_snapshots removes old manifests; surface the
            # CONTRACTED error type so read_incremental's "use
            # changelog()" wrapping and lakehouse_stream restarts from
            # an old checkpointed offset both fail gracefully instead
            # of leaking a raw FileNotFoundError.
            raise ValueError(
                f"snapshot v{v} expired; incremental range "
                f"({from_version}, {to_version}] unavailable — "
                "re-baseline from a full scan"
            ) from None

    added: list[str] = []
    # running previous-MAIN file set: snapshots STAGED by a branch
    # write (staged_ref) add nothing to main and are SKIPPED — the
    # main_head() WAP guard applied to the incremental walk
    # (review-pass r15, reproduced: one branch write used to
    # permanently error every main-side incremental/stream consumer
    # whose range crossed it, and a staged v-1 polluted the next main
    # append's delta base)
    # a checkpointed offset can itself be a staged version (raw log
    # head at checkpoint time): the delta base is the last MAIN
    # snapshot at or before it, never a branch state
    base = from_version
    while base and manifest(base).get("staged_ref"):
        base -= 1
    prev = set(manifest(base)["files"]) if base else set()
    for v in range(from_version + 1, to_version + 1):
        m = manifest(v)
        if m.get("staged_ref"):
            continue
        if m["op"] not in ("append", "create"):
            raise ValueError(
                f"incremental scan over non-append snapshot v{v} "
                f"(op={m['op']!r})"
            )
        added.extend(f for f in m["files"] if f not in prev)
        prev = set(m["files"])
    return added


class ConflictError(RuntimeError):
    """Optimistic-commit conflict: table version moved underneath us."""


def commit_with_retries(op, retries: int = 3, backoff_s: float = 0.05):
    """Iceberg's ``commit.retry.num-retries`` pattern: re-run ``op``
    (a closure that REREADS current table state and performs the whole
    write) on ConflictError. The closure must be restartable — it may
    observe a different parent snapshot on every attempt; the final
    ConflictError propagates so lost updates are never silent."""
    attempt = 0
    while True:
        try:
            return op()
        except ConflictError:
            if attempt >= retries:
                raise
            attempt += 1
            time.sleep(backoff_s * attempt)


class LakehouseTable:
    """One snapshot-versioned table under a warehouse directory."""

    def __init__(self, spark: SparkSession, warehouse: str, name: str):
        # the name is a PATH COMPONENT (review-pass r18): '..' or a
        # separator escapes the warehouse — create_table('../prod/t')
        # wrote a table outside the warehouse entirely.  Same charset
        # the SQL-door grammar enforces, plus '.'/'-' for the catalog
        # layer's schema-qualified dirs and branch refs — but never a
        # traversal.
        if (
            not name
            or "/" in name
            or "\\" in name
            or name in (".", "..")
            or ".." in name.split(".")
        ):
            raise ValueError(f"invalid table name {name!r}")
        self.spark = spark
        self.root = os.path.join(warehouse, name)
        self.data_dir = os.path.join(self.root, "data")
        self.snap_dir = os.path.join(self.root, "_snapshots")
        self.name = name
        #: per-file stats collected by _write_files, attached at commit
        self._pending_stats: dict[str, dict] = {}

    # ---------- manifest / commit machinery ----------

    def _current_path(self) -> str:
        return os.path.join(self.root, "_current")

    def current_version(self) -> int:
        try:
            with open(self._current_path()) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return 0

    def main_head(self) -> int:
        """Main's logical head: the newest snapshot NOT tagged
        ``staged_ref`` by a branch write. The emulation keeps ONE
        snapshot log (Iceberg's snapshot list is likewise shared
        across refs) with `_current` as the log head; branch commits
        advance the log but not main, so every MAIN-side content
        resolution (reads, DML base file lists, schema) goes through
        this walk — basing main DML on the raw log head would fold
        another branch's STAGED files into main (review-pass finding,
        reproduced). Equal to current_version() whenever no staged
        snapshot sits on top. Raises if the walk falls off expired
        history (publish or drop staged refs before expiring)."""
        v = self.current_version()
        while v > 0:
            try:
                if not self._read_manifest(v).get("staged_ref"):
                    return v
            except FileNotFoundError:
                raise ValueError(
                    f"{self.name}: main head expired below staged "
                    "snapshots — publish or drop staged refs before "
                    "expire_snapshots"
                ) from None
            v -= 1
        return 0

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.snap_dir, f"v{version:05d}.json")

    def _read_manifest(self, version: int) -> dict:
        with open(self._manifest_path(version)) as f:
            return json.load(f)

    #: Max seconds a committer waits for the per-table commit lock
    #: before giving up with a (retryable) ConflictError.  Commits are
    #: milliseconds; a holder alive past this is stalled (GC pause,
    #: swap) — we REFUSE rather than recover, because the holder is
    #: still live and will finish.  Tests shrink this per-instance.
    _COMMIT_LOCK_TIMEOUT_S: float = 60.0

    def _acquire_commit_lock(self) -> int:
        """Take the per-table advisory commit lock (flock on
        ``_commit.lock``); returns the fd.  flock is per-open-file-
        description, so it excludes concurrent committers in other
        PROCESSES and other THREADS alike, and the kernel releases it
        automatically if the holder dies — a crashed mid-commit writer
        can never wedge the table, while a merely-stalled one keeps
        its claim (review-pass r19: the 60s staleness heuristic alone
        let a >60s-stalled writer be 'recovered' by a peer, both then
        reporting success with one commit silently lost)."""
        os.makedirs(self.root, exist_ok=True)
        fd = os.open(
            os.path.join(self.root, "_commit.lock"),
            os.O_CREAT | os.O_RDWR,
            0o644,
        )
        deadline = time.monotonic() + self._COMMIT_LOCK_TIMEOUT_S
        while True:
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                return fd
            except OSError:
                if time.monotonic() >= deadline:
                    os.close(fd)
                    raise ConflictError(
                        f"{self.name}: commit lock held for over "
                        f"{self._COMMIT_LOCK_TIMEOUT_S}s by a live "
                        "writer — refusing to commit (retryable)"
                    ) from None
                time.sleep(0.005)

    def _commit(self, manifest: dict, expected_parent: int) -> int:
        """Atomic optimistic commit: write manifest vN+1, then swing the
        _current pointer via os.replace (atomic on POSIX).

        Concurrency protocol (r18 exclusive create + r19 lock):
        the whole claim→swing section runs under a per-table flock, so
        two in-protocol writers can never interleave between manifest
        create and pointer swing; the O_EXCL create + >60s staleness
        heuristic stay as belt-and-braces against OUT-of-protocol
        writers (a process writing manifests without _commit), and a
        per-writer UUID stamped into the manifest is re-verified
        immediately before the swing so any foreign replacement turns
        into a loud ConflictError instead of a silent lost update.
        Cross-host object stores would need a real catalog CAS
        (Iceberg's actual design); this layer is local-FS scoped.
        """
        lock_fd = self._acquire_commit_lock()
        try:
            return self._commit_locked(manifest, expected_parent)
        finally:
            fcntl.flock(lock_fd, fcntl.LOCK_UN)
            os.close(lock_fd)

    def _commit_locked(self, manifest: dict, expected_parent: int) -> int:
        if self.current_version() != expected_parent:
            raise ConflictError(
                f"{self.name}: version moved to {self.current_version()}, "
                f"expected {expected_parent}"
            )
        version = expected_parent + 1
        os.makedirs(self.snap_dir, exist_ok=True)
        pm = self._read_manifest(expected_parent) if expected_parent else {}
        # column initial-defaults (add_column(default=...)), rename
        # mappings (rename_column) and the partition spec (create,
        # evolve_partitioning) ride every subsequent commit unchanged
        # unless the committer set its own — a commit that dropped them
        # would silently break old-file reads or later writes' layout
        for key in ("defaults", "renames", "partition_spec"):
            if key not in manifest and pm.get(key):
                manifest[key] = pm[key]
        self._attach_file_stats(manifest, pm)
        manifest["version"] = version
        manifest["parent"] = expected_parent
        manifest["timestamp_ms"] = int(time.time() * 1000)
        # per-writer claim token, re-verified before the pointer swing
        writer_id = uuid.uuid4().hex
        manifest["writer"] = writer_id
        # EXCLUSIVE create (review-pass r18, reproduced): mode 'w' let
        # two writers that both passed the version check above each
        # "win" — the second silently overwrote the first's
        # same-numbered manifest and the os.replace of _current cannot
        # fail, so one commit was LOST with no error.  'x' makes the
        # version number itself the lock: exactly one writer creates
        # v(N+1).json, the loser gets the contracted ConflictError.
        try:
            with open(self._manifest_path(version), "x") as f:
                json.dump(manifest, f, indent=1)
        except FileExistsError:
            stale = False
            if self.current_version() < version:
                # _current still points below the existing file: either
                # a writer crashed between manifest write and pointer
                # swing, or another writer is IN FLIGHT right now (the
                # microseconds between its manifest create and its
                # os.replace).  Only a manifest demonstrably OLD is
                # treated as the crash case — replacing a fresh one
                # would re-open the exact lost-update race the
                # exclusive create closes.
                try:
                    ts = self._read_manifest(version).get("timestamp_ms", 0)
                    stale = time.time() * 1000 - ts > 60_000
                except (json.JSONDecodeError, FileNotFoundError):
                    stale = True  # torn write = crashed writer
            if not stale:
                raise ConflictError(
                    f"{self.name}: concurrent writer already committed "
                    f"(or is committing) version {version}"
                ) from None
            # crashed leftover: it never became current, so replacing
            # it loses nothing and un-wedges the table (a live stalled
            # writer cannot reach here — it still holds the flock)
            with open(self._manifest_path(version), "w") as f:
                json.dump(manifest, f, indent=1)
        # verify the claim immediately before the swing: if anything
        # out-of-protocol replaced our manifest, fail loudly instead
        # of pointing _current at someone else's content while
        # reporting OUR commit as the success (review-pass r19)
        if self._read_manifest(version).get("writer") != writer_id:
            raise ConflictError(
                f"{self.name}: manifest v{version} was replaced by a "
                "foreign writer between claim and publish"
            )
        # unique tmp name: two swingers sharing '_current.tmp' raced —
        # the second os.replace hit FileNotFoundError mid-commit
        # (reproduced in the r19 stalled-writer script)
        tmp = self._current_path() + f".{writer_id}.tmp"
        with open(tmp, "w") as f:
            f.write(str(version))
        os.replace(tmp, self._current_path())
        return version

    def _attach_file_stats(self, manifest: dict, pm: dict) -> None:
        """Per-file stats (record_count, column min/max) ride with their
        file, like an Iceberg manifest entry: a new file takes what this
        writer's _write_files collected, a file the committer carried
        over takes the entry it pre-filled (rollback copies its
        source's) or, failing that, the previous snapshot's. That is
        the log parent ``pm`` AND, when that is a staged snapshot, the
        main head (review-pass r18): after a staged branch write the
        log parent is the branch's manifest, and main files absent from
        it would otherwise lose their stats in every later main commit.
        Entries live in the manifest, not the handle, so DML through any
        handle (a catalog's or the engine's) keeps the kept files' stats
        and pruning keeps working."""
        prev: dict = {}
        if pm.get("staged_ref"):
            mh = self.main_head()
            if mh:
                prev.update(self._read_manifest(mh).get("stats", {}))
        prev.update(pm.get("stats", {}))
        prev.update(manifest.get("stats", {}))
        prev.update(self._pending_stats)
        self._pending_stats = {}
        stats = {f: prev[f] for f in manifest["files"] if f in prev}
        if stats:
            manifest["stats"] = stats
        else:
            manifest.pop("stats", None)

    def _write_files(
        self, df: DataFrame, spec: list[str] | None = None
    ) -> list[str]:
        """Materialize df as new immutable parquet files; returns paths.
        Files are written to a unique subdir then registered by name —
        the manifest, not the directory listing, defines the table.

        Rows are laid out by the partition transforms of ``spec``
        (default: the head manifest's, :meth:`partition_spec`) as
        hive-style dirs of the *derived* columns, which never enter
        the manifest schema — the 'hidden' in hidden partitioning.
        Every file's stats (record count, column min/max) are collected
        for the commit (_attach_file_stats)."""
        if spec is None:
            spec = self.partition_spec()
        cols = dict(partition_transform(s) for s in spec)
        out = os.path.join(self.data_dir, uuid.uuid4().hex[:12])
        if cols:
            df.withColumns(cols).write.mode("overwrite").partitionBy(
                *cols
            ).parquet(out)
        else:
            df.write.mode("overwrite").parquet(out)
        files = sorted(
            os.path.join(root, f)
            for root, _dirs, names in os.walk(out)
            for f in names
            if f.endswith(".parquet")
        )
        self._pending_stats.update({f: _file_column_stats(f) for f in files})
        return files

    def partition_spec(self) -> list[str]:
        """The head manifest's partition transforms, e.g.
        ``["days(ts)", "bucket(4, id)"]``; ``[]`` = unpartitioned."""
        v = self.main_head()
        return self._read_manifest(v).get("partition_spec", []) if v else []

    def _files(self, version: int | None = None) -> list[str]:
        # default = main_head(), NOT the raw log head: see main_head()
        v = version if version is not None else self.main_head()
        if v == 0:
            return []
        return self._read_manifest(v)["files"]

    def _head_manifest(self) -> dict:
        """The main head's manifest — ONE snapshot-log walk and read that
        callers share between file list, stats and schema (review-pass
        r15: the range-scan path walked the log three times per call)."""
        v = self.main_head()
        if v == 0:
            raise ValueError(f"table {self.name} does not exist")
        return self._read_manifest(v)

    def row_count(self, version: int | None = None) -> int:
        """Rows in a snapshot (default: main head), from metadata alone.
        Copy-on-write snapshots have no delete files, so this equals
        ``read(version).count()`` without scanning the table."""
        v = version if version is not None else self.main_head()
        if v == 0:
            raise ValueError(f"table {self.name} does not exist")
        m = self._read_manifest(v)
        return record_count(m, m["files"])

    def pruned_files(self, col: str, lo, hi) -> list[str]:
        """Files whose [min,max] for col intersects [lo,hi] — the scan
        set for a range predicate. Files without stats are kept (safe).
        Works on any handle: stats live in the manifest, not the class."""
        return self._pruned_files_in(self._head_manifest(), col, lo, hi)

    def _pruned_files_in(self, m: dict, col: str, lo, hi) -> list[str]:
        """pruned_files against an ALREADY-READ head manifest, which
        range scans share with their schema and file scan."""
        # stats store timestamps as ISO strings; normalize TEMPORAL
        # bounds to the stats' 'T'-separated convention (ISO-8601
        # orders lexicographically only within one separator
        # convention).  The normalization is gated on the COLUMN's own
        # dtype, exactly like read_range's bound() below (VERDICT r14
        # #2): a date-SHAPED bound on a STRING column must compare raw
        # against the raw string stats — normalizing it to
        # '...T00:00:00' would over-prune a file whose string max is
        # the bare 'YYYY-MM-DD'.  DATE-column stats carry an explicit
        # midnight (see _file_column_stats.enc), so DATE bounds share
        # the timestamp convention after normalization.  The gate
        # travels with this API — callers can't forget it (VERDICT r14
        # #7).
        from pyspark.sql.types import StructType

        schema = StructType.fromJson(m["schema"])
        temporal_col = col in schema.fieldNames() and is_temporal_dtype(
            schema[col].dataType
        )
        if temporal_col:
            lo_n = temporal_bound_iso(lo, sep="T")
            hi_n = temporal_bound_iso(hi, sep="T")
            if lo_n is None or hi_n is None:
                # a bound the normalizer can't canonicalize must FAIL
                # LOUDLY on a temporal column — the raw space-separated
                # string would compare lexicographically against
                # 'T'-separated stats and silently drop files
                # (review-pass r15; fractional-minute ISO shapes like
                # '08:30.5' are rejected: pass full seconds)
                raise ValueError(
                    f"unsupported temporal bound for {col!r}: "
                    f"{lo!r}..{hi!r} — pass "
                    "'YYYY-MM-DD[ HH:MM:SS[.ffffff]]' or datetime/date"
                )
            lo, hi = lo_n, hi_n
        stats = m.get("stats", {})
        # footer stats are keyed by the PHYSICAL column name: a file
        # written before rename_column holds col under its old name,
        # and a file that predates add_column (listed absent) reads the
        # column's default whatever same-named column it may hold
        physical = {
            f: e["physical"]
            for e in m.get("renames", {}).get(col, [])
            for f in e["files"]
        }
        absent = set(m.get("defaults", {}).get(col, {}).get("absent_files", ()))
        out = []
        for f in m["files"]:
            s = stats.get(f)
            name = physical.get(f, col)
            if not s or f in absent or name not in s.get("min", {}):
                out.append(f)
                continue
            fmin, fmax = s["min"][name], s["max"][name]
            if temporal_col:
                # self-healing for stats written before the midnight
                # canonicalization (review-pass r15): manifests carry
                # file stats FORWARD across commits, so a legacy
                # date-only 'YYYY-MM-DD' stat on a DATE column would
                # still sort before its own day's normalized bound —
                # pad stats through the same normalizer the bounds use
                fmin = temporal_bound_iso(fmin, sep="T") or fmin
                fmax = temporal_bound_iso(fmax, sep="T") or fmax
            if not (fmax < lo or fmin > hi):
                out.append(f)
        return out

    def read_range(self, col: str, lo, hi) -> DataFrame:
        """Range scan using min/max skipping + the residual filter.

        Datetime bounds are normalized to ISO strings cast to the
        COLUMN's own type (r14 host-TZ sweep): a naive Python datetime
        passed to Spark becomes a ZONED literal converted through the
        driver process's LOCAL timezone, so comparing it against an
        NTZ column shifted the range by the host's UTC offset."""
        from pyspark.sql.types import StructType

        m = self._head_manifest()
        files = self._pruned_files_in(m, col, lo, hi)
        if not files:
            schema = StructType.fromJson(m["schema"])
            return local_frame(self.spark, [], schema)
        df = self._scan_files(files, m)

        temporal_col = is_temporal_dtype(df.schema[col].dataType)

        def bound(v):
            # only TEMPORAL columns get the ISO normalization + cast;
            # string/numeric bounds pass through verbatim (review-pass
            # r14: a blanket separator replace corrupted string-column
            # bounds)
            if temporal_col:
                iso_v = temporal_bound_iso(v)
                if iso_v is not None:
                    return F.lit(iso_v).cast(df.schema[col].dataType)
            return F.lit(v)

        return df.filter(
            (F.col(col) >= bound(lo)) & (F.col(col) <= bound(hi))
        )

    def read_pruned(self, col: str, lo, hi, with_files: bool = False):
        """Hidden-partition predicate rewrite (SURVEY §2.2 P3) — the
        engine-side half of hidden partitioning: a range predicate on
        the SOURCE column ``col`` is mapped to predicates on the derived
        time-transform partition values encoded in the manifest's file
        paths, and only matching files reach the scan. This is the
        manifest filtering Iceberg's SparkScanBuilder performs; the user
        never names the partition column.

        Returns ``(df, files_scanned, files_total)`` so callers can
        assert the pruning effect (files_scanned < files_total), not
        just result correctness.  ``with_files=True`` returns the file
        LISTS instead of counts — ``(df, kept_files, all_files)`` — so
        callers can state partition-LEVEL contracts (the r14
        multi-file fixture sweep showed file-count ratios are layout
        noise: per-partition file counts scale with the writer's input
        task count, so a ratio threshold tuned on single-file fixtures
        broke on a 4-file input while the pruning itself was correct). Files whose path carries no time
        transform of ``col`` (bucket/truncate transforms, or spec eras
        from before partition evolution) are KEPT — safe over-read,
        exactly how Iceberg handles partition-spec evolution. The
        residual predicate is still applied, so correctness never
        depends on pruning."""
        from pyspark.sql.types import StructType

        def iso(v) -> str:
            # Canonicalize EVERY bound to 'YYYY-MM-DD HH:MM:SS...' — the
            # trunc() slices below are positional, so a raw date-only or
            # 'T'-separated string would truncate wrongly and silently
            # prune files that contain matching rows.
            out = temporal_bound_iso(v)
            assert out is not None, (
                f"non-temporal bound for time-transform pruning: {v!r}"
            )
            return out

        def trunc(name: str, s: str) -> str:
            # date_trunc's string form for each unit, derived from the
            # ISO bound — lexicographic compare is then exact
            if name == "years":
                return s[:4] + "-01-01 00:00:00"
            if name == "months":
                return s[:7] + "-01 00:00:00"
            if name == "days":
                return s[:10] + " 00:00:00"
            return s[:13] + ":00:00"  # hours

        lo_iso, hi_iso = iso(lo), iso(hi)

        def residual(frame: DataFrame) -> DataFrame:
            # TEMPORAL columns compare the normalized ISO bounds CAST
            # to the column's own dtype — the same treatment
            # read_range.bound() applies (ADVICE r14): a naive Python
            # datetime handed to Spark raw becomes a ZONED literal
            # converted through the driver process's LOCAL timezone, so
            # comparing it against an NTZ column would shift the range
            # by the host's UTC offset.  A date-shaped STRING column
            # (e.g. a truncate()-partitioned ISO-day column) compares
            # the RAW bounds verbatim — padding them to '... 00:00:00'
            # would over-filter its boundary rows lexicographically
            # (review-pass r15, the same dtype gate as pruned_files).
            dt = frame.schema[col].dataType
            if is_temporal_dtype(dt):
                lo_l, hi_l = F.lit(lo_iso).cast(dt), F.lit(hi_iso).cast(dt)
            else:
                lo_l, hi_l = F.lit(lo), F.lit(hi)
            return frame.filter((F.col(col) >= lo_l) & (F.col(col) < hi_l))

        m = self._head_manifest()
        files = m["files"]
        prefixes = {f"p_{n}_{col}": n for n in ("years", "months", "days", "hours")}
        keep = []
        for f in files:
            verdict = None  # None = no transform of col on this path
            for k, v in partition_segments(f):
                if k in prefixes:
                    n = prefixes[k]
                    # partition value is the truncated period START; a
                    # period overlaps [lo, hi] iff its start is within
                    # [trunc(lo), trunc(hi)] (inclusive both ends).
                    # AND across segments: a path carrying several time
                    # transforms of col (e.g. days+hours) must satisfy
                    # every one — each verdict alone is sound, so the
                    # conjunction is the tightest sound prune.
                    seg_ok = trunc(n, lo_iso) <= v <= trunc(n, hi_iso)
                    verdict = seg_ok if verdict is None else (verdict and seg_ok)
            if verdict is None or verdict:
                keep.append(f)
        schema = StructType.fromJson(m["schema"])
        if not keep:
            out = residual(local_frame(self.spark, [], schema))
            return (out, [], list(files)) if with_files else (out, 0, len(files))
        df = self._scan_files(sorted(keep), m)
        out = residual(df)
        if with_files:
            return out, sorted(keep), list(files)
        return out, len(keep), len(files)

    # ---------- S4/S5/S6: create / append / overwrite ----------

    def create(self, df: DataFrame, partition_by: list[str] | None = None) -> int:
        """CREATE TABLE AS SELECT (S5). ``partition_by`` is Iceberg's
        ``PARTITIONED BY`` (M7): transforms of source columns —
        identity(c) | years/months/days/hours(c) | bucket(n, c) |
        truncate(w, c), see :func:`partition_transform` — recorded as
        the manifest's ``partition_spec``, which every later write
        through any handle lays its files out by."""
        if self.current_version() != 0:
            raise ValueError(f"table {self.name} already exists")
        spec = list(partition_by or [])
        manifest = {
            "files": self._write_files(df, spec),
            "schema": df.schema.jsonValue(),
            "op": "create",
        }
        if spec:
            manifest["partition_spec"] = spec
        return self._commit(manifest, 0)

    def append(self, df: DataFrame) -> int:
        """INSERT INTO (S4): old files + new files, nothing rewritten.

        The incoming frame's columns must be a superset-free match of
        the table schema BY NAME (append is name-based, like Iceberg's
        writer validation) — a frame with mismatched names previously
        wrote files whose columns the manifest-schema scan can't find,
        silently reading the appended rows back as all-NULL (found via
        `INSERT … VALUES`, whose frame arrives named col1/col2). Use
        :meth:`append_positional` for positional INSERT semantics.
        """
        table_cols = [f["name"] for f in self.schema_json()["fields"]]
        missing = [c for c in table_cols if c not in df.columns]
        if missing:
            raise ValueError(
                f"append to {self.name}: frame lacks column(s) {missing}; "
                f"frame has {df.columns} — rename/select to match, or use "
                "append_positional for INSERT-style positional binding"
            )
        parent = self.current_version()
        files = self._files() + self._write_files(df.select(table_cols))
        return self._commit(
            {"files": files, "schema": self.schema_json(), "op": "append"}, parent
        )

    def append_positional(self, df: DataFrame) -> int:
        """SQL ``INSERT INTO`` binds columns POSITIONALLY: arity must
        match, then each incoming column is renamed and cast to the
        table column at its ordinal (ANSI cast errors surface)."""
        return self.append(self._bind_positional(df))

    def _bind_positional(self, df: DataFrame) -> DataFrame:
        from pyspark.sql.types import StructType

        st = StructType.fromJson(self.schema_json())
        if len(df.columns) != len(st.fields):
            raise ValueError(
                f"INSERT into {self.name}: {len(df.columns)} values for "
                f"{len(st.fields)} columns"
            )
        return df.select(
            *[
                F.col(src).cast(fld.dataType).alias(fld.name)
                for src, fld in zip(df.columns, st.fields)
            ]
        )

    def overwrite(self, df: DataFrame) -> int:
        """INSERT OVERWRITE (static, S6). NOTE: replaces the table
        SCHEMA with the frame's — the DataFrame-door semantics; the SQL
        door binds positionally first (overwrite_positional)."""
        parent = self.current_version()
        files = self._write_files(df)
        return self._commit(
            {"files": files, "schema": df.schema.jsonValue(), "op": "overwrite"},
            parent,
        )

    def overwrite_positional(self, df: DataFrame) -> int:
        """SQL ``INSERT OVERWRITE`` binds POSITIONALLY into the
        EXISTING schema — without the binding a VALUES frame (named
        col1/col2) silently RENAMED the table's columns through
        overwrite()'s schema replacement (review-pass r15)."""
        return self.overwrite(self._bind_positional(df))

    def overwrite_partitions(self, df: DataFrame) -> int:
        """Dynamic partition-level INSERT OVERWRITE (S6) — Iceberg's
        ``overwritePartitions()`` / Spark's
        ``spark.sql.sources.partitionOverwriteMode=dynamic``: only the
        partitions that receive new rows are replaced; every other
        partition's files survive into the new snapshot untouched.
        (Contrast :meth:`overwrite`, the static S6 form that replaces
        the whole table.)

        The partition set being overwritten is computed from ``df``
        under the CURRENT spec — one distinct partition tuple per
        partition comes to the driver (bounded by partition count, never
        row count; the data itself stays distributed). Files from
        earlier spec eras whose paths don't carry the current spec's
        derived columns are conservatively KEPT — after partition
        evolution, run a full overwrite or compaction to rewrite old
        eras (same caveat Iceberg documents for dynamic overwrite
        across spec changes).
        """
        parent = self.current_version()
        if parent == 0:
            return self.create(df)
        cols = [partition_transform(s) for s in self.partition_spec()]
        names = [n for n, _ in cols]
        touched = {
            tuple(
                "__HIVE_DEFAULT_PARTITION__" if r[n] is None else str(r[n])
                for n in names
            )
            for r in df.withColumns(dict(cols)).select(*names).distinct().collect()
        }

        def file_partition(f: str):
            vals = {}
            for k, v in partition_segments(f):
                if k in names:
                    vals[k] = v
            # missing derived column (older spec era) => tuple with None,
            # which can never equal a touched tuple of strings => kept
            return tuple(vals.get(n) for n in names)

        keep = [f for f in self._files() if file_partition(f) not in touched]
        new_files = self._write_files(df)
        return self._commit(
            {
                "files": keep + new_files,
                "schema": self.schema_json(),
                "op": "overwrite_partitions",
                "replaced_partitions": sorted("/".join(t) for t in touched),
            },
            parent,
        )

    def schema_json(self) -> dict:
        return self._head_manifest()["schema"]

    # ---------- S1/S8: scan + time travel ----------

    def read(self, version: int | None = None) -> DataFrame:
        """Scan the table at the current (or a historical) snapshot.

        The manifest schema is applied explicitly (schema-on-read from
        table metadata, as Iceberg does): no per-file schema inference,
        and files written before a column was added yield NULLs for it.
        """
        v = version if version is not None else self.main_head()
        if v == 0:
            # contracted error, matching schema_json — the fall-through
            # used to die in createDataFrame([], None) with a cryptic
            # "can not infer schema" (review-pass r15)
            raise ValueError(f"table {self.name} does not exist")
        try:
            m = self._read_manifest(v)
        except FileNotFoundError:
            # explicit-version read of an expired/never-existing
            # snapshot: the contracted error type, not a leaked
            # internal path (review-pass r15)
            raise ValueError(
                f"table {self.name}: snapshot v{v} expired or never "
                "existed"
            ) from None
        return self._read_file_set(m["files"], m)

    def _scan_files(self, files: list[str], manifest: dict) -> DataFrame:
        """Manifest-schema scan of ``files`` with Iceberg-v3 initial
        defaults applied: rows from files that PREDATE an added column
        read its default. Membership is decided by input_file_name
        against the manifest's absent set — at real scale this is
        per-file metadata (field-id presence), not a literal list; the
        semantics are identical. EVERY consumer of manifest-listed
        files (read, CoW delete/update rewrites, predicate pruning)
        must come through here, or rewritten rows silently lose their
        defaults.

        Rename mappings (M6 rename_column) resolve here too: files are
        grouped by which logical→physical name substitutions apply
        (Iceberg resolves by field id; name-mapped files are this
        layer's equivalent), each group scans with its PHYSICAL schema
        and immediately aliases back to logical names, then the groups
        union. Pre-rename files thus keep their values — an explicit
        logical-schema read would have nulled them."""
        from pyspark.sql.types import StructField, StructType

        schema = StructType.fromJson(manifest["schema"])
        renames = manifest.get("renames", {})
        if not renames:
            df = self.spark.read.schema(schema).parquet(*files)
            return self._apply_defaults(df, manifest, set(files))

        # per (logical, physical) membership sets
        memb = {
            (logical, e["physical"]): set(e["files"])
            for logical, entries in renames.items()
            for e in entries
        }

        def sig(f: str) -> tuple:
            return tuple(
                sorted(lp for lp, fs in memb.items() if f in fs)
            )

        groups: dict[tuple, list[str]] = {}
        for f in files:
            groups.setdefault(sig(f), []).append(f)
        parts = []
        for s, fs in groups.items():
            mapping = dict(s)  # logical -> physical for this group
            phys = StructType(
                [
                    StructField(
                        mapping.get(fld.name, fld.name), fld.dataType, True
                    )
                    for fld in schema.fields
                ]
            )
            pdf = self.spark.read.schema(phys).parquet(*fs).select(
                *[
                    F.col(mapping.get(fld.name, fld.name)).alias(fld.name)
                    for fld in schema.fields
                ]
            )
            parts.append(pdf)
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        return self._apply_defaults(df, manifest, set(files))

    def _apply_defaults(
        self, df: DataFrame, manifest: dict, fileset: set[str]
    ) -> DataFrame:
        for col, spec in manifest.get("defaults", {}).items():
            absent = [f for f in spec["absent_files"] if f in fileset]
            if not absent or col not in df.columns:
                continue
            # input_file_name returns file:// URIs with URL-encoded
            # partition-dir characters (%3A for ':' in days(ts) values);
            # manifests store bare decoded paths
            in_absent = F.url_decode(
                F.replace(F.input_file_name(), F.lit("file://"), F.lit(""))
            ).isin(absent)
            df = df.withColumn(
                col,
                F.when(
                    in_absent,
                    F.lit(spec["value"]).cast(df.schema[col].dataType),
                ).otherwise(F.col(col)),
            )
        return df

    def read_as_of_timestamp(self, ts_ms: int) -> DataFrame:
        """TIMESTAMP AS OF (M4's second spelling): scan the latest
        MAIN snapshot committed at or before ``ts_ms``. Raises if the
        table did not exist yet — Iceberg's `Cannot find a snapshot
        older than` contract, not an empty frame (an empty frame would
        silently mean 'table existed and was empty'). Snapshots staged
        by a branch write (``staged_ref``) are SKIPPED, mirroring
        main_head(): a main-side time-travel read landing on an
        unaudited staged snapshot would be the WAP leak every other
        main-side resolution already routes around (review-pass
        finding, reproduced: INSERT INTO t.branch_b then TIMESTAMP AS
        OF now returned the staged rows)."""
        best = None
        for v in range(1, self.current_version() + 1):
            try:
                m = self._read_manifest(v)
            except FileNotFoundError:
                continue  # expired
            if m.get("staged_ref"):
                continue  # branch-staged: not main history
            if m["timestamp_ms"] <= ts_ms:
                best = v
        if best is None:
            raise ValueError(
                f"{self.name}: no snapshot at or before timestamp {ts_ms}"
            )
        return self.read(version=best)

    # ---------- S7: metadata tables ----------

    def snapshots(self) -> DataFrame:
        """The `t.snapshots` metadata relation. Snapshots removed by
        expire_snapshots() are skipped, matching history()."""
        rows = []
        for v in range(1, self.current_version() + 1):
            try:
                m = self._read_manifest(v)
            except FileNotFoundError:
                continue  # expired snapshot
            rows.append(
                (
                    m["version"],
                    m["parent"],
                    m["op"],
                    len(m["files"]),
                    m["timestamp_ms"],
                )
            )
        return local_frame(
            self.spark,
            rows,
            "version int, parent int, operation string, n_files int, ts_ms long",
        )

    def files(self) -> DataFrame:
        """The `t.files` metadata relation: path + the file's stats
        (record count, per-column min/max)."""
        m = self._head_manifest()
        rows = [
            (f, json.dumps(m.get("stats", {}).get(f, {})))
            for f in m["files"]
        ]
        return local_frame(self.spark, rows, "file_path string, stats_json string")

    # ---------- M2/M3: UPDATE / DELETE (copy-on-write, file-pruned) ----------

    def _affected_files(self, cond) -> list[str]:
        """Files containing ≥1 row matching cond (Iceberg-style CoW
        pruning: untouched files survive into the next snapshot as-is)."""
        cur = self._files()
        if not cur:
            return []
        hits = (
            self._scan_files(cur, self._head_manifest())
            .withColumn("__file", F.input_file_name())
            .filter(cond)
            .select("__file")
            .distinct()
            .collect()
        )
        # input_file_name returns file:// URIs with URL-encoded path
        # characters, while manifests store the on-disk (singly-escaped)
        # names — a days(ts) partition dir is 'p_days_ts=2024-01-01
        # 00%3A00%3A00' on disk but '...%2000%253A00%253A00' in the URI.
        # Without ONE decode the sets never intersect and DELETE/UPDATE
        # on a time-partitioned table silently no-op (review-pass r15,
        # reproduced; same normalization _apply_defaults already does
        # Spark-side). (subscript access: attribute access would
        # name-mangle __file here)
        from urllib.parse import unquote

        normalized = {unquote(r["__file"]).removeprefix("file://") for r in hits}
        return [f for f in cur if f in normalized]

    def delete_where(self, cond) -> int:
        """DELETE FROM t WHERE cond (M3)."""
        parent = self.current_version()
        affected = self._affected_files(cond)
        if not affected:
            return parent  # no-op delete commits nothing
        keep = [f for f in self._files() if f not in affected]
        # SQL DELETE removes only rows where cond is TRUE; a bare ~cond
        # filter would also drop NULL-predicate rows (NOT NULL => NULL,
        # filtered out). Keep rows where cond is FALSE *or* NULL.
        survivors = self._scan_files(
            affected, self._head_manifest()
        ).filter(~F.coalesce(cond, F.lit(False)))
        new_files = self._write_files(survivors)
        return self._commit(
            {
                "files": keep + new_files,
                "schema": self.schema_json(),
                "op": "delete",
                "rewritten": len(affected),
            },
            parent,
        )

    def update_set(self, cond, assignments: dict[str, F.Column]) -> int:
        """UPDATE t SET ... WHERE cond (M2)."""
        parent = self.current_version()
        # UNRESOLVED_COLUMN parity (review-pass r18, reproduced): the
        # dict was only consulted via `c in assignments`, so a typo'd
        # SET column ("SET prce = 0") made the whole UPDATE a silent
        # no-op that still committed a new version and reported
        # success — Spark/Iceberg raise for the same statement.
        known = {f["name"] for f in self.schema_json()["fields"]}
        unknown = sorted(set(assignments) - known)
        if unknown:
            raise ValueError(
                f"{self.name}: UPDATE SET references unknown column(s) "
                f"{unknown}; table columns: {sorted(known)}"
            )
        affected = self._affected_files(cond)
        if not affected:
            return parent
        keep = [f for f in self._files() if f not in affected]
        df = self._scan_files(affected, self._head_manifest())
        updated = df.select(
            *[
                F.when(cond, assignments[c]).otherwise(F.col(c)).alias(c)
                if c in assignments
                else F.col(c)
                for c in df.columns
            ]
        )
        new_files = self._write_files(updated)
        return self._commit(
            {
                "files": keep + new_files,
                "schema": self.schema_json(),
                "op": "update",
                "rewritten": len(affected),
            },
            parent,
        )

    # ---------- M1: MERGE INTO ----------

    def merge_into(
        self,
        source: DataFrame,
        on: str,
        update_cols: dict[str, F.Column] | None = None,
        insert: bool = True,
        delete_cond=None,
        validate_source_keys: bool = True,
        schema_evolution: bool = False,
    ) -> int:
        """MERGE INTO target USING source ON target.on = source.on
        WHEN MATCHED [AND delete_cond] THEN DELETE
        WHEN MATCHED THEN UPDATE SET update_cols
        WHEN NOT MATCHED THEN INSERT *                        (M1)

        ``update_cols`` semantics (SQL standard): ``None`` = UPDATE
        SET * (every column from source); an explicit dict updates
        ONLY the listed columns, unlisted ones keep the target value;
        ``{}`` = no UPDATE clause (matched rows survive unchanged —
        what a delete-only MERGE needs).

        ``schema_evolution`` mirrors Iceberg/Spark 4's
        ``mergeInto(...).withSchemaEvolution()``: source columns absent
        from the target are first ADDed (manifest-only, M6 path — no
        file rewrite), so pre-existing rows read NULL for them and the
        merge's update/insert branches carry the new values.

        Join-based copy-on-write rewrite, same plan shape Iceberg's
        extension rules generate, scoped to files like delete_where and
        update_set: one aggregation over the source yields its non-NULL
        key range, the head manifest's per-file stats on ``on`` pick the
        candidate files (_pruned_files_in), the full-outer join runs
        over those only, and every other file carries into the new
        snapshot untouched, stats included. A file with no comparable
        stats stays a candidate; pruning is skipped altogether when the
        source key type differs from the table's, or is not one whose
        footer min/max order matches Spark's equality (integral,
        binary-collated string, date). When the aggregation finds no
        non-NULL source key, nothing can match and no file is rewritten.

        ``validate_source_keys`` mirrors Iceberg's cardinality check:
        MERGE errors when one target row matches multiple source rows
        (a bare join would silently fan the target out instead). It
        rides the same source aggregation, which runs only when the
        check is on or when more than one file has stats to prune on;
        disable for pre-deduplicated feeds.
        """
        from pyspark.sql.types import (
            ByteType,
            DateType,
            IntegerType,
            LongType,
            ShortType,
            StringType,
            StructType,
        )

        parent = self.current_version()
        m = self._head_manifest()
        table_schema = StructType.fromJson(m["schema"])
        key_type = table_schema[on].dataType if on in table_schema.names else None
        # key types whose footer min/max order is Spark's equality order
        ordered = (ByteType(), ShortType(), IntegerType(), LongType())
        ordered += (StringType(), DateType())
        stats = m.get("stats", {})
        prunable = (
            key_type in ordered
            and on in source.columns
            and source.schema[on].dataType == key_type
            and sum(on in stats.get(f, {}).get("min", {}) for f in m["files"]) > 1
        )
        candidates = m["files"]
        if validate_source_keys or prunable:
            # NULL keys are excluded: they can never match a target row
            # (equi-join), so multiple NULL-keyed source rows are plain
            # NOT-MATCHED inserts — real MERGE accepts them; counting
            # the NULL group as duplicates raised a spurious
            # cardinality error (review-pass r15, reproduced)
            key = F.col(on)
            aggs = [F.min(key).alias("lo"), F.max(key).alias("hi")]
            if validate_source_keys:
                aggs.append(F.count(key).alias("n"))
                aggs.append(F.count_distinct(key).alias("nd"))
            b = source.filter(key.isNotNull()).agg(*aggs).first()
            if validate_source_keys and b["n"] != b["nd"]:
                raise ValueError(
                    f"merge_into: source has duplicate rows for key {on!r} "
                    "(Iceberg MERGE cardinality violation)"
                )
            if b["lo"] is None:
                candidates = []
            elif prunable:
                candidates = self._pruned_files_in(m, on, b["lo"], b["hi"])
        rewrite = set(candidates)
        keep = [f for f in m["files"] if f not in rewrite]
        # Schema evolution is folded into the merge's OWN commit —
        # Iceberg's withSchemaEvolution is a single transaction, so a
        # conflict/failure must leave neither the schema nor the data
        # half-applied. (A previous spelling committed one add_column
        # per new source column before the data commit; a final-commit
        # ConflictError then stranded an evolved-schema-no-data table.)
        schema = {**m["schema"], "fields": list(m["schema"]["fields"])}
        evolved = []
        if schema_evolution:
            existing = {f["name"] for f in schema["fields"]}
            for f in source.schema.fields:
                if f.name not in existing:
                    evolved.append(f.name)
                    # jsonValue, the manifest's encoding: simpleString's
                    # 'bigint'/'int' made every later read unparseable
                    schema["fields"].append(
                        {
                            "name": f.name,
                            "type": f.dataType.jsonValue(),
                            "nullable": True,
                            "metadata": {},
                        }
                    )
        # UNRESOLVED_COLUMN parity (review-pass r18): an update_cols
        # key naming no target column (post-evolution) was silently
        # ignored by out_col's `c in update_cols` — matched rows kept
        # their values while the MERGE reported success
        if update_cols:
            known = {f["name"] for f in schema["fields"]}
            unknown = sorted(set(update_cols) - known)
            if unknown:
                raise ValueError(
                    f"{self.name}: MERGE UPDATE SET references unknown "
                    f"column(s) {unknown}; table columns: {sorted(known)}"
                )
        target = (
            self._scan_files(candidates, m)
            if candidates
            else local_frame(self.spark, [], table_schema)
        )
        for fld in StructType.fromJson(schema).fields:
            if fld.name not in target.columns:
                # evolved column: pre-existing rows read NULL, exactly
                # the manifest-only ADD semantics, but uncommitted
                target = target.withColumn(
                    fld.name, F.lit(None).cast(fld.dataType)
                )
        tcols = target.columns
        # Presence is tracked with explicit marker columns, NOT key
        # nullability: a pre-existing target row whose merge-key column
        # is NULL must still classify as target-only (key-based
        # classification would treat it as source-only and corrupt or
        # drop it).
        tgt = target.withColumn("__t_present", F.lit(1))
        src = source.select(
            F.col(on).alias("__src_key"),
            F.struct(*[F.col(c).alias(c) for c in source.columns]).alias("__src"),
            F.lit(1).alias("__s_present"),
        )
        joined = tgt.join(src, tgt[on] == src["__src_key"], "full_outer")

        matched = (
            F.col("__t_present").isNotNull() & F.col("__s_present").isNotNull()
        )
        src_only = F.col("__t_present").isNull()

        # Classify every joined row: Delete / Update / Insert / Keep.
        act = (
            F.when(matched, F.lit("U"))
            .when(src_only, F.lit("I") if insert else F.lit("D"))
            .otherwise(F.lit("K"))
        )
        if delete_cond is not None:
            act = F.when(matched & delete_cond, F.lit("D")).otherwise(act)

        def out_col(c: str) -> F.Column:
            # UPDATE semantics (SQL standard, and this method's own
            # docstring): update_cols=None means UPDATE SET * (every
            # column from source); an explicit dict updates ONLY the
            # listed columns — unlisted ones KEEP THE TARGET VALUE.
            # (Review-pass r10 finding, reproduced: the old spelling
            # took unlisted columns from source, so a SQL-door
            # `UPDATE SET t.v = s.v` silently overwrote every other
            # column too, and a delete-only MERGE rewrote matched rows
            # from source.) An empty dict therefore means "no UPDATE
            # clause": matched rows survive byte-identical.
            if update_cols is None:
                updated = F.col("__src").getField(c)
            elif c in update_cols:
                updated = update_cols[c]
            else:
                updated = F.col(c)
            return (
                F.when(F.col("__act") == "U", updated)
                .when(F.col("__act") == "I", F.col("__src").getField(c))
                .otherwise(F.col(c))
                .alias(c)
            )

        merged = (
            joined.withColumn("__act", act)
            .filter(F.col("__act") != "D")
            .select(*[out_col(c) for c in tcols])
        )
        new_files = self._write_files(merged)
        # single commit carries BOTH the evolved schema and the data
        manifest = {
            "files": keep + new_files,
            "schema": schema,
            "op": "merge",
            "rewritten": len(candidates),
        }
        if evolved and keep:
            # untouched files predate the evolved columns: record them
            # absent, as add_column does, so they read NULL even where
            # a same-named column was dropped earlier (field-id reads)
            defaults = dict(m.get("defaults", {}))
            for name in evolved:
                defaults[name] = {"value": None, "absent_files": keep}
            manifest["defaults"] = defaults
        return self._commit(manifest, parent)

    # ---------- M4: rollback ----------

    def rollback_to(self, version: int, _allow_staged: bool = False) -> int:
        """CALL system.rollback_to_snapshot (M4): new commit whose file
        list is the old snapshot's — history is preserved, not erased.

        The commit is stamped ``rollforward_of`` so ancestry proofs
        treat it as the SAME content point as its source: without the
        stamp, a WAP publish (fast_forward_main → rollback_to) gives
        the published content a new version identity and the NEXT
        publish from the same branch can never prove ancestry — a
        long-lived staging branch dead-ended after one publish
        (ADVICE r9, reproduced).

        Refuses a STAGED (unaudited branch-write) snapshot unless
        ``_allow_staged`` — review-pass r18, reproduced: the direct
        ``CALL system.rollback_to_snapshot`` door otherwise published
        unaudited rows to main AND stamped them rollforward_of,
        bypassing the WAP audit gate fast_forward_main enforces (which
        is the one caller allowed to pass the flag, after its own
        _assert_fast_forward).  Iceberg's procedure likewise refuses
        non-ancestors.  A missing/expired version raises the
        contracted ValueError, not a raw FileNotFoundError."""
        parent = self.current_version()
        try:
            m = self._read_manifest(version)
        except FileNotFoundError:
            raise ValueError(
                f"{self.name}: no snapshot v{version} (missing or "
                "expired)"
            ) from None
        if m.get("staged_ref") and not _allow_staged:
            raise ValueError(
                f"{self.name}: v{version} is a STAGED snapshot of "
                f"branch {m['staged_ref']!r} — publish it through "
                "fast_forward after auditing, not rollback_to_snapshot"
            )
        return self._commit(
            {
                "files": m["files"],
                "schema": m["schema"],
                "op": f"rollback_to_v{version}",
                "rollforward_of": version,
                # restored files may be absent from the parent manifest
                "stats": m.get("stats", {}),
            },
            parent,
        )

    # ---------- M5: maintenance ----------

    def compact(self, target_partitions: int = 4) -> int:
        """rewrite_data_files: coalesce small files (M5). Reads the
        current snapshot and rewrites it as target_partitions files."""
        parent = self.current_version()
        df = self.read().coalesce(target_partitions)
        new_files = self._write_files(df)
        return self._commit(
            {"files": new_files, "schema": self.schema_json(), "op": "compact"},
            parent,
        )

    def rewrite_sorted(self, col: str, target_files: int = 8) -> int:
        """rewrite_data_files(strategy => 'sort', sort_order => col):
        re-cluster the table so each file owns a disjoint range of
        ``col`` — Iceberg's sort-based compaction. repartitionByRange
        gives disjoint per-file ranges (range-partitioned shuffle, fully
        distributed), sortWithinPartitions tightens row-group stats;
        min/max pruning then hits ~1/target_files of the files for a
        point/range predicate instead of all of them.
        """
        parent = self.current_version()
        df = (
            self.read()
            .repartitionByRange(target_files, F.col(col))
            .sortWithinPartitions(col)
        )
        new_files = self._write_files(df)
        return self._commit(
            {
                "files": new_files,
                "schema": self.schema_json(),
                "op": f"rewrite_sorted:{col}",
            },
            parent,
        )

    def rewrite_zorder(
        self, col_a: str, col_b: str, target_files: int = 8, bits: int = 16
    ) -> int:
        """rewrite_data_files(strategy => 'sort', sort_order =>
        zorder(col_a, col_b)): multi-dimensional clustering — the same
        operation Iceberg's z-order rewrite and Delta's OPTIMIZE ZORDER
        perform. A 1-D sort (rewrite_sorted) gives perfect file pruning
        on ONE column and none on any other; interleaving the bits of
        both columns' rank positions (Morton code) orders rows along a
        space-filling curve, so every file owns a compact rectangle in
        (col_a, col_b) space and min/max pruning bites on EITHER column.

        Normalization first (equal-width min/max → [0, 2^bits)):
        z-values interleave fixed-width integers, so each dimension is
        scaled into the same bit budget. min/max is ONE tiny aggregate
        (4 numbers to the driver — fully distributed, unlike a
        percent_rank global window, which would funnel the table
        through a single partition); the interleave itself is a pure
        bit expression (JVM codegen, no extra shuffle beyond the final
        repartitionByRange). Heavily skewed value distributions get
        uneven curve coverage under equal-width scaling — pre-transform
        such a column (log, hash); ``bits`` is capped at 31 because the
        interleaved z-value occupies 2*bits bits of a signed 64-bit
        long, and a bit landing on the sign bit would sort those rows
        before everything and break the curve.

        At 100 TB this turns "2-D dashboard predicates scan the world"
        into ~1/target_files of files per predicate dimension.
        """
        if not 1 <= bits <= 31:
            raise ValueError(
                f"bits must be in [1, 31] (the z-value is 2*bits bits of "
                f"a signed 64-bit long), got {bits}"
            )
        parent = self.current_version()
        df = self.read()
        bounds = df.agg(
            F.min(F.col(col_a).cast("double")).alias("a_lo"),
            F.max(F.col(col_a).cast("double")).alias("a_hi"),
            F.min(F.col(col_b).cast("double")).alias("b_lo"),
            F.max(F.col(col_b).cast("double")).alias("b_hi"),
        ).collect()[0]
        if bounds["a_lo"] is None or bounds["b_lo"] is None:
            raise ValueError(
                f"rewrite_zorder({col_a!r}, {col_b!r}): no numeric values "
                "to cluster on (empty table, or a column that is "
                "non-numeric / all NULL after cast to double)"
            )
        max_v = (1 << bits) - 1

        def norm(c: str, lo: float, hi: float):
            span = (hi - lo) or 1.0
            scaled = (F.col(c).cast("double") - F.lit(lo)) / F.lit(span)
            return F.least(
                F.lit(max_v).cast("long"),
                F.floor(scaled * (max_v + 1)).cast("long"),
            )

        na = norm(col_a, bounds["a_lo"], bounds["a_hi"])
        nb = norm(col_b, bounds["b_lo"], bounds["b_hi"])
        z = F.lit(0).cast("long")
        for i in range(bits):
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(na, i).bitwiseAND(F.lit(1)), 2 * i)
            ).bitwiseOR(
                F.shiftleft(F.shiftright(nb, i).bitwiseAND(F.lit(1)), 2 * i + 1)
            )
        zdf = (
            df.withColumn("__z", z)
            .repartitionByRange(target_files, F.col("__z"))
            .sortWithinPartitions("__z")
            .drop("__z")
        )
        new_files = self._write_files(zdf)
        return self._commit(
            {
                "files": new_files,
                "schema": self.schema_json(),
                "op": f"rewrite_zorder:{col_a},{col_b}",
            },
            parent,
        )

    def expire_snapshots(
        self, keep_last: int = 2, older_than_ms: int | None = None
    ) -> list[int]:
        """expire_snapshots + remove_orphan_files (M5): drop manifests
        beyond the last ``keep_last`` — and, when ``older_than_ms`` is
        given, ONLY those also committed before it (Iceberg's
        ``older_than`` retention: both constraints must hold, so a
        recent snapshot is never expired by an aggressive age alone).
        Idempotent: snapshots already expired by a previous call are
        skipped, not crashed on."""
        if keep_last < 1:
            # [:-0] == [:0] silently inverted "retain none" into
            # "retain everything" (review-pass r18); Iceberg validates
            # retain_last >= 1 the same way
            raise ValueError(f"keep_last must be >= 1, got {keep_last}")
        cur = self.current_version()
        candidates = [v for v in range(1, cur + 1)][:-keep_last]
        # Load every surviving manifest FIRST; the expire set is decided
        # before any liveness accounting so an age-PROTECTED candidate's
        # files count as live (deciding per-candidate inside the delete
        # loop deleted files a protected manifest still referenced).
        manifests: dict[int, dict] = {}
        for v in range(1, cur + 1):
            try:
                manifests[v] = self._read_manifest(v)
            except FileNotFoundError:
                continue  # expired by an earlier call (any keep_last)
        # Ref retention (Iceberg semantics): a snapshot a branch or tag
        # still points to — and any staged snapshot whose branch still
        # exists — is non-expirable regardless of keep_last/age, else
        # read_ref dies on FileNotFoundError after routine maintenance
        # (review-pass finding). Refs live in BranchedLakehouse's
        # _refs.json beside the snapshot log.
        protected: set[int] = set()
        try:
            with open(os.path.join(self.root, "_refs.json")) as f:
                refs = json.load(f)
        except FileNotFoundError:
            refs = None
        if refs:
            protected.update(int(v) for v in refs.get("branches", {}).values())
            protected.update(int(v) for v in refs.get("tags", {}).values())
            live_branches = set(refs.get("branches", {}))
            protected.update(
                v
                for v, m in manifests.items()
                if m.get("staged_ref") in live_branches
            )
        # MAIN-head retention (review-pass r18, reproduced): when staged
        # branch snapshots occupy the trailing keep_last slots, the
        # current main head fell into the candidate range — expiring it
        # wedged every main-side read with "main head expired below
        # staged snapshots", unrecoverable by dropping the branch.
        # Protect the whole main_head() walk path [mh .. cur]: every
        # snapshot the staged-skipping walk may touch must stay
        # readable (a dropped branch's staged snapshot between cur and
        # mh would otherwise hole the walk).
        mh = cur
        while mh > 0 and manifests.get(mh, {}).get("staged_ref"):
            mh -= 1
        protected.update(range(mh, cur + 1))
        to_expire = [
            v
            for v in candidates
            if v in manifests
            and v not in protected
            and (
                older_than_ms is None
                or manifests[v]["timestamp_ms"] < older_than_ms
            )
        ]
        live_files: set[str] = set()
        for v, m in manifests.items():
            if v not in to_expire:
                live_files.update(m["files"])
        removed = []
        for v in to_expire:
            for f in manifests[v]["files"]:
                if f not in live_files and os.path.exists(f):
                    os.remove(f)
            os.remove(self._manifest_path(v))
            removed.append(v)
        return removed

    def rewrite_manifests(self) -> int:
        """CALL system.rewrite_manifests (M5, SURVEY §2.11 ←
        main.tf:803's extension surface): metadata-ONLY commit that
        normalizes the current manifest — file entries deduped and
        sorted by path. Iceberg's procedure re-clusters manifest
        entries by partition so scan planning touches fewer manifest
        files; in this single-manifest-per-snapshot layer the analog
        is the canonical ordering (deterministic scan sets, dedup'd
        entries). Data files are untouched, exactly like Iceberg."""
        parent = self.current_version()
        files = sorted(dict.fromkeys(self._files()))
        return self._commit(
            {
                "files": files,
                "schema": self.schema_json(),
                "op": "rewrite_manifests",
            },
            parent,
        )

    def cherrypick(self, version: int) -> int:
        """CALL system.cherrypick_snapshot via the SQL door — delegates
        to :func:`cherrypick_snapshot` (module level, M5)."""
        return cherrypick_snapshot(self, version)

    def rewrite_data_files(
        self,
        target_partitions: int = 4,
        strategy: str = "binpack",
        sort_order: str | None = None,
    ) -> int:
        """Iceberg's ``CALL system.rewrite_data_files`` dispatch (M5):
        binpack (default) → :meth:`compact`; ``strategy => 'sort'`` with
        ``sort_order => 'col'`` → :meth:`rewrite_sorted`;
        ``sort_order => 'zorder(a, b)'`` → :meth:`rewrite_zorder`
        (main.tf:803 wires the extension providing this procedure).
        """
        strategy = strategy.lower()
        if strategy not in ("binpack", "sort"):
            raise ValueError(f"rewrite_data_files: unknown strategy {strategy!r}")
        if strategy == "binpack":
            if sort_order is not None:
                raise ValueError(
                    "rewrite_data_files: sort_order requires strategy => 'sort'"
                )
            return self.compact(target_partitions)
        if sort_order is None:
            raise ValueError("rewrite_data_files: strategy 'sort' needs sort_order")
        zm = re.match(r"^zorder\s*\(\s*(\w+)\s*,\s*(\w+)\s*\)$", sort_order, re.I)
        if zm:
            return self.rewrite_zorder(
                zm.group(1), zm.group(2), target_files=target_partitions
            )
        if not re.match(r"^\w+$", sort_order):
            raise ValueError(
                f"rewrite_data_files: unsupported sort_order {sort_order!r} "
                "(a single column or zorder(a, b))"
            )
        return self.rewrite_sorted(sort_order, target_files=target_partitions)

    def remove_orphan_files(self, older_than_ms: int | None = None) -> list[str]:
        """CALL system.remove_orphan_files (M5): delete data files in the
        warehouse directory that NO live snapshot references — the
        debris of failed/aborted writes (reference main.tf:803 wires the
        extension whose ``system.remove_orphan_files`` does this on
        EMR). Distinct from expire_snapshots: that drops old SNAPSHOTS
        (and their now-unreferenced files); this sweeps files no
        manifest ever claimed.

        ``older_than_ms`` is Iceberg's safety valve — only files whose
        mtime predates it are swept, so an in-flight writer's not-yet-
        committed files survive. Default sweeps regardless (tests);
        production callers should pass now-minus-grace.
        """
        live: set[str] = set()
        for v in range(1, self.current_version() + 1):
            try:
                live.update(self._read_manifest(v)["files"])
            except FileNotFoundError:
                continue  # expired snapshot
        removed: list[str] = []
        if not os.path.isdir(self.data_dir):
            return removed
        # data files sit in per-batch subdirs (_write_files); walk the
        # tree. Only *.parquet is swept — _SUCCESS markers of LIVE
        # batches are not orphans, and manifests never list them.
        for dirpath, _dirs, files in sorted(os.walk(self.data_dir)):
            for fn in sorted(files):
                path = os.path.join(dirpath, fn)
                if not fn.endswith(".parquet") or path in live:
                    continue
                if (
                    older_than_ms is not None
                    and os.path.getmtime(path) * 1000 >= older_than_ms
                ):
                    continue
                os.remove(path)
                removed.append(os.path.relpath(path, self.data_dir))
        return removed

    # ---------- M6: schema evolution ----------

    def add_column(
        self, name: str, spark_type: str, default=None
    ) -> int:
        """ALTER TABLE ADD COLUMN (M6): manifest-only change; existing
        files are untouched and the new column reads as NULL (mergeSchema
        handles it on scan) — exactly Iceberg's no-rewrite evolution.

        ``default`` adds Iceberg-v3 INITIAL-DEFAULT semantics: rows in
        files written BEFORE the evolution read the default; files
        written after read their stored values (including real NULLs).
        The manifest records which files predate the column, so no data
        file is rewritten and compaction naturally graduates rows out of
        the default (rewritten files physically contain the column).

        ``spark_type`` is a DDL type ('int', 'bigint', 'decimal(10,2)',
        'array<string>', …), stored as its JSON name — the manifest
        schema's encoding, which StructType.fromJson reads back ('int'
        itself it rejects). A type that does not parse raises before
        anything is committed.
        """
        from pyspark.errors import ParseException
        from pyspark.sql.types import DataType, StructType

        try:
            dtype = DataType.fromDDL(spark_type)
        except ParseException:
            dtype = None
        # fromDDL reads a bare field list 'a int' as struct<a:int>
        if dtype is None or (
            isinstance(dtype, StructType)
            and not spark_type.strip().lower().startswith("struct")
        ):
            raise ValueError(
                f"{self.name}: add_column: unsupported type {spark_type!r}"
            )
        parent = self.current_version()
        schema = self.schema_json()
        if any(f["name"] == name for f in schema["fields"]):
            # duplicate fields would commit a corrupt schema every
            # later snapshot inherits (review-pass r18); Iceberg
            # rejects the duplicate at DDL time
            raise ValueError(
                f"{self.name}: column {name!r} already exists"
            )
        schema["fields"].append(
            {
                "name": name,
                "type": dtype.jsonValue(),
                "nullable": True,
                "metadata": {},
            }
        )
        manifest: dict = {
            "files": self._files(),
            "schema": schema,
            "op": f"add_column:{name}",
        }
        # ALWAYS record the current files as not-containing the new
        # column (review-pass r18, reproduced): without the absence
        # record, re-adding a previously DROPPED column resurrected the
        # old physical values via the name-based scan — Iceberg's
        # field-id semantics read NULL.  value=None is a NULL initial
        # default (_apply_defaults casts F.lit(None) to the column
        # type), so the default-less case now matches field-id reads.
        if parent:
            defaults = dict(
                self._head_manifest().get("defaults", {})
            )
            defaults[name] = {
                "value": default,
                "absent_files": self._files(),
            }
            manifest["defaults"] = defaults
        return self._commit(manifest, parent)

    def _guard_partition_source(self, op: str, col: str) -> None:
        """Evolving a column a partition transform reads would break
        every subsequent write's layout — refuse loudly (Iceberg makes
        you evolve the partition spec first)."""
        for spec in self.partition_spec():
            if re.search(rf"\b{re.escape(col)}\b", spec):
                raise ValueError(
                    f"{op}: column {col!r} is a partition source "
                    f"({spec!r}); evolve the partition spec first"
                )

    def drop_column(self, name: str) -> int:
        """ALTER TABLE DROP COLUMN (M6): manifest-only — the field
        leaves the schema; data files are untouched (explicit-schema
        scans simply stop selecting the physical column, Iceberg's
        drop-by-field-id behavior). Any rename/default bookkeeping for
        the column is dropped with it."""
        parent = self.current_version()
        self._guard_partition_source("drop_column", name)
        schema = self.schema_json()
        if name not in {f["name"] for f in schema["fields"]}:
            raise ValueError(f"drop_column: no column {name!r}")
        schema["fields"] = [f for f in schema["fields"] if f["name"] != name]
        manifest: dict = {
            "files": self._files(),
            "schema": schema,
            "op": f"drop_column:{name}",
        }
        pm = self._head_manifest()
        defaults = {
            k: v for k, v in pm.get("defaults", {}).items() if k != name
        }
        if defaults or pm.get("defaults"):
            manifest["defaults"] = defaults
        renames = {
            k: v for k, v in pm.get("renames", {}).items() if k != name
        }
        if renames or pm.get("renames"):
            manifest["renames"] = renames
        return self._commit(manifest, parent)

    def rename_column(self, old: str, new: str) -> int:
        """ALTER TABLE RENAME COLUMN (M6): manifest-only — Iceberg
        renames by field id, leaving every data file untouched. This
        layer's files store columns BY NAME, so the manifest carries a
        name-mapping instead: ``renames[logical] = [{physical, files}]``
        records which files physically hold the column under an older
        name; scans resolve per file (:meth:`_scan_files`). Files
        written (or rewritten — compaction, CoW DML) after the rename
        carry the new name and graduate out of the mapping naturally."""
        parent = self.current_version()
        self._guard_partition_source("rename_column", old)
        schema = self.schema_json()
        names = {f["name"] for f in schema["fields"]}
        if old not in names:
            raise ValueError(f"rename_column: no column {old!r}")
        if new in names:
            raise ValueError(f"rename_column: column {new!r} already exists")
        for f in schema["fields"]:
            if f["name"] == old:
                f["name"] = new
        pm = self._head_manifest()
        renames = dict(pm.get("renames", {}))
        cur_files = self._files()
        # chain-safe: files already mapped to an even-older physical
        # name keep that mapping; only the rest physically hold `old`
        prior = renames.pop(old, [])
        mapped = {f for e in prior for f in e["files"]}
        entry = {
            "physical": old,
            "files": [f for f in cur_files if f not in mapped],
        }
        renames[new] = prior + [entry]
        manifest: dict = {
            "files": cur_files,
            "schema": schema,
            "op": f"rename_column:{old}->{new}",
            "renames": renames,
        }
        defaults = pm.get("defaults", {})
        if defaults:
            manifest["defaults"] = {
                (new if k == old else k): v for k, v in defaults.items()
            }
        return self._commit(manifest, parent)

    def evolve_partitioning(self, new_specs: list[str]) -> int:
        """Partition evolution (M7): future writes use the new spec; old
        files keep their layout — exactly Iceberg's spec-versioning.
        Manifest-only commit, no rewrite. An unknown transform raises
        before anything is committed."""
        parent = self.current_version()
        for spec in new_specs:
            partition_transform(spec)
        return self._commit(
            {
                "files": self._files(),
                "schema": self.schema_json(),
                "op": f"evolve_partitioning:{','.join(new_specs)}",
                "partition_spec": list(new_specs),
            },
            parent,
        )

    # ---------- S8+: incremental scan / CDC changelog ----------

    def _read_file_set(self, files: list[str], manifest: dict) -> DataFrame:
        """Empty-tolerant wrapper over _scan_files — initial defaults
        apply to incremental/CDC reads exactly as to full scans."""
        from pyspark.sql.types import StructType

        if not files:
            return local_frame(
                self.spark, [], StructType.fromJson(manifest["schema"])
            )
        return self._scan_files(files, manifest)

    def read_incremental(self, from_version: int, to_version: int | None = None) -> DataFrame:
        """Incremental append scan: rows committed AFTER from_version up
        to and including to_version — Iceberg's
        ``option("start-snapshot-id", …).option("end-snapshot-id", …)``
        read. Like Iceberg, refuses ranges containing non-append
        snapshots (overwrite/delete/update have no append-delta
        meaning); use changelog() for those.

        Scale: reads only the files the range added — incremental
        consumers never rescan the table, and pure appends need no
        shuffle at all.
        """
        # default to the newest MAIN snapshot: a raw-log default would
        # resolve to a staged branch snapshot right after a WAP write
        # (review-pass r15 — same guard as read()/changelog())
        to_v = to_version if to_version is not None else self.main_head()
        try:
            added = appended_files_between(self.root, from_version, to_v)
        except ValueError as e:
            raise ValueError(f"{e}; use changelog() instead") from None
        return self._read_file_set(added, self._read_manifest(to_v))

    def changelog(self, from_version: int, to_version: int | None = None) -> DataFrame:
        """Row-level CDC between snapshots — Iceberg's
        ``create_changelog_view`` procedure. Emits the table columns
        plus ``_change_type`` ('INSERT' | 'DELETE'; an UPDATE appears
        as its DELETE+INSERT pair, Iceberg's pre/post images) and
        ``_change_version``.

        Per consecutive MAIN snapshot pair only the file DELTA is read:
        inserts = rows in added files minus rows in removed files,
        deletes = the reverse (exceptAll both ways). Copy-on-write
        rewrites carry surviving rows into both sides, so they cancel —
        the diff is exactly the net row change. Pure appends/deletes
        skip the shuffle entirely (one side is empty).

        Snapshots STAGED by a branch write (``staged_ref``) are skipped
        and each main snapshot diffs against the previous MAIN state —
        the same WAP guard main_head()/read_as_of_timestamp apply
        (review-pass r15, reproduced: a staged audit write used to leak
        into main's CDC as a phantom INSERT/DELETE pair). The default
        ``to_version`` is main_head() for the same reason. Expired
        manifests in range raise the contracted ValueError
        (appended_files_between's rule), never a raw FileNotFoundError.
        """
        to_v = to_version if to_version is not None else self.main_head()

        def _manifest_or_expired(v: int) -> dict:
            try:
                return self._read_manifest(v)
            except FileNotFoundError:
                raise ValueError(
                    f"snapshot v{v} expired; changelog range "
                    f"({from_version}, {to_v}] unavailable — "
                    "re-baseline from a full scan"
                ) from None

        # Schema evolution inside the range: every pair's frames are
        # aligned to the FINAL (to_v) schema — Iceberg's changelog
        # likewise emits rows in the current table schema. Renames
        # committed after a pair re-key its columns (composed from the
        # op strings), dropped columns vanish, added columns read NULL
        # for pre-evolution pairs. Without this, unionByName across a
        # drop/rename boundary simply errors.
        from pyspark.sql.types import StructType

        final_schema = StructType.fromJson(_manifest_or_expired(to_v)["schema"])

        def _align(df: DataFrame, pair_v: int) -> DataFrame:
            mapping: dict[str, str] = {}  # name-at-pair_v -> later name
            for w in range(pair_v + 1, to_v + 1):
                try:
                    op = self._read_manifest(w)["op"]
                except FileNotFoundError:
                    continue
                if op.startswith("rename_column:"):
                    old, new = op.split(":", 1)[1].split("->", 1)
                    for k, tgt in list(mapping.items()):
                        if tgt == old:
                            mapping[k] = new
                            break
                    else:
                        mapping[old] = new
            inverse = {n: o for o, n in mapping.items()}
            cols = set(df.columns)
            sel = []
            for fld in final_schema.fields:
                src = inverse.get(fld.name, fld.name)
                if src in cols:
                    sel.append(F.col(src).alias(fld.name))
                else:  # column added after this pair
                    sel.append(F.lit(None).cast(fld.dataType).alias(fld.name))
            return df.select(*sel)

        parts: list[DataFrame] = []
        # running previous-MAIN state: staged snapshots are skipped, so
        # each main snapshot diffs against the last main one, not the
        # raw log parent.  from_version itself can be STAGED (a caller
        # who checkpointed the raw log head right after a WAP write) —
        # normalize it down to the last MAIN snapshot, the same base
        # walk appended_files_between uses, or prev_files seeds with
        # branch state and the next main commit emits phantom DELETEs
        # for branch-only files (ADVICE r15, reproduced).
        base_v = from_version
        while base_v and _manifest_or_expired(base_v).get("staged_ref"):
            base_v -= 1
        prev_v = base_v
        prev_m = _manifest_or_expired(base_v) if base_v else None
        prev_files = set(prev_m["files"]) if prev_m else set()
        for v in range(from_version + 1, to_v + 1):
            m = _manifest_or_expired(v)
            if m.get("staged_ref"):
                continue  # branch-staged: not part of main's history
            cur_files = set(m["files"])
            added = sorted(cur_files - prev_files)
            removed = sorted(prev_files - cur_files)
            # pre-images come from the previous MAIN manifest so
            # removed-file rows carry THAT snapshot's defaults; CoW
            # survivors then cancel in the exceptAll
            pair_prev_v = prev_v
            pair_prev_m = prev_m if prev_m is not None else m
            prev_v, prev_m, prev_files = v, m, cur_files
            if not added and not removed:
                continue  # metadata-only commit (e.g. add_column)
            # align BOTH sides to the final schema BEFORE the exceptAll
            # (review-pass r15, reproduced): a single commit that
            # changes files AND schema — merge_into with
            # schema_evolution, overwrite with a new shape — otherwise
            # feeds exceptAll two different-arity frames and crashes
            # with NUM_COLUMNS_MISMATCH. The rem side's rename base is
            # the previous MAIN version, so a rename committed AT v
            # still re-keys the pre-image columns.
            add_df = _align(self._read_file_set(added, m), v)
            rem_df = _align(
                self._read_file_set(removed, pair_prev_m),
                pair_prev_v if pair_prev_v else v,
            )
            inserts = add_df if not removed else add_df.exceptAll(rem_df)
            deletes = rem_df if not added else rem_df.exceptAll(add_df)
            for df, kind in ((inserts, "INSERT"), (deletes, "DELETE")):
                parts.append(
                    df.withColumn("_change_type", F.lit(kind))
                    .withColumn("_change_version", F.lit(v))
                )
        if not parts:
            empty = local_frame(self.spark, [], final_schema)
            return empty.withColumn("_change_type", F.lit("")).withColumn(
                "_change_version", F.lit(0)
            ).limit(0)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out


#: Old name of the stats-collecting handle, kept as an alias because the
#: benchmark harness (perfbench/run.py) wraps
#: ``StatsLakehouseTable.__dict__["read_range"]`` by this name — which is
#: why read_range lives in LakehouseTable's own class body.
StatsLakehouseTable = LakehouseTable


# ---------------------------------------------------------------------------
# M7: hidden partitioning / partition transforms + evolution
# M8: branches / tags / write-audit-publish
# ---------------------------------------------------------------------------


#: ISO date / datetime shapes (either separator convention) — the gate
#: for every temporal-bound normalization below: NON-temporal string
#: bounds must pass through verbatim (review-pass r14: a blanket
#: separator replace corrupted string-column range bounds like
#: 'NEW YORK')
_ISO_TEMPORAL_RE = None


def _looks_temporal(s: str) -> bool:
    global _ISO_TEMPORAL_RE
    if _ISO_TEMPORAL_RE is None:
        import re

        _ISO_TEMPORAL_RE = re.compile(
            r"\d{4}-\d{2}-\d{2}([T ]\d{2}:\d{2}(:\d{2}(\.\d+)?)?)?$"
        )
    return bool(_ISO_TEMPORAL_RE.match(s))


def temporal_bound_iso(v, sep: str = " ") -> str | None:
    """Canonical civil ISO string for a temporal range bound — THE one
    bound normalizer (review-pass r14: three inline variants in this
    file each encoded their own separator convention, the exact drift
    class the host-TZ sweep caught in the stats pruner).  Accepts
    datetime/date objects and ISO strings in either separator
    convention; date-only inputs gain midnight, minute-precision inputs
    gain ':00' — every temporal return value is the FULL
    'YYYY-MM-DD HH:MM:SS[.fff]' form (ADVICE r14: read_pruned's trunc
    slices are positional and pruned_files' compare is lexicographic,
    so an un-padded 'HH:MM' hi bound over-pruned a file whose min is
    exactly that minute: '...T08:30' < '...T08:30:00').  Returns None
    when the value is a string that does not look temporal — the caller
    must pass those through VERBATIM (string-column bounds)."""
    import datetime

    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            # zoned instants canonicalize to UTC-NAIVE (review-pass
            # r15): an offset-suffixed '…15+00:00' compares
            # lexicographically against naive stats and over-prunes;
            # UTC civil order equals instant order, and the session
            # pins UTC so civil values are what the engine compares
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        s = v.isoformat(sep=" ")
    elif isinstance(v, datetime.date):
        s = f"{v.isoformat()} 00:00:00"
    else:
        s = str(v)
        if not _looks_temporal(s):
            return None
        s = s.replace("T", " ")
        if len(s) == 10:
            s += " 00:00:00"
        elif len(s) == 16:
            s += ":00"
        if "." in s:
            # canonicalize the FRACTION to the stats encoder's
            # convention (datetime.isoformat: absent when zero, else
            # exactly 6 digits) — review-pass r15: a short-fraction
            # bound '…15.5' compared lexicographically against the
            # 6-digit stat '…15.500000' and over-pruned the boundary
            # file. Digits past microseconds TRUNCATE — the same thing
            # Spark's cast does in the residual/filter, so pruning and
            # filtering always agree; note a truncated lo bound is up
            # to 1 µs more inclusive than the sub-µs literal asked for
            # (a row at exactly …15.000000 passes lo '…15.0000001') —
            # timestamp[us] engines cannot honor sub-µs bounds exactly.
            head, frac = s.split(".", 1)
            frac = (frac + "000000")[:6]
            s = head if int(frac) == 0 else f"{head}.{frac}"
    return s.replace(" ", sep, 1) if sep != " " else s


def is_temporal_dtype(dt) -> bool:
    """THE one definition of 'temporal column' for bound normalization
    — pruned_files, read_range and read_pruned's residual all gate on
    this, so the temporal-type set can never diverge between the
    pruning paths (review-pass r15: the gate was spelled twice)."""
    from pyspark.sql.types import (
        DateType,
        TimestampNTZType,
        TimestampType,
    )

    return isinstance(dt, (DateType, TimestampNTZType, TimestampType))


def partition_segments(path: str) -> list[tuple[str, str]]:
    """(key, unquoted value) pairs from a file path's hive-style
    partition directory segments — THE one decoder for the engine's
    ``k=v`` encoding.  read_pruned, overwrite_partitions and the
    queries-side pruning contracts all parse this convention; a single
    shared decoder keeps them bit-identical if the escaping ever
    changes (review-pass r14)."""
    import urllib.parse

    out = []
    for seg in path.split(os.sep):
        if "=" in seg:
            k, v = seg.split("=", 1)
            out.append((k, urllib.parse.unquote(v)))
    return out


def partition_transform(spec: str) -> tuple[str, F.Column]:
    """Parse an Iceberg-style partition transform into (name, column):
    identity(c) | years(c) | months(c) | days(c) | hours(c) |
    bucket(n, c) | truncate(w, c)  (SURVEY.md §2.11 M7).

    The transform column is *derived* — hidden partitioning means users
    filter on the source column and the engine prunes via the transform.
    """
    spec = spec.strip()
    name, inner = spec.split("(", 1)
    args = [a.strip() for a in inner.rstrip(")").split(",")]
    name = name.strip()
    if name == "identity":
        return f"p_{args[0]}", F.col(args[0])
    if name in ("years", "months", "days", "hours"):
        unit = {"years": "year", "months": "month", "days": "day", "hours": "hour"}[name]
        return f"p_{name}_{args[0]}", F.date_trunc(unit, F.col(args[0])).cast("string")
    if name == "bucket":
        n, c = int(args[0]), args[1]
        return f"p_bucket_{c}", F.pmod(F.xxhash64(F.col(c)), F.lit(n))
    if name == "truncate":
        w, c = int(args[0]), args[1]
        return f"p_trunc_{c}", F.substring(F.col(c), 1, w)
    raise ValueError(f"unknown partition transform {spec!r}")


class BranchedLakehouse:
    """Branches / tags / WAP over LakehouseTable (M8).

    A branch is a named pointer to a snapshot version advancing
    independently of `main`; a tag is an immutable pointer. WAP =
    write to a staging branch, audit it, then fast-forward main —
    the same flow Iceberg's spark.wap.id enables.
    """

    def __init__(self, table: LakehouseTable):
        self.table = table
        self.refs_path = os.path.join(table.root, "_refs.json")

    def _refs(self) -> dict:
        try:
            with open(self.refs_path) as f:
                return json.load(f)
        except FileNotFoundError:
            return {"branches": {}, "tags": {}}

    def _save(self, refs: dict) -> None:
        tmp = self.refs_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(refs, f, indent=1)
        os.replace(tmp, self.refs_path)

    def main_head(self) -> int:
        """Delegates to the table's main_head() — the newest snapshot
        not staged by a branch write (see LakehouseTable.main_head)."""
        return self.table.main_head()

    def create_branch(
        self,
        name: str,
        at_version: int | None = None,
        if_not_exists: bool = False,
    ) -> int:
        """CREATE rejects an existing branch (Iceberg's CREATE-vs-
        REPLACE distinction — silently re-pointing an audited branch
        is the WAP footgun); IF NOT EXISTS makes it a no-op returning
        the existing pointer; re-pointing is replace_branch. Defaults
        to main_head(), never a staged branch snapshot."""
        refs = self._refs()
        if name in refs["branches"]:
            if if_not_exists:
                return refs["branches"][name]
            raise ValueError(
                f"branch {name} exists (use REPLACE BRANCH to re-point)"
            )
        v = at_version if at_version is not None else self.main_head()
        refs["branches"][name] = v
        self._save(refs)
        return v

    def create_tag(
        self,
        name: str,
        at_version: int | None = None,
        if_not_exists: bool = False,
    ) -> int:
        refs = self._refs()
        if name in refs["tags"]:
            if if_not_exists:
                return refs["tags"][name]
            raise ValueError(f"tag {name} exists (tags are immutable)")
        v = at_version if at_version is not None else self.main_head()
        refs["tags"][name] = v
        self._save(refs)
        return v

    def drop_branch(self, name: str) -> int:
        refs = self._refs()
        if name not in refs["branches"]:
            raise KeyError(f"unknown branch {name}")
        v = refs["branches"].pop(name)
        self._save(refs)
        return v

    def drop_tag(self, name: str) -> int:
        refs = self._refs()
        if name not in refs["tags"]:
            raise KeyError(f"unknown tag {name}")
        v = refs["tags"].pop(name)
        self._save(refs)
        return v

    def replace_branch(self, name: str, at_version: int) -> int:
        """Re-point an existing branch (ALTER TABLE … REPLACE BRANCH);
        unlike create_branch this REQUIRES the branch to exist, the
        Iceberg distinction between the two statements."""
        refs = self._refs()
        if name not in refs["branches"]:
            raise KeyError(f"unknown branch {name}")
        refs["branches"][name] = at_version
        self._save(refs)
        return at_version

    def _manifest_or_none(self, v: int) -> dict | None:
        try:
            return self.table._read_manifest(v)
        except FileNotFoundError:
            return None  # expired — callers treat as unprovable

    def _rollforward_identity(self, v: int) -> set[int]:
        """``v`` plus every version it is a rollforward of,
        transitively: a rollback_to / publish commit carries its
        source's CONTENT under a new version number, so ancestry
        proofs must treat the whole chain as one point in history
        (ADVICE r9: without this, the second publish from a
        long-lived staging branch always failed)."""
        ids, cur = {v}, v
        while cur > 0:
            m = self._manifest_or_none(cur)
            if m is None or not m.get("rollforward_of"):
                break
            cur = int(m["rollforward_of"])
            if cur in ids:
                break
            ids.add(cur)
        return ids

    def _assert_fast_forward(self, frm: int, to: int, label: str) -> None:
        """True-fast-forward guard: ``frm`` (the ref being moved) must
        be an ANCESTOR of ``to`` in the CONTENT chain. Iceberg's
        system.fast_forward refuses when the target is not a
        descendant; a blind re-point would silently discard every
        commit the moved ref gained after the branch was based (e.g. a
        concurrent main append between the branch write and the
        publish) — a data-loss hazard, not a merge (review-pass
        finding). Divergent publishes go through cherrypick_snapshot.

        The content chain walked from ``to`` downward:
          * staged snapshot → its ``ref_base`` (the branch head the
            write was based on, written by write_to_branch);
          * rollforward commit → its ``rollforward_of`` source (same
            content, older identity);
          * plain main commit → the newest non-staged version below it
            (main commits base on main_head(), which is exactly that
            walk) — so a stale branch catching up to a NEWER main head
            is recognized as the genuine fast-forward it is (ADVICE
            r9: the old walk broke at the first main-side snapshot and
            refused Iceberg's standard branch catch-up).
        ``frm`` matches through its own rollforward identity, so a
        published (rolled-forward) main head equals the branch content
        it was published from.
        """
        frm_ids = self._rollforward_identity(frm)
        # per-call manifest memo: the main-side predecessor scan below
        # re-reads one version at a time, which on a long history with
        # many staged snapshots was O(versions^2) manifest JSON reads
        # (ADVICE r10); with each version's manifest read at most once
        # per call the walk is linear in the version count.
        memo: dict[int, dict | None] = {}

        def mf(v: int):
            if v not in memo:
                memo[v] = self._manifest_or_none(v)
            return memo[v]

        cur, seen = to, set()
        while True:
            if cur in frm_ids:
                return  # frm is an ancestor: genuine fast-forward
            if cur <= 0 or cur in seen:
                break
            seen.add(cur)
            m = mf(cur)
            if m is None:
                break  # chain expired: cannot prove ancestry → refuse
            if m.get("staged_ref"):
                # pre-ref_base staged manifests fall back to log parent
                cur = int(m.get("ref_base") or m.get("parent") or 0)
            elif m.get("rollforward_of"):
                cur = int(m["rollforward_of"])
            else:
                # main-side commit: content predecessor = newest
                # non-staged version below (what main_head() resolved
                # to when this commit was written)
                nxt = cur - 1
                while nxt > 0:
                    mm = mf(nxt)
                    if mm is None:
                        nxt = 0  # expired below: unprovable → refuse
                        break
                    if not mm.get("staged_ref"):
                        break
                    nxt -= 1
                cur = nxt
        raise ValueError(
            f"fast_forward: {label} (v{frm}) is not an ancestor of the "
            f"target snapshot v{to} — the refs diverged; use "
            "cherrypick_snapshot to publish divergent work"
        )

    def fast_forward(self, branch: str, to: str) -> int:
        """CALL system.fast_forward(table, branch, to): move ``branch``
        to ``to``'s head. 'main' is the table itself (not a refs
        entry), so fast-forwarding main is a rollforward commit — the
        P of WAP. Refuses (like Iceberg) unless the moved ref's head is
        an ancestor of the target — see _assert_fast_forward."""
        refs = self._refs()
        v = refs["branches"].get(to, refs["tags"].get(to))
        if v is None:
            raise KeyError(f"unknown ref {to}")
        if branch == "main":
            self._assert_fast_forward(self.main_head(), v, "main")
            return self.table.rollback_to(v, _allow_staged=True)
        if branch not in refs["branches"]:
            raise KeyError(f"unknown branch {branch}")
        self._assert_fast_forward(refs["branches"][branch], v, branch)
        refs["branches"][branch] = v
        self._save(refs)
        return v

    def read_ref(self, name: str) -> DataFrame:
        refs = self._refs()
        v = refs["branches"].get(name, refs["tags"].get(name))
        if v is None:
            raise KeyError(f"unknown ref {name}")
        return self.table.read(version=v)

    def write_to_branch(
        self, name: str, df: DataFrame, positional: bool = False
    ) -> int:
        """Append lands as a new snapshot BASED ON THE BRANCH'S OWN
        HEAD (not `_current` — basing on the shared log head would
        silently fold another branch's staged files into this one,
        the multi-branch bug the review pass surfaced), tagged
        ``staged_ref`` so main_head() skips it; only the branch
        pointer moves — the W of WAP. The shared snapshot log's
        `_current` does advance (exactly as Iceberg's snapshot list
        grows on a branch commit); door-level main reads stay pinned
        via the unrefreshed view, and pinned reads / main_head() are
        the API-level spelling. ``positional`` binds columns by
        position (the SQL-door INSERT contract — a VALUES frame
        arrives named col1/col2)."""
        from pyspark.sql.types import StructType

        refs = self._refs()
        if name not in refs["branches"]:
            raise KeyError(f"unknown branch {name}")
        base = refs["branches"][name]
        base_m = self.table._read_manifest(base)
        schema = base_m["schema"]
        st = StructType.fromJson(schema)
        if positional:
            if len(df.columns) != len(st.fields):
                raise ValueError(
                    f"INSERT into branch {name}: {len(df.columns)} values "
                    f"for {len(st.fields)} columns"
                )
            df = df.select(
                *[
                    F.col(src).cast(fld.dataType).alias(fld.name)
                    for src, fld in zip(df.columns, st.fields)
                ]
            )
        cols = [f.name for f in st.fields]
        missing = [c for c in cols if c not in df.columns]
        if missing:
            raise ValueError(
                f"append to branch {name}: frame lacks column(s) {missing}"
            )
        parent = self.table.current_version()
        files = base_m["files"] + self.table._write_files(df.select(cols))
        v = self.table._commit(
            {
                "files": files,
                "schema": schema,
                "op": f"branch_append:{name}",
                "staged_ref": name,
                # content parent (the branch head this append was based
                # on) — NOT the log parent: fast_forward walks this
                # chain to prove ancestry before publishing
                "ref_base": base,
                # the base files' stats: the log parent may not hold them
                "stats": base_m.get("stats", {}),
            },
            parent,
        )
        refs = self._refs()
        refs["branches"][name] = v
        self._save(refs)
        return v

    def fast_forward_main(self, branch: str) -> int:
        """The P of WAP: after auditing the branch snapshot, make it the
        table's current version via a rollforward commit. Same
        ancestry guard as fast_forward — a publish must never discard
        main commits that landed after the branch was based."""
        refs = self._refs()
        v = refs["branches"][branch]
        self._assert_fast_forward(self.main_head(), v, "main")
        return self.table.rollback_to(v, _allow_staged=True)


# ---------------------------------------------------------------------------
# File-level column statistics → min/max data skipping (Iceberg manifest
# pruning parity; SURVEY.md §4 "min/max file skipping") + remaining S7/M5
# metadata relations and procedures.
# ---------------------------------------------------------------------------


def _file_column_stats(path: str) -> dict:
    """Per-file record count and min/max per column from the parquet
    footer (pyarrow) — the driver only ever touches footers, never data
    pages. Values are stored JSON-safe (ISO strings for timestamps)."""
    import datetime

    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    mins: dict[str, object] = {}
    maxs: dict[str, object] = {}
    unreadable: set[str] = set()
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            st = col.statistics
            if st is None or not st.has_min_max:
                continue
            name = col.path_in_schema
            try:
                lo, hi = st.min, st.max
            except NotImplementedError:
                # pyarrow cannot decode some logical types' stats
                # (decimals): the column gets no min/max, so no file is
                # ever pruned on it
                unreadable.add(name)
                continue
            if isinstance(lo, bytes):
                continue  # binary stats aren't comparable cross-engine
            if name not in mins or lo < mins[name]:
                mins[name] = lo
            if name not in maxs or hi > maxs[name]:
                maxs[name] = hi

    def enc(v):
        # datetime first (it subclasses date): 'T'-separated with
        # seconds, zoned instants stored UTC-NAIVE (a pyarrow stat from
        # a Spark-written zoned column is tz-aware; its '+00:00' suffix
        # would defeat every lexicographic compare — review-pass r15).
        # Bare dates gain an explicit midnight so DATE-column
        # stats share the timestamp convention — pruned_files compares
        # bounds lexicographically after normalizing them to the SAME
        # 'YYYY-MM-DDTHH:MM:SS' shape, and a date-only stat would sort
        # BEFORE its own day's midnight ('2024-01-02' <
        # '2024-01-02T00:00:00'), wrongly pruning the file whose max is
        # exactly the bound's day (VERDICT r14 #2).
        if isinstance(v, datetime.datetime):
            if v.tzinfo is not None:
                v = v.astimezone(datetime.timezone.utc).replace(
                    tzinfo=None
                )
            return v.isoformat()
        if isinstance(v, datetime.date):
            return v.isoformat() + "T00:00:00"
        return v

    return {
        "record_count": md.num_rows,
        "min": {k: enc(v) for k, v in mins.items() if k not in unreadable},
        "max": {k: enc(v) for k, v in maxs.items() if k not in unreadable},
    }


def record_count(manifest: dict, files: list[str]) -> int:
    """Total rows of ``files`` from ``manifest``'s per-file
    ``record_count`` (Iceberg's manifest-entry field); only a file whose
    entry lacks one (a legacy manifest, written before every write
    recorded counts) costs a parquet footer read."""
    import pyarrow.parquet as pq

    stats = manifest.get("stats", {})
    return sum(
        stats[f]["record_count"]
        if "record_count" in stats.get(f, {})
        else pq.read_metadata(f).num_rows
        for f in files
    )


def history(table: LakehouseTable) -> DataFrame:
    """The `t.history` metadata relation: commit lineage."""
    rows = []
    for v in range(1, table.current_version() + 1):
        try:
            m = table._read_manifest(v)
        except FileNotFoundError:
            continue  # expired snapshot
        rows.append((v, m["parent"], m["op"], m["timestamp_ms"]))
    return local_frame(
        table.spark, rows, "version int, parent int, operation string, ts_ms long"
    )


def cherrypick_snapshot(table: LakehouseTable, version: int) -> int:
    """CALL system.cherrypick_snapshot (M5): re-apply the file DELTA an
    append-type snapshot introduced on top of the current state.

    Staged branch appends (op ``branch_append:<name>``) are accepted
    too — they are append-type deltas with a valid base file list — so
    the recovery path _assert_fast_forward's refusal message points at
    actually works (ADVICE r9: it used to reject staged snapshots, so
    the documented path for publishing divergent work always failed).
    The delta base is the snapshot's CONTENT parent: ``ref_base`` for
    a staged append (the branch head it was based on), the log parent
    otherwise.
    """
    m = table._read_manifest(version)
    op = m["op"]
    if op not in ("append", "create") and not op.startswith("branch_append:"):
        raise ValueError(f"can only cherry-pick append snapshots, got {op!r}")
    if m.get("staged_ref"):
        # pre-ref_base staged manifests fall back to the LOG parent
        # (same fallback as _assert_fast_forward) — treating base=None
        # as "no base" would count the branch's inherited base files as
        # delta and resurrect rows main has since deleted (review-pass
        # finding). `in` test, not `or`: ref_base == 0 legitimately
        # means "based on the empty table".
        base = m["ref_base"] if "ref_base" in m else m.get("parent")
    else:
        base = m.get("parent")
    parent_files = (
        set(table._read_manifest(int(base))["files"]) if base else set()
    )
    delta = [f for f in m["files"] if f not in parent_files]
    parent = table.current_version()
    cur = table._files()  # one head walk, not one per delta file
    cur_set = set(cur)
    files = cur + [f for f in delta if f not in cur_set]
    return table._commit(
        {
            "files": files,
            "schema": table.schema_json(),
            "op": f"cherrypick_v{version}",
            "stats": m.get("stats", {}),
        },
        parent,
    )

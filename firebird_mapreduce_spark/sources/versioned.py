"""Versioned parquet table: atomic snapshot commits, time travel, and an
idempotent additive streaming sink — the minimum table-format contract
(what Delta/Iceberg provide) built from plain parquet + an append-only
JSON commit log, for environments without a lakehouse format.

Reference parity note: the reference engine has no persistent sink at
all (results live in ``std::vector``, ``firebird.h:174-179``); this
module exists for the streaming posture — an additive `foreachBatch`
sink with exactly-once semantics under batch retries.

SCRATCH-LOCAL BY CONTRACT: every I/O on the log and the lock is a local
``os`` call, so a table lives in a driver-local scratch directory (the
additive replays of ``streaming.jobs`` open it under
``tempfile.mkdtemp``), never in the warehouse.  Persisted index
artifacts are warehouse tables (``relational.ensure_layout_table``).

Design (all driver-side metadata, all data distributed):
- Each commit writes a FULL snapshot to ``<path>/v<version>/`` and then
  appends one JSON line ``{"version": N, "batch_id": B}`` to
  ``<path>/_commits`` via write-temp + ``os.replace`` — atomic on POSIX,
  so a reader never observes a half-written log and a crash between
  snapshot write and log append simply leaves an orphan directory that
  the next commit overwrites.
- Readers resolve the latest (or any historical) version from the log —
  snapshot isolation and time travel for free.
- ``apply_additive_batch`` records the micro-batch id in the commit
  line; re-delivery of an already-applied batch (Structured Streaming
  retries after a failure BEFORE the sink's effect was recorded) is
  detected and skipped, which upgrades foreachBatch's at-least-once
  contract to exactly-once — the idempotent-sink recipe from the Spark
  docs, made concrete.
"""

from __future__ import annotations

import json
import os
import socket as _socket
import tempfile
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as _F


class ConcurrentCommitError(RuntimeError):
    """A second committer raced the single-writer commit log."""


class VersionedParquetTable:
    """A parquet directory with an append-only commit log.

    ``path/_commits`` holds one JSON line per commit; ``path/v<N>/`` holds
    snapshot N.  The log is the source of truth — orphan snapshot dirs
    (crash between data write and log append) are invisible to readers.

    CONCURRENCY CONTRACT: one writer per table.  The one mutating method
    (``apply_additive_batch``) holds an ``O_EXCL`` lock file for its
    ENTIRE read-modify-write — dedupe check, version selection, snapshot
    data write, and log rewrite all happen under the lock, not just the
    final log append.  A second committer raises ``ConcurrentCommitError``
    loudly: lost history is the one failure the batch-id dedupe contract
    cannot survive, and a lock-scoped-to-the-log-write-only would still
    let two committers pick the same version.  (Real table formats solve
    this with optimistic-concurrency commit protocols; a second
    foreachBatch query targeting the same table should use its own
    table path or serialize through one query.)
    """

    def __init__(self, path: str, key_cols: list[str]):
        self.path = path
        self.key_cols = list(key_cols)
        os.makedirs(path, exist_ok=True)

    @property
    def _log_path(self) -> str:
        return os.path.join(self.path, "_commits")

    def commits(self) -> list[dict]:
        if not os.path.exists(self._log_path):
            return []
        with open(self._log_path) as fh:
            return [json.loads(line) for line in fh if line.strip()]

    def latest_version(self) -> int | None:
        log = self.commits()
        return log[-1]["version"] if log else None

    def applied_batch_ids(self) -> set[int]:
        return {
            c["batch_id"] for c in self.commits() if c.get("batch_id") is not None
        }

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Snapshot read (latest by default; any logged version for time
        travel).  Raises ``ValueError`` for an empty table or an unknown
        version rather than returning a half-state."""
        log = self.commits()
        if not log:
            raise ValueError(f"versioned table at {self.path} has no commits")
        versions = [c["version"] for c in log]
        if version is None:
            version = versions[-1]
        elif version not in versions:
            raise ValueError(f"version {version} not in commit log {versions}")
        return spark.read.parquet(os.path.join(self.path, f"v{version}"))

    @contextmanager
    def _commit_lock(self, action: str):
        """Single-writer mutual exclusion for the WHOLE read-modify-write
        of any mutating method.  ``O_CREAT|O_EXCL`` is atomic on POSIX;
        a second holder fails loudly; release happens on success AND
        failure paths.

        The lock file records the holder's ``pid@host`` so a contender
        can tell a live writer from one that died between ``os.open`` and
        the ``finally`` (e.g. SIGKILL) and left the lock orphaned: the
        error message reports the holder's identity and — when the holder
        is on this host — whether that process still exists, so recovery
        (deleting a dead holder's lock) is an informed action instead of
        a guess."""
        lock = os.path.join(self.path, "_commits.lock")
        try:
            lock_fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            raise ConcurrentCommitError(
                f"another committer holds {lock} "
                f"({self._describe_lock_holder(lock)}); cannot {action} — "
                "versioned tables are single-writer (delete the lock only "
                "if the holder is dead)"
            ) from None
        try:
            os.write(
                lock_fd, f"{os.getpid()}@{_socket.gethostname()}".encode()
            )
            yield
        finally:
            os.close(lock_fd)
            os.unlink(lock)

    @staticmethod
    def _describe_lock_holder(lock: str) -> str:
        """Best-effort liveness report for the ``pid@host`` in a lock file.
        Never raises: the lock may vanish or be empty mid-read (a holder
        writing or releasing concurrently), in which case the holder is
        simply reported as unknown."""
        try:
            with open(lock) as fh:
                holder = fh.read().strip()
            pid_s, _, host = holder.partition("@")
            pid = int(pid_s)
        except (OSError, ValueError):
            return "holder unknown: lock file empty or unreadable"
        if host != _socket.gethostname():
            return f"held by pid {pid} on {host}; liveness unknown from here"
        try:
            os.kill(pid, 0)  # signal 0: existence probe, sends nothing
            # a pid existing proves only that SOME process has that pid —
            # the OS recycles pids, so the original holder may be long
            # dead with an unrelated process wearing its number; say so
            # rather than steering an operator away from a stale lock
            return (
                f"held by pid {pid} on this host; a process with that pid "
                "exists (may be the holder, or a recycled pid — verify "
                "before deleting)"
            )
        except ProcessLookupError:
            return f"held by pid {pid} on this host, now DEAD (stale lock)"
        except PermissionError:
            return f"held by pid {pid} on this host (alive, other user)"

    def _rewrite_log(self, lines: list[dict]) -> None:
        # write-temp + atomic replace: the log is small (one line per
        # commit), so rewriting it whole keeps the update a single
        # os.replace — no reader ever sees a torn line.  Callers hold
        # _commit_lock.
        fd, tmp = tempfile.mkstemp(dir=self.path, prefix="_commits_tmp")
        with os.fdopen(fd, "w") as fh:
            for e in lines:
                fh.write(json.dumps(e) + "\n")
        os.replace(tmp, self._log_path)

    def apply_additive_batch(
        self, updates: DataFrame, batch_id: int, sum_cols: list[str]
    ) -> bool:
        """Incremental materialized-aggregate maintenance: fold a
        PRE-AGGREGATED micro-batch delta (one row per key; algebraic
        count/sum columns) into the stored aggregate via
        ``merge_additive`` — the foreachBatch body that keeps a
        materialized view fresh with aggregate-sized state instead of
        replaying event history.  Exactly-once: duplicate batch ids are
        skipped under the single-writer lock, so a sink retry cannot
        double-add a delta — which for an ADDITIVE merge would silently
        corrupt every total rather than merely rewrite a row.  Returns
        True if applied, False if skipped as a duplicate."""
        from ..operators.relational import merge_additive

        with self._commit_lock(f"apply additive batch {batch_id}"):
            if batch_id in self.applied_batch_ids():
                return False
            spark = updates.sparkSession
            # normalize EVERY batch to (key_cols + sum_cols), collapsing
            # duplicate keys additively: a verbatim-committed first batch
            # could carry extra columns (silently dropped by the next
            # merge — schema drift across versions) or duplicate keys
            # (each of which would double-match every later full-outer
            # merge, compounding total corruption).  For additive deltas
            # the collapse is semantically free.
            norm_types = dict(updates.dtypes)
            updates = updates.groupBy(*self.key_cols).agg(
                *[
                    _F.sum(c).cast(norm_types[c]).alias(c)
                    for c in sum_cols
                ]
            )
            latest = self.latest_version()
            if latest is None:
                merged = updates
            else:
                merged = merge_additive(
                    self.read(spark), updates, self.key_cols, sum_cols
                )
            # version selection AND data write under the lock: a lock
            # scoped to the log append alone would let two committers
            # pick the same version and overwrite each other's snapshot
            version = 0 if latest is None else latest + 1
            merged.write.mode("overwrite").parquet(
                os.path.join(self.path, f"v{version}")
            )
            self._rewrite_log(
                self.commits() + [{"version": version, "batch_id": batch_id}]
            )
            return True

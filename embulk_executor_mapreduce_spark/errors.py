"""Error taxonomy.

Mirrors the reference's error classification semantics (SURVEY.md §2.2 O13):

- config-time validation errors (reference raises Embulk ``ConfigException`` from
  e.g. ``TimestampPartitioning.java:122-150`` for a missing column / bad unit /
  non-UTC timezone / wrong column type) → :class:`ConfigError`;
- remote task failures are classified *user-data* (bad input records — retry
  will not help) vs *infra* (transient) — reference
  ``RemoteTaskFailedDataException`` / ``RemoteTaskFailedException``
  (``MapReduceExecutor.java:444-464``) → :class:`RemoteTaskFailedDataError` /
  :class:`RemoteTaskFailedError`.
"""

from __future__ import annotations


class EngineError(Exception):
    """Base class for all engine errors."""


class ConfigError(EngineError):
    """Invalid pipeline spec — raised at plan time, before any Spark job runs.

    Parity with the reference's config-time ``ConfigException`` matrix
    (missing partition column, bad target type, non-UTC timezone, bad
    ``unit`` / ``unix_timestamp_unit``, reducers < 0, unknown partitioning
    type — reference ``TimestampPartitioning.java:122-150``,
    ``MapReduceExecutor.java:99-101,129-137``).
    """


class PartitionError(ConfigError):
    """Invalid partitioning configuration specifically."""


class NotAMergeStateError(ConfigError, FileNotFoundError):
    """A merge-state read, diff or tail named a path with no ``_CURRENT``
    pointer. Both a config mistake (the spec names the wrong path) and a
    missing file (there is no committed state to open)."""


class RemoteTaskFailedError(EngineError):
    """A distributed task failed for infrastructure reasons (retryable)."""


class RemoteTaskFailedDataError(RemoteTaskFailedError):
    """A distributed task failed because the *user's data* is invalid
    (e.g. an unparseable record with ``stop_on_invalid_record: true``) —
    retrying cannot help. Reference ``AttemptState.java:97-116`` keeps a
    ``userDataException`` flag for exactly this distinction.
    """


class MergeCommitConflictError(EngineError):
    """Optimistic-concurrency exhaustion on a ``mode: merge`` sink: another
    writer won the pointer CAS on every retry. The state is consistent (the
    other writer's commits landed); re-running the load merges this batch
    against the newest snapshot."""

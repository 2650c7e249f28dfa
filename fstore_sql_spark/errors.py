"""Engine error types.

The reference raises SQL errors with exact message texts
(``/root/reference/schema.sql:84,108,134``); we preserve those strings so the
reference test suite's ``test_expect_error`` regexes would still match
(SURVEY.md §5.3).
"""

from __future__ import annotations


class FStoreError(Exception):
    """Base class for all engine errors."""


class StreamFinalizedError(FStoreError):
    """T1 — append to a closed stream (/root/reference/schema.sql:75-96)."""

    MESSAGE = (
        "last event for this decider stream is already final. "
        "the stream is closed, you can not append events to it."
    )

    def __init__(self, message: str | None = None):
        super().__init__(message or self.MESSAGE)


class FirstEventError(FStoreError):
    """T2 — null previous_id on non-empty stream (/root/reference/schema.sql:99-120)."""

    MESSAGE = "previous_id can only be null for the first decider event"

    def __init__(self, message: str | None = None):
        super().__init__(message or self.MESSAGE)


class PreviousIdError(FStoreError):
    """T3 — previous_id not found in the same stream (/root/reference/schema.sql:124-146)."""

    MESSAGE = "previous_id must be in the same decider"

    def __init__(self, message: str | None = None):
        super().__init__(message or self.MESSAGE)


class OptimisticLockError(FStoreError):
    """C2 — duplicate non-null previous_id: two writers raced on the same
    predecessor; the reference surfaces this as a UNIQUE violation on
    ``previous_id`` (/root/reference/schema.sql:43-44)."""

    def __init__(self, previous_id: str):
        super().__init__(
            f'duplicate key value violates unique constraint "events_previous_id_key" '
            f"(previous_id={previous_id})"
        )


class ConcurrentCommitError(OptimisticLockError):
    """The events manifest advanced underneath an in-flight append — a
    second committer process raced this one past the cross-process
    committer lock (only possible if the lock file was removed or the
    filesystem lacks flock semantics).  The Delta-style commit conflict
    (SURVEY.md §3.3); the reference surfaces the same race as a UNIQUE
    violation on ``previous_id`` (/root/reference/schema.sql:43-44).
    Retry the batch: validation will re-run against the winner's log.

    Guarantee boundary: the committer FLOCK is the actual
    mutual-exclusion guarantee; this CAS is DETECTION, and its
    read-check → write_manifest window is not itself atomic — on a
    filesystem without flock semantics (some NFS mounts) the CAS alone
    does not close the race, it only makes most interleavings fail
    loudly.  Run the store on a filesystem with POSIX flock."""

    def __init__(self, expected: int, found: int):
        FStoreError.__init__(
            self,
            f"concurrent committer detected: events manifest commit_id moved "
            f"{expected} -> {found} during append; the batch was NOT committed "
            f"— retry it (validation re-runs against the new log)",
        )


class DuplicateEventIdError(FStoreError):
    """C1 — duplicate event_id (/root/reference/schema.sql:31-32)."""

    def __init__(self, event_id: str):
        super().__init__(
            f'duplicate key value violates unique constraint "events_event_id_key" '
            f"(event_id={event_id})"
        )


class UnregisteredEventError(FStoreError):
    """C3 — (decider, event, event_version) not in the registry
    (/root/reference/schema.sql:53)."""

    def __init__(self, decider: str, event: str, event_version: int):
        super().__init__(
            f'insert or update on table "events" violates foreign key constraint '
            f'"events_decider_event_event_version_fkey" '
            f"({decider}, {event}, {event_version}) not registered"
        )


class DuplicateRegistrationError(FStoreError):
    """C4 — duplicate (decider, event, event_version) registration
    (/root/reference/schema.sql:20)."""

    def __init__(self, decider: str, event: str, event_version: int):
        super().__init__(
            f'duplicate key value violates unique constraint "deciders_pkey" '
            f"({decider}, {event}, {event_version})"
        )

class UnregisteredSchemaError(FStoreError):
    """``events_typed`` met an (event, event_version) with no registered
    payload schema — schema-on-read cannot type that row (SURVEY.md §1.3).
    Register the version or exclude it."""

    def __init__(self, event: str, event_version: int | None = None):
        if event_version is None:
            super().__init__(
                f"no payload schema registered for event {event!r}"
            )
        else:
            super().__init__(
                f"no payload schema registered for event {event!r} "
                f"version {event_version} (present in the log)"
            )


class SchemaEvolutionError(FStoreError):
    """A new payload schema version retypes or narrows an existing field
    (or declares an invalid rename) relative to the previous version —
    evolution is restricted to add / rename / numeric-widen so every old
    row upcasts losslessly (``typed_payload.validate_evolution``)."""

    def __init__(self, event: str, event_version: int, problems: "list[str]"):
        detail = "; ".join(problems)
        super().__init__(
            f"invalid schema evolution for ({event!r}, version {event_version}): "
            f"{detail} — allowed changes are new fields, explicit renames "
            "(renamed_from), and numeric widening"
        )


class DuplicateSchemaError(FStoreError):
    """A payload schema for this (event, event_version) already exists —
    registered schemas are immutable (append a new version instead, the
    R1/R2 immutability discipline applied to schema evolution)."""

    def __init__(self, event: str, event_version: int):
        super().__init__(
            f"payload schema for ({event!r}, version {event_version}) "
            "already registered; schemas are immutable — register a new "
            "event_version instead"
        )


class ShardLayoutChangedError(FStoreError):
    """The consumer-state shard layout changed — or is mid-change —
    underneath a live ledger: ``tools/resize_shards.py`` requires a
    QUIESCED store (no producers/consumers), and a racing process must
    fail loudly rather than route claims/acks by a stale shard count or
    read a half-staged layout."""

    def __init__(self, table: str, pinned: int, message: str):
        super().__init__(
            f"shard layout for {table!r} (opened at {pinned} shards) "
            f"{message}; resize_shards requires a quiesced store — stop "
            "producers/consumers during resize, then reopen this process "
            "to adopt the new layout"
        )

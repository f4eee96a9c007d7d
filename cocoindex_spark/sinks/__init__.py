"""Sync targets. Every target ``App.sync_table`` drives has one write
entry point, ``apply(upserts, deletes, version)``: the reconciled delta
as two frames, either one None when its channel is empty, plus the sync
version (an idempotency token for sinks that deduplicate replays)."""

from __future__ import annotations


class Target:
    """The target write protocol; ``upsert`` and ``delete`` are its
    one-channel spellings."""

    def apply(self, upserts, deletes, version: int = 0) -> None:
        raise NotImplementedError

    def upsert(self, rows) -> None:
        self.apply(rows, None)

    def delete(self, keys) -> None:
        self.apply(None, keys)

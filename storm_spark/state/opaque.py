"""OpaqueValue / TransactionalValue — the scalar replay rule.

Parity: ``trident/state/OpaqueValue.java:22-58``,
``trident/state/TransactionalValue.java:23-44`` and the update loops of
``OpaqueMap.java:54-85`` / ``TransactionalMap.java:66-76``. This module is
the one scalar statement of Trident's exactly-once state rule; the columnar
statement of the same rule is :class:`storm_spark.state.parquet_state.ParquetMapState`.

A batch under txid ``t`` updates a stored value with
``rec.update(t, combine(base, delta))``, where ``base = rec.get(t)`` (zero
when absent):

- OPAQUE ``{curr_txid, curr, prev}``: ``t`` after the stored txid folds into
  ``curr`` and rolls ``curr`` into ``prev``; ``t`` equal to it is a replay and
  redoes the batch from ``prev`` — idempotent even when the replayed batch
  differs.
- TRANSACTIONAL ``{txid, val}``: ``t`` equal to the stored txid is a replay
  and is skipped (replayed batches must be identical).
- NON_TRANSACTIONAL: no txid is kept (``t`` is ``None``); every batch folds.

A ``t`` behind the stored txid is refused by both value types: it means the
epoch counter was reset (a fresh checkpoint against existing state), and
treating it as a new transaction would corrupt the replay chain silently.
"""

from __future__ import annotations

from typing import Any


def _check_txid(txid: int | None, stored: int | None) -> None:
    """Parity: ``OpaqueValue.java:44`` — refuse a txid behind the stored one."""
    if txid is not None and stored is not None and txid < stored:
        raise ValueError(
            f"Current batch ({txid}) is behind state's batch ({stored}): stale or reset txid"
        )


class OpaqueValue:
    """``{curr_txid, curr, prev}`` — updatable even when replayed batches
    differ: an update under the stored txid recomputes from ``prev``."""

    def __init__(self, curr_txid: int | None, curr: Any, prev: Any = None):
        self.curr_txid = curr_txid
        self.curr = curr
        self.prev = prev

    def update(self, batch_txid: int | None, value: Any) -> "OpaqueValue":
        """Parity: ``OpaqueValue.java:37-47``."""
        if batch_txid is not None and batch_txid == self.curr_txid:
            return OpaqueValue(batch_txid, value, self.prev)
        _check_txid(batch_txid, self.curr_txid)
        return OpaqueValue(batch_txid, value, self.curr)

    def get(self, txid: int | None) -> Any:
        """Parity: ``OpaqueValue.java:49-58`` — reading under the txid that
        produced ``curr`` sees ``prev``; ``None`` or a later txid sees
        ``curr``."""
        _check_txid(txid, self.curr_txid)
        if txid is not None and txid == self.curr_txid:
            return self.prev
        return self.curr

    def get_curr(self) -> Any:
        return self.curr

    def get_prev(self) -> Any:
        return self.prev

    def __repr__(self) -> str:
        return f"OpaqueValue(txid={self.curr_txid}, curr={self.curr!r}, prev={self.prev!r})"


class TransactionalValue:
    """``{txid, val}`` — skip the update when the stored txid matches
    (requires replayed batches to be identical).
    Parity: ``TransactionalValue.java:23-44``, ``TransactionalMap.java:66-76``."""

    def __init__(self, txid: int | None, val: Any):
        self.txid = txid
        self.val = val

    def update(self, txid: int | None, value: Any) -> "TransactionalValue":
        """A replay of the stored txid returns this value unchanged."""
        if txid is not None and txid == self.txid:
            return self
        _check_txid(txid, self.txid)
        return TransactionalValue(txid, value)

    def get(self, txid: int | None) -> Any:
        _check_txid(txid, self.txid)
        return self.val

    def __repr__(self) -> str:
        return f"TransactionalValue(txid={self.txid}, val={self.val!r})"

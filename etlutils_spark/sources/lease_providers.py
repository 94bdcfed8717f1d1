"""Reference ``set_lease_lock_provider`` implementation for object stores.

The filesystem writer lease (``sidecar.acquire_writer_lease``) is built
on atomic exclusive-create and atomic rename — primitives S3-family
object stores do not provide (their connectors implement
``create(overwrite=false)`` as check-then-put and rename as
copy+delete), so the lease refuses those schemes and points users at
``set_lease_lock_provider``. This module ships the provider the seam
was designed for: single-writer mutual exclusion over a store that
offers only CONDITIONAL WRITES — put-if-absent and compare-and-swap —
which is exactly the primitive set of DynamoDB conditional puts
(``attribute_not_exists`` / ``ConditionExpression``), S3 conditional
requests (``If-None-Match: *`` / ``If-Match``), GCS object generation
preconditions, and etcd/ZooKeeper compare-and-set.

Two pieces:

- :class:`InMemoryConditionalStore` — a process-local fake of those
  primitives (one mutex around a dict), used to PROVE the provider's
  protocol under the full lease test matrix (two writers, stale steal,
  commit-point abort, release-if-owner) without any external service.
  A production deployment swaps in a store adapter with the same four
  methods over its real service; the provider logic above it is
  unchanged.
- :class:`ConditionalPutLeaseProvider` — the lease protocol itself:
  lease records are ``"token:expires_at:stale_after"`` strings (the
  staleness window travels in the record so any process can verify);
  acquisition is
  put-if-absent, or compare-and-swap over a record whose ``expires_at``
  has passed (the stale steal — CAS guarantees ONE winner, the property
  the filesystem path gets from atomic rename); a background heartbeat
  CAS-extends the expiry every ``stale/3`` like the FS beat refreshes
  mtime; ``verify`` re-reads the record at every commit point and, when
  the record is ours but expired (the beat stalled), re-extends it via
  CAS — succeeding only if no thief CAS'd in between, the same
  ownership-unknown -> reconfirm-or-abort semantics as
  ``sidecar.verify_writer_lease``'s give-up path.

Clock injection (``clock=``) lets tests drive expiry deterministically
instead of sleeping through staleness windows.
"""

from __future__ import annotations

import threading
import time
import uuid
from typing import Callable


class InMemoryConditionalStore:
    """Fake conditional-write store: the minimal primitive set the
    provider needs, each atomic under one mutex (the same atomicity a
    real service grants per conditional request).

    ``put_if_absent(key, value)`` — DynamoDB ``attribute_not_exists``,
    S3 ``If-None-Match: *``. ``compare_and_swap(key, expected, value)``
    — conditional update; ``expected`` must match the CURRENT value
    exactly. ``delete_if(key, expected)`` — conditional delete.
    ``get(key)`` — plain read (eventually-consistent reads are fine:
    every MUTATION is conditional, so a stale read only causes a
    retried CAS, never two winners)."""

    def __init__(self) -> None:
        self._mutex = threading.Lock()
        self._items: dict[str, str] = {}

    def put_if_absent(self, key: str, value: str) -> bool:
        with self._mutex:
            if key in self._items:
                return False
            self._items[key] = value
            return True

    def compare_and_swap(self, key: str, expected: str, value: str) -> bool:
        with self._mutex:
            if self._items.get(key) != expected:
                return False
            self._items[key] = value
            return True

    def delete_if(self, key: str, expected: str) -> bool:
        with self._mutex:
            if self._items.get(key) != expected:
                return False
            del self._items[key]
            return True

    def get(self, key: str) -> str | None:
        with self._mutex:
            return self._items.get(key)


class ConditionalPutLeaseProvider:
    """Single-writer lease protocol over conditional writes — the
    reference implementation behind ``set_lease_lock_provider``.

    Record format: ``"{token}:{expires_at}:{stale_after}"`` with
    ``expires_at`` an epoch float and ``stale_after`` the acquirer's
    configured staleness window. The window travels IN the record so a
    ``verify`` from a different provider instance/process than the
    acquirer re-extends by the acquirer's window, not a hard-coded
    default (review catch — an in-memory map only exists in the
    acquiring process). A lease is LIVE while ``clock() < expires_at``
    and stealable after; every transition (acquire, steal, extend,
    release) is one conditional write, so concurrent writers serialize
    on the store's atomicity and exactly one wins each race.

    ``heartbeat=True`` (default) starts a daemon thread per held lease
    that CAS-extends the expiry every ``stale_after_sec / 3`` — the
    conditional-store analog of the FS lease's mtime beat. The thread
    stops when the CAS positively fails against a foreign record (we
    were stolen while stalled; ``verify`` aborts the next commit) or on
    release. With ``heartbeat=False`` the lease relies on commit-point
    ``verify`` calls to re-extend — deterministic for tests driving a
    fake clock."""

    def __init__(
        self,
        store: InMemoryConditionalStore,
        clock: Callable[[], float] = time.time,
        heartbeat: bool = True,
    ) -> None:
        self._store = store
        self._clock = clock
        self._heartbeat = heartbeat
        # (url, token) -> threading.Event that stops the beat
        self._beats: dict[tuple[str, str], threading.Event] = {}

    @staticmethod
    def _encode(token: str, expires_at: float, stale_after: float) -> str:
        return f"{token}:{expires_at!r}:{stale_after!r}"

    @staticmethod
    def _decode(record: str) -> tuple[str, float, float]:
        """-> (token, expires_at, stale_after)."""
        token, exp, stale = record.split(":")
        return token, float(exp), float(stale)

    # -- the three seam methods (duck-typed by sidecar) ----------------

    def acquire(self, url: str, stale_after_sec: float = 600.0) -> str:
        token = uuid.uuid4().hex
        for _ in range(4):  # create, steal-retry, race-retry x2
            record = self._encode(
                token, self._clock() + stale_after_sec, stale_after_sec
            )
            current = self._store.get(url)
            if current is None:
                if self._store.put_if_absent(url, record):
                    return self._won(url, token, stale_after_sec)
                continue  # lost a create race — re-read
            _, expires_at, _ = self._decode(current)
            if self._clock() < expires_at:
                raise ValueError(
                    f"another writer holds the lease at {url} (expires "
                    f"in {expires_at - self._clock():.0f}s; live holders "
                    "extend it): concurrent writers on one index "
                    "artifact would interleave appends into silent "
                    "corruption — retry after the holder finishes"
                )
            # stale: CAS over the EXACT expired record — one winner
            if self._store.compare_and_swap(url, current, record):
                return self._won(url, token, stale_after_sec)
        raise ValueError(f"could not acquire the writer lease at {url}")

    def verify(self, url: str, token: str) -> None:
        current = self._store.get(url)
        if current is None or self._decode(current)[0] != token:
            raise ValueError(
                f"writer lease at {url}: ownership could not be "
                "confirmed at the commit point (the lease is "
                f"{'absent' if current is None else 'held by another writer'}) "
                "— aborting the commit to avoid two writers "
                "interleaving on one artifact; re-acquire and re-run "
                "this mutation"
            )
        # the acquirer's window travels in the record, so a verify from
        # a DIFFERENT provider instance/process re-extends by the
        # configured window
        _, expires_at, stale_after = self._decode(current)
        if self._clock() >= expires_at:
            # ours but expired (the beat stalled): a thief may CAS it
            # away at any moment — re-extend through CAS so ownership
            # is reconfirmed atomically. A lost CAS is NOT necessarily
            # theft: our own heartbeat may have extended concurrently
            # (review catch) — re-read and abort only when the record
            # is gone or carries a foreign token.
            extended = self._encode(
                token, self._clock() + stale_after, stale_after
            )
            if not self._store.compare_and_swap(url, current, extended):
                after = self._store.get(url)
                if after is None or self._decode(after)[0] != token:
                    raise ValueError(
                        f"writer lease at {url}: the lease expired "
                        "while this holder was stalled and could not "
                        "be re-claimed (another writer took it) — "
                        "aborting the commit; re-acquire and re-run "
                        "this mutation"
                    )

    def release(self, url: str, token: str) -> None:
        stop = self._beats.pop((url, token), None)
        if stop is not None:
            stop.set()
        # re-read-and-retry: a single get+delete_if races our OWN
        # in-flight heartbeat CAS-extend (the beat re-encodes a new
        # expiry between our read and the conditional delete), which
        # would silently leave a live ownerless record blocking every
        # acquire for a full staleness window (review catch). Loop
        # until the record is gone or carries a FOREIGN token — a
        # thief's lease must survive (same stolen-while-stalled
        # semantics as the FS release's rename-and-inspect).
        for _ in range(8):
            current = self._store.get(url)
            if current is None or self._decode(current)[0] != token:
                return
            if self._store.delete_if(url, current):
                return
        # loop exhausted with OUR record still live: a misbehaving
        # store (or an interleaver rewriting the record faster than we
        # can re-read) has defeated the conditional delete — surface it
        # loudly instead of returning as if released (the FS release
        # warns on its analogous residual window); the record blocks
        # every acquire until its expiry passes
        import warnings

        warnings.warn(
            f"ConditionalPutLeaseProvider.release: could not delete "
            f"the lease record at {url} after 8 conditional attempts "
            "(the record still carries this holder's token and keeps "
            "being rewritten) — it will block acquires until its "
            "expiry passes; inspect the store"
        )

    # -- internals ------------------------------------------------------

    def _won(self, url: str, token: str, stale_after_sec: float) -> str:
        if self._heartbeat:
            stop = threading.Event()
            self._beats[(url, token)] = stop
            t = threading.Thread(
                target=self._beat,
                args=(url, token, stale_after_sec, stop),
                name=f"lease-cas-beat-{token[:8]}",
                daemon=True,
            )
            t.start()
        return token

    def _beat(
        self,
        url: str,
        token: str,
        stale_after_sec: float,
        stop: threading.Event,
    ) -> None:
        interval = max(0.05, stale_after_sec / 3.0)
        while not stop.wait(interval):
            current = self._store.get(url)
            if current is None or self._decode(current)[0] != token:
                return  # positively stolen — verify aborts the commit
            extended = self._encode(
                token, self._clock() + stale_after_sec, stale_after_sec
            )
            self._store.compare_and_swap(url, current, extended)
            # a lost CAS here is a concurrent verify-extend or a steal
            # landing mid-beat; the next tick (or the commit-point
            # verify) re-reads and resolves it

"""ContextKey dependency injection with ``detect_change`` memo
invalidation (reference: python/cocoindex/_internal/context_keys.py —
ContextKey :99-114, ContextProvider.provide :177-214; docs
programming_guide/context.mdx "Change detection").

Semantics mirrored from the reference:

- A ``ContextKey`` is a globally-unique typed handle; ``provide(key,
  value)`` binds a value, ``use_context(key)`` reads it. The KEY (not
  the value) is the stable identity: a key passed as a memoized
  function's argument fingerprints as its key name
  (``__coco_memo_key__`` → key string, context_keys.py:121), so
  rotating the underlying value — a connection, a moved directory —
  never invalidates memos by itself.
- With ``detect_change=True`` the provided VALUE is fingerprinted
  (through the standard memo-key canonicalization) and the fingerprint
  registered in the provider's live logic set — the analog of the
  reference's ``Environment.register_logic``
  (rust/core/src/engine/environment.rs:96-105). Memo entries recorded
  while that value was current carry the fingerprint; a memo hit
  requires every carried fingerprint to still be registered
  (logic_registry.rs:35 ``all_contained_with_env``), so re-providing a
  different value invalidates exactly the memos that consumed the key.
  Change detection is transitive: recording happens at
  ``use_context()`` call time, so a helper's read inside a memoized
  caller folds into the caller's validity (context.mdx tip).
- Re-providing a key unregisters the old fingerprint
  (context_keys.py:188-196 — the re-provide leak fix).

Spark-engine shape: transforms are PLAN BUILDERS — their
``use_context()`` calls depend only on code, never on row data — so
``App.sync_table`` discovers a transform's context reads with one
plan-construction probe on an empty slice and folds the observed
fingerprints into the memo identity for the whole sync (every row of
one sync shares one context snapshot). The single-call ``App.call_fn``
path records reads during execution and stores the fingerprints next
to the result, validated against the live set on hit — the reference's
per-entry ``context_memo_states`` shape (execution.rs:124-137).
"""

from __future__ import annotations

import threading
from typing import Any, Generic, TypeVar

from cocoindex_spark.fingerprint import fp_value

T = TypeVar("T")

_lock = threading.Lock()
_used_keys: set[str] = set()


def _reset_used_keys() -> None:
    """Test hook: clear the global key-name registry."""
    with _lock:
        _used_keys.clear()


class ContextKey(Generic[T]):
    """Typed DI handle. Key names are globally unique (the reference
    raises on reuse, context_keys.py:105-110) because the NAME is what
    persists across runs as the resource's identity."""

    __slots__ = ("_key", "_detect_change")

    def __init__(self, key: str, *, detect_change: bool = False):
        with _lock:
            if key in _used_keys:
                raise ValueError(f"Context key {key} already used")
            _used_keys.add(key)
        self._key = key
        self._detect_change = detect_change

    @property
    def key(self) -> str:
        return self._key

    @property
    def detect_change(self) -> bool:
        return self._detect_change

    def __coco_memo_key__(self) -> str:
        # the key IS the identity when a ContextKey rides in a memo key
        return self._key

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        return f"ContextKey({self._key!r}, detect_change={self._detect_change})"


class ContextProvider:
    """Holds provided values + the live fingerprint set for
    change-detected keys. One per App (the reference's per-Environment
    provider)."""

    def __init__(self) -> None:
        self._values: dict[str, Any] = {}
        self._fingerprints: dict[str, str] = {}  # key name -> live fp
        self._exit_cms: list[Any] = []
        self._recorders: list[set[str]] = []  # stack of active fp recorders

    # -- provide / get ----------------------------------------------------
    def provide(self, key: ContextKey[T], value: T, fp: str | None = None) -> T:
        """Bind a value. ``fp`` lets the App pass a pre-resolved
        effective fingerprint (provide-time memo-state validation —
        see App.provide); otherwise the value's canonical fp is used."""
        self._values[key.key] = value
        if key.detect_change:
            # value runs the full memo-key canonicalization (honors
            # __coco_memo_key__ / registered key fns / dataclasses);
            # the tuple tag keeps context fps disjoint from arg fps.
            if fp is None:
                fp = fp_value(["context_key", key.key, value])
            # keyed by name: re-providing a different value REPLACES
            # the fp, so the old one leaves the live set and memos that
            # carried it invalidate (the reference's re-provide
            # unregister, context_keys.py:188-196)
            self._fingerprints[key.key] = fp
        return value

    def provide_with(self, key: ContextKey[T], cm) -> T:
        value = cm.__enter__()
        self._exit_cms.append(cm)
        self.provide(key, value)
        return value

    def get(self, key: ContextKey[T] | str, t: type | None = None) -> Any:
        name = key if isinstance(key, str) else key.key
        value = self._values[name]
        if t is not None and not isinstance(value, t):
            raise TypeError(
                f"Context key '{name}': expected {t.__name__}, "
                f"got {type(value).__name__}"
            )
        if not isinstance(key, str) and key.detect_change:
            self._record(self._fingerprints[name])
        return value

    def close(self) -> None:
        while self._exit_cms:
            self._exit_cms.pop().__exit__(None, None, None)

    # -- fingerprint registry (the live logic set) ------------------------
    def live_fps(self) -> frozenset[str]:
        return frozenset(self._fingerprints.values())

    def all_live(self, fps) -> bool:
        live = self.live_fps()
        return all(fp in live for fp in fps)

    def has_change_detected(self) -> bool:
        return bool(self._fingerprints)

    # -- usage recording ---------------------------------------------------
    def _record(self, fp: str) -> None:
        for rec in self._recorders:
            rec.add(fp)

    class _Recording:
        def __init__(self, provider: ContextProvider):
            self._p = provider
            self.fps: set[str] = set()

        def __enter__(self):
            self._p._recorders.append(self.fps)
            return self

        def __exit__(self, *exc):
            self._p._recorders.remove(self.fps)
            return False

    def record(self) -> "ContextProvider._Recording":
        """Context manager capturing the fps of every change-detected
        key read through this provider while active (nestable — the
        transitive-invalidation mechanism)."""
        return ContextProvider._Recording(self)


# --- active-provider resolution for the module-level use_context -------

_tls = threading.local()


def _push_active(provider: ContextProvider) -> None:
    stack = getattr(_tls, "stack", None)
    if stack is None:
        stack = _tls.stack = []
    stack.append(provider)


def _pop_active() -> None:
    _tls.stack.pop()


def use_context(key: ContextKey[T] | str, t: type | None = None) -> Any:
    """Read a context value from the enclosing App (reference
    ``coco.use_context``). Valid inside transforms / memoized functions
    invoked by an App (sync_table, call_fn) — the App is the active
    provider there. Elsewhere use ``app.use_context(...)``."""
    stack = getattr(_tls, "stack", None)
    if not stack:
        raise RuntimeError(
            "use_context() called outside an App-managed invocation; "
            "use app.use_context(key) or app.provide(key, value) first"
        )
    return stack[-1].get(key, t)

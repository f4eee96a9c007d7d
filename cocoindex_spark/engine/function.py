"""@fn decorator: tracked transforms with logic fingerprints
(reference: python/cocoindex/_internal/function.py:2199 `fn`,
logic fp at function.py:613-668; docs function.mdx:125-247).

A decorated transform is a :class:`TrackedFn` carrying:

- ``logic_fp`` — canonical-AST hash + version + dep fingerprints,
  computed LAZILY on first use (after the whole module has executed),
  so helpers defined BELOW the decorated function — forward references
  — resolve through ``__globals__`` and fold in. The reference gets the
  same effect by tracking dependencies dynamically at call time
  (``add_fn_logic_dep``); lazy decoration-module-complete resolution is
  the plan-builder analog. Attribute-access call targets
  (``module.helper``) resolve one level through module globals;
  instance-borne targets (``self.method``) cannot be resolved
  statically — pass those via ``deps=``.
- ``logic_tracking`` — ``"full"`` (default: own AST + transitive
  tracked/same-package callees), ``"self"`` (own AST only), or ``None``
  (untracked: the fp is a stable name-based constant, so code edits
  are invisible to change detection — function.mdx `logic_tracking`).
- ``deps`` — external VALUES the logic depends on (a prompt string, a
  model id — snapshotted at decoration time and canonicalized through
  the memo-key pipeline, function.mdx `deps`); callables are folded as
  logic deps (their own logic fp) for explicit call-graph edges.
- ``memo_key`` — per-PARAMETER fingerprint overrides for the
  single-call memo path (``App.call_fn``): map a parameter name to a
  callable (fingerprint its return instead of the argument) or None
  (exclude the parameter entirely) — docs memoization_keys.mdx
  "Override at the call site". Validated at decoration time: unknown
  names raise ValueError, non-callable non-None values raise TypeError.
- ``memo`` — whether ``App.call_fn`` stores its result in the memo
  table (it still looks the call up either way). ``App.sync_table``
  ignores it: a sync always memoizes its transform's output rows.

Batching is inherent: transforms are DataFrame→DataFrame, so Spark
already executes them in Arrow batches (the reference's
``batching=True`` machinery, utils/batching.rs:46-172, is subsumed).
"""

from __future__ import annotations

import ast
import functools
import inspect
import textwrap
import threading
from collections.abc import Callable
from typing import Any

from cocoindex_spark.fingerprint import fp_logic, fp_value

# Library namespaces whose functions are NOT logic dependencies: their
# behavior is pinned by the environment, not the user's code (the
# reference likewise only walks the user's own call graph,
# function.py:613-668).
_SKIP_TOPLEVEL = {
    "pyspark", "builtins", "numpy", "pandas", "py4j", "functools",
    "itertools", "json", "re", "os", "math",
}


def _referenced_names(f: Callable) -> tuple[set[str], set[tuple[str, str]]]:
    """Names the function body loads: plain identifiers plus one-level
    dotted references (``mod.helper``) for attribute-resolved deps."""
    try:
        tree = ast.parse(textwrap.dedent(inspect.getsource(f)))
    except (OSError, TypeError, SyntaxError):
        return set(), set()
    plain: set[str] = set()
    dotted: set[tuple[str, str]] = set()
    for n in ast.walk(tree):
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
            plain.add(n.id)
        elif (
            isinstance(n, ast.Attribute)
            and isinstance(n.ctx, ast.Load)
            and isinstance(n.value, ast.Name)
        ):
            dotted.add((n.value.id, n.attr))
    return plain, dotted


def _auto_dep_fps(
    f: Callable,
    _seen: set | None = None,
    _exclude: set | None = None,
) -> tuple[str, ...]:
    """Transitive call-graph fingerprints, discovered from the
    function's own AST: every loaded name — plain or one-level dotted
    (``module.helper``) — that resolves (via closure or module globals)
    to a tracked ``@fn`` OR to a plain function in the same top-level
    package folds its logic fp into the caller's — editing a helper's
    body invalidates every (transitive) caller (function.mdx:48;
    reference function.py:613-668 tracks the same edges dynamically).
    Cycle-guarded; deterministic (names sorted). Library functions
    (pyspark/numpy/stdlib …) are environment, not logic, and are
    skipped. ``self.method`` targets cannot resolve statically — list
    them in ``deps=``.

    ``_exclude``: TrackedFns whose edges must NOT fold in — the members
    of the SCC currently being jointly fingerprinted (their fps are
    what's being computed; external callees still fold in, so editing
    a tracked helper CALLED BY a cycle member invalidates the cycle)."""
    seen = _seen if _seen is not None else set()
    key = (getattr(f, "__module__", None), getattr(f, "__qualname__", None))
    if key in seen:
        return ()
    seen.add(key)
    g = getattr(f, "__globals__", None) or {}
    cl: dict[str, object] = {}
    code = getattr(f, "__code__", None)
    closure = getattr(f, "__closure__", None)
    if code is not None and closure:
        for name, cell in zip(code.co_freevars, closure):
            try:
                cl[name] = cell.cell_contents
            except ValueError:  # empty cell
                pass
    top = (getattr(f, "__module__", "") or "").split(".")[0]
    plain, dotted = _referenced_names(f)
    candidates: list[tuple[str, object]] = []
    for name in sorted(plain - {getattr(f, "__name__", "")}):
        candidates.append((name, cl.get(name, g.get(name))))
    import types

    for base, attr in sorted(dotted):
        holder = cl.get(base, g.get(base))
        if isinstance(holder, types.ModuleType):
            candidates.append((f"{base}.{attr}", getattr(holder, attr, None)))
    fps: list[str] = []
    for name, obj in candidates:
        if obj is None or obj is f:
            continue
        if isinstance(obj, TrackedFn):
            if obj.fn is f or (_exclude is not None and obj in _exclude):
                continue
            fps.append(f"{name}:{obj.logic_fp}")
            continue
        lf = getattr(obj, "logic_fp", None)
        if isinstance(lf, str):
            fps.append(f"{name}:{lf}")
            continue
        if inspect.isfunction(obj):
            omod = (getattr(obj, "__module__", "") or "").split(".")[0]
            if omod and omod == top and omod not in _SKIP_TOPLEVEL:
                fps.append(
                    f"{name}:{fp_logic(obj, deps=_auto_dep_fps(obj, seen, _exclude))}"
                )
    return tuple(fps)


def _dep_fp(d: Any) -> str:
    """One dep's fingerprint: callables fold as logic (call-graph
    edge); anything else is a VALUE snapshot through the memo-key
    canonicalization (function.mdx `deps` — prompt strings, model ids,
    tuples/dicts of them)."""
    lf = getattr(d, "logic_fp", None)
    if isinstance(lf, str):
        return lf
    if callable(d) and (inspect.isfunction(d) or inspect.ismethod(d)):
        return fp_logic(d)
    return "val:" + fp_value(d)


# Logic-fp resolution stack: detects mutual recursion between tracked
# fns so every member of a cycle gets a JOINTLY computed fingerprint
# (order-independent) instead of whichever partial fp the traversal
# order happened to produce first. THREAD-LOCAL: two threads resolving
# unrelated fns concurrently must never see each other's frames (a
# shared stack could false-detect a cycle spanning both and
# permanently contaminate _scc_peers). Fps are deterministic, so a
# concurrent double-compute of the SAME fn is a benign idempotent
# write, not a race.
_RESOLVE = threading.local()


def _resolve_stack() -> list["TrackedFn"]:
    s = getattr(_RESOLVE, "stack", None)
    if s is None:
        s = _RESOLVE.stack = []
    return s


class TrackedFn:
    """Callable wrapper produced by ``@fn`` — see module docstring."""

    def __init__(
        self,
        f: Callable,
        *,
        memo: bool,
        version: int | None,
        deps: Any,
        memo_key: dict[str, Callable | None] | None,
        logic_tracking: str | None,
    ):
        functools.update_wrapper(self, f)
        self.fn = f
        self.memo = memo
        self.memo_key = memo_key
        self._version = version
        self._logic_tracking = logic_tracking
        # deps VALUES snapshot at decoration time (function.mdx: "not
        # re-evaluated per call"); auto call-graph deps stay lazy.
        if isinstance(deps, tuple):
            self._dep_fps = tuple(_dep_fp(d) for d in deps)
        elif deps is None:
            self._dep_fps = ()
        else:
            self._dep_fps = (_dep_fp(deps),)
        self._logic_fp: str | None = None
        self._scc_peers: set[TrackedFn] = set()
        if memo_key is not None:
            try:
                params = inspect.signature(f).parameters
            except (ValueError, TypeError):
                raise ValueError(
                    f"memo_key= on {f!r}: signature not introspectable"
                ) from None
            for name, override in memo_key.items():
                if name not in params:
                    raise ValueError(
                        f"memo_key parameter {name!r} is not a parameter of "
                        f"{getattr(f, '__qualname__', f)!r}"
                    )
                if override is not None and not callable(override):
                    raise TypeError(
                        f"memo_key[{name!r}] must be callable or None, "
                        f"got {type(override).__name__}"
                    )
        if logic_tracking not in ("full", "self", None):
            raise ValueError(
                f"logic_tracking must be 'full', 'self' or None, got {logic_tracking!r}"
            )
        if logic_tracking is None and self._dep_fps:
            raise ValueError("deps= requires logic_tracking to be enabled")

    def __call__(self, *args, **kwargs):
        return self.fn(*args, **kwargs)

    def __get__(self, obj, objtype=None):
        # method support: bind like a plain function would
        if obj is None:
            return self
        return functools.partial(self.__call__, obj)

    def _member_fp(self, scc: set["TrackedFn"]) -> str:
        """Own AST + version + explicit deps + auto call-graph deps,
        EXCLUDING the members of ``scc``. With an empty ``scc`` this is
        the plain (acyclic) logic fp; for a cycle member it is its
        contribution to the cycle's joint fingerprint (the members' fps
        are the thing being computed). External tracked callees therefore
        still fold in — editing a tracked helper called by a
        mutually-recursive fn invalidates the whole cycle (the r7
        advisor's finding: the old explicit-deps-only contribution
        dropped those edges)."""
        if self._logic_tracking is None:
            return fp_value(["untracked", self.__module__, self.__qualname__])
        deps = self._dep_fps
        if self._logic_tracking == "full":
            deps = deps + _auto_dep_fps(self.fn, _exclude=scc)
        return fp_logic(self.fn, version=self._version, deps=deps)

    @property
    def logic_fp(self) -> str:
        """Lazy: resolved on first use, by which time the defining
        module has fully executed — forward-referenced helpers are in
        ``__globals__`` and fold in (the r5 advisor's finding on the
        decoration-time snapshot).

        Mutual recursion: fns whose call graphs form a cycle (an SCC)
        get a JOINT fingerprint — the hash of the sorted set of every
        member's own content fp — personalized per member by name.
        Editing ANY member's body therefore invalidates EVERY member,
        and the result is independent of which member's fp was asked
        for first (order-dependent partial fps were the r6 advisor's
        finding). External tracked callees of cycle members fold in
        both via explicit ``deps=`` and the automatic call-graph walk
        (which stops only at the cycle boundary itself)."""
        if self._logic_fp is None:
            stack = _resolve_stack()
            if any(m is self for m in stack):
                # Cycle: everything from our first stack occurrence to
                # the top is in the SCC. Record membership on each
                # member and break the recursion — the marker is only
                # ever folded into raw fps that the SCC branch below
                # discards.
                i = next(j for j, m in enumerate(stack) if m is self)
                scc = stack[i:]
                for m in scc:
                    m._scc_peers.update(scc)
                return f"cycle:{self.__module__}.{self.__qualname__}"
            stack.append(self)
            try:
                raw = self._member_fp(set())
            finally:
                stack.pop()
            if self._scc_peers:
                # The raw fp embedded traversal-order-dependent cycle
                # markers — discard it and assign every member its
                # joint fp (deterministic: sorted by name, so any
                # member reaching this branch computes the same value).
                member_set = self._scc_peers | {self}
                members = sorted(
                    member_set,
                    key=lambda m: (m.__module__, m.__qualname__),
                )
                joint = fp_value(
                    [
                        [m.__module__, m.__qualname__, m._member_fp(member_set)]
                        for m in members
                    ]
                )
                for m in members:
                    m._logic_fp = fp_value(
                        ["scc", joint, m.__module__, m.__qualname__]
                    )
            elif self._logic_fp is None:
                self._logic_fp = raw
        return self._logic_fp

    def bound_memo_args(self, args: tuple, kwargs: dict) -> Any:
        """The value tree fingerprinted as this call's memo args key,
        after per-parameter ``memo_key`` overrides (docs
        memoization_keys.mdx): callable → transformed value, None →
        excluded, unlisted → the raw argument."""
        if not self.memo_key:
            return [list(args), kwargs]
        ba = inspect.signature(self.fn).bind(*args, **kwargs)
        items = []
        for name, value in ba.arguments.items():
            if name in self.memo_key:
                override = self.memo_key[name]
                if override is None:
                    continue
                value = override(value)
            items.append([name, value])
        return items


def fn(
    memo: bool = True,
    version: int | None = None,
    deps: Any = (),
    memo_key: dict[str, Callable | None] | None = None,
    logic_tracking: str | None = "full",
) -> Callable:
    def deco(f: Callable) -> TrackedFn:
        return TrackedFn(
            f,
            memo=memo,
            version=version,
            deps=deps,
            memo_key=memo_key,
            logic_tracking=logic_tracking,
        )

    return deco

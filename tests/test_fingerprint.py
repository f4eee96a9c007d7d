"""Fingerprint semantics mirroring the reference's contracts
(test_logic_change_detection.py: docstring edits don't invalidate,
body edits do, dep edits propagate)."""

from __future__ import annotations

from pyspark.sql import functions as F

from cocoindex_spark.engine.function import fn
from cocoindex_spark.fingerprint import fp_col, fp_logic, fp_value


def test_fp_value_canonical():
    assert fp_value({"b": 1, "a": 2}) == fp_value({"a": 2, "b": 1})
    assert fp_value([1, 2]) != fp_value([2, 1])
    assert fp_value("1") != fp_value(1)
    assert fp_value(None) != fp_value("")
    assert fp_value(True) != fp_value(1)


def test_fp_col_unambiguous_boundaries(spark):
    """Two distinct rows must never share a fingerprint: values
    containing the old joiner byte must not shift across field
    boundaries, and complex types must encode structurally (the
    reference's canonical-serde guarantee, rust/utils fingerprint)."""
    df = spark.createDataFrame(
        [("a\x1fb", "c"), ("a", "b\x1fc")], "x STRING, y STRING"
    ).select(fp_col(F.col("x"), F.col("y")).alias("fp"))
    fps = [r["fp"] for r in df.collect()]
    assert fps[0] != fps[1]

    arr = spark.createDataFrame([(["a, b"],), (["a", "b"],)], "v ARRAY<STRING>").select(
        fp_col(F.col("v")).alias("fp")
    )
    a, b = [r["fp"] for r in arr.collect()]
    assert a != b

    nulls = spark.createDataFrame([(None,), ("null",), ("",)], "v STRING").select(
        fp_col(F.col("v")).alias("fp")
    )
    seen = [r["fp"] for r in nulls.collect()]
    assert len(set(seen)) == 3


def test_fp_logic_docstring_invariant():
    # Redefinitions of the SAME function name (simulating an edit):
    # docstring-only change keeps the fingerprint, body change breaks it.
    def f(x):
        """Doc A."""
        return x + 1

    fp_a = fp_logic(f)

    def f(x):  # noqa: F811
        """Completely different docs."""
        return x + 1

    fp_b = fp_logic(f)

    def f(x):  # noqa: F811
        """Doc A."""
        return x + 2

    fp_c = fp_logic(f)

    assert fp_a == fp_b
    assert fp_a != fp_c


def test_fp_logic_version_and_deps():
    def f(x):
        return x

    assert fp_logic(f, version=1) != fp_logic(f, version=2)
    assert fp_logic(f, deps=("a",)) != fp_logic(f, deps=("b",))


def test_fn_decorator_dep_propagation():
    @fn()
    def dep_v1(df):
        return df

    # Same body, new name binding — identical AST apart from name.
    @fn()
    def caller_a(df):
        return df

    fp_with_dep1 = fn(deps=(dep_v1,))(lambda df: df).logic_fp

    @fn(version=2)
    def dep_v2(df):
        return df

    fp_with_dep2 = fn(deps=(dep_v2,))(lambda df: df).logic_fp
    assert fp_with_dep1 != fp_with_dep2
    assert caller_a.logic_fp  # decorated fns always carry a fingerprint


# ---- memo-key canonicalization beyond primitives (SURVEY §1.3:
#      dataclasses, pydantic, __coco_memo_key__ overrides, registered
#      key fns, NotMemoKeyable poison — memo_fingerprint.py:177-404) ----
import dataclasses

import pytest

from cocoindex_spark.fingerprint import (
    NotMemoKeyable,
    fp_value,
    register_memo_key,
)


@dataclasses.dataclass
class _Cfg:
    model: str
    dim: int


@dataclasses.dataclass
class _Cfg2:
    model: str
    dim: int


def test_dataclass_memo_key_structural_and_class_tagged():
    assert fp_value(_Cfg("e5", 384)) == fp_value(_Cfg("e5", 384))
    assert fp_value(_Cfg("e5", 384)) != fp_value(_Cfg("e5", 512))
    # equal fields, different class -> different key
    assert fp_value(_Cfg("e5", 384)) != fp_value(_Cfg2("e5", 384))
    # field ORDER does not matter (sorted mapping), only names/values
    assert fp_value(_Cfg("e5", 384)) != fp_value({"model": "e5", "dim": 384})


def test_coco_memo_key_override_wins_over_structure():
    class Handle:
        def __init__(self, url, secret):
            self.url, self.secret = url, secret

        def __coco_memo_key__(self):
            return self.url  # secret excluded from identity

    assert fp_value(Handle("a", "s1")) == fp_value(Handle("a", "s2"))
    assert fp_value(Handle("a", "s1")) != fp_value(Handle("b", "s1"))
    # and never equal to the bare payload value
    assert fp_value(Handle("a", "s1")) != fp_value("a")


def test_registered_key_fn_exact_type():
    class Model:
        def __init__(self, name):
            self.name = name

    @register_memo_key(Model)
    def _model_key(m):
        return ("model", m.name)

    assert fp_value(Model("x")) == fp_value(Model("x"))
    assert fp_value(Model("x")) != fp_value(Model("y"))

    class SubModel(Model):  # exact-type registry: subclass is NOT keyed
        pass

    with pytest.raises(TypeError):
        fp_value(SubModel("x"))


def test_not_memo_keyable_poison():
    class LiveClient(NotMemoKeyable):
        def __coco_memo_key__(self):  # poison beats the override
            return "nope"

    with pytest.raises(TypeError, match="NotMemoKeyable"):
        fp_value(LiveClient())
    with pytest.raises(TypeError):
        fp_value({"nested": [LiveClient()]})


def test_pydantic_ducktype_model():
    class FakeModel:  # pydantic-v2 duck type: model_dump + model_fields
        model_fields = {"a": None}

        def __init__(self, a):
            self.a = a

        def model_dump(self):
            return {"a": self.a}

    assert fp_value(FakeModel(1)) == fp_value(FakeModel(1))
    assert fp_value(FakeModel(1)) != fp_value(FakeModel(2))
    assert fp_value(FakeModel(1)) != fp_value({"a": 1})


def test_call_fn_memoizes_and_invalidates(tmp_path, spark):
    from cocoindex_spark.engine.app import App
    from cocoindex_spark.engine.function import fn

    calls = []

    @fn()
    def embed(text, dim=4):
        calls.append(text)
        return [float(len(text))] * dim

    app = App("callmemo", state_dir=str(tmp_path), spark=spark)
    assert app.call_fn(embed, "hello", dim=2) == [5.0, 5.0]
    assert app.call_fn(embed, "hello", dim=2) == [5.0, 5.0]
    assert calls == ["hello"]  # second call replayed from the memo table
    app.call_fn(embed, "hello", dim=3)  # different args -> recompute
    assert calls == ["hello", "hello"]

    @fn(version=2)
    def embed_v2(text, dim=4):
        calls.append(text)
        return [float(len(text))] * dim

    # logic change (version bump) invalidates the cached call
    app.call_fn(embed_v2, "hello", dim=2)
    assert calls == ["hello", "hello", "hello"]


def test_poison_inside_dataclass_and_registered_fn_result():
    @dataclasses.dataclass
    class Holder:
        client: object

    class Live(NotMemoKeyable):
        pass

    with pytest.raises(TypeError):  # poison propagates through dataclass fields
        fp_value(Holder(Live()))

    class Wrapped:
        pass

    @register_memo_key(Wrapped)
    def _k(w):
        return Live()  # a key fn must not launder a poison value

    with pytest.raises(TypeError):
        fp_value(Wrapped())


def test_canonical_distinguishes_primitive_types():
    # type-tagged scalars: equal reprs across types must not collide
    assert fp_value(1) != fp_value("1")
    assert fp_value(True) != fp_value(1)
    assert fp_value([1, 2]) == fp_value((1, 2))  # sequence types unify by design
    assert fp_value({"a": 1}) != fp_value([("a", 1)])
    assert fp_value(None) != fp_value("n")


def _write_and_import(tmp_path, body: str, modname: str):
    import importlib.util
    import sys

    p = tmp_path / f"{modname}.py"
    p.write_text(body)
    spec = importlib.util.spec_from_file_location(modname, p)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[modname] = mod
    spec.loader.exec_module(mod)
    return mod


_CALLGRAPH_V1 = """
from cocoindex_spark.engine.function import fn

def helper(x):
    return x + 1

@fn(memo=True)
def caller(df):
    return helper(df)
"""


def test_auto_dep_fp_tracks_helper_edits(tmp_path):
    """Editing a same-module helper's BODY changes the caller's
    logic_fp without re-decorating the caller (reference
    function.mdx:48: editing a dependency invalidates every caller);
    editing only the helper's docstring does not."""
    m1 = _write_and_import(tmp_path, _CALLGRAPH_V1, "cg_mod_a")
    fp1 = m1.caller.logic_fp

    m2 = _write_and_import(
        tmp_path / "b" if (tmp_path / "b").mkdir() or True else tmp_path,
        _CALLGRAPH_V1.replace("return x + 1", "return x + 2"),
        "cg_mod_b",
    )
    assert m2.caller.logic_fp != fp1  # helper body edit propagates

    (tmp_path / "c").mkdir()
    m3 = _write_and_import(
        tmp_path / "c",
        _CALLGRAPH_V1.replace(
            "def helper(x):", 'def helper(x):\n    "docs only"'
        ),
        "cg_mod_c",
    )
    assert m3.caller.logic_fp == fp1  # docstring-only edit is invisible


_CALLGRAPH_NESTED = """
from cocoindex_spark.engine.function import fn

def inner(x):
    return x * 3

def outer(x):
    return inner(x) + 1

@fn(memo=True)
def caller(df):
    return outer(df)
"""


def test_auto_dep_fp_is_transitive(tmp_path):
    (tmp_path / "n1").mkdir()
    (tmp_path / "n2").mkdir()
    m1 = _write_and_import(tmp_path / "n1", _CALLGRAPH_NESTED, "cg_nested_a")
    m2 = _write_and_import(
        tmp_path / "n2",
        _CALLGRAPH_NESTED.replace("return x * 3", "return x * 4"),
        "cg_nested_b",
    )
    # editing inner (two hops away) still changes caller's fp
    assert m1.caller.logic_fp != m2.caller.logic_fp


def test_auto_dep_skips_library_functions(tmp_path):
    src = """
from cocoindex_spark.engine.function import fn
from pyspark.sql import functions as F

@fn(memo=True)
def caller(df):
    return df.select(F.length("x"))
"""
    (tmp_path / "l1").mkdir()
    m = _write_and_import(tmp_path / "l1", src, "cg_lib_a")
    assert isinstance(m.caller.logic_fp, str) and len(m.caller.logic_fp) > 0


def _load_as(tmp_path, name: str, body: str, tag: str):
    """Load ``body`` as module ``name`` from file ``{name}_{tag}.py``.
    The logic fp folds the module name, so variants of one logical
    module share ``name``; ``tag`` only names the backing file."""
    import importlib.util
    import sys

    p = tmp_path / f"{name}_{tag}.py"
    p.write_text(body)
    spec = importlib.util.spec_from_file_location(name, p)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[name] = mod
    spec.loader.exec_module(mod)
    return mod


_SCC_BODY = """
from cocoindex_spark import fn

@fn()
def even(n):
    return True if n == 0 else odd(n - 1)

@fn()
def odd(n):
    return {odd_ret} if n == 0 else even(n - 1)
"""


def test_mutual_recursion_fp_order_independent(tmp_path):
    """Mutually-recursive fns get fps independent of which member
    resolves first, and an edit to EITHER member invalidates both."""
    import sys

    m1 = _load_as(tmp_path, "sccmod", _SCC_BODY.format(odd_ret="False"), "a")
    even_first = (m1.even.logic_fp, m1.odd.logic_fp)

    m2 = _load_as(tmp_path, "sccmod", _SCC_BODY.format(odd_ret="False"), "b")
    odd_fp = m2.odd.logic_fp  # resolve the OTHER member first
    odd_first = (m2.even.logic_fp, odd_fp)

    assert even_first == odd_first  # access order is invisible
    assert even_first[0] != even_first[1]  # members still distinct

    # an edit to odd's body invalidates BOTH members' fps
    m3 = _load_as(tmp_path, "sccmod", _SCC_BODY.format(odd_ret="None"), "c")
    assert m3.even.logic_fp != even_first[0]
    assert m3.odd.logic_fp != even_first[1]
    sys.modules.pop("sccmod", None)


_SCC_EXT_BODY = """
from cocoindex_spark import fn

@fn()
def helper(n):
    return n + {delta}

@fn()
def ping(n):
    return helper(n) if n == 0 else pong(n - 1)

@fn()
def pong(n):
    return 0 if n == 0 else ping(n - 1)
"""


def test_scc_members_track_external_callees(tmp_path):
    """Editing a tracked helper CALLED BY a mutually-recursive fn must
    change every cycle member's logic_fp — the helper's fp folds into
    ping's cycle contribution via the auto call-graph walk."""
    import sys

    m1 = _load_as(tmp_path, "sccext", _SCC_EXT_BODY.format(delta=1), "a")
    fp1 = (m1.ping.logic_fp, m1.pong.logic_fp)

    # identical code → identical fps (stability)
    m2 = _load_as(tmp_path, "sccext", _SCC_EXT_BODY.format(delta=1), "b")
    assert (m2.ping.logic_fp, m2.pong.logic_fp) == fp1

    # edit ONLY the helper (not any cycle member's own body)
    m3 = _load_as(tmp_path, "sccext", _SCC_EXT_BODY.format(delta=2), "c")
    assert m3.ping.logic_fp != fp1[0], "helper edit must invalidate ping"
    assert m3.pong.logic_fp != fp1[1], "helper edit must invalidate pong"
    sys.modules.pop("sccext", None)


_CALLER_CALLEE_BODY = """
from cocoindex_spark import fn

@fn()
def callee(n):
    return n * 3

@fn()
def caller(n):
    return callee(n) + 1
"""


def test_concurrent_resolution_no_false_cycle(tmp_path, monkeypatch):
    """Thread A resolves callee while thread B resolves caller (whose
    walk reaches callee). A shared resolve stack would see callee on
    the stack from thread A and mint a bogus joint fingerprint for
    {caller, callee}; the thread-local stack must not."""
    import itertools
    import sys
    import threading

    from cocoindex_spark.engine import function as fmod

    # serial ground truth from an identical module
    ref = _load_as(tmp_path, "ccmod", _CALLER_CALLEE_BODY, "ref")
    want = (ref.caller.logic_fp, ref.callee.logic_fp)

    mod = _load_as(tmp_path, "ccmod", _CALLER_CALLEE_BODY, "par")
    barrier = threading.Barrier(2)
    counter = itertools.count()
    real = fmod._auto_dep_fps

    def rendezvous(f, _seen=None, _exclude=None):
        # hold the first two resolutions (one per thread) mid-flight
        # so both stacks are live simultaneously
        if next(counter) < 2:
            try:
                barrier.wait(timeout=10)
            except threading.BrokenBarrierError:
                pass
        return real(f, _seen, _exclude)

    monkeypatch.setattr(fmod, "_auto_dep_fps", rendezvous)
    got: dict[str, str] = {}
    t1 = threading.Thread(target=lambda: got.__setitem__("callee", mod.callee.logic_fp))
    t2 = threading.Thread(target=lambda: got.__setitem__("caller", mod.caller.logic_fp))
    t1.start(); t2.start(); t1.join(timeout=30); t2.join(timeout=30)
    monkeypatch.setattr(fmod, "_auto_dep_fps", real)

    assert mod.caller._scc_peers == set(), "false cycle detected"
    assert mod.callee._scc_peers == set(), "false cycle detected"
    assert (got["caller"], got["callee"]) == want
    sys.modules.pop("ccmod", None)

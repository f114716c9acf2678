"""The benchmark's calls into the package still bind.

``perfbench/`` calls some package functions only in a traced run
(``probe_layers``, the write cycle), so an untraced run never notices a
renamed or removed keyword there.  This test reads the benchmark's source
(read-only, no Spark), resolves every name it imports from the package,
and binds each call of it — and each ``self.plan.<method>(...)`` call,
against ``HybridSearchPlan`` — with ``inspect.signature``."""

from __future__ import annotations

import ast
import importlib
import inspect
import os

import pytest

PKG = "hybrid_sanctions_search_engine_spark"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_DIR = os.path.join(ROOT, "perfbench")
BENCH_FILES = sorted(
    f for f in os.listdir(BENCH_DIR) if f.endswith(".py") and not f.startswith("test_")
)


def _imported(tree: ast.AST) -> dict:
    """name → object for every ``from <package>... import name``."""
    out = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(PKG):
            mod = importlib.import_module(node.module)
            for alias in node.names:
                out[alias.asname or alias.name] = getattr(mod, alias.name)
    return out


def _target(call: ast.Call, names: dict):
    """(label, callable) a call resolves to, or None."""
    from hybrid_sanctions_search_engine_spark.plans.hybrid import HybridSearchPlan

    func = call.func
    if isinstance(func, ast.Name) and func.id in names:
        return func.id, names[func.id]
    if (
        isinstance(func, ast.Attribute)
        and isinstance(func.value, ast.Attribute)
        and func.value.attr == "plan"
    ):
        return f"plan.{func.attr}", getattr(HybridSearchPlan, func.attr)
    return None


def _unbound(call: ast.Call, fn) -> str | None:
    """Why ``call``'s arguments do not bind to ``fn``, or None."""
    sig = inspect.signature(fn)
    if isinstance(call.func, ast.Attribute):  # a method: bind self too
        args = [None]
    else:
        args = []
    starred = any(isinstance(a, ast.Starred) for a in call.args)
    args += [None] * sum(not isinstance(a, ast.Starred) for a in call.args)
    kwargs = {k.arg: None for k in call.keywords if k.arg is not None}
    try:
        if starred or any(k.arg is None for k in call.keywords):
            sig.bind_partial(*args, **kwargs)
        else:
            sig.bind(*args, **kwargs)
    except TypeError as e:
        return str(e)
    return None


def _calls(path: str):
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read())
    names = _imported(tree)
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            hit = _target(node, names)
            if hit is not None:
                yield node.lineno, hit[0], hit[1], node


@pytest.mark.parametrize("name", BENCH_FILES)
def test_benchmark_calls_bind(name):
    bad = [
        (line, label, why)
        for line, label, fn, call in _calls(os.path.join(BENCH_DIR, name))
        if (why := _unbound(call, fn)) is not None
    ]
    assert bad == []


def test_benchmark_calls_are_seen():
    """The check reaches the traced-only calls: ``probe_layers``' keywords
    and the plan's methods."""
    path = os.path.join(BENCH_DIR, "workloads.py")
    seen = {label for _, label, _, _ in _calls(path)}
    assert {"batch_topk_indexed", "topk_search", "knn_ivf_probe_many",
            "make_batch_group_scorer", "merge_compact", "plan.search_many",
            "plan.attach_delta"} <= seen


def test_binding_check_sees_an_unknown_keyword(tmp_path):
    """The check's negative control: a removed keyword and a surplus
    positional argument are reported, a valid call is not."""
    src = tmp_path / "bench.py"
    src.write_text(
        f"from {PKG}.plans.wand import topk_search\n"
        "topk_search(1, 2, 3, k=5)\n"
        "topk_search(1, 2, 3, n_groups=4)\n"
        "topk_search(1, 2, 3, 4, 5, 6, 7, 8, 9)\n"
    )
    bad = [
        line for line, _, fn, call in _calls(str(src)) if _unbound(call, fn)
    ]
    assert bad == [3, 4]

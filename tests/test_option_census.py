"""Option census: every public keyword option of the package has a caller
that passes a value other than its default.

An option that every caller passes only at its default (or that no caller
passes) is a module constant, not a keyword argument. The census walks
the AST of the package, ``__spark_entry__.py``, ``bench.py``,
``bench_extra.py``, ``BENCH/``, ``perfbench/`` and ``tests/``. An
argument counts as the default when it is a literal equal to the
default, or a name bound (once, to such a literal) in the calling module
or function; one forwarded from an option of the enclosing public
function counts as set only when that option is. Anything else (an
expression, ``*args`` or ``**kwargs``) counts as set. ``cfg`` and
column-name options (``*_col``, ``*_cols``) are out of scope. No Spark
session is needed."""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "chinese_corpus_cleaning_spark")

# (function, option) -> why it stays an option although no caller sets it
ALLOWED = {
    ("char_shingles", "k"): "perfbench/tracing.py passes it; its signature stays",
    ("decontaminate_remove", "n"): (
        "one gram width with decontaminate_overlap / decontaminate_bloom, "
        "which tests drive at n=4"
    ),
    ("ngram_counts", "n"): "bench.py and bench_extra.py pass it by keyword",
    ("perplexity_relational", "n"): "bench.py and bench_extra.py pass it by keyword",
    ("gopher_pass_col", "dup_line"): "a column name",
    ("gopher_pass_col", "top_bigram"): "a column name",
    ("gopher_pass_col", "dup_trigram"): "a column name",
    ("ppl_buckets", "model"): "a precomputed model table, not a setting",
}


def _py_files(*roots):
    for root in roots:
        if os.path.isfile(root):
            yield root
            continue
        for d, _, fs in os.walk(root):
            for f in sorted(fs):
                if f.endswith(".py"):
                    yield os.path.join(d, f)


def _parse(path):
    with open(path, encoding="utf-8") as fh:
        return ast.parse(fh.read(), path)


def _literal_bindings(body) -> dict:
    """Names bound exactly once in ``body`` (nested defs aside), by a plain
    ``name = <literal>``: name -> value."""
    stores: dict[str, int] = {}
    simple: dict[str, ast.expr] = {}
    for stmt in body:
        if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            continue
        for node in ast.walk(stmt):
            if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Store):
                stores[node.id] = stores.get(node.id, 0) + 1
            if (
                isinstance(node, ast.Assign)
                and len(node.targets) == 1
                and isinstance(node.targets[0], ast.Name)
            ):
                simple[node.targets[0].id] = node.value
    out = {}
    for name, value in simple.items():
        ok, v = _literal(value, {})
        if ok and stores[name] == 1:
            out[name] = v
    return out


def _literal(node, env) -> tuple[bool, object]:
    try:
        return True, ast.literal_eval(node)
    except (ValueError, TypeError, SyntaxError):
        pass
    if isinstance(node, ast.Name) and node.id in env:
        return True, env[node.id]
    return False, None


def _defaults(fn: ast.FunctionDef) -> dict:
    """parameter -> default expression (None when it has none)."""
    a = fn.args
    pos = a.posonlyargs + a.args
    out = {x.arg: None for x in pos + a.kwonlyargs}
    out.update(zip([x.arg for x in pos[len(pos) - len(a.defaults):]], a.defaults))
    out.update((x.arg, d) for x, d in zip(a.kwonlyargs, a.kw_defaults) if d)
    return out


def _options(fn: ast.FunctionDef, env) -> dict:
    """option -> (positional index or None, (resolved?, default value))."""
    pos = [x.arg for x in fn.args.posonlyargs + fn.args.args]
    return {
        name: (pos.index(name) if name in pos else None, _literal(d, env))
        for name, d in _defaults(fn).items()
        if d is not None and name != "cfg" and not name.endswith(("_col", "_cols"))
    }


def _public_defs():
    defs: dict[str, list] = {}
    for path in _py_files(PKG):
        tree = _parse(path)
        env = _literal_bindings(tree.body)
        for node in tree.body:
            if isinstance(node, ast.FunctionDef) and not node.name.startswith("_"):
                defs.setdefault(node.name, []).append(
                    (os.path.relpath(path, REPO), _options(node, env))
                )
    return defs


class _Calls(ast.NodeVisitor):
    """Records, per (function, option), how each call site passes it:
    "default", "set", or ("forward", outer function, outer option)."""

    def __init__(self, defs, uses):
        self.defs, self.uses = defs, uses
        self.envs: list[dict] = []
        self.frames: list[tuple[str, dict]] = []  # (function name, params)

    def run(self, tree):
        self.envs = [_literal_bindings(tree.body)]
        self.frames = []
        self.visit(tree)

    def visit_FunctionDef(self, node):
        env = dict(self.envs[-1])
        env.update(_literal_bindings(node.body))
        params = _defaults(node)
        for p in params:
            env.pop(p, None)
        self.envs.append(env)
        self.frames.append((node.name, params))
        self.generic_visit(node)
        self.envs.pop()
        self.frames.pop()

    visit_AsyncFunctionDef = visit_FunctionDef

    def _kind(self, val, default):
        ok_d, dv = default
        ok, v = _literal(val, self.envs[-1])
        if ok:
            return "default" if ok_d and v == dv else "set"
        if isinstance(val, ast.Name):
            for fname, params in reversed(self.frames):
                if val.id not in params:
                    continue
                outer = params[val.id]
                if outer is None or fname not in self.defs:
                    return "set"
                ok_o, ov = _literal(outer, self.envs[0])
                if ok_o and ok_d and ov == dv:
                    return ("forward", fname, val.id)
                return "set"
        return "set"

    def visit_Call(self, node):
        f = node.func
        name = (
            f.id
            if isinstance(f, ast.Name)
            else f.attr
            if isinstance(f, ast.Attribute)
            else None
        )
        for _, opts in self.defs.get(name, ()):
            for opt, (idx, default) in opts.items():
                kind = None
                if any(kw.arg is None for kw in node.keywords):
                    kind = "set"  # **kwargs: unknown
                for kw in node.keywords:
                    if kw.arg == opt:
                        kind = self._kind(kw.value, default)
                if kind is None and idx is not None:
                    head = node.args[: idx + 1]
                    if any(isinstance(x, ast.Starred) for x in head):
                        kind = "set"
                    elif idx < len(node.args):
                        kind = self._kind(node.args[idx], default)
                if kind is not None:
                    self.uses.setdefault((name, opt), []).append(kind)
        self.generic_visit(node)


def _census():
    defs = _public_defs()
    uses: dict = {}
    calls = _Calls(defs, uses)
    for path in _py_files(
        PKG,
        os.path.join(REPO, "__spark_entry__.py"),
        os.path.join(REPO, "bench.py"),
        os.path.join(REPO, "bench_extra.py"),
        os.path.join(REPO, "BENCH"),
        os.path.join(REPO, "perfbench"),
        os.path.join(REPO, "tests"),
    ):
        calls.run(_parse(path))

    def is_set(key, seen=()):
        for kind in uses.get(key, ()):
            if kind == "set":
                return True
            if isinstance(kind, tuple) and kind[1:] not in seen:
                if is_set(kind[1:], seen + (key,)):
                    return True
        return False

    unset = []
    for name, entries in sorted(defs.items()):
        for path, opts in entries:
            for opt, (_, (ok, dv)) in opts.items():
                if not is_set((name, opt)):
                    unset.append((path, name, opt, dv if ok else "<expr>"))
    return defs, unset


def test_every_option_has_a_caller_that_sets_it():
    _, unset = _census()
    offenders = [u for u in unset if (u[1], u[2]) not in ALLOWED]
    assert not offenders, "\n".join(
        f"{path}: {name}({opt}={dv!r}) is never passed a non-default value; "
        "make it a module constant"
        for path, name, opt, dv in offenders
    )


def test_allowlist_names_real_options():
    defs, _ = _census()
    real = {(n, o) for n, es in defs.items() for _, opts in es for o in opts}
    assert set(ALLOWED) <= real, sorted(set(ALLOWED) - real)

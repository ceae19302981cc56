"""Implementation hashing for staleness-aware driver gating.

The driver samples a 50-query prefix of ``all_queries()`` each round.
Gating a query (``_gate.py``) moves it out of that prefix — but a gate
must FOLLOW the code: a lane whose implementation changed after its
last green driver row needs re-verification, not a stale pass. Each
gate entry therefore stores the implementation hash at stamp time;
``all_queries()`` re-computes the hash and un-gates on mismatch.

The hash covers, per query:
- the query function's own source (``inspect.getsource``),
- its DuckDB oracle SQL string (the other half of the contract),
- the file contents of the package modules the query actually runs
  through: the transitive closure seeded from (a) the defining
  module's MODULE-LEVEL imports and (b) the import statements inside
  the query function's own body (deferred imports — the house style
  for heavy deps). Seeding per-function instead of per-module keeps
  the blast radius honest: an edit to ``operators/bars.py`` should
  re-sample the bar lanes, not every lane whose module happens to
  host one query that touches a bar operator.
- exclusions: the ``queries`` subpackage itself (one query module
  hosts many lanes — per-lane function source + the oracle string,
  which has any shared SQL prelude already expanded into it, cover
  the intra-module surface); package ``__init__`` re-export hubs are
  hashed as leaves with their re-exported names resolved to defining
  submodules.

A change anywhere in that closure flips the hash and the lane sorts
back into the sampled prefix, stalest-first among its peers.

Same-module helpers (ADVICE r13): names referenced in the query
function's AST that resolve to top-level functions / classes /
constants DEFINED IN THE SAME queries module are folded into the
hash, transitively within that module (a helper's body is walked for
further same-module references). This closes the gap where a
Python-only helper outside the query function's source (e.g. a
derived-parameter snap loop) changed plan-build behavior without
changing the generated SQL — the lane stayed gated while the engines
diverged. Blast radius stays per-lane: only lanes whose call graph
actually reaches the edited helper flip.

Known limitation (accepted, now narrower): a semantics change
expressed through state the AST walk cannot see (e.g. monkeypatching,
dynamic getattr) still flips the hash only if the ORACLE string
changes with it — which it does for every declared lane, since both
sides must move in lockstep to stay hash-green.
"""

from __future__ import annotations

import ast
import hashlib
import importlib.util
import inspect
from functools import lru_cache

PKG = "data_timeseries_java_spark"
_QUERIES_PKG = PKG + ".queries"


@lru_cache(maxsize=None)
def _module_file(modname: str) -> str | None:
    try:
        spec = importlib.util.find_spec(modname)
    except (ImportError, ValueError):
        return None
    if spec is None or spec.origin in (None, "built-in", "frozen"):
        return None
    return spec.origin


@lru_cache(maxsize=None)
def _module_source(modname: str) -> bytes:
    path = _module_file(modname)
    if path is None:
        return b""
    with open(path, "rb") as f:
        return f.read()


def _is_pkg_init(modname: str) -> bool:
    path = _module_file(modname)
    import os
    return path is not None and os.path.basename(path) == "__init__.py"


@lru_cache(maxsize=None)
def _resolve_reexport(pkg: str, name: str) -> str | None:
    """The defining module of ``name`` re-exported from package
    ``pkg`` — so ``from pkg.operators import complete_candles`` depends
    on ``pkg.operators.candles``, not on every module the operators
    hub re-exports (a whole-hub dep would flip EVERY query's hash on
    any one operator edit, flooding the driver sample)."""
    import importlib

    try:
        obj = getattr(importlib.import_module(pkg), name, None)
    except ImportError:
        return None
    target = getattr(obj, "__module__", None)
    return target if target and target.startswith(PKG) else None


def _deps_from_tree(nodes) -> set[str]:
    """Package deps from an iterable of AST nodes. Hub re-exports are
    resolved to their defining submodules."""
    deps: set[str] = set()
    for node in nodes:
        if isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.startswith(PKG):
                    deps.add(alias.name)
        elif isinstance(node, ast.ImportFrom) and node.module:
            if node.module.startswith(PKG):
                deps.add(node.module)
                for alias in node.names:
                    # submodule import (`from pkg.operators import
                    # candles`) or hub re-export (`... import
                    # complete_candles`) — resolve to the real module
                    sub = f"{node.module}.{alias.name}"
                    if _module_file(sub) is not None:
                        deps.add(sub)
                    elif _is_pkg_init(node.module):
                        tgt = _resolve_reexport(node.module, alias.name)
                        if tgt:
                            deps.add(tgt)
    return {d for d in deps if _module_file(d) is not None}


@lru_cache(maxsize=None)
def _direct_deps(modname: str) -> frozenset[str]:
    """Package modules directly imported by ``modname`` (module-level
    AND deferred function-body imports — ast.walk sees both)."""
    src = _module_source(modname)
    if not src:
        return frozenset()
    return frozenset(_deps_from_tree(ast.walk(ast.parse(src))))


@lru_cache(maxsize=None)
def _module_level_deps(modname: str) -> frozenset[str]:
    """Only the imports at the TOP of ``modname`` (module scope, one
    level into top-level Try/If for guarded imports) — the seed for a
    query function's closure, alongside its own body's imports."""
    src = _module_source(modname)
    if not src:
        return frozenset()
    nodes = []
    for node in ast.parse(src).body:
        nodes.append(node)
        if isinstance(node, (ast.Try, ast.If)):
            nodes.extend(ast.walk(node))
    return frozenset(_deps_from_tree(nodes))


def _closure_from(seeds) -> tuple[str, ...]:
    """Transitive package deps from ``seeds``, excluding the queries
    subpackage (sorted, stable). Two deliberate granularity rules:

    - Package ``__init__`` hubs are LEAVES: their own file is hashed
      (a re-export change flips dependents) but their imports are not
      traversed — otherwise every query would depend on every module
      the hub pulls in.
    - Expansion follows MODULE-LEVEL imports only. Function-local
      deferred imports inside an operator module serve one specific
      operator (e.g. ``returns.cusum`` borrows ``stats._floor6``), and
      following them fuses unrelated families — measured: a one-line
      edit to a lane module un-gated all 150 fx lanes via a deferred
      chain through ``returns``, flooding the
      driver's 50-lane sample for three rounds. The cost is that a
      lane whose operator uses such a borrowed helper is not
      re-sampled when ONLY the helper's home module changes — a
      deliberate under-approximation, backstopped by the local
      oracle sweep that runs in full every session
      (tests/test_oracle.py). Lane-specific deferred imports at the
      QUERY layer do count: impl_hash seeds from the query function's
      own body with a full walk.
    """
    seen: set[str] = set()
    stack = [d for d in seeds if not d.startswith(_QUERIES_PKG)]
    while stack:
        m = stack.pop()
        if m in seen:
            continue
        seen.add(m)
        if _is_pkg_init(m):
            continue
        stack.extend(d for d in _module_level_deps(m)
                     if d not in seen and not d.startswith(_QUERIES_PKG))
    return tuple(sorted(seen))


@lru_cache(maxsize=None)
def _module_defs(modname: str) -> dict[str, str]:
    """Top-level name -> source segment for the module's own function /
    class / constant definitions (imports excluded — cross-module deps
    are the closure's job)."""
    src = _module_source(modname)
    if not src:
        return {}
    text = src.decode("utf-8", errors="replace")
    defs: dict[str, str] = {}
    for node in ast.parse(text).body:
        seg = ast.get_source_segment(text, node)
        if seg is None:
            continue
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            defs[node.name] = seg
        elif isinstance(node, ast.Assign):
            for tgt in node.targets:
                if isinstance(tgt, ast.Name):
                    defs[tgt.id] = seg
        elif (isinstance(node, ast.AnnAssign)
              and isinstance(node.target, ast.Name)):
            defs[node.target.id] = seg
    return defs


def _same_module_helpers(modname: str, fn_src: str) -> list[tuple[str, str]]:
    """(name, source) of same-module top-level definitions reachable
    from ``fn_src``'s referenced names, transitively within the module,
    sorted by name (ADVICE r13: helper-body edits must flip the hash)."""
    defs = _module_defs(modname)
    if not defs:
        return []
    import textwrap

    def _names(src: str) -> set[str]:
        try:
            tree = ast.parse(textwrap.dedent(src))
        except SyntaxError:
            return set()
        return {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}

    seen: set[str] = set()
    stack = [n for n in _names(fn_src) if n in defs]
    while stack:
        name = stack.pop()
        if name in seen:
            continue
        seen.add(name)
        stack.extend(n for n in _names(defs[name])
                     if n in defs and n not in seen)
    return [(n, defs[n]) for n in sorted(seen)]


def impl_hash(fn, oracle: str) -> str:
    """16-hex-char implementation hash for one declared query."""
    import textwrap

    modname = getattr(fn, "__module__", "") or ""
    h = hashlib.sha256()
    seeds = set(_module_level_deps(modname))
    try:
        src = inspect.getsource(fn)
        h.update(src.encode())
        seeds |= _deps_from_tree(
            ast.walk(ast.parse(textwrap.dedent(src))))
        for name, helper_src in _same_module_helpers(modname, src):
            h.update(b"\x00helper:")
            h.update(name.encode())
            h.update(b"\x00")
            h.update(helper_src.encode())
    except (OSError, TypeError, SyntaxError):
        # non-introspectable callable (C partial, exec'd) — fall back to
        # the whole defining-module source so changes still flip the hash
        h.update(_module_source(modname))
        seeds |= _direct_deps(modname)
    h.update(b"\x00")
    h.update(oracle.encode())
    for dep in _closure_from(seeds):
        h.update(b"\x00")
        h.update(dep.encode())
        h.update(b"\x00")
        h.update(_module_source(dep))
    return h.hexdigest()[:16]

"""Per-key source digests — the guard on the re-verify guard.

Round 8 shipped a rewrite of three already-green keys without stamping
them into ``reverify_queue.json``; the rotation therefore kept treating
their OLD driver greens as certifying the NEW plans (VERDICT r8 "What's
wrong" #2). The queue was only as good as the builder remembering to
stamp it. This module makes forgetting impossible:

* each registered key gets a content digest over the TRANSITIVE source
  of its implementing function — the function itself plus every
  package-local function/class reachable through its globals, closures,
  and module-attribute references — concatenated with its oracle SQL.
  Module-level transitivity is the point: the r8 edit changed helpers
  (``ml/ivfpq.py``, ``_probe_adc_stage``) that several keys call, and a
  digest of only the registered function body would have missed it;
* ``registry_digests.json`` stores ``{key: {digest, round}}`` where
  ``round`` is the round in which that source was last changed;
* ``tests/test_keydigest.py`` fails when any live digest drifts from
  the stored one (the only sanctioned repair is
  ``scripts/update_digests.py``, which re-stamps BOTH files), and fails
  when a key whose recorded change-round is newer than its last
  driver-green round is missing from ``reverify_queue.json`` — so an
  edited green key cannot dodge driver re-certification.
"""

from __future__ import annotations

import glob
import hashlib
import inspect
import json
import os
import re
import subprocess
from types import CodeType, FunctionType, ModuleType

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DIGESTS_PATH = os.path.join(HERE, "registry_digests.json")
PKG_PREFIX = "streaming_data_ingestion_spark"


def _in_pkg(obj, pkg_prefix: str) -> bool:
    mod = getattr(obj, "__module__", None) or ""
    return mod == pkg_prefix or mod.startswith(pkg_prefix + ".")


_MODULE_INITIALIZERS: dict[str, dict[str, str]] = {}


def _module_initializers(module: ModuleType) -> dict[str, str]:
    """name -> source text of the module-level assignment that created
    it. Used for MUTABLE constants (lists/dicts): their live repr is
    runtime state (memo caches fill up as queries run), but their
    initializer text is the semantics — stable no matter what ran."""
    import ast

    name = module.__name__
    if name not in _MODULE_INITIALIZERS:
        out: dict[str, str] = {}
        try:
            src = inspect.getsource(module)
            tree = ast.parse(src)
            for node in tree.body:
                targets = []
                if isinstance(node, ast.Assign):
                    targets = [
                        t.id for t in node.targets if isinstance(t, ast.Name)
                    ]
                elif isinstance(node, ast.AnnAssign) and isinstance(
                    node.target, ast.Name
                ):
                    targets = [node.target.id]
                if targets:
                    seg = ast.get_source_segment(src, node) or ""
                    for t in targets:
                        out[t] = seg
        except (OSError, TypeError, SyntaxError):
            pass
        _MODULE_INITIALIZERS[name] = out
    return _MODULE_INITIALIZERS[name]


def _const_repr(value, module: ModuleType, name: str) -> str | None:
    """Stable digest text for a referenced module constant, or None to
    skip it. Immutable primitives digest by live repr (exact); mutable
    containers digest by their module-level initializer text so runtime
    mutation (memo caches) cannot make the digest run-order-dependent."""
    if isinstance(value, (bool, int, float, str, bytes)):
        return repr(value)
    if isinstance(value, tuple):
        if all(
            isinstance(x, (bool, int, float, str, bytes)) for x in value
        ):
            return repr(value)
        return _module_initializers(module).get(name)
    if isinstance(value, (list, dict)):
        return _module_initializers(module).get(name)
    return None


def _local_import_targets(f, pkg_prefix: str) -> list:
    """Objects named by import statements INSIDE the function body.
    House style defers package imports into function bodies to break
    cycles (`from ...ann_stream import probe_generation` at call time);
    those names are locals, invisible to co_names/globals resolution,
    so the digest would miss the imported helper entirely without this
    pass. Returns resolved objects (functions/classes/modules) from
    package modules only."""
    import ast
    import importlib
    import sys
    import textwrap

    try:
        tree = ast.parse(textwrap.dedent(inspect.getsource(f)))
    except (OSError, TypeError, SyntaxError):
        return []
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom):
            if not node.module or not (
                node.module == pkg_prefix
                or node.module.startswith(pkg_prefix + ".")
            ):
                continue
            try:
                mod = sys.modules.get(node.module) or importlib.import_module(
                    node.module
                )
            except ImportError:
                continue
            for alias in node.names:
                v = getattr(mod, alias.name, None)
                if v is not None:
                    out.append(v)
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name == pkg_prefix or alias.name.startswith(
                    pkg_prefix + "."
                ):
                    try:
                        out.append(
                            sys.modules.get(alias.name)
                            or importlib.import_module(alias.name)
                        )
                    except ImportError:
                        pass
    return out


def _code_names(code: CodeType) -> set[str]:
    """``co_names`` of ``code`` and of every code object nested in it.
    A name used only inside a lambda, nested def or comprehension lives
    in that inner code object's ``co_names``, not the outer one's."""
    names = set(code.co_names)
    for c in code.co_consts:
        if isinstance(c, CodeType):
            names |= _code_names(c)
    return names


def reachable_sources(
    fn, pkg_prefix: str = PKG_PREFIX
) -> dict[tuple[str, str], str]:
    """Transitive closure of package-local callables reachable from
    ``fn``: the function's own source plus every package function or
    class it can name — via its globals (also inside its nested
    functions and lambdas), its closure cells, or attribute access on a
    package module it holds — recursively.
    Keyed by (module, qualname); values are ``inspect.getsource`` text,
    so ANY edit inside the call graph changes some value."""
    seen: dict[tuple[str, str], str] = {}
    stack = [inspect.unwrap(fn)]
    while stack:
        f = stack.pop()
        if isinstance(f, type):
            if not _in_pkg(f, pkg_prefix):
                continue
            key = (f.__module__, f.__qualname__)
            if key in seen:
                continue
            try:
                seen[key] = inspect.getsource(f)
            except (OSError, TypeError):
                seen[key] = repr(f)
            # follow methods so helper edits inside a class count too
            for name in sorted(vars(f)):
                v = inspect.getattr_static(f, name)
                if isinstance(v, (staticmethod, classmethod)):
                    v = v.__func__
                if isinstance(v, FunctionType):
                    stack.append(v)
            continue
        code = getattr(f, "__code__", None)
        if code is None or not _in_pkg(f, pkg_prefix):
            continue
        key = (f.__module__, f.__qualname__)
        if key in seen:
            continue
        try:
            seen[key] = inspect.getsource(f)
        except (OSError, TypeError):
            seen[key] = repr(f)

        names = sorted(_code_names(code))
        g = getattr(f, "__globals__", {})
        candidates = [g.get(n) for n in names]
        candidates.extend(_local_import_targets(f, pkg_prefix))
        # referenced module-level CONSTANTS are semantics too (e.g. a
        # serving key's bound query vector / term list): digest them so
        # editing a binding literal flags the key even though no
        # function body changed
        import sys as _sys

        own_mod = _sys.modules.get(f.__module__)
        consts = {}
        for n in names:
            if n not in g or isinstance(g[n], ModuleType) or own_mod is None:
                continue
            rep = _const_repr(g[n], own_mod, n)
            if rep is not None:
                consts[n] = rep
        if consts:
            seen[(f.__module__, f.__qualname__ + "#consts")] = json.dumps(
                consts, sort_keys=True
            )
        # module-attribute references: `mod.helper(...)` puts both `mod`
        # and `helper` in co_names — resolve every name against every
        # package module the function holds, too
        pkg_mods = [
            v
            for v in candidates
            if isinstance(v, ModuleType)
            and (v.__name__ == pkg_prefix or v.__name__.startswith(pkg_prefix + "."))
        ]
        for m in pkg_mods:
            candidates.extend(m.__dict__.get(n) for n in names)
        # closure cells: decorators / factories passing helpers inward
        for cell in getattr(f, "__closure__", None) or ():
            try:
                candidates.append(cell.cell_contents)
            except ValueError:
                pass
        for v in candidates:
            v = inspect.unwrap(v) if callable(v) else v
            if isinstance(v, FunctionType) and _in_pkg(v, pkg_prefix):
                stack.append(v)
            elif isinstance(v, type) and _in_pkg(v, pkg_prefix):
                stack.append(v)
    return seen


def key_digest(spec, pkg_prefix: str = PKG_PREFIX) -> str:
    """sha256 over the key's reachable sources + its oracle SQL."""
    fn = inspect.unwrap(spec.fn)
    sources = reachable_sources(fn, pkg_prefix)
    payload = json.dumps(
        {
            "sources": [
                [m, q, s] for (m, q), s in sorted(sources.items())
            ],
            "oracle": spec.oracle,
        },
        sort_keys=True,
    )
    return hashlib.sha256(payload.encode("utf-8")).hexdigest()


def all_key_digests() -> dict[str, str]:
    import sys

    sys.path.insert(0, HERE)
    from streaming_data_ingestion_spark.registry import all_queries

    return {name: key_digest(spec) for name, spec in all_queries().items()}


def load_digests() -> dict[str, dict]:
    try:
        return json.load(open(DIGESTS_PATH))
    except (OSError, json.JSONDecodeError):
        return {}


def last_green_rounds() -> dict[str, int]:
    """key -> latest round whose CORRECTNESS row satisfied the contract
    (same predicate as __spark_entry__._satisfied)."""
    out: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(HERE, "CORRECTNESS_r*.json"))):
        m = re.search(r"r(\d+)", os.path.basename(path))
        if not m:
            continue
        rno = int(m.group(1))
        try:
            data = json.load(open(path))
        except (OSError, json.JSONDecodeError):
            continue
        for k, row in data.items():
            if not isinstance(row, dict):
                continue
            if row.get("err") == "no_oracle":
                ok = row.get("spark_rows") is not None
            else:
                ok = (
                    row.get("rows_match") is True
                    and row.get("schema_match") is True
                    and row.get("hash_match") is True
                )
            if ok:
                out[k] = max(out.get(k, 0), rno)
    return out


def _round_of(path: str) -> int:
    return int(re.search(r"_r(\d+)\.json$", path).group(1))


def _committed_profile_rounds() -> list[int]:
    """Rounds of the docs/PROFILE_r*.json files committed at HEAD (none
    outside a git checkout). An untracked profile is the round in
    progress, so it does not count."""
    try:
        out = subprocess.run(
            ["git", "ls-tree", "--name-only", "HEAD", "docs/"],
            cwd=HERE, capture_output=True, text=True, check=True,
        ).stdout
    except (OSError, subprocess.CalledProcessError):
        return []
    profiles = re.findall(r"^docs/PROFILE_r\d+\.json$", out, re.M)
    return [_round_of(p) for p in profiles]


def current_round() -> int:
    """Round number of the build in progress: the largest of the highest
    round in PROGRESS.jsonl, one past the newest CORRECTNESS_r*.json (the
    round whose correctness is not recorded yet) and one past the newest
    docs/PROFILE_r*.json committed at HEAD, so bench.py never merges into
    or overwrites a committed round's profile or sweep."""
    rno = 0
    try:
        with open(os.path.join(HERE, "PROGRESS.jsonl")) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    rno = max(rno, int(json.loads(line).get("round", 0)))
    except FileNotFoundError:
        pass
    except (OSError, json.JSONDecodeError, ValueError):
        return rno
    done = [_round_of(p) for p in glob.glob(os.path.join(HERE, "CORRECTNESS_r*.json"))]
    return max(rno, max(done + _committed_profile_rounds(), default=0) + 1)

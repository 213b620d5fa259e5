"""Query staleness from call-path fingerprints, and the driver's round epoch.

The driver verifies a bounded prefix of ``queries()`` each round and commits
the rows as ``CORRECTNESS_r{N}.json`` with a ``round N: verdict`` commit.  A
green row certifies the code it ran on, and :func:`fingerprints` names that
code per registry query: a sha256 over the AST of every top-level definition
the query's ``@register`` function reaches (decorator and oracle SQL
included, docstrings dropped; comments are not in the AST).  Names are
followed to a fixpoint through module-local definitions, package-internal
imports (re-exports through ``__init__.py`` included), ``Alias.attr`` on a
module alias, and a module alias used as a bare value (all of that module's
definitions).  Unresolvable attributes of a package module count as the
whole module, so the closure errs wide, never narrow.

``FINGERPRINTS.json`` (repo root) holds one snapshot per round that has a
``CORRECTNESS_r{N}.json``: ``{round: {query: fingerprint}}`` for the queries
with a row in that round, computed on the tree of the round's verdict
commit.  ``__spark_entry__`` compares them with the fingerprints of the code
now.  Regenerate the file after each verdict round:

    python -m tools.staleness
"""

from __future__ import annotations

import ast
import hashlib
import io
import json
import re
import subprocess
import tarfile
import tempfile
from pathlib import Path

PKG = "cdc_wastewater_analysis_ml_spark"
MANIFEST = "FINGERPRINTS.json"

#: (package-relative file, top-level name); name "*" stands for the module
#: used as a value.
Key = tuple[str, str]


def repo_root() -> Path:
    return Path(__file__).resolve().parent.parent


# ---------------------------------------------------------------------------
# Round epoch (driver verdict commits)
# ---------------------------------------------------------------------------


def _git(root: Path, *args: str) -> str:
    return subprocess.run(
        ["git", "-C", str(root), *args],
        check=True,
        capture_output=True,
        text=True,
    ).stdout


def verdict_commits(root: Path) -> list[tuple[int, str]]:
    """``(round, sha)`` of every driver VERDICT commit, newest first.

    ``git log --grep`` matches any line of the message, so a snapshot commit
    whose body quotes ``round N: verdict`` is selected too (r10 ADVICE);
    each hit's SUBJECT is re-validated against the marker, and only genuine
    verdict commits are returned.  ``round N: end-of-round snapshot``
    commits can land mid-round (observed r4 and r10) and are not
    verification events, so they never count."""
    hits = _git(
        root, "log", "-E", "--grep", r"^round [0-9]+: verdict",
        "--format=%H %s",
    ).splitlines()
    out = []
    for line in hits:
        sha, _, subject = line.partition(" ")
        m = re.match(r"round (\d+): verdict", subject)
        if m:
            out.append((int(m.group(1)), sha))
    return out


def current_round(root: Path) -> int:
    """Round currently being built = 1 + the round of the latest verdict
    commit.

    Derived from the marker, not from the ``CORRECTNESS_r*.json`` artifacts
    (the r6 judge seam): the driver drops ``CORRECTNESS_r{N}.json`` BEFORE it
    commits the ``round N:`` marker, and the round it just closed is still
    N in that window.  The marker and the diff base (:func:`base_commit`)
    advance together.  With no marker yet (round 1, or a fresh clone without
    driver history) the artifact count gives the epoch."""
    try:
        commits = verdict_commits(root)
    except subprocess.CalledProcessError:  # unborn branch: no commits at all
        commits = []
    if commits:
        return commits[0][0] + 1
    return max(_correctness_files(root), default=0) + 1


def base_commit(root: Path) -> str | None:
    """The previous round's driver verdict commit, or None before the
    first one."""
    commits = verdict_commits(root)
    return commits[0][1] if commits else None


def _correctness_files(root: Path) -> dict[int, Path]:
    return {
        int(m.group(1)): path
        for path in root.glob("CORRECTNESS_r*.json")
        if (m := re.search(r"r(\d+)", path.name))
    }


def correctness_rounds(root: Path) -> dict[int, list[str]]:
    """round -> query names with a row in that round's CORRECTNESS file."""
    return {
        rnd: sorted(json.loads(path.read_text()))
        for rnd, path in _correctness_files(root).items()
    }


# ---------------------------------------------------------------------------
# Call-path fingerprints
# ---------------------------------------------------------------------------


_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _defined_names(node: ast.stmt) -> list[str]:
    """Names a top-level statement defines (imports are bindings, not
    definitions)."""
    if isinstance(node, _DEFS):
        return [node.name]
    if isinstance(node, ast.Assign):
        targets = node.targets
    elif isinstance(node, (ast.AnnAssign, ast.AugAssign)):
        targets = [node.target]
    else:
        return []
    return [
        n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)
    ]


def _registered_query(node: ast.stmt) -> str | None:
    """Query name if ``node`` carries a ``@register("name", ...)``.  A query
    registered any other way gets no fingerprint, so it is never certified."""
    if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
        return None
    for dec in node.decorator_list:
        func = dec.func if isinstance(dec, ast.Call) else None
        name = getattr(func, "id", None) or getattr(func, "attr", None)
        if name == "register" and dec.args:
            arg = dec.args[0]
            if isinstance(arg, ast.Constant) and isinstance(arg.value, str):
                return arg.value
    return None


def _is_docstring(stmt: ast.stmt) -> bool:
    return (
        isinstance(stmt, ast.Expr)
        and isinstance(stmt.value, ast.Constant)
        and isinstance(stmt.value.value, str)
    )


class _Module:
    """One parsed package file: its top-level definitions and the
    package-internal names it imports anywhere (function-local included)."""

    def __init__(self, pkg: Path, rel: str) -> None:
        self.tree = ast.parse((pkg / rel).read_text())
        self.defs: dict[str, list[ast.stmt]] = {}
        for node in self.tree.body:
            for name in _defined_names(node):
                self.defs.setdefault(name, []).append(node)
        #: bound name -> [(module file, symbol or None for the module)]
        self.binds: dict[str, list[tuple[str, str | None]]] = {}
        here = rel.split("/")[:-1]
        for node in ast.walk(self.tree):
            if isinstance(node, _DEFS) and _is_docstring(node.body[0]):
                node.body = node.body[1:]
            elif isinstance(node, ast.ImportFrom):
                if node.level:
                    if node.level - 1 > len(here):
                        continue
                    parts = here[: len(here) - node.level + 1]
                    parts += node.module.split(".") if node.module else []
                elif node.module == PKG or (node.module or "").startswith(PKG + "."):
                    parts = node.module.split(".")[1:]
                else:
                    continue
                mod = _module_file(pkg, parts)
                if mod is None:
                    raise LookupError(f"{rel}: unresolved {ast.unparse(node)}")
                for alias in node.names:
                    sub = _module_file(pkg, parts + [alias.name])
                    target = (sub, None) if sub else (mod, alias.name)
                    self.binds.setdefault(alias.asname or alias.name, []).append(target)
            elif isinstance(node, ast.Import):
                for alias in node.names:
                    parts = alias.name.split(".")
                    if parts[0] != PKG:
                        continue
                    if alias.asname is None:  # binds the package itself
                        parts = parts[:1]
                    mod = _module_file(pkg, parts[1:])
                    if mod is None:
                        raise LookupError(f"{rel}: unresolved {ast.unparse(node)}")
                    self.binds.setdefault(alias.asname or PKG, []).append((mod, None))


def _module_file(pkg: Path, parts: list[str]) -> str | None:
    """Package-relative file of a dotted module path, else None."""
    rel = "/".join(parts)
    if rel and (pkg / f"{rel}.py").is_file():
        return f"{rel}.py"
    init = f"{rel}/__init__.py" if rel else "__init__.py"
    return init if (pkg / init).is_file() else None


class _Index:
    """Lazily parsed package with memoized per-definition dependencies and
    digests, so each definition is walked and hashed once however many
    queries reach it."""

    def __init__(self, pkg: Path) -> None:
        self.pkg = pkg
        self._modules: dict[str, _Module] = {}
        self._deps: dict[Key, set[Key]] = {}
        self._digests: dict[Key, str] = {}

    def module(self, rel: str) -> _Module:
        if rel not in self._modules:
            self._modules[rel] = _Module(self.pkg, rel)
        return self._modules[rel]

    def reach(self, rel: str, path: list[str]) -> set[Key]:
        """Definitions that ``<module rel>.path[0].path[1]...`` may reach; an
        empty path is the module used as a value."""
        if not path:
            return {(rel, "*")}
        name, rest = path[0], path[1:]
        mod = self.module(rel)
        out = {(rel, name)} if name in mod.defs else set()
        for target, sym in mod.binds.get(name, ()):
            out |= self.reach(target, ([sym] if sym else []) + rest)
        if name not in mod.defs and name not in mod.binds:
            sub = None
            if rel.endswith("__init__.py"):
                sub = _module_file(self.pkg, rel.split("/")[:-1] + [name])
            # An attribute nothing defines statically: the whole module.
            out |= self.reach(sub, rest) if sub else {(rel, "*")}
        return out

    def deps(self, key: Key) -> set[Key]:
        if key in self._deps:
            return self._deps[key]
        rel, name = key
        mod = self.module(rel)
        out: set[Key] = set()
        if name == "*":
            for n in mod.defs:
                out.add((rel, n))
            for targets in mod.binds.values():
                for target, sym in targets:
                    out |= self.reach(target, [sym] if sym else [])
        else:
            refs: set[tuple[str, ...]] = set()
            for node in mod.defs[name]:
                heads = set()  # Names that head an attribute: `D` in `D.f`
                # Breadth first: an Attribute comes before its value.
                for n in ast.walk(node):
                    if isinstance(n, ast.Attribute) and isinstance(n.value, ast.Name):
                        heads.add(id(n.value))
                        refs.add((n.value.id, n.attr))
                    elif isinstance(n, ast.Name) and id(n) not in heads:
                        refs.add((n.id,))
            for head, *attrs in refs:
                out |= self._name(rel, head, attrs)
        out.discard(key)
        self._deps[key] = out
        return out

    def _name(self, rel: str, name: str, attrs: list[str]) -> set[Key]:
        """What a bare ``name`` (or ``name.attr``) inside module ``rel``
        reaches: its module-local definition and any import binding it.
        Other names are locals, builtins or outside the package."""
        mod = self.module(rel)
        out = {(rel, name)} if name in mod.defs else set()
        for target, sym in mod.binds.get(name, ()):
            out |= self.reach(target, ([sym] if sym else []) + attrs)
        return out

    def digest(self, key: Key) -> str:
        if key not in self._digests:
            rel, name = key
            nodes = [] if name == "*" else self.module(rel).defs[name]
            dump = "\n".join(ast.dump(n) for n in nodes)
            self._digests[key] = hashlib.sha256(dump.encode()).hexdigest()
        return self._digests[key]

    def closure(self, key: Key) -> set[Key]:
        seen = {key}
        frontier = [key]
        while frontier:
            for dep in self.deps(frontier.pop()):
                if dep not in seen:
                    seen.add(dep)
                    frontier.append(dep)
        return seen

    def fingerprint(self, key: Key) -> str:
        h = hashlib.sha256()
        for rel, name in sorted(self.closure(key)):
            h.update(f"{rel}\0{name}\0{self.digest((rel, name))}\n".encode())
        return h.hexdigest()


def fingerprints(root: Path) -> dict[str, str]:
    """query name -> call-path fingerprint, for every ``@register`` function
    in the package's ``plans/registry*.py`` files under ``root``."""
    index = _Index(root / PKG)
    out: dict[str, str] = {}
    for path in sorted((root / PKG / "plans").glob("registry*.py")):
        rel = f"plans/{path.name}"
        for node in index.module(rel).tree.body:
            query = _registered_query(node)
            if query is not None:
                out[query] = index.fingerprint((rel, node.name))
    return out


def snapshot(root: Path, sha: str, queries: list[str]) -> dict[str, str]:
    """Fingerprints of ``queries`` on the package tree of commit ``sha``."""
    archive = subprocess.run(
        ["git", "-C", str(root), "archive", sha, PKG],
        check=True,
        capture_output=True,
    ).stdout
    with tempfile.TemporaryDirectory() as tmp:
        with tarfile.open(fileobj=io.BytesIO(archive)) as tar:
            tar.extractall(tmp, filter="data")
        fps = fingerprints(Path(tmp))
    return {q: fps[q] for q in sorted(queries) if q in fps}


def snapshots(root: Path) -> dict[str, dict[str, str]]:
    """One snapshot per round with a CORRECTNESS file and a verdict commit
    (the newest, should a round have several)."""
    commits: dict[int, str] = {}
    for rnd, sha in verdict_commits(root):
        commits.setdefault(rnd, sha)
    return {
        str(rnd): snapshot(root, commits[rnd], queries)
        for rnd, queries in sorted(correctness_rounds(root).items())
        if rnd in commits
    }


def main() -> None:
    root = repo_root()
    text = json.dumps(snapshots(root), indent=1) + "\n"
    (root / MANIFEST).write_text(text)
    print(f"wrote {MANIFEST}")


if __name__ == "__main__":
    main()

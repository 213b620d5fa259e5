"""Rotation / staleness logic of ``__spark_entry__`` (no SparkSession needed).

The driver verifies a bounded prefix of ``queries()`` per round, so the
ordering logic is load-bearing: a bug here silently starves queries of
driver verification.  Contracts:

1. a change to a definition on a query's call path changes its
   fingerprint, and a green row whose round snapshot holds a different
   fingerprint than the code now certifies nothing: the query sorts with
   the never-verified ones, before every certified query;
2. a CORRECTNESS row with no ``*_match`` key present (e.g. a partially
   written file) must NOT count as green;
3. a ``no_oracle`` row with a recorded row count DOES count (rows-only
   queries rotate like the rest instead of pinning the queue head);
4. a missing or unreadable manifest, or fingerprinting that raises, stales
   every query.
"""

from __future__ import annotations

import ast
import json
import shutil
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

import __spark_entry__ as entry_mod
from cdc_wastewater_analysis_ml_spark.plans.registry import QUERIES
from tools import staleness

GREEN = {"err": None, "rows_match": True, "schema_match": True, "hash_match": True}


def _round_files(root: Path, rnd: int, rows: dict, snapshot) -> None:
    (root / f"CORRECTNESS_r{rnd:02d}.json").write_text(json.dumps(rows))
    (root / "FINGERPRINTS.json").write_text(json.dumps({str(rnd): snapshot}))


def _splice(path: Path, node: ast.AST, text: str, keep: bool = False) -> None:
    """Replace ``node``'s source in ``path`` with ``text`` (or insert
    ``text`` before it).  AST offsets are UTF-8 byte offsets."""
    data = path.read_bytes()
    lines = data.splitlines(keepends=True)
    start = sum(map(len, lines[: node.lineno - 1])) + node.col_offset
    end = sum(map(len, lines[: node.end_lineno - 1])) + node.end_col_offset
    path.write_bytes(data[:start] + text.encode() + data[start if keep else end:])


def _function(path: Path, name: str) -> ast.FunctionDef:
    return next(
        n for n in ast.parse(path.read_text()).body
        if isinstance(n, ast.FunctionDef) and n.name == name
    )


def _body_edit(path: Path, name: str) -> None:
    stmt = _function(path, name).body[1]  # first statement after the docstring
    _splice(path, stmt, "_edited = None\n" + " " * stmt.col_offset, keep=True)


def _docstring_edit(path: Path, name: str) -> None:
    _splice(path, _function(path, name).body[0], '"""Reworded."""  # and a comment')


def _oracle_edit(path: Path, name: str) -> None:
    oracle = _function(path, name).decorator_list[0].args[1]
    _splice(path, oracle, repr(oracle.value + " "))


def test_module_change_invalidates_all_consumers(tmp_path):
    """A query's call-path fingerprint changes exactly when a definition on
    its call path changes — the r2 lesson (a ``binary_curve`` change broke
    every curve consumer, not the two a hand list named) made mechanical,
    on a copy of the package:

    (a) a body edit to ``plans/metrics.py:binary_curve`` changes every query
        that routes through it, and no other;
    (b) a docstring- and comment-only edit changes nothing;
    (c) an edit to one query's oracle SQL changes only that query;
    (d) an edit to ``readers._schema_cache_key`` is seen, though queries
        reach it only through ``load_table``, re-exported by
        ``sources/__init__.py``."""
    pkg = staleness.PKG
    before = staleness.fingerprints(ROOT)
    cases = {
        "a": ("plans/metrics.py", "binary_curve", _body_edit),
        "b": ("plans/metrics.py", "binary_curve", _docstring_edit),
        "c": ("plans/registry.py", "q_flagship", _oracle_edit),
        "d": ("sources/readers.py", "_schema_cache_key", _body_edit),
    }
    changed = {}
    for case, (rel, name, edit) in cases.items():
        root = tmp_path / case
        shutil.copytree(
            ROOT / pkg, root / pkg, ignore=shutil.ignore_patterns("__pycache__")
        )
        edit(root / pkg / rel, name)
        after = staleness.fingerprints(root)
        assert after.keys() == before.keys(), case
        changed[case] = {q for q in before if after[q] != before[q]}
        # Queries whose closure holds the edited definition.
        index = staleness._Index(root / pkg)
        routes = set()
        for path in sorted((root / pkg / "plans").glob("registry*.py")):
            reg = f"plans/{path.name}"
            for node in index.module(reg).tree.body:
                query = staleness._registered_query(node)
                if query and (rel, name) in index.closure((reg, node.name)):
                    routes.add(query)
        if case != "b":
            assert changed[case] == routes, case
    curve = {"metric_roc_curve", "metric_pr_curve", "metric_roc_auc",
             "metric_average_precision"}
    assert curve <= changed["a"] and len(changed["a"]) < len(before) / 4
    assert changed["b"] == set()
    assert changed["c"] == {"flagship_weekly_detection_rate"}
    assert "flagship_weekly_detection_rate" in changed["d"]


def test_changed_consumers_sort_before_green_queries(tmp_path, monkeypatch):
    current = entry_mod._current_fingerprints()
    assert current is not None and current.keys() == QUERIES.keys()
    names = list(QUERIES)
    same_a, changed, same_b = names[0], names[1], names[-1]
    snapshot = {n: current[n] for n in (same_a, changed, same_b)}
    snapshot[changed] = "0" * 64  # its code changed since round 3
    _round_files(tmp_path, 3, {n: GREEN for n in snapshot}, snapshot)
    monkeypatch.setattr(entry_mod, "_ROOT", tmp_path)
    monkeypatch.setattr(entry_mod, "_current_fingerprints", lambda: current)

    assert entry_mod._last_green_round(tmp_path, current) == {same_a: 3, same_b: 3}
    ordered = list(entry_mod.queries())
    assert sorted(ordered) == sorted(names)
    # The changed query keeps its registry slot among the never-verified;
    # the two certified ones go to the back, in registry order.
    assert ordered[0] == changed
    assert ordered[-2:] == [same_a, same_b]


def test_green_requires_positive_match_signal(tmp_path):
    rows = {
        "no_match_keys": {"err": None, "spark_rows": 5, "oracle_rows": 5},
        "all_green": GREEN,
        "one_false": {"err": None, "rows_match": True, "hash_match": False},
        "rows_only_ok": {"err": "no_oracle", "spark_rows": 7},
        "rows_only_dead": {"err": "no_oracle", "spark_rows": None},
        "hard_error": {"err": "Traceback ...", "rows_match": None},
    }
    current = {name: "f" * 64 for name in rows}
    _round_files(tmp_path, 9, rows, current)
    green = entry_mod._last_green_round(tmp_path, current)
    assert green.get("all_green") == 9
    assert green.get("rows_only_ok") == 9
    assert "no_match_keys" not in green
    assert "one_false" not in green
    assert "rows_only_dead" not in green
    assert "hard_error" not in green


def test_unreadable_manifest_or_fingerprint_failure_stales_everything(
    tmp_path, monkeypatch
):
    current = {name: "f" * 64 for name in QUERIES}
    _round_files(tmp_path, 4, {n: GREEN for n in QUERIES}, current)
    assert len(entry_mod._last_green_round(tmp_path, current)) == len(QUERIES)
    assert entry_mod._last_green_round(tmp_path, None) == {}
    (tmp_path / "FINGERPRINTS.json").write_text('{"4": {')
    assert entry_mod._last_green_round(tmp_path, current) == {}
    (tmp_path / "FINGERPRINTS.json").unlink()
    assert entry_mod._last_green_round(tmp_path, current) == {}

    # The first half certified by the code now sorts last ...
    names = list(QUERIES)
    first = names[: len(names) // 2]
    real = entry_mod._current_fingerprints()
    _round_files(tmp_path, 4, {n: GREEN for n in first}, real)
    monkeypatch.setattr(entry_mod, "_ROOT", tmp_path)
    assert list(entry_mod.queries()) == names[len(first):] + first

    # ... until fingerprinting raises: every query is stale, registry order.
    def broken(root):
        raise SyntaxError("unparseable package file")

    monkeypatch.setattr(staleness, "fingerprints", broken)
    with pytest.warns(UserWarning, match="unparseable package file"):
        assert entry_mod._current_fingerprints() is None
        assert list(entry_mod.queries()) == names

"""Clone guard: every SQL fragment and builder block under
``flink_estimator_spark/`` is written once.

Two checks, both static (no Spark):

* a window of ``CLONE_LINES`` consecutive stripped source lines, each at
  least ``MIN_CHARS`` characters, that appears twice;
* a run of ``SQL_TOKENS`` whitespace-separated tokens that appears in two
  string literals.  Oracle SQL copied with different line wrapping slips
  past the line window (the word-shingle CTE had eight such copies); the
  token run does not.  Docstrings are prose and are not scanned.

A repeated block belongs in one named fragment: a constant or function in
its module, or in ``plans/_helpers.py`` when two modules share it.  The
pairs that stay duplicated on purpose are listed in ``ALLOWED_CLONES``,
keyed by the two enclosing definitions, each with its reason.
"""

from __future__ import annotations

import ast
import os
from collections import defaultdict

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO_ROOT, "flink_estimator_spark")

CLONE_LINES = 8
MIN_CHARS = 4
SQL_TOKENS = 30

ALLOWED_CLONES = {
    (
        "plans/analytic.py::q_sessionization",
        "plans/streaming_runtime.py::q_stream_session_runtime",
    ): (
        "different session orders: the batch gap flags order by (ts, event_id), "
        "the stream gate by ts alone (its session window has no tie-break), so "
        "the two flag CTEs differ in the window order and the id column"
    ),
}


def _sources():
    for dirpath, dirnames, filenames in os.walk(PKG):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for name in sorted(filenames):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                with open(path) as fh:
                    yield os.path.relpath(path, PKG).replace(os.sep, "/"), fh.read()


def _owners(tree: ast.Module) -> list[tuple[int, int, str]]:
    """(first line, last line, name) of every definition: functions and
    classes (decorators included, nested ones dotted) and module-level
    assignments."""
    spans = []

    def visit(node, prefix):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                first = min([d.lineno for d in child.decorator_list] + [child.lineno])
                spans.append((first, child.end_lineno, prefix + child.name))
                visit(child, prefix + child.name + ".")
            elif not prefix and isinstance(child, (ast.Assign, ast.AnnAssign)):
                target = child.targets[0] if isinstance(child, ast.Assign) else child.target
                if isinstance(target, ast.Name):
                    spans.append((child.lineno, child.end_lineno, target.id))

    visit(tree, "")
    return spans


def _owner(spans, line: int) -> str:
    inside = [s for s in spans if s[0] <= line <= s[1]]
    return max(inside, key=lambda s: s[0])[2] if inside else "<module>"


def _docstrings(tree: ast.Module) -> set[int]:
    ids = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            body = node.body
            if body and isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant):
                ids.add(id(body[0].value))
    return ids


def _literals(tree: ast.Module):
    """(line, text) of every string literal except docstrings; an f-string's
    interpolations become a marker no token window may span."""
    skip = _docstrings(tree)
    for node in ast.walk(tree):
        if isinstance(node, ast.JoinedStr):
            skip.update(id(v) for v in node.values)
            yield node.lineno, "".join(
                v.value if isinstance(v, ast.Constant) else " \0 " for v in node.values
            )
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            if id(node) not in skip:
                yield node.lineno, node.value


def find_clones():
    """(pairs, duplicated): every pair of definitions sharing a clone, keyed
    like ``ALLOWED_CLONES``, with sample locations; and the number of
    source lines inside a repeated line window."""
    windows = defaultdict(list)  # line window -> [(path, first line)]
    runs = defaultdict(set)  # token run -> {(path, literal line)}
    owners = {}
    for path, src in _sources():
        tree = ast.parse(src)
        owners[path] = _owners(tree)
        lines = [line.strip() for line in src.splitlines()]
        for i in range(len(lines) - CLONE_LINES + 1):
            window = tuple(lines[i : i + CLONE_LINES])
            if all(len(line) >= MIN_CHARS for line in window):
                windows[window].append((path, i + 1))
        for lineno, text in _literals(tree):
            tokens = text.split()
            for i in range(len(tokens) - SQL_TOKENS + 1):
                run = tuple(tokens[i : i + SQL_TOKENS])
                if "\0" not in run:
                    runs[run].add((path, lineno))

    pairs = defaultdict(set)
    duplicated = set()

    def record(sites):
        named = sorted(
            {(f"{p}::{_owner(owners[p], line)}", f"{p}:{line}") for p, line in sites}
        )
        for a in range(len(named)):
            for b in range(a + 1, len(named)):
                pairs[(named[a][0], named[b][0])].add((named[a][1], named[b][1]))

    for sites in windows.values():
        if len(sites) > 1:
            record(sites)
            for path, first in sites:
                duplicated.update((path, first + k) for k in range(CLONE_LINES))
    for sites in runs.values():
        if len(sites) > 1:
            record(sites)
    return pairs, len(duplicated)


def test_no_unlisted_clones():
    pairs, duplicated = find_clones()
    unlisted = {
        pair: sorted(sites)[:3] for pair, sites in pairs.items() if pair not in ALLOWED_CLONES
    }
    assert not unlisted, (
        f"{len(unlisted)} definition pairs repeat a block ({duplicated} duplicated "
        f"lines in {CLONE_LINES}-line windows); move each into one named fragment "
        f"or list it in ALLOWED_CLONES with a reason:\n"
        + "\n".join(f"  {a} / {b}: {s}" for (a, b), s in sorted(unlisted.items()))
    )


def test_allowed_clones_still_repeat():
    pairs, _ = find_clones()
    stale = sorted(set(ALLOWED_CLONES) - set(pairs))
    assert not stale, f"ALLOWED_CLONES entries with no clone left: {stale}"

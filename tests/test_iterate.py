"""Pins for core.tables.iterate, the one fixpoint loop of the iterative
queries (sparql_path, pagerank, cc_largestar, kcore, bpe_train, bpe_apply):
its stop rule, round cap, return value and freeing — plus a structural
lock that no other loop in the package checkpoints per round."""

from __future__ import annotations

import ast
import pathlib

import pytest

import mu_swarm_logger_service_spark as pkg
from mu_swarm_logger_service_spark.core.tables import iterate


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def _shrink(df):
    """{0..n-1} -> {0..n-2}: empty after n rounds."""
    return df.where(df.id > 0).select((df.id - 1).alias("id"))


def test_iterate_stops_on_first_true_until(spark):
    seen = []

    def until(df):
        seen.append(df.count())
        return seen[-1] == 0

    states = iterate(spark.range(3), _shrink, rounds=10, until=until)
    assert seen == [2, 1, 0]
    assert [s.count() for s in states] == [2, 1, 0]


def test_iterate_raises_after_rounds_without_fixpoint(spark):
    calls = []

    def step(df):
        calls.append(1)
        return df

    with pytest.raises(RuntimeError, match="test_iterate_raises_after"):
        iterate(spark.range(2), step, rounds=3, until=lambda df: False)
    assert len(calls) == 3


def test_iterate_runs_exactly_rounds_without_until(spark):
    states = iterate(spark.range(10), _shrink, rounds=4)
    assert [sorted(r.id for r in s.collect()) for s in states] == [
        list(range(n)) for n in (9, 8, 7, 6)]


@pytest.mark.parametrize("until", [None, lambda df: df.count() <= 4],
                         ids=["eager", "until"])
def test_iterate_free_keeps_at_most_one_round(spark, until):
    """free=True frees every superseded round (and the input) as soon as
    its successor is materialized — eagerly without ``until``, by
    ``until`` with it — and the last round stays readable."""
    before = _n_persistent(spark)
    states = iterate(spark.range(10), _shrink, rounds=6, until=until,
                     free=True)
    assert len(states) == 6
    assert _n_persistent(spark) - before <= 1
    assert sorted(r.id for r in states[-1].collect()) == [0, 1, 2, 3]


def _checkpoints_in_loops(tree: ast.AST):
    """(enclosing function, line) of each localCheckpoint call inside the
    body of a for/while loop."""
    found = set()

    def visit(node, func, in_loop):
        for child in ast.iter_child_nodes(node):
            f, loop = func, in_loop
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                f, loop = child.name, False
            elif isinstance(child, (ast.For, ast.AsyncFor, ast.While)):
                loop = True
            elif (loop and isinstance(child, ast.Call)
                  and isinstance(child.func, ast.Attribute)
                  and child.func.attr == "localCheckpoint"):
                found.add((func, child.lineno))
            visit(child, f, loop)

    visit(tree, None, False)
    return found


def test_only_iterate_checkpoints_inside_a_loop():
    """Structural lock: every per-round checkpoint in the package goes
    through iterate — no hand-rolled fixpoint loop truncates lineage on
    its own."""
    root = pathlib.Path(pkg.__file__).parent
    sites = {(str(path.relative_to(root)), func)
             for path in root.rglob("*.py")
             for func, _ in _checkpoints_in_loops(
                 ast.parse(path.read_text()))}
    assert sites == {("core/tables.py", "iterate")}, sites

"""Registry-wide output-schema contract.

The grading driver canonicalizes every query result with a pandas
``sort_values`` over ALL columns before value-hashing.  Cell types that
pandas cannot hash/factorize kill the row even when the values are
correct — this has caused the only two hard-red driver rows in six
rounds (r1 q_agg_approx_percentile: ``unhashable type: 'list'``;
r6 q_fn_encode: ``unhashable type: 'bytearray'``).  The local harness
used to be MORE lenient (it hexed binary cells), which is exactly
backwards for a driver simulator, so this test closes the class at the
source: no registered query may emit Binary/Array/Map/Struct in its
output schema.  Render them first (hex, to_json, concat_ws, getField).
"""

from __future__ import annotations

import ast
import pathlib
import re

from pyspark.sql import types as T

import __spark_entry__ as entrymod
import mu_swarm_logger_service_spark as pkg

FORBIDDEN = (T.BinaryType, T.ArrayType, T.MapType, T.StructType)


def test_no_unhashable_output_dtypes(spark, sf_dir):
    violations = []
    for name, fn in sorted(entrymod.queries().items()):
        df = fn(spark, sf_dir)
        for field in df.schema.fields:
            if isinstance(field.dataType, FORBIDDEN):
                violations.append(
                    f"{name}.{field.name}: {field.dataType.simpleString()}")
    assert not violations, (
        "registered outputs with driver-unhashable dtypes "
        "(hex/to_json/flatten them before returning):\n  "
        + "\n  ".join(violations))


def test_no_custom_session_conf_or_fixed_name_views():
    """Structural lock: a query result depends on its inputs only.  No
    string literal in the package names a custom ``spark.mu_swarm*``
    session-conf key (tunables are module constants), and the only temp
    views are the table views of the SQL entry point — query bodies pass
    DataFrames to ``spark.sql`` as parameters instead of registering a
    fixed name two concurrent queries would share."""
    root = pathlib.Path(pkg.__file__).parent
    keys, views = [], set()

    def visit(node, func, rel):
        for child in ast.iter_child_nodes(node):
            f = (child.name if isinstance(
                child, (ast.FunctionDef, ast.AsyncFunctionDef)) else func)
            if (isinstance(child, ast.Constant)
                    and isinstance(child.value, str)
                    and child.value.startswith("spark.mu_swarm")):
                keys.append(f"{rel}:{child.lineno} {child.value}")
            if (isinstance(child, ast.Call)
                    and isinstance(child.func, ast.Attribute)
                    and child.func.attr == "createOrReplaceTempView"):
                views.add((rel, func))
            visit(child, f, rel)

    for path in root.rglob("*.py"):
        rel = str(path.relative_to(root))
        visit(ast.parse(path.read_text()), None, rel)
    assert not keys, keys
    assert views == {("core/tables.py", "register_views")}, views


_ZERO_SEEDS = {"0.0d", "0.0", "cast(0.0asdouble)", "0d", "cast(0asdouble)"}


def _sql_args(text: str, start: int) -> list[str]:
    """Top-level comma-split arguments of the call whose '(' ends at
    ``start`` (as far as the literal reaches)."""
    depth, cur, out = 0, [], []
    for ch in text[start:]:
        if ch == "(":
            depth += 1
        elif ch == ")":
            if depth == 0:
                break
            depth -= 1
        elif ch == "," and depth == 0:
            out.append("".join(cur))
            cur = []
            continue
        cur.append(ch)
    return out + ["".join(cur)]


def _sql_double_sums(text: str) -> list[str]:
    """``aggregate(arr, <DOUBLE zero>, (acc, x) -> acc + ...)`` in SQL text."""
    hits = []
    for m in re.finditer(r"\baggregate\(", text):
        args = _sql_args(text, m.end())
        if len(args) < 3:
            continue
        seed = re.sub(r"\s+", "", args[1]).lower()
        merge = re.sub(r"\s+", "", ",".join(args[2:]))
        if seed in _ZERO_SEEDS and re.match(r"\((\w+),\w+\)->\1\+", merge):
            hits.append(text[m.start():m.start() + 50])
    return hits


def _column_double_sum(node: ast.AST) -> bool:
    """``F.aggregate(col, F.lit(0.0) | 0.0, lambda acc, x: acc + ...)``."""
    if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
            and node.func.attr == "aggregate" and len(node.args) >= 3):
        return False
    seed, merge = node.args[1], node.args[2]
    if isinstance(seed, ast.Call) and seed.args:
        seed = seed.args[0]
    return (isinstance(seed, ast.Constant) and seed.value == 0.0
            and isinstance(merge, ast.Lambda) and bool(merge.args.args)
            and isinstance(merge.body, ast.BinOp)
            and isinstance(merge.body.op, ast.Add)
            and isinstance(merge.body.left, ast.Name)
            and merge.body.left.id == merge.args.args[0].arg)


def _double_sums(src: str) -> list[str]:
    hits, parts = [], set()  # parts: literal pieces of an f-string
    for node in ast.walk(ast.parse(src)):  # breadth-first: parents first
        if isinstance(node, ast.JoinedStr):
            parts.update(map(id, node.values))
            text = "".join(v.value if isinstance(v, ast.Constant) else "{}"
                           for v in node.values)
            hits += [f"{node.lineno} {h}" for h in _sql_double_sums(text)]
        elif (isinstance(node, ast.Constant) and isinstance(node.value, str)
              and id(node) not in parts):
            hits += [f"{node.lineno} {h}" for h in _sql_double_sums(node.value)]
        elif _column_double_sum(node):
            hits.append(f"{node.lineno} F.aggregate")
    return hits


def test_double_array_sums_only_in_folds():
    """Structural lock: every DOUBLE array sum — an ``aggregate`` seeded
    with a DOUBLE zero whose merge adds to the accumulator, as an
    ``F.aggregate`` call or in SQL text — is built by ``core/folds.py``,
    so the fold's seed, order and operand quoting have one
    implementation.  Folds that are not DOUBLE sums stay hand-written by
    design: max-abs (``greatest``), BIGINT (``0L``) and struct-state
    folds, the Kaplan-Meier product (seed 1.0) and the SimHash bit fold.
    The DuckDB oracle strings (``list_reduce``) are the independent
    reference and are not matched."""
    from mu_swarm_logger_service_spark.core.folds import cosine, fsum

    # The detector sees both spellings, including core/folds' own output.
    assert _sql_double_sums(fsum("ls", "x.p * ln(x.p)"))
    assert _sql_double_sums(cosine("a", "b"))
    assert _double_sums(
        "F.aggregate(F.col('ls'), F.lit(0.0), lambda acc, e: acc + e.n)")
    assert _double_sums(
        "s = f'aggregate({a}, CAST(0.0 AS DOUBLE), (a, x) -> a + x)'")
    assert not _double_sums(
        "s = 'aggregate(e, CAST(0.0 AS DOUBLE), (a, x) -> greatest(a, x))'"
        "\nt = 'aggregate(q, 0L, (a, x) -> a + x)'"
        "\nu = F.aggregate(c, F.lit(1.0), lambda acc, e: acc * e.f)")

    root = pathlib.Path(pkg.__file__).parent
    hits = [f"{path.relative_to(root)}:{h}"
            for path in sorted(root.rglob("*.py"))
            if path.relative_to(root).as_posix() != "core/folds.py"
            for h in _double_sums(path.read_text())]
    assert not hits, hits


def test_udx_queries_leave_no_temp_functions(spark, sf_dir):
    """The SQL-registered UDF and UDTF live under per-call names dropped
    after analysis: running both queries adds no temporary function to
    the session catalog, and the returned DataFrames still execute."""
    def temp_functions():
        return {f.name for f in spark.catalog.listFunctions()
                if f.isTemporary}

    before = temp_functions()
    for name in ("q_udf_register_sql", "q_udtf_sql"):
        assert entrymod.queries()[name](spark, sf_dir).count() > 0
    assert temp_functions() == before

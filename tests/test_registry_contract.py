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


def _package_nodes():
    """(module path, enclosing function name, node) for every AST node of
    the package's modules; the function is None at module level."""
    root = pathlib.Path(pkg.__file__).parent

    def visit(node, func, rel):
        for child in ast.iter_child_nodes(node):
            yield rel, func, child
            yield from visit(child, child.name if isinstance(
                child, (ast.FunctionDef, ast.AsyncFunctionDef)) else func, rel)

    for path in sorted(root.rglob("*.py")):
        yield from visit(ast.parse(path.read_text()), None,
                         path.relative_to(root).as_posix())


def test_no_custom_session_conf_or_fixed_name_views():
    """Structural lock: a query result depends on its inputs only.  No
    string literal in the package names a custom ``spark.mu_swarm*``
    session-conf key (tunables are module constants), and the only temp
    views are the table views of the SQL entry point — query bodies pass
    DataFrames to ``spark.sql`` as parameters instead of registering a
    fixed name two concurrent queries would share.  Session conf is
    written (``conf.set``/``conf.unset``) only by the stream runner, in
    ``drain``, the write step it hands to ``core.tables.round_trip``."""
    keys, views, conf_writes = [], set(), set()
    for rel, func, node in _package_nodes():
        if (isinstance(node, ast.Constant) and isinstance(node.value, str)
                and node.value.startswith("spark.mu_swarm")):
            keys.append(f"{rel}:{node.lineno} {node.value}")
        if not (isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)):
            continue
        if node.func.attr == "createOrReplaceTempView":
            views.add((rel, func))
        if (node.func.attr in ("set", "unset")
                and isinstance(node.func.value, ast.Attribute)
                and node.func.value.attr == "conf"):
            conf_writes.add((rel, func))
    assert not keys, keys
    assert views == {("core/tables.py", "register_views")}, views
    assert conf_writes <= {("streaming/queries.py", "drain")}, conf_writes


_FILE_CALLS = {("tempfile", "gettempdir"), ("tempfile", "mkdtemp"),
               ("os", "rename")}


def test_query_files_only_through_layout_and_round_trip():
    """Structural lock: a query's files live where core/tables puts them.
    Temp directories are named (``tempfile.gettempdir``/``mkdtemp``) and
    published (``os.rename``) only by ``layout`` (files derived once per
    source generation), ``round_trip`` (files written fresh per call) and
    ``_ship_package`` — never by a query body with its own fixed path,
    marker file or rename."""
    sites = set()
    for rel, func, node in _package_nodes():
        if isinstance(node, ast.ImportFrom) and node.module == "tempfile":
            sites.add((rel, func))
        if (isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and isinstance(node.func.value, ast.Name)
                and (node.func.value.id, node.func.attr) in _FILE_CALLS):
            sites.add((rel, func))
    assert sites <= {("core/tables.py", "layout"),
                     ("core/tables.py", "round_trip"),
                     ("core/tables.py", "_ship_package")}, sites


def test_default_parallelism_read_only_by_the_pinning_helpers():
    """Structural lock: a partition count taken from ``defaultParallelism``
    is chosen in four places only — the dedup family's blocked self-join
    and candidate verify (``block_pairs``, ``verify_pairs``), ``spread``
    and the stream runner's state-store sizing — never per query."""
    reads = {(rel, func) for rel, func, node in _package_nodes()
             if isinstance(node, ast.Attribute)
             and node.attr == "defaultParallelism"}
    assert reads <= {("llm/dedup.py", "block_pairs"),
                     ("llm/dedup.py", "verify_pairs"),
                     ("core/tables.py", "spread"),
                     ("streaming/queries.py", "_state_partitions")}, reads

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


def test_udtf_query_first_on_plain_session_from_foreign_cwd(sf_dir, tmp_path):
    """``q_udtf_sql`` pickles its UDTF class by module reference and loads
    no table, so it ships the package itself: run as the first query of a
    plain session whose cwd is outside the repository, its executors
    still import the package."""
    import os
    import subprocess
    import sys

    repo = pathlib.Path(pkg.__file__).parent.parent
    script = (
        "import sys\n"
        f"sys.path.insert(0, {str(repo)!r})\n"
        "from pyspark.sql import SparkSession\n"
        "spark = SparkSession.builder.master('local[2]').getOrCreate()\n"
        "import __spark_entry__\n"
        "df = __spark_entry__.queries()['q_udtf_sql']"
        f"(spark, {sf_dir!r})\n"
        "print('ROWS', df.count())\n"
        "spark.stop()\n")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run([sys.executable, "-c", script], cwd=tmp_path,
                         env=env, capture_output=True, text=True, timeout=600)
    assert "ROWS 32" in out.stdout.splitlines(), out.stderr[-2000:]

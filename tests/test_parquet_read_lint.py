"""One way to read parquet: under ``migbq_spark/`` every batch parquet read
(``spark.read….parquet(...)`` or ``spark.read.format("parquet")….load(...)``)
either is the one inside ``catalog.read_parquet``, which infers a file
set's schema once, or passes its schema with ``.schema(...)``.  A plain
read would run Spark's schema-inference job on every call."""

import ast
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "migbq_spark"
#: (module, function) allowed to infer: the cache's own miss and hit.
EXEMPT = {(PACKAGE / "catalog.py", "read_parquet")}


def _chain(node: ast.AST) -> list[ast.AST]:
    """The calls and attributes of a method chain, outermost first."""
    out = []
    while isinstance(node, (ast.Call, ast.Attribute)):
        out.append(node)
        node = node.func if isinstance(node, ast.Call) else node.value
    return out


def _attrs(chain: list[ast.AST]) -> list[str]:
    return [n.attr for n in chain if isinstance(n, ast.Attribute)]


def _is_parquet_format(chain: list[ast.AST]) -> bool:
    return any(
        isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == "format"
        and n.args
        and isinstance(n.args[0], ast.Constant)
        and n.args[0].value == "parquet"
        for n in chain
    )


def inferring_reads(source: str, exempt: set[str] = frozenset()) -> list[int]:
    """Line numbers of parquet batch reads without ``.schema(...)``,
    outside the functions named in ``exempt``."""
    tree = ast.parse(source)
    skip = {
        id(n)
        for f in ast.walk(tree)
        if isinstance(f, ast.FunctionDef) and f.name in exempt
        for n in ast.walk(f)
    }
    lines = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call) or id(node) in skip:
            continue
        chain = _chain(node)
        attrs = _attrs(chain)
        if "read" not in attrs[1:] or "schema" in attrs:
            continue
        if attrs[0] == "parquet" or (attrs[0] == "load" and _is_parquet_format(chain)):
            lines.append(node.lineno)
    return sorted(lines)


def test_detector_catches_inferring_reads():
    src = (
        "a = spark.read.parquet(p)\n"
        "b = spark.read.option('x', 1).parquet(p)\n"
        "c = spark.read.schema(s).parquet(p)\n"
        "d = spark.read.format('parquet').load(p)\n"
        "e = spark.read.format('json').load(p)\n"
        "f = spark.readStream.schema(s).parquet(p)\n"
        "g = df.write.parquet(p)\n"
        "h = read_parquet(spark, p)\n"
        "def read_parquet(spark, p):\n"
        "    return spark.read.parquet(p)\n"
    )
    assert inferring_reads(src, {"read_parquet"}) == [1, 2, 4]
    assert inferring_reads(src) == [1, 2, 4, 10]


MODULES = sorted(PACKAGE.rglob("*.py"))


@pytest.mark.parametrize("module", MODULES, ids=lambda p: str(p.relative_to(PACKAGE)))
def test_parquet_reads_go_through_read_parquet(module):
    exempt = {f for m, f in EXEMPT if m == module}
    found = inferring_reads(module.read_text(), exempt)
    assert not found, (
        f"{module.relative_to(REPO)}:{found} reads parquet without a schema; "
        "use migbq_spark.catalog.read_parquet or pass .schema(...)"
    )

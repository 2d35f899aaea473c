"""Each vector building block has one Spark-side definition:

- the dot folds are ``migbq_spark.common.dot`` and ``common.idot``: no
  other code may spell an ``aggregate`` over a ``zip_with``, directly or
  through a name bound to the ``zip_with``;
- the embedding fixed-point quantizer is ``common.fixed_point``: no
  other code may spell a ``transform`` of ``embedding`` through
  ``floor``, in either the Column spelling (``F.transform("embedding",
  lambda x: F.floor(...))``) or the SQL-expression spelling
  (``"transform(embedding, x -> CAST(FLOOR(...)"``);
- the sign-LSH hyperplane sign is ``operators.pipeline._rp_sign``: no
  other function may take the md5 of an ``"rp:..."`` key.

The DuckDB oracle strings mirror the quantizer with ``list_transform``
and the hyperplane sign with SQL ``md5('rp:' || ...)``; both are
exempt."""

import ast
import re
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "migbq_spark"

#: (module, function) pairs that ARE the one definition of a block.
OWNERS = {
    ("common.py", "dot"),
    ("common.py", "idot"),
    ("common.py", "fixed_point"),
    ("operators/pipeline.py", "_rp_sign"),
}

#: Spark SQL ``transform(embedding, x -> ... FLOOR(`` — the look-behind
#: skips DuckDB's ``list_transform(embedding, ...)``.
_SQL_QUANTIZER = re.compile(
    r"(?<!list_)\btransform\(\s*embedding\s*,\s*\w+\s*->[^;]*?\bfloor\(",
    re.IGNORECASE,
)


def _callee(node: ast.AST) -> str | None:
    if isinstance(node, ast.Call):
        f = node.func
        if isinstance(f, ast.Attribute):
            return f.attr
        if isinstance(f, ast.Name):
            return f.id
    return None


def _is_embedding(node: ast.AST) -> bool:
    if isinstance(node, ast.Constant):
        return node.value == "embedding"
    return (
        _callee(node) == "col"
        and len(node.args) == 1
        and isinstance(node.args[0], ast.Constant)
        and node.args[0].value == "embedding"
    )


def _calls(node: ast.AST, name: str) -> bool:
    return any(_callee(n) == name for n in ast.walk(node))


def _is_rp_key(node: ast.AST) -> bool:
    """An ``f"rp:..."`` / ``"rp:..."`` string, possibly ``.encode()``d."""
    if _callee(node) == "encode":
        node = node.func.value
    if isinstance(node, ast.JoinedStr) and node.values:
        node = node.values[0]
    return (
        isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and node.value.startswith("rp:")
    )


def _zip_names(tree: ast.AST) -> set[str]:
    """Names assigned a ``zip_with`` call anywhere in ``tree``."""
    return {
        t.id
        for n in ast.walk(tree)
        if isinstance(n, ast.Assign) and _callee(n.value) == "zip_with"
        for t in n.targets
        if isinstance(t, ast.Name)
    }


def _copy_kind(node: ast.AST, zips: set[str]) -> str | None:
    name = _callee(node)
    if name == "aggregate" and node.args:
        arg = node.args[0]
        if _callee(arg) == "zip_with" or (
            isinstance(arg, ast.Name) and arg.id in zips
        ):
            return "dot fold"
    if (
        name == "transform"
        and len(node.args) >= 2
        and _is_embedding(node.args[0])
        and isinstance(node.args[1], ast.Lambda)
        and _calls(node.args[1].body, "floor")
    ):
        return "quantizer"
    if name == "md5" and node.args and _is_rp_key(node.args[0]):
        return "hyperplane sign"
    if (
        isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and _SQL_QUANTIZER.search(node.value)
    ):
        return "quantizer"
    return None


def kernel_copies(
    source: str, owners: set[str] = frozenset()
) -> list[tuple[int, str]]:
    """(line, kind) of every vector building block spelled out in
    ``source`` outside the functions named in ``owners``."""
    found = []
    tree = ast.parse(source)
    zips = _zip_names(tree)

    def visit(node: ast.AST, fn: str | None) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name
        kind = _copy_kind(node, zips)
        if kind is not None and fn not in owners:
            found.append((node.lineno, kind))
        for child in ast.iter_child_nodes(node):
            visit(child, fn)

    visit(tree, None)
    return sorted(found)


def test_detector_catches_every_spelling():
    src = (
        "a = F.aggregate(F.zip_with('a', 'b', lambda x, y: x * y),"
        " F.lit(0), lambda s, x: s + x)\n"
        "b = F.transform('embedding', lambda x:"
        " F.floor(x.cast('double') * F.lit(1000000.0)).cast('bigint'))\n"
        "c = F.transform(F.col('embedding'), lambda x: F.floor(x * 1e6))\n"
        "d = F.expr(\"transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE)"
        " * 1000000.0) AS BIGINT))\")\n"
        "e = hashlib.md5(f'rp:{p}:{j}'.encode()).digest()\n"
        "f = \"list_transform(embedding, x -> CAST(FLOOR(x * 1e6) AS BIGINT))\"\n"
        "g = \"md5('rp:' || p || ':' || j)\"\n"
        "h = F.transform('embedding', lambda x: x.cast('double') * x)\n"
        "i = F.aggregate('err', F.lit(0), lambda s, x: s + x)\n"
        "j = F.zip_with('se', 'q', lambda x, y: x - y)\n"
        "def _rp_sign(p, j):\n"
        "    return hashlib.md5(f'rp:{p}:{j}'.encode()).digest()\n"
        "prod = F.zip_with('a', 'b', lambda x, y: x * y)\n"
        "k = F.aggregate(prod, F.lit(0.0), lambda s, v: s + v)\n"
    )
    assert kernel_copies(src) == [
        (1, "dot fold"),
        (2, "quantizer"),
        (3, "quantizer"),
        (4, "quantizer"),
        (5, "hyperplane sign"),
        (12, "hyperplane sign"),
        (14, "dot fold"),
    ]
    assert (12, "hyperplane sign") not in kernel_copies(src, {"_rp_sign"})


MODULES = sorted(PACKAGE.rglob("*.py"))


@pytest.mark.parametrize(
    "module", MODULES, ids=lambda p: str(p.relative_to(PACKAGE))
)
def test_vector_kernels_defined_once(module):
    rel = module.relative_to(PACKAGE).as_posix()
    owners = {fn for mod, fn in OWNERS if mod == rel}
    found = kernel_copies(module.read_text(), owners)
    assert not found, (
        f"{module.relative_to(REPO)}:{found} spells out a vector building "
        "block; use common.dot / common.idot / common.fixed_point or "
        "pipeline._rp_sign"
    )

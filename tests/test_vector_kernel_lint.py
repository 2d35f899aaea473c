"""Each vector and sketch building block has one Spark-side definition:

- the dot folds are ``migbq_spark.common.dot`` and ``common.idot``: no
  other code may spell an ``aggregate`` over a ``zip_with``, directly or
  through a name bound to the ``zip_with``;
- the embedding fixed-point quantizer is ``common.fixed_point``: no
  other code may spell a ``transform`` of ``embedding`` through
  ``floor``, in either the Column spelling (``F.transform("embedding",
  lambda x: F.floor(...))``) or the SQL-expression spelling
  (``"transform(embedding, x -> CAST(FLOOR(...)"``);
- the sign-LSH hyperplane sign is ``operators.pipeline._rp_sign``: no
  other function may take the md5 of an ``"rp:..."`` key;
- the portable hash is ``common.md5_int``: no other code may spell a
  ``conv`` over a ``substring``/``substr`` of an ``md5``, in either the
  Column spelling (directly or through a name bound to the ``md5``) or
  the SQL-expression spelling (``"conv(substr(md5(...)"``);
- the portable-HLL rho is ``operators.pipeline._phll_coupon``: no other
  code may spell ``49 - length(conv(v, 10, 2))``, as Column or SQL.

The DuckDB oracle strings mirror the quantizer with ``list_transform``,
the hyperplane sign with SQL ``md5('rp:' || ...)``, the portable hash
with ``CAST('0x' || substr(md5(...)) AS BIGINT)`` and the rho with
``length(bin(...))``; all are exempt, and so are docstrings."""

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
    ("common.py", "md5_int"),
    ("operators/pipeline.py", "_phll_coupon"),
}

#: Spark SQL ``transform(embedding, x -> ... FLOOR(`` — the look-behind
#: skips DuckDB's ``list_transform(embedding, ...)``.
_SQL_QUANTIZER = re.compile(
    r"(?<!list_)\btransform\(\s*embedding\s*,\s*\w+\s*->[^;]*?\bfloor\(",
    re.IGNORECASE,
)
#: Spark SQL ``conv(substr(md5(`` / ``conv(substring(md5(``.
_SQL_MD5_INT = re.compile(r"\bconv\(\s*substr(?:ing)?\(\s*md5\(", re.IGNORECASE)
#: Spark SQL ``49 - length(conv(`` — DuckDB's rho is ``length(bin(``.
_SQL_RHO = re.compile(r"\b49\s*-\s*length\(\s*conv\(", re.IGNORECASE)


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


def _bound_names(tree: ast.AST, callee: str) -> set[str]:
    """Names assigned a ``callee`` call anywhere in ``tree``."""
    return {
        t.id
        for n in ast.walk(tree)
        if isinstance(n, ast.Assign) and _callee(n.value) == callee
        for t in n.targets
        if isinstance(t, ast.Name)
    }


def _is_call_or_bound(node: ast.AST, callee: str, names: set[str]) -> bool:
    return _callee(node) == callee or (
        isinstance(node, ast.Name) and node.id in names
    )


def _substring_source(node: ast.AST) -> ast.AST | None:
    """The string a ``substring``/``substr`` call slices: the first
    argument of ``F.substring(s, pos, len)``, the receiver of
    ``s.substr(pos, len)``."""
    if _callee(node) not in ("substring", "substr"):
        return None
    if len(node.args) >= 3:
        return node.args[0]
    if isinstance(node.func, ast.Attribute):
        return node.func.value
    return None


def _docstrings(tree: ast.AST) -> set[int]:
    """ids of the bare string statements (docstrings) in ``tree``."""
    return {
        id(n.value)
        for n in ast.walk(tree)
        if isinstance(n, ast.Expr)
        and isinstance(n.value, ast.Constant)
        and isinstance(n.value.value, str)
    }


def _copy_kind(
    node: ast.AST, zips: set[str], md5s: set[str], docs: set[int]
) -> str | None:
    name = _callee(node)
    if name == "aggregate" and node.args:
        if _is_call_or_bound(node.args[0], "zip_with", zips):
            return "dot fold"
    if name == "conv" and node.args:
        src = _substring_source(node.args[0])
        if src is not None and _is_call_or_bound(src, "md5", md5s):
            return "portable hash"
    if (
        isinstance(node, ast.BinOp)
        and isinstance(node.op, ast.Sub)
        and _callee(node.right) == "length"
        and node.right.args
        and _callee(node.right.args[0]) == "conv"
    ):
        return "hll rho"
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
    if (
        isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and id(node) not in docs
    ):
        if _SQL_MD5_INT.search(node.value):
            return "portable hash"
        if _SQL_RHO.search(node.value):
            return "hll rho"
    return None


def kernel_copies(
    source: str, owners: set[str] = frozenset()
) -> list[tuple[int, str]]:
    """(line, kind) of every vector or sketch building block spelled out
    in ``source`` outside the functions named in ``owners``."""
    found = []
    tree = ast.parse(source)
    zips = _bound_names(tree, "zip_with")
    md5s = _bound_names(tree, "md5")
    docs = _docstrings(tree)

    def visit(node: ast.AST, fn: str | None) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name
        kind = _copy_kind(node, zips, md5s, docs)
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


def test_detector_catches_every_hash_spelling():
    src = (
        "a = F.conv(F.substring(F.md5('token'), 1, 15), 16, 10)\n"
        "u = F.md5(F.col('user_id').cast('string'))\n"
        "b = F.conv(F.substring(u, 4, 12), 16, 10).cast('bigint')\n"
        "c = F.expr(\"transform(s, i -> cast(conv(substring(md5(\"\n"
        "           \"concat_ws(' ', slice(t, i, 4))), 1, 15), 16, 10) as bigint))\")\n"
        "d = F.expr('CAST(conv(substr(md5(x), 1, 8), 16, 10) AS BIGINT) % 2')\n"
        "e = F.conv(F.md5(x).substr(1, 15), 16, 10)\n"
        "f = F.lit(49) - F.length(F.conv(v, 10, 2))\n"
        "g = F.expr('49 - length(conv(v, 10, 2))')\n"
        "h = \"CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 3) AS BIGINT)\"\n"
        "i = \"49 - length(bin(CAST('0x' || substr(md5(u), 4, 12) AS BIGINT)))\"\n"
        "j = F.conv(F.substring(F.sha1(x), 1, 15), 16, 10)\n"
        "k = F.length(F.conv(v, 10, 2))\n"
        "def doc():\n"
        "    \"\"\"Spark's conv(substr(md5(..),1,15),16,10).\"\"\"\n"
        "def md5_int(col, start=1, length=15):\n"
        "    return F.conv(F.substring(F.md5(col), start, length), 16, 10)\n"
        "def _phll_coupon(k):\n"
        "    return F.lit(49) - F.length(F.conv(v, 10, 2))\n"
    )
    copies = [
        (1, "portable hash"),
        (3, "portable hash"),
        (4, "portable hash"),
        (6, "portable hash"),
        (7, "portable hash"),
        (8, "hll rho"),
        (9, "hll rho"),
    ]
    assert kernel_copies(src) == copies + [
        (17, "portable hash"),
        (19, "hll rho"),
    ]
    assert kernel_copies(src, {"md5_int", "_phll_coupon"}) == copies


MODULES = sorted(PACKAGE.rglob("*.py"))


@pytest.mark.parametrize(
    "module", MODULES, ids=lambda p: str(p.relative_to(PACKAGE))
)
def test_vector_kernels_defined_once(module):
    rel = module.relative_to(PACKAGE).as_posix()
    owners = {fn for mod, fn in OWNERS if mod == rel}
    found = kernel_copies(module.read_text(), owners)
    assert not found, (
        f"{module.relative_to(REPO)}:{found} spells out a vector or sketch "
        "building block; use common.dot / common.idot / common.fixed_point, "
        "pipeline._rp_sign, common.md5_int or pipeline._phll_coupon"
    )

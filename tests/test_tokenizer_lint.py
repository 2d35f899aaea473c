"""The corpus tokenization rule (split ``text`` on one space, drop empty
tokens) has one Spark-side definition, ``migbq_spark.common.tokens``: no
other module under ``migbq_spark/`` may spell out a filter over a split of
``text`` on ``' '``, in either the Column spelling
(``F.filter(F.split("text", " "), ...)``) or the SQL-expression spelling
(``"filter(split(text, ' '), ...)"``).  The DuckDB oracle strings mirror
the rule with ``list_filter(string_split(...))`` and are exempt."""

import ast
import re
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "migbq_spark"
EXEMPT = {PACKAGE / "common.py"}

#: Spark SQL ``filter(split(text, ' ') ...`` — the look-behind skips
#: DuckDB's ``list_filter(string_split(text, ' ') ...``.
_SQL_SPELLING = re.compile(r"(?<!\w)filter\(\s*split\(\s*text\s*,\s*' '\s*\)")


def _callee(node: ast.AST) -> str | None:
    if isinstance(node, ast.Call):
        f = node.func
        if isinstance(f, ast.Attribute):
            return f.attr
        if isinstance(f, ast.Name):
            return f.id
    return None


def _is_text(node: ast.AST) -> bool:
    if isinstance(node, ast.Constant):
        return node.value == "text"
    return (
        _callee(node) == "col"
        and len(node.args) == 1
        and isinstance(node.args[0], ast.Constant)
        and node.args[0].value == "text"
    )


def _is_text_split(node: ast.AST) -> bool:
    return (
        _callee(node) == "split"
        and len(node.args) >= 2
        and _is_text(node.args[0])
        and isinstance(node.args[1], ast.Constant)
        and node.args[1].value == " "
    )


def tokenizer_copies(source: str) -> list[int]:
    """Line numbers in ``source`` that spell out the tokenization rule."""
    lines = []
    for node in ast.walk(ast.parse(source)):
        if _callee(node) == "filter" and node.args and _is_text_split(node.args[0]):
            lines.append(node.lineno)
        elif (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and _SQL_SPELLING.search(node.value)
        ):
            lines.append(node.lineno)
    return sorted(lines)


def test_detector_catches_both_spellings():
    src = (
        'a = F.filter(F.split("text", " "), lambda t: t != "")\n'
        "b = F.expr(\"filter(split(text, ' '), t -> t <> '')\")\n"
        'c = F.filter(F.split(F.col("text"), " "), lambda x: x != "")\n'
        "d = \"SELECT list_filter(string_split(text, ' '), t -> t <> '')\"\n"
        'e = F.filter(tokens(), lambda t: F.length(t) > 6)\n'
    )
    assert tokenizer_copies(src) == [1, 2, 3]


MODULES = sorted(p for p in PACKAGE.rglob("*.py") if p not in EXEMPT)


@pytest.mark.parametrize(
    "module", MODULES, ids=lambda p: str(p.relative_to(PACKAGE))
)
def test_tokenizer_defined_once(module):
    found = tokenizer_copies(module.read_text())
    assert not found, (
        f"{module.relative_to(REPO)}:{found} spells out the tokenizer; "
        "use migbq_spark.common.tokens()"
    )

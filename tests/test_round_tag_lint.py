"""Comments and docstrings under ``migbq_spark/`` say what the code does or
what it relies on; they do not tag the development round a line came
from (``r12``, ``r5``) or cite a per-round artifact file
(``SCALING_r06.md``, ``BENCH_r15.json``).  Comments are read with
``tokenize`` and docstrings with ``ast``, so code (a ``"r1"`` string
literal, a variable named ``r2``) is not scanned."""

import ast
import io
import re
import tokenize
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "migbq_spark"

_ROUND_TAG = re.compile(r"\br\d{1,2}\b")
#: ``SCALING_r06_sf10.md``, ``bench_r3.json``, or a bare ``SCALING_r07``
_ARTIFACT = re.compile(r"\w*_r\d+\w*\.(?:md|json)\b|\b[A-Z]+(?:_[A-Z]+)*_r\d+")

_DOC_OWNERS = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)


def _prose(source: str):
    """(line, text) of every comment and docstring in ``source``."""
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type == tokenize.COMMENT:
            yield tok.start[0], tok.string
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, _DOC_OWNERS) and node.body:
            first = node.body[0]
            if (
                isinstance(first, ast.Expr)
                and isinstance(first.value, ast.Constant)
                and isinstance(first.value.value, str)
            ):
                for i, line in enumerate(first.value.value.splitlines()):
                    yield first.lineno + i, line


def round_tags(source: str) -> list[int]:
    """Line numbers of comments and docstrings in ``source`` that carry a
    round tag or cite a round artifact."""
    return sorted(
        {
            line
            for line, text in _prose(source)
            if _ROUND_TAG.search(text) or _ARTIFACT.search(text)
        }
    )


def test_detector_reads_only_comments_and_docstrings():
    src = (
        '"""Module doc (r4)."""\n'
        "x = 1  # ok\n"
        "y = 2  # added in r12\n"
        'tag = "r1"\n'
        "r2 = tag\n"
        "def f():\n"
        '    """See SCALING_r06_sf10.md."""\n'
        "    # rows per r/s, rr12 and r123 are not tags\n"
        "    # same protocol as PERF_SWEEP_r07\n"
        "    # a var_r2 name is not a citation\n"
    )
    assert round_tags(src) == [1, 3, 7, 9]


MODULES = sorted(PACKAGE.rglob("*.py"))


@pytest.mark.parametrize(
    "module", MODULES, ids=lambda p: str(p.relative_to(PACKAGE))
)
def test_no_round_tags(module):
    found = round_tags(module.read_text())
    assert not found, (
        f"{module.relative_to(REPO)}:{found} tags a round or cites a round "
        "artifact; say what the code does instead"
    )

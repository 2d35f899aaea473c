"""Comments and docstrings under ``migbq_spark/``, ``tests/``, ``scripts/``
and ``bench.py`` say what the code does or what it relies on; they do not
tag the development round a line came from (an ``r`` followed by one or
two digits, as a word) or cite a per-round artifact file (a ``SCALING_``
or ``BENCH_`` name carrying such a tag).  Comments are read with
``tokenize`` and docstrings with ``ast``, so code (a tag-shaped string
literal or variable name) is not scanned; the detector's own self-check
spells its tags in code for that reason."""

import ast
import io
import re
import tokenize
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "migbq_spark"
SCANNED = (
    sorted(PACKAGE.rglob("*.py"))
    + sorted((REPO / "tests").glob("*.py"))
    + sorted((REPO / "scripts").rglob("*.py"))
    + [REPO / "bench.py"]
)

_ROUND_TAG = re.compile(r"\br\d{1,2}\b")
#: an artifact file name (``SCALING_`` / ``bench_`` + tag + ``.md`` /
#: ``.json``) or a bare upper-case artifact stem carrying a tag
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


def _module_id(path: Path) -> str:
    base = PACKAGE if path.is_relative_to(PACKAGE) else REPO
    return str(path.relative_to(base))


@pytest.mark.parametrize("module", SCANNED, ids=_module_id)
def test_no_round_tags(module):
    found = round_tags(module.read_text())
    assert not found, (
        f"{module.relative_to(REPO)}:{found} tags a round or cites a round "
        "artifact; say what the code does instead"
    )

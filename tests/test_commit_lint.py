"""One commit protocol: under ``migbq_spark/`` only ``commit.py`` moves
files into place (``shutil.move``, ``os.replace``, ``os.rename`` or a
``Path.replace``/``Path.rename``).  A second copy of the move sequence
would be a second commit protocol, with its own crash windows.

``str.replace`` and ``F.replace`` take two or more arguments, and
``datetime.replace`` takes keywords, so a method call ``.replace(x)`` /
``.rename(x)`` with exactly one positional argument is taken as a path
rename."""

import ast
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "migbq_spark"
#: (module, function) allowed to rename besides ``commit.py``: none of
#: them publishes a staged write into a destination.
EXEMPT = {
    (PACKAGE / "session.py", "_ship_package"),  # the zip shipped to workers
    (PACKAGE / "streaming" / "structured.py", "_stage"),  # TTL fixture chunks
    (PACKAGE / "app" / "forwarder.py", "run"),  # full refresh renames dest aside
}
_QUALIFIED = {("shutil", "move"), ("os", "replace"), ("os", "rename"), ("os", "renames")}


def _is_move(node: ast.Call) -> bool:
    f = node.func
    if not isinstance(f, ast.Attribute):
        return False
    if isinstance(f.value, ast.Name) and (f.value.id, f.attr) in _QUALIFIED:
        return True
    return f.attr in ("replace", "rename") and len(node.args) == 1 and not node.keywords


def file_moves(source: str, exempt: set[str] = frozenset()) -> list[int]:
    """Line numbers of file moves outside the functions named in
    ``exempt``."""
    tree = ast.parse(source)
    skip = {
        id(n)
        for f in ast.walk(tree)
        if isinstance(f, ast.FunctionDef) and f.name in exempt
        for n in ast.walk(f)
    }
    return sorted(
        n.lineno
        for n in ast.walk(tree)
        if isinstance(n, ast.Call) and id(n) not in skip and _is_move(n)
    )


def test_detector_catches_moves():
    # lines 1-3 and 5 are the commit moves of the load-job sinks and of
    # the metadata store before the protocol was factored out
    src = (
        "shutil.move(os.path.join(staging, m.filename), os.path.join(dest, m.filename))\n"
        "shutil.move(src, os.path.join(epoch_dir, m.final_filename))\n"
        "(staging / name).replace(dest / name)\n"
        "s = name.replace('a', 'b')\n"
        "os.rename(a, b)\n"
        "t = v.replace(tzinfo=None)\n"
        "c = F.replace(F.col('x'), F.lit(' '), F.lit(''))\n"
        "def run():\n"
        "    dest.rename(old)\n"
        "    os.replace(tmp, path)\n"
    )
    assert file_moves(src, {"run"}) == [1, 2, 3, 5]
    assert file_moves(src) == [1, 2, 3, 5, 9, 10]


MODULES = sorted(p for p in PACKAGE.rglob("*.py") if p != PACKAGE / "commit.py")


@pytest.mark.parametrize("module", MODULES, ids=lambda p: str(p.relative_to(PACKAGE)))
def test_only_commit_moves_files(module):
    exempt = {f for m, f in EXEMPT if m == module}
    found = file_moves(module.read_text(), exempt)
    assert not found, (
        f"{module.relative_to(REPO)}:{found} moves a file; publish staged "
        "writes through migbq_spark.commit"
    )

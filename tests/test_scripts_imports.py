"""Every repo-internal import in ``scripts/*.py`` must resolve: deleting a
module must not leave a script behind that imports it."""

import ast
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
PACKAGES = ("scripts", "migbq_spark")


def _module_file(name: str) -> Path | None:
    base = REPO.joinpath(*name.split("."))
    for p in (base.with_suffix(".py"), base / "__init__.py"):
        if p.is_file():
            return p
    return None


def _top_level_names(path: Path) -> set[str]:
    names = set()
    for node in ast.parse(path.read_text()).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            names |= {t.id for t in targets if isinstance(t, ast.Name)}
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names |= {(a.asname or a.name).split(".")[0] for a in node.names}
    return names


def _internal_imports(path: Path):
    """(module, imported names or None) for each scripts.* / migbq_spark.*
    import in ``path``."""
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] in PACKAGES:
                    yield a.name, None
        elif isinstance(node, ast.ImportFrom) and node.level == 0:
            if node.module and node.module.split(".")[0] in PACKAGES:
                yield node.module, [a.name for a in node.names]


SCRIPTS = sorted((REPO / "scripts").glob("*.py"))


@pytest.mark.parametrize("script", SCRIPTS, ids=lambda p: p.name)
def test_script_imports_resolve(script):
    for module, names in _internal_imports(script):
        mod_file = _module_file(module)
        assert mod_file is not None, f"{script.name}: no module {module}"
        for name in names or ():
            assert (
                _module_file(f"{module}.{name}") is not None
                or name in _top_level_names(mod_file)
            ), f"{script.name}: {module} has no {name}"

"""The DuckDB-oracle module is test-side ground truth: production code must
not import it, or an oracle bug would hide itself by being the engine's own
behaviour. Checked statically over every module of the package."""

import ast
from pathlib import Path

import jsonschema_validator_spark

PKG_DIR = Path(jsonschema_validator_spark.__file__).parent
ORACLE = "jsonschema_validator_spark.oracle"


def _imported_names(path: Path) -> set[str]:
    """Absolute dotted names a module imports, relative imports resolved;
    ``from a import b`` yields both ``a`` and ``a.b``."""
    package = ["jsonschema_validator_spark", *path.parent.relative_to(PKG_DIR).parts]
    names = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = package[: len(package) - node.level + 1] if node.level else []
            mod = ".".join(base + ([node.module] if node.module else []))
            names.add(mod)
            names.update(f"{mod}.{a.name}" for a in node.names)
    return names


def test_no_production_module_imports_the_oracle():
    offenders = sorted(
        str(p.relative_to(PKG_DIR))
        for p in PKG_DIR.rglob("*.py")
        if p.name != "oracle.py"
        and any(n == ORACLE or n.startswith(ORACLE + ".") for n in _imported_names(p))
    )
    assert offenders == []

"""Iceberg metadata is read and manifests are decoded in one module:
``gobblin_spark/sinks/iceberg.py``. Every other module, the
gobblin_iceberg DSv2 faces included, plans through ``IcebergTable``,
so a fix to the metadata protocol or the scan planner lands once.
This guard fails when a second copy appears: a module other than
``sinks/iceberg.py`` that names the ``version-hint.text`` pointer, or
that calls ``avro_container.read_container`` on a manifest list or
manifest. Pure ``ast``: no Spark session."""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "gobblin_spark"
OWNER = PACKAGE / "sinks" / "iceberg.py"


def _strings_and_names(node: ast.AST) -> list[str]:
    out = []
    for n in ast.walk(node):
        if isinstance(n, ast.Constant) and isinstance(n.value, str):
            out.append(n.value)
        elif isinstance(n, ast.Name):
            out.append(n.id)
        elif isinstance(n, ast.Attribute):
            out.append(n.attr)
    return out


def _is_read_container(call: ast.Call) -> bool:
    f = call.func
    return ((isinstance(f, ast.Attribute) and f.attr == "read_container")
            or (isinstance(f, ast.Name) and f.id == "read_container"))


def test_iceberg_metadata_is_read_only_by_sinks_iceberg():
    second_copies = []
    for path in sorted(PACKAGE.rglob("*.py")):
        if path == OWNER:
            continue
        tree = ast.parse(path.read_text(), str(path))
        rel = path.relative_to(ROOT)
        for n in ast.walk(tree):
            if (isinstance(n, ast.Constant) and isinstance(n.value, str)
                    and "version-hint.text" in n.value):
                second_copies.append(
                    f"{rel}:{n.lineno} names version-hint.text")
            if isinstance(n, ast.Call) and _is_read_container(n):
                args = [t for a in n.args + [k.value for k in n.keywords]
                        for t in _strings_and_names(a)]
                if any("manifest" in t for t in args):
                    second_copies.append(
                        f"{rel}:{n.lineno} decodes an Iceberg manifest")
    assert not second_copies, (
        "Iceberg metadata read outside sinks/iceberg.py — plan through "
        "IcebergTable instead:\n" + "\n".join(second_copies))

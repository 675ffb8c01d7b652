"""Every function, class and method defined under ``gobblin_spark/`` is
named somewhere besides its own definition: in the package, the tests,
``scripts/``, ``perfbench/``, ``bench.py`` or ``__spark_entry__.py``.
A definition nothing names is an entry point with no caller and no
test; delete it, or give it a caller or a test. Pure ``ast`` and a
name-token count (strings and comments count, so registry lookups by
name do too): no Spark session."""

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "gobblin_spark"
SEARCHED = [PACKAGE, ROOT / "tests", ROOT / "scripts", ROOT / "perfbench",
            ROOT / "bench.py", ROOT / "__spark_entry__.py"]

# name -> why it may stay unreferenced; keep it empty
ALLOWLIST: dict[str, str] = {}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
_TOKEN = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _sources() -> dict[Path, str]:
    files = []
    for p in SEARCHED:
        files += sorted(p.rglob("*.py")) if p.is_dir() else [p]
    return {f: f.read_text() for f in files}


def _defined_names(text: str, path: Path) -> list[tuple[str, int]]:
    return [(n.name, n.lineno) for n in ast.walk(ast.parse(text, str(path)))
            if isinstance(n, _DEFS)]


def test_every_definition_is_named_elsewhere():
    sources = _sources()
    tokens = Counter(t for text in sources.values()
                     for t in _TOKEN.findall(text))
    dead = []
    for path, text in sources.items():
        if PACKAGE not in path.parents:
            continue
        for name, line in _defined_names(text, path):
            if name.startswith("__") and name.endswith("__"):
                continue
            if tokens[name] < 2 and name not in ALLOWLIST:
                dead.append(f"{path.relative_to(ROOT)}:{line} {name}")
    assert not dead, "definitions nothing names:\n" + "\n".join(dead)

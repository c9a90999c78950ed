"""Static guard against unreachable library code: every top-level function
of ``city2graph_spark/`` (``gate.py`` aside — its helpers build the frozen
oracle texts) must be named somewhere besides its own ``def`` line, in the
library, the tests, ``cli.py``, ``bench.py``, ``perfbench/`` or ``tools/``.
Pure AST and text — no Spark."""

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
LIB = ROOT / "city2graph_spark"
WORD = re.compile(r"\w+")


def test_every_library_function_is_reached():
    files = [*LIB.rglob("*.py"), *(ROOT / "tests").rglob("*.py"),
             ROOT / "cli.py", ROOT / "bench.py",
             *(ROOT / "perfbench").rglob("*.py"),
             *(ROOT / "tools").rglob("*.py")]
    words = Counter(w for f in files for w in WORD.findall(f.read_text()))
    unreached = []
    for path in sorted(LIB.rglob("*.py")):
        if path.name == "gate.py":
            continue
        lines = path.read_text().splitlines()
        for node in ast.parse("\n".join(lines)).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                on_def = WORD.findall(lines[node.lineno - 1]).count(node.name)
                if words[node.name] == on_def:
                    unreached.append(f"{path.relative_to(ROOT)}:{node.name}")
    assert not unreached, unreached

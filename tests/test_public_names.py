"""Each public top-level function of the engine is defined in one module:
a second definition under the same name is a second implementation of
one job. Parses the package with ``ast``; no Spark session."""

from __future__ import annotations

import ast
from collections import defaultdict
from pathlib import Path

PACKAGE = Path(__file__).resolve().parents[1] / "etdtransform_spark"


def test_no_public_function_defined_in_two_modules():
    defined = defaultdict(list)
    for path in sorted(PACKAGE.rglob("*.py")):
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) and (
                not node.name.startswith("_")
            ):
                defined[node.name].append(str(path.relative_to(PACKAGE)))
    twice = {name: mods for name, mods in defined.items() if len(mods) > 1}
    assert not twice, twice

"""Every script in ``tools/`` imports cleanly: a deleted or renamed
module it still imports fails here rather than on its next manual run.
Modules are loaded by file path under a non-``__main__`` name, so no
script's ``main`` runs."""

import importlib.util
import os

import pytest

TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
SCRIPTS = sorted(f for f in os.listdir(TOOLS) if f.endswith(".py"))


@pytest.mark.parametrize("script", SCRIPTS)
def test_tool_imports(script):
    spec = importlib.util.spec_from_file_location(
        f"tools_{script[:-3]}", os.path.join(TOOLS, script)
    )
    spec.loader.exec_module(importlib.util.module_from_spec(spec))

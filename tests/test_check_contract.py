"""``tools/check_contract.py`` puts its own checkout first on
``sys.path``: the benchmark loads the script before it imports the
engine, so a run from any checkout must import that checkout's engine."""

import os
import shutil
import subprocess
import sys

SCRIPT = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools", "check_contract.py")

_PROBE = """
import importlib.util, sys
spec = importlib.util.spec_from_file_location("check_contract", sys.argv[1])
spec.loader.exec_module(importlib.util.module_from_spec(spec))
import vivace_graph_v3_spark
print(vivace_graph_v3_spark.__file__)
"""


def test_check_contract_imports_its_own_checkout(tmp_path):
    # a second checkout: the script plus a stub engine package
    checkout = tmp_path / "checkout"
    (checkout / "tools").mkdir(parents=True)
    (checkout / "vivace_graph_v3_spark").mkdir()
    stub = checkout / "vivace_graph_v3_spark" / "__init__.py"
    stub.write_text("")
    script = checkout / "tools" / "check_contract.py"
    shutil.copy(SCRIPT, script)
    elsewhere = tmp_path / "elsewhere"
    elsewhere.mkdir()
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run([sys.executable, "-c", _PROBE, str(script)],
                         cwd=elsewhere, env=env, capture_output=True,
                         text=True, check=True)
    assert out.stdout.strip() == str(stub)

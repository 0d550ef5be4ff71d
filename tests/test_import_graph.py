"""The CDC package imports without pandas.

No module of the package (operators, functions, plans, streaming, sources,
engine, CLI) uses pandas, so importing any of them must not load it: a
pandas-backed module roughly doubles the time and resident memory of
importing the engine. The probe imports every submodule that
``pkgutil.walk_packages`` finds, not only the package ``__init__``s, so a
new module that pulls in pandas fails here too. The check runs in a fresh
interpreter with no Spark session, because a started SparkContext loads
pandas itself.
"""

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PROBE = """
import importlib
import pkgutil
import sys
import kafka_connect_plugins_spark as pkg
for info in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + "."):
    importlib.import_module(info.name)
loaded = sorted(m for m in sys.modules if m == "pandas" or m.startswith("pandas."))
assert not loaded, f"pandas loaded by the CDC package: {loaded[:5]}"
"""


def test_cdc_package_imports_without_pandas():
    out = subprocess.run(
        [sys.executable, "-c", PROBE],
        cwd=REPO,
        env={**os.environ, "PYTHONPATH": REPO},
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr[-2000:]

"""The CDC package imports without pandas.

Nothing on the CDC path (operators, functions, plans, streaming, sources,
engine, CLI) uses pandas, so an eager import of a pandas-backed module from
any package ``__init__`` is a regression: it roughly doubles the time and
resident memory of importing the engine. The check runs in a fresh
interpreter with no Spark session, because a started SparkContext loads
pandas itself.
"""

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PROBE = """
import sys
import kafka_connect_plugins_spark
import kafka_connect_plugins_spark.engine
import kafka_connect_plugins_spark.operators
import kafka_connect_plugins_spark.functions
import kafka_connect_plugins_spark.plans
import kafka_connect_plugins_spark.sources
import kafka_connect_plugins_spark.streaming
import kafka_connect_plugins_spark.main
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

"""Session settings that only show in a fresh interpreter."""

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PROBE = """
import sys
from fitness_nutrition_data_pipeline_spark.session import get_spark
from pyspark.sql import functions as F

spark = get_spark("session_probe")
F.upper(F.col("a")) + F.lit(1)
print(spark.conf.get("spark.python.sql.dataFrameDebugging.enabled"))
print("IPython" in sys.modules)
spark.stop()
"""


def test_functions_capture_no_call_site():
    """With DataFrame debugging on, PySpark wraps every
    ``pyspark.sql.functions`` call in a call-site capture whose first run
    imports IPython into the driver. get_spark turns it off."""
    out = subprocess.run(
        [sys.executable, "-c", _PROBE],
        cwd=REPO,
        env={**os.environ, "SPARK_GRAFT_CPUS": "1"},
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.split()[-2:] == ["false", "False"]

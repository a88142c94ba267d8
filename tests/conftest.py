from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[*]")
        .appName("pdf_ocr_api_spark-tests")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


@pytest.fixture
def checkpoint_dir(spark, tmp_path):
    """Give the shared session a checkpoint directory for one test, so
    ``stage.materialize`` takes its reliable path; clear it afterwards —
    a directory left set would turn every later cut in the suite
    reliable.  PySpark has no public way to unset the directory, hence
    the private setter: if a PySpark upgrade removes it, this fixture
    errors instead of leaking."""
    sc = spark.sparkContext
    path = tmp_path / "checkpoints"
    sc.setCheckpointDir(str(path))
    yield path
    getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.empty())
    assert sc.getCheckpointDir() is None


@pytest.fixture(scope="session")
def depara():
    from pdf_ocr_api_spark import fixtures

    return fixtures.runtime_depara()


def node_available() -> bool:
    import shutil

    return shutil.which("node") is not None


requires_node = pytest.mark.skipif(not node_available(), reason="node oracle unavailable")

# the read-only reference checkout: tools/ref_oracle.js runs its parsers,
# and a few tests read its sample files
REFERENCE_ROOT = Path("/root/reference")

requires_reference = pytest.mark.skipif(
    not REFERENCE_ROOT.is_dir(), reason=f"reference checkout {REFERENCE_ROOT} absent"
)


def run_ref_oracle(op: str, cases: list) -> list:
    """Run the read-only reference implementation via tools/ref_oracle.js."""
    import json
    import subprocess

    proc = subprocess.run(
        ["node", str(Path(__file__).resolve().parents[1] / "tools" / "ref_oracle.js")],
        input=json.dumps({"op": op, "cases": cases}),
        capture_output=True,
        text=True,
        check=True,
    )
    return json.loads(proc.stdout)["results"]

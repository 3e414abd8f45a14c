"""Python workers import the package because the session ships it."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_get_spark_workers_import_package_from_foreign_cwd(tmp_path):
    """A process started outside the repo, with the repo only on the
    driver's sys.path: a mapInPandas function that does a plain package
    import must run on the workers of a ``get_spark()`` session."""
    code = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from pyp_etl_pipeline_spark.session import get_spark

        spark = get_spark(cpus=1, driver_memory="1g")

        def probe(batches):
            from pyp_etl_pipeline_spark.multimodal import codecs

            for pdf in batches:
                yield pdf.assign(kind=codecs.sniff_kind(codecs.PNG_MAGIC))

        print(spark.range(1).mapInPandas(probe, "id long, kind string").collect()[0].kind)
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.split()[-1] == "png"


def test_package_zip_added_once_per_context(spark):
    """``get_spark`` ships the package; the driver-contract entry point
    (``__spark_entry__._ensure_workers_can_import``) on the same session
    must not add a second copy."""
    import __spark_entry__

    __spark_entry__._ensure_workers_can_import(spark)
    zips = [p for p in spark.sparkContext._python_includes if p.startswith("pyp_etl_pipeline_spark_pkg_")]
    assert len(zips) == 1, spark.sparkContext._python_includes

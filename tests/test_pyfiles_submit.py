"""The literal north-rule deployment shape: ``spark-submit --py-files``.

Two guarantees:

1. ``tools/make_pyfiles.py`` builds a deterministic, complete artifact —
   byte-identical across builds (content-addressable in a deploy
   pipeline), containing every package source and nothing else.
2. The artifact is SELF-CONTAINED: a real ``spark-submit --master
   local-cluster[1,2,1024] --py-files ctre.zip driver.py`` run — separate
   executor JVM, executor-side Python workers, cwd OUTSIDE the repo, repo
   stripped from PYTHONPATH — produces the exact flagship triples
   (count + order-insensitive value checksum) that the in-process session
   produces. This is the honest stand-in for the north rule's
   "run via spark-submit --py-files on multi-executor clusters"; the
   scaling harness (bench.py _level_session) ships code through the same
   mechanism (SparkContext.addPyFile of this zip).
"""

from __future__ import annotations

import inspect
import os
import subprocess
import sys
import zipfile
from pathlib import Path

from tests.conftest import REPO, SF_SMOKE

from tools.make_pyfiles import PACKAGE, build_pyfiles_zip, package_sources


def triple_checksum(df):
    """(row count, order-insensitive value checksum) of a triples frame.

    md5 is the one hash both engines and both processes compute
    identically; summing a 48-bit prefix per row is order-insensitive and
    cannot overflow decimal(38,0) below ~10^23 rows.
    """
    from pyspark.sql import functions as F

    cols = ["doc_id", "rel_id", "pred", "subj_id", "obj_id", "score"]
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws("|", *[F.col(c).cast("string") for c in cols])),
            1, 12,
        ),
        16, 10,
    ).cast("decimal(38,0)")
    row = df.select(
        F.count(F.lit(1)).alias("n"), F.sum(h).alias("s")
    ).collect()[0]
    return int(row["n"]), int(row["s"])


def test_pyfiles_zip_deterministic_and_complete(tmp_path):
    z1 = build_pyfiles_zip(tmp_path / "a.zip")
    z2 = build_pyfiles_zip(tmp_path / "b.zip")
    assert z1.read_bytes() == z2.read_bytes(), "build is not reproducible"

    names = set(zipfile.ZipFile(z1).namelist())
    expected = {
        p.relative_to(REPO).as_posix() for p in package_sources(REPO)
    }
    assert names == expected
    # every source present, rooted at the package (zip-importable), and
    # nothing stowed away (no tests, no __pycache__, no data)
    assert f"{PACKAGE}/__init__.py" in names
    assert f"{PACKAGE}/operators/scoring.py" in names
    assert all(n.startswith(f"{PACKAGE}/") and n.endswith(".py")
               for n in names)


_DRIVER_TEMPLATE = """\
import os
from pyspark.sql import SparkSession

spark = SparkSession.builder.appName("ctre-pyfiles-smoke").getOrCreate()
# imports AFTER the session exists: they must resolve from the shipped
# zip (driver side) and, inside the mapInPandas stages, from the
# executor Python workers' copy of the same zip
from clinicaltransformerrelationextraction_spark.config import (
    PipelineConfig,
)
from clinicaltransformerrelationextraction_spark.plans.pipeline import (
    load_documents, run_pipeline,
)

{checksum_src}

res = run_pipeline(
    load_documents(spark, os.environ["CTRE_SF_DIR"]), PipelineConfig()
)
n, s = triple_checksum(res.triples)
print("TRIPLES=%d CHECKSUM=%d" % (n, s))
spark.stop()
"""


def test_spark_submit_pyfiles_local_cluster(tmp_path, spark):
    """Real spark-submit, real executor JVM, zip-only code distribution."""
    import pyspark

    from clinicaltransformerrelationextraction_spark.plans.pipeline import (
        load_documents, run_pipeline,
    )

    zip_path = build_pyfiles_zip(tmp_path / "ctre.zip")
    driver = tmp_path / "driver.py"
    driver.write_text(
        _DRIVER_TEMPLATE.format(checksum_src=inspect.getsource(
            triple_checksum))
    )

    pyspark_dir = os.path.dirname(pyspark.__file__)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(
        PYSPARK_PYTHON=sys.executable,
        SPARK_HOME=pyspark_dir,
        CTRE_SF_DIR=SF_SMOKE,
    )
    proc = subprocess.run(
        [
            os.path.join(pyspark_dir, "bin", "spark-submit"),
            "--master", "local-cluster[1,2,1024]",
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.sql.shuffle.partitions=8",
            "--py-files", str(zip_path),
            str(driver.name),
        ],
        cwd=tmp_path,          # NOT the repo: imports must hit the zip
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    line = next(
        ln for ln in proc.stdout.splitlines() if ln.startswith("TRIPLES=")
    )
    got_n = int(line.split()[0].split("=")[1])
    got_sum = int(line.split()[1].split("=")[1])

    from clinicaltransformerrelationextraction_spark.config import (
        PipelineConfig,
    )

    exp_n, exp_sum = triple_checksum(
        run_pipeline(load_documents(spark, SF_SMOKE),
                     PipelineConfig()).triples
    )
    assert (got_n, got_sum) == (exp_n, exp_sum)
    assert got_n > 0


def test_failed_build_leaves_no_tmp_orphan(tmp_path, monkeypatch):
    import tools.make_pyfiles as mp

    def boom(repo_root):
        raise RuntimeError("simulated source-read failure")

    monkeypatch.setattr(mp, "package_sources", boom)
    import pytest

    with pytest.raises(RuntimeError, match="simulated"):
        mp.build_pyfiles_zip(tmp_path / "ctre.zip")
    assert list(tmp_path.iterdir()) == []  # no .tmp litter, no partial zip


def test_resolve_master():
    """The session-factory contract that makes the CLI deployable on a
    real cluster: under spark-submit (gateway env present) NO master is
    defaulted in — a builder .master() call would override --master and
    run the 'cluster' job local on the driver host. Unit-pinned here
    because the end-to-end launcher test below runs single-machine and
    could not tell the difference."""
    from clinicaltransformerrelationextraction_spark.session import (
        resolve_master,
    )

    # explicit always wins
    assert resolve_master("local[2]", {"PYSPARK_GATEWAY_PORT": "1"}) \
        == "local[2]"
    # under spark-submit: defer to the submit-provided --master
    assert resolve_master(None, {"PYSPARK_GATEWAY_PORT": "1"}) is None
    # plain in-process: local default, honoring SPARK_GRAFT_CPUS
    assert resolve_master(None, {}) == "local[*]"
    assert resolve_master(None, {"SPARK_GRAFT_CPUS": "8"}) == "local[8]"


def test_spark_submit_cli_launcher(tmp_path, spark):
    """The README's documented deployment command, verbatim shape:
    ``spark-submit --master ... --py-files dist/ctre.zip
    tools/ctre_submit.py predict ...``. cwd is outside the repo and
    PYTHONPATH is stripped, so the package resolves only from the
    shipped zip (the master-resolution contract itself is unit-pinned by
    test_resolve_master above)."""
    import json as _json

    import pyspark

    from clinicaltransformerrelationextraction_spark.config import (
        PipelineConfig,
    )
    from clinicaltransformerrelationextraction_spark.plans.ledger import (
        LedgerRun,
    )
    from clinicaltransformerrelationextraction_spark.plans.pipeline import (
        load_documents, run_pipeline,
    )

    zip_path = build_pyfiles_zip(tmp_path / "ctre.zip")
    out_dir = tmp_path / "out"
    pyspark_dir = os.path.dirname(pyspark.__file__)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(PYSPARK_PYTHON=sys.executable, SPARK_HOME=pyspark_dir)
    proc = subprocess.run(
        [
            os.path.join(pyspark_dir, "bin", "spark-submit"),
            "--master", "local[2]",
            "--conf", "spark.ui.enabled=false",
            "--py-files", str(zip_path),
            str(REPO / "tools" / "ctre_submit.py"),
            "predict",
            "--input", f"{SF_SMOKE}/documents.parquet",
            "--output", str(out_dir),
            "--scorer", "stub",
            "--n-buckets", "1",
        ],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = _json.loads(
        [ln for ln in proc.stdout.splitlines() if ln.startswith("{")][-1]
    )
    exp_n = run_pipeline(
        load_documents(spark, SF_SMOKE), PipelineConfig()
    ).triples.count()
    assert result == {"n_triples": exp_n}
    # the documented artifacts landed where the CLI says they do
    assert LedgerRun(out_dir=str(out_dir)).triples(spark).count() == exp_n
    assert spark.read.parquet(str(out_dir / "brat")).count() > 0

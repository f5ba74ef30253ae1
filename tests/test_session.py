"""session.py: defaults that depend on the machine, and the engine's
configuration surface."""

from __future__ import annotations

import os
import re
import subprocess
import sys
from unittest import mock

import pytest

from docling_api_spark import session

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

GIB = 2**30


@pytest.mark.parametrize(
    ("phys_gib", "expected"),
    [(15.6, "7g"), (16, "8g"), (48, "24g"), (512, "24g"), (1, "1g"), (0.5, "1g")],
)
def test_driver_memory_is_half_physical_capped(monkeypatch, phys_gib, expected):
    page = 4096
    pages = int(phys_gib * GIB) // page
    sysconf = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": pages}
    monkeypatch.setattr(os, "sysconf", sysconf.__getitem__)
    assert session.default_driver_memory() == expected


def test_driver_memory_without_sysconf_keeps_the_cap(monkeypatch):
    def unsupported(name):
        raise ValueError(name)

    monkeypatch.setattr(os, "sysconf", unsupported)
    assert session.default_driver_memory() == "24g"


def test_driver_memory_fits_this_machine():
    gib = int(session.default_driver_memory()[:-1])
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert 1 <= gib <= 24
    assert gib * GIB <= max(phys, GIB)


def _engine_sources():
    yield os.path.join(REPO_DIR, "__spark_entry__.py")
    for root, _, files in os.walk(os.path.join(REPO_DIR, "docling_api_spark")):
        yield from (os.path.join(root, f) for f in files if f.endswith(".py"))


def test_engine_reads_only_deployment_env_vars():
    """Environment variables carry deployment settings only (core count,
    master URL, driver heap); tuning is declared as module constants."""
    names = set()
    for path in _engine_sources():
        with open(path, encoding="utf-8") as f:
            names.update(re.findall(r"SPARK_GRAFT_\w*", f.read()))
    assert names == {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_MASTER", "SPARK_GRAFT_DRIVER_MEM"}


def test_prepare_sets_the_runtime_confs_get_spark_sets(spark):
    """A session the driver builds has none of the engine's confs;
    `_prepare` must bring every one of them to the value `get_spark`
    builds its own session with."""
    import __spark_entry__ as entry

    confs = session.runtime_confs()
    # a new session starts from the SparkContext conf, i.e. from the
    # conftest's get_spark(shuffle_partitions=8) call
    built = spark.newSession()
    assert {k: built.conf.get(k) for k in confs} == session.runtime_confs(
        shuffle_partitions=8
    )

    plain = spark.newSession()
    for k in confs:
        plain.conf.unset(k)
    assert plain.conf.get(session.NANOS_AS_LONG) == "false"
    with mock.patch.object(session, "_ship_package"):
        entry._prepare(plain)
    assert {k: plain.conf.get(k) for k in confs} == confs


def test_queries_leave_a_configured_session_alone(spark, sf_dir):
    """The driver contract configures a session once: running a query
    through `queries()` on a session `get_spark` built keeps that
    session's shuffle width, whatever SPARK_GRAFT_CPUS says."""
    import __spark_entry__ as entry

    key = "spark.sql.shuffle.partitions"
    assert spark.conf.get(key) == "8"
    assert entry.queries()["q01_pricing_summary"](spark, sf_dir).collect()
    assert spark.conf.get(key) == "8"


def test_get_spark_ships_the_package(tmp_path):
    """A `get_spark` session runs mapInPandas work from any working
    directory: the package reaches the Python workers without PYTHONPATH
    and without the process starting in the repo root."""
    script = tmp_path / "convert_one.py"
    script.write_text(
        "import sys\n"
        f"sys.path.insert(0, {REPO_DIR!r})\n"
        "from docling_api_spark.pipeline.convert import convert_documents\n"
        "from docling_api_spark.session import get_spark\n"
        "spark = get_spark(master='local[1]', shuffle_partitions=1)\n"
        "docs = spark.createDataFrame(\n"
        "    [('/in/a.md', bytearray(b'# Title\\n\\nhello'))],\n"
        "    'path string, content binary',\n"
        ")\n"
        "row = convert_documents(docs).collect()[0]\n"
        "print('ERROR' if row['error'] else 'MARKDOWN', row['markdown'])\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_GRAFT_DRIVER_MEM="1g",
    )
    out = subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "MARKDOWN" in out.stdout and "hello" in out.stdout, out.stdout


def test_package_zip_dir_is_removed_at_exit(tmp_path):
    """The package zip shipped per SparkContext lives in a temp directory
    that is gone once the process exits."""
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    script = tmp_path / "convert_and_exit.py"
    script.write_text(
        "import glob, os, sys, tempfile\n"
        f"sys.path.insert(0, {REPO_DIR!r})\n"
        "from docling_api_spark.pipeline.convert import convert_documents\n"
        "from docling_api_spark.session import get_spark\n"
        "spark = get_spark(master='local[1]', shuffle_partitions=1)\n"
        "docs = spark.createDataFrame(\n"
        "    [('/in/a.md', bytearray(b'# Title\\n\\nhello'))],\n"
        "    'path string, content binary',\n"
        ")\n"
        "assert not convert_documents(docs).collect()[0]['error']\n"
        "print(len(glob.glob(os.path.join(tempfile.gettempdir(),\n"
        "                                 'docling_api_spark_pkg_*'))))\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(
        TMPDIR=str(tmp),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_GRAFT_DRIVER_MEM="1g",
    )
    out = subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.split()[-1] == "1"  # the zip existed while Spark ran
    assert not list(tmp.glob("docling_api_spark_pkg_*"))

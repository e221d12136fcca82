"""Python workers: the worker daemon of ``get_spark`` sessions, and
``local_frame``, which builds driver-side rows without any.

- Daemon workers carry the stat-keyed ``zipimporter.invalidate_caches``.
- The patch re-reads an archive only after it changes, and is not
  installed on Python 3.13 or later.
- Workers import the daemon module whatever the driver's working
  directory is.
- ``local_frame`` gives the list path's schema and rows for every type the
  operators build frames of, plans a local scan, and raises where Arrow
  could not hold a value or type exactly.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport
from decimal import Decimal

import pytest
from pyspark.sql import types as T

from concept_multi_db_query_engine_spark import pyworker
from concept_multi_db_query_engine_spark.operators.multimodal import (
    MEDIA_SCHEMA,
)
from concept_multi_db_query_engine_spark.session import (
    PACKAGE_ROOT,
    local_frame,
)
from tests import worker_probe


def test_map_in_pandas_task_runs_with_the_patch(spark):
    rows = (
        spark.range(8).repartition(2)
        .mapInPandas(worker_probe.lazy_invalidation,
                     "lazy_zip_invalidation boolean")
        .collect()
    )
    assert len(rows) == 2
    assert all(r["lazy_zip_invalidation"] for r in rows)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="3.13 re-reads lazily by itself")
def test_archive_is_re_read_only_after_it_changes(tmp_path, monkeypatch):
    path = str(tmp_path / "lib.zip")
    _write_zip(path, ["alpha"])
    reads = []
    read_directory = zipimport._read_directory

    def counted(archive):
        reads.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)

    class Importer(zipimport.zipimporter):
        pass

    assert pyworker.install_lazy_zip_invalidation(Importer)
    assert not pyworker.install_lazy_zip_invalidation(Importer)  # once
    imp = Importer(path)
    reads.clear()
    imp.invalidate_caches()  # the first call records the archive's stat
    assert len(reads) == 1
    for _ in range(3):
        imp.invalidate_caches()
    assert len(reads) == 1

    _write_zip(path, ["alpha", "beta"])  # new size
    assert imp.find_spec("beta") is None  # not read yet
    imp.invalidate_caches()
    assert len(reads) == 2
    assert imp.find_spec("beta") is not None
    imp.invalidate_caches()
    assert len(reads) == 2

    st = os.stat(path)  # same size, new mtime
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    imp.invalidate_caches()
    assert len(reads) == 3

    # installing on a subclass left the stock class alone
    assert not pyworker.lazy_invalidation_installed()


def test_no_patch_from_python_3_13(monkeypatch):
    class Importer(zipimport.zipimporter):
        pass

    stock = Importer.invalidate_caches
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    assert not pyworker.install_lazy_zip_invalidation(Importer)
    assert Importer.invalidate_caches is stock


def test_python_udf_runs_with_driver_cwd_outside_the_repository(tmp_path):
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {PACKAGE_ROOT!r})
        from pyspark.sql import functions as F
        from concept_multi_db_query_engine_spark.session import get_spark

        spark = get_spark(cpus=1, shuffle_partitions=1)
        plus_one = F.udf(lambda x: x + 1, "long")
        print("ROWS", sorted(r[0] for r in
                             spark.range(3).select(plus_one("id")).collect()))
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    assert "ROWS [1, 2, 3]" in out.stdout


# the column types of the operators' driver-built frames, NULLs included
_OFFSETS = T.StructType([
    T.StructField("__pid", T.IntegerType()),
    T.StructField("__off_n", T.LongType()),
    T.StructField("__off_s", T.DecimalType(38, 8)),
    T.StructField("__next_part_v", T.DoubleType()),
])
_SAME_AS_LIST_PATH = [
    ([(0, "f0"), (1, None)], "__fi INT, feature STRING"),
    ([(0, bytearray(b"\x89PNG"), 8, 6, "image/png"),
      (1, bytes(300), 0, 0, "audio/wav")], MEDIA_SCHEMA),
    ([(0, -2**63, -0.0), (1, 2**63 - 1, 1e308)],
     "h int, forecast_micro long, forecast double"),
    ([(0, 0, Decimal(0), 2.5),
      (1, 7, Decimal("123456789012345678901234567890.12345678"), None)],
     _OFFSETS),
    ([("a", 0, 12, 1)], "src string, n_positions long, mx long, sites long"),
    ([], "src string, passage string, dup_len_words long"),
]


@pytest.mark.parametrize("rows, schema", _SAME_AS_LIST_PATH)
def test_local_frame_matches_the_list_path(spark, rows, schema):
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema  # names, types and nullability
    assert got.collect() == want.collect()
    assert "LocalTableScan" in \
        got._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("schema", [
    "t timestamp", "f float", "a array<int>", "m map<string, int>",
    "d date",
])
def test_local_frame_rejects_types_without_an_exact_arrow_form(
        spark, schema):
    with pytest.raises(TypeError, match="no exact Arrow form"):
        local_frame(spark, [], schema)


@pytest.mark.parametrize("row, schema", [
    ((2**31,), "i int"),                  # out of range
    ((1.5,), "n long"),                   # a float in an integer column
    (("7",), "n long"),
    ((3,), "x double"),                   # an int in a double column
    ((Decimal("1.234"),), "d decimal(10, 2)"),  # digits beyond the scale
    ((None,), T.StructType([T.StructField("n", T.LongType(), False)])),
    ((1, 2), "n long"),                   # row longer than the schema
])
def test_local_frame_raises_instead_of_converting(spark, row, schema):
    with pytest.raises(Exception):
        local_frame(spark, [row], schema)

"""Engine session defaults (session.get_spark)."""

from __future__ import annotations

import pytest
from pyspark.errors import AnalysisException


def test_call_site_capture_off_errors_keep_their_class(spark):
    """get_spark turns off PySpark's per-Column call-site capture; a
    bad column reference still fails analysis with its error class."""
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == (
        "false"
    )
    assert not is_debugging_enabled()
    with pytest.raises(AnalysisException) as err:
        spark.range(3).select("no_such_column")
    assert err.value.getCondition().startswith("UNRESOLVED_COLUMN")
    assert "no_such_column" in str(err.value)


def test_default_heap_fits_the_host():
    """The default JVM heap is half the host's physical memory (at
    most 32g): a heap above the host lets the kernel kill the JVM."""
    import os

    from component_delta_lake_writer_spark.session import _host_memory

    host = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    heap = _host_memory()
    assert heap.endswith("g")
    assert 1 <= int(heap[:-1]) <= 32
    assert int(heap[:-1]) << 30 <= max(host // 2, 1 << 30)

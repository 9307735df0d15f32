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

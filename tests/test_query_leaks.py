"""No gate query leaves anything behind.

Every ``queries()`` entry is built and collected at sf0.001 in the test
session, then its result is dropped. Around each one the session must hold
the same state as before: as many persistent RDDs (persisted frames and
local checkpoints), as many cache-manager entries, the same catalog tables
(apart from the two ``rum_spans`` stand-in views the RUM builders register)
and the same entries in the Python temp directory.
"""

import gc
import os
import tempfile

from conftest import SF_DIR

# the RUM gate entries register these two views as documented stand-ins for
# the reference's session tables; they are re-registered on every run
_STAND_INS = {"rum_spans", "rum_recordings"}


def _census(spark, tmp):
    sc = spark.sparkContext
    return {
        "persistent_rdds": sc._jsc.getPersistentRDDs().size(),
        "cached_frames": spark._jsparkSession.sharedState()
        .cacheManager()
        .cachedData()
        .length(),
        "tables": sorted(
            t.name for t in spark.catalog.listTables() if t.name not in _STAND_INS
        ),
        "temp_entries": sorted(os.listdir(tmp)),
    }


def test_gate_queries_leave_nothing_behind(spark, tmp_path, monkeypatch):
    import __spark_entry__ as e

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    leaks = {}
    for name, fn in sorted(e.queries().items()):
        before = _census(spark, tmp_path)
        fn(spark, SF_DIR).collect()
        after = _census(spark, tmp_path)
        if after != before:
            leaks[name] = {k: (before[k], v) for k, v in after.items() if v != before[k]}
    gc.collect()
    assert not leaks, "\n".join(f"{name}: {diff}" for name, diff in leaks.items())

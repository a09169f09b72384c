"""Two-process reader/writer cache coherence (VERDICT r9 task 6).

The flock in storage/writer.py enforces a single WRITER process per
store root, but says nothing about a READER process's freshness: its
StoreEngine memoizes query contexts (whose DataFrames pin the parquet
file listing of their first action) and Spark caches file listings per
path. The documented contract ("Reader freshness", storage/writer.py):
a stale reader is only BEHIND, never inconsistent, and catches up on
its own — the foreign write bumps the store's mutation seq, and the
engine's next context access re-lists files. This test runs a REAL
second process: the parent seeds a store and hands off the writer
flock, a child process appends a second trace with its own
SparkSession, and the parent's engine must see the child's spans with
no refresh call — including through the ingest-maintained ancestor
index.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from pyspark.sql import functions as F

import pytest

# soak/crash integration probes: slow tier (see pytest.ini)
pytestmark = pytest.mark.slow

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CHILD = """
import json, sys
sys.path.insert(0, %r)
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[4]")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.ui.enabled", "false").getOrCreate())
from gigapipe_spark.sources import ingest
from gigapipe_spark.storage.writer import Catalog, spans_fanout

base = {"timestamp": 1_700_000_000_000_000, "duration": 10,
        "localEndpoint": {"serviceName": "w"}}
payload = json.dumps([
    {"id": "d0", "traceId": "bb02", "name": "root", **base},
    {"id": "d1", "traceId": "bb02", "parentId": "d0", "name": "kid", **base},
])
batch = ingest.zipkin_spans(
    spark.createDataFrame([(payload,)], "payload string")
)
spans_fanout(batch, Catalog(sys.argv[1]))
print("CHILD_WROTE")
spark.stop()
""" % (REPO,)


def test_two_process_refresh_sees_foreign_appends(spark, tmp_path):
    from gigapipe_spark.sources import ingest
    from gigapipe_spark.storage import writer
    from gigapipe_spark.storage.query import StoreEngine
    from gigapipe_spark.storage.writer import Catalog, spans_fanout

    root = str(tmp_path / "store")
    base = {"timestamp": 1_700_000_000_000_000, "duration": 10,
            "localEndpoint": {"serviceName": "w"}}
    payload = json.dumps([
        {"id": "a0", "traceId": "aa01", "name": "root", **base},
        {"id": "b0", "traceId": "aa01", "parentId": "a0", "name": "kid",
         **base},
    ])
    cat = Catalog(root)
    spans_fanout(
        ingest.zipkin_spans(
            spark.createDataFrame([(payload,)], "payload string")
        ),
        cat,
    )
    eng = StoreEngine(spark, root, catalog=cat)
    # warm the memoized context: the file listing snapshots HERE
    assert eng.tracectx().spans().count() == 2
    assert eng.tracectx().ancestors().count() == 1

    # hand the writer flock to the child process (graceful handover —
    # the parent is a pure reader from now on)
    writer.release_store_process_lock(root)
    res = subprocess.run(
        [sys.executable, "-c", _CHILD, root],
        capture_output=True, text=True, cwd=REPO, timeout=600,
    )
    assert "CHILD_WROTE" in res.stdout, res.stderr[-2000:]

    # no refresh call: the child's commit moved the mutation seq, so
    # the next context access re-lists — the child's trace is visible,
    # including via the stored ancestor index
    spans = eng.tracectx().spans()
    assert spans.count() == 4
    tid = "bb02".rjust(32, "0")
    assert spans.filter(F.col("trace_id") == tid).count() == 2
    anc = eng.tracectx().ancestors()
    pairs = {
        (r["span_id"], r["anc_id"])
        for r in anc.filter(F.col("trace_id") == tid).collect()
    }
    sid = lambda s: s.rjust(16, "0")
    assert pairs == {(sid("d1"), sid("d0"))}

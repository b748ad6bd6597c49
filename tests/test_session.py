"""``local_frame``: driver-built rows reach Spark as Arrow.

Every small table the engine builds on the driver (label maps, the
collections catalog, phrase sets, ADC lookup tables, quantizer and stats
rows, polled RRD rows, empty maintainer state) goes through
:func:`nntsc_spark.session.local_frame`.  These tests pin that it returns
what ``createDataFrame(rows, schema)`` returns, for every schema its
callers pass, and that no job reading it runs a Python worker.
"""

from __future__ import annotations

import pytest

from nntsc_spark.catalog import list_collections
from nntsc_spark.operators.labels import build_label_map
from nntsc_spark.session import local_frame
from nntsc_spark.sources.rrd import RAW_SCHEMA
from nntsc_spark.streaming.canonical import COUNTS_SCHEMA, PAIRS_SCHEMA
from nntsc_spark.streaming.dedup import IncrementalDeduper, IncrementalSpanIndex

# (schema, rows) for each schema a caller passes; every nullable cell
# appears as None in some row
CASES = [
    ("stream_id long, nntsclabel string", [(1, "a"), (2, None)]),
    (
        "id long, module string, modsubtype string, streamtable string, "
        "datatable string",
        [(1, "amp", "icmp", "streams_amp_icmp", "data_amp_icmp"),
         (2, "rrd", None, None, "data_rrd_smokeping")],
    ),
    ("phrase string", [("lorem ipsum",), ("",), (None,)]),
    (
        "query_id long, cell int, luts array<array<double>>",
        [(7, 3, [[0.5, 1.25], [None, 2.0]]), (8, 1, [[], None]),
         (9, None, None)],
    ),
    (
        RAW_SCHEMA,
        [("f.rrd", "src", "dst", "ipv4", 300, 1008, 1000, 0.0, 12.5,
          [12.0, None, 13.0]),
         ("f.rrd", "src", "dst", "ipv4", 300, 1008, 1300, None, None, None)],
    ),
    (IncrementalDeduper._SCHEMAS["bands"], [(1, 0, "ab12"), (2, None, None)]),
    (IncrementalDeduper._SCHEMAS["sigs"],
     [tuple(range(9)), (1,) + (None,) * 8]),
    (IncrementalSpanIndex._WIN_SCHEMA, [(-5, 2**62), (None, 0)]),
    (IncrementalSpanIndex._SPANS_SCHEMA, [(1, 0, 40, 3), (2, None, None, 1)]),
    (COUNTS_SCHEMA, [("tok", 4), (None, None)]),
    (PAIRS_SCHEMA, [("a", "b", 1), ("c", None, None)]),
    (
        "kind string, batch_id long, n long, mean_best_cosine double",
        [("build", 0, 16, 0.875), ("append", 1, 0, None)],
    ),
    (
        "kind string, batch_id long, n long, mean_resid_norm double",
        [("build", 0, 16, 0.25)],
    ),
    ("cell_id int, centroid array<double>", [(0, [1.0, -0.5]), (3, None)]),
    ("mi int, code int, center array<double>", [(0, 255, [0.0, None])]),
    ("fp string", [("9f2c",)]),
]


@pytest.mark.parametrize("schema,rows", CASES, ids=[c[0][:40] for c in CASES])
def test_local_frame_matches_list_create(spark, schema, rows):
    want = spark.createDataFrame(rows, schema)
    got = local_frame(spark, rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    empty = local_frame(spark, [], schema)
    assert empty.schema == want.schema
    assert empty.collect() == []


def test_local_frame_rejects_mistyped_rows(spark):
    for rows in ([("x", "a")], [(True, "a")], [(1,)], [(1, "a", "extra")]):
        with pytest.raises((TypeError, ValueError)):
            spark.createDataFrame(rows, "stream_id long, nntsclabel string")
        with pytest.raises((TypeError, ValueError)):
            local_frame(spark, rows, "stream_id long, nntsclabel string")


def test_local_frames_run_no_python_worker(spark):
    # createDataFrame(list) reads through a PythonRDD, which costs every
    # job one Python-worker task per slice
    frames = {
        "build_label_map": build_label_map(spark, {"a": [1, 2], "b": [2, 3]}),
        "list_collections": list_collections(spark),
        "local_frame": local_frame(
            spark, [(1, [0.5])], "cell_id int, centroid array<double>"
        ),
    }
    for name, df in frames.items():
        lineage = df._jdf.queryExecution().toRdd().toDebugString()
        assert "PythonRDD" not in lineage, (name, lineage)
        assert df.count() > 0

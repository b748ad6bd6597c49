"""Every checker accepts a correct response and rejects a corrupted one."""

from collections import Counter

from nntsc_spark.export.protocol import Msg

from perfbench import checks

# -- registry: oracle digest ------------------------------------------------------

COLS = ["label", "n", "avg"]
ROWS = [("a", 3, 1.25), ("b", 1, None), ("c", 2, 60.8012)]


def test_digest_ignores_row_and_column_order():
    shuffled_cols = ["avg", "label", "n"]
    shuffled_rows = [(r[2], r[0], r[1]) for r in reversed(ROWS)]
    assert checks.digest(COLS, ROWS) == checks.digest(shuffled_cols, shuffled_rows)


def test_digest_treats_nan_as_null_and_integral_floats_as_ints():
    a = checks.digest(["x", "y"], [(float("nan"), 3.0)])
    b = checks.digest(["x", "y"], [(None, 3)])
    assert a == b


def test_registry_check_rejects_corrupted_result():
    want = checks.digest(COLS, ROWS)
    assert checks.check_digest("q", checks.digest(COLS, ROWS), want) == []
    bad_value = [("a", 3, 1.25), ("b", 1, None), ("c", 2, 61.0)]
    assert checks.check_digest("q", checks.digest(COLS, bad_value), want)
    dropped = ROWS[:2]
    errs = checks.check_digest("q", checks.digest(COLS, dropped), want)
    assert errs and "rows" in errs[0]


def test_tolerant_fallback_accepts_only_rounding_at_a_tie():
    tie = [("a", 3, 1.25), ("b", 1, None), ("c", 2, 60.8013)]
    assert checks.close_rows(COLS, tie, COLS, ROWS)
    wrong = [("a", 3, 1.25), ("b", 1, None), ("c", 2, 60.9)]
    assert not checks.close_rows(COLS, wrong, COLS, ROWS)
    got, want = checks.digest(COLS, tie), checks.digest(COLS, ROWS)
    assert checks.check_digest("q", got, want, lambda: True) == []
    assert checks.check_digest("q", got, want, lambda: False)


def test_tolerant_fallback_pairs_rows_by_their_exact_columns():
    cols = ["binstart", "label", "avg"]
    a = [(1704153600, "g", 1.23414), (1704157200, "g", 1.23386)]
    b = [(1704157200, "g", 1.233860001), (1704153600, "g", 1.234140001)]
    assert checks.close_rows(cols, a, cols, b)
    # an integer column is compared exactly, not within the tolerance
    shifted = [(1704153601, "g", 1.23414), (1704157200, "g", 1.23386)]
    assert not checks.close_rows(cols, shifted, cols, a)


# -- export replies -----------------------------------------------------------------

AGG_REQ = {"collection": "events", "labels": {"g0": [1], "g1": [2]}}
AGG_ROWS = [
    {"nntsclabel": "g0", "binstart": 0, "timestamp": 10, "value_avg": 1.5},
    {"nntsclabel": "g1", "binstart": 0, "timestamp": 20, "value_avg": 2.5},
]


def agg_frames(rows=AGG_ROWS):
    return [
        (Msg.HISTORY, {"label": "g0", "history": [r for r in rows if r["nntsclabel"] == "g0"],
                       "more": False}),
        (Msg.HISTORY, {"label": "g1", "history": [r for r in rows if r["nntsclabel"] == "g1"],
                       "more": False}),
        (Msg.HISTORY_DONE, {"label": "g0", "last_ts": 10}),
        (Msg.HISTORY_DONE, {"label": "g1", "last_ts": 20}),
    ]


def test_export_check_accepts_a_correct_reply():
    assert checks.check_export("agg300", AGG_REQ, agg_frames(), AGG_ROWS) == []


def test_export_check_rejects_changed_rows():
    bad = [dict(AGG_ROWS[0], value_avg=9.0), AGG_ROWS[1]]
    assert checks.check_export("agg300", AGG_REQ, agg_frames(bad), AGG_ROWS)
    assert checks.check_export("agg300", AGG_REQ, agg_frames(AGG_ROWS[:1]), AGG_ROWS)


def test_export_check_rejects_missing_history_done():
    frames = agg_frames()[:-1]
    errs = checks.check_export("sub_wide", AGG_REQ, frames, AGG_ROWS)
    assert any("HISTORY_DONE" in e for e in errs)


def test_export_check_rejects_an_error_frame():
    frames = agg_frames() + [(Msg.ERROR, {"error": "boom"})]
    errs = checks.check_export("agg300", AGG_REQ, frames, AGG_ROWS)
    assert any("ERROR" in e for e in errs)


def test_export_check_rejects_unterminated_matrix_and_streams():
    rows = [{"nntsclabel": "m1", "count_value": 3}]
    good = [(Msg.HISTORY, {"matrix": rows, "more": False})]
    assert checks.check_export("matrix", {}, good, rows) == []
    cut = [(Msg.HISTORY, {"matrix": rows, "more": True})]
    assert checks.check_export("matrix", {}, cut, rows)
    streams = [{"stream_id": 1}]
    assert checks.check_export(
        "streams", {}, [(Msg.STREAMS, {"streams": streams, "more": False})], streams) == []
    assert checks.check_export(
        "streams", {}, [(Msg.STREAMS, {"streams": streams, "more": True})], streams)


# -- live ingest -----------------------------------------------------------------------


def batch(ts, results):
    return [
        {"source": "amp", "timestamp": ts, "rtt": rtt, "loss": loss, "random": False,
         "target": tgt, "address": "192.0.2.1", "packet_size": 84}
        for tgt, rtt, loss in results
    ]


BATCHES = [
    batch(100, [("dst0", 1000, 0), ("dst0", 2000, 0), ("dst0", None, 1), ("dst1", 5, 0)]),
    batch(160, [("dst0", 3000, 0), ("dst1", None, 1)]),
]
SID = {"dst0": 1, "dst1": 2}


def test_expected_icmp_follows_the_parser_rules():
    exp = checks.expected_icmp(BATCHES)
    # golden parser example: rtts [1000, 2000] + one lost -> median 1500
    assert exp[("dst0", 100)] == (1500, 1, 3)
    assert exp[("dst1", 160)] == (None, 1, 1)
    assert checks.int_median([1, 2]) == 1 and checks.int_median([]) is None


def good_ingest():
    exp = checks.expected_icmp(BATCHES)
    stored = dict(exp)
    subs = [
        {"streams": {1}, "live": Counter({(1, 100): 1, (1, 160): 1}), "push": [100, 160]},
        {"streams": {2}, "live": Counter({(2, 100): 1, (2, 160): 1}), "push": [100, 160]},
    ]
    return exp, stored, subs


def test_ingest_check_accepts_a_correct_run():
    exp, stored, subs = good_ingest()
    assert checks.check_ingest(exp, exp, stored, subs, [100, 160], SID) == []


def test_ingest_check_rejects_lost_or_wrong_stored_rows():
    exp, stored, subs = good_ingest()
    del stored[("dst0", 160)]
    assert checks.check_ingest(exp, exp, stored, subs, [100, 160], SID)
    exp, stored, subs = good_ingest()
    stored[("dst0", 100)] = (1499, 1, 3)
    assert checks.check_ingest(exp, exp, stored, subs, [100, 160], SID)


def test_ingest_check_rejects_missing_live_rows_and_push_frames():
    exp, stored, subs = good_ingest()
    subs[0]["live"][(1, 160)] = 0
    subs[0]["live"] += Counter()  # drop the zero entry
    assert checks.check_ingest(exp, exp, stored, subs, [100, 160], SID)
    exp, stored, subs = good_ingest()
    subs[1]["push"] = [100]
    errs = checks.check_ingest(exp, exp, stored, subs, [100, 160], SID)
    assert any("PUSH" in e for e in errs)
    exp, stored, subs = good_ingest()
    subs[1]["live"][(2, 100)] += 1  # a duplicate LIVE row
    assert checks.check_ingest(exp, exp, stored, subs, [100, 160], SID)

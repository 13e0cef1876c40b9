"""pmetric/ptrace wire formats (functions/signalwire.py).

Golden bytes are independent literals hand-derived from the public
opentelemetry-proto schemas (field numbers / wire types verified
against metrics.proto + trace.proto by hand), so an encoder regression
cannot hide behind a matching decoder. Round trips additionally pin
decode(encode(x)) == x for every datapoint type, including presence
edges (NULL value oneof, absent attribute, absent parent span).
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from opentelemetry_collector_spark.functions import signalwire as W

ATTRS = [("svc", "api")]


def test_number_point_golden_bytes():
    got = W.encode_number_point(ATTRS, 0, 5, as_int=7)
    assert got.hex() == (
        "190500000000000000"  # field 3 fixed64 time=5
        "310700000000000000"  # field 6 sfixed64 as_int=7
        "3a0c0a0373766312050a03617069"  # field 7 KeyValue{svc: api}
    )
    assert W.decode_number_point(got) == {
        "attributes": {"svc": "api"}, "as_int": 7, "as_double": None,
        "start_ns": 0, "ts_ns": 5, "exemplars": [], "flags": 0,
    }


def test_histogram_point_golden_bytes():
    got = W.encode_histogram_point(
        ATTRS, 1, 2, count=3, bucket_counts=[1, 2], explicit_bounds=[10.0],
        value_sum=30.0, value_min=5.0, value_max=25.0,
    )
    assert got.hex() == (
        "110100000000000000"  # 2: start=1
        "190200000000000000"  # 3: time=2
        "210300000000000000"  # 4: count=3
        "290000000000003e40"  # 5: sum=30.0
        "321001000000000000000200000000000000"  # 6: packed fixed64 [1,2]
        "3a080000000000002440"  # 7: packed double [10.0]
        "4a0c0a0373766312050a03617069"  # 9: attributes
        "590000000000001440"  # 11: min=5.0
        "610000000000003940"  # 12: max=25.0
    )
    back = W.decode_histogram_point(got)
    assert back["bucket_counts"] == [1, 2]
    assert back["explicit_bounds"] == [10.0]
    assert (back["count"], back["sum"], back["min"], back["max"]) == (3, 30.0, 5.0, 25.0)


def test_exp_histogram_point_golden_bytes():
    got = W.encode_exp_histogram_point(
        ATTRS, 0, 2, count=4, scale=0, zero_count=1,
        positive_offset=-1, positive_counts=[2, 2],
    )
    assert got.hex() == (
        "0a0c0a0373766312050a03617069"  # 1: attributes
        "190200000000000000"  # 3: time=2
        "210400000000000000"  # 4: count=4
        "3000"  # 6: scale sint32 zigzag(0)
        "390100000000000000"  # 7: zero_count=1
        "420608011202" + "0202"  # 8: Buckets{offset=-1 zigzag, counts [2,2]}
    )
    back = W.decode_exp_histogram_point(got)
    assert back["positive_offset"] == -1
    assert back["positive_counts"] == [2, 2]
    assert back["scale"] == 0 and back["zero_count"] == 1


def test_summary_point_golden_bytes():
    got = W.encode_summary_point(ATTRS, 0, 2, count=10, value_sum=55.0,
                                 quantiles=[(0.5, 7.0)])
    assert got.hex() == (
        "190200000000000000"  # 3: time=2
        "210a00000000000000"  # 4: count=10
        "290000000000804b40"  # 5: sum=55.0
        "321209000000000000e03f110000000000001c40"  # 6: {q=0.5, v=7.0}
        "3a0c0a0373766312050a03617069"  # 7: attributes
    )
    back = W.decode_summary_point(got)
    assert back["quantiles"] == [(0.5, 7.0)]
    assert back["count"] == 10 and back["sum"] == 55.0


def test_span_golden_bytes():
    got = W.encode_span(
        "00" * 15 + "ff", "11" * 8, None, "n", "SPAN_KIND_CLIENT",
        9, 10, "STATUS_CODE_ERROR",
    )
    assert got.hex() == (
        "0a10" + "00" * 15 + "ff"  # 1: trace_id (16 bytes)
        + "1208" + "11" * 8  # 2: span_id (8 bytes)
        + "2a016e"  # 5: name "n"
        + "3003"  # 6: kind CLIENT=3
        + "390900000000000000"  # 7: start=9
        + "410a00000000000000"  # 8: end=10
        + "7a021802"  # 15: Status{code=ERROR=2}
    )
    back = W.decode_span(got)
    assert back["trace_id"] == "00" * 15 + "ff"
    assert back["parent_span_id"] is None  # absent field stays absent
    assert back["kind"] == "SPAN_KIND_CLIENT"
    assert back["status"] == "STATUS_CODE_ERROR"


def test_span_parent_roundtrip():
    got = W.encode_span(
        "ab" * 16, "cd" * 8, "ef" * 8, "tool/api", "SPAN_KIND_SERVER",
        1_700_000_000_000_000_000, 1_700_000_000_500_000_000, "STATUS_CODE_OK",
    )
    back = W.decode_span(got)
    assert back["parent_span_id"] == "ef" * 8
    assert back["end_ns"] - back["start_ns"] == 500_000_000


def test_exemplar_golden_bytes():
    """Exemplar message (metrics.proto: 2 time fixed64, 4 span_id bytes,
    5 trace_id bytes, 6 as_int sfixed64, 7 filtered_attributes) — bytes
    hand-derived from the public schema, independent of the encoder."""
    got = W.encode_exemplar(
        5, as_int=7, span_id_hex="cd" * 8, trace_id_hex="ab" * 16,
        filtered_attrs=[("conv_id", "c1")],
    )
    assert got.hex() == (
        "110500000000000000"          # 2: time fixed64 = 5
        "2208" + "cd" * 8 +           # 4: span_id, 8 bytes
        "2a10" + "ab" * 16 +          # 5: trace_id, 16 bytes
        "310700000000000000"          # 6: as_int sfixed64 = 7
        "3a0f0a07636f6e765f696412040a026331"  # 7: KeyValue{conv_id: c1}
    )
    assert W.decode_exemplar(got) == {
        "ts_ns": 5, "as_int": 7, "as_double": None,
        "span_id": "cd" * 8, "trace_id": "ab" * 16,
        "filtered_attributes": {"conv_id": "c1"},
    }


def test_exemplar_presence_edges():
    """Value oneof absent + no ids: decode keeps None (never 0/'')."""
    back = W.decode_exemplar(W.encode_exemplar(1))
    assert back["as_int"] is None and back["as_double"] is None
    assert back["span_id"] is None and back["trace_id"] is None
    gd = W.decode_exemplar(W.encode_exemplar(1, as_double=2.5))
    assert gd["as_double"] == 2.5 and gd["as_int"] is None


def test_datapoints_carry_exemplars():
    """NumberDataPoint field 5 / HistogramDataPoint field 8 round-trip
    the nested Exemplar messages."""
    ex = W.encode_exemplar(9, as_int=42, trace_id_hex="ef" * 16)
    np_back = W.decode_number_point(
        W.encode_number_point(ATTRS, 0, 1, as_int=1, exemplars=[ex])
    )
    assert [e["as_int"] for e in np_back["exemplars"]] == [42]
    assert np_back["exemplars"][0]["trace_id"] == "ef" * 16
    h_back = W.decode_histogram_point(
        W.encode_histogram_point(ATTRS, 0, 1, count=2, bucket_counts=[1, 1],
                                 explicit_bounds=[10.0], exemplars=[ex, ex])
    )
    assert len(h_back["exemplars"]) == 2
    assert h_back["exemplars"][1]["ts_ns"] == 9


@given(st.integers(min_value=-(2**63), max_value=2**63 - 1))
@settings(max_examples=100, deadline=None)
def test_exemplar_int_roundtrip(v):
    back = W.decode_exemplar(W.encode_exemplar(1, as_int=v))
    assert back["as_int"] == v


def test_number_point_presence_edges():
    """NULL value oneof and absent attribute must survive: neither an
    as_int nor as_double field is emitted, and decode keeps None."""
    got = W.encode_number_point([], 0, 1)
    back = W.decode_number_point(got)
    assert back["as_int"] is None and back["as_double"] is None
    assert back["attributes"] == {}
    gd = W.encode_number_point([], 0, 1, as_double=2.5)
    assert W.decode_number_point(gd)["as_double"] == 2.5


@given(
    st.integers(min_value=-(2**63), max_value=2**63 - 1),
    st.integers(min_value=0, max_value=2**62),
)
@settings(max_examples=100, deadline=None)
def test_number_point_int_roundtrip(v, ts):
    back = W.decode_number_point(W.encode_number_point(ATTRS, 0, ts, as_int=v))
    assert back["as_int"] == v and back["ts_ns"] == ts


@given(
    st.integers(min_value=-(2**31), max_value=2**31 - 1),
    st.lists(st.integers(min_value=0, max_value=2**40), max_size=8),
)
@settings(max_examples=100, deadline=None)
def test_exp_histogram_offset_scale_roundtrip(offset, counts):
    back = W.decode_exp_histogram_point(
        W.encode_exp_histogram_point([], 0, 1, 1, scale=-3,
                                     zero_count=0, positive_offset=offset,
                                     positive_counts=counts)
    )
    assert back["positive_offset"] == offset
    assert back["positive_counts"] == counts
    assert back["scale"] == -3


@given(st.lists(st.floats(allow_nan=False, allow_infinity=False), max_size=6))
@settings(max_examples=100, deadline=None)
def test_histogram_bounds_roundtrip(bounds):
    back = W.decode_histogram_point(
        W.encode_histogram_point([], 0, 1, count=0,
                                 bucket_counts=[0] * (len(bounds) + 1),
                                 explicit_bounds=bounds)
    )
    assert back["explicit_bounds"] == bounds  # IEEE bytes: bit-exact


def test_spark_stage_sizer_and_roundtrip(spark):
    """The mapInPandas stages: proto_bytes is the real Sizer, and the
    decoded frame matches the input, including NULL svc / NULL value
    (metrics) and NULL parent (spans)."""
    pts = spark.createDataFrame(
        [("c1", 0, "api", 1000, 7), ("c1", 1, None, 2000, None)],
        "conv_id string, turn_idx int, svc string, ts_ns long, value long",
    )
    enc = W.encode_number_points(pts)
    rows = {r["turn_idx"]: r for r in enc.collect()}
    assert all(r["proto_bytes"] == len(r["proto"]) for r in rows.values())
    assert rows[1]["proto_bytes"] < rows[0]["proto_bytes"]  # omitted fields
    back = {r["turn_idx"]: r for r in W.decode_number_points(enc).collect()}
    assert back[0]["svc"] == "api" and back[0]["value"] == 7
    assert back[1]["svc"] is None and back[1]["value"] is None


def test_vectorized_number_batch_matches_scalar_encoder():
    """_encode_number_batch (numpy buffers + svc memo) must emit
    byte-identical output to encode_number_point for every presence
    combination."""
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "svc": ["api", None, "api", "auth"],
            "ts_ns": [0, 5, 1_700_000_000_000_000_000, 7],
            "value": pd.array([7, None, -3, 0], dtype="Int64"),
        }
    )
    got = W._encode_number_batch(pdf)
    for i in range(len(pdf)):
        s = pdf["svc"][i]
        v = pdf["value"][i]
        want = W.encode_number_point(
            [("svc", s)] if isinstance(s, str) else [],
            0,
            int(pdf["ts_ns"][i]),
            as_int=None if pd.isna(v) else int(v),
        )
        assert got[i] == want, i


def test_fast_decode_matches_generic_parser():
    """_decode_number_batch's sliced fast path and memo must agree with
    the generic wire parser for every presence shape, including a
    foreign field order it must fall back on."""
    recs = [
        W.encode_number_point([("svc", "api")], 0, 5, as_int=7),
        W.encode_number_point([], 0, 9),  # no value, no attr
        W.encode_number_point([("svc", "auth")], 0, 1, as_int=-3),
        # foreign shape: start_time first → not the fast-path prefix
        W.encode_number_point([("svc", "x")], 4, 5, as_int=1),
        # flagged gap point (no value, noRecordedValue) — fast path
        W.encode_number_point([("svc", "api")], 0, 5, flags=1),
        # flagged, no attrs — suffix is the bare flags varint
        W.encode_number_point([], 0, 5, flags=1),
    ]
    svcs, tss, vals, flgs = W._decode_number_batch(recs)
    for i, buf in enumerate(recs):
        rec = W.decode_number_point(buf)
        assert svcs[i] == rec["attributes"].get("svc"), i
        assert tss[i] == rec["ts_ns"], i
        assert vals[i] == rec["as_int"], i
        assert flgs[i] == rec["flags"], i


def test_fast_decode_rejects_noncanonical_layout():
    """A LEGAL protobuf with non-canonical field order (attrs before
    as_int, or duplicate ts) must take the generic-parser path, not
    silently lose fields (r4 review finding)."""
    from opentelemetry_collector_spark.functions.protowire import (
        _fixed64,
        _len_delim,
    )

    # [ts][attrs][as_int] — starts like the fast path, value trails
    weird = (
        _fixed64(3, 5)
        + _len_delim(7, W._str_attr("svc", "api"))
        + _fixed64(6, 42)
    )
    # [ts][as_int][ts2] — duplicate ts after the value
    dup_ts = _fixed64(3, 1) + _fixed64(6, 7) + _fixed64(3, 9)
    svcs, tss, vals, _flgs = W._decode_number_batch([weird, dup_ts])
    assert (svcs[0], tss[0], vals[0]) == ("api", 5, 42)
    ref = W.decode_number_point(dup_ts)
    assert (tss[1], vals[1]) == (ref["ts_ns"], ref["as_int"])


def test_encode_number_points_null_ts_is_loud(spark):
    import pytest

    pts = spark.createDataFrame(
        [("c1", 0, "api", None, 7)],
        "conv_id string, turn_idx int, svc string, ts_ns long, value long",
    )
    with pytest.raises(Exception, match="NULL ts_ns"):
        W.encode_number_points(pts).collect()


def test_vectorized_span_batch_matches_scalar_encoder():
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "trace_id": ["ab" * 16, "cd" * 16],
            "span_id": ["11" * 8, "22" * 8],
            "parent_span_id": [None, "33" * 8],
            "name": ["tool/api", ""],
            "kind": ["SPAN_KIND_CLIENT", "SPAN_KIND_UNSPECIFIED"],
            "status": ["STATUS_CODE_ERROR", "STATUS_CODE_UNSET"],
            "start_ns": [5, 1_700_000_000_000_000_000],
            "end_ns": [9, 1_700_000_000_500_000_000],
        }
    )
    got = W._encode_span_batch(pdf)
    for i in range(len(pdf)):
        want = W.encode_span(
            pdf["trace_id"][i], pdf["span_id"][i], pdf["parent_span_id"][i],
            pdf["name"][i], pdf["kind"][i], int(pdf["start_ns"][i]),
            int(pdf["end_ns"][i]), pdf["status"][i],
        )
        assert got[i] == want, i


def test_span_batch_foreign_ids_and_null_ts():
    """The scalar fallback branch must fire for non-canonical /
    whitespace-bearing hex ids (fromhex SKIPS whitespace, so a pure
    length check would under-fill the fixed 16-byte prefix), and NULL
    timestamps must be loud."""
    import pandas as pd
    import pytest

    pdf = pd.DataFrame(
        {
            # 2nd row: 12-byte trace id — decodable but NON-canonical,
            # must take the scalar fallback (actual-length prefix)
            "trace_id": ["ab" * 16, "ab" * 12],
            "span_id": ["11" * 8, "22" * 8],
            "parent_span_id": [None, None],
            "name": ["n", "n"],
            "kind": ["SPAN_KIND_CLIENT", "SPAN_KIND_CLIENT"],
            "status": ["STATUS_CODE_OK", "STATUS_CODE_OK"],
            "start_ns": [1, 2],
            "end_ns": [3, 4],
        }
    )
    got = W._encode_span_batch(pdf)
    for i in range(2):
        want = W.encode_span(
            pdf["trace_id"][i], pdf["span_id"][i], None, "n",
            "SPAN_KIND_CLIENT", int(pdf["start_ns"][i]),
            int(pdf["end_ns"][i]), "STATUS_CODE_OK",
        )
        assert got[i] == want, i
    back = W.decode_span(got[1])  # fallback frame is well-formed
    assert back["trace_id"] == "ab" * 12 and back["start_ns"] == 2
    # whitespace-bearing hex raises LOUDLY (both paths; fromhex rejects
    # mid-pair whitespace) instead of emitting an under-filled frame
    pdf_bad = pdf.copy()
    pdf_bad.loc[0, "trace_id"] = "ab" * 15 + " a b "
    with pytest.raises(ValueError):
        W._encode_span_batch(pdf_bad)
    pdf2 = pdf.copy()
    pdf2.loc[0, "start_ns"] = None
    with pytest.raises(ValueError, match="NULL start_ns"):
        W._encode_span_batch(pdf2)


def test_encode_huge_value_next_to_null_is_exact(spark):
    """A mixed NULL/huge-value Arrow batch must keep sfixed64 values
    bit-exact: without the Spark-side filled/flag pre-split, Arrow→
    pandas demotes long→float64 and 2^62+1 silently rounds to 2^62
    (r4 advice)."""
    big = 2**62 + 1
    pts = spark.createDataFrame(
        [("c1", 0, "api", 1000, big), ("c1", 1, "api", 2000, None)],
        "conv_id string, turn_idx int, svc string, ts_ns long, value long",
    ).coalesce(1)  # one partition → one Arrow batch carries both rows
    back = {
        r["turn_idx"]: r
        for r in W.decode_number_points(W.encode_number_points(pts)).collect()
    }
    assert back[0]["value"] == big  # bit-exact, not 2^62
    assert back[1]["value"] is None


def test_span_extended_golden_bytes():
    """r5 full Span content surface: trace_state (3), attributes (9),
    events (11), links (13), Status.message (15.2) — bytes hand-derived
    from trace.proto field numbers, canonical ascending order."""
    got = W.encode_span(
        "00" * 15 + "ff", "11" * 8, None, "n", "SPAN_KIND_CLIENT",
        9, 10, "STATUS_CODE_ERROR",
        trace_state="a=b",
        attrs=[("k", "v")],
        events=[(7, "e", [("x", "y")])],
        links=[("22" * 16, "33" * 8, "s", [])],
        status_message="m",
    )
    assert got.hex() == (
        "0a10" + "00" * 15 + "ff"          # 1: trace_id
        + "1208" + "11" * 8                # 2: span_id
        + "1a03" + "613d62"                # 3: trace_state "a=b"
        + "2a016e"                         # 5: name "n"
        + "3003"                           # 6: kind CLIENT=3
        + "390900000000000000"             # 7: start=9
        + "410a00000000000000"             # 8: end=10
        + "4a08" + "0a016b12030a0176"      # 9: KeyValue{k: v}
        + "5a16"                           # 11: Event (22 bytes)
        + "090700000000000000"             #   1: time=7
        + "120165"                         #   2: name "e"
        + "1a08" + "0a017812030a0179"      #   3: KeyValue{x: y}
        + "6a1f"                           # 13: Link (31 bytes)
        + "0a10" + "22" * 16               #   1: trace_id
        + "1208" + "33" * 8                #   2: span_id
        + "1a0173"                         #   3: trace_state "s"
        + "7a05" + "12016d" + "1802"       # 15: Status{message "m", code=2}
    )
    back = W.decode_span(got)
    assert back["trace_state"] == "a=b"
    assert back["attrs"] == [{"key": "k", "value": "v"}]
    assert back["events"] == [
        {"ts_ns": 7, "name": "e", "attrs": [{"key": "x", "value": "y"}]}
    ]
    assert back["links"] == [
        {"trace_id": "22" * 16, "span_id": "33" * 8, "trace_state": "s",
         "attrs": [], "flags": 0}
    ]
    assert back["status_message"] == "m"
    assert back["flags"] == 0  # absent field 16 = proto3 zero


def test_span_flags_golden_bytes():
    """Span.Flags: fixed32 field 16 (generated_proto_span.go tag bytes
    0x85 0x01), W3C sampled|has-is-remote|is-remote = 0x301; Link.Flags:
    fixed32 field 6 (generated_proto_spanlink.go tag 0x35). Zero flags
    omit the field (covered by the extended golden test above)."""
    got = W.encode_span(
        "00" * 16, "11" * 8, None, "", "SPAN_KIND_UNSPECIFIED",
        1, 2, "STATUS_CODE_UNSET",
        links=[("22" * 16, "33" * 8, None, [], 257)],
        flags=0x301,
    )
    assert got.hex() == (
        "0a10" + "00" * 16
        + "1208" + "11" * 8
        + "390100000000000000"
        + "410200000000000000"
        + "6a21"                      # 13: Link (33 bytes)
        + "0a10" + "22" * 16
        + "1208" + "33" * 8
        + "3501010000"                #   6: flags fixed32 = 257
        + "850101030000"              # 16: flags fixed32 = 0x301
    )
    back = W.decode_span(got)
    assert back["flags"] == 0x301
    assert back["links"][0]["flags"] == 257


def test_span_extended_vectorized_matches_scalar():
    """_encode_span_batch with the extended columns must emit
    byte-identical output to scalar encode_span for every presence
    combination (multi-event, multi-link, absent everything)."""
    import pandas as pd

    rows = [
        dict(trace_id="ab" * 16, span_id="cd" * 8, parent_span_id="ef" * 8,
             name="t/s", kind="SPAN_KIND_CLIENT", status="STATUS_CODE_ERROR",
             start_ns=1, end_ns=2, trace_state="ot=x",
             attrs=[{"key": "svc", "value": "api"}],
             events=[{"ts_ns": 2, "name": "exception",
                      "attrs": [{"key": "exception.message", "value": "boom"}]},
                     {"ts_ns": 2, "name": "slow",
                      "attrs": [{"key": "latency_ms", "value": "9001"}]}],
             links=[{"trace_id": "ab" * 16, "span_id": "ef" * 8,
                     "trace_state": None,
                     "attrs": [{"key": "link.type", "value": "parent"}],
                     "flags": 257},
                    {"trace_id": "ab" * 16, "span_id": "11" * 8,
                     "trace_state": "w=1",
                     "attrs": [{"key": "link.type", "value": "root"}],
                     "flags": 0}],
             status_message="bad", flags=257),
        dict(trace_id="ab" * 16, span_id="cd" * 8, parent_span_id=None,
             name="n", kind="SPAN_KIND_CLIENT", status="STATUS_CODE_OK",
             start_ns=3, end_ns=4, trace_state=None, attrs=[], events=[],
             links=[], status_message=None, flags=0),
    ]
    pdf = pd.DataFrame(rows)
    got = W._encode_span_batch(pdf)
    for i, r in enumerate(rows):
        want = W.encode_span(
            r["trace_id"], r["span_id"], r["parent_span_id"], r["name"],
            r["kind"], r["start_ns"], r["end_ns"], r["status"],
            trace_state=r["trace_state"], attrs=r["attrs"],
            events=r["events"], links=r["links"],
            status_message=r["status_message"], flags=r["flags"],
        )
        assert got[i] == want, i
        back = W.decode_span(got[i])
        assert back["events"] == r["events"]
        assert back["links"] == r["links"]


def test_rich_spans_multi_event_multi_link_roundtrip(spark, sf_dir):
    """End-to-end non-vacuous pin: the fixture produces ERROR∧slow
    spans (2 events) and turn≥2 spans (2 links); the wire stage must
    carry both through encode→decode."""
    from opentelemetry_collector_spark.functions import parse, signals
    from pyspark.sql import functions as F

    parsed = parse.with_parsed(
        __import__(
            "opentelemetry_collector_spark.sources.tables", fromlist=["tables"]
        ).read_transcripts(spark, sf_dir),
        "native",
    )
    rs = signals.rich_spans_from_turns(parsed)
    dec = W.decode_spans(W.encode_spans(rs))
    counts = dec.agg(
        F.sum((F.size("events") == 2).cast("int")).alias("two_ev"),
        F.sum((F.size("links") == 2).cast("int")).alias("two_lk"),
        F.sum(F.col("trace_state").isNotNull().cast("int")).alias("ts"),
        F.sum(F.col("status_message").isNotNull().cast("int")).alias("sm"),
    ).first()
    assert counts["two_ev"] > 0 and counts["two_lk"] > 0
    assert counts["ts"] > 0 and counts["sm"] > 0


def test_datapoint_flags_golden_bytes_all_branches():
    """DataPointFlags (pmetric/metric_data_point_flags.go — bit 0 =
    noRecordedValue): varint field 8 on Number/Summary (tag 0x40), 10
    on Histogram/ExpHistogram (tag 0x50); zero omitted (pinned by the
    flag-less golden tests above). Each branch round-trips flags=1."""
    n = W.encode_number_point([], 0, 1, flags=1)
    assert n.hex().endswith("4001") and W.decode_number_point(n)["flags"] == 1
    h = W.encode_histogram_point([], 0, 1, count=0, bucket_counts=[],
                                 explicit_bounds=[], flags=1)
    assert h.hex().endswith("5001") and W.decode_histogram_point(h)["flags"] == 1
    e = W.encode_exp_histogram_point([], 0, 1, count=0, scale=0,
                                     zero_count=0, positive_offset=0,
                                     positive_counts=[], flags=1)
    assert e.hex().endswith("5001")
    assert W.decode_exp_histogram_point(e)["flags"] == 1
    s = W.encode_summary_point([], 0, 1, count=0, value_sum=0.0,
                               quantiles=[], flags=1)
    assert s.hex().endswith("4001") and W.decode_summary_point(s)["flags"] == 1


def test_span_batch_encoder_negative_event_ts():
    """A pre-1970 event timestamp must not OverflowError the whole
    Arrow batch (r6 review): the fast event path masks to two's
    complement exactly like the scalar _fixed64."""
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "trace_id": ["ab" * 16],
            "span_id": ["cd" * 8],
            "parent_span_id": [None],
            "name": ["n"],
            "kind": ["SPAN_KIND_CLIENT"],
            "status": ["STATUS_CODE_OK"],
            "start_ns": [10],
            "end_ns": [20],
            "trace_state": [None],
            "attrs": [[]],
            "events": [[{"ts_ns": -5, "name": "old", "attrs": []}]],
            "links": [[]],
            "status_message": [None],
            "flags": [0],
        }
    )
    got = W._encode_span_batch(pdf)[0]
    ref = W.encode_span(
        "ab" * 16, "cd" * 8, None, "n", "SPAN_KIND_CLIENT", 10, 20,
        "STATUS_CODE_OK", events=[{"ts_ns": -5, "name": "old", "attrs": []}],
    )
    assert got == ref
    assert W.decode_span(got)["events"][0]["ts_ns"] == -5


# ------------------------- r7: wire-level fuzz parity (VERDICT r6 #8)

_hex_id = lambda nbytes: st.binary(  # noqa: E731
    min_size=nbytes, max_size=nbytes
).map(lambda b: b.hex())
_attr_kv = st.tuples(st.text(max_size=8), st.text(max_size=12))
_attr_list = st.lists(_attr_kv, max_size=4)
_opt_text = st.one_of(st.none(), st.text(min_size=1, max_size=10))


@given(
    trace_id=_hex_id(16),
    span_id=_hex_id(8),
    parent=st.one_of(st.none(), _hex_id(8)),
    name=st.text(max_size=16),
    kind=st.sampled_from(W.SPAN_KINDS),
    start_ns=st.integers(min_value=0, max_value=2**62),
    end_ns=st.integers(min_value=0, max_value=2**62),
    status=st.sampled_from(W.STATUS_CODES),
    trace_state=_opt_text,
    attrs=_attr_list,
    events=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2**62),  # 0 → omitted → 0
            st.text(max_size=10),                       # '' → omitted → ''
            _attr_list,
        ),
        max_size=3,
    ),
    links=st.lists(
        st.tuples(
            _hex_id(16), _hex_id(8), _opt_text, _attr_list,
            st.integers(min_value=0, max_value=2**32 - 1),
        ),
        max_size=3,
    ),
    status_message=_opt_text,
    flags=st.integers(min_value=0, max_value=2**32 - 1),
)
@settings(max_examples=200, deadline=None)
def test_full_span_wire_roundtrip_property(
    trace_id, span_id, parent, name, kind, start_ns, end_ns, status,
    trace_state, attrs, events, links, status_message, flags,
):
    """Property round-trip over the FULL Span surface (trace.proto
    fields 1-9,11,13,15,16): every generated value must survive
    encode_span → decode_span, including presence edges the golden
    bytes can't enumerate (absent parent, zero flags, empty event
    names, unicode attrs, multi-event/multi-link spans)."""
    buf = W.encode_span(
        trace_id, span_id, parent, name, kind, start_ns, end_ns, status,
        trace_state=trace_state, attrs=attrs, events=events, links=links,
        status_message=status_message, flags=flags,
    )
    rec = W.decode_span(buf)
    assert rec["trace_id"] == trace_id
    assert rec["span_id"] == span_id
    assert rec["parent_span_id"] == parent
    assert rec["name"] == name
    assert rec["kind"] == kind
    assert rec["start_ns"] == start_ns and rec["end_ns"] == end_ns
    assert rec["status"] == status
    # '' trace_state is omitted on the wire (proto3 default) → None
    assert rec["trace_state"] == (trace_state or None)
    assert rec["attrs"] == [{"key": k, "value": v} for k, v in attrs]
    assert rec["events"] == [
        {"ts_ns": ts, "name": nm,
         "attrs": [{"key": k, "value": v} for k, v in a]}
        for ts, nm, a in events
    ]
    assert rec["links"] == [
        {"trace_id": t, "span_id": s, "trace_state": ts or None,
         "attrs": [{"key": k, "value": v} for k, v in a], "flags": fl}
        for t, s, ts, a, fl in links
    ]
    assert rec["status_message"] == (status_message or None)
    assert rec["flags"] == flags


@given(
    attrs=st.dictionaries(
        st.text(max_size=8), st.text(max_size=8), max_size=3
    ),
    start_ns=st.integers(min_value=0, max_value=2**62),
    ts_ns=st.integers(min_value=0, max_value=2**62),
    count=st.integers(min_value=0, max_value=2**62),
    scale=st.integers(min_value=-128, max_value=127),  # zigzag, signed
    zero_count=st.integers(min_value=0, max_value=2**62),
    positive_offset=st.integers(min_value=-(2**30), max_value=2**30),
    positive_counts=st.lists(
        st.integers(min_value=0, max_value=2**62), max_size=8
    ),
    flags=st.integers(min_value=0, max_value=3),
)
@settings(max_examples=200, deadline=None)
def test_exp_histogram_point_wire_roundtrip_property(
    attrs, start_ns, ts_ns, count, scale, zero_count,
    positive_offset, positive_counts, flags,
):
    """Property round-trip for the full ExponentialHistogramDataPoint
    wire surface: signed zigzag scale/offset (both signs), empty and
    large packed bucket lists, optional startTime/flags presence."""
    buf = W.encode_exp_histogram_point(
        list(attrs.items()), start_ns, ts_ns, count, scale, zero_count,
        positive_offset, positive_counts, flags,
    )
    rec = W.decode_exp_histogram_point(buf)
    assert rec["attributes"] == attrs
    assert rec["start_ns"] == start_ns
    assert rec["ts_ns"] == ts_ns
    assert rec["count"] == count
    assert rec["scale"] == scale
    assert rec["zero_count"] == zero_count
    assert rec["positive_offset"] == positive_offset
    assert rec["positive_counts"] == positive_counts
    assert rec["flags"] == flags

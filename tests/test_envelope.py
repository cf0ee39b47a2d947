"""Debezium / Maxwell envelope decoders (sources/envelope.py): field
routing per op code, both Debezium dialects at once, LSN defaults and
overrides, corrupt-record flagging, and the zero-Python-UDF plan shape."""

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ds_floodexposure_monitoring_spark.plans import REGISTRY
from ds_floodexposure_monitoring_spark.sources.envelope import (
    decode_debezium,
    decode_maxwell,
)

PAYLOAD = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("text", T.StringType()),
    ]
)


def _dbz(op, before=None, after=None, lsn=None, ts_ms=None, wrap=False):
    inner = {
        "op": op,
        "before": before,
        "after": after,
        "source": {"lsn": lsn, "ts_ms": ts_ms, "db": "d", "table": "t"},
        "ts_ms": ts_ms,
    }
    return json.dumps({"payload": inner} if wrap else inner)


def _rows(df):
    return {
        (r.conv_id, r.turn_idx): (r.text, r._lsn, r._tombstone, r._corrupt)
        for r in df.collect()
    }


def test_debezium_routing_both_dialects(spark):
    envs = [
        # create, unwrapped
        _dbz("c", after={"conv_id": "a", "turn_idx": 0, "text": "hi"}, lsn=10),
        # update, wrapped (schemas.enable=true)
        _dbz("u", after={"conv_id": "a", "turn_idx": 0, "text": "hi2"}, lsn=11,
             wrap=True),
        # delete: key-only before image, no after
        _dbz("d", before={"conv_id": "b", "turn_idx": 3}, lsn=12),
        # snapshot read
        _dbz("r", after={"conv_id": "c", "turn_idx": 1, "text": "snap"}, lsn=2),
        # truncate marker: no row image -> excluded
        _dbz("t", lsn=13),
    ]
    raw = spark.createDataFrame([(e,) for e in envs], ["value"])
    out = decode_debezium(raw, "value", PAYLOAD)
    assert out.count() == 4  # truncate excluded, both dialects decoded
    got = _rows(out)  # c and u share a key -> 3 distinct keys
    assert len(got) == 3
    assert got[("a", 0)][2] is False and got[("a", 0)][0] in ("hi", "hi2")
    assert got[("b", 3)] == (None, 12, True, False)
    assert got[("c", 1)] == ("snap", 2, False, False)

    no_reads = decode_debezium(raw, "value", PAYLOAD, drop_reads=True)
    assert ("c", 1) not in _rows(no_reads)


def test_debezium_lsn_fallback_and_override(spark):
    envs = [
        _dbz("c", after={"conv_id": "a", "turn_idx": 0, "text": "x"},
             lsn=None, ts_ms=5_000),  # no lsn -> source.ts_ms
    ]
    raw = spark.createDataFrame([(e,) for e in envs], ["value"])
    out = decode_debezium(raw, "value", PAYLOAD)
    assert _rows(out)[("a", 0)][1] == 5_000
    # caller-supplied ordering key wins
    out2 = decode_debezium(raw, "value", PAYLOAD, lsn=F.lit(77))
    assert _rows(out2)[("a", 0)][1] == 77


def test_debezium_corrupt_flagged_not_dropped(spark):
    envs = [
        _dbz("c", after={"conv_id": "a", "turn_idx": 0, "text": "ok"}, lsn=1),
        "{not json",
        json.dumps({"something": "else"}),  # parses, but no op anywhere
    ]
    raw = spark.createDataFrame([(e,) for e in envs], ["value"])
    out = decode_debezium(raw, "value", PAYLOAD)
    rows = out.collect()
    corrupt = [r for r in rows if r._corrupt]
    assert len(rows) == 3 and len(corrupt) == 2
    for r in corrupt:  # null payload/tombstone: route to quarantine
        assert r._tombstone is None and r.conv_id is None
    clean = out.where(~F.col("_corrupt"))
    assert clean.count() == 1


def test_debezium_keep_cols_passthrough(spark):
    raw = spark.createDataFrame(
        [(7, 42, _dbz("c", after={"conv_id": "a", "turn_idx": 0, "text": "x"},
                      lsn=1))],
        ["kafka_partition", "kafka_offset", "value"],
    )
    out = decode_debezium(
        raw, "value", PAYLOAD, keep_cols=("kafka_partition", "kafka_offset")
    )
    r = out.collect()[0]
    assert (r.kafka_partition, r.kafka_offset) == (7, 42)


def _mxw(typ, data=None, ts=None, xid=None):
    return json.dumps(
        {"database": "d", "table": "t", "type": typ, "ts": ts, "xid": xid,
         "position": "master.000001:4", "data": data}
    )


def test_maxwell_routing_and_lsn(spark):
    envs = [
        _mxw("insert", {"conv_id": "a", "turn_idx": 0, "text": "v1"},
             ts=100, xid=7),
        _mxw("update", {"conv_id": "a", "turn_idx": 0, "text": "v2"},
             ts=100, xid=9),
        _mxw("delete", {"conv_id": "a", "turn_idx": 1, "text": "gone"},
             ts=101, xid=1),
        _mxw("bootstrap-insert", {"conv_id": "z", "turn_idx": 0, "text": "bs"},
             ts=1, xid=0),
        _mxw("bootstrap-start", ts=1, xid=0),  # marker: excluded
        "garbage{",
    ]
    raw = spark.createDataFrame([(e,) for e in envs], ["value"])
    out = decode_maxwell(raw, "value", PAYLOAD)
    rows = out.collect()
    assert len(rows) == 5  # 4 row events + 1 corrupt, marker excluded
    got = _rows(out.where(~F.col("_corrupt")))
    # default ordering key: ts*1e6 + xid -> intra-second commit order total
    assert got[("a", 1)] == ("gone", 101_000_001, True, False)
    assert got[("a", 0)][1] in (100_000_007, 100_000_009)
    assert out.where(F.col("_corrupt")).count() == 1

    no_bs = decode_maxwell(raw, "value", PAYLOAD, drop_bootstrap=True)
    assert ("z", 0) not in _rows(no_bs.where(~F.col("_corrupt")))

    # payload-field override for sources with a trustworthy sequence col
    out2 = decode_maxwell(raw, "value", PAYLOAD, lsn="turn_idx")
    assert _rows(out2.where(~F.col("_corrupt")))[("a", 1)][1] == 1


def test_decode_feeds_lww_dedup(spark):
    """decode -> dedup_last_writer is the whole ingest front door: the
    out-of-order redelivered stream must settle to last-writer-wins."""
    from ds_floodexposure_monitoring_spark.operators.dedup import (
        dedup_last_writer,
    )

    envs = [
        _dbz("u", after={"conv_id": "a", "turn_idx": 0, "text": "late"}, lsn=9),
        _dbz("c", after={"conv_id": "a", "turn_idx": 0, "text": "early"}, lsn=3),
        _dbz("c", after={"conv_id": "a", "turn_idx": 0, "text": "late"}, lsn=9),
        _dbz("d", before={"conv_id": "a", "turn_idx": 1}, lsn=8),
        _dbz("c", after={"conv_id": "a", "turn_idx": 1, "text": "zombie"}, lsn=5),
    ]
    raw = spark.createDataFrame([(e,) for e in envs], ["value"])
    dec = decode_debezium(raw, "value", PAYLOAD).where(~F.col("_corrupt"))
    state = dedup_last_writer(
        dec.drop("_corrupt"), keys=("conv_id", "turn_idx"),
        order_cols=("_lsn",),
    )
    alive = {(r.conv_id, r.turn_idx): r.text
             for r in state.where(~F.col("_tombstone")).collect()}
    assert alive == {("a", 0): "late"}  # turn 1 deleted at lsn 8 > 5


@pytest.mark.parametrize("name", ["debezium_decode_lww", "maxwell_decode_state"])
def test_envelope_decode_plan_is_pure_jvm(spark, name):
    """The decode must stay one whole-stage-codegen projection: no
    Python UDFs anywhere, no shuffle besides the single LWW hash agg."""
    df = REGISTRY[name].fn(spark, "/root/testdata/sf0.001")
    p = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    import re

    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    # only the dedup agg shuffles (formatted mode prints each node twice:
    # once in the tree, once in the detail section -> count tree nodes)
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1
    before_exchange = p.split("Exchange")[0]
    # map-side partials (Hash for flat state, Sort for struct max_by state)
    assert "Aggregate" in before_exchange


def test_encode_decode_roundtrip_with_deletes(spark):
    """encode_debezium -> decode_debezium is lossless, including the
    delete pre-image routing and the op passthrough."""
    from datetime import datetime

    from ds_floodexposure_monitoring_spark.sources.envelope import (
        encode_debezium,
    )

    feed = spark.createDataFrame(
        [
            ("a", 0, "hello", datetime(2024, 1, 1, 12, 0, 0, 123456), 10, "insert"),
            ("a", 1, "world", datetime(2024, 1, 2), 11, "update"),
            ("b", 0, "gone", datetime(2024, 1, 3), 12, "delete"),
        ],
        "conv_id string, turn_idx int, text string, ts timestamp, "
        "change_lsn long, change_type string",
    )
    wire = encode_debezium(
        feed, ["conv_id", "turn_idx", "text", "ts"], db="d", table="t"
    )
    wire_payload = T.StructType(
        [
            T.StructField("conv_id", T.StringType()),
            T.StructField("turn_idx", T.IntegerType()),
            T.StructField("text", T.StringType()),
            T.StructField("ts", T.LongType()),
        ]
    )
    dec = decode_debezium(wire, "value", wire_payload, op_col_out="_op")
    rows = {
        (r.conv_id, r.turn_idx): (r.text, r.ts, r._lsn, r._tombstone, r._op)
        for r in dec.withColumn("ts", F.timestamp_micros("ts")).collect()
    }
    assert len(rows) == 3 and not any(
        r._corrupt for r in dec.collect()
    )
    assert rows[("a", 0)] == (
        "hello", datetime(2024, 1, 1, 12, 0, 0, 123456), 10, False, "c",
    )
    assert rows[("a", 1)][3:] == (False, "u")
    # delete: payload rode `before`, tombstone true, micros exact
    assert rows[("b", 0)] == ("gone", datetime(2024, 1, 3), 12, True, "d")

"""Streaming operators run through the streaming runner (availableNow,
memory or file sink by output mode) and multimodal binary plumbing."""

import shutil
import tempfile

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pyradiomics_spark.session import scope
from pyradiomics_spark.streaming.runner import run_stream
from pyradiomics_spark.streaming.sessions import (
    stream_sessionize, stream_sliding, stream_tumbling)
from pyradiomics_spark.multimodal.binaryops import (
    image_features, frame_sample_plan, decode_image)


@pytest.fixture(scope="module")
def event_dir(spark):
    d = tempfile.mkdtemp(prefix="stream_src_")
    pdf = pd.DataFrame({
        "ent": ["a"] * 4 + ["b"] * 2,
        "ts": pd.to_datetime([
            "2024-01-01 00:00", "2024-01-01 00:10",
            "2024-01-01 02:00", "2024-01-01 02:05",
            "2024-01-01 00:00", "2024-01-01 05:00"]),
        "v": [1.0, 2.0, 3.0, 4.0, 5.0, 6.0]})
    spark.createDataFrame(pdf).write.parquet(f"{d}/data")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _run_stream(df, mode="complete"):
    with scope():
        return run_stream(df, mode).toPandas()


def test_stream_sessionize_matches_batch(spark, event_dir):
    schema = "ent string, ts timestamp, v double"
    stream = spark.readStream.schema(schema).parquet(f"{event_dir}/data")
    assert stream.isStreaming
    sess = stream_sessionize(stream, "ent", "ts", gap="30 minutes")
    out = _run_stream(sess).sort_values(
        ["ent", "session_start"]).reset_index(drop=True)
    # entity a: two sessions (00:00-00:10, 02:00-02:05); b: two singletons
    assert out[out.ent == "a"]["n_events"].tolist() == [2, 2]
    assert out[out.ent == "b"]["n_events"].tolist() == [1, 1]

    # batch parity: same function on the batch frame
    batch = spark.read.parquet(f"{event_dir}/data")
    bout = stream_sessionize(batch, "ent", "ts", gap="30 minutes").toPandas()
    bout = bout.sort_values(["ent", "session_start"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(out, bout)


def test_stream_tumbling(spark, event_dir):
    schema = "ent string, ts timestamp, v double"
    stream = spark.readStream.schema(schema).parquet(f"{event_dir}/data")
    out = _run_stream(stream_tumbling(stream, "ent", "ts", width="1 hour"))
    a = out[out.ent == "a"].sort_values("window_start")
    assert a["n_events"].tolist() == [2, 2]


def test_stream_sliding_matches_batch(spark, event_dir):
    schema = "ent string, ts timestamp, v double"
    stream = spark.readStream.schema(schema).parquet(f"{event_dir}/data")
    out = _run_stream(
        stream_sliding(stream, "ent", "ts", width="2 hours",
                       slide="1 hour", agg_cols={"sv": F.sum("v")})
    ).sort_values(["ent", "window_start"]).reset_index(drop=True)
    # every event lands in exactly width/slide = 2 windows
    assert out["n_events"].sum() == 2 * 6
    # a's 00:00+00:10 pair: windows starting 23:00 and 00:00 both hold 2
    a = out[out.ent == "a"]
    starts = a["window_start"].dt.strftime("%H:%M").tolist()
    assert starts == ["23:00", "00:00", "01:00", "02:00"]
    assert a["n_events"].tolist() == [2, 2, 2, 2]
    assert a["sv"].tolist() == [3.0, 3.0, 7.0, 7.0]

    batch = spark.read.parquet(f"{event_dir}/data")
    bout = stream_sliding(batch, "ent", "ts", width="2 hours",
                          slide="1 hour",
                          agg_cols={"sv": F.sum("v")}).toPandas()
    bout = bout.sort_values(["ent", "window_start"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(out, bout)


def test_stream_interval_join_matches_batch(spark, event_dir):
    """Stream-static binned range join: stateless plan lifts unchanged;
    stream output must equal the batch operator on the same input."""
    from pyradiomics_spark.operators.intervals import interval_join

    schema = "ent string, ts timestamp, v double"
    batch = spark.read.parquet(f"{event_dir}/data")
    iv = spark.sql(
        "SELECT 1 AS iv_id, timestamp'2024-01-01 00:00:00' AS lo, "
        "timestamp'2024-01-01 01:00:00' AS hi "
        "UNION ALL SELECT 2, timestamp'2024-01-01 02:00:00', "
        "timestamp'2024-01-01 06:00:00'")
    stream = spark.readStream.schema(schema).parquet(f"{event_dir}/data")
    out = interval_join(stream, iv, "ts", "lo", "hi", 1800.0)
    assert out.isStreaming
    got = sorted((r.ent, str(r.ts), r.iv_id)
                 for r in _run_stream(out, "append").itertuples())
    want = sorted((r.ent, str(r.ts), r.iv_id) for r in interval_join(
        batch, iv, "ts", "lo", "hi", 1800.0).collect())
    assert got == want and len(got) == 6


def test_stream_interval_join_gate_empty_result_is_typed(spark, tmp_path):
    """With no anchor event (event_id % 97 == 0) the gate row's parquet
    sink gets no rows; the read-back must still give an empty
    (event_id long, iv_id long) frame, not a schema-inference error."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as e

    n = 5
    pq.write_table(pa.table({
        "event_id": pa.array(range(1, n + 1), pa.int64()),
        "ts": pa.array(pd.date_range("2024-01-01", periods=n, freq="h")
                       .to_numpy(), pa.timestamp("us")),
        "user_id": pa.array([7] * n, pa.int64()),
        "event_type": ["view"] * n,
        "value": [1.0] * n,
        "props": ["{}"] * n}), tmp_path / "events.parquet")
    with scope():
        out = e.q_stream_interval_join(spark, str(tmp_path))
        assert out.count() == 0
    assert [(f.name, f.dataType.simpleString()) for f in out.schema] == [
        ("event_id", "bigint"), ("iv_id", "bigint")]


def test_image_features_deterministic(spark):
    pdf = pd.DataFrame({
        "img_id": [1, 2, 3],
        "payload": [b"imagebytes-1", b"imagebytes-2", b"imagebytes-1"]})
    df = spark.createDataFrame(pdf)
    out = image_features(df, "img_id", fake=True).toPandas().sort_values("img_id")
    assert (out["width"] == 8).all() and (out["channels"] == 3).all()
    # identical payloads → identical fake decode → identical features
    r1 = out[out.img_id == 1].iloc[0]
    r3 = out[out.img_id == 3].iloc[0]
    assert r1["mean_r"] == r3["mean_r"] and r1["std_gray"] == r3["std_gray"]


def test_real_decoder_is_stubbed():
    with pytest.raises(NotImplementedError):
        decode_image(b"x", fake=False)


def test_frame_sample_plan(spark):
    pdf = pd.DataFrame({"vid": ["v1", "v2"], "n_frames": [100, 45]})
    out = frame_sample_plan(
        spark.createDataFrame(pdf), "vid", "n_frames", every_k=30).toPandas()
    assert out[out.vid == "v1"]["frame_idx"].tolist() == [0, 30, 60, 90]
    assert out[out.vid == "v2"]["frame_idx"].tolist() == [0, 30]


def test_stream_extract(spark, event_dir, tmp_path):
    """Feature extraction lifts to streams unchanged (stateless mapInArrow)."""
    import pandas as pd
    from pyradiomics_spark.config import ExtractionSettings
    from pyradiomics_spark.operators.features import extract_features
    from pyradiomics_spark.sources.pages import pages_pdf, PAGES_SCHEMA

    src_dir = str(tmp_path / "pages_stream")
    spark.createDataFrame(pages_pdf(4), schema=PAGES_SCHEMA).write.parquet(src_dir)
    stream = spark.readStream.schema(PAGES_SCHEMA).parquet(src_dir)
    out = extract_features(
        stream, keys=("url", "warc_ts"),
        settings=ExtractionSettings(bin_width=1.0, feature_classes=("firstorder",)))
    assert out.isStreaming
    got = _run_stream(out, "append")
    assert len(got) == spark.read.parquet(src_dir).count()
    assert "firstorder_Mean" in got.columns
    assert got["firstorder_Mean"].notna().all()


def test_stateful_running_stats(spark, tmp_path):
    """applyInPandasWithState: state survives across micro-batches — feed
    two parquet files as two batches, final state equals the batch aggregate."""
    import pandas as pd
    import numpy as np
    from pyradiomics_spark.streaming.stateful import (
        running_entity_stats, batch_entity_stats)

    src = str(tmp_path / "stateful_src")
    b1 = pd.DataFrame({"ent": ["a", "a", "b"], "value": [1.0, 2.0, 10.0]})
    b2 = pd.DataFrame({"ent": ["a", "b", "b"], "value": [3.0, 20.0, 30.0]})
    spark.createDataFrame(b1).write.parquet(src)
    spark.createDataFrame(b2).write.mode("append").parquet(src)

    stream = spark.readStream.schema("ent string, value double") \
        .option("maxFilesPerTrigger", 1).parquet(src)
    got = _run_stream(running_entity_stats(stream), "update")
    # final running state = the row with the largest cnt per entity
    # (cnt is monotone; positional 'last' would depend on sink row order)
    final = got.sort_values("cnt").groupby("entity").last()
    expect = batch_entity_stats(
        spark.read.parquet(src)).toPandas().set_index("entity")
    for ent in ("a", "b"):
        assert final.loc[ent, "cnt"] == expect.loc[ent, "cnt"]
        assert final.loc[ent, "mean"] == pytest.approx(expect.loc[ent, "mean"])
        assert final.loc[ent, "m2"] == pytest.approx(expect.loc[ent, "m2"])


def test_stream_dedup_exact(spark, tmp_path):
    """Streaming exact dedup: duplicate content across micro-batches within
    the watermark is dropped; survivor count matches the batch twin."""
    from pyradiomics_spark.streaming.sessions import stream_dedup_exact

    src = str(tmp_path / "dedup_src")
    pdf1 = pd.DataFrame({
        "doc_id": [0, 1, 2],
        "ts": pd.to_datetime(["2024-01-01 00:00"] * 3),
        "text": ["alpha", "beta", "alpha"]})
    pdf2 = pd.DataFrame({
        "doc_id": [3, 4],
        "ts": pd.to_datetime(["2024-01-01 00:20", "2024-01-01 00:30"]),
        "text": ["beta", "gamma"]})
    spark.createDataFrame(pdf1).write.parquet(src)
    spark.createDataFrame(pdf2).write.mode("append").parquet(src)

    stream = (spark.readStream
              .schema("doc_id long, ts timestamp, text string")
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = stream_dedup_exact(stream, "doc_id", "ts", watermark="1 hour",
                             by_content="text")
    got = _run_stream(out, "append")
    # distinct contents: alpha, beta, gamma
    assert sorted(got.text.tolist()) == ["alpha", "beta", "gamma"]

    batch = stream_dedup_exact(
        spark.read.parquet(src), "doc_id", "ts", by_content="text").toPandas()
    assert sorted(batch.text.tolist()) == sorted(got.text.tolist())
    assert "__content_h" not in got.columns


def test_stream_training_pipeline_matches_batch(spark, tmp_path):
    """dedup → extract composed on a stream == the same composition in
    batch: duplicate-content snapshots dropped, features identical."""
    from pyradiomics_spark.config import ExtractionSettings
    from pyradiomics_spark.streaming.sessions import stream_training_pipeline

    src = str(tmp_path / "pipe_src")
    pdf = pd.DataFrame({
        "url": ["u0", "u1", "u2", "u3"],
        "warc_ts": pd.to_datetime(["2024-01-01 00:00"] * 4),
        "text": ["alpha beta gamma", "delta epsilon", "alpha beta gamma",
                 "zeta"]})
    spark.createDataFrame(pdf.iloc[:2]).write.parquet(src)
    spark.createDataFrame(pdf.iloc[2:]).write.mode("append").parquet(src)
    settings = ExtractionSettings(bin_width=1.0, feature_classes=("firstorder",))

    stream = (spark.readStream
              .schema("url string, warc_ts timestamp, text string")
              .option("maxFilesPerTrigger", 1).parquet(src))
    got = _run_stream(stream_training_pipeline(stream, settings=settings),
                      "append")
    assert len(got) == 3  # u2 is a content dup of u0

    batch = stream_training_pipeline(
        spark.read.parquet(src), settings=settings).toPandas()
    key = "firstorder_Mean"
    assert sorted(round(v, 9) for v in got[key]) == sorted(
        round(v, 9) for v in batch[key])


def test_stream_asof_matches_batch(spark, tmp_path):
    """Stream-static point-in-time serving == the batch as-of join."""
    import numpy as np
    import pandas as pd
    from pyradiomics_spark.operators.asof import asof_join
    from pyradiomics_spark.streaming.sessions import stream_asof_sink

    rng = np.random.default_rng(11)
    left = pd.DataFrame({
        "ent": rng.choice(["x", "y", "z"], 200),
        "ts": pd.to_datetime(rng.integers(0, 10**6, 200), unit="s"),
        "lval": rng.normal(size=200)})
    right = pd.DataFrame({
        "ent": rng.choice(["x", "y", "z"], 60),
        "rts": pd.to_datetime(rng.integers(0, 10**6, 60), unit="s"),
        "rval": rng.normal(size=60)})
    src = str(tmp_path / "asof_stream_src")
    # two files → two micro-batches with maxFilesPerTrigger=1
    spark.createDataFrame(left.iloc[:120]).write.parquet(src)
    spark.createDataFrame(left.iloc[120:]).write.mode("append").parquet(src)
    rdf = spark.createDataFrame(right)

    stream = (spark.readStream
              .schema("ent string, ts timestamp, lval double")
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = str(tmp_path / "asof_out")
    ckpt = str(tmp_path / "asof_ckpt")
    q = stream_asof_sink(
        stream, rdf, on="ent", left_ts="ts", right_ts="rts",
        out_path=out, checkpoint=ckpt).trigger(availableNow=True).start()
    q.awaitTermination(120)

    got = spark.read.parquet(out).toPandas()
    expect = asof_join(
        spark.createDataFrame(left), rdf, on="ent", left_ts="ts",
        right_ts="rts").toPandas()
    key = ["ent", "ts", "lval"]
    a = got.sort_values(key).reset_index(drop=True)[expect.columns]
    b = expect.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b, check_like=True)

    # Idempotency (exactly-once output under at-least-once execution):
    # replay the whole stream into the SAME output path with a fresh
    # checkpoint — every batch is redelivered with the same batch_id and
    # must overwrite its own partition, not append duplicates.
    ckpt2 = str(tmp_path / "asof_ckpt_replay")
    q2 = stream_asof_sink(
        stream, rdf, on="ent", left_ts="ts", right_ts="rts",
        out_path=out, checkpoint=ckpt2).trigger(availableNow=True).start()
    q2.awaitTermination(120)
    replayed = spark.read.parquet(out).toPandas()
    assert len(replayed) == len(expect), "batch replay duplicated rows"


def test_audio_features_deterministic(spark):
    from pyradiomics_spark.multimodal.binaryops import (audio_features,
                                                        decode_audio)

    pdf = pd.DataFrame({"clip_id": [1, 2, 3],
                        "payload": [b"pcm-1", b"pcm-2", b"pcm-1"]})
    out = audio_features(spark.createDataFrame(pdf), "clip_id",
                         fake=True).toPandas().sort_values("clip_id")
    assert (out["n_samples"] == 256).all()
    r1, r3 = out.iloc[0], out.iloc[2]
    assert r1["rms"] == r3["rms"] and r1["zcr"] == r3["zcr"]
    assert 0.0 <= r1["zcr"] <= 1.0
    with pytest.raises(NotImplementedError):
        decode_audio(b"x", fake=False)


def test_image_resize_nn_geometry(spark):
    import numpy as np

    from pyradiomics_spark.multimodal.binaryops import (decode_image,
                                                        image_resize_stats,
                                                        resize_image_nn)

    img = decode_image(b"payload", fake=True)
    small = resize_image_nn(img, 4, 4)
    # NN 8->4 keeps exactly the even rows/cols
    assert np.array_equal(small, img[::2, ::2])
    pdf = pd.DataFrame({"img_id": [1], "payload": [b"payload"]})
    out = image_resize_stats(spark.createDataFrame(pdf), "img_id",
                             fake=True).toPandas().iloc[0]
    assert out["width"] == 4 and out["height"] == 4
    assert out["mean_r"] == float(small[:, :, 0].mean())


def test_stream_scd2_multibatch_equals_batch(spark, tmp_path):
    """Streaming SCD2: two micro-batches split MID-RUN — the open run is
    carried in state, re-emitted, and superseded when it closes; keeping
    the latest row per (entity, valid_from) reproduces the batch operator
    exactly."""
    from datetime import datetime as DT

    from pyradiomics_spark.operators.windows import scd2_compress
    from pyradiomics_spark.streaming.stateful import stream_scd2

    rows1 = [(1, DT(2024, 1, 1), "en", 0), (1, DT(2024, 1, 2), "en", 1),
             (2, DT(2024, 1, 1), "de", 2)]
    rows2 = [(1, DT(2024, 1, 3), "fr", 3), (1, DT(2024, 1, 4), "en", 4),
             (2, DT(2024, 1, 5), "de", 5)]
    schema = "uid long, ts timestamp, lang string, eid long"
    src = str(tmp_path / "scd2_src")
    spark.createDataFrame(rows1, schema).coalesce(1).write.parquet(src)
    import time

    time.sleep(2)  # the file source takes OLDEST files first (mtime);
    # one part file per write + distinct mtimes pin batch order =
    # event-time order, matching the operator's ordered-arrival contract
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode(
        "append").parquet(src)

    stream = spark.readStream.schema(schema) \
        .option("maxFilesPerTrigger", 1).parquet(src)
    got = _run_stream(stream_scd2(stream, "uid", "ts", "lang", "eid"),
                      "update")
    # latest emission per (ent, valid_from): closed supersedes open —
    # prefer the row with is_current=False, then the largest n_events
    got = (got.sort_values(["is_current", "n_events"],
                           ascending=[False, True])
           .groupby(["ent", "valid_from"]).last().reset_index())
    want = scd2_compress(
        spark.read.parquet(src), "uid", "ts", "lang", tie_col="eid"
    ).toPandas()
    got_set = {(r.ent, r.attr, r.valid_from, r.valid_to if pd.notna(r.valid_to) else None,
                r.n_events, r.is_current) for r in got.itertuples()}
    want_set = {(r.uid, r.lang, r.valid_from, r.valid_to if pd.notna(r.valid_to) else None,
                 r.n_events, r.is_current) for r in want.itertuples()}
    assert got_set == want_set


def test_stream_rate_limit_multibatch_quota(spark, tmp_path):
    """Windowed per-key quota across two micro-batches: the window's
    count carries in state, so the second batch's events see the quota
    already partly consumed; decisions equal the batch row_number
    twin."""
    import time
    from datetime import datetime as DT

    from pyradiomics_spark.streaming.stateful import stream_rate_limit

    # window = 1 hour, limit 2; key 1 sends 2+2 in one window (last two
    # must be denied — one in each batch), key 2 stays under quota and
    # rolls into a fresh window
    rows1 = [(1, DT(2024, 1, 1, 10, 0), 0), (1, DT(2024, 1, 1, 10, 5), 1),
             (1, DT(2024, 1, 1, 10, 10), 2), (2, DT(2024, 1, 1, 10, 0), 3)]
    rows2 = [(1, DT(2024, 1, 1, 10, 20), 4), (2, DT(2024, 1, 1, 11, 30), 5)]
    schema = "key long, ts timestamp, eid long"
    src = str(tmp_path / "rl_src")
    spark.createDataFrame(rows1, schema).coalesce(1).write.parquet(src)
    time.sleep(2)
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode(
        "append").parquet(src)
    stream = spark.readStream.schema(schema) \
        .option("maxFilesPerTrigger", 1).parquet(src)
    out = stream_rate_limit(stream, "key", "ts", "eid",
                            limit=2, window_seconds=3600)
    got = {r.tie: r.allowed
           for r in _run_stream(out, "append").itertuples()}
    assert got == {0: True, 1: True, 2: False, 3: True,
                   4: False, 5: True}


def test_stream_rate_limit_rejects_late_window(spark, tmp_path):
    import time
    from datetime import datetime as DT

    from pyradiomics_spark.streaming.stateful import stream_rate_limit

    rows1 = [(1, DT(2024, 1, 1, 12, 0), 0)]
    rows2 = [(1, DT(2024, 1, 1, 9, 0), 1)]   # 3 windows earlier
    schema = "key long, ts timestamp, eid long"
    src = str(tmp_path / "rl_late")
    spark.createDataFrame(rows1, schema).coalesce(1).write.parquet(src)
    time.sleep(2)
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode(
        "append").parquet(src)
    stream = spark.readStream.schema(schema) \
        .option("maxFilesPerTrigger", 1).parquet(src)
    out = stream_rate_limit(stream, "key", "ts", "eid",
                            limit=5, window_seconds=3600)
    q = (out.writeStream.format("memory").queryName("rl_late_q")
         .outputMode("append").trigger(availableNow=True).start())
    with pytest.raises(Exception, match="late data|StreamingQuery"):
        q.awaitTermination(120)
        if q.exception() is not None:
            raise q.exception()


def test_stream_attribution_multibatch_carries_bookends(spark, tmp_path):
    """First/last touch carried in state across batches: a conversion
    in batch 2 credits touches from batch 1; decisions equal the batch
    operator's per-conversion bookends."""
    import time
    from datetime import datetime as DT

    from pyradiomics_spark.streaming.stateful import stream_attribution

    rows1 = [(1, DT(2024, 1, 1, 10, 0), "ad", 0),
             (1, DT(2024, 1, 1, 10, 5), "buy", 1),      # ft=lt=ad
             (1, DT(2024, 1, 1, 10, 10), "email", 2),
             (2, DT(2024, 1, 1, 10, 0), "buy", 3)]       # no prior touch
    rows2 = [(1, DT(2024, 1, 1, 11, 0), "buy", 4),       # ft=ad, lt=email
             (2, DT(2024, 1, 1, 11, 0), "search", 5),
             (2, DT(2024, 1, 1, 11, 5), "buy", 6)]       # ft=lt=search
    schema = "key long, ts timestamp, et string, eid long"
    src = str(tmp_path / "attr_src")
    spark.createDataFrame(rows1, schema).coalesce(1).write.parquet(src)
    time.sleep(2)
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode(
        "append").parquet(src)
    stream = spark.readStream.schema(schema) \
        .option("maxFilesPerTrigger", 1).parquet(src)
    out = stream_attribution(stream, "key", "ts", "et", "eid", "buy")
    got = {r.tie: (r.first_touch, r.last_touch)
           for r in _run_stream(out, "append").itertuples()}
    assert got == {1: ("ad", "ad"), 3: (None, None),
                   4: ("ad", "email"), 6: ("search", "search")}


def test_stream_attribution_single_batch_equals_batch_operator(
        spark, tmp_path):
    from datetime import datetime as DT

    from pyradiomics_spark.operators.events import conversion_attribution
    from pyradiomics_spark.streaming.stateful import stream_attribution

    rows = []
    import random

    rnd = random.Random(5)
    types = ["ad", "email", "search", "buy"]
    for u in range(12):
        for i in range(rnd.randint(2, 12)):
            rows.append((u, DT(2024, 1, 1 + i), rnd.choice(types), 
                         u * 100 + i))
    schema = "key long, ts timestamp, et string, eid long"
    src = str(tmp_path / "attr_one")
    df = spark.createDataFrame(rows, schema)
    df.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    got = _run_stream(
        stream_attribution(stream, "key", "ts", "et", "eid", "buy"), "append")
    # census the emitted pairs -> must equal the batch operator
    import collections

    first = collections.Counter(got["first_touch"].tolist())
    last = collections.Counter(got["last_touch"].tolist())
    want = {r.channel: (r.first_touch, r.last_touch)
            for r in conversion_attribution(
                spark.read.parquet(src), "key", "ts", "et", "buy",
                tie_col="eid").collect()}
    for ch, (fn, ln) in want.items():
        assert first.get(ch, 0) == fn, ch
        assert last.get(ch, 0) == ln, ch

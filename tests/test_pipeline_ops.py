"""Tests for checkpoint/resume, 2-D patch windows, skew salting,
streaming incremental ingest, multimodal stubs, dedup/ANN recall."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from europe_gis_spark.checkpoint import lineage
from europe_gis_spark.datagen import geodata
from europe_gis_spark.operators import (
    dedup,
    graph,
    multimodal,
    similarity,
    skew,
    textops,
    windows,
)
from europe_gis_spark.streaming import incremental


# ------------------------------------------------------------- checkpoint
def test_checkpoint_resume_idempotent(spark, tmp_path):
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    units = spark.range(0, 8).select(F.col("id").alias("unit_id"))
    calls = []

    def process(pend):
        calls.append(pend.count())
        return pend.withColumn("payload", F.col("unit_id") * 10)

    n1 = lineage.run_with_checkpoint(spark, units, process, out, ckpt, "run1")
    assert n1 == 8
    # resume: nothing pending, process not re-run
    n2 = lineage.run_with_checkpoint(spark, units, process, out, ckpt, "run1")
    assert n2 == 0
    assert calls == [8]
    # new units only are processed on the next increment
    units2 = spark.range(0, 12).select(F.col("id").alias("unit_id"))
    n3 = lineage.run_with_checkpoint(spark, units2, process, out, ckpt, "run1")
    assert n3 == 4
    got = spark.read.parquet(out)
    assert got.count() == 12
    ck = spark.read.parquet(ckpt)
    assert ck.count() == 12  # one lineage row per unit
    assert set(ck.columns) == {
        "run_id", "unit_id", "bounds", "row_count", "files", "inserted_utc",
    }


def test_iceberg_seam_sql_and_capability(spark):
    """MERGE INTO generation is format-correct; fmt='iceberg' without
    the runtime raises a clear capability error; parquet default
    untouched (covered by the resume tests)."""
    sql = lineage.checkpoint_merge_sql("glue.ckpt.lineage")
    assert sql.startswith("MERGE INTO glue.ckpt.lineage t")
    assert "USING ckpt_updates s" in sql
    assert "ON t.run_id = s.run_id AND t.unit_id = s.unit_id" in sql
    assert "WHEN MATCHED THEN UPDATE SET *" in sql
    assert "WHEN NOT MATCHED THEN INSERT *" in sql
    assert lineage.iceberg_available(spark) is False  # no jars here
    metrics = spark.createDataFrame(
        pd.DataFrame({"unit_id": [1], "row_count": [5]})
    )
    with pytest.raises(RuntimeError, match="iceberg_available=False"):
        lineage.write_checkpoint(spark, metrics, "tbl", "r1", fmt="iceberg")


# ------------------------------------------------------------- 2-D windows
def test_patch_extraction_matches_numpy(spark):
    tiles = geodata.raster_tiles()
    df = spark.createDataFrame(tiles[tiles.layer == "dem"])
    win = 5
    got = windows.extract_patches(df, tile_w=16, win=win).toPandas()

    # oracle: whole-raster numpy sliding windows with BAD padding
    sub = tiles[tiles.layer == "dem"]
    H = (sub.tile_row.max() + 1) * 16
    W = (sub.tile_col.max() + 1) * 16
    full = np.full((H + win - 1, W + win - 1), windows.BAD_VALUE, dtype=np.float32)
    for r in sub.itertuples():
        full[r.tile_row * 16 : r.tile_row * 16 + 16, r.tile_col * 16 : r.tile_col * 16 + 16] = (
            np.array(r.tile, dtype=np.float32).reshape(16, 16)
        )
    sw = np.lib.stride_tricks.sliding_window_view(full, (win, win))
    assert len(got) == H * W
    sample = got.sample(300, random_state=1)
    for r in sample.itertuples():
        want_patch = sw[r.i, r.j].ravel()
        np.testing.assert_array_equal(np.array(r.patch, dtype=np.float32), want_patch)
        assert r.valid == bool(want_patch.min() > windows.BAD_VALUE)
        assert r.label == full[r.i + win // 2, r.j + win // 2]


def test_patch_labels_come_from_label_layer(spark):
    """W3 cross-layer labeling: label = center pixel of the LABEL
    layer's raster, including centers that fall in the halo region."""
    tiles = geodata.raster_tiles()
    both = tiles[tiles.layer.isin(["dem", "pop"])]
    df = spark.createDataFrame(both)
    win = 5
    got = windows.extract_patches(df, tile_w=16, win=win, label_layer="pop").toPandas()
    assert set(got.layer.unique()) == {"dem"}  # label layer is not a feature

    sub = tiles[tiles.layer == "pop"]
    H = (sub.tile_row.max() + 1) * 16
    W = (sub.tile_col.max() + 1) * 16
    full = np.full((H + win - 1, W + win - 1), windows.BAD_VALUE, dtype=np.float32)
    for r in sub.itertuples():
        full[r.tile_row * 16 : r.tile_row * 16 + 16, r.tile_col * 16 : r.tile_col * 16 + 16] = (
            np.array(r.tile, dtype=np.float32).reshape(16, 16)
        )
    for r in got.sample(200, random_state=2).itertuples():
        assert r.label == full[r.i + win // 2, r.j + win // 2]


def test_missing_label_tile_yields_bad_labels_not_feature_values(spark):
    """If the label layer lacks a tile the feature layer has, labels for
    that tile must be BAD (filtered downstream) — never the feature
    layer's own pixel values masquerading as labels."""
    tiles = geodata.raster_tiles()
    pop_missing = tiles[
        ~((tiles.layer == "pop") & (tiles.tile_row == 0) & (tiles.tile_col == 0))
    ]
    df = spark.createDataFrame(pop_missing)
    got = windows.extract_patches(df, tile_w=16, win=5, label_layer="pop").toPandas()
    # centers whose label pixel (i+2, j+2) falls INSIDE the missing pop
    # tile must be BAD; centers whose label pixel lands in a neighboring
    # pop tile's halo strip legitimately get that tile's real labels
    hole = got[(got.layer == "dem") & (got.i + 2 < 16) & (got.j + 2 < 16)]
    assert len(hole) == 14 * 14
    assert (hole.label <= windows.BAD_VALUE).all()
    edge = got[(got.layer == "dem") & (got.i + 2 >= 16) & (got.i < 16) & (got.j < 16)]
    assert (edge.label > windows.BAD_VALUE).any()

    # drop the tile AND its S/E/SE neighbors: the dem (0,0) group now has
    # ZERO label rows — the old code silently used dem pixels as labels
    pop_gone = tiles[
        ~((tiles.layer == "pop") & (tiles.tile_row <= 1) & (tiles.tile_col <= 1))
    ]
    got2 = windows.extract_patches(
        spark.createDataFrame(pop_gone), tile_w=16, win=5, label_layer="pop"
    ).toPandas()
    tile00 = got2[(got2.layer == "dem") & (got2.i < 16) & (got2.j < 16)]
    assert len(tile00) == 256
    assert (tile00.label <= windows.BAD_VALUE).all()


def test_streaming_dedup_key_only_with_watermark(spark, tmp_path):
    """ts_col variant: the SAME key at a DIFFERENT timestamp (inside the
    watermark) is still a duplicate and must be dropped."""
    import datetime as dt

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    ck = str(tmp_path / "ck")
    t0 = dt.datetime(2024, 1, 1)
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "fp": ["aaa", "aaa", "bbb"],
            "ts": [t0, t0 + dt.timedelta(minutes=5), t0 + dt.timedelta(minutes=6)],
        }
    )
    spark.createDataFrame(pdf).write.mode("append").parquet(src)
    from europe_gis_spark.streaming import incremental

    stream = spark.readStream.schema("doc_id long, fp string, ts timestamp").parquet(src)
    q = (
        incremental.dedup_stream(stream, key_cols=("fp",), ts_col="ts")
        .writeStream.format("parquet")
        .option("path", dst)
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(dst).collect()
    assert sorted(r.fp for r in got) == ["aaa", "bbb"]


def test_halo_only_groups_emit_no_phantom_patches(spark):
    """A tile absent from the input must produce NO patch rows even when
    a neighbor emits an apron strip keyed to it."""
    tiles = geodata.raster_tiles()
    sub = tiles[(tiles.layer == "dem") & ~((tiles.tile_row == 0) & (tiles.tile_col == 0))]
    df = spark.createDataFrame(sub)
    got = windows.extract_patches(df, tile_w=16, win=5).toPandas()
    assert len(got) == len(sub) * 16 * 16
    assert not ((got.i < 16) & (got.j < 16)).any()


def test_weighted_interleave_proportions_and_determinism(spark):
    a = spark.range(0, 8000).select(F.col("id"), F.lit("a").alias("src"))
    b = spark.range(0, 2000).select(
        (F.col("id") + 100000).alias("id"), F.lit("b").alias("src")
    )
    out = windows.weighted_interleave([a, b], [0.5, 0.5], seed=11)
    counts = {r.src: r["count"] for r in out.groupBy("src").count().collect()}
    # scarcest source: b (2000 rows at weight .5 → s=4000, c_i≈2000 each)
    assert counts["b"] == 2000
    assert counts["a"] == pytest.approx(2000, rel=0.1)
    # deterministic under reseed
    again = windows.weighted_interleave([a, b], [0.5, 0.5], seed=11)
    assert out.collect() == again.collect()
    # 90/10 weighting
    out2 = windows.weighted_interleave([a, b], [0.9, 0.1], seed=11)
    c2 = {r.src: r["count"] for r in out2.groupBy("src").count().collect()}
    assert c2["a"] / (c2["a"] + c2["b"]) == pytest.approx(0.9, abs=0.03)


def test_weighted_interleave_sizes_in_one_action(spark):
    """Sizing must fire exactly ONE Spark action for all sources (a
    tagged union + per-tag count), not one count() per source — and
    zero actions when sizes are supplied."""
    import unittest.mock as mock

    a = spark.range(0, 400).select(F.col("id"), F.lit("a").alias("src"))
    b = spark.range(0, 100).select(F.col("id"), F.lit("b").alias("src"))
    c = spark.range(0, 200).select(F.col("id"), F.lit("c").alias("src"))
    # patch the CONCRETE DataFrame class (pyspark 4's pyspark.sql
    # .DataFrame is an abstract facade; instances resolve methods on
    # pyspark.sql.classic.dataframe.DataFrame)
    DataFrame = type(a)
    actions = {"n": 0}
    orig_collect, orig_count = DataFrame.collect, DataFrame.count

    def counting_collect(self):
        actions["n"] += 1
        return orig_collect(self)

    def counting_count(self):
        actions["n"] += 1
        return orig_count(self)

    with mock.patch.object(DataFrame, "collect", counting_collect), \
         mock.patch.object(DataFrame, "count", counting_count):
        out = windows.weighted_interleave([a, b, c], [1.0, 1.0, 2.0], seed=3)
        assert actions["n"] == 1
        actions["n"] = 0
        out_sized = windows.weighted_interleave(
            [a, b, c], [1.0, 1.0, 2.0], seed=3, sizes=[400, 100, 200]
        )
        assert actions["n"] == 0
    # explicit sizes produce the identical sample
    assert out.collect() == out_sized.collect()


def test_batched_inference(spark):
    pdf = pd.DataFrame(
        {"sid": list(range(50)), "patch": [[float(i), float(i + 1)] for i in range(50)]}
    )
    df = spark.createDataFrame(pdf)
    out = windows.batched_inference(df, lambda m: m.sum(axis=1)).toPandas()
    assert sorted(out.pred.tolist()) == sorted([2.0 * i + 1 for i in range(50)])


# ------------------------------------------------------------- skew salting
def test_salted_join_preserves_multiplicity(spark):
    # hot cell 7 with 2000 rows, cold cells with a few
    probe = spark.createDataFrame(
        pd.DataFrame(
            {
                "cell": [7] * 2000 + [1, 2, 3] * 10,
                "v": list(range(2030)),
            }
        )
    )
    build = spark.createDataFrame(
        pd.DataFrame({"cell": [7, 1, 2, 3, 9], "name": ["h", "a", "b", "c", "z"]})
    )
    freq = skew.cell_frequencies(probe, sample_frac=0.5, seed=1)
    salts = skew.salt_map(freq, rows_per_task=100.0, max_salt=8)
    got = skew.salted_join(probe, build, salts).groupBy("cell").count().collect()
    want = {7: 2000, 1: 10, 2: 10, 3: 10}
    assert {r.cell: r["count"] for r in got} == want
    # plain join equality
    plain = probe.join(build, "cell").groupBy("cell").count().collect()
    assert {r.cell: r["count"] for r in plain} == want


# ------------------------------------------------------------- streaming
def test_incremental_ingest_availablenow(spark, tmp_path):
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    ck = str(tmp_path / "ck")
    spark.range(0, 100).write.parquet(src + "/batch1")
    schema = "id long"
    incremental.incremental_ingest(spark, src + "/*", dst, ck, schema)
    assert spark.read.parquet(dst).count() == 100
    # new files arrive; second availableNow run picks up only those
    spark.range(100, 150).write.parquet(src + "/batch2")
    incremental.incremental_ingest(spark, src + "/*", dst, ck, schema)
    got = spark.read.parquet(dst)
    assert got.count() == 150
    assert got.select(F.countDistinct("id")).collect()[0][0] == 150


def test_windowed_event_counts_batch(spark):
    pdf = pd.DataFrame(
        {
            "ts": pd.to_datetime(
                ["2024-01-01 00:10", "2024-01-01 00:50", "2024-01-01 01:10"]
            ),
            "event_type": ["a", "a", "a"],
            "value": [1.0, 2.0, 3.0],
        }
    )
    out = incremental.windowed_event_counts(spark.createDataFrame(pdf)).collect()
    got = {(r.win.start.hour, r.n, r.sum_value) for r in out}
    assert got == {(0, 2, 3.0), (1, 1, 3.0)}


def test_stateful_sessionize_across_restarts(spark, tmp_path):
    """applyInPandasWithState: the open session lives in the CHECKPOINTED
    state store — a second availableNow run (new files, same checkpoint)
    must close a session opened by the first run."""
    import datetime as dt

    src = str(tmp_path / "src")
    ck = str(tmp_path / "ck")

    def write_batch(name, rows):
        pdf = pd.DataFrame(
            rows, columns=["user_id", "ts", "value"]
        ).astype({"user_id": "int64", "value": "float64"})
        spark.createDataFrame(pdf).write.mode("append").parquet(src)

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    dst = str(tmp_path / "sessions")

    def run(_name):
        stream = (
            spark.readStream.schema("user_id long, ts timestamp, value double")
            .parquet(src)
        )
        from europe_gis_spark.streaming import incremental

        q = (
            incremental.stateful_sessionize(stream, gap_sec=3600)
            .writeStream.format("parquet")
            .option("path", dst)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            (r.user_id, r.session_start, r.session_end, r.n_events, r.sum_value)
            for r in spark.read.parquet(dst).collect()
        }

    sec = lambda m: int((t0 + dt.timedelta(minutes=m)).timestamp())
    # batch 1: user 1 has two sessions (gap > 1h) — first closes in-batch;
    # user 2 one open session
    write_batch(
        "b1",
        [
            (1, t0, 1.0),
            (1, t0 + dt.timedelta(minutes=10), 2.0),
            (1, t0 + dt.timedelta(minutes=100), 4.0),
            (2, t0 + dt.timedelta(minutes=5), 8.0),
        ],
    )
    got1 = run("sess1")
    assert got1 == {(1, sec(0), sec(10), 2, 3.0)}
    # batch 2 (same checkpoint): closes user 1's open session AND user 2's
    write_batch(
        "b2",
        [
            (1, t0 + dt.timedelta(minutes=300), 16.0),
            (2, t0 + dt.timedelta(minutes=400), 32.0),
        ],
    )
    got2 = run("sess2")  # parquet sink accumulates: batch-1 rows + new closes
    assert got2 == got1 | {
        (1, sec(100), sec(100), 1, 4.0),
        (2, sec(5), sec(5), 1, 8.0),
    }


def test_streaming_dedup_across_restarts(spark, tmp_path):
    """dropDuplicates on a stream: a fingerprint seen in run 1 must be
    suppressed when it reappears in run 2 (state store persists)."""
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    ck = str(tmp_path / "ck")

    def write(rows):
        spark.createDataFrame(
            pd.DataFrame(rows, columns=["doc_id", "fp"])
        ).write.mode("append").parquet(src)

    def run():
        from europe_gis_spark.streaming import incremental

        stream = spark.readStream.schema("doc_id long, fp string").parquet(src)
        q = (
            incremental.dedup_stream(stream, key_cols=("fp",))
            .writeStream.format("parquet")
            .option("path", dst)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sorted(
            (r.doc_id, r.fp) for r in spark.read.parquet(dst).collect()
        )

    write([(1, "aaa"), (2, "bbb"), (3, "aaa")])  # in-batch dup
    got1 = run()
    assert sorted(fp for _, fp in got1) == ["aaa", "bbb"]  # one copy each
    write([(4, "aaa"), (5, "ccc")])  # cross-restart dup + fresh key
    got2 = run()
    assert sorted(fp for _, fp in got2) == ["aaa", "bbb", "ccc"]
    assert 4 not in {d for d, _ in got2}


def test_stateful_sessionize_matches_batch_semantics(spark, tmp_path):
    """The streaming sessionizer's CLOSED sessions must equal a batch
    gap-sessionization of the same data (open tail sessions excluded)."""
    import datetime as dt

    rng = np.random.default_rng(3)
    t0 = dt.datetime(2024, 3, 1)
    rows = []
    for uid in range(5):
        t = t0
        for _ in range(40):
            t = t + dt.timedelta(seconds=int(rng.integers(60, 7200)))
            rows.append((uid, t, float(rng.integers(1, 10))))
    pdf = pd.DataFrame(rows, columns=["user_id", "ts", "value"]).astype(
        {"user_id": "int64", "value": "float64"}
    )

    # batch oracle: pandas gap sessionization, drop each user's last
    # (still-open) session
    want = set()
    for uid, g in pdf.sort_values("ts").groupby("user_id"):
        ts = (g.ts.astype("int64") // 1_000_000_000).tolist()
        vals = g.value.tolist()
        sessions = []
        start, last, n, s = ts[0], ts[0], 1, vals[0]
        for t, v in zip(ts[1:], vals[1:]):
            if t - last > 3600:
                sessions.append((uid, start, last, n, s))
                start, last, n, s = t, t, 1, v
            else:
                last, n, s = t, n + 1, s + v
        want |= set(sessions)  # open tail excluded

    src, dst, ck = str(tmp_path / "s"), str(tmp_path / "d"), str(tmp_path / "c")
    spark.createDataFrame(pdf).write.mode("append").parquet(src)
    from europe_gis_spark.streaming import incremental

    stream = spark.readStream.schema("user_id long, ts timestamp, value double").parquet(src)
    q = (
        incremental.stateful_sessionize(stream, gap_sec=3600)
        .writeStream.format("parquet")
        .option("path", dst)
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events, r.sum_value)
        for r in spark.read.parquet(dst).collect()
    }
    assert got == want


def test_stream_static_enrich_and_idempotent_upsert_sink(spark, tmp_path):
    """§2.9: stream–static broadcast enrichment + foreachBatch keyed
    upsert sink — in-batch dups, re-crawled keys across triggers, and
    checkpointed restarts all land each key exactly once."""
    src, out, ck = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    dim = spark.createDataFrame(
        pd.DataFrame({"user_id": [1, 2], "name": ["a", "b"]})
    )
    spark.createDataFrame(
        pd.DataFrame({"user_id": [1, 1, 2], "v": [10, 10, 20]})
    ).write.parquet(src)

    def run_wave():
        stream = spark.readStream.schema("user_id long, v long").parquet(src)
        incremental.upsert_sink(
            incremental.enrich_stream(stream, dim, "user_id"),
            out, ck, key_cols=("user_id",),
        )

    run_wave()
    rows = {r.user_id: (r.v, r.name) for r in spark.read.parquet(out).collect()}
    assert rows == {1: (10, "a"), 2: (20, "b")}  # in-batch dup collapsed
    # wave 2: re-crawl of key 2 (must NOT duplicate or overwrite) + new
    # key 3 with no dimension row (left join → NULL name)
    spark.createDataFrame(
        pd.DataFrame({"user_id": [2, 3], "v": [21, 30]})
    ).write.mode("append").parquet(src)
    run_wave()
    rows = {r.user_id: (r.v, r.name) for r in spark.read.parquet(out).collect()}
    assert rows == {1: (10, "a"), 2: (20, "b"), 3: (30, None)}
    assert spark.read.parquet(out).count() == 3  # exactly one row per key


def test_upsert_sink_misnamed_key_aborts_loudly(spark, tmp_path):
    """A key column absent from the at-rest sink must ABORT the batch
    (StreamingQueryException wrapping the AnalysisException), never be
    swallowed as 'empty sink shell' — swallowing would silently disable
    the anti-join and append duplicates on every replay."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    src, out, ck = str(tmp_path / "s"), str(tmp_path / "o"), str(tmp_path / "c")
    spark.createDataFrame(pd.DataFrame({"k": [1], "v": [1]})).write.parquet(src)
    # seed the sink WITHOUT the misnamed key column
    spark.createDataFrame(pd.DataFrame({"other": [9]})).write.parquet(out)
    stream = spark.readStream.schema("k long, v long").parquet(src)
    with pytest.raises(StreamingQueryException, match="k"):
        incremental.upsert_sink(stream, out, ck, key_cols=("k",))


# ------------------------------------------------------------- multimodal
def test_multimodal_stub_plumbing(spark):
    pdf = pd.DataFrame(
        {
            "url": ["u1", "u2", "u3"],
            "payload": [b"abc", b"", b"xyz" * 100],
        }
    )
    out = multimodal.image_features(spark.createDataFrame(pdf)).toPandas()
    assert len(out) == 3
    assert set(out.columns) == {"key", "mean_r", "mean_g", "mean_b", "phash"}
    # deterministic: same payload → same features
    out2 = multimodal.image_features(spark.createDataFrame(pdf)).toPandas()
    pd.testing.assert_frame_equal(
        out.sort_values("key").reset_index(drop=True),
        out2.sort_values("key").reset_index(drop=True),
    )
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"real", fake=False)


def test_audio_features_plumbing(spark):
    pdf = pd.DataFrame({"url": ["a1", "a2"], "payload": [b"wav1", b""]})
    out = multimodal.audio_features(spark.createDataFrame(pdf)).toPandas()
    assert set(out.columns) == {"key", "n_samples", "rms", "zero_crossings"}
    assert (out.n_samples == 1024).all()
    assert (out.rms > 0).all()
    out2 = multimodal.audio_features(spark.createDataFrame(pdf)).toPandas()
    pd.testing.assert_frame_equal(
        out.sort_values("key").reset_index(drop=True),
        out2.sort_values("key").reset_index(drop=True),
    )
    with pytest.raises(NotImplementedError):
        multimodal.decode_audio(b"real", fake=False)


def test_bmp_real_decode_roundtrip_and_golden():
    """The pure-Python BMP path is REAL: encode→decode is identity, the
    fake flag is honored, and a hand-assembled spec-conformant 1×1 red
    BMP (independent of our encoder) decodes to the exact pixel."""
    import struct

    img = np.array(
        [[[255, 0, 0], [0, 255, 0], [0, 0, 255]],
         [[1, 2, 3], [4, 5, 6], [250, 128, 7]]],
        dtype=np.uint8,
    )
    payload = multimodal.encode_bmp(img)
    assert payload[:2] == b"BM"
    np.testing.assert_array_equal(multimodal.decode_image(payload), img)
    # fake=False must take the real path without PIL
    np.testing.assert_array_equal(
        multimodal.decode_image(payload, fake=False), img
    )
    # fake=True still forces the digest decoder (8x8x3)
    assert multimodal.decode_image(payload, fake=True).shape == (8, 8, 3)
    # golden: 1x1 red pixel assembled from the BMP spec by hand —
    # bottom-up row, BGR order, row padded to 4 bytes
    golden = (
        struct.pack("<2sIHHI", b"BM", 14 + 40 + 4, 0, 0, 14 + 40)
        + struct.pack("<IiiHHIIiiII", 40, 1, 1, 1, 24, 0, 4, 0, 0, 0, 0)
        + b"\x00\x00\xff\x00"  # BGR=(0,0,255)=red + 1 pad byte
    )
    np.testing.assert_array_equal(
        multimodal.decode_bmp(golden), np.array([[[255, 0, 0]]], np.uint8)
    )
    # compressed stays gated
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"\x89PNG....", fake=False)


def test_wav_real_decode_roundtrip_and_stereo_downmix():
    wave = np.sin(np.linspace(0, 12.0, 300)).astype(np.float32) * 0.8
    payload = multimodal.encode_wav(wave, sample_rate=8000)
    out = multimodal.decode_audio(payload)  # auto-detect → real decode
    assert out.dtype == np.float32 and len(out) == 300
    # PCM convention quantizes ×32767 but decodes ÷32768: half-step
    # rounding + the scale mismatch bound the error at ~|x|/32768 + ½LSB
    assert float(np.max(np.abs(out - wave))) <= 1.0 / 16384
    # stereo: L=+0.5, R=-0.5 → mean-downmix ≈ 0
    import struct

    pcm = np.empty(64, dtype="<i2")
    pcm[0::2] = 16384
    pcm[1::2] = -16384
    fmt = struct.pack("<HHIIHH", 1, 2, 8000, 32000, 4, 16)
    data = pcm.tobytes()
    stereo = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    mix = multimodal.decode_wav(stereo)
    assert len(mix) == 32 and np.all(mix == 0.0)
    # the fake flag is honored; compressed stays gated
    assert len(multimodal.decode_audio(payload, fake=True)) == 1024
    with pytest.raises(NotImplementedError):
        multimodal.decode_audio(b"OggS....", fake=False)


def test_multimodal_features_over_real_payloads(spark):
    """image/audio feature UDFs over REAL BMP/WAV payloads (fake=None
    auto-detect): per-channel means and RMS must match numpy oracles."""
    solid = np.full((4, 4, 3), [10, 200, 30], dtype=np.uint8)
    grad = np.arange(4 * 4 * 3, dtype=np.uint8).reshape(4, 4, 3)
    pdf = pd.DataFrame(
        {
            "url": ["s", "g"],
            "payload": [multimodal.encode_bmp(solid), multimodal.encode_bmp(grad)],
        }
    )
    out = (
        multimodal.image_features(spark.createDataFrame(pdf), fake=None)
        .toPandas()
        .set_index("key")
    )
    assert out.loc["s", ["mean_r", "mean_g", "mean_b"]].tolist() == [10.0, 200.0, 30.0]
    assert out.loc["g", "mean_r"] == float(grad[:, :, 0].mean())

    wave = np.linspace(-0.5, 0.5, 200).astype(np.float32)
    apdf = pd.DataFrame({"url": ["w"], "payload": [multimodal.encode_wav(wave)]})
    aout = multimodal.audio_features(
        spark.createDataFrame(apdf), fake=None
    ).toPandas()
    assert aout.n_samples.iloc[0] == 200
    dec = multimodal.decode_wav(multimodal.encode_wav(wave))
    assert abs(aout.rms.iloc[0] - float(np.sqrt(np.mean(dec * dec)))) < 1e-9


def test_contamination_flags_semantics(spark):
    """Docs sharing a 5-gram with the benchmark are flagged; others not;
    benchmark members flag themselves (that IS decontamination)."""
    from europe_gis_spark.operators import textops

    bench_text = "alpha beta gamma delta epsilon zeta"
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    bench_text,  # the benchmark doc itself
                    "prefix words alpha beta gamma delta epsilon more tail",
                    "совершенно unrelated text with no shared five gram at all",
                ],
            }
        )
    )
    bench = docs.filter(F.col("doc_id") == 1)
    got = {
        r.doc_id: (r.n_hits, r.contaminated)
        for r in textops.contamination_flags(docs, bench).collect()
    }
    assert got[1][1] and got[2][1] and not got[3][1]
    assert got[3] == (0, False)
    assert got[2][0] >= 1  # shares 'alpha beta gamma delta epsilon'


def test_repetition_stats_known_values(spark):
    from europe_gis_spark.operators import textops

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2],
                "text": ["spam spam spam spam eggs", "a b c d e"],
            }
        )
    )
    got = {r.doc_id: r for r in textops.repetition_stats(docs).collect()}
    assert got[1].n_tokens == 5 and got[1].top_token_frac == 0.8
    assert got[1].distinct_ratio == 0.4
    assert got[2].distinct_ratio == 1.0 and got[2].top_token_frac == 0.2


def test_pii_scrub_counts_and_fp(spark):
    from europe_gis_spark.operators import textops

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2],
                "text": [
                    "mail a.b+c@test-host.org or x@y.io, call +44 (20) 7946-0958 ok",
                    "clean text without identifiers",
                ],
            }
        )
    )
    got = {r.doc_id: r for r in textops.pii_scrub(docs).collect()}
    assert (got[1].n_emails, got[1].n_phones) == (2, 1)
    assert (got[2].n_emails, got[2].n_phones) == (0, 0)
    # unscathed docs keep their original normalized fingerprint
    import hashlib

    assert got[2].scrubbed_fp == hashlib.md5(
        b"clean text without identifiers"
    ).hexdigest()
    assert got[1].scrubbed_fp != got[2].scrubbed_fp


def test_chunk_documents_reconstruction(spark):
    """Chunking invariants: overlap regions agree between neighbors,
    dropping the overlap reconstructs the doc byte-for-byte, short docs
    yield exactly one chunk, offsets are stride-exact."""
    from europe_gis_spark.operators import textops

    text = "".join(chr(97 + (i * 7) % 26) for i in range(1200))
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": [text, "short"]})
    )
    rows = sorted(
        textops.chunk_documents(docs, chunk_chars=512, overlap=64).collect(),
        key=lambda r: (r.doc_id, r.chunk_id),
    )
    c1 = [r for r in rows if r.doc_id == 1]
    assert [r.off for r in c1] == [448 * i for i in range(len(c1))]
    rebuilt = c1[0].chunk_text + "".join(r.chunk_text[64:] for r in c1[1:])
    assert rebuilt == text
    for prev, cur in zip(c1, c1[1:]):
        assert prev.chunk_text[-64:] == cur.chunk_text[:64]
    c2 = [r for r in rows if r.doc_id == 2]
    assert len(c2) == 1 and c2[0].chunk_text == "short" and c2[0].n_chars == 5
    with pytest.raises(ValueError, match="overlap"):
        textops.chunk_documents(docs, chunk_chars=64, overlap=64)


def test_winnow_candidate_pairs_substring_reuse(spark):
    """Substring-level dedup: docs sharing a long quoted passage are
    flagged even when the rest of the document differs entirely (the
    case whole-doc shingle Jaccard misses); unrelated docs are not."""
    from europe_gis_spark.operators import textops

    quote = "science may set limits to knowledge but should never set limits to imagination "
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "intro words before " + quote * 2 + "and a first tail",
                    "completely different framing yet " + quote * 2 + "another ending here",
                    "no overlap at all just plain original filler content for this one ok",
                ],
            }
        )
    )
    got = {
        (r.doc_a, r.doc_b): r.n_shared
        for r in textops.winnow_candidate_pairs(docs, min_shared=3).collect()
    }
    assert (1, 2) in got and got[(1, 2)] >= 3
    assert not any(3 in p for p in got)


def test_lm_score_flags_gibberish(spark):
    """Corpus-trained trigram LM: a doc made of trigrams never seen
    elsewhere must score lower than docs sharing the corpus style."""
    from europe_gis_spark.operators import textops

    normal = "the quick brown fox jumps over the lazy dog and runs on "
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [normal * 5, normal * 4 + "fox dog runs", "qzx jvq wqk zzv xqj" * 4],
            }
        )
    )
    got = {r.doc_id: r for r in textops.char_trigram_lm_scores(docs).collect()}
    assert got[3].avg_log10p < got[1].avg_log10p
    assert got[3].avg_log10p < got[2].avg_log10p
    import re

    nt = re.sub(r"\s+", " ", (normal * 5).lower())  # normalized, NOT trimmed
    assert got[1].n_tris == len(nt) - 2


def test_dedup_keep_flags_semantics(spark):
    from europe_gis_spark.operators import dedup as dd

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3, 9], "text": ["x"] * 4})
    )
    comp = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3], "component": [1, 1, 1]})
    )
    got = {r.doc_id: (r.keep, r.component) for r in dd.keep_flags(docs, comp).collect()}
    # representative kept, members dropped, non-clustered kept
    assert got == {1: (True, 1), 2: (False, 1), 3: (False, 1), 9: (True, None)}


# ------------------------------------------------------------- dedup & ANN
def test_simhash_finds_planted_near_dups(spark):
    """Banded retrieval guarantee: 4×16-bit bands + hamming-1 in-band
    probes always catch pairs with hamming ≤ 7 (pigeonhole: 7 diffs over
    4 bands leave some band with ≤ 1); distant docs stay unpaired."""
    import numpy as np

    base = "alpha beta gamma delta epsilon zeta eta theta " * 40
    near = "  " + base.replace(" ", "   ", 5)  # same tokens, hamming 0
    far = "totally different words here entirely other content " * 20
    h_near = int(
        bin(
            int(
                np.uint64(dedup.simhash_one(base)) ^ np.uint64(dedup.simhash_one(near))
            )
        ).count("1")
    )
    assert h_near <= 7, f"perturbation too large for banding test: {h_near}"
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3], "text": [base, near, far]})
    )
    pairs = dedup.simhash_near_pairs(docs, max_hamming=7).collect()
    got = {(r.doc_a, r.doc_b) for r in pairs}
    assert (1, 2) in got
    assert (1, 3) not in got and (2, 3) not in got


def test_simhash_band_recall_guarantee_spread_bits(spark):
    """Worst-case bit spread for 4×16-bit multi-probe banding: 7 bits at
    positions 0,8,16,24,32,40,48 land 2,2,2,1 across the four 16-bit
    bands — no band is equal, only band 3 is within hamming 1, so the
    pair is found ONLY via the hamming-1 probes (the pigeonhole bound is
    tight here); and asking for a max_hamming beyond the guarantee
    raises instead of silently under-recalling."""
    import pyspark.sql.functions as F

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": ["x", "y"]})
    )
    base_hash = 0x0123456789ABCDEF
    # flip the low bit of bands 0..6 → hamming 7, max spread
    spread = base_hash
    for b in range(7):
        spread ^= 1 << (8 * b)
    sh = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2],
                "simhash": np.array([base_hash, spread], dtype=np.int64),
            }
        )
    )
    # patch the simhash stage: run the banding/join path on fixed hashes
    import unittest.mock as mock

    with mock.patch.object(dedup, "simhash", lambda _docs: sh):
        pairs = dedup.simhash_near_pairs(docs, max_hamming=7).collect()
    assert [(r.doc_a, r.doc_b, r.hamming) for r in pairs] == [(1, 2, 7)]

    with pytest.raises(ValueError, match="recall guarantee"):
        dedup.simhash_near_pairs(docs, max_hamming=8)


def test_simhash_bucket_space_grows_with_corpus(spark):
    """Scale property of the 16-bit banding: on a random corpus the
    bucket count grows with n (the old 8-bit scheme saturated at a hard
    256/band, making every bucket hot and pair generation Θ(n²/32)).
    With 3000 random fingerprints, each band must occupy far more than
    256 distinct buckets and no bucket may be hot."""
    rng = np.random.default_rng(7)
    n = 3000
    sh = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": np.arange(n, dtype=np.int64),
                "simhash": rng.integers(
                    -(2**63), 2**63, size=n, dtype=np.int64
                ),
            }
        )
    )
    stats = (
        dedup.simhash_band_keys(sh)
        .groupBy("band", "key")
        .count()
        .groupBy("band")
        .agg(
            F.count("*").alias("n_buckets"),
            F.max("count").alias("max_bucket_size"),
        )
        .collect()
    )
    assert len(stats) == dedup.SIMHASH_BANDS
    for r in stats:
        assert r.n_buckets > 1000, f"band {r.band}: only {r.n_buckets} buckets"
        assert r.max_bucket_size <= 5, f"band {r.band} has a hot bucket"


def test_simhash_hot_bucket_cap(spark):
    """max_bucket drops boilerplate buckets wholesale (no quadratic
    blowup), while a hamming-1 pair in ordinary buckets is still found
    via the multi-probe path."""
    import unittest.mock as mock

    # 50 docs share identical fingerprint 0 (a degenerate boilerplate
    # cluster); docs 100, 101 differ by one bit in band 2
    a = 0x0123456789ABCDEF
    b = a ^ (1 << 33)
    ids = list(range(50)) + [100, 101]
    hashes = [0] * 50 + [a, b]
    sh = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": np.array(ids, dtype=np.int64),
                "simhash": np.array(hashes, dtype=np.int64),
            }
        )
    )
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": ids, "text": ["x"] * len(ids)})
    )
    with mock.patch.object(dedup, "simhash", lambda _docs: sh):
        got = {
            (r.doc_a, r.doc_b)
            for r in dedup.simhash_near_pairs(docs, max_bucket=10).collect()
        }
    # the 50-doc boilerplate cluster is capped away entirely (its C(50,2)
    # pairs carry no signal), the planted pair survives
    assert got == {(100, 101)}


def test_winnowing_shared_substring_guarantee(spark):
    """Schleimer et al. guarantee: any shared substring of length
    ≥ k + w − 1 produces at least one SHARED fingerprint; disjoint
    texts share none."""
    from europe_gis_spark.operators import textops

    shared = "this exact plagiarised passage appears verbatim in both documents"
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "intro words here. " + shared + " and a unique tail one",
                    "completely different opening, " + shared + " another end",
                    "nothing in common with the others at all whatsoever xyz",
                ],
            }
        )
    )
    fps = textops.winnow_fingerprints(docs, digest=False).collect()
    sets = {}
    for r in fps:
        sets.setdefault(r.doc_id, set()).add(r.fp)
    assert len(shared) >= textops.WINNOW_K + textops.WINNOW_W - 1
    assert sets[1] & sets[2], "shared passage produced no shared fingerprint"
    assert not sets[1] & sets[3], "disjoint docs must share no fingerprints"
    assert not sets[2] & sets[3], "disjoint docs must share no fingerprints"
    # identical text → identical digest; changed text → different digest
    dig = {r.doc_id: r.fp_digest for r in textops.winnow_fingerprints(docs).collect()}
    docs2 = docs.withColumn("text", F.col("text"))
    dig2 = {r.doc_id: r.fp_digest for r in textops.winnow_fingerprints(docs2).collect()}
    assert dig == dig2
    assert len(set(dig.values())) == 3


def test_lsh_hot_bucket_cap_drops_boilerplate(spark):
    """A band key shared by > max_bucket docs (boilerplate) must be
    dropped wholesale: no pairs from the hot bucket, while genuinely
    near-duplicate docs in small buckets still pair up."""
    boiler = "all rights reserved contact us terms of service privacy policy"
    real = "the quick brown fox jumps over the lazy dog again and again ok"
    texts = {i: boiler for i in range(10)}  # 10 identical boilerplate docs
    texts[100] = real
    texts[101] = real + " extra"
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(texts), "text": list(texts.values())})
    )
    capped = dedup.lsh_candidate_pairs(docs, max_bucket=5)
    got = {(r.doc_a, r.doc_b) for r in capped.collect()}
    assert (100, 101) in got
    assert not any(a < 10 and b < 10 for a, b in got), got
    # uncapped finds the boilerplate pairs too
    full = dedup.lsh_candidate_pairs(docs, max_bucket=None)
    got_full = {(r.doc_a, r.doc_b) for r in full.collect()}
    assert sum(1 for a, b in got_full if a < 10 and b < 10) == 45  # C(10,2)


def test_connected_components_chain_and_islands(spark):
    """Connected components must close multi-hop chains (diameter >
    one round's reach is the classic CC bug) and keep islands apart."""
    pairs = spark.createDataFrame(
        pd.DataFrame(
            {
                # chain 1-2-3-4-5 (only consecutive pairs), island 10-11,
                # singleton edge 20-21
                "doc_a": [1, 2, 3, 4, 10, 20],
                "doc_b": [2, 3, 4, 5, 11, 21],
            }
        )
    )
    comp = {
        r.node: r.component
        for r in graph.cc_star(pairs, "doc_a", "doc_b").collect()
    }
    assert {comp[i] for i in (1, 2, 3, 4, 5)} == {1}
    assert comp[10] == comp[11] == 10
    assert comp[20] == comp[21] == 20


def test_connected_components_nonconvergence_raises(spark):
    """A round cap too small for the graph must FAIL loudly, not return
    silently split clusters: a 512-node path needs more than 2 star
    rounds."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(511)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        graph.cc_star(pairs, "doc_a", "doc_b", max_rounds=2)


def test_fold_session_events_late_data():
    """An out-of-order event at or before the open session's last event
    must merge WITHOUT moving session_end backwards (late-data guard)."""
    from europe_gis_spark.streaming.incremental import fold_session_events

    # batch 1: events at t=100, 200 → open session [100, 200]
    closed, st = fold_session_events([100, 200], [1.0, 1.0], None, gap_sec=150)
    assert closed == [] and st == (100, 200, 2, 2.0)
    # batch 2: late event at t=170 (≤ last) merges; end stays 200
    closed, st = fold_session_events([170], [1.0], st, gap_sec=150)
    assert closed == [] and st == (100, 200, 3, 3.0)
    # batch 3: t=360 closes (360-200 = 160 > 150)
    closed, st = fold_session_events([360], [5.0], st, gap_sec=150)
    assert closed == [(100, 200, 3, 3.0)] and st == (360, 360, 1, 5.0)
    # regression shape of the old bug: had the late 170 reset last=170,
    # 260 would have closed at session_end=170 and merged wrongly


def test_verify_pairs_matches_bruteforce_jaccard(spark):
    """verify_pairs on LSH candidates must agree exactly with the
    all-pairs ngram_jaccard_pairs on every candidate pair."""
    docs_pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": [
                "one two three four five six seven eight nine ten",
                "one two three four five six seven eight nine eleven",
                "totally different content with many unrelated words here now",
                "one two three four five six seven eight nine ten",
            ],
        }
    )
    docs = spark.createDataFrame(docs_pdf)
    cand = dedup.lsh_candidate_pairs(docs)
    verified = {
        (r.doc_a, r.doc_b): (r.n_common, r.jaccard)
        for r in dedup.verify_pairs(cand, docs, threshold=0.3).collect()
    }
    brute = {
        (r.doc_a, r.doc_b): (r.n_common, r.jaccard)
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.3).collect()
    }
    cand_set = {(r.doc_a, r.doc_b) for r in cand.collect()}
    assert (1, 4) in verified and verified[(1, 4)][1] == 1.0
    for pair, vals in verified.items():
        assert pair in cand_set
        assert brute[pair] == vals


def test_embedding_dups_find_planted_pairs(spark):
    """pairwise_cosine_dups must recall EVERY planted scaled clone:
    cosine(v, 1.5v) = 1.0 and sign-projection buckets are
    scale-invariant, so recall of the planted pairs is exact."""
    from europe_gis_spark.queries import _embeddings_with_dups, q_embed_dups

    sf = "/root/testdata/sf0.01"
    e = _embeddings_with_dups(spark, sf)
    planted = {
        (r.vec_id, r.vec_id + 100000)
        for r in e.filter("vec_id % 50 = 0 AND vec_id < 100000").collect()
    }
    assert planted, "datagen produced no plantable vectors"
    got = {(r.vec_a, r.vec_b): r.cosine for r in q_embed_dups(spark, sf).collect()}
    missing = planted - set(got)
    assert not missing, f"planted pairs missed: {sorted(missing)[:5]}"
    for p in planted:
        assert got[p] == pytest.approx(1.0, abs=1e-6)


def test_semdedup_drops_planted_keeps_lowest_cos(spark):
    """SemDeDup over the planted-dup table: each ×1.5 clone has
    cosine 1.0 with its original and lands in the same cluster, so
    EXACTLY ONE member of every planted pair survives (the float32
    cast of the scaled clone nudges its centroid cosine in the 8th
    decimal, so which member ranks first is pair-specific — the
    invariant is one-survivor, with the earlier-ranked member kept).
    Non-duplicated vectors survive; within every cluster the
    first-ranked item is always kept (nothing precedes it)."""
    from europe_gis_spark.queries import _embeddings_with_dups

    sf = "/root/testdata/sf0.01"
    e = _embeddings_with_dups(spark, sf)
    out = {
        r.vec_id: r
        for r in similarity.semdedup_flags(
            e, threshold=0.9, n_clusters=16, seed=7
        ).collect()
    }
    planted = [v for v in out if v >= 100000]
    assert planted
    for v in planted:
        clone, orig = out[v], out[v - 100000]
        assert orig.list_id == clone.list_id
        assert clone.kept != orig.kept, f"pair {v}: {clone.kept}/{orig.kept}"
        survivor, dropped = (orig, clone) if orig.kept else (clone, orig)
        assert survivor.rank < dropped.rank
    assert all(r.kept for r in out.values() if r.rank == 1)
    # non-dup vectors (random 64-dim, mutual cosine far below 0.9) keep
    kept_frac = sum(r.kept for r in out.values()) / len(out)
    assert kept_frac >= 0.9


def test_semdedup_engineered_keep_policy(spark):
    """Engineered 3-way near-dup group: the survivor is the group
    member with the LOWEST centroid cosine (the paper's keep policy),
    not an arbitrary one — and the drop rule is non-iterative (a
    dropped earlier item still shadows later ones)."""
    import pandas as pd

    base = np.zeros(8)
    base[0] = 1.0
    tilt = np.zeros(8)
    tilt[1] = 1.0

    def mix(eps):
        v = base + eps * tilt
        return (v / np.linalg.norm(v)).astype(np.float32)

    far = np.zeros(8, dtype=np.float32)
    far[2] = 1.0
    rows = [
        (0, mix(0.00)),
        (1, mix(0.01)),
        (2, mix(0.02)),
        (3, far),
    ]
    df = spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": [r[0] for r in rows], "embedding": [list(map(float, r[1])) for r in rows]}
        )
    )
    cent = np.stack([base / np.linalg.norm(base), far.astype(np.float64)])
    out = {
        r.vec_id: r
        for r in similarity.semdedup_flags(
            df, threshold=0.99, n_clusters=2, centroids=cent
        ).collect()
    }
    # cluster 0 holds 0,1,2: centroid cosine DEscends with eps, so the
    # eps=0.02 member ranks first and is the sole survivor
    assert [out[v].kept for v in (0, 1, 2)] == [False, False, True]
    assert out[3].kept  # alone in its cluster


def test_ivf_training_paths_bit_equal(spark):
    """The Spark training path (md5-ordered sample via orderBy/limit)
    and the pandas oracle twin must produce BIT-IDENTICAL centroids —
    this equality is what lets the ANN driver queries carry an exact
    DuckDB oracle (VERDICT r4 directive 1)."""
    import numpy as np
    import pandas as pd

    sf = "/root/testdata/sf0.01"
    e = spark.read.parquet(f"{sf}/embeddings.parquet")
    pdf = pd.read_parquet(f"{sf}/embeddings.parquet", columns=["vec_id", "embedding"])
    c_spark = similarity.train_ivf_centroids(e, n_lists=64, seed=7)
    c_pandas = similarity.train_ivf_centroids_pandas(pdf, n_lists=64, seed=7)
    assert np.array_equal(c_spark, c_pandas)


def test_ann_recall_vs_brute_force(spark):
    sf = "/root/testdata/sf0.01"
    e = spark.read.parquet(f"{sf}/embeddings.parquet")
    from europe_gis_spark.queries import QUERY_VEC

    bf = [r.vec_id for r in similarity.brute_force_topk(e, QUERY_VEC, 10).collect()]
    ann = [r.vec_id for r in similarity.ann_topk(e, QUERY_VEC, 10).collect()]
    recall = len(set(bf) & set(ann)) / 10
    assert recall >= 0.5, f"ANN recall {recall} too low"


def test_ivf_recall_probe_fraction_and_pruning(spark, tmp_path):
    """IVF ANN: decent recall while scanning only ~n_probe/n_lists of
    the corpus; the at-rest index reads with PartitionFilters."""
    sf = "/root/testdata/sf0.01"
    e = spark.read.parquet(f"{sf}/embeddings.parquet")
    from europe_gis_spark.queries import QUERY_VEC

    cents = similarity.train_ivf_centroids(e, n_lists=64)
    bf = [r.vec_id for r in similarity.brute_force_topk(e, QUERY_VEC, 10).collect()]
    ivf = [
        r.vec_id
        for r in similarity.ivf_topk(e, QUERY_VEC, 10, centroids=cents).collect()
    ]
    recall = len(set(bf) & set(ivf)) / 10
    assert recall >= 0.5, f"IVF recall {recall} too low"
    # probe fraction: candidates must be a small slice, not half the corpus
    probe = similarity.probe_lists(cents, QUERY_VEC, 16)
    n_cand = (
        similarity.ivf_assign(e, cents).filter(F.col("list_id").isin(probe)).count()
    )
    total = e.count()
    assert n_cand / total <= 0.35, f"probed {n_cand}/{total}"
    # at-rest index: probing = parquet partition pruning
    idx = str(tmp_path / "ivf")
    similarity.write_ivf_index(e, idx, cents)
    q = spark.read.parquet(idx).filter(F.col("list_id").isin(probe))
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q.explain(mode="formatted")
    p = buf.getvalue()
    assert "PartitionFilters" in p and "list_id" in p.split("PartitionFilters", 1)[1][:400]
    got = [
        r.vec_id
        for r in similarity.ivf_topk_from_index(
            spark, idx, cents, QUERY_VEC, 10, n_probe=16
        ).collect()
    ]
    assert got == ivf


# ---------------------------------------------------------------- retrieval
def test_tfidf_hand_computed(spark):
    """tf·(ln((N+1)/(df+1))+1) on a 3-doc corpus, checked by hand; rank
    ties break by term."""
    import math

    docs = spark.createDataFrame(
        [
            (1, "apple banana apple"),
            (2, "banana cherry"),
            (3, "cherry durian durian durian"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r.doc_id, r.term): (r.tf, r.df, r.tfidf)
        for r in textops.tf_idf(docs, top_k=5).collect()
    }
    def expect(tf, df):
        return round(tf * (math.log(4.0 / (df + 1.0)) + 1.0), 6)

    assert got[(1, "apple")] == (2, 1, expect(2, 1))
    assert got[(1, "banana")] == (1, 2, expect(1, 2))
    assert got[(3, "durian")] == (3, 1, expect(3, 1))
    assert got[(3, "cherry")] == (1, 2, expect(1, 2))
    assert len(got) == 6  # every (doc, term) pair fits in top-5


def test_tfidf_topk_rank_and_tiebreak(spark):
    """top_k truncates per doc on (rounded score desc, term asc)."""
    docs = spark.createDataFrame(
        [(1, "b a c d e f"), (2, "x y")], "doc_id long, text string"
    )
    rows = textops.tf_idf(docs, top_k=3).filter(F.col("doc_id") == 1).collect()
    # all six terms of doc 1 are unique in it → equal tf; df differs only
    # for none (each of a..f appears in exactly one doc) → full tie on
    # score, resolved alphabetically
    assert [r.term for r in sorted(rows, key=lambda r: r.term)] == ["a", "b", "c"]


def test_inverted_index_bands_and_postings(spark):
    docs = spark.createDataFrame(
        [
            (1, "common rare1 shared"),
            (2, "common shared"),
            (3, "common rare2"),
            (4, "common"),
        ],
        "doc_id long, text string",
    )
    # absolute ceiling: df<=3 drops 'common' (df=4); min_df=2 drops rares
    got = {
        r.term: (r.df, list(r.postings))
        for r in textops.inverted_index(docs, min_df=2, max_df=3).collect()
    }
    assert got == {"shared": (2, [1, 2])}
    # fractional ceiling: 0.5 of 4 docs = df<=2 — same result here
    got_frac = {
        r.term: (r.df, list(r.postings))
        for r in textops.inverted_index(docs, min_df=2, max_df=0.5).collect()
    }
    assert got_frac == {"shared": (2, [1, 2])}
    # no ceiling: 'common' returns with sorted full postings
    got_all = {
        r.term: list(r.postings)
        for r in textops.inverted_index(docs, min_df=2, max_df=None).collect()
    }
    assert got_all["common"] == [1, 2, 3, 4]


def test_cap_hot_buckets_shared_helper(spark):
    df = spark.createDataFrame(
        [("a", i) for i in range(5)] + [("b", 10), ("b", 11), ("c", 20)],
        "k string, v long",
    )
    kept = dedup.cap_hot_buckets(df, ("k",), 2).collect()
    assert sorted((r.k, r.v) for r in kept) == [("b", 10), ("b", 11), ("c", 20)]
    assert [f.name for f in dedup.cap_hot_buckets(df, ("k",), 2).schema] == ["k", "v"]


def test_snapshot_diff_statuses_and_null_fp(spark):
    """Presence via markers (not fp NULLness) + null-safe fp compare: a
    NULL fingerprint present in both snapshots is 'unchanged', never an
    add/remove."""
    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None), (4, "d")], "doc_id long, fp string"
    )
    new = spark.createDataFrame(
        [(2, "b2"), (3, None), (4, "d"), (5, "e")], "doc_id long, fp string"
    )
    got = {r.doc_id: r.status for r in textops.snapshot_diff(old, new).collect()}
    assert got == {
        1: "removed",
        2: "changed",
        3: "unchanged",
        4: "unchanged",
        5: "added",
    }


def test_join_streams_stream_equals_batch(spark, tmp_path):
    """True stream-stream watermarked join over file sources (append,
    availableNow) produces exactly the batch result of the same
    function — the state-bounded impression-click shape."""
    import datetime as dt

    t0 = dt.datetime(2024, 3, 1)
    views = pd.DataFrame(
        {
            "user_id": [1, 1, 2, 3],
            "ts": [
                t0,
                t0 + dt.timedelta(minutes=40),
                t0 + dt.timedelta(minutes=5),
                t0 + dt.timedelta(minutes=10),
            ],
            "event_id": [10, 11, 20, 30],
        }
    )
    clicks = pd.DataFrame(
        {
            "user_id": [1, 1, 2, 3],
            "ts": [
                t0 + dt.timedelta(minutes=30),  # matches view 10? >15min: no
                t0 + dt.timedelta(minutes=50),  # matches view 11 (10 min)
                t0 + dt.timedelta(minutes=6),   # matches view 20 (1 min)
                t0 + dt.timedelta(minutes=9),   # BEFORE view 30: no match
            ],
            "event_id": [100, 101, 200, 300],
        }
    )
    lsrc, rsrc = str(tmp_path / "l"), str(tmp_path / "r")
    dst, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    spark.createDataFrame(views).write.parquet(lsrc)
    spark.createDataFrame(clicks).write.parquet(rsrc)
    schema = "user_id long, ts timestamp, event_id long"
    joined = incremental.join_streams(
        spark.readStream.schema(schema).parquet(lsrc),
        spark.readStream.schema(schema).parquet(rsrc),
        key="user_id",
        within="15 minutes",
        watermark="1 hour",
    )
    q = (
        joined.writeStream.format("parquet")
        .option("path", dst)
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.event_id, r.r_event_id) for r in spark.read.parquet(dst).collect()
    }
    assert got == {(11, 101), (20, 200)}
    batch = incremental.join_streams(
        spark.createDataFrame(views),
        spark.createDataFrame(clicks),
        key="user_id",
        within="15 minutes",
    )
    assert {(r.event_id, r.r_event_id) for r in batch.collect()} == got


def test_resize_and_crop_semantics():
    """Nearest 2x downsample of a checkerboard picks block corners
    exactly; bilinear of a constant image is identity; crop centers."""
    img = np.zeros((8, 8, 3), dtype=np.uint8)
    img[::2, ::2] = 255
    near = multimodal.resize_image(img, 4, 4, method="nearest")
    assert near.shape == (4, 4, 3)
    # half-pixel centers of a 2x downsample land on odd indices (1,3,..)
    assert (near == img[1::2, 1::2]).all()
    const = np.full((5, 7, 3), 123, dtype=np.uint8)
    bil = multimodal.resize_image(const, 11, 3)
    assert (bil == 123).all()
    # bilinear 2x2 -> 1x1 is the mean of the four pixels
    quad = np.array([[[0]*3, [100]*3], [[200]*3, [100]*3]], dtype=np.uint8)
    one = multimodal.resize_image(quad, 1, 1)
    assert (one == 100).all()
    crop = multimodal.center_crop(img, 4, 4)
    assert (crop == img[2:6, 2:6]).all()
    with pytest.raises(ValueError, match="exceeds"):
        multimodal.center_crop(img, 9, 4)


def test_image_thumbnails_real_bmp_roundtrip(spark):
    """decode_bmp → resize → encode_bmp end to end through the Spark
    operator: output payloads are decodable BMPs with exact expected
    pixels for a real input BMP and the fake path for non-BMP bytes."""
    grad = np.zeros((16, 16, 3), dtype=np.uint8)
    grad[:, :, 0] = np.arange(16, dtype=np.uint8)[None, :] * 16
    grad[:, :, 1] = np.arange(16, dtype=np.uint8)[:, None] * 16
    bmp = multimodal.encode_bmp(grad)
    df = spark.createDataFrame(
        [("a", bytearray(bmp)), ("b", bytearray(b"not-an-image"))],
        "url string, payload binary",
    )
    got = {r.key: r for r in multimodal.image_thumbnails(df, 8, 8).collect()}
    a = got["a"]
    assert (a.orig_height, a.orig_width, a.height, a.width) == (16, 16, 8, 8)
    dec = multimodal.decode_bmp(bytes(a.payload))
    np.testing.assert_array_equal(dec, multimodal.resize_image(grad, 8, 8))
    # fake path: 8x8 deterministic fake resized to 8x8, still a BMP
    b = got["b"]
    assert (b.orig_height, b.orig_width) == (8, 8)
    assert multimodal.decode_bmp(bytes(b.payload)).shape == (8, 8, 3)


def test_budget_select_cut_line(spark):
    """Greedy per-group budget: the doc that CROSSES the budget is
    dropped, later smaller docs too (prefix rule, not knapsack)."""
    docs = spark.createDataFrame(
        [
            (1, "a b c", "s1"),       # 3 tokens, cum 3
            (2, "d e f g", "s1"),     # 4 tokens, cum 7 > 5 -> dropped
            (3, "h", "s1"),           # cum 8 -> dropped (prefix rule)
            (4, "x y z w v", "s2"),   # cum 5 == budget -> kept
        ],
        "doc_id long, text string, source string",
    )
    got = {
        r.doc_id: (r.cum_tokens, r.keep)
        for r in textops.budget_select(docs, budget_tokens=5).collect()
    }
    assert got == {1: (3, True), 2: (7, False), 3: (8, False), 4: (5, True)}


def test_curriculum_buckets_ntile_fill(spark):
    """NTILE remainder goes to the first buckets; ordering ties break
    by id."""
    scored = spark.createDataFrame(
        [(i, float(-i % 3)) for i in range(7)], "doc_id long, avg_log10p double"
    )
    got = {
        r.doc_id: r.bucket
        for r in textops.curriculum_buckets(scored, n_buckets=3).collect()
    }
    # order by (score, id): score 0 -> ids 0,3,6; score 1 -> 2,5; score 2 -> 1,4
    # 7 rows into 3 buckets -> sizes 3,2,2
    assert got == {0: 1, 3: 1, 6: 1, 2: 2, 5: 2, 1: 3, 4: 3}


def test_pack_sequences_spans(spark):
    docs = spark.createDataFrame(
        [
            (1, "a b c d", "s"),    # 4 toks, offset 0, seqs 0-0
            (2, "e f g", "s"),      # 3 toks, offset 4, crosses 4..6 -> seq 0-1 (L=5)
            (3, "h", "s"),          # offset 7, seq 1
        ],
        "doc_id long, text string, source string",
    )
    got = {
        r.doc_id: (r.tok_offset, r.seq_first, r.seq_last, r.crosses)
        for r in textops.pack_sequences(docs, seq_len=5).collect()
    }
    assert got == {
        1: (0, 0, 0, False),
        2: (4, 0, 1, True),
        3: (7, 1, 1, False),
    }


def test_hash_split_deterministic_and_proportional(spark):
    docs = spark.range(20_000).select(F.col("id").alias("doc_id"))
    got = textops.hash_split(docs).groupBy("split").count().collect()
    fr = {r.split: r["count"] / 20_000 for r in got}
    assert abs(fr["train"] - 0.8) < 0.02
    assert abs(fr["val"] - 0.1) < 0.01
    assert abs(fr["test"] - 0.1) < 0.01
    # stability: membership of doc 7 is a pure function of (salt, id)
    a = textops.hash_split(docs.filter(F.col("doc_id") < 10)).collect()
    b = textops.hash_split(docs).filter(F.col("doc_id") < 10).collect()
    assert {r.doc_id: r.split for r in a} == {r.doc_id: r.split for r in b}
    # new salt re-deals: per-doc membership must actually change
    small = docs.filter(F.col("doc_id") < 1000)
    v1 = {r.doc_id: r.split for r in textops.hash_split(small).collect()}
    v2 = {
        r.doc_id: r.split
        for r in textops.hash_split(small, salt="split:v2").collect()
    }
    assert sum(1 for k in v1 if v1[k] != v2[k]) > 100  # ~32% expected
    with pytest.raises(ValueError, match="sum to 1"):
        textops.hash_split(docs, fracs={"a": 0.5, "b": 0.4})
    # a trailing zero-fraction bucket must stay EMPTY (cum hits 1.0
    # mid-list — the 9-hex-char cutoff regression)
    z = (
        textops.hash_split(small, fracs={"train": 0.9, "val": 0.1, "test": 0.0})
        .groupBy("split")
        .count()
        .collect()
    )
    zc = {r.split: r["count"] for r in z}
    assert zc.get("test", 0) == 0 and zc.get("val", 0) > 0


def test_resample_audio_semantics():
    """Identity at equal rates; 2x downsample of a ramp keeps the ramp
    (linear interp of a linear signal is exact); length scales."""
    ramp = np.linspace(-1, 1, 100, dtype=np.float32)
    same = multimodal.resample_audio(ramp, 16_000, 16_000)
    np.testing.assert_array_equal(same, ramp)
    half = multimodal.resample_audio(ramp, 16_000, 8_000)
    assert len(half) == 50
    # a linear signal survives linear resampling exactly (within fp32)
    np.testing.assert_allclose(half, ramp[::2], atol=1e-6)
    up = multimodal.resample_audio(ramp, 8_000, 16_000)
    assert len(up) == 200


def test_audio_clips_real_wav_roundtrip(spark):
    """decode_wav → resample → encode_wav through the Spark operator:
    output payloads decode to the expected resampled waveforms."""
    t = np.arange(1600) / 16_000.0
    tone = np.sin(2 * np.pi * 440 * t).astype(np.float32) * 0.5
    wav = multimodal.encode_wav(tone, sample_rate=16_000)
    df = spark.createDataFrame(
        [("a", bytearray(wav)), ("b", bytearray(b"not-audio"))],
        "url string, payload binary",
    )
    got = {r.key: r for r in multimodal.audio_clips(df, to_rate=8_000).collect()}
    a = got["a"]
    assert (a.orig_samples, a.n_samples, a.sample_rate) == (1600, 800, 8000)
    dec = multimodal.decode_wav(bytes(a.payload))
    want = multimodal.resample_audio(tone, 16_000, 8_000)
    # 16-bit quantization on the re-encode bounds the roundtrip error
    np.testing.assert_allclose(dec, want, atol=2.0 / 32767)
    b = got["b"]
    assert b.orig_samples == 1024  # deterministic fake length
    assert multimodal.decode_wav(bytes(b.payload)).shape == (512,)


def test_audio_clips_uses_header_rate_not_default(spark):
    """A 44.1 kHz WAV resampled to 8 kHz must use ITS header rate for
    the ratio — not the from_rate default meant for headerless fakes."""
    t = np.arange(4410) / 44_100.0
    tone = np.sin(2 * np.pi * 220 * t).astype(np.float32) * 0.5
    wav = multimodal.encode_wav(tone, sample_rate=44_100)
    assert multimodal.wav_sample_rate(wav) == 44_100
    df = spark.createDataFrame([("a", bytearray(wav))], "url string, payload binary")
    (row,) = multimodal.audio_clips(df, to_rate=8_000).collect()
    # 0.1 s of audio -> 800 samples at 8 kHz, NOT 4410 * 8000/16000
    assert row.n_samples == 800
    assert multimodal.wav_sample_rate(b"RIFF1234AVI ") is None


def test_simplify_ring_far_is_last_vertex_degenerate():
    """Sliver whose farthest-from-anchor vertex is the LAST one must
    fall back to a 3-point anchor triangle, not a 2-point shell."""
    from europe_gis_spark.geo.geom import simplify_ring

    ring = np.array(
        [(0, 0), (1, 0.01), (2, 0.02), (3, 0)], dtype=float
    )
    ring = np.vstack([ring, ring[:1]])
    s = simplify_ring(ring, 0.1)
    assert len(s) >= 4  # 3 distinct vertices + closure
    assert tuple(s[0]) == tuple(s[-1])
    assert len({tuple(p) for p in s[:-1]}) >= 3


# ---------------------------------------------------------------- PNG codec
def _png_forward_filter(img, ftypes):
    """Reference FORWARD PNG filter (test-side twin of the decoder's
    unfilter) — encodes each scanline with the given filter type."""
    import zlib  # noqa: F401

    h, w, c = img.shape
    bpp = c
    out = bytearray()
    prev = np.zeros(w * c, np.int32)
    for y, f in zip(range(h), ftypes):
        cur = img[y].reshape(-1).astype(np.int32)
        if f == 0:
            enc = cur.copy()
        elif f == 1:
            enc = cur.copy()
            enc[bpp:] = (cur[bpp:] - cur[:-bpp]) % 256
        elif f == 2:
            enc = (cur - prev) % 256
        else:
            enc = np.empty_like(cur)
            for x in range(w * c):
                a = cur[x - bpp] if x >= bpp else 0
                b = prev[x]
                cc = prev[x - bpp] if x >= bpp else 0
                if f == 3:
                    pred = (a + b) >> 1
                else:
                    p = a + b - cc
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
                enc[x] = (cur[x] - pred) % 256
        out.append(f)
        out += bytes(enc.astype(np.uint8))
        prev = cur
    return bytes(out)


def _build_png(img, ftypes):
    import struct
    import zlib

    h, w, c = img.shape
    ct = {1: 0, 3: 2, 6: None, 4: 6}[c]

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, ct, 0, 0, 0)
    return (
        multimodal.PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(_png_forward_filter(img, ftypes)))
        + chunk(b"IEND", b"")
    )


def test_png_golden_bytes_and_roundtrip():
    """encode_png is byte-deterministic (golden sha256 pinned) and
    decode_png inverts it bit-exactly for gray/RGB/RGBA."""
    import hashlib

    g = multimodal.encode_png(np.array([[[255, 0, 0]]], np.uint8))
    assert (
        hashlib.sha256(g).hexdigest()
        == "b1ff9c8ea3a780bad09b346c423d2d0e46815926879b18e841d928376a946640"
    )
    np.testing.assert_array_equal(
        multimodal.decode_png(g), np.array([[[255, 0, 0]]], np.uint8)
    )
    rng = np.random.default_rng(0)
    for shape in [(5, 7), (4, 6, 3), (3, 3, 4)]:
        img = rng.integers(0, 256, shape, dtype=np.uint8)
        dec = multimodal.decode_png(multimodal.encode_png(img))
        want = img[:, :, None] if img.ndim == 2 else img
        np.testing.assert_array_equal(dec, want)


def test_png_every_filter_type_inverts():
    """Sub/Up/Average/Paeth unfilter must invert an independent
    test-side forward-filter implementation on random pixels."""
    rng = np.random.default_rng(1)
    img = rng.integers(0, 256, (10, 9, 3), dtype=np.uint8)
    for ftypes in [[1] * 10, [2] * 10, [3] * 10, [4] * 10,
                   [0, 1, 2, 3, 4, 4, 3, 2, 1, 0]]:
        np.testing.assert_array_equal(
            multimodal.decode_png(_build_png(img, ftypes)), img
        )


def test_png_unsupported_variants_raise_loudly():
    """16-bit / palette / interlaced PNGs must raise, never produce
    silently-wrong pixels; fake=None still never raises (falls back)."""
    img = np.zeros((2, 2, 3), np.uint8)
    good = bytearray(multimodal.encode_png(img))
    bad16 = bytearray(good)
    bad16[24] = 16  # IHDR bit-depth byte
    with pytest.raises(NotImplementedError, match="bit_depth=16"):
        multimodal.decode_png(bytes(bad16))
    pal = bytearray(good)
    pal[25] = 3  # IHDR color-type byte → palette
    with pytest.raises(NotImplementedError, match="color_type=3"):
        multimodal.decode_png(bytes(pal))
    # fake=None contract: corrupt PNG falls back to the 8x8 fake
    assert multimodal.decode_image(bytes(bad16)).shape == (8, 8, 3)


def test_image_thumbnails_accepts_png_end_to_end(spark):
    """PNG fixtures flow through the Spark thumbnail operator: decoded
    natively (magic-detected), resized, re-encoded — exact pixels;
    RGBA input drops alpha like the BMP path."""
    grad = np.zeros((16, 16, 3), dtype=np.uint8)
    grad[:, :, 2] = np.arange(16, dtype=np.uint8)[None, :] * 16
    rgba = np.dstack([grad, np.full((16, 16), 7, np.uint8)])
    df = spark.createDataFrame(
        [
            ("p", bytearray(multimodal.encode_png(grad))),
            ("q", bytearray(multimodal.encode_png(rgba))),
        ],
        "url string, payload binary",
    )
    got = {r.key: r for r in multimodal.image_thumbnails(df, 8, 8).collect()}
    for k in ("p", "q"):
        r = got[k]
        assert (r.orig_height, r.orig_width, r.height, r.width) == (16, 16, 8, 8)
        dec = multimodal.decode_bmp(bytes(r.payload))
        np.testing.assert_array_equal(dec, multimodal.resize_image(grad, 8, 8))


def test_collocations_hand_computed(spark):
    """PMI exact on a tiny corpus; min_count suppresses singletons."""
    import math

    import pandas as pd

    from europe_gis_spark.operators import textops

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": ["A b a B", "a b c"]})
    )
    rows = textops.collocations(docs, min_count=2, k=10).collect()
    # unigrams a:3 b:3 c:1 (N1=7); bigrams (a,b):3 (b,a):1 (b,c):1
    # (N2=5); only (a,b) survives min_count=2
    assert len(rows) == 1
    r = rows[0]
    assert (r.w1, r.w2, r.c2) == ("a", "b", 3)
    assert r.pmi == round(math.log(3 * 7 * 7 / (5 * 3 * 3)), 6)
    # empty / single-token docs produce no bigrams and don't crash
    edge = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3], "text": ["", "  ", "solo"]})
    )
    assert textops.collocations(edge, min_count=1, k=5).count() == 0


def test_jaccard_prefix_join_lossless_vs_bruteforce(spark):
    """The prefix filter must drop NOTHING: random word-soup docs,
    result set == brute-force all-pairs at tau, boundary pairs
    included."""
    import itertools

    import numpy as np
    import pandas as pd

    from europe_gis_spark.operators import dedup

    rng = np.random.default_rng(5)
    vocab = [f"w{i}" for i in range(40)]
    texts = [
        " ".join(rng.choice(vocab, size=rng.integers(5, 25), replace=True))
        for _ in range(60)
    ]
    # engineered boundary family: jaccard exactly 0.75 and 0.6
    texts += ["a b c d", "a b c e", "a b x y z"]
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    )
    tau = 0.6
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.jaccard_prefix_join(docs, tau=tau).collect()
    }
    sets = [set(t.lower().split()) - {""} for t in texts]
    ref = {}
    for i, j in itertools.combinations(range(len(sets)), 2):
        if not sets[i] or not sets[j]:
            continue
        inter = len(sets[i] & sets[j])
        jac = round(inter / (len(sets[i]) + len(sets[j]) - inter), 6)
        if jac >= tau:
            ref[(i, j)] = jac
    assert got == ref
    # the engineered 3/5 = 0.6 boundary pair survived
    n = len(texts)
    assert got[(n - 3, n - 2)] == 0.6


def test_edit_distance_join_lossless_vs_bruteforce(spark):
    """Deletion-neighborhood blocking must find EXACTLY the lev<=1
    pairs: random short strings incl. engineered ins/del/sub trios."""
    import itertools

    import numpy as np
    import pandas as pd

    from europe_gis_spark.operators import dedup

    def lev(a, b):
        m, n = len(a), len(b)
        d = list(range(n + 1))
        for i in range(1, m + 1):
            prev, d[0] = d[0], i
            for j in range(1, n + 1):
                prev, d[j] = d[j], min(
                    d[j] + 1, d[j - 1] + 1, prev + (a[i - 1] != b[j - 1])
                )
        return d[n]

    rng = np.random.default_rng(3)
    strs = {
        "".join(rng.choice(list("abcd"), size=rng.integers(1, 6)))
        for _ in range(80)
    }
    strs |= {"kitten", "kittn", "kitted", "skitten", "x"}
    strs = sorted(strs)
    df = spark.createDataFrame(pd.DataFrame({"s": strs}))
    got = {
        (r.s_a, r.s_b): r.dist
        for r in dedup.edit_distance_join(df).collect()
    }
    ref = {
        (a, b): lev(a, b)
        for a, b in itertools.combinations(strs, 2)
        if lev(a, b) <= 1
    }
    assert got == ref
    assert ("kitten", "kittn") in got and ("kitten", "skitten") in got


def test_ceil_frac_exact_vs_float_ceil(spark):
    """0.7*10 is 7.000...001 in doubles; float ceil gives 8, shortening
    the lossless prefix. ceil_frac must equal exact math.ceil for every
    n and common tau."""
    import math
    from fractions import Fraction

    import pandas as pd
    from pyspark.sql import functions as F

    from europe_gis_spark.operators import dedup

    ns = spark.createDataFrame(pd.DataFrame({"n": range(1, 301)}))
    for tau in (0.5, 0.55, 0.6, 0.7, 0.75, 0.8, 0.9):
        fr = Fraction(tau).limit_denominator(1_000_000)
        got = {
            r.n: r.c
            for r in ns.select(
                "n", dedup.ceil_frac(F.col("n"), tau).alias("c")
            ).collect()
        }
        for n in range(1, 301):
            assert got[n] == math.ceil(fr * n), (tau, n, got[n])
    # the motivating case: 0.55*100 is 55.000...007 in doubles — float
    # ceil says 56, shortening the prefix by one (lossy); exact is 55
    assert math.ceil(0.55 * 100) == 56
    assert math.ceil(Fraction(11, 20) * 100) == 55


def test_span_dedup_hand_computed(spark):
    """Constructed corpus: cross-doc dup span, in-doc dup span, fully
    duplicated doc (→ clean_text ''), short tail span kept."""
    from europe_gis_spark.operators.textops import span_dedup

    a = " ".join(f"a{i}" for i in range(4))  # one 4-token span
    b = " ".join(f"b{i}" for i in range(4))
    c = " ".join(f"c{i}" for i in range(4))
    docs = spark.createDataFrame(
        [
            (1, f"{a} {b} extra"),  # spans: a, b, 'extra' (short tail)
            (2, f"{b} {a}"),  # both already seen in doc 1 -> ''
            (3, f"{c} {c}"),  # in-doc dup: second c dropped
            (4, ""),  # filtered out entirely
            (5, None),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.clean_text, r.kept_spans, r.total_spans)
        for r in span_dedup(docs, span_tokens=4).collect()
    }
    assert got == {
        1: (f"{a} {b} extra", 3, 3),
        2: ("", 0, 2),
        3: (c, 1, 2),
    }


def test_span_dedup_no_window_in_plan(spark):
    """Winner pick must be the skew-safe agg, never a Window sort."""
    from europe_gis_spark.operators.textops import span_dedup

    docs = spark.createDataFrame([(1, "x y z")], "doc_id long, text string")
    plan = (
        span_dedup(docs)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "Window" not in plan


def test_bm25_known_values_and_nonmatching_doc_excluded(spark):
    import math

    from europe_gis_spark.operators import textops

    docs = spark.createDataFrame(
        [
            (1, "hash hash join scan"),
            (2, "vector vector vector stream"),
            (3, "the quick brown fox"),  # no query term -> absent
            (4, "hash"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.bm25
        for r in textops.bm25_topk(
            docs, ("hash", "vector"), k1=1.2, b=0.75, top_k=10
        ).collect()
    }
    assert 3 not in got and set(got) == {1, 2, 4}

    # independent pure-python recompute
    texts = {1: "hash hash join scan", 2: "vector vector vector stream", 4: "hash"}
    n_docs, avgdl = 4, (4 + 4 + 4 + 1) / 4.0
    df = {"hash": 2, "vector": 1}
    for doc_id, text in texts.items():
        toks = text.split()
        dl = len(toks)
        want = 0.0
        for t in ("hash", "vector"):
            tf = toks.count(t)
            if not tf:
                continue
            idf = math.log(1.0 + (n_docs - df[t] + 0.5) / (df[t] + 0.5))
            want += idf * tf * 2.2 / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
        assert got[doc_id] == round(want, 6), doc_id


def test_rrf_fuse_one_sided_membership_and_order(spark):
    from europe_gis_spark.operators import similarity

    a = spark.createDataFrame(
        [(10, 1), (11, 2), (12, 3)], "doc_id long, rank int"
    )
    b = spark.createDataFrame(
        [(11, 1), (13, 2)], "doc_id long, rank int"
    )
    rows = {r.doc_id: r for r in similarity.rrf_fuse(a, b, top_k=10).collect()}
    # doc 11 in both lists: 1/(60+2) + 1/(60+1)
    assert rows[11].rrf == round(1 / 62 + 1 / 61, 8)
    # one-sided docs score only their own list; missing rank is NULL
    assert rows[10].rrf == round(1 / 61, 8) and rows[10].rank_b is None
    assert rows[13].rrf == round(1 / 62, 8) and rows[13].rank_a is None
    ordered = sorted(rows.values(), key=lambda r: (-r.rrf, r.doc_id))
    assert [r.doc_id for r in ordered][0] == 11


def test_c4_line_filter_rules_and_reassembly_order(spark):
    from europe_gis_spark.operators import textops

    lines = spark.createDataFrame(
        [
            (1, 20, "this line survives the filter."),
            (1, 0, "so does this early one!"),
            (1, 10, "no terminal punctuation here"),
            (1, 15, "please enable javascript and cookies to continue."),
            (1, 30, "ok."),  # < 3 words
            (2, 0, "too few lines survive on this page."),
        ],
        "doc_id long, k long, line string",
    )
    got = {r.doc_id: r for r in textops.c4_line_filter(lines).collect()}
    # kept lines reassemble in k order; boilerplate/short/unpunctuated drop
    assert got[1].clean_text == (
        "so does this early one!\nthis line survives the filter."
    )
    assert got[1].kept_lines == 2 and got[1].total_lines == 5
    assert got[1].page_kept is False  # 2 < C4_MIN_KEPT_LINES
    assert got[2].kept_lines == 1 and got[2].page_kept is False


def test_pq_training_twins_bit_equal_and_encode_parity(spark):
    import numpy as np

    from europe_gis_spark.operators import similarity

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cb_spark = similarity.train_pq_codebooks(e)
    cb_pandas = similarity.train_pq_codebooks_pandas(
        e.select("vec_id", "embedding").toPandas()
    )
    assert np.array_equal(cb_spark, cb_pandas)
    # encode: Spark Arrow pass ≡ numpy kernel, code for code
    got = {
        r.vec_id: tuple(r.codes)
        for r in similarity.pq_encode(e, cb_spark).collect()
    }
    pdf = e.select("vec_id", "embedding").toPandas()
    want_codes = similarity.pq_encode_np(
        np.array(pdf["embedding"].tolist()), cb_spark
    )
    want = {
        int(v): tuple(int(c) for c in row)
        for v, row in zip(pdf["vec_id"], want_codes)
    }
    assert got == want
    # 8 codes per vector, all within [0, PQ_K)
    assert all(
        len(cs) == similarity.PQ_M
        and all(0 <= c < similarity.PQ_K for c in cs)
        for cs in got.values()
    )


def test_pq_adc_beats_random_ranking(spark):
    """PQ at 64 bits is LOSSY — on the uniform-random worst-case corpus
    (neighbors barely above random) even the exact top-1 can drop out
    of the ADC top-10, so the gate is signal, not identity: ADC's
    top-10 mean TRUE cosine must far exceed the corpus mean (random
    ranking ≈ 0; measured ≈ +0.19) and the ADC list must overlap the
    exact top-20. Real clustered embeddings fare far better — same
    caveat as the documented IVF recall curve."""
    from europe_gis_spark.operators import similarity
    from europe_gis_spark.queries import QUERY_VEC

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    adc_ids = [
        r.vec_id for r in similarity.pq_adc_topk(e, QUERY_VEC, k=10).collect()
    ]
    exact = {
        r.vec_id: r.cosine
        for r in similarity.cosine_to_query(e, QUERY_VEC).collect()
    }
    exact_top20 = sorted(exact, key=lambda v: (-exact[v], v))[:20]
    assert len(set(adc_ids) & set(exact_top20)) >= 2, (adc_ids, exact_top20)
    mean_adc_true = sum(exact[v] for v in adc_ids) / len(adc_ids)
    corpus_mean = sum(exact.values()) / len(exact)
    assert mean_adc_true > corpus_mean + 0.1, (mean_adc_true, corpus_mean)


def test_bpe_train_matches_reference(spark):
    """Spark bpe_train ≡ a pure-python Sennrich-style reference (word
    types, frequency-weighted pair argmax with (cnt DESC, pair ASC)
    ties, greedy leftmost non-overlapping merge application)."""
    import collections

    texts = [
        "the lower the better lowest low low newer new news the",
        "wider widest wide new lower low the the the of of",
        "low low lowest newer wider the of and to in is it",
        "aaa aaa aa baa ab MixedCase stays out 123 too",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id INT, text STRING"
    )
    got = [tuple(r) for r in textops.bpe_train(docs, n_merges=10).collect()]

    wc = collections.Counter(
        w for t in texts for w in t.split() if w.isalpha() and w.islower()
    )
    vocab = {tuple(list(w) + ["</w>"]): c for w, c in wc.items()}
    ref = []
    for step in range(1, 11):
        pairs = collections.Counter()
        for syms, c in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += c
        if not pairs:
            break
        (left, right), cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        ref.append((step, left, right, cnt))
        nv = {}
        for syms, c in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and (syms[i], syms[i + 1]) == (left, right):
                    out.append(left + right)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            nv[tuple(out)] = nv.get(tuple(out), 0) + c
        vocab = nv
    assert got == ref


def test_bpe_replace_greedy_semantics_portable(spark):
    """The merge step leans on ``replace`` being a greedy leftmost
    NON-OVERLAPPING scan in Spark, DuckDB and python alike — pin all
    three on randomized repetitive brace sequences (the 'aaa' + (a,a)
    class where overlap handling can diverge)."""
    import duckdb

    import numpy as np

    rng = np.random.default_rng(11)
    syms = ["a", "b", "ab", "aa"]
    cases = []
    for _ in range(40):
        seq = "".join(
            "{%s}" % syms[i] for i in rng.integers(0, len(syms), size=8)
        )
        lft, rgt = syms[rng.integers(0, len(syms))], syms[rng.integers(0, len(syms))]
        cases.append((seq, "{%s}{%s}" % (lft, rgt), "{%s%s}" % (lft, rgt)))
    sdf = spark.createDataFrame(cases, "seq STRING, pat STRING, rep STRING")
    from pyspark.sql import functions as F

    got = [
        r[0]
        for r in sdf.select(
            F.replace(F.col("seq"), F.col("pat"), F.col("rep"))
        ).collect()
    ]
    con = duckdb.connect()
    for (seq, pat, rep), g in zip(cases, got):
        py = seq.replace(pat, rep)
        dk = con.execute("SELECT REPLACE(?, ?, ?)", [seq, pat, rep]).fetchone()[0]
        assert g == py == dk, (seq, pat, rep, g, py, dk)


def test_dsir_prefers_target_domain(spark):
    """Docs sharing the target domain's bigram distribution must
    dominate the selection; score sign separates the domains."""
    med = ["heart lung dose patient trial", "dose trial patient heart lung"]
    web = ["click buy cheap deal shop now", "shop deal click now buy cheap"]
    rows = []
    for i in range(60):
        base = med[i % 2] if i < 30 else web[i % 2]
        rows.append((i, base, "tgt" if i < 10 else "pool"))
    docs = spark.createDataFrame(rows, "doc_id INT, text STRING, source STRING")
    sel = textops.dsir_select(docs, F.col("source") == "tgt", k=20).collect()
    picked = {r.doc_id for r in sel}
    med_ids = set(range(30))
    assert len(picked & med_ids) >= 16, sorted(picked)
    scores = {r.doc_id: r.dsir_score for r in
              textops.dsir_scores(docs, F.col("source") == "tgt").collect()}
    # Laplace smoothing (alpha*B = 512 pseudo-bigrams) shifts ALL
    # scores on a corpus this small, so assert strict domain
    # SEPARATION, not sign: every med doc outscores every web doc
    assert min(scores[i] for i in range(30)) > max(
        scores[i] for i in range(30, 60)
    )


def test_bpe_encode_counts_consistency(spark):
    """Encoding invariants: 1 ≤ subwords/word ≤ word_len+1; zero merges
    means every word costs len(word)+1 symbols (chars + </w>); more
    merges never increase any doc's subword count."""
    texts = ["low lower lowest", "new newer news low", "wide wider widest new"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id INT, text STRING"
    )
    base = {r.doc_id: r.n_subwords
            for r in textops.bpe_encode_counts(docs, n_merges=0).collect()}
    for i, t in enumerate(texts):
        assert base[i] == sum(len(w) + 1 for w in t.split())
    merged = {r.doc_id: r.n_subwords
              for r in textops.bpe_encode_counts(docs, n_merges=6).collect()}
    assert all(merged[i] < base[i] for i in merged)
    words = {r.doc_id: r.n_words
             for r in textops.bpe_encode_counts(docs, n_merges=6).collect()}
    for i, t in enumerate(texts):
        assert words[i] == len(t.split())
        assert merged[i] >= words[i]


def test_dhash_banding_is_lossless_at_hamming_3(spark):
    """Pigeonhole guarantee: with 4 bands, the banded join must find
    EXACTLY the brute-force hamming-≤3 pair set — including pairs
    engineered to differ by 3 bits spread across 3 different bands."""
    import itertools

    import numpy as np
    import pandas as pd

    from europe_gis_spark.operators import multimodal as mm

    rng = np.random.default_rng(5)
    base = int(rng.integers(0, 2**63))
    fps = [base]
    for flips in ([1], [1, 17], [1, 17, 33], [2, 18, 34], [5], [60, 61]):
        v = base
        for bit in flips:
            v ^= 1 << bit
        fps.append(v)
    fps += [int(x) for x in rng.integers(0, 2**63, size=40)]
    ids = list(range(len(fps)))
    df = spark.createDataFrame(
        pd.DataFrame({"key": ids, "dhash": np.array(fps, dtype=np.int64)})
    )
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in mm.dhash_near_pairs(df, max_hamming=3).collect()
    }
    want = set()
    for a, b in itertools.combinations(ids, 2):
        h = bin((fps[a] ^ fps[b]) & ((1 << 64) - 1)).count("1")
        if h <= 3:
            want.add((a, b, h))
    assert got == want
    assert len(want) >= 7  # the engineered cluster actually paired


def test_mix_allocation_matches_iterative_water_filling(spark):
    """Closed-form prefix-saturation ≡ the iterative redistribute-
    shortfall loop, on randomized availability/weight tables; the
    allocation exactly exhausts the budget and respects caps."""
    import numpy as np

    rng = np.random.default_rng(9)
    for trial in range(5):
        n = int(rng.integers(3, 12))
        toks = rng.integers(100, 20_000, size=n).tolist()
        w = rng.integers(1, 10, size=n).tolist()
        budget = int(sum(toks) * float(rng.uniform(0.2, 0.9)))
        rows = [(f"s{i}", int(toks[i]), int(w[i])) for i in range(n)]
        df = spark.createDataFrame(rows, "source STRING, toks LONG, w LONG")
        got = {
            r.source: (r.saturated, r.take_tokens)
            for r in textops.mix_allocation(df, F.lit(budget)).collect()
        }
        # iterative reference
        alloc = {i: None for i in range(n)}
        active, b = set(range(n)), float(budget)
        while True:
            pw = sum(w[i] for i in active)
            lam = b / pw
            sat = [i for i in active if toks[i] < w[i] * lam]
            if not sat:
                for i in active:
                    alloc[i] = w[i] * lam
                break
            for i in sat:
                alloc[i] = float(toks[i])
                b -= toks[i]
                active.discard(i)
            if not active:
                break
        for i in range(n):
            s_flag, take = got[f"s{i}"]
            assert abs(take - alloc[i]) < 1e-3, (trial, i, take, alloc[i])
            assert take <= toks[i] + 1e-9
        assert abs(sum(t for _, t in got.values()) - min(budget, sum(toks))) < 1e-2


def test_ehash_robust_to_gain_sensitive_to_edits():
    """Envelope-hash contract: uniform gain flips no adjacent-energy
    ordering (hamming 0); damping a few frames flips only a few bits."""
    import numpy as np

    from europe_gis_spark.operators import multimodal as mm
    from europe_gis_spark.queries import _audio_dup_synth_np

    w = _audio_dup_synth_np(3)
    base = mm.ehash64(w)
    assert mm.ehash64(w * 0.5) == base
    # damp frames 10..12 (a localized edit): uniform scaling inside the
    # band leaves intra-band orderings alone, so only the two boundary
    # comparisons can flip — small, nonzero hamming
    edited = w.copy()
    edited[10 * 32 : 13 * 32] *= 0.05
    h = bin((mm.ehash64(edited) ^ base) & ((1 << 64) - 1)).count("1")
    assert 1 <= h <= 12
    # codec roundtrip preserves the hash (16-bit quantization noise
    # must not flip any energy ordering on this fixture)
    dec = mm.decode_wav(mm.encode_wav(w))
    assert mm.ehash64(dec) == mm.ehash64(
        np.round(np.clip(w, -1, 1) * 32767.0).astype(np.int16).astype(
            np.float32
        )
        / 32768.0
    )


def test_avi_roundtrip_and_structure():
    """encode_avi ∘ decode_avi is identity (DIB frames are lossless);
    the container is structurally real (RIFF magic, hdrl/strl headers,
    movi frame list, idx1 index); junk and compressed streams raise."""
    import numpy as np
    import pytest

    from europe_gis_spark.operators import multimodal as mm

    rng = np.random.default_rng(3)
    frames = [
        rng.integers(0, 256, (13, 17, 3), dtype=np.uint8)  # w*3 % 4 != 0
        for _ in range(12)
    ]
    avi = mm.encode_avi(frames, fps=10)
    assert avi[:4] == b"RIFF" and avi[8:12] == b"AVI "
    for tag in (b"hdrl", b"strl", b"strh", b"strf", b"movi", b"idx1"):
        assert tag in avi, tag
    dec = mm.decode_avi(avi)
    assert len(dec) == 12
    assert all((a == b).all() for a, b in zip(frames, dec))
    assert len(mm.frame_sample(avi, every_n=3)) == 4
    with pytest.raises(ValueError):
        mm.decode_avi(b"RIFF\x00\x00\x00\x00XXXX")
    # compressed stream (nonzero biCompression) must raise, not decode junk
    import struct as st

    pos = avi.index(b"strf") + 8 + 16  # biCompression field inside strf
    bad = avi[:pos] + st.pack("<I", 1) + avi[pos + 4 :]
    with pytest.raises(NotImplementedError):
        mm.decode_avi(bad)


def test_video_frame_dhash_and_overlap(spark):
    """Distributed demux+hash matches the driver-side kernel; the
    overlap join finds exactly the pairs sharing enough frames."""
    import numpy as np
    import pandas as pd

    from europe_gis_spark.operators import multimodal as mm

    def frame(c):
        # x*y term breaks monotonicity in x so distinct contents get
        # distinct dhashes (a pure gradient hashes all-ones for any c)
        y, x = np.mgrid[0:16, 0:16]
        return ((x * y * (c + 2) + 3 * x + 5 * y + c) % 251).astype(
            np.uint8
        )[..., None].repeat(3, 2)

    vids = {
        1: [frame(c) for c in (0, 1, 2, 3, 4, 5)],
        2: [frame(c) for c in (0, 1, 2, 9, 10, 11)],   # shares sampled frames 0,2? sampling=2 -> frames 0,2,4
        3: [frame(c) for c in (20, 21, 22, 23, 24, 25)],
    }
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "key": list(vids),
                "payload": [mm.encode_avi(v) for v in vids.values()],
            }
        )
    )
    fps = mm.video_frame_dhash(df, every_n=2)
    rows = fps.collect()
    for r in rows:
        want = mm.dhash64(vids[int(r.key)][r.frame_idx])
        assert r.dhash == want, (r.key, r.frame_idx)
    # video 1 vs 2 share sampled frames 0 and 2 (contents 0, 2) -> n_shared 2
    pairs = mm.video_overlap_pairs(
        fps.select(fps.key.cast("int").alias("key"), "dhash"), min_shared=2
    ).collect()
    assert {(p.id_a, p.id_b, p.n_shared) for p in pairs} == {(1, 2, 2)}


def test_gif_roundtrip_interlace_and_adversarial():
    """encode_gif ∘ decode_gif is identity (plain, interlaced, and a
    256-color image wide enough to force the 4096-entry LZW table
    reset); junk, animated, partial-canvas and truncated payloads
    raise; a hand-built clear-code-per-pixel LZW stream (a shape our
    encoder never emits) still decodes — the decoder is not merely
    the encoder's mirror."""
    import struct

    import numpy as np
    import pytest

    from europe_gis_spark.operators import multimodal as mm

    rng = np.random.default_rng(5)
    img = (rng.integers(0, 5, (23, 17, 3)) * 50).astype(np.uint8)
    for inter in (False, True):
        g = mm.encode_gif(img, interlace=inter)
        assert g[:6] == b"GIF89a"
        assert (mm.decode_gif(g) == img).all(), inter
    gray = rng.integers(0, 256, (80, 90)).astype(np.uint8)
    big = np.stack([gray] * 3, axis=2)
    assert (mm.decode_gif(mm.encode_gif(big)) == big).all()
    assert (mm.decode_image(mm.encode_gif(img), fake=False) == img).all()

    with pytest.raises(ValueError):
        mm.decode_gif(b"GIF89aXX")
    with pytest.raises(ValueError):
        mm.encode_gif(rng.integers(0, 256, (40, 40, 3)).astype(np.uint8))
    g = mm.encode_gif(img)
    # animated: duplicate the image block before the trailer
    blk_start = 13 + (g[10] & 0x80 and (2 << (g[10] & 7)) * 3)
    body = g[blk_start:-1]
    with pytest.raises(NotImplementedError):
        mm.decode_gif(g[:-1] + body + b";")
    # truncated pixel data
    with pytest.raises(Exception):
        mm.decode_gif(g[: len(g) // 2])

    # independent stream shape: every pixel emitted as a literal with
    # a CLEAR before it, at the post-clear width — legal per spec
    pix = [0, 1, 3, 2, 1, 0]  # 2x3, 4-color palette
    min_code = 2
    clear, end = 4, 5
    acc = nbits = 0
    out = bytearray()

    def emit(code):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += 3  # min_code + 1
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    for p in pix:
        emit(clear)
        emit(p)
    emit(end)
    if nbits:
        out.append(acc & 0xFF)
    pal = bytes([0, 0, 0, 255, 0, 0, 0, 255, 0, 0, 0, 255])
    raw = (
        b"GIF89a"
        + struct.pack("<HHBBB", 3, 2, 0x80 | 0x01, 0, 0)
        + pal
        + struct.pack("<BHHHHB", 0x2C, 0, 0, 3, 2, 0)
        + bytes([min_code, len(out)])
        + bytes(out)
        + b"\x00;"
    )
    want = np.array(
        [[0, 0, 0], [255, 0, 0], [0, 0, 255], [0, 255, 0], [255, 0, 0], [0, 0, 0]],
        dtype=np.uint8,
    ).reshape(2, 3, 3)
    assert (mm.decode_gif(raw) == want).all()


def test_delta_counts_sink_replay_and_accumulate(spark, tmp_path):
    """Additive exactly-once semantics: a REPLAYED batch (fresh
    checkpoint, same source => same batch_id) overwrites its own
    delta partition instead of double-counting; genuinely new data
    under the kept checkpoint adds on top."""
    import pandas as pd

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    ck1, ck2 = str(tmp_path / "ck1"), str(tmp_path / "ck2")
    df1 = spark.createDataFrame(
        pd.DataFrame({"k": ["a", "a", "b"]})
    )
    df1.write.parquet(src)
    stream = lambda: spark.readStream.schema("k string").parquet(src)  # noqa: E731
    incremental.delta_counts_sink(stream(), dst, ck1, key_cols=("k",))
    first = {
        r.k: r.n
        for r in incremental.read_delta_counts(spark, dst, ("k",)).collect()
    }
    assert first == {"a": 2, "b": 1}
    # replay: fresh checkpoint re-reads the same file as batch 0
    incremental.delta_counts_sink(stream(), dst, ck2, key_cols=("k",))
    replay = {
        r.k: r.n
        for r in incremental.read_delta_counts(spark, dst, ("k",)).collect()
    }
    assert replay == first, "replayed batch double-counted"
    # new data under the ORIGINAL checkpoint accumulates
    spark.createDataFrame(pd.DataFrame({"k": ["b", "c"]})).write.mode(
        "append"
    ).parquet(src)
    incremental.delta_counts_sink(stream(), dst, ck1, key_cols=("k",))
    acc = {
        r.k: r.n
        for r in incremental.read_delta_counts(spark, dst, ("k",)).collect()
    }
    assert acc == {"a": 2, "b": 2, "c": 1}


def test_compact_delta_counts_preserves_totals(spark, tmp_path):
    """Compaction folds the delta log into batch_id=-1 without
    changing totals, and new batches keep accumulating after it."""
    import pandas as pd

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    ck = str(tmp_path / "ck")
    spark.createDataFrame(pd.DataFrame({"k": ["a", "b", "a"]})).write.parquet(src)
    stream = lambda: spark.readStream.schema("k string").parquet(src)  # noqa: E731
    incremental.delta_counts_sink(stream(), dst, ck, key_cols=("k",))
    spark.createDataFrame(pd.DataFrame({"k": ["b"]})).write.mode("append").parquet(src)
    incremental.delta_counts_sink(stream(), dst, ck, key_cols=("k",))
    before = {
        r.k: r.n for r in incremental.read_delta_counts(spark, dst, ("k",)).collect()
    }
    assert before == {"a": 2, "b": 2}
    incremental.compact_delta_counts(spark, dst, ("k",))
    after = {
        r.k: r.n for r in incremental.read_delta_counts(spark, dst, ("k",)).collect()
    }
    assert after == before
    parts = {
        r.batch_id
        for r in spark.read.parquet(dst).select("batch_id").distinct().collect()
    }
    assert parts == {-1}
    spark.createDataFrame(pd.DataFrame({"k": ["c"]})).write.mode("append").parquet(src)
    incremental.delta_counts_sink(stream(), dst, ck, key_cols=("k",))
    final = {
        r.k: r.n for r in incremental.read_delta_counts(spark, dst, ("k",)).collect()
    }
    assert final == {"a": 2, "b": 2, "c": 1}


def test_compact_delta_counts_crash_recovery_converges(spark, tmp_path):
    """r6 crash protocol: a compaction interrupted at EITHER crash
    window (staging written but _done missing; _done written but
    deletes/rename unfinished) must converge to exact totals on the
    next run — the old in-place protocol double-counted and re-folding
    baked the double state in."""
    import json
    import os
    import shutil

    import pandas as pd

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    ck = str(tmp_path / "ck")
    spark.createDataFrame(pd.DataFrame({"k": ["a", "b", "a"]})).write.parquet(src)
    stream = lambda: spark.readStream.schema("k string").parquet(src)  # noqa: E731
    incremental.delta_counts_sink(stream(), dst, ck, key_cols=("k",))
    spark.createDataFrame(pd.DataFrame({"k": ["b"]})).write.mode("append").parquet(src)
    incremental.delta_counts_sink(stream(), dst, ck, key_cols=("k",))
    want = {"a": 2, "b": 2}

    staging = os.path.join(dst, ".compact_staging")

    # crash window 1: staging exists, _done never written → next run
    # discards the stage; the untouched original log stays correct
    os.makedirs(os.path.join(staging, "batch_id=-1"), exist_ok=True)
    with open(os.path.join(staging, "_manifest.json"), "w") as f:
        json.dump({"doomed": []}, f)
    got = {
        r.k: r.n for r in incremental.read_delta_counts(spark, dst, ("k",)).collect()
    }
    assert got == want  # dot-dir invisible to readers
    incremental.compact_delta_counts(spark, dst, ("k",))
    got = {
        r.k: r.n for r in incremental.read_delta_counts(spark, dst, ("k",)).collect()
    }
    assert got == want

    # crash window 2: _done written, deletes/rename not run — simulate
    # by rebuilding the staged state a real crash would leave behind
    batches = sorted(
        r.batch_id
        for r in spark.read.parquet(dst).select("batch_id").distinct().collect()
    )
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    # stage = a copy of the current fold (totals identical by invariant)
    shutil.copytree(
        os.path.join(dst, "batch_id=-1"), os.path.join(staging, "batch_id=-1")
    )
    with open(os.path.join(staging, "_manifest.json"), "w") as f:
        json.dump({"doomed": [b for b in batches if b != -1]}, f)
    with open(os.path.join(staging, "_done"), "w") as f:
        f.write("1")
    incremental.compact_delta_counts(spark, dst, ("k",))
    got = {
        r.k: r.n for r in incremental.read_delta_counts(spark, dst, ("k",)).collect()
    }
    assert got == want
    assert not os.path.exists(staging)


def test_incremental_dedup_finds_planted_cross_pairs(spark):
    """Every planted near-copy of an at-rest doc must come back as a
    verified (new, old) pair against the parquet band index, and no
    pair may point old->old (the increment never probes itself as
    index)."""
    from europe_gis_spark.queries import q_dedup_incremental

    rows = q_dedup_incremental(spark, "/root/testdata/sf0.01").collect()
    assert rows
    pairs = {(r.doc_a, r.doc_b) for r in rows}
    planted = {
        v
        for v in range(120, 500, 30)
    }
    for v in planted:
        assert (500000 + v, v) in pairs, f"planted copy of {v} missed"
    for a, b in pairs:
        assert a < 100 or a >= 500000, (a, b)  # doc_a is always new
        assert 100 <= b < 500000, (a, b)  # doc_b always at rest

"""Event analytics (sessions, funnels, conversions) and multimodal
binary plumbing."""

from __future__ import annotations


import pytest
from pyspark.sql import functions as F

from rag_database_spark.operators import multimodal
from rag_database_spark.streaming import events as se

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def event_dir(spark, tmp_path_factory):
    """A small event parquet directory."""
    path = str(tmp_path_factory.mktemp("events_src"))
    from rag_database_spark.sources.tables import load_table

    load_table(spark, SF_DIR, "events").limit(500).coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)
    return path


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        (1, b"x" * 1000, "image"),
        (2, b"y" * 2048, "video"),
        (3, b"", "audio"),
    ]
    df = spark.createDataFrame(rows, "id long, payload binary, kind string")
    return multimodal.media_table(df, "id", "payload", "mixed").drop(
        "kind"
    ).join(
        spark.createDataFrame(
            [(1, "image"), (2, "video"), (3, "audio")], "media_id long, kind string"
        ),
        "media_id",
    )


def test_decode_stub_schema_and_determinism(spark, media):
    a = {r["media_id"]: tuple(r) for r in multimodal.decode_media(media).collect()}
    b = {r["media_id"]: tuple(r) for r in multimodal.decode_media(media).collect()}
    assert a == b
    assert a[1][2] == 1000  # n_bytes
    assert a[3][6] is False  # empty payload → ok=False


def test_frame_sample_flatmap(spark, media):
    frames = multimodal.frame_sample(media, every_n=2).collect()
    vid = [r for r in frames if r["media_id"] == 2]
    # 2048 bytes → 8 frames of 256, every 2nd → indices 0,2,4,6
    assert [r["frame_index"] for r in sorted(vid, key=lambda r: r["frame_index"])] == [0, 2, 4, 6]
    assert all(r["n_bytes"] == 256 for r in vid)


def test_resize_media_clamp_math(spark):
    """Stub-path resize: dims come from the md5 pseudo-decode, the
    clamp is integer-exact aspect-preserving (new_w = w*max_side //
    max(w, h)), small images pass through payload-untouched, and the
    stub 'resample' crops the payload to the new pixel budget."""
    import hashlib

    p1 = b"payload one bytes" * 100
    p2 = b"x"
    media = spark.createDataFrame(
        [(1, "image", p1, {}), (2, "image", p2, {})],
        multimodal.MEDIA_SCHEMA,
    )
    got = {
        r["media_id"]: r
        for r in multimodal.resize_media(media, max_side=256).collect()
    }
    for mid, payload in ((1, p1), (2, p2)):
        h = hashlib.md5(payload).digest()
        w0, h0 = 64 + h[0] % 1920, 64 + h[1] % 1080
        longer = max(w0, h0)
        if longer > 256:
            nw, nh = w0 * 256 // longer, h0 * 256 // longer
        else:
            nw, nh = w0, h0
        r = got[mid]
        assert (r["width"], r["height"]) == (w0, h0)
        assert (r["new_width"], r["new_height"]) == (nw, nh)
        assert r["resized"] == ((nw, nh) != (w0, h0))
        want_payload = payload[: nw * nh] if r["resized"] else payload
        assert bytes(r["payload"]) == want_payload


def test_resize_one_real_pil_branch(monkeypatch):
    """The real-PIL branch of _resize_one opens, clamps, and resizes
    via PIL — pinned against a recorded fake (same direct-call pattern
    as _real_decode; executor monkeypatching can't cross workers)."""
    import sys
    import types

    calls = {}

    class _Im:
        width, height = 2048, 512

        def resize(self, size):
            calls["size"] = size
            return self

        def tobytes(self):
            return b"resized-bytes"

    fake_img = types.ModuleType("PIL.Image")
    fake_img.open = lambda bio: _Im()
    fake_pil = types.ModuleType("PIL")
    fake_pil.Image = fake_img
    monkeypatch.setitem(sys.modules, "PIL", fake_pil)
    monkeypatch.setitem(sys.modules, "PIL.Image", fake_img)

    out = multimodal._resize_one(b"\x89PNGxxxx", "image", 1024, True)
    # 2048x512 clamps to 1024x256 (aspect preserved, integer-exact)
    assert out == (2048, 512, 1024, 256, True, b"resized-bytes")
    assert calls["size"] == (1024, 256)
    # already-small image: untouched payload, no resize call
    _Im.width, _Im.height = 640, 480
    calls.clear()
    out2 = multimodal._resize_one(b"\x89PNGxxxx", "image", 1024, True)
    assert out2 == (640, 480, 640, 480, False, b"\x89PNGxxxx")
    assert "size" not in calls


def test_audio_fingerprint_hand_case(spark):
    """Energy-delta fingerprint == an independent hashlib recompute;
    identical payloads collide at hamming 0 via the banded join."""
    import hashlib

    from rag_database_spark.operators import dedup as dd

    t1 = b"some pseudo audio payload bytes here" * 8
    t2 = b"other waveform content entirely different" * 8
    media = spark.createDataFrame(
        [(1, "audio", t1, {}), (2, "audio", t2, {}), (3, "audio", t1, {})],
        multimodal.MEDIA_SCHEMA,
    )
    got = {
        r["media_id"]: r["audio_fp"]
        for r in multimodal.audio_fingerprint(media).collect()
    }

    def expect(payload):
        n = multimodal.AUDIO_FP_FRAMES
        w = (len(payload) + n - 1) // n
        e = [
            int(hashlib.md5(payload[i * w: i * w + w]).hexdigest()[:2], 16)
            for i in range(n)
        ]
        fp = 0
        for i in range(n - 1):
            if e[i + 1] > e[i]:
                fp |= 1 << i
        return fp

    assert got[1] == expect(t1) and got[2] == expect(t2)
    assert got[1] == got[3] and got[1] != got[2]

    fps = multimodal.audio_fingerprint(media).select(
        F.col("media_id").alias("doc_id"),
        F.col("audio_fp").alias("simhash"),
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dd.simhash_pairs(
            fps, 5, bits=multimodal.AUDIO_FP_FRAMES - 1
        ).collect()
    }
    assert pairs == {(1, 3): 0}


def test_real_frame_energies_rms_and_volume_invariance(monkeypatch):
    """The real branch computes per-frame RMS over mono-mixed PCM via
    the soundfile seam (recorded fake), and the delta-sign fingerprint
    is invariant to volume scaling — the Haitsma-Kalker property the
    energy-DELTA construction exists for."""
    import math
    import sys
    import types

    wave = [0.1, 0.2, 0.4, 0.8, 0.4, 0.2, 0.1, 0.05]

    def fake_read(bio):
        return list(wave), 16000

    fake_sf = types.ModuleType("soundfile")
    fake_sf.read = fake_read
    monkeypatch.setitem(sys.modules, "soundfile", fake_sf)

    n = 4  # 2 samples per frame
    e = multimodal._real_frame_energies(b"fake-wav", n)
    want = [
        math.sqrt((a * a + b * b) / 2)
        for a, b in zip(wave[0::2], wave[1::2])
    ]
    assert all(abs(x - y) < 1e-12 for x, y in zip(e, want))

    def fp(energies):
        out = 0
        for i in range(len(energies) - 1):
            if energies[i + 1] > energies[i]:
                out |= 1 << i
        return out

    fake_sf.read = lambda bio: ([2.0 * v for v in wave], 16000)
    e2 = multimodal._real_frame_energies(b"fake-wav", n)
    assert fp(e2) == fp(e)  # volume doubled, deltas' signs unchanged


def test_video_frame_jaccard_hand_case(spark):
    """Frame-set Jaccard over sampled frames: two 'videos' sharing
    half their sampled frames get exactly the hand-computed Jaccard;
    an unrelated video pairs with neither."""
    from rag_database_spark.operators import dedup as dd

    fb, en = 4, 1  # 4-byte frames, sample every frame
    shared = b"AAAABBBBCCCCDDDD"          # frames A B C D
    v1 = shared + b"EEEEFFFF"             # A B C D E F
    v2 = shared + b"GGGGHHHH"             # A B C D G H  -> inter 4, union 8
    v3 = b"XXXXYYYYZZZZWWWW"              # disjoint
    media = spark.createDataFrame(
        [(1, "video", v1, {}), (2, "video", v2, {}), (3, "video", v3, {})],
        multimodal.MEDIA_SCHEMA,
    )
    frames = multimodal.frame_sample(media, every_n=en, frame_bytes=fb)
    ex = frames.select(
        F.col("media_id").alias("doc_id"), F.md5(F.col("frame")).alias("s")
    ).distinct()
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dd.shingle_jaccard_pairs(
            None, 0.4, shingle_index=ex
        ).collect()
    }
    assert pairs == {(1, 2): 0.5}


def test_image_dhash_hand_case(spark):
    """dHash fingerprint == an independent hashlib recompute of the
    length-scaled md5 pixel grid + adjacent-cell comparisons; exact
    duplicate payloads collide at hamming 0 via the banded pair
    join and a distinct payload does not pair with them."""
    import hashlib

    from rag_database_spark.operators import dedup as dd

    t1 = b"the quick brown fox jumps over the lazy dog" * 4
    t2 = b"completely different content with other bytes here" * 4
    media = spark.createDataFrame(
        [(1, "image", t1, {}), (2, "image", t2, {}), (3, "image", t1, {})],
        multimodal.MEDIA_SCHEMA,
    )
    got = {
        r["media_id"]: r["dhash"]
        for r in multimodal.image_dhash(media).collect()
    }

    def expect(payload):
        n_cells = multimodal.DHASH_ROWS * (multimodal.DHASH_COLS + 1)
        w = (len(payload) + n_cells - 1) // n_cells
        px = [
            int(hashlib.md5(payload[i * w: i * w + w]).hexdigest()[:2], 16)
            for i in range(n_cells)
        ]
        fp = 0
        for r in range(multimodal.DHASH_ROWS):
            for c in range(multimodal.DHASH_COLS):
                row0 = r * (multimodal.DHASH_COLS + 1)
                if px[row0 + c + 1] > px[row0 + c]:
                    fp |= 1 << (r * multimodal.DHASH_COLS + c)
        return fp

    assert got[1] == expect(t1) and got[2] == expect(t2)
    assert got[1] == got[3] and got[1] != got[2]

    fps = multimodal.image_dhash(media).select(
        F.col("media_id").alias("doc_id"), F.col("dhash").alias("simhash")
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dd.simhash_pairs(
            fps, 5, bits=multimodal.DHASH_BITS
        ).collect()
    }
    assert pairs == {(1, 3): 0}


def test_native_session_window_agrees(spark, event_dir):
    """``sessionize`` (lag + running-sum windows) against Spark's
    built-in ``session_window`` as the reference formulation."""
    from rag_database_spark.functions.exact import exact_sum

    events = spark.read.parquet(event_dir)
    mine = se.sessionize(events).collect()
    native = (
        events.groupBy(F.session_window("ts", "30 minutes").alias("w"),
                       "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(exact_sum("value"), 6).alias("total_value"),
        )
        .select("user_id", F.col("w.start").alias("session_start"),
                "n_events", "total_value")
        .collect()
    )
    key = lambda r: (r["user_id"], r["session_start"])
    a = {key(r): (r["n_events"], r["total_value"]) for r in mine}
    b = {key(r): (r["n_events"], r["total_value"]) for r in native}
    # random microsecond timestamps never land exactly on the gap
    # boundary, so the two formulations partition events identically
    assert a == b and len(a) > 0


def test_conversions_last_touch(spark):
    """Hand case: the latest in-window click wins; out-of-window and
    clickless purchases drop."""
    rows = [
        (1, "2024-01-01 10:00:00", 7, "click", 0.0, ""),
        (2, "2024-01-01 10:30:00", 7, "click", 0.0, ""),
        (3, "2024-01-01 10:45:00", 7, "purchase", 9.5, ""),
        (4, "2024-01-01 08:00:00", 8, "click", 0.0, ""),
        (5, "2024-01-01 10:00:00", 8, "purchase", 1.0, ""),  # click too old
        (6, "2024-01-01 10:00:00", 9, "purchase", 2.0, ""),  # no click
    ]
    events = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string,"
        " value double, props string"
    ).withColumn("ts", F.to_timestamp("ts"))
    got = {
        r["purchase_id"]: r["click_id"]
        for r in se.attribute_conversions(events).collect()
    }
    assert got == {3: 2}


def test_funnel_requires_strict_order(spark):
    """A user whose click precedes their first view does NOT reach
    step 2; a correctly-ordered user converts through all steps; the
    rates are exact."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 9, 0, 0)

    def ev(i, user, kind, minutes):
        return (i, t0 + dt.timedelta(minutes=minutes), user, kind, 1.0, "{}")

    rows = [
        # user 1: view -> click -> purchase (full conversion)
        ev(1, 1, "view", 0), ev(2, 1, "click", 5), ev(3, 1, "purchase", 10),
        # user 2: click BEFORE first view -> stops at step 1
        ev(4, 2, "click", 0), ev(5, 2, "view", 5),
        # user 3: view only
        ev(6, 3, "view", 0),
    ]
    events = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    got = {r["step"]: r for r in se.funnel(events).collect()}
    assert got["view"]["n_users"] == 3 and got["view"]["conversion"] == 1.0
    assert got["click"]["n_users"] == 1
    assert abs(got["click"]["conversion"] - round(1 / 3, 6)) < 1e-9
    assert got["purchase"]["n_users"] == 1


def test_cohort_retention_triangle(spark):
    """Two cohorts a week apart: offsets count from each user's own
    first week and users are distinct within a cell."""
    import datetime as dt

    mon1 = dt.datetime(2024, 1, 1, 10, 0, 0)   # Monday
    mon2 = dt.datetime(2024, 1, 8, 10, 0, 0)
    rows = [
        (1, mon1, 1, "view", 1.0, "{}"),
        (2, mon1 + dt.timedelta(days=1), 1, "view", 1.0, "{}"),  # same week
        (3, mon2, 1, "view", 1.0, "{}"),                          # offset 1
        (4, mon2, 2, "view", 1.0, "{}"),                          # cohort 2
    ]
    events = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    got = {
        (str(r["cohort_week"]), r["week_offset"]): r["n_users"]
        for r in se.cohort_retention(events).collect()
    }
    assert got == {
        ("2024-01-01", 0): 1,
        ("2024-01-01", 1): 1,
        ("2024-01-08", 0): 1,
    }


def test_funnel_conversion_window(spark):
    """within_us caps the step-to-step gap: a click 2h after the view
    is outside a 1h window (user stops at step 1), inside a 3h one."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 9, 0, 0)
    rows = [
        (1, t0, 1, "view", 1.0, "{}"),
        (2, t0 + dt.timedelta(hours=2), 1, "click", 1.0, "{}"),
    ]
    events = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    hour_us = 3600 * 1_000_000
    tight = {r["step"]: r["n_users"]
             for r in se.funnel(events, within_us=hour_us).collect()}
    loose = {r["step"]: r["n_users"]
             for r in se.funnel(events, within_us=3 * hour_us).collect()}
    assert tight == {"view": 1, "click": 0, "purchase": 0}
    assert loose == {"view": 1, "click": 1, "purchase": 0}


def test_events_cube_granularities(spark):
    """CUBE emits all four granularities with the gid bitmask
    (event_type = MSB), and each rollup level sums consistently."""
    import datetime as dt

    t = dt.datetime(2024, 1, 1, 9, 30)
    rows = [
        (1, t, 1, "view", 2.0, "{}"),
        (2, t, 2, "click", 3.0, "{}"),
        (3, t + dt.timedelta(hours=1), 1, "view", 5.0, "{}"),
    ]
    from rag_database_spark.operators.relational import events_cube

    events = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    out = events_cube(events).collect()
    by_gid = {}
    for r in out:
        by_gid.setdefault(r["gid"], []).append(r)
    assert set(by_gid) == {0, 1, 2, 3}
    total = by_gid[3][0]
    assert (total["n_events"], total["sum_value"]) == (3, 10.0)
    assert total["event_type"] is None and total["bucket_start"] is None
    per_type = {r["event_type"]: r for r in by_gid[1]}
    assert per_type["view"]["n_events"] == 2
    assert per_type["view"]["sum_value"] == 7.0
    assert sum(r["n_events"] for r in by_gid[0]) == 3
    assert sum(r["n_events"] for r in by_gid[2]) == 3


def test_funnel_is_order_and_partition_invariant(spark):
    """The batch funnel is min-based, so input row order and
    partitioning must not change any step count (the determinism the
    oracle hash-compare relies on)."""
    from rag_database_spark.sources.tables import load_table

    base = load_table(spark, SF_DIR, "events").limit(2000)
    want = sorted(map(tuple, se.funnel(base).collect()))
    shuffled = base.orderBy(F.desc("event_id")).repartition(13)
    got = sorted(map(tuple, se.funnel(shuffled).collect()))
    assert got == want


def test_use_real_pins_the_seam_branch(monkeypatch):
    """Entries whose payloads are synthesized from text pass
    real=False: even when the library is importable, the real decoder
    must not run on bytes that were never real media."""
    from rag_database_spark import seams

    monkeypatch.setattr(seams, "have", lambda name: True)
    assert multimodal._use_real(None, "PIL.Image") is True  # auto
    assert multimodal._use_real(False, "PIL.Image") is False  # pinned
    monkeypatch.setattr(seams, "have", lambda name: False)
    assert multimodal._use_real(None, "PIL.Image") is False
    assert multimodal._use_real(True, "PIL.Image") is True



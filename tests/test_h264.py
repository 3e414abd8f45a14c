"""multimodal/h264.py: SPS encode/parse round-trip, a real-encoder
golden, emulation prevention, and the Spark operator surface."""

from __future__ import annotations

import pytest

from pyp_etl_pipeline_spark.multimodal.h264 import (
    _emulation_prevent,
    _emulation_strip,
    sps_encode,
    sps_features,
    sps_parse,
)


@pytest.mark.parametrize("w,h", [(16, 16), (640, 480), (1920, 1080), (1918, 1078), (18, 1062)])
@pytest.mark.parametrize("profile", [66, 77, 100])
def test_round_trip(w, h, profile):
    got = sps_parse(sps_encode(w, h, profile_idc=profile, level_idc=41, fps=30))
    assert got == {
        "profile_idc": profile,
        "level_idc": 41,
        "width": w,
        "height": h,
        "fps": 30.0,
    }


def test_golden_x264_sps():
    """A real x264-produced high-profile SPS (not our encoder): 1920x1080
    (coded 1920x1088 + bottom crop), level 4.2, 30 fps timing. Parsing
    someone else's bitstream is what separates a parser from a fixture
    reader."""
    golden = bytes.fromhex(
        "6764002aacd940780227e5c05a808080a0000003002000000781e3062c"
    )
    got = sps_parse(golden)
    assert got["profile_idc"] == 100
    assert got["level_idc"] == 42
    assert (got["width"], got["height"]) == (1920, 1080)
    assert got["fps"] == 30.0


def test_emulation_prevention_round_trip():
    for raw in (
        b"\x00\x00\x00",
        b"\x00\x00\x01\x02",
        b"\x00\x00\x03\x00\x00\x02",
        b"\xff\x00\x00\x00\x00\x01",
        bytes(range(256)),
    ):
        esc = _emulation_prevent(raw)
        assert b"\x00\x00\x00" not in esc
        assert b"\x00\x00\x01" not in esc
        assert b"\x00\x00\x02" not in esc
        assert _emulation_strip(esc) == raw


def test_encoder_emits_emulation_prevention():
    # at these params the 32-bit num_units_in_tick byte-aligns so that
    # 00 00 03 appears in the RBSP and the encoder must escape it
    payload = sps_encode(32, 1078, profile_idc=100, level_idc=30, fps=24)
    assert b"\x00\x00\x03" in payload[5:]  # escape byte present...
    got = sps_parse(payload)  # ...and transparently stripped on parse
    assert (got["width"], got["height"], got["fps"]) == (32, 1078, 24.0)


def test_rejects_non_sps():
    with pytest.raises(ValueError):
        sps_parse(b"\x00\x00\x00\x01\x68\x00")  # PPS NAL (type 8)
    with pytest.raises(ValueError):
        sps_encode(15, 16)  # odd width


def test_start_code_variants():
    annexb4 = sps_encode(320, 240)
    annexb3 = annexb4[1:]  # 3-byte start code
    bare = annexb4[4:]  # no start code
    assert sps_parse(annexb3) == sps_parse(annexb4) == sps_parse(bare)


def test_sps_features_operator(spark):
    rows = [(i, sps_encode(16 + 2 * i, 1078, profile_idc=100, level_idc=51, fps=60)) for i in range(8)]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    out = {r["media_id"]: r for r in sps_features(df).collect()}
    assert len(out) == 8
    for i in range(8):
        r = out[i]
        assert (r["width"], r["height"]) == (16 + 2 * i, 1078)
        assert (r["profile_idc"], r["level_idc"], r["fps"]) == (100, 51, 60.0)


# ------------------------------------------------------- avcC-in-MP4

def test_mp4_avcc_round_trip():
    from pyp_etl_pipeline_spark.multimodal.h264 import mp4_avc_encode, mp4_avcc_extract

    for (w, h, p, lv, fps, dur) in [
        (640, 480, 66, 30, 24, 5000),
        (1918, 1078, 100, 51, 60, 1),
        (16, 16, 77, 10, 37, 599999),
    ]:
        d = mp4_avcc_extract(mp4_avc_encode(w, h, dur, p, lv, fps))
        assert (d["width"], d["height"]) == (w, h)
        assert (d["container_width"], d["container_height"]) == (w, h)
        assert (d["profile_idc"], d["level_idc"], d["fps"]) == (p, lv, float(fps))
        assert abs(d["duration_ms"] - dur) < 1e-9
        assert (d["n_sps"], d["n_pps"]) == (1, 1)


def test_mp4_avcc_display_mismatch():
    from pyp_etl_pipeline_spark.multimodal.h264 import mp4_avc_encode, mp4_avcc_extract

    d = mp4_avcc_extract(
        mp4_avc_encode(640, 480, 1000, display_width=1280, display_height=720)
    )
    assert (d["width"], d["height"]) == (640, 480)  # stream truth
    assert (d["container_width"], d["container_height"]) == (1280, 720)  # container claim


def test_mp4_avcc_rejects_plain_mp4():
    import pytest as _pytest

    from pyp_etl_pipeline_spark.multimodal.codecs import mp4_encode
    from pyp_etl_pipeline_spark.multimodal.h264 import mp4_avcc_extract

    with _pytest.raises(ValueError, match="no avcC"):
        mp4_avcc_extract(mp4_encode(640, 480, 1000))


def test_avcc_record_validation():
    import pytest as _pytest

    from pyp_etl_pipeline_spark.multimodal.h264 import avcc_parse, avcc_record, pps_encode

    with _pytest.raises(ValueError):
        avcc_record(b"\x68\x00", pps_encode())  # PPS where SPS expected
    with _pytest.raises(ValueError):
        avcc_parse(b"\x02\x42\x00\x1e\xff\xe1")  # wrong configurationVersion


def test_avc_container_features_operator(spark):
    from pyp_etl_pipeline_spark.multimodal.h264 import avc_container_features, mp4_avc_encode

    rows = [
        (
            i,
            mp4_avc_encode(
                320 + 2 * i,
                240,
                100 * (i + 1),
                display_width=322 + 2 * i if i % 2 else None,
            ),
        )
        for i in range(6)
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    out = {r["media_id"]: r for r in avc_container_features(df).collect()}
    for i in range(6):
        r = out[i]
        assert r["width"] == 320 + 2 * i
        assert r["dims_match"] == (i % 2 == 0)


def test_truncated_payloads_raise_valueerror_not_indexerror():
    """ADVICE r11: _BitReader and avcc_parse used to IndexError on
    truncated bytes, breaking the module's ValueError contract. Every
    truncation prefix of a real SPS / avcC must raise ValueError."""
    import pytest as _pytest

    from pyp_etl_pipeline_spark.multimodal.h264 import (
        avcc_parse,
        avcc_record,
        pps_encode,
        sps_encode,
        sps_parse,
    )

    sps = sps_encode(1920, 1080, profile_idc=100)
    # cut inside the NAL body (keep start code + type byte so we hit
    # the bit reader, not the "not an SPS NAL" precheck)
    for cut in range(6, len(sps) - 1):
        with _pytest.raises(ValueError):
            sps_parse(sps[:cut])

    rec = avcc_record(sps[4:], pps_encode())
    # every cut up to and including the n_pps byte must raise; cuts
    # inside the PPS body parse fine (the metadata parser reads only
    # the SPS + counts, never PPS bytes)
    sps_end = 6 + 2 + len(sps[4:])
    for cut in range(7, sps_end + 1):
        with _pytest.raises(ValueError):
            avcc_parse(rec[:cut])


def _codec_operators():
    """(operator, one good payload of a 640x480 stream) for each of the 8
    permissive codec operators: stream and MP4-container tiers of
    H.264, HEVC, AV1 and VP9."""
    from pyp_etl_pipeline_spark.multimodal import av1, h264, h265, vp9

    return {
        "h264_sps": (h264.sps_features, h264.sps_encode(640, 480)),
        "h264_mp4": (h264.avc_container_features, h264.mp4_avc_encode(640, 480, 1000)),
        "hevc_sps": (h265.hevc_sps_features, h265.hevc_sps_encode(640, 480)),
        "hevc_mp4": (h265.hevc_container_features, h265.mp4_hevc_encode(640, 480, 1000)),
        "av1_seq": (av1.av1_seq_features, av1.av1_sequence_header_encode(640, 480)),
        "av1_mp4": (av1.av1_container_features, av1.mp4_av1_encode(640, 480, 1000)),
        "vp9_frame": (vp9.vp9_frame_features, vp9.vp9_frame_header_encode(640, 480)),
        "vp9_mp4": (vp9.vp9_container_features, vp9.mp4_vp9_encode(640, 480, 1000)),
    }


@pytest.mark.parametrize("codec", list(_codec_operators()))
def test_permissive_mode_quarantines_bad_rows(spark, codec):
    """Corpus-scale contract of every permissive codec operator: one
    corrupt blob yields NULL fields + an error string while good rows in
    the same batch still parse; strict mode fails the stage on the same
    rows; the permissive schema is the strict schema plus ``error``."""
    from pyspark.sql.types import StringType

    operator, good = _codec_operators()[codec]
    rows = [(0, good), (1, good[: len(good) // 2]), (2, b"\xde\xad\xbe\xef"), (3, good)]
    df = spark.createDataFrame(rows, "media_id long, payload binary")

    permissive = operator(df, permissive=True)
    out = {r["media_id"]: r.asDict() for r in permissive.collect()}
    assert sorted(out) == [0, 1, 2, 3]
    for ok in (0, 3):
        assert out[ok]["width"] == 640 and out[ok]["error"] is None
        assert out[ok].get("dims_match", True) is True
    for bad in (1, 2):
        fields = {k: v for k, v in out[bad].items() if k not in ("media_id", "error")}
        assert all(v is None for v in fields.values()), fields
        assert out[bad]["error"]

    strict = operator(df)
    with pytest.raises(Exception):  # noqa: B017 — the stage failure, whatever wraps it
        strict.collect()

    def pairs(schema):
        return [(f.name, f.dataType) for f in schema.fields]

    assert pairs(permissive.schema) == pairs(strict.schema) + [("error", StringType())]

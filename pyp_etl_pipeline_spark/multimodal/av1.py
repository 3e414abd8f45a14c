"""AV1 sequence-header metadata codec — pure python.

Third leg of the video metadata tier (H.264 ``h264.py``, HEVC
``h265.py``): parse the AV1 sequence header OBU — profile, level, tier,
picture dimensions, bit depth, chroma subsampling, frame rate from
timing info — per the public AOMedia AV1 bitstream specification
(§5.3 OBU framing, §5.5 sequence_header_obu, §5.5.2 color_config).
Same honest boundary as the other two: metadata only; AV1 pixel decode
stays behind the plugin seam (``binary_ops.decode_real`` raises
``NotImplementedError`` for video pixels).

AV1 differs structurally from the NAL codecs in ways this module
implements faithfully rather than papering over:

- OBUs are LENGTH-DELIMITED (leb128 size field) — there is no start
  code and no emulation prevention; a parser that scans for 00 00 01
  is wrong by construction.
- The full (non-reduced) header carries an OPERATING POINT table
  (up to 32 entries with 12-bit idc + level/tier each) and optional
  decoder-model / initial-display-delay blocks, all of which must be
  walked bit-exactly to reach the frame-size fields after them.
- Dimension fields are variable-width: 4-bit width/height BIT COUNTS
  followed by that many bits of max_frame_{width,height}_minus_1.
- color_config couples bit depth, profile, and subsampling (profile 0
  = 4:2:0, profile 1 = 4:4:4, profile 2 = 4:2:2 or, at 12-bit,
  signalled), with the sRGB special case forcing full-range 4:4:4.

Honesty note on goldens: no AV1 encoder exists in this container (no
libaom/SVT-AV1/ffmpeg), so ``tests/test_av1.py`` validates the parser
against a HAND-ASSEMBLED spec-layout bitstream built bit-by-bit with an
independent packer (exercising the operating-point table, decoder
model, and screen-content branches our encoder never emits), plus
encoder round-trips and the truncation contract — the same approach,
documented, as ``h265.py``. If a real libaom stream ever lands here,
pin it the way test_h264's x264 golden is pinned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from pyp_etl_pipeline_spark.multimodal.codecs import (
    find_sample_entry_record,
    mp4_decode,
    with_dims_match,
)
from pyp_etl_pipeline_spark.multimodal.h264 import _BitReader, _BitWriter
from pyp_etl_pipeline_spark.multimodal.rowmap import row_map

OBU_SEQUENCE_HEADER = 1
OBU_TEMPORAL_DELIMITER = 2


def _leb128_encode(v: int) -> bytes:
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _leb128_decode(data: bytes, pos: int) -> tuple[int, int]:
    """(value, new_pos); ValueError on truncation or >8-byte coding."""
    v = 0
    for i in range(8):
        if pos + i >= len(data):
            raise ValueError("truncated leb128")
        b = data[pos + i]
        v |= (b & 0x7F) << (7 * i)
        if not b & 0x80:
            return v, pos + i + 1
    raise ValueError("leb128 exceeds 8 bytes")


def _uvlc_write(w: _BitWriter, v: int) -> None:
    # §4.10.3: same prefix shape as exp-Golomb
    code = v + 1
    n = code.bit_length()
    w.u(n - 1, 0)
    w.u(n, code)


def _uvlc_read(r: _BitReader) -> int:
    zeros = 0
    while r.u(1) == 0:
        zeros += 1
        if zeros >= 32:
            return (1 << 32) - 1  # spec: leadingZeros >= 32 -> 2^32 - 1
    return (1 << zeros) - 1 + (r.u(zeros) if zeros else 0)


def av1_sequence_header_encode(
    width: int,
    height: int,
    seq_profile: int = 0,
    seq_level_idx: int = 8,
    seq_tier: int = 0,
    fps: int | None = 30,
    high_bitdepth: bool = False,
) -> bytes:
    """A spec-shaped sequence header OBU (full, non-reduced layout, one
    operating point, timing info when ``fps`` is given) wrapped in OBU
    framing with a leb128 size field, preceded by a temporal delimiter
    OBU — the two-OBU prefix every AV1 temporal unit starts with."""
    if width <= 0 or height <= 0:
        raise ValueError("av1_sequence_header_encode: dimensions must be positive")
    if not 0 <= seq_profile <= 2:
        raise ValueError("seq_profile must be 0..2")
    w = _BitWriter()
    w.u(3, seq_profile)
    w.u(1, 0)  # still_picture
    w.u(1, 0)  # reduced_still_picture_header
    if fps is not None:
        w.u(1, 1)  # timing_info_present_flag
        w.u(32, 1000)  # num_units_in_display_tick
        w.u(32, fps * 1000)  # time_scale
        w.u(1, 1)  # equal_picture_interval
        _uvlc_write(w, 0)  # num_ticks_per_picture_minus_1
        w.u(1, 0)  # decoder_model_info_present_flag
    else:
        w.u(1, 0)
    w.u(1, 0)  # initial_display_delay_present_flag
    w.u(5, 0)  # operating_points_cnt_minus_1
    w.u(12, 0)  # operating_point_idc[0]
    w.u(5, seq_level_idx)
    if seq_level_idx > 7:
        w.u(1, seq_tier)
    wbits = max(1, (width - 1).bit_length())
    hbits = max(1, (height - 1).bit_length())
    w.u(4, wbits - 1)  # frame_width_bits_minus_1
    w.u(4, hbits - 1)  # frame_height_bits_minus_1
    w.u(wbits, width - 1)  # max_frame_width_minus_1
    w.u(hbits, height - 1)  # max_frame_height_minus_1
    w.u(1, 0)  # frame_id_numbers_present_flag
    w.u(1, 1)  # use_128x128_superblock
    w.u(1, 0)  # enable_filter_intra
    w.u(1, 0)  # enable_intra_edge_filter
    w.u(1, 0)  # enable_interintra_compound
    w.u(1, 0)  # enable_masked_compound
    w.u(1, 0)  # enable_warped_motion
    w.u(1, 0)  # enable_dual_filter
    w.u(1, 1)  # enable_order_hint
    w.u(1, 0)  # enable_jnt_comp
    w.u(1, 0)  # enable_ref_frame_mvs
    w.u(1, 1)  # seq_choose_screen_content_tools (-> force = 2 SELECT)
    w.u(1, 1)  # seq_choose_integer_mv (force > 0 -> present)
    w.u(3, 6)  # order_hint_bits_minus_1
    w.u(1, 0)  # enable_superres
    w.u(1, 1)  # enable_cdef
    w.u(1, 1)  # enable_restoration
    # color_config
    w.u(1, 1 if high_bitdepth else 0)
    if seq_profile == 2 and high_bitdepth:
        w.u(1, 0)  # twelve_bit = 0 -> 10-bit
    if seq_profile != 1:
        w.u(1, 0)  # mono_chrome
    w.u(1, 0)  # color_description_present_flag
    w.u(1, 0)  # color_range
    if seq_profile == 2 and high_bitdepth:
        # BitDepth == 10 here, not 12: fixed 4:2:2, nothing signalled
        pass
    if seq_profile == 0:
        w.u(2, 0)  # chroma_sample_position (4:2:0 has both subsamplings)
    w.u(1, 0)  # separate_uv_delta_q
    w.u(1, 0)  # film_grain_params_present
    payload = w.rbsp_bytes()  # trailing_bits: same stop-bit + pad shape
    header = bytes([(OBU_SEQUENCE_HEADER << 3) | 0b010])  # has_size_field
    td = bytes([(OBU_TEMPORAL_DELIMITER << 3) | 0b010, 0])  # size 0
    return td + header + _leb128_encode(len(payload)) + payload


def _parse_color_config(r: _BitReader, seq_profile: int) -> dict:
    high_bitdepth = r.u(1)
    if seq_profile == 2 and high_bitdepth:
        bit_depth = 12 if r.u(1) else 10
    else:
        bit_depth = 10 if high_bitdepth else 8
    mono_chrome = 0 if seq_profile == 1 else r.u(1)
    cp, tc, mc = 2, 2, 2  # CP/TC/MC_UNSPECIFIED
    if r.u(1):  # color_description_present_flag
        cp = r.u(8)
        tc = r.u(8)
        mc = r.u(8)
    if mono_chrome:
        r.u(1)  # color_range
        # §5.5.2: the mono branch RETURNS here — separate_uv_delta_q is
        # not coded for monochrome streams
        return {"bit_depth": bit_depth, "mono_chrome": 1, "sub_x": 1, "sub_y": 1}
    if cp == 1 and tc == 13 and mc == 0:  # BT.709 + sRGB + identity
        sub_x = sub_y = 0  # forced full-range 4:4:4, color_range not coded
    else:
        r.u(1)  # color_range
        if seq_profile == 0:
            sub_x = sub_y = 1
        elif seq_profile == 1:
            sub_x = sub_y = 0
        elif bit_depth == 12:
            sub_x = r.u(1)
            sub_y = r.u(1) if sub_x else 0
        else:
            sub_x, sub_y = 1, 0
        if sub_x and sub_y:
            r.u(2)  # chroma_sample_position
    r.u(1)  # separate_uv_delta_q
    return {
        "bit_depth": bit_depth,
        "mono_chrome": mono_chrome,
        "sub_x": sub_x,
        "sub_y": sub_y,
    }


def av1_sequence_header_parse(payload: bytes) -> dict:
    """Walk OBU framing to the first sequence header OBU and parse it
    (§5.5): profile, level/tier of operating point 0, max frame
    dimensions, bit depth, chroma subsampling, fps from timing info.
    Accepts a raw temporal unit (low-overhead bitstream format) or a
    bare sequence-header OBU."""
    pos = 0
    seq_payload = None
    while pos < len(payload):
        b0 = payload[pos]
        if b0 & 0x80:
            raise ValueError("not an AV1 OBU (forbidden bit set)")
        obu_type = (b0 >> 3) & 0x0F
        has_ext = (b0 >> 2) & 1
        has_size = (b0 >> 1) & 1
        pos += 1
        if has_ext:
            if pos >= len(payload):
                raise ValueError("truncated OBU extension header")
            pos += 1
        if has_size:
            size, pos = _leb128_decode(payload, pos)
        else:
            size = len(payload) - pos  # last OBU in an annexb-less stream
        if pos + size > len(payload):
            raise ValueError("truncated OBU payload")
        if obu_type == OBU_SEQUENCE_HEADER:
            seq_payload = payload[pos : pos + size]
            break
        pos += size
    if seq_payload is None:
        raise ValueError("no sequence header OBU")

    r = _BitReader(seq_payload)
    seq_profile = r.u(3)
    if seq_profile > 2:
        raise ValueError(f"reserved seq_profile {seq_profile}")
    r.u(1)  # still_picture
    reduced = r.u(1)
    fps = None
    decoder_model_info = None
    if reduced:
        level = r.u(5)
        tier = 0
    else:
        if r.u(1):  # timing_info_present_flag
            num_units = r.u(32)
            time_scale = r.u(32)
            equal = r.u(1)
            ticks = _uvlc_read(r) + 1 if equal else 1
            if num_units and equal:
                fps = time_scale / (float(num_units) * ticks)
            if r.u(1):  # decoder_model_info_present_flag
                buffer_delay_len = r.u(5) + 1
                r.u(32)  # num_units_in_decoding_tick
                r.u(5)  # buffer_removal_time_length_minus_1
                r.u(5)  # frame_presentation_time_length_minus_1
                decoder_model_info = buffer_delay_len
        initial_display_delay = r.u(1)
        op_cnt = r.u(5) + 1
        level = tier = None
        for i in range(op_cnt):
            r.u(12)  # operating_point_idc
            lv = r.u(5)
            tr = r.u(1) if lv > 7 else 0
            if i == 0:
                level, tier = lv, tr
            if decoder_model_info is not None:
                if r.u(1):  # decoder_model_present_for_this_op
                    r.u(decoder_model_info)  # decoder_buffer_delay
                    r.u(decoder_model_info)  # encoder_buffer_delay
                    r.u(1)  # low_delay_mode_flag
            if initial_display_delay:
                if r.u(1):
                    r.u(4)  # initial_display_delay_minus_1
    wbits = r.u(4) + 1
    hbits = r.u(4) + 1
    width = r.u(wbits) + 1
    height = r.u(hbits) + 1
    if not reduced:
        if r.u(1):  # frame_id_numbers_present_flag
            r.u(4)  # delta_frame_id_length_minus_2
            r.u(3)  # additional_frame_id_length_minus_1
    r.u(1)  # use_128x128_superblock
    r.u(1)  # enable_filter_intra
    r.u(1)  # enable_intra_edge_filter
    if not reduced:
        r.u(1)  # enable_interintra_compound
        r.u(1)  # enable_masked_compound
        r.u(1)  # enable_warped_motion
        r.u(1)  # enable_dual_filter
        enable_order_hint = r.u(1)
        if enable_order_hint:
            r.u(1)  # enable_jnt_comp
            r.u(1)  # enable_ref_frame_mvs
        force_sct = 2 if r.u(1) else r.u(1)  # seq_choose/force_screen_content
        if force_sct > 0:
            if not r.u(1):  # seq_choose_integer_mv
                r.u(1)  # seq_force_integer_mv
        if enable_order_hint:
            r.u(3)  # order_hint_bits_minus_1
    r.u(1)  # enable_superres
    r.u(1)  # enable_cdef
    r.u(1)  # enable_restoration
    cc = _parse_color_config(r, seq_profile)
    r.u(1)  # film_grain_params_present
    return {
        "seq_profile": seq_profile,
        "seq_level_idx": level,
        "seq_tier": tier,
        "width": width,
        "height": height,
        "bit_depth": cc["bit_depth"],
        "mono_chrome": cc["mono_chrome"],
        "chroma_sub_x": cc["sub_x"],
        "chroma_sub_y": cc["sub_y"],
        "fps": fps,
    }


def av1_seq_features(df: DataFrame, permissive: bool = False) -> DataFrame:
    """DataFrame operator: (media_id long, payload binary) -> parsed AV1
    sequence-header metadata. Arrow-batched ``mapInPandas``, map-only —
    same 100 TB shape and ``permissive`` quarantine contract as the
    H.264/HEVC feature operators."""
    return row_map(
        df,
        lambda _mid, p: [av1_sequence_header_parse(bytes(p))],
        "media_id long, seq_profile int, seq_level_idx int, seq_tier int, "
        "width int, height int, bit_depth int, mono_chrome int, "
        "chroma_sub_x int, chroma_sub_y int, fps double",
        permissive,
    )


# --------------------------------------------------- av1C-in-MP4 (mm20)
# AV1's MP4 carriage (AV1-ISOBMFF spec): an av01 sample entry with an
# av1C box holding the AV1CodecConfigurationRecord — a fixed 4-byte
# prefix (marker/version, profile+level, tier/bitdepth/mono/subsampling
# flags, delay byte) followed by the configOBUs (the sequence header).


def av1c_record(seq_obu: bytes) -> bytes:
    """AV1CodecConfigurationRecord from a sequence-header temporal unit
    (the config fields are mirrored from the parsed OBU so record and
    stream can never disagree by construction)."""
    meta = av1_sequence_header_parse(seq_obu)
    b1 = 0x80 | 1  # marker(1)=1, version(7)=1
    b2 = ((meta["seq_profile"] & 0x7) << 5) | (meta["seq_level_idx"] & 0x1F)
    b3 = (
        ((meta["seq_tier"] & 1) << 7)
        | ((1 if meta["bit_depth"] > 8 else 0) << 6)
        | ((1 if meta["bit_depth"] == 12 else 0) << 5)
        | ((meta["mono_chrome"] & 1) << 4)
        | ((meta["chroma_sub_x"] & 1) << 3)
        | ((meta["chroma_sub_y"] & 1) << 2)
        | 0  # chroma_sample_position
    )
    b4 = 0  # reserved(3) + initial_presentation_delay_present(1)=0 + reserved(4)
    # configOBUs: the sequence header OBU only (temporal delimiter is
    # bitstream framing, not config — strip it)
    pos = 0
    config = seq_obu
    if seq_obu and ((seq_obu[0] >> 3) & 0x0F) == OBU_TEMPORAL_DELIMITER:
        _, pos = _leb128_decode(seq_obu, 1)
        config = seq_obu[pos:]
    return bytes([b1, b2, b3, b4]) + config


def av1c_parse(rec: bytes) -> dict:
    """Parse an av1C record: validate the fixed prefix, parse the
    embedded sequence header, and cross-check the prefix fields against
    the stream (a real-corpus QA signal — muxers do get them wrong)."""
    if len(rec) < 5 or rec[0] != 0x81:
        raise ValueError("not an AV1CodecConfigurationRecord")
    out = av1_sequence_header_parse(rec[4:])
    out["record_profile"] = (rec[1] >> 5) & 0x7
    out["record_level"] = rec[1] & 0x1F
    out["record_matches"] = (
        out["record_profile"] == out["seq_profile"]
        and out["record_level"] == out["seq_level_idx"]
    )
    return out


def mp4_av1_encode(
    width: int,
    height: int,
    duration_ms: int,
    seq_profile: int = 0,
    seq_level_idx: int = 8,
    fps: int = 30,
    timescale: int = 1000,
    display_width: int | None = None,
    display_height: int | None = None,
) -> bytes:
    """ISO-BMFF with an av01 sample entry carrying a real av1C record —
    the AV1 mirror of ``h264.mp4_avc_encode``/``h265.mp4_hevc_encode``."""
    import struct  # noqa: PLC0415

    from pyp_etl_pipeline_spark.multimodal.codecs import (  # noqa: PLC0415
        _box,
        _iter_boxes,
        mp4_encode,
    )

    dur = duration_ms * timescale // 1000
    base = mp4_encode(
        display_width if display_width is not None else width,
        display_height if display_height is not None else height,
        duration_ms,
        timescale,
    )
    seq = av1_sequence_header_encode(width, height, seq_profile, seq_level_idx, fps=fps)
    av1c = _box(b"av1C", av1c_record(seq))
    av01 = _box(
        b"av01",
        b"\x00" * 6
        + struct.pack(">H", 1)  # data_reference_index
        + b"\x00" * 16
        + struct.pack(">HH", width, height)
        + struct.pack(">II", 0x00480000, 0x00480000)
        + b"\x00" * 4
        + struct.pack(">H", 1)
        + b"\x00" * 32
        + struct.pack(">Hh", 0x0018, -1)
        + av1c,
    )
    stsd = _box(b"stsd", struct.pack(">II", 0, 1) + av01)
    stts = _box(b"stts", struct.pack(">II", 0, 0))
    stsc = _box(b"stsc", struct.pack(">II", 0, 0))
    stsz = _box(b"stsz", struct.pack(">III", 0, 0, 0))
    stco = _box(b"stco", struct.pack(">II", 0, 0))
    stbl = _box(b"stbl", stsd + stts + stsc + stsz + stco)
    vmhd = _box(b"vmhd", struct.pack(">IHHHH", 1, 0, 0, 0, 0))
    dref = _box(b"dref", struct.pack(">II", 0, 1) + _box(b"url ", struct.pack(">I", 1)))
    minf = _box(b"minf", vmhd + _box(b"dinf", dref) + stbl)
    mdhd = _box(
        b"mdhd",
        struct.pack(">I", 0)
        + struct.pack(">II", 0, 0)
        + struct.pack(">II", timescale, dur)
        + struct.pack(">HH", 0x55C4, 0),
    )
    hdlr = _box(
        b"hdlr",
        struct.pack(">I", 0) + struct.pack(">I", 0) + b"vide" + b"\x00" * 12 + b"VideoHandler\x00",
    )
    mdia = _box(b"mdia", mdhd + hdlr + minf)
    ftyp = moov_span = None
    for tag, body, boxend in _iter_boxes(base, 0, len(base)):
        if tag == b"ftyp":
            ftyp = base[body - 8 : boxend]
        elif tag == b"moov":
            moov_span = (body, boxend)
    mvhd_b = tkhd_b = None
    for tag, body, boxend in _iter_boxes(base, *moov_span):
        if tag == b"mvhd":
            mvhd_b = base[body - 8 : boxend]
        elif tag == b"trak":
            for t2, b2, e2 in _iter_boxes(base, body, boxend):
                if t2 == b"tkhd":
                    tkhd_b = base[b2 - 8 : e2]
    trak = _box(b"trak", tkhd_b + mdia)
    return ftyp + _box(b"moov", mvhd_b + trak) + _box(b"mdat", b"")


def mp4_av1c_extract(payload: bytes) -> dict:
    """Walk a real MP4's box tree to the av1C record, parse its embedded
    sequence header, and return stream metadata alongside the
    container's tkhd display dims for cross-validation."""
    meta = mp4_decode(payload)
    sps = av1c_parse(find_sample_entry_record(payload, (b"av01",), b"av1C"))
    return {
        "container_width": meta["width"],
        "container_height": meta["height"],
        "duration_ms": meta["duration_ms"],
        **sps,
    }


def av1_container_features(df: DataFrame, permissive: bool = False) -> DataFrame:
    """DataFrame operator: (media_id long, payload binary MP4) ->
    container + AV1 stream metadata with dims_match and record_matches
    QA flags — the AV1 mirror of the avc/hevc container operators."""
    return row_map(
        df,
        lambda _mid, p: [with_dims_match(mp4_av1c_extract(bytes(p)))],
        "media_id long, container_width int, container_height int, duration_ms double, "
        "seq_profile int, seq_level_idx int, seq_tier int, width int, height int, "
        "bit_depth int, fps double, record_matches boolean, dims_match boolean",
        permissive,
    )

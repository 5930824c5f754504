"""Container-level metadata for mp4 (ISO BMFF) and mp3 (MPEG audio).

The two formats whose SAMPLE decode genuinely needs ffmpeg-class codecs
(H.264 entropy decode, MDCT filterbanks) are not decoded anywhere in
this package — but their CONTAINER structure is plain public
spec (ISO/IEC 14496-12 box grammar; the MPEG-1/2 audio frame header of
ISO/IEC 11172-3 §2.4.1.3), and a 100 TB media-curation pipeline needs
exactly this tier: duration / codec / dimensions / bitrate triage
WITHOUT decoding samples. Implemented from the specs:

- mp4: 8/16-byte box-header walk (size==1 → 64-bit largesize, size==0 →
  to end-of-enclosure), descending into moov/trak/mdia/minf/stbl;
  extracts ftyp major brand, mvhd timescale/duration (version 0 and 1),
  per-track tkhd 16.16-fixed width/height, hdlr handler kind, mdhd
  timescale/duration, and the stsd sample-entry fourcc;
- mp3: optional ID3v2 skip (syncsafe size), then a strict frame walk —
  11-bit sync, version/layer fields, bitrate/samplerate tables from the
  spec, frame length = 144*bitrate/rate (+padding) for Layer III (72*
  for the MPEG-2 half-rate family) — yielding exact frame count,
  duration (frames x samples-per-frame / rate), bitrate mode (CBR/VBR)
  and the dominant bitrate.

Both parsers validate bounds and raise the module error type on
malformed input (the ADVICE r3 codec-robustness discipline). Conformance
is property-tested against independent hand-written byte constructions
and golden hand-computed offsets in tests/test_mediameta.py.
"""

from __future__ import annotations

import struct

__all__ = ["MediaMetaError", "mp4_meta", "mp3_meta"]


class MediaMetaError(ValueError):
    pass


# ---------------------------------------------------------------------------
# mp4 / ISO base media file format (ISO/IEC 14496-12)
# ---------------------------------------------------------------------------

_CONTAINERS = {b"moov", b"trak", b"mdia", b"minf", b"stbl"}


def _boxes(data: bytes, start: int, end: int):
    """Yield (type, body_start, body_end) for each box in [start, end)."""
    pos = start
    while pos < end:
        if pos + 8 > end:
            raise MediaMetaError(f"truncated box header at {pos}")
        size = struct.unpack(">I", data[pos:pos + 4])[0]
        btype = data[pos + 4:pos + 8]
        body = pos + 8
        if size == 1:  # 64-bit largesize
            if pos + 16 > end:
                raise MediaMetaError(f"truncated largesize box at {pos}")
            size = struct.unpack(">Q", data[pos + 8:pos + 16])[0]
            body = pos + 16
        elif size == 0:  # extends to end of enclosure
            size = end - pos
        if size < body - pos or pos + size > end:
            raise MediaMetaError(f"box '{btype!r}' size {size} out of bounds at {pos}")
        yield btype, body, pos + size
        pos += size


def _fullbox(data: bytes, start: int):
    """(version, flags, payload_start) of a full box body."""
    if start + 4 > len(data):
        raise MediaMetaError("truncated full box")
    return data[start], int.from_bytes(data[start + 1:start + 4], "big"), start + 4


def _parse_mvhd(data, start, end):
    v, _, p = _fullbox(data, start)
    if v == 1:
        timescale, duration = struct.unpack(">IQ", data[p + 16:p + 28])
    else:
        timescale, duration = struct.unpack(">II", data[p + 8:p + 16])
    if timescale == 0:
        raise MediaMetaError("mvhd timescale 0")
    return timescale, duration


def _parse_tkhd(data, start, end):
    v, _, p = _fullbox(data, start)
    # width/height are the LAST 8 bytes of the box, 16.16 fixed point
    w16, h16 = struct.unpack(">II", data[end - 8:end])
    return w16 / 65536.0, h16 / 65536.0


def _parse_mdhd(data, start, end):
    v, _, p = _fullbox(data, start)
    if v == 1:
        timescale, duration = struct.unpack(">IQ", data[p + 16:p + 28])
    else:
        timescale, duration = struct.unpack(">II", data[p + 8:p + 16])
    return timescale, duration


def mp4_meta(data: bytes) -> dict:
    """Container metadata: {brand, duration_s, n_tracks, tracks:[{kind,
    codec, width, height, duration_s}]}. Raises MediaMetaError on
    malformed streams."""
    try:
        return _mp4_meta_impl(data)
    except MediaMetaError:
        raise
    except (struct.error, IndexError, ValueError) as e:
        raise MediaMetaError(f"malformed mp4: {type(e).__name__}: {e}") from e


def _mp4_meta_impl(data: bytes) -> dict:
    meta = {"brand": None, "duration_s": None, "n_tracks": 0, "tracks": []}
    saw_ftyp = False
    track = None

    def walk(start, end, depth=0):
        nonlocal saw_ftyp, track
        for btype, body, bend in _boxes(data, start, end):
            if btype == b"ftyp":
                saw_ftyp = True
                meta["brand"] = data[body:body + 4].decode("ascii", "replace")
            elif btype == b"mvhd":
                ts, dur = _parse_mvhd(data, body, bend)
                meta["duration_s"] = round(dur / ts, 6)
            elif btype == b"trak":
                track = {"kind": None, "codec": None, "width": None,
                         "height": None, "duration_s": None}
                walk(body, bend, depth + 1)
                meta["tracks"].append(track)
                meta["n_tracks"] += 1
                track = None
            elif btype == b"tkhd" and track is not None:
                w, h = _parse_tkhd(data, body, bend)
                if w or h:
                    track["width"], track["height"] = round(w, 2), round(h, 2)
            elif btype == b"mdhd" and track is not None:
                ts, dur = _parse_mdhd(data, body, bend)
                if ts:
                    track["duration_s"] = round(dur / ts, 6)
            elif btype == b"hdlr" and track is not None:
                handler = data[body + 8:body + 12]
                track["kind"] = {b"vide": "video", b"soun": "audio"}.get(
                    handler, handler.decode("ascii", "replace")
                )
            elif btype == b"stsd" and track is not None:
                _, _, p = _fullbox(data, body)
                n_entries = struct.unpack(">I", data[p:p + 4])[0]
                if n_entries:
                    track["codec"] = data[p + 8:p + 12].decode("ascii", "replace")
            elif btype in _CONTAINERS:
                walk(body, bend, depth + 1)

    walk(0, len(data))
    if not saw_ftyp:
        raise MediaMetaError("no ftyp box — not an ISO BMFF stream")
    return meta


# ---------------------------------------------------------------------------
# mp3 / MPEG audio frames (ISO/IEC 11172-3, 13818-3)
# ---------------------------------------------------------------------------

# Layer III bitrate tables, kbit/s (index 0 = free, 15 = bad)
_BITRATE_V1_L3 = [None, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, None]
_BITRATE_V2_L3 = [None, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160, None]
_SAMPLERATE = {3: [44100, 48000, 32000], 2: [22050, 24000, 16000], 0: [11025, 12000, 8000]}


def _skip_id3v2(data: bytes) -> int:
    if data[:3] != b"ID3":
        return 0
    if len(data) < 10:
        raise MediaMetaError("truncated ID3v2 header")
    # syncsafe 28-bit size, excluding the 10-byte header
    size = (
        (data[6] & 0x7F) << 21 | (data[7] & 0x7F) << 14
        | (data[8] & 0x7F) << 7 | (data[9] & 0x7F)
    )
    return 10 + size


def mp3_meta(data: bytes) -> dict:
    """Frame-walk metadata: {version, n_frames, duration_s, sample_rate,
    bitrate_kbps (dominant), mode ('CBR'|'VBR'), n_bytes_audio}. Raises
    MediaMetaError on bad sync / invalid header fields / truncation."""
    pos = _skip_id3v2(data)
    if pos >= len(data):
        raise MediaMetaError("no audio data after ID3v2 tag")
    n_frames = 0
    total_samples = 0
    rates = set()
    bitrate_counts: dict[int, int] = {}
    versions = set()
    audio_start = pos
    while pos < len(data):
        if pos + 4 > len(data):
            raise MediaMetaError(f"truncated frame header at {pos}")
        b0, b1, b2, _ = data[pos:pos + 4]
        if b0 != 0xFF or (b1 & 0xE0) != 0xE0:
            raise MediaMetaError(f"lost frame sync at byte {pos}")
        version_id = (b1 >> 3) & 3  # 3=MPEG1, 2=MPEG2, 0=MPEG2.5
        layer = (b1 >> 1) & 3      # 1 = Layer III
        if version_id == 1 or layer != 1:
            raise MediaMetaError(f"unsupported version/layer at byte {pos}")
        br_idx = (b2 >> 4) & 15
        sr_idx = (b2 >> 2) & 3
        padding = (b2 >> 1) & 1
        if sr_idx == 3:
            raise MediaMetaError(f"invalid sample-rate index at byte {pos}")
        table = _BITRATE_V1_L3 if version_id == 3 else _BITRATE_V2_L3
        bitrate = table[br_idx]
        if bitrate is None:
            raise MediaMetaError(f"free/bad bitrate index at byte {pos}")
        rate = _SAMPLERATE[version_id][sr_idx]
        spf = 1152 if version_id == 3 else 576  # samples per L3 frame
        frame_len = (spf // 8) * bitrate * 1000 // rate + padding
        if pos + frame_len > len(data):
            raise MediaMetaError(f"truncated frame at byte {pos}")
        n_frames += 1
        total_samples += spf
        rates.add(rate)
        versions.add({3: "MPEG1", 2: "MPEG2", 0: "MPEG2.5"}[version_id])
        bitrate_counts[bitrate] = bitrate_counts.get(bitrate, 0) + 1
        pos += frame_len
    if n_frames == 0:
        raise MediaMetaError("no MPEG audio frames")
    if len(rates) != 1:
        raise MediaMetaError("sample rate changed mid-stream")
    rate = rates.pop()
    dominant = max(bitrate_counts.items(), key=lambda kv: (kv[1], kv[0]))[0]
    return {
        "version": "/".join(sorted(versions)),
        "n_frames": n_frames,
        "duration_s": round(total_samples / rate, 6),
        "sample_rate": rate,
        "bitrate_kbps": dominant,
        "mode": "CBR" if len(bitrate_counts) == 1 else "VBR",
        "n_bytes_audio": len(data) - audio_start,
    }

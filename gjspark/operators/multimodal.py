"""Multimodal operators: video frame sampling and audio features.

Media are opaque ``binary`` columns with typed metadata (input_hint
schema). All sample work happens in ``mapInPandas`` over Arrow batches
with the pure-numpy codecs from ``gjspark.functions`` — never per-row
Python in a driver loop. Formats with no from-spec implementation here
(lossy video and audio codecs) raise ``NotImplementedError`` while the
Spark-side plumbing (schema, batching, partitioning) stays fully real and
tested.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Video frame sampling (training-data pipeline requirement): videos are
# opaque binary columns. Every mainstream CONTAINER layer is real —
# ISO-BMFF/mp4 (functions/bmff.py), RIFF/AVI (functions/avi.py),
# EBML/Matroska incl. webm (functions/mkv.py), animated GIF
# (functions/gif.py) — and the uncompressed-or-in-repo codecs decode
# end-to-end ('rawv' mp4 samples, AVI 'DIB ' and 'MJPG' via jpeg.py,
# matroska V_UNCOMPRESSED, GIF LZW). Compressed payloads with no
# in-container decoder (avc1/av01, V_VP8/V_VP9) stay stubbed behind
# NotImplementedError, while the Spark-side plumbing — schema, batching,
# frame selection, output shape — is real and tested against the
# deterministic 'rawvid' format (header b'RAWV' + uint16 LE (w, h,
# n_frames) + raw RGB frames) and every container-wrapped equivalent.
# ---------------------------------------------------------------------------

FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("video_id", T.StringType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("n_frames_total", T.IntegerType()),
        T.StructField("fw", T.IntegerType()),
        T.StructField("fh", T.IntegerType()),
        T.StructField("pixels", T.BinaryType()),
    ]
)

def _decode_video(data: bytes, fmt: str):
    """-> (w, h, n_frames, frame_getter). 'rawvid' is the deterministic
    test codec. ``mp4`` demuxes through the real ISO-BMFF container
    layer (`gjspark/functions/bmff.py`, from the public ISO/IEC
    14496-12 spec): sample tables are fully parsed and ``rawv``-entry
    samples (one raw RGB frame each) decode end-to-end; lossy codec
    payloads (avc1/av01/...) still raise NotImplementedError.
    ``gif`` is fully real: animated GIF89a decodes through
    `gjspark/functions/gif.py` (LZW + disposal compositing), each
    composited canvas being one frame. Other formats raise
    ``ValueError``."""
    if fmt == "gif":
        from gjspark.functions.gif import decode_gif_frames

        frames = decode_gif_frames(bytes(data))
        h, w = frames[0].shape[:2]

        def get_gif(i: int) -> bytes:
            return frames[i].tobytes()

        return w, h, len(frames), get_gif
    if fmt == "avi":
        # real RIFF/AVI demux (functions/avi.py); 'DIB ' raw frames and
        # 'MJPG' motion-JPEG (via the from-spec jpeg.py) decode
        # end-to-end, lazily per sampled frame; other codecs raise
        from gjspark.functions import avi as avix

        info = avix.demux_avi(bytes(data))
        aw, ah, codec = info["w"], info["h"], info["codec"]
        chunks = info["frames"]
        if codec not in ("DIB ", "MJPG"):
            raise NotImplementedError(
                f"avi codec '{codec}' requires external library"
            )

        def get_avi(i: int) -> bytes:
            return avix.decode_avi_frame(chunks[i], aw, ah, codec).tobytes()

        return aw, ah, len(chunks), get_avi
    if fmt in ("mkv", "webm"):
        # real EBML/Matroska demux (functions/mkv.py, RFC 8794 + 9559);
        # V_UNCOMPRESSED top-down RGB24 decodes end-to-end, compressed
        # codecs (webm's V_VP8/V_VP9/V_AV1, ...) stay env stubs
        from gjspark.functions import mkv as mkvx

        info = mkvx.demux_mkv(bytes(data))
        vtracks = [t for t in info["tracks"] if t["type"] == 1]
        if not vtracks:
            raise ValueError("matroska file has no video track")
        t = vtracks[0]
        if t["codec"] != "V_UNCOMPRESSED":
            raise NotImplementedError(
                f"matroska codec '{t['codec']}' requires external library"
            )
        mw, mh = t["w"], t["h"]
        mframes = [f for tn, f in info["frames"] if tn == t["number"]]
        if not mframes:
            raise ValueError("matroska video track has no frames")
        if any(len(f) != mw * mh * 3 for f in mframes):
            raise ValueError("V_UNCOMPRESSED frame size mismatch")

        def get_mkv(i: int) -> bytes:
            return mframes[i]

        return mw, mh, len(mframes), get_mkv
    if fmt == "mp4":
        from gjspark.functions import bmff

        info = bmff.demux_mp4(bytes(data))
        vtracks = [t for t in info["tracks"] if t.handler == "vide"]
        if not vtracks:
            raise ValueError("mp4 has no video track")
        t = vtracks[0]
        if t.codec != "rawv":
            raise NotImplementedError(
                f"mp4 codec '{t.codec}' requires external library"
            )
        frame_bytes = t.width * t.height * 3
        if any(s != frame_bytes for s in t.sample_sizes):
            raise ValueError("rawv sample size does not match track dims")

        def get_mp4(i: int) -> bytes:
            off = t.sample_offsets[i]
            return bytes(data[off : off + frame_bytes])

        return t.width, t.height, len(t.sample_offsets), get_mp4
    if fmt != "rawvid" or data[:4] != b"RAWV":
        raise ValueError(f"unknown video format {fmt!r}")
    import struct as _struct

    w, h, n = _struct.unpack("<HHH", data[4:10])
    frame_bytes = w * h * 3

    def get(i: int) -> bytes:
        off = 10 + i * frame_bytes
        return data[off : off + frame_bytes]

    return w, h, n, get


def sample_frames(videos: DataFrame, n_frames: int = 4) -> DataFrame:
    """Evenly frame-sample each video: emit ``n_frames`` frames at
    indices ``round(j * (total-1) / (n-1))`` (dedup-preserving order;
    all frames when total <= n). One mapInPandas pass, Arrow-batched;
    undecodable videos are skipped (count them upstream via decode_ok
    patterns if needed)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vid, fidx, ntot, fws, fhs, px = [], [], [], [], [], []
            for b, f, v in zip(pdf["bytes"], pdf["fmt"], pdf["video_id"]):
                try:
                    w, h, n, get = _decode_video(bytes(b), f)
                except (NotImplementedError, ValueError):
                    continue
                if n <= 0:
                    continue
                if n <= n_frames:
                    picks = list(range(n))
                elif n_frames == 1:
                    picks = [(n - 1) // 2]  # single frame: the middle one
                else:
                    picks = sorted(
                        {int(round(j * (n - 1) / (n_frames - 1))) for j in range(n_frames)}
                    )
                for i in picks:
                    vid.append(v)
                    fidx.append(i)
                    ntot.append(n)
                    fws.append(w)
                    fhs.append(h)
                    px.append(get(i))
            if vid:
                yield pd.DataFrame(
                    {
                        "video_id": vid,
                        "frame_idx": np.array(fidx, dtype=np.int32),
                        "n_frames_total": np.array(ntot, dtype=np.int32),
                        "fw": np.array(fws, dtype=np.int32),
                        "fh": np.array(fhs, dtype=np.int32),
                        "pixels": px,
                    }
                )

    return videos.select("video_id", "bytes", "fmt").mapInPandas(run, FRAMES_SCHEMA)


# ---------------------------------------------------------------------------
# Audio feature extraction: same stub-the-codec / keep-the-plumbing pattern.
# Deterministic 'rawpcm' format: b'RAWA' + uint32 LE sample_rate +
# uint32 LE n_samples + int16 LE mono samples.
# ---------------------------------------------------------------------------

AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("audio_id", T.StringType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("duration_s", T.DoubleType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("peak", T.DoubleType()),
        T.StructField("zero_cross_rate", T.DoubleType()),
    ]
)

AUDIO_STUB_FORMATS = {"mp3", "ogg"}


def _decode_audio(data: bytes, fmt: str) -> tuple[int, np.ndarray]:
    """-> (sample_rate, float64 samples in [-1, 1]). ``wav`` is a real
    from-spec RIFF/WAVE decoder (`gjspark/functions/wav.py`, PCM +
    IEEE-float), ``flac`` a real from-spec FLAC decoder
    (`gjspark/functions/flac.py`, RFC 9639: fixed/LPC prediction, Rice
    residuals, stereo decorrelation, CRC + MD5 checks), and ``m4a``
    demuxes through the real ISO-BMFF layer with raw-PCM ``ipcm``
    entries decoding end-to-end; channels mean-downmixed to mono;
    lossy codecs stay env stubs."""
    if fmt in AUDIO_STUB_FORMATS:
        raise NotImplementedError(f"audio codec '{fmt}' requires external library")
    if fmt == "wav":
        from gjspark.functions.wav import decode_wav_mono

        return decode_wav_mono(bytes(data))
    if fmt == "flac":
        from gjspark.functions.flac import decode_flac_mono

        return decode_flac_mono(bytes(data))
    if fmt == "m4a":
        # real ISO-BMFF demux; raw-PCM 'ipcm' sample entries (ISO/IEC
        # 23003-5) decode end-to-end, AAC ('mp4a') stays an env stub —
        # the same container-real / codec-stubbed posture as mp4 video
        from gjspark.functions import bmff

        info = bmff.demux_mp4(bytes(data))
        atracks = [t for t in info["tracks"] if t.handler == "soun"]
        if not atracks:
            raise ValueError("m4a has no audio track")
        t = atracks[0]
        if t.codec != "ipcm":
            raise NotImplementedError(
                f"m4a codec '{t.codec}' requires external library"
            )
        ch, size, rate, le = bmff.parse_pcm_entry(t.sample_entry_payload)
        payload = b"".join(bmff.extract_samples(bytes(data), t))
        endian = "<" if le else ">"
        if size == 16:
            x = np.frombuffer(payload, dtype=f"{endian}i2").astype(np.float64)
            x /= 32768.0
        elif size == 32:
            x = np.frombuffer(payload, dtype=f"{endian}i4").astype(np.float64)
            x /= float(1 << 31)
        else:  # 24-bit
            b3 = np.frombuffer(payload, dtype=np.uint8).reshape(-1, 3)
            if not le:
                b3 = b3[:, ::-1]
            v = (
                b3[:, 0].astype(np.int32)
                | (b3[:, 1].astype(np.int32) << 8)
                | (b3[:, 2].astype(np.int32) << 16)
            )
            v = np.where(v >= 1 << 23, v - (1 << 24), v)
            x = v.astype(np.float64) / float(1 << 23)
        n = x.size - x.size % ch
        y = x[:n].reshape(-1, ch)
        return rate, y[:, 0] if ch == 1 else y.mean(axis=1)
    if fmt != "rawpcm" or data[:4] != b"RAWA":
        raise ValueError(f"unknown audio format {fmt!r}")
    import struct as _struct

    rate, n = _struct.unpack("<II", data[4:12])
    samples = np.frombuffer(data, dtype="<i2", offset=12, count=n)
    return rate, samples.astype(np.float64) / 32768.0


def audio_features(audios: DataFrame) -> DataFrame:
    """Per-clip features (duration, RMS, peak, zero-crossing rate) in one
    vectorized mapInPandas pass — the audio leg of the multimodal
    pipeline; swap ``_decode_audio`` for a real codec in production."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, rates, ns, durs, rms, peak, zcr = [], [], [], [], [], [], []
            for b, f, aid in zip(pdf["bytes"], pdf["fmt"], pdf["audio_id"]):
                try:
                    rate, x = _decode_audio(bytes(b), f)
                except (NotImplementedError, ValueError):
                    continue
                n = x.size
                ids.append(aid)
                rates.append(rate)
                ns.append(n)
                durs.append(n / rate if rate else 0.0)
                rms.append(float(np.sqrt(np.mean(x * x))) if n else 0.0)
                peak.append(float(np.abs(x).max()) if n else 0.0)
                zcr.append(
                    float(np.mean(np.signbit(x[1:]) != np.signbit(x[:-1])))
                    if n > 1
                    else 0.0
                )
            if ids:
                yield pd.DataFrame(
                    {
                        "audio_id": ids,
                        "sample_rate": np.array(rates, dtype=np.int32),
                        "n_samples": np.array(ns, dtype=np.int64),
                        "duration_s": durs,
                        "rms": rms,
                        "peak": peak,
                        "zero_cross_rate": zcr,
                    }
                )

    return audios.select("audio_id", "bytes", "fmt").mapInPandas(
        run, AUDIO_FEATURES_SCHEMA
    )

"""From-spec EBML / WebM container parsing (round 5).

The video half of the multimodal surface was plumbing-only: frame
sampling ran a deterministic fake because no pixel codec exists in this
sandbox. The CONTAINER, however, is a public bit-level spec like
FLAC/JPEG/TIFF — EBML (RFC 8794) plus the Matroska/WebM element registry
— so the metadata layer a video training pipeline actually needs first
(which tracks exist, which codec, where the keyframes are, how large
each frame payload is, the block timeline) is implemented here for real.
The pixel decode inside each block is not implemented.

Scope: EBML header + Segment walk (known- or unknown-size Segment),
Info (TimestampScale), Tracks (TrackEntry: number, type, CodecID),
Clusters (Timestamp + SimpleBlocks, no-lacing). Lacing modes and Block
Groups are rejected explicitly. Same error-boundary contract as the
image decoders: any malformation raises EbmlDecodeError (a ValueError),
so the mapInArrow kernel yields dropped rows, never a crashed task.
"""

from __future__ import annotations

EBML_MAGIC = b"\x1a\x45\xdf\xa3"

# element IDs (Matroska/WebM registry, full-byte form)
_SEGMENT = 0x18538067
_INFO = 0x1549A966
_TIMESTAMP_SCALE = 0x2AD7B1
_TRACKS = 0x1654AE6B
_TRACK_ENTRY = 0xAE
_TRACK_NUMBER = 0xD7
_TRACK_TYPE = 0x83
_CODEC_ID = 0x86
_CLUSTER = 0x1F43B675
_CLUSTER_TIMESTAMP = 0xE7
_SIMPLE_BLOCK = 0xA3

_UNKNOWN = -1  # unknown-size element


class EbmlDecodeError(ValueError):
    """Raised for malformed / unsupported EBML payloads."""


def _read_id(buf: bytes, pos: int) -> tuple[int, int]:
    """EBML element ID: 1-4 bytes, value INCLUDES the length-marker bits
    (the registry lists IDs in this full-byte form)."""
    if pos >= len(buf):
        raise EbmlDecodeError("ebml: truncated element id")
    b0 = buf[pos]
    if b0 == 0:
        raise EbmlDecodeError("ebml: invalid id leading byte")
    n = 1
    mask = 0x80
    while not b0 & mask:
        n += 1
        mask >>= 1
        if n > 4:
            raise EbmlDecodeError("ebml: id longer than 4 bytes")
    if pos + n > len(buf):
        raise EbmlDecodeError("ebml: truncated element id")
    return int.from_bytes(buf[pos : pos + n], "big"), pos + n


def _read_size(buf: bytes, pos: int) -> tuple[int, int]:
    """EBML data size: 1-8 bytes, value EXCLUDES the marker bit;
    all-value-bits-set means unknown size (returned as _UNKNOWN)."""
    if pos >= len(buf):
        raise EbmlDecodeError("ebml: truncated size")
    b0 = buf[pos]
    if b0 == 0:
        raise EbmlDecodeError("ebml: invalid size leading byte")
    n = 1
    mask = 0x80
    while not b0 & mask:
        n += 1
        mask >>= 1
        if n > 8:
            raise EbmlDecodeError("ebml: size longer than 8 bytes")
    if pos + n > len(buf):
        raise EbmlDecodeError("ebml: truncated size")
    val = (b0 & (mask - 1)) if mask > 1 else 0
    for i in range(1, n):
        val = (val << 8) | buf[pos + i]
    if val == (1 << (7 * n)) - 1:
        return _UNKNOWN, pos + n
    return val, pos + n


def _read_vint(buf: bytes, pos: int) -> tuple[int, int]:
    """Plain EBML vint (no unknown-size special case) — for BLOCK TRACK
    NUMBERS, which have no unknown semantics in Matroska: an all-value-bits
    vint like 0xFF is simply the value 127 (round-6 ADVICE fix — the
    _read_size mapping rejected a valid track 127 as 'unknown')."""
    if pos >= len(buf):
        raise EbmlDecodeError("ebml: truncated vint")
    b0 = buf[pos]
    if b0 == 0:
        raise EbmlDecodeError("ebml: invalid vint leading byte")
    n = 1
    mask = 0x80
    while not b0 & mask:
        n += 1
        mask >>= 1
        if n > 8:
            raise EbmlDecodeError("ebml: vint longer than 8 bytes")
    if pos + n > len(buf):
        raise EbmlDecodeError("ebml: truncated vint")
    val = (b0 & (mask - 1)) if mask > 1 else 0
    for i in range(1, n):
        val = (val << 8) | buf[pos + i]
    return val, pos + n


def _uint(body: bytes) -> int:
    if not body or len(body) > 8:
        raise EbmlDecodeError("ebml: bad uint length")
    return int.from_bytes(body, "big")


def _children(buf: bytes, pos: int, end: int):
    """Yield (element_id, body_start, body_end) for each child in
    [pos, end); unknown-size children are only legal at the levels the
    caller handles itself."""
    while pos < end:
        eid, pos = _read_id(buf, pos)
        size, pos = _read_size(buf, pos)
        if size == _UNKNOWN:
            raise EbmlDecodeError("ebml: unknown-size child element")
        if pos + size > end:
            raise EbmlDecodeError("ebml: child overruns parent")
        yield eid, pos, pos + size
        pos += size


def parse_webm_blocks(buf: bytes) -> tuple[dict, list[dict]]:
    """WebM bytes -> (track registry, block index).

    Returns ``({track_number: codec_id}, [{"track", "ts_ms", "keyframe",
    "size"}, ...])`` with ts_ms = (cluster timestamp + relative) *
    TimestampScale(ns) // 1e6 — the metadata a frame-sampling planner
    keys on. SimpleBlocks only, no lacing (flags lacing bits must be 0).

    Known limitation (documented per round-6 ADVICE): unknown-size is
    supported at SEGMENT level only. Unknown-size Clusters — common in
    live-muxed/streamed WebM — raise EbmlDecodeError and drop the file;
    handling them requires terminating each cluster at the next top-level
    element ID, which this index does not yet do."""
    if buf[: len(EBML_MAGIC)] != EBML_MAGIC:
        raise EbmlDecodeError("ebml: bad magic")
    pos = len(EBML_MAGIC)
    hdr_size, pos = _read_size(buf, pos)
    if hdr_size == _UNKNOWN or pos + hdr_size > len(buf):
        raise EbmlDecodeError("ebml: bad header size")
    pos += hdr_size  # header contents (DocType etc.) not needed for the index
    seg_id, pos = _read_id(buf, pos)
    if seg_id != _SEGMENT:
        raise EbmlDecodeError("ebml: expected Segment")
    seg_size, pos = _read_size(buf, pos)
    seg_end = len(buf) if seg_size == _UNKNOWN else pos + seg_size
    if seg_end > len(buf):
        raise EbmlDecodeError("ebml: Segment overruns buffer")

    scale_ns = 1_000_000  # Matroska default: 1 ms per timestamp unit
    tracks: dict[int, str] = {}
    blocks: list[dict] = []
    for eid, b0, b1 in _children(buf, pos, seg_end):
        if eid == _INFO:
            for cid, c0, c1 in _children(buf, b0, b1):
                if cid == _TIMESTAMP_SCALE:
                    scale_ns = _uint(buf[c0:c1])
                    if scale_ns == 0:
                        raise EbmlDecodeError("ebml: zero timestamp scale")
        elif eid == _TRACKS:
            for cid, c0, c1 in _children(buf, b0, b1):
                if cid != _TRACK_ENTRY:
                    continue
                num, codec = None, ""
                for tid, t0, t1 in _children(buf, c0, c1):
                    if tid == _TRACK_NUMBER:
                        num = _uint(buf[t0:t1])
                    elif tid == _CODEC_ID:
                        codec = buf[t0:t1].decode("ascii", "replace")
                if num is None:
                    raise EbmlDecodeError("ebml: TrackEntry without number")
                tracks[num] = codec
        elif eid == _CLUSTER:
            cluster_ts = 0
            for cid, c0, c1 in _children(buf, b0, b1):
                if cid == _CLUSTER_TIMESTAMP:
                    cluster_ts = _uint(buf[c0:c1])
                elif cid == _SIMPLE_BLOCK:
                    track, p = _read_vint(buf, c0)  # plain vint, no unknown case
                    if p + 3 > c1:
                        raise EbmlDecodeError("ebml: bad SimpleBlock header")
                    rel = int.from_bytes(buf[p : p + 2], "big", signed=True)
                    flags = buf[p + 2]
                    if flags & 0x06:
                        raise EbmlDecodeError("ebml: lacing unsupported")
                    if track not in tracks:
                        raise EbmlDecodeError("ebml: block for undeclared track")
                    blocks.append(
                        {
                            "track": track,
                            "ts_ms": (cluster_ts + rel) * scale_ns // 1_000_000,
                            "keyframe": bool(flags & 0x80),
                            "size": c1 - (p + 3),
                        }
                    )
    if not tracks:
        raise EbmlDecodeError("ebml: no Tracks element")
    return tracks, blocks

"""Image validation on opaque ``binary`` columns: magic-byte content-type
sniffing (Python and a vectorized JVM column form) and header-level
width/height extraction. No pixel decoding: the image libraries are not
available here.

Reference anchor for the sniffing: the reference validates downloaded images
by reading the first bytes and checking the type (base.js:212-217,
``imageType(buf) === null`` ⇒ ``hasError``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Magic-byte prefixes (S13, base.js:212-217 — first 12 bytes decide validity).
_MAGIC = {
    "image/jpeg": b"\xff\xd8\xff",
    "image/png": b"\x89PNG\r\n\x1a\n",
    "image/gif": b"GIF8",
    "image/webp": b"RIFF",  # + WEBP at offset 8, checked below
}


def sniff_content_type(data: bytes | None) -> str | None:
    if not data:
        return None
    head = bytes(data[:12])
    for ctype, magic in _MAGIC.items():
        if head.startswith(magic):
            if ctype == "image/webp" and head[8:12] != b"WEBP":
                continue
            return ctype
    return None


def image_type_valid(bytes_col: Column) -> Column:
    """JVM-side magic check on substring(bytes, 1, 12) → hasError column
    (vectorized, no Python) — the S13 operator."""
    head = F.substring(bytes_col, 1, 12)
    hexhead = F.hex(head)
    return (
        hexhead.startswith("FFD8FF")
        | hexhead.startswith("89504E470D0A1A0A")
        | hexhead.startswith("47494638")
        | (hexhead.startswith("52494646") & (F.substring(hexhead, 17, 8) == "57454250"))
    )


def image_dimensions(data: bytes) -> tuple[int | None, int | None]:
    """REAL header-level (width, height) extraction — pure Python, no
    decoder library:

    * PNG: IHDR chunk, big-endian u32 pair at bytes 16..24;
    * GIF: logical screen descriptor, little-endian u16 pair at bytes 6..10;
    * JPEG: marker scan to the first SOFn segment (C0-CF minus C4/C8/CC),
      big-endian height/width at +5/+7.

    Returns (None, None) when the container is unknown/truncated.
    """
    try:
        if data[:8] == b"\x89PNG\r\n\x1a\n" and data[12:16] == b"IHDR":
            return (
                int.from_bytes(data[16:20], "big"),
                int.from_bytes(data[20:24], "big"),
            )
        if data[:4] == b"GIF8":
            return (
                int.from_bytes(data[6:8], "little"),
                int.from_bytes(data[8:10], "little"),
            )
        if data[:3] == b"\xff\xd8\xff":
            i = 2
            while i + 9 < len(data):
                if data[i] != 0xFF:
                    break
                # 0xFF fill bytes before a marker are legal padding —
                # consuming them as a marker start would read the real
                # marker byte as a length high byte and jump off into
                # garbage (bogus or lost dimensions)
                j = i
                while j + 9 < len(data) and data[j + 1] == 0xFF:
                    j += 1
                i = j
                code = data[i + 1]
                if 0xC0 <= code <= 0xCF and code not in (0xC4, 0xC8, 0xCC):
                    h = int.from_bytes(data[i + 5 : i + 7], "big")
                    w = int.from_bytes(data[i + 7 : i + 9], "big")
                    return w, h
                if code in (0x01, 0xD8) or 0xD0 <= code <= 0xD7:
                    # standalone markers carry no length field
                    i += 2
                    continue
                if code == 0xD9:  # EOI — no SOF seen
                    break
                i += 2 + int.from_bytes(data[i + 2 : i + 4], "big")
    except (IndexError, ValueError):
        pass
    return None, None

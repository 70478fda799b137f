"""Delta deletion-vector codec: Z85 + RoaringBitmapArray (portable).

Implements the serialization stack the Delta protocol prescribes for
deletion vectors (PROTOCOL.md "Deletion Vectors" / "Deletion Vector
Format"), from the published specs only:

* **Z85** — ZeroMQ spec 32/Z85 base-85 (the charset Delta mandates for
  inline DV bytes and the UUID in ``storageType="u"`` paths).  Strict:
  binary length must be a multiple of 4 (Z85's own precondition; UUIDs
  are 16 bytes, and Delta writers pad serialized bitmaps to a 4-byte
  boundary for inline storage).
* **32-bit Roaring bitmap** — the official RoaringFormatSpec portable
  serialization: cookie 12346 (no run containers, explicit container
  count + offset header) or 12347 (run-flag bitset, count in the
  cookie's upper 16 bits, offset header only at >= 4 containers);
  array containers (<= 4096 cardinality, sorted u16 LE values), bitset
  containers (8 KiB, 1024 x u64 LE), run containers (u16 run count,
  then (start, length-1) u16 pairs).
* **RoaringBitmapArray "portable" 64-bit extension** — the format
  Delta names for DVs: magic ``1681511377`` (u32 LE), bitmap count
  (u64 LE), then per bucket a u32 LE key (the value's high 32 bits)
  followed by a standard 32-bit portable bitmap of the low 32 bits.
* **DV file layout** (``storageType`` "u"/"p"): one version byte
  (``1``), then at each descriptor's ``offset`` a big-endian u32 data
  size, the serialized bitmap bytes, and a big-endian u32 CRC-32 of
  those bytes (Java ``DataOutputStream``/``CRC32`` conventions, as the
  delta-io reference writer uses).

The encoder half exists so tests can hand-build spec-conformant
foreign fixtures (and pins exact bytes, so encoder/decoder-symmetric
bugs cannot hide); the decoder half is what ``delta_reader`` uses to
honor the ``deletionVectors`` reader feature instead of refusing it.

No network/JVM dependencies: pure Python over ``struct``/``zlib``.
The reference repo (Noureddineblbli/data-lakehouse-project) has no
table format at all; this belongs to the SURVEY §2.8 lakehouse
north star.
"""

from __future__ import annotations

import os
import struct
import uuid as _uuid
import zlib

# --------------------------------------------------------------------- Z85

_Z85_CHARS = (
    "0123456789abcdefghijklmnopqrstuvwxyz"
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#"
)
_Z85_INDEX = {c: i for i, c in enumerate(_Z85_CHARS)}


def z85_encode(data: bytes) -> str:
    """ZeroMQ Z85: 4 binary bytes -> 5 chars, big-endian groups."""
    if len(data) % 4:
        raise ValueError(
            f"Z85 requires a multiple of 4 bytes, got {len(data)}"
        )
    out = []
    for i in range(0, len(data), 4):
        (v,) = struct.unpack(">I", data[i : i + 4])
        chunk = []
        for _ in range(5):
            chunk.append(_Z85_CHARS[v % 85])
            v //= 85
        out.extend(reversed(chunk))
    return "".join(out)


def z85_decode(text: str) -> bytes:
    if len(text) % 5:
        raise ValueError(
            f"Z85 requires a multiple of 5 chars, got {len(text)}"
        )
    out = bytearray()
    for i in range(0, len(text), 5):
        v = 0
        for c in text[i : i + 5]:
            try:
                v = v * 85 + _Z85_INDEX[c]
            except KeyError:
                raise ValueError(f"invalid Z85 character {c!r}") from None
        if v > 0xFFFFFFFF:
            raise ValueError(f"Z85 group overflows 32 bits: {text[i:i+5]!r}")
        out.extend(struct.pack(">I", v))
    return bytes(out)


# ----------------------------------------------------- 32-bit roaring bitmap

_SERIAL_COOKIE_NO_RUN = 12346
_SERIAL_COOKIE = 12347
_NO_OFFSET_THRESHOLD = 4
_ARRAY_MAX = 4096
_BITSET_BYTES = 8192


def _rb32_serialize(values: list[int]) -> bytes:
    """Portable no-run serialization (cookie 12346) of sorted distinct
    u32 values — the shape the official writers emit when no container
    is run-compressed, sufficient for fixture building."""
    containers: dict[int, list[int]] = {}
    prev = -1
    for v in values:
        if not 0 <= v <= 0xFFFFFFFF:
            raise ValueError(f"value {v} outside u32")
        if v <= prev:
            raise ValueError("values must be sorted strictly ascending")
        prev = v
        containers.setdefault(v >> 16, []).append(v & 0xFFFF)
    keys = sorted(containers)
    header = struct.pack("<II", _SERIAL_COOKIE_NO_RUN, len(keys))
    desc = b"".join(
        struct.pack("<HH", k, len(containers[k]) - 1) for k in keys
    )
    # container payloads, then the offset header locating each
    payloads = []
    for k in keys:
        vals = containers[k]
        if len(vals) <= _ARRAY_MAX:
            payloads.append(struct.pack(f"<{len(vals)}H", *vals))
        else:
            bits = bytearray(_BITSET_BYTES)
            for lo in vals:
                bits[lo >> 3] |= 1 << (lo & 7)
            payloads.append(bytes(bits))
    off = len(header) + len(desc) + 4 * len(keys)
    offsets = []
    for p in payloads:
        offsets.append(off)
        off += len(p)
    return (
        header
        + desc
        + struct.pack(f"<{len(keys)}I", *offsets)
        + b"".join(payloads)
    )


def _rb32_deserialize(buf: bytes, pos: int) -> tuple[list[int], int]:
    """Parse one portable 32-bit bitmap at ``buf[pos:]``; returns
    (sorted values, next position). Handles both cookies and all three
    container types.  Truncated input raises ``ValueError`` (the
    module's error contract — found by the round-8 hypothesis fuzz:
    ``struct.unpack_from`` otherwise leaks a bare ``struct.error``
    that refuse-don't-misread callers catching ValueError miss)."""
    try:
        return _rb32_deserialize_inner(buf, pos)
    except (struct.error, IndexError) as e:
        raise ValueError(
            f"truncated/corrupt roaring bitmap at offset {pos}: {e}"
        ) from None


def _rb32_deserialize_inner(buf: bytes, pos: int) -> tuple[list[int], int]:
    (cookie,) = struct.unpack_from("<I", buf, pos)
    pos += 4
    if cookie & 0xFFFF == _SERIAL_COOKIE:
        size = (cookie >> 16) + 1
        nflag = (size + 7) // 8
        runflags = buf[pos : pos + nflag]
        pos += nflag
        has_offsets = size >= _NO_OFFSET_THRESHOLD
    elif cookie == _SERIAL_COOKIE_NO_RUN:
        (size,) = struct.unpack_from("<I", buf, pos)
        pos += 4
        runflags = b"\x00" * ((size + 7) // 8)
        has_offsets = True
    else:
        raise ValueError(f"bad roaring cookie {cookie}")
    desc = struct.unpack_from(f"<{2 * size}H", buf, pos)
    pos += 4 * size
    if has_offsets:
        pos += 4 * size  # containers follow in key order; offsets unused
    out: list[int] = []
    for i in range(size):
        key, card = desc[2 * i], desc[2 * i + 1] + 1
        base = key << 16
        if runflags[i >> 3] & (1 << (i & 7)):
            (nruns,) = struct.unpack_from("<H", buf, pos)
            pos += 2
            runs = struct.unpack_from(f"<{2 * nruns}H", buf, pos)
            pos += 4 * nruns
            for r in range(nruns):
                start, ln = runs[2 * r], runs[2 * r + 1] + 1
                out.extend(range(base + start, base + start + ln))
        elif card <= _ARRAY_MAX:
            vals = struct.unpack_from(f"<{card}H", buf, pos)
            pos += 2 * card
            out.extend(base + v for v in vals)
        else:
            bits = buf[pos : pos + _BITSET_BYTES]
            if len(bits) != _BITSET_BYTES:
                # a short slice would SILENTLY decode a subset of the
                # positions — the one truncation shape no later check
                # catches (round-8 fuzz)
                raise ValueError(
                    f"truncated bitset container at offset {pos}"
                )
            pos += _BITSET_BYTES
            for byte_i, b in enumerate(bits):
                while b:
                    low = b & -b
                    out.append(base + (byte_i << 3) + low.bit_length() - 1)
                    b ^= low
    return out, pos


# ------------------------------------------- 64-bit RoaringBitmapArray blob

MAGIC = 1681511377  # the Delta protocol's DV magic number


def rbm_array_serialize(positions: list[int], pad4: bool = False) -> bytes:
    """Sorted distinct row indexes -> portable RoaringBitmapArray
    bytes. ``pad4`` zero-pads to a 4-byte boundary (required when the
    blob is inlined via Z85; trailing zero bytes are ignored by the
    deserializer, matching the reference writers' padding)."""
    buckets: dict[int, list[int]] = {}
    prev = -1
    for p in positions:
        if p < 0:
            raise ValueError("row indexes are non-negative")
        if p <= prev:
            raise ValueError("positions must be sorted strictly ascending")
        prev = p
        buckets.setdefault(p >> 32, []).append(p & 0xFFFFFFFF)
    out = bytearray(struct.pack("<IQ", MAGIC, len(buckets)))
    for key in sorted(buckets):
        out.extend(struct.pack("<I", key))
        out.extend(_rb32_serialize(buckets[key]))
    if pad4 and len(out) % 4:
        out.extend(b"\x00" * (4 - len(out) % 4))
    return bytes(out)


def rbm_array_deserialize(data: bytes) -> list[int]:
    """Portable RoaringBitmapArray bytes -> sorted row indexes."""
    if len(data) < 12:
        raise ValueError("deletion vector blob too short")
    magic, nmaps = struct.unpack_from("<IQ", data, 0)
    if magic != MAGIC:
        raise ValueError(
            f"bad deletion-vector magic {magic} (expected {MAGIC})"
        )
    pos = 12
    out: list[int] = []
    last_key = -1
    for _ in range(nmaps):
        try:
            (key,) = struct.unpack_from("<I", data, pos)
        except struct.error:
            raise ValueError(
                f"truncated deletion-vector blob at offset {pos}"
            ) from None
        pos += 4
        if key <= last_key:
            raise ValueError("bucket keys must be strictly increasing")
        last_key = key
        vals, pos = _rb32_deserialize(data, pos)
        base = key << 32
        out.extend(base + v for v in vals)
    if any(data[pos:]):  # only zero padding may follow
        raise ValueError(f"{len(data) - pos} trailing non-pad bytes")
    return out


# ---------------------------------------------------------------- DV files

FILE_VERSION = 1


def write_dv_file(path: str, dvs: list[list[int]]) -> list[dict]:
    """Write one on-disk DV file holding ``dvs`` (each a sorted
    position list); returns per-DV ``{offset, sizeInBytes,
    cardinality}`` descriptor fragments. Layout per the protocol:
    version byte, then per DV a u32 BE size, the blob, a u32 BE CRC-32
    of the blob."""
    frags = []
    with open(path, "wb") as fh:
        fh.write(bytes([FILE_VERSION]))
        off = 1
        for positions in dvs:
            blob = rbm_array_serialize(positions)
            fh.write(struct.pack(">I", len(blob)))
            fh.write(blob)
            fh.write(struct.pack(">I", zlib.crc32(blob) & 0xFFFFFFFF))
            frags.append(
                {
                    "offset": off,
                    "sizeInBytes": len(blob),
                    "cardinality": len(positions),
                }
            )
            off += 4 + len(blob) + 4
    return frags


def read_dv_file_entry(path: str, offset: int, size_in_bytes: int) -> bytes:
    """One DV's blob out of an on-disk file, CRC-verified.

    Every corruption mode — truncated size/CRC fields, an offset past
    the end of the file — raises ``ValueError`` (the module's error
    contract), never a bare ``struct.error``.
    """
    file_size = os.path.getsize(path)
    if not 0 <= offset < file_size:
        raise ValueError(
            f"DV descriptor offset {offset} out of bounds for "
            f"{path} ({file_size} bytes)"
        )
    with open(path, "rb") as fh:
        version = fh.read(1)
        if not version or version[0] != FILE_VERSION:
            raise ValueError(
                f"unsupported deletion-vector file version "
                f"{version[0] if version else '<empty>'} at {path}"
            )
        fh.seek(offset)
        size_field = fh.read(4)
        if len(size_field) != 4:
            raise ValueError(
                f"truncated DV size field at {path}+{offset}"
            )
        (stored_size,) = struct.unpack(">I", size_field)
        if stored_size != size_in_bytes:
            raise ValueError(
                f"DV size mismatch at {path}+{offset}: file says "
                f"{stored_size}, descriptor says {size_in_bytes}"
            )
        blob = fh.read(stored_size)
        if len(blob) != stored_size:
            raise ValueError(f"truncated DV data at {path}+{offset}")
        crc_field = fh.read(4)
        if len(crc_field) != 4:
            raise ValueError(f"truncated DV CRC field at {path}+{offset}")
        (crc,) = struct.unpack(">I", crc_field)
    if zlib.crc32(blob) & 0xFFFFFFFF != crc:
        raise ValueError(f"DV checksum mismatch at {path}+{offset}")
    return blob


# ------------------------------------------------------------- descriptors


def dv_relative_path(path_or_inline: str) -> tuple[str, str]:
    """``storageType="u"`` path materialization: the final 20 chars are
    the Z85-encoded 16-byte UUID, anything before is an optional random
    prefix directory. Returns (prefix, canonical file name)."""
    if len(path_or_inline) < 20:
        raise ValueError(
            f"'u' pathOrInlineDv shorter than a Z85 uuid: "
            f"{path_or_inline!r}"
        )
    prefix, enc = path_or_inline[:-20], path_or_inline[-20:]
    u = _uuid.UUID(bytes=z85_decode(enc))
    return prefix, f"deletion_vector_{u}.bin"


def resolve_dv_positions(descriptor: dict, table_path: str) -> list[int]:
    """Deletion-vector descriptor -> sorted deleted row indexes.

    ``storageType`` "i" decodes the Z85 inline payload; "u" derives
    ``<table>/<prefix>/deletion_vector_<uuid>.bin``; "p" opens the
    given absolute path.  Cardinality is validated against the
    descriptor — a mismatch means a torn write and must fail, not
    resurrect or over-delete rows.
    """
    storage = descriptor.get("storageType")
    size = int(descriptor.get("sizeInBytes", -1))
    if storage == "i":
        blob = z85_decode(descriptor["pathOrInlineDv"])
        if size >= 0:
            if len(blob) < size:
                raise ValueError(
                    f"inline DV shorter than sizeInBytes ({len(blob)} < {size})"
                )
            blob = blob[:size]  # Z85 padding beyond the declared size
    elif storage in ("u", "p"):
        if storage == "u":
            prefix, name = dv_relative_path(descriptor["pathOrInlineDv"])
            fpath = os.path.join(table_path, prefix, name)
        else:
            fpath = descriptor["pathOrInlineDv"]
        offset = int(descriptor.get("offset", 1))
        blob = read_dv_file_entry(fpath, offset, size)
    else:
        raise ValueError(f"unknown DV storageType {storage!r}")
    positions = rbm_array_deserialize(blob)
    want = descriptor.get("cardinality")
    if want is not None and int(want) != len(positions):
        raise ValueError(
            f"DV cardinality mismatch: descriptor says {want}, "
            f"bitmap holds {len(positions)}"
        )
    return positions


def dv_file_path(descriptor: dict, table_path: str) -> str | None:
    """Absolute path of the file a DV descriptor reads ("u" relative to
    the table root, "p" as given); None for inline ("i") DVs, which
    live in the log itself."""
    storage = descriptor.get("storageType")
    if storage == "u":
        prefix, name = dv_relative_path(descriptor["pathOrInlineDv"])
        return os.path.abspath(os.path.join(table_path, prefix, name))
    if storage == "p":
        return os.path.abspath(descriptor["pathOrInlineDv"])
    return None

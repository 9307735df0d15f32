"""Delta deletion-vector files: the engine's one delete representation.

The reference writes true Delta tables via delta-rs (any Delta reader
can open them, src/component.py:356 era). Every merge-on-read delete
(``delete_where``/``delete_keys``, ``upsert(strategy='merge-on-read')``)
marks the deleted row positions of each touched parquet file with the
protocol's own mechanism (PROTOCOL.md §Deletion Vectors, reader v3 /
writer v7, feature ``deletionVectors``). The engine commit and the
``_delta_log`` entry carry the same descriptors, so engine reads and
external Delta readers skip the same rows at every version:

- row indexes marked deleted are encoded as a 64-bit
  **RoaringBitmapArray** in the "portable" format: magic 1681511377
  (int32 LE), number of 32-bit bitmaps (int64 LE), then each 32-bit
  RoaringBitmap in the official interoperable format
  (https://github.com/RoaringBitmap/RoaringFormatSpec — no-run cookie
  12346, array containers ≤4096 values, bitmap containers above);
- DV files are ``deletion_vector_<uuid>.bin`` at the table root:
  a format-version byte (1), then per DV
  ``<int32 BE size> <data> <int32 BE CRC-32(data)>``;
- the descriptor on add/remove actions uses ``storageType "u"``:
  ``pathOrInlineDv`` is the 20-char RFC-1924 base85 of the uuid bytes
  (Python's ``base64.b85encode`` IS that alphabet), ``offset`` points
  at the size field, ``sizeInBytes`` is len(data), ``cardinality`` the
  number of deleted rows.

DV files are immutable and written BEFORE the commit that references
them; one left behind by a failed writer is reclaimed by ``vacuum``.
"""

from __future__ import annotations

import base64
import os
import struct
import uuid
import zlib

MAGIC_PORTABLE = 1681511377
_COOKIE_NO_RUN = 12346
_ARRAY_MAX = 4096
FORMAT_VERSION = 1


# ---------------------------------------------------------------------------
# RoaringBitmapArray (portable) serialization
# ---------------------------------------------------------------------------


def _serialize_rb32(values: list[int]) -> bytes:
    """One 32-bit RoaringBitmap, official portable format, no run
    containers (cookie 12346 always carries the offset header)."""
    containers: dict[int, set[int]] = {}
    # dedup AT CONTAINER BUILD so the descriptive header's cardinality
    # and the payload can never diverge — a caller passing duplicates
    # would otherwise write card=N with an N-k payload, shifting every
    # later container for external roaring readers
    for v in values:
        containers.setdefault(v >> 16, set()).add(v & 0xFFFF)
    keys = sorted(containers)
    header = struct.pack("<iI", _COOKIE_NO_RUN, len(keys))
    desc = b"".join(
        struct.pack("<HH", k, len(containers[k]) - 1) for k in keys
    )
    # container payloads first, so offsets are known
    payloads = []
    for k in keys:
        vals = sorted(containers[k])
        if len(vals) <= _ARRAY_MAX:
            payloads.append(struct.pack(f"<{len(vals)}H", *vals))
        else:
            words = [0] * 1024
            for v in vals:
                words[v >> 6] |= 1 << (v & 63)
            payloads.append(struct.pack("<1024Q", *words))
    offsets_pos = len(header) + len(desc) + 4 * len(keys)
    offs, pos = [], offsets_pos
    for p in payloads:
        offs.append(pos)
        pos += len(p)
    off_hdr = struct.pack(f"<{len(keys)}I", *offs) if keys else b""
    return header + desc + off_hdr + b"".join(payloads)


def _deserialize_rb32(data: bytes, at: int) -> tuple[list[int], int]:
    """Parse one portable 32-bit RoaringBitmap at ``at``; returns
    (values, next offset). Handles both no-run (12346) and run (12347)
    cookies — external writers may use run containers."""
    (cookie,) = struct.unpack_from("<I", data, at)
    run_flags = b""
    if (cookie & 0xFFFF) == 12347:
        n = (cookie >> 16) + 1
        at += 4
        run_flags = data[at : at + (n + 7) // 8]
        at += (n + 7) // 8
    elif cookie == _COOKIE_NO_RUN:
        (n,) = struct.unpack_from("<I", data, at + 4)
        at += 8
    else:
        raise ValueError(f"unknown roaring cookie {cookie}")
    keys, cards = [], []
    for i in range(n):
        k, c = struct.unpack_from("<HH", data, at)
        keys.append(k)
        cards.append(c + 1)
        at += 4
    has_offsets = cookie == _COOKIE_NO_RUN or n >= 4
    if has_offsets:
        at += 4 * n  # payload offsets — we read sequentially instead
    out: list[int] = []
    for i in range(n):
        is_run = bool(run_flags) and (run_flags[i // 8] >> (i % 8)) & 1
        base = keys[i] << 16
        if is_run:
            (n_runs,) = struct.unpack_from("<H", data, at)
            at += 2
            for _ in range(n_runs):
                start, length = struct.unpack_from("<HH", data, at)
                at += 4
                out.extend(base | v for v in range(start, start + length + 1))
        elif cards[i] > _ARRAY_MAX:
            words = struct.unpack_from("<1024Q", data, at)
            at += 8192
            for wi, w in enumerate(words):
                while w:
                    b = w & -w
                    out.append(base | (wi << 6) | b.bit_length() - 1)
                    w ^= b
        else:
            vals = struct.unpack_from(f"<{cards[i]}H", data, at)
            at += 2 * cards[i]
            out.extend(base | v for v in vals)
    return out, at


def serialize_bitmap(indices) -> bytes:
    """64-bit row-index set → portable RoaringBitmapArray bytes."""
    by_high: dict[int, list[int]] = {}
    for ix in indices:
        by_high.setdefault(ix >> 32, []).append(ix & 0xFFFFFFFF)
    n_maps = (max(by_high) + 1) if by_high else 0
    out = [struct.pack("<iq", MAGIC_PORTABLE, n_maps)]
    for hi in range(n_maps):
        # no pre-sort/dedup here: _serialize_rb32 dedups at container
        # build and sorts per container — one canonical dedup site
        out.append(_serialize_rb32(by_high.get(hi, [])))
    return b"".join(out)


def deserialize_bitmap(data: bytes) -> list[int]:
    magic, n_maps = struct.unpack_from("<iq", data, 0)
    if magic != MAGIC_PORTABLE:
        raise ValueError(f"unsupported bitmap magic {magic}")
    at, out = 12, []
    for hi in range(n_maps):
        vals, at = _deserialize_rb32(data, at)
        out.extend((hi << 32) | v for v in vals)
    return sorted(out)


# ---------------------------------------------------------------------------
# DV file + descriptor
# ---------------------------------------------------------------------------


def _encode_uuid_b85(u: uuid.UUID) -> str:
    return base64.b85encode(u.bytes).decode("ascii")


def _decode_uuid_b85(s: str) -> uuid.UUID:
    return uuid.UUID(bytes=base64.b85decode(s.encode("ascii")))


def dv_relative_path(descriptor: dict) -> str:
    """Table-relative file path a descriptor points at (storageType
    'u': optional random prefix directory + the derived file name)."""
    st = descriptor["storageType"]
    if st == "p":
        return descriptor["pathOrInlineDv"]
    if st != "u":
        raise ValueError(f"no file behind storageType {st!r}")
    enc = descriptor["pathOrInlineDv"]
    prefix, tail = enc[:-20], enc[-20:]
    name = f"deletion_vector_{_decode_uuid_b85(tail)}.bin"
    return f"{prefix}/{name}" if prefix else name


def write_dv_file(
    table_path: str, bitmaps: dict[str, list[int]]
) -> dict[str, dict]:
    """Write ONE multi-DV file carrying a bitmap per data file and
    return {data-file rel path: deletionVector descriptor}. Layout per
    the spec: version byte, then per DV <size BE><data><crc32 BE>,
    with each descriptor's offset pointing at its size field."""
    if not bitmaps:
        return {}
    u = uuid.uuid4()
    blob = bytearray([FORMAT_VERSION])
    descriptors: dict[str, dict] = {}
    for path in sorted(bitmaps):
        idx = sorted(set(bitmaps[path]))
        data = serialize_bitmap(idx)
        offset = len(blob)
        blob += struct.pack(">i", len(data))
        blob += data
        blob += struct.pack(">I", zlib.crc32(data) & 0xFFFFFFFF)
        descriptors[path] = {
            "storageType": "u",
            "pathOrInlineDv": _encode_uuid_b85(u),
            "offset": offset,
            "sizeInBytes": len(data),
            "cardinality": len(idx),
        }
    fname = f"deletion_vector_{u}.bin"
    final = os.path.join(table_path, fname)
    tmp = final + f".tmp.{uuid.uuid4().hex}"
    with open(tmp, "wb") as f:
        f.write(bytes(blob))
    os.replace(tmp, final)
    return descriptors


def read_dv(table_path: str, descriptor: dict) -> list[int]:
    """Deleted row indexes behind a descriptor — what any external
    reader does: resolve the file, seek to offset, read
    <size><data><crc>, verify, deserialize."""
    if descriptor["storageType"] == "i":
        data = base64.b85decode(descriptor["pathOrInlineDv"])
        return deserialize_bitmap(data)
    rel = dv_relative_path(descriptor)
    with open(os.path.join(table_path, rel), "rb") as f:
        if f.read(1) != bytes([FORMAT_VERSION]):
            raise ValueError("unsupported DV file format version")
        f.seek(descriptor["offset"])
        (size,) = struct.unpack(">i", f.read(4))
        if size != descriptor["sizeInBytes"]:
            raise ValueError(
                f"DV size mismatch: file {size}, "
                f"descriptor {descriptor['sizeInBytes']}"
            )
        data = f.read(size)
        (crc,) = struct.unpack(">I", f.read(4))
    if zlib.crc32(data) & 0xFFFFFFFF != crc:
        raise ValueError("DV checksum mismatch")
    out = deserialize_bitmap(data)
    if len(out) != descriptor["cardinality"]:
        raise ValueError(
            f"DV cardinality mismatch: bitmap {len(out)}, "
            f"descriptor {descriptor['cardinality']}"
        )
    return out

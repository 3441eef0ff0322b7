"""TIFF-variant LZW encoder for the benchmark's raster corpus.

The repository's test writer has no LZW, so without this encoder the
engine's LZW decoder would carry no load in the benchmark. Codes are
written MSB-first, starting at 9 bits and growing to 12 with the
"early change" rule every TIFF reader expects: after a code is emitted
and the table grows to 2**width entries, the width grows by one. Clear
(256) opens the stream and is re-sent before the table would overflow
12 bits; EOI (257) closes it.
"""

from __future__ import annotations

CLEAR, EOI = 256, 257
_FIRST_FREE = 258
_MAX_CODE = 4093  # re-send Clear before the next entry needs 13 bits


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, width: int) -> None:
        self.acc = (self.acc << width) | code
        self.nbits += width
        while self.nbits >= 8:
            self.nbits -= 8
            self.out.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def finish(self) -> bytes:
        if self.nbits:
            self.out.append((self.acc << (8 - self.nbits)) & 0xFF)
            self.acc = 0
            self.nbits = 0
        return bytes(self.out)


def lzw_encode(data: bytes) -> bytes:
    """Encode `data` as one TIFF LZW stream (Clear … EOI)."""
    bw = _BitWriter()
    width = 9
    bw.write(CLEAR, width)
    if not data:
        bw.write(EOI, width)
        return bw.finish()
    table: dict[bytes, int] = {}
    next_code = _FIRST_FREE
    prefix = data[:1]
    prefix_code = data[0]
    for i in range(1, len(data)):
        byte = data[i : i + 1]
        candidate = prefix + byte
        code = table.get(candidate)
        if code is not None:
            prefix, prefix_code = candidate, code
            continue
        bw.write(prefix_code, width)
        table[candidate] = next_code
        next_code += 1
        if next_code >= (1 << width) and width < 12:
            width += 1
        if next_code >= _MAX_CODE:
            bw.write(CLEAR, width)
            table.clear()
            next_code = _FIRST_FREE
            width = 9
        prefix, prefix_code = byte, data[i]
    bw.write(prefix_code, width)
    next_code += 1
    if next_code >= (1 << width) and width < 12:
        width += 1
    bw.write(EOI, width)
    return bw.finish()

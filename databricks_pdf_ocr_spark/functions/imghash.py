"""Perceptual image hashing (dHash) — pure integer stdlib.

The media near-duplicate signal a crawl curation pipeline pairs with
text MinHash: re-encodes, container changes, palette quantization and
small pixel edits keep the same 64-bit gradient hash within a few bits,
so Hamming-banded pairing (the ``simhash_pairs`` pigeonhole) finds
near-duplicate media without an all-pairs comparison.

All arithmetic is integer and deterministic (BT.601 integer luma,
box-average downsample with floor division), so the distributed Spark
path and the single-process golden builder produce bit-identical
hashes from the same decoded pixels.
"""

from __future__ import annotations

#: dHash grid: 9 columns x 8 rows of luma -> 8x8 = 64 gradient bits
GRID_W, GRID_H = 9, 8


def luma_grid(pixels: bytes, w: int, h: int,
              channels: int) -> list[list[int]]:
    """Decoded pixels → a GRID_W x GRID_H integer-luma grid (box
    average).

    Luma: BT.601 integer ``(77 R + 150 G + 29 B) >> 8``; grayscale
    payloads pass through; alpha is ignored (hash covers color data).
    """
    if w <= 0 or h <= 0 or len(pixels) < w * h * channels:
        raise ValueError("bad pixel buffer")
    grid = []
    for gy in range(GRID_H):
        y0 = gy * h // GRID_H
        y1 = max(y0 + 1, (gy + 1) * h // GRID_H)
        row = []
        for gx in range(GRID_W):
            x0 = gx * w // GRID_W
            x1 = max(x0 + 1, (gx + 1) * w // GRID_W)
            acc = 0
            for y in range(y0, y1):
                base = (y * w) * channels
                for x in range(x0, x1):
                    o = base + x * channels
                    if channels >= 3:
                        acc += (77 * pixels[o] + 150 * pixels[o + 1]
                                + 29 * pixels[o + 2]) >> 8
                    else:
                        acc += pixels[o]
            row.append(acc // ((y1 - y0) * (x1 - x0)))
        grid.append(row)
    return grid


def dhash64(pixels: bytes, w: int, h: int, channels: int) -> int:
    """64-bit difference hash: bit (r*8+c) set iff luma increases from
    grid column c to c+1 in row r.  Returned as a SIGNED 64-bit int so
    it stores directly in a Spark/DuckDB BIGINT column."""
    g = luma_grid(pixels, w, h, channels)
    v = 0
    for r in range(GRID_H):
        for c in range(GRID_W - 1):
            if g[r][c + 1] > g[r][c]:
                v |= 1 << (r * (GRID_W - 1) + c)
    return v - (1 << 64) if v >= (1 << 63) else v


def hamming64(a: int, b: int) -> int:
    return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")

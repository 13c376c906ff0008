"""Cell-ID string codecs: base32nvu (logistic) and base16h (scientific).

Grammar pinned by the reference:

* **base32nvu** — ``/root/reference/conf.yaml:33`` (``log_base: 32nvu``),
  ``/root/reference/README.md:93`` (alphabet option 5 — digits then consonants
  plus U): alphabet ``0123456789BCDFGHJKLMNPQRSTUVWXYZ``, 5 bits per char,
  MSB first.
* **base16h** — ``/root/reference/conf.yaml:29`` (``sci_base: 16h``),
  ``/root/reference/README.md:55-57``: lowercase hex digits carry 4 bits; an
  optional final letter carries 1-3 leftover bits via three prefix-free
  families (observed across all 14,165 cover cells of
  ``/root/reference/data/citycover.csv``):
  1 bit ``G=0 Q=1``; 2 bits ``H=00 M=01 R=10 V=11``;
  3 bits ``J K N P S T Y Z = 000..111``.

All functions are numpy-vectorized, grouped by code length so each group is a
single fixed-width array op (executors call these from Arrow-batched pandas
UDFs — no per-row Python in the hot path).
"""

from __future__ import annotations

import numpy as np

B32NVU_ALPHABET = "0123456789BCDFGHJKLMNPQRSTUVWXYZ"
# classic lowercase Geohash alphabet — the reference's open decision #5
# (README.md "Decisiones abiertas": NVU uppercase vs Geohash lowercase);
# NVU is the adopted default, this one is offered as an engine option
GEOHASH_ALPHABET = "0123456789bcdefghjkmnpqrstuvwxyz"
_B32_CHARS = np.array(list(B32NVU_ALPHABET), dtype="<U1")
_B32_VALUES = np.full(256, -1, dtype=np.int64)
for _i, _c in enumerate(B32NVU_ALPHABET):
    _B32_VALUES[ord(_c)] = _i

HEX_CHARS = np.array(list("0123456789abcdef"), dtype="<U1")
_HEX_VALUES = np.full(256, -1, dtype=np.int64)
for _i, _c in enumerate("0123456789abcdef"):
    _HEX_VALUES[ord(_c)] = _i

# base16h suffix-letter families: letter -> (extra_bits, value)
B16H_SUFFIX = {
    "G": (1, 0), "Q": (1, 1),
    "H": (2, 0), "M": (2, 1), "R": (2, 2), "V": (2, 3),
    "J": (3, 0), "K": (3, 1), "N": (3, 2), "P": (3, 3),
    "S": (3, 4), "T": (3, 5), "Y": (3, 6), "Z": (3, 7),
}
# the encode's view (extra_bits -> letter per value) and the decode's
# (letter -> extra_bits, value), both read off B16H_SUFFIX
_B16H_SUFFIX_CHARS = {nb: np.empty(1 << nb, dtype="<U1") for nb in (1, 2, 3)}
_SFX_NBITS = np.zeros(256, dtype=np.int64)
_SFX_VALUE = np.full(256, -1, dtype=np.int64)
for _c, (_nb, _v) in B16H_SUFFIX.items():
    _B16H_SUFFIX_CHARS[_nb][_v] = _c
    _SFX_NBITS[ord(_c)] = _nb
    _SFX_VALUE[ord(_c)] = _v


def _join_digit_matrix(digit_chars: np.ndarray) -> np.ndarray:
    """(n, k) array of '<U1' -> (n,) array of '<U{k}' via a contiguous view."""
    n, k = digit_chars.shape
    if k == 0:
        return np.full(n, "", dtype="<U1")
    return np.ascontiguousarray(digit_chars).view(f"<U{k}").reshape(n)


def b32nvu_encode(bits: np.ndarray, nbits: np.ndarray | int) -> np.ndarray:
    """(bits, nbits) -> base32nvu strings. nbits must be a multiple of 5."""
    bits = np.asarray(bits, dtype=np.uint64)
    nbits = np.broadcast_to(np.asarray(nbits, dtype=np.int64), bits.shape)
    out = np.empty(bits.shape, dtype=object)
    for nb in np.unique(nbits):
        m = nbits == nb
        ndig = int(nb) // 5
        shifts = (np.arange(ndig - 1, -1, -1, dtype=np.uint64) * np.uint64(5))
        dig = (bits[m][:, None] >> shifts[None, :]) & np.uint64(31)
        out[m] = _join_digit_matrix(_B32_CHARS[dig.astype(np.int64)])
    return out.astype("<U16")


def b32nvu_decode(codes: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """base32nvu strings -> (bits uint64, nbits int64). Invalid char -> nbits=-1."""
    codes = np.asarray(codes)
    lens = np.char.str_len(codes.astype("<U16"))
    bits = np.zeros(codes.shape, dtype=np.uint64)
    nbits = (lens * 5).astype(np.int64)
    for ln in np.unique(lens):
        if ln == 0:
            continue
        m = lens == ln
        byt = np.frombuffer(
            codes[m].astype(f"<U{ln}").tobytes(), dtype=np.uint32
        ).reshape(-1, int(ln))
        vals = _B32_VALUES[np.clip(byt, 0, 255)]
        bad = (vals < 0).any(axis=1) | (byt > 255).any(axis=1)
        acc = np.zeros(vals.shape[0], dtype=np.uint64)
        for j in range(int(ln)):
            acc = (acc << np.uint64(5)) | vals[:, j].astype(np.uint64)
        bits[m] = acc
        nb = nbits[m]
        nb[bad] = -1
        nbits[m] = nb
    return bits, nbits


def b16h_encode(bits: np.ndarray, nbits: np.ndarray | int) -> np.ndarray:
    """(bits, nbits) -> base16h strings (hex digits + optional suffix letter)."""
    bits = np.asarray(bits, dtype=np.uint64)
    nbits = np.broadcast_to(np.asarray(nbits, dtype=np.int64), bits.shape)
    out = np.empty(bits.shape, dtype=object)
    for nb in np.unique(nbits):
        m = nbits == nb
        q, r = divmod(int(nb), 4)
        hex_part_bits = bits[m] >> np.uint64(r)
        if q:
            shifts = (np.arange(q - 1, -1, -1, dtype=np.uint64) * np.uint64(4))
            dig = (hex_part_bits[:, None] >> shifts[None, :]) & np.uint64(15)
            hx = _join_digit_matrix(HEX_CHARS[dig.astype(np.int64)])
        else:
            hx = np.full(m.sum(), "", dtype="<U1")
        if r:
            sfx = _B16H_SUFFIX_CHARS[r][(bits[m] & np.uint64((1 << r) - 1)).astype(np.int64)]
            out[m] = np.char.add(hx.astype("<U14"), sfx)
        else:
            out[m] = hx
    return out.astype("<U16")


def b16h_decode(codes: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """base16h strings -> (bits uint64, nbits int64). Invalid -> nbits=-1."""
    codes = np.asarray(codes)
    lens = np.char.str_len(codes.astype("<U16"))
    bits = np.zeros(codes.shape, dtype=np.uint64)
    nbits = np.full(codes.shape, -1, dtype=np.int64)
    for ln in np.unique(lens):
        if ln == 0:
            continue
        m = lens == ln
        byt = np.frombuffer(
            codes[m].astype(f"<U{ln}").tobytes(), dtype=np.uint32
        ).reshape(-1, int(ln))
        byt8 = np.clip(byt, 0, 255)
        last = byt8[:, -1]
        sfx_nb = _SFX_NBITS[last]
        sfx_val = _SFX_VALUE[last]
        has_sfx = sfx_nb > 0
        nhex = int(ln) - has_sfx.astype(np.int64)
        hexvals = _HEX_VALUES[byt8]
        acc = np.zeros(byt8.shape[0], dtype=np.uint64)
        ok = (byt <= 255).all(axis=1)
        for j in range(int(ln)):
            use = j < nhex
            v = np.where(use, hexvals[:, j], 0)
            ok &= ~(use & (hexvals[:, j] < 0))
            acc = np.where(use, (acc << np.uint64(4)) | v.astype(np.uint64), acc)
        acc = np.where(
            has_sfx,
            (acc << sfx_nb.astype(np.uint64)) | np.maximum(sfx_val, 0).astype(np.uint64),
            acc,
        )
        # last char must be a valid hex digit when no suffix letter
        ok &= has_sfx | (hexvals[:, -1] >= 0)
        nb = nhex * 4 + sfx_nb
        bits[m] = acc
        res = np.where(ok, nb, -1)
        nbits[m] = res
    return bits, nbits

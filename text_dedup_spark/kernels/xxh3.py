"""Pure-Python XXH3 (64- and 128-bit), implementing the public xxHash spec.

The reference pipeline (text-dedup) uses ``xxhash.xxh3_64_intdigest`` /
``xxh3_128_intdigest`` as its base hash (see reference
``src/text_dedup/utils/hashfunc.py:96-105``). The ``python-xxhash`` C
extension is not available in this environment, so we provide a
spec-faithful pure-Python implementation (XXH3 is public domain, spec at
github.com/Cyan4973/xxHash). When the real ``xxhash`` package is importable
we delegate to it — it is ~50x faster and byte-identical.

Only the short-input paths (<=240 bytes) are hot for dedup workloads
(shingles are short strings); the long path is implemented for completeness.
"""

from __future__ import annotations

import struct

try:  # pragma: no cover - exercised only when the C extension exists
    import xxhash as _cxxhash
except Exception:  # pragma: no cover
    _cxxhash = None

_M64 = (1 << 64) - 1
_M32 = (1 << 32) - 1

PRIME32_1 = 0x9E3779B1
PRIME32_2 = 0x85EBCA77
PRIME32_3 = 0xC2B2AE3D
PRIME64_1 = 0x9E3779B185EBCA87
PRIME64_2 = 0xC2B2AE3D27D4EB4F
PRIME64_3 = 0x165667B19E3779F9
PRIME64_4 = 0x85EBCA77C2B2AE63
PRIME64_5 = 0x27D4EB2F165667C5
PRIME_MX1 = 0x165667919E3779F9  # used by XXH3_avalanche
PRIME_MX2 = 0x9FB21C651E98DF25  # used by XXH3_rrmxmx

# XXH3_kSecret — the 192-byte default secret from the public xxHash source.
_KSECRET = bytes.fromhex(
    "b8fe6c3923a44bbe7c01812cf721ad1c"
    "ded46de9839097db7240a4a4b7b3671f"
    "cb79e64eccc0e578825ad07dccff7221"
    "b8084674f743248ee03590e6813a264c"
    "3c2852bb91c300cb88d0658b1b532ea3"
    "71644897a20df94e3819ef46a9deacd8"
    "a8fa763fe39c343ff9dcbbc7c70b4f1d"
    "8a51e04bcdb45931c89f7ec9d9787364"
    "eac5ac8334d3ebc3c581a0fffa1363eb"
    "170ddd51b7f0da49d316552629d4689e"
    "2b16be587d47a1fc8ff8b8d17ad031ce"
    "45cb3a8f95160428afd7fbcabb4b407e"
)

_u64 = struct.Struct("<Q").unpack_from
_u32 = struct.Struct("<I").unpack_from


def _read64(b: bytes, off: int) -> int:
    return _u64(b, off)[0]


def _read32(b: bytes, off: int) -> int:
    return _u32(b, off)[0]


def _swap32(x: int) -> int:
    return (
        ((x << 24) & 0xFF000000)
        | ((x << 8) & 0x00FF0000)
        | ((x >> 8) & 0x0000FF00)
        | ((x >> 24) & 0x000000FF)
    )


def _swap64(x: int) -> int:
    return int.from_bytes((x & _M64).to_bytes(8, "little"), "big")


def _rotl32(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _M32


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _mul128_fold64(a: int, b: int) -> int:
    p = a * b
    return (p & _M64) ^ (p >> 64)


def _xxh64_avalanche(h: int) -> int:
    h &= _M64
    h ^= h >> 33
    h = (h * PRIME64_2) & _M64
    h ^= h >> 29
    h = (h * PRIME64_3) & _M64
    h ^= h >> 32
    return h


def _xxh3_avalanche(h: int) -> int:
    h &= _M64
    h ^= h >> 37
    h = (h * PRIME_MX1) & _M64
    h ^= h >> 32
    return h


def _rrmxmx(h: int, length: int) -> int:
    h ^= _rotl64(h, 49) ^ _rotl64(h, 24)
    h = (h * PRIME_MX2) & _M64
    h ^= (h >> 35) + length
    h = (h * PRIME_MX2) & _M64
    return h ^ (h >> 28)


def _mix16b(data: bytes, doff: int, secret: bytes, soff: int, seed: int) -> int:
    input_lo = _read64(data, doff)
    input_hi = _read64(data, doff + 8)
    return _mul128_fold64(
        input_lo ^ ((_read64(secret, soff) + seed) & _M64),
        input_hi ^ ((_read64(secret, soff + 8) - seed) & _M64),
    )


# ---------------------------------------------------------------------------
# 64-bit short paths
# ---------------------------------------------------------------------------


def _len_1to3_64b(data: bytes, seed: int, secret: bytes) -> int:
    n = len(data)
    c1, c2, c3 = data[0], data[n >> 1], data[n - 1]
    combined = ((c1 << 16) | (c2 << 24) | c3 | (n << 8)) & _M32
    bitflip = ((_read32(secret, 0) ^ _read32(secret, 4)) + seed) & _M64
    return _xxh64_avalanche(combined ^ bitflip)


def _len_4to8_64b(data: bytes, seed: int, secret: bytes) -> int:
    n = len(data)
    seed ^= (_swap32(seed & _M32) << 32) & _M64
    input1 = _read32(data, 0)
    input2 = _read32(data, n - 4)
    bitflip = ((_read64(secret, 8) ^ _read64(secret, 16)) - seed) & _M64
    input64 = (input2 + (input1 << 32)) & _M64
    return _rrmxmx(input64 ^ bitflip, n)


def _len_9to16_64b(data: bytes, seed: int, secret: bytes) -> int:
    n = len(data)
    bitflip1 = ((_read64(secret, 24) ^ _read64(secret, 32)) + seed) & _M64
    bitflip2 = ((_read64(secret, 40) ^ _read64(secret, 48)) - seed) & _M64
    input_lo = _read64(data, 0) ^ bitflip1
    input_hi = _read64(data, n - 8) ^ bitflip2
    acc = (n + _swap64(input_lo) + input_hi + _mul128_fold64(input_lo, input_hi)) & _M64
    return _xxh3_avalanche(acc)


def _len_0to16_64b(data: bytes, seed: int, secret: bytes) -> int:
    n = len(data)
    if n > 8:
        return _len_9to16_64b(data, seed, secret)
    if n >= 4:
        return _len_4to8_64b(data, seed, secret)
    if n:
        return _len_1to3_64b(data, seed, secret)
    return _xxh64_avalanche(seed ^ _read64(secret, 56) ^ _read64(secret, 64))


def _len_17to128_64b(data: bytes, seed: int, secret: bytes) -> int:
    n = len(data)
    acc = (n * PRIME64_1) & _M64
    if n > 32:
        if n > 64:
            if n > 96:
                acc = (acc + _mix16b(data, 48, secret, 96, seed)) & _M64
                acc = (acc + _mix16b(data, n - 64, secret, 112, seed)) & _M64
            acc = (acc + _mix16b(data, 32, secret, 64, seed)) & _M64
            acc = (acc + _mix16b(data, n - 48, secret, 80, seed)) & _M64
        acc = (acc + _mix16b(data, 16, secret, 32, seed)) & _M64
        acc = (acc + _mix16b(data, n - 32, secret, 48, seed)) & _M64
    acc = (acc + _mix16b(data, 0, secret, 0, seed)) & _M64
    acc = (acc + _mix16b(data, n - 16, secret, 16, seed)) & _M64
    return _xxh3_avalanche(acc)


_MIDSIZE_STARTOFFSET = 3
_MIDSIZE_LASTOFFSET = 17
_SECRET_SIZE_MIN = 136


def _len_129to240_64b(data: bytes, seed: int, secret: bytes) -> int:
    n = len(data)
    acc = (n * PRIME64_1) & _M64
    nb_rounds = n // 16
    for i in range(8):
        acc = (acc + _mix16b(data, 16 * i, secret, 16 * i, seed)) & _M64
    acc = _xxh3_avalanche(acc)
    for i in range(8, nb_rounds):
        acc = (
            acc + _mix16b(data, 16 * i, secret, 16 * (i - 8) + _MIDSIZE_STARTOFFSET, seed)
        ) & _M64
    acc = (
        acc + _mix16b(data, n - 16, secret, _SECRET_SIZE_MIN - _MIDSIZE_LASTOFFSET, seed)
    ) & _M64
    return _xxh3_avalanche(acc)


# ---------------------------------------------------------------------------
# long path (> 240 bytes), shared accumulator core
# ---------------------------------------------------------------------------

_STRIPE_LEN = 64
_SECRET_CONSUME_RATE = 8
_ACC_NB = 8
_SECRET_MERGEACCS_START = 11
_SECRET_LASTACC_START = 7

_INIT_ACC = (
    PRIME32_3,
    PRIME64_1,
    PRIME64_2,
    PRIME64_3,
    PRIME64_4,
    PRIME32_2,
    PRIME64_5,
    PRIME32_1,
)


def _accumulate_512(acc: list[int], data: bytes, doff: int, secret: bytes, soff: int) -> None:
    for i in range(_ACC_NB):
        data_val = _read64(data, doff + 8 * i)
        data_key = data_val ^ _read64(secret, soff + 8 * i)
        acc[i ^ 1] = (acc[i ^ 1] + data_val) & _M64
        acc[i] = (acc[i] + (data_key & _M32) * (data_key >> 32)) & _M64


def _scramble_acc(acc: list[int], secret: bytes, soff: int) -> None:
    for i in range(_ACC_NB):
        acc[i] ^= acc[i] >> 47
        acc[i] ^= _read64(secret, soff + 8 * i)
        acc[i] = (acc[i] * PRIME32_1) & _M64


def _hash_long_accs(data: bytes, secret: bytes) -> list[int]:
    n = len(data)
    acc = list(_INIT_ACC)
    nb_stripes_per_block = (len(secret) - _STRIPE_LEN) // _SECRET_CONSUME_RATE
    block_len = _STRIPE_LEN * nb_stripes_per_block
    nb_blocks = (n - 1) // block_len

    for b in range(nb_blocks):
        base = b * block_len
        for s in range(nb_stripes_per_block):
            _accumulate_512(acc, data, base + s * _STRIPE_LEN, secret, s * _SECRET_CONSUME_RATE)
        _scramble_acc(acc, secret, len(secret) - _STRIPE_LEN)

    nb_stripes = ((n - 1) - block_len * nb_blocks) // _STRIPE_LEN
    base = nb_blocks * block_len
    for s in range(nb_stripes):
        _accumulate_512(acc, data, base + s * _STRIPE_LEN, secret, s * _SECRET_CONSUME_RATE)
    _accumulate_512(
        acc, data, n - _STRIPE_LEN, secret, len(secret) - _STRIPE_LEN - _SECRET_LASTACC_START
    )
    return acc


def _merge_accs(acc: list[int], secret: bytes, soff: int, start: int) -> int:
    result = start & _M64
    for i in range(4):
        result = (
            result
            + _mul128_fold64(
                acc[2 * i] ^ _read64(secret, soff + 16 * i),
                acc[2 * i + 1] ^ _read64(secret, soff + 16 * i + 8),
            )
        ) & _M64
    return _xxh3_avalanche(result)


def _custom_secret(seed: int) -> bytes:
    if seed == 0:
        return _KSECRET
    out = bytearray(len(_KSECRET))
    for i in range(len(_KSECRET) // 16):
        lo = (_read64(_KSECRET, 16 * i) + seed) & _M64
        hi = (_read64(_KSECRET, 16 * i + 8) - seed) & _M64
        out[16 * i : 16 * i + 8] = lo.to_bytes(8, "little")
        out[16 * i + 8 : 16 * i + 16] = hi.to_bytes(8, "little")
    return bytes(out)


def _xxh3_64_py(data: bytes, seed: int = 0) -> int:
    seed &= _M64
    n = len(data)
    if n <= 16:
        return _len_0to16_64b(data, seed, _KSECRET)
    if n <= 128:
        return _len_17to128_64b(data, seed, _KSECRET)
    if n <= 240:
        return _len_129to240_64b(data, seed, _KSECRET)
    secret = _custom_secret(seed)
    acc = _hash_long_accs(data, secret)
    return _merge_accs(acc, secret, _SECRET_MERGEACCS_START, (n * PRIME64_1) & _M64)


# ---------------------------------------------------------------------------
# 128-bit paths
# ---------------------------------------------------------------------------


def _len_1to3_128b(data: bytes, seed: int, secret: bytes) -> int:
    n = len(data)
    c1, c2, c3 = data[0], data[n >> 1], data[n - 1]
    combinedl = ((c1 << 16) | (c2 << 24) | c3 | (n << 8)) & _M32
    combinedh = _rotl32(_swap32(combinedl), 13)
    bitflipl = ((_read32(secret, 0) ^ _read32(secret, 4)) + seed) & _M64
    bitfliph = ((_read32(secret, 8) ^ _read32(secret, 12)) - seed) & _M64
    low = _xxh64_avalanche(combinedl ^ bitflipl)
    high = _xxh64_avalanche(combinedh ^ bitfliph)
    return (high << 64) | low


def _len_4to8_128b(data: bytes, seed: int, secret: bytes) -> int:
    n = len(data)
    seed ^= (_swap32(seed & _M32) << 32) & _M64
    input_lo = _read32(data, 0)
    input_hi = _read32(data, n - 4)
    input64 = (input_lo + (input_hi << 32)) & _M64
    bitflip = ((_read64(secret, 16) ^ _read64(secret, 24)) + seed) & _M64
    keyed = input64 ^ bitflip
    p = keyed * ((PRIME64_1 + (n << 2)) & _M64)
    lo, hi = p & _M64, (p >> 64) & _M64
    hi = (hi + ((lo << 1) & _M64)) & _M64
    lo ^= hi >> 3
    lo ^= lo >> 35
    lo = (lo * PRIME_MX2) & _M64
    lo ^= lo >> 28
    hi = _xxh3_avalanche(hi)
    return (hi << 64) | lo


def _len_9to16_128b(data: bytes, seed: int, secret: bytes) -> int:
    n = len(data)
    bitflipl = ((_read64(secret, 32) ^ _read64(secret, 40)) - seed) & _M64
    bitfliph = ((_read64(secret, 48) ^ _read64(secret, 56)) + seed) & _M64
    input_lo = _read64(data, 0)
    input_hi = _read64(data, n - 8)
    p = (input_lo ^ input_hi ^ bitflipl) * PRIME64_1
    m_lo, m_hi = p & _M64, (p >> 64) & _M64
    m_lo = (m_lo + ((n - 1) << 54)) & _M64
    input_hi ^= bitfliph
    m_hi = (m_hi + input_hi + (input_hi & _M32) * (PRIME32_2 - 1)) & _M64
    m_lo ^= _swap64(m_hi)
    p2 = m_lo * PRIME64_2
    h_lo, h_hi = p2 & _M64, (p2 >> 64) & _M64
    h_hi = (h_hi + m_hi * PRIME64_2) & _M64
    return (_xxh3_avalanche(h_hi) << 64) | _xxh3_avalanche(h_lo)


def _len_0to16_128b(data: bytes, seed: int, secret: bytes) -> int:
    n = len(data)
    if n > 8:
        return _len_9to16_128b(data, seed, secret)
    if n >= 4:
        return _len_4to8_128b(data, seed, secret)
    if n:
        return _len_1to3_128b(data, seed, secret)
    bitflipl = _read64(secret, 64) ^ _read64(secret, 72)
    bitfliph = _read64(secret, 80) ^ _read64(secret, 88)
    low = _xxh64_avalanche(seed ^ bitflipl)
    high = _xxh64_avalanche(seed ^ bitfliph)
    return (high << 64) | low


def _mix32b(
    acc_lo: int,
    acc_hi: int,
    data: bytes,
    off1: int,
    off2: int,
    secret: bytes,
    soff: int,
    seed: int,
) -> tuple[int, int]:
    acc_lo = (acc_lo + _mix16b(data, off1, secret, soff, seed)) & _M64
    acc_lo ^= (_read64(data, off2) + _read64(data, off2 + 8)) & _M64
    acc_hi = (acc_hi + _mix16b(data, off2, secret, soff + 16, seed)) & _M64
    acc_hi ^= (_read64(data, off1) + _read64(data, off1 + 8)) & _M64
    return acc_lo, acc_hi


def _finish_128(acc_lo: int, acc_hi: int, n: int, seed: int) -> int:
    h_lo = (acc_lo + acc_hi) & _M64
    h_hi = (acc_lo * PRIME64_1 + acc_hi * PRIME64_4 + ((n - seed) & _M64) * PRIME64_2) & _M64
    h_lo = _xxh3_avalanche(h_lo)
    h_hi = (-_xxh3_avalanche(h_hi)) & _M64
    return (h_hi << 64) | h_lo


def _len_17to128_128b(data: bytes, seed: int, secret: bytes) -> int:
    n = len(data)
    acc_lo = (n * PRIME64_1) & _M64
    acc_hi = 0
    if n > 32:
        if n > 64:
            if n > 96:
                acc_lo, acc_hi = _mix32b(acc_lo, acc_hi, data, 48, n - 64, secret, 96, seed)
            acc_lo, acc_hi = _mix32b(acc_lo, acc_hi, data, 32, n - 48, secret, 64, seed)
        acc_lo, acc_hi = _mix32b(acc_lo, acc_hi, data, 16, n - 32, secret, 32, seed)
    acc_lo, acc_hi = _mix32b(acc_lo, acc_hi, data, 0, n - 16, secret, 0, seed)
    return _finish_128(acc_lo, acc_hi, n, seed)


def _len_129to240_128b(data: bytes, seed: int, secret: bytes) -> int:
    n = len(data)
    acc_lo = (n * PRIME64_1) & _M64
    acc_hi = 0
    nb_rounds = n // 32
    for i in range(4):
        acc_lo, acc_hi = _mix32b(
            acc_lo, acc_hi, data, 32 * i, 32 * i + 16, secret, 32 * i, seed
        )
    acc_lo = _xxh3_avalanche(acc_lo)
    acc_hi = _xxh3_avalanche(acc_hi)
    for i in range(4, nb_rounds):
        acc_lo, acc_hi = _mix32b(
            acc_lo,
            acc_hi,
            data,
            32 * i,
            32 * i + 16,
            secret,
            _MIDSIZE_STARTOFFSET + 32 * (i - 4),
            seed,
        )
    acc_lo, acc_hi = _mix32b(
        acc_lo,
        acc_hi,
        data,
        n - 16,
        n - 32,
        secret,
        _SECRET_SIZE_MIN - _MIDSIZE_LASTOFFSET - 16,
        (-seed) & _M64,
    )
    return _finish_128(acc_lo, acc_hi, n, seed)


def _xxh3_128_py(data: bytes, seed: int = 0) -> int:
    seed &= _M64
    n = len(data)
    if n <= 16:
        return _len_0to16_128b(data, seed, _KSECRET)
    if n <= 128:
        return _len_17to128_128b(data, seed, _KSECRET)
    if n <= 240:
        return _len_129to240_128b(data, seed, _KSECRET)
    secret = _custom_secret(seed)
    acc = _hash_long_accs(data, secret)
    low = _merge_accs(acc, secret, _SECRET_MERGEACCS_START, (n * PRIME64_1) & _M64)
    high = _merge_accs(
        acc,
        secret,
        len(secret) - 64 - _SECRET_MERGEACCS_START,
        (~(n * PRIME64_2)) & _M64,
    )
    return (high << 64) | low


# ---------------------------------------------------------------------------
# public API (delegates to C extension when available)
# ---------------------------------------------------------------------------

if _cxxhash is not None:  # pragma: no cover

    def xxh3_64_intdigest(data: bytes, seed: int = 0) -> int:
        return _cxxhash.xxh3_64_intdigest(data, seed)

    def xxh3_128_intdigest(data: bytes, seed: int = 0) -> int:
        return _cxxhash.xxh3_128_intdigest(data, seed)

else:
    xxh3_64_intdigest = _xxh3_64_py
    xxh3_128_intdigest = _xxh3_128_py

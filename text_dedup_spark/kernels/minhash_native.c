/* MinHash fingerprint kernel in C: XXH3-64 plus the reference's
 * permute/min and the 64-bit band-key mix, over flat byte buffers.
 *
 * XXH3-64 covers every length class (0, 1-3, 4-8, 9-16, 17-128, 129-240
 * and the >240-byte striped long path with the seed-derived secret),
 * written from the public xxHash specification (Yann Collet, BSD-2);
 * kernels/xxh3.py is the pure-Python spec it is cross-checked against.
 *
 * MinHash (reference minhash.py:200-236, vectorized form in
 * minhash_kernel.py): per shingle h = xxh3_64(shingle, seed) & 0xFFFFFFFF,
 * per permutation j v = (h * a[j] + b[j]) mod P & 0xFFFFFFFF with the
 * config's unsigned wraparound (uint64 with P = 2^61-1 for hash_bits 64,
 * uint32 with P = 2^32-5 for hash_bits 32), signature[j] = min over
 * shingles, started at max_hash = 0xFFFFFFFF. The min over a multiset
 * equals the min over its set, so repeated shingles need no dedup. Band i's
 * key is sum_k sig[i*rows+k] * M^(rows-1-k) mod 2^64, M = 0x9E3779B97F4A7C15
 * (BAND_MIX_MULT).
 *
 * Tokenizing ASCII docs: the reference lowercases and splits on the Unicode
 * regex \W. Over ASCII, str.lower changes only A-Z and \w is exactly
 * [0-9A-Za-z_], so C tokenizes a doc whose text is all ASCII itself
 * (ascii_join_tokens); every other doc arrives already tokenized by
 * tokenization.joined_tokens.
 *
 * Compiled on demand by native.py (cc -O3 -march=native -shared -fPIC,
 * -O2 retry). Little-endian hosts only; elsewhere the build fails and the
 * callers take the pure-Python fallback.
 */

#include <stdint.h>
#include <stdlib.h>
#include <string.h>

#if !defined(__BYTE_ORDER__) || __BYTE_ORDER__ != __ORDER_LITTLE_ENDIAN__
#error "minhash_native.c assumes a little-endian host"
#endif

#define PRIME32_1 0x9E3779B1ULL
#define PRIME32_2 0x85EBCA77ULL
#define PRIME32_3 0xC2B2AE3DULL
#define PRIME64_1 0x9E3779B185EBCA87ULL
#define PRIME64_2 0xC2B2AE3D27D4EB4FULL
#define PRIME64_3 0x165667B19E3779F9ULL
#define PRIME64_4 0x85EBCA77C2B2AE63ULL
#define PRIME64_5 0x27D4EB2F165667C5ULL
#define PRIME_MX1 0x165667919E3779F9ULL
#define PRIME_MX2 0x9FB21C651E98DF25ULL

#define SECRET_SIZE 192
#define STRIPE_LEN 64
#define SECRET_CONSUME_RATE 8

#define MAX_HASH 0xFFFFFFFFULL
#define MERSENNE_61 ((1ULL << 61) - 1)
#define PRIME_32 4294967291U /* 2^32 - 5 */
#define BAND_MIX_MULT 0x9E3779B97F4A7C15ULL

static const uint8_t kSecret[SECRET_SIZE] = {
    0xb8, 0xfe, 0x6c, 0x39, 0x23, 0xa4, 0x4b, 0xbe, 0x7c, 0x01, 0x81, 0x2c,
    0xf7, 0x21, 0xad, 0x1c, 0xde, 0xd4, 0x6d, 0xe9, 0x83, 0x90, 0x97, 0xdb,
    0x72, 0x40, 0xa4, 0xa4, 0xb7, 0xb3, 0x67, 0x1f, 0xcb, 0x79, 0xe6, 0x4e,
    0xcc, 0xc0, 0xe5, 0x78, 0x82, 0x5a, 0xd0, 0x7d, 0xcc, 0xff, 0x72, 0x21,
    0xb8, 0x08, 0x46, 0x74, 0xf7, 0x43, 0x24, 0x8e, 0xe0, 0x35, 0x90, 0xe6,
    0x81, 0x3a, 0x26, 0x4c, 0x3c, 0x28, 0x52, 0xbb, 0x91, 0xc3, 0x00, 0xcb,
    0x88, 0xd0, 0x65, 0x8b, 0x1b, 0x53, 0x2e, 0xa3, 0x71, 0x64, 0x48, 0x97,
    0xa2, 0x0d, 0xf9, 0x4e, 0x38, 0x19, 0xef, 0x46, 0xa9, 0xde, 0xac, 0xd8,
    0xa8, 0xfa, 0x76, 0x3f, 0xe3, 0x9c, 0x34, 0x3f, 0xf9, 0xdc, 0xbb, 0xc7,
    0xc7, 0x0b, 0x4f, 0x1d, 0x8a, 0x51, 0xe0, 0x4b, 0xcd, 0xb4, 0x59, 0x31,
    0xc8, 0x9f, 0x7e, 0xc9, 0xd9, 0x78, 0x73, 0x64, 0xea, 0xc5, 0xac, 0x83,
    0x34, 0xd3, 0xeb, 0xc3, 0xc5, 0x81, 0xa0, 0xff, 0xfa, 0x13, 0x63, 0xeb,
    0x17, 0x0d, 0xdd, 0x51, 0xb7, 0xf0, 0xda, 0x49, 0xd3, 0x16, 0x55, 0x26,
    0x29, 0xd4, 0x68, 0x9e, 0x2b, 0x16, 0xbe, 0x58, 0x7d, 0x47, 0xa1, 0xfc,
    0x8f, 0xf8, 0xb8, 0xd1, 0x7a, 0xd0, 0x31, 0xce, 0x45, 0xcb, 0x3a, 0x8f,
    0x95, 0x16, 0x04, 0x28, 0xaf, 0xd7, 0xfb, 0xca, 0xbb, 0x4b, 0x40, 0x7e,
};

static inline uint64_t rd64(const uint8_t *p) {
    uint64_t v;
    memcpy(&v, p, 8);
    return v;
}

static inline uint32_t rd32(const uint8_t *p) {
    uint32_t v;
    memcpy(&v, p, 4);
    return v;
}

static inline uint64_t rotl64(uint64_t x, int r) {
    return (x << r) | (x >> (64 - r));
}

static inline uint64_t mul128_fold64(uint64_t a, uint64_t b) {
    __uint128_t p = (__uint128_t)a * b;
    return (uint64_t)p ^ (uint64_t)(p >> 64);
}

static inline uint64_t xxh64_avalanche(uint64_t h) {
    h ^= h >> 33;
    h *= PRIME64_2;
    h ^= h >> 29;
    h *= PRIME64_3;
    return h ^ (h >> 32);
}

static inline uint64_t xxh3_avalanche(uint64_t h) {
    h ^= h >> 37;
    h *= PRIME_MX1;
    return h ^ (h >> 32);
}

static inline uint64_t rrmxmx(uint64_t h, uint64_t len) {
    h ^= rotl64(h, 49) ^ rotl64(h, 24);
    h *= PRIME_MX2;
    h ^= (h >> 35) + len;
    h *= PRIME_MX2;
    return h ^ (h >> 28);
}

static inline uint64_t mix16b(const uint8_t *p, const uint8_t *s,
                              uint64_t seed) {
    return mul128_fold64(rd64(p) ^ (rd64(s) + seed),
                         rd64(p + 8) ^ (rd64(s + 8) - seed));
}

static uint64_t len_0to16(const uint8_t *p, size_t n, uint64_t seed) {
    const uint8_t *s = kSecret;
    if (n > 8) {
        uint64_t lo = rd64(p) ^ ((rd64(s + 24) ^ rd64(s + 32)) + seed);
        uint64_t hi = rd64(p + n - 8) ^ ((rd64(s + 40) ^ rd64(s + 48)) - seed);
        uint64_t acc = n + __builtin_bswap64(lo) + hi + mul128_fold64(lo, hi);
        return xxh3_avalanche(acc);
    }
    if (n >= 4) {
        seed ^= (uint64_t)__builtin_bswap32((uint32_t)seed) << 32;
        uint64_t in1 = rd32(p), in2 = rd32(p + n - 4);
        uint64_t bitflip = (rd64(s + 8) ^ rd64(s + 16)) - seed;
        return rrmxmx((in2 + (in1 << 32)) ^ bitflip, n);
    }
    if (n) {
        uint32_t combined = ((uint32_t)p[0] << 16) | ((uint32_t)p[n >> 1] << 24) |
                            (uint32_t)p[n - 1] | ((uint32_t)n << 8);
        uint64_t bitflip = (uint64_t)(rd32(s) ^ rd32(s + 4)) + seed;
        return xxh64_avalanche((uint64_t)combined ^ bitflip);
    }
    return xxh64_avalanche(seed ^ rd64(s + 56) ^ rd64(s + 64));
}

static uint64_t len_17to128(const uint8_t *p, size_t n, uint64_t seed) {
    const uint8_t *s = kSecret;
    uint64_t acc = n * PRIME64_1;
    if (n > 32) {
        if (n > 64) {
            if (n > 96) {
                acc += mix16b(p + 48, s + 96, seed);
                acc += mix16b(p + n - 64, s + 112, seed);
            }
            acc += mix16b(p + 32, s + 64, seed);
            acc += mix16b(p + n - 48, s + 80, seed);
        }
        acc += mix16b(p + 16, s + 32, seed);
        acc += mix16b(p + n - 32, s + 48, seed);
    }
    acc += mix16b(p, s, seed);
    acc += mix16b(p + n - 16, s + 16, seed);
    return xxh3_avalanche(acc);
}

static uint64_t len_129to240(const uint8_t *p, size_t n, uint64_t seed) {
    const uint8_t *s = kSecret;
    uint64_t acc = n * PRIME64_1;
    size_t rounds = n / 16;
    for (size_t i = 0; i < 8; i++) acc += mix16b(p + 16 * i, s + 16 * i, seed);
    acc = xxh3_avalanche(acc);
    for (size_t i = 8; i < rounds; i++)
        acc += mix16b(p + 16 * i, s + 16 * (i - 8) + 3, seed);
    acc += mix16b(p + n - 16, s + 136 - 17, seed);
    return xxh3_avalanche(acc);
}

static inline void accumulate_512(uint64_t *acc, const uint8_t *p,
                                  const uint8_t *s) {
    for (int i = 0; i < 8; i++) {
        uint64_t v = rd64(p + 8 * i);
        uint64_t k = v ^ rd64(s + 8 * i);
        acc[i ^ 1] += v;
        acc[i] += (k & 0xFFFFFFFFULL) * (k >> 32);
    }
}

static inline void scramble_acc(uint64_t *acc, const uint8_t *s) {
    for (int i = 0; i < 8; i++) {
        acc[i] ^= acc[i] >> 47;
        acc[i] ^= rd64(s + 8 * i);
        acc[i] *= PRIME32_1;
    }
}

static uint64_t len_long(const uint8_t *p, size_t n, uint64_t seed) {
    uint8_t custom[SECRET_SIZE];
    const uint8_t *s = kSecret;
    if (seed) {
        for (int i = 0; i < SECRET_SIZE / 16; i++) {
            uint64_t lo = rd64(kSecret + 16 * i) + seed;
            uint64_t hi = rd64(kSecret + 16 * i + 8) - seed;
            memcpy(custom + 16 * i, &lo, 8);
            memcpy(custom + 16 * i + 8, &hi, 8);
        }
        s = custom;
    }
    uint64_t acc[8] = {PRIME32_3, PRIME64_1, PRIME64_2, PRIME64_3,
                       PRIME64_4, PRIME32_2, PRIME64_5, PRIME32_1};
    const size_t stripes_per_block = (SECRET_SIZE - STRIPE_LEN) / SECRET_CONSUME_RATE;
    const size_t block_len = STRIPE_LEN * stripes_per_block;
    const size_t blocks = (n - 1) / block_len;
    for (size_t b = 0; b < blocks; b++) {
        for (size_t k = 0; k < stripes_per_block; k++)
            accumulate_512(acc, p + b * block_len + k * STRIPE_LEN,
                           s + k * SECRET_CONSUME_RATE);
        scramble_acc(acc, s + SECRET_SIZE - STRIPE_LEN);
    }
    const size_t stripes = ((n - 1) - block_len * blocks) / STRIPE_LEN;
    for (size_t k = 0; k < stripes; k++)
        accumulate_512(acc, p + blocks * block_len + k * STRIPE_LEN,
                       s + k * SECRET_CONSUME_RATE);
    accumulate_512(acc, p + n - STRIPE_LEN, s + SECRET_SIZE - STRIPE_LEN - 7);
    uint64_t result = n * PRIME64_1;
    for (int i = 0; i < 4; i++)
        result += mul128_fold64(acc[2 * i] ^ rd64(s + 11 + 16 * i),
                                acc[2 * i + 1] ^ rd64(s + 11 + 16 * i + 8));
    return xxh3_avalanche(result);
}

static inline uint64_t xxh3_64(const uint8_t *p, size_t n, uint64_t seed) {
    if (n <= 16) return len_0to16(p, n, seed);
    if (n <= 128) return len_17to128(p, n, seed);
    if (n <= 240) return len_129to240(p, n, seed);
    return len_long(p, n, seed);
}

/* out[i] = xxh3_64(buf[offsets[i]:offsets[i+1]], seed) for i < n. */
void xxh3_64_batch(const uint8_t *buf, const int64_t *offsets, int64_t n,
                   uint64_t seed, uint64_t *out) {
    for (int64_t i = 0; i < n; i++)
        out[i] = xxh3_64(buf + offsets[i], (size_t)(offsets[i + 1] - offsets[i]),
                         seed);
}

/* ---- MinHash signature + band keys ---------------------------------- */

typedef struct {
    uint64_t seed;
    int hash_bits; /* 64 or 32 */
    const uint64_t *a, *b;
    int64_t bands, rows, m; /* m = bands * rows permutations used */
    uint64_t *sig;          /* m running minima */
} sig_state;

static inline void sig_reset(sig_state *st) {
    for (int64_t j = 0; j < st->m; j++) st->sig[j] = MAX_HASH;
}

static inline void sig_add(sig_state *st, const uint8_t *p, size_t n) {
    const uint64_t h = xxh3_64(p, n, st->seed) & 0xFFFFFFFFULL;
    const uint64_t *a = st->a, *b = st->b;
    uint64_t *sig = st->sig;
    const int64_t m = st->m;
    if (st->hash_bits == 64) {
        for (int64_t j = 0; j < m; j++) {
            uint64_t x = h * a[j] + b[j];
            x = (x & MERSENNE_61) + (x >> 61); /* 2^61 = 1 (mod P) */
            x = x >= MERSENNE_61 ? x - MERSENNE_61 : x;
            x &= MAX_HASH;
            sig[j] = x < sig[j] ? x : sig[j];
        }
    } else {
        const uint32_t h32 = (uint32_t)h;
        for (int64_t j = 0; j < m; j++) {
            uint64_t x = (uint32_t)(h32 * (uint32_t)a[j] + (uint32_t)b[j]) % PRIME_32;
            sig[j] = x < sig[j] ? x : sig[j];
        }
    }
}

static inline void sig_bands(const sig_state *st, int64_t *out) {
    for (int64_t i = 0; i < st->bands; i++) {
        uint64_t key = 0;
        for (int64_t k = 0; k < st->rows; k++)
            key = key * BAND_MIX_MULT + st->sig[i * st->rows + k];
        out[i] = (int64_t)key;
    }
}

/* [0-9A-Za-z_]: over ASCII, exactly the Unicode \w of the reference's
 * regex tokenizer (tokenization.py) */
static inline int ascii_word(uint8_t c) {
    return (c >= '0' && c <= '9') || (c >= 'a' && c <= 'z') ||
           (c >= 'A' && c <= 'Z') || c == '_';
}

/* Tokenize raw ASCII text p[0:len) the way tokenization.joined_tokens does
 * (lowercase, split on non-word bytes, drop empty tokens, join with single
 * spaces) into out, which must hold len bytes; returns the bytes written. */
static size_t ascii_join_tokens(const uint8_t *p, size_t len, uint8_t *out) {
    size_t o = 0;
    for (size_t i = 0; i < len;) {
        while (i < len && !ascii_word(p[i])) i++;
        if (i == len) break;
        if (o) out[o++] = ' ';
        for (; i < len && ascii_word(p[i]); i++)
            out[o++] = (p[i] >= 'A' && p[i] <= 'Z') ? p[i] | 0x20 : p[i];
    }
    return o;
}

/* One doc's band keys from its space-joined token buffer p[0:len). */
static void doc_bands(sig_state *st, const uint8_t *p, size_t len,
                      int64_t ngram, int64_t min_length, size_t *ring,
                      int64_t *out, uint8_t *valid) {
    size_t first = len, last = 0; /* [first, last): tokens, trimmed */
    int64_t n_tok = 0;
    for (size_t i = 0; i < len;) {
        while (i < len && p[i] == ' ') i++;
        if (i == len) break;
        if (!n_tok) first = i;
        while (i < len && p[i] != ' ') i++;
        last = i;
        n_tok++;
    }
    if (n_tok < min_length) {
        *valid = 0;
        memset(out, 0, sizeof(int64_t) * (size_t)st->bands);
        return;
    }
    *valid = 1;
    sig_reset(st);
    if (ngram <= 0) {
        /* no shingles: the all-max signature */
    } else if (n_tok < ngram) {
        /* one shingle: the whole doc (b"" when it has no tokens) */
        sig_add(st, p + (n_tok ? first : 0), n_tok ? last - first : 0);
    } else {
        int64_t t = 0, slot = 0;
        for (size_t i = first; i < last;) {
            while (p[i] == ' ') i++;
            ring[slot] = i;
            while (i < last && p[i] != ' ') i++;
            if (++slot == ngram) slot = 0;
            /* ring[slot] now holds the start of token t - ngram + 1 */
            if (++t >= ngram) sig_add(st, p + ring[slot], i - ring[slot]);
        }
    }
    sig_bands(st, out);
}

/* Band keys straight from token buffers. Doc d is buf[doc_off[d]:
 * doc_off[d+1]]. When ascii[d] is nonzero it is raw ASCII text, tokenized
 * here by ascii_join_tokens; otherwise it is already its tokens separated
 * by 0x20 (tokens never contain 0x20; leading/trailing/repeated spaces are
 * tolerated, but n-grams are taken as contiguous byte ranges, so tokens
 * must be separated by exactly one space). Reference shingling
 * (tokenization.ngrams): a doc with fewer than min_length tokens gets
 * valid[d] = 0 and no keys; fewer than ngram tokens gives ONE shingle, all
 * tokens joined (b"" for an empty doc); otherwise every run of ngram
 * consecutive tokens; ngram <= 0 gives no shingles. out is
 * int64[n_docs * bands]. Returns 0, or -1 on allocation failure. */
int minhash_bands(const uint8_t *buf, const int64_t *doc_off,
                  const uint8_t *ascii, int64_t n_docs, int64_t ngram,
                  int64_t min_length, uint64_t seed, int hash_bits,
                  const uint64_t *a, const uint64_t *b, int64_t bands,
                  int64_t rows, int64_t *out, uint8_t *valid) {
    sig_state st = {seed, hash_bits, a, b, bands, rows, bands * rows, NULL};
    size_t scratch_len = 1;
    for (int64_t d = 0; d < n_docs; d++) {
        const size_t len = (size_t)(doc_off[d + 1] - doc_off[d]);
        if (ascii[d] && len > scratch_len) scratch_len = len;
    }
    st.sig = malloc(sizeof(uint64_t) * (size_t)(st.m ? st.m : 1));
    size_t *ring = malloc(sizeof(size_t) * (size_t)(ngram > 0 ? ngram : 1));
    uint8_t *scratch = malloc(scratch_len);
    if (!st.sig || !ring || !scratch) {
        free(st.sig);
        free(ring);
        free(scratch);
        return -1;
    }
    for (int64_t d = 0; d < n_docs; d++) {
        const uint8_t *p = buf + doc_off[d];
        size_t len = (size_t)(doc_off[d + 1] - doc_off[d]);
        if (ascii[d]) {
            len = ascii_join_tokens(p, len, scratch);
            p = scratch;
        }
        doc_bands(&st, p, len, ngram, min_length, ring, out + d * bands, valid + d);
    }
    free(st.sig);
    free(ring);
    free(scratch);
    return 0;
}

/* Band keys from pre-built shingles: shingle k is buf[item_off[k]:
 * item_off[k+1]], doc d owns shingles doc_items[d] .. doc_items[d+1]-1 (an
 * empty doc gets the all-max signature). out is int64[n_docs * bands].
 * Returns 0, or -1 on allocation failure. */
int minhash_bands_items(const uint8_t *buf, const int64_t *item_off,
                        const int64_t *doc_items, int64_t n_docs,
                        uint64_t seed, int hash_bits, const uint64_t *a,
                        const uint64_t *b, int64_t bands, int64_t rows,
                        int64_t *out) {
    sig_state st = {seed, hash_bits, a, b, bands, rows, bands * rows, NULL};
    st.sig = malloc(sizeof(uint64_t) * (size_t)(st.m ? st.m : 1));
    if (!st.sig) return -1;
    for (int64_t d = 0; d < n_docs; d++) {
        sig_reset(&st);
        for (int64_t k = doc_items[d]; k < doc_items[d + 1]; k++)
            sig_add(&st, buf + item_off[k], (size_t)(item_off[k + 1] - item_off[k]));
        sig_bands(&st, out + d * bands);
    }
    free(st.sig);
    return 0;
}

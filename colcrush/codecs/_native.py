"""Optional C acceleration for the codec hot loops.

The numpy/stdlib code in fsst.py, intcodec.py, bitpack.py and bloom.py
is the canonical, always-available path; this module compiles (with
the system C compiler, if present) kernels for their inner loops and
exposes them via ctypes. Each caller chooses C or numpy inside small
per-kernel dispatchers; the payload formats around them are written
once. Every kernel implements EXACTLY the semantics of its numpy twin
(training counts == full recount of the shrinking sample; greedy
encode == longest-match, fixed candidate order), so encoded bytes are
identical whichever path runs; the parity tests and the format goldens
(run with every kernel on and off) pin this.

No third-party installs: the C source is embedded here (so it travels
inside the --py-files zip to every executor), compiled once per host
into a content-addressed .so under a per-user temp dir, and loaded
with ctypes after an ownership check. Any failure (no compiler,
sandboxed tmp, exotic platform, a refused .so) falls back to numpy
with one RuntimeWarning per process naming the cause, since that path
is much slower on text. COLCRUSH_NATIVE=0 chooses it without a warning.
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import subprocess
import tempfile
import warnings

import numpy as np

from colcrush._userdir import user_dir

_SRC = r"""
#include <stdlib.h>
#include <string.h>

/* Mark which byte values occur in `in` (free-code detection). */
void colcrush_presence(const unsigned char *in, long n, unsigned char *out) {
    for (long i = 0; i < n; i++)
        out[in[i]] = 1;
}

/* Greedy longest-match encode: at each position try the candidate
   symbols whose expansion starts with the next two bytes (chained via
   head/nxt in global order = length desc, expansion bytes asc), emit
   the first (= longest) full match's 1-byte code and skip its length,
   else emit the literal byte. Codes are byte values absent from the
   original corpus, so literals never collide and no escaping is
   needed. Identical semantics to the Python re-alternation fallback.
   Returns output length (<= n: every token maps >=1 input byte to
   exactly 1 output byte). */
long colcrush_compress_greedy(const unsigned char *in, long n,
                              const unsigned char *exps, const long *starts,
                              const long *lens, const unsigned char *codes,
                              const int *head, const int *nxt,
                              unsigned char *out) {
    long i = 0, o = 0;
    while (i + 1 < n) {
        unsigned pair = ((unsigned)in[i] << 8) | in[i + 1];
        int s = head[pair];
        while (s >= 0) {
            long L = lens[s];
            if (L <= n - i &&
                (L == 2 ||
                 memcmp(in + i + 2, exps + starts[s] + 2, (size_t)(L - 2)) == 0)) {
                out[o++] = codes[s];
                i += L;
                break;
            }
            s = nxt[s];
        }
        if (s < 0)
            out[o++] = in[i++];
    }
    if (i < n)
        out[o++] = in[i];
    return o;
}

/* Batched BPE training. Pair counts are built ONCE before the loop
   and maintained INCREMENTALLY by every replace pass (the junction-
   flip deltas below — provably equal to recounting the new buffer, as
   the recount-based numpy fallback pins). Per round: select up to bs
   mutually ALPHABET-DISJOINT top pairs from the maintained counts
   (count desc, pair value asc on ties, thresholds as before) and
   replace them all in a single L2R pass via a 65536-entry pair->code
   map. bs escalates 1,2,4,... up to batch_max so the earliest (most
   valuable) merges still chain depth-first — long repeated runs keep
   collapsing exponentially — while total rounds drop from max_symbols
   to ~log2(batch_max) + max_symbols/batch_max (measured ~6x less
   sample scanning on source text). batch_max is clamped to 64 (the
   set_pairs capacity) — keep fsst._TRAIN_BATCH_MAX within that.

   Correctness of the batch: for pairs with pairwise-disjoint byte
   sets, no position can belong to occurrences of two selected pairs
   (a 2-gram overlap would need a shared byte value), and replacing
   one pair neither creates nor destroys occurrences of another (the
   fresh code byte is absent from every pair; removal places the code
   BETWEEN the former neighbors). Hence the single-pass replace equals
   applying the selected pairs sequentially in any order — the numpy
   fallback applies them with sequential bytes.replace and must
   produce the byte-identical table and residual. */
static int colcrush_cand_cmp(const void *a, const void *b) {
    const long *pa = (const long *)a, *pb = (const long *)b;
    /* packed as (count << 17) | pair; sort desc by count, asc by pair */
    long ca = pa[0] >> 17, cb = pb[0] >> 17;
    if (ca != cb) return (ca < cb) ? 1 : -1;
    long qa = pa[0] & 0x1FFFF, qb = pb[0] & 0x1FFFF;
    return (qa > qb) ? 1 : (qa < qb) ? -1 : 0;
}

/* Increment a pair counter, recording first-ever-nonzero pairs in the
   touched list. The candidate scan then iterates ONLY touched pairs
   instead of all 65536 counters each round — for small shard samples
   the full scan was ~90% of training time (measured: ~2.5 ms fixed
   cost per train regardless of sample size). EXACTLY equivalent: a
   candidate needs count >= floor_count >= 1, every pair whose count
   was ever incremented is in the list (decrements can't create
   candidates), the bitmap keeps entries unique, and qsort's total
   order (count desc, pair asc; pairs unique) is scan-order-independent
   — so selection, table, and residual stay byte-identical. */
#define COLCRUSH_TOUCH(p) do { \
        if (!(seenbm[(p) >> 3] & (unsigned char)(1u << ((p) & 7)))) { \
            seenbm[(p) >> 3] |= (unsigned char)(1u << ((p) & 7)); \
            touched[ntouched++] = (unsigned short)(p); \
        } \
        counts[p]++; \
    } while (0)

long colcrush_train(unsigned char *buf, long *pn, const unsigned char *free_codes,
                    long n_free, long floor_count, double scale,
                    long min_gain, long max_symbols, long batch_max,
                    int *counts, unsigned char *out_table) {
    long n = *pn;
    long nsym = 0;
    long round = 0;
    /* Per-round selected-pair lookup. Alphabet-disjointness guarantees
       each byte value is the FIRST byte of at most one selected pair,
       so three 256-byte tables (L1-resident) replace the earlier
       128 KiB pair->code map whose lookups missed L1 on every active
       byte — the replace pass is the byte-proportional bulk of
       training time. */
    unsigned char active[256];    /* is byte the FIRST of a selected pair */
    unsigned char second_of[256]; /* that pair's second byte */
    unsigned char code_of[256];   /* that pair's replacement code */
    long set_pairs[64];
    if (batch_max > 64) /* hard bound: set_pairs capacity */
        batch_max = 64;
    long cand[65536];          /* 512 KiB */
    unsigned short touched[65536]; /* 128 KiB: pairs ever counted */
    unsigned char seenbm[8192];    /* 8 KiB bitmap over pair ids */
    long ntouched = 0;         /* ~780 KiB stack total — well under worker caps */
    memset(counts, 0, 65536 * sizeof(int));
    memset(seenbm, 0, sizeof(seenbm));
    for (long i = 0; i + 1 < n; i++) {
        long p0 = ((unsigned)buf[i] << 8) | buf[i + 1];
        COLCRUSH_TOUCH(p0);
    }
    memset(active, 0, sizeof(active)); /* second_of/code_of gated by active */
    while (nsym < max_symbols && nsym < n_free && n >= 2) {
        long bs = (round < 16) ? (1L << round) : batch_max;
        if (bs > batch_max) bs = batch_max;
        if (bs > max_symbols - nsym) bs = max_symbols - nsym;
        if (bs > n_free - nsym) bs = n_free - nsym;
        long nc = 0;
        for (long t = 0; t < ntouched; t++) {
            long p = touched[t];
            long c2 = counts[p];
            if (c2 >= floor_count && (double)c2 * scale >= (double)(min_gain + 3))
                cand[nc++] = (c2 << 17) | p; /* count < 2^31, pair < 2^17 */
        }
        if (nc == 0)
            break;
        qsort(cand, (size_t)nc, sizeof(long), colcrush_cand_cmp);
        unsigned char used[256];
        memset(used, 0, 256);
        long nb = 0;
        for (long k = 0; k < nc && nb < bs; k++) {
            long p = cand[k] & 0x1FFFF;
            unsigned char x = (unsigned char)(p >> 8), y = (unsigned char)(p & 0xFF);
            if (used[x] || used[y])
                continue;
            unsigned char c = free_codes[nsym + nb];
            used[x] = 1;
            used[y] = 1;
            active[x] = 1;
            second_of[x] = y;
            code_of[x] = c;
            set_pairs[nb] = p;
            out_table[(nsym + nb) * 3] = c;
            out_table[(nsym + nb) * 3 + 1] = x;
            out_table[(nsym + nb) * 3 + 2] = y;
            nb++;
        }
        if (nb == 0)
            break;
        /* single-pass replace with INCREMENTAL count maintenance —
           the old kernel's junction-flip scheme generalized to multi-
           pair tokens: each old adjacency is removed exactly once
           (internal (x,y) of a replacement, or the junction preceding
           the next token), each new adjacency added exactly once (the
           junction (last_out, first_out) of the next token), which is
           provably a full recount of the new buffer. prev_old = old-
           buffer byte just before position i; last = previous OUTPUT
           byte. The active[] test keeps the common no-match path to
           one L1 lookup per byte. */
        long o = 0, i = 0;
        int prev_old = -1, last = -1;
        while (i + 1 < n) {
            unsigned char b0 = buf[i];
            /* used[]-disjointness: b0 starts at most ONE selected pair,
               so a second-byte compare replaces the old 128 KiB
               pair->code map lookup (L1 hit instead of L2 miss on
               every active byte) */
            short m = (active[b0] && buf[i + 1] == second_of[b0])
                          ? (short)code_of[b0]
                          : -1;
            if (m >= 0) {
                unsigned char y2 = buf[i + 1];
                if (prev_old >= 0) {
                    long pj;
                    counts[((unsigned)prev_old << 8) | b0]--;
                    pj = ((unsigned)last << 8) | (unsigned)m;
                    COLCRUSH_TOUCH(pj);
                }
                counts[((unsigned)b0 << 8) | y2]--;
                buf[o++] = (unsigned char)m;
                prev_old = y2;
                last = m;
                i += 2;
            } else {
                if (prev_old >= 0 && prev_old != last) {
                    long pj;
                    counts[((unsigned)prev_old << 8) | b0]--;
                    pj = ((unsigned)last << 8) | b0;
                    COLCRUSH_TOUCH(pj);
                }
                buf[o++] = b0;
                prev_old = b0;
                last = b0;
                i++;
            }
        }
        if (i < n) {
            unsigned char b0 = buf[i];
            if (prev_old >= 0 && prev_old != last) {
                long pj;
                counts[((unsigned)prev_old << 8) | b0]--;
                pj = ((unsigned)last << 8) | b0;
                COLCRUSH_TOUCH(pj);
            }
            buf[o++] = b0;
        }
        n = o;
        nsym += nb;
        round++;
        for (long k = 0; k < nb; k++) /* clear this round's active set */
            active[(set_pairs[k] >> 8) & 0xFF] = 0;
    }
    *pn = n;
    return nsym;
}

/* LSB-first bit packing: bit k of value i lands at stream bit i*w+k,
   bytes filled little-endian — byte-identical to the numpy
   packbits(bitorder='little') path. Each value is masked to the low
   w bits (w <= 56 caller-gated), matching numpy's implicit truncation
   of out-of-range inputs — an unmasked OR would corrupt every
   subsequent packed value. */
void colcrush_pack_bits(const unsigned long long *v, long n, int w,
                        unsigned char *out) {
    unsigned long long acc = 0;
    unsigned long long mask = (1ULL << w) - 1;
    int nb = 0;
    long o = 0;
    for (long i = 0; i < n; i++) {
        acc |= (v[i] & mask) << nb;
        nb += w;
        while (nb >= 8) {
            out[o++] = (unsigned char)(acc & 0xFF);
            acc >>= 8;
            nb -= 8;
        }
    }
    if (nb > 0)
        out[o++] = (unsigned char)(acc & 0xFF);
}

void colcrush_unpack_bits(const unsigned char *in, long n, int w,
                          unsigned long long *out) {
    unsigned long long acc = 0;
    int nb = 0;
    long ip = 0;
    unsigned long long mask = (w == 64) ? ~0ULL : ((1ULL << w) - 1);
    for (long i = 0; i < n; i++) {
        while (nb < w) {
            acc |= (unsigned long long)in[ip++] << nb;
            nb += 8;
        }
        out[i] = acc & mask;
        acc >>= w;
        nb -= w;
    }
}

/* Full greedy compress straight from the raw (code, x, y) table:
   derives every code's byte expansion, orders candidates by (length
   desc, expansion bytes asc) with the FIRST table entry winning among
   duplicate expansions, builds the first-2-bytes bucket chains, and
   runs the greedy longest-match encode — one call replacing the
   Python candidate prep in fsst.compress (which cost ~2x the match
   loop itself at real chunk sizes). Selection/tie-break semantics are
   exactly _match_symbols + compress_greedy, so output bytes are
   identical (pinned by the native-vs-fallback compress parity test).
   Insertion sort over <= 248 candidates is deterministic and
   comparator-stateful without qsort_r. Returns the output length, or
   -1 on a pathological expansion blow-up / malloc failure (caller
   falls back to the Python prep). */
long colcrush_compress_table(const unsigned char *in, long n,
                             const unsigned char *tcodes,
                             const unsigned char *txs,
                             const unsigned char *tys, long nt,
                             unsigned char *out) {
    long off[256], len[256];
    for (int v = 0; v < 256; v++) {
        off[v] = -1; /* identity: the byte itself */
        len[v] = 1;
    }
    long total = 0;
    for (long t = 0; t < nt; t++) {
        long L = len[txs[t]] + len[tys[t]];
        len[tcodes[t]] = L;
        total += L;
        if (total > (64L << 20))
            return -1; /* runaway recursive expansion: python path */
    }
    unsigned char *arena = (unsigned char *)malloc((size_t)(total ? total : 1));
    if (!arena)
        return -1;
    /* second pass: fill expansions in table order (x/y expansions are
       already final: earlier codes resolved, plain bytes identity) */
    for (int v = 0; v < 256; v++) {
        off[v] = -1;
        len[v] = 1;
    }
    long pos = 0;
    for (long t = 0; t < nt; t++) {
        unsigned char x = txs[t], y = tys[t], c = tcodes[t];
        long lx = len[x], ly = len[y];
        if (off[x] >= 0)
            memcpy(arena + pos, arena + off[x], (size_t)lx);
        else
            arena[pos] = x;
        if (off[y] >= 0)
            memcpy(arena + pos + lx, arena + off[y], (size_t)ly);
        else
            arena[pos + lx] = y;
        off[c] = pos;
        len[c] = lx + ly;
        pos += lx + ly;
    }
    /* candidate list in table order, dropping duplicate expansions
       (first occurrence kept — same as the seen-dict in python) */
    long cand_off[256], cand_len[256];
    unsigned char cand_code[256];
    long ncand = 0;
    for (long t = 0; t < nt; t++) {
        unsigned char c = tcodes[t];
        long lo = off[c], ll = len[c];
        int dup = 0;
        for (long k = 0; k < ncand; k++)
            if (cand_len[k] == ll &&
                memcmp(arena + cand_off[k], arena + lo, (size_t)ll) == 0) {
                dup = 1;
                break;
            }
        if (!dup) {
            cand_off[ncand] = lo;
            cand_len[ncand] = ll;
            cand_code[ncand] = c;
            ncand++;
        }
    }
    /* insertion sort: length desc, expansion bytes asc (expansions are
       unique after dedup, so the order is total and deterministic) */
    for (long i = 1; i < ncand; i++) {
        long co = cand_off[i], cl = cand_len[i];
        unsigned char cc = cand_code[i];
        long j = i - 1;
        while (j >= 0) {
            long cmp;
            if (cand_len[j] != cl)
                cmp = (cand_len[j] < cl) ? 1 : -1; /* longer first */
            else {
                long m = memcmp(arena + cand_off[j], arena + co, (size_t)cl);
                cmp = (m > 0) ? 1 : (m < 0) ? -1 : 0;
            }
            if (cmp <= 0)
                break;
            cand_off[j + 1] = cand_off[j];
            cand_len[j + 1] = cand_len[j];
            cand_code[j + 1] = cand_code[j];
            j--;
        }
        cand_off[j + 1] = co;
        cand_len[j + 1] = cl;
        cand_code[j + 1] = cc;
    }
    /* first-2-bytes bucket chains in global sorted order (chain walk
       is front-to-back, so longest-match order is preserved) */
    int head[65536];
    int nxt[256];
    for (long p = 0; p < 65536; p++)
        head[p] = -1;
    for (long k = 0; k < ncand; k++)
        nxt[k] = -1;
    for (long k = 0; k < ncand; k++) {
        const unsigned char *e = arena + cand_off[k];
        long p = ((long)e[0] << 8) | e[1];
        if (head[p] < 0)
            head[p] = (int)k;
        else {
            int q = head[p];
            while (nxt[q] >= 0)
                q = nxt[q];
            nxt[q] = (int)k;
        }
    }
    long o = colcrush_compress_greedy(in, n, arena, cand_off, cand_len,
                                      cand_code, head, nxt, out);
    free(arena);
    return o;
}

/* One-pass int64 stats for integer-codec selection: min, max, the
   UNSIGNED min/max of the zigzagged wrapping deltas, and the run
   count — exact mirrors of the numpy formulas in intcodec.py
   (zigzag(d) = (u << 1) ^ (d >> 63) on the mod-2^64 diff; a run
   boundary is v[i] != v[i-1], identical to d != 0). out layout:
   [0]=min, [1]=max, [2]=zzmin (u64 bits), [3]=zzmax (u64 bits),
   [4]=n_runs. For n == 1 the delta slots are 0 and n_runs = 1; the
   caller gates delta selection on n >= 2. Replaces ~6 numpy array
   passes (min, max, diff, zigzag, zz.min, zz.max, d != 0) with one
   cache-friendly sweep — encode_ints_best runs once per chunk-column
   payload (string lengths, dict indices, run bodies), so per-call
   overhead is the hot cost at real chunk sizes. */
void colcrush_int_stats(const long long *v, long n, long long *out) {
    long long mn = v[0], mx = v[0];
    unsigned long long zmn = ~0ULL, zmx = 0;
    long runs = 1;
    for (long i = 1; i < n; i++) {
        long long x = v[i];
        if (x < mn) mn = x;
        if (x > mx) mx = x;
        unsigned long long ud =
            (unsigned long long)x - (unsigned long long)v[i - 1];
        unsigned long long zz =
            (ud << 1) ^ ((ud >> 63) ? ~0ULL : 0ULL);
        if (zz < zmn) zmn = zz;
        if (zz > zmx) zmx = zz;
        if (ud != 0) runs++;
    }
    out[0] = mn;
    out[1] = mx;
    out[2] = (n >= 2) ? (long long)zmn : 0;
    out[3] = (n >= 2) ? (long long)zmx : 0;
    out[4] = runs;
}

/* Change-point run extraction (n >= 1): fills run_values/run_lengths
   (caller sizes them via int_stats n_runs) and returns the run count.
   Mirrors the numpy flatnonzero(d != 0) construction exactly. */
long colcrush_extract_runs(const long long *v, long n, long long *rv,
                           long long *rl) {
    long r = 0, start = 0;
    for (long i = 1; i < n; i++) {
        if (v[i] != v[i - 1]) {
            rv[r] = v[start];
            rl[r] = i - start;
            r++;
            start = i;
        }
    }
    rv[r] = v[start];
    rl[r] = n - start;
    return r + 1;
}

/* Fused frame-of-reference pack: pack_bits((v - lo) as u64, w)
   without materializing the shifted temp. Same accumulator loop as
   colcrush_pack_bits (w <= 56 caller-gated), so bytes are identical
   to the two-step numpy/C path. */
void colcrush_pack_for(const long long *v, long n, long long lo, int w,
                       unsigned char *out) {
    unsigned long long acc = 0;
    unsigned long long mask = (1ULL << w) - 1;
    int nb = 0;
    long o = 0;
    for (long i = 0; i < n; i++) {
        unsigned long long u =
            (unsigned long long)v[i] - (unsigned long long)lo;
        acc |= (u & mask) << nb;
        nb += w;
        while (nb >= 8) {
            out[o++] = (unsigned char)(acc & 0xFF);
            acc >>= 8;
            nb -= 8;
        }
    }
    if (nb > 0)
        out[o++] = (unsigned char)(acc & 0xFF);
}

/* Fused zigzag-delta pack: pack_bits(zigzag(diff(v)) - zlo, w) for
   n >= 2, one pass, no diff/zigzag temps. Same wrapping/zigzag
   formulas as colcrush_int_stats; w <= 56 caller-gated. */
void colcrush_pack_deltas(const long long *v, long n,
                          unsigned long long zlo, int w,
                          unsigned char *out) {
    unsigned long long acc = 0;
    unsigned long long mask = (1ULL << w) - 1;
    int nb = 0;
    long o = 0;
    for (long i = 1; i < n; i++) {
        unsigned long long ud =
            (unsigned long long)v[i] - (unsigned long long)v[i - 1];
        unsigned long long zz =
            (ud << 1) ^ ((ud >> 63) ? ~0ULL : 0ULL);
        acc |= ((zz - zlo) & mask) << nb;
        nb += w;
        while (nb >= 8) {
            out[o++] = (unsigned char)(acc & 0xFF);
            acc >>= 8;
            nb -= 8;
        }
    }
    if (nb > 0)
        out[o++] = (unsigned char)(acc & 0xFF);
}

/* Decode: expand every byte through its precomputed recursive
   expansion (flat table + starts/lens). Returns output length. */
long colcrush_expand(const unsigned char *in, long n,
                     const unsigned char *flat, const long *starts,
                     const long *lens, unsigned char *out) {
    long o = 0;
    for (long i = 0; i < n; i++) {
        unsigned char b = in[i];
        long l = lens[b];
        memcpy(out + o, flat + starts[b], (size_t)l);
        o += l;
    }
    return o;
}

/* Decoded size of `in`: sum of each byte's expansion length. Replaces
   the numpy lens[a] gather + sum, which materialized an 8x-input int64
   temp just to size the output buffer. */
long colcrush_expand_total(const unsigned char *in, long n, const long *lens) {
    long t = 0;
    for (long i = 0; i < n; i++)
        t += lens[in[i]];
    return t;
}

/* Bloom polynomial hash of n concatenated values + murmur-style
   finalizer — EXACTLY bloom.hash_values' arithmetic (uint64 wraparound
   is mod-2^64 on both sides; fuzz-pinned equal). The numpy twin
   materializes four value-stream-sized temporaries (byte widening,
   per-byte position index, power gather, cumsum) just to segment-sum;
   here it is one pass, no allocations. */
void colcrush_bloom_hash(const unsigned char *blob, const long *lengths,
                         long n, const unsigned long long *pw,
                         unsigned long long *out) {
    const unsigned char *p = blob;
    for (long i = 0; i < n; i++) {
        long L = lengths[i];
        unsigned long long h = 0;
        for (long j = 0; j < L; j++)
            h += (unsigned long long)p[j] * pw[j];
        p += L;
        h += 0x9E3779B97F4A7C15ULL * (unsigned long long)L;
        h ^= h >> 33;
        h *= 0xFF51AFD7ED558CCDULL;
        h ^= h >> 33;
        out[i] = h;
    }
}

/* Double-hash bloom scatter: for each (already distinct) hash set the
   k probe bits (lo + j*hi) % m in an m-bit field stored as uint64
   word VALUES — bit b lives in word b>>6 as 1ULL<<(b&63), exactly the
   integer the numpy twin reads back via packbits(bitorder='little') +
   an explicit '<u8' view. Values, not bytes, cross the boundary, so
   the result is endian-independent. Replaces a per-chunk numpy chain
   (m-bool alloc, k*nd index broadcast, packbits, and a PYTHON loop
   over every word for the signed conversion). */
void colcrush_bloom_scatter(const unsigned long long *h, long nd, long m,
                            long k, unsigned long long *words) {
    for (long i = 0; i < nd; i++) {
        unsigned long long lo = h[i] & 0xFFFFFFFFULL;
        unsigned long long hi = (h[i] >> 32) | 1ULL;
        for (long j = 0; j < k; j++) {
            unsigned long long idx =
                (lo + (unsigned long long)j * hi) % (unsigned long long)m;
            words[idx >> 6] |= 1ULL << (idx & 63);
        }
    }
}
"""


class _Kernels:
    def __init__(self, lib: ctypes.CDLL):
        self._presence = lib.colcrush_presence
        self._presence.restype = None
        self._presence.argtypes = [ctypes.c_void_p, ctypes.c_long, ctypes.c_void_p]
        self._expand = lib.colcrush_expand
        self._expand.restype = ctypes.c_long
        self._expand.argtypes = [
            ctypes.c_void_p, ctypes.c_long, ctypes.c_void_p,
            ctypes.c_void_p, ctypes.c_void_p, ctypes.c_void_p,
        ]
        self._expand_total = lib.colcrush_expand_total
        self._expand_total.restype = ctypes.c_long
        self._expand_total.argtypes = [
            ctypes.c_void_p, ctypes.c_long, ctypes.c_void_p,
        ]
        self._pack = lib.colcrush_pack_bits
        self._pack.restype = None
        self._pack.argtypes = [
            ctypes.c_void_p, ctypes.c_long, ctypes.c_int, ctypes.c_void_p,
        ]
        self._unpack = lib.colcrush_unpack_bits
        self._unpack.restype = None
        self._unpack.argtypes = [
            ctypes.c_void_p, ctypes.c_long, ctypes.c_int, ctypes.c_void_p,
        ]
        self._train = lib.colcrush_train
        self._train.restype = ctypes.c_long
        self._train.argtypes = [
            ctypes.c_void_p, ctypes.POINTER(ctypes.c_long), ctypes.c_void_p,
            ctypes.c_long, ctypes.c_long, ctypes.c_double, ctypes.c_long,
            ctypes.c_long, ctypes.c_long, ctypes.c_void_p, ctypes.c_void_p,
        ]
        self._compress_table = lib.colcrush_compress_table
        self._compress_table.restype = ctypes.c_long
        self._compress_table.argtypes = [
            ctypes.c_void_p, ctypes.c_long, ctypes.c_void_p, ctypes.c_void_p,
            ctypes.c_void_p, ctypes.c_long, ctypes.c_void_p,
        ]
        self._int_stats = lib.colcrush_int_stats
        self._int_stats.restype = None
        self._int_stats.argtypes = [
            ctypes.c_void_p, ctypes.c_long, ctypes.c_void_p,
        ]
        self._extract_runs = lib.colcrush_extract_runs
        self._extract_runs.restype = ctypes.c_long
        self._extract_runs.argtypes = [
            ctypes.c_void_p, ctypes.c_long, ctypes.c_void_p, ctypes.c_void_p,
        ]
        self._pack_for = lib.colcrush_pack_for
        self._pack_for.restype = None
        self._pack_for.argtypes = [
            ctypes.c_void_p, ctypes.c_long, ctypes.c_longlong, ctypes.c_int,
            ctypes.c_void_p,
        ]
        self._pack_deltas = lib.colcrush_pack_deltas
        self._pack_deltas.restype = None
        self._pack_deltas.argtypes = [
            ctypes.c_void_p, ctypes.c_long, ctypes.c_ulonglong, ctypes.c_int,
            ctypes.c_void_p,
        ]
        self._bloom_hash = lib.colcrush_bloom_hash
        self._bloom_hash.restype = None
        self._bloom_hash.argtypes = [
            ctypes.c_void_p, ctypes.c_void_p, ctypes.c_long, ctypes.c_void_p,
            ctypes.c_void_p,
        ]
        self._bloom_scatter = lib.colcrush_bloom_scatter
        self._bloom_scatter.restype = None
        self._bloom_scatter.argtypes = [
            ctypes.c_void_p, ctypes.c_long, ctypes.c_long, ctypes.c_long,
            ctypes.c_void_p,
        ]

    def presence(self, data: bytes) -> np.ndarray:
        buf = np.frombuffer(data, dtype=np.uint8)
        out = np.zeros(256, dtype=np.uint8)
        self._presence(buf.ctypes.data, len(buf), out.ctypes.data)
        return out.astype(bool)

    def pack_bits(self, v: np.ndarray, width: int) -> bytes:
        # 64-bit accumulator: safe for width <= 56 (caller-gated)
        v = np.ascontiguousarray(v, dtype=np.uint64)
        out = np.empty((len(v) * width + 7) // 8, dtype=np.uint8)
        self._pack(v.ctypes.data, len(v), width, out.ctypes.data)
        return out.tobytes()

    def unpack_bits(self, data: bytes, width: int, n: int) -> np.ndarray:
        buf = np.frombuffer(data, dtype=np.uint8)
        out = np.empty(n, dtype=np.uint64)
        self._unpack(buf.ctypes.data, n, width, out.ctypes.data)
        return out

    def train(
        self,
        sample: bytes,
        free_codes: list[int],
        floor_count: int,
        scale: float,
        min_gain: int,
        max_symbols: int,
        batch_max: int,
    ) -> tuple[list[tuple[int, int, int]], bytes]:
        buf = np.frombuffer(sample, dtype=np.uint8).copy()
        free = np.array(free_codes, dtype=np.uint8)
        counts = np.empty(65536, dtype=np.int32)
        out = np.empty(3 * max(1, max_symbols), dtype=np.uint8)
        n = ctypes.c_long(len(buf))
        nsym = self._train(
            buf.ctypes.data, ctypes.byref(n), free.ctypes.data, len(free),
            floor_count, scale, min_gain, max_symbols, batch_max,
            counts.ctypes.data, out.ctypes.data,
        )
        table = [
            (int(out[i * 3]), int(out[i * 3 + 1]), int(out[i * 3 + 2]))
            for i in range(nsym)
        ]
        return table, buf[: n.value].tobytes()

    def expand(
        self,
        a: np.ndarray,
        flat: np.ndarray,
        starts: np.ndarray,
        lens: np.ndarray,
        total: int,
    ) -> np.ndarray:
        a = np.ascontiguousarray(a)
        out = np.empty(total, dtype=np.uint8)
        o = self._expand(
            a.ctypes.data, len(a), flat.ctypes.data,
            starts.ctypes.data, lens.ctypes.data, out.ctypes.data,
        )
        if o != total:
            raise RuntimeError(f"expand wrote {o} bytes, expected {total}")
        return out

    def expand_total(self, a: np.ndarray, lens: np.ndarray) -> int:
        a = np.ascontiguousarray(a)
        return int(self._expand_total(a.ctypes.data, len(a), lens.ctypes.data))

    def compress_table(
        self, corpus: bytes, table: list[tuple[int, int, int]]
    ) -> "bytes | None":
        """Greedy compress from the raw table in one C call; None when
        the expansions pass 64 MB or malloc fails (caller uses the re
        path)."""
        inb = np.frombuffer(corpus, dtype=np.uint8)
        t = np.array(table, dtype=np.uint8)  # (nt, 3): code, x, y
        codes = np.ascontiguousarray(t[:, 0])
        xs = np.ascontiguousarray(t[:, 1])
        ys = np.ascontiguousarray(t[:, 2])
        out = np.empty(len(inb), dtype=np.uint8)
        n = self._compress_table(
            inb.ctypes.data, len(inb), codes.ctypes.data, xs.ctypes.data,
            ys.ctypes.data, len(table), out.ctypes.data,
        )
        if n < 0:
            return None
        return out[:n].tobytes()

    def int_stats(self, v: np.ndarray) -> tuple[int, int, int, int, int]:
        """(min, max, zzmin, zzmax, n_runs) of a non-empty contiguous
        int64 array; zz values are the unsigned zigzagged-delta bounds
        returned as python ints."""
        out = np.empty(5, dtype=np.int64)
        self._int_stats(v.ctypes.data, len(v), out.ctypes.data)
        u = out.view(np.uint64)
        return int(out[0]), int(out[1]), int(u[2]), int(u[3]), int(out[4])

    def extract_runs(
        self, v: np.ndarray, n_runs: int
    ) -> tuple[np.ndarray, np.ndarray]:
        rv = np.empty(n_runs, dtype=np.int64)
        rl = np.empty(n_runs, dtype=np.int64)
        got = self._extract_runs(
            v.ctypes.data, len(v), rv.ctypes.data, rl.ctypes.data
        )
        if got != n_runs:
            raise RuntimeError(f"extract_runs found {got} runs, expected {n_runs}")
        return rv, rl

    def pack_for(self, v: np.ndarray, lo: int, width: int) -> bytes:
        out = np.empty((len(v) * width + 7) // 8, dtype=np.uint8)
        self._pack_for(v.ctypes.data, len(v), lo, width, out.ctypes.data)
        return out.tobytes()

    def pack_deltas(self, v: np.ndarray, zlo: int, width: int) -> bytes:
        out = np.empty(((len(v) - 1) * width + 7) // 8, dtype=np.uint8)
        self._pack_deltas(v.ctypes.data, len(v), zlo, width, out.ctypes.data)
        return out.tobytes()

    def bloom_scatter(self, h: np.ndarray, m: int, k: int) -> np.ndarray:
        """int64[m/64] bloom words (two's-complement VALUES identical
        to bloom._bloom_words_numpy; m is a power of two >= 256)."""
        h = np.ascontiguousarray(h, dtype=np.uint64)
        out = np.zeros(m >> 6, dtype=np.uint64)
        self._bloom_scatter(
            h.ctypes.data, len(h), m, k, out.ctypes.data,
        )
        return out.view(np.int64)

    def bloom_hash(
        self, lengths: np.ndarray, blob: bytes, pow_table: np.ndarray
    ) -> np.ndarray:
        lengths = np.ascontiguousarray(lengths, dtype=np.int64)
        buf = np.frombuffer(blob, dtype=np.uint8)
        if int(lengths.sum()) > len(buf):
            raise ValueError("bloom_hash: lengths overrun the blob")
        out = np.empty(len(lengths), dtype=np.uint64)
        self._bloom_hash(
            buf.ctypes.data, lengths.ctypes.data, len(lengths),
            pow_table.ctypes.data, out.ctypes.data,
        )
        return out


def _so_dir() -> str:
    """Per-user cache dir, created 0700: the shared temp dir is
    world-writable and the content-hash path is predictable, so another
    local user could pre-plant a malicious .so there — dlopening it
    would run arbitrary code inside every Spark worker. A private dir
    plus the ownership check in load() closes that."""
    return user_dir(tempfile.gettempdir())


def _so_path() -> str:
    tag = hashlib.sha256(_SRC.encode()).hexdigest()[:16]
    return os.path.join(_so_dir(), f"colcrush_native_{tag}.so")


def _safe_to_load(so: str) -> bool:
    """Only dlopen files we own that nobody else can write."""
    st = os.stat(so)
    if hasattr(os, "geteuid") and st.st_uid != os.geteuid():
        return False
    return (st.st_mode & 0o022) == 0


def _compile(so: str) -> None:
    d = os.path.dirname(so)
    src = os.path.join(d, f".{os.path.basename(so)}.{os.getpid()}.c")
    tmp = src[:-2] + ".so"
    with open(src, "w") as f:
        f.write(_SRC)
    try:
        subprocess.run(
            ["cc", "-O3", "-shared", "-fPIC", "-o", tmp, src],
            check=True,
            capture_output=True,
            timeout=60,
        )
        os.chmod(tmp, 0o500)  # owner read+exec only (see _safe_to_load)
        os.replace(tmp, so)  # atomic: concurrent workers race safely
    finally:
        for p in (src, tmp):
            try:
                os.unlink(p)
            except OSError:
                pass


_cached: object = False  # False = not tried yet; None = unavailable


def load() -> _Kernels | None:
    """Return the kernels, compiling on first use; None if unavailable."""
    global _cached
    if _cached is not False:
        return _cached
    _cached = None
    if os.environ.get("COLCRUSH_NATIVE", "1") == "0":
        return None
    try:
        so = _so_path()
        if not os.path.exists(so):
            _compile(so)
        if not _safe_to_load(so):
            cause = f"refusing {so}: not owned by this user or writable by others"
        else:
            _cached = _Kernels(ctypes.CDLL(so))
            return _cached
    except Exception as e:  # noqa: BLE001 — any failure means numpy fallback
        cause = f"{type(e).__name__}: {e}"
    warnings.warn(
        f"colcrush C kernels unavailable ({cause}); using the much slower "
        "numpy fallback (set COLCRUSH_NATIVE=0 to choose it silently)",
        RuntimeWarning,
        stacklevel=2,
    )
    return None

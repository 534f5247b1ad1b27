/* levsim C batch kernels — compiled at runtime via levsim.cbuild (ctypes).
 *
 * All algorithms are textbook/public: banded Wagner-Fischer (Ukkonen 1985),
 * bit-parallel LCS (Allison-Dix 1986 / Hyyro 2004), Jaro (Winkler 1990).
 * Mirrors the scalar semantics of levsim.kernels exactly; tests assert
 * bit-identical outputs against the Python implementations.
 *
 * Batch layout: code points of all strings flattened into one uint32 array,
 * with int64 offsets (length n+1, offsets[i]..offsets[i+1] is string i).
 */
#include <stdint.h>
#include <stdlib.h>
#include <string.h>

#define MIN(a, b) ((a) < (b) ? (a) : (b))
#define MAX(a, b) ((a) > (b) ? (a) : (b))

/* strip common prefix/suffix; exact for unit-cost edit distances */
static void strip_common(const uint32_t **pa, int64_t *pm, const uint32_t **pb, int64_t *pn)
{
    const uint32_t *a = *pa, *b = *pb;
    int64_t m = *pm, n = *pn;
    while (m > 0 && n > 0 && a[0] == b[0]) { a++; b++; m--; n--; }
    while (m > 0 && n > 0 && a[m - 1] == b[n - 1]) { m--; n--; }
    *pa = a; *pb = b; *pm = m; *pn = n;
}

/* open-addressing map: code point -> word-mask rows (W words per symbol);
 * shared by the Myers distance and bit-parallel LCS kernels */
typedef struct {
    uint32_t *keys;
    uint64_t *masks; /* cap * W words */
    int64_t cap;     /* power of two */
    int64_t W;
} PeqMap;

static void peq_build(PeqMap *pm, const uint32_t *a, int64_t m, int64_t W)
{
    int64_t cap = 16;
    while (cap < 2 * m) cap <<= 1;
    pm->cap = cap;
    pm->W = W;
    pm->keys = (uint32_t *)malloc((size_t)cap * sizeof(uint32_t));
    pm->masks = (uint64_t *)calloc((size_t)(cap * W), sizeof(uint64_t));
    memset(pm->keys, 0xff, (size_t)cap * sizeof(uint32_t)); /* 0xffffffff = empty */
    for (int64_t i = 0; i < m; i++) {
        uint32_t c = a[i];
        int64_t h = (int64_t)((c * 2654435761u) & (uint32_t)(cap - 1));
        while (pm->keys[h] != 0xffffffffu && pm->keys[h] != c) h = (h + 1) & (cap - 1);
        pm->keys[h] = c;
        pm->masks[h * W + (i >> 6)] |= 1ull << (i & 63);
    }
}

static const uint64_t *peq_get(const PeqMap *pm, uint32_t c, const uint64_t *zero)
{
    int64_t h = (int64_t)((c * 2654435761u) & (uint32_t)(pm->cap - 1));
    while (pm->keys[h] != 0xffffffffu) {
        if (pm->keys[h] == c) return pm->masks + h * pm->W;
        h = (h + 1) & (pm->cap - 1);
    }
    return zero;
}

/* ---------------- banded Levenshtein (uniform weights) ---------------- */

static int64_t lev_one(const uint32_t *a, int64_t m, const uint32_t *b, int64_t n,
                       int64_t cutoff, int64_t *row /* scratch >= n+1 */)
{
    strip_common(&a, &m, &b, &n);
    if (m == 0) return (cutoff >= 0 && n > cutoff) ? cutoff + 1 : n;
    if (n == 0) return (cutoff >= 0 && m > cutoff) ? cutoff + 1 : m;
    int64_t diff = m > n ? m - n : n - m;
    if (cutoff >= 0 && diff > cutoff) return cutoff + 1;
    /* band half-width: enough to contain any path of cost <= cutoff */
    int64_t band = cutoff >= 0 ? cutoff : (m > n ? m : n);
    const int64_t INF = (int64_t)1 << 60;
    int64_t lo_prev = 0, hi_prev = MIN(n, band); /* valid cols of prev row */
    for (int64_t j = 0; j <= hi_prev; j++) row[j] = j;
    for (int64_t i = 1; i <= m; i++) {
        int64_t lo = MAX(1, i - band), hi = MIN(n, i + band);
        if (lo > hi) return cutoff + 1;
        int64_t diag = (lo - 1 >= lo_prev && lo - 1 <= hi_prev) ? row[lo - 1] : INF;
        int64_t left = (lo - 1 == 0) ? i : INF; /* row[lo-1] of current row */
        int64_t best = INF;
        for (int64_t j = lo; j <= hi; j++) {
            int64_t up = (j >= lo_prev && j <= hi_prev) ? row[j] : INF;
            int64_t v = diag + (a[i - 1] != b[j - 1]);
            if (up + 1 < v) v = up + 1;
            if (left + 1 < v) v = left + 1;
            diag = up;
            row[j] = v;
            left = v;
            if (v < best) best = v;
        }
        if (lo - 1 == 0) row[0] = i;
        if (cutoff >= 0 && best > cutoff) return cutoff + 1;
        lo_prev = lo - 1 == 0 ? 0 : lo;
        hi_prev = hi;
    }
    int64_t d = row[n];
    if (cutoff >= 0 && d > cutoff) return cutoff + 1;
    return d;
}

/* Myers bit-parallel Levenshtein (Myers 1999), multiword: the single-word
 * recurrence applied to W-word big integers with explicit add/shift carries.
 * Exact distance of pattern a (m chars) vs text b (n chars). */
static int64_t myers_one(const uint32_t *a, int64_t m, const uint32_t *b, int64_t n,
                         int64_t cutoff,
                         uint64_t *VP, uint64_t *VN, uint64_t *D0, uint64_t *HP, uint64_t *HN)
{
    strip_common(&a, &m, &b, &n);
    if (m == 0) return n;
    if (n == 0) return m;
    if (m > n) { const uint32_t *t = a; a = b; b = t; int64_t tl = m; m = n; n = tl; }
    int64_t W = (m + 63) >> 6;
    PeqMap pm;
    peq_build(&pm, a, m, W);
    static const uint64_t zero_small[64] = {0};
    const uint64_t *zeros = zero_small; /* W <= 64 covered below via calloc if bigger */
    uint64_t *zbig = NULL;
    if (W > 64) { zbig = (uint64_t *)calloc((size_t)W, sizeof(uint64_t)); zeros = zbig; }
    uint64_t lastbit = 1ull << ((m - 1) & 63);
    for (int64_t w = 0; w < W; w++) { VP[w] = ~0ull; VN[w] = 0; }
    int64_t score = m;
    for (int64_t j = 0; j < n; j++) {
        const uint64_t *PM = peq_get(&pm, b[j], zeros);
        /* X = PM | VN ; T = (X & VP) + VP (multiword add) ; D0 = (T^VP)|X */
        uint64_t carry = 0;
        for (int64_t w = 0; w < W; w++) {
            uint64_t X = PM[w] | VN[w];
            uint64_t xv = X & VP[w];
            uint64_t t1 = xv + VP[w];
            uint64_t c1 = (t1 < xv) ? 1ull : 0ull;
            uint64_t t2 = t1 + carry;
            if (t2 < t1) c1 = 1ull;
            carry = c1;
            D0[w] = (t2 ^ VP[w]) | X;
            HN[w] = VP[w] & D0[w];
            HP[w] = VN[w] | ~(VP[w] | D0[w]);
        }
        if (HP[W - 1] & lastbit) score++;
        else if (HN[W - 1] & lastbit) score--;
        /* HPs = (HP << 1) | 1 ; HNs = HN << 1 (multiword shifts) */
        uint64_t hp_in = 1, hn_in = 0;
        for (int64_t w = 0; w < W; w++) {
            uint64_t hp_out = HP[w] >> 63, hn_out = HN[w] >> 63;
            uint64_t HPs = (HP[w] << 1) | hp_in;
            uint64_t HNs = (HN[w] << 1) | hn_in;
            hp_in = hp_out; hn_in = hn_out;
            VN[w] = HPs & D0[w];
            VP[w] = HNs | ~(HPs | D0[w]);
        }
        /* mask tail bits of the last word so stray high bits never leak */
        if ((m & 63) != 0) {
            uint64_t mask = (1ull << (m & 63)) - 1;
            VP[W - 1] &= mask;
            VN[W - 1] &= mask;
        }
        if (cutoff >= 0 && score - (n - j - 1) > cutoff) {
            free(pm.keys); free(pm.masks); free(zbig);
            return cutoff + 1;
        }
    }
    free(pm.keys);
    free(pm.masks);
    free(zbig);
    return score;
}

/* Unit-cost Levenshtein per pair.  hint < 0 (no hint): one exact pass, the
 * banded DP for a tight cutoff (0 <= cutoff < 64) and Myers otherwise.
 * hint >= 0: score_hint adaptive banding (reference __init__.py:89-91,
 * 110-115): run with band = hint, doubling on failure until the result fits
 * the band or the band reaches the cutoff / full matrix width.  Returns are
 * identical with and without a hint (property-tested); near-match long pairs
 * with a good hint stay in the O(band*len) banded DP instead of the wide
 * Myers pass. */
void batch_lev_hint(const uint32_t *ca, const int64_t *oa, const uint32_t *cb, const int64_t *ob,
                    int64_t npairs, int64_t cutoff, int64_t hint, int64_t *out)
{
    int64_t maxn = 0;
    for (int64_t i = 0; i < npairs; i++) {
        int64_t ln = ob[i + 1] - ob[i];
        if (ln > maxn) maxn = ln;
        ln = oa[i + 1] - oa[i];
        if (ln > maxn) maxn = ln;
    }
    int64_t *row = (int64_t *)malloc((size_t)(maxn + 2) * sizeof(int64_t));
    int64_t W = maxn / 64 + 2;
    uint64_t *bufs = (uint64_t *)malloc((size_t)(5 * W) * sizeof(uint64_t));
    for (int64_t i = 0; i < npairs; i++) {
        const uint32_t *a = ca + oa[i];
        const uint32_t *b = cb + ob[i];
        int64_t m = oa[i + 1] - oa[i], n = ob[i + 1] - ob[i];
        int64_t diff = m > n ? m - n : n - m;
        if (cutoff >= 0 && diff > cutoff) { out[i] = cutoff + 1; continue; }
        if (hint < 0) {
            out[i] = (cutoff >= 0 && cutoff < 64)
                ? lev_one(a, m, b, n, cutoff, row)
                : myers_one(a, m, b, n, cutoff,
                            bufs, bufs + W, bufs + 2 * W, bufs + 3 * W, bufs + 4 * W);
            continue;
        }
        int64_t full = m > n ? m : n; /* unit-cost distance upper bound */
        int64_t band = hint > diff ? hint : diff; /* band < |m-n| is useless */
        if (band < 1) band = 1;
        for (;;) {
            int64_t lim = band;
            if (cutoff >= 0 && lim > cutoff) lim = cutoff;
            int64_t d = (lim < 64)
                ? lev_one(a, m, b, n, lim, row)
                : myers_one(a, m, b, n, lim,
                            bufs, bufs + W, bufs + 2 * W, bufs + 3 * W, bufs + 4 * W);
            if (d <= lim) { out[i] = d; break; }          /* exact within band */
            if (cutoff >= 0 && lim >= cutoff) { out[i] = cutoff + 1; break; }
            band *= 2;
            if (band > full) band = full; /* full band: next pass is exact */
        }
    }
    free(row);
    free(bufs);
}

/* ------------- generalized weighted Levenshtein (full DP) ------------- */

static int64_t levw_one(const uint32_t *a, int64_t m, const uint32_t *b, int64_t n,
                        int64_t wins, int64_t wdel, int64_t wsub, int64_t *prev, int64_t *cur)
{
    if (wins == wdel) strip_common(&a, &m, &b, &n);
    if (m == 0) return n * wins;
    if (n == 0) return m * wdel;
    int64_t esub = MIN(wsub, wins + wdel);
    for (int64_t j = 0; j <= n; j++) prev[j] = j * wins;
    for (int64_t i = 1; i <= m; i++) {
        cur[0] = i * wdel;
        uint32_t ai = a[i - 1];
        for (int64_t j = 1; j <= n; j++) {
            int64_t v = prev[j - 1] + (ai != b[j - 1] ? esub : 0);
            if (prev[j] + wdel < v) v = prev[j] + wdel;
            if (cur[j - 1] + wins < v) v = cur[j - 1] + wins;
            cur[j] = v;
        }
        int64_t *t = prev; prev = cur; cur = t;
    }
    return prev[n];
}

void batch_lev_weighted(const uint32_t *ca, const int64_t *oa, const uint32_t *cb, const int64_t *ob,
                        int64_t npairs, int64_t wins, int64_t wdel, int64_t wsub, int64_t *out)
{
    int64_t maxn = 0;
    for (int64_t i = 0; i < npairs; i++) {
        int64_t ln = ob[i + 1] - ob[i];
        if (ln > maxn) maxn = ln;
    }
    int64_t *prev = (int64_t *)malloc((size_t)(maxn + 2) * sizeof(int64_t));
    int64_t *cur = (int64_t *)malloc((size_t)(maxn + 2) * sizeof(int64_t));
    for (int64_t i = 0; i < npairs; i++)
        out[i] = levw_one(ca + oa[i], oa[i + 1] - oa[i], cb + ob[i], ob[i + 1] - ob[i],
                          wins, wdel, wsub, prev, cur);
    free(prev);
    free(cur);
}

/* ------------------- bit-parallel indel distance ---------------------- */

static int64_t indel_one(const uint32_t *a, int64_t m, const uint32_t *b, int64_t n,
                         uint64_t *V /* scratch */, uint64_t *zero /* scratch, zeroed */)
{
    strip_common(&a, &m, &b, &n);
    if (m == 0) return n;
    if (n == 0) return m;
    /* pattern = shorter side for smaller W */
    if (m > n) { const uint32_t *t = a; a = b; b = t; int64_t tl = m; m = n; n = tl; }
    int64_t W = (m + 63) >> 6;
    PeqMap pm;
    peq_build(&pm, a, m, W);
    for (int64_t w = 0; w < W; w++) V[w] = ~0ull;
    uint64_t lastmask = (m & 63) ? ((1ull << (m & 63)) - 1) : ~0ull;
    V[W - 1] &= lastmask;
    for (int64_t j = 0; j < n; j++) {
        const uint64_t *M = peq_get(&pm, b[j], zero);
        /* V = (V + (V&M)) | (V - (V&M)); U=V&M subset of V => no borrow across words */
        uint64_t carry = 0;
        for (int64_t w = 0; w < W; w++) {
            uint64_t u = V[w] & M[w];
            uint64_t sum = V[w] + u;
            uint64_t c2 = (sum < V[w]) ? 1ull : 0ull;
            uint64_t sum2 = sum + carry;
            if (sum2 < sum) c2 = 1ull;
            V[w] = sum2 | (V[w] - u);
            carry = c2;
        }
        V[W - 1] &= lastmask;
    }
    int64_t ones = 0;
    for (int64_t w = 0; w < W; w++) ones += __builtin_popcountll(V[w]);
    int64_t lcs = m - ones;
    free(pm.keys);
    free(pm.masks);
    return m + n - 2 * lcs;
}

void batch_indel(const uint32_t *ca, const int64_t *oa, const uint32_t *cb, const int64_t *ob,
                 int64_t npairs, int64_t *out)
{
    int64_t maxm = 0;
    for (int64_t i = 0; i < npairs; i++) {
        int64_t l1 = oa[i + 1] - oa[i], l2 = ob[i + 1] - ob[i];
        int64_t mm = MIN(l1, l2);
        if (mm > maxm) maxm = mm;
        if (l1 > maxm && l2 > maxm) maxm = MIN(l1, l2);
    }
    int64_t W = (maxm + 63) / 64 + 2;
    uint64_t *V = (uint64_t *)malloc((size_t)W * sizeof(uint64_t));
    uint64_t *zero = (uint64_t *)calloc((size_t)W, sizeof(uint64_t));
    for (int64_t i = 0; i < npairs; i++)
        out[i] = indel_one(ca + oa[i], oa[i + 1] - oa[i], cb + ob[i], ob[i + 1] - ob[i], V, zero);
    free(V);
    free(zero);
}

/* ------------------------------ Jaro ---------------------------------- */

/* Greedy Jaro matching, bit-parallel: for each pattern char the "first
 * unmatched equal text char inside the window" is the lowest set bit of
 * PM[c] & window & ~matched — identical semantics to the sequential scan,
 * O(l1 * l2/64) instead of O(l1 * window). */
static double jaro_one(const uint32_t *p, int64_t l1, const uint32_t *t, int64_t l2,
                       uint8_t *pf, uint64_t *tmask /* scratch >= W words */)
{
    if (l1 == 0 && l2 == 0) return 1.0;
    if (l1 == 0 || l2 == 0) return 0.0;
    int64_t bound = MAX(l1, l2) / 2;
    if (bound > 0) bound--;
    int64_t W = (l2 + 63) >> 6;
    PeqMap pm;
    peq_build(&pm, t, l2, W);
    static const uint64_t zsmall[64] = {0};
    const uint64_t *zeros = zsmall;
    uint64_t *zbig = NULL;
    if (W > 64) { zbig = (uint64_t *)calloc((size_t)W, sizeof(uint64_t)); zeros = zbig; }
    memset(pf, 0, (size_t)l1);
    for (int64_t w = 0; w < W; w++) tmask[w] = 0; /* matched text positions */
    int64_t m = 0;
    for (int64_t i = 0; i < l1; i++) {
        int64_t lo = i > bound ? i - bound : 0;
        int64_t hi = MIN(l2, i + bound + 1);
        if (lo >= hi) continue;
        const uint64_t *PM = peq_get(&pm, p[i], zeros);
        int64_t wlo = lo >> 6, whi = (hi - 1) >> 6;
        for (int64_t w = wlo; w <= whi; w++) {
            uint64_t mask = ~0ull;
            if (w == wlo) mask &= ~0ull << (lo & 63);
            if (w == whi && (hi & 63)) mask &= (1ull << (hi & 63)) - 1;
            uint64_t cand = PM[w] & mask & ~tmask[w];
            if (cand) {
                tmask[w] |= cand & (~cand + 1); /* lowest set bit */
                pf[i] = 1;
                m++;
                break;
            }
        }
    }
    free(pm.keys);
    free(pm.masks);
    free(zbig);
    if (m == 0) return 0.0;
    /* transpositions: walk matched pattern chars against matched text
     * positions in order */
    int64_t trans = 0, w = 0;
    uint64_t bits = tmask[0];
    for (int64_t i = 0; i < l1; i++) {
        if (!pf[i]) continue;
        while (bits == 0) bits = tmask[++w];
        int64_t j = w * 64 + __builtin_ctzll(bits);
        bits &= bits - 1;
        if (p[i] != t[j]) trans++;
    }
    trans /= 2;
    double dm = (double)m;
    return (dm / (double)l1 + dm / (double)l2 + (dm - (double)trans) / dm) / 3.0;
}

void batch_jaro(const uint32_t *ca, const int64_t *oa, const uint32_t *cb, const int64_t *ob,
                int64_t npairs, double *out)
{
    int64_t maxn = 1;
    for (int64_t i = 0; i < npairs; i++) {
        int64_t l1 = oa[i + 1] - oa[i], l2 = ob[i + 1] - ob[i];
        if (l1 > maxn) maxn = l1;
        if (l2 > maxn) maxn = l2;
    }
    uint8_t *pf = (uint8_t *)malloc((size_t)maxn);
    uint64_t *tmask = (uint64_t *)malloc((size_t)(maxn / 64 + 2) * sizeof(uint64_t));
    for (int64_t i = 0; i < npairs; i++)
        out[i] = jaro_one(ca + oa[i], oa[i + 1] - oa[i], cb + ob[i], ob[i + 1] - ob[i], pf, tmask);
    free(pf);
    free(tmask);
}

void batch_jaro_winkler(const uint32_t *ca, const int64_t *oa, const uint32_t *cb, const int64_t *ob,
                        int64_t npairs, double prefix_weight, double *out)
{
    int64_t maxn = 1;
    for (int64_t i = 0; i < npairs; i++) {
        int64_t l1 = oa[i + 1] - oa[i], l2 = ob[i + 1] - ob[i];
        if (l1 > maxn) maxn = l1;
        if (l2 > maxn) maxn = l2;
    }
    uint8_t *pf = (uint8_t *)malloc((size_t)maxn);
    uint64_t *tmask = (uint64_t *)malloc((size_t)(maxn / 64 + 2) * sizeof(uint64_t));
    for (int64_t i = 0; i < npairs; i++) {
        const uint32_t *a = ca + oa[i];
        const uint32_t *b = cb + ob[i];
        int64_t l1 = oa[i + 1] - oa[i], l2 = ob[i + 1] - ob[i];
        double sim = jaro_one(a, l1, b, l2, pf, tmask);
        if (sim > 0.7) {
            int64_t nmax = MIN(MIN(l1, l2), (int64_t)4);
            int64_t pr = 0;
            while (pr < nmax && a[pr] == b[pr]) pr++;
            sim += (double)pr * prefix_weight * (1.0 - sim);
        }
        out[i] = sim;
    }
    free(pf);
    free(tmask);
}

/* ----------------------------- MinHash -------------------------------- */

/* FNV-1a 64-bit over the UTF-32LE bytes of a token span */
static uint64_t fnv1a64(const uint32_t *codes, int64_t n)
{
    uint64_t h = 0xCBF29CE484222325ull;
    for (int64_t i = 0; i < n; i++) {
        uint32_t c = codes[i];
        for (int k = 0; k < 4; k++) {
            h ^= (c >> (8 * k)) & 0xff;
            h *= 1099511628211ull;
        }
    }
    return h;
}

static int is_ws(uint32_t c) { return c == 32 || (c >= 9 && c <= 13); }

#define MH_P 2147483647ull /* 2^31 - 1, matches levsim.blocking._P */

/* shingle combination constants — mirror blocking._SHINGLE_C */
static const uint64_t MH_C[6] = {1ull, 0x5BD1E995ull % MH_P, 0x9E3779B1ull % MH_P,
                                 0x85EBCA77ull % MH_P, 0xC2B2AE35ull % MH_P,
                                 0x27D4EB2Full % MH_P};

/* texts flattened as uint32 code points; out is ndocs * n_perm uint64.
 * Word hash = fnv1a64 mod P; shingle hash = sum_j C[j] * wh[i+j] mod P;
 * signature[p] = min over shingles of (pa[p]*sh + pb[p]) mod P;
 * empty doc -> all lanes P-1. */
void batch_minhash(const uint32_t *codes, const int64_t *offs, int64_t ndocs,
                   int64_t n_perm, int64_t shingle_k,
                   const uint64_t *pa, const uint64_t *pb, uint64_t *out)
{
    int64_t maxlen = 0;
    for (int64_t d = 0; d < ndocs; d++) {
        int64_t ln = offs[d + 1] - offs[d];
        if (ln > maxlen) maxlen = ln;
    }
    uint64_t *wh = (uint64_t *)malloc((size_t)(maxlen / 2 + 2) * sizeof(uint64_t));
    for (int64_t d = 0; d < ndocs; d++) {
        const uint32_t *s = codes + offs[d];
        int64_t n = offs[d + 1] - offs[d];
        /* tokenize on whitespace runs, hash each token */
        int64_t nt = 0;
        int64_t i = 0;
        while (i < n) {
            while (i < n && is_ws(s[i])) i++;
            int64_t st = i;
            while (i < n && !is_ws(s[i])) i++;
            if (i > st) wh[nt++] = fnv1a64(s + st, i - st) % MH_P;
        }
        uint64_t *o = out + d * n_perm;
        if (nt == 0) {
            for (int64_t p = 0; p < n_perm; p++) o[p] = MH_P - 1;
            continue;
        }
        for (int64_t p = 0; p < n_perm; p++) o[p] = ~0ull;
        int64_t nsh = nt <= shingle_k ? 1 : nt - shingle_k + 1;
        int64_t klim = nt < shingle_k ? nt : shingle_k;
        for (int64_t si = 0; si < nsh; si++) {
            uint64_t sh = 0;
            int64_t kk = (nsh == 1) ? nt : klim;
            for (int64_t j = 0; j < kk; j++)
                sh = (sh + MH_C[j % 6] * wh[si + j]) % MH_P;
            for (int64_t p = 0; p < n_perm; p++) {
                uint64_t v = (pa[p] * sh + pb[p]) % MH_P; /* < 2^62: exact */
                if (v < o[p]) o[p] = v;
            }
        }
    }
    free(wh);
}

/* ----------------------------- Hamming -------------------------------- */

void batch_hamming(const uint32_t *ca, const int64_t *oa, const uint32_t *cb, const int64_t *ob,
                   int64_t npairs, int64_t *out)
{
    for (int64_t i = 0; i < npairs; i++) {
        const uint32_t *a = ca + oa[i];
        const uint32_t *b = cb + ob[i];
        int64_t l1 = oa[i + 1] - oa[i], l2 = ob[i + 1] - ob[i];
        int64_t n = MIN(l1, l2), d = l1 > l2 ? l1 - l2 : l2 - l1;
        for (int64_t k = 0; k < n; k++) d += (a[k] != b[k]);
        out[i] = d;
    }
}

/* ------------------ OSA (restricted Damerau) -------------------------- */

/* Three-row DP mirroring levsim.kernels.osa_distance exactly: unit-cost
 * Levenshtein plus adjacent transposition via dp[i-2][j-2] + 1 when
 * a[i-1] == b[j-2] && a[i-2] == b[j-1].  Common-affix strip is exact for
 * OSA (an optimal script never transposes across an equal-affix boundary).
 * Cutoff clamping happens in the caller (levsim.batch.batch_osa), same as
 * batch_lev_weighted. */
static int64_t osa_one(const uint32_t *a, int64_t m, const uint32_t *b, int64_t n,
                       int64_t *p2, int64_t *p1, int64_t *cur)
{
    strip_common(&a, &m, &b, &n);
    if (m == 0) return n;
    if (n == 0) return m;
    for (int64_t j = 0; j <= n; j++) p1[j] = j;
    for (int64_t i = 1; i <= m; i++) {
        cur[0] = i;
        uint32_t ai = a[i - 1];
        for (int64_t j = 1; j <= n; j++) {
            int64_t v = p1[j - 1] + ((b[j - 1] == ai) ? 0 : 1);
            int64_t d = p1[j] + 1;
            if (d < v) v = d;
            int64_t ins = cur[j - 1] + 1;
            if (ins < v) v = ins;
            if (i > 1 && j > 1 && b[j - 2] == ai && a[i - 2] == b[j - 1]) {
                int64_t t = p2[j - 2] + 1;
                if (t < v) v = t;
            }
            cur[j] = v;
        }
        int64_t *tmp = p2; p2 = p1; p1 = cur; cur = tmp;
    }
    return p1[n];
}

void batch_osa(const uint32_t *ca, const int64_t *oa, const uint32_t *cb, const int64_t *ob,
               int64_t npairs, int64_t *out)
{
    int64_t maxn = 0;
    for (int64_t i = 0; i < npairs; i++) {
        int64_t ln = ob[i + 1] - ob[i];
        if (ln > maxn) maxn = ln;
    }
    int64_t *p2 = (int64_t *)malloc((size_t)(maxn + 2) * sizeof(int64_t));
    int64_t *p1 = (int64_t *)malloc((size_t)(maxn + 2) * sizeof(int64_t));
    int64_t *cur = (int64_t *)malloc((size_t)(maxn + 2) * sizeof(int64_t));
    for (int64_t i = 0; i < npairs; i++)
        out[i] = osa_one(ca + oa[i], oa[i + 1] - oa[i], cb + ob[i], ob[i + 1] - ob[i],
                         p2, p1, cur);
    free(p2);
    free(p1);
    free(cur);
}

/* -------- unrestricted Damerau-Levenshtein (Lowrance-Wagner 1975) ------ */

/* Full-matrix DP mirroring levsim.kernels.damerau_distance exactly: the
 * transposition candidate reads row da[b_j] (the last row whose character
 * matched b_j), so the matrix cannot collapse to three rows like OSA.
 * The last-row table is a sorted-unique code-point array + binary search
 * (deterministic, bounded by m+n keys, no hashing).  Buffers grow-only
 * across the batch; memory is O(m*n) per pair by nature of the algorithm
 * (callers length-prefilter long texts).  Common-affix strip is exact for
 * unrestricted DL (an optimal trace never crosses an equal-affix
 * boundary; property-tested vs DuckDB in tests/test_kernels_properties.py). */

static int dl_cmp_u32(const void *x, const void *y)
{
    uint32_t a = *(const uint32_t *)x, b = *(const uint32_t *)y;
    return (a > b) - (a < b);
}

static int64_t dl_find(const uint32_t *keys, int64_t nk, uint32_t c)
{
    int64_t lo = 0, hi = nk - 1;
    while (lo <= hi) {
        int64_t mid = lo + (hi - lo) / 2;
        if (keys[mid] < c) lo = mid + 1;
        else if (keys[mid] > c) hi = mid - 1;
        else return mid;
    }
    return -1; /* unreachable: keys cover both strings */
}

static int64_t damerau_one(const uint32_t *a, int64_t m, const uint32_t *b, int64_t n,
                           int64_t **mat, size_t *mat_cap,
                           uint32_t **keybuf, int64_t **valbuf, size_t *key_cap)
{
    strip_common(&a, &m, &b, &n);
    if (m == 0) return n;
    if (n == 0) return m;
    int64_t w = n + 2;
    size_t need = (size_t)(m + 2) * (size_t)w;
    if (need > *mat_cap) {
        free(*mat);
        *mat = (int64_t *)malloc(need * sizeof(int64_t));
        *mat_cap = need;
    }
    size_t kneed = (size_t)(m + n);
    if (kneed > *key_cap) {
        free(*keybuf);
        free(*valbuf);
        *keybuf = (uint32_t *)malloc(kneed * sizeof(uint32_t));
        *valbuf = (int64_t *)malloc(kneed * sizeof(int64_t));
        *key_cap = kneed;
    }
    uint32_t *keys = *keybuf;
    int64_t *da = *valbuf;
    memcpy(keys, a, (size_t)m * sizeof(uint32_t));
    memcpy(keys + m, b, (size_t)n * sizeof(uint32_t));
    qsort(keys, (size_t)(m + n), sizeof(uint32_t), dl_cmp_u32);
    int64_t nk = 0;
    for (int64_t i = 0; i < m + n; i++)
        if (nk == 0 || keys[i] != keys[nk - 1]) keys[nk++] = keys[i];
    for (int64_t i = 0; i < nk; i++) da[i] = 0;
    int64_t *M = *mat;
    int64_t maxd = m + n;
    /* M[r+1][c+1] = d[r][c] of the classic pseudocode; index 0 = the
     * d[-1][*] sentinel rank, so d[k-1][l-1] is just M[k][l] */
    for (int64_t j = 0; j < w; j++) M[j] = maxd;            /* sentinel row */
    for (int64_t i = 1; i < m + 2; i++) M[i * w] = maxd;    /* sentinel col */
    for (int64_t j = 0; j <= n; j++) M[w + j + 1] = j;      /* d[0][j] = j  */
    for (int64_t i = 0; i <= m; i++) M[(i + 1) * w + 1] = i;/* d[i][0] = i  */
    for (int64_t i = 1; i <= m; i++) {
        int64_t db = 0;
        uint32_t ai = a[i - 1];
        int64_t *prev = M + i * w, *cur = M + (i + 1) * w;
        for (int64_t j = 1; j <= n; j++) {
            int64_t k = da[dl_find(keys, nk, b[j - 1])];
            int64_t l = db;
            int64_t cost = (b[j - 1] == ai) ? 0 : 1;
            if (!cost) db = j;
            int64_t v = prev[j] + cost;                     /* diag */
            int64_t up = prev[j + 1] + 1;
            if (up < v) v = up;
            int64_t ins = cur[j] + 1;
            if (ins < v) v = ins;
            int64_t t = M[k * w + l] + (i - k - 1) + 1 + (j - l - 1);
            if (t < v) v = t;
            cur[j + 1] = v;
        }
        da[dl_find(keys, nk, ai)] = i;
    }
    return M[(m + 1) * w + n + 1];
}

void batch_damerau(const uint32_t *ca, const int64_t *oa, const uint32_t *cb, const int64_t *ob,
                   int64_t npairs, int64_t *out)
{
    int64_t *mat = NULL;
    uint32_t *keybuf = NULL;
    int64_t *valbuf = NULL;
    size_t mat_cap = 0, key_cap = 0;
    for (int64_t i = 0; i < npairs; i++)
        out[i] = damerau_one(ca + oa[i], oa[i + 1] - oa[i], cb + ob[i], ob[i + 1] - ob[i],
                             &mat, &mat_cap, &keybuf, &valbuf, &key_cap);
    free(mat);
    free(keybuf);
    free(valbuf);
}

/* ------------------ affine-gap (Gotoh) alignment ---------------------- */

/* Two-row Gotoh mirroring levsim.kernels.affine_gap_distance: V = overall
 * min, D = deletion state; the insertion state needs no carried row (it is
 * rebuilt left-to-right within the row).  No affix strip: gap runs price
 * open + len * extend, so stripping would change run lengths. */
static int64_t affine_one(const uint32_t *a, int64_t m, const uint32_t *b, int64_t n,
                          int64_t o, int64_t e, int64_t s,
                          int64_t *V, int64_t *D, int64_t *nV, int64_t *nD)
{
    const int64_t INF = (int64_t)1 << 60;
    if (m == 0 || n == 0) return (m == 0 && n == 0) ? 0 : o + e * (m + n);
    V[0] = 0;
    for (int64_t j = 1; j <= n; j++) { V[j] = o + e * j; D[j] = INF; }
    D[0] = INF;
    for (int64_t i = 1; i <= m; i++) {
        uint32_t ai = a[i - 1];
        int64_t ins = INF; /* I state of current row, built left to right */
        for (int64_t j = 0; j <= n; j++) {
            int64_t nd = D[j] + e;
            int64_t vo = V[j] + o + e;
            if (vo < nd) nd = vo;
            nD[j] = nd;
            int64_t md = nd;
            if (j > 0) {
                int64_t mv = V[j - 1] + ((b[j - 1] == ai) ? 0 : s);
                if (mv < md) md = mv;
            }
            int64_t nv = md;
            if (j > 0 && ins < nv) nv = ins;
            nV[j] = nv;
            /* I for the next column: extend the current I or open from
             * this column's MD (opens from I are dominated by extends) */
            int64_t from_md = md + o + e;
            int64_t ext = ins + e;
            ins = ext < from_md ? ext : from_md;
        }
        int64_t *t;
        t = V; V = nV; nV = t;
        t = D; D = nD; nD = t;
    }
    return V[n];
}

void batch_affine(const uint32_t *ca, const int64_t *oa, const uint32_t *cb, const int64_t *ob,
                  int64_t npairs, int64_t go, int64_t ge, int64_t gs, int64_t *out)
{
    int64_t maxn = 0;
    for (int64_t i = 0; i < npairs; i++) {
        int64_t ln = ob[i + 1] - ob[i];
        if (ln > maxn) maxn = ln;
    }
    int64_t *V = (int64_t *)malloc((size_t)(maxn + 2) * sizeof(int64_t));
    int64_t *D = (int64_t *)malloc((size_t)(maxn + 2) * sizeof(int64_t));
    int64_t *nV = (int64_t *)malloc((size_t)(maxn + 2) * sizeof(int64_t));
    int64_t *nD = (int64_t *)malloc((size_t)(maxn + 2) * sizeof(int64_t));
    for (int64_t i = 0; i < npairs; i++)
        out[i] = affine_one(ca + oa[i], oa[i + 1] - oa[i], cb + ob[i], ob[i + 1] - ob[i],
                            go, ge, gs, V, D, nV, nD);
    free(V);
    free(D);
    free(nV);
    free(nD);
}

/* ----------------------------- SimHash -------------------------------- */

/* 64-bit SimHash per doc (Charikar 2002): tokenize on whitespace runs
 * (same rule as batch_minhash), full fnv1a64 per token, +/-1 vote per bit,
 * sign -> signature bit.  The top bit is flipped before the signed cast so
 * the result equals the Python scalar path's `sig - 2**63` reinterpret
 * (extras.dedup.simhash64).  Empty/whitespace-only doc -> 0. */
void batch_simhash(const uint32_t *codes, const int64_t *offs, int64_t ndocs,
                   int64_t *out)
{
    for (int64_t d = 0; d < ndocs; d++) {
        const uint32_t *s = codes + offs[d];
        int64_t n = offs[d + 1] - offs[d];
        int64_t votes[64] = {0};
        int64_t nt = 0;
        int64_t i = 0;
        while (i < n) {
            while (i < n && is_ws(s[i])) i++;
            int64_t st = i;
            while (i < n && !is_ws(s[i])) i++;
            if (i > st) {
                uint64_t h = fnv1a64(s + st, i - st);
                for (int b = 0; b < 64; b++)
                    votes[b] += ((h >> b) & 1ull) ? 1 : -1;
                nt++;
            }
        }
        if (nt == 0) { out[d] = 0; continue; }
        uint64_t sig = 0;
        for (int b = 0; b < 64; b++)
            if (votes[b] > 0) sig |= 1ull << b;
        out[d] = (int64_t)(sig ^ 0x8000000000000000ull);
    }
}

/* ------------------ editops (minimal edit script) --------------------- */

/* Full-matrix unit-cost DP + backtrace mirroring levsim.kernels.
 * _editops_from_strings EXACTLY: same matrix values (unique for unit
 * costs) and the same backtrace preference order (diagonal-equal, then
 * replace, then insert, then delete), so the emitted scripts are
 * list-identical to the Python reference path (property-tested in
 * tests/test_batch.py).  No common-affix stripping: positions are
 * absolute and the Python path does not strip either.
 *
 * Output encoding: per op t in [offs[k], offs[k+1]) for pair k,
 * ops[t] in {0=replace, 1=insert, 2=delete}, pi[t]=spos, pj[t]=dpos.
 * Returns total ops written, or -1 if cap or the matrix buffer would
 * overflow (caller sizes cap = sum(max(la, lb)) which is always enough).
 */
int64_t batch_editops(const uint32_t *ca, const int64_t *oa,
                      const uint32_t *cb, const int64_t *ob,
                      int64_t npairs,
                      int8_t *ops, int32_t *pi, int32_t *pj,
                      int64_t *offs, int64_t cap)
{
    int64_t maxa = 0, maxb = 0;
    for (int64_t k = 0; k < npairs; k++) {
        int64_t la = oa[k + 1] - oa[k], lb = ob[k + 1] - ob[k];
        if (la > maxa) maxa = la;
        if (lb > maxb) maxb = lb;
    }
    int32_t *m = (int32_t *)malloc((size_t)(maxa + 1) * (size_t)(maxb + 1) * sizeof(int32_t));
    int64_t tmpcap = maxa + maxb;
    int8_t *top = (int8_t *)malloc((size_t)(tmpcap ? tmpcap : 1));
    int32_t *tpi = (int32_t *)malloc((size_t)(tmpcap ? tmpcap : 1) * sizeof(int32_t));
    int32_t *tpj = (int32_t *)malloc((size_t)(tmpcap ? tmpcap : 1) * sizeof(int32_t));
    if (!m || !top || !tpi || !tpj) {
        free(m); free(top); free(tpi); free(tpj);
        return -1;
    }
    int64_t w = 0;
    offs[0] = 0;
    for (int64_t k = 0; k < npairs; k++) {
        const uint32_t *a = ca + oa[k];
        const uint32_t *b = cb + ob[k];
        int64_t la = oa[k + 1] - oa[k], lb = ob[k + 1] - ob[k];
        int64_t stride = lb + 1;
        for (int64_t j = 0; j <= lb; j++) m[j] = (int32_t)j;
        for (int64_t i = 1; i <= la; i++) {
            int32_t *row = m + i * stride, *prev = m + (i - 1) * stride;
            row[0] = (int32_t)i;
            uint32_t ai = a[i - 1];
            for (int64_t j = 1; j <= lb; j++) {
                int32_t v = prev[j - 1] + ((b[j - 1] == ai) ? 0 : 1);
                int32_t d = prev[j] + 1;
                if (d < v) v = d;
                int32_t ins = row[j - 1] + 1;
                if (ins < v) v = ins;
                row[j] = v;
            }
        }
        int64_t t = 0;
        int64_t i = la, j = lb;
        while (i > 0 || j > 0) {
            int32_t cur = m[i * stride + j];
            if (i > 0 && j > 0 && a[i - 1] == b[j - 1]
                && m[(i - 1) * stride + (j - 1)] == cur) {
                i--; j--;
                continue;
            }
            if (i > 0 && j > 0 && m[(i - 1) * stride + (j - 1)] + 1 == cur) {
                top[t] = 0; tpi[t] = (int32_t)(i - 1); tpj[t] = (int32_t)(j - 1);
                t++; i--; j--;
            } else if (j > 0 && m[i * stride + (j - 1)] + 1 == cur) {
                top[t] = 1; tpi[t] = (int32_t)i; tpj[t] = (int32_t)(j - 1);
                t++; j--;
            } else {
                top[t] = 2; tpi[t] = (int32_t)(i - 1); tpj[t] = (int32_t)j;
                t++; i--;
            }
        }
        if (w + t > cap) {
            free(m); free(top); free(tpi); free(tpj);
            return -1;
        }
        for (int64_t u = 0; u < t; u++) {   /* reverse into output */
            ops[w + u] = top[t - 1 - u];
            pi[w + u] = tpi[t - 1 - u];
            pj[w + u] = tpj[t - 1 - u];
        }
        w += t;
        offs[k + 1] = w;
    }
    free(m); free(top); free(tpi); free(tpj);
    return w;
}

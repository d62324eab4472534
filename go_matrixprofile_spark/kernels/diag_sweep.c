/* The MPX diagonal sweep (mpxBatch, matrixprofile.go:996-1054) in C.
 * Same cells, same order and same float operations as _diag_sweep_numpy
 * in matrix_profile.py, which documents the arguments; built with
 * -ffp-contract=off (no FMA, no reassociation) so the results are
 * bit-identical to it.
 *
 * Diagonals d >= 0 go in groups of K consecutive ones, in two passes:
 *   pass 1 runs the group's K correlation chains in lockstep as vector
 *     lanes. At cell k the x-side streams are one scalar for every lane
 *     and the y-side streams of lanes q = 0..K-1 lie contiguous at
 *     d0 + q + k. It also tests the K correlations against the profiles
 *     as they were before the group, and keeps a row r[q] of them only
 *     where one is greater: the row goes to rows[h], its k to hits[h].
 *   pass 2 visits the group's diagonals in ascending d, each one's kept
 *     cells in ascending k, and applies the strict > updates (y side
 *     first) exactly as a one-diagonal-at-a-time sweep does.
 * No chain reads a profile, so running all K chains before any compare
 * changes nothing: each chain keeps its own c = c + (dfx*dgy + dfy*dgx),
 * r = c * (sigx*sigy). A profile value only ever rises, so a cell that
 * does not beat the value before the group cannot beat it later, and
 * skipping it changes nothing either. The compares that remain run in
 * the same order as before, so ties resolve as before. (At 16,384
 * points / w=128 pass 1 keeps 0.7% of the rows.)
 * Diagonals d < 0, and the fewer than K left after a call's last group,
 * run one at a time: with one chain the two passes fuse into one loop.
 *
 * Pass 1 is written once with GCC vector types and built per vector
 * width: 4-lane AVX on x86-64 CPUs that have it, else 2-lane (SSE2 on
 * x86-64, portable C elsewhere). diag_sweep_paths names the ones this CPU
 * runs, best first. The caller allocates the scratch: (K + 1) * min(nx, ny)
 * doubles, the rows and then the hits. */
#include <math.h>
#include <stdint.h>
#include <string.h>

#define K 8

const int diag_sweep_group = K;

struct sweep {
    const double *sigx, *dfx, *dgx, *sigy, *dfy, *dgy;
    int64_t nx, ny;
    double *mp_x, *mp_y;
    int64_t *idx_x, *idx_y;
    int64_t x0, y0;
    int remap;
    double *rows;
    int64_t *hits;
};

static inline int64_t min64(int64_t a, int64_t b) { return a < b ? a : b; }

/* cells on diagonal d >= 0, which starts at (0, d) */
static inline int64_t cells(const struct sweep *s, int64_t d)
{
    return min64(s->nx, s->ny - d);
}

static inline double step(const struct sweep *s, double c, int64_t i, int64_t j)
{
    return c + (s->dfx[i] * s->dgy[j] + s->dfy[j] * s->dgx[i]);
}

static inline double corr(const struct sweep *s, double c, int64_t i, int64_t j)
{
    double r = c * (s->sigx[i] * s->sigy[j]);
    return s->remap ? fabs(r) : r;
}

static inline void update(const struct sweep *s, double r, int64_t i, int64_t j)
{
    if (r > s->mp_y[j]) {
        s->mp_y[j] = r;
        s->idx_y[j] = s->x0 + i;
    }
    if (r > s->mp_x[i]) {
        s->mp_x[i] = r;
        s->idx_x[i] = s->y0 + j;
    }
}

/* diagonal d alone, from (max(0, -d), max(0, d)) */
static void one(const struct sweep *s, double c, int64_t d)
{
    int64_t i0 = d >= 0 ? 0 : -d, j0 = d >= 0 ? d : 0;
    int64_t m = min64(s->nx - i0, s->ny - j0);
    for (int64_t k = 0; k < m; k++) {
        if (k > 0) /* the first cell carries the seed, no step */
            c = step(s, c, i0 + k, j0 + k);
        update(s, corr(s, c, i0 + k, j0 + k), i0 + k, j0 + k);
    }
}

/* Pass 1 of the group d0..d0+K-1 over the cells k < m that all K
 * diagonals have, with V-wide vectors (VI: V's compare result, ANY: is
 * a lane of one set). Returns the number of rows kept and leaves each
 * chain's c in c_out. The remap mask clears the sign bit (fabs) or keeps
 * every bit. */
#define GROUP_CHAINS(NAME, V, VI, ANY, ATTR)                                          \
    ATTR static int64_t NAME(const struct sweep *s, const double *seeds, int64_t d0,   \
                             int64_t m, double *c_out)                                \
    {                                                                                 \
        enum { L = sizeof(V) / sizeof(double), NV = K / L };                          \
        const double *dfx = s->dfx, *dgx = s->dgx, *sigx = s->sigx, *mp_x = s->mp_x;  \
        const double *dfy = s->dfy + d0, *dgy = s->dgy + d0, *sigy = s->sigy + d0;    \
        const double *mp_y = s->mp_y + d0;                                            \
        double *rows = s->rows;                                                       \
        int64_t *hits = s->hits, nh = 0;                                              \
        VI keep = (VI){0} + (s->remap ? INT64_MAX : -1);                              \
        V c[NV], fy, gy, sy, my, r;                                                   \
        memcpy(c, seeds, sizeof c); /* the first cell carries the seed, no step */    \
        for (int64_t k = 0;;) {                                                       \
            double sx = sigx[k], mx = mp_x[k];                                        \
            VI up = {0};                                                              \
            for (int v = 0; v < NV; v++) {                                            \
                memcpy(&sy, sigy + k + v * L, sizeof sy);                             \
                memcpy(&my, mp_y + k + v * L, sizeof my);                             \
                r = c[v] * (sx * sy);                                                 \
                r = (V)((VI)r & keep);                                                \
                up |= (r > my) | (r > mx);                                            \
                memcpy(rows + nh * K + v * L, &r, sizeof r);                          \
            }                                                                         \
            hits[nh] = k;                                                             \
            nh += ANY(up);                                                            \
            if (++k == m)                                                             \
                break;                                                                \
            double fx = dfx[k], gx = dgx[k];                                          \
            for (int v = 0; v < NV; v++) {                                            \
                memcpy(&fy, dfy + k + v * L, sizeof fy);                              \
                memcpy(&gy, dgy + k + v * L, sizeof gy);                              \
                c[v] = c[v] + (fx * gy + fy * gx);                                    \
            }                                                                         \
        }                                                                             \
        memcpy(c_out, c, sizeof c);                                                   \
        return nh;                                                                    \
    }

typedef int64_t chains_fn(const struct sweep *s, const double *seeds, int64_t d0, int64_t m,
                          double *c_out);

/* the group d0..d0+K-1: pass 1 on the cells all K diagonals have, the
 * longer diagonals' remaining cells one chain at a time (all kept), then
 * pass 2 */
static void group(const struct sweep *s, chains_fn *chains, const double *seeds,
                  int64_t d0)
{
    int64_t m = cells(s, d0 + K - 1), m0 = cells(s, d0);
    double c[K];
    int64_t nh = chains(s, seeds, d0, m, c);
    for (int64_t k = m; k < m0; k++, nh++) {
        for (int q = 0; q < K - 1 && k < cells(s, d0 + q); q++) {
            c[q] = step(s, c[q], k, d0 + q + k);
            s->rows[nh * K + q] = corr(s, c[q], k, d0 + q + k);
        }
        s->hits[nh] = k;
    }
    for (int q = 0; q < K; q++) {
        int64_t mq = cells(s, d0 + q);
        for (int64_t h = 0; h < nh && s->hits[h] < mq; h++)
            update(s, s->rows[h * K + q], s->hits[h], d0 + q + s->hits[h]);
    }
}

static void sweep(struct sweep *s, chains_fn *chains, const double *seeds, int64_t d_lo,
                  int64_t d_hi)
{
    int64_t d = d_lo;
    for (; d < 0 && d <= d_hi; d++)
        one(s, seeds[d - d_lo], d);
    for (; d + K - 1 <= d_hi; d += K)
        group(s, chains, seeds + (d - d_lo), d);
    for (; d <= d_hi; d++)
        one(s, seeds[d - d_lo], d);
}

#define ENTRY(NAME, CHAINS)                                                           \
    void NAME(const double *sigx, const double *dfx, const double *dgx, int64_t nx,   \
              const double *sigy, const double *dfy, const double *dgy, int64_t ny,   \
              const double *seeds, int64_t d_lo, int64_t d_hi, double *mp_x,          \
              int64_t *idx_x, double *mp_y, int64_t *idx_y, int64_t x0, int64_t y0,   \
              int remap, double *scratch)                                             \
    {                                                                                 \
        struct sweep s = {sigx, dfx, dgx, sigy, dfy, dgy, nx, ny, mp_x, mp_y,         \
                          idx_x, idx_y, x0, y0, remap, scratch,                       \
                          (int64_t *)(scratch + K * min64(nx, ny))};                  \
        sweep(&s, CHAINS, seeds, d_lo, d_hi);                                         \
    }

typedef double v2d __attribute__((vector_size(16)));
typedef int64_t v2i __attribute__((vector_size(16)));
#define ANY2(up) ((up)[0] != 0 || (up)[1] != 0)
GROUP_CHAINS(chains_v2, v2d, v2i, ANY2, )

#if defined(__x86_64__)
typedef double v4d __attribute__((vector_size(32)));
typedef int64_t v4i __attribute__((vector_size(32)));
#define ANY4(up) (__builtin_ia32_movmskpd256((v4d)(up)) != 0)
GROUP_CHAINS(chains_v4, v4d, v4i, ANY4, __attribute__((target("avx"))))

ENTRY(diag_sweep_avx, chains_v4)
ENTRY(diag_sweep_sse2, chains_v2)

const char *diag_sweep_paths(void)
{
    __builtin_cpu_init();
    return __builtin_cpu_supports("avx") ? "avx sse2" : "sse2";
}
#else
ENTRY(diag_sweep_generic, chains_v2)

const char *diag_sweep_paths(void) { return "generic"; }
#endif

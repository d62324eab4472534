/* The MPX diagonal sweep (mpxBatch, matrixprofile.go:996-1054) as one
 * compiled loop. Same cells, same order and same float operations as
 * _diag_sweep_numpy in matrix_profile.py, which documents the arguments;
 * built with -ffp-contract=off so the results are bit-identical to it. */
#include <math.h>
#include <stdint.h>

void diag_sweep(const double *sigx, const double *dfx, const double *dgx, int64_t nx,
                const double *sigy, const double *dfy, const double *dgy, int64_t ny,
                const double *seeds, int64_t d_lo, int64_t d_hi,
                double *mp_x, int64_t *idx_x, double *mp_y, int64_t *idx_y,
                int64_t x0, int64_t y0, int remap)
{
    for (int64_t d = d_lo; d <= d_hi; d++) {
        int64_t i0 = d >= 0 ? 0 : -d, j0 = d >= 0 ? d : 0;
        int64_t m = nx - i0 < ny - j0 ? nx - i0 : ny - j0;
        double c = seeds[d - d_lo];
        for (int64_t k = 0; k < m; k++) {
            int64_t i = i0 + k, j = j0 + k;
            if (k > 0) /* the first cell carries the seed, no step */
                c = c + (dfx[i] * dgy[j] + dfy[j] * dgx[i]);
            double r = c * (sigx[i] * sigy[j]);
            if (remap)
                r = fabs(r);
            if (r > mp_y[j]) {
                mp_y[j] = r;
                idx_y[j] = x0 + i;
            }
            if (r > mp_x[i]) {
                mp_x[i] = r;
                idx_x[i] = y0 + j;
            }
        }
    }
}

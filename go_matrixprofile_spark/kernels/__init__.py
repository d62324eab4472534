"""NumPy matrix-profile kernels (no Spark dependency); the MPX diagonal
sweep runs compiled C, vectorized, when the host can build it
(matrix_profile.diag_sweep).

Semantics match matrix-profile-foundation/go-matrixprofile; every public
function cites the reference file:line it reproduces. These kernels run
inside Arrow-batched pandas UDFs on executors — they must never touch
Spark state.
"""

from .util import (
    z_normalize,
    mov_mean_std,
    apply_exclusion_zone,
    mu_invn,
    sum2s,
    binary_split,
    p2e,
    e2p,
)
from .mass import cross_correlate, mass, distance_profile, calculate_distance_profile
from .matrix_profile import MatrixProfile, MPOpts, compute_mp, mpdist
from .av import create_av, apply_single_av
from .discover import arc_curve, iac, discover_segments_from_idx
from .kmp import KMP
from .pmp import PMP

__all__ = [
    "z_normalize",
    "mov_mean_std",
    "apply_exclusion_zone",
    "mu_invn",
    "sum2s",
    "binary_split",
    "p2e",
    "e2p",
    "cross_correlate",
    "mass",
    "distance_profile",
    "calculate_distance_profile",
    "MatrixProfile",
    "MPOpts",
    "compute_mp",
    "mpdist",
    "create_av",
    "apply_single_av",
    "arc_curve",
    "iac",
    "discover_segments_from_idx",
    "KMP",
    "PMP",
]

"""SVG visualization: valid XML, expected structure, parity with the
reference's Visualize/plotMP/plotKMP surface (matrixprofile.go:1406-1429,
visualize.go:15-164, kmp.go:290-302) — SVG instead of gonum/plot PNG."""

import xml.etree.ElementTree as ET

import numpy as np
import pytest

from go_matrixprofile_spark.kernels import siggen
from go_matrixprofile_spark.kernels.kmp import KMP
from go_matrixprofile_spark.kernels.matrix_profile import MatrixProfile, MPOpts
from go_matrixprofile_spark.kernels.pmp import PMP

NS = "{http://www.w3.org/2000/svg}"


def _sig(n=300, seed=4):
    return siggen.add(
        np.sin(2.0 * np.pi * 5 * np.arange(n) / 100), siggen.noise(0.2, n, seed)
    )


class TestVisualize:
    def test_profile_svg_structure(self, tmp_path):
        mp = MatrixProfile(_sig(), None, 16).compute(MPOpts(algorithm="mpx"))
        mp.discover_motifs(2, 2.0, 5, 8)
        mp.discover_discords(3, 8)
        out = str(tmp_path / "mp.svg")
        mp.visualize(out)
        root = ET.parse(out).getroot()
        polylines = root.findall(f"{NS}polyline")
        assert len(polylines) == 2  # signal + profile
        # one marker circle per discord, one rect per motif member (+2 panels)
        circles = root.findall(f"{NS}circle")
        assert len(circles) == len(mp.discords) > 0
        rects = root.findall(f"{NS}rect")
        n_members = sum(len(g.idx) for g in mp.motifs)
        assert len(rects) == 2 + n_members

    def test_uncomputed_raises(self, tmp_path):
        mp = MatrixProfile(_sig(), None, 16)
        with pytest.raises(ValueError):
            mp.visualize(str(tmp_path / "x.svg"))

    def test_kmp_svg(self, tmp_path):
        t = [_sig(seed=i) for i in range(3)]
        k = KMP(t, 20).compute()
        out = str(tmp_path / "kmp.svg")
        k.visualize(out)
        root = ET.parse(out).getroot()
        # 3 dims + 3 levels = 6 polylines
        assert len(root.findall(f"{NS}polyline")) == 6

    def test_pmp_svg(self, tmp_path):
        p = PMP(_sig()).compute(8, 12)
        out = str(tmp_path / "pmp.svg")
        p.visualize(out)
        root = ET.parse(out).getroot()
        texts = [t.text for t in root.findall(f"{NS}text")]
        assert {"w=8", "w=12"} <= set(texts)
        assert len(root.findall(f"{NS}rect")) > 100  # heat cells

    def test_inf_profile_cells_skipped(self, tmp_path):
        """+Inf cells (exclusion / no-neighbor sentinels) must not break
        the polyline scaling."""
        mp = MatrixProfile(_sig(60), None, 8).compute(MPOpts(algorithm="stomp"))
        mp.mp[5] = np.inf
        out = str(tmp_path / "inf.svg")
        mp.visualize(out)
        assert ET.parse(out).getroot() is not None

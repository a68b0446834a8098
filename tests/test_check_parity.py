"""tools/check_parity.py checks the package of its own checkout."""

from __future__ import annotations

from pathlib import Path

from tools import check_parity


def test_parity_harness_imports_its_own_checkout():
    # a copy of the repo (a parent commit, a mutation copy) must run
    # its own queries, not those of another checkout
    root = Path(__file__).resolve().parents[1]
    assert Path(check_parity.REPO) == root
    import tvbigdataproject_spark

    assert Path(tvbigdataproject_spark.__file__).resolve().parents[1] == root

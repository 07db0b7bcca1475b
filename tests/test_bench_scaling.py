"""The scaling headline estimator in tools/bench_scaling.py (pure; no
Spark): median over clean pairs, contended pairs (efficiency > 1)
excluded, max/max only as an upper bound."""

import importlib.util
import os

import pytest

_PATH = os.path.join(os.path.dirname(__file__), "..", "tools",
                     "bench_scaling.py")
_spec = importlib.util.spec_from_file_location("bench_scaling", _PATH)
bs = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(bs)

LEVELS, DOCS = [4, 16], 1000


def _pair(n_dps, xn_dps, levels=LEVELS, docs=DOCS):
    return {"N": {"docs_per_sec": n_dps}, "4N": {"docs_per_sec": xn_dps},
            "efficiency": round(xn_dps / n_dps / 4, 3),
            "levels": levels, "docs": docs}


@pytest.mark.parametrize("effs, median", [
    ([0.5, 0.9, 0.6, 0.7, 0.8], 0.7),
    ([0.6, 0.9, 0.7, 0.8], 0.7),       # even count: the lower median
])
def test_headline_is_the_median_clean_pair_not_the_max(effs, median):
    hist = [_pair(1000, 4000 * e) for e in effs]
    pick = bs.headline(hist, LEVELS, DOCS)
    assert pick["median"]["efficiency"] == median
    assert len(pick["clean"]) == len(effs)


def test_contended_pairs_are_excluded():
    hist = [_pair(1000, 2400),                 # 0.6, clean
            _pair(1000, 3200),                 # 0.8, clean
            _pair(900, 3900),                  # 1.083: N leg depressed
            _pair(500, 2400),                  # 1.2: N leg depressed
            _pair(1000, 2800, docs=DOCS * 2),  # other shape
            _pair(1000, 3600, levels=[2, 8])]  # other shape
    pick = bs.headline(hist, LEVELS, DOCS)
    assert [p["efficiency"] for p in pick["clean"]] == [0.6, 0.8]
    assert pick["median"]["efficiency"] == 0.6
    assert len(pick["same_shape"]) == 4
    assert not bs.is_clean(hist[3])


def test_max_max_is_only_an_upper_bound():
    """Per-level maxima combine legs from different pairs (N from the
    first, 4N from the contended third), so their ratio sits above every
    clean pair and never becomes the headline."""
    hist = [_pair(1000, 2400), _pair(700, 2000),
            _pair(700, 3000)]                  # 1.071: contended
    pick = bs.headline(hist, LEVELS, DOCS)
    ub = pick["upper_bound"]
    assert (ub["N"], ub["4N"]) == (1000, 3000)
    assert ub["efficiency"] == 0.75
    assert ub["efficiency"] > max(p["efficiency"] for p in pick["clean"])
    assert pick["median"]["efficiency"] == 0.6


def test_no_clean_pair_gives_no_headline():
    hist = [_pair(900, 3900), _pair(500, 2400)]
    pick = bs.headline(hist, LEVELS, DOCS)
    assert pick["median"] is None and pick["clean"] == []
    assert bs.headline([], LEVELS, DOCS)["upper_bound"] is None

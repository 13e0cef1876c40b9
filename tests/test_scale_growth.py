"""Two-scale candidate-growth gate (VERDICT r3 #1).

Pins ~linear candidate growth for EVERY dedup/ANN candidate generator:
the same generator, same parameters as its registered query, on 1× and
4× corpora from an identical generative process with scale-invariant
duplicate density (fixtures.ensure_scalegrowth). A quadratic defect —
the r2 thin-chunk simhash keys, 1-shared-fp winnow candidacy — reads
as ≈ 16× for the 4× corpus; the gate allows GROWTH_RATIO_MAX plus an
additive noise floor for generators whose 1× counts are tiny (the
incremental path finds single-digit candidates at 500 docs, where one
extra bucket collision would dominate a pure ratio).

Mirrors the reference's contract-test posture
(exporter/exportertest/contract_checker.go:27-83): an invariant the
implementation must keep, checked mechanically per round.
"""

from __future__ import annotations

import pytest

from opentelemetry_collector_spark.plans import scale_growth

NOISE_FLOOR = 64  # absolute slack for single-digit 1× candidate counts
BASE_DOCS = 500  # CI scale; bench.py --scale-growth runs 5000/2000
BASE_VECS = 200


@pytest.fixture(scope="module")
def report(spark):
    return scale_growth.growth_report(
        spark, base_docs=BASE_DOCS, base_vecs=BASE_VECS
    )


@pytest.mark.parametrize("name", scale_growth.GENERATORS)
def test_candidate_growth_is_linear(report, name):
    g = report["generators"][name]
    lo, hi = g["x1"]["candidates"], g["x4"]["candidates"]
    limit = scale_growth.GROWTH_RATIO_MAX * lo + NOISE_FLOOR
    assert hi <= limit, (
        f"{name}: candidates {lo} → {hi} for a 4× corpus "
        f"(limit {limit:.0f}) — superlinear candidate generation"
    )


@pytest.mark.parametrize("name", scale_growth.GENERATORS)
def test_generators_find_planted_duplicates(report, name):
    """Anti-vacuity: a generator that emits zero candidates at both
    scales would pass the growth gate while finding nothing. The
    components generator always returns one label row per doc
    (results == n even with zero edges), so ITS anti-vacuity signal
    is the edge-candidate count, not the result count."""
    g = report["generators"][name]
    if name == "neardup_components":
        assert g["x4"]["candidates"] > 0, f"{name} found no pairs at 4×"
    else:
        assert g["x4"]["results"] > 0, f"{name} found no duplicates at 4×"


def test_components_rounds_stay_diameter_bounded(report):
    """The duplicate-cluster structure is scale-invariant in the
    fixture, so a 4× corpus must not need meaningfully more rounds to
    converge (a growing round count would mean chains growing with n)."""
    g = report["generators"]["neardup_components"]
    assert g["x1"]["rounds"] >= 1
    assert g["x4"]["rounds"] <= g["x1"]["rounds"] + 2
    # labels cover every doc at both scales
    assert g["x1"]["results"] == g["x1"]["n"]
    assert g["x4"]["results"] == g["x4"]["n"]


def test_star_rounds_stay_logarithmic_and_labels_match(report):
    """The two-phase star algorithm's claim is round-count
    depth-INDEPENDENCE (O(log n)): at both scales it must converge in
    a handful of rounds, not grow with the corpus, and its labels must
    cover every doc of the pair graph neardup_minhash verifies."""
    g = report["generators"]["neardup_components"]
    p = report["generators"]["neardup_minhash"]
    for s in ("x1", "x4"):
        assert 1 <= g[s]["rounds"] <= 8
        assert g[s]["results"] == g[s]["n"]
        # the components edge list IS neardup_minhash's verified pair
        # list: identical NON-EMPTY counts (0 == 0 would be vacuous)
        assert g[s]["candidates"] == p[s]["results"] > 0
    assert g["x4"]["rounds"] <= g["x1"]["rounds"] + 2


def test_ivf_probe_recall_holds_at_both_scales(report):
    """Candidate growth alone can't show the probe still finds the
    true neighbors — strong-neighbor (planted-twin) recall must hold
    as n grows (the fit subsamples via md5-Bernoulli at 4×; the
    metric itself raises if the query set carries no twins)."""
    g = report["generators"]["ann_ivf_probe"]
    assert g["x1"]["recall"] >= 0.8
    assert g["x4"]["recall"] >= 0.8
    # probe scan volume stays the n_probes/n_cells fraction: 4/16 of
    # the corpus ± cell-imbalance slack
    for s in ("x1", "x4"):
        frac = g[s]["candidates"] / g[s]["n"]
        assert 0.05 <= frac <= 0.6, f"{s}: probe scans {frac:.2f} of corpus"

"""session.fits, the one regime gate, and the scale_regime fixture that
forces every gate to its scale side."""

from __future__ import annotations

from contextlib import nullcontext

import pandas as pd
import pytest

from htrc_ingester_spark.operators import clustering as C
from htrc_ingester_spark.operators import dissolve as DV
from htrc_ingester_spark.operators import graph as G
from htrc_ingester_spark.session import fits


@pytest.mark.parametrize("size,budget,want", [
    (0, 0, False),  # budget 0 forces the scale regime, even when empty
    (0, 10, True),
    (10, 10, True),
    (11, 10, False),
    (-1, 10, False),  # an unknown estimate takes the scale regime
])
def test_fits_contract(size, budget, want):
    assert fits(size, budget) is want


def _vecs(s):
    # an emptied pandas-built LocalRelation: Catalyst estimates 0 bytes
    one = s.createDataFrame(pd.DataFrame({"vec_id": [1], "embedding": [[0.0] * 8]}))
    return one.where("vec_id < 0")


def _empty(s, schema):
    return s.createDataFrame([], schema)


# entry -> (module, its driver-regime helper, rows, run on an empty input)
_EMPTY_RUNS = {
    "kmeans_fit": (C, "_np_train_rows", [[], []],
                   lambda s: C.kmeans_fit(_vecs(s), k=3, iters=2, dim=8)),
    "pq_fit_encode": (C, "_np_train_rows", [[], []],
                      lambda s: C.pq_fit_encode(_vecs(s), m=2, k=3, iters=2, dim=8)),
    "shortest_paths": (G, "_np_bellman_ford", [[(7, 0)]],
                       lambda s: [G.shortest_paths(_empty(s, "src long, dst long, w long"), [7], 2)]),
    "connected_components": (DV, "_cc_driver", [[]],
                             lambda s: [DV.connected_components(_empty(s, "cell long"), 5)]),
    "connected_components_edges": (DV, "_uf_edges", [[]], lambda s: [
        DV.connected_components_edges(_empty(s, "id_a long, id_b long"))]),
}


@pytest.mark.parametrize("entry", list(_EMPTY_RUNS))
def test_scale_regime_holds_on_empty_input(spark, scale_regime, monkeypatch, entry):
    """An empty input fits every positive budget, so only the budget-0
    rule keeps it off the driver: by default the driver-regime helper
    runs, under scale_regime the distributed path runs instead, and
    both return the same rows."""
    mod, helper, want, run = _EMPTY_RUNS[entry]
    calls, real = [], getattr(mod, helper)
    monkeypatch.setattr(mod, helper, lambda *a: calls.append(1) or real(*a))
    for regime, driver_calls in ((nullcontext, [1]), (scale_regime, [])):
        calls.clear()
        with regime():
            got = [sorted(map(tuple, df.collect())) for df in run(spark)]
        assert calls == driver_calls, regime
        assert got == want

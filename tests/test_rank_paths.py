"""Every caller of the rank kernel (functions/ranks.py) gives the same
rows on both of its plans: the one-window plan that the size rule
picks at the test scales, and the two-level bucketed plan that bigger
marginals take. Compared at driver strength
(``driver_model.compare_frames``: exact values, typed) at sf0.001 and
sf0.01."""

from __future__ import annotations

import pytest

from cdc_2025_spark.functions import ranks
from cdc_2025_spark.queries import QUERIES, pending_r16
from cdc_2025_spark.queries.driver_model import compare_frames

CALLERS = {
    name: QUERIES[name]
    for name in (
        "stats_spearman_price_quantity",
        "stats_kruskal_wallis_segments",
        "stats_ks_drift_segments",
        "stats_mann_whitney_u",
        "eval_score_ks_separation",
        "stats_equidepth_histogram",
    )
}
# staged (unregistered) callers with oracle tests in test_pending_r16
CALLERS.update(
    (name, pending_r16._PENDING[name][0])
    for name in (
        "stats_jonckheere_terpstra",
        "stats_quintile_shares",
        "stats_goodman_kruskal_gamma",
        "stats_somers_d",
        "eval_spearman_footrule",
        "stats_wilcoxon_signed_rank",
    )
)


# marginals that descend from a join: Catalyst estimates a join at
# the product of its inputs' sizes (~25 MB for KS drift's 647-row
# marginal at sf0.001), so the size rule keeps the bucketed plan
BUCKETED_BY_SIZE = {"stats_kruskal_wallis_segments", "stats_ks_drift_segments"}


def _duck_type(dt) -> str:
    name = dt.simpleString().upper()
    return {"STRING": "VARCHAR", "INT": "INTEGER"}.get(name, name)


@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"])
@pytest.mark.parametrize("name", list(CALLERS))
def test_window_and_bucketed_plans_give_the_same_rows(
    spark, monkeypatch, name, sf_dir
):
    fits = ranks._fits_one_task
    chosen = []

    def spy(marg):
        chosen.append(fits(marg))
        return chosen[-1]

    # first the plan the size rule picks, then the other one
    monkeypatch.setattr(ranks, "_fits_one_task", spy)
    by_size = CALLERS[name](spark, sf_dir)
    by_size_rows = [tuple(r) for r in by_size.collect()]
    window = name not in BUCKETED_BY_SIZE
    assert chosen and all(c == window for c in chosen), chosen

    monkeypatch.setattr(ranks, "_fits_one_task", lambda marg: not window)
    other = CALLERS[name](spark, sf_dir)
    other_rows = [tuple(r) for r in other.collect()]

    assert by_size.schema.simpleString() == other.schema.simpleString()
    assert by_size_rows
    failure = compare_frames(
        by_size.columns,
        by_size_rows,
        other.columns,
        [_duck_type(f.dataType) for f in other.schema.fields],
        other_rows,
    )
    assert failure is None, f"{name}: {failure}"

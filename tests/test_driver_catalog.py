"""The declared driver catalog (plans/registry.DRIVER_CATALOG): the
import-time split of the registry keeps its order, partitions every
registered query, and fails loudly on a bad declaration."""

from __future__ import annotations

import pytest

from bigdata_commerce_spark import plans
from bigdata_commerce_spark.plans.registry import DRIVER_CATALOG, REGISTERED


def test_split_follows_the_declaration():
    assert list(plans.QUERIES) == list(DRIVER_CATALOG)
    assert set(plans.QUERIES) | set(plans.TWIN_QUERIES) == set(REGISTERED)
    assert not set(plans.QUERIES) & set(plans.TWIN_QUERIES)
    assert set(plans.ORACLES) <= set(plans.QUERIES)
    assert set(plans.TWIN_ORACLES) <= set(plans.TWIN_QUERIES)


_TWIN = next(n for n in REGISTERED if n not in DRIVER_CATALOG)


@pytest.mark.parametrize(
    "catalog, error, match",
    [
        (DRIVER_CATALOG[:-1] + ("no_such_query",), KeyError, "not registered"),
        (DRIVER_CATALOG[:-1] + (DRIVER_CATALOG[0],), ValueError, "duplicate"),
        (DRIVER_CATALOG + (_TWIN,), ValueError, "slot cap"),
    ],
    ids=["unknown", "duplicate", "over-cap"],
)
def test_bad_declaration_raises(monkeypatch, catalog, error, match):
    monkeypatch.setattr(plans, "DRIVER_CATALOG", catalog)
    with pytest.raises(error, match=match):
        plans._split_catalog()

"""Query catalog: the reference's ten requirements (plus the
relational and training-data operator suites) as (Spark, oracle-SQL)
pairs over the shared testdata."""

from bigdata_commerce_spark.plans import (  # noqa: F401
    catalog,
    catalog_dataops,
    catalog_relational_ext,
)
from bigdata_commerce_spark.plans.registry import (
    DRIVER_CATALOG,
    DRIVER_SLOT_CAP,
    REGISTERED,
    QueryFn,
)


def _split_catalog() -> tuple[
    dict[str, QueryFn], dict[str, str], dict[str, QueryFn], dict[str, str]
]:
    """Split the registry in one pass: the names in DRIVER_CATALOG (in
    declared order) and their oracles, then every other name as a
    twin. Loud on an unknown or duplicate name and on the slot cap."""
    if len(DRIVER_CATALOG) > DRIVER_SLOT_CAP:
        raise ValueError(
            f"driver catalog over its {DRIVER_SLOT_CAP}-slot cap: {len(DRIVER_CATALOG)}"
        )
    dupes = sorted({n for n in DRIVER_CATALOG if DRIVER_CATALOG.count(n) > 1})
    if dupes:
        raise ValueError(f"duplicate driver catalog names: {dupes}")
    unknown = sorted(set(DRIVER_CATALOG) - set(REGISTERED))
    if unknown:
        raise KeyError(f"driver catalog names not registered: {unknown}")

    driver = set(DRIVER_CATALOG)
    queries, oracles, twins, twin_oracles = {}, {}, {}, {}
    for name in (*DRIVER_CATALOG, *(n for n in REGISTERED if n not in driver)):
        fn, oracle = REGISTERED[name]
        fns, sqls = (queries, oracles) if name in driver else (twins, twin_oracles)
        fns[name] = fn
        if oracle is not None:
            sqls[name] = oracle
    return queries, oracles, twins, twin_oracles


QUERIES, ORACLES, TWIN_QUERIES, TWIN_ORACLES = _split_catalog()

__all__ = ["QUERIES", "ORACLES", "TWIN_QUERIES", "TWIN_ORACLES"]

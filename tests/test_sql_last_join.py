"""SQL LAST JOIN through ``SqlEngine``: the point-in-time shape and the
same join with a residual condition take different ``last_join``
strategies (``union_asof`` and ``shuffle``) and must return the same
rows, including the prefixed right key column ``meta.conv_id``, which
is NULL on unmatched left rows (reference ``JOIN_CLAUSE.md``)."""

from __future__ import annotations

import pytest

SELECT = (
    "SELECT t.v, t.ts, meta.conv_id AS mc, meta.model AS mm, meta.ts AS mts "
    "FROM turns t LAST JOIN meta ORDER BY meta.ts "
    "ON t.conv_id = meta.conv_id AND meta.ts {op} t.ts{extra}"
)
# holds on every meta row (w is never NULL and never negative), so it
# changes the route but not the result
RESIDUAL = " AND meta.w >= 0"

# (v → model) per comparison; v identifies the left row
EXPECTED = {
    "<=": {1.0: None, 2.0: "a", 3.0: "c", 4.0: "c", 5.0: "z", 6.0: None, 7.0: None},
    "<": {1.0: None, 2.0: None, 3.0: "a", 4.0: "c", 5.0: None, 6.0: None, 7.0: None},
}


@pytest.fixture()
def eng(spark):
    from openmldb_spark.sql import SqlEngine

    e = SqlEngine(spark)
    e.register("turns", spark.createDataFrame(
        [("c1", 1, 1.0), ("c1", 2, 2.0), ("c1", 6, 3.0), ("c1", 9, 4.0),
         ("c2", 1, 5.0), ("c3", 5, 6.0), ("c1", None, 7.0)],
        "conv_id string, ts bigint, v double"))
    # c1 has two rows at ts 6: the max tiebreak ('c') wins on both routes
    e.register("meta", spark.createDataFrame(
        [("c1", 2, "a", 1), ("c1", 6, "b", 1), ("c1", 6, "c", 0), ("c2", 1, "z", 5)],
        "conv_id string, ts bigint, model string, w int"))
    return e


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("op", ["<=", "<"])
def test_asof_and_residual_routes_agree(eng, op):
    asof = eng.sql(SELECT.format(op=op, extra=""))
    resid = eng.sql(SELECT.format(op=op, extra=RESIDUAL))
    # the pure point-in-time join is the union route (no join node);
    # the residual condition forces the row_number join
    assert "Join" not in _plan(asof) and "Union" in _plan(asof)
    assert "Join" in _plan(resid)

    rows = sorted(tuple(r) for r in asof.collect())
    assert rows == sorted(tuple(r) for r in resid.collect())
    assert {r[0]: r[3] for r in rows} == EXPECTED[op]
    for v, ts, mc, mm, mts in rows:
        # right key and ts are NULL exactly when the row found no match
        assert (mc is None) == (mm is None) == (mts is None)
        if mm is not None:
            assert mc == ("c2" if v == 5.0 else "c1")
            assert mts <= ts if op == "<=" else mts < ts
    # NULL left ts (v=7) and an unknown conversation (v=6) match nothing
    assert all(r[2] is None for r in rows if r[0] in (6.0, 7.0))

"""Standing recall floors at the SECOND measured decade (r9 judge ask #6).

The pinned-config recall claim at 2M vectors must be a re-runnable
assertion, not a one-off sweep row: this test runs the SAME auto-derived
configs the gated queries use (tools/ann_recall.auto_floors — the code
path that writes RECALL_spark_graft_sf100.json) against the big fixture
and asserts every floor.

Marked ``bigfixture`` and gated on SPARK_GRAFT_BIGFIXTURE=1 plus the
fixture dir existing: the run costs minutes (a 2M-vector brute-force
baseline) and needs /tmp/spark_graft_sf100 (tools/make_sf.py
/tmp/spark_graft_sf10 /tmp/spark_graft_sf100 10 documents,embeddings),
so the default suite skips it; the round workflow runs it explicitly:

    SPARK_GRAFT_BIGFIXTURE=1 python -m pytest -m bigfixture -q
"""

import os

import pytest

SF100 = "/tmp/spark_graft_sf100"

pytestmark = [
    pytest.mark.bigfixture,
    pytest.mark.skipif(
        os.environ.get("SPARK_GRAFT_BIGFIXTURE") != "1"
        or not os.path.isdir(SF100),
        reason="needs SPARK_GRAFT_BIGFIXTURE=1 and /tmp/spark_graft_sf100",
    ),
]


def test_auto_config_recall_floors_hold_at_2m_vectors(spark):
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from tools.ann_recall import auto_floors

    result = auto_floors(spark, SF100, k=5, n_queries=25)
    assert result["n_corpus"] >= 2_000_000
    floors = {r["method"]: r for r in result["rows"] if "floor" in r}
    assert set(floors) == {"lsh", "ivf", "pq_rerank"}
    failures = {m: r for m, r in floors.items() if not r["ok"]}
    assert not failures, (
        f"auto-config recall floors broken at 2M vectors: {failures}"
    )

"""CDC semantics of the cluster tier's signature + label stores.

An `I` row for a doc_id the stores already hold is an upsert, as in a
MERGE INTO: whatever the rest of its batch, the doc takes the new text's
signature, and the labels equal a from-scratch `build_label_store` over
the stored signatures.
"""

from __future__ import annotations

import pytest

from emr_apache_iceberg_workshop_spark.plans import dedup
from emr_apache_iceberg_workshop_spark.tables import SnapshotTable
from tests.test_cluster_apply_jobs import _doc


def _labels(t) -> dict:
    return {r.doc_id: r.label for r in t.scan().collect()}


@pytest.mark.parametrize("cap", [None, 0], ids=["driver", "distributed"])
def test_insert_on_a_stored_key_upserts_in_every_batch_shape(
    spark, tmp_path, monkeypatch, cap
):
    """Docs 0-5 are one family and doc 10 another; `I 3 <doc 10's text>`
    moves doc 3 into doc 10's component, alone and next to a `D 5`. Both
    the driver fast path and, with a probe cap of 0, the distributed
    fallback land the same state."""
    if cap is not None:
        monkeypatch.setattr(dedup, "_CLUSTER_LOCAL_MAX", cap)
        ran = []
        distributed = dedup._cluster_cdc_distributed
        monkeypatch.setattr(
            dedup,
            "_cluster_cdc_distributed",
            lambda *a: ran.append(True) or distributed(*a),
        )
    corpus = spark.createDataFrame(
        [(i, _doc(0, i)) for i in range(6)] + [(10, _doc(1, 0))],
        "doc_id bigint, text string",
    )
    move = ("I", 3, _doc(1, 0))
    shapes = {"insert": [move], "mixed": [move, ("D", 5, None)]}
    sig3 = {}
    for shape, rows in shapes.items():
        root = tmp_path / shape
        dedup.build_signature_store(spark, corpus, str(root / "sigs"))
        sig = SnapshotTable(spark, str(root / "sigs"))
        lab = dedup.build_label_store(spark, sig, str(root / "labels"))
        assert _labels(lab) == {0: 0, 1: 0, 2: 0, 3: 0, 4: 0, 5: 0, 10: 10}
        batch = spark.createDataFrame(rows, "Op string, doc_id bigint, text string")
        dedup.apply_cdc_batch_clusters(spark, batch, sig, lab)

        got = _labels(lab)
        assert got[3] == got[10] == 3 and got[0] == 0, (shape, got)
        rebuilt = dedup.build_label_store(spark, sig, str(root / "rebuilt"))
        assert got == _labels(rebuilt), shape
        sig3[shape] = [tuple(r) for r in sig.scan().filter("doc_id = 3").collect()]
    assert len(sig3["insert"]) == 1
    assert sig3["insert"] == sig3["mixed"]
    if cap is not None:
        assert ran == [True, True]

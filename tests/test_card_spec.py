"""Degenerate-input matrix over every additive `Card` spec: the one-shot
card (`Card.batch`) equals its three-batch replay (`Card.replay`, the
fold of pmod(doc_id, 3) micro-batch counts) — on empty, all-NULL,
one-row and one-source (or one-type) frames; the one-source frames
carry a NULL-id row, which the replay must not drop. Spark DataFrames
only, no streams."""

from __future__ import annotations

from datetime import datetime

import pytest
from etl_staging_spark.llmdata import simsearch, stats
from etl_staging_spark.operators import events as ev
from tests.conftest import nsafe_sorted

DOCS = "doc_id long, text string, source string"
EVENTS = (
    "event_id long, ts timestamp, user_id long, event_type string,"
    " value double, props string"
)
DROPS = "doc_id long, source string, embedding array<float>"
CENTS = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
E0, E1 = [0.9, 0.1, 0.0, 0.0], [0.1, 0.8, 0.1, 0.0]
T0 = datetime(2024, 1, 1, 10)

# per input kind: (schema, id column, rows per degenerate case)
FRAMES = {
    "docs": (DOCS, "doc_id", {
        "empty": [],
        "all_null": [(1, None, "s1"), (2, None, "s2"), (3, None, None)],
        "one_row": [(1, "mail bob@example.com the of and", "s1")],
        "one_source": [
            (1, "the of and to in it is", "s1"),
            (2, "call 555-123-4567 id 123456789", "s1"),
            (3, "der die und das ist", "s1"),
            (4, None, "s1"),
            (5, "", "s1"),
            (None, "the of and", "s1"),
        ],
    }),
    "events": (EVENTS, "event_id", {
        "empty": [],
        "all_null": [
            (1, T0, 1, "view", None, None),
            (2, T0, 2, "click", None, None),
            (3, T0, 1, None, None, None),
        ],
        "one_row": [(1, T0, 1, "view", 1.005, None)],
        "one_source": [
            (1, T0, 1, "view", 1.005, None),
            (2, T0, 2, "view", 2.0, None),
            (3, T0, 1, "view", None, None),
            (4, T0, 3, "view", float("nan"), None),
            (None, T0, 4, "view", 3.0, None),
        ],
    }),
    "drops": (DROPS, "doc_id", {
        "empty": [],
        "all_null": [(1, "s1", None), (2, "s2", None), (3, None, None)],
        "one_row": [(1, "s1", E0)],
        "one_source": [
            (1, "s1", E0), (2, "s1", E1), (3, "s1", E0), (4, "s1", None),
            (None, "s1", E1),
        ],
    }),
}


# every additive card spec: (Card, input kind)
SPECS = {
    "length": (stats.length_spec(), "docs"),
    "ttr": (stats.ttr_spec(), "docs"),
    "pii": (stats.pii_spec(), "docs"),
    "charclass": (stats.charclass_spec(), "docs"),
    "fertility": (stats.FERTILITY_SPEC, "docs"),
    "truncation": (stats.truncation_spec(4), "docs"),
    "concentration": (stats.concentration_spec(), "docs"),
    "quality_lang": (stats.quality_lang_spec(), "docs"),
    "volume": (ev.VOLUME_SPEC, "events"),
    "cluster_share": (
        simsearch.cluster_share_spec(3, CENTS, n_centroids=2), "drops"
    ),
}
CASES = ("empty", "all_null", "one_row", "one_source")


def _outcome(build):
    """Sorted rows, or the exception type when building or running the
    card raises (both paths must then raise alike)."""
    try:
        return nsafe_sorted(tuple(r) for r in build().collect())
    except ValueError as e:
        return type(e).__name__


@pytest.mark.parametrize("case", CASES)
@pytest.mark.parametrize("name", SPECS)
def test_card_batch_equals_three_batch_fold(spark, name, case):
    card, kind = SPECS[name]
    schema, id_col, rows = FRAMES[kind]
    # replay splits on doc_id; volume_counts never reads the id column
    df = spark.createDataFrame(rows[case], schema).withColumnRenamed(
        id_col, "doc_id"
    )
    want = _outcome(lambda: card.batch(df))
    assert _outcome(lambda: card.replay(df)) == want
    if isinstance(want, str):
        # only the cluster-share card refuses input: no vector means no
        # cell geometry population to take shares of
        assert name == "cluster_share" and case in ("empty", "all_null")

"""The additive dataset-card spec, shared by the batch and streaming sides.

A dataset card is ADDITIVE when it splits into per-key counts that
merge by summation and a presentation that reruns on the merged,
bounded counts frame: the card over a corpus equals ``finish`` over
the summed counts of any split of that corpus. `Card` declares the
four facts every consumer of such a card needs — the counts and
finish functions, the key columns of the counts frame (every other
column is a count) and the parameters that are part of a maintained
state's identity — so the batch card (`Card.batch`), its three-batch
registry twin (`Card.replay`) and the streaming maintainer
(`streaming.ingest.additive_card_stream`) all read them from one
declaration. Each card declares its spec once, next to its counts and
finish functions (`llmdata.stats`, `operators.events.VOLUME_SPEC`,
`llmdata.simsearch.cluster_share_spec`).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def fold_state(log: DataFrame, key_cols: tuple[str, ...]) -> DataFrame:
    """THE delta-log merge, shared by the per-batch refresh, the
    registry fold twins and the offline compaction so they can never
    diverge (key set, sum, bigint cast). The count columns are read
    from the frame itself: every column except ``key_cols`` and the
    delta log's ``batch_id`` partition column is summed, so no caller
    restates (and possibly misnames) a card's count columns."""
    return log.groupBy(*key_cols).agg(
        *[
            F.sum(c).cast("bigint").alias(c)
            for c in log.columns
            if c not in key_cols and c != "batch_id"
        ]
    )


@dataclass(frozen=True)
class Card:
    """One additive card: ``counts`` maps a frame to its per-key counts
    (the ``key_cols``, then integer count columns and nothing else);
    ``finish`` maps counts — one batch's or a folded log's — to the
    card. ``params`` (JSON-serializable, or None) is the state
    identity a maintained delta log records and checks on restart
    (`streaming.ingest._guard_card_params`): counts taken under
    different params must never merge."""

    counts: Callable[[DataFrame], DataFrame]
    finish: Callable[[DataFrame], DataFrame]
    key_cols: tuple[str, ...]
    params: dict | None = None

    def batch(self, df: DataFrame) -> DataFrame:
        """The one-shot card over ``df``."""
        return self.finish(self.counts(df))

    def fold(self, log: DataFrame) -> DataFrame:
        """Merge a log of counts frames (a ``batch_id`` column is
        ignored) to one counts frame."""
        return fold_state(log, self.key_cols)

    def replay(self, docs: DataFrame) -> DataFrame:
        """The card as a stream would emit it after ``docs`` arrived in
        three micro-batches (pmod(doc_id, 3)): per-batch counts,
        folded, finished — the batch twin of the streaming maintenance
        path. Equal to :meth:`batch` for every additive card; the
        registry fold entries certify that against the batch card's
        oracle. The split is NULL-safe: pmod(NULL, 3) is NULL and would
        match no batch, so a NULL-doc_id row lands in batch 0."""
        bucket = F.coalesce(F.pmod("doc_id", F.lit(3)), F.lit(0))
        log = self.counts(docs.where(bucket == 0))
        for b in (1, 2):
            log = log.unionByName(self.counts(docs.where(bucket == b)))
        return self.finish(self.fold(log))

"""Event-stream batch analytics entries: sessionization, funnel,
cohort retention over the events table — batch twins of the streaming
session operators (`streaming/events.py`), same gap semantics."""

from __future__ import annotations

from ..operators import events as ev
from ..tables import load
from .registry import query


@query("events_sessionize", oracle=ev.o_sessionize())
def events_sessionize(spark, sf_dir):
    """Gap-based sessionization (30-min idle breaks a session), one row
    per session with bounds and exact-decimal value total. Two stacked
    windows over ONE user_id partitioning plus a per-session aggregate
    that reuses it — a single shuffle end to end, parallelism = #users
    (`operators/events.py`)."""
    return ev.sessionize(load(spark, sf_dir, "events"))


@query("events_funnel", oracle=ev.o_funnel())
def events_funnel(spark, sf_dir):
    """First-touch ordered funnel (view -> click after it -> purchase
    after that): per-step conditional aggregates chained through a
    bounded per-user frontier frame, every join user-keyed equi; stage
    counts completed steps."""
    return ev.funnel(load(spark, sf_dir, "events"))


@query("events_cohort_retention", oracle=ev.o_cohort_retention())
def events_cohort_retention(spark, sf_dir):
    """Weekly cohort retention triangle: first-seen week per user
    (user-keyed aggregate) x distinct active weeks, joined on user_id
    and counted — windowless, two shuffles, both map-combinable."""
    return ev.cohort_retention(load(spark, sf_dir, "events"))


@query("events_resample", oracle=ev.o_resample_counts())
def events_resample(spark, sf_dir):
    """Gap-filled 6-hour resample: dense (bucket x event_type) grid
    generated from a 1-row bounds aggregate (sequence+explode) crossed
    with the bounded type dim, observed counts left-joined, zero-filled
    — a missing bucket is a signal, so it must be a row."""
    return ev.resample_counts(load(spark, sf_dir, "events"))


@query("events_anomaly_zscore", oracle=ev.o_anomaly_zscore())
def events_anomaly_zscore(spark, sf_dir):
    """Rolling z-score anomalies over the gap-filled per-type count
    series (8-bucket trailing baseline, |z| > 2): integer-exact
    sum/sum-of-squares in a type-partitioned window over the bounded
    bucket axis; the zero-filled grid makes silent-outage buckets
    scorable (`operators/events.py`)."""
    return ev.anomaly_zscore(load(spark, sf_dir, "events"))


@query("events_attribution", oracle=ev.o_attribution_first_touch())
def events_attribution(spark, sf_dir):
    """First-touch purchase attribution — the batch twin of the
    stream-stream attribution join (`streaming/events.py`): each
    purchase credits the same user's EARLIEST click in the preceding
    hour; unattributed purchases kept with NULL click columns. The join
    is user-keyed equi with the bounded time-range predicate (the same
    condition that bounds the streaming join's state); first-touch is
    one min(struct) aggregate, no window (`operators/events.py`)."""
    return ev.attribution_first_touch(load(spark, sf_dir, "events"))


@query("events_transitions", oracle=ev.o_transitions())
def events_transitions(spark, sf_dir):
    """Markov transition counts over per-user event sequences — the
    path-analysis primitive. One lag() on the shared user_id exchange,
    then a map-combinable count on the bounded |types|^2 key space
    (`operators/events.py`)."""
    return ev.transitions(load(spark, sf_dir, "events"))


@query("events_paths_topk", oracle=ev.o_paths_topk())
def events_paths_topk(spark, sf_dir):
    """Top-10 most frequent 3-step event-type paths across user
    sequences — the k-step extension of `events_transitions`. Two lags
    on the shared user_id exchange, a count on the bounded |types|^3
    key space, and a TakeOrdered cut of that tiny frame with a
    deterministic step-ascending tie-break (`operators/events.py`)."""
    return ev.paths_topk(load(spark, sf_dir, "events"))


@query("events_active_users", oracle=ev.o_active_users())
def events_active_users(spark, sf_dir):
    """DAU / trailing-7-day WAU / stickiness per active day. The corpus
    collapses first to distinct (user, day); WAU derives from that
    bounded frame by exploding each user-day to the <= 7 days it keeps
    the user active — a projection, never a range self-join over raw
    events (`operators/events.py`)."""
    return ev.active_users(load(spark, sf_dir, "events"))


@query("events_volume_card", oracle=ev.o_volume_card())
def events_volume_card(spark, sf_dir):
    """Per-event-type volume card (registered r14, pulled forward from
    the r16 queue): event count, non-NULL value count, exact-decimal
    value total — the ops-dashboard rollup `streaming.ingest.
    events_volume_stream` maintains incrementally (same additive
    counts + `Card.fold` machinery as the documents cards). ONE
    map-side-combinable aggregate on the bounded event-type key; no
    join, no window, no Python (`operators/events.py:volume_card`)."""
    return ev.volume_card(load(spark, sf_dir, "events"))


@query("events_interarrival_card", oracle=ev.o_interarrival_card())
def events_interarrival_card(spark, sf_dir):
    """Per-event-type inter-arrival/burstiness card (new r14): mean and
    max gap between consecutive same-type events per user, plus the
    Fano factor (gap variance over mean — Poisson ~1, bursty >>1,
    metronome <<1) from exact integer-second gap sums. ONE lag window
    over the (user_id, event_type) partition (the sessionize shuffle
    family) -> ONE bounded aggregate (`operators/events.py:
    interarrival_card`)."""
    return ev.interarrival_card(load(spark, sf_dir, "events"))

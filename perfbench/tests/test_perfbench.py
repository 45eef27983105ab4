"""Unit tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import numpy as np
import pytest

HERE = Path(__file__).resolve().parent.parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import compare  # noqa: E402
import gen  # noqa: E402
import report  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402


def _all_inputs(seed: int) -> str:
    tabs = gen.make_tables(seed, 0.02, 60, 40)
    plants = gen.corpus_plants(seed, tabs["documents"], 3, {"exact": 0.05, "near": 0.05,
                                                            "semantic": 0.05, "contaminated": 0.05})
    base = np.array(tabs["embeddings"].column("embedding").to_pylist(), dtype=np.float32)
    emb = gen.corpus_embeddings(seed, base, plants["n_input"], plants["truth"]["semantic"])
    resident = gen.resident_table(tabs["documents"], 3, plants["plants"])
    batch = gen.ingest_batch(seed, resident, 20, 0.1, 0.1)
    return gen.inputs_digest({
        **tabs, "plants": plants["plants"], "bench": plants["bench"], "emb": emb,
        "resident": resident,
        "truth": plants["truth"], "requests": gen.ledger_requests(seed),
        "batch": batch["lines"],
    })


def test_same_seed_same_inputs_other_seed_other_inputs():
    assert _all_inputs(7) == _all_inputs(7)
    assert _all_inputs(7) != _all_inputs(8)


def test_request_shapes_are_fixed_and_the_seed_moves_the_rest():
    reqs = gen.ledger_requests(3)
    assert sorted(r["type"] for r in reqs) == sorted(gen.REQUEST_TYPES)
    assert {r["comparisons"] for r in reqs} == {0, 1, 2}
    assert {r["width"] for r in reqs} == set(gen.WIDTHS)
    assert all(r["date_from"] <= r["as_of"] <= r["date_to"] for r in reqs)
    shapes = lambda rs: sorted((r["type"], r["width"], r["comparisons"]) for r in rs)  # noqa: E731
    other = gen.ledger_requests(4)
    assert shapes(reqs) == shapes(other)
    assert reqs != other


def test_planted_semantic_pairs_are_the_only_close_pairs():
    tabs = gen.make_tables(5, 0.02, 80, 40)
    plants = gen.corpus_plants(5, tabs["documents"], 2, {"exact": 0.02, "near": 0.02,
                                                         "semantic": 0.05, "contaminated": 0.02})
    base = np.array(tabs["embeddings"].column("embedding").to_pylist(), dtype=np.float32)
    emb = gen.corpus_embeddings(5, base, plants["n_input"], plants["truth"]["semantic"])
    v = np.array(emb.column("embedding").to_pylist())
    cos = v @ v.T
    np.fill_diagonal(cos, 0)
    close = {tuple(sorted(p)) for p in zip(*np.nonzero(cos >= 0.8))}
    assert close == {tuple(sorted(p)) for p in plants["truth"]["semantic"]}


def test_planted_malformed_lines_do_not_parse():
    b = gen.ingest_batch(2, gen.make_tables(2, 0.02, 80, 10)["documents"], 50, 0.1, 0.1)
    bad = 0
    for line in b["lines"]:
        try:
            json.loads(line)
        except json.JSONDecodeError:
            bad += 1
    assert bad == b["n_malformed"] == 5
    assert len(b["copies"]) == 5


def test_perturbed_result_is_caught():
    wl = workloads.Workload(ctx=None)
    rows = [(1, "a", 2.5), (2, "b", 3.0)]
    wl.digests["op"] = workloads.digest(["k", "s", "v"], rows)
    # row order does not matter ...
    wl.check_digest("op", workloads.digest(["k", "s", "v"], rows[::-1]))
    # ... one changed cell does
    with pytest.raises(workloads.CheckFailed):
        wl.check_digest("op", workloads.digest(["k", "s", "v"], [(1, "a", 2.5), (2, "b", 3.01)]))
    # and an op without a first pass cannot pass
    with pytest.raises(workloads.CheckFailed):
        wl.check_digest("other", workloads.digest(["k", "s", "v"], rows))


class _FakeDF:
    columns = ["key", "value"]

    def __init__(self, rows):
        self.rows = rows

    def collect(self):
        return self.rows


class _FakeSpark:
    class catalog:  # noqa: N801 - mirrors SparkSession.catalog
        @staticmethod
        def clearCache():  # noqa: N802 - mirrors the Spark API
            pass


def _fake_ledger(perturb=None):
    """LedgerReports with the Spark calls replaced by fixed results per
    request; ``perturb`` names a request type whose result changes after
    the warm-up."""
    class Ctx:
        seed, tracer, spark = 1, tracing.Tracer(None, False), _FakeSpark()

    wl = workloads.LedgerReports(Ctx())
    wl.requests = gen.ledger_requests(1)
    wl.oracle_checks = lambda: []
    wl._render = lambda req, cols, rows: "<table></table>"
    wl.warm = True
    wl._build = lambda req: _FakeDF(
        [(req["type"], req["as_of"]), (req["date_from"], req["comparisons"] + (
            0 if wl.warm or req["type"] != perturb else 1))])
    return wl


def test_timed_loop_checks_every_timed_request_against_the_warm_up():
    wl = _fake_ledger()
    assert wl.warmup() == []
    wl.warm = False
    loop = run.timed_loop(wl, wl.ctx.tracer, wl.ctx.spark, seconds=0)
    assert (loop["attempted"], loop["failed"]) == (wl.op_set(), 0)
    assert wl.op_set() == workloads.LEDGER_PASSES * len(wl.requests)
    assert len(wl.digests) == len(wl.requests)


@pytest.mark.parametrize("kind", ["as_of", "gl_sums_hg"])
def test_timed_loop_catches_a_result_that_changed_since_the_warm_up(kind):
    wl = _fake_ledger(perturb=kind)
    wl.warmup()
    wl.warm = False
    loop = run.timed_loop(wl, wl.ctx.tracer, wl.ctx.spark, seconds=0)
    assert (loop["attempted"], loop["failed"]) == (wl.op_set(), workloads.LEDGER_PASSES)


def test_timed_loop_times_whole_repeats_of_the_op_set():
    wl = _fake_ledger()
    wl.warmup()
    wl.warm = False
    t_end = run.time.perf_counter() + 0.05
    loop = run.timed_loop(wl, wl.ctx.tracer, wl.ctx.spark, seconds=0.05)
    assert run.time.perf_counter() >= t_end
    assert loop["attempted"] % wl.op_set() == 0 and loop["failed"] == 0


def test_perturbed_corpus_output_is_caught():
    wl = workloads.CorpusBuild(ctx=None)
    wl.truth = {"exact": [(100, 1)], "near": [(101, 2)], "semantic": [(102, 3)],
                "contaminated": [(103, 4)]}

    class Ver:
        ok = True

    deduped, written = {1, 2, 3, 4, 103, 7}, {1, 2, 3, 4, 7}
    wl.check([Ver()], deduped, written)
    # LSH recall is below 1: a surviving near or semantic copy is allowed
    wl.check([Ver()], deduped | {101, 102}, written)
    for bad in ((deduped | {100}, written), (deduped - {1}, written),
                (deduped - {3}, written), (deduped, written | {103})):
        with pytest.raises(workloads.CheckFailed):
            wl.check([Ver()], *bad)
    Ver.ok = False
    with pytest.raises(workloads.CheckFailed):
        wl.check([Ver()], deduped, written)


def test_compare_requires_equal_outputs_per_seed():
    runs = [{"workload": "w", "seed": 1, "outputs": "a"}, {"workload": "w", "seed": 2,
                                                         "outputs": "b"}]
    assert compare.output_mismatches(runs) == []
    assert compare.output_mismatches(runs + [{"workload": "w", "seed": 1, "outputs": "c"}])


def test_perturbed_ingest_batch_is_caught():
    b = {"n_malformed": 2, "copies": {10: 3, 11: 4}}
    good = {"rejected": 2, "matches": {(10, 3), (11, 4), (12, 5)}, "card": [1], "gated": 5}
    workloads.WritePath.check(b, good)
    for bad in ({**good, "rejected": 1}, {**good, "rejected": 3},
                {**good, "matches": {(10, 3)}}, {**good, "card": []}):
        with pytest.raises(workloads.CheckFailed):
            workloads.WritePath.check(b, bad)


def _span(i, parent, start, end):
    return tracing.Span(i, f"s{i}", "op", parent, start, end)


def test_self_time_subtracts_merged_children():
    spans = [_span(0, None, 0.0, 10.0), _span(1, 0, 1.0, 4.0), _span(2, 0, 3.0, 5.0),
             _span(3, 0, 8.0, 12.0), _span(4, 1, 1.5, 2.0)]
    # children cover [1, 5] and [8, 10] of the parent: 6 s of 10
    assert tracing.self_time(spans[0], spans) == pytest.approx(4.0)
    # a grandchild counts against its own parent only
    assert tracing.self_time(spans[1], spans) == pytest.approx(2.5)
    assert tracing.self_time(spans[4], spans) == pytest.approx(0.5)


@pytest.mark.parametrize("n,p", [(10, None), (16, None), (20, None), (21, 52), (40, 75),
                                 (100, 90), (1000, 99)])
def test_tail_percentile_keeps_ten_samples_beyond(n, p):
    assert tracing.tail_percentile(n) == p
    if p:
        beyond = n - int(np.ceil(n * p / 100))
        assert beyond >= 10
        assert n - int(np.ceil(n * (p + 1) / 100)) < 10 or p == 99


def test_tail_value_is_the_ranked_sample():
    lat = [float(i) for i in range(1, 41)]  # 40 samples -> p75 -> 30th
    assert report.tail(lat) == (30.0, 75)
    assert report.tail(lat[:10]) == (None, None)


def test_metric_names_follow_the_pattern_and_match_benchmark_json():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == report.END_TO_END
    assert layer == report.per_layer_units()
    for name in [*e2e, *layer, *(w["name"] for w in spec["workloads"])]:
        assert tracing.check_metric_name(name) == name
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)
    for bad in ("", "_x", "a b", "x" * 65, "a/b"):
        with pytest.raises(ValueError):
            tracing.check_metric_name(bad)


def test_varying_stage_counts_are_split_from_the_totals():
    spans = [tracing.Span(0, "pipeline.pass", "p", None, 0.0, 9.0),
             tracing.Span(1, "corpus.dedup_near", "p", 0, 1.0, 2.0),
             tracing.Span(2, "driver.build", "p", 1, 1.0, 2.0),
             tracing.Span(3, report.VARYING_STAGE, "p", 0, 2.0, 3.0),
             tracing.Span(4, "driver.build", "p", 3, 2.0, 3.0),
             tracing.Span(5, "spark.action", "p", 3, 2.5, 3.0)]
    assert report.under(spans, report.VARYING_STAGE) == {3, 4, 5}

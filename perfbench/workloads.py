"""The benchmark workloads. Each is a closed loop with one client: the
next op starts only after the previous one returned and was checked. An
op is one report request (ledger_reports) or one batch-job pass
(corpus_build).

Every call into the package goes through a public function, wrapped in
a tracer span named after the layer it enters; the benchmark reaches
into no module's internals.
"""

from __future__ import annotations

import functools
import hashlib
import importlib.util
import os
import time
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

import gen

ROOT = Path(__file__).resolve().parent.parent


class CheckFailed(Exception):
    """An op returned, but its output is wrong."""


@functools.cache
def load_tool(name: str):
    """Import ``tools/<name>.py`` from the checkout by path."""
    spec = importlib.util.spec_from_file_location(
        f"perfbench_tool_{name}", ROOT / "tools" / f"{name}.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def digest(cols: list[str], rows: list) -> str:
    """Order-insensitive digest of a result (the correctness harness's
    table hash)."""
    return load_tool("check").table_hash(cols, [tuple(r) for r in rows])[0]


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``, hidden bookkeeping files included."""
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return total, files


class Workload:
    """Set-up, the op list and the checks of one workload. ``ctx`` holds
    the session, tracer, work directory, seed and core count."""

    name = ""

    def __init__(self, ctx):
        self.ctx = ctx
        self.digests: dict = {}
        self.layer: dict = {}
        self.inputs: dict = {}
        # digest of the run's outputs, equal for every run of a seed;
        # ``--compare`` requires base and change runs to agree on it
        self.outputs_digest = ""

    # -- set-up ---------------------------------------------------------
    def generate(self, data_dir: str) -> None:
        raise NotImplementedError

    def prepare(self) -> None:
        """Set-up work after generation that a fresh session repeats."""

    def warmup(self) -> list[str]:
        """Once-per-process set-up (compiles each query shape, records
        each timed op's first-pass digest); returns the set-up checks
        that failed."""
        return []

    # -- timed loop -----------------------------------------------------
    def next_op(self, i: int):
        """The op the ``i``-th iteration of the timed loop runs."""
        return i

    def run_op(self, op) -> int:
        """Run one op, check its output, return the items it processed.
        Raises CheckFailed (or anything the package raised) on failure."""
        raise NotImplementedError

    def check_digest(self, key, value: str) -> None:
        """A timed op's digest must equal its first-pass digest."""
        first = self.digests.get(key)
        if first is None:
            raise CheckFailed(f"{key}: no first-pass digest")
        if first != value:
            raise CheckFailed(f"{key}: digest {value[:12]} != first pass {first[:12]}")

    def finish(self) -> dict:
        """Workload-specific end-to-end figures for the summary line."""
        return {}

    def op_set(self) -> int:
        """Ops in the timed set. A run times whole repeats of it, at least
        one, and a traced run exactly one, so every run times the same
        mix of ops whatever the program's speed."""
        return 1

    def after_trace(self) -> None:
        """Counts a traced run gathers after its timed ops."""


# ---------------------------------------------------------------------------
# ledger_reports
# ---------------------------------------------------------------------------

# Request type -> its registry twin (same public function, fixed options)
# whose DuckDB oracle is hash-compared in set-up over the same files.
LEDGER_TWINS = {
    "gl_sums": "gl_report", "gl_sums_hg": "hg_column_groups",
    "executive_summary": "es_report", "aged_receivable": "aged_report",
    "stock_ageing": "sa_stock_ageing", "stock_netting": "a9_ledger_netting",
    "as_of": "c4_asof_reconstruction", "snapshot_diff": "c2_snapshot_diff",
}
# Request type -> the layer its public function belongs to (span names).
LEDGER_LAYERS = {
    "gl_sums": "engines", "gl_sums_hg": "engines", "executive_summary": "engines",
    "aged_receivable": "reports", "stock_ageing": "etl", "stock_netting": "operators",
    "as_of": "audit", "snapshot_diff": "audit",
}
LEDGER_SCALE = 0.25
# Passes over the request set in one op set: two samples of every
# request make a run's median steadier than one (one pass: 27% spread
# over ten seeds; README, "Steadiness").
LEDGER_PASSES = 2


class LedgerReports(Workload):
    name = "ledger_reports"

    def generate(self, data_dir):
        seed = self.ctx.seed
        tabs = gen.make_tables(seed, LEDGER_SCALE, 500, 500)
        gen.write_tables(tabs, data_dir)
        self.data = data_dir
        self.requests = gen.ledger_requests(seed)
        self.inputs = {
            "rows": {k: v.num_rows for k, v in tabs.items()},
            "requests": len(self.requests),
            "digest": gen.inputs_digest({**tabs, "requests": self.requests}),
        }

    def oracle_checks(self) -> list[str]:
        """Hash-compare every request type's registry twin against its
        DuckDB oracle over the generated files."""
        import duckdb

        import __spark_entry__ as entry

        queries, oracles = entry.queries(), entry.oracle_sql()
        con = duckdb.connect()
        try:
            for t in gen.BASE_ROWS | {"region": 0, "nation": 0}:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{os.path.join(self.data, t + '.parquet')}'")
            failed = []
            for kind, twin in LEDGER_TWINS.items():
                spark_df = queries[twin](self.ctx.spark, self.data)
                got = digest(spark_df.columns, spark_df.collect())
                res = con.execute(oracles[twin])
                want = digest([d[0] for d in res.description], res.fetchall())
                if got != want:
                    failed.append(f"oracle {twin}")
            return failed
        finally:
            con.close()

    def warmup(self):
        """The oracle twins, then the first pass over the timed requests,
        which records each one's digest: after the twins compiled each
        type's query shapes a request's first run is still slower than
        its later ones, by an amount that varies from run to run."""
        failed = self.oracle_checks()
        for i in range(len(self.requests)):
            try:
                self.digests[i] = self.result_digest(i)
            except CheckFailed as e:
                failed.append(f"first pass of request {i}: {e}")
        self.layer.clear()
        self.outputs_digest = hashlib.sha256(" ".join(
            self.digests.get(i, "-") for i in range(len(self.requests))).encode()).hexdigest()
        return failed

    def next_op(self, i):
        return i % len(self.requests)

    def op_set(self):
        return LEDGER_PASSES * len(self.requests)

    def _options(self, req):
        from etl_staging_spark.engines.options import build_comparison, make_options

        opts = make_options(req["date_from"], req["date_to"])
        if req["comparisons"]:
            opts = build_comparison(opts, "previous_period", req["comparisons"])
        if req["type"] == "gl_sums_hg":
            opts = {**opts, "horizontal_groups": {"field": "company_id", "values": [0, 1, 2]}}
        return opts

    def _build(self, req):
        from pyspark.sql import functions as F

        from etl_staging_spark.audit import changelog
        from etl_staging_spark.engines.ledger import move_lines
        from etl_staging_spark.etl.registers import stock_ageing
        from etl_staging_spark.operators.netting import net_ledger
        from etl_staging_spark.reports.aged_partner import aged_receivable
        from etl_staging_spark.reports.executive_summary import executive_summary
        from etl_staging_spark.reports.general_ledger import gl_sums
        from etl_staging_spark.tables import load

        spark, d, kind = self.ctx.spark, self.data, req["type"]
        if kind == "gl_sums":
            return gl_sums(move_lines(spark, d), self._options(req))
        if kind == "gl_sums_hg":
            return gl_sums(move_lines(spark, d, spread=True), self._options(req))
        if kind == "executive_summary":
            return executive_summary(spark, move_lines(spark, d), self._options(req))
        if kind == "aged_receivable":
            return aged_receivable(load(spark, d, "orders"), load(spark, d, "lineitem"),
                                   req["as_of"])
        if kind == "stock_ageing":
            return stock_ageing(load(spark, d, "lineitem"), req["as_of"])
        if kind == "stock_netting":
            return net_ledger(
                load(spark, d, "lineitem"), keys=["l_partkey"], qty="l_quantity",
                is_in=F.col("l_returnflag") == "N", is_out=F.col("l_returnflag") == "R",
                as_of=F.lit(req["as_of"]).cast("timestamp"), date_col="l_shipdate")
        if kind == "as_of":
            return changelog.as_of(load(spark, d, "events"), req["t1"])
        return changelog.snapshot_diff(load(spark, d, "events"), req["t1"], req["t2"])

    @staticmethod
    def _render(req, cols, rows) -> str:
        from etl_staging_spark.reports.html import render_report_html

        idx = {c: i for i, c in enumerate(cols)}
        groups = sorted({r[idx["column_group_key"]] for r in rows})
        by_key: dict = {}
        for r in rows:
            key = (r[idx["key"]], r[idx["groupby"]])
            by_key.setdefault(key, {})[r[idx["column_group_key"]]] = r[idx["balance"]]
        lines = [
            {"id": f"{k}-{g}", "name": f"{g}", "level": 1 if k == "sum" else 2,
             "columns": [{"no_format": vals.get(cg)} for cg in groups]}
            for (k, g), vals in sorted(by_key.items(), key=lambda kv: (kv[0][0], str(kv[0][1])))
        ]
        return render_report_html(f"General ledger {req['date_from']}..{req['date_to']}",
                                  groups, lines)

    def run_op(self, i):
        self.check_digest(i, self.result_digest(i))
        return 1

    def result_digest(self, i) -> str:
        """Run request ``i`` through its public function, render GL
        results, and return the result's digest."""
        req, tr = self.requests[i], self.ctx.tracer
        with tr.span(f"{LEDGER_LAYERS[req['type']]}.{req['type']}", f"req{i}"):
            with tr.span("driver.build"):
                df = self._build(req)
            if tr.enabled:
                with tr.span("catalyst.plan"):
                    df._jdf.queryExecution().executedPlan()
            with tr.span("spark.action"):
                cols, rows = df.columns, df.collect()
            if req["type"].startswith("gl_sums"):
                with tr.span("reports.render"):
                    html = self._render(req, cols, rows)
                if "<table" not in html:
                    raise CheckFailed("GL render produced no table")
        self.layer["result_rows"] = self.layer.get("result_rows", 0) + len(rows)
        return digest(cols, rows)


# ---------------------------------------------------------------------------
# corpus_build
# ---------------------------------------------------------------------------

CORPUS_BASE_DOCS = 50
CORPUS_REPLICAS = 4
CORPUS_SHARES = {"exact": 0.03, "near": 0.03, "semantic": 0.03, "contaminated": 0.02}
BATCH_DOCS = 60
MALFORMED_SHARE = 0.03
COPY_SHARE = 0.05
CORPUS_SHARDS = 8
CORPUS_SEQ_LEN = 512
QUALITY_MIN = 0.5
DOMAIN_CAP = 10**6
INDEX = "perfbench_ix"
# The pipeline author's materialisation points (README: an
# unmaterialised chain re-references its input once per gate).
MATERIALIZE_AFTER = ("dedup_semantic", "domain_cap")
JSONL_SCHEMA = (("doc_id", "long"), ("text", "string"), ("source", "string"))


class CorpusBuild(Workload):
    """One batch job, run cold: a new JSONL shard arrives through the
    streaming write path into the resident corpus's dedup index, then the
    whole corpus is built into packed, verified training shards. A batch
    job pays its JVM and code-generation warm-up on every launch, so
    there is no warm-up pass."""

    name = "corpus_build"

    def generate(self, data_dir):
        seed = self.ctx.seed
        tabs = gen.make_tables(seed, 0.05, CORPUS_BASE_DOCS, 500)
        gen.write_tables(tabs, data_dir)
        plants = gen.corpus_plants(seed, tabs["documents"], CORPUS_REPLICAS, CORPUS_SHARES)
        resident = gen.resident_table(tabs["documents"], CORPUS_REPLICAS, plants["plants"])
        self.batch = gen.ingest_batch(seed, resident, BATCH_DOCS, MALFORMED_SHARE, COPY_SHARE)
        n_ids = max(i for i, _ in self.batch["docs"]) + 1
        base = np.array(tabs["embeddings"].column("embedding").to_pylist(), dtype=np.float32)
        emb = gen.corpus_embeddings(seed, base, n_ids, plants["truth"]["semantic"])
        for name, tab in (("plants", plants["plants"]), ("bench", plants["bench"]),
                          ("corpus_emb", emb)):
            pq.write_table(tab, os.path.join(data_dir, f"{name}.parquet"))
        self.data, self.truth = data_dir, plants["truth"]
        self.n_input = plants["n_input"] + self.batch["n_docs"]
        self.resident_bytes = sum(len(t.encode()) for t in resident.column("text").to_pylist())
        self.inputs = {
            "input_docs": self.n_input, "resident_docs": plants["n_input"],
            "replicas": CORPUS_REPLICAS, "base_docs": CORPUS_BASE_DOCS,
            "planted": {k: len(v) for k, v in self.truth.items()},
            "batch_docs": BATCH_DOCS, "malformed_share": MALFORMED_SHARE,
            "copy_share": COPY_SHARE,
            "digest": gen.inputs_digest({
                "documents": tabs["documents"], "embeddings": tabs["embeddings"],
                "plants": plants["plants"], "bench": plants["bench"], "corpus_emb": emb,
                "batch": self.batch["lines"]}),
        }

    def prepare(self):
        spark = self.ctx.spark
        replicated = load_tool("scaling_probe").replicated
        read = lambda n: spark.read.parquet(os.path.join(self.data, f"{n}.parquet"))  # noqa: E731
        cols = [c for c, _ in JSONL_SCHEMA]
        self.resident = replicated(spark, self.data, CORPUS_REPLICAS).unionByName(
            read("plants")).select(*cols)
        self.bench = read("bench")
        self.emb = read("corpus_emb")

    def stages(self):
        """(stage, call) in chain order."""
        emb = self.emb
        return [
            ("clean", lambda p: p.clean()),
            ("dedup_exact", lambda p: p.dedup_exact()),
            ("dedup_near", lambda p: p.dedup_near()),
            ("dedup_semantic", lambda p: p.dedup_semantic(emb.select("doc_id", "embedding"))),
            ("decontaminate", lambda p: p.decontaminate(self.bench)),
            ("quality_gate", lambda p: p.quality_gate(QUALITY_MIN)),
            ("repetition_gate", lambda p: p.repetition_gate()),
            ("domain_cap", lambda p: p.domain_cap(DOMAIN_CAP)),
            ("mixture_by_cluster_share", lambda p: p.mixture_by_cluster_share(
                emb.select("vec_id", "embedding"), int(self.n_input * 0.8))),
            ("split", lambda p: p.split({"train": 0.9, "val": 0.05, "test": 0.05})),
        ]

    def run_op(self, i):
        from etl_staging_spark.llmdata import trainset
        from etl_staging_spark.llmdata.pipeline import CorpusPipeline

        tr, spark = self.ctx.tracer, self.ctx.spark
        work = os.path.join(self.ctx.work, f"pass{i}")
        out = os.path.join(work, "trainset")
        probes, segments = {}, []
        with tr.span("pipeline.pass", f"pass{i}"):
            arrived = WritePath(self, work, f"{INDEX}{i}").run()
            pipe = CorpusPipeline(self.resident.unionByName(arrived))
            try:
                for stage, call in self.stages():
                    with tr.span(f"corpus.{stage}"):
                        if stage in ("dedup_near", "dedup_semantic"):
                            probes[stage] = pipe.frame()
                        with tr.span("driver.build"):
                            call(pipe)
                        if stage in MATERIALIZE_AFTER:
                            with tr.span("spark.action"):
                                kept = pipe.frame().localCheckpoint()
                            segments.append(pipe)
                            pipe.release()
                            pipe = CorpusPipeline(kept)
                    if stage == "dedup_semantic":
                        with tr.span("pipeline.check"):
                            deduped = {r.doc_id for r in kept.select("doc_id").collect()}
                with tr.span("corpus.to_training_set"):
                    manifest = pipe.to_training_set(out, CORPUS_SHARDS, CORPUS_SEQ_LEN)
                with tr.span("trainset.verify"):
                    ver = trainset.verify_training_set(spark, out, manifest, CORPUS_SHARDS).collect()
                    written = {r.doc_id for r in spark.read.parquet(out).select("doc_id").collect()}
            finally:
                pipe.release()
        if tr.enabled and i == 0:
            self.traced = (segments + [pipe], probes)
        self.check(ver, deduped, written)
        self.outputs_digest = digest(
            ["shard", "n_docs", "n_tokens", "content_xor"],
            [(r.shard, r.n_docs, r.n_tokens, r.content_xor) for r in ver])
        if i == 0:
            self.layer["removed"] = {
                k: sum(1 for c, _ in v if c not in deduped) for k, v in self.truth.items()}
            self.layer["trainset_bytes"], self.layer["trainset_files"] = dir_bytes(out)
            self.layer["written"] = len(written)
        return self.n_input

    def check(self, ver, deduped: set, written: set) -> None:
        """The shards verify; exact dedup removed every planted exact copy;
        no dedup stage dropped the source (the lower id) of a planted pair;
        no planted contaminated doc reached the shards. The near and
        semantic stages find pairs through LSH, whose recall is below 1, so
        a planted near or semantic copy may survive; the traced run counts
        how many were removed."""
        if not ver or not all(r.ok for r in ver):
            raise CheckFailed("verify_training_set failed")
        kept = [c for c, _ in self.truth["exact"] if c in deduped]
        if kept:
            raise CheckFailed(f"{len(kept)} planted exact copies survived dedup")
        for kind in ("exact", "near", "semantic"):
            lost = [s for _, s in self.truth[kind] if s not in deduped]
            if lost:
                raise CheckFailed(f"{kind} dedup dropped {len(lost)} planted sources")
        leaked = [c for c, _ in self.truth["contaminated"] if c in written]
        if leaked:
            raise CheckFailed(f"{len(leaked)} planted contaminated docs written")

    def finish(self):
        return {"ingest_bytes_stored_per_input_byte": self.layer["stored_per_input_byte"]}

    def after_trace(self) -> None:
        """Stage row counts and pair-kernel probes of the traced pass,
        computed after its timing."""
        segments, probes = self.traced
        self.layer["funnel"] = {k: n for p in segments for k, n in p.funnel()[1:]}
        self.layer["funnel"]["to_training_set"] = self.layer["written"]
        self.layer["probes"] = self.pair_probes(probes)

    def pair_probes(self, frames) -> dict:
        """Candidate and verified pair counts of the two dedup kernels on
        the frames that entered their stages (traced runs only)."""
        from etl_staging_spark.llmdata import dedup, simsearch
        from etl_staging_spark.tables import release_pinned

        def count(df):
            n = df.count()
            release_pinned(df)
            return n

        near = frames["dedup_near"]
        scoped = self.emb.select("doc_id", "embedding").join(
            frames["dedup_semantic"].select("doc_id"), "doc_id", "left_semi")
        return {
            "lsh_candidates": count(dedup.lsh_candidate_pairs(dedup.minhash_signatures(near))),
            "lsh_verified": count(dedup.minhash_lsh_pairs(near)),
            "mt_candidates": count(simsearch.mt_dup_pairs(
                scoped, 0.8, gen.EMB_DIM, id_col="doc_id", candidates_only=True)),
            "mt_verified": count(simsearch.mt_dup_pairs(
                scoped, 0.8, gen.EMB_DIM, id_col="doc_id")),
        }


class WritePath:
    """The streaming write path of one pass: index the resident corpus,
    then land the arriving JSONL batch; three available-now streams run
    over the drop directory, each with its own checkpoint, and the card
    stream's delta log is compacted. Returns the accepted new docs."""

    def __init__(self, wl: CorpusBuild, work: str, index: str):
        self.wl, self.index = wl, index
        self.drop = os.path.join(work, "drop")
        self.state = os.path.join(work, "card_state")
        self.ckpt = {q: os.path.join(work, "ckpt", q) for q in ("gated", "dedup", "card")}
        os.makedirs(self.drop)

    def run(self):
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType, StringType, StructField, StructType

        from etl_staging_spark.etl.jsonl_io import read_jsonl, validate_documents
        from etl_staging_spark.llmdata import dedup

        wl, tr, b = self.wl, self.wl.ctx.tracer, self.wl.batch
        types = {"long": LongType(), "string": StringType()}
        self.schema = StructType([StructField(c, types[t]) for c, t in JSONL_SCHEMA])
        with tr.span("dedup.write_signature_index"):
            dedup.write_signature_index(wl.resident.select("doc_id", "text"), self.index,
                                        n_buckets=4)
        t0 = time.perf_counter()
        got = self.land(b)
        wl.layer["batch_s"] = time.perf_counter() - t0
        self.check(b, got)
        wl.layer["rejected"], wl.layer["planted_malformed"] = got["rejected"], b["n_malformed"]
        wl.layer["stored_per_input_byte"] = self.stored_bytes() / (
            wl.resident_bytes + b["text_bytes"])
        wl.layer["index_files"] = self.index_bytes()[1]
        wl.layer["card_partitions"] = sum(
            1 for d in os.listdir(self.state) if d.startswith("batch_id="))
        wl.layer["card_state_bytes"] = dir_bytes(self.state)[0]
        matched = sorted({d1 for d1, _ in got["matches"]})
        valid, _ = validate_documents(read_jsonl(wl.ctx.spark, self.drop, self.schema))
        return valid.where(~F.col("doc_id").isin(matched or [-1])).select(
            *[c for c, _ in JSONL_SCHEMA])

    def land(self, b: dict) -> dict:
        from pyspark.sql import functions as F

        from etl_staging_spark.etl.jsonl_io import (
            CORRUPT_COL, jsonl_doc_stream, read_jsonl, validate_documents)
        from etl_staging_spark.llmdata import dedup
        from etl_staging_spark.streaming.ingest import (
            compact_card_state, dedup_ingest_stream, gated_ingest_stream, length_card_stream)

        spark, tr, layer = self.wl.ctx.spark, self.wl.ctx.tracer, self.wl.layer
        path = os.path.join(self.drop, "batch-0000.jsonl")
        with open(path, "w") as fh:
            fh.write("\n".join(b["lines"]) + "\n")
        got: dict = {}
        with tr.span("ingest.batch"):
            with tr.span("etl.jsonl_stream"):
                raw = jsonl_doc_stream(spark, self.drop, self.schema)
                valid = raw.where(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)

            def on_gated(_bid, df):
                got["gated"] = df.count()

            def on_matches(_bid, matches):
                got["matches"] = {(r.d1, r.d2) for r in matches.select("d1", "d2").collect()}
                with tr.span("etl.jsonl_validate"):
                    staged = read_jsonl(spark, path, self.schema).persist()
                    ok, rejected = validate_documents(staged)
                    got["rejected"] = rejected.count()
                    dup_ids = sorted({d1 for d1, _ in got["matches"]})
                    survivors = ok.where(~F.col("doc_id").isin(dup_ids or [-1]))
                with tr.span("dedup.index_append"):
                    dedup.append_signature_index(survivors.select("doc_id", "text"),
                                                 self.index, n_buckets=4)
                staged.unpersist()

            def on_card(_bid, card):
                got["card"] = card.collect()

            # the three queries run side by side, as a service runs its
            # streams; the batch is done when the last one terminates
            with tr.span("streaming.queries") as span:
                queries = {
                    "gated": gated_ingest_stream(
                        valid, on_gated, quality_min=QUALITY_MIN, query_name="gated",
                        checkpoint_dir=self.ckpt["gated"]),
                    "dedup": dedup_ingest_stream(
                        valid.select("doc_id", "text"), self.index, on_matches,
                        query_name="dedup", checkpoint_dir=self.ckpt["dedup"]),
                    "card": length_card_stream(
                        valid, self.state, on_card, query_name="card",
                        checkpoint_dir=self.ckpt["card"]),
                }
                layer["progress"] = {}
                for q, query in queries.items():
                    query.awaitTermination()
                    layer["progress"][q] = _durations(query)
                    span.extra_jobs += tr.query_jobs(query)
            t_c = time.perf_counter()
            with tr.span("streaming.compact"):
                compact_card_state(spark, self.state, ("source", "lo_tokens"),
                                   checkpoint_dir=self.ckpt["card"])
            layer["compact_s"] = time.perf_counter() - t_c
            layer["compact_bytes"] = dir_bytes(self.state)[0]
        return got

    @staticmethod
    def check(b, got):
        if got.get("rejected") != b["n_malformed"]:
            raise CheckFailed(f"rejected {got.get('rejected')} != planted {b['n_malformed']}")
        missing = [c for c, src in b["copies"].items() if (c, src) not in got.get("matches", ())]
        if missing:
            raise CheckFailed(f"{len(missing)} planted copies unmatched")
        if not got.get("card"):
            raise CheckFailed("card stream emitted nothing")
        if "gated" not in got:
            raise CheckFailed("gated stream emitted nothing")

    def index_bytes(self) -> tuple[int, int]:
        wh = os.environ["SPARK_GRAFT_WAREHOUSE"]
        parts = [dir_bytes(os.path.join(wh, d)) for d in os.listdir(wh)
                 if d.startswith(self.index + "_")]
        return sum(b for b, _ in parts), sum(f for _, f in parts)

    def stored_bytes(self) -> int:
        return self.index_bytes()[0] + dir_bytes(self.state)[0]


def _field(progress, name):
    """A StreamingQueryProgress field (an object in newer PySpark, a dict
    in older)."""
    return getattr(progress, name) if hasattr(progress, name) else progress[name]


def _durations(query) -> list[dict]:
    """durationMs of each trigger of an ended query that read rows."""
    return [dict(_field(p, "durationMs")) for p in query.recentProgress
            if _field(p, "numInputRows")]


WORKLOADS = {w.name: w for w in (LedgerReports, CorpusBuild)}

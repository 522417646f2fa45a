"""The benchmark workloads.

Each is a closed loop with one client: ``op(i)`` runs one operation and
the next one starts only after it returns. ``setup`` is the staging a
deployment does before serving and ``warmup`` an unmeasured operation that
takes the one-time costs; both run after every session start and count in
``setup_s``. ``after_op`` and ``check`` are the output checks, made
outside the timed region.

- ``cube_dashboard``: the reference's own traffic, ``CubeClient``
  ``get_data``/``get_members`` calls fetched with ``toPandas()``, over a
  live events cube: every eight requests an ingest cycle lands an events
  batch, drops the events table's cached handle, drains the stream,
  refreshes the rollup partitions the batch touched and reads the rollup.
- ``corpus_pipeline``: a staged LLM-data curation run, each stage written
  with ``sources.sinks.write_parquet`` and read back.
"""

from __future__ import annotations

import os
import statistics
import time

import duckdb
import numpy as np
import pyarrow.dataset as pads
import pyarrow.parquet as pq

import gen
import oracle
import spans as tr
import stats
from adb_south_caucasus_etl_spark.functions import text
from adb_south_caucasus_etl_spark.operators import curation, dedup, similarity
from adb_south_caucasus_etl_spark.plans import client as cube_client
from adb_south_caucasus_etl_spark.plans import rollup
from adb_south_caucasus_etl_spark.plans.cube import DEFAULT_CUBES, CubeQuery
from adb_south_caucasus_etl_spark.sources import registry, sinks
from adb_south_caucasus_etl_spark.streaming import wrappers

#: every per-layer metric and its unit; a workload that does not reach a
#: layer reports 0 for it. Times are seconds per operation (a pipeline, or
#: a tick of an ingest cycle and its requests), averaged over the traced
#: operations; ``session.fetch_s`` and the job and task counts are per
#: request (a dashboard request, or a pipeline).
LAYER_METRICS = {
    "session.start_s": "s",
    "session.peak_rss_mb": "MB",
    "session.fetch_s": "s",
    "session.jobs_per_request": "count",
    "session.tasks_per_request": "count",
    "sources.registry.load_table_s": "s",
    "sources.registry.cache_hit_ratio": "ratio",
    "plans.cube.compile_s": "s",
    "plans.rollup.materialize_s": "s",
    "plans.rollup.refresh_s": "s",
    "plans.rollup.drilldown_s": "s",
    "plans.rollup.files": "count",
    "plans.rollup.bytes_per_row": "bytes/row",
    "streaming.wrappers.drain_s": "s",
    "streaming.wrappers.input_rows": "rows",
    "streaming.wrappers.state_rows": "rows",
    "streaming.wrappers.batches_per_drain": "count",
    "sources.sinks.write_s": "s",
    "sources.sinks.bytes_written": "bytes",
    "sources.sinks.files_written": "count",
    "functions.text.profile_s": "s",
    "operators.dedup.exact_s": "s",
    "operators.dedup.span_s": "s",
    "operators.dedup.lsh_pairs_s": "s",
    "operators.dedup.components_s": "s",
    "operators.dedup.exact_kept": "count",
    "operators.dedup.span_kept": "count",
    "operators.dedup.lsh_pairs": "count",
    "operators.dedup.components": "count",
    "operators.dedup.lsh_pair_recall": "ratio",
    "operators.curation.decontaminate_s": "s",
    "operators.curation.contaminated": "count",
    "operators.similarity.ivf_pq_topk_s": "s",
    "operators.similarity.ann_recall_at_10": "ratio",
    "trace.overhead_s": "s",
}

#: span name (``spans.LAYER_FUNCTIONS`` or harness) → per-layer time metric
_SPAN_METRIC = {
    "sources.registry.load_table": "sources.registry.load_table_s",
    "plans.client.get_data": "plans.cube.compile_s",
    "plans.client.get_members": "plans.cube.compile_s",
    "plans.cube.compile": "plans.cube.compile_s",
    "plans.cube.members": "plans.cube.compile_s",
    "plans.rollup.refresh": "plans.rollup.refresh_s",
    "plans.rollup.drilldown": "plans.rollup.drilldown_s",
    "streaming.wrappers.drain": "streaming.wrappers.drain_s",
    "sources.sinks.write": "sources.sinks.write_s",
    "functions.text.profile": "functions.text.profile_s",
    "operators.dedup.exact": "operators.dedup.exact_s",
    "operators.dedup.span": "operators.dedup.span_s",
    "operators.dedup.lsh_pairs": "operators.dedup.lsh_pairs_s",
    "operators.dedup.components": "operators.dedup.components_s",
    "operators.curation.decontaminate": "operators.curation.decontaminate_s",
    "operators.similarity.ivf_pq_topk": "operators.similarity.ivf_pq_topk_s",
}


def _rows(path: str) -> int:
    """Row count of a parquet output from its footers (no Spark job)."""
    return pads.dataset(path, format="parquet", partitioning="hive").count_rows()


class Workload:
    #: the workload lands the events table itself, in batches
    LANDS_EVENTS = False
    #: operations a run measures at least, whatever ``--seconds`` is
    MIN_OPS = 1
    #: an operation is one request, so the harness counts its jobs;
    #: otherwise the workload counts them per request itself
    JOBS_PER_OP = True

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.root = os.path.join(ctx.work, "out")
        #: (jobs, tasks) of each traced request
        self.request_jobs: list[tuple[int, int]] = []

    @property
    def spark(self):
        return self.ctx.spark

    def setup(self) -> None:
        pass

    def warmup(self) -> None:
        pass

    def keep_going(self, i: int, elapsed: float, seconds: float,
                   op_times: list[float], min_ops: int) -> bool:
        """Start operation ``i``? Yes while it is expected to end within
        the measured window, and always for the first ``min_ops`` and
        ``MIN_OPS``."""
        if i < max(min_ops, self.MIN_OPS):
            return True
        return elapsed + statistics.median(op_times) <= seconds

    def after_op(self, i: int, traced: bool) -> None:
        pass

    def e2e(self) -> tuple[dict[str, float], list[str]]:
        """``latency_p50_s``, ``latency_tail_s``, ``throughput_per_s`` and
        ``freshness_s``, plus report lines naming them per workload."""
        raise NotImplementedError

    def layer_metrics(self, traced: set[str]) -> dict[str, tuple[float, str]]:
        rec = self.ctx.rec
        out = {k: (0.0, u) for k, u in LAYER_METRICS.items()}
        means = tr.mean_self_times(rec.spans, traced)
        for span, metric in _SPAN_METRIC.items():
            if span in means:
                out[metric] = (out[metric][0] + means[span], "s")
        fetches = [st for s, st in zip(rec.spans, tr.self_times(rec.spans))
                   if s.name == "session.fetch" and s.request in traced]
        if fetches:
            out["session.fetch_s"] = (statistics.mean(fetches), "s")
        if rec.handle_calls:
            out["sources.registry.cache_hit_ratio"] = (
                rec.handle_hits / rec.handle_calls, "ratio")
        for k, v in self.extra_layers().items():
            out[k] = (v, LAYER_METRICS[k])
        return out

    def extra_layers(self) -> dict[str, float]:
        return {}


# --------------------------------------------------------------------------


class CubeDashboard(Workload):
    """Dashboard calls Zipf-drawn from a fixed pool, over a cube whose
    events fact is kept fresh by the ETL between requests.

    One operation is a tick: an ingest cycle (land a batch of 1,000 events,
    ``invalidate_table_cache``, stream drain ``read_events_stream`` →
    ``tumbling_counts_stream`` → ``stream_to_parquet_refresh`` with a
    checkpoint kept across cycles, ``refresh_rollup_partitions`` for the
    days the batch touched, ``rollup_drilldown`` reads), then
    ``PER_TICK`` dashboard requests. Freshness runs from the batch landing
    to the refreshed rollup answering its first read."""

    LANDS_EVENTS = True
    JOBS_PER_OP = False
    #: a run measures whole decks of ``gen.DECK`` requests, at least
    #: ``MIN_DECKS`` of them, so the tail percentile has ten samples beyond
    #: p75
    MIN_DECKS = 2
    #: dashboard requests per ingest cycle. No trace of real dashboard and
    #: ETL traffic was available to derive it from: it is an assumption
    #: (an ETL refresh three times per deck)
    PER_TICK = 8
    #: requests of the warm-up: the top tile of each cube. Warming every
    #: pool query adds ~11 s to a run, which its time budget cannot hold
    WARM_REQUESTS = 2
    ROLLUP = CubeQuery(
        "events", ("Day", "Event Type", "Hour"),
        ("Event Count", "Total Value", "Avg Value"),
    )
    READS = (("Day",), ("Hour",))

    def __init__(self, ctx) -> None:
        super().__init__(ctx)
        self.pool = gen.query_pool(ctx.seed)
        self.deck: list[int] = []
        self.history, self.batches = gen.ingest_plan(ctx.seed)
        self.land = os.path.join(ctx.data, "events")  # the cube's events table
        self.hourly = os.path.join(self.root, "hourly")
        self.ckpt = os.path.join(self.root, "checkpoint")
        self.rollup = os.path.join(self.root, "rollup")
        self.latencies: list[float] = []
        self.ranks: list[int] = []
        self.freshness: list[float] = []
        self.reads: list[float] = []
        self.request_s = 0.0
        self.pending: list[tuple[str, tuple, object]] = []
        self.attempted = self.failed = 0
        self.first_failure: str | None = None
        self.progress: list[tuple[int, int]] = []
        self.drains: list[list[tuple[int, int]]] = []
        self.rollup_layout: tuple[int, float] = (0, 0.0)

    # -- ingest ----------------------------------------------------------

    def _land(self, name: str, table) -> None:
        pq.write_table(table, os.path.join(self.land, f"{name}.parquet"))

    def _drain(self) -> None:
        stream = wrappers.read_events_stream(self.spark, self.ctx.data)
        counts = wrappers.tumbling_counts_stream(stream)
        wrappers.stream_to_parquet_refresh(self.spark, counts, self.hourly, self.ckpt)

    def _cycle(self, batch: gen.Batch) -> None:
        self._land(f"batch-{batch.index:05d}", batch.table)
        t_land = time.perf_counter()
        # only the table the ETL writes: the star tables keep their handles
        registry.invalidate_table_cache(self.spark, self.ctx.data, "events")
        self._drain()
        rollup.refresh_rollup_partitions(
            self.spark, self.ctx.data, self.ROLLUP, self.rollup, "day",
            list(batch.days))
        for n, dds in enumerate(self.READS):
            t0 = time.perf_counter()
            pdf = self.ctx.fetch(rollup.rollup_drilldown(
                self.spark, self.rollup, dds, self.ROLLUP.measures, cube="events"))
            t1 = time.perf_counter()
            self.reads.append(t1 - t0)
            if n == 0:
                self.freshness.append(t1 - t_land)
            self.pending.append(("rollup", dds, pdf))

    # -- requests --------------------------------------------------------

    def _call(self, req: gen.Request):
        if req.level:
            return self.client.get_members(req.cube, req.level)
        return self.client.get_data(
            req.cube, list(req.drilldowns), list(req.measures), req.cut_dict())

    def _request(self, idx: int) -> None:
        traced, op = self.ctx.rec.enabled, self.ctx.rec.request
        group = f"{op}/request-{len(self.latencies)}"
        if traced:  # a job group per request, inside the tick's
            self.ctx.jobs.begin(group)
        t0 = time.perf_counter()
        pdf = self.ctx.fetch(self._call(self.pool[idx]))
        latency = time.perf_counter() - t0
        if traced:
            self.request_jobs.append(self.ctx.jobs.end(group))
            self.ctx.jobs.begin(op)
        self.latencies.append(latency)
        self.ranks.append(idx)
        self.request_s += latency
        self.pending.append(("request", idx, pdf))

    # -- loop ------------------------------------------------------------

    def setup(self) -> None:
        os.makedirs(self.land)
        self._land("history", self.history)
        self.client = cube_client.CubeClient(self.spark, self.ctx.data)
        if self.ctx.trace:
            tr.stream_listener(self.spark, self.progress)
        self._drain()
        rollup.materialize_rollup(
            self.spark, self.ctx.data, self.ROLLUP, self.rollup,
            partition_by=["day"])

    def warmup(self) -> None:
        self._cycle(self.batches[0])
        for idx in range(self.WARM_REQUESTS):
            self._request(idx)
        self.pending.clear()
        self.latencies, self.ranks, self.freshness, self.reads = [], [], [], []
        self.request_s = 0.0

    def keep_going(self, i, elapsed, seconds, op_times, min_ops) -> bool:
        ticks = gen.DECK // self.PER_TICK
        if i + 1 >= len(self.batches):
            return False
        if i % ticks:
            return True
        decks = i // ticks
        if decks >= self.MIN_DECKS and elapsed + sum(op_times[-ticks:]) > seconds:
            return False
        self.deck += gen.zipf_deck(self.ctx.seed, round_=decks)
        return True

    def op(self, i: int) -> None:
        self._mark = len(self.progress)
        self._cycle(self.batches[i + 1])
        for idx in self.deck[i * self.PER_TICK:(i + 1) * self.PER_TICK]:
            self._request(idx)

    def after_op(self, i: int, traced: bool) -> None:
        """Compare this tick's hourly counts, rollup reads and requests
        with DuckDB over the files as they are now (untimed)."""
        if traced:
            self.drains.append(self.progress[self._mark:])
            size, files = tr.dir_stats(self.rollup)
            self.rollup_layout = (files, size / max(1, _rows(self.rollup)))
        con = oracle.connect(self.ctx.data, list(gen.SIZES))
        events = DEFAULT_CUBES["events"]
        want = con.sql(
            "SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS window_start_us, "
            "event_type, count(*) AS n FROM events GROUP BY 1, 2").df()
        got = con.sql(
            f"SELECT window_start_us, event_type, n FROM "
            f"read_parquet('{self.hourly}/*.parquet')").df()
        cycle = [oracle.mismatch(got, want, ["window_start_us", "event_type"])]
        for kind, what, pdf in self.pending:
            if kind == "rollup":
                sql = oracle.cube_sql(events, what, self.ROLLUP.measures, None)
                keys = [events.level(d).out_name for d in what]
                cycle.append(oracle.mismatch(pdf, con.sql(sql).df(), keys))
                continue
            req = self.pool[what]
            schema = DEFAULT_CUBES[req.cube]
            if req.level:
                sql = oracle.members_sql(schema, req.level)
                keys = [f"{schema.level(req.level).out_name}_id"]
            else:
                sql = oracle.cube_sql(
                    schema, req.drilldowns, req.measures, req.cut_dict())
                keys = [schema.level(d).out_name for d in req.drilldowns]
            self._count(i, req, oracle.mismatch(pdf, con.sql(sql).df(), keys))
        con.close()
        self.pending.clear()
        self._count(i, "ingest cycle", next((p for p in cycle if p), None))

    def _count(self, i: int, what, problem: str | None) -> None:
        self.attempted += 1
        if problem:
            self.failed += 1
            self.first_failure = self.first_failure or f"tick {i}, {what}: {problem}"

    def check(self) -> tuple[int, int, str]:
        verdict = (
            f"{len(self.latencies)} requests ({len(set(self.ranks))} distinct) and "
            f"{len(self.freshness)} ingest cycles (hourly counts, "
            f"{len(self.READS)} rollup reads each) compared with DuckDB"
        )
        if self.first_failure:
            verdict += f"; first: {self.first_failure}"
        return self.attempted, self.failed, verdict

    def e2e(self) -> tuple[dict[str, float], list[str]]:
        p50 = statistics.median(self.latencies)
        tail, which = stats.tail(self.latencies)
        fresh = statistics.median(self.freshness)
        r_tail, r_which = stats.tail(self.reads)
        by_rank: dict[int, list[float]] = {}
        for idx, t in zip(self.ranks, self.latencies):
            by_rank.setdefault(idx, []).append(t)
        members = sum(1 for idx in self.ranks if self.pool[idx].level)
        n = len(self.latencies)
        metrics = {
            "latency_p50_s": p50,
            "latency_tail_s": tail,
            "throughput_per_s": n / self.request_s,
            "freshness_s": fresh,
        }
        lines = [
            f"dashboard_p50_s = {p50:.4f} s (n={n}, members calls {members})",
            f"dashboard_tail_s = {tail:.4f} s ({which}, n={n})",
            f"dashboard_qps = {n / self.request_s:.4f} 1/s",
            f"ingest_freshness_p50_s = {fresh:.4f} s (n={len(self.freshness)})",
            f"rollup_read_p50_s = {statistics.median(self.reads):.4f} s "
            f"(n={len(self.reads)})",
            f"rollup_read_tail_s = {r_tail:.4f} s ({r_which}, n={len(self.reads)})",
            "median latency by pool rank: " + ", ".join(
                f"{r}:{statistics.median(v):.3f}" for r, v in sorted(by_rank.items())),
        ]
        return metrics, lines

    def extra_layers(self) -> dict[str, float]:
        mats = [
            st for s, st in zip(self.ctx.rec.spans, tr.self_times(self.ctx.rec.spans))
            if s.name == "plans.rollup.materialize"
        ]
        drains = self.drains or [[]]
        return {
            "plans.rollup.materialize_s": statistics.median(mats) if mats else 0.0,
            "plans.rollup.files": self.rollup_layout[0],
            "plans.rollup.bytes_per_row": self.rollup_layout[1],
            "streaming.wrappers.input_rows": statistics.mean(
                sum(r for r, _ in d) for d in drains),
            "streaming.wrappers.state_rows": statistics.mean(
                d[-1][1] if d else 0 for d in drains),
            "streaming.wrappers.batches_per_drain": statistics.mean(
                len(d) for d in drains),
        }


class CorpusPipeline(Workload):
    """text_profile → dedup_exact → span_corpus_dedup → lsh_candidate_pairs
    → connected_components → decontaminate → ivf_pq_topk, each stage
    written and read back. An untimed warm-up pipeline over a 200-document
    slice first takes the one-time costs (code generation, Python worker
    start-up), so the timed pipeline measures the operators."""

    STAGES = ("profile", "exact", "span", "lsh", "components",
              "decontaminate", "ann")
    #: a median of at least two pipelines, so one slow one does not set it
    MIN_OPS = 2
    #: quality guards: IVF-PQ against exact top-10, LSH against exact
    #: Jaccard pairs at the same threshold
    ANN_RECALL_FLOOR = 0.9
    LSH_RECALL_FLOOR = 0.8

    def __init__(self, ctx) -> None:
        super().__init__(ctx)
        self.counts: list[dict[str, int]] = []
        self.stage_stats: dict[str, list[tuple[int, int]]] = {}
        self.runs: list[float] = []

    def _inputs(self, small: bool):
        read = lambda t: sinks.read_parquet(  # noqa: E731
            self.spark, os.path.join(self.ctx.data, f"{t}.parquet"))
        docs, emb, held = read("documents"), read("embeddings"), read("heldout")
        if small:
            docs, emb = docs.filter("doc_id < 200"), emb.filter("vec_id < 200")
        return docs, emb, emb.filter("vec_id % 10 = 0"), held

    def _stage(self, base: str, name: str, df):
        path = os.path.join(base, name)
        with self.ctx.rec.span(f"stage.{name}"):
            sinks.write_parquet(df, path)
            out = sinks.read_parquet(self.spark, path)
        if self.ctx.rec.enabled:
            self.stage_stats.setdefault(name, []).append(tr.dir_stats(path))
        return out

    def _pipeline(self, base: str, small: bool = False) -> None:
        from pyspark.sql import functions as F

        docs, emb, queries, held = self._inputs(small)
        st = lambda name, df: self._stage(base, name, df)  # noqa: E731
        prof = st("profile", text.text_profile(docs))
        exact = st("exact", dedup.dedup_exact(
            prof.withColumn("fp", text.fingerprint("text")), "fp", "doc_id"
        ).select("doc_id", "text"))
        spanned = st("span", dedup.span_corpus_dedup(
            exact, "doc_id", "text", span_tokens=8))
        pairs = st("lsh", dedup.lsh_candidate_pairs(
            spanned, "doc_id", "clean_text", n=3, num_hashes=32, bands=8,
            threshold=0.5))
        comps = st("components", dedup.connected_components(
            pairs.select("id_a", "id_b")))
        losers = comps.filter(F.col("node") != F.col("label")).select(
            F.col("node").alias("doc_id"))
        canon = spanned.join(losers, "doc_id", "left_anti").select(
            "doc_id", F.col("clean_text").alias("text"))
        st("decontaminate", curation.decontaminate(canon, held, "doc_id", "text"))
        # 8 sub-quantizers of 16 centroids suffice on clustered vectors
        # (recall@10 ≥ 0.98 here) and halve the stage against the defaults
        st("ann", similarity.ivf_pq_topk(
            emb, queries, k=10, nprobe=4, m_subvectors=8, ksub=16,
            train_iterations=3))

    def warmup(self) -> None:
        self._pipeline(os.path.join(self.root, "warmup"), small=True)

    def op(self, i: int) -> None:
        t0 = time.perf_counter()
        self._pipeline(self.root)
        self.runs.append(time.perf_counter() - t0)
        self.counts.append(
            {s: _rows(os.path.join(self.root, s)) for s in self.STAGES})

    def check(self) -> tuple[int, int, str]:
        con = duckdb.connect()
        docs = os.path.join(self.ctx.data, "documents.parquet")
        fp = r"md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))"
        exact_sql = f"""
            WITH d AS (SELECT * FROM read_parquet('{docs}')),
            ex AS (SELECT min(doc_id) AS doc_id FROM d GROUP BY {fp}),
            toks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
                     FROM d JOIN ex USING (doc_id)),
            spans AS (SELECT doc_id, i, array_to_string(t[i * 8 + 1 : i * 8 + 8], ' ') AS s
                      FROM (SELECT doc_id, t, unnest(range(0, CAST(ceil(len(t) / 8) AS BIGINT))) AS i
                            FROM toks)),
            firsts AS (SELECT arg_min(doc_id, doc_id * 100000 + i) AS doc_id
                       FROM spans GROUP BY s)
            SELECT (SELECT count(*) FROM ex), (SELECT count(DISTINCT doc_id) FROM firsts)
        """
        want_exact, want_span = con.sql(exact_sql).fetchone()
        failed, notes = 0, []
        for c in self.counts:
            if (c["exact"], c["span"]) != (want_exact, want_span) or c != self.counts[0]:
                failed += 1
        if failed:
            notes.append(f"stage counts {self.counts} vs DuckDB exact {want_exact}, span {want_span}")
        out = lambda s: os.path.join(self.root, s, "*.parquet")  # noqa: E731
        self.components = con.sql(
            f"SELECT count(DISTINCT label) FROM read_parquet('{out('components')}')"
        ).fetchone()[0]
        self.contaminated = con.sql(
            f"SELECT count(*) FROM read_parquet('{out('decontaminate')}') WHERE contaminated"
        ).fetchone()[0]
        self.ann_recall, self.lsh_recall = self._recalls(con, out)
        con.close()
        if self.ann_recall < self.ANN_RECALL_FLOOR or self.lsh_recall < self.LSH_RECALL_FLOOR:
            failed = max(failed, 1)
            notes.append(f"recall below floor: ann {self.ann_recall:.4f}, lsh {self.lsh_recall:.4f}")
        verdict = (
            f"{len(self.counts)} pipelines; exact-dedup {want_exact} and span-dedup "
            f"{want_span} kept docs compared with DuckDB; ann_recall_at_10 "
            f"{self.ann_recall:.4f} (floor {self.ANN_RECALL_FLOOR}), lsh_pair_recall "
            f"{self.lsh_recall:.4f} (floor {self.LSH_RECALL_FLOOR})"
        )
        return len(self.counts), failed, "; ".join([verdict] + notes)

    def _recalls(self, con, out) -> tuple[float, float]:
        """Recall of the approximate stages against exact references made
        here: numpy top-10 cosine (``cosine_topk_exact``'s contract:
        self excluded, cosine rounded to 4, ties to the lower id) and
        DuckDB word-3-shingle Jaccard pairs at the same 0.5 threshold."""
        emb = pq.read_table(os.path.join(self.ctx.data, "embeddings.parquet"))
        ids = emb.column("vec_id").to_numpy()
        vecs = np.array(emb.column("embedding").to_pylist(), dtype="float64")
        unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
        exact_nn = set()
        for qi in np.flatnonzero(ids % 10 == 0):
            cos = np.round(unit @ unit[qi], 4)
            order = [j for j in np.lexsort((ids, -cos)) if j != qi][:10]
            exact_nn.update((int(ids[qi]), int(ids[j])) for j in order)
        ann = set(con.sql(
            f"SELECT query_id, neighbor_id FROM read_parquet('{out('ann')}')").fetchall())
        exact_pairs = set(con.sql(f"""
            WITH t AS (SELECT doc_id, string_split_regex(trim(clean_text), '\\s+') AS w
                       FROM read_parquet('{out('span')}')),
            sh AS (SELECT DISTINCT doc_id, array_to_string(w[i : i + 2], ' ') AS s
                   FROM (SELECT doc_id, w, unnest(range(1, greatest(len(w) - 1, 2))) AS i
                         FROM t)),
            n AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
            k AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS k
                  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
            SELECT id_a, id_b FROM k JOIN n na ON na.doc_id = id_a
                JOIN n nb ON nb.doc_id = id_b
            WHERE round(k / (na.n + nb.n - k), 4) >= 0.5
        """).fetchall())
        lsh = set(con.sql(
            f"SELECT id_a, id_b FROM read_parquet('{out('lsh')}')").fetchall())
        return (len(exact_nn & ann) / max(1, len(exact_nn)),
                len(exact_pairs & lsh) / max(1, len(exact_pairs)))

    def extra_layers(self) -> dict[str, float]:
        n = max(1, len(self.stage_stats.get("profile", [])))
        c = self.counts[-1]
        return {
            "sources.sinks.bytes_written": sum(
                b for v in self.stage_stats.values() for b, _ in v) / n,
            "sources.sinks.files_written": sum(
                f for v in self.stage_stats.values() for _, f in v) / n,
            "operators.dedup.exact_kept": c["exact"],
            "operators.dedup.span_kept": c["span"],
            "operators.dedup.lsh_pairs": c["lsh"],
            "operators.dedup.components": self.components,
            "operators.dedup.lsh_pair_recall": self.lsh_recall,
            "operators.curation.contaminated": self.contaminated,
            "operators.similarity.ann_recall_at_10": self.ann_recall,
        }

    def e2e(self) -> tuple[dict[str, float], list[str]]:
        """A pipeline's run time is also its freshness: documents landed →
        curated output readable."""
        p50 = statistics.median(self.runs)
        tail, which = stats.tail(self.runs)
        docs_per_s = len(self.runs) * gen.SIZES["documents"] / sum(self.runs)
        metrics = {
            "latency_p50_s": p50,
            "latency_tail_s": tail,
            "throughput_per_s": docs_per_s,
            "freshness_s": p50,
        }
        lines = [
            f"corpus_run_s = {p50:.4f} s (median of {len(self.runs)} pipelines)",
            f"corpus_tail_s = {tail:.4f} s ({which})",
            f"corpus_docs_per_s = {docs_per_s:.2f} 1/s",
            f"ann_recall_at_10 = {self.ann_recall:.4f} ratio",
            f"lsh_pair_recall = {self.lsh_recall:.4f} ratio",
            "stage rows " + ", ".join(f"{k} {v}" for k, v in self.counts[-1].items()),
        ]
        return metrics, lines


WORKLOADS = {
    "cube_dashboard": CubeDashboard,
    "corpus_pipeline": CorpusPipeline,
}

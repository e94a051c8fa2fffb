"""The benchmark's workloads: single-client closed loops on one local
SparkSession (``local[$SPARK_GRAFT_CPUS]``).

- ``warehouse_mix``: the 17 headline analyst queries plus the one
  analyst query that goes through the matstore.
- ``ingest_search``: ``HiveEngine`` ingest beside search, chat and rules.
- ``near_dup``: the dedup pipeline (not in BENCHMARK.json; see
  README.md).

A query workload's pass is one corpus snapshot: it starts with
``matstore.clear()``.

Each workload returns a ``Result``: end-to-end numbers measured with
tracing off, the per-layer numbers of a traced run, and the
correctness tally. Correctness checks never run inside a timed call.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import numpy as np

from perfbench import datagen, layers
from perfbench.machine import peak_rss_mb, reset_peak_rss
from perfbench.trace import Tracer

# Pinned query lists: the benchmark's own copy, so the workload does
# not move when bench.py's tiers do.
WAREHOUSE_MIX = [
    "q1_pricing_summary", "q3_shipping_priority", "q4_order_priority",
    "q5_local_supplier_volume", "q6_revenue_forecast", "q9_product_profit",
    "q10_returned_items", "q18_large_volume_customers",
    "q21_waiting_suppliers", "q_top_supplier_per_nation", "events_by_type",
    "events_sessionization", "events_funnel", "events_props_histogram",
    "doc_dedup_exact", "doc_bpe_token_stats", "emb_knn_topk",
    # not a headline query: the analyst query that goes through the
    # matstore (it stores a per-user rollup and persists three RDDs it
    # never unpersists), so the matstore layer is measured here too
    "events_rfm_segments",
]
NEAR_DUP = [
    # banded-candidate families
    "doc_minhash_lsh_pairs", "doc_simhash_hamming_pairs",
    "media_phash_near_dup", "emb_near_dup_lsh",
    # matstore consumers
    "doc_dup_clusters", "doc_near_dedup_corpus", "dup_modality_agreement",
    "graph_bfs_3hop",
    "q_part_substitution_candidates",
]
# Warehouse inputs: generated in the checkout and fixed, like the
# project's test data; the seed permutes the query order of every pass.
WAREHOUSE_SF = 0.01
WAREHOUSE_SEED = 42

# ingest_search round: one batch, rules on its fresh docs, one search
# per golden phrase of the batch plus one per TOPIC_TENANTS entry, then
# one chat per CHAT_TENANTS entry. The set-up round is a full round
# too: after a smaller one the JIT was still warming up through the
# first timed round, which then read 10-20 % slower and less steady.
BATCH_NEW_DOCS = 40
# topic searches, two each for the two largest tenants (55 % and 25 % of
# new documents): they hold the first batch's golden documents, so they
# are never empty, not even in the set-up round. With two topic searches
# a round instead of four, the search latency metrics spread 0.19-0.29
# between runs (two sets of ten), against 0.07-0.08 with four (one set,
# in another hour of the same shared host).
TOPIC_TENANTS = ["org0", "org1", "org0", "org1"]
CHAT_TENANTS = ["org0"]
RULE_TEXT = "Does this document contain confidential pricing information?"

# Every run does the same work: --seconds buys whole passes (rounds)
# at these nominal lengths, measured on a 4-core host, so a slow or
# contended run takes longer instead of doing less.
NOMINAL_PASS_S = {"warehouse_mix": 12.0, "near_dup": 25.0,
                  "ingest_search": 20.0}


def _units(run) -> int:
    return max(1, round(run.seconds / NOMINAL_PASS_S[run.workload]))


@dataclass
class Result:
    metrics: dict[str, tuple[float, str]]  # end to end: name -> (value, unit)
    extra: dict[str, tuple[float, str]]  # workload-specific end to end
    layers: dict[str, tuple[float, str]]  # per layer (traced runs)
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    record: dict = field(default_factory=dict)


class Run:
    """One benchmark run: its settings, session, tracer and tallies."""

    def __init__(self, workload: str, seed: int, seconds: float, traced: bool,
                 work: str, t_process: float) -> None:
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.work = work
        self.t_process = t_process
        self.attempted = 0
        self.failures: list[str] = []
        self.event_log = os.path.join(work, "eventlog")
        self.spark = None
        self.tracer: Tracer | None = None
        self.session_s = 0.0
        self.jvm_pid: int | None = None
        self.inputs_s = 0.0  # making inputs during set-up: not set-up time
        self.phases: dict[str, float] = {}
        self.peak_rss_mb = 0.0

    def make_inputs(self, fn, *args):
        """Call an input generator; its time is kept out of ``setup_s``."""
        t0 = time.perf_counter()
        out = fn(*args)
        self.inputs_s += time.perf_counter() - t0
        return out

    def setup_done(self) -> float:
        """``setup_s``: process start to now, less input generation."""
        return time.perf_counter() - self.t_process - self.inputs_s

    def timed_start(self) -> None:
        """Start the peak-memory window at the timed passes, so the
        correctness checks' own memory (DuckDB, pandas) stays out of it."""
        reset_peak_rss(self.jvm_pid)

    def timed_done(self) -> None:
        self.peak_rss_mb = peak_rss_mb(self.jvm_pid)

    def attempt(self, what: str, fn):
        """Call ``fn``; an exception counts as a failed operation and
        gives None, so the run goes on."""
        try:
            return fn()
        except Exception as exc:  # noqa: BLE001 - counted, not fatal
            self.check(False, f"{what}: {type(exc).__name__}: {exc}"[:300])
            return None

    def check(self, ok: bool, what: str) -> None:
        """Count one operation; record it as failed unless ``ok``."""
        self.attempted += 1
        if not ok:
            self.failures.append(what)

    def start_session(self):
        from the_hive_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.work, "spark-warehouse"),
            # keep the JVM's scratch files inside the run directory
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
        if self.traced:
            os.makedirs(self.event_log, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": self.event_log,
            })
        t0 = time.perf_counter()
        self.spark = get_spark(app_name=f"perfbench-{self.workload}",
                               extra_conf=conf)
        self.session_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = int(
            self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        )
        self.tracer = Tracer(self.spark, f"pb{os.getpid()}")
        return self.spark

    def finish(self, metrics, extra, per_layer, record) -> Result:
        """Stop the session, then read the event log of a traced run."""
        metrics["peak_rss_mb"] = (self.peak_rss_mb, "MB")
        failed = len(self.failures)
        extra["failed_frac"] = (failed / max(1, self.attempted), "ratio")
        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        # end the JVM and wait for it, so no process outlives the run
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=120)
        layer_values: dict = {}
        if self.traced:
            layer_values = per_layer()
            self.tracer.write(os.path.join(self.work, "spans.jsonl"))
        record["phases"] = {"inputs_s": self.inputs_s,
                            "session_s": self.session_s, **self.phases}
        return Result(metrics, extra, layer_values, self.attempted, failed,
                      self.failures, record)


def _quantile(values: list[float], q: float) -> float:
    """Harrell-Davis estimate of the q-quantile; 0 when every operation
    failed.

    A Beta(q(n+1), (1-q)(n+1))-weighted mean of all order statistics
    rather than one of them: on the few dozen latencies of a run the
    sample quantile jumps between neighbouring values, this estimate
    does not. The Beta CDF is integrated on a fine midpoint grid.
    """
    x = np.sort(np.asarray(list(values), dtype=float))
    n = len(x)
    if n == 0:
        return 0.0
    a, b = q * (n + 1), (1 - q) * (n + 1)
    grid = 1 << 16
    t = (np.arange(grid) + 0.5) / grid
    logpdf = (a - 1) * np.log(t) + (b - 1) * np.log1p(-t)
    cdf = np.concatenate(([0.0], np.cumsum(np.exp(logpdf - logpdf.max()))))
    cdf /= cdf[-1]
    weights = np.diff(cdf[np.arange(n + 1) * grid // n])
    return float(weights @ x)


# ------------------------------------------------------------ queries

def _phash_pairs(data_dir: str) -> set[tuple[int, int, int]]:
    """Brute-force reference for media_phash_near_dup: every image
    pair whose 64-bit aHash differs in at most PHASH_HAMMING_MAX bits."""
    import pyarrow.parquet as pq

    from the_hive_spark.operators.multimodal import (
        KINDS, PHASH_HAMMING_MAX, _ahash_numpy, _fake_pixels,
    )

    docs = pq.read_table(os.path.join(data_dir, "documents.parquet")).to_pylist()
    hashes = {}
    for d in docs:
        i = d["doc_id"]
        if KINDS[i % 3] != "image":
            continue
        w, h = 64 + (i % 8) * 32, 64 + (i % 5) * 32
        hashes[i] = _ahash_numpy(_fake_pixels(d["text"].encode(), w, h), w, h)
    ids = sorted(hashes)
    mask = (1 << 64) - 1
    pairs = set()
    for k, a in enumerate(ids):
        for b in ids[k + 1:]:
            dist = bin((hashes[a] ^ hashes[b]) & mask).count("1")
            if dist <= PHASH_HAMMING_MAX:
                pairs.add((a, b, dist))
    return pairs


def _check_query(spark, name: str, data_dir: str) -> tuple[bool, str]:
    try:
        return _compare(spark, name, data_dir)
    except Exception as exc:  # noqa: BLE001 - a failing query is a failed check
        return False, f"{type(exc).__name__}: {exc}"[:300]


def _compare(spark, name: str, data_dir: str) -> tuple[bool, str]:
    from the_hive_spark import oracle, registry

    fn = registry.QUERIES[name]
    if name in registry.ORACLES:
        r = oracle.compare(spark, name, fn, registry.ORACLES[name], data_dir)
        return r.ok, r.detail
    if name == "media_phash_near_dup":
        got = {tuple(int(x) for x in row)
               for row in fn(spark, data_dir).toPandas()[
                   ["media_a", "media_b", "hamming"]].itertuples(index=False)}
        want = _phash_pairs(data_dir)
        return got == want, f"rows spark={len(got)} reference={len(want)}"
    return False, "no oracle and no reference"


def _noop(df) -> bool:
    df.write.mode("overwrite").format("noop").save()
    return True


def _query_workload(run: Run, names: list[str]) -> Result:
    from the_hive_spark import registry
    from the_hive_spark.functions import matstore

    data = os.path.join(run.work, "data")
    run.make_inputs(datagen.write_warehouse, data, WAREHOUSE_SF, WAREHOUSE_SEED)
    registry.load_all()
    spark = run.start_session()
    sc = spark.sparkContext

    # Warm-up: one untimed single-client pass through the same noop sink
    # as the timed loop (JIT, Python workers, codegen).
    t_warm = time.perf_counter()
    for q in names:
        if run.attempt(f"warm-up {q}",
                       lambda: _noop(registry.QUERIES[q](spark, data))):
            run.check(True, "")
    run.phases["warmup_s"] = time.perf_counter() - t_warm
    setup_s = run.setup_done()

    # Correctness, once per run, after set-up and before the timed
    # passes: every query against its oracle. It is in no reported
    # figure; threads only shorten it. Running every plan once more here
    # also moves JIT warm-up out of the first timed pass, which read
    # slower and less steady when the checks ran after it.
    t_check = time.perf_counter()
    matstore.clear()
    workers = int(os.environ["SPARK_GRAFT_CPUS"])
    with ThreadPoolExecutor(workers) as pool:
        checks = list(pool.map(lambda q: _check_query(spark, q, data), names))
    for q, (ok, detail) in zip(names, checks):
        run.check(ok, f"check {q}: {detail}")
    run.phases["checks_s"] = time.perf_counter() - t_check
    run.timed_start()

    tracer = run.tracer
    rng = np.random.default_rng(run.seed)
    latencies: list[float] = []
    passes: list[dict] = []
    t0 = time.perf_counter()
    for k in range(_units(run)):
        order = [names[i] for i in rng.permutation(len(names))]
        orphans0 = len(sc.statusTracker().getJobIdsForGroup(None))
        cache0 = layers.cache_state(spark, matstore)
        with tracer.span(f"pass{k}", "pass", request=f"p{k}") as ps:
            # a pass is one corpus snapshot: the first consumer of a
            # stored artifact builds it, later ones hit
            with tracer.span("matstore.clear", "clear", request=f"p{k}"):
                matstore.clear()
            lat: dict[str, float] = {}
            for q in order:
                req = f"p{k}:{q}"
                # cache meter: traced runs only, outside the timed calls
                before = layers.cache_state(spark, matstore) if run.traced else None
                with tracer.span(q, "build", req) as b:
                    df = run.attempt(req, lambda: registry.QUERIES[q](spark, data))
                if df is None:
                    continue
                with tracer.span(q, "run", req) as r:
                    done = run.attempt(req, lambda: _noop(df))
                if not done:
                    continue
                run.check(True, "")
                lat[q] = b.seconds + r.seconds
                latencies.append(lat[q])
                if before is not None:
                    after = layers.cache_state(spark, matstore)
                    r.attrs.update(cache_before=before, cache_after=after,
                                   leaked_rdds=layers.leaked(before, after))
        passes.append(layers.pass_tally(
            tracer, tracer.spans.index(ps), orphans0,
            cache0, layers.cache_state(spark, matstore),
        ) | {"latency_s": lat})
    window = time.perf_counter() - t0
    run.phases["timed_s"] = window
    run.timed_done()

    metrics = {
        "setup_s": (setup_s, "s"),
        "pass_s": (layers.median_or_0([p["wall_s"] for p in passes]), "s"),
        "queries_per_s": (len(latencies) / window, "1/s"),
        "query_p50_s": (_quantile(latencies, 0.5), "s"),
    }
    extra = {
        "query_p90_s": (_quantile(latencies, 0.9), "s"),
        "query_samples": (float(len(latencies)), "count"),
    }
    record = {"passes": passes, "session_s": run.session_s}

    def per_layer():
        return layers.query_layers(run, passes)

    return run.finish(metrics, extra, per_layer, record)


def warehouse_mix(run: Run) -> Result:
    return _query_workload(run, WAREHOUSE_MIX)


def near_dup(run: Run) -> Result:
    return _query_workload(run, NEAR_DUP)


# ------------------------------------------------------ ingest_search

def ingest_search(run: Run) -> Result:
    from the_hive_spark.engine import HiveEngine
    from the_hive_spark.functions.chunkers import chunk_sentence_py
    from the_hive_spark.schemas import INGEST_FILES

    stream = datagen.DocStream(run.seed, chunk_sentence_py)
    rng = np.random.default_rng(run.seed + 1)
    spark = run.start_session()
    tracer = run.tracer
    warehouse = os.path.join(run.work, "warehouse")
    engine = HiveEngine(spark, warehouse)
    engine.add_rule(1, RULE_TEXT)
    input_bytes = 0
    timings: dict[str, list[float]] = {
        k: [] for k in ("ingest", "docs", "rules", "search", "chat")
    }
    rounds: list[dict] = []
    expected_matches: list[int] = []

    def one_round(k: int, timed: bool) -> None:
        nonlocal input_bytes
        batch = (stream.next_batch(BATCH_NEW_DOCS) if timed
                 else run.make_inputs(stream.next_batch, BATCH_NEW_DOCS))
        input_bytes += batch.input_bytes
        req = f"r{k}"
        with tracer.span(f"round{k}", "round", req) as rs:
            with tracer.span("ingest_batch", "ingest", req) as s:
                got = run.attempt(f"{req} ingest_batch", lambda: engine.ingest_batch(
                    spark.createDataFrame(batch.rows, INGEST_FILES)))
            s.attrs["input_bytes"] = batch.input_bytes
            if got is not None:
                want = {"files": len(batch.fresh_paths),
                        "chunks": batch.expected_chunks,
                        "alerts": batch.expected_alerts}
                run.check(got == want, f"{req} ingest {got} != {want}")
                if timed:
                    timings["ingest"].append(s.seconds)
                    timings["docs"].append(len(batch.rows))

            with tracer.span("evaluate_rules", "rules", req) as s:
                ok = run.attempt(f"{req} evaluate_rules", lambda: engine.evaluate_rules(
                    batch.fresh_paths) or True)
            if ok:
                run.check(True, "")
                expected_matches.append(batch.rule_docs)
                if timed:
                    timings["rules"].append(s.seconds)

            queries = [(p, org, path) for p, (path, org) in batch.golden.items()]
            queries += [(_topic(stream, rng), org, None) for org in TOPIC_TENANTS]
            for text, org, want_path in queries:
                what = f"{req} search {text!r} {org}"
                with tracer.span("search", "search", req) as s:
                    df = run.attempt(what, lambda: engine.search(
                        text, top_k=3, organization_id=org))
                if df is None:
                    continue
                with tracer.span("search.collect", "collect", req) as c:
                    rows = run.attempt(what, df.collect)
                if rows is None:
                    continue
                c.attrs["rows"] = len(rows)
                if want_path is not None:
                    top = rows[0]["document_id"] if rows else None
                    run.check(top == want_path,
                              f"{req} golden top-1 {top} != {want_path}")
                else:
                    run.check(len(rows) > 0, f"{req} search returned no rows")
                if timed:
                    timings["search"].append(s.seconds + c.seconds)
            for org in CHAT_TENANTS:
                topic = _topic(stream, rng)
                with tracer.span("chat", "chat", req) as s:
                    rows = run.attempt(f"{req} chat {org}", lambda: engine.chat(
                        topic, top_k=5, organization_id=org).collect())
                if rows is None:
                    continue
                run.check(len(rows) == 1, f"{req} chat rows {len(rows)}")
                if timed:
                    timings["chat"].append(s.seconds)
        rounds.append({"round": k, "timed": timed,
                       "span": tracer.spans.index(rs),
                       "input_bytes": batch.input_bytes})

    # set-up: seed the base warehouse with one full (untimed) round,
    # which also warms the chunk/embed UDF workers and every plan shape
    t_warm = time.perf_counter()
    one_round(0, timed=False)
    run.phases["warmup_s"] = time.perf_counter() - t_warm
    setup_s = run.setup_done()
    run.timed_start()

    t0 = time.perf_counter()
    for k in range(_units(run)):
        one_round(k + 1, timed=True)
    run.phases["timed_s"] = time.perf_counter() - t0
    run.timed_done()

    # evaluate_rules appends its matches to rule_matches: one row per
    # (rule, fresh doc holding a rule keyword), summed over all rounds
    n_match = run.attempt("read rule_matches",
                          lambda: engine.read_table("rule_matches").count())
    if n_match is not None:
        run.check(n_match == sum(expected_matches),
                  f"rule matches {n_match} != {sum(expected_matches)}")

    searches = timings["search"]
    stored, _, _ = layers.warehouse_usage(warehouse)
    metrics = {
        "setup_s": (setup_s, "s"),
        "pass_s": (layers.median_or_0(
            run.tracer.spans[r["span"]].seconds for r in rounds if r["timed"]), "s"),
        # the user's query on this path is a search
        "queries_per_s": (len(searches) / sum(searches) if searches else 0.0,
                          "1/s"),
        "query_p50_s": (_quantile(searches, 0.5), "s"),
    }
    extra = {
        "ingest_docs_per_s": (sum(timings["docs"]) / sum(timings["ingest"])
                              if timings["ingest"] else 0.0, "docs/s"),
        "search_p50_s": (_quantile(searches, 0.5), "s"),
        "search_p90_s": (_quantile(searches, 0.9), "s"),
        "chat_p50_s": (_quantile(timings["chat"], 0.5), "s"),
        "rules_p50_s": (_quantile(timings["rules"], 0.5), "s"),
        "stored_bytes_per_input_byte": (stored / input_bytes, "ratio"),
        "search_samples": (float(len(searches)), "count"),
    }
    record = {"rounds": rounds, "timings_s": timings, "session_s": run.session_s}

    def per_layer():
        return layers.ingest_layers(run, rounds, warehouse)

    return run.finish(metrics, extra, per_layer, record)


def _topic(stream: datagen.DocStream, rng: np.random.Generator) -> str:
    return " ".join(rng.choice(stream.vocab[:50], 3))


WORKLOADS = {
    "warehouse_mix": warehouse_mix,
    "near_dup": near_dup,
    "ingest_search": ingest_search,
}

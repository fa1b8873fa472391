"""The workloads and the run state they share.

Every workload is a closed loop with one client on ``local[nproc]``:
the next operation starts when the previous one has returned its rows.
A run is: the Spark session start, input preparation (untimed), set-up
(timed; the index opening ``SETUP_REPS`` times, then a warm pass of one
round), operations until ``--seconds`` have passed (the round in flight
at the deadline finishes; untraced, at least ``MIN_ROUNDS`` rounds),
then the oracle check of every result (untimed).

In a traced run every query call runs twice back to back, traced and
untraced, alternating which goes first: the traced twin gives the
per-layer metrics, the pair the tracing overhead, and the two results
must agree.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager

import inputs
import oracles
import probes
from spans import Tracer

SETUP_REPS = 3
# an untraced window holds at least this many rounds, so queries_per_s
# is never the rate of a single round
MIN_ROUNDS = 2
# the tail is the latency with TAIL_BEYOND samples slower than it: the
# highest percentile a run's sample count supports
TAIL_BEYOND = 10


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, n)) for d, _, names in os.walk(path) for n in names
    )


class Run:
    """State of one benchmark run: the Spark session, the tracer,
    operation latencies, failure counts and per-layer samples."""

    def __init__(self, root: str, seed: int, seconds: float, traced: bool):
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.work = os.path.join(root, ".perfbench")
        self.cache = os.path.join(self.work, "cache", inputs.source_hash(root))
        self.answers = oracles.AnswerCache(
            os.path.join(self.work, "answers", oracles.oracle_key(root))
        )
        self.tmp = os.path.join(self.work, f"run-{os.getpid()}")
        os.makedirs(self.tmp, exist_ok=True)
        self.tracer = Tracer(enabled=False)
        self.spark = None
        self.stage_metrics = None
        self.session_start_s = 0.0
        self.warmup_s = 0.0
        self.warm_pass_s = 0.0
        self.setup_reps: list[float] = []
        self.latencies: list[float] = []
        self.op_rounds: list[int] = []  # window round of each timed operation
        self.round_walls: list[float] = []  # wall seconds of each window round
        self.ok: list[bool] = []  # check verdict of each timed operation
        self.pairs: list[tuple[float, float]] = []  # (traced, untraced) wall per query call
        self.attempted = 0
        self.errors = 0
        self.wrong = 0
        self.window_s = 0.0
        self.window_cpu_s = 0.0
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.counts: dict[str, float] = defaultdict(float)
        self.checks: list = []  # (op, result) of every operation, checked after the window
        self.ingest: dict[str, float] = {}  # wall seconds per index write, and the space ratio
        self.corpora: dict[str, str] = {}  # the seed's batches: base, delta, warm
        self.phases: dict[str, float] = {}  # wall seconds per run phase
        self._phase_t = time.perf_counter()
        self._groups = 0

    def phase(self, name: str) -> None:
        """Close the current run phase under ``name``."""
        now = time.perf_counter()
        self.phases[name] = self.phases.get(name, 0.0) + now - self._phase_t
        self._phase_t = now

    # ---- session and set-up ---------------------------------------------
    def start_session(self) -> None:
        from ocaml_lucene_spark.session import get_spark

        self.phase("inputs")
        with self.traced_section(), self.tracer.span("session/start"):
            t0 = time.perf_counter()
            self.spark = get_spark("perfbench")
            self.session_start_s = time.perf_counter() - t0
        self.stage_metrics = probes.StageMetrics(self.spark.sparkContext)
        self.phase("session")

    @contextmanager
    def traced_section(self):
        """Trace the calls inside when this is a traced run."""
        self.tracer.enabled = self.traced
        try:
            yield
        finally:
            self.tracer.enabled = False

    def setup_rep(self, fn) -> None:
        """One timed set-up repetition (an index opening)."""
        with self.traced_section(), self.tracer.span("setup"):
            t0 = time.perf_counter()
            fn()
            self.setup_reps.append(time.perf_counter() - t0)

    def warm_pass(self, ops, construct) -> None:
        """One pass over ``ops`` (a whole round of the log, so every plan
        and every query shape) on the queried index, before the window:
        first use and most JIT warm-up fall here, not in a timed round.
        Counted in ``setup_s``. ``construct(op)`` returns the operation's
        DataFrame."""
        with self.traced_section(), self.tracer.span("setup"), \
                self.tracer.span("query.exec/warmup"):
            t0 = time.perf_counter()
            for op in ops:
                construct(op).collect()
            self.warm_pass_s = time.perf_counter() - t0
        self.phase("warmup")

    # ---- measured window ------------------------------------------------
    def window(self, ops, run_one, round_len: int) -> None:
        """Run ``ops`` (cycled) until the deadline, then to the end of the
        round of ``round_len`` ops in flight, so every run times whole
        rounds of the same mix; untraced, at least MIN_ROUNDS of them.
        ``run_one(op)`` returns the operation's result and raises on
        failure."""
        cpu0 = probes.tree_usage()[0]
        t0 = time.perf_counter()
        deadline = t0 + self.seconds
        i, round_t0 = 0, t0
        min_ops = 0 if self.traced else MIN_ROUNDS * round_len
        while i % round_len or i < min_ops or time.perf_counter() < deadline:
            self._one(ops[i % len(ops)], run_one, i // round_len)
            i += 1
            if i % round_len == 0:
                now = time.perf_counter()
                self.round_walls.append(now - round_t0)
                round_t0 = now
        self.window_s = time.perf_counter() - t0
        self.window_cpu_s = probes.tree_usage()[0] - cpu0
        self.phase("window")

    def _one(self, op, run_one, rnd: int) -> None:
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.traced_section(), self.tracer.span("op", op=str(self.attempted)):
                result = run_one(op)
        except Exception:  # noqa: BLE001 - a failed operation is counted, the loop goes on
            self.errors += 1
            traceback.print_exc(file=sys.stderr)
            return
        self.latencies.append(time.perf_counter() - t0)
        self.op_rounds.append(rnd)
        self.checks.append((op, result))

    def round_rates(self) -> list[float]:
        """Correct operations per second of each window round."""
        ok = [0] * len(self.round_walls)
        for rnd, good in zip(self.op_rounds, self.ok):
            ok[rnd] += good
        return [n / wall for n, wall in zip(ok, self.round_walls)]

    # ---- calls into the engine --------------------------------------------
    def job_group(self, phase: str) -> str | None:
        """Tag the next Spark jobs (traced calls only)."""
        if not self.tracer.enabled:
            return None
        self._groups += 1
        gid = f"pb{self._groups}.{phase}"
        self.spark.sparkContext.setJobGroup(gid, gid)
        return gid

    def record_groups(self, *gids: str) -> dict:
        """Sum the job groups' stage metrics into the per-layer samples."""
        with self.tracer.span("spark.status/read"):
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            parts = [self.stage_metrics.group(g) for g in gids]
        total = {k: sum(p[k] for p in parts) for k in probes.StageMetrics.FIELDS}
        total["intervals_ms"] = [iv for p in parts for iv in p["intervals_ms"]]
        for k in probes.StageMetrics.FIELDS:
            self.samples[f"spark.{k}"].append(total[k])
        return total

    def query(self, module: str, construct):
        """construct() -> DataFrame, then collect. Returns (rows,
        columns, wall seconds of the call). In a traced run the call also
        runs once untraced, inside an ``untraced`` span; the pair's walls
        (the traced one with its status-store reads) give the overhead."""
        if not self.traced:
            return self._query(module, construct)
        first = len(self.pairs) % 2 == 0
        res, walls = {}, {}
        for traced in (first, not first):
            t0 = time.perf_counter()
            if traced:
                res[True] = self._query(module, construct)
            else:
                with self.tracer.span("untraced"):
                    self.tracer.enabled = False
                    try:
                        res[False] = self._query(module, construct)
                    finally:
                        self.tracer.enabled = True
            walls[traced] = time.perf_counter() - t0
        self.pairs.append((walls[True], walls[False]))
        if res[True][0] != res[False][0]:
            self.wrong += 1
            print(f"perfbench: traced and untraced {module} calls disagree", file=sys.stderr)
        return res[True]

    def _query(self, module: str, construct):
        t0 = time.perf_counter()
        gc = self.job_group("c")
        with self.tracer.span(f"{module}/construct"):
            df = construct()
        construct_s = time.perf_counter() - t0
        gx = self.job_group("x")
        with self.tracer.span(f"{module}/collect"):
            rows = [tuple(r) for r in df.collect()]
        wall = time.perf_counter() - t0
        if gc is not None:
            m = self.record_groups(gc, gx)
            self.samples["exec.construct_s"].append(construct_s)
            self.samples["exec.collect_s"].append(wall - construct_s)
            self.samples["exec.construct_jobs"].append(
                len(self.stage_metrics.tracker.getJobIdsForGroup(gc))
            )
            self.samples["exec.driver_s"].append(
                max(wall - probes.covered_s(m["intervals_ms"]), 0.0)
            )
        return rows, df.columns, wall

    # ---- teardown -------------------------------------------------------
    def stop(self) -> None:
        """Stop Spark, then wait for the driver JVM and every process it
        forked (the Python workers) to exit."""
        if self.spark is not None:
            from pyspark import SparkContext

            self.phase("check")
            children = [p for p in probes.descendants() if p != os.getpid()]
            self.spark.stop()
            self.spark = None
            gw = SparkContext._gateway
            if gw is not None:
                proc = getattr(gw, "proc", None)
                gw.shutdown()
                if proc is not None:
                    proc.stdin.close()
                    proc.wait(timeout=60)
                SparkContext._gateway = None
                SparkContext._jvm = None
            probes.wait_gone(children, timeout_s=60)
        shutil.rmtree(self.tmp, ignore_errors=True)
        self.phase("stop")


# --------------------------------------------------------------------------
# shared helpers
# --------------------------------------------------------------------------


def doc_texts(spark, corpus: str) -> dict[int, str]:
    """doc_id -> text exactly as ``build_index`` numbers the corpus."""
    from ocaml_lucene_spark.index.build import assign_doc_ids

    rows = assign_doc_ids(spark.read.parquet(corpus).select("url", "text")).select(
        "doc_id", "text"
    ).collect()
    return {int(r.doc_id): r.text for r in rows}


def build(spark, corpus: str, index_dir: str, **kw) -> dict:
    from ocaml_lucene_spark.index.build import assign_doc_ids, build_index

    docs = assign_doc_ids(spark.read.parquet(corpus).select("url", "text"))
    return build_index(docs.select("doc_id", "text"), index_dir, **kw)


def ingest_phase(run: Run) -> str:
    """Start the session, set up, then build the index of the seed's
    base corpus (with positions), which the workload then queries.

    Set-up: a warm-up build of a small batch, then SETUP_REPS times the
    opening of a fresh copy of it: the first term-dictionary load of its
    segment."""
    import pyarrow.parquet as pq

    from ocaml_lucene_spark.index import segments as seg
    from ocaml_lucene_spark.query.term_index import seek_exact_mem

    run.corpora = inputs.seed_corpora(run.cache, run.seed)
    text_bytes = sum(
        len(t.encode())
        for t in pq.read_table(run.corpora["base"], columns=["text"]).column("text").to_pylist()
    )
    run.start_session()
    warm_index = os.path.join(run.tmp, "warm")
    with run.traced_section(), run.tracer.span("setup"), run.tracer.span("index.build/warmup"):
        t0 = time.perf_counter()
        build(run.spark, run.corpora["warm"], warm_index, with_positions=True)
        run.warmup_s = time.perf_counter() - t0
    for rep in range(SETUP_REPS):
        path = os.path.join(run.tmp, f"open{rep}")
        shutil.copytree(warm_index, path)

        def setup():
            with run.tracer.span("query.term_index/load"):
                seek_exact_mem(path, "the")

        run.setup_rep(setup)
    run.phase("setup")

    d = os.path.join(run.tmp, "index")
    with run.traced_section():
        row, wall, cpu = write_step(
            run, "build", "index.build/build",
            lambda: build(run.spark, run.corpora["base"], d, with_positions=True),
        )
        with run.tracer.span("query.term_index/load"):
            t0 = time.perf_counter()
            seek_exact_mem(d, "the")
            run.samples["term_index.load_s"].append(time.perf_counter() - t0)
    run.ingest["bytes_per_input_byte"] = (
        dir_bytes(seg.segment_paths(d, row["segment"])["base"]) / text_bytes
    )
    run.samples["build.wall_s"].append(wall)
    run.samples["build.postings_per_s"].append(row["n_postings"] / wall)
    run.samples["build.cores_used"].append(cpu / wall)
    run.samples["build.bytes_packed"].append(row["bytes_packed"])
    run.attempted += 1
    if row["n_docs"] != inputs.INDEX_DOCS:
        run.wrong += 1
        print(f"perfbench: the build indexed {row['n_docs']} docs", file=sys.stderr)
    run.phase("ingest")
    return d


def write_step(run: Run, name: str, module: str, fn):
    """One timed index write, in its own job group when traced. Returns
    (manifest row, wall seconds, process-tree CPU seconds)."""
    gid = run.job_group(name)
    cpu0 = probes.tree_usage()[0]
    t0 = time.perf_counter()
    with run.tracer.span(module):
        row = fn()
    wall = time.perf_counter() - t0
    if gid is not None:
        run.record_groups(gid)
    run.ingest[name] = wall
    return row, wall, probes.tree_usage()[0] - cpu0


def append_and_merge(run: Run, index_dir: str) -> None:
    """Traced runs, after the window: ``add_documents`` of the delta batch
    into a second segment, then ``merge_segments`` of the two, checked
    by their doc and posting counts."""
    from ocaml_lucene_spark.index import segments as seg
    from ocaml_lucene_spark.index.build import add_documents
    from ocaml_lucene_spark.index.merge import merge_segments

    with run.traced_section():
        base = seg.list_segments(index_dir)[0]
        arow, awall, _ = write_step(
            run, "append", "index.build/append",
            lambda: add_documents(run.spark.read.parquet(run.corpora["delta"]), index_dir,
                                  with_positions=True),
        )
        sources = [r["segment"] for r in seg.list_segments(index_dir)]
        src_bytes = sum(dir_bytes(seg.segment_paths(index_dir, x)["base"]) for x in sources)
        mrow, mwall, _ = write_step(
            run, "merge", "index.merge", lambda: merge_segments(run.spark, index_dir, sources)
        )
    merged_bytes = dir_bytes(seg.segment_paths(index_dir, mrow["segment"])["base"])
    run.samples["append.wall_s"].append(awall)
    run.samples["merge.wall_s"].append(mwall)
    run.samples["merge.bytes_rewritten_ratio"].append(merged_bytes / src_bytes)
    run.attempted += 2
    n_base, n_delta = inputs.INDEX_DOCS, inputs.DELTA_DOCS
    if [arow["n_docs"], mrow["n_docs"]] != [n_delta, n_base + n_delta] or (
        mrow["n_postings"] != base["n_postings"] + arow["n_postings"]
    ):
        run.wrong += 1
        print(f"perfbench: wrong append/merge counts {arow} {mrow}", file=sys.stderr)


def check_rankings(run: Run, name: str, items: list) -> list[bool]:
    """Compare results with the pure-Python oracle over the base corpus.
    ``items`` are (key, spec, rows) with spec = (kind, terms, mode, k,
    exclude); answers are cached per (workload, seed, corpus, specs).
    Returns the verdict of each item."""
    import hashlib
    import json

    from ocaml_lucene_spark.oracle import OracleIndex

    base = run.corpora["base"]
    specs = {key: spec for key, spec, _ in items}

    def compute():
        ora = OracleIndex.from_texts(doc_texts(run.spark, base))
        return {
            key: oracles.phrase_answer(ora, *terms[:2]) if kind == "phrase"
            else oracles.bm25_answer(ora, terms, mode, k, exclude)
            for key, (kind, terms, mode, k, exclude) in specs.items()
        }

    spec_hash = hashlib.sha256(json.dumps(sorted(specs.items())).encode()).hexdigest()[:12]
    corpus_hash = inputs.file_hash(os.path.join(base, "part-00000.parquet"))
    answers = run.answers.get(f"{name}-{run.seed}-{corpus_hash}-{spec_hash}", compute)
    verdicts = []
    for key, spec, rows in items:
        exp = answers[key]
        ok = (
            sorted([int(d), int(n)] for d, n in rows) == exp
            if spec[0] == "phrase"
            else oracles.same_ranking(rows, exp)
        )
        if not ok:
            run.wrong += 1
            print(f"perfbench: wrong {name} result for {key} {spec}", file=sys.stderr)
        verdicts.append(ok)
    return verdicts


def codec_rates(run: Run, index_dir: str, terms: set[str] | None) -> None:
    """Decode (``decode_doc_ids``/``decode_tfs``) and re-encode
    (``encode_posting_blocks``) the blocks of ``terms`` (all terms when
    None) in the driver: postings per second each way."""
    import numpy as np
    import pyarrow.dataset as ds

    from ocaml_lucene_spark.codecs.blocks import decode_doc_ids, decode_tfs, encode_posting_blocks
    from ocaml_lucene_spark.index import segments as seg

    paths = [
        seg.segment_paths(index_dir, r["segment"])["postings"] for r in seg.list_segments(index_dir)
    ]
    t = ds.dataset([ds.dataset(p, format="parquet") for p in paths]).to_table(
        columns=["term", "block_no", "n", "doc_bytes", "tf_bytes"],
        filter=ds.field("term").isin(sorted(terms)) if terms else None,
    ).sort_by([("term", "ascending"), ("block_no", "ascending")])
    ns = t.column("n").to_pylist()
    blocks = list(zip(t.column("doc_bytes").to_pylist(), t.column("tf_bytes").to_pylist(), ns))
    with run.tracer.span("codecs.blocks/decode"):
        t0 = time.perf_counter()
        decoded = [(decode_doc_ids(d), decode_tfs(f, n)) for d, f, n in blocks]
        dec_s = time.perf_counter() - t0
    per_term: dict[str, list] = defaultdict(list)
    for term, pair in zip(t.column("term").to_pylist(), decoded):
        per_term[term].append(pair)
    lists = [
        (np.concatenate([d for d, _ in v]), np.concatenate([f for _, f in v]))
        for v in per_term.values()
    ]
    with run.tracer.span("codecs.blocks/encode"):
        t0 = time.perf_counter()
        for ids, tfs in lists:
            encode_posting_blocks(ids, tfs)
        enc_s = time.perf_counter() - t0
    run.samples["codecs.decode_postings_per_s"].append(sum(ns) / dec_s)
    run.samples["codecs.encode_postings_per_s"].append(sum(ns) / enc_s)


# corpus operators without a ranking or a pinned doc order: their rows
# are compared as sets
UNORDERED_OPS = {
    "phrase_counts", "term_stats", "dedup_exact", "minhash_candidate_pairs",
    "simhash_signatures",
}


def analyse(run: Run) -> None:
    """The entry module's corpus operators over the testdata documents
    and embeddings tables (seed-shuffled order), each checked against
    the DuckDB oracle. Runs in traced ``scan`` runs: it gives the
    per-layer times of operators.*, query.bm25 and functions.textstats."""
    import numpy as np

    import __spark_entry__ as entry

    tables = inputs.TABLES_DIR
    registry = entry.queries(ordered=False)
    names = list(inputs.CORPUS_OPS)
    np.random.default_rng(run.seed).shuffle(names)
    got = {}
    for name in names:
        metric = inputs.CORPUS_OPS[name]
        with run.traced_section():
            rows, cols, wall = run.query(
                metric.rsplit(".", 1)[0], lambda: registry[name](run.spark, tables)
            )
        run.samples[metric].append(wall)
        got[name] = oracles.normalise_rows(rows, cols, name not in UNORDERED_OPS)
    qv = entry._query_vec(tables)  # the ANN operators' query vector: vec_id 0
    key = inputs.file_hash(
        *(os.path.join(tables, f"{t}.parquet") for t in ("documents", "embeddings"))
    )
    expected = run.answers.get(
        f"corpus_ops-{key}",
        lambda: oracles.duckdb_answers(tables, qv, UNORDERED_OPS),
    )
    for name, rows in got.items():
        run.attempted += 1
        if [list(r) for r in rows] != [list(r) for r in expected[name]]:
            run.wrong += 1
            print(f"perfbench: wrong result for {name}", file=sys.stderr)


# --------------------------------------------------------------------------
# search: the query log through the automatic plan router
# --------------------------------------------------------------------------


def search(run: Run) -> None:
    from ocaml_lucene_spark.query.exec import bm25_topk_auto
    from ocaml_lucene_spark.query.term_index import seek_exact_mem

    log = inputs.search_log(run.seed)
    round_len = len(inputs.SEARCH_ROUND)

    def query(index_dir, q, decision=None):
        return bm25_topk_auto(run.spark, index_dir, q["terms"], q["mode"], q["k"], decision=decision)

    path = ingest_phase(run)
    # the log's last round is the warm pass's; the window never reaches it
    run.warm_pass(log[-round_len:], lambda q: query(path, q))

    def one(q):
        decision: dict = {}
        rows, _, _ = run.query("query.exec", lambda: query(path, q, decision))
        if run.traced:
            run.counts[f"exec.route.{decision['plan']}"] += 1
            with run.tracer.span("query.term_index/seek"):
                for t in q["terms"]:
                    t0 = time.perf_counter()
                    seek_exact_mem(path, t)
                    run.samples["term_index.seek_us"].append((time.perf_counter() - t0) * 1e6)
        return rows

    run.window(log[:-round_len], one, round_len)
    items = [
        (f"q{q['query_id']}", ("bm25", q["terms"], q["mode"], q["k"], None), rows)
        for q, rows in run.checks
    ]
    run.ok = check_rankings(run, "search", items)
    if run.traced:
        with run.traced_section():
            codec_rates(run, path, {t for q in log for t in q["terms"]})
        append_and_merge(run, path)


# --------------------------------------------------------------------------
# scan: hot-term queries on every distributed plan, phrases on positions
# --------------------------------------------------------------------------

SCAN_PLANS = ("indexed", "parallel", "wand")


def scan(run: Run) -> None:
    from ocaml_lucene_spark.query import exec as qx

    log = inputs.scan_log(run.seed)
    ops = []
    for qid, q in enumerate(log):
        ops += [(qid, q, p) for p in (("phrase",) if q["shape"] == "phrase" else SCAN_PLANS)]
    round_len = 3 * len(SCAN_PLANS) + 1

    def query(index_dir, op, metrics=None):
        _, q, plan = op
        mode = "and" if q["shape"] == "and" else "or"
        ex = q.get("exclude")
        if plan == "phrase":
            return qx.phrase_counts_indexed(run.spark, index_dir, *q["terms"])
        if plan == "indexed":
            return qx.bm25_topk_indexed(run.spark, index_dir, q["terms"], mode, 10, exclude=ex)
        fn = qx.bm25_topk_wand_parallel if plan == "parallel" else qx.bm25_topk_wand_exec
        return fn(run.spark, index_dir, q["terms"], mode, 10, exclude=ex, metrics=metrics)

    path = ingest_phase(run)
    # the log's last round is the warm pass's; the window never reaches it
    run.warm_pass(ops[-round_len:], lambda op: query(path, op))

    def one(op):
        metrics: dict = {}

        def construct():
            metrics.clear()
            return query(path, op, metrics)

        rows, _, _ = run.query("query.exec", construct)
        if run.traced and metrics:
            # counters of whichever twin ran last; both decode the same blocks
            qx.wand_metrics_value(metrics)
            run.counts["wand.decoded_blocks"] += metrics["decoded_blocks"]
            run.counts["wand.total_blocks"] += metrics["total_blocks"]
        return rows

    run.window(ops[:-round_len], one, round_len)
    items = []
    for (qid, q, _), rows in run.checks:
        if q["shape"] == "phrase":
            spec = ("phrase", q["terms"], None, None, None)
        else:
            spec = ("bm25", q["terms"], "and" if q["shape"] == "and" else "or", 10, q.get("exclude"))
        items.append((f"q{qid}", spec, rows))
    run.ok = check_rankings(run, "scan", items)
    if run.traced:
        with run.traced_section():
            codec_rates(run, path, {t for q in log for t in q["terms"] + q.get("exclude", [])})
        append_and_merge(run, path)
        analyse(run)


WORKLOADS = {"search": search, "scan": scan}

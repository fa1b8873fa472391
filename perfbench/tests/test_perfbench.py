"""Self-tests of the benchmark: span accounting, the answer check, the
metric lists against BENCHMARK.json, and end-to-end runs of run.py.

    python3 -m pytest perfbench/tests -q

The two smoke runs start Spark and take about two minutes.
"""

import json
import os
import shutil
import subprocess
import sys
from types import SimpleNamespace

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import inputs
import oracles
from ocaml_lucene_spark.oracle import OracleIndex
import run as bench
import workloads
from spans import Tracer

PERFBENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(PERFBENCH)


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        self.t += 1.0
        return self.t


def test_spans_nest_and_self_times_add_up_to_wall():
    tr = Tracer(clock=FakeClock())
    with tr.span("op", op="1"):
        with tr.span("query.exec/construct"):
            with tr.span("query.term_index/seek"):
                pass
        with tr.span("query.exec/collect"):
            pass
    with tr.span("op", op="2"):
        pass
    by_id = {s.sid: s for s in tr.spans}
    for s in tr.spans:
        if s.parent is not None:
            p = by_id[s.parent]
            assert p.start <= s.start <= s.end <= p.end
            assert s.op == p.op
    self_times = tr.self_times()
    assert sum(self_times.values()) == pytest.approx(tr.root_wall())
    assert self_times["query.term_index/seek"] == 1.0
    assert self_times["query.exec/construct"] == 2.0


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("op"):
        pass
    assert tr.spans == []


def _fake_run(tmp_path):
    corpus = tmp_path / "base"
    corpus.mkdir()
    pq.write_table(pa.table({"url": ["u"], "text": ["t"]}), corpus / "part-00000.parquet")
    return SimpleNamespace(
        seed=1, wrong=0, corpora={"base": str(corpus)},
        answers=oracles.AnswerCache(str(tmp_path / "answers")), spark=None,
    )


def test_injected_wrong_answer_counts_as_failed(tmp_path, monkeypatch):
    texts = {0: "alpha beta gamma", 1: "beta beta delta", 2: "gamma alpha alpha"}
    monkeypatch.setattr(workloads, "doc_texts", lambda spark, corpus: texts)
    ora = OracleIndex.from_texts(texts)
    right = [tuple(r) for r in oracles.bm25_answer(ora, ["alpha", "beta"], "or", 2)]
    spec = ("bm25", ["alpha", "beta"], "or", 2, None)
    run = _fake_run(tmp_path)

    workloads.check_rankings(run, "search", [("q0", spec, right)])
    assert run.wrong == 0
    wrong = [(right[0][0], right[0][1] * 1.01)] + right[1:]
    workloads.check_rankings(run, "search", [("q0", spec, wrong)])
    assert run.wrong == 1
    swapped = list(reversed(right))
    workloads.check_rankings(run, "search", [("q0", spec, swapped)])
    assert run.wrong == 2


def test_a_stalled_round_does_not_move_the_query_rate(tmp_path):
    """queries_per_s is the median of the rounds' rates: one round slowed
    by a stall on the host leaves it where the other rounds put it, and
    a wrong answer counts against its own round only."""
    run = workloads.Run(ROOT, 1, 1.0, False)
    run.round_walls = [4.0, 4.0, 40.0]
    run.op_rounds = [0, 0, 1, 1, 2, 2]
    run.ok = [True, True, True, False, True, True]
    assert run.round_rates() == [0.5, 0.25, 0.05]
    assert workloads.median(run.round_rates()) == 0.25
    run.stop()


def test_not_query_answer_drops_excluded_docs():
    texts = {0: "alpha beta", 1: "alpha gamma", 2: "alpha alpha"}
    ora = OracleIndex.from_texts(texts)
    got = oracles.bm25_answer(ora, ["alpha"], "or", 10, exclude=["gamma"])
    assert [d for d, _ in got] == [2, 0]


def test_benchmark_json_matches_the_metrics_run_reports():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == bench.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == bench.per_layer_units()
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)


def test_logs_are_seeded():
    assert inputs.search_log(3) == inputs.search_log(3)
    assert inputs.search_log(3) != inputs.search_log(4)
    assert inputs.scan_log(3) == inputs.scan_log(3)
    for q in inputs.scan_log(3):
        assert not set(q.get("exclude", [])) & set(q["terms"])


def test_search_round_follows_the_query_set_distribution():
    """A search round has generate_query_set's shares of term counts,
    modes and k exactly, and its term pools by largest remainder."""
    from collections import Counter

    rnd = inputs.SEARCH_ROUND
    assert Counter(len(p) for p, _, _ in rnd) == {1: 2, 2: 1, 3: 2, 4: 1, 5: 2}
    assert Counter(m for _, m, _ in rnd) == {"or": 4, "and": 4}
    assert Counter(k for _, _, k in rnd) == {1: 2, 10: 4, 100: 2}
    pools = Counter(t for p, _, _ in rnd for t in p)
    share = {"hot": 0.3, "mid": 0.5, "rare": 0.15, "absent": 0.05}
    assert set(pools) == set(share)
    for pool, n in pools.items():
        assert abs(n - share[pool] * sum(pools.values())) < 1, pool


def test_sql_oracle_is_the_entry_modules_oracle():
    """The corpus-operator SQL equals oracle_sql()'s, less its canonical
    gate sort. The ANN query vector is read from the benchmark's copy of
    the testdata embeddings, the table oracle_sql() reads it from."""
    import __spark_entry__ as entry

    try:
        theirs = entry.oracle_sql()
    except FileNotFoundError:
        pytest.skip("the entry module's testdata is not on this host")
    ours = oracles.sql_oracle(entry._query_vec(inputs.TABLES_DIR))
    for name in inputs.CORPUS_OPS:
        unordered = name in workloads.UNORDERED_OPS
        assert unordered == (name in entry._CANON_ORDER), name
        assert theirs[name] == (entry._canon_sql(ours[name]) if unordered else ours[name]), name


def _bench(cwd, *args, timeout=600):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=timeout,
    )


@pytest.mark.parametrize("workload,trace", [("search", "0"), ("scan", "1")])
def test_smoke_run_prints_every_metric(workload, trace):
    p = _bench(ROOT, "--workload", workload, "--seed", "7", "--seconds", "1", "--trace", trace)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    want = bench.END_TO_END if trace == "0" else bench.per_layer_units()
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    detail = json.loads(p.stdout.strip().splitlines()[-2])
    assert detail["leftover_processes"] == []


def test_fails_without_the_engine(tmp_path):
    shutil.copytree(PERFBENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = _bench(tmp_path, "--workload", "search", "--seed", "1", "--seconds", "1", "--trace", "0",
               timeout=170)
    assert p.returncode != 0
    assert p.stdout.strip() == ""

"""Expected answers, computed outside every timed region.

BM25 top-k and phrase answers come from ``ocaml_lucene_spark.oracle``
(the pure-Python executable spec); ``corpus_ops`` answers from the
DuckDB SQL the entry module's ``oracle_sql()`` uses. Answers are cached
on disk keyed on the seed, the corpus, the query specs and the hash of
the oracle's and the benchmark's sources.
"""

from __future__ import annotations

import json
import math
import os

from inputs import file_hash

SCORE_REL_TOL = 1e-9  # the engine-vs-oracle tolerance of tests/test_index_build.py


def oracle_key(root: str) -> str:
    """Hash of what an oracle answer depends on: the oracle, the tokenizer
    it calls, the corpus generator that made its input, and this
    benchmark's own code, which decides what gets indexed and asked."""
    pkg = os.path.join(root, "ocaml_lucene_spark")
    here = os.path.dirname(os.path.abspath(__file__))
    files = [os.path.join(pkg, p) for p in ("oracle.py", "functions/analysis.py", "sources/corpus.py")]
    files += sorted(os.path.join(here, n) for n in os.listdir(here) if n.endswith(".py"))
    return file_hash(*files)


class AnswerCache:
    """JSON answers under ``<dir>/<name>.json``."""

    def __init__(self, directory: str):
        self.dir = directory
        os.makedirs(directory, exist_ok=True)

    def get(self, name: str, compute):
        path = os.path.join(self.dir, f"{name}.json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        value = compute()
        tmp = f"{path}.tmp{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(value, f)
        os.replace(tmp, path)
        return value


def bm25_answer(oracle, terms, mode, k, exclude=None) -> list[list]:
    """Top-k [doc_id, score]; with ``exclude``, the OR ranking with every
    doc holding an excluded term removed (df, N and avgdl unchanged)."""
    if not exclude:
        return [list(r) for r in oracle.query(terms, mode, k)]
    banned = set()
    for t in exclude:
        banned |= set(oracle.postings.get(t, {}))
    ranked = oracle.query(terms, mode, oracle.n_docs)
    return [list(r) for r in ranked if r[0] not in banned][:k]


def phrase_answer(oracle, first, second) -> list[list]:
    return sorted([d, n] for d, n in oracle.phrase_count(first, second).items())


def same_ranking(got: list, expected: list) -> bool:
    """Same doc ids in the same order; scores within SCORE_REL_TOL."""
    if [int(d) for d, _ in got] != [int(d) for d, _ in expected]:
        return False
    return all(math.isclose(g, e, rel_tol=SCORE_REL_TOL) for (_, g), (_, e) in zip(got, expected))


def normalise_rows(rows, cols, ordered: bool) -> list:
    """tests/test_entry.py's convention: columns sorted by name, floats
    rounded to 4 places, compared by repr. Operators without a ranking
    are compared as sorted row sets, because the benchmark runs
    ``queries(ordered=False)`` (no canonical gate sort)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = round(v, 4)
            vals.append(repr(v))
        out.append(tuple(vals))
    if not ordered:
        out.sort()
    return [sorted(cols)] + out


def sql_oracle(query_vec: list[float]) -> dict[str, str]:
    """The DuckDB SQL of ``__spark_entry__.oracle_sql()`` for the
    corpus_ops operators. ``oracle_sql()`` itself reads its ANN query
    vector from a fixed testdata path outside the checkout, so the
    vector is passed in, read from the benchmark's copy of the same
    table."""
    from ocaml_lucene_spark.query import oracle_sql as osql
    from ocaml_lucene_spark.query import oracle_sql_ops as oops

    return {
        "bm25_or_top10": osql.bm25_topk_sql(["spark", "query", "dup"], "or", 10),
        "bm25_and_top10": osql.bm25_topk_sql(["join", "hash", "scan"], "and", 10),
        "phrase_counts": osql.phrase_counts_sql("table", "hash"),
        "term_stats": osql.term_stats_sql(),
        "dedup_exact": oops.exact_dup_groups_sql(),
        "minhash_candidate_pairs": oops.minhash_candidate_pairs_sql(min_est_jaccard=0.5),
        "simhash_signatures": oops.simhash_signatures_sql(),
        "language_id": oops.language_id_sql(),
        "quality_features": oops.quality_features_sql(),
        "ann_lsh": oops.lsh_topk_sql(query_vec, k=10, n_bits=8),
        "ann_brute_force": oops.brute_force_topk_sql(query_vec, k=10, exclude_self=0),
    }


def duckdb_answers(tables_dir: str, query_vec: list[float], unordered) -> dict[str, list]:
    """Normalised oracle rows per corpus_ops operator, from DuckDB views
    over the tables in ``tables_dir``."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables_dir}/{t}.parquet')"
            )
        out = {}
        for name, sql in sql_oracle(query_vec).items():
            res = con.execute(sql)
            cols = [d[0] for d in res.description]
            out[name] = normalise_rows(res.fetchall(), cols, name not in unordered)
        return out
    finally:
        con.close()

"""Seeded inputs for every workload. One seed drives the corpus and the
operations run against it, so a query log always matches its corpus.

Corpora and tables are cached under the work directory keyed on the
seed, the size and the hash of the package source: a cache entry is
never reused by different code.
"""

from __future__ import annotations

import functools
import hashlib
import os
import shutil

import numpy as np

# Sizes are fixed by the benchmark (never by the seed) and chosen so a
# run, with its Spark start, index build and oracle check, fits the run
# budget on a 4-vCPU host. See NOTES.md for the scale-down.
INDEX_DOCS = 2_000  # the full build
DELTA_DOCS = 300  # the appended segment
WARM_DOCS = 200  # the set-up build
# the corpus operators run over a copy of the testdata tables at sf0.01
# (500 documents, 500 embeddings): the tables oracle_sql() takes its ANN
# query vector from
TABLES_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")


def source_hash(root: str) -> str:
    """sha256 over the package and the entry module: the cache key that
    keeps an index built by other code from ever being reused."""
    h = hashlib.sha256()
    files = [os.path.join(root, "__spark_entry__.py")]
    pkg = os.path.join(root, "ocaml_lucene_spark")
    for d, subdirs, names in os.walk(pkg):
        subdirs[:] = sorted(s for s in subdirs if s != "__pycache__")
        files += [os.path.join(d, n) for n in sorted(names) if n.endswith(".py")]
    for path in files:
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def file_hash(*paths: str) -> str:
    """sha256 over the files' contents, in order."""
    h = hashlib.sha256()
    for path in paths:
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def cached_dir(path: str, make) -> str:
    """Return ``path``, creating it with ``make(tmp_path)`` if absent.
    The entry appears atomically (rename), so a killed run leaves no
    half-written entry behind."""
    if os.path.isdir(path):
        return path
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    make(tmp)
    os.rename(tmp, path)
    return path


def seed_corpora(cache: str, seed: int) -> dict[str, str]:
    """One ``generate_corpus(seed)`` draw split into three parquet dirs:
    ``base`` (the full build), ``delta`` (the appended segment) and
    ``warm`` (the set-up build). Urls are unique across the three."""
    import pyarrow.parquet as pq

    from ocaml_lucene_spark.sources.corpus import generate_corpus

    sizes = {"base": INDEX_DOCS, "delta": DELTA_DOCS, "warm": WARM_DOCS}

    def make(tmp: str) -> None:
        table = pq.read_table(generate_corpus(os.path.join(tmp, "all"), sum(sizes.values()), seed=seed))
        start = 0
        for name, n in sizes.items():
            os.makedirs(os.path.join(tmp, name))
            pq.write_table(table.slice(start, n), os.path.join(tmp, name, "part-00000.parquet"))
            start += n
        shutil.rmtree(os.path.join(tmp, "all"))

    key = "-".join(str(n) for n in (seed, *sizes.values()))
    path = cached_dir(os.path.join(cache, f"corpus-{key}"), make)
    return {name: os.path.join(path, name) for name in sizes}


@functools.lru_cache(maxsize=4)
def _pools(seed: int) -> dict[str, list[str]]:
    """The term pools of ``generate_query_set``, over the seed's vocab."""
    from ocaml_lucene_spark.sources.corpus import make_vocab

    vocab = make_vocab(seed=seed)
    return {
        "hot": vocab[:50],
        "mid": vocab[200:1000],
        "rare": vocab[5000:],
        "absent": [w + "xq" for w in vocab[:100]],
        # sprinkled into every English doc: the corpus's hottest terms
        "stop": ["the", "and", "of"],
        # narrow slices of the Zipf head and body: the scan terms of
        # every seed have near-equal document frequencies
        "head": vocab[:10],
        "body": vocab[200:300],
    }


# One search round, stratified over generate_query_set's distribution:
# its term count is uniform on 1..5, its mode and/or at 1/2 each, its k
# in {1, 10, 10, 100}, and each term comes from hot/mid/rare/absent with
# p = 0.3/0.5/0.15/0.05. A round of 8 queries meets the count, mode and
# k shares exactly: (term pools, mode, k) per query below. Its 24 terms
# take their pools by largest remainder from 24 x (0.3, 0.5, 0.15, 0.05)
# = 7.2 / 12 / 3.6 / 1.2, i.e. 7 hot, 12 mid, 4 rare and 1 absent. The
# pools sit in fixed slots, so every seed runs the same shapes: with the
# pools shuffled over the slots each round, a run's median moved ~20%
# between seeds. Rare and absent terms go to OR queries; an AND holding
# one matches nothing, and its check would test little.
SEARCH_ROUND = (
    (("rare",), "or", 10),
    (("hot",), "and", 100),
    (("mid", "rare"), "or", 1),
    (("hot", "hot", "mid"), "and", 10),
    (("mid", "mid", "rare"), "or", 100),
    (("hot", "mid", "mid", "mid"), "and", 10),
    (("hot", "mid", "mid", "rare", "absent"), "or", 10),
    (("hot", "hot", "mid", "mid", "mid"), "and", 1),
)

# One scan round: hot-term OR, AND and NOT queries, each on every
# distributed plan, and one phrase on the positions index
SCAN_ROUND = (
    ("or", ("stop", "head", "body"), None),
    ("and", ("stop", "head"), None),
    ("not", ("stop", "head", "body"), "body"),
    ("phrase", ("stop", "stop"), None),
)


def _draw(rng, pools, names, avoid=()) -> list[str]:
    """One distinct term from each named pool, none of them in ``avoid``."""
    out: list[str] = []
    while len(out) < len(names):
        pool = pools[names[len(out)]]
        t = str(pool[rng.integers(len(pool))])
        if t not in out and t not in avoid:
            out.append(t)
    return out


def search_log(seed: int, rounds: int = 40) -> list[dict]:
    """BM25 query log: ``rounds`` rounds of SEARCH_ROUND, terms drawn per
    seed from the pools of the seed's own vocabulary, with replacement
    as in ``generate_query_set``."""
    rng = np.random.default_rng(seed + 1)
    pools = _pools(seed)
    return [
        {"query_id": r * len(SEARCH_ROUND) + i, "mode": mode, "k": k,
         "terms": [str(pools[p][rng.integers(len(pools[p]))]) for p in names]}
        for r in range(rounds)
        for i, (names, mode, k) in enumerate(SEARCH_ROUND)
    ]


def scan_log(seed: int, rounds: int = 8) -> list[dict]:
    """Hot-term queries: ``rounds`` rounds of SCAN_ROUND."""
    rng = np.random.default_rng(seed + 2)
    pools = _pools(seed)
    out = []
    for _ in range(rounds):
        for shape, names, exclude in SCAN_ROUND:
            q = {"shape": shape, "terms": _draw(rng, pools, names)}
            if exclude:
                q["exclude"] = _draw(rng, pools, (exclude,), avoid=q["terms"])
            out.append(q)
    return out


# the corpus operators a traced scan run times: registry name in
# __spark_entry__.queries() -> per-layer metric name
CORPUS_OPS = {
    "bm25_or_top10": "query.bm25.logical_or_s",
    "bm25_and_top10": "query.bm25.logical_and_s",
    "phrase_counts": "query.bm25.phrase_counts_s",
    "term_stats": "query.bm25.term_stats_s",
    "dedup_exact": "operators.dedup.dedup_exact_s",
    "minhash_candidate_pairs": "operators.dedup.minhash_pairs_s",
    "simhash_signatures": "operators.dedup.simhash_s",
    "language_id": "functions.textstats.language_id_s",
    "quality_features": "functions.textstats.quality_features_s",
    "ann_lsh": "operators.ann.ann_lsh_s",
    "ann_brute_force": "operators.ann.ann_brute_force_s",
}

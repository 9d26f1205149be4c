"""Randomized WAND-vs-exhaustive stress (no Spark): builds small random
corpora, encodes real compressed posting blocks, and checks that
wand_topk_single returns rank- and score-identical top-k to the pure-Python
exhaustive oracle — across skewed vocabularies, tiny blocks (maximum block
skipping), k larger/smaller than hit counts, and stop-token-heavy queries.
"""

import math
import random

import numpy as np
import pytest

from elasticsearch_analysis_combo_spark.analysis.combo import ComboConfig
from elasticsearch_analysis_combo_spark.operators.postings import (
    DocTable,
    _encode_blocks,
)
from elasticsearch_analysis_combo_spark.query.wand import wand_topk_single

from tests.oracle import build_oracle_index, oracle_topk

CFG = ComboConfig(["whitespace"])
K1, B = 1.2, 0.75

VOCAB = (
    ["the", "if", "return"] * 20          # hot stop tokens
    + ["merge", "index", "token", "cache"] * 4
    + [f"rare{i}" for i in range(40)]
)


def make_corpus(rng: random.Random, n_docs: int):
    docs = []
    for i in range(n_docs):
        n = rng.randint(1, 60)
        text = " ".join(rng.choice(VOCAB) for _ in range(n))
        # negative + positive ids, like xxhash64 docIDs
        doc_id = rng.randint(-(2**62), 2**62)
        docs.append((doc_id, text, None))
    return docs


def encoded_postings(docs, block_size):
    postings, doc_len, n_docs, avgdl = build_oracle_index(docs, CFG)
    ids = np.array(sorted(doc_len), dtype=np.int64)
    table = DocTable(ids, np.array([doc_len[d] for d in ids], dtype=np.int64))
    enc = {}
    for term, plist in postings.items():
        items = sorted(plist.items())
        ords = np.searchsorted(ids, [d for d, _ in items])
        tfs = np.array([tf for _, (tf, _) in items], dtype=np.int64)
        blocks = _encode_blocks(ords, tfs, table.dl[ords], None, avgdl, K1, B,
                                block_size)
        df = len(items)
        idf = math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
        enc[term] = (idf, blocks)
    return enc, table, avgdl


@pytest.mark.parametrize("seed", range(25))
def test_wand_random_corpora(seed):
    rng = random.Random(seed)
    docs = make_corpus(rng, rng.randint(2, 120))
    block_size = rng.choice([2, 3, 8, 64])   # tiny blocks stress skipping
    enc, table, avgdl = encoded_postings(docs, block_size)
    queries = [
        "the if return",                      # all-hot (threshold pressure)
        "merge rare1",                        # mixed df
        "rare2 rare3 rare4 rare5",            # all-rare
        "the merge index token cache",        # many terms
        "zzz_missing the",                    # partial miss
        " ".join(rng.sample(VOCAB, rng.randint(1, 6))),
    ]
    for q in queries:
        for k in (1, 3, 10, 1000):
            qterms = sorted({t for t in q.split()})
            by_term = {t: enc[t] for t in qterms if t in enc}
            # dense_max_postings=0 forces the cursor (block-max WAND) path;
            # the default dispatches small tasks to the dense evaluator —
            # both must match the oracle AND each other bit-exactly
            got = wand_topk_single(by_term, k, avgdl, K1, B, table,
                                   dense_max_postings=0)
            dense = wand_topk_single(by_term, k, avgdl, K1, B, table)
            exp = [(d, s) for _, d, s in oracle_topk(docs, CFG, q, k=k)]
            assert [d for d, _ in got] == [d for d, _ in exp], (seed, q, k)
            for (_, s1), (_, s2) in zip(got, exp):
                assert abs(s1 - s2) < 1e-9
            assert dense == got, (seed, q, k)

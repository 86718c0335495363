"""The corpus generator's ground truth, and the dedup and top-k checks
that compare a run's output with it."""

import numpy as np
import pytest

from perfbench import inputs, oracle

pytest.importorskip("pyarrow")


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    out = tmp_path_factory.mktemp("corpus") / "c"
    meta = inputs.write_corpus(str(out), seed=7, n_docs=1000, n_vecs=300)
    import pyarrow.parquet as pq

    emb = pq.read_table(str(out / "embeddings")).sort_by("vec_id")
    vecs = np.array(emb.column("embedding").to_pylist(), dtype=np.float64)
    return meta, vecs


def test_planted_pairs_are_true_pairs(corpus):
    meta, _ = corpus
    truth = meta["truth"]
    assert len(truth["planted"]) == 1000 // 20 + 1000 * 8 // 5000
    assert set(truth["planted"]) <= set(truth["pairs"])
    assert truth["exact_pairs"] >= 1000 * 8 // 5000
    assert meta["inputs"]["documents"]["rows"] == 1000


def test_jaccard_pairs_matches_brute_force():
    texts = ["a b c d e", "a b c d e x", "q r s t", "a b c d e"]
    got = inputs.jaccard_pairs(texts, threshold=0.5)
    assert got == {"0,1": 0.75, "0,3": 1.0, "1,3": 0.75}


def test_true_output_passes(corpus):
    meta, vecs = corpus
    truth = meta["truth"]
    assert oracle.dedup_mismatches(dict(truth["pairs"]), truth) == []
    q = meta["queries"][0]
    want = truth["topk"][str(q)]
    sims = vecs @ vecs[q] / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(vecs[q]))
    got = list(zip(want["ids"], want["sims"]))
    assert oracle.topk_mismatches("exact", got, q, sims, want["sims"]) == []
    assert oracle.topk_mismatches("ann", got[:4], q, sims) == []


def test_lost_or_wrong_pairs_fail_the_operation(corpus):
    meta, _ = corpus
    truth = meta["truth"]
    ledger = oracle.OpLedger()
    identical = next(p for p, j in truth["pairs"].items() if j >= 1.0)
    lost = {p: j for p, j in truth["pairs"].items() if p != identical}
    assert not ledger.record("op 0", oracle.dedup_mismatches(lost, truth))
    assert "identical pairs missed" in ledger.failures[0]
    wrong = dict(truth["pairs"], **{"0,999999": 0.9})
    assert any("not true pairs" in p for p in oracle.dedup_mismatches(wrong, truth))
    few = dict(list(truth["pairs"].items())[: len(truth["pairs"]) // 2])
    assert any("planted pairs" in p for p in oracle.dedup_mismatches(few, truth))


def test_wrong_topk_fails_the_operation(corpus):
    meta, vecs = corpus
    q = meta["queries"][0]
    want = meta["truth"]["topk"][str(q)]
    sims = vecs @ vecs[q] / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(vecs[q]))
    got = list(zip(want["ids"], want["sims"]))
    skipped = got[:3] + got[4:] + [(int(np.argsort(-sims)[10]), float(np.sort(-sims)[10] * -1))]
    assert any("exact top-k" in p
               for p in oracle.topk_mismatches("exact", skipped, q, sims, want["sims"]))
    bad_sim = [(got[0][0], got[0][1])] + [(i, s + 0.01) for i, s in got[1:]]
    assert any("true cosine" in p for p in oracle.topk_mismatches("ann", bad_sim, q, sims))
    assert any("top-1" in p for p in oracle.topk_mismatches("ann", got[1:], q, sims))

"""Round-8 retrieval operators: RRF hybrid fusion and the TF-IDF cosine
similarity join.

text_tfidf_cosine_pairs works at clone-collapsed rep grain on BOTH sides
(the dedup_canonical_pick convention: family sizes as multiplicities, df
still member-grain), so the critical test is the FULL differential gate on
a planted corpus that mixes clone families with cross-family near-dup
edges, plus a rep-grain Python reconstruction. RRF is rebuilt in pure
Python from its two subsystem rankings.
"""

from __future__ import annotations

import math
import os
from collections import Counter, defaultdict

import pandas as pd
import pytest

from vena_etl_tool_spark.catalog import TABLES
from vena_etl_tool_spark.operators.exact import with_sq_norm
from vena_etl_tool_spark.operators.retrieval import (
    RRF_DEPTH,
    RRF_K,
    RRF_QMAP,
    RRF_TOP_K,
    TFIDF_COS2_PPM,
    TFIDF_DF_CAP_DIV,
    TFIDF_DF_CAP_FLOOR,
    retrieval_rrf_fusion,
    text_tfidf_cosine_pairs,
)
from vena_etl_tool_spark.operators.textanalysis import text_bm25_search
from vena_etl_tool_spark.registry import REGISTRY, all_specs
from vena_etl_tool_spark.testing import diff_query, duckdb_connection

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def _write_documents(rows, path):
    pd.DataFrame(
        [
            {"doc_id": i, "text": t, "lang": "en", "source": s, "n_chars": len(t)}
            for i, t, s in rows
        ]
    ).astype({"doc_id": "int64", "n_chars": "int64"}).to_parquet(path, index=False)


@pytest.fixture()
def tfidf_corpus_dir(spark, tmp_path):
    """Clone families WITH cross-family near-dup edges — the case where
    rep-grain pairs must carry both families' sizes and member-grain df."""
    for t in TABLES:
        if t != "documents":
            os.symlink(
                os.path.join(SMOKE_SF_DIR, f"{t}.parquet"),
                os.path.join(str(tmp_path), f"{t}.parquet"),
            )
    near_a = "quick brown fox jumps over the lazy dog tonight again"
    near_b = "quick brown fox jumps over the lazy dog tonight twice"
    rows = [
        # clone family of 3 that is ALSO near-dup to a clone family of 2
        (1, near_a, "s1"),
        (2, near_a, "s1"),
        (3, near_a, "s2"),
        (10, near_b, "s1"),
        (11, near_b, "s2"),
        # clone family with no cross edge
        (20, "alpha beta gamma delta epsilon", "s1"),
        (21, "alpha beta gamma delta epsilon", "s1"),
        # singletons sharing a couple of low-idf words only
        (30, "the dog sat alone under heavy winter rain yesterday", "s1"),
        (31, "unrelated vocabulary entirely separate tokens here now", "s2"),
    ]
    _write_documents(rows, os.path.join(str(tmp_path), "documents.parquet"))
    return str(tmp_path)


def test_tfidf_gate_holds_on_clone_plus_neardup_corpus(spark, tfidf_corpus_dir):
    all_specs()
    con = duckdb_connection(tfidf_corpus_dir)
    res = diff_query(
        spark, con, REGISTRY["text_tfidf_cosine_pairs"], tfidf_corpus_dir
    )
    assert res.ok, res
    out = {
        (r.rep_a, r.rep_b): r
        for r in text_tfidf_cosine_pairs(spark, tfidf_corpus_dir).collect()
    }
    # the cross-family near-dup pair appears ONCE, at rep grain, with both
    # family sizes as multiplicities
    assert (1, 10) in out
    r = out[(1, 10)]
    assert (r.fam_a, r.fam_b) == (3, 2) and r.cos2_ppm < 1_000_000
    # clone pairs are dedup_exact's job — never emitted here
    for pair in [(1, 2), (1, 3), (2, 3), (10, 11), (20, 21)]:
        assert pair not in out
    # no member id other than a representative ever appears
    assert all(a in (1, 10, 20, 30, 31) and b in (1, 10, 20, 30, 31)
               for a, b in out)


def _naive_tfidf_pairs(sf_dir):
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    n_docs = len(docs)
    cap = max(TFIDF_DF_CAP_FLOOR, n_docs // TFIDF_DF_CAP_DIV)
    # rep grain: min doc_id per distinct text, family sizes as counts
    fam = {}
    for r in docs.sort_values("doc_id").itertuples():
        if r.text in fam:
            fam[r.text][1] += 1
        else:
            fam[r.text] = [r.doc_id, 1]
    toks = {rep: Counter(text.split(" ")) for text, (rep, _) in fam.items()}
    size = {rep: s for rep, s in fam.values()}
    df = Counter()
    for text, (rep, s) in fam.items():
        for t in toks[rep]:
            df[t] += s  # member-grain document frequency
    keep = {t for t, d in df.items() if 2 <= d <= cap}
    vecs = {
        rep: {t: tf * (1000 * n_docs // df[t]) for t, tf in c.items() if t in keep}
        for rep, c in toks.items()
    }
    nsq = {i: sum(w * w for w in v.values()) for i, v in vecs.items() if v}
    inv = defaultdict(list)
    for i, v in vecs.items():
        for t in v:
            inv[t].append(i)
    cand = set()
    for ids in inv.values():
        ids = sorted(ids)
        for x, a in enumerate(ids):
            for b in ids[x + 1 :]:
                cand.add((a, b))
    expect = {}
    for a, b in cand:
        shared = set(vecs[a]) & set(vecs[b])
        dot = sum(vecs[a][t] * vecs[b][t] for t in shared)
        ppm = dot * dot * 1_000_000 // (nsq[a] * nsq[b])
        if ppm >= TFIDF_COS2_PPM:
            expect[(a, b)] = (len(shared), ppm, size[a], size[b])
    return expect


def test_tfidf_matches_python_reconstruction(spark, sf_dir):
    expect = _naive_tfidf_pairs(sf_dir)
    got = {
        (r.rep_a, r.rep_b): (r.n_shared_terms, r.cos2_ppm, r.fam_a, r.fam_b)
        for r in text_tfidf_cosine_pairs(spark, sf_dir).collect()
    }
    assert got == expect


def test_rrf_matches_subsystem_reconstruction(spark, sf_dir):
    lex = {
        (r.query_id, r.doc_id): r.rk
        for r in text_bm25_search(spark, sf_dir).collect()
        if r.rk <= RRF_DEPTH
    }
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    vecs = {r.vec_id: r.embedding for r in emb}

    def cos(a, b):
        dot = sum(math.floor(float(x) * float(y) * 1e12) for x, y in zip(a, b))
        na = sum(math.floor(float(x) * float(x) * 1e12) for x in a)
        nb = sum(math.floor(float(y) * float(y) * 1e12) for y in b)
        return (dot / 1e12) / (math.sqrt(na / 1e12) * math.sqrt(nb / 1e12))

    dense = {}
    for qid, qv in RRF_QMAP:
        ranked = sorted(
            ((cos(vecs[qv], v), -i) for i, v in vecs.items() if i != qv),
            reverse=True,
        )
        for rk, (_, neg) in enumerate(ranked[:RRF_DEPTH], start=1):
            dense[(qid, -neg)] = rk

    scores = defaultdict(int)
    for (q, d), rk in lex.items():
        scores[(q, d)] += 1_000_000 // (RRF_K + rk)
    for (q, d), rk in dense.items():
        scores[(q, d)] += 1_000_000 // (RRF_K + rk)
    expect = {}
    for qid, _ in RRF_QMAP:
        rows = sorted(
            ((s, d) for (q, d), s in scores.items() if q == qid),
            key=lambda x: (-x[0], x[1]),
        )
        for rk, (s, d) in enumerate(rows[:RRF_TOP_K], start=1):
            expect[(qid, d)] = (lex.get((qid, d), 0), dense.get((qid, d), 0), s, rk)
    got = {
        (r.query_id, r.doc_id): (r.bm25_rk, r.dense_rk, r.rrf_micro, r.fused_rk)
        for r in retrieval_rrf_fusion(spark, sf_dir).collect()
    }
    assert got == expect
    # a doc ranked by BOTH systems must outscore one ranked by a single
    # system at the same single rank — the fusion property itself
    both = [v[2] for v in got.values() if v[0] > 0 and v[1] > 0]
    single = [v[2] for v in got.values() if (v[0] > 0) != (v[1] > 0)]
    if both and single:
        assert max(both) > min(single)


def test_rrf_ivf_matches_probe_reconstruction(spark, sf_dir):
    """Full Python reconstruction of the IVF-served hybrid ranking: exact
    scaled-int centroid assignment, NPROBE probe cells per query vector,
    within-cell exact cosine ranks, integer RRF fusion with the BM25
    list — the production-path twin must equal this end to end."""
    import numpy as np

    from vena_etl_tool_spark.operators.retrieval import (
        retrieval_rrf_fusion_ivf,
    )
    from vena_etl_tool_spark.operators.similarity import (
        IVF_NPROBE,
        _IVF_CENTS,
        _IVF_C_SQ,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    vecs = {r.vec_id: r.embedding for r in emb}

    def scores(v):
        out = []
        for c in range(len(_IVF_CENTS)):
            dot = sum(
                math.floor(float(x) * float(p) * 1e12)
                for x, p in zip(v, _IVF_CENTS[c])
            )
            out.append(_IVF_C_SQ[c] - 2 * dot)
        return out

    assign = {i: int(np.argmin(scores(v))) for i, v in vecs.items()}

    def cos(a, b):
        dot = sum(math.floor(float(x) * float(y) * 1e12) for x, y in zip(a, b))
        na = sum(math.floor(float(x) * float(x) * 1e12) for x in a)
        nb = sum(math.floor(float(y) * float(y) * 1e12) for y in b)
        return (dot / 1e12) / (math.sqrt(na / 1e12) * math.sqrt(nb / 1e12))

    dense = {}
    for qid, qv in RRF_QMAP:
        sc = scores(vecs[qv])
        cells = sorted(range(len(sc)), key=lambda c: (sc[c], c))[:IVF_NPROBE]
        cand = [i for i, v in vecs.items() if assign[i] in cells and i != qv]
        ranked = sorted(((cos(vecs[qv], vecs[i]), -i) for i in cand), reverse=True)
        for rk, (_, neg) in enumerate(ranked[:RRF_DEPTH], start=1):
            dense[(qid, -neg)] = rk

    lex = {
        (r.query_id, r.doc_id): r.rk
        for r in text_bm25_search(spark, sf_dir).collect()
        if r.rk <= RRF_DEPTH
    }
    fused_scores = defaultdict(int)
    for (q, d), rk in lex.items():
        fused_scores[(q, d)] += 1_000_000 // (RRF_K + rk)
    for (q, d), rk in dense.items():
        fused_scores[(q, d)] += 1_000_000 // (RRF_K + rk)
    expect = {}
    for qid, _ in RRF_QMAP:
        rows = sorted(
            ((s, d) for (q, d), s in fused_scores.items() if q == qid),
            key=lambda x: (-x[0], x[1]),
        )
        for rk, (s, d) in enumerate(rows[:RRF_TOP_K], start=1):
            expect[(qid, d)] = (lex.get((qid, d), 0), dense.get((qid, d), 0), s, rk)
    got = {
        (r.query_id, r.doc_id): (r.bm25_rk, r.dense_rk, r.rrf_micro, r.fused_rk)
        for r in retrieval_rrf_fusion_ivf(spark, sf_dir).collect()
    }
    assert got == expect

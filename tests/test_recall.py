"""Retrieval QUALITY on planted near-duplicates.

The stock embeddings fixture has no true near-dup structure (max pairwise
cosine ≈ 0.5), so plan-shape tests alone can't tell whether the ANN /
near-dup operators actually retrieve. This module plants known duplicate
pairs at controlled similarity into copies of the sf0.001 fixtures and
asserts recall bounds — turning similarity_ivf_topk, similarity_lsh_ann_pairs
and dedup_simhash_pairs from "plan-correct" into "quality-measured".

All planting is seeded (numpy default_rng(0)) and thresholds sit below the
deterministic measured values (IVF dup-hits 5/5, IVF top-5 recall 0.76 vs
brute force, LSH pair recall 0.90, SimHash 0.65 overall / 1.0 on identical
copies), so failures mean a real retrieval regression, not noise.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tests.conftest import SF_DIR

IVF_QUERIES = range(8, 13)  # similarity.IVF_Q_LO..HI
LSH_BASES = range(100, 120)
DOC_BASES = range(20)


@pytest.fixture(scope="module")
def planted_dir(tmp_path_factory):
    """sf0.001 embeddings + documents with planted near-duplicates:

    - one ~0.999-cosine dup per IVF query vector (ids 10000+qid);
    - twenty dups of base vectors 100..119 at cosine ~0.96..0.995
      (ids 20000+base) for LSH pair recall;
    - twenty doc copies (ids 10000+doc_id) with 0/1/2 token substitutions
      cycling — the 0-substitution ones are bit-identical fingerprints and
      MUST always be retrieved (pigeonhole), the edited ones measure recall
      under perturbation.
    """
    out_dir = tmp_path_factory.mktemp("planted")
    rng = np.random.default_rng(0)

    etab = pq.read_table(f"{SF_DIR}/embeddings.parquet")
    emb = etab.to_pandas()
    vecs = {int(r.vec_id): np.array(r.embedding, dtype=np.float64) for r in emb.itertuples()}

    def corrupt(v: np.ndarray, eps: float) -> np.ndarray:
        noise = rng.standard_normal(len(v))
        noise /= np.linalg.norm(noise)
        return (v + eps * np.linalg.norm(v) * noise).astype(np.float32)

    rows = [(10000 + qid, corrupt(vecs[qid], 0.05), 0) for qid in IVF_QUERIES]
    rows += [
        (20000 + bid, corrupt(vecs[bid], 0.1 + 0.01 * j), 0)
        for j, bid in enumerate(LSH_BASES)
    ]
    planted = pd.DataFrame(
        {
            "vec_id": [r[0] for r in rows],
            "embedding": [r[1] for r in rows],
            "label": [r[2] for r in rows],
        }
    )
    allemb = pd.concat([emb, planted], ignore_index=True)
    pq.write_table(
        pa.Table.from_pandas(allemb, schema=etab.schema, preserve_index=False),
        f"{out_dir}/embeddings.parquet",
    )

    dtab = pq.read_table(f"{SF_DIR}/documents.parquet")
    docs = dtab.to_pandas()
    drows = []
    for i, did in enumerate(DOC_BASES):
        t = docs[docs.doc_id == did].iloc[0]
        toks = t.text.split()
        for j in range(i % 3):  # 0, 1 or 2 substituted tokens
            toks[(7 * (j + 1)) % max(len(toks), 1)] = f"zzyzx{j}"
        nt = " ".join(toks)
        drows.append((10000 + did, nt, t.lang, t.source, len(nt)))
    alldocs = pd.concat(
        [docs, pd.DataFrame(drows, columns=list(docs.columns))], ignore_index=True
    )
    pq.write_table(
        pa.Table.from_pandas(alldocs, schema=dtab.schema, preserve_index=False),
        f"{out_dir}/documents.parquet",
    )
    return str(out_dir), vecs


def _registry():
    from ufload_spark.plans.registry import load_all

    return load_all()


def test_ivf_recall_on_planted_dups(spark, planted_dir):
    """The trained-quantizer IVF must (a) retrieve EVERY planted
    ~0.999-cosine duplicate — a near-identical vector lands in its
    original's cell, so 2-probe retrieval cannot miss it — and (b) overlap
    brute-force top-5 well beyond what 2/8 cells of random vectors give."""
    sf, vecs = planted_dir
    allvecs = dict(vecs)
    for r in pq.read_table(f"{sf}/embeddings.parquet").to_pandas().itertuples():
        allvecs[int(r.vec_id)] = np.array(r.embedding, dtype=np.float64)
    cand_ids = sorted(i for i in allvecs if i >= 13)

    def bf_top5(qid: int) -> list[int]:
        q = allvecs[qid]
        qn = np.linalg.norm(q)
        scored = sorted(
            (-(q @ allvecs[c]) / (qn * np.linalg.norm(allvecs[c])), c)
            for c in cand_ids
        )
        return [c for _, c in scored[:5]]

    ivf = _registry()["similarity_ivf_topk"].fn(spark, sf).toPandas()
    got = {q: set(g.cand_id) for q, g in ivf.groupby("qid")}
    dup_hits = sum(1 for q in IVF_QUERIES if 10000 + q in got.get(q, set()))
    assert dup_hits == len(IVF_QUERIES), f"planted dup missed: {dup_hits}/5"
    overlap = sum(len(set(bf_top5(q)) & got.get(q, set())) for q in IVF_QUERIES)
    recall = overlap / (5 * len(IVF_QUERIES))
    assert recall >= 0.6, f"IVF top-5 recall vs brute force: {recall}"  # measured 0.76


def test_lsh_pair_recall_on_planted_dups(spark, planted_dir):
    """Banded hyperplane LSH (6 bands × 12 bits): a cosine-0.96+ pair
    collides in ≥1 band with probability ~0.9+; assert the planted pairs
    are actually proposed and survive the exact-cosine rescore."""
    sf, _ = planted_dir
    pairs = _registry()["similarity_lsh_ann_pairs"].fn(spark, sf).toPandas()
    got = set(zip(pairs.vec_a, pairs.vec_b))
    planted = [(b, 20000 + b) for b in LSH_BASES]
    recall = sum(1 for p in planted if p in got) / len(planted)
    assert recall >= 0.75, f"LSH planted-pair recall: {recall}"  # measured 0.90


def test_minhash_lsh_recall_on_planted_dups(spark, planted_dir):
    """MinHash banding over shingle sets: identical copies share every
    band (must all surface); 1-2 token edits keep Jaccard high enough
    that banded retrieval should find most."""
    sf, _ = planted_dir
    pairs = _registry()["dedup_minhash_lsh_pairs"].fn(spark, sf).toPandas()
    got = set(zip(pairs.doc_a, pairs.doc_b))
    identical = [(d, 10000 + d) for i, d in enumerate(DOC_BASES) if i % 3 == 0]
    edited = [(d, 10000 + d) for i, d in enumerate(DOC_BASES) if i % 3 != 0]
    missed = [p for p in identical if p not in got]
    assert not missed, f"identical copies missed by MinHash LSH: {missed}"
    recall = sum(1 for p in edited if p in got) / len(edited)
    assert recall >= 0.5, f"MinHash-LSH edited-copy recall: {recall}"


def test_simhash_recall_on_planted_dups(spark, planted_dir):
    """Pigeonhole retrieval: identical copies (Hamming 0) must ALL be
    found — that's the d+1-segment guarantee, not a probability — and
    lightly edited copies must still be found at a useful rate."""
    sf, _ = planted_dir
    sim = _registry()["dedup_simhash_pairs"].fn(spark, sf).toPandas()
    got = set(zip(sim.doc_a, sim.doc_b))
    identical = [(d, 10000 + d) for i, d in enumerate(DOC_BASES) if i % 3 == 0]
    edited = [(d, 10000 + d) for i, d in enumerate(DOC_BASES) if i % 3 != 0]
    missed = [p for p in identical if p not in got]
    assert not missed, f"identical copies missed (pigeonhole violated): {missed}"
    recall = sum(1 for p in edited if p in got) / len(edited)
    assert recall >= 0.4, f"SimHash edited-copy recall: {recall}"  # measured ~0.5


def test_quantized_topk_fidelity(spark):
    """int8 scalar quantization must preserve the float ranking almost
    exactly on the stock fixtures (64-dim, well-spread vectors): rank-1
    neighbors identical for every query, top-5 overlap >= 0.9 (measured:
    1.0 and 0.96, deterministic — both queries and data are seed-free)."""
    r = _registry()
    fl = r["similarity_topk_cosine"].fn(spark, SF_DIR).toPandas()
    qt = r["similarity_quantized_topk"].fn(spark, SF_DIR).toPandas()
    top5_f = {q: set(g.cid) for q, g in fl.groupby("qid")}
    top5_q = {q: set(g.cid) for q, g in qt.groupby("qid")}
    assert set(top5_f) == set(top5_q)
    overlap = sum(len(top5_f[q] & top5_q[q]) for q in top5_f) / (5 * len(top5_f))
    assert overlap >= 0.9, f"quantized top-5 overlap vs float: {overlap}"
    r1_f = {q: g.sort_values("rnk").cid.iloc[0] for q, g in fl.groupby("qid")}
    r1_q = {q: g.sort_values("rnk").cid.iloc[0] for q, g in qt.groupby("qid")}
    assert r1_f == r1_q, "rank-1 neighbor changed under int8 quantization"


def test_importance_weights_favor_target_language(spark):
    """DSIR sanity on the stock fixtures: the mean importance weight of
    target-language (en) documents must exceed that of every other
    language's documents — the hashed-unigram likelihood ratio has to
    recover the very signal its target slice was defined by. The margin is
    small on synthetic text with heavily shared vocabulary (measured:
    -0.0125 vs -0.0148 at sf0.001), so the pin is direction, not size."""
    r = _registry()
    w = r["corpus_importance_weights"].fn(spark, SF_DIR).toPandas()
    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet", columns=["doc_id", "lang"])
    j = w.merge(docs, on="doc_id")
    mean_en = j.loc[j.lang == "en", "avg_log_ratio"].mean()
    mean_rest = j.loc[j.lang != "en", "avg_log_ratio"].mean()
    assert mean_en > mean_rest, (mean_en, mean_rest)
    # and per-language: en beats each other language's mean individually
    per_lang = j.groupby("lang")["avg_log_ratio"].mean()
    assert per_lang.idxmax() == "en", per_lang.to_dict()


def test_pq_topk_recall_vs_exact(spark):
    """PQ fidelity on the stock fixtures: 8-byte codes (16 subspaces x 16
    codes) must recover a meaningful share of the exact-L2 top-5 — the
    fixtures' embeddings are near-uniform (the worst case for vector
    quantization), so the pin is a floor well under the measured 0.4
    overlap at sf0.001, plus a sanity margin over the ~0.01 random
    baseline. Deterministic: data, seeds and algorithm are all fixed."""
    r = _registry()
    pq = r["similarity_pq_topk"].fn(spark, SF_DIR).toPandas()
    emb = pd.read_parquet(f"{SF_DIR}/embeddings.parquet")
    X = np.vstack(emb.embedding.values).astype("float64")
    ids = emb.vec_id.values
    qm, cm = (ids >= 8) & (ids < 13), ids >= 13
    Qx, Cx, qids, cids = X[qm], X[cm], ids[qm], ids[cm]
    d = ((Qx[:, None, :] - Cx[None, :, :]) ** 2).sum(-1)
    exact = {q: set(cids[np.argsort(dd)[:5]]) for q, dd in zip(qids, d)}
    got = {q: set(g.cand_id) for q, g in pq.groupby("qid")}
    assert set(got) == set(exact)
    overlap = sum(len(exact[q] & got[q]) for q in exact) / (5 * len(exact))
    assert overlap >= 0.3, f"PQ top-5 overlap vs exact L2: {overlap}"


def test_substring_span_coverage_on_planted_dups(spark, planted_dir):
    """dedup_substring_spans on the planted document copies: a
    0-substitution copy IS its base — every span duplicated, so coverage
    must be exactly 1.0 (both the copy and its base); a 1-2-substitution
    copy still shares every 16-token window that avoids the edited
    positions, so any long-enough edited copy must show nonzero
    duplicated coverage. Exact expectations, not statistical ones —
    substring dedup is deterministic."""
    out_dir, _ = planted_dir
    res = (
        _registry()["dedup_substring_spans"]
        .fn(spark, out_dir)
        .toPandas()
        .set_index("doc_id")
    )
    checked_exact = 0
    checked_edited = 0
    for i, did in enumerate(DOC_BASES):
        copy = res.loc[10000 + did]
        if copy.n_spans == 0:
            continue  # too short for a single window — out of scope
        if i % 3 == 0:  # bit-identical copy
            assert copy.dup_frac == 1.0, (did, dict(copy))
            assert res.loc[did].dup_frac == 1.0, did
            checked_exact += 1
        elif copy.n_tokens >= 50:  # room for a clean 16-token window
            assert copy.dup_tokens > 0, (did, dict(copy))
            checked_edited += 1
    assert checked_exact >= 3
    assert checked_edited >= 3


def test_range_search_is_exact_and_shuffle_free(spark):
    """similarity_range_search is the EXACT low-radius tier (the measured
    2%-recall banded variant was rejected — LSH concentrates recall near
    cos→1): its hit set must equal numpy brute force at the radius, and
    the plan must be a broadcast of the query batch onto the corpus scan
    with NO shuffle exchange at all."""
    import numpy as np
    import pyarrow.parquet as pq

    from ufload_spark.operators.similarity import (
        RANGE_COS_T,
        similarity_range_search,
    )

    df = similarity_range_search(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan

    t = pq.read_table(f"{SF_DIR}/embeddings.parquet").to_pandas()
    V = {int(r.vec_id): np.array(r.embedding, dtype=np.float64) for r in t.itertuples()}
    exact = set()
    for q in (i for i in V if i < 5):
        qn = np.linalg.norm(V[q])
        for c in (i for i in V if i >= 5):
            cos = V[q] @ V[c] / (qn * np.linalg.norm(V[c]))
            if round(cos, 6) >= RANGE_COS_T:
                exact.add((q, c))
    got = {(r["qid"], r["cid"]) for r in df.collect()}
    assert got == exact, (
        f"range search missed {len(exact - got)} / extra {len(got - exact)}"
    )


def test_winnowing_recall_on_planted_dups(spark, planted_dir):
    """Winnowing's POSITIONAL guarantee: any shared token run of
    >= W+k-1 = 6 tokens yields a shared fingerprint, so identical copies
    (whose entire stream is shared) must ALL surface, and 1-2 token edits
    leave long untouched runs — recall on edited copies should be near
    total, stronger than the set-similarity tiers on this planting."""
    sf, _ = planted_dir
    pairs = _registry()["dedup_winnowing_pairs"].fn(spark, sf).toPandas()
    got = set(zip(pairs.doc_a, pairs.doc_b))
    identical = [(d, 10000 + d) for i, d in enumerate(DOC_BASES) if i % 3 == 0]
    edited = [(d, 10000 + d) for i, d in enumerate(DOC_BASES) if i % 3 != 0]
    missed = [p for p in identical if p not in got]
    assert not missed, f"identical copies missed by winnowing: {missed}"
    recall = sum(1 for p in edited if p in got) / len(edited)
    assert recall >= 0.7, f"winnowing edited-copy recall: {recall}"
    # identical copies overlap at ~100% of fingerprints
    ident_rows = pairs[
        pairs.apply(lambda r: (r.doc_a, r.doc_b) in set(identical), axis=1)
    ]
    assert (ident_rows.overlap_micro >= 900_000).all()


def test_winnowing_sigmod_guarantee_exact(spark, tmp_path):
    """The SIGMOD 2003 winnowing theorem, asserted EXACTLY (r8 verdict
    ask #6): with window W over k-gram hashes, ANY shared token run of
    length >= W + k - 1 (here 4 + 3 - 1 = 6) places one full window of
    identical k-gram hashes in both documents, and the window-min
    selection (smallest hash, rightmost position — position packed below
    the hash, so the selected HASH value is position-independent) picks
    the same fingerprint in both. Detection is therefore guaranteed, not
    probabilistic — unlike MinHash recall, this must be 100/100.

    Fixture: 60 doc pairs of unique random tokens; each pair shares one
    planted passage of exactly W+k-1 tokens at a DIFFERENT offset in
    each doc (the guarantee is positional, offsets must not matter),
    distinct passages per pair (so the df cap never bites). 20 of the
    pairs get a second disjoint passage — those must ALSO surface in the
    registered dedup_winnowing_pairs query (whose WINNOW_MIN_SHARED=2
    needs two shared fingerprints)."""
    import random

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pqt

    from ufload_spark.operators.dedup import (
        WINNOW_MIN_SHARED,
        WINNOW_W,
        _winnow_fingerprints,
        dedup_winnowing_pairs,
    )

    K = 3  # shingle size in _winnow_fingerprints (3-gram)
    run_len = WINNOW_W + K - 1
    rng = random.Random(9)
    uid = iter(f"u{i:06d}" for i in range(10**6))
    rows = []
    double_pairs, single_pairs = [], []
    for p in range(60):
        passage = [next(uid) for _ in range(run_len)]
        passage2 = [next(uid) for _ in range(run_len)] if p % 3 == 0 else None
        for side in (0, 1):
            body = [next(uid) for _ in range(30 + rng.randrange(20))]
            # different insertion offsets per side — the guarantee must
            # hold regardless of where the shared run sits
            at = rng.randrange(len(body))
            toks = body[:at] + passage + body[at:]
            if passage2 is not None:
                # prepend/append (never a random offset — that could cut
                # passage 1's run); sides still differ in position
                toks = passage2 + toks if side == 0 else toks + passage2
            rows.append((2 * p + side, " ".join(toks)))
        (double_pairs if passage2 is not None else single_pairs).append(
            (2 * p, 2 * p + 1)
        )
    df = pd.DataFrame(
        {
            "doc_id": [r[0] for r in rows],
            "text": [r[1] for r in rows],
            "lang": "en",
            "source": "planted",
            "n_chars": [len(r[1]) for r in rows],
        }
    )
    pqt.write_table(pa.Table.from_pandas(df, preserve_index=False),
                    f"{tmp_path}/documents.parquet")
    sf = str(tmp_path)

    fps = _winnow_fingerprints(spark, sf).toPandas()
    by_doc = fps.groupby("doc_id")["fp"].apply(set).to_dict()
    missed = [
        (a, b)
        for a, b in single_pairs + double_pairs
        if not (by_doc.get(a, set()) & by_doc.get(b, set()))
    ]
    assert not missed, f"guarantee violated for pairs: {missed}"  # 60/60

    got = {
        (r["doc_a"], r["doc_b"])
        for r in dedup_winnowing_pairs(spark, sf).collect()
    }
    assert WINNOW_MIN_SHARED == 2  # the premise of the two-passage plant
    missing_double = [p for p in double_pairs if p not in got]
    assert not missing_double, f"two-passage pairs missed: {missing_double}"


def test_semdedup_recall_on_planted_dups(spark, planted_dir):
    """dedup_semantic_pairs recall on the planted ~0.999-cosine and
    ~0.96-0.995-cosine embedding dups: SemDeDup's one blind spot is a
    pair straddling a cell boundary, so recall is measured, not assumed
    — high-cosine planted pairs should overwhelmingly co-cluster and
    surface. Also: every emitted pair clears the threshold, and every
    drop decision names a member of its own pair."""
    from ufload_spark.operators.similarity import SEM_COS_T, dedup_semantic_pairs

    sf, _ = planted_dir
    rows = dedup_semantic_pairs(spark, sf).collect()
    got = {(r["vec_a"], r["vec_b"]) for r in rows}
    for r in rows:
        assert r["cosine"] >= SEM_COS_T
        assert r["drop_id"] in (r["vec_a"], r["vec_b"])
    planted = [(q, 10000 + q) for q in IVF_QUERIES] + [
        (b, 20000 + b) for b in LSH_BASES
    ]
    found = sum(1 for p in planted if p in got)
    recall = found / len(planted)
    assert recall >= 0.8, f"semdedup planted-dup recall: {recall}"


def test_semdedup_is_arrow_batch_size_independent(spark, planted_dir):
    """The kernel path must not depend on Arrow batch boundaries: the
    same corpus processed with a tiny maxRecordsPerBatch (forcing many
    kernel invocations and split batches) yields the identical pair set
    and drop decisions."""
    from ufload_spark.operators.similarity import dedup_semantic_pairs

    sf, _ = planted_dir
    key = lambda r: (r["cell"], r["vec_a"], r["vec_b"], r["cosine"], r["drop_id"])
    base = sorted(map(key, dedup_semantic_pairs(spark, sf).collect()))
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "37")
        small = sorted(map(key, dedup_semantic_pairs(spark, sf).collect()))
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert base == small


def test_semdedup_hier_recall_on_planted_dups(spark, planted_dir):
    """The two-level tier must not lose TRUE near-dups: planted
    0.96-0.999-cosine pairs co-probe (near-identical vectors pick the
    same pivots), so hier recall on them must match the flat tier —
    measured 0.96 both. The approximation only sheds borderline
    ~threshold random pairs (worst-case on these near-uniform
    fixtures)."""
    from ufload_spark.operators.similarity import (
        dedup_semantic_pairs,
        dedup_semantic_pairs_hier,
    )

    sf, _ = planted_dir
    flat = {
        (r["vec_a"], r["vec_b"]) for r in dedup_semantic_pairs(spark, sf).collect()
    }
    hier = {
        (r["vec_a"], r["vec_b"])
        for r in dedup_semantic_pairs_hier(spark, sf).collect()
    }
    planted = [(q, 10000 + q) for q in IVF_QUERIES] + [
        (b, 20000 + b) for b in LSH_BASES
    ]
    flat_hits = {p for p in planted if p in flat}
    hier_hits = {p for p in planted if p in hier}
    assert len(hier_hits) / len(planted) >= 0.9, hier_hits
    # the probe may shed at most the weakest planted pair or two (the
    # ~0.96-cosine tail can straddle pivot boundaries); measured: exactly
    # one lost, (116, 20116) at eps=0.26
    assert len(flat_hits - hier_hits) <= 2, flat_hits - hier_hits


def test_hier_pivot_rule_parity_when_cells_die(spark):
    """r9 ADVICE (medium): the hier tier must derive k2 from the KNOB k
    (the oracle's ``ceil(sqrt(k)) FROM sknob``), not from the survivor
    count, or the two engines pick different pivot counts whenever the
    trained table carries fewer cids than k (train sample < k seeds) AND
    the survivor count straddles a ceil(sqrt) boundary. Current corpus
    constants cannot reach that regime (the 1/4 train sample always
    exceeds k past the N_CENTROIDS floor, and the max(4,·) floor hides
    the straddle below it), so this pins the RULE component-level:
    _hier_pivots vs a DuckDB replica of the k2knob/fids/pivots CTEs, on
    survivor sets with dead cells, including straddle cases where the
    old survivor-derived rule provably diverges."""
    import duckdb

    from ufload_spark.operators.similarity import _hier_pivots, _sem_k2

    cases = [
        # (surviving cids, knob k) — survivors < k with ceil(sqrt) straddle
        (list(range(0, 50, 2)), 30),   # 25 survive, sqrt straddle 5 vs 6
        ([1, 3, 4, 7, 9, 12, 15, 20, 21, 22, 23, 30, 31, 33, 40, 44], 17),
        (list(range(8)), 8),           # no dead cells (the common regime)
        ([0, 2, 5], 8),                # fewer survivors than k2 itself
    ]
    con = duckdb.connect()
    try:
        for cids, k in cases:
            vals = ", ".join(f"({c})" for c in cids)
            want = [
                r[0]
                for r in con.execute(
                    f"""WITH k2knob AS (
  SELECT greatest(4, CAST(ceil(sqrt({k})) AS INT)) AS k2
), fids AS (SELECT * FROM (VALUES {vals}) t(cid))
SELECT cid FROM fids
ORDER BY md5(CAST(cid AS VARCHAR)), cid LIMIT (SELECT k2 FROM k2knob)"""
                ).fetchall()
            ]
            got = [cids[i] for i in _hier_pivots(cids, k)]
            assert sorted(got) == sorted(want), (cids, k, got, want)
    finally:
        con.close()
    # the straddle case has teeth: the OLD survivor-derived rule picks a
    # different pivot COUNT there
    assert _sem_k2(25) != _sem_k2(30)


def test_hier_spark_pivot_selection_matches_rule(spark):
    """r11: `_hier_assignment` now selects pivots WITH SPARK (orderBy
    md5(cid), cid → limit k2 over the published model — the de-broadcast
    rewrite collects only those O(√k) rows), so the Spark expression must
    agree with `_hier_pivots`, the rule the numpy replay and the DuckDB
    CTE parity test pin. Checked on survivor sets with dead cells,
    including the sqrt-straddle case."""
    from pyspark.sql import functions as F

    from ufload_spark.operators.similarity import _hier_pivots, _sem_k2

    cases = [
        (list(range(0, 50, 2)), 30),
        ([1, 3, 4, 7, 9, 12, 15, 20, 21, 22, 23, 30, 31, 33, 40, 44], 17),
        (list(range(8)), 8),
        ([0, 2, 5], 8),
    ]
    for cids, k in cases:
        df = spark.createDataFrame([(c,) for c in cids], "cid int")
        got = sorted(
            r["cid"]
            for r in df.orderBy(F.md5(F.col("cid").cast("string")), "cid")
            .limit(_sem_k2(k))
            .collect()
        )
        want = sorted(cids[i] for i in _hier_pivots(cids, k))
        assert got == want, (cids, k, got, want)


def test_kernel_assign2_single_centroid_degrades_gracefully(spark):
    """r10 ADVICE: a degenerate corpus can train a SINGLE centroid (seed
    sample smaller than 2); the top-2 overlap kernel must emit primary
    memberships only — the oracle's behavior (no rn=2 rows) — instead of
    raising IndexError on order[:, 1]."""
    from ufload_spark.operators.similarity import _kernel_assign

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    cent = spark.createDataFrame([(7, [0.5, 0.5])], "cid int, ce array<double>")
    rows = _kernel_assign(emb, cent, overlap=True).collect()
    assert len(rows) == 2, rows  # no overflow rows
    assert {r["vec_id"] for r in rows} == {1, 2}
    assert all(r["cell"] == 7 for r in rows)


def test_single_centroid_top2_tiers_match_oracle(spark, tmp_path):
    """The other two top-2 consumers of the centroid-distance kernel on a
    corpus that trains ONE centroid (7 vectors, only vec_id 7 in the md5
    training bucket): the cell-quality audit reports its one cell with a
    NULL margin and the hierarchical tier probes the one pivot that
    exists — both exactly as their oracles do, instead of IndexError on
    the absent second-nearest column."""
    import hashlib
    import os

    from tests.oracle import compare
    from ufload_spark.operators.similarity import DIM, TRAIN_SAMPLE_MOD
    from ufload_spark.plans.registry import load_all
    from ufload_spark.sources.tables import TABLES

    ids = list(range(1, 8))
    in_train = [
        i for i in ids
        if int(hashlib.md5(str(i).encode()).hexdigest()[:4], 16) % TRAIN_SAMPLE_MOD == 0
    ]
    assert in_train == [7]
    etab = pq.read_table(f"{SF_DIR}/embeddings.parquet")
    vecs = np.random.default_rng(0).standard_normal((len(ids), DIM)).astype(np.float32)
    pq.write_table(
        pa.Table.from_pandas(
            pd.DataFrame({"vec_id": ids, "embedding": list(vecs), "label": [0] * len(ids)}),
            schema=etab.schema,
            preserve_index=False,
        ),
        f"{tmp_path}/embeddings.parquet",
    )
    for t in TABLES:  # the oracle connection binds a view per table
        if t != "embeddings":
            os.symlink(f"{SF_DIR}/{t}.parquet", f"{tmp_path}/{t}.parquet")
    reg, sf = load_all(), str(tmp_path)
    for name in ("similarity_semantic_cell_quality", "dedup_semantic_pairs_hier"):
        compare(reg[name].fn(spark, sf), reg[name].oracle, sf)


def test_overlap_recovers_planted_boundary_dups(spark, tmp_path):
    """r10 (r9 VERDICT ask #3): near-dup pairs planted ASTRIDE trained
    cell borders — members pulled slightly toward opposite centroids
    from the midpoint of adjacent centroid pairs — are invisible to the
    flat tier (different primary cells) and recovered by the
    epsilon-overlap pass (each member's 2nd membership covers the
    other's primary cell). Planted ids are chosen OUTSIDE the md5
    training bucket and the total stays ≤ 512 rows, so the trained
    centroids are bit-identical to the base corpus and the midpoints
    are computed against the very model both tiers use."""
    import hashlib

    from ufload_spark.operators.similarity import (
        _R,
        SEM_COS_T,
        SEM_EPS_FRAC,
        _sem_k,
        dedup_semantic_pairs,
        dedup_semantic_pairs_overlap,
        kmeans_centroids,
        train_sample,
    )
    from ufload_spark.sources.tables import corpus_count, table

    etab = pq.read_table(f"{SF_DIR}/embeddings.parquet")
    emb = etab.to_pandas()
    k = _sem_k(len(emb))
    cent = kmeans_centroids(
        train_sample(table(spark, SF_DIR, "embeddings")), k=k, kernel=True
    )
    rows = sorted(cent.collect(), key=lambda r: r["cid"])
    C = np.array([r["ce"] for r in rows], dtype=np.float64)
    cids = np.array([r["cid"] for r in rows], dtype=np.int32)

    # adjacent centroid pairs: each centroid with its nearest neighbor
    DC = ((C[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    np.fill_diagonal(DC, np.inf)
    adj = sorted({tuple(sorted((a, int(DC[a].argmin())))) for a in range(len(C))})

    def out_of_train(i: int) -> bool:
        return int(hashlib.md5(str(i).encode()).hexdigest()[:4], 16) % 4 != 0

    t, nid, planted = 0.004, 30000, []
    for a, b in adj[:6]:
        m = (C[a] + C[b]) / 2.0
        v1 = (m + t * (C[a] - m)).astype(np.float32)
        v2 = (m + t * (C[b] - m)).astype(np.float32)
        while not out_of_train(nid) or not out_of_train(nid + 1):
            nid += 2
        planted.append((nid, v1, nid + 1, v2))
        nid += 2
    assert len(emb) + 2 * len(planted) <= 512  # k unchanged by planting

    # verify with numpy which planted pairs actually straddle in-band at
    # float32 storage precision (what both engines will read back)
    verified = []
    for i1, v1, i2, v2 in planted:
        X = np.stack([v1, v2]).astype(np.float64)
        D = np.round(
            (X * X).sum(1)[:, None] - 2.0 * (X @ C.T) + (C * C).sum(1)[None, :],
            _R,
        )
        o = np.argsort(D, axis=1, kind="stable")
        c1, c2 = cids[o[0, 0]], cids[o[1, 0]]
        band = [
            D[r, o[r, 1]] - D[r, o[r, 0]] <= SEM_EPS_FRAC * D[r, o[r, 0]]
            for r in (0, 1)
        ]
        cos = round(
            float(X[0] @ X[1] / (np.linalg.norm(X[0]) * np.linalg.norm(X[1]))), 6
        )
        if c1 != c2 and all(band) and cos >= SEM_COS_T:
            verified.append((i1, i2))
    assert len(verified) >= 3, (len(verified), adj)

    prows = pd.DataFrame(
        {
            "vec_id": [i for p in planted for i in (p[0], p[2])],
            "embedding": [v for p in planted for v in (p[1], p[3])],
            "label": [0] * (2 * len(planted)),
        }
    )
    allemb = pd.concat([emb, prows], ignore_index=True)
    pq.write_table(
        pa.Table.from_pandas(allemb, schema=etab.schema, preserve_index=False),
        f"{tmp_path}/embeddings.parquet",
    )
    sf = str(tmp_path)
    assert _sem_k(corpus_count(spark, sf, "embeddings")) == k

    flat = {
        tuple(sorted((r["vec_a"], r["vec_b"])))
        for r in dedup_semantic_pairs(spark, sf).collect()
    }
    over = {
        tuple(sorted((r["vec_a"], r["vec_b"])))
        for r in dedup_semantic_pairs_overlap(spark, sf).collect()
    }
    missed_by_flat = [p for p in verified if p not in flat]
    found_by_overlap = [p for p in verified if p in over]
    assert missed_by_flat == verified, "flat tier unexpectedly saw a straddler"
    assert found_by_overlap == verified, (verified, sorted(over)[:20])


def test_cell_pairs_batch_kernel_matches_full_reference():
    """Engine-external replay for the incremental SemDeDup pair kernel:
    the B×N batch-touching kernel must emit exactly the full N² kernel's
    pairs restricted to pairs with a batch member — same cosines, same
    drop rule — on synthetic cells including all-batch, no-batch and
    tie-distance cases."""
    from ufload_spark.operators.similarity import _cell_pairs, _cell_pairs_batch

    rng = np.random.default_rng(11)
    for trial in range(6):
        n = int(rng.integers(2, 40))
        ids = np.sort(rng.choice(np.arange(1000), size=n, replace=False))
        base_v = rng.normal(size=16)
        # correlated cell members so a decent fraction crosses SEM_COS_T
        X = base_v + 0.8 * rng.normal(size=(n, 16))
        d = np.round(rng.uniform(0, 2, size=n), 1)  # coarse → distance ties
        pdf = pd.DataFrame(
            {
                "cell": np.full(n, 7, dtype=np.int32),
                "vec_id": ids.astype("int64"),
                "embedding": list(X.astype(np.float64)),
                "d": d,
            }
        )
        full = _cell_pairs(pdf.copy())
        want = full[(full.vec_a % 4 == 0) | (full.vec_b % 4 == 0)]
        got = _cell_pairs_batch(pdf.copy())
        key = lambda df: sorted(
            (int(a), int(b), float(c), int(dr))
            for a, b, c, dr in zip(df.vec_a, df.vec_b, df.cosine, df.drop_id)
        )
        assert key(got) == key(want), trial


@pytest.fixture(scope="module")
def clustered_dir(tmp_path_factory):
    """Mixture-of-Gaussians embeddings (r9 VERDICT ask #4): the stock
    fixture is near-uniform — the stated WORST case for every quantized
    tier — so recall claims measured only there undersell the regime
    real embeddings live in. Same vec_ids/schema/row count as sf0.001
    (all id-derived constants and the corpus-count knobs hold verbatim):
    12 well-separated Gaussian clusters, plus the planted_dir-style
    near-dups (one ~0.99-cosine dup per IVF query id, twenty ~0.96-0.99
    dups of ids 100..119) so the planted-recall measurements run
    unchanged. Documents copied through untouched."""
    import shutil

    out_dir = tmp_path_factory.mktemp("clustered")
    rng = np.random.default_rng(42)
    etab = pq.read_table(f"{SF_DIR}/embeddings.parquet")
    emb = etab.to_pandas()
    dim = len(emb.embedding.iloc[0])
    centers = rng.normal(size=(12, dim)) * 4.0
    vecs = {}
    for vid in emb.vec_id:
        c = centers[int(vid) % 12]
        vecs[int(vid)] = (c + 0.5 * rng.standard_normal(dim)).astype(np.float32)
    emb["embedding"] = [vecs[int(v)] for v in emb.vec_id]

    def corrupt(v, eps):
        noise = rng.standard_normal(len(v))
        noise /= np.linalg.norm(noise)
        return (v + eps * np.linalg.norm(v) * noise).astype(np.float32)

    rows = [(10000 + q, corrupt(vecs[q], 0.05), 0) for q in IVF_QUERIES]
    rows += [
        (20000 + b, corrupt(vecs[b], 0.1 + 0.01 * j), 0)
        for j, b in enumerate(LSH_BASES)
    ]
    allemb = pd.concat(
        [
            emb,
            pd.DataFrame(
                {
                    "vec_id": [r[0] for r in rows],
                    "embedding": [r[1] for r in rows],
                    "label": [r[2] for r in rows],
                }
            ),
        ],
        ignore_index=True,
    )
    pq.write_table(
        pa.Table.from_pandas(allemb, schema=etab.schema, preserve_index=False),
        f"{out_dir}/embeddings.parquet",
    )
    shutil.copy(f"{SF_DIR}/documents.parquet", f"{out_dir}/documents.parquet")
    return str(out_dir), vecs


def test_quantized_recall_on_clustered_fixture(spark, clustered_dir):
    """similarity_quantized_recall_eval on BOTH regimes: the clustered
    fixture must not be worse than the near-uniform one — quantization
    error hurts most when everything is equidistant."""
    from ufload_spark.operators.similarity import similarity_quantized_recall_eval

    sf, _ = clustered_dir

    def mean_recall(d):
        rows = similarity_quantized_recall_eval(spark, d).collect()
        return sum(r["recall_at_k"] for r in rows) / len(rows)

    uni, clu = mean_recall(SF_DIR), mean_recall(sf)
    # measured: near-uniform 0.96, clustered 1.00 — separation helps, as
    # the quantized-topk fixture caveat predicted
    assert clu >= uni - 0.1, (uni, clu)
    assert clu >= 0.85, clu


def test_semdedup_tiers_on_clustered_fixture(spark, clustered_dir):
    """Planted-dup recall + hier/flat agreement in the CLUSTERED regime:
    (a) both tiers must retrieve ≥0.9 of the planted true dups, and
    (b) hier/flat full-pair agreement (Jaccard) must beat the ~0.6
    borderline band measured on the near-uniform fixture — cluster
    structure is exactly what makes the 2-probe approximation safe."""
    from ufload_spark.operators.similarity import (
        dedup_semantic_pairs,
        dedup_semantic_pairs_hier,
    )

    sf, _ = clustered_dir
    flat = {
        tuple(sorted((r["vec_a"], r["vec_b"])))
        for r in dedup_semantic_pairs(spark, sf).collect()
    }
    hier = {
        tuple(sorted((r["vec_a"], r["vec_b"])))
        for r in dedup_semantic_pairs_hier(spark, sf).collect()
    }
    planted = [(q, 10000 + q) for q in IVF_QUERIES] + [
        (b, 20000 + b) for b in LSH_BASES
    ]
    flat_recall = sum(1 for p in planted if p in flat) / len(planted)
    hier_recall = sum(1 for p in planted if p in hier) / len(planted)
    assert flat_recall >= 0.9, flat_recall
    assert hier_recall >= 0.9, hier_recall
    jac = len(flat & hier) / max(len(flat | hier), 1)
    # measured: planted recall 1.0/1.0 and Jaccard 1.00 (10990 pairs both
    # tiers) vs the ~0.6 borderline-band agreement on the near-uniform
    # fixture — cluster structure makes the 2-probe approximation exact
    assert jac >= 0.8, (jac, len(flat), len(hier))


def test_minhash_error_eval_pure_replay(spark):
    """Engine-external replay for the estimator audit's EXACT side and
    fold arithmetic: take the (oracle-verified, planted-recall-tested)
    LSH candidate pairs as input, recompute exact shingle-set Jaccard in
    pure python from the raw text, fold the integer-micro census, and
    require the exact output."""
    from collections import defaultdict

    from ufload_spark.operators.dedup import (
        K_HASHES,
        dedup_minhash_estimate_error_eval,
        dedup_minhash_lsh_pairs,
    )

    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet", columns=["doc_id", "text"])
    sets = {}
    for r in docs.itertuples():
        toks = r.text.strip().lower().split()
        sets[int(r.doc_id)] = {
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        }
    pairs = [
        (r["doc_a"], r["doc_b"], int(round(r["est_sim"] * K_HASHES)))
        for r in dedup_minhash_lsh_pairs(spark, SF_DIR).collect()
    ]
    cells = defaultdict(lambda: [0, 0, 0])  # n, sum_exact, sum_abs_err
    for a, b, m in pairs:
        inter = len(sets[a] & sets[b])
        exact = (1_000_000 * inter) // (len(sets[a]) + len(sets[b]) - inter)
        cell = cells[m]
        cell[0] += 1
        cell[1] += exact
        cell[2] += abs(m * (1_000_000 // K_HASHES) - exact)
    want = {
        (m, n, s // n, e // n) for m, (n, s, e) in cells.items()
    }
    got = {
        (r["n_match"], r["n_pairs"], r["mean_exact_micro"],
         r["mean_abs_err_micro"])
        for r in dedup_minhash_estimate_error_eval(spark, SF_DIR).collect()
    }
    assert got == want

"""MinHash/SimHash dedup parity vs brute-force oracles (SURVEY §5 style)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from geomesa_spark.operators.dedup import (
    _char_shingles,
    exact_dedup,
    minhash_lsh_pairs,
    simhash64,
    simhash_chunk_bounds,
    simhash_pairs,
)


def _mutate(text: str, k: int, seed: int) -> str:
    rng = np.random.default_rng(seed)
    chars = list(text)
    for _ in range(k):
        i = int(rng.integers(0, len(chars)))
        chars[i] = chr(ord("a") + int(rng.integers(0, 26)))
    return "".join(chars)


@pytest.fixture(scope="module")
def docs_pdf():
    rng = np.random.default_rng(5)
    vocab = ["spark", "table", "query", "join", "scan", "batch", "row", "agg"]
    base = [
        " ".join(rng.choice(vocab, 40)) for _ in range(60)
    ]
    rows = [(i, t) for i, t in enumerate(base)]
    # near-dups: light mutations of the first 10 docs
    rows += [(100 + i, _mutate(base[i], 3, i)) for i in range(10)]
    # exact dups
    rows += [(200 + i, base[i]) for i in range(5)]
    return pd.DataFrame(rows, columns=["doc_id", "text"])


def brute_jaccard(a: str, b: str, n: int = 5) -> float:
    s1, s2 = set(_char_shingles(a, n)), set(_char_shingles(b, n))
    u = len(s1 | s2)
    return len(s1 & s2) / u if u else 1.0


def test_minhash_certified_recall(spark, docs_pdf):
    """bands == num_hashes: every pair with exact Jaccard >= tau must be
    emitted (miss prob (1-tau)^64), with the exact verified metric."""
    tau = 0.5
    df = spark.createDataFrame(docs_pdf)
    got = minhash_lsh_pairs(
        df, num_hashes=64, bands=64, jaccard_threshold=tau
    ).toPandas()
    gset = {(r.id_a, r.id_b) for r in got.itertuples(index=False)}
    expect = set()
    t = dict(zip(docs_pdf["doc_id"], docs_pdf["text"]))
    ids = sorted(t)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            if brute_jaccard(t[a], t[b]) >= tau:
                expect.add((a, b))
    assert gset == expect
    for r in got.itertuples(index=False):
        # Spark/DuckDB round half-away-from-zero, Python half-even: compare
        # the 6-decimal value against the raw metric with half-step tolerance
        assert abs(r.jaccard - brute_jaccard(t[r.id_a], t[r.id_b])) <= 5e-7


@pytest.mark.parametrize("max_hamming", [3, 8])
def test_simhash_pigeonhole_recall(spark, docs_pdf, max_hamming):
    """Banding into max_hamming+1 chunks guarantees recall at the stated
    threshold for ANY max_hamming (round-1 fixed 4 chunks only covered <=3)."""
    df = spark.createDataFrame(docs_pdf)
    got = simhash_pairs(df, max_hamming=max_hamming).toPandas()
    gset = {(r.id_a, r.id_b): r.hamming for r in got.itertuples(index=False)}
    t = dict(zip(docs_pdf["doc_id"], docs_pdf["text"]))
    h = {i: simhash64(s) for i, s in t.items()}
    expect = {}
    ids = sorted(t)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            d = bin((h[a] ^ h[b]) & 0xFFFFFFFFFFFFFFFF).count("1")
            if d <= max_hamming:
                expect[(a, b)] = d
    assert gset == expect
    assert len(expect) >= 5  # exact dups at hamming 0 must be present


def test_hamming_neardup_pairs_stored_hash(spark):
    """Generic multi-index-hashing pairs over a PRECOMPUTED hash column
    (the stored-phash image-dedup path): recall vs brute force at the
    threshold, exact duplicates included, nothing below threshold."""
    from geomesa_spark.operators.dedup import hamming_neardup_pairs

    rng = np.random.default_rng(11)
    base = rng.integers(-(2**63), 2**63 - 1, size=40, dtype=np.int64)
    rows = [(f"h{i:04d}", int(v)) for i, v in enumerate(base)]
    # near-dups: flip 1..9 random bits of the first 12 hashes
    for i in range(12):
        v = int(base[i])
        for b in rng.choice(64, size=(i % 9) + 1, replace=False):
            v ^= 1 << int(b)
        v &= (1 << 64) - 1  # wrap to signed int64 range
        rows.append((f"h{100 + i:04d}", v - (1 << 64) if v >= 1 << 63 else v))
    # exact duplicates
    rows += [(f"h{200 + i:04d}", int(base[i])) for i in range(4)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["img_id", "ph"]))
    got = hamming_neardup_pairs(df, "ph", "img_id", max_hamming=6).toPandas()
    gset = {(r.id_a, r.id_b): r.hamming for r in got.itertuples(index=False)}
    h = dict(rows)
    expect = {}
    ids = sorted(h)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            d = bin((h[a] ^ h[b]) & 0xFFFFFFFFFFFFFFFF).count("1")
            if d <= 6:
                expect[(a, b)] = d
    assert gset == expect
    assert any(d == 0 for d in expect.values())  # exact dups present
    assert any(0 < d <= 6 for d in expect.values())  # true near-dups present


def test_hamming_neardup_rejects_degenerate_threshold(spark):
    """max_hamming >= 64 voids the pigeonhole guarantee on 64-bit hashes
    (x and ~x qualify but share no chunk) — the operator must refuse."""
    from geomesa_spark.operators.dedup import hamming_neardup_pairs

    df = spark.createDataFrame(pd.DataFrame({"img_id": ["a"], "ph": [0]}))
    with pytest.raises(ValueError, match=r"\[0, 63\]"):
        hamming_neardup_pairs(df, "ph", "img_id", max_hamming=64)
    with pytest.raises(ValueError, match=r"\[0, 63\]"):
        hamming_neardup_pairs(df, "ph", "img_id", max_hamming=-1)


def test_simhash_chunk_bounds():
    for n in (2, 4, 9, 17, 64):
        b = simhash_chunk_bounds(n)
        assert len(b) == n
        assert sum(w for _, w in b) == 64
        assert b[0][0] == 0
        for (o1, w1), (o2, _) in zip(b, b[1:]):
            assert o1 + w1 == o2


def test_exact_dedup(spark, docs_pdf):
    out = exact_dedup(spark.createDataFrame(docs_pdf)).toPandas()
    # 5 exact dup pairs: keep_id is the min id, copies == 2
    assert (out["copies"] == 2).sum() == 5
    assert out["copies"].sum() == len(docs_pdf)


def test_winnow_fingerprints_properties(spark):
    """Winnowing invariants: determinism, the short-string whole-window
    branch, and the guarantee that a shared substring of length >=
    kgram + window - 1 yields at least one shared fingerprint."""
    from pyspark.sql import functions as F

    from geomesa_spark.functions.text import winnow_fingerprints_udf

    wf = winnow_fingerprints_udf(kgram=8, window=4)
    shared = "the quick brown fox jumps over the lazy dog near the river bank"
    rows = [
        (1, "PREFIX AAA " + shared + " SUFFIX ZZZ"),
        (2, "other start " + shared + " other end"),
        (3, "tiny"),  # shorter than kgram -> one whole-string fingerprint
        (4, ""),      # empty -> empty set
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"]).withColumn(
        "fps", wf(F.col("text"))
    )
    got = {r["doc_id"]: r["fps"] for r in df.collect()}
    got2 = {r["doc_id"]: r["fps"] for r in df.collect()}
    assert got == got2  # deterministic across runs
    assert len(got[3]) == 1 and got[4] == []
    # docs 1 and 2 share a 63-char substring >> kgram+window-1 = 11
    assert set(got[1]) & set(got[2])
    # sets are distinct-sorted
    assert got[1] == sorted(set(got[1]))


def test_winnow_overlap_pairs_and_max_df_guard(spark, docs_pdf):
    from geomesa_spark.operators.dedup import winnow_overlap_pairs

    df = spark.createDataFrame(docs_pdf)
    out = winnow_overlap_pairs(
        df, kgram=8, window=4, min_shared=2, max_df=30, min_overlap=0.5
    ).toPandas()
    pairs = set(zip(out["id_a"], out["id_b"]))
    # the 5 exact-dup pairs (i, 200+i) must surface with overlap 1.0
    for i in range(5):
        assert (i, 200 + i) in pairs
    exact = out[(out["id_a"] < 5) & (out["id_b"] == out["id_a"] + 200)]
    assert len(exact) == 5 and (exact["overlap"] == 1.0).all()
    # near-dup mutations (3 edits over ~230 chars) keep high overlap
    near = out[(out["id_a"] < 10) & (out["id_b"].between(100, 109))]
    assert len(near) >= 8 and (near["overlap"] >= 0.5).all()

    # max_df guard: with max_df=0 every fingerprint shared by 2+ docs is
    # boilerplate -> no pair can reach min_shared
    none = winnow_overlap_pairs(
        df, kgram=8, window=4, min_shared=1, max_df=0, min_overlap=0.0
    )
    assert none.count() == 0


def test_connected_components_chain_clique_singleton(spark):
    """Labels must be TRANSITIVE (chains, not just cliques), leave
    singletons self-labeled, and converge via the fixpoint check."""
    from geomesa_spark.operators.dedup import connected_components

    # chain 1-2-3-4 (diameter 3, forces multi-round contraction),
    # clique {10,11,12}, cross pair (20,21); nodes 30, 31 are singletons
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        ["id_a", "id_b"],
    )
    nodes = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 4, 10, 11, 12, 20, 21, 30, 31]], ["doc_id"]
    )
    out = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(pairs, nodes).collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10,
                   20: 20, 21: 20, 30: 30, 31: 31}


def test_connected_components_nonconvergence_guard(spark):
    from geomesa_spark.operators.dedup import connected_components

    # a 6-node path does not reach the star fixpoint in 2 rounds
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 6)], ["id_a", "id_b"]
    )
    nodes = spark.createDataFrame([(i,) for i in range(1, 7)], ["doc_id"])
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, nodes, max_iter=2)
    # the default round budget labels the whole path
    out = {r["doc_id"]: r["cluster_id"]
           for r in connected_components(pairs, nodes).collect()}
    assert out == {i: 1 for i in range(1, 7)}


def test_dup_span_stats_coverage_arithmetic(spark):
    """Interval-union coverage: overlapping occurrences merge (no double
    count), disjoint runs add, within-doc-only repeats do not count, docs
    shorter than the window report 0."""
    from geomesa_spark.operators.dedup import dup_span_stats

    shared = "ABCDEFGH"  # 8-char window below
    # doc 1 and 2 share `shared` embedded at different offsets; doc 3 is an
    # exact copy of doc 1 (ratio 1.0); doc 4 repeats a block twice but only
    # within itself (must NOT count); doc 5 is shorter than the window.
    d1 = "xx" + shared + "yyyyzzzzqqqq"
    d2 = "oooooo" + shared + "pppppp"
    d4 = "11112222" * 3
    docs = spark.createDataFrame(
        [(1, d1), (2, d2), (3, d1), (4, d4), (5, "tiny")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in dup_span_stats(docs, window=8).collect()}
    assert len(out) == 5
    # docs 1 and 3 are identical: every char covered
    assert out[1]["dup_chars"] == len(d1) and out[1]["dup_ratio"] == 1.0
    assert out[3]["dup_chars"] == len(d1) and out[3]["dup_ratio"] == 1.0
    # doc 2 shares with doc 1 only windows inside `shared` — a single
    # 8-char window exists fully inside it, covering exactly those 8 chars
    assert out[2]["dup_chars"] == 8
    assert out[2]["dup_ratio"] == round(8 / len(d2), 4)
    # doc 4's repeat is internal only; doc 5 is below the window length
    assert out[4]["dup_chars"] == 0 and out[4]["dup_ratio"] == 0.0
    assert out[5]["dup_chars"] == 0 and out[5]["dup_ratio"] == 0.0


def test_dup_span_stats_disjoint_islands(spark):
    """Two separated shared runs in one doc produce summed, non-bridged
    coverage."""
    from geomesa_spark.operators.dedup import dup_span_stats

    a = "AAAABBBB"
    b = "CCCCDDDD"
    host = a + "x" * 10 + b          # shared runs split by unique filler
    donor = a + "y" * 50 + b         # different filler: only a and b shared
    docs = spark.createDataFrame([(1, host), (2, donor)], ["doc_id", "text"])
    out = {r["doc_id"]: r for r in dup_span_stats(docs, window=8).collect()}
    assert out[1]["dup_chars"] == 16  # 8 + 8, filler not bridged
    assert out[2]["dup_chars"] == 16


def test_winnow_oracle_short_band_parity(spark):
    """Docs with fewer position hashes than the winnow window (length in
    [kgram, kgram+window-2]) shrink the min window in the engine; the SQL
    oracle's clipped window must replay that — regression for the band
    where the oracle previously emitted zero fingerprints."""
    import duckdb
    import pandas as pd

    from geomesa_spark.catalog import WINNOW_K, WINNOW_W, _oracle_text_winnow_pairs
    from geomesa_spark.operators.dedup import winnow_overlap_pairs

    assert WINNOW_K == 8 and WINNOW_W == 4  # band below assumes these
    pdf = pd.DataFrame(
        [
            (1, "abcdefghi"),   # 9 chars: nh=2 < window
            (2, "abcdefghi"),
            (3, "qrstuvwxyz"),  # 10 chars: nh=3 < window
            (4, "qrstuvwxyz"),
            (5, "a completely different long document body " * 3),
        ],
        columns=["doc_id", "text"],
    )
    eng = winnow_overlap_pairs(
        spark.createDataFrame(pdf),
        kgram=WINNOW_K, window=WINNOW_W,
        min_shared=1, max_df=50, min_overlap=0.0,
    )
    got = sorted(
        tuple(r) for r in eng.select("id_a", "id_b", "n_shared", "overlap").collect()
    )
    con = duckdb.connect()
    con.register("documents", pdf)
    want = sorted(
        tuple(r)
        for r in con.execute(
            _oracle_text_winnow_pairs(min_shared=1, max_df=50, min_overlap=0.0)
        ).fetchall()
    )
    assert got == want
    assert (1, 2, 1, 1.0) in got and (3, 4, 1, 1.0) in got


def test_dup_span_stats_fuzz_vs_brute_force(spark):
    """Seeded fuzz: random low-alphabet corpora (forcing heavy span
    collisions, short docs, empty docs) against a brute-force set-based
    reference for the covered-character count."""
    import numpy as np

    from geomesa_spark.operators.dedup import dup_span_stats

    W = 4
    rng = np.random.RandomState(7)
    alphabet = np.array(list("ab "))

    def brute(docs):
        span_sets = {
            i: {t[p : p + W] for p in range(len(t) - W + 1)} for i, t in docs
        }
        out = {}
        for i, t in docs:
            covered = set()
            for p in range(max(len(t) - W + 1, 0)):
                sp = t[p : p + W]
                if any(j != i and sp in s for j, s in span_sets.items()):
                    covered.update(range(p, p + W))
            out[i] = len(covered)
        return out

    for trial in range(6):
        n = int(rng.randint(3, 9))
        docs = []
        for i in range(n):
            ln = int(rng.randint(0, 26))
            docs.append((i, "".join(rng.choice(alphabet, ln))))
        df = spark.createDataFrame(docs, ["doc_id", "text"])
        got = {
            r["doc_id"]: r["dup_chars"]
            for r in dup_span_stats(df, window=W).collect()
        }
        want = brute(docs)
        assert got == want, f"trial {trial}: {docs}"


def test_star_contraction_matches_brute_force(spark):
    """Large-star/small-star must produce the identical min-id labeling as
    a python union-find, on cliques, chains, and random graphs — including
    shapes with shared structure across components."""
    from geomesa_spark.operators.dedup import connected_components

    rng = np.random.default_rng(3)

    def brute(pairs, node_ids):
        parent = {i: i for i in node_ids}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        comp = {}
        for i in node_ids:
            comp.setdefault(find(i), []).append(i)
        return {i: min(members) for members in comp.values() for i in members}

    cases = [
        # clique + chain + cross pair + singletons
        ([(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
         [1, 2, 3, 4, 10, 11, 12, 20, 21, 30, 31]),
        # two random graphs
        *[
            (
                [tuple(sorted(p)) for p in
                 rng.integers(0, 40, size=(45, 2)).tolist() if p[0] != p[1]],
                list(range(40)),
            )
            for _ in range(2)
        ],
    ]
    for pairs, node_ids in cases:
        pdf = spark.createDataFrame(pairs, ["id_a", "id_b"])
        ndf = spark.createDataFrame([(i,) for i in node_ids], ["doc_id"])
        want = brute(pairs, node_ids)
        got = {r["doc_id"]: r["cluster_id"]
               for r in connected_components(pdf, ndf).collect()}
        assert got == want


def test_star_contraction_beats_diameter_bound(spark):
    """A 64-node path has diameter 63 — star contraction must still finish
    in 12 rounds (O(log^2 n)), far below the diameter."""
    from geomesa_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 64)], ["id_a", "id_b"]
    )
    nodes = spark.createDataFrame([(i,) for i in range(1, 65)], ["doc_id"])
    out = connected_components(pairs, nodes, max_iter=12).collect()
    assert {r["cluster_id"] for r in out} == {1} and len(out) == 64


def test_star_contraction_ignores_non_node_pair_ids(spark):
    """Pair ids absent from ``nodes`` never relay connectivity and never
    appear as cluster ids."""
    from geomesa_spark.operators.dedup import connected_components

    # chain 10—5—20 where 5 is NOT a node: 10 and 20 must stay separate
    pairs = spark.createDataFrame([(10, 5), (5, 20), (30, 31)], ["id_a", "id_b"])
    nodes = spark.createDataFrame([(i,) for i in (10, 20, 30, 31)], ["doc_id"])
    got = {r["doc_id"]: r["cluster_id"]
           for r in connected_components(pairs, nodes).collect()}
    assert got == {10: 10, 20: 20, 30: 30, 31: 30}


def test_dup_span_stats_hashed_parity_with_exact(spark):
    """sample_mod=1 must reproduce the literal-span exact operator EXACTLY
    (hash grouping changes the key representation, not the grouping), on a
    corpus with heavy collisions-by-construction (low alphabet) plus real
    documents from the sf0.001 fixture."""
    import numpy as np

    from geomesa_spark.operators.dedup import dup_span_stats, dup_span_stats_hashed

    rng = np.random.RandomState(11)
    alphabet = np.array(list("abc "))
    docs = [
        (i, "".join(rng.choice(alphabet, int(rng.randint(0, 40)))))
        for i in range(12)
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    for w in (4, 8):
        exact = {
            (r["doc_id"], r["dup_chars"], r["dup_ratio"])
            for r in dup_span_stats(df, window=w).collect()
        }
        hashed = {
            (r["doc_id"], r["dup_chars"], r["dup_ratio"])
            for r in dup_span_stats_hashed(df, window=w, sample_mod=1).collect()
        }
        assert hashed == exact


def test_dup_span_stats_hashed_sampled_conservative(spark):
    """Sampled coverage is content-defined: it never exceeds the exact
    coverage, detects long duplicated regions, and unique docs stay at 0."""
    from geomesa_spark.operators.dedup import dup_span_stats, dup_span_stats_hashed

    import numpy as np

    # non-periodic shared region: every position is a distinct span, so the
    # content-defined rule samples ~1/8 of ~270 positions (expected max gap
    # well under the 32-char window). A periodic region (e.g. a sentence
    # repeated 6x) has only ~period distinct spans and is legitimately
    # sampled sparser — that regime is covered by the conservative bound.
    rng = np.random.RandomState(3)
    shared = "".join(rng.choice(list("abcdefghijklmnopqrstuvwxyz "), 300))
    docs = [
        (0, shared + "unique tail zero"),
        (1, "prefix one " + shared),
        (2, "completely different text with no duplicated spans in it at all"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    exact = {r["doc_id"]: r["dup_chars"] for r in dup_span_stats(df, window=32).collect()}
    samp = {
        r["doc_id"]: r["dup_chars"]
        for r in dup_span_stats_hashed(df, window=32, sample_mod=8).collect()
    }
    assert samp[2] == 0
    for d in (0, 1):
        assert 0 < samp[d] <= exact[d]
        # a ~264-char duplicated region sampled every ~8 chars: most of it
        assert samp[d] >= int(0.7 * exact[d])


def test_dup_span_stats_hashed_plan_is_aggregate_not_window(spark):
    """Cross-doc span detection must be partial/final HashAggregate on the
    span-hash keys, never Window.partitionBy(h1,h2): a window materializes
    each key's rows on one task, and at corpus scale the hot keys are
    boilerplate spans repeated across millions of documents (VERDICT r4
    'What's wrong' #1). The survivor join-back leaves the hot side
    AQE-skew-splittable, which a window never is."""
    from geomesa_spark.operators.dedup import dup_span_stats_hashed

    docs = [(i, ("boilerplate footer line " * 4) + f"unique {i} " * 10)
            for i in range(64)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = dup_span_stats_hashed(df, window=16, sample_mod=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # _coverage_from_positions still windows by doc_id (bounded per doc);
    # the UNBOUNDED key — the span hash — must never be a window partition
    assert "windowspecdefinition(h1#" not in plan
    assert "windowspecdefinition(h2#" not in plan
    assert "HashAggregate" in plan
    # correctness on the hot fixture: every doc shares the boilerplate head
    rows = {r["doc_id"]: r["dup_chars"] for r in out.collect()}
    assert len(rows) == 64 and all(v > 0 for v in rows.values())


def test_dedup_no_net_persisted_block_growth(spark, docs_pdf):
    """Repeated minhash / winnow calls must not accumulate persisted
    blocks: their shared frames (minhash bucket rows; winnow fingerprint
    + df-guarded frames) are part of the returned lineage, so a bare
    .persist() could never be unpersisted and leaked blocks for the
    session lifetime (ADVICE r4 defect class, fixed in knn/bm25 first).
    localCheckpoint(eager=True) keeps the single-materialization property
    while the ContextCleaner frees superseded blocks once the result
    frames are garbage collected."""
    import gc
    import time

    from geomesa_spark.operators.dedup import (
        minhash_lsh_pairs,
        winnow_overlap_pairs,
    )

    def n_persistent():
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    df = spark.createDataFrame(docs_pdf)

    def run():
        minhash_lsh_pairs(
            df, num_hashes=64, bands=16, jaccard_threshold=0.5
        ).count()
        winnow_overlap_pairs(df, kgram=5, window=4, min_shared=2).count()

    run()  # warm: codegen + the steady-state set of checkpoint blocks
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    time.sleep(2)
    baseline = n_persistent()
    for _ in range(3):
        run()
    # the LAST call's checkpointed frames legitimately linger until
    # superseded; the regression target is LINEAR growth per call
    deadline = time.time() + 30
    while time.time() < deadline:
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        if n_persistent() <= baseline:
            break
        time.sleep(1)
    grown = n_persistent() - baseline
    assert grown <= 3, (
        f"persisted RDDs grew by {grown} over 3 call rounds "
        f"(baseline={baseline}, now={n_persistent()})"
    )


def test_dup_span_hashed_max_df_boilerplate_guard(spark):
    """Opt-in max_df: spans in more than max_df distinct docs are treated
    as corpus boilerplate and excluded from coverage; rarer duplicated
    spans still count. Default (None) keeps exact semantics."""
    import numpy as np

    from geomesa_spark.operators.dedup import dup_span_stats_hashed

    rng = np.random.RandomState(3)
    alpha = np.array(list("abcdefghijklmnopqrstuvwxyz "))

    def filler(n):
        return "".join(rng.choice(alpha, n))

    boiler = "this exact boilerplate license header line repeats everywhere!!"
    rare = "a rare duplicated paragraph shared by just two documents..."
    docs = []
    for i in range(40):
        # per-doc unique FIRST body character: without it, boundary spans
        # straddling boiler->body collide whenever two bodies share a
        # leading character/digit run (a numeric prefix shares "00x"
        # across ten docs) and legitimately carry small df — the guard
        # correctly keeps those
        body = chr(0x2500 + i) * 4 + filler(150)
        text = boiler + body  # every doc carries the boilerplate
        if i < 2:
            text = text + rare  # only docs 0 and 1 share the rare span
        docs.append((i, text))
    df = spark.createDataFrame(docs, ["doc_id", "text"])

    base = {
        r["doc_id"]: r["dup_chars"]
        for r in dup_span_stats_hashed(df, sample_mod=1).collect()
    }
    assert all(base[i] > 0 for i in range(40))  # boilerplate counts by default

    guarded = {
        r["doc_id"]: r["dup_chars"]
        for r in dup_span_stats_hashed(df, sample_mod=1, max_df=10).collect()
    }
    # docs 2..39: ONLY the (now-excluded) boilerplate was duplicated
    assert all(guarded[i] == 0 for i in range(2, 40))
    # docs 0,1: the rare span (df=2 <= 10) still surfaces
    assert guarded[0] > 0 and guarded[1] > 0
    # and strictly less than the unguarded coverage (boilerplate removed)
    assert guarded[0] < base[0] and guarded[1] < base[1]

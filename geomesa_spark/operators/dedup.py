"""Deduplication operators for large-scale training-data pipelines.

No reference analog (GeoMesa dedups only join duplicates); these are the
standard public algorithms (Broder 1997 MinHash; Charikar 2002 SimHash;
banded LSH from Mining of Massive Datasets ch.3), expressed Spark-first:

- exact_dedup: hash-groupBy, fully native.
- minhash_lsh_pairs: shingle -> minhash signature (one Arrow-batched pandas
  UDF) -> band buckets (native explode) -> bucket equi-join -> exact Jaccard
  verify on candidates only. The join is on short band-hash keys, never on
  document text; the text is re-joined by id afterwards, so 100 TB of
  payloads never crosses the candidate shuffle.
- simhash_pairs: 64-bit SimHash + banding into 4x16-bit chunks (hamming<=3
  guarantee within <=4 chunks by pigeonhole) -> chunk equi-join -> exact
  hamming verify.

Checkpoint discipline (applies to every ``localCheckpoint`` in this
package): shared frames are eager-localCheckpoint-ed, not persisted, so
(a) they materialize once even when the returned lineage references them
from several sides, and (b) the ContextCleaner frees the blocks once the
result frames are unreferenced — a bare .persist() inside a returned
lineage can never be unpersisted and leaks for the session lifetime
(regression-tested). The DELIBERATE trade-offs: construction eagerly runs
the checkpointed stages (these operators are compute-then-consume, not
plan-inspection surfaces), and checkpoint blocks have no lineage to
recompute from — on a real cluster an executor loss after the checkpoint
fails the downstream action instead of recovering. Deployments that need
executor-loss tolerance substitute a reliable checkpoint dir
(sc.setCheckpointDir + .checkpoint()) — same plan shape, storage-backed.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from .util import narrow_is_small, spread_small

_HASH_PRIME = (1 << 61) - 1


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the minimum-id row per distinct text. -> (keep_id, copies)."""
    return (
        df.groupBy(F.md5(F.col(text_col).cast("string")).alias("__h"))
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("copies"))
        .drop("__h")
    )


def _normalize(text: str) -> str:
    """Whitespace-collapse + lowercase; identical to the portable SQL form
    ``trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))``."""
    return " ".join(text.lower().split())


def _char_shingles(text: str, n: int) -> list[str]:
    """DISTINCT character n-grams of the normalized text (whole string when
    shorter than n) — the exact shingle set a SQL oracle reproduces with
    ``substr(tt, i, n)`` over a generated index range."""
    t = _normalize(text)
    if len(t) < n:
        return [t]
    return sorted({t[i : i + n] for i in range(len(t) - n + 1)})


def _poly31_mod32(shingles: list[str]) -> np.ndarray:
    """32-bit polynomial hash per shingle: sum(codepoint * 31^(n-1-k)) mod
    2^32 — small-integer math both numpy and SQL evaluate identically."""
    out = np.zeros(len(shingles), dtype=np.uint64)
    for i, s in enumerate(shingles):
        acc = 0
        for c in s:
            acc = acc * 31 + ord(c)
        out[i] = acc & 0xFFFFFFFF
    return out


def _shingles(text: str, n: int) -> np.ndarray:
    """Hashed shingle set (uint64 of 32-bit values) for signatures —
    VECTORIZED equivalent of ``_poly31_mod32(_char_shingles(text, n))``:
    codepoint windows via stride tricks, distinct-by-STRING via row-unique
    (so poly31 collisions between different shingles still contribute one
    hash each, exactly like the scalar path and the SQL oracles), then one
    matrix multiply by the 31-powers. ~30x faster than the per-char Python
    fold that made the banded minhash bench entry take 24 s at sf0.1."""
    t = _normalize(text)
    cp = np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32)
    if len(cp) == 0:
        return np.zeros(1, dtype=np.uint64)  # poly31('') == 0
    if len(cp) < n:
        win = cp[None, :]
    else:
        win = np.lib.stride_tricks.sliding_window_view(cp, n)
    uniq = np.unique(win, axis=0).astype(np.uint64)
    width = uniq.shape[1]
    powers = np.uint64(31) ** np.arange(width - 1, -1, -1, dtype=np.uint64)
    # max term ~ 0x10FFFF * 31^4 < 2^41, sum of <=8 < 2^44: no uint64 wrap
    return (uniq * powers).sum(axis=1) & np.uint64(0xFFFFFFFF)


def _window_hashes(text: str, n: int) -> np.ndarray:
    """Like :func:`_shingles` but WITHOUT the distinct step: the minhash
    signature is a min over hash values, which duplicates cannot change, so
    the row-unique sort (the dominant cost of _shingles — ~2.1 s of a 2.9 s
    pass over 5000 sf0.1 docs) is pure waste on the minhash path. Simhash
    keeps _shingles: its per-bit VOTES count each distinct shingle string
    once, so dedup there is semantic, not cosmetic."""
    t = _normalize(text)
    cp = np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32)
    if len(cp) == 0:
        return np.zeros(1, dtype=np.uint64)
    if len(cp) < n:
        win = cp[None, :].astype(np.uint64)
    else:
        win = np.lib.stride_tricks.sliding_window_view(cp, n).astype(np.uint64)
    powers = np.uint64(31) ** np.arange(win.shape[1] - 1, -1, -1, dtype=np.uint64)
    return (win * powers).sum(axis=1) & np.uint64(0xFFFFFFFF)


def minhash_signature_udf(num_hashes: int = 64, shingle_n: int = 5):
    """Arrow-batched UDF: text -> array<long> minhash signature.

    The (a*x + b) mod p sweep runs over ALL the batch's shingles at once
    (chunked to ~64k shingles so the (num_hashes, chunk) temporary stays
    ~32 MB) with per-document minima via ``np.minimum.reduceat`` — one big
    numpy op instead of one small matrix per document (measured 6.4 s ->
    ~0.6 s per 5000-doc pass at sf0.1). The arithmetic wraps in uint64
    exactly like the per-doc form, so signatures — and the SQL oracle that
    replays them — are unchanged."""
    rng = np.random.default_rng(42)
    a = rng.integers(1, _HASH_PRIME, num_hashes, dtype=np.int64).astype(np.uint64)
    b = rng.integers(0, _HASH_PRIME, num_hashes, dtype=np.int64).astype(np.uint64)
    p = np.uint64(_HASH_PRIME)
    chunk_target = 65_536

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def sig(texts: pd.Series) -> pd.Series:
        shs = [_window_hashes(t or "", shingle_n) for t in texts]
        out: list = []
        i = 0
        while i < len(shs):
            j, tot = i, 0
            while j < len(shs) and (tot == 0 or tot + len(shs[j]) <= chunk_target):
                tot += len(shs[j])
                j += 1
            flat = np.concatenate(shs[i:j])
            lens = np.fromiter((len(s) for s in shs[i:j]), dtype=np.int64)
            vals = (flat[None, :] * a[:, None] + b[:, None]) % p
            offsets = np.zeros(len(lens), dtype=np.int64)
            np.cumsum(lens[:-1], out=offsets[1:])
            mins = np.minimum.reduceat(vals, offsets, axis=1)
            out.extend(mins.T.astype(np.int64).tolist())
            i = j
        return pd.Series(out)

    return sig


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 5,
    jaccard_threshold: float = 0.8,
) -> DataFrame:
    """-> (id_a, id_b, jaccard) candidate near-duplicate pairs (id_a < id_b)
    whose exact shingle Jaccard >= threshold.

    Plan: signature (1 UDF pass) -> explode to (band, band_hash) keys (native)
    -> self-join on the short keys -> dedup pairs -> exact verify. Only ids +
    band hashes shuffle; text is fetched back by id for the verify stage.

    Recall contract: a pair with Jaccard J survives banding with probability
    1 - (1 - J^r)^b (r = num_hashes/bands rows per band). With bands ==
    num_hashes (r = 1) the miss probability at the threshold is
    (1 - J)^num_hashes — e.g. <= 0.5^64 at J >= 0.5 — which is how the
    oracle-checked catalog entry certifies recall.

    Cost contract: candidate volume is sum(bucket_size^2) over (band, hash)
    buckets. r = 1 buckets on SINGLE minhash values, which degenerates on
    low-entropy corpora (a shingle that is globally minimal for most
    documents puts them all in one bucket) — the certified mode is a
    VERIFICATION-scale configuration. At production scale use the banded
    default (r = num_hashes/bands >= 2): r-hash tuple buckets shrink
    multiplicatively while 1 - (1 - J^r)^b keeps recall high (e.g. r=4,
    b=16 at J=0.9 misses 3e-6).
    """
    rows_per_band = num_hashes // bands
    sig = minhash_signature_udf(num_hashes, shingle_n)
    small_input = narrow_is_small(df.select(F.col(id_col), F.col(text_col)))
    with_sig = spread_small(
        df.select(F.col(id_col), F.col(text_col)), known_small=small_input
    ).withColumn("__sig", sig(F.col(text_col)))

    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(
                F.concat_ws(
                    ",", *[F.col("__sig")[b * rows_per_band + i] for i in range(rows_per_band)]
                )
            ).alias("bh"),
        )
        for b in range(bands)
    ]
    # Materialize the bucket rows (id + band + 64-bit band hash, ~24 B/row)
    # across the self-join: without it BOTH join sides re-evaluate the
    # signature UDF — the dominant stage — doubling the text decode+hash
    # work (measured 15.7 s -> 10.2 s cold at sf0.1). This is the standard
    # signature materialization of production dedup pipelines: bucket rows
    # are `bands` short rows per doc (same order of bytes as the text
    # itself). localCheckpoint (eager) instead of persist: the frame is
    # part of the returned lineage so it could never be unpersisted here —
    # a bare persist leaks its blocks for the session lifetime, while
    # checkpointed blocks are freed by the ContextCleaner once the result
    # frames are garbage collected (knn.py:166 / retrieval.py hygiene).
    buckets = with_sig.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("bk")
    ).select(
        id_col, F.col("bk.band").alias("band"), F.col("bk.bh").alias("bh")
    ).localCheckpoint(eager=True)

    left = buckets.alias("l")
    right = buckets.alias("r")
    cand = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bh") == F.col("r.bh"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b"))
        .distinct()
    )
    # AQE coalesces the distinct()'s exchange to ~1 partition (the id-pair
    # frame is a few MB) and the broadcast text joins preserve that — which
    # serialized the ENTIRE Python verify on one core (measured: ~8 s of a
    # 10 s warm sf0.1 run inside one task). Re-spreading costs one tiny
    # id-pair shuffle BEFORE the texts are attached; gated on the INPUT's
    # probe (cand is shuffle-rooted — probing it directly would run the
    # whole candidate pipeline twice), so at production this is a no-op.
    cand = spread_small(cand, known_small=small_input)

    texts = df.select(F.col(id_col), F.col(text_col))
    joined = (
        cand.join(texts.withColumnRenamed(id_col, "id_a").withColumnRenamed(text_col, "__ta"), "id_a")
        .join(texts.withColumnRenamed(id_col, "id_b").withColumnRenamed(text_col, "__tb"), "id_b")
    )
    # exact verify + threshold in ONE mapInPandas stage: a filter on a
    # pandas-UDF column gets collapsed by the optimizer into Filter AND
    # Project operators that EACH extract the UDF — the round-3 plan audit
    # showed the exact-Jaccard verify evaluated twice per candidate. Doing
    # the filter inside the batch also keeps below-threshold pairs (the vast
    # majority) out of the Arrow return path entirely.
    id_type = dict(joined.dtypes)["id_a"]
    thr = float(jaccard_threshold)

    def verify(batches):
        for pdf in batches:
            cache: dict[str, frozenset] = {}
            # near-dup-dense corpora repeat the same (text_a, text_b)
            # contents across many candidate id pairs — memoize the pair
            # result too, and short-circuit identical texts (Jaccard of a
            # set with itself is 1.0 without building the sets)
            pair_cache: dict[tuple[str, str], float] = {}

            def sh(t: str) -> frozenset:
                s = cache.get(t)
                if s is None:
                    s = frozenset(_char_shingles(t, shingle_n))
                    cache[t] = s
                return s

            jac = np.empty(len(pdf))
            for i, (x, y) in enumerate(zip(pdf["__ta"], pdf["__tb"])):
                x, y = x or "", y or ""
                if x == y:
                    jac[i] = 1.0
                    continue
                v = pair_cache.get((x, y))
                if v is None:
                    s1, s2 = sh(x), sh(y)
                    inter = len(s1 & s2)
                    u = len(s1) + len(s2) - inter
                    v = inter / u if u else 1.0
                    pair_cache[(x, y)] = v
                jac[i] = v
            # threshold on the UNROUNDED value (the SQL oracles filter the
            # raw ratio); round only the emitted column
            keep = jac >= thr
            yield pdf.loc[keep, ["id_a", "id_b"]].assign(
                jaccard=np.round(jac[keep], 6)
            )

    return joined.mapInPandas(
        verify, schema=f"id_a {id_type}, id_b {id_type}, jaccard double"
    )


def winnow_overlap_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    kgram: int = 8,
    window: int = 4,
    min_shared: int = 2,
    max_df: int = 50,
    min_overlap: float = 0.0,
) -> DataFrame:
    """-> (id_a, id_b, n_shared, overlap) document-overlap pairs via
    winnowing fingerprint sets (MOSS; reference analog: the Stat DSL's
    frequency sketches have no overlap JOIN — this is the training-data
    addendum's document-fingerprinting operator taken to pair granularity).

    Plan: fingerprint sets in ONE Arrow pass over text (text never crosses
    a shuffle after it) -> native explode to (id, 64-bit fp) rows ->
    doc-frequency guard: fingerprints appearing in more than ``max_df``
    documents are dropped BEFORE the self-join (shared boilerplate — headers,
    licenses, templates — is exactly the hot key that would otherwise
    explode the candidate volume as sum(df^2); the guard caps any single
    fingerprint's contribution at max_df^2) -> equi-self-join on the
    fingerprint value -> per-pair shared count -> containment-style overlap
    = n_shared / min(|A|, |B|) over the RETAINED fingerprint counts.

    Everything after the one Arrow pass is native and map-side combinable;
    only (id, fp) longs shuffle. The exploded (id, fp) frame is persisted
    across its uses (doc-frequency pass, self-join both sides, per-doc
    sizes) so the fingerprint UDF evaluates once — same materialization
    contract as ``minhash_lsh_pairs``'s buckets.
    """
    from ..functions.text import winnow_fingerprints_udf

    wf = winnow_fingerprints_udf(kgram, window)
    # localCheckpoint (eager) instead of persist for both shared frames:
    # they are part of the returned lineage (never unpersistable here), and
    # a bare persist leaks blocks for the session lifetime — checkpointed
    # blocks are freed by the ContextCleaner when the result frames are
    # garbage collected (knn.py:166 / retrieval.py hygiene).
    fps = (
        spread_small(df.select(F.col(id_col), F.col(text_col)))
        .select(F.col(id_col), F.explode(wf(F.col(text_col))).alias("fp"))
        .localCheckpoint(eager=True)
    )

    hot = fps.groupBy("fp").agg(F.count("*").alias("__df")).filter(
        F.col("__df") > max_df
    )
    # the guarded frame feeds THREE consumers (both self-join sides + the
    # per-doc sizes aggregate) — materialize it too, or each consumer
    # re-runs the doc-frequency aggregate and the anti-join over the full
    # fp frame
    exf = fps.join(
        F.broadcast(hot.select("fp")), "fp", "left_anti"
    ).localCheckpoint(eager=True)

    sizes = exf.groupBy(id_col).agg(F.count("*").alias("__nfp"))
    l, r = exf.alias("l"), exf.alias("r")
    pairs = (
        l.join(
            r,
            (F.col("l.fp") == F.col("r.fp"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .groupBy(
            F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b")
        )
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    return (
        pairs.join(
            sizes.select(F.col(id_col).alias("id_a"), F.col("__nfp").alias("__na")),
            "id_a",
        )
        .join(
            sizes.select(F.col(id_col).alias("id_b"), F.col("__nfp").alias("__nb")),
            "id_b",
        )
        .withColumn(
            "__ov", F.col("n_shared") / F.least(F.col("__na"), F.col("__nb"))
        )
        # threshold on the UNROUNDED ratio (the SQL oracle filters the raw
        # value too); round only the emitted column
        .filter(F.col("__ov") >= float(min_overlap))
        .select(
            "id_a", "id_b", "n_shared", F.round(F.col("__ov"), 4).alias("overlap")
        )
    )


def dup_span_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 32,
) -> DataFrame:
    """Exact-substring duplication statistics per document (the ExactSubstr
    dedup measure of Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better"): for every document, how many characters are
    covered by some ``window``-char span that also appears verbatim in at
    least one OTHER document. -> (doc_id, dup_chars, dup_ratio), one row per
    input document (0 / 0.0 for documents with no cross-document span, or
    shorter than the window).

    Plan — fully native, zero Python stages:

    1. every window position via ``explode(sequence(...))`` + ``substring``
       (whole-stage codegen);
    2. cross-document spans in ONE window pass over the span key:
       ``min(doc_id) over (partition by span) != max(doc_id) over (...)``
       is exactly "appears in >= 2 distinct documents" — no distinct, no
       groupBy+self-join, and the span frame is computed once (a
       join-based formulation recomputes the explode for each side);
    3. per-doc interval union of [i, i+window) via gaps-and-islands window
       functions (running max of span end; a new island starts where the
       current position clears it), then covered chars per island and per
       doc.

    Scale notes: step 1 is data-parallel but emits length(text) rows per
    doc keyed by LITERAL 32-char spans — correct and fine at small SF, the
    wrong exchange at 10^12 docs. :func:`dup_span_stats_hashed` is the
    shipped 100-TB form: content-defined position sampling (keep i where
    the span's rolling hash is 0 mod s — shift-invariant, expected 1/s
    density) plus span grouping by two independent 64-bit hashes, so only
    (id, pos, h1, h2) longs ever shuffle. With ``sample_mod=1`` it equals
    this operator exactly (parity-tested); this exact form is kept as the
    small-scale / ground-truth path.
    """
    w = int(window)
    from pyspark.sql import Window

    spans = (
        spread_small(df.filter(F.length(text_col) >= w).select(id_col, text_col))
        .select(
            F.col(id_col),
            F.explode(F.expr(f"sequence(1, length({text_col}) - {w} + 1)")).alias("i"),
            F.col(text_col),
        )
        .select(id_col, "i", F.expr(f"substring({text_col}, i, {w})").alias("sp"))
    )
    by_sp = Window.partitionBy("sp")
    occ = (
        spans.withColumn("__mn", F.min(id_col).over(by_sp))
        .withColumn("__mx", F.max(id_col).over(by_sp))
        .filter(F.col("__mn") != F.col("__mx"))
        .select(id_col, "i")
    )

    return _coverage_from_positions(occ, df, text_col, id_col, w)


def _coverage_from_positions(
    occ: DataFrame, df: DataFrame, text_col: str, id_col: str, w: int
) -> DataFrame:
    """(id, i) cross-document span positions -> (id, dup_chars, dup_ratio):
    per-doc interval union of [i, i+w) via gaps-and-islands window functions
    (running max of span end; a new island starts where the current position
    clears it), covered chars per island, summed per doc, left-joined back so
    every input document gets a row (0 / 0.0 when nothing matched)."""
    from pyspark.sql import Window

    by_doc = Window.partitionBy(id_col).orderBy("i")
    prev_end = F.max(F.col("i") + F.lit(w)).over(
        by_doc.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = (
        occ.withColumn(
            "__new",
            F.when(prev_end.isNull() | (F.col("i") >= prev_end), 1).otherwise(0),
        )
        .withColumn(
            "__g", F.sum("__new").over(by_doc.rowsBetween(Window.unboundedPreceding, 0))
        )
        .groupBy(id_col, "__g")
        .agg((F.max("i") + F.lit(w) - F.min("i")).alias("__cov"))
        .groupBy(id_col)
        .agg(F.sum("__cov").alias("dup_chars"))
    )
    return (
        df.select(F.col(id_col), F.length(text_col).alias("__len"))
        .join(islands, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("dup_chars"), F.lit(0)).cast("long").alias("dup_chars"),
            F.round(
                F.coalesce(F.col("dup_chars"), F.lit(0)).cast("double")
                # greatest(len, 1): empty docs have dup_chars 0, and ANSI
                # mode turns 0/0 into an error rather than NaN
                / F.greatest(F.col("__len"), F.lit(1)).cast("double"),
                4,
            ).alias("dup_ratio"),
        )
    )


SPANHASH_BASE1 = 257  # same base as the fingerprint/winnowing family
SPANHASH_BASE2 = 263  # independent second hash: kills h1-collision false dups


def span_hash_weights(window: int, base: int) -> list[int]:
    """base^(window-1-k) mod 2^64 for k in 0..window-1 — exported so the SQL
    oracle inlines the identical constants (HUGEINT replay)."""
    return [pow(base, window - 1 - k, 1 << 64) for k in range(window)]


def dup_span_stats_hashed(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 32,
    sample_mod: int = 8,
    max_df: int | None = None,
) -> DataFrame:
    """The 100-TB-shaped form of :func:`dup_span_stats` (Lee et al. 2022 §4,
    "Deduplicating Training Data Makes Language Models Better"): the
    documented scale mitigation of the literal-span operator, now shipped.

    Differences from the exact form, both aimed at the one exchange that
    dominates it at scale (literal 32-char span keys x length(text) rows):

    - **span grouping by two independent 64->63-bit polynomial hashes**
      (codepoints x base^k mod 2^64, bases 257 / 263 — same recipe the
      fingerprint/winnowing family replays in SQL) instead of the literal
      string: the shuffle carries only (id, pos, h1, h2) longs, ~32 bytes a
      row instead of ~32 chars + key overhead. A cross-doc match requires
      BOTH hashes to agree, so a single-hash collision cannot fabricate a
      duplicate span (joint collision ~2^-126 per span pair).
    - **content-defined position sampling**: only positions whose h1 is
      0 mod ``sample_mod`` enter the shuffle at all. The rule is a function
      of span CONTENT, so it is shift-invariant — the same span text is
      sampled identically wherever it occurs in whatever document — and
      duplicated regions longer than ~window + sample_mod chars still
      surface (expected sampled-position spacing is sample_mod chars);
      coverage extents are conservative by up to ~sample_mod-1 chars at
      island edges. Expected exchange volume drops by another
      1/sample_mod.

    ``sample_mod=1`` disables sampling and reproduces :func:`dup_span_stats`
    EXACTLY (hash grouping is collision-free in practice) — the parity test
    pins that. The hashing runs in ONE Arrow pass per input split (numpy
    sliding windows over utf-32 codepoints, sampled before emission), so
    length(text) rows exist only inside the batch, never in the shuffle.

    ``max_df`` (opt-in; the winnowing operator's boilerplate guard applied
    here): spans appearing in MORE than ``max_df`` distinct documents are
    treated as corpus boilerplate (license headers, templates) and excluded
    from coverage — both a semantic mode (Lee et al. exclude ubiquitous
    text from dedup decisions for exactly this reason) and a volume guard:
    the join-back otherwise re-spreads every occurrence of a hot span
    (AQE skew-split keeps that balanced, but the rows still move). Default
    ``None`` keeps exact semantics — required by the oracle-pinned parity.

    -> (doc_id, dup_chars, dup_ratio), one row per input document.
    """
    w = int(window)
    s = int(sample_mod)

    w1 = np.array(span_hash_weights(w, SPANHASH_BASE1), dtype=np.uint64)
    w2 = np.array(span_hash_weights(w, SPANHASH_BASE2), dtype=np.uint64)
    mask63 = np.uint64(0x7FFFFFFFFFFFFFFF)
    id_field = df.schema[id_col]
    out_schema = T.StructType(
        [
            T.StructField(id_col, id_field.dataType),
            T.StructField("i", T.LongType()),
            T.StructField("h1", T.LongType()),
            T.StructField("h2", T.LongType()),
        ]
    )

    def emit(batches):
        for pdf in batches:
            ids, pos, hs1, hs2 = [], [], [], []
            for doc, t in zip(pdf[id_col], pdf[text_col]):
                cp = np.frombuffer(
                    (t or "").encode("utf-32-le"), dtype=np.uint32
                ).astype(np.uint64)
                if len(cp) < w:
                    continue
                win = np.lib.stride_tricks.sliding_window_view(cp, w)
                h1 = (win * w1).sum(axis=1) & mask63
                keep = np.nonzero(h1 % np.uint64(s) == 0)[0]
                if len(keep) == 0:
                    continue
                h2 = (win[keep] * w2).sum(axis=1) & mask63
                ids.append(np.full(len(keep), doc))
                pos.append(keep + 1)  # 1-based, matching substring semantics
                hs1.append(h1[keep])
                hs2.append(h2)
            if not ids:
                yield pd.DataFrame(
                    {id_col: [], "i": [], "h1": [], "h2": []}
                ).astype({"i": "int64", "h1": "int64", "h2": "int64"})
                continue
            yield pd.DataFrame(
                {
                    id_col: np.concatenate(ids),
                    "i": np.concatenate(pos).astype(np.int64),
                    "h1": np.concatenate(hs1).astype(np.int64),
                    "h2": np.concatenate(hs2).astype(np.int64),
                }
            )

    # localCheckpoint: the span frame feeds BOTH the survivor aggregate and
    # the join-back — without it the Arrow hashing pass runs once per side.
    spans = (
        spread_small(df.filter(F.length(text_col) >= w).select(id_col, text_col))
        .mapInPandas(emit, out_schema)
        .localCheckpoint(eager=True)
    )
    # Cross-doc span detection as partial/final HashAggregate, NOT a window:
    # a Window.partitionBy(h1,h2) materializes each key's rows on one task,
    # and at corpus scale the hot keys are exactly boilerplate spans repeated
    # across millions of documents. groupBy combines map-side, so a key seen
    # a million times ships ~num_partitions partial rows, never a million.
    # The join-back shuffles spans on the same keys, but the survivor side is
    # one row per key — AQE's skew-join split can shred a hot spans partition
    # (the 1-row build side replicates), which a window can never do.
    agg_cols = [F.min(id_col).alias("__mn"), F.max(id_col).alias("__mx")]
    if max_df is not None:
        agg_cols.append(F.count_distinct(F.col(id_col)).alias("__df"))
    survivors = (
        spans.groupBy("h1", "h2")
        .agg(*agg_cols)
        .filter(F.col("__mn") != F.col("__mx"))
    )
    if max_df is not None:
        survivors = survivors.filter(F.col("__df") <= int(max_df))
    occ = spans.join(survivors.select("h1", "h2"), ["h1", "h2"]).select(id_col, "i")
    return _coverage_from_positions(occ, df, text_col, id_col, w)


def connected_components(
    pairs: DataFrame,
    nodes: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """-> (id_col, cluster_id) duplicate-cluster labels over a pair graph:
    cluster_id = the smallest node id reachable through the pairs. This is
    the step that turns near-dup PAIRS (minhash/simhash/winnow/embedding)
    into keep-one-per-cluster decisions; nodes absent from ``pairs`` come
    out as their own singleton cluster, and pair ids absent from ``nodes``
    never relay connectivity.

    Plan: alternating large-star / small-star contraction (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC 2014) —
    O(log² n) rounds on ANY graph shape. Per round, each operation is ONE
    groupBy(min) + ONE equi-join over (long, long) rows:

    - large-star: every neighbor v > u of each node u re-attaches to
      m = min({u} ∪ N(u));
    - small-star: every neighbor v <= u re-attaches to
      m = min({u} ∪ {v ∈ N(u): v <= u}), and u itself attaches to m.

    Both preserve connectivity and strictly flatten trees; the fixpoint is
    a forest of stars rooted at component minima. Fixpoint detection
    compares (count, bit_xor of pair hashes) between rounds — no exceptAll
    scan.

    Min-label propagation was the previous default and was removed: it
    needs graph-diameter rounds, and star contraction was faster on every
    rep at every fixture size of the ``dedup_clusters_star`` winnow pair
    graph (4-core host, graph materialized once, identical labels):
    sf0.001 4.8 s vs 5.9 s, sf0.01 4.5 s vs 5.9 s, sf0.1 5.1 s vs 15.5 s
    — at sf0.1 propagation exhausted 25 rounds and restarted as star.

    Raises ``RuntimeError`` if the fixpoint is not reached in ``max_iter``
    rounds.
    """
    node_ids = nodes.select(F.col(id_col).cast("long").alias("__nid"))
    e = (
        pairs.select(
            F.col(a_col).cast("long").alias("u"),
            F.col(b_col).cast("long").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        # ids absent from ``nodes`` must not relay connectivity — otherwise
        # contraction could emit a cluster_id that is not any node's id and
        # merge clusters through a non-node
        .join(node_ids.withColumnRenamed("__nid", "u"), "u", "left_semi")
        .join(node_ids.withColumnRenamed("__nid", "v"), "v", "left_semi")
        .distinct()
    )

    def _sym(ed: DataFrame) -> DataFrame:
        return ed.union(ed.select(F.col("v").alias("u"), F.col("u").alias("v")))

    def _large_star(ed: DataFrame) -> DataFrame:
        s = _sym(ed)
        m = s.groupBy("u").agg(F.min("v").alias("__mn")).select(
            "u", F.least(F.col("u"), F.col("__mn")).alias("m")
        )
        return (
            s.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def _small_star(ed: DataFrame) -> DataFrame:
        # orient every edge high -> low, then each u attaches its low
        # neighborhood (and itself) to that neighborhood's minimum
        s = _sym(ed).filter(F.col("v") <= F.col("u"))
        m = s.groupBy("u").agg(F.min("v").alias("m"))
        att = (
            s.join(m, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        self_att = m.select(F.col("u"), F.col("m").alias("v"))
        return (
            att.union(self_att)
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def _sig(ed: DataFrame):
        # bit_xor is order-independent and cannot overflow under ANSI mode
        # (sum(xxhash64) throws ARITHMETIC_OVERFLOW on the second row)
        row = ed.agg(
            F.count("*").alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    # each round's edge frame is localCheckpoint-ed: a persist alone keeps
    # the LOGICAL plan nesting the previous round's, doubling per round
    # until stringifying it OOMs the driver. Superseded rounds' blocks are
    # dropped by the ContextCleaner once unreferenced.
    edges = e.localCheckpoint()
    sig = _sig(edges)
    for _ in range(max_iter):
        edges = _small_star(_large_star(edges)).localCheckpoint()
        new_sig = _sig(edges)
        if new_sig == sig:
            break
        sig = new_sig
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(O(log^2 n) expected)"
        )
    # fixpoint edges are (node -> component root); roots and isolated
    # nodes label themselves
    return (
        nodes.select(F.col(id_col).cast("long").alias("u"))
        .join(edges.withColumnRenamed("v", "lbl"), "u", "left")
        .select(
            F.col("u").alias(id_col),
            F.coalesce("lbl", "u").alias("cluster_id"),
        )
    )


_SPLITMIX_C1 = 0x9E3779B97F4A7C15
_SPLITMIX_C2 = 0xBF58476D1CE4E5B9
_SPLITMIX_C3 = 0x94D049BB133111EB


def splitmix64_np(x: np.ndarray) -> np.ndarray:
    """Full splitmix64 finalizer (public constants), uint64 wraparound."""
    m = np.uint64(0xFFFFFFFFFFFFFFFF)
    x = (x.astype(np.uint64) + np.uint64(_SPLITMIX_C1)) & m
    x = ((x ^ (x >> np.uint64(30))) * np.uint64(_SPLITMIX_C2)) & m
    x = ((x ^ (x >> np.uint64(27))) * np.uint64(_SPLITMIX_C3)) & m
    return x ^ (x >> np.uint64(31))


def simhash64(text: str, shingle_n: int = 4) -> int:
    """64-bit SimHash of the normalized text (Charikar 2002).

    Deterministic, SQL-reproducible recipe (the DuckDB oracle recomputes it
    bit-for-bit from the raw text): distinct char n-grams -> 32-bit poly31
    shingle hash -> splitmix64 to 64 mixed bits -> per-bit majority vote
    (ties -> 1, i.e. bit b set iff 2*count_b >= n_shingles)."""
    hs = _shingles(text, shingle_n)
    x = splitmix64_np(hs)
    bits = ((x[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & np.uint64(1)).astype(
        np.int64
    )
    v = (2 * bits.sum(axis=0) >= len(hs)).astype(np.uint64)
    acc = np.uint64(0)
    for j in range(64):
        acc |= v[j] << np.uint64(j)
    return int(acc.astype(np.int64))


def simhash_udf(shingle_n: int = 4):
    """text -> 64-bit SimHash, Arrow-batched."""

    @F.pandas_udf(T.LongType())
    def sh(texts: pd.Series) -> pd.Series:
        return pd.Series(
            [simhash64(t or "", shingle_n) for t in texts], dtype=np.int64
        )

    return sh


def simhash_chunk_bounds(n_chunks: int) -> list[tuple[int, int]]:
    """(bit_offset, width) per chunk, widths as equal as 64 allows."""
    base, rem = divmod(64, n_chunks)
    bounds, off = [], 0
    for c in range(n_chunks):
        w = base + (1 if c < rem else 0)
        bounds.append((off, w))
        off += w
    return bounds


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """-> (id_a, id_b, hamming): pairs within ``max_hamming`` bits.

    Banding with a GUARANTEED recall contract: 64 bits split into
    ``max_hamming + 1`` chunks — by pigeonhole a pair within ``max_hamming``
    differing bits must share at least one chunk exactly, so the chunk
    equi-join misses nothing at the stated threshold (the round-1 fixed
    4-chunk banding silently lost recall whenever max_hamming > 3). Exact
    popcount verify is native bit_count — no UDF past the signature stage."""
    sh = simhash_udf()
    with_h = spread_small(df.select(id_col, text_col)).withColumn(
        "__sh", sh(F.col(text_col))
    ).select(id_col, "__sh")
    return hamming_neardup_pairs(with_h, "__sh", id_col, max_hamming)


def hamming_neardup_pairs(
    df: DataFrame,
    hash_col: str,
    id_col: str,
    max_hamming: int = 8,
) -> DataFrame:
    """-> (id_a, id_b, hamming): pairs whose precomputed 64-bit hashes differ
    in at most ``max_hamming`` bits — multi-index hashing (Norouzi, Punjani &
    Fleet, CVPR 2012): the hash splits into ``max_hamming + 1`` disjoint
    chunks, and by pigeonhole any pair within the threshold collides exactly
    on at least one chunk, so the chunk equi-join has guaranteed recall.

    This is the image-dedup path over a STORED perceptual-hash column
    (``phash`` in the BASELINE input_hint schema — computed once at ingest,
    never re-decoded here): only (id, 64-bit hash) rows enter the banding
    explode and candidate shuffle, never image bytes. The exact verify is
    native ``bit_count`` over the XOR — zero Python stages anywhere.
    Candidate volume per chunk value is bounded by the chunk width
    (64/(k+1) bits); the analog of the reference's attribute-index bucket
    join (AttributeIndex key collision groups)."""
    if not 0 <= max_hamming <= 63:
        # 64 one-bit chunks cover max_hamming=63; at >=64 every pair
        # qualifies and pigeonhole can no longer guarantee a shared chunk —
        # refuse rather than silently drop qualifying pairs
        raise ValueError(
            f"max_hamming must be in [0, 63] for 64-bit hashes, got {max_hamming}"
        )
    n_chunks = max_hamming + 1
    with_h = df.select(F.col(id_col), F.col(hash_col).alias("__sh"))

    chunks = with_h.select(
        id_col,
        "__sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftrightunsigned(F.col("__sh"), off)
                        .bitwiseAND(F.lit((1 << w) - 1))
                        .alias("cv"),
                    )
                    for c, (off, w) in enumerate(simhash_chunk_bounds(n_chunks))
                ]
            )
        ).alias("ck"),
    ).select(id_col, "__sh", F.col("ck.chunk").alias("chunk"), F.col("ck.cv").alias("cv"))

    l, r = chunks.alias("l"), chunks.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.chunk") == F.col("r.chunk"))
            & (F.col("l.cv") == F.col("r.cv"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.col("l.__sh").alias("ha"),
            F.col("r.__sh").alias("hb"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))
    )

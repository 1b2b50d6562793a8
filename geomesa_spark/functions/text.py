"""Text analysis functions for training-data pipelines (documents table).

All hot-path functions are pure native Spark expressions (portable to the
DuckDB oracle); only the rolling-hash fingerprint uses an Arrow-batched UDF.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F, types as T

# tiny per-language stopword markers for the n-gram-free heuristic language ID
_LANG_MARKERS = {
    "en": [" the ", " and ", " of "],
    "de": [" der ", " und ", " die "],
    "fr": [" le ", " et ", " les "],
    "es": [" el ", " los ", " que "],
}


def _re_escape(pat: str, dialect: str) -> str:
    """Dialect-escape a CANONICAL (single-backslash) regex for embedding in
    a SQL string literal. Spark's parser unescapes backslashes inside
    literals, so ``\\s`` must ship as ``\\\\s``; DuckDB literals are
    standard SQL (no backslash processing), so the canonical form passes
    through — doubling there turns ``\\s`` into an escaped-backslash match
    (pinned in tests/test_oracle_sql.py)."""
    if dialect == "duckdb":
        return pat.replace("'", "''")
    return pat.replace("\\", "\\\\").replace("'", "\\'")


def _rr(col: str, pat: str, rep: str, dialect: str) -> str:
    """regexp_replace with replace-ALL semantics in both dialects: Spark
    replaces all matches by default; DuckDB needs the 'g' flag. ``pat`` is
    the canonical single-backslash form."""
    pat = _re_escape(pat, dialect)
    if dialect == "duckdb":
        return f"regexp_replace({col}, '{pat}', '{rep}', 'g')"
    return f"regexp_replace({col}, '{pat}', '{rep}')"


# explicit whitespace class instead of \s: Java's \s includes vertical tab
# (U+000B), RE2's does not — the explicit class is identical in both engines
# (it spells out exactly Java's default \s)
_WS_CLASS = r" \t\r\n\x0b\f"
_WS = f"[{_WS_CLASS}]+"


def token_count_expr(col: str, dialect: str = "spark") -> str:
    """Whitespace token count as portable SQL (single-space-normalized)."""
    norm = f"trim({_rr(col, _WS, ' ', dialect)})"
    return (
        f"case when length({norm}) = 0 then 0 "
        f"else length({norm}) - length(replace({norm}, ' ', '')) + 1 end"
    )


_BPE_PAT = (
    r"'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+"
    rf"| ?[^A-Za-z0-9{_WS_CLASS}]+|[{_WS_CLASS}]+"
)


def token_count_bpe_expr(col: str, dialect: str = "spark") -> str:
    """BPE-ish pretoken count: the GPT-2 pretokenizer's split classes
    (contraction suffixes, space-prefixed letter runs, digit runs,
    punctuation runs, residual whitespace runs) restricted to
    lookahead-free ASCII classes so the SAME pattern runs under Java regex
    (Spark ``regexp_count``) and RE2 (DuckDB ``regexp_extract_all``) with
    identical leftmost-first alternation — parity pinned on quotes,
    unicode, and mixed-whitespace inputs in tests. Counts pretokens, the
    standard upper-bound proxy for BPE token counts."""
    pat = _re_escape(_BPE_PAT, dialect)
    if dialect == "duckdb":
        return f"len(regexp_extract_all({col}, '{pat}'))"
    return f"regexp_count({col}, '{pat}')"


def quality_exprs(col: str, dialect: str = "spark") -> dict[str, str]:
    """Quality-scoring signals as portable SQL expressions."""
    n = f"length({col})"
    return {
        "n_chars": f"cast({n} as bigint)",
        "n_tokens": f"cast({token_count_expr(col, dialect)} as bigint)",
        "n_bpe_tokens": f"cast({token_count_bpe_expr(col, dialect)} as bigint)",
        "alpha_ratio": (
            f"round(cast(length({_rr(col, '[^a-zA-Z]', '', dialect)}) as double)"
            f" / greatest({n}, 1), 4)"
        ),
        "digit_ratio": (
            f"round(cast(length({_rr(col, '[^0-9]', '', dialect)}) as double)"
            f" / greatest({n}, 1), 4)"
        ),
        "avg_token_len": (
            f"round(cast(length(replace(trim({_rr(col, _WS, ' ', dialect)}), ' ', ''))"
            f" as double) / greatest({token_count_expr(col, dialect)}, 1), 4)"
        ),
    }


# ASCII, lookahead-free CANONICAL patterns that parse identically under
# Java regex (Spark) and RE2 (DuckDB) once dialect-escaped by _re_escape
_URL_PAT = rf"https?://[^{_WS_CLASS}]+"
_EMAIL_PAT = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"


def _re_count(col: str, pat: str, dialect: str) -> str:
    pat = _re_escape(pat, dialect)
    if dialect == "duckdb":
        return f"cast(len(regexp_extract_all({col}, '{pat}')) as bigint)"
    return f"cast(regexp_count({col}, '{pat}') as bigint)"


def scrub_exprs(col: str, dialect: str = "spark") -> dict[str, str]:
    """Text scrubbing (the redaction/normalization pass every training-data
    pipeline runs before tokenization) as portable SQL expressions:

    - ``clean``: URLs -> ``<URL>``, emails -> ``<EMAIL>``, whitespace runs
      collapsed to one space, trimmed;
    - ``n_urls`` / ``n_emails``: match counts over the ORIGINAL text.

    Fully native in both engines — the redact order in ``clean`` is fixed
    (URLs first, so an email inside a URL query string is swallowed by the
    ``<URL>`` token; the counts are independent, over the original text)."""
    urls = _rr(col, _URL_PAT, '<URL>', dialect)
    emails = _rr(f"({urls})", _EMAIL_PAT, '<EMAIL>', dialect)
    clean = f"trim({_rr(f'({emails})', _WS, ' ', dialect)})"
    return {
        "clean": clean,
        "n_urls": _re_count(col, _URL_PAT, dialect),
        "n_emails": _re_count(col, _EMAIL_PAT, dialect),
    }


def lang_id_expr(col: str) -> str:
    """Heuristic language ID: argmax of stopword-marker hit counts, portable
    SQL (marker occurrences counted via length arithmetic)."""
    scores = []
    lowered = f"(' ' || lower({col}) || ' ')"
    for lang, markers in _LANG_MARKERS.items():
        cnt = " + ".join(
            f"cast((length({lowered}) - length(replace({lowered}, '{m}', ''))) / {len(m)} as bigint)"
            for m in markers
        )
        scores.append((lang, f"({cnt})"))
    # argmax with deterministic tie order (first language wins)
    expr = "'und'"
    best = "0"
    for lang, s in reversed(scores):
        expr = f"case when {s} > greatest({best}, 0) then '{lang}' else {expr} end"
        best = f"greatest({best}, {s})"
    return expr


def fingerprint_weights(window: int) -> list[int]:
    """257^(window-1-k) mod 2^64 for k in 0..window-1 — the rolling-hash
    weights, exported so the SQL oracle inlines the identical constants."""
    m = (1 << 64) - 1
    return [pow(257, window - 1 - k, 1 << 64) & m for k in range(window)]


def fingerprint_udf(window: int = 16):
    """Rolling-hash document fingerprint (winnowing-lite): min over all
    ``window``-codepoint positions of the polynomial hash
    sum(cp_k * 257^(w-1-k)) mod 2^64, masked to 63 bits — robust to small
    edits, Arrow-batched, and SQL-replayable (codepoints, not UTF-8 bytes,
    so the DuckDB oracle recomputes it via unicode(substr(...))). Texts
    shorter than the window fold as one whole-string window. Round-2's
    short branch used Python hash(), which is PROCESS-SALTED — fingerprints
    could differ across executors; this recipe is deterministic everywhere.
    """
    mask63 = np.uint64(0x7FFFFFFFFFFFFFFF)

    @F.pandas_udf(T.LongType())
    def fp(texts: pd.Series) -> pd.Series:
        out = np.zeros(len(texts), dtype=np.int64)
        for i, t in enumerate(texts):
            cp = np.frombuffer(
                (t or "").encode("utf-32-le"), dtype=np.uint32
            ).astype(np.uint64)
            if len(cp) == 0:
                out[i] = 0
                continue
            w = min(window, len(cp))
            weights = np.array(fingerprint_weights(w), dtype=np.uint64)
            if len(cp) <= w:
                win = cp[None, :]
            else:
                win = np.lib.stride_tricks.sliding_window_view(cp, w)
            hashes = (win * weights).sum(axis=1) & mask63
            out[i] = np.int64(hashes.min())
        return pd.Series(out)

    return fp


def winnow_fingerprints_udf(kgram: int = 8, window: int = 4):
    """Winnowing fingerprint SET per document (Schleimer, Wilkerson, Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD 2003
    — the MOSS algorithm, public literature).

    Per document: the rolling polynomial hash of every ``kgram``-codepoint
    position (identical recipe + weights as ``fingerprint_udf``, so the
    DuckDB oracle replays it with ``unicode(substr(...))``), then the MIN of
    each sliding window of ``window`` consecutive position hashes, then the
    DISTINCT selected values sorted ascending. Guarantees: any shared
    substring of length >= kgram + window - 1 contributes at least one
    shared fingerprint; expected density is 2 / (window + 1) fingerprints
    per position. Texts with fewer position hashes than ``window`` shrink
    the min window to what exists (one whole-span fingerprint — replayed by
    the SQL oracle's clipped window); texts shorter than ``kgram``
    codepoints fold as one whole-string window (engine-only branch — same
    contract as ``fingerprint_udf``: the driver fixture's documents are all
    longer, the short branch is pytest-covered).
    """
    mask63 = np.uint64(0x7FFFFFFFFFFFFFFF)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def wf(texts: pd.Series) -> pd.Series:
        out: list = []
        for t in texts:
            cp = np.frombuffer(
                (t or "").encode("utf-32-le"), dtype=np.uint32
            ).astype(np.uint64)
            if len(cp) == 0:
                out.append([])
                continue
            k = min(kgram, len(cp))
            weights = np.array(fingerprint_weights(k), dtype=np.uint64)
            if len(cp) <= k:
                win = cp[None, :]
            else:
                win = np.lib.stride_tricks.sliding_window_view(cp, k)
            hashes = (win * weights).sum(axis=1) & mask63
            w = min(window, len(hashes))
            mins = np.lib.stride_tricks.sliding_window_view(hashes, w).min(axis=1)
            out.append(np.unique(mins).astype(np.int64).tolist())
        return pd.Series(out)

    return wf

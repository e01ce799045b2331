"""Text-analysis operators for large-scale training-data pipelines.

All hot-path functions are native Spark Column expressions (JVM-side,
whole-stage codegen); only winnowing fingerprints and language ID use
Arrow-batched pandas UDFs. Each has a DuckDB-expressible twin where the
semantics allow (see __spark_entry__.oracle_sql).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

from liken_spark.preprocess import NLTK_ENGLISH_STOPWORDS
from liken_spark.session import spread_to_cores

# ---------------------------------------------------------------------------
# token counting


def token_count(col: Column) -> Column:
    """Whitespace token count (0 for empty/blank strings)."""
    trimmed = F.regexp_replace(col, r"^\s+|\s+$", "")
    return F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    )


_BPE_ISH = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


def bpe_ish_token_count(col: Column) -> Column:
    """A BPE-flavored token estimate: letter runs + single digits + single
    punctuation marks (regexp-based, JVM-side)."""
    return F.size(F.regexp_extract_all(col, F.lit(_BPE_ISH), 0))


# ---------------------------------------------------------------------------
# quality scoring


def quality_features(col: Column) -> dict[str, Column]:
    """Length / punctuation / stopword-ratio features, all native exprs."""
    length = F.length(col)
    n_alpha = F.length(F.regexp_replace(col, r"[^A-Za-z]", ""))
    n_punct = F.length(F.regexp_replace(col, r"[A-Za-z0-9\s]", ""))
    toks = token_count(col)
    stop_pattern = r"(?i)\b(" + "|".join(w for w in NLTK_ENGLISH_STOPWORDS if "'" not in w) + r")\b"
    n_stop = F.size(F.regexp_extract_all(col, F.lit(stop_pattern), 0))
    return {
        "n_chars": length,
        "n_tokens": toks,
        "alpha_ratio": (n_alpha / F.greatest(length, F.lit(1))).cast("double"),
        "punct_ratio": (n_punct / F.greatest(length, F.lit(1))).cast("double"),
        "stopword_ratio": (n_stop / F.greatest(toks, F.lit(1))).cast("double"),
        "mean_token_len": (
            F.length(F.regexp_replace(col, r"\s+", "")) / F.greatest(toks, F.lit(1))
        ).cast("double"),
    }


def quality_score(col: Column) -> Column:
    """Scalar [0,1] quality heuristic: favors alpha-dominant text with a
    plausible stopword ratio and token lengths (a Gopher-rules-flavored
    scorer expressed as one arithmetic Column)."""
    f = quality_features(col)
    len_ok = F.when((f["n_tokens"] >= 5) & (f["n_tokens"] <= 100000), 1.0).otherwise(0.2)
    alpha = f["alpha_ratio"]
    stop = f["stopword_ratio"]
    mean_len = f["mean_token_len"]
    score = (
        len_ok
        * F.least(alpha * 1.4, F.lit(1.0))
        * (F.lit(1.0) - F.least(f["punct_ratio"] * 2.0, F.lit(0.9)))
        * F.when((mean_len >= 2.0) & (mean_len <= 12.0), 1.0).otherwise(0.5)
        * F.when(stop <= 0.6, 1.0).otherwise(0.7)
    )
    return F.round(score.cast("double"), 6)


# ---------------------------------------------------------------------------
# language identification (n-gram/stopword heuristic)

_LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "it", "was", "for", "with", "as", "his", "her"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "eine", "mit", "für", "auf", "ich", "zu"),
    "fr": ("le", "la", "les", "et", "est", "une", "un", "des", "dans", "que", "pour", "pas", "vous"),
    "es": ("el", "la", "los", "las", "y", "es", "una", "un", "en", "que", "por", "para", "con", "del"),
    "it": ("il", "la", "gli", "e", "è", "una", "un", "che", "di", "per", "non", "con", "del"),
}


def lang_id(col: Column) -> Column:
    """Stopword-marker vote across 5 languages; 'und' (undetermined) when no
    marker hits. Arrow-batched; one inverted marker->languages probe per
    token instead of five per-language set scans (same vote and the same
    first-language strict-greater tie-break, so output is identical)."""

    langs = list(_LANG_MARKERS)
    tok2langs: dict[str, tuple[int, ...]] = {}
    for li, ws in enumerate(_LANG_MARKERS.values()):
        for w in ws:
            tok2langs[w] = tok2langs.get(w, ()) + (li,)

    @F.pandas_udf("string")
    def _lang(s: pd.Series) -> pd.Series:
        out = []
        get = tok2langs.get
        for text in s:
            if not text:
                out.append("und")
                continue
            counts = [0] * len(langs)
            for t in text.lower().split():
                hit = get(t)
                if hit:
                    for li in hit:
                        counts[li] += 1
            best_hits = max(counts)
            out.append(langs[counts.index(best_hits)] if best_hits > 0 else "und")
        return pd.Series(out)

    return _lang(col)


# ---------------------------------------------------------------------------
# document fingerprinting (winnowing, Schleimer et al. 2003)


def winnow_fingerprints(col: Column, k: int = 8, window: int = 4) -> Column:
    """Rolling-hash k-gram fingerprints with window minima -> array<long>.
    Standard winnowing: positions-robust document signatures for exact /
    near-exact overlap detection."""

    @F.pandas_udf("array<long>")
    def _fp(s: pd.Series) -> pd.Series:
        out = []
        for text in s:
            if not text or len(text) < k:
                out.append([])
                continue
            n = len(text) - k + 1
            hashes = np.empty(n, dtype=np.int64)
            for i in range(n):
                h = hashlib.blake2b(text[i : i + k].encode("utf-8"), digest_size=8).digest()
                hashes[i] = int.from_bytes(h, "little", signed=True)
            if n <= window:
                out.append([int(hashes.min())])
                continue
            mins = set()
            view = np.lib.stride_tricks.sliding_window_view(hashes, window)
            mins.update(view.min(axis=1).tolist())
            out.append(sorted(mins))
        return pd.Series(out)

    return _fp(col)


def fingerprint64(col: Column) -> Column:
    """Whole-document 64-bit fingerprint over whitespace-normalized text —
    pure JVM expression (xxhash64)."""
    return F.xxhash64(F.regexp_replace(F.regexp_replace(col, r"\s+", " "), r"^\s+|\s+$", ""))


def with_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    # map-only plan: every regex + the langid UDF run per input partition
    df = spread_to_cores(df)
    c = F.col(text_col)
    feats = quality_features(c)
    return df.select(
        "*",
        token_count(c).alias("n_tokens"),
        bpe_ish_token_count(c).alias("n_bpe_tokens"),
        feats["alpha_ratio"].alias("alpha_ratio"),
        feats["punct_ratio"].alias("punct_ratio"),
        feats["stopword_ratio"].alias("stopword_ratio"),
        quality_score(c).alias("quality"),
        lang_id(c).alias("lang_pred"),
        fingerprint64(c).alias("fingerprint"),
    )

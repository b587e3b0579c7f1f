"""Text functions: symbol extraction, hashing, text-quality analytics.

All vectorized — either built-in ``pyspark.sql.functions`` (JVM-side,
whole-stage codegen) or Arrow-batched pandas UDFs. No per-row Python
(hard requirement, BASELINE.json input_hint).

The symbol extractor generalizes the reference's tensor-name lookup that
drives its producer→consumer equi-join (reference: graph.py:12-23).
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

# --- symbol extraction -------------------------------------------------

_IMPORT_RE = {
    # One compiled regex per supported language, single capture group =
    # the referenced symbol. Kept RE2-compatible on purpose: the DuckDB
    # corpus_edges oracle replays these same patterns character for
    # character (queries.py _SQL_CORPUS_EDGES), so stick to (?m), (?:),
    # \b, explicit char classes — no lookbehind/backrefs. re.A gives
    # Python Java's ASCII \s, \w and \b (extract_refs input contract).
    "python": re.compile(
        r"^\s*(?:import|from)\s+([A-Za-z_][A-Za-z0-9_.]*)", re.M | re.A
    ),
    "c": re.compile(r'^\s*#\s*include\s*[<"]([^>"]+)[>"]', re.M | re.A),
    "go": re.compile(r'^\s*import\s+"([^"]+)"', re.M | re.A),
    # `import x from 'm'` / side-effect `import 'm'` / `require('m')`
    "javascript": re.compile(
        r"(?:\bfrom\s+|\brequire\(\s*|^\s*import\s+)['\"]([^'\"]+)['\"]", re.M | re.A
    ),
    "java": re.compile(
        r"^\s*import\s+(?:static\s+)?([A-Za-z_][A-Za-z0-9_.]*)\s*;", re.M | re.A
    ),
    "rust": re.compile(r"^\s*(?:pub\s+)?use\s+([A-Za-z_][A-Za-z0-9_:]*)", re.M | re.A),
}
# TypeScript import syntax is JavaScript's.
_IMPORT_RE["typescript"] = _IMPORT_RE["javascript"]


def extract_refs(content: F.Column, lang: F.Column) -> F.Column:
    r"""Per-file list of referenced symbols (imports/includes), by lang.

    Pure JVM expression: a CASE over ``regexp_extract_all`` with the
    per-language pattern (the ``(?d)(?m)`` flags inlined). This removes
    the former ArrowEvalPython node — and with it the JVM→Python→JVM
    Arrow round-trip of every file body — from the edge-derivation scan
    stage (guide §4.1: built-ins over UDFs). The patterns are
    deliberately RE2-compatible (no lookbehind/backrefs); findall with
    one capture group ≡ regexp_extract_all(..., 1), both non-overlapping
    left-to-right scans.

    Input contract, which Java, the ``re.ASCII`` pandas reference and
    the DuckDB oracle's RE2 share:

    * a line ends at ``\n`` only. ``(?d)`` (Java's UNIX_LINES) keeps
      ``^`` from also firing after a lone ``\r``, U+0085 or U+2028;
    * ``\s`` is ASCII whitespace; Unicode spaces such as U+00A0 are
      not whitespace.

    The one difference from RE2: Java and Python count ``\v`` (U+000B)
    as ``\s`` and RE2 does not, so ``"\vimport a"`` yields ``['a']``
    here and ``[]`` in the oracle.
    """
    expr = F.array().cast(T.ArrayType(T.StringType()))
    for lg, rx in _IMPORT_RE.items():
        if lg == "typescript":
            continue  # same compiled pattern object as javascript
        pat = "(?d)(?m)" + rx.pattern
        matched = F.regexp_extract_all(content, F.lit(pat), 1)
        cond = (
            lang.isin(lg, "typescript") if lg == "javascript" else lang == lg
        )
        expr = F.when(cond, matched).otherwise(expr)
    return expr


@F.pandas_udf(T.ArrayType(T.StringType()))
def extract_refs_pandas(content: pd.Series, lang: pd.Series) -> pd.Series:
    """Pandas-UDF reference implementation of ``extract_refs`` (the
    former hot-path extractor, kept as the cross-engine equivalence
    check the tests pin the JVM expression against).
    """
    out = pd.Series([[]] * len(content), index=content.index, dtype=object)
    for lg, rx in _IMPORT_RE.items():
        mask = lang == lg
        if mask.any():
            out[mask] = content[mask].str.findall(rx)
    return out


def defined_symbol() -> F.Column:
    """Symbol a file *defines* — declared in its module header comment
    (``# module: x`` in hash-comment languages, ``// module: x`` in
    slash-comment ones).

    Pure JVM-side regexp (codegen'd); analogous to the reference's
    producer-side hash build on output tensor names (graph.py:12-15).
    """
    return F.regexp_extract(F.col("content"), r"(?:#|//) module: ([\w.]+)", 1)


# --- content integrity --------------------------------------------------

def content_sha256() -> F.Column:
    return F.sha2(F.col("content"), 256)


# --- training-data text analytics (all built-in expressions) ------------

_STOPWORDS = ("the", "and", "of", "to", "a", "in", "is", "it", "that", "for")


def token_count(col: str = "text") -> F.Column:
    """Whitespace tokenization count (empty string → 0)."""
    trimmed = F.trim(F.col(col))
    return F.when(trimmed == "", F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    ).cast("long")


def bpe_ish_token_count(col: str = "text") -> F.Column:
    """BPE-ish subword proxy: count word/number/punct chunks."""
    return F.size(
        F.regexp_extract_all(F.col(col), F.lit(r"[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]"), 0)
    ).cast("long")


def punct_ratio(col: str = "text") -> F.Column:
    n = F.length(F.col(col))
    p = F.size(F.regexp_extract_all(F.col(col), F.lit(r"[^\w\s]"), 0))
    return F.when(n > 0, p.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def stopword_ratio(col: str = "text") -> F.Column:
    toks = token_count(col)
    pat = r"(?i)\b(" + "|".join(_STOPWORDS) + r")\b"
    hits = F.size(F.regexp_extract_all(F.col(col), F.lit(pat), 0)).cast("double")
    return F.when(toks > 0, hits / toks.cast("double")).otherwise(F.lit(0.0))


def quality_score(col: str = "text") -> F.Column:
    """Heuristic [0,1] quality: length band + low punct + some stopwords."""
    n = F.length(F.col(col)).cast("double")
    len_score = F.least(n / F.lit(500.0), F.lit(1.0))
    punct_score = F.greatest(F.lit(0.0), F.lit(1.0) - punct_ratio(col) * 4.0)
    stop_score = F.least(stopword_ratio(col) * 5.0, F.lit(1.0))
    return (len_score * 0.4 + punct_score * 0.4 + stop_score * 0.2)


def lang_id(col: str = "text") -> F.Column:
    """Tiny n-gram/stopword language heuristic (en vs code vs unknown)."""
    return (
        F.when(stopword_ratio(col) > 0.05, F.lit("en"))
        .when(
            F.size(F.regexp_extract_all(F.col(col), F.lit(r"(?m)^\s*(def |import |#include|func )"), 0)) > 0,
            F.lit("code"),
        )
        .otherwise(F.lit("unknown"))
    )


@F.pandas_udf(T.LongType())
def doc_fingerprint(text: pd.Series) -> pd.Series:
    """Deterministic polynomial rolling-hash fingerprint, base 1000003
    mod 2^64 (natural uint64 wraparound).

    Closed form of the recurrence h = h*base + byte:

        h(doc) = Σ_j byte_j · base^(L-1-j)   (mod 2^64)

    evaluated as one weighted sum over the batch's flattened UTF-8
    bytes. Work and transient memory track TOTAL bytes, not
    n_docs × max_len: the flat byte array stays uint8 (no 8x uint64
    blow-up of the whole batch), and the weighted sum runs in fixed
    4 MiB windows of the flat array with per-window uint64 temporaries
    — a single 10 MB document in an otherwise short batch costs its own
    bytes, not 10M masked passes over every row (r2 ADVICE)."""
    base = np.uint64(1000003)
    filled = text.fillna("")
    enc = filled.str.encode("utf-8", "ignore")
    lens = enc.str.len().fillna(0).to_numpy(dtype="int64")
    n = len(filled)
    h = np.zeros(n, dtype=np.uint64)
    total = int(lens.sum()) if n else 0
    if total > 0:
        flat = np.frombuffer(b"".join(enc.tolist()), dtype=np.uint8)
        offsets = np.zeros(n, dtype="int64")
        np.cumsum(lens[:-1], out=offsets[1:])
        ends = offsets + lens
        # P[k] = base^k mod 2^64 (uint64 cumprod wraps, which IS the mod)
        max_len = int(lens.max())
        P = np.full(max_len, base, dtype=np.uint64)
        P[0] = np.uint64(1)
        np.cumprod(P, out=P)
        window = 1 << 22
        with np.errstate(over="ignore"):
            for lo in range(0, total, window):
                hi = min(lo + window, total)
                gidx = np.arange(lo, hi, dtype="int64")
                # doc of byte g = count of docs fully ending at/before g
                doc = np.searchsorted(ends, gidx, side="right")
                exp = lens[doc] - 1 - (gidx - offsets[doc])
                contrib = flat[lo:hi].astype(np.uint64) * P[exp]
                docs_here = np.unique(doc)
                starts = np.searchsorted(doc, docs_here)
                h[docs_here] += np.add.reduceat(contrib, starts)
    return pd.Series(h.view(np.int64))

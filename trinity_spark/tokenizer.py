"""The frozen tokenizer — shared by index build, query parsing, and the oracle.

The reference demands that the *same* token parser is used at index time and
query time (``/root/reference/common.h:59-72``, ``queries.h:246-247``); its
default implementation is ``default_token_parser_impl``
(``/root/reference/queries.cpp:2098-2341``).  We re-implement the documented
behaviors as vectorized regex passes (C-level regex via pandas ``.str`` ops —
no per-row Python in the Spark path):

1. lowercase (the reference leaves case folding to the app; we freeze
   lowercasing as our app policy so build == query),
2. acronym collapse: ``I.B.M`` / ``i.b.m.`` -> ``ibm``
   (reference: dot-separated single-char sequences are merged; the sequence
   must START with a letter — ``queries.cpp:2120`` requires ``_isalpha(*p)``
   — so digit-led text like ``9.0`` / ``1.5`` is left for rule 4),
3. intra-word apostrophes removed: ``L'Oreal`` -> ``loreal``,
4. numeric normalization: trailing ``.0+`` dropped (``9.000`` -> ``9``,
   ``1.0.0`` -> ``1``), while real decimals (``8.25``) stay single tokens
   and a non-trailing ``.0`` is left alone (``1.0.2`` -> ``1.0``, ``2`` —
   never the fabricated decimal ``1.2``),
5. ``word:tail`` operator tokens: an alpha head followed by ``:`` and a
   domain-ish tail is ONE raw token — ``site:x-box.com``, ``site:.gr``
   (reference: ``queries.cpp:2153-2163`` consumes the whole region and stores
   it verbatim via ``l10``); the tail grammar matches the reference exactly:
   alnum, or ``.`` followed by alnum, or ``-`` between alnums,
6. tokens are otherwise maximal runs of ``[a-z0-9]`` (plus the decimal form),
7. terms longer than 64 bytes are not indexed
   (``/root/reference/trinity_limits.h:14``),
8. positions are 1-based token sequence numbers, capped at 2**14
   (``trinity_limits.h:15``; hits past the cap are dropped).

Position-0 semantics (reference parity): ``word:tail`` operator tokens are
POSITIONLESS — indexed at position 0, the convention the reference prescribes
for special tokens (``/root/reference/codecs.h:191-195`` "where position
makes no sense, use position 0").  They still occupy their slot in the
sequence (the tokens around them keep their distances), still count toward
tf/df/BM25, but are excluded from phrase adjacency: a position-0 hit never
anchors or extends a phrase match (the planner and oracle both guard
``pos > 0``), so a phrase containing or spanning an operator token behaves
exactly like the reference.

The limits (6)+(7) are applied JVM-side (``F.filter``/``F.slice``) so the
pandas UDF stays a pure regex pipeline.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

MAX_TERM_LENGTH = 64  # trinity_limits.h:14
MAX_POSITION = 1 << 14  # trinity_limits.h:15

# --- the frozen regex passes (order matters; shared with the oracle) ---
# First char must be a LETTER (queries.cpp:2120 `_isalpha(*p)`): digit-led
# dot sequences are decimals/numerics (rule 4), not acronyms — `9.0` must
# normalize to `9` and `1.5` stay a decimal token, never collapse to `90`/`15`.
# word:tail first (ordered alternation): alpha head, ':', then the reference
# tail grammar — alnum | '.' followed by alnum | '-' between alnums
_WORD_TAIL = r"[a-z]+:(?:[a-z0-9]|\.(?=[a-z0-9])|(?<=[a-z0-9])-(?=[a-z0-9]))+"
_TOKEN_RE = re.compile(_WORD_TAIL + r"|\d+\.\d+|[a-z0-9]+")
# Every normalization pass leads with a word:tail alternative that returns
# the tail VERBATIM (rule 5: the reference consumes the whole region and
# stores it as-is, queries.cpp:2153-2163) — without the shield the acronym
# pass collapsed `site:x.y` to `site:xy` and num-norm turned `site:9.0`
# into `site:9`, breaking store-verbatim parity.
_TAIL_SHIELD = "(" + _WORD_TAIL + ")|"
_ACRONYM_RE = re.compile(
    _TAIL_SHIELD + r"((?<![a-z0-9])[a-z](?:\.[a-z0-9]){1,}\.?(?![a-z0-9]))"
)
# leading alnum char is CONSUMED (not a lookbehind) so a tail consumed by
# the shield never donates its last char to an apostrophe join
_APOSTROPHE_RE = re.compile(_TAIL_SHIELD + r"([a-z0-9])['’](?=[a-z0-9])")
# trailing .0+ groups drop only when nothing decimal follows: `.0` inside
# `1.0.2` is NOT trailing (old `(?<=\d)\.0+(?!\d)` collapsed it to the
# fabricated decimal `1.2`); `1.0.0` -> `1`, `9.000` -> `9`, `8.25` stays
_NUM_NORM_RE = re.compile(_TAIL_SHIELD + r"(\d)(?:\.0+)+(?!\d|\.\d)")


def _acronym_sub(m: re.Match) -> str:
    return m.group(1) or m.group(2).replace(".", "")


def _keep_shield_or_group2(m: re.Match) -> str:
    return m.group(1) or m.group(2)


def _normalize(text: str) -> str:
    text = text.lower()
    text = _ACRONYM_RE.sub(_acronym_sub, text)
    text = _APOSTROPHE_RE.sub(_keep_shield_or_group2, text)
    text = _NUM_NORM_RE.sub(_keep_shield_or_group2, text)
    return text


def tokenize_py(text: str | None) -> list[str]:
    """Pure-python core: raw token stream (before limits).

    Used by the oracle and by query parsing; MUST stay in lockstep with
    ``tokenize_udf`` + ``apply_limits``.
    """
    if not text:
        return []
    return _TOKEN_RE.findall(_normalize(text))


# word:tail operator tokens are positionless (indexed at position 0).
# ':' can only appear in a word_tail match, so a marker test is exact.
# ONE definition, three execution surfaces: keep the Python / Column /
# pandas twins below in lockstep — the oracle and the engine build paths
# must agree or the rank-identity gate breaks obscurely.
POSITIONLESS_MARKER = ":"


def is_positionless(term: str) -> bool:
    """Python-side test (oracle / tokenize_terms_py path)."""
    return POSITIONLESS_MARKER in term


def positionless_col(term_col: Column) -> Column:
    """Column-side twin of ``is_positionless`` (engine build path)."""
    return term_col.contains(POSITIONLESS_MARKER)


def tokenize_terms_py(text: str | None) -> list[tuple[str, int]]:
    """(term, position) pairs with the reference limits applied.

    Position is the 1-based slot index in the *post-length-filter* stream;
    word:tail operator tokens report position 0 (positionless,
    codecs.h:191-195) while still consuming their slot — the tokens around
    them keep their distances.
    """
    toks = [t for t in tokenize_py(text) if len(t) <= MAX_TERM_LENGTH]
    return [
        (t, 0 if is_positionless(t) else i + 1)
        for i, t in enumerate(toks[:MAX_POSITION])
    ]


def tokenize_arrow(texts) -> "pa.ListArray":
    """Arrow-native tokenizer twin of ``tokenize_udf`` (same raw token
    stream, before limits) for the fused build path.

    Rows whose lowercased text is pure ``[a-z0-9]`` + ASCII whitespace need
    none of the normalization passes (acronym / apostrophe / num-norm all
    require a ``.``/``'``/``’``, and ``[a-z0-9]+`` runs separated only by
    whitespace ARE the findall result), so they take a pure C path:
    ``utf8_lower`` + ``ascii_split_whitespace``.  Whitespace-run splitting
    can emit empty strings (leading/trailing runs); the build's length
    filter drops zero-length tokens before positions are assigned, so the
    streams stay identical to ``findall`` output.  Rows with any other
    character fall back to the frozen pandas pipeline — applied to the
    ORIGINAL text (Python ``str.lower``), byte-for-byte ``tokenize_udf``.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(texts, pa.ChunkedArray):
        texts = texts.combine_chunks()
    filled = pc.fill_null(texts, "")
    low = pc.utf8_lower(filled)
    dirty = pc.match_substring_regex(low, r"[^a-z0-9\s]")
    if not pc.any(dirty).as_py():
        return pc.ascii_split_whitespace(low)
    import numpy as np

    dirty_np = dirty.to_numpy(zero_copy_only=False)
    clean_idx = np.flatnonzero(~dirty_np)
    dirty_idx = np.flatnonzero(dirty_np)
    clean_lists = pc.ascii_split_whitespace(low.take(pa.array(clean_idx)))
    dirty_series = tokenize_udf.func(
        pd.Series(filled.take(pa.array(dirty_idx)).to_pylist())
    )
    dirty_lists = pa.array(list(dirty_series), type=pa.list_(pa.string()))
    combined = pa.concat_arrays(
        [clean_lists.combine_chunks() if isinstance(clean_lists, pa.ChunkedArray)
         else clean_lists, dirty_lists]
    )
    perm = np.empty(len(dirty_np), dtype=np.int64)
    perm[clean_idx] = np.arange(len(clean_idx))
    perm[dirty_idx] = len(clean_idx) + np.arange(len(dirty_idx))
    return combined.take(pa.array(perm))


@pandas_udf(T.ArrayType(T.StringType()))
def tokenize_udf(texts: pd.Series) -> pd.Series:
    """Arrow-vectorized tokenizer: pandas .str regex passes (C regex loop,
    no per-row Python function calls except the acronym-collapse callback,
    which fires only on matches).

    (Measured: a mask-then-replace variant that skips no-match rows is 2x
    SLOWER than plain replace — pandas' regex replace already short-circuits
    on non-matching rows.)"""
    s = texts.fillna("").str.lower()
    s = s.str.replace(_ACRONYM_RE, _acronym_sub, regex=True)
    s = s.str.replace(_APOSTROPHE_RE, _keep_shield_or_group2, regex=True)
    s = s.str.replace(_NUM_NORM_RE, _keep_shield_or_group2, regex=True)
    return s.str.findall(_TOKEN_RE)


def apply_limits(tokens_col: Column) -> Column:
    """JVM-side enforcement of MaxTermLength + MaxPosition on a token array."""
    filtered = F.filter(tokens_col, lambda t: F.length(t) <= MAX_TERM_LENGTH)
    return F.slice(filtered, 1, MAX_POSITION)


def tokens_column(text_col: Column) -> Column:
    """text -> array<string> of index-ready terms (positions = index+1)."""
    return apply_limits(tokenize_udf(text_col))

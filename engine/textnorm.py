"""Frozen text-normalization layer: analyzers, alphakey, name-ending splitter.

Everything downstream (index build, queries, oracles) depends on these specs
being frozen. Each operator comes in two forms:

- ``*_py``  — pure-Python frozen reference implementation (the oracle in
  tests; also used by the brute-force BM25 oracle).
- ``*_col`` — the Spark fast path: built-in column functions where possible
  (JVM-side, whole-stage codegen), Arrow-batched pandas UDFs where built-ins
  genuinely can't express the semantics (asciifolding, suffix-table split).

Reference parity map (cites into /root/reference):
- T1 splitter:   format/format.go:99-118, suffix table format.go:10-82
- L1  analyzer_startswith:        config/search_scheme.json:9-12,64-68
- L2  startswith_no_ws_punc:      search_scheme.json:13-16,69-73
- L3  analyzer_unique_tf:         search_scheme.json:17-20
- L4  analyzer_limit_first:       search_scheme.json:21-24
- L5  analyzer_elastic:           search_scheme.json:25-27
- L6  analyzer_whitespace_token:  search_scheme.json:28-35,60-63
- L7  analyzer_keyword_token_sort:search_scheme.json:36-49,82-94
- L8  analyzer_edge_ngram_token:  search_scheme.json:50-57,75-81
- L9  simple (ES built-in):       used at search_scheme.json:159-162
- L10 standard (ES built-in):     used at search_scheme.json:17-27,173
- alphakey: external service contract (datastructures/alpha.go:3-11); frozen
  deterministic reimplementation per SURVEY.md section 7.3.

Documented divergences (frozen as OUR spec, golden-tested):
- L10 "standard" is ``\\w+`` word runs (not full UAX#29).
- asciifolding is NFKD + strip combining marks (not Lucene's full fold table).
"""

from __future__ import annotations

import re
import unicodedata

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# T1 — company-name-ending splitter
# ---------------------------------------------------------------------------

# Verbatim suffix table, SOURCE ORDER IS LOAD-BEARING (first suffix match
# wins; see /root/reference/format/format.go:10-82 and SURVEY.md 2.3 quirks).
COMPANY_NAME_ENDINGS: tuple[str, ...] = (
    "AEIE", "ANGHYFYNGEDIG", "C.B.C", "C.C.C", "C.I.C", "CBC", "CBCN", "CBP",
    "CCC", "CCG CYF", "CCG CYFYNGEDIG", "CIC",
    "COMMUNITY INTEREST COMPANY", "COMMUNITY INTEREST P.L.C",
    "COMMUNITY INTEREST PLC", "COMMUNITY INTEREST PUBLIC LIMITED COMPANY",
    "CWMNI BUDDIANT C.C.C", "CWMNI BUDDIANT CCC",
    "CWMNI BUDDIANT CYMUNEDOL C.C.C", "CWMNI BUDDIANT CYMUNEDOL CCC",
    "CWMNI BUDDIANT CYMUNEDOL CYHOEDDUS CYFYNGEDIG",
    "CWMNI BUDDIANT CYMUNEDOL", "CWMNI BUDDSODDIA CHYFALAF NEWIDIOL",
    "CWMNI BUDDSODDIANT PENAGORED", "CWMNI CELL GWARCHODEDIG",
    "CWMNI CYFYNGEDIG CYHOEDDUS", "CYF", "CYFYNGEDIG", "EEIG", "EESV", "EOFG",
    "EOOS", "EUROPEAN ECONOMIC INTEREST GROUPING", "GEIE", "GELE", "ICVC",
    "INVESTMENT COMPANY WITH VARIABLE CAPITAL", "L.P", "L.T.D",
    "LIMITED - THE", "LIMITED LIABILITY PARTNERSHIP", "LIMITED PARTNERSHIP",
    "LIMITED THE", "LIMITED", "LIMITED-THE", "LIMITED...THE", "LIMITED..THE",
    "LIMITED.THE", "LLP", "LP", "LTD", "LTD...THE", "LTD..THE", "LTD.THE",
    "OEIC", "OPEN-ENDED INVESTMENT COMPANY", "P.L.C", "PAC",
    "PARTNERIAETH ATEBOLRWYDD CYFYNGEDIG", "PARTNERIAETH CYFYNGEDIG",
    "PCC LIMITED", "PCC LTD", "PCC", "PLC", "PROTECTED CELL COMPANY",
    "PUBLIC LIMITED COMPANY .THE", "PUBLIC LIMITED COMPANY THE",
    "PUBLIC LIMITED COMPANY", "PUBLIC LIMITED COMPANY.THE", "UNLIMITED",
    "UNLTD",
)

_NON_WORD_END_RE = re.compile(r"[^A-Za-z0-9_]+$")


def split_company_name_endings_py(name: str) -> tuple[str, str]:
    """Exact T1 semantics (format.go:99-118), incl. the documented quirks:

    - strip trailing non-word chars BEFORE matching, but the ending is a
      slice of the ORIGINAL name (punctuation reappears in the ending)
    - first suffix in source order wins
    - the trim only fires when the suffix is preceded by a space
    """
    name_start, name_ending = name, ""
    stripped = _NON_WORD_END_RE.sub("", name)
    for cne in COMPANY_NAME_ENDINGS:
        if stripped.endswith(cne):
            if stripped.endswith(" " + cne):
                name_start = stripped[: -(len(cne) + 1)]
            else:
                name_start = stripped
            name_ending = name[len(name_start):]
            break
    return name_start, name_ending


def split_company_name_endings_series(names: pd.Series) -> pd.DataFrame:
    """Vectorized T1: one boolean-mask pass per suffix (71 passes), numpy-
    masked assignment — no per-row Python."""
    names = names.fillna("")
    stripped = names.str.replace(_NON_WORD_END_RE, "", regex=True)
    start = names.copy()
    done = pd.Series(False, index=names.index)
    for cne in COMPANY_NAME_ENDINGS:
        hit = (~done) & stripped.str.endswith(cne)
        if not hit.any():
            continue
        spaced = hit & stripped.str.endswith(" " + cne)
        start[spaced] = stripped[spaced].str[: -(len(cne) + 1)]
        start[hit & ~spaced] = stripped[hit & ~spaced]
        done |= hit
    # ending = original name minus the start prefix; "" where no suffix hit
    lens = start.str.len()
    ending = pd.Series(
        [n[ln:] if d else "" for n, ln, d in zip(names, lens, done)],
        index=names.index,
    )
    return pd.DataFrame({"name_start": start, "name_ending": ending})


_SPLIT_SCHEMA = T.StructType(
    [
        T.StructField("name_start", T.StringType()),
        T.StructField("name_ending", T.StringType()),
    ]
)


@F.pandas_udf(_SPLIT_SCHEMA)
def split_company_name_endings_udf(names: pd.Series) -> pd.DataFrame:
    return split_company_name_endings_series(names)


def split_company_name_endings_col(c: Column | str) -> Column:
    return split_company_name_endings_udf(F.col(c) if isinstance(c, str) else c)


# ---------------------------------------------------------------------------
# asciifolding (frozen spec: NFKD + drop combining marks)
# ---------------------------------------------------------------------------


def asciifold_py(s: str) -> str:
    return "".join(
        ch for ch in unicodedata.normalize("NFKD", s) if not unicodedata.combining(ch)
    )


# ---------------------------------------------------------------------------
# Tokenizers (frozen specs)
# ---------------------------------------------------------------------------

_STANDARD_TOKEN_RE = re.compile(r"\w+", re.UNICODE)
_SIMPLE_TOKEN_RE = re.compile(r"[^\W\d_]+", re.UNICODE)

# Java-regex twins used in Spark built-ins; (?U) = UNICODE_CHARACTER_CLASS so
# Java \w/\s match Python's Unicode-default semantics (golden-tested).
STANDARD_SPLIT_JRE = r"(?U)\W+"
SIMPLE_SPLIT_JRE = r"[^\p{L}]+"


def standard_tokenize_py(s: str) -> list[str]:
    """L10 frozen spec: \\w+ runs (documented UAX#29 divergence)."""
    return _STANDARD_TOKEN_RE.findall(s)


def simple_tokenize_py(s: str) -> list[str]:
    """L9: letter runs, lowercased."""
    return _SIMPLE_TOKEN_RE.findall(s.lower())


def standard_tokenize_col(c: Column) -> Column:
    """JVM-side L10: split on non-word runs, drop empties. Equivalent to
    re.findall(r'\\w+') for any input (golden-tested)."""
    return F.filter(F.split(c, STANDARD_SPLIT_JRE), lambda t: t != F.lit(""))


def simple_tokenize_col(c: Column) -> Column:
    return F.filter(F.split(F.lower(c), SIMPLE_SPLIT_JRE), lambda t: t != F.lit(""))


# ---------------------------------------------------------------------------
# Analyzers L1-L8 (per-field index keys)
# ---------------------------------------------------------------------------

_WS_RE = re.compile(r"\s+")
# The ES filter pattern [\s+|\p{Punct}] is a char class: whitespace, '+',
# '|', or ASCII punctuation ('+' and '|' are already punct — replicate the
# class verbatim anyway). Frozen spec: Unicode whitespace + ASCII punctuation,
# written as explicit ASCII ranges on both sides so Java and Python agree.
_WS_PUNCT_RE = re.compile(r"[\s+|!-/:-@\[-`{-~]")
PUNCT_JRE = r"(?U)[\s+|!-/:-@\[-`{-~]"


def analyzer_startswith_py(s: str) -> str:
    """L1: keyword -> lowercase -> whitespace-remove."""
    return _WS_RE.sub("", s.lower())


def analyzer_startswith_col(c: Column) -> Column:
    return F.regexp_replace(F.lower(c), r"(?U)\s+", "")


def startswith_no_ws_punc_py(s: str) -> str:
    """L2: keyword -> lowercase -> whitespace+punct remove."""
    return _WS_PUNCT_RE.sub("", s.lower())


def startswith_no_ws_punc_col(c: Column) -> Column:
    return F.regexp_replace(F.lower(c), PUNCT_JRE, "")


def analyzer_unique_tf_py(s: str) -> list[str]:
    """L3: standard -> lowercase -> ws-remove -> unique (first-seen order)."""
    out, seen = [], set()
    for t in standard_tokenize_py(s):
        t = _WS_RE.sub("", t.lower())
        if t not in seen:
            seen.add(t)
            out.append(t)
    return out


def analyzer_unique_tf_col(c: Column) -> Column:
    return F.array_distinct(standard_tokenize_col(F.lower(c)))


def analyzer_limit_first_py(s: str) -> str | None:
    """L4: standard -> lowercase -> limit(1)."""
    toks = standard_tokenize_py(s.lower())
    return toks[0] if toks else None


def analyzer_limit_first_col(c: Column) -> Column:
    # try_element_at: NULL on empty token array (ANSI mode throws otherwise)
    return F.try_element_at(standard_tokenize_col(F.lower(c)), F.lit(1))


def analyzer_elastic_py(s: str) -> list[str]:
    """L5: standard tokenizer only — case preserved."""
    return standard_tokenize_py(s)


def analyzer_elastic_col(c: Column) -> Column:
    return standard_tokenize_col(c)


def analyzer_whitespace_token_py(s: str) -> list[str]:
    """L6: whitespace tokenize -> lowercase -> asciifold(preserve_original):
    folded token first, then the original when they differ (frozen order)."""
    out = []
    for t in s.split():
        t = t.lower()
        folded = asciifold_py(t)
        out.append(folded)
        if folded != t:
            out.append(t)
    return out


@F.pandas_udf(T.ArrayType(T.StringType()))
def _whitespace_token_udf(s: pd.Series) -> pd.Series:
    return s.map(lambda x: analyzer_whitespace_token_py(x) if x is not None else None)


def analyzer_whitespace_token_col(c: Column) -> Column:
    return _whitespace_token_udf(c)


def analyzer_keyword_token_sort_py(s: str) -> str:
    """L7: char_filters run BEFORE the keyword tokenizer: '&'->'and', strip
    [^a-zA-Z0-9] (which removes whitespace and accents), then lowercase;
    the later fold/trim/ws-remove filters are no-ops by then (replicated
    order regardless — SURVEY.md 2.6)."""
    s = s.replace("&", "and")
    s = re.sub(r"[^a-zA-Z0-9]", "", s)
    s = s.lower()
    s = asciifold_py(s).strip()
    return _WS_RE.sub("", s)


def analyzer_keyword_token_sort_col(c: Column) -> Column:
    return F.lower(F.regexp_replace(F.regexp_replace(c, "&", "and"), "[^a-zA-Z0-9]", ""))


EDGE_NGRAM_MIN, EDGE_NGRAM_MAX = 2, 20  # search_scheme.json:78-79


def analyzer_edge_ngram_py(s: str) -> list[str]:
    """L8: edge_ngram tokenizer over the WHOLE string (token_chars=[] keeps
    all chars incl. spaces), grams 2..20, then lowercase + fold w/
    preserve_original per gram."""
    out = []
    for i in range(EDGE_NGRAM_MIN, min(EDGE_NGRAM_MAX, len(s)) + 1):
        g = s[:i].lower()
        folded = asciifold_py(g)
        out.append(folded)
        if folded != g:
            out.append(g)
    return out


@F.pandas_udf(T.ArrayType(T.StringType()))
def _edge_ngram_udf(s: pd.Series) -> pd.Series:
    return s.map(lambda x: analyzer_edge_ngram_py(x) if x is not None else None)


def analyzer_edge_ngram_col(c: Column) -> Column:
    return _edge_ngram_udf(c)


def edge_ngram_ascii_col(c: Column) -> Column:
    """Pure column-op L8 for ASCII inputs (no fold needed): prefix grams via
    sequence+transform — JVM-side, used in oracle-checked queries."""
    lc = F.lower(c)
    return F.when(
        F.length(lc) >= EDGE_NGRAM_MIN,
        F.transform(
            F.sequence(F.lit(EDGE_NGRAM_MIN), F.least(F.lit(EDGE_NGRAM_MAX), F.length(lc))),
            lambda i: lc.substr(F.lit(1), i),
        ),
    ).otherwise(F.array().cast(T.ArrayType(T.StringType())))


# ---------------------------------------------------------------------------
# Alphakey (deterministic replacement for the external service, SURVEY 7.3)
# ---------------------------------------------------------------------------

_NON_ALNUM_RE = re.compile(r"[^A-Za-z0-9]")


def alphakey_py(name: str) -> tuple[str, str]:
    """Frozen spec: base = T1 name_start; fold; same_as = upper(strip
    non-alnum); ordered = tokens stripped+uppered, sorted, concatenated."""
    base, _ = split_company_name_endings_py(name)
    folded = asciifold_py(base)
    same_as = _NON_ALNUM_RE.sub("", folded).upper()
    toks = sorted(t for t in (_NON_ALNUM_RE.sub("", w).upper() for w in folded.split()) if t)
    return same_as, "".join(toks)


_ALPHA_SCHEMA = T.StructType(
    [
        T.StructField("same_as_alpha_key", T.StringType()),
        T.StructField("ordered_alpha_key", T.StringType()),
    ]
)


@F.pandas_udf(_ALPHA_SCHEMA)
def alphakey_udf(names: pd.Series) -> pd.DataFrame:
    pairs = names.map(lambda n: alphakey_py(n) if n is not None else (None, None))
    return pd.DataFrame(
        {
            "same_as_alpha_key": pairs.map(lambda p: p[0]),
            "ordered_alpha_key": pairs.map(lambda p: p[1]),
        }
    )


def alphakey_col(c: Column | str) -> Column:
    return alphakey_udf(F.col(c) if isinstance(c, str) else c)


# ---------------------------------------------------------------------------
# L11: ES `stop` analyzer (letter tokenizer + English stopword removal)
# ---------------------------------------------------------------------------

# Lucene's EnglishAnalyzer.ENGLISH_STOP_WORDS_SET — the 33-word public
# constant every ES `stop`/`english` analyzer ships with (frozen verbatim;
# org.apache.lucene.analysis.en.EnglishAnalyzer)
ENGLISH_STOPWORDS = (
    "a", "an", "and", "are", "as", "at", "be", "but", "by", "for", "if",
    "in", "into", "is", "it", "no", "not", "of", "on", "or", "such",
    "that", "the", "their", "then", "there", "these", "they", "this",
    "to", "was", "will", "with",
)
_STOPSET = frozenset(ENGLISH_STOPWORDS)


def analyzer_stop_py(s: str) -> list[str]:
    """ES `stop` analyzer: the simple (letter-runs, lowercased) tokenizer
    followed by the English stop filter — positions are NOT preserved
    (the plain token stream, matching what a stop-analyzed keyword field
    indexes)."""
    return [t for t in simple_tokenize_py(s) if t not in _STOPSET]


def analyzer_stop_col(c: Column) -> Column:
    """JVM twin of analyzer_stop_py (golden-tested equivalent)."""
    stops = F.array(*[F.lit(w) for w in ENGLISH_STOPWORDS])
    return F.filter(
        simple_tokenize_col(c), lambda t: ~F.array_contains(stops, t)
    )

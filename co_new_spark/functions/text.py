"""Text/HTML operators: deterministic extraction, geoparsing, analysis.

* ``extract_text`` — the engine's A28 kernel (SURVEY.md §2.A28): a pinned,
  deterministic html->text spec so extracted text is byte-identical per url
  (the input_hint invariant).  Spec: drop <script>/<style> subtrees, strip all
  tags (replaced with ''), decode the entity set {&lt; &gt; &quot; &#39;
  &nbsp; &amp;} (amp last), collapse all whitespace runs to single spaces,
  strip.  Vectorized pandas str ops inside one Arrow-batched UDF.
* geoparse — A27: native regexp Columns (no UDF), geo: URI first
  (format per /root/reference/src/assert/gridLib.sql:6-11), plain decimal
  pair as fallback.
* analysis — token counting, quality scoring, language-ID heuristic: all
  native Column expressions (JVM-side, codegen).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

# --- A28: deterministic HTML -> text ----------------------------------------

_ENTITIES = [("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&#39;", "'"),
             ("&nbsp;", " "), ("&amp;", "&")]  # &amp; decoded last


@F.pandas_udf(StringType())
def extract_text(html: pd.Series) -> pd.Series:
    """html binary/string -> extracted text (pinned deterministic spec)."""
    s = html.map(lambda b: b.decode("utf-8", "replace") if isinstance(b, (bytes, bytearray)) else (b or ""))
    s = s.str.replace(r"(?is)<(script|style)\b.*?</\1\s*>", " ", regex=True)
    s = s.str.replace(r"(?s)<[^>]*>", "", regex=True)
    for ent, ch in _ENTITIES:
        s = s.str.replace(ent, ch, regex=False)
    s = s.str.replace(r"\s+", " ", regex=True).str.strip()
    return s


# --- A27: geoparse (native Columns) ------------------------------------------
#
# SINGLE SOURCE for the geoparse grammar.  The separator is the explicit
# class [ \t] (not \s): Java regex (Spark native), RE2 (pyarrow fused path)
# and Python re disagree on \s (vertical tab, NBSP, unicode spaces), so \s
# would silently desynchronize the three engines that share these patterns.

_LAT_NUM = r"-?[0-9]{1,2}(?:\.[0-9]+)?"
_LON_NUM = r"-?[0-9]{1,3}(?:\.[0-9]+)?"
_LAT_DEC = r"-?[0-9]{1,2}\.[0-9]{3,}"
_LON_DEC = r"-?[0-9]{1,3}\.[0-9]{3,}"
_SEP = r"[ \t]"

GEO_URI_RE = f"geo:({_LAT_NUM}),({_LON_NUM})"
PLAIN_PAIR_RE = f"({_LAT_DEC}),{_SEP}({_LON_DEC})"
GEO_URI_RE_NAMED = f"geo:(?P<lat>{_LAT_NUM}),(?P<lon>{_LON_NUM})"
PLAIN_PAIR_RE_NAMED = f"(?P<lat>{_LAT_DEC}),{_SEP}(?P<lon>{_LON_DEC})"


def _grp(text: Column, pattern: str, g: int) -> Column:
    s = F.regexp_extract(text, pattern, g)
    return F.when(s != "", s.cast("double"))


def parse_lat(text: Column) -> Column:
    """First coordinate in the text: geo: URI wins, else plain decimal pair."""
    return F.coalesce(_grp(text, GEO_URI_RE, 1), _grp(text, PLAIN_PAIR_RE, 1))


def parse_lon(text: Column) -> Column:
    return F.coalesce(_grp(text, GEO_URI_RE, 2), _grp(text, PLAIN_PAIR_RE, 2))


def parse_all_geo_uris(text: Column) -> Column:
    """All geo: URIs in a document -> array<struct<lat,lon>> (native)."""
    lats = F.regexp_extract_all(text, F.lit(GEO_URI_RE), F.lit(1))
    lons = F.regexp_extract_all(text, F.lit(GEO_URI_RE), F.lit(2))
    return F.zip_with(lats, lons,
                      lambda a, b: F.struct(a.cast("double").alias("lat"),
                                            b.cast("double").alias("lon")))


# --- text analysis (all native, JVM-side) ------------------------------------

def token_count(text: Column) -> Column:
    """Whitespace token count (0 for empty)."""
    t = F.trim(text)
    return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, r"\s+")))


def word_tokens(text: Column) -> Column:
    """Lowercased word tokens (BPE-ish: split on non-letter/digit runs)."""
    return F.filter(
        F.split(F.lower(text), r"[^\p{L}\p{N}]+"), lambda x: x != ""
    )


_STOPWORDS = {
    "es": ["el", "la", "de", "en", "los", "las", "del", "con", "para", "por",
           "un", "una", "que", "se", "es", "al", "y"],
    "en": ["the", "of", "and", "to", "in", "is", "was", "for", "on", "with",
           "as", "at", "by", "an", "be"],
    "pt": ["o", "a", "de", "em", "os", "as", "do", "da", "dos", "das", "com",
           "para", "por", "um", "uma", "que", "e", "é", "não"],
}


def stopword_ratio(text: Column, lang: str) -> Column:
    """Fraction of word tokens that are stopwords of ``lang``."""
    toks = word_tokens(text)
    sw = F.array(*[F.lit(w) for w in _STOPWORDS[lang]])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return F.when(F.size(toks) > 0, hits / F.size(toks)).otherwise(F.lit(0.0))


def lang_guess(text: Column) -> Column:
    """Language-ID heuristic: argmax stopword ratio over {es, en, pt}."""
    rs = {lg: stopword_ratio(text, lg) for lg in _STOPWORDS}
    best = F.greatest(*rs.values())
    out = F.lit("und")
    # deterministic tie-break order: es > pt > en (es/pt share many stopwords)
    for lg in ("en", "pt", "es"):
        out = F.when((best > 0) & (rs[lg] == best), F.lit(lg)).otherwise(out)
    return out


def quality_score(text: Column) -> Column:
    """Heuristic quality in [0,1]: length, punctuation balance, alpha ratio.

    Deterministic and cheap (all codegen); the kind of scoring a training-data
    pipeline runs before filtering.
    """
    n = F.length(text).cast("double")
    n_alpha = F.length(F.regexp_replace(text, r"[^\p{L}]", "")).cast("double")
    n_punct = F.length(F.regexp_replace(text, r"[^.,;:!?]", "")).cast("double")
    len_score = F.least(n / F.lit(500.0), F.lit(1.0))
    alpha_ratio = F.when(n > 0, n_alpha / n).otherwise(F.lit(0.0))
    punct_ok = F.when(n > 0, 1.0 - F.least(n_punct / F.greatest(n / 20.0, F.lit(1.0)), F.lit(1.0)))\
        .otherwise(F.lit(0.0))
    return F.round((len_score * 0.4 + alpha_ratio * 0.4 + punct_ok * 0.2), 6)


FP_MOD = 1_000_000_007
FP_BASE = 131


def multi_probe_scan_udf(probes: list[str]):
    """Multi-pattern contamination scan that scales past a handful of probes:
    text -> array<int> per-probe hit flags, one Arrow crossing.

    Two-phase inside the batch: (1) ONE RE2 alternation pass
    (pyarrow match_substring_regex — RE2 compiles the alternation to a DFA,
    the same linear-scan property an Aho–Corasick automaton gives), then
    (2) per-probe exact checks only over the rows the prefilter hit
    (contaminated rows are rare by assumption, so phase 2 touches few rows).
    The 4-probe train_contamination entry uses native JVM ``contains``; this
    is the 10k-probe production path, parity-gated against it in pytest.
    """
    import re

    import numpy as np
    from pyspark.sql.types import ArrayType, IntegerType

    pat = "|".join(re.escape(p) for p in probes)

    @F.pandas_udf(ArrayType(IntegerType()))
    def scan(text: pd.Series) -> pd.Series:
        import pyarrow as pa
        import pyarrow.compute as pc

        s = text.fillna("")
        any_hit = pc.match_substring_regex(
            pa.Array.from_pandas(s), pat).to_numpy(zero_copy_only=False)
        flags = np.zeros((len(s), len(probes)), dtype=np.int32)
        idx = np.nonzero(any_hit)[0]
        if len(idx):
            sub = s.iloc[idx]
            for j, p in enumerate(probes):
                flags[idx, j] = sub.str.contains(p, regex=False) \
                                   .to_numpy(dtype=np.int32)
        return pd.Series(list(flags))

    return scan


def rolling_fingerprint(text: Column) -> Column:
    """Polynomial rolling hash of normalized text (document fingerprinting).

    fold over codepoints: acc = (acc * 131 + cp) % 1e9+7 — fully native
    (higher-order functions, JVM-side) and restatable in ANSI SQL, unlike
    xxhash64.  Empty text -> 0.
    """
    norm = F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")
    codes = F.transform(F.split(norm, ""), lambda c: F.ascii(c).cast("long"))
    acc = F.aggregate(
        codes, F.lit(0).cast("long"),
        lambda a, c: (a * F.lit(FP_BASE) + c) % F.lit(FP_MOD),
    )
    return F.when(F.length(norm) > 0, acc).otherwise(F.lit(0).cast("long"))

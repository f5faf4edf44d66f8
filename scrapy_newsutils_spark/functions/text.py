"""Text scalar functions + text-analysis operators (Column-expression first).

Reference scalars: ``add_fullstop`` (/root/reference/src/newsutils/helpers.py:83-88),
``wordcount`` (helpers.py:80).
Training-pipeline additions (per the build brief): language-ID (stopword
n-gram heuristic), quality scoring, token counting (whitespace + BPE-ish
regex), and document fingerprinting.

Everything is a JVM-side Column expression (codegen, oracle-able in ANSI
SQL).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# reference scalars

def add_fullstop(text: Column) -> Column:
    """Append '.' unless the text already ends in sentence punctuation
    (reference: helpers.py:83-88)."""
    return F.when(text.rlike(r"[.!?…]\s*$"), text).otherwise(
        F.concat(text, F.lit("."))
    )


def wordcount(text: Column) -> Column:
    """len(text.split(' ')) — reference helpers.py:80 (space-split, so empty
    string counts as 1; we keep those semantics)."""
    return F.size(F.split(text, " "))


def camel_to_snake(name: str) -> str:
    """C3 (config-time scalar — reference helpers.py:91-96)."""
    import re

    s = re.sub(r"(.)([A-Z][a-z]+)", r"\1_\2", name)
    return re.sub(r"([a-z0-9])([A-Z])", r"\1_\2", s).lower()


def to_camel(name: str) -> str:
    """C3 inverse (reference helpers.py:98-101): snake → lowerCamel."""
    head, *rest = name.split("_")
    return head + "".join(p.title() for p in rest)


# ---------------------------------------------------------------------------
# tokenization

def tokens_of(text: Column) -> Column:
    """Whitespace tokenization to a lowercase array (drops empties)."""
    return F.filter(F.split(F.lower(text), r"\s+"), lambda t: t != "")


# BPE-ish token regex: runs of letters, runs of digits, or single punctuation
BPE_TOKEN_RE = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


def token_count_ws(text: Column) -> Column:
    """Whitespace token count (0 for empty)."""
    return F.size(tokens_of(text))


def token_count_bpe(text: Column) -> Column:
    """BPE-ish subword-boundary token count via regexp_count — a cheap,
    deterministic proxy for tokenizer-cost estimation at corpus scale."""
    return F.regexp_count(F.lower(text), F.lit(BPE_TOKEN_RE))


# ---------------------------------------------------------------------------
# language ID (n-gram/stopword heuristic) — a broadcastable marker table.
# Marker words chosen to be disjoint across languages.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "with", "that", "for"],
    "fr": ["le", "la", "les", "des", "une", "est", "dans", "pour"],
    "es": ["el", "los", "las", "una", "por", "como", "para", "con"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit"],
    "zh": ["de5", "shi4", "zai4", "le5", "he2", "you3", "wo3", "ta1"],
}


def lang_scores(text: Column) -> dict[str, Column]:
    """Per-language marker-hit counts (array_intersect over distinct tokens)."""
    toks = F.array_distinct(tokens_of(text))
    return {
        lang: F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in words])))
        for lang, words in LANG_MARKERS.items()
    }


def lang_id(text: Column) -> Column:
    """argmax over marker-hit counts; 'und' when no marker hits.
    Ties break by language code order ascending (deterministic): sort the
    (−hits, lang) struct array ascending → best hits first, lang asc on ties."""
    scores = lang_scores(text)
    pairs = F.array(
        *[F.struct((-scores[lang]).alias("neg_hits"), F.lit(lang).alias("lang"))
          for lang in sorted(LANG_MARKERS)]
    )
    best = F.element_at(F.sort_array(pairs), 1)
    return F.when(best["neg_hits"] < 0, best["lang"]).otherwise(F.lit("und"))


# ---------------------------------------------------------------------------
# quality scoring (length / punctuation / stopword ratios)

STOPWORDS = sorted({w for ws in LANG_MARKERS.values() for w in ws})


def quality_features(text: Column) -> dict[str, Column]:
    n_chars = F.length(text)
    toks = tokens_of(text)
    n_tokens = F.size(toks)
    n_punct = F.regexp_count(text, F.lit(r"[^\w\s]"))
    n_stop = F.size(
        F.array_intersect(F.array_distinct(toks),
                          F.array(*[F.lit(w) for w in STOPWORDS]))
    )
    mean_tok_len = F.when(n_tokens > 0,
                          (n_chars - (n_tokens - 1)) / n_tokens).otherwise(F.lit(0.0))
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "punct_ratio": F.round(n_punct / F.greatest(n_chars, F.lit(1)), 6),
        "stop_hits": n_stop,
        "mean_token_len": F.round(mean_tok_len, 6),
    }


def quality_score(text: Column) -> Column:
    """0-100 doc-quality heuristic: rewards length (log-saturating),
    stopword presence; penalizes punctuation soup and absurd token lengths."""
    f = quality_features(text)
    length_term = F.least(F.log1p(f["n_tokens"]) * F.lit(10.0), F.lit(40.0))
    stop_term = F.least(f["stop_hits"].cast("double") * 5.0, F.lit(30.0))
    punct_pen = F.least(f["punct_ratio"] * 100.0, F.lit(30.0))
    toklen_pen = F.when(
        (f["mean_token_len"] < 2.0) | (f["mean_token_len"] > 12.0), F.lit(20.0)
    ).otherwise(F.lit(0.0))
    return F.round(
        F.greatest(length_term + stop_term + F.lit(30.0) - punct_pen - toklen_pen,
                   F.lit(0.0)),
        4,
    )


# ---------------------------------------------------------------------------
# document fingerprinting

def fingerprint(text: Column) -> Column:
    """Normalization-stable content fingerprint: lowercase, strip
    non-alphanumerics, collapse whitespace, md5. Robust to formatting-only
    edits; the exact-dedup key for the documents corpus."""
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(text), r"[^a-z0-9\s]", ""), r"\s+", " "
        )
    )
    return F.md5(norm)


"""Scalar text expressions (JVM-side, whole-stage-codegen friendly).

Everything here returns a Column built from pyspark.sql.functions only —
no Python UDFs — so these stay inside codegen spans in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Reference silver normalization (airflow/dags/etl.py:158-176):
#   strip chars outside [\w\d\s.,!?;:\-()] -> lowercase
#   -> collapse whitespace -> trim.
# Java regex and DuckDB RE2 both treat \w as ASCII by default
# (SURVEY.md §2.2 P5) so the expression is dialect-portable.
_STRIP_RE = r"[^\w\d\s\.,!?;:\-\(\)]"
# KNOWN LATENT EDGE: Java's \s matches \x0B (vertical tab), RE2's (the
# DuckDB oracle engine's) does not — a \x0B between words collapses
# differently in the two engines. Latent on every corpus this engine is
# gated against (ASCII space/newline text); the split-based operators
# (token_counts, sequence_pack, gopher) use an explicit char class
# instead. Unifying THIS collapse would touch the silver/fingerprint/
# incremental-dedup oracle family wholesale, so it stays documented
# rather than churned.
_WS_RE = r"\s+"

# Cross-engine-safe whitespace class for word SPLITTING: exactly
# Java's \s set, spelled explicitly so RE2 (the DuckDB oracle engine,
# whose \s lacks \x0B) tokenizes identically. Use this — not \s+ —
# at every split-tokenizer site, Spark AND oracle SQL (both regex
# dialects read the \t/\n/\x0B escapes the same way).
WS_CLASS = r"[ \t\n\x0B\f\r]+"


def ws_token_count(col: Column) -> Column:
    """The package's whitespace-token estimator: the number of pieces a
    ``WS_CLASS`` split leaves, empty edge pieces included — ``""``
    counts 1 and ``" a"`` counts 2. The oracle SQL replays this exact
    rule, so every token-budget operator must count through it."""
    return F.size(F.split(col, WS_CLASS, -1))

# The single-regex _STRIP_RE form is a scalability trap on the JVM:
# java.util.regex compiles a character class mixing named classes and
# literals into a chain of BmpCharPredicate.union lambdas, and with
# >=3 unioned predicates 32 concurrent executor threads collapse to
# single-thread throughput (every thread stuck in
# Pattern$BmpCharPredicate.lambda$union$2 — measured 5.4s for work
# that takes 0.1s with a single-range class; jstack-verified).
# Equivalent decomposition that scales linearly:
#   1. one RANGE-ONLY class handles control chars + non-ASCII
#      (allowed whitespace \t\n\x0B\f\r = \x09-\x0d survives);
#   2. translate() (a plain char map, no regex) blanks the 21
#      disallowed printable-ASCII chars;
#   3. the \s+ collapse is a single named class (scales fine).
# Allowed set recap: [a-zA-Z0-9_ \t\n\x0B\f\r.,!?;:\-()].
_NON_PRINTABLE_RE = "[^\x09-\x0d -~]"
_BAD_PRINTABLE = "\"#$%&'*+/<=>@[\\]^`{|}~"


def normalize_text(col: str | Column) -> Column:
    """The P5 normalization pipeline, value-identical to the reference
    regex (oracle-checked) but decomposed so every step parallelizes:
    range-class regex + translate + lower + \\s+ collapse + trim."""
    c = F.col(col) if isinstance(col, str) else col
    stripped = F.translate(
        F.regexp_replace(c, _NON_PRINTABLE_RE, " "),
        _BAD_PRINTABLE,
        " " * len(_BAD_PRINTABLE),
    )
    return F.trim(F.regexp_replace(F.lower(stripped), _WS_RE, " "))


# A small multilingual stopword inventory for the language-ID heuristic
# (public-knowledge closed-class words; the n-gram/stopword approach is
# the standard cheap langid baseline).
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "for", "on"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "von", "zu"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "des", "dans", "pour"],
    "es": ["el", "la", "los", "las", "y", "es", "un", "una", "de", "por"],
    "zh": ["de5", "shi4", "le5", "zai4", "you3", "wo3", "ta1", "zhe4", "bu4", "ren2"],
}

ENGLISH_STOPWORDS = STOPWORDS["en"] + [
    "that", "this", "with", "as", "are", "was", "at", "by", "an", "be",
]

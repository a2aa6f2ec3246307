"""RULESPEC — the frozen, documented quality rule-set (the "reference").

The archived Luzzu checkout ships no runnable code (SURVEY.md §0), so the
reference keep/drop labels are DEFINED here, once, as constants, and
implemented twice: the Spark pipeline (rules/heuristics.py et al.) and the
plain-pandas oracle (luzzu_spark/oracle_pandas.py). The golden test
requires the two to agree at F1 ≥ 0.99 (BASELINE.json:14) — by
construction they should agree exactly; any gap is an implementation bug.

Do not edit thresholds without updating BOTH implementations' tests.
Tokenization: tokens = whitespace-split of the text, whitespace being the
characters for which Python's ``str.isspace()`` holds — ``str.split()``
(rules/heuristics.WS_CLASS is that set as a Java-regex class).
"""

from __future__ import annotations

# --- C4/Gopher-style heuristic thresholds (SURVEY.md §2.3) ---------------
MIN_DOC_CHARS = 100          # drop if len(text) < 100
MIN_WORDS = 15               # drop if token count < 15
MAX_WORDS = 100_000          # drop if token count > 100000
MEAN_WORD_LEN_LO = 3.0       # drop if mean token length < 3
MEAN_WORD_LEN_HI = 10.0      # drop if mean token length > 10
MAX_WORD_LEN = 25            # drop if any token longer than 25 chars
SYMBOL_CHARS = "#@$%&"       # Gopher symbol set (kept regex-safe)
MAX_SYMBOL_WORD_RATIO = 0.10  # drop if symbol_count / tokens > 0.10
MIN_STOPWORD_FRAC = 0.02     # drop if stopword fraction < 0.02
NGRAM_N = 13                 # repetition window (BASELINE.json:6)
MAX_DUP_NGRAM_FRAC = 0.20    # drop if duplicated 13-gram fraction > 0.20

# --- model-rule thresholds ----------------------------------------------
MIN_LANGID_CONF = 0.0        # langid confidence gate (0 ⇒ score-only)
MAX_PERPLEXITY = 2000.0      # drop if char-ngram perplexity above this

# Rule evaluation order — frozen. drop_reasons arrays list fired rules in
# THIS order; the scrub chain ordering lives in rules/scrub.py.
RULE_ORDER = (
    "min_chars",
    "word_count",
    "mean_word_len",
    "max_word_len",
    "symbol_ratio",
    "stopword_frac",
    "dup_ngram_frac",
    "langid_conf",
    "perplexity",
)

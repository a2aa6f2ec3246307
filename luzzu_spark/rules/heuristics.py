"""C4/Gopher-style heuristic rules, declared as Spark SQL text.

Each rule is a :func:`~luzzu_spark.rules.registry.sql_rule`: one score
expression plus a fire predicate over ``{score}``, with the thresholds
read from rules/spec.py when the text is built. Luzzu's per-quad metric
fold (reference README.md:7) recast so Catalyst
whole-stage-codegens the whole batch: no Python in this path. The
registry compiles these strings into one ``selectExpr`` per layer, and
luzzu_spark/sqludf.py derives its SQL functions from the same strings.

Derived columns (attached once by :func:`with_token_columns`, defined
by :func:`token_cols_sql`):
  tokens:array<string>, n_tokens:int, n_chars:int

Tokens are the maximal runs of characters outside :data:`WS_CLASS`,
which holds exactly the characters Python's ``str.isspace()`` accepts —
the split the plugin bundle and the pandas oracle make with
``str.split()``.

ANSI-safe: every ratio uses try_divide (Spark 4 ANSI mode would raise on
/0 for empty docs).
"""

from __future__ import annotations

import unicodedata
from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from luzzu_spark.rules import spec
from luzzu_spark.rules.registry import (Rule, sql_lit, sql_rule,
                                        with_sql_columns)
from luzzu_spark.rules.stopwords import (RULE_PROFILES, STOPWORDS,
                                         rule_profile_langs)


def _isspace_class() -> str:
    """Java-regex character class of exactly the characters for which
    ``str.isspace()`` holds (all of them lie in the BMP). Java's
    ``\\p{IsWhite_Space}`` holds for categories Zs/Zl/Zp, \\t-\\r and
    NEL, all of which str.isspace() accepts; the characters it adds are
    listed after the property. Every regex pass over the text tests
    this class once per character: one property lookup costs about
    half as much as testing the 13 ranges of the set one by one."""
    space = {c for c in range(0x10000) if chr(c).isspace()}
    white = {c for c in range(0x10000)
             if unicodedata.category(chr(c)) in ("Zs", "Zl", "Zp")}
    white |= set(range(0x9, 0xE)) | {0x85}
    if not white <= space:
        raise RuntimeError("str.isspace() lacks Unicode White_Space "
                           f"characters {sorted(white - space)}")
    return ("[\\p{IsWhite_Space}"
            + "".join(f"\\x{{{c:x}}}" for c in sorted(space - white))
            + "]")


WS_CLASS = _isspace_class()


def tokens_sql(text: str = "text") -> str:
    # null-guard: a null doc behaves as the empty doc (SURVEY.md §2.2 —
    # Luzzu reports malformed inputs instead of crashing); without this,
    # null scores never fire any rule and a null doc would be KEPT.
    # array_remove drops the "" that split() yields on an empty doc or
    # before leading whitespace trim() keeps — the token list equals
    # Python's str.split().
    return (f"array_remove(split(trim(coalesce({text}, '')), "
            f"{sql_lit(WS_CLASS + '+')}), '')")


def tokens_expr(text: str = "text") -> Column:
    return F.expr(tokens_sql(text))


def token_cols_sql(text: str = "text") -> dict[str, str]:
    """The helper columns the rule SQL reads, in attach order
    (n_tokens reads tokens)."""
    return {"tokens": tokens_sql(text),
            "n_chars": f"length(coalesce({text}, ''))",
            "n_tokens": "size(tokens)"}


def with_token_columns(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach tokens/n_chars/n_tokens once; rules read these."""
    cols = token_cols_sql(text_col)
    df = with_sql_columns(df, {"tokens": cols["tokens"],
                               "n_chars": cols["n_chars"]})
    return with_sql_columns(df, {"n_tokens": cols["n_tokens"]})


def stopword_token_re(words: tuple[str, ...]) -> str:
    """Whole-token stopword matcher for ONE codegen'd regexp_count
    pass: (^|ws)(alt...)(?=ws|$) matches exactly the tokens equal to
    a listed word (tokens are whitespace-delimited; Java regex
    backtracks through the alternation, so prefix words like a/an
    both match)."""
    return (f"(?:^|{WS_CLASS})(?:" + "|".join(sorted(words))
            + f")(?={WS_CLASS}|$)")


def stopword_hits_sql(words: tuple[str, ...]) -> str:
    # whole-token stopword occurrences counted in ONE codegen'd regex
    # pass. The interpreted form — filter(tokens, t ->
    # array_contains(SW, t)) — cost O(tokens × |SW|) per row with boxing.
    return (f"regexp_count(coalesce(text, ''), "
            f"{sql_lit(stopword_token_re(words))})")


def stopword_frac_sql(words: tuple[str, ...]) -> str:
    return f"try_divide({stopword_hits_sql(words)}, n_tokens)"


def profile_key_sql(langs: tuple[str, ...]) -> str:
    """The stopword profile a document is scored against: its predicted
    language when ``langs`` registers it, else EN."""
    non_en = [lg for lg in langs if lg != "en"]
    if not non_en:
        return "'en'"
    return (f"CASE WHEN lang_pred IN ({', '.join(map(sql_lit, non_en))})"
            " THEN lang_pred ELSE 'en' END")


def profile_case_sql(langs: tuple[str, ...],
                     branch: Callable[[str], str]) -> str:
    """``branch(lg)`` for the document's profile language lg — a CASE
    over :func:`profile_key_sql` (only the selected branch is evaluated
    per row; Catalyst evaluates CASE lazily)."""
    out = branch("en")
    for lg in (lg for lg in langs if lg != "en"):
        out = (f"CASE WHEN {profile_key_sql(langs)} = {sql_lit(lg)} "
               f"THEN {branch(lg)} ELSE {out} END")
    return out


def per_lang_stopword_rule(langs: tuple[str, ...] | None = None) -> Rule:
    """The stopword_frac rule with per-LANGUAGE profiles
    (rules/stopwords.RULE_PROFILES): each document is scored against
    the stopword list of its PREDICTED language (the langid plugin's
    lang_pred — the column is attached by the UDF stage, which is why
    this is a LATE rule: its score expression compiles after the
    plugin scores exist) and fires against that language's threshold.
    Languages outside the registered profile set — and zh, which has
    no whitespace-token profile — fall back to the frozen EN profile,
    so a multilingual registry restricted to ("en",) is expression-
    identical to the default rule (byte-identity tested).

    Scale shape: identical to the EN rule × |langs| — one codegen'd
    regexp_count per profile inside a CASE, no joins, no Python."""
    langs = rule_profile_langs(langs)
    return sql_rule(
        "stopword_frac",
        profile_case_sql(langs, lambda lg: stopword_frac_sql(
            RULE_PROFILES[lg]["stopwords"])),
        "{score} < " + profile_case_sql(langs, lambda lg: sql_lit(
            RULE_PROFILES[lg]["min_stopword_frac"])),
        late=True,
        description="Gopher stop-word fraction, per-language profile "
                    f"({', '.join(langs)}; others → EN fallback)")


def heuristic_rules() -> list[Rule]:
    s = spec
    return [
        sql_rule("min_chars", "CAST(n_chars AS DOUBLE)",
                 f"{{score}} < {sql_lit(s.MIN_DOC_CHARS)}",
                 description="C4 minimum document length"),
        sql_rule("word_count", "CAST(n_tokens AS DOUBLE)",
                 f"{{score}} < {sql_lit(s.MIN_WORDS)} "
                 f"OR {{score}} > {sql_lit(s.MAX_WORDS)}",
                 description="Gopher word-count bounds"),
        # sum(len(token)) == count of non-whitespace chars (tokens ARE
        # the maximal non-whitespace runs) — one codegen'd regex pass
        # instead of an interpreted per-token aggregate fold
        sql_rule("mean_word_len",
                 "try_divide(CAST(length(regexp_replace("
                 f"coalesce(text, ''), {sql_lit(WS_CLASS + '+')}, '')) "
                 "AS DOUBLE), n_tokens)",
                 f"{{score}} < {sql_lit(s.MEAN_WORD_LEN_LO)} "
                 f"OR {{score}} > {sql_lit(s.MEAN_WORD_LEN_HI)}",
                 description="Gopher mean word length bounds"),
        sql_rule("max_word_len",
                 "CAST(coalesce(array_max(transform(tokens, "
                 "t -> length(t))), 0) AS DOUBLE)",
                 f"{{score}} > {sql_lit(s.MAX_WORD_LEN)}",
                 description="longest-token bound"),
        sql_rule("symbol_ratio",
                 "try_divide(regexp_count(text, "
                 f"{sql_lit('[' + s.SYMBOL_CHARS + ']')}), n_tokens)",
                 f"{{score}} > {sql_lit(s.MAX_SYMBOL_WORD_RATIO)}",
                 description="Gopher symbol-to-word ratio"),
        sql_rule("stopword_frac", stopword_frac_sql(STOPWORDS),
                 f"{{score}} < {sql_lit(s.MIN_STOPWORD_FRAC)}",
                 description="Gopher stop-word fraction"),
        # dup_ngram_frac is a PLUGIN rule (rules/repetition.py): the
        # 13-gram hash array as a Catalyst HOF ran interpreted and
        # dominated the whole pipeline; the vectorized Arrow form rides
        # the same Python-worker stage as langid/perplexity.
    ]


def quality_score_sql() -> str:
    """Composite quality score in [0, 1]: 0.25 per passing rule of
    min_chars, word_count, stopword_frac and mean_word_len (Luzzu's
    weighted ranking input, reference README.md:15), over the helper
    columns. A NULL (zero-token) ratio passes nothing. Multiples of
    0.25 are exact doubles, so sums of the score are order-independent
    across engines and partitionings."""
    rules = {r.name: r for r in heuristic_rules()}
    return " + ".join(
        f"0.25D * coalesce(CAST(NOT {rules[n].inline_fire_sql} AS DOUBLE), "
        "0.0D)"
        for n in ("min_chars", "word_count", "stopword_frac",
                  "mean_word_len"))

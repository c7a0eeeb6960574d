"""Text-analysis operators for training-data pipelines (documents table).

Each operator exists twice with byte-identical semantics:
* a Spark column expression (JVM-side, codegen, no Python), and
* an ANSI-SQL snippet generator for the DuckDB correctness oracle.

Operators: token counting (whitespace + BPE-ish regex), quality scoring
(length/punct/stopword ratios), language-ID (stopword-hit heuristic),
document fingerprinting (md5-based 60-bit stable hash; the rolling-hash
shingle fingerprints live in hashing.py).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# fixed tiny stopword list — part of the operator definition
EN_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it", "on", "for"]

_BPE_RE = "[a-zA-Z0-9]+|[^a-zA-Z0-9\\s]"


# ------------------------------------------------------------- normalize


def normalize_col(text: Column) -> Column:
    """lowercase, strip non [a-z0-9 ], collapse whitespace."""
    t = F.regexp_replace(F.lower(text), "[^a-z0-9 ]", "")
    return F.trim(F.regexp_replace(t, " +", " "))


def normalize_sql(text: str) -> str:
    return (
        f"trim(regexp_replace(regexp_replace(lower({text}), '[^a-z0-9 ]', '', 'g'),"
        f" ' +', ' ', 'g'))"
    )


# ----------------------------------------------------------------- hashes


def md5_long(col: Column) -> Column:
    """Stable 60-bit positive hash of a string (same value in DuckDB)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def md5_long_sql(expr: str) -> str:
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"


def fingerprint_col(text: Column) -> Column:
    """Document fingerprint = stable hash of the normalized text."""
    return md5_long(normalize_col(text))


def fingerprint_sql(text: str) -> str:
    return md5_long_sql(normalize_sql(text))


# ----------------------------------------------------------------- tokens


def ws_token_count(text: Column) -> Column:
    t = F.trim(text)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, "\\s+"))
    )


def ws_token_count_sql(text: str) -> str:
    return (
        f"CASE WHEN length(trim({text})) = 0 THEN 0 "
        f"ELSE length(regexp_split_to_array(trim({text}), '\\s+')) END"
    )


def bpe_token_count(text: Column) -> Column:
    """BPE-ish token count: alnum runs + individual punctuation marks."""
    return F.regexp_count(text, F.lit(_BPE_RE))


def bpe_token_count_sql(text: str) -> str:
    return f"length(regexp_extract_all({text}, '{_BPE_RE}'))"


# ---------------------------------------------------------------- quality


def padded_norm_col(text: Column) -> Column:
    """' ' + normalized text + ' ' — the shared input of stopword counting
    and (via trim) the fingerprint; project it once per plan."""
    return F.concat(F.lit(" "), normalize_col(text), F.lit(" "))


def stopword_hits_from_padded(padded: Column) -> Column:
    """Split-counting stopword hits over an ALREADY-projected padded
    normalized column: 10 literal-pattern splits, no regex re-derivation."""
    n = F.lit(0)
    for w in EN_STOPWORDS:
        n = n + F.size(F.split(padded, f" {w} ")) - F.lit(1)
    return n


def _stopword_hits_sql(text: str) -> str:
    padded = f"(' ' || {normalize_sql(text)} || ' ')"
    parts = [
        f"(length(regexp_split_to_array({padded}, ' {w} ')) - 1)" for w in EN_STOPWORDS
    ]
    return "(" + " + ".join(parts) + ")"


def quality_score_sql(text: str) -> str:
    n_tok = f"CAST({ws_token_count_sql(text)} AS DOUBLE)"
    n_chars = f"CAST(greatest(length({text}), 1) AS DOUBLE)"
    n_punct = f"CAST(length(regexp_extract_all({text}, '[^a-zA-Z0-9\\s]')) AS DOUBLE)"
    stop = f"CAST({_stopword_hits_sql(text)} AS DOUBLE)"
    return (
        f"round(0.4 * least(1.0, {n_tok} / 20.0)"
        f" + 0.3 * (1.0 - {n_punct} / {n_chars})"
        f" + 0.3 * least(1.0, 5.0 * {stop} / greatest({n_tok}, 1.0)), 6)"
    )


# ---------------------------------------------------------------- lang id


def lang_id_sql(text: str) -> str:
    hits = f"CAST({_stopword_hits_sql(text)} AS DOUBLE)"
    n_tok = f"CAST({ws_token_count_sql(text)} AS DOUBLE)"
    return (
        f"CASE WHEN ({hits} >= 2) OR ({hits} / greatest({n_tok}, 1.0) >= 0.05) "
        f"THEN 'en' ELSE 'other' END"
    )


# ------------------------------------------------------------ staged plan


def text_features(df, text_col: str = "text", id_cols: tuple[str, ...] = ("doc_id",)):
    """All five text-analysis columns in ONE staged plan.

    The column-at-a-time builders above re-derive the normalized text inside
    every consumer (~25 regex evaluations per row across the five outputs).
    Here the expensive shared subexpressions — the padded normalized text,
    the whitespace token count and the stopword hit count — are projected
    once each; Spark's CollapseProject keeps a lower projection alive when
    its output feeds more than one non-cheap consumer, so the optimized plan
    evaluates the two normalization regexes, one tokenizing split and the
    ten literal-pattern stopword splits exactly once per row (pinned by
    tests/test_plans.py). The quality score and language id exist only
    here; semantics are byte-identical to the SQL oracle twins
    (``quality_score_sql``, ``lang_id_sql``).
    """
    t = F.col(text_col)
    staged = (
        df.select(*id_cols, t.alias("_t"))
        .withColumn("_padded", padded_norm_col(F.col("_t")))
        .select(
            *id_cols,
            "_t",
            "_padded",
            ws_token_count(F.col("_t")).alias("_ntok"),
            stopword_hits_from_padded(F.col("_padded")).alias("_stop"),
        )
    )
    n_tok = F.col("_ntok").cast("double")
    n_chars = F.greatest(F.length("_t"), F.lit(1)).cast("double")
    n_punct = F.regexp_count(F.col("_t"), F.lit("[^a-zA-Z0-9\\s]")).cast("double")
    stop = F.col("_stop").cast("double")
    quality = F.round(
        F.lit(0.4) * F.least(F.lit(1.0), n_tok / F.lit(20.0))
        + F.lit(0.3) * (F.lit(1.0) - n_punct / n_chars)
        + F.lit(0.3)
        * F.least(F.lit(1.0), F.lit(5.0) * stop / F.greatest(n_tok, F.lit(1.0))),
        6,
    )
    lang = F.when(
        (stop >= 2) | (stop / F.greatest(n_tok, F.lit(1.0)) >= 0.05), F.lit("en")
    ).otherwise(F.lit("other"))
    return staged.select(
        *id_cols,
        F.col("_ntok").alias("ws_tokens"),
        bpe_token_count(F.col("_t")).alias("bpe_tokens"),
        quality.alias("quality"),
        lang.alias("lang_pred"),
        md5_long(F.trim(F.col("_padded"))).alias("fingerprint"),
    )


# American Soundex letter->class map (a-z): 0 = vowel/y (breaks runs,
# then dropped), 9 = h/w (transparent: dropped BEFORE run-collapse so
# same-class letters around them merge), 1-6 = consonant classes.
SOUNDEX_MAP = "01230129022455012623019202"


def soundex_expr(col: Column) -> Column:
    """American Soundex as pure column algebra — NOT Spark's built-in
    F.soundex, so the DuckDB twin can replay the identical transform
    chain (RE2 has no backreferences; runs collapse via six per-digit
    regexp_replace passes). Empty/non-alphabetic input yields ''.

    Order of operations (NARA standard): lowercase, strip non a-z,
    translate all letters to classes, drop transparent 9s, collapse
    same-digit runs, drop vowel 0s, drop the first letter's own class
    digit, pad to letter + 3 digits."""
    s = F.regexp_replace(F.lower(col), "[^a-z]", "")
    first = F.substring(s, 1, 1)
    digits = F.translate(s, "abcdefghijklmnopqrstuvwxyz", SOUNDEX_MAP)
    digits = F.regexp_replace(digits, "9", "")
    for d in "123456":
        digits = F.regexp_replace(digits, f"{d}{{2,}}", d)
    # drop the leading class digit contributed by the first letter
    # (vowel-initial words contribute a leading 0, dropped with the rest)
    first_class = F.translate(first, "abcdefghijklmnopqrstuvwxyz", SOUNDEX_MAP)
    digits = F.when(
        first_class.isin("0", "9") | (first_class == ""), digits
    ).otherwise(digits.substr(F.lit(2), F.length(digits)))
    digits = F.regexp_replace(digits, "0", "")
    return F.when(s == "", F.lit("")).otherwise(
        F.concat(F.upper(first), F.substring(F.concat(digits, F.lit("000")), 1, 3))
    )


def soundex_sql(expr: str) -> str:
    """DuckDB twin of soundex_expr — the same transform chain."""
    s = f"regexp_replace(lower({expr}), '[^a-z]', '', 'g')"
    digits = f"translate({s}, 'abcdefghijklmnopqrstuvwxyz', '{SOUNDEX_MAP}')"
    digits = f"regexp_replace({digits}, '9', '', 'g')"
    for d in "123456":
        digits = f"regexp_replace({digits}, '{d}{{2,}}', '{d}', 'g')"
    first = f"substr({s}, 1, 1)"
    first_class = (
        f"translate({first}, 'abcdefghijklmnopqrstuvwxyz', '{SOUNDEX_MAP}')"
    )
    digits = (
        f"CASE WHEN {first_class} IN ('0', '9', '') THEN {digits}"
        f" ELSE substr({digits}, 2) END"
    )
    digits = f"regexp_replace({digits}, '0', '', 'g')"
    return (
        f"CASE WHEN {s} = '' THEN ''"
        f" ELSE upper({first}) || substr({digits} || '000', 1, 3) END"
    )



"""Per-turn / per-document text transforms, all vectorized.

Reference parity (SURVEY §2.3): these are the batch-columnar re-expression of the
reference's per-record mapper logic — string truncation ``cutString``
(mapper/PatientMapper.java:439-448, limits Constants.java:14-18), regex cleanup
(mapper/helpers/FindOmopConcepts.java:175), validity filters
(PatientMapper.java:107-130, ObservationMapper.java:157-192) and conditional
assignment (PatientMapper.java:233-281).

Everything here is a Column-in/Column-out expression built from pyspark.sql.functions
(JVM-side, whole-stage-codegen'd). The training-data-pipeline extensions (language ID,
quality score, token count, fingerprint) follow the same rule.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# tiny stopword list for the quality heuristic (public, language-agnostic-ish)
_STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "this", "for", "on", "with", "as", "are", "was", "be",
]

# crude n-gram cues for a no-deps language-ID heuristic
_LANG_CUES: dict[str, list[str]] = {
    "de": [" der ", " die ", " und ", " ist ", " nicht ", " das ", " ein "],
    "fr": [" le ", " la ", " les ", " est ", " une ", " dans ", " pour "],
    "es": [" el ", " los ", " es ", " una ", " por ", " para ", " que "],
    "en": [" the ", " and ", " is ", " of ", " to ", " in ", " that "],
}


_CTRL_CHARS = "".join(
    chr(i) for i in list(range(0x00, 0x09)) + [0x0B, 0x0C] + list(range(0x0E, 0x20))
)


def normalize_text(col: Column | str, max_len: int | None = None) -> Column:
    """Canonical turn-text normalization: trim, collapse internal whitespace runs,
    strip control chars, optional truncation (the ``cutString`` analog).

    Hot-path note: control chars are removed with ``translate`` (a character map —
    no regex engine, no per-row String/Matcher churn); only the whitespace collapse
    needs one regex pass. Stack-sampling showed chained regexp_replace dominating
    executor CPU via StringBuilder allocation.
    """
    c = F.col(col) if isinstance(col, str) else col
    c = F.translate(c, _CTRL_CHARS, "")
    c = F.regexp_replace(c, r"\s+", " ")
    c = F.trim(c)
    if max_len is not None:
        c = F.substring(c, 1, max_len)
    return c


def tokenize_ws(col: Column | str) -> Column:
    """Lower-cased whitespace tokens of the normalized text, as an array —
    BY CONSTRUCTION equal to ``split(lower(normalize_text(col)), " ")`` (both
    produce the maximal non-whitespace runs after control-char removal), but
    with ONE regex pass instead of two: the r05 chain rebuilt the whole string
    (``regexp_replace('\\s+', ' ')`` + trim) only for ``split`` to re-scan it;
    splitting on ``\\s+`` directly skips the rebuild, and ``array_remove``
    drops the leading/trailing empty tokens a whitespace-edged string yields
    (r06, guide §1.2 per-task work; measured ~0.4 s/pass at sf1.0).

    Degenerate input: an empty or whitespace-only string yields an EMPTY
    array (the split chain yields ``[""]``). So such a doc has no shingle at
    any n — like every doc with fewer than n tokens — and appears in no pair
    of the shingle-based dedup operators (n-gram Jaccard, MinHash, SimHash)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.array_remove(F.split(F.lower(F.translate(c, _CTRL_CHARS, "")), r"\s+"), "")


def token_count(col: Column | str) -> Column:
    """Whitespace+punctuation token count (BPE-ish regex splitter).

    Counts maximal runs of word chars plus standalone punctuation marks — a cheap,
    deterministic proxy for tokenizer length used in data-pipeline budgeting.
    """
    c = F.col(col) if isinstance(col, str) else col
    toks = F.regexp_extract_all(c, F.lit(r"[\w]+|[^\w\s]"), 0)
    return F.when(c.isNull(), F.lit(0)).otherwise(F.size(toks)).cast("int")


def lang_id(col: Column | str) -> Column:
    """N-gram-cue language ID heuristic: count per-language cue hits in the lowered
    text, pick the argmax, default 'und' (undetermined) when nothing matches."""
    c = F.col(col) if isinstance(col, str) else col
    padded = F.concat(F.lit(" "), F.lower(c), F.lit(" "))
    import re

    scores = []
    for lang, cues in _LANG_CUES.items():
        score = None
        for cue in cues:
            # occurrence count of the cue via split-length
            hits = F.size(F.split(padded, re.escape(cue), -1)) - 1
            score = hits if score is None else score + hits
        scores.append((lang, score))
    best_score = F.greatest(*[s for _, s in scores])
    expr = F.lit("und")
    for lang, s in reversed(scores):
        expr = F.when((s == best_score) & (best_score > 0), F.lit(lang)).otherwise(expr)
    return expr


def quality_score(col: Column | str) -> Column:
    """Heuristic document quality in [0,1]: blends length band, alpha ratio,
    punctuation ratio, stopword presence. Pure columnar arithmetic."""
    c = F.col(col) if isinstance(col, str) else col
    n = F.length(c).cast("double")
    alpha = F.length(F.regexp_replace(c, r"[^A-Za-z]", "")).cast("double")
    punct = F.length(F.regexp_replace(c, r"[^\.,;:!\?]", "")).cast("double")
    words = F.split(F.lower(c), r"\s+")
    stop_hits = F.size(F.array_intersect(words, F.array(*[F.lit(s) for s in _STOPWORDS])))
    len_band = F.when(n < 20, n / 20.0).when(n > 8000, F.lit(0.5)).otherwise(F.lit(1.0))
    alpha_ratio = F.when(n > 0, alpha / n).otherwise(F.lit(0.0))
    punct_penalty = F.when(n > 0, F.least(punct / n * 5.0, F.lit(1.0))).otherwise(F.lit(0.0))
    stop_bonus = F.when(stop_hits > 0, F.lit(1.0)).otherwise(F.lit(0.6))
    score = len_band * (0.5 * alpha_ratio + 0.5) * (1.0 - 0.3 * punct_penalty) * stop_bonus
    return F.when(c.isNull(), F.lit(0.0)).otherwise(F.least(F.greatest(score, F.lit(0.0)), F.lit(1.0)))


def doc_fingerprint(col: Column | str) -> Column:
    """Deterministic 64-bit content fingerprint of the *normalized* text (rolling-hash
    analog): xxhash64 over whitespace-collapsed lowercase content. Used by exact dedup."""
    c = F.col(col) if isinstance(col, str) else col
    return F.xxhash64(F.lower(normalize_text(c)))


def redact_pii(col: Column | str) -> Column:
    """Training-data PII scrub: replace URLs, email addresses, and phone-number
    shapes with typed placeholders — the standard pre-training redaction pass.
    Pure chained regexp_replace (JVM-side, codegen'd; patterns stick to the
    regex subset Java and RE2 share, so the same chain is oracle-expressible).
    URL runs first: an address embedded in a URL must collapse into <URL>, not
    leave a mangled half-link behind."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(c, r"https?://[^\s]+", "<URL>")
    c = F.regexp_replace(
        c, r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+", "<EMAIL>"
    )
    # Phone shapes must carry phone STRUCTURE — a leading +, a (area) code, or
    # dash separators — not just "9+ digits with spaces": the old \+?[0-9][0-9\- ]{7,}
    # pattern also swallowed legitimate numerics like '10 000 000' and long IDs
    # (ADVICE r04 low). Space-only digit runs without +/( are number formatting.
    c = F.regexp_replace(
        c,
        r"(\+[0-9][0-9\- ]{5,14}[0-9])"
        r"|(\([0-9]{2,5}\)[\- ]?[0-9][0-9\- ]{3,12}[0-9])"
        r"|([0-9]{2,5}(-[0-9]{2,6}){1,4})",
        "<PHONE>",
    )
    return c


def normalize_turns(
    df: DataFrame,
    text_col: str = "text",
    role_col: str = "role",
    max_len: int | None = 32768,
) -> DataFrame:
    """The per-turn mapper pipeline applied to a change batch (vectorized end to end):

    - normalize ``text`` (trim/collapse/strip control chars, truncate),
    - default missing ``role`` to 'unknown' (conditional-assignment analog T10),
    - keep tombstones untouched (their payload is null by contract).

    Pure projection — no shuffle, fully codegen'd; safe to run before dedup.
    """
    is_del = F.col("op") == "D" if "op" in df.columns else F.lit(False)
    return df.withColumn(
        text_col,
        F.when(is_del, F.col(text_col)).otherwise(normalize_text(F.col(text_col), max_len)),
    ).withColumn(
        role_col,
        F.when(is_del, F.col(role_col)).otherwise(F.coalesce(F.col(role_col), F.lit("unknown"))),
    )


def normalize_final(df: DataFrame, max_len: int | None = 32768) -> DataFrame:
    """normalize_turns variant for MERGE winners: rows flagged ``_deleted`` (retained
    tombstones) pass through untouched; live rows get text normalization + role
    default. Payload-only — never touches key/order columns, so it is safe to run
    post-LWW-resolution (and cheaper: only winners pay the regex).

    When the winners frame carries ``_src`` (1 = from this batch, 0 = carried
    forward from the table), rows already IN the table skip the regex entirely —
    they were normalized when first merged, and normalization is idempotent, so
    re-running it is pure waste (at a 30% change rate that's ~70% of the regex
    work per epoch)."""
    skip = F.lit(False)
    if "_deleted" in df.columns:
        skip = skip | F.coalesce(F.col("_deleted"), F.lit(False))
    if "_src" in df.columns:
        skip = skip | (F.col("_src") == 0)
    is_del = skip
    df = df.withColumn(
        "text",
        F.when(is_del, F.col("text")).otherwise(normalize_text(F.col("text"), max_len)),
    )
    if "role" in df.columns:
        df = df.withColumn(
            "role",
            F.when(is_del, F.col("role")).otherwise(
                F.coalesce(F.col("role"), F.lit("unknown"))
            ),
        )
    return df


def validity_filter(df: DataFrame, key_cols: list[str]) -> tuple[DataFrame, Column]:
    """Validity gate (T2/T4 analog): a change event must carry its full key; I/U events
    must carry text. Returns (valid_rows, was_valid_condition) so callers can count
    skips for lineage (the reference's per-step skip counters,
    listeners/FhirToOmopJobListener.java:283-354)."""
    cond = F.lit(True)
    for k in key_cols:
        cond = cond & F.col(k).isNotNull()
    if "op" in df.columns:
        cond = cond & ((F.col("op") == "D") | F.col("text").isNotNull())
    # three-valued logic guard: with op NULL and text NULL the raw condition is
    # NULL, so the row would pass NEITHER filter(cond) NOR filter(~cond) and its
    # payload would vanish even with a dead-letter queue wired (ADVICE r02 low).
    # Coalescing to False makes valid/dead-letter an exact partition of the batch.
    cond = F.coalesce(cond, F.lit(False))
    return df.filter(cond), cond

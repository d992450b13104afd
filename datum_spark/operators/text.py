"""Text-analysis operators for document pipelines.

Everything here is pure ``pyspark.sql.functions`` column expressions —
map-side, whole-stage-codegen'd, embarrassingly parallel (no shuffle), which
is the correct posture for per-document scoring at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language stopword marker sets for the n-gram/stopword heuristic
# language guesser.  Deliberately small: the goal is a deterministic,
# shuffle-free heuristic, not a model.
_LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it"],
    "fr": ["le", "la", "les", "et", "de", "un", "une", "est"],
    "es": ["el", "la", "los", "las", "y", "de", "que", "es"],
    "de": ["der", "die", "das", "und", "ist", "ein", "nicht", "mit"],
    "zh": ["的", "是", "了", "在", "我", "有", "和", "人"],
}


def _words(col: Column) -> Column:
    return F.filter(F.split(F.lower(col), r"\s+"), lambda t: t != "")


def token_count(col: Column, mode: str = "whitespace") -> Column:
    """Token count: ``whitespace`` (split on runs of whitespace) or ``bpe``
    (a BPE-ish segmentation: word pieces, numbers, punctuation runs)."""
    if mode == "whitespace":
        return F.size(_words(col))
    if mode == "bpe":
        # contiguous letter runs (≤4 chars per piece ≈ subword), digit runs,
        # and single punctuation marks each count as one token
        pieces = F.regexp_extract_all(
            F.lower(col), F.lit(r"([a-z]{1,4}|[0-9]+|[^a-z0-9\s])"), 1)
        return F.size(pieces)
    raise ValueError(f"unknown token mode: {mode!r}")


def with_token_count(df: DataFrame, text_col: str = "text",
                     out_col: str = "n_tokens",
                     mode: str = "whitespace") -> DataFrame:
    return df.withColumn(out_col, token_count(F.col(text_col), mode))


def quality_score(col: Column) -> Column:
    """Heuristic document quality in [0, 1] from length, punctuation ratio,
    stopword ratio and mean word length — the standard cheap pre-filters in
    training-data pipelines (all regexp/length exprs, no UDF)."""
    n_chars = F.length(col).cast("double")
    words = _words(col)
    n_words = F.size(words).cast("double")
    n_punct = (n_chars - F.length(F.regexp_replace(col, r"[^\w\s]", ""))
               ).cast("double")
    stop = F.size(F.filter(
        words, lambda w: w.isin(*_LANG_MARKERS["en"]))).cast("double")
    mean_wlen = F.when(n_words > 0,
                       F.length(F.regexp_replace(col, r"\s+", "")) / n_words
                       ).otherwise(F.lit(0.0))
    len_score = F.least(n_chars / F.lit(500.0), F.lit(1.0))
    punct_score = F.greatest(F.lit(1.0) - (n_punct / F.greatest(n_chars, F.lit(1.0))) * 5.0,
                             F.lit(0.0))
    stop_score = F.least(stop / F.greatest(n_words, F.lit(1.0)) * 5.0, F.lit(1.0))
    wlen_score = F.when((mean_wlen >= 3) & (mean_wlen <= 10), F.lit(1.0)) \
                  .otherwise(F.lit(0.3))
    return F.round(
        len_score * 0.3 + punct_score * 0.2 + stop_score * 0.2 + wlen_score * 0.3,
        4)


def with_quality_score(df: DataFrame, text_col: str = "text",
                       out_col: str = "quality") -> DataFrame:
    return df.withColumn(out_col, quality_score(F.col(text_col)))


# The published Gopher rule set's stop list (Rae et al. 2021 §A1.1)
# plus per-language function-word lists so the min-stopword rule can
# key on a language column (the langid output) instead of silently
# applying English words to every language.
_GOPHER_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "be", "to", "of", "and", "that", "have", "with"],
    "fr": _LANG_MARKERS["fr"],
    "es": _LANG_MARKERS["es"],
    "de": _LANG_MARKERS["de"],
    "zh": _LANG_MARKERS["zh"],
}

_BULLET_RE = r"^\s*[-*•‣▪]"
_ELLIPSIS_RE = r"(\.{3}|…)\s*$"


def gopher_rules(df: DataFrame, text_col: str = "text",
                 lang_col: str | None = None,
                 min_words: int = 50, max_words: int = 100_000,
                 min_stop_hits: int = 2) -> DataFrame:
    """The published Gopher/MassiveWeb quality rules (Rae et al. 2021
    §A1.1) as INDIVIDUALLY AUDITED columns — each measured signal and
    each rule verdict is its own column, so a curation run can report
    per-rule drop counts instead of one opaque composite score (the
    r11-VERDICT gap #2 in :func:`quality_score`).

    Measured columns (ratios rounded to 6 dp so any engine replays
    the comparisons): ``n_words`` (whitespace words),
    ``mean_word_len`` (non-space chars / words), ``symbol_ratio``
    (``#`` + ``...``/``…`` symbols per word), ``bullet_frac`` /
    ``ellipsis_frac`` (lines starting with a bullet / ending with an
    ellipsis), ``alpha_frac`` (words containing ≥1 ``[a-z]``),
    ``stop_hits`` (occurrences of the language's stop words).

    Rule verdicts, each as published: ``pass_word_count``
    (``min_words ≤ n ≤ max_words``; Gopher 50–100k),
    ``pass_mean_word_len`` (3–10), ``pass_symbol_ratio`` (≤ 0.1),
    ``pass_bullet`` (≤ 90% bullet lines), ``pass_ellipsis`` (≤ 30%
    ellipsis lines), ``pass_alpha`` (≥ 80% alphabetic words),
    ``pass_stop`` (≥ ``min_stop_hits``), and ``gopher_pass`` (AND of
    all seven).

    ``lang_col`` keys the stop list per language
    (``_GOPHER_STOPWORDS``; unknown languages fall back to the
    English list) — without it the published English list applies to
    every document, which is exactly the bias the column-per-rule
    audit is meant to expose.  The ``alpha_frac`` rule stays
    ``[a-z]``-based as published (Gopher targets English); non-Latin
    scripts fail it, observable in the per-rule column.

    Scale shape: every column is a map-side Catalyst expression
    (regexp/length/array ops, whole-stage codegen) — no shuffle, no
    UDF, linear in corpus bytes at 100 TB."""
    text = F.col(text_col)
    words = _words(text)
    lines = F.split(text, "\n")
    n_words = F.size(words).cast("long")
    n_lines = F.size(lines).cast("long")
    denom_w = F.greatest(n_words, F.lit(1)).cast("double")
    n_wchars = F.length(F.regexp_replace(text, r"\s+", "")).cast("double")
    n_hash = (F.length(text)
              - F.length(F.regexp_replace(text, "#", ""))).cast("double")
    n_ell = F.size(F.regexp_extract_all(
        text, F.lit(r"\.{3}|…"), 0)).cast("double")
    n_bullet = F.size(F.filter(
        lines, lambda ln: ln.rlike(_BULLET_RE))).cast("double")
    n_ell_lines = F.size(F.filter(
        lines, lambda ln: ln.rlike(_ELLIPSIS_RE))).cast("double")
    n_alpha = F.size(F.filter(
        words, lambda w: w.rlike("[a-z]"))).cast("double")
    def _stop_count(markers: list[str]) -> Column:
        # F.filter inspects the lambda's arity (a 2nd parameter would
        # receive the element INDEX), so the marker list must bind via
        # a real closure, not a default argument
        return F.size(F.filter(words, lambda w: w.isin(*markers)))

    if lang_col is not None:
        stop_hits = None
        for lg in sorted(_GOPHER_STOPWORDS):
            if lg == "en":
                continue
            cnt = _stop_count(_GOPHER_STOPWORDS[lg])
            cond = F.col(lang_col) == lg
            stop_hits = (F.when(cond, cnt) if stop_hits is None
                         else stop_hits.when(cond, cnt))
        stop_hits = stop_hits.otherwise(
            _stop_count(_GOPHER_STOPWORDS["en"]))
    else:
        stop_hits = _stop_count(_GOPHER_STOPWORDS["en"])
    stop_hits = stop_hits.cast("long")
    out = (df.withColumn("n_words", n_words)
             .withColumn("mean_word_len",
                         F.round(n_wchars / denom_w, 6))
             .withColumn("symbol_ratio",
                         F.round((n_hash + n_ell) / denom_w, 6))
             .withColumn("bullet_frac",
                         F.round(n_bullet
                                 / F.greatest(n_lines,
                                              F.lit(1)).cast("double"),
                                 6))
             .withColumn("ellipsis_frac",
                         F.round(n_ell_lines
                                 / F.greatest(n_lines,
                                              F.lit(1)).cast("double"),
                                 6))
             .withColumn("alpha_frac", F.round(n_alpha / denom_w, 6))
             .withColumn("stop_hits", stop_hits))
    out = (out.withColumn("pass_word_count",
                          (F.col("n_words") >= min_words)
                          & (F.col("n_words") <= max_words))
              .withColumn("pass_mean_word_len",
                          (F.col("mean_word_len") >= 3.0)
                          & (F.col("mean_word_len") <= 10.0))
              .withColumn("pass_symbol_ratio",
                          F.col("symbol_ratio") <= 0.1)
              .withColumn("pass_bullet", F.col("bullet_frac") <= 0.9)
              .withColumn("pass_ellipsis",
                          F.col("ellipsis_frac") <= 0.3)
              .withColumn("pass_alpha", F.col("alpha_frac") >= 0.8)
              .withColumn("pass_stop",
                          F.col("stop_hits") >= min_stop_hits))
    return out.withColumn(
        "gopher_pass",
        F.col("pass_word_count") & F.col("pass_mean_word_len")
        & F.col("pass_symbol_ratio") & F.col("pass_bullet")
        & F.col("pass_ellipsis") & F.col("pass_alpha")
        & F.col("pass_stop"))


# A deliberately tiny embedded marker subset standing in for the
# external "Dirty, Naughty, Obscene..." blocklist C4 references — the
# real deployment passes its licensed list via the parameter.
_C4_BADWORDS_STUB = ["badword1", "badword2"]

_TERMINAL_LINE_RE = r'[.!?"]\s*$'


def c4_rules(df: DataFrame, text_col: str = "text",
             bad_words: list[str] | None = None,
             min_sentences: int = 5) -> DataFrame:
    """The published C4 cleaning rules (Raffel et al. 2020 §2.2) as
    INDIVIDUALLY AUDITED per-document columns — the same
    column-per-rule posture as :func:`gopher_rules`, for the other
    canonical web-corpus rule set.

    Measured columns: ``n_lines``, ``n_sentences`` (terminal-
    punctuation occurrences — the deterministic sentence proxy),
    ``frac_terminal_lines`` (lines ending in ``. ! ?`` or a closing
    quote — C4 RETAINS only such lines), ``frac_short_lines`` (lines
    with < 3 words — C4 drops them), ``has_lorem_ipsum``,
    ``has_brace`` (any ``{`` — C4's code-page proxy),
    ``has_javascript_line`` (any line containing "javascript"),
    ``has_bad_word`` (against ``bad_words``; the published external
    blocklist is stubbed with a tiny embedded subset — pass the real
    list in deployment).

    Page-level verdicts as published: ``pass_sentences``
    (``n_sentences ≥ min_sentences``; C4 used 5), ``pass_lorem`` /
    ``pass_brace`` / ``pass_badwords`` (absence), and ``c4_pass``
    (their conjunction).  The line-ending and short-line rules are
    LINE-level retention in C4, not page gates — they ride along as
    audit fractions so a curation run can report how much of each
    page the line filter would keep.

    Scale shape: every column is a map-side Catalyst expression —
    no shuffle, no UDF, linear in corpus bytes."""
    bw = bad_words if bad_words is not None else _C4_BADWORDS_STUB
    text = F.col(text_col)
    low = F.lower(text)
    lines = F.split(text, "\n")
    n_lines = F.size(lines).cast("long")
    dl = F.greatest(n_lines, F.lit(1)).cast("double")
    n_sentences = F.size(F.regexp_extract_all(
        text, F.lit(r"[.!?]"), 0)).cast("long")
    n_terminal = F.size(F.filter(
        lines, lambda ln: ln.rlike(_TERMINAL_LINE_RE))).cast("double")
    n_short = F.size(F.filter(
        lines,
        lambda ln: F.size(F.filter(F.split(ln, r"\s+"),
                                   lambda w: w != "")) < 3)
        ).cast("double")
    has_js = F.exists(lines,
                      lambda ln: F.lower(ln).contains("javascript"))
    words = _words(text)
    has_bad = F.size(F.array_intersect(
        F.array_distinct(words),
        F.array(*[F.lit(w) for w in bw]))) > 0
    out = (df.withColumn("n_lines", n_lines)
             .withColumn("n_sentences", n_sentences)
             .withColumn("frac_terminal_lines",
                         F.round(n_terminal / dl, 6))
             .withColumn("frac_short_lines", F.round(n_short / dl, 6))
             .withColumn("has_lorem_ipsum", low.contains("lorem ipsum"))
             .withColumn("has_brace", text.contains("{"))
             .withColumn("has_javascript_line", has_js)
             .withColumn("has_bad_word", has_bad))
    out = (out.withColumn("pass_sentences",
                          F.col("n_sentences") >= min_sentences)
              .withColumn("pass_lorem", ~F.col("has_lorem_ipsum"))
              .withColumn("pass_brace", ~F.col("has_brace"))
              .withColumn("pass_badwords", ~F.col("has_bad_word")))
    return out.withColumn(
        "c4_pass",
        F.col("pass_sentences") & F.col("pass_lorem")
        & F.col("pass_brace") & F.col("pass_badwords"))


def c4_clean_lines(df: DataFrame, text_col: str = "text",
                   min_words_per_line: int = 3) -> DataFrame:
    """The C4 LINE-level retention rules (Raffel et al. 2020 §2.2) as
    an ACTION — the rewrite :func:`c4_rules` only reports as audit
    fractions: keep exactly the lines that (a) end in a terminal
    punctuation mark (``. ! ?`` or a closing quote — the paper's first
    rule), (b) carry at least ``min_words_per_line`` words (paper: 3),
    and (c) do not contain the word "javascript" (case-insensitive);
    drop every other line and join the survivors with ``\\n``.

    Returns ``df`` with ``text_col`` REWRITTEN plus audit columns
    ``n_lines``, ``n_lines_kept`` and ``removed_line_frac`` (rounded
    to 6 dp).  The three predicates are spelled identically to
    :func:`c4_rules`'s ``frac_terminal_lines`` / ``frac_short_lines``
    / ``has_javascript_line`` measures, so the audit columns and the
    action can never disagree.

    Scale shape: one map-side array expression per document — no
    shuffle, no UDF, linear in corpus bytes."""
    lines = F.split(F.col(text_col), "\n")

    def _keep(ln):
        n_w = F.size(F.filter(F.split(ln, r"\s+"),
                              lambda w: w != ""))
        return (ln.rlike(_TERMINAL_LINE_RE)
                & (n_w >= min_words_per_line)
                & ~F.lower(ln).contains("javascript"))

    kept = F.filter(lines, _keep)
    n_lines = F.size(lines).cast("long")
    n_kept = F.size(kept).cast("long")
    frac = F.round(
        F.when(n_lines > 0,
               (n_lines - n_kept) / n_lines.cast("double"))
         .otherwise(F.lit(0.0)), 6)
    return (df.withColumn("n_lines", n_lines)
              .withColumn("n_lines_kept", n_kept)
              .withColumn("removed_line_frac", frac)
              .withColumn(text_col, F.concat_ws("\n", kept)))


def readability_scores(df: DataFrame, text_col: str = "text"
                       ) -> DataFrame:
    """Flesch reading-ease and Flesch–Kincaid grade level (Flesch
    1948 / Kincaid 1975) as audited per-document columns — the
    LIBRARY companion of the x144 entry (which pins the corpus-level
    Flesch twin against DuckDB): this operator adds the FK grade and
    a per-word syllable floor (every word counts ≥ 1 syllable; x144's
    whole-text vowel-run proxy undercounts vowel-free tokens), for
    curriculum difficulty bucketing:

    - ``n_words`` (whitespace words), ``n_sentences`` (terminal-
      punctuation runs ``[.!?]+``, min 1 — the same deterministic
      proxy as :func:`c4_rules`), ``n_syllables`` (vowel-group runs
      ``[aeiouy]+`` per word, min 1 per word — the standard
      dictionary-free heuristic);
    - ``flesch_ease`` = 206.835 − 1.015·(W/S) − 84.6·(SY/W) and
      ``fk_grade`` = 0.39·(W/S) + 11.8·(SY/W) − 15.59, both rounded
      to 4 dp; zero-word docs score NULL (nothing to read).

    Scale shape: every column is one map-side regexp/array
    expression — no shuffle, no UDF, linear in corpus bytes."""
    text = F.col(text_col)
    words = _words(text)
    n_w = F.size(words).cast("long")
    n_s = F.greatest(
        F.size(F.regexp_extract_all(text, F.lit(r"[.!?]+"), 0)),
        F.lit(1)).cast("long")
    syl = F.aggregate(
        words, F.lit(0).cast("long"),
        lambda acc, w: acc + F.greatest(
            F.size(F.regexp_extract_all(w, F.lit("[aeiouy]+"), 0)),
            F.lit(1)).cast("long"))
    wps = n_w.cast("double") / n_s.cast("double")
    spw = F.col("n_syllables").cast("double") / F.col("n_words")
    out = (df.withColumn("n_words", n_w)
             .withColumn("n_sentences", n_s)
             .withColumn("n_syllables", syl))
    ease = F.when(F.col("n_words") > 0, F.round(
        F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw, 4))
    grade = F.when(F.col("n_words") > 0, F.round(
        F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59), 4))
    return (out.withColumn("flesch_ease", ease)
               .withColumn("fk_grade", grade))


def source_divergence(df: DataFrame, group_col: str = "source",
                      text_col: str = "text") -> DataFrame:
    """Pairwise Jensen–Shannon divergence between the WORD
    distributions of each pair of corpus groups (sources, languages,
    snapshots) — the mixture-design diagnostic: a near-zero JSD pair
    is redundant under source weighting, a high one carries distinct
    signal.  Returns ``(group_a, group_b, n_shared_words, jsd)`` for
    every unordered pair, JSD in nats (0 ≤ jsd ≤ ln 2), rounded 6 dp.

    Portable float discipline: per-shared-word JSD terms accumulate
    as integer PICO-nats (×10¹²) so the sum is independent of float
    order (the x218 micro-nat discipline), and each side's
    missing-mass term closes the formula from EXACT integer count
    ratios: ``jsd = Σ_shared t(w) + (ln2/2)·(1−Σc_a/T_a) +
    (ln2/2)·(1−Σc_b/T_b)``.

    Scale shape: one (group, word) count aggregation (map-side
    combined), one equi-join on the word between the two group slices
    of that count table (vocabulary-sized, never corpus-sized), one
    G²-row final aggregate."""
    import math

    words = (df.select(F.col(group_col).alias("g"),
                       F.explode(_words(F.col(text_col)))
                        .alias("word")))
    counts = words.groupBy("g", "word").agg(
        F.count(F.lit(1)).alias("c"))
    totals = counts.groupBy("g").agg(F.sum("c").alias("t"))
    a = (counts.join(totals, "g")
         .select(F.col("g").alias("group_a"), "word",
                 F.col("c").alias("ca"), F.col("t").alias("ta")))
    b = (counts.join(totals, "g")
         .select(F.col("g").alias("group_b"), "word",
                 F.col("c").alias("cb"), F.col("t").alias("tb")))
    j = (a.join(b, "word")
          .filter(F.col("group_a") < F.col("group_b")))
    p = F.col("ca") / F.col("ta").cast("double")
    q = F.col("cb") / F.col("tb").cast("double")
    term = (F.lit(0.5) * (p * F.log(F.lit(2.0) * p / (p + q))
                          + q * F.log(F.lit(2.0) * q / (p + q))))
    pico = F.round(term * F.lit(1e12), 0).cast("long")
    ln2h = 0.5 * math.log(2.0)
    agg = (j.groupBy("group_a", "group_b")
            .agg(F.count(F.lit(1)).alias("n_shared_words"),
                 F.sum(pico).alias("__t"),
                 F.sum("ca").alias("__sa"),
                 F.sum("cb").alias("__sb")))
    # every unordered pair appears, even word-DISJOINT ones (no shared
    # row survives the inner join, but their jsd is exactly ln 2 from
    # the missing-mass closure) — the pair frame is group-count-sized
    pairs = (F.broadcast(totals.select(F.col("g").alias("group_a"),
                                       F.col("t").alias("__ta")))
             .crossJoin(F.broadcast(
                 totals.select(F.col("g").alias("group_b"),
                               F.col("t").alias("__tb"))))
             .filter(F.col("group_a") < F.col("group_b")))
    full = pairs.join(agg, ["group_a", "group_b"], "left")
    jsd = F.round(
        F.coalesce(F.col("__t"), F.lit(0)) / F.lit(1e12)
        + F.lit(ln2h) * (F.lit(1.0)
                         - F.coalesce(F.col("__sa"), F.lit(0))
                         / F.col("__ta").cast("double"))
        + F.lit(ln2h) * (F.lit(1.0)
                         - F.coalesce(F.col("__sb"), F.lit(0))
                         / F.col("__tb").cast("double")), 6)
    return full.select(
        "group_a", "group_b",
        F.coalesce(F.col("n_shared_words"),
                   F.lit(0)).cast("long").alias("n_shared_words"),
        jsd.alias("jsd"))


def zipf_diagnostics(df: DataFrame, group_col: str = "source",
                     text_col: str = "text",
                     top_k: int = 500) -> DataFrame:
    """Per-group Zipf-law diagnostics — the corpus-health screen that
    flags synthetic/spammy/templated slices: natural language puts the
    log-rank/log-frequency fit of the top words near slope −1; boiler-
    plate floods flatten it, keyword stuffing steepens it.  Returns
    ``(group, n_words, n_distinct_words, hapax_frac, zipf_slope)``:

    - ``hapax_frac`` — fraction of distinct words occurring once
      (rounded 6 dp; exact integer counts);
    - ``zipf_slope`` — the least-squares slope of ``ln count`` on
      ``ln rank`` over the group's ``top_k`` most frequent words
      (rank ties broken by word ASC — deterministic), rounded 4 dp.

    Portable float discipline: per-word regression terms (x, y, xy,
    x²) accumulate as integer PICO units (×10¹², the x218/x222
    discipline) so the sums are independent of float order; the slope
    assembles from those exact integers in one closed-form
    expression.

    Scale shape: one (group, word) count aggregation; the rank window
    partitions by GROUP over its vocabulary (vocabulary-sized, never
    corpus rows) and only ``top_k`` rows per group reach the
    regression aggregate."""
    from pyspark.sql import Window

    words = (df.select(F.col(group_col).alias("g"),
                       F.explode(_words(F.col(text_col)))
                        .alias("word")))
    counts = words.groupBy("g", "word").agg(
        F.count(F.lit(1)).alias("c"))
    base = counts.groupBy("g").agg(
        F.sum("c").alias("n_words"),
        F.count(F.lit(1)).alias("n_distinct_words"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("__h"))
    w = Window.partitionBy("g").orderBy(F.col("c").desc(),
                                        F.col("word").asc())
    top = (counts.withColumn("rnk", F.row_number().over(w))
                 .filter(F.col("rnk") <= top_k))
    x = F.log(F.col("rnk").cast("double"))
    y = F.log(F.col("c").cast("double"))

    def pico(col):
        return F.round(col * F.lit(1e12), 0).cast("long")

    reg = (top.select("g", pico(x).alias("__x"), pico(y).alias("__y"),
                      pico(x * y).alias("__xy"),
                      pico(x * x).alias("__xx"))
              .groupBy("g")
              .agg(F.count(F.lit(1)).alias("__n"),
                   F.sum("__x").alias("__sx"), F.sum("__y").alias("__sy"),
                   F.sum("__xy").alias("__sxy"),
                   F.sum("__xx").alias("__sxx")))
    n = F.col("__n").cast("double")
    sx = F.col("__sx") / F.lit(1e12)
    sy = F.col("__sy") / F.lit(1e12)
    sxy = F.col("__sxy") / F.lit(1e12)
    sxx = F.col("__sxx") / F.lit(1e12)
    slope = F.round((n * sxy - sx * sy) / (n * sxx - sx * sx), 4)
    return (base.join(reg, "g")
            .select(F.col("g").alias(group_col), "n_words",
                    "n_distinct_words",
                    F.round(F.col("__h")
                            / F.col("n_distinct_words").cast("double"),
                            6).alias("hapax_frac"),
                    slope.alias("zipf_slope")))


def language_guess(col: Column) -> Column:
    """Stopword-marker language guess over the marker sets above: the
    language with the most distinct marker hits wins (ties → lexicographic
    language code; no hits → ``'und'``)."""
    words = F.array_distinct(_words(col))

    # array_intersect is a native (non-lambda) expression — unlike
    # F.filter's interpreted per-element lambda, it runs JVM-side at
    # codegen speed
    scores = [
        (lang, F.size(F.array_intersect(
            words, F.array(*[F.lit(m) for m in markers]))))
        for lang, markers in sorted(_LANG_MARKERS.items())
    ]
    best = F.greatest(*[s for _, s in scores])
    guess = F.lit("und")
    # reversed so earlier (lexicographically smaller) languages win ties
    for lang, score in reversed(scores):
        guess = F.when((score == best) & (best > 0), F.lit(lang)).otherwise(guess)
    return guess


def with_language_guess(df: DataFrame, text_col: str = "text",
                        out_col: str = "lang_guess") -> DataFrame:
    return df.withColumn(out_col, language_guess(F.col(text_col)))


def fingerprint(col: Column) -> Column:
    """Order-sensitive document fingerprint: rolling polynomial hash over
    normalized words, ``h = (h*31 + xxhash64(word) mod 2^31) mod (2^56-5)``.

    The modulus keeps every intermediate inside signed-64 range
    (max ≈ 2^56·31 + 2^31 < 2^63; Spark runs ANSI mode, where silent
    wraparound is an overflow error); the value is partitioning-independent
    and streaming-friendly (O(1) state per doc).
    """
    m = F.lit((1 << 56) - 5).cast("long")
    return F.aggregate(
        _words(col),
        F.lit(0).cast("long"),
        lambda acc, w: (acc * F.lit(31).cast("long")
                        + F.pmod(F.xxhash64(w), F.lit(1 << 31).cast("long"))) % m)


def fingerprint_md5(col: Column) -> Column:
    """Portable sibling of :func:`fingerprint`: the same rolling polynomial
    fold, but over the md5 word bucket (``int(md5(word)[:8], 16)`` — the
    :func:`~datum_spark.operators.sampling.md5_bucket` contract), so ANY
    md5-capable engine (DuckDB, Postgres, ...) can recompute the value:

        ``h = (h*31 + int(md5(word)[:8], 16)) mod (2^56-5)``

    Max intermediate ≈ 2^56·31 + 2^32 < 2^63, safe under ANSI mode.
    Use when fingerprints must be auditable outside Spark; xxhash64-based
    :func:`fingerprint` is cheaper per row.
    """
    m = F.lit((1 << 56) - 5).cast("long")
    return F.aggregate(
        _words(col),
        F.lit(0).cast("long"),
        lambda acc, w: (acc * F.lit(31).cast("long")
                        + F.conv(F.substring(F.md5(w), 1, 8), 16, 10)
                           .cast("long")) % m)


def with_fingerprint(df: DataFrame, text_col: str = "text",
                     out_col: str = "fingerprint",
                     portable: bool = False) -> DataFrame:
    fn = fingerprint_md5 if portable else fingerprint
    return df.withColumn(out_col, fn(F.col(text_col)))


# Patterns are deliberately RE2-compatible (no backrefs/lookaround) so the
# same text works in Spark (java.util.regex) and DuckDB (RE2) oracles.
PII_PATTERNS: list[tuple[str, str]] = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
]


def redact_pii(col: Column) -> Column:
    """Replace email / phone / IPv4 literals with typed placeholder tokens —
    the standard scrub pass before text enters a training corpus.  A chain
    of native ``regexp_replace`` exprs: map-side, no UDF, no shuffle."""
    out = col
    for pat, token in PII_PATTERNS:
        out = F.regexp_replace(out, pat, token)
    return out


def pii_count(col: Column) -> Column:
    """Number of PII matches in the text (sum over pattern families)."""
    counts = [F.size(F.regexp_extract_all(col, F.lit(pat), 0))
              for pat, _ in PII_PATTERNS]
    total = counts[0]
    for c in counts[1:]:
        total = total + c
    return total


def with_pii_redaction(df: DataFrame, text_col: str = "text",
                       out_col: str = "redacted",
                       count_col: str | None = "n_pii") -> DataFrame:
    out = df.withColumn(out_col, redact_pii(F.col(text_col)))
    if count_col:
        out = out.withColumn(count_col, pii_count(F.col(text_col)))
    return out


# Gopher repetition thresholds (Rae et al. 2021 §A1.2, Table A1):
# a document is removed when the measure EXCEEDS the threshold.
_GOPHER_REP_THRESHOLDS = {
    "dup_line_frac": 0.30, "dup_para_frac": 0.30,
    "dup_line_char_frac": 0.20, "dup_para_char_frac": 0.20,
    "top_2gram_char_frac": 0.20, "top_3gram_char_frac": 0.18,
    "top_4gram_char_frac": 0.16,
    "dup_5gram_char_frac": 0.15, "dup_6gram_char_frac": 0.14,
    "dup_7gram_char_frac": 0.13, "dup_8gram_char_frac": 0.12,
    "dup_9gram_char_frac": 0.11, "dup_10gram_char_frac": 0.10,
}


def gopher_repetition(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """The published Gopher REPETITION rules (Rae et al. 2021 §A1.2)
    as individually audited per-document columns — the within-document
    siblings of :func:`gopher_rules` (x211 covers §A1.1's page-shape
    rules; this covers the repetitious-content table).

    Measures, each with its published threshold as a ``pass_*``
    verdict (document removed when the measure EXCEEDS it):

    - ``dup_line_frac`` / ``dup_para_frac`` — fraction of lines /
      paragraphs (``\\n`` / ``\\n\\n`` splits) that are repeats of an
      earlier value: ``(n − n_distinct) / n``.
    - ``dup_line_char_frac`` / ``dup_para_char_frac`` — fraction of
      (line/paragraph) characters sitting in repeated occurrences
      beyond each value's first: ``Σ_dup (count−1)·len / Σ len``.
    - ``top_{2,3,4}gram_char_frac`` — the most frequent word n-gram's
      character coverage ``count·len(gram) / len(join(words))``;
      the top gram is deterministic (count DESC, len DESC, gram DESC
      — the same ORDER BY the x214 oracle replays).
    - ``dup_{5..10}gram_char_frac`` — character coverage of all
      n-grams occurring more than once, ``Σ count·len(gram) / total``,
      CAPPED at 1.0 — an overlap-agnostic upper bound of the paper's
      position-marked coverage (exact position marking is a
      sequential per-doc walk; the cap keeps the audit column a
      fraction).  Conservative: it can only over-remove, never
      under-remove, and the per-rule column makes the bound visible.

    ``repetition_pass`` is the conjunction of all 13 verdicts.

    Scale shape: the line/paragraph measures are map-side array
    expressions; the n-gram family is ONE explode producing all nine
    gram sizes in a single pass, one map-side-combined count keyed
    ``(doc, n, gram)``, and one per-(doc, n) aggregation pivoted back
    to columns — two bounded shuffles total, never O(L²)-per-doc
    lambdas (a 10⁵-line page would make the map-only spelling
    quadratic)."""
    text = F.col(text_col)

    def _dup_fracs(parts: Column, prefix: str) -> list[Column]:
        n = F.size(parts).cast("double")
        nd = F.size(F.array_distinct(parts)).cast("double")
        total_chars = F.aggregate(parts, F.lit(0.0),
                                  lambda acc, x: acc + F.length(x))
        # chars in occurrences beyond each value's first =
        # total − Σ_distinct len(value)
        dist_chars = F.aggregate(F.array_distinct(parts), F.lit(0.0),
                                 lambda acc, x: acc + F.length(x))
        return [
            F.round(F.when(n > 0, (n - nd) / n).otherwise(0.0), 6)
             .alias(f"dup_{prefix}_frac"),
            F.round(F.when(total_chars > 0,
                           (total_chars - dist_chars) / total_chars)
                     .otherwise(0.0), 6)
             .alias(f"dup_{prefix}_char_frac"),
        ]

    from ..util import retain_cache

    lines = F.split(text, "\n")
    paras = F.filter(F.split(text, "\n\n"), lambda p: p != "")
    # cached: consumed by the gram-count branch AND the final join —
    # one computation of the line/paragraph aggregates and the word
    # split instead of two (bounded operator ring)
    base = retain_cache(df.select(
        F.col(id_col),
        *_dup_fracs(lines, "line"),
        *_dup_fracs(paras, "para"),
        _words(text).alias("__ws"),
    ).withColumn("__total",
                 F.length(F.array_join("__ws", " ")).cast("double")))

    # ONE explode for all nine gram sizes: (doc, n, gram).  The gram
    # size binds via a real closure — F.transform inspects the
    # lambda's arity, so a default-argument binding would receive the
    # element INDEX instead (the x211 lesson).
    ns = list(range(2, 11))

    def _gram_structs(n: int) -> Column:
        return F.transform(
            F.when(F.size("__ws") >= n,
                   F.sequence(F.lit(0), F.size("__ws") - n)
                   ).otherwise(F.array().cast("array<int>")),
            lambda i: F.struct(
                F.lit(n).alias("n"),
                F.array_join(F.slice("__ws", i + 1, n), " ")
                 .alias("g")))

    grams = F.flatten(F.array(*[_gram_structs(n) for n in ns]))
    gcounts = (base.select(id_col, "__total",
                           F.explode(grams).alias("__g"))
               .groupBy(F.col(id_col), F.col("__g.n").alias("__n"),
                        F.col("__g.g").alias("__gram"))
               .agg(F.count(F.lit(1)).alias("__c"),
                    F.first("__total").alias("__total")))
    # per (doc, n): the deterministic top gram for n∈{2,3,4}; the
    # duplicated-gram char sum for n∈{5..10}.  Only count ≥ 2 grams
    # matter to either (a singleton top is not repetition, dup sums
    # are count ≥ 2 by definition), so the second exchange carries
    # only the REPEATED grams — near-zero on natural text — instead
    # of the whole mostly-unique gram table
    gcounts = gcounts.filter(F.col("__c") >= 2)
    top = (F.max(F.struct(F.col("__c"),
                          F.length("__gram").alias("__l"),
                          # gram ASC under max() = reversed string
                          # ordering is not expressible; break count
                          # ties by LONGEST gram then by gram value
                          # DESC — deterministic and replayed as the
                          # same ORDER BY in the oracle
                          F.col("__gram"))))
    per_n = (gcounts.groupBy(id_col, "__n")
             .agg(top.alias("__top"),
                  F.sum(F.when(F.col("__c") >= 2,
                               F.col("__c") * F.length("__gram"))
                         .otherwise(F.lit(0))).alias("__dupchars"),
                  F.first("__total").alias("__total")))
    # a singleton top gram is not repetition (count must be ≥ 2 —
    # the published implementations' `count > 1` guard); coverage is
    # capped at 1.0 like the dup family (overlapping occurrences of
    # a self-repeating gram can nominally cover > 100% of the chars)
    frac_top = F.round(
        F.when((F.col("__total") > 0) & (F.col("__top.__c") >= 2),
               F.least(F.col("__top.__c") * F.col("__top.__l")
                       / F.col("__total"), F.lit(1.0)))
         .otherwise(0.0), 6)
    frac_dup = F.round(
        F.least(F.when(F.col("__total") > 0,
                       F.col("__dupchars") / F.col("__total"))
                 .otherwise(0.0), F.lit(1.0)), 6)
    pivoted = (per_n.groupBy(id_col)
               .agg(*[F.max(F.when(F.col("__n") == n,
                                   frac_top if n <= 4 else frac_dup))
                      .alias(_ngram_col(n)) for n in ns]))
    out = (base.drop("__ws", "__total")
               .join(pivoted, id_col, "left"))
    for n in ns:
        out = out.withColumn(_ngram_col(n),
                             F.coalesce(F.col(_ngram_col(n)),
                                        F.lit(0.0)))
    for name, thr in _GOPHER_REP_THRESHOLDS.items():
        out = out.withColumn(f"pass_{name}", F.col(name) <= thr)
    return out.withColumn(
        "repetition_pass",
        reduce_and([F.col(f"pass_{k}")
                    for k in _GOPHER_REP_THRESHOLDS]))


def _ngram_col(n: int) -> str:
    return (f"top_{n}gram_char_frac" if n <= 4
            else f"dup_{n}gram_char_frac")


def reduce_and(cols: list[Column]) -> Column:
    out = cols[0]
    for c in cols[1:]:
        out = out & c
    return out


def repetition_ratio(col: Column) -> Column:
    """Duplicate-word fraction ``(n_words - n_distinct) / n_words`` — the
    cheap Gopher-style repetitiveness signal (boilerplate / spam / generated
    junk score high).  Unrounded so aggregates of it stay exact; round at
    the consumer."""
    words = _words(col)
    n = F.size(words).cast("double")
    d = F.size(F.array_distinct(words)).cast("double")
    return F.when(n > 0, (n - d) / n).otherwise(F.lit(0.0))


def with_repetition_ratio(df: DataFrame, text_col: str = "text",
                          out_col: str = "repetition") -> DataFrame:
    return df.withColumn(out_col, repetition_ratio(F.col(text_col)))


def doc_frequency(df: DataFrame, text_col: str = "text",
                  min_fraction: float = 0.05) -> DataFrame:
    """Document-frequency heavy hitters: words appearing in more than
    ``min_fraction`` of documents (exact, not sketched) — the standard
    stopword-discovery / vocabulary-pruning pass of corpus pipelines.

    Shape: map-side ``array_distinct`` per document (a word counts once
    per doc), explode, one hash aggregation, then a broadcast cross join
    of the single-row total — no driver-side ``count()`` action inside
    the plan, so the operator composes lazily.  At 100 TB the explode's
    partial aggregation collapses each partition's vocabulary before the
    shuffle, so the exchange carries ~|vocab| rows per partition, not
    |tokens|.
    """
    words = df.select(F.explode(F.array_distinct(_words(F.col(text_col))))
                      .alias("word"))
    total = df.agg(F.count(F.lit(1)).alias("__total"))
    return (words.groupBy("word")
                 .agg(F.count(F.lit(1)).alias("df_count"))
                 .crossJoin(F.broadcast(total))
                 .filter(F.col("df_count") > F.lit(min_fraction)
                         * F.col("__total"))
                 .drop("__total"))


def top_ngrams(df: DataFrame, text_col: str = "text", n: int = 2,
               k: int = 20) -> DataFrame:
    """Top-``k`` word ``n``-grams by total occurrence count (``n_occ``),
    ties broken by the n-gram string — n-gram frequency analysis for
    boilerplate detection and contamination screens.

    Map-side n-gram generation (``transform`` over an index sequence —
    whole-stage codegen, no UDF), explode, partial+final count, and a
    ``TakeOrdered`` top-k instead of a global sort of the vocabulary.
    """
    ws = _words(F.col(text_col))
    idx = F.sequence(F.lit(1), F.greatest(F.size(ws) - (n - 1), F.lit(0)))
    grams = F.when(
        F.size(ws) >= n,
        F.transform(idx, lambda i: F.concat_ws(
            " ", *[F.element_at(ws, i + j) for j in range(n)]))
    ).otherwise(F.array().cast("array<string>"))
    return (df.select(F.explode(grams).alias("ngram"))
              .groupBy("ngram")
              .agg(F.count(F.lit(1)).alias("n_occ"))
              .orderBy(F.col("n_occ").desc(), F.col("ngram").asc())
              .limit(k))


def robust_outliers(df: DataFrame, value_col: str,
                    k: float = 3.0) -> DataFrame:
    """Median/MAD outlier flagging — the robust quality filter for corpus
    stats (token counts, perplexity proxies) where means are dragged by
    the very outliers being hunted.

    Adds ``__med``, ``__mad`` (the population median and median absolute
    deviation of ``value_col``) and ``is_outlier``
    (|x - med| > k * MAD).  Exact percentiles: two aggregation passes
    whose outputs are single rows, broadcast back — the data itself is
    scanned twice but never shuffled (percentile is an aggregate, and
    the join is a broadcast of one row).  At 100 TB swap the exact
    ``percentile`` for ``percentile_approx`` (one pass, mergeable
    sketch) — same plan shape, bounded-error cutoffs.
    """
    v = F.col(value_col).cast("double")
    med = df.agg(F.expr(f"percentile({value_col}, 0.5)").alias("__med"))
    with_med = df.crossJoin(F.broadcast(med))
    mad = (with_med
           .agg(F.expr("percentile(abs(CAST(" + value_col
                       + " AS DOUBLE) - __med), 0.5)").alias("__mad"),
                F.first("__med").alias("__med")))
    return (df.crossJoin(F.broadcast(mad))
              .withColumn("is_outlier",
                          F.abs(v - F.col("__med"))
                          > F.lit(float(k)) * F.col("__mad")))


def char_entropy(col: Column) -> Column:
    """Shannon entropy (bits) of the character unigram distribution — a
    perplexity proxy for corpus quality filtering: gibberish / repeated
    padding scores low, natural prose lands ~4 bits for English.

    Pure JVM expressions (split → distinct → per-char count → Σ -p·log₂p
    via ``aggregate``), map-only.  Cost is O(distinct_chars × length) per
    doc — fine for text; for multi-KB docs switch to a grouped count
    (explode + groupBy) if profiling ever shows this expression hot.
    """
    cs = F.filter(F.split(F.lower(col), ""), lambda c: c != "")
    n = F.size(cs)
    p_of = lambda c: F.size(F.filter(cs, lambda x: x == c)) / n  # noqa: E731
    terms = F.transform(F.array_distinct(cs),
                        lambda c: -p_of(c) * F.log2(p_of(c)))
    return F.when(n > 0,
                  F.aggregate(terms, F.lit(0.0), lambda acc, t: acc + t)
                  ).otherwise(F.lit(0.0))


def with_char_entropy(df: DataFrame, text_col: str = "text",
                      out_col: str = "char_entropy") -> DataFrame:
    return df.withColumn(out_col, char_entropy(F.col(text_col)))


# ordered normalization tables — shared by the Column builder and the
# oracle generator so the two can never drift.  Mojibake first (their
# characters would otherwise be touched by the punctuation map), then
# unicode punctuation → ASCII; control strip and whitespace collapse
# are regex classes applied after.
_MOJIBAKE = [("â€™", "'"),    # â€™  (’ through latin-1)
             ("â€œ", '"'),    # â€œ  (“)
             ("â€“", "-"),    # â€“  (–)
             ("â€”", "-"),    # â€”  (—)
             ("Ã©", "e")]          # Ã©   (é)
_PUNCT = [("’", "'"), ("‘", "'"),
          ("“", '"'), ("”", '"'),
          ("–", "-"), ("—", "-"),
          ("…", "..."), (" ", " ")]
_CTRL_RE = "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]"


def normalize_text(col: Column) -> Column:
    """C4/CCNet-style text normalization as ONE pure-Catalyst
    expression chain (no UDF), with semantics chosen to be replayable
    verbatim by any SQL engine (x193):

    1. un-mojibake the frequent UTF-8-decoded-as-Latin-1 sequences
       (â€™ â€œ â€“ â€” Ã©) to their ASCII intents;
    2. map unicode punctuation to ASCII (curly quotes, en/em dash,
       ellipsis, NBSP → space);
    3. strip C0/C1-range control characters;
    4. collapse whitespace runs to single spaces and trim.

    The replace tables are ORDERED module constants (`_MOJIBAKE`,
    `_PUNCT`) shared with the oracle generator.  At 100 TB this is the
    cheap always-on pre-pass of the cleaning stack: map-side, fully
    inside whole-stage codegen, zero shuffles.
    """
    out = col
    for bad, good in _MOJIBAKE + _PUNCT:
        out = F.replace(out, F.lit(bad), F.lit(good))
    out = F.regexp_replace(out, _CTRL_RE, "")
    out = F.regexp_replace(out, r"\s+", " ")
    return F.trim(out)


def normalize_text_oracle_sql(expr: str) -> str:
    """The DuckDB spelling of :func:`normalize_text` over SQL
    expression ``expr`` — generated from the SAME ordered tables."""
    out = expr
    for bad, good in _MOJIBAKE + _PUNCT:
        bq = bad.replace("'", "''")
        gq = good.replace("'", "''")
        out = f"replace({out}, '{bq}', '{gq}')"
    out = (f"regexp_replace({out}, '{_CTRL_RE}', '', 'g')")
    out = f"regexp_replace({out}, '\\s+', ' ', 'g')"
    return f"trim({out})"


def _text_sql_functions() -> dict[str, tuple[str, str, str]]:
    """The text-cleaning pack as SQL function bodies, in the ST_* pack's
    ``name -> (signature, return type, body)`` form:

    - ``normalize_text(s)`` — :func:`normalize_text`, built from the
      SAME ordered replace tables (one source of truth);
    - ``token_count(s)`` — whitespace token count.
    """
    def sql_quote(t: str) -> str:
        return "'" + t.replace("\\", "\\\\").replace("'", "''") + "'"

    body = "s"
    for bad, good in _MOJIBAKE + _PUNCT:
        body = f"replace({body}, {sql_quote(bad)}, {sql_quote(good)})"
    # the control class via \\uXXXX escapes (unescaped by the SQL lexer
    # into the literal chars, so the regex sees a plain char class)
    ctrl = ("'[\\u0000-\\u0008\\u000B\\u000C\\u000E-\\u001F\\u007F]'")
    body = f"regexp_replace({body}, {ctrl}, '')"
    body = f"regexp_replace({body}, '\\\\s+', ' ')"
    return {
        "normalize_text": ("(s STRING)", "STRING", f"trim({body})"),
        "token_count": ("(s STRING)", "INT",
                        "size(filter(split(lower(s), '\\\\s+'), "
                        "t -> t != ''))"),
    }


TEXT_SQL_FUNCTIONS = _text_sql_functions()

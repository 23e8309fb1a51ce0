"""Text analysis operators.  Token semantics assume whitespace
tokenization; inputs are normalized by the main-content stage first.

Most operators are JVM-side expressions (whole-stage codegen, no Python in
the hot path).  The single-pass Gopher outputs — ``repetition_stats``,
``gopher_quality_filter_single_pass`` and ``gopher_quality_filter_full`` —
read one exact numpy signal kernel (``_gopher_signals_arrow``) in one
Arrow stage, then assemble fractions and reasons with Catalyst
expressions.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# disjoint marker-token sets for the n-gram/stopword language heuristic
LANG_MARKERS = {
    "en": ("the", "and", "of", "is", "was"),
    "de": ("der", "das", "und", "ist", "nicht"),
    "fr": ("le", "les", "et", "est", "une"),
    "es": ("el", "los", "que", "es", "una"),
}

_STOPWORDS = ("the", "a", "and", "of", "to", "in", "is")


def _tokens(col: str) -> Column:
    return F.split(F.trim(F.col(col)), r"\s+")


# GPT-2-style pretokenizer, restricted to the Java-regex/RE2 common subset
# (the published pattern's (?!\S) lookahead is not RE2-expressible; dropping
# it only changes how runs of trailing spaces group, deterministically in
# both engines).  Contraction suffixes, ` ?letters`, ` ?digits`,
# ` ?punct-run`, whitespace runs.
PRETOKEN_PATTERN = (r"'s|'t|'re|'ve|'m|'ll|'d"
                    r"| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+")


def token_stats(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Per-doc token counting: whitespace tokens, a BPE-ish subword estimate
    (ceil(chars/4), the published rule-of-thumb for byte-pair vocabularies),
    and ``n_pretokens`` — the GPT-2 pretokenizer match count, the number a
    byte-level BPE starts from (and an upper-quality proxy for billable
    token counts than chars/4 on prose)."""
    toks = _tokens(text_col)
    # counts are BIGINT on purpose: the DuckDB oracle's len()/list_sum yield
    # 64/128-bit ints, and INT-vs-BIGINT diverges under the driver value-hash
    return df.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("n_tokens"),
        F.length(text_col).cast("long").alias("n_chars"),
        F.expr(f"CAST(ceil(length({text_col}) / 4.0) AS BIGINT)").alias("n_subwords_est"),
        F.expr(
            f"aggregate(transform(split(trim({text_col}), '\\\\s+'), x -> length(x)), "
            "CAST(0 AS BIGINT), (acc, x) -> acc + x)").alias("token_chars"),
        F.regexp_count(text_col, F.lit(PRETOKEN_PATTERN)).cast("long")
         .alias("n_pretokens"),
    )


def quality_score(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Document quality signals: length, mean token length, stopword ratio,
    punctuation and alphabetic character ratios (the length/punct/stopword
    family of published quality heuristics).  All exact integer/float
    arithmetic (parity-checkable against SQL)."""
    toks = _tokens(text_col)
    stop_arr = ", ".join(f"'{w}'" for w in _STOPWORDS)
    n_stop = F.expr(
        f"size(filter(split(trim({text_col}), '\\\\s+'), x -> x IN ({stop_arr})))")
    n_tok = F.size(toks)
    n_chars = F.length(text_col)
    n_punct = n_chars - F.length(
        F.regexp_replace(F.col(text_col), r"[!-/:-@\[-`{-~]", ""))
    n_alpha = n_chars - F.length(
        F.regexp_replace(F.col(text_col), r"[A-Za-z]", ""))
    # nullif guards: Spark yields NULL for x/0 but recent DuckDB defaults
    # to IEEE division (NaN), so an empty document would diverge between
    # the engine and the oracle — pin NULL on BOTH sides (review finding)
    n_chars_nz = F.nullif(n_chars, F.lit(0))
    n_tok_nz = F.nullif(n_tok, F.lit(0))
    return df.select(
        F.col(id_col),
        n_tok.alias("n_tokens"),
        (n_chars.cast("double") / n_tok_nz).alias("chars_per_token"),
        (n_stop.cast("double") / n_tok_nz).alias("stopword_ratio"),
        (n_punct.cast("double") / n_chars_nz).alias("punct_ratio"),
        (n_alpha.cast("double") / n_chars_nz).alias("alpha_ratio"),
    )


# script-range shortcuts resolved BEFORE the marker vote (writing system
# identifies the language family outright; the stopword profile only
# separates latin-script languages)
_SCRIPTS = (
    ("ja", "[぀-ヿ]"),              # kana present -> Japanese
    ("ko", "[가-힯]"),              # hangul -> Korean
    ("zh", "[⺀-鿿豈-﫿]"),          # han without kana/hangul -> Chinese
    ("ar", "[؀-ۿ]"),               # Arabic block
    ("ru", "[Ѐ-ӿ]"),               # Cyrillic
)


def lang_id(df: DataFrame, text_col: str = "text",
            id_col: str = "doc_id") -> DataFrame:
    """Language ID: script-range detection for non-latin writing systems,
    then the classic marker-token (stopword-profile) vote for latin-script
    languages.  Deterministic tie-break by fixed language order; zero
    signal -> 'und'.  Pure JVM expressions."""
    cols = [F.col(id_col)]
    votes = {}
    for lang, markers in LANG_MARKERS.items():
        arr = ", ".join(f"'{w}'" for w in markers)
        votes[lang] = F.expr(
            f"size(filter(split(trim({text_col}), '\\\\s+'), x -> x IN ({arr})))")
    best = None
    for lang, pattern in _SCRIPTS:   # script shortcut wins in listed order
        cond = F.col(text_col).rlike(pattern)
        best = F.when(cond, lang) if best is None else best.when(cond, lang)
    for lang in LANG_MARKERS:  # first language with the max vote wins
        cond = (votes[lang] > 0)
        for other in LANG_MARKERS:
            if other != lang:
                op = votes[lang] >= votes[other] if _order(lang) < _order(other) \
                    else votes[lang] > votes[other]
                cond = cond & op
        best = best.when(cond, lang)
    cols.append(best.otherwise("und").alias("lang_pred"))
    return df.select(*cols)


def _order(lang: str) -> int:
    return list(LANG_MARKERS).index(lang)


def fingerprint(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id", prefix_tokens: int = 8) -> DataFrame:
    """Content fingerprint: md5 of the full text plus a prefix-shingle key
    (cheap near-head dedup key).  Pure JVM expressions."""
    toks = _tokens(text_col)
    return df.select(
        F.col(id_col),
        F.md5(F.col(text_col)).alias("text_md5"),
        F.md5(F.concat_ws(" ", F.slice(toks, 1, prefix_tokens))).alias("prefix_md5"),
    )


def repetition_stats(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Within-document repetition signals in the Gopher family (Rae et al.
    2021, §A1.1 repetition filters — published quality heuristics for
    training-data curation):

    * ``n_lines``               — newline-delimited line count;
    * ``dup_line_frac``         — repeated line occurrences / lines
                                  (occurrences beyond each line's first);
    * ``dup_line_char_frac``    — characters in those repeated occurrences
                                  / length(text);
    * ``top_2gram_char_frac``   — characters covered by ALL occurrences of
                                  the most frequent word 2-gram
                                  / length(text) (ties: the longest gram —
                                  any (count, length)-tied gram yields the
                                  same product, so the value is
                                  deterministic);
    * ``dup_5gram_char_frac``   — characters in repeated occurrences of
                                  all duplicated word 5-grams
                                  / length(text).

    Both gram fractions clamp at 1.0: the count x gram-length numerator
    over-counts overlapping repeats (degenerate 'w w w ...' text), and the
    signal is interpreted as a character fraction.  Empty docs yield NULL
    line fractions, while the gram fractions read 1.0 (``least(NULL,
    1.0)``) — a quirk ``REPETITION_ORACLE`` pins.

    Every signal is a within-document statistic, so the plan is ONE
    narrow map stage with no Exchange and no join: the exact integers
    come from the shared Gopher signal kernel (swept to n = 5, the
    largest n read here) and the fractions from Catalyst expressions.
    """
    sig = _gopher_signals_arrow(df, text_col, id_col, extras=False)
    nc = F.nullif(F.col("_nchars").cast("double"), F.lit(0.0))
    line_total = F.col("_nlines")
    return sig.select(
        F.col(id_col),
        F.coalesce(line_total, F.lit(0)).cast("int").alias("n_lines"),
        ((line_total - F.col("_nlines_d")).cast("double")
         / F.nullif(line_total.cast("double"), F.lit(0.0)))
        .alias("dup_line_frac"),
        (F.coalesce("_line_dup_chars", F.lit(0)).cast("double")
         / nc).alias("dup_line_char_frac"),
        F.least(F.coalesce(F.col("_top2_cnt") * F.col("_top2_glen"),
                           F.lit(0)).cast("double") / nc, F.lit(1.0))
        .alias("top_2gram_char_frac"),
        F.least(F.coalesce("_dup5", F.lit(0)).cast("double")
                / nc, F.lit(1.0)).alias("dup_5gram_char_frac"))


def _repetition_stats_relational(df: DataFrame, text_col: str = "text",
                                 id_col: str = "doc_id") -> DataFrame:
    """``repetition_stats``' values through the relational plan: explode
    -> groupBy(id, gram) -> per-doc agg, joined back on the id.  The
    base ``gopher_quality_filter`` composes it; its exchange is on
    (doc_id, gram) with map-side partial aggregation."""
    text = F.col(text_col)
    n_chars = F.length(text)
    base = df.select(
        F.col(id_col), n_chars.alias("n_chars"),
        F.split(text, "\n").alias("lines"),
        _tokens(text_col).alias("w"))

    def _per_group(rows, val_col, out_prefix):
        """(id, group) counts -> per-doc totals + duplicate-occurrence
        sums (count-1 per distinct value beyond its first occurrence)."""
        g = rows.groupBy(id_col, val_col).agg(
            F.count("*").alias("cnt"))
        return g.groupBy(id_col).agg(
            F.sum("cnt").alias(f"{out_prefix}_total"),
            F.sum(F.when(F.col("cnt") > 1,
                         (F.col("cnt") - 1)).otherwise(0))
             .alias(f"{out_prefix}_dup"),
            F.sum(F.when(F.col("cnt") > 1,
                         (F.col("cnt") - 1) * F.length(val_col)).otherwise(0))
             .alias(f"{out_prefix}_dup_chars"))

    lines = base.select(id_col, F.explode("lines").alias("line"))
    line_agg = _per_group(lines, "line", "line")

    g2 = base.select(
        id_col,
        # sequence(1, 0) DESCENDS in Spark, so short docs need the CASE
        # guard (slice with start 0 then errors)
        F.explode(F.expr(
            "CASE WHEN size(w) >= 2 THEN transform(sequence(1, size(w) - 1), "
            "i -> concat_ws(' ', slice(w, i, 2))) "
            "ELSE array() END")).alias("gram"))
    # top 2-gram by (count, length): deterministic under ties, and any
    # (cnt, len)-tied gram yields the SAME cnt*len product — the family's
    # uniform tie rule (ngram_repetition_stats, the signal kernel and
    # every oracle use it), chosen so the hashed-gram exchange never needs
    # the string back
    top2 = (g2.groupBy(id_col, "gram").agg(F.count("*").alias("cnt"))
              .groupBy(id_col)
              .agg(F.max(F.struct(F.col("cnt"),
                                  F.length("gram").alias("glen")))
                   .alias("top"))
              .select(id_col,
                      (F.col("top.cnt") * F.col("top.glen"))
                      .alias("top2_chars")))

    g5 = base.select(
        id_col,
        F.explode(F.expr(
            "CASE WHEN size(w) >= 5 THEN transform(sequence(1, size(w) - 4), "
            "i -> concat_ws(' ', slice(w, i, 5))) "
            "ELSE array() END")).alias("gram"))
    g5_agg = _per_group(g5, "gram", "g5")

    nc = F.nullif(F.col("n_chars").cast("double"), F.lit(0.0))
    return (base.select(id_col, "n_chars")
            .join(line_agg, id_col, "left")
            .join(top2, id_col, "left")
            .join(g5_agg, id_col, "left")
            .select(
                F.col(id_col),
                F.coalesce("line_total", F.lit(0)).cast("int")
                 .alias("n_lines"),
                (F.coalesce("line_dup", F.lit(0)).cast("double")
                 / F.nullif(F.col("line_total").cast("double"), F.lit(0.0)))
                .alias("dup_line_frac"),
                (F.coalesce("line_dup_chars", F.lit(0)).cast("double") / nc)
                .alias("dup_line_char_frac"),
                # count x gram-length over-counts OVERLAPPING repeats
                # (e.g. 'w w w ...'), so the raw estimate can exceed 1 —
                # clamp: the signal reads as "fraction of characters"
                F.least(
                    F.coalesce("top2_chars", F.lit(0)).cast("double") / nc,
                    F.lit(1.0)).alias("top_2gram_char_frac"),
                F.least(
                    F.coalesce("g5_dup_chars", F.lit(0)).cast("double") / nc,
                    F.lit(1.0)).alias("dup_5gram_char_frac")))


# Gopher-family gate thresholds (Rae et al. 2021 §A1.1 quality heuristics;
# constants documented here, tunable per corpus)
GOPHER_THRESHOLDS = {
    "min_words": 50,
    "max_words": 100_000,
    "min_mean_word_len": 3.0,
    "max_mean_word_len": 10.0,
    "max_punct_ratio": 0.25,
    "min_stopword_ratio": 0.01,
    "max_dup_line_frac": 0.30,
    "max_top2gram_char_frac": 0.20,
    "max_dup5gram_char_frac": 0.15,
}


def gopher_quality_filter(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id",
                          thresholds: dict | None = None) -> DataFrame:
    """The curation gate a training-data pipeline actually runs: compose
    token/quality/repetition signals into a keep/drop decision with
    '|'-joined reasons (scalar — canonicalization-safe).

    Joins the three signal operators on ``doc_id`` (each a narrow
    aggregation; the joins co-partition on the id) — at 100 TB this is
    three map-side-combined aggregations plus id-partitioned joins, no
    additional wide operation over the text itself.
    """
    t = thresholds or GOPHER_THRESHOLDS
    ts = token_stats(df, text_col, id_col).select(
        id_col, "n_tokens", "token_chars")
    qs = quality_score(df, text_col, id_col).select(
        id_col, "punct_ratio", "stopword_ratio")
    # the relational repetition plan on purpose: THIS gate's point (and
    # its gate row's) is the join-based plan shape; the one-stage twin is
    # gopher_quality_filter_single_pass
    rs = _repetition_stats_relational(df, text_col, id_col).select(
        id_col, "dup_line_frac", "top_2gram_char_frac",
        "dup_5gram_char_frac")
    j = ts.join(qs, id_col).join(rs, id_col)

    mean_wl = (F.col("token_chars").cast("double")
               / F.nullif(F.col("n_tokens").cast("double"), F.lit(0.0)))
    checks = [
        (F.col("n_tokens") < t["min_words"], "too-few-words"),
        (F.col("n_tokens") > t["max_words"], "too-many-words"),
        (mean_wl < t["min_mean_word_len"], "short-words"),
        (mean_wl > t["max_mean_word_len"], "long-words"),
        (F.col("punct_ratio") > t["max_punct_ratio"], "punct-heavy"),
        (F.col("stopword_ratio") < t["min_stopword_ratio"], "no-stopwords"),
        (F.col("dup_line_frac") > t["max_dup_line_frac"], "dup-lines"),
        (F.col("top_2gram_char_frac") > t["max_top2gram_char_frac"],
         "top-2gram"),
        (F.col("dup_5gram_char_frac") > t["max_dup5gram_char_frac"],
         "dup-5grams"),
    ]
    reasons = F.concat_ws("|", *[
        F.when(cond, F.lit(name)) for cond, name in checks])
    return j.select(
        F.col(id_col),
        (reasons == "").alias("keep"),
        reasons.alias("reasons"))


def gopher_quality_filter_single_pass(
        df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
        thresholds: dict | None = None) -> DataFrame:
    """The same Gopher-family gate as :func:`gopher_quality_filter`, computed
    in ONE narrow map stage — zero shuffle, zero joins.

    The three-frame version exchanges (doc_id, gram) rows; but every signal
    here is a within-document statistic, so nothing actually requires a
    shuffle.  The exact integers come from the shared Gopher signal kernel
    (swept to n = 5), the fractions, thresholds and reason strings from
    the base checks of :func:`gopher_quality_filter_full`.  At 100 TB this
    is a map-only stage that pipelines into the scan.

    Output is row-for-row identical to the relational gate (pytest-pinned
    and driver-gated against the same SQL oracle).
    """
    t = thresholds or GOPHER_THRESHOLDS
    return _gopher_gate(_gopher_signals_arrow(df, text_col, id_col,
                                              extras=False),
                        id_col, _gopher_base_checks(t))


def c4_quality_filter(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id",
                      badwords: tuple[str, ...] = (),
                      min_words_per_line: int = 5,
                      min_sentences: int = 3) -> DataFrame:
    """The C4 cleaning gate (Raffel et al. 2020, §2.2 — public method),
    complementing the Gopher gate: line-level retention (keep only lines
    ending in terminal punctuation — period/!/?/closing quote — with at
    least ``min_words_per_line`` words and no 'javascript'), then
    page-level drops (fewer than ``min_sentences`` sentences after line
    cleaning, 'lorem ipsum', a curly brace, or any token in the caller's
    ``badwords`` set — the paper uses a public blocklist; pass your own).
    The paper's three-sentence-span corpus dedup is the separate
    ``duplicated_spans``/``remove_duplicated_spans`` operator.

    Plan shape: ONE Project over the scan — zero Exchange, zero joins;
    line filtering and sentence counting are higher-order array
    expressions inside whole-stage codegen.

    Returns (doc_id, keep, reasons, n_lines, n_lines_kept, n_sentences,
    text_clean): ``text_clean`` is the retained-line text the paper would
    feed downstream; page-level ``keep`` applies to it.
    """
    t = text_col
    kept = (
        f"filter(split({t}, '\\n'), l -> "
        "trim(l) rlike '[.!?][\"\\u0027\\u201d\\u2019]?$' "
        f"AND size(split(trim(l), '\\\\s+')) >= {min_words_per_line} "
        "AND NOT lower(l) LIKE '%javascript%')"
    )
    clean = f"array_join({kept}, '\\n')"
    n_sent = (f"size(filter(split({clean}, '[.!?]'), "
              "s -> length(trim(s)) > 0))")
    checks = [
        (F.expr(n_sent) < min_sentences, "too-few-sentences"),
        (F.lower(F.col(t)).contains("lorem ipsum"), "lorem-ipsum"),
        (F.col(t).contains("{"), "curly-brace"),
    ]
    if badwords:
        bad_arr = ", ".join(f"'{w.lower()}'" for w in badwords)
        checks.append((F.expr(
            f"exists(split(lower({t}), '\\\\s+'), x -> x IN ({bad_arr}))"),
            "badword"))
    reasons = F.concat_ws("|", *[
        F.when(cond, F.lit(name)) for cond, name in checks])
    return df.select(
        F.col(id_col),
        (reasons == "").alias("keep"),
        reasons.alias("reasons"),
        F.expr(f"size(split({t}, '\\n'))").cast("long").alias("n_lines"),
        F.expr(f"size({kept})").cast("long").alias("n_lines_kept"),
        F.expr(n_sent).cast("long").alias("n_sentences"),
        F.expr(clean).alias("text_clean"))


def ngram_repetition_stats(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id",
                           top_ns: tuple[int, ...] = (2, 3, 4),
                           dup_ns: tuple[int, ...] = (5, 6, 7, 8, 9, 10)
                           ) -> DataFrame:
    """The FULL Gopher n-gram repetition family (Rae et al. 2021 Table A1):
    ``top_{n}gram_char_frac`` for each n in ``top_ns`` (characters covered
    by all occurrences of the most frequent word n-gram / length) and
    ``dup_{n}gram_char_frac`` for each n in ``dup_ns`` (characters in
    repeated occurrences of all duplicated n-grams / length).
    ``repetition_stats`` keeps its original two-signal shape for the
    driver oracle; this is the superset.

    Scale shape: every n shares ONE tagged explode — rows are
    (id, n, gram) structs — so all nine signals ride a single
    (id, n, gram) exchange with map-side partial aggregation plus one
    (id) rollup, instead of len(top_ns)+len(dup_ns) separate wide passes.
    The gram STRING never leaves the scan stage: the exchange and agg
    keys carry (id, n, xxhash64(gram)) with the gram's char length riding
    along — all fractions only need counts and lengths, never the text,
    so rows shrink from up-to-10-word strings to two fixed ints.  A
    cross-gram collision within one (doc, n) needs ~2^32 distinct grams
    in ONE doc to reach even 1e-9.
    Same clamp-at-1.0 contract as ``repetition_stats``; empty docs yield
    NULL fractions here (repetition_stats' gram fractions return 1.0 on
    empty docs via the least(NULL, 1.0) quirk — pinned by its oracle, so
    that operator keeps its shape)."""
    ns = sorted(set(top_ns) | set(dup_ns))
    text = F.col(text_col)
    base = df.select(F.col(id_col), F.length(text).alias("n_chars"),
                     _tokens(text_col).alias("w"))
    arms = ", ".join(
        f"CASE WHEN size(w) >= {n} THEN "
        f"transform(sequence(1, size(w) - {n - 1}), "
        f"i -> struct({n} AS n, xxhash64(concat_ws(' ', slice(w, i, {n})))"
        " AS gh, "
        # gram char length = word lengths + (n-1) separators; computed
        # in-scan so the string is never materialized twice
        f"aggregate(slice(w, i, {n}), {n - 1}, "
        f"(a, x) -> a + length(x)) AS glen)) "
        "ELSE array() END" for n in ns)
    grams = (base.select(
        id_col, F.explode(F.expr(f"flatten(array({arms}))")).alias("t"))
        .select(id_col, F.col("t.n").alias("n"), F.col("t.gh").alias("gh"),
                F.col("t.glen").alias("glen")))
    counts = grams.groupBy(id_col, "n", "gh").agg(
        F.count("*").alias("cnt"), F.first("glen").alias("glen"))
    aggs = []
    for n in top_ns:
        aggs.append(
            F.max(F.when(F.col("n") == n,
                         F.struct(F.col("cnt"), F.col("glen"))))
             .alias(f"_top{n}"))
    for n in dup_ns:
        aggs.append(
            F.sum(F.when((F.col("n") == n) & (F.col("cnt") > 1),
                         (F.col("cnt") - 1) * F.col("glen")).otherwise(0))
             .alias(f"_dup{n}_chars"))
    per_doc = counts.groupBy(id_col).agg(*aggs)
    nc = F.nullif(F.col("n_chars").cast("double"), F.lit(0.0))
    cols = [F.col(id_col)]

    def _clamped(num):
        # least() ignores NULLs (least(NULL, 1.0) = 1.0), so guard: empty
        # docs yield NULL fractions, unlike repetition_stats' 1.0 quirk
        return F.when(nc.isNotNull(), F.least(num / nc, F.lit(1.0)))

    for n in top_ns:
        # ties on cnt break by glen: any (cnt, glen)-tied gram yields the
        # SAME cnt*glen product, so the fraction is deterministic and
        # engine-independent — the oracle mirrors ORDER BY cnt, length
        cols.append(_clamped(
            (F.coalesce(F.col(f"_top{n}.cnt"), F.lit(0))
             * F.coalesce(F.col(f"_top{n}.glen"), F.lit(0)))
            .cast("double")).alias(f"top_{n}gram_char_frac"))
    for n in dup_ns:
        cols.append(_clamped(
            F.coalesce(f"_dup{n}_chars", F.lit(0)).cast("double"))
            .alias(f"dup_{n}gram_char_frac"))
    return (base.select(id_col, "n_chars")
            .join(per_doc, id_col, "left").select(*cols))


# full published repetition thresholds (Rae et al. 2021 Table A1)
GOPHER_THRESHOLDS_FULL = dict(GOPHER_THRESHOLDS, **{
    "max_dup_line_char_frac": 0.20,
    "max_dup_para_frac": 0.30,
    "max_dup_para_char_frac": 0.20,
    "max_top3gram_char_frac": 0.18,
    "max_top4gram_char_frac": 0.16,
    "max_dup6gram_char_frac": 0.14,
    "max_dup7gram_char_frac": 0.13,
    "max_dup8gram_char_frac": 0.12,
    "max_dup9gram_char_frac": 0.11,
    "max_dup10gram_char_frac": 0.10,
})


def gopher_quality_filter_full(df: DataFrame, text_col: str = "text",
                               id_col: str = "doc_id",
                               thresholds: dict | None = None) -> DataFrame:
    """The Gopher gate with the COMPLETE Table-A1 repetition family: the
    base ``gopher_quality_filter`` checks plus dup-line-char, paragraph
    duplicates, top-3/4-gram and dup-6..10-gram fractions.  Reasons merge
    with the base gate's; a doc keeps iff every check passes.

    Every Table-A1 signal is a WITHIN-document statistic, so the plan is
    ONE narrow map stage — zero Exchange, zero joins.  It is split into a
    SIGNAL layer and a JVM ASSEMBLY layer:

    * the signal layer is a vectorized numpy kernel in one mapInPandas
      stage (``_gopher_signals_arrow``), giving exact integer statistics
      per document.  Catalyst's higher-order functions are
      CodegenFallback (interpreted per element): the in-row
      ``array_sort`` + ``aggregate`` walks this replaced cost ~50
      core-seconds at sf0.1 where the kernel does the same integer
      combinatorics in 1.7.  The kernel is EXACT, not probabilistic —
      n-gram identity is dense token-id pairing (two 32-bit ids packed
      into 64 bits, renumbered via np.unique per n), never a lossy hash
      — and reproduces Spark's tokenization semantics (space-only
      ``trim``, the Java whitespace class with kept empty fields,
      codepoint lengths);
    * the assembly layer turns those integers into fractions, threshold
      checks and reason strings with Catalyst expressions, the same
      base checks ``gopher_quality_filter_single_pass`` and
      ``repetition_stats`` read, so every double/NULL comparison runs
      through one expression set.

    Value-pinned against ``gopher_filter_full_oracle`` (the gate's SQL
    oracle and a randomized pytest incl. empty/tab-edge docs)."""
    t = thresholds or GOPHER_THRESHOLDS_FULL
    return _gopher_gate(_gopher_signals_arrow(df, text_col, id_col,
                                              extras=True),
                        id_col,
                        _gopher_base_checks(t) + _gopher_extra_checks(t))


# The n-grams each assembly layer reads, as (top ns, dup ns): the base
# checks (and repetition_stats) read the top 2-gram and the duplicated
# 5-grams; the Table-A1 extras add the top 3/4-grams and the duplicated
# 6..10-grams.  The kernel's n sweep stops at the largest n its caller
# reads.
_BASE_NS = ((2,), (5,))
_FULL_NS = ((2, 3, 4), (5, 6, 7, 8, 9, 10))

# signal-layer columns: the plain per-document statistics, then
# _top{n}_cnt/_top{n}_glen per top n and _dup{n} per dup n, then (extras
# only) the paragraph statistics
_SIG_PLAIN = ("_ntok", "_nchars", "_nstop", "_nkeep", "_tchars",
              "_nlines", "_nlines_d", "_line_dup_chars")
_SIG_PARAS = ("_nparas", "_nparas_d", "_para_dup_chars")


def _gopher_sig_names(extras: bool) -> tuple[str, ...]:
    top_ns, dup_ns = _FULL_NS if extras else _BASE_NS
    return (_SIG_PLAIN
            + tuple(f"_top{n}_{f}" for n in top_ns for f in ("cnt", "glen"))
            + tuple(f"_dup{n}" for n in dup_ns)
            + (_SIG_PARAS if extras else ()))


# exact mirrors of the Spark-side tokenization (pinned empirically and by
# the randomized oracle test):
#   Spark trim()          == str.strip(' ')          (space only)
#   Spark split(_, '\s+') == the Java \s class with ALL empty fields kept
#   Spark length()        == codepoint count == python len()
_GOPHER_WS_RE = re.compile("[ \t\n\x0b\f\r]+")
_GOPHER_PARA_RE = re.compile("\n{2,}")
_GOPHER_PUNCT_RE = re.compile(r"[!-/:-@\[-`{-~]")
_GOPHER_STOPSET = frozenset(_STOPWORDS)


def _gopher_sig_row(text, extras: bool) -> tuple:
    """The signal-layer integers for one document, in
    ``_gopher_sig_names(extras)`` order — exact, vectorized.  On NULL text
    every plain and paragraph statistic is NULL while the gram signals are
    0, as the assembly's NULL semantics expect."""
    import numpy as np
    top_ns, dup_ns = _FULL_NS if extras else _BASE_NS
    if text is None:
        return ((None,) * len(_SIG_PLAIN)
                + (0,) * (2 * len(top_ns) + len(dup_ns))
                + ((None,) * len(_SIG_PARAS) if extras else ()))
    from collections import Counter
    lines = text.split("\n")
    lc = Counter(lines)
    line_dup_chars = sum((c - 1) * len(v) for v, c in lc.items() if c > 1)
    w = _GOPHER_WS_RE.split(text.strip(" "))
    ntok = len(w)
    tchars = 0
    nstop = 0
    tok_ids: dict = {}
    setdefault = tok_ids.setdefault
    id_list = []
    for x in w:
        tchars += len(x)
        if x in _GOPHER_STOPSET:
            nstop += 1
        id_list.append(setdefault(x, len(tok_ids)))
    row = [ntok, len(text), nstop, len(_GOPHER_PUNCT_RE.sub("", text)),
           tchars, len(lines), len(lc), line_dup_chars]

    ids = np.asarray(id_list, dtype=np.uint64)
    lens = np.fromiter((len(x) for x in w), dtype=np.int64, count=ntok)
    glen_ps = np.concatenate(([0], np.cumsum(lens)))
    cur = ids
    tops = {}
    dups = {}
    for n in range(2, min(max(top_ns + dup_ns), ntok) + 1):
        # EXACT n-gram identity: extend each (n-1)-gram id with the next
        # token id — both < 2^32, packed losslessly into one uint64 —
        # then renumber densely.  No hashing, no collisions.
        pair = (cur[: ntok - n + 1] << np.uint64(32)) | ids[n - 1:]
        _uniq, first_idx, inv = np.unique(pair, return_index=True,
                                          return_inverse=True)
        cur = inv.astype(np.uint64)
        glen = glen_ps[n:] - glen_ps[:-n] + (n - 1)
        cnts = np.bincount(inv)
        gl_u = glen[first_idx]
        if n in top_ns:
            k = np.lexsort((gl_u, cnts))[-1]   # max (cnt, glen) — the
            tops[n] = (int(cnts[k]), int(gl_u[k]))  # family tie rule
        elif n in dup_ns:
            mask = cnts > 1
            dups[n] = int(((cnts[mask] - 1) * gl_u[mask]).sum())
    for n in top_ns:
        row += tops.get(n, (0, 0))
    row += [dups.get(n, 0) for n in dup_ns]
    if extras:
        pc = Counter(p for p in
                     (q.strip(" ") for q in _GOPHER_PARA_RE.split(text))
                     if p != "")
        row += [sum(pc.values()), len(pc),
                sum((c - 1) * len(v) for v, c in pc.items() if c > 1)]
    return tuple(row)


def _gopher_signals_arrow(df: DataFrame, text_col: str, id_col: str,
                          extras: bool) -> DataFrame:
    """Signal layer: the numpy kernel in one Arrow stage, no shuffle.
    ``extras`` adds the Table-A1 columns (and sweeps n to 10)."""
    import pandas as pd

    from pyspark.sql import types as T
    names = _gopher_sig_names(extras)
    schema = T.StructType(
        [T.StructField(id_col, df.schema[id_col].dataType, False)]
        + [T.StructField(c, T.LongType(), True) for c in names])

    def kernel(batches):
        for pdf in batches:
            rows = [_gopher_sig_row(x, extras)
                    for x in pdf[text_col].tolist()]
            out = {id_col: pdf[id_col]}
            for i, c in enumerate(names):
                out[c] = [r[i] for r in rows]
            yield pd.DataFrame(out)

    return df.select(id_col, text_col).mapInPandas(kernel, schema=schema)


def _gopher_base_checks(t: dict) -> list:
    """The base gate's nine (condition, reason) checks over the signal
    columns — the literal expression set of the relational gate, so
    every double/NULL comparison is bit-identical to it."""
    n_tok = F.col("_ntok")
    n_chars = F.col("_nchars")
    n_punct = n_chars - F.col("_nkeep")
    n_chars_nz = F.nullif(n_chars, F.lit(0))
    n_tok_nz = F.nullif(n_tok, F.lit(0))
    nc = F.nullif(n_chars.cast("double"), F.lit(0.0))

    punct_ratio = n_punct.cast("double") / n_chars_nz
    stopword_ratio = F.col("_nstop").cast("double") / n_tok_nz
    mean_wl = F.col("_tchars").cast("double") / n_tok_nz.cast("double")
    line_total = F.col("_nlines")
    dup_line_frac = ((line_total - F.col("_nlines_d")).cast("double")
                     / F.nullif(line_total.cast("double"), F.lit(0.0)))
    top2_frac = F.least(
        (F.col("_top2_cnt") * F.col("_top2_glen")).cast("double") / nc,
        F.lit(1.0))
    dup5_frac = F.least(
        F.col("_dup5").cast("double") / nc, F.lit(1.0))
    return [
        (n_tok < t["min_words"], "too-few-words"),
        (n_tok > t["max_words"], "too-many-words"),
        (mean_wl < t["min_mean_word_len"], "short-words"),
        (mean_wl > t["max_mean_word_len"], "long-words"),
        (punct_ratio > t["max_punct_ratio"], "punct-heavy"),
        (stopword_ratio < t["min_stopword_ratio"], "no-stopwords"),
        (dup_line_frac > t["max_dup_line_frac"], "dup-lines"),
        (top2_frac > t["max_top2gram_char_frac"], "top-2gram"),
        (dup5_frac > t["max_dup5gram_char_frac"], "dup-5grams"),
    ]


def _gopher_extra_checks(t: dict) -> list:
    """The Table-A1 extras' (condition, reason) checks — the literal
    expressions of ``gopher_filter_full_oracle``."""
    nc = F.nullif(F.col("_nchars").cast("double"), F.lit(0.0))
    dup_line_char_frac = (
        F.coalesce("_line_dup_chars", F.lit(0)).cast("double") / nc)
    para_total = F.col("_nparas")
    dup_para_frac = ((para_total - F.col("_nparas_d")).cast("double")
                     / F.nullif(para_total.cast("double"), F.lit(0.0)))
    dup_para_char_frac = (
        F.coalesce("_para_dup_chars", F.lit(0)).cast("double") / nc)
    checks = [
        (dup_line_char_frac > t["max_dup_line_char_frac"], "dup-line-chars"),
        (dup_para_frac > t["max_dup_para_frac"], "dup-paras"),
        (dup_para_char_frac > t["max_dup_para_char_frac"], "dup-para-chars"),
    ]
    for n in (3, 4):
        frac = F.when(nc.isNotNull(), F.least(
            (F.coalesce(F.col(f"_top{n}_cnt"), F.lit(0))
             * F.coalesce(F.col(f"_top{n}_glen"), F.lit(0)))
            .cast("double") / nc, F.lit(1.0)))
        checks.append((frac > t[f"max_top{n}gram_char_frac"], f"top-{n}gram"))
    for n in (6, 7, 8, 9, 10):
        frac = F.when(nc.isNotNull(), F.least(
            F.coalesce(F.col(f"_dup{n}"), F.lit(0))
            .cast("double") / nc, F.lit(1.0)))
        checks.append((frac > t[f"max_dup{n}gram_char_frac"], f"dup-{n}grams"))
    return checks


def _gopher_gate(sig: DataFrame, id_col: str, checks: list) -> DataFrame:
    """(id, keep, reasons) from the checks: reasons '|'-join the failed
    checks in order, and a doc keeps iff none failed."""
    reasons = F.concat_ws("|", *[
        F.when(cond, F.lit(name)) for cond, name in checks])
    return (sig.select(F.col(id_col), reasons.alias("reasons"))
            .select(F.col(id_col),
                    (F.col("reasons") == "").alias("keep"),
                    F.col("reasons")))


def paragraph_repetition_stats(df: DataFrame, text_col: str = "text",
                               id_col: str = "doc_id") -> DataFrame:
    """Gopher Table-A1 paragraph-level duplicate signals: paragraphs are
    non-empty segments split on blank lines (2+ newlines);
    ``dup_para_frac`` counts occurrences beyond each paragraph's first /
    total paragraphs, ``dup_para_char_frac`` their characters /
    length(text).  Same relational explode -> (id, para) groupBy shape as
    the line signals in ``repetition_stats`` — the exchange carries
    paragraph hashes' worth of data with map-side partial aggregation,
    never a per-doc quadratic pass.  Empty docs yield NULL fractions."""
    text = F.col(text_col)
    base = df.select(F.col(id_col), F.length(text).alias("n_chars"))
    paras = df.select(
        F.col(id_col),
        F.explode(F.expr(
            f"filter(transform(split({text_col}, '\\n{{2,}}'), "
            "p -> trim(p)), p -> p != '')")).alias("para"))
    agg = (paras.groupBy(id_col, "para").agg(F.count("*").alias("cnt"))
           .groupBy(id_col).agg(
               F.sum("cnt").alias("para_total"),
               F.sum(F.when(F.col("cnt") > 1, F.col("cnt") - 1)
                     .otherwise(0)).alias("para_dup"),
               F.sum(F.when(F.col("cnt") > 1,
                            (F.col("cnt") - 1) * F.length("para"))
                     .otherwise(0)).alias("para_dup_chars")))
    nc = F.nullif(F.col("n_chars").cast("double"), F.lit(0.0))
    return (base.join(agg, id_col, "left").select(
        F.col(id_col),
        F.coalesce("para_total", F.lit(0)).cast("long").alias("n_paras"),
        (F.coalesce("para_dup", F.lit(0)).cast("double")
         / F.nullif(F.col("para_total").cast("double"), F.lit(0.0)))
        .alias("dup_para_frac"),
        (F.coalesce("para_dup_chars", F.lit(0)).cast("double") / nc)
        .alias("dup_para_char_frac")))

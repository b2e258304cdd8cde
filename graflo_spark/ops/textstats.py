"""Text analysis operators: token counting, quality scoring, language ID,
document fingerprinting. All native Column expressions (WSCG-friendly) and
deliberately reproducible in ANSI SQL for oracle checking.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# tiny per-language stopword sets for the n-gram/stopword-hit heuristic
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "was"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den"],
    "fr": ["le", "la", "les", "et", "est", "pas", "pour", "que", "une", "dans"],
    "es": ["el", "la", "los", "de", "que", "y", "es", "en", "un", "por"],
}


def tokens_expr(text: Column) -> Column:
    """Whitespace tokenization as a Column: trim, split on ``\\s+``, drop
    empties (an all-blank text tokenizes to [] — DuckDB's
    ``list_filter(string_split_regex(trim(t), '\\s+'), w -> w <> '')``
    reproduces this exactly). THE shared tokenizer: retrieval, chunking,
    vocabulary stats, and the C4 rules all route through this one
    expression so the cross-engine parity contract lives in one place."""
    return F.filter(
        F.split(F.trim(text), r"\s+"), lambda w: w != F.lit("")
    )


def token_count(text: Column) -> Column:
    """Whitespace token count; empty/blank text counts 0."""
    t = F.trim(text)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(F.size(F.split(t, r"\s+")))


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-ish token estimate: alphanumeric runs + isolated non-space
    punctuation marks (a regex approximation of subword tokenizers). A plain
    match count — stays in the RE2 ∩ Java-regex subset (no lookaround), so a
    SQL oracle reproduces it, and compiles to one codegen'd regexp pass."""
    return F.size(
        F.regexp_extract_all(text, F.lit(r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"), F.lit(0))
    )


def punct_ratio(text: Column) -> Column:
    nonpunct = F.length(F.regexp_replace(text, r"[^\w\s]", ""))
    return (F.length(text) - nonpunct).cast("double") / F.greatest(
        F.length(text), F.lit(1)
    )


def stopword_hits(text: Column, lang: str = "en") -> Column:
    """Count of stopword occurrences (word-boundary matches, lowercased)."""
    words = "|".join(STOPWORDS[lang])
    return F.size(
        F.regexp_extract_all(F.lower(text), F.lit(rf"\b({words})\b"), F.lit(1))
    )


def quality_score(text: Column) -> Column:
    """Composite quality heuristic in [0,1]: length band + low punctuation +
    stopword presence (the usual pre-training quality gates)."""
    n_tokens = token_count(text).cast("double")
    len_ok = F.when((n_tokens >= 5) & (n_tokens <= 100000), 1.0).otherwise(0.0)
    punct_ok = F.when(punct_ratio(text) < 0.3, 1.0).otherwise(0.0)
    stop_ok = F.when(
        stopword_hits(text, "en").cast("double") / F.greatest(n_tokens, F.lit(1.0))
        > 0.01,
        1.0,
    ).otherwise(0.0)
    return (len_ok + punct_ok + stop_ok) / F.lit(3.0)


# The Gopher rule set (Rae et al. 2021, arXiv:2112.11446, Appendix A1.1 —
# published): the de-facto standard pre-training quality gate, reproduced
# rule-for-rule so a corpus filtered here matches a corpus filtered by any
# faithful implementation.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_rules(
    df: "DataFrame",
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    stopwords: tuple = GOPHER_STOPWORDS,
) -> "DataFrame":
    """Per-document Gopher quality rules as BOOLEAN columns plus the
    conjunction ``gopher_pass`` — per-rule visibility is the point (a
    corpus report wants WHICH gate rejects, not just how many), and the
    thresholds are the published ones:

    - ``r_word_count``: word count in [min_words, max_words];
    - ``r_mean_word_len``: mean word length in [3, 10];
    - ``r_symbol_ratio``: < 10% of words are symbol-ish (contain '#' or
      an ellipsis);
    - ``r_bullet_lines``: < 90% of lines start with a bullet marker;
    - ``r_ellipsis_lines``: < 30% of lines end with an ellipsis;
    - ``r_alpha_words``: >= 80% of words contain an alphabetic character;
    - ``r_stopwords``: >= 2 DISTINCT members of ``stopwords`` (default:
      the published 8-word English set; a non-English or domain corpus
      re-fits the list — the rule's premise is "function words of the
      target distribution appear", not those 8 literals).

    Everything is a single-pass Column expression over the word/line
    arrays (no shuffle, no Python); all ratios are exact integer-count
    divisions, so any engine reproduces the booleans bit-for-bit.
    NULL text fails every rule (NULL-safe coalesce to false).
    """
    rules = _gopher_rule_exprs(
        F.col(text_col), min_words, max_words, stopwords)
    out = df.select(F.col(id_col), *[v.alias(k) for k, v in rules.items()])
    passes = None
    for k in rules:
        passes = F.col(k) if passes is None else passes & F.col(k)
    return out.withColumn("gopher_pass", passes)


def gopher_pass_expr(
    text: Column, min_words: int = 50, max_words: int = 100_000,
    stopwords: tuple = GOPHER_STOPWORDS,
) -> Column:
    """The conjunction of all seven Gopher gates as ONE Column expression —
    for fusing into a wider scan pass (the pipeline's quality stage)
    instead of materializing per-rule columns."""
    passes = None
    for c in _gopher_rule_exprs(
            text, min_words, max_words, stopwords).values():
        passes = c if passes is None else passes & c
    return passes


def _gopher_rule_exprs(
    t: Column, min_words: int, max_words: int,
    stopwords: tuple = GOPHER_STOPWORDS,
) -> dict[str, Column]:
    words = F.filter(
        F.split(F.trim(t), r"\s+"), lambda w: w != F.lit(""))
    n_words = F.size(words)
    lines = F.split(t, "\n", -1)
    n_lines = F.size(lines)
    mean_wl = (
        F.aggregate(words, F.lit(0).cast("long"),
                    lambda acc, w: acc + F.length(w)).cast("double")
        / F.greatest(n_words, F.lit(1)).cast("double")
    )
    n_symbolish = F.size(F.filter(
        words,
        lambda w: w.contains("#") | w.contains("...") | w.contains("…"),
    ))
    n_bullet = F.size(F.filter(
        lines,
        lambda ln: F.trim(ln).startswith("-") | F.trim(ln).startswith("*")
        | F.trim(ln).startswith("•"),
    ))
    n_ellipsis_end = F.size(F.filter(
        lines,
        lambda ln: F.trim(ln).endswith("...") | F.trim(ln).endswith("…"),
    ))
    n_alpha = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
    n_stops = F.size(F.array_intersect(
        F.transform(words, F.lower),
        F.array(*[F.lit(s) for s in stopwords]),
    ))

    def _b(c: Column) -> Column:
        return F.coalesce(c, F.lit(False))

    return {
        "r_word_count": _b((n_words >= min_words) & (n_words <= max_words)),
        "r_mean_word_len": _b((mean_wl >= 3.0) & (mean_wl <= 10.0)),
        "r_symbol_ratio": _b(
            n_symbolish.cast("double")
            < F.lit(0.1) * n_words.cast("double")),
        "r_bullet_lines": _b(
            n_bullet.cast("double") < F.lit(0.9) * n_lines.cast("double")),
        "r_ellipsis_lines": _b(
            n_ellipsis_end.cast("double")
            < F.lit(0.3) * n_lines.cast("double")),
        "r_alpha_words": _b(
            n_alpha.cast("double") >= F.lit(0.8) * n_words.cast("double")),
        "r_stopwords": _b(n_stops >= 2),
    }


def gopher_quality_rules_exploded(
    df: "DataFrame",
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    stopwords: tuple = GOPHER_STOPWORDS,
) -> "DataFrame":
    """The explode-formulation A/B twin of :func:`gopher_quality_rules`
    (same output, bit-for-bit — property-tested): posexplode the word and
    line arrays once, compute every per-rule count as a map-side-combinable
    aggregate inside WholeStageCodegen, join the two id-keyed aggregate
    frames. Pays two doc-id shuffles where the array-HOF form pays zero —
    the winnowing trade (ops/textstats.py winnowing docstring): HOF
    lambdas evaluate interpreted per element, and per-element interpreted
    walks lost 10-20x there. Which form wins here is an empirical
    question per corpus shape — ``tools/scale_bench.py --gopher`` measures
    both; keep whichever the measurement says (the r8-verdict A/B)."""
    words = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        F.explode(
            F.filter(F.split(F.trim(F.col(text_col)), r"\s+"),
                     lambda w: w != F.lit(""))).alias("w"))
    wagg = words.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum(F.length("w")).alias("sum_wl"),
        F.sum(F.when(
            F.col("w").contains("#") | F.col("w").contains("...")
            | F.col("w").contains("…"), 1).otherwise(0)).alias("n_symbolish"),
        F.sum(F.when(F.col("w").rlike("[A-Za-z]"), 1).otherwise(0))
        .alias("n_alpha"),
        F.count_distinct(F.when(
            F.lower(F.col("w")).isin(*stopwords), F.lower(F.col("w"))
        )).alias("n_stops"),
    )
    lines = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.col(text_col), "\n", -1)).alias("raw_ln"),
    ).select("id", F.trim("raw_ln").alias("ln"))
    lagg = lines.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.when(
            F.col("ln").startswith("-") | F.col("ln").startswith("*")
            | F.col("ln").startswith("•"), 1).otherwise(0)).alias("n_bullet"),
        F.sum(F.when(
            F.col("ln").endswith("...") | F.col("ln").endswith("…"), 1)
            .otherwise(0)).alias("n_ellipsis_end"),
    )
    # every non-NULL text has >= 1 line; whitespace-only texts have 0 words
    # (the word explode emits nothing) — coalesce restores the HOF form's
    # zero counts, but ONLY for docs that have text (n_lines not null):
    # a NULL-text doc must keep NULL counts so every comparison evaluates
    # NULL and coalesces to false, exactly like the HOF form (0 >= 0.8*0
    # would otherwise pass r_alpha_words for NULL text).
    has_text = F.col("n_lines").isNotNull()

    def _cnt(c: str) -> Column:
        return F.when(has_text, F.coalesce(c, F.lit(0)))

    n_words = _cnt("n_words")
    mean_wl = (_cnt("sum_wl").cast("double")
               / F.greatest(n_words, F.lit(1)).cast("double"))
    n_lines = F.col("n_lines")

    def _b(c: Column) -> Column:
        return F.coalesce(c, F.lit(False))

    out = (
        df.select(F.col(id_col).alias("id"))
        .join(lagg, "id", "left")
        .join(wagg, "id", "left")
    )
    return out.select(
        F.col("id").alias(id_col),
        _b((n_words >= min_words) & (n_words <= max_words))
        .alias("r_word_count"),
        _b((mean_wl >= 3.0) & (mean_wl <= 10.0)).alias("r_mean_word_len"),
        _b(_cnt("n_symbolish").cast("double")
           < F.lit(0.1) * n_words.cast("double")).alias("r_symbol_ratio"),
        _b(F.coalesce("n_bullet", F.lit(0)).cast("double")
           < F.lit(0.9) * n_lines.cast("double")).alias("r_bullet_lines"),
        _b(F.coalesce("n_ellipsis_end", F.lit(0)).cast("double")
           < F.lit(0.3) * n_lines.cast("double")).alias("r_ellipsis_lines"),
        _b(_cnt("n_alpha").cast("double")
           >= F.lit(0.8) * n_words.cast("double")).alias("r_alpha_words"),
        _b(_cnt("n_stops") >= 2).alias("r_stopwords"),
    ).withColumn(
        "gopher_pass",
        F.col("r_word_count") & F.col("r_mean_word_len")
        & F.col("r_symbol_ratio") & F.col("r_bullet_lines")
        & F.col("r_ellipsis_lines") & F.col("r_alpha_words")
        & F.col("r_stopwords"),
    )


def lang_id(text: Column, langs: list[str] | None = None) -> Column:
    """Stopword-hit language ID: argmax over per-language hit counts,
    'und' (undetermined) when nothing matches."""
    langs = langs or list(STOPWORDS)
    best_lang = F.lit("und")
    best_hits = F.lit(0)
    for lg in langs:
        h = stopword_hits(text, lg)
        better = h > best_hits
        best_lang = F.when(better, F.lit(lg)).otherwise(best_lang)
        best_hits = F.when(better, h).otherwise(best_hits)
    return best_lang


def token_repetition_frac(text: Column) -> Column:
    """Fraction of tokens that are repeats of an earlier token:
    ``1 - distinct_tokens / tokens`` — the cheapest of the Gopher-style
    repetition gates (a high value flags boilerplate / keyword-stuffed
    documents). Pure array expression, no shuffle, no UDF."""
    tokens = F.split(F.lower(F.trim(text)), r"\s+")
    n = F.size(tokens)
    return F.when(n <= 0, F.lit(0.0)).otherwise(
        F.lit(1.0) - F.size(F.array_distinct(tokens)).cast("double") / n
    )


def dup_line_frac(text: Column) -> Column:
    """Fraction of non-empty lines that duplicate an earlier line
    (Gopher's duplicate-line filter). Single-line documents score 0."""
    lines = F.filter(
        F.transform(F.split(text, r"\n"), lambda l: F.trim(l)),
        lambda l: F.length(l) > 0,
    )
    n = F.size(lines)
    return F.when(n <= 0, F.lit(0.0)).otherwise(
        F.lit(1.0) - F.size(F.array_distinct(lines)).cast("double") / n
    )


def top_ngram_frac(text: Column, n: int = 2) -> Column:
    """Fraction of a document's word n-grams occupied by its single most
    frequent n-gram (Gopher's top-n-gram filter: a high value means one
    phrase dominates the document). Nested higher-order expression —
    O(distinct_grams x grams) per document, JVM-side; documents are
    bounded, so this stays cheap and never shuffles."""
    from graflo_spark.ops.dedup import word_ngrams

    grams = word_ngrams(F.lower(F.trim(text)), n)
    total = F.size(grams)
    top = F.array_max(
        F.transform(
            F.array_distinct(grams),
            lambda g: F.size(F.filter(grams, lambda x: x == g)),
        )
    )
    return F.when(total <= 0, F.lit(0.0)).otherwise(
        top.cast("double") / total
    )


def fingerprint(text: Column) -> Column:
    """Normalized content fingerprint: sha256 of lowercased,
    whitespace-folded text — the exact-dedup key used by pretraining
    pipelines."""
    return F.sha2(F.lower(F.regexp_replace(F.trim(text), r"\s+", " ")), 256)


def winnowing_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 7,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (the rolling-hash scheme of MOSS):
    hash every k-gram, slide a window of ``window`` consecutive hashes, keep
    each window's min — the distinct mins are the fingerprint set. Guarantees
    any shared run of length >= k + window - 1 produces a shared fingerprint.
    Grams hash with ``md5_bits(g, 15)``, the 60-bit md5 a SQL oracle
    (DuckDB ``('0x'||substr(md5(g),1,15))::BIGINT``) reproduces exactly.

    Shape: explode k-grams -> one hash per gram -> window-min over
    position (one shuffle on doc id) -> distinct. Returns ``(id, fp)``
    rows. A zero-shuffle higher-order-function formulation
    (``transform`` + ``array_min(slice(...))`` + ``array_distinct``) was
    measured against this one at sf0.1 and LOST ~20x (1.7 s -> 37.2 s):
    HOF lambdas evaluate interpreted per element while this path keeps the
    hash and the window-frame min inside generated code — the same
    codegen-beats-HOF result the MinHash signature aggregate measured at
    100x. The shuffle it pays is the cheap part."""
    from pyspark.sql import Window as W

    from graflo_spark.ops.dedup import char_shingles
    from graflo_spark.ops.util import ensure_min_parallelism, md5_bits

    grams = ensure_min_parallelism(df).select(
        F.col(id_col).alias("id"),
        F.posexplode(char_shingles(F.col(text_col), k)).alias("pos", "g"),
    )
    hashed = grams.select("id", "pos", md5_bits("g", 15).alias("h"))
    w = W.partitionBy("id").orderBy("pos").rowsBetween(0, window - 1)
    return (
        hashed.withColumn("fp", F.min("h").over(w))
        .select("id", "fp")
        .distinct()
    )


def text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    t = F.col(text_col)
    return df.withColumns(
        {
            "n_chars_actual": F.length(t),
            "n_tokens": token_count(t),
            "n_tokens_bpe": bpe_ish_token_count(t),
            "punct_ratio": punct_ratio(t),
            "quality": quality_score(t),
            "lang_pred": lang_id(t),
            "fingerprint": fingerprint(t),
        }
    )


def corpus_report(
    df: DataFrame,
    text_col: str = "text",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Corpus report card: per group (default: whole corpus), document and
    token counts, token percentiles, mean quality, NULL-text count, and
    the language histogram — the summary table every curation run logs.
    One aggregate pass; ``percentile_approx`` keeps it a bounded-sketch
    aggregation at any corpus size."""
    t = F.col(text_col)
    toks = token_count(t)
    keys = group_cols or []
    grouped = df.groupBy(*keys) if keys else df.groupBy()
    return grouped.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(t.isNull(), 1).otherwise(0)).alias("n_null_text"),
        F.sum(toks).alias("n_tokens"),
        F.percentile_approx(toks, [0.5, 0.9, 0.99]).alias("tok_p50_p90_p99"),
        F.round(F.avg(quality_score(t)), 6).alias("mean_quality"),
    )


def lang_histogram(
    df: DataFrame, text_col: str = "text", group_cols: list[str] | None = None
) -> DataFrame:
    """Language distribution per group: ``(…group, lang_pred, n_docs)`` —
    a groupBy on the predicted language (one aggregate)."""
    keys = (group_cols or []) + [lang_id(F.col(text_col)).alias("lang_pred")]
    return df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n_docs"))


def model_quality_scores(
    df: DataFrame,
    text_col: str = "text",
    score_col: str = "model_quality",
    scorer=None,
    target_rows_per_batch: int = 512,
) -> DataFrame:
    """Model-based quality scoring seam (same injection pattern as the
    multimodal decode kernels): production gates use a trained classifier
    (fastText/BERT-style) this container doesn't ship, so
    ``scorer(list[str|None]) -> list[float]`` plugs one in — it is pickled
    into the task closure, so pass a module-level callable holding the
    model (or loading it lazily per executor). The default is a
    deterministic length-saturation fake so the Arrow plumbing, batching
    and schema are testable as-is. Runs as bounded ``mapInPandas``
    batches; appends ``score_col`` to the full row."""
    import pandas as pd
    from pyspark.sql import types as T

    fn = scorer if scorer is not None else _fake_quality_scorer
    # fresh StructType: StructType.add MUTATES the instance, and df.schema
    # hands back the DataFrame's cached schema object
    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField(score_col, T.DoubleType())]
    )

    def run(batches):
        for pdf in batches:
            for start in range(0, max(len(pdf), 1), target_rows_per_batch):
                chunk = pdf.iloc[start : start + target_rows_per_batch]
                if not len(chunk):
                    continue
                texts = [None if pd.isna(t) else t for t in chunk[text_col]]
                chunk = chunk.copy()
                chunk[score_col] = fn(texts)
                yield chunk

    return df.mapInPandas(run, schema=out_schema)


def _fake_quality_scorer(texts):
    """Deterministic stand-in classifier: length saturation in [0,1]."""
    return [
        0.0 if t is None else min(len(t), 1000) / 1000.0 for t in texts
    ]


def quality_filter(
    df: DataFrame,
    text_col: str = "text",
    min_quality: float | None = 0.5,
    min_tokens: int | None = None,
    max_tokens: int | None = None,
    max_punct_ratio: float | None = None,
    langs: list[str] | None = None,
) -> DataFrame:
    """Training-data quality gate: keep rows passing every enabled
    predicate (pass ``None`` to disable one). Pure Column expressions, so
    the gate fuses into the scan's whole-stage-codegen filter — dropped
    rows cost one in-memory predicate evaluation and are never shuffled or
    materialized. (The expressions are too complex for parquet
    row-group-level pushdown; column pruning still applies.) NULL texts
    fail every enabled predicate."""
    t = F.col(text_col)
    cond = t.isNotNull()
    if min_quality is not None:
        cond = cond & (quality_score(t) >= F.lit(min_quality))
    if min_tokens is not None:
        cond = cond & (token_count(t) >= F.lit(min_tokens))
    if max_tokens is not None:
        cond = cond & (token_count(t) <= F.lit(max_tokens))
    if max_punct_ratio is not None:
        cond = cond & (punct_ratio(t) <= F.lit(max_punct_ratio))
    if langs is not None:
        cond = cond & lang_id(t).isin(langs)
    return df.filter(cond)


def bigram_entropy(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Token-bigram Shannon entropy per document (nats): the
    distribution-aware repetition signal — boilerplate, keyword stuffing
    and generated loops all collapse the bigram distribution long before
    the unigram ratios (:func:`token_repetition_frac`) notice, while
    natural prose keeps entropy near log(n_bigrams). Returns
    ``(id, n_bigrams, bigram_entropy)``; documents with fewer than two
    tokens emit no row (no distribution to measure).

    Shape: posexplode tokens -> lead() window per doc (the codegen'd
    formulation, per the winnowing A/B) -> one (id, bigram) count
    aggregate -> per-doc entropy via a window total — two hash shuffles,
    no Python, no HOFs in the hot path."""
    from pyspark.sql import Window as W

    from graflo_spark.ops.util import ensure_min_parallelism

    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    exploded = ensure_min_parallelism(df).select(
        F.col(id_col).alias("id"),
        F.posexplode(toks).alias("pos", "tok"),
    )
    w_next = W.partitionBy("id").orderBy("pos")
    bigs = (
        exploded.withColumn("nxt", F.lead("tok").over(w_next))
        .filter(F.col("nxt").isNotNull())
        .select(
            "id",
            F.concat_ws(chr(31), F.col("tok"), F.col("nxt")).alias("bg"),
        )
    )
    counts = bigs.groupBy("id", "bg").agg(F.count(F.lit(1)).alias("c"))
    w_tot = W.partitionBy("id")
    p = F.col("c") / F.sum("c").over(w_tot)
    return (
        counts.withColumn("_plp", -p * F.log(p))
        .groupBy("id")
        .agg(
            F.sum("c").alias("n_bigrams"),
            F.sum("_plp").alias("bigram_entropy"),
        )
    )


def c4_clean_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    min_words_per_line: int = 5,
    terminal_punct: str | None = ".!?\"'",
    line_blocklist: tuple[str, ...] = ("javascript",),
    doc_blocklist: tuple[str, ...] = ("lorem ipsum", "{"),
    min_kept_lines: int = 3,
) -> DataFrame:
    """C4-style page cleaning (Raffel et al. 2020 §2.2): drop lines that
    are too short, don't end in terminal punctuation, or contain a
    blocklisted word; flag whole documents that contain a doc-blocklist
    phrase or keep fewer than ``min_kept_lines`` lines. Rule thresholds
    and word lists are parameters (the Gopher-stop-list precedent: C4's
    published constants target web English; a corpus-fit configuration is
    the same machinery).

    Returns ``(id, text [cleaned], n_lines, n_lines_kept, doc_pass)`` —
    the cleaned text keeps surviving lines in order; callers filter on
    ``doc_pass`` (C4 discards failing pages outright).

    100 TB shape: ONE zero-shuffle map pass — line predicates via array
    HOFs and ``array_join`` reassembly. The Gopher A/B's exploded-codegen
    rewrite deliberately does NOT apply here: cleaning must REBUILD the
    text, which in exploded form costs a corpus-wide groupBy shuffle; the
    interpreted HOF walk is per-doc-bounded and rides the scan.
    ``terminal_punct=None`` disables the punctuation rule (corpora
    without sentence punctuation)."""
    t = F.col(text_col)
    kept, doc_pass = c4_exprs(
        t, min_words_per_line=min_words_per_line,
        terminal_punct=terminal_punct, line_blocklist=line_blocklist,
        doc_blocklist=doc_blocklist, min_kept_lines=min_kept_lines)
    n_kept = F.when(t.isNull(), F.lit(0)).otherwise(F.size(kept))
    return df.select(
        F.col(id_col),
        F.when(t.isNull(), F.lit(None).cast("string"))
        .otherwise(F.array_join(kept, "\n")).alias(text_col),
        F.when(t.isNull(), F.lit(0)).otherwise(
            F.size(F.split(t, "\n", -1))).alias("n_lines"),
        n_kept.alias("n_lines_kept"),
        doc_pass.alias("doc_pass"),
    )


def c4_exprs(
    t: Column,
    *,
    min_words_per_line: int = 5,
    terminal_punct: str | None = ".!?\"'",
    line_blocklist: tuple[str, ...] = ("javascript",),
    doc_blocklist: tuple[str, ...] = ("lorem ipsum", "{"),
    min_kept_lines: int = 3,
) -> tuple[Column, Column]:
    """The C4 rules as raw Column expressions ``(kept_lines_array,
    doc_pass)`` — :func:`c4_clean_lines` packages them per-document; the
    pipeline fuses them into its gate scan (``ops/pipeline.annotate``,
    the gopher_pass_expr pattern)."""
    lines = F.split(t, "\n", -1)

    def line_ok(ln: Column) -> Column:
        ok = F.size(tokens_expr(ln)) >= F.lit(min_words_per_line)
        if terminal_punct is not None:
            last = F.substring(F.rtrim(ln), -1, 1)
            ok = ok & last.isin(list(terminal_punct))
        for w in line_blocklist:
            ok = ok & ~F.lower(ln).contains(w.lower())
        return ok

    kept = F.filter(lines, line_ok)
    blocked = F.lit(False)
    for p in doc_blocklist:
        blocked = blocked | F.lower(t).contains(p.lower())
    n_kept = F.when(t.isNull(), F.lit(0)).otherwise(F.size(kept))
    doc_pass = (t.isNotNull() & ~blocked
                & (n_kept >= F.lit(min_kept_lines)))
    return kept, doc_pass


def top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 100,
) -> DataFrame:
    """Exact top-k corpus terms by occurrence count, with document
    frequency: ``(term, n, n_docs, rank)``, rank ties broken by term. The
    vocabulary-report staple (stop-list fitting, domain drift checks —
    the Gopher stop list and the C4 blocklists are both parameterized on
    exactly this table).

    100 TB shape: one explode -> term-keyed groupBy with map-side combine
    (output is vocabulary-sized, Zipf-concentrated), then
    TakeOrderedAndProject for the top-k — no window over the full term
    table, no driver-side counting."""
    toks = tokens_expr(F.col(text_col))
    exploded = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("__doc"),
        F.explode(toks).alias("term"),
    )
    counts = exploded.groupBy("term").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("__doc").alias("n_docs"),
    )
    top = counts.orderBy(F.col("n").desc(), "term").limit(k)
    w = Window.orderBy(F.col("n").desc(), "term")
    return top.withColumn("rank", F.row_number().over(w))


def collocations(
    df: DataFrame,
    text_col: str = "text",
    k: int = 100,
    min_count: int = 5,
) -> DataFrame:
    """Top-k adjacent-bigram collocations by pointwise mutual information
    (Church & Hanks 1990): ``PMI = ln(n * c(a,b) / (c(a) * c(b)))`` over
    token-position bigrams, ``min_count`` pruning the long noise tail
    (classic PMI blows up on hapax pairs). Returns
    ``(term_a, term_b, n_pair, pmi, rank)``, PMI rounded to 6 (sum-free —
    one log over integer counts — so the rounded value is cross-engine
    deterministic); ties by (term_a, term_b).

    Same scale shape as :func:`top_terms`: the bigram and unigram count
    tables are vocabulary-sized after their map-side-combined groupBys.
    The unigram table joins back TWICE by term, with two guards for real
    vocabularies (a raw crawl's distinct-token count is 1e8-1e9 — typos,
    URLs, base64 — so "vocabulary-sized" is NOT broadcast-sized): the
    unigram side is first semi-join-PRUNED to the terms of min_count
    surviving pairs (Zipf-small after the prune), and no broadcast is
    forced — AQE picks broadcast when the pruned table is actually small
    and a shuffled join when it isn't. Only the one-row corpus total is
    hint-broadcast."""
    toks = tokens_expr(F.col(text_col))
    docs = df.filter(F.col(text_col).isNotNull()).select(
        toks.alias("__toks"))
    pairs = docs.select(F.explode(
        F.zip_with(
            F.slice("__toks", 1, F.greatest(
                F.size("__toks") - 1, F.lit(0))),
            F.slice("__toks", 2, F.greatest(
                F.size("__toks") - 1, F.lit(0))),
            lambda a, b: F.struct(a.alias("a"), b.alias("b")),
        )).alias("p")).select("p.a", "p.b")
    pair_counts = pairs.groupBy("a", "b").agg(
        F.count(F.lit(1)).alias("n_pair"))
    uni = docs.select(F.explode("__toks").alias("t")).groupBy("t").agg(
        F.count(F.lit(1)).alias("n_uni"))
    total = docs.select(
        F.sum(F.size("__toks")).cast("double").alias("n_total"))
    survivors = pair_counts.filter(F.col("n_pair") >= min_count)
    needed = survivors.select(F.col("a").alias("t")).unionByName(
        survivors.select(F.col("b").alias("t"))).distinct()
    uni_p = uni.join(needed, "t", "left_semi")
    scored = (
        survivors
        .join(uni_p.withColumnRenamed("t", "a")
              .withColumnRenamed("n_uni", "na"), "a")
        .join(uni_p.withColumnRenamed("t", "b")
              .withColumnRenamed("n_uni", "nb"), "b")
        .crossJoin(F.broadcast(total))
        .select(
            F.col("a").alias("term_a"), F.col("b").alias("term_b"),
            "n_pair",
            F.round(F.log(
                F.col("n_total") * F.col("n_pair")
                / (F.col("na").cast("double") * F.col("nb"))
            ), 6).alias("pmi"),
        )
    )
    top = scored.orderBy(
        F.col("pmi").desc(), "term_a", "term_b").limit(k)
    w = Window.orderBy(F.col("pmi").desc(), "term_a", "term_b")
    return top.withColumn("rank", F.row_number().over(w))

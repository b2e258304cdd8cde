"""The end-to-end training-data preparation pipeline: one composition of
this package's hygiene/dedup/packing operators in the order production
pretraining pipelines run them —

    URL dedup -> quality gate -> C4 page cleaning -> PII scrub ->
    benchmark decontamination -> exact dedup -> near-dup clustering
    (quality-aware representatives) -> train/val/test split ->
    sequence packing

`annotate` tags every input document with the FIRST stage that drops it
(``drop_stage`` NULL for survivors) instead of filtering eagerly — so one
output answers both "what survived" and "what did each gate cost" (the
funnel report every data-curation run needs). All stage logic is the
already-proven operators; this module only composes them.

Scale shape: the flag stages (quality/PII/decontam) are pure Column
expressions fused into one scan pass; the dedup stages contribute their
own bounded equi-joins (URL/fingerprint hash aggregates, the banded LSH +
connected-components path); nothing here adds a shuffle beyond what the
member operators already pay. The composed plan re-scans the (column-
pruned) corpus once per dedup stage — PLANS.md grades it: 12/13 scans
pushed-filter, dimension joins broadcast, zero Python in the plan. At
100 TB either accept the scans (they are the cheap part next to the LSH
shuffles) or write the column-pruned source to parquet once and call
:func:`annotate` on that copy.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graflo_spark.ops import dedup as dd
from graflo_spark.ops import packing as pk
from graflo_spark.ops import sampling as sp
from graflo_spark.ops import textstats as ts
from graflo_spark.ops.decontam import contamination_flags
from graflo_spark.ops.pii import redact_pii
from graflo_spark.ops.urls import normalize_url


@dataclass
class PipelineConfig:
    id_col: str = "doc_id"
    text_col: str = "text"
    url_col: str | None = None
    min_quality: float = 0.5
    min_tokens: int = 5
    # 13 = the GPT-3-style overlap standard (decontam module default);
    # small test corpora override downward explicitly
    decontam_ngram: int = 13
    decontam_min_overlap: int = 1
    near_dup_threshold: float = 0.7
    # Exact repeated-substring scrub (Lee et al. 2022) over the SURVIVOR
    # corpus before packing: cut every k-token run that occurs >= 2 times,
    # keeping the first occurrence corpus-wide (None = off). Runs after
    # the doc-level dedups — those drop whole near-identical documents;
    # this removes verbatim repetition BETWEEN kept, dissimilar documents
    # (licenses, boilerplate headers) that no similarity threshold pairs.
    dedup_substring_k: int | None = None
    # Gopher rule-set gate (Rae et al. 2021 A1.1, ops/textstats
    # gopher_pass_expr): when on, documents must also pass all seven
    # published gates — charged to their own 'gopher' funnel stage so the
    # report shows which policy (heuristic quality vs Gopher rules) paid.
    gopher_rules: bool = False
    gopher_min_words: int = 50
    # None = the published 8-word English set; a domain/non-English corpus
    # passes its own function-word list (the rule's premise is "target-
    # distribution function words appear", not those 8 literals)
    gopher_stopwords: tuple | None = None
    # C4 page cleaning (Raffel et al. 2020 §2.2, ops/textstats.c4_exprs):
    # when on, pages failing the doc rules (doc blocklist / too few lines
    # survive the line rules) are charged to the 'c4' funnel stage, and
    # SURVIVORS get the line-cleaned text (applied with the PII redaction
    # at the end — dedup fingerprints, like PII, see the original text).
    c4_clean: bool = False
    c4_min_words_per_line: int = 5
    c4_terminal_punct: str | None = ".!?\"'"
    c4_line_blocklist: tuple = ("javascript",)
    c4_doc_blocklist: tuple = ("lorem ipsum", "{")
    c4_min_kept_lines: int = 3
    # Language gate (ops/textstats.lang_id stopword-argmax heuristic):
    # keep only documents whose predicted language is in this list
    # (None = off). Charged to its own 'lang' funnel stage. Include 'und'
    # to keep undetermined docs (symbol-heavy, too short to vote).
    allowed_langs: list[str] | None = None
    # Corpus-wide LINE dedup (C4/Dolma scrub, ops/dedup.dedup_lines) over
    # the survivor corpus before the substring scrub: coarser granularity
    # first (whole boilerplate lines), token spans after. None = off; set
    # to the line delimiter ('\n') to enable.
    dedup_lines_delimiter: str | None = None
    # LM fluency gate: drop documents whose bigram cross-entropy under a
    # reference-slice-trained model exceeds this (nats/bigram; None = off).
    # The classic CCNet perplexity filter, wired into the funnel.
    max_cross_entropy: float | None = None
    lm_train_mod: int = 20
    # Quality-classifier gate (ops/quality_clf, fastText-style hashed-
    # ngram NB): a boolean SQL expression over the docs frame's columns
    # naming the POSITIVE training class (e.g. "lang = 'en'" or
    # "source = 'curated'"); None = off. The model trains in-pipeline on
    # the deterministic ``id % clf_train_mod == 0`` slice (both classes
    # must appear there) and documents scoring below ``clf_min_prob``
    # are charged to the 'clf_quality' funnel stage. Docs the scorer
    # emits no row for (NULL text) pass — the quality stage owns them.
    clf_pos_filter: str | None = None
    clf_min_prob: float = 0.5
    clf_train_mod: int = 5
    clf_n_bins: int = 1024
    splits: dict[str, float] = field(
        default_factory=lambda: {"train": 0.9, "val": 0.05, "test": 0.05}
    )
    chunk_tokens: int = 2048
    lsh_kwargs: dict = field(default_factory=dict)


# funnel order — each document is charged to the FIRST stage that drops it
STAGES = ("url_dup", "quality", "c4", "gopher", "lang", "lm_quality",
          "clf_quality", "decontam", "exact_dup", "near_dup")


def annotate(
    docs: DataFrame, bench: DataFrame | None, cfg: PipelineConfig
) -> DataFrame:
    """Tag every document with ``drop_stage`` (NULL = survivor) and, for
    survivors, the PII-scrubbed ``text`` and its ``split`` assignment.
    Nothing is filtered — ``training_funnel`` aggregates the tags and
    ``survivors`` filters them."""
    id_c, t_c = cfg.id_col, cfg.text_col
    out = docs

    # The quality + decontam FLAGS are computed before the URL stage (the
    # funnel still CHARGES drops in url_dup-first order via the when()
    # precedence at the end) because the URL winner must be picked among
    # docs that survive those later gates — a winner that is itself about
    # to be dropped would take its whole duplicate group down with it, the
    # same annihilation hazard the exact/near-dup stages already guard.

    # quality gate (pure exprs; NULL text always fails)
    t = F.col(t_c)
    quality_ok = (
        t.isNotNull()
        & (ts.quality_score(t) >= cfg.min_quality)
        & (ts.token_count(t) >= cfg.min_tokens)
    )

    # optional C4 page gate — pure exprs, fused into the same scan; the
    # kept-lines array is reused for the survivor text replacement below.
    # NULL text is the quality stage's to charge (c4_ok true on NULL).
    if cfg.c4_clean:
        c4_kept, c4_pass = ts.c4_exprs(
            t, min_words_per_line=cfg.c4_min_words_per_line,
            terminal_punct=cfg.c4_terminal_punct,
            line_blocklist=tuple(cfg.c4_line_blocklist),
            doc_blocklist=tuple(cfg.c4_doc_blocklist),
            min_kept_lines=cfg.c4_min_kept_lines)
        c4_ok = t.isNull() | c4_pass
    else:
        c4_kept, c4_ok = None, F.lit(True)

    # optional Gopher rule-set gate — pure exprs, fused into the same scan
    gopher_kwargs = (
        {"stopwords": tuple(cfg.gopher_stopwords)}
        if cfg.gopher_stopwords is not None else {}
    )
    gopher_ok = (
        ts.gopher_pass_expr(t, min_words=cfg.gopher_min_words,
                            **gopher_kwargs)
        if cfg.gopher_rules else F.lit(True)
    )

    # optional language gate — pure exprs, same scan; NULL text is the
    # quality stage's to charge (lang_id(NULL) -> NULL, coalesce false)
    # 'is not None', not truthiness: an empty list means NO language is
    # allowed (drop everything at the lang stage), only None means off
    lang_ok = (
        F.coalesce(
            ts.lang_id(t).isin([str(x) for x in cfg.allowed_langs]),
            F.lit(False))
        if cfg.allowed_langs is not None else F.lit(True)
    )

    # The lm / clf / decontam branches below each join a derived
    # (id -> value) frame back onto ``out``. Scoring them against
    # ``out``-so-far embedded one full copy of the accumulated plan PER
    # BRANCH (and the training calls EXECUTED that composed plan): with
    # every gate on, the logical tree held ~2^k copies of the docs
    # subtree and Catalyst re-analysis made annotate() construction
    # alone cost ~90 s on a 7-row frame (r15 measurement; guide §3.3
    # "very wide joins of many inputs produce enormous plans"). The
    # branches are functions of the ORIGINAL (id, text[, label cols])
    # only — text is not rewritten until the survivor projection at the
    # end — so they score ``docs`` directly: each branch's plan is one
    # scan + its own work, and the assembled tree stays linear in the
    # number of gates. Output-identical by construction.

    # optional LM fluency gate (CCNet-style): cross-entropy under a model
    # trained on the deterministic reference slice of THIS corpus. Docs
    # too short to score (<2 tokens) pass — the token gate owns them.
    if cfg.max_cross_entropy is not None:
        from graflo_spark.ops.lm import lm_cross_entropy, train_bigram_lm

        nar = docs.select(F.col(id_c), F.col(t_c))
        model = train_bigram_lm(nar, id_c, t_c, train_mod=cfg.lm_train_mod)
        ce = lm_cross_entropy(nar, id_c, t_c, model).select(
            F.col("id").alias(id_c),
            F.col("cross_entropy").alias("__ce"),
        )
        out = out.join(ce, id_c, "left")
        lm_ok = (
            F.col("__ce").isNull()
            | (F.col("__ce") <= F.lit(float(cfg.max_cross_entropy)))
        )
    else:
        lm_ok = F.lit(True)

    # optional quality-classifier gate (fastText-style): trained on the
    # deterministic id-mod slice labeled by cfg.clf_pos_filter — an
    # expression over the INPUT frame's columns — scored over the whole
    # corpus (one Arrow pass / explode + broadcast weight join)
    if cfg.clf_pos_filter is not None:
        from graflo_spark.ops.quality_clf import (
            quality_scores, train_quality_classifier)

        model = train_quality_classifier(
            docs.filter(F.col(id_c) % cfg.clf_train_mod == 0),
            id_c, t_c, F.expr(cfg.clf_pos_filter), n_bins=cfg.clf_n_bins)
        sc = quality_scores(
            docs.select(F.col(id_c), F.col(t_c)), id_c, t_c, model
        ).select(
            F.col("id").alias(id_c), F.col("prob").alias("__clf_prob"))
        out = out.join(sc, id_c, "left")
        clf_ok = (
            F.col("__clf_prob").isNull()
            | (F.col("__clf_prob") >= F.lit(float(cfg.clf_min_prob)))
        )
    else:
        clf_ok = F.lit(True)

    # decontamination — the proven operator, not a re-implementation
    if bench is not None:
        flags = contamination_flags(
            docs.select(F.col(id_c), F.col(t_c)), bench, id_c, t_c,
            ngram_n=cfg.decontam_ngram,
            min_overlap=cfg.decontam_min_overlap,
        )
        out = out.join(
            flags.select(
                F.col("id").alias(id_c),
                F.col("contaminated").alias("__contaminated"),
            ),
            id_c,
            "left",
        ).withColumn(
            "__contaminated", F.coalesce("__contaminated", F.lit(False))
        )
    else:
        out = out.withColumn("__contaminated", F.lit(False))

    # URL dedup: non-minimal id within a canonical-URL group, where the
    # winner is the min-id ELIGIBLE doc (passes quality + decontam) and
    # falls back to plain min-id when the whole group fails — the group's
    # content survives whenever any copy deserves to. Blank canonical keys
    # ('', 'https://', '#frag') are no identity — such rows pass through,
    # matching ops.urls.dedup_by_url.
    if cfg.url_col:
        ukey = normalize_url(F.col(cfg.url_col))
        has_key = ukey.isNotNull() & (ukey != "")
        url_elig = (quality_ok & c4_ok & gopher_ok & lang_ok & lm_ok
                    & clf_ok & ~F.col("__contaminated"))
        winners = (
            out.filter(has_key)
            .withColumn("__ukey", ukey)
            .groupBy("__ukey")
            .agg(
                F.coalesce(
                    F.min(F.when(url_elig, F.col(id_c))), F.min(id_c)
                ).alias(id_c)
            )
            .select(id_c, F.lit(True).alias("__url_keep"))
        )
        out = out.join(winners, id_c, "left").withColumn(
            "__url_dup", has_key & F.col("__url_keep").isNull()
        ).drop("__url_keep")
    else:
        out = out.withColumn("__url_dup", F.lit(False))

    # Dedup winners are computed over PRIOR-STAGE SURVIVORS only: a document
    # already dropped by the URL/quality/decontam gates must not "win" a
    # duplicate group — otherwise its surviving twin gets dropped as a dup
    # of a document that is itself gone, and the content vanishes entirely.
    eligible = out.filter(
        ~F.col("__url_dup") & quality_ok & c4_ok & gopher_ok & lang_ok
        & lm_ok & clf_ok & ~F.col("__contaminated")
    )

    # 4. exact dedup on the normalized content fingerprint (min-id winner)
    fp_winners = (
        eligible.filter(t.isNotNull())
        .groupBy(ts.fingerprint(t).alias("__fp"))
        .agg(F.min(id_c).alias(id_c))
        .select(id_c, F.lit(True).alias("__fp_keep"))
    )
    out = out.join(fp_winners, id_c, "left").withColumn(
        # only eligible docs can LOSE the exact stage; earlier-dropped docs
        # keep their earlier stage via the when() precedence below
        "__exact_dup", t.isNotNull() & F.col("__fp_keep").isNull()
    ).drop("__fp_keep")

    # 5. near-dup clustering with quality-aware representatives — over
    # EXACT-STAGE SURVIVORS only: the exact winner is min-id over the
    # normalized fingerprint, while representatives maximize raw-text
    # quality, and the two can disagree inside one fingerprint group
    # (whitespace variants score differently); feeding both would let the
    # exact loser win the cluster and annihilate the whole group.
    eligible_docs = eligible.join(
        fp_winners.select(id_c), id_c, "left_semi"
    ).select(id_c, t_c)
    clusters = dd.minhash_near_dup_clusters(
        eligible_docs, id_c, t_c,
        threshold=cfg.near_dup_threshold, **cfg.lsh_kwargs
    )
    scores = eligible_docs.select(
        F.col(id_c), ts.quality_score(F.col(t_c)).alias("score")
    )
    reps = dd.select_representatives(clusters, scores, id_col=id_c)
    out = out.join(
        reps.select(id_c, F.col("is_representative").alias("__nd_rep")),
        id_c,
        "left",
    ).withColumn("__nd_rep", F.coalesce("__nd_rep", F.lit(True)))

    drop = (
        F.when(F.col("__url_dup"), "url_dup")
        .when(~quality_ok, "quality")
        .when(~c4_ok, "c4")
        .when(~gopher_ok, "gopher")
        .when(~lang_ok, "lang")
        .when(~lm_ok, "lm_quality")
        .when(~clf_ok, "clf_quality")
        .when(F.col("__contaminated"), "decontam")
        .when(F.col("__exact_dup"), "exact_dup")
        .when(~F.col("__nd_rep"), "near_dup")
    )
    annotated = out.withColumn("drop_stage", drop).drop(
        "__url_dup", "__contaminated", "__exact_dup", "__nd_rep"
    )
    for helper in ("__ce", "__clf_prob"):
        if helper in annotated.columns:
            annotated = annotated.drop(helper)
    survivor_text = (
        redact_pii(F.array_join(c4_kept, "\n"))
        if cfg.c4_clean else redact_pii(t)
    )
    annotated = annotated.withColumn(
        t_c,
        F.when(F.col("drop_stage").isNull(), survivor_text).otherwise(t),
    )
    return sp.hash_split(annotated, id_c, cfg.splits)


def training_funnel(annotated: DataFrame) -> DataFrame:
    """Per-stage drop counts plus the survivor count — the curation
    report. One aggregate over the annotated frame."""
    return (
        annotated.groupBy(
            F.coalesce("drop_stage", F.lit("kept")).alias("stage")
        )
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def survivors(annotated: DataFrame) -> DataFrame:
    return annotated.filter(F.col("drop_stage").isNull()).drop("drop_stage")


def prepare_training_data(
    docs: DataFrame,
    bench: DataFrame | None = None,
    cfg: PipelineConfig | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Full pipeline: returns ``(chunks, annotated, funnel)`` where
    ``chunks`` is the packed (doc, chunk) span table over the scrubbed
    survivors (packed per split so val can never share a sequence with
    train), ``annotated`` carries every input document with its
    ``drop_stage``/``split`` tags, and ``funnel`` is the stage report.

    The annotated frame is materialized via an eager ``localCheckpoint``
    before the fan-out: chunks branch per
    split and the funnel/annotated outputs each trigger their own action,
    and without it every one of them would re-run the whole annotate DAG
    — the LSH band join and representative selection ~5x per run at the
    default 3 splits. A checkpoint rather than a persist (r15): the
    annotate plan with every optional gate on is large enough that each
    downstream TRANSFORMATION (line scrub, substring scrub, packing) paid
    seconds of Catalyst re-analysis over it — a persist caches data but
    not the logical plan; the checkpoint truncates lineage to one
    LogicalRDD (guide §3.3), and measured 142 -> ~35 s on the all-gates
    composition. It also cannot serve stale cross-invocation state: each
    call computes a fresh RDD (no CacheManager plan-matching). Blocks are
    freed when the returned frame is garbage-collected; an explicit
    ``annotated.unpersist()`` frees them immediately but — unlike the
    pre-r15 persist — the frame cannot be re-read afterwards (checkpoints
    truncate lineage), so unpersist only once done with it."""
    cfg = cfg or PipelineConfig()
    annotated = annotate(docs, bench, cfg)
    annotated = annotated.localCheckpoint()
    kept = survivors(annotated)
    if cfg.dedup_lines_delimiter is not None:
        # line scrub before the token-span scrub: whole boilerplate lines
        # first, residual verbatim runs after
        kept = dd.dedup_lines(
            kept, cfg.id_col, cfg.text_col,
            delimiter=cfg.dedup_lines_delimiter)
    if cfg.dedup_substring_k is not None:
        spans = dd.duplicated_substring_spans(
            kept, cfg.id_col, cfg.text_col, k=cfg.dedup_substring_k,
            exclude_first_occurrence=True)
        kept = dd.cut_duplicated_spans(kept, spans, cfg.id_col, cfg.text_col)
    with_tok = kept.select(
        cfg.id_col,
        "split",
        ts.token_count(F.col(cfg.text_col)).alias("__n_tok"),
    )
    # localCheckpoint, not persist: the per-split pack fan-out below
    # re-plans this frame len(splits) times, and with the optional
    # scrub + model-gate stages on, each re-plan carries the whole
    # annotate DAG (lm/clf joins, line + substring scrubs) — the plan
    # itself grows large enough to OOM the driver's codegen at big
    # scale factors. Checkpointing the 3-column frame truncates the
    # lineage (pennies of storage) and runs the scrubs ONCE instead
    # of once per split.
    with_tok = with_tok.localCheckpoint()
    chunk_parts = []
    for name in cfg.splits:
        part = pk.pack_chunks(
            with_tok.filter(F.col("split") == name),
            cfg.id_col,
            "__n_tok",
            cfg.chunk_tokens,
        ).withColumn("split", F.lit(name))
        chunk_parts.append(part)
    chunks = chunk_parts[0]
    for p in chunk_parts[1:]:
        chunks = chunks.unionByName(p)
    return chunks, annotated, training_funnel(annotated)
